package graft.streaming

package object dwm {

  /** The watermark delay of the page stream, shared by the two DWM
    * queries over it ([[UniqueVisit.dedup]], [[Bounce.detect]]). */
  private[streaming] val PageWatermark = "2 seconds"

  /** The watermark delay of every input of the two interval joins
    * ([[OrderWide.intervalJoin]], [[PaymentWide.intervalJoin]]). */
  private[streaming] val JoinWatermark = "5 seconds"
}
