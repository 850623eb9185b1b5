package graft.streaming.dwm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWM payment-wide — PaymentWideApp (RT/app/dwm/PaymentWideApp.java:44-96):
  * payment ⋈ order_wide on order_id with ASYMMETRIC event-time bounds —
  * the order must precede the payment by at most 15 minutes, or follow it
  * by at most 5 seconds (clock skew allowance):
  *
  *   order.ts ∈ [payment.ts − 15 min, payment.ts + 5 s]
  *
  * Same stream-stream join machinery as OrderWide; the asymmetric range
  * makes Spark retain ~15 min of order-side state and ~5 s of payment-side
  * state, exactly what the reference's intervalJoin.between(-15m, +5s)
  * keeps.
  */
object PaymentWide {

  def intervalJoin(payment: DataFrame, orderWide: DataFrame): DataFrame = {
    val p = payment
      .withColumn("p_time", timestamp_millis(col("p_create_ts")))
      .withWatermark("p_time", JoinWatermark)
    val ow = orderWide
      .withColumn("ow_time", timestamp_millis(col("ow_create_ts")))
      .withWatermark("ow_time", JoinWatermark)
    p.join(ow,
      col("p_order_id") === col("ow_order_id") &&
        col("ow_time").between(
          col("p_time") - expr("INTERVAL 15 MINUTES"),
          col("p_time") + expr("INTERVAL 5 SECONDS")))
  }

  /** P11 — bean merge with create_time disambiguation
    * (RT/bean/PaymentWide.java:55-85 renames create_time →
    * payment_create_time / order_create_time). With prefixed columns the
    * rename is a projection. */
  def mergedView(joined: DataFrame): DataFrame = {
    val renames = Map(
      "p_create_time" -> "payment_create_time",
      "ow_create_time" -> "order_create_time")
    joined.select(joined.columns.map(c =>
      col(c).as(renames.getOrElse(c, c))): _*)
  }
}
