package graft.streaming.dwm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** DWM bounce detection — UserJumpDetailApp
  * (RT/app/dwm/UserJumpDetailApp.java:77-134): per-mid CEP pattern
  *
  *   start(entry page: last_page_id empty) NEXT next(entry page) WITHIN 10s
  *
  * A match emits the FIRST event (user saw one page then re-entered ⇒
  * bounce). A timeout (no second event within 10s) ALSO emits the pending
  * entry via the timeout side output; both branches are unioned. A
  * non-entry follow-up within 10s kills the match (strict `next`
  * contiguity).
  *
  * Spark has no CEP library; flatMapGroupsWithState with an event-time
  * timeout expresses both branches in one operator:
  *   state = pending entry event; on next event within 10s → emit iff it
  *   is also an entry; on watermark passing pending.ts+10s → emit.
  * Expected behavior walkthrough used as the spec:
  * RT/app/dwm/UserJumpDetailAppBak.java:27-43 and the 4-row fixture at
  * UserJumpDetailApp.java:52-60 (mid 101 times out ⇒ bounce; mid 102's two
  * entries match ⇒ bounce; follow-up pages break contiguity).
  */
object Bounce extends Serializable {

  val WindowMs: Long = 10000L

  case class PageEvent(
      mid: String, ts: Long, lastPageId: String, json: String,
      ts_ts: java.sql.Timestamp) // watermark column must reach the operator
  case class Pending(ts: Long, json: String)

  /** Pure CEP state transition (property-tested in BouncePropSpec):
    * fold time-sorted events of one key over the pending-entry state,
    * returning (bounces emitted, new pending). Used by the streaming
    * operator below; separable so the match/timeout/strict-next algebra
    * is testable without a streaming harness. */
  def advance(pending: Option[Pending],
      sorted: Seq[(Long, Boolean, String)]): (Seq[String], Option[Pending]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var st = pending
    sorted.foreach { case (ts, entry, payload) =>
      st match {
        // strictly inside the window: Flink CEP within(10s) fires the
        // TIMEOUT first at exactly +10s (UserJumpDetailApp.java:89), so a
        // follow-up at ts == p.ts + WindowMs is handled by the next case
        // (pending bounces), not treated as a contiguous follow-up
        case Some(p) if ts - p.ts < WindowMs =>
          if (entry) { out += p.json; st = Some(Pending(ts, payload)) }
          else st = None // strict-next broken by a follow-up page
        case Some(p) => // gap at/beyond window: pending already bounced
          out += p.json
          st = if (entry) Some(Pending(ts, payload)) else None
        case None =>
          if (entry) st = Some(Pending(ts, payload))
      }
    }
    (out.toSeq, st)
  }

  /** Input: parsed page-log frame with an event-time `ts_ts` watermark
    * already applied by the caller (see detect()). Output: bounce records
    * as JSON strings. */
  def detect(pageLog: DataFrame, watermarkDelay: String = "2 seconds"): DataFrame = {
    import pageLog.sparkSession.implicits._
    val keyed = pageLog
      .withColumn("_json", to_json(struct(pageLog.columns.map(col): _*)))
      .withColumn("ts_ts", timestamp_millis(col("ts")))
      .withWatermark("ts_ts", watermarkDelay)
      .select(col("common.mid").as("mid"), col("ts"),
        coalesce(col("page.last_page_id"), lit("")).as("lastPageId"),
        col("_json").as("json"), col("ts_ts"))
      .as[PageEvent]

    def step(mid: String, rows: Iterator[PageEvent],
             state: GroupState[Pending]): Iterator[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      if (state.hasTimedOut) {
        // watermark passed pending.ts + 10s with no follow-up: timeout
        // branch of the CEP pattern (PatternTimeoutFunction analog)
        state.getOption.foreach(p => out += p.json)
        state.remove()
      } else {
        val sorted = rows.toSeq.sortBy(_.ts)
          .map(e => (e.ts, e.lastPageId.isEmpty, e.json))
        val (emitted, next) = advance(state.getOption, sorted)
        out ++= emitted
        next match {
          case Some(p) =>
            state.update(p)
            // arm the event-time timeout for the pending entry, clamped
            // above the watermark: flatMapGroupsWithState drops rows at or
            // behind the late-events watermark (the previous batch's), but
            // this batch's eviction watermark (getCurrentWatermarkMs) runs
            // ahead of it, so an entry already past its window can still
            // arrive here — the clamp fires its timeout in the next batch
            // (Flink's fire-at-watermark-passage semantics) instead of
            // crashing the query on an in-the-past timer
            state.setTimeoutTimestamp(
              math.max(p.ts + WindowMs, state.getCurrentWatermarkMs() + 1L))
          case None => if (state.exists) state.remove()
        }
      }
      out.iterator
    }

    keyed.groupByKey(_.mid)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
      .toDF("value")
  }
}
