package graft.streaming.dwm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cep.{KeyedCep, Pattern}

/** DWM bounce detection — UserJumpDetailApp
  * (RT/app/dwm/UserJumpDetailApp.java:77-134): per-mid CEP pattern
  *
  *   begin(entry page: last_page_id empty) NEXT (entry page) WITHIN 10s
  *
  * A match emits the FIRST event (user saw one page then re-entered ⇒
  * bounce). A timeout (no second event within 10s) ALSO emits the pending
  * entry via the timeout side output; both branches are unioned. A
  * non-entry follow-up within 10s kills the match (strict `next`
  * contiguity); a follow-up at exactly +10s comes too late, the timeout
  * fires first.
  *
  * [[pattern]] is that pattern in the generic [[graft.cep]] API, and the
  * one definition of it: the live chain runs it through
  * [[graft.cep.KeyedCep]] with event-time timers (the timeout branch),
  * the warehouse's batch twin and registry query c2 fold it with
  * `Matcher.foldAll`. Expected behavior walkthrough used as the spec:
  * RT/app/dwm/UserJumpDetailAppBak.java:27-43 and the 4-row fixture at
  * UserJumpDetailApp.java:52-60 (mid 101 times out ⇒ bounce; mid 102's two
  * entries match ⇒ bounce; follow-up pages break contiguity).
  */
object Bounce extends Serializable {

  val WindowMs: Long = 10000L

  /** `begin(entry).next(entry).within(10 s)` over events whose time is in
    * µs. Emit the head of every match and of every timeout. */
  def pattern[E](entry: E => Boolean): Pattern[E] =
    Pattern.begin[E]("entry", entry).next("reentry", entry)
      .within(WindowMs * 1000L)

  /** One page of the operator's input; `ts_ts` is the column the
    * watermark is on, which must reach the operator for its timers. */
  case class PageEvent(
      mid: String, ts: Long, lastPageId: String, json: String,
      ts_ts: java.sql.Timestamp)

  /** Input: parsed page-log frame (Schemas.pageLog columns). Output: the
    * bouncing pages, re-serialized as JSON strings in `value`. The
    * watermark trails the pages' event time by [[PageWatermark]]. */
  def detect(pageLog: DataFrame): DataFrame = {
    import pageLog.sparkSession.implicits._
    val pages = pageLog
      .withColumn("_json", to_json(struct(pageLog.columns.map(col): _*)))
      .withColumn("ts_ts", timestamp_millis(col("ts")))
      .withWatermark("ts_ts", PageWatermark)
      .select(col("common.mid").as("mid"), col("ts"),
        coalesce(col("page.last_page_id"), lit("")).as("lastPageId"),
        col("_json").as("json"), col("ts_ts"))
      .as[PageEvent]
    // per-mid ts are unique (the warehouse's precondition), so ts alone
    // orders a mid's pages; a mid holds at most one open run, so sorting
    // the bounces by their entry's ts emits them in event order
    KeyedCep(pages, pattern[PageEvent](_.lastPageId.isEmpty), timers = true)(
      _.mid, _.ts * 1000L) {
      (matches, timeouts) =>
        (matches ++ timeouts).sortBy(_.head.ts).iterator.map(_.head.json)
    }.toDF("value")
  }
}
