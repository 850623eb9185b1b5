package graft.streaming.dwm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** DWM UV dedup — UniqueVisitApp (RT/app/dwm/UniqueVisitApp.java:42-78):
  * keep a page record iff it is a session entry (last_page_id empty) AND
  * this mid has not been kept yet today. One keyed fold,
  * [[firstPerDay]], does the keep-first; the live chain ([[dedup]]) and
  * the registry twin st_uv_dedup_stream both run it. The reference's 24h
  * state TTL (UniqueVisitApp.java:51-54) becomes eviction at the day's
  * end, which needs no TTL constant.
  */
object UniqueVisit {

  /** One candidate row of [[firstPerDay]]: `key` is whose first visit
    * counts, `ts` its event time (the column the caller's watermark is
    * on), `tie` orders rows of equal `ts` within a batch, and `value` is
    * the payload carried through to the output. */
  case class Visit(key: String, ts: java.sql.Timestamp, tie: Long, value: String)

  /** Keeps the first visit per (key, day), where the day is `ts`'s date
    * in the session time zone; rows of one key in one batch are taken in
    * (ts, tie) order. Per-key state is the set of days already kept, each
    * held as its exclusive end (epoch ms). A day is dropped from the state
    * once the watermark reaches its end, by the `EventTimeTimeout` timer
    * (or in any call that sees it), and the key's state goes with its
    * last day. Callers must put a watermark on `ts`.
    *
    * A row behind the watermark never reaches the fold: under
    * `EventTimeTimeout`, Spark's `FlatMapGroupsWithStateExecBase` drops
    * input rows at or behind the late-events watermark, which is the
    * previous batch's eviction watermark. So once a day is evicted, every
    * later row of that day is dropped, not emitted again, and eviction is
    * exact. A row may still reach the fold behind `getCurrentWatermarkMs()`
    * (this batch's eviction watermark, which runs ahead of the late-events
    * one): it is kept or not as usual, and if that watermark has already
    * reached its day's end, the day is evicted in the same call. That gap
    * is also why the timer is clamped above the watermark (the engine
    * rejects a timer behind it).
    */
  def firstPerDay(visits: Dataset[Visit]): Dataset[Visit] = {
    val spark = visits.sparkSession
    import spark.implicits._
    // day buckets follow the SESSION time zone like every other date
    // derivation in the warehouse (stt/edt, to_date)
    val zone = java.time.ZoneId.of(spark.conf.get(
      "spark.sql.session.timeZone", java.time.ZoneId.systemDefault().getId))
    def dayEnd(ts: java.sql.Timestamp): Long =
      ts.toInstant.atZone(zone).toLocalDate.plusDays(1).atStartOfDay(zone)
        .toInstant.toEpochMilli

    def keep(key: String, rows: Iterator[Visit],
        state: GroupState[Seq[Long]]): Iterator[Visit] = {
      var kept = state.getOption.getOrElse(Seq.empty[Long])
      val out = rows.toSeq.sortBy(v => (v.ts.getTime, v.ts.getNanos, v.tie))
        .filter { v =>
          val end = dayEnd(v.ts)
          val first = !kept.contains(end)
          if (first) kept :+= end
          first
        }
      val wm = state.getCurrentWatermarkMs()
      val live = kept.filter(_ > wm)
      if (live.isEmpty) state.remove()
      else {
        state.update(live)
        // the timer fires once the watermark passes end − 1, i.e. reaches
        // the earliest live day's end
        state.setTimeoutTimestamp(math.max(live.min - 1L, wm + 1L))
      }
      out.iterator
    }

    visits.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(keep)
  }

  /** The chain's form. Input: parsed page-log frame (Schemas.pageLog
    * columns). Output: the kept records, re-serialized as JSON strings
    * (the reference forwards JSONObject.toJSONString to
    * dwm_unique_visit). The watermark trails the entry pages' event time
    * by [[PageWatermark]]. */
  def dedup(pageLog: DataFrame): DataFrame = {
    import pageLog.sparkSession.implicits._
    firstPerDay(pageLog
      // entry pages only (UniqueVisitApp.java:60-66)
      .filter(col("page.last_page_id").isNull || col("page.last_page_id") === "")
      .select(col("common.mid").as("key"), timestamp_millis(col("ts")).as("ts"),
        lit(0L).as("tie"), to_json(struct(pageLog.columns.map(col): _*)).as("value"))
      .withWatermark("ts", PageWatermark)
      .as[Visit])
      .select("value")
  }
}
