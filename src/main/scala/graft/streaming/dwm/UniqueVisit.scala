package graft.streaming.dwm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** DWM UV dedup — UniqueVisitApp (RT/app/dwm/UniqueVisitApp.java:42-78):
  * keep a page record iff it is a session entry (last_page_id empty) AND
  * this mid has not been kept yet today. Per-mid GroupState holds the last
  * kept date. The reference's 24h state TTL is not armed here: state is
  * day-scoped, so correctness never depends on it. The event-time TTL
  * form is `queries.StreamingOps.uvDedupTransform` (a day's state is
  * evicted once the watermark passes its last activity plus the TTL),
  * and [[dedupBuiltin]] lets the watermark evict Spark-managed state.
  */
object UniqueVisit {

  case class MidRow(mid: String, ts: Long, json: String)

  /** Input: parsed page-log frame (Schemas.pageLog columns).
    * Output: the kept records, re-serialized as JSON strings (the
    * reference forwards JSONObject.toJSONString to dwm_unique_visit). */
  def dedup(pageLog: DataFrame): DataFrame = {
    import pageLog.sparkSession.implicits._
    // day buckets follow the SESSION timezone like every other date
    // derivation in the warehouse (stt/edt, to_date) — a hard-coded UTC
    // here would shift UV day boundaries against the rest of the pipeline
    // whenever the session runs in a non-UTC zone
    val zoneId = pageLog.sparkSession.conf.get(
      "spark.sql.session.timeZone", java.time.ZoneId.systemDefault().getId)
    val keyed = pageLog
      // entry pages only (UniqueVisitApp.java:60-66)
      .filter(col("page.last_page_id").isNull || col("page.last_page_id") === "")
      .withColumn("_json", to_json(struct(pageLog.columns.map(col): _*)))
      .select(col("common.mid").as("mid"), col("ts"), col("_json").as("json"))
      .as[MidRow]

    def keep(mid: String, rows: Iterator[MidRow],
             state: GroupState[String]): Iterator[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      rows.toSeq.sortBy(_.ts).foreach { r =>
        val day = java.time.Instant.ofEpochMilli(r.ts)
          .atZone(java.time.ZoneId.of(zoneId)).toLocalDate.toString
        if (!state.getOption.contains(day)) {
          out += r.json
          state.update(day)
        }
      }
      out.iterator
    }

    keyed.groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(keep)
      .toDF("value")
  }

  /** Built-in alternative (SURVEY §2.5 A5): dropDuplicatesWithinWatermark
    * on (mid, day) after the entry-page filter. Same keep-first semantics
    * with Spark-managed state eviction — the watermark plays the
    * reference's 24h TTL role. Prefer this form when no custom per-key
    * logic is needed; the GroupState form above is the template for
    * operators that do. */
  def dedupBuiltin(pageLog: DataFrame,
      watermarkDelay: String = "24 hours"): DataFrame =
    pageLog
      .filter(col("page.last_page_id").isNull || col("page.last_page_id") === "")
      .withColumn("ts_ts", timestamp_millis(col("ts")))
      .withWatermark("ts_ts", watermarkDelay)
      .withColumn("dt", to_date(col("ts_ts")))
      .withColumn("mid", col("common.mid"))
      .dropDuplicatesWithinWatermark("mid", "dt")
      .drop("ts_ts", "dt", "mid")
}
