package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the semantics split between a20_debounce (previous-EVENT) and
  * a22_ratelimit (previous-KEPT) on a sustained burst — the one input
  * class where they differ. The driver fixtures never produce two
  * consecutive sub-gap arrivals per (user, type) (checked at sf0.01 AND
  * sf0.1: both queries keep identical row sets there), so the DuckDB
  * oracle gate alone proves each query against its own stated rule but
  * cannot prove the two rules apart — this spec is the discriminating
  * gate, driving the SHIPPED registry queries over a synthetic burst.
  *
  * Burst at t = 0, 30, 60, 90, 120 s (gap 60 s):
  *   - previous-EVENT (debounce): every event after the first is within
  *     60 s of its predecessor → keeps {0} only. A noisy client goes
  *     SILENT for the whole burst — correct for duplicate-fire
  *     suppression, wrong for rate limiting.
  *   - previous-KEPT (rate limiter): the reference time only advances on
  *     kept events → keeps {0, 60, 120} — one event per 60 s, the
  *     rate-limiting contract.
  * The streaming twin must agree with the batch fold on the same burst
  * (single-batch arrival, so equality is exact by the documented
  * contract).
  */
class RateLimitSpec extends SparkTestBase {
  import spark.implicits._

  private def burstDir(): String = {
    val dir = tmpDir()
    val rows = Seq(0L, 30L, 60L, 90L, 120L).zipWithIndex.map {
      case (sec, i) =>
        // a day past the epoch: eventTime <= the initial watermark (0) is
        // dropped by Spark's inclusive late filter (see CusumSpec note)
        (i + 1L, new java.sql.Timestamp(86400000L + sec * 1000L), 1L, "click", 1.0, "{}")
    }
    // the testdata ships events.parquet as a single FILE (and Tables.stream's
    // pathGlobFilter matches that layout), so unwrap Spark's directory
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  test("a20 keeps only the burst head; a22 trickles one event per gap") {
    val dir = burstDir()
    val deb = Registry.byName("a20_debounce").run(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    val rate = Registry.byName("a22_ratelimit").run(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(deb === Seq(1L), s"debounce kept $deb")
    assert(rate === Seq(1L, 3L, 5L), s"ratelimit kept $rate")
  }

  test("st_ratelimit_stream agrees with the batch fold on the burst") {
    val dir = burstDir()
    val out = Registry.byName("st_ratelimit_stream").run(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(out === Seq(1L, 3L, 5L), s"stream kept $out")
  }
}
