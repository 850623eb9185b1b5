package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Skewed-key rehearsal for the monitoring-family folds (VERDICT r13 #3):
  * the r13 shape buffered one key's whole batch (`rows.toSeq.sortBy`
  * inside flatMapGroups), so a single hot key owning half the corpus
  * risked task OOM. The r14 batch folds secondary-sort instead
  * (repartition → sortWithinPartitions → mapPartitions streaming fold,
  * O(1) live state per key, sort spills through Spark's external
  * sorter); the streaming twins keep the per-key buffer (the stateful
  * operator guarantees grouping, not secondary order) but now fail LOUDLY
  * past a per-key-per-batch budget instead of OOMing silently.
  *
  * This spec drives the SHIPPED registry queries over a corpus where ONE
  * user holds 50% of all rows (the verdict's rehearsal shape) and gates
  * them against an independent sequential fold computed in plain Scala —
  * the oracle SQL's recursive CTE would be quadratic-ish at this depth,
  * so the reference implementation here is the direct recurrence. The
  * memory story (old shape OOMs in a starved JVM, shipped shape
  * completes) is measured in SCALING §10a; its probe, SkewFoldProbe, is
  * removed; see git ae2cf05.
  */
class SkewFoldSpec extends SparkTestBase {
  import spark.implicits._

  private val N = 40000 // hot user = 20k rows in one key

  /** user 1 holds every even row (50%); the rest spread over 997 users.
    * Timestamps interleave so the hot key sees sub-gap bursts (debounce/
    * ratelimit decisions actually differ) and values cycle so the EWMA
    * moves. Single-file events.parquet, matching the driver layout. */
  private def skewDir(): String = {
    val dir = tmpDir()
    val rows = (1 to N).map { i =>
      val user = if (i % 2 == 0) 1L else 2L + (i % 997)
      // hot key: bursts of 3 events 20s apart, then a 120s jump
      val sec = (i / 4) * 120L + (i % 4) * 20L
      (i.toLong, new java.sql.Timestamp(sec * 1000L), user, "click",
        (i % 1000) / 10.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  /** (event_id, user, us, cents) rows of the staged corpus, the spec's
    * own recomputation (not read back through the queries under test). */
  private def corpus(): Seq[(Long, Long, Long, Long)] =
    (1 to N).map { i =>
      val user = if (i % 2 == 0) 1L else 2L + (i % 997)
      val sec = (i / 4) * 120L + (i % 4) * 20L
      val cents = math.round((i % 1000) / 10.0 * 100.0)
      (i.toLong, user, sec * 1000000L, cents)
    }

  test("a22_ratelimit matches a sequential previous-KEPT fold under 50% key skew") {
    val dir = skewDir()
    val expected = corpus().groupBy(_._2).flatMap { case (_, rows) =>
      var lastKept = Long.MinValue
      rows.sortBy(r => (r._3, r._1)).flatMap { case (id, _, us, _) =>
        if (lastKept == Long.MinValue || us - lastKept >= 60000000L) {
          lastKept = us; Some(id)
        } else None
      }
    }.toSeq.sorted
    val got = Registry.byName("a22_ratelimit").run(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("a24/a26 EWMA match sequential folds under 50% key skew") {
    val dir = skewDir()
    def seqEwma(den: Long): Map[Long, Long] =
      corpus().groupBy(_._2).flatMap { case (_, rows) =>
        var s = Long.MinValue
        rows.sortBy(r => (r._3, r._1)).map { case (id, _, _, c) =>
          s = if (s == Long.MinValue) c else Math.floorDiv(c + (den - 1) * s, den)
          id -> s
        }
      }.toMap
    for ((q, den) <- Seq(("a24_ewma", 2L), ("a26_ewma_alpha8", 8L))) {
      val expected = seqEwma(den)
      val got = Registry.byName(q).run(spark, dir)
        .select("event_id", "ewma_c").as[(Long, Long)].collect().toMap
      assert(got.size === expected.size, q)
      assert(got === expected, q)
    }
  }

  test("a28_cusum matches a sequential two-sided fold under 50% key skew") {
    val dir = skewDir()
    val rows = corpus()
    val tgt = rows.map(_._4).sum / rows.size // non-negative: div == floorDiv
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      var gp = 0L; var gn = 0L
      rs.sortBy(r => (r._3, r._1)).map { case (id, _, _, c) =>
        val (gpRaw, gnRaw, alarm, gpN, gnN) = AggOps.cusumStep(gp, gn, c, tgt)
        gp = gpN; gn = gnN
        id -> ((gpRaw, gnRaw, alarm))
      }
    }.toMap
    val got = Registry.byName("a28_cusum").run(spark, dir)
      .select("event_id", "gp", "gn", "is_alarm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size === expected.size)
    assert(got === expected)
    assert(got.values.exists(_._3 == 1L), "skew corpus must trip alarms")
  }

  test("negative cents fail loudly instead of silently diverging the hash gate") {
    val dir = tmpDir()
    Seq((1L, new java.sql.Timestamp(0L), 1L, "click", -1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val e = intercept[Exception] {
      Registry.byName("a24_ewma").run(spark, dir).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("negative cents")),
      s"unexpected failure: $e")
  }

  test("st_ratelimit_stream (watermark fold) matches the sequential " +
      "previous-KEPT fold under 50% key skew") {
    // the registry twin now runs on the RocksDB reorder buffer
    // (graft.streaming.WatermarkFold) — this drives the 20k-row hot key
    // through it and gates against the same independent sequential fold
    // the batch query is held to
    val dir = skewDir()
    val expected = corpus().groupBy(_._2).flatMap { case (_, rows) =>
      var lastKept = Long.MinValue
      rows.sortBy(r => (r._3, r._1)).flatMap { case (id, _, us, _) =>
        if (lastKept == Long.MinValue || us - lastKept >= 60000000L) {
          lastKept = us; Some(id)
        } else None
      }
    }.toSeq.sorted
    val got = Registry.byName("st_ratelimit_stream").run(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("the remaining heap-buffered fold (scd2) fails loudly past the " +
      "per-key-per-batch budget") {
    val in = s"${tmpDir()}/in"
    (1 to 10).map(i => (i.toLong, 1L, i * 1000000L, i.toLong))
      .toDF("event_id", "user_id", "us", "c")
      .coalesce(1).write.parquet(in)
    val typed = spark.readStream
      .schema("event_id LONG, user_id LONG, us LONG, c LONG")
      .parquet(in)
      .as[StreamingOps.EwEv]
    val out = StreamingOps.scd2Transform(typed, maxKeyBatchRows = 5)
    val q = out.writeStream.format("memory").queryName("skew_budget_out")
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("more than 5 rows in one micro-batch")),
      s"unexpected failure: $e")
  }
}
