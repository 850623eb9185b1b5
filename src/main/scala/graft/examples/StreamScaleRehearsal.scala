package graft.examples

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{HostProbe, Tables, Trace}

/** 10× throughput rehearsal for the STREAMING family — the third
  * heavyweight family to get a measured scaling law (§2 pairwise, §6b
  * ANN). StateBoundednessSpec already proves state plateaus under the
  * watermark TTL; the remaining 100-TB question is throughput: does
  * micro-batch cost grow linearly in event volume, or does a stateful
  * operator hide a super-linear term (per-key state open/commit, timer
  * registration, window merge)?
  *
  * Corpus: the sf0.1 events table tiled 10× with SHIFTED user_id /
  * event_id spaces and unchanged event times — "10× the users in the
  * same period", which scales rows AND key cardinality (state size)
  * together, the realistic scale-up for these topologies. A same-keys
  * tile would only deepen per-key queues; a time-stretched tile would
  * not grow concurrent state. Both tiles are written as single files
  * named events.parquet because the file-stream source glob-filters on
  * exactly that name.
  *
  * Queries: the three stateful twins that consume ONLY the events table
  * (uv dedup = flatMapGroupsWithState + TTL timers; visitor window =
  * watermark + tumbling agg; session window = gap-merge state).
  * Measured like graft.Bench (host-quiet + io-floor gates, each waiting
  * at most SPARK_GRAFT_BENCH_QUIET_WAIT s, default 300; a warm-up query
  * first; medians); one JSON line, also written to
  * target/rehearsal/stream_scaling.json.
  */
object StreamScaleRehearsal {

  private val QueryNames = sys.env.get("SPARK_GRAFT_STREAM_REHEARSAL_QUERIES")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq("st_uv_dedup_stream", "st_visitor_window_stream",
      "st_session_window_stream"))

  /** Write `ev` as a SINGLE parquet file at `dir`/events.parquet (the
    * streaming source's pathGlobFilter matches leaf file names). */
  private def writeSingle(ev: DataFrame, dir: String): Unit = {
    val tmp = dir + "_tmp"
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    def listing[T](f: java.util.stream.Stream[java.nio.file.Path] => T): T = {
      val s = Files.list(Paths.get(tmp))
      try f(s) finally s.close()
    }
    val part = listing(_.filter(_.toString.endsWith(".parquet"))
      .findFirst().orElseThrow())
    Files.createDirectories(Paths.get(dir))
    Files.move(part, Paths.get(dir, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    listing(_.forEach(p => Files.deleteIfExists(p): Unit))
    Files.deleteIfExists(Paths.get(tmp)): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_ITERS", "2").toInt
    val quietBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_WAIT", "300").toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // codegen/shuffle warm-up so the 1× tile isn't billed for it
    spark.range(1000000).selectExpr("sum(id) s")
      .write.format("noop").mode("overwrite").save()

    val d1 = "target/rehearsal/stream1x"
    val d10 = "target/rehearsal/stream10x"
    if (!Files.exists(Paths.get(d10, "events.parquet"))) {
      val ev = Tables.load(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val maxE = ev.agg(max("event_id")).head().getLong(0) + 1
      val maxU = ev.agg(max("user_id")).head().getLong(0) + 1
      // the 1× side is REWRITTEN through the same writer so both sides
      // share file layout/compression — a same-format comparison
      writeSingle(ev, d1)
      val tiled = (0 until 10).map { k =>
        ev.select((col("event_id") + lit(k * maxE)).as("event_id"), col("ts"),
          (col("user_id") + lit(k * maxU)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
      writeSingle(tiled, d10)
    }

    val n1 = spark.read.parquet(s"$d1/events.parquet").count()
    val n10 = spark.read.parquet(s"$d10/events.parquet").count()
    val trace = Trace()
    val results = for ((label, dir, n) <- Seq(("x1", d1, n1), ("x10", d10, n10));
         q <- QueryNames) yield {
      HostProbe.waitForQuiet(quietBudget, s"stream-rehearsal:$q")
      HostProbe.waitForIoFloor(25.0, quietBudget, s"stream-rehearsal:$q")
      val key = s"$label.$q"
      val foreign = (1 to iters).map { _ =>
        val pre = HostProbe.cpuSample()
        trace.span(key)(SparkEntry.queries(q)(spark, dir).write.format("noop")
          .mode("overwrite").save())
        HostProbe.otherCores(pre, HostProbe.cpuSample(), trace.ms(key).last / 1e3)
      }.max
      val m = Trace.median(trace.ms(key)) / 1e3
      System.err.println(
        f"[stream-rehearsal] $label $q: $m%.3f s, ${n / m}%.0f rows/s " +
          f"(foreign $foreign%.2f cores)")
      key -> ListMap("median_sec" -> m, "rows_per_sec" -> n / m,
        "others_cores" -> foreign)
    }
    Trace.emit(Seq("iters" -> iters, "rows_x1" -> n1, "rows_x10" -> n10) ++
      results, "target/rehearsal/stream_scaling.json")
    spark.stop()
  }
}
