package graft.examples

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{HostProbe, Trace}

/** Streaming-twin fixed-cost split (VERDICT r15 #7): the 34 st_ twins
  * cost ~38% of the bench suite, and the question is how much of each
  * twin's wall is HARNESS fixed cost — checkpoint setup, query planning,
  * stream start, per-micro-batch commit + state-store open, stop — vs
  * the operator's actual data work at sf0.1.
  *
  * Method (definitions untouched — this probe measures AROUND them):
  *   1. Floor queries: three MINIMAL streaming lifecycles over a 100-row
  *      corpus, each run through graft.streaming.Twin.memory — the
  *      lifecycle of the registry twins that flush with sentinel waves
  *      (fresh checkpoint, one query drained across its waves, stop) —
  *      but with near-zero data: a stateless file→memory pass-through, a
  *      flatMapGroupsWithState count on the default (HDFS) store, and a
  *      transformWithState count on RocksDB. Their walls ARE the fixed
  *      cost of their operator class; the 1-wave vs 4-wave delta is the
  *      marginal micro-batch (commit + store open/commit) cost.
  *   2. Three representative registry twins run VERBATIM from
  *      SparkEntry.queries at sf0.1 (one GroupState twin, one
  *      RocksDB/transformWithState twin, one windowed-agg twin): wall
  *      minus the matching floor ≈ the operator's data work.
  * Output: one JSON line + target/stream_fixed_cost.json → SCALING §12.
  */
object StreamFixedCostProbe {

  /** One minimal lifecycle through [[graft.streaming.Twin.memory]], the
    * wave twins' lifecycle: read the tiny corpus as a file stream,
    * transform, drain it into the memory sink, then `waves - 1` sentinel
    * appends, each drained by the same running query. Everything a
    * registry twin does, minus the data. */
  private def floorRun(spark: SparkSession, corpus: String, waves: Int,
      shape: String): Unit = {
    import spark.implicits._
    val src = spark.readStream
      .schema("event_id LONG, user_id LONG, us LONG")
      .parquet(corpus)
      .select(col("event_id"), col("user_id"), col("us"),
        timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "0 seconds")
    val out = shape match {
      case "stateless" => src
      case "fmgws_hdfs" =>
        src.as[(Long, Long, Long, java.sql.Timestamp)]
          .groupByKey(_._2)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
            (k: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
             st: org.apache.spark.sql.streaming.GroupState[Long]) => {
              val n = st.getOption.getOrElse(0L) + rows.size
              st.update(n); Iterator.single((k, n))
            }).toDF("user_id", "n")
      case "tws_rocksdb" =>
        graft.streaming.Runner.useRocksDBStateStore(spark)
        graft.streaming.WatermarkFold(
          src.select(col("event_id"), col("user_id"),
            lit("").as("sub"), col("us"), lit(0L).as("c"), col("ts"))
            .as[graft.streaming.WatermarkFold.FoldEv],
          (st, e) => (Array(st.map(_(0)).getOrElse(0L) + 1L),
            Some((e.c, 0L, 0L))))
    }
    // each wave appends one sentinel row (watermark driver, the registry
    // twins' flush discipline) — the marginal wall per wave is the
    // per-wave cost
    val sentinels = (1 until waves).map { i => () =>
      Seq((9999L, -1L, i * 10000000L)).toDF("event_id", "user_id", "us")
        .coalesce(1).write.mode("append").parquet(corpus)
    }
    graft.streaming.Twin.memory(out, s"stream_fixed_$shape",
      waves = sentinels): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val quietBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_WAIT", "600").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id) s")
      .write.format("noop").mode("overwrite").save()

    val trace = Trace()
    def sec(name: String): Double = Trace.median(trace.ms(name)) / 1e3
    val floors = for (shape <- Seq("stateless", "fmgws_hdfs", "tws_rocksdb");
         waves <- Seq(1, 4)) yield {
      HostProbe.waitForQuiet(quietBudget, s"stream-fixed:$shape")
      val name = s"${shape}_w$waves"
      (1 to iters).foreach { _ =>
        // fresh corpus per run — waves mutate it
        val corpus = java.nio.file.Files
          .createTempDirectory("stream_fixed_corpus_").toString + "/d"
        spark.range(100)
          .select(col("id").as("event_id"), (col("id") % 10).as("user_id"),
            (col("id") * 1000000L).as("us"))
          .coalesce(1).write.parquet(corpus)
        trace.span(name)(floorRun(spark, corpus, waves, shape))
      }
      System.err.println(
        f"[stream-fixed] floor $shape%-12s waves=$waves median=${sec(name)}%.2f s")
      name -> sec(name)
    }
    val twins = Seq("st_uv_dedup_stream", "st_ewma_stream",
      "st_visitor_window_stream")
      .filter(graft.SparkEntry.queries.contains)
      .map { name =>
        HostProbe.waitForQuiet(quietBudget, s"stream-fixed:$name")
        (1 to iters).foreach { _ =>
          trace.span(name)(graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save())
        }
        System.err.println(
          f"[stream-fixed] twin $name%-26s median=${sec(name)}%.2f s")
        name -> sec(name)
      }
    Trace.emit(Seq("iters" -> iters, "floors" -> ListMap(floors: _*),
      "twins" -> ListMap(twins: _*)), "target/stream_fixed_cost.json")
    spark.stop()
  }
}
