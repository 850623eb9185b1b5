package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.dwd.BaseLog
import graft.streaming.dwm.{Bounce, UniqueVisit}
import graft.streaming.dws.WindowStats

/** End-to-end demo of the streaming warehouse chain on reference-shaped
  * JSON (FIXTURES.md §A1): ODS log lines → DWD clean/split + is_new repair
  * → DWM UV dedup + bounce detection → DWS visitor window stats.
  *
  * Topology note: the reference decouples layers through Kafka topics —
  * one query per layer, each deriving its own watermark from re-ingested
  * data. Chaining a flatMapGroupsWithState operator directly into a
  * windowed aggregation in ONE query trips Spark's global-watermark
  * correctness check (the CEP timeout emits rows ~10s past their event
  * time, which the downstream agg may consider late). We keep the layer
  * boundary: DWM queries stream into sink tables; the DWS agg reads those
  * tables — same transform code, per-layer watermarking, no hazard.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    def page(mid: String, ts: Long, last: String, isNew: String = "0", dur: Long = 1000) = {
      val lp = if (last == null) "null" else s""""$last""""
      s"""{"common":{"ar":"110000","ch":"web","is_new":"$isNew","mid":"$mid","vc":"v1"},"page":{"during_time":$dur,"last_page_id":$lp,"page_id":"home"},"ts":$ts}"""
    }

    val input = MemoryStream[String]
    val parsed = BaseLog.clean(BaseLog.parse(input.toDF()))

    // DWD → DWM: two streaming queries (one per reference app)
    val uv = UniqueVisit.dedup(parsed)
    val uj = Bounce.detect(parsed)
    val qs = Seq(
      uv.writeStream.format("memory").queryName("uv").outputMode("append").start(),
      uj.writeStream.format("memory").queryName("uj").outputMode("append").start())

    // m1 and m2 both browse past their entry page within 10s → no bounce
    // (strict-next contiguity broken); m3's entry goes unanswered → bounce
    input.addData(
      page("m1", 1000, null, isNew = "1"),
      page("m1", 3000, "home"),
      page("m2", 5000, null), page("m2", 7000, "home"), page("m2", 8000, "detail"))
    qs.foreach(_.processAllAvailable())
    input.addData(page("m3", 600000, null))   // lone entry
    qs.foreach(_.processAllAvailable())
    input.addData(page("m3", 1200000, "home")) // advances watermark → m3 bounces
    qs.foreach(_.processAllAvailable())

    println("=== DWM unique visits (expect m1@1000, m2@5000, m3@600000) ===")
    spark.table("uv").select(get_json_object($"value", "$.common.mid").as("mid"),
      get_json_object($"value", "$.ts").as("ts")).show(false)
    println("=== DWM bounces (expect only m3@600000: m1/m2 browsed on within 10s) ===")
    spark.table("uj").select(get_json_object($"value", "$.common.mid").as("mid"),
      get_json_object($"value", "$.ts").as("ts")).show(false)

    // DWM → DWS: next layer reads the previous layer's sink (like a Kafka
    // topic replay) — identical transform code, own watermark domain.
    def oneHot(src: DataFrame, uvc: Int, ujc: Int): DataFrame = {
      val p = BaseLog.parse(src)
      p.select(col("ts"), col("common.vc").as("vc"), col("common.ch").as("ch"),
        col("common.ar").as("ar"), col("common.is_new").as("is_new"),
        lit(uvc).cast("long").as("uv_ct"), lit(0L).as("pv_ct"),
        lit(0L).as("sv_ct"), lit(ujc).cast("long").as("uj_ct"),
        coalesce(col("page.during_time"), lit(0L)).as("dur_sum"))
    }
    val stats = WindowStats.visitorStats(
      oneHot(spark.table("uv"), 1, 0).unionByName(oneHot(spark.table("uj"), 0, 1)))
    println("=== DWS visitor stats windows (m3's window carries uv=1 AND uj=1) ===")
    stats.orderBy("stt", "is_new").show(false)

    qs.foreach(_.stop())
    spark.stop()
  }
}
