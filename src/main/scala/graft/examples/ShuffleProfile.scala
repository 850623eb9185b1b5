package graft.examples

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import graft.core.Trace

/** Shuffle-volume accounting for the headline queries — the measured
  * complement to PlanSpec's shape assertions. A plan can have the right
  * operators and still move too many bytes; this profile runs each query
  * under [[graft.core.Trace.tasks]] and reports, per query, in one JSON
  * line keyed by query name (`wall_s`, `shufw_mb`, `shufr_mb`,
  * `peak_task_r_mb`, `skew_bal`):
  *
  *   - total shuffle WRITE bytes (the cross-network cost a 1000-executor
  *     cluster pays — the number that must track the family's measured
  *     scaling law, §2/§6b, for the 100 TB story),
  *   - total shuffle READ bytes (> write when AQE re-reads map output
  *     for skew splitting or a staged frame feeds two consumers),
  *   - the skew balance: largest single-task shuffle read over the mean
  *     across tasks that read any shuffle — a balanced exchange keeps
  *     this near 1-3; a hot key drags it toward the task count.
  *
  * Deliberately NOT reported: `inputMetrics.bytesRead` — on this Spark
  * version it conflates parquet scan bytes with staged-localCheckpoint
  * block re-reads (a staged-heavy query shows 100s of MB of "input" on a
  * 0.6 MB corpus), so any write/input amplification ratio computed from
  * it is fiction in both directions. Corpus-relative readings live in
  * SCALING.md §7g next to the candidate counts measured in §3/§7e.
  *
  * Query set via SPARK_GRAFT_SHUFFLE_QUERIES (comma-separated), default
  * the suite's most expensive family heads.
  */
object ShuffleProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = sys.env.get("SPARK_GRAFT_SHUFFLE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(
        "x_containment_neardup", "x_curation_e2e", "x_prefix_join",
        "x_clone_pairs", "x_winnow_fingerprints", "x_dedup_pipeline",
        "x_ann_ivfpq_rerank", "x_minhash_signature", "x_dedup_components",
        "x_er_fuzzy_match", "x_pack_shelf", "j3_dim_enrichment",
        "a2_product_stats", "x_bm25_topk"))
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    def mb(l: Long): Double = l / 1e6
    val trace = Trace()
    val rows = names.map { n =>
      val (_, t) = Trace.tasks(spark)(trace.span(n)(
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()))
      val bal = if (t.readTasks > 0 && t.shuffleReadBytes > 0)
        t.peakTaskReadBytes.toDouble / (t.shuffleReadBytes.toDouble / t.readTasks)
        else 0.0
      val row = ListMap("wall_s" -> trace.ms(n).last / 1e3,
        "shufw_mb" -> mb(t.shuffleWriteBytes), "shufr_mb" -> mb(t.shuffleReadBytes),
        "peak_task_r_mb" -> mb(t.peakTaskReadBytes), "skew_bal" -> bal)
      System.err.println(s"[shuffle] $n ${Trace.json(row.toSeq)}")
      n -> row
    }
    Trace.emit(rows)
    spark.stop()
  }
}
