package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables, Trace}
import graft.ext.Similarity

/** Cost breakdown behind the round-10 trainer redesign and the r13
  * x_ann_ivfpq perf flag: times the PQ codebook (iters 3 vs 1 — the
  * difference is the Lloyd refinement rounds), the full-scan pqTopK, the
  * composed ivfPqTopK (coarse probe + PQ; pruning should make it cheaper
  * than the full scan), and the brute-force exact pass both registry
  * queries also pay for their recall gates — twice (cold + warm).
  * Pre-r10 the refinement rounds cost ~3 s of pure per-job latency
  * (broadcast join + corpus-keyed TopK groupBy + second groupBy + two
  * localCheckpoints per round) — the literal-book redesign (one
  * aggregation per round, map-only assignment) is measured here. Each
  * step's wall goes to stderr as it ends; one JSON line of every span's
  * seconds ends the run.
  */
object PqProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val trace = Trace("pqprof")
    for (i <- 1 to 2) {
      trace.span(s"codebook iters=3 #$i") {
        Similarity.pqCodebook(e, "vec_id", "embedding", 16, 16, 3).count() }
      trace.span(s"codebook iters=1 #$i") {
        Similarity.pqCodebook(e, "vec_id", "embedding", 16, 16, 1).count() }
      trace.span(s"pqTopK full #$i") {
        Similarity.pqTopK(e, "vec_id", "embedding", q, 5, 16, 16, 3)
          .write.format("noop").mode("overwrite").save() }
      trace.span(s"ivfPqTopK probe=2 #$i") {
        Similarity.ivfPqTopK(e, "vec_id", "embedding", "label", q, 5, 2,
            16, 16, 3)
          .write.format("noop").mode("overwrite").save() }
      trace.span(s"brute exact #$i") {
        Similarity.cosineTopK(e, "vec_id", "embedding", q, 5)
          .write.format("noop").mode("overwrite").save() }
    }
    Trace.emit(trace.spans.map { case (p, ms) => p -> ms / 1e3 })
    spark.stop()
  }
}
