package graft.examples

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{HostProbe, Trace}
import graft.ext.Similarity

/** Two-level coarse-probe groundwork measurement (VERDICT r15 #6,
  * SCALING §11e's "next two decades" note): at cells ≳ 10⁴ the FLAT
  * coarse scan — every query scored against every cell centroid — stops
  * being noise, especially at production query volume (the per-query
  * cost is Θ(cells); a serving tier pays it per request).
  *
  * Setup: the §11e sfXXL corpus (2M vectors, 64-dim), carved into 10⁴
  * cells with REAL super-structure — 100 k-means-trained coarse cells
  * (the affordable trained layer), each split into 100 content-addressed
  * sub-cells (hash of the id) — the shape a two-level quantizer's
  * inverted lists take at this scale. Measured, flat [[Similarity
  * .ivfTopK]] vs staged [[Similarity.ivfTopKHier]] (⌈√cells⌉ = 100
  * super-centroids built by the driver-side Lloyd's over the collected
  * centroid rows):
  *   - end-to-end wall at query panels of 16 and 1024 (the coarse stage
  *     is per-query work — volume is what exposes it);
  *   - probe-set agreement: the fraction of the flat probe's
  *     (qid, cell) pairs the staged probe also selects, per superProbe;
  *   - recall@5 vs exact brute-force truth for the 16-query panel.
  * Output: one JSON line + target/hier_probe.json → SCALING §12.
  */
object HierProbeRehearsal {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0)
      else "target/ann_rehearsal/sfXXL/embeddings.parquet"
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt)
    val quietBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_WAIT", "600").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val e0 = spark.read.parquet(base)
    // r17: two cell-count shapes — 64 × 64 = 4096 = HierCellsThreshold,
    // the flat side just below the boundary (routing takes the staged
    // probe only at cells > HierCellsThreshold; the `cells4k` key stays
    // for the recorded rows), and the original 10⁴ (100 trained coarse
    // cells × 100 content-addressed sub-cells, the §12d shape)
    // cells100k (316 × 316 ≈ 10⁵, ~20 vectors/cell) anchors the
    // DistCellsThreshold boundary: the driver-side tiers collect 10⁵
    // centroid rows and run an O(cells·g·iters) driver Lloyd's there
    val shapes = Seq(("cells4k", 64, 64), ("cells10k", 100, 100),
      ("cells100k", 316, 316))
    def usedHeapMB(): Long = {
      System.gc()
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) /
        (1024 * 1024)
    }
    val trace = Trace()
    val rows = for ((shapeName, k1, k2) <- shapes) yield {
    val trained = Similarity
      .kmeansAssign(e0, "vec_id", "embedding", k = k1, iters = 3,
        fitFraction = 0.05)
      .withColumnRenamed("id", "vec_id")
      .withColumnRenamed("cluster", "_c1")
    val e = e0.join(trained, Seq("vec_id"))
      .withColumn("cell",
        col("_c1").cast("long") * k2 + pmod(xxhash64(col("vec_id")), lit(k2.toLong)))
      .drop("_c1")
      .persist()
    val n = e.count()
    val nCells = e.select(countDistinct("cell")).as[Long].head()
    System.err.println(s"[hier-probe] shape=$shapeName n=$n cells=$nCells")

    // recall truth for the 16-query panel
    val q16 = e.filter(col("vec_id") < 16)
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", q16, k = 5)
      .select("qid", "cid").cache()
    val exactN = exact.count().toDouble

    def recallOf(df: DataFrame): Double =
      exact.join(df.select("qid", "cid"), Seq("qid", "cid"), "left_semi")
        .count().toDouble / exactN

    val nProbe = 8
    val panels = for (qn <- Seq(16, 1024)) yield {
      val q = e.filter(col("vec_id") < qn)
      // "flat" forces the r16 collect-and-broadcast probe (the baseline;
      // at these cell counts ivfTopK itself now routes to the distributed
      // probe above HierCellsThreshold), "hier_sp8" the driver-side
      // staged variant, "dist_sp8" the routed DISTRIBUTED probe — what
      // ivfTopK actually runs at cells > threshold.
      val variants: Seq[(String, () => DataFrame)] = Seq(
        "flat" -> (() =>
          Similarity.ivfTopKFlat(e, "vec_id", "embedding", "cell", q, k = 5,
            nProbe = nProbe)),
        "hier_sp8" -> (() =>
          Similarity.ivfTopKHier(e, "vec_id", "embedding", "cell", q, k = 5,
            nProbe = nProbe, superProbe = 8)),
        "dist_sp8" -> (() =>
          Similarity.ivfTopKDist(e, "vec_id", "embedding", "cell", q, k = 5,
            nProbe = nProbe, superProbe = 8)))
      // flat's probed set for the agreement metric: re-derive cheaply as
      // the flat result's (qid, cluster-of-cid)… the probe frames are
      // private, so agreement is measured on the RESULT pairs instead:
      // fraction of flat's (qid,cid) top-5 the staged probe reproduces
      val flatRes = variants.head._2().select("qid", "cid").cache()
      val flatN = math.max(1L, flatRes.count()).toDouble
      val measured = for ((name, mk) <- variants) yield {
        HostProbe.waitForQuiet(quietBudget, s"hier-probe:$name")
        val agree =
          if (name == "flat") 1.0
          else flatRes.join(mk().select("qid", "cid"), Seq("qid", "cid"),
            "left_semi").count() / flatN
        val recall = if (qn == 16) recallOf(mk()) else -1.0
        val key = s"$shapeName.q$qn.$name"
        val pre = HostProbe.cpuSample()
        trace.span(key)((1 to iters).foreach { _ =>
          trace.span("run")(mk().write.format("noop").mode("overwrite").save())
        })
        val others = HostProbe.otherCores(pre, HostProbe.cpuSample(),
          trace.ms(key).last / 1e3)
        val med = Trace.median(trace.ms(s"$key.run")) / 1e3
        // VERDICT r16 #3's done-condition: driver heap after the probe —
        // the flat path holds cells × dims doubles (plus the broadcast it
        // built); the dist path's driver state is Θ(√cells + |q|·nProbe)
        val heap = usedHeapMB()
        System.err.println(
          f"[hier-probe] $shapeName q$qn $name%-9s median=$med%.2f s agree=$agree%.3f recall=$recall%.3f foreign=$others%.2f heap=${heap}MB")
        name -> ListMap("median_sec" -> med, "agree_flat" -> agree,
          "recall" -> recall, "others_cores" -> others, "heap_mb" -> heap)
      }
      flatRes.unpersist()
      s"q$qn" -> ListMap(measured: _*)
    }
    exact.unpersist()
    e.unpersist()
    shapeName -> ListMap(Seq("n" -> n, "cells" -> nCells) ++ panels: _*)
    } // shapes
    Trace.emit(("iters" -> iters) +: rows, "target/hier_probe.json")
    spark.stop()
  }
}
