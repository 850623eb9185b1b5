package graft.examples

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{HostProbe, Trace}
import graft.ext.Similarity

/** ANN-family 10× scale rehearsal (SCALING.md §6, VERDICT r9 #3): on the
  * gen_ann_rehearsal.py corpora (2k and 20k vectors from one generative
  * process), measure for IVF over k-means cells, IVF-PQ, and JL
  * coarse-rank/exact-rerank:
  *   - recall@5 against the brute-force truth for 16 query vectors, at
  *     FIXED index parameters (8 coarse cells, nProbe 2, m=16×16 PQ,
  *     JL coarseC 40) — does recall hold as the corpus grows 10×?
  *   - recall@5 under the √N parameter-scaling rule (cells ∝ √N with
  *     nProbe scaled to keep the probed fraction, coarseC ∝ √N) — the
  *     rule a production deploy applies when fixed parameters decay;
  *   - median wall over 3 iterations per config, under the same
  *     foreign-CPU quiet gate as Bench.
  * Output: one JSON line + target/ann_rehearsal.json.
  */
object AnnScaleRehearsal {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "target/ann_rehearsal"
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
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id) s")
      .write.format("noop").mode("overwrite").save()

    val trace = Trace()
    // extra args select the size labels (e.g. `sfS sfL sfXL` for the
    // 1×/10×/100× law over gen_ann_rehearsal.py's third decade)
    val sizes = if (args.length > 1) args.drop(1).toSeq else Seq("sfS", "sfL")
    val rows = for (size <- sizes) yield {
      val e = spark.read.parquet(s"$base/$size/embeddings.parquet")
        .cache()
      val n = e.count()
      val q = e.filter(col("vec_id") < 16)
      val exact = Similarity
        .cosineTopK(e, "vec_id", "embedding", q, k = 5)
        .select("qid", "cid").cache()
      val exactN = exact.count().toDouble

      // fixed parameters (the shipped sf0.1 configuration)…
      val cellsFixed = 8
      val probeFixed = 2
      val coarseCFixed = 40
      // …and the √N scaling rule: cells ∝ √N keeps per-cell size ∝ √N,
      // nProbe keeps the probed cell FRACTION, coarseC ∝ √N keeps the
      // rerank candidate budget proportional to per-cell density
      val cellsScaled = math.max(cellsFixed,
        math.round(math.sqrt(n / 2000.0) * cellsFixed).toInt)
      val probeScaled = math.max(probeFixed,
        math.round(cellsScaled * probeFixed.toDouble / cellsFixed).toInt)
      val coarseCScaled = math.max(coarseCFixed,
        math.round(math.sqrt(n / 2000.0) * coarseCFixed).toInt)

      def kmeansClustered(k: Int): DataFrame = {
        val cells = Similarity
          .kmeansAssign(e, "vec_id", "embedding", k = k, iters = 3)
          .withColumnRenamed("id", "vec_id")
        e.join(cells, Seq("vec_id"))
      }

      // the CODED policy (VERDICT r15 #2): cells = ⌈√N⌉, near-constant
      // nProbe. The layout is built ONCE per size OUTSIDE the timed
      // section — the production split the policy encodes (quantizer =
      // ingest artifact; the √N claim is about QUERY wall) — with a
      // sample-fit at large N (the kmeansAssign 100 TB discipline).
      val cellsPolicy = Similarity.policyCells(n)
      lazy val policyLayout = {
        val cells = Similarity.kmeansAssign(e, "vec_id", "embedding",
          k = cellsPolicy, iters = 3,
          fitFraction = math.min(1.0, 100000.0 / n))
          .withColumnRenamed("id", "vec_id")
        val l = e.join(cells, Seq("vec_id")).persist()
        l.count()
        l
      }

      val variants: Seq[(String, () => DataFrame)] = Seq(
        "ivf_policy" -> (() =>
          Similarity.ivfPolicyTopK(policyLayout, "vec_id", "embedding",
            "cluster", q, k = 5, cells = cellsPolicy)),
        "ivf_policy_audit" -> (() =>
          Similarity.ivfPolicyTopK(policyLayout, "vec_id", "embedding",
            "cluster", q, k = 5, cells = cellsPolicy, minRecall = 0.9,
            exactTruth = Some(exact))),
        "ivf_kmeans_fixed" -> (() =>
          Similarity.ivfTopK(kmeansClustered(cellsFixed), "vec_id",
            "embedding", "cluster", q, k = 5, nProbe = probeFixed)),
        "ivf_kmeans_scaled" -> (() =>
          Similarity.ivfTopK(kmeansClustered(cellsScaled), "vec_id",
            "embedding", "cluster", q, k = 5, nProbe = probeScaled)),
        "ivfpq_kmeans_fixed" -> (() => {
          val c = kmeansClustered(cellsFixed)
          Similarity.ivfPqTopK(c, "vec_id", "embedding", "cluster", q,
            k = 5, nProbe = probeFixed, m = 16, ksub = 16)
        }),
        "ivfpq_kmeans_scaled" -> (() => {
          val c = kmeansClustered(cellsScaled)
          Similarity.ivfPqTopK(c, "vec_id", "embedding", "cluster", q,
            k = 5, nProbe = probeScaled, m = 16, ksub = 16)
        }),
        // the §6b prescription for IVF-PQ's fixed-parameter recall decay:
        // ADC as candidate generation (top-coarseC), exact cosine re-rank
        // to top-k. Fixed row must show recall at 20k ≥ the 2k value.
        "ivfpq_rerank_fixed" -> (() => {
          val c = kmeansClustered(cellsFixed)
          Similarity.ivfPqRerankTopK(c, "vec_id", "embedding", "cluster", q,
            k = 5, nProbe = probeFixed, m = 16, ksub = 16,
            coarseC = coarseCFixed)
        }),
        "ivfpq_rerank_scaled" -> (() => {
          val c = kmeansClustered(cellsScaled)
          Similarity.ivfPqRerankTopK(c, "vec_id", "embedding", "cluster", q,
            k = 5, nProbe = probeScaled, m = 16, ksub = 16,
            coarseC = coarseCScaled)
        }),
        "jl_rerank_fixed" -> (() =>
          Similarity.jlRerankTopK(e, "vec_id", "embedding", q,
            dim = 64, kProj = 16, coarseC = coarseCFixed, k = 5)),
        "jl_rerank_scaled" -> (() =>
          Similarity.jlRerankTopK(e, "vec_id", "embedding", q,
            dim = 64, kProj = 16, coarseC = coarseCScaled, k = 5)))

      // ANN_REHEARSAL_ONLY=<substring[,substring…]> narrows the variant
      // set (e.g. "policy" re-measures just the r16 policy rows without
      // re-paying the full §11e matrix at 2M)
      val onlySel = sys.env.get("ANN_REHEARSAL_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      val selected = onlySel match {
        case Some(subs) => variants.filter { case (nm, _) =>
          subs.exists(nm.contains) }
        case None => variants
      }
      val measured = for ((name, mk) <- selected) yield {
        HostProbe.waitForQuiet(quietBudget, s"ann-rehearsal:$name")
        val hits = exact
          .join(mk().select("qid", "cid"), Seq("qid", "cid"), "left_semi")
          .count().toDouble
        val recall = hits / exactN
        val key = s"$size.$name"
        val pre = HostProbe.cpuSample()
        trace.span(key)((1 to iters).foreach { _ =>
          System.gc()
          trace.span("run")(mk().write.format("noop").mode("overwrite").save())
        })
        val others = HostProbe.otherCores(pre, HostProbe.cpuSample(),
          trace.ms(key).last / 1e3)
        val med = Trace.median(trace.ms(s"$key.run")) / 1e3
        System.err.println(f"[ann-rehearsal] $size $name%-20s recall=$recall%.3f median=$med%.3f s (foreign $others%.2f cores)")
        name -> ListMap("recall" -> recall, "median_sec" -> med,
          "others_cores" -> others)
      }
      if (selected.exists(_._1.contains("policy"))) policyLayout.unpersist()
      e.unpersist(); exact.unpersist()
      size -> ListMap(Seq("n" -> n, "cells_scaled" -> cellsScaled,
        "probe_scaled" -> probeScaled, "coarseC_scaled" -> coarseCScaled,
        "cells_policy" -> cellsPolicy) ++ measured: _*)
    }
    Trace.emit(("iters" -> iters) +: rows, "target/ann_rehearsal.json")
    spark.stop()
  }
}
