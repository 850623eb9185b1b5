package graft.examples

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{HostProbe, Tables, Trace}
import graft.core.Materialize.StageSyntax
import graft.ext.{Dedup, TextAnalysis}

/** Scale rehearsal for the pairwise-dedup family (VERDICT r8 #7): runs the
  * four heaviest pairwise queries on two corpora drawn from ONE
  * open-vocabulary (Zipf / Heaps-like) generative process at 5k and 50k
  * docs (`tools/gen_scale_rehearsal.py`), and records wall time plus the
  * candidate-volume counters the cost model is built on (Σ df² rare-shingle
  * co-occurrence pairs, Σ df² winnow-fingerprint join rows, Σ bucket² LSH
  * band pairs). If the df/bucket caps bound work the way ARCHITECTURE.md
  * claims, both wall and candidates grow ~linearly in the 10× doc step —
  * the closest local proxy for the 100-TB question.
  *
  * Why not rehearse on a tiled copy of the driver's documents table: that
  * corpus has a CLOSED 31-word vocabulary, so df scales linearly with the
  * corpus and at 10× docs NO shingle stays under the df≤10 cap (measured:
  * 17,116 rare shingles at 5k docs → 0 at 50k) — the blocking, and the
  * rehearsal, would measure nothing. Real text obeys Heaps' law; the
  * generator reproduces that.
  *
  * Measurements are host-quiet-gated exactly like [[graft.Bench]]
  * (other-process CPU, see [[graft.core.HostProbe]]); per-query foreign
  * cores are recorded so a polluted window is identifiable from the
  * artifact. Output: one JSON line, also written to
  * `target/rehearsal/scaling.json`.
  */
object ScaleRehearsal {

  /** Default query set; override with a comma list in
    * SPARK_GRAFT_REHEARSAL_QUERIES to rehearse a newly added pairwise op
    * without re-measuring the whole family. */
  private val QueryNames = sys.env.get("SPARK_GRAFT_REHEARSAL_QUERIES")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq("x_clone_pairs", "x_containment_neardup",
      "x_dedup_pipeline", "x_curation_e2e"))

  /** Candidate-volume counters for one corpus — the quantities the scale
    * claims bound (each mirrors the blocking stage of its query):
    *  - containment: rare (df≤10) 3-shingle co-occurrence pairs;
    *  - clone: Σ d·(d−1)/2 join rows over df≤20 winnow fingerprints;
    *  - lsh: Σ b·(b−1)/2 within-band-bucket pairs (k=8, 2 bands). */
  private def candidateCounters(docs: DataFrame): Seq[(String, Long)] = {
    val sh = Dedup.shingleTokens(docs, "text", "doc_id", 3).staged
    val dfreq = sh.groupBy("word").agg(count(lit(1)).as("d")).staged
    val rare = sh.join(dfreq.filter(col("d") <= 10).select("word"), Seq("word"))
    val containCand = rare.select(col("id").as("a"), col("word"))
      .join(rare.select(col("id").as("b"), col("word")), Seq("word"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
    val cloneJoinRows = TextAnalysis
      .winnowFingerprints(docs, "text", "doc_id", 16, 4)
      .groupBy("fp").agg(count(lit(1)).as("d"))
      .filter(col("d") <= 20)
      .agg(sum(col("d") * (col("d") - 1) / 2).cast("long")).collect()(0)
      .getLong(0)
    val sigs = Dedup.minhashFromTokens(sh, 8)
      .withColumnRenamed("id", "doc_id")
    val lshBucketPairs = Dedup.bandKeys(sigs, "doc_id", 8, 2)
      .groupBy("band").agg(count(lit(1)).as("b"))
      .agg(coalesce(sum(col("b") * (col("b") - 1) / 2), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    // ER blocking, both keys over the same derived titles:
    //  - er_block_pairs: Σ b·(b−1)/2 over FIRST-WORD blocks (the
    //    oracle-gated x_er_fuzzy_match key — Zipf-headed, expected
    //    quadratic);
    //  - er_rare_pairs: Σ df·(df−1)/2 over df≤20 title words (the
    //    jaroWinklerPairsRareToken key — the df-capped 100-TB shape).
    val titles = erTitles(docs)
    val erBlockPairs = titles
      .select(element_at(filter(split(col("title"), " "),
        w => length(w) > 0), 1).as("blk"))
      .groupBy("blk").agg(count(lit(1)).as("b"))
      .agg(coalesce(sum(col("b") * (col("b") - 1) / 2), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    val erRarePairs = Dedup.shingleTokens(titles, "title", "doc_id", 1)
      .groupBy("word").agg(count(lit(1)).as("d"))
      .filter(col("d") <= 20)
      .agg(coalesce(sum(col("d") * (col("d") - 1) / 2), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    //  - er_composite_pairs: the shipped x_er_composite control — each
    //    first-word head block divided by the lang field's selectivity
    val erCompositePairs = docs
      .withColumn("_w", filter(split(col("text"), " "), w => length(w) > 0))
      .filter(size(col("_w")) > 0)
      .select(concat_ws("",
        element_at(col("_w"), 1), col("lang")).as("blk"))
      .groupBy("blk").agg(count(lit(1)).as("b"))
      .agg(coalesce(sum(col("b") * (col("b") - 1) / 2), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    Seq("containment_rare_pairs" -> containCand,
      "clone_join_rows" -> cloneJoinRows,
      "lsh_bucket_pairs" -> lshBucketPairs,
      "er_block_pairs" -> erBlockPairs,
      "er_rare_pairs" -> erRarePairs,
      "er_composite_pairs" -> erCompositePairs)
  }

  /** The x_er_fuzzy_match title derivation (first 6 non-empty words). */
  private def erTitles(docs: DataFrame): DataFrame = docs
    .withColumn("_w", filter(split(col("text"), " "), w => length(w) > 0))
    .withColumn("title", array_join(slice(col("_w"), 1, 6), " "))
    .select(col("doc_id"), col("title"))

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "target/rehearsal"
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_ITERS", "3").toInt)
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
    // codegen/shuffle warm-up so sfS's first query isn't billed for it
    spark.range(1000000).selectExpr("sum(id) s")
      .write.format("noop").mode("overwrite").save()

    val trace = Trace()
    val sizes = for (label <- Seq("sfS", "sfL")) yield {
      val dir = s"$base/$label"
      Tables.contractCheck(spark, dir)
      val docs = Tables.load(spark, dir, "documents")
      val nDocs = docs.count()
      HostProbe.waitForQuiet(quietBudget, s"rehearsal:$label")
      val counters = candidateCounters(docs)
      val rows = for (name <- QueryNames) yield {
        // "x_er_fuzzy_match_rare" is not a registry query: it is the
        // df-capped blocking variant of x_er_fuzzy_match, rehearsed here
        // head-to-head against the first-word-blocked registry form
        val fn: (SparkSession, String) => DataFrame =
          if (name == "x_er_fuzzy_match_rare")
            (s, d) => Dedup.jaroWinklerPairsRareToken(
              erTitles(Tables.load(s, d, "documents")), "title", "doc_id",
              maxDf = 20L, threshold = 0.92)
          else SparkEntry.queries(name)
        val key = s"$label.$name"
        val pre = HostProbe.cpuSample()
        trace.span(key)((1 to iters).foreach { _ =>
          System.gc()
          trace.span("run")(fn(spark, dir).write.format("noop").mode("overwrite").save())
        })
        val others = HostProbe.otherCores(pre, HostProbe.cpuSample(),
          trace.ms(key).last / 1e3)
        val med = Trace.median(trace.ms(s"$key.run")) / 1e3
        System.err.println(f"[rehearsal] $label $name: $med%.3f s (foreign $others%.2f cores)")
        name -> ListMap("median_sec" -> med, "others_cores" -> others)
      }
      label -> ListMap((("docs" -> nDocs) +: counters) ++ rows: _*)
    }
    Trace.emit(("iters" -> iters) +: sizes, s"$base/scaling.json")
    spark.stop()
  }
}
