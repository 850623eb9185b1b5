package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables, Trace}
import graft.ext.Dedup
import graft.core.Materialize.StageSyntax

/** Third-decade rehearsal for the 64-bit simhash banding
  * parameterization (VERDICT r13 #1, SCALING §10b): on the
  * gen_scale_rehearsal.py corpora, compare the r13 4-band shape
  * (nBlocks = 4: single 16-bit block keys — a keyspace the 500k corpus
  * saturates, §9c's 519k → 48.9M candidate blowup) against the WWW'07 §3
  * production design now shipped in x_simhash64_neardup (nBlocks = 6:
  * C(6,3) = 20 key families of ~32 bits). Blocking is EXACT either way,
  * so verified pairs must be identical — the probe asserts that — and
  * the quantities that differ are:
  *
  *   - bucket mass: Σ size·(size−1)/2 over (family, key) buckets — the
  *     equi-join's exchange volume before distinct;
  *   - distinct candidate pairs — the XOR+popcount verify volume;
  *   - wall (2 iterations, warm second) of the full neardup-pairs run.
  *
  * Args: corpus dirs (default target/rehearsal/sfL target/rehearsal/sfXL).
  */
object SimhashBandProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("target/rehearsal/sfL", "target/rehearsal/sfXL")
    // past this bucket mass the equi-join itself is the pathology being
    // measured — report the histogram number and skip materializing it
    // (600M admits the d=6 floor at 500k docs; the d=4 saturation at
    // 2.65B stays skipped)
    val JoinBudget = 600000000L
    val trace = Trace()
    for (dir <- dirs) {
      val docs = Tables.load(spark, dir, "documents")
      val sh = Dedup.simhash64Native(docs, "text", "doc_id").staged
      val nDocs = sh.count()
      // Σ C(n,2) over groups of IDENTICAL sketches: the irreducible
      // collision floor — these pairs land in EVERY key family at any
      // block width, so candidate mass can never go below
      // nFamilies × this number on a near-dup-heavy corpus
      val dupMass = sh.groupBy("simhash").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) / 2")), lit(0.0)))
        .collect()(0).getDouble(0).toLong
      println(s"[simhashband] $dir docs=$nDocs identical_sketch_pairs=$dupMass")
      // the r15 pipeline bands one representative per distinct sketch
      // (identical-sketch pre-collapse) — measure the banding mass it
      // actually pays next to the all-members mass it replaced
      val reps = sh.groupBy("simhash")
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("simhash")).staged
      val counts = for (d <- Seq(4, 6)) yield {
        def mass(frame: org.apache.spark.sql.DataFrame): Long = Dedup
          .simhashBandKeys(frame, "doc_id", bits = 64, maxHam = 3, nBlocks = d)
          .groupBy("b", "key").agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(expr("n * (n - 1) / 2")), lit(0.0)))
          .collect()(0).getDouble(0).toLong
        val bucketMass = mass(sh)
        val repMass = mass(reps)
        println(f"[simhashband] $dir docs=$nDocs nBlocks=$d " +
          f"bucket_mass_all=$bucketMass bucket_mass_collapsed=$repMass")
        if (bucketMass > JoinBudget) {
          println(f"[simhashband] $dir docs=$nDocs nBlocks=$d " +
            f"bucket_mass=$bucketMass JOIN SKIPPED (mass > $JoinBudget: " +
            "this saturation is the measured defect)")
          None
        } else {
          // ONE pass, no caching: a staged 10⁸-row candidate frame is
          // itself a memory hazard (the first probe run proved it)
          val agg = Dedup
            .simhashCandidates(sh, "doc_id", bits = 64, maxHam = 3,
              nBlocks = d)
            .select(bit_count(col("_sa").bitwiseXOR(col("_sb")))
              .cast("long").as("hamming"))
            .agg(count(lit(1)).as("cand"),
              sum(when(col("hamming") <= 3, 1L).otherwise(0L)).as("ver"))
            .collect()(0)
          val nCand = agg.getLong(0)
          val verified = agg.getLong(1)
          // emitted-set-unchanged gate: the shipped collapsed pipeline
          // (rep banding + analytic intra pairs + cross expansion) must
          // emit EXACTLY the raw all-members verified count
          val emitted = Dedup.simhashNeardupPairs(docs, "text", "doc_id",
            bits = 64, maxHam = 3, fast = true, nBlocks = d).count()
          require(emitted == verified,
            s"collapsed pipeline emitted $emitted != raw verified $verified")
          val key = s"$dir.nBlocks$d"
          (1 to 2).foreach { _ =>
            trace.span(key)(Dedup.simhashNeardupPairs(docs, "text", "doc_id",
                bits = 64, maxHam = 3, fast = true, nBlocks = d)
              .write.format("noop").mode("overwrite").save())
          }
          val walls = trace.ms(key).map(_ / 1e3)
          println(f"[simhashband] $dir docs=$nDocs nBlocks=$d " +
            f"bucket_mass=$bucketMass collapsed=$repMass cand_pairs=$nCand " +
            f"verified=$verified emitted=$emitted " +
            f"wall_cold=${walls.head}%.2f wall_warm=${walls.last}%.2f")
          Some(verified)
        }
      }
      val ran = counts.flatten
      require(ran.distinct.size <= 1,
        s"verified pair sets differ across parameterizations: $ran")
    }
    spark.stop()
  }
}
