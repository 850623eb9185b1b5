package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables, Trace}
import graft.ext.Dedup
import graft.core.Materialize.StageSyntax

/** Bound provenance + kernel measurement for x_dedup_pipeline_fast (the
  * pattern of the WinnowRollingProbe main behind SCALING §6h, removed;
  * see git 5da4baf): wall-clock for the signature stage and the full LSH
  * dedup pipeline on each minhash kernel (seeded md5 vs xxhash64), plus
  * the verified-pair-set agreement behind the query's fast_ok gate — the
  * measurement behind SCALING.md §8. Agreement and recall print as
  * `[mhprobe]` lines; each timed step goes to stderr as it ends, and one
  * JSON line of every step's seconds ends the run.
  *
  * Args: corpus dirs (default sf0.01 + sf0.1). Pass
  * `target/rehearsal/sfS target/rehearsal/sfL` for the 10× open-vocab
  * step (gen_scale_rehearsal.py) — the agreement-at-scale law.
  */
object MinhashFastProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = Trace("mhprobe")
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    for (dir <- dirs) {
      val docs = Tables.load(spark, dir, "documents")
      // isolate the signature stage: tokens staged once outside the clock
      val tok = Dedup.shingleTokens(docs, "text", "doc_id", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      tok.count()
      for (i <- 1 to 2) {
        trace.span(s"$dir sig md5 #$i") {
          Dedup.minhashFromTokens(tok, 8)
            .write.format("noop").mode("overwrite").save() }
        trace.span(s"$dir sig fast #$i") {
          Dedup.minhashFromTokensFast(tok, 8)
            .write.format("noop").mode("overwrite").save() }
      }
      tok.unpersist()
      for (i <- 1 to 2) {
        trace.span(s"$dir pipeline md5 #$i") {
          Dedup.dedupCorpus(docs, "text", "doc_id")
            .write.format("noop").mode("overwrite").save() }
        trace.span(s"$dir pipeline fast #$i") {
          Dedup.dedupCorpus(docs, "text", "doc_id", fast = true)
            .write.format("noop").mode("overwrite").save() }
      }
      // the gate's provenance: verified-pair-set agreement across kernels
      val m = Dedup.lshVerifiedPairs(docs, "text", "doc_id")
        .select("doc_a", "doc_b").staged
      val f = Dedup.lshVerifiedPairs(docs, "text", "doc_id", fast = true)
        .select("doc_a", "doc_b").staged
      val nm = m.count(); val nf = f.count()
      val ni = m.join(f, Seq("doc_a", "doc_b"), "left_semi").count()
      val jac = ni.toDouble / (nm + nf - ni)
      println(f"[mhprobe] $dir pairs md5=$nm fast=$nf inter=$ni " +
        f"agreement=$jac%.4f")
      // per-kernel RECALL vs ground truth — the scale-honest metric:
      // pair-level agreement is a CORPUS property (it collapses when the
      // dup mass sits at the banding margin, where collision is a
      // per-kernel coin flip by LSH design); what must hold for the
      // kernel swap is that each kernel retrieves the same FRACTION of
      // the true >= 0.5 pairs. Ground truth: rare-shingle-blocked exact
      // Jaccard (a true 0.5-Jaccard pair on these doc lengths shares
      // rare shingles overwhelmingly — the same blocking argument the
      // containment family measures in SCALING §2/§3).
      val tok2 = Dedup.shingleTokens(docs, "text", "doc_id", 3).staged
      val dfreq = tok2.groupBy("word").agg(count(lit(1)).as("_d"))
      val rare = tok2.join(dfreq.filter(col("_d") <= 10).select("word"),
        Seq("word"))
      val cand = rare.select(col("id").as("doc_a"), col("word"))
        .join(rare.select(col("id").as("doc_b"), col("word")), Seq("word"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val gt = Dedup.jaccardOnTokens(tok2, cand, 0.5)
        .select("doc_a", "doc_b").staged
      val ngt = gt.count()
      val rm = gt.join(m, Seq("doc_a", "doc_b"), "left_semi").count()
      val rf = gt.join(f, Seq("doc_a", "doc_b"), "left_semi").count()
      println(f"[mhprobe] $dir gt=$ngt recall_md5=${rm.toDouble / ngt}%.4f " +
        f"recall_fast=${rf.toDouble / ngt}%.4f")
      // simhash kernels (§8f): signature wall + banded-hamming agreement.
      // Skipped past 100k docs: a 16-bit sketch banded at 8 bits has 256
      // buckets per band, so Σ bucket² goes quadratic in corpus size
      // (≈7.6G candidate pairs at 500k docs) — §8f already adjudicated
      // the 16-bit width as margin-dominated; only the 64-bit rows below
      // carry meaning at the third decade
      val nDocs = docs.count()
      if (nDocs <= 100000) for (i <- 1 to 2) {
        trace.span(s"$dir simhash md5 #$i") {
          Dedup.simhash(docs, "text", "doc_id")
            .write.format("noop").mode("overwrite").save() }
        trace.span(s"$dir simhash fast #$i") {
          Dedup.simhashFast(docs, "text", "doc_id")
            .write.format("noop").mode("overwrite").save() }
      }
      if (nDocs <= 100000) {
        val smM = Dedup.simhashNeardupPairs(docs, "text", "doc_id")
          .select("doc_a", "doc_b").staged
        val smF = Dedup.simhashNeardupPairs(docs, "text", "doc_id", fast = true)
          .select("doc_a", "doc_b").staged
        val snm = smM.count(); val snf = smF.count()
        val sni = smM.join(smF, Seq("doc_a", "doc_b"), "left_semi").count()
        println(f"[mhprobe] $dir simhash pairs md5=$snm fast=$snf inter=$sni " +
          f"agreement=${sni.toDouble / (snm + snf - sni)}%.4f")
      }
      // the PRODUCTION simhash width (x_simhash64_neardup's gate
      // provenance): 64-bit fast sketch, Manku 4x16 bands, hamming <= 3,
      // recall vs the SAME rare-blocked exact-Jaccard ground truth the
      // minhash recall rows use — plus the >= 0.8 high-similarity slice,
      // where the sketch's cosine contract actually lives
      for (i <- 1 to 2) {
        trace.span(s"$dir simhash64 fast #$i") {
          Dedup.simhashNeardupPairs(docs, "text", "doc_id",
              bits = 64, maxHam = 3, fast = true)
            .write.format("noop").mode("overwrite").save() }
      }
      val sm64 = Dedup.simhashNeardupPairs(docs, "text", "doc_id",
        bits = 64, maxHam = 3, fast = true)
        .select("doc_a", "doc_b").staged
      val n64 = sm64.count()
      val r64 = gt.join(sm64, Seq("doc_a", "doc_b"), "left_semi").count()
      val gtHi = Dedup.jaccardOnTokens(tok2, cand, 0.8)
        .select("doc_a", "doc_b").staged
      val nHi = gtHi.count()
      val rHi = gtHi.join(sm64, Seq("doc_a", "doc_b"), "left_semi").count()
      println(f"[mhprobe] $dir simhash64 pairs=$n64 " +
        f"recall_gt05=${r64.toDouble / math.max(ngt, 1)}%.4f (n=$ngt) " +
        f"recall_gt08=${rHi.toDouble / math.max(nHi, 1)}%.4f (n=$nHi)")
    }
    Trace.emit(trace.spans.map { case (p, ms) => p -> ms / 1e3 })
    spark.stop()
  }
}
