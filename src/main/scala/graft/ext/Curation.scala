package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize._

/** The end-to-end curation pipeline — the flagship composition the ext
  * family exists for: turn a raw crawl into a training-ready, packed
  * corpus in one call. Stage order is the standard public recipe
  * (C4/Gopher filters → CCNet LM filter → scrub → near-dup dedup →
  * benchmark decontamination → mixture rebalancing → sequence packing):
  *
  *   1. quality signals (stopword/length heuristics) and repetition
  *      signals — zero-shuffle column expressions, each family computed
  *      on its own scan branch and narrowed to (id, signal) before the
  *      join (see `gated` on why they must not be fused);
  *   2. unigram-LM cross-entropy vs a trusted subset (CCNet) — the token
  *      explode is materialized once inside [[LmScore.scoreAgainstSubset]]
  *      and feeds both the model build and the scoring join;
  *   3. joint filter (quality ≥ qMin, dup-2-gram ≤ dupMax, CE ≤ ceMax),
  *      then PII scrub of the survivors (codegen'd regex chain);
  *      survivors are locally checkpointed — every later stage reads the
  *      materialized frame, so the signal/LM/filter chain runs ONCE;
  *   4. MinHash → LSH → Jaccard-verified dedup → connected components →
  *      canonical min-id keeper ([[Dedup.dedupCorpus]]; one checkpointed
  *      3-shingle frame feeds signatures and verification);
  *   5. benchmark decontamination: winnowing fingerprints over the
  *      PRE-dedup survivor set (one fps pass serves both sides — and a
  *      benchmark doc deduplicated away must still contaminate its
  *      surviving near-twin, so the bench side is deliberately the
  *      pre-dedup frame), bench = ids ≡ 0 (mod benchMod); a doc is
  *      contaminated when ≥ minSharedPct% of its OWN fingerprints appear
  *      in the bench set (fraction, not any-overlap: one shared 16-char
  *      run is pervasive on template-heavy corpora — the standard
  *      contaminated-ngram-fraction rule); bench docs and contaminated
  *      docs are dropped from the training set;
  *   6. domain-mixture rebalancing toward target language weights
  *      ([[Sampling.domainMix]] — content-addressed, binding domain kept
  *      whole);
  *   7. concat-and-chunk sequence packing over the final survivors'
  *      scrubbed-token counts ([[Packing.concatChunkPacks]] — distributed
  *      prefix sum, never a single-task window).
  *
  * Scale shape: the pipeline inherits each stage's proven shape — the
  * corpus-width scans (signals, scrub, fingerprints) are map-only; the
  * shuffles are vocabulary-, shingle-, band-, and domain-keyed (never a
  * cartesian product); the only driver-side data is the sub-cap component
  * graph and the per-domain cutoff frame. Filters run BEFORE dedup on
  * purpose: at 100 TB the quality/LM gates drop a large corpus fraction
  * with map-only work, so the pairwise machinery sees only survivors.
  *
  * Output: one row per training document —
  * (doc_id, domain, quality, cross_entropy, n_tokens, start_offset,
  * pack_id), deterministic and fully SQL-expressible (the x_curation_e2e
  * oracle restates every stage as a chained CTE).
  */
object Curation {

  /** The GATE stages of [[curate]] (1-3: quality/repetition signals, LM
    * scoring, joint filter, PII scrub) against a PRE-FIT language model —
    * the incremental path. Every stage here is map-only over `docs` plus
    * a vocabulary-keyed join to `model`, so the gate can run per
    * micro-batch in a checkpointed foreachBatch topology (the standard
    * lambda shape for corpus curation: gates stream, the pairwise
    * dedup/mix/pack tail stays batch over gated output). Scoring docs
    * that arrive incrementally against one frozen model is exactly the
    * CCNet arrangement ([[LmScore.scoreDocs]]).
    *
    * [[curate]] runs the same stages (`gated`) and differs only in its
    * LM branch: its one-corpus model is fit on a trusted subset of the
    * SAME frame, so model build and scoring share one staged token scan.
    * Output values are identical when `model` is fit the same way
    * (gated by st_curation_gate_stream's oracle, CurationGateStreamSpec
    * and ExtSpec's curate ⊆ gate case).
    *
    * Output: (doc_id, domain, quality, cross_entropy, scrubbed). */
  def gate(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, nCharsCol: String, model: DataFrame,
      qualityMin: Double, dupFracMax: Double, ceMax: Double): DataFrame =
    gated(docs, textCol, idCol, langCol, nCharsCol,
      () => LmScore.scoreDocs(docs, model, textCol, idCol, langCol)
        .select(col("id").as("doc_id"), col("cross_entropy"))
        .staged,
      qualityMin, dupFracMax, ceMax)

  /** Stages 1-3 — the one definition [[gate]] and [[curate]] share. `lm`
    * builds the (doc_id, cross_entropy) frame: the LM branch is the only
    * stage the two callers fit differently.
    *
    * Each signal family runs on its OWN branch, narrowed to (id, signal)
    * and materialized. Deliberately NOT stacked into one projection:
    * quality and repetition are pyramids of interpreted higher-order
    * functions (filter/transform over split(text)), and stacking them
    * lets CollapseProject + predicate pushdown inline each referenced
    * column's whole tree into every reference — the combined expression
    * re-evaluates split(text) multiplicatively (measured: 0.5s + 0.8s as
    * separate branches, minutes fused; on the streaming gate 11.3 s
    * unstaged → 1.7 s staged, SCALING §6d). The checkpoint is a barrier:
    * the joint filter compares materialized doubles.
    *
    * The three branches (quality, repetition, LM scoring) are
    * INDEPENDENT jobs; submitting them from a small thread pool lets each
    * job's tail back-fill the others' idle executors (guide §2.6
    * overlap), with byte-identical results — each branch materializes
    * the same frame it would sequentially. Spark's scheduler runs
    * concurrent jobs FIFO; 3 in flight is the guide's "enough to fill the
    * tail" sweet spot.
    *
    * Output: (doc_id, domain, quality, cross_entropy, scrubbed). */
  private def gated(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, nCharsCol: String, lm: () => DataFrame,
      qualityMin: Double, dupFracMax: Double, ceMax: Double): DataFrame = {
    val Seq(qSig, rSig, lmSig) = inParallel(Seq(
      () => TextAnalysis.qualityScore(docs, textCol, nCharsCol)
        .select(col(idCol).as("doc_id"), col("quality"))
        .staged,
      () => TextAnalysis.repetitionSignals(
          docs.select(col(idCol).as("doc_id"), col(textCol)), textCol)
        .select(col("doc_id"), col("dup_2gram_frac"))
        .staged,
      lm))
    val kept = docs
      .select(col(idCol).as("doc_id"), col(langCol).as("domain"),
        col(textCol))
      .join(qSig, Seq("doc_id")).join(rSig, Seq("doc_id"))
      .join(lmSig, Seq("doc_id"))
      .filter(col("quality") >= qualityMin &&
        col("dup_2gram_frac") <= dupFracMax &&
        col("cross_entropy") <= ceMax)
    TextAnalysis.scrubPii(kept, textCol)
      .select(col("doc_id"), col("domain"), col("quality"),
        col("cross_entropy"), col("scrubbed"))
  }

  /** Curate `docs` end to end. `idCol` must be unique LONG ids (packing
    * order + dedup canonical keeper are id-based). Output id column is
    * always named `doc_id`.
    *
    * `fastKernels = true` is the production configuration: the dedup
    * stage signs with the xxhash64 minhash kernel
    * ([[Dedup.minhashFromTokensFast]]) and decontamination fingerprints
    * with the Karp-Rabin rolling kernel — the two scan-bound hash loops
    * that dominate at corpus scale. Each kernel is independently gated
    * (x_dedup_pipeline_fast's pair-set agreement + recall parity,
    * SCALING §8a; x_decontaminate_rolling's flagged-set agreement +
    * x_winnow_rolling_bounds' density band, §7b); the md5 default stays
    * because the e2e oracle restates it bit-for-bit. */
  def curate(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, nCharsCol: String,
      qualityMin: Double, dupFracMax: Double, ceMax: Double,
      benchMod: Int, weights: Map[String, Double],
      packBudget: Long, minSharedPct: Int = 20,
      fastKernels: Boolean = false): DataFrame = {
    require(benchMod > 1, s"benchMod must be > 1, got $benchMod")
    require(minSharedPct >= 1 && minSharedPct <= 100,
      s"minSharedPct must be in [1, 100], got $minSharedPct")

    // 1-3. signals, CCNet LM scoring with the model from the trusted
    // subset (ids ≢ 0 mod 3), joint filter + PII scrub; materialize the
    // survivors once. The LM branch is left unstaged: scoreAgainstSubset
    // stages its own token scan, which feeds both model and scoring.
    val survivors = gated(docs, textCol, idCol, langCol, nCharsCol,
      () => LmScore.scoreAgainstSubset(docs, textCol, idCol, langCol,
          trusted = col(idCol) % 3 =!= 0)
        .select(col("id").as("doc_id"), col("cross_entropy")),
      qualityMin, dupFracMax, ceMax)
      .staged

    // 4 + 5 run OVERLAPPED (guide §2.6 again): both pipelines read only
    // the staged `survivors` blocks and are independent until the `clean`
    // joins below — their internal barriers (the dedup shingle scan +
    // component rounds, the decontamination fingerprint pass) used to
    // serialize on construction order.
    val Seq(keepers, contaminated) = inParallel(Seq(
      // 4. near-dup dedup over the scrubbed survivors; keep canonical docs
      () => Dedup.dedupCorpus(survivors, "scrubbed", "doc_id",
          k = 8, bands = 2, threshold = 0.5, fast = fastKernels)
        .filter(col("is_kept")).select("doc_id"),
      // 5. decontamination: fps over the PRE-dedup survivors (see
      // scaladoc); integer-exact fraction test — n_shared·100 ≥ n_fps·pct.
      // The Bloom variant keeps the corpus side of the fingerprint join
      // map-only (only probable hits shuffle); output is bit-identical,
      // so the e2e oracle is untouched
      () => TextAnalysis.contaminationWithinStatsBloom(survivors,
          "scrubbed", "doc_id", isBench = col("doc_id") % benchMod === 0,
          rolling = fastKernels)
        .filter(col("n_shared_fps") * 100 >= col("n_fps") * minSharedPct)
        .select("doc_id")))

    val clean = survivors
      .join(keepers, Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % benchMod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")

    // 6. mixture rebalancing by domain (content-addressed membership)
    val mixed = clean.join(
      Sampling.domainMix(clean, "doc_id", col("domain"), weights)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

    // 7. pack what survives, in id order, by scrubbed-token count.
    // withTok is staged because it is read TWICE below (pack assignment +
    // the final metadata join) and its lineage re-runs the whole
    // clean/mix tail — un-staged, both references re-execute the
    // dedup-semi-join/decontamination/mix chain (measured ~2.7× the sum
    // of the stage costs on the composed query).
    val withTok = stage(mixed.withColumn("n_tokens",
      size(filter(split(col("scrubbed"), " "), w => length(w) > 0))
        .cast("long")))
    Packing.concatChunkPacks(withTok, "doc_id", "n_tokens", packBudget)
      .join(withTok.select("doc_id", "domain", "quality", "cross_entropy"),
        Seq("doc_id"))
      .select(col("doc_id"), col("domain"), col("quality"),
        col("cross_entropy"), col("n_tokens"), col("start_offset"),
        col("pack_id"))
  }
}
