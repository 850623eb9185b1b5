package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize._

/** Text analysis operators: language-ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions (codegen'd,
  * no UDFs) so they run inside whole-stage codegen at full scan speed —
  * these are per-document map operations, the cheapest possible shape at
  * 100 TB (no shuffle at all).
  */
object TextAnalysis {

  /** Truncate to 4 decimals via floor — unlike round(), floor(x*1e4)/1e4
    * is a pure function of the IEEE double and therefore bit-identical in
    * every engine (round() half-way handling differs: Spark rounds the
    * shortest decimal string HALF_UP, DuckDB rounds the binary value). */
  private[ext] def trunc4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 10000.0) / 10000.0

  /** Stopword list used by the language heuristic and quality score. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  private def stopSet = EnStopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Token counting: whitespace tokens + regex word-run tokens
    * (a BPE-ish lower-alnum run segmentation). */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("ws_tokens",
        size(filter(split(col(textCol), " "), w => length(w) > 0)).cast("long"))
      .withColumn("re_tokens",
        expr(s"CAST(regexp_count($textCol, '[a-z0-9]+') AS BIGINT)"))

  /** Language ID, n-gram/stopword heuristic: english iff ≥5% of tokens are
    * core-English stopwords. Integer arithmetic (cnt*20 >= n) keeps the
    * decision boundary exact and oracle-reproducible. */
  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.withColumn("w", split(col(textCol), " "))
    toks.withColumn("n_tok",
        size(filter(col("w"), w => length(w) > 0)).cast("long"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(w, x -> x IN $stopSet)) AS BIGINT)"))
      .withColumn("lang_pred",
        when(col("n_stop") * 20 >= col("n_tok"), "en").otherwise("und"))
      .drop("w")
  }

  /** The 20 highest-frequency English character trigrams (space-padded —
    * word boundaries carry signal), the classic n-gram language profile
    * (Cavnar & Trenkle '94, public method). */
  val EnTrigrams: Seq[String] = Seq(
    "the", "he ", " th", "ing", "and", "nd ", " an", "ion", "ent", " of",
    "of ", "ed ", " in", "in ", "er ", " to", "to ", "on ", "at ", "ng ")

  /** Character-trigram language ID: english iff ≥10% of the document's
    * char trigrams belong to the core-English profile. Complements the
    * word/stopword heuristic of [[langId]] — trigrams survive missing
    * whitespace and inflected forms that defeat a stopword list.
    *
    * Counting trick that keeps this inside whole-stage codegen: no profile
    * trigram is self-overlapping (verified by the require below), so a
    * needle's occurrences are disjoint and `(len − len(replace(norm,
    * needle))) div 3` counts ALL its positions; and a position's trigram
    * equals exactly one needle, so summing per-needle counts equals
    * counting matching positions. Pure codegen'd string ops — the
    * position-enumerating `transform` + IN-list form is semantically
    * identical (the oracle computes that form) but runs interpreted,
    * measured 2× slower at sf0.1. Integer decision arithmetic keeps the
    * boundary exact and oracle-reproducible. */
  def langIdNgram(docs: DataFrame, textCol: String): DataFrame = {
    require(EnTrigrams.forall(t => t(0) != t(2) && !(t(0) == t(1) && t(1) == t(2))),
      "profile trigrams must not self-overlap or per-needle counts overcount")
    val hits = EnTrigrams
      .map(t => s"((length(norm) - length(replace(norm, '$t'))) div 3)")
      .mkString(" + ")
    docs
      .withColumn("norm", trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .withColumn("n_tri", greatest(length(col("norm")) - 2, lit(1)).cast("long"))
      .withColumn("tri_hits", expr(s"CAST($hits AS BIGINT)"))
      .withColumn("lang_tri",
        when(col("tri_hits") * 10 >= col("n_tri"), "en").otherwise("und"))
      .drop("norm")
  }

  /** Quality score ∈ [0,1]: length saturation + non-stopword density +
    * average word length saturation. Deterministic double math, rounded. */
  def qualityScore(docs: DataFrame, textCol: String,
      nCharsCol: String): DataFrame =
    langId(docs, textCol)
      .withColumn("avg_word_len",
        trunc4((col(nCharsCol) - col("n_tok") + 1).cast("double") / col("n_tok")))
      .withColumn("stop_ratio",
        trunc4(col("n_stop").cast("double") / col("n_tok")))
      .withColumn("quality",
        trunc4(
          least(col("n_tok") / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - col("stop_ratio")) * 0.3 +
            least(col("avg_word_len") / 10.0, lit(1.0)) * 0.2))

  /** Full winnowing (Schleimer et al., SIGMOD'03 — public algorithm): hash
    * every k-gram, then keep the minimum hash of each sliding window of w
    * consecutive k-grams; the distinct minima are the document's
    * fingerprint set. Guarantees any shared run of ≥ w+k-1 chars shares a
    * fingerprint.
    *
    * Scale shape: the whole per-document computation — k-gram hashing,
    * O(n) monotonic-deque window minima, doc-local dedup (doc ids are
    * unique, so doc-local distinct IS global distinct) — runs inside ONE
    * native expression eval per row (graft.functions.WinnowFps). Zero
    * shuffle: the earlier explode-one-row-per-character-position + two
    * window functions shape shuffled ~|corpus bytes| rows per run, the
    * canonical scale-killer at 100 TB; a pure higher-order-function
    * rewrite avoided the shuffle but paid interpreted-lambda overhead per
    * position (3× slower than even the shuffle shape at sf0.1). The one
    * explode left emits only the final fingerprint set (≈ n/w per doc). */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 4): DataFrame = {
    graft.functions.WinnowFps.register(docs.sparkSession)
    docs
      .withColumn("norm", trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .select(col(idCol), explode(expr(s"winnow_fps(norm, $k, $w)")).as("fp"))
  }

  /** [[winnowFingerprints]] with the Karp-Rabin ROLLING hash — the
    * production variant for corpus-scale fingerprinting. The md5 form
    * pays one full digest per character position (~6–7 MB/s/core — at
    * 100 TB the hash, not the scan, is the bottleneck) and exists
    * because the DuckDB oracle can restate it; winnowing only needs a
    * hash ORDER, so this one rolls in O(1)/position and emits LONG
    * fingerprints (4× smaller than md5-hex). Same windowing guarantee;
    * selection density vs the md5 variant is bounds-gated by
    * x_winnow_rolling_bounds (measured ratio ≈ 1), the matching
    * guarantee by WinnowRollingSpec. SCALING.md §6h has the measured
    * throughput gap. */
  def winnowFingerprintsRolling(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 16, w: Int = 4): DataFrame = {
    graft.functions.WinnowFpsRolling.register(docs.sparkSession)
    docs
      .withColumn("norm", trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .select(col(idCol),
        explode(expr(s"winnow_fps_rolling(norm, $k, $w)")).as("fp"))
  }

  /** Per-domain distribution shift: KL(domain unigram dist ‖ corpus
    * unigram dist) — the data-selection diagnostic that says how far a
    * source's token distribution sits from the corpus (DSIR-adjacent:
    * high-KL domains dominate importance-weight tails). Computed as
    * (1/n_d)·Σ_w c_dw·ln((c_dw·n)/(n_d·c_w)): every count product stays
    * an exact integer, the single division feeding ln is one IEEE op,
    * the ln output is floor-truncated to 4 dp IMMEDIATELY (libm results
    * differ across engines in the last ulp), and the weighted sum runs
    * in DECIMAL — exact and order-independent, the same discipline as
    * [[LmScore]]. Since every domain word is a corpus word, c_w ≥ c_dw
    * > 0: no smoothing needed and every term is finite.
    * Shuffle shape: one (domain, word) aggregation (map-side combined),
    * then vocabulary-keyed joins — never a row-level shuffle. */
  def domainKl(docs: DataFrame, textCol: String,
      domainCol: org.apache.spark.sql.Column): DataFrame = {
    val dw = docs
      .select(domainCol.as("domain"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("domain", "word").agg(count(lit(1)).as("c_dw"))
      .staged
    val dTot = dw.groupBy("domain").agg(sum("c_dw").as("n_d"))
    val cw = dw.groupBy("word").agg(sum("c_dw").as("c_w"))
    val nTot = dTot.agg(sum("n_d").as("n"))
    dw.join(dTot, Seq("domain")).join(cw, Seq("word"))
      .crossJoin(broadcast(nTot))
      .withColumn("_term",
        floor(log((col("c_dw") * col("n")).cast("double") /
          (col("n_d") * col("c_w"))) * 10000.0) / 10000.0)
      .withColumn("_w", col("_term").cast("decimal(18,4)") * col("c_dw"))
      .groupBy("domain", "n_d").agg(sum("_w").as("_s"))
      .withColumn("kl",
        floor(col("_s").cast("double") / col("n_d") * 10000.0) / 10000.0)
      .select(col("domain"), col("n_d").as("n_tokens"), col("kl"))
  }

  /** Cross-document clone detection (the MOSS arrangement): documents
    * sharing ≥ `minShared` winnow fingerprints are clone pairs. The
    * document-frequency cap (`maxDf`) drops fingerprints present in more
    * than maxDf documents BEFORE the self-join — exactly MOSS's "ignore
    * matches that appear in many programs" rule. It is simultaneously the
    * scale guard: post-cap, one fingerprint key fans out to at most
    * maxDf² pairs, so the equi-join's skew is contract-bounded no matter
    * how much boilerplate the corpus carries. One fingerprint pass
    * (materialized) feeds the df census and both join sides. */
  def clonePairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 4, maxDf: Long = 20L,
      minShared: Long = 5L, rolling: Boolean = false): DataFrame = {
    val fps = fpsOf(docs, textCol, idCol, k, w, rolling).staged
    // r17 (guide §3.1): both the df census and the self-join's build side
    // are CORPUS-FINGERPRINT-sized (statistics-less staged scans, so the
    // planner was broadcasting them — ~all distinct fps as one broadcast
    // relation, which hits the 8 GB/512M-row broadcast cap long before
    // 100 TB). shuffle_hash keeps the join build per-partition-bounded at
    // any corpus size; at sf0.1 it is also measurably faster (§13c).
    val rare = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("fp")
        .hint("shuffle_hash"),
      Seq("fp"))
    val a = rare.select(col(idCol).as("doc_a"), col("fp"))
    val b = rare.select(col(idCol).as("doc_b"), col("fp"))
    a.join(b.hint("shuffle_hash"), Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Repetition quality signals (the Gopher/C4 family of filters):
    * `rep_distinct_ratio` = distinct words / words (low → the document
    * repeats a small vocabulary) and `dup_2gram_frac` = 1 − distinct
    * word-2-grams / 2-grams (high → copy-pasted runs), plus a Gopher-ish
    * `is_repetitive` flag (dup_2gram_frac > 0.3). Pure array expressions
    * — zero shuffle, the cheapest shape for a full-corpus quality pass.
    * Both ratios floor-truncated to 4 dp for engine-exact comparison.
    * The 2-gram build guards size < 2 explicitly: Spark's
    * sequence(1, 0) counts DOWN (yielding [1, 0]), it is not empty. */
  def repetitionSignals(docs: DataFrame, textCol: String): DataFrame =
    // underscore-prefixed temporaries: plain names like `w` could clobber
    // (and then drop) a caller's column
    docs
      .withColumn("_rw", filter(split(col(textCol), " "), x => length(x) > 0))
      .withColumn("n_tok", size(col("_rw")).cast("long"))
      .withColumn("rep_distinct_ratio",
        trunc4(size(array_distinct(col("_rw"))).cast("double") /
          greatest(col("n_tok"), lit(1L))))
      .withColumn("_rg2", expr(
        "CASE WHEN size(_rw) < 2 THEN array() ELSE " +
          "transform(sequence(1, size(_rw) - 1), " +
          "i -> concat_ws(' ', element_at(_rw, i), element_at(_rw, i + 1))) END"))
      .withColumn("dup_2gram_frac",
        when(size(col("_rg2")) === 0, lit(0.0)).otherwise(
          trunc4(lit(1.0) - size(array_distinct(col("_rg2"))).cast("double") /
            size(col("_rg2")))))
      .withColumn("is_repetitive", col("dup_2gram_frac") > 0.3)
      .drop("_rw", "_rg2")

  /** PII patterns for corpus scrubbing, written in the regex subset that
    * Java regex (Spark) and RE2 (DuckDB) interpret identically — no
    * backreferences, no lookaround, explicit character classes — so the
    * oracle can verify scrubbing byte-for-byte. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "phone" -> "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ipv4" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}")

  /** Scrub PII from a text column: each pattern's matches are counted and
    * replaced with `<pii:kind>`. Pure regexp_count/regexp_replace chain —
    * codegen'd, zero shuffle, the cheapest possible shape for a
    * full-corpus rewrite at 100 TB. Patterns apply in declaration order,
    * and each kind is COUNTED ON THE ALREADY-SCRUBBED text of the kinds
    * before it, so `n_<kind>` equals the number of `<pii:kind>` tokens
    * actually emitted (a digit run inside an email never double-counts as
    * a phone/IP). Adds `scrubbed` plus one `n_<kind>` per pattern. */
  def scrubPii(docs: DataFrame, textCol: String): DataFrame = {
    // DSL regexp_count/lit, NOT expr(): a SQL string literal would
    // re-interpret the pattern's backslashes before the regex engine sees
    // them
    val (result, scrubbed) = PiiPatterns.foldLeft((docs, col(textCol))) {
      case ((df, current), (kind, re)) =>
        (df.withColumn(s"n_$kind", regexp_count(current, lit(re)).cast("long")),
          regexp_replace(current, re, s"<pii:$kind>"))
    }
    result.withColumn("scrubbed", scrubbed)
  }

  /** Benchmark decontamination: corpus documents sharing any winnowing
    * fingerprint with a benchmark document are training-set contamination
    * (the winnowing guarantee makes a shared fingerprint ⇒ a shared run
    * of ≥ w+k−1 characters). Returns (id, n_shared_fps) for contaminated
    * corpus docs only; `filter NOT IN` it to decontaminate.
    *
    * Scale shape: fingerprints come from the native per-row expression
    * (zero shuffle to produce), then one join keyed on the fp hash —
    * bounded keys, and the benchmark side is tiny relative to the corpus
    * (broadcast-able; AQE decides). Self-matches are excluded so the
    * benchmark may be carved out of the corpus itself. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, k: Int = 16, w: Int = 4): DataFrame =
    contaminationOnFps(
      winnowFingerprints(corpus, textCol, idCol, k, w),
      winnowFingerprints(benchmark, textCol, idCol, k, w), idCol)

  /** Hash-kernel selector shared by the fingerprint consumers: the md5
    * kernel is the oracle-parity default, the Karp-Rabin ROLLING kernel
    * (`rolling = true`) is the production path — ~6× cheaper hashing
    * (SCALING.md §6h) with the identical windowing guarantee. Selection
    * differs only in which marginal (sub-guarantee-length) overlaps get
    * fingerprinted, which is what x_decontaminate_rolling's agreement
    * band gates. */
  private def fpsOf(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, rolling: Boolean): DataFrame =
    if (rolling) winnowFingerprintsRolling(docs, textCol, idCol, k, w)
    else winnowFingerprints(docs, textCol, idCol, k, w)

  /** Within-corpus decontamination: the benchmark is a predicate over the
    * corpus's OWN id column (e.g. the held-out shard), so the dominant
    * fingerprinting pass runs ONCE over the corpus — materialized, then
    * filtered for the benchmark side — instead of re-normalizing and
    * re-winnowing the benchmark rows a second time. `rolling = true`
    * swaps in the Karp-Rabin fingerprint kernel — the corpus-scale
    * default, where hashing (not scanning) is the decontamination
    * pipeline's dominant cost. */
  def contaminationWithin(corpus: DataFrame, textCol: String, idCol: String,
      isBench: org.apache.spark.sql.Column, k: Int = 16, w: Int = 4,
      rolling: Boolean = false): DataFrame = {
    val fps = fpsOf(corpus, textCol, idCol, k, w, rolling).staged
    contaminationOnFps(fps, fps.filter(isBench), idCol)
  }

  /** [[contaminationWithin]] with a Bloom pre-filter on the corpus side —
    * the 100-TB shape of the decontamination join. The exact fingerprint
    * equi-join is correct at any scale but shuffles EVERY corpus
    * fingerprint; the benchmark side is tiny by definition, so a Bloom
    * filter built over its fingerprints (distributed partial/final
    * aggregation, ~1.2 bytes/item at the default 1% fpp) turns the
    * corpus side into a map-only probe: only probable hits ever reach
    * the exchange. The exact join still runs behind the probe, so Bloom
    * false positives are filtered out and the result is bit-identical
    * to [[contaminationWithin]] — same oracle, no approximation in the
    * output (gated by the shared x_decontaminate SQL).
    *
    * `fpp` trades filter size against wasted shuffle: at 1% a million
    * benchmark fingerprints cost ~1.2 MB per task and let ~1% of
    * non-matching corpus fps through to the join. */
  def contaminationWithinBloom(corpus: DataFrame, textCol: String,
      idCol: String, isBench: org.apache.spark.sql.Column,
      k: Int = 16, w: Int = 4, fpp: Double = 0.01): DataFrame = {
    val fps = winnowFingerprints(corpus, textCol, idCol, k, w).staged
    val bench = fps.filter(isBench)
    contaminationOnFps(fps.filter(benchFpProbe(bench, fpp)), bench, idCol)
  }

  /** [[contaminationWithinBloom]] plus each contaminated doc's own
    * fingerprint count (`n_fps`), so callers can threshold on the OVERLAP
    * FRACTION n_shared_fps / n_fps instead of "any shared fingerprint" —
    * on a template-heavy corpus a single shared 16-char run is pervasive,
    * and real decontamination recipes flag by contaminated-ngram
    * fraction. The per-doc totals aggregate the FULL fingerprint frame
    * (they must — the denominator is every fingerprint, not just
    * probable hits), but that is a map-side-combined count keyed by doc
    * id over the same staged fingerprint pass, not a join shuffle. The
    * Bloom probe only prunes the join's corpus side, so the output is
    * bit-identical to the exact fingerprint join. */
  def contaminationWithinStatsBloom(corpus: DataFrame, textCol: String,
      idCol: String, isBench: org.apache.spark.sql.Column,
      k: Int = 16, w: Int = 4, fpp: Double = 0.01,
      rolling: Boolean = false): DataFrame = {
    val fps = fpsOf(corpus, textCol, idCol, k, w, rolling).staged
    val totals = fps.groupBy(col(idCol)).agg(count(lit(1)).as("n_fps"))
    val bench = fps.filter(isBench)
    contaminationOnFps(fps.filter(benchFpProbe(bench, fpp)), bench, idCol)
      .join(totals, Seq(idCol))
  }

  /** Frozen benchmark index for STREAMING decontamination: the benchmark
    * fingerprints (staged — built once, before the stream starts) plus
    * the serialized Bloom filter over them. Mirrors Dedup.CorpusIndex:
    * arriving micro-batches pay only their own fingerprinting + a
    * map-only probe + the exact join against this frozen frame. */
  final case class BenchIndex(fps: DataFrame, bloomBytes: Option[Array[Byte]])

  /** Build the frozen index: one fingerprint pass over the benchmark +
    * one distributed Bloom build (bounded: benchmark-sized). */
  def buildBenchIndex(bench: DataFrame, textCol: String, idCol: String,
      k: Int = 16, w: Int = 4, fpp: Double = 0.01): BenchIndex = {
    val fps = winnowFingerprints(bench, textCol, idCol, k, w).staged
    BenchIndex(fps, graft.functions.BloomProbe
      .buildFilterBytes(fps, col("fp"), math.max(fps.count(), 1L), fpp))
  }

  /** Flag one batch of documents against a frozen [[BenchIndex]] — the
    * per-micro-batch body of the streaming gate. Per-doc flags depend
    * only on the doc's own text and the FROZEN index, so the streamed
    * union over any batching equals the one-shot batch run
    * (st_decontaminate_stream shares x_decontaminate's oracle verbatim
    * on that argument). */
  def contaminationAgainst(index: BenchIndex, batch: DataFrame,
      textCol: String, idCol: String, k: Int = 16, w: Int = 4): DataFrame = {
    val bf = winnowFingerprints(batch, textCol, idCol, k, w)
    val probe = index.bloomBytes
      .map(b => graft.functions.BloomProbe
        .mightContain(batch.sparkSession, b, col("fp")))
      .getOrElse(lit(false))
    contaminationOnFps(bf.filter(probe), index.fps, idCol)
  }

  /** Bloom membership probe over a benchmark fingerprint frame: builds
    * the filter (distributed aggregation; the benchmark row count — the
    * small side by contract — sizes it, duplicates only over-size it)
    * and returns the map-only might-contain predicate on `fp`. An empty
    * benchmark probes nothing through (`false` — an empty set contains
    * nothing), keeping the downstream join shape with zero rows. */
  private def benchFpProbe(bench: DataFrame, fpp: Double): org.apache.spark.sql.Column =
    graft.functions.BloomProbe
      .buildFilterBytes(bench, col("fp"), math.max(bench.count(), 1L), fpp)
      .map(bytes => graft.functions.BloomProbe
        .mightContain(bench.sparkSession, bytes, col("fp")))
      .getOrElse(lit(false))

  private def contaminationOnFps(cf: DataFrame, bench: DataFrame,
      idCol: String): DataFrame = {
    // fresh aliases on the bench side: in the within-corpus path both
    // frames share the checkpointed fps plan, so unaliased columns would
    // make this an ambiguous self-join
    val bf = bench.select(col(idCol).as("_bench_id"), col("fp").as("_bfp"))
    cf.join(bf, cf("fp") === col("_bfp") && cf(idCol) =!= col("_bench_id"))
      .groupBy(cf(idCol))
      .agg(countDistinct(cf("fp")).as("n_shared_fps"))
  }

  /** Per-domain vocabulary profile: token mass, vocabulary size, hapax
    * count (words occurring once — the Zipf tail), and type/token ratio.
    * The richness numbers that flag template-generated or boilerplate
    * domains (tiny vocabulary for their token mass) before any pairwise
    * dedup machinery runs.
    *
    * Scale shape: one explode + two bounded-key aggregations
    * ((domain, word) then domain) — vocabulary-sized shuffles with
    * map-side combine, never corpus-pairwise. */
  def vocabProfile(docs: DataFrame, textCol: String,
      domainCol: org.apache.spark.sql.Column): DataFrame = {
    val tok = docs.select(domainCol.as("domain"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    tok.groupBy("domain", "word").agg(count(lit(1)).as("_c"))
      .groupBy("domain")
      .agg(sum("_c").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("hapax_count"))
      .withColumn("type_token_ratio",
        trunc4(col("vocab_size").cast("double") / col("n_tokens")))
  }

  /** TF-IDF keyword extraction: the top-k most DISTINCTIVE words per
    * domain — tf = word occurrences within the domain, df = number of
    * domains containing the word, tfidf = tf · ln(N/df). The standard
    * "what characterizes this source" profile, used to spot boilerplate
    * domains and drifted crawl slices.
    *
    * Oracle parity: ln is computed once per distinct word and
    * floor-truncated to 4 dp immediately (the LmScore move — sub-ulp
    * libm differences cannot survive the truncation), so the final score
    * is bit-identical across engines. Scale shape: two bounded-key
    * aggregations (domain×word, then word) and a window over the
    * per-domain score frame — vocabulary-sized, not corpus-sized. */
  def tfidfTopK(docs: DataFrame, textCol: String,
      domainCol: org.apache.spark.sql.Column, kTop: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(domainCol.as("domain"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val tf = tok.groupBy("domain", "word").agg(count(lit(1)).as("tf"))
    // tf rows are distinct (domain, word), so df = row count per word
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDomains = tf.select(countDistinct(col("domain")).as("_n"))
    val w = Window.partitionBy("domain")
      .orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, Seq("word")).crossJoin(broadcast(nDomains))
      .withColumn("_idf",
        trunc4(log(col("_n").cast("double") / col("df"))))
      .withColumn("tfidf", trunc4(col("tf") * col("_idf")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kTop)
      .select("domain", "word", "tf", "df", "tfidf", "rank")
  }

  /** BM25 ranked retrieval: top-k documents per query term under the
    * Okapi BM25 weighting (k1 = 1.2, b = 0.75, the standard defaults) —
    * the relevance engine behind corpus search, targeted decontamination
    * probes ("which documents score highest against this benchmark
    * phrase") and quality-biased selection.
    *
    *   idf(t)   = ln((N − df + 0.5) / (df + 0.5) + 1)        [BM25+-style
    *              lower-bounded idf, always ≥ 0]
    *   score(d,t) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Oracle parity: ln is floor-truncated to 4 dp the moment it is
    * computed (the LmScore discipline) and the remaining arithmetic is a
    * fixed-shape chain of IEEE mul/div over exact integers (tf, dl) and
    * one corpus constant (avgdl = Σdl/N, a single correctly-rounded
    * division) — both engines evaluate the identical expression tree, so
    * the truncated final score is bit-identical and rank ties break on
    * doc_id.
    *
    * Scale shape: ONE tokenize scan staged and reused for document
    * lengths AND term frequencies (never two corpus scans); tf is
    * filtered to the query terms BEFORE its aggregation so the per-term
    * frame is |terms|·|matching docs|, not vocabulary-sized; df and the
    * corpus stats are single-row/tiny broadcasts; the final top-k is a
    * window over the scored frame, partitioned by term. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], kTop: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty)
    val tok = stage(docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val tf = tok.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("word")
      .orderBy(col("score").desc, col("doc_id"))
    tf.join(dl, Seq("doc_id"))
      .join(broadcast(dfreq), Seq("word"))
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("tot").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", trunc4(log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0))))
      .withColumn("score", trunc4(col("idf") * ((col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kTop)
      .select(col("word"), col("rank"), col("doc_id"), col("tf"), col("dl"),
        col("score"))
  }

  /** Whole-document fingerprint: md5 of whitespace-normalized text, plus a
    * winnowing-style min-hash over 16-char windows at stride 8 (two docs
    * sharing any window hash share a 16-char run; the min over windows is
    * a cheap representative — full winnowing keeps the min per window
    * range, same building block). */
  def fingerprint(docs: DataFrame, textCol: String): DataFrame = {
    // native strided min-hash (graft.functions.StridedMinHash): identical
    // to array_min(transform(sequence(1, greatest(length(norm)-15, 1), 8),
    // i -> md5(substr(norm, i, 16)))) but one reused digest + running min
    // per row instead of an interpreted lambda per position — this was the
    // last interpreted-HOF hotspot of the map-only queries
    graft.functions.StridedMinHash.register(docs.sparkSession)
    docs.withColumn("norm",
        trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .withColumn("fp_md5", md5(col("norm")))
      .withColumn("fp_winnow", expr("strided_minhash(norm, 16, 8)"))
      .drop("norm")
  }

  /** PMI collocation extraction (Church & Hanks 1990): bigrams whose
    * observed frequency beats independence, ranked by pointwise mutual
    * information. The PMI ln is MONOTONE in the rational
    * N·c(xy) / (c(x)·c(y)), so ranking never computes a logarithm: the
    * score is the exact integer ⌊N·c(xy)·10⁶ / (c(x)·c(y))⌋ —
    * bit-identical across engines, the LmScore determinism discipline
    * applied to collocations. The numerator routes through DECIMAL(38,0)
    * UNCONDITIONALLY: in BIGINT it would exceed 2⁶³ once N·c(xy) passes
    * ~9.2×10¹², and non-ANSI arithmetic would wrap SILENTLY — a corrupted
    * ranking with no error. Decimal keeps the product exact to 38 digits
    * (N·c(xy)·10⁶ < 10³⁸ for any corpus under ~10¹⁶ tokens) and the
    * integral quotient re-narrows to BIGINT, which is safe: it is bounded
    * by N·10⁶ / minCount.
    *
    * Scale shape: one tokenize scan feeds bigram AND unigram counts
    * (vocabulary-keyed aggregations with map-side combine); the unigram
    * frame joins back twice — both sides vocabulary-sized, broadcastable;
    * final top-k is a TakeOrdered heap, never a global sort. `minCount`
    * is the classic noise floor (PMI favors hapax pairs without it). */
  def collocationsTopK(docs: DataFrame, textCol: String, k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    import graft.core.Materialize._
    val words = docs
      .select(filter(split(col(textCol), " "), x => length(x) > 0).as("w"))
    val tokens = words.select(explode(col("w")).as("tok")).staged
    val n = tokens.agg(count(lit(1)).as("n_tokens"))
    val uni = tokens.groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = words
      .select(explode(expr(
        "CASE WHEN size(w) < 2 THEN array() ELSE " +
          "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS x, element_at(w, i + 1) AS y)) " +
          "END")).as("b"))
      .groupBy(col("b.x").as("x"), col("b.y").as("y"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    bi
      .join(broadcast(uni.withColumnRenamed("tok", "x")
        .withColumnRenamed("c1", "c_x")), Seq("x"))
      .join(broadcast(uni.withColumnRenamed("tok", "y")
        .withColumnRenamed("c1", "c_y")), Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("c_xy"),
        expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * c_xy * 1000000 DIV " +
          "(CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)").as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Gopher's 8 most-cited stop words (Rae et al. 2021, A1.1 rule 6). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher document-quality rule set (Rae et al. 2021,
    * Appendix A1.1) as per-rule boolean flags — the gate every LLM data
    * pipeline since has copied or tuned. Zero shuffle: every rule is
    * doc-local array/string arithmetic inside whole-stage codegen, and
    * every RATIO threshold is realized as an integer cross-multiplication
    * (3 ≤ mean_len ≤ 10 becomes 3·n ≤ Σlen ≤ 10·n) so the flags are
    * bit-identical across engines — no float division anywhere.
    *
    * Rules: word count in [50, 100k]; mean word length in [3, 10];
    * '#' or '...' symbol-to-word ratio ≤ 0.1; ≥ 80% of words contain an
    * alphabetic character; ≥ 2 distinct [[GopherStops]] present. (The
    * bullet/ellipsis LINE rules need line structure this corpus lacks —
    * they collapse to the symbol-ratio rule here.) */
  def gopherRules(docs: DataFrame, textCol: String, idCol: String,
      stops: Seq[String] = GopherStops): DataFrame =
    docs
      .withColumn("_gw", filter(split(col(textCol), " "), x => length(x) > 0))
      .withColumn("n_words", size(col("_gw")).cast("long"))
      .withColumn("_chars",
        aggregate(col("_gw"), lit(0L), (a, x) => a + length(x)))
      .withColumn("_hash_ct",
        ((length(col(textCol)) -
          length(regexp_replace(col(textCol), "#", "")))).cast("long"))
      .withColumn("_ell_ct",
        ((length(col(textCol)) -
          length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3)
          .cast("long"))
      .withColumn("_alpha_ct",
        size(filter(col("_gw"), x => x.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("_stop_ct",
        size(array_intersect(array_distinct(col("_gw")),
          array(stops.map(lit): _*))).cast("long"))
      .select(
        col(idCol), col("n_words"),
        (col("n_words") >= 50L && col("n_words") <= 100000L)
          .as("ok_word_count"),
        (col("_chars") >= col("n_words") * 3L &&
          col("_chars") <= col("n_words") * 10L).as("ok_mean_word_len"),
        ((col("_hash_ct") + col("_ell_ct")) * 10L <= col("n_words"))
          .as("ok_symbol_ratio"),
        (col("_alpha_ct") * 5L >= col("n_words") * 4L).as("ok_alpha_words"),
        (col("_stop_ct") >= 2L).as("ok_stopwords"))
      .withColumn("pass_gopher",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_symbol_ratio") && col("ok_alpha_words") &&
          col("ok_stopwords"))
}
