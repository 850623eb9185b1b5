package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.streaming.Twin
import graft.core.Materialize.StageSyntax
import graft.ext.{Dedup, LmScore, Multimodal, Similarity, TextAnalysis}

/** Extension operators for large-scale training-data pipelines (north
  * star): dedup family, similarity search, text analysis, multimodal
  * plumbing — each verifiable against the DuckDB oracle on the documents /
  * embeddings tables.
  */
object ExtOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  // ---------- dedup family ----------

  val xDedupExact = OpQuery(
    "x_dedup_exact",
    "exact dedup by content hash, canonical keeper + dup count",
    (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash,
            min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
            FROM documents GROUP BY md5(text) ORDER BY content_hash"""))

  /** Shared CTE text: word 3-shingles → 8 seeded-md5 minhashes. */
  private val sigCte =
    """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, w,
      |        unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM words),
      |sh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s FROM pos),
      |sig AS (SELECT doc_id,
      |  min(md5('0|'||s)) AS h0, min(md5('1|'||s)) AS h1,
      |  min(md5('2|'||s)) AS h2, min(md5('3|'||s)) AS h3,
      |  min(md5('4|'||s)) AS h4, min(md5('5|'||s)) AS h5,
      |  min(md5('6|'||s)) AS h6, min(md5('7|'||s)) AS h7
      |  FROM sh GROUP BY doc_id)""".stripMargin

  val xMinhashSignature = OpQuery(
    "x_minhash_signature",
    "MinHash signatures (k=8) over word 3-shingles",
    (s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "text", "doc_id", k = 8)
        .orderBy("doc_id"),
    Some(s"WITH $sigCte SELECT * FROM sig ORDER BY doc_id"))

  val xLshCandidatePairs = OpQuery(
    "x_lsh_candidate_pairs",
    "LSH banding (2 bands × 4 rows) over MinHash signatures → candidate pairs",
    (s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(t(s, dir, "documents"), "text", "doc_id", k = 8),
        "doc_id", k = 8, bands = 2)
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $sigCte,
            banded AS (
              SELECT doc_id, md5('0'||'|'||h0||'|'||h1||'|'||h2||'|'||h3) AS band FROM sig
              UNION ALL
              SELECT doc_id, md5('1'||'|'||h4||'|'||h5||'|'||h6||'|'||h7) FROM sig)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band)
            WHERE a.doc_id < b.doc_id ORDER BY doc_a, doc_b"""))

  val xNeardupJaccard = OpQuery(
    "x_neardup_jaccard",
    "word-set Jaccard ≥0.5 over prefix-blocked candidate pairs",
    (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        substring(col("text"), 1, 50), threshold = 0.5)
        .withColumn("jaccard", col("jaccard").cast("double"))
        .orderBy("doc_a", "doc_b"),
    Some("""WITH tok AS (SELECT DISTINCT doc_id, word FROM
              (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
              WHERE length(word) > 0),
            sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            bucketed AS (SELECT doc_id, substr(text, 1, 50) AS bk FROM documents),
            cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                     FROM bucketed x JOIN bucketed y
                       ON x.bk = y.bk AND x.doc_id < y.doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM cand
                      JOIN tok ta ON ta.doc_id = doc_a
                      JOIN tok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b)
            SELECT doc_a, doc_b,
              CAST(floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0) / 10000.0
                AS DOUBLE) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0) / 10000.0 >= 0.5
            ORDER BY doc_a, doc_b"""))

  /** Shared banded/pairs CTE text (the LSH pipeline of x_lsh_candidate_pairs),
    * reused by the components oracle. */
  private val lshPairsCte =
    """banded AS (
      |  SELECT doc_id, md5('0'||'|'||h0||'|'||h1||'|'||h2||'|'||h3) AS band FROM sig
      |  UNION ALL
      |  SELECT doc_id, md5('1'||'|'||h4||'|'||h5||'|'||h6||'|'||h7) FROM sig),
      |prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |        FROM banded a JOIN banded b USING (band)
      |        WHERE a.doc_id < b.doc_id)""".stripMargin

  val xMinhashEst = OpQuery(
    "x_minhash_est",
    "signature-agreement Jaccard estimate (n_match/k) over LSH candidate " +
      "pairs - the cheap scorer between banding and exact verification",
    (s, dir) => {
      // one materialized signature pass feeds candidate generation AND
      // both sides of the estimation join (graft.core.Materialize.staged)
      val sig = Dedup.minhashSignatures(t(s, dir, "documents"), "text",
        "doc_id", k = 8).staged
      Dedup.minhashEstimate(sig,
          Dedup.lshCandidatePairs(sig, "doc_id", k = 8, bands = 2),
          "doc_id", k = 8)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $sigCte,
            $lshPairsCte
            SELECT doc_a, doc_b,
              CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END)
                 + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_match,
              CAST(((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END)
                  + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END)) / 8.0
                AS DOUBLE) AS est_jaccard
            FROM prs JOIN sig a ON a.doc_id = doc_a
            JOIN sig b ON b.doc_id = doc_b
            ORDER BY doc_a, doc_b"""))

  val xDedupComponents = OpQuery(
    "x_dedup_components",
    "connected components over LSH candidate pairs → duplicate clusters " +
      "(component = min reachable id = canonical keeper)",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, "text", "doc_id", k = 8),
        "doc_id", k = 8, bands = 2)
      Dedup.connectedComponents(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sigCte,
            $lshPairsCte,
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
                      UNION SELECT doc_b, doc_a FROM prs),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
            SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS component
            FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Leakage-safe train/val/test assignment: split by the DUPLICATE
    * CLUSTER, not the document — every member of a near-dup component
    * hashes to the same split (content-addressed on the component
    * label), so an eval split can never contain a near-copy of a
    * training document. The standard composition data-curation recipes
    * call "dedup-aware splitting": components from the LSH pair graph,
    * then the same 1/65536-quantized hash cutoffs as x_split_assign
    * applied to the component id. */
  val xSplitLeakageSafe = OpQuery(
    "x_split_leakage_safe",
    "dedup-aware split: near-dup cluster members share one train/val/test split",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, "text", "doc_id", k = 8),
        "doc_id", k = 8, bands = 2)
      val comp = Dedup.connectedComponents(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("component"))
      graft.ext.Sampling.assignSplits(comp, "component",
          head = Seq("val" -> 0.01, "test" -> 0.01), rest = "train")
        .select("doc_id", "component", "split")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sigCte,
            $lshPairsCte,
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
                      UNION SELECT doc_b, doc_a FROM prs),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS component
                     FROM reach GROUP BY id)
            SELECT doc_id, component,
              CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 4) < '028f'
                     THEN 'val'
                   WHEN substr(md5(CAST(component AS VARCHAR)), 1, 4) < '051e'
                     THEN 'test'
                   ELSE 'train' END AS split
            FROM comp ORDER BY doc_id"""))

  val xNeardupJaccard3 = OpQuery(
    "x_neardup_jaccard3",
    "3-gram-shingle Jaccard ≥0.5 over LSH candidate pairs (order-sensitive n-gram sets)",
    (s, dir) =>
      // single-scan composition: signatures AND verification derive from
      // one checkpointed 3-shingle token frame (see Dedup.lshVerifiedPairs)
      Dedup.lshVerifiedPairs(t(s, dir, "documents"), "text", "doc_id",
          k = 8, bands = 2, threshold = 0.5, ngram = 3)
        .withColumn("jaccard", col("jaccard").cast("double"))
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $sigCte,
            $lshPairsCte,
            tok AS (SELECT DISTINCT doc_id, s AS word FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM prs
                      JOIN tok ta ON ta.doc_id = doc_a
                      JOIN tok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b)
            SELECT doc_a, doc_b,
              CAST(floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0) / 10000.0
                AS DOUBLE) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0) / 10000.0 >= 0.5
            ORDER BY doc_a, doc_b"""))

  val xContainment = OpQuery(
    "x_containment_neardup",
    "subset-dup containment |A∩B|/min(|A|,|B|) ≥0.5 over df-capped shingle blocks",
    (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        ngram = 3, maxDf = 10L, threshold = 0.5)
        .withColumn("containment", col("containment").cast("double"))
        .orderBy("doc_a", "doc_b"),
    Some("""WITH words AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
            pos AS (SELECT doc_id, w,
                    unnest(generate_series(1, greatest(len(w)-2, 1))) AS i FROM words),
            sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') AS s FROM pos),
            df AS (SELECT s, count(*) AS d FROM sh GROUP BY s),
            rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE d <= 10),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i FROM cand
                      JOIN sh ta ON ta.doc_id = doc_a
                      JOIN sh tb ON tb.doc_id = doc_b AND tb.s = ta.s
                      GROUP BY doc_a, doc_b),
            c AS (SELECT doc_a, doc_b,
                  floor(CAST(i AS DOUBLE)/least(sa.n, sb.n)*10000.0)/10000.0
                    AS containment
                  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b)
            SELECT doc_a, doc_b, CAST(containment AS DOUBLE) AS containment
            FROM c WHERE containment >= 0.5 ORDER BY doc_a, doc_b"""))

  val xDedupPipeline = OpQuery(
    "x_dedup_pipeline",
    "END-TO-END dedup: MinHash → LSH → Jaccard verify → components → canonical keep",
    (s, dir) =>
      Dedup.dedupCorpus(t(s, dir, "documents"), "text", "doc_id",
          k = 8, bands = 2, threshold = 0.5)
        .withColumn("is_kept", col("is_kept").cast("long"))
        .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $sigCte,
            $lshPairsCte,
            tok AS (SELECT DISTINCT doc_id, s AS word FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM prs
                      JOIN tok ta ON ta.doc_id = doc_a
                      JOIN tok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b),
            verified AS (SELECT doc_a, doc_b
                         FROM inter
                         JOIN sizes sa ON sa.doc_id = doc_a
                         JOIN sizes sb ON sb.doc_id = doc_b
                         WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                               / 10000.0 >= 0.5),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS doc_id, min(lab) AS component
                     FROM reach GROUP BY id),
            cs AS (SELECT component, count(*) AS cluster_size
                   FROM comp GROUP BY component)
            SELECT comp.doc_id, CAST(comp.component AS BIGINT) AS component,
                   CAST(cs.cluster_size AS BIGINT) AS cluster_size,
                   CAST(comp.doc_id = comp.component AS BIGINT) AS is_kept
            FROM comp JOIN cs USING (component)
            ORDER BY doc_id"""))

  /** The dedup pipeline on the production minhash kernel
    * ([[Dedup.minhashFromTokensFast]]: one 64-bit xxhash64 per
    * (function, shingle) instead of a full md5 — 8-byte LONG signatures
    * instead of 32-char hex). DuckDB has no XXH64, so the gate follows
    * the rolling-winnowing recipe (x_decontaminate_rolling): run BOTH
    * kernels, emit the md5 pipeline's SQL-restatable rows, and fold in a
    * measured-margin boolean — Jaccard of the two VERIFIED pair sets
    * ≥ 0.9 (integer-exact arithmetic; provenance: examples.MinhashFastProbe
    * prints the measured agreement at sf0.01/sf0.1 — kernel choice only
    * moves LSH *candidate* recall at the banding margin, and every
    * emitted pair on either side is exact-Jaccard-verified, so precision
    * is 1.0 by construction). Kernel speed is measured in SCALING.md §8.
    *
    * CORPUS-SENSITIVITY CAVEAT (SCALING §8a): the 0.9 pair-set-agreement
    * threshold passes at 0.96 on this fixture but is NOT corpus-robust —
    * §8a measured agreement collapsing to ~0.50 on an open-vocab corpus
    * whose dup mass sits at the banding margin, while per-kernel RECALL
    * parity vs the rare-blocked ground truth stayed at 0.96-0.98. On a
    * regenerated or different-distribution fixture, re-gate on that
    * recall-parity metric (the §8a table's recipe) rather than raw
    * pair-set Jaccard; the hardcoded TRUE oracle encodes a property of
    * THIS fixture, not of the kernel. */
  val xDedupPipelineFast = OpQuery(
    "x_dedup_pipeline_fast",
    "dedup pipeline on the xxhash64 minhash kernel, pair-set agreement-gated vs md5",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val md5P = Dedup.lshVerifiedPairs(docs, "text", "doc_id",
        k = 8, bands = 2, threshold = 0.5).select("doc_a", "doc_b").staged
      val fastP = Dedup.lshVerifiedPairs(docs, "text", "doc_id",
        k = 8, bands = 2, threshold = 0.5, fast = true)
        .select("doc_a", "doc_b").staged
      val inter = md5P.join(fastP, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("_ni"))
      // 1-row frames: broadcast crossJoins, integer-exact gate arithmetic
      val gate = md5P.agg(count(lit(1)).as("_nm"))
        .crossJoin(broadcast(fastP.agg(count(lit(1)).as("_nf"))))
        .crossJoin(broadcast(inter))
        .select((col("_ni") * 10L >=
          (col("_nm") + col("_nf") - col("_ni")) * 9L).as("fast_ok"))
      // components over the staged md5 pair set — the same frame the
      // gate consumed, so the md5 LSH+verify pass runs exactly once
      val comps = Dedup.connectedComponents(docs, "doc_id", md5P)
      val sizes = comps.groupBy("component")
        .agg(count(lit(1)).as("cluster_size"))
      comps.join(sizes, Seq("component"))
        .select(col("id").as("doc_id"), col("component"),
          col("cluster_size"),
          (col("id") === col("component")).cast("long").as("is_kept"))
        .crossJoin(broadcast(gate))
        .orderBy("doc_id")
    },
    xDedupPipeline.oracle.map(_.replace("AS is_kept",
      "AS is_kept, TRUE AS fast_ok")))

  private val simhashBitsSql = (0 until 16).map(b =>
    s"sum(${Dedup.simhashBitSql("hh", b)}) AS b$b").mkString(", ")

  /** Shared CTE text: 16-bit SimHash per document, reused by the
    * banded near-dup join oracle. */
  private val simhashCte =
    s"""tok2 AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
      |h AS (SELECT doc_id, md5(word) AS hh FROM tok2 WHERE length(word) > 0),
      |bits AS (SELECT doc_id, count(*) AS n, $simhashBitsSql
      |         FROM h GROUP BY doc_id),
      |sh AS (SELECT doc_id,
      |  CAST(${Dedup.simhashAssembleSql(16)} AS BIGINT) AS simhash
      |  FROM bits)""".stripMargin

  val xSimhash = OpQuery(
    "x_simhash",
    "16-bit SimHash per document (majority vote over token md5 bits)",
    (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", bits = 16)
        .orderBy("doc_id"),
    Some(s"WITH $simhashCte SELECT doc_id, simhash FROM sh ORDER BY doc_id"))

  /** The banded hamming join of Manku et al. over the SimHash sketch:
    * maxHam+1 disjoint bit bands, equi-join per band, XOR+popcount
    * verify (see [[graft.ext.Dedup.simhashNeardupPairs]]). */
  val xSimhashNeardup = OpQuery(
    "x_simhash_neardup",
    "SimHash near-dup pairs: 2-band blocking, hamming <= 1 verified",
    (s, dir) =>
      Dedup.simhashNeardupPairs(t(s, dir, "documents"), "text", "doc_id",
          bits = 16, maxHam = 1)
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $simhashCte,
            banded AS (SELECT doc_id, simhash, g.b,
                (simhash >> (g.b * 8)) & 255 AS key
              FROM sh, (SELECT unnest(generate_series(0, 1)) AS b) g),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                x.simhash AS sa, y.simhash AS sb
              FROM banded x JOIN banded y
                ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 1
            ORDER BY doc_a, doc_b"""))

  /** The PRODUCTION simhash configuration, recall-gated — SCALING §8f's
    * own prescription executed: 64-bit xxhash64 sketch
    * ([[Dedup.simhashFast]] via the native kernel), Manku block-
    * combination banding at hamming ≤ 3 with nBlocks = 6 (WWW'07 §3's
    * production table design — 20 key families of ~32 bits, the r14 fix
    * for §9c's third-decade candidate blowup), gated on RECALL against
    * rare-shingle-blocked exact-Jaccard ground truth — the §8a minhash
    * recipe, NOT pair-set agreement (at 16 bits agreement is
    * margin-dominated noise; at 64 bits the sketch is selective enough
    * that recall vs verified near-dups is a stable, corpus-robust
    * property). DuckDB has no xxhash64, so the emitted rows are the
    * SQL-restatable ground-truth pairs (the same rare-blocked exact
    * Jaccard both engines can state) and the sketch's quality folds in as
    * a measured-margin boolean.
    *
    * The gate's denominator is the Jaccard ≥ 0.8 SLICE of the truth, not
    * the full ≥ 0.5 frame the query emits, because that is the metric
    * that is corpus-robust (examples.MinhashFastProbe, SCALING §9a):
    * recall vs the ≥ 0.8 truth measured 0.720 / 0.734 / 0.750 / 0.748
    * across sf0.01, sf0.1, and the open-vocab 5k/50k rehearsal corpora —
    * stable through a 10× step — while recall vs the full ≥ 0.5 truth
    * collapses from 0.73 to 0.49 on the open-vocab corpora, for the
    * structural reason that hamming ≤ 3 of 64 ≈ cosine ≥ 0.989: the
    * sketch's contract is the near-identical band (exactly Manku's
    * web-crawl use case), and a 0.5-Jaccard borderline pair is outside
    * any simhash's promise. Floor 0.60 vs the ~0.73 measured plateau. */
  val xSimhash64Neardup = OpQuery(
    "x_simhash64_neardup",
    "64-bit fast simhash (4x16 bands, hamming<=3), recall-gated vs exact-Jaccard truth",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // ground truth: rare-shingle-blocked (df <= 10) exact 3-shingle
      // Jaccard >= 0.5 — one staged shingle scan feeds blocking, sizes,
      // and both sides of the verification join.
      // Two restructures were MEASURED AND REJECTED here (r16, SCALING
      // §12i — don't re-attempt without new evidence):
      //  - All-Pairs size prefilter on the candidates: only 24% of the
      //    436k rare-blocked pairs fail min>=t*max at sf0.1 and the
      //    verify A/B is a wash (the two extra size joins eat the
      //    saving);
      //  - the containment-style rare/common split (candidate join
      //    doubling as the rare-side intersection count): −31% on the
      //    ISOLATED gt stage against a warm pre-staged token frame, but
      //    +40% at the bench (5.6–6.5 → 8.5–9.6 s): each fresh run pays
      //    two extra eager barriers, one materializing the
      //    vocabulary-sized df census, and repeated in-JVM iterations
      //    compound the staged-block load.
      val tok = Dedup.shingleTokens(docs, "text", "doc_id", 3).staged
      val dfreq = tok.groupBy("word").agg(count(lit(1)).as("_d"))
      val rare = tok.join(dfreq.filter(col("_d") <= 10).select("word"),
        Seq("word"))
      val cand = rare.select(col("id").as("doc_a"), col("word"))
        .join(rare.select(col("id").as("doc_b"), col("word")), Seq("word"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val gt = Dedup.jaccardOnTokens(tok, cand, 0.5)
        .withColumn("jaccard", col("jaccard").cast("double")).staged
      // nBlocks = 6: WWW'07 §3's production table design — C(6,3) = 20
      // key families of ~32 bits, so candidate mass stays corpus-sized
      // at the third decade instead of saturating a 16-bit keyspace
      // (SCALING §10b). Blocking is exact either way: the emitted pair
      // set — and therefore this gate — is identical to the 4-band shape.
      val sim = Dedup.simhashNeardupPairs(docs, "text", "doc_id",
        bits = 64, maxHam = 3, fast = true, nBlocks = 6)
        .select("doc_a", "doc_b")
      // gate slice: the >= 0.8 band of the already-staged truth frame
      val hi = gt.filter(col("jaccard") >= 0.8)
      val hit = hi.join(sim, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("_nh"))
      // 1-row frames: broadcast crossJoins, integer-exact gate arithmetic
      val gate = hi.agg(count(lit(1)).as("_ng"))
        .crossJoin(broadcast(hit))
        .select((col("_nh") * 100L >= col("_ng") * 60L)
          .as("sim64_recall_ok"))
      gt.crossJoin(broadcast(gate)).orderBy("doc_a", "doc_b")
    },
    Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                           FROM documents),
            pos AS (SELECT doc_id, w,
                unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
              FROM words),
            sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
                   FROM pos),
            dfreq AS (SELECT s, count(*) AS d FROM sh GROUP BY s),
            rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfreq USING (s)
                     WHERE d <= 10),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM rare a JOIN rare b
                       ON a.s = b.s AND a.doc_id < b.doc_id),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM cand
                      JOIN sh ta ON ta.doc_id = doc_a
                      JOIN sh tb ON tb.doc_id = doc_b AND tb.s = ta.s
                      GROUP BY doc_a, doc_b)
            SELECT doc_a, doc_b,
              CAST(floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                / 10000.0 AS DOUBLE) AS jaccard,
              TRUE AS sim64_recall_ok
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
              / 10000.0 >= 0.5
            ORDER BY doc_a, doc_b"""))

  // ---------- similarity search ----------

  /** Oracle CTEs shared by both ANN queries: per-pair double dot products
    * + norms via zipped unnest. */
  private val dotsCte =
    """q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
      |qx AS (SELECT qid, unnest(qe) AS qv,
      |       unnest(generate_series(1, len(qe))) AS i FROM q),
      |cx AS (SELECT vec_id AS cid, unnest(embedding) AS cv,
      |       unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      |dots AS (SELECT qid, cid, sum(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE)) AS dot
      |         FROM qx JOIN cx USING (i) GROUP BY qid, cid),
      |norms AS (SELECT vec_id AS id, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS nrm
      |          FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings)
      |          GROUP BY vec_id)""".stripMargin

  /** Brute-force top-5 statement with a literal-TRUE gate column appended —
    * the oracle side of the recall-gated ANN promotions (see
    * [[graft.ext.Similarity.recallGate]]): the Spark side restates the
    * exact ranking and computes `recall_ok` from the approximate path, so
    * the driver hash bites on a recall violation. */
  private val bruteforceGatedSql =
    s"""WITH $dotsCte,
       scored AS (SELECT qid, cid,
           floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
         FROM dots JOIN norms qn ON qn.id = qid
         JOIN norms cn ON cn.id = cid WHERE cid <> qid),
       ranked AS (SELECT *, row_number() OVER
           (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
       SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
              CAST(rank AS BIGINT) AS rank, TRUE AS recall_ok
       FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""

  /** Exact rows + a single corpus-wide recall bound: `recall_ok` =
    * (total |approx ∩ exact| over all queries ≥ minTotalHits). Used where
    * per-query recall legitimately hits 0 for some query (PQ / IVF-PQ over
    * random coarse cells) but the aggregate recall is far above chance —
    * measured by the BoundsProbe main (removed; see git 5da4baf): PQ
    * totals 13–15 of 40 across SFs
    * (chance ≈ 0.4), IVF-PQ 5–9; bounds sit ≥ 40% below the observed
    * minimum. */
  private def recallGatedTotal(exact: DataFrame, approx: DataFrame,
      minTotalHits: Int): DataFrame = {
    val tot = exact.select("qid", "cid")
      .join(approx.select("qid", "cid"), Seq("qid", "cid"), "left_semi")
      .agg(count(lit(1)).as("tot"))
    exact.crossJoin(broadcast(tot))
      .withColumn("recall_ok", col("tot") >= minTotalHits)
      .drop("tot")
  }

  val xAnnBruteforce = OpQuery(
    "x_ann_bruteforce",
    "brute-force cosine top-5 neighbors for 8 query vectors",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $dotsCte,
            scored AS (SELECT qid, cid,
                floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM dots JOIN norms qn ON qn.id = qid
              JOIN norms cn ON cn.id = cid WHERE cid <> qid),
            ranked AS (SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
            SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  val xAnnNative = OpQuery(
    "x_ann_native_expr",
    "brute-force cosine top-5 via the native codegen'd VectorCosine expression",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineTopKNative(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    // identical oracle to x_ann_bruteforce: the expression must agree
    // bit-for-bit with the zip_with fold (same index-order double sums)
    xAnnBruteforce.oracle)

  /** Exportable per-label mean embeddings. Fixed-point (floor(v·1e6)
    * BIGINT) sums make the cross-row aggregation order-independent and
    * engine-exact — the float-sum nondeterminism that keeps the internal
    * [[graft.ext.Similarity.centroids]] un-oracle-able is engineered out
    * here (see the impl scaladoc). */
  val xEmbedCentroids = OpQuery(
    "x_embed_centroids",
    "per-label mean embedding (fixed-point exact) - centroid/seed export",
    (s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "dim"),
    Some("""WITH x AS (SELECT label,
              unnest(embedding) AS v,
              unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings),
            g AS (SELECT CAST(label AS BIGINT) AS label,
                CAST(i - 1 AS BIGINT) AS dim,
                CAST(count(*) AS BIGINT) AS n_vecs,
                sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS qs
              FROM x GROUP BY 1, 2)
            SELECT label, dim, n_vecs,
              CAST(floor(CAST(qs AS DOUBLE) / (n_vecs * 1000000.0) * 10000.0)
                / 10000.0 AS DOUBLE) AS centroid
            FROM g ORDER BY label, dim"""))

  /** The memory-scale path for brute force: per-vector symmetric int8
    * quantization (4× smaller corpus, integer dot products; the scales
    * cancel out of cosine so ranking never dequantizes). The oracle
    * restates the quantization formula and the integer dot ranking, so
    * code assignment AND ranking are hash-gated; recall vs the float
    * ranking is spec-gated (ExtSpec). */
  val xAnnSq8 = OpQuery(
    "x_ann_sq8",
    "brute-force cosine top-5 over int8 scalar-quantized vectors",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineTopKSq8(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some("""WITH eq AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(
                CASE WHEN s = 0 THEN 0
                     ELSE floor(CAST(x AS DOUBLE) / s * 127.0 + 0.5)
                END AS BIGINT)) AS q
              FROM (SELECT vec_id, embedding,
                      list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS s
                    FROM embeddings)),
            qn AS (SELECT vec_id AS id, sum(v * v) AS nrm
                   FROM (SELECT vec_id, unnest(q) AS v FROM eq)
                   GROUP BY vec_id),
            qx AS (SELECT vec_id AS qid, unnest(q) AS qv,
                   unnest(generate_series(1, len(q))) AS i
                   FROM eq WHERE vec_id < 8),
            cx AS (SELECT vec_id AS cid, unnest(q) AS cv,
                   unnest(generate_series(1, len(q))) AS i FROM eq),
            dots AS (SELECT qid, cid, sum(qv * cv) AS dot
                     FROM qx JOIN cx USING (i) GROUP BY qid, cid),
            scored AS (SELECT qid, cid,
                floor(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
                      * 1000000.0) / 1000000.0 AS cosine
              FROM dots JOIN qn a ON a.id = qid
              JOIN qn b ON b.id = cid WHERE cid <> qid),
            ranked AS (SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
            SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Product quantization + ADC: the memory-scale ANN path (m codes per
    * vector instead of 4·dim float bytes). The codebook trains as a
    * Lloyd's fixpoint — not SQL-restatable — so the oracle gate is the
    * bounds-promotion recipe (x_approx_distinct_bounds): the query runs
    * the REAL trained-PQ ranking, measures its recall against the exact
    * brute-force top-5 computed in the same query, and emits the exact
    * rows plus `recall_ok` = (Σ hits ≥ 8 of 40). The oracle restates the
    * brute-force side + literal TRUE, so the driver hash FAILS if ADC
    * ranking ever degrades toward chance (chance ≈ 0.4 total hits;
    * measured 13–15 across SFs — BoundsProbe, removed; see git
    * 5da4baf). Exactness of the
    * ADC machinery itself is separately hash-gated by x_ann_pq_exact. */
  val xAnnPq = OpQuery(
    "x_ann_pq",
    "product-quantized cosine top-5 (m=16 x 16 codes, ADC), recall-bound-gated vs exact",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val approx = Similarity.pqTopK(e, "vec_id", "embedding", q,
        k = 5, m = 16, ksub = 16, iters = 3)
      val exact = Similarity.cosineTopK(e, "vec_id", "embedding", q, k = 5)
      recallGatedTotal(exact, approx, minTotalHits = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceGatedSql))

  /** IVF-PQ: coarse-cell probe pruning composed with PQ-code ADC
    * scoring — the production ANN shape at corpus scale. Both halves are
    * Lloyd's artifacts → the gate is the recall-bound promotion: exact
    * brute-force rows + `recall_ok` = (Σ hits ≥ 3 of 40). The bound is
    * low because the synthetic `label` coarse cells are RANDOM — probing
    * 2 of 8 keeps ~25% of candidates, compounding with PQ error
    * (measured totals 5–9 across SFs vs chance 0.4 —
    * BoundsProbe, removed; see git 5da4baf. The k-means-cell
    * composition is the high-recall variant, x_ann_ivf_kmeans). Machinery exactness is
    * hash-gated by x_ann_ivfpq_exact; probe/full equivalence by ExtSpec. */
  val xAnnIvfPq = OpQuery(
    "x_ann_ivfpq",
    "IVF-PQ cosine top-5 (probe 2 cells, ADC scoring), recall-bound-gated vs exact",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val approx = Similarity.ivfPqTopK(e, "vec_id", "embedding", "label", q,
        k = 5, nProbe = 2, m = 16, ksub = 16)
      val exact = Similarity.cosineTopK(e, "vec_id", "embedding", q, k = 5)
      recallGatedTotal(exact, approx, minTotalHits = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceGatedSql))

  /** IVF-PQ + exact re-rank ([[Similarity.ivfPqRerankTopK]]) — the
    * composition SCALING.md §6b prescribes for IVF-PQ's measured recall
    * decay at scale (0.338 → 0.213 at 10× vectors at fixed m×ksub): ADC
    * generates top-C=20 candidates per query cheaply, then only those C
    * raw vectors are re-scored by exact cosine, so PQ error only has to
    * keep a neighbor inside the top-C, not rank it into the top-k. Gate:
    * the recall-bound promotion with a HIGHER floor than plain IVF-PQ's
    * (Σ hits ≥ 4 of 40 vs ivfpq's ≥ 3) — measured totals 7–13 across SFs
    * vs ivfpq's 5–9 and chance 0.4 (BoundsProbe, removed; see git
    * 5da4baf. The residual
    * ceiling is the 2-of-8 RANDOM `label` cells probed, which bound
    * recall at ~25% regardless of ranking quality). The rerank stage's
    * scores are exact by construction, so any gate failure isolates to
    * candidate generation. */
  val xAnnIvfPqRerank = OpQuery(
    "x_ann_ivfpq_rerank",
    "IVF-PQ top-20 candidates + exact cosine re-rank to top-5, recall-bound-gated",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val approx = Similarity.ivfPqRerankTopK(e, "vec_id", "embedding",
        "label", q, k = 5, nProbe = 2, m = 16, ksub = 16, coarseC = 20)
      val exact = Similarity.cosineTopK(e, "vec_id", "embedding", q, k = 5)
      recallGatedTotal(exact, approx, minTotalHits = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceGatedSql))

  /** Filtered vector search (the "pre-filter" serving composition):
    * top-k among ONLY the candidates passing a metadata predicate —
    * exact within the filtered set. The predicate is a plain Column, so
    * it reaches the parquet scan as a pushed filter (PlanSpec) instead
    * of post-filtering scored results. */
  val xAnnFiltered = OpQuery(
    "x_ann_filtered",
    "filtered vector search: cosine top-5 among candidates with label <= 3 only",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineTopKFiltered(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), k = 5,
          candidatePred = col("label") <= 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe
                       FROM embeddings WHERE vec_id < 8),
            qx AS (SELECT qid, unnest(qe) AS qv,
                   unnest(generate_series(1, len(qe))) AS i FROM q),
            cx AS (SELECT vec_id AS cid, unnest(embedding) AS cv,
                   unnest(generate_series(1, len(embedding))) AS i
                   FROM embeddings WHERE label <= 3),
            dots AS (SELECT qid, cid,
                     sum(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE)) AS dot
                     FROM qx JOIN cx USING (i) GROUP BY qid, cid),
            norms AS (SELECT vec_id AS id,
                      sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS nrm
                      FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings)
                      GROUP BY vec_id),
            scored AS (SELECT qid, cid,
                floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM dots JOIN norms qn ON qn.id = qid
              JOIN norms cn ON cn.id = cid WHERE cid <> qid),
            ranked AS (SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
            SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  val xAnnIvf = OpQuery(
    "x_ann_ivf",
    "IVF cosine top-5: probe 2 nearest label-centroids, scan only those clusters",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, "vec_id", "embedding", "label",
          e.filter(col("vec_id") < 8), k = 5, nProbe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $dotsCte,
            cents AS (SELECT label AS cluster, i, avg(CAST(v AS DOUBLE)) AS cv
              FROM (SELECT label, unnest(embedding) AS v,
                    unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
              GROUP BY label, i),
            cnorm AS (SELECT cluster, sum(cv * cv) AS nrm FROM cents GROUP BY cluster),
            cdots AS (SELECT qid, cluster, sum(CAST(qv AS DOUBLE) * cv) AS dot
              FROM qx JOIN cents ON cents.i = qx.i GROUP BY qid, cluster),
            cscore AS (SELECT qid, cdots.cluster AS cluster,
                floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM cdots JOIN norms qn ON qn.id = qid
              JOIN cnorm cn ON cn.cluster = cdots.cluster),
            probed AS (SELECT qid, cluster FROM
              (SELECT *, row_number() OVER
                 (PARTITION BY qid ORDER BY cosine DESC, cluster) AS r FROM cscore)
              WHERE r <= 2),
            scored AS (SELECT d.qid, d.cid,
                floor(d.dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM dots d
              JOIN embeddings e ON e.vec_id = d.cid
              JOIN probed p ON p.qid = d.qid AND p.cluster = e.label
              JOIN norms qn ON qn.id = d.qid
              JOIN norms cn ON cn.id = d.cid
              WHERE d.cid <> d.qid),
            ranked AS (SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
            SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Frozen k-means IVF ingest artifact for `dir`'s embeddings table —
    * cells assigned ([[Similarity.kmeansAssign]], deterministic: seeded
    * by the k smallest ids, fixed iterations) and the clustered physical
    * layout written ([[Similarity.writeClustered]]) ONCE per JVM per
    * (dir, k, iters), then shared by every ANN query and every bench
    * iteration (VERDICT r10 #6: each invocation used to re-train and
    * rewrite ~2 s of identical artifact). This is the production shape —
    * an index is built at ingest, queries only probe it — and because the
    * trainer is deterministic, reuse is result-identical to rebuild. */
  private def frozenKmeansLayout(s: SparkSession, dir: String,
      k: Int, iters: Int): String =
    graft.core.Scratch.cached(s"kmeans_layout|$dir|k=$k|iters=$iters") { path =>
      val e = t(s, dir, "embeddings")
      val cells = Similarity
        .kmeansAssign(e, "vec_id", "embedding", k = k, iters = iters)
        .withColumnRenamed("id", "vec_id")
      Similarity.writeClustered(e.join(cells, Seq("vec_id")), "cluster", path)
    }

  /** The REAL IVF path: k-means cells (not the synthetic random `label`
    * column) + the clustered physical layout, end to end — quantize at
    * ingest ([[Similarity.kmeansAssign]], deterministic: seeded by the k
    * smallest ids, fixed iterations), persist partitioned by cell
    * ([[Similarity.writeClustered]]), then probe 2 cells per query over
    * the partition-pruned layout. The k-means fixpoint is impractical to
    * restate in SQL, so the gate is the recall-bound promotion
    * ([[graft.ext.Similarity.recallGate]]): exact brute-force rows +
    * per-query `recall_ok` = (hits@5 ≥ 2). k-means cells co-locate true
    * neighbors, so recall is HIGH — measured per-query minimum 3/5 across
    * SFs, average 4.5–4.9 (BoundsProbe, removed; see git 5da4baf) — and
    * the per-query form
    * of the gate holds (unlike the random-cell IVF-PQ, gated on the
    * corpus-wide total). ExtSpec additionally pins recall ≥ 0.6 and
    * partition pruning on the probed scan. */
  val xAnnIvfKmeans = OpQuery(
    "x_ann_ivf_kmeans",
    "IVF top-5 probing k-means cells over the clustered layout, recall-gated vs exact",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // frozen ingest artifact: trained/written once per JVM, shared
      // with st_ann_serve_stream (and all bench iterations)
      val path = frozenKmeansLayout(s, dir, k = 8, iters = 3)
      val layout = s.read.parquet(path)
      val approx = Similarity.ivfTopK(layout, "vec_id", "embedding", "cluster",
        layout.filter(col("vec_id") < 8), k = 5, nProbe = 2)
      val exact = Similarity.cosineTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), k = 5)
      Similarity.recallGate(exact, approx, minHits = 2)
        .drop("hits_at_k")
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceGatedSql))

  /** The §11e probe policy AS THE CODED DEFAULT (VERDICT r15 #2),
    * registry-gated: cells = ⌈√N⌉ derived from the corpus count
    * ([[Similarity.policyCells]]), a near-constant nProbe
    * ([[Similarity.PolicyNProbe]] = 8 → candidates ∝ √N, the measured
    * fourth-decade cost law), and the recall-audit escalation as the
    * fallback ([[Similarity.ivfPolicyTopK]]: nProbe doubles until the
    * audit passes or the probed fraction reaches the 25%-of-cells
    * constant-recall regime). The quantizer layout is the same frozen
    * ingest artifact discipline as x_ann_ivf_kmeans, keyed by the
    * policy's own cell count. Gate: recall-bound promotion vs the exact
    * top-5 (the x_ann pattern — the oracle restates the exact side and
    * literal TRUE, so the driver hash bites if the policy's recall ever
    * drops below the audit floor it just enforced). */
  val xAnnIvfPolicy = OpQuery(
    "x_ann_ivf_policy",
    "IVF top-5 under the coded √N probe policy (cells=⌈√N⌉, near-constant nProbe, audit escalation)",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cells = Similarity.policyCells(e.count())
      val path = frozenKmeansLayout(s, dir, k = cells, iters = 3)
      val layout = s.read.parquet(path)
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.cosineTopK(e, "vec_id", "embedding", q, k = 5)
      val approx = Similarity.ivfPolicyTopK(layout, "vec_id", "embedding",
        "cluster", q, k = 5, cells = cells, minRecall = 0.8,
        exactTruth = Some(exact))
      recallGatedTotal(exact, approx, minTotalHits = 24)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceGatedSql))

  /** ANN SERVING, streaming-executed — the similarity family's streaming
    * twin (every other family already has one): the index half of
    * x_ann_ivf_kmeans is an INGEST artifact (k-means cells + the
    * clustered physical layout, both frozen before the stream starts),
    * and queries arrive as micro-batches that probe it — the
    * query-stream-against-frozen-index shape an online vector-serving
    * tier runs. Per-query output depends only on the query row and the
    * frozen layout/corpus, so the streamed union over ANY batching
    * equals the batch run and the query shares x_ann_ivf_kmeans's
    * recall-gated oracle verbatim (per-query hits@5 ≥ 2 vs measured
    * min 3 — BoundsProbe, removed; see git 5da4baf). */
  val stAnnServe = OpQuery(
    "st_ann_serve_stream",
    "streaming ANN serving: query stream probes a frozen k-means IVF layout",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // frozen ingest artifact: quantize + clustered layout, built once
      // per JVM and shared with x_ann_ivf_kmeans (the serving tier reads
      // the index the ingest job built — it never trains)
      val layoutPath = frozenKmeansLayout(s, dir, k = 8, iters = 3)
      // the recall gate's EXACT side depends only on the frozen corpus
      // and the frozen query panel — materialize it once before the
      // stream (gate bookkeeping, like the index itself); each batch
      // semi-joins it down to its own qids
      val exactAll = Similarity.cosineTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), k = 5)
      val exactPath = graft.core.Scratch.cached(
        s"ann_serve_exact|$dir|k=5|panel<8") { p =>
        // cached() hands over an existing (empty) directory
        exactAll.write.mode("overwrite").parquet(p)
      }
      val stream = Tables.stream(s, dir, "embeddings")
        .filter(col("vec_id") < 8) // the query set arrives as a stream
      val out = Twin.parquet(stream, "graft_ann_serve_stream_") { (batch, _, dst) =>
        val layout = s.read.parquet(layoutPath)
        val approx = Similarity.ivfTopK(layout, "vec_id", "embedding",
          "cluster", batch, k = 5, nProbe = 2)
        val exact = s.read.parquet(exactPath).join(
          broadcast(batch.select(col("vec_id").as("qid"))),
          Seq("qid"), "left_semi")
        Similarity.recallGate(exact, approx, minHits = 2)
          .drop("hits_at_k")
          .withColumn("rank", col("rank").cast("long"))
          .write.mode("append").parquet(dst)
      }
      s.read.parquet(out).orderBy("qid", "rank")
    },
    Some(bruteforceGatedSql))

  val xCosineNeardup = OpQuery(
    "x_cosine_neardup",
    "embedding-cosine near-dup pairs ≥0.35, blocked within label clusters",
    (s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.35)
        .orderBy("doc_a", "doc_b"),
    Some("""WITH v AS (SELECT label, vec_id, unnest(embedding) AS x,
                unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
            norms AS (SELECT vec_id AS id, sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nrm
                      FROM v GROUP BY vec_id),
            pairs AS (SELECT a.label, a.vec_id AS doc_a, b.vec_id AS doc_b,
                sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
              FROM v a JOIN v b ON a.label = b.label AND a.i = b.i
                AND a.vec_id < b.vec_id
              GROUP BY a.label, a.vec_id, b.vec_id),
            scored AS (SELECT doc_a, doc_b,
                floor(dot / (sqrt(na.nrm) * sqrt(nb.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM pairs JOIN norms na ON na.id = doc_a
              JOIN norms nb ON nb.id = doc_b)
            SELECT doc_a, doc_b, CAST(cosine AS DOUBLE) AS cosine
            FROM scored WHERE cosine >= 0.35 ORDER BY doc_a, doc_b"""))

  /** Semantic dedup over embeddings (SemDedup): cosine edges within label
    * cells → connected components → canonical min-id keeper. The gated
    * variant blocks on the synthetic `label` column so the whole
    * composition is SQL-expressible; the kmeansAssign-blocked variant is
    * the same code path with a computed cluster column (spec-covered,
    * like x_ann_ivf_kmeans vs x_ann_ivf). */
  val xSemDedup = OpQuery(
    "x_semdedup",
    "SemDedup: embedding-cosine edges (≥0.35) → components → canonical keep",
    (s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", threshold = 0.35)
        .withColumn("is_kept", col("is_kept").cast("long"))
        .orderBy("vec_id"),
    Some("""WITH RECURSIVE v AS (SELECT label, vec_id, unnest(embedding) AS x,
                unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
            norms AS (SELECT vec_id AS id, sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nrm
                      FROM v GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
              FROM v a JOIN v b ON a.label = b.label AND a.i = b.i
                AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id),
            verified AS (SELECT doc_a, doc_b
              FROM dots JOIN norms na ON na.id = doc_a
              JOIN norms nb ON nb.id = doc_b
              WHERE floor(dot / (sqrt(na.nrm) * sqrt(nb.nrm)) * 1000000.0)
                    / 1000000.0 >= 0.35),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS vec_id, min(lab) AS component
                     FROM reach GROUP BY id),
            cs AS (SELECT component, count(*) AS cluster_size
                   FROM comp GROUP BY component)
            SELECT comp.vec_id, CAST(comp.component AS BIGINT) AS component,
                   CAST(cs.cluster_size AS BIGINT) AS cluster_size,
                   CAST(comp.vec_id = comp.component AS BIGINT) AS is_kept
            FROM comp JOIN cs USING (component)
            ORDER BY vec_id"""))

  // ---------- memorizing-fixture promotions (oracle-gated twins of the
  // Lloyd's-fixpoint queries) ----------
  //
  // The trained k-means / PQ codebooks above are Lloyd's fixpoints — not
  // SQL-restatable in general. But one configuration IS: when the fit set
  // has no more distinct (sub)vectors than the codebook has cells, the
  // deterministic smallest-id seeding makes the codebook MEMORIZE the fit
  // set (with iters = 1 the seeds ARE the codebook, no convergence
  // argument needed), quantization error is zero, and the approximate
  // ranking collapses to the exact one — which the brute-force SQL oracle
  // states directly. These entries run the REAL trained-quantizer code
  // paths (kmeansAssign / pqModel / probeCells — nothing stubbed) in that
  // configuration, so the driver hash-gates the machinery end to end;
  // the full-scale approximate configurations above stay rows-only +
  // spec-gated for recall.

  /** Brute-force oracle CTEs restricted to corpus vec_id < maxId. */
  private def dotsCteCapped(maxId: Int) =
    s"""q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |qx AS (SELECT qid, unnest(qe) AS qv,
       |       unnest(generate_series(1, len(qe))) AS i FROM q),
       |cx AS (SELECT vec_id AS cid, unnest(embedding) AS cv,
       |       unnest(generate_series(1, len(embedding))) AS i FROM embeddings
       |       WHERE vec_id < $maxId),
       |dots AS (SELECT qid, cid, sum(CAST(qv AS DOUBLE) * CAST(cv AS DOUBLE)) AS dot
       |         FROM qx JOIN cx USING (i) GROUP BY qid, cid),
       |norms AS (SELECT vec_id AS id, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS nrm
       |          FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings
       |                WHERE vec_id < $maxId)
       |          GROUP BY vec_id)""".stripMargin

  private def bruteforceCappedSql(maxId: Int, k: Int) =
    s"""WITH ${dotsCteCapped(maxId)},
       scored AS (SELECT qid, cid,
           floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
         FROM dots JOIN norms qn ON qn.id = qid
         JOIN norms cn ON cn.id = cid WHERE cid <> qid),
       ranked AS (SELECT *, row_number() OVER
           (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
       SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
              CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= $k ORDER BY qid, rank"""

  /** k-means IVF in the memorizing configuration: k = |corpus| cells with
    * smallest-id seeds ⇒ every vector is its own cell (argmax cosine to a
    * seed set containing yourself is yourself), cell centroids are the
    * vectors, and probing the nProbe most query-similar cells enumerates
    * exactly the nProbe most query-similar vectors. With nProbe ≥ k+1 the
    * candidates always contain the true top-k, so ivfTopK over the
    * quantizer's own output equals brute force — the SQL oracle. Probe
    * tie-break (cell-index asc = id asc) matches the brute-force rank
    * tie-break (cid asc), so even floored-cosine ties agree. */
  val xAnnKmeansExact = OpQuery(
    "x_ann_kmeans_exact",
    "kmeansAssign+ivfTopK in the memorizing config (k=|corpus|): equals brute-force top-5",
    (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 24)
      val cells = Similarity
        .kmeansAssign(e, "vec_id", "embedding", k = 24, iters = 1)
        .withColumnRenamed("id", "vec_id")
      Similarity.ivfTopK(e.join(cells, Seq("vec_id")), "vec_id", "embedding",
          "cluster", e.filter(col("vec_id") < 8), k = 5, nProbe = 6)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceCappedSql(maxId = 24, k = 5)))

  /** PQ-ADC in the memorizing configuration: ksub = |corpus| and iters = 1
    * make the per-subspace codebook exactly the corpus subvectors (the
    * smallest-id seeds), so every vector encodes to itself, the ADC LUT
    * sum reproduces the exact dot product (blocked summation), and the
    * ADC ranking equals brute force within the corpus. Exercises the real
    * pqModel collect→literal→encode→LUT path the approximate x_ann_pq
    * uses, now under the driver's hash gate. */
  val xAnnPqExact = OpQuery(
    "x_ann_pq_exact",
    "pqTopK in the memorizing config (ksub=|corpus|): ADC equals brute-force top-5",
    (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 16)
      Similarity.pqTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), k = 5, m = 16, ksub = 16, iters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(bruteforceCappedSql(maxId = 16, k = 5)))

  /** IVF-PQ with label coarse cells + memorizing PQ codebook: probe
    * selection is SQL-expressible (per-label mean centroids, cosine rank,
    * top-2 cells — the x_ann_ivf oracle recipe) and the memorizing PQ
    * scores survivors exactly, so the whole composition is hash-gated. */
  val xAnnIvfPqExact = OpQuery(
    "x_ann_ivfpq_exact",
    "ivfPqTopK, label cells + memorizing PQ codebook: probe top-2 cells, exact ADC top-3",
    (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 16)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", "label",
          e.filter(col("vec_id") < 8), k = 3, nProbe = 2,
          m = 16, ksub = 16, iters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ${dotsCteCapped(16)},
            cents AS (SELECT label AS cluster, i, avg(CAST(v AS DOUBLE)) AS cv
              FROM (SELECT label, unnest(embedding) AS v,
                    unnest(generate_series(1, len(embedding))) AS i
                    FROM embeddings WHERE vec_id < 16)
              GROUP BY label, i),
            cnorm AS (SELECT cluster, sum(cv * cv) AS nrm FROM cents GROUP BY cluster),
            cdots AS (SELECT qid, cluster, sum(CAST(qv AS DOUBLE) * cv) AS dot
              FROM qx JOIN cents ON cents.i = qx.i GROUP BY qid, cluster),
            cscore AS (SELECT qid, cdots.cluster AS cluster,
                floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM cdots JOIN norms qn ON qn.id = qid
              JOIN cnorm cn ON cn.cluster = cdots.cluster),
            probed AS (SELECT qid, cluster FROM
              (SELECT *, row_number() OVER
                 (PARTITION BY qid ORDER BY cosine DESC, cluster) AS r FROM cscore)
              WHERE r <= 2),
            scored AS (SELECT d.qid, d.cid,
                floor(d.dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0) / 1000000.0 AS cosine
              FROM dots d
              JOIN embeddings e ON e.vec_id = d.cid
              JOIN probed p ON p.qid = d.qid AND p.cluster = e.label
              JOIN norms qn ON qn.id = d.qid
              JOIN norms cn ON cn.id = d.cid
              WHERE d.cid <> d.qid),
            ranked AS (SELECT *, row_number() OVER
                (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank FROM scored)
            SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""))

  /** SemDedup over TRAINED quantizer cells, hash-gated: with iters = 1
    * the k-means "fixpoint" is just the seed assignment — cluster(v) =
    * argmax over the 8 smallest-id seed vectors of dot(v, seed)/|seed|,
    * ties to the lower cell — which IS SQL-restatable. The oracle
    * computes the assignment, then runs the x_semdedup recipe (cosine
    * edges within cells → recursive-CTE components → min-id keep) on the
    * computed cells instead of the synthetic label column. */
  val xSemDedupKmeans1r = OpQuery(
    "x_semdedup_kmeans_1round",
    "SemDedup over 1-round k-means cells (seed-argmax assignment, SQL-restatable)",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cells = Similarity
        .kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 1)
        .withColumnRenamed("id", "vec_id")
      Similarity.semanticDedup(e.join(cells, Seq("vec_id")),
          "vec_id", "embedding", "cluster", threshold = 0.35)
        .withColumn("is_kept", col("is_kept").cast("long"))
        .orderBy("vec_id")
    },
    Some(semDedupKmeans1rSql("")))

  /** The 1-round-cell SemDedup statement, with optional extra literal
    * columns appended to the final projection — reused verbatim by the
    * stability-gated x_semdedup_kmeans (extra `TRUE AS stable_ok`). */
  private def semDedupKmeans1rSql(extraCols: String,
      keptAlias: String = "is_kept"): String =
    s"""WITH RECURSIVE
            sd AS (SELECT embedding AS se,
                     row_number() OVER (ORDER BY vec_id) - 1 AS cluster
                   FROM embeddings ORDER BY vec_id LIMIT 8),
            sx AS (SELECT cluster, unnest(se) AS sv,
                   unnest(generate_series(1, len(se))) AS i FROM sd),
            snorm AS (SELECT cluster,
                sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) AS nrm
              FROM sx GROUP BY cluster),
            vx AS (SELECT vec_id, unnest(embedding) AS v,
                   unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
            sdots AS (SELECT vec_id, sx.cluster AS cluster,
                sum(CAST(v AS DOUBLE) * CAST(sv AS DOUBLE)) AS dot
              FROM vx JOIN sx USING (i) GROUP BY vec_id, sx.cluster),
            assign AS (SELECT vec_id, cluster FROM
              (SELECT vec_id, sdots.cluster AS cluster, row_number() OVER
                 (PARTITION BY vec_id
                  ORDER BY dot / sqrt(snorm.nrm) DESC, sdots.cluster) AS r
               FROM sdots JOIN snorm ON snorm.cluster = sdots.cluster)
              WHERE r = 1),
            norms AS (SELECT vec_id AS id,
                sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS nrm
              FROM vx GROUP BY vec_id),
            dots AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
              FROM (SELECT vx.*, assign.cluster FROM vx
                    JOIN assign USING (vec_id)) a
              JOIN (SELECT vx.*, assign.cluster FROM vx
                    JOIN assign USING (vec_id)) b
                ON a.cluster = b.cluster AND a.i = b.i
                AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id),
            verified AS (SELECT doc_a, doc_b
              FROM dots JOIN norms na ON na.id = doc_a
              JOIN norms nb ON nb.id = doc_b
              WHERE floor(dot / (sqrt(na.nrm) * sqrt(nb.nrm)) * 1000000.0)
                    / 1000000.0 >= 0.35),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS vec_id, min(lab) AS component
                     FROM reach GROUP BY id),
            cs AS (SELECT component, count(*) AS cluster_size
                   FROM comp GROUP BY component)
            SELECT comp.vec_id, CAST(comp.component AS BIGINT) AS component,
                   CAST(cs.cluster_size AS BIGINT) AS cluster_size,
                   CAST(comp.vec_id = comp.component AS BIGINT) AS $keptAlias$extraCols
            FROM comp JOIN cs USING (component)
            ORDER BY vec_id"""

  /** The production SemDedup composition (k-means cells, iters = 3),
    * promoted to hash-green via the stability-bound recipe: the converged
    * fixpoint is not SQL-restatable, but the 1-round seed-argmax
    * assignment IS (x_semdedup_kmeans_1round), and further Lloyd rounds
    * only refine cell boundaries -- the keep/drop decisions they produce
    * agree with the 1-round run on the vast majority of documents
    * (measured 0.80-0.93 across SFs by BoundsProbe, removed; see git
    * 5da4baf). The query
    * runs BOTH variants, emits the SQL-restatable 1-round rows plus
    * `stable_ok` = (keep-decision agreement fraction >= 0.70), and the
    * oracle restates the 1-round side + literal TRUE -- so the driver hash
    * bites if the converged trainer ever drifts wholesale from its seed
    * assignment, the signature of a broken Lloyd update.
    *
    * COLUMN CONTRACT: the emitted per-row columns (component,
    * cluster_size, is_kept_1r) are the 1-ROUND assignment — the
    * SQL-restatable side of the gate, named `is_kept_1r` precisely so it
    * cannot be misread as the production iters=3 decision; the iters=3 run
    * participates only through the aggregate `stable_ok`. A consumer who
    * wants the converged per-row decisions runs
    * `Similarity.semanticDedup` over `kmeansAssign(iters = 3)` directly
    * (the d3 frame below). */
  val xSemDedupKmeansGated = OpQuery(
    "x_semdedup_kmeans",
    "SemDedup k-means stability gate: 1-round rows (is_kept_1r) + iters=3 agreement bound stable_ok",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      def dedupAt(iters: Int) = {
        val cells = Similarity
          .kmeansAssign(e, "vec_id", "embedding", k = 8, iters = iters)
          .withColumnRenamed("id", "vec_id")
        Similarity.semanticDedup(e.join(cells, Seq("vec_id")),
          "vec_id", "embedding", "cluster", threshold = 0.35)
      }
      val d1 = dedupAt(1)
      val d3 = dedupAt(3).select(col("vec_id"), col("is_kept").as("k3"))
      val agree = d1.select(col("vec_id"), col("is_kept").as("k1"))
        .join(d3, Seq("vec_id"))
        .agg(avg(when(col("k1") === col("k3"), 1.0).otherwise(0.0)).as("agree"))
      d1.withColumn("is_kept_1r", col("is_kept").cast("long"))
        .drop("is_kept")
        .crossJoin(broadcast(agree))
        .withColumn("stable_ok", col("agree") >= 0.70)
        .drop("agree")
        .orderBy("vec_id")
    },
    Some(semDedupKmeans1rSql(", TRUE AS stable_ok", keptAlias = "is_kept_1r")))

  /** Unrolled k-center restatement: the greedy has a data-dependent
    * recurrence (each pick conditions the next round's distances), but k
    * is a small literal, so the oracle unrolls the k rounds as a CTE
    * chain — stage c_r is round r's argmax (ORDER BY mind DESC, vec_id
    * LIMIT 1, the same integer tie-break as the Spark side), stage d_r
    * folds the new center into the running min. All arithmetic is BIGINT
    * squared-L2 over the same floor(v·scale) fixed-point elements, so
    * the chain is bit-exact with no epsilon. MATERIALIZED hints keep
    * DuckDB from re-evaluating the chain per reference (the a30 lesson). */
  /** The shared WITH-chain (qx, c1, d1, …, c_k) — x_kcenter_select
    * finishes it with the pick list, x_kcenter_assign with the coverage
    * partition. */
  private def kcenterOracleStages(k: Int, scale: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH qx AS MATERIALIZED (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(v AS DOUBLE) * CAST($scale AS DOUBLE)) AS BIGINT) AS qe
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    c1 AS MATERIALIZED (SELECT min(vec_id) AS vid FROM embeddings),
    d1 AS MATERIALIZED (
      SELECT a.vec_id, sum((a.qe - b.qe) * (a.qe - b.qe)) AS mind
      FROM qx a JOIN (SELECT dim, qe FROM qx
                      WHERE vec_id = (SELECT vid FROM c1)) b
        ON a.dim = b.dim
      WHERE a.vec_id <> (SELECT vid FROM c1)
      GROUP BY a.vec_id)"""
    for (r <- 2 to k) {
      sb ++= s""",
    c$r AS MATERIALIZED (SELECT vec_id AS vid, mind FROM d${r - 1}
      ORDER BY mind DESC, vec_id LIMIT 1)"""
      if (r < k) sb ++= s""",
    d$r AS MATERIALIZED (
      SELECT p.vec_id, least(p.mind, n.dd) AS mind
      FROM d${r - 1} p JOIN (
        SELECT a.vec_id, sum((a.qe - b.qe) * (a.qe - b.qe)) AS dd
        FROM qx a JOIN (SELECT dim, qe FROM qx
                        WHERE vec_id = (SELECT vid FROM c$r)) b
          ON a.dim = b.dim
        GROUP BY a.vec_id) n ON n.vec_id = p.vec_id
      WHERE p.vec_id <> (SELECT vid FROM c$r))"""
    }
    sb.toString
  }
  // Oracle-engineering note (the a30-materialization class of lesson,
  // measured): with `qx` as a MATERIALIZED CTE, DuckDB does NOT push a
  // `WHERE b.vec_id = (SELECT …)` scalar filter below `qx a JOIN qx b ON
  // a.dim = b.dim` — each stage paid the unfiltered dim-join (~256M rows
  // at sf0.1; whole chain minutes-to-stuck). Placing the filter INSIDE
  // the b-side derived table is plan-forcing and takes the 8-stage chain
  // to 0.13 s. Any future oracle joining a materialized frame to itself
  // on a low-cardinality key needs the same shape.

  private def kcenterOracleSql(k: Int, scale: Long): String = {
    val sb = new StringBuilder(kcenterOracleStages(k, scale))
    sb ++= s"""
    SELECT CAST(1 AS BIGINT) AS sel_rank, vid AS vec_id,
           CAST(NULL AS BIGINT) AS mind FROM c1"""
    for (r <- 2 to k) sb ++= s"""
    UNION ALL SELECT CAST($r AS BIGINT), vid, CAST(mind AS BIGINT) FROM c$r"""
    sb ++= "\n    ORDER BY sel_rank"
    sb.toString
  }

  /** The coverage partition under the same greedy's centers: distance to
    * EVERY center via one dim-joined aggregation, argmin by (d, cid) —
    * rank selection restates the Spark side's struct-sort fold exactly. */
  private def kcenterAssignOracleSql(k: Int, scale: Long): String =
    kcenterOracleStages(k, scale) + s""",
    ctr AS MATERIALIZED (${(1 to k).map(r => s"SELECT vid FROM c$r")
        .mkString(" UNION ALL ")}),
    cq AS MATERIALIZED (
      SELECT vec_id, dim, qe FROM qx
      WHERE vec_id IN (SELECT vid FROM ctr)),
    ad AS (SELECT a.vec_id, b.vec_id AS cid,
             sum((a.qe - b.qe) * (a.qe - b.qe)) AS d
           FROM qx a JOIN cq b ON a.dim = b.dim
           GROUP BY a.vec_id, b.vec_id),
    rk AS (SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
           FROM ad)
    SELECT vec_id, CAST(cid AS BIGINT) AS center_id, CAST(d AS BIGINT) AS dist
    FROM rk WHERE rn = 1 ORDER BY vec_id"""

  /** Diverse coreset selection — see [[graft.ext.Similarity.kcenterSelect]]
    * for the greedy's scale shape (k map passes + k top-1 reduces over a
    * running-min column; never quadratic). mind is the maximin value at
    * selection time: the selected vector's integer squared-L2 distance to
    * the set already chosen — monotonically non-increasing down the
    * ranks, a built-in diversity audit trail. */
  val xKcenterSelect = OpQuery(
    "x_kcenter_select",
    "k-center greedy diverse selection: 8 farthest-point exemplars, integer-exact",
    (s, dir) =>
      Similarity.kcenterSelect(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8)
        .orderBy("sel_rank"),
    Some(kcenterOracleSql(k = 8, scale = 1000L)))

  /** The partition the coreset induces — see
    * [[graft.ext.Similarity.kcenterAssign]]: the selected ids' quantized
    * vectors are fetched once (k bounded driver rows, the frozen-literal
    * serving contract) and every vector is labeled by ONE row-local
    * fold — zero exchanges past the scan, the same deployed shape as
    * the perceptron scorer. max(dist) over this frame is the k-center
    * objective the greedy 2-approximates. */
  val xKcenterAssign = OpQuery(
    "x_kcenter_assign",
    "k-center coverage partition: every vector labeled by its nearest exemplar",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val ids = Similarity.kcenterSelect(e, "vec_id", "embedding", k = 8)
        .select("vec_id").collect().map(_.getLong(0))
      val centers = e.filter(col("vec_id").isin(ids.map(Long.box): _*))
        .select(col("vec_id").cast("long"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * " +
            "1000.0) AS BIGINT))"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
      Similarity.kcenterAssign(e, "vec_id", "embedding", centers)
        .orderBy("vec_id")
    },
    Some(kcenterAssignOracleSql(k = 8, scale = 1000L)))

  // ---------- signed-random-projection LSH ----------

  /** Sign-matrix VALUES rows shared by the two SRP oracles — generated
    * from the SAME [[Similarity.srpSigns]] matrix the Spark plan embeds as
    * zip_with literals, so both engines read one source of truth. */
  private val srpSignRows: String =
    Similarity.srpSigns(16, 64).zipWithIndex
      .map { case (row, j) => s"($j, [${row.mkString(",")}])" }
      .mkString(", ")

  /** Shared oracle prefix: fixed-point element frame → signed dots →
    * 16 sign bits → 4 four-bit band keys (matches srpBandKeys(64,16,4)). */
  private val srpCte =
    s"""ve AS (SELECT vec_id, unnest(embedding) AS x,
      |       unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      |q AS (SELECT vec_id, i,
      |      CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) AS qx FROM ve),
      |sgn AS (SELECT j, unnest(sl) AS sv,
      |        unnest(generate_series(1, 64)) AS i
      |        FROM (VALUES $srpSignRows) t(j, sl)),
      |sdots AS (SELECT q.vec_id, sgn.j, sum(sgn.sv * q.qx) AS dot
      |          FROM q JOIN sgn ON q.i = sgn.i GROUP BY 1, 2),
      |bits AS (SELECT vec_id, j, CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS bit
      |         FROM sdots),
      |bkey AS (SELECT vec_id, j // 4 AS band,
      |         sum(bit << (3 - (j % 4))) AS band_key
      |         FROM bits GROUP BY 1, 2)""".stripMargin

  /** JL projection flattened to (vec_id, j, comp) — the projection IS the
    * SRP family's pre-sign dot table, so the oracle reuses the shared CTE
    * (sdots) verbatim; unreferenced downstream CTEs cost nothing. */
  val xJlProject = OpQuery(
    "x_jl_project",
    "Johnson-Lindenstrauss ±1 projection 64d→16d (integer-exact components)",
    (s, dir) =>
      Similarity.jlProject(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, k = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "comp")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("comp"))
        .orderBy("vec_id", "j"),
    Some(s"""WITH $srpCte
            SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(dot AS BIGINT) AS comp
            FROM sdots ORDER BY vec_id, j"""))

  /** Two-stage JL retrieval: the oracle restates BOTH stages — integer
    * coarse distances in projected space (row_number ≤ 32 per query) and
    * the exact cosine re-rank over only those candidates — so the hash
    * gates the full algorithm, candidate set included, not just the final
    * arithmetic. */
  val xAnnJlRerank = OpQuery(
    "x_ann_jl_rerank",
    "two-stage ANN: JL-space coarse top-32, exact cosine re-rank top-5",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.jlRerankTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), dim = 64, kProj = 16,
          coarseC = 32, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ve2 AS (SELECT vec_id, unnest(embedding) AS x,
              unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings),
            qfix AS (SELECT vec_id, i,
              CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS qx
              FROM ve2),
            sgn2 AS (SELECT j, unnest(sl) AS sv,
              unnest(generate_series(1, 64)) AS i
              FROM (VALUES $srpSignRows) t(j, sl)),
            pr AS (SELECT q.vec_id, sgn2.j,
              CAST(sum(sgn2.sv * q.qx) AS BIGINT) >> 10 AS c
              FROM qfix q JOIN sgn2 ON q.i = sgn2.i GROUP BY 1, 2),
            coarse AS (SELECT pq.vec_id AS qid, pc.vec_id AS cid,
              sum((pq.c - pc.c) * (pq.c - pc.c)) AS d
              FROM pr pq JOIN pr pc ON pq.j = pc.j
              WHERE pq.vec_id < 8 AND pc.vec_id <> pq.vec_id
              GROUP BY 1, 2),
            cand AS (SELECT qid, cid FROM
              (SELECT qid, cid, row_number() OVER
                 (PARTITION BY qid ORDER BY d, cid) AS rn FROM coarse)
              WHERE rn <= 32),
            norms2 AS (SELECT vec_id AS id,
              sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nrm
              FROM ve2 GROUP BY 1),
            dots2 AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
              sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
              FROM ve2 a JOIN ve2 b ON a.i = b.i
              JOIN cand ON cand.qid = a.vec_id AND cand.cid = b.vec_id
              GROUP BY 1, 2),
            scored AS (SELECT qid, cid,
              floor(dot / (sqrt(qn.nrm) * sqrt(cn.nrm)) * 1000000.0)
                / 1000000.0 AS cosine
              FROM dots2 JOIN norms2 qn ON qn.id = qid
              JOIN norms2 cn ON cn.id = cid),
            ranked AS (SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
              FROM scored)
            SELECT qid, cid, CAST(cosine AS DOUBLE) AS cosine,
              CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  val xSrpSignature = OpQuery(
    "x_srp_signature",
    "SRP-LSH hyperplane band keys (16 sign bits → 4×4-bit bands) per vector",
    (s, dir) =>
      Similarity.srpBandKeys(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, nBits = 16, bandBits = 4)
        .orderBy("vec_id", "band"),
    Some(s"""WITH $srpCte
            SELECT vec_id, CAST(band AS BIGINT) AS band,
                   CAST(band_key AS BIGINT) AS band_key
            FROM bkey ORDER BY vec_id, band"""))

  val xSrpNeardup = OpQuery(
    "x_srp_neardup",
    "blocker-free cosine near-dup: SRP band collisions → exact verify ≥0.3",
    (s, dir) =>
      Similarity.srpNearDupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, nBits = 16, bandBits = 4, threshold = 0.3)
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $srpCte,
            cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                     count(*) AS n_shared_bands
                     FROM bkey a JOIN bkey b ON a.band = b.band
                       AND a.band_key = b.band_key AND a.vec_id < b.vec_id
                     GROUP BY 1, 2),
            norms AS (SELECT vec_id AS id,
                      sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS nrm
                      FROM ve GROUP BY 1),
            pdots AS (SELECT c.doc_a, c.doc_b, c.n_shared_bands,
                      sum(CAST(va.x AS DOUBLE)*CAST(vb.x AS DOUBLE)) AS dot
                      FROM cand c JOIN ve va ON va.vec_id = c.doc_a
                      JOIN ve vb ON vb.vec_id = c.doc_b AND va.i = vb.i
                      GROUP BY 1, 2, 3),
            scored AS (SELECT doc_a, doc_b, n_shared_bands,
                       floor(dot/(sqrt(na.nrm)*sqrt(nb.nrm))*1000000.0)
                         /1000000.0 AS cosine
                       FROM pdots JOIN norms na ON na.id = doc_a
                       JOIN norms nb ON nb.id = doc_b)
            SELECT doc_a, doc_b, CAST(cosine AS DOUBLE) AS cosine,
                   CAST(n_shared_bands AS BIGINT) AS n_shared_bands
            FROM scored WHERE cosine >= 0.3 ORDER BY doc_a, doc_b"""))

  val xSrpSemDedup = OpQuery(
    "x_srp_semdedup",
    "blocker-free SemDedup: SRP bands → verified edges → components → keep",
    (s, dir) =>
      Similarity.srpSemanticDedup(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, nBits = 16, bandBits = 4, threshold = 0.3)
        .withColumn("is_kept", col("is_kept").cast("long"))
        .orderBy("vec_id"),
    Some(s"""WITH RECURSIVE $srpCte,
            cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                     FROM bkey a JOIN bkey b ON a.band = b.band
                       AND a.band_key = b.band_key AND a.vec_id < b.vec_id
                     GROUP BY 1, 2),
            norms AS (SELECT vec_id AS id,
                      sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS nrm
                      FROM ve GROUP BY 1),
            pdots AS (SELECT c.doc_a, c.doc_b,
                      sum(CAST(va.x AS DOUBLE)*CAST(vb.x AS DOUBLE)) AS dot
                      FROM cand c JOIN ve va ON va.vec_id = c.doc_a
                      JOIN ve vb ON vb.vec_id = c.doc_b AND va.i = vb.i
                      GROUP BY 1, 2),
            verified AS (SELECT doc_a, doc_b
                         FROM pdots JOIN norms na ON na.id = doc_a
                         JOIN norms nb ON nb.id = doc_b
                         WHERE floor(dot/(sqrt(na.nrm)*sqrt(nb.nrm))
                           *1000000.0)/1000000.0 >= 0.3),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS vec_id, min(lab) AS component
                     FROM reach GROUP BY id),
            cs AS (SELECT component, count(*) AS cluster_size
                   FROM comp GROUP BY component)
            SELECT comp.vec_id, CAST(comp.component AS BIGINT) AS component,
                   CAST(cs.cluster_size AS BIGINT) AS cluster_size,
                   CAST(comp.vec_id = comp.component AS BIGINT) AS is_kept
            FROM comp JOIN cs USING (component)
            ORDER BY vec_id"""))

  /** Embedding-side incremental dedup, streaming-executed — the analog of
    * st_dedup_incremental_stream for the vector modality: a frozen SRP
    * index over the accepted corpus (even vec_ids), incoming vectors (odd
    * vec_ids) gated per micro-batch through the checkpointed foreachBatch
    * topology. Kept = no verified cosine ≥0.3 against any band-colliding
    * index vector.
    *
    * The index is NOT frozen for the stream's lifetime (VERDICT r12 #6):
    * each batch's ACCEPTED vectors persist to a durable per-batch parquet
    * dir (`<out>_seen/b<batchId>`, overwrite = idempotent under at-least-once
    * replay — the st_line_dedup_stream recipe), and batch N's effective
    * index is the frozen corpus extended with every strictly-earlier
    * batch's survivors ([[Similarity.extendSrpIndex]]), so a near-dup of
    * a batch-1 vector arriving in batch 2 is flagged, restart-safe. The
    * registry corpus arrives as one file batch (prior state empty — zero
    * overhead in the verify/bench shape, oracle equivalence exact);
    * IncrementalDedupStreamSpec drives the multi-batch + kill/restart
    * paths where the extension actually bites. */
  val stSrpDedup = OpQuery(
    "st_srp_dedup_stream",
    "streaming embedding dedup: SRP index extended with each batch's survivors (durable state)",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = Similarity.buildSrpIndex(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        dim = 64, nBits = 16, bandBits = 4, threshold = 0.3)
      val stream = Tables.stream(s, dir, "embeddings")
        .filter(col("vec_id") % 2 === 1)
      val out = Twin.parquet(stream, "graft_srp_stream_") { (batch, batchId, dst) =>
        // the durable seen-set sits beside the sink dir
        Similarity.srpDedupStep(index, s"${dst}_seen", dst, batchId, batch,
          "vec_id", "embedding",
          project = _.select(col("vec_id"),
            col("label").cast("long").as("label")))
      }
      // out is a tree of per-batch overwrite dirs (idempotent emission)
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .orderBy("vec_id")
    },
    Some(s"""WITH $srpCte,
            candoe AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                       FROM bkey a JOIN bkey b ON a.band = b.band
                         AND a.band_key = b.band_key
                       WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
                       GROUP BY 1, 2),
            norms AS (SELECT vec_id AS id,
                      sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) AS nrm
                      FROM ve GROUP BY 1),
            pdots AS (SELECT c.doc_a, c.doc_b,
                      sum(CAST(va.x AS DOUBLE)*CAST(vb.x AS DOUBLE)) AS dot
                      FROM candoe c JOIN ve va ON va.vec_id = c.doc_a
                      JOIN ve vb ON vb.vec_id = c.doc_b AND va.i = vb.i
                      GROUP BY 1, 2),
            matched AS (SELECT DISTINCT doc_a AS id
                        FROM pdots JOIN norms na ON na.id = doc_a
                        JOIN norms nb ON nb.id = doc_b
                        WHERE floor(dot/(sqrt(na.nrm)*sqrt(nb.nrm))
                          *1000000.0)/1000000.0 >= 0.3)
            SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
            FROM embeddings e
            WHERE e.vec_id % 2 = 1
              AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.id = e.vec_id)
            ORDER BY e.vec_id"""))

  // ---------- text analysis ----------

  private val stopList = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")

  val xTextStats = OpQuery(
    "x_text_stats",
    "token counts, language-ID heuristic, quality score per document",
    (s, dir) =>
      TextAnalysis.qualityScore(
        TextAnalysis.tokenCounts(t(s, dir, "documents"), "text"),
        "text", "n_chars")
        .select("doc_id", "ws_tokens", "re_tokens", "n_stop", "lang_pred",
          "avg_word_len", "stop_ratio", "quality")
        .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, n_chars, text,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            s AS (SELECT doc_id, n_chars, text,
              CAST(len(w) AS BIGINT) AS n_tok,
              CAST(len(list_filter(w, x -> x IN ($stopList))) AS BIGINT) AS n_stop
              FROM t)
            SELECT doc_id,
              n_tok AS ws_tokens,
              CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
              n_stop,
              CASE WHEN n_stop * 20 >= n_tok THEN 'en' ELSE 'und' END AS lang_pred,
              CAST(floor(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok * 10000.0) / 10000.0
                AS DOUBLE) AS avg_word_len,
              CAST(floor(CAST(n_stop AS DOUBLE) / n_tok * 10000.0) / 10000.0
                AS DOUBLE) AS stop_ratio,
              CAST(floor((
                least(n_tok / 100.0, 1.0) * 0.5 +
                (1.0 - floor(CAST(n_stop AS DOUBLE) / n_tok * 10000.0) / 10000.0) * 0.3 +
                least(floor(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok * 10000.0) / 10000.0
                      / 10.0, 1.0) * 0.2
                ) * 10000.0) / 10000.0 AS DOUBLE) AS quality
            FROM s ORDER BY doc_id"""))

  val xFingerprint = OpQuery(
    "x_fingerprint",
    "document fingerprint: md5(normalized) + winnowing-style window min-hash",
    (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "text")
        .select("doc_id", "fp_md5", "fp_winnow")
        .orderBy("doc_id"),
    Some("""WITH n AS (SELECT doc_id,
              trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
              FROM documents),
            pos AS (SELECT doc_id, norm,
              unnest(generate_series(1, greatest(length(norm) - 15, 1), 8)) AS i
              FROM n)
            SELECT pos.doc_id, md5(any_value(norm)) AS fp_md5,
                   min(md5(substr(norm, i, 16))) AS fp_winnow
            FROM pos GROUP BY pos.doc_id ORDER BY doc_id"""))

  /** Shared CTE text: full winnowing (k=16, w=4) of documents into
    * distinct (doc_id, fp) rows — the oracle twin of
    * [[TextAnalysis.winnowFingerprints]], reused by the clone-pair
    * oracle. */
  private val winnowCte =
    """n AS (SELECT doc_id,
      |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |g AS (SELECT doc_id, p, md5(substr(norm, CAST(p AS INT), 16)) AS h
      |      FROM (SELECT doc_id, norm,
      |        unnest(generate_series(1, greatest(length(norm) - 15, 1))) AS p
      |        FROM n)),
      |wm AS (SELECT doc_id, p,
      |    count(*) OVER (PARTITION BY doc_id) AS np,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY p
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
      |  FROM g),
      |fps AS (SELECT DISTINCT doc_id, minh AS fp FROM wm
      |        WHERE p <= greatest(np - 3, 1))""".stripMargin

  val xWinnow = OpQuery(
    "x_winnow_fingerprints",
    "full winnowing: distinct per-window k-gram hash minima (k=16, w=4)",
    (s, dir) =>
      TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id", "fp"),
    Some(s"WITH $winnowCte SELECT doc_id, fp FROM fps ORDER BY doc_id, fp"))

  /** The ROLLING-HASH winnowing variant, density-gated against the md5
    * form (the bounds-promotion recipe): md5-per-position is the oracle-
    * parity hash but costs ~6× the wall of a Karp-Rabin roll (measured
    * 1.68 s vs 0.27 s at sf0.1 — SCALING.md §6h), so production fingerprinting rolls. Winnowing selection
    * density depends only on hash-order uniformity, so the per-doc
    * fingerprint COUNT of the two variants must agree within a band:
    * measured ratio ∈ [0.733, 1.667] across both SFs (500 + 5000 docs,
    * n ∈ [10, 228]); gated at [0.5, 2.0], integer-exact. A degenerate
    * hash (constant → 1 fp/doc, ratio ≈ 0.01) or a broken deque
    * (every position selected, ratio ≈ (w+1)/2 = 2.5) flips the
    * boolean and the driver hash bites. The shared-run GUARANTEE — a
    * winnowing property independent of the hash — is spec-gated
    * (WinnowRollingSpec). */
  val xWinnowRollingBounds = OpQuery(
    "x_winnow_rolling_bounds",
    "rolling-hash winnowing, per-doc density gated against the md5 variant",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val m = TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
      val r = TextAnalysis.winnowFingerprintsRolling(docs, "text", "doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("_nr"))
      m.join(r, Seq("doc_id"))
        .select(col("doc_id"), col("n_fps"),
          (col("_nr") * 2L >= col("n_fps") &&
            col("_nr") <= col("n_fps") * 2L).as("density_ok"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $winnowCte
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
                   TRUE AS density_ok
            FROM fps GROUP BY doc_id ORDER BY doc_id"""))

  /** MOSS-style clone detection over the winnow fingerprints: the
    * df cap (≤20 docs) is both the boilerplate filter and the join-skew
    * bound (see [[TextAnalysis.clonePairs]]). */
  val xClonePairs = OpQuery(
    "x_clone_pairs",
    "clone pairs: >=5 shared winnow fingerprints, df-capped (MOSS rule)",
    (s, dir) =>
      TextAnalysis.clonePairs(t(s, dir, "documents"), "text", "doc_id",
          maxDf = 20L, minShared = 5L)
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $winnowCte,
            rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
            fr AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 5
            ORDER BY doc_a, doc_b"""))

  /** The 100 TB scale path for distinct counts: HLL++ sketches. Sketch
    * values can never hash-match an oracle (approximation internals
    * differ across engines by construction), so the gate is the published
    * ERROR BOUND instead: per group, emit the exact count plus a boolean
    * asserting |approx − exact| ≤ 3·rsd·exact (three standard deviations
    * at rsd = 5%, floored at 1 for tiny groups where HLL++ is exact by
    * its dense-mode switch). The oracle emits literal TRUE — so the hash
    * comparison FAILS unless every Spark-side sketch honors its bound,
    * which is a real gate on the approximation, not a vacuous row count. */
  val xApproxDistinct = OpQuery(
    "x_approx_distinct_bounds",
    "approx_count_distinct (HLL++) per event_type, gated on its 3-sigma error bound",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(
          col("event_type"),
          col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(lit(1L), ceil(col("exact_users") * 3 * 0.05)))
            .as("within_bounds"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
        CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        TRUE AS within_bounds
        FROM events GROUP BY 1 ORDER BY 1"""))

  private val triProfile = TextAnalysis.EnTrigrams.map(t => s"'$t'").mkString(", ")

  val xLangidNgram = OpQuery(
    "x_langid_ngram",
    "char-trigram language ID (Cavnar-Trenkle profile) per document",
    (s, dir) =>
      TextAnalysis.langIdNgram(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tri", "tri_hits", "lang_tri")
        .orderBy("doc_id"),
    Some(s"""WITH n AS (SELECT doc_id,
              trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
              FROM documents),
            pos AS (SELECT doc_id, norm,
              unnest(generate_series(1, greatest(length(norm) - 2, 1))) AS i
              FROM n),
            tri AS (SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS t FROM pos),
            agg AS (SELECT doc_id, count(*) AS n_tri,
              sum(CASE WHEN t IN ($triProfile) THEN 1 ELSE 0 END) AS tri_hits
              FROM tri GROUP BY doc_id)
            SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri,
              CAST(tri_hits AS BIGINT) AS tri_hits,
              CASE WHEN tri_hits * 10 >= n_tri THEN 'en' ELSE 'und' END AS lang_tri
            FROM agg ORDER BY doc_id"""))

  /** Decontamination gate: docs with doc_id ≡ 0 (mod 7) act as the
    * held-out benchmark; any other doc sharing a winnowing fingerprint
    * (= a ≥19-char run) with one of them is flagged. The synthetic corpus
    * contains exact/near duplicates, so the flagged set is non-empty and
    * the fingerprint-join semantics get a real workout. */
  val xDecontaminate = OpQuery(
    "x_decontaminate",
    "benchmark decontamination: corpus docs sharing winnow fingerprints with a held-out set",
    (s, dir) =>
      // within-corpus variant: ONE fingerprint pass, benchmark side
      // filtered from the materialized fps frame
      TextAnalysis.contaminationWithin(t(s, dir, "documents"),
          "text", "doc_id", isBench = col("doc_id") % 7 === 0)
        .orderBy("doc_id"),
    Some("""WITH n AS (SELECT doc_id,
              trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
              FROM documents),
            g AS (SELECT doc_id, p, md5(substr(norm, CAST(p AS INT), 16)) AS h
                  FROM (SELECT doc_id, norm,
                    unnest(generate_series(1, greatest(length(norm) - 15, 1))) AS p
                    FROM n)),
            wm AS (SELECT doc_id, p,
                count(*) OVER (PARTITION BY doc_id) AS np,
                min(h) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
              FROM g),
            fps AS (SELECT DISTINCT doc_id, minh AS fp FROM wm
                    WHERE p <= greatest(np - 3, 1))
            SELECT c.doc_id, CAST(count(DISTINCT c.fp) AS BIGINT) AS n_shared_fps
            FROM fps c JOIN fps b ON b.fp = c.fp
              AND b.doc_id <> c.doc_id AND b.doc_id % 7 = 0
            GROUP BY c.doc_id ORDER BY c.doc_id"""))

  /** The decontamination gate on the ROLLING fingerprint kernel — the
    * production pairing (VERDICT r10 #5: the 6× §6h kernel was only
    * exercised by its own bounds query; the pipelines still hashed md5).
    * The rolling hash isn't oracle-restatable, so the gate is the
    * agreement-band promotion: the query runs BOTH kernels' gates, emits
    * the md5 (SQL-restatable) flagged rows, and `rolling_ok` asserts the
    * two flagged SETS agree to Jaccard ≥ 0.90 — measured 0.979 (sf0.01)
    * and 0.9994 (sf0.1) (SCALING.md §7b; disagreement can
    * only come from sub-guarantee-length overlaps, since any shared
    * ≥ w+k−1-char run is flagged by both kernels by the winnowing
    * guarantee). A degenerate rolling hash collapses its fingerprint
    * selection and the band bites. Pipeline-level win: warm 2.59 s →
    * 0.76 s at sf0.1 (SCALING.md §7b). */
  val xDecontaminateRolling = OpQuery(
    "x_decontaminate_rolling",
    "decontamination on the rolling-hash kernel, flagged-set agreement-gated vs md5",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = col("doc_id") % 7 === 0
      val md5F = TextAnalysis.contaminationWithin(docs, "text", "doc_id",
        bench)
      val rolF = TextAnalysis.contaminationWithin(docs, "text", "doc_id",
        bench, rolling = true).select("doc_id")
      val inter = md5F.select("doc_id")
        .join(rolF, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("_ni"))
      // 1-row frames: broadcast crossJoins, integer-exact gate arithmetic
      val gate = md5F.agg(count(lit(1)).as("_nm"))
        .crossJoin(broadcast(rolF.agg(count(lit(1)).as("_nr"))))
        .crossJoin(broadcast(inter))
        .select((col("_ni") * 10L >=
          (col("_nm") + col("_nr") - col("_ni")) * 9L).as("rolling_ok"))
      md5F.crossJoin(broadcast(gate)).orderBy("doc_id")
    },
    xDecontaminate.oracle.map(sql => sql.replace(
      "AS n_shared_fps",
      "AS n_shared_fps, TRUE AS rolling_ok")))

  /** The 100-TB variant of the decontamination gate: a Bloom filter
    * built over the benchmark fingerprints pre-filters the corpus side
    * map-only, so only probable hits shuffle into the exact join. The
    * oracle is IDENTICAL to x_decontaminate — the exact join behind the
    * probe removes Bloom false positives, so the composition changes the
    * plan, never the answer (PlanSpec asserts the probe sits below the
    * first exchange). */
  val xDecontaminateBloom = OpQuery(
    "x_decontaminate_bloom",
    "decontamination with a Bloom pre-filter: map-only probe, exact join verifies",
    (s, dir) =>
      TextAnalysis.contaminationWithinBloom(t(s, dir, "documents"),
          "text", "doc_id", isBench = col("doc_id") % 7 === 0)
        .orderBy("doc_id"),
    xDecontaminate.oracle)

  /** The streaming arrangement of the decontamination gate: the
    * benchmark fingerprint + Bloom index is built and frozen BEFORE the
    * stream starts (TextAnalysis.buildBenchIndex), then every arriving
    * micro-batch pays only its own fingerprinting, a map-only Bloom
    * probe, and the exact join against the frozen index inside a
    * checkpointed foreachBatch topology. Per-doc flags depend only on
    * the doc's own text and the frozen index, so the streamed union
    * equals the one-shot batch run — proved by sharing
    * x_decontaminate's oracle verbatim. Restart semantics spec-gated
    * (DecontaminateStreamSpec). */
  val stDecontaminate = OpQuery(
    "st_decontaminate_stream",
    "streaming decontamination: micro-batches probed against a frozen benchmark bloom+fps index",
    (s, dir) => {
      val index = TextAnalysis.buildBenchIndex(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
        "text", "doc_id")
      val stream = Tables.stream(s, dir, "documents")
      val out = Twin.parquet(stream, "graft_decon_stream_") { (batch, _, dst) =>
        TextAnalysis.contaminationAgainst(index, batch, "text", "doc_id")
          .write.mode("append").parquet(dst)
      }
      s.read.parquet(out).orderBy("doc_id")
    },
    xDecontaminate.oracle)

  val xRepetition = OpQuery(
    "x_repetition",
    "repetition quality signals: distinct-token ratio + duplicate-2-gram fraction",
    (s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tok"), col("rep_distinct_ratio"),
          col("dup_2gram_frac"), col("is_repetitive").cast("long").as("is_repetitive"))
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            g AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tok,
              CASE WHEN len(w) < 2 THEN []
                   ELSE list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i + 1]) END AS g2
              FROM t)
            SELECT doc_id, n_tok,
              CAST(floor(CAST(len(list_distinct(w)) AS DOUBLE)
                / greatest(n_tok, 1) * 10000.0) / 10000.0 AS DOUBLE)
                AS rep_distinct_ratio,
              CAST(CASE WHEN len(g2) = 0 THEN 0.0
                ELSE floor((1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                  / len(g2)) * 10000.0) / 10000.0 END AS DOUBLE)
                AS dup_2gram_frac,
              CAST(CASE WHEN len(g2) = 0 THEN 0.0
                ELSE floor((1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                  / len(g2)) * 10000.0) / 10000.0 END > 0.3 AS BIGINT)
                AS is_repetitive
            FROM g ORDER BY doc_id"""))

  /** PII scrubbing gate: the synthetic corpus carries no PII, so a
    * deterministic email/phone/IPv4 is injected per document and the
    * scrubber must find and redact EXACTLY those — counts and the md5 of
    * the scrubbed bytes are oracle-compared, so a pattern that
    * over-matches (eating real text) or under-matches fails the gate. */
  val xPiiScrub = OpQuery(
    "x_pii_scrub",
    "PII scrub: inject deterministic email/phone/IP per doc, redact, verify bytes",
    (s, dir) => {
      val injected = t(s, dir, "documents").withColumn("poisoned",
        concat(col("text"),
          lit(" contact User"), col("doc_id"), lit("@Example.COM or 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
      TextAnalysis.scrubPii(injected, "poisoned")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ipv4"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy("doc_id")
    },
    // counts staged on progressively-scrubbed text, like the implementation
    Some("""WITH i AS (SELECT doc_id,
              text || ' contact User' || doc_id || '@Example.COM or 555-867-' ||
              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.0.' ||
              CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
              FROM documents),
            s1 AS (SELECT doc_id, t,
              regexp_replace(t, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                '<pii:email>', 'g') AS t1 FROM i),
            s2 AS (SELECT doc_id, t, t1,
              regexp_replace(t1, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}',
                '<pii:phone>', 'g') AS t2 FROM s1)
            SELECT doc_id,
              CAST(len(regexp_extract_all(t, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
              CAST(len(regexp_extract_all(t1, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS BIGINT) AS n_phone,
              CAST(len(regexp_extract_all(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
              md5(regexp_replace(t2,
                '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<pii:ipv4>', 'g')) AS scrub_md5
            FROM s2 ORDER BY doc_id"""))

  /** CCNet-style LM quality scoring: a per-language unigram LM is trained
    * on the trusted two-thirds of the corpus (doc_id % 3 ≠ 0) and EVERY
    * document is scored by mean per-token surprisal — held-out documents
    * pay OOV surprisal for vocabulary the trusted slice never saw, which
    * is exactly the signal CCNet thresholds on. Single corpus scan: the
    * token frame is materialized once and feeds both the model build and
    * the scoring join. */
  /** Shared unigram-LM CTE chain (model on the trusted subset, every doc
    * scored) ending in `lmscored` = (id, lang, n_tok, ce) — read directly
    * by the quality query, terciled by the CCNet-buckets query. */
  private val lmCte =
    """tok AS (SELECT doc_id, lang,
              unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
              FROM documents),
            counts AS (SELECT lang, word, count(*) AS cnt FROM tok
                       WHERE doc_id % 3 <> 0 GROUP BY lang, word),
            totals AS (SELECT lang, sum(cnt) AS tot, count(*) AS vocab
                       FROM counts GROUP BY lang),
            model AS (SELECT counts.lang, word,
                CAST(floor(-ln((cnt + 1.0) / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS surprisal,
                CAST(floor(-ln(1.0 / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS oov
              FROM counts JOIN totals ON totals.lang = counts.lang),
            ml AS (SELECT lang, max(oov) AS oov FROM model GROUP BY lang),
            scored AS (SELECT doc_id, tok.lang AS lang, count(*) AS n_tok,
                sum(coalesce(m.surprisal, ml.oov)) AS s
              FROM tok
              LEFT JOIN model m ON m.lang = tok.lang AND m.word = tok.word
              JOIN ml ON ml.lang = tok.lang
              GROUP BY doc_id, tok.lang),
            lmscored AS (SELECT doc_id AS id, lang,
              CAST(n_tok AS BIGINT) AS n_tok,
              floor(CAST(s AS DOUBLE) / n_tok * 10000.0) / 10000.0 AS ce
              FROM scored)"""

  val xLmQuality = OpQuery(
    "x_lm_quality",
    "unigram-LM cross-entropy per doc (CCNet quality signal), model from trusted subset",
    (s, dir) =>
      LmScore.scoreAgainstSubset(t(s, dir, "documents"),
          "text", "doc_id", "lang", trusted = col("doc_id") % 3 =!= 0)
        .orderBy("id"),
    Some(s"""WITH $lmCte
            SELECT id, lang, n_tok, ce AS cross_entropy
            FROM lmscored ORDER BY id"""))

  /** CCNet perplexity terciles. The oracle's per-lang row_number cuts at
    * integer ranks (n+2)//3 and (2n+2)//3 equal the Spark side's
    * cumulative-count percentiles — the value at the sorted cut position
    * either way, duplicates included, no float rank arithmetic. */
  val xCcnetBuckets = OpQuery(
    "x_ccnet_buckets",
    "CCNet head/middle/tail perplexity terciles per language",
    (s, dir) =>
      LmScore.ccnetBuckets(t(s, dir, "documents"),
          "text", "doc_id", "lang", trusted = col("doc_id") % 3 =!= 0)
        .orderBy("id"),
    Some(s"""WITH $lmCte,
            rk AS (SELECT id, lang, ce,
              row_number() OVER (PARTITION BY lang ORDER BY ce) AS rn
              FROM lmscored),
            nn AS (SELECT lang, count(*) AS n FROM lmscored GROUP BY lang),
            thr AS (SELECT rk.lang,
              min(CASE WHEN rn >= (n + 2) // 3 THEN ce END) AS t1,
              min(CASE WHEN rn >= (2 * n + 2) // 3 THEN ce END) AS t2
              FROM rk JOIN nn ON nn.lang = rk.lang GROUP BY rk.lang)
            SELECT s2.id, s2.lang, s2.ce AS cross_entropy,
              CASE WHEN s2.ce <= t1 THEN 'head'
                   WHEN s2.ce <= t2 THEN 'middle'
                   ELSE 'tail' END AS bucket
            FROM lmscored s2 JOIN thr ON thr.lang = s2.lang
            ORDER BY s2.id"""))

  /** One n-gram order up from x_lm_quality: bigram LM with stupid backoff
    * (Brants et al. 2007) — seen bigram scores count(prev,w)/count(prev),
    * unseen backs off to 0.4 × the add-1 unigram; doc-start tokens score
    * by the unigram alone. The oracle restates the full model build +
    * backoff scoring as SQL, so every branch of the CASE (bigram hit,
    * backoff to seen unigram, backoff to OOV, doc start) is hash-gated. */
  val xLmBigram = OpQuery(
    "x_lm_bigram",
    "bigram-LM cross-entropy with stupid backoff, model from trusted subset",
    (s, dir) =>
      LmScore.scoreBigramAgainstSubset(t(s, dir, "documents"),
          "text", "doc_id", "lang", trusted = col("doc_id") % 3 =!= 0)
        .orderBy("id"),
    Some("""WITH tw AS (SELECT doc_id, lang,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            pos AS (SELECT doc_id, lang, w,
              unnest(generate_series(1, len(w))) AS i FROM tw WHERE len(w) > 0),
            tok AS (SELECT doc_id, lang, w[i] AS word,
              CASE WHEN i > 1 THEN w[i-1] END AS prev FROM pos),
            uni AS (SELECT lang, word, count(*) AS cnt FROM tok
                    WHERE doc_id % 3 <> 0 GROUP BY lang, word),
            tot AS (SELECT lang, sum(cnt) AS tot, count(*) AS vocab
                    FROM uni GROUP BY lang),
            um AS (SELECT uni.lang, word,
                CAST(floor(-ln((cnt + 1.0) / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS s_uni,
                CAST(floor(-ln(0.4 * (cnt + 1.0) / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS s_bo
              FROM uni JOIN tot ON tot.lang = uni.lang),
            ld AS (SELECT lang,
                CAST(floor(-ln(1.0 / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS oov,
                CAST(floor(-ln(0.4 / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS bo_oov
              FROM tot),
            big AS (SELECT lang, prev, word, count(*) AS bcnt FROM tok
                    WHERE doc_id % 3 <> 0 AND prev IS NOT NULL
                    GROUP BY lang, prev, word),
            bm AS (SELECT big.lang, big.prev, big.word,
                CAST(floor(-ln(CAST(bcnt AS DOUBLE) / u.cnt) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS s_big
              FROM big JOIN uni u ON u.lang = big.lang AND u.word = big.prev),
            sc AS (SELECT t.doc_id, t.lang, count(*) AS n_tok,
                sum(CASE WHEN t.prev IS NULL THEN coalesce(um.s_uni, ld.oov)
                         WHEN bm.s_big IS NOT NULL THEN bm.s_big
                         ELSE coalesce(um.s_bo, ld.bo_oov) END) AS s
              FROM tok t
              LEFT JOIN bm ON bm.lang = t.lang AND bm.prev = t.prev
                          AND bm.word = t.word
              LEFT JOIN um ON um.lang = t.lang AND um.word = t.word
              JOIN ld ON ld.lang = t.lang
              GROUP BY t.doc_id, t.lang)
            SELECT doc_id AS id, lang, CAST(n_tok AS BIGINT) AS n_tok,
              floor(CAST(s AS DOUBLE) / n_tok * 10000.0) / 10000.0
                AS cross_entropy
            FROM sc ORDER BY id"""))

  /** DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    * features (md5 2-hex prefix → 256 buckets), target = the trusted
    * two-thirds (the same doc_id % 3 split the LM-quality family trains
    * on), raw = the whole corpus. The oracle rebuilds both bucket
    * distributions and the per-bucket truncated log ratio in SQL, so the
    * feature hashing, the add-1 smoothing, and the decimal-sum scoring
    * are all hash-gated. */
  /** Shared DSIR model-and-score CTE chain (both weight distributions,
    * the truncated λ table, per-doc decimal sums) — the weights query
    * reads `sc` directly; the selection query thresholds it. */
  private val dsirCte =
    """tw AS (SELECT doc_id, doc_id % 3 <> 0 AS tgt,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            nz AS (SELECT * FROM tw WHERE len(w) > 0),
            f AS (SELECT doc_id, tgt,
              unnest(list_concat(w, CASE WHEN len(w) < 2 THEN []
                ELSE list_transform(generate_series(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i + 1]) END)) AS f
              FROM nz),
            fb AS (SELECT doc_id, tgt, substr(md5(f), 1, 2) AS b FROM f),
            rc AS (SELECT b, count(*) AS rc FROM fb GROUP BY b),
            tc AS (SELECT b, count(*) AS tc FROM fb WHERE tgt GROUP BY b),
            tots AS (SELECT (SELECT sum(rc) FROM rc) AS rt,
                            (SELECT coalesce(sum(tc), 0) FROM tc) AS tt),
            lam AS (SELECT rc.b,
              CAST(floor(ln(((coalesce(tc.tc, 0) + 1.0) / (tt + 256))
                / ((rc.rc + 1.0) / (rt + 256))) * 10000.0) / 10000.0
                AS DECIMAL(18,4)) AS lam
              FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tots),
            sc AS (SELECT doc_id, count(*) AS n_feat, sum(lam) AS s
              FROM fb JOIN lam ON lam.b = fb.b GROUP BY doc_id)"""

  val xDsirWeights = OpQuery(
    "x_dsir_weights",
    "DSIR importance-resampling log weights from hashed n-gram features (target vs raw)",
    (s, dir) =>
      graft.ext.Sampling.dsirLogWeights(t(s, dir, "documents"),
          "text", "doc_id", target = col("doc_id") % 3 =!= 0)
        .orderBy("id"),
    Some(s"""WITH $dsirCte
            SELECT doc_id AS id, CAST(n_feat AS BIGINT) AS n_feat,
              CAST(s AS DOUBLE) AS log_weight
            FROM sc ORDER BY id"""))

  /** DSIR thresholding: selected ⇔ log_weight ≥ the exact discrete
    * median. The oracle's row_number formulation (min lw with rn ≥
    * ceil(q·n)) equals the Spark side's cumulative-count percentile
    * (min v with cum(v) ≥ ceil(q·n)) — the value at sorted position
    * ceil(q·n) either way, duplicates included. */
  val xDsirSelect = OpQuery(
    "x_dsir_select",
    "DSIR selection: keep docs at/above the exact median importance weight",
    (s, dir) =>
      graft.ext.Sampling.dsirSelect(t(s, dir, "documents"),
          "text", "doc_id", target = col("doc_id") % 3 =!= 0, q = 0.5)
        .orderBy("id"),
    Some(s"""WITH $dsirCte,
            w AS (SELECT doc_id, CAST(n_feat AS BIGINT) AS n_feat,
              CAST(s AS DOUBLE) AS lw FROM sc),
            nn AS (SELECT count(*) AS n FROM w),
            rk AS (SELECT lw, row_number() OVER (ORDER BY lw) AS rn FROM w),
            thr AS (SELECT min(lw) AS thr FROM rk, nn
                    WHERE rn >= ceil(0.5 * n))
            SELECT doc_id AS id, n_feat, lw AS log_weight,
              CAST(lw >= thr AS BIGINT) AS selected
            FROM w, thr ORDER BY id"""))

  /** Multinomial Naive Bayes classify-and-argmax — the learned-filter
    * analog (GPT-3's quality logreg / fastText lang-id family) with a
    * closed-form trainer, so train + predict is one declarative plan.
    * Labels are the documents' own `lang`; the model trains on the
    * trusted two-thirds and every doc (including held-out) is scored
    * against all classes. Argmax tie-break is (log_post DESC, cls ASC)
    * via row_number in BOTH engines. */
  val xNbClassify = OpQuery(
    "x_nb_classify",
    "Naive Bayes lang classifier: train on trusted subset, argmax posterior per doc",
    (s, dir) =>
      LmScore.classifyNaiveBayes(t(s, dir, "documents"),
          "text", "doc_id", "lang", trusted = col("doc_id") % 3 =!= 0)
        .orderBy("id"),
    Some("""WITH tw AS (SELECT doc_id, lang, doc_id % 3 <> 0 AS tr,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            nz AS (SELECT * FROM tw WHERE len(w) > 0),
            tok AS (SELECT doc_id, lang, tr, unnest(w) AS word FROM nz),
            cnts AS (SELECT lang AS cls, word, count(*) AS cnt FROM tok
                     WHERE tr GROUP BY 1, 2),
            v AS (SELECT count(DISTINCT word) AS v FROM cnts),
            ct AS (SELECT cls, sum(cnt) AS tot FROM cnts GROUP BY cls),
            model AS (SELECT cls, word,
              CAST(floor(ln((cnt + 1.0) / (tot + v + 1)) * 10000.0) / 10000.0
                AS DECIMAL(18,4)) AS lp
              FROM cnts JOIN ct USING (cls) CROSS JOIN v),
            pri AS (SELECT lang AS cls, count(*) AS nd FROM nz WHERE tr
                    GROUP BY 1),
            ndt AS (SELECT sum(nd) AS ndt FROM pri),
            cd AS (SELECT ct.cls,
              CAST(floor(ln(1.0 / (tot + v + 1)) * 10000.0) / 10000.0
                AS DECIMAL(18,4)) AS oov_lp,
              CAST(floor(ln(CAST(nd AS DOUBLE) / ndt) * 10000.0) / 10000.0
                AS DECIMAL(18,4)) AS prior_lp
              FROM ct JOIN pri ON pri.cls = ct.cls CROSS JOIN v CROSS JOIN ndt),
            sc AS (SELECT t.doc_id, t.lang, cd.cls, cd.prior_lp,
              count(*) AS n, sum(coalesce(m.lp, cd.oov_lp)) AS s
              FROM tok t
              CROSS JOIN cd
              LEFT JOIN model m ON m.cls = cd.cls AND m.word = t.word
              GROUP BY t.doc_id, t.lang, cd.cls, cd.prior_lp),
            rk AS (SELECT doc_id, lang, cls, n, s + prior_lp AS post,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY (s + prior_lp) DESC, cls ASC) AS rk
              FROM sc)
            SELECT doc_id AS id, lang AS label, cls AS pred,
              CAST(n AS BIGINT) AS n_tok, CAST(post AS DOUBLE) AS log_post
            FROM rk WHERE rk = 1 ORDER BY id"""))

  /** First BPE round, fully oracle-gated: the adjacent-pair statistic
    * every merge argmaxes, top-20 with the trainer's exact
    * (weight DESC, a, b) ordering. */
  val xBpePairStats = OpQuery(
    "x_bpe_pair_stats",
    "BPE pair statistics: top-20 adjacent symbol pairs by corpus word-frequency weight",
    (s, dir) =>
      graft.ext.Bpe.pairStats(graft.ext.Bpe.wordFreq(t(s, dir, "documents"), "text"))
        .orderBy(col("weight").desc, col("sym_a"), col("sym_b"))
        .limit(20),
    Some("""WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
              x -> length(x) > 0)) AS word FROM documents),
            wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
            s AS (SELECT freq, string_split(word, '') AS sy FROM wf),
            p AS (SELECT freq, sy[CAST(i AS INT)] AS a,
                   sy[CAST(i + 1 AS INT)] AS b
                  FROM (SELECT freq, sy,
                        unnest(generate_series(1, len(sy) - 1)) AS i
                        FROM s WHERE len(sy) >= 2))
            SELECT a AS sym_a, b AS sym_b, CAST(sum(freq) AS BIGINT) AS weight
            FROM p GROUP BY 1, 2
            ORDER BY weight DESC, sym_a, sym_b LIMIT 20"""))

  /** The iterative trainer, promoted to hash-green via the replay-bound
    * recipe ([[graft.ext.Bpe.trainValidated]]): the 10-round argmax
    * fixpoint is not SQL-expressible (each round's argmax feeds the next
    * round's rewrite), so the query re-validates every recorded merge
    * through the independent wrapped-string `replace` encoding and emits
    * (step, argmax_ok, weight_ok); the oracle states the step index and
    * literal TRUEs, so the driver hash bites if train's fold and the
    * replace encoding ever disagree on any round's argmax or weight.
    * Ten rounds always complete on this corpus (top pair weights are in
    * the thousands at sf0.01 — early-stop fires only below weight 2).
    * The merge table itself stays hash-gated by x_bpe_vocab_toy
    * (VALUES oracle on the Sennrich worked example); round 1's statistic
    * by x_bpe_pair_stats. */
  val xBpeVocab = OpQuery(
    "x_bpe_vocab",
    "BPE training: 10 merge rounds, each argmax replay-validated via an independent encoding",
    (s, dir) =>
      graft.ext.Bpe.trainValidated(t(s, dir, "documents"), "text", merges = 10)
        .orderBy("step"),
    Some("""SELECT CAST(g AS INTEGER) AS step, TRUE AS argmax_ok,
                   TRUE AS weight_ok
            FROM (SELECT unnest(generate_series(1, 10)) AS g)
            ORDER BY step"""))

  /** Hash-gated twin of x_bpe_vocab: the 10-round train over the corpus
    * has no SQL restatement (each round's argmax feeds the next round's
    * rewrite), but the training LOOP itself is deterministic, so its merge
    * table on a fixed input is a known constant. This entry runs the REAL
    * Bpe.train code path on the worked example from the method's source
    * paper (Sennrich et al. 2016 §3.2: {low ×5, lower ×2, newest ×6,
    * widest ×3}, here without the end-of-word marker per the documented
    * divergence) and the oracle states the resulting merge table as
    * VALUES — derivable by hand: es(9) → est(9) → lo(7) → low(7), with
    * the round-1 tie between (e,s) and (s,t) at weight 9 broken
    * lexicographically toward (e,s), same rule both engines state. */
  val xBpeVocabToy = OpQuery(
    "x_bpe_vocab_toy",
    "BPE 4-round train on the Sennrich worked example; merge table vs VALUES oracle",
    (s, dir) => {
      import s.implicits._
      val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
      graft.ext.Bpe.train(corpus.toDF("text"), "text", merges = 4)
        .orderBy("step")
    },
    Some("""SELECT CAST(step AS INTEGER) AS step, sym_a, sym_b, merged,
                   CAST(weight AS BIGINT) AS weight
            FROM (VALUES (1, 'e', 's', 'es', 9), (2, 'es', 't', 'est', 9),
                         (3, 'l', 'o', 'lo', 7), (4, 'lo', 'w', 'low', 7))
              AS m(step, sym_a, sym_b, merged, weight)
            ORDER BY step"""))

  val xSampleStratified = OpQuery(
    "x_sample_stratified",
    "deterministic md5-threshold stratified sample (50% of 'en', 25% of the rest)",
    (s, dir) =>
      graft.ext.Sampling.stratifiedSample(
        TextAnalysis.langId(t(s, dir, "documents"), "text"),
        "doc_id", col("lang_pred"),
        cutoffs = Map("en" -> "80"), defaultCutoff = "40")
        .select("doc_id", "stratum")
        .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            s AS (SELECT doc_id,
              CAST(len(w) AS BIGINT) AS n_tok,
              CAST(len(list_filter(w, x -> x IN ($stopList))) AS BIGINT) AS n_stop
              FROM t),
            l AS (SELECT doc_id,
              CASE WHEN n_stop * 20 >= n_tok THEN 'en' ELSE 'und' END AS stratum
              FROM s)
            SELECT doc_id, stratum FROM l
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
              (CASE WHEN stratum = 'en' THEN '80' ELSE '40' END)
            ORDER BY doc_id"""))

  /** Deterministic split assignment (content-addressed 1% val / 1% test
    * / 98% train): cutoffs quantize to 1/65536 (val,test → 655/65536
    * each ≈ 0.99945%), and the oracle restates the exact hex-string
    * comparisons, so membership is hash-verified bit-for-bit. */
  val xSplitAssign = OpQuery(
    "x_split_assign",
    "deterministic train/val/test split assignment (content-addressed, 1%/1%/98%)",
    (s, dir) =>
      graft.ext.Sampling.assignSplits(t(s, dir, "documents"), "doc_id",
          head = Seq("val" -> 0.01, "test" -> 0.01), rest = "train")
        .select("doc_id", "split")
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '028f'
                     THEN 'val'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051e'
                     THEN 'test'
                   ELSE 'train' END AS split
            FROM documents ORDER BY doc_id"""))

  /** Mixture rebalancing toward target language weights (en-heavy corpus
    * rebalanced toward a flatter mix): the binding domain keeps everything
    * (cutoff 256) and the over-represented ones are deterministically
    * downsampled. All float math is mirrored double-for-double in the
    * oracle (weights forced to DOUBLE — DuckDB would otherwise divide
    * through DECIMAL and drift). */
  val xDomainMix = OpQuery(
    "x_domain_mix",
    "domain-mixture rebalancing: per-language keep fractions toward a target mix",
    (s, dir) =>
      graft.ext.Sampling.domainMix(t(s, dir, "documents"), "doc_id",
          col("lang"), weights = Map("en" -> 0.4, "zh" -> 0.15,
            "es" -> 0.15, "de" -> 0.15, "fr" -> 0.15))
        .orderBy("doc_id"),
    Some("""WITH counts AS (SELECT lang, count(*) AS cnt
                            FROM documents GROUP BY lang),
            cw AS (SELECT lang, cnt,
                CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
                     WHEN lang = 'zh' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'es' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'de' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'fr' THEN CAST(0.15 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END AS wt
              FROM counts),
            pos AS (SELECT * FROM cw WHERE wt > 0),
            sc AS (SELECT min(cnt / wt) AS scale FROM pos),
            cut AS (SELECT lang,
                CAST(CASE WHEN cnt / wt = scale THEN 256
                     ELSE greatest(1, least(256, floor(scale * wt / cnt * 256)))
                     END AS INT) AS cutoff
              FROM pos, sc)
            SELECT d.doc_id, d.lang AS domain, cut.cutoff
            FROM documents d JOIN cut ON cut.lang = d.lang
            WHERE cut.cutoff = 256
               OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
                  < printf('%02x', cut.cutoff)
            ORDER BY d.doc_id"""))

  /** Temperature-flattened mixture (α = 0.5): target weights derived
    * from the observed per-language counts as cnt^0.5, so the smallest
    * language binds (kept whole) and bigger ones are downsampled toward
    * a flatter mix — the multilingual-LM sampling move, with the same
    * content-addressed membership as x_domain_mix. α = 0.5 is the
    * oracle-gated instance because sqrt is IEEE-correctly-rounded
    * (bit-identical across engines); generic α routes through libm pow
    * and is spec-gated only (ExtSpec). */
  val xDomainTemperature = OpQuery(
    "x_domain_temperature",
    "temperature-flattened language mixture (alpha=0.5): boost small domains, trim big ones",
    (s, dir) =>
      graft.ext.Sampling.temperatureMix(t(s, dir, "documents"), "doc_id",
          col("lang"), alpha = 0.5)
        .orderBy("doc_id"),
    Some("""WITH counts AS (SELECT lang, count(*) AS cnt
                            FROM documents GROUP BY lang),
            cw AS (SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE)) AS wt
                   FROM counts),
            sc AS (SELECT min(cnt / wt) AS scale FROM cw),
            cut AS (SELECT lang,
                CAST(CASE WHEN cnt / wt = scale THEN 256
                     ELSE greatest(1, least(256, floor(scale * wt / cnt * 256)))
                     END AS INT) AS cutoff
              FROM cw, sc)
            SELECT d.doc_id, d.lang AS domain, cut.cutoff
            FROM documents d JOIN cut ON cut.lang = d.lang
            WHERE cut.cutoff = 256
               OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
                  < printf('%02x', cut.cutoff)
            ORDER BY d.doc_id"""))

  /** Robust outlier fences per event_type: both medians are selections of
    * real data values (the prefix-sum cumulative-count convention,
    * restated as a window sum in the oracle), and every derived double is
    * one IEEE op on identical operands — hash-exact end to end. */
  val xMadOutliers = OpQuery(
    "x_mad_outliers",
    "robust outlier stats per event_type: median ± 3·MAD fences (exact selections)",
    (s, dir) =>
      graft.ext.Profiling.madOutliers(t(s, dir, "events"), "event_type",
          "value", k = 3.0)
        .orderBy("event_type"),
    Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS v
              FROM events),
            c1 AS (SELECT event_type, v, count(*) AS cnt FROM v GROUP BY 1, 2),
            cu1 AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type
              ORDER BY v) AS cum FROM c1),
            t1 AS (SELECT event_type, max(cum) AS n FROM cu1 GROUP BY 1),
            med AS (SELECT c.event_type, min(v) AS med
              FROM cu1 c JOIN t1 USING (event_type)
              WHERE cum >= ceil(n * 0.5) GROUP BY 1),
            d AS (SELECT v.event_type, abs(v.v - m.med) AS v
              FROM v JOIN med m USING (event_type)),
            c2 AS (SELECT event_type, v, count(*) AS cnt FROM d GROUP BY 1, 2),
            cu2 AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type
              ORDER BY v) AS cum FROM c2),
            t2 AS (SELECT event_type, max(cum) AS n FROM cu2 GROUP BY 1),
            mad AS (SELECT c.event_type, min(v) AS mad
              FROM cu2 c JOIN t2 USING (event_type)
              WHERE cum >= ceil(n * 0.5) GROUP BY 1)
            SELECT v.event_type, m.med, md.mad,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN abs(v.v - m.med) > md.mad * 3.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM v JOIN med m USING (event_type)
            JOIN mad md USING (event_type)
            GROUP BY 1, 2, 3 ORDER BY 1"""))

  val xProfilePercentiles = OpQuery(
    "x_profile_percentiles",
    "exact disc percentiles (p50/p90/p99) of doc length and token count",
    (s, dir) =>
      graft.ext.Profiling.discPercentiles(
        TextAnalysis.tokenCounts(t(s, dir, "documents"), "text"),
        metrics = Seq("n_chars", "ws_tokens"))
        .withColumn("value", col("value").cast("long"))
        .orderBy("metric", "q"),
    Some("""WITH d AS (SELECT n_chars,
              CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS BIGINT) AS ws_tokens
              FROM documents),
            mc AS (SELECT 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS v FROM d
                   UNION ALL SELECT 'ws_tokens', ws_tokens FROM d),
            counts AS (SELECT metric, v, count(*) AS cnt FROM mc GROUP BY metric, v),
            cum AS (SELECT metric, v,
              sum(cnt) OVER (PARTITION BY metric ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              sum(cnt) OVER (PARTITION BY metric) AS n
              FROM counts),
            qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                  CAST(0.99 AS DOUBLE)]) AS q)
            SELECT metric, q, CAST(min(v) AS BIGINT) AS value
            FROM cum JOIN qs ON cum.cum >= ceil(q * n)
            GROUP BY metric, q ORDER BY metric, q"""))

  /** Concat-and-chunk sequence packing — the batching step between a
    * curated corpus and a pretraining run. Token offsets come from the
    * shared distributed prefix sum (PrefixSum.runningTotal), so the
    * assignment is exact, deterministic, and never funnels the corpus
    * through one task; the window-cumsum oracle verifies every offset
    * and pack id. */
  val xPackChunks = OpQuery(
    "x_pack_chunks",
    "concat-and-chunk sequence packing: token offsets + 512-token pack ids",
    (s, dir) =>
      graft.ext.Packing.concatChunkPacks(
        TextAnalysis.tokenCounts(t(s, dir, "documents"), "text"),
        "doc_id", "ws_tokens", budget = 512)
        .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS BIGINT) AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, n_tokens,
              sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                AS start_offset
              FROM d)
            SELECT doc_id, n_tokens,
                   CAST(start_offset AS BIGINT) AS start_offset,
                   CAST(start_offset // 512 AS BIGINT) AS pack_id
            FROM c ORDER BY doc_id"""))

  /** Sliding context windows for RAG/eval chunking — the overlap-window
    * complement of concat-and-chunk packing. All-integer chunk math,
    * map-only (the explode is per-row, no shuffle at any scale). */
  val xChunkSliding = OpQuery(
    "x_chunk_sliding",
    "sliding-window chunking: 64-token windows advancing by 32 (half overlap)",
    (s, dir) =>
      graft.ext.Packing.slidingChunks(t(s, dir, "documents"), "text",
          "doc_id", window = 64, stride = 32)
        .orderBy("doc_id", "chunk_id"),
    Some("""WITH d AS (SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS BIGINT) AS n_tok
              FROM documents),
            c AS (SELECT doc_id, n_tok,
              unnest(generate_series(0,
                (greatest(n_tok - 64, 0) + 31) // 32)) AS chunk_id
              FROM d)
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(chunk_id * 32 AS BIGINT) AS start_tok,
                   CAST(least(64, n_tok - chunk_id * 32) AS BIGINT) AS len_tok
            FROM c ORDER BY doc_id, chunk_id"""))

  /** Per-pack occupancy rollup over the packing assignment — the profile
    * that sizes a pretraining data-loader (docs per pack, spanning-doc
    * token mass). Gates [[graft.ext.Packing.packStats]], which was
    * previously spec-only. */
  val xPackStats = OpQuery(
    "x_pack_stats",
    "per-pack document/token occupancy of the concat-and-chunk assignment",
    (s, dir) =>
      graft.ext.Packing.packStats(
        graft.ext.Packing.concatChunkPacks(
          TextAnalysis.tokenCounts(t(s, dir, "documents"), "text"),
          "doc_id", "ws_tokens", budget = 512),
        budget = 512)
        .orderBy("pack_id"),
    Some("""WITH d AS (SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS BIGINT) AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, n_tokens,
              sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                AS start_offset
              FROM d)
            SELECT CAST(start_offset // 512 AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens,
                   CAST(512 AS BIGINT) AS budget
            FROM c GROUP BY 1 ORDER BY pack_id"""))

  /** Padding-efficiency profile for dynamic batching. Bucket arithmetic
    * is integer bit math on both engines (see
    * [[graft.ext.Packing.lengthBuckets]]); waste is a single IEEE
    * division, floor-truncated. */
  val xLengthBuckets = OpQuery(
    "x_length_buckets",
    "power-of-two length buckets with per-bucket padding waste",
    (s, dir) =>
      graft.ext.Packing.lengthBuckets(t(s, dir, "documents"), "text",
          minBucket = 16L)
        .orderBy("bucket"),
    Some("""WITH d AS (SELECT
              CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS BIGINT) AS n_tok
              FROM documents),
            b AS (SELECT n_tok, CASE WHEN n_tok <= 16 THEN 16
                ELSE (1::BIGINT << length(bin(n_tok - 1))) END AS bucket
              FROM d),
            g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens
              FROM b GROUP BY bucket)
            SELECT bucket, n_docs, tokens,
                   CAST(n_docs * bucket AS BIGINT) AS padded,
                   CAST(floor((1.0 - CAST(tokens AS DOUBLE) / (n_docs * bucket))
                     * 10000.0) / 10000.0 AS DOUBLE) AS waste_frac
            FROM g ORDER BY bucket"""))

  /** Padding-aware pack assignment: every column is integer math over
    * the whitespace token count — bucket by bit length, rank within
    * bucket (the oracle restates the distributed prefix-sum rank as a
    * partitioned row_number, identical because doc_id is unique), shelf
    * by integer division. Hash-exact end to end. */
  val xPackShelf = OpQuery(
    "x_pack_shelf",
    "length-bucketed shelf packing: padding-efficient (bucket, shelf) pack assignment",
    (s, dir) =>
      graft.ext.Packing.shelfPacks(t(s, dir, "documents"), "text", "doc_id",
          budget = 512L, minBucket = 16L)
        .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS BIGINT) AS n_tok
              FROM documents),
            b AS (SELECT doc_id, n_tok, CASE WHEN n_tok <= 16 THEN 16
                ELSE (1::BIGINT << length(bin(n_tok - 1))) END AS bucket
              FROM d),
            r AS (SELECT doc_id, n_tok, bucket,
                row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk
              FROM b)
            SELECT doc_id, n_tok, CAST(bucket AS BIGINT) AS bucket,
                   CAST((rk - 1) // greatest(1, 512 // bucket) AS BIGINT)
                     AS shelf_id
            FROM r ORDER BY doc_id"""))

  /** THE flagship: the whole curation family composed end to end — the
    * "curate a training corpus" call a 100 TB pipeline actually makes.
    * Quality+repetition signals and CCNet LM scoring gate the corpus,
    * survivors are PII-scrubbed, near-dup-deduplicated (MinHash→LSH→
    * Jaccard→components), decontaminated against a held-out benchmark
    * shard (winnow-fingerprint overlap ≥20%), rebalanced toward a target
    * language mixture, and packed into 512-token chunks. Every stage has
    * an individually-gated twin; this query gates their INTEROP — shared
    * scans (one token explode, one shingle frame, one fps pass), filter
    * ordering, and the exact survivor set — against one chained-CTE
    * oracle. */
  val xCurationE2e = OpQuery(
    "x_curation_e2e",
    "END-TO-END curation: quality/LM filter → scrub → dedup → decontaminate → mix → pack",
    (s, dir) =>
      graft.ext.Curation.curate(t(s, dir, "documents"),
          "text", "doc_id", "lang", "n_chars",
          qualityMin = 0.45, dupFracMax = 0.1, ceMax = 3.45,
          benchMod = 7, weights = Map("en" -> 0.4, "zh" -> 0.15,
            "es" -> 0.15, "de" -> 0.15, "fr" -> 0.15),
          packBudget = 512, minSharedPct = 20)
        .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE
            base AS (SELECT doc_id, lang, n_chars, text FROM documents),
            -- stage 1: quality + repetition signals (one scan, mirrors
            -- x_text_stats / x_repetition)
            tw AS (SELECT doc_id, lang, n_chars, text,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM base),
            sig0 AS (SELECT doc_id, lang, n_chars, text,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_filter(w, x -> x IN ($stopList))) AS BIGINT) AS n_stop,
                CASE WHEN len(w) < 2 THEN []
                     ELSE list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1]) END AS g2
              FROM tw),
            qsig AS (SELECT doc_id, lang, text,
                CAST(floor((
                  least(n_tok / 100.0, 1.0) * 0.5 +
                  (1.0 - floor(CAST(n_stop AS DOUBLE) / n_tok * 10000.0) / 10000.0) * 0.3 +
                  least(floor(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok * 10000.0)
                        / 10000.0 / 10.0, 1.0) * 0.2
                  ) * 10000.0) / 10000.0 AS DOUBLE) AS quality,
                CASE WHEN len(g2) = 0 THEN 0.0
                     ELSE floor((1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2))
                          * 10000.0) / 10000.0 END AS dup2
              FROM sig0),
            -- stage 2: CCNet unigram-LM scoring (mirrors x_lm_quality)
            tok0 AS (SELECT doc_id, lang,
                unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
              FROM base),
            counts AS (SELECT lang, word, count(*) AS cnt FROM tok0
                       WHERE doc_id % 3 <> 0 GROUP BY lang, word),
            totals AS (SELECT lang, sum(cnt) AS tot, count(*) AS vocab
                       FROM counts GROUP BY lang),
            model AS (SELECT counts.lang, word,
                CAST(floor(-ln((cnt + 1.0) / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS surprisal,
                CAST(floor(-ln(1.0 / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS oov
              FROM counts JOIN totals ON totals.lang = counts.lang),
            ml AS (SELECT lang, max(oov) AS oov FROM model GROUP BY lang),
            lmce AS (SELECT doc_id,
                floor(CAST(sum(coalesce(m.surprisal, ml.oov)) AS DOUBLE)
                      / count(*) * 10000.0) / 10000.0 AS ce
              FROM tok0
              LEFT JOIN model m ON m.lang = tok0.lang AND m.word = tok0.word
              JOIN ml ON ml.lang = tok0.lang
              GROUP BY doc_id),
            -- stage 3: joint filter + PII scrub (mirrors x_pii_scrub's chain)
            kept1 AS (SELECT q.doc_id, q.lang, q.quality, lmce.ce,
                regexp_replace(regexp_replace(regexp_replace(q.text,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<pii:email>', 'g'),
                  '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<pii:phone>', 'g'),
                  '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<pii:ipv4>', 'g')
                  AS scrubbed
              FROM qsig q JOIN lmce ON lmce.doc_id = q.doc_id
              WHERE q.quality >= 0.45 AND q.dup2 <= 0.1 AND lmce.ce <= 3.45),
            -- stage 4: MinHash→LSH→Jaccard→components dedup over the
            -- scrubbed survivors (mirrors x_dedup_pipeline)
            kw AS (SELECT doc_id, string_split(scrubbed, ' ') AS w FROM kept1),
            kpos AS (SELECT doc_id, w,
                unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM kw),
            ksh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s FROM kpos),
            ksig AS (SELECT doc_id,
              min(md5('0|'||s)) AS h0, min(md5('1|'||s)) AS h1,
              min(md5('2|'||s)) AS h2, min(md5('3|'||s)) AS h3,
              min(md5('4|'||s)) AS h4, min(md5('5|'||s)) AS h5,
              min(md5('6|'||s)) AS h6, min(md5('7|'||s)) AS h7
              FROM ksh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, md5('0'||'|'||h0||'|'||h1||'|'||h2||'|'||h3) AS band FROM ksig
              UNION ALL
              SELECT doc_id, md5('1'||'|'||h4||'|'||h5||'|'||h6||'|'||h7) FROM ksig),
            prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM banded a JOIN banded b USING (band)
                    WHERE a.doc_id < b.doc_id),
            ktok AS (SELECT DISTINCT doc_id, s AS word FROM ksh),
            ksizes AS (SELECT doc_id, count(*) AS n FROM ktok GROUP BY doc_id),
            kinter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM prs
                      JOIN ktok ta ON ta.doc_id = doc_a
                      JOIN ktok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b),
            verified AS (SELECT doc_a, doc_b
                         FROM kinter
                         JOIN ksizes sa ON sa.doc_id = doc_a
                         JOIN ksizes sb ON sb.doc_id = doc_b
                         WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                               / 10000.0 >= 0.5),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM kept1
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS doc_id, min(lab) AS component
                     FROM reach GROUP BY id),
            -- stage 5: winnow-fingerprint decontamination over the
            -- PRE-dedup survivors, overlap fraction ≥ 20%
            -- (mirrors x_decontaminate + the stats totals)
            nn AS (SELECT doc_id,
                trim(regexp_replace(lower(scrubbed), '\\s+', ' ', 'g')) AS norm
              FROM kept1),
            gg AS (SELECT doc_id, p, md5(substr(norm, CAST(p AS INT), 16)) AS h
                  FROM (SELECT doc_id, norm,
                    unnest(generate_series(1, greatest(length(norm) - 15, 1))) AS p
                    FROM nn)),
            wmin AS (SELECT doc_id, p,
                count(*) OVER (PARTITION BY doc_id) AS np,
                min(h) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
              FROM gg),
            fps AS (SELECT DISTINCT doc_id, minh AS fp FROM wmin
                    WHERE p <= greatest(np - 3, 1)),
            ftot AS (SELECT doc_id, count(*) AS ntot FROM fps GROUP BY doc_id),
            shared AS (SELECT c.doc_id, count(DISTINCT c.fp) AS nsh
              FROM fps c JOIN fps b ON b.fp = c.fp
                AND b.doc_id <> c.doc_id AND b.doc_id % 7 = 0
              GROUP BY c.doc_id),
            contaminated AS (SELECT s.doc_id
              FROM shared s JOIN ftot t ON t.doc_id = s.doc_id
              WHERE s.nsh * 100 >= t.ntot * 20),
            kept3 AS (SELECT k.* FROM kept1 k
              JOIN comp ON comp.doc_id = k.doc_id AND comp.component = k.doc_id
              WHERE k.doc_id % 7 <> 0
                AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            -- stage 6: domain-mixture rebalancing (mirrors x_domain_mix)
            dcounts AS (SELECT lang, count(*) AS cnt FROM kept3 GROUP BY lang),
            cw AS (SELECT lang, cnt,
                CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
                     WHEN lang = 'zh' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'es' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'de' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'fr' THEN CAST(0.15 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END AS wt
              FROM dcounts),
            pcw AS (SELECT * FROM cw WHERE wt > 0),
            sc AS (SELECT min(cnt / wt) AS scale FROM pcw),
            cut AS (SELECT lang,
                CAST(CASE WHEN cnt / wt = scale THEN 256
                     ELSE greatest(1, least(256, floor(scale * wt / cnt * 256)))
                     END AS INT) AS cutoff
              FROM pcw, sc),
            kept4 AS (SELECT k.doc_id, k.lang AS domain, k.quality, k.ce, k.scrubbed
              FROM kept3 k JOIN cut ON cut.lang = k.lang
              WHERE cut.cutoff = 256
                 OR substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2)
                    < printf('%02x', cut.cutoff)),
            -- stage 7: concat-and-chunk packing (mirrors x_pack_chunks;
            -- BIGINT casts — DuckDB's windowed sum yields HUGEINT)
            ptok AS (SELECT doc_id, domain, quality, ce,
                CAST(len(list_filter(string_split(scrubbed, ' '), x -> length(x) > 0))
                  AS BIGINT) AS n_tokens
              FROM kept4),
            packed AS (SELECT *,
                sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS so
              FROM ptok)
            SELECT doc_id, domain, quality, CAST(ce AS DOUBLE) AS cross_entropy,
                   n_tokens, CAST(so AS BIGINT) AS start_offset,
                   CAST(so // 512 AS BIGINT) AS pack_id
            FROM packed ORDER BY doc_id"""))

  /** The curation gate run INCREMENTALLY — the reference is a *streaming*
    * warehouse, and this is the lambda shape a streaming corpus pipeline
    * takes: the map-only gate stages (quality/repetition signals, CCNet
    * LM scoring against a model FROZEN before the stream starts, joint
    * filter, PII scrub) run per micro-batch inside a checkpointed
    * foreachBatch topology (graft.streaming.Twin.parquet), appending
    * gated documents to a parquet sink; the pairwise dedup/mix/pack tail
    * of [[graft.ext.Curation.curate]] stays batch over the gated output.
    * The oracle is the batch gate restated as SQL (the kept1 prefix of
    * x_curation_e2e's CTE chain) — hash equality proves the incremental
    * path computes exactly the batch gate. Restart/exactly-once behavior
    * is spec-gated (CurationGateStreamSpec: a restarted query re-emits
    * nothing; late files are gated exactly once). */
  val stCurationGate = OpQuery(
    "st_curation_gate_stream",
    "streaming curation gate: per-micro-batch quality/LM filter + scrub via checkpointed foreachBatch",
    (s, dir) => {
      // CCNet arrangement: the LM is fit (batch) on the trusted corpus
      // subset BEFORE the stream starts — identical fit to curate()'s —
      // then every arriving micro-batch is scored against the frozen
      // model. "Frozen" is literal: the model is staged (materialized)
      // once, or every micro-batch's scoring join would re-run the whole
      // model-build scan through its lineage.
      val model = graft.core.Materialize.stage(LmScore.unigramModel(
        t(s, dir, "documents").filter(col("doc_id") % 3 =!= 0), "text", "lang"))
      val stream = Tables.stream(s, dir, "documents")
      val out = Twin.parquet(stream, "graft_curation_gate_") { (batch, _, dst) =>
        graft.ext.Curation.gate(batch, "text", "doc_id", "lang", "n_chars",
            model, qualityMin = 0.45, dupFracMax = 0.1, ceMax = 3.45)
          .withColumn("scrubbed_md5", md5(col("scrubbed"))).drop("scrubbed")
          .write.mode("append").parquet(dst)
      }
      s.read.parquet(out)
        .select(col("doc_id"), col("domain"), col("quality"),
          col("cross_entropy").cast("double").as("cross_entropy"),
          col("scrubbed_md5"))
        .orderBy("doc_id")
    },
    Some(s"""WITH
            base AS (SELECT doc_id, lang, n_chars, text FROM documents),
            tw AS (SELECT doc_id, lang, n_chars, text,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM base),
            sig0 AS (SELECT doc_id, lang, n_chars, text,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_filter(w, x -> x IN ($stopList))) AS BIGINT) AS n_stop,
                CASE WHEN len(w) < 2 THEN []
                     ELSE list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1]) END AS g2
              FROM tw),
            qsig AS (SELECT doc_id, lang, text,
                CAST(floor((
                  least(n_tok / 100.0, 1.0) * 0.5 +
                  (1.0 - floor(CAST(n_stop AS DOUBLE) / n_tok * 10000.0) / 10000.0) * 0.3 +
                  least(floor(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok * 10000.0)
                        / 10000.0 / 10.0, 1.0) * 0.2
                  ) * 10000.0) / 10000.0 AS DOUBLE) AS quality,
                CASE WHEN len(g2) = 0 THEN 0.0
                     ELSE floor((1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2))
                          * 10000.0) / 10000.0 END AS dup2
              FROM sig0),
            tok0 AS (SELECT doc_id, lang,
                unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
              FROM base),
            counts AS (SELECT lang, word, count(*) AS cnt FROM tok0
                       WHERE doc_id % 3 <> 0 GROUP BY lang, word),
            totals AS (SELECT lang, sum(cnt) AS tot, count(*) AS vocab
                       FROM counts GROUP BY lang),
            model AS (SELECT counts.lang, word,
                CAST(floor(-ln((cnt + 1.0) / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS surprisal,
                CAST(floor(-ln(1.0 / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS oov
              FROM counts JOIN totals ON totals.lang = counts.lang),
            ml AS (SELECT lang, max(oov) AS oov FROM model GROUP BY lang),
            lmce AS (SELECT doc_id,
                floor(CAST(sum(coalesce(m.surprisal, ml.oov)) AS DOUBLE)
                      / count(*) * 10000.0) / 10000.0 AS ce
              FROM tok0
              LEFT JOIN model m ON m.lang = tok0.lang AND m.word = tok0.word
              JOIN ml ON ml.lang = tok0.lang
              GROUP BY doc_id),
            kept1 AS (SELECT q.doc_id, q.lang, q.quality, lmce.ce,
                regexp_replace(regexp_replace(regexp_replace(q.text,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<pii:email>', 'g'),
                  '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<pii:phone>', 'g'),
                  '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<pii:ipv4>', 'g')
                  AS scrubbed
              FROM qsig q JOIN lmce ON lmce.doc_id = q.doc_id
              WHERE q.quality >= 0.45 AND q.dup2 <= 0.1 AND lmce.ce <= 3.45)
            SELECT doc_id, lang AS domain, quality,
                   CAST(ce AS DOUBLE) AS cross_entropy,
                   md5(scrubbed) AS scrubbed_md5
            FROM kept1 ORDER BY doc_id"""))

  // ---------- multimodal ----------

  val xMultimodalFeatures = OpQuery(
    "x_multimodal_features",
    "binary asset column + metadata + batched (stubbed) feature extraction",
    (s, dir) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.toAssets(t(s, dir, "documents"), "doc_id", "text"), dim = 4)
      def t6(c: org.apache.spark.sql.Column) = floor(c * 1000000.0) / 1000000.0
      feats.select(
        col("asset_id"), col("byte_len"), col("content_md5"),
        t6(element_at(col("features"), 1)).as("f0"),
        t6(element_at(col("features"), 2)).as("f1"),
        t6(element_at(col("features"), 3)).as("f2"),
        t6(element_at(col("features"), 4)).as("f3"))
        .orderBy("asset_id")
    },
    Some("""SELECT doc_id AS asset_id,
            CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
            md5(text) AS content_md5,
            CAST(floor(ascii(substr(text, 1, 1)) / 255.0 * 1000000.0) / 1000000.0 AS DOUBLE) AS f0,
            CAST(floor(ascii(substr(text, 2, 1)) / 255.0 * 1000000.0) / 1000000.0 AS DOUBLE) AS f1,
            CAST(floor(ascii(substr(text, 3, 1)) / 255.0 * 1000000.0) / 1000000.0 AS DOUBLE) AS f2,
            CAST(floor(ascii(substr(text, 4, 1)) / 255.0 * 1000000.0) / 1000000.0 AS DOUBLE) AS f3
            FROM documents ORDER BY asset_id"""))

  // ---------- corpus selection / serving ----------

  /** The x_text_stats quality formula as a reusable oracle expression
    * (over CTE columns n_tok / n_stop / n_chars). */
  private val qualitySqlExpr =
    """CAST(floor((
      |  least(n_tok / 100.0, 1.0) * 0.5 +
      |  (1.0 - floor(CAST(n_stop AS DOUBLE) / n_tok * 10000.0) / 10000.0) * 0.3 +
      |  least(floor(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok * 10000.0)
      |        / 10000.0 / 10.0, 1.0) * 0.2
      |  ) * 10000.0) / 10000.0 AS DOUBLE)""".stripMargin

  /** Oracle for incremental dedup (src0-9 = existing corpus, src10+ =
    * incoming shard), shared verbatim by the batch query and its streaming
    * twin — hash equality across both proves the per-micro-batch path
    * computes exactly the batch semantics. */
  private val incrementalOracle =
    s"""WITH $sigCte,
            side AS (SELECT doc_id,
                CAST(substr(source, 4) AS INT) >= 10 AS is_new
              FROM documents),
            banded AS (
              SELECT doc_id, md5('0'||'|'||h0||'|'||h1||'|'||h2||'|'||h3) AS band FROM sig
              UNION ALL
              SELECT doc_id, md5('1'||'|'||h4||'|'||h5||'|'||h6||'|'||h7) FROM sig),
            cand AS (SELECT DISTINCT i.doc_id AS doc_a, e.doc_id AS doc_b
                     FROM banded i
                     JOIN side si ON si.doc_id = i.doc_id AND si.is_new
                     JOIN banded e ON e.band = i.band
                     JOIN side se ON se.doc_id = e.doc_id AND NOT se.is_new),
            tok AS (SELECT DISTINCT doc_id, s AS word FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM cand
                      JOIN tok ta ON ta.doc_id = doc_a
                      JOIN tok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b),
            near AS (SELECT DISTINCT doc_a FROM inter
                     JOIN sizes sa ON sa.doc_id = doc_a
                     JOIN sizes sb ON sb.doc_id = doc_b
                     WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                           / 10000.0 >= 0.5),
            exact AS (SELECT d.doc_id FROM documents d
                      JOIN side s ON s.doc_id = d.doc_id AND s.is_new
                      WHERE md5(d.text) IN
                        (SELECT md5(dd.text) FROM documents dd
                         JOIN side ss ON ss.doc_id = dd.doc_id AND NOT ss.is_new))
            SELECT d.doc_id,
              CAST(d.doc_id IN (SELECT doc_id FROM exact) AS BIGINT) AS dropped_exact,
              CAST(d.doc_id IN (SELECT doc_a FROM near) AS BIGINT) AS dropped_near,
              CAST((d.doc_id NOT IN (SELECT doc_id FROM exact)
                    AND d.doc_id NOT IN (SELECT doc_a FROM near)) AS BIGINT) AS is_kept
            FROM documents d JOIN side s ON s.doc_id = d.doc_id AND s.is_new
            ORDER BY d.doc_id"""

  val xDedupIncremental = OpQuery(
    "x_dedup_incremental",
    "incremental cross-corpus dedup: new shard (src10+) filtered against " +
      "the existing corpus (src0-9) by exact hash + LSH/Jaccard near-dup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val srcNum = expr("CAST(substring(source, 4) AS INT)")
      graft.ext.Dedup.incrementalDedup(
          d.filter(srcNum < 10), d.filter(srcNum >= 10), "text", "doc_id")
        .orderBy("doc_id")
    },
    Some(incrementalOracle))

  /** Incremental dedup run as a STREAM — the production arrangement: the
    * corpus-side index (hashes, shingle tokens, band keys) is built and
    * frozen BEFORE the stream starts, then every arriving micro-batch of
    * new documents pays only its own work against the staged index inside
    * a checkpointed foreachBatch topology. Flags are row-independent given
    * the frozen index, so the streamed union equals the one-shot batch run
    * — proved by sharing x_dedup_incremental's oracle verbatim. Restart
    * semantics spec-gated (IncrementalDedupStreamSpec). */
  val stDedupIncremental = OpQuery(
    "st_dedup_incremental_stream",
    "streaming incremental dedup: micro-batches filtered against a frozen corpus index via checkpointed foreachBatch",
    (s, dir) => {
      val srcNum = expr("CAST(substring(source, 4) AS INT)")
      val index = graft.ext.Dedup.buildCorpusIndex(
        t(s, dir, "documents").filter(srcNum < 10), "text", "doc_id")
      val stream = Tables.stream(s, dir, "documents")
        .filter(srcNum >= 10)
      val out = Twin.parquet(stream, "graft_incdedup_stream_") { (batch, _, dst) =>
        graft.ext.Dedup.incrementalDedupAgainst(index, batch, "text", "doc_id")
          .write.mode("append").parquet(dst)
      }
      s.read.parquet(out).orderBy("doc_id")
    },
    Some(incrementalOracle))

  /** Incremental line dedup, streaming-executed: the corpus line index is
    * staged ONCE before the stream starts, each micro-batch pays only its
    * own lines + one keyed index join, and each processed batch's distinct
    * lines are PERSISTED to a per-batch parquet dir so first-wins holds
    * ACROSS batches too — boilerplate suppression for a live ingest feed.
    * The cross-batch memory is durable, not a driver-local var: a batch
    * reads every prior committed batch's lines back from disk, so a
    * kill/restart-from-checkpoint resumes with the same seen-set instead
    * of re-keeping lines already kept in committed batches (the
    * flatMapGroupsWithState twins get this from the state store; this
    * foreachBatch topology gets it from the per-batch side-write, which is
    * idempotent under replay — a replayed batch overwrites its OWN dir and
    * reads only strictly-earlier ones). The oracle's global (doc_id, pos)
    * rule coincides with processing-order first-wins because the file
    * source delivers documents in id order. */
  val stLineDedup = OpQuery(
    "st_line_dedup_stream",
    "streaming incremental line dedup against a frozen corpus line index",
    (s, dir) => {
      val srcNum = expr("CAST(substring(source, 4) AS INT)")
      val index = graft.ext.Dedup.buildLineIndex(
        pseudoLines(t(s, dir, "documents").filter(srcNum < 10)),
        "text", "doc_id")
      val stream = Tables.stream(s, dir, "documents")
        .filter(srcNum >= 10)
      val out = Twin.parquet(stream, "graft_linededup_stream_") { (batch, batchId, dst) =>
        val seenRoot = s"${dst}_seen" // beside the sink dir
        val b = pseudoLines(batch.select("doc_id", "text"))
        // cross-batch first-wins from DURABLE state: frozen corpus index
        // plus every strictly-earlier batch's persisted lines (empty on the
        // first batch — zero overhead in the single-batch verify/bench
        // shape; LineDedupSpec drives the multi-batch + restart paths).
        // SeenDirs gives the LSM lifecycle: per-batch overwrite deltas,
        // folded into a base every compactEvery dirs (r14 — same fix as
        // srpDedupStep, so a long-running ingest's per-batch fixed cost
        // stays O(compactEvery) instead of growing with batch count)
        val priorDirs = graft.ops.SeenDirs.effectiveDirs(s, seenRoot, batchId)
        val eff =
          if (priorDirs.isEmpty) index
          else index.union(s.read.parquet(priorDirs: _*).select("line"))
            .distinct().staged
        // per-batch overwrite dir on the OUT side too: a replayed batch
        // rewrites its own emission instead of appending duplicates
        graft.ext.Dedup.lineDedupAgainst(eff, b, "text", "doc_id")
          .write.mode("overwrite").parquet(s"$dst/b$batchId")
        // overwrite = idempotent under at-least-once replay: a replayed
        // batch rewrites its own dir and never extends anyone else's
        graft.ext.Dedup.buildLineIndex(b, "text", "doc_id")
          .write.mode("overwrite").parquet(s"$seenRoot/b$batchId")
      }
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text,
              CAST(substring(source, 4) AS INT) AS srcnum FROM documents),
            w AS (SELECT doc_id, srcnum, string_split(text, ' ') AS w FROM d),
            segs AS (SELECT doc_id, srcnum, i AS pos,
                array_to_string(w[(i*10+1):(i*10+10)], ' ') AS line
              FROM w, unnest(generate_series(0,
                CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS t(i)),
            cl AS (SELECT DISTINCT line FROM segs WHERE srcnum < 10),
            inc AS (SELECT doc_id, pos, line FROM segs WHERE srcnum >= 10),
            f AS (SELECT doc_id, pos, line,
                (row_number() OVER (PARTITION BY line
                   ORDER BY doc_id, pos) = 1
                 AND line NOT IN (SELECT line FROM cl)) AS is_first
              FROM inc)
            SELECT doc_id,
              coalesce(string_agg(CASE WHEN is_first THEN line END,
                chr(10) ORDER BY pos), '') AS text_kept,
              CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT)
                AS n_dropped
            FROM f GROUP BY doc_id ORDER BY doc_id"""))

  val xDedupKeepbest = OpQuery(
    "x_dedup_keepbest",
    "quality-aware dedup: near-dup clusters keep the HIGHEST-quality member " +
      "(ties -> smallest id) instead of the smallest id",
    (s, dir) => {
      val q = TextAnalysis.qualityScore(t(s, dir, "documents"), "text", "n_chars")
      graft.ext.Dedup.dedupCorpusKeepBest(q, "text", "doc_id", col("quality"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $sigCte,
            $lshPairsCte,
            tok AS (SELECT DISTINCT doc_id, s AS word FROM sh),
            sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM prs
                      JOIN tok ta ON ta.doc_id = doc_a
                      JOIN tok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b),
            verified AS (SELECT doc_a, doc_b
                         FROM inter
                         JOIN sizes sa ON sa.doc_id = doc_a
                         JOIN sizes sb ON sb.doc_id = doc_b
                         WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                               / 10000.0 >= 0.5),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS doc_id, min(lab) AS component
                     FROM reach GROUP BY id),
            tq AS (SELECT doc_id,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_filter(w, x -> x IN ($stopList))) AS BIGINT) AS n_stop,
                n_chars
              FROM (SELECT doc_id, n_chars,
                    list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
                    FROM documents)),
            scored AS (SELECT doc_id, $qualitySqlExpr AS score FROM tq)
            SELECT comp.doc_id, CAST(comp.component AS BIGINT) AS component,
                   scored.score,
                   CAST(row_number() OVER (PARTITION BY comp.component
                        ORDER BY scored.score DESC, comp.doc_id) = 1 AS BIGINT)
                     AS is_kept
            FROM comp JOIN scored ON scored.doc_id = comp.doc_id
            ORDER BY comp.doc_id"""))

  /** Span-level exact dedup (Lee et al. 2021 ExactSubstr, reshaped for
    * Spark as n-gram hashing — SURVEY.md north-star op): the oracle
    * restates coverage as a windowed max over duplicated-8-gram start
    * flags (position j is covered iff a duplicated gram starts in
    * [j−7, j]), which is provably the same interval union the Spark side
    * folds over sorted start positions — the window shape is fine for
    * DuckDB at oracle scale, while the fold shape avoids the
    * corpus-token-sized PARTITION BY doc shuffle at 100 TB. */
  val xSubstringDedup = OpQuery(
    "x_substring_dedup",
    "duplicated-span coverage per doc (ExactSubstr): token 8-grams occurring more than once corpus-wide",
    (s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "text", "doc_id", n = 8)
        .orderBy("doc_id"),
    Some("""WITH tw AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, w FROM tw),
            pos AS (SELECT doc_id, w, n_tok,
              unnest(generate_series(1, CAST(greatest(n_tok, 1) AS INT))) AS i
              FROM base),
            g AS (SELECT doc_id, i,
              CASE WHEN i + 7 <= n_tok
                   THEN md5(array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))
              END AS h
              FROM pos),
            cnt AS (SELECT h, count(*) AS c FROM g WHERE h IS NOT NULL GROUP BY h),
            fl AS (SELECT g.doc_id, g.i,
              CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END AS st
              FROM g LEFT JOIN cnt ON cnt.h = g.h),
            cov AS (SELECT doc_id, max(st) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
              FROM fl),
            agg AS (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS n_dup_tok
              FROM cov GROUP BY doc_id)
            SELECT b.doc_id, b.n_tok,
              CAST(coalesce(a.n_dup_tok, 0) AS BIGINT) AS n_dup_tok,
              CAST(b.n_tok - coalesce(a.n_dup_tok, 0) AS BIGINT) AS retained_tok,
              floor(CAST(coalesce(a.n_dup_tok, 0) AS DOUBLE)
                    / greatest(b.n_tok, 1) * 10000.0) / 10000.0 AS dup_frac
            FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
            ORDER BY b.doc_id"""))

  /** The removal half of ExactSubstr: the oracle rebuilds each doc by
    * string_agg over uncovered positions and the gate compares the md5
    * of the reconstructed text — so the cut positions, the join
    * separator, and the empty-doc edge are all byte-gated. */
  val xSubstringCut = OpQuery(
    "x_substring_cut",
    "ExactSubstr span removal: retained text after cutting corpus-duplicated 8-gram spans",
    (s, dir) =>
      Dedup.cutDuplicatedSpans(t(s, dir, "documents"), "text", "doc_id", n = 8)
        .select(col("doc_id"), col("n_tok"), col("retained_tok"),
          md5(col("retained")).as("retained_md5"))
        .orderBy("doc_id"),
    Some("""WITH tw AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, w FROM tw),
            pos AS (SELECT doc_id, w, n_tok,
              unnest(generate_series(1, CAST(greatest(n_tok, 1) AS INT))) AS i
              FROM base),
            g AS (SELECT doc_id, i, n_tok,
              CASE WHEN i <= n_tok THEN w[CAST(i AS INT)] END AS tok,
              CASE WHEN i + 7 <= n_tok
                   THEN md5(array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' '))
              END AS h
              FROM pos),
            cnt AS (SELECT h, count(*) AS c FROM g WHERE h IS NOT NULL GROUP BY h),
            fl AS (SELECT g.doc_id, g.i, g.n_tok, g.tok,
              CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END AS st
              FROM g LEFT JOIN cnt ON cnt.h = g.h),
            cov AS (SELECT doc_id, i, n_tok, tok,
              max(st) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
              FROM fl),
            r AS (SELECT doc_id,
              CAST(sum(CASE WHEN covered = 0 AND i <= n_tok THEN 1 ELSE 0 END)
                AS BIGINT) AS retained_tok,
              coalesce(string_agg(CASE WHEN covered = 0 THEN tok END, ' '
                ORDER BY i), '') AS ret
              FROM cov GROUP BY doc_id)
            SELECT b.doc_id, b.n_tok, r.retained_tok, md5(r.ret) AS retained_md5
            FROM base b JOIN r ON r.doc_id = b.doc_id
            ORDER BY b.doc_id"""))

  val xShardAssign = OpQuery(
    "x_shard_assign",
    "deterministic corpus shuffle: content-addressed sort key, 16-way shard, " +
      "position within shard",
    (s, dir) =>
      graft.ext.Sharding.shardAssign(t(s, dir, "documents"), "doc_id", 16)
        .select("doc_id", "sort_key", "shard", "pos")
        .orderBy("doc_id"),
    Some("""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sort_key
              FROM documents),
            s AS (SELECT doc_id, sort_key,
              CAST(((instr('0123456789abcdef', substr(sort_key, 1, 1)) - 1) * 16 +
                    (instr('0123456789abcdef', substr(sort_key, 2, 1)) - 1)) % 16
                AS BIGINT) AS shard
              FROM h)
            SELECT doc_id, sort_key, shard,
              CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id)
                AS BIGINT) AS pos
            FROM s ORDER BY doc_id"""))

  /** Integrity manifest over the 16-way shard layout: each shard's
    * checksum is md5 over its rows' content hashes in SORTED order — a
    * pure function of the shard's row set, independent of task count,
    * read order, or file layout. Any corrupted, duplicated or dropped
    * row flips exactly its shard's checksum. */
  val xShardManifest = OpQuery(
    "x_shard_manifest",
    "per-shard integrity manifest: row count + order-independent content checksum",
    (s, dir) =>
      graft.ext.Sharding.shardManifest(
        graft.ext.Sharding.shardAssign(t(s, dir, "documents"), "doc_id", 16),
        "shard", Seq("doc_id", "text"))
        .orderBy("shard"),
    Some("""WITH h AS (SELECT doc_id, text,
              md5(CAST(doc_id AS VARCHAR)) AS sort_key FROM documents),
            s AS (SELECT doc_id, text,
              CAST(((instr('0123456789abcdef', substr(sort_key, 1, 1)) - 1) * 16 +
                    (instr('0123456789abcdef', substr(sort_key, 2, 1)) - 1)) % 16
                AS BIGINT) AS shard
              FROM h),
            rh AS (SELECT shard,
              md5('V' || length(CAST(doc_id AS VARCHAR)) || ':'
                  || CAST(doc_id AS VARCHAR)
                  || 'V' || length(text) || ':' || text) AS rhash FROM s)
            SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
              md5(string_agg(rhash, '' ORDER BY rhash)) AS checksum
            FROM rh GROUP BY shard ORDER BY shard"""))

  /** Curriculum layout: global rank by document length (short→long, the
    * classic length curriculum) cut into 8 contiguous shards. The Spark
    * side computes the rank as a distributed prefix sum of ones (no
    * global window — PlanSpec holds every window to the prefix-sum
    * partition key); the oracle is the plain row_number reference, so
    * the two-phase rank is hash-verified bit-for-bit. */
  val xCurriculumOrder = OpQuery(
    "x_curriculum_order",
    "curriculum ordering: global rank by n_chars via distributed prefix sum, 8 contiguous shards",
    (s, dir) =>
      graft.ext.Sharding.curriculumOrder(
          t(s, dir, "documents"), "doc_id", "n_chars", nShards = 8)
        .orderBy("global_rank"),
    Some("""WITH r AS (SELECT doc_id, n_chars,
              row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank
              FROM documents),
            n AS (SELECT count(*) AS n FROM documents)
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
              CAST(global_rank AS BIGINT) AS global_rank,
              CAST(((global_rank - 1) * 8) // n AS BIGINT) AS shard
            FROM r, n ORDER BY global_rank"""))

  val xBudgetSelect = OpQuery(
    "x_budget_select",
    "token-budget selection: per source, keep best-quality docs while the " +
      "running token total stays within 600 tokens",
    (s, dir) =>
      graft.ext.Sampling.tokenBudgetSelect(
          TextAnalysis.qualityScore(t(s, dir, "documents"), "text", "n_chars"),
          "doc_id", col("source"), col("n_tok"), col("quality"), budget = 600L)
        .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, source, n_chars,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
            sx AS (SELECT doc_id, source, n_chars,
              CAST(len(w) AS BIGINT) AS n_tok,
              CAST(len(list_filter(w, x -> x IN ($stopList))) AS BIGINT) AS n_stop
              FROM t),
            q AS (SELECT doc_id, source AS domain, n_tok,
              $qualitySqlExpr AS score
              FROM sx),
            r AS (SELECT doc_id, domain, n_tok, score,
              sum(n_tok) OVER (PARTITION BY domain ORDER BY score DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM q)
            SELECT doc_id, domain, n_tok, score,
                   CAST(cum <= 600 AS BIGINT) AS selected
            FROM r ORDER BY doc_id"""))

  val xCorpusDiff = OpQuery(
    "x_corpus_diff",
    "snapshot diff: added/removed/changed/unchanged between two corpus " +
      "versions (old = ids with id%10<9, new = ids with id%10>0, texts " +
      "of id%7=0 rewritten)",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 10 < 9)
      val newSnap = d.filter(col("doc_id") % 10 > 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.ext.Profiling.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH o AS (SELECT doc_id, md5(text) AS ho FROM documents
              WHERE doc_id % 10 < 9),
            n AS (SELECT doc_id,
                md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS hn
              FROM documents WHERE doc_id % 10 > 0)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   WHEN ho = hn THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
            ORDER BY doc_id"""))

  val xSampleKGroup = OpQuery(
    "x_sample_kgroup",
    "uniform 5-per-source sample via bounded-heap top-k on content hash " +
      "(no per-group window sort)",
    (s, dir) =>
      graft.ext.Sampling.uniformKPerGroup(t(s, dir, "documents"), "doc_id",
          col("source"), kPer = 5)
        .withColumnRenamed("grp", "domain")
        .orderBy("domain", "rk"),
    Some("""WITH r AS (SELECT doc_id, source AS domain,
              row_number() OVER (PARTITION BY source
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id)
                AS rk
              FROM documents)
            SELECT doc_id, domain, CAST(rk AS BIGINT) AS rk
            FROM r WHERE rk <= 5 ORDER BY domain, rk"""))

  val xVocabProfile = OpQuery(
    "x_vocab_profile",
    "per-source vocabulary profile: token mass, vocab size, hapax count, " +
      "type/token ratio",
    (s, dir) =>
      TextAnalysis.vocabProfile(t(s, dir, "documents"), "text", col("source"))
        .orderBy("domain"),
    Some("""WITH tok AS (SELECT source AS domain,
              unnest(string_split(text, ' ')) AS word FROM documents),
            wc AS (SELECT domain, word, count(*) AS c
                   FROM tok WHERE length(word) > 0 GROUP BY domain, word)
            SELECT domain,
              CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS vocab_size,
              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS hapax_count,
              CAST(floor(CAST(count(*) AS DOUBLE) / sum(c) * 10000.0) / 10000.0
                AS DOUBLE) AS type_token_ratio
            FROM wc GROUP BY domain ORDER BY domain"""))

  /** Distribution-shift diagnostic; determinism discipline (term-wise
    * ln truncation, exact-integer products, DECIMAL weighted sum) on
    * [[TextAnalysis.domainKl]]. */
  val xDomainKl = OpQuery(
    "x_domain_kl",
    "KL(domain unigram dist || corpus dist) per source - distribution shift",
    (s, dir) =>
      TextAnalysis.domainKl(t(s, dir, "documents"), "text", col("source"))
        .orderBy("domain"),
    Some("""WITH tok AS (SELECT source AS domain,
              unnest(string_split(text, ' ')) AS word FROM documents),
            dw AS (SELECT domain, word, CAST(count(*) AS BIGINT) AS c_dw
                   FROM tok WHERE length(word) > 0 GROUP BY domain, word),
            dt AS (SELECT domain, CAST(sum(c_dw) AS BIGINT) AS n_d
                   FROM dw GROUP BY domain),
            cwt AS (SELECT word, CAST(sum(c_dw) AS BIGINT) AS c_w
                    FROM dw GROUP BY word),
            nt AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM dt),
            terms AS (SELECT dw.domain, dt.n_d, dw.c_dw,
                CAST(floor(ln(CAST(dw.c_dw * nt.n AS DOUBLE) /
                  (dt.n_d * cwt.c_w)) * 10000.0) / 10000.0
                  AS DECIMAL(18,4)) AS term
              FROM dw JOIN dt USING (domain) JOIN cwt USING (word)
              CROSS JOIN nt),
            sums AS (SELECT domain, n_d, sum(term * c_dw) AS s
                     FROM terms GROUP BY domain, n_d)
            SELECT domain, n_d AS n_tokens,
              CAST(floor(CAST(s AS DOUBLE) / n_d * 10000.0) / 10000.0
                AS DOUBLE) AS kl
            FROM sums ORDER BY domain"""))

  val xTfidfTopk = OpQuery(
    "x_tfidf_topk",
    "TF-IDF keyword extraction: top-5 most distinctive words per source",
    (s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), "text", col("source"),
          kTop = 5)
        .orderBy("domain", "rank"),
    Some("""WITH tok AS (SELECT source AS domain,
              unnest(string_split(text, ' ')) AS word FROM documents),
            tf AS (SELECT domain, word, CAST(count(*) AS BIGINT) AS tf
                   FROM tok WHERE length(word) > 0 GROUP BY domain, word),
            dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY word),
            nd AS (SELECT count(DISTINCT domain) AS n FROM tf),
            scored AS (SELECT domain, word, tf, df,
                floor(tf * (floor(ln(CAST(n AS DOUBLE) / df) * 10000.0) / 10000.0)
                      * 10000.0) / 10000.0 AS tfidf
              FROM tf JOIN dfq USING (word) CROSS JOIN nd),
            r AS (SELECT *, row_number() OVER (PARTITION BY domain
                    ORDER BY tfidf DESC, word) AS rank FROM scored)
            SELECT domain, word, tf, df, CAST(tfidf AS DOUBLE) AS tfidf,
                   CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5 ORDER BY domain, rank"""))

  /** Token accounting under a FROZEN BPE merge table — the production
    * shape: tokenizers are trained once and frozen, then every corpus
    * pass counts tokens under the fixed rules (budget accounting, packing
    * input). Rules here are the corpus's own top-8 trained merges, inlined
    * as parameters.
    *
    * The oracle is an INDEPENDENT encoding arrangement: greedy
    * left-to-right pair merging over a symbol array (Spark's
    * `Bpe.mergePair` fold) is equivalent to sequential non-overlapping
    * string `replace` over symbols wrapped as `|sym|` and concatenated —
    * the wrapping makes every symbol boundary explicit, so `|a||b|` can
    * only match a whole-symbol adjacency (never a substring of a longer
    * symbol), and replace's continue-after-match scan IS the greedy
    * left-to-right non-rescanning order. Parity is therefore a
    * cross-implementation semantic check (like j6's native ASOF), not a
    * mirrored formula. Assumes symbols never contain '|' (whitespace
    * tokenization of this corpus guarantees it). */
  val xBpeEncode = OpQuery(
    "x_bpe_encode",
    "per-doc token counts under a frozen 8-rule BPE merge table",
    (s, dir) =>
      graft.ext.Bpe.encodeTokenCounts(t(s, dir, "documents"), "text", "doc_id",
          rules = Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
            "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u"))
        .select(col("id").as("doc_id"), col("n_words"), col("n_bpe_tok"))
        .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                         FROM documents),
            tk AS (SELECT doc_id, word FROM tok WHERE length(word) > 0),
            w AS (SELECT DISTINCT word FROM tk),
            enc AS (SELECT word,
                replace(replace(replace(replace(replace(replace(replace(replace(
                  '|' || array_to_string(string_split(word, ''), '||') || '|',
                  '|e||r|', '|er|'), '|i||n|', '|in|'), '|o||w|', '|ow|'),
                  '|o||r|', '|or|'), '|s||t|', '|st|'), '|m||er|', '|mer|'),
                  '|a||t|', '|at|'), '|l||u|', '|lu|') AS s
              FROM w),
            ns AS (SELECT word,
                CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_sym
              FROM enc)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_sym) AS BIGINT) AS n_bpe_tok
            FROM tk JOIN ns USING (word)
            GROUP BY doc_id ORDER BY doc_id"""))

  /** BM25 ranked retrieval over the corpus for a fixed probe-term set.
    * Terms are parameters of the query (as a search engine's would be),
    * chosen from the synthetic vocabulary so every term matches. */
  val xBm25Topk = OpQuery(
    "x_bm25_topk",
    "Okapi BM25 top-5 documents per query term (k1=1.2, b=0.75)",
    (s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          terms = Seq("spark", "window", "hash"), kTop = 5)
        .orderBy("word", "rank"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                         FROM documents),
            tk AS (SELECT doc_id, word FROM tok WHERE length(word) > 0),
            dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                   FROM tk GROUP BY doc_id),
            corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                              CAST(sum(dl) AS BIGINT) AS tot FROM dl),
            tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
                   FROM tk WHERE word IN ('spark', 'window', 'hash')
                   GROUP BY doc_id, word),
            dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY word),
            sc AS (SELECT tf.doc_id, tf.word, tf.tf, dl.dl,
                floor(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)
                         + 1.0) * 10000.0) / 10000.0 AS idf,
                CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
              FROM tf JOIN dl USING (doc_id) JOIN dfq USING (word)
              CROSS JOIN corpus),
            s2 AS (SELECT doc_id, word, tf, dl,
                floor(idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                      * 10000.0) / 10000.0 AS score
              FROM sc),
            r AS (SELECT *, row_number() OVER (PARTITION BY word
                    ORDER BY score DESC, doc_id) AS rank FROM s2)
            SELECT word, CAST(rank AS BIGINT) AS rank, doc_id, tf, dl,
                   CAST(score AS DOUBLE) AS score
            FROM r WHERE rank <= 5 ORDER BY word, rank"""))

  /** The skew diagnostic paired with j7_skew_join: ratio = key load over
    * mean key load on the same lineitem⋈supplier key. */
  val xKeySkew = OpQuery(
    "x_key_skew",
    "top-20 heavy-hitter join keys with load ratio over the mean key",
    (s, dir) =>
      graft.ext.Profiling.keySkew(t(s, dir, "lineitem"), "l_suppkey",
          kTop = 20)
        .orderBy("rank"),
    Some("""WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS ct
                       FROM lineitem GROUP BY l_suppkey),
            st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                          CAST(sum(ct) AS BIGINT) AS total FROM c),
            r AS (SELECT key, ct, row_number() OVER (ORDER BY ct DESC, key)
                    AS rank FROM c)
            SELECT CAST(rank AS BIGINT) AS rank, key, ct,
              CAST(floor(ct / (CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE))
                         * 10000.0) / 10000.0 AS DOUBLE) AS ratio
            FROM r CROSS JOIN st WHERE rank <= 20 ORDER BY rank"""))

  /** Deequ-style per-column quality profile of the orders fact table.
    * Doubles render through DECIMAL(18,2), timestamps through the shared
    * format — raw double→string casts differ across engines. */
  val xDqProfile = OpQuery(
    "x_dq_profile",
    "per-column data-quality profile: rows, nulls, distinct, min/max",
    (s, dir) =>
      graft.ext.Profiling.columnProfile(t(s, dir, "orders"), Seq(
          "o_orderkey" -> col("o_orderkey"),
          "o_orderstatus" -> col("o_orderstatus"),
          "o_totalprice" -> col("o_totalprice").cast("decimal(18,2)"),
          "o_orderdate" -> date_format(col("o_orderdate"),
            "yyyy-MM-dd HH:mm:ss"),
          "o_orderpriority" -> col("o_orderpriority")))
        .orderBy("col_name"),
    Some("""WITH p AS (
              SELECT 'o_orderkey' AS col_name,
                     CAST(o_orderkey AS VARCHAR) AS v FROM orders
              UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
              UNION ALL SELECT 'o_totalprice',
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
                FROM orders
              UNION ALL SELECT 'o_orderdate',
                strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') FROM orders
              UNION ALL SELECT 'o_orderpriority', o_orderpriority
                FROM orders)
            SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) - count(v) AS BIGINT) AS null_ct,
              CAST(count(DISTINCT v) AS BIGINT) AS distinct_ct,
              min(v) AS min_s, max(v) AS max_s
            FROM p GROUP BY col_name ORDER BY col_name"""))

  /** 10-word pseudo-line segmentation (the corpus has no newlines) —
    * shared by the batch and streaming line-dedup queries so both engines
    * and both execution modes restate ONE segmentation. */
  private def pseudoLines(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val words = split(col("text"), " ")
    docs.select(col("doc_id"),
      array_join(
        transform(
          sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
          i => array_join(slice(words, i * 10 + 1, lit(10)), " ")),
        "\n").as("text"))
  }

  /** Shared chunk CTEs (size 40, stride 30): tokenized windows with the
    * emission rule [[graft.ext.Chunking]] states — starts 1, 1+30, … ≤
    * max(n, 1), tail kept, empty doc → one empty chunk. */
  private val chunkCte =
    """w AS (SELECT doc_id, list_filter(string_split(text, ' '),
      |        t -> len(t) > 0) AS w FROM documents),
      |st AS (SELECT doc_id, w,
      |       unnest(generate_series(1, greatest(len(w), 1), 30)) AS s FROM w),
      |ch AS (SELECT doc_id, s, w[s : s + 39] AS toks FROM st),
      |cx AS (SELECT doc_id,
      |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
      |            AS BIGINT) AS chunk_idx,
      |       CAST(s AS BIGINT) AS chunk_start,
      |       CAST(len(toks) AS BIGINT) AS n_tokens,
      |       array_to_string(toks, ' ') AS chunk_text
      |       FROM ch)""".stripMargin

  /** Context-window chunking — the RAG/pretraining prep staple, map-only
    * (no shuffle before the final presentation sort; PlanSpec pins it). */
  val xChunkWindows = OpQuery(
    "x_chunk_windows",
    "fixed-window document chunking: 40-token chunks, stride 30 (overlap 10)",
    (s, dir) =>
      graft.ext.Chunking.chunk(t(s, dir, "documents"), "text", "doc_id",
          size = 40, stride = 30)
        .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH $chunkCte
            SELECT doc_id, chunk_idx, chunk_start, n_tokens, chunk_text
            FROM cx ORDER BY doc_id, chunk_idx"""))

  /** Chunk-granularity dedup — duplicate boilerplate chunks would
    * dominate a RAG index's retrieval; first-wins by (doc, idx). */
  val xChunkDedup = OpQuery(
    "x_chunk_dedup",
    "chunk-level first-wins dedup over the 40/30 windows",
    (s, dir) =>
      graft.ext.Chunking.chunkDedup(t(s, dir, "documents"), "text", "doc_id",
          size = 40, stride = 30)
        .withColumn("is_kept", col("is_kept").cast("long"))
        .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH $chunkCte
            SELECT doc_id, chunk_idx, n_tokens, chunk_text,
              CAST(row_number() OVER (PARTITION BY chunk_text
                     ORDER BY doc_id, chunk_idx) = 1 AS BIGINT) AS is_kept
            FROM cx ORDER BY doc_id, chunk_idx"""))

  /** C4's line-level dedup (Raffel et al. 2020 §2.2 — "removed all but
    * one of any [span] occurring more than once"): a line keeps only its
    * globally first (doc_id, pos) occurrence. The corpus has no newlines,
    * so the query first segments each doc into 10-word pseudo-lines —
    * a deterministic map both engines restate — then runs the general
    * delimiter-based op. The synthetic corpus's exact/near-dup docs give
    * the cut a real workout (their shared segments drop from the later
    * copy). */
  val xLineDedup = OpQuery(
    "x_line_dedup",
    "C4 line-level global dedup: keep first occurrence, rebuild docs",
    (s, dir) =>
      Dedup.lineDedup(pseudoLines(t(s, dir, "documents")), "text", "doc_id")
        .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
            segs AS (SELECT doc_id, i AS pos,
                array_to_string(w[(i*10+1):(i*10+10)], ' ') AS line
              FROM w, unnest(generate_series(0,
                CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS t(i)),
            f AS (SELECT doc_id, pos, line,
                (row_number() OVER (PARTITION BY line
                   ORDER BY doc_id, pos) = 1) AS is_first
              FROM segs)
            SELECT doc_id,
              coalesce(string_agg(CASE WHEN is_first THEN line END,
                chr(10) ORDER BY pos), '') AS text_kept,
              CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT)
                AS n_dropped
            FROM f GROUP BY doc_id ORDER BY doc_id"""))

  /** The Gopher rule set (Rae et al. 2021 A1.1) with every ratio
    * threshold realized as integer cross-multiplication — flags are
    * bit-identical across engines, so the full rule table hash-gates. */
  val xGopherRules = OpQuery(
    "x_gopher_rules",
    "Gopher document-quality rules as per-rule flags (integer-exact ratios)",
    (s, dir) =>
      // the synthetic vocabulary's only function words are "the" and "a",
      // so the stop-word rule runs with the corpus's own inventory (the
      // published Gopher list stays the op's default); all five rules
      // then partition the corpus non-trivially and the hash gate bites
      TextAnalysis.gopherRules(t(s, dir, "documents"), "text", "doc_id",
          stops = Seq("the", "a"))
        .orderBy("doc_id"),
    Some("""WITH wl AS (SELECT doc_id, text,
              list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
              FROM documents),
            m AS (SELECT doc_id,
              CAST(len(w) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
                AS chars,
              CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
                AS hash_ct,
              CAST((len(text) - len(replace(text, '...', ''))) // 3
                AS BIGINT) AS ell_ct,
              CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                AS BIGINT) AS alpha_ct,
              CAST(len(list_filter(list_distinct(w), x -> x IN
                ('the','a'))) AS BIGINT) AS stop_ct
              FROM wl)
            SELECT doc_id, n_words,
              n_words >= 50 AND n_words <= 100000 AS ok_word_count,
              chars >= n_words * 3 AND chars <= n_words * 10
                AS ok_mean_word_len,
              (hash_ct + ell_ct) * 10 <= n_words AS ok_symbol_ratio,
              alpha_ct * 5 >= n_words * 4 AS ok_alpha_words,
              stop_ct >= 2 AS ok_stopwords,
              (n_words >= 50 AND n_words <= 100000)
                AND (chars >= n_words * 3 AND chars <= n_words * 10)
                AND ((hash_ct + ell_ct) * 10 <= n_words)
                AND (alpha_ct * 5 >= n_words * 4)
                AND (stop_ct >= 2) AS pass_gopher
            FROM m ORDER BY doc_id"""))

  /** PMI ranking through the exact integer ⌊N·c_xy·10⁶/(c_x·c_y)⌋ — the
    * ln is monotone in that rational, so no float ever enters the sort
    * key and the top-k hash-gates. Ties broken by (x, y) in both engines. */
  val xCollocations = OpQuery(
    "x_collocations",
    "PMI collocations: top-20 bigrams beating independence (integer-exact)",
    (s, dir) =>
      TextAnalysis.collocationsTopK(t(s, dir, "documents"), "text",
          k = 20, minCount = 5L)
        .orderBy(col("pmi_scaled").desc, col("x"), col("y")),
    Some("""WITH wl AS (SELECT doc_id,
              list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
              FROM documents),
            tok AS (SELECT unnest(w) AS tok FROM wl),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
            uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
                    FROM tok GROUP BY tok),
            bi0 AS (SELECT w[i] AS x, w[i+1] AS y
                    FROM wl, unnest(generate_series(1, len(w) - 1)) AS t(i)
                    WHERE len(w) >= 2),
            bi AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
                   FROM bi0 GROUP BY x, y HAVING count(*) >= 5)
            SELECT y, x, c_xy,
              CAST(CAST(n.n_tokens AS HUGEINT) * c_xy * 1000000 //
                (CAST(ux.c1 AS HUGEINT) * uy.c1) AS BIGINT) AS pmi_scaled
            FROM bi
            JOIN uni ux ON ux.tok = x
            JOIN uni uy ON uy.tok = y
            CROSS JOIN n
            ORDER BY pmi_scaled DESC, x, y LIMIT 20"""))

  // ---------- trained classifier (integer-exact batch perceptron) ----------

  /** Shared feature CTE: DISTINCT (doc, y, first-md5-byte-mod-32 bucket)
    * rows — the instr() restatement of [[graft.ext.Classify.bucketOf]]
    * (DuckDB has no conv; both compute the first hex byte's value). */
  private val perceptronFeatCte =
    """f AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, y,
      |    CAST(((instr('0123456789abcdef', substring(md5(word), 1, 1)) - 1)
      |            * 16
      |          + (instr('0123456789abcdef', substring(md5(word), 2, 1)) - 1))
      |         % 32 AS BIGINT) AS bucket
      |  FROM (SELECT doc_id,
      |               CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END
      |                 AS BIGINT) AS y,
      |               unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE length(word) > 0)""".stripMargin

  /** The 3-epoch training chain, unrolled: epoch 1 from the zero model
    * (every doc has margin 0 ≤ 0, so w1 is the raw per-bucket label sum),
    * then two (margin → misclassified → gradient → weights) rounds. The
    * recursion is data-dependent (weights feed margins feed weights) but
    * the epoch count is a literal, so the chain unrolls exactly like
    * x_kcenter_select's. */
  private val perceptronTrainCte =
    s"""$perceptronFeatCte,
      |w1 AS MATERIALIZED (
      |  SELECT bucket, CAST(sum(y) AS BIGINT) AS w FROM f GROUP BY bucket),
      |m2 AS MATERIALIZED (
      |  SELECT f.doc_id, f.y, CAST(sum(coalesce(w1.w, 0)) AS BIGINT) AS s
      |  FROM f LEFT JOIN w1 USING (bucket) GROUP BY f.doc_id, f.y),
      |g2 AS (SELECT f.bucket, CAST(sum(f.y) AS BIGINT) AS g
      |       FROM f JOIN m2 USING (doc_id)
      |       WHERE m2.y * m2.s <= 0 GROUP BY f.bucket),
      |w2 AS MATERIALIZED (
      |  SELECT bucket, coalesce(w1.w, 0) + coalesce(g2.g, 0) AS w
      |  FROM w1 FULL JOIN g2 USING (bucket)),
      |m3 AS MATERIALIZED (
      |  SELECT f.doc_id, f.y, CAST(sum(coalesce(w2.w, 0)) AS BIGINT) AS s
      |  FROM f LEFT JOIN w2 USING (bucket) GROUP BY f.doc_id, f.y),
      |g3 AS (SELECT f.bucket, CAST(sum(f.y) AS BIGINT) AS g
      |       FROM f JOIN m3 USING (doc_id)
      |       WHERE m3.y * m3.s <= 0 GROUP BY f.bucket),
      |w3 AS MATERIALIZED (
      |  SELECT bucket, coalesce(w2.w, 0) + coalesce(g3.g, 0) AS w
      |  FROM w2 FULL JOIN g3 USING (bucket)),
      |sc AS (SELECT f.doc_id, f.y,
      |         CAST(sum(coalesce(w3.w, 0)) AS BIGINT) AS score
      |       FROM f LEFT JOIN w3 USING (bucket) GROUP BY f.doc_id, f.y)""".stripMargin

  private val perceptronScoreSql =
    s"""WITH $perceptronTrainCte
      |SELECT doc_id, y, score,
      |  CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
      |  CAST((CASE WHEN score > 0 THEN 1 ELSE -1 END) = y AS BIGINT) AS correct
      |FROM sc ORDER BY doc_id""".stripMargin

  /** The eval oracle: the SAME 3-epoch chain trained on the TRAIN slice
    * (doc_id % 5 ≠ 0), scored on the HOLDOUT slice, plus the early-stop
    * epoch count restated declaratively — epochs_run = the first epoch
    * whose model misclassifies nothing (further epochs are the identity,
    * so the trainer freezes there), else the cap. */
  private val perceptronEvalSql =
    s"""WITH $perceptronFeatCte,
      |ft AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 <> 0),
      |fh AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 = 0),
      |w1 AS MATERIALIZED (
      |  SELECT bucket, CAST(sum(y) AS BIGINT) AS w FROM ft GROUP BY bucket),
      |m2 AS MATERIALIZED (
      |  SELECT ft.doc_id, ft.y, CAST(sum(coalesce(w1.w, 0)) AS BIGINT) AS s
      |  FROM ft LEFT JOIN w1 USING (bucket) GROUP BY ft.doc_id, ft.y),
      |g2 AS (SELECT ft.bucket, CAST(sum(ft.y) AS BIGINT) AS g
      |       FROM ft JOIN m2 USING (doc_id)
      |       WHERE m2.y * m2.s <= 0 GROUP BY ft.bucket),
      |w2 AS MATERIALIZED (
      |  SELECT bucket, coalesce(w1.w, 0) + coalesce(g2.g, 0) AS w
      |  FROM w1 FULL JOIN g2 USING (bucket)),
      |m3 AS MATERIALIZED (
      |  SELECT ft.doc_id, ft.y, CAST(sum(coalesce(w2.w, 0)) AS BIGINT) AS s
      |  FROM ft LEFT JOIN w2 USING (bucket) GROUP BY ft.doc_id, ft.y),
      |g3 AS (SELECT ft.bucket, CAST(sum(ft.y) AS BIGINT) AS g
      |       FROM ft JOIN m3 USING (doc_id)
      |       WHERE m3.y * m3.s <= 0 GROUP BY ft.bucket),
      |w3 AS MATERIALIZED (
      |  SELECT bucket, coalesce(w2.w, 0) + coalesce(g3.g, 0) AS w
      |  FROM w2 FULL JOIN g3 USING (bucket)),
      |sc AS (SELECT fh.doc_id, fh.y,
      |         CAST(sum(coalesce(w3.w, 0)) AS BIGINT) AS score
      |       FROM fh LEFT JOIN w3 USING (bucket) GROUP BY fh.doc_id, fh.y)
      |SELECT CAST(count(*) AS BIGINT) AS n_holdout,
      |  CAST(sum(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE -1 END) = y
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST((CAST(sum(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE -1 END)
      |      = y THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(count(*) AS BIGINT) AS BIGINT) AS acc_ppm,
      |  CAST(CASE
      |    WHEN (SELECT count(*) FROM m2 WHERE y * s <= 0) = 0 THEN 1
      |    WHEN (SELECT count(*) FROM m3 WHERE y * s <= 0) = 0 THEN 2
      |    ELSE 3 END AS BIGINT) AS epochs_run
      |FROM sc""".stripMargin

  /** Trained quality/language filter — see [[graft.ext.Classify]] for the
    * determinism argument (full-batch integer updates, order-independent)
    * and the per-epoch cost shape (one broadcast join + two keyed aggs).
    * Label: lang = 'en' vs rest, the same task x_langid_ngram scores
    * heuristically and x_nb_classify closed-form — this is the iterative
    * TRAINING loop member of that family, model and predictions both
    * hash-gated.
    *
    * Honest-power note: the synthetic corpus draws ONE shared vocabulary
    * for every lang, so there is no lexical signal to learn and the
    * trained model settles at the majority class (56% here) — the gate
    * verifies the training ALGEBRA is engine-exact, not model power.
    * ClassifySpec proves real learning (accuracy 1.0 in 3 epochs) on a
    * separable corpus. */
  val xPerceptronTrain = OpQuery(
    "x_perceptron_train",
    "batch perceptron (3 epochs, 32 hashed buckets) trained in-engine, scored per doc",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val y = when(col("lang") === "en", 1L).otherwise(-1L)
      val f = graft.ext.Classify.hashedFeatures(docs, "doc_id", "text", y,
        dims = 32)
      val w = graft.ext.Classify.perceptronTrain(f, epochs = 3)
      graft.ext.Classify.score(f, w).orderBy("doc_id")
    },
    Some(perceptronScoreSql))

  /** The trained filter EVALUATED: a deterministic 80/20 train/holdout
    * split (doc_id % 5), the early-stopping trainer
    * ([[graft.ext.Classify.perceptronTrainConverged]]) on the train
    * slice, held-out accuracy in exact ppm (integer floor-division — no
    * float compare), and the EPOCH COUNT the early stop actually ran —
    * the quality number a training pipeline logs next to the model. On
    * this corpus (no lexical signal — see xPerceptronTrain's
    * honest-power note) the model never separates, so epochs_run = the
    * cap and accuracy ≈ the majority class; ClassifySpec drives the
    * early-stop path itself (epochs_run < cap, frozen model) on a
    * separable corpus. */
  val xPerceptronEval = OpQuery(
    "x_perceptron_eval",
    "held-out perceptron eval: accuracy ppm + early-stop epoch count",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val y = when(col("lang") === "en", 1L).otherwise(-1L)
      val f = graft.ext.Classify.hashedFeatures(docs, "doc_id", "text", y,
        dims = 32)
      val fTrain = f.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val fHold = f.filter(pmod(col("doc_id"), lit(5)) === 0)
      val (w, e) = graft.ext.Classify.perceptronTrainConverged(fTrain,
        maxEpochs = 3)
      graft.ext.Classify.score(fHold, w)
        .agg(count(lit(1)).as("n_holdout"),
          sum(col("correct")).as("n_correct"))
        .select(col("n_holdout"), col("n_correct"),
          // integer floor division (`div`), NOT `/`+cast: Long/Long `/`
          // evaluates in double, and at large counts double rounding can
          // cross the floor boundary the DuckDB oracle's exact `//`
          // takes — ADVICE r15. Simple generated aliases, expr()-safe.
          expr("(n_correct * 1000000) div n_holdout").as("acc_ppm"),
          lit(e.toLong).as("epochs_run"))
    },
    Some(perceptronEvalSql))

  /** The trained filter as it DEPLOYS: weights frozen after offline
    * training (≤ 32 rows collected — bounded by the model width, the
    * same frozen-literal contract as st_er_match_stream's reference
    * list), then every streamed document is scored by ONE row-local
    * expression — tokenize → bucket → dedup → fold the weight map. No
    * explode, no shuffle, no state: the streaming plan is a pure
    * projection, so the streamed union over any batching equals the
    * batch run and x_perceptron_train's oracle gates it verbatim. */
  val stPerceptronScore = OpQuery(
    "st_perceptron_score_stream",
    "streaming perceptron serving: map-only scoring against frozen trained weights",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val y = when(col("lang") === "en", 1L).otherwise(-1L)
      val f = graft.ext.Classify.hashedFeatures(docs, "doc_id", "text", y,
        dims = 32)
      val wRows = graft.ext.Classify.perceptronTrain(f, epochs = 3).collect()
      val wmap = map(wRows.flatMap(r =>
        Seq(lit(r.getLong(0)), lit(r.getLong(1)))).toIndexedSeq: _*)
      val scored = Tables.stream(s, dir, "documents")
        // the batch twin's feature frame drops token-less docs; mirror
        // that membership so the shared oracle gates row-for-row
        .filter(size(filter(split(col("text"), " "),
          t => length(t) > lit(0))) > 0)
        .select(col("doc_id"), y.as("y"),
          graft.ext.Classify.mapOnlyScore(col("text"), wmap, dims = 32)
            .as("score"))
        .withColumn("pred", when(col("score") > 0L, 1L).otherwise(-1L))
        .withColumn("correct", (col("pred") === col("y")).cast("long"))
      Twin.memory(scored, "st_perceptron_out").orderBy("doc_id")
    },
    Some(perceptronScoreSql))

  val all: Seq[OpQuery] = Seq(
    xDedupExact, xMinhashSignature, xLshCandidatePairs, xMinhashEst,
    xNeardupJaccard, xLineDedup, xChunkWindows, xChunkDedup, xGopherRules, xCollocations,
    xSimhash, xSimhashNeardup, xSimhash64Neardup, xNeardupJaccard3,
    xContainment,
    xDedupComponents,
    xDedupPipeline, xDedupPipelineFast,
    xDedupIncremental, stDedupIncremental, stLineDedup, xDedupKeepbest,
    xSubstringDedup,
    xSubstringCut,
    xAnnBruteforce, xAnnNative, xAnnSq8, xAnnFiltered, xAnnPq,
    xEmbedCentroids,
    xAnnIvf, xAnnIvfKmeans, xAnnIvfPolicy, stAnnServe, xAnnIvfPq,
    xAnnIvfPqRerank,
    xAnnKmeansExact, xAnnPqExact, xAnnIvfPqExact, xSemDedupKmeans1r,
    xCosineNeardup, xSemDedup, xSemDedupKmeansGated, xKcenterSelect,
    xKcenterAssign, xJlProject, xAnnJlRerank,
    xSrpSignature, xSrpNeardup, xSrpSemDedup, stSrpDedup,
    xTextStats, xLangidNgram,
    xFingerprint, xWinnow, xWinnowRollingBounds, xClonePairs, xTfidfTopk,
    xBm25Topk, xVocabProfile,
    xDomainKl, xDqProfile, xKeySkew,
    xApproxDistinct, xSampleStratified, xSampleKGroup, xSplitAssign,
    xSplitLeakageSafe,
    xDomainMix,
    xDomainTemperature,
    xProfilePercentiles, xMadOutliers, xCorpusDiff,
    xPackChunks, xPackStats, xPackShelf, xChunkSliding, xLengthBuckets,
    xShardAssign, xShardManifest, xCurriculumOrder, xBudgetSelect,
    xPiiScrub, xRepetition, xDecontaminate, xDecontaminateRolling,
    xDecontaminateBloom,
    stDecontaminate, xLmQuality, xLmBigram,
    xDsirWeights, xDsirSelect, xNbClassify, xCcnetBuckets,
    xPerceptronTrain, xPerceptronEval, stPerceptronScore,
    xBpePairStats, xBpeVocab, xBpeVocabToy, xBpeEncode,
    xCurationE2e, stCurationGate, xMultimodalFeatures)
}
