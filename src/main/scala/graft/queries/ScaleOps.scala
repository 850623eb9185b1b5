package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.Twin
import graft.ext.{Dedup, Sampling}
import graft.ops.{Sketches, Storage, ZOrder}

/** Storage-layout and guaranteed-recall scale operators (round 9):
  *
  *  - j10/s8: the two storage disciplines that define warehouse cost at
  *    100 TB — bucketed fact tables (join with NO shuffle on either side)
  *    and date-partitioned stores (time-bounded scans prune to one
  *    directory). Correctness is oracle-checked against the plain
  *    unpartitioned join/filter; the PLAN is pinned in PlanSpec (no
  *    Exchange on the join keys / PartitionFilters on the scan).
  *  - x_sample_weighted: A-Res weighted reservoir sampling, made
  *    engine-exact via the max-of-w-tickets identity (no pow/ln).
  *  - x_prefix_join: All-Pairs prefix filtering — exact Jaccard self-join
  *    with guaranteed recall (the property LSH and df-capped blocking
  *    trade away).
  *  - x_editdist_neardup: bounded-Levenshtein verification over blocked
  *    candidates, O(len·maxDist) per pair.
  *  - x_approx_quantile_bounds: approx_percentile gated on its own
  *    rank-error guarantee (sketch hash-parity across engines is
  *    impossible by construction — the bound is the contract, the same
  *    treatment x_approx_distinct_bounds gives HLL).
  */
object ScaleOps {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** Bucketed co-located fact⋈fact join: orders and lineitem are written
    * ONCE as parquet tables bucketed+sorted by the join key with equal
    * bucket counts; Catalyst recognizes the matching output partitioning
    * and plans a SortMergeJoin with no Exchange on either side (pinned in
    * PlanSpec). The oracle doesn't care about layout — results must equal
    * the plain join — which is exactly the point: bucketing is a pure
    * plan-level win. Reference analog: the order⋈detail wide-table joins
    * (gmall-realtime OrderWideApp) that at warehouse scale shuffle both
    * facts on every run. */
  val j10BucketedJoin = OpQuery(
    "j10_bucketed_join",
    "bucketed co-located orders⋈lineitem join (shuffle-free) + aggregate",
    (s, dir) => {
      val tag = Storage.tagFor(dir)
      val root = Storage.root
      val bo = Storage.ensureBucketedTable(s, s"graft_b_orders_$tag",
        s"$root/$tag/b_orders", "o_orderkey", 8)(t(s, dir, "orders"))
      val bl = Storage.ensureBucketedTable(s, s"graft_b_lineitem_$tag",
        s"$root/$tag/b_lineitem", "l_orderkey", 8)(t(s, dir, "lineitem"))
      val o = s.table(bo)
      val l = s.table(bl)
      o.join(l.hint("merge"), o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus", "l_returnflag")
    },
    Some("""SELECT o_orderstatus, l_returnflag,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderstatus, l_returnflag
            ORDER BY o_orderstatus, l_returnflag"""))

  /** Date-partitioned store: events written once partitioned by day, read
    * back with an equality filter on the partition column. At scale the
    * filter never touches data — it prunes to one directory at planning
    * time (PartitionFilters pinned in PlanSpec). The repartition before
    * the write keeps file counts sane: one task per day writes one file,
    * instead of every task writing a sliver into every day. */
  val s8PartitionPrune = OpQuery(
    "s8_partition_prune",
    "date-partitioned parquet store, one-day read via partition pruning",
    (s, dir) => {
      val path = Storage.ensureWritten(
        s"${Storage.root}/${Storage.tagFor(dir)}/events_by_date") { p =>
        t(s, dir, "events")
          .withColumn("event_date", to_date(col("ts")))
          .repartition(col("event_date"))
          .write.partitionBy("event_date").mode("overwrite").parquet(p)
      }
      s.read.parquet(path)
        .filter(col("event_date") === to_date(lit("2024-01-10")))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
            GROUP BY event_type ORDER BY event_type"""))

  /** A-Res weighted sampling (k=100, weight = clamped n_chars/100). The
    * oracle restates the max-of-w-md5-tickets priority exactly, so the
    * selected SET is hash-verified — see Sampling.weightedSample for why
    * the integer-ticket identity replaces u^(1/w). */
  val xSampleWeighted = OpQuery(
    "x_sample_weighted",
    "weighted reservoir sample (A-Res, engine-exact integer tickets), k=100",
    (s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents"), "doc_id",
        least(lit(10L), greatest(lit(1L), floor(col("n_chars") / 100))),
        k = 100)
        .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
              CAST(least(10, greatest(1, n_chars // 100)) AS BIGINT) AS weight
              FROM documents),
            t AS (SELECT doc_id, weight,
              unnest(generate_series(1, weight)) AS i FROM w),
            pr AS (SELECT doc_id, any_value(weight) AS weight,
              max(md5(CAST(i AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)))
                AS priority
              FROM t GROUP BY doc_id),
            sel AS (SELECT * FROM pr ORDER BY priority DESC, doc_id LIMIT 100)
            SELECT doc_id, weight, priority FROM sel ORDER BY doc_id"""))

  /** Exact Jaccard ≥ 0.6 self-join via All-Pairs prefix filtering. The
    * oracle is the BRUTE-FORCE all-pairs join — so a green hash proves
    * the guaranteed-recall claim on this corpus, not just internal
    * consistency of the blocking. */
  val xPrefixJoin = OpQuery(
    "x_prefix_join",
    "exact Jaccard≥0.6 similarity self-join via prefix filtering (All-Pairs)",
    (s, dir) =>
      Dedup.prefixFilterPairs(t(s, dir, "documents"), "text", "doc_id",
        ngram = 3, threshold = 0.6)
        .withColumn("jaccard", col("jaccard").cast("double"))
        .orderBy("doc_a", "doc_b"),
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
            pos AS (SELECT doc_id, w,
              unnest(generate_series(1, greatest(len(w)-2, 1))) AS i FROM w),
            sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') AS s
                   FROM pos),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
              CAST(floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                / 10000.0 AS DOUBLE) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
              / 10000.0 >= 0.6
            ORDER BY doc_a, doc_b"""))

  /** Edit-distance near-dup over 40-char-prefix blocks, bounded verify
    * (maxDist 50). */
  val xEditdistNeardup = OpQuery(
    "x_editdist_neardup",
    "edit-distance ≤50 near-dup pairs, bounded Levenshtein over prefix blocks",
    (s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "text", "doc_id",
        substring(col("text"), 1, 40), maxDist = 50)
        .orderBy("doc_a", "doc_b"),
    Some("""WITH b AS (SELECT doc_id, text, substr(text, 1, 40) AS bk
                       FROM documents),
            cand AS (SELECT x.doc_id AS doc_a, x.text AS ta,
                            y.doc_id AS doc_b, y.text AS tb
                     FROM b x JOIN b y
                       ON x.bk = y.bk AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b,
              CAST(levenshtein(ta, tb) AS BIGINT) AS dist
            FROM cand WHERE levenshtein(ta, tb) <= 50
            ORDER BY doc_a, doc_b"""))

  /** Entity resolution over derived document "titles" (first 6 words):
    * block on the first word, verify with the native Jaro-Winkler
    * expression — the record-linkage shape (typo/transposition-tolerant
    * matching that exact equality and set-Jaccard both miss). At the
    * 0.92 threshold the corpus yields 256 exact-title pairs PLUS ~46
    * genuinely fuzzy pairs (mutated near-dup prefixes) — the fuzzy tail
    * is the operator's value. Scores floor-truncate to 4 dp; the kernel
    * is pinned bit-for-bit against DuckDB's jaro_winkler_similarity
    * (JaroWinklerSpec), so the oracle restates scores exactly. */
  val xErFuzzyMatch = OpQuery(
    "x_er_fuzzy_match",
    "entity resolution: Jaro-Winkler >= 0.92 title pairs over first-word blocks",
    (s, dir) => {
      // empty/whitespace-only docs are in the corpus contract (Chunking
      // admits them): drop them BEFORE element_at(_, 1), which under
      // Spark 4 ANSI mode throws INVALID_ARRAY_INDEX on an empty array —
      // the oracle drops them with the identical len(...) > 0 predicate
      val titled = t(s, dir, "documents")
        .withColumn("_w", filter(split(col("text"), " "), w => length(w) > 0))
        .filter(size(col("_w")) > 0)
        .withColumn("title", array_join(slice(col("_w"), 1, 6), " "))
        .withColumn("blk", element_at(col("_w"), 1))
      Dedup.jaroWinklerPairs(titled, "title", "doc_id", col("blk"),
          threshold = 0.92)
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH t AS (SELECT doc_id,
              array_to_string(
                list_filter(string_split(text,' '), x -> len(x) > 0)[1:6],
                ' ') AS title,
              list_filter(string_split(text,' '), x -> len(x) > 0)[1] AS blk
            FROM documents
            WHERE len(list_filter(string_split(text,' '), x -> len(x) > 0)) > 0),
            c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                floor(jaro_winkler_similarity(a.title, b.title) * 10000.0)
                  / 10000.0 AS jw
              FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, CAST(jw AS DOUBLE) AS jw
            FROM c WHERE jw >= 0.92 ORDER BY doc_a, doc_b"""))

  /** Entity resolution under the COMPOSITE blocking key — §6g's named
    * production-scale control, shipped: candidates must agree on BOTH the
    * title's first word AND the language field, so each head-word block is
    * divided by the second key's selectivity (here ~5 languages ≈ ×5 fewer
    * candidates per hot block) while recall is lost only on cross-language
    * pairs — which the match semantics here don't want anyway. The same
    * jaroWinklerPairs machinery (and its candidate-budget breaker,
    * PairBucketsSpec) runs underneath; the key is the only change, so this
    * query is deterministic and directly hash-gated like x_er_fuzzy_match. */
  val xErComposite = OpQuery(
    "x_er_composite",
    "entity resolution: Jaro-Winkler >= 0.92 pairs over composite (first-word, lang) blocks",
    (s, dir) => {
      val titled = t(s, dir, "documents")
        .withColumn("_w", filter(split(col("text"), " "), w => length(w) > 0))
        .filter(size(col("_w")) > 0)
        .withColumn("title", array_join(slice(col("_w"), 1, 6), " "))
      Dedup.jaroWinklerPairsComposite(titled, "title", "doc_id",
          element_at(col("_w"), 1), col("lang"), threshold = 0.92)
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH t AS (SELECT doc_id, lang,
              array_to_string(
                list_filter(string_split(text,' '), x -> len(x) > 0)[1:6],
                ' ') AS title,
              list_filter(string_split(text,' '), x -> len(x) > 0)[1] AS blk
            FROM documents
            WHERE len(list_filter(string_split(text,' '), x -> len(x) > 0)) > 0),
            c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                floor(jaro_winkler_similarity(a.title, b.title) * 10000.0)
                  / 10000.0 AS jw
              FROM t a JOIN t b ON a.blk = b.blk AND a.lang = b.lang
                AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, CAST(jw AS DOUBLE) AS jw
            FROM c WHERE jw >= 0.92 ORDER BY doc_a, doc_b"""))

  /** The composite-blocked title frame shared by the ER serving pair:
    * first-6-words title, (first word, lang) blocking key (the §7e
    * measured control), empty/whitespace-only docs dropped before
    * element_at (the ANSI INVALID_ARRAY_INDEX guard x_er_fuzzy_match
    * carries). */
  private def erTitledComposite(docs: org.apache.spark.sql.DataFrame) = docs
    .withColumn("_w", filter(split(col("text"), " "), w => length(w) > 0))
    .filter(size(col("_w")) > 0)
    .withColumn("title", array_join(slice(col("_w"), 1, 6), " "))
    .withColumn("_blk", concat_ws("\u0001",
      element_at(col("_w"), 1), coalesce(col("lang"), lit("\u0000"))))

  private val erMatchSql =
    """WITH t AS (SELECT doc_id, lang,
              array_to_string(
                list_filter(string_split(text,' '), x -> len(x) > 0)[1:6],
                ' ') AS title,
              list_filter(string_split(text,' '), x -> len(x) > 0)[1] AS blk
            FROM documents
            WHERE len(list_filter(string_split(text,' '), x -> len(x) > 0)) > 0)
       SELECT a.doc_id AS doc_id, b.doc_id AS ref_id,
              CAST(floor(jaro_winkler_similarity(a.title, b.title) * 10000.0)
                   / 10000.0 AS DOUBLE) AS jw
       FROM t a JOIN t b ON a.blk = b.blk AND a.lang = b.lang
       WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
         AND floor(jaro_winkler_similarity(a.title, b.title) * 10000.0)
             / 10000.0 >= 0.92
       ORDER BY doc_id, ref_id"""

  /** ER SERVING, batch form: every non-reference document fuzzy-matched
    * against the FROZEN reference list (doc_id ≡ 0 mod 7 plays the
    * curated master-entity table) under the composite (first-word, lang)
    * block — [[Dedup.jaroWinklerMatch]]'s broadcast A×reference shape,
    * where the corpus side never shuffles. Directly hash-gated: the
    * native jaro_winkler is bit-for-bit DuckDB's kernel. */
  val xErMatch = OpQuery(
    "x_er_match",
    "ER serving: docs fuzzy-matched (JW >= 0.92) against a frozen reference list",
    (s, dir) => {
      val titled = erTitledComposite(t(s, dir, "documents"))
      Dedup.jaroWinklerMatch(
          titled.filter(col("doc_id") % 7 =!= 0),
          titled.filter(col("doc_id") % 7 === 0),
          "title", "doc_id", "_blk", threshold = 0.92)
        .orderBy("doc_id", "ref_id")
    },
    Some(erMatchSql))

  /** ER SERVING, streaming-executed — the record-linkage lookup tier:
    * the reference list is frozen BEFORE the stream starts and arriving
    * micro-batches pay only their own title derivation + the broadcast
    * block-join + JW verify against it (the streaming siblings of
    * st_decontaminate_stream / st_ann_serve_stream; reference analog:
    * the dim-lookup enrichment chain, RT/app/dwm/OrderWideApp.java).
    * Per-doc matches depend only on the doc and the frozen reference, so
    * the streamed union over any batching equals the batch run — shares
    * x_er_match's oracle verbatim. */
  val stErMatch = OpQuery(
    "st_er_match_stream",
    "streaming ER serving: micro-batches fuzzy-matched against the frozen reference list",
    (s, dir) => {
      val reference = erTitledComposite(t(s, dir, "documents"))
        .filter(col("doc_id") % 7 === 0)
        .select("doc_id", "title", "_blk")
      val stream = Tables.stream(s, dir, "documents")
      val out = Twin.parquet(stream, "graft_er_match_stream_") { (batch, _, dst) =>
        Dedup.jaroWinklerMatch(
            erTitledComposite(batch).filter(col("doc_id") % 7 =!= 0),
            reference, "title", "doc_id", "_blk", threshold = 0.92)
          .write.mode("append").parquet(dst)
      }
      s.read.parquet(out).orderBy("doc_id", "ref_id")
    },
    Some(erMatchSql))

  /** approx_percentile(value, 0.5, accuracy=100) checked against its own
    * GK rank-error guarantee: the returned value's rank in its group must
    * sit within 2·n/accuracy (+1 for ties) of the true median rank. The
    * oracle computes the group sizes exactly and asserts TRUE — identical
    * output iff the sketch honors its published bound. */
  val xApproxQuantileBounds = OpQuery(
    "x_approx_quantile_bounds",
    "approx median with its rank-error guarantee checked in-query",
    (s, dir) => {
      val acc = 100
      val ev = t(s, dir, "events").select("event_type", "value")
      val appr = ev.groupBy("event_type").agg(
        expr(s"approx_percentile(value, 0.5d, $acc)").as("approx_p50"),
        count(col("value")).as("n"))
      ev.join(broadcast(appr), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L))
            .as("rank_le"),
          first(col("n")).as("n"))
        .select(col("event_type"), col("n"),
          (abs(col("rank_le") - col("n") * 0.5) <=
            col("n") * (2.0 / acc) + lit(1.0)).as("within_bound"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(value) AS BIGINT) AS n,
            TRUE AS within_bound
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Count-Min heavy hitters: the sketch (d=5 rows × w=8192 buckets —
    * bounded state, never a key-cardinality shuffle) proposes candidates
    * with estimate ≥ 80; an exact pass over ONLY the proposed keys'
    * rows verifies. Because CMS estimates can only over-count, the
    * proposal has perfect recall — so the verified output is EXACTLY the
    * true heavy-hitter set, and the oracle's plain GROUP BY/HAVING must
    * hash-match it. `within_bound` additionally gates the published
    * ε = e/w over-count bound per key (deterministic here: the hash
    * functions are fixed xxhash64 seeds, not sampled). */
  val xCmsHeavyHitters = OpQuery(
    "x_cms_heavy_hitters",
    "Count-Min sketch heavy hitters (propose-by-sketch, verify-exact), threshold 80",
    (s, dir) =>
      Sketches.cmsHeavyHitters(t(s, dir, "events"), col("user_id"),
          threshold = 80L, depth = 5, width = 8192)
        .select(col("k").as("user_id"), col("exact").as("n_events"),
          col("within_bound"))
        .orderBy("user_id"),
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            TRUE AS within_bound
            FROM events GROUP BY user_id HAVING count(*) >= 80
            ORDER BY user_id"""))

  /** Mergeable-sketch rollup — the pre-aggregation pattern that makes
    * distinct counts affordable at 100 TB: build Datasketches HLL partials
    * once per (day, event_type) cell (the cube a warehouse materializes
    * nightly), then answer the coarser event_type question by UNIONING
    * sketches — never rescanning raw events. COUNT(DISTINCT) does not
    * compose across cells (a user active on two days must not count
    * twice); sketches do. Gate: the re-merged estimate must honor the
    * HLL error bound against the exact distinct count (sketch bytes can
    * never hash-match across engines; the bound is the contract, same
    * treatment as x_approx_distinct_bounds). */
  val xSketchRollup = OpQuery(
    "x_sketch_rollup",
    "HLL sketch partials per (day, event_type) re-merged to event_type, bounds-gated",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val partials = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val rolled = partials
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      rolled.join(exact, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(lit(1L), ceil(col("exact_users") * 0.05).cast("long")))
            .as("within_bounds"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
            CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
            TRUE AS within_bounds
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Theta-sketch set algebra — audience overlap without a join: |A∩B|,
    * |A∪B|, |A∖B| of the click/purchase user sets from two bounded
    * sketches and closed-form set operations. The exact equivalent needs
    * a user-cardinality groupBy to co-locate each user's flags; the
    * sketch path shuffles only two ≤k-entry summaries, and the sketches
    * persist for every FUTURE pairing (this week's clickers vs last
    * month's buyers) without touching raw data again. Bounds-gated vs
    * the exact in-query computation. */
  val xThetaSetops = OpQuery(
    "x_theta_setops",
    "theta-sketch audience set algebra (intersect/union/difference), bounds-gated",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .agg(theta_sketch_agg(col("user_id")).as("a"))
      val buys = ev.filter(col("event_type") === "purchase")
        .agg(theta_sketch_agg(col("user_id")).as("b"))
      val approx = clicks.crossJoin(buys).select(
        theta_sketch_estimate(theta_intersection(col("a"), col("b")))
          .as("approx_both"),
        theta_sketch_estimate(theta_union(col("a"), col("b")))
          .as("approx_any"),
        theta_sketch_estimate(theta_difference(col("a"), col("b")))
          .as("approx_click_only"))
      val exact = ev
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        .agg(sum(col("c") * col("p")).as("exact_both"),
          count(lit(1)).as("exact_any"),
          sum(col("c") * (lit(1) - col("p"))).as("exact_click_only"))
      def ok(a: String, e: String) =
        (abs(col(a) - col(e)) <=
          greatest(lit(1L), ceil(col(e) * 0.05).cast("long"))).as(s"${e}_ok")
      approx.crossJoin(exact).select(
        col("exact_both"), col("exact_any"), col("exact_click_only"),
        ok("approx_both", "exact_both"), ok("approx_any", "exact_any"),
        ok("approx_click_only", "exact_click_only"))
    },
    Some("""WITH f AS (SELECT user_id,
              max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
              max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
            FROM events WHERE event_type IN ('click', 'purchase')
            GROUP BY user_id)
            SELECT CAST(sum(c * p) AS BIGINT) AS exact_both,
              CAST(count(*) AS BIGINT) AS exact_any,
              CAST(sum(c * (1 - p)) AS BIGINT) AS exact_click_only,
              TRUE AS exact_both_ok, TRUE AS exact_any_ok,
              TRUE AS exact_click_only_ok
            FROM f"""))

  /** Mergeable QUANTILE partials — the KLL companion to x_sketch_rollup's
    * HLL: one KLL sketch of `value` per (day, event_type) cell, re-merged
    * per event_type with `kll_merge_agg`. Percentiles, like distinct
    * counts, do not compose across cells (a median of medians is not the
    * median); mergeable sketches are the pattern that makes a
    * percentile-bearing cube re-aggregable at 100 TB. Gate: the rank of
    * the re-merged sketch's p50 answer must sit within the published
    * normalized-rank error of the true median rank (same bound treatment
    * as x_approx_quantile_bounds gives GK). */
  val xKllRollup = OpQuery(
    "x_kll_rollup",
    "KLL quantile partials per (day, event_type) re-merged, rank-bound-gated",
    (s, dir) => {
      val ev = t(s, dir, "events").select("event_type", "ts", "value")
      val partials = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(kll_sketch_agg_double(col("value")).as("sk"))
      val rolled = partials
        .groupBy("event_type")
        .agg(kll_sketch_get_quantile_double(
          kll_merge_agg_double(col("sk")), lit(0.5)).as("approx_p50"))
      // rank check: count of values ≤ the sketch's answer must be within
      // 3% of n/2 (KLL k=200 publishes ~1.65% single-sided rank error)
      ev.join(broadcast(rolled), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L))
            .as("rank_le"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          (abs(col("rank_le") - col("n") * 0.5) <= col("n") * 0.03 + lit(1.0))
            .as("within_bound"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            TRUE AS within_bound
            FROM events GROUP BY event_type ORDER BY event_type"""))

  private val zBits = 11

  /** Z-order (Morton) curve values over (user_id, day-of-month index) —
    * the interleave expression behind ZOrder.writeZOrdered, gated bit-for-
    * bit against the same Σ-of-shifts expansion in the oracle. The layout
    * effect (tight per-file bounding boxes → file skipping on EITHER
    * dimension) is measured in ZOrderSpec; this query pins the curve
    * arithmetic itself, which is the part that must agree everywhere. */
  val xZorderCurve = OpQuery(
    "x_zorder_curve",
    "Morton z-values interleaving (user_id, day index), bit-parity vs oracle",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("day_idx"))
        .withColumn("zval", ZOrder.zValue(col("user_id"), col("day_idx"), zBits))
        .orderBy("event_id"),
    Some(s"""SELECT event_id, user_id,
            CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
              AS day_idx,
            CAST(${ZOrder.zValueSql("user_id",
              "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))", zBits)}
              AS BIGINT) AS zval
            FROM events ORDER BY event_id"""))

  /** The z-order layout driven END TO END: events written ONCE z-clustered
    * on (user_id, day index) via ZOrder.writeZOrdered, read back with a
    * rectangle predicate on BOTH dimensions. Correctness is layout-
    * independent (the oracle filters the raw table — exactly the point:
    * clustering is a pure file-skipping win, it must never change
    * answers); the skipping effect itself is measured in ZOrderSpec
    * (y-only query touches ≤8/16 files z-clustered vs 16/16 x-sorted)
    * because parquet row-group pruning is a scan-internal decision that
    * doesn't surface in the plan. Completes the storage-discipline trio:
    * bucketing (j10) serves joins, partitioning (s8) serves the time
    * axis, z-order serves range predicates on the OTHER dimensions. */
  val xZorderSkip = OpQuery(
    "x_zorder_skip",
    "rectangle query over the z-ordered events store (both-dimension predicate)",
    (s, dir) => {
      val path = Storage.ensureWritten(
        s"${Storage.root}/${Storage.tagFor(dir)}/events_zorder") { p =>
        ZOrder.writeZOrdered(
          t(s, dir, "events").select(
            col("event_id"), col("user_id"), col("event_type"), col("value"),
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
              .cast("long").as("day_idx")),
          col("user_id"), col("day_idx"), bits = zBits, numFiles = 16, path = p)
      }
      s.read.parquet(path)
        .filter(col("user_id").between(100L, 299L) &&
          col("day_idx").between(7L, 13L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events
            WHERE user_id BETWEEN 100 AND 299
              AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  BETWEEN 7 AND 13
            GROUP BY event_type ORDER BY event_type"""))

  /** The sketch family's PERSIST-AND-REUSE shape — the operational
    * pattern a 100-TB user actually runs: one ingest-time pass builds
    * per-day Count-Min counter partials and writes them to parquet NEXT
    * TO the corpus; the heavy-hitter question is then answered from the
    * stored partials alone — counter tables merge by plain (row, bucket)
    * SUM, and because counter sums commute the merged sketch is
    * BIT-IDENTICAL to a one-shot sketch of the whole corpus, so proposal
    * recall stays perfect. Raw data is touched only where the operator's
    * contract requires it anyway: the exact-verify pass over the proposed
    * keys' rows (at scale, a keyed probe of the archived log, not a
    * rescan). Same verified output and oracle as x_cms_heavy_hitters —
    * the store round-trip must change NOTHING. */
  val xSketchPersisted = OpQuery(
    "x_sketch_persisted",
    "CMS partials persisted per day, re-merged from parquet, heavy hitters from the store",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val store = graft.core.Scratch.tempDir("graft_sketch_store_")
      // ingest pass: per-day counter partials → parquet (ONE events scan)
      Sketches.cmsSketchPartials(ev, to_date(col("ts")), col("user_id"),
          depth = 5, width = 8192)
        .write.mode("overwrite").parquet(store)
      // answer path: counters re-merged from the STORE — no events scan
      // until the operator's own exact-verify pass over proposed keys
      val merged = Sketches.cmsMerge(s.read.parquet(store))
      Sketches.cmsHeavyHittersFrom(merged, ev, col("user_id"),
          threshold = 80L, depth = 5, width = 8192)
        .select(col("k").as("user_id"), col("exact").as("n_events"),
          col("within_bound"))
        .orderBy("user_id")
    },
    xCmsHeavyHitters.oracle)

  val all: Seq[OpQuery] = Seq(
    j10BucketedJoin, s8PartitionPrune, xSampleWeighted, xPrefixJoin,
    xEditdistNeardup, xErFuzzyMatch, xErComposite, xErMatch, stErMatch,
    xApproxQuantileBounds,
    xCmsHeavyHitters,
    xSketchRollup, xThetaSetops, xKllRollup, xZorderCurve, xZorderSkip,
    xSketchPersisted)
}
