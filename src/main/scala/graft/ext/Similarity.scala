package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Materialize._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * scans candidates once — O(|queries| × N) with no shuffle of the corpus.
  * The IVF path prunes that scan to the probed partitions: a coarse
  * quantizer (here: the precomputed cluster/label column; k-means at
  * ingest in production) buckets vectors, queries probe the nProbe nearest
  * centroids, and only those buckets are scanned — the standard
  * IVF-Flat trade of recall for a ~(nProbe/nLists) scan fraction.
  *
  * All dot products run in DOUBLE (a float fold drifts vs the oracle) and
  * cosines are floor-truncated to 6 dp before ranking — truncation is a
  * pure function of the IEEE double (engine-independent, unlike round()'s
  * half-way handling), so rank ties resolve identically everywhere (then
  * by candidate id).
  */
object Similarity {

  private val dotExpr =
    "aggregate(zip_with(qe, ce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (a, x) -> a + x)"

  private def norm(vecCol: String) =
    expr(s"aggregate($vecCol, CAST(0 AS DOUBLE), " +
      s"(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")

  /** Bounded top-k ranking of a scored frame (qid, cid, cosine) — the
    * scale path: a size-k heap TypedImperativeAggregate with map-side
    * partial merge (graft.functions.TopKAgg), NOT a
    * `row_number().over(Window.partitionBy(qid))` sort. The naive window
    * idiom shuffles every scored candidate of a query into one task and
    * sorts them all to keep k (Spark ≥3.5 softens this with
    * InferWindowGroupLimit when the filter matches its pattern, but that
    * path still fully sorts every map partition); the heap streams each
    * partition through an O(n·log k) bounded buffer, shuffles
    * O(partitions × k), and holds O(k) state per group by construction —
    * measured ~1.7× faster at 32M candidates (TopKBench, removed; see
    * git 5da4baf).
    * Ordering matches row_number over (cosine desc, cid asc) exactly, so
    * ranks are deterministic. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = graft.functions.TopK.topK(k)
    scored
      .groupBy("qid")
      // a null or NaN cosine (null / zero-norm vector) can't rank. Null is
      // mapped to NaN and TopKAgg drops NaN, so unrankable rows vanish
      // deterministically WITHOUT a filter node: a filter on the computed
      // column would have CollapseProject inline the whole cosine
      // expression into the predicate and re-evaluate it per conjunct —
      // this way the score expression runs once per row. Contract: a
      // query whose EVERY candidate is unrankable yields no rows (engines
      // disagree on NaN ordering, so ranking them couldn't be
      // oracle-parity anyway); the test data has no zero-norm vectors.
      .agg(topk(coalesce(col("cosine"), lit(Double.NaN)), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk.items")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("cid"), col("s.score").as("cosine"),
        (col("pos") + 1).as("rank"))
  }

  /** Brute-force cosine top-k: every query × every candidate (minus self),
    * ranked per query. Queries are broadcast; candidates stream. */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", norm("qe"))
    val c = embeddings.select(col(idCol).as("cid"), col(vecCol).as("ce"))
      .withColumn("cn", norm("ce"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0) / 1000000.0)
    rankTopK(scored, k)
  }

  /** Brute-force top-k through the native codegen'd VectorCosine
    * expression (one fused loop, no intermediate zip array) — same
    * semantics as cosineTopK, faster hot path. */
  def cosineTopKNative(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    graft.functions.VectorCosine.register(embeddings.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
    val c = embeddings.select(col(idCol).as("cid"), col(vecCol).as("ce"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine",
        floor(expr("vec_cosine(qe, ce)") * 1000000.0) / 1000000.0)
    rankTopK(scored, k)
  }

  /** FILTERED vector search: top-k among only the candidates satisfying a
    * metadata predicate (language, license, date range, source…), the
    * standard serving composition ("pre-filter" in vector-DB terms —
    * exact within the filtered set, unlike post-filtering a fixed-k ANN
    * result, which can return FEWER than k survivors).
    *
    * Spark-first shape: the predicate is an ordinary Column, so Catalyst
    * pushes it into the parquet scan (`PushedFilters`, asserted in
    * PlanSpec) — candidates failing it are never read, and over a
    * partitioned/clustered layout ([[writeClustered]]) it becomes
    * partition pruning: I/O never issued. Queries broadcast; scoring is
    * the native codegen'd expression; top-k is the bounded heap. */
  def cosineTopKFiltered(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int,
      candidatePred: org.apache.spark.sql.Column): DataFrame =
    cosineTopKNative(embeddings.filter(candidatePred), idCol, vecCol, queries, k)

  /** Per-vector symmetric int8 SCALAR quantization (the faiss-SQ8 family,
    * public method): q_i = floor(x_i / max|x| × 127 + 0.5), one scale per
    * vector. 4× smaller vectors than float32 — at 100 TB of embeddings
    * the quantized corpus is what fits in cluster memory, and integer
    * dot products are SIMD-friendlier than float. Cosine needs NO
    * dequantization: the per-vector scales cancel in
    * dot(a,b)/(|a||b|), so ranking runs entirely on the int8 arrays.
    * floor(x+0.5) (not round()) keeps the half-way convention a pure
    * function of the IEEE double — engine-independent, same reason every
    * oracle-compared float here floor-truncates. Adds (sq_scale, q) to
    * the frame; a zero vector quantizes to all-zero (unrankable, dropped
    * by rankTopK's NaN contract like its float twin). */
  def quantizeSq8(embeddings: DataFrame, vecCol: String): DataFrame =
    embeddings
      .withColumn("sq_scale",
        expr(s"array_max(transform($vecCol, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("q", expr(
        s"""transform($vecCol, x -> CAST(CASE WHEN sq_scale = 0D THEN 0
           | ELSE floor(CAST(x AS DOUBLE) / sq_scale * 127.0 + 0.5)
           | END AS INT))""".stripMargin))

  /** Brute-force cosine top-k over SQ8-quantized vectors — same shape as
    * [[cosineTopK]] (queries broadcast, candidates stream once, bounded
    * heap ranking) but the hot loop is an exact integer dot over int8
    * codes with the norms' scales cancelled. Ranking quality vs the
    * float path is spec-gated (recall@k on real embeddings). */
  def cosineTopKSq8(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val qNorm = "aggregate(%s, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT) * x)"
    val q = quantizeSq8(queries, vecCol)
      .select(col(idCol).as("qid"), col("q").as("qq"))
      .withColumn("qn", expr(qNorm.format("qq")))
    val c = quantizeSq8(embeddings, vecCol)
      .select(col(idCol).as("cid"), col("q").as("cq"))
      .withColumn("cn", expr(qNorm.format("cq")))
    val intDot =
      "aggregate(zip_with(qq, cq, (x, y) -> CAST(x AS BIGINT) * y), " +
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cosine",
        floor(expr(intDot).cast("double") /
          (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double")))
          * 1000000.0) / 1000000.0)
    rankTopK(scored, k)
  }

  /** Coarse-quantizer centroids: the mean vector per cluster id. */
  def centroids(embeddings: DataFrame, clusterCol: String,
      vecCol: String): DataFrame =
    embeddings
      .select(col(clusterCol).as("cluster"), posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy("cluster", "i").agg(avg(col("v").cast("double")).as("cv"))
      .groupBy("cluster")
      .agg(expr("transform(array_sort(collect_list(struct(i, cv))), s -> s.cv)")
        .as("centroid"))

  /** Per-label mean embedding in FIXED-POINT arithmetic — the exportable
    * centroid table (cluster seeds, per-domain "topic" vectors, SemDedup
    * cell initialization). Unlike [[centroids]] (internal, float `avg`
    * whose low bits depend on partition visit order), every element is
    * quantized to `floor(v·scale)` BIGINT first, so the sums are exact
    * integers — order-independent, engine-reproducible, safe to gate
    * against a SQL oracle and to diff across runs/clusters. The mean is
    * one IEEE division of two exactly-representable integers, then
    * 4-dp floor truncation. Cost shape: posexplode to (label, dim) rows
    * with map-side partial aggregation — the shuffle carries one row per
    * (input partition, label, dim), independent of corpus row count. */
  def labelCentroids(embeddings: DataFrame, labelCol: String,
      vecCol: String, scale: Long = 1000000L): DataFrame =
    embeddings
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .withColumn("_q", floor(col("v").cast("double") * scale).cast("long"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum("_q").as("_qs"))
      .withColumn("centroid",
        floor(col("_qs").cast("double") / (col("n_vecs") * scale) * 10000.0)
          / 10000.0)
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("n_vecs"), col("centroid"))

  /** Shared IVF probe selection: rank coarse-cell centroids per query and
    * materialize the probe set on the driver — bounded by contract at
    * |queries| × nProbe rows (queries are broadcast-small). Returns the
    * (qid, cluster) probe frame and the distinct probed cells (the
    * static IN scan filter). Extracted verbatim from [[ivfTopK]], whose
    * x_ann_ivf oracle gates the behavior. */
  private def probeCells(embeddings: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, queries: DataFrame,
      nProbe: Int): (DataFrame, Seq[Any]) = {
    val cents = centroids(embeddings, clusterCol, vecCol)
    // r17 (VERDICT r16 #3/#4) — three-tier coarse routing, measured in
    // §13b (HierProbeRehearsal at 4096 / 10⁴ / 10⁵ cells on the 2M
    // corpus):
    //   - cells ≤ HierCellsThreshold: the r16 FLAT collect-and-broadcast
    //     probe, byte-for-byte (one collect, one broadcast — fastest while
    //     the per-query coarse scan is noise; every declared query at the
    //     bench SFs lives here, so their plans and results are untouched);
    //   - ≤ DistCellsThreshold: the TWO-LEVEL staged probe over the
    //     still-collected rows (the r16 ivfTopKHier machinery at
    //     superProbe = DistSuperProbe) — the coarse scan falls from
    //     Θ(cells) to Θ(√cells·superProbe) per query, measured 8.48 →
    //     5.15 s at 10⁴ cells / 1024 queries; driver state is still the
    //     cells rows, bounded at ≤ DistCellsThreshold × dims doubles
    //     (~33 MB at 64 dims) by this routing;
    //   - above: the fully DISTRIBUTED two-level probe — no centroid
    //     collect anywhere; driver state falls to Θ(√cells) super-centroid
    //     literals + |queries|·nProbe probe rows, both bounded at any N.
    //     Under the √N policy cells = ⌈√N⌉ is unbounded (10⁶ centroids at
    //     N = 10¹² — hundreds of MB of driver arrays and an O(cells·g)
    //     driver-side Lloyd's), which is exactly the cliff this arm
    //     removes. The limit below caps what the driver ever collects.
    val centRows = cents.orderBy("cluster")
      .limit(DistCellsThreshold + 1).collect()
    if (centRows.length > DistCellsThreshold)
      probeCellsDist(embeddings.sparkSession, cents, idCol, vecCol,
        queries, nProbe)
    else if (centRows.length > HierCellsThreshold)
      probeCellsHierRows(embeddings.sparkSession, cents, centRows,
        idCol, vecCol, queries, nProbe, DistSuperProbe)
    else
      probeCellsFlat(embeddings.sparkSession, cents, centRows, idCol,
        vecCol, queries, nProbe)
  }

  /** The r16 flat probe body, over the ALREADY-COLLECTED complete
    * centroid rows (≤ [[HierCellsThreshold]] of them by routing). */
  private def probeCellsFlat(spark0: SparkSession, cents: DataFrame,
      centRows: Array[org.apache.spark.sql.Row], idCol: String,
      vecCol: String, queries: DataFrame, nProbe: Int): (DataFrame, Seq[Any]) = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", norm("qe"))
    // rank centroids per query (centroid set is tiny → broadcast); same
    // bounded heap as the candidate ranking. Cluster ids can be any
    // orderable type (string cells, 64-bit ids), so the heap ranks a
    // dense order-preserving surrogate index — assigned once over the
    // quantizer's cell list (bounded by nLists, the set MLlib keeps on
    // the driver outright) — and maps back, instead of casting the id
    // through long/int (which nulls strings and truncates wide longs).
    // The centroid table is collected ONCE — bounded at nLists rows by
    // contract, the set the quantizer keeps on the driver outright — and
    // re-enters the plan as a LOCAL indexed frame (r14: the previous
    // shape paid an rdd.zipWithIndex conversion job for the surrogate
    // index AND recomputed the centroid aggregation — a second corpus
    // scan — inside the crossJoin's broadcast side).
    val localCent = spark0.createDataFrame(
      java.util.Arrays.asList(centRows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), i + 1L, r.get(1)) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        cents.schema.fields.head.copy(name = "cluster"),
        org.apache.spark.sql.types.StructField("_cidx",
          org.apache.spark.sql.types.LongType),
        cents.schema.fields(1).copy(name = "ce"))))
    val cidx = localCent.select(col("cluster"), col("_cidx"))
    val cScored = q.crossJoin(broadcast(
        localCent.withColumn("cn", norm("ce"))))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0) / 1000000.0)
    val probed = rankTopK(
        cScored.select(col("qid"), col("_cidx").as("cid"), col("cosine")),
        nProbe)
      .select(col("qid"), col("cid").as("_cidx"))
      .join(broadcast(cidx), Seq("_cidx"))
      .select("qid", "cluster")
    // Materialize the probe set on the driver — bounded by contract at
    // |queries| × nProbe rows (queries are broadcast-small). Two wins:
    // the probed cells become a STATIC IN filter on the candidate scan,
    // so a writeClustered layout prunes files at planning time (no
    // reliance on dynamic partition pruning firing), and the centroid
    // ranking runs once instead of re-executing under every downstream
    // reference. This is the plan an IVF index issues natively: rank
    // centroids, then read only the probed lists.
    val probedRows = probed.collect()
    val probedDf = spark0.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probed.schema)
    (probedDf, probedRows.map(_.get(1)).distinct.toSeq)
  }

  /** Cell count above which [[ivfTopK]]'s coarse probe stages through
    * super-centroids (the ivfTopKHier machinery) instead of scoring every
    * query against every cell centroid — VERDICT r16 #4's flip, now a
    * coded default. Rationale (§12d + §13b, measured on the 2M corpus):
    * the flat coarse stage scores |queries| × cells pairs (≈45% of the
    * wall at 10⁴ cells / 1024 queries: 8.48 → 5.15 s staged); the staged
    * probe scores |queries| × (√cells · (1 + superProbe)). At the 4096
    * boundary the staged probe is a small-panel wash (2.50 vs 2.72 s at
    * 16 queries) and a clear large-panel win (6.30 vs 4.74 s at 1024).
    * Below the bound the flat path is byte-for-byte the r16 shape —
    * every declared query at the bench SFs carries ≲ 1.5k cells at most
    * (label cells ≤ 10; policy cells ⌈√N⌉ ≲ 450), so their plans and
    * results are untouched (re-verified against the oracle). */
  val HierCellsThreshold: Int = 4096

  /** Cell count above which the coarse probe runs fully DISTRIBUTED
    * ([[probeCellsDist]]) — no collect of the centroid table at all
    * (VERDICT r16 #3). The driver-side staged tier above holds the cells
    * rows on the driver (≤ DistCellsThreshold × dims doubles ≈ 33 MB at
    * 64 dims — safe) and runs an O(cells·g·iters) driver Lloyd's for the
    * grouping, which stops being noise around 10⁵ cells (~10⁸ driver
    * flops per probe build); under the √N policy cells = ⌈√N⌉ reaches 10⁶
    * at N = 10¹², where the collect itself is hundreds of MB. Above this
    * bound the distributed probe's fixed extra jobs (two stage barriers,
    * one count, the distributed super-train — measured ~2-4 s of per-job
    * latency at sf-rehearsal scale, §13b) are the price of a driver that
    * stays O(√cells); below it the driver-side tiers are strictly
    * faster. */
  val DistCellsThreshold: Int = 65536

  /** Super-group probe width of the routed distributed path — §12d's
    * measured setting (agreement 0.889 with the flat probe's result set
    * at 10⁴ cells, nProbe 8; the policy recall audit in [[ivfPolicyTopK]]
    * remains the escalation valve above it). With superProbe ≥ the group
    * count the probe set equals the flat path's EXACTLY (HierDistSpec —
    * same contract as HierProbeSpec pins for the staged API variant). */
  val DistSuperProbe: Int = 8

  /** Distributed two-level coarse probe — the ≥ [[HierCellsThreshold]]
    * arm of [[probeCells]]. No collect of the centroid table anywhere:
    *   1. the centroid frame is staged once (it feeds the surrogate
    *      index, the super-group train, and the stage-B scoring);
    *   2. the dense order-preserving surrogate index (_cidx — the same
    *      tie-break key the flat path ranks by) is a row_number over the
    *      cell IDS ONLY (one narrow single-task sort of ≤ cells ids, no
    *      vectors through the window);
    *   3. the ⌈√cells⌉ super-groups are trained by the DISTRIBUTED
    *      [[kmeansAssign]] over the centroid frame itself — driver state
    *      is the g super-centroid literals, the same bound kmeansAssign
    *      always carries;
    *   4. stage A ranks super-centroids per query (broadcast of g rows),
    *      stage B scores only the probed groups' cell centroids via a
    *      broadcast equi-join on the group id — Θ(√cells · superProbe)
    *      scored pairs per query, never Θ(cells);
    *   5. only the |queries| × nProbe probe rows are collected (the
    *      static IN scan filter, same contract as the flat path).
    * With superProbe ≥ the trained group count, stage B scores every
    * (query, cell) pair with the flat path's exact arithmetic and
    * tie-break, so the probe set — and therefore the query result — is
    * identical (HierDistSpec). */
  private def probeCellsDist(spark0: SparkSession, cents: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, nProbe: Int,
      superProbe: Int = DistSuperProbe): (DataFrame, Seq[Any]) = {
    import org.apache.spark.sql.expressions.Window
    val c0 = stage(cents) // (cluster, centroid)
    // dense order-preserving surrogate index over ids only (no vectors
    // through the single-task window sort)
    val cidx = c0.select(col("cluster"))
      .withColumn("_cidx",
        row_number().over(Window.orderBy("cluster")).cast("long"))
    val cellN = c0.count()
    val g = math.max(1, math.ceil(math.sqrt(cellN.toDouble)).toInt)
    // distributed super-group train over the CELL CENTROIDS themselves;
    // kmeansAssign keeps only the g super-centroids on the driver
    val sgroups = kmeansAssign(c0, "cluster", "centroid", g, iters = 4)
      .toDF("cluster", "_sg0")
      .select(col("cluster"), col("_sg0").cast("long").as("_sg"))
    // (cluster, ce, _cidx, _sg), staged once: it feeds the super-centroid
    // aggregation, the stage-B scoring, and the final id map-back
    val cells2 = stage(
      c0.withColumnRenamed("centroid", "ce")
        .join(cidx, Seq("cluster")).join(sgroups, Seq("cluster")))
    // super-centroid vectors: mean of member cell centroids (one
    // distributed aggregation, g rows out)
    val superCents = centroids(
      cells2.select(col("_sg").as("sgroup"), col("ce").as("e")),
      "sgroup", "e")
      .select(col("cluster").as("_sg"), col("centroid").as("ce"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", norm("qe"))
    // stage A: rank the g super-centroids per query
    val sScored = q.crossJoin(broadcast(superCents.withColumn("cn", norm("ce"))))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0)
          / 1000000.0)
    val pSup = rankTopK(
        sScored.select(col("qid"), col("_sg").as("cid"), col("cosine")),
        superProbe)
      .select(col("qid"), col("cid").as("_sg"))
    // stage B: score ONLY the probed groups' cell centroids — broadcast
    // the (query, group) probe plan onto the distributed centroid frame
    val cScored = cells2
      .join(broadcast(pSup.join(q, Seq("qid"))), Seq("_sg"))
      .withColumn("cn", norm("ce"))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0)
          / 1000000.0)
    val probed = broadcast(rankTopK(
        cScored.select(col("qid"), col("_cidx").as("cid"), col("cosine")),
        nProbe)
      .select(col("qid"), col("cid").as("_cidx")))
      .join(cells2.select(col("_cidx"), col("cluster")), Seq("_cidx"))
      .select("qid", "cluster")
    val probedRows = probed.collect()
    val probedDf = spark0.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probed.schema)
    (probedDf, probedRows.map(_.get(1)).distinct.toSeq)
  }

  /** Test/rehearsal hook: [[ivfTopK]] forced through the r16 FLAT
    * collect-and-broadcast probe regardless of cell count — the baseline
    * the routed probe is measured against (HierProbeRehearsal). */
  private[graft] def ivfTopKFlat(embeddings: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, queries: DataFrame, k: Int,
      nProbe: Int = 2): DataFrame = {
    val cents = centroids(embeddings, clusterCol, vecCol)
    val centRows = cents.orderBy("cluster").collect()
    val (probedDf, probedCells) = probeCellsFlat(embeddings.sparkSession,
      cents, centRows, idCol, vecCol, queries, nProbe)
    scanProbed(embeddings, idCol, vecCol, clusterCol, queries, k,
      probedDf, probedCells)
  }

  /** Test/rehearsal hook: [[ivfTopK]] forced through the DISTRIBUTED
    * two-level probe regardless of cell count (the auto route engages it
    * only at ≥ [[HierCellsThreshold]] cells). HierDistSpec pins exhaustive
    * superProbe == flat; HierProbeRehearsal measures the staged walls. */
  private[graft] def ivfTopKDist(embeddings: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, queries: DataFrame, k: Int,
      nProbe: Int = 2, superProbe: Int = DistSuperProbe): DataFrame = {
    val cents = centroids(embeddings, clusterCol, vecCol)
    val (probedDf, probedCells) = probeCellsDist(embeddings.sparkSession,
      cents, idCol, vecCol, queries, nProbe, superProbe)
    scanProbed(embeddings, idCol, vecCol, clusterCol, queries, k,
      probedDf, probedCells)
  }

  /** IVF top-k: per query, probe the `nProbe` cells whose centroids are
    * closest (cosine), then brute-force only the rows of the probed cells
    * (`clusterCol`) and keep the top `k` per query.
    *
    * Approximate in two ways:
    *   - rows outside the probed cells are never scored, as in any IVF
    *     index; the exact answer is [[cosineTopK]];
    *   - above [[HierCellsThreshold]] (4096) cells the coarse probe itself
    *     is approximate. It is staged through ⌈√cells⌉ super-centroids
    *     and scores only the [[DistSuperProbe]] (8) closest groups' cells
    *     per query, so a cell the flat probe would pick can be missed.
    *     Measured agreement with the flat probe's result set: 0.889 at
    *     10⁴ cells, 1024 queries, nProbe 8 (SCALING §12d).
    * At or below 4096 cells the probe is the flat, exact coarse ranking.
    * There is no override here; when a recall floor matters, call
    * [[ivfPolicyTopK]] with `minRecall`, whose audit against the exact
    * top-k doubles nProbe until the floor holds or a quarter of the cells
    * are probed (the escalation valve). */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, queries: DataFrame, k: Int,
      nProbe: Int = 2): DataFrame = {
    val (probedDf, probedCells) =
      probeCells(embeddings, idCol, vecCol, clusterCol, queries, nProbe)
    scanProbed(embeddings, idCol, vecCol, clusterCol, queries, k,
      probedDf, probedCells)
  }

  /** The candidate stage shared by [[ivfTopK]] and [[ivfTopKHier]]: scan
    * only the probed cells, score with the native fused-loop expression
    * (bit-identical to the composed zip_with form — x_ann_native_expr
    * shares x_ann_bruteforce's oracle), bounded-heap rank to top-k. The
    * centroid scoring in the probe stages stays composed: centroids are
    * double arrays, vec_cosine reads floats. */
  private def scanProbed(embeddings: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, queries: DataFrame, k: Int,
      probedDf: DataFrame, probedCells: Seq[Any]): DataFrame = {
    val session = embeddings.sparkSession
    graft.functions.VectorCosine.register(session)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
    val cand = embeddings
      .filter(col(clusterCol).isInCollection(probedCells))
      .select(col(idCol).as("cid"), col(vecCol).as("ce"),
        col(clusterCol).as("cluster"))
    val scored = cand.join(broadcast(probedDf), Seq("cluster"))
      .filter(col("cid") =!= col("qid"))
      .join(q, Seq("qid"))
      .withColumn("cosine",
        floor(expr("vec_cosine(qe, ce)") * 1000000.0) / 1000000.0)
    rankTopK(scored, k)
  }

  // ---------- §11e probe policy: the coded default (VERDICT r15 #2) ----

  /** Coarse-cell count under the production rule: cells = ⌈√N⌉ keeps the
    * per-cell inverted list at ≈ √N vectors, so probing a NEAR-CONSTANT
    * number of cells scans Θ(√N) candidates per query. This is the cost
    * law SCALING §11e measured through the fourth decade (2M vectors):
    * the alternative "hold the probed fraction" rule kept recall 1.000
    * but paid LINEAR query cost (walls ×11 for ×10 rows). */
  def policyCells(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** Default near-constant probe width. Candidates per query ≈
    * nProbe·√N; the recall audit below is the escalation valve when a
    * corpus's cluster structure needs more. */
  val PolicyNProbe = 8

  /** IVF top-k with the §11e production policy, over a PRE-BUILT
    * clustered layout (the ingest artifact x_ann_ivf_kmeans freezes, with
    * `cells` = [[policyCells]] of the corpus): probe a near-constant
    * `nProbe0` cells (query cost Θ(√N), not Θ(N)), and when `minRecall`
    * > 0 run the recall-audit escalation — hits@k of the result against
    * the exact top-k for these queries (passed in, or computed from the layout),
    * doubling nProbe until the audit passes or the probed fraction hits
    * §11e's 25%-of-cells fallback rule. Deterministic: same corpus +
    * queries + parameters → same escalation path → same plan. */
  def ivfPolicyTopK(clustered: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, queries: DataFrame, k: Int, cells: Int,
      nProbe0: Int = PolicyNProbe, minRecall: Double = 0.0,
      exactTruth: Option[DataFrame] = None): DataFrame = {
    val fractionCap = math.max(1, cells / 4)
    var nProbe = math.max(1, math.min(cells, nProbe0))
    def run(): DataFrame =
      ivfTopK(clustered, idCol, vecCol, clusterCol, queries, k, nProbe)
    var res = run()
    if (minRecall > 0.0) {
      val exact = exactTruth
        .getOrElse(cosineTopK(clustered, idCol, vecCol, queries, k))
        .select("qid", "cid").persist()
      try {
        val exactN = math.max(1L, exact.count())
        def recallOf(df: DataFrame): Double =
          exact.join(df.select("qid", "cid"), Seq("qid", "cid"), "left_semi")
            .count().toDouble / exactN
        var recall = recallOf(res)
        while (recall < minRecall && nProbe < fractionCap) {
          nProbe = math.min(fractionCap, nProbe * 2)
          res = run()
          recall = recallOf(res)
        }
      } finally exact.unpersist()
    }
    res
  }

  // ---------- two-level coarse quantizer groundwork (VERDICT r15 #6) --

  /** Deterministic driver-side Lloyd's over the COLLECTED centroid rows
    * (≤ nLists by contract — the set [[probeCells]] already holds on the
    * driver): groups the cells into `g` super-cells by cosine argmax,
    * seeds = the first g centroids in cluster order, ties → the smaller
    * super id, zero-norm scores skipped with a group-0 fallback — the
    * same determinism rules as [[kmeansAssign]], run on ≤ nLists rows of
    * driver memory. Returns each centroid's super-group id. */
  private def driverGroups(vecs: Array[Array[Double]], g: Int,
      iters: Int = 4): Array[Int] = {
    if (vecs.isEmpty) return Array.empty
    val dims = vecs(0).length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var s = 0.0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    var sup: Array[Array[Double]] = vecs.take(g).map(_.clone())
    val assign = new Array[Int](vecs.length)
    for (_ <- 0 until iters) {
      val supN = sup.map(v => math.sqrt(dot(v, v)))
      var i = 0
      while (i < vecs.length) {
        var best = -1; var bestS = Double.NaN
        var j = 0
        while (j < sup.length) {
          val s = dot(vecs(i), sup(j)) / supN(j)
          if (!s.isNaN && (best < 0 || s > bestS)) { best = j; bestS = s }
          j += 1
        }
        assign(i) = if (best < 0) 0 else best
        i += 1
      }
      val sums = Array.fill(sup.length)(new Array[Double](dims))
      val cnt = new Array[Long](sup.length)
      i = 0
      while (i < vecs.length) {
        val a = assign(i); cnt(a) += 1
        var d = 0
        while (d < dims) { sums(a)(d) += vecs(i)(d); d += 1 }
        i += 1
      }
      sup = sup.indices.map { j =>
        if (cnt(j) == 0) sup(j) // empty group keeps its centroid
        else sums(j).map(_ / cnt(j))
      }.toArray
    }
    assign
  }

  /** Two-level IVF probe (SCALING §11e "next two decades" groundwork):
    * when cells ≳ 10⁴ the FLAT coarse scan — every query scored against
    * every cell centroid — stops being noise, especially at production
    * query volume. This variant ranks ⌈√cells⌉ super-centroids first
    * (built by [[driverGroups]] over the already-collected centroid
    * rows), keeps the top `superProbe` groups per query, and scores only
    * those groups' cell centroids: coarse work per query drops from
    * Θ(cells) to Θ(√cells · superProbe). With superProbe ≥ the group
    * count the probed cells — and therefore the output — equal
    * [[ivfTopK]]'s exactly (HierProbeSpec pins it); smaller superProbe
    * trades coarse-ranking recall for the √ cost, measured in
    * examples.HierProbeRehearsal. The candidate stage is [[scanProbed]],
    * shared verbatim with the flat path. */
  def ivfTopKHier(embeddings: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, queries: DataFrame, k: Int, nProbe: Int = 2,
      superProbe: Int = 4): DataFrame = {
    val (probedDf, probedCells) = probeCellsHier(embeddings, idCol, vecCol,
      clusterCol, queries, nProbe, superProbe)
    scanProbed(embeddings, idCol, vecCol, clusterCol, queries, k,
      probedDf, probedCells)
  }

  private def probeCellsHier(embeddings: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, queries: DataFrame,
      nProbe: Int, superProbe: Int): (DataFrame, Seq[Any]) = {
    val cents = centroids(embeddings, clusterCol, vecCol)
    val centRows = cents.orderBy("cluster").collect()
    probeCellsHierRows(embeddings.sparkSession, cents, centRows, idCol,
      vecCol, queries, nProbe, superProbe)
  }

  /** [[probeCellsHier]]'s body over ALREADY-COLLECTED centroid rows —
    * shared with [[probeCells]]'s mid-tier route, which has the rows in
    * hand from its routing collect. */
  private def probeCellsHierRows(spark0: SparkSession, cents: DataFrame,
      centRows: Array[org.apache.spark.sql.Row], idCol: String,
      vecCol: String, queries: DataFrame, nProbe: Int,
      superProbe: Int): (DataFrame, Seq[Any]) = {
    val vecsD = centRows.map(_.getSeq[Double](1).toArray)
    val g = math.max(1, math.ceil(math.sqrt(centRows.length.toDouble)).toInt)
    val sup = driverGroups(vecsD, g)
    // super-centroid table: mean of member cell centroids, dense ids
    // over the non-empty groups only
    val denseSid = sup.distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    val dims = if (vecsD.isEmpty) 0 else vecsD(0).length
    val superVecs = sup.zipWithIndex.groupBy(_._1).toSeq
      .map { case (s, members) =>
        val acc = new Array[Double](dims)
        members.foreach { case (_, i) =>
          var d = 0; while (d < dims) { acc(d) += vecsD(i)(d); d += 1 } }
        (denseSid(s), acc.map(_ / members.length).toSeq)
      }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ceField = cents.schema.fields(1).copy(name = "ce")
    val superDf = spark0.createDataFrame(
      java.util.Arrays.asList(superVecs.map { case (sid, v) =>
        org.apache.spark.sql.Row(sid, v) }: _*),
      StructType(Seq(StructField("_sid", LongType), ceField)))
    val localCent = spark0.createDataFrame(
      java.util.Arrays.asList(centRows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), i + 1L, denseSid(sup(i)),
          r.get(1)) }: _*),
      StructType(Seq(
        cents.schema.fields.head.copy(name = "cluster"),
        StructField("_cidx", LongType), StructField("_sid", LongType),
        ceField)))
    val cidx = localCent.select(col("cluster"), col("_cidx"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", norm("qe"))
    // stage A: rank the ⌈√cells⌉ super-centroids per query
    val sScored = q.crossJoin(broadcast(superDf.withColumn("cn", norm("ce"))))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0)
          / 1000000.0)
    val pSup = rankTopK(
        sScored.select(col("qid"), col("_sid").as("cid"), col("cosine")),
        superProbe)
      .select(col("qid"), col("cid").as("_sid"))
    // stage B: score ONLY the probed groups' cell centroids (the _sid
    // equi-join is the pruning — Θ(√cells · superProbe) rows per query)
    val cScored = pSup
      .join(q, Seq("qid"))
      .join(broadcast(localCent.withColumn("cn", norm("ce"))), Seq("_sid"))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0)
          / 1000000.0)
    val probed = rankTopK(
        cScored.select(col("qid"), col("_cidx").as("cid"), col("cosine")),
        nProbe)
      .select(col("qid"), col("cid").as("_cidx"))
      .join(broadcast(cidx), Seq("_cidx"))
      .select("qid", "cluster")
    val probedRows = probed.collect()
    val probedDf = spark0.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probed.schema)
    (probedDf, probedRows.map(_.get(1)).distinct.toSeq)
  }

  /** Distributed Lloyd's k-means over the embedding column — the
    * ingest-side coarse quantizer that makes ivfTopK a real IVF (the
    * synthetic `label` column is random, so probing it is chance; probing
    * k-means cells prunes genuinely similar vectors into the same cells —
    * examples.IvfRecallDemo measures the recall difference).
    *
    * Scale shape per iteration (k centroids are always tiny): the
    * centroid table lives on the DRIVER as plan literals — contract-
    * bounded at k rows — so assignment is a PURE MAP expression (argmax
    * of dot/|c| per vector; |e| is constant per vector so true-cosine
    * argmax is unchanged) and each training round is exactly ONE
    * distributed aggregation (posexplode + groupBy average, k rows back
    * to the driver). No corpus shuffle anywhere in quantization: the
    * final full-corpus assignment is a map over the scan, the shape that
    * survives 100 TB ingest. Deterministic: seeds are the k smallest
    * ids' vectors, ties break toward the lower cell id, NaN scores
    * (zero centroids) are skipped with a cell-0 degenerate fallback. */
  def kmeansAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3, fitFraction: Double = 1.0): DataFrame = {
    require(k > 0 && iters > 0)
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction must be in (0, 1], got $fitFraction")
    val emb = embeddings.select(col(idCol).as("id"), col(vecCol).as("e"))
    // At 100 TB the quantizer is TRAINED on a sample and the full corpus
    // is assigned once — iterating Lloyd's over every vector multiplies
    // the dominant scan by `iters` for centroids that converge the same.
    // Membership is content-addressed (md5 threshold, the
    // Sampling.stratifiedSample scheme): deterministic and partition-
    // layout-independent, so sample-fit cells are reproducible anywhere.
    val fit =
      if (fitFraction >= 1.0) emb
      else {
        val sample = emb.filter(Sampling.keepFraction(col("id"), fitFraction))
          // the sample is re-read every training round — materialize once
          .staged
        // an unlucky tiny sample on a tiny corpus must not collapse the
        // quantizer to zero cells (empty seeds → empty assignment → the
        // whole corpus silently dropped): train on everything instead
        if (sample.isEmpty) emb else sample
      }
    // deterministic seeds: the k smallest sampled ids' vectors, cells
    // 0..k-1 (fewer than k sampled vectors → fewer cells, still valid).
    // COLLECTED — the centroid table IS the driver state, contract-
    // bounded at k rows (the same bound the final codebook collect or an
    // IVF probe-cell list already carries). Centroids-as-literals turn
    // every training round into ONE distributed aggregation (map-only
    // assignment expression → centroid groupBy → k-row collect) and the
    // final corpus assignment into a PURE MAP — no corpus shuffle
    // anywhere in quantization (pre-r10 this was a crossJoin + corpus-
    // keyed groupBy heap per round: 3 s of per-job latency per trained
    // query at sf0.1, and at 100 TB a full corpus shuffle at assign).
    var cents: Seq[(Int, Seq[Double])] = fit.orderBy("id").limit(k)
      .select(expr("transform(e, x -> CAST(x AS DOUBLE))").as("c"))
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toIndexedSeq) }.toSeq

    /** Map-only argmax assignment against literal centroids: score_c =
      * dot(e, c)/|c| — the dot runs in the SAME IEEE sequence as the
      * pre-r10 broadcast-join fold and |c| is the same left-to-right
      * Σy² (computed once on the driver), so iters = 1 outputs (the
      * hash-gated seed-argmax queries) are bit-identical. Only
      * strictly-greater non-NaN scores advance — ties resolve to the
      * SMALLER cell, TopKAgg's tie-break; NaN scores (zero centroid ⇒
      * 0/0) are skipped like the heap dropped them; all-NaN falls back
      * to cell 0, the same degenerate guard as before. The whole rule is
      * the native kmeans_argmax expression (graft.functions.PqArgmin:
      * fused codegen loop, bit-identical to the interpreted HOF fold it
      * replaced). */
    def assignTo(vecs: DataFrame, cs: Seq[(Int, Seq[Double])],
        carry: Seq[String] = Nil): DataFrame = {
      if (cs.isEmpty)
        // empty corpus → no seeds; nothing to assign (schema preserved)
        return vecs.limit(0).select((Seq(col("id"),
          lit(0).as("cluster")) ++ carry.map(col)): _*)
      vecs
        .withColumn("_cl", graft.functions.PqArgmin.kmeansArgmax(
          vecs.sparkSession, col("e"),
          typedLit(cs.map(_._2)), typedLit(cs.map(_._1)),
          typedLit(cs.map { case (_, c) =>
            math.sqrt(c.foldLeft(0.0)((a, y) => a + y * y)) })))
        .select((Seq(col("id"),
          expr("CASE WHEN _cl < 0 THEN 0 ELSE _cl END").as("cluster")) ++
          carry.map(col)): _*)
    }
    // train: iters-1 centroid updates over the fit sample — each round is
    // a map-only assignment (e carried through) feeding ONE centroid
    // aggregation whose k-row result returns to the driver
    for (_ <- 1 until iters) {
      cents = centroids(assignTo(fit, cents, carry = Seq("e")), "cluster", "e")
        .orderBy("cluster")
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq)).toSeq
    }
    // ...then ONE map-only assignment pass over the full corpus. With
    // fitFraction = 1 this is step-for-step the classic full Lloyd's
    // (iters assignments, centroids recomputed between).
    assignTo(emb, cents)
  }

  /** Persist the corpus partitioned by cluster cell, so an IVF probe is
    * PHYSICAL partition pruning: `ivfTopK` over a frame read from this
    * layout scans only the probed cells' files (PartitionFilters on the
    * parquet scan, asserted in ExtSpec) — the nProbe/nLists scan fraction
    * stops being a row filter and becomes I/O never issued. Pair with
    * kmeansAssign at ingest. */
  def writeClustered(embeddings: DataFrame, clusterCol: String,
      path: String): Unit =
    embeddings.write.partitionBy(clusterCol).mode("overwrite").parquet(path)

  /** Product-quantization codebook (the faiss-PQ family, public method):
    * each vector splits into `m` contiguous subvectors and each subspace
    * gets its own `ksub`-cell Lloyd's quantizer. All `m` quantizers train
    * in ONE distributed loop: the book rides the plan as literals
    * (driver state, contract-bounded at ≤ m·ksub rows), each round is a
    * map-only (cell, sub) assignment expression feeding one centroid
    * aggregation — cells keyed `cell = j·ksub + code`, the same
    * literal-book discipline [[kmeansAssign]] uses. Returns
    * (cell, c: array<double>); cells that lose all members during
    * training simply vanish (fewer codes in that subspace).
    *
    * Seeds are the `ksub` smallest sampled ids' subvectors (deterministic,
    * content-addressed sample via [[Sampling.keepFraction]]); assignment
    * is L2 argmin with ties to the smaller cell — every step
    * deterministic, so the codebook is reproducible at any parallelism. */
  def pqCodebook(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 3, fitFraction: Double = 1.0): DataFrame = {
    require(m > 0 && ksub > 0 && iters > 0)
    val emb = embeddings.select(col(idCol).as("id"), col(vecCol).as("e"))
    val fitBase =
      if (fitFraction >= 1.0) emb
      else {
        val sample = emb.filter(Sampling.keepFraction(col("id"), fitFraction)).staged
        if (sample.isEmpty) emb else sample
      }
    // seeds: the ksub smallest sampled ids' vectors, COLLECTED and sliced
    // on the driver — the codebook IS the driver state, contract-bounded
    // at ≤ m·ksub rows (exactly the bound pqModel's final collect already
    // carries). Book-as-literals turn every training round into ONE
    // distributed aggregation (map-only (cell, sub) assignment expression
    // → centroid groupBy → ≤ m·ksub-row collect) — pre-r10 each round was
    // a broadcast join + corpus-keyed TopK groupBy + a second groupBy +
    // two localCheckpoints, whose per-job latency (not data volume)
    // dominated x_ann_pq (examples.PqProfile: ~3 s of the query's 6 s).
    val seedVecs: Seq[Seq[Double]] = fitBase.orderBy("id").limit(ksub)
      .select(expr("transform(e, x -> CAST(x AS DOUBLE))").as("c"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq).toSeq
    var book: Seq[(Int, Seq[Double])] =
      if (seedVecs.isEmpty) Nil
      else {
        val dsub = seedVecs.head.size / m
        for {
          (v, code) <- seedVecs.zipWithIndex.toSeq
          j <- 0 until m
        } yield (j * ksub + code, v.slice(j * dsub, (j + 1) * dsub))
      }
    // one-scan training: the fit frame is re-read every round, so stage
    // it when rounds > 1 (same bytes the pre-r10 exploded view staged)
    val fitB = if (iters > 1) graft.core.Materialize.stage(fitBase) else fitBase
    val dsubE = s"CAST(size(e) / $m AS INT)"
    val subJ = s"transform(slice(e, j * $dsubE + 1, $dsubE), " +
      "x -> CAST(x AS DOUBLE))"
    /** Map-only (cell, sub) assignment against the literal book: per
      * subspace j, L2 argmin over that subspace's surviving centroids
      * with ties to the smaller cell — the same (min d, cell asc) rule
      * the pre-r10 TopK heap applied, so iters = 1 semantics are
      * unchanged (the book is then exactly the seed subvectors either
      * way). The argmin runs through the native pq_argmin expression
      * (graft.functions.PqArgmin — fused codegen loop, bit-identical to
      * the interpreted HOF pyramid it replaced, which cost ~1.4 s per
      * round at sf0.1); only the cheap per-subspace slice/cast stays as
      * a built-in transform. */
    def assignSubs(vecs: DataFrame, bk: Seq[(Int, Seq[Double])]): DataFrame = {
      if (bk.isEmpty)
        return vecs.limit(0).select(lit(0).as("cell"),
          expr("transform(e, x -> CAST(x AS DOUBLE))").as("sub"))
      val byJ = bk.groupBy(_._1 / ksub)
      val barr = (0 until m).map(j =>
        byJ.getOrElse(j, Nil).sortBy(_._1).map(_._2))
      val bcell = (0 until m).map(j =>
        byJ.getOrElse(j, Nil).sortBy(_._1).map(_._1))
      vecs
        .withColumn("_cells", graft.functions.PqArgmin.pqArgmin(
          vecs.sparkSession, col("e"), typedLit(barr), typedLit(bcell)))
        .select(explode(expr(
          s"""transform(sequence(0, ${m - 1}), j -> named_struct(
             |  'cell', element_at(_cells, j + 1),
             |  'sub', $subJ))""".stripMargin)).as("a"))
        .select(col("a.cell").as("cell"), col("a.sub").as("sub"))
    }
    for (_ <- 1 until iters) {
      book = centroids(assignSubs(fitB, book), "cell", "sub")
        .orderBy("cluster")
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq)).toSeq
    }
    import emb.sparkSession.implicits._
    book.toDF("cell", "c")
  }

  /** PQ encode + ADC top-k (asymmetric distance computation): candidates
    * are represented by `m` small codes; queries stay exact and score
    * against per-query lookup tables of query-subvector × centroid dots.
    *
    * The 100-TB shape: the codebook (m·ksub centroids) is COLLECTED once
    * — contract-bounded, ≤ m·ksub rows — and re-enters the plan as a
    * typed literal, so encoding is a map-only expression over the corpus
    * scan (no join, no shuffle; codes are m bytes of information per
    * vector vs 4·dim for float32). Each query row carries its own
    * (m × ksub) LUT built map-only from the same literal; scoring is then
    * a broadcast of the few query rows over the code scan with a pure
    * table-lookup fold, and ranking is the bounded TopK heap. Codes for
    * cells that vanished in training index NaN LUT slots — unreachable,
    * since the encoder only emits surviving codes.
    *
    * Approximation contract: cosine(q, x) ≈ Σⱼ dot(qⱼ, c_code) /
    * (|q| · √Σⱼ|c_code|²) — recall vs the exact ranking is spec-gated
    * (ExtSpec), not oracle-gated: the trained codebook is a Lloyd's
    * fixpoint, impractical in SQL (same class as x_ann_ivf_kmeans). */
  /** Trained PQ model as plan literals: per-subspace surviving centroids
    * (`cbArr[j][p]`), their codes (`cbCode[j][p]`), per-code centroid
    * norms (`cn2[j][code]`, NaN-padded where a cell lost all members),
    * plus the map-only encoder / per-query LUT / lookup-fold expression
    * text bound to those literals. The one collect is the codebook —
    * bounded by contract at ≤ m·ksub rows. */
  private final case class PqModel(cbArr: org.apache.spark.sql.Column,
      cbCode: org.apache.spark.sql.Column, cn2: org.apache.spark.sql.Column,
      m: Int, ksub: Int, hasBook: Boolean) {
    private val dsub = s"CAST(size(e) / $m AS INT)"
    private val subJ =
      s"transform(slice(e, j * $dsub + 1, $dsub), x -> CAST(x AS DOUBLE))"
    /** Per-query LUT: lutd[j][code] = dot(q_j, centroid), NaN-padded like
      * cn2 — built map-only on the few query rows. */
    def lutExpr: org.apache.spark.sql.Column = expr(
      s"""transform(sequence(0, ${m - 1}), j ->
         |  transform(sequence(0, ${ksub - 1}), c ->
         |    CASE WHEN array_position(element_at(cbcode, j + 1), c) > 0
         |      THEN aggregate(zip_with($subJ,
         |             element_at(element_at(cbarr, j + 1),
         |               CAST(array_position(element_at(cbcode, j + 1), c) AS INT)),
         |             (x, y) -> x * y),
         |           CAST(0 AS DOUBLE), (a, v) -> a + v)
         |      ELSE CAST('NaN' AS DOUBLE) END))
         |""".stripMargin)
    /** Σⱼ tbl[j][codes[j]] — the ADC table-lookup fold. */
    def lookupSum(tbl: String): org.apache.spark.sql.Column = expr(
      s"""aggregate(transform(sequence(0, ${m - 1}), j ->
         |  element_at(element_at($tbl, j + 1),
         |    element_at(codes, j + 1) + 1)),
         |  CAST(0 AS DOUBLE), (a, v) -> a + v)""".stripMargin)
    /** (cid, codes [, carried]) — the encoded corpus, map-only. The
      * per-subspace argmin runs through the native pq_argmin expression
      * (fused codegen loop; bit-identical to the interpreted HOF form it
      * replaced — see graft.functions.PqArgmin). */
    def encode(embeddings: DataFrame, idCol: String, vecCol: String,
        carry: Seq[String] = Nil): DataFrame = {
      val base = embeddings
        .select((Seq(col(idCol).as("cid"), col(vecCol).as("e")) ++
          carry.map(col)): _*)
      if (!hasBook)
        // empty training corpus → no codebook; nothing can be encoded
        base.limit(0).select((Seq(col("cid"),
          expr("CAST(array() AS ARRAY<INT>)").as("codes")) ++
          carry.map(col)): _*)
      else base.select((Seq(col("cid"),
        graft.functions.PqArgmin.pqArgmin(embeddings.sparkSession,
          col("e"), cbArr, cbCode).as("codes")) ++ carry.map(col)): _*)
    }
    /** (qid, lutd, qn) — queries with their ADC tables, map-only. */
    def queriesWithLut(queries: DataFrame, idCol: String,
        vecCol: String): DataFrame =
      queries.select(col(idCol).as("qid"), col(vecCol).as("e"))
        .withColumn("cbarr", cbArr).withColumn("cbcode", cbCode)
        .withColumn("qn", expr(
          "aggregate(e, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
        .select(col("qid"), lutExpr.as("lutd"), col("qn"))
    /** ADC cosine over a (codes, lutd, qn) row — floor-truncated 6 dp. */
    def adcCosine: org.apache.spark.sql.Column =
      floor(lookupSum("lutd") /
        (sqrt(col("qn")) * sqrt(lookupSum("cn2"))) * 1000000.0) / 1000000.0
  }

  private def pqModel(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, fitFraction: Double): PqModel = {
    val book = pqCodebook(embeddings, idCol, vecCol, m, ksub, iters, fitFraction)
      .collect() // bounded by contract: ≤ m·ksub rows (the codebook)
    val cb: Map[(Int, Int), Seq[Double]] = book.map { r =>
      val cell = r.getInt(0)
      ((cell / ksub, cell % ksub), r.getSeq[Double](1))
    }.toMap
    // per-subspace parallel arrays: surviving codes + their centroids +
    // centroid norms; NaN-padded to ksub so LUT lookup is index-by-code
    val codesByJ: Seq[Seq[Int]] =
      (0 until m).map(j => (0 until ksub).filter(c => cb.contains((j, c))))
    val centsByJ: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => codesByJ(j).map(c => cb((j, c))))
    val cn2ByJ: Seq[Seq[Double]] = (0 until m).map { j =>
      (0 until ksub).map(c => cb.get((j, c))
        .map(v => v.map(x => x * x).sum).getOrElse(Double.NaN))
    }
    PqModel(typedLit(centsByJ), typedLit(codesByJ), typedLit(cn2ByJ), m, ksub,
      hasBook = cb.nonEmpty)
  }

  def pqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, m: Int, ksub: Int,
      iters: Int = 3, fitFraction: Double = 1.0): DataFrame = {
    val model = pqModel(embeddings, idCol, vecCol, m, ksub, iters, fitFraction)
    val coded = model.encode(embeddings, idCol, vecCol)
    val q = model.queriesWithLut(queries, idCol, vecCol)
    val scored = coded.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cn2", model.cn2)
      .withColumn("cosine", model.adcCosine)
    rankTopK(scored, k)
  }

  /** IVF-PQ (the production faiss shape at corpus scale): a coarse
    * quantizer prunes the scan to the probed cells AND the pruned
    * candidates are scored through PQ codes instead of raw floats — I/O
    * falls by ~nProbe/nLists and the scored representation falls to m
    * codes per vector. Composition of the two proven halves:
    * [[probeCells]] (static IN scan filter from the per-query centroid
    * ranking — physical partition pruning over a [[writeClustered]]
    * layout) and the [[PqModel]] map-only encode + broadcast ADC LUTs.
    * The PQ model trains on the FULL corpus (sample-fit via
    * `fitFraction` in production) — codebooks are an ingest artifact,
    * not a per-query one. Recall compounds the IVF probe miss and the
    * PQ quantization error; spec-gated like each half. */
  def ivfPqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, queries: DataFrame, k: Int, nProbe: Int,
      m: Int, ksub: Int, iters: Int = 3, fitFraction: Double = 1.0): DataFrame = {
    val model = pqModel(embeddings, idCol, vecCol, m, ksub, iters, fitFraction)
    val (probedDf, probedCells) =
      probeCells(embeddings, idCol, vecCol, clusterCol, queries, nProbe)
    val coded = model.encode(
      embeddings.filter(col(clusterCol).isInCollection(probedCells))
        .withColumn("cluster", col(clusterCol)),
      idCol, vecCol, carry = Seq("cluster"))
    val q = model.queriesWithLut(queries, idCol, vecCol)
    val scored = coded.join(broadcast(probedDf), Seq("cluster"))
      .filter(col("cid") =!= col("qid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cn2", model.cn2)
      .withColumn("cosine", model.adcCosine)
    rankTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs above a cosine
    * threshold, restricted to within-cluster pairs (the IVF blocking —
    * linear in cluster size, not corpus size). Pair generation goes
    * through PairBuckets.selfPairs so one fat cluster is triangle-salted
    * across tasks instead of serializing O(c²) pairs into one; the
    * vectors are then fetched back by id with two hash joins (shuffle on
    * id — scales, unlike carrying both vectors through the pair join). */
  def cosineNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    graft.functions.VectorCosine.register(embeddings.sparkSession)
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("e"))
    val pairs = graft.ops.PairBuckets.selfPairs(embeddings, idCol, col(clusterCol))
    pairs
      .join(v.select(col("id").as("doc_a"), col("e").as("qe")), Seq("doc_a"))
      .join(v.select(col("id").as("doc_b"), col("e").as("ce")), Seq("doc_b"))
      // native fused-loop scoring: bit-identical to the composed zip_with
      // form (x_ann_native_expr shares x_ann_bruteforce's oracle)
      .withColumn("cosine",
        floor(expr("vec_cosine(qe, ce)") * 1000000.0) / 1000000.0)
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** SemDedup (Abbas et al. 2023, public method): semantic deduplication
    * over an embedding column. Documents whose embeddings are
    * near-identical in cosine (templated rewrites, boilerplate variants —
    * invisible to lexical MinHash) are grouped and all but one canonical
    * representative is dropped. The composition is the dedup pipeline's
    * tail on cosine edges: within-cluster near-dup pairs (the clustering
    * IS the blocker — SemDedup only ever compares inside a cell, so
    * cross-cluster duplicates are out of scope by design, same as the
    * paper) → connected components → keep min-id per component.
    *
    * Scale: pair generation is linear in Σ cluster_size² through the
    * salted PairBuckets path, the edge graph that reaches connected
    * components is tiny (only pairs ABOVE the threshold survive), and
    * components is the size-adaptive implementation shared with the
    * lexical pipeline. Output: one row per input embedding —
    * (idCol, component, cluster_size, is_kept). */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    val edges = cosineNearDupPairs(embeddings, idCol, vecCol, clusterCol,
      threshold).select("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(embeddings, idCol, edges)
    val sizes = comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, Seq("component"))
      .select(col("id").as(idCol), col("component"), col("cluster_size"),
        (col("id") === col("component")).as("is_kept"))
  }

  /** Fixed-point element quantization floor(v·scale) as BIGINT — the
    * [[labelCentroids]] discipline, built with Column-level functions so
    * arbitrary (backtick-needing) column names resolve safely. */
  private def quantizeVec(vec: org.apache.spark.sql.Column, scale: Long)
      : org.apache.spark.sql.Column =
    transform(vec, x =>
      floor(x.cast("double") * lit(scale.toDouble)).cast("bigint"))

  /** k-center greedy / farthest-point traversal (Gonzalez 1985, public
    * method) — DIVERSE subset selection over an embedding column: start
    * from a deterministic seed (min id), then repeatedly pick the vector
    * FARTHEST from everything already chosen. The classic 2-approximation
    * to the k-center cover, and the coreset move a training-data pipeline
    * uses when it wants k maximally-spread exemplars (seed prompts, eval
    * probes, cluster initialization) rather than k random ones.
    *
    * Engine-exactness: elements are fixed-pointed to floor(v·scale)
    * BIGINT (the [[labelCentroids]] discipline), distances are integer
    * squared-L2 — every comparison is exact 64-bit arithmetic, ties break
    * by min id, so the selection is bit-deterministic and the unrolled
    * SQL restatement hash-gates with no epsilon.
    *
    * Scale shape: the textbook streaming form, NOT the quadratic one.
    * The corpus frame carries a RUNNING min-distance column; each ROUND
    * does (1) one bounded argmax — an orderBy(…).limit(batch+1), a
    * map-side top-(batch+1) reduce — and (2) one map-only
    * `least(mind, dist-to-accepted-centers)` update (broadcast
    * literals). Driver state per round is ≤ batch+1 (id, vector) rows.
    * At 100 TB the passes read a cached/columnar projection of (id, qv),
    * never the documents.
    *
    * Batched rounds (exact over-selection): sequential greedy pays k
    * driver barriers — fine at k=8, painful at k=1024. Each round
    * collects the top batch+1 candidates by current mind and accepts
    * them GREEDILY ON THE DRIVER, correcting each remaining candidate's
    * mind against the centers accepted this round; acceptance stops the
    * moment the best corrected candidate no longer STRICTLY beats the
    * (batch+1)-th candidate's uncorrected mind (the upper bound on every
    * out-of-batch point — correction only lowers minds, so any in-batch
    * pick strictly above that bound is the true global argmax). The
    * first pick of a round is always exact (it IS the global top-1), so
    * every round accepts ≥ 1 and barriers ≤ k; on spread data rounds
    * accept ~batch and barriers ≈ k/batch. The output is BIT-IDENTICAL
    * to batch=1 sequential greedy (KcenterSpec proves equality on random
    * corpora) — this is a latency optimization, not an approximation. */
  def kcenterSelect(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, scale: Long = 1000L, batch: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(batch >= 1, s"batch must be positive, got $batch")
    val s = embeddings.sparkSession
    import s.implicits._
    def d2(a: Seq[Long], b: Seq[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    def distTo(center: Seq[Long]): org.apache.spark.sql.Column =
      aggregate(
        zip_with(col("qv"), typedLit(center), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, x) => a + x)
    val qv = embeddings
      .select(col(idCol).cast("long").as("vid"),
        quantizeVec(col(vecCol), scale).as("qv"))
      .persist()
    var cur: DataFrame = null
    // ids of the CURRENT round's checkpoint blocks — each new round's
    // eager checkpoint frees the previous round's (ADVICE r15: without
    // this, up to ~k/batch corpus-size (vid,qv,mind) frames pile up in
    // the block manager until their RDDs happen to be GC'd)
    val sc = s.sparkContext
    var curIds: Set[Int] = Set.empty
    def checkpointReplacing(df: DataFrame): DataFrame = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val chk = df.localCheckpoint(true) // eager: safe to drop the parent
      val fresh = sc.getPersistentRDDs.keySet.toSet.diff(before)
      curIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      curIds = fresh
      chk
    }
    try {
      val seed = qv.orderBy("vid").limit(1).collect()
      require(seed.nonEmpty, "kcenterSelect: empty embedding corpus")
      val seedId = seed(0).getLong(0)
      val picks = scala.collection.mutable.ArrayBuffer[
        (Long, Long, Option[Long])]((1L, seedId, None))
      // localCheckpoint (eager), not persist: the running-min frame is
      // re-derived every round, and a persist chain keeps the whole
      // nested lineage in the plan — at k ≳ 200 rounds the analyzer
      // overflows the stack. Checkpointing truncates the lineage to the
      // materialized blocks, keeping plan depth O(1) in the round count
      // (SCALING §11f measured k = 256).
      cur = checkpointReplacing(qv.filter(col("vid") =!= seedId)
        .select(col("vid"), col("qv"),
          distTo(seed(0).getSeq[Long](1)).as("mind")))
      var exhausted = false
      while (picks.size < k && !exhausted) {
        val top = cur.orderBy(col("mind").desc, col("vid"))
          .limit(batch + 1).collect()
        if (top.isEmpty) exhausted = true // k exceeded the corpus
        else {
          // every point outside the collected candidates has
          // mind <= outsideBound (the (batch+1)-th candidate's value)
          val outsideBound =
            if (top.length == batch + 1) top.last.getLong(2) else Long.MinValue
          val cand = scala.collection.mutable.ArrayBuffer(
            top.take(batch).map(r =>
              (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2))): _*)
          val accepted = scala.collection.mutable
            .ArrayBuffer.empty[(Long, Seq[Long], Long)]
          var go = true
          while (go && picks.size + accepted.size < k && cand.nonEmpty) {
            val bi = cand.indices.minBy(i => (-cand(i)._3, cand(i)._1))
            val b = cand(bi)
            // the round's first pick is the exact global argmax; later
            // picks are exact only while STRICTLY above the bound (a tie
            // could hide a smaller-id point outside the batch)
            if (accepted.isEmpty || b._3 > outsideBound) {
              accepted += b
              cand.remove(bi)
              for (i <- cand.indices) {
                val (v, vec, m) = cand(i)
                cand(i) = (v, vec, math.min(m, d2(vec, b._2)))
              }
            } else go = false
          }
          accepted.foreach { case (vid, _, m) =>
            picks += ((picks.size + 1L, vid, Some(m)))
          }
          if (picks.size < k) {
            val ids = accepted.map(_._1).toSeq
            val newMind = accepted.foldLeft(col("mind")) {
              case (c, (_, vec, _)) => least(c, distTo(vec))
            }
            cur = checkpointReplacing( // truncate lineage (see seed note)
              cur.filter(!col("vid").isInCollection(ids))
                .select(col("vid"), col("qv"), newMind.as("mind")))
          }
        }
      }
      s.createDataset(picks.toSeq).toDF("sel_rank", "vec_id", "mind")
    } finally {
      curIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      qv.unpersist()
    }
  }

  /** Nearest-center assignment under a chosen center set — the step that
    * makes [[kcenterSelect]]'s exemplars USABLE: every vector labeled
    * with its closest center (integer squared-L2 over the same
    * floor(v·scale) fixed-point elements, ties → smaller center id) plus
    * the distance, i.e. the coverage partition of the 2-approximate
    * k-center cover. Map-only: centers arrive as ≤k literal arrays
    * folded in ONE expression per row — no join, no shuffle, the same
    * zero-exchange serving discipline as the perceptron scorer. The max
    * of `dist` over the corpus IS the k-center objective value — one
    * agg away, a built-in quality audit. */
  def kcenterAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      centers: Seq[(Long, Seq[Long])], scale: Long = 1000L): DataFrame = {
    require(centers.nonEmpty, "kcenterAssign: empty center set")
    // fold (center, dist) pairs through least-by-(dist, id): one struct
    // comparison chain, codegen-friendly, deterministic ties. Built with
    // Column-level functions (no SQL-string splicing: a column name
    // needing backticks would break expr()-parsed identifiers — ADVICE
    // r14)
    val pairs = array(centers.map { case (cid, cv) =>
      struct(
        aggregate(
          zip_with(col("qv"), typedLit(cv), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, x) => a + x).as("d"),
        lit(cid).as("cid"))
    }: _*)
    val best = array_sort(pairs, (l, r) =>
      when(l.getField("d") < r.getField("d"), -1)
        .when(l.getField("d") > r.getField("d"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .when(l.getField("cid") > r.getField("cid"), 1)
        .otherwise(0)).getItem(0)
    embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        quantizeVec(col(vecCol), scale).as("qv"))
      .withColumn("_b", best)
      .select(col("vec_id"), col("_b").getField("cid").as("center_id"),
        col("_b").getField("d").as("dist"))
  }

  // ---------- recall gating (bounds-style oracle promotion) ----------

  /** Recall gate for the trained-quantizer ANN queries: joins an
    * approximate top-k result against the exact brute-force top-k and
    * emits the EXACT rows (which a SQL oracle can restate verbatim) plus
    * per-query `hits_at_k` = |approx ∩ exact| and `recall_ok` =
    * hits_at_k ≥ minHits. The oracle states the exact side and literal
    * TRUE, so the driver hash bites whenever the approximate path's
    * recall drops below the bound — the same promotion recipe as
    * x_approx_distinct_bounds (sketch value replaced by its error-bound
    * boolean). Both inputs carry (qid, cid); `exact` additionally carries
    * (cosine, rank). A query the approximate side misses entirely still
    * surfaces (left join, hits 0). */
  def recallGate(exact: DataFrame, approx: DataFrame, minHits: Int): DataFrame = {
    val hits = exact.select("qid", "cid")
      .join(approx.select("qid", "cid"), Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("h"))
    exact.join(hits, Seq("qid"), "left")
      .withColumn("hits_at_k", coalesce(col("h"), lit(0L)))
      .withColumn("recall_ok", col("hits_at_k") >= minHits)
      .drop("h")
  }

  // ---------- signed-random-projection (hyperplane) LSH ----------

  /** Deterministic ±1 hyperplane matrix for SRP-LSH, generated row-major
    * by a fixed 64-bit LCG (Knuth MMIX multipliers). Keeping the signs a
    * pure function of (nBits, dim) means the Spark plan literals and the
    * generated DuckDB oracle text share one source of truth — there is no
    * cross-engine RNG to keep in sync. */
  def srpSigns(nBits: Int, dim: Int): Array[Array[Int]] = {
    var x = 0x2545F4914F6CDD1DL
    Array.tabulate(nBits, dim) { (_, _) =>
      x = x * 6364136223846793005L + 1442695040888963407L
      if ((x >>> 63) == 1L) 1 else -1
    }
  }

  /** SRP-LSH band keys (Charikar 2002, public method): each of nBits
    * hyperplanes contributes sign(Σᵢ sᵢ·vᵢ) as one bit; bits pack into
    * nBits/bandBits keys of bandBits bits each. Elements are fixed-pointed
    * to floor(v·1e6) BIGINT before the signed sum, so every bit is a pure
    * integer predicate (order-independent, engine-exact — the same
    * discipline as [[labelCentroids]]). Map-only: one zip_with traversal
    * per bit, no shuffle; the downstream banding join is the only
    * exchange. Vectors must all have length `dim`.
    * Output: (idCol, band, band_key) — nBits/bandBits rows per vector. */
  def srpBandKeys(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, bandBits: Int): DataFrame = {
    require(nBits % bandBits == 0, "nBits must be a multiple of bandBits")
    val signs = srpSigns(nBits, dim)
    val dots = (0 until nBits).map { j =>
      aggregate(
        zip_with(col(vecCol), typedLit(signs(j).toSeq),
          (v, sg) => sg.cast("long") * floor(v.cast("double") * lit(1000000.0))),
        lit(0L), (acc, term) => acc + term).as(s"dot$j")
    }
    val withDots = embeddings.select(col(idCol) +: dots: _*)
    val nBands = nBits / bandBits
    val keys = (0 until nBands).map { b =>
      val k = (0 until bandBits).map { r =>
        when(col(s"dot${b * bandBits + r}") >= 0, 1L).otherwise(0L) *
          lit(1L << (bandBits - 1 - r))
      }.reduce(_ + _)
      struct(lit(b.toLong).as("band"), k.as("band_key"))
    }
    withDots.select(col(idCol), explode(array(keys: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Johnson–Lindenstrauss random projection with the ±1 (Achlioptas)
    * matrix — dimensionality reduction before ANN/clustering: dim → k
    * components, pairwise distances preserved within 1±ε for
    * k = O(ln n / ε²). The matrix is the SAME [[srpSigns]] LCG matrix the
    * SRP-LSH family uses (SRP's sign bits are exactly these components'
    * signs — one shared source of truth), and components are emitted as
    * the exact integer Σ sᵢ·⌊vᵢ·10⁶⌋ WITHOUT the 1/√k normalization: a
    * constant scale factor changes no distance comparison downstream, and
    * dropping it keeps every component BIGINT-exact across engines.
    * Map-only: one zip_with traversal per component, no shuffle. */
  def jlProject(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame = {
    val signs = srpSigns(k, dim)
    val comps = (0 until k).map { j =>
      aggregate(
        zip_with(col(vecCol), typedLit(signs(j).toSeq),
          (v, sg) => sg.cast("long") * floor(v.cast("double") * lit(1000000.0))),
        lit(0L), (acc, term) => acc + term)
    }
    embeddings.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Two-stage retrieval through the JL projection — the standard
    * coarse-to-fine serving shape: stage 1 ranks the corpus against each
    * query by L2² in the 16-component projected space (integer
    * arithmetic; components arithmetic-shifted ≫10 so the squared sums
    * stay double-exact inside the top-C heap) and keeps `coarseC`
    * candidates; stage 2 re-ranks ONLY those candidates by exact cosine
    * on the raw vectors. The corpus pays one projected scan + one
    * candidate-pruned exact pass — never a full-width exact scan per
    * query — and the projection is reusable across every future query
    * batch (persist `jlProject`'s output next to the embeddings).
    * Approximation lives entirely in stage 1's candidate set; every
    * emitted score is exact. */
  def jlRerankTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, dim: Int, kProj: Int, coarseC: Int,
      k: Int): DataFrame = {
    def shifted(df: DataFrame, as: String, proj: String) =
      df.select(col(idCol).as(as),
        transform(col("proj"), c => shiftright(c, 10)).as(proj))
    val cp = shifted(jlProject(embeddings, idCol, vecCol, dim, kProj),
      "cid", "cp")
    val qp = shifted(jlProject(queries, idCol, vecCol, dim, kProj),
      "qid", "qp")
    val topC = graft.functions.TopK.topK(coarseC)
    val cand = cp.crossJoin(broadcast(qp))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d", aggregate(
        zip_with(col("cp"), col("qp"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .groupBy("qid")
      // smallest distance first = largest -d; d is double-exact (≤ ~2^41)
      .agg(topC((-col("d")).cast("double"), col("cid")).as("tk"))
      .select(col("qid"), explode(col("tk.items")).as("s"))
      .select(col("qid"), col("s.id").as("cid"))
    exactRerankTopK(embeddings, idCol, vecCol, queries, cand, k)
  }

  /** Stage-2 exact re-rank shared by every coarse-to-fine composition
    * ([[jlRerankTopK]], [[ivfPqRerankTopK]]): score ONLY the (qid, cid)
    * candidate pairs by exact cosine on the raw vectors and keep top-k.
    * The candidate frame is per-query-bounded (top-C), so it broadcasts;
    * the corpus pays one candidate-pruned exact pass — never a full-width
    * exact scan per query. Every emitted score is exact; the upstream
    * approximation lives entirely in which candidates arrive. */
  private def exactRerankTopK(embeddings: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
      .withColumn("qn", norm("qe"))
    val candQ = cand.join(broadcast(q), Seq("qid"))
    val scored = embeddings
      .select(col(idCol).as("cid"), col(vecCol).as("ce"))
      .withColumn("cn", norm("ce"))
      .join(broadcast(candQ), Seq("cid"))
      .withColumn("cosine",
        floor(expr(dotExpr) / (sqrt(col("qn")) * sqrt(col("cn"))) * 1000000.0)
          / 1000000.0)
    rankTopK(scored, k)
  }

  /** IVF-PQ + exact re-rank — the composition SCALING.md §6b prescribes
    * for IVF-PQ's measured recall decay (0.338 → 0.213 at 10× vectors at
    * fixed m/ksub: quantization error grows relative to the shrinking
    * true-neighbor distances, and the ADC RANKING is what loses them).
    * Stage 1 is [[ivfPqTopK]] asked for coarseC ≫ k candidates — cheap,
    * since ADC scoring is m byte-lookups per vector — and stage 2 re-ranks
    * only those by exact cosine ([[exactRerankTopK]], the jlRerankTopK
    * stage-2 shape). The PQ error now only has to keep a true neighbor
    * inside the top-C, not inside the top-k in the right order, so recall
    * at fixed quantizer parameters is restored by raising coarseC (the
    * §6b rule: C ∝ the candidate fraction the recall law tracks) — the
    * standard faiss serving arrangement (IVFPQ + refine). Candidate I/O
    * stays nProbe/nLists of the corpus; the exact pass touches only
    * |queries|·coarseC vectors fetched by id. */
  def ivfPqRerankTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, queries: DataFrame, k: Int, nProbe: Int,
      m: Int, ksub: Int, coarseC: Int, iters: Int = 3,
      fitFraction: Double = 1.0): DataFrame = {
    require(coarseC >= k, s"coarseC ($coarseC) must be >= k ($k)")
    val cand = ivfPqTopK(embeddings, idCol, vecCol, clusterCol, queries,
      coarseC, nProbe, m, ksub, iters, fitFraction).select("qid", "cid")
    exactRerankTopK(embeddings, idCol, vecCol, queries, cand, k)
  }

  /** Candidate pairs from SRP band keys: vectors sharing ≥1 band key,
    * with the shared-band count kept as a collision-strength signal.
    * The self-join shuffles on (band, band_key) — candidate volume is
    * Σ bucket² per band, never all-pairs. */
  def srpCandidatePairs(bandKeys: DataFrame, idCol: String): DataFrame = {
    val a = bandKeys.select(col(idCol).as("doc_a"), col("band"),
      col("band_key"))
    val b = bandKeys.select(col(idCol).as("doc_b"), col("band"),
      col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Global (blocker-free) cosine near-dup detection via SRP-LSH: band
    * collisions propose candidates, the native vec_cosine verifies each
    * exactly. Unlike [[cosineNearDupPairs]] this needs NO pre-existing
    * blocking column — the hyperplane buckets ARE the blocker, the
    * standard recipe when the corpus carries no label/cluster structure.
    * A bit agrees between two vectors with probability 1 − θ/π, so
    * high-cosine pairs collide in some band far above background; at
    * corpus scale, widen bandBits to shrink buckets (the knob trades
    * recall for candidate volume). */
  def srpNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, bandBits: Int, threshold: Double): DataFrame = {
    graft.functions.VectorCosine.register(embeddings.sparkSession)
    val keys = srpBandKeys(embeddings, idCol, vecCol, dim, nBits, bandBits)
    val pairs = srpCandidatePairs(keys, idCol)
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("e"))
    pairs
      .join(v.select(col("id").as("doc_a"), col("e").as("qe")), Seq("doc_a"))
      .join(v.select(col("id").as("doc_b"), col("e").as("ce")), Seq("doc_b"))
      .withColumn("cosine",
        floor(expr("vec_cosine(qe, ce)") * 1000000.0) / 1000000.0)
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"),
        col("n_shared_bands"))
  }

  /** SemDedup with SRP-LSH as the blocker: fully blocker-free semantic
    * dedup. [[semanticDedup]] needs a pre-existing cluster column and the
    * k-means variant's fixpoint defeats any SQL oracle — this composition
    * needs neither: hyperplane band collisions propose, exact cosine
    * verifies, connected components group, min-id keeps. Every stage is
    * SQL-restatable, so the whole blocker-free pipeline is oracle-gated
    * end to end. Output mirrors [[semanticDedup]]:
    * (idCol, component, cluster_size, is_kept). */
  /** Frozen SRP index for incremental (streaming) embedding dedup:
    * staged band keys + staged vectors of the already-accepted corpus,
    * built once and reused across micro-batches (the embedding-side
    * analog of [[Dedup.CorpusIndex]]). */
  final case class SrpIndex(bandKeys: DataFrame, vecs: DataFrame,
      dim: Int, nBits: Int, bandBits: Int, threshold: Double)

  def buildSrpIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, bandBits: Int, threshold: Double): SrpIndex =
    SrpIndex(
      srpBandKeys(embeddings, idCol, vecCol, dim, nBits, bandBits)
        .withColumnRenamed(idCol, "_idx_id").staged,
      embeddings.select(col(idCol).as("_idx_id"), col(vecCol).as("_idx_e"))
        .staged,
      dim, nBits, bandBits, threshold)

  /** Fold newly-ACCEPTED vectors into an existing index, so the next
    * micro-batch dedups against the frozen corpus AND batches 1..N−1 —
    * the vector-modality analog of [[Dedup.extendLineIndex]] (the SRP
    * refresh cadence a production ingest needs: without it, two near-dup
    * vectors arriving in different batches both pass the gate). Band
    * keys are recomputed map-only for the delta; both frames stage so
    * downstream batches reuse the exchange. The caller owns durability —
    * persist the delta per batch and rebuild on restart (the
    * st_srp_dedup_stream recipe: idempotent per-batch parquet dirs). */
  def extendSrpIndex(index: SrpIndex, accepted: DataFrame, idCol: String,
      vecCol: String): SrpIndex =
    SrpIndex(
      index.bandKeys.unionByName(
        srpBandKeys(accepted, idCol, vecCol, index.dim, index.nBits,
          index.bandBits).withColumnRenamed(idCol, "_idx_id")).staged,
      index.vecs.unionByName(
        accepted.select(col(idCol).as("_idx_id"), col(vecCol).as("_idx_e")))
        .staged,
      index.dim, index.nBits, index.bandBits, index.threshold)

  /** One micro-batch of the durable incremental SRP gate — the
    * st_srp_dedup_stream step, factored so IncrementalDedupStreamSpec
    * drives the SHIPPED recipe (not a spec-local copy): the effective
    * index is the frozen corpus extended with the persisted survivors of
    * every strictly-earlier batch. BOTH sinks are per-batch overwrite
    * dirs — survivors to `seenRoot/b<batchId>` AND emitted rows to
    * `out/b<batchId>` — so a replayed batch rewrites its own dirs and
    * never appends duplicates (ADVICE r13: the previous `out` append
    * made the emission side non-idempotent under at-least-once replay;
    * read `out` back with recursiveFileLookup). `kept` is persisted
    * across the two writes so the band-join + cosine verification runs
    * once per batch, not once per sink.
    *
    * LSM compaction (VERDICT r13 #4): once the effective index spans
    * `compactEvery` dirs, they fold into `base-<maxFoldedBatch>` and the
    * folded sources are garbage-collected, so the per-batch fixed cost
    * is O(compactEvery) dirs forever instead of growing with batch
    * count — the shared [[graft.ops.SeenDirs]] lifecycle
    * (st_line_dedup_stream rides the same helper), crash-safe by
    * newest-base-wins reads.
    *
    * Contract note (ADVICE r13): the gate is against the index + EARLIER
    * batches only — two near-dup vectors arriving in the SAME micro-batch
    * both pass, exactly as the SQL oracle states the rule (and as any
    * at-least-once gate must, to keep rows independent within a batch).
    * Callers that also want intra-batch dedup compose [[srpSemanticDedup]]
    * over the batch first. `project` shapes the rows written to `out`
    * (default: all columns). */
  def srpDedupStep(index: SrpIndex, seenRoot: String, out: String,
      batchId: Long, batch: DataFrame, idCol: String, vecCol: String,
      project: DataFrame => DataFrame = identity,
      compactEvery: Int = 8): Unit = {
    val spark = batch.sparkSession
    val effDirs = graft.ops.SeenDirs.effectiveDirs(spark, seenRoot, batchId,
      compactEvery)
    val eff =
      if (effDirs.isEmpty) index
      else extendSrpIndex(index, spark.read.parquet(effDirs: _*),
        idCol, vecCol)
    val kept = srpDedupAgainst(eff, batch, idCol, vecCol).persist()
    try {
      project(kept).write.mode("overwrite").parquet(s"$out/b$batchId")
      kept.select(col(idCol), col(vecCol))
        .write.mode("overwrite").parquet(s"$seenRoot/b$batchId")
    } finally {
      kept.unpersist(); ()
    }
  }

  /** Incremental embedding-dedup gate: drop batch rows with a verified
    * cosine near-dup in the frozen index, pass novel rows through with
    * every column intact. Per micro-batch the band keys are map-only and
    * the only joins are bounded by band collisions against the index —
    * the same work profile as one srpNearDupPairs round restricted to
    * (batch × index). Rows are independent given a frozen index, so
    * streamed micro-batches equal the one-shot batch run. */
  def srpDedupAgainst(index: SrpIndex, batch: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    graft.functions.VectorCosine.register(batch.sparkSession)
    val bk = srpBandKeys(batch, idCol, vecCol, index.dim, index.nBits,
      index.bandBits)
    val cand = bk.join(index.bandKeys, Seq("band", "band_key"))
      .select(col(idCol), col("_idx_id")).distinct()
    val v = batch.select(col(idCol), col(vecCol).as("_q_e"))
    val matched = cand.join(v, Seq(idCol))
      .join(index.vecs, Seq("_idx_id"))
      .filter(floor(expr("vec_cosine(_q_e, _idx_e)") * 1000000.0)
        / 1000000.0 >= index.threshold)
      .select(col(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  def srpSemanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, bandBits: Int, threshold: Double): DataFrame = {
    val edges = srpNearDupPairs(embeddings, idCol, vecCol, dim, nBits,
      bandBits, threshold).select("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(embeddings, idCol, edges)
    val sizes = comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, Seq("component"))
      .select(col("id").as(idCol), col("component"), col("cluster_size"),
        (col("id") === col("component")).as("is_kept"))
  }
}
