package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Extension operators: semantic sanity on small in-memory corpora (the
  * sf0.01 hash-parity against DuckDB is covered by Verify + the driver's
  * oracle gate; these pin behaviors a hash can't explain). */
class ExtSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", 43L),
    (2L, "the quick brown fox jumps over the lazy cat", 43L), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog", 43L), // exact dup of 1
    (4L, "completely different content about spark engines", 48L))
    .toDF("doc_id", "text", "n_chars")

  test("exact dedup groups identical texts, keeps min id") {
    val d = Dedup.exactDedup(docs, "text", "doc_id")
    assert(d.count() == 3)
    val dup = d.filter($"dup_count" === 2).select("keep_id").as[Long].head()
    assert(dup == 1L)
  }

  test("minhash+LSH surfaces the near-dup pair, jaccard confirms it") {
    val sig = Dedup.minhashSignatures(docs, "text", "doc_id")
    assert(sig.count() == 4)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L))) // exact dups always collide
    val jac = Dedup.jaccardPairs(docs, "text", "doc_id",
      substring(col("text"), 1, 20), 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(jac((1L, 3L)) == 1.0)
    assert(jac((1L, 2L)) == 0.7777) // 7/9 union, floor-truncated to 4 dp
  }

  test("fast minhash kernel: long signatures, dup-invariance, verified pairs stay sound") {
    val tok = Dedup.shingleTokens(docs, "text", "doc_id", 3)
    val sig = Dedup.minhashFromTokensFast(tok, k = 8)
    assert(sig.count() == 4)
    // the narrow production frame: 8-byte LONG signature columns, not hex
    assert((0 until 8).forall(i => sig.schema(s"h$i").dataType ==
      org.apache.spark.sql.types.LongType))
    val rows = sig.collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(rows(1L) == rows(3L), "exact dups must share the signature")
    assert(rows(1L) != rows(4L), "distinct content must diverge")
    // end-to-end soundness: exact dups always collide in some band and
    // verify at 1.0; every emitted pair is exact-Jaccard-verified, so the
    // fast pair set is a subset of the true >= 0.5 pairs. (Whether the
    // BORDERLINE (1,2)/(2,3) near-dups collide is a per-kernel coin flip
    // by LSH design, so the test pins the sound envelope, not equality.)
    val fastPairs = Dedup.lshVerifiedPairs(docs, "text", "doc_id", fast = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(fastPairs.contains((1L, 3L)))
    assert(fastPairs.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
  }

  test("lshVerifiedPairs shingles the corpus exactly once (single materialized scan)") {
    val vp = Dedup.lshVerifiedPairs(docs, "text", "doc_id")
    val plan = vp.queryExecution.optimizedPlan
    // the shingle explode must NOT remain in the lazy plan — it ran once,
    // into the checkpointed token frame, when the frame was built
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(gens.forall(g => !g.generator.toString.contains("slice")),
      gens.mkString("\n"))
    // every leaf reads the SAME materialized RDD (signatures, sizes, and
    // both intersection sides): one shingle scan total, nothing re-reads
    // the raw corpus
    val leaves = plan.collectLeaves()
    val rddIds = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }
    assert(rddIds.nonEmpty && rddIds.toSet.size == 1, s"leaf RDD ids: $rddIds")
    assert(rddIds.size == leaves.size,
      "non-checkpoint leaves: " + leaves.filterNot(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
    // semantics unchanged: the exact-dup pair verifies at jaccard 1.0
    val m = vp.select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 3L)) == 1.0)
    // the single-scan composition must be ROW-IDENTICAL to composing the
    // stages separately (the refactor's invariant), on a corpus with
    // repeated shingles, near-dups, and disjoint docs
    val gen = (1 to 60).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * (i % 5 + 1)) % 23}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val composed = Dedup.jaccardOnPairs(gen, "text", "doc_id",
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(gen, "text", "doc_id", k = 8),
        "doc_id", k = 8, bands = 2),
      threshold = 0.3, ngram = 3)
    val single = Dedup.lshVerifiedPairs(gen, "text", "doc_id",
      k = 8, bands = 2, threshold = 0.3, ngram = 3)
    assert(single.collect().toSet == composed.collect().toSet)
    assert(single.count() > 0) // non-vacuous
  }

  test("minhashEstimate: exact dups estimate 1.0, estimate bounds hold") {
    val sig = Dedup.minhashSignatures(docs, "text", "doc_id", k = 8)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", k = 8, bands = 2)
    val est = Dedup.minhashEstimate(sig, pairs, "doc_id", k = 8)
      .select("doc_a", "doc_b", "n_match", "est_jaccard")
      .as[(Long, Long, Long, Double)].collect()
    val m = est.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // exact duplicates agree at every signature position
    assert(m((1L, 3L)) == (8L, 1.0))
    // LSH candidates share at least one band key = all 4 positions of
    // that band agree, so n_match >= 4 under the 2-band/4-row scheme
    est.foreach { case (_, _, n, e) =>
      assert(n >= 4 && n <= 8 && e == n / 8.0, s"n=$n e=$e")
    }
  }

  test("simhash: identical docs equal, near-dups close, distinct docs far") {
    val sh = Dedup.simhash(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 6)
    assert(hamming(sh(1L), sh(4L)) >= hamming(sh(1L), sh(2L)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.9f, 0.1f), 1),
    (4L, Array(0.0f, 0.0f, 1.0f), 2))
    .toDF("vec_id", "embedding", "label")

  test("domainKl: exact arithmetic, equal domains score equal, divergence positive") {
    // d1 and d2 share one word distribution (must score identically);
    // d3 is z-heavy, pulling the pooled corpus away from all three
    val d = Seq(
      ("d1", "a a b c"), ("d2", "a a b c"),
      ("d3", "z z z z z z z a"))
      .toDF("src", "text")
    val kl = TextAnalysis.domainKl(d, "text", col("src"))
      .select("domain", "kl").as[(String, Double)].collect().toMap
    val all = Seq.fill(2)(Seq("a", "a", "b", "c")).flatten ++
      Seq("z", "z", "z", "z", "z", "z", "z", "a")
    val cw = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // mirror the impl's arithmetic exactly: ln of ONE division of exact
    // integer products, truncated, weighted by exact counts
    def expKl(words: Seq[String]): Double = {
      val nD = words.size.toLong
      val s = words.groupBy(identity).map { case (w, ws) =>
        val cDw = ws.size.toLong
        cDw * (math.floor(math.log(
          (cDw * all.size).toDouble / (nD * cw(w))) * 10000) / 10000)
      }.sum
      math.floor(s / nD * 10000) / 10000
    }
    assert(kl("d1") == expKl(Seq("a", "a", "b", "c")))
    assert(kl("d1") == kl("d2"))
    assert(kl("d3") == expKl(Seq("z", "z", "z", "z", "z", "z", "z", "a")))
    // every domain differs from the z-heavy pooled corpus → positive KL
    assert(kl("d1") > 0.0 && kl("d3") > 0.0)
  }

  test("leakage-safe split: every near-dup cluster lands in exactly one split") {
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(docs, "text", "doc_id", k = 8),
      "doc_id", k = 8, bands = 2)
    val comp = Dedup.connectedComponents(docs, "doc_id", pairs)
      .select($"id".as("doc_id"), $"component")
    val split = Sampling.assignSplits(comp, "component",
      head = Seq("val" -> 0.25, "test" -> 0.25), rest = "train")
    // the invariant: one distinct split per component
    val perComp = split.groupBy("component")
      .agg(countDistinct($"split").as("n"))
      .select("n").as[Long].collect()
    assert(perComp.nonEmpty && perComp.forall(_ == 1L))
    // docs 1 and 3 are exact dups → same component → same split by
    // construction; membership itself is content-addressed on the label
    val m = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(m(1L) == m(3L))
  }

  test("simhashNeardupPairs: banding finds exactly the brute-force hamming set") {
    // exact dups are hamming 0
    val p = Dedup.simhashNeardupPairs(docs, "text", "doc_id", 16, maxHam = 1)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(p.contains((1L, 3L, 0L)))
    // Manku pigeonhole completeness: on a generated corpus, the banded
    // join returns THE SAME pair set as an all-pairs hamming filter
    val gen = (1 to 60).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * (i % 5 + 1)) % 23}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashNeardupPairs(gen, "text", "doc_id", 16, maxHam = 1)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val sh = Dedup.simhash(gen, "text", "doc_id", 16)
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 1
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute && brute.nonEmpty)
  }

  test("clonePairs: exact dups pair, boilerplate above the df cap is ignored") {
    // docs 1 and 3 are identical → share every fingerprint
    val p = TextAnalysis.clonePairs(docs, "text", "doc_id",
        maxDf = 20L, minShared = 2L)
      .select("doc_a", "doc_b", "n_shared")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val nFps = TextAnalysis.winnowFingerprints(
      docs.filter($"doc_id" === 1), "text", "doc_id").count()
    assert(p((1L, 3L)) == nFps)
    assert(p.contains((1L, 2L))) // near-dup shares most of the prefix
    // the MOSS df cap: a sentence shared by 3 docs has df 3 > maxDf 2 →
    // all its fingerprints drop and no pair survives
    val boiler = Seq(1L, 2L, 3L)
      .map(i => (i, "this exact boilerplate disclaimer appears everywhere"))
      .toDF("doc_id", "text")
    val none = TextAnalysis.clonePairs(boiler, "text", "doc_id",
      maxDf = 2L, minShared = 1L)
    assert(none.count() == 0)
  }

  test("labelCentroids: fixed-point exact means, deterministic under reorder") {
    val c = Similarity.labelCentroids(vecs, "label", "embedding")
      .select("label", "dim", "n_vecs", "centroid")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // label 0 = vecs (1,0,0) and (0.9f,0.1f,0): quantized floor(v*1e6)
    // sums are 1000000+899999 and 0+100000 (0.9f widens to 0.8999999761…)
    assert(c((0L, 0L)) == (2L, 0.9499))
    assert(c((0L, 1L)) == (2L, 0.05))
    assert(c((0L, 2L)) == (2L, 0.0))
    assert(c((2L, 2L)) == (1L, 1.0))
    // order-independence: reversing the input rows changes nothing
    val rev = Similarity.labelCentroids(
      vecs.orderBy(col("vec_id").desc).repartition(3), "label", "embedding")
      .select("label", "dim", "n_vecs", "centroid")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(rev == c)
  }

  test("brute-force cosine top-k ranks the aligned vector first") {
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      vecs.filter($"vec_id" === 0), k = 2)
      .select("cid", "rank").as[(Long, Int)].collect().toMap
    assert(top(1L) == 1) // 0.9-aligned vector ranks first
  }

  test("IVF probes 2 clusters and finds the same top-1 as brute force") {
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", "label",
      vecs.filter($"vec_id" === 0), k = 2, nProbe = 2)
      .select("cid", "rank").as[(Long, Int)].collect().toMap
    assert(ivf(1L) == 1)
    // cluster 2 (z-axis) is never probed for an x-axis query
    assert(!ivf.contains(4L))
  }

  test("IVF recall vs brute force is quantified on real embeddings") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 16)
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter($"rank" === 1).select("qid", "cid").as[(Long, Long)].collect().toMap
    val brute = top1(Similarity.cosineTopK(e, "vec_id", "embedding", q, 1))
    def recallAt(nProbe: Int): Double = {
      val ivf = top1(Similarity.ivfTopK(e, "vec_id", "embedding", "label", q, 1, nProbe))
      brute.count { case (k, v) => ivf.get(k).contains(v) } / brute.size.toDouble
    }
    // probing ALL 10 clusters must recover brute force exactly — the
    // IVF machinery itself (centroids, probe ranking, per-cluster scan)
    // is correct iff this is 1.0
    assert(recallAt(10) == 1.0)
    // the synthetic labels are random (no cluster structure), so partial
    // probes degrade toward nProbe/nLists chance — that degradation is a
    // property of the DATA; assert only it isn't worse than chance.
    // On real clustered embeddings (k-means at ingest) recall@2 is high.
    assert(recallAt(2) >= 0.1)
  }

  test("SQ8 quantized ranking: high recall vs float brute force on real embeddings") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.cosineTopK(e, "vec_id", "embedding", q, 5))
    val sq8 = pairs(Similarity.cosineTopKSq8(e, "vec_id", "embedding", q, 5))
    // int8 codes carry ~7 significant bits per dim: on real embeddings
    // the top-5 set should survive quantization nearly intact
    val recall = brute.intersect(sq8).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall@5 of SQ8 vs float = $recall")
    // quantization invariants: codes live in [-127, 127] and the max-|x|
    // dimension maps to ±127 exactly
    val codes = Similarity.quantizeSq8(e, "embedding")
      .select(expr("array_max(transform(q, x -> abs(x)))").cast("int"))
      .as[Int].collect()
    assert(codes.forall(m => m == 127),
      s"per-vector max |code| must be exactly 127, got ${codes.distinct.toSeq.take(5)}")
  }

  test("PQ-ADC ranking: recall vs brute force on real embeddings, codes valid") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 16)
    val truth = Similarity.cosineTopK(e, "vec_id", "embedding", q, 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    // the synthetic embeddings are near-random — PQ's WORST case (no
    // subspace structure to exploit), so absolute recall is modest by
    // nature of the DATA. Assert the properties that prove the MACHINERY:
    // recall far above chance (random top-5 ≈ 1%) and rising
    // monotonically as quantization gets finer (the PQ theory curve —
    // an indexing bug would flatten it at chance level). Measured here:
    // m=8 → ~0.26, m=32 → ~0.61; on real clustered embeddings the same
    // code books land far higher.
    def recallAt(m: Int): Double = {
      val got = Similarity.pqTopK(e, "vec_id", "embedding", q, k = 5,
        m = m, ksub = 16, iters = 3)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val coarse = recallAt(8); val fine = recallAt(32)
    assert(coarse >= 0.15, s"recall@5 m=8 = $coarse")
    assert(fine >= 0.45, s"recall@5 m=32 = $fine")
    assert(fine > coarse, s"finer quantization must not lose recall: $coarse -> $fine")
    // every query still gets a full k (NaN LUT slots are unreachable)
    val pq = Similarity.pqTopK(e, "vec_id", "embedding", q, k = 5,
      m = 16, ksub = 16, iters = 3)
    val perQ = pq.groupBy("qid").count().select("count").as[Long].collect()
    assert(perQ.nonEmpty && perQ.forall(_ == 5L))
    // the codebook itself: every cell within range, every centroid dsub-long
    val book = Similarity.pqCodebook(e, "vec_id", "embedding", m = 8, ksub = 16)
      .collect()
    assert(book.nonEmpty)
    assert(book.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8 * 16))
    assert(book.forall(r => r.getSeq[Double](1).size == 8)) // 64 / 8
    // training is deterministic: same codebook at any parallelism
    val again = Similarity.pqCodebook(e.repartition(13), "vec_id", "embedding",
      m = 8, ksub = 16).collect()
    assert(book.map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap ==
      again.map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap)
  }

  test("IVF-PQ: full probe equals pure PQ; partial probe prunes unprobed cells") {
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 16)
    // probing EVERY label cell makes the candidate set identical to pure
    // PQ, and the scoring path is the same ADC model → results must be
    // row-for-row equal (the composition adds pruning, nothing else)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val full = rows(Similarity.ivfPqTopK(e, "vec_id", "embedding", "label",
      q, k = 5, nProbe = 10, m = 16, ksub = 16))
    val pure = rows(Similarity.pqTopK(e, "vec_id", "embedding", q, k = 5,
      m = 16, ksub = 16))
    assert(full == pure)
    // partial probe: still a full k per query, all candidates from
    // probed cells only
    val part = Similarity.ivfPqTopK(e, "vec_id", "embedding", "label",
      q, k = 5, nProbe = 2, m = 16, ksub = 16)
    val perQ = part.groupBy("qid").count().select("count").as[Long].collect()
    assert(perQ.nonEmpty && perQ.forall(_ == 5L))
  }

  test("ivfPqRerankTopK: full probe + corpus-wide coarseC equals brute force") {
    // when every cell is probed and coarseC covers the whole corpus, the
    // candidate set is ALL vectors and the exact re-rank stage makes the
    // ADC stage irrelevant — the composition must reproduce brute force
    // row for row, whatever the codebook learned
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val rerank = rows(Similarity.ivfPqRerankTopK(e, "vec_id", "embedding",
      "label", q, k = 5, nProbe = 10, m = 16, ksub = 16, coarseC = 100000))
    val brute = rows(Similarity.cosineTopK(e, "vec_id", "embedding", q, k = 5))
    assert(rerank == brute)
  }

  test("ivfPqRerankTopK: per-query recall dominates plain IVF-PQ at same params") {
    // theorem, not tuning: a true top-5 neighbor among the top-C ADC
    // candidates is beaten by at most 4 vectors globally on exact cosine,
    // so the exact re-rank must emit it; plain IVF-PQ's hits are neighbors
    // inside the ADC top-5 ⊆ top-C, hence hits(rerank) ⊇ hits(ivfpq)
    // per query — assert the containment on the real table
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 8)
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", q, k = 5)
      .select("qid", "cid")
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      exact.join(df.select("qid", "cid"), Seq("qid", "cid"), "left_semi")
        .groupBy("qid").count()
        .as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    val plain = hits(Similarity.ivfPqTopK(e, "vec_id", "embedding", "label",
      q, k = 5, nProbe = 2, m = 16, ksub = 16))
    val rerank = hits(Similarity.ivfPqRerankTopK(e, "vec_id", "embedding",
      "label", q, k = 5, nProbe = 2, m = 16, ksub = 16, coarseC = 20))
    val qids = e.filter($"vec_id" < 8).select($"vec_id").as[Long].collect()
    assert(qids.nonEmpty)
    for (qid <- qids) assert(rerank(qid) >= plain(qid),
      s"query $qid: rerank hits ${rerank(qid)} < plain ADC hits ${plain(qid)}")
  }

  test("IVF-PQ on the axis fixture: memorizing codebook exact, unprobed cell absent") {
    val res = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", "label",
        vecs.filter($"vec_id" === 0), k = 2, nProbe = 2, m = 3, ksub = 4, iters = 4)
      .select("cid", "rank").as[(Long, Int)].collect().toMap
    assert(res(1L) == 1) // 0.9-aligned vector first, like brute force
    // the z-axis cell (label 2) is never probed for an x-axis query
    assert(!res.contains(4L))
  }

  test("PQ-ADC is near-exact when the codebook can memorize the corpus") {
    // 3-dim axis-aligned fixture, m=3 (one dim per subspace), ksub=4 on
    // 5 vectors: every distinct subvector value gets its own cell, so
    // ADC ranking must reproduce the brute-force top-1 exactly
    val top = Similarity.pqTopK(vecs, "vec_id", "embedding",
        vecs.filter($"vec_id" === 0), k = 2, m = 3, ksub = 4, iters = 4)
      .select("cid", "rank").as[(Long, Int)].collect().toMap
    assert(top(1L) == 1) // the 0.9-aligned vector ranks first, like cosineTopK
  }

  test("k-means IVF over the clustered layout: recall ≥ 0.6, scan pruned") {
    // the x_ann_ivf_kmeans gate path end to end on real embeddings:
    // quantize → clustered layout → probe. Random labels give ~nProbe/k
    // chance recall (~0.25); a working quantizer must clear 0.6.
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cells = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 3)
      .withColumnRenamed("id", "vec_id")
    val dir = tmpDir() + "/kmeans_layout"
    Similarity.writeClustered(e.join(cells, Seq("vec_id")), "cluster", dir)
    val layout = spark.read.parquet(dir)
    val q = layout.filter($"vec_id" < 16)
    val ivf = Similarity.ivfTopK(layout, "vec_id", "embedding", "cluster",
      q, k = 5, nProbe = 2)
    val truth = Similarity.cosineTopK(e, "vec_id", "embedding",
        e.filter($"vec_id" < 16), k = 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val got = ivf.select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.6, s"recall@5 vs brute force = $recall")
    // the candidate scan must prune cells physically: ivfTopK's static
    // probe materialization plants an IN over the partition column, which
    // planning turns into a non-empty PartitionFilters on the parquet scan
    // (the AQE wrapper hides scan NODES from collect, so assert on the
    // rendered plan)
    val planStr = ivf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(planStr).isDefined,
      s"no partition filter on the probed scan:\n$planStr")
  }

  test("text analysis: lang-id flags stopword-rich docs, quality in [0,1]") {
    val q = TextAnalysis.qualityScore(
      TextAnalysis.tokenCounts(docs, "text"), "text", "n_chars")
    val byId = q.select("doc_id", "lang_pred", "quality")
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1L)._1 == "en")  // "the" twice in 9 tokens ≥ 5%
    assert(byId(4L)._1 == "und") // no stopwords
    assert(byId.values.forall(v => v._2 >= 0.0 && v._2 <= 1.0))
  }

  test("decontamination flags docs sharing a long run with the benchmark, only those") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely unrelated content with different words entirely here"),
      (3L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"))
      .toDF("doc_id", "text")
    // benchmark = doc 1; doc 3 contains doc 1's text verbatim (≥19-char
    // shared run) → flagged; doc 2 shares nothing → absent; the benchmark
    // doc itself is not self-flagged
    val bench = corpus.filter($"doc_id" === 1)
    val out = TextAnalysis.contamination(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out.contains(3L) && out(3L) >= 1L)
    assert(!out.contains(2L))
    assert(!out.contains(1L))
  }

  test("bloom decontamination is bit-identical to the exact join, at any fpp") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely unrelated content with different words entirely here"),
      (3L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"),
      (7L, "another benchmark holdout sentence with its own distinct words"),
      (14L, "another benchmark holdout sentence with its own distinct words twice"))
      .toDF("doc_id", "text")
    val isBench = $"doc_id" % 7 === 0
    val exact = TextAnalysis.contaminationWithin(corpus, "text", "doc_id", isBench)
      .orderBy("doc_id").collect().toSeq
    // a sloppy 40% fpp filter lets most non-matches through; the exact
    // join behind the probe must still strip every false positive
    for (fpp <- Seq(0.01, 0.4)) {
      val bloom = TextAnalysis.contaminationWithinBloom(
          corpus, "text", "doc_id", isBench, fpp = fpp)
        .orderBy("doc_id").collect().toSeq
      assert(bloom == exact, s"fpp=$fpp")
    }
    // fixture sanity: benchmarks are 7 AND 14 (14 % 7 = 0); each contains
    // the other's ≥19-char run, so both are cross-flagged and the
    // equality above compares non-trivial frames (1/3 share a run too,
    // but neither is a benchmark → correctly absent)
    assert(exact.map(_.getLong(0)).toSet == Set(7L, 14L))
  }

  test("bloom decontamination with an empty benchmark returns no rows") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely unrelated content with different words entirely here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contaminationWithinBloom(
      corpus, "text", "doc_id", isBench = lit(false))
    assert(out.collect().isEmpty)
  }

  test("repetition signals: spam scores high, varied text scores low, edges safe") {
    val df = Seq(
      (1L, "buy now buy now buy now buy now"),       // 4x repeated 2-gram run
      (2L, "the quick brown fox jumps over dogs"),   // all distinct
      (3L, "solo"),                                  // < 2 tokens: no 2-grams
      (4L, ""))                                      // empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "text")
      .select("doc_id", "rep_distinct_ratio", "dup_2gram_frac", "is_repetitive")
      .as[(Long, Double, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    // 8 tokens, 2 distinct → 0.25; 7 2-grams, 2 distinct → 1 - 2/7 = 0.7142
    assert(out(1L) == ((1L, 0.25, 0.7142, true)))
    assert(out(2L) == ((2L, 1.0, 0.0, false)))
    assert(out(3L) == ((3L, 1.0, 0.0, false)))
    assert(out(4L)._3 == 0.0 && !out(4L)._4)
  }

  test("PII scrub redacts email/phone/IP with exact counts, leaves clean text") {
    val df = Seq(
      (1L, "mail me at bob.smith+x@corp.example.org today"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "server 192.168.0.1 is up"),
      (4L, "nothing sensitive here at all"),
      (5L, "or John.Doe@Example.COM works"))  // real-world casing
      .toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(df, "text")
      .select("doc_id", "n_email", "n_phone", "n_ipv4", "scrubbed")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 0L, 0L, "mail me at <pii:email> today")))
    assert(out(2L) == ((2L, 0L, 2L, 0L, "call <pii:phone> or <pii:phone> now")))
    assert(out(3L) == ((3L, 0L, 0L, 1L, "server <pii:ipv4> is up")))
    assert(out(4L) == ((4L, 0L, 0L, 0L, "nothing sensitive here at all")))
    assert(out(5L) == ((5L, 1L, 0L, 0L, "or <pii:email> works")))
  }

  test("fingerprint: whitespace-insensitive md5; winnow shared for shared runs") {
    val fp = TextAnalysis.fingerprint(
      Seq((1L, "a  b   c"), (2L, "a b c")).toDF("doc_id", "text"), "text")
      .select("doc_id", "fp_md5").as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
  }

  test("connected components: chains collapse transitively, singletons stay") {
    // pairs (1,2),(2,3) must collapse to {1,2,3} though (1,3) never emitted;
    // a second cluster {10,11}; 99 has no pair — its own component
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connected components: a long path needs diameter rounds and converges") {
    // path 1-2-...-16: min label must walk the whole chain.
    // driverEdgeLimit = 0 forces the DISTRIBUTED propagation path (the
    // default would take the driver union-find shortcut on a graph this
    // small) — 15 rounds is the lineage-growth canary
    val n = 16L
    val nodes = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(nodes, "doc_id", pairs,
        driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L))
    // both paths agree
    assert(Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap == cc)
    // a pathological diameter past the round cap fails loudly, not spins
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "doc_id", pairs, maxRounds = 3,
        driverEdgeLimit = 0L).count()
    }
  }

  test("stratified sample is deterministic and membership is content-addressed") {
    val docsDf = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "und"))
      .toDF("doc_id", "lang")
    def run() = Sampling.stratifiedSample(docsDf, "doc_id", col("lang"),
      Map("en" -> "80"), "40").select("doc_id").as[Long].collect().toSet
    val s1 = run()
    assert(s1 == run()) // same subset every run
    // uniform md5 → roughly 50% of en (200), 25% of und (200)
    val en = s1.count(_ % 2 == 0); val und = s1.size - en
    assert(en > 60 && en < 140, s"en=$en")
    assert(und > 20 && und < 80, s"und=$und")
    // membership is a pure function of the id
    assert(s1.forall(id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).take(1).head.toInt.&(0xff) <
        (if (id % 2 == 0) 0x80 else 0x40)))
  }

  test("domain mix keeps the binding domain whole and downsamples the rest") {
    // A is 6x over-represented for a 50/50 target; C is unlisted (weight 0)
    val df = ((0 until 600).map(i => (i.toLong, "A")) ++
      (600 until 700).map(i => (i.toLong, "B")) ++
      (700 until 720).map(i => (i.toLong, "C")))
      .toDF("doc_id", "domain")
    val kept = Sampling.domainMix(df, "doc_id", col("domain"),
      weights = Map("A" -> 0.5, "B" -> 0.5))
    val byDomain = kept.groupBy("domain")
      .agg(count(lit(1)).as("n"), first("cutoff").as("cut"))
      .as[(String, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // binding domain: scale = min(600/0.5, 100/0.5) = 200 → B keeps ALL
    assert(byDomain("B") == ((100L, 256)))
    // A keeps 1/6 → cutoff floor(256/6) = 42; membership content-addressed
    assert(byDomain("A")._2 == 42)
    val expectA = df.filter($"domain" === "A")
      .filter(substring(md5($"doc_id".cast("string")), 1, 2) < lit("2a"))
      .count()
    assert(byDomain("A")._1 == expectA && expectA > 0 && expectA < 600)
    assert(!byDomain.contains("C")) // zero-weight domains dropped entirely
    // partition-layout independence: same subset at any parallelism
    val again = Sampling.domainMix(df.repartition(13), "doc_id",
      col("domain"), weights = Map("A" -> 0.5, "B" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
    intercept[IllegalArgumentException] {
      Sampling.domainMix(df, "doc_id", col("domain"), weights = Map("A" -> 0.0))
    }
  }

  test("temperature mix: alpha=1 is identity, alpha=0.5 binds the smallest domain") {
    val df = ((0 until 900).map(i => (i.toLong, "A")) ++
      (900 until 1000).map(i => (i.toLong, "B")))
      .toDF("doc_id", "domain")
    // α = 1: w = cnt, cnt/w = 1 for every domain → all bind, keep all
    val identity = Sampling.temperatureMix(df, "doc_id", col("domain"), alpha = 1.0)
    assert(identity.count() == 1000)
    assert(identity.select("cutoff").distinct().as[Int].collect().toSeq == Seq(256))
    // α = 0.5: w = √cnt, scale = min(√900, √100) = 10 → B (smallest)
    // binds whole; A keeps √100·√900/900 = 1/3 → cutoff floor(256/3) = 85
    val flat = Sampling.temperatureMix(df, "doc_id", col("domain"), alpha = 0.5)
    val byDomain = flat.groupBy("domain")
      .agg(count(lit(1)).as("n"), first("cutoff").as("cut"))
      .as[(String, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byDomain("B") == ((100L, 256)))
    assert(byDomain("A")._2 == 85)
    assert(byDomain("A")._1 > 0 && byDomain("A")._1 < 900)
    // membership stays content-addressed: same subset at any parallelism
    val again = Sampling.temperatureMix(df.repartition(13), "doc_id",
      col("domain"), alpha = 0.5).select("doc_id").as[Long].collect().toSet
    assert(again == flat.select("doc_id").as[Long].collect().toSet)
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(df, "doc_id", col("domain"), alpha = 0.0)
    }
  }

  test("split assignment: disjoint+exhaustive, fractions respected, layout-stable") {
    val df = (0 until 20000).map(i => Tuple1(i.toLong)).toDF("doc_id")
    val out = Sampling.assignSplits(df, "doc_id",
        head = Seq("val" -> 0.01, "test" -> 0.01), rest = "train")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    // every row gets exactly one label
    assert(out.values.sum == 20000L)
    assert(out.keySet == Set("val", "test", "train"))
    // md5 is uniform: each 1% slice lands near 200 of 20000
    assert(out("val") > 100 && out("val") < 300, out.toString)
    assert(out("test") > 100 && out("test") < 300, out.toString)
    // membership is content-addressed: identical at any layout
    val a = Sampling.assignSplits(df, "doc_id",
      Seq("val" -> 0.01, "test" -> 0.01), "train")
      .as[(Long, String)].collect().toMap
    val b = Sampling.assignSplits(df.repartition(17), "doc_id",
      Seq("val" -> 0.01, "test" -> 0.01), "train")
      .as[(Long, String)].collect().toMap
    assert(a == b)
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(df, "doc_id", Seq("a" -> 0.6, "b" -> 0.5), "c")
    }
  }

  test("curriculum order: dense global rank, contiguous near-equal shards, rerun-stable") {
    val df = (1 to 100).map(i => (i.toLong, (101 - i).toLong)) // reverse order
      .toDF("doc_id", "len")
    val out = Sharding.curriculumOrder(df, "doc_id", "len", nShards = 4)
      .select("doc_id", "global_rank", "shard")
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    // dense 1..n rank following the metric (reverse of doc_id here)
    assert(out.map(_._2).toSeq == (1L to 100L))
    assert(out.head._1 == 100L && out.last._1 == 1L)
    // shards are contiguous rank ranges of equal size
    assert(out.map(_._3).toSeq == (0 until 4).flatMap(s => Seq.fill(25)(s.toLong)))
    // partition-layout independence
    val again = Sharding.curriculumOrder(df.repartition(13), "doc_id", "len", 4)
      .select("doc_id", "global_rank", "shard")
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(again.toSeq == out.toSeq)
  }

  test("disc percentiles select real corpus values at exact ranks") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("n_chars", "ws_tokens")
    val pdf = Profiling.discPercentiles(df, Seq("n_chars", "ws_tokens"),
      Seq(0.5, 0.9, 0.99))
    // scale shape: no partition-less (single-task) window anywhere in the
    // lazy plan (the prefix-sum windows themselves are materialized behind
    // discPercentiles' checkpoint; the packing test asserts their
    // partitioned shape in-plan)
    val windows = pdf.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "global (no-partition) window in:\n" + windows.mkString("\n"))
    val p = pdf.filter($"metric" === "n_chars")
      .select("q", "value").as[(Double, Long)].collect().toMap
    assert(p == Map(0.5 -> 50L, 0.9 -> 90L, 0.99 -> 99L))
    // both metrics answered from the one pass
    assert(pdf.select("metric").distinct().count() == 2)
  }

  test("concat-and-chunk packing: exact offsets, contiguous packs, no global window") {
    // token counts 300, 300, 300, 100, 600 with budget 512:
    // offsets 0, 300, 600, 900, 1000 → packs 0, 0, 1, 1, 1
    val df = Seq((1L, 300L), (2L, 300L), (3L, 300L), (4L, 100L), (5L, 600L))
      .toDF("doc_id", "ws_tokens")
    val packs = Packing.concatChunkPacks(df, "doc_id", "ws_tokens", budget = 512)
    val rows = packs.orderBy("doc_id")
      .select("doc_id", "start_offset", "pack_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 0L, 0L), (2L, 300L, 0L), (3L, 600L, 1L),
      (4L, 900L, 1L), (5L, 1000L, 1L)))
    // offsets are a valid exclusive prefix sum: doc i+1 starts where doc
    // i ends — the invariant the distributed two-phase computation must
    // preserve across any partitioning (checked again on a bigger frame
    // that actually spans partitions)
    val big = (1L to 5000L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "ws_tokens")
    val bigPacks = Packing.concatChunkPacks(big, "doc_id", "ws_tokens", 1000)
      .orderBy("doc_id").select("start_offset", "n_tokens")
      .as[(Long, Long)].collect()
    bigPacks.sliding(2).foreach { case Array((s1, n1), (s2, _)) =>
      assert(s2 == s1 + n1)
    }
    // scale shape: the prefix sum must never run a partition-less window
    val windows = packs.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      windows.mkString("\n"))
    // pack stats roll up to the corpus totals
    val stats = Packing.packStats(packs, 512)
    assert(stats.agg(sum("tokens")).as[Long].head() == 1600L)
  }

  test("sliding chunks: coverage, overlap, and edge cases") {
    // 10 tokens of one letter each; window 4, stride 2
    val d = Seq(
      (1L, (1 to 10).map(_ => "a").mkString(" ")), // 10 tok → 4 chunks
      (2L, "a b c"),                               // shorter than window → 1
      (3L, ""))                                    // empty → 1 zero-len chunk
      .toDF("doc_id", "text")
    val c = Packing.slidingChunks(d, "text", "doc_id", window = 4, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "start_tok", "len_tok")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(c == Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 2L, 4L), (1L, 2L, 4L, 4L), (1L, 3L, 6L, 4L),
      (2L, 0L, 0L, 3L),
      (3L, 0L, 0L, 0L)))
    // interior chunks are always full and consecutive chunks overlap by
    // window - stride; the last chunk reaches the document end
    val byDoc = c.groupBy(_._1)
    byDoc.foreach { case (_, ch) =>
      val n = ch.map(r => r._3 + r._4).max
      assert(ch.last._3 + ch.last._4 == n)
    }
    // map-only: no exchange in the physical plan
    val plan = Packing.slidingChunks(d, "text", "doc_id", 4, 2)
      .queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty)
  }

  test("length buckets: power-of-two assignment and exact waste accounting") {
    val d = Seq.fill(3)((1 to 20).map(_ => "w").mkString(" ")) ++ // 20 tok → 32
      Seq((1 to 16).map(_ => "w").mkString(" "),                  // 16 → 16
          (1 to 33).map(_ => "w").mkString(" "),                  // 33 → 64
          "w")                                                    // 1 → 16
    val df = d.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val b = Packing.lengthBuckets(df, "text", minBucket = 16L)
      .orderBy("bucket")
      .select("bucket", "n_docs", "tokens", "padded", "waste_frac")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(b == Seq(
      (16L, 2L, 17L, 32L, math.floor((1.0 - 17.0 / 32) * 10000) / 10000),
      (32L, 3L, 60L, 96L, 0.375),
      (64L, 1L, 33L, 64L, math.floor((1.0 - 33.0 / 64) * 10000) / 10000)))
  }

  test("shelf packs: bucket capacities, rank order, and oversize singletons") {
    def doc(id: Long, n: Int) = (id, (1 to n).map(_ => "w").mkString(" "))
    // budget 64: cap(16)=4, cap(32)=2, cap(128)=clamped 1 (oversize)
    val df = Seq(doc(1, 10), doc(2, 12), doc(3, 14), doc(4, 16), doc(5, 3),
      doc(6, 17), doc(7, 30), doc(8, 20), doc(9, 100)).toDF("doc_id", "text")
    val p = Packing.shelfPacks(df, "text", "doc_id", budget = 64L)
      .orderBy("doc_id")
      .select("doc_id", "n_tok", "bucket", "shelf_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(p == Seq(
      (1L, 10L, 16L, 0L), (2L, 12L, 16L, 0L), (3L, 14L, 16L, 0L),
      (4L, 16L, 16L, 0L), (5L, 3L, 16L, 1L),  // 5th bucket-16 doc: new shelf
      (6L, 17L, 32L, 0L), (7L, 30L, 32L, 0L),
      (8L, 20L, 32L, 1L),                     // 3rd bucket-32 doc: cap 2
      (9L, 100L, 128L, 0L)))                  // oversize: singleton pack
    // invariants on a partition-spanning frame: every (bucket, shelf)
    // holds at most max(1, budget div bucket) docs, shelves below the
    // last are exactly full, and every member fits its bucket
    val big = (1L to 3000L).map(i => (i, ((i * 131) % 97 + 1).toInt))
      .map { case (i, n) => doc(i, n) }.toDF("doc_id", "text")
    val bp = Packing.shelfPacks(big, "text", "doc_id", budget = 256L)
    val byPack = bp.groupBy("bucket", "shelf_id")
      .agg(count(lit(1)).as("n"), max("n_tok").as("mx"))
      .as[(Long, Long, Long, Long)].collect()
    byPack.foreach { case (bucket, _, n, mx) =>
      assert(n <= math.max(1L, 256L / bucket) && mx <= bucket)
    }
    byPack.groupBy(_._1).foreach { case (bucket, shelves) =>
      val cap = math.max(1L, 256L / bucket)
      val lastShelf = shelves.map(_._2).max
      shelves.filter(_._2 < lastShelf).foreach { case (_, _, n, _) =>
        assert(n == cap, s"interior shelf of bucket $bucket not full")
      }
    }
    // scale shape: the rank comes from the prefix sum — no window may be
    // partition-less (a plain row_number over bucket would funnel the
    // Zipf-headed buckets through single tasks)
    val windows = bp.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      windows.mkString("\n"))
  }

  test("k-means recovers well-separated clusters deterministically") {
    // three orthogonal bundles of 10 vectors each; k-means with k=3 must
    // put each bundle in one cell, and rerunning must give the same cells
    val vecs = (0 until 30).map { i =>
      val axis = i % 3
      val base = Array.fill(6)(0.1f)
      base(axis * 2) = 10f + (i / 3) * 0.1f
      (i.toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    def run() = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 4)
      .as[(Long, Int)].collect().toMap
    val cells = run()
    assert(cells == run()) // deterministic
    for (axis <- 0 until 3) {
      val bundle = (0 until 30).filter(_ % 3 == axis).map(i => cells(i.toLong))
      assert(bundle.distinct.size == 1, s"axis $axis split across cells: $bundle")
    }
    assert(cells.values.toSet.size == 3)
    // sample-fit (the at-scale path: train the quantizer on a sample,
    // assign the full corpus once): still deterministic, still assigns
    // EVERY vector to a valid trained cell
    def runSampled() = Similarity.kmeansAssign(df, "vec_id", "embedding",
        k = 3, iters = 4, fitFraction = 0.5)
      .as[(Long, Int)].collect().toMap
    val sampled = runSampled()
    assert(sampled == runSampled())
    assert(sampled.keySet == (0 until 30).map(_.toLong).toSet)
    assert(sampled.values.forall(c => c >= 0 && c < 3))
  }

  test("clustered layout turns an IVF probe into physical partition pruning") {
    val dir = tmpDir() + "/clustered"
    val vecs = (0 until 40).map(i => (i.toLong, Array.fill(4)(i.toFloat), i % 4))
      .toDF("vec_id", "embedding", "cluster")
    Similarity.writeClustered(vecs, "cluster", dir)
    val probedScan = spark.read.parquet(dir).filter(col("cluster").isin(1, 2))
    val plan = probedScan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(probedScan.select("cluster").distinct().count() == 2)
    // the probe reads 2 of 4 cells' files — I/O for the other cells is
    // never issued (inputFiles reports pre-pruning, so read the scan's
    // runtime metric after materializing through this exact plan)
    probedScan.queryExecution.toRdd.count()
    val scan = probedScan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val allFiles = spark.read.parquet(dir).inputFiles.length
    assert(scan.metrics("numFiles").value < allFiles,
      s"probed scan read all $allFiles files")
  }

  test("semantic dedup groups cosine-near embeddings, keeps min id") {
    val e = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f), 0),
      (11L, Array(2.0f, 0.0f, 0.0f), 0),   // same direction as 10 → cos 1.0
      (12L, Array(0.96f, 0.28f, 0.0f), 0), // cos(10,12) = 0.96
      (13L, Array(0.0f, 1.0f, 0.0f), 1),
      (14L, Array(0.0f, 2.0f, 0.0f), 0))   // ∥ to 13 but in ANOTHER cell
      .toDF("vec_id", "embedding", "label")
    val d = Similarity.semanticDedup(e, "vec_id", "embedding", "label",
        threshold = 0.95)
      .select("vec_id", "component", "cluster_size", "is_kept")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(d.keySet == Set(10L, 11L, 12L, 13L, 14L)) // one row per input
    // 10,11,12 merge transitively; canonical keeper = min id
    assert(d(10L) == ((10L, 10L, 3L, true)))
    assert(d(11L) == ((11L, 10L, 3L, false)))
    assert(d(12L) == ((12L, 10L, 3L, false)))
    // 14 is cosine-identical to 13 but blocked into a different cell:
    // SemDedup only compares within a cell, so both survive as keepers
    assert(d(13L)._4 && d(14L)._4)
    assert(d(14L)._3 == 1L) // orthogonal to everything in its own cell
  }

  test("semantic dedup over k-means cells needs no synthetic label") {
    // two duplicate bundles (same direction, different scales) interleaved
    // by id so the deterministic seeds (two smallest ids) hit both bundles
    val df = (0 until 6).map { i =>
      val v = Array.fill(4)(0.0f)
      v(i % 2) = 1.0f + i
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cells = Similarity.kmeansAssign(df, "vec_id", "embedding",
        k = 2, iters = 3)
      .withColumnRenamed("id", "vec_id")
    val d = Similarity.semanticDedup(df.join(cells, Seq("vec_id")),
        "vec_id", "embedding", "cluster", threshold = 0.99)
      .select("vec_id", "component", "is_kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // evens collapse to keeper 0, odds to keeper 1 — found WITHOUT any
    // precomputed label, purely from the trained quantizer's cells
    for (i <- 0 until 6)
      assert(d(i.toLong) == ((i.toLong, (i % 2).toLong, i < 2)), s"id $i: ${d(i.toLong)}")
  }

  test("containment catches the subset-dup that symmetric Jaccard misses") {
    val host = (1 to 40).map(i => s"w$i").mkString(" ")   // 40-word host
    val sub = (1 to 12).map(i => s"w$i").mkString(" ")    // strict prefix subset
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val d = Seq((1L, host), (2L, sub), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, "text", "doc_id",
        ngram = 3, maxDf = 10L, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    // every 3-shingle of the subset appears in the host → containment 1.0
    assert(cont == Seq((1L, 2L, 1.0)))
    // the same pair scored by symmetric Jaccard: 10 shared / 38 union —
    // diluted far below any dedup threshold
    val jac = Dedup.jaccardOnPairs(d, "text", "doc_id",
        Seq((1L, 2L)).toDF("doc_a", "doc_b"), threshold = 0.0, ngram = 3)
      .as[(Long, Long, Double)].collect()
    assert(jac.head._3 < 0.3)
  }

  test("SRP-LSH: band keys are the exact sign predicates, dups collide everywhere") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact dup of 1
      (3L, Array(-1.0f, 0.2f, -0.3f, 0.5f)))
      .toDF("vec_id", "embedding")
    val keys = Similarity.srpBandKeys(vecs, "vec_id", "embedding",
      dim = 4, nBits = 8, bandBits = 4)
    // driver-side recomputation from the SAME sign matrix the plan embeds
    val signs = Similarity.srpSigns(8, 4)
    def expect(v: Array[Float]): Seq[(Long, Long)] = {
      val bits = signs.map { row =>
        val dot = row.zip(v).map { case (s, x) =>
          s.toLong * math.floor(x.toDouble * 1e6).toLong
        }.sum
        if (dot >= 0) 1L else 0L
      }
      (0 until 2).map(b =>
        (b.toLong, (0 until 4).map(r => bits(b * 4 + r) << (3 - r)).sum))
    }
    val got = keys.as[(Long, Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    assert(got(1L) == expect(Array(1.0f, 0.0f, 0.0f, 0.0f)))
    assert(got(3L) == expect(Array(-1.0f, 0.2f, -0.3f, 0.5f)))
    assert(got(1L) == got(2L)) // identical vectors → identical signature
    val pairs = Similarity.srpCandidatePairs(keys, "vec_id")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) == 2L) // dups share every band
    // verified pairs are sound: every emitted cosine clears the threshold,
    // and the exact-dup pair scores exactly 1.0
    val nd = Similarity.srpNearDupPairs(vecs, "vec_id", "embedding",
        dim = 4, nBits = 8, bandBits = 4, threshold = 0.9)
      .as[(Long, Long, Double, Long)].collect()
    assert(nd.forall(_._3 >= 0.9))
    assert(nd.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 1.0))
    // blocker-free SemDedup over the same fixture: the dup pair collapses
    // to keeper 1, the far vector survives alone
    val sd = Similarity.srpSemanticDedup(vecs, "vec_id", "embedding",
        dim = 4, nBits = 8, bandBits = 4, threshold = 0.9)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(sd(1L) == ((1L, 1L, 2L, true)))
    assert(sd(2L) == ((2L, 1L, 2L, false)))
    assert(sd(3L) == ((3L, 3L, 1L, true)))
  }

  test("frame sampling slices exact byte windows at stride offsets") {
    val assets = Multimodal.toAssets(
      Seq((1L, "abcdefghij")).toDF("doc_id", "text"), "doc_id", "text")
    val frames = Multimodal.sampleFrames(assets, frameBytes = 4, stride = 3,
        maxFrames = 10)
      .orderBy("frame_idx")
      .select("frame_idx", "frame", "frame_len")
      .as[(Long, Array[Byte], Long)].collect()
    // byte_len 10, frame 4, stride 3 → floor((10-4)/3)+1 = 3 frames
    assert(frames.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(frames.map(f => new String(f._2, "UTF-8")).toSeq ==
      Seq("abcd", "defg", "ghij"))
    assert(frames.forall(_._3 == 4L))
    // maxFrames caps the explode; a short payload yields one clipped frame
    assert(Multimodal.sampleFrames(assets, 4, 3, maxFrames = 2).count() == 2)
    val short = Multimodal.toAssets(
      Seq((2L, "ab")).toDF("doc_id", "text"), "doc_id", "text")
    val sf = Multimodal.sampleFrames(short, 4, 3, 10)
      .select("frame_len").as[Long].collect()
    assert(sf.toSeq == Seq(2L))
  }

  test("multimodal: asset schema + batched stub extraction round-trips") {
    val feats = Multimodal.extractFeatures(
      Multimodal.toAssets(docs, "doc_id", "text"), dim = 4)
    assert(feats.schema == Multimodal.featureSchema)
    val r = feats.filter($"asset_id" === 1).head()
    assert(r.getAs[Long]("byte_len") == 43L)
    val f = r.getSeq[Double](r.fieldIndex("features"))
    assert(f.length == 4 && f.head == ('t'.toInt / 255.0))
  }

  // a 20-word base whose single-word variant both band-collides under the
  // k=8/2-band LSH scheme AND clears jaccard 0.5 (verified offline against
  // the same md5 scheme) — near-dup fixtures must actually collide or the
  // near-dup branch silently tests nothing
  private val ndBase = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the deep dark forest tonight"
  private val ndVariant = "cat" + ndBase.drop(3)

  test("incremental dedup drops exact and near matches, keeps novel docs") {
    val existing = Seq((1L, ndBase), (2L, "an unrelated corpus document"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, ndBase),                                   // exact dup of 1
      (11L, ndVariant),                                // near-dup of 1
      (12L, "completely novel content about catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(existing, incoming, "text", "doc_id")
      .select("doc_id", "dropped_exact", "dropped_near", "is_kept")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(r(10L) == ((10L, 1L, 1L, 0L))) // exact dup is also jaccard-1.0 near
    assert(r(11L) == ((11L, 0L, 1L, 0L)))
    assert(r(12L) == ((12L, 0L, 0L, 1L)))
    // the existing corpus is never emitted — only the incoming batch
    assert(r.keySet == Set(10L, 11L, 12L))
  }

  test("keep-best dedup keeps the highest-scoring cluster member, ties -> min id") {
    val corpus = Seq(
      (1L, ndBase, 0.3), (2L, ndVariant, 0.9), // one near-dup cluster
      (3L, "solo document with no duplicates anywhere", 0.5),
      (4L, "tied cluster member alpha beta gamma delta epsilon zeta", 0.7),
      (5L, "tied cluster member alpha beta gamma delta epsilon zeta", 0.7))
      .toDF("doc_id", "text", "q")
    val r = Dedup.dedupCorpusKeepBest(corpus, "text", "doc_id", $"q")
      .select("doc_id", "component", "is_kept")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    // cluster {1,2}: 2 has the higher score, so 2 is kept even though the
    // component LABEL is still the min id 1
    assert(r(1L) == ((1L, 1L, 0L)) && r(2L) == ((2L, 1L, 1L)))
    assert(r(3L) == ((3L, 3L, 1L)))         // singleton keeps itself
    // exact-dup cluster {4,5}: equal scores, tie broken by smallest id
    assert(r(4L) == ((4L, 4L, 1L)) && r(5L) == ((5L, 4L, 0L)))
  }

  test("shard assignment: deterministic, complete, dense positions per shard") {
    val df = spark.range(1, 201).toDF("doc_id")
    val a = Sharding.shardAssign(df, "doc_id", 16)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    val b = Sharding.shardAssign(df.repartition(7), "doc_id", 16)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    // content-addressed: identical assignment at any input partitioning
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    assert(a.map(_._1).toSet == (1L to 200L).toSet)
    assert(a.map(_._2).forall(s => s >= 0 && s < 16))
    // positions within each shard are 1..n with no gaps (a loader can
    // stream a shard by position)
    a.groupBy(_._2).foreach { case (_, rows) =>
      val ps = rows.map(_._3).sorted.toSeq
      assert(ps == (1L to ps.size).toSeq)
    }
  }

  test("token-budget selection matches the flat window semantics exactly") {
    // randomized corpus with heavy score ties (2-dp quantization) so the
    // bucketed two-phase path exercises whole/boundary/dropped buckets
    val rnd = new scala.util.Random(42)
    val rows = (1L to 300L).map { i =>
      (i, s"d${i % 3}", rnd.nextInt(30) + 1L,
        math.floor(rnd.nextDouble() * 100) / 100)
    }
    val df = rows.toDF("doc_id", "domain", "n_tok", "score")
    val got = Sampling.tokenBudgetSelect(df, "doc_id", $"domain", $"n_tok",
        $"score", budget = 500L)
      .select("doc_id", "selected").as[(Long, Long)].collect().toMap
    // flat reference: per domain, order by (score desc, id), cum <= budget
    val expected = rows.groupBy(_._2).flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(d => (-d._4, d._1)).map { d =>
        cum += d._3; d._1 -> (if (cum <= 500L) 1L else 0L)
      }
    }
    assert(got == expected)
    // and the corpus-sized frames are never globally sorted: the only
    // window over the full input is the boundary-bucket ranking
    val some = got.values.sum
    assert(some > 0 && some < 300) // budget actually bites
  }

  test("corpus diff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma CHANGED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val r = Profiling.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(r == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("uniform k-per-group sample: window-equivalent, but no Window in plan") {
    val df = spark.range(1, 501)
      .selectExpr("id AS doc_id", "concat('g', id % 7) AS grp")
    val got = Sampling.uniformKPerGroup(df, "doc_id", $"grp", kPer = 3)
    // reference: the windowed form of the same ordering
    val expected = df.selectExpr("doc_id", "grp",
        "substring(md5(CAST(doc_id AS STRING)), 1, 12) AS hx")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")
          .orderBy("hx", "doc_id")).cast("long"))
      .filter($"rk" <= 3).select("doc_id", "grp", "rk")
    assert(got.select("doc_id", "grp", "rk").as[(Long, String, Long)]
      .collect().toSet ==
      expected.as[(Long, String, Long)].collect().toSet)
    // every group contributes exactly k rows with ranks 1..k
    assert(got.groupBy("grp").count().select("count").as[Long]
      .collect().forall(_ == 3))
    // the scale claim: bounded-heap aggregate, not a per-group window sort
    val hasWindow = got.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(hasWindow.isEmpty, "uniformKPerGroup must not plan a Window")
  }

  test("vocab profile: repetitive domains show small vocab and low TTR") {
    val df = Seq(
      ("spam", "buy buy buy buy now now"),
      ("rich", "every single word here is completely different")).toDF("domain", "text")
    val r = TextAnalysis.vocabProfile(df, "text", $"domain")
      .select("domain", "n_tokens", "vocab_size", "hapax_count", "type_token_ratio")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r("spam") == (("spam", 6L, 2L, 0L, 0.3333)))
    assert(r("rich") == (("rich", 7L, 7L, 7L, 1.0)))
  }

  test("tf-idf ranks domain-distinctive words above ubiquitous ones") {
    val df = Seq(
      ("a", "zebra zebra common shared"), ("b", "common shared words here"),
      ("c", "shared common other text")).toDF("domain", "text")
    val r = TextAnalysis.tfidfTopK(df, "text", $"domain", kTop = 2)
    val topA = r.filter($"domain" === "a" && $"rank" === 1)
      .select("word").as[String].head()
    assert(topA == "zebra") // df=1 of 3 domains, tf=2 — most distinctive
    // ubiquitous words (df = N) have idf 0 and never outrank distinctive ones
    val zeroIdf = r.filter($"word" === "common" && $"tfidf" > 0).count()
    assert(zeroIdf == 0)
  }

  test("duplicated spans: coverage is the interval union of shared 8-gram runs") {
    val a = (1 to 12).map(i => s"t$i").mkString(" ")            // 12 tokens
    val b = (1 to 8).map(i => s"t$i").mkString(" ") + " x y z"  // shares t1..t8 only
    val c = "totally different words without any common run here at all"
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, a)).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(df, "text", "doc_id")
      .select("doc_id", "n_tok", "n_dup_tok", "retained_tok", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    // docs 1/4 are full copies: overlapping dup starts 1..5 union to ALL
    // 12 tokens (4 gaps of 1 + the final 8), not 5 × 8 = 40
    assert(r(1L) == ((1L, 12L, 12L, 0L, 1.0)))
    assert(r(4L) == ((4L, 12L, 12L, 0L, 1.0)))
    // doc 2 shares exactly one 8-gram (start 1): 8 of 11 tokens covered
    assert(r(2L) == ((2L, 11L, 8L, 3L, 0.7272)))
    // untouched doc: zero coverage, full retention
    assert(r(3L) == ((3L, 10L, 0L, 10L, 0.0)))
  }

  test("duplicated spans: WITHIN-doc repeats count (ExactSubstr semantics)") {
    val p = (1 to 8).map(i => s"p$i").mkString(" ")
    val df = Seq((1L, s"$p $p"), (2L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"))
      .toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(df, "text", "doc_id")
      .select("doc_id", "n_dup_tok").as[(Long, Long)].collect().toMap
    // the 8-gram p1..p8 occurs at starts 1 and 9 of the SAME doc: both
    // occurrences' spans are covered (disjoint union = all 16 tokens)
    assert(r(1L) == 16L)
    assert(r(2L) == 0L)
  }

  test("span cut: retained text drops exactly the covered tokens, agrees with the stats op") {
    val a = (1 to 12).map(i => s"t$i").mkString(" ")
    val b = (1 to 8).map(i => s"t$i").mkString(" ") + " x y z"
    val c = "totally different words without any common run here at all"
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, a)).toDF("doc_id", "text")
    val cut = Dedup.cutDuplicatedSpans(df, "text", "doc_id")
      .select("doc_id", "retained_tok", "retained")
      .as[(Long, Long, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(cut(1L) == ((0L, "")))            // full copy → everything cut
    assert(cut(2L) == ((3L, "x y z")))       // shared prefix cut, tail kept
    assert(cut(3L) == ((10L, c)))            // untouched doc passes verbatim
    // the stats op and the cut op agree on retained_tok for every doc
    val stats = Dedup.duplicatedSpans(df, "text", "doc_id")
      .select("doc_id", "retained_tok").as[(Long, Long)].collect().toMap
    assert(stats == cut.map { case (k, v) => k -> v._1 })
  }

  test("DSIR: target-like docs get higher importance weights, n_feat = 2n-1") {
    val df = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma delta"),
      (4L, "zeta eta theta iota"), (5L, "zeta eta theta kappa"),
      (6L, "zeta eta theta iota"),
      (7L, "alpha beta gamma delta"),   // held out, target-like
      (8L, "zeta eta theta iota"))      // held out, raw-only-like
      .toDF("doc_id", "text")
    val r = Sampling.dsirLogWeights(df, "text", "doc_id",
        target = col("doc_id") <= 3)
      .select("id", "n_feat", "log_weight")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    // 4 unigrams + 3 bigrams per doc
    assert(r.values.forall(_._2 == 7L))
    // docs whose features concentrate in the target distribution score
    // strictly above docs whose features the target never saw — the
    // RELATIVE order is what importance resampling consumes (absolute
    // sign is not meaningful here: raw ⊇ target, so every bucket's raw
    // count includes its target count and the smoothed ratios skew ≤ 0)
    assert(r(7L)._3 > r(8L)._3)
    assert(r(1L)._3 > r(4L)._3)
  }

  test("duplicated spans: randomized equivalence vs a brute-force reference") {
    // vocab 3 → 3⁸ = 6561 possible 8-grams over ~500 drawn grams: a
    // deterministic handful of genuine random collisions (partial
    // coverage), plus one planted full duplicate (total coverage)
    val rnd = new scala.util.Random(7)
    val base = (1 to 40).map { i =>
      val n = 8 + rnd.nextInt(18)
      (i.toLong, Vector.fill(n)(s"w${rnd.nextInt(3)}").mkString(" "))
    }
    val corpus = base :+ (41L, base.head._2) // doc 41 copies doc 1
    // reference: literal ExactSubstr semantics — every token position
    // covered by an 8-gram whose text occurs >1 time corpus-wide
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, w) <- toks; i <- 0 to w.size - 8)
      gramCount.updateWith(w.slice(i, i + 8).mkString(" "))(c => Some(c.getOrElse(0) + 1))
    val expected = toks.map { case (id, w) =>
      val covered = Array.fill(w.size)(false)
      for (i <- 0 to w.size - 8
           if gramCount(w.slice(i, i + 8).mkString(" ")) > 1;
           j <- i until i + 8) covered(j) = true
      id -> (w.size.toLong, covered.count(identity).toLong)
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "text", "doc_id")
      .select("doc_id", "n_tok", "n_dup_tok")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == expected)
    assert(expected.values.exists(_._2 > 0), "fixture must exercise coverage")
    assert(expected.values.exists(v => v._2 > 0 && v._2 < v._1),
      "fixture must exercise PARTIAL coverage")
    // and the cut op's retained text is exactly the uncovered positions
    val cutGot = Dedup.cutDuplicatedSpans(df, "text", "doc_id")
      .select("doc_id", "retained").as[(Long, String)].collect().toMap
    val cutExpected = toks.map { case (id, w) =>
      val covered = Array.fill(w.size)(false)
      for (i <- 0 to w.size - 8
           if gramCount(w.slice(i, i + 8).mkString(" ")) > 1;
           j <- i until i + 8) covered(j) = true
      id -> w.indices.filterNot(covered).map(w).mkString(" ")
    }
    assert(cutGot == cutExpected)
  }

  test("DSIR select: exact-median threshold, target-like docs survive") {
    val df = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma delta"),
      (4L, "zeta eta theta iota"), (5L, "zeta eta theta kappa"),
      (6L, "zeta eta theta iota"),
      (7L, "alpha beta gamma delta"), (8L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val sel = Sampling.dsirSelect(df, "text", "doc_id",
        target = col("doc_id") <= 3, q = 0.5)
      .select("id", "log_weight", "selected")
      .as[(Long, Double, Long)].collect()
    val byId = sel.map(t => t._1 -> t).toMap
    // the threshold is a REAL weight value: at least one selected doc
    // sits exactly on it, and every selected weight ≥ every dropped one
    val (kept, dropped) = sel.partition(_._3 == 1L)
    assert(kept.nonEmpty && dropped.nonEmpty)
    assert(kept.map(_._2).min >= dropped.map(_._2).max)
    // ≥ half the docs survive (ties at the median keep everything equal)
    assert(kept.size >= 4)
    // target-like docs outrank raw-only docs, so they are the survivors
    assert(byId(7L)._3 == 1L && byId(8L)._3 == 0L)
  }

  test("gopherRules: each rule trips on its own boundary, integer-exact") {
    val fifty = ("word " * 50).trim                   // 50 words, len 4 each
    val docs = Seq(
      (1L, fifty + " the a"),                         // 52 words, all rules pass
      (2L, "the a short doc"),                        // fails word count only
      (3L, fifty + " the a " + ("## " * 12).trim),    // 12 '#' on 64 words: symbol fail
      (4L, (("ab " * 49).trim + " the a")),           // 51 words but mean len < 3
      (5L, fifty + " the"),                           // only 1 stop word
      (6L, fifty + " the a " + ("42 " * 14).trim))    // 14/66 numeric: alpha fail
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "text", "doc_id",
        stops = Seq("the", "a"))
      .orderBy("doc_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
      .toMap
    assert(got(1L) == ((true, true, true, true, true, true)))
    assert(got(2L)._1 == false && got(2L)._6 == false)
    assert(got(3L)._3 == false, "symbol-ratio rule must trip")
    assert(got(4L)._2 == false, "mean-word-length rule must trip")
    assert(got(5L)._5 == false, "stop-word rule needs 2 distinct")
    assert(got(6L)._4 == false, "alpha-word rule must trip")
  }

  test("collocationsTopK ranks by the exact PMI rational, noise floor applied") {
    // "strong pair": always adjacent; "weak pair": words frequent but
    // rarely adjacent; "rare pair": adjacent but below minCount
    val doc = (("strong pair " * 10) + ("weak x weak y weak z " * 10) +
      "rare once").trim
    val got = TextAnalysis.collocationsTopK(Seq((1L, doc)).toDF("doc_id", "text"),
        "text", k = 5, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains(("strong", "pair")))
    assert(!pairs.exists(p => p._1 == "rare" || p._2 == "once"),
      "below-minCount bigram must be filtered")
    // strong-pair PMI beats any weak-word bigram: c(strong,pair)=10 with
    // c(strong)=c(pair)=10; weak bigrams share c(weak)=30
    val best = got.maxBy(_._4)
    assert((best._1, best._2) == (("strong", "pair")))
    // exact integer check: N * c_xy * 1e6 DIV (c_x * c_y)
    val n = doc.split(" ").length.toLong
    assert(best._4 == n * 10L * 1000000L / (10L * 10L))
    // the DECIMAL(38,0) intermediate must NOT wrap where BIGINT would:
    // N·c_xy·10⁶ = 4e12·3·10⁶ = 1.2e19 > 2⁶³ ≈ 9.2e18
    val noWrap = spark.sql(
      "SELECT CAST(CAST(4000000000000 AS DECIMAL(38,0)) * 3 * 1000000 " +
        "DIV (CAST(2 AS DECIMAL(38,0)) * 3) AS BIGINT) AS v")
      .collect()(0).getLong(0)
    assert(noWrap == 2000000000000000000L,
      s"decimal PMI intermediate wrapped: $noWrap")
  }

  test("jlProject components are exactly the SRP pre-sign dots") {
    val vecs = Seq(
      (1L, Array.tabulate(64)(i => (i % 7 - 3) * 0.25f).toSeq),
      (2L, Array.tabulate(64)(i => math.sin(i).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val proj = Similarity.jlProject(vecs, "vec_id", "embedding", dim = 64, k = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference: same fixed-point rule in plain Scala
    val signs = Similarity.srpSigns(16, 64)
    val raw = Seq(
      1L -> Array.tabulate(64)(i => (i % 7 - 3) * 0.25f),
      2L -> Array.tabulate(64)(i => math.sin(i).toFloat))
    raw.foreach { case (id, v) =>
      val want = (0 until 16).map { j =>
        (0 until 64).map(i =>
          signs(j)(i) * math.floor(v(i).toDouble * 1000000.0).toLong).sum
      }
      assert(proj(id) == want, s"vec $id")
    }
    // and the SRP signature bits are these components' signs
    val bits = Similarity.srpBandKeys(vecs, "vec_id", "embedding",
        dim = 64, nBits = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    raw.foreach { case (id, _) =>
      (0 until 4).foreach { band =>
        val key = (0 until 4).map { r =>
          (if (proj(id)(band * 4 + r) >= 0) 1L else 0L) << (3 - r)
        }.sum
        assert(bits((id, band.toLong)) == key)
      }
    }
  }

  test("jlRerankTopK: separable clusters give brute-force-identical top-k") {
    // two tight clusters around orthogonal axes: the JL coarse stage
    // cannot confuse them, so the two-stage result must equal brute force
    val rnd = new scala.util.Random(11)
    def jitter(base: Int, n: Int) = (0 until n).map { _ =>
      Array.tabulate(64)(i =>
        (if (i == base) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.01f).toSeq
    }
    val vecs = (jitter(0, 20) ++ jitter(32, 20)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id".isin(0L, 20L))
    // coarseC covers the whole 20-vector home cluster: the coarse stage
    // separates CLUSTERS (its guarantee), while ordering within a cluster
    // of noise-close vectors belongs to the exact stage
    val twoStage = Similarity.jlRerankTopK(vecs, "vec_id", "embedding",
        queries, dim = 64, kProj = 16, coarseC = 20, k = 5)
      .select("qid", "cid", "cosine", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding",
        queries, k = 5)
      .select("qid", "cid", "cosine", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(twoStage == brute)
    // and every neighbor comes from the query's own cluster
    assert(twoStage.forall { case (q, c, _, _) =>
      (q < 20) == (c < 20)
    })
  }

  test("madOutliers: hand-computed fences, robust to the planted outlier") {
    // group a: 1..9 plus one wild value. med = 5 (disc: min v with cum>=5),
    // deviations {0,1,1,2,2,3,3,4,4,9995} → MAD = 2 (disc median of devs,
    // cum>=5 hits the second 2); fence 3·2=6 → only 10000 is out
    val a = (1 to 9).map(v => ("a", v.toDouble)) :+ ("a", 10000.0)
    // group b: all equal → MAD 0, nothing can exceed a zero fence times k
    // except any deviation > 0; all are 0 → no outliers
    val b = Seq.fill(6)(("b", 7.0))
    val got = Profiling.madOutliers((a ++ b).toDF("k", "v"), "k", "v", k = 3.0)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a") == ((5.0, 2.0, 10L, 1L)))
    assert(got("b") == ((7.0, 0.0, 6L, 0L)))
    // robustness: mean±3σ would NOT flag with this discipline —
    // the outlier drags the mean to ~1004; median stays at 5
  }

  test("lineDedupAgainst cuts corpus-known lines and within-batch repeats") {
    val corpus = Seq((100L, "known footer\ncorpus body")).toDF("doc_id", "text")
    val index = Dedup.buildLineIndex(corpus, "text", "doc_id")
    val batch = Seq(
      (1L, "fresh intro\nknown footer"),  // footer cut by the index
      (2L, "fresh intro\nfresh tail"))    // intro cut: doc 1 was first
      .toDF("doc_id", "text")
    val got = Dedup.lineDedupAgainst(index, batch, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(got(0) == ((1L, "fresh intro", 1L, 1L)))
    assert(got(1) == ((2L, "fresh tail", 1L, 1L)))
    // an empty index degrades to plain within-batch first-wins
    val noIdx = Dedup.buildLineIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    val plain = Dedup.lineDedupAgainst(noIdx, batch, "text", "doc_id")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(plain(0) == ((1L, "fresh intro\nknown footer", 2L, 0L)))
    assert(plain(1) == ((2L, "fresh tail", 1L, 1L)))
  }

  test("shardManifest is layout-independent and flips on any row mutation") {
    val rows = (1L to 100L).map(i => (i, s"doc $i", i % 4))
    val base = rows.toDF("id", "text", "shard")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Sharding.shardManifest(df, "shard", Seq("id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
    val m1 = manifest(base)
    // repartitioned/reordered layout → identical manifest
    val m2 = manifest(base.repartition(7).sortWithinPartitions(desc("text")))
    assert(m1 == m2)
    // one corrupted row flips EXACTLY its shard's checksum
    val corrupted = rows.map { case (i, t, s) =>
      (i, if (i == 42L) t + "!" else t, s) }.toDF("id", "text", "shard")
    val m3 = manifest(corrupted)
    assert(m3(2L) != m1(2L), "shard 2 (42 % 4) must flip")
    assert(Seq(0L, 1L, 3L).forall(s => m3(s) == m1(s)))
    // a dropped row changes both count and checksum
    val dropped = manifest(base.filter($"id" =!= 8L))
    assert(dropped(0L)._1 == m1(0L)._1 - 1 && dropped(0L)._2 != m1(0L)._2)

    // encoding is unambiguous: NULL position matters, and no separator
    // character inside a value can shift a column boundary
    def strManifest(rows: Seq[(Option[String], Option[String])]) =
      Sharding.shardManifest(
          rows.toDF("a", "b").withColumn("shard", lit(0L)),
          "shard", Seq("a", "b"))
        .collect()(0).getString(2)
    assert(strManifest(Seq((None, Some("a")))) !=
      strManifest(Seq((Some("a"), None))), "NULL must not erase its column")
    assert(strManifest(Seq((Some("a|b"), Some("c")))) !=
      strManifest(Seq((Some("a"), Some("b|c")))), "boundaries must not shift")
    assert(strManifest(Seq((None, None))) !=
      strManifest(Seq((Some("N:"), None))), "NULL sentinel must not collide")
  }

  test("lineDedup keeps only the globally first occurrence and rebuilds docs") {
    val df = Seq(
      (1L, "intro\nshared footer\nbody one"),
      (2L, "body two\nshared footer"),
      (3L, "shared footer\nshared footer"), // within-doc repeat also cut
      (4L, "unique only"))
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(df, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(got(0) == ((1L, "intro\nshared footer\nbody one", 3L, 0L)))
    assert(got(1) == ((2L, "body two", 1L, 1L)))
    // doc 3 loses BOTH copies (first occurrence lives in doc 1) and
    // survives as an empty doc — corpus accounting stays total
    assert(got(2) == ((3L, "", 0L, 2L)))
    assert(got(3) == ((4L, "unique only", 1L, 0L)))
    // invariant: lines are conserved
    assert(got.map(t => t._3 + t._4).sum == 8L)
  }

  test("fast simhash: assembly matches a re-derivation, dups collide at hamming 0") {
    // the fast kernel's majority-vote assembly cross-checked against an
    // independent re-derivation (explode → xxhash64 → collect → vote in
    // Scala — same hash, independent aggregation path), the same
    // structural gate the SRP bits test uses
    val sig = Dedup.simhashFast(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = docs
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .select($"doc_id", xxhash64($"w").as("h"))
      .as[(Long, Long)].collect().groupBy(_._1)
    for ((id, hs) <- toks) {
      val n = hs.length
      val expected = (0 until 16).map { b =>
        val ones = hs.count(t => ((t._2 >> b) & 1L) == 1L)
        if (ones * 2 >= n) 1L << b else 0L
      }.sum
      assert(sig(id) == expected, s"doc $id")
    }
    assert(sig(1L) == sig(3L), "exact dups must share the sketch")
    val pairs = Dedup.simhashNeardupPairs(docs, "text", "doc_id", fast = true)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 3L)) == 0L)
  }

  test("native simhash64 expression is bit-exact vs the composed 64-bit aggregate") {
    // the map-only kernel (one fused per-row loop, no explode/groupBy)
    // must reproduce the composed explode → 64-column-aggregate sketch
    // EXACTLY — the structural gate that lets simhashNeardupPairs ride
    // the native path without moving x_simhash64_neardup's recall gate
    val composed = Dedup.simhashFast(docs, "text", "doc_id", bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = Dedup.simhash64Native(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
    // empty-token docs drop in BOTH paths (NULL sketch ≡ groupBy absence)
    val e = Seq((1L, ""), (2L, " "), (3L, "one token"))
      .toDF("doc_id", "text")
    assert(Dedup.simhash64Native(e, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet == Set(3L))
  }

  test("fast corpus index bands incoming batches with the matching kernel") {
    // the index records its kernel so incoming batches band identically;
    // decision-free corpus (exact copy + disjoint doc), so md5 and fast
    // indexes must produce the same flags
    val incoming = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"), // copy of doc 1
      (12L, "entirely new material nothing shared at all here"))
      .toDF("doc_id", "text")
    for (fast <- Seq(false, true)) {
      val idx = Dedup.buildCorpusIndex(docs, "text", "doc_id", fast = fast)
      assert(idx.fast == fast)
      val got = Dedup.incrementalDedupAgainst(idx, incoming, "text", "doc_id")
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == Seq((11L, 1L, 1L, 0L), (12L, 0L, 0L, 1L)),
        s"fast=$fast: $got")
    }
  }

  test("curate(fastKernels) routes both production kernels and matches md5 on exact dups") {
    // corpus designed so the kernel swap is DECISION-FREE: the only dups
    // are exact copies (identical signatures under any minhash family)
    // and the only contamination is an exact bench copy (100% shared
    // fingerprints under any winnowing hash) — so md5 and fast outputs
    // must be row-identical, proving the fastKernels wiring changes the
    // kernels and nothing else. Borderline-pair divergence is the
    // measured §8a territory, deliberately absent here.
    def sentence(seed: Int): String =
      (0 until 30).map(j => s"w${seed}x$j").mkString(" ")
    val rows = Seq(
      (1L, sentence(1), "en"), (2L, sentence(2), "en"),
      (3L, sentence(3), "de"), (4L, sentence(2), "en"), // exact dup of 2
      (5L, sentence(5), "en"), (6L, sentence(6), "de"),
      (7L, sentence(5), "en"), // exact copy of bench doc 5 → contaminated
      (8L, sentence(8), "en"), (9L, sentence(9), "de"),
      (10L, sentence(10), "en"))
    val df = rows.toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length($"text"))
    def run(fast: Boolean) =
      Curation.curate(df, "text", "doc_id", "lang", "n_chars",
        qualityMin = 0.0, dupFracMax = 1.0, ceMax = 100.0,
        benchMod = 5, weights = Map("en" -> 0.6, "de" -> 0.4),
        packBudget = 64, minSharedPct = 20, fastKernels = fast)
        .orderBy("doc_id")
        .as[(Long, String, Double, Double, Long, Long, Long)]
        .collect().toSeq
    val md5Out = run(fast = false)
    val fastOut = run(fast = true)
    assert(md5Out == fastOut)
    val ids = md5Out.map(_._1).toSet
    assert(!ids.contains(5L) && !ids.contains(10L), "bench docs must drop")
    assert(!ids.contains(7L), "the exact bench copy must be decontaminated")
    assert(!ids.contains(4L) && ids.contains(2L),
      "exact dup keeps the min-id canonical")
  }

  test("every row curate keeps is gate's row under the same trusted-subset model") {
    // curate fits its LM on ids ≢ 0 (mod 3) of the SAME frame and shares
    // one token scan; gate scores against a model fit separately. Both
    // run the same stages 1-3, so curate's output must be a subset of
    // gate's with identical signal values. Per-language vocabularies make
    // the per-lang model matter; a gibberish doc every 11 ids fails the CE
    // gate, a repetitive one every 7 fails the dup gate, and every 5th
    // carries an email for the scrub.
    val langs = Seq("en", "de", "fr")
    val rows = (1 to 48).map { i =>
      val lang = langs((i / 2) % 3)
      val rnd = new scala.util.Random(i)
      val body = (1 to 40).map(_ => s"$lang${rnd.nextInt(60)}").mkString(" ")
      val text =
        if (i % 11 == 0) (1 to 40).map(j => s"q${i}z$j").mkString(" ")
        else if (i % 7 == 0) "spam spam " * 20
        else if (i % 5 == 0) s"$body mail me at a$i@example.com now"
        else body
      (i.toLong, text, lang)
    }
    val df = rows.toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length($"text"))
    val (qMin, dupMax, ceMax) = (0.3, 0.5, 5.5)
    val curated = Curation.curate(df, "text", "doc_id", "lang", "n_chars",
        qualityMin = qMin, dupFracMax = dupMax, ceMax = ceMax,
        benchMod = 13, weights = Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3),
        packBudget = 64)
      .select("doc_id", "domain", "quality", "cross_entropy")
      .as[(Long, String, Double, Double)].collect().toSet
    val model = LmScore.unigramModel(
      df.filter($"doc_id" % 3 =!= 0), "text", "lang")
    val gated = Curation.gate(df, "text", "doc_id", "lang", "n_chars", model,
        qualityMin = qMin, dupFracMax = dupMax, ceMax = ceMax)
      .select("doc_id", "domain", "quality", "cross_entropy")
      .as[(Long, String, Double, Double)].collect().toSet
    assert(curated.nonEmpty, "curate must keep some fixture docs")
    assert(curated.subsetOf(gated), s"curate-only rows: ${curated -- gated}")
    val gatedIds = gated.map(_._1)
    assert(!gatedIds.contains(7L) && !gatedIds.contains(11L),
      "the repetitive and the gibberish doc must fail the gate")
    assert(gatedIds.size < 48)
  }
}
