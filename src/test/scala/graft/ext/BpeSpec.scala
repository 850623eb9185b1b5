package graft.ext

import graft.SparkTestBase

/** BPE trainer: hand-computed merges on the classic corpus, randomized
  * equivalence against a literal single-machine reference implementation
  * (the no_oracle twin for x_bpe_vocab), and the encode round-trip. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Literal Sennrich reference: symbolize the word-frequency dict, loop
    * argmax-and-merge with (weight DESC, a, b) tie-break, stop below
    * weight 2. Returns the rule list ((a, b), weight). */
  private def referenceTrain(wordFreq: Map[String, Long],
      merges: Int): Seq[((String, String), Long)] = {
    var vocab = wordFreq.map { case (w, f) => w.map(_.toString).toVector -> f }
      .toVector
    val rules = Vector.newBuilder[((String, String), Long)]
    var done = false
    var step = 0
    while (step < merges && !done) {
      val weights = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.size - 1)
        weights.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + f))
      val best = weights.toSeq
        .sortBy { case ((a, b), w) => (-w, a, b) }.headOption
      best match {
        case Some(((a, b), w)) if w >= 2 =>
          rules += (((a, b), w))
          vocab = vocab.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> f
          }
          step += 1
        case _ => done = true
      }
    }
    rules.result()
  }

  test("classic corpus: merges follow frequency with lexicographic ties") {
    // Sennrich's running example, sans end-of-word marker
    val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.train(df, "text", merges = 4)
      .select("step", "sym_a", "sym_b", "merged", "weight")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val expected = referenceTrain(
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 4)
      .zipWithIndex
      .map { case (((a, b), w), i) => (i + 1, a, b, a + b, w) }
    assert(got == expected)
    // first merge is hand-checkable: 'e s' and 's t' both weigh
    // newest(6)+widest(3) = 9; the (a, b) tie-break picks e+s — the same
    // first merge Sennrich's worked example lands on
    assert(got.head == ((1, "e", "s", "es", 9L)))
  }

  test("randomized equivalence vs the reference trainer, incl. a==b runs") {
    val rnd = new scala.util.Random(11)
    val words = (1 to 30).map { _ =>
      // alphabet of 3 with repeats → plenty of aa/aaa runs exercising
      // the greedy left-to-right semantics
      Vector.fill(2 + rnd.nextInt(7))(('a' + rnd.nextInt(3)).toChar).mkString
    }
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val wf = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val got = Bpe.train(docs.toDF("doc_id", "text"), "text", merges = 6)
      .select("sym_a", "sym_b", "weight")
      .as[(String, String, Long)].collect().toSeq
    val expected = referenceTrain(wf, 6)
      .map { case ((a, b), w) => (a, b, w) }
    assert(got == expected)
    assert(got.nonEmpty, "fixture must actually train")
    assert(got.exists { case (a, b, _) => a == b },
      "fixture must exercise the a == b greedy case")
  }

  test("encode: frequent words collapse, counts shrink monotonically") {
    val docs = Seq.fill(8)("abab") ++ Seq("abcd", "zz")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rules = Bpe.train(df, "text", merges = 3)
      .select("sym_a", "sym_b").as[(String, String)].collect().toSeq
    val enc = Bpe.encodeTokenCounts(df, "text", "doc_id", rules)
      .select("id", "n_words", "n_bpe_tok")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // 'abab' (freq 8) collapses to a single symbol within 3 merges:
    // a+b (17 adjacencies? weight counts: ab in abab ×2 + abcd ×1 = 17),
    // then ab+ab, so doc 0 = one word, one token
    assert(enc(0L) == ((1L, 1L)))
    // no doc gains tokens vs its character count
    val chars = docs.zipWithIndex.map { case (t, i) => i.toLong -> t.length }
    assert(chars.forall { case (id, n) => enc(id)._2 <= n })
  }

  test("trainValidated: a replay-side failure surfaces at once and stops training") {
    val rnd = new scala.util.Random(7)
    val words = (1 to 400).map(_ =>
      Vector.fill(4 + rnd.nextInt(9))(('a' + rnd.nextInt(8)).toChar).mkString)
    val df = words.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = 20
    // the second, warm run is the yardstick: the whole training loop
    assert(Bpe.train(df, "text", merges).count() == merges,
      "fixture must train every round")
    val t0 = System.nanoTime()
    Bpe.train(df, "text", merges)
    val fullS = (System.nanoTime() - t0) / 1e9

    val boom = new IllegalStateException("injected replay failure")
    val t1 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Bpe.trainValidated(df, "text", merges,
        step => if (step == 1) throw boom)
    }
    val failS = (System.nanoTime() - t1) / 1e9
    assert(thrown eq boom, "the replay's own exception must surface")
    // the trainer stops at its next settled round instead of finishing
    // every round before the join returns
    assert(failS < fullS / 2,
      f"failure took $failS%.2f s; full training takes $fullS%.2f s")
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "bpe-train" && t.isAlive),
      "no bpe-train thread may outlive trainValidated")
  }
}
