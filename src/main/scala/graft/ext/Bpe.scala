package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Materialize._

/** BPE tokenizer training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — public method): start
  * from characters, repeatedly merge the most frequent adjacent symbol
  * pair. The missing member of the training-data family — every LLM
  * pipeline trains a tokenizer on (a sample of) the corpus it just
  * curated.
  *
  * Scale shape: classic BPE trains on the WORD-FREQUENCY table, not the
  * corpus — one corpus scan builds (word, freq, symbol-array), and every
  * training round is vocabulary-sized work: an adjacent-pair explode with
  * map-side-combined pair aggregation, a bounded top-1 argmax, and a
  * map-only symbol rewrite over the words that actually contain the pair
  * (a cheap codegen'd adjacency pre-filter guards the interpreted fold).
  * Driver state per round is exactly ONE rule row — the merge table IS
  * the model. No per-document work happens until [[encodeTokenCounts]],
  * which again encodes only DISTINCT words and joins counts back to the
  * token stream.
  *
  * Divergence from the paper, documented: no end-of-word marker symbol
  * (merges never cross word boundaries here either way, because pairs are
  * enumerated within the per-word symbol array), and training stops early
  * if no pair occurs more than once.
  */
object Bpe {

  /** (word, freq, syms): the symbolized vocabulary — ONE corpus scan,
    * everything downstream is vocabulary-sized. `split(word, '')` chars
    * are engine-portable (DuckDB `string_split(word, '')` agrees,
    * CJK included). */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(filter(split(col(textCol), " "),
        w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))

  /** Adjacent-pair weights over a symbolized vocabulary: weight(a, b) =
    * Σ freq(word) over every adjacency of a before b — the statistic
    * each BPE round argmaxes. Within-word repeats count once per
    * adjacency, exactly as the reference algorithm counts them. */
  def pairStats(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
           i -> struct(element_at(syms, i) AS a,
                       element_at(syms, i + 1) AS b))""")).as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum("freq").as("weight"))

  /** Greedy left-to-right merge of adjacent (a, b) into a+b — the exact
    * reference semantics, including the a == b case ("l l l" → "ll l").
    * A pure `aggregate` fold with (emitted, pending) state: `pending`
    * holds an `a` awaiting its `b`; the finish lambda flushes it. Runs
    * interpreted, but only over the vocabulary rows that pass the
    * adjacency pre-filter in [[train]]/[[encodeTokenCounts]]. */
  private[ext] def mergePair(syms: Column, a: String, b: String): Column = {
    val merged = a + b
    aggregate(
      syms,
      struct(expr("CAST(array() AS ARRAY<STRING>)").as("out"),
        lit("").as("prev")),
      (acc, x) => {
        val out = acc.getField("out")
        val pending = acc.getField("prev") === lit(a)
        val newOut =
          when(pending && (x === lit(b)), concat(out, array(lit(merged))))
            .when(pending && (x === lit(a)), concat(out, array(lit(a))))
            .when(pending, concat(out, array(lit(a)), array(x)))
            .when(x === lit(a), out)
            .otherwise(concat(out, array(x)))
        val newPrev =
          when(pending && (x === lit(b)), lit(""))
            .when(x === lit(a), lit(a))
            .otherwise(lit(""))
        struct(newOut.as("out"), newPrev.as("prev"))
      },
      acc => when(acc.getField("prev") === lit(a),
          concat(acc.getField("out"), array(lit(a))))
        .otherwise(acc.getField("out")))
  }

  /** One merge-rule application over a vocabulary frame: words whose
    * space-joined symbols contain "a b" go through the fold (symbols
    * contain no spaces — words were whitespace-tokenized — so the
    * substring probe has no false negatives; a false positive only
    * costs the no-op fold). */
  private def applyRule(vocab: DataFrame, a: String, b: String): DataFrame =
    vocab.withColumn("syms",
      when(concat_ws(" ", col("syms")).contains(s"$a $b"),
        mergePair(col("syms"), a, b))
        .otherwise(col("syms")))

  /** Train `merges` rounds; returns the merge table
    * (step, sym_a, sym_b, merged, weight) — step is 1-based rule order,
    * which is all an encoder needs. Argmax ties break lexicographically
    * on (sym_a, sym_b); rounds whose best pair occurs once stop training
    * (nothing left worth merging). The vocabulary is re-staged per round
    * (the k-means/connected-components move) so lineage stays flat. */
  def train(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    trainRules(docs, textCol, merges)
      .toDF("step", "sym_a", "sym_b", "merged", "weight")
  }

  /** [[train]]'s loop, returning the merge table as driver rows and
    * reporting each rule to `onRule` AS SOON as its round settles — the
    * hook [[trainValidated]] uses to replay-validate round i while round
    * i+1 is still training (guide §2.6: two independent job chains
    * overlap instead of running back to back). The default hook is a
    * no-op; the training computation is identical either way. */
  private def trainRules(docs: DataFrame, textCol: String, merges: Int,
      onRule: ((Int, String, String, String, Long)) => Unit = _ => ())
      : Seq[(Int, String, String, String, Long)] = {
    require(merges > 0, "need at least one merge round")
    var vocab = wordFreq(docs, textCol).staged
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // bounded driver data by contract: ONE rule row per round
      val top = pairStats(vocab)
        .orderBy(col("weight").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2) exhausted = true
      else {
        val (a, b, w) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val rule = (step, a, b, a + b, w)
        rules += rule
        onRule(rule)
        vocab = applyRule(vocab, a, b).staged
        step += 1
      }
    }
    rules.toSeq
  }

  /** Bounds-gate replay for [[train]] (the x_approx_distinct_bounds
    * promotion recipe applied to a training loop): re-derives each
    * recorded merge through an INDEPENDENT encoding and emits one row per
    * step with two booleans the driver hash bites on. For step i the
    * vocabulary is re-symbolized via the wrapped-string `replace`
    * arrangement (the x_bpe_encode ORACLE's mechanism: words wrapped as
    * `|s1||s2|…|sn|`, each prior rule applied as the literal substring
    * rewrite `|a||b|` → `|ab|` — replace's continue-after-match scan IS
    * greedy left-to-right non-rescanning merging, and the wrapping makes
    * every symbol boundary explicit). This is a genuinely different code
    * path from train's `aggregate` fold, so a fold bug (overlap
    * mishandling, dropped pending symbol, rescan) desynchronizes the two
    * encodings within `merges` rounds and flips a boolean:
    *   - `argmax_ok`: the recorded (sym_a, sym_b) is the
    *     (weight DESC, a, b) argmax of [[pairStats]] over the
    *     independently rewritten vocabulary at that step;
    *   - `weight_ok`: the recorded weight equals that pair's weight
    *     there.
    * Driver-state contract unchanged: ≤ `merges` rule rows ever reach the
    * driver; every replay round is vocabulary-sized distributed work.
    * Assumes symbols never contain '|' (whitespace tokenization of this
    * corpus guarantees it — same documented assumption as the
    * x_bpe_encode oracle). */
  def trainValidated(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    trainValidated(docs, textCol, merges, _ => ())

  /** [[trainValidated]] with `beforeReplay(step)` run ahead of each
    * replay step: the seam a spec injects a replay-side failure through. */
  private[ext] def trainValidated(docs: DataFrame, textCol: String,
      merges: Int, beforeReplay: Int => Unit): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    // r17 (guide §2.6): the replay loop consumes ONLY the settled rule
    // list, and train settles rule i before it touches round i+1 — so the
    // two loops' job chains are independent and can overlap. Training
    // runs on a worker thread, handing each rule to the replay loop (this
    // thread) through a bounded queue the moment its round settles; the
    // replay's round-i jobs then run concurrently with training's round
    // i+1..n instead of after round n. Each loop issues exactly the jobs
    // it issued sequentially, in the same order, on the same inputs —
    // outputs byte-identical (BpeSpec + the x_bpe_vocab oracle pin them).
    //
    // Failure path: a replay-side failure sets `aborted` before joining,
    // and the trainer's rule hook throws at the next settled round, so the
    // join waits for at most the round in flight instead of every round
    // left. After the abort the trainer puts at most two more entries (a
    // rule already past the check, then its end marker); the queue is
    // cleared first, so neither put can block.
    val queue = new java.util.concurrent
      .ArrayBlockingQueue[Either[Option[Throwable], (Int, String, String, String, Long)]](4)
    @volatile var aborted = false
    val trainer = new Thread(() => {
      try {
        trainRules(docs, textCol, merges, rule => {
          if (aborted)
            throw new java.util.concurrent.CancellationException("replay failed")
          queue.put(Right(rule))
        })
        queue.put(Left(None)) // clean end-of-rules
      } catch { case t: Throwable => if (!aborted) queue.put(Left(Some(t))) }
    }, "bpe-train")
    trainer.start()
    var wrapped = wordFreq(docs, textCol)
      .select(col("freq"),
        concat(lit("|"), concat_ws("||", col("syms")), lit("|")).as("w"))
      .staged
    val checks = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Boolean)]
    try {
      var done = false
      while (!done) queue.take() match {
        case Left(None) => done = true
        case Left(Some(t)) => throw t
        case Right((step, a, b, merged, weight)) =>
          beforeReplay(step)
          val syms = split(trim(col("w"), "|"), "[|][|]")
          val top = pairStats(wrapped.select(col("freq"), syms.as("syms")))
            .orderBy(col("weight").desc, col("sym_a"), col("sym_b"))
            .limit(1).collect()(0)
          val argmaxOk = top.getString(0) == a && top.getString(1) == b
          val weightOk = top.getLong(2) == weight
          wrapped = wrapped
            .withColumn("w",
              replace(col("w"), lit(s"|$a||$b|"), lit(s"|$merged|")))
            .staged
          checks += ((step, argmaxOk, weightOk))
      }
    } catch { case t: Throwable =>
      aborted = true
      queue.clear()
      throw t
    } finally trainer.join()
    checks.toSeq.toDF("step", "argmax_ok", "weight_ok")
  }

  /** Token counts under a learned merge table: encode DISTINCT words
    * (vocabulary-sized fold, rules applied in step order), then join the
    * per-word subword count back onto the token stream and sum per doc.
    * Returns (id, n_words, n_bpe_tok). The token stream is staged once —
    * it feeds the distinct-word frame AND the final join. */
  def encodeTokenCounts(docs: DataFrame, textCol: String, idCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
        explode(filter(split(col(textCol), " "),
          w => length(w) > 0)).as("word"))
      .staged
    val encoded = rules.foldLeft(
        tok.select("word").distinct()
          .withColumn("syms", split(col("word"), ""))) {
        case (df, (a, b)) => applyRule(df, a, b)
      }
      .select(col("word"), size(col("syms")).cast("long").as("n_sym"))
    tok.join(encoded, Seq("word"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tok"))
  }
}
