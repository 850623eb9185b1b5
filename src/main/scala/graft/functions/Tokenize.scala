package graft.functions

import org.apache.spark.sql.SparkSession

/** Tokenizer UDTF surface (RT/app/function/SplitFunction.java:13-30 +
  * RT/utils/KeywordUtil.java:13-35).
  *
  * The reference uses the IK Chinese segmenter behind a Flink
  * TableFunction applied via LATERAL TABLE. Capability parity needs the
  * UDTF *shape* (string → rows of words), not IK's dictionary: we use
  * public-knowledge segmentation — split on whitespace/punctuation, and
  * fall back to overlapping bigrams for CJK runs (the standard
  * dictionary-free CJK heuristic). On any failure the whole string is
  * emitted, matching SplitFunction's IOException branch.
  *
  * Exposed both as a Scala function (testable) and a registered SQL UDF
  * `split_words` usable with LATERAL VIEW explode.
  */
object Tokenize {

  private def isCjk(c: Char): Boolean = {
    val b = Character.UnicodeBlock.of(c)
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS_EXTENSION_A ||
    b == Character.UnicodeBlock.CJK_COMPATIBILITY_IDEOGRAPHS
  }

  /** Deterministic, dictionary-free segmentation. */
  def tokenize(text: String): Seq[String] =
    try {
      if (text == null) Seq.empty
      else {
        // Locale.ROOT: default-locale lowercasing is machine-dependent
        // (tr-TR maps I to dotless i) — a tokenizer must be deterministic
        val runs = text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
        runs.flatMap { run =>
          if (run.exists(isCjk)) {
            // split the run into CJK and non-CJK segments; CJK segments
            // yield overlapping bigrams (unigram if length 1)
            val segs = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < run.length) {
              val cjk = isCjk(run(i))
              var j = i
              while (j < run.length && isCjk(run(j)) == cjk) j += 1
              val seg = run.substring(i, j)
              if (cjk) {
                if (seg.length == 1) segs += seg
                else for (k <- 0 until seg.length - 1) segs += seg.substring(k, k + 2)
              } else segs += seg
              i = j
            }
            segs.toSeq
          } else Seq(run)
        }.toSeq
      }
    } catch {
      // failure passthrough mirrors the reference's IOException branch —
      // but only for NON-fatal errors: swallowing OOM/task-kill would turn
      // a dying task into a silently wrong token stream
      case scala.util.control.NonFatal(_) => Seq(Option(text).getOrElse(""))
    }

  /** Register as SQL function: LATERAL VIEW explode(split_words(s)). */
  def register(spark: SparkSession): Unit =
    spark.udf.register("split_words", (s: String) => tokenize(s))
}
