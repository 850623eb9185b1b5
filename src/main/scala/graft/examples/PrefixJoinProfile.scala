package graft.examples
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables, Trace}
import graft.core.Materialize.stage
import graft.ext.Dedup

/** Stage-level wall breakdown of x_prefix_join at a chosen SF — times the
  * shingle scan, the df join + per-doc canonical sort, prefix candidate
  * generation (with the length filter), and both verify shapes (packed
  * array intersect vs token-level intersection join) so a regression in
  * either half is attributable. Each step's wall goes to stderr as it
  * ends; one JSON line of every span's seconds (`pass<i>.<step>`) ends
  * the run. */
object PrefixJoinProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val threshold = 0.6
    val trace = Trace("pjprof")
    for (i <- 1 to 2) trace.span(s"pass$i") {
      val docs = Tables.load(spark, sfDir, "documents")
      val tok = trace.span("shingles") {
        stage(Dedup.shingleTokens(docs, "text", "doc_id", 3)) }
      println(s"[pjprof]   tok rows = ${tok.count()}")
      val dfreq = tok.groupBy("word").agg(count(lit(1)).as("df"))
      val perDoc = trace.span("perdoc sort+arrays") { stage(tok.join(dfreq, "word")
        .groupBy("id")
        .agg(sort_array(collect_list(struct(col("df"), col("word")))).as("ord"),
          count(lit(1)).as("n"))
        .withColumn("words", col("ord.word"))) }
      val prefixes = perDoc
        .withColumn("p",
          (col("n") - ceil(col("n") * threshold - lit(1e-9)) + lit(1)).cast("int"))
        .select(col("id"), col("n"),
          explode(slice(col("ord"), lit(1), col("p"))).as("pt"))
        .select(col("id"), col("n"), col("pt.word").as("word"))
      val cand = trace.span("candidates") { stage(prefixes.as("pa")
        .join(prefixes.as("pb"),
          col("pa.word") === col("pb.word") && col("pa.id") < col("pb.id") &&
            least(col("pa.n"), col("pb.n")).cast("double") >=
              greatest(col("pa.n"), col("pb.n")) * threshold - lit(1e-9))
        .select(col("pa.id").as("doc_a"), col("pb.id").as("doc_b"))
        .distinct()) }
      println(s"[pjprof]   cand rows = ${cand.count()}")
      val candNoLen = prefixes.as("pa").join(prefixes.as("pb"),
          col("pa.word") === col("pb.word") && col("pa.id") < col("pb.id"))
        .select(col("pa.id").as("doc_a"), col("pb.id").as("doc_b"))
        .distinct()
      println(s"[pjprof]   cand rows (no length filter) = ${candNoLen.count()}")
      // the packed-array verify shape REJECTED in round 10 (see the
      // jaccardOnTokens scaladoc): ships |A|+|B| strings per candidate,
      // measured 1.6x slower than the token-row form kept below
      trace.span("verify: array") {
        cand
          .join(perDoc.select(col("id").as("doc_a"), col("words").as("wa"),
            col("n").as("na")), Seq("doc_a"))
          .join(perDoc.select(col("id").as("doc_b"), col("words").as("wb"),
            col("n").as("nb")), Seq("doc_b"))
          .withColumn("inter",
            size(array_intersect(col("wa"), col("wb"))).cast("long"))
          .withColumn("jaccard",
            floor(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")) * 10000.0) / 10000.0)
          .filter(col("jaccard") >= threshold)
          .write.format("noop").mode("overwrite").save() }
      trace.span("verify: token join") {
        val pairs = cand.select("doc_a", "doc_b")
        val sizes = tok.groupBy("id").agg(count(lit(1)).as("n"))
        pairs
          .join(tok.select(col("id").as("doc_a"), col("word")), Seq("doc_a"))
          .join(tok.select(col("id").as("doc_b"), col("word")),
            Seq("doc_b", "word"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("id").as("doc_a"), col("n").as("na")),
            Seq("doc_a"))
          .join(sizes.select(col("id").as("doc_b"), col("n").as("nb")),
            Seq("doc_b"))
          .withColumn("jaccard",
            floor(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")) * 10000.0) / 10000.0)
          .filter(col("jaccard") >= threshold)
          .write.format("noop").mode("overwrite").save() }
    }
    Trace.emit(trace.spans.map { case (p, ms) => p -> ms / 1e3 })
    spark.stop()
  }
}
