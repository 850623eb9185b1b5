package graft.examples

import org.apache.spark.sql.SparkSession

/** Optimization-round evidence dump: write `.explain("formatted")` for a
  * list of registry queries to files, one per query, so plan claims in
  * OPTIMIZATION_r*.md are checkable without running Spark (the judge's
  * constraint). Env: PLANDUMP_QUERIES (comma list), PLANDUMP_OUT (dir),
  * optional PLANDUMP_SF (default /root/testdata/sf0.1), PLANDUMP_CPUS
  * (local[32]), PLANDUMP_SP (32 — the bench's shuffle-partition setting,
  * so dumped plans match what the bench executes).
  *
  * Each query also gets `<q>.fp.txt`: the exact string the bench
  * fingerprint hashes ([[graft.Bench.planNormalized]]) — diff two dumps
  * when bench_defs.json shows an unexpected `definition_changed` flip.
  * Optional PLANDUMP_WARM (comma list) runs those queries through the
  * noop sink first, to reproduce a suite-order predecessor effect.
  *
  * Note on eager sub-jobs: queries built around staged/localCheckpoint
  * barriers (the curation/dedup families) EXECUTE those stages while the
  * frame is being constructed — the dumped plan is the tail after the
  * last barrier, which is exactly what that query's timed region runs
  * last; the barrier stages' own plans are documented where they were
  * optimized (SCALING). Streaming twins drain their stream at build time
  * and return the terminal batch read — their dumped plan is that read,
  * and the operator evidence lives in the stateful-processor specs, not
  * a batch plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val qs = sys.env("PLANDUMP_QUERIES").split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = java.nio.file.Paths.get(sys.env("PLANDUMP_OUT"))
    java.nio.file.Files.createDirectories(outDir)
    val sf = sys.env.getOrElse("PLANDUMP_SF", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("PLANDUMP_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("PLANDUMP_SP", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("PLANDUMP_WARM").foreach(_.split(",").map(_.trim)
      .filter(_.nonEmpty).foreach { w =>
        graft.SparkEntry.queries(w)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      })
    val trace = graft.core.Trace()
    qs.foreach { q =>
      val (res, fp) = trace.span(q) {
        try {
          val df = graft.SparkEntry.queries(q)(spark, sf)
          (df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode),
            graft.Bench.planNormalized(df).getOrElse(""))
        } catch { case e: Throwable =>
          val msg = s"[plandump] $q failed: $e"; (msg, msg) }
      }
      java.nio.file.Files.writeString(outDir.resolve(s"$q.txt"), res)
      java.nio.file.Files.writeString(outDir.resolve(s"$q.fp.txt"), fp)
      println(f"[plandump] $q done in ${trace.ms(q).last / 1e3}%.1f s")
    }
    spark.stop()
  }
}
