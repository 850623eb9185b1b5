package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.streaming.Warehouse

/** The one measurement mechanism: spans nest and time their bodies,
  * compile counts add up over bodies, the median, the streaming summary
  * against the query's own progress (under the repository benchmark's
  * per-layer names), the JSON-line writer, and that an untraced
  * warehouse drain writes no profile. */
class TraceSpec extends SparkTestBase {

  test("spans nest under the open span and time their bodies") {
    val t = Trace()
    val v = t.span("outer") {
      Thread.sleep(20)
      t.span("inner")(Thread.sleep(30))
      t.span("inner")(Thread.sleep(30))
      7
    }
    assert(v == 7)
    assert(t.spans.map(_._1) == Seq("outer", "outer.inner", "outer.inner"))
    assert(t.ms("outer.inner").size == 2 && t.ms("outer.inner").forall(_ >= 30))
    assert(t.ms("outer").head >= 80 && t.ms("outer").head >= t.ms("outer.inner").sum)
    assert(t.phases.keys.toSeq == Seq("outer", "outer.inner"))
    // a span closes when its body throws, and the error passes through
    intercept[IllegalStateException](t.span("boom")(throw new IllegalStateException))
    assert(t.ms("boom").size == 1)
    assert(t.span("after")(1) == 1 && t.spans.last._1 == "after")
  }

  test("Trace.off runs bodies and records nothing") {
    assert(Trace.off.span("x")(Trace.off.span("y")(3)) == 3)
    Trace.off.progress(Seq("dwd.q" -> null))
    assert(Trace.off.spans.isEmpty && Trace.off.fields.isEmpty)
  }

  test("compiles adds the JVM's Janino compiles over each body") {
    // a literal no earlier plan held, so the generated class is new
    val fresh = () => spark.range(3).selectExpr(s"id * ${System.nanoTime}").collect()
    val t = Trace()
    assert(t.compiles(7) == 7)
    assert(t.fields.map(_._1) == Seq("codegen.compiles"))
    val c0 = Trace.compileCount
    t.compiles(fresh())
    val once = t.fields.toMap.apply("codegen.compiles")
    assert(once >= 1 && once <= Trace.compileCount - c0)
    t.compiles(fresh())
    assert(t.fields.toMap.apply("codegen.compiles") > once)
    Trace.off.compiles(fresh())
    assert(Trace.off.fields.isEmpty)
  }

  test("median of odd, even and empty samples") {
    assert(Trace.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Trace.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Trace.median(Seq(5.0)) == 5.0)
    assert(Trace.median(Nil).isNaN)
  }

  test("the summary of a three-batch file→memory query equals its own progress") {
    import spark.implicits._
    val dir = tmpDir() + "/in"
    for (i <- 0 until 3)
      Seq.tabulate(10 * (i + 1))(j => (i, j)).toDF("b", "j")
        .coalesce(1).write.mode("append").parquet(dir)
    val q = spark.readStream.schema("b INT, j INT")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .groupBy("b").count()
      .writeStream.format("memory").queryName("trace_spec_q")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val ps = q.recentProgress.toSeq
    assert(ps.count(_.numInputRows > 0) == 3)

    val t = Trace()
    t.progress(Seq("dws.visitor" -> q))
    val got = t.fields.toMap
    val key = "streaming.dws.visitor."
    assert(t.fields.map(_._1) == Seq("batches", "input_rows", "busy_ms",
      "add_batch_ms", "offsets_ms", "plan_ms", "commit_ms", "state_rows",
      "dropped_rows").map(key + _))
    assert(got(key + "batches") == ps.size.toLong)
    assert(got(key + "input_rows") == 60L && ps.map(_.numInputRows).sum == 60L)
    assert(got(key + "busy_ms") ==
      ps.map(_.durationMs.get("triggerExecution").longValue).sum)
    assert(got(key + "state_rows") == 3L) // one count row per b
    assert(got(key + "dropped_rows") == 0L && ps.forall(_.stateOperators
      .forall(_.numRowsDroppedByWatermark == 0L))) // no watermark, no drops

    // the warehouse keys are the repository benchmark's per_layer names
    val benchmark = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("BENCHMARK.json").toFile)
    val perLayer = benchmark.get("per_layer").elements.asScala
      .map(_.get("name").asText).toSet
    val keys = for ((query, layer) <- Warehouse.Layers;
         (k, _) <- Trace.summary(s"$layer.$query", q)) yield k
    assert(keys.size == 90)
    // base_db holds no state, so the benchmark lists no state_rows for it;
    // dropped_rows is the trace's own key, not a benchmark metric
    assert(keys.filterNot(perLayer).filterNot(_.endsWith(".dropped_rows")) ==
      Seq("streaming.dwd.base_db.state_rows"))
  }

  test("the writer escapes, keeps key order, writes NaN as null, and appends") {
    val fields = Seq("z" -> "a \"quoted\"\nline\\", "a" -> Double.NaN,
      "m" -> ListMap("y" -> 1, "x" -> 2L), "d" -> 0.123456, "s" -> Seq(1, 2),
      "n" -> None, "b" -> true)
    val line = Trace.json(fields)
    assert(line == """{"z":"a \"quoted\"\nline\\","a":null,""" +
      """"m":{"y":1,"x":2},"d":0.1235,"s":[1,2],"n":null,"b":true}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(line).fieldNames.asScala.toSeq ==
      Seq("z", "a", "m", "d", "s", "n", "b"))
    assert(mapper.readTree(line).get("z").asText == "a \"quoted\"\nline\\")

    val path = tmpDir() + "/sub/out.jsonl"
    val echoed = scala.collection.mutable.ArrayBuffer.empty[String]
    Trace.emit(Seq("i" -> 1), path, append = true, echo = echoed += _)
    Trace.emit(Seq("i" -> 2), path, append = true, echo = echoed += _)
    assert(Files.readAllLines(Paths.get(path)).asScala == Seq("""{"i":1}""", """{"i":2}"""))
    assert(echoed == Seq("""{"i":1}""", """{"i":2}"""))
    Trace.emit(Seq("i" -> 3), path, echo = _ => ())
    assert(Files.readAllLines(Paths.get(path)).asScala == Seq("""{"i":3}"""))
  }

  test("an untraced warehouse drain leaves profiles/ untouched") {
    def snapshot(): Map[Path, (Long, Long)] =
      if (!Files.isDirectory(Paths.get("profiles"))) Map.empty
      else Files.walk(Paths.get("profiles")).iterator.asScala
        .filter(Files.isRegularFile(_))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    val before = snapshot()
    val sf = "/root/testdata/sf0.001"
    val lay = Warehouse.Layout(tmpDir())
    Warehouse.genBaseLog(spark, sf, lay)
    Warehouse.genBaseDb(spark, sf, lay)
    // what st_warehouse_e2e records: the compiles over start and drain,
    // then all ten summaries
    val t = Trace()
    val qs = t.compiles(Warehouse.start(spark, lay))
    try {
      t.compiles(Warehouse.drainAll(spark, sf, lay, qs))
      assert(snapshot() == before)
      assert(Trace.off.spans.isEmpty && Trace.off.fields.isEmpty)
      t.progress(Warehouse.Layers.map { case (n, l) => s"$l.$n" -> qs(n) })
      assert(t.fields.size == 91 && t.fields.head._1 == "codegen.compiles")
      val got = t.fields.toMap
      assert(got("streaming.dwm.user_jump.dropped_rows") == 0L)
      assert(got("streaming.dwd.base_log.input_rows") ==
        spark.read.parquet(lay.topic(graft.io.KafkaTopology.Topics.OdsBaseLog))
          .count()) // the corpus lines and the log sentinel
    } finally qs.values.foreach(_.stop())
  }
}
