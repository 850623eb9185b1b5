package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.core.{HostProbe, Tables}
import graft.streaming.Warehouse

/** The system-under-test side of the benchmark: one JVM per run. It calls
  * only public entry points (`Warehouse`, `Curation.curate`, `Tables`,
  * `Serving.dedupView` through `Warehouse.dwsTable`), times them from the
  * outside, and with `trace=1` registers a `StreamingQueryListener` and a
  * `SparkListener` for the per-layer split. It writes its raw measurements
  * as one JSON file (`out=`); `run.py` turns them into metrics.
  *
  * Arguments are `key=value`: workload, sf (input tables), work (scratch
  * root), out, seconds, trace, seed, cpus, reads (wh_catchup: dashboard
  * reads after the timed region), ce_max (curate: LM cap),
  * gate=1 (wh_catchup: run the seven-boolean equivalence gate after the
  * timed region).
  */
object Harness {

  /** Epoch milliseconds off a monotonic clock (shared with `run.py`'s
    * wall clock to the millisecond). */
  object Clock {
    private val e0 = System.currentTimeMillis().toDouble
    private val n0 = System.nanoTime()
    def ms: Double = e0 + (System.nanoTime() - n0) / 1e6
  }

  /** A fixed amount of integer work over a 4 MB table walked in a
    * pseudo-random order, so that it feels the shared caches and memory as
    * the program does: the yardstick of [[SpeedProbe]]. */
  def probeKernel(table: Array[Int]): Int = {
    val mask = table.length - 1
    var (i, x, acc) = (0, 1, 0)
    while (i < 200000) {
      x = x * 1103515245 + 12345
      val j = (x >>> 8) & mask
      acc += table(j)
      table(j) = acc ^ i
      i += 1
    }
    acc
  }

  /** The host's speed over the run. Other tenants of a shared host change
    * how much a core does per second of CPU time (clock frequency, shared
    * caches), so the same work costs more CPU time while they are busy.
    * This thread times [[probeKernel]] in its own CPU time every 100 ms;
    * `run.py` divides the program's CPU time by the kernel's to cancel the
    * host's speed. */
  final class SpeedProbe extends Thread("perfbench-speed-probe") {
    setDaemon(true)
    val samples = new ConcurrentLinkedQueue[Seq[Double]]() // (epoch ms, kernel CPU ms)
    @volatile private var on = true
    @volatile var sink = 0
    def finish(): Unit = { on = false; join() }
    override def run(): Unit = {
      val tm = java.lang.management.ManagementFactory.getThreadMXBean
      val table = Array.tabulate(1 << 20)(i => i)
      (0 until 50).foreach(_ => sink += probeKernel(table)) // compiled before the first sample
      while (on) {
        val c0 = tm.getCurrentThreadCpuTime
        sink += probeKernel(table)
        samples.add(Seq(Clock.ms, (tm.getCurrentThreadCpuTime - c0) / 1e6))
        Thread.sleep(100)
      }
    }
  }

  final case class Span(id: Int, parent: Int, name: String, start: Double,
      end: Double)

  /** In-memory spans, kept only when tracing; written when the run ends. */
  final class Spans(on: Boolean) {
    val all = new ConcurrentLinkedQueue[Span]()
    private val ids = new AtomicInteger(0)
    def newId(): Int = ids.incrementAndGet()
    def add(s: Span): Unit = if (on) all.add(s)
    /** Runs `body` under a fresh span; returns its result and wall ms. */
    def timed[T](name: String, parent: Int)(body: Int => T): (T, Double) = {
      val id = newId()
      val s = Clock.ms
      val r = body(id)
      val e = Clock.ms
      add(Span(id, parent, name, s, e))
      (r, e - s)
    }
  }

  /** Streaming progress, kept raw; attributed to query names at the end. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  final class JobRec(val start: Double, val group: String, val batch: String,
      val op: String, val site: String) {
    @volatile var end: Double = start
    val cpuNs = new AtomicLong(); val shuffle = new AtomicLong(); val spill = new AtomicLong()
  }

  /** Per-job task totals (CPU, shuffle write, spill) with the job's
    * attribution keys: its job group (a streaming run id), its batch id,
    * the benchmark op it ran under, and its call-site layer. */
  final class Jobs extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val details = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.time.toDouble, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), prop("perfbench.op"), callSiteLayer(details)))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null && j.isDefined) {
        val r = j.get
        r.cpuNs.addAndGet(m.executorCpuTime)
        r.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** The first `graft` frame outside `graft.core` in a job's call site,
    * as `<package>.<snake_case object>` (graft.ext.LmScore → ext.lm_score). */
  def callSiteLayer(details: String): String =
    details.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.core."))
      .map { l =>
        val parts = l.split("[.(]")
        val cls = parts(2).takeWhile(_ != '$')
        parts(1) + "." + cls.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase
      }.getOrElse("")

  // ------------------------------------------------------------------
  // minimal JSON writer
  // ------------------------------------------------------------------

  def js(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(js).mkString("[", ",", "]")
    case a: Array[_] => js(a.toSeq)
    case o => js(o.toString)
  }

  // ------------------------------------------------------------------
  // the dashboard: publisher-shaped reads of the DWS tables
  // ------------------------------------------------------------------

  /** Visitor totals by hour, keyword top-10, province totals — each one
    * `Warehouse.dwsTable` (the ReplacingMergeTree view) plus an ADS
    * aggregation. */
  def warehouseReads(spark: SparkSession, lay: Warehouse.Layout): Seq[() => DataFrame] = Seq(
    () => Warehouse.dwsTable(spark, lay, "visitor")
      .groupBy(substring(col("stt"), 1, 13).as("hour"))
      .agg(sum("pv_ct").as("pv"), sum("uv_ct").as("uv"),
        sum("uj_ct").as("uj"), sum("dur_sum").as("dur"))
      .orderBy("hour"),
    () => Warehouse.dwsTable(spark, lay, "keyword")
      .groupBy("word").agg(sum("ct").as("ct"))
      .orderBy(desc("ct"), col("word")).limit(10),
    () => Warehouse.dwsTable(spark, lay, "province")
      .groupBy("province_name")
      .agg(sum("order_amount").as("amount"), sum("order_count").as("orders"))
      .orderBy("province_name"))

  /** `n` reads back to back (a closed loop), kinds drawn from `seed`; each
    * read's wall, planning time (the query's tracker phases) and the rest. */
  def dashboard(spark: SparkSession, reads: Seq[() => DataFrame], n: Int,
      seed: Long, spans: Spans, parent: Int): Map[String, Any] = {
    val rnd = new scala.util.Random(seed)
    val (lat, plan, exec) = (mutable.ArrayBuffer[Double](),
      mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
    var failed = 0
    (0 until n).foreach { i =>
      val kind = rnd.nextInt(reads.size)
      try {
        val (df, ms) = spans.timed(s"ads.read.$kind", parent) { id =>
          spark.sparkContext.setLocalProperty("perfbench.op", s"read:$id")
          try { val df = reads(kind)(); df.collect(); df }
          finally spark.sparkContext.setLocalProperty("perfbench.op", null)
        }
        val p = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        lat += ms; plan += p; exec += ms - p
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] read $i failed: $e")
      }
    }
    Map("lat_ms" -> lat.toSeq, "plan_ms" -> plan.toSeq, "exec_ms" -> exec.toSeq,
      "attempted" -> n, "failed" -> failed)
  }

  // ------------------------------------------------------------------
  // helpers
  // ------------------------------------------------------------------

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def inThreads(thunks: (() => Unit)*): Unit = {
    val err = new ConcurrentLinkedQueue[Throwable]()
    val ts = thunks.map(t => new Thread(() =>
      try t() catch { case e: Throwable => err.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    Option(err.peek()).foreach(e => throw e)
  }

  def genOds(spark: SparkSession, sf: String, lay: Warehouse.Layout): Unit =
    inThreads(() => Warehouse.genBaseLog(spark, sf, lay),
      () => Warehouse.genBaseDb(spark, sf, lay))

  /** A zero-column one-row frame: `visitorResult` without the gate. */
  def noGate(spark: SparkSession): DataFrame = spark.range(1).drop("id")

  /** CPU time of this JVM so far, every thread (Spark's, JIT, GC), in ms.
    * Time the host gives to other tenants is not in it, so on a shared host
    * it measures the program's work where the wall clock also measures
    * its neighbours. */
  def processCpuMs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still reachable after the timed work (MB): what the program
    * keeps between operations — state stores of live queries, cached and
    * checkpointed frames — without the garbage a peak reading would count,
    * which depends on when the collector happened to run. Full collections
    * repeat until the reading settles (within 1 MB, at most six): between
    * them Spark's ContextCleaner drops the blocks of frames the previous
    * collection found unreachable. */
  def retainedHeapMb(): Double = {
    def used = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }
    var (prev, cur, n) = (Double.MaxValue, used, 1)
    while (prev - cur > 1.0 && n < 6) {
      Thread.sleep(250)
      prev = cur; cur = used; n += 1
    }
    cur
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Small-file write+fsync latency p50 (ms) on the scratch filesystem,
    * where the chain's checkpoints live. */
  def fsyncP50(dir: Path): Double = {
    Files.createDirectories(dir)
    val xs = (0 until 32).map { i =>
      val f = dir.resolve(s"s$i")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(Array.fill(64)(i.toByte))); ch.force(true) }
      finally ch.close()
      Files.delete(f)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    xs(xs.size / 2)
  }

  def batchCounts(qs: Map[String, StreamingQuery]): Map[String, Long] =
    qs.map { case (n, q) => n -> Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L) }

  // ------------------------------------------------------------------
  // main
  // ------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work"))
    val sf = a("sf")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val cpus = a("cpus").toInt
    val spans = new Spans(trace)
    val out = mutable.LinkedHashMap[String, Any]()
    def lay(name: String) = Warehouse.Layout(work.resolve(name).toString)
    val probe = new SpeedProbe
    probe.start()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.contractCheck(spark, sf)

    val progress = new Progress
    val jobs = new Jobs
    var attempted = 0
    var failed = 0
    val phase = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var region = (0.0, 0.0)
    var cpu0 = (0L, 0L)
    var gc0 = 0L
    def beginRegion(): Unit = {
      if (trace) {
        spark.streams.addListener(progress)
        spark.sparkContext.addSparkListener(jobs)
      }
      region = (Clock.ms, 0.0); cpu0 = HostProbe.cpuSample(); gc0 = gcMs
      out("setup_end_ms") = region._1
      out("setup_cpu_ms") = processCpuMs
    }
    def endRegion(): Unit = {
      region = (region._1, Clock.ms)
      out("foreign_cores") = HostProbe.otherCores(cpu0, HostProbe.cpuSample(),
        (region._2 - region._1) / 1000.0)
      out("gc_ms") = gcMs - gc0
    }
    def underOp[T](kind: String, id: Int)(body: => T): T = {
      spark.sparkContext.setLocalProperty("perfbench.op", s"$kind:$id")
      try body finally spark.sparkContext.setLocalProperty("perfbench.op", null)
    }
    val root = spans.newId()
    val t00 = Clock.ms
    var queryRuns = Map.empty[String, String] // run id -> query name
    val retained = mutable.ArrayBuffer[Double]()
    workload match {
      case "wh_catchup" =>
        // the chain's state partitions, as the registry's warehouse entry sizes them
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        val tmpl = lay("template")
        val (_, genMs) = spans.timed("warehouse.gen", root)(_ => genOds(spark, sf, tmpl))
        phase("gen_s") = genMs / 1000
        beginRegion()
        val deadline = region._1 + seconds * 1000
        val reps = mutable.ArrayBuffer[Map[String, Any]]()
        var last: Warehouse.Layout = null
        do {
          val i = reps.size
          val l = lay(s"rep$i")
          copyTree(Paths.get(tmpl.root, "topics"), Paths.get(l.root, "topics"))
          val (t0, c0) = (Clock.ms, processCpuMs)
          val (qs, startMs) = spans.timed("warehouse.start", root)(_ => Warehouse.start(spark, l))
          queryRuns ++= qs.map { case (n, q) => q.runId.toString -> n }
          val (_, drainMs) = spans.timed("warehouse.drain", root)(_ =>
            Warehouse.drainAll(spark, sf, l, qs))
          val (t1, c1) = (Clock.ms, processCpuMs)
          retained += retainedHeapMb() // queries still live, state loaded
          reps += Map("t0" -> t0, "t1" -> t1, "cpu_ms" -> (c1 - c0), "start_ms" -> startMs,
            "drain_ms" -> drainMs, "batches" -> batchCounts(qs))
          qs.values.foreach(_.stop())
          phase("start_s") += startMs / 1000; phase("drain_s") += drainMs / 1000
          attempted += 1
          Warehouse.visitorResult(spark, l, noGate(spark))
            .write.parquet(work.resolve(s"check/visitor_rep$i").toString)
          last = l
        } while (Clock.ms < deadline)
        endRegion()
        out("reps") = reps.toSeq
        // the dashboard over the caught-up tables, after the timed region
        val reads = dashboard(spark, warehouseReads(spark, last), a("reads").toInt,
          seed, spans, root)
        out("reads") = reads
        attempted += reads("attempted").asInstanceOf[Int]
        failed += reads("failed").asInstanceOf[Int]
        if (a.get("gate").contains("1")) {
          val (_, gateMs) = spans.timed("warehouse.gate", root) { id =>
            underOp("gate", id) {
              Warehouse.visitorResult(spark, last, Warehouse.equivalenceGate(spark, last))
                .write.parquet(work.resolve("check/visitor_gate").toString)
            }
          }
          phase("gate_s") = gateMs / 1000
          attempted += 1
        }

      case "curate" =>
        def curate(dir: String) = graft.ext.Curation.curate(
          Tables.load(spark, dir, "documents"), "text", "doc_id", "lang", "n_chars",
          qualityMin = 0.45, dupFracMax = 0.1, ceMax = a("ce_max").toDouble, benchMod = 7,
          weights = Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15,
            "fr" -> 0.15),
          packBudget = 512, minSharedPct = 20)
        beginRegion()
        val deadline = region._1 + seconds * 1000
        val (calls, callsCpu) = (mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
        do {
          val i = calls.size
          val c0 = processCpuMs
          val (_, ms) = spans.timed("ext.curate", root) { id =>
            underOp("curate", id) {
              curate(sf).write.parquet(work.resolve(s"check/curate$i").toString)
            }
          }
          calls += ms
          callsCpu += processCpuMs - c0
          retained += retainedHeapMb()
          attempted += 1
        } while (Clock.ms < deadline)
        endRegion()
        out("calls_ms") = calls.toSeq
        out("calls_cpu_ms") = callsCpu.toSeq
    }
    spans.add(Span(root, 0, s"workload.$workload", t00, Clock.ms))

    out("attempted") = attempted
    out("failed") = failed
    out("phase") = phase.toMap
    out("region") = Seq(region._1, region._2)
    out("peak_rss_mb") = peakRssMb
    out("retained_heap_mb") = retained.max
    out("env") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "state_partitions" -> (if (workload.startsWith("wh_")) "2" else "n/a"),
      "fsync_p50_ms" -> fsyncP50(work.resolve("fsync_probe")))
    if (trace) {
      Thread.sleep(500) // let the listener bus deliver the last events
      out("trace") = traceOut(progress, jobs, queryRuns, spans, region)
    }
    probe.finish()
    out("probe") = probe.samples.asScala.toSeq
    out("done_ms") = Clock.ms
    Files.writeString(Paths.get(a("out")), js(out))
    spark.stop()
  }

  /** Per-query progress sums, per-job task totals (by streaming query,
    * call-site layer and op), batch and job spans, all over the timed
    * region. */
  def traceOut(progress: Progress, jobs: Jobs, runs: Map[String, String],
      spans: Spans, region: (Double, Double)): Map[String, Any] = {
    def inRegion(t: Double) = t >= region._1 && t <= region._2
    val perQuery = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
    val baseLog = mutable.ArrayBuffer[Seq[Double]]()
    val batchSpan = mutable.Map[(String, String), Int]()
    val evs = progress.events.asScala.toSeq
      .map(e => (e.progress, java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble))
      .filter(p => inRegion(p._2) && runs.contains(p._1.runId.toString))
      .sortBy(_._2)
    evs.foreach { case (p, t) =>
      val q = runs(p.runId.toString)
      val m = perQuery.getOrElseUpdate(q, mutable.Map[String, Double]().withDefaultValue(0.0))
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      m("batches") += 1; m("input_rows") += p.numInputRows
      m("busy_ms") += d("triggerExecution"); m("add_batch_ms") += d("addBatch")
      m("offsets_ms") += d("latestOffset") + d("getBatch")
      m("plan_ms") += d("queryPlanning")
      m("commit_ms") += d("walCommit") + d("commitOffsets")
      m("state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
      val id = spans.newId()
      batchSpan((p.runId.toString, p.batchId.toString)) = id
      spans.add(Span(id, -1, s"batch.$q", t, t + d("triggerExecution")))
      if (q == "base_log") baseLog += Seq(t + d("triggerExecution"), m("input_rows"))
    }
    val layers = mutable.Map[String, mutable.Map[String, Double]]()
    jobs.jobs.values().asScala.toSeq.filter(j => inRegion(j.start)).foreach { j =>
      val key = runs.get(j.group).map("streaming." + _)
        .orElse(Option(j.site).filter(_.nonEmpty))
        .getOrElse(j.op.takeWhile(_ != ':') match {
          case "curate" => "ext.curation"
          case "" => "other"
          case k => k
        })
      val m = layers.getOrElseUpdate(key, mutable.Map[String, Double]().withDefaultValue(0.0))
      m("jobs") += 1; m("task_cpu_ms") += j.cpuNs.get / 1e6
      m("shuffle_bytes") += j.shuffle.get; m("spill_bytes") += j.spill.get
      val parent = batchSpan.get((j.group, j.batch))
        .orElse(j.op.split(':').lift(1).map(_.toInt)).getOrElse(-1)
      spans.add(Span(spans.newId(), parent, s"job.$key", j.start, j.end))
    }
    Map("queries" -> perQuery.map { case (k, v) => k -> v.toMap }.toMap,
      "layers" -> layers.map { case (k, v) => k -> v.toMap }.toMap,
      "base_log_batches" -> baseLog.toSeq,
      "spans" -> spans.all.asScala.toSeq.sortBy(_.start).map(s =>
        Seq(s.id, s.parent, s.name, s.start, s.end)))
  }
}
