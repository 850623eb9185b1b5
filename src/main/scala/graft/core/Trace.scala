package graft.core

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The one measurement mechanism of the warehouse and the probes: named
  * phase spans, the recorded per-query summary of streaming progress,
  * the JVM's codegen compiles over a body, task-metric totals over a
  * body, the host fields of a run, and one
  * JSON-line writer. Pure observation: nothing here changes a plan, and
  * only [[Trace.tasks]] attaches a listener, for the length of its body.
  *
  * The streaming summary uses the per-layer names of the repository
  * benchmark (`streaming.<layer>.<query>.<metric>`) with its definitions,
  * summed over the query's `recentProgress`:
  *   - `batches`: progress events (idle-trigger events included);
  *   - `input_rows`: Σ numInputRows;
  *   - `busy_ms`: Σ triggerExecution; `add_batch_ms`: Σ addBatch;
  *   - `offsets_ms`: Σ latestOffset + getBatch; `plan_ms`: Σ queryPlanning;
  *   - `commit_ms`: Σ walCommit + commitOffsets;
  *   - `state_rows`: Σ numRowsTotal over the last event's state operators;
  *   - `dropped_rows`: Σ numRowsDroppedByWatermark over every event's
  *     state operators (input rows behind the watermark).
  *
  * [[Trace.off]] records nothing: its spans only run their bodies. */
final class Trace private (on: Boolean, echo: String) {
  private val born = System.nanoTime()
  private val gc0 = Trace.gcMs
  private val open = ThreadLocal.withInitial[List[String]](() => Nil)
  // (path, ms) in start order; ms is NaN while the span is open
  private val spanBuf = mutable.ArrayBuffer.empty[(String, Double)]
  private val fieldBuf = mutable.LinkedHashMap.empty[String, Long]

  /** Runs `body` as a span named `name`, nested under the spans open on
    * this thread (`outer.name`), and returns its value. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val path = (name :: open.get).reverse.mkString(".")
      val slot = spanBuf.synchronized { spanBuf += path -> Double.NaN; spanBuf.size - 1 }
      open.set(name :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        open.set(open.get.tail)
        spanBuf.synchronized(spanBuf(slot) = path -> ms)
        if (echo.nonEmpty) System.err.println(f"[$echo] $path%-32s ${ms / 1e3}%.2f s")
      }
    }

  /** Every finished span as (path, ms), in start order. */
  def spans: Seq[(String, Double)] =
    spanBuf.synchronized(spanBuf.filterNot(_._2.isNaN).toSeq)

  /** Each duration (ms) recorded under the span path `path`. */
  def ms(path: String): Seq[Double] = spans.collect { case (`path`, m) => m }

  /** Records the progress summary of each (`<layer>.<query>`, query);
    * a repeated key keeps its first position and takes the new value. */
  def progress(qs: Seq[(String, StreamingQuery)]): Unit =
    if (on) fieldBuf.synchronized(qs.foreach { case (k, q) =>
      Trace.summary(k, q).foreach { case (m, v) => fieldBuf(m) = v }
    })

  /** Runs `body` and adds to the field `codegen.compiles` the classes
    * Janino compiled meanwhile, on every thread of the JVM: Spark's own
    * counter ([[Trace.compileCount]]), read before and after. */
  def compiles[T](body: => T): T =
    if (!on) body
    else {
      val c0 = Trace.compileCount
      try body
      finally fieldBuf.synchronized {
        fieldBuf("codegen.compiles") =
          fieldBuf.getOrElse("codegen.compiles", 0L) + Trace.compileCount - c0
      }
    }

  /** The recorded progress summaries and compile counts, in order. */
  def fields: Seq[(String, Long)] = fieldBuf.synchronized(fieldBuf.toSeq)

  /** The host fields of this run: cores, JVM uptime, GC wall since the
    * trace began, the small-file fsync latency of the checkpoint
    * filesystem ([[HostProbe.fsyncProbe]]), and the trace's age. */
  def env(): Seq[(String, Any)] = {
    val (fsP50, fsMax) = HostProbe.fsyncProbe()
    Seq("cores" -> Runtime.getRuntime.availableProcessors,
      "jvm_uptime_ms" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime,
      "gc_ms" -> (Trace.gcMs - gc0),
      "fsync_p50_ms" -> fsP50, "fsync_max_ms" -> fsMax,
      "total_ms" -> (System.nanoTime() - born) / 1000000L)
  }

  /** Finished spans as one object of whole milliseconds. */
  def phases: mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap(spans.map { case (p, m) => p -> math.round(m) }: _*)
}

object Trace {

  def apply(echo: String = ""): Trace = new Trace(true, echo)

  /** Records nothing. */
  val off: Trace = new Trace(false, "")

  /** The classes Spark's code generator has compiled in this JVM so
    * far: one per cache miss of `CodeGenerator.compile`, the count of its
    * "Code generated in" log lines. */
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Median of `xs`; NaN (written as null) when empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The progress summary of one query under `streaming.<key>.<metric>`;
    * see the [[Trace]] scaladoc for the definitions. */
  def summary(key: String, q: StreamingQuery): Seq[(String, Long)] = {
    val ps = q.recentProgress.toSeq
    def d(ks: String*): Long = ps.map(p => ks.map(k =>
      Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum).sum
    Seq("batches" -> ps.size.toLong,
      "input_rows" -> ps.map(_.numInputRows).sum,
      "busy_ms" -> d("triggerExecution"),
      "add_batch_ms" -> d("addBatch"),
      "offsets_ms" -> d("latestOffset", "getBatch"),
      "plan_ms" -> d("queryPlanning"),
      "commit_ms" -> d("walCommit", "commitOffsets"),
      "state_rows" -> ps.lastOption.fold(0L)(_.stateOperators.map(_.numRowsTotal).sum),
      "dropped_rows" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum)
      .map { case (m, v) => s"streaming.$key.$m" -> v }
  }

  /** Task-metric totals over every task that ended while a body ran. */
  final case class Tasks(tasks: Long, cpuMs: Double, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, readTasks: Long, peakTaskReadBytes: Long,
      spillBytes: Long)

  private val MarkerKey = "graft.trace.marker"

  /** Runs `body` under a task listener and returns its value with the
    * totals of every task that ended meanwhile (this session's and any
    * other's). A one-task marker job after the body closes the window:
    * the listener bus delivers events in order, so every task of the body
    * is counted before the marker's job start is seen. */
  def tasks[T](spark: SparkSession)(body: => T): (T, Tasks) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val closed = new CountDownLatch(1)
    var t = Tasks(0, 0, 0, 0, 0, 0, 0)
    var open = true
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(MarkerKey) == tag) {
          open = false
          closed.countDown()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).filter(_ => open).foreach { m =>
          val r = m.shuffleReadMetrics.totalBytesRead
          t = Tasks(t.tasks + 1, t.cpuMs + m.executorCpuTime / 1e6,
            t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
            t.shuffleReadBytes + r, t.readTasks + (if (r > 0) 1 else 0),
            math.max(t.peakTaskReadBytes, r),
            t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
        }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.setLocalProperty(MarkerKey, tag)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      closed.await(60, TimeUnit.SECONDS)
      (r, t)
    } finally sc.removeSparkListener(l)
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** One JSON object on one line, keys in the order given. A nested
    * `Map` is an object (in its iteration order: use a ListMap or a
    * LinkedHashMap), any other collection an array, `None`/null and a
    * non-finite double `null`; doubles keep at most four decimals. */
  def json(fields: Seq[(String, Any)]): String = {
    val sb = new java.lang.StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def obj(kvs: Iterable[(String, Any)]): Unit = {
      sb.append('{')
      kvs.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        str(k); sb.append(':'); value(v)
      }
      sb.append('}')
    }
    def value(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => value(x)
      case d: Double if d.isNaN || d.isInfinite => sb.append("null")
      case d: Double => sb.append(BigDecimal(d)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).bigDecimal
        .stripTrailingZeros.toPlainString)
      case f: Float => value(f.toDouble)
      case s: String => str(s)
      case m: collection.Map[_, _] =>
        obj(m.map { case (k, x) => k.toString -> x })
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); value(x) }
        sb.append(']')
      case x => sb.append(x.toString)
    }
    obj(fields)
    sb.toString
  }

  /** Writes `fields` as one JSON line: to `echo` (stdout by default) and,
    * when `path` is set, to that file, replacing it or, with `append`,
    * adding a line. A failed file write is reported, never thrown. */
  def emit(fields: Seq[(String, Any)], path: String = null,
      append: Boolean = false,
      echo: String => Unit = Console.out.println): String = {
    val line = json(fields)
    echo(line)
    if (path != null) try {
      val p = Paths.get(path).toAbsolutePath
      Files.createDirectories(p.getParent)
      Files.writeString(p, line + "\n", StandardOpenOption.CREATE,
        StandardOpenOption.WRITE,
        if (append) StandardOpenOption.APPEND
        else StandardOpenOption.TRUNCATE_EXISTING)
    } catch {
      case e: java.io.IOException => System.err.println(s"[trace] $path: $e")
    }
    line
  }
}
