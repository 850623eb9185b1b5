package graft.core

/** Host ambient-load probes shared by the measurement mains ([[graft.Bench]]
  * and the scale rehearsal). The operative signal is OTHER-PROCESS CPU —
  * (Δ/proc/stat busy jiffies − Δ/proc/self utime+stime) per wall second —
  * NOT loadavg: a 32-thread local Spark job drives loadavg to 5-12 all by
  * itself, so a loadavg gate either never opens or cries wolf on every
  * heavy query. /proc/self covers exactly the forked measurement JVM, so
  * the subtraction isolates the neighbors. loadavg is exposed as
  * corroborating (recorded, non-gating) evidence; the write+fsync I/O
  * probe additionally gates once pre-suite via [[waitForIoFloor]] —
  * hypervisor I/O weather is invisible to the foreign-CPU signal.
  */
object HostProbe {

  /** Foreign-CPU threshold (cores) above which a measurement window is
    * considered polluted. */
  val QuietOtherCores = 2.0

  /** (1-min, 5-min, 15-min) load averages, or "-1 -1 -1" off-Linux. */
  def loadAvg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "-1 -1 -1" }

  /** Write 64 MiB + fsync + read back, in MB/s — a coarse ambient-I/O
    * probe. Absolute value is page-cache-flattered; what matters is the
    * RELATIVE drop between a clean round and a degraded one. */
  def ioProbeMbps(): Double = {
    try {
      val f = java.io.File.createTempFile("graft_io_probe", ".bin")
      val buf = new Array[Byte](4 << 20)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      var i = 0
      while (i < 16) { out.write(buf); i += 1 }
      out.getFD.sync(); out.close()
      val in = new java.io.FileInputStream(f)
      while (in.read(buf) > 0) {}
      in.close(); f.delete()
      64.0 / ((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => -1.0 }
  }

  /** Small-file fsync latency (p50, max over 32 samples, ms) on the
    * filesystem the warehouse checkpoints live on (java.io.tmpdir), or
    * (-1, -1) if it cannot write there. The chain commits ~45
    * micro-batches × 10 queries, each a handful of offset/commit-log
    * fsyncs, so slow DURABILITY taxes it where the MB/s probe above
    * (throughput) sees nothing. */
  def fsyncProbe(): (Double, Double) = try {
    val dir = java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir"), "graft_fsync_probe")
    java.nio.file.Files.createDirectories(dir)
    val samples = (0 until 32).map { i =>
      val f = dir.resolve(s"s$i")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.write(java.nio.ByteBuffer.wrap(Array.fill(64)(i.toByte)))
        ch.force(true)
      } finally ch.close()
      java.nio.file.Files.deleteIfExists(f)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    (samples(samples.length / 2), samples.last)
  } catch { case _: java.io.IOException => (-1.0, -1.0) }

  /** (total busy jiffies across all CPUs, this process's jiffies). The
    * busy sum is user+nice+system+irq+softirq+steal — idle and iowait
    * excluded. USER_HZ is 100 on every linux this runs on. */
  def cpuSample(): (Long, Long) =
    try {
      val cpu = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().split("\\s+").drop(1).take(8).map(_.toLong)
      val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6) + cpu(7)
      val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        .split("\\s+")
      (busy, self(13).toLong + self(14).toLong)
    } catch { case _: Throwable => (-1L, -1L) }

  /** CPU cores consumed by OTHER processes between two samples taken
    * `wallSec` apart — the ambient-load signal that is immune to the
    * measurement JVM's own work. Negative/garbage samples report 0
    * (off-Linux). */
  def otherCores(pre: (Long, Long), post: (Long, Long),
      wallSec: Double): Double = {
    if (pre._1 < 0 || post._1 < 0 || wallSec <= 0) 0.0
    else math.max(0.0,
      ((post._1 - pre._1) - (post._2 - pre._2)) / 100.0 / wallSec)
  }

  /** Foreign CPU cores over a `sampleMs` observation window. */
  def otherCoresNow(sampleMs: Long): Double = {
    val pre = cpuSample()
    Thread.sleep(sampleMs)
    otherCores(pre, cpuSample(), sampleMs / 1000.0)
  }

  /** Block until the write+fsync probe clears `floorMbps` or `maxWaitSec`
    * elapses; returns (seconds waited, last probe MB/s). The foreign-CPU
    * gate cannot see this host's other degradation mode: hypervisor-level
    * I/O weather (round 11 measured the same suite at 213 s and 260 s two
    * hours apart with zero foreign CPU both times — the only divergent
    * evidence was this probe at 41.5 vs 18.6 MB/s pre-suite, and short
    * queries ran a broad ~1.2-3x slower in the degraded window). A floor
    * of 0 disables the gate. */
  def waitForIoFloor(floorMbps: Double, maxWaitSec: Int,
      label: String): (Double, Double) = {
    val t0 = System.nanoTime()
    var mbps = ioProbeMbps()
    while (floorMbps > 0 && mbps >= 0 && mbps < floorMbps &&
        (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      System.err.println(
        f"[bench] $label: io probe $mbps%.1f MB/s < floor $floorMbps%.1f, waiting...")
      Thread.sleep(20000)
      mbps = ioProbeMbps()
    }
    if (floorMbps > 0 && mbps >= 0 && mbps < floorMbps)
      System.err.println(
        s"[bench] $label: io still degraded after ${maxWaitSec}s, proceeding anyway")
    ((System.nanoTime() - t0) / 1e9, mbps)
  }

  /** Block until other processes consume < [[QuietOtherCores]] (3 s
    * sample) or `maxWaitSec` elapses. Returns seconds waited. */
  def waitForQuiet(maxWaitSec: Int, label: String): Double = {
    val t0 = System.nanoTime()
    var o = otherCoresNow(3000)
    while (o >= QuietOtherCores && (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      System.err.println(f"[bench] $label: host busy ($o%.1f foreign cores), waiting...")
      Thread.sleep(12000)
      o = otherCoresNow(3000)
    }
    if (o >= QuietOtherCores)
      System.err.println(s"[bench] $label: still busy after ${maxWaitSec}s, proceeding anyway")
    (System.nanoTime() - t0) / 1e9
  }
}
