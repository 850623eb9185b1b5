package graft.core

import graft.SparkTestBase
import graft.ext.Dedup
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The cluster-resilience switch the Materialize scaladoc promises: with
  * `reliable = true` + a checkpoint dir, every `.staged` call site runs
  * through reliable `checkpoint()` (blocks on the cluster FS, survives
  * executor loss) instead of `localCheckpoint()` — SAME results, proven
  * here on the staging-heaviest pipeline (dedupCorpus: shingle scan,
  * LSH, verify, iterative connected components). Also pins the shared
  * `inParallel` helper's contract: input-order results, the original
  * exception, fail-fast cancellation, inline single thunks, and no pool
  * thread outliving a call. */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  private def nearDupCorpus() = {
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val base = Vector.tabulate(30) { i =>
      (i.toLong, Vector.fill(12 + rnd.nextInt(8))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dups = base.take(12).map { case (id, t) => (id + 100L, t) }
    (base ++ dups).toDF("doc_id", "text")
  }

  private def runPipeline() =
    Dedup.dedupCorpus(nearDupCorpus(), "text", "doc_id",
        k = 8, bands = 2, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  test("reliable checkpointing yields bit-identical pipeline output") {
    val local = runPipeline()
    val ckDir = tmpDir()
    spark.sparkContext.setCheckpointDir(ckDir)
    Materialize.reliable = true
    try {
      assert(runPipeline() == local)
      // prove checkpoint() actually engaged: the reliable path writes
      // RDD block files under the configured dir, localCheckpoint never
      // touches it
      val written = new java.io.File(ckDir).listFiles()
      assert(written != null && written.nonEmpty,
        s"reliable run left $ckDir empty - checkpoint() never engaged")
    } finally Materialize.reliable = false
  }

  test("reliable without a checkpoint dir fails fast, not silently local") {
    // fresh session state: clear the dir set by the other test if any
    val noDirSpark = spark.newSession()
    val prev = spark.sparkContext.getCheckpointDir
    // SparkContext has no unset API; simulate the misconfigured cluster
    // only when nothing else set a dir in this shared-session JVM
    if (prev.isEmpty) {
      Materialize.reliable = true
      try {
        val ex = intercept[Exception] {
          Materialize.stage(noDirSpark.range(10).toDF())
        }
        assert(ex.getMessage != null)
      } finally Materialize.reliable = false
    } else {
      // a dir exists session-wide: the reliable path must simply work
      Materialize.reliable = true
      try assert(Materialize.stage(noDirSpark.range(10).toDF()).count() == 10L)
      finally Materialize.reliable = false
    }
  }

  test("inParallel rethrows a failing thunk's own exception, not ExecutionException") {
    val ex = intercept[Throwable] {
      Materialize.inParallel(Seq(
        () => 1,
        () => throw new IllegalStateException("thunk 2 failed"),
        () => 3))
    }
    assert(ex.getClass == classOf[IllegalStateException])
    assert(ex.getMessage == "thunk 2 failed")
  }

  test("inParallel fails fast: the first failure interrupts a slow sibling") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      Materialize.inParallel(Seq(
        () => { threads.add(Thread.currentThread()); Thread.sleep(60000L); 1 },
        () => { threads.add(Thread.currentThread())
                throw new IllegalStateException("thunk 2 failed at once") }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage == "thunk 2 failed at once")
    assert(secs < 5.0, f"inParallel waited $secs%.1f s for the sleeping sibling")
    assert(threads.size == 2)
    for (t <- threads.asScala)
      assert(!t.isAlive, s"pool thread ${t.getName} outlived the call")
  }

  test("inParallel returns results in input order") {
    // later thunks finish first, so completion order is the reverse
    val n = 6
    val out = Materialize.inParallel((0 until n).map { i =>
      () => { Thread.sleep((n - i) * 20L); i * i }
    })
    assert(out == (0 until n).map(i => i * i))
  }

  test("inParallel runs a single thunk on the calling thread") {
    val caller = Thread.currentThread()
    assert(Materialize.inParallel(Seq(() => Thread.currentThread())) == Seq(caller))
  }

  test("inParallel leaves no pool thread alive after success or failure") {
    val caller = Thread.currentThread()
    def recording(ts: java.util.Queue[Thread], fail: Boolean) =
      (0 until 4).map { i =>
        () => {
          ts.add(Thread.currentThread()); Thread.sleep(20)
          if (fail && i == 1) throw new RuntimeException("boom")
          i
        }
      }
    val ok = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    assert(Materialize.inParallel(recording(ok, fail = false)) == (0 until 4))
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    intercept[RuntimeException](Materialize.inParallel(recording(failed, fail = true)))
    for (ts <- Seq(ok, failed); t <- ts.asScala) {
      assert(t != caller, "a multi-thunk call ran a thunk on the caller")
      assert(!t.isAlive, s"pool thread ${t.getName} outlived the call")
    }
    // a fresh pool per call: no thread is reused across calls
    assert(ok.asScala.toSet.intersect(failed.asScala.toSet).isEmpty)
  }
}
