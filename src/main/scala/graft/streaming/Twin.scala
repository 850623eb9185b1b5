package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming-twin lifecycle, written once. A registry `st_*` twin runs
  * a real Structured Streaming query over a file stream, drains it to
  * completion and hands the sink's rows to the batch oracle. Each run is
  * its own query with its own checkpoint (no query or session is shared
  * between twins), and the query is stopped on every exit path, so a
  * failing twin leaves nothing in `spark.streams.active`.
  *
  * Two sink kinds, each with a fixed trigger:
  *  - [[memory]]: the memory sink under the default trigger; the drained
  *    rows are the session table `name` (replaced by every run).
  *  - [[parquet]]: a checkpointed `foreachBatch` ([[Runner.toBatchSink]],
  *    AvailableNow) whose body writes into a fresh scratch `out` dir.
  *
  * A memory twin's `waves` are thunks run after the first drain, each
  * followed by another drain of the same running query — a sentinel
  * append that pushes the watermark past the last real event, so
  * append-mode windows and event-time timers fire. */
object Twin {

  def memory(out: DataFrame, name: String, mode: String = "append",
      waves: Seq[() => Unit] = Nil): DataFrame = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      q.processAllAvailable()
      waves.foreach { w => w(); q.processAllAvailable() }
    } finally q.stop()
    out.sparkSession.table(name)
  }

  /** Returns the `out` dir under a fresh `Scratch.tempDir(prefix)`; `body`
    * gets each micro-batch, its id and that dir. */
  def parquet(stream: DataFrame, prefix: String)(
      body: (DataFrame, Long, String) => Unit): String = {
    val scratch = graft.core.Scratch.tempDir(prefix)
    val out = s"$scratch/out"
    drain(Runner.toBatchSink(stream, s"$scratch/ckpt") {
      (batch, batchId) => body(batch, batchId, out)
    })
    out
  }

  private def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()
}
