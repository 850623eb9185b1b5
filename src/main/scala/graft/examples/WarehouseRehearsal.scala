package graft.examples

import org.apache.spark.sql.SparkSession
import graft.core.Trace
import graft.streaming.Warehouse

/** SCALING §9 measurement: the concurrent warehouse under MULTI-BATCH
  * steady-state flow — the property st_warehouse_e2e's single-file gate
  * cannot see. The ODS log is sliced into N time-ordered chunks replayed
  * one per micro-batch (maxFilesPerTrigger=1), so all ten layer queries
  * run live simultaneously: BaseLog emits page files while UniqueVisit /
  * Bounce / the four DWS apps are already consuming earlier ones, and
  * every layer's checkpoint, state store, and trigger loop contend for
  * the same local[32] JVM.
  *
  * Reports one JSON line: the end-to-end wall (query start + every drain
  * barrier) and events/s, the seven equivalence booleans of
  * st_warehouse_e2e, each phase wall, and each layer's progress summary
  * ([[graft.core.Trace.summary]]: micro-batches, input rows, busy /
  * addBatch / offsets / planning / commit ms, final keyed-state rows).
  * The run fails after the line if any boolean is false, so a
  * steady-state number from a diverging chain is never reported as a
  * pass (batching-invariance of every layer is part of what this
  * measures).
  *
  * Args: [sfDir] [chunks] [backend]  (default /root/testdata/sf0.1, 20,
  * hdfs; pass `rocksdb` to run the whole chain on the production state
  * backend — RocksDB with changelog checkpointing — and prove the same
  * conformance booleans hold there)
  */
object WarehouseRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chunks = args.lift(1).map(_.toInt).getOrElse(20)
    val rocks = args.lift(2).contains("rocksdb")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (rocks) graft.streaming.Runner.useRocksDBStateStore(spark)

    val root = java.nio.file.Files.createTempDirectory("graft_whr").toString
    val lay = Warehouse.Layout(root)
    Warehouse.genBaseLog(spark, sfDir, lay, chunks = chunks)
    Warehouse.genBaseDb(spark, sfDir, lay)
    val trace = Trace()
    val qs = trace.span("start_queries")(Warehouse.start(spark, lay,
      odsOptions = Map("maxFilesPerTrigger" -> "1")))
    try {
      Warehouse.drainAll(spark, sfDir, lay, qs, trace)
      val wall = trace.spans.map(_._2).sum / 1e3 // the start + every barrier
      val events = spark.read.parquet(s"$sfDir/events.parquet").count()
      // conformance under multi-batch flow: same booleans as the gate query
      val gateDf = Warehouse.equivalenceGate(spark, lay)
      val gate = gateDf.collect()(0)
      val flags = gateDf.schema.fieldNames.toSeq.zipWithIndex.map {
        case (n, i) => n -> gate.getBoolean(i) }
      Trace.emit(Seq("chunks" -> chunks,
        "backend" -> (if (rocks) "rocksdb" else "hdfs"),
        "wall_s" -> wall, "events_per_sec" -> events / wall) ++ flags ++
        Seq("phases" -> trace.phases) ++ trace.fields)
      require(flags.forall(_._2),
        "multi-batch chain diverged from its batch twins")
    } finally qs.values.foreach(_.stop())
    spark.stop()
  }
}
