package graft.streaming

import graft.SparkTestBase
import graft.io.KafkaTopology.Topics
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.Try

/** A crash inside the exactly-once window: WarehouseRestartSpec stops the
  * chain between batches; here one topic sink dies right AFTER its first
  * publish — the batch's file is visible downstream, its checkpoint commit
  * is not written. The drain fails, every query stops, and the chain
  * restarts on the same layout and checkpoints, so the failed batch
  * replays under the same batch id. Its publishes carry the same
  * `<query>-<batch id>` names, so nothing may land twice: all seven
  * stream≡batch booleans hold and the terminal VisitorStats frame equals
  * a1_visitor_window computed in-process. Empty micro-batches publish
  * nothing once a dir holds a file: the drained chain keeps at most one
  * 0-row file (the schema-carrying first one) per topic or DWS dir. */
class WarehouseReplaySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // every query after the queries it reads from
  private val Topological = Seq("base_log", "base_db", "unique_visit",
    "user_jump", "order_wide", "payment_wide", "visitor", "province",
    "keyword", "product")

  // each topic sink with the dir its batch publishes to first
  private val Sinks = Seq[(String, Warehouse.Layout => String)](
    "base_log" -> (_.topic(Topics.DwdPageLog)),
    "base_db" -> (_.dbRoot),
    "order_wide" -> (_.topic(Topics.DwmOrderWide)),
    "payment_wide" -> (_.topic(Topics.DwmPaymentWide)))

  /** Each dir the chain publishes into (every topic but the two ODS
    * ones, every DWS table) with its count of 0-row parquet files;
    * hidden stages are not published. */
  private def emptyFiles(lay: Warehouse.Layout): Map[String, Int] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.LocalInputFile
    import scala.jdk.CollectionConverters._
    def rows(f: java.nio.file.Path): Long = {
      val r = ParquetFileReader.open(new LocalInputFile(f))
      try r.getRecordCount finally r.close()
    }
    val ods = Set(Topics.OdsBaseLog, Topics.OdsBaseDb).map(lay.topic)
    Seq(s"${lay.root}/topics", s"${lay.root}/dws").flatMap { root =>
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => ods(p.getParent.toString) || p.toString.contains("/_"))
        .toList
      finally w.close()
    }.groupBy(_.getParent.toString)
      .map { case (d, fs) => d -> fs.count(rows(_) == 0) }
  }

  for ((sink, firstDir) <- Sinks)
    test(s"$sink dies after its first publish; the replayed batch publishes nothing twice") {
      val lay = Warehouse.Layout(tmpDir())
      Warehouse.genBaseLog(spark, sf, lay)
      Warehouse.genBaseDb(spark, sf, lay)

      // the crash comes after the first publish that put rows in the
      // sink's first topic (an empty batch would replay nothing visible)
      val crashed = new AtomicBoolean(false)
      val crashOnce = (name: String) =>
        if (name.startsWith(s"$sink-") && !crashed.get &&
            !spark.read.schema("value STRING").parquet(firstDir(lay)).isEmpty &&
            crashed.compareAndSet(false, true))
          throw new IllegalStateException(s"injected crash after publishing $name")
      val qs1 = Warehouse.start(spark, lay, Map.empty, crashOnce)
      val first =
        try {
          val drained = Try(Warehouse.drainAll(spark, sf, lay, qs1))
          // the survivors go idle before the stop: a stop that interrupts
          // a query's FIRST offset-log write leaves `offsets/.0.<uuid>.tmp`,
          // and Spark then refuses to restart that checkpoint
          // (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY)
          for (n <- Topological if qs1(n).isActive)
            Try(qs1(n).processAllAvailable())
          drained
        } finally qs1.values.foreach(_.stop())
      assert(crashed.get, s"$sink never published")
      val err = first.failed.getOrElse(
        fail(s"the drain returned normally over a dead $sink"))
      assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("injected crash"))),
        s"the drain failed, but not with the injected crash: $err")

      val qs2 = Warehouse.start(spark, lay)
      try Warehouse.drainAll(spark, sf, lay, qs2)
      finally qs2.values.foreach(_.stop())

      val empties = emptyFiles(lay)
      assert(empties.size >= 11, s"too few published dirs: ${empties.keys}")
      for ((dir, n) <- empties)
        assert(n <= 1, s"$dir holds $n 0-row files, not at most one")

      val gateDf = Warehouse.equivalenceGate(spark, lay)
      val gate = gateDf.collect()(0)
      assert(gate.length == 7)
      for ((n, i) <- gateDf.schema.fieldNames.zipWithIndex)
        assert(gate.getBoolean(i), s"$n failed after $sink replayed")
      val chain = Warehouse.visitorResult(spark, lay, spark.createDataFrame(
          java.util.Arrays.asList(gate), gateDf.schema))
        .select("stt", "edt", "event_type", "pv_ct", "dur_sum")
      val a1 = graft.queries.Registry.byName("a1_visitor_window")
        .run(spark, sf)
      assert(chain.exceptAll(a1).isEmpty && a1.exceptAll(chain).isEmpty,
        s"VisitorStats diverged from a1_visitor_window after $sink replayed")
    }
}
