package graft.streaming

import graft.SparkTestBase
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.Try

/** A single-layer fault in the live chain: WarehouseRestartSpec stops all
  * ten queries at once; here ONE layer's input is poisoned — a file named
  * like a parquet part that is not parquet lands in the dwm_order_wide
  * topic dir, so the three queries reading that topic (payment_wide,
  * province, product) die on their first batch while the rest run on.
  * The drain must surface that failure promptly and by its own name: no
  * hang in processAllAvailable, no ExecutionException wrapper, and once
  * the caller stops the returned queries none is left running. */
class WarehouseFaultSpec extends SparkTestBase {

  test("a corrupt file in one layer's input topic fails the drain promptly") {
    val sf = "/root/testdata/sf0.001"
    val lay = Warehouse.Layout(tmpDir())
    Warehouse.genBaseLog(spark, sf, lay)
    Warehouse.genBaseDb(spark, sf, lay)
    val owDir = new java.io.File(
      lay.topic(graft.io.KafkaTopology.Topics.DwmOrderWide))
    owDir.mkdirs()
    val corrupt = new java.io.File(owDir, "part-corrupt.parquet")
    java.nio.file.Files.writeString(corrupt.toPath, "not a parquet file\n")

    val qs = Warehouse.start(spark, lay)
    val outcome: Try[Unit] =
      try {
        val drain = Future(Warehouse.drainAll(spark, sf, lay, qs))(
          ExecutionContext.global)
        try Await.ready(drain, 60.seconds).value.get
        catch { case _: TimeoutException =>
          fail("drainAll hung for 60 s over a dead layer")
        }
      } finally qs.values.foreach(_.stop())

    val err = outcome.failed.getOrElse(
      fail("drainAll returned normally over a corrupt topic file"))
    assert(!err.isInstanceOf[java.util.concurrent.ExecutionException],
      s"the layer's own error must surface, not a pool wrapper: $err")
    val causes = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(e =>
      Option(e.getMessage).exists(_.contains(corrupt.getName))),
      s"no cause names ${corrupt.getName}: ${causes.map(_.toString)}")
    assert(spark.streams.active.isEmpty,
      s"queries left running: ${spark.streams.active.map(_.name).toSeq}")
  }
}
