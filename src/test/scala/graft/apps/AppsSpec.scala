package graft.apps

import graft.SparkTestBase
import graft.streaming.Runner
import graft.streaming.dwm.{OrderWide, PaymentWide}
import graft.streaming.dwd.BaseLog
import graft.streaming.dws.WindowStats
import org.apache.spark.sql.functions._

/** Reference-app compositions, built from the layer modules the live chain
  * (graft.streaming.Warehouse.start) wires, plus recovery semantics. */
class AppsSpec extends SparkTestBase {
  import spark.implicits._

  private def page(mid: String, ts: Long, last: String) = {
    val lp = if (last == null) "null" else s""""$last""""
    s"""{"common":{"mid":"$mid","is_new":"0"},"page":{"last_page_id":$lp,"page_id":"home","during_time":5},"ts":$ts}"""
  }

  test("baseLog app splits all four outputs in one pass") {
    val parsed = BaseLog.parse(Seq(
      page("m1", 1000, null),
      """{"common":{"mid":"m2"},"start":{"entry":"icon"},"ts":2000}""",
      "corrupt!").toDF("value"))
    val clean = BaseLog.clean(parsed)
    assert(BaseLog.pageLog(clean).count() == 1 &&
      BaseLog.startLog(clean).count() == 1 && BaseLog.dirty(parsed).count() == 1)
  }

  test("Runner recovery: restarting from checkpoint does not re-emit (§2.8)") {
    val dir = tmpDir()
    // file-source input so the restarted query can resume from offsets
    Seq((1L, "a"), (2L, "a")).toDF("id", "dt")
      .write.parquet(s"$dir/in/batch0")
    val schema = "id LONG, dt STRING"
    def start() = Runner.toParquet(
      spark.readStream.schema(schema).parquet(s"$dir/in/*"),
      s"$dir/out", s"$dir/ckpt")
    val q1 = start(); q1.awaitTermination(30000)
    assert(spark.read.parquet(s"$dir/out").count() == 2)
    // restart with NO new input: checkpoint replay must emit nothing new
    val q2 = start(); q2.awaitTermination(30000)
    assert(spark.read.parquet(s"$dir/out").count() == 2)
    // new file after restart is picked up exactly once
    Seq((3L, "b")).toDF("id", "dt").write.mode("append").parquet(s"$dir/in/batch1")
    val q3 = start(); q3.awaitTermination(30000)
    assert(spark.read.parquet(s"$dir/out").count() == 3)
  }

  test("orderWide + paymentWide app chain with dim enrichment (J1/J2/J3/F8)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.{Beans => B}
    // typed P2 surface: CDC 'after' maps → beans (strict parse-to-bean)
    val orderInfo = Seq(
      B.OrderInfo(1L, 11L, 100L, "1001", BigDecimal("50.00"),
        "2021-12-01 10:00:00", "2021-12-01", "10", 10000L))
      .toDF()
    val orderDetail = Seq(
      B.OrderDetail(7L, 1L, 31L, 2L, "skuA", BigDecimal("25.00"),
        BigDecimal("50.00"), "2021-12-01 10:00:01", 11000L),
      B.OrderDetail(8L, 1L, 32L, 1L, "skuB", BigDecimal("9.99"),
        BigDecimal("9.99"), "2021-12-01 10:01:00", 70000L)) // outside ±5s
      .toDF()
    val dimUser = Seq((100L, "F", "1990-12-02")).toDF("id", "gender", "birthday")
    val wide = OrderWide.withUserAge(OrderWide.enrich(
      OrderWide.intervalJoin(
        OrderWide.prefixed(orderInfo, "o_"),
        OrderWide.prefixed(orderDetail, "d_")),
      Seq(("u_", dimUser, "o_user_id", "id"))))
    val rows = wide.select("d_id", "u_gender", "user_age")
      .as[(Long, String, Int)].collect().toSeq
    assert(rows == Seq((7L, "F", 31))) // detail 8 outside the ±5s bound
    // payment follows the order within 15 min → joins
    val payment = Seq(
      B.PaymentInfo(900L, 1L, 100L, BigDecimal("50.00"), "subj", "1102",
        "2021-12-01 10:10:00", 610000L)).toDF()
    val pw = PaymentWide.mergedView(PaymentWide.intervalJoin(
      OrderWide.prefixed(payment, "p_"),
      OrderWide.prefixed(wide.select(col("o_id").as("order_id"),
        col("o_create_ts").as("create_ts"), col("user_age")), "ow_")))
    assert(pw.select("p_id", "ow_user_age").as[(Long, Int)].collect().toSeq ==
      Seq((900L, 31)))
    assert(pw.columns.contains("payment_create_time")) // P11 rename
  }

  test("provinceStats app over order-wide rows (A3 shape)") {
    val ow = Seq(
      (1L, "beijing", "110", "bj-1", 101L, java.math.BigDecimal.valueOf(10.0), 1000L),
      (1L, "beijing", "110", "bj-1", 101L, java.math.BigDecimal.valueOf(5.0), 2000L),
      (2L, "shanghai", "310", "sh-1", 102L, java.math.BigDecimal.valueOf(7.0), 3000L))
      .toDF("province_id", "province_name", "province_area_code",
        "province_iso_code", "order_id", "split_total_amount", "ts")
    val got = WindowStats.provinceStats(ow)
      .select("province_name", "order_count", "order_amount")
      .as[(String, Int, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3.doubleValue()))).toMap
    assert(got("beijing") == ((1, 15.0))) // distinct order 101 counted once
    assert(got("shanghai") == ((1, 7.0)))
  }
}
