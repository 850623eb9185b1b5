package graft.streaming

import graft.SparkTestBase
import graft.streaming.dwd.BaseLog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** BaseLogApp chain: dirty split, 3-way content split, display explode,
  * is_new repair (fixtures per FIXTURES.md §A1/§A2). */
class BaseLogSpec extends SparkTestBase {
  import spark.implicits._

  private def pageJson(mid: String, ts: Long, lastPage: String,
      isNew: String = "0", displays: String = "[]") = {
    val lp = if (lastPage == null) "null" else s""""$lastPage""""
    s"""{"common":{"ar":"110000","ch":"web","is_new":"$isNew","mid":"$mid","vc":"v1"},
        |"page":{"during_time":1000,"last_page_id":$lp,"page_id":"home"},
        |"displays":$displays,"ts":$ts}""".stripMargin.replaceAll("\n", "")
  }
  private def startJson(mid: String, ts: Long) =
    s"""{"common":{"mid":"$mid","is_new":"1"},"start":{"entry":"icon","loading_time":1500},"ts":$ts}"""

  test("parse splits clean vs dirty (P1)") {
    val raw = Seq(pageJson("m1", 1000, null), "not json at all", "{bad").toDF("value")
    val parsed = BaseLog.parse(raw)
    assert(BaseLog.clean(parsed).count() == 1)
    assert(BaseLog.dirty(parsed).count() == 2)
  }

  test("three-way split: start vs page vs display explode (P5)") {
    val displays = """[{"display_type":"promo","item":"6","item_type":"sku_id","pos_id":5,"order":1},
                     |{"display_type":"query","item":"7","item_type":"sku_id","pos_id":2,"order":2}]"""
      .stripMargin.replaceAll("\n", "")
    val raw = Seq(
      startJson("m1", 1000),
      pageJson("m2", 2000, "home"),
      pageJson("m3", 3000, null, displays = displays)).toDF("value")
    val df = BaseLog.clean(BaseLog.parse(raw))
    assert(BaseLog.startLog(df).select("common.mid").as[String].collect().toSeq == Seq("m1"))
    assert(BaseLog.pageLog(df).count() == 2)
    val disp = BaseLog.displayLog(df)
    assert(disp.count() == 2)
    // parent page_id injected into each exploded display
    assert(disp.select("page_id").as[String].collect().toSet == Set("home"))
    assert(disp.select("item").as[String].collect().toSorted == Seq("6", "7"))
  }

  test("is_new repair rewrites repeat visitors (A6)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val out = BaseLog.repairIsNew(BaseLog.clean(BaseLog.parse(input.toDF())))
    val q = out.writeStream.format("memory").queryName("isnew_out")
      .outputMode("append").start()
    try {
      // first visit claims is_new=1 (kept); later visit claims 1 again (fixed to 0)
      input.addData(pageJson("m9", 1000, null, isNew = "1"))
      q.processAllAvailable()
      input.addData(pageJson("m9", 2000, null, isNew = "1"),
        pageJson("fresh", 3000, null, isNew = "1"))
      q.processAllAvailable()
      val rows = spark.table("isnew_out")
        .select("common.mid", "common.is_new", "ts")
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(("m9", "1", 1000L), ("m9", "0", 2000L), ("fresh", "1", 3000L)))
    } finally q.stop()
  }

  test("chain base_log fan-out: three DWD topics, display wire keys in order") {
    import scala.jdk.CollectionConverters._
    val displays = """[{"display_type":"promo","item":"6","item_type":"sku_id","pos_id":5,"order":1},
                     |{"display_type":"query","item":"7","item_type":"sku_id","pos_id":2,"order":2}]"""
      .stripMargin.replaceAll("\n", "")
    val batch = BaseLog.clean(BaseLog.parse(Seq(
      pageJson("m1", 1000, null, displays = displays),
      startJson("m2", 2000)).toDF("value")))
    val wire = Warehouse.baseLogWire(batch)
    val topics = wire.map(_._1)
    assert(topics.size == 3 &&
      topics.toSet == Set("dwd_page_log", "dwd_start_log", "dwd_display_log"))
    val values = wire.map { case (t, df) =>
      t -> df.select("value").as[String].collect().toSeq }.toMap
    assert(values("dwd_page_log").size == 1)
    assert(values("dwd_start_log").size == 1)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val shown = values("dwd_display_log").map(json.readTree)
    assert(shown.size == 2)
    for (d <- shown)
      assert(d.fieldNames().asScala.toSeq == Seq("ts", "mid", "page_id",
        "display_type", "item", "item_type", "pos_id", "order"))
    assert(shown.map(_.get("item").asText).toSorted == Seq("6", "7"))
  }

  implicit class SortedSeq(s: Seq[String]) {
    def toSorted: Seq[String] = s.sorted
  }
  implicit class SortedArr(s: Array[String]) {
    def toSorted: Seq[String] = s.toSeq.sorted
  }
}
