package graft.streaming

import graft.SparkTestBase
import graft.streaming.dwd.BaseLog
import graft.streaming.dwm.{Bounce, UniqueVisit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.get_json_object

/** Keyed-state operators against the reference's documented edge cases:
  * UV dedup (RT/app/dwm/UniqueVisitApp.java:21-23 walkthrough) and bounce
  * CEP (RT/app/dwm/UserJumpDetailApp.java:52-60 fixture +
  * UserJumpDetailAppBak.java:27-43 watermark walkthrough). */
class StatefulSpec extends SparkTestBase {
  import spark.implicits._

  private val DayMs = 86400000L

  private def pageJson(mid: String, ts: Long, lastPage: String) = {
    val lp = if (lastPage == null) "null" else s""""$lastPage""""
    s"""{"common":{"mid":"$mid","is_new":"0"},"page":{"last_page_id":$lp,"page_id":"home","during_time":5},"ts":$ts}"""
  }

  test("UV dedup: entry pages only, once per mid per day (A5)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val out = UniqueVisit.dedup(BaseLog.clean(BaseLog.parse(input.toDF())))
    val q = out.writeStream.format("memory").queryName("uv_out")
      .outputMode("append").start()
    try {
      input.addData(
        pageJson("mid1", 1000, null),      // kept: first visit of day
        pageJson("mid1", 2000, "home"),    // dropped: not an entry page
        pageJson("mid1", 3000, null),      // dropped: same day repeat
        pageJson("mid1", 1500, "home"),    // dropped: non-entry, out of ts order
        pageJson("mid2", 5000, null))      // kept: another mid's first visit
      q.processAllAvailable()
      input.addData(pageJson("mid1", DayMs + 500, null)) // next day: kept again
      q.processAllAvailable()
      val kept = spark.table("uv_out")
        .select(get_json_object($"value", "$.common.mid"),
          get_json_object($"value", "$.ts").cast("long")).as[(String, Long)]
        .collect().toSet
      assert(kept == Set(("mid1", 1000L), ("mid2", 5000L), ("mid1", DayMs + 500)))
    } finally q.stop()
  }

  test("UV dedup and bounce run unchanged on the RocksDB state store (large-state path)") {
    implicit val ctx = spark.sqlContext
    Runner.useRocksDBStateStore(spark)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
      // UV dedup under RocksDB
      val uvIn = MemoryStream[String]
      val uv = UniqueVisit.dedup(BaseLog.clean(BaseLog.parse(uvIn.toDF())))
        .writeStream.format("memory").queryName("uv_rocks").outputMode("append").start()
      // bounce CEP under RocksDB
      val bIn = MemoryStream[String]
      val bounce = Bounce.detect(BaseLog.clean(BaseLog.parse(bIn.toDF())))
        .writeStream.format("memory").queryName("bounce_rocks").outputMode("append").start()
      try {
        uvIn.addData(
          pageJson("mid1", 1000, null), pageJson("mid1", 3000, null),
          pageJson("mid2", 4000, null))
        uv.processAllAvailable()
        assert(spark.table("uv_rocks")
          .select(get_json_object($"value", "$.ts").cast("long")).as[Long]
          .collect().toSet == Set(1000L, 4000L))
        // RocksDB provider really engaged for the stateful operator
        assert(uv.lastProgress.stateOperators.nonEmpty)

        bIn.addData(
          pageJson("101", 10000, null),   // entry then entry → match bounce
          pageJson("101", 12000, null),
          pageJson("101", 13000, "home")) // pending killed by follow-up page
        bounce.processAllAvailable()
        bIn.addData(pageJson("103", 200000, null))
        bounce.processAllAvailable()
        assert(spark.table("bounce_rocks")
          .select(get_json_object($"value", "$.ts").cast("long")).as[Long]
          .collect().toSet == Set(10000L))
      } finally { uv.stop(); bounce.stop() }
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("bounce: match, strict-next break, and event-time timeout (C1)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val out = Bounce.detect(BaseLog.clean(BaseLog.parse(input.toDF())))
    val q = out.writeStream.format("memory").queryName("bounce_out")
      .outputMode("append").start()
    def bounced(): Set[(String, Long)] = spark.table("bounce_out")
      .select(get_json_object($"value", "$.common.mid"),
        get_json_object($"value", "$.ts").cast("long"))
      .as[(String, Long)].collect().toSet
    try {
      input.addData(
        pageJson("101", 10000, null),  // lone entry → must bounce via TIMEOUT
        pageJson("102", 11000, null),  // entry followed by entry → MATCH bounce
        pageJson("102", 12000, null),  // second entry (pending after matching)
        pageJson("102", 13000, "home")) // non-entry within 10s kills pending
      q.processAllAvailable()
      assert(bounced() == Set(("102", 11000L))) // match branch emitted already
      // advance the watermark far past 101's ts+10s (watermark picks up at
      // the NEXT batch, so push two batches)
      input.addData(pageJson("103", 200000, null))
      q.processAllAvailable()
      input.addData(pageJson("103", 300000, "home"))
      q.processAllAvailable()
      assert(bounced().contains(("101", 10000L)))   // timeout branch
      assert(!bounced().exists(_ == ("102", 12000L))) // killed by follow-up page
      // 103's second event was non-entry within... 100s gap > 10s: the gap
      // exceeded the window, so 103's entry at 200000 also bounced
      assert(bounced().contains(("103", 200000L)))
    } finally q.stop()
  }
}
