package graft.streaming

import graft.SparkTestBase
import graft.streaming.dwd.DbRouting
import graft.streaming.dws.WindowStats
import graft.functions.Tokenize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** DWS window aggs, CDC routing (lookup plan, one route per key, next-batch
  * config liveness), tokenizer, the chain's batch publish, serving layer. */
case class Hot(ts: Long, vc: String, ch: String, ar: String, is_new: String,
    uv_ct: Long, pv_ct: Long, sv_ct: Long, uj_ct: Long, dur_sum: Long)

class DwsAndRoutingSpec extends SparkTestBase {
  import spark.implicits._

  test("visitor stats: 10s tumbling window, true sums of all measures (A1)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Hot]
    val q = WindowStats.visitorStats(in.toDF())
      .writeStream.format("memory").queryName("vs_out").outputMode("append").start()
    try {
      in.addData(
        Hot(1000, "v1", "web", "110", "0", 1, 0, 0, 0, 0),
        Hot(2000, "v1", "web", "110", "0", 0, 1, 0, 0, 700),
        Hot(9000, "v1", "web", "110", "0", 0, 1, 0, 1, 300),
        Hot(12000, "v1", "web", "110", "0", 0, 1, 0, 0, 100)) // next window
      q.processAllAvailable()
      in.addData(Hot(100000, "v1", "web", "110", "0", 0, 0, 0, 0, 0)) // close windows
      q.processAllAvailable()
      val rows = spark.table("vs_out")
        .select("stt", "uv_ct", "pv_ct", "uj_ct", "dur_sum")
        .as[(String, Long, Long, Long, Long)].collect().toMap2
      // window [0,10s): uv=1 pv=2 uj=1 dur=1000 — every measure truly summed
      assert(rows("1970-01-01 00:00:00") == (1L, 2L, 1L, 1000L))
      assert(rows("1970-01-01 00:00:10") == (0L, 1L, 0L, 100L))
    } finally q.stop()
  }

  test("keyword stats: search filter + tokenize + windowed count (A4/F9)") {
    implicit val ctx = spark.sqlContext
    implicit val ss: SparkSession = spark
    val in = MemoryStream[String]
    val parsed = graft.streaming.dwd.BaseLog.clean(
      graft.streaming.dwd.BaseLog.parse(in.toDF()))
    val q = WindowStats.keywordStats(parsed)
      .writeStream.format("memory").queryName("kw_out").outputMode("append").start()
    def search(item: String, ts: Long) =
      s"""{"common":{"mid":"m"},"page":{"last_page_id":"search","page_id":"good_list","item":"$item"},"ts":$ts}"""
    def nonSearch(ts: Long) =
      s"""{"common":{"mid":"m"},"page":{"last_page_id":"home","page_id":"good_list","item":"ignored"},"ts":$ts}"""
    try {
      in.addData(search("Apple iPhone", 1000), search("apple watch", 2000), nonSearch(3000))
      q.processAllAvailable()
      in.addData(search("flush", 100000))
      q.processAllAvailable()
      val rows = spark.table("kw_out").select("word", "ct")
        .as[(String, Long)].collect().filter(_._1 != "flush").toSet
      assert(rows == Set(("apple", 2L), ("iphone", 1L), ("watch", 1L)))
    } finally q.stop()
  }

  test("tokenizer: punctuation split + CJK bigrams + failure passthrough (F9)") {
    assert(Tokenize.tokenize("Apple iPhone-12 Pro") ==
      Seq("apple", "iphone", "12", "pro"))
    assert(Tokenize.tokenize("小米手机") == Seq("小米", "米手", "手机"))
    assert(Tokenize.tokenize("Apple手机") == Seq("apple", "手机"))
    assert(Tokenize.tokenize("") == Seq.empty)
    assert(Tokenize.tokenize(null) == Seq.empty)
  }

  test("CDC parse normalizes ops; routing projects + splits sinks (S2/J4/P4/K4)") {
    val cdc = DbRouting.parseCdc(Seq(
      """{"database":"gmall","tableName":"base_trademark","before":{},"after":{"id":"12","tm_name":"Apple","logo_url":"x.png"},"type":"CREATE"}""",
      """{"database":"gmall","tableName":"base_trademark","before":{"id":"13"},"after":{},"type":"delete"}""",
      """{"database":"gmall","tableName":"order_info","before":{},"after":{"id":"7","total_amount":"99.5"},"type":"insert"}""")
      .toDF("value"))
    assert(cdc.filter($"type" === "insert").count() == 2) // create→insert
    val live = DbRouting.dropDeletes(cdc)
    assert(live.count() == 2)
    val config = Seq(
      ("base_trademark", "insert", "hbase", "dim_base_trademark", "id,tm_name", "id", null),
      ("order_info", "insert", "kafka", "dwd_order_info", "id,total_amount", "id", null))
      .toDF("sourceTable", "operateType", "sinkType", "sinkTable",
        "sinkColumns", "sinkPk", "sinkExtend")
    val routed = DbRouting.route(live, config)
    val hbase = DbRouting.hbaseRoute(routed)
    assert(hbase.count() == 1)
    // P4: logo_url not in sinkColumns → projected away from the map
    val after = hbase.select($"after").as[Map[String, String]].head()
    assert(after == Map("id" -> "12", "tm_name" -> "Apple"))
    assert(DbRouting.kafkaRoute(routed).count() == 1)
    val ddl = DbRouting.generateDdl("dim_base_trademark", "id,tm_name", "id", null)
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS") && ddl.contains("`tm_name` STRING"))
  }

  private def tableProcess(rows: (String, String, String, String, String)*) =
    rows.toDF("sourceTable", "operateType", "sinkType", "sinkTable", "sinkColumns")

  private def cdcOf(lines: String*) =
    DbRouting.dropDeletes(DbRouting.parseCdc(lines.toDF("value")))

  test("routing is a config lookup: no broadcast exchange or hash join (J4)") {
    val routed = DbRouting.route(
      cdcOf("""{"database":"g","tableName":"order_info","after":{"id":"7","x":"1"},"type":"insert"}""",
        """{"database":"g","tableName":"base_dic","after":{"id":"9"},"type":"insert"}"""),
      tableProcess(("order_info", "insert", "kafka", "dwd_order_info", "id")))
    assert(routed.columns.toSeq ==
      Seq("database", "tableName", "type", "after", "sinkType", "sinkTable"))
    assert(routed.select("sinkTable", "after").as[(String, Map[String, String])]
      .collect().toSeq == Seq(("dwd_order_info", Map("id" -> "7"))))
    val plan = routed.queryExecution.executedPlan
    val broadcasts = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p @ (_: BroadcastExchangeExec | _: BroadcastHashJoinExec) => p.nodeName
    }
    assert(broadcasts.isEmpty, s"routing planned a broadcast: $broadcasts\n$plan")
  }

  test("routing rejects two config rows for one (sourceTable, operateType)") {
    val config = tableProcess(
      ("order_info", "insert", "kafka", "dwd_order_info", "id"),
      ("order_info", "update", "kafka", "dwd_order_info", "id"),
      ("order_info", "insert", "hbase", "dim_order_info", "id,x"))
    val ex = intercept[IllegalArgumentException] {
      DbRouting.route(cdcOf(
        """{"database":"g","tableName":"order_info","after":{"id":"7"},"type":"insert"}"""),
        config).collect()
    }
    assert(ex.getMessage.contains("sourceTable=order_info, operateType=insert"),
      ex.getMessage)
  }

  test("a config row added between micro-batches routes the next batch (J4 liveness)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val routedByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
    tableProcess(("order_info", "insert", "kafka", "dwd_order_info", "id"))
      .createOrReplaceTempView("table_process")
    val q = DbRouting.dropDeletes(DbRouting.parseCdc(in.toDF()))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val routed = DbRouting.route(batch, spark.table("table_process"))
        routedByBatch.put(id, routed.select("sinkTable").as[String].collect().toSet)
        ()
      }.start()
    def favor(id: Int) =
      s"""{"database":"g","tableName":"favor_info","after":{"id":"$id"},"type":"insert"}"""
    def order(id: Int) =
      s"""{"database":"g","tableName":"order_info","after":{"id":"$id"},"type":"insert"}"""
    try {
      in.addData(order(1), favor(2))
      q.processAllAvailable()
      tableProcess(
        ("order_info", "insert", "kafka", "dwd_order_info", "id"),
        ("favor_info", "insert", "kafka", "dwd_favor_info", "id"))
        .createOrReplaceTempView("table_process")
      in.addData(order(3), favor(4))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(routedByBatch.asScala.toSeq.sortBy(_._1).map(_._2) ==
      Seq(Set("dwd_order_info"), Set("dwd_order_info", "dwd_favor_info")))
  }

  test("dim upsert: last-write-wins by pk across batches (K3)") {
    val dir = tmpDir() + "/dim"
    val b1 = Seq(("1", "Apple", 100L), ("2", "Sony", 100L)).toDF("id", "tm_name", "ver")
    DbRouting.upsertDim(spark, b1, dir, "id", "ver")
    val b2 = Seq(("1", "APPLE-v2", 200L), ("3", "LG", 200L)).toDF("id", "tm_name", "ver")
    DbRouting.upsertDim(spark, b2, dir, "id", "ver")
    val dim = DbRouting.readDim(spark, dir).select("id", "tm_name")
      .as[(String, String)].collect().toSet
    assert(dim == Set(("1", "APPLE-v2"), ("2", "Sony"), ("3", "LG")))
  }

  test("publish: one file per batch name and partition; a file stream never sees the stage") {
    import scala.jdk.CollectionConverters._
    def leaves(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val w = java.nio.file.Files.walk(root)
      try w.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(root.relativize(_).toString).toSeq.sorted
      finally w.close()
    }
    val dir = tmpDir()
    Warehouse.publish(Seq("a", "b").toDF("value"), dir, "q-0")
    // a replayed batch carries the same name: nothing new is published
    Warehouse.publish(Seq("c").toDF("value"), dir, "q-0")
    assert(leaves(dir) == Seq("q-0.parquet"))
    // a crash between the stage write and the rename leaves a stage behind
    Seq("staged").toDF("value").coalesce(1).write.parquet(s"$dir/_stage/q-1")
    val q = spark.readStream.schema("value STRING").parquet(dir)
      .writeStream.format("memory").queryName("publish_seen").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("publish_seen").as[String].collect().sorted.toSeq ==
      Seq("a", "b"))

    val routed = tmpDir()
    Warehouse.publish(Seq(("t1", "x"), ("t2", "y"), ("t1", "z"))
      .toDF("sinkTable", "value"), routed, "base_db-0", "sinkTable")
    assert(leaves(routed) ==
      Seq("sinkTable=t1/base_db-0.parquet", "sinkTable=t2/base_db-0.parquet"))
    assert(spark.read.parquet(s"$routed/sinkTable=t1").as[String]
      .collect().sorted.toSeq == Seq("x", "z"))
  }

  test("publish: an empty batch adds a file only to a dir that holds none") {
    def files(dir: String): Seq[String] =
      Option(new java.io.File(dir).list()).toSeq.flatten
        .filter(_.endsWith(".parquet")).sorted
    val empty = Seq.empty[String].toDF("value")
    // the first file of a dir carries the schema even when it has no rows
    val fresh = tmpDir()
    Warehouse.publish(empty, fresh, "q-0")
    assert(files(fresh) == Seq("q-0.parquet"))
    assert(spark.read.parquet(fresh).schema.fieldNames.toSeq == Seq("value"))
    // after that, an empty batch publishes nothing and a non-empty one does
    Warehouse.publish(empty, fresh, "q-1")
    Warehouse.publish(Seq("a").toDF("value"), fresh, "q-2")
    Warehouse.publish(empty, fresh, "q-3")
    assert(files(fresh) == Seq("q-0.parquet", "q-2.parquet"))
    assert(Option(new java.io.File(fresh, "_stage").list()).forall(_.isEmpty))
    assert(spark.read.parquet(fresh).as[String].collect().toSeq == Seq("a"))
  }

  test("serving layer: gmv + topN by group over product_stats (A7)") {
    import graft.ads.Serving
    val ps = Seq(
      ("2021-12-01 00:00:00", 1L, "spuA", 100.0, 2L, 1000L),
      ("2021-12-01 00:00:10", 1L, "spuA", 50.0, 1L, 2000L),
      ("2021-12-01 00:00:10", 2L, "spuB", 200.0, 1L, 2000L),
      ("2021-12-02 00:00:00", 3L, "spuC", 999.0, 1L, 3000L))
      .toDF("stt", "spu_id", "spu_name", "order_amount", "order_ct", "ts")
      .withColumn("stt", $"stt".cast("timestamp"))
    assert(Serving.gmv(ps, "20211201").as[Double].head() == 350.0)
    val top = Serving.bySpu(ps, "20211201", 1)
      .select("spu_id", "order_amount").as[(Long, Double)].collect().toSeq
    assert(top == Seq((2L, 200.0)))
    // ReplacingMergeTree semantics: same key twice, higher ts wins
    val dedup = Serving.dedupView(ps, Seq("stt", "spu_id"), "ts")
    assert(dedup.count() == ps.count() - 0) // all keys unique here
  }

  implicit class ToMap2(rows: Array[(String, Long, Long, Long, Long)]) {
    def toMap2: Map[String, (Long, Long, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }
}
