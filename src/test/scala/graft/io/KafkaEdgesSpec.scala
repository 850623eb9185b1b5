package graft.io

import graft.SparkTestBase
import graft.streaming.Schemas
import graft.streaming.dwd.DbRouting
import graft.streaming.dwm.UniqueVisit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Kafka edge contract — no broker in the sandbox, so these tests pin the
  * parts that don't need one: option maps, wire encode/decode transforms,
  * per-row topic routing, typed bean parsers, and that writers build
  * (unstarted) against real streaming frames.
  */
class KafkaEdgesSpec extends SparkTestBase {
  import spark.implicits._

  test("sourceOptions carry the consumer contract (MyKafkaUtil.getKafkaConsumer)") {
    val o = KafkaEdges.sourceOptions("b1:9092,b2:9092", "ods_base_log", "g1",
      maxOffsetsPerTrigger = Some(100000L))
    assert(o("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(o("subscribe") == "ods_base_log")
    // groupIdPrefix, not a fixed kafka.group.id: concurrent queries on one
    // fixed group interfere (each reads part of the data); the prefix
    // keeps the per-app identity while Spark uniquifies per query
    assert(o("groupIdPrefix") == "g1")
    assert(!o.contains("kafka.group.id"))
    assert(o("startingOffsets") == "latest")
    assert(o("failOnDataLoss") == "true")
    assert(o("maxOffsetsPerTrigger") == "100000")
  }

  test("sinkOptions: fixed topic vs dynamic (no topic option at all)") {
    assert(KafkaEdges.sinkOptions("b:9092", Some("t1")) ==
      Map("kafka.bootstrap.servers" -> "b:9092", "topic" -> "t1"))
    assert(KafkaEdges.sinkOptions("b:9092", None) ==
      Map("kafka.bootstrap.servers" -> "b:9092"))
  }

  test("decode casts the Kafka wire frame to string values") {
    val wire = Seq(("k1".getBytes, """{"a":1}""".getBytes,
        java.sql.Timestamp.valueOf("2021-01-01 00:00:00")))
      .toDF("key", "value", "timestamp")
    val out = KafkaEdges.decode(wire)
    assert(out.columns.toSeq == Seq("value", "kafka_ts"))
    assert(out.select("value").as[String].head() == """{"a":1}""")
  }

  test("encode serializes whole rows to JSON values, optional key column") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val plain = KafkaEdges.encode(df)
    assert(plain.columns.toSeq == Seq("value"))
    assert(plain.as[String].collect().toSet ==
      Set("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""))
    val keyed = KafkaEdges.encode(df, keyCol = Some("id"))
    assert(keyed.columns.toSeq == Seq("key", "value"))
    assert(keyed.select("key").as[String].collect().toSet == Set("1", "2"))
  }

  test("encodeDynamic routes each row by its own topic column (K2)") {
    val routed = Seq(
      ("order_info", """{"id":"1"}"""),
      ("order_detail", """{"id":"2"}"""),
      ("order_info", """{"id":"3"}"""))
      .toDF("sinkTable", "payload")
    val wire = KafkaEdges.encodeDynamic(routed, "sinkTable", col("payload"))
    assert(wire.columns.toSeq == Seq("topic", "value"))
    val byTopic = wire.as[(String, String)].collect().groupBy(_._1)
    assert(byTopic("order_info").map(_._2).toSet ==
      Set("""{"id":"1"}""", """{"id":"3"}"""))
    assert(byTopic("order_detail").map(_._2).toSeq == Seq("""{"id":"2"}"""))
  }

  test("kafkaDdl emits a USING kafka table with the consumer options (S4)") {
    val ddl = KafkaEdges.kafkaDdl("ods_page", "ods_base_log", "b:9092", "g1")
    assert(ddl.contains("USING kafka"))
    assert(ddl.contains("'subscribe' = 'ods_base_log'"))
    assert(ddl.contains("'kafka.bootstrap.servers' = 'b:9092'"))
    assert(ddl.contains("'groupIdPrefix' = 'g1'"))
  }

  test("writer builds a checkpointed kafka-format writer without a broker") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val w = KafkaEdges.writer(KafkaEdges.encode(in.toDF()), "b:9092",
      Some("t_out"), tmpDir())
    assert(w != null) // format/options resolve only at start(); building is the contract
  }

  test("topology: baseDb produces wire frames routed per sinkTable") {
    val cdc = Seq(
      """{"database":"g","tableName":"order_info","after":{"id":"1","oa":"x"},"type":"insert"}""",
      """{"database":"g","tableName":"order_info","after":{"id":"2"},"type":"delete"}""",
      """{"database":"g","tableName":"base_dic","after":{"id":"9","nm":"d"},"type":"insert"}""")
      .toDF("value")
    val config = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id", "id", ""),
      ("base_dic", "insert", "hbase", "dim_base_dic", "id,nm", "id", ""))
      .toDF("sourceTable", "operateType", "sinkType", "sinkTable",
        "sinkColumns", "sinkPk", "sinkExtend")
    val routed = DbRouting.route(
      DbRouting.dropDeletes(DbRouting.parseCdc(cdc)), config)
    val kafkaWire = KafkaEdges.encodeDynamic(
      DbRouting.kafkaRoute(routed), "sinkTable", to_json(col("after")))
    val hbase = DbRouting.hbaseRoute(routed)
    assert(kafkaWire.columns.toSeq == Seq("topic", "value"))
    val rows = kafkaWire.as[(String, String)].collect()
    assert(rows.toSeq == Seq(("dwd_order_info", """{"id":"1"}"""))) // delete dropped, columns projected
    assert(hbase.select("sinkTable").as[String].collect().toSeq == Seq("dim_base_dic"))
  }

  test("typed bean parsers derive create_date/hour/ts (OrderWideApp.java:42-48)") {
    val values = Seq(
      """{"id":"7","province_id":"3","user_id":"11","order_status":"1002","total_amount":"99.50","create_time":"2021-01-02 03:04:05"}""")
      .toDF("value")
    val oi = KafkaTopology.parseOrderInfo(values)
    val r = oi.select("id", "create_date", "create_hour", "create_ts").head()
    assert(r.getLong(0) == 7L)
    assert(r.getString(1) == "2021-01-02")
    assert(r.getString(2) == "03")
    assert(r.getLong(3) == java.sql.Timestamp.valueOf("2021-01-02 03:04:05").getTime)
    val od = KafkaTopology.parseOrderDetail(
      Seq("""{"id":"1","order_id":"7","sku_id":"5","sku_num":"2","sku_name":"s","order_price":"1.00","split_total_amount":"2.00","create_time":"2021-01-02 03:04:05"}""")
        .toDF("value"))
    assert(od.select("order_id").as[Long].head() == 7L)
    val pay = KafkaTopology.parsePaymentInfo(
      Seq("""{"id":"1","order_id":"7","user_id":"11","total_amount":"2.00","subject":"s","payment_type":"1102","create_time":"2021-01-02 03:04:06"}""")
        .toDF("value"))
    assert(pay.select("create_ts").as[Long].head() ==
      java.sql.Timestamp.valueOf("2021-01-02 03:04:06").getTime)
  }

  test("topology round-trip: encode(orderWide output) is re-parseable JSON") {
    // the dwm_order_wide topic re-enters paymentWide as JSON — pin that the
    // producer-side encode emits objects the consumer-side from_json can read
    val df = Seq((1L, "2021-01-02 03:04:05")).toDF("o_id", "o_create_time")
    val wire = KafkaEdges.encode(df)
    val back = wire.select(
      from_json(col("value"), Schemas.cdcValue).as("m"))
      .select(col("m")("o_id").cast("long").as("o_id"))
    assert(back.as[Long].head() == 1L)
  }

  test("topology: uniqueVisit wires dwd_page_log → dwm_unique_visit on a real stream") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val uv = UniqueVisit.dedup(KafkaTopology.parsePageLog(in.toDF()))
    assert(KafkaTopology.Topics.DwmUniqueVisit == "dwm_unique_visit")
    val q = uv.writeStream.format("memory")
      .queryName("kt_uv").outputMode("append").start()
    try {
      in.addData(
        """{"common":{"mid":"m1"},"page":{"page_id":"home","during_time":5},"ts":1000}""",
        """{"common":{"mid":"m1"},"page":{"page_id":"home","during_time":5},"ts":2000}""")
      q.processAllAvailable()
      assert(spark.table("kt_uv").count() == 1) // same mid, same day → one UV
    } finally q.stop()
  }
}
