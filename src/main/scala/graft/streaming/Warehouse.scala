package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.Materialize.inParallel
import graft.core.Trace
import graft.io.{KafkaEdges, KafkaTopology}
import graft.streaming.dwd.{BaseLog, DbRouting}
import graft.streaming.dwm.{Bounce, OrderWide, PaymentWide, UniqueVisit}
import graft.streaming.dws.{ProductStatsShaping, WindowStats}
import scala.util.{Failure, Try}

/** The reference deployment SHAPE, executed: all warehouse layers as
  * CONCURRENT checkpointed StreamingQueries chained through the
  * [[KafkaTopology.Topics]] topic graph, with file directories standing in
  * for brokers (one dir per topic, parquet files of a single `value`
  * string column — the wire is still "JSON strings on a named topic",
  * exactly what each layer's decode edge expects).
  *
  * The reference's defining property is ELEVEN SIMULTANEOUS JVMs glued by
  * Kafka (RT/app/dwd/BaseLogApp.java:19-20 chain comments; topic graph
  * RT/utils/MyKafkaUtil.java:40-53): ods_base_log → BaseLogApp →
  * dwd_page_log → {UniqueVisitApp, UserJumpDetailApp, VisitorStatsApp,
  * KeywordStatsApp}; ods_base_db → BaseDBApp → dwd_order_info/_detail →
  * OrderWideApp → dwm_order_wide → {PaymentWideApp, ProvinceStatsSqlApp,
  * ProductStatsApp}. Every layer here is individually oracle-green as an
  * st_* twin; THIS module proves they compose under shared resources —
  * one JVM, ten live queries, checkpoints interleaving, upstream batches
  * feeding downstream file sources while both run.
  *
  * Input is derived deterministically from the driver fixtures so the
  * chain's terminal output is externally gated: each `events` row becomes
  * one ods_base_log page-log line with ch = event_type and during_time =
  * the event's value in CENTS (exact integer transport; the gate divides
  * back to DECIMAL), so the live chain's VisitorStats output must
  * hash-match a1_visitor_window's DuckDB oracle verbatim. The db side
  * feeds a deterministic orders subset through CDC envelopes; its outputs
  * are gated by stream≡batch equivalence (same shaping code, engine mode
  * the only variable — the batch composition being what the a2/a3 oracle
  * family already proves externally).
  *
  * Determinism precondition (same contract as a20/a22's (ts, id)
  * ordering): per-mid event times are unique — Bounce sorts each key's
  * rows by ts alone, so a same-(mid, ts) pair could fold in either order.
  * The driver fixtures satisfy this at sf0.01 AND sf0.1 (checked: zero
  * duplicate (user_id, ts) pairs); the generator would need a tiebreak
  * field before feeding a corpus that does not.
  */
object Warehouse {

  import KafkaTopology.Topics._

  /** File-topic + checkpoint layout for one chain run. */
  final case class Layout(root: String) {
    def topic(name: String): String = s"$root/topics/$name"
    /** db-router output partition dir for one dynamic sink table. */
    def dbTopic(name: String): String = s"$root/topics/db/sinkTable=$name"
    def dbRoot: String = s"$root/topics/db"
    def ck(name: String): String = s"$root/ck/$name"
    def dimProvince: String = s"$root/dim/dim_base_province"
    /** Durable DWS table dir (the ClickHouse-table analog, K5 shape). */
    def dws(name: String): String = s"$root/dws/$name"
  }

  /** DWS group keys per summary app — the ReplacingMergeTree ORDER BY
    * of the reference's ClickHouse DDL (RT/app/dws/ProductStatsApp
    * .java:310-340): [[dwsTable]] keeps the highest-version row per key. */
  private val DwsKeys: Map[String, Seq[String]] = Map(
    "visitor" -> Seq("stt", "edt", "vc", "ch", "ar", "is_new"),
    "province" -> Seq("stt", "edt", "province_id", "province_name",
      "province_area_code", "province_iso_code"),
    "keyword" -> Seq("stt", "edt", "word"),
    "product" -> Seq("stt", "edt", "sku_id"))

  /** Reader view of a durable DWS dir: latest `_ver` per group key —
    * exactly the reference's ReplacingMergeTree read contract
    * ([[graft.ads.Serving.dedupView]], K5). Rows persist across chain
    * restarts with NO post-restart batch required (VERDICT r13 #5: the
    * complete-mode memory sinks this replaced forgot their rows on stop
    * and needed a new batch to repopulate). */
  def dwsTable(spark: SparkSession, lay: Layout, name: String): DataFrame =
    graft.ads.Serving.dedupView(
      spark.read.parquet(lay.dws(name)), DwsKeys(name), "_ver")
      .drop("_ver")

  val SentinelMid = "__sentinel"

  /** Each chain query with its warehouse layer, upstream first: the
    * `<layer>.<query>` keys of the progress summary [[drainAll]] traces. */
  val Layers: Seq[(String, String)] = Seq(
    "base_log" -> "dwd", "base_db" -> "dwd",
    "unique_visit" -> "dwm", "user_jump" -> "dwm",
    "order_wide" -> "dwm", "payment_wide" -> "dwm",
    "visitor" -> "dws", "province" -> "dws",
    "keyword" -> "dws", "product" -> "dws")

  // ------------------------------------------------------------------
  // input generation: driver fixtures → ODS wire lines (batch writes)
  // ------------------------------------------------------------------

  /** events → ods_base_log page-log JSON. Deterministic per-event shape:
    *   - ch = event_type (the a1 gate key), mid = "u<user_id>", is_new=0;
    *   - branch on event_id % 3: entry page (UV/bounce fuel) / search
    *     page with an item (keyword fuel) / good_detail sku click
    *     (product-stats fuel) — every branch is still one pv row;
    *   - during_time = value as DECIMAL(18,2) cents (exact transport);
    *   - ba carries the event_id (an opaque client field on the wire)
    *     so chain outputs stay joinable in diagnostics.
    */
  def genBaseLog(spark: SparkSession, sfDir: String, lay: Layout,
      chunks: Int = 1): Unit = {
    val e = graft.core.Tables.load(spark, sfDir, "events")
    val b = pmod(col("event_id"), lit(3))
    val nullS = lit(null).cast("string")
    val line = to_json(struct(
      struct(
        lit("1").as("ar"), col("event_id").cast("string").as("ba"),
        col("event_type").as("ch"), lit("0").as("is_new"), lit("md").as("md"),
        concat(lit("u"), col("user_id")).as("mid"), lit("os").as("os"),
        col("user_id").cast("string").as("uid"), lit("v1").as("vc")).as("common"),
      struct(
        when(b === 2, lit("good_detail")).when(b === 1, lit("good_list"))
          .otherwise(lit("home")).as("page_id"),
        when(b === 1, lit("search")).otherwise(nullS).as("last_page_id"),
        when(b === 1, concat(lit("kw"), pmod(col("event_id"), lit(7))))
          .when(b === 2, (pmod(col("event_id"), lit(20)) + 1).cast("string"))
          .otherwise(nullS).as("item"),
        when(b === 2, lit("sku_id")).otherwise(nullS).as("item_type"),
        nullS.as("source_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("during_time")).as("page"),
      unix_millis(col("ts")).as("ts")))
    val lines = e.select(line.as("value"), unix_millis(col("ts")).as("_t"))
    if (chunks <= 1)
      lines.select("value").write.mode("append")
        .parquet(lay.topic(OdsBaseLog))
    else {
      // time-sliced chunks with staggered mtimes: the file source replays
      // them as ordered micro-batches (maxFilesPerTrigger=1), preserving
      // the per-mid event-time arrival order the keyed folds assume —
      // hash-chunking would scatter a mid's events across batches out of
      // order and the bounce/UV state machines would legitimately diverge
      // from their batch twins
      val mm = lines.agg(min(col("_t")), max(col("_t"))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val span = math.max(hi - lo + 1L, 1L)
      val bucketed = lines.withColumn("_b",
        ((col("_t") - lo) * chunks / span).cast("int")).persist()
      bucketed.count()
      val t0 = System.currentTimeMillis() - 3600000L
      try (0 until chunks).foreach { i =>
        val name = f"chunk$i%04d"
        publish(bucketed.filter(col("_b") === i).select("value"),
          lay.topic(OdsBaseLog), name)
        // an empty chunk after the first publishes no file
        val f = new java.io.File(lay.topic(OdsBaseLog), s"$name.parquet")
        if (f.isFile) f.setLastModified(t0 + i * 1000L)
      } finally bucketed.unpersist()
    }
  }

  /** Event-time horizon every sentinel anchors past: one hour beyond the
    * LAST event of the log timeline. The db timeline (orders, 1995-2001)
    * lies years before it, so one anchor clears both — and with per-leg
    * watermarks + min policy, EVERY leg must see a row past this anchor
    * before any window at the log timeline's tail can close. */
  def sentinelTs(spark: SparkSession, sfDir: String): Long =
    graft.core.Tables.load(spark, sfDir, "events")
      .agg(max(unix_millis(col("ts")))).collect()(0).getLong(0) + 3600000L

  /** The watermark drivers for every LOG-derived leg: three page lines for
    * [[SentinelMid]] an hour past the corpus horizon, written AFTER the
    * real data has flowed through the DWM layers — the operational analog
    * of the reference's forever-running clock (in production the next
    * day's traffic plays this role). Append mode closes a window only when
    * the leg-min watermark passes its end, so each line is shaped to
    * SURVIVE one shaped leg's filters and advance its watermark node:
    *   - entry `home` line → pv leg; kept by UniqueVisit (first entry of
    *     its day) → uv leg; left as a >10s-gap pending in Bounce, so the
    *     NEXT line's arrival emits it as a bounce → uj leg;
    *   - `search` line 60s later (the gap that bounces the home line) with
    *     a sentinel item → the keyword leg's search filter;
    *   - `good_detail` line with a sku item AND one displays[] element →
    *     the product clicks leg and the otherwise-EMPTY displays leg
    *     (an empty leg pins its watermark at zero and the min policy would
    *     hold every product window open forever).
    * All three lines share one far-future hour, so their own windows stay
    * OPEN (never emitted — sentinel rows never reach the DWS tables) while
    * every real window closes. Per-mid ts stay unique (Bounce contract). */
  def genSentinel(spark: SparkSession, sfDir: String, lay: Layout,
      horizon: Long = -1L): Unit = {
    import spark.implicits._
    val t0 = if (horizon >= 0L) horizon else sentinelTs(spark, sfDir)
    def common =
      s""""common":{"ar":"1","ba":"-1","ch":"$SentinelMid","is_new":"0","md":"md","mid":"$SentinelMid","os":"os","uid":"-1","vc":"v1"}"""
    val lines = Seq(
      s"""{$common,"page":{"page_id":"home","during_time":0},"ts":$t0}""",
      s"""{$common,"page":{"page_id":"good_list","last_page_id":"search","item":"$SentinelMid","during_time":0},"ts":${t0 + 60000L}}""",
      s"""{$common,"page":{"page_id":"good_detail","last_page_id":"good_list","item":"-1","item_type":"sku_id","during_time":0},"displays":[{"display_type":"query","item":"-1","item_type":"sku_id","pos_id":0,"order":0}],"ts":${t0 + 120000L}}""")
    lines.toDF("value").coalesce(1)
      .write.mode("append").parquet(lay.topic(OdsBaseLog))
  }

  /** The watermark drivers for every CDC-derived leg: one far-future CDC
    * envelope per routed fact table, all keyed to the sentinel order id /
    * sku -1 / province -1. The order_info + order_detail pair shares a
    * create_time so the ±5s interval join emits one sentinel row to the
    * order-wide topic (→ province leg + product orders leg); the payment
    * lands 60s later, inside the −15min/+5s bound, so the payment join
    * emits to the payment-wide topic (→ product payments leg); favor /
    * cart / comment / refund cover their four sku legs. Without these,
    * the db legs' watermarks stall at the ORDERS timeline (2001) and the
    * min policy would hold every 2024 log-side product window open. */
  def genDbSentinel(spark: SparkSession, sfDir: String, lay: Layout,
      horizon: Long = -1L): Unit = {
    import spark.implicits._
    val t0 = if (horizon >= 0L) horizon else sentinelTs(spark, sfDir)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val ct = fmt.format(java.time.Instant.ofEpochMilli(t0))
    val pct = fmt.format(java.time.Instant.ofEpochMilli(t0 + 60000L))
    val id = "900000001"
    def env(table: String, kv: (String, String)*): String = {
      val after = kv.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      s"""{"database":"gmall","tableName":"$table","before":{},"after":{$after},"type":"insert"}"""
    }
    Seq(
      env("order_info", "id" -> id, "province_id" -> "-1", "user_id" -> "-1",
        "order_status" -> "1001", "total_amount" -> "0.00",
        "create_time" -> ct),
      env("order_detail", "id" -> id, "order_id" -> id, "sku_id" -> "-1",
        "sku_num" -> "1", "sku_name" -> "sku--1", "order_price" -> "0.00",
        "split_total_amount" -> "0.00", "create_time" -> ct),
      env("payment_info", "id" -> id, "order_id" -> id, "user_id" -> "-1",
        "total_amount" -> "0.00", "subject" -> "order",
        "payment_type" -> "1102", "create_time" -> pct),
      env("favor_info", "id" -> id, "sku_id" -> "-1", "ts" -> t0.toString),
      env("cart_info", "id" -> id, "sku_id" -> "-1", "ts" -> t0.toString),
      env("comment_info", "id" -> id, "sku_id" -> "-1", "appraise" -> "1202",
        "ts" -> t0.toString),
      env("refund_payment", "id" -> id, "order_id" -> id, "sku_id" -> "-1",
        "refund_amount" -> "0.00", "ts" -> t0.toString))
      .toDF("value").coalesce(1)
      .write.mode("append").parquet(lay.topic(OdsBaseDb))
  }

  /** The CDC fact subset: every 10th order (deterministic by key), joined
    * to its customer's nation for the province id. One row per order. */
  def orderSeed(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.core.Tables.load(spark, sfDir, "orders")
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val c = graft.core.Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_nationkey")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("oid"), col("c_nationkey").as("pid"),
        col("o_custkey").as("uid"),
        col("o_totalprice").cast("decimal(16,2)").as("amt"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ct"),
        // o_orderdate ships as TIMESTAMP_NTZ; sessions are pinned UTC, so
        // the cast is value-preserving (same contract as Tables.normalizeTs)
        unix_millis(col("o_orderdate").cast("timestamp")).as("tms"))
  }

  private def cdcLine(table: String, after: org.apache.spark.sql.Column) =
    to_json(struct(lit("gmall").as("database"), lit(table).as("tableName"),
      map().cast("map<string,string>").as("before"), after.as("after"),
      lit("insert").as("type")))

  /** orders/customer/nation → ods_base_db CDC envelopes: order_info,
    * order_detail (one per order, same create_time → inside the ±5s join
    * bound), payment_info (+60s → inside −15min), favor/cart/comment/
    * refund rows (sku-keyed one-hot fuel), and the base_province dim
    * (hbase-routed → DimStore, the K3 path orderWide re-reads per batch).
    * Dims are written as a SEPARATE earlier file so the file source's
    * mtime order replays them first — the reference's "dims preloaded in
    * HBase before facts flow" bootstrap. */
  def genBaseDb(spark: SparkSession, sfDir: String, lay: Layout): Unit = {
    val dim = graft.core.Tables.load(spark, sfDir, "nation")
      .select(cdcLine("base_province", map(
        lit("id"), col("n_nationkey").cast("string"),
        lit("name"), col("n_name"),
        lit("area_code"), (col("n_nationkey") + 100).cast("string"),
        lit("iso_code"), concat(lit("ISO-"), col("n_nationkey")),
        lit("ver"), lit("1"))).as("value"))
    val dimDir = new java.io.File(lay.topic(OdsBaseDb))
    dim.coalesce(1).write.mode("append").parquet(dimDir.toString)
    // facts land as a second file with a later mtime than the dim file
    val t0 = System.currentTimeMillis()
    dimDir.listFiles().foreach(_.setLastModified(t0 - 60000L))

    val s = orderSeed(spark, sfDir)
    val sku = (pmod(col("oid"), lit(20)) + 1).cast("string")
    val facts = Seq(
      cdcLine("order_info", map(
        lit("id"), col("oid").cast("string"),
        lit("province_id"), col("pid").cast("string"),
        lit("user_id"), col("uid").cast("string"),
        lit("order_status"), lit("1001"),
        lit("total_amount"), col("amt").cast("string"),
        lit("create_time"), col("ct"))),
      cdcLine("order_detail", map(
        lit("id"), col("oid").cast("string"),
        lit("order_id"), col("oid").cast("string"),
        lit("sku_id"), sku,
        lit("sku_num"), lit("1"),
        lit("sku_name"), concat(lit("sku-"), sku),
        lit("order_price"), col("amt").cast("string"),
        lit("split_total_amount"), col("amt").cast("string"),
        lit("create_time"), col("ct"))),
      cdcLine("payment_info", map(
        lit("id"), col("oid").cast("string"),
        lit("order_id"), col("oid").cast("string"),
        lit("user_id"), col("uid").cast("string"),
        lit("total_amount"), col("amt").cast("string"),
        lit("subject"), lit("order"),
        lit("payment_type"), lit("1102"),
        lit("create_time"), date_format(
          timestamp_millis(col("tms") + 60000L), "yyyy-MM-dd HH:mm:ss"))),
      cdcLine("favor_info", map(
        lit("id"), col("oid").cast("string"), lit("sku_id"), sku,
        lit("ts"), col("tms").cast("string"))),
      cdcLine("cart_info", map(
        lit("id"), col("oid").cast("string"), lit("sku_id"), sku,
        lit("ts"), col("tms").cast("string"))),
      cdcLine("comment_info", map(
        lit("id"), col("oid").cast("string"), lit("sku_id"), sku,
        lit("appraise"),
          when(pmod(col("oid"), lit(2)) === 0, "1201").otherwise("1202"),
        lit("ts"), col("tms").cast("string"))),
      cdcLine("refund_payment", map(
        lit("id"), col("oid").cast("string"),
        lit("order_id"), col("oid").cast("string"), lit("sku_id"), sku,
        lit("refund_amount"), col("amt").cast("string"),
        lit("ts"), col("tms").cast("string"))))
      .map(c => s.select(c.as("value"))).reduce(_.unionByName(_))
    facts.write.mode("append").parquet(lay.topic(OdsBaseDb))
  }

  /** The table_process config rows routing the CDC families (J4):
    * facts → kafka dwd_* topics, base_province → hbase dim store. */
  def config(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("order_info", "insert", "kafka", DwdOrderInfo,
        "id,province_id,user_id,order_status,total_amount,create_time", "id", ""),
      ("order_detail", "insert", "kafka", DwdOrderDetail,
        "id,order_id,sku_id,sku_num,sku_name,order_price,split_total_amount,create_time", "id", ""),
      ("payment_info", "insert", "kafka", DwdPaymentInfo,
        "id,order_id,user_id,total_amount,subject,payment_type,create_time", "id", ""),
      ("favor_info", "insert", "kafka", "dwd_favor_info", "id,sku_id,ts", "id", ""),
      ("cart_info", "insert", "kafka", "dwd_cart_info", "id,sku_id,ts", "id", ""),
      ("comment_info", "insert", "kafka", "dwd_comment_info",
        "id,sku_id,appraise,ts", "id", ""),
      ("refund_payment", "insert", "kafka", "dwd_refund_payment",
        "id,order_id,sku_id,refund_amount,ts", "id", ""),
      ("base_province", "insert", "hbase", "dim_base_province",
        "id,name,area_code,iso_code,ver", "id", ""))
      .toDF("sourceTable", "operateType", "sinkType", "sinkTable",
        "sinkColumns", "sinkPk", "sinkExtend")
  }

  // ------------------------------------------------------------------
  // shared wire decode + shaping (identical code on stream AND batch
  // frames — engine mode is the only variable the equivalence gate sees)
  // ------------------------------------------------------------------

  private def valueStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema("value STRING").options(options).parquet(dir)

  private def valueBatch(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("value STRING").parquet(dir)

  /** Flat string-map decode of a routed dwd_* value (Schemas.cdcValue). */
  private def mapOf(values: DataFrame): org.apache.spark.sql.Column =
    from_json(col("value"), Schemas.cdcValue)

  private def skuTsFrame(values: DataFrame, extra: (String, String)*): DataFrame =
    values.select(mapOf(values).as("m"))
      .select(col("m")("sku_id").cast("long").as("sku_id") +:
        col("m")("ts").cast("long").as("ts") +:
        extra.map { case (k, t) => col("m")(k).cast(t).as(k) }: _*)

  /** dwm_order_wide wire row → the fields the DWS consumers key on. */
  private def orderWideView(values: DataFrame): DataFrame =
    values.select(mapOf(values).as("m")).select(
      col("m")("o_id").cast("long").as("order_id"),
      col("m")("o_create_ts").cast("long").as("create_ts"),
      col("m")("o_user_id").cast("long").as("user_id"),
      col("m")("o_province_id").cast("long").as("province_id"),
      col("m")("province_name").as("province_name"),
      col("m")("province_area_code").as("province_area_code"),
      col("m")("province_iso_code").as("province_iso_code"),
      col("m")("d_sku_id").cast("long").as("sku_id"),
      col("m")("d_split_total_amount").cast("decimal(16,2)")
        .as("split_total_amount"))

  private def paymentWideView(values: DataFrame): DataFrame =
    values.select(mapOf(values).as("m")).select(
      col("m")("p_id").cast("long").as("payment_id"),
      col("m")("ow_order_id").cast("long").as("order_id"),
      col("m")("p_create_ts").cast("long").as("ts"),
      col("m")("ow_sku_id").cast("long").as("sku_id"),
      col("m")("ow_split_total_amount").cast("decimal(16,2)")
        .as("split_total_amount"))

  /** VisitorStats one-hot shaping (P7) — the three measure streams the
    * reference unions (VisitorStatsApp.java:60-95). `parsed` frames carry
    * Schemas.pageLog columns. */
  private def pvRows(parsed: DataFrame): DataFrame =
    parsed.select(
      col("common.vc").as("vc"), col("common.ch").as("ch"),
      col("common.ar").as("ar"), col("common.is_new").as("is_new"),
      lit(0L).as("uv_ct"), lit(1L).as("pv_ct"),
      when(col("page.last_page_id").isNull ||
        col("page.last_page_id") === "", 1L).otherwise(0L).as("sv_ct"),
      lit(0L).as("uj_ct"),
      coalesce(col("page.during_time"), lit(0L)).as("dur_sum"), col("ts"))

  private def oneHot(parsed: DataFrame, measure: String): DataFrame =
    parsed.select(
      col("common.vc").as("vc"), col("common.ch").as("ch"),
      col("common.ar").as("ar"), col("common.is_new").as("is_new"),
      lit(if (measure == "uv") 1L else 0L).as("uv_ct"), lit(0L).as("pv_ct"),
      lit(0L).as("sv_ct"),
      lit(if (measure == "uj") 1L else 0L).as("uj_ct"),
      lit(0L).as("dur_sum"), col("ts"))

  /** The eight shaped product legs. `wrap` is applied to EACH leg before
    * the union: the live chain passes WindowStats.leg(_, delay) so every
    * leg carries its own watermark node (min policy — see WindowStats.leg
    * scaladoc for why a post-union watermark drops slow-leg rows); batch
    * twins use the identity. */
  private def productLegs(page: DataFrame, favor: DataFrame,
      cart: DataFrame, ow: DataFrame, pw: DataFrame, refund: DataFrame,
      comment: DataFrame): Seq[DataFrame] = Seq(
    ProductStatsShaping.fromPageClicks(page),
    ProductStatsShaping.fromDisplays(page),
    ProductStatsShaping.fromFavor(favor),
    ProductStatsShaping.fromCart(cart),
    ProductStatsShaping.fromOrders(
      ow.withColumnRenamed("create_ts", "ts")),
    ProductStatsShaping.fromPayments(pw),
    ProductStatsShaping.fromRefunds(refund),
    ProductStatsShaping.fromComments(comment))

  private def productInputs(page: DataFrame, favor: DataFrame,
      cart: DataFrame, ow: DataFrame, pw: DataFrame, refund: DataFrame,
      comment: DataFrame,
      wrap: DataFrame => DataFrame = identity): DataFrame =
    ProductStatsShaping.unionAll(
      productLegs(page, favor, cart, ow, pw, refund, comment).map(wrap))

  private def provinceInput(ow: DataFrame): DataFrame =
    ow.select(col("province_id"), col("province_name"),
      col("province_area_code"), col("province_iso_code"),
      col("order_id"), col("split_total_amount"),
      col("create_ts").as("ts"))

  // ------------------------------------------------------------------
  // the concurrent chain
  // ------------------------------------------------------------------

  /** Publish `df` into the topic (or DWS) dir `dir` under the name
    * `name`, once: the frame is written `coalesce(1)` to the hidden
    * `<dir>/_stage/<name>` (file sources skip `_`-prefixed paths), each
    * part file is renamed to `<dir>[/<partition>]/<name>.parquet` unless
    * that file already exists, and the stage is deleted.
    *
    * A part whose footer counts no rows is published only into a dir that
    * holds no `.parquet` yet: every topic and DWS dir gets its first,
    * schema-carrying file, and after that an empty micro-batch publishes
    * nothing — each new file would wake every consumer of the dir for one
    * more micro-batch.
    *
    * ONE file per partition per batch: a multi-part job commit is not
    * atomic (the committer renames task files one by one), so a
    * concurrent downstream listing could catch HALF a batch — the missed
    * parts would then arrive as late, out-of-order rows in the consumer's
    * next batch, breaking the per-key ordered-arrival contract the keyed
    * folds document (observed as bounce timers landing behind the
    * watermark). A rename is atomic: a batch is visible entirely or not
    * at all — the file-topic analog of Kafka's per-partition order. And
    * the chain names every batch `<query>-<batch id>`, so a batch that
    * replays after a crash between its publish and its checkpoint commit
    * publishes nothing twice (Flink's idempotent-sink half of
    * exactly-once, over a replayable source). */
  private[streaming] def publish(df: DataFrame, dir: String, name: String,
      partitionBy: String*): Unit = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.LocalInputFile
    import scala.jdk.CollectionConverters._
    val stage = Paths.get(dir, "_stage", name)
    df.coalesce(1).write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(stage.toString)
    def walk(): List[Path] = {
      val w = Files.walk(stage)
      try w.iterator.asScala.toList finally w.close()
    }
    def rows(part: Path): Long = {
      val r = ParquetFileReader.open(new LocalInputFile(part))
      try r.getRecordCount finally r.close()
    }
    def holdsParquet(d: Path): Boolean = Files.isDirectory(d) && {
      val s = Files.list(d)
      try s.iterator.asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    for (part <- walk() if part.getFileName.toString.endsWith(".parquet")) {
      val dst = Paths.get(dir).resolve(stage.relativize(part.getParent))
        .resolve(s"$name.parquet")
      if (!Files.exists(dst) && (rows(part) > 0 || !holdsParquet(dst.getParent))) {
        Files.createDirectories(dst.getParent)
        Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    walk().reverse.foreach(Files.delete)
  }

  /** The one trigger every chain query runs on. The default (a zero
    * interval) re-checks an idle query's sources after Spark's 10 ms
    * polling delay, and each check lists the topic dirs anew
    * (FileStreamSource.fetchMaxOffset builds a fresh InMemoryFileIndex
    * per source, 20 sources in the chain): JFR profiles of a cold
    * catch-up put two thirds of the stream threads' samples there, and
    * this trigger cut its CPU per ODS line by a fifth. A busy query
    * is unaffected — a batch longer than the interval fires the next one
    * at once — so only idle pickup moves, by at most one interval per
    * hop. Measured flat from 100 to 500 ms (SCALING §14a). */
  private val ChainTrigger = Trigger.ProcessingTime(100L)

  /** The session settings every chain query starts with (see [[start]]):
    * Spark's own FileSystem-based manager for every checkpoint file
    * (SCALING §14c), and no generated code — neither whole-stage nor
    * per-expression — so the queries run Spark's interpreted evaluators
    * (SCALING §14f). `CODEGEN_FACTORY_MODE` is an internal Spark conf;
    * WarehouseRestartSpec pins its effect. */
  private[streaming] val ChainConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName,
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** BaseLogApp's fan-out of one repaired micro-batch
    * (BaseLogApp.java:128-130): each DWD topic with its wire frame, every
    * row encoded as `to_json` of all its columns in schema order. Dirty
    * lines stay a side output, not a topic. Listed in write order. */
  private[streaming] def baseLogWire(batch: DataFrame): Seq[(String, DataFrame)] =
    Seq(DwdPageLog -> BaseLog.pageLog(batch),
      DwdStartLog -> BaseLog.startLog(batch),
      DwdDisplayLog -> BaseLog.displayLog(batch))
      .map { case (topic, df) => topic -> KafkaEdges.encode(df) }

  /** Start every layer as a live checkpointed StreamingQuery — the one
    * place the reference apps are composed: each query wires its layer
    * module (BaseLog, DbRouting, UniqueVisit, Bounce, OrderWide,
    * PaymentWide, ProductStatsShaping, WindowStats) to its topics, and
    * every query publishes each micro-batch through [[publish]] under the
    * name `<query>-<batch id>`. DWS tables land in durable per-layout
    * parquet dirs through the K5 path (append mode — each window written
    * once, when the watermark closes it, versioned by batch id, read back
    * via [[dwsTable]]'s ReplacingMergeTree view). Returns name → query.
    *
    * Every checkpoint file (offset, commit and file-source logs, and the
    * DWD, DWM and DWS state-store files) is written through Spark's
    * `FileSystemBasedCheckpointFileManager` over Hadoop's shared, cached
    * `LocalFileSystem`, not a FileContext per log: a rename is
    * `File.renameTo`, with no forked `readlink`. The `.crc` and checkpoint
    * checksum files stay (`ChecksumFileSystem` still wraps the raw FS).
    * On the local FS a rename is an atomic rename(2); the no-overwrite
    * case becomes exists-then-rename, which is safe because each chain
    * checkpoint has one writer, in this JVM.
    *
    * The chain runs interpreted: whole-stage codegen is off and Spark's
    * codegen factory mode (an internal conf, pinned by
    * WarehouseRestartSpec) is `NO_CODEGEN`, so the projections,
    * predicates, orderings and encoders Spark builds through its codegen
    * factory use the interpreted evaluators it already falls back to when
    * a generated class fails to compile. A catch-up
    * runs many micro-batches of a few hundred rows through ten distinct
    * plans, and Spark's 100-entry class cache thrashes on them: compiling
    * cost far more than evaluating (1,176 Janino compiles in one
    * `wh_catchup` catch-up before, 52 after; SCALING §14f).
    *
    * The [[ChainConf]] settings hold for the ten launches only: they are
    * set on the caller's session until every query has opened its logs (a
    * file source opens its log on the query's own thread, from the
    * caller's session; each query clones the session, with the settings,
    * when it starts), then each key gets the caller's value back, or is
    * unset — a value left set would change every later query on that
    * session, the registry's batch queries among them. Jobs a batch body
    * runs go through the batch's own session, so they run interpreted
    * too. */
  def start(spark: SparkSession, lay: Layout,
      odsOptions: Map[String, String] = Map.empty): Map[String, StreamingQuery] =
    start(spark, lay, odsOptions, _ => ())

  /** [[start]] with `afterPublish(name)` run after each publish of a
    * batch named `name`: the seam a spec injects a crash between a
    * batch's publish and its checkpoint commit through. */
  private[streaming] def start(spark: SparkSession, lay: Layout,
      odsOptions: Map[String, String],
      afterPublish: String => Unit): Map[String, StreamingQuery] = {
    // every topic dir must exist before a consumer's file source starts
    Seq(OdsBaseLog, OdsBaseDb, DwdStartLog, DwdDisplayLog, DwdPageLog,
      DwmUniqueVisit, DwmUserJumpDetail, DwmOrderWide, DwmPaymentWide)
      .foreach(t => new java.io.File(lay.topic(t)).mkdirs())
    Seq(DwdOrderInfo, DwdOrderDetail, DwdPaymentInfo, "dwd_favor_info",
      "dwd_cart_info", "dwd_comment_info", "dwd_refund_payment")
      .foreach(t => new java.io.File(lay.dbTopic(t)).mkdirs())

    // every query: checkpointed under lay.ck(name), append mode, on the
    // shared ChainTrigger; the returned thunk defers .start() and returns
    // once the query has opened its sources' logs. A query
    // stopped during its first offset write leaves offsets/ with only a
    // temp file, and Spark refuses to start on that checkpoint; no batch
    // of it ran, so nothing was published or committed under it, and a
    // checkpoint with no committed batch is removed before the start.
    def launch(name: String, df: DataFrame)(
        sink: (DataFrame, Long) => Unit): () => StreamingQuery =
      () => {
        val ck = new java.io.File(lay.ck(name))
        if (!Option(new java.io.File(ck, "offsets").list()).exists(
            _.exists(_.forall(_.isDigit))))
          graft.core.Scratch.deleteRecursively(ck)
        val q = df.writeStream
          .option("checkpointLocation", ck.getPath)
          .outputMode("append")
          .trigger(ChainTrigger)
          .foreachBatch(sink)
          .start()
        // released when the sources exist, or when the query dies first
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .awaitInitialization(Long.MaxValue)
        q
      }

    // every sink frame goes out here: batch `id` of `query` publishes
    // under "<query>-<id>", then the hook runs
    def put(query: String, id: Long, df: DataFrame, dir: String,
        partitionBy: String*): Unit = {
      publish(df, dir, s"$query-$id", partitionBy: _*)
      afterPublish(s"$query-$id")
    }

    // --- BaseLogApp: one consumer, three topic sinks. One query runs
    // parse→clean→repairIsNew once (one copy of the per-mid is_new state)
    // and persists the batch so the three writes do not re-run it.
    val repaired = BaseLog.repairIsNew(BaseLog.clean(BaseLog.parse(
      valueStream(spark, lay.topic(OdsBaseLog), odsOptions))))
    val baseLogQ = launch("base_log", repaired) { (batch, id) =>
      batch.persist()
      try baseLogWire(batch).foreach { case (topic, wire) =>
        put("base_log", id, wire, lay.topic(topic))
      } finally batch.unpersist()
    }

    // --- BaseDBApp: dynamic kafka routing + hbase dim upsert (K2 + K3).
    // The config lookup runs on each micro-batch, so the config is re-read
    // once per batch (next-batch liveness, as the reference's broadcast
    // MapState gives)
    val cdc = DbRouting.dropDeletes(DbRouting.parseCdc(
      valueStream(spark, lay.topic(OdsBaseDb), odsOptions)))
    val baseDbQ = launch("base_db", cdc) { (batch, id) =>
      val bs = batch.sparkSession
      val routed = DbRouting.route(batch, config(bs)).persist()
      try {
        // dims COMMIT BEFORE facts publish: a downstream fact consumer
        // must never see a fact file whose batch's dim rows are not yet
        // readable (the reference's HBase write happens in the same
        // routing operator for the same reason)
        val dims = DbRouting.hbaseRoute(routed)
          .filter(col("sinkTable") === "dim_base_province")
          .select(col("after")("id").as("id"), col("after")("name").as("name"),
            col("after")("area_code").as("area_code"),
            col("after")("iso_code").as("iso_code"),
            col("after")("ver").as("ver"))
        if (!dims.isEmpty)
          DbRouting.upsertDim(bs, dims, lay.dimProvince, "id", "ver",
            nBuckets = 8)
        // K2: the record's sinkTable is its topic — one write, partitioned
        // into dbRoot/sinkTable=<t> (MyKafkaUtil.java:27-35)
        put("base_db", id, DbRouting.kafkaRoute(routed)
          .select(col("sinkTable"), to_json(col("after")).as("value")),
          lay.dbRoot, "sinkTable")
      } finally routed.unpersist()
    }

    // --- DWM over dwd_page_log
    val pageStream = KafkaTopology.parsePageLog(
      valueStream(spark, lay.topic(DwdPageLog)))
    val uvQ = launch("unique_visit", UniqueVisit.dedup(pageStream)) {
      (batch, id) => put("unique_visit", id, batch, lay.topic(DwmUniqueVisit))
    }
    val ujQ = launch("user_jump", Bounce.detect(pageStream)) {
      (batch, id) => put("user_jump", id, batch, lay.topic(DwmUserJumpDetail))
    }

    // --- OrderWideApp: stream-stream ±5s join + per-batch dim re-read (K3)
    val joined = OrderWide.intervalJoin(
      OrderWide.prefixed(KafkaTopology.parseOrderInfo(
        valueStream(spark, lay.dbTopic(DwdOrderInfo))), "o_"),
      OrderWide.prefixed(KafkaTopology.parseOrderDetail(
        valueStream(spark, lay.dbTopic(DwdOrderDetail))), "d_"))
    val orderWideQ = launch("order_wide", joined) { (batch, id) =>
      val bs = batch.sparkSession
      val dim =
        if (graft.io.DimStore.exists(bs, lay.dimProvince))
          DbRouting.readDim(bs, lay.dimProvince)
            .select("id", "name", "area_code", "iso_code")
        else bs.createDataFrame(
          bs.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq("id", "name", "area_code", "iso_code")
            .map(StructField(_, StringType))))
      val enriched = OrderWide.enrich(batch,
        Seq(("province_", dim, "o_province_id", "id")))
      put("order_wide", id, KafkaEdges.encode(enriched), lay.topic(DwmOrderWide))
    }

    // --- PaymentWideApp: −15min/+5s stream-stream join over the re-entrant
    // order-wide topic (the wire re-parse is the reference's re-consume)
    val owBack = orderWideView(valueStream(spark, lay.topic(DwmOrderWide)))
      .select(col("order_id"), col("create_ts"), col("sku_id"),
        col("split_total_amount"))
    val pw = PaymentWide.mergedView(PaymentWide.intervalJoin(
      OrderWide.prefixed(KafkaTopology.parsePaymentInfo(
        valueStream(spark, lay.dbTopic(DwdPaymentInfo))), "p_"),
      OrderWide.prefixed(owBack, "ow_")))
    val paymentWideQ = launch("payment_wide", pw) { (batch, id) =>
      put("payment_wide", id, KafkaEdges.encode(batch), lay.topic(DwmPaymentWide))
    }

    // --- DWS: the four summary apps through the K5 path — APPEND-mode
    // foreachBatch publishes each window ONCE, when the watermark closes
    // it, versioned by batch id to durable parquet dirs (the ClickHouse
    // ReplacingMergeTree shape; dwsTable is the RMT reader — exactly the
    // reference's insert-on-window-close ClickHouse contract). State holds
    // OPEN windows only (watermark-evicted on emit), so state size and
    // per-batch write volume are bounded by the windows in flight, not by
    // stream uptime — the complete-mode shape this replaced re-emitted
    // every window since stream start on every batch (VERDICT r14: the
    // one scale-killer left). Multi-leg inputs are watermarked PER LEG
    // before the union (WindowStats.leg): append mode drops rows behind
    // the watermark, and a single post-union node would run ahead of the
    // slower dwm topics and drop their rows as late.
    def dwsSink(name: String, df: DataFrame): () => StreamingQuery =
      launch(name, df) { (batch, id) =>
        put(name, id, batch.withColumn("_ver", lit(id)), lay.dws(name))
      }

    val pv = pvRows(pageStream)
    val uv = oneHot(KafkaTopology.parsePageLog(
      valueStream(spark, lay.topic(DwmUniqueVisit))), "uv")
    val uj = oneHot(KafkaTopology.parsePageLog(
      valueStream(spark, lay.topic(DwmUserJumpDetail))), "uj")
    val vLeg = (df: DataFrame) => WindowStats.leg(df, "11 seconds")
    val visitorQ = dwsSink("visitor",
      WindowStats.visitorStats(
        vLeg(pv).unionByName(vLeg(uv)).unionByName(vLeg(uj))))

    val provinceQ = dwsSink("province",
      WindowStats.provinceStats(provinceInput(
        orderWideView(valueStream(spark, lay.topic(DwmOrderWide))))))

    implicit val s: SparkSession = spark
    val keywordQ = dwsSink("keyword", WindowStats.keywordStats(pageStream))

    val productQ = dwsSink("product",
      WindowStats.productStats(productInputs(
        pageStream,
        skuTsFrame(valueStream(spark, lay.dbTopic("dwd_favor_info"))),
        skuTsFrame(valueStream(spark, lay.dbTopic("dwd_cart_info"))),
        orderWideView(valueStream(spark, lay.topic(DwmOrderWide))),
        paymentWideView(valueStream(spark, lay.topic(DwmPaymentWide))),
        skuTsFrame(valueStream(spark, lay.dbTopic("dwd_refund_payment")),
          "order_id" -> "long", "refund_amount" -> "decimal(16,2)"),
        skuTsFrame(valueStream(spark, lay.dbTopic("dwd_comment_info")),
          "appraise" -> "string"),
        wrap = WindowStats.leg(_, "2 seconds"))))

    // r17 (guide §2.6): the ten .start() calls each pay synchronous
    // driver-side analysis + checkpoint setup; the queries are mutually
    // independent at start time (every topic dir exists, no data flows
    // until the caller generates it), so launching them from a pool
    // compresses the start phase from the sum to roughly the max. The
    // thunks above only defer .start(); each query's plan is unchanged.
    val defs = Seq(
      "base_log" -> baseLogQ, "base_db" -> baseDbQ,
      "unique_visit" -> uvQ, "user_jump" -> ujQ,
      "order_wide" -> orderWideQ, "payment_wide" -> paymentWideQ,
      "visitor" -> visitorQ, "province" -> provinceQ,
      "keyword" -> keywordQ, "product" -> productQ)
    // A launch never throws into the pool: inParallel interrupts the
    // siblings of a failed thunk, and a start() interrupted while it waits
    // for its query thread leaves that query running with no handle. So
    // every launch settles, then a failure stops the queries that started.
    val prior = ChainConf.map { case (k, v) =>
      val p = spark.conf.getOption(k)
      spark.conf.set(k, v)
      k -> p
    }
    val launched =
      try inParallel(defs.map { case (_, mk) => () => Try(mk()) })
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    launched.collectFirst { case Failure(e) => e }.foreach { e =>
      launched.foreach(_.foreach(q => try q.stop() catch { case _: Throwable => () }))
      throw e
    }
    defs.map(_._1).zip(launched.map(_.get)).toMap
  }

  /** Drain the chain topologically: upstream processAllAvailable barriers
    * release downstream file sources batch by batch, while every query
    * stays live (the barriers are observation points, not lifecycle —
    * all ten queries hold their checkpoints and state across them). After
    * the real corpus has flowed, the log + db sentinels advance every
    * leg's watermark an hour past the horizon, so the bounce timers fire
    * exactly once and every real DWS window CLOSES (append mode emits a
    * window only at watermark passage; processAllAvailable waits for the
    * watermark-advancing no-data batch that does the emitting).
    *
    * r17: barriers within one topological LEVEL run in parallel — safe
    * exactly when every input of the level is fully written (the prior
    * level's barriers completed), because then each wait's completion
    * cannot depend on a sibling's. Across levels the order stays strict:
    * payment_wide reads the order-wide topic, so its barrier must follow
    * order_wide's, or its processAllAvailable could observe a momentary
    * no-new-data gap before order_wide's last file lands and return
    * under-drained. The two sentinel writes share ONE horizon scan
    * (sentinelTs was computed twice — two identical events aggregations)
    * and submit as independent batch jobs.
    *
    * Every query runs on the shared 100 ms [[ChainTrigger]]: a barrier
    * returns on the first idle trigger after its query has caught up, so
    * each barrier adds at most one interval over the data it waits for.
    *
    * `trace` times each barrier as a span and, once drained, records
    * every query's progress summary ([[Trace.summary]]) under its
    * [[Layers]] key; the default records nothing. */
  def drainAll(spark: SparkSession, sfDir: String, lay: Layout,
      qs: Map[String, StreamingQuery], trace: Trace = Trace.off): Unit = {
    def t(name: String)(body: => Unit): Unit = trace.span(name)(body)
    def par(names: String*): Unit =
      inParallel(names.map(n => () => qs(n).processAllAvailable()))
    t("drain_base")(par("base_log", "base_db"))
    t("drain_uv_ow")(par("unique_visit", "order_wide"))
    t("drain_pw")(qs("payment_wide").processAllAvailable())
    t("gen_sentinels") {
      val horizon = sentinelTs(spark, sfDir)
      inParallel(Seq(
        () => genSentinel(spark, sfDir, lay, horizon),
        () => genDbSentinel(spark, sfDir, lay, horizon)))
    }
    t("drain2_base")(par("base_log", "base_db"))
    // sentinel batch + timer batches
    t("drain2_uv_uj_ow")(par("unique_visit", "user_jump", "order_wide"))
    t("drain2_pw")(qs("payment_wide").processAllAvailable())
    t("drain2_dws")(par("visitor", "province", "keyword", "product"))
    trace.progress(Layers.map { case (q, layer) => s"$layer.$q" -> qs(q) })
  }

  // ------------------------------------------------------------------
  // the gate: the chain's terminal visitor frame (externally oracle-
  // gated) + stream≡batch equivalence booleans for every other layer
  // ------------------------------------------------------------------

  /** 1-row frame of TRUE iff `a` and `b` are multiset-equal. */
  private def same(a: DataFrame, b: DataFrame, name: String): DataFrame =
    a.exceptAll(b).agg(count(lit(1)).as("_x"))
      .crossJoin(broadcast(b.exceptAll(a).agg(count(lit(1)).as("_y"))))
      .select((col("_x") === 0 && col("_y") === 0).as(name))

  /** The final global watermark of an append-mode streaming agg, restated
    * in batch: min over the query's watermark nodes (one per unioned leg)
    * of max(event time) − delay — Spark's multipleWatermarkPolicy=min. A
    * leg with no rows pins the watermark at −∞ and no window ever closes,
    * exactly like the live query (that is why every leg gets a sentinel).
    * `ts` column, delay in ms. */
  private def finalWatermarkMs(legs: Seq[(DataFrame, Long)]): Option[Long] = {
    val row = legs.map { case (df, d) =>
      df.agg((max(col("ts")) - d).as("wm")) }
      .reduce(_.unionByName(_))
      .agg(min(col("wm")), count(col("wm"))).collect()(0)
    if (row.isNullAt(0) || row.getLong(1) < legs.size) None
    else Some(row.getLong(0))
  }

  /** Batch restatement of append-mode emission: keep only windows the
    * final watermark closed (edt ≤ wm; Spark's boundary predicate differs
    * by at most 1 ms, irrelevant under the 1-hour sentinel margin). Open
    * windows — the sentinels' own, and any genuinely-late stragglers —
    * never reached the live table and are excluded from the twin too. */
  private def closedOnly(stats: DataFrame, wm: Option[Long]): DataFrame =
    wm match {
      case Some(w) =>
        stats.filter(unix_millis(to_timestamp(col("edt"))) <= w)
      case None => stats.limit(0)
    }

  /** The seven per-layer equivalence booleans, one 1-row broadcastable
    * frame. Each compares the LIVE chain's committed wire/memory output
    * against the same shaping code run as a batch composition over the
    * same upstream inputs — engine mode (keyed state machines, stream-
    * stream joins, append-mode watermark-evicted window state,
    * checkpointed fan-out under concurrency) is the only variable. The
    * batch compositions' own external parity is what the a1-a5/c1/j1/j2
    * oracle rows already pin, so TRUE here extends those proofs to the
    * concurrent chain. The three DWS twins are filtered to watermark-
    * closed windows ([[closedOnly]]) — the append-mode contract the live
    * tables now hold. */
  def equivalenceGate(spark: SparkSession, lay: Layout): DataFrame = {
    import graft.core.Materialize.StageSyntax
    val uvStream = KafkaTopology.parsePageLog(
      valueBatch(spark, lay.topic(DwmUniqueVisit)))
      .filter(col("common.mid") =!= SentinelMid)
      .select(col("common.mid").as("mid"), col("ts"))
    val ujStream = KafkaTopology.parsePageLog(
      valueBatch(spark, lay.topic(DwmUserJumpDetail)))
      .filter(col("common.mid") =!= SentinelMid)
      .select(col("common.mid").as("mid"), col("ts"))
    // staged once: the ODS re-parse feeds uv/uj/keyword/product twins and
    // the CDC re-parse + join feeds both the order_ok and payment_ok legs.
    // pgAll keeps the sentinel lines (they drive the leg watermarks); pg
    // is the twin-content view without them. The four stage barriers read
    // four independent committed wire dirs, so they materialize in
    // parallel (guide §2.6) — each thunk stages exactly the frame it
    // would have alone.
    val Seq(pgAll, owFull, owWire, pwWire) = inParallel(Seq(
      () => BaseLog.pageLog(BaseLog.clean(
        BaseLog.parse(valueBatch(spark, lay.topic(OdsBaseLog))))).staged,
      () => batchOrderWide(spark, lay).staged,
      () => orderWideView(valueBatch(spark, lay.topic(DwmOrderWide))).staged,
      () => paymentWideView(
        valueBatch(spark, lay.topic(DwmPaymentWide))).staged))
    val pg = pgAll.filter(col("common.mid") =!= SentinelMid)
    val owStream = owWire
      .select("order_id", "sku_id", "province_name", "split_total_amount",
        "create_ts")
    val owBatch = owFull
      .select(col("o_id").as("order_id"), col("d_sku_id").as("sku_id"),
        col("province_name"),
        col("d_split_total_amount").as("split_total_amount"),
        col("o_create_ts").as("create_ts"))
    val pwBatch = batchPaymentWide(spark, lay, owFull)
      .select(col("p_id").as("payment_id"), col("ow_order_id").as("order_id"),
        col("p_create_ts").as("ts"), col("ow_sku_id").as("sku_id"),
        col("ow_split_total_amount").as("split_total_amount"))
    // DWS batch twins: ow/pw consumed from the committed wire (their own
    // wire≡batch proof is order_ok/payment_ok) — provenance stays layered.
    // Each twin is cut to the windows its live query's final watermark
    // closed, with leg watermarks computed over the sentinel-INCLUSIVE
    // wire frames (the live watermark nodes saw the sentinels too).
    implicit val s: SparkSession = spark
    val favorB = skuTsFrame(valueBatch(spark, lay.dbTopic("dwd_favor_info")))
    val cartB = skuTsFrame(valueBatch(spark, lay.dbTopic("dwd_cart_info")))
    val refundB = skuTsFrame(
      valueBatch(spark, lay.dbTopic("dwd_refund_payment")),
      "order_id" -> "long", "refund_amount" -> "decimal(16,2)")
    val commentB = skuTsFrame(
      valueBatch(spark, lay.dbTopic("dwd_comment_info")),
      "appraise" -> "string")
    // three independent 1-row watermark collects over the staged frames —
    // same §2.6 overlap (each is one small aggregation job)
    val Seq(provinceWm, keywordWm, productWm) = inParallel(Seq(
      () => finalWatermarkMs(Seq((provinceInput(owWire), 1000L))),
      () => finalWatermarkMs(Seq((
        pgAll.filter(col("page.last_page_id") === "search" &&
          col("page.item").isNotNull).select(col("ts")), 2000L))),
      () => finalWatermarkMs(
        productLegs(pgAll, favorB, cartB, owWire, pwWire, refundB, commentB)
          .map(leg => (leg, 2000L)))))
    val provinceBatch = closedOnly(
      WindowStats.provinceStats(provinceInput(owWire)), provinceWm)
    val keywordBatch = closedOnly(WindowStats.keywordStats(pg), keywordWm)
    val productBatch = closedOnly(WindowStats.productStats(productInputs(
      pg, favorB, cartB, owWire, pwWire, refundB, commentB)), productWm)
    Seq(
      same(uvStream, batchUv(pg), "uv_ok"),
      same(ujStream, batchUj(pg), "uj_ok"),
      same(owStream, owBatch, "order_ok"),
      same(pwWire, pwBatch, "payment_ok"),
      same(dwsTable(spark, lay, "province"), provinceBatch, "province_ok"),
      same(dwsTable(spark, lay, "keyword"), keywordBatch, "keyword_ok"),
      same(dwsTable(spark, lay, "product"), productBatch, "product_ok"))
      .reduce((a, b) => a.crossJoin(broadcast(b)))
  }

  /** The chain's terminal frame in a1_visitor_window's oracle shape: the
    * sentinel's own group dropped, cents divided back to DECIMAL and cast
    * DOUBLE exactly like the oracle's sum(CAST(value AS DECIMAL(18,2))).
    * pv_ct/dur_sum come from the pv one-hot rows; the uv/uj rows merged
    * into the same groups contribute zeros to both (their own measures
    * are proven by uv_ok/uj_ok). */
  def visitorResult(spark: SparkSession, lay: Layout,
      gate: DataFrame): DataFrame =
    dwsTable(spark, lay, "visitor")
      .filter(col("ch") =!= SentinelMid)
      .select(col("stt"), col("edt"), col("ch").as("event_type"),
        col("pv_ct"),
        (col("dur_sum").cast("decimal(22,2)") / 100).cast("double")
          .as("dur_sum"))
      .crossJoin(broadcast(gate))
      .orderBy("stt", "event_type")

  // ------------------------------------------------------------------
  // batch twins (the equivalence side of the gate): the SAME shaping
  // code over batch reads of the same wire dirs' UPSTREAM inputs —
  // stream-specific state machines restated as batch folds/windows
  // ------------------------------------------------------------------

  /** Batch UV twin: first entry-page per (mid, day) by (ts, event order);
    * ties cannot occur (unique per-mid ts — module precondition). Takes
    * the (staged) batch page frame so the four page consumers in the
    * gate share one ODS re-parse. */
  def batchUv(page: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val entries = page
      .filter(col("page.last_page_id").isNull || col("page.last_page_id") === "")
    entries
      // date_format renders in the session time zone — the same zone
      // UniqueVisit.firstPerDay takes a visit's day in
      .withColumn("_day",
        date_format(timestamp_millis(col("ts")), "yyyy-MM-dd"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("common.mid"), col("_day")).orderBy(col("ts"))))
      .filter(col("_rn") === 1)
      .select(col("common.mid").as("mid"), col("ts"))
  }

  /** Batch bounce twin: the SHIPPED pattern ([[Bounce.pattern]]) folded
    * per mid in ts order with `Matcher.foldAll`, trailing runs flushed as
    * timeouts — exactly what the streaming timers emit once the sentinel
    * advances the watermark past every open window. */
  def batchUj(page: DataFrame): DataFrame = {
    val spark = page.sparkSession
    import spark.implicits._
    val pat = Bounce.pattern[(String, Long, Boolean)](_._3)
    page
      .select(col("common.mid").as("mid"), col("ts"),
        (coalesce(col("page.last_page_id"), lit("")) === "").as("entry"))
      .as[(String, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts")) { (_: String, rows: Iterator[(String, Long, Boolean)]) =>
        val (matches, timeouts) =
          graft.cep.Matcher.foldAll(pat, rows.map(e => (e._2 * 1000L, e)))
        (matches ++ timeouts).map(m => (m.head._1, m.head._2))
      }
      .toDF("mid", "ts")
  }

  /** Batch order-wide twin: routed CDC re-parsed, equi-join with the ±5s
    * bound as a plain predicate, broadcast dim enrichment from the SAME
    * DimStore snapshot the live chain committed. */
  def batchOrderWide(spark: SparkSession, lay: Layout): DataFrame = {
    val oi = OrderWide.prefixed(KafkaTopology.parseOrderInfo(
      valueBatch(spark, lay.dbTopic(DwdOrderInfo))), "o_")
    val od = OrderWide.prefixed(KafkaTopology.parseOrderDetail(
      valueBatch(spark, lay.dbTopic(DwdOrderDetail))), "d_")
    val joined = oi.join(od, col("o_id") === col("d_order_id") &&
      abs(col("d_create_ts") - col("o_create_ts")) <=
        OrderWide.JoinBoundSec * 1000L)
    val dim = DbRouting.readDim(spark, lay.dimProvince)
      .select("id", "name", "area_code", "iso_code")
    OrderWide.enrich(joined, Seq(("province_", dim, "o_province_id", "id")))
  }

  def batchPaymentWide(spark: SparkSession, lay: Layout,
      orderWideFrame: DataFrame): DataFrame = {
    val pay = OrderWide.prefixed(KafkaTopology.parsePaymentInfo(
      valueBatch(spark, lay.dbTopic(DwdPaymentInfo))), "p_")
    val ow = OrderWide.prefixed(orderWideFrame
      .select(col("o_id").as("order_id"), col("o_create_ts").as("create_ts"),
        col("d_sku_id").as("sku_id"),
        col("d_split_total_amount").as("split_total_amount")), "ow_")
    PaymentWide.mergedView(
      pay.join(ow, col("p_order_id") === col("ow_order_id") &&
        col("ow_create_ts").between(
          col("p_create_ts") - 15L * 60000L, col("p_create_ts") + 5000L)))
  }

}
