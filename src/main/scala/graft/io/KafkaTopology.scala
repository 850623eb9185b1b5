package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Schemas

/** The reference's Kafka topic names and the decode edges of its wire
  * formats: JSON value strings → typed frames.
  *
  * Every reference app is glued to its neighbors by topics
  * (RT/app/dwd/BaseLogApp.java:28,128-130; RT/app/dwd/BaseDBApp.java:107-113;
  * RT/app/dwm/UniqueVisitApp.java:21-23; RT/app/dwm/OrderWideApp.java:30-37;
  * RT/app/dwm/PaymentWideApp.java:29-36). The one composition of those apps
  * is [[graft.streaming.Warehouse.start]]: ten live queries over file-dir
  * topics named here, each consumer decoding its input with the parsers
  * below. The broker edge — Kafka source/sink options, wire encode and
  * decode, per-row topic routing — is [[KafkaEdges]]; the same decoders
  * apply to its `value` column unchanged.
  */
object KafkaTopology {

  /** Topic names, verbatim from the reference. */
  object Topics {
    val OdsBaseLog = "ods_base_log"
    val OdsBaseDb = "ods_base_db"
    val DwdStartLog = "dwd_start_log"
    val DwdDisplayLog = "dwd_display_log"
    val DwdPageLog = "dwd_page_log"
    val DwdOrderInfo = "dwd_order_info"
    val DwdOrderDetail = "dwd_order_detail"
    val DwdPaymentInfo = "dwd_payment_info"
    val DwmUniqueVisit = "dwm_unique_visit"
    val DwmUserJumpDetail = "dwm_user_jump_detail"
    val DwmOrderWide = "dwm_order_wide"
    val DwmPaymentWide = "dwm_payment_wide"
  }

  // ------------------------------------------------------------------
  // decode edges: JSON value strings → typed frames (the reference's
  // JSONObject.parseObject → bean maps, e.g. OrderWideApp.java:40-60)
  // ------------------------------------------------------------------

  /** ods_base_log values → parsed page-log envelope (Schemas.pageLog). */
  def parsePageLog(values: DataFrame): DataFrame =
    values.select(from_json(col("value"), Schemas.pageLog).as("j")).select("j.*")

  private def tsFields(df: DataFrame): DataFrame =
    df.withColumn("create_date", substring(col("create_time"), 1, 10))
      .withColumn("create_hour", substring(col("create_time"), 12, 2))
      .withColumn("create_ts",
        unix_millis(to_timestamp(col("create_time"), "yyyy-MM-dd HH:mm:ss")))

  /** dwd_order_info values (flat string-map JSON from the db router) →
    * OrderInfo bean columns with derived create_date/hour/ts
    * (OrderWideApp.java:42-48). */
  def parseOrderInfo(values: DataFrame): DataFrame = tsFields(
    values.select(from_json(col("value"), Schemas.cdcValue).as("m")).select(
      col("m")("id").cast("long").as("id"),
      col("m")("province_id").cast("long").as("province_id"),
      col("m")("user_id").cast("long").as("user_id"),
      col("m")("order_status").as("order_status"),
      col("m")("total_amount").cast("decimal(16,2)").as("total_amount"),
      col("m")("create_time").as("create_time")))

  /** dwd_order_detail values → OrderDetail bean (OrderWideApp.java:52-58). */
  def parseOrderDetail(values: DataFrame): DataFrame = tsFields(
    values.select(from_json(col("value"), Schemas.cdcValue).as("m")).select(
      col("m")("id").cast("long").as("id"),
      col("m")("order_id").cast("long").as("order_id"),
      col("m")("sku_id").cast("long").as("sku_id"),
      col("m")("sku_num").cast("long").as("sku_num"),
      col("m")("sku_name").as("sku_name"),
      col("m")("order_price").cast("decimal(16,2)").as("order_price"),
      col("m")("split_total_amount").cast("decimal(16,2)").as("split_total_amount"),
      col("m")("create_time").as("create_time")))
    .drop("create_date", "create_hour")

  /** dwd_payment_info values → PaymentInfo bean (PaymentWideApp.java:40-48). */
  def parsePaymentInfo(values: DataFrame): DataFrame = tsFields(
    values.select(from_json(col("value"), Schemas.cdcValue).as("m")).select(
      col("m")("id").cast("long").as("id"),
      col("m")("order_id").cast("long").as("order_id"),
      col("m")("user_id").cast("long").as("user_id"),
      col("m")("total_amount").cast("decimal(16,2)").as("total_amount"),
      col("m")("subject").as("subject"),
      col("m")("payment_type").as("payment_type"),
      col("m")("create_time").as("create_time")))
    .drop("create_date", "create_hour")
}
