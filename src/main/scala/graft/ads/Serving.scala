package graft.ads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ADS serving layer — the gmall2021-publisher query surface
  * (PUB/controller/SugarController.java + PUB/mapper/ProductStatsMapper.java)
  * as plain spark.sql-able functions over the DWS product_stats table.
  * No REST server needed for capability parity: each endpoint is one
  * DataFrame-returning function.
  *
  * The DWS table is ClickHouse ReplacingMergeTree(ts) in the reference —
  * replayed rows dedup by highest ts per key. dedupView reproduces that
  * reader-side.
  */
object Serving {

  /** ReplacingMergeTree(ts) reader view (DDL comments
    * RT/app/dws/ProductStatsApp.java:337-339). */
  def dedupView(productStats: DataFrame, keyCols: Seq[String],
      versionCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
    productStats.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** GET /api/sugar/gmv (ProductStatsMapper.java:15-17):
    * sum(order_amount) for one day. */
  def gmv(productStats: DataFrame, date: String): DataFrame =
    productStats
      .filter(date_format(col("stt"), "yyyyMMdd") === date)
      .agg(sum("order_amount").as("gmv"))

  /** GET /api/sugar/spu (ProductStatsMapper.java:20-24): revenue by spu,
    * having > 0, top N. */
  def bySpu(productStats: DataFrame, date: String, limit: Int): DataFrame =
    productStats
      .filter(date_format(col("stt"), "yyyyMMdd") === date)
      .groupBy("spu_id", "spu_name")
      .agg(sum("order_amount").as("order_amount"),
        sum("order_ct").as("order_ct"))
      .filter(col("order_amount") > 0)
      .orderBy(col("order_amount").desc, col("spu_id"))
      .limit(limit)
}
