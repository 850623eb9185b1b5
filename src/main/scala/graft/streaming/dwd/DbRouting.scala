package graft.streaming.dwd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Schemas

/** DWD db layer — BaseDBApp (RT/app/dwd/BaseDBApp.java:25-113) +
  * TableProcessFunction (RT/app/function/TableProcessFunction.java:49-159)
  * rebuilt Spark-first.
  *
  * The reference broadcasts a config CDC stream as MapState and routes each
  * binlog record (kafka vs hbase sink, projected columns, generated DDL).
  * On Spark the config is a tiny slowly-changing table joined per
  * micro-batch (stream-static join; the static side is re-read every batch
  * inside foreachBatch, giving next-batch config liveness — SURVEY §7.3).
  */
object DbRouting {

  /** Parse the CDC envelope stream (string value column → typed columns).
    * S2 semantics: op lowercased, create→insert
    * (RT/utils/CustomerDeserialization.java:60-69). */
  def parseCdc(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), Schemas.cdcEnvelope).as("j"))
      .select("j.*")
      .withColumn("type",
        when(lower(col("type")) === "create", "insert").otherwise(lower(col("type"))))

  /** P3 — drop deletes (BaseDBApp.java:39-45). */
  def dropDeletes(cdc: DataFrame): DataFrame =
    cdc.filter(col("type") =!= "delete")

  /** J4 + P4 — route each record through the config table and project
    * `after` down to the configured sinkColumns (filterColumn analog via
    * map_filter — stays codegen-friendly, no UDF). Unknown
    * (sourceTable, operateType) pairs are dropped, matching
    * TableProcessFunction.java:67-69. */
  def route(cdc: DataFrame, config: DataFrame): DataFrame = {
    val cfg = broadcast(config.select(
      col("sourceTable"), col("operateType"), col("sinkType"),
      col("sinkTable"), split(col("sinkColumns"), ",").as("cols")))
    cdc.join(cfg,
        cdc("tableName") === cfg("sourceTable") &&
          cdc("type") === cfg("operateType"), "inner")
      .withColumn("after",
        expr("map_filter(after, (k, v) -> array_contains(cols, k))"))
      .select("database", "tableName", "type", "after", "sinkType", "sinkTable")
  }

  def kafkaRoute(routed: DataFrame): DataFrame =
    routed.filter(col("sinkType") === "kafka")

  def hbaseRoute(routed: DataFrame): DataFrame =
    routed.filter(col("sinkType") === "hbase")

  /** K2 — dynamic-sink-per-record writer for a micro-batch of kafka-routed
    * records: the payload is the projected `after` object as a JSON `value`,
    * the destination the record's sinkTable (MyKafkaUtil.java:27-35 +
    * BaseDBApp.java:107-113). A Kafka sink would honor a per-row `topic`
    * column natively ([[graft.io.KafkaEdges.encodeDynamic]]); the file form
    * partitions by sinkTable — one dynamic write, no per-table loop — into
    * parquet under `baseDir/sinkTable=<t>`. One file per sink table per
    * batch: a single rename is atomic, so a concurrent consumer of the dir
    * sees a batch entirely or not at all. */
  def writeDynamic(routed: DataFrame, baseDir: String): Unit =
    routed.select(col("sinkTable"), to_json(col("after")).as("value"))
      .coalesce(1)
      .write.mode("append").partitionBy("sinkTable").parquet(baseDir)

  /** K3/F12 — dim upsert for a micro-batch: latest version per pk wins,
    * ties toward the incoming batch (DimSinkFunction.java:39-71 upsert;
    * Phoenix semantics = last-write-wins by key). MERGE-shaped and
    * incremental: only the key-hash buckets the batch touches are merged
    * and rewritten, committed by an atomic manifest swap — per-batch work
    * is O(|batch| + touched buckets), never O(|dim|), and a crash leaves
    * the previous snapshot fully readable (graft.io.DimStore).
    * Read the table back with [[readDim]]. */
  def upsertDim(spark: SparkSession, batch: DataFrame, dimPath: String,
      pk: String, versionCol: String,
      nBuckets: Int = graft.io.DimStore.DefaultBuckets): Unit =
    graft.io.DimStore.upsert(spark, batch, dimPath, pk, versionCol, nBuckets)

  /** Current dim snapshot (resolves the store's latest manifest). */
  def readDim(spark: SparkSession, dimPath: String): DataFrame =
    graft.io.DimStore.read(spark, dimPath)

  /** K4 — create-table-if-not-exists DDL from a config row
    * (TableProcessFunction.java:112-159): all columns STRING, pk defaulted
    * to id, extend clause appended. Returns the DDL it would run. */
  def generateDdl(sinkTable: String, sinkColumns: String, sinkPk: String,
      sinkExtend: String): String = {
    val pk = Option(sinkPk).filter(_.nonEmpty).getOrElse("id")
    val ext = Option(sinkExtend).getOrElse("")
    val cols = sinkColumns.split(",").map { c =>
      if (c == pk) s"`$c` STRING COMMENT 'pk'" else s"`$c` STRING"
    }.mkString(", ")
    s"CREATE TABLE IF NOT EXISTS `$sinkTable` ($cols) USING PARQUET $ext".trim
  }
}
