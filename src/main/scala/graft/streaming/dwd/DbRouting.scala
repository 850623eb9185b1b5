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
  * On Spark the config is a tiny slowly-changing table that [[route]]
  * collects into the same keyed map; the chain re-reads it every
  * micro-batch inside foreachBatch, giving next-batch config liveness
  * (SURVEY §7.3).
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

  /** One table_process route: the sink a (sourceTable, operateType) pair
    * goes to and the `after` keys it keeps (null keeps none). */
  private final case class Route(sinkType: String, sinkTable: String, cols: Seq[String])

  /** J4 + P4 — route each record by looking up its (tableName, type) in the
    * config, as TableProcessFunction.java:60-97 looks up its broadcast
    * MapState[sourceTable-type → TableProcess]: the config rows are
    * collected into a map keyed by (sourceTable, operateType), the map is
    * applied to each record as a literal, and `after` is projected down to
    * the route's sinkColumns (filterColumn analog via map_filter — stays
    * codegen-friendly, no UDF). Unknown pairs are dropped, matching
    * TableProcessFunction.java:67-69. The MapState holds one route per
    * key, so a config with two rows for one pair is rejected, naming the
    * pair, rather than fanning the record out to both.
    *
    * The config is read when `route` is called: the warehouse chain calls
    * it on each base_db micro-batch inside foreachBatch, so a config row
    * added between batches routes the next batch (SURVEY §7.3). No join:
    * a broadcast hash join against the 8-row config built an
    * UnsafeHashedRelation that pins a whole Tungsten page per copy
    * (SCALING §14c). */
  def route(cdc: DataFrame, config: DataFrame): DataFrame = {
    val routes = typedLit(routeMap(config))
    cdc.withColumn("route", routes(col("tableName"))(col("type")))
      .filter(col("route").isNotNull)
      .withColumn("after",
        expr("map_filter(after, (k, v) -> array_contains(route.cols, k))"))
      .select(col("database"), col("tableName"), col("type"), col("after"),
        col("route.sinkType").as("sinkType"), col("route.sinkTable").as("sinkTable"))
  }

  /** The config as sourceTable → operateType → [[Route]]. Rows with a null
    * key can match no record and are skipped; a duplicate key fails. */
  private def routeMap(config: DataFrame): Map[String, Map[String, Route]] = {
    val routes = config.select("sourceTable", "operateType", "sinkType",
        "sinkTable", "sinkColumns").collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1)) -> Route(r.getString(2),
        r.getString(3), Option(r.getString(4)).map(_.split(",", -1).toSeq).orNull))
    routes.groupBy(_._1).find(_._2.size > 1).foreach { case ((t, op), rs) =>
      throw new IllegalArgumentException(
        s"table_process config has ${rs.size} routes for (sourceTable=$t, operateType=$op); one is allowed")
    }
    routes.groupMap(_._1._1) { case ((_, op), r) => op -> r }
      .map { case (table, ops) => table -> ops.toMap }
  }

  def kafkaRoute(routed: DataFrame): DataFrame =
    routed.filter(col("sinkType") === "kafka")

  def hbaseRoute(routed: DataFrame): DataFrame =
    routed.filter(col("sinkType") === "hbase")

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
