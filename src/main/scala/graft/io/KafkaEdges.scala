package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Kafka source/sink edges — the Spark analog of the reference's
  * MyKafkaUtil (gmall-realtime/src/main/java/com/atguigu/utils/
  * MyKafkaUtil.java:23-53), which glues every app to its topics:
  *
  *  - getKafkaConsumer(topic, groupId)      → [[sourceOptions]] + [[decode]] (S3)
  *  - getKafkaSink(topic)                   → [[writer]] over [[encode]]     (K1)
  *  - getKafkaSinkBySchema(dynamic topic)   → [[writer]] (no fixed topic)
  *                                            over [[encodeDynamic]]        (K2)
  *  - getKafkaDDL(topic, groupId)           → [[kafkaDdl]]                   (S4)
  *
  * Design: everything testable without a broker is a pure function —
  * option maps ([[sourceOptions]]/[[sinkOptions]]) and frame transforms
  * ([[decode]]/[[encode]]/[[encodeDynamic]]) — and the runtime glue
  * ([[writer]]) is one line of composition. The
  * transforms never touch business logic: apps stay source-agnostic and
  * the CORRECTNESS gate runs the same transforms on file/memory edges.
  *
  * Scale notes: the Kafka source maps one Spark input partition per
  * topic-partition — parallelism follows the topic, no shuffle at the
  * edge. `maxOffsetsPerTrigger` bounds each micro-batch so state+shuffle
  * stay sized to the trigger, not to the backlog after downtime. The sink
  * honors a per-row `topic` column natively, so dynamic routing (K2) is
  * one write, not a per-table loop.
  */
object KafkaEdges {

  /** Consumer options (MyKafkaUtil.java:40-43). `startingOffsets`
    * defaults to latest, matching the reference's
    * 'scan.startup.mode' = 'latest-offset' (MyKafkaUtil.java:52);
    * recovery replays from the checkpoint's own offsets, which take
    * precedence — same "group offsets under checkpoint" model as Flink.
    *
    * The group identity rides `groupIdPrefix`, NOT a fixed
    * `kafka.group.id`: Spark documents that concurrent queries sharing
    * one fixed group id are likely to interfere and each read only part
    * of the data — and a deployment runs several queries that may share
    * one group id. The prefix keeps the reference's per-app identity for broker
    * monitoring/ACLs while Spark appends a unique suffix per query. */
  def sourceOptions(bootstrap: String, topic: String, groupId: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "groupIdPrefix" -> groupId,
      "startingOffsets" -> startingOffsets,
      // a lost topic-partition should fail the query, not silently drop data
      "failOnDataLoss" -> "true"
    ) ++ maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)

  /** Producer options (MyKafkaUtil.java:23-25). `topic = None` omits the
    * topic option entirely → the sink routes on the frame's own `topic`
    * column (the K2 dynamic path). */
  def sinkOptions(bootstrap: String, topic: Option[String]): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap) ++ topic.map("topic" -> _)

  /** Kafka wire frame → string `value` (SimpleStringSchema analog,
    * MyKafkaUtil.java:42). Keeps the event timestamp for event-time ops. */
  def decode(raw: DataFrame): DataFrame =
    raw.selectExpr(
      "CAST(value AS STRING) AS value",
      "timestamp AS kafka_ts")

  /** Any frame → Kafka wire frame for a fixed topic: whole row as JSON
    * value (the reference serializes beans with JSON.toJSONString before
    * getKafkaSink — e.g. RT/app/dwm/OrderWideApp.java:61). `keyCol`
    * (optional) becomes the Kafka key → per-key ordering + log compaction. */
  def encode(df: DataFrame, keyCol: Option[String] = None): DataFrame = {
    val value = to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value")
    keyCol match {
      case Some(k) => df.select(col(k).cast("string").as("key"), value)
      case None    => df.select(value)
    }
  }

  /** K2 — dynamic per-record destination (BaseDBApp.java:107-113 +
    * MyKafkaUtil.getKafkaSinkBySchema): `topicCol` names the target topic
    * per row, `payload` is the value expression. One frame, one sink; the
    * Kafka writer reads the `topic` column because [[sinkOptions]] set
    * no fixed topic. */
  def encodeDynamic(df: DataFrame, topicCol: String,
      payload: org.apache.spark.sql.Column): DataFrame =
    df.select(col(topicCol).cast("string").as("topic"), payload.cast("string").as("value"))

  /** S4 — Kafka DDL for `spark.sql` (MyKafkaUtil.getKafkaDDL:46-53):
    * Spark's KafkaSourceProvider is a TableProvider, so a topic is
    * CREATE TABLE ... USING kafka away. */
  def kafkaDdl(table: String, topic: String, bootstrap: String,
      groupId: String): String =
    s"""CREATE TABLE IF NOT EXISTS `$table`
       |USING kafka
       |OPTIONS (
       |  'kafka.bootstrap.servers' = '$bootstrap',
       |  'subscribe' = '$topic',
       |  'groupIdPrefix' = '$groupId',
       |  'startingOffsets' = 'latest',
       |  'failOnDataLoss' = 'true'
       |)""".stripMargin

  // ------------------------------------------------------------------
  // runtime glue (needs the spark-sql-kafka connector on the classpath)
  // ------------------------------------------------------------------

  /** Unstarted writer for a fixed topic — checkpointed, at-least-once
    * into Kafka (effective exactly-once downstream via the same
    * ReplacingMergeTree-style dedup the reference's sinks assume;
    * see streaming/Runner.scala). */
  def writer(df: DataFrame, bootstrap: String, topic: Option[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    df.writeStream
      .format("kafka")
      .options(sinkOptions(bootstrap, topic))
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
}
