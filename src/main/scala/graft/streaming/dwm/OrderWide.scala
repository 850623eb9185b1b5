package graft.streaming.dwm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DWM order-wide — OrderWideApp (RT/app/dwm/OrderWideApp.java:27-208):
  * order_info ⋈ order_detail keyed interval join (±5s event time), then six
  * dimension enrichments.
  *
  * Spark-first shape:
  *  - the interval join is a Structured Streaming stream-stream inner join
  *    with watermarks on both sides and a time-range condition — state
  *    retention is derived by Spark from the bounds (no hand-built keyed
  *    state);
  *  - each async Phoenix/Redis dim lookup (RT/utils/DimAsyncFunction.java)
  *    becomes a stream-static broadcast left join; the static side is
  *    resolved per micro-batch, which IS the cache + invalidation story.
  */
object OrderWide {

  val JoinBoundSec = 5L

  /** Stream-stream interval join. Inputs carry event-time `create_ts`
    * (epoch ms). Column names are expected prefixed (o_/d_) to avoid
    * ambiguity, e.g. via prefixed(df, "o_"). */
  def intervalJoin(orderInfo: DataFrame, orderDetail: DataFrame): DataFrame = {
    val o = orderInfo
      .withColumn("o_time", timestamp_millis(col("o_create_ts")))
      .withWatermark("o_time", JoinWatermark)
    val d = orderDetail
      .withColumn("d_time", timestamp_millis(col("d_create_ts")))
      .withWatermark("d_time", JoinWatermark)
    o.join(d,
      col("o_id") === col("d_order_id") &&
        col("d_time").between(
          col("o_time") - expr(s"INTERVAL $JoinBoundSec SECONDS"),
          col("o_time") + expr(s"INTERVAL $JoinBoundSec SECONDS")))
  }

  /** Rename every column with a prefix (OrderWide bean merge analog —
    * RT/bean/OrderWide.java:53-86 merges two beans field-by-field; on
    * Spark it is just the union of prefixed columns after the join). */
  def prefixed(df: DataFrame, prefix: String): DataFrame =
    df.toDF(df.columns.map(prefix + _): _*)

  /** J3 — dimension enrichment chain. `dims` maps a prefix to
    * (dimDf, factKeyCol, dimKeyCol); every dim is broadcast and
    * left-joined, so a missing dim row passes the fact through with nulls —
    * the reference's on-miss behavior (record passes unenriched). */
  def enrich(fact: DataFrame,
      dims: Seq[(String, DataFrame, String, String)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (prefix, dim, factKey, dimKey)) =>
      val d = prefixed(dim, prefix)
      acc.join(broadcast(d), col(factKey) === col(prefix + dimKey), "left")
    }

  /** F8 — derived user_age from birthday epoch-day against the event date
    * (OrderWideApp.java:103-108; anchored on the order's own create date so
    * results are deterministic, not wall-clock dependent). */
  def withUserAge(enriched: DataFrame, birthdayCol: String = "u_birthday",
      orderDateCol: String = "o_create_date"): DataFrame =
    enriched.withColumn("user_age",
      floor(datediff(to_date(col(orderDateCol)), to_date(col(birthdayCol))) / 365)
        .cast("int"))
}
