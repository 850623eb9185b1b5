package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (see /root/repo/TESTDATA.md).
  *
  * All operator queries read through here so that column pruning / predicate
  * pushdown reach the parquet scan (Catalyst handles it; we just keep the
  * scan declarative — no collect, no RDD).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The generator has shipped `events.ts` as parquet TIMESTAMP(NANOS) in
    * some rounds and TIMESTAMP_NTZ(MICROS) in others, so the loader adapts
    * to whatever type the footer declares instead of hardcoding one era:
    *  - LongType (nanos read via nanosAsLong): truncate `div 1000` to µs
    *    (integer div — double division loses precision above 2^53), then
    *    `timestamp_micros`. Matches DuckDB's ns→µs truncation.
    *  - TimestampNTZType: cast to TimestampType. Sessions run with
    *    `spark.sql.session.timeZone=UTC`, so the cast is value-preserving
    *    on the µs value, and DuckDB reads the same naive µs natively —
    *    oracle parity holds.
    *  - TimestampType: already what every query expects.
    * Anything else is a generator contract break: fail fast with a message
    * naming the drift rather than letting 30 queries die one by one.
    */
  def normalizeTs(tsType: DataType): Column = tsType match {
    case LongType         => expr("timestamp_micros(ts div 1000)")
    case TimestampNTZType => col("ts").cast(TimestampType)
    case TimestampType    => col("ts")
    case other => throw new IllegalStateException(
      s"testdata contract drift: events.ts arrived as $other — expected " +
        "TIMESTAMP(NANOS) (long via nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP. " +
        "The generator changed again; extend Tables.normalizeTs.")
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Keep nanosAsLong on so legacy TIMESTAMP(NANOS) data loads as long
    // instead of erroring; µs-era data is unaffected by the flag.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ branch of normalizeTs (cast NTZ → TIMESTAMP) interprets the
    // naive value in the SESSION time zone — value-preserving only under
    // UTC. Bench/Verify/tests pin UTC at session build, but entry() runs
    // on a driver-supplied session that may not; pin it here so a
    // non-UTC caller cannot silently shift every events.ts by its zone
    // offset (this loader is the one place all events reads go through).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events")
      df.withColumn("ts", normalizeTs(df.schema("ts").dataType))
    else df
  }

  /** The file-stream twin of [[load]]. A file stream needs its schema up
    * front, so it is read from the table's parquet footer (a metadata-only
    * batch read) rather than typed by hand, and `events.ts` gets the same
    * [[normalizeTs]] as `load`. The source streams the sf dir, glob-
    * filtered to the table's file (file streams take a directory). */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val schema = spark.read.parquet(s"$sfDir/$name.parquet").schema
    val df = spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(sfDir)
    if (name == "events") df.withColumn("ts", normalizeTs(schema("ts").dataType))
    else df
  }

  /** Expected column set per table — the generator's contract. Checked at
    * entrypoint startup so a driver-side regen fails one clear line, not
    * 24 scattered analysis errors. */
  private val expectedCols: Map[String, Set[String]] = Map(
    "region"     -> Set("r_regionkey", "r_name"),
    "nation"     -> Set("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                        "c_mktsegment"),
    "supplier"   -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size",
                        "p_retailprice"),
    "orders"     -> Set("o_orderkey", "o_custkey", "o_orderstatus",
                        "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                        "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Set("event_id", "ts", "user_id", "event_type", "value",
                        "props"),
    "documents"  -> Set("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Set("vec_id", "embedding", "label"),
  )

  /** Startup smoke check: every table loads, has the expected columns, and
    * `events.ts` lands as TimestampType after normalization. Throws with a
    * drift-naming message on any mismatch. Cheap (footer reads only). */
  def contractCheck(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val schema =
        try load(spark, sfDir, n).schema
        catch {
          case e: IllegalStateException => throw e
          case e: Exception => throw new IllegalStateException(
            s"testdata contract drift: $sfDir/$n.parquet failed to load: " +
              e.getMessage, e)
        }
      val got = schema.fieldNames.toSet
      val want = expectedCols(n)
      if (got != want) throw new IllegalStateException(
        s"testdata contract drift: $n columns changed — missing " +
          s"${(want -- got).toSeq.sorted.mkString(",")}; unexpected " +
          s"${(got -- want).toSeq.sorted.mkString(",")}")
      if (n == "events" && schema("ts").dataType != TimestampType)
        throw new IllegalStateException(
          "testdata contract drift: events.ts normalized to " +
            s"${schema("ts").dataType}, expected TimestampType")
    }
}
