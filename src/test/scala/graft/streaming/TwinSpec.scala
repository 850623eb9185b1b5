package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Twin]]'s lifecycle contract, for both sink kinds: a repeat run in one
  * session (the bench's iteration shape) sees only its own rows, a failing
  * per-batch body or wave surfaces its exception and leaves no query
  * running, and a memory twin's sentinel wave releases what only its
  * watermark advance can. */
class TwinSpec extends SparkTestBase {

  private val marker = "twin-spec: per-batch body failed"

  /** A fresh input dir holding (id, ts-seconds) rows, and its file stream. */
  private def input(secs: Seq[Long]): (String, DataFrame) = {
    import spark.implicits._
    val in = s"${tmpDir()}/in"
    secs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "sec").coalesce(1).write.parquet(in)
    (in, spark.readStream.schema("id LONG, sec LONG").parquet(in)
      .withColumn("ts", timestamp_seconds(col("sec"))))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def failsWithMarker(run: => Any): Unit = {
    val e = intercept[Throwable](run)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
      String.valueOf(c.getMessage).contains(marker)), e)
    assert(spark.streams.active.isEmpty)
  }

  test("memory twin: a second run in one session returns the same rows") {
    val (_, stream) = input(Seq(1L, 2L, 3L))
    val first = rows(Twin.memory(stream.select("id"), "twin_spec_rerun"))
    val second = rows(Twin.memory(stream.select("id"), "twin_spec_rerun"))
    assert(first == Seq("[0]", "[1]", "[2]"))
    assert(second == first)
  }

  test("parquet twin: a second run in one session returns the same rows") {
    val (_, stream) = input(Seq(1L, 2L, 3L))
    def run() = rows(spark.read.parquet(
      Twin.parquet(stream.select("id"), "graft_twin_spec_") { (b, _, dst) =>
        b.write.mode("append").parquet(dst)
      }))
    val first = run()
    assert(first == Seq("[0]", "[1]", "[2]"))
    assert(run() == first)
  }

  test("memory twin: a failing batch throws its exception, no query left active") {
    val (_, stream) = input(Seq(1L))
    val msg = marker // a local, so the UDF closure does not capture the suite
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException(msg); id
    }
    failsWithMarker(
      Twin.memory(stream.select(boom(col("id"))), "twin_spec_fail"))
  }

  test("memory twin: a failing wave throws its exception, no query left active") {
    // the query is still running when a wave throws: only Twin stops it
    val (_, stream) = input(Seq(1L))
    failsWithMarker(Twin.memory(stream.select("id"), "twin_spec_wave_fail",
      waves = Seq(() => throw new IllegalStateException(marker))))
  }

  test("parquet twin: a failing body throws its exception, no query left active") {
    val (_, stream) = input(Seq(1L))
    failsWithMarker(Twin.parquet(stream, "graft_twin_spec_fail_") {
      (_, _, _) => throw new IllegalStateException(marker)
    })
  }

  test("memory twin: a sentinel wave releases the windows its watermark closes") {
    import spark.implicits._
    // windows [0,10) and [10,20); the first drain's watermark (12 s)
    // closes only [0,10)
    def run(withWave: Boolean): Seq[String] = {
      val (in, stream) = input(Seq(1L, 2L, 12L))
      val counts = stream.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 seconds").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_seconds(col("w.start")).as("start"), col("n"))
      val sentinel = () => Seq((-1L, 100L)).toDF("id", "sec")
        .coalesce(1).write.mode("append").parquet(in)
      rows(Twin.memory(counts, "twin_spec_wave",
        waves = if (withWave) Seq(sentinel) else Nil))
    }
    assert(run(withWave = false) == Seq("[0,2]"))
    assert(run(withWave = true) == Seq("[0,2]", "[10,1]"))
  }
}
