package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions injection path: a session built with
  * `withExtensions(new GraftExtensions)` (equivalently
  * `--conf spark.sql.extensions=graft.GraftExtensions`) must expose every
  * native function to PURE SQL — no graft call preceding the query — and
  * the injected definitions must agree with the lazy `register()` path
  * (they share builders, so this is a wiring check, not a semantics
  * re-proof; the per-expression suites own semantics). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // the suite JVM is shared: another suite's session (no extensions)
    // may already be active, and getOrCreate would return it — with the
    // lazily-register()ed natives coincidentally present but any
    // injection-only function missing. Clear both handles so the builder
    // actually CREATES a session and the extensions run (the underlying
    // SparkContext is still reused).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  test("all eleven natives are visible to pure SQL after injection") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.sorted === Seq("graft_bloom_agg", "graft_bloom_probe",
      "jaro_winkler", "kmeans_argmax", "pq_argmin", "simhash64",
      "strided_minhash", "vec_cosine", "winnow_fps", "winnow_fps_rolling",
      "z_value"))
    names.foreach { n =>
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)),
        s"$n not injected")
    }
  }

  test("registerAll gives a session built without the extension all eleven natives") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    spark // the extension session exists first, so it can be restored
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = SparkSession.builder().master("local[2]").getOrCreate()
    try {
      assert(plain ne spark)
      assert(!plain.catalog.functionExists("z_value"),
        "a session without the extension already has z_value")
      GraftExtensions.registerAll(plain)
      GraftExtensions.registerAll(plain) // a second call changes nothing
      for (n <- names)
        assert(plain.sql(s"DESCRIBE FUNCTION $n").collect()
          .exists(_.getString(0).contains(n)), s"$n does not resolve in spark.sql")
      assert(plain.sql("SELECT z_value(13, 22, 6)").head().getLong(0) ==
        spark.sql("SELECT z_value(13, 22, 6)").head().getLong(0))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("pq_argmin and kmeans_argmax work from pure SQL") {
    val codes = spark.sql(
      """SELECT pq_argmin(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT),
        |                       CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |  array(array(array(1.0D, 2.0D), array(9.0D, 9.0D)),
        |        array(array(3.0D, 4.0D))),
        |  array(array(0, 1), array(2))) AS codes""".stripMargin)
      .head().getSeq[Int](0)
    assert(codes == Seq(0, 2))
    val cl = spark.sql(
      """SELECT kmeans_argmax(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |  array(array(1.0D, 2.0D)), array(5),
        |  array(CAST(sqrt(5.0) AS DOUBLE))) AS cl""".stripMargin)
      .head().getInt(0)
    assert(cl == 5)
  }

  test("vec_cosine works from SQL with no prior graft call") {
    val row = spark.sql(
      """SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c
        |""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
  }

  test("simhash64 works from pure SQL and matches the composed aggregate rule") {
    // one token: every sketch bit IS the token hash's bit (majority of 1)
    val r = spark.sql(
      """SELECT simhash64(array('fox')) AS sk, xxhash64('fox') AS h""").head()
    assert(r.getLong(0) == r.getLong(1))
    // no countable tokens → NULL (the groupBy-absence analog)
    assert(spark.sql("SELECT simhash64(array('', ''))").head().isNullAt(0))
  }

  test("winnow_fps from SQL matches the register() path") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT explode(winnow_fps(text, 5, 4)) AS fp FROM ext_docs")
      .collect().map(_.getString(0)).sorted
    graft.functions.WinnowFps.register(spark)
    val viaRegister = spark.sql(
      "SELECT explode(winnow_fps(text, 5, 4)) AS fp FROM ext_docs")
      .collect().map(_.getString(0)).sorted
    assert(viaSql.nonEmpty && viaSql.sameElements(viaRegister))
  }

  test("bloom agg + probe round-trip from SQL") {
    import spark.implicits._
    Seq("a", "b", "c").toDF("v").createOrReplaceTempView("ext_bloom_in")
    // nItems/nBits must be BIGINT — Spark's BloomFilterAggregate does not
    // coerce INT literals
    spark.sql(
      """SELECT graft_bloom_agg(v, CAST(3 AS BIGINT), CAST(1024 AS BIGINT))
        |  AS f FROM ext_bloom_in""".stripMargin)
      .createOrReplaceTempView("ext_bloom_f")
    // might_contain requires the filter side to be a constant or scalar
    // subquery (it ships to tasks as a literal), hence the subquery form
    val hits = spark.sql(
      """SELECT s.v, graft_bloom_probe((SELECT f FROM ext_bloom_f), s.v) AS hit
        |FROM (SELECT explode(array('a', 'zz')) AS v) s""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(hits("a"), "member must probe true (no false negatives)")
  }

  test("z_value from SQL matches the Column path and rejects non-literal bits") {
    import spark.implicits._
    val viaSql = spark.sql(
      "SELECT z_value(13, 22, 6) AS z, z_value(63, 0, 6) AS z2").head()
    val viaColumn = Seq((13L, 22L)).toDF("x", "y")
      .select(graft.ops.ZOrder.zValue($"x", $"y", 6)).head().getLong(0)
    assert(viaSql.getLong(0) == viaColumn)
    assert(viaSql.getLong(1) == 0x555L) // x=111111 interleaves to even bits
    val err = intercept[Exception] {
      spark.sql("SELECT z_value(1, 2, id) FROM range(1)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("bits"))
  }
}
