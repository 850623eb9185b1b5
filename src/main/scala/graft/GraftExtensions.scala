package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomProbe, JaroWinkler, PqArgmin, Simhash64, StridedMinHash, VectorCosine, WinnowFps, WinnowFpsRolling}

/** The library's `SparkSessionExtensions` injection point — the standard
  * Spark mechanism for shipping native functions with a library, so a user
  * gets every graft native expression in plain SQL without calling any
  * graft code first:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or programmatically:
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT vec_cosine(a.vec, b.vec) FROM ...")
  * }}}
  *
  * Injected functions are SESSION-registry entries (visible to pure-SQL
  * users, `spark.sql(...)`, and SQL files), unlike the per-call
  * `register()` helpers on each expression object, which lazily add temp
  * functions the first time a graft operator needs one. Both paths share
  * one builder per function, so the definitions cannot drift.
  *
  * The natives are the engine's codegen'd hot loops:
  *   - `vec_cosine(array<float>, array<float>)` — fused cosine similarity
  *     (ANN scoring), [[graft.functions.VectorCosine]];
  *   - `winnow_fps(text, k, w)` — winnowing fingerprints (Schleimer et
  *     al.), [[graft.functions.WinnowFps]];
  *   - `strided_minhash(text, k, stride)` — strided MinHash sketch,
  *     [[graft.functions.StridedMinHash]];
  *   - `graft_bloom_agg(value, nItems, nBits)` /
  *     `graft_bloom_probe(bytes, value)` — distributed Bloom build +
  *     map-side probe over Spark's runtime-filter machinery,
  *     [[graft.functions.BloomProbe]];
  *   - `z_value(x, y, bits)` — Morton z-order interleave (storage
  *     clustering), [[graft.ops.ZOrder]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String, usage: String,
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.GraftExtensions", null, name, usage, ""),
      builder)

  /** Every native function the library injects, single source of truth
    * shared with each object's lazy `register()`. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("vec_cosine",
      "vec_cosine(a, b) - cosine similarity of two float vectors",
      VectorCosine.builder),
    fn("winnow_fps",
      "winnow_fps(text, k, w) - winnowing fingerprints over k-grams",
      WinnowFps.builder),
    fn("strided_minhash",
      "strided_minhash(text, k, stride) - strided MinHash sketch",
      StridedMinHash.builder),
    fn("graft_bloom_agg",
      "graft_bloom_agg(value, nItems, nBits) - Bloom filter aggregate",
      BloomProbe.aggBuilder),
    fn("graft_bloom_probe",
      "graft_bloom_probe(bytes, value) - Bloom filter might-contain",
      BloomProbe.probeBuilder),
    fn("z_value",
      "z_value(x, y, bits) - Morton z-order interleave of the low bits",
      graft.ops.ZOrder.builder),
    fn("pq_argmin",
      "pq_argmin(vec, cents, ids) - per-subspace L2 argmin centroid ids",
      PqArgmin.builder),
    fn("kmeans_argmax",
      "kmeans_argmax(vec, cents, ids, norms) - k-means assignment cell id",
      PqArgmin.kmeansBuilder),
    fn("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (standard Winkler form)",
      JaroWinkler.builder),
    fn("winnow_fps_rolling",
      "winnow_fps_rolling(text, k, w) - winnowing with a Karp-Rabin rolling hash",
      WinnowFpsRolling.builder),
    fn("simhash64",
      "simhash64(tokens) - 64-bit Charikar simhash of a token array (xxhash64 kernel)",
      Simhash64.builder))

  /** Eagerly add every native in [[functions]] to an EXISTING session's
    * registry — the escape hatch when the session was built without the
    * extensions conf (e.g. a shared notebook session). A name already
    * present is left as it is, as each object's `register` does. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, info, builder) <- functions if !reg.functionExists(id))
      reg.registerFunction(id, info, builder)
  }
}
