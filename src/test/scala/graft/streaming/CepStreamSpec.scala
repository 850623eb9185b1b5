package graft.streaming

import graft.SparkTestBase
import graft.cep.{KeyedCep, Pattern}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The one streaming CEP operator, [[KeyedCep]], across micro-batches:
  * the matcher's open runs ride keyed state, so a partial match started
  * in one micro-batch completes in a later one — the cross-batch
  * behavior the registry queries (single-batch at test scale) cannot
  * exercise. */
object CepStreamSpec {
  case class V(user: Long, us: Long, name: String)
}

class CepStreamSpec extends SparkTestBase {
  import spark.implicits._
  import CepStreamSpec.V
  import graft.queries.StreamingOps
  import StreamingOps.CepNegEv

  /** st_cep_negation_stream's SHIPPED state machine
    * ([[StreamingOps.cepByUser]] with timers — not a spec-local copy, so
    * the cases proved here cannot drift from the registry query) over a
    * MemoryStream: the trailing-negation window close as a REAL event-time
    * timer, with the batch-impossible cases — a purchase KILLING a click
    * armed in an earlier micro-batch, a purchase landing exactly ON the
    * window boundary (too late: the window resolves first, the click
    * matches), and a click whose match can only ever emit from a TIMER
    * firing (no later same-key event exists). */
  test("trailing negation across micro-batches: kills, boundary, timer") {
    implicit val ctx = spark.sqlContext
    val winUs = 100L * 1000000L // 100 s
    val pat = Pattern.begin[CepNegEv]("click", _.event_type == "click")
      .notFollowedBy("purchase", _.event_type == "purchase").within(winUs)
    val input = MemoryStream[CepNegEv]
    def ev(user: Long, sec: Long, id: Long, typ: String): CepNegEv =
      CepNegEv(id, user, sec * 1000000L, typ, s"1970-01-01 00:0$sec",
        new java.sql.Timestamp(sec * 1000L))
    val out = StreamingOps.cepByUser(
      input.toDS().withWatermark("ts", "0 seconds"), pat, timers = true)(m =>
        (m.head.event_id, m.head.user_id, m.head.t))
      .toDF("event_id", "user_id", "click_time")
    val q = out.writeStream.format("memory").queryName("cepneg_xbatch")
      .outputMode("append").start()
    def ids(): Set[Long] =
      spark.table("cepneg_xbatch").select("event_id").as[Long].collect().toSet
    try {
      // batch 1: user 1 clicks at t=10s — armed (watermark → 10s)
      input.addData(ev(1L, 10L, 100L, "click"))
      q.processAllAvailable()
      assert(ids() == Set.empty, "armed runs must not emit before close")
      // batch 2: user 1's purchase at t=50s (inside [10,110), NOT behind
      // the 10s watermark) KILLS the click armed in batch 1; user 2's
      // click at t=60s arms (watermark → 60s)
      input.addData(ev(1L, 50L, 101L, "purchase"), ev(2L, 60L, 200L, "click"))
      q.processAllAvailable()
      assert(ids() == Set.empty)
      // batch 3: user 2's purchase at exactly +100s (t=160) — the window
      // resolves FIRST, so the purchase is too late and the click matched;
      // the event also advances the watermark to 160s past user 1's close,
      // whose state must already be GONE (killed, not armed)
      input.addData(ev(2L, 160L, 201L, "purchase"))
      q.processAllAvailable()
      assert(ids() == Set(200L),
        "boundary purchase must not kill; user 1 stays killed")
      // batch 4: user 3 clicks at t=200, then ONLY a foreign-user event
      // advances the watermark past its close — emission is timer-driven
      input.addData(ev(3L, 200L, 300L, "click"))
      q.processAllAvailable()
      assert(ids() == Set(200L))
      input.addData(ev(99L, 400L, 999L, "purchase"))
      q.processAllAvailable()
      assert(ids() == Set(200L, 300L),
        "user 3's match must emit from the event-time timer alone")
    } finally q.stop()
  }

  test("a times(3) partial match completes across micro-batches") {
    implicit val ctx = spark.sqlContext
    val pat = Pattern.begin[V]("v", _ => true).times(3).within(100L)
    val input = MemoryStream[V]
    val out = KeyedCep(input.toDS(), pat, timers = false)(_.user, _.us) {
      (matches, _) => matches.iterator.map(_.map(_.name))
    }.toDF("names")
    val q = out.writeStream.format("memory").queryName("cep_xbatch")
      .outputMode("append").start()
    def matches(): Set[Seq[String]] =
      spark.table("cep_xbatch").as[Seq[String]].collect().toSet
    try {
      // batch 1: two views — runs open, nothing emits
      input.addData(V(1L, 10L, "v1"), V(1L, 20L, "v2"))
      q.processAllAvailable()
      assert(matches() == Set.empty)
      // batch 2: the third view completes the run STARTED in batch 1
      input.addData(V(1L, 30L, "v3"))
      q.processAllAvailable()
      assert(matches() == Set(Seq("v1", "v2", "v3")))
      // batch 3: v4 completes the v2- and v3-rooted runs (NO_SKIP), but
      // the v1-rooted window [10, 110) has NOT expired yet at us=40
      input.addData(V(1L, 40L, "v4"))
      q.processAllAvailable()
      assert(matches() == Set(Seq("v1", "v2", "v3"), Seq("v2", "v3", "v4")))
      // batch 4: at us=130 the v3-rooted run is out of window (expiry
      // inside the fold, no watermark needed) so v5 completes nothing:
      // only the v4-rooted run survives, now at two views
      input.addData(V(1L, 130L, "v5"))
      q.processAllAvailable()
      assert(matches() == Set(Seq("v1", "v2", "v3"), Seq("v2", "v3", "v4")))
    } finally q.stop()
  }
}
