package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Materialize.inParallel
import graft.core.Trace
import graft.streaming.Warehouse

/** The warehouse run AS a warehouse — the reference's defining deployment
  * shape, executed and gated (SURVEY §2 topology; VERDICT r12 top-next).
  *
  * Every other st_* query proves ONE layer's streaming semantics in
  * isolation; this query starts ALL TEN layer queries of the reference
  * topology concurrently in one session (BaseLogApp fan-out, BaseDBApp
  * dynamic routing + dim upsert, UniqueVisit, UserJumpDetail, OrderWide,
  * PaymentWide, VisitorStats, ProvinceStats, KeywordStats, ProductStats),
  * chained through the KafkaTopology file-topic graph, and gates the
  * composition:
  *   - the terminal VisitorStats frame hash-matches a1_visitor_window's
  *     DuckDB oracle VERBATIM (the ODS generator encodes each events row
  *     as one page-log line with ch = event_type and during_time = value
  *     in exact cents);
  *   - seven stream≡batch booleans (uv/uj/order/payment/province/keyword/
  *     product) pin every other layer's chained output against the same
  *     shaping code composed in batch mode — the compositions whose
  *     external parity the per-layer oracle rows already prove.
  * Steady-state throughput/latency/state under concurrency is measured
  * separately (examples.WarehouseRehearsal → SCALING §9).
  */
object WarehouseOps {

  /** Each run appends one line to the committed
    * `profiles/wh_profile.jsonl`, so runs of the same tree on different
    * hosts leave comparable evidence: the run's host fields
    * ([[Trace.env]]), every phase wall (input gen, query start, each
    * drain barrier), the Janino compiles of the JVM over the start and
    * the drain (`codegen.compiles`, [[Trace.compiles]]) and the ten
    * queries' progress summaries (`streaming.<layer>.<query>.<metric>`,
    * [[Trace.summary]]). It only observes: the plans and the drain
    * sequence are unchanged.
    *
    * st_warehouse_e2e wall budget note: the chain ingests the full events
    * table (the a1 gate needs every row) and a deterministic 10% orders
    * subset through 10 concurrent checkpointed queries — the most
    * expensive registry entry by design; it is one query standing for the
    * whole deployment. The wall is fixed-cost dominated (10 query
    * startups × per-batch state-store open/commit), so state partitions
    * are sized DOWN to 2 here (measured 28.6 → 22.3 s vs 8) — the same
    * start-time sizing decision withStatePartitions documents, made in
    * the other direction by a production deploy with real key volume. */
  val stWarehouseE2e = OpQuery(
    "st_warehouse_e2e",
    "all 10 warehouse layers live at once, file-topic chained; a1 oracle + 7 layer booleans",
    (s, dir) => StreamingOps.withStatePartitions(s, 2) {
      val root = java.nio.file.Files.createTempDirectory("graft_wh").toString
      val lay = Warehouse.Layout(root)
      val trace = Trace()
      trace.span("gen_inputs") {
        // independent batch writes to different topic dirs (guide §2.6);
        // queries start only after both commit, so ordering is preserved
        inParallel(Seq(
          () => Warehouse.genBaseLog(s, dir, lay),
          () => Warehouse.genBaseDb(s, dir, lay)))
      }
      val qs = trace.compiles(trace.span("start_queries")(Warehouse.start(s, lay)))
      try {
        trace.compiles(Warehouse.drainAll(s, dir, lay, qs, trace))
        Trace.emit(Seq("ts_ms" -> System.currentTimeMillis(), "note" -> dir) ++
          trace.env() ++ Seq("phases" -> trace.phases) ++ trace.fields,
          "profiles/wh_profile.jsonl", append = true,
          echo = l => System.err.println(s"[wh_profile] $l"))
      } finally qs.values.foreach(_.stop())
      val gate = Warehouse.equivalenceGate(s, lay)
      Warehouse.visitorResult(s, lay, gate)
    },
    Some("""WITH w AS (
              SELECT to_timestamp(CAST(floor(epoch(ts) / 10) * 10 AS BIGINT)) AS ws,
                     event_type, value
              FROM events)
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
                   strftime(ws + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
                   event_type,
                   CAST(count(*) AS BIGINT) AS pv_ct,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum,
                   TRUE AS uv_ok, TRUE AS uj_ok, TRUE AS order_ok,
                   TRUE AS payment_ok, TRUE AS province_ok,
                   TRUE AS keyword_ok, TRUE AS product_ok
            FROM w GROUP BY ws, event_type
            ORDER BY stt, event_type"""))

  val all: Seq[OpQuery] = Seq(stWarehouseE2e)
}
