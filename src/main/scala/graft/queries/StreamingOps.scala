package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.cep.{KeyedCep, Pattern}
import graft.core.Tables
import graft.streaming.Twin
import graft.streaming.dwm.UniqueVisit

/** Streaming-EXECUTED oracle queries: these run the actual Structured
  * Streaming operators (file streaming source → stateful transform →
  * memory sink, drained synchronously) and hand the sink table to the
  * DuckDB gate. The batch analogs in StatefulOps/AggOps pin the semantics;
  * these prove the streaming implementations compute the same answers.
  */
object StreamingOps {

  /** Run `body` with the shuffle-partition conf (= streaming STATE
    * partition count: one state store per partition per stateful op, per
    * micro-batch) sized to `n`, restoring the session setting after.
    * Stateful streaming queries fix their state layout at first batch, so
    * this is a per-query start-time sizing decision: at this SF the fixed
    * per-store open/commit overhead dominates toy-sized state, and a
    * production deploy makes the same call in the other direction
    * (state partitions ≈ cluster cores). */
  private[queries] def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A5, streaming-executed — first event per (user, day) through the
    * chain's keyed fold ([[UniqueVisit.firstPerDay]], the UniqueVisitApp
    * shape on the events table). Oracle = the same row_number window as
    * a5_uv_dedup; the fold's in-batch (ts, event_id) order is the
    * oracle's ORDER BY. The corpus arrives as one file batch, so no day
    * is evicted while it is processed and the equivalence is exact. */
  val stUvDedup = OpQuery(
    "st_uv_dedup_stream",
    "streaming keyed-state first-visit dedup, run via Structured Streaming",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val visits = Tables.stream(s, dir, "events")
        .select(col("user_id").cast("string").as("key"), col("ts"),
          col("event_id").as("tie"), lit(null).cast("string").as("value"))
        .withWatermark("ts", "0 seconds")
        .as[UniqueVisit.Visit]
      Twin.memory(UniqueVisit.firstPerDay(visits)
        .select(col("key").cast("long").as("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("dt"),
          col("tie").as("event_id")),
        "st_uv_out").orderBy("user_id", "dt")
    },
    Some("""SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt, event_id
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id, CAST(ts AS DATE)
                    ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id, dt"""))

  /** A1, streaming-executed — the tumbling-window aggregation run as a
    * streaming query in complete mode (so every window is emitted,
    * matching the batch oracle exactly). */
  val stVisitorWindow = OpQuery(
    "st_visitor_window_stream",
    "streaming 10s tumbling window agg, run via Structured Streaming",
    (s, dir) => withStatePartitions(s, 8) {
      val agg = Tables.stream(s, dir, "events")
        .groupBy(window(col("ts"), "10 seconds").as("w"), col("event_type"))
        .agg(count(lit(1)).as("pv_ct"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("dur_sum"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
          col("event_type"), col("pv_ct"), col("dur_sum"))
      Twin.memory(agg, "st_vw_out", mode = "complete").orderBy("stt", "event_type")
    },
    Some("""WITH w AS (
              SELECT to_timestamp(CAST(floor(epoch(ts) / 10) * 10 AS BIGINT)) AS ws,
                     event_type, value
              FROM events)
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
                   strftime(ws + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
                   event_type,
                   CAST(count(*) AS BIGINT) AS pv_ct,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
            FROM w GROUP BY ws, event_type
            ORDER BY stt, event_type"""))

  /** J2, streaming-executed — the asymmetric-bounds stream-stream interval
    * join (PaymentWideApp shape) run as a real Structured Streaming join
    * with watermarks on both sides. All pairs arrive in the single file
    * batch, so the inner join emits the complete result, matching the
    * batch oracle (watermarks govern state retention, not emission). */
  val stIntervalJoin = OpQuery(
    "st_interval_join_stream",
    "streaming stream-stream interval join (−15min/+5s), run via Structured Streaming",
    (s, dir) => withStatePartitions(s, 8) {
      val ev = Tables.stream(s, dir, "events")
      val pay = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pay_id"), col("user_id").as("pay_user"),
          col("ts").as("pay_ts"))
        .withWatermark("pay_ts", "5 seconds")
      val ord = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("ord_id"), col("user_id").as("ord_user"),
          col("ts").as("ord_ts"))
        .withWatermark("ord_ts", "5 seconds")
      val joined = pay.join(ord,
        col("pay_user") === col("ord_user") &&
          col("ord_ts").between(
            col("pay_ts") - expr("INTERVAL 15 MINUTES"),
            col("pay_ts") + expr("INTERVAL 5 SECONDS")))
        .select(col("pay_id"), col("ord_id"), col("pay_user").as("user_id"))
      Twin.memory(joined, "st_ij_out").orderBy("pay_id", "ord_id")
    },
    Some("""SELECT p.event_id AS pay_id, o.event_id AS ord_id, p.user_id AS user_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'signup') o
              ON p.user_id = o.user_id
             AND o.ts >= p.ts - INTERVAL 15 MINUTE
             AND o.ts <= p.ts + INTERVAL 5 SECOND
            ORDER BY pay_id, ord_id"""))

  /** A3/S4/J3, streaming-executed — the ProvinceStatsSqlApp pattern as a
    * real streaming query: orders stream → stream-static broadcast joins
    * to customer/nation dims → 1-day tumbling window agg (complete mode so
    * every window emits, matching the batch oracle). */
  val stProvinceStats = OpQuery(
    "st_province_stats_stream",
    "streaming stream-static dim join + windowed agg (ProvinceStatsSqlApp)",
    (s, dir) => withStatePartitions(s, 8) {
      // declared schema: pins o_orderdate to TIMESTAMP, which the footer may not declare
      val ordersSchema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType)))
      val orders = s.readStream.schema(ordersSchema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val c = graft.core.Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = graft.core.Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
      val agg = orders
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(window(col("o_orderdate"), "1 day").as("w"), col("n_name"))
        .agg(
          // streaming aggs reject count(distinct): exact distinct via the
          // BOUNDED set aggregate (collect_set's state is uncapped on a
          // hot group — SURVEY §2.5 A3 caveat + functions.BoundedDistinctAgg)
          graft.functions.TopK.boundedDistinct(1 << 20)(
            col("o_orderkey").cast("string")).cast("long").as("order_count"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("order_amount"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
          col("n_name").as("province_name"), col("order_count"), col("order_amount"))
      Twin.memory(agg, "st_ps_out", mode = "complete").orderBy("stt", "province_name")
    },
    Some("""WITH w AS (
              SELECT to_timestamp(CAST(floor(epoch(o_orderdate) / 86400) * 86400 AS BIGINT)) AS ws,
                     n_name, o_orderkey, o_totalprice
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey)
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
                   strftime(ws + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
                   n_name AS province_name,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS order_count,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
            FROM w GROUP BY ws, n_name
            ORDER BY stt, province_name"""))

  /** Exact dedup as a STREAMING ingest operator — the dedup a corpus
    * pipeline runs at the door: keyed state on the content hash admits
    * each hash once, forever. Within one micro-batch the admitted keeper
    * is the min doc id (deterministic — dropDuplicates' arbitrary-first
    * would break the hash gate); across batches the semantics are
    * first-batch-wins (a later arrival never evicts an admitted doc, the
    * true streaming contract). The registry run feeds one file batch, so
    * output ≡ the batch exactDedup groupBy and x_dedup_exact's oracle
    * applies verbatim. State is one boolean per distinct hash — the
    * at-scale shape is this operator over RocksDB
    * (Runner.useRocksDBStateStore) where state lives on executor disk. */
  val stDedupExact = OpQuery(
    "st_dedup_exact_stream",
    "streaming first-wins exact dedup by content hash (keyed-state ingest gate)",
    (s, dir) => withStatePartitions(s, 8) {
      val docs = Tables.stream(s, dir, "documents")
      val kept = graft.streaming.IngestDedup.firstWins(docs, "text", "doc_id")
      Twin.memory(kept, "st_de_out").orderBy("content_hash")
    },
    Some("""SELECT md5(text) AS content_hash,
            min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
            FROM documents GROUP BY md5(text) ORDER BY content_hash"""))

  /** A10, streaming-executed — the funnel cascade as a per-user keyed
    * STATE MACHINE: the flatMapGroupsWithState body is
    * [[graft.ads.Behavior.funnelAdvance]] (shared with the cross-batch
    * continuation spec), and the serving rollup on the drained sink is
    * the SAME [[graft.ads.Behavior.funnelRollup]] the batch query uses —
    * so the oracle is IDENTICAL to a10's. */
  val stFunnel = OpQuery(
    "st_funnel_stream",
    "view->click->purchase funnel via per-user streaming keyed state",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val stages = Vector("view", "click", "purchase")
      val typed = Tables.stream(s, dir, "events")
        .filter(col("event_type").isin(stages: _*))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("usec"), col("event_type").as("et"))
        .as[graft.ads.Behavior.FunnelEv]
      val reached = typed.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          graft.ads.Behavior.funnelAdvance(stages, 86400L * 1000000L) _)
        .toDF("uid", "stage_idx")
      graft.ads.Behavior.funnelRollup(Twin.memory(reached, "st_funnel_out"), stages)
        .orderBy("stage_idx")
    },
    // identical oracle to a10_funnel_steps: the state machine must agree
    // with the batch min-per-window cascade
    AggOps.a10Funnel.oracle)

  /** A11, streaming-executed — cohort retention as per-user keyed state
    * ([[graft.ads.Behavior.retentionAdvance]]): the stream emits one
    * (uid, cohort, day) row per first-sighting, the drained sink goes
    * through the SAME [[graft.ads.Behavior.retentionRollup]] as the
    * batch query — identical oracle to a11's. */
  val stRetention = OpQuery(
    "st_retention_stream",
    "daily cohort retention via per-user streaming keyed state",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val typed = Tables.stream(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
            .as("epochDay"))
        .as[graft.ads.Behavior.VisitEv]
      val visits = typed.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          graft.ads.Behavior.retentionAdvance _)
        .toDF("uid", "cohortEpoch", "dayEpoch")
      val perVisit = Twin.memory(visits, "st_ret_out")
        .select(col("uid"),
          expr("date_add(DATE '1970-01-01', cast(cohortEpoch AS INT))")
            .as("cohort_day"),
          expr("date_add(DATE '1970-01-01', cast(dayEpoch AS INT))").as("day"))
      graft.ads.Behavior.retentionRollup(perVisit)
        .orderBy("cohort_day", "day_offset")
    },
    // identical oracle to a11_retention_cohorts
    AggOps.a11Retention.oracle)

  /** A8, streaming-executed — session windows (30-min gap) as a streaming
    * aggregation. `session_window` is the one windowed-state shape whose
    * streaming implementation is NOT a batch re-run: session state must
    * MERGE when a new event bridges two open sessions (the merging state
    * store path), so streaming parity here checks real merge logic, not
    * just window arithmetic (SessionStreamSpec drives the cross-batch
    * merge explicitly). Complete output mode at test scale (same call as
    * st_visitor_window_stream — emission without a watermark-advancing
    * extra batch); a production deploy uses append + this watermark so
    * closed sessions emit once and state is evicted. */
  val stSessionWindow = OpQuery(
    "st_session_window_stream",
    "streaming session-window (30 min gap) agg, run via Structured Streaming",
    (s, dir) => withStatePartitions(s, 8) {
      val agg = Tables.stream(s, dir, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("ct"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("val_sum"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
          col("ct"), col("val_sum"))
      Twin.memory(agg, "st_sw_out", mode = "complete").orderBy("user_id", "stt")
    },
    AggOps.a8SessionWindow.oracle)

  /** A4, streaming-executed — the reference KeywordStatsApp is a
    * streaming SQL app: a registered tokenizer UDTF explodes search text
    * inside a windowed aggregation (RT/app/dws/KeywordStatsApp.java).
    * Same plan here: the F9 split_words UDTF runs inside the micro-batch,
    * per-word counts accumulate in the state store (complete mode), and
    * the drained sink matches a4's batch oracle exactly. */
  val stKeywordStream = OpQuery(
    "st_keyword_stream",
    "streaming tokenizer-UDTF explode + per-word running count (KeywordStatsApp)",
    (s, dir) => withStatePartitions(s, 8) {
      graft.functions.Tokenize.register(s)
      val docs = Tables.stream(s, dir, "documents")
      val agg = docs
        .select(expr("explode(split_words(text))").as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("ct"))
        .select(col("word"), lit("search").as("source"), col("ct"))
      Twin.memory(agg, "st_kw_out", mode = "complete").orderBy("word")
    },
    Some("""SELECT word, 'search' AS source, CAST(count(*) AS BIGINT) AS ct
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE length(word) > 0
            GROUP BY word ORDER BY word"""))

  /** The event bean of the three streaming CEP twins (c3's views, c4's
    * clicks and purchases, c5's signups and purchases): the matcher keys
    * on the µs long `us`, `t` is its rendering, and `ts` is the raw
    * column a watermark rides on (event-time timers need the watermarked
    * column to reach the stateful operator). */
  case class CepNegEv(event_id: Long, user_id: Long, us: Long,
      event_type: String, t: String, ts: java.sql.Timestamp)

  private def cepEvents(events: DataFrame): Dataset[CepNegEv] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"), col("ts"))
      .as[CepNegEv]
  }

  /** The CEP twins' state machine: `pat` run per user in (us, event_id)
    * order by the one streaming CEP operator ([[graft.cep.KeyedCep]]),
    * each match mapped to a row by `row` (no twin reports timeouts). */
  private[graft] def cepByUser[O: Encoder](typed: Dataset[CepNegEv],
      pat: Pattern[CepNegEv], timers: Boolean)(
      row: Vector[CepNegEv] => O): Dataset[O] = {
    import typed.sparkSession.implicits._
    KeyedCep(typed, pat, timers)(_.user_id, _.us, _.event_id) {
      (matches, _) => matches.iterator.map(row)
    }
  }

  /** C3, streaming-executed — the QUANTIFIED pattern (times(3), 48 h
    * window) through [[cepByUser]]: each micro-batch folds its (sorted)
    * events over the runs carried in keyed state via the same
    * [[graft.cep.Matcher]] the batch query uses, so partial matches
    * survive batch boundaries (CepSpec proves the fold is
    * split-associative — micro-batch boundaries move freely). Only
    * matches emit (c3 reports no timeout branch), so no timers are
    * needed; expiry happens inside advance as later events arrive.
    * Shares c3_cep_times' lead()-window oracle. */
  val stCepTimes = OpQuery(
    "st_cep_times_stream",
    "streaming CEP times(3) burst detection via keyed state (c3's oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val win = 48L * 3600L * 1000000L // µs
      val pat = Pattern.begin[CepNegEv]("view", _ => true).times(3).within(win)
      val typed = cepEvents(Tables.stream(s, dir, "events")
        .filter(col("event_type") === "view"))
      Twin.memory(cepByUser(typed, pat, timers = false)(m =>
          (m.head.user_id, m.head.event_id, m.last.event_id, m.head.t, m.last.t))
        .toDF("user_id", "first_id", "last_id", "t_first", "t_last"),
        "st_cep_out").orderBy("user_id", "first_id")
    },
    StatefulOps.c3CepTimes.oracle)

  case class AttrEv(event_id: Long, user_id: Long, us: Long,
      event_type: String, value: Double, dt: String)

  /** The st_attribution_stream credit machine (last-touch carry-forward
    * state), factored out for RestartResilienceSpec. */
  private[graft] def attributionTransform(
      typed: org.apache.spark.sql.Dataset[AttrEv]): DataFrame = {
    val s = typed.sparkSession
    import s.implicits._
    def step(user: Long, rows: Iterator[AttrEv],
        state: GroupState[(Long, String)]): Iterator[(String, String, Double)] = {
      var (lastUs, lastSrc) = state.getOption.getOrElse((Long.MinValue, ""))
      val sorted = rows.toSeq.sortBy(e =>
        (e.us, if (e.event_type == "purchase") 1 else 0, e.event_id))
      val out = sorted.flatMap { e =>
        if (e.event_type != "purchase") {
          // same-instant touches collapse to max(src_type) — the a17
          // (user, ts) dedup rule; later instants simply replace
          if (e.us == lastUs) lastSrc = Ordering[String].max(lastSrc, e.event_type)
          else { lastUs = e.us; lastSrc = e.event_type }
          None
        } else {
          val channel =
            if (lastUs == Long.MinValue || e.us - lastUs > 86400000000L)
              "direct"
            else lastSrc
          Some((channel, e.dt, e.value))
        }
      }
      state.update((lastUs, lastSrc))
      out.iterator
    }
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(step)
      .toDF("channel", "dt", "value")
  }

  /** A17, streaming-executed — INCREMENTAL last-touch attribution. The
    * batch query resolves each purchase's most recent view/click via an
    * as-of join; the streaming twin co-streams touches and purchases
    * through ONE flatMapGroupsWithState keyed by user, whose state is
    * just the user's latest touch `(us, src_type)` — O(1) per user, the
    * true incremental shape (no corpus-sized touch index anywhere: the
    * as-of "join" becomes a keyed-state carry-forward, which is also how
    * the batch AsOfJoin plan works). Within a micro-batch events sort by
    * (us, touches-before-purchases, event_id), so a same-microsecond
    * touch credits its purchase — the oracle's `p.ts >= m.vts` boundary —
    * and same-timestamp touches collapse to max(src_type), the a17 dedup
    * rule. Purchases emit (channel, day, value) in APPEND mode, feeding
    * a downstream streaming rollup (Spark allows aggregation after
    * flatMapGroupsWithState in append mode) drained in COMPLETE mode.
    * Shares a17_attribution's composed-ASOF oracle. */
  val stAttribution = OpQuery(
    "st_attribution_stream",
    "streaming incremental last-touch attribution via keyed state (a17's oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val typed = Tables.stream(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"),
          coalesce(col("value"), lit(0.0)).as("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .as[AttrEv]
      val credited = attributionTransform(typed)
      val rolled = credited.groupBy(col("channel"), col("dt"))
        .agg(count(lit(1)).as("ct"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
      Twin.memory(rolled, "st_attr_out", mode = "complete")
        .orderBy("channel", "dt")
    },
    AggOps.a17Attribution.oracle)

  /** Count-Min heavy hitters, streaming-executed. The counter table IS
    * the streaming state: the micro-batch stream feeds the same
    * codegen'd insert expression (`Sketches.cmsSketch` is a plain
    * groupBy-count, so Structured Streaming maintains it incrementally in
    * complete mode — merge = counter sum, the sketch's own merge law),
    * bounded at d·w rows no matter how many keys flow past. The
    * heavy-hitter QUESTION is then answered from the finished sketch via
    * the shared propose-then-verify tail against the archived log — the
    * lambda shape: bounded sketch state on the stream, exact verify on
    * the batch side, only for sketch-proposed candidates. Shares
    * x_cms_heavy_hitters' oracle verbatim. */
  val stCmsHeavyHitters = OpQuery(
    "st_cms_heavy_hitters_stream",
    "streaming Count-Min counter state + batch verify (x_cms_heavy_hitters' oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      val (d, w) = (5, 8192)
      val sketch = Twin.memory(
        graft.ops.Sketches.cmsSketch(
          Tables.stream(s, dir, "events").select(col("user_id").as("k")),
          col("k"), d, w),
        "st_cms_sketch", mode = "complete")
      graft.ops.Sketches.cmsHeavyHittersFrom(sketch,
          graft.core.Tables.load(s, dir, "events"), col("user_id"),
          threshold = 80L, depth = d, width = w)
        .select(col("k").as("user_id"), col("exact").as("n_events"),
          col("within_bound"))
        .orderBy("user_id")
    },
    ScaleOps.xCmsHeavyHitters.oracle)

  /** The mergeable-sketch cube, streaming-maintained: Datasketches HLL
    * partials per (day, event_type) accumulate AS streaming aggregation
    * state (hll_sketch_agg is a typed imperative aggregate — Structured
    * Streaming updates its buffer per micro-batch like any agg), then the
    * coarser event_type answer is produced post-stream by RE-MERGING the
    * drained partials with hll_union_agg — never touching raw events
    * again. This is the production nightly-cube shape with the cube kept
    * hot by the stream instead of rebuilt in batch. Shares
    * x_sketch_rollup's oracle (and its error-bound gate) verbatim. */
  val stSketchRollup = OpQuery(
    "st_sketch_rollup_stream",
    "streaming HLL sketch partials re-merged post-stream (x_sketch_rollup's oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      val partials = Twin.memory(
        Tables.stream(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk")),
        "st_hll_partials", mode = "complete")
      val rolled = partials.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      val exact = graft.core.Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      rolled.join(exact, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(lit(1L), ceil(col("exact_users") * 0.05).cast("long")))
            .as("within_bounds"))
        .orderBy("event_type")
    },
    ScaleOps.xSketchRollup.oracle)

  /** C4, streaming-executed — the one CEP shape whose STREAMING form
    * differs structurally from batch: trailing negation's "arm at the
    * click, emit when the window closes" cannot wait for a later same-key
    * event (none may ever come), so the window close is a real EVENT-TIME
    * TIMER: [[cepByUser]] with timers, set to the earliest open window's
    * close, expiry resolved by
    * [[graft.cep.Matcher.flushSplit]] against the query watermark (armed
    * runs emit as matches — the purchase never arrived; killed runs died
    * inside advance when their purchase landed). The input is staged to a
    * scratch dir so a watermark-advancing SENTINEL (a purchase for
    * user −1, +20 min past the corpus horizon — starts no run, kills
    * nothing) can be appended after the real file: it plays the role an
    * endless stream's later traffic plays in production, pushing the
    * watermark past every open window so all timers fire. Boundary
    * semantics identical to batch c4 (strict `< 15m`; at exactly +15 m
    * the window resolves first) because advance/flushSplit are the SAME
    * code — CepStreamSpec drives the kill-in-later-batch and
    * boundary-purchase cases. Shares c4_cep_negation's NOT-EXISTS
    * oracle verbatim. */
  val stCepNegation = OpQuery(
    "st_cep_negation_stream",
    "streaming CEP trailing negation: keyed state + event-time timers (c4's oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val win = 15L * 60L * 1000000L // µs
      val pat = Pattern.begin[CepNegEv]("click", _.event_type == "click")
        .notFollowedBy("purchase", _.event_type == "purchase").within(win)
      val scratch = graft.core.Scratch.tempDir("graft_cepneg_stream_")
      val in = s"$scratch/in"
      val ev = graft.core.Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select("event_id", "ts", "user_id", "event_type")
      ev.coalesce(1).write.parquet(in)
      val horizon = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val typed = cepEvents(s.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
        .parquet(in)).withWatermark("ts", "0 seconds")
      // first drain: all real events (wm → horizon); the sentinel wave's
      // drain runs its batch plus the no-data timer batches
      val sentinel = () =>
        Seq((-1L, new java.sql.Timestamp(horizon.getTime + 20L * 60L * 1000L),
            -1L, "purchase"))
          .toDF("event_id", "ts", "user_id", "event_type")
          .coalesce(1).write.mode("append").parquet(in)
      Twin.memory(cepByUser(typed, pat, timers = true)(m =>
          (m.head.event_id, m.head.user_id, m.head.t))
        .toDF("event_id", "user_id", "click_time"), "st_cepneg_out",
        waves = Seq(sentinel)).orderBy("event_id")
    },
    StatefulOps.c4CepNegation.oracle)

  /** C5, streaming-executed — the OPTIONAL stage needs no timers: a
    * signup emits its n = 1 row the moment it arrives (everything left is
    * optional → the match is already complete), the first in-window
    * purchase extends the still-open run to the n = 2 row in whatever
    * later micro-batch it arrives, and window expiry happens inside
    * advance as later events flow — the st_cep_times carry-state shape,
    * demonstrating the asymmetry with negation (which is exactly why c4
    * got the timer treatment above). Shares c5_cep_optional's
    * two-branch oracle verbatim. */
  val stCepOptional = OpQuery(
    "st_cep_optional_stream",
    "streaming CEP optional stage via keyed state, no timers (c5's oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val win = 30L * 60L * 1000000L // µs
      val pat = Pattern.begin[CepNegEv]("signup", _.event_type == "signup")
        .followedBy("purchase", _.event_type == "purchase").optional
        .within(win)
      val typed = cepEvents(Tables.stream(s, dir, "events")
        .filter(col("event_type").isin("signup", "purchase")))
      Twin.memory(cepByUser(typed, pat, timers = false)(m =>
          (m.head.user_id, m.head.event_id, m.last.event_id, m.size.toLong))
        .toDF("user_id", "first_id", "last_id", "n"), "st_cepopt_out")
        .orderBy("user_id", "first_id", "n")
    },
    StatefulOps.c5CepOptional.oracle)

  case class DebEv(event_id: Long, user_id: Long, event_type: String,
      us: Long)

  /** Per-key-per-batch row budget for the remaining flatMapGroupsWithState
    * sorted fold (scd2Transform). flatMapGroupsWithState guarantees
    * grouping but NOT secondary order, so each key's batch rows must be
    * buffered to restore (event-time, id) order — and an in-task buffer
    * cannot spill (VERDICT r13: one hot key with millions of batch events
    * OOMs the task). Like ER's candidate budget, the contract is made
    * LOUD instead of assumed: past the budget the transform fails naming
    * the key-skew mitigations. 2M boxed rows ≈ 150–250 MB — inside one
    * task's headroom at the default executor sizing, far beyond any sane
    * per-key micro-batch. The MONITORING folds no longer need this: they
    * run on [[graft.streaming.WatermarkFold]] (state-store-backed reorder
    * buffer + event-time timers — spills through RocksDB, VERDICT r14
    * #2); the batch twins (a22/a24/a25/a26) secondary-sort through
    * Spark's external sorter, which spills. */
  private[graft] val MaxKeyBatchRows: Int = 2000000

  private def bufferBounded[T](rows: Iterator[T], cap: Int,
      q: String): scala.collection.mutable.ArrayBuffer[T] = {
    val buf = new scala.collection.mutable.ArrayBuffer[T]()
    while (rows.hasNext) {
      if (buf.length >= cap) throw new IllegalStateException(
        s"$q: a single key received more than $cap rows in one " +
          "micro-batch — the sorted fold buffers a key's batch rows to " +
          "restore (event-time, id) order, and an in-task buffer cannot " +
          "spill; shrink the trigger interval, pre-split the hot key " +
          "upstream, or raise maxKeyBatchRows deliberately")
      buf += rows.next()
    }
    buf
  }

  // ------------------------------------------------------------------
  // the monitoring folds on the PRODUCTION reorder buffer
  // (graft.streaming.WatermarkFold: state-store-backed buffering +
  // event-time timers; VERDICT r14 #2) — each machine is a pure Step
  // shared by the registry twin and the restart/probe harnesses
  // ------------------------------------------------------------------

  /** st_debounce / st_ratelimit step: state = one reference time per
    * (user, type) — the smallest state shape in the registry.
    * `keptOnly = false` is a20_debounce's previous-EVENT contract:
    * `last` advances on every event, kept or dropped. `keptOnly = true`
    * is a22_ratelimit's previous-KEPT contract — the true rate limiter:
    * `last` advances only on KEPT events, so a sustained burst trickles
    * one event per gap instead of going silent after its first event. */
  private[graft] def debounceStep(gapUs: Long,
      keptOnly: Boolean): graft.streaming.WatermarkFold.Step =
    (st, e) => {
      val last = st.map(_(0)).getOrElse(Long.MinValue)
      val keep = last == Long.MinValue || e.us - last >= gapUs
      val next = if (keep || !keptOnly) e.us else last
      (Array(next), if (keep) Some((0L, 0L, 0L)) else None)
    }

  /** st_ewma step: state = the last smoothed reading per user, advanced
    * by the same integer-exact recurrence as a24_ewma:
    * s ← ⌊(c + (den−1)·s) / den⌋ (den = 2 is a24's halving; den = 8 is
    * a26's production α — three composed halvings). */
  private[graft] def ewmaStep(den: Long): graft.streaming.WatermarkFold.Step =
    (st, e) => {
      // same guard as the batch twin: the floorDiv-vs-`//` parity only
      // holds for non-negative cents — fail loudly, don't diverge
      AggOps.requireNonNegCents("ewmaStep", e.event_id, e.c)
      val acc = st match {
        case Some(a) => Math.floorDiv(e.c + (den - 1L) * a(0), den)
        case None => e.c
      }
      (Array(acc), Some((acc, 0L, 0L)))
    }

  /** st_cusum step: state = the pair of post-reset CUSUM accumulators per
    * user, advanced by the literally-shared [[AggOps.cusumStep]]. */
  private[graft] def cusumFoldStep(
      tgt: Long): graft.streaming.WatermarkFold.Step =
    (st, e) => {
      val gp = st.map(_(0)).getOrElse(0L)
      val gn = st.map(_(1)).getOrElse(0L)
      val (gpRaw, gnRaw, alarm, gpN, gnN) = AggOps.cusumStep(gp, gn, e.c, tgt)
      (Array(gpN, gnN), Some((gpRaw, gnRaw, alarm)))
    }

  /** st_monitor_e2e step: state = (smoothed reading, last alert time) per
    * user, advanced by the literally-shared [[AggOps.monitorStep]];
    * emits only the alert rows. */
  private[graft] def monitorFoldStep: graft.streaming.WatermarkFold.Step =
    (st, e) => {
      AggOps.requireNonNegCents("monitorFoldStep", e.event_id, e.c)
      val s0 = st.map(_(0)).getOrElse(Long.MinValue)
      val l0 = st.map(_(1)).getOrElse(Long.MinValue)
      val (sN, laN, alert) = AggOps.monitorStep(s0, l0, e.us, e.c)
      (Array(sN, laN), if (alert) Some((sN, 0L, 0L)) else None)
    }

  /** Restore the session's state-store provider after running a
    * transformWithState query (which requires RocksDB). */
  private[graft] def withRocksDB[T](s: SparkSession)(body: => T): T = {
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevP = s.conf.getOption(pk)
    val prevC = s.conf.getOption(ck)
    graft.streaming.Runner.useRocksDBStateStore(s)
    try body finally {
      prevP.fold(s.conf.unset(pk))(s.conf.set(pk, _))
      prevC.fold(s.conf.unset(ck))(s.conf.set(ck, _))
    }
  }

  /** Run one monitoring fold over the events fixture through the
    * production reorder buffer: the shaped corpus is staged into scratch
    * (one file = one batch), streamed with a 0-second watermark into
    * [[graft.streaming.WatermarkFold]], and the tail is flushed by ONE
    * far-future sentinel row appended after the corpus drains — the
    * stCepNegation / Warehouse.genSentinel discipline (append-mode
    * emission needs a watermark past the last real event). `shape`
    * projects events to (event_id, user_id, sub, us, c); the sentinel's
    * own row never emits (its event-time IS the final watermark) and is
    * filtered anyway. */
  private def runWmFold(s: SparkSession, dir: String, name: String,
      shape: DataFrame => DataFrame,
      step: graft.streaming.WatermarkFold.Step): DataFrame =
    withRocksDB(s) {
      import s.implicits._
      val scratch = graft.core.Scratch.tempDir(s"graft_${name}_")
      val in = s"$scratch/in"
      val base = shape(graft.core.Tables.load(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("sub"), col("us"),
          col("c"), timestamp_micros(col("us")).as("ts"))
      base.coalesce(1).write.parquet(in)
      // horizon from the JUST-WRITTEN file (one small column-pruned scan)
      // instead of re-running the events load + shaping a second time —
      // same rows by construction, so the same max (r17, guide §1.2:
      // don't compute things twice)
      val maxUs = s.read.parquet(in)
        .agg(max("us")).collect()(0).getLong(0)
      val typed = s.readStream
        .schema("event_id LONG, user_id LONG, sub STRING, us LONG, c LONG, ts TIMESTAMP")
        .parquet(in)
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.WatermarkFold.FoldEv]
      val sentinel = () =>
        Seq((-1L, -1L, "", maxUs + 120000000L, 0L,
          new java.sql.Timestamp(maxUs / 1000L + 120000L)))
          .toDF("event_id", "user_id", "sub", "us", "c", "ts")
          .coalesce(1).write.mode("append").parquet(in)
      Twin.memory(graft.streaming.WatermarkFold(typed, step), name,
        waves = Seq(sentinel)).filter(col("user_id") >= 0L)
    }

  private def debShape(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"),
      col("event_type").as("sub"), unix_micros(col("ts")).as("us"),
      lit(0L).as("c"))

  /** Streaming twin of a20_debounce — the PRODUCTION debounce shape: the
    * batch form's lag() window needs the full history per key; this one
    * carries a single long of keyed state per (user, type) plus a
    * WATERMARK-ORDERED reorder buffer (graft.streaming.WatermarkFold:
    * rows buffer in RocksDB-backed MapState keyed by event-time and fold
    * on event-time timers, so arrival order across batches no longer
    * matters — only rows behind the watermark are dropped, the standard
    * streaming lateness contract). The r14 shape sorted each key's batch
    * rows in a task-heap buffer behind a LOUD 2M-row breaker; this is
    * the breaker's named production fix; an 8M-row hot-key batch runs
    * through it in a 512 MiB JVM (SCALING §11c). */
  val stDebounce = OpQuery(
    "st_debounce_stream",
    "streaming min-gap debounce: watermark-ordered fold, RocksDB reorder buffer",
    (s, dir) => withStatePartitions(s, 8) {
      runWmFold(s, dir, "st_deb_out", debShape,
        debounceStep(gapUs = 60000000L, keptOnly = false))
        .select(col("event_id"), col("user_id"),
          col("sub").as("event_type"), col("us"))
        .orderBy("event_id")
    },
    AggOps.a20Debounce.oracle)

  /** Streaming twin of a22_ratelimit — the same watermark-ordered fold as
    * st_debounce_stream with `keptOnly = true`: the reference time
    * advances only on KEPT events, making this the production
    * rate-limiter shape (one emitted event per gap under a sustained
    * burst). Same oracle as a22_ratelimit. */
  val stRateLimit = OpQuery(
    "st_ratelimit_stream",
    "streaming previous-KEPT rate limiter: watermark-ordered fold, RocksDB buffer",
    (s, dir) => withStatePartitions(s, 8) {
      runWmFold(s, dir, "st_rate_out", debShape,
        debounceStep(gapUs = 60000000L, keptOnly = true))
        .select(col("event_id"), col("user_id"),
          col("sub").as("event_type"), col("us"))
        .orderBy("event_id")
    },
    AggOps.a22RateLimit.oracle)

  case class EwEv(event_id: Long, user_id: Long, us: Long, c: Long)

  private def centsShape(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), lit("").as("sub"),
      unix_micros(col("ts")).as("us"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))

  /** Streaming twin of a24_ewma — the monitoring smoother as it actually
    * deploys: one long of keyed state per user plus the watermark-ordered
    * reorder buffer (see st_debounce_stream — the r14 heap-buffer
    * breaker's named production fix). RestartResilienceSpec proves the
    * smoothed reading AND the buffered/unfolded tail resume from the
    * checkpoint, not from a cold start. */
  val stEwma = OpQuery(
    "st_ewma_stream",
    "streaming integer-exact EWMA: watermark-ordered fold, RocksDB buffer",
    (s, dir) => withStatePartitions(s, 8) {
      runWmFold(s, dir, "st_ewma_out", centsShape, ewmaStep(den = 2L))
        .select(col("event_id"), col("user_id"), col("us"),
          col("v1").as("ewma_c"))
        .orderBy("event_id")
    },
    AggOps.a24Ewma.oracle)

  /** Streaming twin of a26_ewma_alpha8 — the production-α smoother as it
    * deploys: the SAME watermark-ordered fold as st_ewma_stream with
    * den = 8 (α = 1/8, three composed halvings per step — see a26's
    * exactness argument), same oracle as a26. */
  val stEwmaAlpha8 = OpQuery(
    "st_ewma_alpha8_stream",
    "streaming integer-exact EWMA at alpha=1/8: watermark-ordered fold",
    (s, dir) => withStatePartitions(s, 8) {
      runWmFold(s, dir, "st_ewma8_out", centsShape, ewmaStep(den = 8L))
        .select(col("event_id"), col("user_id"), col("us"),
          col("v1").as("ewma_c"))
        .orderBy("event_id")
    },
    AggOps.a26EwmaAlpha8.oracle)

  /** Streaming twin of a28_cusum — change-point detection as it deploys:
    * the reference level is frozen before the stream starts (one
    * metadata-cheap batch sum/count with the same `div` truncation as
    * the batch query; a production chart calibrates μ₀ offline the same
    * way — the st_trend_decay frozen-reference argument), then every
    * event folds through two longs of keyed state per user via the SAME
    * [[AggOps.cusumStep]] the batch fold calls, under the watermark-
    * ordered reorder buffer (see st_debounce_stream). a28's oracle gates
    * this query verbatim. */
  val stCusum = OpQuery(
    "st_cusum_stream",
    "streaming two-sided CUSUM vs frozen target: watermark-ordered fold",
    (s, dir) => withStatePartitions(s, 8) {
      val tRow = graft.core.Tables.load(s, dir, "events")
        .select((col("value").cast("decimal(18,2)") * 100)
          .cast("long").as("c"))
        .agg(sum("c").as("sc"), count(lit(1)).as("n"))
        .select(expr("sc div n")).collect()(0)
      val tgt = tRow.getLong(0)
      runWmFold(s, dir, "st_cusum_out", centsShape, cusumFoldStep(tgt))
        .select(col("event_id"), col("user_id"), col("us"),
          col("v1").as("gp"), col("v2").as("gn"), col("v3").as("is_alarm"))
        .orderBy("event_id")
    },
    AggOps.a28Cusum.oracle)

  /** Streaming twin of a30_monitor_e2e — the monitoring pipeline as it
    * deploys: the scrub thresholds (per-type median and MAD) are FROZEN
    * before the stream starts (one batch histogram pass — a production
    * monitor calibrates its robust baselines offline exactly this way;
    * the st_psi_drift frozen-reference argument) and enter the streaming
    * plan as literal map lookups, making the scrub row-local; the
    * smooth/flag/alert tail is [[monitorFoldStep]]'s two longs of keyed
    * state per user. Same batch-equality caveat as st_ewma_stream
    * (per-key event-time-ordered arrival across batches; exact here
    * because the corpus arrives as one file batch); a30's oracle gates
    * this query verbatim. */
  val stMonitorE2e = OpQuery(
    "st_monitor_e2e_stream",
    "streaming monitoring pipeline: frozen med/mad scrub, watermark-ordered fold",
    (s, dir) => withStatePartitions(s, 8) {
      val batch = graft.core.Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      val (med, mad) = AggOps.medMadByType(batch)
      val frozen = med.join(mad, Seq("event_type")).collect()
      val medMap = map(frozen.flatMap(r =>
        Seq(lit(r.getString(0)), lit(r.getLong(1)))).toIndexedSeq: _*)
      val madMap = map(frozen.flatMap(r =>
        Seq(lit(r.getString(0)), lit(r.getLong(2)))).toIndexedSeq: _*)
      // the scrub is row-local (frozen literals), applied in `shape`
      // BEFORE the fold — the whole stateful tail then runs under the
      // watermark-ordered reorder buffer (see st_debounce_stream)
      val shaped = (df: DataFrame) =>
        df.select(col("event_id"), col("user_id"), lit("").as("sub"),
          unix_micros(col("ts")).as("us"), col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
          .filter(abs(col("c") - element_at(medMap, col("event_type"))) <=
            lit(3L) * element_at(madMap, col("event_type")))
          .drop("event_type")
      runWmFold(s, dir, "st_monitor_out", shaped, monitorFoldStep)
        .select(col("event_id"), col("user_id"), col("us"),
          col("v1").as("ewma_c"))
        .orderBy("event_id")
    },
    AggOps.a30MonitorE2e.oracle)

  /** Streaming twin of a27_psi_drift — drift monitoring as it deploys:
    * the span bounds and bucket width are FROZEN before the stream
    * starts (one metadata-cheap batch min/max — the production monitor
    * freezes its reference histogram's binning offline the same way;
    * the st_trend_decay frozen-horizon argument), making each event's
    * (side, bucket) tag row-local. A complete-mode grouped count of
    * row-local tags is batching-invariant, so the drained histogram —
    * and the PSI composed from it batch-side — equals the batch run for
    * ANY micro-batch split, and a27's oracle gates this query verbatim.
    * State = one long per (side, bucket): ≤ 20 rows, the smallest
    * bounded-state shape in the registry. */
  val stPsiDrift = OpQuery(
    "st_psi_drift_stream",
    "streaming PSI drift: frozen binning, complete-mode 20-row histogram (a27's oracle)",
    (s, dir) => withStatePartitions(s, 8) {
      // frozen binning: one metadata-cheap batch pass collects the span
      // bounds + max cents as LITERALS (st_trend_decay's frozen-horizon
      // shape — no stream-static crossJoin in the streaming plan)
      val b = graft.core.Tables.load(s, dir, "events")
        .select(unix_micros(col("ts")).as("us"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .agg(min("us"), max("us"), max("c")).collect()(0)
      val tagged = AggOps.psiTag(
        Tables.stream(s, dir, "events")
          .select(unix_micros(col("ts")).as("us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("c")),
        lit(b.getLong(0)), lit(b.getLong(1)), lit(b.getLong(2)), 10)
      val counts = Twin.memory(
        tagged.groupBy("side", "bucket").agg(count(lit(1)).as("n")),
        "st_psi_out", mode = "complete")
      val filled = AggOps.psiGrid(s, 10)
        .join(counts, Seq("side", "bucket"), "left")
        .select(col("side"), col("bucket"),
          coalesce(col("n"), lit(0L)).as("n"))
      AggOps.psiFromCounts(filled, 10)
    },
    AggOps.a27PsiDrift.oracle)

  /** Streaming twin of a18_trend_decay. The horizon is FROZEN before the
    * stream starts (one metadata-cheap batch max over the table — the
    * production trend board passes `now()` the same way), which makes
    * each event's decay weight row-local: weight = 10^12 >> age_days
    * depends only on (ts, frozen horizon). A complete-mode grouped sum of
    * row-local integer weights is batching-invariant, so the streamed run
    * equals the batch run for ANY micro-batch split — a18's oracle gates
    * this query verbatim (the same frozen-reference argument as
    * st_er_match_stream / st_decontaminate_stream).
    *
    * State caveat: complete-mode grouped state is one row per DISTINCT
    * item — bounded here (the fixture's item space is ~100 keys) but
    * unbounded over an open item space. A production trend board over
    * unbounded keys uses the sketch route instead
    * (st_cms_heavy_hitters_stream: O(d·w) state independent of key
    * cardinality) and keeps this exact form for bounded dashboards. */
  val stTrendDecay = OpQuery(
    "st_trend_decay_stream",
    "streaming decayed trending items vs a frozen horizon (complete-mode grouped sum)",
    (s, dir) => withStatePartitions(s, 8) {
      val itemOf = get_json_object(col("props"), "$.k").cast("long")
      // max over an empty/all-null-item table is NULL — default the frozen
      // horizon to 0 so the query degrades to an empty result like its
      // batch twin instead of NPE-ing on getLong
      val horRow = graft.core.Tables.load(s, dir, "events")
        .filter(itemOf.isNotNull)
        .agg(max(unix_micros(col("ts")))).collect()(0)
      val horUs = if (horRow.isNullAt(0)) 0L else horRow.getLong(0)
      val agg = AggOps.trendDecayAgg(
        Tables.stream(s, dir, "events")
          .select(itemOf.as("item"), col("ts"))
          .filter(col("item").isNotNull),
        lit(horUs))
      Twin.memory(agg, "st_trend_out", mode = "complete").orderBy("item")
    },
    AggOps.a18TrendDecay.oracle)

  case class Scd2State(ver: Long, oid: Long, ous: Long, oc: Long)

  /** The st_scd2_stream state machine, factored out so restart tests can
    * drive the REAL transform: keyed state is the OPEN dimension version
    * per key — (version counter, event_id, valid_from, attribute) = four
    * longs — and each batch's change records fold through it in
    * (event-time, id) order. A new change CLOSES the open version (the
    * closed interval row is emitted — append-safe, it can never change
    * again) and opens the next one; the current version lives only in
    * state until its successor arrives. This is exactly how an SCD2 build
    * deploys against a CDC feed: closed history is durable output, the
    * open tail is keyed state that survives restart via the checkpoint
    * (Scd2RestartSpec proves version numbering continues, not restarts). */
  private[graft] def scd2Transform(
      typed: org.apache.spark.sql.Dataset[EwEv],
      maxKeyBatchRows: Int = MaxKeyBatchRows): DataFrame = {
    val s = typed.sparkSession
    import s.implicits._
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (u: Long, rows: Iterator[EwEv], state: GroupState[Scd2State]) => {
          var st = state.getOption.orNull
          val buf = bufferBounded(rows, maxKeyBatchRows, "scd2Transform")
          buf.sortInPlaceBy(e => (e.us, e.event_id))
          val out = new scala.collection.mutable.ArrayBuffer[
            (Long, Long, Long, Long, Long, Long)](buf.length)
          buf.foreach { e =>
            // no-op-change collapse (same contract as scd2FromChanges): a
            // change record equal to the OPEN version's value is a CDC
            // re-write, not a change — the open interval simply extends
            // over it. O(1): the open version IS the state.
            if (st == null) st = Scd2State(1L, e.event_id, e.us, e.c)
            else if (e.c != st.oc) {
              out += ((u, st.ver, st.oid, st.ous, e.us, st.oc))
              st = Scd2State(st.ver + 1L, e.event_id, e.us, e.c)
            }
          }
          if (st != null) state.update(st)
          out.iterator
        })
      .toDF("user_id", "version", "event_id", "valid_from_us", "valid_to_us",
        "c")
  }

  /** Streaming twin of a31_scd2_history — the SCD2 dimension build as it
    * deploys against a CDC feed: four longs of keyed state per dimension
    * key (the open version), closed validity intervals emitted in append
    * mode the moment their successor arrives. The one honest append-mode
    * delta vs the batch build: the OPEN (is_current) version of each key
    * exists only in state, not in the sink — a reader wanting current
    * rows unions the closed history with the dim store's latest upsert
    * (K3/K5), which is precisely the reference's split between history
    * and serving. Oracle = a31's history filtered to closed intervals.
    * Same batch-equality caveat as st_ewma_stream (per-key event-time-
    * ordered arrival across batches; exact here because the corpus
    * arrives as one file batch). */
  val stScd2 = OpQuery(
    "st_scd2_stream",
    "streaming SCD2 build: open version in keyed state, closed intervals appended",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val typed = Tables.stream(s, dir, "events")
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .as[EwEv]
      Twin.memory(scd2Transform(typed), "st_scd2_out").orderBy("user_id", "version")
    },
    Some("""WITH ch AS (
              SELECT event_id, user_id, epoch_us(ts) AS us,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                     lag(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS pc
              FROM events WHERE event_type = 'signup'),
            h AS (
              SELECT user_id,
                CAST(row_number() OVER w AS BIGINT) AS version,
                event_id,
                us AS valid_from_us,
                lead(us) OVER w AS valid_to_us,
                c
              FROM ch WHERE pc IS NULL OR pc <> c
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
            SELECT user_id, version, event_id, valid_from_us, valid_to_us, c
            FROM h WHERE valid_to_us IS NOT NULL
            ORDER BY user_id, version"""))

  /** Streaming twin of a32_scd2_lookup — the TEMPORAL TABLE JOIN as it
    * deploys (Flink's FOR SYSTEM_TIME AS OF; the reference's OrderWide
    * dim-lookup tier re-reads its dims per batch the same way,
    * RT/app/dwm/OrderWideApp.java): the SCD2 interval table is frozen
    * before the stream starts (a production serving tier re-derives or
    * re-reads it per batch — the st_er_match_stream frozen-reference
    * argument), and each micro-batch of facts pays ONE broadcast
    * interval join against it. Stateless per batch: each fact's match
    * depends only on (fact, frozen history), so the streamed union over
    * any batching equals the batch run and a32's oracle gates this
    * query verbatim. */
  val stScd2Lookup = OpQuery(
    "st_scd2_lookup_stream",
    "streaming temporal lookup: fact micro-batches x the frozen SCD2 interval table",
    (s, dir) => {
      val hist = AggOps.scd2Frame(s, dir)
        .select(col("user_id"), col("version"), col("valid_from_us"),
          col("valid_to_us"), col("c"))
      val stream = Tables.stream(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
      val out = Twin.parquet(stream, "graft_scd2_lookup_stream_") { (batch, _, dst) =>
        AggOps.scd2Lookup(batch, hist).write.mode("append").parquet(dst)
      }
      // a zero-row frame of the result schema: if the purchase stream
      // yields no micro-batch (empty fixture), the read returns empty
      // instead of missing-path
      AggOps.scd2Lookup(
        s.createDataFrame(s.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], stream.schema), hist)
        .write.mode("append").parquet(out)
      s.read.parquet(out).orderBy("event_id")
    },
    AggOps.a32Scd2Lookup.oracle)

  val all: Seq[OpQuery] =
    Seq(stUvDedup, stVisitorWindow, stIntervalJoin, stProvinceStats,
      stDedupExact, stFunnel, stRetention, stSessionWindow, stKeywordStream,
      stCepTimes, stAttribution, stCmsHeavyHitters, stSketchRollup,
      stCepNegation, stCepOptional, stTrendDecay, stDebounce, stRateLimit,
      stEwma, stEwmaAlpha8, stPsiDrift, stCusum, stMonitorE2e, stScd2,
      stScd2Lookup)
}
