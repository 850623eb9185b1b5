package graft.cep

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The streaming form of [[Matcher]]: one keyed-state operator that runs
  * a [[Pattern]] per key across micro-batches. A key's state is the list
  * of its open [[Run]]s, so a partial match started in one micro-batch
  * completes, times out or is killed in a later one.
  *
  * Per key and micro-batch it sorts the rows by event time `us`, then
  * `tie` (the sort defines "immediately following" for strict stages and
  * notNext; callers whose per-key times are unique leave `tie` at its
  * default), folds them through [[Matcher.advance]] over the open runs,
  * and hands the (matches, timeouts) to `emit`. Event times are µs
  * (`us`), the unit of the pattern's window.
  *
  * With `timers`, runs also resolve when the watermark passes their
  * window close, not only when a later event of the same key arrives:
  * [[Matcher.flushSplit]] runs against the watermark in every call, and
  * an `EventTimeTimeout` timer is armed at the earliest open window
  * close, so a key that sees no further event still resolves. Timeouts
  * and trailing-negation matches need this; a pattern that only emits
  * matches of positive stages does not. The caller must put a watermark
  * on a timestamp column of `events`. Under `EventTimeTimeout`, Spark
  * drops input rows at or behind the late-events watermark (the previous
  * batch's), which trails `getCurrentWatermarkMs()` (this batch's
  * eviction watermark): a row between the two still reaches the fold,
  * and a run it opens may already be past its close, so it resolves in
  * the same call. The timer is clamped above the watermark because the
  * engine rejects one behind it; flushSplit re-checks every close, so an
  * early firing only re-arms.
  */
object KeyedCep {

  def apply[K: Encoder, E: TypeTag, O: Encoder](events: Dataset[E],
      pat: Pattern[E], timers: Boolean)(key: E => K, us: E => Long,
      tie: E => Long = (_: E) => 0L)(
      emit: (Seq[Vector[E]], Seq[Vector[E]]) => Iterator[O]): Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._

    def step(k: K, rows: Iterator[E],
        state: GroupState[Seq[Run[E]]]): Iterator[O] = {
      val open = state.getOption.fold(List.empty[Run[E]])(_.toList)
      val r =
        if (state.hasTimedOut) Matcher.Result(Nil, Nil, open)
        else Matcher.advance(pat, open,
          rows.toSeq.sortBy(e => (us(e), tie(e))).iterator.map(e => (us(e), e)))
      val wm = if (timers) state.getCurrentWatermarkMs() else 0L
      val (m, t, live) =
        if (timers) Matcher.flushSplit(pat, r.active, wm * 1000L)
        else (Nil, Nil, r.active)
      if (live.isEmpty) state.remove()
      else {
        state.update(live)
        // a run resolves once wm * 1000 >= startTs + window: the timer
        // fires when the watermark passes the last ms before that
        if (timers) state.setTimeoutTimestamp(math.max(
          (live.map(_.startTs).min + pat.window - 1L) / 1000L, wm + 1L))
      }
      emit(r.matches ++ m, r.timeouts ++ t)
    }

    events.groupByKey(key).flatMapGroupsWithState(OutputMode.Append,
      if (timers) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout)(step)
  }
}
