package graft.cep

/** A small composable CEP (complex-event-processing) surface.
  *
  * The reference links flink-cep (gmall-realtime/pom.xml:48-52) but
  * instantiates exactly ONE pattern — the bounce detector
  * (RT/app/dwm/UserJumpDetailApp.java:77-89: begin(entry) NEXT entry
  * WITHIN 10s, with a timeout side output). graft.streaming.dwm.Bounce
  * declares that pattern in this API and the live chain runs it here,
  * like every other pattern: this package is the one CEP engine, covering
  * the Flink-CEP subset the reference's dependency provides (public
  * semantics, Flink CEP docs):
  *
  *   - `Pattern.begin(name, pred)` then `.next(...)` (STRICT contiguity:
  *     the immediately following event must match or the partial match
  *     dies) or `.followedBy(...)` (RELAXED contiguity: non-matching
  *     events are skipped; the FIRST matching event advances the match);
  *   - quantifiers on the last appended stage — `.times(n)`,
  *     `.times(min, max)`, `.oneOrMore` — with Flink's DEFAULT internal
  *     contiguity (relaxed between loop elements), or strict via
  *     `.consecutive`. Entry contiguity stays whatever next/followedBy set.
  *     Like Flink's NFA, a looping stage BRANCHES: on each event a run
  *     may extend the loop AND/OR hand the event to the following stage,
  *     so `a.oneOrMore` over a₁a₂ emits [a₁], [a₁a₂], [a₂] (NO_SKIP);
  *   - `.optional` on the last appended POSITIVE stage (Flink
  *     `optional()`): the stage may be skipped entirely — the
  *     quantifier floor is untouched, so `times(2,3).optional` admits
  *     zero or 2..3 occurrences, never one. Skipping branches like
  *     Flink's PROCEED edge: `a followedBy b.optional followedBy c` over
  *     "a b c" emits BOTH [a b c] and [a c], and when every stage after
  *     the current one is optional the run is already a complete match —
  *     it emits the moment its quantifier is satisfied and stays open to
  *     grow into the longer variants (`a followedBy b.optional` over
  *     "a b" emits [a] at a and [a b] at b). The FIRST stage cannot be
  *     optional (a match anchors at a real event);
  *   - NEGATION — `.notNext(name, pred)` / `.notFollowedBy(name, pred)`
  *     (Flink's negative patterns). A negative stage consumes no events
  *     and takes no quantifier; it constrains the gap between its two
  *     neighboring positive stages (or the tail of the match when
  *     trailing):
  *       · notNext: the event IMMEDIATELY after the previous stage's
  *         last element must not match. The check wins ties — an event
  *         matching both the negative and the following positive stage
  *         kills the run (the forbidden event happened; that it also
  *         resembles the next stage does not un-happen it). One
  *         non-matching intervening event discharges the constraint.
  *       · notFollowedBy: NO event in the gap may match, up to the event
  *         the next positive stage consumes. Tie goes the other way
  *         (Flink's PROCEED-before-TAKE on stop states): an event
  *         matching both the negative and the next positive stage
  *         advances the match — the gap it would have poisoned is empty
  *         because it closed it.
  *     A violation kills only the interpretations sitting in that gap: a
  *     branch that extends the previous stage's loop moves the gap's
  *     left edge past the violator and lives on.
  *     TRAILING negation (after the last positive stage) requires a
  *     finite `.within(...)` (Flink's rule) and an unquantified,
  *     non-optional final stage: the run arms on completing the last
  *     positive stage and emits as a MATCH when the window closes (or at
  *     batch flush) iff no negative event struck first — the
  *     "order NOT followed by payment within 15 min" shape
  *     (registry query c4_cep_negation);
  *   - `.within(window)`: the whole match must complete STRICTLY inside
  *     `window` of its first event — at exactly +window the timeout fires
  *     first (the convention the reference's bounce pattern pins down,
  *     UserJumpDetailApp.java:89). For an armed
  *     trailing-negation run the same boundary means a negative event at
  *     exactly +window arrives too late: the match emits first;
  *   - after-match semantics: a new partial match starts at EVERY event
  *     matching the first stage (Flink's default NO_SKIP), so runs are
  *     independent and may share events. `Matcher.advance(skipPastLast =
  *     true)` opts into SKIP_PAST_LAST_EVENT: a completed match discards
  *     every run that started at or before its last event (window-close
  *     emissions of armed runs don't participate — documented
  *     consumption-time-only);
  *   - timed-out partial matches are returned separately (the
  *     PatternTimeoutFunction side-output analog) — the bounce pattern's
  *     "no follow-up ⇒ still a bounce" branch. A run that already
  *     emitted (its quantifier is satisfied and every remaining stage is
  *     optional) expires SILENTLY: it is a completed match that merely
  *     could have grown, not a failure. Sibling interpretations sharing
  *     one matched prefix (a looper and its hand-off forks) collapse to
  *     ONE timeout — an expiring partial match is reported once.
  *
  * Combination restrictions (each `require`d at compile): negation
  * cannot start a pattern, carries no quantifier, and cannot neighbor an
  * optional stage (the skip path would merge two gaps and make "between"
  * ill-defined — Flink rejects these combinations too).
  *
  * Execution model (Flink-NFA-shaped): an open [[Run]] either sits
  * INSIDE a positive stage (count ≥ 1 elements consumed) or IN THE GAP
  * before one (count == 0 — a hand-off fork that has committed to
  * skipping any optional stages between its spawn point and its target).
  * Whenever a consumption satisfies a stage's quantifier, the matcher
  * eagerly forks one gap run per reachable next target (the following
  * stage, plus each stage reachable across only-optional predecessors) —
  * Flink's TAKE/PROCEED computation-state split. The origin run survives
  * only while its own loop can still grow; the forks carry every other
  * future, each with first-matching-event-wins semantics
  * (SKIP_TILL_NEXT; `followedByAny` is not modeled).
  *
  * The matcher core ([[Matcher]]) is a pure fold over one key's
  * time-sorted events — no Spark types — so the algebra is unit- and
  * property-testable: CepSpec replays random event streams through the
  * bounce pattern and checks the emitted set against a closed-form
  * next-event rule, plus split-associativity and match/timeout
  * exclusivity, and pins the negation/optional algebra case by case. Within one event,
  * completions/timeouts emit in run-START order (the active list is kept
  * in start order). Batch execution runs the fold per key via
  * `groupByKey(...).flatMapSortedGroups(...)` (secondary sort in the
  * shuffle — no per-group driver collect, state bounded by the runs open
  * inside one window) — the registry queries c2_cep_generic /
  * c4_cep_negation / c5_cep_optional are that wiring; streaming
  * execution is the one keyed operator [[KeyedCep]], which holds each
  * key's open `Run`s in flatMapGroupsWithState state (the chain's bounce
  * and the st_cep_* twins).
  */
final case class Stage[E](name: String, pred: E => Boolean,
    strict: Boolean, minTimes: Int = 1, maxTimes: Int = 1,
    loopStrict: Boolean = false, negated: Boolean = false,
    opt: Boolean = false)
    extends Serializable {
  require(minTimes >= 1, "minTimes must be ≥ 1")
  require(maxTimes >= minTimes, "maxTimes must be ≥ minTimes")
  require(!negated || (minTimes == 1 && maxTimes == 1 && !loopStrict && !opt),
    "a negative stage consumes no events and cannot be quantified")
  /** Can a run holding `count` loop elements of this stage accept more? */
  def canLoop(count: Int): Boolean = count < maxTimes
}

/** An open partial match: events matched so far, the POSITIVE stage
  * being targeted (index into the compiled positive-stage vector), how
  * many elements of that stage are held (count == 0 ⇒ the run is a
  * hand-off fork sitting in the gap BEFORE its stage), and whether the
  * LAST event was consumed by this run (`contiguous` — gates strict
  * entry, strict loops, and notNext adjacency; a fresh fork is born
  * contiguous because its spawning consumption just happened). `startTs`
  * anchors the within-window. */
final case class Run[E](startTs: Long, matched: Vector[E], awaiting: Int,
    count: Int, contiguous: Boolean)

final case class Pattern[E](stages: Vector[Stage[E]], window: Long)
    extends Serializable {
  require(stages.nonEmpty, "pattern needs at least one stage")
  require(window > 0, "within-window must be positive")

  private def lastPositive: Stage[E] = {
    require(!stages.last.negated,
      "quantifiers/optional apply to positive stages, not negations")
    stages.last
  }

  /** Append a STRICT-contiguity stage (Flink `next`). */
  def next(name: String, pred: E => Boolean): Pattern[E] =
    Pattern(stages :+ Stage(name, pred, strict = true), window)

  /** Append a RELAXED-contiguity stage (Flink `followedBy`). */
  def followedBy(name: String, pred: E => Boolean): Pattern[E] =
    Pattern(stages :+ Stage(name, pred, strict = false), window)

  /** Append a NEGATIVE stage with notNext semantics: the event
    * immediately following the previous positive stage's last element
    * must NOT match `pred` (Flink `notNext`). */
  def notNext(name: String, pred: E => Boolean): Pattern[E] =
    Pattern(stages :+ Stage(name, pred, strict = true, negated = true), window)

  /** Append a NEGATIVE stage with notFollowedBy semantics: NO event
    * between the previous positive stage's last element and the next
    * positive stage's element (or the window close, when trailing) may
    * match `pred` (Flink `notFollowedBy`). */
  def notFollowedBy(name: String, pred: E => Boolean): Pattern[E] =
    Pattern(stages :+ Stage(name, pred, strict = false, negated = true), window)

  /** Quantify the LAST appended stage to exactly `n` occurrences
    * (Flink `times(n)`; internal contiguity relaxed, Flink's default). */
  def times(n: Int): Pattern[E] = times(n, n)

  /** Quantify the LAST appended stage to `min`..`max` occurrences
    * (Flink `times(min, max)`). */
  def times(min: Int, max: Int): Pattern[E] =
    copy(stages = stages.init :+
      lastPositive.copy(minTimes = min, maxTimes = max))

  /** Quantify the LAST appended stage to one-or-more occurrences
    * (Flink `oneOrMore`; unbounded, internal contiguity relaxed). */
  def oneOrMore: Pattern[E] = times(1, Int.MaxValue)

  /** Make the LAST appended stage optional (Flink `optional()`): it may
    * be skipped entirely. The quantifier floor is untouched —
    * `times(2,4).optional` admits ZERO or 2..4 occurrences (Flink's
    * semantics), never exactly one. */
  def optional: Pattern[E] =
    copy(stages = stages.init :+ lastPositive.copy(opt = true))

  /** Make the LAST stage's loop STRICT internally (Flink `consecutive()`):
    * loop elements must be adjacent — any intervening event breaks the
    * loop (the run may still advance to a relaxed next stage if its
    * count already satisfies the quantifier, but never grows again). */
  def consecutive: Pattern[E] =
    copy(stages = stages.init :+ lastPositive.copy(loopStrict = true))

  /** Set the within-window (same unit as the event timestamps fed to the
    * matcher — ms or µs, the algebra only subtracts). */
  def within(w: Long): Pattern[E] = copy(window = w)

  /** The compiled form the matcher folds with, built once per instance
    * (per task, once a streaming operator's closure is deserialized), not
    * once per key and call. */
  @transient private[cep] lazy val compiled: Matcher.CPat[E] =
    Matcher.compile(this)
}

object Pattern {
  /** Start a pattern. The window defaults to "unbounded" and is almost
    * always narrowed with `.within(...)`. */
  def begin[E](name: String, pred: E => Boolean): Pattern[E] =
    Pattern(Vector(Stage(name, pred, strict = false)), Long.MaxValue)
}

object Matcher {

  /** Completed matches, timed-out partial matches, and still-open runs
    * after a fold step. Matches are event vectors in match order (a
    * quantified stage contributes `count` consecutive entries); emission
    * order is event-time order of completion / timeout within the step. */
  final case class Result[E](matches: Seq[Vector[E]],
      timeouts: Seq[Vector[E]], active: List[Run[E]])

  /** The compiled pattern the fold actually runs: positive stages (which
    * `Run.awaiting` indexes) plus, per GAP g (before positive stage g;
    * g = pos.size is the trailing gap), the notNext / notFollowedBy
    * predicates declared there, and tailOpt(k) — every positive stage
    * after k is optional, so a run satisfied at k is a complete match. */
  private[cep] final case class CPat[E](pos: Vector[Stage[E]],
      negNext: Vector[List[E => Boolean]],
      negBetween: Vector[List[E => Boolean]],
      tailOpt: Vector[Boolean], window: Long) {
    val last: Int = pos.size - 1
    val trailingNeg: Boolean =
      negNext(pos.size).nonEmpty || negBetween(pos.size).nonEmpty
    /** Stage `awaiting` is quantifier-satisfied with `count` elements. */
    def satisfied(r: Run[E]): Boolean = r.count >= pos(r.awaiting).minTimes
    /** This run already emitted its match (and may only grow). */
    def emitted(r: Run[E]): Boolean =
      satisfied(r) && tailOpt(r.awaiting) && !trailingNeg
    /** Armed: last positive stage done, waiting out a trailing negation. */
    def armed(r: Run[E]): Boolean =
      trailingNeg && r.awaiting == last && r.count >= 1
  }

  private[cep] def compile[E](pat: Pattern[E]): CPat[E] = {
    val pos = pat.stages.filterNot(_.negated)
    require(pos.nonEmpty, "pattern needs at least one positive stage")
    require(!pat.stages.head.negated, "pattern cannot start with a negation")
    require(!pos.head.opt, "the first stage cannot be optional")
    val negNext = Array.fill(pos.size + 1)(List.empty[E => Boolean])
    val negBetween = Array.fill(pos.size + 1)(List.empty[E => Boolean])
    var g = 0
    pat.stages.foreach { st =>
      if (st.negated) {
        if (st.strict) negNext(g) :+= st.pred else negBetween(g) :+= st.pred
      } else g += 1
    }
    for (gap <- 1 until pos.size
         if negNext(gap).nonEmpty || negBetween(gap).nonEmpty) {
      require(!pos(gap - 1).opt && !pos(gap).opt,
        "negation cannot neighbor an optional stage")
    }
    if (negNext(pos.size).nonEmpty || negBetween(pos.size).nonEmpty) {
      require(pos.last.minTimes == 1 && pos.last.maxTimes == 1 &&
        !pos.last.opt,
        "trailing negation requires an unquantified, non-optional final stage")
      require(pat.window != Long.MaxValue,
        "trailing negation requires a finite within() window")
    }
    val tailOpt = Vector.tabulate(pos.size)(k =>
      (k + 1 until pos.size).forall(pos(_).opt))
    CPat(pos, negNext.toVector, negBetween.toVector, tailOpt, pat.window)
  }

  /** Fold one key's time-sorted events (ts, event) over the open runs.
    * Per event: (1) runs whose window has expired (ts − start ≥ window)
    * resolve FIRST — armed trailing-negation runs emit as MATCHES,
    * already-emitted runs leave silently, the rest time out (one timeout
    * per distinct partial match), (2) surviving runs advance — a run
    * consumes the event into its stage when it matches (strict entry /
    * strict loops require adjacency); a consumption that satisfies the
    * stage's quantifier emits (when everything left is optional) and
    * forks one gap run per reachable next target; negative-pattern hits
    * kill the gap runs whose gap the event sits in; a run that can
    * neither consume now nor ever again dies silently (the
    * strict-contiguity kill), (3) a new run starts if the event matches
    * stage 0 (NO_SKIP; suppressed under `skipPastLast` for runs
    * overlapping a match completed at this event). Events must arrive in
    * non-decreasing (ts, tiebreak) order — the caller's sort defines
    * "immediately following" for strict stages and notNext. */
  def advance[E](pat: Pattern[E], active0: List[Run[E]],
      events: IterableOnce[(Long, E)],
      skipPastLast: Boolean = false): Result[E] = {
    val cp = pat.compiled
    val matches = scala.collection.mutable.ArrayBuffer.empty[Vector[E]]
    val timeouts = scala.collection.mutable.ArrayBuffer.empty[Vector[E]]
    val last = cp.last
    var active = active0
    var completedHere = false

    /** Gap forks spawned by a quantifier-satisfying consumption at stage
      * k with matched m: one run targeting each stage reachable from k
      * across only-optional predecessors (Flink's PROCEED split). Born
      * contiguous — the spawning consumption IS the previous event. */
    def forks(startTs: Long, m: Vector[E], k: Int): List[Run[E]] = {
      val out = List.newBuilder[Run[E]]
      var j = k + 1
      var go = j <= last
      while (go) {
        out += Run(startTs, m, j, 0, true)
        go = j < last && cp.pos(j).opt
        j += 1
      }
      out.result()
    }

    /** Handle one consumption: emit when the quantifier is satisfied and
      * everything left is optional, fork the hand-off targets, and keep
      * the origin while its own loop can still grow (or it armed a
      * trailing negation). Returns the successor runs. */
    def consumed(startTs: Long, m: Vector[E], k: Int, c2: Int): List[Run[E]] = {
      val st = cp.pos(k)
      var out = List.empty[Run[E]]
      if (c2 >= st.minTimes) {
        if (cp.tailOpt(k) && !cp.trailingNeg) { matches += m; completedHere = true }
        out = forks(startTs, m, k)
      }
      if (st.canLoop(c2) || (cp.trailingNeg && k == last))
        out = Run(startTs, m, k, c2, true) :: out
      out
    }

    events.iterator.foreach { case (ts, e) =>
      // (1) expire: resolution fires first at exactly start + window —
      // armed runs emit as matches (the trailing negation held), runs
      // that already emitted leave silently, the rest time out; sibling
      // interpretations sharing one matched prefix collapse to one
      val (expired, live) = active.partition(r => ts - r.startTs >= cp.window)
      val (armedExp, plainExp) = expired.partition(cp.armed)
      matches ++= armedExp.map(_.matched)
      timeouts ++= plainExp.filterNot(cp.emitted).map(_.matched).distinct
      completedHere = false
      // (2) advance the live runs
      active = live.flatMap { r =>
        if (skipPastLast && completedHere) Nil
        else {
          val st = cp.pos(r.awaiting)
          val inGap = r.count == 0
          // negative-pattern checks apply to runs sitting in a gap: the
          // hand-off forks (count == 0, gap BEFORE their stage) and armed
          // runs (trailing gap). notNext only the tail-adjacent event can
          // violate — and it wins ties, killing before any consumption;
          // notFollowedBy any gap event can violate — but loses ties, so
          // consumption below still gets its chance (PROCEED-before-TAKE)
          val gapIdx = if (inGap) r.awaiting else r.awaiting + 1
          val inTrailingGap = cp.armed(r)
          val nnHit = (inGap || inTrailingGap) && r.contiguous &&
            cp.negNext(gapIdx).exists(_(e))
          val nbHit = (inGap || inTrailingGap) &&
            cp.negBetween(gapIdx).exists(_(e))
          if (nnHit) Nil
          else {
            val entryOk =
              if (inGap) !st.strict || r.contiguous
              else !st.loopStrict || r.contiguous
            if (st.canLoop(r.count) && st.pred(e) && entryOk)
              consumed(r.startTs, r.matched :+ e, r.awaiting, r.count + 1)
            else if (nbHit) Nil // struck in-gap without consuming
            else if (inGap) {
              // survival in the gap: a strict target required THIS event
              if (st.strict) Nil else List(r.copy(contiguous = false))
            } else if (inTrailingGap) List(r.copy(contiguous = false))
            else {
              // survival inside a stage: only while the loop can still
              // grow (a consecutive() loop is broken for good by a gap);
              // every other future already lives in the hand-off forks
              if (st.canLoop(r.count) && !st.loopStrict)
                List(r.copy(contiguous = false))
              else Nil
            }
          }
        }
      }
      // (3) NO_SKIP: every stage-0 match opens an independent run.
      // APPENDED, not prepended: the active list stays in run-start order,
      // so runs completing or timing out at the same event emit oldest-
      // run-first — the documented within-event tiebreak. Runs open at
      // once are bounded by the within-window, so the append is cheap.
      if (cp.pos.head.pred(e) && !(skipPastLast && completedHere))
        active = active ++ consumed(ts, Vector(e), 0, 1)
      // AFTER_MATCH SKIP_PAST_LAST_EVENT: a completed match discards
      // every run open at its completion event (they all started at or
      // before it — runs are start-ordered and bounded by the window)
      if (skipPastLast && completedHere) active = Nil
    }
    Result(matches.toSeq, timeouts.toSeq, active)
  }

  /** Expire every run that `watermark` has passed, SPLIT by outcome:
    * armed trailing-negation runs emit as matches (the negation held to
    * the window close), already-emitted runs are dropped silently, the
    * rest are timeouts. Pass Long.MaxValue to flush everything (end of a
    * batch — where "the negative event never arrives" also completes an
    * armed run, window expired or not: the batch IS the horizon). */
  def flushSplit[E](pat: Pattern[E], active: List[Run[E]],
      watermark: Long): (Seq[Vector[E]], Seq[Vector[E]], List[Run[E]]) = {
    val cp = pat.compiled
    val (expired, live) =
      if (watermark == Long.MaxValue) (active, Nil)
      else active.partition(r => watermark - r.startTs >= cp.window)
    val (m, t) = expired.partition(cp.armed)
    (m.map(_.matched),
      t.filterNot(cp.emitted).map(_.matched).distinct, live)
  }

  /** Expire every run that `watermark` has passed (streaming timeout
    * firing); the expired runs are TIMEOUTS — only valid for patterns
    * without trailing negation (whose expiries are matches: use
    * [[flushSplit]]). Pass Long.MaxValue to flush everything. */
  def flush[E](pat: Pattern[E], active: List[Run[E]],
      watermark: Long): (Seq[Vector[E]], List[Run[E]]) = {
    require(!pat.compiled.trailingNeg,
      "flush() cannot express trailing-negation expiry; use flushSplit()")
    val (m, t, live) = flushSplit(pat, active, watermark)
    (m ++ t, live)
  }

  /** Batch entry point: fold a complete key history, then flush — every
    * still-open run resolves: armed trailing-negation runs become
    * MATCHES (in a bounded batch "the payment never arrives" IS the
    * negation holding), anything else unfinished becomes a timeout
    * (matching c1_bounce_detect's `next_us IS NULL` arm). */
  def foldAll[E](pat: Pattern[E],
      events: IterableOnce[(Long, E)]): (Seq[Vector[E]], Seq[Vector[E]]) = {
    val r = advance(pat, Nil, events)
    val (lateM, lateT, _) = flushSplit(pat, r.active, Long.MaxValue)
    (r.matches ++ lateM, r.timeouts ++ lateT)
  }
}
