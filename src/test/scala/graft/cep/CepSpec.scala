package graft.cep

import graft.streaming.dwm.Bounce
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the generic CEP matcher (graft.cep).
  *
  * The anchor property replays random event streams through the bounce
  * pattern — `begin(entry).next(entry).within(10s)`, the one pattern the
  * reference instantiates (RT/app/dwm/UserJumpDetailApp.java:77-89),
  * taken from [[Bounce.pattern]], the definition the live chain runs —
  * and checks it emits exactly the entries an independent closed-form
  * rule bounces, match and timeout branches both. The rule is the one
  * c1_bounce_detect's DuckDB oracle states with `lead()`, plus a clause
  * for a next event that is itself an entry: an entry bounces iff it has
  * no next event, or its next event is an entry, or its next event is
  * ≥ W later. Pure — no Spark session; the batch wiring (c2_cep_generic)
  * is gated separately against c1_bounce_detect's DuckDB oracle.
  */
object CepSpec extends Properties("cep.Matcher") {

  /** The reference's within(10s) in µs, the unit of [[Bounce.pattern]]:
    * a literal, not read from Bounce, so a drifted window fails here. */
  private val W = 10000000L

  private val bouncePat: Pattern[(Long, Boolean, String)] =
    Bounce.pattern[(Long, Boolean, String)](_._2)

  // gaps hit the window boundary (W − 1, W, W + 1) often enough that
  // every run of a property sees it
  private val genEvents: Gen[Seq[(Long, Boolean, String)]] = for {
    n <- Gen.choose(0, 40)
    gaps <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(1L, 2 * W), 1 -> Gen.oneOf(W - 1, W, W + 1)))
    entries <- Gen.listOfN(n, Gen.prob(0.5))
  } yield {
    val ts = gaps.scanLeft(0L)(_ + _).tail
    ts.lazyZip(entries).zipWithIndex.map { case ((t, e), i) => (t, e, s"ev$i") }.toSeq
  }

  private def matcherBounces(evs: Seq[(Long, Boolean, String)]): Seq[String] = {
    val (matches, timeouts) =
      Matcher.foldAll(bouncePat, evs.map(e => (e._1, e)))
    (matches ++ timeouts).map(_.head._3)
  }

  property("bounce pattern emits exactly the entries the next-event rule bounces") =
    Prop.forAll(genEvents) { evs =>
      // batch foldAll flushes a trailing open run as a timeout — the "no
      // next event" clause
      val expected = evs.indices.filter(i => evs(i)._2 &&
        (i == evs.size - 1 || evs(i + 1)._2 || evs(i + 1)._1 - evs(i)._1 >= W))
        .map(evs(_)._3)
      matcherBounces(evs).sorted == expected.sorted
    }

  property("match xor timeout: no event emitted twice") =
    Prop.forAll(genEvents) { evs =>
      val out = matcherBounces(evs)
      out.distinct.size == out.size
    }

  property("advance is split-associative (micro-batch boundaries move freely)") =
    Prop.forAll(genEvents, Gen.choose(0, 40)) { (evs, cutRaw) =>
      val cut = math.min(cutRaw, evs.size)
      val (a, b) = evs.splitAt(cut)
      val whole = Matcher.advance(bouncePat, Nil, evs.map(e => (e._1, e)))
      val r1 = Matcher.advance(bouncePat, Nil, a.map(e => (e._1, e)))
      val r2 = Matcher.advance(bouncePat, r1.active, b.map(e => (e._1, e)))
      (r1.matches ++ r2.matches) == whole.matches &&
        (r1.timeouts ++ r2.timeouts) == whole.timeouts &&
        r2.active == whole.active
    }

  property("a timeout fires FIRST at exactly +window (boundary convention)") =
    Prop.forAll(Gen.prob(0.5)) { followUpIsEntry =>
      val evs = Seq((0L, true, "first"), (W, followUpIsEntry, "boundary"))
      matcherBounces(evs).contains("first")
    }

  // The streaming operator (KeyedCep) resolves runs two ways: in advance,
  // when a later event of the key arrives, and in flushSplit, when the
  // watermark passes the window close. Micro-batches with flushes at any
  // watermark no later than the next batch's first event must emit what
  // one batch fold emits, each event at most once.
  private val genBatches: Gen[(Seq[(Long, Boolean, String)], List[Int], List[Long])] =
    for {
      evs <- genEvents
      cuts <- Gen.listOfN(3, Gen.choose(0, evs.size))
      lags <- Gen.listOfN(3, Gen.frequency(
        4 -> Gen.choose(0L, 2 * W), 1 -> Gen.const(0L)))
    } yield (evs, cuts.sorted, lags)

  private def streamed(evs: Seq[(Long, Boolean, String)], cuts: List[Int],
      lags: List[Long]): Seq[String] = {
    val bounds = (0 :: cuts) :+ evs.size
    val chunks = bounds.zip(bounds.tail).map { case (a, b) => evs.slice(a, b) }
    var open = List.empty[Run[(Long, Boolean, String)]]
    val out = Seq.newBuilder[String]
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val r = Matcher.advance(bouncePat, open, chunk.map(e => (e._1, e)))
      out ++= (r.matches ++ r.timeouts).map(_.head._3)
      // the watermark trails the next batch's first event by a lag
      val next = chunks.drop(i + 1).flatten.headOption.map(_._1)
      val wm = next.fold(Long.MaxValue)(_ - lags(i % lags.size))
      val (m, t, live) = Matcher.flushSplit(bouncePat, r.active, wm)
      out ++= (m ++ t).map(_.head._3)
      open = live
    }
    out.result()
  }

  property("only entry events can bounce; non-entries are never emitted") =
    Prop.forAll(genEvents) { evs =>
      matcherBounces(evs).toSet.subsetOf(evs.filter(_._2).map(_._3).toSet)
    }

  property("an entry directly followed within the window by an entry bounces") =
    Prop.forAll(genEvents) { evs =>
      val shouldBounce = evs.sliding(2).collect {
        case Seq((t1, true, p1), (t2, true, _)) if t2 - t1 < W => p1
      }.toSet
      shouldBounce.subsetOf(matcherBounces(evs).toSet)
    }

  property("an entry followed within the window by a non-entry never bounces") =
    Prop.forAll(genEvents) { evs =>
      val browsedOn = evs.sliding(2).collect {
        case Seq((t1, true, p1), (t2, false, _)) if t2 - t1 < W => p1
      }.toSet
      browsedOn.intersect(matcherBounces(evs).toSet).isEmpty
    }

  property("each event emitted at most once across micro-batches and watermark flushes") =
    Prop.forAll(genBatches) { case (evs, cuts, lags) =>
      val out = streamed(evs, cuts, lags)
      out.distinct.size == out.size
    }

  property("micro-batches with watermark flushes emit what one fold emits") =
    Prop.forAll(genBatches) { case (evs, cuts, lags) =>
      streamed(evs, cuts, lags).sorted == matcherBounces(evs).sorted
    }

  property("a watermark at exactly +window resolves the pending entry, one below does not") =
    Prop.forAll(Gen.choose(0L, 100 * W)) { t0 =>
      val r = Matcher.advance(bouncePat, Nil, Seq((t0, (t0, true, "entry"))))
      val (_, tAt, liveAt) = Matcher.flushSplit(bouncePat, r.active, t0 + W)
      val (_, tBelow, liveBelow) = Matcher.flushSplit(bouncePat, r.active, t0 + W - 1)
      tAt.map(_.head._3) == Seq("entry") && liveAt.isEmpty &&
        tBelow.isEmpty && liveBelow.size == 1
    }

  // Deterministic algebra cases for the surface the bounce does not exercise:

  property("followedBy skips non-matching events (relaxed contiguity)") = Prop {
    type E = (Long, String)
    val pat = Pattern.begin[E]("a", _._2 == "a").followedBy("b", _._2 == "b")
      .within(100L)
    val evs: Seq[E] = Seq((1L, "a"), (2L, "x"), (3L, "b"))
    val (matches, timeouts) = Matcher.foldAll(pat, evs.map(e => (e._1, e)))
    matches == Seq(Vector((1L, "a"), (3L, "b"))) && timeouts.isEmpty
  }

  property("next kills the run on a non-matching event (strict contiguity)") = Prop {
    type E = (Long, String)
    val pat = Pattern.begin[E]("a", _._2 == "a").next("b", _._2 == "b")
      .within(100L)
    val evs: Seq[E] = Seq((1L, "a"), (2L, "x"), (3L, "b"))
    val (matches, timeouts) = Matcher.foldAll(pat, evs.map(e => (e._1, e)))
    matches.isEmpty && timeouts.isEmpty
  }

  property("same-event completions emit in run-START order (NO_SKIP ties)") = Prop {
    type E = (Long, String)
    val pat = Pattern.begin[E]("a", _._2.startsWith("a"))
      .followedBy("b", _._2 == "b").within(1000L)
    val evs: Seq[E] = Seq((1L, "a1"), (2L, "a2"), (3L, "b"))
    val (matches, _) = Matcher.foldAll(pat, evs.map(e => (e._1, e)))
    matches.map(_.head._2) == Seq("a1", "a2")
  }

  property("same-event timeouts emit in run-START order") = Prop {
    type E = (Long, String)
    val pat = Pattern.begin[E]("a", _._2.startsWith("a"))
      .followedBy("b", _._2 == "b").within(5L)
    // two open runs, both expired by the event at t=20
    val evs: Seq[E] = Seq((1L, "a1"), (2L, "a2"), (20L, "x"))
    val r = Matcher.advance(pat, Nil, evs.map(e => (e._1, e)))
    r.timeouts.map(_.head._2) == Seq("a1", "a2") && r.active.isEmpty
  }

  property("flush with Long.MaxValue drains every open run as a timeout") =
    Prop.forAll(genEvents) { evs =>
      val r = Matcher.advance(bouncePat, Nil, evs.map(e => (e._1, e)))
      val (flushed, live) = Matcher.flush(bouncePat, r.active, Long.MaxValue)
      live.isEmpty && flushed == r.active.map(_.matched)
    }

  property("flush at a watermark expires exactly the out-of-window runs") =
    Prop.forAll(genEvents, Gen.choose(0L, 80 * W)) { (evs, wm) =>
      val r = Matcher.advance(bouncePat, Nil, evs.map(e => (e._1, e)))
      val (flushed, live) = Matcher.flush(bouncePat, r.active, wm)
      flushed.size + live.size == r.active.size &&
        live.forall(run => wm - run.startTs < W)
    }

  // ---------- quantifiers: times(n) / times(min,max) / oneOrMore ----------

  private type E2 = (Long, String)
  private def fold(pat: Pattern[E2], evs: Seq[E2]) =
    Matcher.foldAll(pat, evs.map(e => (e._1, e)))
  private def names(ms: Seq[Vector[E2]]): Seq[Seq[String]] =
    ms.map(_.map(_._2))

  property("times(n) needs exactly n loop elements before the next stage") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .times(2).followedBy("b", _._2.startsWith("b")).within(100L)
    // a1 a2 b1: only the 2-element loop [a1 a2 b1] completes; the NO_SKIP
    // run starting at a2 holds one 'a' and times out (partial)
    val (m, t) = fold(pat, Seq((1L, "a1"), (2L, "a2"), (3L, "b1")))
    Prop(names(m) == Seq(Seq("a1", "a2", "b1")) &&
      names(t) == Seq(Seq("a2"))).label(s"m=${names(m)} t=${names(t)}")
  }

  property("times(min,max) branches: every loop length in range completes") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .times(1, 2).followedBy("b", _._2.startsWith("b")).within(100L)
    // a1 a2 b1 → [a1 b1] (min loop), [a1 a2 b1] (max loop), [a2 b1]
    val (m, _) = fold(pat, Seq((1L, "a1"), (2L, "a2"), (3L, "b1")))
    Prop(names(m).toSet == Set(Seq("a1", "b1"), Seq("a1", "a2", "b1"),
      Seq("a2", "b1"))).label(s"m=${names(m)}")
  }

  property("oneOrMore as final stage emits every accumulation (Flink NO_SKIP)") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).oneOrMore
      .within(100L)
    // a1 a2: [a1], [a1 a2], [a2] — the documented combinatorial set
    val (m, t) = fold(pat, Seq((1L, "a1"), (2L, "a2")))
    Prop(names(m).toSet == Set(Seq("a1"), Seq("a1", "a2"), Seq("a2")) &&
      t.isEmpty).label(s"m=${names(m)} t=${names(t)}")
  }

  property("oneOrMore internal contiguity is relaxed (gaps allowed)") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).oneOrMore
      .followedBy("b", _._2.startsWith("b")).within(100L)
    // a1 x a2 b1: the x gap does not kill the loop
    val (m, _) = fold(pat,
      Seq((1L, "a1"), (2L, "x"), (3L, "a2"), (4L, "b1")))
    Prop(names(m).toSet == Set(Seq("a1", "b1"), Seq("a1", "a2", "b1"),
      Seq("a2", "b1"))).label(s"m=${names(m)}")
  }

  property("strict next after a quantified stage requires adjacency") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).times(2)
      .next("b", _._2.startsWith("b")).within(100L)
    // adjacency holds: a a b completes; broken by x: a a x b does not
    val (m1, _) = fold(pat, Seq((1L, "a1"), (2L, "a2"), (3L, "b1")))
    val (m2, _) = fold(pat, Seq((1L, "a1"), (2L, "a2"), (3L, "x"), (4L, "b1")))
    Prop(names(m1) == Seq(Seq("a1", "a2", "b1")) && m2.isEmpty)
      .label(s"m1=${names(m1)} m2=${names(m2)}")
  }

  property("satisfied final-stage looper expires silently, not as timeout") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).oneOrMore
      .within(10L)
    // a1 emits [a1]; the still-open looper crosses +window at ts=20 and
    // must NOT be re-reported as a timeout — it already matched
    val (m, t) = fold(pat, Seq((1L, "a1"), (20L, "x")))
    Prop(names(m) == Seq(Seq("a1")) && t.isEmpty)
      .label(s"m=${names(m)} t=${names(t)}")
  }

  property("skipPastLast discards runs overlapping a completed match") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .followedBy("b", _._2.startsWith("b")).within(100L)
    val evs = Seq((1L, "a1"), (2L, "a2"), (3L, "b1"), (4L, "b2"))
    // NO_SKIP: a1 and a2 both match to b1 (first matching b), = 2 matches
    val noSkip = Matcher.advance(pat, Nil, evs.map(e => (e._1, e)))
    // SKIP_PAST_LAST_EVENT: the a1→b1 completion discards the a2 run, so
    // b2 finds nothing open
    val skip = Matcher.advance(pat, Nil, evs.map(e => (e._1, e)),
      skipPastLast = true)
    Prop(names(noSkip.matches).toSet ==
        Set(Seq("a1", "b1"), Seq("a2", "b1")) &&
      names(skip.matches) == Seq(Seq("a1", "b1")) && skip.active.isEmpty)
      .label(s"noSkip=${names(noSkip.matches)} skip=${names(skip.matches)}")
  }

  property("consecutive() breaks the loop at a gap; relaxed default does not") = {
    val mk = (consec: Boolean) => {
      val base = Pattern.begin[E2]("a", _._2.startsWith("a")).oneOrMore
      (if (consec) base.consecutive else base)
        .followedBy("b", _._2.startsWith("b")).within(100L)
    }
    // a1 a2 x a3 b1: default relaxed bridges the x gap (a1 a2 a3 spans);
    // consecutive() stops every loop at x — a1a2 and a3 stay separate,
    // but min-satisfied runs still advance to the relaxed b
    val evs = Seq((1L, "a1"), (2L, "a2"), (3L, "x"), (4L, "a3"), (5L, "b1"))
    val (mRel, _) = fold(mk(false), evs)
    val (mCon, _) = fold(mk(true), evs)
    Prop(names(mRel).toSet.contains(Seq("a1", "a2", "a3", "b1")) &&
      names(mCon).toSet == Set(Seq("a1", "b1"), Seq("a1", "a2", "b1"),
        Seq("a2", "b1"), Seq("a3", "b1")))
      .label(s"rel=${names(mRel)} con=${names(mCon)}")
  }

  property("consecutive times(2) needs adjacent loop elements") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .times(2).consecutive.followedBy("b", _._2.startsWith("b")).within(100L)
    // a1 x a2 a3 b1: a1's loop is broken by x (and never reaches min=2);
    // only the adjacent a2 a3 pair completes
    val evs = Seq((1L, "a1"), (2L, "x"), (3L, "a2"), (4L, "a3"), (5L, "b1"))
    val (m, _) = fold(pat, evs)
    Prop(names(m) == Seq(Seq("a2", "a3", "b1"))).label(s"m=${names(m)}")
  }

  // ---------- negation: notFollowedBy / notNext ----------

  property("trailing notFollowedBy: absence matches, presence kills (random)") =
    Prop.forAll(genEvents) { evs =>
      // "entry NOT followed by another entry within W" — complement of
      // the bounce MATCH branch, checked against a brute-force scan
      val pat = Pattern.begin[(Long, Boolean, String)]("entry", _._2)
        .notFollowedBy("reentry", _._2).within(W)
      val (m, t) = Matcher.foldAll(pat, evs.map(e => (e._1, e)))
      val expected = evs.filter(_._2).filter { a =>
        !evs.exists(b => b._2 && b._1 > a._1 && b._1 - a._1 < W)
      }.map(_._3)
      t.isEmpty && m.map(_.head._3).sorted == expected.sorted
    }

  property("trailing negation boundary: the negative event at exactly +window is too late") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .notFollowedBy("x", _._2 == "x").within(10L)
    // x at +9 kills; x at exactly +10 arrives after the window resolved
    val (mKill, _) = fold(pat, Seq((1L, "a1"), (10L, "x")))
    val (mLate, _) = fold(pat, Seq((1L, "a1"), (11L, "x")))
    Prop(mKill.isEmpty && names(mLate) == Seq(Seq("a1")))
      .label(s"kill=${names(mKill)} late=${names(mLate)}")
  }

  property("trailing notNext is discharged by one intervening event") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .notNext("x", _._2 == "x").within(100L)
    // a1 x: the adjacent x kills; a1 y x: y discharges, later x harmless
    val (mAdj, _) = fold(pat, Seq((1L, "a1"), (2L, "x")))
    val (mGap, _) = fold(pat, Seq((1L, "a1"), (2L, "y"), (3L, "x")))
    Prop(mAdj.isEmpty && names(mGap) == Seq(Seq("a1")))
      .label(s"adj=${names(mAdj)} gap=${names(mGap)}")
  }

  property("inner notFollowedBy kills the gap; loop extension moves past it") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).oneOrMore
      .notFollowedBy("x", _._2 == "x")
      .followedBy("c", _._2.startsWith("c")).within(100L)
    // a1 x a2 c1: [a1 c1] is killed (x sits in its gap); [a1 a2 c1] and
    // [a2 c1] survive — their gaps start after x
    val (m, _) = fold(pat,
      Seq((1L, "a1"), (2L, "x"), (3L, "a2"), (4L, "c1")))
    Prop(names(m).toSet == Set(Seq("a1", "a2", "c1"), Seq("a2", "c1")))
      .label(s"m=${names(m)}")
  }

  property("notFollowedBy loses ties: an event matching both negative and next stage advances") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .notFollowedBy("both", _._2 == "bc")
      .followedBy("c", _._2 == "bc").within(100L)
    val (m, _) = fold(pat, Seq((1L, "a1"), (2L, "bc")))
    Prop(names(m) == Seq(Seq("a1", "bc"))).label(s"m=${names(m)}")
  }

  property("notNext wins ties: an event matching both negative and next stage kills") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .notNext("both", _._2 == "bc")
      .followedBy("c", _._2 == "bc").within(100L)
    val (m, t) = fold(pat, Seq((1L, "a1"), (2L, "bc")))
    Prop(m.isEmpty && t.isEmpty).label(s"m=${names(m)} t=${names(t)}")
  }

  property("inner notNext allows the next stage via a discharging gap event") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .notNext("x", _._2 == "x")
      .followedBy("c", _._2.startsWith("c")).within(100L)
    // a1 y c1: y discharges the notNext, c matches relaxed → [a1 c1];
    // a1 x c1: the adjacent x kills
    val (mOk, _) = fold(pat, Seq((1L, "a1"), (2L, "y"), (3L, "c1")))
    val (mKill, _) = fold(pat, Seq((1L, "a1"), (2L, "x"), (3L, "c1")))
    Prop(names(mOk) == Seq(Seq("a1", "c1")) && mKill.isEmpty)
      .label(s"ok=${names(mOk)} kill=${names(mKill)}")
  }

  property("trailing negation + within interaction: kill, then a fresh run matches") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .notFollowedBy("x", _._2 == "x").within(10L)
    // a1's window contains x (kill); a2 starts after x and flushes clean
    val (m, t) = fold(pat, Seq((1L, "a1"), (5L, "x"), (6L, "a2")))
    Prop(names(m) == Seq(Seq("a2")) && t.isEmpty)
      .label(s"m=${names(m)} t=${names(t)}")
  }

  // ---------- optional stages ----------

  property("optional middle stage branches like Flink PROCEED: both [a b c] and [a c]") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .followedBy("b", _._2.startsWith("b")).optional
      .followedBy("c", _._2.startsWith("c")).within(100L)
    val (m, _) = fold(pat, Seq((1L, "a1"), (2L, "b1"), (3L, "c1")))
    Prop(names(m).toSet == Set(Seq("a1", "b1", "c1"), Seq("a1", "c1")))
      .label(s"m=${names(m)}")
  }

  property("optional trailing stage: the short match emits immediately and may grow") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .followedBy("b", _._2.startsWith("b")).optional.within(100L)
    // a1 emits [a1] at once; the first b inside the window grows it
    val (m, t) = fold(pat, Seq((1L, "a1"), (2L, "b1"), (3L, "b2")))
    Prop(names(m) == Seq(Seq("a1"), Seq("a1", "b1")) && t.isEmpty)
      .label(s"m=${names(m)} t=${names(t)}")
  }

  property("optional stage skipped entirely when its event never comes") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .followedBy("b", _._2.startsWith("b")).optional
      .followedBy("c", _._2.startsWith("c")).within(100L)
    val (m, _) = fold(pat, Seq((1L, "a1"), (2L, "c1")))
    Prop(names(m) == Seq(Seq("a1", "c1"))).label(s"m=${names(m)}")
  }

  property("quantified optional: times(2,3).optional admits zero or 2..3 loop elements") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a"))
      .followedBy("b", _._2.startsWith("b")).times(2, 3).optional
      .followedBy("c", _._2.startsWith("c")).within(100L)
    // zero b's: [a c]; one b: the loop never satisfies 2..3, so still
    // only the skip branch [a c]; two b's: [a b b c] joins it
    val (m0, _) = fold(pat, Seq((1L, "a1"), (4L, "c1")))
    val (m1, _) = fold(pat, Seq((1L, "a1"), (2L, "b1"), (4L, "c1")))
    val (m2, _) = fold(pat, Seq((1L, "a1"), (2L, "b1"), (3L, "b2"), (4L, "c1")))
    Prop(names(m0) == Seq(Seq("a1", "c1")) &&
      names(m1) == Seq(Seq("a1", "c1")) &&
      names(m2).toSet == Set(Seq("a1", "c1"), Seq("a1", "b1", "b2", "c1")))
      .label(s"m0=${names(m0)} m1=${names(m1)} m2=${names(m2)}")
  }

  property("an expiring partial match is reported once across sibling interpretations") = {
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).times(1, 2)
      .followedBy("b", _._2.startsWith("b")).within(10L)
    // a1 opens a looper AND its hand-off fork (same matched [a1]); at
    // expiry that is ONE partial match, not two timeouts
    val (m, t) = fold(pat, Seq((1L, "a1"), (20L, "z")))
    Prop(m.isEmpty && names(t) == Seq(Seq("a1")))
      .label(s"m=${names(m)} t=${names(t)}")
  }

  property("compile rejects the documented illegal combinations") = Prop {
    def throws(f: => Any): Boolean =
      try { f; false } catch { case _: IllegalArgumentException => true }
    val a = (e: E2) => e._2.startsWith("a")
    throws(Matcher.foldAll( // negation cannot be quantified
      Pattern.begin[E2]("a", a).notFollowedBy("x", _._2 == "x").times(2)
        .within(10L), Seq.empty[(Long, E2)])) &&
    throws(Matcher.foldAll( // first stage cannot be optional
      Pattern.begin[E2]("a", a).optional.followedBy("b", _._2 == "b")
        .within(10L), Seq.empty[(Long, E2)])) &&
    throws(Matcher.foldAll( // trailing negation needs a finite window
      Pattern.begin[E2]("a", a).notFollowedBy("x", _._2 == "x"),
      Seq.empty[(Long, E2)])) &&
    throws(Matcher.foldAll( // negation cannot neighbor an optional stage
      Pattern.begin[E2]("a", a).followedBy("b", _._2 == "b").optional
        .notFollowedBy("x", _._2 == "x").followedBy("c", _._2 == "c")
        .within(10L), Seq.empty[(Long, E2)]))
  }

  property("skipPastLast on a+ b matches the Flink docs example") = {
    // Flink AFTER_MATCH docs: pattern a+ b over a1 a2 a3 b — NO_SKIP
    // emits the a1-, a2- and a3-rooted matches (plus shorter-loop
    // branches); SKIP_PAST_LAST_EVENT emits ONLY the first (longest,
    // oldest-rooted) one
    val pat = Pattern.begin[E2]("a", _._2.startsWith("a")).oneOrMore
      .followedBy("b", _._2.startsWith("b")).within(100L)
    val evs = Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (4L, "b1"))
    val noSkip = Matcher.advance(pat, Nil, evs.map(e => (e._1, e)))
    val skip = Matcher.advance(pat, Nil, evs.map(e => (e._1, e)),
      skipPastLast = true)
    Prop(names(noSkip.matches).toSet.contains(Seq("a1", "a2", "a3", "b1")) &&
      names(noSkip.matches).toSet.contains(Seq("a2", "a3", "b1")) &&
      names(noSkip.matches).toSet.contains(Seq("a3", "b1")) &&
      names(skip.matches) == Seq(Seq("a1", "a2", "a3", "b1")))
      .label(s"noSkip=${names(noSkip.matches)} skip=${names(skip.matches)}")
  }
}
