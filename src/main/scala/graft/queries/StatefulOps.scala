package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Batch-verifiable analogs of the reference's keyed-state streaming
  * operators (SURVEY.md §2.5 A5/A6, §2.6 C1). The true streaming
  * implementations (flatMapGroupsWithState with TTL / event-time timeout)
  * live in graft.streaming and are covered by ScalaTest; these queries pin
  * the SEMANTICS against the DuckDB oracle on the same data.
  */
object StatefulOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** A5 — UV dedup: first visit per (mid, day)
    * (RT/app/dwm/UniqueVisitApp.java:42-78: per-mid ValueState of last seen
    * date, 24h TTL ⇒ batch semantics = first event of each user-day). */
  val a5UvDedup = OpQuery(
    "a5_uv_dedup",
    "first-visit-per-day dedup (UniqueVisitApp keyed-state analog)",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("event_id"))
        .orderBy("user_id", "dt")
    },
    Some("""SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt, event_id
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id, CAST(ts AS DATE)
                    ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id, dt"""))

  /** A6 — is_new flag repair: a visitor can only be "new" on their first
    * event ever (RT/app/dwd/BaseLogApp.java:52-77: per-mid seen-flag
    * ValueState rewrites is_new 1→0 on later visits). */
  val a6IsNewRepair = OpQuery(
    "a6_is_new_repair",
    "new-visitor flag repair via first-ever-event state (BaseLogApp analog)",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .select(col("event_id"), col("user_id"),
          when(col("rn") === 1, 1L).otherwise(0L).as("is_new"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
            CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_new
            FROM (SELECT event_id, user_id, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            ORDER BY event_id"""))

  /** C1 — bounce detection (RT/app/dwm/UserJumpDetailApp.java:77-124 CEP:
    * session-entry event followed within 10s by another entry, or by
    * nothing ⇒ bounce). Batch analog over per-user event sequences:
    * entry = gap>30s from previous event (or first); bounce = entry whose
    * next event is absent or ≥10s later (CEP within(10s) fires the timeout
    * FIRST at exactly +10s — UserJumpDetailApp.java:89 — so the boundary
    * gap bounces; same strict-< window as Bounce.pattern). Exact integer
    * µs arithmetic. */
  val c1BounceDetect = OpQuery(
    "c1_bounce_detect",
    "CEP bounce: entry-with-no-follow-up-within-10s (UserJumpDetailApp analog)",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter( // session entry:
          (col("prev_us").isNull || col("us") - col("prev_us") > 30000000L) &&
          // no follow-up within 10s:
          (col("next_us").isNull || col("next_us") - col("us") >= 10000000L))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("visit_time"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
            strftime(ts, '%Y-%m-%d %H:%M:%S') AS visit_time
            FROM (SELECT event_id, user_id, ts, epoch_us(ts) AS us,
                    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
                    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
                  FROM events)
            WHERE (prev_us IS NULL OR us - prev_us > 30000000)
              AND (next_us IS NULL OR next_us - us >= 10000000)
            ORDER BY event_id"""))

  /** One event of the CEP batch fold; `entry` is annotated inside the
    * sorted group (gap > 30s from the previous event, or first ever). */
  case class CepEv(event_id: Long, user_id: Long, us: Long,
      entry: Boolean, visit_time: String)

  /** C2-generic — the SAME bounce semantics as [[c1BounceDetect]], but
    * executed through the reusable graft.cep pattern API — the chain's
    * own [[graft.streaming.dwm.Bounce.pattern]],
    * `Pattern.begin(entry).next(entry).within(10s)`, the reference's
    * flink-cep pattern shape (RT/app/dwm/UserJumpDetailApp.java:77-89) —
    * instead of the window-function analog. Matches AND timeouts both
    * emit the pattern's first event (a bounce either way), exactly the
    * two unioned branches of the reference. Shares c1's DuckDB oracle, so
    * the generic Matcher is gated against the same truth.
    *
    * Scale shape: ONE shuffle — `groupByKey(user).flatMapSortedGroups`
    * sorts each group in the shuffle (secondary sort, no driver collect),
    * the entry flag is annotated streamingly from the previous event's
    * timestamp, and Matcher's state is bounded by the runs open inside
    * one 10s window (here ≤1, since entries are ≥30s apart). */
  val c2CepGeneric = OpQuery(
    "c2_cep_generic",
    "bounce detection via the generic CEP Pattern/Matcher API (c1's oracle)",
    (s, dir) => {
      import s.implicits._
      import graft.cep.Matcher
      val pat = graft.streaming.dwm.Bounce.pattern[CepEv](_.entry)
      val evs = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), lit(false).as("entry"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("visit_time"))
        .as[CepEv]
      evs.groupByKey(_.user_id)
        .flatMapSortedGroups($"us", $"event_id") { (_: Long, it: Iterator[CepEv]) =>
          var prevUs = Long.MinValue
          val annotated = it.map { e =>
            val isEntry = prevUs == Long.MinValue || e.us - prevUs > 30000000L
            prevUs = e.us
            (e.us, e.copy(entry = isEntry))
          }
          val (matches, timeouts) = Matcher.foldAll(pat, annotated)
          (matches ++ timeouts).map(_.head)
        }
        .toDF()
        .select(col("event_id"), col("user_id"), col("visit_time"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
            strftime(ts, '%Y-%m-%d %H:%M:%S') AS visit_time
            FROM (SELECT event_id, user_id, ts, epoch_us(ts) AS us,
                    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
                    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
                  FROM events)
            WHERE (prev_us IS NULL OR us - prev_us > 30000000)
              AND (next_us IS NULL OR next_us - us >= 10000000)
            ORDER BY event_id"""))

  case class ViewEv(event_id: Long, user_id: Long, us: Long, t: String)

  /** C3 — the QUANTIFIED pattern surface (`times(n)`), hash-gated on real
    * data: per user, three 'view' events inside a 48 h window — the
    * re-engagement-burst shape a flink-cep user writes as
    * `begin(view).times(3).within(48h)`. With NO_SKIP every view starts a
    * run and the times-loop (relaxed internal contiguity, Flink default)
    * takes each subsequent view, so matches are exactly the sliding
    * triples of the per-user view subsequence whose span is strictly
    * inside the window (at exactly +window the timeout fires first) —
    * which the oracle states with two lead() hops. Same one-shuffle
    * flatMapSortedGroups shape as c2. */
  val c3CepTimes = OpQuery(
    "c3_cep_times",
    "3 views within 48h per user via the quantified CEP pattern (times(3))",
    (s, dir) => {
      import s.implicits._
      import graft.cep.{Matcher, Pattern}
      val win = 48L * 3600L * 1000000L // µs
      val pat = Pattern.begin[ViewEv]("view", _ => true).times(3).within(win)
      val evs = t(s, dir, "events")
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"))
        .as[ViewEv]
      evs.groupByKey(_.user_id)
        .flatMapSortedGroups($"us", $"event_id") { (_: Long, it: Iterator[ViewEv]) =>
          val (matches, _) = Matcher.foldAll(pat, it.map(e => (e.us, e)))
          matches.map(m => (m.head.user_id, m.head.event_id,
            m.last.event_id, m.head.t, m.last.t))
        }
        .toDF("user_id", "first_id", "last_id", "t_first", "t_last")
        .orderBy("user_id", "first_id")
    },
    Some("""WITH v AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
              lead(event_id, 2) OVER w AS id3,
              lead(epoch_us(ts), 2) OVER w AS us3,
              lead(ts, 2) OVER w AS ts3
              FROM events WHERE event_type = 'view'
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id AS first_id, id3 AS last_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS t_first,
                   strftime(ts3, '%Y-%m-%d %H:%M:%S') AS t_last
            FROM v
            WHERE us3 IS NOT NULL AND us3 - us < 172800000000
            ORDER BY user_id, first_id"""))

  case class TypedEv(event_id: Long, user_id: Long, us: Long,
      event_type: String, t: String)

  /** C4 — the NEGATION pattern surface (`notFollowedBy` trailing a
    * positive stage), hash-gated on real data: per user, a click with NO
    * purchase in the 15 minutes after it — the abandonment shape a
    * flink-cep user writes as
    * `begin(click).notFollowedBy(purchase).within(15m)`. The run arms at
    * the click and emits as a MATCH when the window closes (or at batch
    * flush — "the purchase never arrives" IS the negation holding); a
    * purchase strictly inside the window kills it. Boundary pins the
    * within() convention: at exactly +15m the window resolves FIRST, so
    * a purchase landing right on the boundary is too late and the click
    * still matches — which the oracle states as `p.us - c.us < 15m`
    * (strict). Within-timestamp ties follow the fold's (us, event_id)
    * sort: a same-microsecond purchase with a larger event_id is
    * "after" the click. Same one-shuffle flatMapSortedGroups shape as
    * c2 — state bounded by the clicks open inside one window. */
  val c4CepNegation = OpQuery(
    "c4_cep_negation",
    "clicks NOT followed by a purchase within 15min (CEP trailing negation)",
    (s, dir) => {
      import s.implicits._
      import graft.cep.{Matcher, Pattern}
      val win = 15L * 60L * 1000000L // µs
      val pat = Pattern.begin[TypedEv]("click", _.event_type == "click")
        .notFollowedBy("purchase", _.event_type == "purchase").within(win)
      val evs = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"))
        .as[TypedEv]
      evs.groupByKey(_.user_id)
        .flatMapSortedGroups($"us", $"event_id") { (_: Long, it: Iterator[TypedEv]) =>
          val (matches, _) = Matcher.foldAll(pat, it.map(e => (e.us, e)))
          matches.map(m => (m.head.event_id, m.head.user_id, m.head.t))
        }
        .toDF("event_id", "user_id", "click_time")
        .orderBy("event_id")
    },
    Some("""SELECT c.event_id, c.user_id,
            strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time
            FROM events c
            WHERE c.event_type = 'click'
              AND NOT EXISTS (
                SELECT 1 FROM events p
                WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                  AND (epoch_us(p.ts) > epoch_us(c.ts)
                       OR (epoch_us(p.ts) = epoch_us(c.ts)
                           AND p.event_id > c.event_id))
                  AND epoch_us(p.ts) - epoch_us(c.ts) < 900000000)
            ORDER BY event_id"""))

  /** C5 — the OPTIONAL stage surface (`optional()` on a trailing
    * followedBy), hash-gated on real data: per user, a signup optionally
    * followed by its first purchase within 30 minutes —
    * `begin(signup).followedBy(purchase).optional.within(30m)`. Every
    * signup is already a complete match (the remaining stage is
    * optional: n = 1 rows, emitted at the signup), and the run stays
    * open to grow: the FIRST purchase within the window (relaxed
    * contiguity = first matching event advances) extends it to the
    * n = 2 row. The oracle restates both branches: all signups UNION
    * the per-signup first purchase (row_number = 1 over (us, event_id))
    * with the same strict `< 30m` boundary. */
  val c5CepOptional = OpQuery(
    "c5_cep_optional",
    "signup optionally followed by first purchase within 30min (CEP optional)",
    (s, dir) => {
      import s.implicits._
      import graft.cep.{Matcher, Pattern}
      val win = 30L * 60L * 1000000L // µs
      val pat = Pattern.begin[TypedEv]("signup", _.event_type == "signup")
        .followedBy("purchase", _.event_type == "purchase").optional
        .within(win)
      val evs = t(s, dir, "events")
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"))
        .as[TypedEv]
      evs.groupByKey(_.user_id)
        .flatMapSortedGroups($"us", $"event_id") { (_: Long, it: Iterator[TypedEv]) =>
          val (matches, _) = Matcher.foldAll(pat, it.map(e => (e.us, e)))
          matches.map(m => (m.head.user_id, m.head.event_id,
            m.last.event_id, m.size.toLong))
        }
        .toDF("user_id", "first_id", "last_id", "n")
        .orderBy("user_id", "first_id", "n")
    },
    Some("""WITH s AS (SELECT event_id, user_id, epoch_us(ts) AS us
              FROM events WHERE event_type = 'signup'),
            p AS (SELECT event_id, user_id, epoch_us(ts) AS us
              FROM events WHERE event_type = 'purchase'),
            sp AS (SELECT s.user_id, s.event_id AS first_id,
                     p.event_id AS pay_id,
                     row_number() OVER (PARTITION BY s.event_id
                       ORDER BY p.us, p.event_id) AS rn
                   FROM s JOIN p ON p.user_id = s.user_id
                     AND (p.us > s.us
                          OR (p.us = s.us AND p.event_id > s.event_id))
                     AND p.us - s.us < 1800000000)
            SELECT user_id, event_id AS first_id,
                   CAST(event_id AS BIGINT) AS last_id, CAST(1 AS BIGINT) AS n
            FROM s
            UNION ALL
            SELECT user_id, first_id, pay_id AS last_id, CAST(2 AS BIGINT) AS n
            FROM sp WHERE rn = 1
            ORDER BY user_id, first_id, n"""))

  val all: Seq[OpQuery] =
    Seq(a5UvDedup, a6IsNewRepair, c1BounceDetect, c2CepGeneric, c3CepTimes,
      c4CepNegation, c5CepOptional)
}
