package graft.queries

import graft.SparkTestBase
import graft.ads.Behavior
import graft.cep.Pattern
import graft.streaming.dwm.UniqueVisit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Restart resilience for the stateful streaming twins — the exactly-once
  * story the reference only gestures at with its commented-out
  * checkpointing (RT/app/dwm/UserJumpDetailApp.java:36-44 sets, then
  * abandons, an HDFS checkpoint): each REAL registry state machine (the
  * factored transforms the st_* queries execute) is killed after batch 1
  * of ≥2, restarted from its checkpoint onto a durable sink, and the
  * total output must equal the uninterrupted run's — state, watermark and
  * event-time TIMERS all resume from the checkpoint, and the sink's
  * committed batch log suppresses re-emission of batch 1.
  *
  * Seven twins parameterize one runner: uv-dedup (seen-day state, with
  * a second restart across a day-end eviction),
  * cep-times (open NFA runs), cep-negation (runs + event-time timers —
  * the timer recovery case), cep-optional (emitted-run growth),
  * attribution (carry-forward last touch), funnel (stage cascade),
  * retention (cohort first-sightings).
  */
class RestartResilienceSpec extends SparkTestBase {
  import spark.implicits._

  private case class RCase(
      name: String,
      batches: Seq[() => DataFrame],        // bean-shaped rows per batch
      build: String => DataFrame,           // input dir → streaming output
      rocksDb: Boolean = false,             // transformWithState contract
      stops: Seq[Int] = Seq(1),             // run B stops after these batches
      expected: Seq[String] = Nil)          // rowsOf output, when pinned

  private def beanStream(inDir: String, schema: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

  /** Write each batch to a staging dir with strictly increasing mtimes so
    * the file source's modified-time ordering replays them as batches in
    * definition order. */
  private def stage(root: String, batches: Seq[() => DataFrame]): Seq[java.io.File] =
    batches.zipWithIndex.map { case (mk, i) =>
      val d = s"$root/stage/b$i"
      mk().coalesce(1).write.parquet(d)
      val t0 = System.currentTimeMillis() - 3600000L + i * 60000L
      val dir = new java.io.File(d)
      dir.listFiles().foreach(_.setLastModified(t0))
      dir
    }

  private def copyIn(stageDir: java.io.File, inDir: String): Unit = {
    new java.io.File(inDir).mkdirs()
    stageDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val dst = java.nio.file.Paths.get(inDir, s"${stageDir.getName}_${f.getName}")
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(f.lastModified())
    }
  }

  private def runToParquet(out: DataFrame, path: String, ck: String): Unit = {
    val q = out.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", ck)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  private def rowsOf(path: String): Seq[String] =
    spark.read.parquet(path).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
  private def utc(iso: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  private val negPat = Pattern
    .begin[StreamingOps.CepNegEv]("click", _.event_type == "click")
    .notFollowedBy("purchase", _.event_type == "purchase")
    .within(100L * 1000000L)
  private val optPat = Pattern
    .begin[StreamingOps.CepNegEv]("signup", _.event_type == "signup")
    .followedBy("purchase", _.event_type == "purchase").optional
    .within(100L * 1000000L)
  private val timesPat = Pattern
    .begin[StreamingOps.CepNegEv]("v", _ => true).times(3)
    .within(1000L * 1000000L)

  private val foldCols =
    Seq("event_id", "user_id", "sub", "us", "c", "ts")
  /** All fold-case event times sit a day past the epoch (the +DayUs):
    * Spark's inclusive late filter drops eventTime <= watermark, and the
    * initial watermark is 0 — a t=0 fixture row would silently vanish. */
  private val DayUs = 86400000000L
  private def foldEv(id: Long, user: Long, sub: String, us: Long, c: Long) =
    (id, user, sub, us + DayUs, c, new java.sql.Timestamp((us + DayUs) / 1000L))
  private def wmFoldBuild(step: graft.streaming.WatermarkFold.Step)
      (in: String): DataFrame =
    graft.streaming.WatermarkFold(
      beanStream(in,
        "event_id LONG, user_id LONG, sub STRING, us LONG, c LONG, ts TIMESTAMP")
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.WatermarkFold.FoldEv], step)
      .filter(col("user_id") >= 0L)

  private def negEv(sec: Long, id: Long, user: Long, typ: String) =
    (id, user, sec * 1000000L, typ, f"t$id", ts(sec))
  private val negSchema =
    "event_id LONG, user_id LONG, us LONG, event_type STRING, t STRING, ts TIMESTAMP"

  private val cases = Seq(
    // run B also stops after batch 2, once the no-data batch has evicted
    // 2021-06-01 (user 30's state goes whole); after that restart user
    // 30's late 06-01 row must be dropped by the watermark, not emitted
    // as a second first visit. User 20's tied 06-02 rows pin the
    // (ts, event_id) order.
    RCase("uv_dedup",
      Seq(
        () => Seq((1L, 10L, utc("2021-06-01T10:00:00Z")),
          (2L, 10L, utc("2021-06-01T11:00:00Z")),
          (3L, 20L, utc("2021-06-01T12:00:00Z")),
          (4L, 30L, utc("2021-06-01T13:00:00Z")))
          .toDF("event_id", "user_id", "ts"),
        () => Seq((5L, 10L, utc("2021-06-02T01:00:00Z")),
          (7L, 20L, utc("2021-06-02T02:00:00Z")),
          (6L, 20L, utc("2021-06-02T02:00:00Z")))
          .toDF("event_id", "user_id", "ts"),
        () => Seq((8L, 30L, utc("2021-06-01T23:00:00Z")),
          (9L, 10L, utc("2021-06-02T03:00:00Z")),
          (10L, 40L, utc("2021-06-02T04:00:00Z")))
          .toDF("event_id", "user_id", "ts")),
      in => UniqueVisit.firstPerDay(
        beanStream(in, "event_id LONG, user_id LONG, ts TIMESTAMP")
          .select(col("user_id").cast("string").as("key"), col("ts"),
            col("event_id").as("tie"), lit(null).cast("string").as("value"))
          .withWatermark("ts", "0 seconds").as[UniqueVisit.Visit])
        .select(col("key").cast("long").as("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("dt"),
          col("tie").as("event_id")),
      stops = Seq(1, 2),
      expected = Seq("10|2021-06-01|1", "10|2021-06-02|5", "20|2021-06-01|3",
        "20|2021-06-02|6", "30|2021-06-01|4", "40|2021-06-02|10")),
    RCase("cep_times",
      Seq(
        () => Seq(negEv(1L, 1L, 1L, "view"), negEv(2L, 2L, 1L, "view"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts"),
        () => Seq(negEv(3L, 3L, 1L, "view"), negEv(4L, 4L, 1L, "view"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts")),
      in => StreamingOps.cepByUser(
        beanStream(in, negSchema).as[StreamingOps.CepNegEv], timesPat,
        timers = false)(m => (m.head.user_id, m.head.event_id,
          m.last.event_id, m.head.t, m.last.t))
        .toDF("user_id", "first_id", "last_id", "t_first", "t_last")),
    RCase("cep_negation",
      Seq(
        // u1 click arms; u2 click arms
        () => Seq(negEv(10L, 100L, 1L, "click"), negEv(20L, 200L, 2L, "click"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts"),
        // u1's purchase kills; watermark advances
        () => Seq(negEv(50L, 101L, 1L, "purchase"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts"),
        // sentinel far past u2's close → u2's TIMER fires post-restart
        () => Seq(negEv(500L, 999L, 99L, "purchase"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts")),
      in => StreamingOps.cepByUser(
        beanStream(in, negSchema).withWatermark("ts", "0 seconds")
          .as[StreamingOps.CepNegEv], negPat, timers = true)(m =>
          (m.head.event_id, m.head.user_id, m.head.t))
        .toDF("event_id", "user_id", "click_time")),
    RCase("cep_optional",
      Seq(
        () => Seq(negEv(10L, 100L, 1L, "signup"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts"),
        () => Seq(negEv(50L, 101L, 1L, "purchase"))
          .toDF("event_id", "user_id", "us", "event_type", "t", "ts")),
      in => StreamingOps.cepByUser(
        beanStream(in, negSchema).as[StreamingOps.CepNegEv], optPat,
        timers = false)(m => (m.head.user_id, m.head.event_id,
          m.last.event_id, m.size.toLong))
        .toDF("user_id", "first_id", "last_id", "n")),
    RCase("attribution",
      Seq(
        () => Seq((1L, 1L, 1000000L, "view", 0.0, "d1"))
          .toDF("event_id", "user_id", "us", "event_type", "value", "dt"),
        () => Seq((2L, 1L, 2000000L, "purchase", 9.5, "d1"),
          (3L, 1L, 3000000L, "click", 0.0, "d1"),
          (4L, 1L, 4000000L, "purchase", 1.5, "d1"))
          .toDF("event_id", "user_id", "us", "event_type", "value", "dt")),
      in => StreamingOps.attributionTransform(
        beanStream(in,
          "event_id LONG, user_id LONG, us LONG, event_type STRING, value DOUBLE, dt STRING")
          .as[StreamingOps.AttrEv])),
    RCase("funnel",
      Seq(
        () => Seq((1L, 1L, 1000000L, "view"))
          .toDF("event_id", "user_id", "usec", "et"),
        () => Seq((2L, 1L, 2000000L, "click"), (3L, 1L, 3000000L, "purchase"))
          .toDF("event_id", "user_id", "usec", "et")),
      in => {
        val typed = beanStream(in,
          "event_id LONG, user_id LONG, usec LONG, et STRING")
          .as[Behavior.FunnelEv]
        typed.groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
            Behavior.funnelAdvance(Vector("view", "click", "purchase"),
              86400L * 1000000L) _)
          .toDF("uid", "stage_idx")
      }),
    // the five monitoring folds run on the production reorder buffer
    // (graft.streaming.WatermarkFold): rows buffer in RocksDB-backed
    // MapState and fold on event-time timers, so the kill/restart must
    // ALSO recover the buffered-but-unfolded tail and the armed timer —
    // strictly more state surface than the old heap-sorted transforms.
    // Each case ends with a far-future sentinel batch that advances the
    // watermark past the last real row (append-mode emission contract).
    RCase("debounce",
      Seq(
        // batch 1: u1/click at t=100s — kept once folded, state
        // lastUs=100s; under the wm fold it is still BUFFERED at kill
        // time (watermark has not passed it), so the restart must
        // recover the pending buffer itself
        () => Seq(foldEv(1L, 1L, "click", 100000000L, 0L)).toDF(foldCols: _*),
        // batch 2 (post-restart): t=130s within the 60s gap of the
        // pre-kill event (must drop — buffer loss would keep it), then
        // t=200s clears the gap (kept)
        () => Seq(foldEv(2L, 1L, "click", 130000000L, 0L),
          foldEv(3L, 1L, "click", 200000000L, 0L)).toDF(foldCols: _*),
        () => Seq(foldEv(-1L, -1L, "", 800000000000L, 0L)).toDF(foldCols: _*)),
      wmFoldBuild(StreamingOps.debounceStep(gapUs = 60000000L,
        keptOnly = false)),
      rocksDb = true),
    RCase("ratelimit",
      Seq(
        // batch 1: u1/click at t=0 — kept once folded, lastKept=0
        () => Seq(foldEv(1L, 1L, "click", 0L, 0L)).toDF(foldCols: _*),
        // batch 2 (post-restart): t=30s drops against the pre-kill kept
        // event (state loss would keep it as a first event); t=60s keeps
        // against lastKept=0 — under previous-EVENT state (the debounce
        // contract) the reference would be t=30s and 60s would DROP, so
        // this batch also discriminates the keptOnly state machine across
        // the restart; t=90s drops against the new lastKept=60s
        () => Seq(foldEv(2L, 1L, "click", 30000000L, 0L),
          foldEv(3L, 1L, "click", 60000000L, 0L),
          foldEv(4L, 1L, "click", 90000000L, 0L)).toDF(foldCols: _*),
        () => Seq(foldEv(-1L, -1L, "", 800000000000L, 0L)).toDF(foldCols: _*)),
      wmFoldBuild(StreamingOps.debounceStep(gapUs = 60000000L,
        keptOnly = true)),
      rocksDb = true),
    RCase("ewma",
      Seq(
        // batch 1: u1 value 100 cents at t=1s — reading 100, state s=100
        () => Seq(foldEv(1L, 1L, "", 1000000L, 100L)).toDF(foldCols: _*),
        // batch 2 (post-restart): value 50 must smooth against the
        // PRE-KILL state (floor((50+100)/2)=75); a cold start would
        // emit 50, so the value itself discriminates state recovery
        () => Seq(foldEv(2L, 1L, "", 2000000L, 50L)).toDF(foldCols: _*),
        () => Seq(foldEv(-1L, -1L, "", 800000000000L, 0L)).toDF(foldCols: _*)),
      wmFoldBuild(StreamingOps.ewmaStep(den = 2L)),
      rocksDb = true),
    RCase("cusum",
      Seq(
        // batch 1: c=15000 vs tgt=5000, K=1000 → gp accumulates
        // 15000−6000 = 9000, below the 20000 threshold — state gp=9000
        () => Seq(foldEv(1L, 1L, "", 1000000L, 15000L)).toDF(foldCols: _*),
        // batch 2 (post-restart): c=18000 adds 12000 → gpRaw=21000 ≥ H,
        // ALARM — a cold start would sit at 12000 and stay silent, so
        // the alarm itself discriminates recovery of the PRE-KILL
        // accumulator
        () => Seq(foldEv(2L, 1L, "", 2000000L, 18000L)).toDF(foldCols: _*),
        () => Seq(foldEv(-1L, -1L, "", 800000000000L, 0L)).toDF(foldCols: _*)),
      wmFoldBuild(StreamingOps.cusumFoldStep(tgt = 5000L)),
      rocksDb = true),
    RCase("monitor",
      Seq(
        // batch 1: seed reading 10000, then 20000 spikes (|Δ|≥5000) and
        // ALERTS (first spike per key) — state after batch: s=15000,
        // lastAlert=2000s
        () => Seq(foldEv(1L, 1L, "", 1000000000L, 10000L),
          foldEv(2L, 1L, "", 2000000000L, 20000L)).toDF(foldCols: _*),
        // batch 2 (post-restart): 25000 at t=3000s spikes but sits
        // INSIDE the 7-day gap of the PRE-KILL alert — must be
        // SUPPRESSED (a lost lastAlert would page again); 40000 one
        // microsecond past the gap must alert, and its suppression
        // decision also depends on the recovered smoothed value
        () => Seq(foldEv(3L, 1L, "", 3000000000L, 25000L),
          foldEv(4L, 1L, "", 606800000001L, 40000L)).toDF(foldCols: _*),
        () => Seq(foldEv(-1L, -1L, "", 800000000000L, 0L)).toDF(foldCols: _*)),
      wmFoldBuild(StreamingOps.monitorFoldStep),
      rocksDb = true),
    RCase("scd2",
      Seq(
        // batch 1: u1's first dim version opens (nothing emitted — the
        // open version is pure state: ver=1, id=1, from=1s, c=100)
        () => Seq((1L, 1L, 1000000L, 100L))
          .toDF("event_id", "user_id", "us", "c"),
        // batch 2 (post-restart): the next change must CLOSE the
        // PRE-KILL open version (emitting version 1 at all discriminates
        // state recovery — a cold start has nothing to close), and the
        // third change closes version 2 — whose NUMBER (2, not 1)
        // discriminates recovery of the version counter itself
        () => Seq((2L, 1L, 2000000L, 200L), (3L, 1L, 3000000L, 300L))
          .toDF("event_id", "user_id", "us", "c")),
      in => StreamingOps.scd2Transform(
        beanStream(in, "event_id LONG, user_id LONG, us LONG, c LONG")
          .as[StreamingOps.EwEv])),
    RCase("retention",
      Seq(
        () => Seq((1L, 100L)).toDF("user_id", "epochDay"),
        () => Seq((1L, 101L), (1L, 100L), (2L, 101L))
          .toDF("user_id", "epochDay")),
      in => {
        val typed = beanStream(in, "user_id LONG, epochDay LONG")
          .as[Behavior.VisitEv]
        typed.groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
            Behavior.retentionAdvance _)
          .toDF("uid", "cohortEpoch", "dayEpoch")
      }))

  private def runCase(rc: RCase): Unit = {
    if (rc.rocksDb) { StreamingOps.withRocksDB(spark)(runCaseBody(rc)); return }
    runCaseBody(rc)
  }

  private def runCaseBody(rc: RCase): Unit = {
    val root = tmpDir()
    val staged = stage(root, rc.batches)

    // uninterrupted baseline: all files present from the start
    staged.foreach(copyIn(_, s"$root/inA"))
    runToParquet(rc.build(s"$root/inA"), s"$root/outA", s"$root/ckA")

    // interrupted run: the batches up to each stop, graceful-stop "kill",
    // then the next files land and the query restarts from its checkpoint
    (0 +: rc.stops).zip(rc.stops :+ staged.size).foreach { case (from, to) =>
      staged.slice(from, to).foreach(copyIn(_, s"$root/inB"))
      runToParquet(rc.build(s"$root/inB"), s"$root/outB", s"$root/ckB")
    }

    val a = rowsOf(s"$root/outA")
    val b = rowsOf(s"$root/outB")
    assert(a.nonEmpty, s"${rc.name}: baseline produced no rows")
    assert(a == b, s"${rc.name}: restart diverged\nA=$a\nB=$b")
    if (rc.expected.nonEmpty)
      assert(b == rc.expected, s"${rc.name}: restarted run emitted $b")
  }

  for (rc <- cases)
    test(s"${rc.name}: kill after batch 1, restart from checkpoint ≡ uninterrupted") {
      runCase(rc)
    }

  test("cep_negation restarts from a RocksDB checkpoint (timers + changelog)") {
    // the production state backend: open NFA runs AND their event-time
    // timeout timestamps live in RocksDB with changelog checkpointing;
    // the kill/restart must recover both (a lost timer would silently
    // swallow the window-close match)
    graft.streaming.Runner.useRocksDBStateStore(spark)
    try runCase(cases.find(_.name == "cep_negation").get)
    finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("trend_decay: complete-mode sums resume from the checkpoint, not restart") {
    // the round-12 stateful shape: a complete-mode grouped sum snapshot
    // (foreachBatch overwrite — the production trend-board sink). The
    // kill/restart must resume the per-item SUMS from checkpointed state:
    // a state loss would under-count item 1 (seen in both batches) while
    // still producing rows — exactly the silent failure rowsOf equality
    // catches against the uninterrupted baseline.
    val root = tmpDir()
    val batches = Seq(
      () => Seq((1L, ts(1000L)), (2L, ts(2000L))).toDF("item", "ts"),
      () => Seq((1L, ts(3000L)), (3L, ts(1000L))).toDF("item", "ts"))
    val staged = stage(root, batches)
    def build(in: String) = AggOps.trendDecayAgg(
      beanStream(in, "item LONG, ts TIMESTAMP"), lit(5000L * 1000000L))
    def runOnce(in: String, out: String, ck: String): Unit = {
      val q = build(in).writeStream
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ck)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("overwrite").parquet(out) }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    staged.foreach(copyIn(_, s"$root/inA"))
    runOnce(s"$root/inA", s"$root/outA", s"$root/ckA")
    copyIn(staged.head, s"$root/inB")
    runOnce(s"$root/inB", s"$root/outB", s"$root/ckB")
    staged.tail.foreach(copyIn(_, s"$root/inB"))
    runOnce(s"$root/inB", s"$root/outB", s"$root/ckB")
    val a = rowsOf(s"$root/outA")
    val b = rowsOf(s"$root/outB")
    assert(a.nonEmpty && a == b, s"trend restart diverged\nA=$a\nB=$b")
    // the cross-restart accumulation, explicitly: item 1's count spans
    // the pre-kill and post-restart batches
    val ct1 = spark.read.parquet(s"$root/outB")
      .filter(col("item") === 1L).select("ct").collect()(0).getLong(0)
    assert(ct1 == 2L, s"item 1 counted $ct1 (state lost on restart?)")
  }
}
