package graft.queries

import graft.SparkTestBase
import graft.cep.Pattern
import graft.streaming.dwm.UniqueVisit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** State boundedness under watermark eviction — the one 100× streaming
  * scale-killer RestartResilienceSpec does not cover (VERDICT r10 #4): a
  * stateful twin whose checkpointed state grows with INPUT rather than
  * with the active-key working set will OOM a real deployment long before
  * correctness matters. For each stateful topology the registry streams
  * (keyed seen-day dedup evicted at day end — also as the chain's
  * unique_visit —, stream-stream interval join, CEP trailing negation
  * with event-time timers), this spec drives ≥3
  * micro-batches of CONSTANT per-batch key volume with uniformly
  * advancing event time through the REAL factored transforms, reads
  * `lastProgress.stateOperators.numRowsTotal` after each batch, and
  * asserts the plateau: total state stays within the working-set band
  * (≤ 2 batches' worth — eviction may lag one no-data timer batch)
  * instead of accumulating every key ever seen. Reference analog: the
  * state TTL the reference configures at
  * RT/app/dwm/UniqueVisitApp.java:51-54.
  */
class StateBoundednessSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
  private def utc(iso: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  /** Stage `batches` as one parquet file each, feed them to a
    * maxFilesPerTrigger=1 file stream one at a time (mtimes force
    * definition order), and return the stateful operators' total state
    * rows observed after each batch's processAllAvailable (which also
    * quiesces the no-data timer batches the watermark advance triggers). */
  private def stateAfterEachBatch(schema: String, batches: Seq[DataFrame])(
      build: DataFrame => DataFrame): Seq[Long] = {
    val root = tmpDir()
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val staged = batches.zipWithIndex.map { case (df, i) =>
      val d = s"$root/stage/b$i"
      df.coalesce(1).write.parquet(d)
      val t0 = System.currentTimeMillis() - 3600000L + i * 60000L
      val dir = new java.io.File(d)
      dir.listFiles().foreach(_.setLastModified(t0))
      (i, dir)
    }
    val out = build(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in))
    val name = s"sb_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try staged.map { case (i, dir) =>
      dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = java.nio.file.Paths.get(in, s"b${i}_${f.getName}")
        java.nio.file.Files.copy(f.toPath, dst)
        dst.toFile.setLastModified(f.lastModified())
      }
      q.processAllAvailable()
      q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.numRowsTotal).sum
      }.getOrElse(0L)
    } finally q.stop()
  }

  private def assertPlateau(sizes: Seq[Long], perBatchKeys: Long,
      totalKeys: Long): Unit = {
    assert(sizes.size >= 4)
    // the working-set band: current batch's keys plus at most one batch
    // of eviction lag (timers fire in the no-data batch after the
    // watermark advance that arms them)
    assert(sizes.last <= 2 * perBatchKeys,
      s"state grew past the working set: $sizes (per-batch $perBatchKeys)")
    assert(sizes.max <= 2 * perBatchKeys,
      s"state peaked past the working set: $sizes")
    // and far below everything-ever-seen
    assert(sizes.last < totalKeys,
      s"state accumulated all $totalKeys keys: $sizes")
  }

  // the st_uv_dedup_stream twin's input to the one UV fold
  private def uvVisits(df: DataFrame) = df
    .select(col("user_id").cast("string").as("key"), col("ts"),
      col("event_id").as("tie"), lit(null).cast("string").as("value"))
    .withWatermark("ts", "0 seconds").as[UniqueVisit.Visit]

  test("uv-dedup TTL: seen-day state plateaus instead of growing with input") {
    // 4 batches × 10 fresh users, one day apart: every batch's day ends
    // before the next batch's watermark, so its state is evicted
    val batches = (0 until 4).map { i =>
      (0 until 10).map { u =>
        val id = i * 100L + u
        (id, id, utc(s"2021-06-0${i + 1}T12:00:00Z"))
      }.toDF("event_id", "user_id", "ts")
    }
    val sizes = stateAfterEachBatch(
      "event_id LONG, user_id LONG, ts TIMESTAMP", batches) { df =>
      UniqueVisit.firstPerDay(uvVisits(df)).toDF()
    }
    assertPlateau(sizes, perBatchKeys = 10L, totalKeys = 40L)
  }

  test("chain unique_visit: per-mid state plateaus at one day's visitors") {
    // the expression Warehouse.start launches as unique_visit, over 4
    // simulated days of entry pages at a constant rate: two batches a day
    // (06:00 and 18:00), 10 fresh mids each. A day's state is evicted by
    // the no-data batch after the first batch of the next day, so state
    // peaks at one day's 20 mids instead of accumulating all 80
    val batches = for (d <- 1 to 4; h <- Seq(6, 18)) yield
      (0 until 10).map { m =>
        val ts = utc(f"2021-06-$d%02dT$h%02d:00:00Z").getTime + m * 1000L
        s"""{"common":{"mid":"m$d-$h-$m","is_new":"0"},"page":{"page_id":"home","during_time":5},"ts":$ts}"""
      }.toDF("value")
    val sizes = stateAfterEachBatch("value STRING", batches) { df =>
      UniqueVisit.dedup(graft.io.KafkaTopology.parsePageLog(df))
    }
    info(s"state rows after each batch: ${sizes.mkString(", ")}")
    assert(sizes.size == 8)
    assert(sizes.max <= 20L, s"state grew past one day's mids: $sizes")
    assert(sizes.last < 80L, s"state accumulated every mid: $sizes")
  }

  test("interval join: buffered rows evict once the watermark clears the bounds") {
    // 4 batches × (5 purchases + 5 signups) one hour apart; the join
    // window is −15 min/+5 s, so each batch's buffered rows are
    // evictable as soon as the next batch's watermark lands
    val batches = (0 until 4).map { i =>
      val base = (i + 1) * 3600L
      val users = (0 until 5).map(u => i * 10L + u)
      (users.map(u => (u * 2, u, ts(base), "purchase")) ++
        users.map(u => (u * 2 + 1, u, ts(base + 1), "signup")))
        .toDF("event_id", "user_id", "ts", "event_type")
    }
    val sizes = stateAfterEachBatch(
      "event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING",
      batches) { df =>
      val pay = df.filter($"event_type" === "purchase")
        .select($"event_id".as("pay_id"), $"user_id".as("pay_user"),
          $"ts".as("pay_ts"))
        .withWatermark("pay_ts", "5 seconds")
      val ord = df.filter($"event_type" === "signup")
        .select($"event_id".as("ord_id"), $"user_id".as("ord_user"),
          $"ts".as("ord_ts"))
        .withWatermark("ord_ts", "5 seconds")
      pay.join(ord,
        $"pay_user" === $"ord_user" &&
          $"ord_ts".between(
            $"pay_ts" - expr("INTERVAL 15 MINUTES"),
            $"pay_ts" + expr("INTERVAL 5 SECONDS")))
        .select($"pay_id", $"ord_id", $"pay_user".as("user_id"))
    }
    assertPlateau(sizes, perBatchKeys = 10L, totalKeys = 40L)
  }

  test("CEP negation: open runs evict when their window-close timers fire") {
    // 4 batches × 10 clicks (no purchases ever), 1000 s apart, window
    // 100 s: every batch's open runs time out — emitting their matches —
    // before the next batch's arrive
    val win = 100L * 1000000L
    val pat = Pattern
      .begin[StreamingOps.CepNegEv]("click", _.event_type == "click")
      .notFollowedBy("purchase", _.event_type == "purchase").within(win)
    val batches = (0 until 4).map { i =>
      (0 until 10).map { u =>
        val id = i * 100L + u
        val sec = (i + 1) * 1000L
        (id, id, sec * 1000000L, "click", f"t$id", ts(sec))
      }.toDF("event_id", "user_id", "us", "event_type", "t", "ts")
    }
    val sizes = stateAfterEachBatch(
      "event_id LONG, user_id LONG, us LONG, event_type STRING, t STRING, ts TIMESTAMP",
      batches) { df =>
      StreamingOps.cepByUser(
        df.withWatermark("ts", "0 seconds").as[StreamingOps.CepNegEv],
        pat, timers = true)(m => (m.head.event_id, m.head.user_id, m.head.t))
        .toDF("event_id", "user_id", "click_time")
    }
    assertPlateau(sizes, perBatchKeys = 10L, totalKeys = 40L)
  }

  test("trend-decay complete-mode state is key-bounded, not input-bounded") {
    // the new stateful shape of round 12: a complete-mode grouped sum
    // holds one state row per DISTINCT item, CONSTANT while keys repeat —
    // 4 batches × the same 10 items (40 input rows) must hold exactly 10
    // state rows throughout, driving the REAL AggOps.trendDecayAgg (the
    // scaladoc's bounded-key contract; unbounded key spaces route to
    // st_cms_heavy_hitters_stream instead)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = AggOps.trendDecayAgg(
      ms.toDF().toDF("item", "ts"), lit(5000L * 1000000L))
    val name = s"sb_trend_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    val sizes = try (0 until 4).map { i =>
      ms.addData((0L until 10L).map(k => (k, ts((i + 1) * 1000L))): _*)
      q.processAllAvailable()
      q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.numRowsTotal).sum
      }.getOrElse(0L)
    } finally q.stop()
    assert(sizes == Seq(10L, 10L, 10L, 10L), s"state rows: $sizes")
    // and the final answer matches the batch run over the union
    val out = spark.table(name)
    assert(out.count() == 10L)
    assert(out.agg(sum($"ct")).as[Long].head() == 40L)
  }

  test("cusum/monitor state is reorder-window-bounded, not input-bounded") {
    // the round-15 monitoring twins run on the watermark-ordered fold
    // (graft.streaming.WatermarkFold): state = per-key accumulators PLUS
    // the reorder buffer of rows the watermark has not yet released. The
    // boundedness contract is therefore BY KEY CARDINALITY + ONE
    // watermark window of in-flight rows — never by cumulative input:
    // across 4 equal 250-row batches (cumulative input 250 → 1,000) the
    // post-batch state footprint must hit a STEADY STATE (folded rows
    // purge, buffered rows bounded by one batch's span), not grow with
    // the total rows seen
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    StreamingOps.withRocksDB(spark) {
      for ((nm, step) <- Seq[(String, graft.streaming.WatermarkFold.Step)](
        ("cusum", StreamingOps.cusumFoldStep(tgt = 5000L)),
        ("monitor", StreamingOps.monitorFoldStep))) {
        val ms = MemoryStream[(Long, Long, String, Long, Long, java.sql.Timestamp)]
        val typed = ms.toDF()
          .toDF("event_id", "user_id", "sub", "us", "c", "ts")
          .withWatermark("ts", "0 seconds")
          .as[graft.streaming.WatermarkFold.FoldEv]
        val out = graft.streaming.WatermarkFold(typed, step)
        val name = s"sb_${nm}_${System.nanoTime()}"
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        val sizes = try (0 until 4).map { i =>
          ms.addData((0 until 250).map { j =>
            val id = i * 1000L + j
            val us = id * 1000000L
            (id, j % 10L, "", us, (id % 300L) * 100L,
              new java.sql.Timestamp(us / 1000L))
          }: _*)
          q.processAllAvailable()
          q.recentProgress.reverse.collectFirst {
            case p if p.stateOperators.nonEmpty =>
              p.stateOperators.map(_.numRowsTotal).sum
          }.getOrElse(0L)
        } finally q.stop()
        // steady state from batch 2 on (batch 1 has no prior watermark so
        // nothing folds yet); identical batch sizes => identical footprint
        assert(sizes.drop(1).distinct.size == 1,
          s"$nm state must reach a steady state across equal batches: $sizes")
        assert(sizes.max < 1000L,
          s"$nm state footprint tracked cumulative input: $sizes")
      }
    }
  }

  test("scd2 keyed state is dim-key-bounded: one open version per key") {
    // the SCD2 build's state is the OPEN version only — closed versions
    // leave through the sink, so state rows = dim-key cardinality no
    // matter how many change records flow: 4 batches × 10 keys × 25
    // changes per key per batch must hold exactly 10 state rows
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, Long)]
    val out = StreamingOps.scd2Transform(
      ms.toDF().toDF("event_id", "user_id", "us", "c").as[StreamingOps.EwEv])
    val name = s"sb_scd2_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val sizes = try (0 until 4).map { i =>
      ms.addData((0 until 250).map { j =>
        val id = i * 1000L + j
        (id, j % 10L, id * 1000000L, (id % 300L) * 100L)
      }: _*)
      q.processAllAvailable()
      q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.numRowsTotal).sum
      }.getOrElse(0L)
    } finally q.stop()
    assert(sizes == Seq(10L, 10L, 10L, 10L), s"scd2 state rows: $sizes")
    // and the emitted history is everything but the 10 open versions
    assert(spark.table(name).count() == 990L)
  }
}
