package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    val drained = q.awaitTermination(120000)
    if (!drained) q.stop()
    assert(drained, "AvailableNow drain did not finish within 120 s")
  }

  test("streaming daily merge classifies a delta identically to the " +
    "batch merge") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.table(spark, dir, "documents")
    val state = graft.operators.Dedup
      .corpusDedupState(docs.filter(col("doc_id") % 5 =!= 0))
      .localCheckpoint()
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-merge-stream").toString
    // one file → one micro-batch → each doc's aggregate emits exactly
    // once (production sinks upsert on doc_id via foreachBatch instead)
    delta.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(delta.schema).parquet(tmp)
    runToMemory(EventStreams.mergeStream(stream, state),
      "merge_stream_out", "update")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))
    val got = spark.table("merge_stream_out").collect().map(key).toSet
    val want = graft.operators.Dedup.mergeCorpusDay(state, delta)
      .collect().map(key).toSet
    assert(got == want,
      s"stream and batch merge disagree: stream-only=${got -- want}, " +
        s"batch-only=${want -- got}")
    assert(want.nonEmpty && want.exists(_._2 != "new"),
      "fixture must exercise dup classification, not just 'new'")
  }

  test("mergeStreamDay (the declared drain-then-read form) equals the " +
    "batch merge row-for-row") {
    val dir = "/root/testdata/sf0.001"
    val got = EventStreams.mergeStreamDay(spark, dir)
      .collect().map(_.toSeq).toSet
    val docs = Tables.table(spark, dir, "documents")
    val want = graft.operators.Dedup.mergeCorpusDay(
      graft.operators.Dedup
        .corpusDedupState(docs.filter(col("doc_id") % 5 =!= 0)),
      docs.filter(col("doc_id") % 5 === 0), minJaccard = 0.5)
      .collect().map(_.toSeq).toSet
    assert(got == want,
      s"declared streaming merge diverged: stream-only=${got -- want}, " +
        s"batch-only=${want -- got}")
    assert(want.exists(_(1) != "new"),
      "fixture must exercise dup classification, not just 'new'")
  }

  test("streaming candles match the batch candle derivation") {
    val dir = "/root/testdata/sf0.001"
    val stream = EventStreams.candleStream(
      EventStreams.eventsStream(spark, dir))
    // complete-equivalent: append emits only below-watermark windows, so
    // compare on the common (closed) prefix
    runToMemory(stream, "stream_candles", "append")
    val streamed = spark.table("stream_candles")
    val batch = Tables.candles(spark, dir)
    val joined = streamed.alias("s")
      .join(batch.alias("b"), Seq("symbol", "ts"))
      .filter(col("s.open") === col("b.open") &&
        col("s.high") === col("b.high") && col("s.low") === col("b.low") &&
        col("s.close") === col("b.close") &&
        col("s.volume") === col("b.volume"))
    val n = streamed.count()
    assert(n > 100, s"expected a substantial closed-window prefix, got $n")
    assert(joined.count() == n, "every emitted candle must match batch")
  }

  test("streamCandles (the declared drain-then-read form) equals the " +
    "batch candle derivation bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val got = EventStreams.streamCandles(spark, dir)
      .collect().map(_.toSeq).toSet
    val want = Tables.candles(spark, dir).collect().map(_.toSeq).toSet
    assert(got == want,
      s"declared streaming candles diverged: stream-only=${got -- want}, " +
        s"batch-only=${want -- got}")
    // update-mode last-emission dedup must recover EVERY window, not
    // just the watermark-closed prefix the append test settles for
    assert(want.size > 100, s"fixture too small: ${want.size} candles")
    // the drain reuses ONE deterministic run root per (query, corpus),
    // wiped at the start of each call — a second drain must rebuild a
    // fresh checkpoint + sink and reproduce the same answer, not replay
    // a stale one (the consume-before-next-drain contract Bench/Verify
    // run under)
    val again = EventStreams.streamCandles(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(again == want, "second drain over the reused run root diverged")
  }

  test("eventsStream serves all three source layouts: single-file table, " +
    "Spark-written table directory, bare drop-folder") {
    val sfDir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    val n = batch.count()
    def drained(dir: String, name: String): Long = {
      runToMemory(EventStreams.eventsStream(spark, dir)
        .select(col("event_id")), name, "append")
      spark.table(name).count()
    }
    // 1. driver layout: dir/events.parquet is a single FILE — the stream
    // must scope its listing to it (other tables' parquet in the same
    // dir would otherwise surface as all-null events rows)
    assert(drained(sfDir, "evsrc_file") == n)
    // 2. Spark-written layout: dir/events.parquet is a DIRECTORY of part
    // files (a leaf-name glob would list zero of them)
    val asDir = java.nio.file.Files
      .createTempDirectory("graft-evdir").toString
    batch.repartition(3).write.mode("overwrite")
      .parquet(s"$asDir/events.parquet")
    assert(drained(asDir, "evsrc_dir") == n)
    // 3. drop-folder: bare part files, no events.parquet entry at all
    val drop = java.nio.file.Files
      .createTempDirectory("graft-evdrop").toString
    batch.repartition(2).write.mode("overwrite").parquet(drop)
    // Spark leaves _SUCCESS etc. alongside; the stream must still read
    // only parquet data files
    assert(drained(drop, "evsrc_drop") == n)
  }

  test("sliding window emits overlapping per-symbol aggregates") {
    val dir = "/root/testdata/sf0.001"
    runToMemory(
      EventStreams.slidingMean(EventStreams.eventsStream(spark, dir)),
      "stream_sliding", "append")
    val rows = spark.table("stream_sliding")
    assert(rows.count() > 100)
    // hourly slide of a 2h window -> consecutive windows share events:
    // per symbol, #windows must exceed #distinct hours with events - 1
    val perSym = rows.groupBy("symbol").count().collect()
    assert(perSym.nonEmpty && perSym.forall(_.getLong(1) > 100))
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val dir = "/root/testdata/sf0.001"
    // replay the same parquet twice by unioning the stream with itself:
    // easier — duplicate via a projection union in one batch is not
    // possible on a stream; instead run dedup over the (already unique)
    // events and assert count parity, then unit-drive duplicates through
    // a MemoryStream
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)](spark)
    val base = 1704067200000L
    val rows = Seq(
      (1L, new java.sql.Timestamp(base)),
      (2L, new java.sql.Timestamp(base + 60000)),
      (1L, new java.sql.Timestamp(base)), // duplicate id in same batch
      (3L, new java.sql.Timestamp(base + 120000)))
    ms.addData(rows.take(3))
    val dedup = EventStreams.dedupStream(
      ms.toDF().toDF("event_id", "ts"), "1 hour")
    val q = dedup.writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    q.processAllAvailable()
    ms.addData(rows.drop(3) :+ ((2L, new java.sql.Timestamp(base + 60000)))) // dup across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("stream_dedup").collect()
      .map(_.getAs[Long]("event_id")).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("streamDedup (the declared drain-then-read form) returns the " +
    "duplicate-free events table exactly") {
    val dir = "/root/testdata/sf0.001"
    val got = EventStreams.streamDedup(spark, dir)
    val ev = Tables.table(spark, dir, "events")
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    // row-for-row: planted duplicates (in-slice copies AND the
    // cross-batch redelivery file) must all be dropped, nothing else
    assert(got.count() == ev.count(),
      "drained dedup must emit each event exactly once")
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty,
      "drained dedup output must equal the duplicate-free events table")
  }

  test("watermark drops late rows from a closed window (append semantics)") {
    // the 100 TB correctness contract for unbounded streams: once the
    // watermark passes a window's end, the window emits EXACTLY ONCE and
    // later-arriving rows for it are dropped — state stays bounded and
    // emitted results are immutable (no silent retraction downstream)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val base = 1704067200000L
    def ts(off: Long) = new java.sql.Timestamp(base + off)
    val agg = ms.toDF().toDF("symbol", "ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(col("symbol"), window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_drop").start()
    ms.addData(Seq(("a", ts(0), 1.0), ("a", ts(60000), 2.0)))
    q.processAllAvailable()
    // advance event time 3h → watermark 2h, far past the first window
    ms.addData(Seq(("a", ts(3L * 3600 * 1000), 10.0)))
    q.processAllAvailable()
    // a LATE row into the (now closed) first window: must be dropped
    ms.addData(Seq(("a", ts(120000), 100.0)))
    q.processAllAvailable()
    q.stop()
    val w0 = spark.table("late_drop")
      .filter(col("window.start") === ts(0)).collect()
    assert(w0.length == 1, "closed window must emit exactly once")
    assert(w0(0).getAs[Long]("n") == 2 && w0(0).getAs[Double]("v") == 3.0,
      "the late row must not appear in the closed window's aggregate")
  }

  test("streaming session windows match the batch session_window aggregate") {
    val dir = "/root/testdata/sf0.001"
    runToMemory(
      EventStreams.sessionStream(EventStreams.eventsStream(spark, dir)),
      "stream_sessions", "append")
    val streamed = spark.table("stream_sessions")
    val batch = operators.TimeSeriesOps.sessionWindowAgg(
      Tables.table(spark, dir, "events"), 30)
    // append emits only sessions closed below the final watermark — every
    // emitted session must match the batch result exactly
    val joined = streamed.alias("s")
      .join(batch.alias("b"), Seq("user_id", "session_start"))
      .filter(col("s.session_end") === col("b.session_end") &&
        col("s.n_events") === col("b.n_events") &&
        col("s.sum_value") === col("b.sum_value"))
    val n = streamed.count()
    assert(n > 50, s"expected a substantial closed-session prefix, got $n")
    assert(joined.count() == n, "every emitted session must match batch")
  }

  test("stream-stream interval join matches the batch join") {
    val dir = "/root/testdata/sf0.001"
    // self-join needs two independent source readers
    val joined = EventStreams.signalFollowups(
      EventStreams.eventsStream(spark, dir),
      EventStreams.eventsStream(spark, dir),
      threshold = 100.0, windowMinutes = 30)
    runToMemory(joined, "stream_followups", "append")
    val streamed = spark.table("stream_followups")
    val ev = Tables.table(spark, dir, "events")
    val batch = ev.filter(col("value") > 100.0)
      .select(col("user_id"), col("ts").as("sig_ts"),
        col("event_id").as("sig_event_id"))
      .as("s")
      .join(ev.select(col("user_id"), col("ts"), col("event_id")).as("e"),
        expr("s.user_id = e.user_id AND e.ts > s.sig_ts" +
          " AND e.ts <= s.sig_ts + INTERVAL 30 MINUTES"))
    val n = streamed.count()
    assert(n > 0, "expected interval-join matches in the testdata")
    assert(n == batch.count(),
      "inner stream-stream join must equal the batch join")
    val mismatches = streamed
      .select(col("sig_event_id"), col("event_id"))
      .except(batch.select(col("sig_event_id"), col("e.event_id")))
    assert(mismatches.isEmpty)
  }

  test("streamFollowups (the declared drain-then-read form) equals the " +
    "batch interval join row-for-row, twice over the reused run root") {
    val dir = "/root/testdata/sf0.001"
    val got = EventStreams.streamFollowups(spark, dir)
      .collect().map(_.toSeq).toSet
    val ev = Tables.table(spark, dir, "events")
    val want = ev.filter(col("value") > 100.0)
      .select(col("user_id"), col("event_id").as("sig_event_id"),
        col("ts").as("sig_ts"), col("value").as("sig_value")).as("s")
      .join(ev.select(col("user_id"), col("event_id"), col("ts"),
        col("value")).as("e"),
        expr("s.user_id = e.user_id AND e.ts > s.sig_ts" +
          " AND e.ts <= s.sig_ts + INTERVAL 30 MINUTES"))
      .select(col("s.user_id"), col("sig_event_id"), col("sig_ts"),
        col("sig_value"), col("e.event_id"), col("e.ts"), col("e.value"))
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "fixture must produce interval-join matches")
    assert(got == want,
      s"declared streaming join diverged: stream-only=${got -- want}, " +
        s"batch-only=${want -- got}")
    // second drain over the reused deterministic run root must rebuild
    // and reproduce, not replay stale output (the consume-before-next-
    // drain contract Bench/Verify run under)
    assert(EventStreams.streamFollowups(spark, dir)
      .collect().map(_.toSeq).toSet == want,
      "second drain over the reused run root diverged")
  }

  test("streamEma (the declared drain-then-read form) equals the batch " +
    "EMA fold bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val got = EventStreams.streamEma(spark, dir)
      .collect().map(_.toSeq).toSet
    val want = graft.operators.TradingOps
      .emaClose(Tables.candles(spark, dir), 14)
      .collect().map(_.toSeq).toSet
    assert(want.size > 100, s"fixture too small: ${want.size} rows")
    assert(got == want,
      s"declared streaming EMA diverged: stream-only=${(got -- want).take(3)}, " +
        s"batch-only=${(want -- got).take(3)}")
  }

  test("the stateful drains skip the no-data batch, shuffle state 4 " +
    "ways, keep their confs off the caller's session while running, and " +
    "report to its listeners") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    import StreamingQueryListener._
    val dir = "/root/testdata/sf0.001"
    // runIds started by the current drain: QueryStartedEvent reaches the
    // session's listeners synchronously inside start(), so late events
    // of earlier queries are ignored
    val started = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val terminated = new java.util.concurrent.atomic.AtomicBoolean()
    // the caller's width, as seen while each batch of a drain reports
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val widthsSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (started.contains(e.progress.runId)) {
          progress.add(e.progress)
          widthsSeen.add(spark.conf.get("spark.sql.shuffle.partitions"))
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (started.contains(e.runId)) terminated.set(true)
    }
    spark.streams.addListener(listener)
    try Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "stream_candles" -> (() => EventStreams.streamCandles(spark, dir)),
      "stream_followups" -> (() => EventStreams.streamFollowups(spark, dir)),
      "stream_dedup" -> (() => EventStreams.streamDedup(spark, dir)),
      "stream_ema" -> (() => EventStreams.streamEma(spark, dir))
    ).foreach { case (name, run) =>
      started.clear(); progress.clear(); widthsSeen.clear()
      terminated.set(false)
      run()
      // progress and termination events arrive asynchronously but in
      // order: once termination is seen, every progress event is in
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!terminated.get && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(terminated.get,
        s"$name: the drain's events never reached the caller's session")
      val batches = progress.asScala.toSeq
      assert(batches.nonEmpty, s"$name: no micro-batch progress reported")
      assert(batches.forall(_.numInputRows > 0),
        s"$name: a no-data batch ran: ${batches.map(_.numInputRows)}")
      val widths = batches.map(_.stateOperators.map(_.numShufflePartitions))
      assert(widths.forall(w => w.nonEmpty && w.forall(_ == 4)),
        s"$name: state shuffle widths ${widths.map(_.toSeq)}, expected 4")
      assert(widthsSeen.asScala.forall(_ == sessionWidth),
        s"$name: the caller's session carried the drain's width while it " +
          s"ran: ${widthsSeen.asScala.toSeq}, session's is $sessionWidth")
    } finally spark.streams.removeListener(listener)
  }

  test("concurrent drains on one session return their sequential results " +
    "and leave the session's drain confs as they were") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = "/root/testdata/sf0.001"
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    // explicitly-set entry and effective value, per key
    def confs = keys.map(k => (spark.conf.getAll.get(k), spark.conf.getOption(k)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val before = confs
    val candles = rows(EventStreams.streamCandles(spark, dir))
    val dedup = rows(EventStreams.streamDedup(spark, dir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val both = Future.sequence(Seq(
        Future(rows(EventStreams.streamCandles(spark, dir))),
        Future(rows(EventStreams.streamDedup(spark, dir)))))
      val Seq(candles2, dedup2) = Await.result(both, 300.seconds)
      assert(candles2 == candles, "concurrent streamCandles diverged")
      assert(dedup2 == dedup, "concurrent streamDedup diverged")
    } finally pool.shutdown()
    assert(confs == before,
      s"drain confs not restored: before=$before after=$confs")
  }

  test("streaming candles recover from a checkpoint without duplicates") {
    // Kill-and-resume end-to-end over the ONE sink that can actually
    // recover (parquet; the memory sink starts empty on restart): run 1
    // sees only the older half of the input files, terminates (the
    // "kill"), then run 2 starts from the same checkpoint after the newer
    // half lands. Exactly-once means: no (symbol, ts) emitted twice
    // across the runs, run 2 makes progress, and everything emitted
    // matches the batch derivation over the full input.
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files
      .createTempDirectory("graft-recovery").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    // normalized read split at the median event into time-ordered halves,
    // ONE file per phase (multiple unordered files within a phase would
    // drop each other's events as late once the first file advances the
    // watermark — batch parity needs intra-phase time order)
    val raw = Tables.table(spark, dir, "events")
    val mid = raw.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .head.getLong(0)
    raw.filter(unix_micros(col("ts")) < mid)
      .coalesce(1).write.mode("append").parquet(in)
    def run(): Unit = {
      val q = EventStreams.candleStream(
        EventStreams.eventsStream(spark, in))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      val drained = q.awaitTermination(120000)
      if (!drained) q.stop()
      assert(drained, "AvailableNow drain did not finish within 120 s")
    }
    run() // phase 1: older half only, then terminate
    val n1 = spark.read.parquet(out).count()
    raw.filter(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("append").parquet(in)
    run() // phase 2: resume from checkpoint, newer half arrives
    val emitted = spark.read.parquet(out)
    val n2 = emitted.count()
    assert(n1 > 10, s"phase 1 emitted nothing below the watermark: $n1")
    assert(n2 > n1, s"resume made no progress: $n1 -> $n2")
    assert(emitted.groupBy("symbol", "ts").count()
      .filter(col("count") > 1).isEmpty, "duplicate candles after resume")
    // value parity: every emitted candle equals its batch counterpart
    val batch = Tables.candles(spark, dir)
    val matched = emitted.alias("s")
      .join(batch.alias("b"), Seq("symbol", "ts"))
      .filter(col("s.open") === col("b.open") &&
        col("s.high") === col("b.high") && col("s.low") === col("b.low") &&
        col("s.close") === col("b.close") &&
        col("s.volume") === col("b.volume"))
    assert(matched.count() == n2, "emitted candle diverges from batch")
  }

  test("streaming dedup survives kill-and-resume: duplicates straddling " +
    "the restart are dropped by the recovered state") {
    // The exactly-once claim that matters for the dedup family: ids seen
    // BEFORE the kill must still be in dropDuplicatesWithinWatermark's
    // state after the resume, so a duplicate arriving in the second run
    // — inside the lateness horizon — is dropped, not re-emitted. Run 1
    // sees the older half of events and terminates; run 2 receives
    // verbatim copies of the horizon-straddling run-1 events plus the
    // newer half.
    val dir = "/root/testdata/sf0.001"
    val root = java.nio.file.Files
      .createTempDirectory("graft-dedup-recovery").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    val raw = Tables.table(spark, dir, "events")
    val mid = raw.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .head.getLong(0)
    val phase1 = raw.filter(unix_micros(col("ts")) < mid)
    phase1.coalesce(1).write.mode("append").parquet(in)
    def run(): Unit = {
      val q = EventStreams.dedupStream(EventStreams.eventsStream(spark, in))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      // a false return means the drain is still running: counting the
      // sink now (or starting phase 2 on the same checkpoint) would
      // turn a slow run into a bogus state-recovery failure
      val drained = q.awaitTermination(120000)
      if (!drained) q.stop()
      assert(drained, "AvailableNow drain did not finish within 120 s")
    }
    run() // phase 1: older half only, then the "kill"
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0, "phase 1 emitted nothing")
    // duplicates INSIDE the recovered horizon: phase-1 events whose ts
    // lies within the 2h lateness of the phase-1 maximum — their ids
    // must still be in the state the resumed query recovers (anything
    // older is legitimately evicted, so only these can test recovery)
    val maxTs1 = phase1.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val straddle = phase1
      .filter(unix_micros(col("ts")) >= maxTs1 - 7200L * 1000000L)
    assert(straddle.count() > 0, "no events in the straddle horizon")
    straddle.union(raw.filter(unix_micros(col("ts")) >= mid))
      .coalesce(1).write.mode("append").parquet(in)
    run() // phase 2: resume from the checkpoint
    val emitted = spark.read.parquet(out)
    assert(emitted.count() > n1, "resume made no progress")
    assert(emitted.groupBy("event_id").count()
      .filter(col("count") > 1).isEmpty,
      "a straddling duplicate was re-emitted after the resume")
    assert(emitted.select("event_id").distinct().count() ==
      raw.select("event_id").distinct().count(),
      "stream dedup must equal the batch distinct-id derivation")
  }

  test("streaming EMA carries the recursion across micro-batches (stream ≡ batch)") {
    val closes = Seq(10.0, 12.0, 9.0, 15.0, 11.0, 14.0, 8.0)
    val base = 1704067200000L
    val ticks = closes.zipWithIndex.map { case (c, i) =>
      EventStreams.Tick("x", new Timestamp(base + i * 60000L), c)
    }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.Tick](spark)
    ms.addData(ticks.take(3))
    val q = EventStreams.emaStream(ms.toDS(), n = 14)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ema").start()
    q.processAllAvailable()
    ms.addData(ticks.drop(3)) // state must carry ema(3rd row) forward
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_ema")
      .as[EventStreams.EmaPoint].collect()
      .map(p => p.ts.getTime -> p.ema).toMap
    val batch = operators.TradingOps.emaClose(
      candleFrame(Map("x" -> closes)), 14).collect()
      .map(r => r.getTimestamp(1).getTime ->
        r.getAs[Double]("ema")).toMap
    assert(streamed.size == closes.size)
    // batch emits round(ema, 6); the stream carries the raw recursion
    streamed.foreach { case (ts, e) =>
      assert(math.abs(e - batch(ts)) < 5e-7,
        s"stream/batch EMA diverged at $ts: $e vs ${batch(ts)}")
    }
  }

  test("streaming MACD carries all three accumulators across micro-batches") {
    val closes = Seq(10.0, 12.0, 9.0, 15.0, 11.0, 14.0, 8.0)
    val base = 1704067200000L
    val ticks = closes.zipWithIndex.map { case (c, i) =>
      EventStreams.Tick("x", new Timestamp(base + i * 60000L), c)
    }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.Tick](spark)
    ms.addData(ticks.take(4))
    val q = EventStreams.macdStream(ms.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_macd").start()
    q.processAllAvailable()
    ms.addData(ticks.drop(4)) // signal EMA must carry across the batch cut
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_macd")
      .as[EventStreams.MacdPoint].collect()
      .map(p => p.ts.getTime -> ((p.macd, p.macd_signal))).toMap
    val batch = operators.TradingOps.macd(candleFrame(Map("x" -> closes)))
      .collect()
      .map(r => r.getTimestamp(1).getTime ->
        ((r.getAs[Double]("macd"), r.getAs[Double]("macd_signal")))).toMap
    assert(streamed.size == closes.size)
    streamed.foreach { case (ts, (m, s)) =>
      assert(math.abs(m - batch(ts)._1) < 5e-7 &&
        math.abs(s - batch(ts)._2) < 5e-7,
        s"stream/batch MACD diverged at $ts: ($m,$s) vs ${batch(ts)}")
    }
  }

  test("streaming SCD change capture collapses across micro-batches " +
      "(stream ≡ batch collapse)") {
    val base = 1704067200000L
    val evs = Seq(
      (10L, 0, 1L, "view"), (11L, 1, 1L, "view"), (12L, 2, 1L, "click"),
      (13L, 3, 1L, "click"), (14L, 4, 1L, "view"), (15L, 0, 2L, "buy"))
      .map { case (id, m, u, t) =>
        EventStreams.UserEvent(u, new Timestamp(base + m * 60000L), id, t) }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.UserEvent](spark)
    // cut MID-RUN of user 1's duplicate "click": the collapse state must
    // carry across the micro-batch boundary or event 13 double-emits
    ms.addData(evs.take(3))
    val q = EventStreams.scdChangeStream(ms.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_scd").start()
    q.processAllAvailable()
    ms.addData(evs.drop(3))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_scd")
      .as[EventStreams.ScdChange].collect()
      .map(c => (c.user_id, c.event_id, c.state)).toSet
    // batch reference: scd2Intervals on the same rows (its surviving
    // (user, event_id, state) rows ARE the collapsed change log)
    val batch = operators.TimeSeriesOps.scd2Intervals(
      evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("state"))).toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, 10L, "view"), (1L, 12L, "click"),
      (1L, 14L, "view"), (2L, 15L, "buy")))
  }

  test("left-outer interval join emits null-padded signals once the " +
      "watermark closes their window") {
    // outer stream-stream joins are the "did a followup EVER arrive"
    // shape: an unmatched signal cannot emit until the watermark proves
    // no in-window event can still arrive — then it emits exactly once,
    // null-padded. State stays bounded by the interval + lateness.
    val sigS = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val evS = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val base = 1704067200000L
    def ts(off: Long) = new java.sql.Timestamp(base + off)
    val sig = sigS.toDF().toDF("sig_user", "sig_ts", "sig_value")
      .withWatermark("sig_ts", "10 minutes")
    val ev = evS.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
    val joined = sig.join(ev,
      expr("sig_user = user_id AND ts > sig_ts" +
        " AND ts <= sig_ts + INTERVAL 30 MINUTES"), "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("outer_interval").start()
    // user 1: signal + in-window followup; user 2: signal, NO followup
    sigS.addData(Seq((1L, ts(0), 5.0), (2L, ts(0), 7.0)))
    evS.addData(Seq((1L, ts(5 * 60000), 50.0)))
    q.processAllAvailable()
    // advance BOTH watermarks far past user 2's join window
    sigS.addData(Seq((99L, ts(2 * 3600 * 1000), 0.0)))
    evS.addData(Seq((99L, ts(2 * 3600 * 1000 + 1), 0.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("outer_interval")
      .filter(col("sig_user").isin(1L, 2L)).collect()
      .map(r => (r.getLong(0), r.isNullAt(4), // event-side ts null?
        if (r.isNullAt(5)) -1.0 else r.getDouble(5)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, false, 50.0), (2L, true, -1.0)),
      s"user 1 must match, user 2 must emit null-padded exactly once: $rows")
  }

  test("stateful streaming backtest closes positions across micro-batches") {
    val closes = Seq(10.0, 10.0, 10.0, 20.0, 20.0, 5.0, 5.0, 5.0, 30.0, 2.0)
    val base = 1704067200000L
    val ticks = closes.zipWithIndex.map { case (c, i) =>
      EventStreams.Tick("x", new Timestamp(base + i * 60000L), c)
    }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.Tick](spark)
    // two micro-batches to force state carry-over
    ms.addData(ticks.take(5))
    val q = EventStreams.backtestStream(ms.toDS(), shortN = 2, longN = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_bt").start()
    q.processAllAvailable()
    ms.addData(ticks.drop(5))
    q.processAllAvailable()
    q.stop()
    val positions = spark.table("stream_bt")
      .as[EventStreams.StreamPosition].collect()
    // batch reference on the same series (without forced liquidation):
    val batchPos = operators.Backtest.positions(
      candleFrame(Map("x" -> closes)),
      operators.Backtest.Config(shortN = 2, longN = 3)).collect()
    assert(positions.nonEmpty)
    // every streamed position must appear in the batch trace
    val batchSet = batchPos.map(p =>
      (p.entry_ts.getTime, p.entry_price, p.exit_ts.get.getTime)).toSet
    assert(positions.forall(p =>
      batchSet.contains((p.entry_ts.getTime, p.entry_price, p.exit_ts.getTime))))
  }

  test("streaming document chunking matches batch (stateless text prep " +
    "composes with readStream)") {
    // chunkDocuments is a pure per-row projection, so the SAME operator
    // body runs unmodified on a streaming DataFrame — the parity claim
    // for the whole stateless text-prep family (tokens/quality/chunk):
    // no aggregation state, no watermark, append mode.
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val docs = Seq(1L -> "a b c d e f g h i j", 2L -> "k l m",
      3L -> "   ", 4L -> "p q r s t u v w")
    ms.addData(docs.take(2))
    val stream = graft.functions.TextAnalysis.chunkDocuments(
      ms.toDF().toDF("doc_id", "text"), size = 4, overlap = 1)
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("stream_chunks").start()
    q.processAllAvailable()
    ms.addData(docs.drop(2)) // second micro-batch, incl. the empty doc
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_chunks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    val batch = graft.functions.TextAnalysis.chunkDocuments(
      docs.toDF("doc_id", "text"), size = 4, overlap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"stream must equal batch:\n$streamed\nvs\n$batch")
  }

  test("writeTimeSlices capRows bounds every slice file on BURSTY " +
    "event-time density (and a true point mass forms one slice)") {
    // The autoSlices heap bound is per-micro-batch ingest = per slice
    // FILE; equal-time windows alone let a dense window carry most of
    // the corpus. Fixture: 800 rows inside one 2-hour burst + 200 rows
    // spread over 24 hours — under pure time slicing at n=4 the burst
    // window holds ~800 rows; with capRows=100 every slice file must
    // stay <= 100 rows (the burst spans many step/64 fine buckets, so
    // no point-mass floor applies), slices must tile the corpus
    // exactly, and arrival order must stay time-ordered.
    val base = 1700000000000L
    val bursty = spark.range(1000).select(
      col("id"),
      timestamp_millis(when(col("id") < 800,
          lit(base) + col("id") * 9000L)              // 800 rows / 2 h
        .otherwise(lit(base) + (col("id") - 800) * 432000L)) // 200 / 24 h
        .as("ts"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-slice-cap").toString
    val drop = EventStreams.writeTimeSlices(bursty, root, 4, capRows = 100)
    val files = new java.io.File(drop).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val perFile = files.map(f =>
      spark.read.parquet(f.getPath).select(col("id"), col("ts")).collect())
    assert(perFile.map(_.length).sum == 1000,
      s"slices must tile the corpus: ${perFile.map(_.length).toSeq}")
    assert(perFile.forall(_.length <= 100),
      s"a slice exceeds capRows: ${perFile.map(_.length).toSeq}")
    // time-ordered arrival: file i's max ts <= file i+1's min ts
    val nonEmpty = perFile.filter(_.nonEmpty)
    val rng = nonEmpty.map(rows =>
      (rows.map(_.getTimestamp(1).getTime).min,
        rows.map(_.getTimestamp(1).getTime).max))
    assert(rng.init.zip(rng.tail).forall { case ((_, aMax), (bMin, _)) =>
      aMax <= bMin }, s"slices out of time order: ${rng.toSeq}")

    // uniform data under the same cap keeps the plain n-window plan
    // (content-identical to the uncapped form): n=4 windows, none split
    val uniform = spark.range(200).select(col("id"),
      timestamp_millis(lit(base) + col("id") * 432000L).as("ts"))
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-slice-uni").toString
    val drop2 = EventStreams.writeTimeSlices(uniform, root2, 4,
      capRows = 100)
    assert(new java.io.File(drop2).listFiles()
      .count(_.getName.endsWith(".parquet")) == 4,
      "uniform corpus under the cap must keep exactly the n time windows")

    // point-mass floor: rows sharing ONE timestamp cannot split without
    // breaking time-contiguity — they form a single over-cap slice
    val mass = spark.range(300).select(col("id"),
      timestamp_millis(lit(base)).as("ts"))
    val root3 = java.nio.file.Files
      .createTempDirectory("graft-slice-mass").toString
    val drop3 = EventStreams.writeTimeSlices(mass, root3, 2, capRows = 100)
    val massCounts = new java.io.File(drop3).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).count())
    assert(massCounts.sum == 300 && massCounts.max == 300,
      s"point mass must stay one slice: ${massCounts.toSeq}")
  }

  test("autoBackend trips to RocksDB only past the measured heap cliff " +
    "and never overrides an explicit session conf") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val heapGiB = graft.Sessions.workerHeapBytes(spark).toDouble / (1L << 30)
    val threshold = (20000000.0 * heapGiB / 8.0).toLong
    // every auto-derived geometry sits ≤ 2 × rowsPerSlice (two readers
    // × an 8 M-row slice at 8 GiB) — strictly under the 20 M survival
    // threshold at the same heap, so declared fixtures never switch
    assert(EventStreams.autoBackend(spark, threshold).isEmpty,
      "at the measured survival point the in-memory store is the winner")
    assert(EventStreams.autoBackend(spark, threshold + 1)
      .exists(_.contains("RocksDBStateStoreProvider")),
      "past the measured cliff the drain must switch off-heap")
    // explicit conf wins: a deployment's (or probe's) choice is never
    // overwritten by the auto rule
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".HDFSBackedStateStoreProvider")
    try assert(EventStreams.autoBackend(spark, threshold * 100).isEmpty)
    finally spark.conf.unset(key)
  }
}
