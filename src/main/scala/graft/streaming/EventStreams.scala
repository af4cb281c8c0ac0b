package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Structured Streaming surface (SURVEY.md §2.8 — additive: the reference
  * is batch-only over historical CSVs; these are the event-time streaming
  * analogs of its resample/backtest semantics, over the `events` table
  * replayed as a file stream).
  *
  * Scale: streaming state is keyed by (symbol[, window]) — partitioned
  * across executors by the state-store; watermarks bound state size, and
  * late rows beyond the watermark are dropped instead of buffered forever.
  */
object EventStreams {

  /** Schema of the driver's `events` parquet. `ts` is declared as a plain
    * session-TZ `TIMESTAMP`: the driver's current files carry
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) and Spark's parquet reader
    * serves those micros through an LTZ-declared column unchanged — under
    * the UTC session ([[graft.Sessions]]) that read is value-identical to
    * [[graft.Tables.table]]'s normalized batch form, so files written back
    * from the batch table stream with the same schema too.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over an events directory (one-file-per-batch keeps
    * tests deterministic; in production this is the drop-folder / table
    * ingestion pattern).
    *
    * Like [[graft.Tables.table]], this serves BOTH testdata generations:
    * a streaming source needs its schema fixed up-front, so the parquet
    * footer is probed once (metadata-only, batch reader) and the `ts`
    * physical form — TIMESTAMP(NANOS) read as long under `nanosAsLong`,
    * or the current TIMESTAMP(MICROS, naive) read as NTZ — is normalized
    * to the same session-TZ TIMESTAMP the batch table exposes. Before
    * this probe the stream schema assumed MICROS and an old-generation
    * directory failed at scan while the batch reader served it fine
    * (the r8 ADVICE asymmetry).
    */
  def eventsStream(spark: SparkSession, dir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    // `dir` is either a full SF directory (probe the events table entry —
    // probing the whole dir would merge non-event table footers that
    // carry no `ts`) or a drop-folder of bare event files (probe it
    // directly). Layout routing goes through the Hadoop FileSystem of
    // the path, NOT java.io.File: on hdfs://, s3a://, or file:-schemed
    // paths a local File check answers false for both isFile and
    // isDirectory and would silently fall into the bare-directory
    // branch — exactly the cross-table ingestion this routing prevents.
    val eventsEntry = new org.apache.hadoop.fs.Path(dir, "events.parquet")
    val fs = eventsEntry.getFileSystem(spark.sessionState.newHadoopConf())
    val entryStatus =
      try Some(fs.getFileStatus(eventsEntry))
      catch { case _: java.io.FileNotFoundException => None }
    val probePath =
      if (entryStatus.isDefined) eventsEntry.toString else dir
    // an EMPTY drop folder (stream started before the producer's first
    // write — the standard ingestion race) has no footer to probe:
    // assume the current MICROS generation, matching the r8 fixed
    // schema, so stream construction never fails on an empty source.
    // IllegalArgumentException covers the other construction-time
    // probe failure: a mixed directory whose merged footer lacks `ts`
    // (schema("ts") throws it) — the stream still starts and any truly
    // incompatible files fail at scan, same as the batch reader.
    val physicalTs =
      try spark.read.parquet(probePath).schema("ts").dataType
      catch {
        case _: org.apache.spark.sql.AnalysisException => TimestampType
        case _: IllegalArgumentException => TimestampType
      }
    // ingest ONLY what the probe saw — streaming the bare SF directory
    // would ingest every OTHER table's parquet as all-null events-schema
    // rows (and scan ~10× the bytes). FileStreamSource requires a
    // DIRECTORY basePath ("Option 'basePath' must be a directory"), so:
    //  - events.parquet is a single file (driver testdata): stream the
    //    parent dir with a pathGlobFilter pinning the listing to it;
    //  - events.parquet is a Spark-written table DIRECTORY: stream that
    //    directory itself (glob on the leaf would miss its part files);
    //  - neither (drop-folder of bare event files): stream the folder.
    val reader = spark.readStream
      .schema(StructType(eventsRawSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = physicalTs) else f)))
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
    val raw = entryStatus match {
      case Some(s) if s.isFile =>
        reader.option("pathGlobFilter", "events.parquet").parquet(dir)
      case Some(_) => reader.parquet(eventsEntry.toString)
      case None => reader.parquet(dir)
    }
    physicalTs match {
      case LongType => // ns-as-long generation: µs-aligned, div is lossless
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // naive micros: UTC session ⇒ value-identity
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Streaming candle construction — the event-time mirror of
    * [[graft.Tables.candles]]: the same [[graft.Tables.ohlcv]] definition
    * over tumbling 1-hour windows per symbol, with a watermark for late
    * data. Append mode emits each candle exactly once, when its window
    * falls behind the watermark.
    */
  def candleStream(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    graft.Tables.ohlcv(events, window(col("ts"), "1 hour"), Some(lateness))
      .select(col("symbol"), col("window.start").as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Sliding event-time aggregate: per-symbol mean value over a 2-hour
    * window sliding hourly (the streaming analog of the rolling mean W1/W2).
    */
  def slidingMean(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(
        col("event_type").as("symbol"),
        window(col("ts"), "2 hours", "1 hour"))
      .agg(avg(col("value")).as("mean_value"),
        count(lit(1)).as("n_events"))
      .select(col("symbol"), col("window.start").as("ts"),
        col("mean_value"), col("n_events"))

  /** Streaming exact dedup on event_id — the streaming analog of the batch
    * exact-dedup pass: state holds ids only within the watermark horizon,
    * so memory is bounded while duplicates arriving within the lateness
    * window are dropped exactly once.
    */
  def dedupStream(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming sessionization via the native session-window aggregate —
    * the streaming form of [[graft.operators.TimeSeriesOps.sessionWindowAgg]]
    * (same gap-merge semantics; identical output schema). Sessions close
    * and emit (append mode) once the watermark passes their end; state per
    * open session is one merged accumulator, bounded by the watermark.
    *
    * Deliberately NOT a declared drained query (unlike the other four
    * streaming paths): in append mode a session whose end lies within
    * `lateness` of the final event never falls behind the watermark and
    * never emits, so a bounded drain structurally under-counts trailing
    * sessions vs the batch oracle; and the update-mode sink dedup the
    * other drains use keys on a STABLE identity, which sessions lack —
    * a partial session's key (user, session_start) mutates as later
    * events merge windows, leaving stale partial rows no last-batch-wins
    * rule can reconcile. The machinery it exercises is gated elsewhere:
    * windowed aggregation state by `stream_candles`, and the gap-merge
    * semantics by the batch `session_window_agg` oracle + the
    * stream ≡ batch prefix assertion in StreamingSpec.
    */
  def sessionStream(events: DataFrame, gapMinutes: Int = 30,
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream INTERVAL join: for every high-value "signal" event,
    * the same user's follow-up events within `windowMinutes` after it.
    * Both sides are watermarked raw streams; the time-bound join condition
    * lets Spark expire buffered state once the watermark passes each
    * signal's window — the canonical bounded-state stream-stream join.
    * Inner join ⇒ streamed output equals the batch join row-for-row.
    *
    * @param signals usually the same source as `events` read as a second
    *                stream (stream self-joins require two source readers).
    */
  def signalFollowups(signals: DataFrame, events: DataFrame,
      threshold: Double = 100.0, windowMinutes: Int = 30,
      lateness: String = "2 hours"): DataFrame = {
    val sig = signals
      .withWatermark("ts", lateness)
      .filter(col("value") > threshold)
      .select(col("user_id"), col("ts").as("sig_ts"),
        col("event_id").as("sig_event_id"),
        col("value").as("sig_value"))
    val ev = events
      .withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    sig.as("s").join(ev.as("e"),
      expr("s.user_id = e.user_id" +
        " AND e.ts > s.sig_ts" +
        s" AND e.ts <= s.sig_ts + INTERVAL $windowMinutes MINUTES"))
      .select(col("s.user_id"), col("sig_event_id"), col("sig_ts"),
        col("sig_value"), col("e.event_id"), col("e.ts"), col("e.value"))
  }

  // ---- stateful streaming backtest -------------------------------------

  case class Tick(symbol: String, ts: Timestamp, close: Double)

  /** Carried crossover/backtest state between micro-batches — the same
    * machine as graft.operators.Backtest but with the rolling-mean windows
    * folded into the state (ring buffer of the last longN closes), since a
    * stream can't look back.
    */
  case class BtState(
      recent: List[Double], // newest first, bounded by longN
      prevShort: Double, prevLong: Double, seeded: Boolean,
      inPos: Boolean, entryTs: Long, entryPrice: Double,
      budget: Double, trades: Int)

  case class StreamPosition(
      symbol: String, entry_ts: Timestamp, entry_price: Double,
      exit_ts: Timestamp, exit_price: Double)

  /** EMA carry-state: last EMA value per symbol. */
  case class EmaState(ema: Double, seeded: Boolean)

  case class EmaPoint(symbol: String, ts: Timestamp, close: Double,
      ema: Double)

  /** Streaming EMA via flatMapGroupsWithState keyed by symbol: the same
    * `α·close + (1−α)·ema` recursion as the batch
    * [[graft.operators.TradingOps.emaClose]], with O(1) state (one double
    * per symbol) carried across micro-batches. Rows inside each
    * micro-batch are processed in event-time order; in-order arrival
    * reproduces the batch fold value-for-value (asserted stream≡batch in
    * StreamingSpec).
    *
    * Memory honesty (applies to every flatMapGroupsWithState op in this
    * file — macd, SCD capture, backtest): the CARRIED state is O(1) per
    * key, but `rows.toSeq.sortBy` buffers each (key, micro-batch) GROUP
    * before sorting — transient memory is O(hottest key's rows in the
    * batch). At production scale that is bounded by the trigger interval
    * (seconds of one symbol's ticks), which is the knob to size; in the
    * bounded drains each batch is a whole replay slice, fine at fixture
    * scale but the first thing to shrink (more slices) if a drain ever
    * sees a corpus-sized hot key.
    */
  def emaStream(ticks: Dataset[Tick], n: Int = 14): Dataset[EmaPoint] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val alpha = 2.0 / (n + 1)
    val beta = 1.0 - alpha
    ticks.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, rows: Iterator[Tick], state: GroupState[EmaState]) =>
          var st = state.getOption.getOrElse(EmaState(0.0, seeded = false))
          val out = rows.toSeq.sortBy(_.ts.getTime).map { t =>
            st = if (!st.seeded) EmaState(t.close, seeded = true)
                 else EmaState(alpha * t.close + beta * st.ema, seeded = true)
            EmaPoint(symbol, t.ts, t.close, st.ema)
          }
          state.update(st)
          out.iterator
      }
  }

  /** MACD carry-state: the three EMA accumulators per symbol. */
  case class MacdState(ef: Double, es: Double, esig: Double, seeded: Boolean)

  case class MacdPoint(symbol: String, ts: Timestamp, close: Double,
      macd: Double, macd_signal: Double)

  /** Streaming MACD(12,26,9): the second-order recursion of
    * [[graft.operators.TradingOps.macd]] carried across micro-batches —
    * three doubles of state per symbol, same in-order-arrival ≡ batch
    * guarantee as [[emaStream]] (asserted in StreamingSpec).
    */
  def macdStream(ticks: Dataset[Tick], fast: Int = 12, slow: Int = 26,
      signal: Int = 9): Dataset[MacdPoint] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val af = 2.0 / (fast + 1); val bf = 1.0 - af
    val as = 2.0 / (slow + 1); val bs = 1.0 - as
    val ag = 2.0 / (signal + 1); val bg = 1.0 - ag
    ticks.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, rows: Iterator[Tick], state: GroupState[MacdState]) =>
          var st = state.getOption
            .getOrElse(MacdState(0.0, 0.0, 0.0, seeded = false))
          val out = rows.toSeq.sortBy(_.ts.getTime).map { t =>
            st = if (!st.seeded) MacdState(t.close, t.close, 0.0, seeded = true)
                 else {
                   val ef = af * t.close + bf * st.ef
                   val es = as * t.close + bs * st.es
                   MacdState(ef, es, ag * (ef - es) + bg * st.esig,
                     seeded = true)
                 }
            MacdPoint(symbol, t.ts, t.close, st.ef - st.es, st.esig)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Change-collapse carry-state: the last emitted state per user. */
  case class ScdState(last: String)

  case class UserEvent(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String)

  case class ScdChange(user_id: Long, ts: Timestamp, event_id: Long,
      state: String)

  /** Streaming SCD2 change capture: the change-collapse half of
    * [[graft.operators.TimeSeriesOps.scd2Intervals]] as a
    * flatMapGroupsWithState stream keyed by user — emit an event only
    * when its tracked attribute differs from the last EMITTED one, with
    * one string of state per user carried across micro-batches.
    * (Intervalization needs the NEXT change and so belongs to batch /
    * the downstream sink-side as-of; a CDC pipeline streams the change
    * log and intervalizes at rest.) In-order arrival reproduces the
    * batch collapse row-for-row — asserted stream≡batch in StreamingSpec.
    */
  def scdChangeStream(events: Dataset[UserEvent]): Dataset[ScdChange] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[ScdState]) =>
          var last = state.getOption.map(_.last)
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .flatMap { e =>
              if (last.contains(e.event_type)) None
              else {
                last = Some(e.event_type)
                Some(ScdChange(user, e.ts, e.event_id, e.event_type))
              }
            }
          last.foreach(l => state.update(ScdState(l)))
          out.iterator
      }
  }

  /** Streaming MA-crossover backtest via flatMapGroupsWithState keyed by
    * symbol. Rows inside each micro-batch are processed in event-time
    * order; cross-batch disorder is accepted as-at-arrival (documented
    * streaming semantics — the batch fold is the exact-order reference).
    * Emits closed positions as they happen (no forced liquidation — the
    * stream has no "last row").
    */
  def backtestStream(ticks: Dataset[Tick],
      budget: Double = 10000.0, perTrade: Double = 1000.0,
      shortN: Int = 5, longN: Int = 20): Dataset[StreamPosition] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, rows: Iterator[Tick], state: GroupState[BtState]) =>
          var st = state.getOption.getOrElse(
            BtState(Nil, 0.0, 0.0, seeded = false, inPos = false, 0L, 0.0,
              budget, 0))
          val out = scala.collection.mutable.ArrayBuffer.empty[StreamPosition]
          rows.toSeq.sortBy(_.ts.getTime).foreach { t =>
            val recent = (t.close :: st.recent).take(longN)
            // oldest-first accumulation: the batch reference's window avg
            // adds frame rows in row order, and double addition is
            // non-associative — summing the ring newest-first could flip
            // a crossover decided in the last ULP even with perfectly
            // in-order arrival
            val s = recent.take(shortN).reverseIterator.sum /
              math.min(recent.size, shortN)
            val l = recent.reverseIterator.sum / recent.size
            if (st.seeded) {
              if (!st.inPos && st.prevShort <= st.prevLong && s > l &&
                  st.budget >= perTrade) {
                st = st.copy(inPos = true, entryTs = t.ts.getTime,
                  entryPrice = t.close, budget = st.budget - perTrade,
                  trades = st.trades + 1)
              } else if (st.inPos && st.prevShort >= st.prevLong && s < l) {
                st = st.copy(inPos = false,
                  budget = st.budget + perTrade / st.entryPrice * t.close)
                out += StreamPosition(symbol, new Timestamp(st.entryTs),
                  st.entryPrice, t.ts, t.close)
              }
            }
            st = st.copy(recent = recent, prevShort = s, prevLong = l,
              seeded = true)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming daily-ingest classification — the production shape of
    * [[graft.operators.Dedup.mergeCorpusDay]]: the day's documents
    * arrive as a STREAM and are classified against the persisted
    * corpus dedup state (STATIC — loaded once per query) with the
    * identical contract: one row per delta doc,
    * `(doc_id, status ∈ exact_dup|near_dup|new, match_id)`,
    * exact-over-near priority, `match_id` = smallest matching corpus
    * doc. StreamingSpec proves stream ≡ batch row-for-row on the same
    * delta.
    *
    * Plan shape: the delta-side state ([[graft.operators.Dedup
    * .corpusDedupState]]) is a pure projection, so it streams; both
    * probes are stream-static LEFT joins (exact on fingerprint against
    * the pre-aggregated static fingerprint→min-doc table, near on the
    * exploded band keys with per-collision sha verification); ONE
    * stream aggregation per doc_id collapses band fan-out and applies
    * the min-match rule. Static-side cost honesty: stream-static joins
    * RE-EXECUTE the static plan per micro-batch, so the fingerprint
    * aggregate is materialized once (`localCheckpoint`) and the band
    * explode stays a generator over the caller's state — pass a
    * CHECKPOINTED state frame, or each batch replays its derivation.
    * The aggregate runs without a watermark in UPDATE mode — a daily
    * delta is bounded, and a real sink upserts on doc_id via
    * foreachBatch (re-emissions refine, never contradict:
    * min-aggregates only tighten as bands arrive).
    */
  def mergeStream(delta: DataFrame, existingState: DataFrame,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val nBands = k / rowsPerBand
    // the static sides RE-EXECUTE every micro-batch (stream-static join
    // semantics) — materialize the corpus-wide fingerprint aggregate
    // once so each batch reads its stored partitions, and keep the band
    // explode a cheap generator over the caller's state (pass a
    // checkpointed state frame, as corpusDedupState consumers do)
    val exact = existingState.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("ex_exact"))
      .localCheckpoint()
    val exBands = Dedup.bandRows(existingState, nBands, "ex_id", "ex_sha")
    val banded = Dedup.bandRows(
      Dedup.corpusDedupState(delta, n, k, rowsPerBand),
      nBands, "doc_id", "sha", passthrough = Seq("fingerprint"))
    banded
      .join(exact, Seq("fingerprint"), "left")
      .join(exBands, Seq("band", "bucket"), "left")
      .withColumn("ver", when(col("ex_id").isNotNull &&
        Dedup.shaJaccardAtLeast(col("ex_sha"), col("sha"), minJaccard),
        col("ex_id")))
      .groupBy(col("doc_id"))
      .agg(min(col("ex_exact")).as("exact_match"),
        min(col("ver")).as("near_match"))
      .select(col("doc_id") +:
        Dedup.mergeStatus(col("exact_match"), col("near_match")): _*)
  }

  // ---- drain-harness plumbing shared by the five declared streaming
  // drains ([[mergeStreamDay]], [[streamCandles]], [[streamFollowups]],
  // [[streamDedup]], [[streamEma]]) ----

  /** Recursive delete — used only on this object's own tmp harness
    * dirs, never on data directories. */
  private def rmTree(f: java.io.File): Unit =
    if (f.exists) {
      if (f.isDirectory) f.listFiles.foreach(rmTree)
      f.delete(): Unit
    }

  /** A memoized producer-side scratch dir (replay / drop folders),
    * removed at JVM exit so repeated rounds on a long-lived machine
    * don't accumulate them in /tmp. */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(p.toFile)))
    p.toString
  }

  /** Producer-side drop folder of a drain — built once per (JVM, kind,
    * key) and memoized: writing the replay files is the PRODUCER side
    * of the harness, not the measured streaming query; every call still
    * runs the full streaming machinery against the folder. The kind
    * (the drain's name) is part of the key, so two replay kinds over
    * the same corpus never share a folder. `build` gets a fresh
    * [[scratchDir]] and returns the drop folder; it must not call
    * [[replayFor]] itself (`computeIfAbsent` throws on recursive
    * update).
    */
  private val replayCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def replayFor(kind: String, key: String)(
      build: String => String): String =
    replayCache.computeIfAbsent((kind, key),
      _ => build(scratchDir(s"graft-$kind")))

  /** Deterministic per-(query, corpus) run root, DELETED at the start of
    * every drain: `AvailableNow` over a reused checkpoint would consider
    * the drop files already processed (zero batches), and stale `out/`
    * rows would alias the new run's batch ids — so each drain gets a
    * fresh root at a stable path, bounding disk to ONE run dir per
    * (query, corpus) instead of one per call (Bench alone makes 4 calls
    * per query per round). Also removed at JVM exit. The returned result
    * frame reads this root lazily — consume it before the same query's
    * next drain; Bench/Verify run queries sequentially, which is exactly
    * that contract.
    */
  private val runRootsRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Run roots prefer tmpfs (/dev/shm) when present: the checkpoint and
    * state-store commits under a run root are many small synchronous
    * writes per micro-batch, and on the local harness their disk fsync
    * latency measures the filesystem, not the streaming machinery (a
    * production checkpoint goes to object storage with its own
    * durability path). Falls back to java.io.tmpdir.
    */
  private val runRootBase = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getPath
    else sys.props("java.io.tmpdir")
  }
  private def freshRunRoot(name: String, key: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val root = new java.io.File(
      runRootBase, s"graft-$name-run-$digest")
    rmTree(root)
    root.mkdirs()
    if (runRootsRegistered.add(root.getPath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root)))
    root.getPath
  }

  /** Skip the trailing NO-DATA micro-batch inside a bounded drain (r18,
    * StreamProbe attribution at sf0.1): after the last data file,
    * `AvailableNow` schedules one extra zero-row batch purely for eager
    * state eviction — measured at 0.65–0.84 s of the 3.6 s
    * `stream_followups` drain (state-store iteration + 16 store commits
    * for 0 input rows), and comparable in every watermarked drain. For
    * ALL FIVE declared drains that batch provably emits NOTHING, so the
    * drained result is row-identical without it (oracle- and
    * StreamingSpec-gated):
    *  - inner interval join (followups): eviction emits only for OUTER
    *    joins;
    *  - update-mode aggregate (candles): eviction emits only in APPEND
    *    mode;
    *  - dropDuplicatesWithinWatermark (dedup): eviction never emits.
    *    The skip also DELAYS eviction, so a duplicate redelivered
    *    BEHIND the watermark could still be dropped against retained
    *    state where eager eviction would re-emit it — the only regime
    *    where output could differ, and one already outside the
    *    within-watermark contract (see [[streamDedup]]);
    *  - flatMapGroupsWithState with NoTimeout (ema): the function is
    *    only invoked for keys present in the batch;
    *  - mergeStream: unwatermarked — no no-data batch is scheduled.
    * The state the skipped batch would have evicted dies with the run
    * root anyway (bounded drain, checkpoint discarded). A CONTINUOUS
    * production query must keep the default `true`: append-mode sinks
    * and event-time timeouts rely on no-data batches to flush final
    * windows between arrivals — which is exactly why [[sessionStream]]
    * is not drained here. Scoped set + restore, like the width conf.
    */
  private val noDataBatchKey =
    "spark.sql.streaming.noDataMicroBatches.enabled"

  private val stateProviderKey =
    "spark.sql.streaming.stateStore.providerClass"

  /** Guards the drain-conf save/set/start/restore sequence. */
  private val drainConfLock = new Object

  /** The shared drain protocol of the five declared streaming queries:
    * run `stream` to completion under `Trigger.AvailableNow` with the
    * per-batch-id sink under `runRoot`, and return the drained frame
    * with `schema`'s columns. A zero-batch drain (empty drop-folder)
    * returns the typed empty frame instead of failing the sink read.
    *
    * Non-empty `upsertKeys` runs the stream in Update mode and resolves
    * update-mode re-emissions by last-batch-wins per key (the way a real
    * sink upserts — so the result is invariant to how the file source
    * splits the drop-folder into batches). Empty `upsertKeys` runs it in
    * Append mode, for stream-STREAM joins and the other operators that
    * emit each row exactly once: an inner interval join emits each
    * matched pair exactly once (join semantics, not aggregate
    * re-emission), so the drained parquet needs no last-batch-wins
    * dedup — the read-back IS the result.
    *
    * State-store partition count is a deployment knob sized to key
    * cardinality (frozen into the checkpoint at stream start): the
    * session's 32 is tuned for the batch shuffles, while these fixtures
    * carry only thousands of keys, where every extra partition just
    * multiplies per-batch state-commit overhead (the interval join
    * opens FOUR stores per partition per batch). The r11 sweep over
    * {2, 4, 8, 16} measured 4 as the local-fixture optimum — 2 starts
    * losing batch parallelism, 8+ pays commit fan-out; at production
    * scale this is raised, not lowered. Both the width
    * ([[autoStatePartitions]]) and the store backend ([[autoBackend]])
    * are derived here from `perBatch`, the buffered rows of the
    * largest micro-batch.
    *
    * The width, no-data and backend confs are set only around
    * `start()`: the `StreamExecution` constructor snapshots the session
    * (`cloneSession()`), so the query runs on the values set here while
    * the caller's session is already restored when the drain runs. One
    * lock spans save, set, start and restore, so two drains on one
    * session cannot interleave their save/restore. Drains stay on the
    * caller's session rather than a `newSession()`: a session's
    * StreamingQueryListeners only see queries started through that
    * session.
    */
  private def drain(spark: SparkSession, stream: DataFrame,
      runRoot: String, perBatch: Long, schema: StructType,
      upsertKeys: Seq[String] = Nil): DataFrame = {
    val conf = Seq(
      "spark.sql.shuffle.partitions" ->
        autoStatePartitions(spark, perBatch).toString,
      noDataBatchKey -> "false") ++
      autoBackend(spark, perBatch).map(stateProviderKey -> _)
    val writer = stream.writeStream
      .outputMode(
        if (upsertKeys.isEmpty) OutputMode.Append else OutputMode.Update)
      .option("checkpointLocation", s"$runRoot/chk")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("__batch", lit(batchId))
          .write.mode("append").parquet(s"$runRoot/out")
      }
    val query = drainConfLock.synchronized {
      // getAll holds only EXPLICITLY-set entries, so a key the caller
      // never set is restored to unset, not pinned to its default
      val prev = spark.conf.getAll
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try writer.start()
      finally conf.foreach { case (k, _) =>
        prev.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    query.awaitTermination()
    if (!new java.io.File(s"$runRoot/out").exists)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val out = spark.read.parquet(s"$runRoot/out")
    val rows =
      if (upsertKeys.isEmpty) out
      else {
        val lastEmission = org.apache.spark.sql.expressions.Window
          .partitionBy(upsertKeys.map(col): _*).orderBy(col("__batch").desc)
        out.withColumn("__rn", row_number().over(lastEmission))
          .filter(col("__rn") === 1)
      }
    rows.select(schema.map(f => col(f.name)): _*)
  }

  /** Bounded drain of [[mergeStream]] — the declared-query form: the
    * day's delta (docs with `doc_id % 5 == 0`) is dropped as parquet
    * files, classified against the rest of the corpus by a REAL
    * `StreamingQuery` (`Trigger.AvailableNow`), and the drained result
    * is returned as a batch frame. Shares `merge_corpus_day`'s oracle:
    * stream ≡ batch is the spec-proven contract of [[mergeStream]], and
    * this puts the streaming execution path itself under the driver's
    * bit-exact correctness gate.
    *
    * Update-mode re-emissions (a doc's min-aggregate can tighten across
    * micro-batches as bands arrive) are resolved the way a real sink
    * upserts: each batch is appended with its batch id and the LAST
    * batch's row per doc wins — so the result is invariant to how the
    * file source splits the drop-folder into batches.
    */
  def mergeStreamDay(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = graft.Tables.table(spark, dir, "documents")
    // the static side re-executes per micro-batch — checkpoint it, as
    // mergeStream's contract requires
    val state = Dedup.corpusDedupState(docs.filter(col("doc_id") % 5 =!= 0))
      .localCheckpoint()
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val drop = replayFor("merge-stream-day", dir) { root =>
      delta.write.mode("overwrite").parquet(s"$root/drop")
      s"$root/drop"
    }
    val stream = spark.readStream.schema(delta.schema).parquet(drop)
    // the whole day's delta arrives as ONE batch (no per-trigger cap),
    // so the ingest is the folder TOTAL, read from the written footers
    drain(spark, mergeStream(stream, state),
      freshRunRoot("merge-stream-day", dir),
      perBatch = sliceRowCounts(drop).sum,
      schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("status", StringType),
        StructField("match_id", LongType))),
      upsertKeys = Seq("doc_id"))
  }

  /** Replay a frame into time-contiguous single-file slices under
    * `root/drop`, consumed in event-time order so a watermark genuinely
    * trails the data. The file source orders its listing by modification
    * time — and sequential writes alone cannot guarantee that order on a
    * filesystem with coarse mtime granularity (two slices written within
    * the same clock tick tie, and a tie-broken reordering would violate
    * the in-order-arrival premise the streamEma/backtest ≡ batch parity
    * proofs stand on). So ordering is made EXPLICIT: each slice is
    * written to a scratch dir, its single part file moved into the drop
    * folder as `slice-%05d.parquet`, and its mtime pinned via
    * `Files.setLastModifiedTime` to a fixed epoch + i minutes — strictly
    * increasing by construction, independent of clock resolution. The
    * slice step covers [lo, hi] entirely: step ≥ (hi−lo)/n + 1 ⇒
    * n·step > hi−lo, so no trailing row is lost to the half-open upper
    * bound.
    *
    * `capRows` makes the [[autoSlices]] heap bound hold on BURSTY
    * event-time density, not just the uniform replay the slice count
    * was derived from: equal-TIME windows alone let one dense window
    * carry most of the corpus (e.g. 80% of 60 M rows inside one of 8
    * windows ingests 48 M rows in one micro-batch — right back over
    * the measured state cliff the count was derived to avoid). With a
    * cap, a cheap density probe (~64 k fine sub-buckets total across
    * the windows, one aggregate, driver-side counts — bounded
    * metadata, the same class as the graph Σdeg peek) splits any
    * window whose row count exceeds the cap into count-balanced
    * time-contiguous sub-slices at sub-bucket granularity. Windows
    * already under the cap keep their ORIGINAL bounds — on
    * time-uniform corpora (every declared fixture and every ScaleUp
    * replication) no window splits and the slice files are
    * content-identical to the uncapped form. The residual floor: a
    * single sub-bucket (≤ 1/64 k of the corpus time span) holding
    * more than capRows rows cannot be split further without breaking
    * time-contiguity — a true point mass bounds below by its own size.
    */
  private[graft] def writeTimeSlices(df: DataFrame, root: String,
      n: Int, capRows: Long = Long.MaxValue): String = {
    val mm = df.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .head()
    if (!mm.isNullAt(0)) {
      val lo = mm.getTimestamp(0).getTime
      val hi = mm.getTimestamp(1).getTime
      val step = math.max(1L, (hi - lo) / n + 1)
      // slice bounds as [from, until) ms pairs: the n equal-time
      // windows, each split at fine-bucket granularity iff its count
      // exceeds capRows
      val bounds: Seq[(Long, Long)] =
        if (capRows == Long.MaxValue)
          (0 until n).map(i => (lo + i * step, lo + (i + 1) * step))
        else {
          // Sub-bucket count adapts to the window count so the probe's
          // RESOLUTION is independent of n: ~64 k probe points total
          // (clamped to [64, 8192] per window — a fixed step/64 grain
          // would leave a burst narrower than step/64 unsplittable even
          // when it holds most of the corpus, e.g. a 2 h burst inside a
          // 10-day window). Driver-side counts stay bounded metadata.
          val sub = math.max(64L, math.min(8192L, 65536L / n))
          val fine = math.max(1L, step / sub)
          // NULL-ts rows are absent from every slice (see the trailing
          // note) — they must be absent from the density probe too
          val hist = df.filter(col("ts").isNotNull)
            .groupBy(expr(s"(unix_millis(ts) - ${lo}L) div ${step}L")
                .as("win"),
              expr(s"((unix_millis(ts) - ${lo}L) % ${step}L) div ${fine}L")
                .as("sub"))
            .count().collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
          (0 until n).flatMap { i =>
            val winStart = lo + i * step
            val winEnd = lo + (i + 1) * step
            val subs = hist.collect { case ((w, s), c) if w == i => (s, c) }
              .toSeq.sortBy(_._1)
            val total = subs.map(_._2).sum
            if (total <= capRows) Seq((winStart, winEnd))
            else {
              // greedy pack: cut before any sub-bucket that would push
              // the accumulating slice past the cap (a lone over-cap
              // bucket still forms its own slice — the point-mass floor)
              val cuts = scala.collection.mutable.ArrayBuffer[Long]()
              var acc = 0L
              subs.foreach { case (s, c) =>
                if (acc > 0 && acc + c > capRows) {
                  cuts += winStart + s * fine
                  acc = 0L
                }
                acc += c
              }
              val edges = winStart +: cuts.toSeq :+ winEnd
              edges.init.zip(edges.tail)
            }
          }
        }
      new java.io.File(s"$root/drop").mkdirs()
      for (((a, until), i) <- bounds.zipWithIndex)
        writeSlice(df.filter(col("ts") >= timestamp_millis(lit(a)) &&
          col("ts") < timestamp_millis(lit(until))), root, i)
    } else {
      // EMPTY source (or all-NULL ts): no slice write ever runs, but the
      // drop folder must still EXIST — the memoized path feeds
      // readStream, and a nonexistent directory fails stream
      // construction, violating the drain contract that an empty source
      // drains to the typed empty frame. An empty df written with
      // overwrite creates the directory (with only metadata files),
      // which the file source lists as zero data files — zero batches.
      df.limit(0).coalesce(1).write.mode("overwrite").parquet(s"$root/drop")
    }
    // NULL-ts rows never match any slice predicate and are deliberately
    // absent from the replay: every drained query either watermark-drops
    // them (candles/ema) or null-rejects them in its join predicate
    // (followups), and the batch candle oracle now excludes them too —
    // the replay and the oracle agree on the NULL-free event universe.
    s"$root/drop"
  }

  /** Write `df` as replay slice `i` of `root/drop`: its single part file
    * is moved in as `slice-%05d<suffix>.parquet` and its mtime pinned to
    * the fixed epoch + `i` minutes, the arrival order
    * [[writeTimeSlices]] makes explicit.
    */
  private def writeSlice(df: DataFrame, root: String, i: Int,
      suffix: String = ""): Unit = {
    val tmp = s"$root/tmp-slice"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    // a slice with zero rows still writes an (empty-row-group)
    // part file under coalesce(1); move it anyway so slice index
    // and batch order stay aligned with the time axis
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .foreach { f =>
        val dst = java.nio.file.Paths.get(
          s"$root/drop", f"slice-$i%05d$suffix.parquet")
        java.nio.file.Files.move(f.toPath, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1600000000000L + i * 60000L))
      }
    rmTree(new java.io.File(tmp))
  }

  // capRows makes the heap bound density-robust: on uniform corpora
  // (all declared fixtures) no window exceeds it and the slices are
  // content-identical to the uncapped form
  private def candleReplayFor(spark: SparkSession, dir: String,
      slices: Int): String =
    replayFor("stream-candles", s"$dir#$slices")(
      writeTimeSlices(graft.Tables.table(spark, dir, "events"), _, slices,
        rowsPerSliceBound(spark)))

  /** Data-proportional replay slicing (r15). A micro-batch's rows all
    * sit AHEAD of the watermark until the batch commits, so every
    * stateful drain's state high-water mark is the per-batch ingest —
    * and a FIXED slice count makes that ingest grow with the corpus:
    * the factor-300 probe (60 M events, 2 slices = 30 M rows/batch ×
    * two join readers) ran the 8 GiB driver out of heap inside
    * `stream_followups`' interval-join state before the first watermark
    * advance could evict anything (SCALE.md r15). Every drain derives
    * its slice count as ⌈|events| / rowsPerSlice⌉ with rowsPerSlice =
    * 8 M × (heap GiB / 8) — anchored at the measured cliff: 2×10 M
    * buffered rows survived this host's 8 GiB heap, 2×30 M died —
    * floored at 2 so every declared fixture keeps the
    * exact 2-slice plan (200 k events at sf0.1 is far under one slice)
    * and the cross-batch machinery the drains exist to gate still
    * exercises. The |events| peek is one footer-cheap metadata job,
    * memoized per (session, dir) — the same pattern as the graph width
    * peeks. The heap in the rule is the WORKER JVM's
    * ([[graft.Sessions.workerHeapBytes]]): the live JVM in local mode,
    * `spark.executor.memory` on a cluster — stream-join state lives in
    * executors, and sizing it from a big driver's heap would overshoot
    * every small executor. The single-executor bound is conservative
    * (state hash-spreads across executors); the state-store backend
    * (RocksDB off-heap) moves the constant, not the rule — MEASURED in
    * both directions (SCALE.md r15 "state-store backend"): RocksDB
    * completes the exact 2-slice geometry whose buffered rows killed
    * the in-memory store (off-heap state), and costs ~4× per key on
    * fits-in-heap state, where the in-memory store wins. The derived
    * rowsPerSlice is ALSO passed to [[writeTimeSlices]] as the per-file
    * row cap, so the bound survives bursty event-time density — equal
    * time windows alone only bound the UNIFORM case the count was
    * derived from.
    */
  private[graft] def rowsPerSliceBound(spark: SparkSession): Long = {
    val heapGiB =
      graft.Sessions.workerHeapBytes(spark).toDouble / (1L << 30)
    math.max(1000000L, (8000000.0 * heapGiB / 8.0).toLong)
  }

  private def autoSlices(spark: SparkSession, dir: String): Int = {
    val n = graft.Tables.rowCount(spark, dir, "events")
    math.max(2, math.ceil(n.toDouble / rowsPerSliceBound(spark)).toInt)
  }

  /** State-store backend for a drain, chosen from the SAME inputs as
    * [[autoSlices]] (expected buffered rows per micro-batch vs worker
    * heap) so no operator has to pick a backend by hand. The crossover
    * is the r15 measurement (SCALE.md "state-store backend"), both
    * directions: the in-memory (HDFS-backed) store is ~4× faster per key but
    * keeps all state on-heap — it survived 2×10 M buffered join rows
    * on this 8 GiB heap and died at 2×30 M, where RocksDB (off-heap +
    * disk spill) completed one-pass at 1 122.7 s. So the threshold is
    * the measured SURVIVAL point, 20 M buffered rows per 8 GiB of
    * worker heap, scaled linearly: under it the in-memory store is
    * the measured winner, above it it is a measured death.
    *
    * `None` = leave the session default (the in-memory provider)
    * untouched. Every auto-derived geometry stays under the threshold
    * by construction ([[autoSlices]] caps a slice at 8 M rows, ≤ 16 M
    * buffered even with two readers), so declared fixtures keep the
    * exact bytes and plans they always had; only a point-mass slice
    * (one [[writeTimeSlices]] sub-bucket holding more than the row cap,
    * which capRows cannot split) trips the switch. An EXPLICIT session
    * conf always wins — auto never overwrites a deployment's choice, it
    * only fills the unset case.
    */
  private[graft] def autoBackend(spark: SparkSession,
      bufferedRowsPerBatch: Long): Option[String] = {
    // getAll holds only EXPLICITLY-set entries; getOption would fall
    // back to the conf's built-in default and read "explicit" always
    val explicit = spark.conf.getAll.contains(stateProviderKey)
    val heapGiB =
      graft.Sessions.workerHeapBytes(spark).toDouble / (1L << 30)
    val maxInMemRows = (20000000.0 * heapGiB / 8.0).toLong
    if (!explicit && bufferedRowsPerBatch > maxInMemRows)
      Some("org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    else None
  }

  /** State-shuffle width for a drain, derived from the measured
    * per-batch ingest the same way [[autoBackend]] derives the store
    * backend. The r11 sweep fixed 4 as the toy-fixture optimum
    * (thousands of keys; more partitions only multiply per-batch
    * commit fan-out — the interval join opens FOUR stores per
    * partition per batch), and 4 stays the floor so every declared
    * toy fixture keeps its exact layout and bytes. The r18 sf30
    * StreamProbe run showed where 4 must RISE: stream_dedup's 6 M-row
    * batches spent ~17 s of summed task time in state-store puts
    * behind a 4-way state shuffle on a 32-slot box (addBatch was 95%
    * of every trigger; walCommit/planning/offsets ≤ 100 ms) — puts
    * are the drain, and they parallelize exactly per state partition.
    * One partition per ~1M rows of the largest batch, floor 4, capped
    * at the worker slot count; like every auto rule here it only ever
    * RAISES the default, never overrides a caller's explicit count.
    */
  private[graft] def autoStatePartitions(spark: SparkSession,
      bufferedRowsPerBatch: Long): Int =
    math.min(math.max(4, (bufferedRowsPerBatch / 1000000L).toInt),
      graft.Sessions.workerSlots(spark))

  /** Per-slice row counts of a replay drop folder, read from parquet
    * FOOTER metadata only (no row scan — O(files) driver-side opens,
    * the same bounded-metadata class as the graph Σdeg peek). The
    * [[autoBackend]] per-batch estimate is derived from these instead
    * of the uniform rowCount/slices quotient (r16 ADVICE): equal-TIME
    * windows with capRows sub-splitting can leave ONE point-mass slice
    * far above the uniform mean — the exact batch the in-memory-store
    * cliff is measured in. The drop folder is written before any drain
    * runs, so the footers are always the ACTUAL batch sizes the stream
    * will ingest.
    */
  private[graft] def sliceRowCounts(drop: String): Seq[Long] = {
    // Listing goes through the path's Hadoop FileSystem, NOT
    // java.io.File (r17 ADVICE — the same pitfall [[eventsStream]]
    // routes around): a local File listing of an hdfs://, s3a://, or
    // file:-schemed drop folder returns null, which would read as
    // perBatch = 0 and silently disable [[autoBackend]]'s RocksDB
    // switch — the OOM guard — exactly on the deployments that need it.
    val conf = new org.apache.hadoop.conf.Configuration()
    val path = new org.apache.hadoop.fs.Path(drop)
    val fs = path.getFileSystem(conf)
    val files =
      (try fs.listStatus(path)
       catch { case _: java.io.FileNotFoundException =>
         Array.empty[org.apache.hadoop.fs.FileStatus] })
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_"))
    files.toSeq.map { s =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        s.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
  }

  /** Largest single-file ingest a one-file-per-trigger drain will see. */
  private[graft] def maxSliceRows(drop: String): Long =
    (0L +: sliceRowCounts(drop)).max

  /** Bounded drain of [[candleStream]] — the declared-query form of the
    * watermarked streaming aggregation: the `events` table is replayed
    * into a drop-folder as `slices` time-contiguous files (written
    * sequentially, so the one-file-per-batch source consumes them in
    * event-time order and the watermark genuinely trails the data), then
    * aggregated by a REAL `StreamingQuery` (`Trigger.AvailableNow`) and
    * drained back as a batch frame. Shares the batch `candles` oracle:
    * stream ≡ batch is the spec-proven contract of [[candleStream]]
    * (StreamingSpec), and this puts the stateful-aggregation streaming
    * path itself under the driver's bit-exact correctness gate — the
    * merge drain above covers only the stream-static join path.
    *
    * Update mode + last-emission-wins dedup (the [[mergeStreamDay]] sink
    * pattern): a (symbol, hour) candle spanning a slice boundary is
    * re-emitted with its tightened aggregate in the later batch, and the
    * final emission per key IS the full aggregate — so the result is
    * invariant to how the source splits the replay into batches, and no
    * window is lost to the append-mode watermark-flush race at stream
    * end. The min/max/min_by/max_by aggregates all merge associatively
    * across batches, which is what makes the cross-batch fold exact.
    *
    * The replay drop-folder is the PRODUCER side of the harness, not the
    * measured query — it is built once per (JVM, directory) and memoized
    * (content-bound key, same contract as [[graft.Tables
    * .bucketedCandlesFor]]); every call still runs the full streaming
    * machinery (fresh checkpoint, micro-batch planning, state commits,
    * drain, read-back). The one min/max peek that sizes the slices is
    * part of that once-per-corpus build.
    */
  def streamCandles(spark: SparkSession, dir: String): DataFrame = {
    val slices = autoSlices(spark, dir)
    val drop = candleReplayFor(spark, dir, slices)
    drain(spark, candleStream(eventsStream(spark, drop)),
      freshRunRoot("stream-candles", s"$dir#$slices"),
      perBatch = maxSliceRows(drop),
      schema = StructType(Seq(StructField("symbol", StringType),
        StructField("ts", TimestampType),
        StructField("open", DoubleType), StructField("high", DoubleType),
        StructField("low", DoubleType), StructField("close", DoubleType),
        StructField("volume", DoubleType))),
      upsertKeys = Seq("symbol", "ts"))
  }

  /** Declared-query form of the stream-STREAM interval join
    * ([[signalFollowups]]): the events table replayed as time-ordered
    * drop-folder slices (the [[streamCandles]] replay fixture, shared),
    * read by TWO independent stream readers (stream self-joins require
    * two sources), joined on user within the `(sig_ts, sig_ts + window]`
    * interval, and drained through a real `StreamingQuery`. Inner join ⇒
    * every matched pair emits exactly once and the drained output equals
    * the batch join row-for-row (spec-proven in StreamingSpec) — so the
    * query shares a plain batch-SQL oracle, putting the join-state
    * execution path (buffering, interval matching, watermark eviction)
    * under the driver's bit-exact gate; the merge and candle drains
    * cover the stream-static and windowed-aggregation paths.
    *
    * Lateness (2 h) strictly exceeds the join window (30 min), so no
    * signal's state is evicted while its followups can still arrive from
    * a later time-ordered slice — eviction only ever frees state that
    * can no longer match, which is the bounded-state contract that makes
    * this join survive an unbounded stream.
    */
  def streamFollowups(spark: SparkSession, dir: String): DataFrame = {
    // GENUINELY shares streamCandles' replay folder (same (dir, slices)
    // fixture key, same autoSlices derivation — a different slice count
    // would build a second full events copy in scratch); each slice
    // feeds BOTH readers at ONE file per trigger, so the per-batch
    // ingest — the join-state high-water mark, the thing autoSlices
    // bounds — is one slice per reader. The derived floor of 2 slices
    // keeps the declared fixtures at exactly the prior 2-batch plan,
    // which still puts matches ACROSS a batch boundary (signal buffered
    // in join state until its followup arrives in the next batch) — the
    // cross-batch machinery this query gates. (The pre-r15 form read
    // slices/2 files per trigger — a rule that pinned the drain at ~2
    // batches and HALF the corpus of join state per batch at ANY slice
    // count: that is what ran the factor-300 probe out of driver heap.)
    val slices = autoSlices(spark, dir)
    val drop = candleReplayFor(spark, dir, slices)
    drain(spark,
      signalFollowups(eventsStream(spark, drop), eventsStream(spark, drop)),
      freshRunRoot("stream-followups", s"$dir#$slices"),
      // TWO readers each contribute one slice of buffered join rows per
      // batch — the exact geometry of the measured in-memory-store cliff;
      // sized from the WRITTEN slice footers (max file), not the uniform
      // quotient, so a capRows point-mass slice is seen at its true size
      perBatch = 2L * maxSliceRows(drop),
      schema = StructType(Seq(StructField("user_id", LongType),
        StructField("sig_event_id", LongType),
        StructField("sig_ts", TimestampType),
        StructField("sig_value", DoubleType),
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("value", DoubleType))))
  }

  /** Declared-query form of the streaming exact-dedup path
    * ([[dedupStream]] / `dropDuplicatesWithinWatermark`) — the fifth
    * streaming state family under the driver's bit-exact gate: the four
    * existing drains cover stream-static joins, windowed aggregation,
    * stream-stream join state, and arbitrary (`flatMapGroupsWithState`)
    * state; this gates the DEDUP state store (key puts, cross-batch
    * lookups, watermark-horizon eviction) — the canonical at-least-once
    * ingestion front of an LLM-corpus pipeline, where the upstream feed
    * redelivers and the engine must emit each document exactly once.
    *
    * Replay fixture (the PRODUCER side, memoized like the others): the
    * events table sliced time-contiguously with TWO planted duplicate
    * populations, both EXACT row copies keyed `event_id % 3 == 0`:
    *  - in-slice copies (same ts ⇒ same slice file ⇒ same micro-batch):
    *    exercise within-batch dedup against the store;
    *  - a cross-batch REDELIVERY file, consumed LAST (mtime-ordered),
    *    holding copies of the corpus's final hour — when it arrives the
    *    watermark sits at `max(ts) − lateness` (2 h), so redelivered
    *    rows are still AHEAD of the watermark and
    *    `dropDuplicatesWithinWatermark`'s contract GUARANTEES they
    *    dedup against state carried from the earlier batch.
    * Exact copies make the drain deterministic by construction: whichever
    * physical copy survives, the emitted row is byte-identical — so the
    * drained output must equal the original (duplicate-free) events table
    * row-for-row and the oracle is plain SQL over `events`. A dropped
    * duplicate that ISN'T dropped shows up as a row-count mismatch, which
    * is exactly what the gate is for.
    *
    * Scale shape: dedup state is one entry per key within the watermark
    * horizon — bounded by arrival rate × lateness, not corpus size — and
    * hash-spreads across executors like every state store; the per-batch
    * ingest is bounded by the same [[autoSlices]]/capRows rule as the
    * other drains.
    *
    * Constraint: the lateness ([[dedupStream]]'s 2 h) must cover the
    * fixed 1 h redelivery window — below that, redelivered rows arrive
    * BEHIND the watermark, where `dropDuplicatesWithinWatermark` no
    * longer guarantees dedup (the within-watermark contract is exactly
    * what the 2 h lateness buys).
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val slices = autoSlices(spark, dir)
    val drop = replayFor("stream-dedup", s"$dir#$slices") { root =>
      val ev = graft.Tables.table(spark, dir, "events")
      // The bit-exact gate needs event_id globally unique in the BASE
      // table: a natural duplicate id (same id, different content)
      // would make the drain drop a row the oracle keeps and pick a
      // nondeterministic survivor — a verify failure far from its
      // cause. Assert it once here, inside the memoized build (one
      // aggregate per fixture, not per drain).
      val idStats = ev.agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("d")).head()
      require(idStats.getLong(0) == idStats.getLong(1),
        s"streamDedup fixture requires globally unique event_id in " +
          s"$dir/events: ${idStats.getLong(0)} rows, " +
          s"${idStats.getLong(1)} distinct ids")
      val dupes = ev.filter(col("event_id") % 3 === 0)
      // autoSlices sized the count from the BASE rowCount while the
      // replay writes ~(1+1/3)× rows — the per-file heap bound still
      // holds because the same rowsPerSliceBound is passed as capRows,
      // which splits any overfull window regardless of the overcount.
      writeTimeSlices(ev.union(dupes), root, slices,
        rowsPerSliceBound(spark))
      // redelivery file: copies of the final hour, arriving after every
      // main slice (strictly larger pinned mtime) but still within the
      // 2 h watermark delay — the guaranteed-dedup cross-batch case.
      // Its mtime index is derived from the ACTUAL slice-file count
      // (capRows sub-splitting can exceed any hardcoded guess), so the
      // redelivery always sorts last and the cross-batch path stays
      // exercised at every corpus size; the filename carries the same
      // index so name and mtime order agree.
      val mm = ev.agg(max(col("ts"))).head()
      if (!mm.isNullAt(0)) {
        val hi = mm.getTimestamp(0).getTime
        val sliceCount = new java.io.File(s"$root/drop").listFiles()
          .count(_.getName.endsWith(".parquet"))
        writeSlice(dupes.filter(col("ts") >=
            timestamp_millis(lit(hi - 3600L * 1000))),
          root, sliceCount, "-redelivery")
      }
      s"$root/drop"
    }
    drain(spark, dedupStream(eventsStream(spark, drop)),
      freshRunRoot("stream-dedup", s"$dir#$slices"),
      // sized from the written slice footers (max single file — the
      // redelivery slices are included automatically)
      perBatch = maxSliceRows(drop),
      schema = eventsRawSchema)
  }

  /** Declared-query form of the `flatMapGroupsWithState` path
    * ([[emaStream]]): the candle series replayed as time-ordered slices
    * and folded through the cross-batch EMA recursion by a real
    * `StreamingQuery`. In-order arrival ⇒ the carried state applies the
    * identical double updates in the identical order as the batch fold
    * ([[graft.operators.TradingOps.emaClose]]), so the drain shares
    * `ema_close`'s recursive-CTE oracle bit-for-bit — putting the
    * arbitrary-stateful streaming machinery (typed state encode/decode,
    * cross-batch carry, per-batch group iteration) under the driver's
    * gate; the other three drains cover stream-static joins, windowed
    * aggregation, and join state. Append mode: each input row emits
    * exactly once, so the [[drain]] sink needs no dedup.
    */
  def streamEma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val drop = replayFor("stream-ema", dir)(
      writeTimeSlices(
        graft.Tables.candles(spark, dir)
          .select(col("symbol"), col("ts"), col("close")),
        _, 2))
    val src = spark.readStream
      .schema(StructType(Seq(StructField("symbol", StringType),
        StructField("ts", TimestampType),
        StructField("close", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(drop)
    drain(spark,
      emaStream(src.as[Tick]).toDF()
        .select(col("symbol"), col("ts"), col("close"),
          round(col("ema"), 6).as("ema")),
      freshRunRoot("stream-ema", dir),
      // sized from the written candle-slice footers (max single file)
      perBatch = maxSliceRows(drop),
      schema = StructType(Seq(StructField("symbol", StringType),
        StructField("ts", TimestampType),
        StructField("close", DoubleType),
        StructField("ema", DoubleType))))
  }
}
