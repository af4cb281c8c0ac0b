package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core data model + sources.
  *
  * The reference's single abstraction is a time-indexed single-symbol OHLCV
  * pandas frame loaded from a schema-ful CSV scan
  * (/root/reference/main.py:296-311). We generalize to a multi-symbol,
  * partition-friendly `DataFrame` with an ordinary `ts` column (Spark has no
  * index; ordering is declared per-operator via `Window.orderBy`/`orderBy`),
  * plus a `symbol` column so every operator parallelizes across symbols at
  * 100 TB scale (1 symbol = reference semantics, N symbols = scale path).
  */
object Tables {

  /** Raw OHLCV CSV contract of the reference (main.py:299-307):
    * header row, epoch-ms int64 `time`, float64 OHLCV. Schema is explicit —
    * never inferred — matching the reference's dtype dict.
    */
  val ohlcvCsvSchema: StructType = StructType(Seq(
    StructField("time", LongType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", DoubleType)
  ))

  /** Driver parquet table reader (TESTDATA.md): `region nation customer
    * supplier part orders lineitem events documents embeddings`.
    * Parquet scan ⇒ Catalyst column pruning + predicate pushdown for free —
    * the reference needed manual `usecols` (main.py:307) for the same effect.
    *
    * `events.ts` normalization — the driver's parquet has shipped two
    * physical forms across testdata generations, both normalized here to a
    * session-TZ `TIMESTAMP` so every downstream operator sees ONE type:
    *  - TIMESTAMP(NANOS): readable only via
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    [[graft.Sessions]]); the long is divided back to µs with `div`
    *    (not `/` — double division loses precision above 2^53). All ns
    *    values were µs-aligned, so truncation is lossless.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current): Spark reads it
    *    as TIMESTAMP_NTZ; the cast to TIMESTAMP reinterprets the same
    *    micros in the session time zone — the session is pinned to UTC
    *    ([[graft.Sessions]]), so the cast is value-identity and matches
    *    DuckDB's naive read of the same file.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = perSessionMap(tableCache, spark)
    val key = s"$sfDir#$name"
    val ref = perSession.get(key)
    val cached = if (ref == null) null else ref.get()
    if (cached != null) cached
    else {
      val df = resolveTable(spark, sfDir, name)
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Get-or-create the per-session inner map of a session-keyed memo —
    * the one synchronized WeakHashMap dance both memos below share, so
    * a fix to the locking or reference discipline lands once.
    */
  private def perSessionMap[V](
      cache: java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, V]],
      spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, V] =
    cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, V]()
        cache.put(spark, m)
      }
      m
    }

  /** Resolved-relation memo behind [[table]]. Every `spark.read.parquet`
    * call re-runs datasource resolution — file listing plus a footer
    * schema read — which the r15 q8 profile measured at ~55–70 ms per
    * table on this host: ~0.4 s of a 7-table query's ~0.5 s plan
    * construction, paid PER CONSTRUCTION, per run (the whole reason
    * q8_market_share sat above its isolated band for three windows
    * while its execution stayed flat at ~0.6 s). A catalog-managed
    * table gets exactly this caching from the SessionCatalog's
    * resolved-relation cache; path-read tables deserve the same, so
    * the memo emulates it: the analyzed frame (an immutable lazy plan)
    * is shared per (session, dir, table). Sound because the driver
    * testdata dirs are immutable for a session's lifetime — nothing in
    * the engine writes into an sfDir; the same assumption carries the
    * candle layout that every candle query reads ([[candles]]) — and
    * weakly keyed on the SESSION
    * OBJECT with SOFT-referenced values: a DataFrame strongly references
    * its session, so a strong value would pin its own WeakHashMap key
    * forever (the documented WeakHashMap value→key trap); behind a
    * SoftReference a stopped session plus its frames become collectable
    * under memory pressure, and a cleared entry just re-resolves. A new
    * session (even at a reused address) always re-resolves.
    */
  private val tableCache = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String,
      java.lang.ref.SoftReference[DataFrame]]]()

  /** Memoized `count()` over a driver table, same key discipline and
    * soundness argument as [[table]]'s memo (sfDirs are immutable for a
    * session's lifetime; weakly keyed on the session object). The count
    * is a footer-cheap metadata job, but callers that peek it during
    * PLAN CONSTRUCTION — the graph width rules' |lineitem| peek, the
    * streaming drains' |events| peek — pay it per construction, per
    * run; a size that cannot change within a session deserves to be a
    * lookup after the first read.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val perSession = perSessionMap(countCache, spark)
    perSession.computeIfAbsent(s"$sfDir#$name",
      _ => java.lang.Long.valueOf(table(spark, sfDir, name).count())).longValue()
  }

  private val countCache = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()

  /** Scale-adaptive widen for CPU-dense per-row pipelines (tokenize +
    * shingle + digest, codec decodes, embedding parses, DECIMAL
    * partials) that sit DIRECTLY on a parquet scan. Scan parallelism is
    * split-bound — ceil(bytes / `spark.sql.files.maxPartitionBytes`)
    * tasks at most, and row-group granularity can make it lower (the
    * sf0.1 fixtures are one row group per table, so a scan-rooted
    * pipeline runs its whole expression chain on ONE task). This helper
    * inserts a repartition to the session's defaultParallelism right
    * after the read ONLY when the source is provably too small for the
    * scan to reach the slots by itself: estimated plan bytes <
    * maxPartitionBytes × slots. At production scale the predicate is
    * false and the plan is UNTOUCHED. Round-robin repartition is
    * deterministic under task retry (SPARK-23207) and every consumer of
    * a widened frame is order-independent, so results are bit-identical.
    *
    * Every call site is kept because it measured a win at 4 cores
    * (`SPARK_GRAFT_CPUS=4`, sf0.1, perfbench per-query medians, 5
    * alternating pairs of widened vs. unwidened; ratio = unwidened ÷
    * widened median, a win is a pair at ≥ 1.10);
    * sites that did not win in 4 of 5 pairs were deleted. SCALE.md
    * "widenCpu on 4 cores" has all 31 measured sites.
    * {{{
    * site (query it pays for)                        ratio  wins
    * TextAnalysis.wide: lang_id, repetition          2.24   5/5
    *   token_stats 1.72, quality 1.70, winnow 1.65,
    *   dsir 1.43, lm_coverage 1.43, bm25 1.26,
    *   bpe_tokens 1.05 (4/5 at ≥ 1.10)
    * Dedup.shingleTable (decontaminate)              1.61   5/5
    * Dedup.shingleArrays (merge_corpus_day)          1.52   4/5
    * Dedup.duplicateSpans (dedup_spans)              1.48   5/5
    * Dedup.simhashNearDupPairs, keyed                1.48   5/5
    * Multimodal.syntheticImages (media_features)     1.92   5/5
    * Multimodal.syntheticVideos (video_features)     1.62   5/5
    * Similarity.nearDupPairs (embedding_neardup)     1.22   4/5
    * Similarity.kmeansAssign (kmeans_assign)         1.30   5/5
    * Analytics q1 / q9 / q11 / q14 / q18 / q20 /     1.35–1.81  ≥ 4/5
    *   brand_stats, keyed on l_orderkey/l_partkey
    * }}}
    * Keyed form: HASH-repartition on `keys` instead of round-robin — no
    * sort-before-repartition pass, and when `keys` is a subset of the
    * downstream groupBy/Window clustering the widen exchange satisfies
    * that distribution (SPARK-35703) and replaces the aggregate's own
    * exchange. Callers must pick a key with ≫ slots distinct values.
    */
  def widenCpu(df: DataFrame, keys: Column*): DataFrame = {
    // Streaming frames pass through untouched: their micro-batch size is
    // unknowable at plan-construction time (optimizedPlan cannot even be
    // built before writeStream.start()), and the drains already derive
    // their parallelism from the replay slice geometry
    // (EventStreams.autoStatePartitions).
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(maxSplit) * slots) {
      if (keys.isEmpty) df.repartition(slots)
      else df.repartition(slots, keys: _*)
    } else df
  }

  private def resolveTable(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Schema-ful OHLCV CSV scan (reference S3-S5, main.py:296-311):
    * explicit schema (no inference pass), epoch-ms → timestamp, canonical
    * column order. A `symbol` column is derived from the file name
    * (the reference keys a whole app run on one file; we keep provenance so
    * a glob over thousands of per-symbol CSVs is a single scan).
    * No eager sort: ordering is an operator concern (`Window.orderBy($"ts")`),
    * and at scale the physical analog of the reference's sorted index is
    * date-partitioned storage + parquet min/max pruning.
    */
  def ohlcvCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(ohlcvCsvSchema)
      .csv(path)
      .select(
        regexp_replace(element_at(split(input_file_name(), "/"), -1), "\\.csv$", "")
          .as("symbol"),
        timestamp_millis(col("time")).as("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Multi-symbol candle series of a corpus directory — the one series
    * every candle consumer reads, as the reference loads its OHLCV frame
    * once and runs every strategy over it (main.py:296-311). Returns the
    * stored layout of [[bucketedCandlesFor]]: [[candlesFromEvents]]
    * derived once per (JVM, directory), bucketed on `symbol` and sorted
    * on `ts`, so symbol-clustered consumers (windows, groupBy, the
    * backtest fold) read it without an Exchange. Sound under the same
    * immutable-directory assumption as [[table]]'s memo.
    */
  def candles(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(bucketedCandlesFor(spark, sfDir))

  /** The candle derivation over the driver's `events` table — the OHLCV
    * stand-in (FIXTURES.md §B): `event_type` is the symbol, `value`
    * is the price, candles are 1-hour event-time tumbling windows (the
    * resampling the reference's minute-resolution input implies,
    * README.md:17-29). open/close are first/last price in the bucket by
    * arrival order (`event_id` — unique, so deterministic under any
    * partitioning); volume = trade count. Its callers are the layout
    * writer ([[bucketedCandlesFor]]) and the declared `candles` query,
    * which times the resample itself.
    *
    * Scale: one hash-shuffle on (symbol, hour); Catalyst plans
    * partial_min_by/max_by map-side, so the exchange carries one row per
    * (symbol, hour) per input partition, not the raw events.
    */
  def candlesFromEvents(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      // a candle is defined over PRICED, TIMED events only — and the
      // filter is also what keeps the two engines aligned on NULLs:
      // Spark's min_by returns the (NULL) value at the extremal
      // event_id while DuckDB's arg_min SKIPS null values, so a
      // NULL-value row at the bucket's min event_id would silently
      // diverge open/close; a NULL-ts group would survive batch but
      // never pass a streaming watermark (stream ≡ batch would break)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(
        col("event_type").as("symbol"),
        date_trunc("hour", col("ts")).as("ts"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).cast(DoubleType).as("volume"))

  /** Multi-resolution OHLCV resample — the parameterized form of
    * [[candlesFromEvents]] (reference intent: minute-resolution input
    * re-aggregated to coarser bars, README.md:17-29). Bucket =
    * `minutes`-wide tumbling event-time window via integral
    * floor-division on epoch-microseconds (identical arithmetic in the
    * DuckDB oracle, [[candlesAtSql]] — unlike date_trunc, whose DuckDB
    * 'day' form returns DATE, not TIMESTAMP). Same one-shuffle
    * partial-aggregate shape as [[candlesFromEvents]]; resolution only
    * changes the group count, never the plan.
    */
  def candlesAt(spark: SparkSession, sfDir: String, minutes: Int): DataFrame = {
    val bucketUs = minutes * 60000000L
    table(spark, sfDir, "events")
      // same NULL discipline as [[candlesFromEvents]]
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .groupBy(
        col("event_type").as("symbol"),
        expr(s"timestamp_micros((unix_micros(ts) div $bucketUs) * $bucketUs)")
          .as("ts"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).cast(DoubleType).as("volume"))
  }

  /** S1/S2 — recursive CSV catalog listing with case-insensitive filename
    * substring filter (reference: `os.walk` + `query in basename`,
    * main.py:202-221). Catalog-level, not data-level: returns paths for a
    * subsequent [[ohlcvCsv]] scan. Uses the Hadoop FS API so the same code
    * lists HDFS/S3 at scale.
    */
  def listCsvFiles(spark: SparkSession, root: String,
      nameQuery: String = ""): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(path, /* recursive = */ true)
    val q = nameQuery.toLowerCase
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.toLowerCase.endsWith(".csv") &&
          (q.isEmpty || name.toLowerCase.contains(q)))
        out += f.getPath.toString
    }
    out.result().sorted
  }

  /** S7 — CSV sink (reference: `export_df.to_csv`, main.py:515-534). One
    * header-ful CSV per partition; `coalesce(1)` only for small exports —
    * at scale you keep the parallel files (the reference's single-file
    * export does not survive 100 TB).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Bucketed + sorted storage for symbol-keyed series — the physical
    * analog of the reference's sorted index (`set_index(sorted=True)`,
    * main.py:310) at cluster scale. Writing a table `bucketBy(n, symbol)
    * .sortBy(symbol, ts)` lets every downstream symbol-clustered operator
    * (windows, groupBy, self-joins on symbol) read WITHOUT a shuffle:
    * the scan's hash-partitioning satisfies the operator's required
    * distribution, so Catalyst elides the Exchange. For multi-year
    * minute data this removes the per-stage sort+shuffle of the symbol's
    * whole history (SCALE.md "known costs").
    *
    * The pre-write `repartition(n, bucketCol)` uses the SAME hash
    * Spark's bucketing uses, so each bucket lands in exactly one task →
    * exactly one file per bucket (the layout that also lets the scan
    * expose its sort order under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`).
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      buckets: Int = 8, bucketCol: String = "symbol",
      sortCol: String = "ts"): Unit =
    df.repartition(buckets, col(bucketCol))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol, sortCol)
      .saveAsTable(tableName)

  /** Injective catalog/filesystem-safe key for a corpus directory:
    * sanitized path ([A-Za-z0-9_] — legal in both table identifiers and
    * file names) plus a 6-byte MD5 of the raw path, so two dirs that
    * sanitize identically still never share a key. One shared derivation
    * for every build-once layout fixture ([[bucketedCandlesFor]],
    * [[zorderedEventsFor]], [[graft.operators.Similarity.cellLayoutFor]]).
    */
  def dirKey(d: String): String =
    d.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6)
        .map("%02x".format(_)).mkString

  /** Build-once/read-many layout behind [[candles]]: the
    * [[candlesFromEvents]] series for a corpus directory, written
    * through [[writeBucketed]] when the session's catalog does not have
    * it yet — once per (JVM, directory), plus once more after a session
    * stop/rebuild leaves an empty catalog — and read by every candle
    * consumer afterwards. Returns the catalog table name;
    * `spark.table(name)` scans it WITHOUT an Exchange for
    * symbol-clustered operators. Keyed by the DIRECTORY string
    * (content-bound — unlike a canonicalized-plan key, two distinct
    * corpora can never share an entry), same contract as
    * [[graft.operators.Similarity.cellLayoutFor]].
    *
    * Single-flight: the existence check and the rebuild run under one
    * lock per directory, so concurrent queries on one session never
    * rewrite the path twice or read it while it is being rewritten by
    * another caller of this function.
    */
  def bucketedCandlesFor(spark: SparkSession, sfDir: String): String = {
    val name = s"candles_bkt_${dirKey(sfDir)}"
    bucketedCandlesLocks.computeIfAbsent(sfDir, _ => new Object).synchronized {
      if (!spark.catalog.tableExists(name))
        writeBucketed(candlesFromEvents(spark, sfDir), name,
          new java.io.File("spark-warehouse", name).getAbsolutePath)
    }
    name
  }

  private val bucketedCandlesLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once/read-many fixture for the Z-ORDER layout (the 2-D
    * analog of [[bucketedCandlesFor]]): the events table rewritten
    * through [[graft.functions.ZOrder.writeZOrdered]] on (ts, value) on
    * FIRST use per JVM and memoized by DIRECTORY (content-bound key).
    * Returns the parquet path; a scan with predicates on EITHER
    * dimension prunes most files on footer min-max stats — what a
    * linear single-key sort can only do for its leading column. One
    * layout write amortized over every later 2-D-selective read, the
    * same lifecycle as the bucketed table and the IVF cell layout.
    */
  private val zorderedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def zorderedEventsFor(spark: SparkSession, sfDir: String): String =
    zorderedEventsCache.computeIfAbsent(sfDir, d => {
      val path = new java.io.File(
        "spark-warehouse", s"events_z_${dirKey(d)}").getAbsolutePath
      graft.functions.ZOrder.writeZOrdered(
        table(spark, d, "events"), path, "ts", "value", files = 16)
      path
    })

  /** S8 — JSON template source (main.py:536-555): flat scalar config
    * `{"initial_budget": N, "investment_per_trade": N, "max_trades": N|""}`
    * parsed to the typed backtest config (control-plane, driver-side).
    */
  def parseTemplate(json: String): graft.operators.Backtest.Config = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    def num(k: String, default: Double): Double =
      Option(root.get(k)).filter(_.isNumber).map(_.asDouble).getOrElse(default)
    val maxTrades = Option(root.get("max_trades"))
      .filter(_.isNumber).map(_.asInt)
    graft.operators.Backtest.Config(
      initialBudget = num("initial_budget", 10000.0),
      perTrade = num("investment_per_trade", 1000.0),
      maxTrades = maxTrades)
  }

  /** DuckDB-equivalent SQL for [[candles]], inlined as a CTE by queries that
    * build on the candle series (tumbling 1-hour buckets ≡
    * `date_trunc('hour', ts)`; the streaming path uses the equivalent
    * `window($"ts", "1 hour")`).
    */
  val candlesSql: String =
    """SELECT event_type AS symbol, date_trunc('hour', ts) AS ts,
      |  arg_min("value", event_id) AS open, max("value") AS high,
      |  min("value") AS low, arg_max("value", event_id) AS close,
      |  CAST(count(*) AS DOUBLE) AS volume
      |FROM events
      |WHERE "value" IS NOT NULL AND ts IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** DuckDB oracle for [[candlesAt]] — same floor-division bucketing on
    * epoch-microseconds (CAST first: the view's TIMESTAMP_NS needs an
    * explicit TIMESTAMP cast before epoch_us on some DuckDB versions).
    */
  def candlesAtSql(minutes: Int): String = {
    val bucketUs = minutes * 60000000L
    s"""SELECT event_type AS symbol,
       |  make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // $bucketUs)
       |    * $bucketUs) AS ts,
       |  arg_min("value", event_id) AS open, max("value") AS high,
       |  min("value") AS low, arg_max("value", event_id) AS close,
       |  CAST(count(*) AS DOUBLE) AS volume
       |FROM events
       |WHERE "value" IS NOT NULL AND ts IS NOT NULL
       |GROUP BY 1, 2""".stripMargin
  }
}
