package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Single place for engine session config so Verify, Bench, and tests run
  * identical settings.
  */
object Sessions {
  /** Cores to use: SPARK_GRAFT_CPUS, else the cores this JVM may use. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Every engine session is built here, with [[graft.functions
    * .GraftExtensions]] installed: the engine's Catalyst functions and
    * its optimizer rule are part of the session from build time, and
    * `newSession()` inherits them.
    */
  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      // Shuffle width = cores, not the 200 default — at cluster scale this
      // is a capacity-planning knob; AQE coalesces small partitions anyway.
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // InferFiltersFromGenerate clones the full generator expression into
      // a pre-Generate filter; for explode(expensive-higher-order-expr)
      // (the shingle pipeline) that re-evaluates the whole expression tree
      // per row several times over — measured 5× slower at sf0.1. The
      // rule only saves work when generators commonly yield empty arrays,
      // which ours never do.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      // Shuffle/spill/broadcast block codec — ENGINE-CHOSEN (r17 verdict
      // item 1, the autoBackend pattern): [[autoIoCodec]] picks zstd only
      // when the measured lz4 scratch model says the workload's spill
      // footprint would crowd the scratch disk, and lz4 (Spark's own
      // default — every historical bench number was measured under it)
      // everywhere else. Declared-SF sessions are byte-identical to every
      // prior round by construction (MB-scale inputs sit orders of
      // magnitude under the threshold — HarnessSpec pins this). The codec
      // must be decided HERE, not per-query: SerializerManager caches it
      // lazily at first compressed block, so a session-conf change after
      // the first shuffle is silently ignored.
      .config("spark.io.compression.codec", chosenIoCodec())
      // Compress SERIALIZED rdd storage (DISK_ONLY localCheckpoints —
      // the graph module's edge-sized materializations). Spark defaults
      // this OFF; the graph checkpoints are written once and re-read
      // sequentially, so codec CPU is noise next to the disk bytes it
      // saves. Deserialized (default-level) checkpoints — every other
      // query — are unaffected by this flag.
      .config("spark.rdd.compress", "true")
      // Kept ONLY for old-generation testdata where events.ts was written
      // as TIMESTAMP(NANOS); current generation writes TIMESTAMP(MICROS),
      // which this flag does not affect. Tables.table documents both forms
      // and probes the file schema to serve either.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Measured lz4 scratch model (SCALE.md r17 codec table): the full
    * 152-query surface's peak scratch under lz4 is ~14 bytes per input
    * byte — 62.7 GB at sf30 (4.6 GB input), 20.4 GB at sf10 (1.3 GB) —
    * dominated by the triangle intersection's Σ outdeg² payload, linear
    * in the copy-disjoint graph. */
  private val Lz4ScratchPerInputByte = 14.0

  /** zstd trips only when the modeled lz4 peak would exceed HALF the
    * usable scratch: a full-surface pass keeps streaming replay
    * fixtures and layout scratch alongside the peak query's spill (the
    * r17 capstone ran zstd because lz4's ISOLATED ~8 GB margin was
    * thinner than those leftovers), and the model is one measured
    * workload mix — 2× headroom is what turns "estimated to fit" into
    * "fits with the margin the capstone observed". */
  private val ScratchHeadroomFactor = 0.5

  /** The codec decision, pure so HarnessSpec can pin both sides: lz4
    * below the threshold (toy-scale broadcasts and small shuffles pay
    * zstd's CPU with nothing to win back — measured +18% on the sf0.1
    * surface), zstd above it (at sf30 it buys 16 GB of scratch and 10%
    * of wall time in the shuffle-bound regime — SCALE.md r17). */
  private[graft] def autoIoCodec(inputBytes: Long,
      scratchUsableBytes: Long): String =
    if (inputBytes * Lz4ScratchPerInputByte >
        scratchUsableBytes * ScratchHeadroomFactor) "zstd" else "lz4"

  /** Recursive byte size of the session's data directory via its Hadoop
    * FileSystem (works for file:, hdfs:, s3a: — one ContentSummary
    * call, no row reads). 0 on any failure: an unreadable dir must
    * fall back to the lz4 default, never crash session construction. */
  private[graft] def dataDirBytes(dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        .getContentSummary(p).getLength
    } catch { case _: Exception => 0L }

  /** Codec wiring: auto needs a data-dir handle, and SPARK_GRAFT_SF_DIR
    * (the data directory Bench and every scale probe read) is the one
    * available at session construction. Unset (unit tests, Verify's
    * arg-passed dir at toy SF) → lz4, the declared default. A non-lz4
    * choice is announced on stderr so a capstone log self-attributes its
    * codec. */
  private def chosenIoCodec(): String =
    sys.env.get("SPARK_GRAFT_SF_DIR").fold("lz4") { dir =>
      val scratch = new java.io.File(
        sys.props.getOrElse("spark.local.dir",
          sys.props.getOrElse("java.io.tmpdir", "/tmp")))
        .getUsableSpace
      val input = dataDirBytes(dir)
      val codec = autoIoCodec(input, scratch)
      if (codec != "lz4") System.err.println(
        f"[session] io codec=$codec (auto: input ${input / 1e9}%.1f GB" +
          f" x $Lz4ScratchPerInputByte%.0f B/B lz4-scratch model > " +
          f"${ScratchHeadroomFactor}%.1f x ${scratch / 1e9}%.1f GB free)")
      codec
    }

  def get(appName: String): SparkSession = {
    val spark = builder().appName(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // releaseCaches unpersists locally-checkpointed RDDs of FINISHED
    // queries; each unpersist logs a WARN ("lineage has been truncated
    // and cannot be recomputed") that is expected and harmless here —
    // and ~500 of them would crowd the 2000-char stdout tail the bench
    // driver parses. Raise just the rdd package loggers to ERROR.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // getOrCreate hands back an already-running session as is, without
    // applying the builder's extensions: fail here rather than at the
    // first query that calls an engine function.
    require(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("md5_base60")),
      s"session '${spark.sparkContext.appName}' was not built by " +
        "Sessions.builder and lacks the engine's functions; build it with " +
        "Sessions.builder or spark.sql.extensions=" +
        "graft.functions.GraftExtensions")
    spark
  }

  /** Drop every persisted block owned by the context. `localCheckpoint()`
    * registers its materialized blocks as persisted RDDs, and the
    * ContextCleaner frees them only after the RDD is GC'd AND its async
    * reference queue drains — across a 138-query bench (each query built
    * 4× : warmup + 3 timed runs) the checkpoint blocks of finished
    * queries otherwise pile up in the 8g driver's unified pool, pushing
    * LATER checkpoint-heavy queries' blocks to disk. That pressure is
    * exactly the r8→r7 bench signature: median per-query ratio 1.05 but
    * every localCheckpoint-using query 1.2–3.1× slower. Calling this
    * between queries is safe because a finished query's DataFrames are
    * never re-executed (each bench run rebuilds the plan from scratch).
    *
    * HARNESS-ONLY invariant: this unpersists EVERY persisted RDD in the
    * context, and an unpersisted localCheckpoint is unrecoverable (its
    * lineage is truncated). Callers must guarantee nothing live still
    * reads persisted blocks — no PERSISTED DataFrame memoized across
    * queries (the engine memoizes layout PATHS — cellLayoutFor — and,
    * since r15, resolved driver-table frames in Tables.table; the
    * latter stays safe ONLY because resolveTable never persists or
    * localCheckpoints the shared frame — a .persist() added there
    * would be silently wiped between bench queries, so don't) and no
    * concurrently RUNNING streaming query whose
    * static side was checkpointed (mergeStream). Bench and Verify hold
    * both invariants by construction; do not call this from operator
    * code.
    */
  def releaseCaches(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))

  /** Heap bytes of ONE worker JVM — the memory that actually backs task
    * buffers and streaming state: the live driver JVM in local mode
    * (honors -Xmx, where executors ARE the driver), `spark.executor
    * .memory` in cluster mode. The single-JVM bound is deliberately
    * conservative for per-JVM accumulators (a micro-batch's join state
    * spreads across executors, but a skewed key set may not).
    */
  def workerHeapBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    if (sc.isLocal) Runtime.getRuntime.maxMemory
    else sc.getConf.getSizeAsBytes("spark.executor.memory", "1g")
  }

  /** Task slots per worker JVM: the local[n] slot count in local mode;
    * `spark.executor.cores` when set in cluster mode. When UNSET on a
    * cluster, the slot count is inferred as defaultParallelism (total
    * live cores) over the live executor count — NOT defaulted to 1:
    * Spark standalone gives an unset-cores executor ALL of a worker's
    * cores, so a default of 1 would overstate per-slot memory by the
    * core count and re-open the exact spill cliff the per-slot rules
    * exist to avoid.
    */
  def workerSlots(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    if (sc.isLocal) math.max(1, sc.defaultParallelism)
    else sc.getConf.getOption("spark.executor.cores").map(_.trim.toInt)
      .getOrElse {
        val execs =
          math.max(1, sc.statusTracker.getExecutorInfos.length - 1)
        math.max(1, sc.defaultParallelism / execs)
      }
  }
}
