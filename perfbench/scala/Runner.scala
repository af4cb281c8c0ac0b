package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Bench, Sessions, SparkEntry, Tables}
import graft.operators.Similarity

/** One workload run of the benchmark in one JVM with one closed-loop
  * client: set up (session, build-once layouts, one cold untimed pass),
  * further untimed warm passes, a fixed number of timed passes over the
  * workload's queries in a seeded order, then one untimed check pass that
  * writes each result for the output check. The pass counts are constants
  * of the workload ([[Catalog.Mix]]); `--seconds` over the workload's
  * nominal pass time gives the timed ones. Every timed result goes through
  * `Bench.materialize`, the noop sink the engine's own bench uses, and
  * `Sessions.releaseCaches` runs between queries. Writes `result.json`
  * (and `spans.jsonl` when traced) to `--out`; `perfbench/run.py` launches
  * it and checks the outputs.
  *
  * Usage: Runner --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --modules FILE --launch-ms EPOCH_MS
  *        Runner --oracle-dump FILE
  */
object Runner {
  /** `Exec.pass` of the warm passes and of the check pass; timed passes
    * count from 1. */
  private val WarmPass = 0
  private val CheckPass = -1

  /** One query execution. Times are epoch ms (spans) and seconds. */
  final case class Exec(span: Int, query: String, module: String, pass: Int,
      traced: Boolean, startMs: Long, buildEndMs: Long, endMs: Long,
      wallS: Double, gcS: Double, heapMb: Double, storedBytes: Long,
      error: Option[String])

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

  private def die(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  /** Total length of the union of `[start, end]` intervals clipped to
    * `[lo, hi]`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (a max lo, b min hi) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - (a max reach); reach = b }
      }
    total
  }

  /** Milliseconds the JIT compilers have spent so far. */
  private def jitMillis(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String = opt.getOrElse(k, die(s"missing --$k"))
    // --oracle-dump FILE: write every declared query's oracle SQL and stop
    opt.get("oracle-dump").foreach { f =>
      writeLines(new File(f), Seq(json(SparkEntry.oracleSql)))
      return
    }
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val data = need("data")
    val out = new File(need("out"))
    val launchMs = need("launch-ms").toLong
    // name<TAB>module<TAB>the build-once layout functions it calls
    val lines = {
      val src = scala.io.Source.fromFile(need("modules"))
      try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toList
      finally src.close()
    }
    val layoutsOf = lines.map(a => a(0) -> a(2).split(',').filter(_.nonEmpty).toSeq).toMap
    val catalog = Catalog.build(lines.map(a => a(0) -> a(1))) match {
      case Left(problems) =>
        die("query catalog refused:\n  " + problems.mkString("\n  "))
      case Right(c) => c
    }
    out.mkdirs()
    writeLines(new File(out, "catalog.tsv"),
      catalog.map(e => s"${e.query}\t${e.workload}\t${e.module}"))
    // a workload is a gated mix, one cell family.module, or a whole family;
    // the cells and families make one warm and one timed pass
    val mix = Catalog.Mixes.find(_.name == workload)
    val entries = mix match {
      case Some(x) => x.queries.flatMap(q => catalog.find(_.query == q))
      case None => catalog.filter(e => e.workload == workload || e.family == workload)
    }
    if (entries.isEmpty)
      die(s"unknown workload $workload; the workloads are " +
        Catalog.Mixes.map(_.name).mkString(", ") + ", the families " +
        Catalog.Families.mkString(", ") + " and their cells " +
        catalog.map(_.workload).distinct.sorted.mkString(", "))
    val warmPasses = mix.fold(1)(_.warmPasses)
    val plannedPasses = mix.fold(1)(_.timedPasses(seconds))
    // traced runs alternate traced and untraced passes in ABBA order, at
    // least two of each: the two kinds see the same warm-up slope
    val timedPasses = if (trace) math.max(4, plannedPasses) else plannedPasses
    def tracedPass(pass: Int): Boolean = trace && (pass % 4 == 1 || pass % 4 == 0)
    val moduleOfQuery = entries.map(e => e.query -> e.module).toMap
    val names = entries.map(_.query)
    val results = new File(out, "results")
    results.mkdirs()
    writeLines(new File(results, "oracle_sql.json"), Seq(json(
      names.map(q => q -> SparkEntry.oracleSql(q)).toMap)))

    // ---- spans: run → setup/pass → query → build/exec (→ job → stage) ---
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0
    def span(parent: Int, kind: String, name: String, start: Long,
        end: Long, attrs: Map[String, Any] = Map.empty): Int = {
      nextId += 1
      spans += Span(nextId, parent, kind, name, start, end, attrs)
      nextId
    }
    @volatile var currentQuerySpan = -1

    // the i-th pass of the run (warm, timed, check) runs order(i)
    def order(i: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + i).shuffle(names)

    // ---- setup --------------------------------------------------------
    val setupStart = System.currentTimeMillis
    val t0 = System.nanoTime
    val spark = Sessions.get("graft-perfbench")
    val sessionsGetS = (System.nanoTime - t0) / 1e9
    val streams = new StreamTracer(() => currentQuerySpan)
    spark.streams.addListener(streams)
    val tracer = new SparkTracer
    if (trace) spark.sparkContext.addSparkListener(tracer)
    val sessionEnd = System.currentTimeMillis
    def timed(body: => Unit): Double = {
      val s = System.nanoTime
      body
      (System.nanoTime - s) / 1e9
    }
    // the build-once layouts this workload's queries call, built up front
    val layouts = names.flatMap(layoutsOf).toSet
    val tablesLayoutS = timed {
      if (layouts("bucketedCandlesFor")) Tables.bucketedCandlesFor(spark, data)
      if (layouts("zorderedEventsFor")) Tables.zorderedEventsFor(spark, data)
    }
    val tablesEnd = System.currentTimeMillis
    val similarityLayoutS = timed {
      if (layouts("cellLayoutFor")) Similarity.cellLayoutFor(spark, data)
      if (layouts("appendedCellLayoutFor")) Similarity.appendedCellLayoutFor(spark, data)
    }
    val layoutsEnd = System.currentTimeMillis

    val execs = mutable.ArrayBuffer.empty[Exec]
    // JIT compile time during each warm and timed pass
    val jitPerPass = mutable.ArrayBuffer.empty[Long]
    def execute(query: String, pass: Int, traced: Boolean, parent: Int,
        sink: DataFrame => Unit): Exec = {
      val id = span(parent, "query", query, 0L, 0L)
      currentQuerySpan = id
      val gc0 = gcMillis()
      val start = System.currentTimeMillis
      val n0 = System.nanoTime
      var buildEnd = -1L
      val error = try {
        val df = SparkEntry.queries(query)(spark, data)
        buildEnd = System.currentTimeMillis
        sink(df)
        None
      } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val wallS = (System.nanoTime - n0) / 1e9
      val end = start + math.round(wallS * 1000)
      if (buildEnd < 0) buildEnd = end
      currentQuerySpan = -1
      val gcS = (gcMillis() - gc0) / 1000.0
      // outside the timed region: persisted blocks still held by this
      // query, then (check pass only) its live heap, then release. The
      // heap is read after a second full GC, once the ContextCleaner has
      // had time to drop the blocks the first one found unreachable:
      // after a single GC the reading depended on how far that
      // asynchronous cleanup had got
      val stored = if (traced) spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum else 0L
      val heapMb = if (pass != CheckPass) 0.0 else {
        System.gc()
        Thread.sleep(250)
        System.gc()
        val rt = Runtime.getRuntime
        (rt.totalMemory - rt.freeMemory) / 1048576.0
      }
      Sessions.releaseCaches(spark)
      val x = Exec(id, query, moduleOfQuery(query), pass, traced, start,
        buildEnd, end, wallS, gcS, heapMb, stored, error)
      spans(id - 1) = Span(id, parent, "query", query, start, end,
        Map("module" -> x.module, "pass" -> pass, "traced" -> traced,
          "error" -> error))
      span(id, "build", query, start, buildEnd)
      span(id, "exec", query, buildEnd, end)
      execs += x
      error.foreach(e => System.err.println(s"perfbench: $query failed: $e"))
      x
    }

    // untimed warm passes at the target data (noop sink). Setup ends with
    // the first, cold one; the rest take a fresh JVM's sub-second queries
    // further down their JIT slope before timing starts
    def warm(i: Int): Unit = {
      val ws = System.currentTimeMillis
      val wid = span(0, "pass", s"warm$i", ws, 0L)
      val j0 = jitMillis()
      order(i).foreach(q => execute(q, WarmPass, trace, wid, Bench.materialize))
      spans(wid - 1) = spans(wid - 1).copy(end = System.currentTimeMillis)
      // one full GC per pass lets the ContextCleaner drop the pass's
      // shuffles and broadcasts; one per query cost 0.17 s each
      System.gc()
      jitPerPass += jitMillis() - j0
    }
    warm(0)
    val setupEnd = System.currentTimeMillis
    val setupS = (setupEnd - launchMs) / 1000.0
    span(0, "setup", "Sessions.get", setupStart, sessionEnd)
    span(0, "setup", "Tables.layout", sessionEnd, tablesEnd)
    span(0, "setup", "Similarity.layout", tablesEnd, layoutsEnd)
    (1 until warmPasses).foreach(warm)
    val warmEnd = System.currentTimeMillis

    // ---- timed passes -------------------------------------------------
    def fence(): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup("perfbench-fence", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      tracer.fence(sc.statusTracker.getJobIdsForGroup("perfbench-fence").max)
      streams.fence()
    }
    val passTimes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var listening = trace
    (1 to timedPasses).foreach { pass =>
      val traced = tracedPass(pass)
      if (traced && !listening) {
        spark.sparkContext.addSparkListener(tracer)
        listening = true
      }
      val ps = System.currentTimeMillis
      val pid = span(0, "pass", s"pass$pass", ps, 0L)
      val pn = System.nanoTime
      val j0 = jitMillis()
      order(warmPasses + pass - 1).foreach { q =>
        execute(q, pass, traced, pid, Bench.materialize)
      }
      jitPerPass += jitMillis() - j0
      // pass time sums the queries' timed regions; the release between
      // queries and the GC after the pass are outside them
      val passS = execs.filter(_.pass == pass).map(_.wallS).sum
      spans(pid - 1) = spans(pid - 1).copy(end = ps + (System.nanoTime - pn) / 1000000L,
        attrs = Map("pass_s" -> passS, "traced" -> traced))
      passTimes += passS -> traced
      System.gc()
      if (traced) {
        fence()
        spark.sparkContext.removeSparkListener(tracer)
        listening = false
      }
    }

    // untimed check pass after the timed ones: its results, computed over
    // the state the timed passes left (memos, layout caches), go to parquet
    // for the output check
    val cs = System.currentTimeMillis
    val cid = span(0, "pass", "check", cs, 0L)
    order(warmPasses + timedPasses).foreach { q =>
      execute(q, CheckPass, false, cid,
        _.write.mode("overwrite").parquet(new File(results, q).getPath))
    }
    val checkEnd = System.currentTimeMillis
    spans(cid - 1) = spans(cid - 1).copy(end = checkEnd)
    streams.fence()
    // wall time of each phase, for sizing a workload's pass counts
    val phaseS = ListMap("setup" -> (setupEnd - launchMs), "warm" -> (warmEnd - setupEnd),
      "timed" -> (cs - warmEnd), "check" -> (checkEnd - cs)).map { case (k, v) => k -> v / 1000.0 }

    // ---- metrics ------------------------------------------------------
    val timedExecs = execs.filter(_.pass > 0)
    val batches = streams.drain()
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val untracedPasses = passTimes.filterNot(_._2).map(_._1)
    if (!trace) {
      e2e("setup_s") = setupS
      e2e("pass_s") = median(untracedPasses)
      val perQuery = timedExecs.filter(_.error.isEmpty).groupBy(_.query)
        .values.map(xs => median(xs.map(_.wallS)))
      e2e("query_geomean_s") =
        math.exp(perQuery.map(math.log).sum / math.max(perQuery.size, 1))
      // the query with the highest live heap in the check pass
      e2e("heap_live_peak_mb") = execs.filter(_.pass == CheckPass).map(_.heapMb).max
    }
    val timedSpans = timedExecs.map(_.span).toSet
    val triggers = batches.filter(b => timedSpans(b.span))
      .flatMap(_.durationsMs.get("triggerExecution")).map(_ / 1000.0)
    val batchP50 = if (triggers.isEmpty) None else Some(median(triggers))

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    var overhead: Option[Double] = None
    if (trace) {
      val (jobs, stages) = tracer.drain()
      val stageOf = stages.groupBy(_.id)
      val tracedExecs = execs.filter(_.traced)
      val jobsOf = tracedExecs.map { x =>
        x.span -> jobs.filter(j => j.start >= x.startMs && j.start <= x.endMs)
      }.toMap
      // job and stage spans, parented to the build or exec span they began in
      val childOf = spans.filter(s => s.kind == "build" || s.kind == "exec")
        .map(s => (s.parent, s.kind) -> s.id).toMap
      tracedExecs.foreach { x =>
        jobsOf(x.span).foreach { j =>
          val phase = if (j.start < x.buildEndMs) "build" else "exec"
          val jid = span(childOf((x.span, phase)), "job", s"job${j.id}", j.start, j.end)
          j.stageIds.flatMap(stageOf.getOrElse(_, Nil)).foreach { st =>
            span(jid, "stage", st.name, st.start, st.end, Map(
              "stage" -> st.id, "attempt" -> st.attempt, "tasks" -> st.tasks,
              "input_bytes" -> st.inputBytes,
              "shuffle_write_bytes" -> st.shuffleWriteBytes,
              "spill_bytes" -> st.spillBytes, "skew" -> st.skew))
          }
        }
      }
      val measured = tracedExecs.filter(_.pass > 0)
      val nTraced = math.max(passTimes.count(_._2), 1).toDouble
      Catalog.Modules.foreach { m =>
        val xs = measured.filter(_.module == m)
        val js = xs.flatMap(x => jobsOf(x.span))
        val sts = js.flatMap(_.stageIds).distinct.flatMap(stageOf.getOrElse(_, Nil))
        perLayer(s"$m.build_s") = xs.map(x => (x.buildEndMs - x.startMs) / 1000.0).sum / nTraced
        perLayer(s"$m.exec_s") = xs.map(x => (x.endMs - x.buildEndMs) / 1000.0).sum / nTraced
        perLayer(s"$m.driver_s") = xs.map { x =>
          (x.endMs - x.startMs - covered(jobsOf(x.span).map(j => (j.start, j.end)),
            x.startMs, x.endMs)) / 1000.0
        }.sum / nTraced
        perLayer(s"$m.jobs") = js.size / nTraced
        perLayer(s"$m.tasks") = sts.map(_.tasks).sum / nTraced
        perLayer(s"$m.task_skew") = if (sts.isEmpty) 0.0 else sts.map(_.skew).max
        perLayer(s"$m.shuffle_write_bytes") = sts.map(_.shuffleWriteBytes).sum / nTraced
        perLayer(s"$m.spill_bytes") = sts.map(_.spillBytes).sum / nTraced
        perLayer(s"$m.checkpoint_bytes") = xs.map(_.storedBytes).sum / nTraced
        perLayer(s"$m.gc_s") = xs.map(_.gcS).sum / nTraced
      }
      perLayer("Sessions.get_s") = sessionsGetS
      perLayer("Tables.layout_s") = tablesLayoutS
      perLayer("Similarity.layout_s") = similarityLayoutS
      val measuredStages = measured.flatMap(x => jobsOf(x.span))
        .flatMap(_.stageIds).distinct.flatMap(stageOf.getOrElse(_, Nil))
        .filter(_.inputBytes > 0)
      perLayer("Tables.input_bytes") = measuredStages.map(_.inputBytes).sum / nTraced
      perLayer("Tables.scan_s") =
        measuredStages.map(s => (s.end - s.start) / 1000.0).sum / nTraced
      val measuredSpans = measured.map(_.span).toSet
      val bs = batches.filter(b => measuredSpans(b.span))
      def phase(k: String) = bs.flatMap(_.durationsMs.get(k)).sum / 1000.0 / nTraced
      perLayer("EventStreams.batches") = bs.size / nTraced
      perLayer("EventStreams.planning_s") = phase("queryPlanning")
      perLayer("EventStreams.add_batch_s") = phase("addBatch")
      perLayer("EventStreams.wal_commit_s") = phase("walCommit")
      perLayer("EventStreams.state_rows") =
        bs.groupBy(_.span).values.map(_.maxBy(_.batchId).stateRows).sum / nTraced
      if (untracedPasses.nonEmpty)
        overhead = Some(median(passTimes.filter(_._2).map(_._1)) /
          median(untracedPasses) - 1)
      val runEnd = System.currentTimeMillis
      writeLines(new File(out, "spans.jsonl"),
        (Span(0, -1, "run", workload, launchMs, runEnd, Map("seed" -> seed)) +: spans)
          .map(s => json(ListMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
            "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs)))
    }

    val passS = passTimes.map(_._1)
    writeLines(new File(out, "result.json"), Seq(json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "queries" -> names.size,
      "catalog" -> Catalog.Families.map(f => f -> catalog.count(_.family == f)).toMap,
      "phase_s" -> phaseS,
      "warm_passes" -> warmPasses, "passes" -> passS.size, "pass_times_s" -> passS,
      "jit_ms_per_pass" -> jitPerPass,
      "traced_passes" -> passTimes.count(_._2),
      "pass_max_s" -> (if (passS.isEmpty) 0.0 else passS.max),
      "batch_p50_s" -> batchP50, "trace_overhead" -> overhead,
      "attempted" -> execs.size,
      "errors" -> execs.filter(_.error.nonEmpty).map(x =>
        Map("query" -> x.query, "pass" -> x.pass, "error" -> x.error)),
      "end_to_end" -> e2e, "per_layer" -> perLayer,
      "per_query_median_s" -> timedExecs.filter(_.error.isEmpty).groupBy(_.query)
        .map { case (q, xs) => q -> median(xs.map(_.wallS)) }))))
    spark.stop()
  }

  private def writeLines(f: File, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
