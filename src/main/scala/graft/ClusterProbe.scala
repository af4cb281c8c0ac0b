package graft

import org.apache.spark.sql.functions._

/** Measurement harness (dev-only, like ScaleUp/ScaleSmoke): the
  * MULTI-JVM smoke for every driver-vs-executor memory inference in the
  * engine (r15 verdict item 5). All declared runs use `local[n]`, where
  * the driver JVM IS the executor — so a rule that accidentally read
  * DRIVER memory would test green locally and silently missize on a
  * real cluster, which is the first thing that breaks on one. This
  * probe starts `local-cluster[2,4,2048]` (a real standalone-style
  * master with TWO separate executor JVMs at 2 GiB each, launched from
  * SPARK_HOME) under a DELIBERATELY different driver heap, then
  * witnesses that every memory-derived rule sizes from the EXECUTOR
  * side:
  *
  *  - [[Sessions.workerHeapBytes]] must read `spark.executor.memory`
  *    (2 GiB), not the driver's -Xmx;
  *  - [[Sessions.workerSlots]] must infer 4 (defaultParallelism 8 over
  *    2 live executors — `spark.executor.cores` is deliberately left
  *    unset to exercise the standalone all-cores inference path);
  *  - [[graft.operators.GraphOps.edgeRowsPerPartition]] must derive
  *    625 k × (512 MiB per slot / 256) = 1.25 M edge rows;
  *  - [[graft.streaming.EventStreams.rowsPerSliceBound]] must derive
  *    8 M × (2 GiB / 8) = 2 M replay rows per slice;
  *
  * and then runs one streaming drain and one graph fixed-point
  * END-TO-END across the executor JVMs (classes shipped via
  * `spark.executor.extraClassPath`), checking the drained stream
  * against its batch form — the proof that the engine's code actually
  * executes and agrees under multi-JVM scheduling, serialization and
  * real network shuffles, not just that the arithmetic is right.
  *
  * Run: `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  * tools/java_run.sh graft.ClusterProbe` (the scala-version env spares
  * the worker's launcher its build-directory probe, which only works
  * inside a source checkout).
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode launches worker JVMs from SPARK_HOME — " +
        "run with SPARK_HOME=/opt/spark")
    val classes =
      new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = Sessions.builder("local-cluster[2,4,2048]")
      .appName("graft-cluster-probe")
      .config("spark.executor.memory", "2g")
      .config("spark.executor.extraClassPath", classes)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // wait for both executor JVMs to register before reading
      // live-executor-derived inferences (registration is async)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3
          && System.nanoTime() < deadline) Thread.sleep(200)
      val execs = spark.sparkContext.statusTracker.getExecutorInfos.length
      require(execs >= 3, s"expected driver + 2 executors, saw $execs")

      def check(name: String, got: Long, want: Long): Unit = {
        require(got == want, s"$name: got $got, want $want")
        println(s"[cluster-probe] PASS $name = $got")
      }
      val driverHeapMiB = Runtime.getRuntime.maxMemory / (1L << 20)
      println(s"[cluster-probe] driver -Xmx ≈ ${driverHeapMiB} MiB " +
        "(deliberately ≠ executor memory)")
      check("workerHeapBytes (spark.executor.memory, not driver -Xmx)",
        Sessions.workerHeapBytes(spark), 2L << 30)
      check("workerSlots (defaultParallelism / live executors)",
        Sessions.workerSlots(spark), 4L)
      check("edgeRowsPerPartition (625k × perSlotMiB/256)",
        graft.operators.GraphOps.edgeRowsPerPartition(spark), 1250000L)
      check("rowsPerSliceBound (8M × execHeapGiB/8)",
        graft.streaming.EventStreams.rowsPerSliceBound(spark), 2000000L)

      // end-to-end across executor JVMs: the windowed-aggregation drain
      // equals its batch form row-for-row (the drains' standing
      // stream ≡ batch contract, here under real multi-JVM shuffles)
      val streamed = graft.streaming.EventStreams
        .streamCandles(spark, dir)
      val batch = graft.Tables.candles(spark, dir)
      val diff = streamed.exceptAll(batch)
        .unionAll(batch.exceptAll(streamed)).count()
      require(diff == 0,
        s"stream ≢ batch under local-cluster: $diff differing rows")
      println("[cluster-probe] PASS stream_candles ≡ batch candles " +
        s"(${batch.count()} rows) across 2 executor JVMs")

      // graph fixed-point: BIGINT ranks are bit-exact at ANY
      // partitioning, so cluster-mode ranks must equal local-mode maths
      // — nonzero rows and a stable checksum witness the iteration ran
      val pr = SparkEntry.queries("pagerank_trade")(spark, dir)
      val n = pr.count()
      require(n > 0, "pagerank_trade returned no rows under local-cluster")
      println(s"[cluster-probe] PASS pagerank_trade $n rows " +
        "across 2 executor JVMs")
      println("[cluster-probe] ALL PASS")
    } finally spark.stop()
  }
}
