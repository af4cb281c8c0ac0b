package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TradingOps

/** Bucketed + sorted storage (Tables.writeBucketed) must let
  * symbol-clustered operators run WITHOUT a shuffle — the 100 TB answer
  * to "every window stage re-shuffles the symbol's history". Plan-level
  * assertions: the physical plan over the bucketed table has no
  * ShuffleExchange where the plain-parquet plan has one, and results are
  * identical.
  */
class BucketingSpec extends SparkSpec {

  /** Count hash-partitioning shuffle exchanges in the FINAL (post-AQE)
    * physical plan — AdaptiveSparkPlanExec hides its input plan from
    * TreeNode.collect, so execute first and read the final-plan string.
    */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  private lazy val bucketed: DataFrame = {
    val candles = candleFrame(Map(
      "a" -> (1 to 200).map(_.toDouble),
      "b" -> (1 to 150).map(i => 300.0 - i),
      "c" -> (1 to 100).map(i => 50.0 + (i % 7))))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bucketed").toString
    Tables.writeBucketed(candles, "candles_bucketed", s"$dir/candles", 4)
    spark.table("candles_bucketed")
  }

  test("window over bucketed symbol table plans zero shuffles") {
    val plain = candleFrame(Map("a" -> (1 to 50).map(_.toDouble)))
    val winPlain = TradingOps.movingAverages(plain)
    val winBucketed = TradingOps.movingAverages(bucketed)
    assert(shuffles(winPlain) >= 1, "plain input must need an exchange")
    assert(shuffles(winBucketed) == 0,
      s"bucketed scan must satisfy the window's distribution:\n" +
        winBucketed.queryExecution.executedPlan)
  }

  test("groupBy(symbol) over bucketed table plans zero shuffles") {
    val agg = bucketed.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"), max(col("close")).as("mx"))
    assert(shuffles(agg) == 0,
      s"bucketed scan must satisfy the aggregate's distribution:\n" +
        agg.queryExecution.executedPlan)
  }

  test("bucketed and plain paths produce identical results") {
    val fromBucketed = TradingOps.crossoverSignals(
      TradingOps.movingAverages(bucketed))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val plain = candleFrame(Map(
      "a" -> (1 to 200).map(_.toDouble),
      "b" -> (1 to 150).map(i => 300.0 - i),
      "c" -> (1 to 100).map(i => 50.0 + (i % 7))))
    val fromPlain = TradingOps.crossoverSignals(
      TradingOps.movingAverages(plain))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(fromBucketed == fromPlain)
  }

  test("candles_bucketed (declared) equals window_leads off the plain " +
    "candle derivation") {
    // both declared queries read the stored layout (Tables.candles), so
    // the witness is the same window over the plain derivation
    val dir = "/root/testdata/sf0.001"
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("ts"))
    val plain = rows(Tables.candlesFromEvents(spark, dir)
      .select(col("symbol"), col("ts"), col("close"),
        lead(col("close"), 1).over(w).as("next_close"),
        first_value(col("close")).over(w).as("first_close"),
        nth_value(col("close"), 3).over(w).as("third_close")))
    for (q <- Seq("candles_bucketed", "window_leads"))
      assert(rows(SparkEntry.queries(q)(spark, dir)) == plain,
        s"$q must reproduce the plain derivation's window bit-for-bit")
  }

  test("Tables.candles reads the stored layout and equals the derivation " +
    "row for row, with the same column names and types") {
    val dir = "/root/testdata/sf0.001"
    val stored = Tables.candles(spark, dir)
    val derived = Tables.candlesFromEvents(spark, dir)
    assert(stored.schema.map(f => (f.name, f.dataType)) ==
      derived.schema.map(f => (f.name, f.dataType)))
    assert(stored.queryExecution.analyzed.toString
      .contains(Tables.bucketedCandlesFor(spark, dir)),
      "Tables.candles must scan the bucketed layout, not re-aggregate")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val want = rows(derived)
    assert(want.size > 100, s"fixture too small: ${want.size} candles")
    assert(rows(stored).sortBy(_.toString) == want.sortBy(_.toString))
  }

  test("bucketedCandlesFor re-registers its table when the catalog lost " +
    "it (memoized name must survive a catalog reset)") {
    val dir = "/root/testdata/sf0.001"
    val tbl = Tables.bucketedCandlesFor(spark, dir)
    val before = spark.table(tbl).count()
    // simulate the stale-name hazard: callers hold the name, but the
    // (in-memory) catalog no longer has the table — the state a session
    // stop/rebuild leaves behind
    spark.sql(s"DROP TABLE $tbl")
    val again = Tables.bucketedCandlesFor(spark, dir)
    assert(again == tbl, "key derivation must be deterministic")
    assert(spark.table(again).count() == before,
      "the fixture must rebuild, not hand back a dangling identifier")
  }

  test("bucketedCandlesFor rebuilds single-flight: two queries sharing " +
    "one session rewrite a lost layout exactly once") {
    val dir = "/root/testdata/sf0.001"
    val tbl = Tables.bucketedCandlesFor(spark, dir)
    val want = Tables.candlesFromEvents(spark, dir).count()
    spark.sql(s"DROP TABLE $tbl")
    // every saveAsTable of the layout runs one CTAS command on its name
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = qe.logical match {
        case c: org.apache.spark.sql.execution.command
            .CreateDataSourceTableAsSelectCommand
            if c.table.identifier.table == tbl => writes.incrementAndGet()
        case _ if qe.logical.toString.contains("single_flight_sentinel") =>
          sentinel.countDown()
        case _ =>
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val start = new java.util.concurrent.CyclicBarrier(2)
      val counts = Seq.fill(2)(pool.submit(() => {
        start.await()
        Tables.candles(spark, dir).count()
      })).map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(counts == Seq(want, want))
      // listener delivery is async but ordered: once an execution that
      // started after both queries returned is delivered, every write
      // they made has been counted
      spark.range(1).toDF("single_flight_sentinel").collect()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel execution never reached the listener")
      assert(writes.get == 1,
        s"the lost layout was rewritten ${writes.get} times, not once")
    } finally {
      pool.shutdown()
      spark.listenerManager.unregister(listener)
    }
  }

  test("date-partitioned writes prune partitions at scan (sorted-index analog)") {
    // the 100 TB analog of the reference's sorted-index `.loc[start:end]`
    // slice: date-partitioned parquet + Catalyst partition pruning reads
    // only the in-range directories
    val candles = candleFrame(Map(
      "a" -> (1 to 2880).map(_.toDouble))) // 2 days of minutes
      .withColumn("day", to_date(col("ts")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-partitioned").toString
    candles.write.mode("overwrite").partitionBy("day").parquet(dir)
    val read = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-02")
    assert(read.count() == 1440)
    // the day predicate must land in PartitionFilters (directory pruning),
    // not PushedFilters (row-group filtering) — inputFiles can't show this
    // because it reports the relation's full file list pre-pruning
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^]]*day[^]]*\\].*"),
      s"expected the day predicate as a partition filter:\n$scan")
  }

  test("DYNAMIC partition pruning: a filtered dimension prunes the " +
      "fact scan at runtime") {
    // the 100 TB star-join scan reducer: the date dimension's predicate
    // is only known at runtime (it sits on the dim side of the join), so
    // Catalyst injects a dynamicpruning subquery into the fact scan's
    // PartitionFilters — the fact side reads ONE day's directory, not all
    import spark.implicits._
    // 20 day-partitions so DPP's benefit heuristic (pruned bytes >
    // subquery overhead) clearly holds — on a 2-partition toy fact the
    // rule correctly declines to fire
    val candles = candleFrame(Map(
      "a" -> (1 to 28800).map(_.toDouble))) // 20 days of minutes
      .withColumn("day", to_date(col("ts")))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString
    candles.write.mode("overwrite").partitionBy("day").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a REAL source with a surviving Filter — a local Seq
    // constant-folds the predicate away and DPP's selective-predicate
    // check never fires
    // the predicate must be a LITERAL comparison — DPP's
    // isLikelySelective check rejects a bare boolean attribute
    (1 to 20).map(d => (f"2024-01-$d%02d", if (d == 2) "keep" else "drop"))
      .toDF("d", "tag")
      .select(to_date(col("d")).as("day"), col("tag"))
      .write.mode("overwrite").parquet(s"$dir-dim")
    val dim = spark.read.parquet(s"$dir-dim").filter(col("tag") === "keep")
    val joined = fact.join(dim, Seq("day"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan's " +
        s"PartitionFilters:\n$plan")
    assert(joined.count() == 1440)
  }

  test("runtime BLOOM filter: a selective dim predicate injects " +
      "bloom_filter_might_contain into the shuffle-join probe side") {
    // DPP's sibling for NON-partition join keys: when the fact⋈fact join
    // must shuffle, a selective literal predicate on one side lets Spark
    // build a bloom filter over its join keys and push a might_contain
    // pre-filter into the other side's scan — at 100 TB this drops most
    // probe rows BEFORE the exchange instead of after it. Thresholds are
    // lowered because the heuristics (correctly) decline on toy inputs.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom").toString
    (1 to 200000).map(k => (k.toLong, k % 97)).toDF("fk", "v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (1 to 5000).map(k => (k.toLong, if (k % 500 == 0) "keep" else "drop"))
      .toDF("k", "tag").write.mode("overwrite").parquet(s"$dir/build")
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // force a shuffle join: broadcast would make the bloom filter moot
      // (and the rule skip) — the proof is about the shuffle path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = spark.read.parquet(s"$dir/fact")
      val build = spark.read.parquet(s"$dir/build")
        .filter(col("tag") === "keep")
      val joined = fact.join(build, col("fk") === col("k"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a bloom runtime filter on the probe side:\n$plan")
      assert(joined.count() == 10)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("one file per bucket (sort-order-exposing layout)") {
    // bucket id is encoded in the file name as the _NNNNN suffix; empty
    // buckets write no file — the invariant is no bucket has TWO files
    val files = bucketed.inputFiles
    val bucketIds = files.map { f =>
      "_(\\d{5})\\.".r.findFirstMatchIn(f).map(_.group(1))
        .getOrElse(fail(s"no bucket id in $f"))
    }
    assert(files.nonEmpty && bucketIds.distinct.length == files.length,
      s"a bucket has multiple files: ${files.toSeq}")
  }

  test("cell-partitioned embedding layout: probing n cells opens only " +
    "those cells' files (IVF inverted-list as parquet partitioning)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_layout")
      .toString
    graft.operators.Similarity.writeCellPartitioned(emb, dir)
    val layout = spark.read.parquet(dir)
    // round trip: every vector lands in exactly one cell
    assert(layout.count() == emb.count())
    val cells = layout.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).sorted
    assert(cells.length > 1, "need multiple cells for a pruning claim")
    // probe 2 cells: the EXECUTED scan must open only those directories
    // (inputFiles reflects the unfiltered relation — the authoritative
    // count is the scan node's numFiles metric after execution)
    val probed = Seq(cells(0), cells(1))
    val q = layout.filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    val probedRows = q.collect().length
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the probed plan"))
    assert(scan.metadata("PartitionFilters").contains("cell"),
      s"the cell probe must be a PartitionFilter:\n${scan.metadata}")
    val readFiles = scan.metrics("numFiles").value
    val allFiles = layout.inputFiles.length
    assert(readFiles > 0 && readFiles < allFiles,
      s"probe must prune directories: $readFiles/$allFiles files read")
    // and the probed subset is exactly the vectors assigned to the cells
    assert(probedRows > 0 && probedRows < layout.count().toInt)

    // probe path: with nprobe = nlist the layout probe must equal the
    // brute-force annTopK EXACTLY — the approximation lives only in
    // which cells are probed, never in the scoring
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val exact = rows(graft.operators.Similarity.annTopK(emb, 8, 5))
    val probeAll = rows(graft.operators.Similarity.annTopKFromLayout(
      spark, dir, 8, 5, nprobe = cells.length))
    assert(probeAll == exact,
      "probing every cell must reproduce brute force bit-for-bit")
    val probe2 = rows(graft.operators.Similarity.annTopKFromLayout(
      spark, dir, 8, 5, nprobe = 2))
    assert(probe2.nonEmpty && probe2.map(_._1) == exact.map(_._1),
      "a 2-cell probe still answers every query")
  }

  test("ann_topk_ivf_layout (declared query) probes the stored index: " +
    "build-once fixture, probe-all ≡ brute force, pruned scan") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.table(spark, sfDir, "embeddings")
    // the declared entry answers every query from the stored layout
    val declared = SparkEntry.queries("ann_topk_ivf_layout")(spark, sfDir)
      .collect()
    assert(declared.nonEmpty &&
      declared.map(_.getLong(0)).distinct.length == 8,
      "every query id must be answered from the layout")
    // the fixture is memoized — a second request returns the SAME stored
    // index, no rebuild
    val p1 = graft.operators.Similarity.cellLayoutFor(spark, sfDir)
    assert(p1 == graft.operators.Similarity.cellLayoutFor(spark, sfDir))
    // probing every cell of the stored index reproduces brute force
    // bit-for-bit — the approximation lives only in cell choice
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val layout = spark.read.parquet(p1)
    val nCells = layout.select(col("cell")).distinct().count().toInt
    assert(rows(graft.operators.Similarity.annTopKFromLayout(
      spark, p1, 8, 5, nprobe = nCells)) ==
      rows(graft.operators.Similarity.annTopK(emb, 8, 5)),
      "probe-all over the DECLARED fixture must equal brute force")
    // cell probes prune at directory level on the stored index
    val cells = layout.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).sorted.take(2)
    val q = layout.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the probed plan"))
    assert(scan.metrics("numFiles").value < layout.inputFiles.length,
      "the stored index must serve cell probes from the probed " +
        "directories only")
    // a layout missing its codebook is invalid and must fail fast with
    // the invariant message, not a confusing path error
    val bad = java.nio.file.Files.createTempDirectory("ivf_bad").toString
    emb.limit(10).withColumn("cell", lit(0))
      .write.partitionBy("cell").mode("overwrite").parquet(bad)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.annTopKFromLayout(spark, bad, 2, 2, 1)
    }
    assert(e.getMessage.contains("_centroids"))
  }

  test("incremental IVF append: day's vectors ingest against the stored " +
    "codebook; probe-all over the grown index equals brute force") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.table(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    // build on two-thirds of the corpus, append the remaining third —
    // appended vectors are assigned by the STORED codebook (built
    // without them), so their cells differ from a full rebuild's; the
    // exactness contract is assignment-INDEPENDENT: probing every cell
    // of the grown index reproduces brute force over the full corpus
    // bit-for-bit
    graft.operators.Similarity.writeCellPartitioned(
      emb.filter(col("vec_id") % 3 =!= 0), dir)
    graft.operators.Similarity.appendToCellLayout(spark, dir,
      emb.filter(col("vec_id") % 3 === 0))
    val layout = spark.read.parquet(dir)
    assert(layout.count() == emb.count(),
      "append must grow the stored index to the full corpus")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val nCells = layout.select(col("cell")).distinct().count().toInt
    assert(rows(graft.operators.Similarity.annTopKFromLayout(
      spark, dir, 8, 5, nprobe = nCells)) ==
      rows(graft.operators.Similarity.annTopK(emb, 8, 5)),
      "probe-all over the appended index must equal full-corpus brute " +
        "force")
    // appending to a dir that was never built must fail fast
    val unbuilt = java.nio.file.Files.createTempDirectory("ivf_nb").toString
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.appendToCellLayout(spark, unbuilt,
        emb.limit(5))
    }
    assert(e2.getMessage.contains("_centroids"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(unbuilt))
  }

  test("appendedCellLayoutFor (the declared ann_topk_ivf_append fixture) " +
    "holds the full corpus with a genuinely non-empty appended delta") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = Tables.table(spark, sfDir, "embeddings")
    val path = graft.operators.Similarity
      .appendedCellLayoutFor(spark, sfDir)
    val layout = spark.read.parquet(path)
    assert(layout.count() == emb.count(),
      "grown index must hold every corpus vector")
    val deltaN = emb
      .filter(col("vec_id") >= 8 && col("vec_id") % 10 === 3).count()
    assert(deltaN > 0, "fixture must exercise a non-empty append delta")
    // memoized: a second call must return the same path, not rebuild
    assert(graft.operators.Similarity
      .appendedCellLayoutFor(spark, sfDir) == path)
  }
}
