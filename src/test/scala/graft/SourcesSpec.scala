package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  test("OHLCV CSV round-trip: sink then schema-ful glob scan (S1-S5, S7)") {
    val dir = Files.createTempDirectory("graft-csv").toFile
    val out = s"${dir.getAbsolutePath}/btcusd"
    import spark.implicits._
    val frame = Seq(
      (1704067200000L, 1.0, 2.0, 0.5, 1.5, 100.0),
      (1704067260000L, 1.5, 3.0, 1.0, 2.5, 200.0))
      .toDF("time", "open", "high", "low", "close", "volume")
    Tables.writeCsv(frame, out, singleFile = true)
    val got = Tables.ohlcvCsv(spark, s"${dir.getAbsolutePath}/*/*.csv")
      .orderBy("ts").collect()
    assert(got.length == 2)
    assert(got.head.getAs[java.sql.Timestamp]("ts").getTime == 1704067200000L)
    assert(got.head.getAs[Double]("close") == 1.5)
    assert(got.map(_.getAs[String]("symbol")).distinct.nonEmpty)
  }

  test("epoch-ms cast and column order match the reference contract") {
    val dir = Files.createTempDirectory("graft-csv2").toFile
    val p = s"${dir.getAbsolutePath}/x.csv"
    Files.writeString(java.nio.file.Paths.get(p),
      "time,open,high,low,close,volume\n1704067200000,1,2,0.5,1.5,10\n")
    val df = Tables.ohlcvCsv(spark, p)
    assert(df.columns.toSeq ==
      Seq("symbol", "ts", "open", "high", "low", "close", "volume"))
    val r = df.collect().head
    assert(r.getAs[String]("symbol") == "x")
    assert(r.getAs[Double]("volume") == 10.0)
  }

  test("catalog listing filters by case-insensitive substring (S1/S2)") {
    val dir = Files.createTempDirectory("graft-catalog").toFile
    val sub = new java.io.File(dir, "nested"); sub.mkdirs()
    for (n <- Seq("BTCUSD_1m.csv", "ethusd_1m.csv", "notes.txt"))
      Files.writeString(java.nio.file.Paths.get(dir.getAbsolutePath, n), "x")
    Files.writeString(java.nio.file.Paths.get(sub.getAbsolutePath, "SOLusd.csv"), "x")
    val all = Tables.listCsvFiles(spark, dir.getAbsolutePath)
    assert(all.size == 3 && all.forall(_.endsWith(".csv")))
    val filtered = Tables.listCsvFiles(spark, dir.getAbsolutePath, "USD_1M")
    assert(filtered.size == 2)
    assert(Tables.listCsvFiles(spark, dir.getAbsolutePath, "sol").size == 1)
  }

  test("table() and rowCount() memoize per (session, dir, table) and " +
      "never confuse keys") {
    val dir = "/root/testdata/sf0.001"
    // resolved-relation memo: repeated calls return the SAME analyzed
    // frame instance (that identity is what shed the ~55-70 ms/table
    // re-resolution tax, SCALE.md r15) ...
    assert(Tables.table(spark, dir, "nation") eq
      Tables.table(spark, dir, "nation"))
    // ... and distinct keys resolve their own frames
    assert(!(Tables.table(spark, dir, "region") eq
      Tables.table(spark, dir, "nation")))
    assert(!(Tables.table(spark, "/root/testdata/sf0.01", "nation") eq
      Tables.table(spark, dir, "nation")))
    // the count memo agrees with a live count and is key-discriminated
    // (lineitem row counts differ 10x across SFs; documents' 500 and
    // nation's 25 are SF-invariant and would not discriminate)
    val n = Tables.rowCount(spark, dir, "lineitem")
    assert(n == Tables.table(spark, dir, "lineitem").count())
    assert(Tables.rowCount(spark, dir, "lineitem") == n)
    assert(Tables.rowCount(spark, "/root/testdata/sf0.01", "lineitem") != n)
  }

  test("candlesAt(60) equals the date_trunc-hour candles (resample parity)") {
    // floor-division bucketing at 60 minutes must agree with date_trunc
    // 'hour' for any post-epoch timestamp — the property that lets the
    // multi-resolution form share oracles with the fixed-hour one
    val dir = "/root/testdata/sf0.001"
    val a = Tables.candlesFromEvents(spark, dir)
    val b = Tables.candlesAt(spark, dir, 60)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // daily bars: one row per (symbol, day), volume sums to event count
    val daily = Tables.candlesAt(spark, dir, 1440)
    val events = Tables.table(spark, dir, "events")
    assert(daily.agg(org.apache.spark.sql.functions.sum("volume"))
      .head.getDouble(0) == events.count().toDouble)
  }

  test("template JSON parses to the typed backtest config (S8)") {
    val cfg = Tables.parseTemplate(
      """{"initial_budget": 5000, "investment_per_trade": 500, "max_trades": 3}""")
    assert(cfg.initialBudget == 5000.0 && cfg.perTrade == 500.0 &&
      cfg.maxTrades.contains(3))
    // empty-string max_trades (the reference's unset marker) -> None
    val cfg2 = Tables.parseTemplate(
      """{"initial_budget": 5000, "investment_per_trade": 500, "max_trades": ""}""")
    assert(cfg2.maxTrades.isEmpty)
    // missing keys -> reference defaults (main.py:38-40)
    val cfg3 = Tables.parseTemplate("{}")
    assert(cfg3.initialBudget == 10000.0 && cfg3.perTrade == 1000.0)
  }

  test("ORC round-trip preserves candles and pushes predicates to the scan") {
    // format breadth beyond CSV/JSON/parquet: Spark's builtin ORC source
    // carries the same pushdown contract — a filtered read must show the
    // predicate in PushedFilters, not post-scan
    import org.apache.spark.sql.functions._
    val candles = candleFrame(Map(
      "a" -> (1 to 100).map(_.toDouble), "b" -> (1 to 50).map(_.toDouble)))
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    candles.write.mode("overwrite").orc(s"$dir/candles")
    val back = spark.read.orc(s"$dir/candles")
    assert(back.count() == 150 &&
      back.schema.fieldNames.toSet == candles.schema.fieldNames.toSet)
    val filtered = back.filter(col("symbol") === "b" && col("close") > 10.0)
    assert(filtered.count() == 40)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("symbol"),
      s"expected the symbol predicate pushed into the ORC scan:\n$plan")
  }

  test("JSONL corpus round-trip: gzip-compressed lines, schema-ful read " +
    "(no corpus-scan inference), unicode/newline-safe") {
    // JSONL is the lingua franca of LLM corpora. Two scale contracts:
    // (1) reads must pass an EXPLICIT schema — schema inference reads
    // every byte of a 100 TB corpus before the query even starts;
    // (2) writers must escape so one document = one line regardless of
    // content (embedded newlines, quotes, unicode).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val docs = Seq(
      (1L, "plain ascii body", "en"),
      (2L, "embedded \"quotes\" and\nnewlines\ttabs", "en"),
      (3L, "unicode: χαίρετε — 🙂 done", "el"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    docs.write.mode("overwrite").option("compression", "gzip")
      .json(s"$dir/docs")
    // every document is exactly one physical line in the .json.gz parts
    val lines = spark.read.textFile(s"$dir/docs").collect()
    assert(lines.length == 3 && lines.forall(!_.contains('\n')))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val back = spark.read.schema(schema).json(s"$dir/docs")
    assert(back.schema == schema, "explicit schema must be taken verbatim")
    val got = back.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "plain ascii body", "en"),
      (2L, "embedded \"quotes\" and\nnewlines\ttabs", "en"),
      (3L, "unicode: χαίρετε — 🙂 done", "el")),
      s"JSONL round-trip must be lossless, got $got")
    // corrupt-line tolerance: PERMISSIVE (the default) nulls bad rows
    // instead of failing the 100 TB job on one malformed document
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/docs/extra.json"),
      """{"doc_id": 4, "text": "ok", "lang": "en"}""" + "\n" +
        "{not json at all\n")
    val tolerant = spark.read.schema(schema).json(s"$dir/docs")
    assert(tolerant.filter(col("doc_id").isNotNull).count() == 4,
      "well-formed rows survive a corrupt neighbor line")
  }
}
