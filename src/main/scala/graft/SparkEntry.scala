package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Analytics, Backtest, Dedup, Similarity, TimeSeriesOps, TradingOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Float-determinism policy for oracle-checked queries: money/quantity sums
  * accumulate in DECIMAL (exact, order-independent — immune to partitioning)
  * and cast back to DOUBLE; per-row double arithmetic (products, divisions)
  * is IEEE-deterministic and bit-identical across Spark and DuckDB. Columns
  * are aliased identically on both sides (driver hash-compares by sorted
  * column name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the complete "Evenly Spaced Buys" strategy valuation
    * (/root/reference/main.py:366-390) over the candle series — scan, cast,
    * window aggregation, stride signals, top-k, projection, exact sum,
    * last-by-time, portfolio fold in one lazy plan.
    */
  def entry(spark: SparkSession): DataFrame =
    TradingOps.portfolioEvenlySpaced(
      Tables.candles(spark, "/root/testdata/sf0.001"))

  /** Fixed BM25 query set over the synthetic documents vocabulary —
    * hardcoded identically in the DuckDB oracle's VALUES list.
    */
  val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q_spark_hash_join" -> Seq("spark", "hash", "join"),
    "q_window_agg" -> Seq("window", "agg"),
    "q_scan_filter_fast" -> Seq("scan", "filter", "fast"))

  /** SCD2 history oracle SQL — shared by `scd2_intervals` and the
    * point-in-time `scd2_asof_lookup` (which wraps it as a CTE).
    */
  private val scd2Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts NULLS FIRST, event_id) AS prev_type
      |  FROM events),
      |chg AS (
      |  SELECT user_id, event_id, event_type, ts FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id,
      |  row_number() OVER w AS version,
      |  event_type AS state, event_id,
      |  ts AS effective_from,
      |  lead(ts) OVER w AS effective_to,
      |  CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM chg
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST,
      |  event_id)""".stripMargin
  // NULLS FIRST on ASC event-time window orderings (here and the two
  // sessionize oracles): Spark's ascending default is nulls-FIRST,
  // DuckDB's is nulls-LAST — on a NULL-ts row the two engines would
  // otherwise walk the partition in different orders and every
  // lag/lead/version downstream would shift. Candle-family oracles are
  // immune since candles exclude NULL ts at the source on both engines.

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A: aggregation over lineitem (TPC-H Q1 shape) -------------------
    "q1_agg" -> ((s, dir) => Analytics.pricingSummary(s, dir)),

    // ---- joins / set ops / windows over the star schema ------------------
    "q3_top_revenue" -> ((s, dir) => Analytics.topRevenueOrders(s, dir)),
    "q5_local_supplier" -> ((s, dir) => Analytics.localSupplierVolume(s, dir)),
    "semi_join_customers" -> ((s, dir) => Analytics.customersWithOrders(s, dir)),
    "anti_join_customers" -> ((s, dir) => Analytics.customersWithoutPendingOrders(s, dir)),
    "rollup_orders" -> ((s, dir) => Analytics.ordersRollup(s, dir)),
    "window_order_ranks" -> ((s, dir) => Analytics.customerOrderRanks(s, dir)),
    "parts_above_avg" -> ((s, dir) => Analytics.partsAboveAveragePrice(s, dir)),
    "except_customers" -> ((s, dir) => Analytics.orderingNonBuildingCustomers(s, dir)),
    "intersect_customers" -> ((s, dir) => Analytics.orderingBuildingCustomers(s, dir)),
    "brand_stats" -> ((s, dir) => Analytics.brandStats(s, dir)),
    "q17_small_qty_revenue" -> ((s, dir) => Analytics.smallQuantityRevenue(s, dir)),
    "q4_priority_returns" -> ((s, dir) => Analytics.priorityReturnedOrders(s, dir)),
    "q18_large_orders" -> ((s, dir) => Analytics.largeQuantityOrders(s, dir)),
    "q7_nation_trade" -> ((s, dir) => Analytics.nationTradeVolume(s, dir)),
    "q21_sole_returned" -> ((s, dir) => Analytics.soleReturnedSuppliers(s, dir)),
    "q20_dominant_suppliers" -> ((s, dir) => Analytics.dominantPartSuppliers(s, dir)),
    "q8_market_share" -> ((s, dir) => Analytics.marketShare(s, dir)),
    "q2_min_cost_supplier" -> ((s, dir) => Analytics.minCostSuppliers(s, dir)),
    // the MANUAL skew fallback as a correctness row: salted fact⋈dim
    // revenue rollup must equal the plain join bit-for-bit (the salt
    // scatters hot keys and never reaches the output)
    "salted_join_revenue" -> ((s, dir) => {
      val l = Tables.table(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(24,8)").as("rev"))
      val sup = Tables.table(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      Analytics.saltedJoin(l, sup, "suppkey", 8)
        .groupBy(col("s_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
    }),
    "full_outer_recon" -> ((s, dir) => Analytics.nationPartyReconciliation(s, dir)),
    // blocked fuzzy entity matching: (brand × positional-token)-banded
    // Levenshtein ≤ 2 pairs — pigeonhole-complete for 3 bands > 2 edits
    "fuzzy_join_parts" -> ((s, dir) => Analytics.fuzzyJoinParts(s, dir, 2)),
    // position-free q-gram prefix-filter variant: exact recall on free
    // text (edits may move whitespace), rarity-ordered prefix blocks.
    // Scoped to ONE brand's catalog — on TPC-H's ~90-word closed name
    // vocabulary the whole-catalog prefix filter degenerates (the
    // measured trade documented on fuzzyMatchPairsQgram); the banded
    // fuzzy_join_parts IS the whole-catalog form for such data.
    // maxBlockSize=256 is the same protective, oracle-mirrored cap the
    // toy embedding_lsh_neardup carries as maxBucketSize=64: it CANNOT
    // fire at declared SFs (largest Brand#13 prefix block measured 10
    // at sf0.01 / 95 at sf0.1 — 2.7× headroom, pinned capped ≡ uncapped
    // by SimilarityRecallSpec) and exists so the query survives scale
    // probes instead of dying — the r15 factor-300 surface run OOM'd
    // the 8 GiB JVM inside this query's uncapped Σblock² candidate join
    // (blocks grow ∝ copies on the closed vocabulary). At sf10+ the cap
    // fires and recall degrades by design; the scale answer is
    // fuzzy_join_parts_qgram_scaled below (cap 1000, 98.8% recall at
    // sf10) or the banded fuzzy_join_parts.
    "fuzzy_join_parts_qgram" -> ((s, dir) =>
      Analytics.fuzzyMatchPairsQgram(
        Tables.table(s, dir, "part")
          .filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey").as("id"), col("p_name").as("name")),
        2, 3, maxBlockSize = 256)),
    // the SCALE geometry for the same operator: prefix blocks capped at
    // maxBlockSize=1000 — the parameter measured r14 at 98.8% recall /
    // 3.0× per decade on sf10 where the uncapped prefix filter
    // degenerates ~18×/decade on TPC-H's closed name vocabulary
    // (205.9 s vs 20.5 s, SCALE.md). Declared under its own bit-exact
    // oracle (the cap mirrored in SQL) so the copy-paste-able scale
    // form sits under the driver gate — same precedent as
    // embedding_lsh_neardup_scaled for SRP's bucket cap. At sf0.01/0.1
    // no Brand#13 prefix block reaches 1000 members, so capped output
    // equals the exact query's (pinned by SimilarityRecallSpec, which
    // fails loudly if data growth ever makes the cap fire at a
    // declared SF).
    "fuzzy_join_parts_qgram_scaled" -> ((s, dir) =>
      Analytics.fuzzyMatchPairsQgram(
        Tables.table(s, dir, "part")
          .filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey").as("id"), col("p_name").as("name")),
        2, 3, maxBlockSize = 1000)),
    "window_range_frame" -> ((s, dir) => Analytics.trailingSpend(s, dir)),
    "q6_forecast_revenue" -> ((s, dir) => Analytics.forecastRevenue(s, dir)),
    "q9_nation_profit" -> ((s, dir) => Analytics.nationProfitByYear(s, dir)),
    "q10_returned_customers" -> ((s, dir) => Analytics.returnedCustomerRevenue(s, dir)),
    "q11_important_parts" -> ((s, dir) => Analytics.importantPartValues(s, dir)),
    "q12_priority_lines" -> ((s, dir) => Analytics.priorityLineCounts(s, dir)),
    "q13_order_count_dist" -> ((s, dir) => Analytics.orderCountDistribution(s, dir)),
    "q14_promo_share" -> ((s, dir) => Analytics.promoRevenueShare(s, dir)),
    "q15_top_supplier" -> ((s, dir) => Analytics.topRevenueSupplier(s, dir)),
    "q16_supplier_counts" -> ((s, dir) => Analytics.partSupplierCounts(s, dir)),
    "q19_disjunctive_rev" -> ((s, dir) => Analytics.disjunctivePartRevenue(s, dir)),
    "q22_idle_balance" -> ((s, dir) => Analytics.idleCustomerBalance(s, dir)),

    // ---- S: candle construction (event-time resample of `events`) --------
    // the derivation itself, timed as a resample; every other candle
    // query reads its stored series through Tables.candles
    "candles" -> ((s, dir) => Tables.candlesFromEvents(s, dir)),
    // multi-resolution resample: same plan at any bar width (5-minute and
    // daily bars over the same events — reference README.md:17-29 implies
    // minute input re-aggregated to coarser resolutions)
    "candles_5m" -> ((s, dir) => Tables.candlesAt(s, dir, 5)),
    "candles_1d" -> ((s, dir) => Tables.candlesAt(s, dir, 1440)),

    // ---- P2: inclusive date-range filter ---------------------------------
    "p2_date_range" -> ((s, dir) =>
      TradingOps.dateRange(
        Tables.table(s, dir, "events"),
        "2024-01-10 00:00:00", "2024-01-20 23:59:59")),

    // 2-D selective scan from the Z-ORDERED layout (Tables
    // .zorderedEventsFor / ZOrder.writeZOrdered): predicates on BOTH
    // ts and value reach the scan as PushedFilters (pinned in
    // PlanShapeSpec) and each z-ordered file covers a small (ts, value)
    // bounding box, so footer stats prune most files on either
    // dimension — the multi-dimensional clustered-index analog under
    // the driver's eye, sharing a plain events-filter oracle
    "events_zordered" -> ((s, dir) =>
      s.read.parquet(Tables.zorderedEventsFor(s, dir))
        .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp") &&
          col("value") >= 100.0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))),

    // ---- P4: JSON predicate DSL ------------------------------------------
    "p4_json_filter" -> ((s, dir) =>
      TradingOps.jsonFilter(
        Tables.table(s, dir, "lineitem"),
        """{"l_quantity": {"gt": 30}, "l_discount": {"lt": 0.05}}""")),

    // ---- W1/W2 + W3/W4: rolling means + crossover signals ----------------
    "ma_crossover" -> ((s, dir) =>
      TradingOps.crossoverSignals(
        TradingOps.movingAverages(Tables.candles(s, dir)))
        .select(
          col("symbol"), col("ts"),
          round(col("short_ma"), 6).as("short_ma"),
          round(col("long_ma"), 6).as("long_ma"),
          col("buy_signal"), col("sell_signal"))),

    // ---- W5: evenly-spaced stride signals --------------------------------
    "w5_stride_signals" -> ((s, dir) =>
      TradingOps.evenlySpacedSignals(Tables.candles(s, dir), Some(25))
        .select(col("symbol"), col("ts"), col("close"), col("buy_signal"))),

    // ---- W6: first-K-by-time per symbol ----------------------------------
    "w6_head_k" -> ((s, dir) =>
      TradingOps.headK(Tables.candles(s, dir), 12)),

    // ---- A3: last close by time per symbol -------------------------------
    "a3_last_close" -> ((s, dir) =>
      TradingOps.lastClose(Tables.candles(s, dir))),

    // ---- P3: time-index min/max (date-picker seeding, main.py:257-258) ---
    "p3_ts_minmax" -> ((s, dir) =>
      Tables.table(s, dir, "events")
        .agg(min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"))),

    // ---- X1: explicit repartition is value-invariant (main.py:606-616) --
    "portfolio_parallel" -> ((s, dir) =>
      TradingOps.portfolioEvenlySpaced(
        Tables.candles(s, dir).repartition(16), 10000.0, 1000.0, None)),

    // ---- Full evenly-spaced strategy valuation (P5→W7→W6→P7→A1→A3→A5) ---
    "portfolio_evenly_spaced" -> ((s, dir) =>
      TradingOps.portfolioEvenlySpaced(
        Tables.candles(s, dir), 10000.0, 1000.0, Some(8))),

    // ---- export-table projection (main.py:515-534) -----------------------
    "export_signals" -> ((s, dir) =>
      TradingOps.exportSignals(Tables.candles(s, dir), 1000.0, Some(20))),

    // ---- gap-filled (LOCF) candle series ---------------------------------
    "candles_gapfill" -> ((s, dir) =>
      TradingOps.gapFillCandles(Tables.candles(s, dir))),

    // ---- daily VWAP/TWAP benchmark prices --------------------------------
    "vwap_twap_daily" -> ((s, dir) =>
      TradingOps.vwapTwapDaily(Tables.candles(s, dir))),

    // ---- per-symbol maximum drawdown -------------------------------------
    "max_drawdown" -> ((s, dir) =>
      TradingOps.maxDrawdown(Tables.candles(s, dir))),

    // ---- cross-symbol price correlation (pairs-trading screen) -----------
    "pair_correlation" -> ((s, dir) =>
      TradingOps.pairCorrelation(Tables.candles(s, dir))),

    // the 100 TB form of the same screen: restrict to the top-N symbols by
    // traded volume (broadcast semi-join), then block candidate pairs by an
    // md5-derived symbol bucket — S² becomes Σ(per-block s²). Correct at
    // any scale; oracle-checked here against the identically blocked SQL.
    "pair_correlation_blocked" -> ((s, dir) =>
      TradingOps.pairCorrelation(
        TradingOps.topSymbolsByVolume(Tables.candles(s, dir), 4),
        block = Some(
          conv(substring(md5(col("symbol")), 1, 15), 16, 10)
            .cast("long") % 2))),

    // ---- Cutler's RSI over a 14-candle frame ------------------------------
    "rsi14" -> ((s, dir) =>
      TradingOps.rsi(Tables.candles(s, dir), 14)),

    // ---- EMA(14): a true recursion via typed sorted-group fold ------------
    "ema_close" -> ((s, dir) =>
      TradingOps.emaClose(Tables.candles(s, dir), 14)),

    // ---- Bollinger bands + Donchian channel (exact-moment dispersion) ----
    "bollinger_bands" -> ((s, dir) =>
      TradingOps.bollingerBands(Tables.candles(s, dir), 20, 2.0)),

    // ---- per-symbol Sharpe ratio over close-to-close returns -------------
    "sharpe_ratio" -> ((s, dir) =>
      TradingOps.sharpeRatio(Tables.candles(s, dir))),

    // ---- MACD(12,26,9): second-order recursion in one typed fold ---------
    "macd" -> ((s, dir) =>
      TradingOps.macd(Tables.candles(s, dir), 12, 26, 9)),

    // ---- value histogram over events -------------------------------------
    "value_histogram" -> ((s, dir) =>
      Tables.table(s, dir, "events")
        .groupBy(floor(col("value") / 10.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(20,4)")).cast("double")
            .as("sum_value"))),

    // ---- melt/reshape (pandas df.melt analog) via stack ------------------
    "unpivot_ohlc" -> ((s, dir) =>
      Tables.candles(s, dir).selectExpr("symbol", "ts",
        "stack(4, 'open', open, 'high', high, 'low', low, 'close', close)" +
          " AS (field, price)")),

    // ---- §2.6 stateful MA-crossover backtest fold ------------------------
    "backtest_positions" -> ((s, dir) =>
      Backtest.positions(Tables.candles(s, dir)).toDF()),

    "backtest_positions_capped" -> ((s, dir) =>
      Backtest.positions(
        Tables.candles(s, dir),
        Backtest.Config(maxTrades = Some(5))).toDF()),

    "backtest_summary" -> ((s, dir) =>
      Backtest.summary(
        Tables.candles(s, dir),
        Backtest.Config(maxTrades = Some(8)))),

    // same machine exposed as a SQL-callable UDAF (groupBy.agg surface);
    // shares backtest_summary's oracle because the results are identical
    "backtest_udaf" -> ((s, dir) =>
      operators.BacktestAggregator.summaryViaUdaf(
        Tables.candles(s, dir),
        Backtest.Config(maxTrades = Some(8)))),

    // ---- time-series: as-of join, sessionization, cube -------------------
    "asof_join_candles" -> ((s, dir) =>
      TimeSeriesOps.asofJoinBackward(
        Tables.table(s, dir, "events")
          .select(col("event_id"), col("event_type").as("symbol"),
            col("ts"), col("value")),
        Tables.candles(s, dir).select(col("symbol"), col("ts"), col("close")),
        "symbol", "ts")),
    // the other two merge_asof directions over the same inputs
    "asof_join_forward" -> ((s, dir) =>
      TimeSeriesOps.asofJoinForward(
        Tables.table(s, dir, "events")
          .select(col("event_id"), col("event_type").as("symbol"),
            col("ts"), col("value")),
        Tables.candles(s, dir).select(col("symbol"), col("ts"), col("close")),
        "symbol", "ts")),
    "asof_join_nearest" -> ((s, dir) =>
      TimeSeriesOps.asofJoinNearest(
        Tables.table(s, dir, "events")
          .select(col("event_id"), col("event_type").as("symbol"),
            col("ts"), col("value")),
        Tables.candles(s, dir).select(col("symbol"), col("ts"), col("close")),
        "symbol", "ts")),

    "sessionize_events" -> ((s, dir) =>
      TimeSeriesOps.sessionize(Tables.table(s, dir, "events"), 30)),

    // same sessions via Spark's NATIVE session_window aggregate (the
    // streaming-ready form; touching windows merge — split on gap > 30 min)
    "session_window_agg" -> ((s, dir) =>
      TimeSeriesOps.sessionWindowAgg(Tables.table(s, dir, "events"), 30)),

    // exact interpolated median (percentile) per group
    "median_prices" -> ((s, dir) =>
      Tables.table(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6)
          .as("median_price"),
          count(lit(1)).as("n"))),

    // sketches: approximate distinct + quantiles. Raw HLL/KLL estimates
    // are engine-specific, so the DECLARED output carries the exact
    // values plus the sketches' ACCURACY CONTRACTS as 0/1 flags — both
    // deterministic (a sketch is a pure function of the data; its error
    // on a fixed dataset is fixed). hll_ok: the rsd=0.02 HLL estimate is
    // within 3σ (6%) of the exact distinct count. median_ok: the
    // accuracy=1000 KLL median (rank error ≤ n/1000) lies between the
    // exact 0.49 and 0.51 percentiles (margin 10× the guarantee). The
    // oracle computes the exact columns and asserts the flags are 1, so
    // a sketch drifting out of contract flips the hash — a real
    // driver-side check where r8 had `no_oracle`.
    "approx_sketches" -> ((s, dir) => {
      // The distinct aggregate runs in its OWN aggregation, joined back
      // on the 3-row group key, instead of mixed into the sketch agg:
      // a mixed distinct/non-distinct Aggregate plans an Expand that
      // doubles every input row and pushes the other buffers — for the
      // exact percentile, the whole per-group value multiset — through
      // an extra partial-merge phase. Measured at sf0.1 (noop sink):
      // mixed 6.2 s vs 0.8 + 2.1 s split (r16; the cost was invisible
      // while count() pruned aggregate value expressions). The array
      // percentile shares one buffer/sort for both gate bounds.
      // NOT widened (r18): tried widenCpu(l_orderkey) and measured it
      // WORSE both ways in reversed-order same-window A/Bs (1.52→1.95,
      // then 1.49→2.60 min-of-5) — with only 3 groups, merging 32
      // serialized sketch/percentile partial buffers per branch costs
      // more than the single-task update loop it parallelizes.
      val li = Tables.table(s, dir, "lineitem")
      val sketches = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("hll"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("amed"),
          expr("percentile(l_extendedprice, array(0.49, 0.51))")
            .as("bounds"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      // null-safe key (r16 ADVICE): the pre-split single groupBy kept a
      // NULL l_returnflag group; a plain inner equi-join would silently
      // drop it. <=> preserves the exact pre-split output universe
      // (no-op on TPC-H data, where the flag is non-null).
      exact.join(sketches,
          exact("l_returnflag") <=> sketches("l_returnflag"))
        .drop(sketches("l_returnflag"))
        .withColumn("lo", col("bounds").getItem(0))
        .withColumn("hi", col("bounds").getItem(1))
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("hll") - col("exact_parts")) <=
            col("exact_parts").cast("double") * 0.06, lit(1L))
            .otherwise(lit(0L)).as("hll_ok"),
          when(col("amed").between(col("lo"), col("hi")), lit(1L))
            .otherwise(lit(0L)).as("median_ok"))
    }),

    // GROUPING SETS through the SQL surface (status totals + priority
    // totals in one pass)
    "grouping_sets_orders" -> ((s, dir) => {
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
    }),

    "cube_orders" -> ((s, dir) =>
      Tables.table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double")
            .as("sum_price"))),

    // ---- text analysis (documents) ---------------------------------------
    "text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.table(s, dir, "documents"))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.table(s, dir, "documents"))),
    "text_lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(Tables.table(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.table(s, dir, "documents"))),
    "text_bpe_tokens" -> ((s, dir) =>
      TextAnalysis.bpeTokenEstimate(Tables.table(s, dir, "documents"))),
    "text_winnow_fingerprints" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.table(s, dir, "documents"), 3, 4)),
    "train_val_split" -> ((s, dir) =>
      TextAnalysis.trainValSplit(Tables.table(s, dir, "documents"), 90)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))),
    // linear-idf TF-IDF top terms per document (deliberate variant — see
    // TextAnalysis.tfidfTopTerms scaladoc; ranking tie-break on term)
    "tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.table(s, dir, "documents"), 3)),
    // inverted index: exact df per token, df-capped sorted posting lists
    "inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Tables.table(s, dir, "documents"), 20)),
    // BM25 top-5 per query in fixed-point micros (log-free rational idf,
    // BIGINT floor-division scores — exact on any engine/partitioning)
    "bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables.table(s, dir, "documents"),
        SparkEntry.bm25Queries, 5)),
    // RAG hybrid retrieval: BM25 lexical + embedding-cosine semantic
    // top-k lists fused by fixed-point reciprocal rank fusion (rank-only,
    // scale-free); semantic query = vec_id 0's embedding, doc/vec ids
    // share the id space
    "hybrid_retrieval" -> ((s, dir) =>
      Similarity.hybridRetrieval(Tables.table(s, dir, "documents"),
        Tables.table(s, dir, "embeddings"),
        Seq("spark", "hash", "join"), 20, 10)),
    // deterministic per-language downsampling (en-dominant corpus → keep
    // 40% en, 80% zh, everything else whole)
    "stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.table(s, dir, "documents"),
        Map("en" -> 40, "zh" -> 80), 100)),
    // PII masking over the raw text (case-insensitive email, phone runs,
    // residual ≥4-digit IDs)
    "pii_scrub" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.scrubPii(col("text")).as("scrubbed"))),
    // benchmark decontamination: docs with doc_id % 97 == 0 stand in for
    // the benchmark suite; flag corpus docs sharing >= 2 distinct
    // 3-grams with any benchmark doc (broadcast bench side)
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), 3, 2)
    }),
    // Gopher-style repetition filters: duplicate 2-/3-gram fractions
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.table(s, dir, "documents"))),
    // top bigram collocations by lift (log-free PMI)
    "bigram_lift" -> ((s, dir) =>
      TextAnalysis.bigramCollocations(Tables.table(s, dir, "documents"),
        3, 20)),
    // CCNet-style LM quality gate, log-free: fraction of each doc's
    // bigram occurrences found in the corpus bigram table floored at 3
    "lm_coverage" -> ((s, dir) =>
      TextAnalysis.lmCoverage(Tables.table(s, dir, "documents"), 3)),
    // tokenizer-vocab build (dense ids by count desc, deterministic) +
    // per-doc id-sequence encoding, OOV → 0
    "vocab_encode" -> ((s, dir) =>
      TextAnalysis.vocabEncode(Tables.table(s, dir, "documents"), 3)),
    // RAG-prep sliding-window chunking: 64-token chunks every 48 tokens
    "chunk_documents" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.table(s, dir, "documents"), 64, 16)),
    // DSIR-lite importance weights toward the en slice, 256 hash buckets
    "dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(Tables.table(s, dir, "documents"), "en", 256)),
    // RNG-free per-epoch training-order shuffle: md5 sort keys, loader
    // shards, ordering only within (epoch, shard) — never corpus-wide
    "epoch_shuffle" -> ((s, dir) =>
      TextAnalysis.epochShuffle(Tables.table(s, dir, "documents"), 2, 8)),
    // exact per-stratum quota sampling in deterministic hash order —
    // WindowGroupLimit pushdown pre-prunes inside each input partition,
    // so no task gathers a stratum; quota complement of stratified_sample
    "quota_sample" -> ((s, dir) =>
      TextAnalysis.quotaSample(Tables.table(s, dir, "documents"), 15)),
    // token-budget prefix sample per source — two-level prefix sum
    // (bucket subtotals + within-bucket running sum), no stratum-wide
    // window; completes the mixing family (rate / quota / budget)
    "token_budget_sample" -> ((s, dir) =>
      TextAnalysis.tokenBudgetSample(Tables.table(s, dir, "documents"),
        800L)),
    // systematic token-proportional (πps) thinning: one doc per 100
    // tokens of cumulative mass per source, RNG-free (md5 walk +
    // BIGINT floor division), same two-level prefix-sum core
    "pps_sample" -> ((s, dir) =>
      TextAnalysis.ppsSampleSystematic(Tables.table(s, dir, "documents"),
        100L)),
    // snapshot diff between two corpus versions: added / removed /
    // changed by content fingerprint, key-sized join, churn-sized output
    "corpus_diff" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      Dedup.corpusDiff(
        docs.filter(col("doc_id") % 11 =!= 7),
        docs.filter(col("doc_id") % 17 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")))
    }),
    // concat-and-chunk sequence packing into 512-token training
    // sequences over 4 hash shards per language
    "pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.table(s, dir, "documents"), 512, 4)),
    // per-source dataset-card aggregate (counts, quality, token dist)
    "corpus_stats_by_source" -> ((s, dir) =>
      TextAnalysis.corpusStatsBySource(Tables.table(s, dir, "documents"))),
    // uniform-target mixture reweighting under a 10k-token budget
    "domain_mixture" -> ((s, dir) =>
      TextAnalysis.domainMixture(Tables.table(s, dir, "documents"), 10000L)),
    // contrastive negatives: 4 hash-bucket draws per doc, broadcast reps
    "negative_samples" -> ((s, dir) =>
      TextAnalysis.negativeSamples(Tables.table(s, dir, "documents"),
        4, 64)),
    // strict-ordering conversion funnel over first occurrences
    "funnel_conversion" -> ((s, dir) =>
      TimeSeriesOps.funnel(Tables.table(s, dir, "events"),
        Seq("view", "click", "purchase"))),
    // first-activity-day cohorts × later activity days (retention triangle)
    "cohort_retention" -> ((s, dir) =>
      TimeSeriesOps.cohortRetention(Tables.table(s, dir, "events"), 7)),
    "events_props_json" -> ((s, dir) =>
      Tables.table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"),
          max(col("k")).as("max_k"))),

    // ---- deduplication (documents) ---------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(Tables.table(s, dir, "documents"))),
    // line-level (RefinedWeb/CCNet) dedup: the corpus texts are
    // single-line, so the query wraps each doc in the deterministic
    // boilerplate line dedup exists to remove — a per-source header and a
    // per-lang footer (df ≈ docs/source and docs/lang >> maxDf=2); the
    // body line survives (df=1). The oracle rebuilds the same wrapped
    // corpus and mirrors the md5-60bit line-key domain.
    "dedup_lines" -> ((s, dir) =>
      Dedup.dedupLines(
        Tables.table(s, dir, "documents").select(col("doc_id"),
          concat(col("source"), lit(" standard header boilerplate\n"),
            col("text"), lit("\nshared footer "), col("lang")).as("text")),
        maxDf = 2)),
    // exact duplicated-substring spans (suffix-array family, done
    // relationally): 5-token shingles with corpus df ≥ 2, merged into
    // maximal per-doc spans via gaps-and-islands
    "dedup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.table(s, dir, "documents"), 5, 2)),
    // maxDf = 50 (10% of the corpus): stop-shingle pruning — at scale one
    // hot shingle in 1M docs would otherwise build a single 1M-element
    // aggregate row and a df² candidate explode; the oracle mirrors the
    // identical prune, and on this corpus (max df = 7) results are
    // unchanged
    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(Tables.table(s, dir, "documents"), 3, 0.5,
        maxDf = 50)),
    "minhash_signatures" -> ((s, dir) =>
      Dedup.minhashSignatures(Tables.table(s, dir, "documents"), 3, 16)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.table(s, dir, "documents"), 3, 16, 4, 0.5)),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(Tables.table(s, dir, "documents"), 3, 0.5,
        maxDf = 50)),
    // quality-aware keeper: best doc per near-dup cluster survives
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.dedupKeepBest(Tables.table(s, dir, "documents"), 3, 0.5,
        maxDf = 50)),
    // The same nearDupClusters call as dedup_clusters (union-find or the
    // star rounds, picked by the pair graph's size), declared under its
    // own name for ScaleRatios' exact-factor list; oracle identical
    "dedup_clusters_lss" -> ((s, dir) =>
      Dedup.nearDupClusters(Tables.table(s, dir, "documents"), 3, 0.5,
        maxDf = 50)),
    // incremental daily merge: docs with doc_id % 5 == 0 play the new
    // day's delta, the rest the existing corpus whose stored dedup state
    // the delta probes — exact fingerprint + LSH band match + Jaccard
    // verify, corpus scanned once and never shuffled
    "merge_corpus_day" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      Dedup.mergeCorpusDay(
        Dedup.corpusDedupState(docs.filter(col("doc_id") % 5 =!= 0)),
        docs.filter(col("doc_id") % 5 === 0), minJaccard = 0.5)
    }),
    // the SAME daily merge executed by a real StreamingQuery: the delta
    // arrives as a parquet drop-folder, classified stream-static against
    // the checkpointed corpus state, drained with Trigger.AvailableNow —
    // shares merge_corpus_day's oracle (stream ≡ batch)
    "merge_stream_day" -> ((s, dir) =>
      streaming.EventStreams.mergeStreamDay(s, dir)),
    // the watermarked STATEFUL-AGGREGATION streaming path under the same
    // gate: hourly candles computed by a real StreamingQuery over the
    // events table replayed as time-ordered drop-folder slices, drained
    // with Trigger.AvailableNow — shares the batch `candles` oracle
    // (stream ≡ batch, StreamingSpec); merge_stream_day covers only the
    // stream-static join path, this covers windowed state
    "stream_candles" -> ((s, dir) =>
      streaming.EventStreams.streamCandles(s, dir)),
    // the stream-STREAM interval-join path under the same gate: two
    // readers over the time-ordered replay folder, joined on user
    // within (sig_ts, sig_ts + 30 min], drained with
    // Trigger.AvailableNow — inner join ⇒ output equals the batch join
    // row-for-row, so the oracle is plain SQL over events; completes
    // the streaming-path coverage (stream-static join, windowed state,
    // join state)
    "stream_followups" -> ((s, dir) =>
      streaming.EventStreams.streamFollowups(s, dir)),
    // the flatMapGroupsWithState (arbitrary-stateful) path under the
    // same gate: the candle series replayed in time order, folded
    // through the cross-batch EMA recursion by a real StreamingQuery —
    // in-order arrival applies the batch fold's exact double updates in
    // the exact order, so it shares ema_close's recursive-CTE oracle
    "stream_ema" -> ((s, dir) =>
      streaming.EventStreams.streamEma(s, dir)),
    // the DEDUP state-store path (dropDuplicatesWithinWatermark) under
    // the same gate: the events table replayed with planted exact
    // duplicates — in-slice copies AND a cross-batch redelivery file
    // still inside the watermark delay — deduped on event_id by a real
    // StreamingQuery; exact copies make the survivor byte-identical, so
    // the drained output must equal the duplicate-free events table
    // row-for-row and the oracle is plain SQL
    "stream_dedup" -> ((s, dir) =>
      streaming.EventStreams.streamDedup(s, dir)),

    // Fixed-point integer PageRank over the customer↔supplier trade
    // graph — iterative-rank workload with a bit-exact unrolled oracle
    // (floor division + integer sums are engine- and order-independent)
    "pagerank_trade" -> ((s, dir) => operators.GraphOps.pageRank(s, dir)),

    // degree-oriented triangle count over the part co-purchase graph —
    // the total is orientation-invariant, so the oracle's id-oriented
    // count must match exactly
    "triangle_count" -> ((s, dir) =>
      operators.GraphOps.triangleCount(s, dir)),

    "simhash_fingerprints" -> ((s, dir) =>
      Dedup.simhashFingerprints(Tables.table(s, dir, "documents"))),
    "simhash_neardup_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(Tables.table(s, dir, "documents"), 3, 4, 15)),

    // PIVOT: order counts by priority × status (explicit value list keeps
    // the column set deterministic; fill 0 to match FILTER-count semantics)
    "pivot_orders" -> ((s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L)),

    // UNION ALL across entity tables with provenance tag
    "union_parties" -> ((s, dir) =>
      Tables.table(s, dir, "customer")
        .select(col("c_name").as("name"), lit("customer").as("kind"))
        .unionByName(Tables.table(s, dir, "supplier")
          .select(col("s_name").as("name"), lit("supplier").as("kind")))),

    // lead / first_value / nth_value family over the candle series
    "window_leads" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol")).orderBy(col("ts"))
      Tables.candles(s, dir)
        .select(col("symbol"), col("ts"), col("close"),
          lead(col("close"), 1).over(w).as("next_close"),
          first_value(col("close")).over(w).as("first_close"),
          nth_value(col("close"), 3).over(w).as("third_close"))
    }),

    // the SAME lead/first/nth window read from BUCKETED storage
    // (Tables.writeBucketed): the scan's hash-partitioning satisfies the
    // window's distribution, so the plan has ZERO Exchanges (pinned in
    // PlanShapeSpec) — the 100 TB sorted-index analog under the driver's
    // eye, sharing window_leads' oracle
    "candles_bucketed" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol")).orderBy(col("ts"))
      s.table(Tables.bucketedCandlesFor(s, dir))
        .select(col("symbol"), col("ts"), col("close"),
          lead(col("close"), 1).over(w).as("next_close"),
          first_value(col("close")).over(w).as("first_close"),
          nth_value(col("close"), 3).over(w).as("third_close"))
    }),

    // SQL-standard distribution window functions (deterministic: the
    // order key is made unique by the orderkey tie-break, so the rank
    // ratios are identical across engines)
    "window_distribution" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("price_quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
    }),

    // CDC upsert compaction: latest record per (user, type) key by event
    // time — the keep-newest dedup every mutable-source ingest needs.
    // row_number (not dropDuplicates) so the survivor is deterministic:
    // ties break on event_id, and the window partitions by the key, so
    // at scale this is one hash exchange and no full sort.
    "latest_events" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.table(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
    }),

    // SCD2 dimension-history build: collapse consecutive same-state
    // events per user, intervalize survivors into
    // [effective_from, effective_to) versions (NULL = current)
    "scd2_intervals" -> ((s, dir) =>
      TimeSeriesOps.scd2Intervals(Tables.table(s, dir, "events"))),

    // point-in-time SCD2 lookup: attach the dimension version valid at
    // each event's timestamp. Composed as BACKWARD AS-OF on
    // effective_from instead of a point-in-interval range join — the
    // interval predicate would plan as a broadcast-nested-loop at scale,
    // while the as-of core is one exchange + sort; versions chain
    // contiguously, so the latest at-or-before version IS the valid one.
    // Duplicate effective_from timestamps (two changes in the same
    // instant) collapse to the highest version — the zero-length interval
    // a point query can never observe.
    "scd2_asof_lookup" -> ((s, dir) => {
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val hist = TimeSeriesOps
        .scd2Intervals(Tables.table(s, dir, "events"))
        .groupBy(col("user_id"), col("effective_from"))
        .agg(max_by(struct(col("version"), col("state")), col("version"))
          .as("v"))
        .select(col("user_id"), col("effective_from").as("ts"),
          col("v.version").as("version"), col("v.state").as("state"))
      TimeSeriesOps.asofJoinBackward(ev, hist, "user_id", "ts")
    }),

    // greatest-n-per-group: top customer by account balance per nation
    "top_customer_per_nation" -> ((s, dir) =>
      Tables.table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          max_by(col("c_name"), struct(col("c_acctbal"), col("c_custkey")))
            .as("top_customer"),
          max(col("c_acctbal")).as("max_acctbal"))),

    // flagship LLM-curation pipeline: quality gate -> near-dup removal
    // (keep the smaller doc_id of each duplicate pair) -> per-language
    // token budget
    "curation_pipeline" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val dupLosers = Dedup.jaccardPairs(docs, 3, 0.5, maxDf = 50)
        .select(col("doc_b").as("doc_id")).distinct()
      // quality gate + token count FUSED into one projection over the scan
      // (no semi-join against a separate quality table — the score is a
      // per-row expression, so a filter is the same result for less work)
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.qualityCol(col("text")).as("quality"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .filter(col("quality") >= 0.5)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    }),

    // ---- dataset profiling: per-column null/distinct QA pass --------------
    "profile_documents" -> ((s, dir) =>
      operators.Profiling.profile(Tables.table(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // ---- multimodal: REAL PNG decode via JDK ImageIO ----------------------
    // one real PNG per doc_id (deterministic pattern pixels, id-derived
    // dims), decoded back through ImageIO — the oracle recomputes the
    // channel sums closed-form, so a green row proves the decode reads
    // actual pixels, not headers
    "media_features" -> ((s, dir) =>
      operators.Multimodal.imageFeatures(
        operators.Multimodal.syntheticImages(
          Tables.table(s, dir, "documents").select(col("doc_id"))))),

    // real per-frame video decode: frame-packed PNG container, every 2nd
    // frame decoded via ImageIO, skipped frames seek past by length field
    "video_features" -> ((s, dir) =>
      operators.Multimodal.videoFeatures(
        operators.Multimodal.syntheticVideos(
          Tables.table(s, dir, "documents").select(col("doc_id"))), 2)),

    // ---- multimodal: REAL WAV decode via JDK javax.sound ------------------
    // one real RIFF/WAV clip per doc_id (deterministic integer PCM
    // pattern, id-derived length), decoded back through AudioSystem — the
    // oracle recomputes the sample stats closed-form, so a green row
    // proves the decode reads actual PCM samples, not headers
    "audio_features" -> ((s, dir) =>
      operators.Multimodal.audioFeatures(
        operators.Multimodal.syntheticAudio(
          Tables.table(s, dir, "documents").select(col("doc_id"))))),

    // ---- similarity search (embeddings) ----------------------------------
    "ann_topk" -> ((s, dir) =>
      Similarity.annTopK(Tables.table(s, dir, "embeddings"), 8, 5)),
    "embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.table(s, dir, "embeddings"), 0.3)),
    // label-FREE near-dup via signed-random-projection LSH — the scale
    // path when no blocking key exists; oracle mirrors candidate
    // generation (md5-parity hyperplanes), not just the threshold.
    // Toy (32, 8) banding WITH the mega-bucket guard (cap 64, mirrored
    // in the oracle): at sf0.01 buckets average ~8 members so the cap
    // never fires and the oracle yield is the full LSH output; past
    // n ≫ 2^bandBits the guard drops the signal-free collision mass so
    // the query completes with guard-degraded recall instead of dying
    // on quadratic candidate volume (the r13 factor-100 failure mode —
    // 14.3 s at sf10 vs a ~70 GB spill death uncapped). Recall at that
    // scale is the NEIGHBORING scale-geometry query's job: grow
    // bandBits ~ log₂(n), as embedding_lsh_neardup_scaled declares.
    "embedding_lsh_neardup" -> ((s, dir) =>
      Similarity.srpLshNearDupPairs(Tables.table(s, dir, "embeddings"),
        32, 8, 0.3, maxBucketSize = 64)),
    // the SCALE geometry for the same operator: bandBits grown ~log2(n)
    // (64 planes / 16-bit bands) plus the mega-bucket guard — the
    // parameter set measured linear at factor 100 (SCALE.md r13: 34.1 s
    // at sf10 where the toy (32, 8) banding dies on quadratic candidate
    // volume). Declared as its own oracle-checked query so the
    // copy-paste-able scale path sits under the bit-exact gate, not just
    // in SCALE.md's tables. The synthetic corpus has NO natural pairs
    // above 0.7 cosine (measured), so a correct 16-bit-band run over it
    // alone returns empty — every 5th vector gains a deterministically
    // perturbed copy (even dims ×1.0625, odd ×0.9375: exact binary
    // fractions, double math bit-identical cross-engine; sim ≈ 0.998)
    // under the collision-free id -vec_id-1, giving the geometry a real
    // recall surface (~1 pair per 5 source vectors) that the oracle
    // mirrors exactly.
    "embedding_lsh_neardup_scaled" -> ((s, dir) => {
      val emb = Tables.table(s, dir, "embeddings")
      val base = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val planted = emb.filter(col("vec_id") % 5 === 0)
        .select((-col("vec_id") - 1).as("vec_id"),
          transform(col("embedding").cast("array<double>"), (x, d) =>
            x * when(d % 2 === 0, lit(1.0625)).otherwise(lit(0.9375)))
            .as("embedding"))
      Similarity.srpLshNearDupPairs(base.unionByName(planted),
        64, 16, 0.9, maxBucketSize = 1024)
    }),
    // per-label mean vectors (K-means/IVF training primitive)
    "embedding_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.table(s, dir, "embeddings"))),
    // one Lloyd assignment step against the label centroids
    "kmeans_assign" -> ((s, dir) =>
      Similarity.kmeansAssign(Tables.table(s, dir, "embeddings"))),
    // full Lloyd loop at a FIXED 2 iterations (deterministic — the oracle
    // unrolls the identical two rounds in SQL)
    "kmeans_clusters" -> ((s, dir) =>
      Similarity.kmeansLloyd(Tables.table(s, dir, "embeddings"), 2)),
    // IVF ANN: approximate (probes nprobe=6 of the cells) but fully
    // DETERMINISTIC — cell assignment and probe ranking are decimal-
    // exact, so the oracle replays the whole pipeline bit-for-bit
    // (OracleSql.annTopKIvf); approximate ≠ nondeterministic
    "ann_topk_ivf" -> ((s, dir) =>
      Similarity.annTopKIvf(Tables.table(s, dir, "embeddings"), 8, 5)),
    // the STORED-index probe path: the cell-partitioned layout is built
    // once per corpus (fixture-style, like the bucketed tables) and
    // every probe reads only the probed cells' directories (pruning
    // pinned by the scan's numFiles metric in BucketingSpec). Same
    // deterministic IVF semantics as ann_topk_ivf — the two queries
    // share the oracle, exercising the in-memory and stored-layout
    // execution paths against one answer
    "ann_topk_ivf_layout" -> ((s, dir) =>
      Similarity.annTopKFromLayout(s, Similarity.cellLayoutFor(s, dir),
        8, 5, nprobe = 6)),
    // the GROWN-index probe path: layout built on a 90% base slice,
    // the held-out 10% ingested via appendToCellLayout against the
    // STORED codebook (the daily-ingest lifecycle), then probed like
    // any other layout. Deterministic end-to-end — every vector's cell
    // is one decimal argmax against the base-trained codebook — so the
    // oracle replays build + append + probe in SQL
    // (OracleSql.annTopKIvfAppend)
    "ann_topk_ivf_append" -> ((s, dir) =>
      Similarity.annTopKFromLayout(s,
        Similarity.appendedCellLayoutFor(s, dir), 8, 5, nprobe = 6)),
    // SemDeDup: k-means cells, intra-cell cosine prune, keep lowest id
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.table(s, dir, "embeddings"), 0.3)),
    // int8 vector-store compression: per-vector min-max codes
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeEmbeddings(Tables.table(s, dir, "embeddings")))
  )

  /** Shared by `dedup_clusters` and `dedup_clusters_lss`, two names
    * for one `Dedup.nearDupClusters` call: every doc of the pair graph
    * labeled by the minimum doc_id it reaches.
    */
  private val nearDupClustersSql: String =
    s"""WITH RECURSIVE
       |jac AS (${OracleSql.jaccardPairs(0.5, 50)}),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM jac
       |  UNION SELECT doc_b, doc_a FROM jac),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
       |FROM reach GROUP BY src""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared by `ema_close` (batch fold) and `stream_ema` (drained
    * flatMapGroupsWithState recursion): both apply
    * `alpha*close + beta*ema` seeded with the first close, per symbol in
    * ts order, so one recursive CTE oracles both execution paths.
    */
  private val emaCloseSql: String =
    s"""WITH RECURSIVE candles AS (${Tables.candlesSql}),
       |num AS (
       |  SELECT symbol, ts, close,
       |    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn
       |  FROM candles),
       |rec(symbol, ts, close, rn, ema) AS (
       |  SELECT symbol, ts, close, rn, close FROM num WHERE rn = 1
       |  UNION ALL
       |  SELECT n.symbol, n.ts, n.close, n.rn,
       |    (CAST(2.0 AS DOUBLE) / 15) * n.close +
       |      (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 15) * r.ema
       |  FROM rec r JOIN num n ON n.symbol = r.symbol AND n.rn = r.rn + 1)
       |SELECT symbol, ts, close, round(ema, 6) AS ema FROM rec""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(revenue_dec AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS revenue_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY 1, 2, 3
        |) ORDER BY revenue_dec DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q7_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "q21_sole_returned" ->
      """SELECT s_name, numwait FROM (
        |  SELECT s_name, count(*) AS numwait
        |  FROM lineitem l1
        |  JOIN supplier ON l1.l_suppkey = s_suppkey
        |  WHERE l1.l_returnflag = 'R'
        |    AND EXISTS (SELECT 1 FROM orders
        |                WHERE o_orderkey = l1.l_orderkey
        |                  AND o_orderstatus = 'F')
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_returnflag = 'R')
        |  GROUP BY s_name)
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(
        |    CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
        |      ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
        |      AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    "full_outer_recon" ->
      """SELECT nationkey,
        |  coalesce(n_customers, 0) AS n_customers,
        |  coalesce(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey,
        |      count(*) AS n_suppliers FROM supplier GROUP BY 1) s
        |USING (nationkey)""".stripMargin,

    "q20_dominant_suppliers" ->
      """SELECT s_suppkey, s_name, n_dominant_parts FROM supplier
        |JOIN (
        |  SELECT l_suppkey, count(*) AS n_dominant_parts FROM (
        |    SELECT a.l_partkey, a.l_suppkey, a.sq, b.pq, b.ns
        |    FROM (SELECT l_partkey, l_suppkey,
        |            sum(CAST(l_quantity AS DECIMAL(20,4))) AS sq
        |          FROM lineitem GROUP BY 1, 2) a
        |    JOIN (SELECT l_partkey,
        |            sum(CAST(l_quantity AS DECIMAL(20,4))) AS pq,
        |            count(DISTINCT l_suppkey) AS ns
        |          FROM lineitem GROUP BY 1) b USING (l_partkey)
        |    WHERE ns >= 3
        |      AND CAST(sq AS DOUBLE) >
        |          CAST(3.0 AS DOUBLE) * CAST(pq AS DOUBLE) / CAST(ns AS DOUBLE))
        |  GROUP BY l_suppkey) d ON s_suppkey = d.l_suppkey""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(24,8)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q9_nation_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
        |         - CAST(p_retailprice * l_quantity * CAST(0.1 AS DOUBLE)
        |                AS DECIMAL(24,8))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "q10_returned_customers" ->
      """SELECT c_custkey, c_name, n_name, CAST(rev AS DOUBLE) AS revenue
        |FROM (
        |  SELECT o_custkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY rev DESC, c_custkey LIMIT 20""".stripMargin,

    "q11_important_parts" ->
      """SELECT l_partkey, CAST(val AS DOUBLE) AS value FROM (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS val
        |  FROM lineitem GROUP BY l_partkey)
        |WHERE CAST(val AS DOUBLE) > (
        |  SELECT CAST(0.0005 AS DOUBLE) *
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
        |  FROM lineitem)""".stripMargin,

    "q12_priority_lines" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE year(l_shipdate) = 1997
        |GROUP BY l_returnflag""".stripMargin,

    "q13_order_count_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q14_promo_share" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
        |      ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
        |      AS DOUBLE), 6) AS promo_share
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY 1""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_type FROM part
        |           WHERE p_size = 15),
        |sr AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |       WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(20,4))) AS cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM p)
        |    AND l_suppkey IN (SELECT s_suppkey FROM sr)
        |  GROUP BY 1, 2)
        |SELECT s_acctbal, s_suppkey, s_name, n_name,
        |  o.l_partkey AS p_partkey, p_brand, p_type,
        |  CAST(o.cost AS DOUBLE) AS cost
        |FROM offers o
        |JOIN sr ON o.l_suppkey = sr.s_suppkey
        |JOIN p ON o.l_partkey = p.p_partkey
        |WHERE o.cost = (SELECT min(cost) FROM offers o2
        |                WHERE o2.l_partkey = o.l_partkey)
        |ORDER BY s_acctbal DESC, s_suppkey, p_partkey
        |LIMIT 100""".stripMargin,

    "salted_join_revenue" ->
      """SELECT s_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(24,8))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin,

    // mirrors the banded candidate generation itself (like the LSH band
    // oracles): composite block (brand, token position, token) over the
    // first 3 name tokens, candidates deduped, then the distance filter
    "fuzzy_join_parts" ->
      """WITH toks AS (
        |  SELECT p_brand, p_partkey, p_name, 1 AS band,
        |    string_split(p_name, ' ')[1] AS tok FROM part
        |  UNION ALL
        |  SELECT p_brand, p_partkey, p_name, 2,
        |    string_split(p_name, ' ')[2] FROM part
        |  UNION ALL
        |  SELECT p_brand, p_partkey, p_name, 3,
        |    string_split(p_name, ' ')[3] FROM part),
        |lows AS (
        |  SELECT p_brand, p_partkey, p_name FROM part
        |  WHERE len(string_split(p_name, ' ')) <= 2),
        |cand AS (
        |  SELECT DISTINCT a.p_brand, a.p_partkey AS part_a,
        |    b.p_partkey AS part_b, a.p_name AS name_a, b.p_name AS name_b
        |  FROM toks a JOIN toks b
        |    ON a.p_brand = b.p_brand AND a.band = b.band
        |      AND a.tok = b.tok AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT DISTINCT l.p_brand, least(l.p_partkey, r.p_partkey),
        |    greatest(l.p_partkey, r.p_partkey),
        |    CASE WHEN l.p_partkey < r.p_partkey THEN l.p_name
        |         ELSE r.p_name END,
        |    CASE WHEN l.p_partkey < r.p_partkey THEN r.p_name
        |         ELSE l.p_name END
        |  FROM lows l JOIN part r
        |    ON l.p_brand = r.p_brand AND l.p_partkey <> r.p_partkey
        |      AND abs(len(l.p_name) - len(r.p_name)) <= 2)
        |SELECT p_brand, part_a, part_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(name_a, name_b) <= 2""".stripMargin,

    "fuzzy_join_parts_qgram" ->
      OracleSql.fuzzyQgramParts(maxBlockSize = 256),
    "fuzzy_join_parts_qgram_scaled" ->
      OracleSql.fuzzyQgramParts(maxBlockSize = 1000),

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,

    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q19_disjunctive_rev" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q22_idle_balance" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
        |         / count(*)
        |  FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,

    "semi_join_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "anti_join_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,

    "rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "window_order_ranks" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, price_rank, running_spend
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_custkey
        |                 ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |  FROM orders
        |) WHERE price_rank <= 3""".stripMargin,

    "parts_above_avg" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(20,4))) AS DOUBLE) / count(*)
        |  FROM part)""".stripMargin,

    "except_customers" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT DISTINCT c_custkey AS custkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "intersect_customers" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT DISTINCT c_custkey AS custkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "brand_stats" ->
      """SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / count(*) AS avg_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT p_brand, count(*) AS n_small,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (
        |  SELECT 0.2 * CAST(sum(CAST(l2.l_quantity AS DECIMAL(20,4)))
        |                    AS DOUBLE) / count(*)
        |  FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,

    "q4_priority_returns" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum_qty_dec AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        sum(CAST(l_quantity AS DECIMAL(20,4))) AS sum_qty_dec
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(20,4))) > 250) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "window_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS spend_30d
        |FROM orders""".stripMargin,

    "candles" -> Tables.candlesSql,
    // stream ≡ batch: the drained streaming aggregation answers the
    // SAME SQL as the batch candle derivation
    "stream_candles" -> Tables.candlesSql,
    // stream ≡ batch for the inner interval join: each matched pair
    // emits exactly once, so the drained stream answers the plain
    // batch join (cast: DuckDB's TIMESTAMP_NS view needs an explicit
    // TIMESTAMP before interval arithmetic on some versions)
    "stream_followups" ->
      """SELECT s.user_id, s.event_id AS sig_event_id,
        |  s.ts AS sig_ts, s.value AS sig_value,
        |  e.event_id, e.ts, e.value
        |FROM events s JOIN events e
        |  ON s.user_id = e.user_id
        |  AND e.ts > s.ts
        |  AND CAST(e.ts AS TIMESTAMP) <=
        |      CAST(s.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |WHERE s.value > 100.0""".stripMargin,
    // stream ≡ batch for exact dedup over planted EXACT duplicates: the
    // drained dedup output is the duplicate-free events table (NULL-ts
    // rows are absent from the replay, mirrored by the predicate)
    "stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, "value", props
        |FROM events
        |WHERE ts IS NOT NULL""".stripMargin,
    "candles_5m" -> Tables.candlesAtSql(5),
    "candles_1d" -> Tables.candlesAtSql(1440),

    "p2_date_range" ->
      """SELECT * FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 23:59:59'""".stripMargin,

    // the layout rewrite must be invisible to query results: the oracle
    // is the same 2-D filter over the ORIGINAL events table
    "events_zordered" ->
      """SELECT event_id, ts, user_id, event_type, "value" FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |  AND "value" >= 100.0""".stripMargin,

    "p4_json_filter" ->
      "SELECT * FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05",

    "ma_crossover" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |ma AS (
         |  SELECT symbol, ts,
         |    round(avg(close) OVER w5, 6) AS short_ma,
         |    round(avg(close) OVER w20, 6) AS long_ma,
         |    avg(close) OVER w5 AS s_raw, avg(close) OVER w20 AS l_raw
         |  FROM candles
         |  WINDOW
         |    w5 AS (PARTITION BY symbol ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |    w20 AS (PARTITION BY symbol ORDER BY ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT symbol, ts, short_ma, long_ma,
         |  coalesce(lag(s_raw) OVER w <= lag(l_raw) OVER w AND s_raw > l_raw, false) AS buy_signal,
         |  coalesce(lag(s_raw) OVER w >= lag(l_raw) OVER w AND s_raw < l_raw, false) AS sell_signal
         |FROM ma
         |WINDOW w AS (PARTITION BY symbol ORDER BY ts)""".stripMargin,

    "w5_stride_signals" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |numbered AS (
         |  SELECT symbol, ts, close,
         |    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY symbol) AS n
         |  FROM candles
         |)
         |SELECT symbol, ts, close,
         |  (rn - 1) % greatest(n // 25, 1) = 0 AS buy_signal
         |FROM numbered""".stripMargin,

    "w6_head_k" ->
      s"""WITH candles AS (${Tables.candlesSql})
         |SELECT symbol, ts, open, high, low, close, volume FROM (
         |  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn
         |  FROM candles
         |) WHERE rn <= 12""".stripMargin,

    "a3_last_close" ->
      s"""WITH candles AS (${Tables.candlesSql})
         |SELECT symbol, arg_max(close, ts) AS last_close
         |FROM candles GROUP BY symbol""".stripMargin,

    "portfolio_evenly_spaced" -> portfolioOracleSql(10000.0, 1000.0, Some(8)),

    "p3_ts_minmax" ->
      "SELECT min(ts) AS ts_min, max(ts) AS ts_max FROM events",

    "portfolio_parallel" -> portfolioOracleSql(10000.0, 1000.0, None),

    "asof_join_candles" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |ev AS (SELECT event_id, event_type AS symbol, ts, "value" FROM events)
         |SELECT e.event_id, e.symbol, e.ts, e."value",
         |  c.ts AS asof_ts, c.close
         |FROM ev e ASOF LEFT JOIN candles c
         |  ON e.symbol = c.symbol AND e.ts >= c.ts""".stripMargin,

    // DuckDB's native ASOF supports the forward direction via <=
    "asof_join_forward" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |ev AS (SELECT event_id, event_type AS symbol, ts, "value" FROM events)
         |SELECT e.event_id, e.symbol, e.ts, e."value",
         |  c.ts AS asof_ts, c.close
         |FROM ev e ASOF LEFT JOIN candles c
         |  ON e.symbol = c.symbol AND e.ts <= c.ts""".stripMargin,

    // nearest = |Δt| argmin with ties to the backward side — exact
    // integer µs arithmetic on both engines
    "asof_join_nearest" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |ev AS (SELECT event_id, event_type AS symbol, ts, "value" FROM events)
         |SELECT e.event_id, e.symbol, e.ts, e."value",
         |  c.ts AS asof_ts, c.close
         |FROM ev e LEFT JOIN LATERAL (
         |  SELECT r.ts, r.close FROM candles r
         |  WHERE r.symbol = e.symbol
         |  ORDER BY abs(epoch_us(r.ts) - epoch_us(e.ts)),
         |    CASE WHEN r.ts <= e.ts THEN 0 ELSE 1 END
         |  LIMIT 1) c ON true""".stripMargin,

    "sessionize_events" ->
      """SELECT user_id, session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, event_id, ts, "value",
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST,
        |      event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts, "value",
        |      CASE WHEN lag(ts) OVER w IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |           THEN 1 ELSE 0 END AS newf
        |    FROM events WINDOW w AS (PARTITION BY user_id
        |      ORDER BY ts NULLS FIRST, event_id)))
        |GROUP BY user_id, session_id""".stripMargin,

    "session_window_agg" ->
      """SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts, "value",
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST,
        |      event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM (
        |    SELECT user_id, event_id, ts, "value",
        |      CASE WHEN lag(ts) OVER w IS NULL
        |             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |           THEN 1 ELSE 0 END AS newf
        |    FROM events WINDOW w AS (PARTITION BY user_id
        |      ORDER BY ts NULLS FIRST, event_id)))
        |GROUP BY user_id, sid""".stripMargin,

    "median_prices" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the sketch estimates themselves are engine-specific; the oracle
    // checks the exact columns and asserts the accuracy-contract flags
    // (see the query's comment) — a Spark sketch out of contract flips
    // its flag to 0 and the hash mismatches
    "approx_sketches" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BIGINT) AS hll_ok,
        |  CAST(1 AS BIGINT) AS median_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "grouping_sets_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,

    "cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "text_token_stats" -> OracleSql.tokenStats,
    "text_quality" -> OracleSql.qualityScore,
    "text_lang_id" -> OracleSql.languageId,
    "text_fingerprint" -> OracleSql.fingerprint,
    "text_bpe_tokens" -> OracleSql.bpeTokens,
    "text_winnow_fingerprints" -> OracleSql.winnowFingerprints(3, 4),
    "corpus_stats_by_source" -> OracleSql.corpusStatsBySource,
    "domain_mixture" -> OracleSql.domainMixture(10000L),
    "negative_samples" -> OracleSql.negativeSamples(4, 64),
    "funnel_conversion" ->
      OracleSql.funnel(Seq("view", "click", "purchase")),
    "cohort_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (
        |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM days JOIN cohorts USING (user_id)
        |WHERE date_diff('day', cohort_day, day) <= 7
        |GROUP BY 1, 2""".stripMargin,
    "decontaminate" -> OracleSql.contamination(97, 2),
    "text_repetition" -> OracleSql.repetitionStats,
    "bigram_lift" -> OracleSql.bigramCollocations(3, 20),
    "lm_coverage" -> OracleSql.lmCoverage(3),
    "token_budget_sample" ->
      s"""WITH base AS (
        |  SELECT source, doc_id,
        |    md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(len(${OracleSql.toks}) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, doc_id, n_tok, cum_tok FROM (
        |  SELECT source, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |  FROM base) t
        |WHERE cum_tok <= 800""".stripMargin,
    "pps_sample" ->
      s"""WITH base AS (
        |  SELECT source, doc_id,
        |    md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(len(${OracleSql.toks}) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, doc_id, n_tok, cum_tok,
        |  cum_tok // 100 - (cum_tok - n_tok) // 100 AS n_picks FROM (
        |  SELECT source, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |  FROM base) t
        |WHERE cum_tok // 100 - (cum_tok - n_tok) // 100 > 0""".stripMargin,
    "quota_sample" ->
      """SELECT source, pos, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |  FROM documents) t
        |WHERE pos <= 15""".stripMargin,
    "corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id, md5(text) AS fp_old FROM documents
        |  WHERE doc_id % 11 <> 7),
        |new AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 5 THEN text || ' v2'
        |             ELSE text END) AS fp_new
        |  FROM documents WHERE doc_id % 17 <> 3)
        |SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
        |  CASE WHEN old.doc_id IS NULL THEN 'added'
        |       WHEN new.doc_id IS NULL THEN 'removed'
        |       WHEN fp_old IS DISTINCT FROM fp_new THEN 'changed'
        |       END AS change
        |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        |WHERE CASE WHEN old.doc_id IS NULL THEN 'added'
        |           WHEN new.doc_id IS NULL THEN 'removed'
        |           WHEN fp_old IS DISTINCT FROM fp_new THEN 'changed'
        |           END IS NOT NULL""".stripMargin,
    "vocab_encode" -> OracleSql.vocabEncode(3),
    "chunk_documents" -> OracleSql.chunkDocuments(64, 16),
    "dsir_weights" -> OracleSql.dsirWeights("en", 256),
    "epoch_shuffle" -> OracleSql.epochShuffle(2, 8),
    "pack_sequences" -> OracleSql.packSequences(512, 4),
    "events_props_json" -> OracleSql.eventsPropsJson,
    "tfidf_top_terms" -> OracleSql.tfidfTopTerms(3),
    "inverted_index" -> OracleSql.invertedIndex(20),
    "bm25_topk" -> OracleSql.bm25TopK(bm25Queries, 5),
    "hybrid_retrieval" ->
      OracleSql.hybridRetrieval(Seq("spark", "hash", "join"), 20, 10, 60),
    "triangle_count" -> OracleSql.triangleCount,
    "stratified_sample" ->
      OracleSql.stratifiedSample(Seq("en" -> 40, "zh" -> 80), 100),
    "pii_scrub" -> OracleSql.piiScrub,

    "train_val_split" ->
      """SELECT lang,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
        |       THEN 'train' ELSE 'val' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "dedup_exact" -> OracleSql.exactDuplicates,
    "dedup_spans" -> OracleSql.duplicateSpans(5, 2),
    // identical wrapped corpus + identical md5-60bit line-key domain;
    // string_agg skips the NULLed dropped lines exactly as Spark's
    // collect_list skips the NULLed structs
    "dedup_lines" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    source || ' standard header boilerplate' || chr(10) ||
        |    text || chr(10) || 'shared footer ' || lang AS text
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(range(0, len(ls))) AS line_no, unnest(ls) AS line
        |  FROM parts),
        |keys AS (
        |  SELECT doc_id, line_no, line,
        |    CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS lkey
        |  FROM lines),
        |dfs AS (
        |  SELECT lkey, count(DISTINCT doc_id) AS line_df
        |  FROM keys GROUP BY 1)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN line_df > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS lines_removed,
        |  coalesce(string_agg(CASE WHEN line_df <= 2 THEN line END,
        |    chr(10) ORDER BY line_no), '') AS text_clean
        |FROM keys JOIN dfs USING (lkey)
        |GROUP BY doc_id""".stripMargin,
    "dedup_jaccard_pairs" -> OracleSql.jaccardPairs(0.5, 50),
    "minhash_signatures" -> OracleSql.minhashSignatures(16),
    "dedup_minhash_lsh" -> OracleSql.minhashLshPairs(16, 4, 0.5),
    "merge_corpus_day" -> OracleSql.mergeCorpusDay(5, 16, 4, 0.5),
    // the streaming drain must land on the identical classification
    "merge_stream_day" -> OracleSql.mergeCorpusDay(5, 16, 4, 0.5),
    "dedup_clusters" -> nearDupClustersSql,
    "dedup_clusters_lss" -> nearDupClustersSql,

    // the dedup_clusters recursive CTE + the text_quality expression,
    // LEFT-joined so singletons are their own cluster; keeper = highest
    // quality then lowest id, encoded BIGINT 0/1
    "dedup_keep_best" ->
      s"""WITH RECURSIVE
         |jac AS (${OracleSql.jaccardPairs(0.5, 50)}),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jac
         |  UNION SELECT doc_b, doc_a FROM jac),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
         |       FROM reach GROUP BY src),
         |q AS (${OracleSql.qualityScore})
         |SELECT q.doc_id,
         |  coalesce(cl.cluster_rep, q.doc_id) AS cluster_rep, q.quality,
         |  CAST(CASE WHEN row_number() OVER (
         |      PARTITION BY coalesce(cl.cluster_rep, q.doc_id)
         |      ORDER BY q.quality DESC, q.doc_id) = 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id""".stripMargin,

    "pagerank_trade" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |params AS (SELECT 1000000000000 // count(*) AS init,
        |  (3 * (1000000000000 // count(*))) // 20 AS base FROM deg),
        |r0 AS (SELECT src AS node, init AS rk FROM deg, params),
        |c1 AS (SELECT e.dst AS node, CAST(sum(r.rk // d.deg) AS BIGINT) AS s
        |       FROM e JOIN r0 r ON e.src = r.node
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |r1 AS (SELECT node, base + (17 * s) // 20 AS rk FROM c1, params),
        |c2 AS (SELECT e.dst AS node, CAST(sum(r.rk // d.deg) AS BIGINT) AS s
        |       FROM e JOIN r1 r ON e.src = r.node
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |r2 AS (SELECT node, base + (17 * s) // 20 AS rk FROM c2, params),
        |c3 AS (SELECT e.dst AS node, CAST(sum(r.rk // d.deg) AS BIGINT) AS s
        |       FROM e JOIN r2 r ON e.src = r.node
        |       JOIN deg d ON e.src = d.src GROUP BY 1),
        |r3 AS (SELECT node, base + (17 * s) // 20 AS rk FROM c3, params)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
        |    AS node_type,
        |  node // 2 AS node_key, rk AS rank
        |FROM r3""".stripMargin,

    "simhash_fingerprints" -> OracleSql.simhashFingerprints,
    "simhash_neardup_pairs" -> OracleSql.simhashNearDupPairs(3, 4, 15),
    "pivot_orders" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "union_parties" ->
      """SELECT c_name AS name, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_name AS name, 'supplier' AS kind FROM supplier""".stripMargin,

    "window_leads" ->
      s"""WITH candles AS (${Tables.candlesSql})
         |SELECT symbol, ts, close,
         |  lead(close, 1) OVER w AS next_close,
         |  first_value(close) OVER w AS first_close,
         |  nth_value(close, 3) OVER w AS third_close
         |FROM candles
         |WINDOW w AS (PARTITION BY symbol ORDER BY ts)""".stripMargin,

    // identical semantics read from bucketed storage — one oracle text,
    // two physical execution paths
    "candles_bucketed" ->
      s"""WITH candles AS (${Tables.candlesSql})
         |SELECT symbol, ts, close,
         |  lead(close, 1) OVER w AS next_close,
         |  first_value(close) OVER w AS first_close,
         |  nth_value(close, 3) OVER w AS third_close
         |FROM candles
         |WINDOW w AS (PARTITION BY symbol ORDER BY ts)""".stripMargin,

    "window_distribution" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  ntile(4) OVER w AS price_quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,

    "latest_events" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "scd2_intervals" -> scd2Sql,

    // point-in-time lookup: the valid version is the HIGHEST version with
    // effective_from <= ts (the version-desc argmin also resolves
    // zero-length versions when two changes share a timestamp); the
    // Spark side reaches the same row via the as-of core
    "scd2_asof_lookup" ->
      s"""WITH hist AS ($scd2Sql)
         |SELECT e.event_id, e.user_id, e.ts, e."value",
         |  h.effective_from AS asof_ts, h.version, h.state
         |FROM events e LEFT JOIN LATERAL (
         |  SELECT version, state, effective_from FROM hist
         |  WHERE hist.user_id = e.user_id AND hist.effective_from <= e.ts
         |  ORDER BY version DESC LIMIT 1) h ON true""".stripMargin,

    "top_customer_per_nation" ->
      """SELECT c_nationkey, c_name AS top_customer, max_acctbal FROM (
        |  SELECT c_nationkey, c_name,
        |    max(c_acctbal) OVER (PARTITION BY c_nationkey) AS max_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |  FROM customer) WHERE rn = 1""".stripMargin,

    "curation_pipeline" ->
      s"""WITH quality AS (${OracleSql.qualityScore}),
         |losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM (${OracleSql.jaccardPairs(0.5, 50)})),
         |kept AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(len(${OracleSql.toks}) AS BIGINT) AS n_tokens
         |  FROM documents d
         |  WHERE EXISTS (SELECT 1 FROM quality q
         |                WHERE q.doc_id = d.doc_id AND q.quality >= 0.5)
         |    AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM kept GROUP BY lang""".stripMargin,

    "profile_documents" ->
      """SELECT column_name, n_rows, n_nulls, n_distinct FROM (
        |  SELECT 'doc_id' AS column_name, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    count(DISTINCT doc_id) AS n_distinct FROM documents
        |  UNION ALL
        |  SELECT 'text', count(*),
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT text) FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*),
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT lang) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT source) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*),
        |    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT n_chars) FROM documents)""".stripMargin,

    // closed-form mirror of the ImageIO pattern-pixel roundtrip: PNG is
    // lossless, so decoded channel sums equal the generator formula's sums
    "media_features" ->
      """WITH dims AS (
        |  SELECT doc_id AS media_id,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (SELECT media_id, w, h, unnest(range(0, w*h)) AS i FROM dims),
        |s AS (
        |  SELECT media_id, w, h,
        |    sum((media_id*31 + (i % w)*7 + (i // w)*13) % 256) AS sr,
        |    sum((media_id*17 + (i % w)*11 + (i // w)*5) % 256) AS sg,
        |    sum((media_id*29 + (i % w)*3 + (i // w)*19) % 256) AS sb
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  round(CAST(sr AS DOUBLE) / (w*h), 6) AS mean_r,
        |  round(CAST(sg AS DOUBLE) / (w*h), 6) AS mean_g,
        |  round(CAST(sb AS DOUBLE) / (w*h), 6) AS mean_b
        |FROM s""".stripMargin,

    // closed-form mirror of the frame-packed video roundtrip: PNG frames
    // are lossless, so each sampled frame's decoded channel sums equal
    // the pattern formula keyed by media_id*1000 + frame_idx
    "video_features" ->
      """WITH dims AS (
        |  SELECT doc_id AS media_id,
        |    8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
        |    2 + doc_id % 3 AS nf
        |  FROM documents),
        |frames AS (
        |  SELECT media_id, w, h, unnest(range(0, nf, 2)) AS frame_idx
        |  FROM dims),
        |px AS (
        |  SELECT media_id, w, h, frame_idx,
        |    media_id*1000 + frame_idx AS k, unnest(range(0, w*h)) AS i
        |  FROM frames),
        |s AS (
        |  SELECT media_id, frame_idx, w, h,
        |    sum((k*31 + (i % w)*7 + (i // w)*13) % 256) AS sr,
        |    sum((k*17 + (i % w)*11 + (i // w)*5) % 256) AS sg,
        |    sum((k*29 + (i % w)*3 + (i // w)*19) % 256) AS sb
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  round(CAST(sr AS DOUBLE) / (w*h), 6) AS mean_r,
        |  round(CAST(sg AS DOUBLE) / (w*h), 6) AS mean_g,
        |  round(CAST(sb AS DOUBLE) / (w*h), 6) AS mean_b
        |FROM s""".stripMargin,

    // closed-form mirror of the WAV pattern-sample roundtrip: PCM is
    // lossless, so decoded sample stats equal the generator formula's
    "audio_features" ->
      """WITH dims AS (
        |  SELECT doc_id AS media_id, 400 + doc_id % 37 AS n FROM documents),
        |smp AS (
        |  SELECT media_id, n, i,
        |    (media_id * 31 + i * 7) % 2001 - 1000 AS s
        |  FROM (SELECT media_id, n, unnest(range(0, n)) AS i FROM dims)),
        |lagged AS (
        |  SELECT media_id, n, s,
        |    lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
        |  FROM smp)
        |SELECT media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(sum(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings,
        |  round(CAST(sum(abs(s)) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
        |    AS mean_abs
        |FROM lagged GROUP BY media_id""".stripMargin,

    "ann_topk" -> OracleSql.annTopK(8, 5),
    "ann_topk_ivf" -> OracleSql.annTopKIvf(8, 5, 6),
    "ann_topk_ivf_layout" -> OracleSql.annTopKIvf(8, 5, 6),
    "ann_topk_ivf_append" -> OracleSql.annTopKIvfAppend(8, 5, 6, 10, 3),
    "embedding_neardup" -> OracleSql.embeddingNearDup(0.3),
    "embedding_lsh_neardup" ->
      OracleSql.srpLshNearDupPairs(32, 8, 0.3, maxBucketSize = 64),
    "embedding_lsh_neardup_scaled" ->
      OracleSql.srpLshNearDupPairs(64, 16, 0.9, maxBucketSize = 1024,
        corpusSql = OracleSql.srpPlantedCorpusSql),
    "embedding_centroids" -> OracleSql.labelCentroids,
    "kmeans_assign" -> OracleSql.kmeansAssign,
    "kmeans_clusters" -> OracleSql.kmeansLloyd2,
    "semantic_dedup" -> OracleSql.semanticDedup(0.3),
    "embedding_quantize" -> OracleSql.embeddingQuantize,

    "export_signals" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |numbered AS (
         |  SELECT symbol, ts, close,
         |    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn,
         |    count(*) OVER (PARTITION BY symbol) AS n
         |  FROM candles
         |)
         |SELECT symbol, ts, close, CAST(1000.0 AS DOUBLE) AS trade_amount,
         |  round(1000.0 / close, 6) AS shares
         |FROM numbered
         |WHERE (rn - 1) % greatest(n // 20, 1) = 0""".stripMargin,

    "rsi14" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |diffs AS (
         |  SELECT symbol, ts, close,
         |    close - lag(close) OVER w AS diff
         |  FROM candles WINDOW w AS (PARTITION BY symbol ORDER BY ts)),
         |sums AS (
         |  SELECT symbol, ts, close,
         |    CAST(sum(CAST(greatest(diff, 0.0) AS DECIMAL(28,10))) OVER f
         |         AS DOUBLE) AS sg,
         |    CAST(sum(CAST(greatest(-diff, 0.0) AS DECIMAL(28,10))) OVER f
         |         AS DOUBLE) AS sl
         |  FROM diffs
         |  WINDOW f AS (PARTITION BY symbol ORDER BY ts
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT symbol, ts, close,
         |  CASE WHEN sg IS NULL THEN NULL
         |       WHEN sl = 0.0 THEN 100.0
         |       ELSE round(100.0 - 100.0 / (1.0 + sg / sl), 6) END AS rsi
         |FROM sums""".stripMargin,

    // both moments as exact DECIMAL frame sums; variance/std/bands are one
    // fixed-association double formula mirrored verbatim from the Spark side
    "bollinger_bands" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |sums AS (
         |  SELECT symbol, ts, close,
         |    CAST(sum(CAST(close AS DECIMAL(28,10))) OVER f AS DOUBLE) AS s,
         |    CAST(sum(CAST(close * close AS DECIMAL(28,10))) OVER f
         |         AS DOUBLE) AS sq,
         |    CAST(count(*) OVER f AS DOUBLE) AS cnt,
         |    max(high) OVER f AS donchian_hi,
         |    min(low) OVER f AS donchian_lo
         |  FROM candles
         |  WINDOW f AS (PARTITION BY symbol ORDER BY ts
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |std AS (
         |  SELECT symbol, ts, close, donchian_hi, donchian_lo,
         |    s / cnt AS mid,
         |    CASE WHEN cnt > 1.0 THEN
         |      sqrt(greatest((sq - s * s / cnt) / (cnt - 1.0), 0.0))
         |    END AS sd
         |  FROM sums)
         |SELECT symbol, ts, close,
         |  round(mid, 6) AS bb_mid,
         |  round(mid + 2.0 * sd, 6) AS bb_upper,
         |  round(mid - 2.0 * sd, 6) AS bb_lower,
         |  donchian_hi, donchian_lo
         |FROM std""".stripMargin,

    "sharpe_ratio" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |rets AS (
         |  SELECT symbol,
         |    close / lag(close) OVER (PARTITION BY symbol ORDER BY ts)
         |      - 1.0 AS r
         |  FROM candles),
         |agg AS (
         |  SELECT symbol, count(*) AS n_returns,
         |    CAST(sum(CAST(r AS DECIMAL(28,14))) AS DOUBLE) AS s,
         |    CAST(sum(CAST(r * r AS DECIMAL(28,14))) AS DOUBLE) AS sq
         |  FROM rets WHERE r IS NOT NULL GROUP BY symbol)
         |SELECT symbol, n_returns,
         |  round(s / n_returns, 10) AS mean_return,
         |  CASE WHEN n_returns > 1
         |    AND (sq - s * s / n_returns) / (n_returns - 1.0) > 0.0
         |    THEN round((s / n_returns) /
         |      sqrt((sq - s * s / n_returns) / (n_returns - 1.0)), 6)
         |  END AS sharpe
         |FROM agg""".stripMargin,

    // second-order recursion: the CTE carries (ef, es, esig) and replays
    // the fold's exact double updates in the exact order; the esig update
    // recomputes the NEW ef/es expressions verbatim (identical IEEE value)
    "macd" ->
      s"""WITH RECURSIVE candles AS (${Tables.candlesSql}),
         |num AS (
         |  SELECT symbol, ts, close,
         |    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn
         |  FROM candles),
         |rec(symbol, ts, close, rn, ef, es, esig) AS (
         |  SELECT symbol, ts, close, rn, close, close, CAST(0.0 AS DOUBLE)
         |  FROM num WHERE rn = 1
         |  UNION ALL
         |  SELECT n.symbol, n.ts, n.close, n.rn,
         |    (CAST(2.0 AS DOUBLE) / 13) * n.close +
         |      (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 13) * r.ef,
         |    (CAST(2.0 AS DOUBLE) / 27) * n.close +
         |      (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 27) * r.es,
         |    (CAST(2.0 AS DOUBLE) / 10) *
         |      (((CAST(2.0 AS DOUBLE) / 13) * n.close +
         |        (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 13) * r.ef) -
         |       ((CAST(2.0 AS DOUBLE) / 27) * n.close +
         |        (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 27) * r.es)) +
         |      (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 10) * r.esig
         |  FROM rec r JOIN num n ON n.symbol = r.symbol AND n.rn = r.rn + 1)
         |SELECT symbol, ts, close,
         |  round(ef - es, 6) AS macd,
         |  round(esig, 6) AS macd_signal,
         |  round((ef - es) - esig, 6) AS macd_hist
         |FROM rec""".stripMargin,

    // recursive CTE replays the Spark fold's exact double arithmetic in
    // the exact order (alpha*close + beta*ema, seeded with close at rn=1)
    "ema_close" -> emaCloseSql,
    // stream ≡ batch: the drained flatMapGroupsWithState recursion
    // applies the identical updates in the identical order, so it
    // answers the SAME recursive CTE
    "stream_ema" -> emaCloseSql,

    "pair_correlation" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |sums AS (
         |  SELECT a.symbol AS sym_a, b.symbol AS sym_b,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(a.close AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(b.close AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(a.close * b.close AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(a.close * a.close AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(b.close * b.close AS DECIMAL(28,10))) AS DOUBLE) AS syy
         |  FROM candles a JOIN candles b
         |    ON a.ts = b.ts AND a.symbol < b.symbol
         |  GROUP BY a.symbol, b.symbol),
         |vars AS (
         |  SELECT sym_a, sym_b, n, sx, sy, sxy,
         |    n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
         |  FROM sums)
         |SELECT sym_a, sym_b, CAST(n AS BIGINT) AS n,
         |  round((n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)), 6) AS corr
         |FROM vars WHERE vx > 0 AND vy > 0""".stripMargin,

    "pair_correlation_blocked" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |top AS (
         |  SELECT symbol FROM (
         |    SELECT symbol, sum(CAST(volume AS DECIMAL(28,10))) AS tv
         |    FROM candles GROUP BY symbol
         |    ORDER BY tv DESC, symbol LIMIT 4)),
         |c AS (
         |  SELECT candles.*,
         |    CAST('0x' || substr(md5(symbol), 1, 15) AS BIGINT) % 2 AS blk
         |  FROM candles SEMI JOIN top USING (symbol)),
         |sums AS (
         |  SELECT a.symbol AS sym_a, b.symbol AS sym_b,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(a.close AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(b.close AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(a.close * b.close AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(a.close * a.close AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(b.close * b.close AS DECIMAL(28,10))) AS DOUBLE) AS syy
         |  FROM c a JOIN c b
         |    ON a.blk = b.blk AND a.ts = b.ts AND a.symbol < b.symbol
         |  GROUP BY a.symbol, b.symbol),
         |vars AS (
         |  SELECT sym_a, sym_b, n, sx, sy, sxy,
         |    n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
         |  FROM sums)
         |SELECT sym_a, sym_b, CAST(n AS BIGINT) AS n,
         |  round((n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)), 6) AS corr
         |FROM vars WHERE vx > 0 AND vy > 0""".stripMargin,

    "value_histogram" ->
      """SELECT CAST(floor("value" / 10.0) AS BIGINT) AS bucket,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "unpivot_ohlc" ->
      s"""WITH candles AS (${Tables.candlesSql})
         |SELECT symbol, ts, 'open' AS field, open AS price FROM candles
         |UNION ALL
         |SELECT symbol, ts, 'high', high FROM candles
         |UNION ALL
         |SELECT symbol, ts, 'low', low FROM candles
         |UNION ALL
         |SELECT symbol, ts, 'close', close FROM candles""".stripMargin,

    "max_drawdown" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |dd AS (
         |  SELECT symbol,
         |    (close - max(close) OVER w) / (max(close) OVER w) AS dd,
         |    max(close) OVER w AS peak
         |  FROM candles
         |  WINDOW w AS (PARTITION BY symbol ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT symbol, round(min(dd), 6) AS max_drawdown,
         |  max(peak) AS peak_close, count(*) AS n_candles
         |FROM dd GROUP BY symbol""".stripMargin,

    "vwap_twap_daily" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |dts AS (
         |  SELECT symbol, CAST(ts AS DATE) AS day, close, volume,
         |    CAST(coalesce(
         |      epoch(lead(ts) OVER (PARTITION BY symbol, CAST(ts AS DATE)
         |                           ORDER BY ts)) - epoch(ts),
         |      3600) AS DOUBLE) AS dt
         |  FROM candles)
         |SELECT symbol, day, count(*) AS n_candles,
         |  round(CAST(sum(CAST(close * volume AS DECIMAL(28,10))) AS DOUBLE) /
         |        CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE), 6)
         |    AS vwap,
         |  round(CAST(sum(CAST(close * dt AS DECIMAL(28,10))) AS DOUBLE) /
         |        CAST(sum(CAST(dt AS DECIMAL(28,10))) AS DOUBLE), 6) AS twap
         |FROM dts GROUP BY symbol, day""".stripMargin,

    "candles_gapfill" ->
      s"""WITH candles AS (${Tables.candlesSql}),
         |span AS (
         |  SELECT symbol, min(ts) AS t0, max(ts) AS t1
         |  FROM candles GROUP BY symbol),
         |spine AS (
         |  SELECT symbol,
         |    unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
         |  FROM span),
         |filled AS (
         |  SELECT s.symbol, s.ts, c.close AS raw_close, c.volume
         |  FROM spine s LEFT JOIN candles c
         |    ON s.symbol = c.symbol AND s.ts = c.ts)
         |SELECT symbol, ts,
         |  last_value(raw_close IGNORE NULLS) OVER (
         |    PARTITION BY symbol ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
         |  coalesce(volume, 0.0) AS volume,
         |  raw_close IS NULL AS gap_filled
         |FROM filled""".stripMargin,

    // backtest_positions (uncapped): the budget gate binds on this data
    // and is genuinely sequential — but the SEQUENCE is still SQL-
    // expressible, because the machine is flat between trades and the
    // budget only changes at opens/closes: once a buy-cross is gated
    // (budget < perTrade while flat) the budget is frozen forever, so
    // every later open is gated too. The gated trace is therefore a
    // PREFIX of the ungated trade list, cut at the first open whose
    // running budget — replayed in the fold's exact IEEE op order
    // ((b − perTrade) + (perTrade/entry)·exit per trade) by a recursive
    // CTE — drops below perTrade. Rows-only in r8, bit-exact since r9.
    "backtest_positions" ->
      s"""WITH RECURSIVE pos AS (${backtestPositionsSql(1000.0, None)}),
         |rp AS (
         |  SELECT *, row_number() OVER (PARTITION BY symbol
         |    ORDER BY entry_ts) AS k
         |  FROM pos),
         |bud AS (
         |  SELECT symbol, 0 AS k, CAST(10000.0 AS DOUBLE) AS b
         |  FROM (SELECT DISTINCT symbol FROM rp)
         |  UNION ALL
         |  SELECT b.symbol, b.k + 1,
         |    (b.b - 1000.0) + ((1000.0 / r.entry_price) * r.exit_price)
         |  FROM bud b JOIN rp r ON r.symbol = b.symbol AND r.k = b.k + 1
         |  WHERE b.b >= 1000.0
         |)
         |SELECT r.symbol, r.entry_ts, r.entry_price, r.exit_ts,
         |  r.exit_price, r.shares
         |FROM rp r JOIN bud b ON b.symbol = r.symbol AND b.k = r.k - 1
         |WHERE b.b >= 1000.0""".stripMargin,

    "backtest_positions_capped" -> backtestPositionsSql(1000.0, Some(5)),

    "backtest_udaf" ->
      s"""WITH positions AS (${backtestPositionsSql(1000.0, Some(8))})
         |SELECT symbol, count(*) AS num_trades,
         |  round(10000.0 + CAST(sum(CAST(exit_price * 1000.0 / entry_price - 1000.0 AS DECIMAL(28,10))) AS DOUBLE), 6) AS final_value,
         |  round(CAST(sum(CAST(exit_price * 1000.0 / entry_price - 1000.0 AS DECIMAL(28,10))) AS DOUBLE) / 10000.0 * 100.0, 6) AS roi
         |FROM positions GROUP BY symbol""".stripMargin,

    "backtest_summary" ->
      s"""WITH positions AS (${backtestPositionsSql(1000.0, Some(8))})
         |SELECT symbol, count(*) AS num_trades,
         |  round(10000.0 + CAST(sum(CAST(exit_price * 1000.0 / entry_price - 1000.0 AS DECIMAL(28,10))) AS DOUBLE), 6) AS final_value,
         |  round(CAST(sum(CAST(exit_price * 1000.0 / entry_price - 1000.0 AS DECIMAL(28,10))) AS DOUBLE) / 10000.0 * 100.0, 6) AS roi
         |FROM positions GROUP BY symbol""".stripMargin
  )

  /** DuckDB mirror of the §2.6 stateful fold. Although the fold holds
    * budget/position state, its trace is SQL-expressible because a death
    * cross unconditionally closes any open position — so the machine is
    * FLAT after every sell-cross event. Hence: the opening buy-crosses are
    * exactly the first buy-cross in each group delimited by sell-crosses
    * (gaps-and-islands), each position exits at the first sell-cross after
    * its entry (else forced liquidation at the last row), and a
    * `maxTrades` cap keeps the first K opens, with the K-th always exiting
    * by liquidation (the reference BREAKS the loop after the K-th open,
    * main.py:407-408, so that position can never see its death cross).
    * The budget gate (main.py:415) PROVABLY never binds when
    * K ≤ budget/perTrade − 1: before the K-th open the budget has taken at
    * most K−1 debits of perTrade and only non-negative credits, so
    * budget ≥ initial − (K−1)·perTrade ≥ perTrade. The uncapped machine
    * has no such bound and the gate DOES bind on this data (sf0.01: 316
    * ungated trades → 74 gated) — its oracle wraps this ungated form in
    * the recursive budget-prefix CTE at the `backtest_positions` entry.
    */
  private def backtestPositionsSql(perTrade: Double, maxTrades: Option[Int]): String = {
    val exitTs = maxTrades match {
      case Some(k) =>
        s"CASE WHEN o.open_rank < $k THEN coalesce(x.ts, lr.lts) ELSE lr.lts END"
      case None => "coalesce(x.ts, lr.lts)"
    }
    val exitPrice = maxTrades match {
      case Some(k) =>
        s"CASE WHEN o.open_rank < $k THEN coalesce(x.close, lr.lclose) ELSE lr.lclose END"
      case None => "coalesce(x.close, lr.lclose)"
    }
    val cap = maxTrades.map(k => s"WHERE o.open_rank <= $k").getOrElse("")
    s"""WITH candles AS (${Tables.candlesSql}),
       |ma AS (
       |  SELECT symbol, ts, close,
       |    avg(close) OVER (PARTITION BY symbol ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s,
       |    avg(close) OVER (PARTITION BY symbol ORDER BY ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
       |  FROM candles
       |),
       |lagged AS (
       |  SELECT symbol, ts, close, s, l,
       |    lag(s) OVER w AS ps, lag(l) OVER w AS pl,
       |    row_number() OVER w AS rn
       |  FROM ma WINDOW w AS (PARTITION BY symbol ORDER BY ts)
       |),
       |ev AS (
       |  SELECT symbol, ts, close,
       |    CASE WHEN ps <= pl AND s > l THEN 'B' ELSE 'S' END AS kind
       |  FROM lagged
       |  WHERE rn > 1 AND ((ps <= pl AND s > l) OR (ps >= pl AND s < l))
       |),
       |grp AS (
       |  SELECT *, count(CASE WHEN kind = 'S' THEN 1 END) OVER
       |    (PARTITION BY symbol ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sgrp
       |  FROM ev
       |),
       |opens AS (
       |  SELECT symbol, ts AS entry_ts, close AS entry_price,
       |    row_number() OVER (PARTITION BY symbol, sgrp ORDER BY ts) AS r
       |  FROM grp WHERE kind = 'B'
       |),
       |ranked AS (
       |  SELECT symbol, entry_ts, entry_price,
       |    row_number() OVER (PARTITION BY symbol ORDER BY entry_ts) AS open_rank
       |  FROM opens WHERE r = 1
       |),
       |closes AS (SELECT symbol, ts, close FROM ev WHERE kind = 'S'),
       |lastrow AS (
       |  SELECT symbol, max(ts) AS lts, arg_max(close, ts) AS lclose
       |  FROM candles GROUP BY symbol
       |)
       |SELECT o.symbol, o.entry_ts, o.entry_price,
       |  $exitTs AS exit_ts,
       |  $exitPrice AS exit_price,
       |  $perTrade / o.entry_price AS shares
       |FROM ranked o
       |JOIN lastrow lr USING (symbol)
       |LEFT JOIN LATERAL (
       |  SELECT ts, close FROM closes c
       |  WHERE c.symbol = o.symbol AND c.ts > o.entry_ts
       |  ORDER BY ts LIMIT 1
       |) x ON true
       |$cap""".stripMargin
  }

  /** DuckDB mirror of [[TradingOps.portfolioEvenlySpaced]] (same DECIMAL
    * accumulation for order-independent share sums).
    */
  private def portfolioOracleSql(
      budget: Double, perTrade: Double, maxTrades: Option[Int]): String = {
    val affordable = math.floor(budget / perTrade).toLong
    val cap = maxTrades.map(k => math.min(k.toLong, affordable)).getOrElse(affordable)
    val step = maxTrades.map(k => s"greatest(n // $k, 1)").getOrElse("10")
    s"""WITH candles AS (${Tables.candlesSql}),
       |numbered AS (
       |  SELECT symbol, ts, close,
       |    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn,
       |    count(*) OVER (PARTITION BY symbol) AS n
       |  FROM candles
       |),
       |buys AS (
       |  SELECT symbol, ts, close,
       |    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS brn
       |  FROM numbered WHERE (rn - 1) % $step = 0
       |),
       |bought AS (
       |  SELECT symbol, count(*) AS num_trades,
       |    CAST(sum(CAST($perTrade / close AS DECIMAL(28,10))) AS DOUBLE) AS total_shares
       |  FROM buys WHERE brn <= $cap GROUP BY symbol
       |),
       |lastc AS (
       |  SELECT symbol, arg_max(close, ts) AS last_close
       |  FROM candles GROUP BY symbol
       |)
       |SELECT b.symbol, b.num_trades,
       |  round(b.total_shares, 6) AS total_shares,
       |  round($budget - b.num_trades * $perTrade + b.total_shares * l.last_close, 6) AS final_value,
       |  round((b.total_shares * l.last_close - b.num_trades * $perTrade) / $budget * 100.0, 6) AS roi
       |FROM bought b JOIN lastc l USING (symbol)""".stripMargin
  }
}
