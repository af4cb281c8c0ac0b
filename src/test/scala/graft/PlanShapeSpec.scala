package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape regression gate for the most expensive bench queries: the
  * properties that make them fast at 100 TB (single shared Generate, a
  * broadcast on the bounded side, one Exchange) are asserted against the
  * FINAL post-AQE physical plan, so an accidental plan regression fails
  * `sbt test` instead of surfacing as a silent bench slowdown.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Execute, then return the final (post-AQE) plan string —
    * AdaptiveSparkPlanExec hides children from TreeNode.collect until
    * the plan has actually run.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    // the AQE toString prints "== Final Plan ==" followed by
    // "== Initial Plan ==" — count operators in the final section only
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
  }

  private def count(plan: String, pattern: String): Int =
    pattern.r.findAllIn(plan).size

  test("candle-family windows always partition by symbol — the " +
    "single-partition global-orderBy form must not spread") {
    // A Window with an EMPTY partition spec funnels the whole input
    // through one task — tolerable on a single-symbol fixture, fatal at
    // 100 TB. Every declared multi-symbol candle/market query must use
    // the per-symbol window (TradingOps.bySymbolTs); this pin fails the
    // suite if the global form ever reappears. Physical form of an
    // unpartitioned window: "Window [exprs], [], [order]" — note the
    // empty middle list.
    val names = Seq("ma_crossover", "ema_close", "macd", "rsi14",
      "bollinger_bands", "w5_stride_signals", "w6_head_k", "window_leads",
      "max_drawdown", "vwap_twap_daily", "export_signals", "sharpe_ratio",
      "candles_gapfill", "a3_last_close", "pair_correlation")
    names.foreach { n =>
      val plan = finalPlan(SparkEntry.queries(n)(spark, dir))
      assert(count(plan, "Window \\[[^\\]]*\\], \\[\\], \\[") == 0,
        s"$n contains an UNPARTITIONED window:\n$plan")
    }
  }

  test("curation_pipeline generates the shingle stream exactly once") {
    val plan = finalPlan(SparkEntry.queries("curation_pipeline")(spark, dir))
    // two generates are intrinsic (shingle explode + ordered pair-combo
    // explode inside jaccardPairs); a third would mean the shingle
    // pipeline got duplicated per aliased consumer again
    assert(count(plan, "Generate ") == 2,
      s"expected exactly TWO Generates (shingles + pair combos):\n$plan")
  }

  test("decontaminate broadcasts the benchmark side") {
    val plan = finalPlan(SparkEntry.queries("decontaminate")(spark, dir))
    assert(count(plan, "BroadcastExchange") >= 1,
      s"bench shingles must broadcast (corpus side stays map-side):\n$plan")
    assert(count(plan, "SortMergeJoin") == 0,
      s"contamination join must never sort-merge the corpus:\n$plan")
  }

  test("pack_sequences shuffles exactly once") {
    val plan = finalPlan(SparkEntry.queries("pack_sequences")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 1,
      s"greedy packing is one (lang, shard) exchange — found more:\n$plan")
  }

  test("dedup_jaccard_pairs generates shingles once and joins on int64 keys") {
    val plan = finalPlan(SparkEntry.queries("dedup_jaccard_pairs")(spark, dir))
    assert(count(plan, "Generate ") == 2,
      s"one-sided pair generation must not re-run the shingle pipeline " +
        s"per aliased side:\n$plan")
  }

  test("q5_local_supplier broadcasts the bounded dimensions") {
    val plan = finalPlan(SparkEntry.queries("q5_local_supplier")(spark, dir))
    assert(count(plan, "BroadcastExchange") >= 2,
      s"nation and region are bounded — both must broadcast:\n$plan")
  }

  test("bollinger_bands runs all frames in one symbol exchange") {
    val plan = finalPlan(SparkEntry.queries("bollinger_bands")(spark, dir))
    // over the bucketed candle layout the window needs no exchange; over
    // a plain candle derivation it would take two (the agg's (symbol,
    // hour) shuffle, the window's symbol shuffle). Any third exchange
    // means a frame/order mismatch split the Window into multiple sorts.
    assert(count(plan, "Exchange hashpartitioning") <= 2,
      s"moments + donchian must share one Window exchange:\n$plan")
    assert(count(plan, "Window ") == 1,
      s"all five frame aggregates must fuse into ONE Window op:\n$plan")
  }

  test("q10 aggregates revenue before attaching customer names") {
    val plan = finalPlan(SparkEntry.queries("q10_returned_customers")(spark, dir))
    // the join with the 8-column customer table must sit ABOVE the
    // revenue aggregate: the aggregate's output (custkey, rev) appears
    // as a join child, never raw lineitem columns joined to customer
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0, s"missing revenue aggregate:\n$plan")
    assert(count(plan, "BroadcastExchange") >= 1,
      s"nation (and the aggregated rev side under AQE) must broadcast:\n$plan")
  }

  test("embedding_lsh_neardup broadcasts the hyperplane codebook; " +
      "signatures never sort-merge against it") {
    val plan = finalPlan(SparkEntry.queries("embedding_lsh_neardup")(spark, dir))
    // the ±1 codebook collapses to one row — it must reach the corpus as
    // a BroadcastNestedLoopJoin/BroadcastExchange, never an exchange of
    // the corpus side keyed on it
    assert(count(plan, "BroadcastExchange") >= 1,
      s"hyperplane codebook must broadcast:\n$plan")
  }

  test("negative_samples broadcasts the bucket representatives") {
    val plan = finalPlan(SparkEntry.queries("negative_samples")(spark, dir))
    assert(count(plan, "BroadcastExchange") >= 1,
      s"the |buckets|-row rep table must broadcast (sampling stays " +
        s"map-side):\n$plan")
    assert(count(plan, "SortMergeJoin") == 0,
      s"draw join must never shuffle the corpus:\n$plan")
  }

  test("lm_coverage is reference-agg + join + doc-agg — no extra exchanges") {
    val plan = finalPlan(SparkEntry.queries("lm_coverage")(spark, dir))
    // bigram agg (bkey), the probe join reuses the bkey partitioning
    // under AQE, doc agg (doc_id): at most three hash exchanges total
    assert(count(plan, "Exchange hashpartitioning") <= 3,
      s"lm_coverage grew extra shuffles:\n$plan")
  }

  test("inverted_index is two partial-agg exchanges, no join") {
    val plan = finalPlan(SparkEntry.queries("inverted_index")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 2,
      s"distinct + term agg — exactly two exchanges:\n$plan")
    assert(count(plan, "Join") == 0,
      s"posting-list build must not join:\n$plan")
  }

  test("dedup_spans generates shingle positions once and prunes " +
      "before the per-doc window") {
    val plan = finalPlan(SparkEntry.queries("dedup_spans")(spark, dir))
    // one posexplode over the token arrays; a second Generate means the
    // position stream got re-built for the df side (the groupBy +
    // semi-join form this pin originally caught)
    assert(count(plan, "Generate ") == 1,
      s"shingle positions must be generated exactly once:\n$plan")
    // df window (shash) + island window (doc_id): exactly two exchanges
    assert(count(plan, "Exchange hashpartitioning") <= 2,
      s"df prune + island merge must be two exchanges:\n$plan")
  }

  test("q2 computes the offers aggregate once (window min, no self-join)") {
    val plan = finalPlan(SparkEntry.queries("q2_min_cost_supplier")(spark, dir))
    // the (partkey, suppkey) MIN aggregate must appear once — the
    // min-reaggregate + self-join form duplicated the whole lineitem
    // subtree (two semi-join chains in the plan)
    assert(count(plan, "SortMergeJoin LeftSemi|BroadcastHashJoin LeftSemi") <= 2,
      s"offers subtree duplicated — expected at most the two pruning " +
        s"semi-joins, window-min must not re-run the aggregate:\n$plan")
    assert(count(plan, "Window ") == 1,
      s"per-part min must be ONE window pass:\n$plan")
  }

  test("bm25_topk never sort-merges: query terms, df, and corpus broadcast") {
    val plan = finalPlan(SparkEntry.queries("bm25_topk")(spark, dir))
    assert(count(plan, "SortMergeJoin") == 0,
      s"every bm25 join side is dimension-sized and must broadcast:\n$plan")
    assert(count(plan, "BroadcastExchange") >= 3,
      s"query-term list, df, and corpus stats must all broadcast:\n$plan")
  }

  test("triangle_count orients once: the intersection core reads only " +
    "checkpointed lists and never materializes wedges") {
    val plan = finalPlan(SparkEntry.queries("triangle_count")(spark, dir))
    // edges, oriented, and the adjacency arrays are localCheckpoint'ed
    // before the final query; the intersection core must root entirely
    // at materialized lists — a parquet scan means a consumer replayed
    // the lineitem→pairs edge build
    assert(count(plan, "Scan ExistingRDD|LocalTableScan") >= 2 ||
      count(plan, "TableCacheQueryStage|InMemoryTableScan") >= 2,
      s"the adjacency attaches must reuse the materialized oriented " +
        s"list:\n$plan")
    assert(count(plan, "Scan parquet") == 0,
      s"the final count plan must root entirely at the checkpointed " +
        s"edge/degree lists — a parquet scan means a consumer replayed " +
        s"the edge build:\n$plan")
    // the O(m^1.5) wedge set must never exist as join output: the only
    // joins are the two node-keyed adjacency attaches (broadcast at
    // this scale), not an edge×edge self-join + closing semi
    assert(count(plan, "SortMergeJoin") == 0,
      s"adjacency attaches should broadcast at test scale:\n$plan")
  }

  test("chunk_documents is shuffle-free: one Generate, zero Exchanges") {
    val plan = finalPlan(SparkEntry.queries("chunk_documents")(spark, dir))
    assert(count(plan, "Exchange ") == 0,
      s"chunking is per-row array math — it must pipeline inside the " +
        s"scan stage with no shuffle:\n$plan")
    assert(count(plan, "Generate ") == 1,
      s"exactly one posexplode of the start positions:\n$plan")
  }

  test("embedding_quantize is a zero-exchange per-row projection") {
    val plan = finalPlan(SparkEntry.queries("embedding_quantize")(spark, dir))
    assert(count(plan, "Exchange ") == 0,
      s"int8 quantization must pipeline inside the scan stage:\n$plan")
  }

  test("dedup_keep_best: one keeper Window, no nested-loop joins") {
    val plan = finalPlan(SparkEntry.queries("dedup_keep_best")(spark, dir))
    assert(count(plan, "Window ") == 1,
      s"keeper choice is ONE window over cluster_rep:\n$plan")
    assert(count(plan, "CartesianProduct|BroadcastNestedLoopJoin") == 0,
      s"cluster attachment must stay a keyed join:\n$plan")
  }

  test("dsir_weights broadcasts the bucket-ratio table, never sort-merges") {
    val plan = finalPlan(SparkEntry.queries("dsir_weights")(spark, dir))
    assert(count(plan, "BroadcastExchange") >= 1,
      s"the nBuckets-row rates table must broadcast onto the bigram " +
        s"stream:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0,
      s"no corpus-wide join key exists — scoring must never " +
        s"sort-merge:\n$plan")
    assert(count(plan, "Generate ") == 2,
      s"bucket stats come from ONE conditional-sum pass — a third " +
        s"Generate means the bigram pipeline re-runs per consumer:\n$plan")
  }

  test("semantic_dedup and fuzzy_join_parts generate pairs via blocked " +
    "equi-joins, never nested loops") {
    for (q <- Seq("semantic_dedup", "fuzzy_join_parts")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, dir))
      assert(count(plan, "CartesianProduct|BroadcastNestedLoopJoin") == 0,
        s"$q pair generation must stay an equi-join on the blocking " +
          s"key (cell / brand):\n$plan")
    }
  }

  test("quota_sample: rank-limit pushdown prunes per input partition " +
    "before the one stratum exchange") {
    val plan = finalPlan(SparkEntry.queries("quota_sample")(spark, dir))
    // Catalyst's WindowGroupLimit must split the per-stratum row_number
    // into Partial (inside each input partition, BEFORE the exchange)
    // + Final — that partial prune is what keeps a celebrity stratum
    // from gathering into one task. One exchange, no joins.
    assert(plan.contains("row_number(), 15, Partial"),
      s"expected a Partial WindowGroupLimit before the shuffle:\n$plan")
    assert(count(plan, "Exchange ") == 1,
      s"quota selection is one stratum-keyed exchange:\n$plan")
    assert(count(plan, "Join") == 0,
      s"quota selection is windows over one scan, no joins:\n$plan")
  }

  test("token_budget_sample: the per-doc running sum is bucket-spread, " +
    "and text never crosses an exchange") {
    val plan = finalPlan(SparkEntry.queries("token_budget_sample")(spark, dir))
    // the corpus-sized running-sum window must be keyed (source, bucket)
    // — a window keyed source alone would gather each stratum into one
    // task; the only source-keyed window may run on the 256-rows-per-
    // stratum bucket-subtotal table
    assert(count(plan, "Window \\[[^\\n]*\\], \\[source#\\d+, bucket#\\d+\\]") == 1,
      s"expected the per-doc cumsum window keyed (source, bucket):\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty && exchangeLines.forall(l => !l.contains("text#")),
      s"token counts must be computed before any exchange:\n$plan")
  }

  test("pps_sample shares the bucket-spread cumsum shape") {
    val plan = finalPlan(SparkEntry.queries("pps_sample")(spark, dir))
    assert(count(plan, "Window \\[[^\\n]*\\], \\[source#\\d+, bucket#\\d+\\]") == 1,
      s"expected the per-doc cumsum window keyed (source, bucket):\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty && exchangeLines.forall(l => !l.contains("text#")),
      s"token counts must be computed before any exchange:\n$plan")
  }

  test("fuzzy_join_parts_qgram: rarity-prefix equi-join, never a " +
    "nested loop") {
    val plan = finalPlan(SparkEntry.queries("fuzzy_join_parts_qgram")(spark, dir))
    // candidate generation must be the gram-keyed equi-join over the
    // rarity prefixes — a nested-loop/cartesian anywhere means the
    // prefix filter degenerated to all-pairs
    assert(count(plan, "BroadcastNestedLoopJoin|CartesianProduct") == 0,
      s"prefix-filter join must stay an equi-join:\n$plan")
    // the ranked-prefix table is localCheckpoint'ed, so the gram
    // explode + df join + rarity window run ONCE and both self-join
    // sides read the materialized list; the only Generate that can
    // remain in the final plan is the low-gram fallback's length-key
    // explode — and AQE's empty-relation propagation prunes even that
    // branch at runtime when no record is low-gram (all of TPC-H), so
    // 0 or 1 are both correct shapes
    assert(count(plan, "Scan ExistingRDD") >= 2,
      s"both candidate sides must reuse the materialized prefix:\n$plan")
    assert(count(plan, "Generate ") <= 1,
      s"gram pipeline must not re-derive per consumer:\n$plan")
  }

  test("corpus_diff joins key-sized fingerprints, never document text") {
    val plan = finalPlan(SparkEntry.queries("corpus_diff")(spark, dir))
    // each side collapses to (doc_id, md5) before the full-outer join,
    // so the exchanges carry 24 B rows — text appears only under the
    // scans, never in a shuffle
    assert(count(plan, "SortMergeJoin FullOuter|SortMergeJoin.*FullOuter") == 1
      || count(plan, "FullOuter") >= 1,
      s"expected one full-outer join on doc_id:\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty && exchangeLines.forall(l => !l.contains("text#")),
      s"document text must be fingerprinted before any exchange:\n$plan")
  }

  test("candles_bucketed plans ZERO Exchanges: the bucketed scan " +
    "satisfies the window's distribution") {
    val plan = finalPlan(SparkEntry.queries("candles_bucketed")(spark, dir))
    assert(count(plan, "Exchange ") == 0,
      s"the bucketed table's hash-partitioning must be reused — any " +
        s"Exchange means the layout stopped paying for itself:\n$plan")
    assert(count(plan, "Window \\[[^\\]]*\\], \\[\\], \\[") == 0,
      s"window must stay partitioned by symbol:\n$plan")
  }

  test("the backtest folds and max_drawdown plan ZERO Exchanges over " +
    "the bucketed candle layout") {
    // the folds group on the symbol attribute (not a deserialized key),
    // so the window's symbol clustering and (symbol, ts) sort — or the
    // layout's own, for the EMA folds — satisfy them; the summary is
    // computed inside the fold, so there is no second groupBy either
    for (n <- Seq("backtest_positions", "backtest_positions_capped",
        "backtest_summary", "backtest_udaf", "max_drawdown", "ema_close",
        "macd")) {
      val plan = finalPlan(SparkEntry.queries(n)(spark, dir))
      assert(count(plan, "Exchange ") == 0,
        s"$n must read the candle layout's clustering as is:\n$plan")
    }
  }

  test("events_zordered pushes BOTH 2-D predicates to the scan and " +
    "prunes props from the read schema") {
    // the default 100-char metadata render truncates the PushedFilters
    // list before the value bound — widen it for this assertion
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan =
      try finalPlan(SparkEntry.queries("events_zordered")(spark, dir))
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    // the layout only pays off if footer pruning sees the predicates:
    // both ts bounds and the value bound must reach the parquet scan
    val scanLines = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(scanLines.contains("GreaterThanOrEqual(ts") &&
      scanLines.contains("LessThan(ts"),
      s"ts range must be pushed to the z-ordered scan:\n$plan")
    assert(scanLines.contains("GreaterThanOrEqual(value"),
      s"value bound must be pushed to the z-ordered scan:\n$plan")
    assert(!plan.contains("props#"),
      s"props must be pruned from the z-ordered read schema:\n$plan")
  }

  test("ann_topk / ann_topk_ivf: no shuffle ever carries an embedding " +
    "array — phase-1 pruning exchanges keys only") {
    // the formatted explain prints each Exchange block with its Input
    // column list; at corpus scale an array column riding the q·N-row
    // phase-1 exchange ships 2·dim·8 bytes per row (the r10 review
    // finding) — pin that every Exchange input is scalar-only
    for (n <- Seq("ann_topk", "ann_topk_ivf")) {
      val plan = SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      val blocks = plan.split("\\n\\n")
        .filter(b => b.linesIterator.nextOption()
          .exists(h => h.matches("\\(\\d+\\) Exchange.*")))
      assert(blocks.nonEmpty, s"$n lost its exchanges?\n$plan")
      blocks.foreach { b =>
        assert(!b.contains("embedding#") && !b.contains("q_vec#") &&
          !b.contains("cvec#"),
          s"$n ships a vector array through an Exchange:\n$b")
      }
    }
  }

  test("merge_corpus_day probes broadcast the delta: the corpus is " +
    "scanned but never shuffle-joined") {
    val plan = finalPlan(SparkEntry.queries("merge_corpus_day")(spark, dir))
    // both probes (exact fingerprint, LSH band) must be broadcast joins
    // with the day's delta on the build side — a SortMergeJoin here
    // would shuffle the 100 TB corpus per daily merge
    assert(count(plan, "SortMergeJoin") == 0,
      s"the corpus-side probes must not shuffle the existing state:\n$plan")
    assert(count(plan, "BroadcastExchange") >= 2,
      s"exact and band probes must both broadcast the delta side:\n$plan")
  }

  test("bench instrument pin: the sink evaluates the FULL plan — " +
    "sentinel count()-pruning victims keep their Window/join") {
    // r16: Bench timed count(), and count() re-optimizes the plan around
    // the aggregate — column pruning then DELETED any operator whose
    // output is projection-only (22 queries lost a Window or a whole
    // join; the as-of family benched as a bare scan). This test executes
    // sentinel victims through Bench.materialize itself and inspects the
    // ACTUAL executed write plan via a QueryExecutionListener: if anyone
    // ever "optimizes" the sink back to count() (or any other pruning
    // action), the captured plan loses the pinned operator and this
    // fails. Sentinels from four modules: asof_join_candles and
    // max_drawdown (lost their Window under count()), merge_corpus_day
    // and vocab_encode (lost entire joins).
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for ((name, op) <- Seq("asof_join_candles" -> "Window",
          "merge_corpus_day" -> "Join", "max_drawdown" -> "Window",
          "vocab_encode" -> "Join")) {
        captured.clear()
        Bench.materialize(SparkEntry.queries(name)(spark, dir))
        // QueryExecutionListener delivery is async — poll up to 30 s
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var plans = ""
        while (!plans.contains(op) && System.nanoTime() < deadline) {
          Thread.sleep(50)
          plans = {
            val it = captured.iterator(); var s = ""
            while (it.hasNext) s += it.next() + "\n"
            s
          }
        }
        assert(plans.contains(op),
          s"benched plan of $name lost its $op — the bench sink is " +
            s"pruning again (count()-style). Captured plan(s):\n$plans")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
