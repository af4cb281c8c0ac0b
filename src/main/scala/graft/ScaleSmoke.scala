package graft

import org.apache.spark.sql.functions._

import graft.operators.{Backtest, Dedup, TradingOps}

/** Scale smoke: synthesize a many-symbol candle corpus far beyond the
  * driver's testdata (default 20M rows × 2000 symbols — 3 orders of
  * magnitude over sf0.1) and push it through the windowed + stateful
  * pipeline, proving the per-symbol partitioning story holds when the
  * symbol count, not the per-symbol depth, carries the scale (the 100 TB
  * shape: thousands of instruments × long histories).
  *
  * Deterministic data from spark.range — no RNG, no shuffle to generate.
  * Prints one JSON line with rows/sec per stage.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val symbols = if (args.length > 1) args(1).toInt else 2000
    // Optional third arg pins the document-corpus width directly (the
    // dedup stages' scale knob) instead of deriving it from `rows`.
    val nDocsArg = if (args.length > 2) Some(args(2).toLong) else None
    val spark = Sessions.get("graft-scale-smoke")
    val perSym = rows / symbols
    val candles = spark.range(rows).select(
      concat(lit("s"), (col("id") % symbols)).as("symbol"),
      timestamp_micros(lit(1704067200000000L) +
        expr(s"id div $symbols") * 60000000L).as("ts"),
      (lit(100.0) + (col("id") * 2654435761L % 10000L) / 100.0).as("close"))
      .withColumn("open", col("close"))
      .withColumn("high", col("close") + 1.0)
      .withColumn("low", col("close") - 1.0)
      .withColumn("volume", lit(1.0))

    def stage(name: String)(f: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      (name, (System.nanoTime() - t0) / 1e9, n)
    }

    // Synthetic document corpus for the dedup path: 25-token docs, unique
    // per doc except planted near-dup PAIRS — every 50th doc and its
    // successor share 24 of 25 tokens (Jaccard 20/26 ≈ 0.77 over
    // 3-shingles, above the 0.5 threshold; every other pair is disjoint).
    // Deterministic, no RNG; expected LSH output = nDocs/50 pairs.
    val nDocs = nDocsArg.getOrElse(math.max(10000L, rows / 100L))
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") % 50L === 1L, col("id") - 1L).otherwise(col("id"))
        .as("pair_id"))
      .select(
        col("doc_id"),
        concat_ws(" ",
          (0 until 24).map(j =>
            concat(lit(s"t${j}x"), col("pair_id"))) :+
            concat(lit("u"), col("doc_id")): _*).as("text"))

    // Shared stratified view of the doc corpus for the sampling
    // stages: 80% of docs in ONE stratum ("big"), the rest split over
    // s0/s1 — the adversarial skew for stratum-keyed windows. Exact
    // per-stratum sizes computed from the residue classes (any nDocs).
    val stratDocs = docs.withColumn("source",
      when(col("doc_id") % 10 < 8, lit("big"))
        .otherwise(concat(lit("s"), col("doc_id") % 2)))
    def residue10(rs: Range): Long =
      rs.map(r => nDocs / 10L + (if (nDocs % 10L > r) 1L else 0L)).sum
    val strataCounts = Seq(residue10(0 until 8), residue10(8 to 8),
      residue10(9 to 9))

    // Deep-graph CC fixture: `nChains` disjoint chains of `chainLen`
    // consecutive ids — diameter = chainLen, the adversarial case for
    // min-label propagation (diameter-many rounds) that
    // large-star/small-star contracts in O(log² n) rounds.
    val chainLen = 1000L
    val nChainNodes = math.max(100000L, rows / 20L)
    val chainEdges = spark.range(nChainNodes)
      .filter(col("id") % chainLen =!= (chainLen - 1))
      .select(col("id").as("u"), (col("id") + 1L).as("v"))

    // Synthetic embedding corpus for SRP-LSH: deterministic 64-dim
    // vectors; every 50th vector and its successor are identical
    // (planted near-dups, sim = 1.0), everything else quasi-random.
    val nVecs = math.max(5000L, nDocs / 10L)
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      when(col("id") % 50L === 1L, col("id") - 1L).otherwise(col("id"))
        .as("seed"))
      .select(col("vec_id"),
        // murmur3-mixed components (NOT a linear formula — shifted
        // arithmetic progressions give sawtooth vectors where thousands
        // of non-planted pairs really do exceed 0.9 cosine)
        transform(sequence(lit(0), lit(63)),
          d => pmod(hash(col("seed"), d), lit(1000))
            .cast("double") / 1000.0 - 0.5).as("embedding"))

    // Synthetic event stream for the events-family stages: `rows` events
    // across symbols×50 users; inter-event times are hash-jittered around
    // a 10-minute stride, so a deterministic fraction of per-user gaps
    // exceeds the 30-minute session cutoff; event_type cycles
    // view/cart/buy by id hash. No RNG anywhere.
    val nUsers = symbols.toLong * 50L
    val events30 = spark.range(rows).select(
      (col("id") % nUsers).as("user_id"),
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        expr(s"id div $nUsers") * 600000000L +
        pmod(hash(col("id")), lit(3600)).cast("long") * 1000000L).as("ts"),
      element_at(array(lit("view"), lit("cart"), lit("buy")),
        (pmod(hash(col("id"), lit(7)), lit(3)) + 1).cast("int"))
        .as("event_type"),
      (pmod(hash(col("id"), lit(11)), lit(10000)).cast("double") / 100.0)
        .as("value"))

    // per-stage throughput denominator: candle stages process `rows`,
    // *_docs stages process the doc corpus, codec stages docs/20 payloads
    def baseOf(name: String): Long =
      if (name.endsWith("_decode")) math.max(nDocs / 20, 1)
      // the deletion-neighborhood stage builds its own smaller catalog —
      // charge its actual record count, not the doc corpus
      else if (name == "fuzzy_del_docs") math.max(20000L, nDocs / 4L)
      else if (name.endsWith("_docs")) nDocs
      else if (name.startsWith("cc_lss") ||
        name.startsWith("pagerank") ||
        name.startsWith("triangle")) nChainNodes
      else if (name.endsWith("_vecs")) nVecs
      else rows

    var mergeState: org.apache.spark.sql.DataFrame = null

    // Daily-merge delta (shared by the batch and streaming merge
    // stages): 100× smaller than the corpus, planted thirds of exact
    // copies, near-dups (24 of 25 tokens shared), and novel docs.
    val nMergeDelta = math.max(1000L, nDocs / 100L)
    val mergeDelta = spark.range(nMergeDelta)
      .select((col("id") + nDocs).as("doc_id"), col("id").as("e"))
      .withColumn("pid",
        when(col("e") % 50L === 1L, col("e") - 1L).otherwise(col("e")))
      .select(col("doc_id"),
        when(col("e") % 3L === 0L, concat_ws(" ",
          (0 until 24).map(j => concat(lit(s"t${j}x"), col("pid"))) :+
            concat(lit("u"), col("e")): _*))
          .when(col("e") % 3L === 1L, concat_ws(" ",
            (0 until 24).map(j => concat(lit(s"t${j}x"), col("pid"))) :+
              concat(lit("unew"), col("doc_id")): _*))
          .otherwise(concat_ws(" ",
            (0 until 25).map(j =>
              concat(lit(s"n${j}x"), col("doc_id"))): _*))
          .as("text"))

    // shared planted-answer checks for both merge stages: exact-dup
    // probes are deterministic (every planted exact copy MUST classify
    // exact_dup); the near path goes through 4-band MinHash, so ≥98%
    // recall is the correct banded-LSH expectation; totals conserve.
    def checkMergeStatuses(byStatus: Map[String, Long]): Unit = {
      val plantedExact = (nMergeDelta + 2) / 3
      val plantedNear = (nMergeDelta + 1) / 3
      require(byStatus.getOrElse("exact_dup", 0L) == plantedExact,
        s"exact-dup probe is deterministic: $byStatus vs $plantedExact")
      val near = byStatus.getOrElse("near_dup", 0L)
      require(near + byStatus.getOrElse("new", 0L) ==
        nMergeDelta - plantedExact,
        s"merge must classify every delta doc exactly once: $byStatus")
      require(near >= (plantedNear * 98L) / 100L,
        s"near-dup band recall too low: $near / $plantedNear")
    }

    val results = Seq(
      stage("ma_crossover")(
        TradingOps.crossoverSignals(TradingOps.movingAverages(candles))
          .filter(col("buy_signal")).count()),
      stage("portfolio")(
        TradingOps.portfolioEvenlySpaced(candles, 10000.0, 1000.0, Some(8))
          .count()),
      stage("backtest_fold")(
        Backtest.summary(candles, Backtest.Config(maxTrades = Some(8)))
          .count()),
      stage("dedup_lsh_docs")(
        Dedup.minhashLshPairs(docs, 3, 16, 4, 0.5,
          maxBucketSize = 1000).count()),
      // the declared-query configuration: fused stop-shingle prune at
      // maxDf=50 (every planted shingle has df ≤ 2, so the expected pair
      // count is unchanged: nDocs/50)
      stage("dedup_jaccard_docs")(
        Dedup.jaccardPairs(docs, 3, 0.5, maxDf = 50).count()),
      // connected components over the pair graph: the planted pairs are
      // isolated edges, so every planted doc is labeled (one row per
      // node); union-find on the driver until the pair graph passes one
      // partition's budget, the star rounds above it
      stage("dedup_clusters_docs") {
        val got = Dedup.nearDupClusters(docs, 3, 0.5, maxDf = 50).count()
        val nodes = 2L * ((nDocs - 2L) / 50L + 1L)
        require(got == nodes,
          s"dedup_clusters_docs must label every planted doc: " +
            s"got $got of $nodes")
        got
      },
      stage("dedup_exact_docs")(
        Dedup.exactDuplicates(docs).count()),
      // persisted dedup state: ONE exchange-free projection pass over
      // the corpus (fingerprint + sha + wide band keys per doc)
      stage("dedup_state_docs") {
        mergeState = Dedup.corpusDedupState(docs).localCheckpoint()
        mergeState.count()
      },
      // incremental daily merge: a delta 100× smaller than the corpus
      // probes the stored state — planted thirds of exact copies,
      // near-dups (24 of 25 tokens shared), and novel docs must come
      // back with EXACTLY those statuses; the stage's wall-clock vs
      // dedup_state_docs is the scales-with-delta-not-corpus evidence
      stage("merge_day_docs") {
        // exactness where the mechanism is deterministic, recall where
        // it is not — see checkMergeStatuses: a planted one-shingle-off
        // pair collides in ≥1 band with p ≈ 0.993, so at 1M docs a ~1%
        // miss rate is the CORRECT behavior of banded LSH, not a bug
        // (observed 3299/3333 = 0.990 at nDocs=1M).
        val byStatus = Dedup.mergeCorpusDay(mergeState, mergeDelta)
          .groupBy(col("status")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        checkMergeStatuses(byStatus)
        nMergeDelta
      },
      // the STREAMING form of the same daily merge (EventStreams
      // .mergeStream) against the identical corpus state and delta: the
      // delta arrives as a file-source micro-batch, both probes are
      // stream-static joins against the checkpointed state, and the
      // planted statuses must come back exactly like the batch stage —
      // its wall-clock vs dedup_state_docs is the streaming
      // delta-sized-cost evidence at corpus scale (stream ≡ batch
      // row-for-row is StreamingSpec's assertion; this pins the COST
      // shape where the corpus is 100× the delta)
      stage("merge_stream_docs") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-merge-stream").toString
        mergeDelta.coalesce(1).write.mode("overwrite").parquet(tmp)
        val q = graft.streaming.EventStreams.mergeStream(
          spark.readStream.schema(mergeDelta.schema).parquet(tmp),
          mergeState)
          .writeStream.outputMode("update").format("memory")
          .queryName("scale_merge_stream")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        val drained = q.awaitTermination(600000)
        if (!drained) q.stop() // don't leave a live query behind the throw
        require(drained, "streaming merge did not drain within 600 s")
        val byStatus = spark.table("scale_merge_stream")
          .groupBy(col("status")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        checkMergeStatuses(byStatus)
        nMergeDelta
      },
      // line-level dedup: every doc carries the same header/footer
      // boilerplate around its unique body — dedupLines(maxDf=2) must
      // strip exactly 2 lines per doc at any corpus width
      stage("dedup_lines_docs")(
        operators.Dedup.dedupLines(docs.select(col("doc_id"),
          concat(lit("shared header boilerplate\n"), col("text"),
            lit("\nshared footer line")).as("text")), maxDf = 2).count()),
      // real-codec throughput: PNG encode+decode per image (ImageIO) and
      // WAV encode+decode per clip (javax.sound) — docs/20 payloads each
      stage("media_decode")(
        operators.Multimodal.imageFeatures(operators.Multimodal
          .syntheticImages(spark.range(nDocs / 20).toDF("doc_id")))
          .count()),
      stage("audio_decode")(
        operators.Multimodal.audioFeatures(operators.Multimodal
          .syntheticAudio(spark.range(nDocs / 20).toDF("doc_id")))
          .count()),
      // frame-packed video: ~3 PNG encodes + ~1.5 real frame decodes per
      // payload (stride 2), unsampled frames seek past by length field
      stage("video_decode")(
        operators.Multimodal.videoFeatures(operators.Multimodal
          .syntheticVideos(spark.range(nDocs / 20).toDF("doc_id")), 2)
          .count()),
      // the EMA recursion over the full many-symbol candle corpus — the
      // stateful typed fold at candle scale
      stage("ema_fold")(
        TradingOps.emaClose(candles).count()),
      // second-order recursion (three accumulators, same single pass)
      stage("macd_fold")(
        TradingOps.macd(candles).count()),
      // five frame aggregates in ONE Window operator (PlanShapeSpec pin).
      // The isNotNull filter REFERENCES a window output — a bare count()
      // would let ColumnPruning drop the whole Window operator and time
      // nothing but the candle scan.
      stage("bollinger")(
        TradingOps.bollingerBands(candles)
          .filter(col("bb_upper").isNotNull).count()),
      // posting-list build: distinct + df-capped hash agg, no join
      stage("inverted_index_docs")(
        graft.functions.TextAnalysis.invertedIndex(docs, 20).count()),
      // alternating large-star/small-star over diameter-1000 chains —
      // min-label propagation would need ~1000 hops here; the star
      // rounds contract it in ~log rounds and run to their fixpoint.
      // One label per node: every id below nChainNodes, plus
      // nChainNodes itself when the last chain is partial.
      stage("cc_lss_deep") {
        val got = Dedup.connectedComponents(chainEdges).count()
        val nodes = nChainNodes + (if (nChainNodes % chainLen != 0) 1L else 0L)
        require(got == nodes,
          s"cc_lss_deep must label every chain node: got $got of $nodes")
        got
      },
      // SRP-LSH over the synthetic vector corpus: 32 decimal-exact
      // hyperplane projections per vector + banded candidate join;
      // planted identical pairs must all surface (nVecs/50)
      stage("srp_lsh_vecs")(
        graft.operators.Similarity.srpLshNearDupPairs(vecs, 32, 8, 0.9)
          .count()),
      // LM coverage: bigram hash-agg + corpus-wide reference join
      stage("lm_coverage_docs")(
        graft.functions.TextAnalysis.lmCoverage(docs, 3).count()),
      // Fixed-point PageRank on the symmetrized chain graph: 3
      // iterations × (1 join + 1 agg) over ~nChainNodes edges each way —
      // the iterative-rank workload at graph scale, integer-exact
      stage("pagerank_chain")(
        graft.operators.GraphOps.pageRankEdges(
          chainEdges.select(col("u").as("src"), col("v").as("dst")).union(
            chainEdges.select(col("v").as("src"), col("u").as("dst"))),
          iters = 3).count()),
      // adversarial skew: a single hub adjacent to EVERY other node
      // (degree ~1e6). The old window degree attach gathered the hub's
      // entire adjacency into one task (stage straggler); the
      // partial-agg + AQE-skew-split join path spreads it. Rank count
      // must be exactly the node count (hub + spokes)
      stage("pagerank_celebrity") {
        val hub = spark.range(1, nChainNodes)
          .select(lit(0L).as("src"), col("id").as("dst"))
        val got = graft.operators.GraphOps.pageRankEdges(
          hub.union(hub.select(col("dst").as("src"), col("src").as("dst"))),
          iters = 3).count()
        require(got == nChainNodes,
          s"celebrity graph must rank every node: got $got of $nChainNodes")
        got
      },
      // events family at scale: user-keyed sessionization over the full
      // row count (gaps-and-islands windows, one user exchange). The
      // distinct count forces the session_id window to execute — a bare
      // count() lets ColumnPruning drop it (same guard as bollinger)
      stage("sessionize_scale")(
        graft.operators.TimeSeriesOps.sessionize(events30, 30)
          .select(col("user_id"), col("session_id")).distinct().count()),
      // strict-ordering funnel: ONE user-keyed hash agg over 20M events
      stage("funnel_scale")(
        graft.operators.TimeSeriesOps.funnel(events30,
          Seq("view", "cart", "buy")).count()),
      // suffix-array-family duplicated-substring spans: the planted
      // every-50th near-dup pairs share a 24-token run → long spans
      stage("dedup_spans_docs")(
        Dedup.duplicateSpans(docs, 5, 2).count()),
      // tokenizer vocab build + id encoding: one corpus hash-agg, a
      // dimension-sized vocab sort, broadcast encode, per-doc reassembly
      stage("vocab_encode_docs")(
        graft.functions.TextAnalysis.vocabEncode(docs, 3).count()),
      // BM25 over the full corpus: the explode + broadcast-prune + tf agg
      // touches every token; the planted query terms (pair-shared t0x/t1x
      // shingle tokens + one unique u-token) select exactly 5 candidate
      // docs, so top-5 output must be exactly 5 rows per run
      stage("bm25_docs")(
        graft.functions.TextAnalysis.bm25TopK(docs,
          Seq("q0" -> Seq("t0x100", "t1x200", "u300")), 5).count()),
      // band graph (edges i→i+1, i→i+2): exactly nChainNodes-2 triangles
      // (one per consecutive triple) — the count IS the correctness check
      stage("triangle_band")(
        graft.operators.GraphOps.triangleCountEdges(
          spark.range(nChainNodes - 1)
            .select(col("id").as("u"), (col("id") + 1L).as("v"))
            .union(spark.range(nChainNodes - 2)
              .select(col("id").as("u"), (col("id") + 2L).as("v"))))
          .collect()(0).getLong(2)),
      // RAG chunking, shuffle-free: 25-token docs at size 8 / overlap 2
      // (stride 6) → starts 0,6,12,18; start 24 leaves a 1-token tail
      // inside the previous chunk's overlap (25−24 ≤ 2) and is dropped
      // by the tail-redundancy filter → exactly 4 chunks per doc
      stage("chunk_docs") {
        val got = graft.functions.TextAnalysis
          .chunkDocuments(docs, 8, 2).count()
        require(got == 4L * nDocs,
          s"chunk_docs expected ${4L * nDocs}, got $got")
        got
      },
      // quality-aware keeper: every planted pair keeps exactly ONE member
      // (the longer successor doc never exists — pairs are id/id+1 with
      // EQUAL quality, so the lowest id wins the tie) → kept count must
      // be exactly nDocs − nDocs/50
      stage("keep_best_docs")(
        Dedup.dedupKeepBest(docs, 3, 0.5, maxDf = 50)
          .filter(col("kept") === 1L).count()),
      // deletion-neighborhood fuzzy matcher at catalog scale, on the
      // driver-catalog shape (2-token names → EVERY record takes the
      // FastSS path): every 50th record's successor appends one char
      // (ed = 1); other names derive from hashed 5-digit tokens, so
      // incidental ed≤2 pairs are possible but rare, and any the DP
      // confirms are TRUE matches — the check is RECALL: the deletion
      // theorem is exact, so every planted pair MUST surface
      stage("fuzzy_del_docs") {
        val nRecs = math.max(20000L, nDocs / 4L)
        val recs = spark.range(nRecs).select(col("id").as("e"))
          .withColumn("pid",
            when(col("e") % 50L === 1L, col("e") - 1L).otherwise(col("e")))
          .select(concat(lit("B"), col("pid") % 20L).as("p_brand"),
            col("e").as("p_partkey"),
            concat(lit("w"), pmod(hash(col("pid"), lit(3)), lit(100000)),
              lit(" x"), pmod(hash(col("pid"), lit(7)), lit(100000)),
              when(col("e") % 50L === 1L, lit("z")).otherwise(lit("")))
              .as("p_name"))
        val pairs = graft.operators.Analytics.fuzzyMatchPairs(recs, 2, 3)
        val planted = pairs
          .filter(col("part_a") % 50L === 0L &&
            col("part_b") === col("part_a") + 1L).count()
        val expected = (nRecs - 2L) / 50L + 1L
        require(planted == expected,
          s"deletion path must find every planted ed-1 pair: " +
            s"$planted of $expected")
        planted
      },
      // exact-quota sampling under stratum skew: 80% of the corpus in
      // ONE stratum ("big"), the rest split over s0/s1 — every stratum
      // exceeds the cap, so the output must be EXACTLY 3 × cap rows
      // (the WindowGroupLimit partial prune is what keeps the big
      // stratum from gathering into a single task). All planted
      // expectations derive from exact per-stratum doc counts, so any
      // nDocs works — no round-number assumptions.
      stage("quota_sample_docs") {
        val cap = math.min(1000L, strataCounts.min)
        val got = graft.functions.TextAnalysis
          .quotaSample(stratDocs, cap.toInt).count()
        require(got == 3L * cap, s"quota_sample expected ${3 * cap}, got $got")
        got
      },
      // token-budget prefix selection under the same stratum skew:
      // every smoke doc is exactly 25 tokens, so a 25·K budget keeps
      // EXACTLY min(K, |stratum|) docs per stratum — closed-form
      // planted answer even though the hash order itself is opaque
      stage("token_budget_docs") {
        val keepPerStratum = math.max(1L, nDocs / 20L)
        val expect = strataCounts.map(n => math.min(n, keepPerStratum)).sum
        val got = graft.functions.TextAnalysis
          .tokenBudgetSample(stratDocs, 25L * keepPerStratum).count()
        require(got == expect,
          s"token_budget expected $expect, got $got")
        got
      },
      // systematic πps thinning on the same skewed corpus: 25-token
      // docs with step 2500 picks one doc per 100 in each stratum's
      // cum-token space → Σ floor(|stratum|/100), closed-form under
      // any hash order
      stage("pps_sample_docs") {
        val expect = strataCounts.map(_ / 100L).sum
        val got = graft.functions.TextAnalysis
          .ppsSampleSystematic(stratDocs, 2500L).count()
        require(got == expect,
          s"pps_sample expected $expect, got $got")
        got
      },
      // snapshot diff with planted churn: removed (id%100==1 absent
      // from new), changed (id%100==2 rewritten), added (fresh ids ≥
      // nDocs) — expected count derives from the exact residue-class
      // sizes, and text never shuffles (fingerprint-collapsed join)
      stage("corpus_diff_docs") {
        def residues(r: Long) = nDocs / 100L + (if (nDocs % 100L > r) 1L else 0L)
        val added = nDocs / 100L
        val newC = docs.filter(col("doc_id") % 100L =!= 1L)
          .select(col("doc_id"),
            when(col("doc_id") % 100L === 2L, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .union(spark.range(nDocs, nDocs + added)
            .select(col("id").as("doc_id"),
              concat(lit("fresh "), col("id")).as("text")))
        val expect = residues(1) + residues(2) + added
        val got = Dedup.corpusDiff(docs, newC).count()
        require(got == expect, s"corpus_diff expected $expect, got $got")
        got
      },
      // DSIR weights: 30% of docs tagged en (the target slice); bucket
      // stats broadcast, one doc-keyed agg — output = nDocs rows
      stage("dsir_docs")(
        graft.functions.TextAnalysis.dsirWeights(
          docs.withColumn("lang",
            when(col("doc_id") % 10 < 3, lit("en")).otherwise(lit("de"))),
          "en", 256).count()),
      // SemDeDup over an 8-cluster vector corpus: each vector gets a +2.0
      // bias on axis seed%8 (label = the same bucket, so the codebook
      // centroids really point along 8 distinct axes and the Lloyd
      // assignment recovers the planted cluster). Intra-cell sim between
      // DISTINCT vectors ≈ 0.43 ≪ 0.95, planted identical pairs (every
      // 50th vector) = 1.0 and share a cell by construction → the
      // dropped count must be EXACTLY nVecs/50
      stage("semantic_dedup_vecs")(
        graft.operators.Similarity.semanticDedup(
          spark.range(nVecs).select(
            col("id").as("vec_id"),
            when(col("id") % 50L === 1L, col("id") - 1L).otherwise(col("id"))
              .as("seed"))
            .select(col("vec_id"),
              pmod(col("seed"), lit(8)).cast("int").as("label"),
              transform(sequence(lit(0), lit(63)),
                d => pmod(hash(col("seed"), d), lit(1000)).cast("double")
                  / 1000.0 - 0.5 +
                  when(d === pmod(col("seed"), lit(8)).cast("int"),
                    lit(2.0)).otherwise(lit(0.0))).as("embedding")),
          0.95).filter(col("kept") === 0L).count()),
      // full IVF lifecycle at corpus scale: build the cell-partitioned
      // layout + codebook once, then a directory-pruned 2-cell probe —
      // output must be exactly nQueries × k rows
      stage("ivf_lifecycle_vecs") {
        val vecsIvf = spark.range(nVecs).select(
          col("id").as("vec_id"),
          pmod(hash(col("id")), lit(1000)).as("h"))
          .select(col("vec_id"),
            pmod(col("vec_id"), lit(8)).cast("int").as("label"),
            transform(sequence(lit(0), lit(63)),
              d => pmod(hash(col("vec_id"), d), lit(1000)).cast("double")
                / 1000.0 - 0.5 +
                when(d === pmod(col("vec_id"), lit(8)).cast("int"),
                  lit(2.0)).otherwise(lit(0.0))).as("embedding"))
          .drop("h")
        val dir = java.nio.file.Files
          .createTempDirectory("ivf_smoke").toString
        try {
          // build on 99% of the corpus, then ingest the remaining 1%
          // as a day's delta against the STORED codebook — the append
          // must cost delta-scale, not index-scale (compare this
          // stage's build portion vs the timed append inside it), and
          // the grown index must hold every vector
          graft.operators.Similarity.writeCellPartitioned(
            vecsIvf.filter(col("vec_id") % 100L =!= 0L), dir)
          val t0 = System.nanoTime()
          graft.operators.Similarity.appendToCellLayout(spark, dir,
            vecsIvf.filter(col("vec_id") % 100L === 0L))
          println(f"[ivf_append_1pct] ${(System.nanoTime() - t0) / 1e9}%.3f s")
          val stored = spark.read.parquet(dir).count()
          require(stored == nVecs,
            s"grown index must hold all $nVecs vectors, got $stored")
          graft.operators.Similarity.annTopKFromLayout(spark, dir, 8, 5, 2)
            .count()
        } finally {
          // measurement-only layout: delete it so repeated smoke runs
          // don't accumulate 100k-vector parquet trees under /tmp
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(dir))
        }
      })

    val js = results.map { case (n, sec, out) =>
      s""""$n":{"sec":$sec,"rows_per_sec":${(baseOf(n) / sec).toLong},"out_rows":$out}"""
    }.mkString(",")
    println(s"""{"scale_rows":$rows,"symbols":$symbols,"per_symbol":$perSym,"docs":$nDocs,$js}""")
    spark.stop()
  }
}
