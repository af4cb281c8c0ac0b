package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (`embedding: ARRAY<FLOAT>`, LLM-pipeline north star).
  *
  * Float policy: dot products and squared norms accumulate exactly in
  * decimal via the codegen'd [[graft.functions.DecimalDotProduct]] —
  * order-independent, and bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(...))` over DECIMAL(19,18). The final
  * divide/sqrt are single IEEE ops on identical inputs. So ranking by
  * similarity is deterministic across engines — no tolerance games.
  *
  * Scale: the query set is broadcast; candidate scoring is map-side over
  * the corpus scan. Top-k uses a two-phase (per-input-partition pre-top-k,
  * then global) so the full corpus is never shuffled — the classic
  * brute-force ANN baseline. The LSH/blocked variants bound pair
  * generation for near-dup search.
  */
object Similarity {

  private def vec(c: Column): Column = c.cast("array<double>")

  /** Exact-decimal dot product of two double arrays via the codegen'd
    * [[graft.functions.DecimalDotProduct]] expression: per-element products
    * rounded to scale 18 (HALF_UP — Spark's own double→decimal cast
    * semantics), summed exactly, returned as double. Order-independent
    * and bit-identical to the DuckDB oracle's decimal list_sum.
    */
  def dotDecimal(a: Column, b: Column): Column = {
    call_function("decimal_dot", vec(a), vec(b))
  }

  /** Exact-decimal squared norm (dot of the vector with itself). */
  def normSqDecimal(a: Column): Column =
    call_function("decimal_dot", vec(a), vec(a))

  /** Cosine similarity with exact-decimal accumulation. */
  def cosine(a: Column, b: Column): Column =
    dotDecimal(a, b) / (sqrt(normSqDecimal(a)) * sqrt(normSqDecimal(b)))

  /** Fast approximate dot product (codegen'd plain-double fold); used only
    * as a conservative prefilter, never for final values.
    */
  private def dotDouble(a: Column, b: Column): Column =
    call_function("double_dot", vec(a), vec(b))

  /** Cosine under the engine-wide zero-norm convention (see assignTo):
    * a degenerate all-zero vector has no direction, so its cosine is
    * DEFINED as 0 to everything. Without the guard the probe paths
    * compute 0/0 = NaN, and Spark orders NaN ABOVE every double — a
    * zero vector (ingestable via appendToCellLayout) would displace a
    * true neighbor at rank 1 of every query.
    */
  private def simOrZero(dot: Column, normProd: Column): Column =
    when(normProd > 0, dot / normProd).otherwise(lit(0.0))

  /** The shared two-stage cosine verification over a candidate-pair
    * frame carrying (emb_a, emb_b, norm_a, norm_b) — factored so the
    * three verify sites (nearDupPairs, srpLshNearDupPairs, semanticDedup)
    * cannot drift on the margin, the rounding scale, or the zero-norm
    * guard (the same can't-drift discipline as Dedup.shaJaccardAtLeast):
    *
    *  1. zero-norm guard: 0/0 is NaN and Spark orders NaN ABOVE every
    *     double, so an unguarded all-zero vector would pass and emit
    *     sim = NaN while DuckDB's 0/0 yields NULL and drops the row —
    *     a zero vector has no direction, never a duplicate of anything;
    *  2. cheap double-dot prefilter with a 1e-5 safety margin
    *     (double-vs-decimal divergence is ~1e-13, final values round at
    *     1e-6 — the margin can never drop a true pair);
    *  3. the exact-decimal cosine, rounded to 6, decides.
    *
    * Returns the surviving pairs with the decimal-exact `sim` appended;
    * the result set is identical to single-stage decimal scoring.
    */
  /** The IVF probe ranker shared by [[annTopKIvf]] (in-memory codebook)
    * and [[annTopKFromLayout]] (stored codebook): each query ranks every
    * centroid by decimal-exact cosine, ties to the smaller cell label,
    * and keeps its `nprobe` best. Factored so the two probe paths agree
    * STRUCTURALLY — stored-index and in-memory probes of the same corpus
    * must pick identical cells, a correctness premise the recall specs
    * pin; a tie-break or norm edit can now only happen in one place.
    * `carry` names the query columns to keep through the rank window:
    * the in-memory path carries keys only (its window exchange must
    * never ship an array — PlanShapeSpec), the stored-index path carries
    * the query vectors through (query-sized, then localCheckpoint'd).
    */
  private def probeCells(queryVecs: DataFrame, cents: DataFrame,
      nprobe: Int, qVec: String, qNorm: String,
      carry: Seq[String]): DataFrame =
    queryVecs.crossJoin(broadcast(cents))
      .select(carry.map(col) :+ col("c_label") :+
        simOrZero(dotDecimal(col(qVec), col("cvec")),
          col(qNorm) * sqrt(normSqDecimal(col("cvec")))).as("csim"): _*)
      .withColumn("crank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("csim").desc, col("c_label"))))
      .filter(col("crank") <= nprobe)
      .select(carry.map(col) :+ col("c_label").as("cell"): _*)

  private def verifiedCosine(pairs: DataFrame, minSim: Double): DataFrame =
    pairs
      .filter(col("norm_a") > 0 && col("norm_b") > 0)
      .filter(dotDouble(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")) >= lit(minSim - 1e-5))
      .withColumn("sim", round(dotDecimal(col("emb_a"), col("emb_b")) /
        (col("norm_a") * col("norm_b")), 6))
      .filter(col("sim") >= minSim)

  /** The two-phase top-k core shared by [[annTopK]] and [[annTopKIvf]].
    *
    * Phase 1 — per-(query, input partition) pruning over KEYS ONLY:
    * `scoredKeys` carries exactly (q_id, vec_id, simd), with the cheap
    * double score computed MAP-SIDE where the arrays live, so the
    * window's (q_id, pid) exchange ships ~32 B/row — never the
    * dim-sized vectors. (The prior form selected q_vec AND embedding
    * through this exchange: at corpus scale that shipped 2·dim·8 bytes
    * × q·N over the network, contradicting the no-corpus-shuffle
    * claim; the r10 review caught it.) Kept: the double top-k per
    * partition plus every row within 1e-6 of the partition's k-th
    * double sim. Double and exact-decimal cosines agree to ~1e-13, so
    * any row in the true decimal top-k either ranks ≤ k by double, or
    * sits ≤ 2e-13 below the k-th double sim — far inside the margin;
    * pruning can never drop a true result.
    *
    * Phase 2 — the O(q·k·P) survivors are BROADCAST back onto the
    * vector frames to re-attach the arrays (the corpus-side fetch is a
    * broadcast hash join: exchange-free, a second column-pruned scan
    * instead of an array shuffle), then exact-decimal rescoring and the
    * global per-query rank decide; emitted sims are always the
    * decimal-exact values. `corpusVecs` must carry ONLY
    * (vec_id, embedding) — the exact-decimal corpus norm is computed
    * AFTER the survivor join, on the O(q·k) joined rows, never per
    * corpus row: decimal accumulation is ~12× the double path
    * (measured, scaladoc on the LSH materialization), so a norm
    * projection below this join would re-pay the dominant per-row cost
    * of the whole query on the second scan for rows that are about to
    * be discarded.
    */
  private def twoPhaseTopK(scoredKeys: DataFrame, corpusVecs: DataFrame,
      queryVecs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("simd").desc, col("vec_id"))
    val partitionPruned = scoredKeys
      .withColumn("pid", spark_partition_id())
      .withColumn("prn", row_number().over(w))
      .withColumn("kth", nth_value(col("simd"), k).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("prn") <= k ||
        col("simd") >= coalesce(col("kth") - lit(1e-6),
          lit(Double.NegativeInfinity)))
      .select(col("q_id"), col("vec_id"), col("simd"))
    // second keys-only prune, GLOBAL per query: the per-partition stage
    // leaves O(q·k·P) survivors — at 100 TB, P (input splits) is 10⁵-10⁶,
    // which would put billions of rows under the broadcast below. One
    // more window over the already-pruned keys (tiny exchange on q_id)
    // cuts that to O(q·k) independent of P. Same margin argument as the
    // first stage: a true decimal top-k row sits ≤ 2e-13 below the
    // global double k-th — far inside 1e-6 — so this never drops one.
    // The broadcast is then provably query-sized; the only corpus whose
    // ties could still inflate it is one where ~everything scores within
    // 1e-6 of the k-th sim (an all-duplicates corpus — which upstream
    // dedup exists to remove).
    val wg = Window.partitionBy(col("q_id"))
      .orderBy(col("simd").desc, col("vec_id"))
    val survivors = partitionPruned
      .withColumn("grn", row_number().over(wg))
      .withColumn("gkth", nth_value(col("simd"), k).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("grn") <= k ||
        col("simd") >= coalesce(col("gkth") - lit(1e-6),
          lit(Double.NegativeInfinity)))
      .select(col("q_id"), col("vec_id"))
    broadcast(survivors)
      .join(corpusVecs, Seq("vec_id"))
      .withColumn("c_norm", sqrt(normSqDecimal(col("embedding"))))
      .join(broadcast(queryVecs), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        simOrZero(dotDecimal(col("q_vec"), col("embedding")),
          col("q_norm") * col("c_norm")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest corpus vectors (vec_id ≥ nQueries).
    *
    * Two-phase top-k ([[twoPhaseTopK]]): phase 1 keeps k per (query,
    * input partition) on a keys-only exchange; phase 2 ranks the tiny
    * survivor set globally. Result is identical to the naive single
    * window but the only corpus-sized movement is ~32 B/row of keys —
    * the embedding arrays never leave their scan partitions.
    */
  def annTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val queries = broadcast(
      embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          sqrt(normSqDecimal(col("embedding"))).as("q_norm")))
    // NOT widened (r18): measured flat (0.29 → 0.32 s), and the widen's
    // round-robin exchange would carry the embedding arrays — the exact
    // shape the "no shuffle ever carries an embedding" plan pin exists
    // to forbid (phase-1 already prunes with keys only).
    val corpus = embeddings.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), col("embedding"))
    // phase-1 pruning runs entirely in doubles — the corpus norm here is
    // the cheap double fold, NOT the ~12× decimal accumulation (double
    // and decimal norms agree to ~1e-13, far inside the 1e-6 prune
    // margins, and phase 2 re-decides every emitted value with
    // exact-decimal norms on the survivor-sized set — output is
    // bit-identical, the full-scan decimal pass is gone)
    val scoredKeys = corpus.crossJoin(queries)
      .select(col("q_id"), col("vec_id"),
        simOrZero(dotDouble(col("q_vec"), col("embedding")),
          col("q_norm") *
            sqrt(dotDouble(col("embedding"), col("embedding")))).as("simd"))
    twoPhaseTopK(scoredKeys, corpus, queries, k)
  }

  /** Near-duplicate embedding pairs above a cosine threshold, blocked by
    * `label` (the pair-pruning key: near-dups share a block, so pair
    * generation is O(Σ block²) not O(n²) — the blocking analog of LSH
    * for this labeled corpus).
    */
  def nearDupPairs(embeddings: DataFrame, minSim: Double = 0.3): DataFrame = {
    // norms once per vector (n rows), not once per pair (n² rows);
    // widened: see the 4-core table in Tables.widenCpu
    val withNorm = graft.Tables.widenCpu(embeddings)
      .select(col("label"), col("vec_id"),
        col("embedding"), sqrt(normSqDecimal(col("embedding"))).as("nrm"))
    val a = withNorm.select(col("label"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"))
    val b = withNorm.select(col("label"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"))
    verifiedCosine(
      a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b")), minSim)
      .select(col("label"), col("vec_a"), col("vec_b"), col("sim"))
  }

  /** Label-free near-duplicate pairs via signed-random-projection LSH
    * (SimHash-for-vectors): `planes` ±1 hyperplanes project each vector to
    * a sign bit; bits group into `planes/bandBits` bands; vectors sharing
    * any full band signature become candidates; candidates are verified
    * with the exact-decimal cosine. [[nearDupPairs]] needs a `label`
    * blocking key — this is the scale path when no label exists: pair
    * generation is an equi-join on (band, key), never O(n²), and the
    * candidate volume is tuned by `bandBits` (each extra bit halves the
    * expected bucket size; at 100 TB you run 16-24 bits per band, here 8
    * keeps the small-SF result set meaningful).
    *
    * Determinism: hyperplane component (j, d) is +1 iff the 60-bit
    * md5(j ‖ ':' ‖ d) value is even — reproducible in any engine, so the
    * DuckDB oracle mirrors candidate generation EXACTLY, not just the
    * final threshold. Projections accumulate in decimal (same policy as
    * every similarity op), so the sign of a near-zero projection is
    * engine-independent — no tolerance games even at the bucket boundary.
    *
    * Recall semantics are standard LSH: collision probability per plane is
    * 1 − θ/π, so high-sim pairs (true near-dups) are found with high
    * probability while low-sim pairs mostly aren't candidates; the
    * verification step makes precision exact regardless.
    * `maxBucketSize` (default unlimited = exact declared semantics)
    * drops non-discriminative mega-buckets — see the candidate-stage
    * comment for the factor-100 failure mode it guards and the
    * bandBits-must-grow-with-log(n) rule that goes with it.
    *
    * The hyperplane codebook is ONE broadcast row (|planes| ±1-vectors);
    * signatures are a map-side array expression over the corpus scan. The
    * only corpus-wide shuffle is the (band, key) candidate join. The
    * codebook needs `dim`, read once from the data (a metadata-sized
    * driver action at plan-build time).
    */
  def srpLshNearDupPairs(embeddings: DataFrame, planes: Int = 32,
      bandBits: Int = 8, minSim: Double = 0.3,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(planes % bandBits == 0,
      s"planes ($planes) must be a multiple of bandBits ($bandBits)")
    val bands = planes / bandBits
    val spark = embeddings.sparkSession
    // dim probe: FIRST row only (a LocalLimit(1) single-split peek — the
    // prior max(size(...)) aggregated the whole corpus at plan-build
    // time). NOT memoized: a canonicalized-plan key omits LocalRelation
    // data and file paths, so two same-schema frames would share one
    // entry and a stale dim would silently size the hyperplanes — and
    // the LIMIT 1 peek is already cheap enough to pay per construction.
    // Uniform dim is assumed engine-wide (centroids/quantize/IVF all zip
    // positionally); on a ragged corpus a first-row probe can under-size
    // the hyperplanes, which only costs LSH candidate recall — the
    // exact-decimal verification step keeps every emitted pair correct.
    // headOption: an EMPTY corpus has no pairs — return the typed empty
    // frame instead of letting head() throw NoSuchElementException at
    // plan-build time (every other operator here degrades the same way).
    // The probe also skips NULL embeddings: ANSI size(NULL) is NULL and
    // getInt over it is a bare NPE — a single NULL row must not kill
    // the query (NULL vectors project to no bands and emit nothing).
    val dimRow = embeddings.filter(col("embedding").isNotNull)
      .select(size(vec(col("embedding")))).head(1)
    if (dimRow.isEmpty)
      return embeddings.sparkSession.createDataFrame(
        embeddings.sparkSession.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_a",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vec_b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sim",
            org.apache.spark.sql.types.DoubleType))))
    val dim = dimRow.head.getInt(0)
    val hplanes = spark.range(planes.toLong)
      .select(col("id").cast("int").as("plane"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          when(call_function("md5_base60",
            concat(col("id").cast("string"), lit(":"), d.cast("string")))
            % 2 === 0, lit(1.0)).otherwise(lit(-1.0))).as("hvec"))
      .agg(array_sort(collect_list(struct(col("plane"), col("hvec"))))
        .as("planes"))
    // Signatures are MATERIALIZED (DISK_ONLY, the GraphOps lesson): the
    // projection is ~planes·dim decimal multiplies per vector — far
    // more expensive to recompute per self-join side than the
    // (vec_id, band, key) rows are to store (measured at factor 100:
    // recompute-per-side 59 s vs 34 s materialized) — and the
    // LogicalRDD's ACTUAL size keeps the candidate join's estimates
    // honest for the planner.
    // Parallelism floor for the projection (r15): the signature stage
    // is the function's CPU core — planes·dim decimal multiplies per
    // vector — and a small corpus arrives as ONE scan partition (the
    // sf0.1 fixture is a single 780 KB file), which ran the whole
    // projection single-threaded: measured 3.6 s of the scaled declared
    // query's 3.9 s bench cost. Widening to the task-slot count is a
    // corpus-row shuffle, trivial beside the projection it distributes;
    // at real scale the scan already has ≫ slots partitions and no
    // repartition node is inserted (identity, same contract as the
    // graph width rule). Results are partitioning-invariant by the
    // decimal-accumulation design (pinned in SimilarityRecallSpec).
    val slots = spark.sparkContext.defaultParallelism
    val src = if (embeddings.rdd.getNumPartitions < slots)
      embeddings.repartition(slots) else embeddings
    val banded = src
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .crossJoin(broadcast(hplanes))
      .select(col("vec_id"),
        transform(col("planes"), p =>
          when(call_function("decimal_dot", col("v"), p.getField("hvec"))
            > 0, lit(1)).otherwise(lit(0))).as("bits"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("bits"))
      .select(col("vec_id"), col("band"),
        array_join(transform(
          slice(col("bits"), col("band") * lit(bandBits) + lit(1),
            lit(bandBits)),
          b => b.cast("string")), "").as("key"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // Mega-bucket guard BEFORE the candidate self-join: buckets past
    // `maxBucketSize` (and singletons, which can pair with nothing) are
    // dropped via a bucket-size semi-filter. A fixed `bandBits` makes
    // the RANDOM collision rate per pair a constant 2^-bandBits, so
    // candidate volume grows QUADRATICALLY in corpus size once
    // n ≫ 2^bandBits: the r13 factor-100 sweep killed the 8-bit toy
    // geometry on disk (200 k vectors → ~780-member average buckets →
    // Σbucket² ≈ 10⁹ candidate rows → ~70 GB of verification spill,
    // SPILL_OUT_OF_MEMORY). Oversized buckets are non-discriminative
    // by construction (a bucket holding ≫ n·2^-bandBits vectors is
    // signal-free collision mass); dropping them is standard LSH
    // practice, and true near-dup pairs keep their other bands. The
    // default keeps exact semantics for the declared small-SF query;
    // at scale, set maxBucketSize AND grow bandBits ~ log₂(n) with
    // planes in proportion (measured at factor 100 in SCALE.md).
    //
    // Deliberately a SELF-JOIN, not the grouped collect_list +
    // 2-combination explode form minhashLshPairs uses: an explode's
    // output cardinality is opaque to the planner, so the grouped form
    // made the (potentially Σbucket²-sized) candidate frame LOOK
    // bucket-count-sized — at factor 100 the planner then chose it as
    // a BroadcastHashJoin build side and died on
    // spark.driver.maxResultSize before the verification even started.
    // Join output estimates stay honest, so the big side is never
    // broadcast (the r13 full-surface sf10 run is the regression
    // evidence).
    // the size-filter join only exists when a cap is set — at the
    // unlimited default it would filter nothing (singletons already
    // self-join to nothing) while costing an aggregate + join per run
    val keyed = if (maxBucketSize == Int.MaxValue) banded
    else banded.join(
      banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
        .select(col("band"), col("key")),
      Seq("band", "key"))
    val cand = keyed.select(col("band"), col("key"), col("vec_id").as("vec_a"))
      .join(keyed.select(col("band"), col("key"), col("vec_id").as("vec_b")),
        Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val withNorm = embeddings.select(col("vec_id"),
      vec(col("embedding")).as("emb"),
      sqrt(normSqDecimal(col("embedding"))).as("nrm"))
    // the shared two-stage verify ([[verifiedCosine]]). The zero-norm
    // guard matters doubly here: a zero vector's sign bits are all
    // identical, so zero vectors COLLIDE IN EVERY BAND — without the
    // guard their 0/0 = NaN cosine would pass under Spark's
    // NaN-greatest ordering.
    verifiedCosine(cand
      .join(withNorm.select(col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("nrm").as("norm_a")), Seq("vec_a"))
      .join(withNorm.select(col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("nrm").as("norm_b")), Seq("vec_b")),
      minSim)
      .select(col("vec_a"), col("vec_b"), col("sim"))
  }

  /** Per-label mean embedding (centroid) in exploded (label, pos) form —
    * the K-means / IVF-training primitive and the embedding-drift monitor.
    * Sums accumulate in DECIMAL(28,18) per component (order-independent,
    * bit-identical to the DuckDB oracle; precision stays ≤ 38 so Spark's
    * decimal addition never drops a scale digit), divided once as double.
    * One shuffle keyed on (label, pos) with map-side partial sums — the
    * exploded key space is |labels|·dim, so the aggregate state is tiny
    * regardless of corpus size.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(vec(col("embedding"))))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("col").cast("decimal(28,18)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("centroid"))

  /** One K-means assignment step: each vector joins the (tiny, broadcast)
    * centroid table and takes its best-cosine centroid — ties broken by
    * smaller label. Composing [[labelCentroids]] → assign → re-aggregate
    * is the standard distributed Lloyd iteration: per step, one broadcast
    * join and one (label, pos) aggregate, no corpus shuffle.
    */
  def kmeansAssign(embeddings: DataFrame): DataFrame = {
    // widened here, not in assignTo, so the IVF probe paths keep their
    // pinned exchanges; see the 4-core table in Tables.widenCpu
    assignTo(graft.Tables.widenCpu(embeddings),
      centroidVectors(embeddings))
  }

  /** [[labelCentroids]] re-assembled into per-label centroid ARRAYS —
    * the broadcastable codebook form shared by [[kmeansAssign]],
    * [[kmeansLloyd]] and [[annTopKIvf]].
    */
  def centroidVectors(embeddings: DataFrame): DataFrame =
    labelCentroids(embeddings)
      .groupBy(col("label").as("c_label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid"))))
        .as("pcs"))
      .select(col("c_label"),
        transform(col("pcs"), s => s.getField("centroid")).as("cvec"))

  /** Best-cosine centroid per vector, EXCHANGE-FREE: the codebook
    * collapses to one broadcast row (cell structs with pre-computed
    * decimal norms, hoisted out of the per-pair loop), so the whole
    * argmax is a map-side array expression over the corpus scan — no
    * groupBy, no shuffle at any scale.
    *
    * Decimal discipline via the same margin argument as [[annTopK]]:
    * cheap IEEE-double sims rank the cells, survivors within 1e-6 of the
    * double max (double and decimal cosines agree to ~1e-13, so the true
    * decimal winner always survives) are rescored decimal-exact, and the
    * final (sim, smaller-label) argmax over survivors picks the identical
    * cell the all-decimal form would — for ~|cells|× less decimal work.
    * Emitted sims are always decimal-exact. (The all-decimal per-pair
    * form measured ~2.5 s per pass at sf0.1 on the single-partition
    * local fixture; this form is ~0.2 s with identical output.)
    */
  def assignTo(embeddings: DataFrame, cents: DataFrame): DataFrame = {
    // assignTo itself never widens: the IVF probe paths route through
    // here and their plans are pinned exchange-pure (no shuffle may
    // carry a vector array). The kmeans callers widen their corpus side
    // before calling in — see kmeansAssign/kmeansLloyd.
    withAssignedCell(
      embeddings.select(col("vec_id"), vec(col("embedding")).as("v"),
        sqrt(normSqDecimal(col("embedding"))).as("nrm")),
      cents, "v", "nrm")
      .select(col("vec_id"), col("cell").as("assigned_label"),
        round(col("cell_sim"), 6).as("sim"))
  }

  /** Append each row's decimal-exact best-cosine cell (`cell`, `cell_sim`)
    * against the `(c_label, cvec)` centroid table — the shared
    * exchange-free argmax core of [[assignTo]] and [[annTopKIvf]]. The
    * codebook collapses to ONE broadcast row; cells are ranked by cheap
    * IEEE-double sims, survivors within 1e-6 of the double max (double
    * and decimal cosines agree to ~1e-13) are rescored decimal-exact,
    * and the (sim, smaller-label) argmax over survivors picks the
    * identical cell an all-decimal pass would — so the assignment is
    * bit-reproducible by the DuckDB oracle's pure-decimal ranking.
    *
    * Zero-norm convention: a degenerate all-zero vector (or cell) has no
    * direction, so its cosine is DEFINED as 0 to every centroid — ANSI
    * division would otherwise throw DIVIDE_BY_ZERO, and the 0-everywhere
    * tie deterministically assigns such vectors to the smallest label.
    */
  private def withAssignedCell(df: DataFrame, cents: DataFrame,
      v: String, nrm: String): DataFrame = {
    val codebook = cents
      .select(col("c_label"), col("cvec"),
        sqrt(normSqDecimal(col("cvec"))).as("c_norm"))
      .agg(collect_list(struct(col("c_label"), col("cvec"), col("c_norm")))
        .as("cells"))
    df.crossJoin(broadcast(codebook))
      // One-pass primitive argmax+filter ([[graft.functions.CellSurvivors]]).
      // The previous HOF pipeline (transform → array_max → filter) was
      // correct but collapsed into a projection that re-evaluated the
      // array_max-over-transform INSIDE the filter lambda: O(nlist²·d)
      // interpreted work per row — harmless at the 10-cell toy codebook,
      // ~10¹² ops for one 1M-vector assignment at the nlist ≈ √n
      // geometry a real index uses. Bit-identical semantics (see the
      // expression's scaladoc), O(nlist·d) per row.
      .withColumn("surv", call_function("cell_survivors",
        col(v), col(nrm), col("cells")))
      .withColumn("best", array_max(transform(col("surv"), x => struct(
        when(col(nrm) * x.getField("c_norm") > 0,
          call_function("decimal_dot", col(v), x.getField("cvec")) /
            (col(nrm) * x.getField("c_norm"))).otherwise(lit(0.0))
          .as("sim"),
        (-x.getField("c_label")).as("neg_label")))))
      .withColumn("cell", -col("best.neg_label"))
      .withColumn("cell_sim", col("best.sim"))
      .drop("cells", "surv", "best")
  }

  /** Full distributed Lloyd iteration: [[kmeansAssign]] (assign to nearest
    * centroid) composed `iters` times, re-deriving centroids from the
    * previous assignment each round. The iteration count is FIXED for
    * determinism (no data-dependent convergence test), so the whole loop
    * stop test). Per round: one broadcast codebook join and one
    * (label, pos) aggregate — the corpus itself never shuffles. The
    * round's assignment (a |corpus|-row, 2-column table) is
    * `localCheckpoint`ed before it feeds the next round (the
    * `nearDupClusters` pattern): the next assign consumes it TWICE
    * (centroid re-derivation + the relabel join), and without
    * materialization the previous round's whole plan re-evaluates per
    * consumer — measured 2.9 s → ~1 s at sf0.1 for iters=2.
    */
  def kmeansLloyd(embeddings: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var assigned = kmeansAssign(embeddings)
    var i = 1
    while (i < iters) {
      // only the 2-column label table materializes between rounds; both
      // the centroid re-derivation and the scoring pass stream the
      // corpus from the original (columnar) scan
      val labels = assigned.select(col("vec_id"),
        col("assigned_label").as("label")).localCheckpoint()
      val relabeled = embeddings.select(col("vec_id"), col("embedding"))
        .join(labels, Seq("vec_id"))
      assigned = assignTo(embeddings, centroidVectors(relabeled))
      i += 1
    }
    assigned.select(col("vec_id"), col("assigned_label").as("cluster"),
      col("sim"))
  }

  /** Scale-path ANN: true IVF. The coarse codebook is the per-label
    * centroid table ([[labelCentroids]] — the IVF "training" output);
    * every corpus vector is assigned to its best-cosine cell, and each
    * query probes only its `nprobe` nearest cells. The scanned fraction is
    * ≈ the probed cells' population share — the IVF cost model.
    *
    * Shuffle discipline: the codebook collapses to ONE broadcast row (a
    * struct array of |cells| entries, each cell's vector + norm), so cell
    * assignment is a map-side `array_max` argmax over the corpus scan —
    * no join, no corpus shuffle. Probe selection reuses the same
    * broadcast row on the (tiny) query side. Candidate scoring and top-k
    * then follow [[annTopK]]'s two-phase shape: cheap double scores +
    * per-partition pre-top-k with a 1e-6 margin, exact-decimal rescore of
    * the survivors, so emitted sims remain decimal-exact.
    *
    * Measured on the near-uniform sf0.1 fixture (2000 vecs, 10 cells):
    * recall@5 = 0.85 at the default nprobe=6 (asserted ≥ 0.8 in
    * SimilarityRecallSpec). On genuinely clustered corpora the same
    * recall needs a far smaller nprobe/nlist ratio — uniform data is
    * IVF's worst case.
    *
    * Determinism (what makes this ORACLE-CHECKABLE despite being
    * approximate): the approximation lives ONLY in `nprobe` — which
    * cells are probed — and both the corpus cell assignment
    * ([[withAssignedCell]]'s decimal-guarded argmax) and the per-query
    * cell ranking (decimal csim, ties to the smaller cell) are
    * bit-reproducible in pure SQL, so the full output is a
    * deterministic function of the data that the DuckDB oracle mirrors
    * end-to-end (OracleSql.annTopKIvf). Approximate ≠ nondeterministic.
    */
  def annTopKIvf(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
      nprobe: Int = 6): DataFrame = {
    // IVF "training": the per-label centroid codebook (tiny, broadcast)
    val cents = centroidVectors(embeddings)
    val withNorm = embeddings.select(col("vec_id"),
      vec(col("embedding")).as("v"),
      sqrt(normSqDecimal(col("embedding"))).as("nrm"))
    // corpus side: decimal-exact best-cell assignment, map-side argmax
    val corpus = withAssignedCell(
      withNorm.filter(col("vec_id") >= nQueries), cents, "v", "nrm")
      .select(col("vec_id"), col("v").as("embedding"), col("nrm"),
        col("cell"))
    // each query probes its nprobe best cells (query side is tiny) via
    // the shared [[probeCells]] ranker (structurally identical to
    // annTopKFromLayout's stored-codebook probe). carry = q_id ONLY:
    // the rank window exchanges (q_id, c_label, csim) KEYS ONLY; the
    // query vectors re-attach by broadcast after the nprobe filter, so
    // no exchange in the whole query carries an array (PlanShapeSpec
    // pins this for both ANN forms).
    val queryVecs = withNorm.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"),
        col("nrm").as("q_norm"))
    val probes =
      probeCells(queryVecs, cents, nprobe, "q_vec", "q_norm", Seq("q_id"))
        .join(broadcast(queryVecs), Seq("q_id"))
    // candidate scoring over the probed cells only — the shared
    // keys-only two-phase core ([[twoPhaseTopK]]); the probed subset's
    // arrays stay in their scan partitions, exactly like annTopK's
    val scoredKeys = corpus.join(broadcast(probes), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        simOrZero(dotDouble(col("q_vec"), col("embedding")),
          col("q_norm") * col("nrm")).as("simd"))
    // phase 2 joins survivors against the RAW scan, not `corpus`: the
    // corpus plan carries the decimal norm AND the O(nlist·d)/row cell
    // argmax, and a second execution of it (broadcast joins re-run
    // their probe-side plan) would re-pay both for every corpus row to
    // feed ~q·k joined rows — the survivor-sized c_norm recompute
    // inside twoPhaseTopK replaces all of it
    twoPhaseTopK(scoredKeys,
      embeddings.filter(col("vec_id") >= nQueries)
        .select(col("vec_id"), col("embedding")),
      queryVecs, k)
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus (one
    * [[kmeansAssign]] Lloyd step against the label centroids — the paper's
    * k-means stage), then search for near-duplicates ONLY within each
    * cluster cell and drop every vector that is ≥ `minSim` cosine-similar
    * to a LOWER-id vector in its cell (the deterministic "keep one
    * representative" rule; the keeper is always the smallest id, so the
    * output is partitioning-independent).
    *
    * Scale shape: the cell assignment is the exchange-free broadcast
    * argmax of [[assignTo]]; the only pair generation is the intra-cell
    * self-join — O(Σ cell²), the SemDeDup cost model, where |cells| is
    * chosen so cells stay executor-sized (nlist ~ √n at 100 TB; here the
    * 10-label codebook stands in). The 2-column assignment is
    * `localCheckpoint`ed because three consumers (both join sides + the
    * final keep-flag projection) would otherwise re-evaluate the argmax
    * plan per consumer. Verification follows the two-stage policy: cheap
    * double prefilter with a 1e-5 margin, exact-decimal cosine decides.
    *
    * Output: every vector with its cell and `kept` ∈ {0,1} (BIGINT — the
    * hash-stable cross-engine encoding of the decision).
    */
  def semanticDedup(embeddings: DataFrame, minSim: Double = 0.3): DataFrame = {
    val cells = kmeansAssign(embeddings)
      .select(col("vec_id"), col("assigned_label").as("cell"))
      .localCheckpoint()
    val withNorm = embeddings
      .select(col("vec_id"), vec(col("embedding")).as("emb"),
        sqrt(normSqDecimal(col("embedding"))).as("nrm"))
      .join(cells, Seq("vec_id"))
    val a = withNorm.select(col("cell"), col("vec_id").as("vec_a"),
      col("emb").as("emb_a"), col("nrm").as("norm_a"))
    val b = withNorm.select(col("cell"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"), col("nrm").as("norm_b"))
    // the shared two-stage verify ([[verifiedCosine]]) — the zero-norm
    // guard keeps the engines agreeing on degenerate input (DuckDB's
    // 0/0 is NULL and drops; Spark's NaN would otherwise pass)
    val dropped = verifiedCosine(
      a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b")), minSim)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1L))
    cells
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("is_dropped").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /** Index-organized ANN storage: write the corpus PARTITIONED BY its
    * k-means cell (one directory per cell — the IVF inverted-list layout
    * as a parquet partitioning), so a query that probes `nprobe` cells
    * reads ONLY those directories. At 100 TB this is the difference
    * between scanning the corpus per query and scanning
    * nprobe/nlist of it: Catalyst partition pruning turns the cell
    * filter into directory-level PartitionFilters, no data files outside
    * the probed cells are even opened (asserted via `inputFiles` in
    * BucketingSpec). Returns the cell directory written per vector.
    */
  def writeCellPartitioned(embeddings: DataFrame, path: String): Unit = {
    // train ONCE: this method runs two actions (the layout write and
    // the _centroids write), and each would otherwise re-execute the
    // full-corpus centroid aggregate — the most expensive pass of an
    // index build, paid twice for one build. The codebook is nlist-sized
    // (~√n rows), so the localCheckpoint is metadata-cheap and both
    // consumers read the same materialized training result (the same
    // shared-assignment discipline semanticDedup uses).
    val cents = centroidVectors(embeddings).localCheckpoint()
    embeddings
      .join(assignTo(embeddings, cents)
        .select(col("vec_id"), col("assigned_label").as("cell")),
        Seq("vec_id"))
      // repartition ON the partition column before partitionBy — without
      // it every write task emits one file into every cell it touches
      // (tasks × nlist small files at nlist ≈ √n geometry: 32k files for
      // a 1000-cell index even locally, millions at cluster task counts);
      // with it each cell's rows land in one task → ONE file per cell.
      // The cost is one corpus shuffle at build time, amortized over the
      // build-once/probe-many lifecycle this layout exists for.
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    // the codebook rides along under an underscore dir (invisible to
    // parquet discovery of the layout itself) — probes read it instead
    // of re-deriving centroids from a full corpus scan. It is written
    // LAST, so a crash between the two writes leaves a layout without
    // its codebook — an invalid state that annTopKFromLayout rejects
    // with an explicit invariant error rather than a path-not-found.
    cents.write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Incremental index ingest — the vector-side analog of the daily
    * corpus merge: assign a day's NEW vectors against the EXISTING
    * stored codebook (broadcast, exchange-free [[assignTo]]) and
    * append them into the cell directories. The codebook does NOT
    * move — the standard IVF ingest contract: centroids drift only at
    * an explicit rebuild ([[writeCellPartitioned]]), because moving
    * them would silently re-home every previously stored vector.
    * Probes are unchanged and immediately see the new vectors;
    * correctness is assignment-independent — probe-all over a layout
    * built on a subset then appended equals brute force over the full
    * corpus bit-for-bit (BucketingSpec) — only RECALL at partial
    * nprobe depends on assignment quality, which is what scheduled
    * rebuilds maintain. Cost scales with the delta: one broadcast
    * assign + one partitioned append, the corpus is never read.
    */
  def appendToCellLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, newVecs: DataFrame): Unit = {
    val centPath = new org.apache.hadoop.fs.Path(s"$path/_centroids")
    require(centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(centPath),
      s"IVF layout at $path has no _centroids codebook — " +
        "build it with writeCellPartitioned before appending")
    val cents = spark.read.parquet(s"$path/_centroids")
    newVecs
      .join(assignTo(newVecs, cents)
        .select(col("vec_id"), col("assigned_label").as("cell")),
        Seq("vec_id"))
      // same delta-sized cell shuffle as the build: one appended file
      // per touched cell per ingest, not tasks × cells
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(path)
  }

  /** Build-once/probe-many fixture: the [[writeCellPartitioned]] layout
    * for a corpus directory, built on FIRST use per JVM at a
    * deterministic warehouse path (repeat runs overwrite, never
    * accumulate) and memoized so every subsequent probe in the session
    * hits the stored index — the lifecycle a real 100 TB deployment
    * runs: one index build amortized over many queries.
    */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def cellLayoutFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    layoutCache.computeIfAbsent(dir, d => {
      // sanitization alone is not injective ("/data/x" and "/data_x"
      // both map to "_data_x") — Tables.dirKey suffixes a digest of the
      // raw dir so two distinct corpora never share a layout path
      val path = new java.io.File(
        "spark-warehouse", s"ivf_layout_${graft.Tables.dirKey(d)}")
        .getAbsolutePath
      writeCellPartitioned(graft.Tables.table(spark, d, "embeddings"), path)
      path
    })

  /** Grown-index fixture for the declared append-path query: build the
    * cell layout from the BASE slice of the corpus (every vector except
    * corpus ids ≡ `rem` (mod `mod`) — queries stay in the base so the
    * probe side reads them from the layout), then ingest the held-out
    * delta through [[appendToCellLayout]] against the STORED codebook —
    * the daily-ingest lifecycle (build once, append deltas, probe
    * continuously), memoized per (JVM, corpus) like [[cellLayoutFor]].
    * Probing this layout is deterministic end-to-end: base vectors were
    * assigned at build by the base-trained codebook, delta vectors at
    * append by the SAME stored codebook, so every corpus vector's cell
    * is the one decimal argmax rule against one codebook — which is
    * exactly what the shared SQL oracle replays
    * (OracleSql.annTopKIvfAppend: the IVF oracle with its centroid CTE
    * trained on the base slice only).
    */
  private val appendLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def appendedCellLayoutFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, nQueries: Int = 8, mod: Int = 10, rem: Int = 3): String =
    appendLayoutCache.computeIfAbsent(s"$dir#$nQueries#$mod#$rem", _ => {
      // path carries the SAME parameters as the memo key: with only
      // dirKey in the path, a second parameterization of one corpus
      // would silently overwrite the first build while the first cache
      // entry kept handing out the now-wrong directory
      val path = new java.io.File(
        "spark-warehouse",
        s"ivf_append_${graft.Tables.dirKey(dir)}_q${nQueries}_m${mod}_r$rem")
        .getAbsolutePath
      val all = graft.Tables.table(spark, dir, "embeddings")
      val isDelta =
        col("vec_id") >= nQueries && col("vec_id") % mod === rem
      writeCellPartitioned(all.filter(!isDelta), path)
      appendToCellLayout(spark, path, all.filter(isDelta))
      path
    })

  /** Probe-side ANN over a [[writeCellPartitioned]] layout: rank the
    * stored centroids per query (decimal-exact, tiny — |queries|·nlist
    * pairs), keep the top `nprobe` cells, and scan ONLY those cells'
    * directories for exact-decimal top-k scoring. The probed cell set
    * becomes a STATIC `cell INSET` PartitionFilter on the candidate scan
    * (planned on the coordinator from the codebook-sized probe frame —
    * see the inline note for why both dynamic-pruning forms fail
    * structurally here), so per-query IO is bounded by nprobe/nlist of
    * the corpus — the full IVF lifecycle: build once
    * ([[writeCellPartitioned]]), probe many. Witnessed end-to-end by the
    * scan's numFiles metric in SimilarityRecallSpec and at 1M vectors by
    * RecallSweep.
    *
    * Exactness property (unit-tested): with `nprobe` = nlist the result
    * is IDENTICAL to brute-force [[annTopK]] — the approximation lives
    * only in which cells are probed, never in the scoring.
    *
    * Contract note: CONSTRUCTING the returned DataFrame runs two bounded
    * Spark jobs eagerly (the probe-frame `localCheckpoint` and the
    * codebook-sized `collect` that plans the static cell filter) — this
    * is the coordinator planning step, priced at |queries|·nprobe rows,
    * not a lazy plan-only call.
    */
  def annTopKFromLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, nQueries: Int = 8, k: Int = 5,
      nprobe: Int = 2): DataFrame = {
    val centPath = new org.apache.hadoop.fs.Path(s"$path/_centroids")
    require(centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(centPath),
      s"IVF layout at $path has no _centroids codebook — " +
        "writeCellPartitioned did not complete; rebuild the layout " +
        "before probing")
    val layout = spark.read.parquet(path)
    val cents = spark.read.parquet(s"$path/_centroids")
    val queries = layout.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), vec(col("embedding")).as("q"),
        sqrt(normSqDecimal(col("embedding"))).as("q_norm"))
    // the shared [[probeCells]] ranker against the STORED codebook
    // (structural agreement with annTopKIvf's in-memory probe); carry
    // keeps the query vectors through the window (query-sized here).
    // localCheckpoint = the IVF query-planning step materialized: the
    // probed-cell frame is |queries|·nprobe rows (codebook-sized, never
    // corpus-sized) and feeds TWO consumers (the static cell filter below
    // and the per-query candidate join).
    val probed = probeCells(queries, cents, nprobe, "q", "q_norm",
        Seq("q_id", "q", "q_norm"))
      .localCheckpoint()
    // The IVF coordinator step: the UNION of probed cells becomes a
    // STATIC partition filter on the candidate scan, so only the probed
    // cells' directories are ever opened (numFiles-witnessed in
    // SimilarityRecallSpec "scale-correct geometry"). This is a driver
    // action, but a BOUNDED one — ≤ |queries|·nprobe ints off the
    // already-materialized probe frame, codebook-sized and independent
    // of corpus size (the same class as the documented graph-size peek:
    // planning metadata, not data). It exists because both dynamic
    // alternatives fail structurally: the un-checkpointed probe subtree
    // prices above DPP's benefit bar (its filter compiles to
    // dynamicpruningexpression(true) — a FULL-index scan), and the
    // checkpointed one has no selective predicate for DPP to harvest.
    // Every production IVF engine plans probes exactly here, on the
    // query coordinator. The per-query cell routing stays in the join.
    // generic read (r11 ADVICE): no IntegerType assumption on the
    // layout's label — a long/string cell label collects as-is, a null
    // label (un-routable by construction) is skipped, and the INSET
    // filter below compares in the column's native type. The sort is
    // ONLY for a deterministic literal list in the plan text (stable
    // .explain diffs / PlanShapeSpec): String.valueOf order is
    // lexicographic, not numeric ("10" < "2") — isin semantics don't
    // care about order, so that is fine by design (r12 ADVICE note)
    val probedCells = probed.select(col("cell")).distinct()
      .collect().iterator.map(_.get(0)).filter(_ != null)
      .toArray.sortBy(String.valueOf(_))
    val scored = layout
      .filter(col("cell").isin(probedCells: _*))
      .filter(col("vec_id") >= nQueries)
      .select(col("cell"), col("vec_id"), vec(col("embedding")).as("v"),
        sqrt(normSqDecimal(col("embedding"))).as("v_norm"))
      .join(broadcast(probed), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        simOrZero(dotDecimal(col("q"), col("v")),
          col("q_norm") * col("v_norm")).as("sim"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Hybrid retrieval (the standard RAG shape): BM25 lexical top-k and
    * embedding-cosine semantic top-k fused by RECIPROCAL RANK FUSION —
    * `rrf(d) = Σ_lists 1/(rrfK + rank_list(d))` (Cormack et al.'s
    * robust rank-only fusion; no score normalization across
    * incomparable scales). The semantic query is `vec_id` 0's
    * embedding ([[annTopK]] with one query), the lexical query is a
    * term list ([[graft.functions.TextAnalysis.bm25TopK]]); documents
    * and vectors share the id space.
    *
    * Exactness: both input rankings are already engine-exact (BM25 in
    * fixed-point micros, cosine in decimal), and the fusion keeps the
    * discipline — `1000000 div (rrfK + rank)` BIGINT floor terms,
    * summed exactly, ties to the smaller doc_id — so the DuckDB oracle
    * reproduces the fused ranking bit-for-bit.
    *
    * Scale shape: both retrievers are top-k-bounded, so the fusion
    * join and final window touch ≤ 2·kEach rows regardless of corpus
    * size — the global (unpartitioned) rank window here is over that
    * bounded fused candidate list, never the corpus. At real scale the
    * per-query fan-out is the `queries`-side broadcast both retrievers
    * already implement.
    */
  def hybridRetrieval(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String], kEach: Int = 20, k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    val lex = graft.functions.TextAnalysis
      .bm25TopK(docs, Seq("q0" -> terms), kEach)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val sem = annTopK(embeddings, 1, kEach)
      .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr(s"cast(1000000 as bigint) div ($rrfK + lex_rank)"),
          lit(0L)) +
         coalesce(expr(s"cast(1000000 as bigint) div ($rrfK + sem_rank)"),
           lit(0L))).as("rrf_micros"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_micros").desc, col("doc_id"))))
      .filter(col("rank") <= k)
  }

  /** Per-vector int8 min-max quantization — the vector-store compression
    * step (4× smaller than float32; at a 100 TB embedding corpus that is
    * the difference between 100 TB and 25 TB of scan): each vector emits
    * its `zero_point` (= component min), `scale` (= range/255), and the
    * 0..255 integer code of every component,
    * `code = floor((v − vmin) · 255 / (vmax − vmin))` clamped to [0, 255]
    * (the clamp absorbs the one-ULP overshoot `(a·255)/a > 255` that IEEE
    * division can produce at the max component). Constant vectors
    * (vmax = vmin) code to all-zeros with scale 0.
    *
    * Exactness contract: everything is IEEE-754 double arithmetic in the
    * SAME expression shape on both engines — float32 components widen to
    * double exactly, min/max pick existing values, and `(x−vmin)·255 /
    * (vmax−vmin)` is three exactly-specified IEEE ops, so Spark and
    * DuckDB produce bit-identical codes and scales with no rounding-mode
    * hazard (nothing here rounds half-anything). Codes travel as a
    * space-joined string — the repo's cross-engine array-hash convention
    * (vocab_encode, pack_sequences). De-quantization error is ≤ one step
    * (`scale`), asserted in the unit spec.
    *
    * Scale shape: zero exchanges — pure per-row projection that pipelines
    * inside the scan stage; parallelism = input splits.
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val withRange = embeddings
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("vmin"), array_max(col("v")).as("vmax"))
    withRange.select(
      col("vec_id"),
      col("vmin").as("zero_point"),
      ((col("vmax") - col("vmin")) / 255.0).as("scale"),
      array_join(transform(col("v"), x =>
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((x - col("vmin")) * 255.0 / (col("vmax") - col("vmin")))
              .cast("long")))).cast("string")), " ").as("codes"))
  }
}
