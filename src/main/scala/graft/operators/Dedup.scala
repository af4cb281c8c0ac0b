package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.functions.TextAnalysis.{normText, tokens}

/** Deduplication operators over `documents` (LLM-data-pipeline north star).
  *
  * Scale design:
  *   - Exact dedup: one hash-aggregate on a 128-bit content fingerprint —
  *     the canonical 100 TB dedup pass (shuffle carries only
  *     (hash, doc_id), never text).
  *   - Shingle/Jaccard: explode → shingle-key equi-join → count. The join
  *     key is the shingle hash, not the string. Hot (stop-)shingles are
  *     the classic skew source — `maxShingleDf` drops shingles seen in
  *     more than a fraction of docs (they carry no dedup signal and cause
  *     O(n²) pair blowup); AQE skew-join splits whatever remains.
  *   - MinHash: kept fully RELATIONAL — explode(shingle) × seed,
  *     min-aggregate per (doc, seed) — instead of a per-row loop, so
  *     Catalyst plans map-side partial mins and the same SQL runs on the
  *     DuckDB oracle. Hashes derive from md5 (identical in any engine):
  *     h_i(s) = int64(hex(md5(i ‖ ':' ‖ s))[0..15)).
  *   - LSH: band signature rows (seed div rowsPerBand), hash each band's
  *     ordered minhash vector to a bucket key, self-join buckets →
  *     candidate pairs ≪ n², then verify with true Jaccard.
  */
object Dedup {

  /** Word n-gram shingles from an ALREADY-MATERIALIZED token array column.
    * Critical: the argument must be a projected attribute, not the raw
    * tokenization expression — Catalyst re-evaluates expression subtrees
    * referenced inside higher-order-function lambdas once per element, so
    * inlining `tokens(text)` here would re-run the regexp+split per
    * shingle (measured 5× slowdown at sf0.1).
    * Docs shorter than n words get their whole text as the single shingle
    * (so short near-identical docs still collide).
    */
  def shinglesFromTokens(w: Column, n: Int): Column =
    when(size(w) >= n,
      array_distinct(transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n))))))
      .otherwise(array(concat_ws(" ", w)))

  /** Convenience form over raw text — prefer the staged
    * [[shinglesFromTokens]] inside pipelines (see its scaladoc).
    */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** Exact duplicates: group by content fingerprint, keep the smallest
    * doc_id as representative (deterministic winner).
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(normText(col("text"))).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Distinct-shingle table: (doc_id, n_shingles, shash). Tokenization
    * and shingling are staged as separate projections so each expression
    * evaluates exactly once per row (see [[shinglesFromTokens]]).
    *
    * Shingles are carried as a 60-bit md5-derived int64 (`shash`), not the
    * string: every downstream consumer (the Jaccard self-join, MinHash,
    * LSH verification) only needs equality on the shingle, and an 8-byte
    * join/shuffle key beats a ~30-byte string at any scale. Distinctness
    * is taken over the STRINGS first (inside [[shinglesFromTokens]]), then
    * hashed — and the DuckDB oracle applies the identical
    * `md5[0:15) → int64` map, so both engines operate on the same hashed
    * domain and agree bit-for-bit even in the (≈2⁻⁶⁵·n²) collision case.
    */
  private def shingleTable(docs: DataFrame, n: Int): DataFrame = {
    // widened (the tokenize→shingle→md5 chain runs inside the scan
    // stage): see the 4-core table in Tables.widenCpu
    graft.Tables.widenCpu(docs)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), shinglesFromTokens(col("t"), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n_sh"), md5Base60(col("shingle")).as("shash"))
  }

  /** Per-doc hashed shingle ARRAY (doc_id, sha) — the un-exploded sibling
    * of [[shingleTable]], for consumers that compare whole sets per pair
    * (candidate verification) rather than equi-joining on single shingles.
    * ~1-2 KB per doc; shuffles as one row per doc.
    */
  private def shingleArrays(docs: DataFrame, n: Int,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    // `extra` (name → text-derived expression, e.g. the content
    // fingerprint) is computed in the FIRST projection alongside
    // tokenization and carried through — corpusDedupState builds on
    // this same staging, so the persisted dedup state stays
    // bit-compatible with every other sha consumer (jaccard
    // verification, LSH) by construction, not by parallel copy
    val carried = extra.map { case (nm, _) => col(nm) }
    // widened like [[shingleTable]]: see the 4-core table in Tables.widenCpu
    graft.Tables.widenCpu(docs).select(col("doc_id") +:
        extra.map { case (nm, e) => e.as(nm) } :+
        tokens(col("text")).as("t"): _*)
      .select(col("doc_id") +: carried :+
        shinglesFromTokens(col("t"), n).as("sh"): _*)
      .select(col("doc_id") +: carried :+
        transform(col("sh"), s => md5Base60(s)).as("sha"): _*)
  }

  /** N-gram Jaccard near-duplicate pairs:
    * J(A,B) = |A∩B| / (|A|+|B|−|A∩B|) over distinct word n-gram sets,
    * emitted for J ≥ minJaccard with doc_a < doc_b. Intersection counts
    * are integers and the division is a single double op — bit-identical
    * to the oracle.
    *
    * A finite `maxDf` drops shingles occurring in more than `maxDf`
    * documents (stop-shingles: no dedup signal, quadratic pair blowup).
    * The prune is FUSED into the pair-generation aggregate via
    * [[graft.functions.CappedDocList]]: exact-count the group, retain at
    * most maxDf members, emit empty past the cap — one pass over the
    * shingle pipeline and O(maxDf) memory per group, vs. the two-pass
    * df-table + anti-join shape (pipeline runs twice) or a plain
    * collect_list + size filter (materializes the df-sized mega-row
    * before dropping it).
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.08,
      maxDf: Long = Long.MaxValue): DataFrame = {
    // The fused prune caps the retained member list with an Int; a finite
    // maxDf above Int.MaxValue would silently clamp (keeping FEWER groups
    // than asked) while the oracle applies the true threshold — reject it
    // rather than diverge. Long.MaxValue = "no pruning" stays valid.
    require(maxDf == Long.MaxValue || maxDf <= Int.MaxValue.toLong,
      s"maxDf must be <= Int.MaxValue or Long.MaxValue (no pruning); got $maxDf")
    val sh = shingleTable(docs, n)
    // One-sided pair generation: group each shingle's (doc, set-size) list
    // and explode its ordered 2-combinations — the shingle pipeline runs
    // ONCE (a self-join evaluates it per side; Catalyst's exchange reuse
    // does not fire across differently-aliased subtrees) and the shuffle
    // carries 12-byte rows. Per-shingle member lists are bounded by the
    // shingle's document frequency, so the quadratic explode is df-bounded
    // — at corpus scale `maxDf` caps it.
    val collected =
      if (maxDf == Long.MaxValue)
        collect_list(struct(col("doc_id"), col("n_sh")))
      else udaf(new graft.functions.CappedDocList(maxDf.toInt))
        .apply(col("doc_id"), col("n_sh"))
    val pairs = sh.groupBy(col("shash"))
      .agg(array_sort(collected).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          y => struct(
            x.getField("doc_id").as("doc_a"), x.getField("n_sh").as("n_a"),
            y.getField("doc_id").as("doc_b"), y.getField("n_sh").as("n_b"))))))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.n_a"), col("p.n_b"))
      // size-compatibility prune: J ≥ τ needs min(|A|,|B|) ≥ τ·max(|A|,|B|)
      // — drops pairs that cannot pass map-side BEFORE the count shuffle; the
      // final threshold makes this a pure optimization (same result set).
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(minJaccard) * greatest(col("n_a"), col("n_b")).cast("double"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minOverlap` distinct word n-grams with any benchmark document —
    * the pretraining hygiene pass that keeps eval items out of the
    * training set. Output: (doc_id, bench_doc_id, n_overlap) per
    * contaminated (corpus, benchmark) pair.
    *
    * Scale shape: benchmark suites are small by construction (thousands
    * of items vs billions of docs), so the benchmark shingle table is
    * BROADCAST and the corpus side never shuffles for the join — the
    * per-pair overlap count is the only aggregate, keyed on the
    * (doc, bench) pairs that actually collide. Shingles join on the
    * 60-bit md5 hash domain, identical in the DuckDB oracle.
    */
  def contaminationPairs(docs: DataFrame, bench: DataFrame, n: Int = 3,
      minOverlap: Long = 2): DataFrame = {
    val d = shingleTable(docs, n).select(col("doc_id"), col("shash"))
    val b = shingleTable(bench, n)
      .select(col("doc_id").as("bench_doc_id"), col("shash"))
    d.join(broadcast(b), Seq("shash"))
      .groupBy(col("doc_id"), col("bench_doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Mersenne-31 universal hash family over a single md5-derived base
    * hash: h32(s) = md5-60-bit(s) mod 2^31−1, then
    * h_i(s) = (a_i·h32 + b_i) mod 2^31−1. One md5 per shingle (not per
    * shingle×seed — 16× less digest work) and pure int64 arithmetic for
    * the family, reproducible in any engine (values stay < 2^62).
    */
  val MersennePrime: Long = (1L << 31) - 1

  /** Deterministic (a, b) parameters per seed — shared with the oracle SQL
    * generator so both engines use the identical family.
    */
  def minhashSeeds(k: Int): Seq[(Int, Long, Long)] =
    (0 until k).map { i =>
      // fixed LCG over the seed index; any fixed in-range values work
      val a = 1L + ((i * 2654435761L + 1013904223L) % (MersennePrime - 1))
      val b = (i * 1103515245L + 12345L) % MersennePrime
      (i, a, b)
    }

  /** 60-bit md5 base hash (≡ conv(substr(md5(s),1,15),16,10)), as the
    * fused codegen'd [[graft.functions.Md5Base60]] expression — one
    * digest + shift per shingle instead of hex-string materialization,
    * substring, and base-16 parse.
    */
  private def md5Base60(s: Column): Column = call_function("md5_base60", s)

  /** WIDE MinHash signatures: one row per doc with columns m0..m{k-1}.
    * All k family members are k conditional MIN aggregates over the SAME
    * shingle rows — one codegen'd hash-aggregate, one shuffle keyed on
    * doc_id carrying k longs per doc, no k× row fan-out. This is the
    * shape every consumer wants (banding is then a pure projection); the
    * narrow (doc, seed, minhash) form below is derived by unpivot.
    */
  def minhashWide(docs: DataFrame, n: Int = 3, k: Int = 16): DataFrame = {
    val h32 = (col("shash") % MersennePrime).as("h32")
    val mins = minhashSeeds(k).map { case (i, a, b) =>
      min((lit(a) * col("h32") + lit(b)) % MersennePrime).as(s"m$i")
    }
    shingleTable(docs, n)
      .select(col("doc_id"), h32)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** Relational MinHash signatures (doc_id, seed, minhash) — the narrow
    * contract form, unpivoted from [[minhashWide]] (a stack projection;
    * the aggregate still runs once, wide).
    */
  def minhashSignatures(docs: DataFrame, n: Int = 3, k: Int = 16): DataFrame = {
    val stackArgs = (0 until k).map(i => s"$i, m$i").mkString(", ")
    minhashWide(docs, n, k)
      .selectExpr("doc_id",
        s"stack($k, $stackArgs) AS (seed, minhash)")
  }

  /** Band buckets from the wide signature row — a pure PROJECTION
    * (stack of per-band md5s), no shuffle beyond the signature aggregate
    * itself.
    */
  private def bucketsFromWide(wide: DataFrame, k: Int,
      rowsPerBand: Int): DataFrame = {
    // the same contract style simhashNearDupPairs (require maxHamming <
    // bands) and srpLshNearDupPairs (require planes % bandBits == 0)
    // enforce: a non-divisor would silently discard trailing minhashes
    // (changing the LSH geometry and recall with no warning), and
    // rowsPerBand <= 0 or > k dies as an opaque stack()/arithmetic error
    require(rowsPerBand >= 1 && rowsPerBand <= k && k % rowsPerBand == 0,
      s"rowsPerBand ($rowsPerBand) must be a positive divisor of k ($k):" +
        " a partial trailing band would silently change the LSH geometry")
    val bands = k / rowsPerBand
    val bandExprs = (0 until bands).map { b =>
      val vec = (0 until rowsPerBand)
        .map(j => s"cast(m${b * rowsPerBand + j} as string)")
        .mkString("concat_ws(',', ", ", ", ")")
      s"$b, md5($vec)"
    }.mkString(", ")
    wide.selectExpr("doc_id",
      s"stack($bands, $bandExprs) AS (band, bucket)")
  }

  /** MinHash+LSH near-duplicate pairs, verified with true Jaccard.
    * The exact-Jaccard count runs ONLY over the candidate pairs from
    * shared LSH buckets (join candidates → shingle sets → count common),
    * never over the full pair stream — that restriction is the whole
    * point of LSH at scale. Result set ≡ (all-pairs Jaccard ≥ τ) ∩
    * candidates, which is what the oracle computes.
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 16,
      rowsPerBand: Int = 4, minJaccard: Double = 0.05,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val buckets = bucketsFromWide(minhashWide(docs, n, k), k, rowsPerBand)
    // candidate pairs by grouping each bucket's member list and exploding
    // its 2-combinations — the signature pipeline runs ONCE (a self-join
    // would recompute it per side: Spark's exchange reuse does not fire
    // through the collect_list aggregates). Bucket membership is small by
    // LSH construction, so the quadratic explode is per-bucket-bounded.
    // mega-bucket guard for 100 TB corpora: a degenerate bucket of m docs
    // yields m²/2 candidates; buckets past `maxBucketSize` are
    // non-discriminative (standard LSH practice is to drop them — their
    // members still pair up via their other bands). Default keeps exact
    // semantics.
    val members = buckets.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucketSize)
    val candidates = members
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()
    // Verification compares whole shingle SETS per candidate pair
    // (array_intersect over the hashed arrays) instead of re-exploding and
    // equi-joining shingle rows twice — two slim joins carrying one array
    // row per doc, and per-pair O(|A|+|B|) set intersection. The DuckDB
    // oracle mirrors with list_intersect over the same hashed lists.
    val arr = shingleArrays(docs, n)
    val verified = candidates
      .join(arr.select(col("doc_id").as("doc_a"), col("sha").as("sha_a")),
        Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("sha").as("sha_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha_a"), col("sha_b"))).as("n_common"),
        size(col("sha_a")).as("n_a"), size(col("sha_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    verified
  }

  /** Edges per partition of the pair graph: the width rule of the star
    * rounds ([[pairGraphWidth]]) and the size up to which
    * [[nearDupClusters]] resolves components on the driver — a graph that
    * fits one partition is one the driver can collect.
    */
  private val EdgesPerPartition = 100000L

  /** Width of the star rounds: sized to the PAIR GRAPH, not the corpus.
    * Near-dup edges are orders of magnitude fewer than documents, and
    * each round is join+agg stages over just these edges — running them
    * at corpus width burns a fixed per-task cost per round for
    * mostly-empty partitions. [[EdgesPerPartition]] edges per partition,
    * capped at the context's default parallelism.
    */
  private def pairGraphWidth(spark: SparkSession, edges: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (edges / EdgesPerPartition).toInt + 1))

  /** Transitive near-duplicate clusters: connected components over the
    * Jaccard pair graph, each labeled by its minimum doc_id — the step a
    * production dedup keys on (A≈B and B≈C must collapse to ONE kept doc
    * even when A≉C directly). Output: (doc_id, cluster_rep) for every doc
    * that appears in at least one pair.
    *
    * The canonical (hi, lo) pair graph is checkpointed once and counted,
    * and the edge count picks the algorithm (Shark-style: decided from
    * the size observed at run time, never from the core count):
    *  - at most [[EdgesPerPartition]] edges: union-find over the
    *    collected edges on the driver — exact at any depth, no Spark
    *    rounds. Near-dup graphs are small and shallow (sf0.1: 256 edges,
    *    components of at most 4 docs), so this is the common path;
    *  - above it: the large-star/small-star rounds of
    *    [[connectedComponents]], which also run to their fixpoint.
    * Both paths return the same labels.
    */
  def nearDupClusters(docs: DataFrame, n: Int = 3,
      minJaccard: Double = 0.5, maxDf: Long = Long.MaxValue): DataFrame = {
    // jaccardPairs emits each pair once with doc_a < doc_b: canonical as is
    val edges = jaccardPairs(docs, n, minJaccard, maxDf)
      .select(col("doc_b").as("hi"), col("doc_a").as("lo"))
      .localCheckpoint()
    if (edges.count() <= EdgesPerPartition) unionFind(edges)
    else starComponents(edges)
  }

  /** Components of a collectable canonical (hi, lo) edge list: union-find
    * with path halving, linking the larger root under the smaller so each
    * root is its component's minimum.
    */
  private def unionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    edges.as[(Long, Long)].collect().foreach { case (hi, lo) =>
      parent.getOrElseUpdate(hi, hi)
      parent.getOrElseUpdate(lo, lo)
      val (a, b) = (find(hi), find(lo))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    parent.keys.toSeq.map(x => (x, find(x))).toDF("doc_id", "cluster_rep")
  }

  /** Connected components over an undirected edge list via the ALTERNATING
    * large-star/small-star algorithm (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): alternating star operations
    * contract any graph in O(log² n) rounds regardless of depth (label
    * propagation needs diameter-many), each round two join+agg stages
    * over the (shrinking) edge set. This is [[nearDupClusters]]' path for
    * pair graphs past one partition; called directly it always runs the
    * rounds, whatever the size.
    *
    *  - large-star(u): connect every neighbor v > u to m = min(Γ(u) ∪ {u})
    *  - small-star(u): connect u and all smaller neighbors to that min
    *
    * The fixpoint is a star per component (every node → component min);
    * stars are stable under both ops, so set-equality of consecutive edge
    * sets is the exact termination test. The loop runs to that fixpoint
    * and throws if it passes (⌈log₂(m + 1)⌉ + 2)² rounds for m edges
    * rather than return unconverged labels. Input: two columns (either
    * orientation, duplicates fine). Output: (doc_id, cluster_rep) for
    * every node, roots labeled by themselves.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val cols = pairs.columns
    starComponents(
      canon(pairs.select(col(cols(0)).as("u"), col(cols(1)).as("v")))
        .localCheckpoint())
  }

  private def canon(e: DataFrame): DataFrame =
    e.select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()

  /** The star rounds over a checkpointed canonical (hi, lo) edge list. */
  private def starComponents(canonical: DataFrame): DataFrame = {
    // for v > u: (v, min(Γ(u) ∪ {u})) — the min is ≤ u < v, stays canonical
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      canon(sym.filter(col("v") > col("u")).join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // connect hi and each smaller neighbor to min(smaller neighbors)
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      canon(e.join(m, Seq("hi")).select(col("lo").as("u"), col("m").as("v"))
        .union(m.select(col("hi").as("u"), col("m").as("v"))))
    }
    // Convergence potential Φ(E) = (|E|, Σ_{(hi,lo)∈E} hi + lo), one
    // metrics-sized aggregate per round. Φ-equality IS set-equality
    // here — proof (r13; replaces the former per-round count + FULL
    // ANTI-JOIN `except(edges).isEmpty`, an edge-sized shuffle):
    // pre-distinct, largeStar maps each canonical edge (hi, lo) to
    // exactly one output (hi, m(lo)) with m(lo) = min(Γ(lo) ∪ {lo}) ≤
    // lo, and smallStar maps each hi-group {(hi, u) : u ∈ S} to
    // {(u, m) : u ∈ S \ {m}} ∪ {(hi, m)} with m = min(S) — pairing
    // (u, m) against input (hi, u) (sum delta m − hi < 0) and (hi, m)
    // against itself. (smallStar's raw union also emits one (m, m)
    // self-row per group — the (hi, m) input edge joining its own group
    // min — which canon's hi≠lo filter drops BY DESIGN; the 1:1 pairing
    // above is over the |S| SURVIVING rows, so per-group counts are
    // still non-increasing. In largeStar the min side is always
    // strictly below the kept endpoint, so the filter never fires
    // there.) So in BOTH ops every surviving output edge pairs 1:1 with
    // one input edge of endpoint-sum ≥ its own, outputs stay canonical,
    // and distinct() can only DROP rows.
    // Hence |next| ≤ |mid| ≤ |prev| always; |next| = |prev| forces both
    // pairings bijective, and Σ-equality then forces every per-edge
    // delta to zero — both ops were the identity, next = prev. Sums are
    // exact DECIMAL(38,0) (a wrapped BIGINT Σ could alias two distinct
    // sets); a null (overflow) sum — impossible below ~10³⁸ total —
    // reads as NOT converged rather than silently stopping early.
    def metrics(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(col("hi").cast("decimal(38,0)") +
          col("lo").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var (n, s) = metrics(canonical)
    val m = n
    // Kiveris et al. bound the alternating form by O(log² n) rounds for n
    // nodes, and a component of m edges has at most m + 1 nodes
    val lg = 64 - java.lang.Long.numberOfLeadingZeros(m)
    val maxRounds = (lg + 2) * (lg + 2)
    var edges = canonical
      .repartition(pairGraphWidth(canonical.sparkSession, m), col("hi"))
      .localCheckpoint()
    var converged = m == 0L
    var rounds = 0
    while (!converged) {
      if (rounds == maxRounds) throw new IllegalStateException(
        s"connected components: no fixpoint after $rounds star rounds " +
          s"over $m edges")
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val (nn, sn) = metrics(next)
      converged = nn == n &&
        (nn == 0L || (sn != null && s != null && sn.compareTo(s) == 0))
      edges = next
      n = nn
      s = sn
      rounds += 1
    }
    // at the fixpoint every non-root is the hi of exactly one edge, whose
    // lo is its root; roots appear only as lo
    edges.select(col("hi").as("doc_id"), col("lo").as("cluster_rep"))
      .union(edges.select(col("lo")).distinct()
        .select(col("lo").as("doc_id"), col("lo").as("cluster_rep")))
  }

  /** Line-level dedup (RefinedWeb/CCNet granularity): drop every line
    * whose corpus-wide document frequency exceeds `maxDf` — the standard
    * boilerplate-removal pass (headers, footers, cookie banners) that
    * document-level dedup cannot express. Returns one row per doc:
    * `(doc_id, n_lines, lines_removed, text_clean)` with surviving lines
    * rejoined in original order.
    *
    * Scale shape: lines are carried as 60-bit md5 int64 keys (`lkey`, the
    * corpus hash domain — the oracle mirrors it exactly); the df table is
    * line-key-sized and joins back on `lkey` — a shuffle join by design,
    * since at 100 TB the distinct-line table is itself huge (no broadcast).
    * Reassembly is one per-doc hash agg: kept lines collect as
    * (line_no, line) structs, array_sort restores order (struct compare is
    * field-order lexicographic, line_no first), array_join rebuilds the
    * text. Two shuffles total (df agg shares the lkey partitioning with
    * the join probe side under AQE).
    */
  def dedupLines(docs: DataFrame, maxDf: Int = 2): DataFrame = {
    // coalesce: split(NULL) is NULL and posexplode(NULL) emits ZERO
    // rows, which would silently DROP a NULL-text doc from the output —
    // every other text operator maps degenerate text to a defined value
    // (a NULL-text doc keeps its row: one empty line, text_clean '')
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n"))
          .as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no"), col("line"),
        md5Base60(col("line")).as("lkey"))
    val lineDf = lines.groupBy(col("lkey"))
      .agg(count_distinct(col("doc_id")).as("line_df"))
    lines.join(lineDf, Seq("lkey"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("line_df") > maxDf, 1L).otherwise(0L))
          .as("lines_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("line_df") <= maxDf,
              struct(col("line_no"), col("line"))))),
            s => s.getField("line")),
          "\n").as("text_clean"))
  }

  /** Exact duplicated-SUBSTRING spans — the suffix-array dedup family
    * (Lee et al. 2022, arXiv:2107.06499 "Deduplicating Training Data
    * Makes Language Models Better"), done relationally: a token position
    * is duplicated if its k-token shingle occurs ≥ `minDf` times
    * corpus-wide; overlapping/adjacent duplicated shingles merge into
    * MAXIMAL spans per doc via gaps-and-islands (two window passes: a
    * lag flag, then its running sum — positions ≤ k apart share an
    * island because their k-token windows touch). One row per maximal
    * span with inclusive token offsets.
    *
    * A true suffix array finds arbitrary-length repeats; fixing the
    * minimum repeat length at k tokens is what makes it relational —
    * the standard scalable approximation. Scale: positions travel as
    * (doc_id, pos, 60-bit shash); corpus-wide df comes from a count
    * window over the shash partitioning (one pass over the position
    * stream — a groupBy + semi-join back would regenerate the
    * posexplode subtree per side), and the df filter drops every
    * unique position BEFORE the per-doc window exchange, so the island
    * merge sees only duplicated content. Two exchanges total
    * (shash, then doc_id), one Generate — pinned in PlanShapeSpec.
    *
    * Known skew ceiling (named upgrade path, same pattern as
    * large-star/small-star for deep graphs): the df window gathers each
    * shingle's positions into one task, so a mega-hot boilerplate
    * shingle (df in the millions) would stall its task. At that corpus
    * shape, switch to localCheckpoint'ing the position stream once,
    * partial-agg df, and semi-joining back — AQE's skew split handles
    * hot JOIN keys (SkewSpec) where a window partition cannot be split.
    * On any corpus where df tops out in the thousands the window form
    * is strictly better (no materialization, one pass).
    */
  def duplicateSpans(docs: DataFrame, k: Int = 5,
      minDf: Long = 2): DataFrame = {
    // widened round-robin, so PlanShapeSpec's ≤2 hash exchanges hold:
    // see the 4-core table in Tables.widenCpu
    val sh = graft.Tables.widenCpu(docs)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("t")) - k),
        i => md5Base60(concat_ws(" ", slice(col("t"), i + lit(1), lit(k))))))
        .as(Seq("pos", "shash")))
    // corpus-wide df via a window over shash — ONE pass over the
    // position stream (a groupBy + semi-join back would make Catalyst
    // generate the posexplode subtree twice, once per side)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shash"))))
      .filter(col("df") >= minDf)
      .withColumn("new_island",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + lit(k - 1)).as("end_tok"),
        (max(col("pos")) + lit(k) - min(col("pos"))).as("span_tokens"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        col("span_tokens"))
  }

  /** 60-bit SimHash fingerprints via the codegen'd [[graft.functions.SimHash64]]
    * expression — one pass over the scan, no shuffle.
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      call_function("simhash64", tokens(col("text"))).as("simhash"))
  }

  /** SimHash near-duplicates: pairs at Hamming distance ≤ `maxHamming`,
    * found via band LSH on `bands` disjoint `bandBits`-bit slices. With
    * maxHamming < bands, pigeonhole guarantees at least one clean band, so
    * recall is exact — candidate generation is an equi-join on
    * (band, slice), never O(n²).
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, bandBits: Int = 15): DataFrame = {
    // enforce the documented preconditions instead of silently returning
    // partial recall: maxHamming >= bands can put one differing bit in
    // EVERY band (no shared slice — the pair is never a candidate), and
    // bands*bandBits beyond the 60-bit fingerprint makes high bands all
    // key 0 (an O(n^2) mega-bucket). Same contract style as
    // fuzzyMatchPairs' require(bands > maxDist).
    require(maxHamming < bands,
      s"maxHamming ($maxHamming) must be < bands ($bands) for the " +
        "pigeonhole recall guarantee")
    require(bands * bandBits <= 60,
      s"bands*bandBits (${bands * bandBits}) must cover at most the " +
        "60-bit simhash")
    val fp = simhashFingerprints(docs)
    val mask = (1L << bandBits) - 1
    // widened on the band join key, which both self-join sides share:
    // see the 4-core table in Tables.widenCpu
    val banded = graft.Tables.widenCpu(fp
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("key", expr(s"(simhash >> (band * $bandBits)) & $mask")),
      col("band"), col("key"))
    val a = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"),
      col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("key"), col("doc_id").as("doc_b"),
      col("simhash").as("sh_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Quality-aware cluster-representative selection (the FineWeb/
    * RefinedWeb curation step after near-dup clustering): every document
    * gets its [[nearDupClusters]] cluster (singletons are their own
    * cluster) and a quality score, and exactly ONE doc per cluster —
    * the highest-quality, ties broken by lowest doc_id — is marked
    * `kept = 1`. This replaces the naive lowest-id keeper with the
    * policy real pipelines ship: when near-duplicates differ (one copy
    * truncated, one boilerplate-wrapped), keep the best copy.
    *
    * Scale shape: the cluster machinery is [[nearDupClusters]] (pair-
    * graph-sized, never corpus-wide); the quality column fuses into the
    * corpus projection (one pass, codegen CSE); cluster attachment is a
    * left join against the pair-graph-sized label table; the keeper
    * choice is one window over `cluster_rep` — and since non-clustered
    * docs are singleton partitions, the window's skew ceiling is the
    * largest dup cluster, not the corpus.
    */
  def dedupKeepBest(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.5,
      maxDf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = nearDupClusters(docs, n, minJaccard, maxDf = maxDf)
    val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityCol(col("text")).as("quality"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
        col("quality"))
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_rep"), col("quality"),
        when(col("rn") === 1, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /** Per-doc DEDUP STATE — the table a daily ingestion pipeline PERSISTS
    * once per corpus so every day's merge probes stored rows instead of
    * recomputing the corpus (see [[mergeCorpusDay]]). One row per doc:
    *
    *   (doc_id, fingerprint, sha, b0..b{k/rowsPerBand − 1})
    *
    * fingerprint = the exact-dedup md5; sha = the hashed shingle set
    * (candidate verification); b_i = the LSH band bucket keys as COLUMNS
    * (the wide form — banding is a projection, and a stored state keyed
    * wide lets a deployment bucket/partition by any single band).
    *
    * The whole build is ONE exchange-free projection over the corpus
    * scan: the wide minhash values come from `array_min` over the
    * already-materialized sha array — the same (a_i·h32+b_i) mod P
    * family as [[minhashWide]] evaluated per element, min over the
    * identical distinct-shingle set, so state built here is
    * bit-compatible with every other minhash consumer. No groupBy, no
    * join: at 100 TB the state build is a single map-side pass.
    */
  def corpusDedupState(docs: DataFrame, n: Int = 3, k: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val nBands = k / rowsPerBand
    val withSha = shingleArrays(docs, n,
      extra = Seq("fingerprint" -> md5(normText(col("text")))))
    val mins = minhashSeeds(k).map { case (i, a, b) =>
      array_min(transform(col("sha"),
        h => (lit(a) * (h % lit(MersennePrime)) + lit(b))
          % lit(MersennePrime))).as(s"m$i")
    }
    val bandCols = (0 until nBands).map { bnd =>
      md5(concat_ws(",", (0 until rowsPerBand).map(j =>
        col(s"m${bnd * rowsPerBand + j}").cast("string")): _*)).as(s"b$bnd")
    }
    withSha
      .select(col("doc_id") +: col("fingerprint") +: col("sha") +: mins: _*)
      .select(Seq(col("doc_id"), col("fingerprint"), col("sha"))
        ++ bandCols: _*)
  }

  /** Incremental corpus merge — the operation a daily 100 TB pipeline
    * runs most often: classify each NEW-day document against the
    * EXISTING corpus's stored dedup state without recomputing the
    * corpus. Per delta doc, one output row:
    *
    *   (doc_id, status, match_id)
    *
    * status = 'exact_dup'  (fingerprint already in the corpus;
    *                        match_id = the smallest matching doc)
    *        | 'near_dup'   (shares an LSH band bucket with an existing
    *                        doc AND true Jaccard ≥ minJaccard;
    *                        match_id = the smallest verified match)
    *        | 'new'        (match_id = NULL — the doc enters the corpus;
    *                        its state row appends to the stored state)
    *
    * Scale: the existing corpus is SCANNED once and NEVER SHUFFLED —
    * both probes broadcast the delta side (a day's delta in key form is
    * orders of magnitude smaller than the corpus; for a delta too big to
    * broadcast, drop the hint and the same plan becomes a shuffled join
    * on bucket keys, or bucket the stored state by band key and shuffle
    * only the delta). Band collisions fan out at most ×bands per pair
    * and collapse in a delta-keyed aggregate, so everything after the
    * corpus scan is delta-sized. Exact-vs-near priority: an identical
    * doc also collides in every band, so exact wins the status column.
    * Matching is vs the EXISTING corpus only — dedup WITHIN the delta
    * composes from the ordinary operators ([[exactDuplicates]],
    * [[minhashLshPairs]]) before or after the merge.
    */
  /** Band-key generator projection over a [[corpusDedupState]] frame:
    * one row per (doc, band) under the given alias names, with the sha
    * array riding along so verification needs no second join against
    * the corpus. Shared by the batch and streaming merges so the
    * stream ≡ batch contract cannot drift. Note `sha` is never empty
    * ([[shinglesFromTokens]] gives short/empty docs their whole text
    * as the single shingle), so whitespace-variant docs band-collide
    * BY DESIGN — they are genuine duplicates (jaccard 1), and the
    * exact-fingerprint probe wins the status for the identical ones.
    * A mega dup-class therefore fans out like any LSH mega-bucket; at
    * corpus scale cap it upstream the way [[minhashLshPairs]]'
    * maxBucketSize does.
    */
  private[graft] def bandRows(state: DataFrame, nBands: Int,
      idAlias: String, shaAlias: String,
      passthrough: Seq[String] = Nil): DataFrame = {
    val stackArgs = (0 until nBands).map(b => s"$b, b$b").mkString(", ")
    state.selectExpr(Seq(s"doc_id AS $idAlias", s"sha AS $shaAlias") ++
      passthrough :+ s"stack($nBands, $stackArgs) AS (band, bucket)": _*)
  }

  /** The exact per-collision verification predicate (true n-gram
    * Jaccard over the carried sha arrays, rounded like every oracle) —
    * shared by the batch and streaming merges.
    */
  private[graft] def shaJaccardAtLeast(shaA: Column, shaB: Column,
      minJaccard: Double): Column = {
    val common = size(array_intersect(shaA, shaB))
    round(common.cast("double") /
      (size(shaA) + size(shaB) - common).cast("double"), 6) >= minJaccard
  }

  /** The exact-over-near status/match_id contract both merges emit. */
  private[graft] def mergeStatus(exactMatch: Column,
      nearMatch: Column): Seq[Column] = Seq(
    when(exactMatch.isNotNull, lit("exact_dup"))
      .when(nearMatch.isNotNull, lit("near_dup"))
      .otherwise(lit("new")).as("status"),
    coalesce(exactMatch, nearMatch).as("match_id"))

  def mergeCorpusDay(existingState: DataFrame, delta: DataFrame,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    val nBands = k / rowsPerBand
    // delta state is consumed three times (exact probe, band probe,
    // final attach) — materialize the day's rows once
    val deltaState = corpusDedupState(delta, n, k, rowsPerBand)
      .localCheckpoint()
    val exact = existingState
      .select(col("doc_id").as("ex_id"), col("fingerprint"))
      .join(broadcast(deltaState
        .select(col("doc_id").as("d_id"), col("fingerprint"))),
        Seq("fingerprint"))
      .groupBy(col("d_id")).agg(min(col("ex_id")).as("exact_match"))
    // per-collision array_intersect beats a distinct-first shape
    // because collision multiplicity is ≤ bands while distinct would
    // shuffle the sha arrays
    val near = bandRows(existingState, nBands, "ex_id", "ex_sha")
      .join(broadcast(bandRows(deltaState, nBands, "d_id", "d_sha")),
        Seq("band", "bucket"))
      .filter(shaJaccardAtLeast(col("ex_sha"), col("d_sha"), minJaccard))
      .groupBy(col("d_id")).agg(min(col("ex_id")).as("near_match"))
    deltaState.select(col("doc_id"))
      .join(exact.withColumnRenamed("d_id", "doc_id"), Seq("doc_id"), "left")
      .join(near.withColumnRenamed("d_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id") +:
        mergeStatus(col("exact_match"), col("near_match")): _*)
  }

  /** Snapshot diff between two corpus versions — the audit primitive
    * behind every incremental pipeline ([[mergeCorpusDay]] tells you
    * what the merge DID; this tells you what CHANGED between two
    * published snapshots). Per differing doc one row:
    *
    *   (doc_id, change)   change = 'added' | 'removed' | 'changed'
    *
    * 'changed' compares md5 fingerprints of the RAW text — deliberately
    * BYTE-exact, unlike the dedup family's md5(normText(...)) content
    * fingerprint: an audit must surface every published-byte difference
    * (a case or whitespace edit changes what ships), even ones the
    * dedup normalizer would collapse — so a doc the merge classifies as
    * an exact duplicate can still legitimately appear here as
    * 'changed'. Unchanged docs emit nothing — at 100 TB the output is
    * churn-sized, not corpus-sized.
    *
    * Scale: each side collapses to (doc_id, fingerprint) — 24 B/row —
    * BEFORE the full-outer join, so document text never crosses an
    * exchange; the join is one doc_id-keyed shuffle of key-sized rows,
    * and zero shuffles when both snapshots are published bucketed by
    * doc_id (the layout [[graft.Tables]] bucketing already provides).
    */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    // presence is carried by explicit flags, NOT fingerprint nullness:
    // md5(NULL text) is NULL, so a NULL-text doc present in both
    // snapshots would otherwise be misreported 'added'. The fingerprint
    // compare is null-SAFE (<=>) so NULL ↔ non-NULL text is 'changed'
    // and NULL ↔ NULL is unchanged (emits nothing).
    val a = oldCorpus.select(col("doc_id"), md5(col("text")).as("fp_old"),
      lit(true).as("in_old"))
    val b = newCorpus.select(col("doc_id"), md5(col("text")).as("fp_new"),
      lit(true).as("in_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("fp_old") <=> col("fp_new")), lit("changed"))
          .as("change"))
      .filter(col("change").isNotNull)
  }
}
