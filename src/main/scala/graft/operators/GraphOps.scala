package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Iterative graph analytics over the trade graph (customers ↔ suppliers
  * linked by order lines). Complements the dedup module's connected
  * components (union-find on the driver while the pair graph fits one
  * partition, large-star/small-star rounds above it): PageRank
  * is the canonical "ranks need MANY passes" workload, the shape used in
  * LLM-data curation for graph-based source-authority weighting.
  *
  * Exactness design: ranks are FIXED-POINT BIGINTs (scale 1e12), all
  * updates use integer multiply + floor division (Spark `div` ≡ DuckDB
  * `//` on non-negative operands). Integer sums are exact and
  * order-independent, so the result is bit-identical under any
  * partitioning AND engine — a DuckDB oracle can replay the iterations
  * unrolled. Floating-point PageRank cannot make that promise: double
  * accumulation order varies with the shuffle.
  *
  * Scale story: the edge list is built once (one distinct-shuffle,
  * auto-widened from a footer-cheap |lineitem| peek),
  * `localCheckpoint`ed so the per-iteration joins reuse the materialized
  * graph instead of re-shuffling lineitem; each iteration is one
  * node-keyed join + one dst-keyed aggregate (two exchanges). Degrees attach
  * to the NODE-SIZED rank frame inside the loop (r18 — `rk div deg` is
  * a per-src value; the former edge-sized degree attach paid an |E|-row
  * join and checkpoint for it), and node ids narrow to ints when they
  * fit. At 100 TB the graph build dominates; iterations touch only
  * (src, dst) int pairs plus node-sized rank rows.
  */
object GraphOps {
  import Tables.table

  /** Fixed-iteration PageRank (damping 17/20 = 0.85) on the symmetrized
    * customer↔supplier graph. Node ids: customer c → 2c, supplier s →
    * 2s+1 (disjoint key spaces, reversible for output). Every node in
    * the symmetric edge set has in- and out-degree ≥ 1, so there are no
    * dangling-mass corrections to model.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3,
      scale: Long = 1000000000000L): DataFrame = {
    // The forward-edge build runs BEFORE pageRankEdges' Σdeg peek can
    // exist, so — like [[coPurchaseEdges]] — its width rule peeks the
    // input instead: the orders⋈lineitem join emits exactly one row
    // per lineitem row, so the pair distinct's hash aggregate holds
    // ≤ |lineitem|/width rows of state per task. At fixed session
    // width 32 that aggregate was the query's REAL cost at factor 100
    // (r18 StageProbe: the two build stages spilled ~9 GB mem + 1 GB
    // disk each and took 30 of 98 s, while the auto-widened iterations
    // ran clean — the r17 verdict's "iteration loop dominates" guess
    // was wrong). |lineitem| is a footer-cheap memoized count; identity
    // at-or-below the session width, same contract as every width rule.
    val confWidth = spark.sessionState.conf.numShufflePartitions
    val buildWidth =
      edgeWidth(spark, graft.Tables.rowCount(spark, dir, "lineitem"))
    // Conditional below the session width (NOT the coPurchaseEdges
    // always-explicit form — measured 1.88 → 2.39 s at sf0.1 with it):
    // the checkpointed edge list inherits the build's partitioning, and
    // forcing 32 partitions of a toy graph taxes every iteration join
    // 3× over, where triangle reads its edge list once per attach.
    def widenB(df: DataFrame, k: Column*): DataFrame =
      if (buildWidth > confWidth) df.repartition(buildWidth, k: _*) else df
    val forward = widenB(
      table(spark, dir, "orders")
        .join(table(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")),
      col("src"), col("dst"))
      .distinct()
    // bipartite: reversed edges are disjoint from forward ones — the
    // union IS the symmetric closure, no second distinct needed
    val edges = forward
      .union(forward.select(col("dst").as("src"), col("src").as("dst")))
    pageRankEdges(edges, iters, scale).select(
      when(col("node") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("node_type"),
      expr("node div 2").as("node_key"),
      col("rk").as("rank"))
  }

  /** Per-partition edge-row budget for the graph iteration shuffles,
    * derived from the memory actually available PER TASK SLOT rather
    * than a host-tuned constant (the r14 verdict's item 4 — the fixed
    * 625 k was "the first thing that breaks on a real cluster").
    *
    * Anchor: the r13 factor-100 sweep measured the cliff directly —
    * 200 M symmetric edges through 32 fixed partitions spill-thrashed
    * to 294 s (18.6×), while ≈625 k edge rows per partition ran
    * 111.6 s = 7.0×, linear (SCALE.md r13). That operating point was
    * measured on an 8 GiB heap with 32 task slots = 256 MiB per slot,
    * so the rule is rows = 625 k × (per-slot MiB / 256): a cluster
    * executor with 16 GiB / 4 cores (4 GiB per slot) carries 16× the
    * rows per partition, the same per-task memory pressure. Local mode
    * reads the live JVM heap (honors -Xmx) and the local[n] slot
    * count; cluster mode reads spark.executor.memory and the per-JVM
    * slot count via [[graft.Sessions.workerSlots]] (which infers the
    * standalone all-cores default instead of assuming 1). Clamped to
    * [64 k, 16 M] — the floor keeps degenerate configs from exploding
    * task counts, the ceiling keeps single partitions spill-friendly.
    * On THIS host the derivation reproduces 625 k exactly, so every
    * measured sf10/sf30 ratio and toy plan is unchanged.
    *
    * Shared by [[pageRankEdges]] and [[triangleCountEdges]] (r14: the
    * full-surface sf10 run hit the same cliff stochastically in an
    * edge-sized hash aggregate at fixed width 32), applied to every
    * edge-sized exchange; identity at-or-below the session shuffle
    * width so small graphs keep byte-identical plans.
    */
  private[graft] def edgeRowsPerPartition(spark: SparkSession): Long = {
    val perSlotMiB = graft.Sessions.workerHeapBytes(spark).toDouble /
      graft.Sessions.workerSlots(spark) / (1L << 20)
    val rows = (625000.0 * perSlotMiB / 256.0).toLong
    math.min(math.max(rows, 64000L), 16000000L)
  }

  /** The width of an exchange over `rows` edge-sized rows:
    * ⌈rows / `rowsPerPartition`⌉ (0 = [[edgeRowsPerPartition]]), never
    * below the session shuffle width. Each caller decides whether to
    * widen only above the session width or always.
    */
  private def edgeWidth(spark: SparkSession, rows: Long,
      rowsPerPartition: Long = 0L): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      math.ceil(rows.toDouble / (if (rowsPerPartition > 0)
        rowsPerPartition else edgeRowsPerPartition(spark))).toInt)

  /** The iteration core over an arbitrary SYMMETRIC `(src, dst)` edge
    * list (every node must have out-degree ≥ 1 — guaranteed by
    * symmetrization). Returns `(node, rk)` fixed-point ranks.
    *
    * Shuffle width scales with the graph WITHOUT an env knob: |E| is
    * read off the node-sized checkpointed degree table in one
    * metrics-sized driver action (Σdeg exactly — the same
    * driver-coordinated adaptivity as [[triangleCountEdges]]'s strategy
    * peek), and when ⌈|E| / [[edgeRowsPerPartition]]⌉ exceeds the
    * session shuffle width the edge-sized exchanges (the reused edge
    * input and each iteration's dst aggregate) are widened to it via
    * explicit hash repartitions, node ids are narrowed to ints when
    * the peeked max id fits, and the iteration joins are shuffle-hash
    * hinted so the reused edge exchange is never re-sorted. Below that
    * threshold NO repartition node is inserted at all — the plan is
    * byte-identical to the pre-rule one, AQE keeps full control
    * (coalescing + skew-split), and the toy-SF bench cannot move.
    * `rowsPerPartition` (0 = the [[edgeRowsPerPartition]]
    * memory-derived default) is a parameter only so GraphSpec can
    * force the widened path on a toy graph and pin result-invariance
    * across both forms.
    */
  def pageRankEdges(edgeList: DataFrame, iters: Int,
      scale: Long = 1000000000000L,
      rowsPerPartition: Long = 0L): DataFrame = {
    // Degrees via PARTIAL AGGREGATION, not a window. The groupBy
    // map-side-combines a node's count inside each input partition (the
    // exchange carries one row per partition per node, not the raw
    // edges), so no single task ever gathers a celebrity node's full
    // adjacency. The previous window form (count over partitionBy(src))
    // necessarily did exactly that — one task buffers the hub's entire
    // edge set — which made a degree-10^6 hub the stage straggler while
    // every other task finished instantly (ScaleSmoke
    // pagerank_celebrity).
    //
    // deg attaches to the NODE-SIZED contribution side, never to edges
    // (r18): `rk div deg` is a per-src value, so the former edge-sized
    // degree-attach join + its DISK_ONLY checkpoint were paying an
    // |E|-row join, an |E|-row disk write (20+ s and a third of the
    // build's scratch at factor 100 — StageProbe), and a wider edge
    // row in every iteration exchange, for a value a |V|-row
    // (rank ⋈ deg) join computes each round at node cost.
    //
    // The edge list is materialized (DISK_ONLY — see the triangle OOM
    // post-mortem on [[triangleCountEdges]]: an edge-sized
    // MEMORY_AND_DISK checkpoint's unroll buffers compete with the
    // build's hash aggregate in one unified pool) because the degree
    // aggregate and every unrolled iteration re-read it. Node-sized
    // tables (deg) keep the default level.
    val edges = edgeList.localCheckpoint(true, StorageLevel.DISK_ONLY)
    // DELIBERATELY NOT pre-partitioned/pre-sorted on `src` (r13): a
    // repartition(src).sortWithinPartitions(src) before this checkpoint
    // would let every iteration's sort-merge join skip the edge-side
    // exchange+sort — but LogicalRDD's preserved partitioning PINS the
    // iteration joins at the build-time width and sits BELOW no
    // exchange, so AQE can neither re-split skew nor widen it; measured
    // at factor 100 / width 32 it turned the completing 294 s plain
    // form into a task heap OOM. The scaling lever that actually works
    // is shuffle width ∝ data ([[edgeWidth]] below): 294 s at width 32
    // → 111.6 s at width 320 = 7.0× vs the 10× smaller build — linear
    // (SCALE.md r13).
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // |E| = Σdeg and max node id — ONE metrics-sized aggregate over the
    // node-sized checkpointed degree table (deg itself was just
    // materialized, so this re-reads stored blocks, not lineage; and
    // symmetry means every node appears as a src, so max over deg's
    // keys is the graph's max id). |E| decides the iteration shuffle
    // width the same way triangleCountEdges' peek decides its closing
    // strategy; the max id decides the int-narrowing below.
    val peek = deg.agg(coalesce(sum(col("deg")), lit(0L)),
      coalesce(max(col("src")).cast("long"), lit(0L))).head()
    val (nEdges, maxNodeId) = (peek.getLong(0), peek.getLong(1))
    val width = edgeWidth(edgeList.sparkSession, nEdges, rowsPerPartition)
    val wide =
      width > edgeList.sparkSession.sessionState.conf.numShufflePartitions
    // Widening inserts REPARTITION-origin exchanges only ABOVE the
    // session width: the hash layout at a given width is identical to
    // what EnsureRequirements would produce, the subtree is iteration-
    // invariant so ReuseExchange computes the edge side once — and at or
    // below the session width the function is the identity, keeping the
    // small-graph plan untouched (full AQE coalesce + skew-split, bench
    // bit-identical). This is NOT the r13 pre-partition trap: the
    // exchanges stay in the plan at an |E|-proportional width instead of
    // being frozen into the checkpoint at build width.
    def widen(df: DataFrame, k: Column): DataFrame =
      if (wide) df.repartition(width, k) else df
    // Int-NARROWED node ids on the widened path (the r17 triangle
    // relabel's cheap sibling): when every node id fits an int — peeked
    // above; the trade-graph ids are synthetic 2c/2s+1 longs, int-safe
    // until a billion customers — the ids narrow IN-PLACE (a map-side
    // cast, no dense-relabel join, because narrowing preserves id
    // VALUES and therefore every grouping and join), halving the
    // reused edge exchange that every iteration re-reads and shaving
    // the dst exchange key. Gated with the widening so toy-SF plans
    // stay untouched; ids at or past 2^31 keep the long path (the same
    // fallback contract as the triangle relabel).
    val srcType = edgeList.schema("src").dataType
    val narrow = wide && maxNodeId < Int.MaxValue.toLong
    def nid(c: Column): Column = if (narrow) c.cast("int") else c
    // The explicit null filter is a REUSE witness, not a semantic
    // change (null ids are outside the symmetric-edge contract and a
    // null src could never contribute rank through the src-keyed
    // join anyway): the iterEdges subtree is unrolled under all
    // `iters` joins, and constraint inference gives the INNER copies
    // `isnotnull(src) AND isnotnull(dst)` (their dst feeds the next
    // iteration's join) but the LAST copy only `isnotnull(src)` — a
    // canonical mismatch that made AQE's stage cache materialize the
    // same 1.2 GB exchange twice at factor 100 (r18, executed-plan
    // witness). With the filter explicit, all copies are canonically
    // identical and the exchange materializes exactly once.
    val iterEdges = widen(
      edges.select(nid(col("src")).as("src"), nid(col("dst")).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull),
      col("src"))
    val degN = deg.select(nid(col("src")).as("dnode"), col("deg"))
    // deg is one row per node BY CONSTRUCTION (groupBy output) — the
    // node set reads it directly; a withDeg.select(src).distinct()
    // would pay an EDGE-sized exchange for a set deg already
    // materializes
    val nodes = degN.select(col("dnode").as("src"))
    // 1/N folds into the plan as a ONE-ROW broadcast scalar instead of a
    // driver-side count(): init = scale div n and base = (1-d)·init are
    // BIGINT floor divisions, identical to the former Scala longs — the
    // rank recurrence itself stays declarative (the only plan-build
    // actions are the checkpoints and the metrics-sized width peek).
    // The consts subplan appears once per iteration, but every copy is
    // the identical metrics-sized aggregate over the checkpointed
    // node-sized deg table.
    val consts = broadcast(nodes.agg(count(lit(1)).as("n"))
      .select(expr(s"$scale div n").as("init"))
      .select(col("init"), expr("(3 * init) div 20").as("base")))
    var rank = nodes.crossJoin(consts)
      .select(col("src").as("node"), col("init").as("rk"))
    for (_ <- 1 to iters) {
      // contributions attach on the NODE-SIZED side: (rank ⋈ deg) is a
      // |V|-row join computing c = rk div deg once per node — the
      // identical integer value the former per-edge division produced
      // (`div` is deterministic; where it runs cannot change the
      // result). Above the session width the iteration join is
      // shuffle-hash hinted with the node-sized contribution side as
      // the build: a sort-merge join would re-SORT the |E|-row reused
      // edge exchange every iteration for a join whose other side is
      // node-sized.
      val contribPlan = rank.join(
          if (wide) degN.hint("shuffle_hash") else degN,
          col("node") === col("dnode"))
        .select(col("node"), expr("rk div deg").as("c"))
      val contrib = widen(
        if (wide) contribPlan.hint("shuffle_hash") else contribPlan,
        col("node"))
      rank = widen(iterEdges.join(contrib, col("src") === col("node"))
        .select(col("dst"), col("c")), col("dst"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .crossJoin(consts)
        .select(col("dst").as("node"),
          (col("base") + expr("(17 * s) div 20")).as("rk"))
    }
    // cast back to the caller's id type (a no-op on the un-narrowed
    // path) so the output schema never depends on the graph's size
    rank.select(col("node").cast(srcType).as("node"), col("rk"))
  }

  /** Triangle count over the co-purchase graph (parts linked by
    * appearing on the same order) — the third classic iterative-graph
    * primitive after components and ranks, and the standard
    * clustering-coefficient ingredient.
    *
    * Algorithm: degree-ordered edge orientation (Schank-Wagner /
    * "compact-forward"). Every undirected edge is oriented from the
    * lower-(degree, id) endpoint to the higher one, so each node's
    * out-degree is O(√m) regardless of raw-degree skew. A triangle's
    * three nodes are totally ordered by that rank — a < b < c with
    * oriented edges a→b, a→c, b→c — so counting, per oriented edge
    * (u,v), the common OUT-neighbors |N⁺(u) ∩ N⁺(v)| counts every
    * triangle exactly once (at its lowest-rank edge, as c ∈ both) and
    * never twice (c→b and b→a cannot be oriented edges). Both
    * neighborhoods are out-adjacency, so the per-edge work is O(√m)
    * under ANY skew, and — unlike the classic wedge/semi-join form —
    * the O(m^1.5) wedge set is never materialized: at sf0.1 that was
    * 41 M wedge rows and 6 s of a 7.5 s query (round-7 breakdown);
    * the intersection core runs in under 1 s for the identical count.
    * The total is independent of the orientation key — the DuckDB
    * oracle uses plain id-orientation and must produce the identical
    * count.
    *
    * Scale: the edge build groups lineitem by order ONCE
    * (map-side-combined `collect_set`) and expands each order's sorted
    * part set to its C(k,2) pairs in-row — one exchange plus a partial-
    * distinct, replacing the former distinct + self-join + distinct
    * (three exchanges; 5.0 s → 0.3 s warm at sf0.1). Per-order pair
    * expansion is O(k²) in lines-per-order, bounded by the order-size
    * domain, and the following distinct is the same reduction either
    * way. The edge list is MATERIALIZED (`localCheckpoint`) — the
    * degree build, the degree-attach joins, and the adjacency build all
    * read the materialized list instead of replaying the expansion.
    * n_nodes/n_edges come from ONE metrics-sized aggregate over the
    * node-sized degree table (Σdeg = 2·|E| exactly). All counts are
    * exact BIGINTs.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCountEdges(coPurchaseEdges(spark, dir))

  /** The co-purchase edge list (id-canonical distinct `(u, v)`, u < v):
    * parts linked by appearing on the same order. One exchange (the
    * per-order `collect_set`) + the partial-combined distinct; exposed so
    * GraphSpec exercises [[triangleCountEdges]] on exactly the shipped
    * build instead of re-deriving it.
    *
    * The build runs BEFORE [[triangleCountEdges]]' Σdeg peek can exist,
    * so its width rule peeks the input instead: |lineitem| is a
    * footer-cheap count, memoized per (session, dir) like the relation
    * itself, and the expanded pair volume is ~2–3× of it on
    * this data (Σ C(k,2) with k = lines/order ≤ 7; 60 M rows → 120 M
    * edges at sf10), so the pair distinct — the exchange that actually
    * starved at fixed width 32 in the r14 full-surface run — widens to
    * ⌈2·|lineitem| / [[edgeRowsPerPartition]]⌉ when that exceeds the
    * session width, and the order groupBy widens with it. Identity at
    * toy SF, same contract as every other width rule here.
    */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val width =
      edgeWidth(spark, 2 * graft.Tables.rowCount(spark, dir, "lineitem"))
    // Explicit width ALWAYS (r18): the per-order pair explode and the
    // pair distinct are CPU-dense (C(n,2) struct fan-out per order), and
    // AQE's byte-based coalescing squeezed both to ~4 tasks at bench
    // scale (StageProbe: 1.2 s of the query on 3-4 tasks). An explicit
    // repartition count is exempt from coalescing, the groupBy/distinct
    // reuse the partitioning (no extra exchange), and width stays the
    // |E|-proportional rule above the session width — so at scale the
    // plan is unchanged. Measured r18 (sf0.1, min-of-5): see SCALE.md.
    def widen(df: DataFrame, k: Column*): DataFrame =
      df.repartition(width, k: _*)
    widen(widen(li, col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("u"), y.as("v")))))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")), col("u"), col("v"))
      .distinct()
  }

  /** Above this many total edges the closing strategy falls back from
    * the broadcast adjacency attach. The adjacency table carries one
    * array entry per oriented edge (≈8 B each + node row overhead →
    * ≲64 MB at the cap); under it, both attaches broadcast and the
    * whole count pipelines in one stage over the materialized edge
    * list. Beyond the cap (a 100 TB-scale graph) the attaches become
    * shuffled node-keyed joins — AQE skew-splits them like any other
    * node-keyed join, and every materialization switches to
    * DISK_ONLY (see the [[triangleCountEdges]] post-mortem).
    */
  private val BroadcastEdgeLimit = 4000000L

  /** The counting core over an arbitrary UNDIRECTED edge list given as
    * distinct `(u, v)` rows with u < v. Returns one row:
    * `(n_nodes, n_edges, n_triangles)`.
    *
    * `broadcastEdgeLimit` exists so GraphSpec can exercise BOTH closing-
    * join strategies on one fixture (limit 0 forces the above-cap
    * fallback); production callers take the default cap.
    * `rowsPerPartition` (0 = the [[edgeRowsPerPartition]] memory-
    * derived default) drives the
    * same |E|-proportional exchange-width rule as [[pageRankEdges]],
    * applied to every edge-sized exchange downstream of the Σdeg peek
    * (degree attaches, adjacency aggregate, attach joins); identity
    * at-or-below the session width, parameterized only so GraphSpec can
    * force the widened plan on a toy graph.
    *
    * MEMORY POST-MORTEM (r12, factor-100 sweep): with the former
    * MEMORY_AND_DISK `localCheckpoint`s this pipeline OOM'd outright at
    * 120 M edges in an 8 g driver — `[AGGREGATE_OUT_OF_MEMORY]` in the
    * edge build's distinct() hash aggregate, because the checkpoint's
    * MemoryStore unroll buffers (216 MiB per block, 32 concurrent
    * tasks) and the aggregate's hash-map pages drain the SAME unified
    * pool in the SAME tasks; the retry that survived spent ~15 min
    * spilling. Edge-sized materializations are therefore DISK_ONLY —
    * blocks stream straight to disk, the aggregate keeps the whole
    * execution pool, and re-reads hit the OS page cache at toy scale
    * (sf0.1 delta: noise). Node-sized tables (deg) keep the default
    * level.
    */
  def triangleCountEdges(edges0: DataFrame,
      broadcastEdgeLimit: Long = BroadcastEdgeLimit,
      rowsPerPartition: Long = 0L): DataFrame = {
    // materialize the (possibly expensive) edge build ONCE — without
    // this, each of {degree agg, u-attach, v-attach} replays the full
    // upstream lineage (at sf0.1 the lineitem pair self-join + distinct,
    // three times over: the single biggest cost in the round-7 bench)
    val edges = edges0.localCheckpoint(true, StorageLevel.DISK_ONLY)
    // deg is node-sized and consumed three times (two attach joins +
    // the fused summary aggregate) — materialize it too
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // the exact counts come off the node-sized degree table in one
    // metrics-sized driver action (Σdeg = 2·|E| exactly); n_edges also
    // decides the closing-join strategy below, the same driver-
    // coordinated adaptivity as the CC/Lloyd loops. NOT memoized: a
    // canonicalized-plan key omits LocalRelation data and parquet
    // paths, so two different edge lists can share a key (stale counts
    // would be EMITTED in the output row) — and the peek is a cheap
    // metrics-sized action over the already-checkpointed degree table,
    // so each plan construction just pays it.
    val counts = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges")).head()
    val (nNodes, nEdges) = (counts.getLong(0), counts.getLong(1))
    val big = nEdges > broadcastEdgeLimit
    // Dense rank relabeling (r17, the honest-sink sf30 spill fix): the
    // above-cap intersection path relabels every node to its dense
    // ORDINAL under the orientation rank (deg, id) — an INT in
    // [0, |V|). Two birds:
    //  1. adjacency entries become 4-byte ints instead of 8-byte ids —
    //     half the bytes of the dst exchange, the query's disk bill
    //     (Σ outdeg² array payload; what exhausted ~74 GB of scratch at
    //     sf30 under the honest sink, SCALE.md r16);
    //  2. rank order is readable IN the array, which buys the prune
    //     below: for an oriented edge (u, v), every common out-neighbor
    //     w ∈ N⁺(v) has rank(w) > rank(v) by orientation, so N⁺(u)
    //     entries ranked ≤ rank(v) can NEVER intersect and are dropped
    //     BEFORE the exchange — summed over edges that keeps
    //     Σ C(outdeg, 2) of Σ outdeg² entries: another half.
    // The relabeling itself is the standard distributed dense-rank:
    // range-repartition the NODE-sized degree table on (deg, id), sort
    // within partitions, zipWithIndex (per-partition offsets are one
    // bounded-metadata count job) — no single-task global sort
    // anywhere. It also REPLACES the two degree-attach joins (the rank
    // already encodes the orientation order), so the oriented edge
    // build does the same two node-keyed joins it always did, just
    // against (node → rank) instead of (node → deg). Feasible iff
    // |V| < 2^31 (the ordinal must fit an int — node ids themselves
    // may be arbitrary longs); past that the path falls back to plain
    // long ids without the prune, keeping the same join topology.
    val rankable = big && nNodes > 0 && nNodes < (1L << 31)
    // |E|-proportional width for every edge-sized exchange BELOW this
    // point (the [[pageRankEdges]] rule, extended here in r14): the
    // adjacency collect_list and the attach joins each hold
    // ~|E|/width rows of per-task state, and at fixed width 32 the
    // full-surface sf10 run died stochastically on
    // [UNABLE_TO_ACQUIRE_MEMORY] in an edge-sized hash aggregate
    // (isolated runs passed — the margin at 120 M edges / 32
    // partitions was one container window's worth of luck, which is
    // not a scale design). Identity at-or-below the session width:
    // small graphs keep byte-identical plans and full AQE control.
    val width = edgeWidth(edges0.sparkSession, nEdges, rowsPerPartition)
    val wide =
      width > edges0.sparkSession.sessionState.conf.numShufflePartitions
    def widen(df: DataFrame, k: Column*): DataFrame =
      if (wide) df.repartition(width, k: _*) else df
    // orient low-rank → high-rank, rank = (deg, id). On the rank path
    // the joined-in attribute IS the dense ordinal (int) and the
    // comparison is a plain int compare; otherwise the degrees attach
    // and the lexicographic (deg, id) predicate decides — the same
    // total order either way.
    def orientedPlan(): DataFrame = {
      if (rankable) {
        val spark = edges0.sparkSession
        // node is cast to long BEFORE .rdd: the API is type-agnostic
        // (callers may supply int-typed edge ids) and the row reader
        // below uses getLong — without the cast an IntegerType edge
        // frame above the cap would ClassCastException where the
        // pre-rank orientation handled it fine (r17 ADVICE). Numeric
        // widening preserves the (deg, id) sort order, and the rank
        // attach joins coerce int edge keys to long automatically.
        val sorted = deg
          .select(col("node").cast("long").as("node"), col("deg"))
          .repartitionByRange(width, col("deg"), col("node"))
          .sortWithinPartitions(col("deg"), col("node"))
        val rank = spark.createDataFrame(
          sorted.rdd.zipWithIndex().map { case (row, i) =>
            org.apache.spark.sql.Row(row.getLong(0), i.toInt) },
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("r",
              org.apache.spark.sql.types.IntegerType))))
          .localCheckpoint() // node-sized, read twice below
        val ru = rank.select(col("node").as("u"), col("r").as("ru_"))
        val rv = rank.select(col("node").as("v"), col("r").as("rv_"))
        widen(widen(edges, col("u")).join(ru, Seq("u")), col("v"))
          .join(rv, Seq("v"))
          .select(
            when(col("ru_") < col("rv_"),
              struct(col("ru_").as("src"), col("rv_").as("dst")))
              .otherwise(
                struct(col("rv_").as("src"), col("ru_").as("dst"))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
      } else {
        val withDeg = widen(edges, col("u")).join(
          deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        widen(withDeg, col("v"))
          .join(deg.select(col("node").as("v"), col("deg").as("dv")),
            Seq("v"))
          .select(
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
              struct(col("u").as("src"), col("v").as("dst")))
              .otherwise(
                struct(col("v").as("src"), col("u").as("dst"))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
      }
    }
    // edge-sized: DISK_ONLY above the cap (see the post-mortem in the
    // scaladoc); the default level under it, where the whole graph is a
    // few MB and memory pressure cannot exist
    val oriented = if (big)
      orientedPlan().localCheckpoint(true, StorageLevel.DISK_ONLY)
    else orientedPlan().localCheckpoint()
    // node-sized out-adjacency arrays (each O(√m) long by
    // orientation), materialized because both attaches below read it;
    // array-carrying and therefore DISK_ONLY above the cap.
    // Above the cap the arrays are SORTED: the dst exchange below is
    // the query's disk bill (23.5 GB at factor 100 — r17 StageProbe),
    // and codec ratio on packed (deg<<32|id) longs is locality-bound —
    // sorted runs share high bytes and compress several-fold better
    // than collect_list's arrival order. Sorting is one node-sized
    // array sort at build time; array_intersect is order-insensitive,
    // so results are bit-identical (GraphSpec pins both closing
    // strategies).
    val adjPlan = widen(oriented, col("src")).groupBy(col("src"))
      .agg((if (big) sort_array(collect_list(col("dst")))
        else collect_list(col("dst"))).as("nbrs"))
    val adj = if (big) adjPlan.localCheckpoint(true, StorageLevel.DISK_ONLY)
      else adjPlan.localCheckpoint()
    val adjU = adj.select(col("src"), col("nbrs").as("nu"))
    val adjV = adj.select(col("src").as("dst"), col("nbrs").as("nv"))
    // per oriented edge (u,v): |N⁺(u) ∩ N⁺(v)| common out-neighbors.
    // Inner joins: v may have no out-edges (rank-maximal) — such edges
    // close no triangle, and dropping them is exactly the intersection
    // with an empty set. The adjacency attaches broadcast when the
    // graph fits ([[BroadcastEdgeLimit]]); the fallback is two shuffled
    // node-keyed joins at the |E|-proportional width (the second
    // attach re-shuffles the array-carrying rows on dst — the
    // heaviest exchange in the query, which is exactly where a fixed
    // width starves first).
    val nTriangles: DataFrame = if (big) {
      // Above-cap path (r17 rewrite — the honest-sink sf30 spill fix;
      // the broadcast path below is untouched, keeping toy-SF plans
      // byte-identical). Three levers on the dst exchange, the
      // query's heaviest:
      //  1. both attaches are SHUFFLE-HASH joins with the node-sized
      //     adjacency as the build side (~|E|/width packed longs per
      //     task): a sort-merge join would externally SORT the
      //     array-carrying edge stream — re-spilling the Σ outdeg²
      //     payload the exchange already wrote once;
      //  2. on the packed path, N⁺(u) is PRUNED to entries ranked
      //     above dst before the exchange (see `rankable`) — half the
      //     array bytes never ship;
      //  3. `src` is dropped before the exchange — the intersection
      //     needs only (dst, nu).
      val attached = widen(oriented, col("src"))
        .join(adjU.hint("shuffle_hash"), Seq("src"))
      val pruned = if (rankable)
        attached.select(col("dst"),
          filter(col("nu"), w => w > col("dst")).as("nu"))
      else attached.select(col("dst"), col("nu"))
      widen(pruned, col("dst"))
        .join(adjV.hint("shuffle_hash"), Seq("dst"))
        .select(size(array_intersect(col("nu"), col("nv")))
          .cast("long").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    } else {
      // Below-cap closing: both attaches broadcast, so the whole
      // per-edge intersection runs map-side at the `oriented`
      // checkpoint's partitioning — which is the edge BUILD's output
      // width (AQE byte-coalesced; 3 partitions at sf0.1). Bytes are
      // the wrong proxy for the intersection's CPU (sorted-array
      // intersect per edge), so when the checkpoint has fewer
      // partitions than the session has slots, round-robin the edge
      // stream up to the slot count first — a below-cap graph is
      // ≤ broadcastEdgeLimit rows by construction, so the repartition
      // is bounded-cheap at ANY deployment, and a checkpoint already
      // at ≥ slots partitions (every at-scale layout) skips it.
      // Measured r18 (sf0.1, min-of-5 A/B): 3.69 → 2.93 s.
      val slots = math.max(1,
        oriented.sparkSession.sparkContext.defaultParallelism)
      val probe = if (oriented.rdd.getNumPartitions < slots)
        oriented.repartition(slots) else oriented
      widen(widen(probe, col("src"))
          .join(broadcast(adjU), Seq("src")), col("dst"))
        .join(broadcast(adjV), Seq("dst"))
        .select(size(array_intersect(col("nu"), col("nv")))
          .cast("long").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    }
    nTriangles.select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
      col("n_triangles"))
  }
}
