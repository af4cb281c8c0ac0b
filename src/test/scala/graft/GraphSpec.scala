package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** Fixed-point PageRank invariants. The bit-exact value contract lives in
  * the `pagerank_trade` DuckDB oracle (unrolled 3 iterations); these tests
  * pin the properties the oracle can't see — partition invariance and the
  * closed-form two-node fixed point.
  */
class GraphSpec extends SparkSpec {

  test("pagerank is bit-identical under different shuffle partitionings") {
    val dir = "/root/testdata/sf0.001"
    val a = GraphOps.pageRank(spark, dir).collect().toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = GraphOps.pageRank(spark, dir).collect().toSet
      assert(a == b, "integer fixed-point ranks must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("auto-widened iteration shuffles produce bit-identical ranks " +
      "and actually widen the exchanges") {
    // The divisor puts the width at about twice the session width, past
    // the conf floor — the path a 200M-edge build takes — without the
    // |E|-wide near-empty stages that rowsPerPartition=1 forced. The
    // integer fixed-point contract means the widened plan must reproduce
    // the default plan's ranks exactly. Also witness the width actually
    // applied: the plan must carry user-origin repartitions at the
    // rule's width (the default-path plan carries none).
    val dir = "/root/testdata/sf0.001"
    val fwd = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val nEdges = edges.count()
    val conf = spark.sessionState.conf.numShufflePartitions
    assert(nEdges > 2 * conf, s"fixture too small to force widening: $nEdges")
    val rpp = nEdges / (2 * conf)
    val expWidth = math.ceil(nEdges.toDouble / rpp).toInt
    val default = GraphOps.pageRankEdges(edges, 3).collect().toSet
    val widened = GraphOps.pageRankEdges(edges, 3, rowsPerPartition = rpp)
    assert(widened.collect().toSet == default,
      "widened iteration shuffles changed fixed-point ranks")
    // witness on the OPTIMIZED LOGICAL plan: the adaptive physical plan
    // wraps its stages in a leaf-like AdaptiveSparkPlanExec that a
    // TreeNode.collect cannot see through
    def repartitionWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression => r.optNumPartitions
      }.flatten
    val widths = repartitionWidths(widened)
    assert(widths.nonEmpty && widths.forall(_ == expWidth),
      s"expected ceil(|E|=$nEdges / rpp=$rpp) = $expWidth-wide " +
        s"repartitions, saw $widths")
    assert(repartitionWidths(GraphOps.pageRankEdges(edges, 3)).isEmpty,
      "default path must not carry user-origin repartitions")
  }

  test("auto-widened triangle exchanges count identically on both " +
      "closing strategies and actually widen") {
    // the same |E|-proportional width rule as pagerank, extended to
    // triangleCountEdges in r14 after the full-surface sf10 run starved
    // an edge-sized hash aggregate at fixed width 32. The divisor is
    // sized so width lands at a SMALL MULTIPLE of the session width
    // (~2×), not |E| itself — rowsPerPartition=1 forced thousands of
    // near-empty tasks per widened stage across two full runs for the
    // same plan witness (the r14 ADVICE cost note); the widened
    // shuffled closing must still reproduce the default counts
    // bit-for-bit
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.coPurchaseEdges(spark, dir)
      .localCheckpoint()
    val default = GraphOps.triangleCountEdges(edges).collect()(0).toSeq
    val nEdges = default(1).asInstanceOf[Long].toInt
    val conf = spark.sessionState.conf.numShufflePartitions
    assert(nEdges > 2 * conf, s"fixture too small to force widening: $nEdges")
    val rpp = nEdges.toLong / (2 * conf)
    val expWidth = math.ceil(nEdges.toDouble / rpp).toInt
    val wideAdj = GraphOps.triangleCountEdges(edges, 0L,
      rowsPerPartition = rpp)
    assert(wideAdj.collect()(0).toSeq == default,
      "widened adjacency strategy diverged from the default counts")
    def repartitionWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression => r.optNumPartitions
      }.flatten
    // the returned frame's own plan carries the closing-join widening
    // (upstream widened exchanges are already executed into the
    // checkpoints and invisible here — same witness scope as the
    // pagerank test)
    val widths = repartitionWidths(wideAdj)
    assert(widths.nonEmpty && widths.forall(_ == expWidth),
      s"expected ceil(|E|=$nEdges / rpp=$rpp) = $expWidth-wide " +
        s"repartitions, saw $widths")
    assert(repartitionWidths(GraphOps.triangleCountEdges(edges)).isEmpty,
      "default path must not carry user-origin repartitions")
  }

  test("rank mass stays within the fixed-point budget and above the base floor") {
    val dir = "/root/testdata/sf0.001"
    val rows = GraphOps.pageRank(spark, dir)
      .agg(sum("rank").as("mass"), min("rank").as("lo"), count(lit(1)).as("n"))
      .collect()(0)
    val scale = 1000000000000L
    // floor division only loses mass: total ≤ scale; every node keeps at
    // least the (1-d) teleport base
    assert(rows.getLong(0) <= scale, s"mass ${rows.getLong(0)} exceeds scale")
    val n = rows.getLong(2)
    val base = (3L * (scale / n)) / 20L
    assert(rows.getLong(1) >= base,
      s"min rank ${rows.getLong(1)} below teleport base $base")
  }

  private def edgeFrame(es: (Long, Long)*) = {
    import spark.implicits._
    es.toDF("u", "v")
  }

  test("triangleCountEdges counts hand-verifiable graphs") {
    // K4: C(4,3) = 4 triangles
    val k4 = edgeFrame(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L)
    val r4 = GraphOps.triangleCountEdges(k4).collect()(0)
    assert((r4.getLong(0), r4.getLong(1), r4.getLong(2)) == (4L, 6L, 4L))
    // 4-cycle: no triangles
    val c4 = edgeFrame(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    assert(GraphOps.triangleCountEdges(c4).collect()(0).getLong(2) == 0L)
    // K4 minus one edge: exactly the 2 triangles through the remaining hub
    val k4m = edgeFrame(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 3L -> 4L)
    assert(GraphOps.triangleCountEdges(k4m).collect()(0).getLong(2) == 2L)
  }

  test("triangle closing-join strategies (broadcast vs shuffled) agree") {
    // the 4M-edge cap decides whether the adjacency attaches broadcast
    // or shuffle (GraphOps.BroadcastEdgeLimit); pin BOTH sides of the
    // switch on the same graphs so the adaptive fallback can't silently
    // diverge (r10 verdict item 7) — limit 0 forces the shuffled path,
    // Long.MaxValue forces broadcast
    val graphs = Seq(
      // K4 + pendant edge + disjoint triangle: mixes degrees 1..3
      edgeFrame(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
        3L -> 4L, 4L -> 5L, 6L -> 7L, 6L -> 8L, 7L -> 8L),
      // hub wheel: hub 0 + 6-cycle rim — skewed degree, 6 rim triangles
      edgeFrame((1L to 6L).map(i => 0L -> i) ++
        (1L to 6L).map(i => math.min(i, i % 6 + 1) ->
          math.max(i, i % 6 + 1)): _*),
      // K4 with every row REVERSED (hi, lo): per-row orientation is a
      // caller's choice, not part of the undirected contract — both
      // closing strategies must count it, not assume u < v (r13 ADVICE:
      // all prior fixtures were canonical)
      edgeFrame(2L -> 1L, 3L -> 1L, 4L -> 1L, 3L -> 2L, 4L -> 2L,
        4L -> 3L))
    graphs.foreach { g =>
      val bc = GraphOps.triangleCountEdges(g, broadcastEdgeLimit = Long.MaxValue)
        .collect()(0)
      val sh = GraphOps.triangleCountEdges(g, broadcastEdgeLimit = 0L)
        .collect()(0)
      assert(bc.toSeq == sh.toSeq,
        s"broadcast (${bc.toSeq}) and shuffled (${sh.toSeq}) closing " +
          "joins must count identically")
    }
    // and the real co-purchase graph at sf0.001 through the forced
    // shuffled path equals the default (broadcast at this size) path
    val dir = "/root/testdata/sf0.001"
    val defaultPath = GraphOps.triangleCount(spark, dir).collect()(0)
    val edges = graft.Tables.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("u"), y.as("v")))))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    val forcedShuffle = GraphOps.triangleCountEdges(edges, 0L).collect()(0)
    assert(defaultPath.toSeq == forcedShuffle.toSeq)
  }

  test("triangleCountEdges is type-agnostic: INT-typed edge ids count " +
      "identically through both closing strategies, including the rank " +
      "path") {
    // the API contract is "any numeric id type"; the r17 dense-rank
    // relabel reads node ids via getLong off a .rdd, which an
    // IntegerType edge frame would ClassCastException without the
    // explicit widen (r17 ADVICE) — limit 0 forces the above-cap rank
    // path where that read lives
    import spark.implicits._
    val intEdges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (6, 7), (6, 8), (7, 8))
      .toDF("u", "v") // IntegerType columns
    val viaRank = GraphOps.triangleCountEdges(intEdges,
      broadcastEdgeLimit = 0L).collect()(0)
    val viaBroadcast = GraphOps.triangleCountEdges(intEdges,
      broadcastEdgeLimit = Long.MaxValue).collect()(0)
    assert(viaRank.toSeq == Seq(8L, 10L, 5L),
      s"int-typed K4+pendant+triangle graph: ${viaRank.toSeq}")
    assert(viaBroadcast.toSeq == viaRank.toSeq,
      "strategies must agree on int-typed edges")
  }

  test("triangle count is invariant to partitioning and matches at sf0.001") {
    val a = GraphOps.triangleCount(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(a.getLong(2) > 0L, "co-purchase graph must contain triangles " +
      "(any order with >= 3 parts forms one)")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val b = GraphOps.triangleCount(spark, "/root/testdata/sf0.001")
        .collect()(0)
      assert(a.toSeq == b.toSeq,
        "exact integer counts must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
