package graft.perfbench

import graft.SparkEntry

/** The query → workload → module table, and the gated workloads.
  *
  * The module of a query is the first operator module its
  * `SparkEntry.queries` closure calls (read from the source by
  * `perfbench/catalog.py`, which hands it over as
  * `name<TAB>module<TAB>layouts` lines), or `SparkEntry` for inline
  * DataFrame code. The family follows one rule over the module and the
  * query's DuckDB oracle SQL: drains (module `EventStreams`) go to
  * `stream`; a query whose oracle reads `documents` or `embeddings` goes
  * to `corpus`, one that reads `events` to `backtest`, the rest to
  * `relational`. The cells `family.module` partition the declared
  * queries, and a family runs as the union of its cells.
  *
  * The gated workloads ([[Mixes]]) are fixed samples across the cells:
  * together they take at least one query of every module except those in
  * [[Ungated]], so every layer is measured by some gated workload.
  */
object Catalog {
  val Families: Seq[String] = Seq("backtest", "corpus", "relational", "stream")

  val Modules: Seq[String] = Seq("TradingOps", "TimeSeriesOps", "Backtest",
    "Analytics", "GraphOps", "Dedup", "Similarity", "TextAnalysis",
    "Multimodal", "EventStreams", "SparkEntry")

  /** A gated workload: a fixed sample of declared queries, the number of
    * untimed warm passes (the first is the cold one that ends setup), and
    * the wall time of one timed pass measured for it on 4 cores (the
    * release between queries and the GC after the pass included), which
    * turns `--seconds` into a fixed number of timed passes. */
  final case class Mix(name: String, queries: Seq[String], warmPasses: Int,
      nominalPassS: Double) {
    def timedPasses(seconds: Double): Int =
      math.max(1, math.round(seconds / nominalPassS).toInt)
  }

  val Mixes: Seq[Mix] = Seq(
    // the paper's surface over events and candles: the backtest state
    // machine, one indicator, one as-of join, the two Tables layouts;
    // sub-second queries bound by the per-query floor
    Mix("mix.trading", Seq("backtest_positions", "backtest_positions_capped",
      "backtest_summary", "backtest_udaf", "max_drawdown",
      "asof_join_candles", "candles_bucketed", "events_zordered"),
      warmPasses = 6, nominalPassS = 2.4),
    // multi-stage shuffles, checkpoints and widened stages: PageRank, a
    // six-way TPC-H join, the checkpointed corpus merge, the IVF layout
    // probe, chunking and synthetic image features
    Mix("mix.corpus_graph", Seq("pagerank_trade", "q5_local_supplier",
      "merge_corpus_day", "ann_topk_ivf_layout", "chunk_documents",
      "media_features"),
      warmPasses = 1, nominalPassS = 10.0))

  /** Modules no gated workload samples, with the reason. */
  val Ungated: Map[String, String] = Map("EventStreams" ->
    "the drains keep their run roots on /dev/shm, outside the checkout")

  final case class Entry(query: String, family: String, module: String) {
    def workload: String = s"$family.$module"
  }

  private def reads(sql: String, table: String): Boolean =
    s"(?i)\\b$table\\b".r.findFirstIn(sql).nonEmpty

  def familyOf(module: String, oracleSql: String): String =
    if (module == "EventStreams") "stream"
    else if (reads(oracleSql, "documents") || reads(oracleSql, "embeddings"))
      "corpus"
    else if (reads(oracleSql, "events")) "backtest"
    else "relational"

  /** Every declared query with its family and module, or the reasons
    * the catalog cannot be built: a declared query with no module line or
    * no oracle SQL (so in no workload), a module line for an undeclared
    * query, an unknown module, a gated workload naming an undeclared
    * query, or a module outside [[Ungated]] that no gated workload
    * samples. */
  def build(modules: Seq[(String, String)]): Either[Seq[String], Seq[Entry]] = {
    val declared = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql
    val moduleOf = modules.toMap
    val sampled = Mixes.flatMap(_.queries).flatMap(moduleOf.get).toSet
    val problems =
      (declared -- moduleOf.keySet).toSeq.sorted
        .map(q => s"$q: declared but has no module") ++
      (moduleOf.keySet -- declared).toSeq.sorted
        .map(q => s"$q: has a module but is not declared") ++
      modules.sorted.collect {
        case (q, m) if !Modules.contains(m) => s"$q: unknown module $m"
      } ++
      declared.filterNot(oracle.contains).toSeq.sorted
        .map(q => s"$q: no oracle SQL, so in no workload") ++
      Mixes.flatMap(x => x.queries.filterNot(declared).map(q =>
        s"${x.name}: $q is not a declared query")) ++
      Modules.filterNot(m => sampled(m) || Ungated.contains(m))
        .map(m => s"module $m is in no gated workload")
    if (problems.nonEmpty) Left(problems)
    else Right(declared.toSeq.sorted.map(q =>
      Entry(q, familyOf(moduleOf(q), oracle(q)), moduleOf(q))))
  }
}
