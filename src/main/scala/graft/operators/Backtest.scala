package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** The one operator that is not stateless relational algebra: the
  * moving-average crossover backtest state machine
  * (/root/reference/main.py:392-446, SURVEY.md §2.6).
  *
  * A single ordered pass per symbol holding mutable state
  * (inPosition, entryPrice, budget, tradesCount):
  *   - rows iterate in time order, starting at the second row (lag seed);
  *   - when tradesCount ≥ maxTrades the loop BREAKS at the top of the
  *     iteration (main.py:407-408) — so the capping position is never closed
  *     by a death cross, only by forced liquidation;
  *   - golden cross while flat and budget ≥ perTrade: open (debit perTrade,
  *     main.py:414-422);
  *   - death cross while long: close, credit (perTrade/entry)·price
  *     (main.py:423-430);
  *   - any open position is force-liquidated at the last row's close
  *     (main.py:432-439) — the TRUE last row, even when the loop broke early.
  *
  * Spark mapping: MA columns come from built-in windows over the
  * symbol-clustered candle series; the fold runs per symbol group in `ts`
  * order (`flatMapSortedGroups`) — parallel across symbols, sequential
  * within one, which is exactly the semantics. The groups key on the
  * `symbol` column itself, so the window's clustering and its
  * (symbol, ts) sort already satisfy the fold and Catalyst plans no
  * Exchange for it (none at all over the bucketed candle layout). At
  * 100 TB / many symbols each group is one task's stream; no state ever
  * crosses executors. The reference is the 1-symbol degenerate case.
  */
object Backtest {

  /** Parameter defaults from the reference GUI (main.py:38-40). */
  case class Config(
      initialBudget: Double = 10000.0,
      perTrade: Double = 1000.0,
      maxTrades: Option[Int] = None,
      shortN: Int = 5,
      longN: Int = 20)

  /** Reference positions are `list[dict]` rows (main.py:419-420);
    * `shares = perTrade / entry_price` is the derived export column.
    * Exit fields are None until the position closes — after a batch run
    * they are always filled (forced liquidation); the Option stays for the
    * streaming variant where positions can still be open.
    */
  case class Position(
      symbol: String,
      entry_ts: Timestamp,
      entry_price: Double,
      exit_ts: Option[Timestamp],
      exit_price: Option[Double],
      shares: Double)

  /** Non-private: Catalyst's generated deserializer must access it. */
  case class MaRow(
      symbol: String, ts: Timestamp, close: Double,
      short_ma: Double, long_ma: Double)

  /** All trade positions, one ordered fold per symbol. */
  def positions(candles: DataFrame, cfg: Config = Config()): Dataset[Position] = {
    val spark = candles.sparkSession
    import spark.implicits._
    foldBySymbol(candles, cfg) { (symbol, rows) => fold(symbol, rows, cfg) }
  }

  /** Per-symbol scalar outcome (main.py:441-443): trade count, final
    * budget after all closes + liquidation, and ROI, computed by
    * [[summarize]] inside the same ordered fold as [[positions]] — one
    * row per symbol, no second aggregation. Symbols with zero
    * crossovers produce no row (the reference's zero-trade run returns
    * the untouched budget — callers treat a missing symbol as ROI 0).
    */
  def summary(candles: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    foldBySymbol(candles, cfg) { (symbol, rows) =>
      val (_, ps) = foldCore(rows, cfg)
      if (ps.isEmpty) Iterator.empty
      else {
        val s = summarize(ps, cfg)
        Iterator((symbol, s.num_trades, s.final_value, s.roi))
      }
    }.toDF("symbol", "num_trades", "final_value", "roi")
      .select(col("symbol"), col("num_trades"),
        round(col("final_value"), 6).as("final_value"),
        round(col("roi"), 6).as("roi"))
  }

  /** Trade count, final value and ROI of one symbol's closed positions.
    * The per-position pnl term is rounded to DECIMAL(·,10) HALF_UP and
    * summed exactly, then turned back to a double — so the outcome is
    * independent of position order. Shared by [[summary]] and
    * [[BacktestAggregator]], which therefore answer bit-identically.
    */
  private[operators] def summarize(
      positions: Seq[Position], cfg: Config): BacktestAggregator.BtOut = {
    val pnl = positions.foldLeft(BigDecimal(0)) { (acc, p) =>
      acc + BigDecimal(p.exit_price.get * cfg.perTrade / p.entry_price -
        cfg.perTrade).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    }.toDouble
    BacktestAggregator.BtOut(positions.size.toLong,
      cfg.initialBudget + pnl, pnl / cfg.initialBudget * 100.0)
  }

  /** The moving-average rows grouped on the `symbol` column and fed to
    * `f` in `ts` order. Grouping on the attribute (not a deserialized
    * key, as `groupByKey` would) is what lets the window's output
    * partitioning satisfy the grouping without another shuffle.
    */
  private def foldBySymbol[U: Encoder](
      candles: DataFrame, cfg: Config)(
      f: (String, Iterator[MaRow]) => Iterator[U]): Dataset[U] = {
    val spark = candles.sparkSession
    import spark.implicits._
    TradingOps.movingAverages(candles, cfg.shortN, cfg.longN)
      .select(col("symbol"), col("ts"), col("close"),
              col("short_ma"), col("long_ma"))
      .groupBy(col("symbol"))
      .as[String, MaRow]
      .flatMapSortedGroups(col("ts"))(f)
  }

  private def fold(
      symbol: String, rows: Iterator[MaRow], cfg: Config): Iterator[Position] =
    foldCore(rows, cfg)._2.iterator.map(p => p.copy(symbol = symbol))

  /** The state machine itself, symbol-agnostic: consumes time-ordered rows,
    * returns (final budget, positions). Shared by the flatMapSortedGroups
    * fold and the SQL-callable Aggregator.
    */
  private[operators] def foldCore(
      rows: Iterator[MaRow], cfg: Config): (Double, Seq[Position]) = {
    if (!rows.hasNext) return (cfg.initialBudget, Nil)
    var prev = rows.next()
    var lastTs = prev.ts
    var lastClose = prev.close
    var inPos = false
    var entryTs: Timestamp = null
    var entryPrice = 0.0
    var budget = cfg.initialBudget
    var trades = 0
    var stopped = false
    val out = scala.collection.mutable.ArrayBuffer.empty[Position]
    while (rows.hasNext) {
      val cur = rows.next()
      lastTs = cur.ts
      lastClose = cur.close
      if (!stopped && cfg.maxTrades.exists(trades >= _)) stopped = true
      if (!stopped) {
        if (!inPos && prev.short_ma <= prev.long_ma &&
            cur.short_ma > cur.long_ma) {
          if (budget >= cfg.perTrade) {
            inPos = true
            entryTs = cur.ts
            entryPrice = cur.close
            trades += 1
            budget -= cfg.perTrade
          }
        } else if (inPos && prev.short_ma >= prev.long_ma &&
                   cur.short_ma < cur.long_ma) {
          inPos = false
          budget += cfg.perTrade / entryPrice * cur.close
          out += Position(null, entryTs, entryPrice,
            Some(cur.ts), Some(cur.close), cfg.perTrade / entryPrice)
        }
      }
      prev = cur
    }
    if (inPos) {
      budget += cfg.perTrade / entryPrice * lastClose
      out += Position(null, entryTs, entryPrice,
        Some(lastTs), Some(lastClose), cfg.perTrade / entryPrice)
    }
    (budget, out.toSeq)
  }
}
