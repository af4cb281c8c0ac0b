package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.operators.Backtest.{Config, MaRow}

/** SQL-callable surface for the §2.6 backtest (SURVEY.md §7 module 5,
  * option 2): a typed `Aggregator` usable as a UDAF inside a plain
  * `groupBy(symbol).agg(...)`.
  *
  * The machine is NON-COMMUTATIVE, but Spark aggregation buffers see rows
  * in arbitrary order and partial buffers merge in arbitrary pairings —
  * so the buffer COLLECTS (ts-keyed) rows and the single ordered fold runs
  * once, in `finish`, after an explicit sort. That bounds buffer memory by
  * the per-symbol series length (fine for per-symbol candle series; the
  * flatMapSortedGroups fold in [[Backtest]] is the streaming-memory
  * variant and remains the primary path).
  */
object BacktestAggregator {

  case class BtIn(ts: Timestamp, close: Double,
      short_ma: Double, long_ma: Double)
  case class BtOut(num_trades: Long, final_value: Double, roi: Double)

  class BacktestUdaf(cfg: Config)
      extends Aggregator[BtIn, List[BtIn], BtOut] {
    override def zero: List[BtIn] = Nil
    override def reduce(b: List[BtIn], a: BtIn): List[BtIn] = a :: b
    override def merge(x: List[BtIn], y: List[BtIn]): List[BtIn] = x ::: y
    override def finish(b: List[BtIn]): BtOut = {
      val rows = b.sortBy(_.ts.getTime).iterator
        .map(r => MaRow(null, r.ts, r.close, r.short_ma, r.long_ma))
      Backtest.summarize(Backtest.foldCore(rows, cfg)._2, cfg)
    }
    // buffer is an internal spill format — kryo keeps it schema-free;
    // input/output stay fully typed (product encoders)
    override def bufferEncoder: Encoder[List[BtIn]] = Encoders.kryo[List[BtIn]]
    override def outputEncoder: Encoder[BtOut] = Encoders.product[BtOut]
  }

  /** groupBy(symbol).agg(backtest UDAF) — same output schema and values as
    * [[Backtest.summary]] (symbols with zero trades are filtered to match
    * its no-row semantics).
    */
  def summaryViaUdaf(candles: DataFrame, cfg: Config = Config()): DataFrame = {
    val agg = udaf(new BacktestUdaf(cfg))
    TradingOps.movingAverages(candles, cfg.shortN, cfg.longN)
      .groupBy(col("symbol"))
      .agg(agg(col("ts"), col("close"), col("short_ma"), col("long_ma"))
        .as("r"))
      .filter(col("r.num_trades") > 0)
      .select(col("symbol"),
        col("r.num_trades").as("num_trades"),
        round(col("r.final_value"), 6).as("final_value"),
        round(col("r.roi"), 6).as("roi"))
  }
}
