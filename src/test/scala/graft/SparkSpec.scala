package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per suite, lazy) + candle-frame fixture builder. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Sessions.builder(master = "local[4]").appName("graft-test").getOrCreate()

  /** Minute-spaced candles from close prices; open/high/low/volume derived
    * (the strategies only read close — main.py:381,403-413).
    */
  def candleFrame(closesBySymbol: Map[String, Seq[Double]]): DataFrame = {
    import spark.implicits._
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    closesBySymbol.toSeq.flatMap { case (sym, closes) =>
      closes.zipWithIndex.map { case (c, i) =>
        (sym, new Timestamp(base + i * 60000L), c, c + 1.0, c - 1.0, c, 1.0)
      }
    }.toDF("symbol", "ts", "open", "high", "low", "close", "volume")
  }
}
