package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features.OrderbookFeatures
import graft.functions.{windows => W, TaIndicators => TA}

/** Micro-benchmarks mirroring the reference's pytest-benchmark workloads
  * (BASELINE.md):
  *  - 100,000-row 1s-freq synthetic OHLCV series; ops: CCI(20, 0.015),
  *    fused CCI+ROC, and the EWM family (EMA-12/26, MACD+signal)
  *    (`adi/tests/features/processors/test_ta_benchmarks.py:8-50`)
  *  - 100,000 ts × 2 sides order book; ops: imbalance pivot, fused
  *    imbalance+spread (`test_orderbook_benchmark.py:8-43`)
  * Data is generated in-Spark (deterministic hash walk), single series —
  * the reference's single-process shape. Prints one JSON line per op.
  * Usage: `runMain graft.tools.MicroBench [rows]` (default 100,000).
  */
object MicroBench {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def syntheticSeries(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong).select(
      timestamp_seconds(lit(1704067200L) + col("id")).as("timestamp"),
      lit("S").as("symbol"),
      (lit(100.0) + (pmod(xxhash64(col("id")), lit(2001L)) - 1000L) / 100.0).as("close"),
      (lit(101.0) + (pmod(xxhash64(col("id")), lit(2001L)) - 1000L) / 100.0).as("high"),
      (lit(99.0) + (pmod(xxhash64(col("id")), lit(2001L)) - 1000L) / 100.0).as("low"),
      lit(1.0).as("volume"))

  def syntheticBook(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong).select(
      explode(array(lit("bid"), lit("ask"))).as("side"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
      (lit(100.0) + (pmod(xxhash64(col("id")), lit(201L)) - 100L) / 100.0).as("price"),
      (lit(1.0) + pmod(xxhash64(col("id"), lit(7)), lit(100L)) / 10.0).as("amount"))

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100000
    val spark = graft.LocalSession()

    val series = syntheticSeries(spark, n).cache()
    series.count()
    val w = W.series(Seq("symbol"), Seq("timestamp"))

    def run(name: String, df: => DataFrame): Unit = {
      val warm = time(df.count()) // plan+codegen warm-up
      val hot = (1 to 3).map(_ => time(df.count())).min
      println(s"""{"bench":"$name","rows":$n,"warm_sec":$warm,"hot_sec":$hot}""")
    }

    run("cci20", series.select(TA.cci(col("high"), col("low"), col("close"), 20, 0.015, w)))
    run("batch_cci_roc", series.select(
      TA.cci(col("high"), col("low"), col("close"), 20, 0.015, w).as("cci"),
      TA.roc(col("close"), 20, w).as("roc")))
    run("ema_macd", {
      val p1 = series
        .withColumn("ema_12", W.ema(col("close"), 12, w))
        .withColumn("ema_26", W.ema(col("close"), 26, w))
        .withColumn("macd", col("ema_12") - col("ema_26"))
      p1.withColumn("macd_signal_9", W.ema(col("macd"), 9, w))
    })

    val book = syntheticBook(spark, n).cache()
    book.count()
    run("imbalance", OrderbookFeatures.imbalanceSeries(book))
    run("batch_imbalance_spread", OrderbookFeatures.batchFeatures(book))

    spark.stop()
  }
}
