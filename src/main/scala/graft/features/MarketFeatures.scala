package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{windows => W, TaIndicators => TA}
import graft.time.TimeNorm
import graft.types.Schemas

/** The market feature factory — Spark re-expression of
  * `adi/app/features/factory/market_factory.py:73-156`.
  *
  * Where the reference computes one in-memory series at a time (one
  * symbol/exchange/timeframe per frame, sorted), this version declares the
  * same 11 features over `Window.partitionBy(symbol, exchange, timeframe)
  * .orderBy(timestamp)` so ANY number of series computes in one distributed
  * pass: the shuffle key is exactly the reference's "one series per frame"
  * invariant, each series' rows land in one partition, and all window
  * expressions over the same frame evaluate in a single WindowExec.
  */
object MarketFeatures {

  val FeatureVersion = "market.v1"

  val seriesKeys: Seq[String] = Seq("symbol", "exchange", "timeframe")

  val featureCols: Seq[String] = Seq(
    "ret_1", "logret_1", "rvol_5", "rvol_20", "ema_12", "ema_26",
    "macd", "macd_signal_9", "rsi_14", "hl_spread", "oi_obv")

  /** Build the v1 feature frame from a normalized OHLCV frame.
    * Output conforms to [[Schemas.FEATURE]]; rows whose features are all
    * null (the very first row of each series) are dropped when
    * `dropnaFinal`, mirroring the factory's final mask
    * (`market_factory.py:151-155`). */
  def build(ohlcv: DataFrame, dropnaFinal: Boolean = true): DataFrame = {
    val w = W.series(seriesKeys, Seq("timestamp"))
    val close = col("close")

    // Pass 1: window expressions directly over input columns (siblings).
    val pass1 = ohlcv
      .withColumn("feature_version", lit(FeatureVersion))
      .withColumn("ret_1", W.pctChange(close, 1, w))
      .withColumn("logret_1", W.logReturn(close, w))
      .withColumn("_delta", W.diff(close, 1, w))
      .withColumn("ema_12", W.ema(close, 12, w))
      .withColumn("ema_26", W.ema(close, 26, w))
      .withColumn("macd", col("ema_12") - col("ema_26"))
      .withColumn("hl_spread", TA.hlSpread(col("high"), col("low"), close))
    // Pass 2: windows over pass-1 outputs (Spark forbids nested window
    // expressions; consecutive Window operators share one shuffle+sort).
    val withFeatures = pass1
      .withColumn("rvol_5", W.rollingStd(col("logret_1"), 5, w))
      .withColumn("rvol_20", W.rollingStd(col("logret_1"), 20, w))
      .withColumn("macd_signal_9", W.ema(col("macd"), 9, w))
      .withColumn("rsi_14", TA.rsiSmaFromDelta(col("_delta"), 14, w))
      .withColumn("oi_obv", TA.obvFromDelta(col("_delta"), col("volume"), w))
      .withColumn("dt", TimeNorm.dt(col("timestamp")))

    val conformed = Schemas.conformTo(withFeatures, Schemas.FEATURE, keepExtra = false)
    if (dropnaFinal)
      conformed.filter(featureCols.map(col(_).isNotNull).reduce(_ || _))
    else conformed
  }

  /** [[build]] by CHUNKS: fold the history through
    * [[graft.operators.MarketIncremental.marketFeaturesFold]] in
    * `chunkUs`-sized time slices with an O(1)-per-series carry (EWM
    * states, last close, OBV sum, last ≤19 logrets / ≤13 deltas)
    * between folds — bit-identical output, but no fold ever sorts more
    * than one chunk of a series in one partition. This is the
    * long-history path: [[build]]'s window chain needs each series'
    * WHOLE history inside one partition; here per-series memory is
    * bounded by the chunk, so an arbitrarily long series streams
    * through (the [[OrderbookFeatures.bookSnapshotsChunked]] shape).
    * Same contract as [[build]] plus: timestamps strictly increasing
    * per series (a duplicate raises — the one-shot chain would already
    * be order-nondeterministic on one). */
  def buildChunked(ohlcv: DataFrame, chunkUs: Long,
                   dropnaFinal: Boolean = true, maxChunks: Int = 4096): DataFrame = {
    import graft.operators.{DriverLoop, MarketIncremental}
    val cfg = MarketIncremental.FeatCfg(seriesKeys, "timestamp", FeatureVersion)
    val spark = ohlcv.sparkSession
    val chunks = DriverLoop.chunks(ohlcv, "timestamp", chunkUs, maxChunks, "buildChunked")
    var carry = MarketIncremental.emptyFeatCarry(spark, cfg)
    // union ONCE at the end (the bookSnapshotsChunked rationale): each
    // `feat` is a filter+project over the fold's checkpointed window
    // frame, so per-chunk `out.localCheckpoint` re-materialized every
    // prior chunk's features each round — O(chunks²) rows + one eager
    // job per chunk removed, and the final action computes all chunk
    // branches in one parallel job. (r13)
    val parts = Seq.newBuilder[DataFrame]
    chunks.foreach { chunk =>
      val (feat, carry2) = MarketIncremental.marketFeaturesFold(carry, chunk, cfg, dropnaFinal)
      parts += feat
      carry = carry2
    }
    val out = (MarketIncremental.emptyFeatures(spark, cfg) +: parts.result())
      .reduce(_ unionByName _)
    Schemas.conformTo(out, Schemas.FEATURE, keepExtra = false)
  }
}
