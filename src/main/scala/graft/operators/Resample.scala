package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-bucket resampling — the reference's pandas `resample(...)`
  * (`adi/scripts/build_training_matrix.py:70-82`, A5) and the bar-building
  * "resample last + ffill" trick (`HistoricalDataTest.py:53-58`, W31),
  * expressed as tumbling-window aggregations.
  *
  * One shuffle on (keys, bucket); partial aggregation (map-side combine)
  * happens automatically for all algebraic aggregates used here, so at
  * 100 TB the shuffle carries one row per (series, bucket), not per event.
  */
object Resample {

  /** Tumbling bucket start for a timestamp, e.g. "1 hour", "1 day". */
  def bucket(ts: Column, interval: String): Column =
    window(ts, interval).getField("start")

  /** OHLCV bars from a tick/event stream: per (keys, bucket) —
    * open = value at min ts, close = value at max ts, high/low = max/min,
    * volume = sum. Deterministic even with duplicate timestamps via the
    * (ts, tiebreak) composite ordering key of min_by/max_by.
    * `exactVolume` routes the sum through DECIMAL(18,2) — exact and
    * order-independent, so results are reproducible across partitionings
    * and engines (the bench/oracle path uses it). */
  def bars(df: DataFrame, tsCol: String, valueCol: String, tiebreakCol: String,
           interval: String, keys: Seq[String], exactVolume: Boolean = false): DataFrame = {
    val ord = struct(col(tsCol), col(tiebreakCol))
    val vol =
      if (exactVolume) sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
      else sum(col(valueCol))
    df.withColumn("bar_ts", bucket(col(tsCol), interval))
      .groupBy((keys :+ "bar_ts").map(col): _*)
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        vol.as("volume"),
        count(lit(1)).as("n_ticks"))
  }

  /** Volume bars (event-driven bars, López de Prado AFML ch. 2): close a
    * bar every `threshold` units of traded volume instead of every fixed
    * interval — bar arrival adapts to activity, so quiet hours yield few
    * bars and bursts yield many (better-behaved returns for ML labels
    * than clock bars).
    *
    * Determinism: volume quantizes to `⌊v·100⌋` BIGINT cents; the
    * running EXCLUSIVE prefix sum runs over the total (ts, tiebreak)
    * ordering and `bar_id = cum_before ÷ threshold_cents` as exact BIGINT
    * FLOOR division (strip `pmod`, then `div` the exact multiple — never
    * double `/`, whose 2⁵³ mantissa would silently round huge cumsums,
    * and never bare `div`, which truncates toward zero and disagrees with
    * floor on negative cumsums, e.g. corrective/rebate ticks) — a row
    * starts the bar its preceding cumulative volume lands in,
    * reproducible on any engine (matches DuckDB's `//`).
    *
    * Scale shape: ONE keyed exchange — the prefix sum and the OHLCV agg
    * share the per-series partitioning; nothing global sorts. */
  def volumeBars(df: DataFrame, tsCol: String, valueCol: String,
                 volCol: String, tiebreakCol: String, keys: Seq[String],
                 threshold: Double): DataFrame =
    prefixBars(df, tsCol, valueCol, volCol, tiebreakCol, keys, threshold,
      floor(col(volCol).cast("double") * 100).cast("long"))

  /** Dollar bars (AFML ch. 2): close a bar every `threshold` units of
    * traded VALUE (price·size) instead of raw size — the bar family's
    * preferred member in practice, because dollar-bar arrival is robust
    * to price drift and splits (a volume bar at $10 and at $1000 carries
    * 100× different information). Same machinery, determinism contract
    * and scale shape as [[volumeBars]]: the per-tick accumulator is
    * `⌊price·vol·100⌋` cents (ONE IEEE multiply then floor — the
    * identical double tree on any engine), the exclusive prefix sum and
    * exact BIGINT floor division assign bars, one keyed exchange end to
    * end. The `volume` output is the raw size sum (the bar BOUNDARY is
    * what the dollar accumulator drives). */
  def dollarBars(df: DataFrame, tsCol: String, priceCol: String,
                 volCol: String, tiebreakCol: String, keys: Seq[String],
                 threshold: Double): DataFrame =
    prefixBars(df, tsCol, priceCol, volCol, tiebreakCol, keys, threshold,
      floor(col(priceCol).cast("double") * col(volCol).cast("double") * 100)
        .cast("long"))

  /** Shared exclusive-prefix-sum bar core of [[volumeBars]] /
    * [[dollarBars]]: quantized per-tick accumulator → running exclusive
    * BIGINT prefix over the total (ts, tiebreak) order → exact floor
    * division by the quantized threshold = bar id (see [[volumeBars]]
    * for the full determinism contract). */
  private def prefixBars(df: DataFrame, tsCol: String, valueCol: String,
                         volCol: String, tiebreakCol: String, keys: Seq[String],
                         threshold: Double, accFp: Column): DataFrame = {
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    val thrFp = math.round(threshold * 100)
    require(thrFp > 0L, s"threshold quantizes to 0 cents: $threshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val before = coalesce(sum(accFp).over(w), lit(0L))
    val ord = struct(col(tsCol), col(tiebreakCol))
    df.withColumn("_cumb", before)
      .withColumn("bar_id", expr(s"(_cumb - pmod(_cumb, ${thrFp}L)) div ${thrFp}L"))
      .drop("_cumb")
      .groupBy((keys :+ "bar_id").map(col): _*)
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        sum(col(volCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("volume"),
        count(lit(1)).as("n_ticks"),
        min(col(tsCol)).as("open_ts"),
        max(col(tsCol)).as("close_ts"))
  }

  /** Tick-imbalance bars (AFML ch. 2, fixed-threshold variant): classify
    * each tick by the TICK RULE — `b_t = sign(Δprice)`, carrying the
    * previous non-zero sign through flat ticks (`b_t = b_{t−1}` when
    * Δp = 0; leading undefined signs are 0) — and close a bar whenever
    * the running signed imbalance `|Σ b|` since the bar opened reaches
    * `threshold`. Sampling then concentrates where one-sided flow
    * (informed trading) concentrates, which clock/volume bars can't see.
    *
    * The reset-scan is NOT floor-division-expressible (the accumulator
    * is signed — see [[volumeBars]]); it runs as the O(1)-state native
    * window function `graft_threshold_bar_id`
    * ([[org.apache.spark.sql.graft.ThresholdBarId]]), one ordered pass
    * per series — the EWM machinery. All-integer state: exact and
    * engine-reproducible; the sign itself is one IEEE compare.
    *
    * Scale shape: ONE keyed exchange — sign lag, carry-forward fill,
    * bar scan and the OHLC agg all share the per-series partitioning.
    * Returns one row per bar: `(keys…, bar_id, open, high, low, close,
    * n_ticks, net_ticks, open_ts, close_ts)`; `net_ticks` is the bar's
    * signed tick sum (±threshold for every closed bar, by construction
    * — the tail bar reports its partial imbalance). */
  def imbalanceBars(df: DataFrame, tsCol: String, priceCol: String,
                    tiebreakCol: String, keys: Seq[String],
                    threshold: Long): DataFrame = {
    require(threshold > 0L, s"threshold must be positive, got $threshold")
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val wFill = wRun.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val p = col(priceCol).cast("double")
    val delta = p - lag(p, 1).over(wRun)
    val sgn0 = when(delta > 0.0, lit(1L)).when(delta < 0.0, lit(-1L))
    val b = coalesce(last(sgn0, ignoreNulls = true).over(wFill), lit(0L))
    val ord = struct(col(tsCol), col(tiebreakCol))
    df.withColumn("_b", b)
      .withColumn("bar_id", call_function(
        org.apache.spark.sql.graft.GraftFunctions.ThresholdBarIdName,
        col("_b"), lit(threshold)).over(wRun))
      .groupBy((keys :+ "bar_id").map(col): _*)
      .agg(
        min_by(col(priceCol), ord).as("open"),
        max(col(priceCol)).as("high"),
        min(col(priceCol)).as("low"),
        max_by(col(priceCol), ord).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col("_b")).as("net_ticks"),
        min(col(tsCol)).as("open_ts"),
        max(col(tsCol)).as("close_ts"))
  }

  /** Tick-run bars (AFML ch. 2 §2.3.2.3, fixed-threshold variant): the
    * tick rule classifies each tick buy/sell exactly as
    * [[imbalanceBars]], but the bar clock counts EACH SIDE separately
    * and closes when `max(#buys, #sells)` since the bar opened reaches
    * `threshold` — a long one-sided RUN closes a bar even when opposing
    * ticks keep the net imbalance small, so run bars sample persistence
    * of flow where imbalance bars sample its net direction.
    *
    * Same machinery as [[imbalanceBars]]: the reset-scan has unbounded
    * prefix memory, so it runs as the O(1)-state native window function
    * `graft_run_bar_id` ([[org.apache.spark.sql.graft.RunBarId]]) — one
    * ordered pass per series, exact integer state, engine-reproducible.
    *
    * Scale shape: ONE keyed exchange shared by the sign lag, carry fill,
    * bar scan and OHLC agg. Returns one row per bar: `(keys…, bar_id,
    * open, high, low, close, n_ticks, n_up, n_dn, open_ts, close_ts)` —
    * `max(n_up, n_dn) = threshold` for every closed bar by construction;
    * the tail bar reports its partial counts. */
  def runBars(df: DataFrame, tsCol: String, priceCol: String,
              tiebreakCol: String, keys: Seq[String],
              threshold: Long): DataFrame = {
    require(threshold > 0L, s"threshold must be positive, got $threshold")
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val wFill = wRun.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val p = col(priceCol).cast("double")
    val delta = p - lag(p, 1).over(wRun)
    val sgn0 = when(delta > 0.0, lit(1L)).when(delta < 0.0, lit(-1L))
    val b = coalesce(last(sgn0, ignoreNulls = true).over(wFill), lit(0L))
    val ord = struct(col(tsCol), col(tiebreakCol))
    df.withColumn("_b", b)
      .withColumn("bar_id", call_function(
        org.apache.spark.sql.graft.GraftFunctions.RunBarIdName,
        col("_b"), lit(threshold)).over(wRun))
      .groupBy((keys :+ "bar_id").map(col): _*)
      .agg(
        min_by(col(priceCol), ord).as("open"),
        max(col(priceCol)).as("high"),
        min(col(priceCol)).as("low"),
        max_by(col(priceCol), ord).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(when(col("_b") > 0L, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("_b") < 0L, 1L).otherwise(0L)).as("n_dn"),
        min(col(tsCol)).as("open_ts"),
        max(col(tsCol)).as("close_ts"))
  }

  /** VPIN — Volume-synchronized Probability of INformed trading
    * (Easley, López de Prado, O'Hara 2012), the flow-toxicity monitor
    * that flagged the 2010 flash crash: cut the tape into equal-VOLUME
    * buckets (the [[volumeBars]] clock), classify each tick's volume
    * buy/sell by the tick rule, and report the trailing-`window` mean
    * of `|V_buy − V_sell| / bucketVolume` — toxic one-sided flow pushes
    * it toward 1, balanced flow toward 0.
    *
    * Tick rule as [[imbalanceBars]]: `b = sign(Δprice)`, previous
    * non-zero sign carried through flats; a series' LEADING unsigned
    * ticks (no move seen yet) split 50/50, contributing volume but
    * nothing to the signed imbalance. The signed bucket imbalance is
    * then EXACTLY `|Σ b·⌊vol·100⌋|` — an integer, so bucket membership
    * (exclusive-prefix floor division, the [[volumeBars]] contract) and
    * the imbalance are both engine-reproducible; the only doubles are
    * the final ratios (one division tree, rounded to 6dp).
    *
    * The trailing mean uses the SPEC'S denominator `window ·
    * bucketVolume` (the volume clock), not realized bucket volume — the
    * partial tail bucket therefore reads slightly low, and buckets
    * before `window − 1` report null (warm-up, the rolling-stats
    * convention).
    *
    * Scale shape: ONE keyed exchange — tick-sign lag, carry fill,
    * prefix sum and the bucket agg all ride the per-series
    * partitioning; the trailing window then runs on the BUCKET frame
    * (corpus / bucketVolume rows). Returns one row per bucket:
    * `(keys…, bar_id, volume, abs_imbalance, vpin, n_ticks,
    * close_ts)`. */
  def vpin(df: DataFrame, tsCol: String, priceCol: String, volCol: String,
           tiebreakCol: String, keys: Seq[String], bucketVolume: Double,
           window: Int): DataFrame = {
    require(keys.nonEmpty, "vpin needs the series key(s)")
    require(bucketVolume > 0.0, s"bucketVolume must be positive, got $bucketVolume")
    require(window > 0, s"window must be positive, got $window")
    val thrFp = math.round(bucketVolume * 100)
    require(thrFp > 0L, s"bucketVolume quantizes to 0 cents: $bucketVolume")
    val W = org.apache.spark.sql.expressions.Window
    val wRun = W.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val wFill = wRun.rowsBetween(W.unboundedPreceding, 0)
    val wPrev = wRun.rowsBetween(W.unboundedPreceding, -1)
    val p = col(priceCol).cast("double")
    val delta = p - lag(p, 1).over(wRun)
    val sgn0 = when(delta > 0.0, lit(1L)).when(delta < 0.0, lit(-1L))
    val b = coalesce(last(sgn0, ignoreNulls = true).over(wFill), lit(0L))
    val cents = floor(col(volCol).cast("double") * 100).cast("long")
    val buckets = df
      .withColumn("_b", b)
      .withColumn("_c", cents)
      .withColumn("_cumb", coalesce(sum(col("_c")).over(wPrev), lit(0L)))
      .withColumn("bar_id", expr(s"(_cumb - pmod(_cumb, ${thrFp}L)) div ${thrFp}L"))
      .groupBy((keys :+ "bar_id").map(col): _*)
      .agg(sum(col("_c")).as("_vc"),
        sum(col("_b") * col("_c")).as("_net"),
        count(lit(1)).as("n_ticks"),
        max(col(tsCol)).as("close_ts"))
    val wBar = W.partitionBy(keys.map(col): _*).orderBy(col("bar_id"))
      .rowsBetween(-(window - 1), 0)
    buckets.select(
      keys.map(col) ++ Seq(col("bar_id"),
        round(col("_vc").cast("double") / 100.0, 2).as("volume"),
        round(abs(col("_net")).cast("double") / 100.0, 2).as("abs_imbalance"),
        when(count(lit(1)).over(wBar) === window,
          round(sum(abs(col("_net"))).over(wBar).cast("double")
            / lit(window.toDouble * thrFp), 6)).as("vpin"),
        col("n_ticks"), col("close_ts")): _*)
  }
}
