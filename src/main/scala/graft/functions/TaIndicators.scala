package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import graft.functions.windows._

/** Technical-indicator library — re-expresses
  * `adi/app/features/processors/ta_indicators.py` (and the factory helpers
  * of `adi/app/features/factory/market_factory.py:47-67`) as declarative
  * Spark expressions over an explicit series window
  * `Window.partitionBy(seriesKeys).orderBy(ts)`.
  *
  * Layering contract: Spark forbids nesting one window function inside
  * another, so every indicator is split into composable pieces:
  *  - plain-`Column` functions whose window expressions are *siblings*
  *    (legal in one select): macdLine, bollinger, vwap, cci, stochasticK,
  *    roc, trueRange, drawdown, zscore, …
  *  - `*From*` functions that consume an already-materialized intermediate
  *    column (the output of a previous select): atrFromTr, rsiSmaFromDelta…
  *  - `with*` DataFrame transformers that run the required passes.
  * Catalyst places consecutive Window operators over the same
  * (partition, order) spec after a single shuffle+sort, so staging adds no
  * extra exchange at scale.
  *
  * Warm-up semantics follow pandas `rolling(n)` (null until n non-null
  * observations). Division-by-zero is explicit with `nullif` (pandas emits
  * ±inf where the reference's tests never look; deviations documented).
  */
object TaIndicators {

  // ---------- sibling-safe Column functions ----------

  /** MACD line = EMA(fast) − EMA(slow) (`ta_indicators.py:79-89`). */
  def macdLine(close: Column, w: WindowSpec, fast: Int = 12, slow: Int = 26): Column =
    ema(close, fast, w) - ema(close, slow, w)

  /** Bollinger bands (`ta_indicators.py:91-100`). */
  def bollingerUpper(close: Column, n: Int, k: Double, w: WindowSpec): Column =
    rollingMean(close, n, w) + lit(k) * rollingStd(close, n, w)
  def bollingerLower(close: Column, n: Int, k: Double, w: WindowSpec): Column =
    rollingMean(close, n, w) - lit(k) * rollingStd(close, n, w)

  /** Rolling VWAP (`ta_indicators.py:102-117`). */
  def vwap(price: Column, volume: Column, n: Int, w: WindowSpec): Column =
    rollingSum(price * volume, n, w) / nullif(rollingSum(volume, n, w), lit(0))

  /** True range: max(h−l, |h−prev_c|, |l−prev_c|); `greatest` skips nulls
    * exactly like pandas' row-max on the first row
    * (`ta_indicators.py:133-142`). Contains a lag — materialize before
    * feeding any rolling op. */
  def trueRange(high: Column, low: Column, close: Column, w: WindowSpec): Column = {
    val prevClose = lag(close, 1).over(w)
    greatest(high - low, abs(high - prevClose), abs(low - prevClose))
  }

  /** ATR = SMA(TR, n) over a materialized TR column (`ta_indicators.py:133-145`). */
  def atrFromTr(tr: Column, n: Int, w: WindowSpec): Column = rollingMean(tr, n, w)

  /** OBV from a materialized Δclose column: cumsum(sign(Δ, 0-filled) ·
    * volume 0-filled) (`ta_indicators.py:147-154`, `market_factory.py:64-67`). */
  def obvFromDelta(deltaClose: Column, volume: Column, w: WindowSpec): Column =
    cumSum(signum(coalesce(deltaClose, lit(0.0))) * coalesce(volume, lit(0.0)), w)

  /** Typical price. */
  def typicalPrice(high: Column, low: Column, close: Column): Column =
    (high + low + close) / 3.0

  /** CCI (`ta_indicators.py:5-26,156-164`): (TP − MA) / (c · MD), 0 when
    * MD = 0, null during warm-up. MD — the mean absolute deviation of TP
    * around the *current* row's MA — is the nested-window shape (W19),
    * solved with collect_list + aggregate HOF (window exprs stay siblings). */
  def cci(high: Column, low: Column, close: Column, n: Int, c: Double, w: WindowSpec): Column = {
    val tp = typicalPrice(high, low, close)
    val ma = rollingMean(tp, n, w)
    val md = rollingMeanAbsDev(tp, ma, n, w)
    when(md.isNull, lit(null)).otherwise(
      when(md === 0, lit(0.0)).otherwise((tp - ma) / (lit(c) * md)))
  }

  /** Stochastic %K (`ta_indicators.py:166-174`); flat windows → null
    * (pandas ±inf/NaN). */
  def stochasticK(high: Column, low: Column, close: Column, kWindow: Int, w: WindowSpec): Column = {
    val lowMin = rollingMin(low, kWindow, w)
    val highMax = rollingMax(high, kWindow, w)
    lit(100.0) * (close - lowMin) / nullif(highMax - lowMin, lit(0))
  }

  /** %D = SMA(%K, d) over a materialized %K column. */
  def stochasticDFromK(k: Column, dWindow: Int, w: WindowSpec): Column =
    rollingMean(k, dWindow, w)

  /** ROC (`ta_indicators.py:208-212`). nullif-guarded denominator so a
    * zero base yields null regardless of the session ANSI flag. */
  def roc(close: Column, n: Int, w: WindowSpec): Column =
    lit(100.0) * (close - lag(close, n).over(w)) / nullif(lag(close, n).over(w), lit(0))

  /** (high − low) / close, zero-close → null (`market_factory.py:119`). */
  def hlSpread(high: Column, low: Column, close: Column): Column =
    (high - low) / nullif(close, lit(0))

  // ---------- *From* functions over materialized intermediates ----------

  /** Up/down moves from a materialized Δ column; null Δ (first row) stays
    * null — pandas clip preserves NaN. */
  def upMove(delta: Column): Column =
    when(delta > 0, delta).otherwise(when(delta.isNotNull, lit(0.0)))
  def downMove(delta: Column): Column =
    when(delta < 0, -delta).otherwise(when(delta.isNotNull, lit(0.0)))

  /** RSI, SMA flavor (`market_factory.py:54-62`): rolling(n).mean of
    * up/down with `roll_down.replace(0, nan)` — all-gain windows are null
    * by construction (kept verbatim; SURVEY §7 risk 4).
    *
    * Null-delta handling is the factory's `np.where(delta > 0, delta,
    * 0.0)`: a NaN condition is FALSE, so the series' first (null) delta
    * 0-FILLS — the warm-up is n ROWS, one shorter than the EWM flavor's
    * clip-preserving nulls ([[rsiEwmFromDelta]], `ta_indicators.py:70-72`,
    * where `clip` keeps NaN). Rounds 1–10 mis-transcribed this flavor as
    * null-preserving; the reference's shipped
    * `datasets/market_btcusdt_1m.parquet` (rsi_14 non-null at the 14th
    * row) is the proof, golden-compared in GoldenParitySpec. */
  def rsiSmaFromDelta(delta: Column, n: Int, w: WindowSpec): Column = {
    val up = when(delta > 0, delta).otherwise(lit(0.0))
    val down = when(delta < 0, -delta).otherwise(lit(0.0))
    val rollUp = rollingMean(up, n, w)
    val rollDown = rollingMean(down, n, w)
    lit(100.0) - lit(100.0) / (lit(1.0) + rollUp / nullif(rollDown, lit(0)))
  }

  /** RSI, EWM flavor (`ta_indicators.py:59-77`): Wilder smoothing
    * `ewm(alpha=1/n, adjust=False)` of up/down moves.
    * loss = 0 ∧ gain > 0 → 100 (pandas rs = inf); both 0 → null. */
  def rsiEwmFromDelta(delta: Column, n: Int, w: WindowSpec): Column = {
    val avgGain = ewmMean(upMove(delta), 1.0 / n, w)
    val avgLoss = ewmMean(downMove(delta), 1.0 / n, w)
    when(avgLoss === 0 && avgGain > 0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / nullif(avgLoss, lit(0))))
  }

  // ---------- multi-pass DataFrame transformers ----------

  /** ADX (`ta_indicators.py:176-193`) — three passes:
    * (1) ±DM conditionals + TR, (2) ±DI and DX, (3) SMA(DX). Zero-ATR /
    * zero-DI-sum rows → null (pandas inf). */
  def withAdx(df: DataFrame, high: String, low: String, close: String,
              n: Int, w: WindowSpec, out: String = "adx"): DataFrame = {
    val up = diff(col(high), 1, w)
    val down = -diff(col(low), 1, w)
    val staged = df
      .withColumn("_plus_dm", when((up > down) && (up > 0), up).otherwise(lit(0.0)))
      .withColumn("_minus_dm", when((down > up) && (down > 0), down).otherwise(lit(0.0)))
      .withColumn("_tr", trueRange(col(high), col(low), col(close), w))
    val atr_ = atrFromTr(col("_tr"), n, w)
    val plusDi = lit(100.0) * rollingMean(col("_plus_dm"), n, w) / nullif(atr_, lit(0))
    val minusDi = lit(100.0) * rollingMean(col("_minus_dm"), n, w) / nullif(atr_, lit(0))
    staged
      .withColumn("_dx", lit(100.0) * abs(plusDi - minusDi) / nullif(plusDi + minusDi, lit(0)))
      .withColumn(out, rollingMean(col("_dx"), n, w))
      .drop("_plus_dm", "_minus_dm", "_tr", "_dx")
  }

  /** MFI (`ta_indicators.py:195-206`) — two passes (flows need lag(TP));
    * zero total flow → null. */
  def withMfi(df: DataFrame, high: String, low: String, close: String, volume: String,
              n: Int, w: WindowSpec, out: String = "mfi"): DataFrame = {
    val tp = typicalPrice(col(high), col(low), col(close))
    val staged = df
      .withColumn("_tp", tp)
      .withColumn("_prev_tp", lag(tp, 1).over(w))
    val moneyFlow = col("_tp") * col(volume)
    val posFlow = when(col("_tp") > col("_prev_tp"), moneyFlow).otherwise(lit(0.0))
    val negFlow = when(col("_tp") < col("_prev_tp"), moneyFlow).otherwise(lit(0.0))
    val posMf = rollingSum(posFlow, n, w)
    val negMf = rollingSum(negFlow, n, w)
    staged
      .withColumn(out, lit(100.0) * posMf / nullif(posMf + negMf, lit(0)))
      .drop("_tp", "_prev_tp")
  }

  /** Stochastic %K and %D (two passes). */
  def withStochastic(df: DataFrame, high: String, low: String, close: String,
                     kWindow: Int, dWindow: Int, w: WindowSpec): DataFrame =
    df.withColumn("percent_k", stochasticK(col(high), col(low), col(close), kWindow, w))
      .withColumn("percent_d", stochasticDFromK(col("percent_k"), dWindow, w))

  // ---------- onchain feature set (`onchain_features.py`) ----------

  /** Drawdown vs running max (`onchain_features.py:36-43`). */
  def drawdown(x: Column, w: WindowSpec): Column = {
    val rm = cumMax(x, w)
    (x - rm) / nullif(rm, lit(0))
  }

  /** |x| > threshold as 0/1 (`onchain_features.py:46-51`). */
  def whaleFlow(x: Column, threshold: Double): Column =
    (abs(x) > threshold).cast("int")

  /** Whole-series z-score (`onchain_features.py:73-78`): entire-partition
    * window — distributed, no driver collect. */
  def zscore(x: Column, w: WindowSpec): Column = {
    val e = entire(w)
    (x - avg(x).over(e)) / nullif(stddev_samp(x).over(e), lit(0))
  }

  /** Range-based realized-volatility estimators over an OHLC bar frame
    * (one row per (keys, bar) — [[graft.operators.Resample.bars]]'
    * shape): per-key Parkinson, Garman–Klass, and Rogers–Satchell
    * per-bar σ — the intrabar-range upgrades over close-to-close vol
    * (5–8× more efficient per bar; RS additionally drift-immune).
    * Formulas per bar: `p = ln²(h/l)`,
    * `gk = ½ln²(h/l) − (2ln2 − 1)·ln²(c/o)`,
    * `rs = ln(h/c)ln(h/o) + ln(l/c)ln(l/o)`; σ = √(mean), Parkinson's
    * mean divided by 4ln2. GK/RS means clamp at 0 before the root (both
    * can go negative on pathological bars — the standard practice).
    *
    * Determinism: each per-bar term quantizes to `round(term·10¹²)`
    * BIGINTs (pico-units — |term| ≲ 10² keeps sums exact to ~10⁵ bars
    * per key at full precision) and sums EXACTLY, order-free; σ derives
    * in one fixed double tree with the `4ln2`/`2ln2−1` constants
    * computed ONCE here (an oracle must interpolate these exact doubles
    * — libm ln(2) is not guaranteed to match across engines). Bars with
    * a missing or non-positive OHLC leg drop (log undefined).
    *
    * Scale shape: one grouped agg over the already-skinny bar frame —
    * map-side combined, one row per key out. */
  def rangeVolatility(bars: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "rangeVolatility needs the series key(s)")
    val h = col("high"); val l = col("low")
    val o = col("open"); val c = col("close")
    def fp(x: Column): Column = round(x * 1e12).cast("long")
    val lnHL = log(h / l); val lnCO = log(c / o)
    val park = fp(lnHL * lnHL)
    val gk = fp(lnHL * lnHL * 0.5 - lit(GkDriftConst) * (lnCO * lnCO))
    val rs = fp(log(h / c) * log(h / o) + log(l / c) * log(l / o))
    val valid = h.isNotNull && l.isNotNull && o.isNotNull && c.isNotNull &&
      h > 0.0 && l > 0.0 && o > 0.0 && c > 0.0
    bars.where(valid)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bars"),
        sum(park).as("_sp"), sum(gk).as("_sg"), sum(rs).as("_sr"))
      .select(keys.map(col) :+ col("n_bars") :+
        round(sqrt(col("_sp").cast("double") / 1e12
          / col("n_bars").cast("double") / lit(ParkinsonConst)), 6)
          .as("vol_parkinson") :+
        round(sqrt(greatest(col("_sg").cast("double"), lit(0.0)) / 1e12
          / col("n_bars").cast("double")), 6).as("vol_gk") :+
        round(sqrt(greatest(col("_sr").cast("double"), lit(0.0)) / 1e12
          / col("n_bars").cast("double")), 6).as("vol_rs"): _*)
      .orderBy(keys.map(col): _*)
  }
  /** `3 − 2√2` — the Corwin–Schultz denominator, computed ONCE here so
    * an oracle interpolates the identical double. */
  val CsDenom: Double = 3.0 - 2.0 * math.sqrt(2.0)

  /** Corwin–Schultz high-low spread estimator (2012, J. Finance 67(2))
    * per consecutive bar pair — the bid-ask spread from ranges alone
    * (no quote data needed): daily ranges carry both variance AND
    * spread, but the two-period range carries the variance TWICE and
    * the spread once, so the pair
    * `β = ln²(H_t/L_t) + ln²(H_{t+1}/L_{t+1})`,
    * `γ = ln²(max(H)/min(L))` separates them:
    * `α = (√(2β) − √β)/(3−2√2) − √(γ/(3−2√2))`,
    * `S = 2(e^α − 1)/(1 + e^α)`, negative estimates floored at 0 (the
    * paper's convention — they arise from variance noise). The
    * range-based microstructure sibling of [[rangeVolatility]] and the
    * trade-based Roll estimator.
    *
    * Determinism: one fixed double tree per row over (H, L,
    * lead(H), lead(L)) — ln/sqrt/exp on identical operands (the
    * engine-libm class every data-dependent `ln` oracle already
    * relies on), [[CsDenom]] interpolated, 6 dp displays. Bars with a
    * missing/non-positive/inverted range in EITHER period yield null
    * (log undefined), as does each series' last bar (no next period).
    *
    * Scale shape: one keyed window (the lead) riding the series sort —
    * no joins, no aggregation; output one row per bar. Adds
    * `cs_beta`, `cs_gamma`, `cs_alpha`, `cs_spread`. */
  def withCorwinSchultz(df: DataFrame, highCol: String, lowCol: String,
                        w: WindowSpec): DataFrame = {
    val h = col(highCol).cast("double")
    val l = col(lowCol).cast("double")
    val ok = h.isNotNull && l.isNotNull && l > 0.0 && h >= l
    val h2 = lead(when(ok, h), 1).over(w)
    val l2 = lead(when(ok, l), 1).over(w)
    val lnr1 = when(ok, log(h / l))
    val lnr2 = log(h2 / l2)
    val beta = lnr1 * lnr1 + lnr2 * lnr2
    val gamma = {
      val g = log(greatest(h, h2) / least(l, l2))
      // explicit pair guard: Spark's greatest/least SKIP nulls, so a
      // last-row one-period range would silently produce a γ the
      // estimator must not have
      when(ok && h2.isNotNull, g * g)
    }
    val alpha = (sqrt(lit(2.0) * beta) - sqrt(beta)) / lit(CsDenom) -
      sqrt(gamma / lit(CsDenom))
    val spread = lit(2.0) * (exp(alpha) - lit(1.0)) / (lit(1.0) + exp(alpha))
    df.withColumn("cs_beta", round(beta, 6))
      .withColumn("cs_gamma", round(gamma, 6))
      .withColumn("cs_alpha", round(alpha, 6))
      // greatest() SKIPS nulls — an estimate-less pair must stay null,
      // not read as "zero spread"
      .withColumn("cs_spread",
        when(alpha.isNotNull, round(greatest(spread, lit(0.0)), 6)))
  }

  /** Abdi–Ranaldo close-high-low spread estimator (2017, RFS 30(12)) —
    * the one-parameter complement to [[withCorwinSchultz]]: with
    * `c = ln close` and `η = (ln high + ln low)/2` the mid-range, the
    * squared effective spread satisfies
    * `s² = 4·E[(c_t − η_t)(c_t − η_{t+1})]` — efficient-price noise
    * cancels between the two mid-ranges bracketing the close, leaving
    * only the bid-ask bounce. Emits the per-pair moment `ar_s2`, the
    * per-pair spread `√max(s², 0)`, and the trailing-`window` estimate
    * (the paper's monthly averaging) from exact pico-quantized moment
    * sums, floored at 0 before the root per the paper.
    *
    * Determinism: per-pair s² derives in one fixed double tree (ln/
    * sqrt shared by both engines — the [[withCorwinSchultz]] precedent);
    * the rolling mean quantizes each s² to `round(s²·10¹²)` BIGINTs and
    * sums exactly; 6 dp at every edge. Invalid bars (null/non-positive
    * ranges, high < low) and pairs whose NEXT bar is invalid/missing
    * stay null EXPLICITLY — an estimate-less pair must not read as zero
    * spread; null pairs do not enter the rolling window (count gates on
    * the quantized moment).
    *
    * Scale shape: one keyed window (lead + trailing sums share the
    * sort); no joins. */
  def withAbdiRanaldo(df: DataFrame, highCol: String, lowCol: String,
                      closeCol: String, w: WindowSpec,
                      window: Int = 24): DataFrame = {
    require(window >= 1, s"need a positive averaging window, got $window")
    val h = col(highCol).cast("double")
    val l = col(lowCol).cast("double")
    val c = col(closeCol).cast("double")
    val ok = h.isNotNull && l.isNotNull && c.isNotNull && l > 0.0 &&
      h >= l && c > 0.0
    val eta = when(ok, (log(h) + log(l)) / lit(2.0))
    val etaNext = lead(eta, 1).over(w)
    val s2 = lit(4.0) * (log(c) - eta) * (log(c) - etaNext)
    val s2q = round(s2 * lit(1e12)).cast("long")
    val wTrail = w.rowsBetween(-(window - 1), 0)
    val nOk = count(s2q).over(wTrail)
    val mean = sum(s2q).over(wTrail).cast("double") / lit(1e12) /
      nOk.cast("double")
    df.withColumn("ar_s2", round(s2, 6) + lit(0.0))
      .withColumn("ar_spread",
        when(s2.isNotNull,
          round(sqrt(greatest(s2, lit(0.0))), 6) + lit(0.0)))
      .withColumn("ar_spread_roll",
        when(nOk === window,
          round(sqrt(greatest(mean, lit(0.0))), 6) + lit(0.0)))
  }

  /** Per-series maximum-drawdown summary — the risk table behind the
    * per-row [[drawdown]] column (W11): deepest peak-to-trough loss,
    * when it bottomed, and how many observations the series has.
    * `max_drawdown = min((v − runmax)/runmax)` over the (keys, ts)
    * series; `trough_ts` is the EARLIEST bucket attaining it. The trough
    * is elected IN the same aggregate as the minimum:
    * `min_by(ts_us, struct(_dd, ts_us))` — lexicographic struct MIN =
    * (deepest dd, then earliest exact integer µs among ties), identical
    * semantics to a min-over-equality election but without re-reading
    * the windowed frame (rounds 2–6 ran the running-max window TWICE via
    * a self-join; one corpus pass suffices). Null-dd rows (running max
    * never positive) are excluded from the election by a null ordering
    * struct, which min_by ignores — all-null series report null, the
    * [[drawdown]] guard.
    *
    * Scale shape: one keyed window pass for the running max + ONE keyed
    * agg — nothing global, no self-join. */
  def drawdownStats(df: DataFrame, keys: Seq[String], tsCol: String,
                    valueCol: String): DataFrame = {
    require(keys.nonEmpty, "drawdownStats needs the series key(s)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val v = col(valueCol).cast("double")
    val runMax = max(v).over(w)
    val tsUs = unix_micros(col(tsCol).cast("timestamp"))
    df.where(v.isNotNull)
      .withColumn("_dd", when(runMax > 0.0, (v - runMax) / runMax))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        round(min(col("_dd")), 6).as("max_drawdown"),
        min_by(tsUs, when(col("_dd").isNotNull, struct(col("_dd"), tsUs)))
          .as("trough_ts_us"))
      .orderBy(keys.map(col): _*)
  }

  /** `4·ln2` / `2·ln2 − 1` — public so the oracle SQL interpolates the
    * EXACT doubles this JVM computed (the q_triple_barrier lesson:
    * engine-side constant folding diverges at 1 ulp). */
  val ParkinsonConst: Double = 4.0 * math.log(2.0)
  val GkDriftConst: Double = 2.0 * math.log(2.0) - 1.0

  /** μ₁⁻² = π/2 — the bipower-variation scaling constant
    * ([[realizedJumpVol]]); interpolated into the oracle like the
    * constants above. */
  val BipowerConst: Double = math.Pi / 2.0

  /** Intraday/weekly seasonality profile per series: mean and standard
    * deviation of the value by hour-of-day (`unit = "hour"`) or
    * day-of-week (`unit = "dow"`, 1 = Sunday per Spark/DuckDB dayofweek)
    * — the U-shaped-volume / weekend-effect diagnostic every market
    * monitor starts with.
    *
    * Determinism: the mean derives from an exact DECIMAL(18,2) sum
    * (2-dp inputs, order-free) and n; the std from the exact integer
    * moment pair of the `⌊v·scale⌋` series (population σ, one double
    * tree, 6 dp, null when a slot has a single observation or zero
    * variance is fine — σ 0 reports 0).
    *
    * Scale shape: one grouped agg onto keys×24 (or ×7) slots, map-side
    * combined. Returns `(keys…, slot, n_obs, mean_v, std_v)`. */
  def seasonalityProfile(df: DataFrame, keys: Seq[String], tsCol: String,
                         valueCol: String, unit: String = "hour",
                         scale: Double = 1e6): DataFrame = {
    require(keys.nonEmpty, "seasonalityProfile needs the series key(s)")
    require(unit == "hour" || unit == "dow", s"unit must be hour|dow, got $unit")
    require(scale > 0.0, s"scale must be positive, got $scale")
    val slot = (if (unit == "hour") hour(col(tsCol)) else dayofweek(col(tsCol)))
      .cast("long").as("slot")
    val vq = floor(col(valueCol).cast("double") * scale).cast("long")
    val agg = df.where(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+ slot): _*)
      .agg(count(lit(1)).as("n_obs"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("_sm"),
        sum(vq).as("_s1"), sum(vq * vq).as("_s2"))
    val nD = col("n_obs").cast("double")
    // population variance of the quantized series: (n·Σv² − (Σv)²)/n²
    val varQ = (nD * col("_s2").cast("double") -
      col("_s1").cast("double") * col("_s1").cast("double")) / (nD * nD)
    agg.select(keys.map(col) ++ Seq(col("slot"), col("n_obs"),
        round(col("_sm") / nD, 6).as("mean_v"),
        round(sqrt(greatest(varQ, lit(0.0))) / lit(scale), 6).as("std_v")): _*)
      .orderBy((keys.map(col) :+ col("slot")): _*)
  }

  /** Roll's implied effective spread (Roll 1984) per (series, bucket):
    * under the bid-ask-bounce model consecutive TRADE price changes are
    * negatively autocorrelated with `cov(Δpₜ, Δpₜ₋₁) = −s²/4`, so
    * `s = 2·√(−cov)` estimates the effective spread from trade prices
    * alone — the microstructure quantity the book-based
    * [[graft.features.OrderbookFeatures.spreadSeries]] needs quotes
    * for. Buckets with non-negative autocovariance report null (the
    * estimator is undefined there — Roll's own convention; trending
    * buckets do this routinely).
    *
    * Determinism: prices quantize to integer cents, so every Δp and the
    * (Δpₜ, Δpₜ₋₁) moment sums are EXACT integers; the covariance and
    * `2√(−cov)/100` derive in one double tree, 6 dp. Both Δp legs must
    * lie inside the bucket (pairs never straddle — the estimation
    * window is the bucket by construction).
    *
    * Scale shape: one keyed window (two lags) + one (keys, bucket) agg
    * riding the same series partitioning. */
  def rollSpread(df: DataFrame, keys: Seq[String], tsCol: String,
                 valueCol: String, tiebreakCol: String,
                 interval: String): DataFrame = {
    require(keys.nonEmpty, "rollSpread needs the series key(s)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val pc = floor(col(valueCol).cast("double") * 100).cast("long")
    val base = df.withColumn("_pc", pc)
      .withColumn("_dp", col("_pc") - lag(col("_pc"), 1).over(w))
      .withColumn("_dpPrev", lag(col("_dp"), 1).over(w))
      .withColumn("_b", date_trunc(interval, col(tsCol)))
      // both changes inside the bucket: the earlier change's EARLIER
      // endpoint (two ticks back) must share the bucket too
      .withColumn("_bPrev2", lag(date_trunc(interval, col(tsCol)), 2).over(w))
      .where(col("_dp").isNotNull && col("_dpPrev").isNotNull &&
        col("_bPrev2") === col("_b"))
    val sums = base.groupBy((keys.map(col) :+ col("_b").as("bucket")): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_dp")).as("_sx"), sum(col("_dpPrev")).as("_sy"),
        sum(col("_dp") * col("_dpPrev")).as("_sxy"))
    val nD = col("n_pairs").cast("double")
    // population covariance in cents²: (n·Σxy − ΣxΣy)/n²
    val cov = (nD * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")) / (nD * nD)
    sums.select(keys.map(col) ++ Seq(col("bucket"), col("n_pairs"),
      when(cov < 0.0,
        round(lit(2.0) * sqrt(-cov) / lit(100.0), 6)).as("roll_spread")): _*)
  }

  /** Amihud illiquidity (Amihud 2002) — `|daily return| / dollar
    * volume`, averaged per series: how many price units one unit of
    * traded value moves; THE standard cross-sectional liquidity proxy
    * (scaled by 10⁶ as conventional). Daily legs come from the bar
    * frame: `ret = close/open − 1` (plain arithmetic, no libm),
    * `dollar_volume = Σ ⌊price·vol·100⌋` exact integer cents (the
    * dollarBars accumulator — a DECIMAL cast of a 4-dp product would
    * expose cross-engine rounding-mode differences). Zero-volume days
    * drop (ratio undefined).
    *
    * Determinism: each daily ratio quantizes to `⌊r·10¹²⌋` and the
    * per-series mean derives from the exact integer sum — order-free,
    * unlike a naive double avg.
    *
    * Scale shape: one (keys, day) agg + one keys agg, both map-side
    * combined. Returns `(keys…, n_days, illiq)` with
    * `illiq = 10⁶ · mean(|ret|/dv)`, 6 dp. */
  def amihudIlliquidity(df: DataFrame, keys: Seq[String], tsCol: String,
                        valueCol: String, volCol: String,
                        tiebreakCol: String): DataFrame = {
    require(keys.nonEmpty, "amihudIlliquidity needs the series key(s)")
    val ord = struct(col(tsCol), col(tiebreakCol))
    val daily = df
      .groupBy((keys.map(col) :+ date_trunc("day", col(tsCol)).as("_d")): _*)
      .agg(min_by(col(valueCol), ord).as("_open"),
        max_by(col(valueCol), ord).as("_close"),
        sum(floor(col(valueCol).cast("double") * col(volCol).cast("double")
          * 100).cast("long")).as("_dvc"))
      .where(col("_dvc") > 0L && col("_open") =!= 0.0)
      .withColumn("_ratio",
        abs(col("_close").cast("double") / col("_open").cast("double") - lit(1.0))
          / (col("_dvc").cast("double") / lit(100.0)))
      .withColumn("_rq", round(col("_ratio") * 1e12).cast("long"))
    daily.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_days"), sum(col("_rq")).as("_s"))
      .select(keys.map(col) ++ Seq(col("n_days"),
        round(lit(1e6) * (col("_s").cast("double") / 1e12
          / col("n_days").cast("double")), 6).as("illiq")): _*)
  }

  /** Realized skewness + kurtosis per (series, bucket) — Amaya,
    * Christoffersen, Jacobs & Vasquez (2015, JFE 118): from
    * intra-bucket log returns, `RSkew = √n·Σr³/(Σr²)^{3/2}` and
    * `RKurt = n·Σr⁴/(Σr²)²` — the higher-moment risk pair (crash
    * asymmetry and tail weight) next to [[realizedJumpVol]]'s
    * continuous/jump split; the cross-section of RSkew predicts returns
    * (the paper's headline), and both are the standard inputs to
    * moment-based risk parity.
    *
    * Same return machinery as [[realizedJumpVol]]: log returns over the
    * per-series (ts, tiebreak) order, continuous across bucket
    * boundaries, each return in the bucket of its LATER tick,
    * non-positive prices drop.
    *
    * Determinism: per-term powers quantize independently —
    * `round(r²·10¹²)`, `round(r³·q3Scale)`, `round(r⁴·q4Scale)`
    * BIGINTs — and sum exactly (order-free); the stats derive in one
    * fixed double tree with `rv^{3/2}` spelled `rv·√rv` (sqrt is IEEE
    * correctly-rounded — identical on every engine, unlike pow), 6 dp.
    * Overflow contract (the caller picks the scales for their return
    * magnitude): `n·|r|³·q3Scale < 2⁶³` and `n·r⁴·q4Scale < 2⁶³` per
    * bucket — at the 10¹⁵/10¹⁸ defaults the q4 sum binds first and is
    * safe for |r| ≲ 0.05 at 10⁶ ticks/bucket (tick-scale price
    * returns); larger per-tick swings, coarser buckets, or series whose
    * "returns" are raw metric ratios swinging whole e-folds need
    * caller-lowered scales. Null skew/kurt on a zero-RV bucket.
    *
    * Scale shape: one keyed window (the return lag) + one (keys,
    * bucket) agg riding the same series partitioning, map-side
    * combined. Returns `(keys…, bucket, n_returns, rv, rskew, rkurt)`. */
  def realizedMoments(df: DataFrame, keys: Seq[String], tsCol: String,
                      valueCol: String, tiebreakCol: String,
                      interval: String, q3Scale: Double = 1e15,
                      q4Scale: Double = 1e18): DataFrame = {
    require(keys.nonEmpty, "realizedMoments needs the series key(s)")
    require(q3Scale > 0.0 && q4Scale > 0.0, "quantizer scales must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val p = col(valueCol).cast("double")
    df.where(p.isNotNull && p > 0.0)
      .withColumn("_r", log(p / lag(p, 1).over(w)))
      .where(col("_r").isNotNull)
      .withColumn("_q2", round(col("_r") * col("_r") * 1e12).cast("long"))
      .withColumn("_q3",
        round(col("_r") * col("_r") * col("_r") * lit(q3Scale)).cast("long"))
      .withColumn("_q4",
        round(col("_r") * col("_r") * col("_r") * col("_r") * lit(q4Scale))
          .cast("long"))
      .groupBy((keys.map(col) :+
        date_trunc(interval, col(tsCol)).as("bucket")): _*)
      .agg(count(lit(1)).as("n_returns"),
        sum(col("_q2")).as("_s2"), sum(col("_q3")).as("_s3"),
        sum(col("_q4")).as("_s4"))
      .withColumn("_rv", col("_s2").cast("double") / 1e12)
      .select(keys.map(col) ++ Seq(col("bucket"), col("n_returns"),
        round(col("_rv"), 6).as("rv"),
        when(col("_s2") > 0L, round(
          sqrt(col("n_returns").cast("double"))
            * (col("_s3").cast("double") / lit(q3Scale))
            / (col("_rv") * sqrt(col("_rv"))), 6)).as("rskew"),
        when(col("_s2") > 0L, round(
          col("n_returns").cast("double")
            * (col("_s4").cast("double") / lit(q4Scale))
            / (col("_rv") * col("_rv")), 6)).as("rkurt")): _*)
  }

  /** Two-scale realized variance per (series, bucket) — Zhang, Mykland
    * & Aït-Sahalia (2005, JASA 100): the microstructure-noise-robust
    * estimator `TSRV = RV_avg − (n̄/n)·RV_all`, where `RV_all` sums
    * tick-by-tick squared log returns (noise-inflated by 2nE[ε²]),
    * `RV_avg = Σ(p_i − p_{i−K})²/K` averages the K subsampled grids,
    * and `n̄ = (n−K+1)/K` scales the bias correction that strips the
    * noise term. The raw difference is reported (it can go slightly
    * negative on noise-free data — callers floor at 0 if they need a
    * variance); `rv_all`/`rv_avg` ship alongside so the noise share is
    * visible.
    *
    * Return machinery and bucket convention as [[realizedMoments]]:
    * per-series (ts, tiebreak) order, returns continuous across bucket
    * boundaries and assigned to the LATER tick's bucket, non-positive
    * prices drop. Determinism: both squared-return streams quantize
    * independently to `round(r²·10¹²)` BIGINTs (order-free exact sums);
    * the estimator derives in one fixed double tree, 6 dp. Overflow
    * contract: `n·r²·10¹² < 2⁶³` per bucket — |r| ≲ 3 at 10⁶
    * ticks/bucket, |r| ≲ 30 at 10⁴ (and the K-lag stream's r² is K²×
    * larger per drifting tick — size buckets to the tape's actual
    * swings). Buckets with n ≤ K emit null `tsrv` (the
    * correction is undefined without a full subsample grid).
    *
    * Scale shape: ONE keyed window carries both lags (same partition +
    * order → one physical sort), then one map-side-combined (keys,
    * bucket) agg. Returns
    * `(keys…, bucket, n_returns, rv_all, rv_avg, tsrv)`. */
  def twoScaleRV(df: DataFrame, keys: Seq[String], tsCol: String,
                 valueCol: String, tiebreakCol: String,
                 interval: String = "day", kSub: Int = 5): DataFrame = {
    require(keys.nonEmpty, "twoScaleRV needs the series key(s)")
    require(kSub >= 2, s"the subsample scale must be >= 2 ticks, got $kSub")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val p = col(valueCol).cast("double")
    val kd = kSub.toDouble
    df.where(p.isNotNull && p > 0.0)
      .withColumn("_r1", log(p / lag(p, 1).over(w)))
      .withColumn("_rk", log(p / lag(p, kSub).over(w)))
      .withColumn("_q1", round(col("_r1") * col("_r1") * 1e12).cast("long"))
      .withColumn("_qk", round(col("_rk") * col("_rk") * 1e12).cast("long"))
      .where(col("_q1").isNotNull)
      .groupBy((keys.map(col) :+
        date_trunc(interval, col(tsCol)).as("bucket")): _*)
      .agg(count(lit(1)).as("n_returns"),
        sum(col("_q1")).as("_s1"), sum(col("_qk")).as("_sk"))
      .withColumn("_rvAll", col("_s1").cast("double") / 1e12)
      .withColumn("_rvAvg",
        coalesce(col("_sk").cast("double"), lit(0.0)) / 1e12 / lit(kd))
      .select(keys.map(col) ++ Seq(col("bucket"), col("n_returns"),
        (round(col("_rvAll"), 6) + lit(0.0)).as("rv_all"),
        (round(col("_rvAvg"), 6) + lit(0.0)).as("rv_avg"),
        when(col("n_returns") > kSub,
          round(col("_rvAvg") -
            (col("n_returns").cast("double") - lit(kd - 1.0)) / lit(kd)
              / col("n_returns").cast("double") * col("_rvAll"), 6) + lit(0.0))
          .as("tsrv")): _*)
  }

  /** GARCH(1,1) conditional-variance filter per series (Bollerslev
    * 1986) — the mean-reverting vol model that completes the
    * volatility kit beside the RiskMetrics EWMA ([[zscore]]/EWM on
    * squares) and the realized family ([[twoScaleRV]],
    * [[realizedKernel]]): from the `interval`-bucketed log-return
    * series of each key, emit the filtered conditional variance
    *
    * {{{ h_0 = r²_0;   h_t = (ω + α·r²_t) + β·h_{t−1} }}}
    *
    * with VARIANCE-TARGETED ω = σ̄²·(1−α−β), σ̄² the full-series mean
    * of squared returns — the standard fixed-(α,β) filter (RiskMetrics
    * generalization; full QMLE is a non-replayable optimizer and out
    * of the determinism doctrine). The recursion is the custom
    * Catalyst window function
    * [[org.apache.spark.sql.graft.GarchVariance]]: O(1) state, one
    * ordered pass per series, fixed IEEE update tree.
    *
    * Determinism contract: bucket means are exact DECIMAL sums /
    * counts; squared returns quantize to ·10¹² BIGINTs (ULP-class
    * `ln` skew dies at the round, the [[twoScaleRV]] doctrine) and
    * σ̄² derives from their EXACT integer sum, so ω is one fixed
    * double tree; the fold then matches any engine replaying the same
    * left-associated lambda over the same quantized squares
    * (`list_reduce`, the q_ema doctrine). Output variance is in
    * µ-units (·10⁶) so 6-dp rounding keeps 6 significant figures on
    * return-scale series.
    *
    * Scale shape: one map-side-combined bucket agg (corpus → series
    * rows), then two window passes over the SAME (keys, bucket)
    * partitioning — Catalyst plans them after a single shuffle+sort;
    * nothing corpus-wide sorts and the fold state is one double per
    * series. Annualization factor defaults to hourly buckets
    * (√8760·h). */
  /** Shared bucketed squared-return frame for the conditional-variance
    * family ([[garchFilter]], [[dmVolForecast]]): exact DECIMAL bucket
    * means → guarded log returns → ·10¹²-quantized squares. Returns
    * `(keys…, bucket, _p, _r, _x2q, _x2)` with `_x2` the re-floated
    * quantized square (the fold input both engines share). */
  private def bucketX2Frame(df: DataFrame, keys: Seq[String], tsCol: String,
                            valueCol: String, interval: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 2)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val bucketed = df.where(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+
        date_trunc(interval, col(tsCol)).as("bucket")): _*)
      .agg((sum(col(valueCol).cast(D)).cast("double") / count(lit(1))).as("_p"))
    val pl = lag(col("_p"), 1).over(wb)
    bucketed
      .withColumn("_r", when(col("_p") > 0.0 && pl > 0.0, log(col("_p") / pl)))
      .withColumn("_x2q", round(col("_r") * col("_r") * lit(1e12)).cast("long"))
      .withColumn("_x2", col("_x2q").cast("double") / lit(1e12))
  }

  def garchFilter(df: DataFrame, keys: Seq[String], tsCol: String,
                  valueCol: String, interval: String = "hour",
                  alpha: Double = 0.08, beta: Double = 0.90,
                  annFactor: Double = 8760.0): DataFrame = {
    require(keys.nonEmpty, "garchFilter needs the series key(s)")
    require(alpha >= 0.0 && beta >= 0.0 && alpha + beta < 1.0,
      s"need alpha, beta >= 0 and alpha + beta < 1, got $alpha/$beta")
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val rows = bucketX2Frame(df, keys, tsCol, valueCol, interval)
      .withColumn("_svq", sum(col("_x2q")).over(wk))
      .withColumn("_nr", count(col("_x2q")).over(wk))
    val omegaFac = 1.0 - alpha - beta
    val withOmega = rows.withColumn("_omega",
      col("_svq").cast("double") / col("_nr").cast("double") / lit(1e12) *
        lit(omegaFac))
    val h = withOmega.withColumn("_h",
      windows.garchVariance(col("_x2"), col("_omega"), alpha, beta, wb))
    h.select(keys.map(col) ++ Seq(col("bucket"),
      (round(col("_r"), 6) + lit(0.0)).as("ret"),
      (round(col("_h") * lit(1e6), 6) + lit(0.0)).as("garch_var_u"),
      when(col("_h") > 0.0,
        round(sqrt(col("_h") * lit(annFactor)), 6) + lit(0.0))
        .as("garch_vol_ann")): _*)
  }

  /** Diebold–Mariano (1995) forecast-comparison test between the two
    * conditional-variance forecasters the engine ships — RiskMetrics
    * EWMA (α = 0.06, i.e. λ = 0.94) and the variance-targeted
    * GARCH(1,1) filter ([[garchFilter]]) — over each key's bucketed
    * squared-return series: both models' ONE-STEP-AHEAD forecasts
    * (their filtered value lagged one bucket) score against the
    * realized square under squared-error loss, and the loss
    * differential `d_t = (x²_t − f_ewma)² − (x²_t − f_garch)²` gets
    * the HAC mean test `DM = d̄ / √(lrv_Bartlett(d)/n)`
    * ([[graft.operators.Relational.neweyWestMoments]]). DM > 0 ⇒ the
    * EWMA's loss is larger ⇒ GARCH forecasts better (±1.96 the usual
    * bands).
    *
    * Determinism contract: the realized squares are the SAME
    * ·10¹²-quantized images both engines share bit-for-bit
    * ([[bucketX2Frame]]); everything entering the loss then
    * NORMALIZES by the series' exact-integer-derived mean square σ̄²
    * (scale-free — errors are O(1) whether the series is a 10⁻³-return
    * financial tape or a wild synthetic one) and the forecasts
    * re-quantize at ·10⁹ so the folds' cross-engine ULP tail dies at
    * a round with a ~2·10⁻⁷-wide boundary window. The `⌊e²·10⁹⌋`
    * BIGINT loss images are then exact, the NW layer exact-integer,
    * and every double the display casts stays far below 2⁵³ (per-key
    * sums ≤ n·avg(e²)·10⁹ — holds to ~10⁶ buckets/key; shard by era
    * beyond). Losses report in units of σ̄⁴ (relative MSE), 6 dp.
    *
    * Scale shape: one bucket agg (corpus → series rows), three window
    * passes on one (key, bucket) sort, then the NW skinny self-join
    * on series rows — nothing corpus-wide shuffles twice. */
  def dmVolForecast(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, interval: String = "hour",
                    ewmAlpha: Double = 0.06, garchAlpha: Double = 0.08,
                    garchBeta: Double = 0.90, maxLag: Int = 4): DataFrame = {
    val intervalUs: Long = interval match {
      case "hour" => 3600000000L
      case "day" => 86400000000L
      case other => throw new IllegalArgumentException(
        s"dmVolForecast supports hour/day buckets, got '$other'")
    }
    val keys = Seq(keyCol)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val omegaFac = 1.0 - garchAlpha - garchBeta
    val rows = bucketX2Frame(df, keys, tsCol, valueCol, interval)
      .withColumn("_svq", sum(col("_x2q")).over(wk))
      .withColumn("_nr", count(col("_x2q")).over(wk))
      .withColumn("_vbar",
        col("_svq").cast("double") / col("_nr").cast("double") / lit(1e12))
      .withColumn("_omega", col("_vbar") * lit(omegaFac))
    val filt = rows
      .withColumn("_h",
        windows.garchVariance(col("_x2"), col("_omega"), garchAlpha,
          garchBeta, wb))
      .withColumn("_m", windows.ewmMean(col("_x2"), ewmAlpha, wb))
    // SCALE-FREE seam: everything entering the loss normalizes by the
    // series' mean square σ̄² (vbar) so errors are O(1) for ANY series
    // scale, then the forecasts re-quantize at ·10⁹ — the folds agree
    // across engines to ULP but not to the bit, and a raw-double loss
    // would amplify that tail (round-13 gate catch); at O(1)·10⁹ the
    // round-boundary flip window is ~ULP(10⁹) ≈ 2·10⁻⁷ wide, the
    // suite's accepted boundary class. The realized square z = x²/σ̄²
    // needs no seam (both engines derive it bit-identically from
    // exact integers).
    val fc = filt
      .withColumn("_z", when(col("_vbar") > 0.0, col("_x2") / col("_vbar")))
      .withColumn("_f1", when(col("_vbar") > 0.0,
        round(lag(col("_m"), 1).over(wb) / col("_vbar") * lit(1e9))
          .cast("long").cast("double") / lit(1e9)))
      .withColumn("_f2", when(col("_vbar") > 0.0,
        round(lag(col("_h"), 1).over(wb) / col("_vbar") * lit(1e9))
          .cast("long").cast("double") / lit(1e9)))
    val e1 = col("_z") - col("_f1")
    val e2 = col("_z") - col("_f2")
    // ·10⁹ loss images of O(1) relative errors: per-row ≤ ~10¹³ even on
    // wild tapes (|e| ≤ 100·σ̄²), per-key sums ≤ n·avg(e²)·10⁹ — the
    // 2⁵³ double-cast envelope holds to n ~ 10⁶ buckets/key (a century
    // of hours); beyond that, shard the test by era upstream
    val d = fc
      .withColumn("_e1q", floor(e1 * e1 * lit(1e9)).cast("long"))
      .withColumn("_e2q", floor(e2 * e2 * lit(1e9)).cast("long"))
      .withColumn("_dq", floor((e1 * e1 - e2 * e2) * lit(1e9)).cast("long"))
      .where(col("_dq").isNotNull)
      .withColumn("_hb", expr(s"unix_micros(bucket) div ${intervalUs}L"))
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val mse = d.groupBy(col(keyCol).cast("string").as("key")).agg(
      sum(col("_e1q").cast(D38)).as("_se1"),
      sum(col("_e2q").cast(D38)).as("_se2"))
    val base = d.select(col(keyCol).cast("string").as("_k"),
      col("_hb").as("_t"), col("_dq").as("_v"))
    val m = graft.operators.Relational.neweyWestMoments(base, maxLag)
    val nd = col("n").cast("double")
    m.join(mse, "key")
      .select(col("key"), col("n"),
        (round(col("_se1").cast("double") / nd / lit(1e9), 6) + lit(0.0))
          .as("mse_ewma_r"),
        (round(col("_se2").cast("double") / nd / lit(1e9), 6) + lit(0.0))
          .as("mse_garch_r"),
        (round(col("_mu") / lit(1e9), 6) + lit(0.0)).as("mean_d_r"),
        when(col("_lrvq") > 0.0,
          round(col("_mu") / sqrt(col("_lrvq") / nd), 6) + lit(0.0))
          .as("dm"))
      .orderBy("key")
  }

  /** Parzen kernel weight `k(x)` — 1−6x²+6x³ on [0,½], 2(1−x)³ on
    * (½,1], 0 beyond: the standard choice for [[realizedKernel]]
    * (guarantees a PSD estimator in the full-kernel limit). Computed
    * driver-side once per lag and interpolated into BOTH plans as a
    * plain literal (the fracDiff-weights precedent). */
  def parzen(x: Double): Double =
    if (x <= 0.5) 1.0 - 6.0 * x * x + 6.0 * x * x * x
    else if (x <= 1.0) 2.0 * (1.0 - x) * (1.0 - x) * (1.0 - x)
    else 0.0

  /** Realized kernel per (series, bucket) — Barndorff-Nielsen, Hansen,
    * Lunde & Shephard (2008, Econometrica 76): the kernel-weighted
    * autocovariance estimator
    * `RK = γ₀ + Σ_{h=1..H} k(h/(H+1))·2γ_h`, `γ_h = Σ_t r_t·r_{t−h}` —
    * the third member of the noise-robust family beside
    * [[twoScaleRV]] (subsampling) and plain RV: i.i.d. microstructure
    * noise loads on γ₁ with a NEGATIVE sign that the kernel nets out
    * of γ₀'s inflation.
    *
    * Return machinery and bucket convention as [[realizedMoments]]
    * (later-tick bucket, continuous lags across boundaries,
    * non-positive prices drop). Determinism: each lag-h cross product
    * quantizes independently to `round(r_t·r_{t−h}·10¹²)` BIGINTs
    * (order-free exact sums per lag); the Parzen weights fold in Scala
    * and interpolate as literals; RK is one fixed double tree of H+1
    * exact images, 6 dp. H+1 sibling lag columns ride ONE keyed
    * window sort. Buckets with n ≤ H emit null `rk`. */
  def realizedKernel(df: DataFrame, keys: Seq[String], tsCol: String,
                     valueCol: String, tiebreakCol: String,
                     interval: String = "day", bandwidth: Int = 4): DataFrame = {
    require(keys.nonEmpty, "realizedKernel needs the series key(s)")
    require(bandwidth >= 1, s"bandwidth must be >= 1, got $bandwidth")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val p = col(valueCol).cast("double")
    val base = df.where(p.isNotNull && p > 0.0)
      .withColumn("_r", log(p / lag(p, 1).over(w)))
      .where(col("_r").isNotNull)
    val lagged = (1 to bandwidth).foldLeft(
        base.withColumn("_q0",
          round(col("_r") * col("_r") * 1e12).cast("long"))) { (d, h) =>
      d.withColumn(s"_q$h",
        round(col("_r") * lag(col("_r"), h).over(w) * 1e12).cast("long"))
    }
    val aggs = (0 to bandwidth).map(h => sum(col(s"_q$h")).as(s"_s$h"))
    val g = lagged.groupBy((keys.map(col) :+
        date_trunc(interval, col(tsCol)).as("bucket")): _*)
      .agg(count(lit(1)).as("n_returns"), aggs: _*)
    val rk = (1 to bandwidth).foldLeft(
        col("_s0").cast("double") / 1e12) { (acc, h) =>
      acc + lit(parzen(h.toDouble / (bandwidth + 1.0))) * 2.0 *
        (coalesce(col(s"_s$h").cast("double"), lit(0.0)) / 1e12)
    }
    g.select(keys.map(col) ++ Seq(col("bucket"), col("n_returns"),
      (round(col("_s0").cast("double") / 1e12, 6) + lit(0.0)).as("rv"),
      when(col("n_returns") > bandwidth, round(rk, 6) + lit(0.0))
        .as("rk")): _*)
  }

  /** 3×3 determinant as one fixed expression tree (first-row cofactor
    * expansion) — shared by [[harRegression]]'s Cramer solve; the SQL
    * oracle spells the SAME tree. */
  private def det3c(a: Column, b: Column, c: Column, d: Column, e: Column,
                    f: Column, g: Column, h: Column, i: Column): Column =
    a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

  /** 4×4 determinant by first-row cofactor expansion over [[det3c]] —
    * a fixed tree, valid for the well-conditioned normalized moment
    * matrices [[harRegression]] feeds it (no pivoting: the matrix is
    * PD by construction on non-degenerate data). */
  private def det4c(m: IndexedSeq[IndexedSeq[Column]]): Column = {
    def minor(skip: Int): Column = {
      val cols = (0 to 3).filterNot(_ == skip)
      det3c(m(1)(cols(0)), m(1)(cols(1)), m(1)(cols(2)),
            m(2)(cols(0)), m(2)(cols(1)), m(2)(cols(2)),
            m(3)(cols(0)), m(3)(cols(1)), m(3)(cols(2)))
    }
    m(0)(0) * minor(0) - m(0)(1) * minor(1) + m(0)(2) * minor(2) -
      m(0)(3) * minor(3)
  }

  /** HAR-RV regression per series — Corsi (2009, J. Financial
    * Econometrics 7): the heterogeneous-horizon volatility cascade
    * `RV_t = β₀ + β_s·RV_{t−1} + β_m·RV̄_{short} + β_l·RV̄_{long} + ε`,
    * the standard realized-volatility forecaster. Horizons default to
    * the intraday cascade (hourly RV; 24-bucket daily and 168-bucket
    * weekly components) — pass `interval="day"`, 5/22 for the classic
    * daily flavor when the span allows it.
    *
    * Distributed closed-form OLS with NO driver solve and no iteration:
    * per-bucket RV rides the [[realizedMoments]] integer image, the
    * three regressors + target re-quantize to `round(rv·regScale)`
    * BIGINTs (rolling sums of exact integers — order-free), the ten
    * X'X + five X'y moment sums accumulate on DECIMAL(38,0), and the
    * 4×4 normal equations solve by CRAMER'S RULE as one fixed
    * first-row-cofactor double tree ([[det4c]]) — the n-regressor
    * generalization of the two-regressor closed forms ([[ewmBeta]],
    * Fama-MacBeth), hash-replayable because every input to the tree is
    * an exact integer ratio. Rows need `longWin` prior buckets (full
    * windows only). Degenerate series (singular normal matrix, zero
    * variance) emit null βs explicitly.
    *
    * Scale shape: one keyed window pass for the rolling sums riding the
    * bucket agg's partitioning, then one key-sized moment agg —
    * map-side combined, nothing global. Overflow: `regScale·RV` images
    * must keep Σx² < 10³⁸ (at 10⁶ images that is 10²⁶ rows — never
    * binding). Returns `(keys…, n_obs, beta0, beta_short, beta_mid,
    * beta_long, r2)`. */
  def harRegression(df: DataFrame, keys: Seq[String], tsCol: String,
                    valueCol: String, tiebreakCol: String,
                    interval: String = "hour", shortWin: Int = 24,
                    longWin: Int = 168, regScale: Double = 1e6): DataFrame = {
    require(keys.nonEmpty, "harRegression needs the series key(s)")
    require(shortWin >= 2 && longWin > shortWin,
      s"need 2 <= shortWin < longWin, got $shortWin/$longWin")
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val p = col(valueCol).cast("double")
    val rv = df.where(p.isNotNull && p > 0.0)
      .withColumn("_r", log(p / lag(p, 1).over(w)))
      .where(col("_r").isNotNull)
      .withColumn("_q2", round(col("_r") * col("_r") * 1e12).cast("long"))
      .groupBy((keys.map(col) :+
        date_trunc(interval, col(tsCol)).as("bucket")): _*)
      .agg(sum(col("_q2")).as("_s2"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("bucket"))
    def trail(n: Int) = wb.rowsBetween(-n, -1)
    def img(c: Column): Column = round(c * lit(regScale)).cast("long")
    val rows = rv
      .withColumn("_yq", img(col("_s2").cast("double") / 1e12))
      .withColumn("_x1q", img(lag(col("_s2"), 1).over(wb).cast("double") / 1e12))
      .withColumn("_x2q", img(sum(col("_s2")).over(trail(shortWin)).cast("double")
        / 1e12 / lit(shortWin.toDouble)))
      .withColumn("_x3q", img(sum(col("_s2")).over(trail(longWin)).cast("double")
        / 1e12 / lit(longWin.toDouble)))
      .withColumn("_full", count(col("_s2")).over(trail(longWin)))
      .where(col("_full") === longWin)
    def d38(c: Column) = c.cast(D38)
    val mo = rows.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("_n"),
      sum(d38(col("_x1q"))).as("_sx1"), sum(d38(col("_x2q"))).as("_sx2"),
      sum(d38(col("_x3q"))).as("_sx3"), sum(d38(col("_yq"))).as("_sy"),
      sum(d38(col("_x1q")) * col("_x1q")).as("_s11"),
      sum(d38(col("_x1q")) * col("_x2q")).as("_s12"),
      sum(d38(col("_x1q")) * col("_x3q")).as("_s13"),
      sum(d38(col("_x2q")) * col("_x2q")).as("_s22"),
      sum(d38(col("_x2q")) * col("_x3q")).as("_s23"),
      sum(d38(col("_x3q")) * col("_x3q")).as("_s33"),
      sum(d38(col("_x1q")) * col("_yq")).as("_s1y"),
      sum(d38(col("_x2q")) * col("_yq")).as("_s2y"),
      sum(d38(col("_x3q")) * col("_yq")).as("_s3y"),
      sum(d38(col("_yq")) * col("_yq")).as("_syy"))
    val nd = col("_n").cast("double")
    def m(c: String): Column = col(c).cast("double") / nd
    val A: IndexedSeq[IndexedSeq[Column]] = IndexedSeq(
      IndexedSeq(lit(1.0), m("_sx1"), m("_sx2"), m("_sx3")),
      IndexedSeq(m("_sx1"), m("_s11"), m("_s12"), m("_s13")),
      IndexedSeq(m("_sx2"), m("_s12"), m("_s22"), m("_s23")),
      IndexedSeq(m("_sx3"), m("_s13"), m("_s23"), m("_s33")))
    val b = IndexedSeq(m("_sy"), m("_s1y"), m("_s2y"), m("_s3y"))
    def swapped(i: Int): IndexedSeq[IndexedSeq[Column]] =
      A.indices.map(r => A(r).indices.map(c => if (c == i) b(r) else A(r)(c)))
    val detA = det4c(A)
    val betas = (0 to 3).map(i => det4c(swapped(i)) / detA)
    val ess = (betas(0) * b(0) + betas(1) * b(1) + betas(2) * b(2) +
      betas(3) * b(3)) - b(0) * b(0)
    val tss = m("_syy") - b(0) * b(0)
    val ok = detA =!= lit(0.0)
    mo.select(keys.map(col) ++ Seq(col("_n").as("n_obs"),
      when(ok, round(betas(0) / lit(regScale), 6) + lit(0.0)).as("beta0"),
      when(ok, round(betas(1), 6) + lit(0.0)).as("beta_short"),
      when(ok, round(betas(2), 6) + lit(0.0)).as("beta_mid"),
      when(ok, round(betas(3), 6) + lit(0.0)).as("beta_long"),
      when(ok && tss > 0.0, round(ess / tss, 6) + lit(0.0)).as("r2")): _*)
  }

  /** Adaptive (EWM-RLS) regression per series — the exponentially
    * forgetting hedge ratio / adaptive AR coefficient every pairs or
    * beta-hedging desk maintains online: with EWM moments
    * `m_z = ewm(z, α, adjust=False)`, the per-row slope is
    * `β_t = (m_xy − m_x·m_y) / (m_xx − m_x²)` and the intercept
    * `a_t = m_y − β_t·m_x` — recursive least squares with forgetting
    * factor `λ = 1−α`, normalizers cancelling in the ratio. Four
    * SIBLING [[windows.ewmMean]] expressions in one select: one keyed
    * exchange+sort, O(1) state per series, codegen window chain.
    *
    * Determinism: each EWM is the exact sequential recurrence on the
    * same input doubles (the q_ema cross-engine contract — DuckDB
    * replays it as a `list_reduce` fold in the same order); the β/a
    * trees are fixed, 6 dp. Warm-up: rows before the EWM variance turns
    * positive (at least the series' first row) yield null β/a. Null x/y
    * rows drop before the order forms (a null would poison the EWM
    * chain for the rest of the series).
    *
    * Returns the input keys + `(tsCol, tiebreakCol, beta, alpha_icept)`
    * ordered by (keys, ts, tiebreak). */
  def ewmBeta(df: DataFrame, keys: Seq[String], tsCol: String,
              xCol: String, yCol: String, tiebreakCol: String,
              alpha: Double): DataFrame = {
    require(keys.nonEmpty, "ewmBeta needs the series key(s)")
    require(alpha > 0.0 && alpha <= 1.0, s"need 0 < alpha <= 1, got $alpha")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.where(x.isNotNull && y.isNotNull)
      .withColumn("_mx", windows.ewmMean(x, alpha, w))
      .withColumn("_my", windows.ewmMean(y, alpha, w))
      .withColumn("_mxy", windows.ewmMean(x * y, alpha, w))
      .withColumn("_mxx", windows.ewmMean(x * x, alpha, w))
    val varX = col("_mxx") - col("_mx") * col("_mx")
    val beta = (col("_mxy") - col("_mx") * col("_my")) / varX
    base.select(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol),
        when(varX > 0.0, round(beta, 6)).as("beta"),
        when(varX > 0.0,
          round(col("_my") - beta * col("_mx"), 6)).as("alpha_icept")): _*)
      .orderBy(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol)): _*)
  }

  /** Realized variance + bipower variation + jump component per
    * (series, bucket) — Barndorff-Nielsen & Shephard (2004, 2006), the
    * jump-robust volatility decomposition: `RV = Σ rᵢ²` converges to
    * integrated variance PLUS squared jumps, while
    * `BV = (π/2)·Σ|rᵢ||rᵢ₋₁|` is immune to a single jump (it enters
    * two products linearly, not squared), so `J = max(RV − BV, 0)` is
    * the jump part — the risk split (continuous vol vs event risk)
    * range estimators can't see.
    *
    * Returns are log returns over the per-series (ts, tiebreak) total
    * order, CONTINUOUS across bucket boundaries (a bucket's first
    * return reaches back to the previous bucket's last tick — the
    * overnight-return convention is the caller's via bucketing choice);
    * each return lands in the bucket of its LATER tick. Non-positive
    * prices drop before returns form (log undefined), exactly like
    * [[rangeVolatility]].
    *
    * Determinism: the per-term products quantize to pico-unit BIGINTs
    * (`⌊·10¹²⌉`) and sum exactly (order-free); RV/BV/J derive in one
    * fixed double tree rounded to 6dp; π/2 is the JVM double
    * [[BipowerConst]], interpolated into the oracle.
    *
    * Scale shape: one keyed window (the return lag) + one (keys,
    * bucket) agg riding the same series partitioning — map-side
    * combined, one row per bucket out. */
  /** Binomial-expansion weights of the fractional difference operator
    * `(1−B)^d` (López de Prado, AFML ch. 5): `w₀ = 1`,
    * `w_k = −w_{k−1}·(d−k+1)/k`, truncated at the first `|w_k|` below
    * `threshold` (the FIXED-WIDTH window variant, §5.4.2 — the
    * expanding-window variant re-weights history on every step and is
    * unusable online). The recurrence is one multiply/divide per term
    * in IEEE order — any engine reproduces the identical doubles, and
    * the oracle receives them INTERPOLATED, never re-derived. For
    * d = 1 the weights collapse to `[1, −1]` (plain differencing);
    * for d = 0 to `[1]` (identity) — the closed forms the spec pins. */
  def fracDiffWeights(d: Double, threshold: Double, maxWidth: Int): Array[Double] = {
    require(d >= 0.0, s"need d >= 0, got $d")
    require(threshold > 0.0, s"need a positive truncation threshold, got $threshold")
    require(maxWidth >= 1, s"need maxWidth >= 1, got $maxWidth")
    val buf = scala.collection.mutable.ArrayBuffer(1.0)
    var k = 1
    var cont = true
    while (cont && k < maxWidth) {
      val w = -buf(k - 1) * (d - k + 1.0) / k
      if (math.abs(w) < threshold) cont = false
      else { buf += w; k += 1 }
    }
    buf.toArray
  }

  /** Fixed-width fractional differentiation (AFML ch. 5): the series
    * transform that makes prices STATIONARY while keeping maximal
    * memory — integer differencing (d = 1) wipes the long-range
    * dependence ML features feed on, while raw prices are non-
    * stationary; a fractional `0 < d < 1` sits between. The output is
    * the dot product of the truncated weight vector with the value and
    * its first L−1 lags; rows without a full window (the first L−1
    * non-null observations per series) emit null — the pandas
    * fixed-width warm-up convention used throughout this library.
    *
    * Determinism: the weights are computed once on the driver
    * ([[fracDiffWeights]]) and enter the plan as double literals; the
    * dot product is a FIXED left-associated sum
    * `w₀·x_t + w₁·x_{t−1} + …` — the identical IEEE tree on any engine
    * that association order is spelled in — rounded to 6 dp at the
    * edge.
    *
    * Scale shape: one keyed window carrying L sibling lags — Catalyst
    * plans ONE shuffle+sort for all of them (same spec), whole-stage
    * codegen'd; no joins, no driver data. L is a small constant fixed
    * by (d, threshold), never data-sized.
    *
    * Returns `(keys…, tsCol, tiebreakCol, value, fracdiff)`, null-value
    * rows dropped (a null inside a lag window would poison L outputs —
    * the caller decides upstream imputation). */
  def fracDiff(df: DataFrame, keys: Seq[String], tsCol: String,
               valueCol: String, tiebreakCol: String, d: Double,
               threshold: Double = 1e-2, maxWidth: Int = 64): DataFrame = {
    require(keys.nonEmpty, "fracDiff needs the series key(s)")
    val wts = fracDiffWeights(d, threshold, maxWidth)
    val L = wts.length
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val v = col(valueCol).cast("double")
    val terms = wts.zipWithIndex.map {
      case (wk, 0) => lit(wk) * col("_v")
      case (wk, k) => lit(wk) * lag(col("_v"), k).over(w)
    }
    df.where(v.isNotNull)
      .withColumn("_v", v)
      .withColumn("_rn", row_number().over(w))
      .select(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol),
        col("_v").as("value"),
        when(col("_rn") >= L,
          round(terms.reduceLeft(_ + _), 6)).as("fracdiff")): _*)
  }

  def realizedJumpVol(df: DataFrame, keys: Seq[String], tsCol: String,
                      valueCol: String, tiebreakCol: String,
                      interval: String): DataFrame = {
    require(keys.nonEmpty, "realizedJumpVol needs the series key(s)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    def fp(x: Column): Column = round(x * 1e12).cast("long")
    val p = col(valueCol).cast("double")
    val r = log(p / lag(p, 1).over(w))
    val rPrev = lag(col("_r"), 1).over(w)
    df.where(p.isNotNull && p > 0.0)
      .withColumn("_r", r)
      .withColumn("_sq", fp(col("_r") * col("_r")))
      .withColumn("_bp", fp(abs(col("_r")) * abs(rPrev)))
      .where(col("_r").isNotNull)
      .groupBy((keys.map(col) :+
        date_trunc(interval, col(tsCol)).as("bucket")): _*)
      .agg(count(lit(1)).as("n_returns"),
        sum(col("_sq")).as("_srv"),
        // a bucket holding only the series' very first return has no
        // consecutive pair — its bipower sum is an empty (zero) sum
        coalesce(sum(col("_bp")), lit(0L)).as("_sbv"))
      .select(keys.map(col) ++ Seq(col("bucket"), col("n_returns"),
        round(col("_srv").cast("double") / 1e12, 6).as("rv"),
        round(lit(BipowerConst) * (col("_sbv").cast("double") / 1e12), 6).as("bv"),
        round(greatest(
          col("_srv").cast("double") / 1e12
            - lit(BipowerConst) * (col("_sbv").cast("double") / 1e12),
          lit(0.0)), 6).as("jump")): _*)
  }

  /** Backward sup-ADF explosiveness statistic (Phillips, Shi & Yu 2015
    * "Testing for multiple bubbles"; López de Prado AFML ch. 17
    * structural-break features) — the BOUNDED-WINDOW variant: at every
    * row, regress `Δy_t = α + β·y_{t−1} + ε` over each trailing window
    * in `windows`, take the β t-statistic, and report the SUP across
    * windows — a right-tailed explosiveness detector (t ≫ 0 ⇒ the
    * level FEEDS its own growth, the bubble signature; t ≪ 0 ⇒ mean
    * reversion). PSY's expanding window set is unbounded-memory; a
    * fixed geometric window ladder is the standard streaming-safe
    * surrogate and keeps the scan one window pass per ladder rung.
    *
    * Determinism: values quantize to `round(v·quantScale)` BIGINTs;
    * lag/diff pairs `(x, d) = (c_{t−1}, c_t − c_{t−1})` are exact, and
    * all five regression sums (Σx, Σd, Σxd, Σx², Σd²) are exact integer
    * window sums, so `num = nΣxd − ΣxΣd`, `den = nΣx² − (Σx)²`,
    * `D = nΣd² − (Σd)²` are exact BIGINTs. The t-statistic
    * `t = num/√((D − num²/den)·den/(n−2))` derives in one fixed double
    * tree, 6 dp. Degenerate windows are explicit: den = 0 (constant
    * regressor) → null; a residual-free fit → the ±1e9·sign(num)
    * sentinel ([[graft.operators.Labeling.trendScanLabel]]'s rule);
    * windows without n full pairs → null. The sup elects the LARGEST
    * rounded t, ties to the SHORTEST window.
    *
    * Scale shape: one keyed window sort shared by the lag/diff pair and
    * every rung's five sibling sum frames; no joins, no driver data.
    *
    * Overflow contract ([[graft.operators.Labeling.trendScanLabel]]'s
    * convention): the binding sums are the quadratic window moments —
    * `L · (|v|·quantScale)² < 2⁶³` (Σx² binds; the cross moments nΣxd,
    * ΣxΣd and the derived `den`/`D` add one factor of n·L each, so
    * keep `n_max · L · (|v|·quantScale)² < 2⁶³` for the full tree). At
    * quantScale 100 and L ≤ 32 that allows |v| ≲ 10⁷ value units —
    * comfortable for prices, but callers quantizing large raw series
    * must shrink quantScale to stay in the exact-integer envelope:
    * Spark wraps 64-bit overflow silently while DuckDB raises on
    * BIGINT overflow, so an overflowing scale is an engine-divergence
    * class, not just a precision loss.
    *
    * Returns `(keys…, tsCol, tiebreakCol, value, best_window, sadf)`. */
  def sadf(df: DataFrame, keys: Seq[String], tsCol: String,
           valueCol: String, tiebreakCol: String, windows: Seq[Int],
           quantScale: Double = 100.0): DataFrame = {
    require(keys.nonEmpty, "sadf needs the series key(s)")
    require(windows.nonEmpty && windows.forall(_ >= 4),
      s"every window needs >= 4 obs (t needs n-2 > 0 df), got $windows")
    require(windows.distinct.size == windows.size, s"duplicate windows in $windows")
    require(quantScale > 0.0, s"need a positive quantScale, got $quantScale")
    val ws = windows.sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    def trail(n: Int) = w.rowsBetween(-(n - 1), 0)
    val v = col(valueCol).cast("double")
    val base = df.where(v.isNotNull)
      .withColumn("_c", round(v * lit(quantScale)).cast("long"))
      .withColumn("_x", lag(col("_c"), 1).over(w))
      .withColumn("_d", col("_c") - lag(col("_c"), 1).over(w))
    val withSums = ws.foldLeft(base) { (acc, n) =>
      acc.withColumn(s"_n$n", count(col("_d")).over(trail(n)))
        .withColumn(s"_sx$n", sum(col("_x")).over(trail(n)))
        .withColumn(s"_sd$n", sum(col("_d")).over(trail(n)))
        .withColumn(s"_sxd$n", sum(col("_x") * col("_d")).over(trail(n)))
        .withColumn(s"_sxx$n", sum(col("_x") * col("_x")).over(trail(n)))
        .withColumn(s"_sdd$n", sum(col("_d") * col("_d")).over(trail(n)))
    }
    val withT = ws.foldLeft(withSums) { (acc, n) =>
      val N = lit(n.toLong)
      val num = N * col(s"_sxd$n") - col(s"_sx$n") * col(s"_sd$n")
      val den = N * col(s"_sxx$n") - col(s"_sx$n") * col(s"_sx$n")
      val dd = N * col(s"_sdd$n") - col(s"_sd$n") * col(s"_sd$n")
      val sseN = dd.cast("double") -
        num.cast("double") * num.cast("double") / den.cast("double")
      val t = num.cast("double") /
        sqrt(sseN * den.cast("double") / lit((n - 2).toDouble))
      acc.withColumn(s"_t$n",
        when(col(s"_n$n") =!= n || den === 0L, lit(null).cast("double"))
          .when(sseN > 0.0, round(t, 6))
          .when(num === 0L, lit(0.0))
          .otherwise(signum(num.cast("double")) * lit(1e9)))
    }
    // sup over rungs: largest rounded t, shortest window on ties
    val best = ws.zipWithIndex.foldRight(lit(null).cast("int")) {
      case ((n, i), rest) =>
        val beats = ws.drop(i + 1)
          .map(m => col(s"_t$m").isNull || col(s"_t$n") >= col(s"_t$m"))
          .foldLeft(lit(true))(_ && _)
        when(col(s"_t$n").isNotNull && beats, lit(n)).otherwise(rest)
    }
    val pick = ws.foldRight(lit(null).cast("double")) {
      (n, rest) => when(col("_best") === n, col(s"_t$n")).otherwise(rest)
    }
    withT.withColumn("_best", best)
      .select(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol),
        v.as("value"), col("_best").as("best_window"),
        pick.as("sadf")): _*)
  }

  /** The six order-3 ordinal pattern ids emitted by
    * [[permutationEntropy]]: `4·(a>b) + 2·(b>c) + (a>c)` over the value
    * triple `(a, b, c) = (v_{t−2}, v_{t−1}, v_t)`. Two of the eight
    * bit combos are order-inconsistent and unreachable, leaving these
    * six — entropy only needs the ids DISTINCT, not dense. */
  val PermutationPatternIds: Seq[Int] = Seq(0, 2, 3, 4, 5, 7)

  /** Rolling permutation entropy (Bandt & Pompe 2002, embedding m = 3,
    * lag 1) per series: each row's value triple `(v_{t−2}, v_{t−1},
    * v_t)` maps to one of 6 ordinal patterns, and the entropy of the
    * pattern distribution over the trailing `window` patterns measures
    * how PREDICTABLE the series' local ordinal structure is — ~1
    * (normalized) for noise, → 0 for monotone/periodic stretches. A
    * standard complexity feature for regime detection that plain
    * volatility can't see (it is amplitude-blind).
    *
    * Determinism: values quantize to `round(v·quantScale)` BIGINTs, so
    * the three pairwise comparisons per row — strict `>`; ties rank by
    * time order, the Bandt-Pompe stable convention — are exact, the
    * pattern id `4·(a>b) + 2·(b>c) + (a>c)` is an exact integer, and
    * the 6 trailing pattern counts are exact integer window sums. Only
    * the final entropy is floating point: the 6 `(c/N)·ln(c/N)` terms
    * sum in one FIXED left-associated tree (ids ascending), normalize
    * by the INTERPOLATED JVM double `ln 6`, and round to 6 dp.
    *
    * Scale shape: one keyed window sort shared by the two lags, the
    * pattern projection and all 6 sibling count frames — Catalyst plans
    * a single exchange+sort; no joins, no driver data.
    *
    * Returns `(keys…, tsCol, tiebreakCol, value, pattern, perm_entropy)`
    * — `pattern` null for the first 2 rows per series, `perm_entropy`
    * null until `window` patterns accumulate (warm-up convention). */
  def permutationEntropy(df: DataFrame, keys: Seq[String], tsCol: String,
                         valueCol: String, tiebreakCol: String, window: Int,
                         quantScale: Double = 100.0): DataFrame = {
    require(keys.nonEmpty, "permutationEntropy needs the series key(s)")
    require(window >= 2, s"need window >= 2 patterns, got $window")
    require(quantScale > 0.0, s"need a positive quantScale, got $quantScale")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val wTrail = w.rowsBetween(-(window - 1), 0)
    val v = col(valueCol).cast("double")
    val base = df.where(v.isNotNull)
      .withColumn("_c", round(v * lit(quantScale)).cast("long"))
      .withColumn("_a", lag(col("_c"), 2).over(w))
      .withColumn("_b", lag(col("_c"), 1).over(w))
      .withColumn("pattern",
        when(col("_a").isNotNull && col("_b").isNotNull,
          (col("_a") > col("_b")).cast("long") * 4L +
            (col("_b") > col("_c")).cast("long") * 2L +
            (col("_a") > col("_c")).cast("long")))
    val withCounts = PermutationPatternIds.foldLeft(base) { (acc, k) =>
      acc.withColumn(s"_p$k",
        sum(when(col("pattern") === k, 1L).otherwise(0L)).over(wTrail))
    }.withColumn("_n", count(col("pattern")).over(wTrail))
    val n = col("_n").cast("double")
    val terms = PermutationPatternIds.map { k =>
      val r = col(s"_p$k").cast("double") / n
      when(col(s"_p$k") > 0L, r * log(r)).otherwise(lit(0.0))
    }
    withCounts.select(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol),
      v.as("value"), col("pattern"),
      when(col("_n") === window,
        // 0.0 − Σ, not −Σ: a one-pattern window sums to exactly 0.0 and
        // unary negation would emit −0.0 (an engine-visible bit pattern)
        round((lit(0.0) - terms.reduceLeft(_ + _)) / lit(math.log(6.0)), 6))
        .as("perm_entropy")): _*)
  }
}
