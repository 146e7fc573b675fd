package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** Per-series ordered window primitives.
  *
  * The reference processes one (symbol, exchange, timeframe) series per
  * in-memory frame, sorted by timestamp
  * (`adi/app/features/factory/market_factory.py:97-98`); our engine makes
  * that partitioning explicit so the same math distributes over any number
  * of series. All rolling ops reproduce pandas `rolling(n)` warm-up
  * semantics (`min_periods = n`, counting non-null observations): the first
  * `n-1` rows are null — enforced with a `count(x).over(frame) >= n` guard
  * (SURVEY §7 risk 2).
  */
object windows {

  /** `Window.partitionBy(keys).orderBy(ts)` — the canonical series window. */
  def series(keys: Seq[String], orderBy: Seq[String]): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(orderBy.map(col): _*)

  /** Trailing `n`-row frame ending at the current row (pandas rolling(n)). */
  def trailing(w: WindowSpec, n: Int): WindowSpec = w.rowsBetween(-(n - 1), 0)

  /** Unbounded-preceding running frame (pandas cumsum/cummax). */
  def running(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Entire-partition frame (global per-series stats, e.g. z-score). */
  def entire(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  private def guarded(x: Column, n: Int, w: WindowSpec, agg: Column => Column): Column = {
    val f = trailing(w, n)
    when(count(x).over(f) >= n, agg(x).over(f))
  }

  /** pandas `rolling(n).mean()` (W5). */
  def rollingMean(x: Column, n: Int, w: WindowSpec): Column = guarded(x, n, w, avg)

  /** pandas `rolling(n).std()` — sample std, ddof=1 (W6; SURVEY §7 risk 3). */
  def rollingStd(x: Column, n: Int, w: WindowSpec): Column = guarded(x, n, w, stddev_samp)

  /** pandas `rolling(n).sum()` (W7). */
  def rollingSum(x: Column, n: Int, w: WindowSpec): Column = guarded(x, n, w, sum)

  /** pandas `rolling(n).min()` / `.max()` (W8). */
  def rollingMin(x: Column, n: Int, w: WindowSpec): Column = guarded(x, n, w, min)
  def rollingMax(x: Column, n: Int, w: WindowSpec): Column = guarded(x, n, w, max)

  /** pandas `rolling(n).median()` — exact, linear interpolation (W9). */
  def rollingMedian(x: Column, n: Int, w: WindowSpec): Column =
    rollingQuantile(x, 0.5, n, w)

  /** pandas `rolling(n).quantile(q, interpolation='linear')` — exact
    * `percentile` (an ImperativeAggregate; fine over a short frame) (W9). */
  def rollingQuantile(x: Column, q: Double, n: Int, w: WindowSpec): Column =
    guarded(x, n, w, c => percentile(c, lit(q)))

  /** Rolling Pearson correlation between two aligned columns over the
    * trailing `n` rows — the co-movement window (rolling BTC↔ETH return
    * correlation, regime detection) on top of the same series windows as
    * every other rolling op; the windowed sibling of
    * [[graft.operators.Relational.correlationMatrix]].
    *
    * Determinism: both inputs quantize to `⌊v·scale⌋` BIGINTs and the
    * five moment sums run as EXACT integer window aggregates (all five
    * share one frame → one physical window op); r derives in a fixed
    * double tree, rounded to 6 dp. Rows where EITHER side is null are
    * excluded pairwise (the pandas convention) and the `min_periods = n`
    * warm-up guard applies to the PAIRED count. Zero-variance frames
    * yield null, not NaN. Overflow: `n·(scale·max|v|)² < 2⁶³` — trivial
    * for any real (window, scale) pairing since n is the window length. */
  def rollingCorr(x: Column, y: Column, n: Int, w: WindowSpec,
                  scale: Double = 1e6): Column = {
    val m = rollingMoments(x, y, n, w, scale, "rollingCorr")
    when(m.cnt >= n && m.va > 0.0 && m.vb > 0.0,
      round(m.cov / (sqrt(m.va) * sqrt(m.vb)), 6))
  }

  /** Rolling OLS beta of `x` on `y` over the trailing `n` rows —
    * `cov(x,y)/var(y)`, the hedge ratio / market sensitivity window
    * (how many units of y hedge one unit of x). Same integer-moment
    * determinism, pairwise-null, and warm-up contract as
    * [[rollingCorr]]; a zero-variance benchmark window yields null. */
  def rollingBeta(x: Column, y: Column, n: Int, w: WindowSpec,
                  scale: Double = 1e6): Column = {
    val m = rollingMoments(x, y, n, w, scale, "rollingBeta")
    when(m.cnt >= n && m.vb > 0.0, round(m.cov / m.vb, 6))
  }

  private final case class Moments(cnt: Column, cov: Column, va: Column, vb: Column)

  /** The five exact-integer moment window sums shared by [[rollingCorr]]
    * and [[rollingBeta]]: both inputs quantize to `⌊v·scale⌋` BIGINTs,
    * rows with EITHER side null drop pairwise, all aggregates share one
    * trailing frame (one physical window op). */
  private def rollingMoments(x: Column, y: Column, n: Int, w: WindowSpec,
                             scale: Double, caller: String): Moments = {
    require(n >= 2, s"$caller needs a window of at least 2, got $n")
    require(scale > 0.0, s"$caller: scale must be positive, got $scale")
    val f = trailing(w, n)
    val both = x.isNotNull && y.isNotNull
    val x6 = when(both, floor(x.cast("double") * scale).cast("long"))
    val y6 = when(both, floor(y.cast("double") * scale).cast("long"))
    val cnt = count(x6).over(f)
    val sx = sum(x6).over(f).cast("double")
    val sy = sum(y6).over(f).cast("double")
    val sxy = sum(x6 * y6).over(f).cast("double")
    val sxx = sum(x6 * x6).over(f).cast("double")
    val syy = sum(y6 * y6).over(f).cast("double")
    val nD = cnt.cast("double")
    Moments(cnt,
      nD * sxy - sx * sy,
      nD * sxx - sx * sx,
      nD * syy - sy * sy)
  }

  /** pandas `cumsum()` (W10). */
  def cumSum(x: Column, w: WindowSpec): Column = sum(x).over(running(w))

  /** pandas `cummax()` (W11). */
  def cumMax(x: Column, w: WindowSpec): Column = max(x).over(running(w))

  /** pandas `diff(p)` (W1). */
  def diff(x: Column, p: Int, w: WindowSpec): Column = x - lag(x, p).over(w)

  /** pandas `pct_change(p)` (W2). The denominator is nullif-guarded so a
    * zero base yields null under ANSI and non-ANSI sessions alike —
    * library semantics must not depend on the session-global ANSI flag
    * (Spark 4 defaults it ON; only test/query sessions turn it off). */
  def pctChange(x: Column, p: Int, w: WindowSpec): Column =
    x / nullif(lag(x, p).over(w), lit(0)) - 1

  /** log return: `log(x.replace(0, nan)).diff()` (W3,
    * `market_factory.py:107`). */
  def logReturn(x: Column, w: WindowSpec): Column = {
    val lx = log(nullif(x, lit(0)))
    lx - lag(lx, 1).over(w)
  }

  /** Forward-fill: last non-null value at or before the current row (J4,
    * `orderbook_features.py:133-137` `.fillna(method='ffill')`). */
  def ffill(x: Column, w: WindowSpec): Column =
    last(x, ignoreNulls = true).over(running(w))

  /** Backward-fill (pandas `bfill`). */
  def bfill(x: Column, w: WindowSpec): Column =
    first(x, ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))

  /** pandas `ewm(alpha=α, adjust=False).mean()` — custom Catalyst window
    * expression (W12), exact recurrence, O(1) state per series. Resolution
    * goes through the function registry (the same path as built-in window
    * functions) so the analyzer sees ordinary unresolved children; every
    * session's registry carries `graft_ewm_mean` from the start
    * ([[org.apache.spark.sql.graft.GraftExtensions]]), so the column
    * resolves in whichever session analyzes the frame. */
  def ewmMean(x: Column, alpha: Double, w: WindowSpec): Column = {
    call_function(GraftFunctions.EwmMeanName, x, lit(alpha)).over(w)
  }

  /** EMA with span `k`: alpha = 2/(k+1) (`ta_indicators.py:127-131`). */
  def ema(x: Column, span: Int, w: WindowSpec): Column =
    ewmMean(x, 2.0 / (span + 1.0), w)

  /** Time-varying pairs-trading hedge ratio `y ≈ β_t·x` via a scalar
    * Kalman filter (state-space recursion, diffuse start) — custom
    * Catalyst window expression
    * [[org.apache.spark.sql.graft.KalmanBeta]], O(1) state per series,
    * same registry path as [[ewmMean]]. */
  def kalmanBeta(x: Column, y: Column, q: Double, r: Double, p0: Double,
                 w: WindowSpec): Column = {
    call_function(GraftFunctions.KalmanBetaName, x, y,
      lit(q), lit(r), lit(p0)).over(w)
  }

  /** Forward-filtered P(bull regime) of a 2-state Markov-switching
    * Bernoulli model over the sign column — custom Catalyst window
    * expression [[org.apache.spark.sql.graft.RegimeProb]], O(1) state
    * per series, exact IEEE recursion (no libm in the loop), same
    * registry path as [[ewmMean]]. Null/zero signs carry the state. */
  def regimeProb(sign: Column, a01: Double, a10: Double,
                 u0: Double, u1: Double, w: WindowSpec): Column = {
    call_function(GraftFunctions.RegimeProbName, sign,
      lit(a01), lit(a10), lit(u0), lit(u1)).over(w)
  }

  /** GARCH(1,1) conditional-variance filter over a squared-return
    * column (Bollerslev 1986) — custom Catalyst window expression
    * [[org.apache.spark.sql.graft.GarchVariance]], O(1) state per
    * series, fixed IEEE update tree `(ω + α·x²) + β·h`, same registry
    * path as [[ewmMean]]. `omega` is a COLUMN (constant per series by
    * contract) so variance-targeted ω = σ̄²·(1−α−β) stays data-derived;
    * pass the QUANTIZED squared-return image (·10¹² rounded) so ULP-
    * class `ln` skew dies before the recursion. Null squares carry. */
  def garchVariance(x2: Column, omega: Column, alpha: Double, beta: Double,
                    w: WindowSpec): Column = {
    call_function(GraftFunctions.GarchVarianceName, x2, omega,
      lit(alpha), lit(beta)).over(w)
  }

  /** Running Lempel–Ziv 76 phrase count of the sign tape (AFML ch. 18's
    * complexity/entropy proxy beside permutation entropy) — custom
    * Catalyst window expression
    * [[org.apache.spark.sql.graft.LzComplexity]], integer+text state
    * (no floats — cross-engine exact by construction), same registry
    * path as [[ewmMean]]. Null/zero signs carry the state. State grows
    * with the valid tape and each step searches the prefix, so feed
    * BUCKETED sign tapes (10³–10⁴ symbols), not raw ticks. */
  def lzComplexity(sign: Column, w: WindowSpec,
      maxTape: Int = org.apache.spark.sql.graft.LzComplexity.DefaultMaxTape)
      : Column = {
    call_function(GraftFunctions.LzComplexityName, sign, lit(maxTape)).over(w)
  }

  /** Rolling mean absolute deviation around the current row's rolling mean
    * (the CCI denominator, W19): `mean(|x_i - MA_t|)` for the n rows of the
    * trailing frame. A nested-window shape Spark can't express directly —
    * composed as `collect_list().over(frame)` + `aggregate` HOF (SURVEY §4).
    * O(n·w) but w is small (e.g. 20); stays inside codegen. */
  def rollingMeanAbsDev(x: Column, ma: Column, n: Int, w: WindowSpec): Column = {
    val f = trailing(w, n)
    val arr = collect_list(x).over(f)
    when(count(x).over(f) >= n,
      aggregate(arr, lit(0.0), (acc, v) => acc + abs(v - ma)) / n)
  }
}
