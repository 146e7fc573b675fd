package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exponentially-weighted moving mean as a native Catalyst window function.
  *
  * Semantics: pandas `ewm(alpha=α, adjust=False).mean()` —
  * `y_0 = x_0; y_t = (1-α)·y_{t-1} + α·x_t` — the recurrence behind EMA/MACD
  * /RSI in the reference (`adi/app/features/processors/ta_indicators.py:73-83,
  * 127-131`, `adi/app/features/factory/market_factory.py:51-52,112-115`).
  *
  * Spark has no built-in EWM: the recurrence has unbounded memory of the
  * past, so no fixed window frame expresses it. As an
  * [[AggregateWindowFunction]] (a running-frame DeclarativeAggregate, the
  * same machinery as `rank`) it evaluates in one ordered pass per window
  * partition with O(1) state — exact, distributed, and composable with
  * `Window.partitionBy(...).orderBy(...)`.
  *
  * Null handling: null inputs leave the state untouched and leading nulls
  * yield null output (matches pandas' skipping of leading NaNs; interior
  * NaNs under pandas' default `ignore_na=False` decay weights differently —
  * documented deviation, the reference never feeds interior NaNs).
  */
case class EwmMean(child: Expression, alpha: Double)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ewm_mean"

  private lazy val state = AttributeReference("ewm", DoubleType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = state :: Nil
  override lazy val initialValues: Seq[Expression] = Literal(null, DoubleType) :: Nil

  private def x: Expression = Cast(child, DoubleType)

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(x), state,
      If(IsNull(state), x,
        Add(Multiply(state, Literal(1.0 - alpha)), Multiply(x, Literal(alpha)))))
  )

  override lazy val evaluateExpression: Expression = state

  override protected def withNewChildInternal(newChild: Expression): EwmMean =
    copy(child = newChild)
}

/** Reset-threshold bar assignment as a native Catalyst window function —
  * the sequential scan behind tick/volume IMBALANCE bars (López de Prado
  * AFML ch. 2, fixed-threshold variant): a running signed accumulator
  * adds each row's increment; when `|cum| >= threshold` the current bar
  * CLOSES WITH that row and the accumulator resets to zero. Each row
  * evaluates to the id (0-based, per window partition) of the bar it
  * belongs to.
  *
  * Like EWM, the recurrence has unbounded memory (every reset depends on
  * the whole prefix), so no fixed frame expresses it; unlike volume/
  * dollar bars the accumulator is SIGNED, so the floor-division-of-a-
  * prefix-sum trick ([[graft.operators.Resample.volumeBars]]) does not
  * apply either — bar ids would go non-monotonic. An
  * [[AggregateWindowFunction]] evaluates it in one ordered pass per
  * partition with O(1) state: exact, distributed across series, and
  * linear in ticks.
  *
  * Null increments contribute zero but still receive a bar id. Inputs
  * are BIGINT (callers quantize, the engine's fixed-point doctrine), so
  * the scan is exact integer arithmetic — engine-reproducible. */
case class ThresholdBarId(child: Expression, threshold: Long)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  require(threshold > 0L, s"threshold must be positive, got $threshold")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def prettyName: String = "threshold_bar_id"

  private val L = org.apache.spark.sql.types.LongType
  private lazy val cum = AttributeReference("cum", L, nullable = false)()
  private lazy val bar = AttributeReference("bar", L, nullable = false)()
  private lazy val emit = AttributeReference("emit", L, nullable = false)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(cum, bar, emit)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  private def inc: Expression =
    If(IsNull(child), Literal(0L), Cast(child, L))

  override lazy val updateExpressions: Seq[Expression] = {
    val newCum = Add(cum, inc)
    val closed = GreaterThanOrEqual(Abs(newCum), Literal(threshold))
    Seq(
      If(closed, Literal(0L), newCum),  // cum
      If(closed, Add(bar, Literal(1L)), bar),  // bar
      bar)  // emit: the bar open when this row arrived (closes WITH it)
  }

  override lazy val evaluateExpression: Expression = emit

  override protected def withNewChildInternal(newChild: Expression): ThresholdBarId =
    copy(child = newChild)
}

/** Time-varying hedge ratio via a scalar Kalman filter as a native
  * Catalyst window function — the pairs-trading state-space recursion
  * `y_t = β_t·x_t + ε (R)`, `β_t = β_{t−1} + η (Q)`:
  *
  * {{{ P⁻ = P + Q;  K = P⁻x / (x²P⁻ + R);
  *     β ← β + K(y − βx);  P ← (1 − Kx)P⁻ }}}
  *
  * Start is the DIFFUSE prior (β = 0, P = p0 with p0 ≫ R/x²): the first
  * valid pair's update then lands β ≈ y/x on its own, no special case.
  * Like EWM the recurrence has unbounded memory — no frame expresses
  * it; an [[AggregateWindowFunction]] runs one ordered pass per
  * partition with two doubles of state. The update is a FIXED IEEE
  * tree, so any engine spelling the same tree reproduces it bit-for-bit
  * (the oracle replays it as a recursive CTE).
  *
  * Null x or y leaves the state untouched and emits the carried β;
  * rows before the first valid pair emit null. x = 0 degrades
  * gracefully (K = 0: β carried, P grows by Q). */
case class KalmanBeta(left: Expression, right: Expression,
                      q: Double, r: Double, p0: Double)
    extends AggregateWindowFunction
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(q >= 0.0, s"process noise q must be >= 0, got $q")
  require(r > 0.0, s"observation noise r must be > 0, got $r")
  require(p0 > 0.0, s"prior variance p0 must be > 0, got $p0")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "kalman_beta"

  private lazy val beta = AttributeReference("beta", DoubleType, nullable = true)()
  private lazy val p = AttributeReference("p", DoubleType, nullable = false)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(beta, p)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(p0))

  private def xe: Expression = Cast(left, DoubleType)
  private def ye: Expression = Cast(right, DoubleType)

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(xe), IsNotNull(ye))
    val prevB = If(IsNull(beta), Literal(0.0), beta)
    val pPred = Add(p, Literal(q))
    val k = Divide(Multiply(pPred, xe),
      Add(Multiply(Multiply(xe, xe), pPred), Literal(r)))
    val bNew = Add(prevB, Multiply(k, Subtract(ye, Multiply(prevB, xe))))
    val pNew = Multiply(Subtract(Literal(1.0), Multiply(k, xe)), pPred)
    Seq(If(valid, bNew, beta), If(valid, pNew, p))
  }

  override lazy val evaluateExpression: Expression = beta

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KalmanBeta =
    copy(left = newLeft, right = newRight)
}

/** Run-bar assignment as a native Catalyst window function — the
  * sequential scan behind tick RUN bars (López de Prado AFML ch. 2
  * §2.3.2.3, fixed-threshold variant): the bar tracks HOW ONE-SIDED the
  * tape is by counting buy-classified and sell-classified ticks
  * separately; when `max(#buys, #sells) >= threshold` the bar closes
  * WITH that row and both counters reset. Unlike [[ThresholdBarId]]
  * (where opposing ticks cancel in one signed accumulator), a long
  * same-sign RUN closes a bar even when the net imbalance stays small —
  * runs and imbalance are different microstructure clocks.
  *
  * Input is the tick sign (+1/−1; null/0 counts neither side but still
  * receives a bar id). Same unbounded-memory argument as
  * [[ThresholdBarId]]: every reset depends on the whole prefix, so no
  * fixed frame or prefix-sum trick expresses it; an
  * [[AggregateWindowFunction]] scans once per partition with O(1)
  * exact-integer state. */
case class RunBarId(child: Expression, threshold: Long)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  require(threshold > 0L, s"threshold must be positive, got $threshold")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def prettyName: String = "run_bar_id"

  private val L = org.apache.spark.sql.types.LongType
  private lazy val ups = AttributeReference("ups", L, nullable = false)()
  private lazy val dns = AttributeReference("dns", L, nullable = false)()
  private lazy val bar = AttributeReference("bar", L, nullable = false)()
  private lazy val emit = AttributeReference("emit", L, nullable = false)()
  override def aggBufferAttributes: Seq[AttributeReference] =
    Seq(ups, dns, bar, emit)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L), Literal(0L))

  private def inc: Expression =
    If(IsNull(child), Literal(0L), Cast(child, L))

  override lazy val updateExpressions: Seq[Expression] = {
    val newUps = Add(ups, If(GreaterThan(inc, Literal(0L)), Literal(1L), Literal(0L)))
    val newDns = Add(dns, If(LessThan(inc, Literal(0L)), Literal(1L), Literal(0L)))
    val closed = GreaterThanOrEqual(
      If(GreaterThanOrEqual(newUps, newDns), newUps, newDns), Literal(threshold))
    Seq(
      If(closed, Literal(0L), newUps),         // ups
      If(closed, Literal(0L), newDns),         // dns
      If(closed, Add(bar, Literal(1L)), bar),  // bar
      bar)  // emit: the bar open when this row arrived (closes WITH it)
  }

  override lazy val evaluateExpression: Expression = emit

  override protected def withNewChildInternal(newChild: Expression): RunBarId =
    copy(child = newChild)
}

/** Two-state Markov-switching regime filter (Hamilton 1989, the
  * Bernoulli-emission special case) as a native Catalyst window
  * function: the forward-filtered probability `p_t = P(state 1 | signs
  * up to t)` of a hidden 2-state Markov chain observed through the
  * SIGN of each increment. State 1 emits up-moves with probability
  * `u1`, state 0 with `u0`; the chain switches 0→1 with `a01` and
  * 1→0 with `a10` per step:
  *
  * {{{ prior = p·(1−a10) + (1−p)·a01
  *     l1 = sign>0 ? u1 : 1−u1;   l0 = sign>0 ? u0 : 1−u0
  *     p ← prior·l1 / (prior·l1 + (1−prior)·l0) }}}
  *
  * Bernoulli emissions (not Gaussian) are deliberate: the per-step
  * update is then a fixed tree of IEEE +,−,×,÷ with LITERAL emission
  * likelihoods — no libm exp inside the recursion — so any engine
  * spelling the same tree reproduces the filter bit-for-bit (the
  * [[KalmanBeta]] doctrine; a Gaussian filter would compound exp's
  * last-bit libm differences through the feedback loop).
  *
  * Start is the uninformative prior 0.5 applied at the first valid
  * sign. Null or ZERO signs carry the state and emit the carried p
  * (null before the first valid sign) — a flat tick is no evidence
  * for either regime. Same unbounded-memory argument as [[EwmMean]]:
  * no fixed frame expresses the recursion; one ordered pass per
  * partition, one double of state. */
case class RegimeProb(child: Expression,
                      a01: Double, a10: Double, u0: Double, u1: Double)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  require(a01 >= 0.0 && a01 <= 1.0, s"a01 must be in [0, 1], got $a01")
  require(a10 >= 0.0 && a10 <= 1.0, s"a10 must be in [0, 1], got $a10")
  require(u0 > 0.0 && u0 < 1.0, s"u0 must be in (0, 1), got $u0")
  require(u1 > 0.0 && u1 < 1.0, s"u1 must be in (0, 1), got $u1")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "regime_prob"

  private lazy val p = AttributeReference("p", DoubleType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = p :: Nil
  override lazy val initialValues: Seq[Expression] =
    Literal(null, DoubleType) :: Nil

  private def sgn: Expression = Cast(child, DoubleType)

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(sgn), Not(EqualTo(sgn, Literal(0.0))))
    val prior = If(IsNull(p), Literal(0.5),
      Add(Multiply(p, Literal(1.0 - a10)),
        Multiply(Subtract(Literal(1.0), p), Literal(a01))))
    val up = GreaterThan(sgn, Literal(0.0))
    val l1 = If(up, Literal(u1), Literal(1.0 - u1))
    val l0 = If(up, Literal(u0), Literal(1.0 - u0))
    val num = Multiply(prior, l1)
    val pNew = Divide(num,
      Add(num, Multiply(Subtract(Literal(1.0), prior), l0)))
    Seq(If(valid, pNew, p))
  }

  override lazy val evaluateExpression: Expression = p

  override protected def withNewChildInternal(newChild: Expression): RegimeProb =
    copy(child = newChild)
}

/** GARCH(1,1) conditional-variance filter as a native Catalyst window
  * function (Bollerslev 1986) — the mean-reverting generalization of
  * the RiskMetrics EWMA variance the engine already exposes through
  * [[EwmMean]] on squared returns:
  *
  * {{{ h_0 = x²_0;   h_t = (ω + α·x²_t) + β·h_{t−1} }}}
  *
  * The child is the SQUARED return (callers pass an already-quantized
  * image, the ·10¹²-rounded double, so a 1-ULP `ln` skew between
  * engines dies before the recursion — the q_tsrv doctrine); `omega`
  * is an ordinary column (constant per partition by contract) so
  * variance-targeted ω = σ̄²·(1−α−β) — with σ̄² an exact-integer mean
  * of the quantized squares — stays data-derived without a second
  * fold. α and β are literals.
  *
  * The update is one FIXED IEEE tree `(ω + α·x²) + β·h` (left-assoc,
  * spelled identically by the oracle's `list_reduce` lambda), so both
  * engines walk bit-identical recursions from identical inputs — the
  * [[KalmanBeta]]/[[RegimeProb]] doctrine. Seeding at the first valid
  * square (h₀ = x²₀) matches `list_reduce`'s first-element init the
  * way [[EwmMean]] does. Null squares carry the state and emit the
  * carried h (null before the first valid square). Same
  * unbounded-memory argument as EWM: no fixed frame expresses the
  * recursion; one ordered pass per partition, one double of state. */
case class GarchVariance(left: Expression, right: Expression,
                         alpha: Double, beta: Double)
    extends AggregateWindowFunction
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
  require(beta >= 0.0, s"beta must be >= 0, got $beta")
  require(alpha + beta < 1.0,
    s"alpha + beta must be < 1 (covariance-stationary), got ${alpha + beta}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "garch_variance"

  private lazy val h = AttributeReference("h", DoubleType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = h :: Nil
  override lazy val initialValues: Seq[Expression] =
    Literal(null, DoubleType) :: Nil

  private def x2: Expression = Cast(left, DoubleType)
  private def omega: Expression = Cast(right, DoubleType)

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(x2), h,
      If(IsNull(h), x2,
        Add(Add(omega, Multiply(Literal(alpha), x2)),
          Multiply(Literal(beta), h))))
  )

  override lazy val evaluateExpression: Expression = h

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GarchVariance =
    copy(left = newLeft, right = newRight)
}

/** Lempel–Ziv 76 complexity of a sign tape as a native Catalyst window
  * function — the phrase count of the exhaustive-history LZ76
  * factorization (Lempel & Ziv 1976; Kaspar & Schuster 1987), the
  * entropy-proxy feature that completes the AFML ch. 18 set next to
  * permutation entropy: a new phrase closes at position j when the
  * running phrase `s[p..j]` does NOT occur as a substring of
  * `s[1..j−1]`; the emitted complexity is closed phrases + 1 if a
  * phrase is open (constant tape → 2, alternating → 3, richer dynamics
  * → grows like n/log₂n).
  *
  * Signs map to a two-letter tape (`>0 → 'u'`, `<0 → 'd'`); null/zero
  * signs carry the state and emit the carried count (a flat tick is no
  * evidence, the [[RegimeProb]] convention) — null before the first
  * valid sign. State is `(tape, phrase-start, count)` — INTEGER + text
  * only, no floating point anywhere, so any engine replaying the same
  * per-symbol fold (the q_ema list_reduce doctrine) agrees exactly.
  *
  * Inherently sequential (each step consults the full prefix), hence a
  * window function, not a frame: one ordered pass per partition. Cost
  * contract: state grows with the VALID tape length and each step is a
  * substring search — O(n²) per series worst case — so feed it
  * BUCKETED sign tapes (hourly/daily resamples, 10³–10⁴ symbols), not
  * raw tick streams; chunk longer spans upstream like any other
  * unbounded single-series chain. The contract is ENFORCED, not
  * advisory: a series whose valid tape exceeds `maxTape` raises
  * [[LzComplexity.tapeGuardMsg]] mid-fold (the mmrRerank/hayashiYoshida
  * loud-guard precedent) instead of silently going quadratic on a
  * 10⁶-tick series; callers that have priced the cost pass a larger
  * budget explicitly. */
case class LzComplexity(child: Expression,
                        maxTape: Int = LzComplexity.DefaultMaxTape)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "lz_complexity"

  private lazy val tape =
    AttributeReference("tape", StringType, nullable = false)()
  private lazy val pstart =
    AttributeReference("pstart", IntegerType, nullable = false)()
  private lazy val cnt =
    AttributeReference("cnt", IntegerType, nullable = false)()
  override def aggBufferAttributes: Seq[AttributeReference] =
    tape :: pstart :: cnt :: Nil
  override lazy val initialValues: Seq[Expression] =
    Literal(UTF8String.fromString(""), StringType) ::
      Literal(0) :: Literal(0) :: Nil

  private def sgn: Expression = Cast(child, DoubleType)

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(sgn), Not(EqualTo(sgn, Literal(0.0))))
    val ch = If(GreaterThan(sgn, Literal(0.0)),
      Literal(UTF8String.fromString("u"), StringType),
      Literal(UTF8String.fromString("d"), StringType))
    val tape2 = Concat(Seq(tape, ch))
    val j = Length(tape2)
    val phrase = Substring(tape2, Add(pstart, Literal(1)), Subtract(j, pstart))
    val prefix = Substring(tape2, Literal(1), Subtract(j, Literal(1)))
    val isNew = Not(Contains(prefix, phrase))
    // loud cost guard: raise the moment the valid tape would exceed the
    // budget — never store a tape the next step would scan quadratically
    val guarded = If(GreaterThan(j, Literal(maxTape)),
      Cast(new RaiseError(Literal(
        UTF8String.fromString(LzComplexity.tapeGuardMsg(maxTape)),
        StringType)), StringType),
      tape2)
    Seq(
      If(valid, guarded, tape),
      If(valid, If(isNew, j, pstart), pstart),
      If(valid, If(isNew, Add(cnt, Literal(1)), cnt), cnt))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(Length(tape), Literal(0)), Literal(null, IntegerType),
      Add(cnt, If(LessThan(pstart, Length(tape)), Literal(1), Literal(0))))

  override protected def withNewChildInternal(newChild: Expression): LzComplexity =
    copy(child = newChild)
}

object LzComplexity {
  /** Default tape budget — sized to the documented 10³–10⁴
    * bucketed-tape contract with slack, far below where the O(n²)
    * prefix scan starts to dominate an executor core. */
  val DefaultMaxTape: Int = 16384

  /** One guard message, shared by the batch window function and the
    * streaming fold twin so both fail identically. */
  def tapeGuardMsg(maxTape: Int): String =
    s"lz_complexity: valid sign tape exceeded maxTape=$maxTape — this " +
      "operator is O(n²) in tape length by design; feed BUCKETED sign " +
      "tapes (hourly/daily resamples) or chunk the series upstream, or " +
      "pass a larger maxTape only if the quadratic cost is priced"
}

/** Bridge between graft's public API (Column) and Catalyst (Expression).
  * Lives under `org.apache.spark.sql` to reach the `private[sql]` converters
  * of Spark 4's classic Column implementation.
  *
  * NOTE: `expression(col)` yields a *lazy* `ColumnNodeExpression` wrapper
  * that reports `resolved = true` before analysis — embedding it as the
  * child of a custom Expression breaks CheckAnalysis. Custom expressions
  * are instead named in [[GraftFunctions.builders]] (which every session
  * carries through [[GraftExtensions]]) and called with
  * `functions.call_function`, which hands the analyzer ordinary unresolved
  * children (the same path Spark's own window functions take). */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Names and builders of graft's custom Catalyst expressions, callable
  * from both the Column API
  * (`functions.call_function("graft_ewm_mean", x, lit(a))`) and plain SQL
  * in every session (see [[GraftExtensions]]). */
object GraftFunctions {
  val EwmMeanName = "graft_ewm_mean"
  val ThresholdBarIdName = "graft_threshold_bar_id"
  val RunBarIdName = "graft_run_bar_id"
  val KalmanBetaName = "graft_kalman_beta"
  val RegimeProbName = "graft_regime_prob"
  val GarchVarianceName = "graft_garch_variance"
  val LzComplexityName = "graft_lz_complexity"
  val DotName = "graft_dot"
  val LshSigsName = "graft_lsh_sigs"
  val ShinglesName = "graft_shingles"
  val WindowHashesName = "graft_window_hashes"
  val Hash48ArrayName = "graft_hash48_array"
  val SortedOverlapName = "graft_sorted_overlap"
  val CdcSegmentsName = "graft_cdc_segments"
  val NearestCentroidName = "graft_nearest_centroid"
  val PqCodesName = "graft_pq_codes"
  val PqAdcName = "graft_pq_adc"
  val PqDecodeName = "graft_pq_decode"
  val GramUpperName = "graft_gram_upper"
  val RemoveComponentName = "graft_remove_component"
  /** Spark's own BloomFilterMightContain (the runtime-row-filter probe)
    * — present on every 3.3+ classpath but not in the public function
    * registry, so graft registers it under its own name. Filter side
    * must be a foldable binary (the expression's own contract). */
  val MightContainName = "graft_might_contain"

  private def evalAlpha(e: Expression): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case other if other.foldable =>
      other.eval() match {
        case d: Double => d
        case d: java.math.BigDecimal => d.doubleValue()
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case v => throw new IllegalArgumentException(s"ewm alpha must be numeric, got $v")
      }
    case other =>
      throw new IllegalArgumentException(s"ewm alpha must be a literal, got $other")
  }

  private def evalThreshold(e: Expression): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other if other.foldable => other.eval() match {
      case l: Long => l
      case i: Int => i.toLong
      case v => throw new IllegalArgumentException(
        s"threshold must be an integer literal, got $v")
    }
    case other => throw new IllegalArgumentException(
      s"threshold must be a literal, got $other")
  }

  /** Every graft function: its name and the builder the analyzer calls
    * with the call's argument expressions. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    EwmMeanName -> (exprs => EwmMean(exprs.head, evalAlpha(exprs(1)))),
    ThresholdBarIdName -> (exprs => ThresholdBarId(exprs.head, evalThreshold(exprs(1)))),
    RunBarIdName -> (exprs => RunBarId(exprs.head, evalThreshold(exprs(1)))),
    KalmanBetaName -> (exprs => KalmanBeta(exprs.head, exprs(1), evalAlpha(exprs(2)),
      evalAlpha(exprs(3)), evalAlpha(exprs(4)))),
    RegimeProbName -> (exprs => RegimeProb(exprs.head, evalAlpha(exprs(1)),
      evalAlpha(exprs(2)), evalAlpha(exprs(3)), evalAlpha(exprs(4)))),
    GarchVarianceName -> (exprs => GarchVariance(exprs.head, exprs(1),
      evalAlpha(exprs(2)), evalAlpha(exprs(3)))),
    LzComplexityName -> (exprs => LzComplexity(exprs.head,
      if (exprs.length > 1) exprs(1) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case other if other.foldable => other.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case v => throw new IllegalArgumentException(
            s"lz_complexity maxTape must be an integer literal, got $v")
        }
        case other => throw new IllegalArgumentException(
          s"lz_complexity maxTape must be a literal, got $other")
      } else LzComplexity.DefaultMaxTape)),
    DotName -> (exprs => DotProduct(exprs.head, exprs(1))),
    LshSigsName -> (exprs => LshSignatures(exprs.head, exprs(1), exprs(2), exprs(3))),
    ShinglesName -> (exprs => Shingles(exprs.head, exprs(1))),
    WindowHashesName -> (exprs => WindowHashes(exprs.head, exprs(1))),
    Hash48ArrayName -> (exprs => Hash48Array(exprs.head)),
    SortedOverlapName -> (exprs => SortedOverlap(exprs.head, exprs(1))),
    CdcSegmentsName -> (exprs => CdcSegments(exprs.head, exprs(1))),
    NearestCentroidName -> (exprs => NearestCentroid(exprs.head, exprs(1), exprs(2))),
    PqCodesName -> (exprs => PqAssignCodes(exprs.head, exprs(1), exprs(2), exprs(3),
      exprs.lift(4))),
    PqAdcName -> (exprs => PqAdcDistance(exprs.head, exprs(1), exprs(2))),
    PqDecodeName -> (exprs => PqDecode(exprs.head, exprs(1), exprs(2), exprs.lift(3))),
    GramUpperName -> (exprs => GramUpper(exprs.head)),
    RemoveComponentName -> (exprs => RemoveComponent(exprs.head, exprs(1))),
    MightContainName -> (exprs => BloomFilterMightContain(exprs.head, exprs(1))))
}

/** Puts [[GraftFunctions.builders]] in the function registry of every
  * session. Named in `META-INF/services/
  * org.apache.spark.sql.SparkSessionExtensionsProvider`, so Spark's
  * `ServiceLoader` applies it when it builds a session, with no config
  * key; `newSession()` and the clones foreachBatch hands out inherit it. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(
        classOf[GraftExtensions].getName, null, name, null,
        "", "", "", "", "", "", "built-in"), builder))
    }
}
