package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vectorized signal backtest — the evaluation loop every strategy in
  * the reference's domain ends at (signals are produced by the feature
  * pipeline `adi/app/features/factory/market_factory.py`; this is the
  * standard next step those features feed): turn a per-tick signal
  * column into positions, PnL, an equity curve, and the risk scorecard
  * (Sharpe, max drawdown, turnover) — with NO look-ahead and no
  * driver-side loop.
  *
  * Semantics (the vectorized-backtest convention):
  *  - `position_t = signal_{t−1}` — a signal computed on tick t trades
  *    on tick t+1; the first tick of a series is flat. Null signals are
  *    flat (0), not carried.
  *  - `r_t = ln(p_t / p_{t−1})` (log returns compound additively, so the
  *    equity curve is a plain cumulative sum); non-positive/null prices
  *    drop before the order forms, like [[graft.functions.TaIndicators
  *    .realizedJumpVol]].
  *  - `pnl_t = position_t · r_t − (costBps/10⁴) · |Δposition_t|` — linear
  *    transaction costs charged on turnover, the Almgren-style linear
  *    term.
  *
  * Determinism (the Queries.scala doctrine): each pnl term quantizes to
  * `round(pnl·10⁹)` nano-units and each squared term INDEPENDENTLY to
  * `round(pnl²·10⁹)` (one level-2 quantizer per moment; a square of the
  * level-1 int would overflow i64 at |r| beyond ~3), so the equity
  * curve, its running max, the drawdown election, and both moment sums
  * are EXACT integer arithmetic — order-free across engines. Turnover
  * quantizes at `round(|Δpos|·10⁶)`. The Sharpe/ratio displays derive in
  * one fixed double tree, 6 dp. Overflow contract: `n·|pnl|²·10⁹ < 2⁶³`
  * per series (|pnl| ≤ 30 at 10⁷ ticks is safe).
  *
  * Scale shape: ONE series-keyed exchange+sort carries every window
  * (signal lag, price lag, equity cumsum, running max — same
  * partitioning and ordering, Catalyst plans one physical sort), then
  * one map-side-combined agg to a key-sized scorecard. Nothing global,
  * no self-join, no collect. */
object Backtest {

  /** Per-tick backtest frame: `(keys…, ts, tiebreak, position, ret,
    * pnl, equity, drawdown)` — `equity`/`drawdown` in log-return units
    * (6 dp from exact nano-unit integers). Feed this to [[stats]] (or
    * use [[signalBacktest]] for both in one pass). */
  def ledger(df: DataFrame, keys: Seq[String], tsCol: String,
             priceCol: String, signalCol: String, tiebreakCol: String,
             costBps: Double): DataFrame =
    annotated(df, keys, tsCol, priceCol, signalCol, tiebreakCol, costBps)
      .select(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol),
        col("_pos").as("position"), round(col("_r"), 6).as("ret"),
        round(col("_pnl_fp").cast("double") / 1e9, 6).as("pnl"),
        round(col("_eq_fp").cast("double") / 1e9, 6).as("equity"),
        round(col("_dd_fp").cast("double") / 1e9, 6).as("drawdown")): _*)

  /** Per-series scorecard: `(keys…, n_rets, n_trades, total_ret,
    * sharpe, sortino, max_drawdown, calmar, turnover)`.
    *  - `total_ret` — cumulative log return net of costs.
    *  - `sharpe` — per-tick mean/σ (population) scaled by
    *    `√annualization`; null when the pnl series is constant.
    *  - `sortino` — mean over the downside deviation
    *    `√(Σ min(pnl,0)²/n)` (full-n denominator, the standard
    *    convention), same `√annualization`; null when no tick lost.
    *  - `max_drawdown` — deepest running-max-to-trough loss of the NET
    *    equity curve, in log units (≥ 0).
    *  - `calmar` — `total_ret·(annualization/n) / max_drawdown`
    *    (annualized return over the deepest loss); null on a
    *    drawdown-free series.
    *  - `turnover` — Σ|Δposition|; `n_trades` counts the nonzero
    *    position changes (on µ-unit integers — no double ==). */
  def signalBacktest(df: DataFrame, keys: Seq[String], tsCol: String,
                     priceCol: String, signalCol: String,
                     tiebreakCol: String, costBps: Double = 0.0,
                     annualization: Double = 1.0): DataFrame = {
    require(annualization > 0.0, s"annualization must be positive")
    val a = annotated(df, keys, tsCol, priceCol, signalCol, tiebreakCol,
      costBps)
    val n = col("n_rets").cast("double")
    val mean = col("_s1").cast("double") / 1e9 / n
    // population variance from the independently quantized square sum:
    // E[x²] − E[x]² on the same doubles both engines derive
    val variance = col("_s2").cast("double") / 1e9 / n - mean * mean
    val dnVar = col("_sdn").cast("double") / 1e9 / n
    val mdd = col("_mdd").cast("double") / 1e9
    a.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rets"),
        sum(when(col("_to_fp") =!= 0L, 1L).otherwise(0L)).as("n_trades"),
        sum(col("_pnl_fp")).as("_s1"), sum(col("_sq_fp")).as("_s2"),
        sum(col("_dn_fp")).as("_sdn"),
        max(col("_dd_fp")).as("_mdd"), sum(col("_to_fp")).as("_to"))
      .select(keys.map(col) ++ Seq(col("n_rets"), col("n_trades"),
        round(col("_s1").cast("double") / 1e9, 6).as("total_ret"),
        when(variance > 0.0,
          round(mean / sqrt(variance) * math.sqrt(annualization), 6))
          .as("sharpe"),
        when(dnVar > 0.0,
          round(mean / sqrt(dnVar) * math.sqrt(annualization), 6))
          .as("sortino"),
        round(mdd, 6).as("max_drawdown"),
        when(col("_mdd") > 0L,
          round(col("_s1").cast("double") / 1e9
            * (lit(annualization) / n) / mdd, 6)).as("calmar"),
        round(col("_to").cast("double") / 1e6, 6).as("turnover")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Historical VaR + CVaR (expected shortfall) per series — the
    * loss-tail pair beside [[signalBacktest]]'s Sharpe/drawdown:
    * `VaR_α` is the exact interpolated α-quantile of the value column
    * (a RETURN column by convention — the left tail is the loss tail)
    * and `CVaR_α` the mean of the observations at or below it.
    *
    * Determinism: the quantile is Spark `percentile` ≡ DuckDB
    * `quantile_cont` (both engines interpolate between the same two
    * order statistics of the same doubles); the tail membership test
    * `v ≤ VaR` compares those same doubles; the tail mean derives from
    * an exact `round(v·10⁹)` integer sum. 6 dp displays.
    *
    * Scale shape: one grouped percentile to a key-sized bounds frame,
    * broadcast back, one grouped agg — the [[Relational.winsorize]]
    * shape; the corpus never shuffles. Exact percentile memory is
    * bounded by per-group distinct values — pass `approxAccuracy` for
    * the 100-TB sketch path (same plan shape, documented divergence
    * contract in BASELINE.md round 7). Returns
    * `(keys…, n, n_tail, var_alpha, cvar_alpha)`. */
  def varCvar(df: DataFrame, keys: Seq[String], valueCol: String,
              alpha: Double = 0.05,
              approxAccuracy: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty, "varCvar needs the series key(s)")
    require(alpha > 0.0 && alpha < 1.0, s"need 0 < alpha < 1, got $alpha")
    val v = col(valueCol).cast("double")
    val q = approxAccuracy match {
      case Some(acc) => percentile_approx(v, lit(alpha), lit(acc))
      case None => percentile(v, lit(alpha))
    }
    val bounds = df.where(v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(q.as("_var"), count(lit(1)).as("n"))
    df.where(v.isNotNull).join(broadcast(bounds), keys)
      .where(v <= col("_var"))
      .withColumn("_v_fp", round(v * 1e9).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(first(col("n")).as("n"), count(lit(1)).as("n_tail"),
        first(col("_var")).as("_q"), sum(col("_v_fp")).as("_s"))
      .select(keys.map(col) ++ Seq(col("n"), col("n_tail"),
        round(col("_q"), 6).as("var_alpha"),
        round(col("_s").cast("double") / 1e9
          / col("n_tail").cast("double"), 6).as("cvar_alpha")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** χ²(1df) 95% critical value — Kupiec's 5% rejection bound,
    * public so the oracle interpolates the same double. */
  val KupiecChi2Crit: Double = 3.841458820694124

  /** Kupiec (1995) proportion-of-failures VaR backtest — the validation
    * loop [[varCvar]] feeds: estimate `VaR_α` on a REFERENCE window,
    * count violations (`v < VaR`) on a LATER window, and test whether
    * the violation rate is consistent with α via the likelihood ratio
    * `LR_pof = −2[(n−x)·ln(1−α) + x·ln α] + 2[(n−x)·ln(1−x/n) +
    * x·ln(x/n)] ~ χ²(1)`; reject at 5% when LR > 3.8415 — the
    * regulator-standard (Basel-style) coverage test. Degenerate tails
    * (x = 0 or x = n) take the analytic limit (the 0·ln 0 terms vanish).
    *
    * Determinism: x and n are exact counts over the SAME doubles both
    * engines compare (`v < VaR`, the shared interpolated percentile);
    * `ln(1−α)`/`ln α` are JVM doubles interpolated into the oracle (the
    * GkDriftConst rule — engine-side libm folding diverges at 1 ulp);
    * the LR derives in one fixed double tree, 6 dp; the reject flag
    * compares against [[KupiecChi2Crit]].
    *
    * Scale shape: one grouped percentile on the reference → broadcast
    * key-sized bounds → one grouped count on the current window —
    * neither corpus shuffles. Returns
    * `(keys…, n, n_viol, viol_rate, var_alpha, lr_pof, reject)`. */
  def kupiecTest(ref: DataFrame, cur: DataFrame, keys: Seq[String],
                 valueCol: String, alpha: Double = 0.05,
                 approxAccuracy: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty, "kupiecTest needs the series key(s)")
    require(alpha > 0.0 && alpha < 1.0, s"need 0 < alpha < 1, got $alpha")
    val v = col(valueCol).cast("double")
    val q = approxAccuracy match {
      case Some(acc) => percentile_approx(v, lit(alpha), lit(acc))
      case None => percentile(v, lit(alpha))
    }
    val bounds = ref.where(v.isNotNull)
      .groupBy(keys.map(col): _*).agg(q.as("_var"))
    val counted = cur.where(v.isNotNull).join(broadcast(bounds), keys)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(v < col("_var"), 1L).otherwise(0L)).as("n_viol"),
        first(col("_var")).as("_q"))
    val n = col("n").cast("double")
    val x = col("n_viol").cast("double")
    val lnA = math.log(alpha)
    val ln1A = math.log(1.0 - alpha)
    // 0·ln 0 limits: the observed-rate bracket term-by-term, each term
    // zero when its count is zero
    val obs = when(col("n_viol") === col("n"), x * log(x / n))
      .when(col("n_viol") === 0L, (n - x) * log(lit(1.0) - x / n))
      .otherwise((n - x) * log(lit(1.0) - x / n) + x * log(x / n))
    val lr = lit(-2.0) * ((n - x) * lit(ln1A) + x * lit(lnA)) + lit(2.0) * obs
    counted.select(keys.map(col) ++ Seq(col("n"), col("n_viol"),
        round(x / n, 6).as("viol_rate"),
        round(col("_q"), 6).as("var_alpha"),
        round(lr, 6).as("lr_pof"),
        (lr > lit(KupiecChi2Crit)).as("reject")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Global minimum-variance portfolio from a pairwise covariance frame
    * (`key_a ≤ key_b` upper triangle incl. diagonal — the
    * [[Relational.ledoitWolfConstCorr]] / [[Relational
    * .ledoitWolfCovariance]] output shape, which is WHY those shrunk
    * estimators exist: the raw sample covariance of a wide panel is
    * singular or ill-conditioned and this solve amplifies its noise):
    * `w = Σ⁻¹𝟙 / (𝟙ᵀΣ⁻¹𝟙)`, portfolio variance `1/(𝟙ᵀΣ⁻¹𝟙)`.
    *
    * DRIVER-SIDE solve (the audited centroid-collect precedent): the
    * matrix is keys², key-sized by the correlationMatrix contract —
    * collect, Gauss-eliminate with partial pivoting in fixed double
    * arithmetic, loud `maxKeys` guard. Deterministic (fixed pivot rule
    * over the same doubles) but NOT SQL-expressible (sequential
    * pivoting) — no DuckDB oracle; correctness is spec-pinned instead:
    * closed forms, and the KKT identity `Σw ∝ 𝟙` checked against the
    * input frame itself. Weights can be negative (shorts) — long-only
    * is a different optimizer, not a clamp.
    *
    * Fails loudly on: a missing pair (the estimator frame must cover
    * the full triangle), a non-finite covariance, a pivot below 1e−12
    * (singular — shrink harder), or more than `maxKeys` keys. */
  def minVariancePortfolio(cov: DataFrame, covCol: String = "shrunk_cov",
                           maxKeys: Int = 256): DataFrame = {
    val spark = cov.sparkSession
    // bound BEFORE collecting: a mis-sized pair frame must hit the loud
    // guard, not OOM the driver inside the collect it was guarding
    val cap = maxKeys * (maxKeys + 1) / 2
    val rows = cov.select(col("key_a").cast("string"),
        col("key_b").cast("string"), col(covCol).cast("double"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"minVariancePortfolio: pair frame exceeds the $maxKeys-key " +
        s"triangle ($cap rows) — this is a driver-side key-sized solve, " +
        "shard the universe upstream")
    val keys = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val k = keys.length
    require(k >= 1,
      "minVariancePortfolio: empty covariance frame — nothing to solve " +
        "(is the upstream returns window empty at this data scale?)")
    require(k <= maxKeys,
      s"minVariancePortfolio: $k keys exceeds maxKeys=$maxKeys — this is " +
        "a driver-side key-sized solve, shard the universe upstream")
    val idx = keys.zipWithIndex.toMap
    val a = Array.fill(k, k)(Double.NaN)
    rows.foreach { r =>
      val (i, j, v) = (idx(r.getString(0)), idx(r.getString(1)),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
      a(i)(j) = v; a(j)(i) = v
    }
    for (i <- 0 until k; j <- 0 until k)
      require(java.lang.Double.isFinite(a(i)(j)),
        s"minVariancePortfolio: missing/non-finite cov(${keys(i)}, ${keys(j)})" +
          " — the estimator frame must cover the full triangle")
    // solve Σx = 𝟙, Gauss-Jordan with partial pivoting
    val m = Array.tabulate(k, k + 1)((i, j) => if (j == k) 1.0 else a(i)(j))
    for (c <- 0 until k) {
      val p = (c until k).maxBy(r => math.abs(m(r)(c)))
      require(math.abs(m(p)(c)) > 1e-12,
        "minVariancePortfolio: singular covariance — shrink harder " +
          "(ledoitWolf*) or drop collinear series")
      if (p != c) { val t = m(p); m(p) = m(c); m(c) = t }
      for (r <- 0 until k if r != c) {
        val f = m(r)(c) / m(c)(c)
        for (j <- c to k) m(r)(j) -= f * m(c)(j)
      }
    }
    val x = Array.tabulate(k)(i => m(i)(k) / m(i)(i))
    val s = x.sum
    require(s > 0.0,
      "minVariancePortfolio: 1'inv(Sigma)'1 <= 0 — covariance is not " +
        "positive definite; shrink harder")
    import spark.implicits._
    keys.zip(x).map { case (key, xi) =>
      (key, math.rint(xi / s * 1e6) / 1e6, math.rint(1.0 / s * 1e6) / 1e6)
    }.toSeq.toDF("key", "weight", "port_variance").orderBy("key")
  }

  /** Hierarchical Risk Parity (López de Prado 2016, JPM 42(4)) — the
    * inversion-free allocator next to [[minVariancePortfolio]]: where
    * min-var inverts Σ (noise-amplifying, needs shrinkage to be sane),
    * HRP only ever USES Σ — correlation distance
    * `d = √((1−ρ)/2)` → single-linkage agglomerative clustering →
    * quasi-diagonal seriation → recursive bisection, splitting risk
    * between halves by inverse cluster variance
    * (`α = 1 − V₁/(V₁+V₂)`, cluster variance from within-cluster
    * inverse-variance weights). Weights are positive and sum to 1 by
    * construction (long-only, unlike min-var's shorts).
    *
    * DRIVER-SIDE like [[minVariancePortfolio]] (key-sized, `maxKeys`
    * guard); deterministic: keys sort lexicographically, a merge only
    * replaces the incumbent when strictly better by 1e−15 (so distance
    * ties keep the FIRST (x, y) pair in the clusters-vector scan order,
    * merged clusters appending at the end), and the merged cluster
    * concatenates lower-min-index first — a fixed seriation for
    * fixed input doubles. Sequential clustering is not SQL-expressible
    * → rows-only oracle; correctness is spec-pinned (diagonal Σ
    * reproduces inverse-variance allocation EXACTLY, correlated blocks
    * share their allocation, weights sum to 1).
    *
    * Known property (kept, not a bug): on a DIAGONAL Σ, HRP ≡ plain
    * inverse-variance weighting — the dendrogram adds information only
    * when correlations do. */
  def hrpPortfolio(cov: DataFrame, covCol: String = "shrunk_cov",
                   maxKeys: Int = 256): DataFrame = {
    val spark = cov.sparkSession
    // bound BEFORE collecting (see minVariancePortfolio)
    val cap = maxKeys * (maxKeys + 1) / 2
    val rows = cov.select(col("key_a").cast("string"),
        col("key_b").cast("string"), col(covCol).cast("double"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"hrpPortfolio: pair frame exceeds the $maxKeys-key triangle " +
        s"($cap rows) — driver-side solve, shard the universe upstream")
    val keys = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val k = keys.length
    require(k >= 1,
      "hrpPortfolio: empty covariance frame — nothing to solve " +
        "(is the upstream returns window empty at this data scale?)")
    require(k <= maxKeys,
      s"hrpPortfolio: $k keys exceeds maxKeys=$maxKeys — driver-side solve")
    val idx = keys.zipWithIndex.toMap
    val a = Array.fill(k, k)(Double.NaN)
    rows.foreach { r =>
      val (i, j, v) = (idx(r.getString(0)), idx(r.getString(1)),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
      a(i)(j) = v; a(j)(i) = v
    }
    for (i <- 0 until k; j <- 0 until k)
      require(java.lang.Double.isFinite(a(i)(j)),
        s"hrpPortfolio: missing/non-finite cov(${keys(i)}, ${keys(j)})")
    for (i <- 0 until k)
      require(a(i)(i) > 0.0, s"hrpPortfolio: non-positive variance for ${keys(i)}")
    // correlation distance
    val dist = Array.tabulate(k, k) { (i, j) =>
      val rho = a(i)(j) / math.sqrt(a(i)(i) * a(j)(j))
      math.sqrt(math.max(0.0, (1.0 - rho) / 2.0))
    }
    // single-linkage agglomeration with deterministic tie-breaks;
    // merged order: lower-min-index cluster first (the seriation)
    var clusters = (0 until k).map(i => Vector(i)).toVector
    while (clusters.length > 1) {
      var best = (Double.MaxValue, -1, -1)
      for (x <- clusters.indices; y <- x + 1 until clusters.length) {
        var d = Double.MaxValue
        for (i <- clusters(x); j <- clusters(y)) d = math.min(d, dist(i)(j))
        if (d < best._1 - 1e-15) best = (d, x, y)
      }
      val (_, x, y) = best
      val (cx, cy) = (clusters(x), clusters(y))
      val merged = if (cx.min <= cy.min) cx ++ cy else cy ++ cx
      clusters = clusters.zipWithIndex
        .collect { case (c, i) if i != x && i != y => c } :+ merged
    }
    val order = clusters.head
    // recursive bisection over the seriated order
    val w = Array.fill(k)(1.0)
    def clusterVar(items: Vector[Int]): Double = {
      val inv = items.map(i => 1.0 / a(i)(i))
      val s = inv.sum
      val ww = inv.map(_ / s)
      (for ((wi, i) <- ww.zip(items); (wj, j) <- ww.zip(items))
        yield wi * wj * a(i)(j)).sum
    }
    def bisect(items: Vector[Int]): Unit = if (items.length > 1) {
      val (h1, h2) = items.splitAt((items.length + 1) / 2)
      val (v1, v2) = (clusterVar(h1), clusterVar(h2))
      val alpha = 1.0 - v1 / (v1 + v2)
      h1.foreach(i => w(i) *= alpha)
      h2.foreach(i => w(i) *= (1.0 - alpha))
      bisect(h1); bisect(h2)
    }
    bisect(order)
    val s = w.sum
    import spark.implicits._
    keys.zipWithIndex.map { case (key, i) =>
      (key, math.rint(w(i) / s * 1e6) / 1e6)
    }.toSeq.toDF("key", "weight").orderBy("key")
  }

  /** HRP via the QUANTIZED single-linkage + unrolled-bisection protocol
    * — the hash-checkable complement to [[hrpPortfolio]] (which stays
    * as the raw-double spec cross-check, the [[ercIterative]] /
    * `ercPortfolio` pairing). Every input to every sequential decision
    * is an integer image, and every fold is either an exact integer sum
    * (order-free) or a fixed IEEE double tree over such sums — so a SQL
    * oracle unrolling `merges` merge rounds and `levels` bisection
    * levels as MATERIALIZED CTEs replays the allocation bit-identically
    * (the [[minVarianceCG]] doctrine; no-op tail rounds in both
    * engines):
    *
    *  1. trace-normalize, `Σ̂ = Σ·k/tr(Σ)` as ·10⁶ BIGINT images (the
    *     [[ercIterative]] stage — HRP is scale-invariant, and the
    *     normalized diagonal pins the integer envelope below);
    *  2. distance images `dq = round(10⁶·√(max(0,(1−ρ)/2)))`,
    *     `ρ = cq_ab/√(cq_aa·cq_bb)`;
    *  3. single linkage = Kruskal over edges in `(dq, a, b)` order —
    *     Gower & Ross (1969): the greedy crossing-edge argmin IS the
    *     single-linkage dendrogram; the lexicographic tie-break
    *     replaces [[hrpPortfolio]]'s scan-order rule. Each merge
    *     prepends a side bit to its members' PATH string (lower-min-key
    *     cluster first, [[hrpPortfolio]]'s seriation convention), so
    *     the quasi-diagonal order is simply `ORDER BY (path, key)`;
    *  4. recursive bisection unrolled over ⌈len/2⌉ splits: cluster
    *     variance is the exact pair sum `N = Σᵢⱼ invqᵢ·invqⱼ·cqᵢⱼ`
    *     (`invq = round(10¹⁴/dq)`) with image `vq = round(N/S²·10¹²)`
    *     (`S = Σ invq`), split factors `m₁ = vq₂/(vq₁+vq₂)`,
    *     `m₂ = vq₁/(vq₁+vq₂)` as separate double ratios of small
    *     integers, and the weight image re-quantized `wq' = round(wq·m)`
    *     per level from `wq₀ = 10¹²`.
    *
    * The estimator frame is key²-sized for ANY corpus size, so the fold
    * runs over ONE guarded collect of ≤ cap² quantized integers
    * (cap = min(merges+1, 2^levels)) — unlike CG/ERC there is no
    * per-round global scalar to stream back, and driver-sequencing the
    * k−1 argmin picks at k ≤ 16 would be scheduling theater, not
    * distribution; the corpus itself is touched only by the upstream
    * covariance estimator. Driver rounding is `BigDecimal.valueOf(x)
    * .setScale(0, HALF_UP)` — the exact algorithm of Spark's `round`,
    * matching DuckDB's half-away rounding on these positive images.
    *
    * Envelope contract (raised loudly, not silent): every normalized
    * diagonal image must sit in [10², 10⁹] — then `invq ≤ 10¹²`,
    * `(Σ invq)²·max|cq| ≤ 4·10³³`, inside HUGEINT/exact-BigInt range,
    * and the variance images keep ≥ 6 significant digits. Returns
    * `(key, weight)`, long-only, 6 dp, keys sorted.
    * Ref behavior: López de Prado 2016 (JPM 42(4)), the same
    * allocation [[hrpPortfolio]] computes from raw doubles. */
  def hrpIterative(cov: DataFrame, covCol: String = "shrunk_cov",
                   merges: Int = 8, levels: Int = 4): DataFrame = {
    require(merges > 0 && levels > 0,
      s"hrpIterative needs merges > 0 and levels > 0, got ($merges, $levels)")
    val spark = cov.sparkSession
    import spark.implicits._
    def r0(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val cap = math.min(merges + 1, 1 << levels)
    // ONE guarded collect of the symmetric ·10⁶ image frame (key²-sized)
    val rows = symPairs(cov, covCol).limit(cap * cap + 1).collect()
    require(rows.length <= cap * cap,
      s"hrpIterative: pair frame exceeds the $cap-key budget " +
        s"(merges=$merges, levels=$levels) — raise the unroll budget " +
        "IN BOTH the engine and its oracle, or shard the universe")
    val covq = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val keys = rows.map(_.getString(0)).distinct.sorted
    val k = keys.length
    // an empty estimator frame (e.g. the balanced panel has no complete
    // bucket at tiny scale) yields an empty allocation, matching the
    // hash-gated siblings (minVarianceCG/ercIterative) and the oracle's
    // empty CTE chain — not a raise
    if (k == 0)
      return Seq.empty[(String, Double)].toDF("key", "weight")
    require(k <= cap, s"hrpIterative: $k keys exceeds the unroll budget " +
      s"cap=$cap (merges=$merges, levels=$levels)")
    keys.foreach { a => keys.foreach { b =>
      require(covq.contains((a, b)),
        s"hrpIterative: missing cov($a, $b) — the pair frame must be a " +
          "complete upper triangle")
    }}
    // trace normalization — fixed tree: round(covq · k · 10⁶ / tr)
    val trd = keys.map(a => BigInt(covq((a, a)))).sum.toDouble
    val kd = k.toDouble
    require(trd > 0.0, "hrpIterative: non-positive trace — the estimator " +
      "frame must carry positive variances")
    val cq = covq.map { case (ab, v) => ab -> r0(v.toDouble * kd * 1e6 / trd) }
    val dq = keys.map(a => a -> cq((a, a))).toMap
    keys.foreach { a =>
      require(dq(a) >= 100L && dq(a) <= 1000000000L,
        s"hrpIterative: trace-normalized variance image for '$a' is " +
          s"${dq(a)}, outside [1e2, 1e9] — the exact-integer cluster-" +
          "variance envelope needs every diagonal within ~10⁴× of the " +
          "cross-sectional mean variance; rescale or shard upstream")
    }
    // distance images, upper triangle
    val edges = (for {
      i <- keys.indices; j <- (i + 1) until k
      a = keys(i); b = keys(j)
    } yield {
      val rho = cq((a, b)).toDouble /
        math.sqrt(dq(a).toDouble * dq(b).toDouble)
      (r0(1e6 * math.sqrt(math.max(0.0, (1.0 - rho) / 2.0))), a, b)
    }).sorted // (dq, a, b) — the oracle's ORDER BY d.dq, d.a, d.b
    // Kruskal ≡ sequential crossing-edge argmin ≡ single linkage
    val lab = scala.collection.mutable.Map(keys.map(s => s -> s): _*)
    val path = scala.collection.mutable.Map(keys.map(s => s -> ""): _*)
    var done = 0
    edges.foreach { case (_, a, b) =>
      val (la, lb) = (lab(a), lab(b))
      if (la != lb && done < merges) {
        val (lo, hi) = if (la < lb) (la, lb) else (lb, la)
        keys.foreach { s =>
          if (lab(s) == lo) path(s) = "0" + path(s)
          else if (lab(s) == hi) { path(s) = "1" + path(s); lab(s) = lo }
        }
        done += 1
      }
    }
    require(done == k - 1,
      s"hrpIterative: $done merges completed but $k keys need ${k - 1} — " +
        s"unroll budget merges=$merges too small (raise it in BOTH engines)")
    val ordered = keys.sortBy(s => (path(s), s)) // ORDER BY path, k
    val ord = ordered.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    // bisection over quantized cluster-variance images
    val invq = keys.map(a => a -> r0(1e14 / dq(a).toDouble)).toMap
    val lo = scala.collection.mutable.Map(keys.map(s => s -> 1L): _*)
    val len = scala.collection.mutable.Map(keys.map(s => s -> k.toLong): _*)
    val wq = scala.collection.mutable.Map(keys.map(s => s -> 1000000000000L): _*)
    (1 to levels).foreach { _ =>
      val h1 = keys.map(s => s -> (len(s) + 1) / 2).toMap
      val hf = keys.map(s => s -> (if (ord(s) - lo(s) < h1(s)) 0 else 1)).toMap
      // per (segment, half): S = Σ invq (exact), N = Σᵢⱼ invqᵢ·invqⱼ·cqᵢⱼ
      // (exact, full double sum incl. i=j — the hrpPortfolio convention)
      val segs = keys.filter(s => len(s) > 1L).groupBy(s => (lo(s), hf(s)))
      val vq = segs.map { case (key, members) =>
        val ss = members.map(s => BigInt(invq(s))).sum
        val nn = (for (i <- members; j <- members)
          yield BigInt(invq(i)) * BigInt(invq(j)) * BigInt(cq((i, j)))).sum
        key -> r0(nn.toDouble / ss.toDouble / ss.toDouble * 1e12)
      }
      val mults = segs.keys.map(_._1).toSeq.distinct.map { l =>
        val (v1, v2) = (vq((l, 0)), vq((l, 1)))
        val m1 = if (v1 + v2 > 0) v2.toDouble / (v1 + v2).toDouble else 0.5
        val m2 = if (v1 + v2 > 0) v1.toDouble / (v1 + v2).toDouble else 0.5
        l -> (m1, m2)
      }.toMap
      keys.foreach { s =>
        if (len(s) > 1L) {
          val (m1, m2) = mults(lo(s))
          if (hf(s) == 0) {
            wq(s) = r0(wq(s).toDouble * m1)
            len(s) = h1(s)
          } else {
            wq(s) = r0(wq(s).toDouble * m2)
            lo(s) = lo(s) + h1(s)
            len(s) = len(s) - h1(s)
          }
        }
      }
    }
    require(keys.forall(s => len(s) <= 1L),
      s"hrpIterative: bisection not fully resolved after $levels levels " +
        s"for $k keys — raise `levels` in BOTH engines")
    val swq = keys.map(s => BigInt(wq(s))).sum
    keys.toSeq.map(s => (s, wq(s))).toDF("key", "wq")
      .select(col("key"),
        (round(col("wq").cast("double") / lit(swq.toDouble), 6) + lit(0.0))
          .as("weight"))
      .orderBy("key")
  }

  /** Leading principal component ("market mode") of a covariance pair
    * frame via QUANTIZED power iteration — the hash-checkable
    * complement to the driver-side allocators: no collect, no solver.
    * `cov` holds the UPPER triangle `(key_a ≤ key_b, covCol)` (the
    * [[graft.operators.Relational.ledoitWolfConstCorr]] shape, 6-dp
    * images).
    *
    * Protocol (the kmeans fixed-round doctrine — both engines fold
    * identically regardless of convergence): covariances quantize to
    * ·10⁶ BIGINTs; the vector starts all-ones and for each of `rounds`
    * rounds takes one EXACT-INTEGER matvec (products < 2⁶³ at
    * |cov| ≤ 10³ and the ·10⁶ vector image), an IEEE-exact sqrt norm
    * (the squared sum rides DECIMAL(38,0) — mv² exceeds 2⁶³), and
    * re-quantizes to the 6-dp image. Eigenvalue is the Rayleigh
    * quotient of the final image; `var_share` divides by the exact
    * diagonal trace. Every frame is key²-sized; rounds are
    * driver-sequenced plans over checkpointed key-sized vectors.
    *
    * Returns `(k, loading, eigenvalue, var_share)` — loading the 6-dp
    * unit-vector image (sign: all-ones start, so the dominant
    * component's sign is the sign of its row sums under a
    * positive-semidefinite Σ). */
  def leadingEigen(cov: DataFrame, covCol: String = "shrunk_cov",
                   rounds: Int = 8): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // r13 optimization-round restructure (the cgRoundLoop rationale —
    // the wall was the driver-loop scheduling floor, one checkpoint job
    // per round): the key-sized vector rides the rounds as a
    // driver-collected LocalRelation, so each round schedules exactly
    // ONE job (the matvec over the key²-sized LocalRelation pair image,
    // broadcast-joined against the vector — broadcasts of a
    // LocalRelation build driver-side without a job). The norm folds on
    // the driver in unbounded-integer arithmetic — exact and order-free,
    // hence value-identical to the old DECIMAL(38,0) window sum — and
    // re-injects as a literal into the UNCHANGED per-key update tree
    // (a Project over the LocalRelation: evaluated by Spark's own
    // evaluator, no job). Early exit at the quantized fixed point: a
    // round that leaves every vq image unchanged proves every later
    // round is the identity (the vector is the only loop-carried
    // input), so breaking is bit-identical to running all `rounds`
    // folds — which is what the unrolled SQL oracle does.
    val spark = cov.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // coalesce(1): see cgRoundLoop — single-task exchange-free rounds
    val pairs = DriverLoop.localize(cov.select(col("key_a").cast("string").as("a"),
      col("key_b").cast("string").as("b"),
      round(col(covCol) * 1e6).cast("long").as("covq")), "leadingEigen")
    val sym = DriverLoop.localize(pairs.unionByName(pairs.where(col("a") =!= col("b"))
      .select(col("b").as("a"), col("a").as("b"), col("covq"))), "leadingEigen").coalesce(1)
    val vSchema = StructType(Seq(StructField("k", StringType),
      StructField("vq", LongType)))
    def vFrame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), vSchema)
    var v: Seq[org.apache.spark.sql.Row] = sym.select(col("a").as("k"))
      .distinct().withColumn("vq", lit(1000000L)).collect().toSeq
    var i = 0
    var frozen = false
    while (i < rounds && !frozen) {
      // single-partition shuffle-hash matvec — one exchange-free
      // single-task stage per round (the cgRoundLoop pattern)
      val mvRows = sym
        .join(vFrame(v).coalesce(1).select(col("k").as("b"), col("vq"))
          .hint("shuffle_hash"), Seq("b"))
        .coalesce(1) // re-assert SinglePartition (see cgRoundLoop)
        .groupBy(col("a")).agg(sum(col("covq") * col("vq")).as("mv"))
        .collect()
      // Σ mv² in unbounded integers ≡ the DECIMAL(38,0) window sum; the
      // double cast of either is the same correctly-rounded value
      val sumSq = mvRows.foldLeft(BigInt(0)) { (acc, r) =>
        if (r.isNullAt(1)) acc
        else acc + BigInt(r.getLong(1)) * BigInt(r.getLong(1))
      }
      val nrm = math.sqrt(new java.math.BigDecimal(sumSq.bigInteger).doubleValue)
      val upd = spark.createDataFrame(java.util.Arrays.asList(mvRows: _*),
          StructType(Seq(StructField("a", StringType),
            StructField("mv", LongType))))
        .select(col("a").as("k"),
          when(lit(nrm) > 0.0,
            round(col("mv").cast("double") / lit(nrm) * 1e6).cast("long"))
            .otherwise(lit(0L)).as("vq"))
        .collect().toSeq
      frozen = upd.size == v.size && {
        val prev = v.map(r => r.getString(0) ->
          (if (r.isNullAt(1)) null else r.getLong(1))).toMap
        upd.forall(r => prev.get(r.getString(0))
          .contains(if (r.isNullAt(1)) null else r.getLong(1)))
      }
      v = upd
      i += 1
    }
    val vf = vFrame(v)
    val num = sym
      .join(broadcast(vf.select(col("k").as("a"), col("vq").as("va"))),
        Seq("a"))
      .join(broadcast(vf.select(col("k").as("b"), col("vq").as("vb"))),
        Seq("b"))
      .agg(sum(col("covq").cast(D38) * col("va") * col("vb")).cast("double")
        .as("num"))
    val den = vf.agg(sum(col("vq") * col("vq")).cast("double").as("den"))
    val tr = pairs.where(col("a") === col("b"))
      .agg(sum(col("covq")).cast("double").as("tr"))
    vf.crossJoin(broadcast(num))
      .crossJoin(broadcast(den))
      .crossJoin(broadcast(tr))
      .select(col("k"), (col("vq").cast("double") / lit(1e6)).as("loading"),
        (round(col("num") / col("den") / lit(1e6), 6) + lit(0.0))
          .as("eigenvalue"),
        (round(col("num") / col("den") / col("tr"), 6) + lit(0.0))
          .as("var_share"))
  }

  /** Equal-risk-contribution (risk-parity) portfolio (Maillard, Roncalli
    * & Teïletche 2010; solver: Spinu 2013's convex formulation): the
    * weights where every asset contributes the SAME share of portfolio
    * risk, `w_i·(Σw)_i = w_j·(Σw)_j` — the allocator between
    * inverse-variance (ignores correlation) and minimum-variance
    * (concentrates). Minimizes `F(x) = ½xᵀΣx − (1/k)Σln x_i` by
    * cyclical coordinate descent — each coordinate update is the
    * positive root of `σ_ii x_i² + c_i x_i − 1/k = 0` with
    * `c_i = (Σx)_i − σ_ii x_i` — then normalizes. F is strictly convex
    * on the positive orthant for PSD Σ, so the minimizer is unique and
    * CCD converges monotonically; at the optimum `x_i(Σx)_i = 1/k`
    * exactly — the ERC condition.
    *
    * DRIVER-SIDE like [[minVariancePortfolio]] (key-sized, the same
    * probe-before-collect guard); deterministic: sorted-key coordinate
    * order, inverse-vol start, fixed IEEE update tree, convergence on
    * `max|Δx| ≤ tol·max|x|`; non-convergence raises loudly (a
    * non-PSD pair frame — shrink harder upstream). Sequential
    * coordinate sweeps are not SQL-expressible — rows-only oracle
    * entry, the [[hrpPortfolio]] precedent; on a DIAGONAL Σ the
    * optimum is inverse-vol EXACTLY, which is the hash-checked
    * q_portfolio_ivp path (spec-pinned).
    *
    * Returns `(key, weight)`, weights ≥ 0 summing to 1, 6 dp. */
  def ercPortfolio(cov: DataFrame, covCol: String = "shrunk_cov",
                   maxKeys: Int = 256, maxSweeps: Int = 10000,
                   tol: Double = 1e-12): DataFrame = {
    val spark = cov.sparkSession
    // bound BEFORE collecting (see minVariancePortfolio)
    val cap = maxKeys * (maxKeys + 1) / 2
    val rows = cov.select(col("key_a").cast("string"),
        col("key_b").cast("string"), col(covCol).cast("double"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"ercPortfolio: pair frame exceeds the $maxKeys-key triangle " +
        s"($cap rows) — driver-side solve, shard the universe upstream")
    val keys = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val k = keys.length
    require(k >= 1,
      "ercPortfolio: empty covariance frame — nothing to solve " +
        "(is the upstream returns window empty at this data scale?)")
    require(k <= maxKeys,
      s"ercPortfolio: $k keys exceeds maxKeys=$maxKeys — driver-side solve")
    val idx = keys.zipWithIndex.toMap
    val a = Array.fill(k, k)(Double.NaN)
    rows.foreach { r =>
      val (i, j, v) = (idx(r.getString(0)), idx(r.getString(1)),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
      a(i)(j) = v; a(j)(i) = v
    }
    for (i <- 0 until k; j <- 0 until k)
      require(java.lang.Double.isFinite(a(i)(j)),
        s"ercPortfolio: missing/non-finite cov(${keys(i)}, ${keys(j)})")
    for (i <- 0 until k)
      require(a(i)(i) > 0.0, s"ercPortfolio: non-positive variance for ${keys(i)}")
    // inverse-vol start (the diagonal-Σ optimum), unnormalized
    val x = Array.tabulate(k)(i => 1.0 / math.sqrt(a(i)(i)))
    var sweep = 0
    var converged = k == 1
    while (!converged && sweep < maxSweeps) {
      var maxDx = 0.0
      var maxX = 0.0
      var i = 0
      while (i < k) {
        var c = 0.0
        var j = 0
        while (j < k) { if (j != i) c += a(i)(j) * x(j); j += 1 }
        val xi = (-c + math.sqrt(c * c + 4.0 * a(i)(i) / k)) / (2.0 * a(i)(i))
        maxDx = math.max(maxDx, math.abs(xi - x(i)))
        x(i) = xi
        maxX = math.max(maxX, math.abs(xi))
        i += 1
      }
      converged = maxDx <= tol * maxX
      sweep += 1
    }
    require(converged,
      s"ercPortfolio: no convergence in $maxSweeps sweeps — the pair " +
        "frame is not PSD enough for risk parity; shrink harder upstream")
    val s = x.sum
    import spark.implicits._
    keys.zipWithIndex.map { case (key, i) =>
      (key, math.rint(x(i) / s * 1e6) / 1e6)
    }.toSeq.toDF("key", "weight").orderBy("key")
  }

  private val D38q = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Exact Σ rowᵢ.colA · rowᵢ.colB over collected long columns — the
    * driver twin of `sum(colA.cast(D38q) * colB)`: integer products
    * summed in unbounded BigInt arithmetic are exact and order-free,
    * so the value is IDENTICAL to the distributed DECIMAL(38,0) fold
    * (both are the unique exact integer; `.doubleValue` on either is
    * the same correctly-rounded double). */
  private def dotLong(rows: Seq[org.apache.spark.sql.Row],
                      ia: Int, ib: Int): BigInt =
    rows.foldLeft(BigInt(0)) { (acc, r) =>
      acc + BigInt(r.getLong(ia)) * BigInt(r.getLong(ib))
    }

  /** Upper-triangle pair frame → symmetric `(a, b, covq)` long images
    * (·10⁶), localCheckpointed — the shared prologue of the quantized
    * iterative solvers ([[minVarianceCG]], [[ercIterative]], the
    * [[leadingEigen]] shape). */
  private def symPairs(cov: DataFrame, covCol: String): DataFrame = {
    // localized (r13): key²-sized by contract — see [[DriverLoop]]
    val pairs = DriverLoop.localize(cov.select(col("key_a").cast("string").as("a"),
        col("key_b").cast("string").as("b"),
        round(col(covCol) * 1e6).cast("long").as("covq")), "symPairs")
    pairs.unionByName(pairs.where(col("a") =!= col("b"))
      .select(col("b").as("a"), col("a").as("b"), col("covq")))
  }

  /** Global minimum-variance weights via QUANTIZED, diagonally
    * preconditioned conjugate gradient — the hash-checkable,
    * collect-free complement to [[minVariancePortfolio]] (which stays
    * as the exact driver-side cross-check): no solver on the driver,
    * every reduction an order-free integer sum, every scalar a fixed
    * IEEE double tree over those sums — so a SQL oracle unrolling the
    * same `rounds` folds bit-identically (the [[leadingEigen]]
    * doctrine).
    *
    * Protocol: covariances quantize to ·10⁶ BIGINTs; the system is
    * preconditioned to the CORRELATION matrix (`C = D^{-1/2}ΣD^{-1/2}`,
    * 6-dp images, |entries| ≤ 10⁶) with rhs `b_i = round(10⁶·σ_min/σ_i)`
    * — shrunk correlation matrices are well-conditioned where raw Σ is
    * not (a 100× vol spread costs CG nothing here), and the iterate's
    * 6-dp image then has uniform relative precision. Each round: one
    * exact-BIGINT matvec, `pᵀCp` and `rᵀr` on DECIMAL(38,0), α/β as
    * guarded double ratios (`α=β=0` once the residual image hits exact
    * zero — the state freezes, so excess rounds are harmless), and the
    * x/r/p updates re-quantized to 6-dp images. In exact arithmetic CG
    * finishes in ≤ k rounds; on the quantized images the residual hits
    * integer zero well before that (rehearsed: 16 rounds suffice to
    * 256 keys at cond(C) ≈ 3). The residual norm MUST be the aggregate
    * of the QUANTIZED r image (Σrq², exact integers): the algebraic
    * identity `rz' = rz − 2α·rᵀCp/10⁶ + α²·pᵀC²p/10¹²` never reaches
    * exact zero on quantized state, so α never freezes and the
    * converged iterate random-walks at the quantization floor
    * (measured 0.55 weight drift by round 12 — rejected variant).
    *
    * Un-normalized weights re-quantize as `round(yq·10³/σ_i)` (an
    * order-free integer sum then normalizes them);
    * `port_variance = σ_min·10⁹ / Σxw`. Every frame is key²-sized;
    * rounds are driver-sequenced plans over checkpointed key-sized
    * vectors — the corpus is touched only by the upstream estimator.
    * Returns `(key, weight, port_variance)`, 6 dp, matching
    * [[minVariancePortfolio]] to the quantization floor (OpsSpec pins
    * ≤ 1e−4 on the LW-CC frame; measured ≤ 2.6e−7). Degenerate
    * (≤ 0) variances raise loudly at the diagonal probe — the query
    * session runs NON-ANSI, so an unguarded zero diagonal would cast
    * `inf` corr images to silent Long.MaxValue garbage. */
  /** Collect ONE exact-DECIMAL reduction as a BigDecimal (zero when the
    * sum is null) — the scalar re-injection path the quantized solvers
    * share: the derived doubles are the same fixed IEEE trees over the
    * same exact integers the SQL oracle folds. */
  private def scalarOf(df: DataFrame): java.math.BigDecimal = {
    val r = df.collect()(0)
    if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
  }

  /** Guarded positive-diagonal frame + CORRELATION images — the shared
    * preconditioning prologue of [[minVarianceCG]] and
    * [[blackLitterman]]: `cq = round(covq/(σ_a σ_b))`, σ = √(dq/10⁶).
    * Degenerate (≤ 0) variances raise loudly at the diagonal probe —
    * the query session runs NON-ANSI, so an unguarded zero diagonal
    * would cast `inf` corr images to silent Long.MaxValue garbage. */
  private def corrImages(sym: DataFrame, who: String): (DataFrame, DataFrame) = {
    // localized (r13): key-/key²-sized by contract — the collect IS the
    // materialization the old localCheckpoint paid, and every later
    // broadcast of either frame builds driver-side with no job
    val diag = DriverLoop.localize(sym.where(col("a") === col("b"))
      .select(col("a").as("k"),
        when(col("covq") <= 0L,
          raise_error(concat(lit(s"$who: non-positive variance for key "),
            col("a"), lit(" — the estimator frame must carry a positive diagonal"))))
        .otherwise(col("covq")).as("dq")), who)
    val corr = DriverLoop.localize(sym
      .join(broadcast(diag.select(col("k").as("a"), col("dq").as("da"))), Seq("a"))
      .join(broadcast(diag.select(col("k").as("b"), col("dq").as("db"))), Seq("b"))
      .select(col("a"), col("b"),
        round(col("covq").cast("double") /
          (sqrt(col("da").cast("double") / 1e6) *
           sqrt(col("db").cast("double") / 1e6))).cast("long").as("cq")), who)
    (diag, corr)
  }

  /** The quantized preconditioned-CG round loop shared by
    * [[minVarianceCG]] (rhs = σ_min/σ images) and [[blackLitterman]]
    * (rhs = posterior-return/σ images): `st0` carries
    * `(k, dq, xq = 0, rq = pq = b image)`; returns the state after
    * `rounds` folds (or after the round whose residual image is already
    * exact zero — the frozen tail is the identity on the consumed
    * state, see below). CG's α/β are GLOBAL scalars with a strict
    * serial dependency — each round folds two exact integer reductions
    * (unbounded-integer driver sums, value-identical to the
    * DECIMAL(38,0) aggregates; not a driver solve — every per-key
    * float tree stays a Spark expression) and re-injects them as
    * literals. */
  private def cgRoundLoop(corr: DataFrame, st0: DataFrame,
                          rounds: Int): DataFrame = {
    // r13 optimization-round restructure (guide §1.2/§5: the wall here
    // was the DRIVER-LOOP SCHEDULING FLOOR — 4 jobs × ~40 ms per round,
    // not the plans). The key-sized state rides the rounds as a
    // LocalRelation: per round exactly ONE scheduled job remains (the
    // exact-BIGINT matvec over the key²-sized corr image); the pᵀCp and
    // rᵀr reductions fold on the driver in unbounded-integer arithmetic
    // (exact + order-free ⇒ bit-identical to the DECIMAL(38,0) sums they
    // replace), and the per-key x/r/p update trees are UNCHANGED Spark
    // expressions, evaluated as Projects over the LocalRelation by
    // Spark's own evaluator (ConvertToLocalRelation) without a job.
    // Early exit once the quantized residual image hits EXACT integer
    // zero: from then on α = β = 0 and every later round is the
    // identity on (xq, dq) — the only state downstream consumers read —
    // so the exit is bit-identical to running all `rounds` folds, which
    // is what the unrolled SQL oracle does.
    val spark = corr.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // coalesce(1): a LocalRelation scan otherwise parallelizes its few
    // hundred rows over many slices and the groupBy pays a full
    // exchange + AQE stage per round; SinglePartition satisfies the
    // agg's distribution, so each round is ONE single-task stage
    val corrL = DriverLoop.localize(corr, "cgRoundLoop").coalesce(1)
    // (k, dq, xq, rq, pq) — collect once; the caller's plan runs here
    var st: Seq[org.apache.spark.sql.Row] =
      st0.select("k", "dq", "xq", "rq", "pq").collect().toSeq
    def longSchema(names: String*): StructType =
      StructType(StructField("k", StringType) +:
        names.map(StructField(_, LongType)))
    def frameOf(rows: Seq[org.apache.spark.sql.Row],
                schema: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def stFrame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      frameOf(rows, longSchema("dq", "xq", "rq", "pq"))
    var rz = dotLong(st, 3, 3)
    var i = 0
    while (i < rounds && rz.signum > 0) {
      // DECIMAL(38,0) product: a LongType multiply would WRAP silently in
      // a non-ANSI session where the oracle's BIGINT multiply raises —
      // |cq·pq| ≤ ~10¹² per term leaves 26 digits of headroom, so the
      // decimal path is exact and symmetric with the pap/rz reductions
      // shuffle-hash over two SINGLE-PARTITION sides: SinglePartition
      // satisfies the join's clustering requirement AND the agg's, so
      // the whole matvec is ONE exchange-free single-task stage — no
      // broadcast query stage, no AQE job split (the 8607345 pattern)
      val mvRows = corrL
        .join(stFrame(st).coalesce(1).select(col("k").as("b"), col("pq"))
          .hint("shuffle_hash"), Seq("b"))
        .coalesce(1) // re-assert SinglePartition: a join's
        // PartitioningCollection does not satisfy the agg's clustering
        .groupBy(col("a").as("k"))
        .agg(sum(col("cq").cast(D38q) * col("pq")).cast("long").as("mv"))
        .collect()
      val mv = mvRows.map(r => r.getString(0) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
      // invariant: every state key has a matvec image — corrImages
      // guarantees a diagonal row per key, so a missing key means the
      // corr frame is malformed and absorbing it as zero would be a
      // silent semantic widening (ADVICE r13)
      require(st.forall(r => mv.contains(r.getString(0))),
        "cgRoundLoop: matvec output is missing state keys — the corr " +
          "image must carry a row (at least the diagonal) for every key")
      // joined state (pure row plumbing — no arithmetic on the driver)
      val joinedRows = st.map { r =>
        org.apache.spark.sql.Row(r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), mv.getOrElse(r.getString(0), 0L))
      }
      val pap = dotLong(joinedRows, 4, 5)
      val alpha =
        if (pap.signum > 0 && rz.signum > 0)
          rz.doubleValue * 1e6 / pap.doubleValue
        else 0.0
      val joined = frameOf(joinedRows,
        longSchema("dq", "xq", "rq", "pq", "mv"))
      val rUpd = round(col("rq").cast("double") -
        lit(alpha) * col("mv").cast("double") / lit(1e6)).cast("long")
      // Project over a LocalRelation: Spark's evaluator computes the
      // same trees the checkpointed variant ran, with no job scheduled
      val upd = joined
        .select(col("k"), col("dq"),
          round(col("xq").cast("double") +
            lit(alpha) * col("pq").cast("double")).cast("long").as("xq"),
          rUpd.as("rq"), col("pq").as("pqPrev"))
        .collect().toSeq
      val rz2 = dotLong(upd, 3, 3)
      val beta = if (rz.signum > 0) rz2.doubleValue / rz.doubleValue else 0.0
      // pq' = round(rq' + β·pq) — same tree, evaluated jobless as above
      st = frameOf(upd, longSchema("dq", "xq", "rq", "pqPrev"))
        .select(col("k"), col("dq"), col("xq"), col("rq"),
          round(col("rq").cast("double") +
            lit(beta) * col("pqPrev").cast("double")).cast("long").as("pq"))
        .collect().toSeq
      rz = rz2
      i += 1
    }
    stFrame(st)
  }

  def minVarianceCG(cov: DataFrame, covCol: String = "shrunk_cov",
                    rounds: Int = 16): DataFrame = {
    require(rounds > 0, s"minVarianceCG needs rounds > 0, got $rounds")
    val sym = symPairs(cov, covCol)
    val (diag, corr) = corrImages(sym, "minVarianceCG")
    val dmin = diag.agg(min(col("dq")).as("dmin"))
    val st0 = diag.crossJoin(broadcast(dmin))
      .select(col("k"), col("dq"), lit(0L).as("xq"),
        round(lit(1e6) * sqrt(col("dmin").cast("double") / 1e6) /
          sqrt(col("dq").cast("double") / 1e6)).cast("long").as("rq"))
      .withColumn("pq", col("rq"))
    val st = cgRoundLoop(corr, st0, rounds)
    // y → x: xw = round(yq·10³/σ); weight = xw/Σxw (order-free integer
    // sum); port_variance = σ_min·10⁹/Σxw
    val xw = st.select(col("k"),
      round(col("xq").cast("double") * lit(1e3) /
        sqrt(col("dq").cast("double") / 1e6)).cast("long").as("xwq"))
    val sxw = xw.agg(sum(col("xwq")).as("sxw"))
    xw.crossJoin(broadcast(sxw)).crossJoin(broadcast(dmin))
      .select(col("k").as("key"),
        (round(col("xwq").cast("double") / col("sxw").cast("double"), 6)
          + lit(0.0)).as("weight"),
        (round(sqrt(col("dmin").cast("double") / 1e6) * lit(1e9) /
          col("sxw").cast("double"), 6) + lit(0.0)).as("port_variance"))
      .orderBy("key")
  }

  /** Brinson single-level allocation attribution (Brinson, Hood &
    * Beebower 1986) — WHY a portfolio beat or trailed its benchmark,
    * per bucket: with portfolio weights `wp` (here the scale-free
    * inverse-variance prior, the [[blackLitterman]] market-weight
    * convention), an equal-weight benchmark `wb`, and each key's
    * period return `r_k` (first→last bucket mean), the allocation
    * effect decomposes the active return
    *
    * {{{ alloc_k = (wp_k − wb_k)·(r_k − r_B),   r_B = Σ wb·r }}}
    *
    * (single asset level — the selection/interaction terms of the
    * two-level scheme are identically zero, and Σ alloc_k = active
    * return). The attribution UNIVERSE is the keys with a positive
    * first price (a log-return universe); keys outside it are
    * excluded from weights and benchmark alike.
    *
    * Determinism contract: bucket means are exact DECIMAL sums;
    * per-key variance comes from `⌊p·10⁴⌋` BIGINT moment sums as one
    * fixed tree, re-quantized to an integer image before the min
    * (never a float argmin); weights are `round(10⁶·vmin/var)` /
    * `round(10⁶/K)` integer images normalized by their EXACT sums;
    * returns quantize to ·10⁶; the benchmark return and every effect
    * is a fixed double tree over those integers. Zero-variance keys
    * raise loudly (the [[corrImages]] precedent). Outputs round 6 dp.
    *
    * Scale shape: one map-side-combined bucket agg (corpus → series
    * rows), one key-sized moment agg, two broadcast scalar joins —
    * nothing corpus-wide shuffles twice. Returns
    * `(key, n_buckets, ret, w_port, w_bench, alloc)`. */
  def brinsonAttribution(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, interval: String = "hour")
      : DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 2)
    val h = df.where(col(valueCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("k"),
        date_trunc(interval, col(tsCol)).as("bucket"))
      .agg((sum(col(valueCol).cast(D)).cast("double") / count(lit(1))).as("p"))
      .withColumn("vq", floor(col("p") * lit(1e4)).cast("long"))
    val stats = h.groupBy("k").agg(
      count(lit(1)).as("n"),
      sum(col("vq").cast(D38q)).as("sv"),
      sum(col("vq").cast(D38q) * col("vq")).as("svv"),
      expr("min_by(p, bucket)").as("p0"),
      expr("max_by(p, bucket)").as("p1"))
    val nd = col("n").cast("double")
    val varI = (nd * col("svv").cast("double") -
      col("sv").cast("double") * col("sv").cast("double")) / (nd * nd)
    val uni = stats
      .where(col("p0") > 0.0 && col("p1") > 0.0)
      .select(col("k"), col("n"),
        round((col("p1") / col("p0") - lit(1.0)) * lit(1e6)).cast("long")
          .as("rq"),
        when(round(varI).cast("long") <= 0L,
          raise_error(concat(lit("brinsonAttribution: zero-variance key "),
            col("k"), lit(" — a constant series has no inverse-variance weight"))))
          .otherwise(round(varI).cast("long")).as("varq"))
      .localCheckpoint()
    val sc = uni.agg(min(col("varq")).as("vminq"),
      count(lit(1)).as("kn"))
    val w = uni.crossJoin(broadcast(sc))
      .select(col("k"), col("n"), col("rq"),
        round(lit(1e6) * col("vminq").cast("double") /
          col("varq").cast("double")).cast("long").as("wpq"),
        round(lit(1e6) / col("kn").cast("double")).cast("long").as("wbq"))
    val sums = w.agg(sum(col("wpq").cast(D38q)).as("swp"),
      sum(col("wbq").cast(D38q)).as("swb"),
      sum(col("wbq").cast(D38q) * col("rq")).as("rbn"))
    val j = w.crossJoin(broadcast(sums))
    val wp = col("wpq").cast("double") / col("swp").cast("double")
    val wb = col("wbq").cast("double") / col("swb").cast("double")
    val rb = col("rbn").cast("double") / (col("swb").cast("double") * lit(1e6))
    j.select(col("k").as("key"), col("n").as("n_buckets"),
        (round(col("rq").cast("double") / lit(1e6), 6) + lit(0.0)).as("ret"),
        (round(wp, 6) + lit(0.0)).as("w_port"),
        (round(wb, 6) + lit(0.0)).as("w_bench"),
        (round((wp - wb) * (col("rq").cast("double") / lit(1e6) - rb), 6)
          + lit(0.0)).as("alloc"))
      .orderBy("key")
  }

  /** Black–Litterman posterior allocation (Black & Litterman 1992; He
    * & Litterman 1999) — the views-blending allocator that completes
    * the portfolio kit beside [[minVarianceCG]] / [[ercIterative]] /
    * [[hrpIterative]]: implied returns from the inverse-variance
    * market prior, a K-view posterior tilt, and the unconstrained
    * optimal weights `w = Σ⁻¹μ_BL/δ` via the same quantized
    * preconditioned-CG fold ([[cgRoundLoop]]).
    *
    * Pipeline (all reductions exact DECIMAL(38) integer sums; every
    * scalar a fixed IEEE tree over them, re-injected as literals —
    * the CG α/β doctrine, so a SQL oracle replays bit-identically):
    *  1. market prior: `ivq = round(10⁶·dmin/dq)` scale-free
    *     inverse-variance images, implied returns `Π = δ·Σw_mkt` via
    *     one exact matvec;
    *  2. views: `(view_id, key, pq)` rows with ·10⁶ portfolio images
    *     (K ≤ 2 — the K×K posterior system inverts in closed form;
    *     larger panels belong to a research notebook, not this
    *     operator). View targets are RELATIVE: `q_v = (1+uplift)·PΠ_v`,
    *     i.e. each view portfolio is believed to return `uplift` above
    *     its implied level — scale-free across data sets;
    *  3. posterior: `z = (τPΣPᵀ + Ω)⁻¹·(q − PΠ)` with Idzorek's
    *     `Ω = τ·diag(PΣPᵀ)` (so the system is `A = τS + τ·diag(S)`),
    *     `μ_BL = Π + τΣPᵀz`, re-quantized to ·10⁶ images;
    *  4. solve: CG on the correlation-preconditioned system with rhs
    *     `bq = round(muq/σ)`; weights convert back as
    *     `w_i = (y_i/σ_i)/δ` — UNNORMALIZED by design (BL weights can
    *     be net-short; an x/Σx normalization would blow up near zero
    *     net exposure). `uplift = 0` collapses to the market prior:
    *     `z = 0`, `μ_BL = Π`, `w = w_mkt` (spec-pinned).
    *
    * Scale shape: the corr/diag frames are key²-sized, the view
    * frames K·key-sized, every stage a broadcast join + map-side
    * integer agg; rounds are driver-sequenced checkpointed plans —
    * the corpus is touched only by the upstream estimator. Returns
    * `(key, pi, mu_bl, weight)`, 6 dp. */
  def blackLitterman(cov: DataFrame, views: DataFrame,
                     covCol: String = "shrunk_cov", delta: Double = 2.5,
                     tau: Double = 0.05, uplift: Double = 0.1,
                     rounds: Int = 16): DataFrame = {
    require(rounds > 0, s"blackLitterman needs rounds > 0, got $rounds")
    require(delta > 0.0, s"risk aversion delta must be > 0, got $delta")
    require(tau > 0.0, s"prior uncertainty tau must be > 0, got $tau")
    val sym = symPairs(cov, covCol)
    val (diag, corr) = corrImages(sym, "blackLitterman")
    // an empty estimator frame (e.g. the balanced panel has no complete
    // bucket at tiny scale) yields an empty allocation, matching the
    // hash-gated siblings (minVarianceCG/hrpIterative) and the oracle's
    // empty CTE chain — not a raise
    val dminRow = diag.agg(min(col("dq"))).collect()(0)
    if (dminRow.isNullAt(0)) {
      val spark = cov.sparkSession
      import spark.implicits._
      return Seq.empty[(String, Double, Double, Double)]
        .toDF("key", "pi", "mu_bl", "weight")
    }
    // SCALE-FREE inverse-variance images (the minVarianceCG rhs
    // convention): ivq = round(10⁶·dmin/dq) — an absolute 10¹²/dq
    // image rounds to zero on large-variance frames (caught at the
    // sf0.001 gate: hourly-mean variances there are ~10⁷)
    val dminV = dminRow.getLong(0)
    val iv = DriverLoop.localize(diag.select(col("k"),
        round(lit(1e6) * lit(dminV.toDouble) / col("dq").cast("double"))
          .cast("long").as("ivq")), "blackLitterman")
    val sw = scalarOf(iv.agg(sum(col("ivq").cast(D38q)))).doubleValue
    require(sw > 0.0, "blackLitterman: degenerate prior (zero inverse-variance mass)")
    val mvw = sym
      .join(broadcast(iv.select(col("k").as("b"), col("ivq"))), Seq("b"))
      .groupBy(col("a").as("k"))
      .agg(sum(col("covq").cast(D38q) * col("ivq")).as("mvwq"))
    val pi = mvw.select(col("k"),
        (lit(delta) * col("mvwq").cast("double") / (lit(1e6) * lit(sw)))
          .as("pi"))
      .withColumn("piq", round(col("pi") * lit(1e6)).cast("long"))
    val v = DriverLoop.localize(views.select(col("view_id").cast("int").as("vid"),
        col("key").cast("string").as("k"), col("pq").cast("long").as("pq")), "blackLitterman")
    val vids = v.select("vid").distinct().collect().map(_.getInt(0)).sorted
    require(vids.nonEmpty && vids.length <= 2,
      s"blackLitterman supports 1-2 views (closed-form posterior inverse), got ${vids.length}")
    val tv = sym
      .join(broadcast(v.select(col("vid"), col("k").as("b"), col("pq"))), Seq("b"))
      .groupBy(col("vid"), col("a").as("k"))
      .agg(sum(col("covq").cast(D38q) * col("pq")).cast("long").as("tq"))
    def sVU(vv: Int, u: Int): Double = scalarOf(
      tv.where(col("vid") === vv)
        .join(v.where(col("vid") === u).select(col("k"), col("pq").as("pu")),
          Seq("k"))
        .agg(sum(col("tq").cast(D38q) * col("pu")))).doubleValue / 1e18
    def ppV(vv: Int): Double = scalarOf(
      v.where(col("vid") === vv)
        .join(broadcast(pi.select(col("k"), col("piq"))), Seq("k"))
        .agg(sum(col("pq").cast(D38q) * col("piq")))).doubleValue / 1e12
    val s11 = sVU(vids(0), vids(0))
    val r1 = uplift * ppV(vids(0))
    val (z1, z2) =
      if (vids.length == 1) {
        val a11 = 2.0 * tau * s11
        (if (a11 != 0.0) r1 / a11 else 0.0, 0.0)
      } else {
        val s12 = sVU(vids(0), vids(1))
        val s22 = sVU(vids(1), vids(1))
        val r2 = uplift * ppV(vids(1))
        val a11 = 2.0 * tau * s11
        val a12 = tau * s12
        val a22 = 2.0 * tau * s22
        val det = a11 * a22 - a12 * a12
        if (det != 0.0)
          ((r1 * a22 - a12 * r2) / det, (a11 * r2 - a12 * r1) / det)
        else (0.0, 0.0)
      }
    val tpiv = tv.groupBy("k").agg(
      max(when(col("vid") === vids(0), col("tq"))).as("t1q"),
      max(when(col("vid") === lit(if (vids.length > 1) vids(1) else -1),
        col("tq"))).as("t2q"))
    val mu = DriverLoop.localize(pi.join(tpiv, Seq("k"))
      .select(col("k"), col("pi"),
        (col("pi") + lit(tau) *
          (coalesce(col("t1q"), lit(0L)).cast("double") / lit(1e12) * lit(z1) +
           coalesce(col("t2q"), lit(0L)).cast("double") / lit(1e12) * lit(z2)))
          .as("mu"))
      .withColumn("muq", round(col("mu") * lit(1e6)).cast("long")), "blackLitterman")
    val st0 = diag.join(broadcast(mu.select(col("k"), col("muq"))), Seq("k"))
      .select(col("k"), col("dq"), lit(0L).as("xq"),
        round(col("muq").cast("double") /
          sqrt(col("dq").cast("double") / 1e6)).cast("long").as("rq"))
      .withColumn("pq", col("rq"))
    val st = cgRoundLoop(corr, st0, rounds)
    st.join(broadcast(mu.select(col("k"), col("pi"), col("mu"))), Seq("k"))
      .select(col("k").as("key"),
        (round(col("pi"), 6) + lit(0.0)).as("pi"),
        (round(col("mu"), 6) + lit(0.0)).as("mu_bl"),
        (round(col("xq").cast("double") / lit(1e6) /
          sqrt(col("dq").cast("double") / 1e6) / lit(delta), 6) + lit(0.0))
          .as("weight"))
      .orderBy("key")
  }

  /** Equal-risk-contribution weights via QUANTIZED fixed-rounds damped
    * Jacobi sweeps — the hash-checkable, collect-free complement to
    * [[ercPortfolio]] (which stays as the exact sequential-CCD
    * cross-check). Where CCD updates coordinates IN ORDER (not
    * SQL-expressible), this updates every coordinate simultaneously
    * from the previous iterate — the same per-coordinate positive root
    * `x_i = (−c_i + √(c_i² + 4σ_ii/k)) / (2σ_ii)`,
    * `c_i = (Σx)_i − σ_ii·x_i` — damped 50/50 with the incumbent and
    * re-quantized to a 6-dp image each round, so both engines fold
    * identically regardless of convergence (the kmeans doctrine).
    *
    * The matrix is trace-normalized first (`Σ̂ = Σ·k/tr(Σ)`, 6-dp
    * images — ERC weights are scale-invariant) so the iterate's image
    * sits at O(10⁶) for any input scale; the start is the
    * inverse-vol point (exact on diagonal Σ — the same closed form
    * [[ercPortfolio]] uses). Rehearsed: 40 damped rounds match exact
    * CCD ≤ 3e−5 to 256 keys at cond(Σ) ≈ 10⁴. One exact-BIGINT matvec
    * per round over a key²-sized frame; driver-sequenced checkpointed
    * key-sized state. Returns `(key, weight)`, long-only, 6 dp. */
  def ercIterative(cov: DataFrame, covCol: String = "shrunk_cov",
                   rounds: Int = 40, damping: Double = 0.5): DataFrame = {
    require(rounds > 0, s"ercIterative needs rounds > 0, got $rounds")
    require(damping > 0.0 && damping <= 1.0,
      s"damping must be in (0, 1], got $damping")
    val sym = symPairs(cov, covCol)
    val trk = sym.where(col("a") === col("b"))
      .agg(sum(col("covq")).cast("double").as("trd"),
        count(lit(1)).cast("double").as("kd"))
    // coalesce(1): see cgRoundLoop — keeps each round's matvec agg a
    // single-task exchange-free stage over the key²-sized image
    val covn = DriverLoop.localize(sym.crossJoin(broadcast(trk))
      .select(col("a"), col("b"), col("kd"),
        round(col("covq").cast("double") * col("kd") * lit(1e6) / col("trd"))
          .cast("long").as("cq")), "ercIterative").coalesce(1)
    // non-ANSI sessions would fold sqrt(≤0) into silent NaN→0 images —
    // raise at the diagonal probe instead (the minVarianceCG guard)
    val diag = covn.where(col("a") === col("b"))
      .select(col("a").as("k"),
        when(col("cq") <= 0L,
          raise_error(concat(lit("ercIterative: non-positive variance for key "),
            col("a"), lit(" — the estimator frame must carry a positive diagonal"))))
        .otherwise(col("cq")).as("dq"), col("kd"))
    // r13 optimization-round restructure (the cgRoundLoop rationale):
    // the key-sized state rides the rounds as a driver-collected
    // LocalRelation — ONE scheduled job per round (the matvec + update
    // plan, collected) instead of a checkpoint job plus a broadcast
    // build job; values identical (same expression trees over the same
    // rows). Early exit at the quantized FIXED POINT: once a round
    // leaves every xq image unchanged, every later round recomputes the
    // identical update (the state is the only loop-carried input), so
    // breaking is bit-identical to running all `rounds` folds — which
    // is what the unrolled SQL oracle does.
    val spark = cov.sparkSession
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val stSchema = StructType(Seq(StructField("k", StringType),
      StructField("dq", LongType), StructField("kd", DoubleType),
      StructField("xq", LongType)))
    def stFrame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), stSchema)
    var st: Seq[org.apache.spark.sql.Row] = diag
      .select(col("k"), col("dq"), col("kd"),
        round(lit(1e9) / sqrt(col("dq").cast("double"))).cast("long").as("xq"))
      .collect().toSeq
    var i = 0
    var frozen = false
    while (i < rounds && !frozen) {
      // DECIMAL(38,0) product — same wrap-vs-raise symmetry note as
      // minVarianceCG's matvec; |cq·xq| ≤ ~10¹² per term
      // single-partition shuffle-hash rounds: the matvec, its agg, and
      // the update join all ride SinglePartition — one exchange-free
      // single-task stage per round, no broadcast query stages (the
      // cgRoundLoop / 8607345 pattern)
      val stDF = stFrame(st).coalesce(1)
      val mv = covn
        .join(stDF.select(col("k").as("b"), col("xq")).hint("shuffle_hash"),
          Seq("b"))
        .coalesce(1) // re-assert SinglePartition (see cgRoundLoop)
        .groupBy(col("a").as("k"))
        .agg(sum(col("cq").cast(D38q) * col("xq")).cast("long").as("mv"))
      val c = (col("mv").cast("double") -
        col("dq").cast("double") * col("xq").cast("double")) / lit(1e12)
      val aii = col("dq").cast("double") / lit(1e6)
      val u = (negate(c) + sqrt(c * c + lit(4.0) * aii / col("kd"))) /
        (lit(2.0) * aii)
      val upd = stDF.join(mv.hint("shuffle_hash"), Seq("k"))
        .select(col("k"), col("dq"), col("kd"),
          round(lit(1.0 - damping) * col("xq").cast("double") +
            lit(damping) * u * lit(1e6)).cast("long").as("xq"))
        .collect().toSeq
      frozen = upd.size == st.size && {
        val prev = st.map(r => r.getString(0) -> r.getLong(3)).toMap
        upd.forall(r => prev.get(r.getString(0)).contains(r.getLong(3)))
      }
      st = upd
      i += 1
    }
    val stOut = stFrame(st)
    val sx = stOut.agg(sum(col("xq")).as("sx"))
    stOut.crossJoin(broadcast(sx))
      .select(col("k").as("key"),
        (round(col("xq").cast("double") / col("sx").cast("double"), 6)
          + lit(0.0)).as("weight"))
      .orderBy("key")
  }

  /** Weighted-portfolio roll-up of a per-series [[ledger]] frame: join
    * allocator weights (a key-sized frame — [[minVariancePortfolio]] /
    * [[hrpPortfolio]] output, or any `(keys…, weight)`), quantize each
    * series' contribution `round(weight·pnl·10⁹)` to an exact nano-unit
    * BIGINT, and aggregate per time bucket into the portfolio PnL,
    * equity curve, and drawdown — the composition stage between the
    * allocators and the scorecard.
    *
    * Missing-series buckets contribute nothing that hour (the standard
    * convention for unaligned panels); `n_assets` records how many
    * series actually traded each bucket. Determinism: contributions
    * quantize BEFORE the sum (order-free integers), equity/runmax/
    * drawdown stay integer, 6 dp displays.
    *
    * Scale shape: one broadcast join (weights are key-sized by the
    * allocator contract), one bucket-keyed agg, then ONE single-series
    * ordered window over the bucket grid — the portfolio curve is one
    * series by definition, so its length is bounded by the time span /
    * bucket size, not by ticks; for unbounded spans fold it through
    * [[graft.operators.DriftMonitor.cusumFold]]-style chunking like any
    * other single-series chain. Returns
    * `(tsCol, n_assets, pnl, equity, drawdown)`. */
  def portfolioLedger(led: DataFrame, weights: DataFrame, keys: Seq[String],
                      tsCol: String, weightCol: String = "weight"): DataFrame = {
    require(keys.nonEmpty, "portfolioLedger needs the series key(s)")
    val wG = Window.orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    led.join(broadcast(weights), keys)
      .withColumn("_c_fp",
        round(col(weightCol).cast("double") * col("pnl") * 1e9).cast("long"))
      .groupBy(col(tsCol))
      .agg(count(lit(1)).as("n_assets"), sum(col("_c_fp")).as("_p_fp"))
      .withColumn("_eq_fp", sum(col("_p_fp")).over(wG))
      .withColumn("_dd_fp",
        greatest(max(col("_eq_fp")).over(wG), lit(0L)) - col("_eq_fp"))
      .select(col(tsCol), col("n_assets"),
        round(col("_p_fp").cast("double") / 1e9, 6).as("pnl"),
        round(col("_eq_fp").cast("double") / 1e9, 6).as("equity"),
        round(col("_dd_fp").cast("double") / 1e9, 6).as("drawdown"))
      .orderBy(col(tsCol))
  }

  /** Probabilistic Sharpe ratio z-score (Bailey & López de Prado 2014,
    * J. Risk 15(2)) per series — the evaluation capstone over
    * [[signalBacktest]]: the plain Sharpe overstates skill when returns
    * are skewed/fat-tailed or the sample is short;
    * `z = (SR − SR*)·√(n−1) / √(1 − γ₃·SR + ((γ₄−1)/4)·SR²)`
    * corrects for all three (SR here is PER-PERIOD, the PSR
    * convention — not annualized). `Φ(z)` is the caller's last step
    * (erf is not in the determinism kit); z orders identically.
    *
    * Determinism: pnl, pnl², pnl³, pnl⁴ quantize INDEPENDENTLY to
    * `round(·10⁹)` BIGINTs (the realizedMoments pattern) and sum
    * exactly; central moments, γ₃/γ₄, and z derive in one fixed double
    * tree, 6 dp. Overflow contract: `n·pnl⁴·10⁹ < 2⁶³` per series
    * (|pnl| ≤ 9.8 at 10⁶ ticks is safe; a |pnl| ≤ 30 series needs
    * n ≲ 10⁴ — log-return pnl in that range means something upstream
    * is already broken). Null z when the pnl series is
    * constant or the denominator polynomial goes non-positive (γ₃/γ₄
    * outside the expansion's validity — report honestly, don't clamp).
    *
    * Scale shape: [[signalBacktest]]'s one keyed sort + one map-side
    * agg. Returns `(keys…, n_rets, sr, skew, kurt, psr_z)`. */
  def probabilisticSharpe(df: DataFrame, keys: Seq[String], tsCol: String,
                          priceCol: String, signalCol: String,
                          tiebreakCol: String, costBps: Double = 0.0,
                          benchmarkSr: Double = 0.0): DataFrame = {
    val a = annotated(df, keys, tsCol, priceCol, signalCol, tiebreakCol,
      costBps)
      .withColumn("_q3",
        round(col("_pnl") * col("_pnl") * col("_pnl") * 1e9).cast("long"))
      .withColumn("_q4",
        round(col("_pnl") * col("_pnl") * col("_pnl") * col("_pnl") * 1e9)
          .cast("long"))
    val n = col("n_rets").cast("double")
    val m1 = col("_s1").cast("double") / 1e9 / n
    val m2 = col("_s2").cast("double") / 1e9 / n
    val m3 = col("_s3").cast("double") / 1e9 / n
    val m4 = col("_s4").cast("double") / 1e9 / n
    val v = m2 - m1 * m1
    val mu3 = m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1
    // NB: the continuation lines MUST stay inside the parens — a bare
    // leading `-` on a new line is a separate (discarded) statement to
    // Scala, which silently dropped the −3m1⁴ term in round 8
    val mu4 = (m4 - lit(4.0) * m1 * m3 + lit(6.0) * m1 * m1 * m2
      - lit(3.0) * m1 * m1 * m1 * m1)
    val sd = sqrt(v)
    val sr = m1 / sd
    val g3 = mu3 / (v * sd)
    val g4 = mu4 / (v * v)
    val denom = lit(1.0) - g3 * sr + (g4 - lit(1.0)) / lit(4.0) * sr * sr
    val z = (sr - lit(benchmarkSr)) * sqrt(n - lit(1.0)) / sqrt(denom)
    a.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rets"),
        sum(col("_pnl_fp")).as("_s1"), sum(col("_sq_fp")).as("_s2"),
        sum(col("_q3")).as("_s3"), sum(col("_q4")).as("_s4"))
      .select(keys.map(col) ++ Seq(col("n_rets"),
        when(v > 0.0, round(sr, 6)).as("sr"),
        when(v > 0.0, round(g3, 6)).as("skew"),
        when(v > 0.0, round(g4, 6)).as("kurt"),
        when(v > 0.0 && denom > 0.0 && col("n_rets") > 1L,
          round(z, 6)).as("psr_z")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Diversification ratio + effective number of bets of a weighted
    * portfolio (Choueifaty & Coignard 2008, "Toward Maximum
    * Diversification"): `DR = Σ wᵢσᵢ / √(wᵀΣw)` — the weighted average
    * volatility over the actual portfolio volatility (1 when everything
    * is one bet, √N for N equal independent bets) — and `ENB = DR²`,
    * the equivalent count of independent bets. The diagnostic the
    * allocators ([[minVariancePortfolio]], [[hrpPortfolio]], inverse
    * variance) are judged by.
    *
    * Inputs: the pairwise covariance frame (`key_a ≤ key_b` triangle,
    * the Ledoit–Wolf output shape) and a `(key, weight)` frame.
    * Determinism: weights and covariances are the 6-dp values the
    * producing operators emit; each numerator term `wᵢ·√Σᵢᵢ` and each
    * quadratic term `mult·wₐ·w_b·Σₐ_b` (mult 2 off-diagonal) quantizes
    * to `round(·10⁹)` BIGINTs and sums exactly; DR derives in one fixed
    * double tree, 6 dp. Null when the quadratic form is non-positive
    * (a non-PSD estimate — report honestly).
    *
    * Scale shape: two broadcast joins of the key-sized weight frame
    * onto the key²-sized pair frame, one global agg. Returns one row
    * `(n_assets, div_ratio, enb)`. */
  def diversificationRatio(cov: DataFrame, weights: DataFrame,
                           covCol: String = "shrunk_cov"): DataFrame = {
    val wa = broadcast(weights.select(col("key").cast("string").as("key_a"),
      col("weight").cast("double").as("_wa")))
    val wb = broadcast(weights.select(col("key").cast("string").as("key_b"),
      col("weight").cast("double").as("_wb")))
    val diag = col("key_a") === col("key_b")
    val num = col("_num").cast("double") / 1e9
    val pv = col("_pv").cast("double") / 1e9
    val dr = num / sqrt(pv)
    cov.select(col("key_a").cast("string").as("key_a"),
        col("key_b").cast("string").as("key_b"),
        col(covCol).cast("double").as("_c"))
      .join(wa, "key_a").join(wb, "key_b")
      .agg(count(when(diag, lit(1))).as("n_assets"),
        sum(when(diag, round(col("_wa") * sqrt(col("_c")) * 1e9).cast("long")))
          .as("_num"),
        sum(round(when(diag, lit(1.0)).otherwise(lit(2.0))
          * col("_wa") * col("_wb") * col("_c") * 1e9).cast("long")).as("_pv"))
      .select(col("n_assets"),
        when(pv > 0.0, round(dr, 6)).as("div_ratio"),
        when(pv > 0.0, round(dr * dr, 6)).as("enb"))
  }

  /** Euler–Mascheroni γ — the expected-maximum weight in [[deflatedSharpe]]'s
    * SR₀, public so the oracle interpolates the same double. */
  val EulerGamma: Double = 0.5772156649015329

  /** √2, interpolated from the JVM (the
    * [[graft.functions.TaIndicators]] CsDenom pattern) so [[normCdf]]'s
    * z/√2 is the identical IEEE division on both engines. */
  val Sqrt2: Double = math.sqrt(2.0)

  /** Standard-normal CDF as a COLUMN expression — Abramowitz & Stegun
    * 7.1.26 (|err| < 1.5e−7): `erf(x) = 1 − (a₁t + … + a₅t⁵)·e^(−x²)`,
    * `t = 1/(1 + 0.3275911·x)`, `Φ(z) = ½(1 + sign(z)·erf(|z|/√2))`.
    * Pure fixed-shape double arithmetic plus ONE data-dependent `exp`
    * (the q_cs_spread precedent: both engines' libm agree at the 6-dp
    * images every caller rounds to); the A&S coefficients are compile-
    * time literals, so the oracle replays the identical tree. Unlike
    * [[invNorm]] (a DRIVER-side Double→Double for quantiles known at
    * plan time), this evaluates per ROW — bet sizing needs Φ of a
    * data-dependent z. The exp OUTPUT quantizes to the 10⁻⁹ grid (the
    * µnat-BIGINT doctrine for libm calls: engines agree to ~1 ulp, but
    * a raw last-bit difference can flip a downstream round at a .5
    * boundary — round-11 caught exactly that, 3 of 719 q_bet_size rows
    * off by one 10⁻⁶ size unit); after the quantization the rest of
    * the tree is fixed double arithmetic over exact images. */
  def normCdf(z: Column): Column = {
    val x = abs(z) / lit(Sqrt2)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t
      + lit(0.254829592)) * t
    val eq = round(exp(-(x * x)) * 1e9).cast("long").cast("double") / lit(1e9)
    val erf = lit(1.0) - poly * eq
    lit(0.5) * (lit(1.0) + signum(z) * erf)
  }

  /** Bet size from a predicted probability (AFML ch. 10 §10.3):
    * `z = (p − ½)/√(p(1−p))` (the test statistic of p against the ½
    * coin), `size = 2·Φ(z) − 1` ∈ (−1, 1) — monotone in conviction,
    * 0 at p = ½. The SIDE multiplies in at the caller ([[betSizing]])
    * so a p < ½ short-signal sizes symmetrically. Callers must feed
    * 0 < p < 1 ([[betSizing]] null-drops and range-guards). */
  def probToSize(p: Column): Column = {
    val z = (p - lit(0.5)) / sqrt(p * (lit(1.0) - p))
    lit(2.0) * normCdf(z) - lit(1.0)
  }

  /** Average active bet size + discretization (AFML ch. 10 §10.4): each
    * bet row `(keys…, t0, t1, prob, side)` carries the size
    * `side·(2Φ(z)−1)` over its ACTIVE window `[t0, t1]` (µs, inclusive);
    * at every evaluation instant (the distinct bet-entry times — sizes
    * only change when a bet opens or closes, and closes are visible at
    * the next entry) the signal is the MEAN size of the active bets,
    * then discretized to the `stepSize` grid
    * (`round(avg/step)·step` — the broker-lot / turnover throttle).
    *
    * Determinism: per-bet sizes quantize to `round(size·10⁶)` BIGINTs
    * at the source (one Φ tree per bet, 6-dp image), the active sums
    * ride EXACT integer (Σsizeq, count) prefix sums, and the mean's
    * own 10⁻⁶ image is ONE single-arg `round(Σsizeq/n)` of the exact
    * integer ratio — NOT `round(x, 6)`: with n even the true mean
    * lands EXACTLY on decimal-grid midpoints (Σ odd, n = 2 ⇒ …k.5
    * µunits), where Spark's exact-BigDecimal HALF_UP and DuckDB's
    * ×10⁶-then-round disagree by construction (round-11 caught 3 such
    * rows); on the integer ratio every tie is an exact binary .5,
    * which BOTH engines round away from zero. The discretized size
    * normalizes its zero image (`+ 0.0` — a tiny-negative mean must
    * not hash-diverge on the −0.0 bit, the q_ar_spread lesson).
    *
    * Scale shape: the [[graft.operators.Labeling.averageUniqueness]]
    * sweep — deltas (+sizeq/+1 at t0, −sizeq/−1 at t1+1) union the
    * evaluation instants through ONE series-keyed window pass; no
    * bet×instant pair frame at any density.
    *
    * Returns `(keys…, ts_us, n_active, avg_size, bet_size)`. */
  /** Validated, size-quantized bet frame `(keys…, _t0, _t1, _szq)` —
    * the shared prep of [[betSizing]] and the streaming fold
    * [[MarketIncremental.betSizingFold]] (one definition of the Φ-tree
    * 6-dp size image, so batch and incremental cannot diverge on it). */
  def betDeltasPrepped(bets: DataFrame, keys: Seq[String], t0Col: String,
                       t1Col: String, probCol: String,
                       sideCol: String): DataFrame = {
    require(keys.nonEmpty, "betSizing needs the series key(s)")
    val kCols = keys.map(col)
    val p = col(probCol).cast("double")
    val side = col(sideCol).cast("double")
    bets.select(kCols ++ Seq(col(t0Col).cast("long").as("_t0"),
        col(t1Col).cast("long").as("_t1"), p.as("_p"), side.as("_side")): _*)
      .where(col("_t0").isNotNull && col("_t1").isNotNull &&
        col("_t1") >= col("_t0") && col("_p").isNotNull && col("_side").isNotNull)
      .withColumn("_p", when(col("_p") <= 0.0 || col("_p") >= 1.0,
        raise_error(concat(lit(s"betSizing: probability out of (0,1) in '$probCol': "),
          col("_p").cast("string")))).otherwise(col("_p")))
      .withColumn("_szq",
        round(col("_side") * probToSize(col("_p")) * 1e6).cast("long"))
      .drop("_p", "_side")
  }

  /** The bet-sizing sweep's emission: prefix-sum the `(keys…, _ts, _f,
    * _dsz, _dn)` event stream in (_ts, _f) order and emit the grid rows
    * (`_f = 1`) as `(keys…, ts_us, n_active, avg_size, bet_size)` —
    * ONE definition of the exact integer prefix sums, the single-arg
    * `round(Σsizeq/n)` mean image, and the discretization tree, shared
    * by [[betSizing]] and [[MarketIncremental.betSizingFold]] so the
    * batch and incremental paths cannot drift (the OpsSpec bit-identity
    * contract depends on this tree being literally the same). */
  def betSweep(events: DataFrame, keys: Seq[String],
               stepSize: Double): DataFrame = {
    require(stepSize > 0.0 && stepSize <= 1.0,
      s"stepSize must be in (0, 1], got $stepSize")
    val kCols = keys.map(col)
    val w = Window.partitionBy(kCols: _*).orderBy(col("_ts"), col("_f"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val avgQ = round(col("_ssz").cast("double") /
      col("_cnt").cast("double")).cast("long")
    val stepQ = stepSize * 1e6
    events
      .withColumn("_ssz", sum(col("_dsz")).over(w))
      .withColumn("_cnt", sum(col("_dn")).over(w))
      .where(col("_f") === 1 && col("_cnt") > 0L)
      .select(kCols ++ Seq(col("_ts").as("ts_us"), col("_cnt").as("n_active"),
        (avgQ.cast("double") / lit(1e6)).as("avg_size"),
        (round(avgQ.cast("double") / lit(stepQ)) * lit(stepSize) + lit(0.0))
          .as("bet_size")): _*)
  }

  def betSizing(bets: DataFrame, keys: Seq[String], t0Col: String,
                t1Col: String, probCol: String, sideCol: String,
                stepSize: Double): DataFrame = {
    val kCols = keys.map(col)
    val b0 = betDeltasPrepped(bets, keys, t0Col, t1Col, probCol, sideCol)
    def shaped(f: Int, ts: Column, dsz: Column, dn: Column, src: DataFrame) =
      src.select(kCols ++ Seq(ts.as("_ts"), lit(f).as("_f"),
        dsz.as("_dsz"), dn.as("_dn")): _*)
    val deltas = shaped(0, col("_t0"), col("_szq"), lit(1L), b0)
      .unionByName(shaped(0, col("_t1") + 1L, -col("_szq"), lit(-1L), b0))
    val grid = b0.select(kCols :+ col("_t0").as("_ts"): _*).distinct()
      .select(kCols ++ Seq(col("_ts"), lit(1).as("_f"),
        lit(0L).as("_dsz"), lit(0L).as("_dn")): _*)
    betSweep(deltas.unionByName(grid), keys, stepSize)
  }

  /** Inverse standard-normal CDF, Acklam's rational approximation
    * (peter.acklam 2003, |rel err| < 1.15e−9) — deterministic pure
    * double arithmetic, public so [[deflatedSharpe]]'s z-quantiles
    * interpolate into the oracle as plain literals (the
    * KupiecChi2Crit / GkDriftConst pattern; erf⁻¹ is not in either
    * engine's determinism kit). */
  def invNorm(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"invNorm needs 0 < p < 1, got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1.0 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }

  /** Deflated Sharpe ratio (Bailey & López de Prado 2014, "The Deflated
    * Sharpe Ratio: Correcting for Selection Bias, Backtest Overfitting,
    * and Non-Normality") — the multiple-testing capstone over
    * [[probabilisticSharpe]]: having effectively run `expectedTrials`
    * backtest variants per series (here: the trial slices in
    * `trialCol`), the best of them is expected to show
    * `SR₀ = √V[SR_trials] · ((1−γ)·Φ⁻¹(1−1/N) + γ·Φ⁻¹(1−1/(N·e)))`
    * Sharpe by pure luck; the DSR is the PSR z of the FULL-sample
    * strategy against that luck benchmark instead of zero. A strategy
    * whose full-sample SR cannot beat the expected maximum of its own
    * trial noise has no demonstrated skill.
    *
    * `expectedTrials` is the DESIGN trial count (a config, not data —
    * the Φ⁻¹ quantiles are compile-time constants for the query, the
    * oracle-interpolation contract): every key must show exactly that
    * many trials or the job fails loudly rather than silently deflating
    * by the wrong N.
    *
    * Determinism: per-trial SRs derive from exact nano-quantized moment
    * sums and round to 6 dp; their cross-trial variance runs on the
    * EXACT ·10⁶ integers those 6-dp values are; SR₀ and the final z are
    * fixed double trees with γ / Φ⁻¹ interpolated from the JVM
    * ([[EulerGamma]], [[invNorm]]). Full-sample moments are the
    * [[probabilisticSharpe]] machinery unchanged.
    *
    * Scale shape: one (keys, trial) keyed sort + agg → a trial-sized
    * frame → one key-sized agg, then one (keys) keyed sort + agg for
    * the full sample and a broadcast join of the key-sized SR₀ frame.
    * Returns `(keys…, n_rets, n_trials, sr, var_sr_trials, sr0,
    * dsr_z)`. */
  /** `(1−γ)·Φ⁻¹(1−1/N) + γ·Φ⁻¹(1−1/(N·e))` — the expected-maximum
    * coefficient of [[deflatedSharpe]]'s SR₀, public so the oracle
    * interpolates the IDENTICAL compound double. */
  def dsrExpectedMaxCoeff(n: Int): Double =
    (1.0 - EulerGamma) * invNorm(1.0 - 1.0 / n) +
      EulerGamma * invNorm(1.0 - 1.0 / (n * math.E))

  def deflatedSharpe(df: DataFrame, keys: Seq[String], tsCol: String,
                     priceCol: String, signalCol: String,
                     tiebreakCol: String, trialCol: String,
                     expectedTrials: Int, costBps: Double = 0.0): DataFrame = {
    require(expectedTrials >= 2, s"need >= 2 trials, got $expectedTrials")
    // per-trial per-period Sharpe from exact moment sums
    val at = annotated(df, keys :+ trialCol, tsCol, priceCol, signalCol,
      tiebreakCol, costBps)
    val tn = col("_tn").cast("double")
    val tm = col("_t1").cast("double") / 1e9 / tn
    val tv = col("_t2").cast("double") / 1e9 / tn - tm * tm
    val trials = at.groupBy((keys :+ trialCol).map(col): _*)
      .agg(count(lit(1)).as("_tn"), sum(col("_pnl_fp")).as("_t1"),
        sum(col("_sq_fp")).as("_t2"))
      .select(keys.map(col) :+
        when(tv > 0.0, round(tm / sqrt(tv), 6)).as("_sr_t"): _*)
    // cross-trial variance on the exact ·10⁶ integers of the 6-dp SRs;
    // a constant-pnl trial (null SR) still counts toward the trial
    // count — it must equal expectedTrials — but a null SR means the
    // variance (and so SR₀) is undefined → null dsr_z, not a guess
    val q = col("_srq").cast("double")
    val nT = col("n_trials").cast("double")
    val varSr = (col("_sq").cast("double") / nT - (col("_sq1").cast("double") / nT)
      * (col("_sq1").cast("double") / nT)) / 1e12
    val sr0Frame = trials
      .withColumn("_srq", round(col("_sr_t") * 1e6).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_trials"), count(col("_srq")).as("_nv"),
        sum(col("_srq")).as("_sq1"), sum(col("_srq") * col("_srq")).as("_sq"))
      .select(keys.zipWithIndex.map { case (k, i) =>
        // the guard rides the FIRST join key — evaluated under any
        // downstream consumption incl. count() (a plain guarded output
        // column would be pruned there and never fire)
        if (i > 0) col(k)
        else when(col("n_trials") =!= expectedTrials,
          raise_error(concat(lit("deflatedSharpe: a key shows "),
            col("n_trials").cast("string"),
            lit(s" trials, expectedTrials=$expectedTrials — the deflation " +
              "quantiles are sized for N, fix the trial assignment"))))
          .otherwise(col(k)).as(k)
      } ++ Seq(col("n_trials"),
        when(col("_nv") === col("n_trials") && varSr >= 0.0,
          round(sqrt(varSr) * lit(dsrExpectedMaxCoeff(expectedTrials)), 6))
          .as("sr0"),
        when(col("_nv") === col("n_trials"),
          round(varSr, 6)).as("var_sr_trials")): _*)
    // full-sample PSR machinery against the per-key SR₀ benchmark
    val af = annotated(df, keys, tsCol, priceCol, signalCol, tiebreakCol,
      costBps)
      .withColumn("_q3",
        round(col("_pnl") * col("_pnl") * col("_pnl") * 1e9).cast("long"))
      .withColumn("_q4",
        round(col("_pnl") * col("_pnl") * col("_pnl") * col("_pnl") * 1e9)
          .cast("long"))
    val n = col("n_rets").cast("double")
    val m1 = col("_s1").cast("double") / 1e9 / n
    val m2 = col("_s2").cast("double") / 1e9 / n
    val m3 = col("_s3").cast("double") / 1e9 / n
    val m4 = col("_s4").cast("double") / 1e9 / n
    val v = m2 - m1 * m1
    val mu3 = m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1
    val mu4 = (m4 - lit(4.0) * m1 * m3 + lit(6.0) * m1 * m1 * m2
      - lit(3.0) * m1 * m1 * m1 * m1)
    val sd = sqrt(v)
    val sr = m1 / sd
    val g3 = mu3 / (v * sd)
    val g4 = mu4 / (v * v)
    val denom = lit(1.0) - g3 * sr + (g4 - lit(1.0)) / lit(4.0) * sr * sr
    val z = (sr - col("sr0")) * sqrt(n - lit(1.0)) / sqrt(denom)
    af.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rets"),
        sum(col("_pnl_fp")).as("_s1"), sum(col("_sq_fp")).as("_s2"),
        sum(col("_q3")).as("_s3"), sum(col("_q4")).as("_s4"))
      .join(broadcast(sr0Frame), keys)
      .select(keys.map(col) ++ Seq(col("n_rets"), col("n_trials"),
        when(v > 0.0, round(sr, 6)).as("sr"),
        col("var_sr_trials"), col("sr0"),
        when(v > 0.0 && denom > 0.0 && col("n_rets") > 1L &&
          col("sr0").isNotNull, round(z, 6)).as("dsr_z")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** The IS/OOS block combinations of [[cscvPbo]]: `(combo_id, block,
    * in_sample)` for every block of every C(blocks, blocks/2)
    * combination, combo ids in lexicographic order — public so a
    * query's oracle interpolates the IDENTICAL enumeration (the
    * [[graft.operators.Relational.cpcvCombos]] convention). */
  def cscvCombos(blocks: Int): Seq[(Long, Long, Int)] =
    for {
      (c, cid) <- (0 until blocks).combinations(blocks / 2).toSeq.zipWithIndex
      b <- 0 until blocks
    } yield (cid.toLong, b.toLong, if (c.contains(b)) 1 else 0)

  /** CSCV probability of backtest overfitting (Bailey, Borwein, López
    * de Prado, Zhu 2015): split each strategy's return stream into
    * `blocks` equal time blocks; for EVERY combination of half the
    * blocks as in-sample, elect the strategy with the best in-sample
    * mean return, then ask where that winner RANKS out-of-sample. The
    * logit `λ = ln(ω/(1−ω))` of its relative OOS rank ω is ≤ 0 exactly
    * when the in-sample winner lands in the bottom half OOS — and the
    * fraction of combinations where that happens is the PBO, the
    * probability that the strategy-selection process itself overfits.
    * Completes the overfitting suite next to [[probabilisticSharpe]],
    * [[deflatedSharpe]] and the CPCV splits.
    *
    * Determinism: returns quantize to nano-unit BIGINTs, so per-block
    * sums/counts and their per-combination halves are exact integers;
    * the IS/OOS means quantize to 6-dp ·10⁶ BIGINTs before any
    * comparison, the election orders by (quantized IS mean DESC,
    * strategy ASC), and the OOS rank is the exact COUNT of strategies
    * with quantized OOS mean ≤ the winner's — integer arithmetic end
    * to end; only the final logit is floating point (one fixed tree,
    * 6 dp). The overfit indicator avoids the logit entirely:
    * `2·rank ≤ n_valid + 1` is exact.
    *
    * A strategy missing from either half of a combination (no
    * observations in those blocks) drops from that combination's
    * election and rank — documented; with contiguous series this never
    * triggers.
    *
    * Scale shape: one 2-value global agg for the time bounds, one
    * (strategy, block) aggregation over the corpus (map-side combined),
    * then everything downstream lives on the strategies × blocks /
    * combos × strategies frames — KEY-SIZED, never corpus-sized; the
    * combination frame is driver-enumerated and broadcast (guarded
    * ≤ 4096 like cpcvSplit).
    *
    * Returns one row per combination: `(combo_id, n_strategies,
    * best_strategy, is_mean, oos_mean, oos_rank, omega, lambda,
    * overfit, pbo)` — `pbo` repeated on every row (the global
    * fraction, a window agg over the combo frame). */
  def cscvPbo(df: DataFrame, strategyCol: String, tsCol: String,
              returnCol: String, blocks: Int): DataFrame = {
    require(blocks >= 2 && blocks % 2 == 0,
      s"cscvPbo needs an even number of blocks >= 2, got $blocks")
    val nCombos = (0 until blocks).combinations(blocks / 2).size
    require(nCombos <= 4096,
      s"cscvPbo: C($blocks, ${blocks / 2}) = $nCombos combinations — " +
        "driver-enumerated and broadcast; use fewer blocks")
    val spark = df.sparkSession
    val e = df.where(col(returnCol).isNotNull)
      .select(col(strategyCol).cast("string").as("strategy"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        round(col(returnCol).cast("double") * 1e9).cast("long").as("_r_fp"))
    val bounds = e.agg(min("ts_us").as("lo"), max("ts_us").as("hi"),
      count(when(col("ts_us").isNull, lit(1))).as("n_null")).head()
    require(bounds.getLong(2) == 0L,
      s"cscvPbo: ${bounds.getLong(2)} rows have a null $tsCol — " +
        "time blocks cannot place unknown-time samples")
    val empty = spark.emptyDataFrame
      .select(lit(0L).as("combo_id"), lit(0L).as("n_strategies"),
        lit("").as("best_strategy"), lit(0.0).as("is_mean"),
        lit(0.0).as("oos_mean"), lit(0L).as("oos_rank"),
        lit(0.0).as("omega"), lit(0.0).as("lambda"),
        lit(0L).as("overfit"), lit(0.0).as("pbo"))
      .limit(0)
    if (bounds.isNullAt(0)) return empty
    val lo = bounds.getLong(0)
    val hi = bounds.getLong(1)
    val step = (hi - lo + 1L) / blocks
    require(step > 0L,
      s"cscvPbo: the corpus spans only ${hi - lo + 1} µs — fewer than " +
        s"$blocks blocks")
    val perBlock = e
      .withColumn("block",
        least(lit(blocks - 1L), expr(s"(ts_us - ${lo}L) div ${step}L")))
      .groupBy("strategy", "block")
      .agg(sum("_r_fp").as("_s"), count(lit(1)).as("_n"))
    val combos = broadcast(spark.createDataFrame(spark.sparkContext.parallelize(
        cscvCombos(blocks), 1))
      .toDF("combo_id", "block", "in_sample"))
    def meanQ(s: Column, n: Column): Column =
      round(s.cast("double") / 1e9 / n.cast("double") * 1e6).cast("long")
    val perCombo = perBlock.join(combos, "block")
      .groupBy("combo_id", "strategy")
      .agg(sum(when(col("in_sample") === 1, col("_s"))).as("_is_s"),
        sum(when(col("in_sample") === 1, col("_n"))).as("_is_n"),
        sum(when(col("in_sample") === 0, col("_s"))).as("_oos_s"),
        sum(when(col("in_sample") === 0, col("_n"))).as("_oos_n"))
      .where(col("_is_n").isNotNull && col("_oos_n").isNotNull)
      .withColumn("_is_q", meanQ(col("_is_s"), col("_is_n")))
      .withColumn("_oos_q", meanQ(col("_oos_s"), col("_oos_n")))
    val wc = Window.partitionBy(col("combo_id"))
    val elected = perCombo
      .withColumn("_rn", row_number().over(
        wc.orderBy(col("_is_q").desc, col("strategy").asc)))
      .withColumn("_nv", count(lit(1)).over(wc))
      .withColumn("_best_oos_q", max(when(col("_rn") === 1, col("_oos_q"))).over(wc))
      .withColumn("_rank",
        sum((col("_oos_q") <= col("_best_oos_q")).cast("long")).over(wc))
    val w = col("_rank").cast("double") / (col("_nv").cast("double") + lit(1.0))
    elected.where(col("_rn") === 1)
      .select(col("combo_id"), col("_nv").as("n_strategies"),
        col("strategy").as("best_strategy"),
        round(col("_is_s").cast("double") / 1e9 / col("_is_n").cast("double"), 6)
          .as("is_mean"),
        round(col("_oos_s").cast("double") / 1e9 / col("_oos_n").cast("double"), 6)
          .as("oos_mean"),
        col("_rank").as("oos_rank"),
        round(w, 6).as("omega"),
        round(log(w / (lit(1.0) - w)), 6).as("lambda"),
        (lit(2L) * col("_rank") <= col("_nv") + lit(1L)).cast("long").as("overfit"))
      .withColumn("pbo", round(
        sum(col("overfit")).over(Window.partitionBy(lit(1))).cast("double")
          / count(lit(1)).over(Window.partitionBy(lit(1))).cast("double"), 6))
      .orderBy("combo_id")
  }

  /** Shared annotation pass — every window rides one (keys, ts,
    * tiebreak) sort. */
  private def annotated(df: DataFrame, keys: Seq[String], tsCol: String,
                        priceCol: String, signalCol: String,
                        tiebreakCol: String, costBps: Double): DataFrame = {
    require(keys.nonEmpty, "signalBacktest needs the series key(s)")
    require(costBps >= 0.0, s"costBps must be >= 0, got $costBps")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreakCol))
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    val p = col(priceCol).cast("double")
    val sig = coalesce(col(signalCol).cast("double"), lit(0.0))
    df.where(p.isNotNull && p > 0.0)
      .withColumn("_pos", coalesce(lag(sig, 1).over(w), lit(0.0)))
      .withColumn("_prevpos", coalesce(lag(sig, 2).over(w), lit(0.0)))
      .withColumn("_r", log(p / lag(p, 1).over(w)))
      .where(col("_r").isNotNull)
      .withColumn("_dpos_fp",
        round(abs(col("_pos") - col("_prevpos")) * 1e6).cast("long"))
      .withColumn("_pnl",
        col("_pos") * col("_r")
          - lit(costBps / 1e4) * (col("_dpos_fp").cast("double") / 1e6))
      .withColumn("_pnl_fp", round(col("_pnl") * 1e9).cast("long"))
      .withColumn("_sq_fp", round(col("_pnl") * col("_pnl") * 1e9).cast("long"))
      .withColumn("_dn_fp",
        round(least(col("_pnl"), lit(0.0)) * least(col("_pnl"), lit(0.0))
          * 1e9).cast("long"))
      .withColumn("_to_fp", col("_dpos_fp"))
      .withColumn("_eq_fp", sum(col("_pnl_fp")).over(wCum))
      .withColumn("_dd_fp",
        greatest(max(col("_eq_fp")).over(wCum), lit(0L)) - col("_eq_fp"))
  }

  /** χ²(2df) 95% critical value — the [[christoffersenTest]]
    * conditional-coverage rejection bound, public so the oracle
    * interpolates the same double. */
  val Chi2Crit2Df5Pct: Double = 5.991464547107979

  /** Christoffersen (1998, IER 39) VaR-violation INDEPENDENCE and
    * conditional-coverage tests — the clustering companion of
    * [[kupiecTest]]: Kupiec's LR_pof only checks the violation RATE; a
    * VaR model whose violations arrive in bursts (exactly when risk
    * models fail in practice) passes it while being useless. From the
    * violation indicator tape `I_t = 1[v_t < VaR_α]` on the evaluation
    * window, count the four first-order transitions `n₀₀…n₁₁` and test
    * the Markov alternative `π₀ = P(I_t=1|I_{t−1}=0) ≠ π₁ =
    * P(I_t=1|I_{t−1}=1)`:
    *
    * {{{ LR_ind = 2·[ Σ n_ab·ln π̂_ab − (n₀₀+n₁₀)·ln(1−π̂) − (n₀₁+n₁₁)·ln π̂ ]
    *     LR_cc  = LR_pof + LR_ind  ~ χ²(2) }}}
    *
    * each `c·ln p` term vanishing when its count is zero (the 0·ln 0
    * limit, term-by-term — the [[kupiecTest]] convention).
    *
    * Determinism: VaR is the shared interpolated percentile on the
    * REFERENCE window; transition counts are exact integers from a lag
    * over (keys, orderCols); every LR is one fixed double tree
    * (`ln α`/`ln(1−α)` interpolated JVM doubles — the GkDriftConst
    * rule), 6 dp; rejects compare against [[KupiecChi2Crit]] /
    * [[Chi2Crit2Df5Pct]]. Null LRs below 2 observations.
    *
    * Scale shape: one grouped percentile on the reference → broadcast
    * key-sized bounds → one keyed ordered window + one grouped count
    * on the evaluation window — neither corpus shuffles twice. */
  def christoffersenTest(ref: DataFrame, cur: DataFrame, keys: Seq[String],
                         orderCols: Seq[Column], valueCol: String,
                         alpha: Double = 0.05): DataFrame = {
    require(keys.nonEmpty, "christoffersenTest needs the series key(s)")
    require(alpha > 0.0 && alpha < 1.0, s"need 0 < alpha < 1, got $alpha")
    val v = col(valueCol).cast("double")
    val bounds = ref.where(v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(percentile(v, lit(alpha)).as("_var"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    val tape = cur.where(v.isNotNull).join(broadcast(bounds), keys)
      .withColumn("_i", when(v < col("_var"), lit(1)).otherwise(lit(0)))
      .withColumn("_ip", lag(col("_i"), 1).over(w))
    def tc(p: Int, c: Int): Column =
      sum(when(col("_ip") === p && col("_i") === c, lit(1L)).otherwise(lit(0L)))
    val counted = tape.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"), sum(col("_i")).as("n_viol"),
      first(col("_var")).as("_q"),
      tc(0, 0).as("n00"), tc(0, 1).as("n01"),
      tc(1, 0).as("n10"), tc(1, 1).as("n11"))
    def dd(c: Column): Column = c.cast("double")
    def term(c: Column, p: Column): Column =
      when(c > 0L, dd(c) * log(p)).otherwise(lit(0.0))
    val m = col("n00") + col("n01") + col("n10") + col("n11")
    val pi = dd(col("n01") + col("n11")) / dd(m)
    val pi0 = dd(col("n01")) / dd(col("n00") + col("n01"))
    val pi1 = dd(col("n11")) / dd(col("n10") + col("n11"))
    val l0 = term(col("n00") + col("n10"), lit(1.0) - pi) +
      term(col("n01") + col("n11"), pi)
    val l1 = term(col("n00"), lit(1.0) - pi0) + term(col("n01"), pi0) +
      term(col("n10"), lit(1.0) - pi1) + term(col("n11"), pi1)
    val lrInd = lit(2.0) * (l1 - l0)
    // Kupiec POF on the same evaluation tape (n, x = n_viol)
    val nD = col("n").cast("double")
    val x = col("n_viol").cast("double")
    val obs = when(col("n_viol") === col("n"), x * log(x / nD))
      .when(col("n_viol") === 0L, (nD - x) * log(lit(1.0) - x / nD))
      .otherwise((nD - x) * log(lit(1.0) - x / nD) + x * log(x / nD))
    val lrPof = lit(-2.0) * ((nD - x) * lit(math.log(1.0 - alpha)) +
      x * lit(math.log(alpha))) + lit(2.0) * obs
    val lrCc = lrPof + lrInd
    val ok = m >= 1L && col("n") >= 2L
    counted.select(keys.map(col) ++ Seq(col("n"), col("n_viol"),
        col("n00"), col("n01"), col("n10"), col("n11"),
        when(ok, round(lrInd, 6) + lit(0.0)).as("lr_ind"),
        when(ok, lrInd > lit(KupiecChi2Crit)).as("reject_ind"),
        when(ok, round(lrCc, 6) + lit(0.0)).as("lr_cc"),
        when(ok, lrCc > lit(Chi2Crit2Df5Pct)).as("reject_cc")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Generalized-Pareto tail fit by probability-weighted moments
    * (Hosking & Wallis 1987, Technometrics 29) over peaks-over-
    * threshold excesses — the PARAMETRIC tail model beside the
    * nonparametric Hill estimator (q_hill_tail): from the excesses
    * `e = v − u` above the per-key `uQuantile` threshold,
    *
    * {{{ b₀ = ē,  b₁ = (1/n)·Σ e_(i)·(n−i)/(n−1)   (ascending ranks)
    *     ξ = 2 − b₀/(b₀ − 2b₁),  β = 2·b₀·b₁/(b₀ − 2b₁) }}}
    *
    * ξ > 0 = heavy (Pareto-type) tail, ξ = 0 exponential, ξ < 0
    * bounded; β is the GPD scale in value units. PWM beats ML here:
    * closed-form (no iterative solve — the house rule), defined for
    * every sample, and near-efficient for the |ξ| < 1/2 regimes real
    * return tails occupy.
    *
    * Determinism: the threshold is the shared interpolated percentile;
    * excesses quantize as `⌊(v−u)·scale⌋` (both engines floor the same
    * double); rank weights make `Σe·(n−i)` TIE-INVARIANT (equal
    * excesses swap equal values between ranks), so both DECIMAL(38,0)/
    * HUGEINT sums are exact and order-free; ξ and β derive in one
    * fixed tree, 6 dp (ξ is scale-invariant; β rescales by /scale).
    * Null fit when the tail has < 2 points or `b₀ − 2b₁ ≤ 0`.
    *
    * Scale shape: one grouped percentile, broadcast key-sized
    * thresholds, one ordered keyed window for ranks, one map-side-
    * combined agg — the corpus shuffles once. */
  def gpdTailFit(df: DataFrame, keys: Seq[String], valueCol: String,
                 uQuantile: Double = 0.9, scale: Double = 1e6): DataFrame = {
    require(keys.nonEmpty, "gpdTailFit needs the series key(s)")
    require(uQuantile > 0.0 && uQuantile < 1.0,
      s"need 0 < uQuantile < 1, got $uQuantile")
    require(scale > 0.0, s"scale must be positive, got $scale")
    val v = col(valueCol).cast("double")
    val bounds = df.where(v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(percentile(v, lit(uQuantile)).as("_u"),
        count(lit(1)).as("n_obs"))
    val exc = df.where(v.isNotNull).join(broadcast(bounds), keys)
      .where(v > col("_u"))
      .withColumn("_eq", floor((v - col("_u")) * lit(scale)).cast("long"))
    val wr = Window.partitionBy(keys.map(col): _*).orderBy(col("_eq"))
    val wk = Window.partitionBy(keys.map(col): _*)
    val ranked = exc
      .withColumn("_i", row_number().over(wr).cast("long"))
      .withColumn("_nt", count(lit(1)).over(wk))
    val eqD = col("_eq").cast("decimal(38,0)")
    val agg = ranked.groupBy(keys.map(col): _*).agg(
      min(col("n_obs")).as("n_obs"), min(col("_nt")).as("n_tail"),
      min(col("_u")).as("_u"),
      sum(eqD).as("_s0"),
      sum(eqD * (col("_nt") - col("_i")).cast("decimal(38,0)")).as("_s1"))
    def dd(c: Column): Column = c.cast("double")
    val ntD = col("n_tail").cast("double")
    val b0 = dd(col("_s0")) / ntD
    val b1 = dd(col("_s1")) / (ntD * (ntD - lit(1.0)))
    val den = b0 - lit(2.0) * b1
    val xi = lit(2.0) - b0 / den
    val beta = lit(2.0) * b0 * b1 / den
    val ok = col("n_tail") >= 2L && den > 0.0
    agg.select(keys.map(col) ++ Seq(col("n_obs"), col("n_tail"),
        (round(col("_u"), 6) + lit(0.0)).as("threshold"),
        when(ok, round(xi, 6) + lit(0.0)).as("xi"),
        when(ok, round(beta / lit(scale), 6) + lit(0.0)).as("beta")): _*)
      .orderBy(keys.map(col): _*)
  }
}
