package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{windows => W, TaIndicators => TA}
import graft.operators.{Dedup, Labeling, Multimodal, Relational, Resample, Retrieval, SentimentScorer, Similarity, Sketches, TemporalJoins, TextAnalysis}
import graft.time.TimeNorm
import org.apache.spark.sql.graft.GraftFunctions

/** The verifiable operator surface: one entry per SURVEY §2 operator,
  * each with a DuckDB-equivalent oracle where ANSI SQL can express it.
  *
  * Cross-engine determinism rules used throughout (so the driver's
  * hash-compare is stable):
  *  - money-style sums go through DECIMAL(18,2) (exact, associative,
  *    order-independent) and only then back to DOUBLE;
  *  - per-row double arithmetic is left raw (IEEE ops are bit-equal
  *    across engines when the expression tree matches);
  *  - anything touching libm (log) or accumulation-order-sensitive
  *    algorithms (stddev, EWM folds) is rounded to 6 decimals;
  *  - timestamps are emitted as BIGINT epoch-microseconds;
  *  - every query ends in a total ORDER BY.
  */
object Queries {

  final case class QDef(name: String,
                        fn: (SparkSession, String) => DataFrame,
                        oracle: Option[String])

  /** Table loader. Normalizes the testdata's TIMESTAMP_NTZ (µs) columns
    * to plain UTC `TimestampType`: the session timezone is UTC, so the
    * reinterpretation is the identity on the underlying micros — matching
    * DuckDB, which reads the same parquet columns natively. The oracle's
    * arithmetic (div-by-zero → null, silent overflow) is the session's
    * ANSI-off default, set once in [[graft.LocalSession]]. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/$name.parquet")
    val cols = raw.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          col(f.name).cast("timestamp").as(f.name)
        case _ => col(f.name)
      }
    }
    // keep the raw NTZ column too: predicates on the CAST ts can't reach
    // the parquet scan, so range queries add a redundant bound on the raw
    // column that does push down (row-group pruning at scale)
    if (name == "events") raw.select(cols.toSeq :+ col("ts").as("_ts_raw"): _*)
    else raw.select(cols.toSeq: _*)
  }

  /** TIMESTAMP_NTZ literal for raw-column pushdown bounds. */
  private def ntzLit(isoLocal: String): Column =
    lit(java.time.LocalDateTime.parse(isoLocal + "T00:00:00"))

  /** Pushdown-friendly time-range predicate for the events table: the
    * semantic filter on `ts` plus the same bounds on the raw NTZ column,
    * which DO reach the parquet scan (see [[t]]). */
  private def tsRangePushdown(loInclusive: String, hiInclusive: String): Column =
    col("_ts_raw").between(ntzLit(loInclusive), ntzLit(hiInclusive)) &&
      col("ts").between(to_timestamp(lit(loInclusive)), to_timestamp(lit(hiInclusive)))

  private val D = DecimalType(18, 2)
  /** Exact order-independent sum of a 2-dp double column. */
  private def dsum(c: Column): Column = sum(c.cast(D)).cast("double")
  private def micros(c: Column): Column = unix_micros(c)

  // EWM constants shared between the Spark plan and the oracle SQL text.
  private def alphaOfSpan(span: Int): Double = 2.0 / (span + 1.0)
  private def emaFoldSql(listExpr: String, alpha: Double): String = {
    val a = java.lang.Double.toString(alpha)
    val b = java.lang.Double.toString(1.0 - alpha)
    s"list_reduce($listExpr, (acc, x) -> acc * $b + x * $a)"
  }
  private val wAll = "partition by user_id order by ts, event_id rows between unbounded preceding and current row"

  // ------------------------------------------------------------------
  // Relational core (P/J/A/O rows of SURVEY §2) on the TPC-H-ish tables
  // ------------------------------------------------------------------

  private val q1PricingSummary = QDef(
    "q1_pricing_summary",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
              (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
            .cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice").cast(DecimalType(12, 2)) *
              (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
            .cast(DecimalType(16, 4)) * (lit(1.0) + col("l_tax")).cast(DecimalType(4, 2)))
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(D)).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2)) AS DECIMAL(16,4)) * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  private val q3TopRevenue = QDef(
    "q3_top_revenue",
    (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      // customer is tiny (sf·150k rows) → broadcast; lineitem⋈orders shuffles
      // on orderkey only.
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), micros(col("o_orderdate")).as("o_orderdate_us"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1997-01-01' AND l_shipdate > TIMESTAMP '1997-01-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  private val qSemiJoin = QDef(
    "q_semi_join",
    (s, dir) => {
      val ord = t(s, dir, "orders")
      val returned = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      ord.join(returned, ord("o_orderkey") === returned("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      ORDER BY o_orderkey"""))

  private val qAntiJoin = QDef(
    "q_anti_join",
    (s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      ORDER BY o_orderkey"""))

  private val qTopNPerGroup = QDef(
    "q_topn_per_group",
    (s, dir) => Relational.topNPerGroup(
        t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn"),
    Some("""
      SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) x
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""))

  private val qPivotStatus = QDef(
    "q_pivot_status",
    (s, dir) => t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(sum(col("o_totalprice").cast(D)))
      .select(col("o_orderpriority"),
        coalesce(col("O").cast("double"), lit(0.0)).as("total_o"),
        coalesce(col("F").cast("double"), lit(0.0)).as("total_f"),
        coalesce(col("P").cast("double"), lit(0.0)).as("total_p"))
      .orderBy("o_orderpriority"),
    Some("""
      SELECT o_orderpriority,
             COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS total_o,
             COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS total_f,
             COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS total_p
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  // ------------------------------------------------------------------
  // Events: filters, resample, bars, range reads (P1/P2, A5, S18, O4)
  // ------------------------------------------------------------------

  private val qEventFilter = QDef(
    "q_event_filter",
    (s, dir) => {
      // raw-NTZ bounds mirror the ts predicates exactly (ts is the UTC
      // reinterpretation of _ts_raw) and DO reach the parquet scan —
      // without them the range filter evaluates post-scan (round-2 audit)
      t(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("_ts_raw") >= ntzLit("2024-01-05") && col("_ts_raw") < ntzLit("2024-01-20") &&
          col("ts") >= to_timestamp(lit("2024-01-05")) &&
          col("ts") < to_timestamp(lit("2024-01-20")))
        .select(col("event_id"), micros(col("ts")).as("ts_us"), col("user_id"), col("value"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, epoch_us(ts) AS ts_us, user_id, value
      FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      ORDER BY event_id"""))

  private val qResample1h = QDef(
    "q_resample_1h",
    (s, dir) => t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("value_sum"),
        (dsum(col("value")) / count(lit(1))).as("value_mean"))
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("n"), col("value_sum"), col("value_mean"))
      .orderBy("event_type", "bucket_us"),
    Some("""
      SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS value_mean
      FROM events
      GROUP BY 1, 2
      ORDER BY event_type, bucket_us"""))

  private val qBars1d = QDef(
    "q_bars_1d",
    (s, dir) => Resample.bars(t(s, dir, "events"), "ts", "value", "event_id",
        "1 day", Seq("event_type"), exactVolume = true)
      .select(col("event_type"), micros(col("bar_ts")).as("bar_ts_us"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_ticks"))
      .orderBy("event_type", "bar_ts_us"),
    Some("""
      SELECT event_type, epoch_us(date_trunc('day', ts)) AS bar_ts_us,
             ARG_MIN(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
             ARG_MAX(value, ts) AS close,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
             COUNT(*) AS n_ticks
      FROM events
      GROUP BY 1, 2
      ORDER BY event_type, bar_ts_us"""))

  // Cross-series Pearson correlation over each event type's hourly
  // mean-value series — the cross-asset co-movement grid. Exact integer
  // moment sums (values quantized at 10⁴ — bounded so n·(10⁴·500)² ≪ 2⁶³
  // for the ≤500-range values) make every 6-dp r hash-identical
  // cross-engine; zero-variance legs go null, not NaN.
  private val qCorrelation = QDef(
    "q_correlation",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      Relational.correlationMatrix(hourly, "event_type", "bucket", "mean_v",
        scale = 1e4)
    },
    Some("""
      WITH h0 AS (
        SELECT event_type AS k, date_trunc('hour', ts) AS t,
               CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e4) AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      -- null-mean buckets drop BEFORE pairing, mirroring the operator's
      -- where(valueCol.isNotNull) (they must not count toward n)
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      p AS (SELECT x.k AS key_a, y.k AS key_b, x.v AS xa, y.v AS xb
            FROM h x JOIN h y ON x.t = y.t AND x.k < y.k),
      s AS (SELECT key_a, key_b, COUNT(*) AS n,
                   CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                   CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                   CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                   CAST(SUM(xb * xb) AS BIGINT) AS syy
            FROM p GROUP BY 1, 2)
      SELECT key_a, key_b, n,
             CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             END AS corr
      FROM s ORDER BY key_a, key_b"""))

  // Ledoit–Wolf shrunk covariance over the same hourly panel — the
  // well-conditioned Σ* = (1−δ)S + δμI with the analytically optimal δ,
  // via the TWO-LEVEL quantizer: exact ⌊v·10⁴⌋ integer centering
  // numerators (c = T·q − Σq), per-bucket pair products re-quantized at
  // 10², exact BIGINT pair moments, HUGEINT/DECIMAL(38) Frobenius
  // reductions, one fixed double tree for (μ, δ) at the end. The
  // shrinkage intensity itself is replayed in SQL, not just the
  // covariances.
  private val qLedoitWolf = QDef(
    "q_ledoit_wolf",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      Relational.ledoitWolfCovariance(hourly, "event_type", "bucket",
        "mean_v", scale = 1e4, pairScale = 1e2)
    },
    Some("""
      WITH h0 AS (
        SELECT event_type AS k, date_trunc('hour', ts) AS t,
               CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e4) AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      nk AS (SELECT COUNT(DISTINCT k) AS nn FROM h),
      b AS (SELECT t FROM h GROUP BY t HAVING COUNT(*) = (SELECT nn FROM nk)),
      g AS (SELECT (SELECT nn FROM nk) AS nn, COUNT(*) AS tt FROM b),
      s AS (SELECT k, CAST(SUM(v) AS BIGINT) AS sk
            FROM h JOIN b USING (t) GROUP BY k),
      c AS (SELECT h.k, h.t, (SELECT tt FROM g) * h.v - s.sk AS c
            FROM h JOIN b USING (t) JOIN s ON h.k = s.k),
      z AS (SELECT x.k AS key_a, y.k AS key_b,
                   CAST(floor((CAST(x.c AS DOUBLE) / (CAST((SELECT tt FROM g) AS DOUBLE) * 1e4))
                            * (CAST(y.c AS DOUBLE) / (CAST((SELECT tt FROM g) AS DOUBLE) * 1e4))
                            * 1e2) AS BIGINT) AS z
            FROM c x JOIN c y ON x.t = y.t AND x.k <= y.k),
      pa AS (SELECT key_a, key_b,
                    CAST(SUM(z) AS BIGINT) AS w, CAST(SUM(z * z) AS BIGINT) AS w2
             FROM z GROUP BY 1, 2),
      dg AS (SELECT CAST(SUM(w) AS BIGINT) AS wd FROM pa WHERE key_a = key_b),
      gl AS (SELECT SUM(CAST(u AS HUGEINT) * u * wt) AS dnum,
                    SUM((CAST(w2 AS HUGEINT) * tt - CAST(w AS HUGEINT) * w) * wt) AS bnum
             FROM (SELECT (SELECT nn FROM g) * w
                            - CASE WHEN key_a = key_b THEN (SELECT wd FROM dg) ELSE 0 END AS u,
                          CASE WHEN key_a = key_b THEN 1 ELSE 2 END AS wt,
                          w, w2, (SELECT tt FROM g) AS tt
                   FROM pa)),
      fin AS (SELECT key_a, key_b, w,
                     (SELECT tt FROM g) AS tt, (SELECT nn FROM g) AS nn,
                     (SELECT wd FROM dg) AS wd,
                     (SELECT dnum FROM gl) AS dnum, (SELECT bnum FROM gl) AS bnum
              FROM pa),
      ds AS (SELECT *,
                    CAST(wd AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(tt AS DOUBLE) * 1e2) AS mu,
                    CAST(w AS DOUBLE) / (CAST(tt AS DOUBLE) * 1e2) AS cov,
                    CASE WHEN dnum > 0
                         THEN least(1.0, CAST(bnum AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                                         / (CAST(dnum AS DOUBLE) * CAST(tt AS DOUBLE)))
                         ELSE 0.0 END AS sh
             FROM fin)
      SELECT key_a, key_b, tt AS n,
             round(cov, 6) AS cov,
             round((1.0 - sh) * cov + sh * mu *
                   (CASE WHEN key_a = key_b THEN 1.0 ELSE 0.0 END), 6) AS shrunk_cov,
             round(sh, 6) AS shrinkage,
             round(mu, 6) AS mu
      FROM ds ORDER BY key_a, key_b"""))

  // Constant-correlation Ledoit–Wolf ("Honey, I Shrunk the Sample
  // Covariance Matrix", 2003) over the same panel — variances stay,
  // correlations shrink toward r̄. The θ third-moment numerators ride a
  // 3-way bucket equi-join on the SAME µ-quantized z layer; the
  // cross-pair scalar reductions (r̄, π̂, ρ̂, γ̂) are level-3 quantized
  // (⌊term·10⁶⌋ HUGEINT sums — order-free) and κ = (π̂q − ρ̂q)/γ̂q lets
  // the termScale cancel. The whole intensity derivation is replayed.
  /** The LW-CC oracle CTE chain (panel → z layer → π̂/ρ̂/γ̂ → δ),
    * shared by q_ledoit_wolf_cc and the portfolio pipeline oracle so
    * the two cannot silently diverge on the shrinkage derivation. */
  private val lwCcCteSql = """h0 AS MATERIALIZED (
        SELECT event_type AS k, date_trunc('hour', ts) AS t,
               CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e4) AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      h AS MATERIALIZED (SELECT * FROM h0 WHERE v IS NOT NULL),
      nk AS MATERIALIZED (SELECT COUNT(DISTINCT k) AS nn FROM h),
      b AS MATERIALIZED (SELECT t FROM h GROUP BY t HAVING COUNT(*) = (SELECT nn FROM nk)),
      g AS MATERIALIZED (SELECT (SELECT nn FROM nk) AS nn, COUNT(*) AS tt FROM b),
      s AS MATERIALIZED (SELECT k, CAST(SUM(v) AS BIGINT) AS sk
            FROM h JOIN b USING (t) GROUP BY k),
      c AS MATERIALIZED (SELECT h.k, h.t, (SELECT tt FROM g) * h.v - s.sk AS c
            FROM h JOIN b USING (t) JOIN s ON h.k = s.k),
      z AS MATERIALIZED (SELECT x.k AS key_a, y.k AS key_b, x.t AS t,
                   CAST(floor((CAST(x.c AS DOUBLE) / (CAST((SELECT tt FROM g) AS DOUBLE) * 1e4))
                            * (CAST(y.c AS DOUBLE) / (CAST((SELECT tt FROM g) AS DOUBLE) * 1e4))
                            * 1e2) AS BIGINT) AS z
            FROM c x JOIN c y ON x.t = y.t AND x.k <= y.k),
      z3 AS MATERIALIZED (SELECT p.key_a, p.key_b, p.z, da.z AS zaa, db.z AS zbb
             FROM z p
             JOIN z da ON da.key_a = p.key_a AND da.key_b = p.key_a AND da.t = p.t
             JOIN z db ON db.key_a = p.key_b AND db.key_b = p.key_b AND db.t = p.t),
      pa AS MATERIALIZED (SELECT key_a, key_b,
                    CAST(SUM(z) AS BIGINT) AS w,
                    SUM(CAST(z AS HUGEINT) * z) AS w2,
                    SUM(CAST(zaa AS HUGEINT) * z) AS ca,
                    SUM(CAST(zbb AS HUGEINT) * z) AS cb
             FROM z3 GROUP BY 1, 2),
      dg AS MATERIALIZED (SELECT key_a AS dk, w AS wd,
                    CAST(w AS DOUBLE) / (CAST((SELECT tt FROM g) AS DOUBLE) * 1e2) AS sd
             FROM pa WHERE key_a = key_b),
      q AS MATERIALIZED (SELECT pa.key_a, pa.key_b, pa.w, pa.w2, pa.ca, pa.cb,
                   da.wd AS wda, da.sd AS sa, db.wd AS wdb, db.sd AS sb,
                   CAST(pa.w AS DOUBLE) / (CAST((SELECT tt FROM g) AS DOUBLE) * 1e2) AS sab,
                   CAST((SELECT tt FROM g) * pa.w2 - CAST(pa.w AS HUGEINT) * pa.w AS DOUBLE)
                     / ((CAST((SELECT tt FROM g) AS DOUBLE) * 1e2) * (CAST((SELECT tt FROM g) AS DOUBLE) * 1e2)) AS pi,
                   CAST((SELECT tt FROM g) * pa.ca - CAST(da.wd AS HUGEINT) * pa.w AS DOUBLE)
                     / ((CAST((SELECT tt FROM g) AS DOUBLE) * 1e2) * (CAST((SELECT tt FROM g) AS DOUBLE) * 1e2)) AS tha,
                   CAST((SELECT tt FROM g) * pa.cb - CAST(db.wd AS HUGEINT) * pa.w AS DOUBLE)
                     / ((CAST((SELECT tt FROM g) AS DOUBLE) * 1e2) * (CAST((SELECT tt FROM g) AS DOUBLE) * 1e2)) AS thb
            FROM pa JOIN dg da ON da.dk = pa.key_a JOIN dg db ON db.dk = pa.key_b),
      rbarq AS MATERIALIZED (SELECT COALESCE(SUM(CASE WHEN key_a <> key_b AND sa > 0 AND sb > 0
                  THEN CAST(floor(sab / sqrt(sa * sb) * 1e6) AS HUGEINT)
                  ELSE 0 END), 0) AS rq FROM q),
      rb AS MATERIALIZED (SELECT CASE WHEN (SELECT nn FROM g) >= 2
               THEN (CAST((SELECT rq FROM rbarq) AS DOUBLE) / 1e6) * 2.0
                    / (CAST((SELECT nn FROM g) AS DOUBLE) * CAST((SELECT nn FROM g) - 1 AS DOUBLE))
               ELSE 0.0 END AS rbar),
      q2 AS MATERIALIZED (SELECT q.*, (SELECT rbar FROM rb) AS rbar,
                    CASE WHEN sa > 0 AND sb > 0
                         THEN (SELECT rbar FROM rb) * sqrt(sa * sb) ELSE 0.0 END AS f
             FROM q),
      gl AS MATERIALIZED (SELECT
               SUM(CAST(floor(pi * 1e6) AS HUGEINT)
                   * (CASE WHEN key_a = key_b THEN 1 ELSE 2 END)) AS piq,
               SUM(CASE WHEN key_a = key_b THEN CAST(floor(pi * 1e6) AS HUGEINT)
                        WHEN sa > 0 AND sb > 0
                        THEN CAST(floor(rbar * (sqrt(sb / sa) * tha + sqrt(sa / sb) * thb) * 1e6) AS HUGEINT)
                        ELSE 0 END) AS rhoq,
               COALESCE(SUM(CASE WHEN key_a <> key_b
                 THEN CAST(floor((f - sab) * (f - sab) * 1e6) AS HUGEINT) * 2
                 ELSE 0 END), 0) AS gamq
             FROM q2),
      dl AS MATERIALIZED (SELECT CASE WHEN (SELECT gamq FROM gl) > 0
               THEN greatest(0.0, least(1.0,
                 CAST((SELECT piq FROM gl) - (SELECT rhoq FROM gl) AS DOUBLE)
                   / CAST((SELECT gamq FROM gl) AS DOUBLE)
                   / CAST((SELECT tt FROM g) AS DOUBLE)))
               ELSE 0.0 END AS delta)"""

  private val qLedoitWolfCc = QDef(
    "q_ledoit_wolf_cc",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      Relational.ledoitWolfConstCorr(hourly, "event_type", "bucket",
        "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
    },
    Some(s"""
      WITH $lwCcCteSql
      SELECT key_a, key_b, (SELECT tt FROM g) AS n,
             round(sab, 6) AS cov,
             round((1.0 - (SELECT delta FROM dl)) * sab + (SELECT delta FROM dl) *
                   (CASE WHEN key_a = key_b THEN sa
                         WHEN sa > 0 AND sb > 0 THEN rbar * sqrt(sa * sb)
                         ELSE 0.0 END), 6) AS shrunk_cov,
             round((SELECT delta FROM dl), 6) AS shrinkage,
             round(rbar, 6) AS r_bar
      FROM q2 ORDER BY key_a, key_b"""))

  // Leading principal component ("market mode") of the LW-CC shrunk
  // covariance via QUANTIZED power iteration: 8 matrix-vector rounds on
  // the 6-dp covariance image, each round's vector re-quantized to a
  // 6-dp integer image after the exact-integer matvec and the
  // IEEE-exact sqrt norm — so both engines fold identically regardless
  // of convergence (the kmeans fixed-round doctrine). Eigenvalue is
  // the Rayleigh quotient of the final image, variance share divides
  // by the exact diagonal trace. All frames are key²-sized; the corpus
  // is touched once by the LW-CC panel agg — no collect, no driver
  // solve (the hash-checked complement to the rows-only allocators).
  private val PcaRounds = 8

  /** Power-iteration oracle rounds → CTEs `sym`, `v0`, `mv1..n1..v1` …
    * `v$rounds`, plus the Rayleigh `nm`/`dn` scalars — the SQL image of
    * [[operators.Backtest.leadingEigen]]'s fold, shared by q_pca_factor
    * and q_detoned_corr (one definition rule). `src` names a CTE with
    * columns (a, b, covq) holding the upper triangle. */
  private def pcaRoundsSql(src: String, rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""mv$i AS MATERIALIZED (SELECT s.a AS k, CAST(SUM(s.covq * v.vq) AS BIGINT) AS mv
             FROM sym s JOIN $prev v ON v.k = s.b GROUP BY 1),
      n$i AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(mv AS HUGEINT) * mv) AS DOUBLE)) AS nrm FROM mv$i),
      v$i AS MATERIALIZED (SELECT k, CASE WHEN (SELECT nrm FROM n$i) > 0
                   THEN CAST(round(CAST(mv AS DOUBLE) / (SELECT nrm FROM n$i) * 1e6) AS BIGINT)
                   ELSE 0 END AS vq FROM mv$i)"""
    }.mkString(",\n      ")
    val vLast = s"v$rounds"
    s"""sym AS MATERIALIZED (SELECT a, b, covq FROM $src
              UNION ALL
              SELECT b AS a, a AS b, covq FROM $src WHERE a <> b),
      v0 AS MATERIALIZED (SELECT DISTINCT a AS k, CAST(1000000 AS BIGINT) AS vq FROM sym),
      $rs,
      nm AS (SELECT CAST(SUM(CAST(s.covq AS HUGEINT) * va.vq * vb.vq) AS DOUBLE) AS num
             FROM sym s JOIN $vLast va ON va.k = s.a JOIN $vLast vb ON vb.k = s.b),
      dn AS (SELECT CAST(SUM(vq * vq) AS DOUBLE) AS den FROM $vLast)"""
  }

  /** Quantized-CG oracle rounds — the SQL image of
    * [[operators.Backtest.minVarianceCG]]'s fold (VERDICT r11 #1: the
    * leadingEigen doctrine applied to the min-variance solve). `src`
    * names a CTE with the upper triangle `(a, b, covq)` (·10⁶ images).
    * Emits `sym`/`dg`/`dmn`/`cr`/`cg0`/`rz0`, then per round the matvec
    * `mvN`, exact-HUGEINT scalars `papN`/`rzN`, guarded double ratios
    * `alN`/`btN`, and the re-quantized state `cgN`/`cgpN`; the final
    * state CTE is `cgp$rounds` with columns (k, dq, xq). */
  private def cgRoundsSql(src: String, rounds: Int,
                          rhsSrc: Option[String] = None): String = {
    val rs = (1 to rounds).map { i =>
      val prev = if (i == 1) "cg0" else s"cgp${i - 1}"
      val rzPrev = s"rz${i - 1}"
      s"""mv$i AS MATERIALIZED (SELECT s.a AS k, CAST(SUM(s.cq * p.pq) AS BIGINT) AS mv
             FROM cr s JOIN $prev p ON p.k = s.b GROUP BY 1),
      pap$i AS (SELECT SUM(CAST(p.pq AS HUGEINT) * m.mv) AS pap
             FROM $prev p JOIN mv$i m ON m.k = p.k),
      al$i AS (SELECT CASE WHEN (SELECT pap FROM pap$i) > 0
                     AND (SELECT rz FROM $rzPrev) > 0
               THEN CAST((SELECT rz FROM $rzPrev) AS DOUBLE) * 1e6
                    / CAST((SELECT pap FROM pap$i) AS DOUBLE)
               ELSE 0.0 END AS alpha),
      cg$i AS MATERIALIZED (SELECT p.k, p.dq,
               CAST(round(CAST(p.xq AS DOUBLE)
                    + (SELECT alpha FROM al$i) * CAST(p.pq AS DOUBLE)) AS BIGINT) AS xq,
               CAST(round(CAST(p.rq AS DOUBLE)
                    - (SELECT alpha FROM al$i) * CAST(m.mv AS DOUBLE) / 1e6) AS BIGINT) AS rq,
               p.pq AS pq0
             FROM $prev p JOIN mv$i m ON m.k = p.k),
      rz$i AS (SELECT SUM(CAST(rq AS HUGEINT) * rq) AS rz FROM cg$i),
      bt$i AS (SELECT CASE WHEN (SELECT rz FROM $rzPrev) > 0
               THEN CAST((SELECT rz FROM rz$i) AS DOUBLE)
                    / CAST((SELECT rz FROM $rzPrev) AS DOUBLE)
               ELSE 0.0 END AS beta),
      cgp$i AS MATERIALIZED (SELECT k, dq, xq, rq,
               CAST(round(CAST(rq AS DOUBLE)
                    + (SELECT beta FROM bt$i) * CAST(pq0 AS DOUBLE)) AS BIGINT) AS pq
             FROM cg$i)"""
    }.mkString(",\n      ")
    s"""sym AS MATERIALIZED (SELECT a, b, covq FROM $src
              UNION ALL
              SELECT b AS a, a AS b, covq FROM $src WHERE a <> b),
      cdg AS MATERIALIZED (SELECT a AS k, covq AS dq FROM sym WHERE a = b),
      dmn AS (SELECT MIN(dq) AS dmin FROM cdg),
      cr AS MATERIALIZED (SELECT s.a, s.b,
               CAST(round(CAST(s.covq AS DOUBLE)
                    / (sqrt(CAST(da.dq AS DOUBLE) / 1e6)
                       * sqrt(CAST(db.dq AS DOUBLE) / 1e6))) AS BIGINT) AS cq
             FROM sym s JOIN cdg da ON da.k = s.a JOIN cdg db ON db.k = s.b),
      cg0 AS MATERIALIZED (${rhsSrc match {
        case Some(r) =>
          s"""SELECT d.k, d.dq, CAST(0 AS BIGINT) AS xq,
               r.bq AS rq, r.bq AS pq
             FROM cdg d JOIN $r r ON r.k = d.k"""
        case None =>
          """SELECT k, dq, CAST(0 AS BIGINT) AS xq,
               CAST(round(1e6 * sqrt(CAST((SELECT dmin FROM dmn) AS DOUBLE) / 1e6)
                    / sqrt(CAST(dq AS DOUBLE) / 1e6)) AS BIGINT) AS rq,
               CAST(round(1e6 * sqrt(CAST((SELECT dmin FROM dmn) AS DOUBLE) / 1e6)
                    / sqrt(CAST(dq AS DOUBLE) / 1e6)) AS BIGINT) AS pq
             FROM cdg"""
      }}),
      rz0 AS (SELECT SUM(CAST(rq AS HUGEINT) * rq) AS rz FROM cg0),
      $rs"""
  }

  /** Quantized damped-Jacobi ERC oracle rounds — the SQL image of
    * [[operators.Backtest.ercIterative]]'s fold. `src` as in
    * [[cgRoundsSql]]. Emits `esym`/`trg`/`cvn`/`er0`, then per round
    * the matvec `emN` and the damped re-quantized state `erN`; the
    * final state CTE is `er$rounds` with columns (k, dq, xq). */
  private def ercRoundsSql(src: String, rounds: Int,
                           damping: Double): String = {
    // the engine computes `lit(1.0 - damping)` in Scala doubles — the
    // oracle must spell that EXACT double (1.0 - 0.8 is NOT 0.2 in
    // binary), so both factors interpolate via Double.toString
    val thS = java.lang.Double.toString(damping)
    val omS = java.lang.Double.toString(1.0 - damping)
    val cD = "(CAST(m.mv AS DOUBLE) - CAST(p.dq AS DOUBLE) * CAST(p.xq AS DOUBLE)) / 1e12"
    val aD = "(CAST(p.dq AS DOUBLE) / 1e6)"
    val rs = (1 to rounds).map { i =>
      val prev = if (i == 1) "er0" else s"er${i - 1}"
      s"""em$i AS MATERIALIZED (SELECT s.a AS k, CAST(SUM(s.cq * x.xq) AS BIGINT) AS mv
             FROM cvn s JOIN $prev x ON x.k = s.b GROUP BY 1),
      er$i AS MATERIALIZED (SELECT p.k, p.dq,
               CAST(round($omS * CAST(p.xq AS DOUBLE)
                    + $thS * ((-($cD)
                              + sqrt(($cD) * ($cD)
                                     + 4.0 * $aD / (SELECT kd FROM trg)))
                             / (2.0 * $aD)) * 1e6) AS BIGINT) AS xq
             FROM $prev p JOIN em$i m ON m.k = p.k)"""
    }.mkString(",\n      ")
    s"""esym AS MATERIALIZED (SELECT a, b, covq FROM $src
              UNION ALL
              SELECT b AS a, a AS b, covq FROM $src WHERE a <> b),
      trg AS (SELECT CAST(SUM(covq) AS DOUBLE) AS trd,
                     CAST(COUNT(*) AS DOUBLE) AS kd
              FROM esym WHERE a = b),
      cvn AS MATERIALIZED (SELECT a, b,
               CAST(round(CAST(covq AS DOUBLE) * (SELECT kd FROM trg) * 1e6
                    / (SELECT trd FROM trg)) AS BIGINT) AS cq
             FROM esym),
      er0 AS MATERIALIZED (SELECT a AS k, cq AS dq,
               CAST(round(1e9 / sqrt(CAST(cq AS DOUBLE))) AS BIGINT) AS xq
             FROM cvn WHERE a = b),
      $rs"""
  }

  /** Quantized single-linkage + unrolled-bisection HRP oracle — the SQL
    * image of [[operators.Backtest.hrpIterative]]'s fold. `src` as in
    * [[cgRoundsSql]] (upper-triangle ·10⁶ images). Emits the normalized
    * images (`hsym`/`htr`/`hcn`/`hdg`), the distance frame `hds`, then
    * per merge round the crossing-edge argmin `hpN` (`ORDER BY dq, a, b
    * LIMIT 1` — Kruskal ≡ single linkage, Gower & Ross 1969) and the
    * relabeled/path-extended state `hlN` (side bit prepended, lower
    * min-key cluster first — empty picks no-op via NULL comparisons);
    * then the seriation `hor` (`ORDER BY path, k`), inverse-variance
    * images `hiq`, and per bisection level the half split `hsN`, exact
    * HUGEINT cluster-variance sums `hssN`/`hnnN`, variance images +
    * split factors `halN`/`hmN`, and the re-quantized weight state
    * `hbN`. Final state CTE is `hb$levels` (k, ord, lo, seglen, wq)
    * plus the weight-sum scalar `hsw`. */
  private def hrpRoundsSql(src: String, merges: Int, levels: Int): String = {
    val ms = (1 to merges).map { i =>
      val prev = if (i == 1) "hl0" else s"hl${i - 1}"
      s"""hp$i AS (SELECT la.lab AS lx, lb2.lab AS ly
             FROM hds d JOIN $prev la ON la.k = d.a
                        JOIN $prev lb2 ON lb2.k = d.b
             WHERE la.lab <> lb2.lab
             ORDER BY d.dq, d.a, d.b LIMIT 1),
      hl$i AS MATERIALIZED (SELECT k,
               CASE WHEN lab = (SELECT lx FROM hp$i)
                      OR lab = (SELECT ly FROM hp$i)
                    THEN least((SELECT lx FROM hp$i), (SELECT ly FROM hp$i))
                    ELSE lab END AS lab,
               CASE WHEN lab = least((SELECT lx FROM hp$i), (SELECT ly FROM hp$i))
                    THEN '0' || path
                    WHEN lab = greatest((SELECT lx FROM hp$i), (SELECT ly FROM hp$i))
                    THEN '1' || path
                    ELSE path END AS path
             FROM $prev)"""
    }.mkString(",\n      ")
    val ls = (1 to levels).map { i =>
      val prev = if (i == 1) "hb0" else s"hb${i - 1}"
      s"""hs$i AS MATERIALIZED (SELECT k, ord, lo, seglen, wq,
               (seglen + 1) // 2 AS h1,
               CASE WHEN ord - lo < (seglen + 1) // 2 THEN 0 ELSE 1 END AS hf
             FROM $prev),
      hss$i AS MATERIALIZED (SELECT s.lo, s.hf, CAST(SUM(i.invq) AS HUGEINT) AS ss
             FROM hs$i s JOIN hiq i ON i.k = s.k
             WHERE s.seglen > 1 GROUP BY 1, 2),
      hnn$i AS MATERIALIZED (SELECT sx.lo, sx.hf,
               SUM(CAST(ix.invq AS HUGEINT) * iy.invq * c.cq) AS nn
             FROM hcn c
             JOIN hs$i sx ON sx.k = c.a
             JOIN hs$i sy ON sy.k = c.b AND sy.lo = sx.lo AND sy.hf = sx.hf
             JOIN hiq ix ON ix.k = c.a
             JOIN hiq iy ON iy.k = c.b
             WHERE sx.seglen > 1
             GROUP BY 1, 2),
      hal$i AS MATERIALIZED (SELECT v1.lo,
               CAST(round(CAST(n1.nn AS DOUBLE) / CAST(v1.ss AS DOUBLE)
                    / CAST(v1.ss AS DOUBLE) * 1e12) AS BIGINT) AS vq1,
               CAST(round(CAST(n2.nn AS DOUBLE) / CAST(v2.ss AS DOUBLE)
                    / CAST(v2.ss AS DOUBLE) * 1e12) AS BIGINT) AS vq2
             FROM hss$i v1 JOIN hss$i v2 ON v2.lo = v1.lo AND v1.hf = 0 AND v2.hf = 1
             JOIN hnn$i n1 ON n1.lo = v1.lo AND n1.hf = 0
             JOIN hnn$i n2 ON n2.lo = v1.lo AND n2.hf = 1),
      hm$i AS MATERIALIZED (SELECT lo,
               CASE WHEN vq1 + vq2 > 0
                    THEN CAST(vq2 AS DOUBLE) / CAST(vq1 + vq2 AS DOUBLE)
                    ELSE 0.5 END AS m1,
               CASE WHEN vq1 + vq2 > 0
                    THEN CAST(vq1 AS DOUBLE) / CAST(vq1 + vq2 AS DOUBLE)
                    ELSE 0.5 END AS m2
             FROM hal$i),
      hb$i AS MATERIALIZED (SELECT s.k, s.ord,
               CASE WHEN s.seglen <= 1 THEN s.lo
                    WHEN s.hf = 0 THEN s.lo ELSE s.lo + s.h1 END AS lo,
               CASE WHEN s.seglen <= 1 THEN s.seglen
                    WHEN s.hf = 0 THEN s.h1 ELSE s.seglen - s.h1 END AS seglen,
               CASE WHEN s.seglen <= 1 THEN s.wq
                    WHEN s.hf = 0 THEN CAST(round(CAST(s.wq AS DOUBLE) * m.m1) AS BIGINT)
                    ELSE CAST(round(CAST(s.wq AS DOUBLE) * m.m2) AS BIGINT) END AS wq
             FROM hs$i s LEFT JOIN hm$i m ON m.lo = s.lo)"""
    }.mkString(",\n      ")
    s"""hsym AS MATERIALIZED (SELECT a, b, covq FROM $src
              UNION ALL
              SELECT b AS a, a AS b, covq FROM $src WHERE a <> b),
      htr AS (SELECT CAST(SUM(covq) AS DOUBLE) AS trd,
                     CAST(COUNT(*) AS DOUBLE) AS kd
              FROM hsym WHERE a = b),
      hcn AS MATERIALIZED (SELECT a, b,
               CAST(round(CAST(covq AS DOUBLE) * (SELECT kd FROM htr) * 1e6
                    / (SELECT trd FROM htr)) AS BIGINT) AS cq
             FROM hsym),
      hdg AS MATERIALIZED (SELECT a AS k, cq AS dq FROM hcn WHERE a = b),
      hds AS MATERIALIZED (SELECT c.a, c.b,
               CAST(round(1e6 * sqrt(greatest(0.0,
                 (1.0 - CAST(c.cq AS DOUBLE)
                        / sqrt(CAST(da.dq AS DOUBLE) * CAST(db.dq AS DOUBLE)))
                 / 2.0))) AS BIGINT) AS dq
             FROM hcn c JOIN hdg da ON da.k = c.a JOIN hdg db ON db.k = c.b
             WHERE c.a < c.b),
      hl0 AS MATERIALIZED (SELECT k, k AS lab, '' AS path FROM hdg),
      $ms,
      hor AS MATERIALIZED (SELECT k,
               ROW_NUMBER() OVER (ORDER BY path, k) AS ord
             FROM hl$merges),
      hiq AS MATERIALIZED (SELECT k,
               CAST(round(1e14 / CAST(dq AS DOUBLE)) AS BIGINT) AS invq
             FROM hdg),
      hb0 AS MATERIALIZED (SELECT k, ord, CAST(1 AS BIGINT) AS lo,
               (SELECT COUNT(*) FROM hor) AS seglen,
               CAST(1000000000000 AS BIGINT) AS wq
             FROM hor),
      $ls,
      hsw AS (SELECT CAST(SUM(wq) AS HUGEINT) AS sw FROM hb$levels)"""
  }

  private val qPcaFactor = QDef(
    "q_pca_factor",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val lw = Relational.ledoitWolfConstCorr(hourly, "event_type", "bucket",
        "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      operators.Backtest.leadingEigen(lw, "shrunk_cov", rounds = PcaRounds)
        .orderBy("k")
    },
    Some(s"""
      WITH $lwCcCteSql,
      covp AS MATERIALIZED (SELECT key_a AS a, key_b AS b,
                 CAST(round(round((1.0 - (SELECT delta FROM dl)) * sab + (SELECT delta FROM dl) *
                   (CASE WHEN key_a = key_b THEN sa
                         WHEN sa > 0 AND sb > 0 THEN rbar * sqrt(sa * sb)
                         ELSE 0.0 END), 6) * 1e6) AS BIGINT) AS covq
               FROM q2),
      ${pcaRoundsSql("covp", PcaRounds)},
      tr AS (SELECT CAST(SUM(covq) AS DOUBLE) AS tr FROM covp WHERE a = b)
      SELECT k, CAST(vq AS DOUBLE) / 1e6 AS loading,
             round((SELECT num FROM nm) / (SELECT den FROM dn) / 1e6, 6) + 0.0 AS eigenvalue,
             round((SELECT num FROM nm) / (SELECT den FROM dn) / (SELECT tr FROM tr), 6) + 0.0 AS var_share
      FROM v$PcaRounds ORDER BY k"""))

  // Detoned correlation matrix (López de Prado, MLAM §2.6): remove the
  // market mode — C̃ = C − λ₁v₁v₁ᵀ from the leading eigenpair of the
  // LW-CC shrunk CORRELATION matrix, then rescale the diagonal back to
  // 1. Everything downstream of the power iteration is one fixed
  // double tree over 6-dp images (λ, loadings, corr), so the oracle
  // replays it exactly; degenerate diagonals null explicitly. The
  // residual correlation structure is what cluster/HRP-style
  // allocators should see once the common factor is stripped.
  /** Engine LW-CC shrunk CORRELATION pair frame (6-dp images, diagonal
    * 1, degenerate variances null) — shared by q_detoned_corr and
    * q_corr_mst. */
  private def corrPairs(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
    val lw = Relational.ledoitWolfConstCorr(hourly, "event_type", "bucket",
        "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      .localCheckpoint()
    val dg = lw.where(col("key_a") === col("key_b"))
      .select(col("key_a").as("dk"), col("shrunk_cov").as("dv"))
    lw
      .join(broadcast(dg.select(col("dk").as("key_a"), col("dv").as("dva"))), Seq("key_a"))
      .join(broadcast(dg.select(col("dk").as("key_b"), col("dv").as("dvb"))), Seq("key_b"))
      .select(col("key_a"), col("key_b"),
        when(col("dva") > 0.0 && col("dvb") > 0.0,
          round(col("shrunk_cov") / sqrt(col("dva") * col("dvb")), 6))
          .as("corr"))
  }

  /** The shrunk-correlation oracle stanza → CTE `corr` (a, b, corr) —
    * requires `q2`/`dl` from [[lwCcCteSql]] in scope; shared by
    * q_detoned_corr and q_corr_mst (one definition rule). */
  private val corrCteSql: String = """shr AS MATERIALIZED (SELECT key_a AS a, key_b AS b,
                 round((1.0 - (SELECT delta FROM dl)) * sab + (SELECT delta FROM dl) *
                   (CASE WHEN key_a = key_b THEN sa
                         WHEN sa > 0 AND sb > 0 THEN rbar * sqrt(sa * sb)
                         ELSE 0.0 END), 6) AS shr
               FROM q2),
      dg2 AS MATERIALIZED (SELECT a AS k, shr AS dv FROM shr WHERE a = b),
      corr AS MATERIALIZED (SELECT s.a, s.b,
                 CASE WHEN da.dv > 0 AND db.dv > 0
                      THEN round(s.shr / sqrt(da.dv * db.dv), 6) END AS corr
               FROM shr s JOIN dg2 da ON da.k = s.a JOIN dg2 db ON db.k = s.b)"""

  private val qDetonedCorr = QDef(
    "q_detoned_corr",
    (s, dir) => {
      val corr = corrPairs(s, dir)
      val eig = operators.Backtest.leadingEigen(corr, "corr", rounds = PcaRounds)
      val lam = eig.agg(max(col("eigenvalue")).as("lam"))
      val vfr = eig.select(col("k"), col("loading"))
      val det = corr
        .join(broadcast(vfr.select(col("k").as("key_a"), col("loading").as("va"))), Seq("key_a"))
        .join(broadcast(vfr.select(col("k").as("key_b"), col("loading").as("vb"))), Seq("key_b"))
        .crossJoin(broadcast(lam))
        .withColumn("det", col("corr") - col("lam") * col("va") * col("vb"))
      val dd = det.where(col("key_a") === col("key_b"))
        .select(col("key_a").as("ddk"), col("det").as("ddv"))
      det
        .join(broadcast(dd.select(col("ddk").as("key_a"), col("ddv").as("daa"))), Seq("key_a"))
        .join(broadcast(dd.select(col("ddk").as("key_b"), col("ddv").as("dbb"))), Seq("key_b"))
        .select(col("key_a"), col("key_b"), col("corr"),
          when(col("daa") > 0.0 && col("dbb") > 0.0,
            round(col("det") / sqrt(col("daa") * col("dbb")), 6) + lit(0.0))
            .as("detoned"))
        .orderBy("key_a", "key_b")
    },
    Some(s"""
      WITH $lwCcCteSql,
      $corrCteSql,
      covp AS MATERIALIZED (SELECT a, b,
                 CAST(round(corr * 1e6) AS BIGINT) AS covq FROM corr),
      ${pcaRoundsSql("covp", PcaRounds)},
      lam AS (SELECT round((SELECT num FROM nm) / (SELECT den FROM dn) / 1e6, 6) + 0.0 AS lam),
      det AS MATERIALIZED (SELECT c.a, c.b, c.corr,
                 c.corr - (SELECT lam FROM lam)
                   * (CAST(va.vq AS DOUBLE) / 1e6) * (CAST(vb.vq AS DOUBLE) / 1e6) AS det
               FROM corr c JOIN v$PcaRounds va ON va.k = c.a
                           JOIN v$PcaRounds vb ON vb.k = c.b),
      dd AS MATERIALIZED (SELECT a AS k, det AS ddv FROM det WHERE a = b)
      SELECT det.a AS key_a, det.b AS key_b, det.corr,
             CASE WHEN da.ddv > 0 AND db.ddv > 0
                  THEN round(det.det / sqrt(da.ddv * db.ddv), 6) + 0.0 END AS detoned
      FROM det JOIN dd da ON da.k = det.a JOIN dd db ON db.k = det.b
      ORDER BY key_a, key_b"""))

  /** Shared oracle CTE chain for the rolling moment queries: hourly mean
    * series per event type, pair join, ⌊·10⁴⌋ quantization, and the five
    * exact-integer 24-row window sums (q_rolling_corr / q_rolling_beta
    * differ only in the final reduction). Declared BEFORE its users —
    * object vals initialize in order. */
  private val rollingMomentsSql: String = """
      WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS t,
                        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS v
                 FROM events GROUP BY 1, 2),
      -- pairwise-null rule, mirroring windows.rollingMoments: a bucket
      -- where EITHER side's mean is null stays a frame ROW (the trailing
      -- frame counts physical rows) but contributes to no moment sum
      p AS (SELECT x.k AS key_a, y.k AS key_b, x.t AS t,
                   CASE WHEN x.v IS NOT NULL AND y.v IS NOT NULL
                        THEN CAST(floor(x.v * 1e4) AS BIGINT) END AS x6,
                   CASE WHEN x.v IS NOT NULL AND y.v IS NOT NULL
                        THEN CAST(floor(y.v * 1e4) AS BIGINT) END AS y6
            FROM h x JOIN h y ON x.t = y.t AND x.k < y.k),
      s AS (SELECT key_a, key_b, t,
                   CAST(COUNT(x6) OVER win AS BIGINT) AS cnt,
                   CAST(SUM(x6) OVER win AS BIGINT) AS sx,
                   CAST(SUM(y6) OVER win AS BIGINT) AS sy,
                   CAST(SUM(x6 * y6) OVER win AS BIGINT) AS sxy,
                   CAST(SUM(x6 * x6) OVER win AS BIGINT) AS sxx,
                   CAST(SUM(y6 * y6) OVER win AS BIGINT) AS syy
            FROM p
            WINDOW win AS (PARTITION BY key_a, key_b ORDER BY t
                           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))"""

  // Rolling 24-bucket correlation for EVERY series pair — the windowed
  // sibling of q_correlation (regime shifts, not one global r). Windows
  // partition by the pair (never a global sort); the five moment sums are
  // exact integer window aggregates sharing one frame.
  /** Shared Spark-side frame for the rolling moment queries (the twin of
    * [[rollingMomentsSql]]): hourly mean series per event type, paired on
    * the bucket — `(key_a, key_b, bucket, xv, yv)`. */
  private def hourlyPairFrame(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg((dsum(col("value")) / count(lit(1))).as("v"))
    h.as("x").join(h.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("key_a"), col("y.event_type").as("key_b"),
        col("x.bucket").as("bucket"), col("x.v").as("xv"), col("y.v").as("yv"))
  }
  private val pairWindow = Window.partitionBy("key_a", "key_b").orderBy("bucket")

  private val qRollingCorr = QDef(
    "q_rolling_corr",
    (s, dir) => hourlyPairFrame(s, dir)
      .select(col("key_a"), col("key_b"), micros(col("bucket")).as("bucket_us"),
        W.rollingCorr(col("xv"), col("yv"), n = 24, pairWindow, scale = 1e4).as("corr"))
      .orderBy("key_a", "key_b", "bucket_us"),
    Some(s"""
      $rollingMomentsSql
      SELECT key_a, key_b, epoch_us(t) AS bucket_us,
             CASE WHEN cnt >= 24
                   AND (CAST(cnt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(cnt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(cnt AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(cnt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(cnt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             END AS corr
      FROM s ORDER BY key_a, key_b, bucket_us"""))

  // Rolling 24-bucket OLS beta (hedge ratio) per series pair — the same
  // exact-integer moment frame as q_rolling_corr, reduced to cov/var.
  private val qRollingBeta = QDef(
    "q_rolling_beta",
    (s, dir) => hourlyPairFrame(s, dir)
      .select(col("key_a"), col("key_b"), micros(col("bucket")).as("bucket_us"),
        W.rollingBeta(col("xv"), col("yv"), n = 24, pairWindow, scale = 1e4).as("beta"))
      .orderBy("key_a", "key_b", "bucket_us"),
    Some(s"""
      $rollingMomentsSql
      SELECT key_a, key_b, epoch_us(t) AS bucket_us,
             CASE WHEN cnt >= 24
                   AND (CAST(cnt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(cnt AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (CAST(cnt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 6)
             END AS beta
      FROM s ORDER BY key_a, key_b, bucket_us"""))

  // Lead-lag cross-correlation: r between a's hourly series at t and b's
  // at t+lag for lag ∈ [−3, 3] — exact integer hour indexes (integer
  // division, never a float divide) and the q_correlation moment
  // determinism, 70 (pair, lag) rows at sf0.01.
  private val qLeadLagCorr = QDef(
    "q_leadlag_corr",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.leadLagCorr(h, "event_type", "hb", "v", maxLag = 3,
        scale = 1e4)
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      -- null-mean buckets drop BEFORE pairing (the operator filters
      -- valueCol.isNotNull — they must not count toward n)
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      l AS (SELECT unnest(range(-3, 4)) AS lag),
      p AS (SELECT x.k AS key_a, y.k AS key_b, l.lag,
                   x.v AS xa, y.v AS xb
            FROM h x CROSS JOIN l JOIN h y
              ON y.hb = x.hb + l.lag AND x.k < y.k),
      s AS (SELECT key_a, key_b, lag, COUNT(*) AS n,
                   CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                   CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                   CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                   CAST(SUM(xb * xb) AS BIGINT) AS syy
            FROM p GROUP BY 1, 2, 3)
      SELECT key_a, key_b, CAST(lag AS BIGINT) AS lag, n,
             CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             END AS corr
      FROM s ORDER BY key_a, key_b, lag"""))

  // Per-series maximum drawdown over each event type's daily-close
  // series — deepest peak-to-trough with the earliest trough bucket;
  // running max + dd are identical double trees cross-engine, the
  // trough elects by exact integer-µs MIN.
  private val qDrawdownStats = QDef(
    "q_drawdown_stats",
    (s, dir) => {
      val daily = Resample.bars(t(s, dir, "events"), "ts", "value",
          "event_id", "1 day", Seq("event_type"))
        .select(col("event_type"), col("bar_ts"), col("close"))
      TA.drawdownStats(daily, Seq("event_type"), "bar_ts", "close")
    },
    Some("""
      WITH b AS (SELECT event_type, date_trunc('day', ts) AS bar_ts,
                        ARG_MAX(value, ts) AS close
                 FROM events GROUP BY 1, 2),
      d AS (SELECT event_type, bar_ts, close,
                   MAX(close) OVER (PARTITION BY event_type ORDER BY bar_ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
            FROM b),
      dd AS (SELECT event_type, bar_ts,
                    CASE WHEN rm > 0 THEN (close - rm) / rm END AS dd
             FROM d),
      m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
                   MIN(dd) AS max_drawdown
            FROM dd GROUP BY 1)
      SELECT m.event_type, m.n_obs, round(m.max_drawdown, 6) AS max_drawdown,
             MIN(CASE WHEN dd.dd = m.max_drawdown THEN epoch_us(dd.bar_ts) END) AS trough_ts_us
      FROM dd JOIN m ON dd.event_type = m.event_type
      GROUP BY 1, 2, 3 ORDER BY m.event_type"""))

  // Purged walk-forward CV splits with embargo over the event stream:
  // 5 equal-time test folds, 12 h label horizon (train samples whose
  // labels peek into the test window are purged), 6 h embargo after each
  // window — all integer-µs arithmetic, membership engine-reproducible.
  private val qPurgedSplit = QDef(
    "q_purged_split",
    (s, dir) => Relational.purgedTimeSplit(t(s, dir, "events"),
        "event_id", "ts", k = 5,
        horizonUs = 12L * 3600 * 1000000, embargoUs = 6L * 3600 * 1000000)
      .orderBy("event_id", "fold"),
    Some("""
      WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM e),
      f AS (SELECT ff.fold, b.lo + ff.fold * ((b.hi - b.lo + 1) // 5) AS f_lo,
                   CASE WHEN ff.fold = 4 THEN b.hi + 1
                        ELSE b.lo + (ff.fold + 1) * ((b.hi - b.lo + 1) // 5) END AS f_hi
            FROM (SELECT unnest(range(0, 5)) AS fold) ff CROSS JOIN b)
      SELECT e.event_id, e.ts_us, CAST(f.fold AS BIGINT) AS fold,
             CASE WHEN e.ts_us >= f.f_lo AND e.ts_us < f.f_hi THEN 'test'
                  WHEN e.ts_us < f.f_lo AND e.ts_us + 43200000000 >= f.f_lo THEN 'purged'
                  WHEN e.ts_us >= f.f_hi AND e.ts_us < f.f_hi + 21600000000 THEN 'embargo'
                  ELSE 'train' END AS role
      FROM e CROSS JOIN f ORDER BY event_id, fold"""))

  // Combinatorial purged CV (AFML ch. 12): every pair of the 4 time
  // groups serves as a test set — 6 splits, purge/embargo applied
  // around EACH test group, each group's 3 test occurrences indexed
  // into backtest paths. The split/path enumeration interpolates from
  // Relational.cpcvCombos so the oracle replays the identical
  // combination order.
  private val qCpcvSplit = QDef(
    "q_cpcv_split",
    (s, dir) => Relational.cpcvSplit(t(s, dir, "events"),
        "event_id", "ts", k = 4, pTest = 2,
        horizonUs = 12L * 3600 * 1000000, embargoUs = 6L * 3600 * 1000000)
      .orderBy("event_id", "split_id"),
    Some {
      val combos = Relational.cpcvCombos(4, 2)
        .map { case (s0, g, p) => s"($s0, $g, $p)" }.mkString(", ")
      s"""
      WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
      b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi,
                   (max(ts_us) - min(ts_us) + 1) // 4 AS step
            FROM e),
      sg AS (SELECT c.split_id, c.g, c.path,
                    b.lo + c.g * b.step AS g_lo,
                    CASE WHEN c.g = 3 THEN b.hi + 1
                         ELSE b.lo + (c.g + 1) * b.step END AS g_hi
             FROM (VALUES $combos) c(split_id, g, path) CROSS JOIN b),
      r AS (SELECT e.event_id, e.ts_us,
                   LEAST(3, (e.ts_us - b.lo) // b.step) AS fold
            FROM e CROSS JOIN b),
      j AS (SELECT r.event_id, r.ts_us, r.fold, sg.split_id,
                   MAX(CASE WHEN r.fold = sg.g THEN sg.path END) AS pth,
                   MAX(CASE WHEN r.fold = sg.g THEN 1 ELSE 0 END) AS t,
                   MAX(CASE WHEN r.ts_us < sg.g_lo
                             AND r.ts_us + 43200000000 >= sg.g_lo
                            THEN 1 ELSE 0 END) AS p,
                   MAX(CASE WHEN r.ts_us >= sg.g_hi
                             AND r.ts_us < sg.g_hi + 21600000000
                            THEN 1 ELSE 0 END) AS em
            FROM r CROSS JOIN sg GROUP BY 1, 2, 3, 4)
      SELECT event_id, ts_us, CAST(split_id AS BIGINT) AS split_id,
             CAST(fold AS BIGINT) AS fold,
             CASE WHEN t = 1 THEN 'test' WHEN p = 1 THEN 'purged'
                  WHEN em = 1 THEN 'embargo' ELSE 'train' END AS role,
             CAST(CASE WHEN t = 1 THEN pth END AS BIGINT) AS path
      FROM j ORDER BY event_id, split_id"""
    })

  // Volume bars: a new bar per 5,000 units of traded value — bar
  // boundaries derive from the exact integer-cent running sum over the
  // total (ts, event_id) ordering, so bar membership is
  // engine-reproducible even with duplicate timestamps.
  private val qVolumeBars = QDef(
    "q_volume_bars",
    (s, dir) => Resample.volumeBars(t(s, dir, "events"), "ts", "value",
        "value", "event_id", Seq("event_type"), threshold = 5000.0)
      .select(col("event_type"), col("bar_id"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("n_ticks"),
        micros(col("open_ts")).as("open_ts_us"),
        micros(col("close_ts")).as("close_ts_us"))
      .orderBy("event_type", "bar_id"),
    Some("""
      WITH b AS (SELECT event_type, ts, value, event_id,
                        COALESCE(SUM(CAST(floor(value * 100) AS BIGINT)) OVER
                          (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
                 FROM events),
      c AS (SELECT event_type, CAST(cumb // 500000 AS BIGINT) AS bar_id,
                   ts, value, event_id
            FROM b),
      rn AS (SELECT *,
                    row_number() OVER (PARTITION BY event_type, bar_id
                                       ORDER BY ts, event_id) AS rf,
                    row_number() OVER (PARTITION BY event_type, bar_id
                                       ORDER BY ts DESC, event_id DESC) AS rl
             FROM c),
      g AS (SELECT event_type, bar_id, MAX(value) AS high, MIN(value) AS low,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
                   COUNT(*) AS n_ticks,
                   epoch_us(MIN(ts)) AS open_ts_us, epoch_us(MAX(ts)) AS close_ts_us
            FROM c GROUP BY 1, 2)
      SELECT g.event_type, g.bar_id, o.value AS open, g.high, g.low,
             cl.value AS close, g.volume, g.n_ticks, g.open_ts_us, g.close_ts_us
      FROM g
      JOIN rn o  ON o.event_type = g.event_type AND o.bar_id = g.bar_id AND o.rf = 1
      JOIN rn cl ON cl.event_type = g.event_type AND cl.bar_id = g.bar_id AND cl.rl = 1
      ORDER BY g.event_type, g.bar_id"""))

  // Dollar bars: a new bar per 2,000 units of traded VALUE (price·size,
  // size planted deterministically from event_id) — the price-drift-
  // robust member of the AFML bar family. Same exact-integer boundary
  // contract as q_volume_bars; binding at sf0.01 (~100 bars).
  private val qDollarBars = QDef(
    "q_dollar_bars",
    (s, dir) => Resample.dollarBars(
        t(s, dir, "events")
          .withColumn("vol", (col("event_id") % 5 + 1).cast("double")),
        "ts", "value", "vol", "event_id", Seq("event_type"), threshold = 2000.0)
      .select(col("event_type"), col("bar_id"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("n_ticks"),
        micros(col("open_ts")).as("open_ts_us"),
        micros(col("close_ts")).as("close_ts_us"))
      .orderBy("event_type", "bar_id"),
    Some(raw"""
      WITH e AS (SELECT event_type, ts, value, event_id,
                        CAST((event_id % 5) + 1 AS DOUBLE) AS vol
                 FROM events),
      b AS (SELECT event_type, ts, value, vol, event_id,
                   COALESCE(SUM(CAST(floor(value * vol * 100) AS BIGINT)) OVER
                     (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
            FROM e),
      c AS (SELECT event_type, CAST(cumb // 200000 AS BIGINT) AS bar_id,
                   ts, value, vol, event_id
            FROM b),
      rn AS (SELECT *,
                    row_number() OVER (PARTITION BY event_type, bar_id
                                       ORDER BY ts, event_id) AS rf,
                    row_number() OVER (PARTITION BY event_type, bar_id
                                       ORDER BY ts DESC, event_id DESC) AS rl
             FROM c),
      g AS (SELECT event_type, bar_id, MAX(value) AS high, MIN(value) AS low,
                   CAST(SUM(CAST(vol AS DECIMAL(18,2))) AS DOUBLE) AS volume,
                   COUNT(*) AS n_ticks,
                   epoch_us(MIN(ts)) AS open_ts_us, epoch_us(MAX(ts)) AS close_ts_us
            FROM c GROUP BY 1, 2)
      SELECT g.event_type, g.bar_id, o.value AS open, g.high, g.low,
             cl.value AS close, g.volume, g.n_ticks, g.open_ts_us, g.close_ts_us
      FROM g
      JOIN rn o  ON o.event_type = g.event_type AND o.bar_id = g.bar_id AND o.rf = 1
      JOIN rn cl ON cl.event_type = g.event_type AND cl.bar_id = g.bar_id AND cl.rl = 1
      ORDER BY g.event_type, g.bar_id"""))

  // Tick-imbalance bars over each event type's HOURLY close series: tick-
  // rule signs (carry through flats), close a bar when |Σb| reaches 5.
  // The Spark side is the O(1)-state graft_threshold_bar_id window scan;
  // the oracle replays the same reset recursion row by row in a
  // RECURSIVE CTE over the materialized sign frame.
  private val qImbalanceBars = QDef(
    "q_imbalance_bars",
    (s, dir) => Resample.imbalanceBars(
        t(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("close")),
        "bucket", "close", "bucket", Seq("event_type"), threshold = 5L)
      .select(col("event_type"), col("bar_id"), col("open"), col("high"),
        col("low"), col("close"), col("n_ticks"), col("net_ticks"),
        micros(col("open_ts")).as("open_ts_us"),
        micros(col("close_ts")).as("close_ts_us"))
      .orderBy("event_type", "bar_id"),
    Some(raw"""
      WITH RECURSIVE
      h0 AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket, value,
                    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                       ORDER BY ts DESC, event_id DESC) AS r
             FROM events),
      h AS (SELECT k, bucket, value AS close FROM h0 WHERE r = 1),
      b0 AS (SELECT k, bucket, close,
                    row_number() OVER (PARTITION BY k ORDER BY bucket) AS rn,
                    close - lag(close) OVER (PARTITION BY k ORDER BY bucket) AS delta
             FROM h),
      sgf AS MATERIALIZED (
        SELECT k, bucket, close, rn,
               coalesce(last_value(CASE WHEN delta > 0 THEN 1
                                        WHEN delta < 0 THEN -1 END IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 0) AS b
        FROM b0),
      scan(k, rn, cum, bar, emit) AS (
        SELECT k, rn,
               CASE WHEN abs(b) >= 5 THEN 0 ELSE b END,
               CASE WHEN abs(b) >= 5 THEN 1 ELSE 0 END,
               0
        FROM sgf WHERE rn = 1
        UNION ALL
        SELECT s.k, s.rn + 1,
               CASE WHEN abs(s.cum + f.b) >= 5 THEN 0 ELSE s.cum + f.b END,
               CASE WHEN abs(s.cum + f.b) >= 5 THEN s.bar + 1 ELSE s.bar END,
               s.bar
        FROM scan s JOIN sgf f ON f.k = s.k AND f.rn = s.rn + 1),
      rows_ AS (SELECT f.k, f.bucket, f.close, f.b, CAST(s.emit AS BIGINT) AS bar_id
                FROM sgf f JOIN scan s ON s.k = f.k AND s.rn = f.rn)
      SELECT k AS event_type, bar_id,
             ARG_MIN(close, bucket) AS open, MAX(close) AS high,
             MIN(close) AS low, ARG_MAX(close, bucket) AS close,
             COUNT(*) AS n_ticks, CAST(SUM(b) AS BIGINT) AS net_ticks,
             epoch_us(MIN(bucket)) AS open_ts_us,
             epoch_us(MAX(bucket)) AS close_ts_us
      FROM rows_ GROUP BY 1, 2 ORDER BY event_type, bar_id"""))

  // VPIN flow toxicity over each event type's tick stream: equal-volume
  // buckets (the volumeBars clock), tick-rule buy/sell classification,
  // trailing-5-bucket mean of |Vbuy−Vsell|/bucketVolume. The signed
  // imbalance is an exact integer (Σ b·⌊vol·100⌋ cents) and bucket
  // membership rides the exclusive-prefix floor-division contract, so
  // only the final ratios are doubles (one tree, 6 dp).
  private val qVpin = QDef(
    "q_vpin",
    (s, dir) => Resample.vpin(t(s, dir, "events"), "ts", "value", "value",
        "event_id", Seq("event_type"), bucketVolume = 2000.0, window = 5)
      .select(col("event_type"), col("bar_id"), col("volume"),
        col("abs_imbalance"), col("vpin"), col("n_ticks"),
        micros(col("close_ts")).as("close_ts_us"))
      .orderBy("event_type", "bar_id"),
    Some(s"""
      WITH b0 AS (SELECT event_type AS k, ts, event_id, value,
                         value - lag(value) OVER (PARTITION BY event_type
                                                  ORDER BY ts, event_id) AS delta
                  FROM events),
      sg AS (SELECT k, ts, event_id,
                    COALESCE(last_value(CASE WHEN delta > 0 THEN 1
                                             WHEN delta < 0 THEN -1 END IGNORE NULLS)
                      OVER (PARTITION BY k ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      0) AS b,
                    CAST(floor(value * 100) AS BIGINT) AS c
             FROM b0),
      cum AS (SELECT *, COALESCE(SUM(c) OVER (PARTITION BY k ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
              FROM sg),
      g AS (SELECT k, CAST(cumb // 200000 AS BIGINT) AS bar_id,
                   CAST(SUM(c) AS BIGINT) AS vc,
                   CAST(SUM(b * c) AS BIGINT) AS net,
                   COUNT(*) AS n_ticks, MAX(ts) AS close_ts
            FROM cum GROUP BY 1, 2),
      w AS (SELECT k, bar_id, vc, net, n_ticks, close_ts,
                   COUNT(*) OVER tw AS cnt,
                   CAST(SUM(abs(net)) OVER tw AS BIGINT) AS snet
            FROM g
            WINDOW tw AS (PARTITION BY k ORDER BY bar_id
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      SELECT k AS event_type, bar_id,
             round(CAST(vc AS DOUBLE) / 100.0, 2) AS volume,
             round(CAST(abs(net) AS DOUBLE) / 100.0, 2) AS abs_imbalance,
             CASE WHEN cnt = 5
                  THEN round(CAST(snet AS DOUBLE) / ${5.0 * 200000L}, 6) END AS vpin,
             n_ticks, epoch_us(close_ts) AS close_ts_us
      FROM w ORDER BY event_type, bar_id"""))

  // Triple-barrier labels over each event type's value stream: +1 if the
  // value first trebles (upPct=2), −1 if it first drops below 20%
  // (dnPct=0.8), 0 if neither inside the 6 h horizon. Touch times are
  // exact integer-µs MINs; ties resolve up by the documented rule.
  private val qTripleBarrier = QDef(
    "q_triple_barrier",
    (s, dir) => Labeling.tripleBarrier(t(s, dir, "events"),
        Seq("event_type"), "ts", "value", "event_id",
        horizonUs = 6L * 3600 * 1000000, upPct = 2.0, dnPct = 0.8)
      .orderBy("event_type", "ts_us", "price"),
    // the barrier factors interpolate from Scala so BOTH engines compare
    // against the identical binary double — DuckDB folds literal
    // `1.0 - 0.8` in exact DECIMAL (0.2), one ulp off Scala's double
    // subtraction, which flips boundary ticks (seen live at sf0.01)
    Some(s"""
      WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
                        CAST(value AS DOUBLE) AS price, event_id
                 FROM events),
      h AS (SELECT x.event_type, x.ts_us, x.event_id,
                   MIN(CASE WHEN f.price >= x.price * ${1.0 + 2.0} THEN f.ts_us END) AS t_up_us,
                   MIN(CASE WHEN f.price <= x.price * ${1.0 - 0.8} THEN f.ts_us END) AS t_dn_us
            FROM e x JOIN e f
              ON f.event_type = x.event_type
             AND f.ts_us > x.ts_us AND f.ts_us <= x.ts_us + 21600000000
            GROUP BY 1, 2, 3)
      SELECT e.event_type, e.ts_us, e.price, h.t_up_us, h.t_dn_us,
             CASE WHEN h.t_up_us IS NOT NULL
                   AND (h.t_dn_us IS NULL OR h.t_up_us <= h.t_dn_us) THEN 1
                  WHEN h.t_dn_us IS NOT NULL THEN -1
                  ELSE 0 END AS label
      FROM e LEFT JOIN h ON e.event_type = h.event_type
                        AND e.ts_us = h.ts_us AND e.event_id = h.event_id
      ORDER BY e.event_type, e.ts_us, e.price"""))

  // Meta-labels over the same barrier machinery: the momentum side
  // (sign of the last change) is the PRIMARY model; meta_label = 1 iff
  // the triple-barrier first touch realized in the side's favor
  // (side·label > 0) — the AFML ch. 3 precision filter. Tighter
  // barriers (+50%/−30%) than q_triple_barrier so both meta classes
  // actually occur; the side rides the entry row as a passthrough
  // column, no extra join.
  private val qMetaLabel = QDef(
    "q_meta_label",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .withColumn("side",
          coalesce(signum(col("value") - lag(col("value"), 1).over(w)), lit(0.0)))
      Labeling.metaLabel(base, Seq("event_type"), "ts", "value", "event_id",
          "side", horizonUs = 6L * 3600 * 1000000, upPct = 0.5, dnPct = 0.3)
        .orderBy("event_type", "ts_us", "price")
    },
    Some(s"""
      WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
                        CAST(value AS DOUBLE) AS price, event_id,
                        COALESCE(CAST(sign(value - lag(value) OVER (
                          PARTITION BY event_type ORDER BY ts, event_id))
                          AS DOUBLE), 0.0) AS side
                 FROM events),
      h AS (SELECT x.event_type, x.ts_us, x.event_id,
                   MIN(CASE WHEN f.price >= x.price * ${1.0 + 0.5} THEN f.ts_us END) AS t_up_us,
                   MIN(CASE WHEN f.price <= x.price * ${1.0 - 0.3} THEN f.ts_us END) AS t_dn_us
            FROM e x JOIN e f
              ON f.event_type = x.event_type
             AND f.ts_us > x.ts_us AND f.ts_us <= x.ts_us + 21600000000
            GROUP BY 1, 2, 3),
      l AS (SELECT e.event_type, e.ts_us, e.price, e.side,
                   h.t_up_us, h.t_dn_us,
                   CASE WHEN h.t_up_us IS NOT NULL
                         AND (h.t_dn_us IS NULL OR h.t_up_us <= h.t_dn_us) THEN 1
                        WHEN h.t_dn_us IS NOT NULL THEN -1
                        ELSE 0 END AS label
            FROM e LEFT JOIN h ON e.event_type = h.event_type
                              AND e.ts_us = h.ts_us AND e.event_id = h.event_id)
      SELECT event_type, ts_us, price, side, t_up_us, t_dn_us,
             CAST(label AS BIGINT) AS label,
             CAST(CASE WHEN side * label > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS meta_label
      FROM l ORDER BY event_type, ts_us, price"""))

  // PSI feature drift per event type: first-half of the stream as the
  // reference slice, second half as current; 10 reference-anchored
  // equi-width bins, add-half smoothing, exact integer µ-term sums.
  private val qPsiDrift = QDef(
    "q_psi_drift",
    (s, dir) => Relational.psiDrift(t(s, dir, "events"), Seq("event_type"),
        "value", isRef = col("ts") < to_timestamp(lit("2024-01-15")), bins = 10)
      .orderBy("event_type"),
    Some("""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
                        (ts < TIMESTAMP '2024-01-15') AS is_ref
                 FROM events WHERE value IS NOT NULL),
      b AS (SELECT event_type, min(v) AS mn, max(v) AS mx
            FROM e WHERE is_ref GROUP BY 1),
      c0 AS (SELECT e.event_type,
                    CASE WHEN b.mx = b.mn THEN 0
                         ELSE GREATEST(0, LEAST(9,
                           CAST(floor((e.v - b.mn) / ((b.mx - b.mn) / 10.0)) AS BIGINT)))
                    END AS bin,
                    CAST(COUNT(CASE WHEN e.is_ref THEN 1 END) AS BIGINT) AS c_ref,
                    CAST(COUNT(CASE WHEN NOT e.is_ref THEN 1 END) AS BIGINT) AS c_cur
             FROM e JOIN b USING (event_type) GROUP BY 1, 2),
      g AS (SELECT b.event_type, gg.bin FROM b
            CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) gg),
      cells AS (SELECT g.event_type, g.bin,
                       COALESCE(c0.c_ref, 0) AS c_ref, COALESCE(c0.c_cur, 0) AS c_cur
                FROM g LEFT JOIN c0 ON g.event_type = c0.event_type AND g.bin = c0.bin),
      tot AS (SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                     CAST(SUM(c_cur) AS BIGINT) AS n_cur
              FROM cells GROUP BY 1),
      terms AS (SELECT cells.event_type, tot.n_ref, tot.n_cur,
                       CAST(round(
                         ((CAST(c_cur AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0)
                          - (CAST(c_ref AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
                         * ln(((CAST(c_cur AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
                              / ((CAST(c_ref AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)))
                         * 1e9) AS BIGINT) AS term_fp
                FROM cells JOIN tot USING (event_type))
      SELECT event_type, n_ref, n_cur,
             CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE) / 1e9 AS psi
      FROM terms GROUP BY 1, 2, 3 ORDER BY event_type"""))

  // The STREAMING drift monitor under the same oracle: anchor the
  // reference histogram (write→commit), land the current slice as two
  // committed micro-batches split by event-id parity, and read the
  // incremental PSI — which must equal one-shot psiDrift over the union
  // (shared bucket + smoothing trees), i.e. exactly what the q_psi_drift
  // oracle computes relationally. The per-run temp index exercises the
  // real atomic-commit cycle, like q_neardup_incremental.
  private val qDriftMonitor = QDef(
    "q_drift_monitor",
    (s, dir) => {
      val e = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-15"))
      val idx = java.nio.file.Files
        .createTempDirectory("graft_qdrift").toString + "/idx"
      operators.DriftMonitor.writeDriftReference(
        e.filter(col("ts") < cut), Seq("event_type"), "value", idx, bins = 10)
      val cur = e.filter(col("ts") >= cut)
      operators.DriftMonitor.driftBatch(cur.filter(col("event_id") % 2 === 0),
        Seq("event_type"), "value", idx, batchId = "0", bins = 10)
      operators.DriftMonitor.driftBatch(cur.filter(col("event_id") % 2 === 1),
        Seq("event_type"), "value", idx, batchId = "1", bins = 10)
      operators.DriftMonitor.driftPsi(s, idx, Seq("event_type"), bins = 10)
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
                        (ts < TIMESTAMP '2024-01-15') AS is_ref
                 FROM events WHERE value IS NOT NULL),
      b AS (SELECT event_type, min(v) AS mn, max(v) AS mx
            FROM e WHERE is_ref GROUP BY 1),
      c0 AS (SELECT e.event_type,
                    CASE WHEN b.mx = b.mn THEN 0
                         ELSE GREATEST(0, LEAST(9,
                           CAST(floor((e.v - b.mn) / ((b.mx - b.mn) / 10.0)) AS BIGINT)))
                    END AS bin,
                    CAST(COUNT(CASE WHEN e.is_ref THEN 1 END) AS BIGINT) AS c_ref,
                    CAST(COUNT(CASE WHEN NOT e.is_ref THEN 1 END) AS BIGINT) AS c_cur
             FROM e JOIN b USING (event_type) GROUP BY 1, 2),
      g AS (SELECT b.event_type, gg.bin FROM b
            CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) gg),
      cells AS (SELECT g.event_type, g.bin,
                       COALESCE(c0.c_ref, 0) AS c_ref, COALESCE(c0.c_cur, 0) AS c_cur
                FROM g LEFT JOIN c0 ON g.event_type = c0.event_type AND g.bin = c0.bin),
      tot AS (SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
                     CAST(SUM(c_cur) AS BIGINT) AS n_cur
              FROM cells GROUP BY 1),
      terms AS (SELECT cells.event_type, tot.n_ref, tot.n_cur,
                       CAST(round(
                         ((CAST(c_cur AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0)
                          - (CAST(c_ref AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
                         * ln(((CAST(c_cur AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
                              / ((CAST(c_ref AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)))
                         * 1e9) AS BIGINT) AS term_fp
                FROM cells JOIN tot USING (event_type))
      SELECT event_type, n_ref, n_cur,
             CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE) / 1e9 AS psi
      FROM terms GROUP BY 1, 2, 3 ORDER BY event_type"""))

  // Two-sided CUSUM changepoint scan per event type — the sequential
  // mean-shift monitor beside q_psi_drift/q_drift_monitor. The max(0,·)
  // recursion reflects into prefix-sum − running-min windows; the whole
  // statistic is EXACT µ-unit integers (values floor-quantize, the
  // target/slack/threshold are integral at 10⁶), so the alarm flags can
  // never flip cross-engine.
  private val qCusum = QDef(
    "q_cusum",
    (s, dir) => Relational.cusumDetect(t(s, dir, "events"),
        Seq("event_type"), "ts", "value", "event_id",
        target = 35.0, slack = 5.0, threshold = 500.0)
      .select(col("event_type"), micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("s_pos"), col("s_neg"),
        col("alarm_pos"), col("alarm_neg"))
      .orderBy("event_type", "ts_us", "event_id"),
    Some("""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(floor(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS xq
                 FROM events WHERE value IS NOT NULL),
      p AS (SELECT k, ts, event_id, xq,
                   SUM(xq - 35000000 - 5000000) OVER (
                     PARTITION BY k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
                   SUM(35000000 - xq - 5000000) OVER (
                     PARTITION BY k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pn
            FROM b),
      sm AS (SELECT k, ts, event_id, xq,
                    pp - LEAST(0, MIN(pp) OVER (
                      PARTITION BY k ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sp,
                    pn - LEAST(0, MIN(pn) OVER (
                      PARTITION BY k ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sn
             FROM p)
      SELECT k AS event_type, epoch_us(ts) AS ts_us, event_id,
             round(CAST(xq AS DOUBLE) / 1e6, 6) AS value,
             round(CAST(sp AS DOUBLE) / 1e6, 6) AS s_pos,
             round(CAST(sn AS DOUBLE) / 1e6, 6) AS s_neg,
             sp > 500000000 AS alarm_pos,
             sn > 500000000 AS alarm_neg
      FROM sm ORDER BY event_type, ts_us, event_id"""))

  // The INCREMENTAL CUSUM under the same oracle: fold the stream as two
  // time-split committed batches through the versioned-state loop
  // (write → commit → score, the q_drift_monitor pattern) and read the
  // standing scores — which must equal one-shot cusumDetect over the
  // union, i.e. exactly what the q_cusum oracle computes relationally.
  private val qCusumFold = QDef(
    "q_cusum_fold",
    (s, dir) => {
      val e = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-15"))
      val st = java.nio.file.Files
        .createTempDirectory("graft_qcusum").toString + "/state"
      operators.DriftMonitor.cusumBatch(s, st, 0L, e.filter(col("ts") < cut),
        Seq("event_type"), "ts", "value", "event_id", 35.0, 5.0, 500.0)
      operators.DriftMonitor.cusumBatch(s, st, 1L, e.filter(col("ts") >= cut),
        Seq("event_type"), "ts", "value", "event_id", 35.0, 5.0, 500.0)
      operators.DriftMonitor.cusumScores(s, st, Seq("event_type"), "ts", "event_id")
        .select(col("event_type"), micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"), col("s_pos"), col("s_neg"),
          col("alarm_pos"), col("alarm_neg"))
        .orderBy("event_type", "ts_us", "event_id")
    },
    qCusum.oracle)

  // Per-series autocorrelation at hourly lags 1..3 — momentum/mean-
  // reversion structure per event type; same exact-integer moment
  // machinery as q_correlation, self-paired on the shifted hour index.
  private val qAcf = QDef(
    "q_acf",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.acf(h, "event_type", "hb", "v", maxLag = 3, scale = 1e4)
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      -- null-mean buckets drop BEFORE pairing (the operator filters
      -- valueCol.isNotNull — they must not count toward n)
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      l AS (SELECT unnest(range(1, 4)) AS lag),
      p AS (SELECT x.k AS key, l.lag, x.v AS xa, y.v AS xb
            FROM h x CROSS JOIN l JOIN h y
              ON y.k = x.k AND y.hb = x.hb + l.lag),
      s AS (SELECT key, lag, COUNT(*) AS n,
                   CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                   CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                   CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                   CAST(SUM(xb * xb) AS BIGINT) AS syy
            FROM p GROUP BY 1, 2)
      SELECT key, CAST(lag AS BIGINT) AS lag, n,
             CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             END AS corr
      FROM s ORDER BY key, lag"""))

  // PACF (Durbin–Levinson over the 6-dp ACF vector) + Ljung–Box Q per
  // event type — the Box–Jenkins identification pair next to q_acf. The
  // oracle replays the recursion UNROLLED per lag level (the
  // kmeans-round pattern): every sum is an explicit left-associated
  // expression, so both engines walk the identical IEEE tree from
  // identical rounded ACF inputs.
  private val qPacf = QDef(
    "q_pacf",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.pacfLjungBox(h, "event_type", "hb", "v", maxLag = 5,
          scale = 1e4)
        .orderBy("key", "lag")
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      nn AS (SELECT k AS key, CAST(COUNT(*) AS DOUBLE) AS nd FROM h GROUP BY 1),
      l AS (SELECT unnest(range(1, 6)) AS lag),
      p AS (SELECT x.k AS key, l.lag, x.v AS xa, y.v AS xb
            FROM h x CROSS JOIN l JOIN h y
              ON y.k = x.k AND y.hb = x.hb + l.lag),
      s AS (SELECT key, lag, COUNT(*) AS n,
                   CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                   CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                   CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                   CAST(SUM(xb * xb) AS BIGINT) AS syy
            FROM p GROUP BY 1, 2),
      a AS (SELECT key, lag,
             CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             END AS corr
            FROM s),
      rv AS (SELECT key,
                    MAX(CASE WHEN lag = 1 THEN corr END) AS r1,
                    MAX(CASE WHEN lag = 2 THEN corr END) AS r2,
                    MAX(CASE WHEN lag = 3 THEN corr END) AS r3,
                    MAX(CASE WHEN lag = 4 THEN corr END) AS r4,
                    MAX(CASE WHEN lag = 5 THEN corr END) AS r5
             FROM a GROUP BY key),
      l1 AS (SELECT *, r1 AS p11 FROM rv),
      l2 AS (SELECT *, (r2 - (p11 * r1)) / NULLIF(1.0 - (p11 * r1), 0.0) AS p22 FROM l1),
      l2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM l2),
      l3 AS (SELECT *, (r3 - (p21 * r2 + p22 * r1))
                       / NULLIF(1.0 - (p21 * r1 + p22 * r2), 0.0) AS p33 FROM l2b),
      l3b AS (SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM l3),
      l4 AS (SELECT *, (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
                       / NULLIF(1.0 - (p31 * r1 + p32 * r2 + p33 * r3), 0.0) AS p44 FROM l3b),
      l4b AS (SELECT *, p31 - p44 * p33 AS p41, p32 - p44 * p32 AS p42,
                        p33 - p44 * p31 AS p43 FROM l4),
      l5 AS (SELECT *, (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1))
                       / NULLIF(1.0 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4), 0.0) AS p55 FROM l4b),
      f AS (SELECT l5.*, nn.nd FROM l5 JOIN nn USING (key))
      SELECT key, lag, acf, pacf, q_lb FROM (
        SELECT key, CAST(1 AS BIGINT) AS lag, r1 AS acf, round(p11, 6) AS pacf,
               round(nd * (nd + 2) * (r1 * r1 / (nd - 1)), 6) AS q_lb FROM f
        UNION ALL
        SELECT key, 2, r2, round(p22, 6),
               round(nd * (nd + 2) * (r1 * r1 / (nd - 1) + r2 * r2 / (nd - 2)), 6) FROM f
        UNION ALL
        SELECT key, 3, r3, round(p33, 6),
               round(nd * (nd + 2) * (r1 * r1 / (nd - 1) + r2 * r2 / (nd - 2)
                                      + r3 * r3 / (nd - 3)), 6) FROM f
        UNION ALL
        SELECT key, 4, r4, round(p44, 6),
               round(nd * (nd + 2) * (r1 * r1 / (nd - 1) + r2 * r2 / (nd - 2)
                                      + r3 * r3 / (nd - 3) + r4 * r4 / (nd - 4)), 6) FROM f
        UNION ALL
        SELECT key, 5, r5, round(p55, 6),
               round(nd * (nd + 2) * (r1 * r1 / (nd - 1) + r2 * r2 / (nd - 2)
                                      + r3 * r3 / (nd - 3) + r4 * r4 / (nd - 4)
                                      + r5 * r5 / (nd - 5)), 6) FROM f)
      ORDER BY key, lag"""))

  // Lo–MacKinlay variance ratio over the hourly mean series per event
  // type — VR(q) for q ∈ {2,4,8} plus the homoscedastic z. Increments
  // are exact integer differences of the ⌊v·10⁴⌋ series; population
  // variances derive from exact moment sums in one double tree the
  // oracle spells out verbatim.
  private val qVarianceRatio = QDef(
    "q_variance_ratio",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.varianceRatio(h, "event_type", "hb", "v",
        qs = Seq(2, 4, 8), scale = 1e4)
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      l AS (SELECT unnest([1, 2, 4, 8]) AS q),
      d AS (SELECT x.k AS key, l.q, y.v - x.v AS dd
            FROM h x CROSS JOIN l JOIN h y ON y.k = x.k AND y.hb = x.hb + l.q),
      m AS (SELECT key, q, COUNT(*) AS n,
                   CAST(SUM(dd) AS BIGINT) AS s1,
                   CAST(SUM(dd * dd) AS BIGINT) AS s2
            FROM d GROUP BY 1, 2),
      one AS (SELECT key, n AS n1, s1 AS a1, s2 AS a2 FROM m WHERE q = 1),
      qq AS (SELECT m.key, m.q, m.n, m.s1, m.s2, one.n1, one.a1, one.a2
             FROM m JOIN one ON one.key = m.key WHERE m.q <> 1),
      v AS (SELECT key, q, n, n1,
                   (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS varq,
                   (CAST(n1 AS DOUBLE) * CAST(a2 AS DOUBLE)
                    - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS var1
            FROM qq)
      SELECT key, CAST(q AS BIGINT) AS q, n AS n_incr,
             CASE WHEN var1 > 0
                  THEN round(varq / CAST(q AS DOUBLE) / var1, 6) END AS vr,
             CASE WHEN var1 > 0 AND n1 > 0
                  THEN round((varq / CAST(q AS DOUBLE) / var1 - 1.0)
                             / sqrt(2.0 * (2.0 * CAST(q AS DOUBLE) - 1.0)
                                    * (CAST(q AS DOUBLE) - 1.0)
                                    / (3.0 * CAST(q AS DOUBLE)
                                       * CAST(n1 AS DOUBLE))), 6) END AS z
      FROM v ORDER BY key, q"""))

  // Hurst exponent via aggregated variance (Taqqu et al. 1995) on the
  // hourly panel — block sums of exact quantized increments, per-leg
  // variance quantized to ⌊·10⁶⌋ before ln (both engines ln the SAME
  // double), level-3 quantized log–log OLS terms so the per-key fit is
  // order-free. The whole slope derivation replays below.
  private val qHurst = QDef(
    "q_hurst",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.hurstExponent(h, "event_type", "hb", "v",
        ms = Seq(1, 2, 4, 8), scale = 1e4)
    },
    Some("""
      WITH h0 AS MATERIALIZED (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS MATERIALIZED (SELECT * FROM h0 WHERE v IS NOT NULL),
      d AS MATERIALIZED (SELECT x.k AS key, y.hb AS t, y.v - x.v AS dd
            FROM h x JOIN h y ON y.k = x.k AND y.hb = x.hb + 1),
      l AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS m),
      blk AS MATERIALIZED (SELECT key, m, t // m AS b, COUNT(*) AS cnt,
                    CAST(SUM(dd) AS BIGINT) AS bs
            FROM d CROSS JOIN l GROUP BY 1, 2, 3 HAVING COUNT(*) = m),
      legs AS MATERIALIZED (SELECT key, m, COUNT(*) AS n,
                    CAST(SUM(bs) AS BIGINT) AS s1,
                    CAST(SUM(bs * bs) AS BIGINT) AS s2
            FROM blk GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      vv AS MATERIALIZED (SELECT key, m, n,
                   CAST(floor((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                              / 1e8 * 1e6) AS BIGINT) AS vq
            FROM legs),
      vz AS MATERIALIZED (SELECT key, m, n, CAST(vq AS DOUBLE) / 1e6 AS var_m
            FROM vv WHERE vq > 0),
      terms AS MATERIALIZED (SELECT key, m, n, var_m,
                   CAST(floor(ln(CAST(m AS DOUBLE)) * 1e9) AS BIGINT) AS xq,
                   CAST(floor(ln(var_m) * 1e9) AS BIGINT) AS yq,
                   CAST(floor(ln(CAST(m AS DOUBLE)) * ln(var_m) * 1e9) AS BIGINT) AS xyq,
                   CAST(floor(ln(CAST(m AS DOUBLE)) * ln(CAST(m AS DOUBLE)) * 1e9) AS BIGINT) AS xxq
            FROM vz),
      fit AS MATERIALIZED (SELECT key, CAST(COUNT(*) AS DOUBLE) AS ns,
                   CAST(SUM(xq) AS DOUBLE) / 1e9 AS sx,
                   CAST(SUM(yq) AS DOUBLE) / 1e9 AS sy,
                   CAST(SUM(xyq) AS DOUBLE) / 1e9 AS sxy,
                   CAST(SUM(xxq) AS DOUBLE) / 1e9 AS sxx
            FROM terms GROUP BY 1)
      SELECT t.key, t.m, t.n AS n_blocks, round(t.var_m, 6) AS var_m,
             CAST(f.ns AS BIGINT) AS n_scales,
             CASE WHEN f.ns >= 2 AND f.ns * f.sxx - f.sx * f.sx > 0
                  THEN round((f.ns * f.sxy - f.sx * f.sy)
                             / (f.ns * f.sxx - f.sx * f.sx) / 2.0, 6)
             END AS hurst
      FROM terms t JOIN fit f ON f.key = t.key
      ORDER BY t.key, t.m"""))

  // Wald–Wolfowitz runs test on the hourly-diff sign tape per event
  // type — the distribution-free serial-dependence check beside q_acf
  // and q_variance_ratio: n₊/n₋/R are exact integers (zero diffs drop,
  // the binary-runs convention), the z statistic one fixed tree.
  private val qRunsTest = QDef(
    "q_runs_test",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.runsTest(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      d0 AS (SELECT a.k, a.hb + 1 AS t, b.v - a.v AS dv
             FROM h a JOIN h b ON b.k = a.k AND b.hb = a.hb + 1),
      d AS (SELECT k, t, CASE WHEN dv > 0 THEN 1 ELSE -1 END AS s
            FROM d0 WHERE dv <> 0),
      m AS (SELECT k, s,
                   CASE WHEN lag(s) OVER (PARTITION BY k ORDER BY t) IS NULL
                          OR lag(s) OVER (PARTITION BY k ORDER BY t) <> s
                        THEN 1 ELSE 0 END AS nw
            FROM d),
      g AS (SELECT k,
                   CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
                   CAST(SUM(nw) AS BIGINT) AS n_runs
            FROM m GROUP BY k),
      f AS (SELECT k, n_pos, n_neg, n_runs,
                   CAST(n_pos + n_neg AS DOUBLE) AS n,
                   2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) AS a
            FROM g)
      SELECT k AS key, n_pos, n_neg, n_runs,
             round(a / n + 1.0, 6) + 0.0 AS expected_runs,
             CASE WHEN n_pos > 0 AND n_neg > 0 AND (n_pos + n_neg) > 1
                    AND a * (a - n) / (n * n * (n - 1.0)) > 0.0
                  THEN round((CAST(n_runs AS DOUBLE) - (a / n + 1.0))
                             / sqrt(a * (a - n) / (n * n * (n - 1.0))), 6) + 0.0
             END AS z
      FROM f ORDER BY key"""))

  // Shared DuckDB CTE prefix for the hourly-diff-tape test family
  // (q_runs_test's h0/h plus the exact first-difference tape): the
  // Spark side is quantizedBase(scale=1e4) + diffTape inside the
  // operators — consecutive hours only, gaps drop the increment.
  private val DiffTapeSqlPrefix = """
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      d AS (SELECT a.k, a.hb + 1 AS t, b.v - a.v AS dv
            FROM h a JOIN h b ON b.k = a.k AND b.hb = a.hb + 1)"""

  // Jarque–Bera normality test on the hourly-diff tape per event type —
  // the distributional-shape leg of the test panel beside q_runs_test
  // (serial order) and q_variance_ratio (scaling): exact HUGEINT power
  // sums, one fixed central-moment tree, χ²(2) 95% call.
  private val qJarqueBera = QDef(
    "q_jarque_bera",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.jarqueBera(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(DiffTapeSqlPrefix + s""",
      g AS (SELECT k, COUNT(*) AS n,
                   SUM(CAST(dv AS HUGEINT)) AS s1,
                   SUM(CAST(dv AS HUGEINT) * dv) AS s2,
                   SUM(CAST(dv AS HUGEINT) * dv * dv) AS s3,
                   SUM(CAST(dv AS HUGEINT) * dv * dv * dv) AS s4
            FROM d GROUP BY k),
      f1 AS (SELECT k, n, CAST(n AS DOUBLE) AS nd,
                   CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
                   CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d
             FROM g),
      f2 AS (SELECT k, n, nd, s2d, s3d, s4d, s1d / nd AS m1 FROM f1),
      f3 AS (SELECT k, n, nd,
                   s2d / nd - m1 * m1 AS m2,
                   s3d / nd - 3.0 * m1 * s2d / nd + 2.0 * m1 * m1 * m1 AS m3,
                   s4d / nd - 4.0 * m1 * s3d / nd + 6.0 * m1 * m1 * s2d / nd
                     - 3.0 * m1 * m1 * m1 * m1 AS m4
             FROM f2),
      f4 AS (SELECT k, n, nd, m2,
                   m3 / sqrt(m2 * m2 * m2) AS skew,
                   m4 / (m2 * m2) AS kurt
             FROM f3),
      f5 AS (SELECT k, n, nd, m2, skew, kurt,
                   nd / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
             FROM f4)
      SELECT k AS key, n,
             CASE WHEN n >= 2 AND m2 > 0.0 THEN round(skew, 6) + 0.0 END AS skew,
             CASE WHEN n >= 2 AND m2 > 0.0 THEN round(kurt, 6) + 0.0 END AS kurtosis,
             CASE WHEN n >= 2 AND m2 > 0.0 THEN round(jb, 6) + 0.0 END AS jb,
             CASE WHEN n >= 2 AND m2 > 0.0
                  THEN jb > ${java.lang.Double.toString(Relational.JbCrit5Pct)}
             END AS reject_normal_5pct
      FROM f5 ORDER BY key"""))

  // Engle ARCH-LM (q=1) on the hourly-diff tape — the volatility-
  // clustering prerequisite check in front of q_garch: re-quantized
  // centered residuals (the q_eg_coint scheme), exact HUGEINT moment
  // sums over (e²_t, e²_{t−1}), LM = n·R² vs χ²(1).
  private val qArchLm = QDef(
    "q_arch_lm",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.archLm(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(DiffTapeSqlPrefix + s""",
      mu AS (SELECT k, COUNT(*) AS n0,
                    CAST(SUM(CAST(dv AS HUGEINT)) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE) AS mu
             FROM d GROUP BY k),
      e AS (SELECT d.k, d.t, mu.n0,
                   CAST(floor(CAST(d.dv AS DOUBLE) - mu.mu) AS BIGINT) AS ev
            FROM d JOIN mu ON mu.k = d.k),
      y AS (SELECT k, t, n0, ev * ev AS yv FROM e),
      pr AS (SELECT p.k, p.n0,
                    CAST(p.yv AS HUGEINT) AS x, CAST(c.yv AS HUGEINT) AS yy
             FROM y p JOIN y c ON c.k = p.k AND c.t = p.t + 1),
      g AS (SELECT k, MIN(n0) AS n, COUNT(*) AS n_lag,
                   SUM(x) AS sx, SUM(yy) AS sy, SUM(x * yy) AS sxy,
                   SUM(x * x) AS sxx, SUM(yy * yy) AS syy
            FROM pr GROUP BY k),
      f1 AS (SELECT k, n, n_lag, CAST(n_lag AS DOUBLE) AS nd,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                   CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
                   CAST(syy AS DOUBLE) AS syyd
             FROM g),
      f2 AS (SELECT k, n, n_lag, nd,
                   nd * sxyd - sxd * syd AS cov,
                   nd * sxxd - sxd * sxd AS vx,
                   nd * syyd - syd * syd AS vy
             FROM f1),
      f3 AS (SELECT k, n, n_lag, nd, cov, vx, vy,
                   cov / (sqrt(vx) * sqrt(vy)) AS r
             FROM f2),
      f4 AS (SELECT k, n, n_lag, cov, vx, vy, nd * (r * r) AS lm FROM f3)
      SELECT k AS key, n, n_lag,
             CASE WHEN n_lag >= 3 AND vx > 0.0 AND vy > 0.0
                  THEN round(cov / vx, 6) + 0.0 END AS arch_slope,
             CASE WHEN n_lag >= 3 AND vx > 0.0 AND vy > 0.0
                  THEN round(lm, 6) + 0.0 END AS lm_stat,
             CASE WHEN n_lag >= 3 AND vx > 0.0 AND vy > 0.0
                  THEN lm > ${java.lang.Double.toString(Relational.Chi2Crit1Df5Pct)}
             END AS arch_5pct
      FROM f4 ORDER BY key"""))

  // Bivariate Granger causality (p=1) over every ordered event-type
  // pair on the hourly-diff tape — the directional complement of
  // q_leadlag_corr: closed-form restricted/unrestricted OLS from exact
  // HUGEINT moment sums (Cramer's rule, the q_har_rv doctrine), F-test
  // with the documented large-n χ²(1) call.
  private val qGranger = QDef(
    "q_granger",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.granger(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(DiffTapeSqlPrefix + s""",
      tr AS (SELECT xl.k AS kc, c.k AS ke,
                    CAST(c.dv AS HUGEINT) AS y,
                    CAST(yl.dv AS HUGEINT) AS yl,
                    CAST(xl.dv AS HUGEINT) AS xl
             FROM d c
             JOIN d yl ON yl.k = c.k AND yl.t = c.t - 1
             JOIN d xl ON xl.t = c.t - 1 AND xl.k <> c.k),
      m AS (SELECT kc, ke, COUNT(*) AS n,
                   SUM(y) AS sy, SUM(yl) AS syl, SUM(xl) AS sxl,
                   SUM(y * y) AS syy, SUM(y * yl) AS syyl,
                   SUM(y * xl) AS syxl, SUM(yl * yl) AS sylyl,
                   SUM(xl * xl) AS sxlxl, SUM(yl * xl) AS sylxl
            FROM tr GROUP BY kc, ke),
      f1 AS (SELECT kc, ke, n, CAST(n AS DOUBLE) AS nd,
                   CAST(sy AS DOUBLE) AS sy, CAST(syl AS DOUBLE) AS syl,
                   CAST(sxl AS DOUBLE) AS sxl, CAST(syy AS DOUBLE) AS syy,
                   CAST(syyl AS DOUBLE) AS syyl, CAST(syxl AS DOUBLE) AS syxl,
                   CAST(sylyl AS DOUBLE) AS sylyl, CAST(sxlxl AS DOUBLE) AS sxlxl,
                   CAST(sylxl AS DOUBLE) AS sylxl
             FROM m),
      f2 AS (SELECT *,
                   nd * (sylyl * sxlxl - sylxl * sylxl)
                     - syl * (syl * sxlxl - sylxl * sxl)
                     + sxl * (syl * sylxl - sylyl * sxl) AS det,
                   sy * (sylyl * sxlxl - sylxl * sylxl)
                     - syl * (syyl * sxlxl - sylxl * syxl)
                     + sxl * (syyl * sylxl - sylyl * syxl) AS det_a,
                   nd * (syyl * sxlxl - sylxl * syxl)
                     - sy * (syl * sxlxl - sylxl * sxl)
                     + sxl * (syl * syxl - syyl * sxl) AS det_b,
                   nd * (sylyl * syxl - syyl * sylxl)
                     - syl * (syl * syxl - syyl * sxl)
                     + sy * (syl * sylxl - sylyl * sxl) AS det_c,
                   nd * sylyl - syl * syl AS den_r
             FROM f1),
      f3 AS (SELECT *, det_a / det AS ua, det_b / det AS ub,
                   det_c / det AS uc,
                   (nd * syyl - syl * sy) / den_r AS rb
             FROM f2),
      f4 AS (SELECT *, syy - ua * sy - ub * syyl - uc * syxl AS rss_u,
                   (sy - rb * syl) / nd AS ra
             FROM f3),
      f5 AS (SELECT *, syy - ra * sy - rb * syyl AS rss_r FROM f4),
      f6 AS (SELECT *, (rss_r - rss_u) * (nd - 3.0) / rss_u AS f FROM f5)
      SELECT kc AS key_cause, ke AS key_effect, n,
             CASE WHEN n >= 4 AND det <> 0.0 AND den_r > 0.0 AND rss_u > 0.0
                  THEN round(ub, 6) + 0.0 END AS beta_ar,
             CASE WHEN n >= 4 AND det <> 0.0 AND den_r > 0.0 AND rss_u > 0.0
                  THEN round(uc, 6) + 0.0 END AS beta_cross,
             CASE WHEN n >= 4 AND det <> 0.0 AND den_r > 0.0 AND rss_u > 0.0
                  THEN round(f, 6) + 0.0 END AS f_stat,
             CASE WHEN n >= 4 AND det <> 0.0 AND den_r > 0.0 AND rss_u > 0.0
                  THEN f > ${java.lang.Double.toString(Relational.Chi2Crit1Df5Pct)}
             END AS granger_5pct
      FROM f6 ORDER BY key_cause, key_effect"""))

  // Two-sample Kolmogorov–Smirnov drift test per event type — the
  // bin-free distribution-drift check beside q_psi_drift: first half
  // vs second half of each key's hourly window, D as an exact integer
  // max |n2·C1 − n1·C2| over distinct quantized values, the 5% call
  // from interpolated literals.
  private val qKsDrift = QDef(
    "q_ks_drift",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.ksTwoSample(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      lab AS (SELECT k, hb, v,
                    (min(hb) OVER (PARTITION BY k) +
                     max(hb) OVER (PARTITION BY k)) // 2 AS mid
              FROM h),
      cnt AS (SELECT k, v,
                    SUM(CASE WHEN hb <= mid THEN 1 ELSE 0 END) AS c1,
                    SUM(CASE WHEN hb > mid THEN 1 ELSE 0 END) AS c2
              FROM lab GROUP BY k, v),
      cum AS (SELECT k, v,
                    SUM(c1) OVER (PARTITION BY k ORDER BY v) AS f1,
                    SUM(c2) OVER (PARTITION BY k ORDER BY v) AS f2,
                    SUM(c1) OVER (PARTITION BY k) AS n1,
                    SUM(c2) OVER (PARTITION BY k) AS n2
              FROM cnt),
      g AS (SELECT k, MIN(n1) AS n1, MIN(n2) AS n2,
                   MAX(abs(n2 * f1 - n1 * f2)) AS dn
            FROM cum GROUP BY k)
      SELECT k AS key, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CASE WHEN n1 > 0 AND n2 > 0
                  THEN round(CAST(dn AS DOUBLE)
                             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) + 0.0
             END AS d_stat,
             CASE WHEN n1 > 0 AND n2 > 0
                  THEN CAST(dn AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                       > ${java.lang.Double.toString(Relational.KsCrit5Pct)}
                         * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
             END AS drift_5pct
      FROM g ORDER BY key"""))

  // Transfer entropy on the binary up/down tape for every ordered
  // event-type pair — the model-free information-flow complement of
  // q_granger's linear F: 8-cell sign-transition histogram, exact
  // integer counts, µnat-quantized order-free term reduction.
  private val qTransferEntropy = QDef(
    "q_transfer_entropy",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.transferEntropy(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(DiffTapeSqlPrefix + """,
      sg AS (SELECT k, t, CASE WHEN dv > 0 THEN 1 ELSE 0 END AS s FROM d),
      tr AS (SELECT xl.k AS kc, c.k AS ke, c.s AS y, yl.s AS yl, xl.s AS xl
             FROM sg c
             JOIN sg yl ON yl.k = c.k AND yl.t = c.t - 1
             JOIN sg xl ON xl.t = c.t - 1 AND xl.k <> c.k),
      cells AS (SELECT kc, ke, y, yl, xl, COUNT(*) AS c
                FROM tr GROUP BY 1, 2, 3, 4, 5),
      m AS (SELECT kc, ke, c,
                   SUM(c) OVER (PARTITION BY kc, ke) AS n,
                   SUM(c) OVER (PARTITION BY kc, ke, yl, xl) AS cylxl,
                   SUM(c) OVER (PARTITION BY kc, ke, y, yl) AS cyyl,
                   SUM(c) OVER (PARTITION BY kc, ke, yl) AS cyl
            FROM cells),
      tq AS (SELECT kc, ke, n,
                   CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                     * ln(CAST(c AS DOUBLE) * CAST(cyl AS DOUBLE)
                          / (CAST(cylxl AS DOUBLE) * CAST(cyyl AS DOUBLE)))
                     * 1e9) AS BIGINT) AS q
             FROM m),
      g AS (SELECT kc, ke, MIN(n) AS n, SUM(q) AS sq FROM tq GROUP BY kc, ke)
      SELECT kc AS key_cause, ke AS key_effect, CAST(n AS BIGINT) AS n,
             round(CAST(sq AS DOUBLE) / 1e9, 6) + 0.0 AS te_nats
      FROM g ORDER BY key_cause, key_effect"""))

  // Mann–Kendall trend test + Theil–Sen slope on the DAILY panel — the
  // rank-based monotone-trend detector beside q_trend_scan: exact
  // integer S and tie correction, exact-percentile median of pairwise
  // slopes (quadratic per key by contract — daily bars, loud guard).
  private val qMannKendall = QDef(
    "q_mann_kendall",
    (s, dir) => {
      val dtape = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("db", expr("unix_micros(bucket) div 86400000000"))
      Relational.mannKendall(dtape, "event_type", "db", "v", scale = 1e4)
    },
    Some(s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('day', ts)) // 86400000000 AS db,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      pr AS (SELECT i.k,
                   CASE WHEN j.v > i.v THEN 1 WHEN j.v < i.v THEN -1
                        ELSE 0 END AS sgn,
                   CAST(j.v - i.v AS DOUBLE) / CAST(j.db - i.db AS DOUBLE) AS slope
             FROM h i JOIN h j ON j.k = i.k AND j.db > i.db),
      pa AS (SELECT k, SUM(sgn) AS s_stat, quantile_cont(slope, 0.5) AS med
             FROM pr GROUP BY k),
      tg AS (SELECT k, v, COUNT(*) AS tc FROM h GROUP BY k, v),
      ti AS (SELECT k, SUM(tc) AS n,
                   SUM(tc * (tc - 1) * (2 * tc + 5)) AS tie
             FROM tg GROUP BY k),
      jn AS (SELECT ti.k, CAST(ti.n AS BIGINT) AS n,
                   CAST(ti.tie AS DOUBLE) AS tied,
                   CAST(pa.s_stat AS BIGINT) AS s_stat, pa.med
             FROM ti LEFT JOIN pa ON pa.k = ti.k),
      f1 AS (SELECT *, (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                        * (2.0 * CAST(n AS DOUBLE) + 5.0) - tied) / 18.0 AS var_s
             FROM jn),
      f2 AS (SELECT *,
                   CASE WHEN s_stat > 0
                          THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                        WHEN s_stat < 0
                          THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                        ELSE 0.0 END AS z
             FROM f1)
      SELECT k AS key, n, s_stat, round(var_s, 6) + 0.0 AS var_s,
             CASE WHEN med IS NOT NULL
                  THEN round(med / 1e4, 6) + 0.0 END AS theil_sen,
             CASE WHEN var_s > 0.0 THEN round(z, 6) + 0.0 END AS z,
             CASE WHEN var_s > 0.0
                  THEN abs(z) > ${java.lang.Double.toString(Relational.Z975)}
             END AS trend_5pct
      FROM f2 ORDER BY key"""))

  // Christoffersen independence + conditional-coverage VaR backtest on
  // the q_kupiec frame (reference window fits VaR, later window
  // evaluates): exact transition counts from a keyed ordered lag,
  // term-by-term 0·ln0 limits, LR_cc = LR_pof + LR_ind vs χ²(2).
  private val qChristoffersen = QDef(
    "q_christoffersen",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      def rets(df: DataFrame) = df
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("r", log(col("value") / lag(col("value"), 1).over(w)))
        .where(col("r").isNotNull)
      val e = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-15"))
      operators.Backtest.christoffersenTest(
        rets(e.filter(col("ts") < cut)), rets(e.filter(col("ts") >= cut)),
        Seq("event_type"), Seq(col("ts"), col("event_id")), "r", alpha = 0.05)
    },
    Some(s"""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p,
                        (ts < TIMESTAMP '2024-01-15') AS is_ref
                 FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, ts, event_id, is_ref,
                    ln(p / lag(p) OVER (PARTITION BY k, is_ref
                                        ORDER BY ts, event_id)) AS r
             FROM b),
      r AS (SELECT k, ts, event_id, is_ref, r FROM r0 WHERE r IS NOT NULL),
      q AS (SELECT k, quantile_cont(r, 0.05) AS v
            FROM r WHERE is_ref GROUP BY 1),
      it AS (SELECT r.k, r.ts, r.event_id,
                   CASE WHEN r.r < q.v THEN 1 ELSE 0 END AS i
             FROM r JOIN q ON r.k = q.k WHERE NOT r.is_ref),
      tape AS (SELECT k, i,
                     lag(i) OVER (PARTITION BY k ORDER BY ts, event_id) AS ip
               FROM it),
      c AS (SELECT k, COUNT(*) AS n, CAST(SUM(i) AS BIGINT) AS n_viol,
                   CAST(SUM(CASE WHEN ip = 0 AND i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
                   CAST(SUM(CASE WHEN ip = 0 AND i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                   CAST(SUM(CASE WHEN ip = 1 AND i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN ip = 1 AND i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
            FROM tape GROUP BY k),
      f1 AS (SELECT *, n00 + n01 + n10 + n11 AS m,
                   CAST(n AS DOUBLE) AS nd, CAST(n_viol AS DOUBLE) AS x
             FROM c),
      f2 AS (SELECT *,
                   CAST(n01 + n11 AS DOUBLE) / CAST(m AS DOUBLE) AS pi,
                   CAST(n01 AS DOUBLE) / CAST(n00 + n01 AS DOUBLE) AS pi0,
                   CAST(n11 AS DOUBLE) / CAST(n10 + n11 AS DOUBLE) AS pi1
             FROM f1),
      f3 AS (SELECT *,
                   (CASE WHEN n00 + n10 > 0
                         THEN CAST(n00 + n10 AS DOUBLE) * ln(1.0 - pi)
                         ELSE 0.0 END)
                   + (CASE WHEN n01 + n11 > 0
                           THEN CAST(n01 + n11 AS DOUBLE) * ln(pi)
                           ELSE 0.0 END) AS l0,
                   (CASE WHEN n00 > 0
                         THEN CAST(n00 AS DOUBLE) * ln(1.0 - pi0)
                         ELSE 0.0 END)
                   + (CASE WHEN n01 > 0
                           THEN CAST(n01 AS DOUBLE) * ln(pi0) ELSE 0.0 END)
                   + (CASE WHEN n10 > 0
                           THEN CAST(n10 AS DOUBLE) * ln(1.0 - pi1)
                           ELSE 0.0 END)
                   + (CASE WHEN n11 > 0
                           THEN CAST(n11 AS DOUBLE) * ln(pi1) ELSE 0.0 END) AS l1
             FROM f2),
      f4 AS (SELECT *, 2.0 * (l1 - l0) AS lr_ind,
                   -2.0 * ((nd - x) * ${math.log(1.0 - 0.05)}
                           + x * ${math.log(0.05)})
                   + 2.0 * (CASE
                       WHEN n_viol = n THEN x * ln(x / nd)
                       WHEN n_viol = 0 THEN (nd - x) * ln(1.0 - x / nd)
                       ELSE (nd - x) * ln(1.0 - x / nd) + x * ln(x / nd)
                     END) AS lr_pof
             FROM f3),
      f5 AS (SELECT *, lr_pof + lr_ind AS lr_cc FROM f4)
      SELECT k AS event_type, n, n_viol, n00, n01, n10, n11,
             CASE WHEN m >= 1 AND n >= 2
                  THEN round(lr_ind, 6) + 0.0 END AS lr_ind,
             CASE WHEN m >= 1 AND n >= 2
                  THEN lr_ind > ${java.lang.Double.toString(operators.Backtest.KupiecChi2Crit)}
             END AS reject_ind,
             CASE WHEN m >= 1 AND n >= 2
                  THEN round(lr_cc, 6) + 0.0 END AS lr_cc,
             CASE WHEN m >= 1 AND n >= 2
                  THEN lr_cc > ${java.lang.Double.toString(operators.Backtest.Chi2Crit2Df5Pct)}
             END AS reject_cc
      FROM f5 ORDER BY event_type"""))

  // GPD tail fit by probability-weighted moments over peaks above the
  // per-type 90% value threshold — the parametric tail model beside
  // q_hill_tail: tie-invariant exact HUGEINT rank-weighted sums,
  // closed-form ξ/β (never an iterative ML solve).
  private val qGpdTail = QDef(
    "q_gpd_tail",
    (s, dir) => operators.Backtest.gpdTailFit(
      t(s, dir, "events").select(col("event_type"), col("value")),
      Seq("event_type"), "value", uQuantile = 0.9, scale = 1e6),
    Some("""
      WITH v AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
                 FROM events WHERE value IS NOT NULL),
      q AS (SELECT k, quantile_cont(v, 0.9) AS u, COUNT(*) AS n_obs
            FROM v GROUP BY k),
      e AS (SELECT v.k, q.n_obs, q.u,
                   CAST(floor((v.v - q.u) * 1e6) AS BIGINT) AS eq
            FROM v JOIN q ON q.k = v.k WHERE v.v > q.u),
      rk AS (SELECT k, n_obs, u, eq,
                   CAST(row_number() OVER (PARTITION BY k ORDER BY eq) AS BIGINT) AS i,
                   COUNT(*) OVER (PARTITION BY k) AS nt
             FROM e),
      g AS (SELECT k, MIN(n_obs) AS n_obs, CAST(MIN(nt) AS BIGINT) AS n_tail,
                   MIN(u) AS u,
                   SUM(CAST(eq AS HUGEINT)) AS s0,
                   SUM(CAST(eq AS HUGEINT) * (nt - i)) AS s1
            FROM rk GROUP BY k),
      f1 AS (SELECT k, n_obs, n_tail, u,
                   CAST(s0 AS DOUBLE) AS s0d, CAST(s1 AS DOUBLE) AS s1d,
                   CAST(n_tail AS DOUBLE) AS ntd
             FROM g),
      f2 AS (SELECT *, s0d / ntd AS b0,
                   s1d / (ntd * (ntd - 1.0)) AS b1
             FROM f1),
      f3 AS (SELECT *, b0 - 2.0 * b1 AS den FROM f2)
      SELECT k AS event_type, n_obs, n_tail, round(u, 6) + 0.0 AS threshold,
             CASE WHEN n_tail >= 2 AND den > 0.0
                  THEN round(2.0 - b0 / den, 6) + 0.0 END AS xi,
             CASE WHEN n_tail >= 2 AND den > 0.0
                  THEN round(2.0 * b0 * b1 / den / 1e6, 6) + 0.0 END AS beta
      FROM f3 ORDER BY event_type"""))

  // Sample entropy (m=2) on the hourly panel — the regularity gauge
  // beside q_perm_entropy and q_lz_complexity: integer Chebyshev
  // comparisons against the ⌊0.2·σ_q⌋ tolerance, exact A/B counts,
  // one final ln.
  private val qSampleEntropy = QDef(
    "q_sample_entropy",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.sampleEntropy(h, "event_type", "hb", "v",
        rFactor = 0.2, scale = 1e4)
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      mom AS (SELECT k, COUNT(*) AS n,
                    SUM(CAST(v AS HUGEINT)) AS m1,
                    SUM(CAST(v AS HUGEINT) * v) AS m2
              FROM h GROUP BY k),
      tol AS (SELECT k, n,
                   CAST(floor(0.2 * sqrt((CAST(n AS DOUBLE) * CAST(m2 AS DOUBLE)
                          - CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
                     AS BIGINT) AS r
             FROM mom),
      emb AS (SELECT a.k, a.hb AS t, a.v AS v0, b.v AS v1, c.v AS v2
              FROM h a
              JOIN h b ON b.k = a.k AND b.hb = a.hb + 1
              JOIN h c ON c.k = a.k AND c.hb = a.hb + 2),
      pr AS (SELECT i.k, t.n, t.r,
                   CASE WHEN greatest(abs(j.v0 - i.v0), abs(j.v1 - i.v1)) <= t.r
                        THEN 1 ELSE 0 END AS bm,
                   CASE WHEN greatest(abs(j.v0 - i.v0), abs(j.v1 - i.v1),
                                      abs(j.v2 - i.v2)) <= t.r
                        THEN 1 ELSE 0 END AS am
             FROM emb i
             JOIN emb j ON j.k = i.k AND j.t > i.t
             JOIN tol t ON t.k = i.k),
      g AS (SELECT k, MIN(n) AS n, MIN(r) AS rq,
                   CAST(SUM(bm) AS BIGINT) AS b_count,
                   CAST(SUM(am) AS BIGINT) AS a_count
            FROM pr GROUP BY k)
      SELECT k AS key, n, b_count, a_count,
             round(CAST(rq AS DOUBLE) / 1e4, 6) + 0.0 AS r_tol,
             CASE WHEN a_count > 0 AND b_count > 0
                  THEN round(-ln(CAST(a_count AS DOUBLE)
                                 / CAST(b_count AS DOUBLE)), 6) + 0.0
             END AS sampen
      FROM g ORDER BY key"""))

  // Cramér–von Mises drift on the q_ks_drift half-split frame — the
  // integrated-squared ECDF distance (every departure accumulates
  // where KS only sees the worst point): exact HUGEINT numerator
  // Σ w·(n₂C₁ − n₁C₂)², one division at the end.
  private val qCvmDrift = QDef(
    "q_cvm_drift",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.cvmTwoSample(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      lab AS (SELECT k, hb, v,
                    (min(hb) OVER (PARTITION BY k) +
                     max(hb) OVER (PARTITION BY k)) // 2 AS mid
              FROM h),
      cnt AS (SELECT k, v,
                    SUM(CASE WHEN hb <= mid THEN 1 ELSE 0 END) AS c1,
                    SUM(CASE WHEN hb > mid THEN 1 ELSE 0 END) AS c2
              FROM lab GROUP BY k, v),
      cum AS (SELECT k, v, c1, c2,
                    SUM(c1) OVER (PARTITION BY k ORDER BY v) AS f1,
                    SUM(c2) OVER (PARTITION BY k ORDER BY v) AS f2,
                    SUM(c1) OVER (PARTITION BY k) AS n1,
                    SUM(c2) OVER (PARTITION BY k) AS n2
              FROM cnt),
      g AS (SELECT k, MIN(n1) AS n1, MIN(n2) AS n2,
                   SUM(CAST(c1 + c2 AS HUGEINT)
                       * (n2 * f1 - n1 * f2) * (n2 * f1 - n1 * f2)) AS num
            FROM cum GROUP BY k),
      f1 AS (SELECT k, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                   CAST(num AS DOUBLE) AS numd,
                   CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
             FROM g),
      f2 AS (SELECT *, numd / ((n1d + n2d) * (n1d + n2d) * (n1d * n2d)) AS t
             FROM f1)
      SELECT k AS key, n1, n2,
             CASE WHEN n1 > 0 AND n2 > 0
                  THEN round(t, 6) + 0.0 END AS t_stat,
             CASE WHEN n1 > 0 AND n2 > 0
                  THEN t > ${java.lang.Double.toString(Relational.CvmCrit5Pct)}
             END AS drift_5pct
      FROM f2 ORDER BY key"""))

  // Chow structural-break F at the midpoint of each hourly series on
  // the linear-trend model — twelve exact conditional moment sums in
  // one agg, three closed-form OLS fits, large-n χ²(2)/2 call; the
  // parametric trend-break companion of q_ks_drift/q_cvm_drift.
  private val qChowTest = QDef(
    "q_chow_test",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.chowTest(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      r1 AS (SELECT k, v, hb - min(hb) OVER (PARTITION BY k) AS ti FROM h),
      r2 AS (SELECT k, v, ti, max(ti) OVER (PARTITION BY k) AS mx FROM r1),
      r3 AS (SELECT k, v, ti, (ti <= mx // 2) AS s1 FROM r2),
      g AS (SELECT k,
                   SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
                   SUM(CASE WHEN s1 THEN CAST(ti AS HUGEINT) ELSE 0 END) AS st1,
                   SUM(CASE WHEN s1 THEN CAST(ti AS HUGEINT) * ti ELSE 0 END) AS stt1,
                   SUM(CASE WHEN s1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS sv1,
                   SUM(CASE WHEN s1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS svv1,
                   SUM(CASE WHEN s1 THEN CAST(ti AS HUGEINT) * v ELSE 0 END) AS stv1,
                   SUM(CASE WHEN NOT s1 THEN 1 ELSE 0 END) AS n2,
                   SUM(CASE WHEN NOT s1 THEN CAST(ti AS HUGEINT) ELSE 0 END) AS st2,
                   SUM(CASE WHEN NOT s1 THEN CAST(ti AS HUGEINT) * ti ELSE 0 END) AS stt2,
                   SUM(CASE WHEN NOT s1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS sv2,
                   SUM(CASE WHEN NOT s1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS svv2,
                   SUM(CASE WHEN NOT s1 THEN CAST(ti AS HUGEINT) * v ELSE 0 END) AS stv2
            FROM r3 GROUP BY k),
      d1 AS (SELECT k, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                   CAST(n1 AS DOUBLE) AS n1d, CAST(st1 AS DOUBLE) AS st1d,
                   CAST(stt1 AS DOUBLE) AS stt1d, CAST(sv1 AS DOUBLE) AS sv1d,
                   CAST(svv1 AS DOUBLE) AS svv1d, CAST(stv1 AS DOUBLE) AS stv1d,
                   CAST(n2 AS DOUBLE) AS n2d, CAST(st2 AS DOUBLE) AS st2d,
                   CAST(stt2 AS DOUBLE) AS stt2d, CAST(sv2 AS DOUBLE) AS sv2d,
                   CAST(svv2 AS DOUBLE) AS svv2d, CAST(stv2 AS DOUBLE) AS stv2d,
                   CAST(n1 + n2 AS DOUBLE) AS npd,
                   CAST(st1 + st2 AS DOUBLE) AS stpd,
                   CAST(stt1 + stt2 AS DOUBLE) AS sttpd,
                   CAST(sv1 + sv2 AS DOUBLE) AS svpd,
                   CAST(svv1 + svv2 AS DOUBLE) AS svvpd,
                   CAST(stv1 + stv2 AS DOUBLE) AS stvpd
             FROM g),
      d2 AS (SELECT *, n1d * stt1d - st1d * st1d AS den1,
                   n2d * stt2d - st2d * st2d AS den2,
                   npd * sttpd - stpd * stpd AS denp
             FROM d1),
      d3 AS (SELECT *, (n1d * stv1d - st1d * sv1d) / den1 AS b1,
                   (n2d * stv2d - st2d * sv2d) / den2 AS b2,
                   (npd * stvpd - stpd * svpd) / denp AS bp
             FROM d2),
      d4 AS (SELECT *, (sv1d - b1 * st1d) / n1d AS a1,
                   (sv2d - b2 * st2d) / n2d AS a2,
                   (svpd - bp * stpd) / npd AS ap
             FROM d3),
      d5 AS (SELECT *, svv1d - a1 * sv1d - b1 * stv1d AS rss1,
                   svv2d - a2 * sv2d - b2 * stv2d AS rss2,
                   svvpd - ap * svpd - bp * stvpd AS rssp
             FROM d4),
      d6 AS (SELECT *, rss1 + rss2 AS rss_sum FROM d5),
      d7 AS (SELECT *, (rssp - rss_sum) / 2.0 / (rss_sum / (npd - 4.0)) AS f
             FROM d6)
      SELECT k AS key, n1, n2,
             CASE WHEN n1 >= 3 AND n2 >= 3 AND den1 > 0.0 AND den2 > 0.0
                    AND denp > 0.0 AND rss_sum > 0.0
                  THEN round(b1 / 1e4, 6) + 0.0 END AS slope1,
             CASE WHEN n1 >= 3 AND n2 >= 3 AND den1 > 0.0 AND den2 > 0.0
                    AND denp > 0.0 AND rss_sum > 0.0
                  THEN round(b2 / 1e4, 6) + 0.0 END AS slope2,
             CASE WHEN n1 >= 3 AND n2 >= 3 AND den1 > 0.0 AND den2 > 0.0
                    AND denp > 0.0 AND rss_sum > 0.0
                  THEN round(f, 6) + 0.0 END AS f_stat,
             CASE WHEN n1 >= 3 AND n2 >= 3 AND den1 > 0.0 AND den2 > 0.0
                    AND denp > 0.0 AND rss_sum > 0.0
                  THEN f > ${java.lang.Double.toString(Relational.JbCrit5Pct / 2.0)}
             END AS break_5pct
      FROM d7 ORDER BY key"""))

  // N-gram novelty of the md5-hash test split against the train split
  // — the generalization-gap probe beside q_contamination: train-side
  // distinct 8-gram set, occurrence-weighted novel-window fraction per
  // test doc. Spark joins 8-byte rolling hashes; the oracle replays
  // textual windows (exact absent 64-bit collisions — the standing
  // shingle contract).
  private val qNgramNovelty = QDef(
    "q_ngram_novelty",
    (s, dir) => TextAnalysis.ngramNovelty(t(s, dir, "documents"),
        "text", "doc_id", n = 8)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id,
                        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 AS bkt,
                        string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      sp AS (SELECT doc_id,
                   CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
                        ELSE 'test' END AS split, toks
             FROM d),
      w AS (SELECT doc_id, split,
                   unnest(list_transform(range(CAST(len(toks) - 7 AS BIGINT)),
                     i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS sh
            FROM sp WHERE len(toks) >= 8),
      tr AS (SELECT DISTINCT sh FROM w WHERE split = 'train'),
      ev AS (SELECT w.doc_id, COUNT(*) AS n_windows,
                   CAST(SUM(CASE WHEN tr.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
             FROM w LEFT JOIN tr ON tr.sh = w.sh
             WHERE w.split = 'test' GROUP BY 1)
      SELECT sp.doc_id,
             COALESCE(ev.n_windows, 0) AS n_windows,
             COALESCE(ev.n_novel, 0) AS n_novel,
             CASE WHEN ev.n_windows IS NOT NULL
                  THEN CAST(ev.n_novel AS DOUBLE) / CAST(ev.n_windows AS DOUBLE)
             END AS novelty_rate
      FROM sp LEFT JOIN ev ON ev.doc_id = sp.doc_id
      WHERE sp.split = 'test'
      ORDER BY sp.doc_id"""))

  // Quandt–Andrews sup-F on the hourly panel — q_chow_test with the
  // break date unknown: prefix-moment windows give every trimmed
  // candidate's two segment fits in place (the SADF ladder doctrine —
  // one keyed exchange, zero joins), sup with earliest-candidate tie
  // resolution. No 5% flag (Andrews' null is table-based, documented).
  private val qSupChow = QDef(
    "q_sup_chow",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.supChow(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      r1 AS (SELECT k, v, hb - min(hb) OVER (PARTITION BY k) AS ti,
                   min(hb) OVER (PARTITION BY k) AS t0
             FROM h),
      m AS (SELECT k, t0, ti, v,
                   COUNT(*) OVER wo AS cn,
                   SUM(CAST(ti AS HUGEINT)) OVER wo AS cst,
                   SUM(CAST(ti AS HUGEINT) * ti) OVER wo AS cstt,
                   SUM(CAST(v AS HUGEINT)) OVER wo AS csv,
                   SUM(CAST(v AS HUGEINT) * v) OVER wo AS csvv,
                   SUM(CAST(ti AS HUGEINT) * v) OVER wo AS cstv,
                   COUNT(*) OVER wk AS n,
                   SUM(CAST(ti AS HUGEINT)) OVER wk AS st,
                   SUM(CAST(ti AS HUGEINT) * ti) OVER wk AS stt,
                   SUM(CAST(v AS HUGEINT)) OVER wk AS sv,
                   SUM(CAST(v AS HUGEINT) * v) OVER wk AS svv,
                   SUM(CAST(ti AS HUGEINT) * v) OVER wk AS stv
            FROM r1
            WINDOW wo AS (PARTITION BY k ORDER BY ti
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wk AS (PARTITION BY k)),
      d1 AS (SELECT k, t0, ti, CAST(n AS BIGINT) AS n,
                   CAST(cn AS BIGINT) AS n1, CAST(n - cn AS BIGINT) AS n2,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(cn AS DOUBLE) AS n1d, CAST(cst AS DOUBLE) AS st1d,
                   CAST(cstt AS DOUBLE) AS stt1d, CAST(csv AS DOUBLE) AS sv1d,
                   CAST(csvv AS DOUBLE) AS svv1d, CAST(cstv AS DOUBLE) AS stv1d,
                   CAST(n - cn AS DOUBLE) AS n2d,
                   CAST(st - cst AS DOUBLE) AS st2d,
                   CAST(stt - cstt AS DOUBLE) AS stt2d,
                   CAST(sv - csv AS DOUBLE) AS sv2d,
                   CAST(svv - csvv AS DOUBLE) AS svv2d,
                   CAST(stv - cstv AS DOUBLE) AS stv2d,
                   CAST(st AS DOUBLE) AS stpd, CAST(stt AS DOUBLE) AS sttpd,
                   CAST(sv AS DOUBLE) AS svpd, CAST(svv AS DOUBLE) AS svvpd,
                   CAST(stv AS DOUBLE) AS stvpd
             FROM m),
      d2 AS (SELECT *, n1d * stt1d - st1d * st1d AS den1,
                   n2d * stt2d - st2d * st2d AS den2,
                   nd * sttpd - stpd * stpd AS denp
             FROM d1),
      d3 AS (SELECT *, (n1d * stv1d - st1d * sv1d) / den1 AS b1,
                   (n2d * stv2d - st2d * sv2d) / den2 AS b2,
                   (nd * stvpd - stpd * svpd) / denp AS bp
             FROM d2),
      d4 AS (SELECT *, (sv1d - b1 * st1d) / n1d AS a1,
                   (sv2d - b2 * st2d) / n2d AS a2,
                   (svpd - bp * stpd) / nd AS ap
             FROM d3),
      d5 AS (SELECT *, svv1d - a1 * sv1d - b1 * stv1d AS rss1,
                   svv2d - a2 * sv2d - b2 * stv2d AS rss2,
                   svvpd - ap * svpd - bp * stvpd AS rssp
             FROM d4),
      d6 AS (SELECT *, rss1 + rss2 AS rss_sum,
                   greatest(3, CAST(ceil(0.15 * nd) AS BIGINT)) AS minseg
             FROM d5),
      cand AS (SELECT k, t0, ti, n,
                     (rssp - rss_sum) / 2.0 / (rss_sum / (nd - 4.0)) AS f
               FROM d6
               WHERE n1 >= minseg AND n2 >= minseg AND den1 > 0.0
                 AND den2 > 0.0 AND denp > 0.0 AND rss_sum > 0.0),
      s1 AS (SELECT k, MIN(n) AS n, COUNT(*) AS n_candidates,
                   MAX(f) AS supf
             FROM cand GROUP BY k),
      s2 AS (SELECT c.k, MIN(c.ti) AS bt, MIN(c.t0) AS t0
             FROM cand c JOIN s1 ON s1.k = c.k AND c.f = s1.supf
             GROUP BY c.k)
      SELECT s1.k AS key, s1.n, s1.n_candidates,
             round(s1.supf, 6) + 0.0 AS sup_f,
             s2.bt + s2.t0 AS break_bucket,
             round(CAST(s2.bt AS DOUBLE) / CAST(s1.n AS DOUBLE), 6) + 0.0
               AS break_frac
      FROM s1 JOIN s2 ON s2.k = s1.k ORDER BY key"""))

  // Kruskal–Wallis across the five event types on the hourly panel —
  // the k-sample location omnibus: doubled midranks on the value
  // histogram (exact integers), µ-quantized per-group terms, χ²(k−1)
  // call from the shared critical table.
  private val qKruskal = QDef(
    "q_kruskal",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.kruskalWallis(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some {
      val critCase = Relational.Chi2Crit5PctByDf.toSeq.sortBy(_._1)
        .map { case (d, c) =>
          s"WHEN k_groups - 1 = $d THEN h / corr > ${java.lang.Double.toString(c)}"
        }.mkString("\n                   ")
      s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      kv AS (SELECT k, v, COUNT(*) AS c FROM h GROUP BY k, v),
      vh AS (SELECT v, SUM(c) AS w FROM kv GROUP BY v),
      rk AS (SELECT v, w, SUM(w) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fle
             FROM vh),
      r2 AS (SELECT v, 2 * (fle - w) + w + 1 AS m2 FROM rk),
      pk AS (SELECT kv.k, SUM(kv.c) AS nj,
                   SUM(CAST(kv.c AS HUGEINT) * m2) AS r2j
             FROM kv JOIN r2 ON r2.v = kv.v GROUP BY kv.k),
      tq AS (SELECT k, nj,
                   CAST(floor(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
                     / 4.0 / CAST(nj AS DOUBLE) * 1e6) AS BIGINT) AS q
             FROM pk),
      g AS (SELECT COUNT(*) AS k_groups, CAST(SUM(nj) AS BIGINT) AS n,
                   SUM(q) AS sq
            FROM tq),
      tt AS (SELECT SUM(CAST(w AS HUGEINT) * w * w - w) AS tie FROM vh),
      f1 AS (SELECT g.n, g.k_groups, CAST(g.sq AS DOUBLE) AS sqd,
                   CAST(tt.tie AS DOUBLE) AS tied, CAST(g.n AS DOUBLE) AS nd
             FROM g, tt),
      f2 AS (SELECT *,
                   12.0 / (nd * (nd + 1.0)) * (sqd / 1e6)
                     - 3.0 * (nd + 1.0) AS h,
                   1.0 - tied / (nd * nd * nd - nd) AS corr
             FROM f1)
      SELECT n, k_groups,
             CASE WHEN n >= 2 AND k_groups >= 2 AND corr > 0.0
                  THEN round(h, 6) + 0.0 END AS h,
             CASE WHEN n >= 2 AND k_groups >= 2 AND corr > 0.0
                  THEN round(h / corr, 6) + 0.0 END AS h_adj,
             CASE WHEN n >= 2 AND k_groups >= 2 AND corr > 0.0
                  THEN CASE $critCase END
             END AS reject_5pct
      FROM f2"""
    })

  // Brown–Forsythe median-Levene across the five event types — the
  // dispersion omnibus beside q_kruskal's location test: doubled
  // deviations |2v − 2·med| are exact integers, per-group ANOVA terms
  // µ-quantized for the order-free fold, large-n F(k−1,∞) call.
  private val qBrownForsythe = QDef(
    "q_brown_forsythe",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.brownForsythe(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some {
      val critCase = Relational.Chi2Crit5PctByDf.toSeq.sortBy(_._1)
        .map { case (d, c) =>
          s"WHEN k_groups - 1 = $d THEN f > ${java.lang.Double.toString(c / d)}"
        }.mkString("\n                   ")
      s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      md AS (SELECT k, CAST(quantile_cont(CAST(v AS DOUBLE), 0.5) * 2.0 AS BIGINT) AS m2
             FROM h GROUP BY k),
      z AS (SELECT h.k, abs(2 * h.v - md.m2) AS z
            FROM h JOIN md ON md.k = h.k),
      gp AS (SELECT k, COUNT(*) AS nj, SUM(CAST(z AS HUGEINT)) AS sz,
                   SUM(CAST(z AS HUGEINT) * z) AS szz
             FROM z GROUP BY k),
      tq AS (SELECT k, nj, sz,
                   CAST(floor((CAST(sz AS DOUBLE) / 20000.0)
                     * (CAST(sz AS DOUBLE) / 20000.0)
                     / CAST(nj AS DOUBLE) * 1e6) AS BIGINT) AS bq,
                   CAST(floor((CAST(szz AS DOUBLE) / (20000.0 * 20000.0)
                     - (CAST(sz AS DOUBLE) / 20000.0)
                       * (CAST(sz AS DOUBLE) / 20000.0)
                       / CAST(nj AS DOUBLE)) * 1e6) AS BIGINT) AS wq
             FROM gp),
      g AS (SELECT COUNT(*) AS k_groups, CAST(SUM(nj) AS BIGINT) AS n,
                   CAST(SUM(sz) AS DOUBLE) AS szall,
                   SUM(bq) AS b, SUM(wq) AS w
            FROM tq),
      f1 AS (SELECT *, CAST(n AS DOUBLE) AS nd, CAST(k_groups AS DOUBLE) AS kd,
                   CAST(b AS DOUBLE) AS bd, CAST(w AS DOUBLE) AS wd
             FROM g),
      f2 AS (SELECT *, bd / 1e6 - (szall / 20000.0) * (szall / 20000.0) / nd AS ssb,
                   wd / 1e6 AS ssw
             FROM f1),
      f3 AS (SELECT *, (ssb / (kd - 1.0)) / (ssw / (nd - kd)) AS f FROM f2)
      SELECT n, k_groups,
             CASE WHEN k_groups >= 2 AND nd - kd > 0.0 AND ssw > 0.0
                  THEN round(f, 6) + 0.0 END AS f_bf,
             CASE WHEN k_groups >= 2 AND nd - kd > 0.0 AND ssw > 0.0
                  THEN CASE $critCase END
             END AS reject_5pct
      FROM f3"""
    })

  // Friedman rank test over complete hourly blocks — the blocked
  // companion of q_kruskal (the shared time effect drops out):
  // doubled within-block midranks, exact rank sums, χ²(k−1) call.
  private val qFriedman = QDef(
    "q_friedman",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.friedman(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some {
      val critCase = Relational.Chi2Crit5PctByDf.toSeq.sortBy(_._1)
        .map { case (d, c) =>
          s"WHEN k_groups - 1 = $d THEN c2 > ${java.lang.Double.toString(c)}"
        }.mkString("\n                   ")
      s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      kt AS (SELECT COUNT(DISTINCT k) AS ktot FROM h),
      cc AS (SELECT hb, COUNT(*) AS cnt FROM h GROUP BY hb),
      cb AS (SELECT h.k, h.hb, h.v
             FROM h JOIN cc ON cc.hb = h.hb, kt WHERE cc.cnt = kt.ktot),
      tv AS (SELECT hb, v, COUNT(*) AS w FROM cb GROUP BY hb, v),
      rk AS (SELECT hb, v, w,
                   SUM(w) OVER (PARTITION BY hb ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fle
             FROM tv),
      r2 AS (SELECT hb, v, 2 * (fle - w) + w + 1 AS m2 FROM rk),
      pk AS (SELECT cb.k, COUNT(*) AS nb, SUM(CAST(m2 AS HUGEINT)) AS r2j
             FROM cb JOIN r2 ON r2.hb = cb.hb AND r2.v = cb.v
             GROUP BY cb.k),
      tq AS (SELECT k, nb,
                   CAST(floor(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
                     / 4.0 * 1e6) AS BIGINT) AS q
             FROM pk),
      g AS (SELECT COUNT(*) AS k_groups, CAST(MIN(nb) AS BIGINT) AS n_blocks,
                   SUM(q) AS sq
            FROM tq),
      f1 AS (SELECT *, CAST(n_blocks AS DOUBLE) AS nd,
                   CAST(k_groups AS DOUBLE) AS kd, CAST(sq AS DOUBLE) AS sqd
             FROM g),
      f2 AS (SELECT *, 12.0 / (nd * kd * (kd + 1.0)) * (sqd / 1e6)
                     - 3.0 * nd * (kd + 1.0) AS c2
             FROM f1)
      SELECT n_blocks, k_groups,
             CASE WHEN n_blocks >= 2 AND k_groups >= 2
                  THEN round(c2, 6) + 0.0 END AS chi2_f,
             CASE WHEN n_blocks >= 2 AND k_groups >= 2
                  THEN CASE $critCase END
             END AS reject_5pct
      FROM f2"""
    })

  // Lag-0 sign mutual information for every unordered pair — the
  // symmetric companion of q_transfer_entropy (MI ≫ 0 with both TEs
  // ≈ 0 is the common-driver signature): 4-cell histogram, exact
  // counts, µnat-quantized order-free fold.
  private val qMutualInfo = QDef(
    "q_mutual_info",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.mutualInfo(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(DiffTapeSqlPrefix + """,
      sg AS (SELECT k, t, CASE WHEN dv > 0 THEN 1 ELSE 0 END AS s FROM d),
      pr AS (SELECT a.k AS ka, b.k AS kb, a.s AS sa, b.s AS sb
             FROM sg a JOIN sg b ON b.t = a.t AND a.k < b.k),
      cells AS (SELECT ka, kb, sa, sb, COUNT(*) AS c
                FROM pr GROUP BY 1, 2, 3, 4),
      m AS (SELECT ka, kb, c,
                   SUM(c) OVER (PARTITION BY ka, kb) AS n,
                   SUM(c) OVER (PARTITION BY ka, kb, sa) AS ca,
                   SUM(c) OVER (PARTITION BY ka, kb, sb) AS cb
            FROM cells),
      tq AS (SELECT ka, kb, n,
                   CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                     * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                          / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
                     * 1e9) AS BIGINT) AS q
             FROM m),
      g AS (SELECT ka, kb, MIN(n) AS n, SUM(q) AS sq FROM tq GROUP BY ka, kb)
      SELECT ka AS key_a, kb AS key_b, CAST(n AS BIGINT) AS n,
             round(CAST(sq AS DOUBLE) / 1e9, 6) + 0.0 AS mi_nats
      FROM g ORDER BY key_a, key_b"""))

  // Gini concentration of per-user spend within each event type — the
  // inequality gauge beside q_source_quota's share caps: exact-cent
  // member totals, tie-invariant rank-weighted HUGEINT sums.
  private val qGini = QDef(
    "q_gini",
    (s, dir) => Relational.gini(t(s, dir, "events"),
      Seq("event_type"), "user_id", "value"),
    Some("""
      WITH c AS (SELECT event_type, user_id,
                        CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      rk AS (SELECT event_type, x,
                   row_number() OVER (PARTITION BY event_type ORDER BY x) AS i
             FROM c),
      g AS (SELECT event_type, COUNT(*) AS n_members,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(i AS HUGEINT) * x) AS swx
            FROM rk GROUP BY event_type),
      f1 AS (SELECT event_type, n_members,
                   CAST(n_members AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                   CAST(swx AS DOUBLE) AS swxd
             FROM g)
      SELECT event_type, n_members,
             round(sxd / 100.0, 6) + 0.0 AS total,
             CASE WHEN n_members >= 1 AND sxd > 0.0
                  THEN round(2.0 * swxd / (nd * sxd) - (nd + 1.0) / nd, 6) + 0.0
             END AS gini
      FROM f1 ORDER BY event_type"""))

  // Tokenizer fertility by language — BPE pieces per whitespace word
  // and chars per piece from the q_bpe_tokenize machinery (merges=6):
  // the tokenizer-efficiency lens a multilingual corpus needs (a lang
  // with fertility ≫ others is under-served by the merge table).
  private val qTokenizerFertility = QDef(
    "q_tokenizer_fertility",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val tok = TextAnalysis.bpeTokenize(d, "text", "doc_id", merges = 6)
      d.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(tok, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_pieces"), col("n_chars"),
          when(col("n_words") > 0L,
            round(col("n_pieces").cast("double") /
              col("n_words").cast("double"), 6) + lit(0.0)).as("fertility"),
          when(col("n_pieces") > 0L,
            round(col("n_chars").cast("double") /
              col("n_pieces").cast("double"), 6) + lit(0.0))
            .as("chars_per_piece"))
        .orderBy("lang")
    },
    Some(raw"""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      w0 AS (SELECT w, string_split(w, '') AS p, CAST(count(*) AS BIGINT) AS c
             FROM tok WHERE w <> '' GROUP BY w),""" +
      (1 to 6).map(bpeRoundSql).mkString(",") + raw""",
      cnt AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                     CAST(SUM(len(w6.p)) AS BIGINT) AS n_pieces
              FROM tok t JOIN w6 ON t.w = w6.w GROUP BY t.doc_id),
      per AS (SELECT d.lang, d.n_chars,
                    COALESCE(cnt.n_words, 0) AS n_words,
                    COALESCE(cnt.n_pieces, 0) AS n_pieces
              FROM documents d LEFT JOIN cnt USING (doc_id)),
      g AS (SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS n_words,
                   CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM per GROUP BY lang)
      SELECT lang, n_docs, n_words, n_pieces, n_chars,
             CASE WHEN n_words > 0
                  THEN round(CAST(n_pieces AS DOUBLE)
                             / CAST(n_words AS DOUBLE), 6) + 0.0
             END AS fertility,
             CASE WHEN n_pieces > 0
                  THEN round(CAST(n_chars AS DOUBLE)
                             / CAST(n_pieces AS DOUBLE), 6) + 0.0
             END AS chars_per_piece
      FROM g ORDER BY lang"""))

  // First-order partial correlations over the hourly panel — the
  // spurious-correlation screen on the q_correlation images: a pair
  // whose partials all collapse is co-moving through the controls.
  // Composes the 6-dp pair frame (determinism-first by construction).
  private val qPartialCorr = QDef(
    "q_partial_corr",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      Relational.partialCorrelation(hourly, "event_type", "bucket", "mean_v",
        scale = 1e4)
    },
    Some("""
      WITH h0 AS (
        SELECT event_type AS k, date_trunc('hour', ts) AS t,
               CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e4) AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      p AS (SELECT x.k AS key_a, y.k AS key_b, x.v AS xa, y.v AS xb
            FROM h x JOIN h y ON x.t = y.t AND x.k < y.k),
      s AS (SELECT key_a, key_b, COUNT(*) AS n,
                   CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                   CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                   CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                   CAST(SUM(xb * xb) AS BIGINT) AS syy
            FROM p GROUP BY 1, 2),
      cm AS (SELECT key_a, key_b,
             CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                   AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                  THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
             END AS corr
             FROM s),
      sym AS (SELECT key_a, key_b, corr FROM cm
              UNION ALL SELECT key_b, key_a, corr FROM cm),
      ks AS (SELECT DISTINCT key_a AS kk FROM sym),
      tri AS (SELECT c.key_a, c.key_b, c.corr, k.kk
              FROM cm c JOIN ks k ON k.kk <> c.key_a AND k.kk <> c.key_b),
      j1 AS (SELECT t.*, s.corr AS r_az
             FROM tri t JOIN sym s ON s.key_a = t.key_a AND s.key_b = t.kk),
      j2 AS (SELECT j1.*, s.corr AS r_bz
             FROM j1 JOIN sym s ON s.key_a = j1.key_b AND s.key_b = j1.kk),
      f AS (SELECT *, 1.0 - r_az * r_az AS da, 1.0 - r_bz * r_bz AS db
            FROM j2)
      SELECT key_a, key_b, kk AS key_ctrl, corr AS corr_raw,
             CASE WHEN corr IS NOT NULL AND r_az IS NOT NULL
                    AND r_bz IS NOT NULL AND da > 0.0 AND db > 0.0
                  THEN round((corr - r_az * r_bz) / (sqrt(da) * sqrt(db)), 6) + 0.0
             END AS partial_corr
      FROM f ORDER BY key_a, key_b, key_ctrl"""))

  // Detrended fluctuation analysis on the hourly panel — the
  // trend-robust scaling exponent beside q_hurst (disagreement between
  // alpha and hurst IS the trend diagnostic). Integer profile
  // Ỹ = N·C − t·SV, exact per-segment OLS moments with the index-side
  // constants interpolated as literals, re-quantized SSE images, and
  // the same three-level log–log fold as the hurst oracle.
  private val DfaScales = Seq(8, 16, 32, 64)
  private val qDfa = QDef(
    "q_dfa",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.dfa(h, "event_type", "hb", "v", ns = DfaScales, scale = 1e4)
    },
    Some {
      val metaRows = DfaScales.map { n =>
        val sx = n.toLong * (n - 1) / 2
        val sxx = (n.toLong - 1) * n * (2L * n - 1) / 6
        val den = n * sxx - sx * sx
        s"(CAST($n AS BIGINT), ${java.lang.Double.toString(sx.toDouble)}, " +
          s"${java.lang.Double.toString(den.toDouble)})"
      }.mkString(", ")
      s"""
      WITH h0 AS MATERIALIZED (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS MATERIALIZED (SELECT * FROM h0 WHERE v IS NOT NULL),
      prof AS MATERIALIZED (SELECT k,
                    row_number() OVER w AS idx,
                    SUM(v) OVER w AS c,
                    COUNT(*) OVER pk AS n,
                    SUM(v) OVER pk AS sv
             FROM h WINDOW
               w AS (PARTITION BY k ORDER BY hb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               pk AS (PARTITION BY k)),
      pf AS MATERIALIZED (SELECT k, n, idx,
                    CAST(n * c - idx * sv AS BIGINT) AS yt FROM prof),
      nsm AS (SELECT * FROM (VALUES $metaRows) AS t0(nseg, sxl, denl)),
      wn AS MATERIALIZED (SELECT p.k, p.n, p.yt, m.nseg, m.sxl, m.denl,
                    CAST((p.idx - 1 - ((p.idx - 1) % m.nseg))
                         / CAST(m.nseg AS DOUBLE) AS BIGINT) AS blk,
                    (p.idx - 1) % m.nseg AS i
             FROM pf p CROSS JOIN nsm m),
      bl AS MATERIALIZED (SELECT k, nseg, sxl, denl, blk,
                    COUNT(*) AS cnt, MAX(n) AS nn,
                    SUM(CAST(yt AS HUGEINT)) AS sy,
                    SUM(CAST(i AS HUGEINT) * yt) AS sxy,
                    SUM(CAST(yt AS HUGEINT) * yt) AS syy
             FROM wn GROUP BY 1, 2, 3, 4, 5),
      bf AS (SELECT * FROM bl WHERE cnt = nseg),
      b1 AS (SELECT k, nseg, nn, sy, sxy, syy, sxl, denl,
                    (CAST(nseg AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - sxl * CAST(sy AS DOUBLE)) / denl AS b
             FROM bf),
      b2 AS (SELECT k, nseg, nn, sy, sxy, syy, b,
                    (CAST(sy AS DOUBLE) - b * sxl) / CAST(nseg AS DOUBLE) AS a
             FROM b1),
      sg AS MATERIALIZED (SELECT k, nseg,
                    CAST(round((CAST(syy AS DOUBLE) - a * CAST(sy AS DOUBLE)
                                - b * CAST(sxy AS DOUBLE))
                               / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
                         AS BIGINT) AS sseq
             FROM b2),
      lg AS MATERIALIZED (SELECT k, nseg, COUNT(*) AS n_segments,
                    SUM(CAST(sseq AS HUGEINT)) AS ss
             FROM sg GROUP BY 1, 2),
      l2 AS (SELECT k, nseg, n_segments,
                    CAST(ss AS DOUBLE)
                      / (CAST(n_segments AS DOUBLE) * CAST(nseg AS DOUBLE)) AS f2
             FROM lg),
      l3 AS (SELECT k, nseg, n_segments,
                    CASE WHEN f2 > 0.0
                         THEN CAST(floor(sqrt(f2) / 1e4 * 1e6) AS BIGINT) END AS fq
             FROM l2),
      l4 AS MATERIALIZED (SELECT k, nseg, n_segments,
                    CAST(fq AS DOUBLE) / 1e6 AS f_n
             FROM l3 WHERE fq IS NOT NULL AND fq > 0),
      terms AS MATERIALIZED (SELECT k, nseg, n_segments, f_n,
                   CAST(floor(ln(CAST(nseg AS DOUBLE)) * 1e9) AS BIGINT) AS xq,
                   CAST(floor(ln(f_n) * 1e9) AS BIGINT) AS yq,
                   CAST(floor(ln(CAST(nseg AS DOUBLE)) * ln(f_n) * 1e9) AS BIGINT) AS xyq,
                   CAST(floor(ln(CAST(nseg AS DOUBLE)) * ln(CAST(nseg AS DOUBLE)) * 1e9) AS BIGINT) AS xxq
            FROM l4),
      fit AS MATERIALIZED (SELECT k, CAST(COUNT(*) AS DOUBLE) AS nsc,
                   CAST(SUM(xq) AS DOUBLE) / 1e9 AS sx,
                   CAST(SUM(yq) AS DOUBLE) / 1e9 AS sy,
                   CAST(SUM(xyq) AS DOUBLE) / 1e9 AS sxy,
                   CAST(SUM(xxq) AS DOUBLE) / 1e9 AS sxx
            FROM terms GROUP BY 1)
      SELECT t.k AS key, t.nseg AS n, t.n_segments,
             round(t.f_n, 6) AS f_n,
             CAST(f.nsc AS BIGINT) AS n_scales,
             CASE WHEN f.nsc >= 2 AND f.nsc * f.sxx - f.sx * f.sx > 0
                  THEN round((f.nsc * f.sxy - f.sx * f.sy)
                             / (f.nsc * f.sxx - f.sx * f.sx), 6)
             END AS alpha
      FROM terms t JOIN fit f ON f.k = t.k
      ORDER BY key, n"""
    })

  // AR(1) mean-reversion half-life (the discretized OU exit horizon) on
  // the hourly panel — the Dickey–Fuller regression Δv on v_{t−1} from
  // exact integer moment sums, ln 2 interpolated from the JVM.
  private val qHalfLife = QDef(
    "q_half_life",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.arHalfLife(h, "event_type", "hb", "v", scale = 1e4)
    },
    Some(s"""
      WITH h0 AS MATERIALIZED (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS MATERIALIZED (SELECT * FROM h0 WHERE v IS NOT NULL),
      p AS MATERIALIZED (SELECT x.k AS key, x.v AS xi, y.v - x.v AS yi
            FROM h x JOIN h y ON y.k = x.k AND y.hb = x.hb + 1),
      m AS MATERIALIZED (SELECT key, COUNT(*) AS n,
                   CAST(SUM(xi) AS BIGINT) AS sx, CAST(SUM(yi) AS BIGINT) AS sy,
                   CAST(SUM(xi * yi) AS BIGINT) AS sxy,
                   CAST(SUM(xi * xi) AS BIGINT) AS sxx,
                   CAST(SUM(yi * yi) AS BIGINT) AS syy
            FROM p GROUP BY 1),
      c1 AS MATERIALIZED (SELECT key, n, CAST(n AS DOUBLE) AS nd,
                   CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                   CAST(syy AS DOUBLE) AS syyd,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS sxxc,
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
                   CAST(sx AS DOUBLE) AS sxd
            FROM m),
      c2 AS MATERIALIZED (SELECT *, (syd - beta * sxd) / nd AS alpha,
                   1.0 + beta AS phi FROM c1),
      c3 AS MATERIALIZED (SELECT *,
                   syyd - alpha * syd - beta * sxyd AS sse FROM c2)
      SELECT key, n AS n_obs,
             CASE WHEN sxxc > 0 THEN round(beta, 6) END AS beta,
             CASE WHEN sxxc > 0 THEN round(phi, 6) END AS phi,
             CASE WHEN sxxc > 0 AND n >= 3 AND sse > 0
                  THEN round(beta / sqrt((sse / (nd - 2.0)) / (sxxc / nd)), 6)
             END AS t_stat,
             CASE WHEN sxxc > 0 AND phi > 0 AND phi < 1
                  THEN round(${-Relational.Ln2Const} / ln(phi), 6)
             END AS half_life
      FROM c3 ORDER BY key"""))

  // Engle–Granger two-step cointegration over hourly panel pairs —
  // step-1 OLS hedge from exact moments, residuals re-quantized so the
  // step-2 DF sums are exact again; the MacKinnon 5% critical value
  // interpolates from the JVM constant.
  private val qEgCoint = QDef(
    "q_eg_coint",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.engleGranger(h, "event_type", "hb", "v",
        scale = 1e4, residScale = 1e6)
    },
    Some(s"""
      WITH h0 AS MATERIALIZED (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS MATERIALIZED (SELECT * FROM h0 WHERE v IS NOT NULL),
      pr AS MATERIALIZED (SELECT a.k AS key_a, b.k AS key_b, a.hb AS t,
                   a.v AS vx, b.v AS vy
            FROM h a JOIN h b ON b.hb = a.hb AND a.k < b.k),
      m1 AS MATERIALIZED (SELECT key_a, key_b, COUNT(*) AS n,
                   CAST(SUM(vx) AS BIGINT) AS sx, CAST(SUM(vy) AS BIGINT) AS sy,
                   CAST(SUM(vx * vy) AS BIGINT) AS sxy,
                   CAST(SUM(vx * vx) AS BIGINT) AS sxx
            FROM pr GROUP BY 1, 2),
      cf AS MATERIALIZED (SELECT key_a, key_b, n,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                        THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   END AS beta,
                   CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
                   CAST(n AS DOUBLE) AS nd
            FROM m1),
      cf2 AS MATERIALIZED (SELECT key_a, key_b, n, beta,
                   (syd - beta * sxd) / nd AS alphaq FROM cf),
      rs AS MATERIALIZED (SELECT p.key_a, p.key_b, p.t,
                   CAST(floor((CAST(p.vy AS DOUBLE) - c.alphaq
                               - c.beta * CAST(p.vx AS DOUBLE))
                              / 1e4 * 1e6) AS BIGINT) AS e
            FROM pr p JOIN cf2 c
              ON c.key_a = p.key_a AND c.key_b = p.key_b
            WHERE c.beta IS NOT NULL),
      dfp AS MATERIALIZED (SELECT r0.key_a, r0.key_b, r0.e AS el,
                   r1.e - r0.e AS de
            FROM rs r0 JOIN rs r1
              ON r1.key_a = r0.key_a AND r1.key_b = r0.key_b
                 AND r1.t = r0.t + 1),
      m2 AS MATERIALIZED (SELECT key_a, key_b, COUNT(*) AS ndf,
                   CAST(SUM(el * de) AS BIGINT) AS sld,
                   CAST(SUM(el * el) AS BIGINT) AS sll,
                   CAST(SUM(de * de) AS BIGINT) AS sdd
            FROM dfp GROUP BY 1, 2),
      st AS MATERIALIZED (SELECT key_a, key_b, ndf, sld, sll, sdd,
                   CAST(sld AS DOUBLE) / CAST(sll AS DOUBLE) AS g
            FROM m2),
      st2 AS MATERIALIZED (SELECT *,
                   CAST(sdd AS DOUBLE) - g * CAST(sld AS DOUBLE) AS sse
            FROM st),
      fin AS MATERIALIZED (SELECT key_a, key_b, ndf,
                   CASE WHEN sll > 0 AND ndf >= 2 AND sse > 0
                        THEN g / sqrt((sse / (CAST(ndf AS DOUBLE) - 1.0))
                                      / CAST(sll AS DOUBLE))
                   END AS stat
            FROM st2)
      SELECT c.key_a, c.key_b, c.n AS n_obs,
             COALESCE(f.ndf, 0) AS n_df,
             CASE WHEN c.beta IS NOT NULL
                  THEN round(c.alphaq / 1e4, 6) END AS alpha,
             round(c.beta, 6) AS beta,
             round(f.stat, 6) AS df_stat,
             CASE WHEN f.stat IS NOT NULL
                  THEN f.stat < ${Relational.EgCrit5Pct} END AS coint_5pct
      FROM cf2 c LEFT JOIN fin f
        ON f.key_a = c.key_a AND f.key_b = c.key_b
      ORDER BY c.key_a, c.key_b"""))

  // Range-based realized volatility (Parkinson / Garman-Klass /
  // Rogers-Satchell) over daily bars per event type — per-bar terms as
  // exact pico-unit BIGINT sums; the 4ln2 / 2ln2−1 constants interpolate
  // from the JVM so libm folding can't drift a ulp.
  private val qRangeVol = QDef(
    "q_range_vol",
    (s, dir) => TA.rangeVolatility(
      Resample.bars(t(s, dir, "events"), "ts", "value", "event_id",
        "1 day", Seq("event_type")),
      Seq("event_type")),
    Some(s"""
      WITH b AS (SELECT event_type,
                        date_trunc('day', ts) AS bar_ts,
                        ARG_MIN(value, ts) AS open, MAX(value) AS high,
                        MIN(value) AS low, ARG_MAX(value, ts) AS close
                 FROM events GROUP BY 1, 2),
      t AS (SELECT event_type,
                   CAST(round(ln(high / low) * ln(high / low) * 1e12) AS BIGINT) AS p,
                   CAST(round((ln(high / low) * ln(high / low) * 0.5
                               - ${TA.GkDriftConst} * (ln(close / open) * ln(close / open))) * 1e12) AS BIGINT) AS g,
                   CAST(round((ln(high / close) * ln(high / open)
                               + ln(low / close) * ln(low / open)) * 1e12) AS BIGINT) AS r
            FROM b
            WHERE high IS NOT NULL AND low IS NOT NULL AND open IS NOT NULL
              AND close IS NOT NULL AND high > 0 AND low > 0 AND open > 0 AND close > 0),
      sm AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bars,
                    CAST(SUM(p) AS BIGINT) AS sp, CAST(SUM(g) AS BIGINT) AS sg,
                    CAST(SUM(r) AS BIGINT) AS sr
             FROM t GROUP BY 1)
      SELECT event_type, n_bars,
             round(sqrt(CAST(sp AS DOUBLE) / 1e12 / CAST(n_bars AS DOUBLE)
                        / ${TA.ParkinsonConst}), 6) AS vol_parkinson,
             round(sqrt(GREATEST(CAST(sg AS DOUBLE), 0.0) / 1e12
                        / CAST(n_bars AS DOUBLE)), 6) AS vol_gk,
             round(sqrt(GREATEST(CAST(sr AS DOUBLE), 0.0) / 1e12
                        / CAST(n_bars AS DOUBLE)), 6) AS vol_rs
      FROM sm ORDER BY event_type"""))

  // Realized variance / bipower variation / jump split per (event type,
  // day) — the BNS jump-robust decomposition beside q_range_vol. Log
  // returns over the per-series (ts, event_id) total order (continuous
  // across day boundaries, each return in its later tick's day);
  // per-term products quantize to pico-unit BIGINTs and sum exactly;
  // π/2 interpolates from the JVM (the GkDriftConst rule).
  private val qJumpVol = QDef(
    "q_jump_vol",
    (s, dir) => TA.realizedJumpVol(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", "day")
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("n_returns"), col("rv"), col("bv"), col("jump"))
      .orderBy("event_type", "bucket_us"),
    Some(s"""
      WITH b0 AS (SELECT event_type AS k, ts, event_id,
                         CAST(value AS DOUBLE) AS p
                  FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, ts, event_id,
                    ln(p / lag(p) OVER (PARTITION BY k ORDER BY ts, event_id)) AS r
             FROM b0),
      r1 AS (SELECT k, ts, r,
                    lag(r) OVER (PARTITION BY k ORDER BY ts, event_id) AS rp
             FROM r0),
      t AS (SELECT k, date_trunc('day', ts) AS bucket,
                   CAST(round(r * r * 1e12) AS BIGINT) AS sq,
                   CAST(round(abs(r) * abs(rp) * 1e12) AS BIGINT) AS bp
            FROM r1 WHERE r IS NOT NULL),
      g AS (SELECT k, bucket, COUNT(*) AS n_returns,
                   CAST(SUM(sq) AS BIGINT) AS srv,
                   COALESCE(CAST(SUM(bp) AS BIGINT), 0) AS sbv
            FROM t GROUP BY 1, 2)
      SELECT k AS event_type, epoch_us(bucket) AS bucket_us, n_returns,
             round(CAST(srv AS DOUBLE) / 1e12, 6) AS rv,
             round(${TA.BipowerConst} * (CAST(sbv AS DOUBLE) / 1e12), 6) AS bv,
             round(GREATEST(CAST(srv AS DOUBLE) / 1e12
                            - ${TA.BipowerConst} * (CAST(sbv AS DOUBLE) / 1e12),
                            0.0), 6) AS jump
      FROM g ORDER BY event_type, bucket_us"""))

  // Realized skewness + kurtosis per (event type, day) — the ACJV 2015
  // higher-moment pair beside q_jump_vol's continuous/jump split. Same
  // return machinery; r², r³, r⁴ quantize independently (10¹²/10⁹/10⁹
  // BIGINTs — events' raw-metric "returns" swing whole e-folds, so the
  // price-series 10¹⁵/10¹⁸ defaults would overflow i64; with |r| ≤
  // ln 49000 ≈ 10.8 both cubic and quartic terms bound at |r|³·10⁹ ≤
  // 1.3·10¹² and r⁴·10⁹ ≤ 1.4·10¹³ per term, so BOTH sums stay exact
  // past 10⁵ rows/bucket — the round-8 ADVICE caught that the previous
  // q3Scale=10¹² bounded only the quartic) and sum exactly; rv^{3/2}
  // is spelled rv·√rv in BOTH engines (sqrt is IEEE correctly-rounded;
  // pow is not).
  private val qRealizedMoments = QDef(
    "q_realized_moments",
    (s, dir) => TA.realizedMoments(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", "day", q3Scale = 1e9, q4Scale = 1e9)
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("n_returns"), col("rv"), col("rskew"), col("rkurt"))
      .orderBy("event_type", "bucket_us"),
    Some("""
      WITH b0 AS (SELECT event_type AS k, ts, event_id,
                         CAST(value AS DOUBLE) AS p
                  FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, ts,
                    ln(p / lag(p) OVER (PARTITION BY k ORDER BY ts, event_id)) AS r
             FROM b0),
      t AS (SELECT k, date_trunc('day', ts) AS bucket,
                   CAST(round(r * r * 1e12) AS BIGINT) AS q2,
                   CAST(round(r * r * r * 1e9) AS BIGINT) AS q3,
                   CAST(round(r * r * r * r * 1e9) AS BIGINT) AS q4
            FROM r0 WHERE r IS NOT NULL),
      g AS (SELECT k, bucket, COUNT(*) AS n_returns,
                   CAST(SUM(q2) AS BIGINT) AS s2,
                   CAST(SUM(q3) AS BIGINT) AS s3,
                   CAST(SUM(q4) AS BIGINT) AS s4
            FROM t GROUP BY 1, 2)
      SELECT k AS event_type, epoch_us(bucket) AS bucket_us, n_returns,
             round(CAST(s2 AS DOUBLE) / 1e12, 6) AS rv,
             CASE WHEN s2 > 0 THEN round(
               sqrt(CAST(n_returns AS DOUBLE)) * (CAST(s3 AS DOUBLE) / 1e9)
               / ((CAST(s2 AS DOUBLE) / 1e12) * sqrt(CAST(s2 AS DOUBLE) / 1e12)),
               6) END AS rskew,
             CASE WHEN s2 > 0 THEN round(
               CAST(n_returns AS DOUBLE) * (CAST(s4 AS DOUBLE) / 1e9)
               / ((CAST(s2 AS DOUBLE) / 1e12) * (CAST(s2 AS DOUBLE) / 1e12)),
               6) END AS rkurt
      FROM g ORDER BY k, bucket_us"""))

  // Fixed-width fractional differentiation (AFML ch. 5) of each event
  // type's value stream at d=0.4 — the stationarity-with-memory
  // transform between raw levels (d=0) and plain differencing (d=1).
  // The truncated binomial weights (threshold 1e-2 → L=11) compute ONCE
  // in Scala and INTERPOLATE into both plans — neither engine re-derives
  // the recurrence — and the dot product is the identical left-
  // associated IEEE sum in both, 6 dp at the edge.
  private val fdWeights: Array[Double] = TA.fracDiffWeights(0.4, 1e-2, 64)
  private val qFracDiff = QDef(
    "q_fracdiff",
    (s, dir) => TA.fracDiff(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", d = 0.4, threshold = 1e-2)
      .select(col("event_type"), micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("fracdiff"))
      .orderBy("event_type", "ts_us", "event_id"),
    Some({
      val terms = fdWeights.zipWithIndex.map {
        case (wk, 0) => s"(${java.lang.Double.toString(wk)}) * v"
        case (wk, k) => s"(${java.lang.Double.toString(wk)}) * lag(v, $k) OVER w"
      }.mkString(" + ")
      s"""
      WITH e AS (SELECT event_type, ts, event_id, CAST(value AS DOUBLE) AS v,
                        row_number() OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id) AS rn
                 FROM events WHERE value IS NOT NULL)
      SELECT event_type, epoch_us(ts) AS ts_us, event_id, v AS value,
             CASE WHEN rn >= ${fdWeights.length}
                  THEN round($terms, 6) END AS fracdiff
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
      ORDER BY event_type, ts_us, event_id"""
    }))

  // Trend-scanning labels (López de Prado MLAM §5.3) per event type:
  // forward OLS over spans {5, 6, 12} (6 ≡ 2 mod 4 exercises the exact
  // n·Sxx = L²(L²−1)/12 denominator), best span by |t|, shortest wins
  // ties, ±1e9 sentinel for residual-free fits. Values quantize to
  // round(v·100) BIGINTs so every regression sum is an exact integer in
  // BOTH engines; the slope/t double trees are written identically in
  // the SQL and every Scala-computed denominator interpolates verbatim.
  private val tsSpans = Seq(5, 6, 12)
  private val qTrendScan = QDef(
    "q_trend_scan",
    (s, dir) => operators.Labeling.trendScanLabel(t(s, dir, "events"),
        Seq("event_type"), "ts", "value", "event_id",
        spans = tsSpans, quantScale = 100.0)
      .select(col("event_type"), micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("best_span"), col("t_value"),
        col("slope"), col("label"))
      .orderBy("event_type", "ts_us", "event_id"),
    Some({
      def nSxx(l: Int): Long = { val ll = l.toLong; ll * ll * (ll * ll - 1) / 12 }
      def d(x: Double) = java.lang.Double.toString(x)
      val ls = tsSpans.sorted
      val sums = ls.flatMap { l =>
        val fr = s"ROWS BETWEEN CURRENT ROW AND ${l - 1} FOLLOWING"
        Seq(s"count(*) OVER (w $fr) AS n$l",
            s"sum(c) OVER (w $fr) AS sy$l",
            s"sum(rn * c) OVER (w $fr) AS sry$l",
            s"sum(c * c) OVER (w $fr) AS syy$l")
      }.mkString(",\n             ")
      val nums = ls.map { l =>
        s"($l * (sry$l - rn * sy$l) - ${l.toLong * (l - 1) / 2} * sy$l) AS num$l"
      }.mkString(",\n             ")
      val ts = ls.map { l =>
        val slope = s"(CAST(num$l AS DOUBLE) / ${d(nSxx(l).toDouble)})"
        val sseL = s"(CAST($l * syy$l - sy$l * sy$l AS DOUBLE) - $slope * CAST(num$l AS DOUBLE))"
        s"""CASE WHEN n$l <> $l THEN NULL
             WHEN $sseL > 0.0
               THEN round($slope / sqrt($sseL / ${d((l - 2).toDouble * nSxx(l))}), 6)
             WHEN num$l = 0 THEN 0.0
             WHEN num$l > 0 THEN 1e9 ELSE -1e9 END AS t$l"""
      }.mkString(",\n             ")
      val best = ls.zipWithIndex.map { case (l, i) =>
        val beats = ls.drop(i + 1)
          .map(m => s"(t$m IS NULL OR abs(t$l) >= abs(t$m))")
        (s"t$l IS NOT NULL" +: beats).mkString(
          s"WHEN ", " AND ", s" THEN $l")
      }.mkString("CASE ", "\n                  ", " END")
      def pick(f: Int => String) = ls.map(l => s"WHEN $l THEN ${f(l)}")
        .mkString("CASE best_span ", " ", " END")
      s"""
      WITH e AS (SELECT event_type, ts, event_id, CAST(value AS DOUBLE) AS v,
                        CAST(round(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS c,
                        CAST(row_number() OVER (PARTITION BY event_type
                                                ORDER BY ts, event_id) AS BIGINT) AS rn
                 FROM events WHERE value IS NOT NULL),
      s AS (SELECT event_type, ts, event_id, v, rn,
             $sums
            FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      g AS (SELECT *,
             $nums
            FROM s),
      tt AS (SELECT *,
             $ts
             FROM g),
      b AS (SELECT *, $best AS best_span FROM tt)
      SELECT event_type, epoch_us(ts) AS ts_us, event_id, v AS value, best_span,
             ${pick(l => s"t$l")} AS t_value,
             ${pick(l => s"round(CAST(num$l AS DOUBLE) / ${d(nSxx(l).toDouble * 100.0)}, 6)")} AS slope,
             CAST(${pick(l => s"(CASE WHEN num$l > 0 THEN 1 WHEN num$l < 0 THEN -1 ELSE 0 END)")} AS BIGINT) AS label
      FROM b ORDER BY event_type, ts_us, event_id"""
    }))

  // Tick-run bars over the hourly close series of each event type
  // (threshold 5): the run clock closes a bar when either side's tick
  // count since the bar opened reaches 5 — persistence of flow, where
  // q_imbalance_bars samples its net direction. The oracle replays the
  // two-counter reset scan as a recursive CTE over the same tick signs.
  private val qRunBars = QDef(
    "q_run_bars",
    (s, dir) => Resample.runBars(
        t(s, dir, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("close")),
        "bucket", "close", "bucket", Seq("event_type"), threshold = 5L)
      .select(col("event_type"), col("bar_id"), col("open"), col("high"),
        col("low"), col("close"), col("n_ticks"), col("n_up"), col("n_dn"),
        micros(col("open_ts")).as("open_ts_us"),
        micros(col("close_ts")).as("close_ts_us"))
      .orderBy("event_type", "bar_id"),
    Some(raw"""
      WITH RECURSIVE
      h0 AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket, value,
                    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                       ORDER BY ts DESC, event_id DESC) AS r
             FROM events),
      h AS (SELECT k, bucket, value AS close FROM h0 WHERE r = 1),
      b0 AS (SELECT k, bucket, close,
                    row_number() OVER (PARTITION BY k ORDER BY bucket) AS rn,
                    close - lag(close) OVER (PARTITION BY k ORDER BY bucket) AS delta
             FROM h),
      sgf AS MATERIALIZED (
        SELECT k, bucket, close, rn,
               coalesce(last_value(CASE WHEN delta > 0 THEN 1
                                        WHEN delta < 0 THEN -1 END IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 0) AS b
        FROM b0),
      scan(k, rn, ups, dns, bar, emit) AS (
        SELECT k, rn,
               CASE WHEN greatest(CASE WHEN b > 0 THEN 1 ELSE 0 END,
                                  CASE WHEN b < 0 THEN 1 ELSE 0 END) >= 5
                    THEN 0 ELSE CASE WHEN b > 0 THEN 1 ELSE 0 END END,
               CASE WHEN greatest(CASE WHEN b > 0 THEN 1 ELSE 0 END,
                                  CASE WHEN b < 0 THEN 1 ELSE 0 END) >= 5
                    THEN 0 ELSE CASE WHEN b < 0 THEN 1 ELSE 0 END END,
               CASE WHEN greatest(CASE WHEN b > 0 THEN 1 ELSE 0 END,
                                  CASE WHEN b < 0 THEN 1 ELSE 0 END) >= 5
                    THEN 1 ELSE 0 END,
               0
        FROM sgf WHERE rn = 1
        UNION ALL
        SELECT s.k, s.rn + 1,
               CASE WHEN greatest(s.ups + CASE WHEN f.b > 0 THEN 1 ELSE 0 END,
                                  s.dns + CASE WHEN f.b < 0 THEN 1 ELSE 0 END) >= 5
                    THEN 0 ELSE s.ups + CASE WHEN f.b > 0 THEN 1 ELSE 0 END END,
               CASE WHEN greatest(s.ups + CASE WHEN f.b > 0 THEN 1 ELSE 0 END,
                                  s.dns + CASE WHEN f.b < 0 THEN 1 ELSE 0 END) >= 5
                    THEN 0 ELSE s.dns + CASE WHEN f.b < 0 THEN 1 ELSE 0 END END,
               CASE WHEN greatest(s.ups + CASE WHEN f.b > 0 THEN 1 ELSE 0 END,
                                  s.dns + CASE WHEN f.b < 0 THEN 1 ELSE 0 END) >= 5
                    THEN s.bar + 1 ELSE s.bar END,
               s.bar
        FROM scan s JOIN sgf f ON f.k = s.k AND f.rn = s.rn + 1),
      rows_ AS (SELECT f.k, f.bucket, f.close, f.b, CAST(s.emit AS BIGINT) AS bar_id
                FROM sgf f JOIN scan s ON s.k = f.k AND s.rn = f.rn)
      SELECT k AS event_type, bar_id,
             ARG_MIN(close, bucket) AS open, MAX(close) AS high,
             MIN(close) AS low, ARG_MAX(close, bucket) AS close,
             COUNT(*) AS n_ticks,
             CAST(SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
             CAST(SUM(CASE WHEN b < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn,
             epoch_us(MIN(bucket)) AS open_ts_us,
             epoch_us(MAX(bucket)) AS close_ts_us
      FROM rows_ GROUP BY 1, 2 ORDER BY event_type, bar_id"""))

  // Rolling permutation entropy (Bandt-Pompe m=3) of each event type's
  // value stream over the trailing 16 ordinal patterns. Patterns and
  // their trailing counts are exact integers (quantized strict
  // compares); only the final entropy is a double — one fixed
  // left-associated term sum over ascending pattern ids, normalized by
  // the interpolated JVM ln 6, 6 dp.
  private val qPermEntropy = QDef(
    "q_perm_entropy",
    (s, dir) => TA.permutationEntropy(t(s, dir, "events"),
        Seq("event_type"), "ts", "value", "event_id",
        window = 16, quantScale = 100.0)
      .select(col("event_type"), micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("pattern"), col("perm_entropy"))
      .orderBy("event_type", "ts_us", "event_id"),
    Some({
      val ids = TA.PermutationPatternIds
      val counts = ids.map(k =>
        s"sum(CASE WHEN pattern = $k THEN 1 ELSE 0 END) OVER tw AS p$k")
        .mkString(",\n             ")
      val terms = ids.map { k =>
        val r = s"(CAST(p$k AS DOUBLE) / CAST(n AS DOUBLE))"
        s"CASE WHEN p$k > 0 THEN $r * ln($r) ELSE 0.0 END"
      }.mkString(" + ")
      s"""
      WITH e AS (SELECT event_type AS k, ts, event_id, CAST(value AS DOUBLE) AS v,
                        CAST(round(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS c
                 FROM events WHERE value IS NOT NULL),
      p AS (SELECT k, ts, event_id, v, c,
                   lag(c, 2) OVER w AS a, lag(c, 1) OVER w AS b
            FROM e WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      q AS (SELECT k, ts, event_id, v,
                   CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN
                     CAST(a > b AS BIGINT) * 4 + CAST(b > c AS BIGINT) * 2
                       + CAST(a > c AS BIGINT) END AS pattern
            FROM p),
      s AS (SELECT k, ts, event_id, v, pattern,
             $counts,
             count(pattern) OVER tw AS n
            FROM q WINDOW tw AS (PARTITION BY k ORDER BY ts, event_id
                                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW))
      SELECT k AS event_type, epoch_us(ts) AS ts_us, event_id, v AS value, pattern,
             CASE WHEN n = 16
                  THEN round((0.0 - ($terms)) / ${java.lang.Double.toString(math.log(6.0))}, 6)
             END AS perm_entropy
      FROM s ORDER BY event_type, ts_us, event_id"""
    }))

  // Time-varying pairs hedge ratio between the hourly click/purchase
  // close series via the scalar Kalman recursion (diffuse start,
  // Q=1e-4, R=1, P0=1e6). The oracle replays the exact per-step IEEE
  // tree as a recursive CTE over the same hourly grid — the recursion
  // runs on BUCKETS (grid-sized), never raw ticks.

  /** The hourly click-x / purchase-y pair grid — shared engine base for
    * q_kalman_hedge and q_pairs_backtest. */
  private def kalmanPairGrid(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .where(col("event_type").isin("click", "purchase") &&
        col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"))
    val x = hourly.where(col("event_type") === "click")
      .select(col("bucket"), col("close").as("x"))
    val y = hourly.where(col("event_type") === "purchase")
      .select(col("bucket"), col("close").as("y"))
    x.join(y, Seq("bucket"))
  }

  /** Kalman hedge-ratio oracle chain → CTEs `o` (bucket, x, y, rn) and
    * `scan` (rn, beta, p) — the exact per-step IEEE tree as a recursive
    * CTE, shared by q_kalman_hedge and q_pairs_backtest (one definition
    * so the recursions cannot silently diverge — the bookBestSzCte
    * rule). Callers prepend `WITH RECURSIVE`. */
  private val kalmanScanCte = {
    val pp1 = "(1000000.0 + 0.0001)"
    val k1 = s"($pp1 * x / (x * x * $pp1 + 1.0))"
    val pp = "(s.p + 0.0001)"
    val k = s"($pp * f.x / (f.x * f.x * $pp + 1.0))"
    raw"""h AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS r
            FROM events WHERE event_type IN ('click', 'purchase')
                          AND value IS NOT NULL),
      hx AS (SELECT bucket, value AS x FROM h WHERE k = 'click' AND r = 1),
      hy AS (SELECT bucket, value AS y FROM h WHERE k = 'purchase' AND r = 1),
      o AS MATERIALIZED (
        SELECT hx.bucket, x, y, row_number() OVER (ORDER BY hx.bucket) AS rn
        FROM hx JOIN hy ON hy.bucket = hx.bucket),
      scan(rn, beta, p) AS (
        SELECT rn,
               (0.0 + $k1 * (y - 0.0 * x)),
               ((1.0 - $k1 * x) * $pp1)
        FROM o WHERE rn = 1
        UNION ALL
        SELECT s.rn + 1,
               (s.beta + $k * (f.y - s.beta * f.x)),
               ((1.0 - $k * f.x) * $pp)
        FROM scan s JOIN o f ON f.rn = s.rn + 1)"""
  }

  private val qKalmanHedge = QDef(
    "q_kalman_hedge",
    (s, dir) => {
      val w = Window.orderBy(col("bucket"))
      kalmanPairGrid(s, dir)
        .select(micros(col("bucket")).as("bucket_us"), col("x"), col("y"),
          round(W.kalmanBeta(col("x"), col("y"), q = 1e-4, r = 1.0,
            p0 = 1e6, w), 6).as("beta"))
        .orderBy("bucket_us")
    },
    Some(raw"""
      WITH RECURSIVE
      $kalmanScanCte
      SELECT epoch_us(o.bucket) AS bucket_us, o.x, o.y,
             round(scan.beta, 6) AS beta
      FROM o JOIN scan ON scan.rn = o.rn
      ORDER BY bucket_us"""))

  // Pairs-trading end-to-end backtest on the Kalman hedge: spread
  // s = y − β₆dp·x (the ROUNDED hedge image, so both engines feed the
  // same 6-dp β downstream), milli-quantized; rolling 48-bucket
  // z-score from exact integer sums (count-guarded, ddof=1); band
  // signal long/short at |z| ≥ 2 on the 6-dp integer image; next-
  // bucket spread-change PnL and equity as exact BIGINT cumsums —
  // only β, the z division and the final /1e3 are floating point.
  // Spread quantScale 1e3 keeps Σsq² inside the exact-integer
  // envelope (|s| ≤ 3e5 at 48-bucket windows binds n·Σsq² < 2⁶³).
  private val qPairsBacktest = QDef(
    "q_pairs_backtest",
    (s, dir) => {
      val w = Window.orderBy(col("bucket"))
      val tw = w.rowsBetween(-47, Window.currentRow)
      val kb = kalmanPairGrid(s, dir)
        .withColumn("beta",
          round(W.kalmanBeta(col("x"), col("y"), q = 1e-4, r = 1.0,
            p0 = 1e6, w), 6))
        .withColumn("sq",
          round((col("y") - col("beta") * col("x")) * 1e3).cast("long"))
      val zf = kb
        .withColumn("n", count(col("sq")).over(tw))
        .withColumn("s1", sum(col("sq")).over(tw))
        .withColumn("s2", sum(col("sq") * col("sq")).over(tw))
      val nD = col("n").cast("double")
      val s1D = col("s1").cast("double")
      val s2D = col("s2").cast("double")
      val z = zf.withColumn("zs",
        when(col("n") === 48 &&
             (col("n") * col("s2") - col("s1") * col("s1")) > 0L,
          round((col("sq").cast("double") - s1D / nD) /
            sqrt((nD * s2D - s1D * s1D) / (nD * (nD - lit(1.0)))), 6)
            + lit(0.0)))
        .withColumn("zq", round(col("zs") * 1e6).cast("long"))
        .withColumn("pos",
          when(col("zq") <= -2000000L, 1L)
            .when(col("zq") >= 2000000L, -1L)
            .when(col("zq").isNotNull, 0L))
      val out = z
        .withColumn("pnlq", col("pos") * (lead(col("sq"), 1).over(w) - col("sq")))
        .withColumn("eqq",
          sum(coalesce(col("pnlq"), lit(0L))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      out.select(micros(col("bucket")).as("bucket_us"), col("beta"),
          col("zs").as("z"), col("pos"),
          (col("pnlq").cast("double") / lit(1e3)).as("pnl"),
          (col("eqq").cast("double") / lit(1e3)).as("equity"))
        .orderBy("bucket_us")
    },
    Some(raw"""
      WITH RECURSIVE
      $kalmanScanCte,
      kb AS (SELECT o.bucket, o.x, o.y, o.rn, round(scan.beta, 6) AS beta
             FROM o JOIN scan ON scan.rn = o.rn),
      sp AS (SELECT *, CAST(round((y - beta * x) * 1e3) AS BIGINT) AS sq
             FROM kb),
      zf AS (SELECT *, count(sq) OVER tw AS n,
                    CAST(sum(sq) OVER tw AS BIGINT) AS s1,
                    CAST(sum(sq * sq) OVER tw AS BIGINT) AS s2
             FROM sp WINDOW tw AS (ORDER BY rn
                                   ROWS BETWEEN 47 PRECEDING AND CURRENT ROW)),
      z AS (SELECT *,
                   CASE WHEN n = 48 AND (n * s2 - s1 * s1) > 0
                        THEN round((CAST(sq AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                               / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) + 0.0
                   END AS zs
            FROM zf),
      pz AS (SELECT *, CAST(round(zs * 1e6) AS BIGINT) AS zq FROM z),
      ps AS (SELECT *,
                    CASE WHEN zq <= -2000000 THEN 1
                         WHEN zq >= 2000000 THEN -1
                         WHEN zq IS NOT NULL THEN 0 END AS pos
             FROM pz),
      pn AS (SELECT *, pos * (lead(sq) OVER (ORDER BY rn) - sq) AS pnlq
             FROM ps),
      eq AS (SELECT *,
                    CAST(sum(COALESCE(pnlq, 0)) OVER (ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS eqq
             FROM pn)
      SELECT epoch_us(bucket) AS bucket_us, beta, zs AS z,
             CAST(pos AS BIGINT) AS pos,
             CAST(pnlq AS DOUBLE) / 1e3 AS pnl,
             CAST(eqq AS DOUBLE) / 1e3 AS equity
      FROM eq ORDER BY bucket_us"""))

  // Average label uniqueness + sample weights (AFML ch. 4) over
  // variable-length labels; since round 11 the engine computes this
  // with the O(ticks+spans) delta/probe sweep (no tick×span frame) —
  // the oracle below KEEPS the plain interval-join pair semantics, so
  // the hash match doubles as the sweep≡pairs equivalence proof.
  // Historical comment follows:
  // variable-length fixed-horizon labels on the event clock: each event
  // opens a label spanning (1 + event_id mod 6) hours. Concurrency is
  // an exact pair-frame count, per-tick 1/c contributions quantize to
  // round(1e9/c) BIGINTs, and the oracle replays the whole chain with a
  // plain interval join.
  private val qAvgUniqueness = QDef(
    "q_avg_uniqueness",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), micros(col("ts")).as("ts_us"), col("event_id"))
      val spans = ev
        .withColumn("t0_us", col("ts_us"))
        .withColumn("t1_us",
          col("ts_us") + (lit(1L) + pmod(col("event_id"), lit(6L))) * lit(3600000000L))
      operators.Labeling.averageUniqueness(ev, spans, Seq("event_type"),
          "ts_us", "event_id", "t0_us", "t1_us", bucketUs = 6L * 3600000000L)
        .orderBy("event_type", "event_id")
    },
    Some("""
      WITH tk AS (SELECT event_type AS k, epoch_us(ts) AS ts_us, event_id
                  FROM events),
      sp AS (SELECT event_type AS k, event_id AS id, epoch_us(ts) AS t0,
                    epoch_us(ts) + (1 + event_id % 6) * 3600000000 AS t1
             FROM events),
      pairs AS (SELECT tk.k, tk.ts_us, sp.id, sp.t0, sp.t1
                FROM tk JOIN sp ON sp.k = tk.k
                                AND tk.ts_us >= sp.t0 AND tk.ts_us <= sp.t1),
      wc AS (SELECT *, count(*) OVER (PARTITION BY k, ts_us) AS c FROM pairs),
      per AS (SELECT k, id, min(t0) AS t0_us, min(t1) AS t1_us,
                     count(*) AS n_ticks,
                     CAST(sum(CAST(round(1e9 / CAST(c AS DOUBLE)) AS BIGINT)) AS BIGINT) AS su
              FROM wc GROUP BY 1, 2),
      u AS (SELECT *,
                   round(CAST(su AS DOUBLE) / 1e9 / CAST(n_ticks AS DOUBLE), 6) AS uniqueness
            FROM per),
      q AS (SELECT *, CAST(round(uniqueness * 1e6) AS BIGINT) AS uq FROM u)
      SELECT k AS event_type, id AS event_id, t0_us, t1_us, n_ticks, uniqueness,
             round(CAST(uq AS DOUBLE) * CAST(count(*) OVER (PARTITION BY k) AS DOUBLE)
                   / CAST(sum(uq) OVER (PARTITION BY k) AS DOUBLE), 6) AS weight
      FROM q ORDER BY event_type, event_id"""))

  // Sequential bootstrap (AFML ch. 4 §4.5.2) over the q_avg_uniqueness
  // span convention: 4 draws per event type WITH replacement, each step
  // weighting candidates by their average uniqueness GIVEN the spans
  // already drawn, the winner elected by the deterministic portable-
  // hash Gumbel rule (A-ES k=1). The oracle unrolls the 4-stage
  // recursion as CTEs (the kmeans-round pattern): per stage, per-tick
  // drawn-concurrency via an interval join, the exact quantized ū
  // image, the md5-hash ln(u) key, and the per-series argmax.
  private val seqBootDraws = 4
  private val qSeqBootstrap = QDef(
    "q_seq_bootstrap",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), micros(col("ts")).as("ts_us"), col("event_id"))
      val spans = ev
        .withColumn("t0_us", col("ts_us"))
        .withColumn("t1_us",
          col("ts_us") + (lit(1L) + pmod(col("event_id"), lit(6L))) * lit(3600000000L))
      operators.Labeling.sequentialBootstrap(ev, spans, Seq("event_type"),
          "ts_us", "event_id", "t0_us", "t1_us", nDraws = seqBootDraws)
        .orderBy("event_type", "draw")
    },
    Some({
      val stages = (1 to seqBootDraws).map { b =>
        val prev = s"d${b - 1}"
        s"""
      c$b AS (SELECT t.k, t.ts_us, t.m,
                     (SELECT count(*) FROM $prev d
                      WHERE d.k = t.k AND t.ts_us >= d.t0 AND t.ts_us <= d.t1) AS c
              FROM tkm t),
      u$b AS (SELECT s.k, s.id, s.t0, s.t1,
                     CAST(sum(t.m) AS BIGINT) AS n,
                     CAST(sum(t.m * CAST(round(1e9 / (1.0 + t.c)) AS BIGINT)) AS BIGINT) AS su
              FROM sp s JOIN c$b t ON t.k = s.k AND t.ts_us >= s.t0 AND t.ts_us <= s.t1
              GROUP BY 1, 2, 3, 4),
      k$b AS (SELECT k, id, t0, t1, n,
                     round(CAST(su AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6) AS uniq,
                     GREATEST(CAST(round(round(CAST(su AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6) * 1e6) AS BIGINT), 1) AS uq,
                     CAST(round(ln((CAST(CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':seqboot:$b'), 1, 12)) AS BIGINT) AS DOUBLE) + 1.0) / 281474976710656.0) * 1e6) AS BIGINT) AS lnu
              FROM u$b),
      w$b AS (SELECT k, id, t0, t1, n, uniq,
                     CAST(lnu AS DOUBLE) / CAST(uq AS DOUBLE) AS skey,
                     row_number() OVER (PARTITION BY k
                       ORDER BY CAST(lnu AS DOUBLE) / CAST(uq AS DOUBLE) DESC, id) AS rn
              FROM k$b),
      d$b AS (SELECT k, id, t0, t1 FROM $prev
              UNION ALL SELECT k, id, t0, t1 FROM w$b WHERE rn = 1)"""
      }.mkString(",")
      val outs = (1 to seqBootDraws).map { b =>
        s"""SELECT k AS event_type, CAST($b AS BIGINT) AS draw, id AS event_id,
               t0 AS t0_us, t1 AS t1_us, n AS n_ticks, uniq AS uniqueness,
               skey AS sample_key FROM w$b WHERE rn = 1"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH tkm AS (SELECT event_type AS k, epoch_us(ts) AS ts_us,
                          CAST(count(*) AS BIGINT) AS m
                   FROM events GROUP BY 1, 2),
      sp AS (SELECT event_type AS k, event_id AS id, epoch_us(ts) AS t0,
                    epoch_us(ts) + (1 + event_id % 6) * 3600000000 AS t1
             FROM events),
      d0 AS (SELECT k, id, t0, t1 FROM sp WHERE 1 = 0),$stages
      $outs
      ORDER BY event_type, draw"""
    }))

  // Bet sizing from predicted probabilities (AFML ch. 10): p from a
  // logistic of the 6-dp z-scored value, size = side·(2Φ(z)−1) with Φ
  // the A&S 7.1.26 erf tree (one data-dependent exp — the q_cs_spread
  // precedent), averaged across concurrently active bets on the
  // uniqueness-sweep shape and discretized at 0.05. The oracle replays
  // the whole chain: z-score, logistic, Φ, the ·10⁶ size image, the
  // interval-join active average, and the step grid.
  private val qBetSize = QDef(
    "q_bet_size",
    (s, dir) => {
      val wp = Window.partitionBy(col("event_type"))
      val z6 = round((col("value") - avg(col("value")).over(wp)) /
        nullif(stddev_samp(col("value")).over(wp), lit(0)), 6)
      val bets = t(s, dir, "events")
        .where(col("value").isNotNull)
        .withColumn("_z", z6)
        .where(col("_z").isNotNull)
        .select(col("event_type"),
          micros(col("ts")).as("t0_us"),
          (micros(col("ts")) +
            (lit(1L) + pmod(col("event_id"), lit(6L))) * lit(3600000000L)).as("t1_us"),
          least(greatest(round(lit(1.0) / (lit(1.0) + exp(-col("_z"))), 6),
            lit(1e-6)), lit(1.0 - 1e-6)).as("p"),
          when(col("event_id") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("side"))
      operators.Backtest.betSizing(bets, Seq("event_type"),
          "t0_us", "t1_us", "p", "side", stepSize = 0.05)
        .orderBy("event_type", "ts_us")
    },
    Some({
      val sqrt2 = java.lang.Double.toString(operators.Backtest.Sqrt2)
      s"""
      WITH e AS (SELECT event_type AS k, epoch_us(ts) AS ts_us, event_id, value
                 FROM events WHERE value IS NOT NULL),
      z AS (SELECT *, round((value - AVG(value) OVER wp)
                            / NULLIF(STDDEV_SAMP(value) OVER wp, 0), 6) AS zz
            FROM e WINDOW wp AS (PARTITION BY k)),
      pr AS (SELECT k, ts_us, event_id,
                    LEAST(GREATEST(round(1.0 / (1.0 + exp(-zz)), 6), 0.000001),
                          1.0 - 0.000001) AS p,
                    CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS side
             FROM z WHERE zz IS NOT NULL),
      zs AS (SELECT *, (p - 0.5) / sqrt(p * (1.0 - p)) AS zb FROM pr),
      ph AS (SELECT *, abs(zb) / $sqrt2 AS x,
                    1.0 / (1.0 + 0.3275911 * (abs(zb) / $sqrt2)) AS tt
             FROM zs),
      erf AS (SELECT *,
                     1.0 - (((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
                       - 0.284496736) * tt + 0.254829592) * tt)
                       * (CAST(CAST(round(exp(-(x * x)) * 1e9) AS BIGINT) AS DOUBLE) / 1e9) AS ef
              FROM ph),
      sz AS (SELECT k, ts_us AS t0,
                    ts_us + (1 + event_id % 6) * 3600000000 AS t1,
                    CAST(round(side * (2.0 * (0.5 * (1.0 +
                      (CASE WHEN zb > 0 THEN 1.0 WHEN zb < 0 THEN -1.0 ELSE 0.0 END) * ef)) - 1.0) * 1e6) AS BIGINT) AS szq
             FROM erf),
      grid AS (SELECT DISTINCT k, t0 AS ts_us FROM sz),
      act AS (SELECT g.k, g.ts_us,
                     CAST(count(*) AS BIGINT) AS n_active,
                     CAST(sum(b.szq) AS BIGINT) AS ssz
              FROM grid g JOIN sz b ON b.k = g.k
                                    AND g.ts_us >= b.t0 AND g.ts_us <= b.t1
              GROUP BY 1, 2),
      q AS (SELECT *, CAST(round(CAST(ssz AS DOUBLE) / CAST(n_active AS DOUBLE)) AS BIGINT) AS avgq
            FROM act)
      SELECT k AS event_type, ts_us, n_active,
             CAST(avgq AS DOUBLE) / 1e6 AS avg_size,
             round(CAST(avgq AS DOUBLE) / 50000.0) * 0.05 + 0.0 AS bet_size
      FROM q ORDER BY event_type, ts_us"""
    }))

  // Backward sup-ADF explosiveness per event type (PSY 2015 bounded-
  // window variant, window ladder {8, 16, 32}): Δv on lagged v, exact
  // integer regression sums per rung, sup of the β t-statistics. The
  // oracle replays every rung's sums, the one-tree t, the degenerate
  // null/sentinel cases and the shortest-window sup election in SQL.
  private val sadfWindows = Seq(8, 16, 32)
  private val qSadf = QDef(
    "q_sadf",
    (s, dir) => TA.sadf(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", windows = sadfWindows, quantScale = 100.0)
      .select(col("event_type"), micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("best_window"), col("sadf"))
      .orderBy("event_type", "ts_us", "event_id"),
    Some({
      val ws = sadfWindows.sorted
      val sums = ws.flatMap { n =>
        val fr = s"ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
        Seq(s"count(d) OVER (w $fr) AS n$n",
            s"sum(x) OVER (w $fr) AS sx$n",
            s"sum(d) OVER (w $fr) AS sd$n",
            s"sum(x * d) OVER (w $fr) AS sxd$n",
            s"sum(x * x) OVER (w $fr) AS sxx$n",
            s"sum(d * d) OVER (w $fr) AS sdd$n")
      }.mkString(",\n             ")
      val ts = ws.map { n =>
        val num = s"($n * sxd$n - sx$n * sd$n)"
        val den = s"($n * sxx$n - sx$n * sx$n)"
        val dd = s"($n * sdd$n - sd$n * sd$n)"
        val sseN = s"(CAST($dd AS DOUBLE) - CAST($num AS DOUBLE) * CAST($num AS DOUBLE) / CAST($den AS DOUBLE))"
        s"""CASE WHEN n$n <> $n OR $den = 0 THEN NULL
             WHEN $sseN > 0.0
               THEN round(CAST($num AS DOUBLE)
                          / sqrt($sseN * CAST($den AS DOUBLE) / ${(n - 2).toDouble}), 6)
             WHEN $num = 0 THEN 0.0
             WHEN $num > 0 THEN 1e9 ELSE -1e9 END AS t$n"""
      }.mkString(",\n             ")
      val best = ws.zipWithIndex.map { case (n, i) =>
        val beats = ws.drop(i + 1)
          .map(m => s"(t$m IS NULL OR t$n >= t$m)")
        (s"t$n IS NOT NULL" +: beats).mkString("WHEN ", " AND ", s" THEN $n")
      }.mkString("CASE ", "\n                  ", " END")
      val pick = ws.map(n => s"WHEN $n THEN t$n").mkString("CASE best_window ", " ", " END")
      s"""
      WITH e AS (SELECT event_type AS k, ts, event_id, CAST(value AS DOUBLE) AS v,
                        CAST(round(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS c
                 FROM events WHERE value IS NOT NULL),
      p AS (SELECT k, ts, event_id, v,
                   lag(c, 1) OVER w AS x,
                   c - lag(c, 1) OVER w AS d
            FROM e WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      s AS (SELECT k, ts, event_id, v,
             $sums
            FROM p WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      tt AS (SELECT *,
             $ts
             FROM s),
      b AS (SELECT *, $best AS best_window FROM tt)
      SELECT k AS event_type, epoch_us(ts) AS ts_us, event_id, v AS value,
             best_window, $pick AS sadf
      FROM b ORDER BY event_type, ts_us, event_id"""
    }))

  // CSCV probability of backtest overfitting over the event-type
  // "strategies" (log-return streams, 8 time blocks → C(8,4) = 70
  // IS/OOS combinations): elect the best in-sample mean, rank it
  // out-of-sample, logit the relative rank. Everything up to the logit
  // is exact integer arithmetic (nano-unit return sums, 6-dp-quantized
  // means, count-based ranks); the combination enumeration interpolates
  // from the same public cscvCombos both engines share.
  private val qPbo = QDef(
    "q_pbo",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("r", log(col("value") / lag(col("value"), 1).over(w)))
      operators.Backtest.cscvPbo(base, "event_type", "ts", "r", blocks = 8)
    },
    Some({
      val combos = operators.Backtest.cscvCombos(8)
        .map { case (c, b, f) => s"($c, $b, $f)" }.mkString(", ")
      s"""
      WITH raw AS (SELECT event_type AS strategy, ts, event_id, value
                   FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT strategy, ts,
                    ln(value / lag(value) OVER (PARTITION BY strategy
                                                ORDER BY ts, event_id)) AS r
             FROM raw),
      r AS (SELECT strategy, epoch_us(ts) AS ts_us,
                   CAST(round(r * 1e9) AS BIGINT) AS rfp
            FROM r0 WHERE r IS NOT NULL),
      bd AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM r),
      blk AS (SELECT strategy,
                     least(7, (ts_us - bd.lo) // ((bd.hi - bd.lo + 1) // 8)) AS block,
                     rfp
              FROM r, bd),
      pb AS (SELECT strategy, block, CAST(sum(rfp) AS BIGINT) AS s, count(*) AS n
             FROM blk GROUP BY 1, 2),
      cmb(combo_id, block, in_sample) AS (VALUES $combos),
      pc AS (SELECT combo_id, strategy,
                    CAST(sum(CASE WHEN in_sample = 1 THEN s END) AS BIGINT) AS is_s,
                    CAST(sum(CASE WHEN in_sample = 1 THEN n END) AS BIGINT) AS is_n,
                    CAST(sum(CASE WHEN in_sample = 0 THEN s END) AS BIGINT) AS oos_s,
                    CAST(sum(CASE WHEN in_sample = 0 THEN n END) AS BIGINT) AS oos_n
             FROM pb JOIN cmb USING (block) GROUP BY 1, 2),
      v AS (SELECT *,
                   CAST(round(CAST(is_s AS DOUBLE) / 1e9 / CAST(is_n AS DOUBLE) * 1e6) AS BIGINT) AS isq,
                   CAST(round(CAST(oos_s AS DOUBLE) / 1e9 / CAST(oos_n AS DOUBLE) * 1e6) AS BIGINT) AS oosq
            FROM pc WHERE is_n IS NOT NULL AND oos_n IS NOT NULL),
      el AS (SELECT *,
                    row_number() OVER (PARTITION BY combo_id
                                       ORDER BY isq DESC, strategy ASC) AS rn,
                    count(*) OVER (PARTITION BY combo_id) AS nv
             FROM v),
      bq AS (SELECT *, max(CASE WHEN rn = 1 THEN oosq END)
                         OVER (PARTITION BY combo_id) AS best_oosq
             FROM el),
      rk AS (SELECT *, CAST(sum(CASE WHEN oosq <= best_oosq THEN 1 ELSE 0 END)
                              OVER (PARTITION BY combo_id) AS BIGINT) AS rank_
             FROM bq),
      f AS (SELECT CAST(combo_id AS BIGINT) AS combo_id,
                   CAST(nv AS BIGINT) AS n_strategies,
                   strategy AS best_strategy,
                   round(CAST(is_s AS DOUBLE) / 1e9 / CAST(is_n AS DOUBLE), 6) AS is_mean,
                   round(CAST(oos_s AS DOUBLE) / 1e9 / CAST(oos_n AS DOUBLE), 6) AS oos_mean,
                   rank_ AS oos_rank,
                   round(CAST(rank_ AS DOUBLE) / (CAST(nv AS DOUBLE) + 1.0), 6) AS omega,
                   round(ln((CAST(rank_ AS DOUBLE) / (CAST(nv AS DOUBLE) + 1.0))
                            / (1.0 - CAST(rank_ AS DOUBLE) / (CAST(nv AS DOUBLE) + 1.0))), 6) AS lambda,
                   CAST(CASE WHEN 2 * rank_ <= nv + 1 THEN 1 ELSE 0 END AS BIGINT) AS overfit
            FROM rk WHERE rn = 1)
      SELECT *, round(CAST(sum(overfit) OVER () AS DOUBLE)
                        / CAST(count(*) OVER () AS DOUBLE), 6) AS pbo
      FROM f ORDER BY combo_id"""
    }))

  // Vectorized signal backtest per event type: a momentum rule
  // (sig = sign of the last change) traded next-tick with 10 bps linear
  // costs — positions, net PnL, equity curve, Sharpe (hourly
  // annualization), max drawdown, turnover. Every window rides one
  // (type, ts, event_id) sort; pnl and pnl² quantize independently to
  // nano-unit BIGINTs so the curve/drawdown/moments are exact; the cost
  // coefficient and √annualization interpolate from the JVM.
  private val qBacktest = QDef(
    "q_backtest",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("sig", signum(col("value") - lag(col("value"), 1).over(w)))
      operators.Backtest.signalBacktest(base, Seq("event_type"), "ts",
        "value", "sig", "event_id", costBps = 10.0, annualization = 8760.0)
    },
    Some(s"""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p
                 FROM events WHERE value IS NOT NULL AND value > 0),
      s AS (SELECT k, ts, event_id, p,
                   COALESCE(CAST(sign(p - lag(p) OVER w) AS DOUBLE), 0.0) AS sig
            FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      a AS (SELECT k, ts, event_id,
                   COALESCE(lag(sig, 1) OVER w, 0.0) AS pos,
                   COALESCE(lag(sig, 2) OVER w, 0.0) AS prevpos,
                   ln(p / lag(p) OVER w) AS r
            FROM s WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      t1 AS (SELECT k, ts, event_id, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a WHERE r IS NOT NULL),
      t2 AS (SELECT k, ts, event_id, dpos_fp,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM t1),
      t3 AS (SELECT k, ts, event_id, dpos_fp,
                    CAST(round(pnl * 1e9) AS BIGINT) AS pnl_fp,
                    CAST(round(pnl * pnl * 1e9) AS BIGINT) AS sq_fp,
                    CAST(round(LEAST(pnl, 0.0) * LEAST(pnl, 0.0) * 1e9)
                      AS BIGINT) AS dn_fp
             FROM t2),
      e AS (SELECT k, ts, event_id, dpos_fp, pnl_fp, sq_fp, dn_fp,
                   SUM(pnl_fp) OVER (PARTITION BY k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eq_fp
            FROM t3),
      d AS (SELECT k, dpos_fp, pnl_fp, sq_fp, dn_fp,
                   GREATEST(MAX(eq_fp) OVER (PARTITION BY k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                     - eq_fp AS dd_fp
            FROM e),
      g AS (SELECT k, COUNT(*) AS n_rets,
                   CAST(SUM(CASE WHEN dpos_fp <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
                   CAST(SUM(pnl_fp) AS BIGINT) AS s1,
                   CAST(SUM(sq_fp) AS BIGINT) AS s2,
                   CAST(SUM(dn_fp) AS BIGINT) AS sdn,
                   CAST(MAX(dd_fp) AS BIGINT) AS mdd,
                   CAST(SUM(dpos_fp) AS BIGINT) AS tov
            FROM d GROUP BY 1)
      SELECT k AS event_type, n_rets, n_trades,
             round(CAST(s1 AS DOUBLE) / 1e9, 6) AS total_ret,
             CASE WHEN (CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             / sqrt(CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)
                                    - (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                                      * (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)))
                             * ${math.sqrt(8760.0)}, 6) END AS sharpe,
             CASE WHEN (CAST(sdn AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             / sqrt(CAST(sdn AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             * ${math.sqrt(8760.0)}, 6) END AS sortino,
             round(CAST(mdd AS DOUBLE) / 1e9, 6) AS max_drawdown,
             CASE WHEN mdd > 0
                  THEN round(CAST(s1 AS DOUBLE) / 1e9
                             * (8760.0 / CAST(n_rets AS DOUBLE))
                             / (CAST(mdd AS DOUBLE) / 1e9), 6) END AS calmar,
             round(CAST(tov AS DOUBLE) / 1e6, 6) AS turnover
      FROM g ORDER BY event_type"""))

  // Probabilistic Sharpe z of the q_backtest momentum rule — the BLdP
  // 2014 skew/kurtosis/sample-size correction; pnl¹·²·³·⁴ quantize
  // independently at 10⁹ (the realizedMoments pattern), the whole
  // moment → γ → z tree replayed in SQL.
  private val qPsr = QDef(
    "q_psr",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("sig", signum(col("value") - lag(col("value"), 1).over(w)))
      operators.Backtest.probabilisticSharpe(base, Seq("event_type"), "ts",
        "value", "sig", "event_id", costBps = 10.0)
    },
    Some(s"""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p
                 FROM events WHERE value IS NOT NULL AND value > 0),
      s AS (SELECT k, ts, event_id, p,
                   COALESCE(CAST(sign(p - lag(p) OVER w) AS DOUBLE), 0.0) AS sig
            FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      a AS (SELECT k, ts, event_id,
                   COALESCE(lag(sig, 1) OVER w, 0.0) AS pos,
                   COALESCE(lag(sig, 2) OVER w, 0.0) AS prevpos,
                   ln(p / lag(p) OVER w) AS r
            FROM s WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      t1 AS (SELECT k, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a WHERE r IS NOT NULL),
      t2 AS (SELECT k,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM t1),
      t3 AS (SELECT k,
                    CAST(round(pnl * 1e9) AS BIGINT) AS f1,
                    CAST(round(pnl * pnl * 1e9) AS BIGINT) AS f2,
                    CAST(round(pnl * pnl * pnl * 1e9) AS BIGINT) AS f3,
                    CAST(round(pnl * pnl * pnl * pnl * 1e9) AS BIGINT) AS f4
             FROM t2),
      g AS (SELECT k, COUNT(*) AS n_rets,
                   CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
                   CAST(SUM(f3) AS BIGINT) AS s3, CAST(SUM(f4) AS BIGINT) AS s4
            FROM t3 GROUP BY 1),
      m AS (SELECT k, n_rets,
                   CAST(n_rets AS DOUBLE) AS n,
                   CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m2,
                   CAST(s3 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m3,
                   CAST(s4 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m4
            FROM g),
      d AS (SELECT k, n_rets, n, m1,
                   m2 - m1 * m1 AS v,
                   m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1 AS mu3,
                   m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
                     - 3.0 * m1 * m1 * m1 * m1 AS mu4
            FROM m),
      e AS (SELECT k, n_rets, n, v, mu3, mu4,
                   m1 / sqrt(v) AS sr,
                   mu3 / (v * sqrt(v)) AS g3,
                   mu4 / (v * v) AS g4
            FROM d),
      f AS (SELECT k, n_rets, n, v, sr, g3, g4,
                   1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr AS denom
            FROM e)
      SELECT k AS event_type, n_rets,
             CASE WHEN v > 0 THEN round(sr, 6) END AS sr,
             CASE WHEN v > 0 THEN round(g3, 6) END AS skew,
             CASE WHEN v > 0 THEN round(g4, 6) END AS kurt,
             CASE WHEN v > 0 AND denom > 0 AND n_rets > 1 THEN
               round((sr - 0.0) * sqrt(n - 1.0) / sqrt(denom), 6)
             END AS psr_z
      FROM f ORDER BY event_type"""))

  // Walk-forward evaluation (López de Prado AFML ch. 7): purgedTimeSplit
  // carves the tick history into k=4 time folds with a 2h purge horizon
  // and 1h embargo; per (fold, series) the TRAIN rows fit one parameter
  // — side = sign of the exact nano-unit train log-return sum (trend
  // follower when the train window drifted up, contrarian when down) —
  // and the purged TEST fold trades side·sign(Δp) next-tick through
  // signalBacktest with 10 bps costs. The composition the round-8
  // verdict asked for: split → fit → signal → per-fold scorecard, every
  // stage replayed relationally in the oracle. Scale shape: the split
  // is a 2-value agg + broadcast fold frame, the fit one map-side-
  // combined agg, the backtest one (fold, series)-keyed sort — the
  // corpus shuffles once for the fit and once for the backtest.
  private val qWalkForward = QDef(
    "q_walk_forward",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("chg", signum(col("value") - lag(col("value"), 1).over(w)))
        .withColumn("r_full", log(col("value") / lag(col("value"), 1).over(w)))
      val split = Relational.purgedTimeSplit(base, "event_id", "ts", k = 4,
        horizonUs = 7200000000L, embargoUs = 3600000000L)
        .select(col("event_id").as("_sid"), col("fold"), col("role"))
      val tagged = base.join(split, col("event_id") === col("_sid")).drop("_sid")
      val fit = tagged.where(col("role") === "train")
        .groupBy(col("fold").as("_f_fold"), col("event_type").as("_f_et"))
        .agg(signum(coalesce(sum(round(col("r_full") * 1e9).cast("long")),
          lit(0L))).cast("long").as("side"))
      val test = tagged.where(col("role") === "test")
        .join(fit, col("fold") === col("_f_fold") &&
          col("event_type") === col("_f_et"))
        .withColumn("sig", col("side").cast("double") * col("chg"))
      operators.Backtest.signalBacktest(test,
          Seq("fold", "event_type", "side"), "ts", "value", "sig",
          "event_id", costBps = 10.0, annualization = 8760.0)
        .orderBy("fold", "event_type")
    },
    Some(s"""
      WITH b AS MATERIALIZED (
        SELECT event_type AS k, ts, event_id, CAST(value AS DOUBLE) AS p,
               epoch_us(ts) AS tu
        FROM events WHERE value IS NOT NULL AND value > 0),
      s0 AS MATERIALIZED (
        SELECT k, ts, event_id, tu, p,
               CAST(sign(p - lag(p) OVER w) AS DOUBLE) AS chg,
               ln(p / lag(p) OVER w) AS r_full
        FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      bounds AS (SELECT MIN(tu) AS lo, MAX(tu) AS hi FROM b),
      folds AS MATERIALIZED (
        SELECT CAST(f AS BIGINT) AS fold,
               lo + f * ((hi - lo + 1) // 4) AS f_lo,
               CASE WHEN f = 3 THEN hi + 1
                    ELSE lo + (f + 1) * ((hi - lo + 1) // 4) END AS f_hi
        FROM bounds, (SELECT unnest(range(4)) AS f)),
      tagged AS MATERIALIZED (
        SELECT s0.*, folds.fold,
               CASE WHEN tu >= f_lo AND tu < f_hi THEN 'test'
                    WHEN tu < f_lo AND tu + 7200000000 >= f_lo THEN 'purged'
                    WHEN tu >= f_hi AND tu < f_hi + 3600000000 THEN 'embargo'
                    ELSE 'train' END AS role
        FROM s0 CROSS JOIN folds),
      fit AS MATERIALIZED (
        SELECT fold, k,
               CAST(sign(COALESCE(CAST(SUM(CAST(round(r_full * 1e9) AS BIGINT))
                 AS BIGINT), 0)) AS BIGINT) AS side
        FROM tagged WHERE role = 'train' GROUP BY 1, 2),
      test AS (
        SELECT t.fold, t.k, f.side, t.ts, t.event_id, t.p,
               CAST(f.side AS DOUBLE) * t.chg AS sig0
        FROM tagged t JOIN fit f ON t.fold = f.fold AND t.k = f.k
        WHERE t.role = 'test'),
      a AS (SELECT fold, k, side, ts, event_id,
                   COALESCE(lag(COALESCE(sig0, 0.0), 1) OVER w, 0.0) AS pos,
                   COALESCE(lag(COALESCE(sig0, 0.0), 2) OVER w, 0.0) AS prevpos,
                   ln(p / lag(p) OVER w) AS r
            FROM test
            WINDOW w AS (PARTITION BY fold, k ORDER BY ts, event_id)),
      t1 AS (SELECT fold, k, side, ts, event_id, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a WHERE r IS NOT NULL),
      t2 AS (SELECT fold, k, side, ts, event_id, dpos_fp,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM t1),
      t3 AS (SELECT fold, k, side, ts, event_id, dpos_fp,
                    CAST(round(pnl * 1e9) AS BIGINT) AS pnl_fp,
                    CAST(round(pnl * pnl * 1e9) AS BIGINT) AS sq_fp,
                    CAST(round(LEAST(pnl, 0.0) * LEAST(pnl, 0.0) * 1e9)
                      AS BIGINT) AS dn_fp
             FROM t2),
      e AS (SELECT fold, k, side, ts, event_id, dpos_fp, pnl_fp, sq_fp, dn_fp,
                   SUM(pnl_fp) OVER (PARTITION BY fold, k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eq_fp
            FROM t3),
      d AS (SELECT fold, k, side, dpos_fp, pnl_fp, sq_fp, dn_fp,
                   GREATEST(MAX(eq_fp) OVER (PARTITION BY fold, k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                     - eq_fp AS dd_fp
            FROM e),
      g AS (SELECT fold, k, side, COUNT(*) AS n_rets,
                   CAST(SUM(CASE WHEN dpos_fp <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
                   CAST(SUM(pnl_fp) AS BIGINT) AS s1,
                   CAST(SUM(sq_fp) AS BIGINT) AS s2,
                   CAST(SUM(dn_fp) AS BIGINT) AS sdn,
                   CAST(MAX(dd_fp) AS BIGINT) AS mdd,
                   CAST(SUM(dpos_fp) AS BIGINT) AS tov
            FROM d GROUP BY 1, 2, 3)
      SELECT fold, k AS event_type, side, n_rets, n_trades,
             round(CAST(s1 AS DOUBLE) / 1e9, 6) AS total_ret,
             CASE WHEN (CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             / sqrt(CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)
                                    - (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                                      * (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)))
                             * ${math.sqrt(8760.0)}, 6) END AS sharpe,
             CASE WHEN (CAST(sdn AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             / sqrt(CAST(sdn AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             * ${math.sqrt(8760.0)}, 6) END AS sortino,
             round(CAST(mdd AS DOUBLE) / 1e9, 6) AS max_drawdown,
             CASE WHEN mdd > 0
                  THEN round(CAST(s1 AS DOUBLE) / 1e9
                             * (8760.0 / CAST(n_rets AS DOUBLE))
                             / (CAST(mdd AS DOUBLE) / 1e9), 6) END AS calmar,
             round(CAST(tov AS DOUBLE) / 1e6, 6) AS turnover
      FROM g ORDER BY fold, event_type"""))

  // CPCV backtest paths (AFML ch. 12): the q_walk_forward fit applied
  // per SPLIT (sign of the exact train log-return sum under each
  // split's purge/embargo), test predictions stitched into the φ = 3
  // paths (each group's j-th test occurrence → path j), and one
  // momentum scorecard per (path, series) — the distribution of
  // performance across paths that a single walk-forward cannot give.
  private val qCpcvPaths = QDef(
    "q_cpcv_paths",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("chg", signum(col("value") - lag(col("value"), 1).over(w)))
        .withColumn("r_full", log(col("value") / lag(col("value"), 1).over(w)))
      // fused role tagging (r13): the split's group bounds are driver
      // constants, so cpcvTagged stamps (split_id, role, path) with a
      // codegen explode instead of the crossJoin+groupBy+id-join that
      // re-shuffled the corpus twice — row-identical by construction
      // the repartition spreads the ×6 fan-out beyond the |series|
      // window partitions AND is the shared exchange all consumers
      // reuse (ReuseExchange), so the tag lineage computes once
      val tagged = Relational.cpcvTagged(base, "ts", k = 4,
        pTest = 2, horizonUs = 12L * 3600 * 1000000,
        embargoUs = 6L * 3600 * 1000000)
        .repartition(col("split_id"), col("event_type"))
      val fit = tagged.where(col("role") === "train")
        .groupBy(col("split_id").as("_f_s"), col("event_type").as("_f_et"))
        .agg(signum(coalesce(sum(round(col("r_full") * 1e9).cast("long")),
          lit(0L))).cast("long").as("side"))
      val test = tagged.where(col("role") === "test")
        .join(broadcast(fit), col("split_id") === col("_f_s") &&
          col("event_type") === col("_f_et"))
        .withColumn("sig", col("side").cast("double") * col("chg"))
      operators.Backtest.signalBacktest(test, Seq("path", "event_type"),
          "ts", "value", "sig", "event_id", costBps = 10.0,
          annualization = 8760.0)
        .orderBy("path", "event_type")
    },
    Some {
      val combos = Relational.cpcvCombos(4, 2)
        .map { case (s0, g, p) => s"($s0, $g, $p)" }.mkString(", ")
      s"""
      WITH b AS MATERIALIZED (
        SELECT event_type AS k, ts, event_id, CAST(value AS DOUBLE) AS p,
               epoch_us(ts) AS tu
        FROM events WHERE value IS NOT NULL AND value > 0),
      s0 AS MATERIALIZED (
        SELECT k, ts, event_id, tu, p,
               CAST(sign(p - lag(p) OVER w) AS DOUBLE) AS chg,
               ln(p / lag(p) OVER w) AS r_full
        FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      bb AS (SELECT min(tu) AS lo, max(tu) AS hi,
                    (max(tu) - min(tu) + 1) // 4 AS step
             FROM b),
      sg AS MATERIALIZED (
        SELECT c.split_id, c.g, c.path,
               bb.lo + c.g * bb.step AS g_lo,
               CASE WHEN c.g = 3 THEN bb.hi + 1
                    ELSE bb.lo + (c.g + 1) * bb.step END AS g_hi
        FROM (VALUES $combos) c(split_id, g, path) CROSS JOIN bb),
      r AS MATERIALIZED (
        SELECT s0.*, LEAST(3, (s0.tu - bb.lo) // bb.step) AS fold
        FROM s0 CROSS JOIN bb),
      j AS MATERIALIZED (
        SELECT r.k, r.ts, r.event_id, r.tu, r.p, r.chg, r.r_full, r.fold,
               sg.split_id,
               MAX(CASE WHEN r.fold = sg.g THEN sg.path END) AS path,
               MAX(CASE WHEN r.fold = sg.g THEN 1 ELSE 0 END) AS t,
               MAX(CASE WHEN r.tu < sg.g_lo
                         AND r.tu + 43200000000 >= sg.g_lo
                        THEN 1 ELSE 0 END) AS pu,
               MAX(CASE WHEN r.tu >= sg.g_hi
                         AND r.tu < sg.g_hi + 21600000000
                        THEN 1 ELSE 0 END) AS em
        FROM r CROSS JOIN sg
        GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
      fit AS MATERIALIZED (
        SELECT split_id, k,
               CAST(sign(COALESCE(CAST(SUM(CAST(round(r_full * 1e9) AS BIGINT))
                 AS BIGINT), 0)) AS BIGINT) AS side
        FROM j WHERE t = 0 AND pu = 0 AND em = 0 GROUP BY 1, 2),
      test AS (
        SELECT j.path, j.k, f.side, j.ts, j.event_id, j.p,
               CAST(f.side AS DOUBLE) * j.chg AS sig0
        FROM j JOIN fit f ON j.split_id = f.split_id AND j.k = f.k
        WHERE j.t = 1),
      a AS (SELECT path, k, ts, event_id,
                   COALESCE(lag(COALESCE(sig0, 0.0), 1) OVER w, 0.0) AS pos,
                   COALESCE(lag(COALESCE(sig0, 0.0), 2) OVER w, 0.0) AS prevpos,
                   ln(p / lag(p) OVER w) AS r
            FROM test
            WINDOW w AS (PARTITION BY path, k ORDER BY ts, event_id)),
      t1 AS (SELECT path, k, ts, event_id, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a WHERE r IS NOT NULL),
      t2 AS (SELECT path, k, ts, event_id, dpos_fp,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM t1),
      t3 AS (SELECT path, k, ts, event_id, dpos_fp,
                    CAST(round(pnl * 1e9) AS BIGINT) AS pnl_fp,
                    CAST(round(pnl * pnl * 1e9) AS BIGINT) AS sq_fp,
                    CAST(round(LEAST(pnl, 0.0) * LEAST(pnl, 0.0) * 1e9)
                      AS BIGINT) AS dn_fp
             FROM t2),
      e AS (SELECT path, k, ts, event_id, dpos_fp, pnl_fp, sq_fp, dn_fp,
                   SUM(pnl_fp) OVER (PARTITION BY path, k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eq_fp
            FROM t3),
      d AS (SELECT path, k, dpos_fp, pnl_fp, sq_fp, dn_fp,
                   GREATEST(MAX(eq_fp) OVER (PARTITION BY path, k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                     - eq_fp AS dd_fp
            FROM e),
      g AS (SELECT path, k, COUNT(*) AS n_rets,
                   CAST(SUM(CASE WHEN dpos_fp <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_trades,
                   CAST(SUM(pnl_fp) AS BIGINT) AS s1,
                   CAST(SUM(sq_fp) AS BIGINT) AS s2,
                   CAST(SUM(dn_fp) AS BIGINT) AS sdn,
                   CAST(MAX(dd_fp) AS BIGINT) AS mdd,
                   CAST(SUM(dpos_fp) AS BIGINT) AS tov
            FROM d GROUP BY 1, 2)
      SELECT CAST(path AS BIGINT) AS path, k AS event_type, n_rets, n_trades,
             round(CAST(s1 AS DOUBLE) / 1e9, 6) AS total_ret,
             CASE WHEN (CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             / sqrt(CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)
                                    - (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                                      * (CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)))
                             * ${math.sqrt(8760.0)}, 6) END AS sharpe,
             CASE WHEN (CAST(sdn AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE)) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             / sqrt(CAST(sdn AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE))
                             * ${math.sqrt(8760.0)}, 6) END AS sortino,
             round(CAST(mdd AS DOUBLE) / 1e9, 6) AS max_drawdown,
             CASE WHEN mdd > 0
                  THEN round(CAST(s1 AS DOUBLE) / 1e9
                             * (8760.0 / CAST(n_rets AS DOUBLE))
                             / (CAST(mdd AS DOUBLE) / 1e9), 6) END AS calmar,
             round(CAST(tov AS DOUBLE) / 1e6, 6) AS turnover
      FROM g ORDER BY path, event_type"""
    })

  // Diversification ratio + effective number of bets of the
  // inverse-variance portfolio on the LW-CC shrunk covariance — the
  // diagnostic the allocators are judged by (DR = Σwσ/√(w'Σw),
  // ENB = DR²); every stage incl. the shrinkage replayed via the shared
  // LW-CC CTE chain.
  private val qPortfolioEnb = QDef(
    "q_portfolio_enb",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val cov = Relational.ledoitWolfConstCorr(hourly, "event_type",
        "bucket", "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      val vd = cov.where(col("key_a") === col("key_b"))
        .select(col("key_a").as("key"), col("shrunk_cov").cast("double").as("v"))
        .where(col("v") > 0)
        .withColumn("qinv", round(lit(1e9) / col("v")).cast("long"))
      val qs = vd.agg(sum(col("qinv")).as("wsum"))
      val wts = vd.crossJoin(broadcast(qs))
        .select(col("key"),
          round(col("qinv").cast("double") / col("wsum").cast("double"), 6)
            .as("weight"))
      operators.Backtest.diversificationRatio(cov, wts)
    },
    Some(s"""
      WITH $lwCcCteSql,
      pairs AS MATERIALIZED (
        SELECT key_a, key_b,
               round((1.0 - (SELECT delta FROM dl)) * sab + (SELECT delta FROM dl) *
                     (CASE WHEN key_a = key_b THEN sa
                           WHEN sa > 0 AND sb > 0 THEN rbar * sqrt(sa * sb)
                           ELSE 0.0 END), 6) AS c
        FROM q2),
      vd AS (SELECT key_a AS k, c AS v FROM pairs WHERE key_a = key_b),
      qv AS (SELECT k, CAST(round(1e9 / v) AS BIGINT) AS qinv
             FROM vd WHERE v > 0),
      qs AS (SELECT CAST(SUM(qinv) AS BIGINT) AS wsum FROM qv),
      wts AS (SELECT k, round(CAST(qinv AS DOUBLE)
                              / CAST((SELECT wsum FROM qs) AS DOUBLE), 6) AS w
              FROM qv),
      terms AS (SELECT p.key_a, p.key_b, p.c, a.w AS wa, b.w AS wb
                FROM pairs p JOIN wts a ON p.key_a = a.k
                             JOIN wts b ON p.key_b = b.k),
      agg AS (SELECT COUNT(CASE WHEN key_a = key_b THEN 1 END) AS n_assets,
                     CAST(SUM(CASE WHEN key_a = key_b
                       THEN CAST(round(wa * sqrt(c) * 1e9) AS BIGINT) END)
                       AS BIGINT) AS numq,
                     CAST(SUM(CAST(round((CASE WHEN key_a = key_b THEN 1.0
                                          ELSE 2.0 END) * wa * wb * c * 1e9)
                       AS BIGINT)) AS BIGINT) AS pvq
              FROM terms)
      SELECT n_assets,
             CASE WHEN pvq > 0 THEN round((CAST(numq AS DOUBLE) / 1e9)
               / sqrt(CAST(pvq AS DOUBLE) / 1e9), 6) END AS div_ratio,
             CASE WHEN pvq > 0 THEN round(((CAST(numq AS DOUBLE) / 1e9)
               / sqrt(CAST(pvq AS DOUBLE) / 1e9))
               * ((CAST(numq AS DOUBLE) / 1e9)
               / sqrt(CAST(pvq AS DOUBLE) / 1e9)), 6) END AS enb
      FROM agg"""))

  // Deflated Sharpe ratio (BLdP 2014) — the multiple-testing capstone
  // over q_psr: four quarter-of-span trial slices per type estimate the
  // luck benchmark SR₀ = √V[SR_trials]·((1−γ)Φ⁻¹(1−1/N)+γΦ⁻¹(1−1/Ne)),
  // and the full-sample PSR z runs against SR₀ instead of zero. The
  // Φ⁻¹/γ coefficient interpolates from the JVM (Backtest.invNorm,
  // Acklam's approximation — erf⁻¹ is in neither engine's determinism
  // kit); trial SRs are 6-dp values whose ·10⁶ integers carry the
  // cross-trial variance exactly.
  private val qDeflatedSharpe = QDef(
    "q_deflated_sharpe",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("sig", signum(col("value") - lag(col("value"), 1).over(w)))
        .withColumn("tu", micros(col("ts")))
      val bounds = base.agg(min("tu").as("lo"), max("tu").as("hi"))
      val trialed = base.crossJoin(broadcast(bounds))
        .withColumn("trial",
          least(lit(3L), expr("(tu - lo) div ((hi - lo + 1) div 4)")))
        .drop("lo", "hi")
      operators.Backtest.deflatedSharpe(trialed, Seq("event_type"), "ts",
        "value", "sig", "event_id", "trial", expectedTrials = 4,
        costBps = 10.0)
    },
    Some(s"""
      WITH b AS MATERIALIZED (
        SELECT event_type AS k, ts, event_id, CAST(value AS DOUBLE) AS p,
               epoch_us(ts) AS tu
        FROM events WHERE value IS NOT NULL AND value > 0),
      s AS MATERIALIZED (
        SELECT k, ts, event_id, tu, p,
               COALESCE(CAST(sign(p - lag(p) OVER w) AS DOUBLE), 0.0) AS sig
        FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      bounds AS (SELECT MIN(tu) AS lo, MAX(tu) AS hi FROM b),
      tr AS MATERIALIZED (
        SELECT s.*, LEAST(3, (tu - lo) // ((hi - lo + 1) // 4)) AS trial
        FROM s CROSS JOIN bounds),
      a1 AS (SELECT k, trial, ts, event_id,
                    COALESCE(lag(sig, 1) OVER w, 0.0) AS pos,
                    COALESCE(lag(sig, 2) OVER w, 0.0) AS prevpos,
                    ln(p / lag(p) OVER w) AS r
             FROM tr WINDOW w AS (PARTITION BY k, trial ORDER BY ts, event_id)),
      t1 AS (SELECT k, trial, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a1 WHERE r IS NOT NULL),
      t2 AS (SELECT k, trial,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM t1),
      t3 AS (SELECT k, trial, CAST(round(pnl * 1e9) AS BIGINT) AS f1,
                    CAST(round(pnl * pnl * 1e9) AS BIGINT) AS f2
             FROM t2),
      tg AS (SELECT k, trial, COUNT(*) AS tn,
                    CAST(SUM(f1) AS BIGINT) AS t1s,
                    CAST(SUM(f2) AS BIGINT) AS t2s
             FROM t3 GROUP BY 1, 2),
      srt AS (SELECT k, trial,
                     CASE WHEN (CAST(t2s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE)
                                - (CAST(t1s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE))
                                  * (CAST(t1s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE))) > 0
                          THEN round((CAST(t1s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE))
                                     / sqrt(CAST(t2s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE)
                                            - (CAST(t1s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE))
                                              * (CAST(t1s AS DOUBLE) / 1e9 / CAST(tn AS DOUBLE))), 6)
                     END AS sr_t
              FROM tg),
      dq AS (SELECT k, CAST(round(sr_t * 1e6) AS BIGINT) AS srq FROM srt),
      sg AS (SELECT k, COUNT(*) AS n_trials, COUNT(srq) AS nv,
                    CAST(SUM(srq) AS BIGINT) AS sq1,
                    CAST(SUM(srq * srq) AS BIGINT) AS sq
             FROM dq GROUP BY 1),
      s0 AS (SELECT k, n_trials,
                    CASE WHEN nv = n_trials THEN round(
                      (CAST(sq AS DOUBLE) / CAST(n_trials AS DOUBLE)
                       - (CAST(sq1 AS DOUBLE) / CAST(n_trials AS DOUBLE))
                         * (CAST(sq1 AS DOUBLE) / CAST(n_trials AS DOUBLE))) / 1e12, 6)
                    END AS var_sr_trials,
                    CASE WHEN nv = n_trials AND
                      (CAST(sq AS DOUBLE) / CAST(n_trials AS DOUBLE)
                       - (CAST(sq1 AS DOUBLE) / CAST(n_trials AS DOUBLE))
                         * (CAST(sq1 AS DOUBLE) / CAST(n_trials AS DOUBLE))) / 1e12 >= 0
                    THEN round(sqrt(
                      (CAST(sq AS DOUBLE) / CAST(n_trials AS DOUBLE)
                       - (CAST(sq1 AS DOUBLE) / CAST(n_trials AS DOUBLE))
                         * (CAST(sq1 AS DOUBLE) / CAST(n_trials AS DOUBLE))) / 1e12)
                      * ${operators.Backtest.dsrExpectedMaxCoeff(4)}, 6)
                    END AS sr0
             FROM sg),
      a2 AS (SELECT k, ts, event_id,
                    COALESCE(lag(sig, 1) OVER w, 0.0) AS pos,
                    COALESCE(lag(sig, 2) OVER w, 0.0) AS prevpos,
                    ln(p / lag(p) OVER w) AS r
             FROM s WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      u1 AS (SELECT k, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a2 WHERE r IS NOT NULL),
      u2 AS (SELECT k,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM u1),
      u3 AS (SELECT k,
                    CAST(round(pnl * 1e9) AS BIGINT) AS f1,
                    CAST(round(pnl * pnl * 1e9) AS BIGINT) AS f2,
                    CAST(round(pnl * pnl * pnl * 1e9) AS BIGINT) AS f3,
                    CAST(round(pnl * pnl * pnl * pnl * 1e9) AS BIGINT) AS f4
             FROM u2),
      g AS (SELECT k, COUNT(*) AS n_rets,
                   CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
                   CAST(SUM(f3) AS BIGINT) AS s3, CAST(SUM(f4) AS BIGINT) AS s4
            FROM u3 GROUP BY 1),
      m AS (SELECT k, n_rets, CAST(n_rets AS DOUBLE) AS n,
                   CAST(s1 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m2,
                   CAST(s3 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m3,
                   CAST(s4 AS DOUBLE) / 1e9 / CAST(n_rets AS DOUBLE) AS m4
            FROM g),
      d AS (SELECT k, n_rets, n, m1,
                   m2 - m1 * m1 AS v,
                   m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1 AS mu3,
                   m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
                     - 3.0 * m1 * m1 * m1 * m1 AS mu4
            FROM m),
      e AS (SELECT k, n_rets, n, v, mu3, mu4,
                   m1 / sqrt(v) AS sr,
                   mu3 / (v * sqrt(v)) AS g3,
                   mu4 / (v * v) AS g4
            FROM d),
      f AS (SELECT k, n_rets, n, v, sr, g3, g4,
                   1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr AS denom
            FROM e)
      SELECT f.k AS event_type, f.n_rets, s0.n_trials,
             CASE WHEN v > 0 THEN round(sr, 6) END AS sr,
             s0.var_sr_trials, s0.sr0,
             CASE WHEN v > 0 AND denom > 0 AND n_rets > 1
                   AND s0.sr0 IS NOT NULL THEN
               round((sr - s0.sr0) * sqrt(n - 1.0) / sqrt(denom), 6)
             END AS dsr_z
      FROM f JOIN s0 ON f.k = s0.k
      ORDER BY event_type"""))

  // Historical VaR + CVaR of the per-type tick log returns at α = 0.05:
  // exact interpolated quantile (Spark percentile ≡ DuckDB
  // quantile_cont), tail mean from an exact nano-unit integer sum.
  private val qVarCvar = QDef(
    "q_var_cvar",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val rets = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("r", log(col("value") / lag(col("value"), 1).over(w)))
        .where(col("r").isNotNull)
      operators.Backtest.varCvar(rets, Seq("event_type"), "r", alpha = 0.05)
    },
    Some("""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p
                 FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k,
                    ln(p / lag(p) OVER (PARTITION BY k ORDER BY ts, event_id)) AS r
             FROM b),
      r AS (SELECT k, r FROM r0 WHERE r IS NOT NULL),
      q AS (SELECT k, quantile_cont(r, 0.05) AS v, COUNT(*) AS n
            FROM r GROUP BY 1),
      t AS (SELECT r.k, q.n, q.v, CAST(round(r.r * 1e9) AS BIGINT) AS v_fp
            FROM r JOIN q ON r.k = q.k WHERE r.r <= q.v)
      SELECT k AS event_type, n, COUNT(*) AS n_tail,
             round(v, 6) AS var_alpha,
             round(CAST(CAST(SUM(v_fp) AS BIGINT) AS DOUBLE) / 1e9
                   / CAST(COUNT(*) AS DOUBLE), 6) AS cvar_alpha
      FROM t GROUP BY k, n, v
      ORDER BY k"""))

  // Global minimum-variance portfolio on the LW-CC shrunk covariance of
  // the hourly panel — the allocator the shrinkage estimators exist to
  // feed. HASH-CHECKED (VERDICT r11 #1): the engine runs the quantized,
  // diagonally preconditioned fixed-rounds conjugate gradient
  // (minVarianceCG — exact-integer matvecs/reductions, α/β as guarded
  // double ratios, 6-dp re-quantized state) and the oracle unrolls the
  // SAME rounds as MATERIALIZED CTEs, so both engines fold identically
  // regardless of convergence; the exact driver-side Gauss-Jordan stays
  // as the OpsSpec cross-check (agreement ≤ 1e−4 pinned; measured 1e−6
  // to 256 keys, BASELINE.md "Matrix-family key-count rehearsal").
  private val CgRounds = 6
  private val ErcRounds = 12
  private val ErcDamping = 0.8
  private val HrpMerges = 8
  private val HrpLevels = 4

  /** Shared `covp` CTE: the LW-CC shrunk covariance upper triangle as
    * ·10⁶ BIGINT images (requires `q2`/`dl`/`rb` from [[lwCcCteSql]]
    * in scope) — the q_pca_factor image, reused by the allocator
    * oracles so the shrinkage → quantization step cannot diverge. */
  private val covpCteSql = """covp AS MATERIALIZED (SELECT key_a AS a, key_b AS b,
                 CAST(round(round((1.0 - (SELECT delta FROM dl)) * sab + (SELECT delta FROM dl) *
                   (CASE WHEN key_a = key_b THEN sa
                         WHEN sa > 0 AND sb > 0 THEN rbar * sqrt(sa * sb)
                         ELSE 0.0 END), 6) * 1e6) AS BIGINT) AS covq
               FROM q2)"""

  private val qMinVariance = QDef(
    "q_min_variance",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val cov = Relational.ledoitWolfConstCorr(hourly, "event_type",
        "bucket", "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      operators.Backtest.minVarianceCG(cov, rounds = CgRounds)
    },
    Some(s"""
      WITH $lwCcCteSql,
      $covpCteSql,
      ${cgRoundsSql("covp", CgRounds)},
      xw AS MATERIALIZED (SELECT k,
               CAST(round(CAST(xq AS DOUBLE) * 1e3
                    / sqrt(CAST(dq AS DOUBLE) / 1e6)) AS BIGINT) AS xwq
             FROM cgp$CgRounds),
      sxw AS (SELECT CAST(SUM(xwq) AS BIGINT) AS sxw FROM xw)
      SELECT k AS key,
             round(CAST(xwq AS DOUBLE)
                   / CAST((SELECT sxw FROM sxw) AS DOUBLE), 6) + 0.0 AS weight,
             round(sqrt(CAST((SELECT dmin FROM dmn) AS DOUBLE) / 1e6) * 1e9
                   / CAST((SELECT sxw FROM sxw) AS DOUBLE), 6) + 0.0 AS port_variance
      FROM xw ORDER BY key"""))

  // Brinson (BHB 1986) single-level allocation attribution — WHY the
  // inverse-variance portfolio beat or trailed the equal-weight
  // benchmark, per event type: alloc_k = (wp_k − wb_k)·(r_k − r_B)
  // over the period's first→last hourly-mean return. Exact-integer
  // weight/return images; every effect one fixed tree.
  private val qBrinson = QDef(
    "q_brinson",
    (s, dir) => operators.Backtest.brinsonAttribution(
      t(s, dir, "events"), "event_type", "ts", "value", "hour"),
    Some("""
      WITH hm AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS p
                  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      hv AS (SELECT k, bucket, p, CAST(floor(p * 1e4) AS BIGINT) AS vq FROM hm),
      st AS (SELECT k, COUNT(*) AS n,
                    SUM(CAST(vq AS HUGEINT)) AS sv,
                    SUM(CAST(vq AS HUGEINT) * vq) AS svv,
                    arg_min(p, bucket) AS p0, arg_max(p, bucket) AS p1
             FROM hv GROUP BY k),
      uni AS (SELECT k, n,
                     CAST(round((p1 / p0 - 1.0) * 1e6) AS BIGINT) AS rq,
                     CAST(round((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                                 - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                          AS BIGINT) AS varq
              FROM st WHERE p0 > 0 AND p1 > 0),
      sc AS (SELECT MIN(varq) AS vminq, COUNT(*) AS kn FROM uni),
      w AS (SELECT k, n, rq,
                   CAST(round(1e6 * CAST((SELECT vminq FROM sc) AS DOUBLE)
                        / CAST(varq AS DOUBLE)) AS BIGINT) AS wpq,
                   CAST(round(1e6 / CAST((SELECT kn FROM sc) AS DOUBLE))
                        AS BIGINT) AS wbq
            FROM uni),
      sums AS (SELECT SUM(CAST(wpq AS HUGEINT)) AS swp,
                      SUM(CAST(wbq AS HUGEINT)) AS swb,
                      SUM(CAST(wbq AS HUGEINT) * rq) AS rbn FROM w)
      SELECT k AS key, n AS n_buckets,
             round(CAST(rq AS DOUBLE) / 1e6, 6) + 0.0 AS ret,
             round(CAST(wpq AS DOUBLE)
                   / CAST((SELECT swp FROM sums) AS DOUBLE), 6) + 0.0 AS w_port,
             round(CAST(wbq AS DOUBLE)
                   / CAST((SELECT swb FROM sums) AS DOUBLE), 6) + 0.0 AS w_bench,
             round((CAST(wpq AS DOUBLE) / CAST((SELECT swp FROM sums) AS DOUBLE)
                    - CAST(wbq AS DOUBLE) / CAST((SELECT swb FROM sums) AS DOUBLE))
                   * (CAST(rq AS DOUBLE) / 1e6
                      - CAST((SELECT rbn FROM sums) AS DOUBLE)
                        / (CAST((SELECT swb FROM sums) AS DOUBLE) * 1e6)), 6)
               + 0.0 AS alloc
      FROM w ORDER BY key"""))

  // Black–Litterman posterior allocation on the same LW-CC shrunk
  // covariance — the views-blending allocator completing the kit
  // beside q_min_variance / q_erc / q_hrp / q_portfolio_ivp. Views are
  // rank-deterministic (lexicographic key order): view 1 longs key 1
  // against key 2, view 2 is absolute on key 3, each targeting a 10%
  // uplift over its implied return. Engine: exact-integer prior
  // matvec, closed-form 2×2 posterior (driver scalars = fixed trees
  // over exact sums, the CG α/β doctrine), then the shared quantized
  // preconditioned-CG fold with the posterior-return rhs; oracle
  // replays every stage, reusing cgRoundsSql with the brq rhs.
  private val BlDelta = 2.5
  private val BlTau = 0.05
  private val BlUplift = 0.1
  private val qBlackLitterman = QDef(
    "q_black_litterman",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val cov = Relational.ledoitWolfConstCorr(hourly, "event_type",
        "bucket", "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      val ks = cov.where(col("key_a") === col("key_b"))
        .select(col("key_a").cast("string").as("k"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
      val views = ks.where(col("rn") === 1)
        .select(lit(1).as("view_id"), col("k").as("key"), lit(1000000L).as("pq"))
        .unionByName(ks.where(col("rn") === 2)
          .select(lit(1).as("view_id"), col("k").as("key"), lit(-1000000L).as("pq")))
        .unionByName(ks.where(col("rn") === 3)
          .select(lit(2).as("view_id"), col("k").as("key"), lit(1000000L).as("pq")))
      operators.Backtest.blackLitterman(cov, views, delta = BlDelta,
        tau = BlTau, uplift = BlUplift, rounds = CgRounds)
    },
    Some {
      val dS = java.lang.Double.toString(BlDelta)
      val tS = java.lang.Double.toString(BlTau)
      val uS = java.lang.Double.toString(BlUplift)
      s"""
      WITH $lwCcCteSql,
      $covpCteSql,
      blsym AS MATERIALIZED (SELECT a, b, covq FROM covp
              UNION ALL SELECT b AS a, a AS b, covq FROM covp WHERE a <> b),
      bdg AS MATERIALIZED (SELECT a AS k, covq AS dq FROM blsym WHERE a = b),
      bdm AS (SELECT MIN(dq) AS dmin FROM bdg),
      biv AS MATERIALIZED (SELECT k,
               CAST(round(1e6 * CAST((SELECT dmin FROM bdm) AS DOUBLE)
                    / CAST(dq AS DOUBLE)) AS BIGINT) AS ivq FROM bdg),
      bsw AS (SELECT CAST(SUM(CAST(ivq AS HUGEINT)) AS DOUBLE) AS swv FROM biv),
      bmv AS MATERIALIZED (SELECT s.a AS k,
               SUM(CAST(s.covq AS HUGEINT) * i.ivq) AS mvwq
             FROM blsym s JOIN biv i ON i.k = s.b GROUP BY 1),
      bpi AS MATERIALIZED (SELECT k,
               $dS * CAST(mvwq AS DOUBLE) / (1e6 * (SELECT swv FROM bsw)) AS pi,
               CAST(round(($dS * CAST(mvwq AS DOUBLE)
                           / (1e6 * (SELECT swv FROM bsw))) * 1e6) AS BIGINT) AS piq
             FROM bmv),
      bks AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM bdg),
      bv AS MATERIALIZED (
         SELECT 1 AS vid, k, CAST(1000000 AS BIGINT) AS pq FROM bks WHERE rn = 1
         UNION ALL
         SELECT 1 AS vid, k, CAST(-1000000 AS BIGINT) AS pq FROM bks WHERE rn = 2
         UNION ALL
         SELECT 2 AS vid, k, CAST(1000000 AS BIGINT) AS pq FROM bks WHERE rn = 3),
      btv AS MATERIALIZED (SELECT v.vid, s.a AS k,
               CAST(SUM(CAST(s.covq AS HUGEINT) * v.pq) AS BIGINT) AS tq
             FROM blsym s JOIN bv v ON v.k = s.b GROUP BY 1, 2),
      bs11 AS (SELECT CAST(SUM(CAST(t.tq AS HUGEINT) * v.pq) AS DOUBLE) / 1e18 AS s
               FROM btv t JOIN bv v ON v.k = t.k AND v.vid = 1 WHERE t.vid = 1),
      bs12 AS (SELECT CAST(SUM(CAST(t.tq AS HUGEINT) * v.pq) AS DOUBLE) / 1e18 AS s
               FROM btv t JOIN bv v ON v.k = t.k AND v.vid = 2 WHERE t.vid = 1),
      bs22 AS (SELECT CAST(SUM(CAST(t.tq AS HUGEINT) * v.pq) AS DOUBLE) / 1e18 AS s
               FROM btv t JOIN bv v ON v.k = t.k AND v.vid = 2 WHERE t.vid = 2),
      bpp1 AS (SELECT CAST(SUM(CAST(v.pq AS HUGEINT) * p.piq) AS DOUBLE) / 1e12 AS pp
               FROM bv v JOIN bpi p ON p.k = v.k WHERE v.vid = 1),
      bpp2 AS (SELECT CAST(SUM(CAST(v.pq AS HUGEINT) * p.piq) AS DOUBLE) / 1e12 AS pp
               FROM bv v JOIN bpi p ON p.k = v.k WHERE v.vid = 2),
      bz AS (SELECT
               CASE WHEN det <> 0.0 THEN (r1 * a22 - a12 * r2) / det
                    ELSE 0.0 END AS z1,
               CASE WHEN det <> 0.0 THEN (a11 * r2 - a12 * r1) / det
                    ELSE 0.0 END AS z2
             FROM (SELECT a11, a12, a22, r1, r2,
                          a11 * a22 - a12 * a12 AS det
                   FROM (SELECT 2.0 * $tS * (SELECT s FROM bs11) AS a11,
                                $tS * (SELECT s FROM bs12) AS a12,
                                2.0 * $tS * (SELECT s FROM bs22) AS a22,
                                $uS * (SELECT pp FROM bpp1) AS r1,
                                $uS * (SELECT pp FROM bpp2) AS r2))),
      btp AS MATERIALIZED (SELECT k,
               MAX(CASE WHEN vid = 1 THEN tq END) AS t1q,
               MAX(CASE WHEN vid = 2 THEN tq END) AS t2q
             FROM btv GROUP BY k),
      bmq AS MATERIALIZED (SELECT p.k, p.pi,
               p.pi + $tS * (CAST(COALESCE(t.t1q, 0) AS DOUBLE) / 1e12
                               * (SELECT z1 FROM bz)
                             + CAST(COALESCE(t.t2q, 0) AS DOUBLE) / 1e12
                               * (SELECT z2 FROM bz)) AS mu,
               CAST(round((p.pi + $tS * (CAST(COALESCE(t.t1q, 0) AS DOUBLE) / 1e12
                               * (SELECT z1 FROM bz)
                             + CAST(COALESCE(t.t2q, 0) AS DOUBLE) / 1e12
                               * (SELECT z2 FROM bz))) * 1e6) AS BIGINT) AS muq
             FROM bpi p JOIN btp t ON t.k = p.k),
      brq AS MATERIALIZED (SELECT m.k,
               CAST(round(CAST(m.muq AS DOUBLE)
                    / sqrt(CAST(d.dq AS DOUBLE) / 1e6)) AS BIGINT) AS bq
             FROM bmq m JOIN bdg d ON d.k = m.k),
      ${cgRoundsSql("covp", CgRounds, Some("brq"))}
      SELECT g.k AS key,
             round(m.pi, 6) + 0.0 AS pi,
             round(m.mu, 6) + 0.0 AS mu_bl,
             round(CAST(g.xq AS DOUBLE) / 1e6
                   / sqrt(CAST(g.dq AS DOUBLE) / 1e6) / $dS, 6) + 0.0 AS weight
      FROM cgp$CgRounds g JOIN bmq m ON m.k = g.k ORDER BY key"""
    })

  // Hierarchical Risk Parity on the same LW-CC shrunk covariance — the
  // inversion-free allocator beside q_min_variance. HASH-CHECKED
  // (VERDICT r12 #1 retired the last rows-only entry): the engine runs
  // hrpIterative's quantized protocol — single linkage as Kruskal over
  // ·10⁶ integer distance images with the (dq, a, b) lexicographic
  // tie-break, path-string seriation, and the bisection unrolled over
  // exact-HUGEINT cluster-variance images — and the oracle replays the
  // identical fold as MATERIALIZED CTE rounds (8 merges + 4 levels,
  // no-op tails). The raw-double driver solver (hrpPortfolio) stays as
  // the OpsSpec cross-check, the ercIterative/ercPortfolio pairing.
  private val qHrp = QDef(
    "q_hrp",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val cov = Relational.ledoitWolfConstCorr(hourly, "event_type",
        "bucket", "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      operators.Backtest.hrpIterative(cov, merges = HrpMerges,
        levels = HrpLevels)
    },
    Some(s"""
      WITH $lwCcCteSql,
      $covpCteSql,
      ${hrpRoundsSql("covp", HrpMerges, HrpLevels)}
      SELECT k AS key,
             round(CAST(wq AS DOUBLE)
                   / CAST((SELECT sw FROM hsw) AS DOUBLE), 6) + 0.0 AS weight
      FROM hb$HrpLevels ORDER BY key"""))

  // Equal-risk-contribution (risk parity) on the same LW-CC shrunk
  // covariance — HASH-CHECKED (VERDICT r11 #1): the engine runs the
  // quantized fixed-rounds damped Jacobi sweep (ercIterative — every
  // coordinate updated simultaneously from the previous 6-dp iterate,
  // 50/50 damped) and the oracle unrolls the same rounds; the exact
  // sequential-CCD solver stays as the OpsSpec cross-check (agreement
  // ≤ 1e−4 pinned; measured ≤ 3e−5 to 256 keys at cond(Σ) ≈ 10⁴).
  private val qErc = QDef(
    "q_erc",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val cov = Relational.ledoitWolfConstCorr(hourly, "event_type",
        "bucket", "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
      operators.Backtest.ercIterative(cov, rounds = ErcRounds,
        damping = ErcDamping)
    },
    Some(s"""
      WITH $lwCcCteSql,
      $covpCteSql,
      ${ercRoundsSql("covp", ErcRounds, ErcDamping)},
      sx AS (SELECT CAST(SUM(xq) AS BIGINT) AS sx FROM er$ErcRounds)
      SELECT k AS key,
             round(CAST(xq AS DOUBLE)
                   / CAST((SELECT sx FROM sx) AS DOUBLE), 6) + 0.0 AS weight
      FROM er$ErcRounds ORDER BY key"""))

  /** Shared pipeline body of the two portfolio-e2e queries: hourly mean
    * panel → LW-CC shrunk covariance → (caller's allocator) → momentum
    * ledger per type → weighted portfolio curve. One definition so the
    * hash-checked inverse-variance twin and the rows-only HRP run are
    * the SAME downstream machinery — the twin's oracle therefore
    * hash-pins every stage the HRP run shares. */
  private def portfolioPipeline(s: SparkSession, dir: String,
      allocate: DataFrame => DataFrame): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
    val cov = Relational.ledoitWolfConstCorr(hourly, "event_type",
      "bucket", "mean_v", scale = 1e4, pairScale = 1e2, termScale = 1e6)
    val wts = allocate(cov)
    val w = W.series(Seq("event_type"), Seq("bucket"))
    val panel = hourly
      .where(col("mean_v").isNotNull && col("mean_v") > 0)
      .withColumn("sig", signum(col("mean_v") - lag(col("mean_v"), 1).over(w)))
      .withColumn("tb", micros(col("bucket")))
    val led = operators.Backtest.ledger(panel, Seq("event_type"), "bucket",
      "mean_v", "sig", "tb", costBps = 10.0)
    operators.Backtest.portfolioLedger(
        led.select("event_type", "bucket", "pnl"), wts,
        Seq("event_type"), "bucket")
      .select(micros(col("bucket")).as("bucket_us"), col("n_assets"),
        col("pnl"), col("equity"), col("drawdown"))
      .orderBy("bucket_us")
  }

  /** The portfolio-pipeline downstream (panel → momentum ledger →
    * weighted curve) as oracle SQL — expects a `wts` CTE with columns
    * `(k, weight)` in scope; shared by q_portfolio_ivp and
    * q_portfolio_e2e so the two replay the SAME downstream machinery
    * against different allocators. */
  private val portfolioTailSql = s"""hm AS (SELECT event_type AS k, date_trunc('hour', ts) AS t,
                    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(*) AS p
             FROM events GROUP BY 1, 2),
      hp AS (SELECT k, t, p FROM hm WHERE p IS NOT NULL AND p > 0),
      sg AS (SELECT k, t, p, CAST(sign(p - lag(p) OVER w) AS DOUBLE) AS sig0
             FROM hp WINDOW w AS (PARTITION BY k ORDER BY t)),
      a AS (SELECT k, t,
                   COALESCE(lag(COALESCE(sig0, 0.0), 1) OVER w, 0.0) AS pos,
                   COALESCE(lag(COALESCE(sig0, 0.0), 2) OVER w, 0.0) AS prevpos,
                   ln(p / lag(p) OVER w) AS r
            FROM sg WINDOW w AS (PARTITION BY k ORDER BY t)),
      t1 AS (SELECT k, t, pos, r,
                    CAST(round(abs(pos - prevpos) * 1e6) AS BIGINT) AS dpos_fp
             FROM a WHERE r IS NOT NULL),
      t2 AS (SELECT k, t,
                    pos * r - ${10.0 / 1e4} * (CAST(dpos_fp AS DOUBLE) / 1e6) AS pnl
             FROM t1),
      led AS (SELECT k, t,
                     round(CAST(CAST(round(pnl * 1e9) AS BIGINT) AS DOUBLE)
                           / 1e9, 6) AS pnl
              FROM t2),
      ct AS (SELECT led.t,
                    CAST(round(w.weight * led.pnl * 1e9) AS BIGINT) AS c_fp
             FROM led JOIN wts w ON led.k = w.k),
      pt AS (SELECT t, COUNT(*) AS n_assets,
                    CAST(SUM(c_fp) AS BIGINT) AS p_fp
             FROM ct GROUP BY t),
      pe AS (SELECT t, n_assets, p_fp,
                    CAST(SUM(p_fp) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS eq_fp
             FROM pt)
      SELECT epoch_us(t) AS bucket_us, n_assets,
             round(CAST(p_fp AS DOUBLE) / 1e9, 6) AS pnl,
             round(CAST(eq_fp AS DOUBLE) / 1e9, 6) AS equity,
             round(CAST(GREATEST(MAX(eq_fp) OVER (ORDER BY t ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW), 0) - eq_fp
                   AS DOUBLE) / 1e9, 6) AS drawdown
      FROM pe ORDER BY bucket_us"""

  // Portfolio pipeline e2e, minimum-variance allocator: LW-CC shrinkage
  // → quantized-CG min-var weights → weighted momentum-portfolio equity
  // curve. HASH-CHECKED end-to-end (VERDICT r11 #1 retired the rows-only
  // status): the allocator is the same fixed-rounds CG fold as
  // q_min_variance and the downstream is the shared portfolioTailSql the
  // inverse-variance twin already pinned — every stage replays in SQL.
  // The HRP allocator remains exercised by q_hrp + its OpsSpec block
  // (driver-side sequential clustering, not SQL-expressible).
  private val qPortfolioE2e = QDef(
    "q_portfolio_e2e",
    (s, dir) => portfolioPipeline(s, dir, cov =>
      operators.Backtest.minVarianceCG(cov, rounds = CgRounds)
        .select(col("key").as("event_type"), col("weight"))),
    Some(s"""
      WITH $lwCcCteSql,
      $covpCteSql,
      ${cgRoundsSql("covp", CgRounds)},
      xw AS MATERIALIZED (SELECT k,
               CAST(round(CAST(xq AS DOUBLE) * 1e3
                    / sqrt(CAST(dq AS DOUBLE) / 1e6)) AS BIGINT) AS xwq
             FROM cgp$CgRounds),
      sxw AS (SELECT CAST(SUM(xwq) AS BIGINT) AS sxw FROM xw),
      wts AS MATERIALIZED (SELECT k,
               round(CAST(xwq AS DOUBLE)
                     / CAST((SELECT sxw FROM sxw) AS DOUBLE), 6) + 0.0 AS weight
             FROM xw),
      $portfolioTailSql"""))

  // The hash-checked twin: the same pipeline with the inverse-variance
  // allocator — w_k = round(10⁹/v_k) / Σ round(10⁹/v_j) from the LW-CC
  // shrunk diagonal (integer quantizers so the weight sum is order-free)
  // — every stage incl. the shrinkage intensity replayed in DuckDB.
  private val qPortfolioIvp = QDef(
    "q_portfolio_ivp",
    (s, dir) => portfolioPipeline(s, dir, { cov =>
      val vd = cov.where(col("key_a") === col("key_b"))
        .select(col("key_a").as("event_type"),
          col("shrunk_cov").cast("double").as("v"))
        .where(col("v") > 0)
        .withColumn("qinv", round(lit(1e9) / col("v")).cast("long"))
      val qs = vd.agg(sum(col("qinv")).as("wsum"))
      vd.crossJoin(broadcast(qs))
        .select(col("event_type"),
          round(col("qinv").cast("double") / col("wsum").cast("double"), 6)
            .as("weight"))
    }),
    Some(s"""
      WITH $lwCcCteSql,
      vd AS MATERIALIZED (
        SELECT key_a AS k,
               round((1.0 - (SELECT delta FROM dl)) * sab
                     + (SELECT delta FROM dl) * sa, 6) AS v
        FROM q2 WHERE key_a = key_b),
      qv AS MATERIALIZED (
        SELECT k, CAST(round(1e9 / v) AS BIGINT) AS qinv
        FROM vd WHERE v > 0),
      qs AS (SELECT CAST(SUM(qinv) AS BIGINT) AS wsum FROM qv),
      wts AS MATERIALIZED (
        SELECT k, round(CAST(qinv AS DOUBLE)
                        / CAST((SELECT wsum FROM qs) AS DOUBLE), 6) AS weight
        FROM qv),
      $portfolioTailSql"""))

  // Adaptive EWM-RLS regression: the per-row forgetting-factor AR(1)
  // coefficient of each event type (y = value on x = previous value,
  // α = 0.1). Four sibling EWM chains on one sort; DuckDB replays each
  // as the q_ema list_reduce fold — the same recursion in the same
  // order, so the moment ratios agree bit-for-bit.
  private val qEwmBeta = QDef(
    "q_ewm_beta",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .withColumn("x", lag(col("value"), 1).over(w))
      TA.ewmBeta(base, Seq("event_type"), "ts", "x", "value", "event_id",
          alpha = 0.1)
        .select(col("event_type"), micros(col("ts")).as("ts_us"),
          col("event_id"), col("beta"), col("alpha_icept"))
        .orderBy("event_type", "ts_us", "event_id")
    },
    Some {
      val wk = "PARTITION BY k ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
      s"""
      WITH m AS (SELECT event_type AS k, ts, event_id,
                        CAST(lag(value) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS DOUBLE) AS x,
                        CAST(value AS DOUBLE) AS y
                 FROM events),
      v AS (SELECT k, ts, event_id, x, y
            FROM m WHERE x IS NOT NULL AND y IS NOT NULL),
      f AS (SELECT k, ts, event_id,
                   ${emaFoldSql(s"list(x) OVER ($wk)", 0.1)} AS mx,
                   ${emaFoldSql(s"list(y) OVER ($wk)", 0.1)} AS my,
                   ${emaFoldSql(s"list(x * y) OVER ($wk)", 0.1)} AS mxy,
                   ${emaFoldSql(s"list(x * x) OVER ($wk)", 0.1)} AS mxx
            FROM v)
      SELECT k AS event_type, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN (mxx - mx * mx) > 0 THEN
               round((mxy - mx * my) / (mxx - mx * mx), 6) END AS beta,
             CASE WHEN (mxx - mx * mx) > 0 THEN
               round(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6)
             END AS alpha_icept
      FROM f ORDER BY event_type, ts_us, event_id"""
    })

  // Kupiec proportion-of-failures VaR backtest: VaR fit on the
  // pre-2024-01-15 return slice, violations counted on the later slice,
  // LR_pof vs the chi-square(1) 5% bound — ln(alpha)/ln(1-alpha)/the
  // critical value all interpolate from the JVM.
  private val qKupiec = QDef(
    "q_kupiec",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      def rets(df: DataFrame) = df
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("r", log(col("value") / lag(col("value"), 1).over(w)))
        .where(col("r").isNotNull)
      val e = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-15"))
      operators.Backtest.kupiecTest(rets(e.filter(col("ts") < cut)),
        rets(e.filter(col("ts") >= cut)), Seq("event_type"), "r",
        alpha = 0.05)
    },
    Some(s"""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p,
                        (ts < TIMESTAMP '2024-01-15') AS is_ref
                 FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, is_ref,
                    ln(p / lag(p) OVER (PARTITION BY k, is_ref
                                        ORDER BY ts, event_id)) AS r
             FROM b),
      r AS (SELECT k, is_ref, r FROM r0 WHERE r IS NOT NULL),
      q AS (SELECT k, quantile_cont(r, 0.05) AS v
            FROM r WHERE is_ref GROUP BY 1),
      c AS (SELECT r.k, COUNT(*) AS n,
                   CAST(SUM(CASE WHEN r.r < q.v THEN 1 ELSE 0 END) AS BIGINT) AS x,
                   q.v
            FROM r JOIN q ON r.k = q.k WHERE NOT r.is_ref
            GROUP BY r.k, q.v),
      l AS (SELECT k, n, x, v,
                   -2.0 * ((CAST(n AS DOUBLE) - CAST(x AS DOUBLE))
                             * ${math.log(1.0 - 0.05)}
                           + CAST(x AS DOUBLE) * ${math.log(0.05)})
                   + 2.0 * (CASE
                       WHEN x = n THEN CAST(x AS DOUBLE)
                         * ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                       WHEN x = 0 THEN (CAST(n AS DOUBLE) - CAST(x AS DOUBLE))
                         * ln(1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                       ELSE (CAST(n AS DOUBLE) - CAST(x AS DOUBLE))
                         * ln(1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                         + CAST(x AS DOUBLE)
                         * ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) END) AS lr
            FROM c)
      SELECT k AS event_type, n, x AS n_viol,
             round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS viol_rate,
             round(v, 6) AS var_alpha,
             round(lr, 6) AS lr_pof,
             lr > ${operators.Backtest.KupiecChi2Crit} AS reject
      FROM l ORDER BY k"""))

  // Spearman rank IC of the tick value against its forward log return
  // per (event type, day) — average ranks on ties kept as the exact
  // integer 2·rank + ties − 1 (2-dp tick values tie often, so the tie
  // convention is genuinely exercised), Pearson over the doubled ranks
  // from exact BIGINT moment sums.
  private val qSpearmanIc = QDef(
    "q_spearman_ic",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("bucket_us", micros(date_trunc("day", col("ts"))))
        .withColumn("fwd_ret",
          log(lead(col("value"), 1).over(w) / col("value")))
      Relational.spearmanIc(base, Seq("event_type", "bucket_us"),
        "value", "fwd_ret")
    },
    Some("""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p
                 FROM events WHERE value IS NOT NULL AND value > 0),
      f AS (SELECT k, epoch_us(date_trunc('day', ts)) AS bucket_us, p AS x,
                   ln(lead(p) OVER (PARTITION BY k ORDER BY ts, event_id) / p) AS y
            FROM b),
      v AS (SELECT k, bucket_us, x, y
            FROM f WHERE x IS NOT NULL AND y IS NOT NULL),
      r AS (SELECT k, bucket_us,
                   2 * rank() OVER (PARTITION BY k, bucket_us ORDER BY x)
                     + COUNT(*) OVER (PARTITION BY k, bucket_us, x) - 1 AS ra,
                   2 * rank() OVER (PARTITION BY k, bucket_us ORDER BY y)
                     + COUNT(*) OVER (PARTITION BY k, bucket_us, y) - 1 AS rb
            FROM v),
      m AS (SELECT k, bucket_us, COUNT(*) AS n,
                   CAST(SUM(ra) AS BIGINT) AS sa,
                   CAST(SUM(rb) AS BIGINT) AS sb,
                   CAST(SUM(ra * ra) AS BIGINT) AS saa,
                   CAST(SUM(rb * rb) AS BIGINT) AS sbb,
                   CAST(SUM(ra * rb) AS BIGINT) AS sab
            FROM r GROUP BY 1, 2)
      SELECT k AS event_type, bucket_us, n,
             CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                  THEN round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                             / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                                    * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
                             6) END AS ic
      FROM m ORDER BY event_type, bucket_us"""))

  // Fama–MacBeth factor premium of the tick value against its forward
  // log return: per-day cross-sectional OLS slopes from exact integer
  // moments (value at ⌊·10²⌋ — 2-dp ticks quantize EXACTLY; returns at
  // ⌊·10⁶⌋), then the time-series mean + FM t-stat over nano-quantized
  // slopes. The xScale/yScale de-scaling factor interpolates from the
  // JVM.
  private val qFamaMacbeth = QDef(
    "q_fama_macbeth",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = t(s, dir, "events")
        .where(col("value").isNotNull && col("value") > 0)
        .withColumn("bucket_us", micros(date_trunc("day", col("ts"))))
        .withColumn("fwd_ret",
          log(lead(col("value"), 1).over(w) / col("value")))
      Relational.famaMacbeth(base, "bucket_us", "value", "fwd_ret",
        xScale = 1e2, yScale = 1e6)
    },
    Some(s"""
      WITH b AS (SELECT event_type AS k, ts, event_id,
                        CAST(value AS DOUBLE) AS p
                 FROM events WHERE value IS NOT NULL AND value > 0),
      f AS (SELECT epoch_us(date_trunc('day', ts)) AS bucket, p,
                   ln(lead(p) OVER (PARTITION BY k ORDER BY ts, event_id) / p) AS y
            FROM b),
      v AS (SELECT bucket, CAST(floor(p * 1e2) AS BIGINT) AS xq,
                   CAST(floor(y * 1e6) AS BIGINT) AS yq
            FROM f WHERE y IS NOT NULL),
      m AS (SELECT bucket, COUNT(*) AS n,
                   CAST(SUM(xq) AS BIGINT) AS sx,
                   CAST(SUM(yq) AS BIGINT) AS sy,
                   CAST(SUM(xq * xq) AS BIGINT) AS sxx,
                   CAST(SUM(xq * yq) AS BIGINT) AS sxy
            FROM v GROUP BY 1),
      s AS (SELECT bucket,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * ${1e2 / 1e6}, 6) AS lambda
            FROM m
            WHERE (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0),
      q AS (SELECT CAST(round(lambda * 1e9) AS BIGINT) AS l9 FROM s),
      g AS (SELECT COUNT(*) AS nb, CAST(SUM(l9) AS BIGINT) AS s1,
                   CAST(SUM(CAST(round((CAST(l9 AS DOUBLE) / 1e9)
                     * (CAST(l9 AS DOUBLE) / 1e9) * 1e9) AS BIGINT)) AS BIGINT) AS s2
            FROM q)
      SELECT nb AS n_buckets,
             round(CAST(s1 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE), 6) AS lambda_mean,
             CASE WHEN (CAST(s2 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE))) > 0
                  THEN round((CAST(s1 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE))
                             * sqrt(CAST(nb AS DOUBLE))
                             / sqrt(CAST(s2 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE)
                                    - (CAST(s1 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE))
                                      * (CAST(s1 AS DOUBLE) / 1e9 / CAST(nb AS DOUBLE))),
                             6) END AS lambda_t
      FROM g"""))

  // Roll's implied effective spread per (event type, day): consecutive
  // trade-price changes in integer cents, covariance from exact moment
  // sums, s = 2·√(−cov)/100; non-negative-autocov days null (Roll's own
  // convention).
  private val qRollSpread = QDef(
    "q_roll_spread",
    (s, dir) => TA.rollSpread(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", "day")
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("n_pairs"), col("roll_spread"))
      .orderBy("event_type", "bucket_us"),
    Some("""
      WITH b0 AS (SELECT event_type AS k, ts, event_id,
                         CAST(floor(value * 100) AS BIGINT) AS pc
                  FROM events),
      d1 AS (SELECT k, ts, event_id,
                    pc - lag(pc) OVER (PARTITION BY k ORDER BY ts, event_id) AS dp,
                    lag(date_trunc('day', ts), 2)
                      OVER (PARTITION BY k ORDER BY ts, event_id) AS b2
             FROM b0),
      d2 AS (SELECT k, ts, dp,
                    lag(dp) OVER (PARTITION BY k ORDER BY ts, event_id) AS dpp,
                    b2
             FROM d1),
      f AS (SELECT k, date_trunc('day', ts) AS bucket, dp, dpp
            FROM d2
            WHERE dp IS NOT NULL AND dpp IS NOT NULL
              AND b2 = date_trunc('day', ts)),
      m AS (SELECT k, bucket, COUNT(*) AS n_pairs,
                   CAST(SUM(dp) AS BIGINT) AS sx,
                   CAST(SUM(dpp) AS BIGINT) AS sy,
                   CAST(SUM(dp * dpp) AS BIGINT) AS sxy
            FROM f GROUP BY 1, 2),
      c AS (SELECT k, bucket, n_pairs,
                   (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)) AS cov
            FROM m)
      SELECT k AS event_type, epoch_us(bucket) AS bucket_us, n_pairs,
             CASE WHEN cov < 0
                  THEN round(2.0 * sqrt(-cov) / 100.0, 6) END AS roll_spread
      FROM c ORDER BY event_type, bucket_us"""))

  // Amihud illiquidity per event type: daily |close/open − 1| over the
  // day's ⌊p·v·100⌋-cent dollar volume, each ratio quantized to
  // pico-units, per-series mean from the exact integer sum, ×10⁶.
  private val qAmihud = QDef(
    "q_amihud",
    (s, dir) => TA.amihudIlliquidity(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "value", "event_id")
      .orderBy("event_type"),
    Some("""
      WITH r AS (SELECT event_type AS k, date_trunc('day', ts) AS dd, value,
                        row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                           ORDER BY ts, event_id) AS rf,
                        row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                           ORDER BY ts DESC, event_id DESC) AS rl
                 FROM events),
      o AS (SELECT k, dd,
                   MAX(CASE WHEN rf = 1 THEN value END) AS open_,
                   MAX(CASE WHEN rl = 1 THEN value END) AS close_
            FROM r GROUP BY 1, 2),
      dv AS (SELECT event_type AS k, date_trunc('day', ts) AS dd,
                    CAST(SUM(CAST(floor(CAST(value AS DOUBLE)
                      * CAST(value AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS dvc
             FROM events GROUP BY 1, 2),
      g AS (SELECT o.k, open_, close_, dvc
            FROM o JOIN dv ON dv.k = o.k AND dv.dd = o.dd
            WHERE dvc > 0 AND open_ <> 0),
      q AS (SELECT k,
                   CAST(round(abs(CAST(close_ AS DOUBLE) / CAST(open_ AS DOUBLE) - 1.0)
                              / (CAST(dvc AS DOUBLE) / 100.0) * 1e12) AS BIGINT) AS rq
            FROM g),
      a AS (SELECT k, COUNT(*) AS n_days, CAST(SUM(rq) AS BIGINT) AS sq
            FROM q GROUP BY 1)
      SELECT k AS event_type, n_days,
             round(1e6 * (CAST(sq AS DOUBLE) / 1e12 / CAST(n_days AS DOUBLE)), 6) AS illiq
      FROM a ORDER BY event_type"""))

  // Book reconstruction from a synthetic L2 delta feed (20 price levels
  // per side with churn and removals): top-3 per side at every 6h
  // boundary via the level-grid × as-of-join shape; the oracle uses
  // DuckDB's native ASOF LEFT JOIN against the same last-write-wins
  // delta frame.
  private def bookDeltaFeed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_type"), col("ts"), col("event_id"),
      when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
      (col("event_id") % 20 + 1).cast("double").as("price"),
      when(col("event_id") % 7 === 0, lit(0.0))
        .otherwise(col("value")).as("amount"))

  private val qBookSnapshots = QDef(
    "q_book_snapshots",
    (s, dir) =>
      graft.features.OrderbookFeatures.bookSnapshots(bookDeltaFeed(s, dir),
          Seq("event_type"), "ts", "event_id",
          stepUs = 6L * 3600 * 1000000, nLevels = 3)
        .orderBy("event_type", "snap_ts_us", "side", "level"),
    Some(s"""
      WITH base AS (SELECT event_type AS k, epoch_us(ts) AS ts_us, event_id,
                           CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
                           CAST(event_id % 20 + 1 AS DOUBLE) AS price,
                           CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE value END AS amount
                    FROM events),
      dd AS (SELECT k, side, price, ts_us, amount,
                    row_number() OVER (PARTITION BY k, side, price, ts_us
                                       ORDER BY event_id DESC) AS rn
             FROM base),
      dedup AS (SELECT k, side, price, ts_us, amount FROM dd WHERE rn = 1),
      g0 AS (SELECT k, MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM base GROUP BY 1),
      grid AS (SELECT k, unnest(generate_series(lo // 21600000000 + 1,
                                                hi // 21600000000 + 1))
                          * 21600000000 AS snap_ts_us
               FROM g0),
      lv AS (SELECT DISTINCT k, side, price FROM base),
      probe AS (SELECT lv.k, lv.side, lv.price, grid.snap_ts_us
                FROM lv JOIN grid ON grid.k = lv.k),
      -- NOT DuckDB's native ASOF JOIN: v1.0.0 returns a non-latest
      -- match for some levels once the probe spans many (key, side,
      -- price) groups (verified: the same single-level probe answers
      -- correctly in isolation). Explicit last-row-≤-snap election
      -- instead — O(levels · deltas-per-level · snaps), fine at oracle
      -- scale.
      a0 AS (SELECT p.k, p.snap_ts_us, p.side, p.price, d.amount,
                    row_number() OVER (PARTITION BY p.k, p.snap_ts_us, p.side, p.price
                                       ORDER BY d.ts_us DESC) AS arn
             FROM probe p LEFT JOIN dedup d
               ON d.k = p.k AND d.side = p.side AND d.price = p.price
              AND d.ts_us <= p.snap_ts_us),
      a AS (SELECT k, snap_ts_us, side, price, amount FROM a0 WHERE arn = 1),
      rk AS (SELECT k, snap_ts_us, side, price, amount,
                    row_number() OVER (PARTITION BY k, snap_ts_us, side
                      ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END)
                      AS level
             FROM a WHERE amount IS NOT NULL AND amount > 0)
      SELECT k AS event_type, snap_ts_us, side, CAST(level AS BIGINT) AS level,
             price, amount
      FROM rk WHERE level <= 3
      ORDER BY event_type, snap_ts_us, side, level"""))

  // The CHUNKED book reconstruction against the SAME oracle: the frontier
  // fold (5-day chunks, so the 30-day feed folds 6 times with carried
  // standing books) must reproduce the one-shot result bit for bit — the
  // probe shrinks from levels-ever × whole-span grid to active-levels ×
  // chunk grid, the 100 TB shape.
  private val qBookSnapshotsChunked = QDef(
    "q_book_snapshots_chunked",
    (s, dir) =>
      graft.features.OrderbookFeatures.bookSnapshotsChunked(bookDeltaFeed(s, dir),
          Seq("event_type"), "ts", "event_id",
          stepUs = 6L * 3600 * 1000000, nLevels = 3,
          chunkUs = 5L * 86400 * 1000000)
        .orderBy("event_type", "snap_ts_us", "side", "level"),
    qBookSnapshots.oracle)

  // Hayashi–Yoshida covariance between event types' raw (asynchronous)
  // tick streams over the first three days — overlap-indicator sum of
  // exact integer-cent increments, bucketed band join on the Spark
  // side, full pairwise overlap scan in the oracle.
  private val qHyCov = QDef(
    "q_hy_cov",
    (s, dir) => Relational.hayashiYoshida(
      t(s, dir, "events").where(tsRangePushdown("2024-01-01", "2024-01-03")),
      "event_type", "ts", "value", "event_id",
      bucketUs = 3600L * 1000000, scale = 100.0),
    Some(s"""
      WITH e AS (SELECT event_type AS k, epoch_us(ts) AS t,
                        CAST(floor(value * 100) AS BIGINT) AS vq, event_id
                 FROM events
                 WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                   AND ts <= TIMESTAMP '2024-01-03 00:00:00'
                   AND value IS NOT NULL),
      iv0 AS (SELECT k, t AS e2,
                     lag(t) OVER (PARTITION BY k ORDER BY t, event_id) AS s,
                     vq - lag(vq) OVER (PARTITION BY k ORDER BY t, event_id) AS dr
              FROM e),
      iv AS (SELECT * FROM iv0 WHERE s IS NOT NULL),
      p AS (SELECT a.k AS key_a, b.k AS key_b, a.dr * b.dr AS prod
            FROM iv a JOIN iv b
              ON a.k < b.k AND a.s < b.e2 AND b.s < a.e2)
      SELECT key_a, key_b, COUNT(*) AS n_overlaps,
             round(CAST(CAST(SUM(prod) AS BIGINT) AS DOUBLE)
                   / ${100.0 * 100.0}, 6) AS hy_cov
      FROM p GROUP BY 1, 2 ORDER BY key_a, key_b"""))

  // Duplicated-8-gram rate per document — the scoring companion of
  // q_substring_dedup: fraction of a doc's 8-token windows occurring
  // more than once corpus-wide; exact integer ratio, short docs null.
  private val qDupNgramRate = QDef(
    "q_dup_ngram_rate",
    (s, dir) => TextAnalysis.dupNgramRate(t(s, dir, "documents"),
        "text", "doc_id", n = 8)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      w AS (SELECT doc_id,
                   unnest(list_transform(range(CAST(len(toks) - 7 AS BIGINT)),
                     i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS s
            FROM d WHERE len(toks) >= 8),
      c AS (SELECT s, COUNT(*) AS c FROM w GROUP BY 1),
      p AS (SELECT w.doc_id, COUNT(*) AS n_windows,
                   CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM w JOIN c ON c.s = w.s GROUP BY 1)
      SELECT d.doc_id,
             COALESCE(p.n_windows, 0) AS n_windows,
             COALESCE(p.n_dup, 0) AS n_dup,
             CASE WHEN p.n_windows IS NOT NULL
                  THEN CAST(p.n_dup AS DOUBLE) / CAST(p.n_windows AS DOUBLE)
             END AS dup_rate
      FROM d LEFT JOIN p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  // Event study: each event type's hourly mean value around hours where
  // 5+ error events landed (offsets −3..+3) — per-offset exact integer
  // sums, CAR accumulated over µ-quantized means (doubles never chain).
  private val qEventStudy = QDef(
    "q_event_study",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      val markers = t(s, dir, "events")
        .where(col("event_type") === "error")
        .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("m"))
        .agg(count(lit(1)).as("c")).where(col("c") >= 5).select("m")
      Relational.eventStudy(h, "event_type", "hb", "v", markers,
        maxOffset = 3, scale = 1e4)
    },
    Some(s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      mk AS (SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS m
             FROM events WHERE event_type = 'error'
             GROUP BY 1 HAVING COUNT(*) >= 5),
      o AS (SELECT unnest(range(-3, 4)) AS o_off),
      j AS (SELECT h.k AS key, o.o_off, h.v
            FROM mk CROSS JOIN o JOIN h ON h.hb = mk.m + o.o_off),
      a AS (SELECT key, o_off, COUNT(*) AS n_obs, CAST(SUM(v) AS BIGINT) AS s
            FROM j GROUP BY 1, 2),
      r AS (SELECT key, o_off, n_obs,
                   CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE) / ${1e4} AS mraw
            FROM a),
      m2 AS (SELECT key, o_off, n_obs, mraw,
                    CAST(round(mraw * 1e6) AS BIGINT) AS mq FROM r)
      SELECT key, CAST(o_off AS BIGINT) AS "offset", n_obs,
             round(mraw, 6) AS mean_v,
             round(CAST(CAST(SUM(mq) OVER (PARTITION BY key ORDER BY o_off
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS DOUBLE) / 1e6, 6) AS car
      FROM m2 ORDER BY key, o_off"""))

  // Hour-of-day seasonality per event type: exact DECIMAL mean + exact
  // integer-moment population std of the ⌊v·10⁴⌋ series.
  private val qSeasonality = QDef(
    "q_seasonality",
    (s, dir) => TA.seasonalityProfile(t(s, dir, "events"),
      Seq("event_type"), "ts", "value", unit = "hour", scale = 1e4),
    Some("""
      WITH a AS (SELECT event_type AS k, CAST(hour(ts) AS BIGINT) AS slot,
                        COUNT(*) AS n_obs,
                        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm,
                        CAST(SUM(CAST(floor(value * 1e4) AS BIGINT)) AS BIGINT) AS s1,
                        CAST(SUM(CAST(floor(value * 1e4) AS BIGINT)
                                 * CAST(floor(value * 1e4) AS BIGINT)) AS BIGINT) AS s2
                 FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
      SELECT k AS event_type, slot, n_obs,
             round(sm / CAST(n_obs AS DOUBLE), 6) AS mean_v,
             round(sqrt(GREATEST(
                     (CAST(n_obs AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n_obs AS DOUBLE) * CAST(n_obs AS DOUBLE)),
                     0.0)) / 10000.0, 6) AS std_v
      FROM a ORDER BY event_type, slot"""))

  // Winsorize each event type's values into the exact [5%, 95%]
  // percentile band — the madOutliers percentile idiom (Spark
  // `percentile` ≡ DuckDB `quantile_cont`), clamp as a pure IEEE
  // least/greatest tree.
  private val qWinsorize = QDef(
    "q_winsorize",
    (s, dir) => Relational.winsorize(t(s, dir, "events"),
        Seq("event_type"), "value", loPct = 0.05, hiPct = 0.95)
      .select(col("event_id"), col("event_type"), col("value"),
        col("v_winsor"), col("was_clipped"))
      .orderBy("event_id"),
    Some("""
      WITH b AS (SELECT event_type,
                        quantile_cont(value, 0.05) AS lo,
                        quantile_cont(value, 0.95) AS hi
                 FROM events WHERE value IS NOT NULL GROUP BY 1)
      SELECT e.event_id, e.event_type, e.value,
             round(LEAST(GREATEST(e.value, b.lo), b.hi), 6) AS v_winsor,
             (e.value < b.lo OR e.value > b.hi) AS was_clipped
      FROM events e JOIN b USING (event_type)
      WHERE e.value IS NOT NULL
      ORDER BY event_id"""))

  private val qRangeRead = QDef(
    "q_range_read",
    (s, dir) => t(s, dir, "events")
      .filter(col("user_id") === 7 && tsRangePushdown("2024-01-05", "2024-01-25"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(200)
      .select(col("event_id"), micros(col("ts")).as("ts_us"), col("event_type"), col("value")),
    Some("""
      SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
      FROM events
      WHERE user_id = 7 AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-25'
      ORDER BY ts DESC, event_id DESC
      LIMIT 200"""))

  // ------------------------------------------------------------------
  // Per-series window functions on events (W1-W12)
  // ------------------------------------------------------------------

  private def seriesW = W.series(Seq("user_id"), Seq("ts", "event_id"))

  private val qLagReturns = QDef(
    "q_lag_returns",
    (s, dir) => {
      val w = seriesW
      t(s, dir, "events")
        .select(col("user_id"), micros(col("ts")).as("ts_us"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          W.diff(col("value"), 1, w).as("diff_1"),
          W.pctChange(col("value"), 1, w).as("ret_1"),
          round(W.logReturn(col("value"), w), 6).as("logret_1"),
          lead(col("value"), 1).over(w).as("next_value"))
        .orderBy("user_id", "ts_us")
    },
    Some(s"""
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             LAG(value, 1) OVER w AS prev_value,
             value - LAG(value, 1) OVER w AS diff_1,
             value / LAG(value, 1) OVER w - 1 AS ret_1,
             ROUND(LN(NULLIF(value, 0)) - LAG(LN(NULLIF(value, 0)), 1) OVER w, 6) AS logret_1,
             LEAD(value, 1) OVER w AS next_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, ts_us"""))

  private val qRollingStats = QDef(
    "q_rolling_stats",
    (s, dir) => {
      val w = seriesW
      val f = W.trailing(w, 5)
      val cnt = count(col("value")).over(f)
      val sumDec = sum(col("value").cast(D)).over(f).cast("double")
      t(s, dir, "events")
        .select(col("user_id"), micros(col("ts")).as("ts_us"), col("value"),
          when(cnt >= 5, sumDec).as("roll_sum_5"),
          when(cnt >= 5, sumDec / lit(5)).as("roll_mean_5"),
          round(W.rollingStd(col("value"), 5, w), 6).as("roll_std_5"),
          W.rollingMin(col("value"), 5, w).as("roll_min_5"),
          W.rollingMax(col("value"), 5, w).as("roll_max_5"))
        .orderBy("user_id", "ts_us")
    },
    Some("""
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE) END AS roll_sum_5,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE) / 5 END AS roll_mean_5,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN ROUND(STDDEV_SAMP(value) OVER w5, 6) END AS roll_std_5,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN MIN(value) OVER w5 END AS roll_min_5,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN MAX(value) OVER w5 END AS roll_max_5
      FROM events
      WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_us"""))

  private val qCumulative = QDef(
    "q_cumulative",
    (s, dir) => {
      val w = seriesW
      val r = W.running(w)
      val cmax = max(col("value")).over(r)
      t(s, dir, "events")
        .select(col("user_id"), micros(col("ts")).as("ts_us"), col("value"),
          sum(col("value").cast(D)).over(r).cast("double").as("cum_sum"),
          cmax.as("cum_max"),
          ((col("value") - cmax) / nullif(cmax, lit(0))).as("drawdown"))
        .orderBy("user_id", "ts_us")
    },
    Some("""
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS cum_sum,
             MAX(value) OVER w AS cum_max,
             (value - MAX(value) OVER w) / NULLIF(MAX(value) OVER w, 0) AS drawdown
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_us"""))

  private val qEma = QDef(
    "q_ema",
    (s, dir) => t(s, dir, "events")
      .select(col("user_id"), micros(col("ts")).as("ts_us"), col("value"),
        round(W.ema(col("value"), 12, seriesW), 6).as("ema_12"),
        round(W.ema(col("value"), 26, seriesW), 6).as("ema_26"))
      .orderBy("user_id", "ts_us"),
    Some(s"""
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             ROUND(${emaFoldSql(s"list(value) OVER ($wAll)", alphaOfSpan(12))}, 6) AS ema_12,
             ROUND(${emaFoldSql(s"list(value) OVER ($wAll)", alphaOfSpan(26))}, 6) AS ema_26
      FROM events
      ORDER BY user_id, ts_us"""))

  private val qMacd = QDef(
    "q_macd",
    (s, dir) => {
      // signal = EWM over the macd series → second windowed pass
      val base = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          TA.macdLine(col("value"), seriesW).as("macd_raw"))
      base.select(col("user_id"), micros(col("ts")).as("ts_us"),
          round(col("macd_raw"), 6).as("macd"),
          round(W.ema(col("macd_raw"), 9, seriesW), 6).as("macd_signal_9"),
          round(col("macd_raw") - W.ema(col("macd_raw"), 9, seriesW), 6).as("macd_hist"))
        .orderBy("user_id", "ts_us")
    },
    Some(s"""
      WITH m AS (
        SELECT user_id, ts, event_id,
               ${emaFoldSql(s"list(value) OVER ($wAll)", alphaOfSpan(12))}
               - ${emaFoldSql(s"list(value) OVER ($wAll)", alphaOfSpan(26))} AS macd_raw
        FROM events)
      SELECT user_id, epoch_us(ts) AS ts_us,
             ROUND(macd_raw, 6) AS macd,
             ROUND(${emaFoldSql(s"list(macd_raw) OVER ($wAll)", alphaOfSpan(9))}, 6) AS macd_signal_9,
             ROUND(macd_raw - ${emaFoldSql(s"list(macd_raw) OVER ($wAll)", alphaOfSpan(9))}, 6) AS macd_hist
      FROM m
      ORDER BY user_id, ts_us"""))

  private val qRsi = QDef(
    "q_rsi",
    (s, dir) => {
      val w = seriesW
      t(s, dir, "events")
        .withColumn("_delta", W.diff(col("value"), 1, w))
        .select(col("user_id"), micros(col("ts")).as("ts_us"),
          round(TA.rsiSmaFromDelta(col("_delta"), 14, w), 6).as("rsi_sma_14"),
          round(TA.rsiEwmFromDelta(col("_delta"), 14, w), 6).as("rsi_ewm_14"))
        .orderBy("user_id", "ts_us")
    },
    Some(s"""
      WITH d AS (
        SELECT user_id, ts, event_id,
               value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        FROM events),
      g AS (
        SELECT user_id, ts, event_id,
               -- SMA flavor (market_factory._rsi np.where): null delta 0-fills
               CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS up0,
               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS down0,
               -- EWM flavor (ta_indicators.compute_rsi clip): null preserved
               CASE WHEN delta > 0 THEN delta WHEN delta IS NOT NULL THEN 0.0 END AS up,
               CASE WHEN delta < 0 THEN -delta WHEN delta IS NOT NULL THEN 0.0 END AS down
        FROM d),
      r AS (
        SELECT user_id, ts, event_id,
               CASE WHEN COUNT(up0) OVER w14 >= 14 THEN AVG(up0) OVER w14 END AS roll_up,
               CASE WHEN COUNT(down0) OVER w14 >= 14 THEN AVG(down0) OVER w14 END AS roll_down,
               CASE WHEN len(list_filter(list(up) OVER wc, x -> x IS NOT NULL)) = 0 THEN NULL
                    ELSE ${emaFoldSql("list_filter(list(up) OVER wc, x -> x IS NOT NULL)", 1.0 / 14.0)} END AS avg_gain,
               CASE WHEN len(list_filter(list(down) OVER wc, x -> x IS NOT NULL)) = 0 THEN NULL
                    ELSE ${emaFoldSql("list_filter(list(down) OVER wc, x -> x IS NOT NULL)", 1.0 / 14.0)} END AS avg_loss
        FROM g
        WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
               wc AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, epoch_us(ts) AS ts_us,
             ROUND(100.0 - 100.0 / (1.0 + roll_up / NULLIF(roll_down, 0)), 6) AS rsi_sma_14,
             ROUND(CASE WHEN avg_loss = 0 AND avg_gain > 0 THEN 100.0
                        ELSE 100.0 - 100.0 / (1.0 + avg_gain / NULLIF(avg_loss, 0)) END, 6) AS rsi_ewm_14
      FROM r
      ORDER BY user_id, ts_us"""))

  // ------------------------------------------------------------------
  // Gap detection, dedup, time normalization, JSON (J3, §2.7, §2.8)
  // ------------------------------------------------------------------

  private val qGapDaily = QDef(
    "q_gap_daily",
    // gaps are PLANTED (days 5/13/21 dropped) so the oracle compares
    // non-empty results — the synthetic events have no natural holes and
    // round 1's 0-rows-vs-0-rows green verified nothing
    (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(!dayofmonth(col("ts")).isin(5, 13, 21))
        .select(col("event_type"), date_trunc("day", col("ts")).as("d"))
      Relational.missingFromGrid(ev, Seq("event_type"), "d", 86400L)
        .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("missing_day"))
        .orderBy("event_type", "missing_day")
    },
    Some("""
      WITH e AS (SELECT * FROM events WHERE date_part('day', ts) NOT IN (5, 13, 21)),
      b AS (SELECT event_type, MIN(date_trunc('day', ts)) mn, MAX(date_trunc('day', ts)) mx
                 FROM e GROUP BY 1),
      grid AS (SELECT event_type, UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS d FROM b),
      got AS (SELECT DISTINCT event_type, date_trunc('day', ts) AS d FROM e)
      SELECT g.event_type, strftime(g.d, '%Y-%m-%d') AS missing_day
      FROM grid g
      WHERE NOT EXISTS (SELECT 1 FROM got t WHERE t.event_type = g.event_type AND t.d = g.d)
      ORDER BY event_type, missing_day"""))

  private val qDedupLastWin = QDef(
    "q_dedup_lastwin",
    (s, dir) => Relational.lastWriteWins(t(s, dir, "events"),
        Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        micros(col("ts")).as("ts_us"), col("value"))
      .orderBy("user_id", "event_type"),
    Some("""
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) x
      WHERE rn = 1
      ORDER BY user_id, event_type"""))

  private val qTimeNorm = QDef(
    "q_time_norm",
    (s, dir) => {
      // integer (not double) division to stay exact at epoch magnitudes
      val mixed = when(col("event_id") % 2 === 0, expr("unix_micros(ts) div 1000000"))
        .otherwise(expr("unix_micros(ts) div 1000"))
      val staged = t(s, dir, "events")
        .select(col("event_id"), mixed.as("mixed_epoch"),
          TimeNorm.epochToTimestamp(mixed).as("recovered"))
      staged.select(col("event_id"), col("mixed_epoch"),
          micros(col("recovered")).as("recovered_us"),
          TimeNorm.dt(col("recovered")).as("dt"),
          TimeNorm.floorEpoch(expr("unix_micros(recovered) div 1000000"), 300L).as("floored_5m"))
        .orderBy("event_id")
    },
    Some("""
      WITH m AS (
        SELECT event_id,
               CASE WHEN event_id % 2 = 0 THEN epoch_us(ts) // 1000000
                    ELSE epoch_us(ts) // 1000 END AS mixed_epoch
        FROM events),
      r AS (
        SELECT event_id, mixed_epoch,
               CASE WHEN mixed_epoch > 10000000000 THEN make_timestamp(mixed_epoch * 1000)
                    ELSE make_timestamp(mixed_epoch * 1000000) END AS recovered
        FROM m)
      SELECT event_id, mixed_epoch, epoch_us(recovered) AS recovered_us,
             strftime(recovered, '%Y-%m-%d') AS dt,
             (epoch_us(recovered) // 1000000) - ((epoch_us(recovered) // 1000000) % 300) AS floored_5m
      FROM r
      ORDER BY event_id"""))

  private val qJsonExtract = QDef(
    "q_json_extract",
    (s, dir) => t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
      .orderBy("k"),
    Some("""
      SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      FROM events
      GROUP BY 1
      ORDER BY k"""))

  private val qFfill = QDef(
    "q_ffill",
    (s, dir) => {
      val w = seriesW
      val sparse = when(col("event_type") === "purchase", col("value"))
      t(s, dir, "events")
        .select(col("user_id"), micros(col("ts")).as("ts_us"), col("event_type"),
          W.ffill(sparse, w).as("last_purchase_value"),
          W.bfill(sparse, w).as("next_purchase_value"))
        .orderBy("user_id", "ts_us")
    },
    Some("""
      SELECT user_id, epoch_us(ts) AS ts_us, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value,
             FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_value
      FROM events
      ORDER BY user_id, ts_us"""))

  // ------------------------------------------------------------------
  // TA indicators on OHLCV bars resampled from events (W5-W8, W13-W23)
  // ------------------------------------------------------------------

  /** Hourly OHLCV bars per event_type — shared base for the TA queries. */
  private def hourlyBars(s: SparkSession, dir: String): DataFrame =
    Resample.bars(t(s, dir, "events"), "ts", "value", "event_id",
      "1 hour", Seq("event_type"), exactVolume = true)

  private val barsCte = """
      bars AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_ts,
               ARG_MIN(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
               ARG_MAX(value, ts) AS close,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        FROM events GROUP BY 1, 2)"""

  private def barsW = W.series(Seq("event_type"), Seq("bar_ts"))

  // Markov-switching regime filter constants shared between the Spark
  // plan and the oracle SQL text (q_regime_prob).
  private val RegimeA01 = 0.04
  private val RegimeA10 = 0.04
  private val RegimeU0 = 0.35
  private val RegimeU1 = 0.65

  private val qTaTrend = QDef(
    "q_ta_trend",
    (s, dir) => {
      val w = barsW
      val staged = hourlyBars(s, dir)
        .withColumn("_tr", TA.trueRange(col("high"), col("low"), col("close"), w))
        .withColumn("_delta", W.diff(col("close"), 1, w))
      staged.select(col("event_type"), micros(col("bar_ts")).as("bar_ts_us"), col("close"),
          round(W.rollingMean(col("close"), 5, w), 6).as("sma_5"),
          round(TA.bollingerUpper(col("close"), 20, 2.0, w), 6).as("boll_upper"),
          round(TA.bollingerLower(col("close"), 20, 2.0, w), 6).as("boll_lower"),
          round(TA.vwap(col("close"), col("volume"), 5, w), 6).as("vwap_5"),
          TA.roc(col("close"), 5, w).as("roc_5"),
          round(TA.atrFromTr(col("_tr"), 14, w), 6).as("atr_14"),
          round(TA.obvFromDelta(col("_delta"), col("volume"), w), 6).as("obv"))
        .orderBy("event_type", "bar_ts_us")
    },
    Some(s"""
      WITH $barsCte,
      staged AS (
        SELECT *,
               GREATEST(high - low, ABS(high - LAG(close) OVER wo), ABS(low - LAG(close) OVER wo)) AS tr,
               close - LAG(close) OVER wo AS delta
        FROM bars
        WINDOW wo AS (PARTITION BY event_type ORDER BY bar_ts))
      SELECT event_type, epoch_us(bar_ts) AS bar_ts_us, close,
             CASE WHEN COUNT(close) OVER w5 >= 5 THEN ROUND(AVG(close) OVER w5, 6) END AS sma_5,
             CASE WHEN COUNT(close) OVER w20 >= 20 THEN ROUND(AVG(close) OVER w20 + 2.0 * STDDEV_SAMP(close) OVER w20, 6) END AS boll_upper,
             CASE WHEN COUNT(close) OVER w20 >= 20 THEN ROUND(AVG(close) OVER w20 - 2.0 * STDDEV_SAMP(close) OVER w20, 6) END AS boll_lower,
             ROUND((CASE WHEN COUNT(close * volume) OVER w5 >= 5 THEN SUM(close * volume) OVER w5 END)
                   / NULLIF(CASE WHEN COUNT(volume) OVER w5 >= 5 THEN SUM(volume) OVER w5 END, 0), 6) AS vwap_5,
             100.0 * (close - LAG(close, 5) OVER wo) / LAG(close, 5) OVER wo AS roc_5,
             CASE WHEN COUNT(tr) OVER w14 >= 14 THEN ROUND(AVG(tr) OVER w14, 6) END AS atr_14,
             ROUND(SUM(SIGN(COALESCE(delta, 0.0)) * COALESCE(volume, 0.0)) OVER wc, 6) AS obv
      FROM staged
      WINDOW wo AS (PARTITION BY event_type ORDER BY bar_ts),
             w5 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w14 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             wc AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY event_type, bar_ts_us"""))

  private val qTaOscillators = QDef(
    "q_ta_oscillators",
    (s, dir) => {
      val w = barsW
      val withK = TA.withMfi(
        TA.withAdx(
          TA.withStochastic(hourlyBars(s, dir), "high", "low", "close", 14, 3, w),
          "high", "low", "close", 14, w, out = "adx_14"),
        "high", "low", "close", "volume", 14, w, out = "mfi_14")
      withK.select(col("event_type"), micros(col("bar_ts")).as("bar_ts_us"),
          col("percent_k"),
          round(col("percent_d"), 6).as("percent_d"),
          round(TA.cci(col("high"), col("low"), col("close"), 20, 0.015, w), 6).as("cci_20"),
          round(col("mfi_14"), 6).as("mfi_14"),
          round(col("adx_14"), 6).as("adx_14"))
        .orderBy("event_type", "bar_ts_us")
    },
    Some(s"""
      WITH $barsCte,
      s1 AS (
        SELECT *,
               high - LAG(high) OVER wo AS up,
               -(low - LAG(low) OVER wo) AS down,
               GREATEST(high - low, ABS(high - LAG(close) OVER wo), ABS(low - LAG(close) OVER wo)) AS tr,
               (high + low + close) / 3.0 AS tp,
               LAG((high + low + close) / 3.0) OVER wo AS prev_tp
        FROM bars
        WINDOW wo AS (PARTITION BY event_type ORDER BY bar_ts)),
      s2 AS (
        SELECT *,
               CASE WHEN up > down AND up > 0 THEN up ELSE 0.0 END AS plus_dm,
               CASE WHEN down > up AND down > 0 THEN down ELSE 0.0 END AS minus_dm,
               CASE WHEN tp > prev_tp THEN tp * volume ELSE 0.0 END AS pos_flow,
               CASE WHEN tp < prev_tp THEN tp * volume ELSE 0.0 END AS neg_flow
        FROM s1),
      s3 AS (
        SELECT *,
               CASE WHEN COUNT(low) OVER w14 >= 14
                    THEN 100.0 * (close - MIN(low) OVER w14) / NULLIF(MAX(high) OVER w14 - MIN(low) OVER w14, 0) END AS percent_k,
               100.0 * (CASE WHEN COUNT(plus_dm) OVER w14 >= 14 THEN AVG(plus_dm) OVER w14 END)
                 / NULLIF(CASE WHEN COUNT(tr) OVER w14 >= 14 THEN AVG(tr) OVER w14 END, 0) AS plus_di,
               100.0 * (CASE WHEN COUNT(minus_dm) OVER w14 >= 14 THEN AVG(minus_dm) OVER w14 END)
                 / NULLIF(CASE WHEN COUNT(tr) OVER w14 >= 14 THEN AVG(tr) OVER w14 END, 0) AS minus_di,
               100.0 * (CASE WHEN COUNT(pos_flow) OVER w14 >= 14 THEN SUM(pos_flow) OVER w14 END)
                 / NULLIF((CASE WHEN COUNT(pos_flow) OVER w14 >= 14 THEN SUM(pos_flow) OVER w14 END)
                          + (CASE WHEN COUNT(neg_flow) OVER w14 >= 14 THEN SUM(neg_flow) OVER w14 END), 0) AS mfi_14,
               CASE WHEN COUNT(tp) OVER w20 >= 20 THEN AVG(tp) OVER w20 END AS tp_ma,
               CASE WHEN COUNT(tp) OVER w20 >= 20 THEN list(tp) OVER w20 END AS tp_arr
        FROM s2
        WINDOW w14 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      s4 AS (
        SELECT *,
               CASE WHEN plus_di IS NULL OR minus_di IS NULL THEN NULL
                    ELSE 100.0 * ABS(plus_di - minus_di) / NULLIF(plus_di + minus_di, 0) END AS dx,
               CASE WHEN tp_arr IS NULL THEN NULL
                    ELSE list_reduce(list_transform(tp_arr, y -> ABS(y - tp_ma)), (a, b) -> a + b) / 20 END AS md
        FROM s3)
      SELECT event_type, epoch_us(bar_ts) AS bar_ts_us,
             percent_k,
             CASE WHEN COUNT(percent_k) OVER w3 >= 3 THEN ROUND(AVG(percent_k) OVER w3, 6) END AS percent_d,
             CASE WHEN md IS NULL THEN NULL
                  WHEN md = 0 THEN 0.0
                  ELSE ROUND((tp - tp_ma) / (0.015 * md), 6) END AS cci_20,
             ROUND(mfi_14, 6) AS mfi_14,
             CASE WHEN COUNT(dx) OVER w14 >= 14 THEN ROUND(AVG(dx) OVER w14, 6) END AS adx_14
      FROM s4
      WINDOW w3 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             w14 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      ORDER BY event_type, bar_ts_us"""))

  // ------------------------------------------------------------------
  // Onchain feature set (W1/W2/W9/W10/W11/W26-W28) per user series
  // ------------------------------------------------------------------

  private val qOnchainFeatures = QDef(
    "q_onchain_features",
    (s, dir) => {
      val w = seriesW
      val staged = t(s, dir, "events")
        .withColumn("_ret", W.pctChange(col("value"), 1, w))
        // ann_vol rides EXACT integer moment sums of the 6-dp return
        // image: a raw STDDEV_SAMP window is a cross-engine double
        // chain whose 6-dp round flips on boundary rows (caught by the
        // sf0.1 gate at row 22k: Spark 144945.081320 vs DuckDB
        // ...321) — σ² = (nΣx²−(Σx)²)/(n(n−1)) on BIGINTs instead
        .withColumn("_retq", round(col("_ret") * 1e6).cast("long"))
      val f5 = w.rowsBetween(-4, 0)
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val nq = count(col("_retq")).over(f5)
      // retq reaches ~5e10 on this tape (value ratios span 5e4) —
      // squares and the squared sum live on DECIMAL(38,0)/HUGEINT
      // (the q_hasbrouck_lambda envelope lesson; DuckDB raised on the
      // INT64 draft, Spark wrapped silently)
      val s1 = sum(col("_retq")).over(f5).cast(D38)
      val s2 = sum(col("_retq").cast(D38) * col("_retq")).over(f5)
      val annVol = when(nq >= 5, round(
        sqrt((nq.cast(D38) * s2 - s1 * s1).cast("double") /
          (nq.cast("double") * (nq.cast("double") - lit(1.0)))) / lit(1e6)
          * sqrt(lit(365.0 * 86400.0 / 5)), 6))
      staged.select(col("user_id"), micros(col("ts")).as("ts_us"), col("value"),
          W.diff(col("value"), 1, w).as("diff_1"),
          round(W.rollingMedian(col("value"), 5, w), 6).as("roll_med_5"),
          round(W.rollingQuantile(col("value"), 0.25, 5, w), 6).as("roll_q25_5"),
          round(TA.zscore(col("value"), w), 6).as("zscore"),
          TA.whaleFlow(col("value"), 100.0).as("whale_100"),
          annVol.as("ann_vol_5"),
          TA.drawdown(col("value"), w).as("drawdown"))
        .orderBy("user_id", "ts_us")
    },
    Some("""
      WITH staged AS (
        SELECT *, value / LAG(value) OVER wo - 1 AS ret,
               CAST(round((value / LAG(value) OVER wo - 1) * 1e6) AS BIGINT) AS retq
        FROM events
        WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             value - LAG(value) OVER wo AS diff_1,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN ROUND(quantile_cont(value, 0.5) OVER w5, 6) END AS roll_med_5,
             CASE WHEN COUNT(value) OVER w5 >= 5 THEN ROUND(quantile_cont(value, 0.25) OVER w5, 6) END AS roll_q25_5,
             ROUND((value - AVG(value) OVER wp) / NULLIF(STDDEV_SAMP(value) OVER wp, 0), 6) AS zscore,
             CAST(ABS(value) > 100.0 AS INT) AS whale_100,
             CASE WHEN COUNT(retq) OVER w5 >= 5
                  THEN ROUND(sqrt(CAST(COUNT(retq) OVER w5 * SUM(CAST(retq AS HUGEINT) * retq) OVER w5
                                       - SUM(retq) OVER w5 * SUM(retq) OVER w5 AS DOUBLE)
                                  / (CAST(COUNT(retq) OVER w5 AS DOUBLE)
                                     * (CAST(COUNT(retq) OVER w5 AS DOUBLE) - 1.0)))
                             / 1e6 * SQRT(365.0 * 86400.0 / 5), 6) END AS ann_vol_5,
             (value - MAX(value) OVER wc) / NULLIF(MAX(value) OVER wc, 0) AS drawdown
      FROM staged
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
             wp AS (PARTITION BY user_id),
             w5 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             wc AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_us"""))

  // ------------------------------------------------------------------
  // Flagship: the full market feature factory over resampled bars (§3.1
  // step 5 / §3.3) — every v1 feature with a full SQL oracle.
  // ------------------------------------------------------------------

  private val qMarketFeatures = QDef(
    "q_market_features",
    (s, dir) => {
      val ohlcv = hourlyBars(s, dir).select(
        col("bar_ts").as("timestamp"),
        col("event_type").as("symbol"),
        lit("events").as("exchange"),
        lit("1h").as("timeframe"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      graft.features.MarketFeatures.build(ohlcv)
        .select(col("symbol"), micros(col("timestamp")).as("ts_us"), col("dt"),
          col("feature_version"),
          col("ret_1"),
          round(col("logret_1"), 6).as("logret_1"),
          round(col("rvol_5"), 6).as("rvol_5"),
          round(col("rvol_20"), 6).as("rvol_20"),
          round(col("ema_12"), 6).as("ema_12"),
          round(col("ema_26"), 6).as("ema_26"),
          round(col("macd"), 6).as("macd"),
          round(col("macd_signal_9"), 6).as("macd_signal_9"),
          round(col("rsi_14"), 6).as("rsi_14"),
          col("hl_spread"),
          round(col("oi_obv"), 6).as("oi_obv"))
        .orderBy("symbol", "ts_us")
    },
    Some(s"""
      WITH $barsCte,
      s1 AS (
        SELECT *,
               close / LAG(close) OVER wo - 1 AS ret_1,
               LN(NULLIF(close, 0)) - LAG(LN(NULLIF(close, 0))) OVER wo AS logret_1,
               close - LAG(close) OVER wo AS delta,
               ${emaFoldSql("list(close) OVER wc", alphaOfSpan(12))} AS ema_12,
               ${emaFoldSql("list(close) OVER wc", alphaOfSpan(26))} AS ema_26,
               (high - low) / NULLIF(close, 0) AS hl_spread
        FROM bars
        WINDOW wo AS (PARTITION BY event_type ORDER BY bar_ts),
               wc AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s2 AS (
        SELECT *,
               ema_12 - ema_26 AS macd_raw,
               -- market_factory._rsi np.where flavor: null delta 0-fills
               CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS up,
               CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS down
        FROM s1),
      s3 AS (
        SELECT *,
               CASE WHEN COUNT(logret_1) OVER w5 >= 5 THEN STDDEV_SAMP(logret_1) OVER w5 END AS rvol_5,
               CASE WHEN COUNT(logret_1) OVER w20 >= 20 THEN STDDEV_SAMP(logret_1) OVER w20 END AS rvol_20,
               ${emaFoldSql("list(macd_raw) OVER wc", alphaOfSpan(9))} AS macd_signal_9,
               CASE WHEN COUNT(up) OVER w14 >= 14 THEN AVG(up) OVER w14 END AS roll_up,
               CASE WHEN COUNT(down) OVER w14 >= 14 THEN AVG(down) OVER w14 END AS roll_down,
               SUM(SIGN(COALESCE(delta, 0.0)) * COALESCE(volume, 0.0)) OVER wc AS oi_obv
        FROM s2
        WINDOW w5 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
               w14 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
               w20 AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
               wc AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_type AS symbol, epoch_us(bar_ts) AS ts_us,
             strftime(bar_ts, '%Y-%m-%d') AS dt,
             'market.v1' AS feature_version,
             ret_1,
             ROUND(logret_1, 6) AS logret_1,
             ROUND(rvol_5, 6) AS rvol_5,
             ROUND(rvol_20, 6) AS rvol_20,
             ROUND(ema_12, 6) AS ema_12,
             ROUND(ema_26, 6) AS ema_26,
             ROUND(ema_12 - ema_26, 6) AS macd,
             ROUND(macd_signal_9, 6) AS macd_signal_9,
             ROUND(100.0 - 100.0 / (1.0 + roll_up / NULLIF(roll_down, 0)), 6) AS rsi_14,
             hl_spread,
             ROUND(oi_obv, 6) AS oi_obv
      FROM s3
      ORDER BY symbol, ts_us"""))

  // The flagship chain CHUNKED, against the SAME oracle: the 30-day
  // hourly-bar history folds in 7-day slices through
  // MarketIncremental.marketFeaturesFold with an O(1)-per-series carry
  // (three EWM states, last close, OBV sum, last ≤19 logrets / ≤13
  // deltas) — bit-identical to the one-shot window chain, but no fold
  // ever sorts more than one chunk of a series in one partition. This
  // closes the last documented long-history hazard: the 11-feature
  // chain itself now has a bounded-memory path.
  private val qMarketFeaturesFold = QDef(
    "q_market_features_fold",
    (s, dir) => {
      val ohlcv = hourlyBars(s, dir).select(
        col("bar_ts").as("timestamp"),
        col("event_type").as("symbol"),
        lit("events").as("exchange"),
        lit("1h").as("timeframe"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      graft.features.MarketFeatures
        .buildChunked(ohlcv, chunkUs = 7L * 86400 * 1000000)
        .select(col("symbol"), micros(col("timestamp")).as("ts_us"), col("dt"),
          col("feature_version"),
          col("ret_1"),
          round(col("logret_1"), 6).as("logret_1"),
          round(col("rvol_5"), 6).as("rvol_5"),
          round(col("rvol_20"), 6).as("rvol_20"),
          round(col("ema_12"), 6).as("ema_12"),
          round(col("ema_26"), 6).as("ema_26"),
          round(col("macd"), 6).as("macd"),
          round(col("macd_signal_9"), 6).as("macd_signal_9"),
          round(col("rsi_14"), 6).as("rsi_14"),
          col("hl_spread"),
          round(col("oi_obv"), 6).as("oi_obv"))
        .orderBy("symbol", "ts_us")
    },
    qMarketFeatures.oracle)

  // ------------------------------------------------------------------
  // Corwin–Schultz high-low spread per consecutive hourly-bar pair —
  // the bid-ask spread from ranges alone (β/γ separate variance from
  // spread); 3−2√2 interpolates from the JVM, negative estimates floor
  // at 0 per the paper, one-period tails null.
  /** Corwin–Schultz per-bar chain → CTE `cs` with the rounded images,
    * shared by q_cs_spread and q_spread_compare (one definition so the
    * two oracles cannot silently diverge — the bookBestSzCte rule).
    * Requires `bars` ($barsCte) in scope. */
  private val csChainCte = s"""cs_c AS (
        SELECT event_type, bar_ts,
               CASE WHEN high IS NOT NULL AND low IS NOT NULL
                     AND low > 0 AND high >= low THEN high END AS hv,
               CASE WHEN high IS NOT NULL AND low IS NOT NULL
                     AND low > 0 AND high >= low THEN low END AS lv
        FROM bars),
      cs_d AS (SELECT event_type, bar_ts, hv, lv,
                   lead(hv) OVER w AS h2, lead(lv) OVER w AS l2,
                   CASE WHEN hv IS NOT NULL THEN ln(hv / lv) END AS lnr1
            FROM cs_c WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      cs_e AS (SELECT event_type, bar_ts,
                   lnr1 * lnr1 + ln(h2 / l2) * ln(h2 / l2) AS beta,
                   CASE WHEN hv IS NOT NULL AND h2 IS NOT NULL THEN
                     ln(GREATEST(hv, h2) / LEAST(lv, l2))
                       * ln(GREATEST(hv, h2) / LEAST(lv, l2)) END AS gamma
            FROM cs_d),
      cs_f AS (SELECT event_type, bar_ts, beta, gamma,
                   (sqrt(2.0 * beta) - sqrt(beta)) / ${TA.CsDenom}
                     - sqrt(gamma / ${TA.CsDenom}) AS alpha
            FROM cs_e),
      cs AS (SELECT event_type, bar_ts,
                    round(beta, 6) AS cs_beta, round(gamma, 6) AS cs_gamma,
                    round(alpha, 6) AS cs_alpha,
                    CASE WHEN alpha IS NOT NULL THEN
                      round(GREATEST(2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)),
                                     0.0), 6) END AS cs_spread
             FROM cs_f)"""

  /** Abdi–Ranaldo per-bar chain → CTE `ar` (rounded, zero-normalized
    * images), shared by q_ar_spread and q_spread_compare. Requires
    * `bars` in scope. */
  private val arChainCte = s"""ar_c AS (
        SELECT event_type, bar_ts, close,
               CASE WHEN high IS NOT NULL AND low IS NOT NULL
                     AND close IS NOT NULL AND low > 0
                     AND high >= low AND close > 0
                    THEN (ln(high) + ln(low)) / 2.0 END AS eta
        FROM bars),
      ar_d AS (SELECT event_type, bar_ts,
                   4.0 * (ln(close) - eta) * (ln(close) - lead(eta) OVER w) AS s2
            FROM ar_c WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      ar_e AS (SELECT event_type, bar_ts, s2,
                   CAST(round(s2 * 1e12) AS BIGINT) AS s2q
            FROM ar_d),
      ar_f AS (SELECT event_type, bar_ts, s2,
                   count(s2q) OVER tw AS nok,
                   sum(s2q) OVER tw AS ssum
            FROM ar_e WINDOW tw AS (PARTITION BY event_type ORDER BY bar_ts
                                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      ar AS (SELECT event_type, bar_ts,
                    round(s2, 6) + 0.0 AS ar_s2,
                    CASE WHEN s2 IS NOT NULL
                         THEN round(sqrt(GREATEST(s2, 0.0)), 6) + 0.0 END AS ar_spread,
                    CASE WHEN nok = 24
                         THEN round(sqrt(GREATEST(
                                CAST(ssum AS DOUBLE) / 1e12 / CAST(nok AS DOUBLE),
                                0.0)), 6) + 0.0 END AS ar_spread_roll
             FROM ar_f)"""

  private val qCsSpread = QDef(
    "q_cs_spread",
    (s, dir) => TA.withCorwinSchultz(hourlyBars(s, dir), "high", "low", barsW)
      .select(col("event_type"), micros(col("bar_ts")).as("bar_ts_us"),
        col("cs_beta"), col("cs_gamma"), col("cs_alpha"), col("cs_spread"))
      .orderBy("event_type", "bar_ts_us"),
    Some(s"""
      WITH $barsCte,
      $csChainCte
      SELECT event_type, epoch_us(bar_ts) AS bar_ts_us,
             cs_beta, cs_gamma, cs_alpha, cs_spread
      FROM cs ORDER BY event_type, bar_ts_us"""))

  // Abdi-Ranaldo close-high-low spread on the same hourly bars —
  // the one-parameter complement to q_cs_spread: s² from the close's
  // covariance with the two bracketing mid-ranges, per-pair and
  // trailing-24h (pico-quantized moment sums), floored at 0 per the
  // paper; invalid bars and estimate-less pairs stay null explicitly.
  private val qArSpread = QDef(
    "q_ar_spread",
    (s, dir) => TA.withAbdiRanaldo(hourlyBars(s, dir), "high", "low",
        "close", barsW, window = 24)
      .select(col("event_type"), micros(col("bar_ts")).as("bar_ts_us"),
        col("ar_s2"), col("ar_spread"), col("ar_spread_roll"))
      .orderBy("event_type", "bar_ts_us"),
    Some(s"""
      WITH $barsCte,
      $arChainCte
      SELECT event_type, epoch_us(bar_ts) AS bar_ts_us,
             ar_s2, ar_spread, ar_spread_roll
      FROM ar ORDER BY event_type, bar_ts_us"""))

  // ------------------------------------------------------------------
  // Orderbook features (A1-A4, W29/W30, J4) over a book synthesized
  // deterministically from events (the testdata ships no book table)
  // ------------------------------------------------------------------

  /** Synthetic order book: hourly snapshots per symbol (= event_type, so
    * the series windows genuinely partition), side by event parity,
    * unique prices (value + event_id·1e-6) so level ordering is total. */
  private def syntheticBook(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_type").as("symbol"),
      date_trunc("hour", col("ts")).as("ts"),
      when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
      (col("value") + col("event_id") * lit(1e-6)).as("price"),
      col("value").as("amount"))

  private val bookCte = """
      book AS (
        SELECT event_type AS symbol,
               date_trunc('hour', ts) AS ts,
               CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
               value + CAST(event_id AS DOUBLE) * 1e-6 AS price,
               value AS amount
        FROM events)"""

  /** Best-level + best-size CTE chain over the synthetic book, shared by
    * q_microprice and q_ofi (one definition so the two oracles cannot
    * silently diverge on level/size semantics). */
  private val bookBestSzCte = s"""$bookCte,
      best AS (SELECT symbol, ts,
                      MAX(CASE WHEN side = 'bid' THEN price END) AS bid_px,
                      MIN(CASE WHEN side = 'ask' THEN price END) AS ask_px
               FROM book GROUP BY 1, 2),
      sz AS (SELECT bk.symbol, bk.ts, best.bid_px, best.ask_px,
                    CAST(SUM(CASE WHEN bk.side = 'bid' AND bk.price = best.bid_px
                                  THEN CAST(bk.amount AS DECIMAL(18,2))
                                  ELSE CAST(0.0 AS DECIMAL(18,2)) END) AS DOUBLE) AS bid_sz,
                    CAST(SUM(CASE WHEN bk.side = 'ask' AND bk.price = best.ask_px
                                  THEN CAST(bk.amount AS DECIMAL(18,2))
                                  ELSE CAST(0.0 AS DECIMAL(18,2)) END) AS DOUBLE) AS ask_sz
             FROM book bk JOIN best USING (symbol, ts)
             GROUP BY 1, 2, 3, 4)"""

  // Microprice (size-weighted expected mid) over the synthetic book:
  // each side's best price weighted by the OPPOSITE side's best-level
  // size — decimal-exact sizes, one fixed double tree, 6-dp rounded.
  private val qMicroprice = QDef(
    "q_microprice",
    (s, dir) => graft.features.OrderbookFeatures
      .micropriceSeries(syntheticBook(s, dir), Seq("symbol"))
      .select(col("symbol"), micros(col("ts")).as("ts_us"),
        round(col("bid_px"), 6).as("bid_px"), round(col("ask_px"), 6).as("ask_px"),
        round(col("bid_sz"), 6).as("bid_sz"), round(col("ask_sz"), 6).as("ask_sz"),
        round(col("microprice"), 6).as("microprice"))
      .orderBy("symbol", "ts_us"),
    Some(s"""
      WITH $bookBestSzCte
      SELECT symbol, epoch_us(ts) AS ts_us,
             round(bid_px, 6) AS bid_px, round(ask_px, 6) AS ask_px,
             round(bid_sz, 6) AS bid_sz, round(ask_sz, 6) AS ask_sz,
             CASE WHEN bid_px IS NOT NULL AND ask_px IS NOT NULL
                   AND bid_sz + ask_sz > 0
                  THEN round((bid_px * ask_sz + ask_px * bid_sz) / (bid_sz + ask_sz), 6)
             END AS microprice
      FROM sz ORDER BY symbol, ts_us"""))

  // Order-flow imbalance over consecutive best-level states of the
  // synthetic book — the Cont-Kukanov-Stoikov price-impact driver; the
  // oracle replays best levels, sizes, the per-series LAG, and the
  // four-term conditional exactly.
  private val qOfi = QDef(
    "q_ofi",
    (s, dir) => graft.features.OrderbookFeatures
      .ofiSeries(syntheticBook(s, dir), Seq("symbol"))
      .select(col("symbol"), micros(col("ts")).as("ts_us"),
        round(col("ofi"), 6).as("ofi"))
      .orderBy("symbol", "ts_us"),
    Some(s"""
      WITH $bookBestSzCte,
      l AS (SELECT symbol, ts, bid_px, ask_px, bid_sz, ask_sz,
                   LAG(bid_px) OVER w AS pb, LAG(ask_px) OVER w AS pa,
                   LAG(bid_sz) OVER w AS pqb, LAG(ask_sz) OVER w AS pqa
            FROM sz WINDOW w AS (PARTITION BY symbol ORDER BY ts))
      SELECT symbol, epoch_us(ts) AS ts_us,
             CASE WHEN bid_px IS NOT NULL AND ask_px IS NOT NULL
                   AND pb IS NOT NULL AND pa IS NOT NULL
                  THEN round((CASE WHEN bid_px >= pb THEN bid_sz ELSE 0.0 END)
                             - (CASE WHEN bid_px <= pb THEN pqb ELSE 0.0 END)
                             - (CASE WHEN ask_px <= pa THEN ask_sz ELSE 0.0 END)
                             + (CASE WHEN ask_px >= pa THEN pqa ELSE 0.0 END), 6)
             END AS ofi
      FROM l ORDER BY symbol, ts_us"""))

  // Lee–Ready trade classification + effective spread over the
  // synthetic book's hourly best quotes: quote test against the as-of
  // prevailing mid, tick-rule fallback at the mid / before any quote —
  // the MEASURED microstructure series the Roll/CS/AR estimators
  // approximate. The oracle replays the best-level quotes, DuckDB's
  // native ASOF LEFT JOIN, the zero-tick carry, and the 6-dp spread.
  /** Lee–Ready oracle chain → CTE `lr` (per-trade classification +
    * 6-dp spreads), shared by q_lee_ready and q_spread_compare. The
    * quotes CTE is DOUBLE-typed on purpose, and since round 12 so is
    * the shared bookCte (`1e-6` E-notation): a `0.000001` literal is
    * DECIMAL in DuckDB, whose exact product converts to double in ONE
    * rounding where Spark rounds the double×double product — a 1-ULP
    * price skew that q_orderbook's RAW spread surfaced at sf0.1
    * (6-dp-rounded outputs masked it at smaller SFs). */
  private val leeChainCte = """lr_best AS (
        SELECT event_type AS symbol, epoch_us(date_trunc('hour', ts)) AS q_ts,
               MAX(CASE WHEN event_id % 2 = 0 THEN value + event_id * 1e-6 END) AS bid_px,
               MIN(CASE WHEN event_id % 2 = 1 THEN value + event_id * 1e-6 END) AS ask_px
        FROM events GROUP BY 1, 2),
      lr_tr AS (SELECT event_type AS symbol, epoch_us(ts) AS ts_us, event_id,
                    value AS price
             FROM events),
      lr_a AS (SELECT lr_tr.symbol, lr_tr.ts_us, lr_tr.event_id, lr_tr.price,
                   lr_best.bid_px, lr_best.ask_px
            FROM lr_tr ASOF LEFT JOIN lr_best
              ON lr_tr.symbol = lr_best.symbol AND lr_tr.ts_us >= lr_best.q_ts),
      lr_m AS (SELECT *,
                   CASE WHEN bid_px IS NOT NULL AND ask_px IS NOT NULL
                        THEN (bid_px + ask_px) / 2.0 END AS mid,
                   sign(price - lag(price) OVER w) AS tsgn
            FROM lr_a WINDOW w AS (PARTITION BY symbol ORDER BY ts_us, event_id)),
      lr_s AS (SELECT *,
                    last_value(CASE WHEN tsgn <> 0 THEN tsgn END IGNORE NULLS)
                      OVER (PARTITION BY symbol ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tickdir
             FROM lr_m),
      lr_c AS (SELECT *,
                   CASE WHEN mid IS NOT NULL AND price > mid THEN 1
                        WHEN mid IS NOT NULL AND price < mid THEN -1
                        ELSE CAST(tickdir AS BIGINT) END AS lr_side
            FROM lr_s),
      lr AS (SELECT symbol, ts_us, event_id, price, bid_px, ask_px, mid,
                    lr_side,
                    CASE WHEN mid IS NOT NULL AND lr_side IS NOT NULL
                         THEN round(2.0 * CAST(lr_side AS DOUBLE) * (price - mid), 6) + 0.0
                    END AS espread,
                    CASE WHEN mid IS NOT NULL AND lr_side IS NOT NULL AND mid <> 0
                         THEN round(2.0 * CAST(lr_side AS DOUBLE) * (price - mid) / mid, 6) + 0.0
                    END AS espread_rel
             FROM lr_c)"""

  // Estimator-vs-measured closure: per symbol, the MEASURED mean
  // relative effective spread (Lee–Ready classified trades) beside the
  // Corwin–Schultz and Abdi–Ranaldo per-bar estimator means — the
  // validation query a microstructure user runs to calibrate the
  // estimator family against classified truth. All three means are
  // exact ·10⁶ integer sums with the single-arg round image (the
  // q_bet_size doctrine — round(x, 6) diverges at true midpoints).
  private val qSpreadCompare = QDef(
    "q_spread_compare",
    (s, dir) => {
      def meanImage(sumCol: Column, nCol: Column): Column =
        round(sumCol.cast("double") / nCol.cast("double"))
          .cast("long").cast("double") / lit(1e6)
      val meas = leeReadyFrame(s, dir)
        .where(col("espread_rel").isNotNull)
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_trades"),
          sum(round(col("espread_rel") * 1e6).cast("long")).as("_ss"))
        .select(col("symbol"), col("n_trades"),
          meanImage(col("_ss"), col("n_trades")).as("eff_spread_rel"))
      val cs = TA.withCorwinSchultz(hourlyBars(s, dir), "high", "low", barsW)
        .where(col("cs_spread").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cs"),
          sum(round(col("cs_spread") * 1e6).cast("long")).as("_cs"))
        .select(col("event_type").as("_k_cs"), col("n_cs"),
          meanImage(col("_cs"), col("n_cs")).as("cs_spread_mean"))
      val ar = TA.withAbdiRanaldo(hourlyBars(s, dir), "high", "low",
          "close", barsW, window = 24)
        .where(col("ar_spread").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_ar"),
          sum(round(col("ar_spread") * 1e6).cast("long")).as("_ar"))
        .select(col("event_type").as("_k_ar"), col("n_ar"),
          meanImage(col("_ar"), col("n_ar")).as("ar_spread_mean"))
      meas
        .join(broadcast(cs), col("symbol") === col("_k_cs"))
        .join(broadcast(ar), col("symbol") === col("_k_ar"))
        .select(col("symbol"), col("n_trades"), col("eff_spread_rel"),
          col("n_cs"), col("cs_spread_mean"), col("n_ar"), col("ar_spread_mean"))
        .orderBy("symbol")
    },
    Some(s"""
      WITH $barsCte,
      $csChainCte,
      $arChainCte,
      $leeChainCte,
      meas AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_trades,
                      CAST(sum(CAST(round(espread_rel * 1e6) AS BIGINT)) AS BIGINT) AS ss
               FROM lr WHERE espread_rel IS NOT NULL GROUP BY 1),
      csm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cs,
                     CAST(sum(CAST(round(cs_spread * 1e6) AS BIGINT)) AS BIGINT) AS cc
              FROM cs WHERE cs_spread IS NOT NULL GROUP BY 1),
      arm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_ar,
                     CAST(sum(CAST(round(ar_spread * 1e6) AS BIGINT)) AS BIGINT) AS aa
              FROM ar WHERE ar_spread IS NOT NULL GROUP BY 1)
      SELECT m.symbol, m.n_trades,
             CAST(CAST(round(CAST(ss AS DOUBLE) / CAST(n_trades AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS eff_spread_rel,
             c.n_cs,
             CAST(CAST(round(CAST(cc AS DOUBLE) / CAST(n_cs AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS cs_spread_mean,
             a.n_ar,
             CAST(CAST(round(CAST(aa AS DOUBLE) / CAST(n_ar AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS ar_spread_mean
      FROM meas m JOIN csm c ON c.event_type = m.symbol
                  JOIN arm a ON a.event_type = m.symbol
      ORDER BY symbol"""))

  /** The Lee–Ready per-trade frame over the synthetic book's hourly best
    * quotes — shared by q_lee_ready and q_spread_compare. */
  private def leeReadyFrame(s: SparkSession, dir: String): DataFrame = {
    val quotes = graft.features.OrderbookFeatures
      .micropriceSeries(syntheticBook(s, dir), Seq("symbol"))
      .select(col("symbol"), col("ts"), col("bid_px"), col("ask_px"))
    val trades = t(s, dir, "events").select(
      col("event_type").as("symbol"), col("ts"), col("value"), col("event_id"))
    graft.features.OrderbookFeatures.leeReady(trades, quotes, Seq("symbol"),
      tradeTs = "ts", priceCol = "value", tiebreakCol = "event_id",
      quoteTs = "ts", bidCol = "bid_px", askCol = "ask_px")
  }

  private val qLeeReady = QDef(
    "q_lee_ready",
    (s, dir) => leeReadyFrame(s, dir)
        .select(col("symbol"), col("ts_us"), col("tiebreak").as("event_id"),
          col("price"), col("bid_px"), col("ask_px"), col("mid"),
          col("lr_side"), col("espread"), col("espread_rel"))
        .orderBy("symbol", "ts_us", "event_id"),
    Some(s"""
      WITH $leeChainCte
      SELECT symbol, ts_us, event_id, price, bid_px, ask_px, mid,
             lr_side, espread, espread_rel
      FROM lr ORDER BY symbol, ts_us, event_id"""))

  // Hasbrouck trade-impact lambda (AFML ch. 19 §19.5.3) on the
  // Lee–Ready signs: per symbol, regress the hourly mid change on the
  // hour's signed square-root dollar flow Σ q·√|p| (the synthetic tape
  // has no size column, so |price| proxies the flow) — the TRADE-side
  // impact coefficient beside q_impact_lambda's book-side (OFI) Kyle
  // lambda. Exact ·10⁶ moment sums, no-intercept OLS in one tree.
  private val qHasbrouckLambda = QDef(
    "q_hasbrouck_lambda",
    (s, dir) => {
      val lr = leeReadyFrame(s, dir)
        .where(col("lr_side").isNotNull && col("price").isNotNull &&
          col("mid").isNotNull)
        .withColumn("bucket", expr("(ts_us - pmod(ts_us, 3600000000L)) div 3600000000L"))
      val perBucket = lr.groupBy(col("symbol"), col("bucket"))
        .agg(sum(round(col("lr_side").cast("double") * sqrt(abs(col("price")))
            * 1e6).cast("long")).as("xq"),
          // ties at one ts_us share the same as-of quote, hence the same
          // mid — a plain ts key is deterministic (and DuckDB's max_by
          // takes no struct keys)
          max_by(col("mid"), col("ts_us")).as("end_mid"))
      val w = Window.partitionBy(col("symbol")).orderBy(col("bucket"))
      val pairs = perBucket
        .withColumn("yq",
          round((col("end_mid") - lag(col("end_mid"), 1).over(w)) * 1e6).cast("long"))
        .where(col("yq").isNotNull)
      // the per-bucket flow sum xq can reach ~1e10 on a dense one-sided
      // tape, so xq² and its cross-bucket sum must ride DECIMAL(38,0)/
      // HUGEINT (the pcaRoundsSql envelope convention) — BIGINT would
      // silently wrap in Spark and raise in DuckDB
      val D38h = DecimalType(38, 0)
      pairs.groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("xq").cast(D38h) * col("yq")).as("_sxy"),
          sum(col("xq").cast(D38h) * col("xq")).as("_sxx"))
        .select(col("symbol"), col("n_buckets"),
          when(col("_sxx") > 0L,
            round(col("_sxy").cast("double") / col("_sxx").cast("double"), 6)
              + lit(0.0)).as("lambda_hasbrouck"))
        .orderBy("symbol")
    },
    Some(s"""
      WITH $leeChainCte,
      b AS (SELECT symbol,
                   (ts_us - ts_us % 3600000000) // 3600000000 AS bucket,
                   CAST(sum(CAST(round(CAST(lr_side AS DOUBLE) * sqrt(abs(price)) * 1e6) AS BIGINT)) AS BIGINT) AS xq,
                   max_by(mid, ts_us) AS end_mid
            FROM lr
            WHERE lr_side IS NOT NULL AND price IS NOT NULL AND mid IS NOT NULL
            GROUP BY 1, 2),
      p AS (SELECT symbol, bucket, xq,
                   CAST(round((end_mid - lag(end_mid) OVER w) * 1e6) AS BIGINT) AS yq
            FROM b WINDOW w AS (PARTITION BY symbol ORDER BY bucket)),
      m AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_buckets,
                   sum(CAST(xq AS HUGEINT) * yq) AS sxy,
                   sum(CAST(xq AS HUGEINT) * xq) AS sxx
            FROM p WHERE yq IS NOT NULL GROUP BY 1)
      SELECT symbol, n_buckets,
             CASE WHEN sxx > 0
                  THEN round(CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE), 6) + 0.0
             END AS lambda_hasbrouck
      FROM m ORDER BY symbol"""))

  // Effective-to-quoted spread ratio per symbol — the price-improvement
  // diagnostic closing the spread family (ratio < 1: trades execute
  // inside the prevailing quote; > 1: outside): per classified trade
  // the quoted spread ask−bid of its as-of quote and the Lee–Ready
  // effective spread, both as exact µ-integer sums; the ratio is the
  // single division Σeff/Σquoted (ratio of sums ≡ ratio of means over
  // the same trades). Rides the shared classified frame, one grouped
  // agg, no extra joins.
  private val qSpreadRatio = QDef(
    "q_spread_ratio",
    (s, dir) => {
      val lr = leeReadyFrame(s, dir)
        .where(col("espread").isNotNull && col("bid_px").isNotNull &&
          col("ask_px").isNotNull)
        .withColumn("qq", round((col("ask_px") - col("bid_px")) * 1e6).cast("long"))
        .withColumn("eq", round(col("espread") * 1e6).cast("long"))
      lr.groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_trades"),
          sum(col("qq")).as("_sq"), sum(col("eq")).as("_se"))
        .select(col("symbol"), col("n_trades"),
          (round(col("_sq").cast("double") / col("n_trades").cast("double"))
            .cast("long").cast("double") / lit(1e6)).as("quoted_mean"),
          (round(col("_se").cast("double") / col("n_trades").cast("double"))
            .cast("long").cast("double") / lit(1e6)).as("eff_mean"),
          when(col("_sq") > 0L,
            round(col("_se").cast("double") / col("_sq").cast("double"), 6)
              + lit(0.0)).as("eff_to_quoted"))
        .orderBy("symbol")
    },
    Some(s"""
      WITH $leeChainCte,
      tq AS (SELECT symbol,
                    CAST(round((ask_px - bid_px) * 1e6) AS BIGINT) AS qq,
                    CAST(round(espread * 1e6) AS BIGINT) AS eq
             FROM lr
             WHERE espread IS NOT NULL AND bid_px IS NOT NULL
               AND ask_px IS NOT NULL),
      ag AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_trades,
                    CAST(sum(qq) AS BIGINT) AS sq,
                    CAST(sum(eq) AS BIGINT) AS se
             FROM tq GROUP BY 1)
      SELECT symbol, n_trades,
             CAST(CAST(round(CAST(sq AS DOUBLE) / CAST(n_trades AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS quoted_mean,
             CAST(CAST(round(CAST(se AS DOUBLE) / CAST(n_trades AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS eff_mean,
             CASE WHEN sq > 0
                  THEN round(CAST(se AS DOUBLE) / CAST(sq AS DOUBLE), 6) + 0.0
             END AS eff_to_quoted
      FROM ag ORDER BY symbol"""))

  // Two-state Markov-switching regime filter (Hamilton 1989, Bernoulli
  // emissions on the hourly close-change SIGN): forward-filtered
  // P(bull) per event_type. Bernoulli emissions keep the per-step
  // update a fixed IEEE +,−,×,÷ tree with literal likelihoods — no
  // libm inside the feedback loop — so the oracle replays the exact
  // recursion as a recursive CTE over the hourly grid, per series
  // (the q_kalman_hedge doctrine, partitioned). Null/zero signs carry
  // the state; rows before the first signed move emit null.
  /** Engine regime frame over the hourly bars — shared by
    * q_regime_prob and q_regime_attribution: per series the 6-dp
    * filtered P(bull) and its integer-image flag. */
  private def regimeFrame(s: SparkSession, dir: String): DataFrame = {
    val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
    hourlyBars(s, dir)
      .withColumn("sgn", signum(col("close") - lag(col("close"), 1).over(sw)))
      .withColumn("regime_p",
        round(W.regimeProb(col("sgn"), a01 = RegimeA01, a10 = RegimeA10,
          u0 = RegimeU0, u1 = RegimeU1, barsW), 6))
      .withColumn("bull",
        when(col("regime_p").isNotNull,
          (round(col("regime_p") * 1e6).cast("long") > 500000L).cast("long")))
  }

  /** Regime-filter oracle recursion → CTEs `o` (event_type, bar_ts,
    * close, chg, rn) and `scan` (event_type, rn, p) — the exact
    * per-series IEEE recursion, shared by q_regime_prob and
    * q_regime_attribution (one definition rule). Callers prepend
    * `WITH RECURSIVE $barsCte,`. */
  private val regimeScanSql: String = {
    def d(x: Double) = java.lang.Double.toString(x)
    val b = d(1.0 - RegimeA10)
    val a01s = d(RegimeA01)
    def step(prior: String, sgn: String): String = {
      val l1 = s"(CASE WHEN $sgn > 0 THEN ${d(RegimeU1)} ELSE ${d(1.0 - RegimeU1)} END)"
      val l0 = s"(CASE WHEN $sgn > 0 THEN ${d(RegimeU0)} ELSE ${d(1.0 - RegimeU0)} END)"
      s"(($prior * $l1) / (($prior * $l1) + ((1.0 - $prior) * $l0)))"
    }
    val prior = s"(CASE WHEN s.p IS NULL THEN 0.5 ELSE (s.p * $b + (1.0 - s.p) * $a01s) END)"
    s"""o AS MATERIALIZED (
        SELECT event_type, bar_ts, close,
               close - lag(close) OVER w AS chg,
               row_number() OVER w AS rn
        FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      scan(event_type, rn, p) AS (
        SELECT event_type, rn,
               CASE WHEN chg IS NOT NULL AND chg <> 0
                    THEN ${step("0.5", "chg")} END
        FROM o WHERE rn = 1
        UNION ALL
        SELECT f.event_type, f.rn,
               CASE WHEN f.chg IS NOT NULL AND f.chg <> 0
                    THEN ${step(prior, "f.chg")}
                    ELSE s.p END
        FROM scan s JOIN o f
          ON f.event_type = s.event_type AND f.rn = s.rn + 1)"""
  }

  private val qRegimeProb = QDef(
    "q_regime_prob",
    (s, dir) => regimeFrame(s, dir)
      .select(col("event_type"), micros(col("bar_ts")).as("bar_ts_us"),
        col("close"), col("regime_p"), col("bull"))
      .orderBy("event_type", "bar_ts_us"),
    Some(s"""
      WITH RECURSIVE $barsCte,
      $regimeScanSql
      SELECT o.event_type, epoch_us(o.bar_ts) AS bar_ts_us, o.close,
             round(scan.p, 6) AS regime_p,
             CASE WHEN scan.p IS NOT NULL
                  THEN CAST(CAST(round(round(scan.p, 6) * 1e6) AS BIGINT) > 500000 AS BIGINT)
             END AS bull
      FROM o JOIN scan ON scan.event_type = o.event_type AND scan.rn = o.rn
      ORDER BY o.event_type, bar_ts_us"""))

  // Regime-conditioned attribution: does the filtered regime carry
  // information? Per (series, bull-flag): bar count, mean NEXT-hour
  // return (exact µ-integer sums, single-arg-round image) and the
  // up-bar hit rate — the validation query for q_regime_prob (the
  // q_spread_compare pattern: measured downstream truth beside the
  // model's state). One grouped agg over the shared regime frame.
  private val qRegimeAttribution = QDef(
    "q_regime_attribution",
    (s, dir) => {
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val f = regimeFrame(s, dir)
        .withColumn("nrq",
          round((lead(col("close"), 1).over(sw) / col("close") - lit(1.0)) * 1e6)
            .cast("long"))
        .where(col("bull").isNotNull && col("nrq").isNotNull)
      f.groupBy(col("event_type"), col("bull"))
        .agg(count(lit(1)).as("n_bars"),
          sum(col("nrq")).as("_s"),
          sum(when(col("nrq") > 0L, 1L).otherwise(0L)).as("_h"))
        .select(col("event_type"), col("bull"), col("n_bars"),
          (round(col("_s").cast("double") / col("n_bars").cast("double"))
            .cast("long").cast("double") / lit(1e6)).as("mean_next_ret"),
          (round(col("_h").cast("double") * lit(1e6) / col("n_bars").cast("double"))
            .cast("long").cast("double") / lit(1e6)).as("hit_rate"))
        .orderBy("event_type", "bull")
    },
    Some(s"""
      WITH RECURSIVE $barsCte,
      $regimeScanSql,
      rf AS (SELECT o.event_type, o.rn,
                    CASE WHEN scan.p IS NOT NULL
                         THEN CAST(CAST(round(round(scan.p, 6) * 1e6) AS BIGINT) > 500000 AS BIGINT)
                    END AS bull,
                    CAST(round((lead(o.close) OVER wr / o.close - 1.0) * 1e6) AS BIGINT) AS nrq
             FROM o JOIN scan ON scan.event_type = o.event_type AND scan.rn = o.rn
             WINDOW wr AS (PARTITION BY o.event_type ORDER BY o.rn)),
      ag AS (SELECT event_type, bull, CAST(count(*) AS BIGINT) AS n_bars,
                    CAST(sum(nrq) AS BIGINT) AS s,
                    CAST(sum(CASE WHEN nrq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS h
             FROM rf WHERE bull IS NOT NULL AND nrq IS NOT NULL
             GROUP BY 1, 2)
      SELECT event_type, bull, n_bars,
             CAST(CAST(round(CAST(s AS DOUBLE) / CAST(n_bars AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS mean_next_ret,
             CAST(CAST(round(CAST(h AS DOUBLE) * 1e6 / CAST(n_bars AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS hit_rate
      FROM ag ORDER BY event_type, bull"""))

  // Cross-sectional momentum (Jegadeesh–Titman long-short, hourly):
  // per hour, rank the series by trailing-24h return, hold the
  // rank-demeaned long-short portfolio for the next hour. Ranks are
  // exact integers on the µ-quantized signal (event_type tiebreak),
  // integer weights 2·rank−(n+1) double the demeaned rank so they
  // stay BIGINTs, and the portfolio return is one exact integer dot
  // product normalized by Σ|w| — only the final division is floating
  // point (single-arg round image, the q_bet_size doctrine).
  private val qXsMomentum = QDef(
    "q_xs_momentum",
    (s, dir) => {
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val sig = hourlyBars(s, dir)
        .withColumn("r24q",
          round((col("close") / lag(col("close"), 24).over(sw) - lit(1.0)) * 1e6)
            .cast("long"))
        .withColumn("nrq",
          round((lead(col("close"), 1).over(sw) / col("close") - lit(1.0)) * 1e6)
            .cast("long"))
        .where(col("r24q").isNotNull && col("nrq").isNotNull)
      val bw = Window.partitionBy(col("bar_ts"))
        .orderBy(col("r24q"), col("event_type"))
      val ranked = sig
        .withColumn("rk", row_number().over(bw))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("bar_ts"))))
        .where(col("n") >= 2)
        .withColumn("wq", lit(2L) * col("rk") - (col("n") + lit(1L)))
      ranked.groupBy(col("bar_ts"))
        .agg(max(col("n")).as("n_series"),
          sum(col("wq") * col("nrq")).as("_num"),
          sum(abs(col("wq"))).as("_den"))
        .select(micros(col("bar_ts")).as("bar_ts_us"), col("n_series"),
          (round(col("_num").cast("double") / col("_den").cast("double"))
            .cast("long").cast("double") / lit(1e6)).as("port_ret"))
        .orderBy("bar_ts_us")
    },
    Some(s"""
      WITH $barsCte,
      sig AS (SELECT event_type, bar_ts,
                     CAST(round((close / lag(close, 24) OVER w - 1.0) * 1e6) AS BIGINT) AS r24q,
                     CAST(round((lead(close, 1) OVER w / close - 1.0) * 1e6) AS BIGINT) AS nrq
              FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      f AS (SELECT * FROM sig WHERE r24q IS NOT NULL AND nrq IS NOT NULL),
      rk AS (SELECT *,
                    row_number() OVER (PARTITION BY bar_ts ORDER BY r24q, event_type) AS rk,
                    count(*) OVER (PARTITION BY bar_ts) AS n
             FROM f),
      wts AS (SELECT *, 2 * rk - (n + 1) AS wq FROM rk WHERE n >= 2)
      SELECT epoch_us(bar_ts) AS bar_ts_us,
             CAST(max(n) AS BIGINT) AS n_series,
             CAST(CAST(round(CAST(sum(wq * nrq) AS DOUBLE)
                             / CAST(sum(abs(wq)) AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS port_ret
      FROM wts GROUP BY bar_ts ORDER BY bar_ts_us"""))

  // Implementation shortfall (Perold 1988) per parent order: group the
  // Lee–Ready classified tape into per-(symbol, hour, side) parent
  // orders, arrival = the prevailing mid at the parent's FIRST trade,
  // shortfall = side·(mean exec px − arrival)/arrival — the execution-
  // quality measure beside q_lee_ready's per-trade effective spread.
  // Exec mean and arrival are exact µ-integer images; one grouped agg
  // on the classified frame, no extra joins.
  private val qImplShortfall = QDef(
    "q_impl_shortfall",
    (s, dir) => {
      val lr = leeReadyFrame(s, dir)
        .where(col("lr_side").isNotNull && col("mid").isNotNull)
        .withColumn("bucket", expr("(ts_us - pmod(ts_us, 3600000000L)) div 3600000000L"))
        .withColumn("pxq", round(col("price") * 1e6).cast("long"))
        .withColumn("midq", round(col("mid") * 1e6).cast("long"))
      val parents = lr.groupBy(col("symbol"), col("bucket"), col("lr_side"))
        .agg(count(lit(1)).as("n_trades"),
          min_by(col("midq"), struct(col("ts_us"), col("tiebreak"))).as("arrq"),
          sum(col("pxq")).as("_spx"))
      parents
        .select(col("symbol"), col("bucket"), col("lr_side"), col("n_trades"),
          (col("arrq").cast("double") / lit(1e6)).as("arrival_mid"),
          when(col("arrq") =!= 0L,
            round(col("lr_side").cast("double")
              * (round(col("_spx").cast("double") / col("n_trades").cast("double"))
                  .cast("long").cast("double") - col("arrq").cast("double"))
              / col("arrq").cast("double"), 6) + lit(0.0)).as("shortfall_rel"))
        .orderBy("symbol", "bucket", "lr_side")
    },
    Some(s"""
      WITH $leeChainCte,
      tq AS (SELECT symbol,
                    (ts_us - ts_us % 3600000000) // 3600000000 AS bucket,
                    lr_side, ts_us, event_id,
                    CAST(round(price * 1e6) AS BIGINT) AS pxq,
                    CAST(round(mid * 1e6) AS BIGINT) AS midq
             FROM lr WHERE lr_side IS NOT NULL AND mid IS NOT NULL),
      ranked AS (SELECT *,
                        row_number() OVER (PARTITION BY symbol, bucket, lr_side
                                           ORDER BY ts_us, event_id) AS rn
                 FROM tq),
      par AS (SELECT symbol, bucket, lr_side,
                     CAST(count(*) AS BIGINT) AS n_trades,
                     CAST(max(CASE WHEN rn = 1 THEN midq END) AS BIGINT) AS arrq,
                     CAST(sum(pxq) AS BIGINT) AS spx
              FROM ranked GROUP BY 1, 2, 3)
      SELECT symbol, bucket, lr_side, n_trades,
             CAST(arrq AS DOUBLE) / 1e6 AS arrival_mid,
             CASE WHEN arrq <> 0 THEN
               round(CAST(lr_side AS DOUBLE)
                     * (CAST(CAST(round(CAST(spx AS DOUBLE) / CAST(n_trades AS DOUBLE)) AS BIGINT) AS DOUBLE)
                        - CAST(arrq AS DOUBLE))
                     / CAST(arrq AS DOUBLE), 6) + 0.0
             END AS shortfall_rel
      FROM par ORDER BY symbol, bucket, lr_side"""))

  // Empirical tail-dependence coefficients per series pair (the
  // copula-level diagnostic linear correlation misses): λ_U =
  // P(Y above its 95 % order stat | X above its own), λ_L the mirror
  // at 5 % — joint crash/boom propensity. Thresholds are EXACT order
  // statistics of the ⌊·10⁴⌋-quantized hourly means (rank k = ⌈0.95 n⌉
  // in pure integer arithmetic, (bucket) tie-break so the rank is
  // total); every count is an exact integer over the bucket equi-join;
  // one double division at the edge per pair. Pair frame is key²-sized.
  private val qTailDep = QDef(
    "q_tail_dep",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type").as("k"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(floor(dsum(col("value")) / count(lit(1)) * 1e4).cast("long").as("vq"))
        .where(col("vq").isNotNull)
      val sw = Window.partitionBy(col("k")).orderBy(col("vq"), col("bucket"))
      val ranked = hourly
        .withColumn("rnk", row_number().over(sw))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("k"))))
        .withColumn("k_hi", expr("(n * 95 + 99) div 100"))
        .withColumn("k_lo", expr("(n * 5) div 100 + 1"))
      val thr = ranked.groupBy(col("k"))
        .agg(max(when(col("rnk") === col("k_hi"), col("vq"))).as("thr_hi"),
          max(when(col("rnk") === col("k_lo"), col("vq"))).as("thr_lo"))
      val side = hourly.join(broadcast(thr), Seq("k"))
        .select(col("k"), col("bucket"),
          (col("vq") > col("thr_hi")).cast("long").as("hi"),
          (col("vq") < col("thr_lo")).cast("long").as("lo"))
      val a = side.select(col("k").as("ka"), col("bucket"),
        col("hi").as("hia"), col("lo").as("loa"))
      val b = side.select(col("k").as("kb"), col("bucket"),
        col("hi").as("hib"), col("lo").as("lob"))
      a.join(b, Seq("bucket")).where(col("ka") < col("kb"))
        .groupBy(col("ka"), col("kb"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("hia")).as("_na"), sum(col("hia") * col("hib")).as("_nb"),
          sum(col("loa")).as("_la"), sum(col("loa") * col("lob")).as("_lb"))
        .select(col("ka").as("key_a"), col("kb").as("key_b"), col("n_buckets"),
          when(col("_na") > 0L,
            (round(col("_nb").cast("double") * lit(1e6) / col("_na").cast("double"))
              .cast("long").cast("double") / lit(1e6))).as("lambda_u"),
          when(col("_la") > 0L,
            (round(col("_lb").cast("double") * lit(1e6) / col("_la").cast("double"))
              .cast("long").cast("double") / lit(1e6))).as("lambda_l"))
        .orderBy("key_a", "key_b")
    },
    Some("""
      WITH h0 AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e4) AS BIGINT) AS vq
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE vq IS NOT NULL),
      r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY vq, bucket) AS rnk,
                   count(*) OVER (PARTITION BY k) AS n
            FROM h),
      r2 AS (SELECT *, (n * 95 + 99) // 100 AS k_hi, (n * 5) // 100 + 1 AS k_lo FROM r),
      thr AS (SELECT k, CAST(max(CASE WHEN rnk = k_hi THEN vq END) AS BIGINT) AS thr_hi,
                     CAST(max(CASE WHEN rnk = k_lo THEN vq END) AS BIGINT) AS thr_lo
              FROM r2 GROUP BY 1),
      side AS (SELECT h.k, h.bucket,
                      CAST(h.vq > thr.thr_hi AS BIGINT) AS hi,
                      CAST(h.vq < thr.thr_lo AS BIGINT) AS lo
               FROM h JOIN thr ON thr.k = h.k),
      p AS (SELECT a.k AS key_a, b.k AS key_b,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(a.hi) AS BIGINT) AS na,
                   CAST(sum(a.hi * b.hi) AS BIGINT) AS nb,
                   CAST(sum(a.lo) AS BIGINT) AS la,
                   CAST(sum(a.lo * b.lo) AS BIGINT) AS lb
            FROM side a JOIN side b ON a.bucket = b.bucket AND a.k < b.k
            GROUP BY 1, 2)
      SELECT key_a, key_b, n_buckets,
             CASE WHEN na > 0 THEN
               CAST(CAST(round(CAST(nb AS DOUBLE) * 1e6 / CAST(na AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6
             END AS lambda_u,
             CASE WHEN la > 0 THEN
               CAST(CAST(round(CAST(lb AS DOUBLE) * 1e6 / CAST(la AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6
             END AS lambda_l
      FROM p ORDER BY key_a, key_b"""))

  // Order-flow sign autocorrelation on the Lee–Ready classified tape
  // (the "long memory of order flow" diagnostic, Bouchaud et al. 2004):
  // per symbol, ACF of the trade-sign series at lags 1..5 — products
  // of ±1 signs are exact integers, so each ACF value is one integer
  // ratio with the single-arg-round image. Rides the shared classified
  // frame; five series-keyed lag windows on one sort, stacked long.
  private val FlowAcfLags = 5
  private val qFlowAcf = QDef(
    "q_flow_acf",
    (s, dir) => {
      val sw = Window.partitionBy(col("symbol")).orderBy(col("ts_us"), col("tiebreak"))
      val lr = leeReadyFrame(s, dir)
        .where(col("lr_side").isNotNull)
        .select(col("symbol"), col("ts_us"), col("tiebreak"),
          col("lr_side").cast("long").as("sgn"))
      val lagged = (1 to FlowAcfLags).foldLeft(lr) { (df, l) =>
        df.withColumn(s"p$l", col("sgn") * lag(col("sgn"), l).over(sw))
      }
      val stacked = lagged.select(col("symbol"),
        expr((1 to FlowAcfLags).map(l => s"$l, p$l")
          .mkString(s"stack($FlowAcfLags, ", ", ", ")")).as(Seq("lag", "prod")))
      stacked.where(col("prod").isNotNull)
        .groupBy(col("symbol"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("prod")).as("_s"))
        .select(col("symbol"), col("lag"), col("n_pairs"),
          (round(col("_s").cast("double") * lit(1e6) / col("n_pairs").cast("double"))
            .cast("long").cast("double") / lit(1e6)).as("sign_acf"))
        .orderBy("symbol", "lag")
    },
    Some({
      val unions = (1 to FlowAcfLags).map(l =>
        s"""SELECT symbol, $l AS lag, sgn * lag(sgn, $l) OVER w$l AS prod
            FROM sg WINDOW w$l AS (PARTITION BY symbol ORDER BY ts_us, event_id)""")
        .mkString("\n      UNION ALL\n      ")
      s"""
      WITH $leeChainCte,
      sg AS (SELECT symbol, ts_us, event_id, CAST(lr_side AS BIGINT) AS sgn
             FROM lr WHERE lr_side IS NOT NULL),
      st AS ($unions),
      ag AS (SELECT symbol, lag, CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(sum(prod) AS BIGINT) AS s
             FROM st WHERE prod IS NOT NULL GROUP BY 1, 2)
      SELECT symbol, CAST(lag AS INT) AS lag, n_pairs,
             CAST(CAST(round(CAST(s AS DOUBLE) * 1e6 / CAST(n_pairs AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS sign_acf
      FROM ag ORDER BY symbol, lag"""
    }))

  // Realized semivariance (Barndorff-Nielsen–Kinnebrock–Shephard 2010):
  // per (series, day) the upside/downside decomposition of realized
  // variance from hourly LOG returns (the RV convention — and the
  // bounded image: the synthetic tape has 1e3×-ratio hours, so simple
  // returns overflow the squared-integer envelope where |ln r|·10⁶
  // stays ≤ ~3e7) — RS⁻ prices crash risk where RV is sign-blind —
  // plus the signed jump variation ΔJ = RS⁺ − RS⁻. Every statistic is
  // an EXACT µ²-integer sum emitted as the exact /1e12 double image
  // (the 6-dp log image is the only libm touch, the W3 logret
  // precedent). One grouped agg after one series-keyed window.
  private val qSemivariance = QDef(
    "q_semivariance",
    (s, dir) => {
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val r = hourlyBars(s, dir)
        .withColumn("retq",
          when(col("close") > 0.0 && lag(col("close"), 1).over(sw) > 0.0,
            round(log(col("close") / lag(col("close"), 1).over(sw)) * 1e6)
              .cast("long")))
        .where(col("retq").isNotNull)
        .withColumn("day", date_trunc("day", col("bar_ts")))
      r.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_rets"),
          sum(col("retq") * col("retq")).as("_rv"),
          sum(when(col("retq") > 0L, col("retq") * col("retq"))
            .otherwise(0L)).as("_up"),
          sum(when(col("retq") < 0L, col("retq") * col("retq"))
            .otherwise(0L)).as("_dn"))
        .select(col("event_type"), micros(col("day")).as("day_us"),
          col("n_rets"),
          (col("_rv").cast("double") / lit(1e12)).as("rv"),
          (col("_up").cast("double") / lit(1e12)).as("rsv_up"),
          (col("_dn").cast("double") / lit(1e12)).as("rsv_down"),
          ((col("_up") - col("_dn")).cast("double") / lit(1e12))
            .as("signed_jump"))
        .orderBy("event_type", "day_us")
    },
    Some(s"""
      WITH $barsCte,
      r AS (SELECT event_type, bar_ts,
                   CASE WHEN close > 0 AND lag(close, 1) OVER w > 0
                        THEN CAST(round(ln(close / lag(close, 1) OVER w) * 1e6) AS BIGINT)
                   END AS retq
            FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      d AS (SELECT event_type, date_trunc('day', bar_ts) AS day, retq
            FROM r WHERE retq IS NOT NULL),
      ag AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_rets,
                    CAST(sum(retq * retq) AS BIGINT) AS rv,
                    CAST(sum(CASE WHEN retq > 0 THEN retq * retq ELSE 0 END) AS BIGINT) AS up,
                    CAST(sum(CASE WHEN retq < 0 THEN retq * retq ELSE 0 END) AS BIGINT) AS dn
             FROM d GROUP BY 1, 2)
      SELECT event_type, epoch_us(day) AS day_us, n_rets,
             CAST(rv AS DOUBLE) / 1e12 AS rv,
             CAST(up AS DOUBLE) / 1e12 AS rsv_up,
             CAST(dn AS DOUBLE) / 1e12 AS rsv_down,
             CAST(up - dn AS DOUBLE) / 1e12 AS signed_jump
      FROM ag ORDER BY event_type, day_us"""))

  // Haar wavelet variance by scale (Gençay–Selçuk–Whitcher 2001): the
  // multiscale decomposition of return variance — per (series, dyadic
  // scale j ∈ 1..3) the mean squared Haar detail over non-overlapping
  // 2ʲ-hour blocks of log returns (first half − second half of each
  // block). Details are EXACT signed integer block sums of the 6-dp
  // log images; only full blocks count; the energy sum rides
  // DECIMAL(38,0)/HUGEINT (d² ~3e16 × hundreds of blocks brushes
  // 2⁶³). A vol concentrated at short scales decays fast in j; long-
  // memory vol stays flat — the scale fingerprint beside q_hurst.
  private val qWaveletVar = QDef(
    "q_wavelet_var",
    (s, dir) => {
      val D38w = DecimalType(38, 0)
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val r = hourlyBars(s, dir)
        .withColumn("retq",
          when(col("close") > 0.0 && lag(col("close"), 1).over(sw) > 0.0,
            round(log(col("close") / lag(col("close"), 1).over(sw)) * 1e6)
              .cast("long")))
        .where(col("retq").isNotNull)
        .withColumn("rn", row_number().over(sw))
      val scales = (1 to 3).map { j =>
        val half = 1 << (j - 1); val len = 1 << j
        r.withColumn("blk", expr(s"(rn - 1) div $len"))
          .withColumn("sd",
            (when(expr(s"(rn - 1) % $len") < half, lit(1L)).otherwise(lit(-1L))
              * col("retq")))
          .groupBy(col("event_type"), col("blk"))
          .agg(count(lit(1)).as("cnt"), sum(col("sd")).as("d"))
          .where(col("cnt") === len)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("d").cast(D38w) * col("d")).as("_e"))
          .select(col("event_type"), lit(j).as("scale"), col("n_blocks"),
            (round(col("_e").cast("double") / col("n_blocks").cast("double")
              / lit(len.toDouble) / lit(1e12), 6) + lit(0.0)).as("wvar"))
      }
      scales.reduce(_ unionByName _).orderBy("event_type", "scale")
    },
    Some({
      val branches = (1 to 3).map { j =>
        val half = 1 << (j - 1); val len = 1 << j
        s"""SELECT event_type, $j AS scale,
               CAST(count(*) AS BIGINT) AS n_blocks,
               round(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / $len.0 / 1e12, 6) + 0.0 AS wvar
            FROM (SELECT event_type, (rn - 1) // $len AS blk,
                         CAST(count(*) AS BIGINT) AS cnt,
                         CAST(sum((CASE WHEN (rn - 1) % $len < $half THEN 1 ELSE -1 END) * retq) AS BIGINT) AS d
                  FROM rr GROUP BY 1, 2)
            WHERE cnt = $len GROUP BY 1, 2"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH $barsCte,
      r0 AS (SELECT event_type, bar_ts,
                   CASE WHEN close > 0 AND lag(close, 1) OVER w > 0
                        THEN CAST(round(ln(close / lag(close, 1) OVER w) * 1e6) AS BIGINT)
                   END AS retq
            FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      rr AS (SELECT event_type, retq,
                    row_number() OVER (PARTITION BY event_type ORDER BY bar_ts) AS rn
             FROM r0 WHERE retq IS NOT NULL),
      sc AS ($branches)
      SELECT event_type, CAST(scale AS INT) AS scale, n_blocks, wvar
      FROM sc ORDER BY event_type, scale"""
    }))

  // Cornish–Fisher moment-adjusted VaR (1937 expansion) per series —
  // the PARAMETRIC complement to q_var_cvar's historical quantile:
  // the Gaussian 95 % z bends by the sample skew/excess-kurtosis
  // z_cf = z + (z²−1)S/6 + (z³−3z)K/24 − (2z³−5z)S²/36, so fat left
  // tails raise VaR where the Gaussian understates it. Raw moment
  // sums of the 6-dp log-return images are exact (Σr² BIGINT; Σr³/Σr⁴
  // ride DECIMAL(38,0)/HUGEINT — (2.3e7)⁴ ≈ 3e29/row), central
  // moments/S/K/z_cf are ONE fixed double tree on both engines, and z
  // interpolates from the JVM via [[operators.Backtest.invNorm]] (the
  // deflated-Sharpe precedent). S/K enter z_cf through their 6-dp
  // images so the adjustment is replayed from the published moments.
  private val qCfVar = QDef(
    "q_cf_var",
    (s, dir) => {
      val D38c = DecimalType(38, 0)
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val r = hourlyBars(s, dir)
        .withColumn("retq",
          when(col("close") > 0.0 && lag(col("close"), 1).over(sw) > 0.0,
            round(log(col("close") / lag(col("close"), 1).over(sw)) * 1e6)
              .cast("long")))
        .where(col("retq").isNotNull)
      val m = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("retq")).as("_s1"),
          sum(col("retq") * col("retq")).as("_s2"),
          sum(col("retq").cast(D38c) * col("retq") * col("retq")).as("_s3"),
          sum(col("retq").cast(D38c) * col("retq") * col("retq") * col("retq"))
            .as("_s4"))
      val nD = col("n").cast("double")
      val r1 = col("_s1").cast("double") / nD / lit(1e6)
      val r2 = col("_s2").cast("double") / nD / lit(1e12)
      val r3 = col("_s3").cast("double") / nD / lit(1e18)
      val r4 = col("_s4").cast("double") / nD / lit(1e24)
      val m2 = r2 - r1 * r1
      val m3 = r3 - lit(3.0) * r1 * r2 + lit(2.0) * r1 * r1 * r1
      val m4 = r4 - lit(4.0) * r1 * r3 + lit(6.0) * r1 * r1 * r2 -
        lit(3.0) * r1 * r1 * r1 * r1
      val m2ok = (nD * col("_s2").cast("double") -
        col("_s1").cast("double") * col("_s1").cast("double")) > 0.0
      val skew = when(m2ok, round(m3 / (m2 * sqrt(m2)), 6) + lit(0.0))
      val kurt = when(m2ok, round(m4 / (m2 * m2) - lit(3.0), 6) + lit(0.0))
      // the expansion coefficients fold in Scala so BOTH engines see
      // the same literal doubles (a DuckDB decimal-literal product of
      // the raw z polynomial needs DECIMAL scale 48 — out of range;
      // literal × DOUBLE column promotes cleanly)
      val z = operators.Backtest.invNorm(0.05)
      val zc = lit(z)
      val cfS = (z * z - 1.0) / 6.0
      val cfK = (z * z * z - 3.0 * z) / 24.0
      val cfS2 = -(2.0 * z * z * z - 5.0 * z) / 36.0
      def zCf(sC: Column, kC: Column): Column =
        zc + lit(cfS) * sC + lit(cfK) * kC + lit(cfS2) * sC * sC
      val withSk = m.withColumn("skew", skew).withColumn("kurt_excess", kurt)
        .withColumn("_m2ok", m2ok)
      withSk.select(col("event_type"), col("n").as("n_rets"),
          col("skew"), col("kurt_excess"),
          when(col("_m2ok") && col("n") >= 4L,
            round(lit(0.0) - (r1 + zc * sqrt(m2)), 6) + lit(0.0))
            .as("var_gauss_95"),
          when(col("_m2ok") && col("n") >= 4L,
            round(lit(0.0) - (r1 + zCf(col("skew"), col("kurt_excess")) * sqrt(m2)), 6)
              + lit(0.0)).as("var_cf_95"))
        .orderBy("event_type")
    },
    Some({
      def d(x: Double) = java.lang.Double.toString(x)
      val zd = operators.Backtest.invNorm(0.05)
      val z = d(zd)
      val zcf = s"($z + ${d((zd * zd - 1.0) / 6.0)} * skew + " +
        s"${d((zd * zd * zd - 3.0 * zd) / 24.0)} * kurt_excess + " +
        s"${d(-(2.0 * zd * zd * zd - 5.0 * zd) / 36.0)} * skew * skew)"
      s"""
      WITH $barsCte,
      r0 AS (SELECT event_type,
                   CASE WHEN close > 0 AND lag(close, 1) OVER w > 0
                        THEN CAST(round(ln(close / lag(close, 1) OVER w) * 1e6) AS BIGINT)
                   END AS retq
            FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(retq) AS BIGINT) AS s1,
                   CAST(sum(retq * retq) AS BIGINT) AS s2,
                   sum(CAST(retq AS HUGEINT) * retq * retq) AS s3,
                   sum(CAST(retq AS HUGEINT) * retq * retq * retq) AS s4
            FROM r0 WHERE retq IS NOT NULL GROUP BY 1),
      c AS (SELECT event_type, n,
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS r1,
                   CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e12 AS r2,
                   CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) / 1e18 AS r3,
                   CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) / 1e24 AS r4,
                   (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) > 0.0 AS m2ok
            FROM m),
      k AS (SELECT *, r2 - r1 * r1 AS m2,
                   CASE WHEN m2ok THEN
                     round((r3 - 3.0 * r1 * r2 + 2.0 * r1 * r1 * r1)
                           / ((r2 - r1 * r1) * sqrt(r2 - r1 * r1)), 6) + 0.0
                   END AS skew,
                   CASE WHEN m2ok THEN
                     round((r4 - 4.0 * r1 * r3 + 6.0 * r1 * r1 * r2 - 3.0 * r1 * r1 * r1 * r1)
                           / ((r2 - r1 * r1) * (r2 - r1 * r1)) - 3.0, 6) + 0.0
                   END AS kurt_excess
            FROM c)
      SELECT event_type, n AS n_rets, skew, kurt_excess,
             CASE WHEN m2ok AND n >= 4
                  THEN round(0.0 - (r1 + $z * sqrt(m2)), 6) + 0.0 END AS var_gauss_95,
             CASE WHEN m2ok AND n >= 4
                  THEN round(0.0 - (r1 + $zcf * sqrt(m2)), 6) + 0.0 END AS var_cf_95
      FROM k ORDER BY event_type"""
    }))

  // Hill tail-index estimator (Hill 1975) per series: the power-law
  // exponent α of the |log return| tail from the top k = 50 order
  // statistics, α = k / Σᵢ(ln x₍ᵢ₎ − ln x₍ₖ₊₁₎) — the fat-tail
  // severity diagnostic beside q_semivariance's crash pricing (α ≲ 3:
  // infinite-ish fourth moment). Order-stat membership is value-
  // deterministic (boundary ties share the boundary VALUE, so the sum
  // is tie-invariant; row_number still totals the order); the log
  // images are the 6-dp µ-nat integers, Σ differences are exact, and
  // α's µ-image is the single-arg round of one exact-integer ratio.
  // One series-keyed rank window + one grouped agg, no joins.
  private val HillK = 50
  private val qHillTail = QDef(
    "q_hill_tail",
    (s, dir) => {
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val r = hourlyBars(s, dir)
        .withColumn("retq",
          when(col("close") > 0.0 && lag(col("close"), 1).over(sw) > 0.0,
            round(log(col("close") / lag(col("close"), 1).over(sw)) * 1e6)
              .cast("long")))
        .where(col("retq").isNotNull && col("retq") =!= 0L)
        .withColumn("aq", abs(col("retq")))
        .withColumn("lnq",
          round(log(col("aq").cast("double") / lit(1e6)) * 1e6).cast("long"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("aq").desc, col("bar_ts"))))
      val agg = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_obs"),
          sum(when(col("rnk") <= HillK, col("lnq"))).as("_st"),
          max(when(col("rnk") === HillK + 1, col("lnq"))).as("_lb"),
          max(when(col("rnk") === HillK + 1, col("aq"))).as("_xb"))
      val sd = col("_st") - lit(HillK.toLong) * col("_lb")
      agg.select(col("event_type"), col("n_obs"),
          (col("_xb").cast("double") / lit(1e6)).as("x_boundary"),
          when(col("n_obs") >= HillK + 1 && sd > 0L,
            round(lit(HillK.toDouble) * lit(1e12) / sd.cast("double"))
              .cast("long").cast("double") / lit(1e6)).as("hill_alpha"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH $barsCte,
      r0 AS (SELECT event_type, bar_ts,
                   CASE WHEN close > 0 AND lag(close, 1) OVER w > 0
                        THEN CAST(round(ln(close / lag(close, 1) OVER w) * 1e6) AS BIGINT)
                   END AS retq
            FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts)),
      rr AS (SELECT event_type, bar_ts, abs(retq) AS aq,
                    CAST(round(ln(CAST(abs(retq) AS DOUBLE) / 1e6) * 1e6) AS BIGINT) AS lnq
             FROM r0 WHERE retq IS NOT NULL AND retq <> 0),
      rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                          ORDER BY aq DESC, bar_ts) AS rnk
             FROM rr),
      ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
                    CAST(sum(CASE WHEN rnk <= $HillK THEN lnq END) AS BIGINT) AS st,
                    CAST(max(CASE WHEN rnk = ${HillK + 1} THEN lnq END) AS BIGINT) AS lb,
                    CAST(max(CASE WHEN rnk = ${HillK + 1} THEN aq END) AS BIGINT) AS xb
             FROM rk GROUP BY 1)
      SELECT event_type, n_obs,
             CAST(xb AS DOUBLE) / 1e6 AS x_boundary,
             CASE WHEN n_obs >= ${HillK + 1} AND (st - $HillK * lb) > 0
                  THEN CAST(CAST(round(${HillK}.0 * 1e12 / CAST(st - $HillK * lb AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6
             END AS hill_alpha
      FROM ag ORDER BY event_type"""))

  // Minimum spanning tree of the correlation network (Mantegna 1999):
  // d = √(2(1−ρ)) on the LW-CC shrunk correlation. Under the TOTAL
  // (dq, a, b) edge order the minimum spanning forest is unique, so the
  // engine's driver Kruskal and the oracle's Borůvka rounds (per round
  // every component picks its minimum outgoing edge, merged labels
  // flood by min-label jumps) hash-match edge for edge once the oracle
  // fully merges: at the 5 event-type keys its 3 rounds cover
  // ⌈log₂ 5⌉ = 3 and its 4 jumps cover the longest chain (≤ 4 hops).
  // MstRounds/MstJumps size only the oracle SQL below.
  // The backbone HRP-style clustering walks, as a first-class query.
  private val MstRounds = 3
  private val MstJumps = 4
  private val qCorrMst = QDef(
    "q_corr_mst",
    (s, dir) => {
      val dist = corrPairs(s, dir).where(col("key_a") < col("key_b"))
        .select(col("key_a"), col("key_b"),
          sqrt(lit(2.0) * (lit(1.0) - col("corr"))).as("dist"))
      Relational.minSpanningTree(dist, "dist")
        .orderBy("key_a", "key_b")
    },
    Some({
      val blocks = (1 to MstRounds).map { r =>
        val prevC = if (r == 1) "c0" else s"c${r - 1}"
        val labChain = (1 to MstJumps).map { j =>
          val prevL = s"lb${r}_${j - 1}"
          s"""lb${r}_$j AS MATERIALIZED (SELECT t.l, least(t.lab, COALESCE(mn.mn, t.lab)) AS lab
             FROM $prevL t LEFT JOIN (
               SELECT ce.x, min(nl.lab) AS mn
               FROM ce$r ce JOIN $prevL nl ON nl.l = ce.y GROUP BY ce.x) mn
             ON mn.x = t.l)"""
        }.mkString(",\n      ")
        s"""oe$r AS MATERIALIZED (SELECT e.a, e.b, e.dq, ca.comp AS ca, cb.comp AS cb
             FROM edges0 e JOIN $prevC ca ON ca.node = e.a
                           JOIN $prevC cb ON cb.node = e.b
             WHERE ca.comp <> cb.comp),
      bi$r AS (SELECT ca AS c, a, b, dq, ca, cb FROM oe$r
               UNION ALL SELECT cb AS c, a, b, dq, ca, cb FROM oe$r),
      pk$r AS MATERIALIZED (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY c ORDER BY dq, a, b) AS rn
               FROM bi$r) WHERE rn = 1),
      ce$r AS MATERIALIZED (SELECT ca AS x, cb AS y FROM pk$r
               UNION SELECT cb AS x, ca AS y FROM pk$r),
      lb${r}_0 AS (SELECT DISTINCT comp AS l, comp AS lab FROM $prevC),
      $labChain,
      c$r AS MATERIALIZED (SELECT c.node, lb.lab AS comp
             FROM $prevC c JOIN lb${r}_$MstJumps lb ON lb.l = c.comp)"""
      }.mkString(",\n      ")
      val msts = (1 to MstRounds)
        .map(r => s"SELECT DISTINCT a, b, dq FROM pk$r")
        .mkString("\n      UNION\n      ")
      s"""
      WITH $lwCcCteSql,
      $corrCteSql,
      edges0 AS MATERIALIZED (
        SELECT a, b, CAST(round(sqrt(2.0 * (1.0 - corr)) * 1e6) AS BIGINT) AS dq
        FROM corr WHERE a < b AND corr IS NOT NULL),
      nodes AS (SELECT DISTINCT nn AS node FROM
                (SELECT a AS nn FROM edges0 UNION ALL SELECT b FROM edges0)),
      c0 AS MATERIALIZED (SELECT node, node AS comp FROM nodes),
      $blocks,
      mste AS ($msts)
      SELECT a AS key_a, b AS key_b, CAST(dq AS DOUBLE) / 1e6 AS dist
      FROM mste ORDER BY key_a, key_b"""
    }))

  // Kelly sizing fraction per series (continuous approximation
  // f* = μ/σ², Thorp 2006): hourly simple returns quantized to exact
  // 1e4-integers (|ret| ≤ 3e5 at ~1e4-bucket series keeps n·Σr² inside
  // 2⁶³ — the sadf overflow-contract convention), moments summed
  // exactly, μ as the single-arg-round µ-image of the integer ratio,
  // f* and half-Kelly in one double tree at the edge. One grouped agg
  // after one series-keyed window — no joins.
  private val qKelly = QDef(
    "q_kelly",
    (s, dir) => {
      val sw = Window.partitionBy(col("event_type")).orderBy(col("bar_ts"))
      val r = hourlyBars(s, dir)
        .withColumn("retq",
          round((col("close") / lag(col("close"), 1).over(sw) - lit(1.0)) * 1e4)
            .cast("long"))
        .where(col("retq").isNotNull)
      val agg = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("retq")).as("s1"),
          sum(col("retq") * col("retq")).as("s2"))
      val nD = col("n").cast("double")
      val s1D = col("s1").cast("double")
      val s2D = col("s2").cast("double")
      val varU = (nD * s2D - s1D * s1D) / (nD * (nD - lit(1.0)))
      val kelly = when(col("n") >= 2L &&
          (col("n") * col("s2") - col("s1") * col("s1")) > 0L,
        round((s1D / nD / lit(1e4)) / (varU / lit(1e8)), 6) + lit(0.0))
      agg.select(col("event_type"), col("n"),
          (round(s1D * lit(100.0) / nD).cast("long").cast("double") / lit(1e6))
            .as("mu"),
          kelly.as("kelly"),
          (kelly / lit(2.0)).as("kelly_half"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH $barsCte,
      r AS (SELECT event_type,
                   CAST(round((close / lag(close, 1) OVER (PARTITION BY event_type ORDER BY bar_ts) - 1.0) * 1e4) AS BIGINT) AS retq
            FROM bars),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(retq) AS BIGINT) AS s1,
                   CAST(sum(retq * retq) AS BIGINT) AS s2
            FROM r WHERE retq IS NOT NULL GROUP BY 1),
      k AS (SELECT event_type, n, s1, s2,
                   CASE WHEN n >= 2 AND (n * s2 - s1 * s1) > 0
                        THEN round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e4)
                               / ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e8), 6) + 0.0
                   END AS kelly
            FROM m)
      SELECT event_type, n,
             CAST(CAST(round(CAST(s1 AS DOUBLE) * 100.0 / CAST(n AS DOUBLE)) AS BIGINT) AS DOUBLE) / 1e6 AS mu,
             kelly, kelly / 2.0 AS kelly_half
      FROM k ORDER BY event_type"""))

  // Almgren–Chriss optimal execution schedule (2000, J. Risk 3(2)):
  // the risk-averse liquidation trajectory x_k = X·sinh(κ(T−k))/sinh(κT)
  // per parent order. κ and T are DESIGN constants, so the seven sinh
  // ratios interpolate from the JVM as literal doubles (the CsDenom /
  // invNorm precedent — data-independent libm is shared as literal
  // text, never evaluated per-engine); per parent the schedule is one
  // exact double product + single-arg-round µ-image per slice. Parent
  // orders = per-(symbol, hour) trade counts; fan-out is the
  // protocol's own ×T, via one generator — no joins.
  private val AcKappa = 0.6
  private val AcSlices = 6
  private val qAcSchedule = QDef(
    "q_ac_schedule",
    (s, dir) => {
      def rem(k: Int): Double =
        math.sinh(AcKappa * (AcSlices - k)) / math.sinh(AcKappa * AcSlices)
      val parents = t(s, dir, "events")
        .groupBy(col("event_type").as("symbol"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n_trades"))
      val slices = explode(array((1 to AcSlices).map { k =>
        struct(lit(k).as("k"), lit(rem(k - 1) - rem(k)).as("share"),
          lit(rem(k)).as("remfrac"))
      }: _*)).as("sl")
      parents.select(col("symbol"), micros(col("bucket")).as("bucket_us"),
          col("n_trades"), slices)
        .select(col("symbol"), col("bucket_us"), col("n_trades"),
          col("sl.k").as("k"),
          (round(col("n_trades").cast("double") * col("sl.share") * 1e6)
            .cast("long").cast("double") / lit(1e6)).as("slice_qty"),
          (round(col("n_trades").cast("double") * col("sl.remfrac") * 1e6)
            .cast("long").cast("double") / lit(1e6)).as("remaining_qty"))
        .orderBy("symbol", "bucket_us", "k")
    },
    Some({
      def d(x: Double) = java.lang.Double.toString(x)
      def rem(k: Int): Double =
        math.sinh(AcKappa * (AcSlices - k)) / math.sinh(AcKappa * AcSlices)
      val vals = (1 to AcSlices).map(k =>
        s"(${k}, ${d(rem(k - 1) - rem(k))}, ${d(rem(k))})").mkString(", ")
      s"""
      WITH parents AS (
        SELECT event_type AS symbol, date_trunc('hour', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n_trades
        FROM events GROUP BY 1, 2),
      sl(k, share, remfrac) AS (VALUES $vals)
      SELECT symbol, epoch_us(bucket) AS bucket_us, n_trades,
             CAST(k AS INT) AS k,
             CAST(CAST(round(CAST(n_trades AS DOUBLE) * share * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS slice_qty,
             CAST(CAST(round(CAST(n_trades AS DOUBLE) * remfrac * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS remaining_qty
      FROM parents CROSS JOIN sl
      ORDER BY symbol, bucket_us, k"""
    }))

  // Multi-level OFI + depth-weighted queue imbalance over the synthetic
  // book's top-3 levels (decay 0.5 — exact IEEE weights): the CKS flow
  // rule per rank against the previous same-rank snapshot, geometric
  // level weights, fixed-point BIGINT sums per (symbol, ts).
  private val qOfiMultilevel = QDef(
    "q_ofi_multilevel",
    (s, dir) => graft.features.OrderbookFeatures
      .ofiMultiLevel(syntheticBook(s, dir), nLevels = 3, Seq("symbol"),
        decay = 0.5, scale = 1e6)
      .select(col("symbol"), micros(col("ts")).as("ts_us"),
        col("n_lvl_terms"), col("ofi_ml"), col("queue_imbalance"))
      .orderBy("symbol", "ts_us"),
    Some(s"""
      WITH $bookCte,
      rk AS (SELECT symbol, ts, side, price, amount,
                    row_number() OVER (PARTITION BY symbol, ts, side
                      ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END,
                               amount) AS rn
             FROM book),
      lv AS (SELECT * FROM rk WHERE rn <= 3),
      lg AS (SELECT symbol, ts, side, rn, price, amount,
                    LAG(price) OVER w AS pp, LAG(amount) OVER w AS pq,
                    power(0.5, rn - 1) AS wgt
             FROM lv WINDOW w AS (PARTITION BY symbol, side, rn ORDER BY ts)),
      tm AS (SELECT symbol, ts,
                    CASE WHEN pp IS NOT NULL THEN
                      CAST(floor((CASE WHEN side = 'bid'
                        THEN (CASE WHEN price >= pp THEN amount ELSE 0.0 END)
                             - (CASE WHEN price <= pp THEN pq ELSE 0.0 END)
                        ELSE (CASE WHEN price >= pp THEN pq ELSE 0.0 END)
                             - (CASE WHEN price <= pp THEN amount ELSE 0.0 END) END)
                        * wgt * 1e6) AS BIGINT) END AS term_fp,
                    CASE WHEN side = 'bid'
                         THEN CAST(floor(amount * wgt * 1e6) AS BIGINT)
                         ELSE 0 END AS bid_fp,
                    CASE WHEN side = 'ask'
                         THEN CAST(floor(amount * wgt * 1e6) AS BIGINT)
                         ELSE 0 END AS ask_fp
             FROM lg)
      SELECT symbol, epoch_us(ts) AS ts_us,
             CAST(COUNT(term_fp) AS BIGINT) AS n_lvl_terms,
             round(CAST(SUM(term_fp) AS DOUBLE) / 1e6, 6) AS ofi_ml,
             CASE WHEN SUM(bid_fp) + SUM(ask_fp) > 0
                  THEN round(CAST(SUM(bid_fp) - SUM(ask_fp) AS DOUBLE)
                             / CAST(SUM(bid_fp) + SUM(ask_fp) AS DOUBLE), 6)
             END AS queue_imbalance
      FROM tm GROUP BY 1, 2 ORDER BY symbol, ts_us"""))

  // Price-impact lambda per symbol: OLS slope of mid-price changes on
  // order-flow imbalance — the CKS/Kyle liquidity estimate; five exact
  // integer moment sums at scale 10² (bounded well under 2⁶³ for the
  // value-scale sizes), one row per series.
  private val qImpactLambda = QDef(
    "q_impact_lambda",
    (s, dir) => graft.features.OrderbookFeatures
      .impactLambda(syntheticBook(s, dir), Seq("symbol"), scale = 1e2)
      .orderBy("symbol"),
    Some(s"""
      WITH $bookBestSzCte,
      l AS (SELECT symbol, ts, bid_px, ask_px, bid_sz, ask_sz,
                   LAG(bid_px) OVER w AS pb, LAG(ask_px) OVER w AS pa,
                   LAG(bid_sz) OVER w AS pqb, LAG(ask_sz) OVER w AS pqa
            FROM sz WINDOW w AS (PARTITION BY symbol ORDER BY ts)),
      o AS (SELECT symbol, ts, (bid_px + ask_px) / 2.0 AS mid,
                   CASE WHEN bid_px IS NOT NULL AND ask_px IS NOT NULL
                         AND pb IS NOT NULL AND pa IS NOT NULL
                        THEN (CASE WHEN bid_px >= pb THEN bid_sz ELSE 0.0 END)
                             - (CASE WHEN bid_px <= pb THEN pqb ELSE 0.0 END)
                             - (CASE WHEN ask_px <= pa THEN ask_sz ELSE 0.0 END)
                             + (CASE WHEN ask_px >= pa THEN pqa ELSE 0.0 END)
                   END AS ofi
            FROM l),
      d AS (SELECT symbol, ofi,
                   mid - LAG(mid) OVER (PARTITION BY symbol ORDER BY ts) AS dmid
            FROM o),
      q AS (SELECT symbol,
                   CASE WHEN dmid IS NOT NULL AND ofi IS NOT NULL
                        THEN CAST(floor(ofi * 1e2) AS BIGINT) END AS x6,
                   CASE WHEN dmid IS NOT NULL AND ofi IS NOT NULL
                        THEN CAST(floor(dmid * 1e2) AS BIGINT) END AS y6
            FROM d),
      sm AS (SELECT symbol, CAST(COUNT(x6) AS BIGINT) AS n_obs,
                    CAST(SUM(x6) AS BIGINT) AS sx, CAST(SUM(y6) AS BIGINT) AS sy,
                    CAST(SUM(x6 * y6) AS BIGINT) AS sxy,
                    CAST(SUM(x6 * x6) AS BIGINT) AS sxx
             FROM q GROUP BY 1)
      SELECT symbol, n_obs,
             CASE WHEN (CAST(n_obs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                  THEN round((CAST(n_obs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                             / (CAST(n_obs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
             END AS lambda
      FROM sm ORDER BY symbol"""))

  private val qOrderbook = QDef(
    "q_orderbook",
    (s, dir) => {
      val book = syntheticBook(s, dir)
      val keys = Seq("symbol")
      // imbalance with decimal-exact volume sums (W29/A1)
      val vol = book.groupBy("symbol", "ts").agg(
        sum(when(col("side") === "bid", col("amount")).otherwise(lit(0.0)).cast(D))
          .cast("double").as("bid_vol"),
        sum(when(col("side") === "ask", col("amount")).otherwise(lit(0.0)).cast(D))
          .cast("double").as("ask_vol"))
      val total = col("bid_vol") + col("ask_vol")
      val imb = vol.select(col("symbol"), col("ts"),
        when(total =!= 0, (col("bid_vol") - col("ask_vol")) / total).otherwise(0.0)
          .as("imbalance"))
      // spread with as-of ffill of best ask onto the bid axis, windows
      // partitioned per book (W30/A3/J4)
      val spread = graft.features.OrderbookFeatures.spreadSeries(book, keys)
      // top-2 depth per side (A4/O3)
      val depth = graft.features.OrderbookFeatures.depthSeries(book, nLevels = 2, keys = keys)
      imb.join(spread, Seq("symbol", "ts"), "left")
        .join(depth, Seq("symbol", "ts"), "left")
        .select(col("symbol"), micros(col("ts")).as("ts_us"), col("imbalance"),
          col("spread"),
          col("bid_depth_1"), col("bid_depth_2"), col("ask_depth_1"), col("ask_depth_2"))
        .orderBy("symbol", "ts_us")
    },
    Some(s"""
      WITH $bookCte,
      vol AS (
        SELECT symbol, ts,
               CAST(SUM(CAST(CASE WHEN side = 'bid' THEN amount ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS bid_vol,
               CAST(SUM(CAST(CASE WHEN side = 'ask' THEN amount ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS ask_vol
        FROM book GROUP BY symbol, ts),
      imb AS (
        SELECT symbol, ts, CASE WHEN bid_vol + ask_vol != 0
                        THEN (bid_vol - ask_vol) / (bid_vol + ask_vol) ELSE 0.0 END AS imbalance
        FROM vol),
      bb AS (SELECT symbol, ts, MAX(price) AS best_bid FROM book WHERE side = 'bid' GROUP BY symbol, ts),
      ba AS (SELECT symbol, ts, MIN(price) AS best_ask FROM book WHERE side = 'ask' GROUP BY symbol, ts),
      sp AS (
        SELECT bb.symbol, bb.ts,
               COALESCE(LAST_VALUE(ba.best_ask IGNORE NULLS)
                 OVER (PARTITION BY bb.symbol ORDER BY bb.ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - bb.best_bid, 0.0) AS spread
        FROM bb LEFT JOIN ba ON bb.symbol = ba.symbol AND bb.ts = ba.ts),
      ranked AS (
        SELECT symbol, ts, side, amount,
               ROW_NUMBER() OVER (PARTITION BY symbol, ts, side
                 ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END, amount) AS rn
        FROM book),
      depth AS (
        SELECT symbol, ts,
               MAX(CASE WHEN side = 'bid' AND rn = 1 THEN amount END) AS bid_depth_1,
               MAX(CASE WHEN side = 'bid' AND rn = 2 THEN amount END) AS bid_depth_2,
               MAX(CASE WHEN side = 'ask' AND rn = 1 THEN amount END) AS ask_depth_1,
               MAX(CASE WHEN side = 'ask' AND rn = 2 THEN amount END) AS ask_depth_2
        FROM ranked WHERE rn <= 2 GROUP BY symbol, ts)
      SELECT i.symbol, epoch_us(i.ts) AS ts_us, i.imbalance, s.spread,
             d.bid_depth_1, d.bid_depth_2, d.ask_depth_1, d.ask_depth_2
      FROM imb i
      LEFT JOIN sp s ON i.symbol = s.symbol AND i.ts = s.ts
      LEFT JOIN depth d ON i.symbol = d.symbol AND i.ts = d.ts
      ORDER BY i.symbol, ts_us"""))

  // ------------------------------------------------------------------
  // Flagship §3.3: training matrix = features ⟕ close ⟕ resampled
  // aggregates + lead labels + zero fills (J1/J2/W4/A5)
  // ------------------------------------------------------------------

  private val qTrainingMatrix = QDef(
    "q_training_matrix",
    (s, dir) => {
      val bars = hourlyBars(s, dir)
        .select(col("event_type").as("symbol"), col("bar_ts").as("timestamp"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
      val w = W.series(Seq("symbol"), Seq("timestamp"))
      val features = bars.select(col("symbol"), col("timestamp"),
        W.pctChange(col("close"), 1, w).as("ret_1"))
      // hourly "social" aggregate: mean pseudo-sentiment + post count (A5)
      val social = t(s, dir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("timestamp"))
        .agg((sum((col("value") / 100.0).cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("sent_mean"),
          count(lit(1)).as("count"))
      val matrix = graft.features.TrainingMatrix.build(
        features, bars, marketJoinKeys = Seq("symbol", "timestamp"),
        aggs = Map("social" -> social), aggJoinKeys = Seq("timestamp"),
        labelKeys = Seq("symbol"), labelOrder = Seq("timestamp"))
      matrix.select(col("symbol"), micros(col("timestamp")).as("ts_us"),
          col("ret_1"), col("close"),
          round(col("social_sent_mean"), 6).as("social_sent_mean"),
          col("social_count"),
          col("ret_next"), col("y_dir"))
        .orderBy("symbol", "ts_us")
    },
    Some(s"""
      WITH $barsCte,
      f AS (
        SELECT event_type AS symbol, bar_ts AS timestamp, close,
               close / LAG(close) OVER (PARTITION BY event_type ORDER BY bar_ts) - 1 AS ret_1
        FROM bars),
      social AS (
        SELECT date_trunc('hour', ts) AS timestamp,
               CAST(SUM(CAST(value / 100.0 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS sent_mean,
               COUNT(*) AS cnt
        FROM events WHERE event_type = 'click' GROUP BY 1),
      joined AS (
        SELECT f.symbol, f.timestamp, f.ret_1, f.close,
               COALESCE(s.sent_mean, 0.0) AS social_sent_mean,
               COALESCE(s.cnt, 0) AS social_count
        FROM f LEFT JOIN social s ON f.timestamp = s.timestamp),
      labeled AS (
        SELECT *,
               LEAD(ret_1, 1) OVER (PARTITION BY symbol ORDER BY timestamp) AS ret_next
        FROM joined)
      SELECT symbol, epoch_us(timestamp) AS ts_us, ret_1, close,
             ROUND(social_sent_mean, 6) AS social_sent_mean, social_count,
             ret_next, CAST(ret_next > 0 AS BIGINT) AS y_dir
      FROM labeled
      WHERE ret_next IS NOT NULL
      ORDER BY symbol, ts_us"""))

  // ------------------------------------------------------------------
  // Training-data pipeline ops: dedup, text analysis, similarity (M9)
  // ------------------------------------------------------------------

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  private val qDedupExact = QDef(
    "q_dedup_exact",
    (s, dir) => Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id"),
    Some("""
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY text
      ORDER BY doc_id"""))

  private val qTextStats = QDef(
    "q_text_stats",
    (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents")
        .withColumn("_toks", toks)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("_toks")).as("n_tokens"),
          TextAnalysis.charCount(col("_toks")).as("n_token_chars"),
          TextAnalysis.avgTokenLen(col("_toks")).as("avg_token_len"),
          TextAnalysis.uniqueTokenRatio(col("_toks")).as("uniq_ratio"),
          TextAnalysis.wordSetCount(col("_toks"), TextAnalysis.StopwordsEn).as("n_stop_en"),
          TextAnalysis.qualityScore(col("_toks")).as("quality"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents),
      s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b) AS n_token_chars,
               len(list_filter(toks, t -> t IN (${sqlList(TextAnalysis.StopwordsEn)}))) AS n_stop_en,
               len(list_distinct(toks)) AS n_uniq
        FROM d)
      SELECT doc_id, n_tokens, n_token_chars,
             CAST(n_token_chars AS DOUBLE) / NULLIF(n_tokens, 0) AS avg_token_len,
             CAST(n_uniq AS DOUBLE) / NULLIF(n_tokens, 0) AS uniq_ratio,
             n_stop_en,
             0.4 * LEAST((CAST(n_stop_en AS DOUBLE) / NULLIF(n_tokens, 0)) * 5.0, 1.0)
               + 0.4 * (CAST(n_uniq AS DOUBLE) / NULLIF(n_tokens, 0))
               + 0.2 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000 THEN 1.0 ELSE 0.0 END) AS quality
      FROM s
      ORDER BY doc_id"""))

  private val qLangId = QDef(
    "q_lang_id",
    (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents")
        .withColumn("_toks", toks)
        .select(col("doc_id"), col("lang").as("lang_labeled"),
          TextAnalysis.langId(col("text"), col("_toks")).as("lang_pred"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents),
      sc AS (
        SELECT doc_id, lang, text,
               len(list_filter(toks, t -> t IN (${sqlList(TextAnalysis.StopwordsEn)}))) AS s_en,
               len(list_filter(toks, t -> t IN (${sqlList(TextAnalysis.StopwordsDe)}))) AS s_de,
               len(list_filter(toks, t -> t IN (${sqlList(TextAnalysis.StopwordsFr)}))) AS s_fr,
               len(list_filter(toks, t -> t IN (${sqlList(TextAnalysis.StopwordsEs)}))) AS s_es
        FROM d)
      SELECT doc_id, lang AS lang_labeled,
             CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                  WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                  WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
                  WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
                  WHEN s_fr >= s_es THEN 'fr'
                  ELSE 'es' END AS lang_pred
      FROM sc
      ORDER BY doc_id"""))

  private val qJaccardNearDup = QDef(
    "q_jaccard_neardup",
    // prefix-filtered EXACT similarity join (whole corpus, no blocking) —
    // same result set as the oracle's full pairwise scan
    (s, dir) => Dedup.jaccardSimilarityJoin(t(s, dir, "documents"),
        "text", "doc_id", shingleN = 3, threshold = 0.8)
      .orderBy("id_a", "id_b"),
    Some("""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
      sh AS (
        -- sub-n-token docs collapse to one whole-document shingle,
        -- mirroring shingleRows' pos-0 fallback
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
                 / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) AS jaccard
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id)
      SELECT id_a, id_b, jaccard FROM p
      WHERE jaccard >= 0.8
      ORDER BY id_a, id_b"""))

  // Directional containment pairs |A∩B|/|A| ≥ 0.8 — the
  // excerpt-inside-article shape Jaccard misses (C ≥ J always, so this
  // result set contains every q_jaccard_neardup pair in both
  // directions plus the asymmetric ones). The oracle is the full
  // pairwise scan over distinct shingle lists; the operator's prefix
  // filter + overlap verification must reproduce it exactly (the df
  // cap never binds at oracle scale).
  private val qContainment = QDef(
    "q_containment_dup",
    (s, dir) => Dedup.containmentJoin(t(s, dir, "documents"),
        "text", "doc_id", shingleN = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"), col("overlap").cast("long").as("overlap"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("containment"))
      .orderBy("id_a", "id_b"),
    Some("""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS BIGINT) AS overlap,
               CAST(len(a.s) AS BIGINT) AS n_a, CAST(len(b.s) AS BIGINT) AS n_b
        FROM sh a, sh b
        WHERE a.doc_id <> b.doc_id)
      SELECT id_a, id_b, overlap, n_a, n_b,
             CAST(overlap AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      FROM p
      WHERE CAST(overlap AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.8
      ORDER BY id_a, id_b"""))

  // The INCREMENTAL containment path (positional-postings index +
  // two-direction probe) under the q_containment_dup oracle restricted
  // to cross-parity pairs: index the even-id half (writeContainmentIndex
  // — batch-committed (id, j, h, n) postings), probe the odd-id half
  // (containmentAgainstIndex — batch prefixes vs index postings AND
  // index prefixes vs batch postings). Exercises the real
  // write→commit→read cycle per run, like q_neardup_incremental.
  private val qContainmentIncremental = QDef(
    "q_containment_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = java.nio.file.Files.createTempDirectory("graft_qctidx").toString
      Dedup.writeContainmentIndex(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", idx)
      Dedup.containmentAgainstIndex(s, idx, docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("overlap").cast("long").as("overlap"),
          col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
          col("containment"))
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS BIGINT) AS overlap,
               CAST(len(a.s) AS BIGINT) AS n_a, CAST(len(b.s) AS BIGINT) AS n_b
        FROM sh a, sh b
        WHERE a.doc_id <> b.doc_id AND (a.doc_id % 2) <> (b.doc_id % 2))
      SELECT id_a, id_b, overlap, n_a, n_b,
             CAST(overlap AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      FROM p
      WHERE CAST(overlap AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.8
      ORDER BY id_a, id_b"""))

  // Portable since round 2: md5-derived 48-bit base hash + universal-hash
  // permutations (aᵢ·h+bᵢ mod 2³¹−1) + arithmetic band folds — the full
  // MinHash-LSH pipeline (candidate generation INCLUDED) reproduces
  // bit-exactly in DuckDB.
  private val qMinhashNearDup = QDef(
    "q_minhash_neardup",
    (s, dir) => Dedup.minhashNearDupPairs(t(s, dir, "documents"),
        "text", "doc_id", shingleN = 3, k = 64, bands = 16, threshold = 0.8)
      .orderBy("id_a", "id_b"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      hd AS (SELECT doc_id, CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT) AS h
             FROM (SELECT doc_id, unnest(s) AS x FROM sh)),
      hb AS (SELECT doc_id, h, h % 2147483647 AS hm FROM hd),
      hp AS (SELECT doc_id, i,
               MIN((((1103515245*(i+1) + 12345) % 2147483647) * hm
                    + ((1103515245*(i+101) + 12345) % 2147483647)) % 2147483647) AS m
             FROM hb CROSS JOIN range(64) r(i) GROUP BY doc_id, i),
      b0 AS (SELECT doc_id, i // 4 AS band, i, m FROM hp),
      bandk AS (SELECT doc_id, band,
               list_reduce(list_prepend(CAST(band + 7 AS BIGINT), list(m ORDER BY i)),
                 (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bk
             FROM b0 GROUP BY doc_id, band),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bandk a JOIN bandk b
                 ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
      ov AS (SELECT c.id_a, c.id_b, COUNT(*) AS o
             FROM cand c
             JOIN hd x ON x.doc_id = c.id_a
             JOIN hd y ON y.doc_id = c.id_b AND y.h = x.h
             GROUP BY c.id_a, c.id_b),
      v AS (SELECT o.id_a, o.id_b, CAST(o.o AS DOUBLE) / (sa.n + sb.n - o.o) AS jaccard
            FROM ov o JOIN sz sa ON sa.doc_id = o.id_a JOIN sz sb ON sb.doc_id = o.id_b)
      SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""))

  // The INCREMENTAL dedup path (persisted index + probe) under the same
  // oracle: index the even-id half of the corpus (writeMinhashIndex —
  // batch-committed band/posting/size tables), probe the odd-id half
  // against it (nearDupAgainstIndex). Identical hashing/banding
  // constants make index+probe ≡ the cross-parity subset of one-shot
  // pairs, which is exactly what the oracle computes relationally — so
  // the at-least-once ingest loop's core operator is hash-verified, not
  // just spec-verified. The per-run temp index is the point: the query
  // exercises the real write→commit→read cycle, including committed-
  // batch filtering and band-directory pruning.
  private val qNearDupIncremental = QDef(
    "q_neardup_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = java.nio.file.Files.createTempDirectory("graft_qidx").toString
      Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", idx)
      Dedup.nearDupAgainstIndex(s, idx, docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id")
        .orderBy("new_id", "old_id")
    },
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      hd AS (SELECT doc_id, CAST(('0x' || substr(md5(x), 1, 12)) AS BIGINT) AS h
             FROM (SELECT doc_id, unnest(s) AS x FROM sh)),
      hb AS (SELECT doc_id, h, h % 2147483647 AS hm FROM hd),
      hp AS (SELECT doc_id, i,
               MIN((((1103515245*(i+1) + 12345) % 2147483647) * hm
                    + ((1103515245*(i+101) + 12345) % 2147483647)) % 2147483647) AS m
             FROM hb CROSS JOIN range(64) r(i) GROUP BY doc_id, i),
      b0 AS (SELECT doc_id, i // 4 AS band, i, m FROM hp),
      bandk AS (SELECT doc_id, band,
               list_reduce(list_prepend(CAST(band + 7 AS BIGINT), list(m ORDER BY i)),
                 (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bk
             FROM b0 GROUP BY doc_id, band),
      cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
               FROM bandk a JOIN bandk b ON a.band = b.band AND a.bk = b.bk
               WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
      ov AS (SELECT c.new_id, c.old_id, COUNT(*) AS o
             FROM cand c
             JOIN hd x ON x.doc_id = c.new_id
             JOIN hd y ON y.doc_id = c.old_id AND y.h = x.h
             GROUP BY c.new_id, c.old_id),
      v AS (SELECT o.new_id, o.old_id, CAST(o.o AS DOUBLE) / (sa.n + sb.n - o.o) AS jaccard
            FROM ov o JOIN sz sa ON sa.doc_id = o.new_id JOIN sz sb ON sb.doc_id = o.old_id)
      SELECT new_id, old_id, jaccard FROM v WHERE jaccard >= 0.8 ORDER BY new_id, old_id"""))

  // Portable since round 2: the token hash is md5-derived
  // (TextAnalysis.tokenHash64), so the bit-vote majority reproduces
  // exactly in DuckDB (sign bit handled via the hi/lo halves — no
  // engine-dependent shift-of-negative semantics anywhere).
  private val qSimhash = QDef(
    "q_simhash",
    (s, dir) => Dedup.simhash64(t(s, dir, "documents"), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .withColumn("bucket16", shiftright(col("simhash"), 48).bitwiseAND(lit(0xFFFFL)))
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      tk AS (SELECT doc_id, unnest(toks) AS t FROM d),
      hh AS (SELECT doc_id,
               CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hi,
               CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS lo
             FROM tk),
      votes AS (SELECT doc_id, j,
               SUM((CASE WHEN j < 32 THEN (lo >> j) & 1 ELSE (hi >> (j - 32)) & 1 END) * 2 - 1) AS v
             FROM hh CROSS JOIN range(64) r(j) GROUP BY doc_id, j),
      sig AS (SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN
                 (CASE WHEN j = 63 THEN -9223372036854775808 ELSE (CAST(1 AS BIGINT) << j) END)
                 ELSE 0 END) AS BIGINT) AS simhash
             FROM votes GROUP BY doc_id),
      u AS (SELECT doc_id, simhash,
               CAST(simhash AS HUGEINT)
                 + (CASE WHEN simhash < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END) AS usig
            FROM sig)
      SELECT doc_id, simhash, CAST(usig // 281474976710656 AS BIGINT) AS bucket16
      FROM u ORDER BY doc_id"""))

  private val qFingerprint = QDef(
    "q_fingerprint",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(TextAnalysis.tokens(col("text"))).as("fingerprint"))
      .orderBy("doc_id"),
    // engine-portable since round 2: md5-based token hash + plain modular
    // arithmetic reproduce bit-exactly in any engine
    Some("""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, t ->
              CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 2147483647)),
          (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint
      FROM d ORDER BY doc_id"""))

  /** Near-dup clustering: exact-Jaccard pairs at τ=0.8 → connected
    * components (hash-min + pointer jumping) → (doc, component). The
    * oracle recomputes the pair graph in SQL and takes min-reachable-id
    * per node via a recursive CTE — an independent transitive-closure
    * formulation of the same semantics. */
  private val qNearDupCluster = QDef(
    "q_neardup_cluster",
    (s, dir) => {
      val pairs = Dedup.jaccardSimilarityJoin(t(s, dir, "documents"),
        "text", "doc_id", shingleN = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
              / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.8),
      e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
      SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u ORDER BY doc_id"""))

  // Leakage-safe splitting: near-dup components (same pair frame as
  // q_neardup_cluster) are assigned to train/val/test ATOMICALLY — the
  // split hash runs on the component's min-id representative, so a
  // near-copy of a training doc can never surface in eval. Oracle replays
  // components recursively, then the same md5-bucket CASE as q_hash_split.
  private val qLeakageSplit = QDef(
    "q_leakage_split",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.8)
      Dedup.leakageSafeSplit(docs, pairs, "doc_id")
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
              / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.8),
      e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
      j AS (SELECT dd.doc_id, COALESCE(c.component, dd.doc_id) AS split_key
            FROM documents dd LEFT JOIN comp c USING (doc_id)),
      b AS (SELECT doc_id, split_key,
                   CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 12)) AS BIGINT)
                     % 100 AS bkt
            FROM j)
      SELECT doc_id, split_key,
             CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
      FROM b ORDER BY doc_id"""))

  /** The full dedup pipeline as one query: exact-Jaccard pairs at τ=0.8 →
    * connected components → drop every non-canonical member (canonical =
    * min id). What survives IS the training corpus; this is the query a
    * user actually runs before tokenization. */
  private val qCanonicalize = QDef(
    "q_canonicalize",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.8)
      Dedup.canonicalize(docs, pairs, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
              / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.8),
      e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u)
      SELECT doc.doc_id, doc.lang, doc.n_chars
      FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.doc_id
      WHERE c.component IS NULL OR c.component = doc.doc_id
      ORDER BY doc.doc_id"""))

  /** One BPE training round in the oracle: weighted pair counts over the
    * vocab frame, argmax (n desc, a, b) with the same ≥2 support floor,
    * then the greedy left-to-right fold rewrite (accumulator seeded by
    * wrapping each piece — DuckDB's list_reduce has no init argument). */
  private def bpeRoundSql(i: Int): String = {
    val prev = if (i == 1) "w0" else s"w${i - 1}"
    s"""
      pc$i AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(c) AS BIGINT) AS n
        FROM (SELECT unnest(list_zip(list_slice(p, 1, len(p)-1), list_slice(p, 2, len(p)))) AS pr, c
              FROM $prev WHERE len(p) >= 2)
        GROUP BY pr[1], pr[2]),
      t$i AS (SELECT a, b, n FROM pc$i WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1),
      w$i AS (
        SELECT w, c, CASE WHEN len(p) < 2 THEN p ELSE
          list_reduce(list_transform(p, x -> [x]),
            (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
                             THEN list_append(list_slice(acc, 1, len(acc)-1), t.a || t.b)
                             ELSE list_append(acc, x[1]) END) END AS p
        FROM $prev CROSS JOIN t$i t)"""
  }

  // Distributed BPE merge training, 6 rounds: the oracle unrolls each
  // round (weighted pair count → argmax → greedy fold rewrite) over the
  // same vocab frame. Pair counts are exact integers; the argmax
  // tie-break (n desc, left, right) is total — both engines must learn
  // the IDENTICAL merge table.
  private val qBpeTrain = QDef(
    "q_bpe_train",
    (s, dir) => TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", merges = 6)
      .orderBy("step"),
    Some((raw"""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      w0 AS (SELECT w, string_split(w, '') AS p, CAST(count(*) AS BIGINT) AS c
             FROM tok WHERE w <> '' GROUP BY w),""" +
      (1 to 6).map(bpeRoundSql).mkString(",") + raw"""
      SELECT * FROM (""" +
      (1 to 6).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS step, a AS "left", b AS "right", n AS pair_count FROM t$i""")
        .mkString(" UNION ALL ") +
      ") ORDER BY step")))

  // KMV set-intersection sketches with the exact contract: user-day
  // activity sets per event type (≈2k elements each), k=256 sketches,
  // all 10 pairwise overlap estimates next to their exact truths.
  private val qKmvOverlap = QDef(
    "q_kmv_overlap",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("(unix_micros(ts) div 1000000) div 86400").cast("string"))
          .as("elem"))
      Sketches.kmvOverlap(ev, "event_type", "elem", k = 256, tol = 0.5)
    },
    Some("""
      WITH el AS (
        SELECT DISTINCT event_type AS set_id,
               CAST(user_id AS VARCHAR) || ':' ||
               CAST((epoch_us(ts) // 1000000) // 86400 AS VARCHAR) AS e
        FROM events),
      hs AS (SELECT DISTINCT set_id,
                    CAST(('0x' || substr(md5(e), 1, 12)) AS BIGINT) AS h
             FROM el),
      sk AS (SELECT set_id, h FROM (
               SELECT set_id, h, row_number() OVER (PARTITION BY set_id ORDER BY h) AS rk
               FROM hs) WHERE rk <= 256),
      sets AS (SELECT DISTINCT set_id FROM el),
      pr AS (SELECT x.set_id AS a, y.set_id AS b
             FROM sets x JOIN sets y ON x.set_id < y.set_id),
      tg AS (SELECT a, b, h,
                    MAX(CASE WHEN set_id = a THEN 1 ELSE 0 END) AS in_a,
                    MAX(CASE WHEN set_id = b THEN 1 ELSE 0 END) AS in_b
             FROM pr JOIN sk ON set_id = a OR set_id = b
             GROUP BY a, b, h),
      tk AS (SELECT * FROM (
               SELECT tg.*, row_number() OVER (PARTITION BY a, b ORDER BY h) AS rk
               FROM tg) WHERE rk <= 256),
      es AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_merged,
                    max(h) AS h_k, CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
             FROM tk GROUP BY a, b),
      e2 AS (SELECT a, b, n_both, n_merged,
                    CASE WHEN n_merged < 256 THEN CAST(n_merged AS DOUBLE)
                         ELSE CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(h_k AS DOUBLE)
                    END AS u_est
             FROM es),
      e3 AS (SELECT a, b,
                    (CAST(n_both AS DOUBLE) / CAST(n_merged AS DOUBLE)) * u_est AS est_intersection
             FROM e2),
      ex AS (SELECT ea.set_id AS a, eb.set_id AS b,
                    CAST(count(*) AS BIGINT) AS exact_intersection
             FROM el ea JOIN el eb ON ea.e = eb.e AND ea.set_id < eb.set_id
             GROUP BY ea.set_id, eb.set_id)
      SELECT e3.a AS set_a, e3.b AS set_b, e3.est_intersection,
             COALESCE(ex.exact_intersection, 0) AS exact_intersection,
             (abs(e3.est_intersection - COALESCE(ex.exact_intersection, 0))
              <= 0.5 * CAST(greatest(COALESCE(ex.exact_intersection, 0), 1) AS DOUBLE)) AS ok
      FROM e3 LEFT JOIN ex ON e3.a = ex.a AND e3.b = ex.b
      ORDER BY set_a, set_b"""))

  // Daily cohort retention over the events stream: first-activity-day
  // cohorts × day offsets, exact integer bucketing.
  private val qCohortRetention = QDef(
    "q_cohort_retention",
    (s, dir) => Relational.cohortRetention(t(s, dir, "events"),
        "user_id", "ts", bucketSec = 86400L)
      .orderBy("cohort_bucket", "offset"),
    Some("""
      WITH act AS (
        SELECT DISTINCT user_id, (epoch_us(ts) // 1000000) // 86400 AS bucket
        FROM events),
      cohort AS (SELECT user_id, CAST(min(bucket) AS BIGINT) AS cohort_bucket
                 FROM act GROUP BY user_id)
      SELECT cohort_bucket, CAST(act.bucket - cohort_bucket AS BIGINT) AS "offset",
             CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
      FROM act JOIN cohort USING (user_id)
      GROUP BY cohort_bucket, "offset"
      ORDER BY cohort_bucket, "offset""""))

  // Incremental sessionization UNDER THE ORACLE: sessionize the even
  // half of the events, fold the odd half in via mergeSessions — the
  // oracle is the plain full-history sessionization, so the driver
  // hash-checks incremental ≡ full (the q_neardup_incremental pattern).
  private val qSessionizeIncremental = QDef(
    "q_sessionize_incremental",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val stored = Relational.sessionize(
        ev.where(col("event_id") % 2 === 0), Seq("user_id"), "ts", gapSec = 30000L)
      Relational.mergeSessions(stored,
          ev.where(col("event_id") % 2 === 1), Seq("user_id"), "ts", gapSec = 30000L)
        .select("user_id", "session_id", "n_events", "start_us", "end_us", "duration_us")
        .orderBy("user_id", "session_id")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      s AS (SELECT user_id, us,
              CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > CAST(30000 AS BIGINT) * 1000000
                     OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                   THEN 1 ELSE 0 END AS ns
            FROM e),
      c AS (SELECT user_id, us,
                   SUM(ns) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) - 1 AS session_id
            FROM s)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events,
             min(us) AS start_us, max(us) AS end_us,
             max(us) - min(us) AS duration_us
      FROM c GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  /** One PageRank round in the oracle: floor-divided contributions along
    * the symmetrized edges, exact integer sum, integer damping. */
  private def pageRankRoundSql(i: Int): String = {
    val prev = if (i == 1) "r0" else s"r${i - 1}"
    s"""
      s$i AS (SELECT eg.v AS id, CAST(SUM(r.r_fp // deg.d) AS BIGINT) AS s
              FROM eg JOIN deg ON deg.u = eg.u JOIN $prev r ON r.id = eg.u
              GROUP BY eg.v),
      r$i AS (SELECT s$i.id, CAST(bb.base + (s * 85) // 100 AS BIGINT) AS r_fp
              FROM s$i CROSS JOIN bb)"""
  }

  // PageRank over the near-dup pair graph, 3 rounds: integer nano-unit
  // ranks end to end (floor-divided contributions, integer damping) —
  // bit-identical across engines, no float accumulation anywhere.
  private val qPageRank = QDef(
    "q_pagerank",
    (s, dir) => {
      val pairs = Dedup.jaccardSimilarityJoin(t(s, dir, "documents"),
        "text", "doc_id", shingleN = 3, threshold = 0.8)
      Dedup.pageRank(pairs, iters = 3).orderBy("id")
    },
    Some(raw"""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
              / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.8),
      eg AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM eg GROUP BY u),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
      bb AS (SELECT CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * n) AS BIGINT) AS base FROM nn),
      r0 AS (SELECT u AS id, CAST(CAST(1000000000 AS BIGINT) // n AS BIGINT) AS r_fp
             FROM deg CROSS JOIN nn),""" +
      (1 to 3).map(pageRankRoundSql).mkString(",") + raw"""
      SELECT id, CAST(r_fp AS DOUBLE) / 1000000000 AS rank
      FROM r3 ORDER BY id"""))

  /** The whole cleaning pipeline as ONE query — what a user actually
    * runs before tokenization: Gopher-style quality gate → exact dedup
    * (keep lowest id per identical text) → near-dup canonicalization
    * (exact-Jaccard pairs τ=0.8 → CC → min-id survivor) → deterministic
    * train/val/test split. Output: the surviving corpus with its split
    * assignment and token budget. Every stage reuses an independently
    * oracle-checked operator; this query checks their COMPOSITION
    * (filter-before-dedup ordering, dedup-before-split stability). */
  private val qPipelineE2e = QDef(
    "q_pipeline_e2e",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = TextAnalysis.qualityRules(docs, "text", "doc_id",
          minWords = 50, maxWords = 100000, minMeanWordLen = 3.0,
          maxMeanWordLen = 10.0, minUniqueRatio = 0.4)
        .where(col("keep")).select("doc_id")
      val clean = docs.join(keep, "doc_id")
      val exactSurvivors = Dedup.exactDedup(clean, "text", "doc_id")
        .select("doc_id")
      val ed = clean.join(exactSurvivors, "doc_id")
      val pairs = Dedup.jaccardSimilarityJoin(ed, "text", "doc_id",
        shingleN = 3, threshold = 0.8)
      Dedup.canonicalize(ed, pairs, "doc_id")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.split3(col("doc_id")).as("split"),
          TextAnalysis.tokenCount(TextAnalysis.tokens(col("text")))
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH RECURSIVE d0 AS (
        SELECT doc_id, text, lang, string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
      q AS (
        SELECT doc_id FROM (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
                 CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                   / NULLIF(len(toks), 0) AS mwl,
                 CAST(len(list_distinct(toks)) AS DOUBLE)
                   / NULLIF(len(toks), 0) AS ur
          FROM d0)
        WHERE n_words >= 50 AND n_words <= 100000
          AND mwl >= 3.0 AND mwl <= 10.0 AND ur >= 0.4),
      c AS (SELECT d0.* FROM d0 JOIN q USING (doc_id)),
      ex AS (SELECT MIN(doc_id) AS doc_id FROM c GROUP BY text),
      ed AS (SELECT c.* FROM c JOIN ex USING (doc_id)),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM ed),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
              / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.8),
      eg AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM eg)
        UNION
        SELECT r.u, eg.v FROM reach r JOIN eg ON r.v = eg.u),
      comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u)
      SELECT ed.doc_id, ed.lang,
             CASE WHEN CAST(('0x' || substr(md5(CAST(ed.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(ed.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             CAST(len(ed.toks) AS BIGINT) AS n_tokens
      FROM ed LEFT JOIN comp cp ON ed.doc_id = cp.doc_id
      WHERE cp.component IS NULL OR cp.component = ed.doc_id
      ORDER BY ed.doc_id"""))

  // Per-language distribution drift vs the corpus blend: exact integer
  // probability ratios, µnat-quantized log terms, integer accumulation.
  private val qSourceDivergence = QDef(
    "q_source_divergence",
    (s, dir) => TextAnalysis.sourceDivergence(t(s, dir, "documents"),
        "text", "lang")
      .orderBy("stratum"),
    Some(raw"""
      WITH tok AS (SELECT lang AS stratum, unnest(string_split_regex(trim(text), '\s+')) AS w
                   FROM documents),
      sw AS (SELECT stratum, w, CAST(count(*) AS BIGINT) AS c_sw
             FROM tok WHERE w <> '' GROUP BY stratum, w),
      st AS (SELECT stratum, CAST(SUM(c_sw) AS BIGINT) AS c_s FROM sw GROUP BY stratum),
      wt AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
      tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS c_tot FROM wt),
      terms AS (SELECT sw.stratum, sw.c_sw, st.c_s,
                  CAST(round(ln((CAST(sw.c_sw AS DOUBLE) * CAST(c_tot AS DOUBLE))
                    / (CAST(st.c_s AS DOUBLE) * CAST(wt.c_w AS DOUBLE))) * 1e6) AS BIGINT) AS lnterm_fp
                FROM sw JOIN wt USING (w) JOIN st USING (stratum) CROSS JOIN tot),
      g AS (SELECT stratum, CAST(SUM(c_sw * lnterm_fp) AS BIGINT) AS num_fp,
                   max(c_s) AS c_s
            FROM terms GROUP BY stratum)
      SELECT stratum, c_s AS n_tokens,
             CAST(num_fp AS DOUBLE) / (CAST(c_s AS DOUBLE) * 1e6) AS kl_nats
      FROM g ORDER BY stratum"""))

  // Train-then-tokenize end to end: learn the 6-merge tokenizer from the
  // corpus, then measure every doc's token count under it. The apply
  // step is a (doc_id, w) join against the trained vocab frame — the
  // oracle reuses the 6 unrolled rounds and joins w6.
  private val qBpeTokenize = QDef(
    "q_bpe_tokenize",
    (s, dir) => TextAnalysis.bpeTokenize(t(s, dir, "documents"),
        "text", "doc_id", merges = 6)
      .orderBy("doc_id"),
    Some((raw"""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      w0 AS (SELECT w, string_split(w, '') AS p, CAST(count(*) AS BIGINT) AS c
             FROM tok WHERE w <> '' GROUP BY w),""" +
      (1 to 6).map(bpeRoundSql).mkString(",") + raw""",
      cnt AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                     CAST(SUM(len(w6.p)) AS BIGINT) AS n_pieces
              FROM tok t JOIN w6 ON t.w = w6.w GROUP BY t.doc_id)
      SELECT d.doc_id, COALESCE(cnt.n_words, 0) AS n_words,
             COALESCE(cnt.n_pieces, 0) AS n_pieces
      FROM documents d LEFT JOIN cnt USING (doc_id) ORDER BY doc_id""")))

  /** Quality-aware canonicalization: same pair graph and components as
    * q_canonicalize, but each cluster's survivor is its LONGEST member
    * (ties: lowest id) — the keep-the-best-copy production policy. The
    * oracle reuses the recursive-CTE closure and elects per-component
    * with a window. */
  private val qCanonicalizeBest = QDef(
    "q_canonicalize_best",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.8)
      Dedup.canonicalizeBest(docs, pairs, "doc_id", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS s
        FROM d),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
              / NULLIF(len(list_distinct(list_concat(a.s, b.s))), 0) >= 0.8),
      e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM e)
        UNION
        SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
      m AS (SELECT doc.doc_id, doc.lang, doc.n_chars,
                   COALESCE(c.component, doc.doc_id) AS comp
            FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.doc_id),
      r AS (SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rk
            FROM m)
      SELECT doc_id, lang, n_chars FROM r WHERE rk = 1 ORDER BY doc_id"""))

  // Boilerplate LINE removal: both engines plant line structure (a
  // newline every 8 tokens) plus a shared footer on every 3rd doc
  // (~167 docs at sf0.01 ≥ minDf 50 → the footer is removed from ALL
  // of them, organic df≈2 lines survive).
  private val qLineDedup = QDef(
    "q_line_dedup",
    (s, dir) => {
      val planted = t(s, dir, "documents").withColumn("t",
        concat(
          regexp_replace(col("text"), "((?:\\S+ ){8})", "$1\n"),
          when(col("doc_id") % 3 === 0,
            lit("\nshared footer boilerplate line")).otherwise(lit(""))))
      TextAnalysis.lineDedup(planted, "t", "doc_id", minDf = 50L)
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH p AS (
        SELECT doc_id,
               regexp_replace(text, '((?:\S+ ){8})', '\1' || chr(10), 'g')
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'shared footer boilerplate line'
                       ELSE '' END AS t
        FROM documents),
      l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
                   generate_subscripts(string_split(t, chr(10)), 1) AS idx
            FROM p),
      c AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY line),
      k AS (SELECT l.doc_id, l.line, l.idx FROM l JOIN c USING (line) WHERE line_df < 50),
      r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(line, chr(10) ORDER BY idx) AS text_clean
            FROM k GROUP BY doc_id),
      nl AS (SELECT doc_id, CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines FROM p)
      SELECT nl.doc_id, nl.n_lines,
             nl.n_lines - COALESCE(r.n_kept, 0) AS n_removed,
             COALESCE(r.text_clean, '') AS text_clean
      FROM nl LEFT JOIN r USING (doc_id) ORDER BY nl.doc_id"""))

  // Windowed funnel signup → click → purchase with a 1-day window from
  // the anchor: earliest-anchor semantics, per-user depth reached.
  private val qFunnel = QDef(
    "q_funnel",
    (s, dir) => Relational.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"), withinSec = 86400L)
      .orderBy("user_id"),
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      f1 AS (SELECT user_id, CAST(min(us) AS BIGINT) AS t1
             FROM e WHERE event_type = 'signup' GROUP BY user_id),
      f2 AS (SELECT f1.user_id, f1.t1,
                    CAST(min(CASE WHEN e.us > f1.t1 AND e.us <= f1.t1 + 86400000000
                                  THEN e.us END) AS BIGINT) AS t2
             FROM f1 LEFT JOIN e ON e.user_id = f1.user_id AND e.event_type = 'click'
             GROUP BY f1.user_id, f1.t1),
      f3 AS (SELECT f2.user_id, f2.t1, f2.t2,
                    CAST(min(CASE WHEN e.us > f2.t2 AND e.us <= f2.t1 + 86400000000
                                  THEN e.us END) AS BIGINT) AS t3
             FROM f2 LEFT JOIN e ON e.user_id = f2.user_id AND e.event_type = 'purchase'
             GROUP BY f2.user_id, f2.t1, f2.t2)
      SELECT user_id, t1, t2, t3,
             CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_level
      FROM f3 ORDER BY user_id"""))

  /** Gopher-style repetition/boilerplate metrics: duplicate-line fraction
    * and most-frequent-bigram share, relationally (explode → count →
    * max; no per-doc quadratic lambdas). */
  private val qQualityRepetition = QDef(
    "q_quality_repetition",
    (s, dir) => TextAnalysis.repetitionStats(t(s, dir, "documents"), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"),
    Some("""
      WITH base AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents),
      b2 AS (SELECT doc_id, len(toks) AS n_tokens,
                    CASE WHEN len(toks) >= 2
                         THEN list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])
                         ELSE [] END AS grams,
                    list_filter(lines, l -> trim(l) <> '') AS nel
             FROM base),
      ls AS (SELECT doc_id, len(nel) AS n_lines, len(list_distinct(nel)) AS n_distinct_lines FROM b2),
      bg AS (SELECT doc_id, g, COUNT(*) AS c
             FROM (SELECT doc_id, unnest(grams) AS g FROM b2) GROUP BY doc_id, g),
      tb AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams FROM bg GROUP BY doc_id)
      SELECT b2.doc_id, b2.n_tokens,
             COALESCE(ls.n_lines, 0) AS n_lines,
             COALESCE(CAST(ls.n_lines - ls.n_distinct_lines AS DOUBLE) / NULLIF(ls.n_lines, 0), 0.0) AS dup_line_frac,
             COALESCE(tb.top_bigram_n, 0) AS top_bigram_n,
             COALESCE(CAST(tb.top_bigram_n AS DOUBLE) / NULLIF(tb.n_bigrams, 0), 0.0) AS top_bigram_frac
      FROM b2 LEFT JOIN ls ON b2.doc_id = ls.doc_id LEFT JOIN tb ON b2.doc_id = tb.doc_id
      ORDER BY b2.doc_id"""))

  // Gopher/C4-style hard quality rules: per-rule booleans + the keep
  // conjunction, one codegen scan. Thresholds chosen to BIND on the
  // synthetic corpus (length and diversity both split it) so the oracle
  // is non-vacuous in every rule column.
  private val qQualityRules = QDef(
    "q_quality_rules",
    (s, dir) => TextAnalysis.qualityRules(t(s, dir, "documents"),
        "text", "doc_id", minWords = 50, maxWords = 100000,
        minMeanWordLen = 3.0, maxMeanWordLen = 10.0, minUniqueRatio = 0.4)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      m AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                / NULLIF(len(toks), 0) AS mean_word_len,
              CAST(len(list_distinct(toks)) AS DOUBLE)
                / NULLIF(len(toks), 0) AS unique_ratio
            FROM d)
      SELECT doc_id, n_words, mean_word_len, unique_ratio,
             (n_words >= 50 AND n_words <= 100000) AS pass_length,
             (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_word_len,
             (unique_ratio >= 0.4) AS pass_diversity,
             ((n_words >= 50 AND n_words <= 100000)
              AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
              AND (unique_ratio >= 0.4)) AS keep
      FROM m ORDER BY doc_id"""))

  // Context-window chunking (chunkSize 64, stride 48 → overlapping
  // windows on any doc past 48 tokens): sequence + posexplode + slice,
  // zero shuffle — the standard pretraining chunker as one scan.
  private val qChunkTokens = QDef(
    "q_chunk_tokens",
    (s, dir) => TextAnalysis.chunkTokens(t(s, dir, "documents"),
        "text", "doc_id", chunkSize = 64, stride = 48)
      .orderBy("doc_id", "chunk_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      c AS (SELECT doc_id, toks,
                   unnest(range(0, CAST(greatest(len(toks), 1) AS BIGINT), 48)) AS start_tok
            FROM d)
      SELECT doc_id,
             start_tok // 48 AS chunk_id,
             start_tok,
             CAST(least(64, len(toks) - start_tok) AS BIGINT) AS n_tok,
             array_to_string(toks[CAST(start_tok + 1 AS INT):CAST(start_tok + 64 AS INT)], ' ') AS chunk_text
      FROM c ORDER BY doc_id, chunk_id"""))

  // Segment-level exact dedup (paragraph-dedup stand-in on a corpus with
  // no newline structure): non-overlapping 8-token segments, corpus-wide
  // keep-first, rebuild from survivors. Binding at sf0.01: 135 distinct
  // segments duplicated (279 instances) → real removals in text_dedup.
  private val qSegmentDedup = QDef(
    "q_segment_dedup",
    (s, dir) => TextAnalysis.segmentDedup(t(s, dir, "documents"),
        "text", "doc_id", segTokens = 8)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      st AS (SELECT doc_id, toks, unnest(range(0, CAST(greatest(len(toks), 1) AS BIGINT), 8)) AS s FROM d),
      seg AS (SELECT doc_id, s, array_to_string(toks[CAST(s + 1 AS INT):CAST(s + 8 AS INT)], ' ') AS seg
              FROM st WHERE len(toks) - s >= 8),
      rn AS (SELECT doc_id, s, row_number() OVER (PARTITION BY seg ORDER BY doc_id, s) AS rn FROM seg),
      rem AS (SELECT doc_id, list(s ORDER BY s) AS rem_s FROM rn WHERE rn > 1 GROUP BY doc_id),
      f AS (SELECT d.doc_id, d.toks,
                   range(0, CAST(greatest(len(d.toks), 1) AS BIGINT), 8) AS starts,
                   coalesce(rem.rem_s, []) AS rem_s
            FROM d LEFT JOIN rem ON d.doc_id = rem.doc_id)
      SELECT doc_id,
             CAST(len(starts) AS BIGINT) AS n_segments,
             CAST(len(rem_s) AS BIGINT) AS n_removed,
             coalesce(array_to_string(flatten(list_transform(
               list_filter(starts, s -> NOT list_contains(rem_s, s)),
               s -> toks[CAST(s + 1 AS INT):CAST(s + 8 AS INT)])), ' '), '') AS text_dedup
      FROM f ORDER BY doc_id"""))

  // Exact substring dedup (Lee et al. 2022 ExactSubstr): every duplicated
  // ≥8-token substring is cut from each non-first occurrence at ANY
  // offset. Planted fixture: docs ≡ 7 (mod 10) append a shifted self-copy
  // behind a 3-token junk spacer — non-8-aligned by construction, so the
  // k-aligned q_segment_dedup provably can't see it (OpsSpec pins the
  // miss) while this removes the whole second copy exactly. Natural
  // cross-doc duplication in the corpus participates too.
  private val qSubstringDedup = QDef(
    "q_substring_dedup",
    (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 7,
            concat(col("text"), lit(" zoffa zoffb zoffc "), col("text")))
            .otherwise(col("text")).as("text"))
      TextAnalysis.substringDedup(planted, "text", "doc_id", minTokens = 8)
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 7 THEN text || ' zoffa zoffb zoffc ' || text
                    ELSE text END AS text
        FROM documents),
      d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM planted),
      w AS (SELECT doc_id,
                   unnest(range(CAST(len(toks) - 7 AS BIGINT))) AS pos,
                   unnest(list_transform(range(CAST(len(toks) - 7 AS BIGINT)),
                     i -> array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS s
            FROM d WHERE len(toks) >= 8),
      r AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn,
                   COUNT(*) OVER (PARTITION BY s) AS c
            FROM w),
      rem AS (SELECT doc_id, pos FROM r WHERE c > 1 AND rn > 1),
      mk0 AS (SELECT DISTINCT doc_id, idx FROM
               (SELECT doc_id, unnest(range(pos, pos + 8)) AS idx FROM rem)),
      mk AS (SELECT doc_id, list(idx) AS rems, count(*) AS n_rem FROM mk0 GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(mk.n_rem, 0) AS BIGINT) AS n_removed_tokens,
             coalesce(array_to_string(list_transform(
               list_filter(range(CAST(len(d.toks) AS BIGINT)),
                 i -> NOT coalesce(list_contains(mk.rems, i), false)),
               i -> d.toks[CAST(i + 1 AS INT)]), ' '), '') AS text_dedup
      FROM d LEFT JOIN mk USING (doc_id) ORDER BY d.doc_id"""))

  // Corpus unigram-LM quality scoring (CCNet-perplexity proxy): the
  // fixed-point µnat quantization makes per-doc sums integer —
  // order-independent, hence hashable cross-engine despite touching ln.
  private val qUnigramLm = QDef(
    "q_unigram_lm",
    (s, dir) => TextAnalysis.unigramLogProb(t(s, dir, "documents"),
        "text", "doc_id", headTokens = 1024)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      v AS (SELECT tok, count(*) AS c FROM d GROUP BY tok),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
      s AS (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE) / total) * 1e6) AS BIGINT) AS nll_fp
            FROM v CROSS JOIN tot),
      g AS (SELECT doc_id, CAST(SUM(nll_fp) AS BIGINT) AS fp, CAST(count(*) AS BIGINT) AS n_tokens
            FROM d JOIN s USING (tok) GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             CAST(fp AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6) AS mean_nll
      FROM g ORDER BY doc_id"""))

  // Interpolated bigram LM (KenLM-proxy, λ=0.5): position 0 under the
  // unigram model, later positions under λ·p(w|prev) + (1−λ)·p(w); all
  // per-position terms quantized to µnat BIGINTs → order-free sums.
  private val qBigramLm = QDef(
    "q_bigram_lm",
    (s, dir) => TextAnalysis.bigramLogProb(t(s, dir, "documents"),
        "text", "doc_id", lambda = 0.5)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      uni AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
      fst AS (SELECT d.doc_id,
                CAST(round(-ln(CAST(u.c AS DOUBLE) / tot.total) * 1e6) AS BIGINT) AS fp
              FROM d JOIN uni u ON u.tok = d.toks[1] CROSS JOIN tot),
      p AS (SELECT doc_id, toks[CAST(i AS INT)] AS prev, toks[CAST(i + 1 AS INT)] AS cur
            FROM (SELECT doc_id, toks, unnest(range(1, CAST(len(toks) AS BIGINT))) AS i
                  FROM d WHERE len(toks) >= 2)),
      bi AS (SELECT prev, cur, count(*) AS cb FROM p GROUP BY prev, cur),
      pf AS (SELECT p.doc_id,
               CAST(round(-ln(0.5 * (CAST(bi.cb AS DOUBLE) / up.c)
                              + (1.0 - 0.5) * (CAST(uc.c AS DOUBLE) / tot.total)) * 1e6) AS BIGINT) AS fp
             FROM p
             JOIN bi USING (prev, cur)
             JOIN uni up ON up.tok = p.prev
             JOIN uni uc ON uc.tok = p.cur
             CROSS JOIN tot),
      g AS (SELECT doc_id, CAST(SUM(fp) AS BIGINT) AS fp, CAST(count(*) AS BIGINT) AS n_tokens
            FROM (SELECT * FROM fst UNION ALL SELECT * FROM pf) GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             CAST(fp AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6) AS mean_nll
      FROM g ORDER BY doc_id"""))

  // Interpolated Kneser–Ney bigram scoring — the continuation-count
  // smoother beside q_bigram_lm's Jelinek–Mercer blend (the standard
  // perplexity-filter backbone). Same µnat fixed-point protocol; the
  // three KN count tables (successor/predecessor fanouts, bigram-type
  // total) are exact integers.
  private val qKnLm = QDef(
    "q_kn_lm",
    (s, dir) => TextAnalysis.knLogProb(t(s, dir, "documents"),
        "text", "doc_id", discount = 0.75)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      uni AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
      fst AS (SELECT d.doc_id,
                CAST(round(-ln(CAST(u.c AS DOUBLE) / tot.total) * 1e6) AS BIGINT) AS fp
              FROM d JOIN uni u ON u.tok = d.toks[1] CROSS JOIN tot),
      p AS (SELECT doc_id, toks[CAST(i AS INT)] AS prev, toks[CAST(i + 1 AS INT)] AS cur
            FROM (SELECT doc_id, toks, unnest(range(1, CAST(len(toks) AS BIGINT))) AS i
                  FROM d WHERE len(toks) >= 2)),
      bi AS (SELECT prev, cur, count(*) AS cb FROM p GROUP BY prev, cur),
      n1 AS (SELECT prev, count(*) AS n1p FROM bi GROUP BY prev),
      nc AS (SELECT cur, count(*) AS ncont FROM bi GROUP BY cur),
      bt AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM bi),
      pf AS (SELECT p.doc_id,
               CAST(round(-ln(
                 (CAST(bi.cb AS DOUBLE) - 0.75) / CAST(up.c AS DOUBLE)
                 + 0.75 / CAST(up.c AS DOUBLE) * CAST(n1.n1p AS DOUBLE)
                   * (CAST(nc.ncont AS DOUBLE) / CAST(bt.btypes AS DOUBLE))) * 1e6) AS BIGINT) AS fp
             FROM p
             JOIN bi USING (prev, cur)
             JOIN uni up ON up.tok = p.prev
             JOIN n1 ON n1.prev = p.prev
             JOIN nc ON nc.cur = p.cur
             CROSS JOIN bt),
      g AS (SELECT doc_id, CAST(SUM(fp) AS BIGINT) AS fp, CAST(count(*) AS BIGINT) AS n_tokens
            FROM (SELECT * FROM fst UNION ALL SELECT * FROM pf) GROUP BY doc_id)
      SELECT doc_id, n_tokens,
             CAST(fp AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6) AS mean_nll
      FROM g ORDER BY doc_id"""))

  // SemDeDup-style semantic dedup: deterministic centroids (k lowest-id
  // vectors), argmax-cosine assignment, within-cluster removal against
  // the repCap lowest-id representatives. All cosine arithmetic is the
  // same strict left fold both engines compute bit-identically; the
  // tau compare runs on the UNROUNDED value, like q_embed_neardup.
  private val qSemanticDedup = QDef(
    "q_semantic_dedup",
    (s, dir) => Similarity.semanticDedup(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 8, tau = 0.4, repCap = 64)
      .orderBy("vec_id"),
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e ORDER BY vec_id LIMIT 8),
      a AS (
        SELECT e.vec_id, c.cid,
               list_reduce(list_transform(range(64), k -> e.v[k+1] * c.cv[k+1]), (x, y) -> x + y)
                 / NULLIF(sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(c.cv, x -> x * x), (x, y) -> x + y)), 0) AS cos
        FROM e CROSS JOIN c),
      asg AS (
        SELECT vec_id, cid AS cluster_id
        FROM (SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
              FROM a)
        WHERE rn = 1),
      reps AS (
        SELECT vec_id AS rep_id, cluster_id
        FROM (SELECT vec_id, cluster_id,
                     row_number() OVER (PARTITION BY cluster_id ORDER BY vec_id) AS rk
              FROM asg)
        WHERE rk <= 64),
      rem AS (
        SELECT DISTINCT q.vec_id
        FROM asg q JOIN reps r ON q.cluster_id = r.cluster_id AND r.rep_id < q.vec_id
        JOIN e ev ON ev.vec_id = q.vec_id
        JOIN e er ON er.vec_id = r.rep_id
        WHERE list_reduce(list_transform(range(64), k -> ev.v[k+1] * er.v[k+1]), (x, y) -> x + y)
                / NULLIF(sqrt(list_reduce(list_transform(ev.v, x -> x * x), (x, y) -> x + y))
                         * sqrt(list_reduce(list_transform(er.v, x -> x * x), (x, y) -> x + y)), 0) >= 0.4)
      SELECT asg.vec_id, CAST(asg.cluster_id AS BIGINT) AS cluster_id,
             (rem.vec_id IS NULL) AS keep
      FROM asg LEFT JOIN rem ON asg.vec_id = rem.vec_id
      ORDER BY asg.vec_id"""))

  // Gap-based sessionization on the events stream (gap 30,000 s ≈ the
  // median inter-event gap per user at sf0.01, so the boundary binds:
  // most users split into several sessions, none into per-event ones).
  private val qSessionize = QDef(
    "q_sessionize",
    (s, dir) => Relational.sessionize(t(s, dir, "events"),
        Seq("user_id"), "ts", gapSec = 30000L)
      .select("user_id", "session_id", "n_events", "start_us", "end_us", "duration_us")
      .orderBy("user_id", "session_id"),
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      s AS (SELECT user_id, us,
              CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > CAST(30000 AS BIGINT) * 1000000
                     OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                   THEN 1 ELSE 0 END AS ns
            FROM e),
      c AS (SELECT user_id, us,
                   SUM(ns) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) - 1 AS session_id
            FROM s)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events,
             min(us) AS start_us, max(us) AS end_us,
             max(us) - min(us) AS duration_us
      FROM c GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  // Efraimidis–Spirakis weighted sampling without replacement, weighted
  // by n_chars: rank key = µnat-quantized ln(u)/w with u from the
  // portable 48-bit id hash — top-100 is the exact weighted draw, and
  // the (key desc, doc_id) order is total in both engines.
  private val qWeightedSample = QDef(
    "q_weighted_sample",
    (s, dir) => TextAnalysis.weightedSample(t(s, dir, "documents"),
        "doc_id", "n_chars", k = 100)
      .select("doc_id", "n_chars", "sample_key"),
    Some("""
      WITH h AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsamp'), 1, 12)) AS BIGINT) AS h48
        FROM documents),
      k AS (
        SELECT doc_id, n_chars,
               CAST(round(ln((CAST(h48 AS DOUBLE) + 1.0) / 281474976710656.0) * 1e6) AS BIGINT) AS lnu_fp
        FROM h)
      SELECT doc_id, n_chars,
             CAST(lnu_fp AS DOUBLE) / CAST(n_chars AS DOUBLE) AS sample_key
      FROM k ORDER BY sample_key DESC, doc_id LIMIT 100"""))

  // Corpus collocations: adjacent-bigram PMI over exact integer count
  // ratios, µnat-quantized before ranking. minCount=5 floors support;
  // the 31-term synthetic vocab still separates structure from noise.
  private val qCollocations = QDef(
    "q_collocations",
    (s, dir) => TextAnalysis.collocations(t(s, dir, "documents"),
        "text", "doc_id", minCount = 5L, topK = 20),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      p AS (SELECT toks[CAST(i AS INT)] AS prev, toks[CAST(i + 1 AS INT)] AS cur
            FROM (SELECT doc_id, toks, unnest(range(1, CAST(len(toks) AS BIGINT))) AS i
                  FROM d WHERE len(toks) >= 2)),
      bi AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c_pair FROM p GROUP BY prev, cur),
      l AS (SELECT prev, CAST(SUM(c_pair) AS BIGINT) AS c_left FROM bi GROUP BY prev),
      r AS (SELECT cur, CAST(SUM(c_pair) AS BIGINT) AS c_right FROM bi GROUP BY cur),
      nb AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS n_bi FROM bi)
      SELECT bi.prev || ' ' || bi.cur AS bigram, bi.c_pair AS pair_count,
             CAST(CAST(round(ln((CAST(n_bi AS DOUBLE) * CAST(bi.c_pair AS DOUBLE))
               / (CAST(c_left AS DOUBLE) * CAST(c_right AS DOUBLE))) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS pmi
      FROM bi JOIN l USING (prev) JOIN r USING (cur) CROSS JOIN nb
      WHERE bi.c_pair >= 5
      ORDER BY pmi DESC, bigram LIMIT 20"""))

  /** One profile row in the oracle: global stats for `colName`, with the
    * min/max slots filled by family (num / ts-as-epoch-µs / str). */
  private def profileBlockSql(colName: String, kind: String): String = {
    val minMax = kind match {
      case "num" => s"CAST(min($colName) AS DOUBLE) AS min_num, CAST(max($colName) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
      case "ts" => s"CAST(epoch_us(min($colName)) AS DOUBLE) AS min_num, CAST(epoch_us(max($colName)) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
      case "str" => s"CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, min($colName) AS min_str, max($colName) AS max_str"
    }
    s"""SELECT '$colName' AS "column", n_rows,
          CAST(SUM(CASE WHEN $colName IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          CAST(count(DISTINCT $colName) AS BIGINT) AS n_distinct,
          $minMax
        FROM e CROSS JOIN n GROUP BY n_rows"""
  }

  // One-pass column profiling of the events stream. The raw table has
  // zero nulls, so the null-count path is made binding the q_pii_scrub
  // way: both engines plant NULLs (value on id%7, props on id%11)
  // before profiling.
  private val qProfile = QDef(
    "q_profile",
    (s, dir) => {
      val ev = t(s, dir, "events").drop("_ts_raw")
        .withColumn("value", when(col("event_id") % 7 === 0,
          lit(null).cast("double")).otherwise(col("value")))
        .withColumn("props", when(col("event_id") % 11 === 0,
          lit(null).cast("string")).otherwise(col("props")))
      Relational.profile(ev).orderBy("column")
    },
    Some(s"""
      WITH e AS (
        SELECT event_id, ts, user_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value,
               CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END AS props
        FROM events),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM e)
      SELECT * FROM (
        ${profileBlockSql("event_id", "num")}
        UNION ALL ${profileBlockSql("ts", "ts")}
        UNION ALL ${profileBlockSql("user_id", "num")}
        UNION ALL ${profileBlockSql("event_type", "str")}
        UNION ALL ${profileBlockSql("value", "num")}
        UNION ALL ${profileBlockSql("props", "str")}
      ) ORDER BY "column""""))

  // Per-event-type equi-width histograms: 20 dense bins (zeros included)
  // between exact group min/max; bucket = floor of one IEEE division —
  // the same double tree both engines evaluate.
  private val qHistogram = QDef(
    "q_histogram",
    (s, dir) => Relational.histogramBy(t(s, dir, "events"),
        Seq("event_type"), "value", bins = 20)
      .orderBy("event_type", "bin"),
    Some("""
      WITH b AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                 FROM events WHERE value IS NOT NULL GROUP BY event_type),
      cnt AS (SELECT e.event_type,
               CASE WHEN b.mx = b.mn THEN 0
                    ELSE least(19, CAST(floor((e.value - b.mn) / ((b.mx - b.mn) / 20.0)) AS BIGINT)) END AS bin,
               count(*) AS bin_count
              FROM events e JOIN b USING (event_type)
              WHERE e.value IS NOT NULL GROUP BY 1, 2),
      g AS (SELECT event_type, mn, mx, unnest(range(0, 20)) AS bin FROM b)
      SELECT g.event_type, CAST(g.bin AS BIGINT) AS bin,
             round(g.mn + g.bin * ((g.mx - g.mn) / 20.0), 6) AS bin_lo,
             round(g.mn + (g.bin + 1) * ((g.mx - g.mn) / 20.0), 6) AS bin_hi,
             coalesce(cnt.bin_count, 0) AS bin_count
      FROM g LEFT JOIN cnt ON g.event_type = cnt.event_type AND g.bin = cnt.bin
      ORDER BY g.event_type, bin"""))

  // Robust per-type outlier flags: |x − median| > 3·1.4826·MAD. Exact
  // medians (interpolated percentile — the same lower+(upper−lower)·frac
  // tree in both engines); binding: 559 of ~10k events flagged at sf0.01
  // (the value column is exponential-tailed, mean/σ would overflag).
  private val qOutlierMad = QDef(
    "q_outlier_mad",
    (s, dir) => Relational.madOutliers(t(s, dir, "events"),
        Seq("event_type"), "value", k = 3.0)
      .select("event_id", "event_type", "value", "med", "mad", "robust_z")
      .orderBy("event_id"),
    Some("""
      WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events WHERE value IS NOT NULL GROUP BY event_type),
      d AS (SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS dev
            FROM events e JOIN m USING (event_type) WHERE e.value IS NOT NULL),
      a AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY event_type)
      SELECT d.event_id, d.event_type, d.value,
             round(d.med, 6) AS med, round(a.mad, 6) AS mad,
             round(d.dev / (1.4826 * a.mad), 6) AS robust_z
      FROM d JOIN a USING (event_type)
      WHERE a.mad > 0 AND d.dev > 3.0 * (1.4826 * a.mad)
      ORDER BY d.event_id"""))

  // Count-min-sketch heavy hitters over order part keys, with both CMS
  // guarantees as oracle-pinned verdicts: one-sided overcount and the
  // ε = 3/width bound. The grid, probes, and estimates are integer+md5
  // end to end — n_est itself hash-matches cross-engine.
  private val qCmsTopk = QDef(
    "q_cms_topk",
    (s, dir) => Sketches.cmsHeavyHitters(t(s, dir, "lineitem"),
      "l_partkey", topK = 20),
    Some("""
      WITH items AS (SELECT CAST(l_partkey AS VARCHAR) AS item
                     FROM lineitem WHERE l_partkey IS NOT NULL),
      js AS (SELECT unnest(range(0, 4)) AS j),
      g AS (SELECT j, CAST(('0x' || substr(md5(item || ':cms:' || j), 1, 12)) AS BIGINT) % 1024 AS b,
                   count(*) AS c
            FROM items CROSS JOIN js GROUP BY 1, 2),
      n AS (SELECT count(*) AS n_total FROM items),
      ex AS (SELECT item, count(*) AS n_exact FROM items GROUP BY item
             ORDER BY n_exact DESC, item LIMIT 20),
      probe AS (SELECT ex.item, ex.n_exact, js.j,
                  CAST(('0x' || substr(md5(ex.item || ':cms:' || js.j), 1, 12)) AS BIGINT) % 1024 AS b
                FROM ex CROSS JOIN js),
      est AS (SELECT item, max(n_exact) AS n_exact, min(g.c) AS c_min
              FROM probe JOIN g USING (j, b) GROUP BY item)
      SELECT item, n_exact, c_min AS n_est,
             (c_min >= n_exact) AS one_sided,
             ((c_min - n_exact) * 1024 <= 3 * n_total) AS within_bound
      FROM est CROSS JOIN n
      ORDER BY n_exact DESC, item"""))

  // SCD2 dimension history (user's current event_type as the tracked
  // attribute): the Spark side folds INCREMENTALLY — init on the first
  // 15 days, merge the rest — while the oracle compresses the full
  // stream in one pass; equality under the hash check proves the
  // incremental ≡ full contract for time-ordered batches.
  private val qScd2History = QDef(
    "q_scd2_history",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-16"))
      val stored = Relational.scd2Init(ev.where(col("ts") < cut),
        Seq("user_id"), Seq("event_type"), "ts")
      Relational.scd2Merge(stored, ev.where(col("ts") >= cut),
          Seq("user_id"), Seq("event_type"), "ts")
        .orderBy("user_id", "eff_from_us", "event_type")
    },
    Some("""
      WITH v AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) AS eff_from_us FROM events),
      o AS (SELECT user_id, event_type, eff_from_us,
                   row_number() OVER w AS rn, lag(event_type) OVER w AS prev
            FROM v WINDOW w AS (PARTITION BY user_id ORDER BY eff_from_us, event_type)),
      k AS (SELECT user_id, event_type, eff_from_us FROM o
            WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
      SELECT user_id, event_type, eff_from_us,
             lead(eff_from_us) OVER (PARTITION BY user_id ORDER BY eff_from_us, event_type) AS eff_to_us
      FROM k ORDER BY user_id, eff_from_us, event_type"""))

  // Okapi BM25 keyword search: query {dup, spark, window} mixes the
  // corpus's one rare term (df≈25 of 500 docs at sf0.01 → idf ≈ 3) with
  // two near-ubiquitous ones (idf ≈ 0.26), so the ranking binds on the
  // rare term. Per-term scores quantize to ⌊score·10⁶⌋ BIGINTs before
  // the per-doc sum → order-free; ranking (score desc, doc_id) is total.
  private val qBm25 = QDef(
    "q_bm25",
    (s, dir) => TextAnalysis.bm25Search(t(s, dir, "documents"),
        "text", "doc_id", queryTerms = Seq("dup", "spark", "window"),
        k1 = 1.2, b = 0.75, topK = 20),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      tq AS (SELECT doc_id, unnest(toks) AS term FROM d),
      tf AS (SELECT t.doc_id, dl.dl, t.term, CAST(count(*) AS BIGINT) AS tf
             FROM tq t JOIN dl USING (doc_id)
             WHERE t.term IN ('dup', 'spark', 'window')
             GROUP BY t.doc_id, dl.dl, t.term),
      idf AS (SELECT term,
                CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE) + 0.5)
                              / (CAST(df_docs AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
                CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
              FROM (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term)
              CROSS JOIN tot),
      sc AS (SELECT tf.doc_id,
               CAST(floor((CAST(idf_fp AS DOUBLE) / 1e6)
                 * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                 * 1e6) AS BIGINT) AS fp
             FROM tf JOIN idf USING (term)),
      g AS (SELECT doc_id, CAST(SUM(fp) AS BIGINT) AS score_fp,
                   CAST(count(*) AS BIGINT) AS n_terms
            FROM sc GROUP BY doc_id)
      SELECT doc_id, n_terms, CAST(score_fp AS DOUBLE) / 1e6 AS score
      FROM g ORDER BY score DESC, doc_id LIMIT 20"""))

  // Hybrid retrieval: the q_bm25 lexical top-20 RRF-fused with the
  // q_knn_brute semantic top-20 (query = vec 0's embedding). Per-list
  // contributions quantize to ⌊10⁶/(60+rank)⌋ BIGINTs before the sum —
  // order-free — and both component rankings are the already-proven
  // deterministic ones, so the fused ranking hash-matches cross-engine.
  private val qHybridSearch = QDef(
    "q_hybrid_search",
    (s, dir) => Retrieval.hybridSearchRrf(
      t(s, dir, "documents"), "text", "doc_id",
      t(s, dir, "embeddings"), "embedding", "vec_id",
      queryTerms = Seq("dup", "spark", "window"), queryId = 0,
      topKEach = 20, rrfK = 60, topK = 10),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      tq AS (SELECT doc_id, unnest(toks) AS term FROM d),
      tf AS (SELECT t.doc_id, dl.dl, t.term, CAST(count(*) AS BIGINT) AS tf
             FROM tq t JOIN dl USING (doc_id)
             WHERE t.term IN ('dup', 'spark', 'window')
             GROUP BY t.doc_id, dl.dl, t.term),
      idf AS (SELECT term,
                CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE) + 0.5)
                              / (CAST(df_docs AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
                CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
              FROM (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY term)
              CROSS JOIN tot),
      sc AS (SELECT tf.doc_id,
               CAST(floor((CAST(idf_fp AS DOUBLE) / 1e6)
                 * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                 * 1e6) AS BIGINT) AS fp
             FROM tf JOIN idf USING (term)),
      g AS (SELECT doc_id, CAST(SUM(fp) AS BIGINT) AS score_fp FROM sc GROUP BY doc_id),
      bm AS (SELECT doc_id, CAST(score_fp AS DOUBLE) / 1e6 AS score
             FROM g ORDER BY score DESC, doc_id LIMIT 20),
      lex AS (SELECT doc_id AS id,
                CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
              FROM bm),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      knn AS (SELECT e.vec_id,
                ROUND(list_reduce(list_transform(range(64), k -> e.v[k+1] * q.qv[k+1]), (x, y) -> x + y)
                  / NULLIF(sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))
                           * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y)), 0), 6) AS cos6
              FROM e, q WHERE e.vec_id != 0
              ORDER BY cos6 DESC, vec_id LIMIT 20),
      semr AS (SELECT vec_id AS id,
                 CAST(row_number() OVER (ORDER BY cos6 DESC, vec_id) AS BIGINT) AS sem_rank
               FROM knn)
      SELECT COALESCE(l.id, s.id) AS doc_id, l.lex_rank, s.sem_rank,
             CAST(COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(l.lex_rank AS DOUBLE))) AS BIGINT), 0)
                + COALESCE(CAST(floor(1000000.0 / (60.0 + CAST(s.sem_rank AS DOUBLE))) AS BIGINT), 0)
               AS DOUBLE) / 1e6 AS rrf_score
      FROM lex l FULL OUTER JOIN semr s ON l.id = s.id
      ORDER BY rrf_score DESC, doc_id LIMIT 10"""))

  // N-list RRF fusion proper (the generalization behind q_hybrid_search's
  // 2-list join form): three deterministic top-20 retrievers over the
  // document corpus — longest docs, shortest docs, and a portable-hash
  // pseudo-random ranking — fused by quantized reciprocal rank. Each list
  // is a TakeOrdered heap (no corpus-wide sort); n_lists counts true
  // appearances.
  private val qRrfFuse = QDef(
    "q_rrf_fuse",
    (s, dir) => {
      val d = t(s, dir, "documents")
      def top20(order: Column*): DataFrame =
        d.orderBy(order: _*).limit(20)
          .select(col("doc_id"), row_number()
            .over(Window.orderBy(order: _*)).cast("long").as("rank"))
      val byLong = top20(col("n_chars").desc, col("doc_id"))
      val byShort = top20(col("n_chars").asc, col("doc_id"))
      val byHash = top20(TextAnalysis.tokenHash48(
        concat(col("doc_id").cast("string"), lit(":rrf"))).asc, col("doc_id"))
      Retrieval.rrfFuse(Seq(byLong, byShort, byHash), "doc_id", "rank",
          rrfK = 60, topK = 15)
        .select(col("id").as("doc_id"), col("n_lists"), col("rrf_score"))
    },
    Some("""
      WITH r1 AS (SELECT doc_id, r FROM (
             SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r
             FROM documents) WHERE r <= 20),
      r2 AS (SELECT doc_id, r FROM (
             SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars ASC, doc_id) AS BIGINT) AS r
             FROM documents) WHERE r <= 20),
      r3 AS (SELECT doc_id, r FROM (
             SELECT doc_id, CAST(row_number() OVER (
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rrf'), 1, 12)) AS BIGINT),
                        doc_id) AS BIGINT) AS r
             FROM documents) WHERE r <= 20),
      u AS (SELECT doc_id, CAST(floor(1000000.0 / (60.0 + CAST(r AS DOUBLE))) AS BIGINT) AS fp FROM r1
            UNION ALL
            SELECT doc_id, CAST(floor(1000000.0 / (60.0 + CAST(r AS DOUBLE))) AS BIGINT) AS fp FROM r2
            UNION ALL
            SELECT doc_id, CAST(floor(1000000.0 / (60.0 + CAST(r AS DOUBLE))) AS BIGINT) AS fp FROM r3),
      f AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
                   CAST(SUM(fp) AS BIGINT) AS sfp
            FROM u GROUP BY doc_id)
      SELECT doc_id, n_lists, CAST(sfp AS DOUBLE) / 1e6 AS rrf_score
      FROM f ORDER BY rrf_score DESC, doc_id LIMIT 15"""))

  /** One unrolled MMR greedy step for the q_mmr_rerank oracle: from the
    * candidates not yet in `sel{i-1}`, compute each one's max ⌊cos·10⁶⌋
    * against the selected set and pick the integer-MMR argmax
    * (λ_fp·rel6 − (1−λ)_fp·maxsim6; ties on id). Mirrors
    * [[kmeansRoundSql]]'s round-unrolling pattern. */
  private def mmrStepSql(i: Int, lamFp: Long, omFp: Long): String = s"""
      m$i AS (
        SELECT r.id, MAX(CAST(floor(${duckCos("r.v", "s.v")} * 1e6) AS BIGINT)) AS maxsim6
        FROM c0 r, sel${i - 1} s
        WHERE r.id NOT IN (SELECT id FROM sel${i - 1})
        GROUP BY r.id),
      p$i AS (
        SELECT c.id, c.rel6, c.v,
               CAST($lamFp AS BIGINT) * c.rel6 - CAST($omFp AS BIGINT) * m.maxsim6 AS score
        FROM c0 c JOIN m$i m USING (id)
        ORDER BY score DESC, id LIMIT 1),
      sel$i AS (
        SELECT * FROM sel${i - 1}
        UNION ALL SELECT id, rel6, v, score, CAST($i AS BIGINT) AS mmr_rank FROM p$i)"""

  // MMR diversity rerank of the vec-0 cosine shortlist (top 20, λ=0.5,
  // 5 picks): the greedy argmax loop replays step by step in SQL — same
  // integer objective λ_fp·rel6 − (1−λ)_fp·maxsim6, same id tie-break —
  // so the selection ORDER itself is hash-checked, not just membership.
  private val qMmrRerank = QDef(
    "q_mmr_rerank",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cand = Similarity.knnBrute(emb, "embedding", "vec_id", queryId = 0, k = 20)
        .select(col("vec_id"), col("cosine").as("rel"))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      Retrieval.mmrRerank(cand, "vec_id", "rel", "embedding",
          lambda = 0.5, topK = 5)
        .orderBy("mmr_rank")
    },
    Some {
      val steps = (2 to 5).map(mmrStepSql(_, 500000L, 500000L)).mkString(",")
      raw"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      cand AS (SELECT e.vec_id, ${duckCos("e.v", "q.qv")} AS rel, e.v
               FROM e, q WHERE e.vec_id != 0
               ORDER BY ROUND(rel, 6) DESC, vec_id LIMIT 20),
      c0 AS (SELECT vec_id AS id, CAST(floor(rel * 1e6) AS BIGINT) AS rel6, v FROM cand),
      p1 AS (SELECT id, rel6, v, CAST(500000 AS BIGINT) * rel6 AS score
             FROM c0 ORDER BY score DESC, id LIMIT 1),
      sel1 AS (SELECT id, rel6, v, score, CAST(1 AS BIGINT) AS mmr_rank FROM p1),$steps
      SELECT id AS vec_id, mmr_rank,
             CAST(rel6 AS DOUBLE) / 1e6 AS rel,
             CAST(score AS DOUBLE) / 1e12 AS mmr_score
      FROM sel5 ORDER BY mmr_rank"""
    })

  /** DuckDB cosine between two list-of-double columns — the strict
    * dim-order left fold [[org.apache.spark.sql.graft.NearestCentroid]]
    * and `DotProduct` compute (shared by q_semantic_dedup / q_kmeans). */
  private def duckCos(a: String, b: String): String =
    s"""list_reduce(list_transform(range(64), k -> $a[k+1] * $b[k+1]), (x, y) -> x + y)
       / NULLIF(sqrt(list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform($b, x -> x * x), (x, y) -> x + y)), 0)"""

  /** One Lloyd round in the oracle: assign every vector to its
    * argmax-cosine centroid from `cents`, then rebuild centroids as
    * per-dimension fixed-point means (exact BIGINT sums of ⌊x·10⁶⌋ —
    * order-independent, so DuckDB and Spark see bit-identical centroids).
    * Empty cells COALESCE back to their previous centroid. */
  private def kmeansRoundSql(i: Int, prevCents: String): String = s"""
      a$i AS (
        SELECT e.vec_id, e.v, c.cid, ${duckCos("e.v", "c.cv")} AS cos
        FROM e CROSS JOIN $prevCents c WHERE e.v IS NOT NULL),
      g$i AS (
        SELECT vec_id, v, cid FROM (
          SELECT vec_id, v, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM a$i)
        WHERE rn = 1),
      s$i AS (
        SELECT cid, pos, CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS BIGINT) AS sfx,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM g$i)
        GROUP BY cid, pos),
      c$i AS (
        SELECT $prevCents.cid, COALESCE(l.cv, $prevCents.cv) AS cv
        FROM $prevCents LEFT JOIN (
          SELECT cid, list(CAST(sfx AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) ORDER BY pos) AS cv
          FROM s$i GROUP BY cid) l USING (cid))"""

  // Spherical k-means, 2 deterministic Lloyd rounds at k=8: init = the 8
  // lowest-id vectors, argmax-cosine assignment, per-dim FIXED-POINT
  // centroid means — the oracle replays both rounds bit-identically
  // (float means would drift with partitioning; ⌊x·10⁶⌋ BIGINT sums
  // can't).
  private val qKmeans = QDef(
    "q_kmeans",
    (s, dir) => Similarity.kmeansAssign(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 8, iters = 2)
      .orderBy("vec_id"),
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE v IS NOT NULL ORDER BY vec_id LIMIT 8),
      ${kmeansRoundSql(1, "c0")},
      ${kmeansRoundSql(2, "c1")},
      af AS (
        SELECT e.vec_id, c.cid, ${duckCos("e.v", "c.cv")} AS cos
        FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL),
      gf AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM af)
        WHERE rn = 1)
      SELECT e.vec_id, CAST(gf.cid AS BIGINT) AS cluster_id
      FROM e LEFT JOIN gf USING (vec_id) ORDER BY e.vec_id"""))

  // Embedding-space drift between deterministic train/eval slices —
  // symmetric KL over the latent-topic (kmeans-cluster) histograms
  // with add-one smoothing, the latent counterpart of the token-level
  // q_source_divergence. Assignment reuses the audited q_kmeans chain
  // verbatim; each cluster's term quantizes to a ·10⁹ µnat BIGINT
  // before the cross-cluster reduction.
  private val qClusterDivergence = QDef(
    "q_cluster_divergence",
    (s, dir) => Similarity.clusterDivergence(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 8, iters = 2, holdMod = 5L),
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE v IS NOT NULL ORDER BY vec_id LIMIT 8),
      ${kmeansRoundSql(1, "c0")},
      ${kmeansRoundSql(2, "c1")},
      af AS (
        SELECT e.vec_id, c.cid, ${duckCos("e.v", "c.cv")} AS cos
        FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL),
      gf AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM af)
        WHERE rn = 1),
      sp AS (SELECT vec_id, cid,
                    CASE WHEN vec_id % 5 = 0 THEN 'eval' ELSE 'train' END AS split
             FROM gf),
      grid AS (SELECT c.cid, s.split
               FROM (SELECT unnest(range(8)) AS cid) c
               CROSS JOIN (SELECT unnest(['train', 'eval']) AS split) s),
      cnt AS (SELECT cid, split, COUNT(*) AS n FROM sp GROUP BY 1, 2),
      dn AS (SELECT g.cid, g.split, COALESCE(c2n.n, 0) AS n
             FROM grid g LEFT JOIN cnt c2n
               ON c2n.cid = g.cid AND c2n.split = g.split),
      tt AS (SELECT split, CAST(SUM(n) AS BIGINT) AS tot FROM dn GROUP BY 1),
      piv AS (SELECT cid,
               MAX(CASE WHEN d.split = 'train' THEN n END) AS n_train,
               MAX(CASE WHEN d.split = 'eval' THEN n END) AS n_eval,
               MAX(CASE WHEN d.split = 'train' THEN tot END) AS ttn,
               MAX(CASE WHEN d.split = 'eval' THEN tot END) AS ten
              FROM dn d JOIN tt ON tt.split = d.split GROUP BY cid),
      tm AS (SELECT cid, n_train, n_eval,
              CAST(round((((CAST(n_train AS DOUBLE) + 1.0) / (CAST(ttn AS DOUBLE) + 8.0)
                           - (CAST(n_eval AS DOUBLE) + 1.0) / (CAST(ten AS DOUBLE) + 8.0))
                          * ln(((CAST(n_train AS DOUBLE) + 1.0) / (CAST(ttn AS DOUBLE) + 8.0))
                               / ((CAST(n_eval AS DOUBLE) + 1.0) / (CAST(ten AS DOUBLE) + 8.0))))
                         * 1e9) AS BIGINT) AS termq
             FROM piv),
      tot2 AS (SELECT CAST(SUM(CAST(termq AS HUGEINT)) AS BIGINT) AS skl FROM tm)
      SELECT CAST(cid AS BIGINT) AS cluster_id, n_train, n_eval,
             round(CAST(termq AS DOUBLE) / 1e9, 6) + 0.0 AS skl_term,
             round(CAST((SELECT skl FROM tot2) AS DOUBLE) / 1e9, 6) + 0.0 AS skl_total
      FROM tm ORDER BY cluster_id"""))

  /** One power-iteration round for the q_embed_detop oracle: matvec
    * `w = G·u` as a strict q-ordered left fold per row, L2 norm as a
    * strict pos-ordered fold, then `⌊·10⁶⌋`-quantize the new direction —
    * the exact driver arithmetic of
    * [[graft.operators.Similarity.removeTopComponent]], unrolled the way
    * [[kmeansRoundSql]] unrolls Lloyd rounds. */
  private def piRoundSql(i: Int): String = s"""
      w$i AS MATERIALIZED (
              SELECT gd.pp AS pos,
                     list_reduce(list(gd.g * u.uv ORDER BY gd.qq), (x, y) -> x + y) AS wv
              FROM gd JOIN u${i - 1} u ON gd.qq = u.pos GROUP BY gd.pp),
      n$i AS MATERIALIZED (
              SELECT sqrt(list_reduce(list(wv * wv ORDER BY pos), (x, y) -> x + y)) AS nrm
              FROM w$i),
      u$i AS MATERIALIZED (
              SELECT w.pos,
                     CASE WHEN n.nrm > 0 THEN floor(w.wv / n.nrm * 1e6) / 1e6
                          ELSE u.uv END AS uv
              FROM w$i w CROSS JOIN n$i n JOIN u${i - 1} u ON u.pos = w.pos)"""

  // All-but-the-top embedding post-processing: fixed-point corpus mean,
  // exact-integer Gram sums, 5 quantized power-iteration rounds, and the
  // residual projection — the ENTIRE chain (including every power round)
  // replays in SQL, so the learned direction itself is hash-checked, not
  // just the final projection.
  private val qEmbedDetop = QDef(
    "q_embed_detop",
    (s, dir) => {
      val out = Similarity.removeTopComponent(t(s, dir, "embeddings"),
        "embedding", "vec_id", iters = 5)
      out.select(col("vec_id"),
          round(col("top_score"), 6).as("top_score"),
          round(sqrt(call_function(GraftFunctions.DotName,
            col("resid"), col("resid"))), 6).as("resid_norm"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      c AS (SELECT vec_id, v FROM e WHERE v IS NOT NULL),
      x AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM c),
      mu AS (SELECT pos, CAST(SUM(CAST(floor(x * 1e6) AS BIGINT)) AS BIGINT) AS sfx,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM x GROUP BY pos),
      muv AS (SELECT pos, CAST(sfx AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS m FROM mu),
      cr AS MATERIALIZED (
             SELECT x.vec_id, x.pos, CAST(floor((x.x - muv.m) * 1e6) AS BIGINT) AS c6
             FROM x JOIN muv USING (pos)),
      gm AS MATERIALIZED (
             SELECT a.pos AS pp, b.pos AS qq, CAST(SUM(a.c6 * b.c6) AS BIGINT) AS gs
             FROM cr a JOIN cr b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      gd AS MATERIALIZED (SELECT pp, qq, CAST(gs AS DOUBLE) / 1e12 AS g FROM gm),
      j0 AS (SELECT pp FROM gm WHERE pp = qq ORDER BY gs DESC, pp LIMIT 1),
      u0 AS MATERIALIZED (
             SELECT pos, CASE WHEN pos = (SELECT pp FROM j0) THEN CAST(1.0 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END AS uv
             FROM (SELECT DISTINCT pp AS pos FROM gm)),
      ${(1 to 5).map(piRoundSql).mkString(",")},
      cd AS (SELECT vec_id, pos, CAST(c6 AS DOUBLE) / 1e6 AS cv FROM cr),
      dotr AS (SELECT cd.vec_id,
                      list_reduce(list(cd.cv * u.uv ORDER BY cd.pos), (x, y) -> x + y) AS dot
               FROM cd JOIN u5 u ON cd.pos = u.pos GROUP BY cd.vec_id),
      res AS (SELECT cd.vec_id,
                     sqrt(list_reduce(
                       list((cd.cv - d.dot * u.uv) * (cd.cv - d.dot * u.uv) ORDER BY cd.pos),
                       (x, y) -> x + y)) AS rn
              FROM cd JOIN u5 u ON cd.pos = u.pos
                      JOIN dotr d ON cd.vec_id = d.vec_id
              GROUP BY cd.vec_id)
      SELECT e.vec_id, round(d.dot, 6) AS top_score, round(r.rn, 6) AS resid_norm
      FROM e LEFT JOIN dotr d USING (vec_id) LEFT JOIN res r USING (vec_id)
      ORDER BY e.vec_id"""))

  // Cluster-balanced sampling: the q_kmeans latent topics become the
  // strata of a q_temperature_mix α-draw — balance a corpus whose domain
  // labels don't exist. The oracle replays the ENTIRE chain (2 Lloyd
  // rounds → assignment → per-cluster rates → hash-bucket draw); the
  // null-safe stratum join keeps any unassignable (null-vector) rows.
  private val qClusterBalance = QDef(
    "q_cluster_balance",
    (s, dir) => Similarity.clusterBalancedSample(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 8, iters = 2, alpha = 0.5)
      .select("vec_id", "cluster_id", "rate_fp", "keep")
      .orderBy("vec_id"),
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE v IS NOT NULL ORDER BY vec_id LIMIT 8),
      ${kmeansRoundSql(1, "c0")},
      ${kmeansRoundSql(2, "c1")},
      af AS (
        SELECT e.vec_id, c.cid, ${duckCos("e.v", "c.cv")} AS cos
        FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL),
      gf AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM af)
        WHERE rn = 1),
      asg AS (
        SELECT e.vec_id, CAST(gf.cid AS BIGINT) AS cluster_id
        FROM e LEFT JOIN gf USING (vec_id)),
      cc AS (SELECT cluster_id, count(*) AS c FROM asg GROUP BY cluster_id),
      mm AS (SELECT min(c) AS c_min FROM cc WHERE cluster_id IS NOT NULL),
      rr AS (SELECT cluster_id,
                    CASE WHEN cluster_id IS NULL THEN CAST(1000000 AS BIGINT)
                         ELSE CAST(floor(pow(CAST(c_min AS DOUBLE) / c, 0.5) * 1000000) AS BIGINT)
                    END AS rate_fp
             FROM cc CROSS JOIN mm),
      bb AS (SELECT vec_id, cluster_id,
                    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':cbal'), 1, 12)) AS BIGINT)
                      % 1000000 AS bkt
             FROM asg)
      SELECT bb.vec_id, bb.cluster_id, rr.rate_fp, (bb.bkt < rr.rate_fp) AS keep
      FROM bb JOIN rr ON bb.cluster_id IS NOT DISTINCT FROM rr.cluster_id
      ORDER BY bb.vec_id"""))

  // Content-defined-chunking dedup: rolling-hash boundaries make shared
  // passages produce identical segments at ANY offset — at sf0.01 it
  // removes ~1,112 segment instances where the aligned-window
  // q_segment_dedup removes 144 (same corpus, same mean segment size).
  private val qCdcDedup = QDef(
    "q_cdc_dedup",
    (s, dir) => TextAnalysis.cdcDedup(t(s, dir, "documents"),
        "text", "doc_id", divisor = 8)
      .orderBy("doc_id"),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      m AS (SELECT doc_id, list_transform(toks, t ->
              t || CASE WHEN CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) % 8 = 0
                        THEN chr(1) ELSE '' END) AS marked
            FROM d),
      sg AS (SELECT doc_id,
                    list_filter(string_split_regex(array_to_string(marked, ' '), chr(1) || ' ?'),
                      x -> x <> '') AS segs
             FROM m),
      inst AS (SELECT doc_id, i AS seg_idx, segs[CAST(i + 1 AS INT)] AS seg
               FROM (SELECT doc_id, segs, unnest(range(len(segs))) AS i FROM sg)),
      rn AS (SELECT doc_id, seg_idx,
                    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
             FROM inst),
      rem AS (SELECT doc_id, list(seg_idx ORDER BY seg_idx) AS rem_s
              FROM rn WHERE rn > 1 GROUP BY doc_id),
      f AS (SELECT sg.doc_id, sg.segs, coalesce(rem.rem_s, []) AS rem_s
            FROM sg LEFT JOIN rem ON sg.doc_id = rem.doc_id)
      SELECT doc_id,
             CAST(len(segs) AS BIGINT) AS n_segments,
             CAST(len(rem_s) AS BIGINT) AS n_removed,
             coalesce(array_to_string(
               list_filter(segs, (x, i) -> NOT list_contains(rem_s, i - 1)), ' '), '') AS text_dedup
      FROM f ORDER BY doc_id"""))

  // Per-document token-distribution entropy — vocabulary-diversity
  // quality over the documents table; µnat-quantized c·ln(c) terms sum
  // exactly per doc, H derives in one fixed tree.
  private val qTokenEntropy = QDef(
    "q_token_entropy",
    (s, dir) => TextAnalysis.tokenEntropy(t(s, dir, "documents"),
        "text", "doc_id")
      .orderBy("doc_id"),
    Some(raw"""
      WITH tk AS (SELECT doc_id, w
                  FROM (SELECT doc_id,
                               unnest(string_split_regex(trim(text), '\s+')) AS w
                        FROM documents)
                  WHERE length(w) > 0),
      c AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2),
      d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
                   CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sclc
            FROM c GROUP BY 1)
      SELECT doc.doc_id,
             COALESCE(d.n_tokens, 0) AS n_tokens,
             COALESCE(d.distinct_tokens, 0) AS distinct_tokens,
             CASE WHEN d.n_tokens IS NOT NULL
                  THEN round(ln(CAST(d.n_tokens AS DOUBLE))
                             - CAST(d.sclc AS DOUBLE) / 1e6 / CAST(d.n_tokens AS DOUBLE), 6)
                       + 0.0
             END AS entropy_nats
      FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
      ORDER BY doc.doc_id"""))

  // Temperature-based corpus mixing over the skewed lang strata (en is
  // ~3.4× fr at sf0.01, so α=0.5 binds: en keeps ~√(64/218)≈54%, fr 100%).
  // The ⌊rate·10⁶⌋ quantization BEFORE the bucket compare makes the
  // row-exact membership reproducible despite pow() living in libm.
  private val qTemperatureMix = QDef(
    "q_temperature_mix",
    (s, dir) => TextAnalysis.temperatureMix(t(s, dir, "documents"),
        "lang", "doc_id", alpha = 0.5)
      .select("doc_id", "lang", "rate_fp", "keep")
      .orderBy("doc_id"),
    Some("""
      WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
      m AS (SELECT min(c) AS c_min FROM c WHERE lang IS NOT NULL),
      r AS (SELECT lang,
                   CASE WHEN lang IS NULL THEN CAST(1000000 AS BIGINT)
                        ELSE CAST(floor(pow(CAST(c_min AS DOUBLE) / c, 0.5) * 1000000) AS BIGINT)
                   END AS rate_fp
            FROM c CROSS JOIN m),
      b AS (SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 12)) AS BIGINT)
                     % 1000000 AS bkt
            FROM documents)
      SELECT b.doc_id, b.lang, r.rate_fp, (b.bkt < r.rate_fp) AS keep
      FROM b JOIN r ON b.lang IS NOT DISTINCT FROM r.lang ORDER BY b.doc_id"""))

  // DSIR importance resampling targeting lang='en': hashed-unigram bucket
  // likelihood ratios (µnat-quantized BIGINT sums → order-free), Gumbel
  // top-100 draw from the portable id hash. Binding: 100 of 500 docs
  // selected ∝ exp(logw), en-heavy by construction.
  private val qImportanceResample = QDef(
    "q_importance_resample",
    (s, dir) => TextAnalysis.importanceResample(t(s, dir, "documents"),
        "text", "doc_id", isTarget = col("lang") === "en",
        sampleN = 100, buckets = 4096)
      .orderBy("doc_id"),
    Some(raw"""
      WITH tk AS (
        SELECT doc_id, is_target,
               CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) % 4096 AS b
        FROM (SELECT doc_id, (lang = 'en') AS is_target,
                     unnest(string_split_regex(trim(text), '\s+')) AS w
              FROM documents)
        WHERE length(w) > 0),
      c AS (SELECT b, count(*) AS c_r,
                   CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c_t
            FROM tk GROUP BY b),
      tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, CAST(SUM(c_t) AS BIGINT) AS n_t FROM c),
      lam AS (SELECT b,
                CAST(round(ln((CAST(c_t + 1 AS DOUBLE) / CAST(n_t + 4096 AS DOUBLE))
                              / (CAST(c_r + 1 AS DOUBLE) / CAST(n_r + 4096 AS DOUBLE))) * 1e6) AS BIGINT) AS lam_fp
              FROM c CROSS JOIN tot),
      g AS (SELECT doc_id, count(*) AS n_tokens, CAST(SUM(lam_fp) AS BIGINT) AS logw_fp
            FROM tk JOIN lam USING (b) GROUP BY doc_id),
      k AS (SELECT doc_id, n_tokens, logw_fp,
              logw_fp + CAST(round(-ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 12)) AS BIGINT) + 1.0)
                / 281474976710656.0)) * 1e6) AS BIGINT) AS sample_key_fp
            FROM g),
      sel AS (SELECT * FROM k ORDER BY sample_key_fp DESC, doc_id LIMIT 100)
      SELECT doc_id, n_tokens, CAST(logw_fp AS DOUBLE) / 1e6 AS logw_nats, sample_key_fp
      FROM sel ORDER BY doc_id"""))

  // Per-doc TF-IDF top terms: integer tf·⌊ln(N/df)·10⁶⌋ scores make the
  // ranking deterministic cross-engine (ties by term).
  private val qTfidfTerms = QDef(
    "q_tfidf_terms",
    (s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"),
        "text", "doc_id", k = 5)
      .orderBy("doc_id", "rank"),
    Some(raw"""
      WITH tokf AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tokf GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      idf AS (SELECT term, CAST(round(ln(CAST(n_docs AS DOUBLE) / df_docs) * 1e6) AS BIGINT) AS idf_fp
              FROM dfq CROSS JOIN nd),
      sc AS (SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
                    tf.tf * idf.idf_fp AS score_fp
             FROM tf JOIN idf USING (term)),
      r AS (SELECT doc_id, term, tf, score_fp,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, term) AS rank
            FROM sc)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf,
             CAST(score_fp AS DOUBLE) / 1e6 AS tfidf
      FROM r WHERE rank <= 5 ORDER BY doc_id, rank"""))

  // Zipf slope of the corpus token-frequency distribution — the
  // dataset-card statistic (natural text sits near −1; far-off slopes
  // flag boilerplate or synthetic corpora): whitespace terms counted
  // globally, the top 1000 ranked by (freq DESC, term), and OLS of
  // ln(freq) on ln(rank) from exact integer sums of the 6-dp log
  // images (the only libm touch). The cross-moment products exceed
  // 2⁶³ at 1000 × (2.1e7)² — they ride DECIMAL(38,0)/HUGEINT (the
  // q_hasbrouck_lambda envelope convention). At corpus scale the
  // rank cap bounds the regression frame; the term count is one
  // hash agg.
  private val qZipfSlope = QDef(
    "q_zipf_slope",
    (s, dir) => {
      val D38z = DecimalType(38, 0)
      val tf = t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      val ranked = tf
        .withColumn("rank", row_number().over(
          Window.orderBy(col("freq").desc, col("term"))))
        .where(col("rank") <= 1000)
        .withColumn("x", round(log(col("rank").cast("double")) * 1e6).cast("long"))
        .withColumn("y", round(log(col("freq").cast("double")) * 1e6).cast("long"))
      val m = ranked.agg(count(lit(1)).as("n"),
        sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
        sum(col("x").cast(D38z) * col("y")).as("_sxy"),
        sum(col("x").cast(D38z) * col("x")).as("_sxx"))
      val nD = col("n").cast("double")
      val sxD = col("_sx").cast("double")
      val syD = col("_sy").cast("double")
      val num = nD * col("_sxy").cast("double") - sxD * syD
      val den = nD * col("_sxx").cast("double") - sxD * sxD
      val slope = when(col("_sxx") > 0L, round(num / den, 6) + lit(0.0))
      m.select(col("n").as("n_terms"), slope.as("slope"),
        when(slope.isNotNull,
          round((syD / nD - slope * (sxD / nD)) / lit(1e6), 6) + lit(0.0))
          .as("intercept"))
    },
    Some(raw"""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
                   FROM documents),
      tf AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY term),
      rk AS (SELECT *, row_number() OVER (ORDER BY freq DESC, term) AS rank FROM tf),
      lg AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
             FROM rk WHERE rank <= 1000),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM lg),
      sl AS (SELECT n, sx, sy,
                    CASE WHEN sxx > 0 THEN
                      round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
                    END AS slope
             FROM m)
      SELECT n AS n_terms, slope,
             CASE WHEN slope IS NOT NULL THEN
               round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) - slope * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 1e6, 6) + 0.0
             END AS intercept
      FROM sl"""))

  /** PII scrub over planted PII (the corpus has none — like q_gap_daily's
    * planted gaps, a deterministic in-query plant makes the oracle
    * non-vacuous): every 5th doc gains an email + IPv4 + phone, then both
    * engines count and redact with byte-identical alternation-free
    * regexes. */
  private val qPiiScrub = QDef(
    "q_pii_scrub",
    (s, dir) => {
      val planted = t(s, dir, "documents").withColumn("t",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" reach user"), col("doc_id"),
            lit("@example.com or 10.0."), col("doc_id") % 256,
            lit(".1 or +417912"), lit(10000) + col("doc_id") % 90000))
          .otherwise(col("text")))
      planted.select(col("doc_id") +: TextAnalysis.piiCounts(col("t")) :+
          TextAnalysis.scrubPii(col("t")).as("scrubbed"): _*)
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' reach user' || doc_id || '@example.com or 10.0.' || (doc_id % 256) || '.1 or +417912' || (10000 + doc_id % 90000)
                    ELSE text END AS t
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
             len(regexp_extract_all(t, '\+\d{7,15}')) AS n_phones,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\+\d{7,15}', '<PHONE>', 'g') AS scrubbed
      FROM planted ORDER BY doc_id"""))

  /** Cross-doc repeated-span mining (boilerplate detection): 8-token
    * shingles shared by ≥2 documents, ranked by document frequency — the
    * relational shape (explode → groupBy span → distinct-doc count) is
    * exactly the scalable form; a per-doc-pair comparison would be
    * quadratic. Top spans feed span-removal / boilerplate filters. */
  private val qDupSpans = QDef(
    "q_dup_spans",
    // group on the span HASH, not the span string: shingleRows is already
    // distinct-per-doc, so count(*) per hash = document frequency, and
    // min(s) carries ONE string per span through the map-side combine —
    // the shuffle moves 8-byte hashes + one string per distinct span per
    // partition instead of every posting's 8-gram text (the difference
    // between shuffling ~1% and 100% of the corpus at scale). Cross-span
    // hash collisions are the same accepted 2⁻⁶⁴ class as exactDedup.
    (s, dir) => Dedup.shingleRows(t(s, dir, "documents"), "text", "doc_id", 8)
      .select(xxhash64(col("s")).as("h"), col("s"), col("id"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"), min(col("s")).as("span"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("span"))
      .limit(20)
      .select(col("span"), col("n_docs")),
    Some(raw"""
      WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 7),
                      i -> array_to_string(toks[i+1:i+8], ' ')))
               END AS s
        FROM d),
      r AS (SELECT doc_id, unnest(s) AS s FROM sh)
      SELECT s AS span, COUNT(DISTINCT doc_id) AS n_docs
      FROM r GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY n_docs DESC, s LIMIT 20"""))

  /** Eval-set contamination detection (decontamination): corpus docs
    * sharing ≥3 distinct 8-token spans with any eval doc. The eval set is
    * carved deterministically from the corpus (doc_id % 97 == 0 — the
    * planted-fixture pattern of q_gap_daily/q_pii_scrub). Relational
    * shape: shingle both sides → equi-join on the span hash → distinct-
    * span count per (corpus, eval) pair — never a doc×doc comparison, and
    * the join currency is 8-byte hashes. */
  private val qContamination = QDef(
    "q_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val eval_ = docs.filter(col("doc_id") % 97 === 0)
      // plant contamination (the corpus and eval fixture don't overlap
      // naturally — an empty compare would verify nothing): corpus doc
      // eval_id+1 absorbs its eval neighbor's text
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .join(eval_.select((col("doc_id") + 1).as("doc_id"), col("text").as("etext")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("etext").isNotNull, concat(col("text"), lit(" "), col("etext")))
            .otherwise(col("text")).as("text"))
      val cRows = Dedup.shingleRows(corpus, "text", "doc_id", 8)
        .select(col("id").as("corpus_id"), xxhash64(col("s")).as("h"))
      val eRows = Dedup.shingleRows(eval_, "text", "doc_id", 8)
        .select(col("id").as("eval_id"), xxhash64(col("s")).as("h"))
      cRows.join(eRows, "h")
        .groupBy("corpus_id", "eval_id")
        .agg(count(lit(1)).as("n_shared_spans"))
        .filter(col("n_shared_spans") >= 3)
        .orderBy("corpus_id", "eval_id")
    },
    Some(raw"""
      WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      corpus AS (
        SELECT d.doc_id,
               CASE WHEN ev.doc_id IS NOT NULL THEN d.text || ' ' || ev.text
                    ELSE d.text END AS text
        FROM documents d LEFT JOIN ev ON d.doc_id = ev.doc_id + 1
        WHERE d.doc_id % 97 != 0),
      allside AS (
        SELECT doc_id, text, 'c' AS side FROM corpus
        UNION ALL SELECT doc_id, text, 'e' AS side FROM ev),
      sh AS (
        SELECT doc_id, side,
               CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(range(len(toks) - 7),
                      i -> array_to_string(toks[i+1:i+8], ' ')))
               END AS s
        FROM (SELECT doc_id, side, string_split_regex(trim(text), '\s+') AS toks FROM allside)),
      r AS (SELECT doc_id, side, unnest(s) AS s FROM sh)
      SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id, COUNT(*) AS n_shared_spans
      FROM (SELECT * FROM r WHERE side = 'c') c
      JOIN (SELECT * FROM r WHERE side = 'e') e ON c.s = e.s
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
      ORDER BY corpus_id, eval_id"""))

  /** Deterministic hash-based train/val/test split (80/10/10), reported
    * as per-(lang, split) doc and token counts. Hash-bucket assignment is
    * the leak-proof form: a doc's split never changes as the corpus
    * grows, across engines and partitionings. */
  private val qHashSplit = QDef(
    "q_hash_split",
    (s, dir) => t(s, dir, "documents")
      .select(col("lang"), TextAnalysis.split3(col("doc_id")).as("split"),
        TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))).as("n_tok"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "split"),
    Some(raw"""
      WITH b AS (
        SELECT lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 AS bkt,
               len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM documents)
      SELECT lang,
             CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
             COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM b GROUP BY 1, 2 ORDER BY lang, split"""))

  // Quality-ranked token-budget cut: keep the best ~15k of 27k corpus
  // tokens (quality proxy = n_chars/1000). The oracle replays the exact
  // bucket machinery — per-q6 totals, exclusive bucket prefix, boundary
  // bucket's within-bucket id-ordered cumsum — so the greedy prefix
  // membership is hash-checked doc by doc.
  private val qTokenBudget = QDef(
    "q_token_budget",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))).cast("long"))
        .withColumn("quality", col("n_chars").cast("double") / 1000.0)
      TextAnalysis.tokenBudgetCut(docs, "quality", "n_tok", "doc_id",
          budget = 15000L)
        .select(col("doc_id"), col("q6"), col("n_tok"), col("keep"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH b AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
               CAST(floor((CAST(n_chars AS DOUBLE) / 1000.0) * 1e6) AS BIGINT) AS q6
        FROM documents),
      a AS (SELECT q6, CAST(SUM(n_tok) AS BIGINT) AS btok FROM b GROUP BY q6),
      c AS (SELECT q6, btok,
                   CAST(COALESCE(SUM(btok) OVER (ORDER BY q6 DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
            FROM a),
      j AS (SELECT b.doc_id, b.n_tok, b.q6, c.btok, c.bef,
                   CAST(SUM(b.n_tok) OVER (PARTITION BY b.q6 ORDER BY b.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS inc
            FROM b JOIN c USING (q6))
      SELECT doc_id, q6, n_tok,
             CASE WHEN bef + btok <= 15000 THEN TRUE
                  WHEN bef > 15000 THEN FALSE
                  ELSE bef + inc <= 15000 END AS keep
      FROM j ORDER BY doc_id"""))

  /** Per-source quota capping — the domain-quota cleaner (bound any one
    * source's contribution to the corpus): rank docs within each source
    * by quality desc / doc_id asc (total order → reproducible cut), keep
    * the top 15. One window shuffle on `source`; at 100 TB the rank is
    * per-source-partition parallel, and a hot source degrades to that
    * source's partition only (saltable if one domain dominates). */
  private val qSourceQuota = QDef(
    "q_source_quota",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("_toks")).as("quality"))
      Relational.topNPerGroup(scored, Seq("source"),
          Seq(col("quality").desc, col("doc_id").asc), 15, rankCol = "rank")
        .select(col("source"), col("rank"), col("doc_id"), col("quality"))
        .orderBy("source", "rank")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents),
      s AS (
        SELECT doc_id, source,
               len(toks) AS n_tokens,
               len(list_filter(toks, t -> t IN (${sqlList(TextAnalysis.StopwordsEn)}))) AS n_stop_en,
               len(list_distinct(toks)) AS n_uniq
        FROM d),
      q AS (
        SELECT doc_id, source,
               0.4 * LEAST((CAST(n_stop_en AS DOUBLE) / NULLIF(n_tokens, 0)) * 5.0, 1.0)
                 + 0.4 * (CAST(n_uniq AS DOUBLE) / NULLIF(n_tokens, 0))
                 + 0.2 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000 THEN 1.0 ELSE 0.0 END) AS quality
        FROM s),
      r AS (
        SELECT source, doc_id, quality,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
        FROM q)
      SELECT source, rank, doc_id, quality FROM r
      WHERE rank <= 15 ORDER BY source, rank"""))

  /** BPE-ish token accounting next to the whitespace count — per-language
    * budget totals plus the mean pieces-per-ws-token fertility, the
    * number that exposes how badly whitespace counts undercount CJK. The
    * oracle runs the identical lookahead-free GPT-2 pre-tokenizer regex
    * in RE2. */
  private val qBpeTokens = QDef(
    "q_bpe_tokens",
    (s, dir) => t(s, dir, "documents")
      .select(col("lang"),
        TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))).as("n_ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
      .groupBy("lang")
      .agg(sum("n_ws").as("ws_tokens"), sum("n_bpe").as("bpe_tokens"))
      // corpus-level fertility as a ratio of exact integer sums — an avg
      // of per-doc double ratios would be summation-order-dependent
      .withColumn("fertility",
        col("bpe_tokens").cast("double") / col("ws_tokens"))
      .orderBy("lang"),
    Some(raw"""
      WITH c AS (
        SELECT lang,
               len(string_split_regex(trim(text), '\s+')) AS n_ws,
               len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe
        FROM documents)
      SELECT lang, CAST(SUM(n_ws) AS BIGINT) AS ws_tokens, CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
             CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS fertility
      FROM c GROUP BY lang ORDER BY lang"""))

  /** Corpus mixing: deterministic per-language rate sampling
    * (`TextAnalysis.stratifiedSample`) — downweight the dominant
    * language, keep the rest at distinct weights. The oracle re-derives
    * every keep/drop decision from the same portable md5 bucket, so the
    * compare is row-exact MEMBERSHIP, not just counts. */
  private val qStratifiedSample = QDef(
    "q_stratified_sample",
    (s, dir) => TextAnalysis.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id",
        rates = Map("en" -> 0.5, "zh" -> 0.8), defaultRate = 0.25)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some(raw"""
      SELECT doc_id, lang
      FROM (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 12)) AS BIGINT)
                 % 1000000 AS bkt,
               CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.8 ELSE 0.25 END AS rate
        FROM documents)
      WHERE bkt < CAST(FLOOR(rate * 1000000) AS BIGINT)
      ORDER BY doc_id"""))

  /** Cardinality sketching (A-family, beyond-reference): HLL++
    * `approx_count_distinct` next to the exact count, emitting a
    * within-tolerance verdict the oracle checks — the sketch is the 100 TB
    * path (fixed memory, one pass, mergeable across partitions) and this
    * query pins its accuracy contract against DuckDB's exact count. */
  private val qApproxDistinct = QDef(
    "q_approx_distinct",
    (s, dir) => t(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).as("within_tol"))
      .orderBy("event_type"),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Quantile sketching with an accuracy contract, mirroring
    * [[qApproxDistinct]]: `approx_percentile` (KLL-class sketch — fixed
    * memory, mergeable, the 100 TB path) next to the exact percentile,
    * oracle-pinned to stay within 2% relative error. */
  private val qApproxQuantile = QDef(
    "q_approx_quantile",
    (s, dir) => t(s, dir, "events")
      .groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(2000)).as("p50_approx"),
        expr("percentile(value, 0.5)").as("p50_exact"))
      .select(col("event_type"), round(col("p50_exact"), 6).as("p50_exact"),
        (abs(col("p50_approx") - col("p50_exact")) /
          abs(col("p50_exact")) <= 0.02).as("within_tol"))
      .orderBy("event_type"),
    Some("""
      SELECT event_type,
             ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
             TRUE AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Token-budget sequence packing, sharded by language (the scale lever:
    * a running sum parallelizes across shards, serializes globally). */
  private val qPackSequences = QDef(
    "q_pack_sequences",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          // cast: oracle len() is BIGINT; size() is int32 — driver hashes dtypes
          TextAnalysis.tokenCount(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      TextAnalysis.packSequences(docs, "n_tok", "doc_id", 512, Seq("lang"))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          col("cum_tokens"), col("bin"))
        .orderBy("lang", "doc_id")
    },
    Some(raw"""
      WITH t AS (
        SELECT lang, doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents),
      c AS (
        SELECT lang, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT lang, doc_id, n_tokens, cum_tokens,
             CAST(FLOOR((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS bin
      FROM c ORDER BY lang, doc_id"""))

  private val qSentiment = QDef(
    "q_sentiment",
    // U3 inference stage over the deterministic lexicon stub — exercises
    // the batched mapPartitions plumbing end to end; the oracle reproduces
    // the stub's smoothed-lexicon math exactly
    (s, dir) => SentimentScorer.withSentiment(
        t(s, dir, "documents").select("doc_id", "text"), "text",
        SentimentScorer.LexiconStub)
      .select(col("doc_id"), round(col("p_pos"), 6).as("p_pos"),
        round(col("sentiment_score"), 6).as("score_signed"),
        col("sentiment_label"))
      .orderBy("doc_id"),
    Some("""
      WITH d AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
      c AS (
        SELECT doc_id,
               len(list_filter(toks, x -> list_contains(
                 ['good','great','bull','bullish','gain','up','win','moon','fast','big'], x))) AS np,
               len(list_filter(toks, x -> list_contains(
                 ['bad','terrible','bear','bearish','loss','down','fear','crash','slow','small'], x))) AS nn
        FROM d),
      p AS (SELECT doc_id, (1.0 + np) / (2.0 + np + nn) AS p_pos FROM c)
      SELECT doc_id, ROUND(p_pos, 6) AS p_pos,
             ROUND(GREATEST(-1.0, LEAST(1.0, p_pos - (1.0 - p_pos))), 6) AS score_signed,
             CASE WHEN p_pos >= 0.6 THEN 'positive'
                  WHEN p_pos <= 0.4 THEN 'negative'
                  ELSE 'neutral' END AS sentiment_label
      FROM p ORDER BY doc_id"""))

  private val qKnnBrute = QDef(
    "q_knn_brute",
    (s, dir) => Similarity.knnBrute(t(s, dir, "embeddings"), "embedding", "vec_id",
        queryId = 0, k = 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")),
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT e.vec_id,
             ROUND(list_reduce(list_transform(range(64), k -> e.v[k+1] * q.qv[k+1]), (x, y) -> x + y)
               / NULLIF(sqrt(list_reduce(list_transform(e.v, x -> x * x), (x, y) -> x + y))
                        * sqrt(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y)), 0), 6) AS cosine
      FROM e, q
      WHERE e.vec_id != 0
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""))

  // Portable since round 2: hyperplane weights are md5-derived from the
  // (table, plane, dim) key — see Similarity.planeWeight — and projections are
  // strict left folds (codegen DotProduct ≙ list_reduce), so bucketing
  // AND ranking reproduce bit-exactly in DuckDB.
  private val qKnnLsh = QDef(
    "q_knn_lsh",
    (s, dir) => Similarity.knnLsh(t(s, dir, "embeddings"), "embedding", "vec_id",
        queryId = 0, k = 10, planes = 6, tables = 4)
      .select(col("id").as("vec_id"), round(col("cosine"), 6).as("cosine")),
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      grid AS (SELECT r1.t, r2.p FROM range(4) r1(t), range(6) r2(p)),
      proj AS (
        SELECT e.vec_id, g.t, g.p,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), d ->
                 e.v[d+1] * ((CAST(('0x' || substr(md5(g.t || ',' || g.p || ',' || d), 1, 12)) AS BIGINT)
                   % 20001 - 10000) / 10000.0))),
                 (a, x) -> a + x) AS pr
        FROM e CROSS JOIN grid g),
      sigs AS (
        SELECT vec_id, t,
               CAST(SUM(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
        FROM proj GROUP BY vec_id, t),
      q AS (SELECT t, sig FROM sigs WHERE vec_id = 0),
      cand AS (SELECT DISTINCT s.vec_id FROM sigs s JOIN q ON s.t = q.t AND s.sig = q.sig
               WHERE s.vec_id != 0),
      qv AS (SELECT v FROM e WHERE vec_id = 0)
      SELECT c.vec_id,
             ROUND(list_reduce(list_transform(range(64), k -> ev.v[k+1] * qv.v[k+1]), (x, y) -> x + y)
               / NULLIF(sqrt(list_reduce(list_transform(ev.v, x -> x * x), (x, y) -> x + y))
                        * sqrt(list_reduce(list_transform(qv.v, x -> x * x), (x, y) -> x + y)), 0), 6) AS cosine
      FROM cand c JOIN e ev ON ev.vec_id = c.vec_id, qv
      ORDER BY cosine DESC, c.vec_id
      LIMIT 10"""))

  // IVF-PQ composed serving index: deterministic coarse cells (the exact
  // q_kmeans fixed-point machinery at k=8, iters=2), PQ codes in
  // cell-partitioned parquet, probe = 2 nearest cells → ADC shortlist →
  // exact-L2² re-rank. The oracle replays the cell training + probe cell
  // choice + exact distances; the shortlist here covers the probed cells
  // (rerank ≥ corpus) so the result is exactly "top-10 by L2² within the
  // probed cells" — the ADC-quantization recall trade is pinned
  // separately in OpsSpec at production rerank.
  /** Build-if-missing shared IVF-PQ index for the q_ivfpq_* queries —
    * ONE definition of path + build params so the two queries can never
    * drift onto differently-parameterized builds of the same dir. The
    * build is deterministic in the input, so a bench rep reuses the
    * previous rep's index — the serving shape (build once, probe many).
    * Validity = the protocol's own commit marker, NOT the meta file: an
    * interrupted build leaves meta without a marker, and keying on meta
    * would skip the rebuild forever. */
  private def ensureIvfPqIndex(s: SparkSession, dir: String): String = {
    val emb = t(s, dir, "embeddings")
    val path = "target/qidx/ivfpq_v2_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (graft.store.CommitLog(s, path).read().committed.isEmpty)
      Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", path,
        nCells = 8, m = 16, ksub = 16, iters = 2)
    path
  }

  private val qIvfPq = QDef(
    "q_ivfpq_search",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIvfPqIndex(s, dir)
      val qv = emb.where(col("vec_id") === 0L)
        .select(Similarity.toDoubleVec(col("embedding"))).head().getSeq[Double](0)
      Similarity.knnIvfPq(s, path, qv, queryId = 0L, k = 10,
          nProbe = 2, rerank = 100000)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE v IS NOT NULL ORDER BY vec_id LIMIT 8),
      ${kmeansRoundSql(1, "c0")},
      ${kmeansRoundSql(2, "c1")},
      af AS (
        SELECT e.vec_id, c.cid, ${duckCos("e.v", "c.cv")} AS cos
        FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL),
      gf AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM af)
        WHERE rn = 1),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      pc AS (
        SELECT c.cid FROM c2 c, q
        ORDER BY ${duckCos("q.qv", "c.cv")} DESC, c.cid LIMIT 2),
      cand AS (
        SELECT e.vec_id, e.v FROM e
        JOIN gf USING (vec_id)
        WHERE gf.cid IN (SELECT cid FROM pc) AND e.vec_id != 0),
      d AS (
        SELECT c.vec_id,
               list_reduce(list_transform(c.v, x -> x * x), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(range(64), k -> c.v[k+1] * q.qv[k+1]), (x, y) -> x + y)
                 + list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y) AS d2
        FROM cand c, q)
      SELECT vec_id, ROUND(d2, 6) AS dist
      FROM d ORDER BY d2, vec_id LIMIT 10"""))

  // Batched IVF-PQ: three corpus queries served in ONE job through the
  // same persisted index as q_ivfpq_search (build-if-missing on the
  // commit marker; identical deterministic build). Exhaustive shortlist
  // again makes the result exactly "per-query top-10 by L2² within that
  // query's 2 probed cells" — the per-query window generalization of the
  // single-query oracle.
  private val qIvfPqBatch = QDef(
    "q_ivfpq_batch",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIvfPqIndex(s, dir)
      Similarity.knnIvfPqBatch(s, path,
          emb.where(col("vec_id").isin(0L, 1L, 2L)), "vec_id", "embedding",
          k = 10, nProbe = 2, rerank = 100000)
        .select(col("query_id"), col("vec_id"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        FROM e WHERE v IS NOT NULL ORDER BY vec_id LIMIT 8),
      ${kmeansRoundSql(1, "c0")},
      ${kmeansRoundSql(2, "c1")},
      af AS (
        SELECT e.vec_id, c.cid, ${duckCos("e.v", "c.cv")} AS cos
        FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL),
      gf AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM af)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
      pc AS (
        SELECT query_id, cid FROM (
          SELECT q.query_id, c.cid,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${duckCos("q.qv", "c.cv")} DESC, c.cid) AS rn
          FROM q CROSS JOIN c2 c)
        WHERE rn <= 2),
      cand AS (
        SELECT pc.query_id, e.vec_id, e.v, q.qv
        FROM e
        JOIN gf USING (vec_id)
        JOIN pc ON pc.cid = gf.cid
        JOIN q ON q.query_id = pc.query_id
        WHERE e.vec_id != pc.query_id),
      d AS (
        SELECT query_id, vec_id,
               list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)
                 - 2.0 * list_reduce(list_transform(range(64), k -> v[k+1] * qv[k+1]), (x, y) -> x + y)
                 + list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y) AS d2
        FROM cand)
      SELECT query_id, vec_id, ROUND(d2, 6) AS dist FROM (
        SELECT query_id, vec_id, d2,
               row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
        FROM d)
      WHERE rn <= 10
      ORDER BY query_id, d2, vec_id"""))

  private val qEmbedNearDup = QDef(
    "q_embed_neardup",
    (s, dir) => Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
        Seq("label"), "embedding", "vec_id", threshold = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b"),
    Some("""
      WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_transform(range(64), k -> a.v[k+1] * b.v[k+1]), (x, y) -> x + y)
                 / NULLIF(sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)), 0) AS cosine
        FROM e a, e b
        WHERE a.label = b.label AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM p
      WHERE cosine >= 0.4
      ORDER BY id_a, id_b"""))

  private val qEmbedNearDupLsh = QDef(
    "q_embed_neardup_lsh",
    // label-FREE near-dup path: hyperplane-LSH blocking + exact-cosine
    // verification. At this low threshold (0.4, θ≈66°) LSH needs shallow
    // planes / many tables for recall — the blocking gain grows with the
    // threshold; the point of the query is exercising the label-free path
    // end to end. Cross-checked against the exact label-blocked join in
    // OpsSpec (precision is exact by construction; recall ≥ the banding
    // bound).
    (s, dir) => Dedup.embeddingNearDupPairsLsh(t(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.4, planes = 4, tables = 16)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b"),
    // portable since round 2 (md5 hyperplanes + strict-fold projections;
    // the filter is on the UNROUNDED cosine, rounding only in the output,
    // mirroring the Spark plan exactly)
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      grid AS (SELECT r1.t, r2.p FROM range(16) r1(t), range(4) r2(p)),
      proj AS (
        SELECT e.vec_id, g.t, g.p,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(64), d ->
                 e.v[d+1] * ((CAST(('0x' || substr(md5(g.t || ',' || g.p || ',' || d), 1, 12)) AS BIGINT)
                   % 20001 - 10000) / 10000.0))),
                 (a, x) -> a + x) AS pr
        FROM e CROSS JOIN grid g),
      sigs AS (
        SELECT vec_id, t,
               CAST(SUM(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
        FROM proj GROUP BY vec_id, t),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id),
      scored AS (
        SELECT c.id_a, c.id_b,
               list_reduce(list_transform(range(64), k -> va.v[k+1] * vb.v[k+1]), (x, y) -> x + y)
                 / NULLIF(sqrt(list_reduce(list_transform(va.v, x -> x * x), (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(vb.v, x -> x * x), (x, y) -> x + y)), 0) AS cosine
        FROM cand c JOIN e va ON va.vec_id = c.id_a JOIN e vb ON vb.vec_id = c.id_b)
      SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM scored
      WHERE cosine >= 0.4
      ORDER BY id_a, id_b"""))

  // Byte-exact media dedup through the opaque-binary column: payloads
  // group on (length, sha-256) Spark-side; the oracle regenerates the
  // synthetic payloads (planted period-100 duplicates) and groups on
  // the byte sequence itself — the same equivalence classes, so
  // canonical election and dup flags hash-match without DuckDB needing
  // the hash function.
  private val qMediaDedup = QDef(
    "q_media_dedup",
    (s, dir) => graft.operators.Multimodal.exactMediaDedup(
        graft.operators.Multimodal.syntheticMedia(s, 256, contentModulus = 100),
        "content", "media_id")
      .orderBy("media_id"),
    Some("""
      WITH m AS (SELECT i AS media_id,
                   array_to_string(list_transform(range(64),
                     j -> ((i % 100) * 31 + j) % 127), ',') AS ck
                 FROM range(256) r(i)),
      c AS (SELECT ck, MIN(media_id) AS canonical_id FROM m GROUP BY ck)
      SELECT m.media_id, c.canonical_id,
             m.media_id <> c.canonical_id AS is_dup
      FROM m JOIN c USING (ck) ORDER BY media_id"""))

  private val qMultimodal = QDef(
    "q_multimodal",
    (s, dir) => {
      val media = Multimodal.syntheticMedia(s, 256)
      Multimodal.withDecodedFeatures(media, "content", Multimodal.StubCodec)
        .select(col("media_id"), col("meta.format").as("format"),
          size(col("features")).as("feature_dim"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
          (coalesce(col("meta.duration_ms"), lit(0L)) / lit(500L)).cast("long").as("n_frames_500ms"))
        .orderBy("media_id")
    },
    // Portable since round 2: the synthetic payload is arithmetic on
    // media_id and the stub codec is a wrapping-64-bit polynomial fold,
    // which DuckDB emulates with HUGEINT mod-2⁶⁴ arithmetic (signed
    // reinterpretation before the final % — Java semantics). The oracle
    // regenerates the media table itself (the query is self-contained).
    Some("""
      WITH m AS (SELECT i AS media_id FROM range(256) r(i)),
      f AS (SELECT media_id,
        list_reduce(
          list_prepend(CAST(1125899906842597 AS HUGEINT),
            list_transform(range(64), j -> CAST((media_id*31 + j) % 127 AS HUGEINT))),
          (h, b) -> (31*h + b) % 18446744073709551616) AS hu
        FROM m),
      s AS (SELECT media_id,
              CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END AS hs
            FROM f)
      SELECT media_id, 'img' AS format, 8 AS feature_dim,
             ROUND(CAST(CAST((hs % 10000) / 10000.0 AS REAL) AS DOUBLE), 6) AS f0,
             (1000 * (media_id % 10 + 1)) // 500 AS n_frames_500ms
      FROM s ORDER BY media_id"""))

  // ------------------------------------------------------------------
  // Temporal joins (generalization of J4; SURVEY §2.3)
  // ------------------------------------------------------------------

  /** As-of join: each purchase gets the user's most recent prior click
    * (equal ts matches). Union+fill plan — one shuffle on user_id, no
    * candidate-pair blowup (TemporalJoins.asofJoin). The click side is
    * pre-aggregated to one row per (user_id, ts) so the match is
    * deterministic in both engines. */
  private val qAsofJoin = QDef(
    "q_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("value").as("click_value"))
        .select(col("user_id"), col("ts").as("click_ts"), col("click_value"))
      TemporalJoins.asofJoin(purchases, clicks, Seq("user_id"),
          leftTs = "ts", rightTs = "click_ts",
          payload = Seq("click_ts", "click_value"))
        .select(col("event_id"), col("user_id"), micros(col("ts")).as("ts_us"),
          col("value"), micros(col("click_ts")).as("click_ts_us"),
          col("click_value"))
        .orderBy("event_id")
    },
    Some("""
      WITH p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, ts AS click_ts, max(value) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
             epoch_us(c.click_ts) AS click_ts_us, c.click_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.click_ts
      ORDER BY event_id"""))

  /** Range join: clicks attributed to same-user 30-minute error windows.
    * Bucketized equi-join (TemporalJoins.rangeJoin) — the oracle's
    * inequality join is the semantics, not the plan. */
  private val qRangeJoin = QDef(
    "q_range_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val windows = e.filter(col("event_type") === "error")
        .select(col("event_id").as("window_id"), col("user_id").as("user_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      TemporalJoins.rangeJoin(clicks, windows, Seq("user_id"),
          tsCol = "ts", startCol = "w_start", endCol = "w_end",
          bucketSec = 1800)
        .select(col("window_id"), col("click_id"),
          micros(col("ts")).as("ts_us"))
        .orderBy("window_id", "click_id")
    },
    Some("""
      WITH c AS (
        SELECT event_id AS click_id, user_id, ts FROM events
        WHERE event_type = 'click'),
      w AS (
        SELECT event_id AS window_id, user_id, ts AS w_start,
               ts + INTERVAL 30 MINUTE AS w_end
        FROM events WHERE event_type = 'error')
      SELECT w.window_id, c.click_id, epoch_us(c.ts) AS ts_us
      FROM c JOIN w
        ON c.user_id = w.user_id AND c.ts >= w.w_start AND c.ts < w.w_end
      ORDER BY window_id, click_id"""))

  // Lempel–Ziv 76 complexity of each type's hourly sign tape (AFML
  // ch. 18 — the phrase-count entropy proxy beside permutation
  // entropy): one custom Catalyst window pass builds the exhaustive-
  // history factorization per series; state and updates are INTEGER +
  // text only (no floats in the recursion), so DuckDB replays the
  // identical per-symbol fold as a list_reduce over a '|'-packed state
  // string (the q_ema fold doctrine). Closed forms spec-pinned:
  // constant tape → 2, alternating → 3, Kaspar–Schuster's canonical
  // 0001101001000101 → 6 (cross-checked against the K-S scanner on 2k
  // random tapes). lz_ratio = c·log₂(n)/n, one fixed double tree.
  private val qLzComplexity = QDef(
    "q_lz_complexity",
    (s, dir) => {
      val w = W.series(Seq("event_type"), Seq("bucket"))
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_v"))
      val sg = hourly.withColumn("sig",
        signum(col("mean_v") - lag(col("mean_v"), 1).over(w)))
      sg.withColumn("lz", W.lzComplexity(col("sig"), w))
        .where(col("sig").isNotNull && col("sig") =!= 0.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_signs"),
          max(col("lz")).as("lz_complexity"))
        .select(col("event_type"), col("n_signs"), col("lz_complexity"),
          when(col("n_signs") >= 2,
            round(col("lz_complexity").cast("double") *
              (log(col("n_signs").cast("double")) / log(lit(2.0))) /
              col("n_signs").cast("double"), 6) + lit(0.0)).as("lz_ratio"))
        .orderBy("event_type")
    },
    Some("""
      WITH hm AS (SELECT event_type AS k, date_trunc('hour', ts) AS t,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS p
                  FROM events GROUP BY 1, 2),
      sg AS (SELECT k, t, sign(p - lag(p) OVER (PARTITION BY k ORDER BY t)) AS sig
             FROM hm),
      tape AS (SELECT k,
                      list(CASE WHEN sig > 0 THEN 'u' ELSE 'd' END ORDER BY t) AS chars,
                      COUNT(*) AS n
               FROM sg WHERE sig IS NOT NULL AND sig <> 0 GROUP BY k),
      fold AS (SELECT k, n,
                 list_reduce(list_prepend('|0|0', chars), (acc, x) ->
                   CASE WHEN NOT contains(
                       substr(split_part(acc, '|', 1) || x, 1,
                              length(split_part(acc, '|', 1) || x) - 1),
                       substr(split_part(acc, '|', 1) || x,
                              CAST(split_part(acc, '|', 2) AS INT) + 1,
                              length(split_part(acc, '|', 1) || x)
                                - CAST(split_part(acc, '|', 2) AS INT)))
                   THEN (split_part(acc, '|', 1) || x) || '|'
                        || CAST(length(split_part(acc, '|', 1) || x) AS VARCHAR)
                        || '|'
                        || CAST(CAST(split_part(acc, '|', 3) AS INT) + 1 AS VARCHAR)
                   ELSE (split_part(acc, '|', 1) || x) || '|'
                        || split_part(acc, '|', 2) || '|' || split_part(acc, '|', 3)
                   END) AS st
               FROM tape),
      fc AS (SELECT k, n,
                    CAST(split_part(st, '|', 3) AS INT)
                      + CASE WHEN CAST(split_part(st, '|', 2) AS INT)
                                  < length(split_part(st, '|', 1))
                             THEN 1 ELSE 0 END AS c
             FROM fold)
      SELECT k AS event_type, n AS n_signs, c AS lz_complexity,
             CASE WHEN n >= 2 THEN
               round(CAST(c AS DOUBLE) * (ln(CAST(n AS DOUBLE)) / ln(2.0))
                     / CAST(n AS DOUBLE), 6) + 0.0
             END AS lz_ratio
      FROM fc ORDER BY event_type"""))

  // Two-scale realized variance (Zhang-Mykland-Aït-Sahalia 2005) per
  // type-day — the microstructure-noise-robust RV beside
  // q_realized_moments: tick RV, the K=5 subsample-averaged RV, and the
  // bias-corrected TSRV. Both squared-return streams quantize to ·10¹²
  // BIGINTs; the correction is one fixed double tree.
  private val qTsrv = QDef(
    "q_tsrv",
    (s, dir) => TA.twoScaleRV(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", "day", kSub = 5)
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("n_returns"), col("rv_all"), col("rv_avg"), col("tsrv"))
      .orderBy("event_type", "bucket_us"),
    Some("""
      WITH b0 AS (SELECT event_type AS k, ts, event_id,
                         CAST(value AS DOUBLE) AS p
                  FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, ts,
                    ln(p / lag(p) OVER w) AS r1,
                    ln(p / lag(p, 5) OVER w) AS rk
             FROM b0 WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      t AS (SELECT k, date_trunc('day', ts) AS bucket,
                   CAST(round(r1 * r1 * 1e12) AS BIGINT) AS q1,
                   CAST(round(rk * rk * 1e12) AS BIGINT) AS qk
            FROM r0 WHERE r1 IS NOT NULL),
      g AS (SELECT k, bucket, COUNT(*) AS n_returns,
                   CAST(SUM(q1) AS BIGINT) AS s1,
                   CAST(SUM(qk) AS BIGINT) AS sk
            FROM t GROUP BY 1, 2)
      SELECT k AS event_type, epoch_us(bucket) AS bucket_us, n_returns,
             round(CAST(s1 AS DOUBLE) / 1e12, 6) + 0.0 AS rv_all,
             round(COALESCE(CAST(sk AS DOUBLE), 0.0) / 1e12 / 5.0, 6) + 0.0 AS rv_avg,
             CASE WHEN n_returns > 5 THEN
               round(COALESCE(CAST(sk AS DOUBLE), 0.0) / 1e12 / 5.0
                     - (CAST(n_returns AS DOUBLE) - 4.0) / 5.0
                       / CAST(n_returns AS DOUBLE)
                       * (CAST(s1 AS DOUBLE) / 1e12), 6) + 0.0
             END AS tsrv
      FROM g ORDER BY k, bucket_us"""))

  // Realized kernel (BNHLS 2008) per type-day — the kernel-weighted
  // autocovariance member of the noise-robust family beside q_tsrv:
  // each lag-h cross product quantizes to its own ·10¹² BIGINT stream,
  // the Parzen weights fold in Scala and interpolate as literals (the
  // fracDiff precedent), RK is one fixed tree over H+1 exact images.
  private val RkBandwidth = 4
  private val qRealizedKernel = QDef(
    "q_realized_kernel",
    (s, dir) => TA.realizedKernel(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id", "day", bandwidth = RkBandwidth)
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("n_returns"), col("rv"), col("rk"))
      .orderBy("event_type", "bucket_us"),
    Some {
      val lagCols = (1 to RkBandwidth).map(h =>
        s"CAST(round(r * lag(r, $h) OVER w * 1e12) AS BIGINT) AS q$h")
        .mkString(",\n                   ")
      val sumCols = (1 to RkBandwidth).map(h =>
        s"CAST(SUM(q$h) AS BIGINT) AS s$h").mkString(",\n                   ")
      val rkExpr = (1 to RkBandwidth).foldLeft("CAST(s0 AS DOUBLE) / 1e12") {
        (acc, h) =>
          val wS = java.lang.Double.toString(
            TA.parzen(h.toDouble / (RkBandwidth + 1.0)))
          s"$acc + ($wS) * 2.0 * (COALESCE(CAST(s$h AS DOUBLE), 0.0) / 1e12)"
      }
      s"""
      WITH b0 AS (SELECT event_type AS k, ts, event_id,
                         CAST(value AS DOUBLE) AS p
                  FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, ts,
                    ln(p / lag(p) OVER (PARTITION BY k ORDER BY ts, event_id)) AS r,
                    event_id
             FROM b0),
      r1 AS (SELECT k, ts, r, event_id FROM r0 WHERE r IS NOT NULL),
      t AS (SELECT k, ts,
                   CAST(round(r * r * 1e12) AS BIGINT) AS q0,
                   $lagCols
            FROM r1 WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
      g AS (SELECT k, date_trunc('day', ts) AS bucket, COUNT(*) AS n_returns,
                   CAST(SUM(q0) AS BIGINT) AS s0,
                   $sumCols
            FROM t GROUP BY 1, 2)
      SELECT k AS event_type, epoch_us(bucket) AS bucket_us, n_returns,
             round(CAST(s0 AS DOUBLE) / 1e12, 6) + 0.0 AS rv,
             CASE WHEN n_returns > $RkBandwidth
               THEN round($rkExpr, 6) + 0.0 END AS rk
      FROM g ORDER BY k, bucket_us"""
    })

  /** SQL image of [[TA]]'s `det3c` — the same first-row cofactor tree. */
  private def det3s(a: String, b: String, c: String, d: String, e: String,
                    f: String, g: String, h: String, i: String): String =
    s"$a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g)"

  /** SQL image of `det4c`: first-row expansion over [[det3s]] minors. */
  private def det4s(m: IndexedSeq[IndexedSeq[String]]): String = {
    def minor(skip: Int): String = {
      val cs = (0 to 3).filterNot(_ == skip)
      det3s(m(1)(cs(0)), m(1)(cs(1)), m(1)(cs(2)),
            m(2)(cs(0)), m(2)(cs(1)), m(2)(cs(2)),
            m(3)(cs(0)), m(3)(cs(1)), m(3)(cs(2)))
    }
    s"${m(0)(0)} * (${minor(0)}) - ${m(0)(1)} * (${minor(1)}) " +
      s"+ ${m(0)(2)} * (${minor(2)}) - ${m(0)(3)} * (${minor(3)})"
  }

  // HAR-RV (Corsi 2009) per event type on the hourly-RV cascade
  // (1h / 24h / 168h components): closed-form 4-regressor OLS with no
  // driver solve — exact DECIMAL(38) moment sums over ·10⁶ regressor
  // images, then Cramer's rule as ONE fixed first-row-cofactor double
  // tree spelled identically in both engines (det3s/det4s mirror the
  // engine's det3c/det4c). The n-regressor generalization of the
  // two-regressor closed forms (q_ewm_beta, q_fama_macbeth).
  private val qHarRv = QDef(
    "q_har_rv",
    (s, dir) => TA.harRegression(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "event_id")
      .orderBy("event_type"),
    Some {
      val mAll = IndexedSeq(
        IndexedSeq("1.0", "m1", "m2", "m3"),
        IndexedSeq("m1", "m11", "m12", "m13"),
        IndexedSeq("m2", "m12", "m22", "m23"),
        IndexedSeq("m3", "m13", "m23", "m33"))
      val bv = IndexedSeq("my", "m1y", "m2y", "m3y")
      def swapped(i: Int) =
        mAll.indices.map(r => mAll(r).indices.map(c =>
          if (c == i) bv(r) else mAll(r)(c)))
      s"""
      WITH b0 AS (SELECT event_type AS k, ts, event_id,
                         CAST(value AS DOUBLE) AS p
                  FROM events WHERE value IS NOT NULL AND value > 0),
      r0 AS (SELECT k, ts,
                    ln(p / lag(p) OVER (PARTITION BY k ORDER BY ts, event_id)) AS r
             FROM b0),
      h AS (SELECT k, date_trunc('hour', ts) AS bucket,
                   CAST(SUM(CAST(round(r * r * 1e12) AS BIGINT)) AS BIGINT) AS s2
            FROM r0 WHERE r IS NOT NULL GROUP BY 1, 2),
      o AS (SELECT k,
                   CAST(round(CAST(s2 AS DOUBLE) / 1e12 * 1e6) AS BIGINT) AS yq,
                   CAST(round(CAST(lag(s2) OVER wb AS DOUBLE) / 1e12 * 1e6) AS BIGINT) AS x1q,
                   CAST(round(CAST(SUM(s2) OVER w24 AS DOUBLE) / 1e12 / 24.0 * 1e6) AS BIGINT) AS x2q,
                   CAST(round(CAST(SUM(s2) OVER w168 AS DOUBLE) / 1e12 / 168.0 * 1e6) AS BIGINT) AS x3q,
                   COUNT(s2) OVER w168 AS fullw
            FROM h WINDOW
              wb AS (PARTITION BY k ORDER BY bucket),
              w24 AS (PARTITION BY k ORDER BY bucket
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING),
              w168 AS (PARTITION BY k ORDER BY bucket
                       ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING)),
      v AS (SELECT * FROM o WHERE fullw = 168),
      mo AS (SELECT k, COUNT(*) AS n,
               SUM(CAST(x1q AS HUGEINT)) AS sx1,
               SUM(CAST(x2q AS HUGEINT)) AS sx2,
               SUM(CAST(x3q AS HUGEINT)) AS sx3,
               SUM(CAST(yq AS HUGEINT)) AS sy,
               SUM(CAST(x1q AS HUGEINT) * x1q) AS s11,
               SUM(CAST(x1q AS HUGEINT) * x2q) AS s12,
               SUM(CAST(x1q AS HUGEINT) * x3q) AS s13,
               SUM(CAST(x2q AS HUGEINT) * x2q) AS s22,
               SUM(CAST(x2q AS HUGEINT) * x3q) AS s23,
               SUM(CAST(x3q AS HUGEINT) * x3q) AS s33,
               SUM(CAST(x1q AS HUGEINT) * yq) AS s1y,
               SUM(CAST(x2q AS HUGEINT) * yq) AS s2y,
               SUM(CAST(x3q AS HUGEINT) * yq) AS s3y,
               SUM(CAST(yq AS HUGEINT) * yq) AS syy
             FROM v GROUP BY k),
      nm AS (SELECT k, n,
               CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
               CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
               CAST(sx3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
               CAST(s11 AS DOUBLE) / CAST(n AS DOUBLE) AS m11,
               CAST(s12 AS DOUBLE) / CAST(n AS DOUBLE) AS m12,
               CAST(s13 AS DOUBLE) / CAST(n AS DOUBLE) AS m13,
               CAST(s22 AS DOUBLE) / CAST(n AS DOUBLE) AS m22,
               CAST(s23 AS DOUBLE) / CAST(n AS DOUBLE) AS m23,
               CAST(s33 AS DOUBLE) / CAST(n AS DOUBLE) AS m33,
               CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
               CAST(s1y AS DOUBLE) / CAST(n AS DOUBLE) AS m1y,
               CAST(s2y AS DOUBLE) / CAST(n AS DOUBLE) AS m2y,
               CAST(s3y AS DOUBLE) / CAST(n AS DOUBLE) AS m3y,
               CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) AS myy
             FROM mo),
      dts AS (SELECT k, n, my, m1y, m2y, m3y, myy,
               ${det4s(mAll)} AS detA,
               ${det4s(swapped(0))} AS d0,
               ${det4s(swapped(1))} AS d1,
               ${det4s(swapped(2))} AS d2,
               ${det4s(swapped(3))} AS d3
             FROM nm)
      SELECT k AS event_type, n AS n_obs,
             CASE WHEN detA <> 0.0
               THEN round(d0 / detA / 1e6, 6) + 0.0 END AS beta0,
             CASE WHEN detA <> 0.0
               THEN round(d1 / detA, 6) + 0.0 END AS beta_short,
             CASE WHEN detA <> 0.0
               THEN round(d2 / detA, 6) + 0.0 END AS beta_mid,
             CASE WHEN detA <> 0.0
               THEN round(d3 / detA, 6) + 0.0 END AS beta_long,
             CASE WHEN detA <> 0.0
                    AND myy - my * my > 0.0
               THEN round((d0 / detA * my + d1 / detA * m1y
                           + d2 / detA * m2y + d3 / detA * m3y
                           - my * my)
                          / (myy - my * my), 6) + 0.0 END AS r2
      FROM dts ORDER BY event_type"""
    })

  // GARCH(1,1) variance-targeted filter per event type on the hourly
  // log-return series — the mean-reverting vol model beside the
  // RiskMetrics EWMA and the realized family. Engine: custom Catalyst
  // window function (GarchVariance, O(1) state); oracle: the same
  // affine recursion as a list_reduce fold (the q_ema doctrine) over
  // the IDENTICAL ·10¹²-quantized squared returns, ω from their exact
  // integer sum.
  private val GarchAlpha = 0.08
  private val GarchBeta = 0.90
  private val qGarch = QDef(
    "q_garch",
    (s, dir) => TA.garchFilter(t(s, dir, "events"), Seq("event_type"),
        "ts", "value", "hour", GarchAlpha, GarchBeta)
      .select(col("event_type"), micros(col("bucket")).as("bucket_us"),
        col("ret"), col("garch_var_u"), col("garch_vol_ann"))
      .orderBy("event_type", "bucket_us"),
    Some {
      val a = java.lang.Double.toString(GarchAlpha)
      val b = java.lang.Double.toString(GarchBeta)
      val fac = java.lang.Double.toString(1.0 - GarchAlpha - GarchBeta)
      s"""
      WITH hm AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS p
                  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      r0 AS (SELECT k, bucket, p,
                    lag(p) OVER (PARTITION BY k ORDER BY bucket) AS pl
             FROM hm),
      r1 AS (SELECT k, bucket,
                    CASE WHEN p > 0 AND pl > 0 THEN ln(p / pl) END AS r
             FROM r0),
      x AS (SELECT k, bucket, r,
                   CAST(round(r * r * 1e12) AS BIGINT) AS x2q
            FROM r1),
      o AS (SELECT k, bucket, r,
                   CAST(SUM(x2q) OVER pk AS DOUBLE)
                     / CAST(COUNT(x2q) OVER pk AS DOUBLE) / 1e12 * $fac AS omega,
                   list(CAST(x2q AS DOUBLE) / 1e12) OVER wr AS xs
            FROM x WINDOW
              pk AS (PARTITION BY k),
              wr AS (PARTITION BY k ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      f AS (SELECT k, bucket, r,
                   list_reduce(xs, (acc, e) -> CASE
                     WHEN e IS NULL THEN acc
                     WHEN acc IS NULL THEN e
                     ELSE (omega + $a * e) + $b * acc END) AS h
            FROM o)
      SELECT k AS event_type, epoch_us(bucket) AS bucket_us,
             round(r, 6) + 0.0 AS ret,
             round(h * 1e6, 6) + 0.0 AS garch_var_u,
             CASE WHEN h > 0 THEN round(sqrt(h * 8760.0), 6) + 0.0 END
               AS garch_vol_ann
      FROM f ORDER BY event_type, bucket_us"""
    })

  // Newey–West HAC drift test per event type — is the mean hourly
  // CHANGE nonzero under autocorrelation-robust (Bartlett, L=4)
  // errors? The differencing runs in exact-integer space on the same
  // ·10⁴ quantized hourly means as q_acf; every per-lag reduction is
  // an exact HUGEINT/DECIMAL(38) sum, the lag fold is a pivoted fixed
  // tree (never an order-dependent float SUM).
  private val NwLags = 4
  private val qNeweyWest = QDef(
    "q_newey_west",
    (s, dir) => {
      val h = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg((dsum(col("value")) / count(lit(1))).as("v"))
        .withColumn("hb", expr("unix_micros(bucket) div 3600000000"))
      Relational.neweyWest(h, "event_type", "hb", "v", maxLag = NwLags,
        scale = 1e4, diff = true)
    },
    Some {
      val weights = (1 to NwLags).map(l =>
        java.lang.Double.toString(2.0 * (1.0 - l.toDouble / (NwLags + 1.0))))
      def gsql(l: Int): String =
        s"""(CAST(sxy$l AS DOUBLE)
             - mu * (CAST(sa$l AS DOUBLE) + CAST(sb$l AS DOUBLE))
             + CAST(nl$l AS DOUBLE) * (mu * mu)) / CAST(n AS DOUBLE)"""
      val lrv = (1 to NwLags).foldLeft("g0") { (acc, l) =>
        s"($acc + ${weights(l - 1)} * g$l)" }
      val pivCells = (0 to NwLags).flatMap(l => Seq(
        s"MAX(CASE WHEN lag = $l THEN nl END) AS nl$l",
        s"MAX(CASE WHEN lag = $l THEN sa END) AS sa$l",
        s"MAX(CASE WHEN lag = $l THEN sb END) AS sb$l",
        s"MAX(CASE WHEN lag = $l THEN sxy END) AS sxy$l")).mkString(",\n               ")
      s"""
      WITH h0 AS (SELECT event_type AS k,
                        epoch_us(date_trunc('hour', ts)) // 3600000000 AS hb,
                        CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                   / COUNT(*) * 1e4) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      h AS (SELECT * FROM h0 WHERE v IS NOT NULL),
      d AS (SELECT a.k, a.hb + 1 AS t, b.v - a.v AS dv
            FROM h a JOIN h b ON b.k = a.k AND b.hb = a.hb + 1),
      tot AS (SELECT k, COUNT(*) AS n, SUM(CAST(dv AS HUGEINT)) AS sv
              FROM d GROUP BY k),
      l AS (SELECT unnest(range(0, ${NwLags + 1})) AS lag),
      p AS (SELECT x.k, l.lag, x.dv AS xa, y.dv AS xb
            FROM d x CROSS JOIN l JOIN d y ON y.k = x.k AND y.t = x.t + l.lag),
      s AS (SELECT k, lag, COUNT(*) AS nl,
                   SUM(CAST(xa AS HUGEINT)) AS sa,
                   SUM(CAST(xb AS HUGEINT)) AS sb,
                   SUM(CAST(xa AS HUGEINT) * xb) AS sxy
            FROM p GROUP BY 1, 2),
      piv AS (SELECT k,
               $pivCells
              FROM s GROUP BY k),
      jm AS (SELECT t.k, t.n, piv.* EXCLUDE (k),
                    CAST(t.sv AS DOUBLE) / CAST(t.n AS DOUBLE) AS mu
             FROM tot t JOIN piv ON piv.k = t.k),
      g AS (SELECT k, n, mu,
                   ${(0 to NwLags).map(l => s"${gsql(l)} AS g$l")
                     .mkString(",\n                   ")}
            FROM jm),
      fin AS (SELECT k, n, mu, $lrv AS lrvq FROM g)
      SELECT k AS key, n,
             round(mu / 10000.0, 6) + 0.0 AS mean_v,
             round(lrvq / 10000.0 / 10000.0, 6) + 0.0 AS lrv,
             CASE WHEN lrvq > 0.0 THEN
               round(sqrt(lrvq / CAST(n AS DOUBLE)) / 10000.0, 6) + 0.0 END
               AS se_mean,
             CASE WHEN lrvq > 0.0 THEN
               round(mu / sqrt(lrvq / CAST(n AS DOUBLE)), 6) + 0.0 END
               AS t_mean
      FROM fin ORDER BY key"""
    })

  // Diebold–Mariano forecast comparison per event type: RiskMetrics
  // EWMA vs the variance-targeted GARCH(1,1) filter, one-step-ahead
  // squared-error loss on the hourly squared-return series, HAC
  // (Bartlett L=4) mean test on the loss differential. Both forecast
  // folds replay in the oracle over the identical quantized squares;
  // the loss differential floors to an exact ·10¹⁸ BIGINT before any
  // cross-row reduction.
  private val qDmTest = QDef(
    "q_dm_test",
    (s, dir) => TA.dmVolForecast(t(s, dir, "events"), "event_type",
      "ts", "value", "hour", 0.06, GarchAlpha, GarchBeta, NwLags),
    Some {
      val ga = java.lang.Double.toString(GarchAlpha)
      val gb = java.lang.Double.toString(GarchBeta)
      val fac = java.lang.Double.toString(1.0 - GarchAlpha - GarchBeta)
      val ea = java.lang.Double.toString(0.06)
      val eb = java.lang.Double.toString(1.0 - 0.06)
      val weights = (1 to NwLags).map(l =>
        java.lang.Double.toString(2.0 * (1.0 - l.toDouble / (NwLags + 1.0))))
      def gsql(l: Int): String =
        s"""(CAST(sxy$l AS DOUBLE)
             - mu * (CAST(sa$l AS DOUBLE) + CAST(sb$l AS DOUBLE))
             + CAST(nl$l AS DOUBLE) * (mu * mu)) / CAST(n AS DOUBLE)"""
      val lrv = (1 to NwLags).foldLeft("g0") { (acc, l) =>
        s"($acc + ${weights(l - 1)} * g$l)" }
      val pivCells = (0 to NwLags).flatMap(l => Seq(
        s"MAX(CASE WHEN lag = $l THEN nl END) AS nl$l",
        s"MAX(CASE WHEN lag = $l THEN sa END) AS sa$l",
        s"MAX(CASE WHEN lag = $l THEN sb END) AS sb$l",
        s"MAX(CASE WHEN lag = $l THEN sxy END) AS sxy$l")).mkString(",\n               ")
      s"""
      WITH hm AS (SELECT event_type AS k, date_trunc('hour', ts) AS bucket,
                         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS p
                  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      r0 AS (SELECT k, bucket, p,
                    lag(p) OVER (PARTITION BY k ORDER BY bucket) AS pl
             FROM hm),
      r1 AS (SELECT k, bucket,
                    CASE WHEN p > 0 AND pl > 0 THEN ln(p / pl) END AS r
             FROM r0),
      x AS (SELECT k, bucket,
                   CAST(round(r * r * 1e12) AS BIGINT) AS x2q
            FROM r1),
      o AS (SELECT k, bucket,
                   CAST(x2q AS DOUBLE) / 1e12 AS x2,
                   CAST(SUM(x2q) OVER pk AS DOUBLE)
                     / CAST(COUNT(x2q) OVER pk AS DOUBLE) / 1e12 AS vbar,
                   CAST(SUM(x2q) OVER pk AS DOUBLE)
                     / CAST(COUNT(x2q) OVER pk AS DOUBLE) / 1e12 * $fac AS omega,
                   list(CAST(x2q AS DOUBLE) / 1e12) OVER wr AS xs
            FROM x WINDOW
              pk AS (PARTITION BY k),
              wr AS (PARTITION BY k ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      f AS (SELECT k, bucket, x2, vbar,
                   list_reduce(xs, (acc, e) -> CASE
                     WHEN e IS NULL THEN acc
                     WHEN acc IS NULL THEN e
                     ELSE (omega + $ga * e) + $gb * acc END) AS h,
                   list_reduce(xs, (acc, e) -> CASE
                     WHEN e IS NULL THEN acc
                     WHEN acc IS NULL THEN e
                     ELSE acc * $eb + e * $ea END) AS m
            FROM o),
      fc AS (SELECT k, bucket,
                    CASE WHEN vbar > 0 THEN x2 / vbar END AS z,
                    CASE WHEN vbar > 0 THEN
                      CAST(CAST(round(lag(m) OVER wkb / vbar * 1e9) AS BIGINT)
                           AS DOUBLE) / 1e9 END AS f1,
                    CASE WHEN vbar > 0 THEN
                      CAST(CAST(round(lag(h) OVER wkb / vbar * 1e9) AS BIGINT)
                           AS DOUBLE) / 1e9 END AS f2
             FROM f WINDOW wkb AS (PARTITION BY k ORDER BY bucket)),
      dd AS (SELECT k, epoch_us(bucket) // 3600000000 AS t,
                    CAST(floor(((z - f1) * (z - f1)) * 1e9) AS BIGINT) AS e1q,
                    CAST(floor(((z - f2) * (z - f2)) * 1e9) AS BIGINT) AS e2q,
                    CAST(floor((((z - f1) * (z - f1))
                                - ((z - f2) * (z - f2))) * 1e9) AS BIGINT) AS dv
             FROM fc),
      d AS (SELECT * FROM dd WHERE dv IS NOT NULL),
      tot AS (SELECT k, COUNT(*) AS n, SUM(CAST(dv AS HUGEINT)) AS sv,
                     SUM(CAST(e1q AS HUGEINT)) AS se1,
                     SUM(CAST(e2q AS HUGEINT)) AS se2
              FROM d GROUP BY k),
      l AS (SELECT unnest(range(0, ${NwLags + 1})) AS lag),
      p AS (SELECT x.k, l.lag, x.dv AS xa, y.dv AS xb
            FROM d x CROSS JOIN l JOIN d y ON y.k = x.k AND y.t = x.t + l.lag),
      s AS (SELECT k, lag, COUNT(*) AS nl,
                   SUM(CAST(xa AS HUGEINT)) AS sa,
                   SUM(CAST(xb AS HUGEINT)) AS sb,
                   SUM(CAST(xa AS HUGEINT) * xb) AS sxy
            FROM p GROUP BY 1, 2),
      piv AS (SELECT k,
               $pivCells
              FROM s GROUP BY k),
      jm AS (SELECT t.k, t.n, t.se1, t.se2, piv.* EXCLUDE (k),
                    CAST(t.sv AS DOUBLE) / CAST(t.n AS DOUBLE) AS mu
             FROM tot t JOIN piv ON piv.k = t.k),
      g AS (SELECT k, n, se1, se2, mu,
                   ${(0 to NwLags).map(l => s"${gsql(l)} AS g$l")
                     .mkString(",\n                   ")}
            FROM jm),
      fin AS (SELECT k, n, se1, se2, mu, $lrv AS lrvq FROM g)
      SELECT k AS key, n,
             round(CAST(se1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e9, 6) + 0.0
               AS mse_ewma_r,
             round(CAST(se2 AS DOUBLE) / CAST(n AS DOUBLE) / 1e9, 6) + 0.0
               AS mse_garch_r,
             round(mu / 1e9, 6) + 0.0 AS mean_d_r,
             CASE WHEN lrvq > 0.0 THEN
               round(mu / sqrt(lrvq / CAST(n AS DOUBLE)), 6) + 0.0 END AS dm
      FROM fin ORDER BY key"""
    })

  // ------------------------------------------------------------------
  // Registry
  // ------------------------------------------------------------------

  val all: Seq[QDef] = Seq(
    q1PricingSummary, q3TopRevenue, qSemiJoin, qAntiJoin, qTopNPerGroup,
    qPivotStatus, qEventFilter, qResample1h, qBars1d, qRangeRead,
    qLagReturns, qRollingStats, qCumulative, qEma, qMacd, qRsi,
    qGapDaily, qDedupLastWin, qTimeNorm, qJsonExtract, qFfill,
    qAsofJoin, qRangeJoin,
    qTaTrend, qTaOscillators, qOnchainFeatures, qMarketFeatures,
    qMarketFeaturesFold,
    qOrderbook, qMicroprice, qOfi, qOfiMultilevel, qImpactLambda, qTrainingMatrix,
    qDedupExact, qTextStats, qLangId, qJaccardNearDup, qMinhashNearDup,
    qNearDupIncremental,
    qSimhash, qFingerprint, qSentiment, qKnnBrute, qKnnLsh, qIvfPq, qIvfPqBatch, qEmbedNearDup,
    qEmbedNearDupLsh, qMultimodal, qMediaDedup,
    qNearDupCluster, qQualityRepetition, qQualityRules, qChunkTokens, qPiiScrub, qPackSequences, qTokenEntropy,
    qSegmentDedup, qSubstringDedup, qUnigramLm, qSemanticDedup, qTemperatureMix, qImportanceResample, qTfidfTerms,
    qCdcDedup, qBigramLm, qKnLm, qSessionize, qKmeans, qClusterBalance, qClusterDivergence, qBm25, qHybridSearch, qRrfFuse, qMmrRerank, qCorrelation, qRollingCorr, qRollingBeta, qLeadLagCorr, qAcf, qPacf, qRangeVol, qDrawdownStats, qPurgedSplit, qCpcvSplit, qVolumeBars, qDollarBars, qImbalanceBars, qTripleBarrier, qMetaLabel, qPsiDrift, qEmbedDetop, qProfile, qHistogram, qOutlierMad, qScd2History, qCmsTopk,
    qWeightedSample, qCollocations, qCanonicalizeBest, qLineDedup, qFunnel,
    qBpeTrain, qBpeTokenize, qSourceDivergence, qPipelineE2e, qPageRank, qSessionizeIncremental, qCohortRetention, qKmvOverlap,
    qApproxDistinct, qDupSpans, qHashSplit, qLeakageSplit, qTokenBudget, qStratifiedSample, qBpeTokens,
    qSourceQuota, qApproxQuantile, qCanonicalize, qContamination,
    qVpin, qJumpVol, qVarianceRatio, qContainment, qContainmentIncremental,
    qRollSpread, qAmihud, qCsSpread, qArSpread, qBookSnapshots, qBookSnapshotsChunked, qHyCov, qDupNgramRate,
    qEventStudy, qSeasonality, qWinsorize, qLedoitWolf, qLedoitWolfCc,
    qHurst, qDfa, qRunsTest, qJarqueBera, qArchLm, qGranger, qKsDrift, qTransferEntropy, qMannKendall,
    qChristoffersen, qGpdTail, qSampleEntropy, qCvmDrift, qChowTest, qNgramNovelty, qSupChow, qKruskal,
    qBrownForsythe, qFriedman, qMutualInfo, qGini, qTokenizerFertility, qPartialCorr, qHalfLife, qEgCoint, qDriftMonitor, qCusum, qRealizedMoments, qFracDiff,
    qTrendScan, qRunBars, qPermEntropy, qPbo, qSadf, qAvgUniqueness,
    qKalmanHedge, qSeqBootstrap, qBetSize, qLeeReady, qSpreadCompare,
    qHasbrouckLambda, qRegimeProb, qRegimeAttribution, qXsMomentum, qImplShortfall,
    qPairsBacktest, qKelly, qAcSchedule, qPcaFactor, qDetonedCorr,
    qTailDep, qFlowAcf, qCorrMst, qSemivariance, qSpreadRatio, qZipfSlope,
    qWaveletVar, qHillTail, qCfVar, qLzComplexity, qTsrv, qHarRv, qRealizedKernel,
    qGarch, qNeweyWest, qDmTest,
    qBacktest, qWalkForward, qCpcvPaths, qPortfolioE2e, qPortfolioIvp, qPortfolioEnb, qDeflatedSharpe,
    qVarCvar, qSpearmanIc, qCusumFold, qFamaMacbeth, qKupiec,
    qEwmBeta, qMinVariance, qHrp, qErc, qPsr, qBlackLitterman, qBrinson
  )
}
