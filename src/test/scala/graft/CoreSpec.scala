package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.features.MarketFeatures
import graft.functions.{windows => W, TaIndicators => TA}
import graft.time.TimeNorm
import graft.types.Schemas

/** M0 core + feature factory specs — analytic expectations from
  * FIXTURES.md / reference tests (§5). */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  // ---- TimeNorm (tests/common/time_norm_test.py parity) ----

  test("epoch heuristic: ms vs s equality") {
    val df = Seq((1704067200L, 1704067200000L)).toDF("s", "ms")
      .select(TimeNorm.epochToTimestamp(col("s")).as("a"),
        TimeNorm.epochToTimestamp(col("ms")).as("b"))
    val r = df.head()
    assert(r.getTimestamp(0) == r.getTimestamp(1))
  }

  test("timeframe parsing") {
    assert(TimeNorm.timeframeSeconds("1m") == 60L)
    assert(TimeNorm.timeframeSeconds("5m") == 300L)
    assert(TimeNorm.timeframeSeconds("4h") == 14400L)
    assert(TimeNorm.timeframeSeconds("1d") == 86400L)
    intercept[IllegalArgumentException](TimeNorm.timeframeSeconds("x7"))
  }

  test("floorEpoch and symbol canonicalization") {
    val r = Seq(("avax:usdt", 1704067384L)).toDF("sym", "e")
      .select(TimeNorm.canonSymbol(col("sym")), TimeNorm.floorEpoch(col("e"), 300))
      .head()
    assert(r.getString(0) == "AVAX-USDT") // test_market_pipeline.py:38-97
    assert(r.getLong(1) == 1704067200L)
  }

  test("conformTo: casts, typed-null fill, ordering") {
    val df = Seq((1, "2024-01-01")).toDF("open", "dt") // open wrong type, most cols missing
    val out = Schemas.conformTo(df, Schemas.MARKET)
    assert(out.columns.toSeq == Schemas.MARKET.fieldNames.toSeq)
    assert(out.schema("open").dataType == DoubleType)
    val r = out.head()
    assert(r.getAs[Any]("close") == null && r.getAs[Double]("open") == 1.0)
  }

  // ---- windows / EWM ----

  test("ewm recurrence matches closed form (adjust=False)") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val vals = ohlcvRamp(10)
      .select(W.ewmMean(col("close"), 0.5, w).as("e"))
      .orderBy("e").collect().map(_.getDouble(0))
    // y_t = 0.5*y_{t-1} + 0.5*x_t, y_0 = 100
    var y = 100.0
    val expected = (0 until 10).map { i =>
      if (i > 0) y = 0.5 * y + 0.5 * (100.0 + i); y
    }
    assert(vals.sorted.zip(expected.sorted).forall { case (a, b) => approx(a, b) })
  }

  test("graft functions resolve in every session") {
    // a fresh session on which no graft operator has run
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))")
      .head().getDouble(0) == 11.0)
    // the Column API resolves in the frame's session, not the active one
    assert(org.apache.spark.sql.SparkSession.active eq spark)
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val ramp = ohlcvRamp(10)
    val other = fresh.createDataFrame(
      java.util.Arrays.asList(ramp.collect(): _*), ramp.schema)
    def ewm(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.select(col("timestamp"), W.ewmMean(col("close"), 0.5, w).as("e"))
        .orderBy("timestamp").collect().map(_.getDouble(1)).toSeq
    assert(ewm(other) == ewm(ramp))
  }

  test("rolling warm-up nulls match pandas min_periods semantics") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val out = hlcRamp(10)
      .select(col("timestamp"), W.rollingMean(col("close"), 3, w).as("sma3"))
      .orderBy("timestamp").collect()
    assert(out.take(2).forall(_.isNullAt(1)))     // rows 0,1 null
    assert(approx(out(2).getDouble(1), 2.0))      // mean(1,2,3)
    assert(approx(out(9).getDouble(1), 9.0))
  }

  test("repartition invariance: windows are partitioning-proof (chunk-vs-whole gold standard)") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    def feats(df: org.apache.spark.sql.DataFrame) =
      df.select(col("timestamp"),
          W.ema(col("close"), 12, w).as("e"),
          W.rollingStd(col("close"), 5, w).as("s"),
          W.cumSum(col("close"), w).as("c"))
        .orderBy("timestamp").collect().toSeq
    val whole = feats(ohlcvRamp(30))
    for (k <- Seq(1, 2, 8)) assert(feats(ohlcvRamp(30).repartition(k)) == whole)
  }

  // ---- TA indicators (test_ta_indicators_benchmark.py analytic values) ----

  test("CCI on linear ramp == 100 from row window-1 on") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val out = hlcRamp(10)
      .select(col("timestamp"), TA.cci(col("high"), col("low"), col("close"), 3, 0.015, w).as("cci"))
      .orderBy("timestamp").collect()
    assert(out.take(2).forall(_.isNullAt(1)))
    // ramp: tp deviations (-1,0,1), md=2/3 → (1)/(0.015*2/3) = 100
    assert(out.drop(2).forall(r => approx(r.getDouble(1), 100.0, 1e-6)))
  }

  test("RSI (ewm flavor) of strictly increasing series == 100") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val out = hlcRamp(10)
      .withColumn("_d", W.diff(col("close"), 1, w))
      .select(TA.rsiEwmFromDelta(col("_d"), 3, w).as("rsi"))
      .collect()
    assert(out.count(r => !r.isNullAt(0) && approx(r.getDouble(0), 100.0, 1e-9)) == 9)
  }

  test("OBV non-decreasing on rising prices; ROC warm-up") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val out = hlcRamp(10)
      .withColumn("_d", W.diff(col("close"), 1, w))
      .select(col("timestamp"), TA.obvFromDelta(col("_d"), col("volume"), w).as("obv"),
        TA.roc(col("close"), 3, w).as("roc"))
      .orderBy("timestamp").collect()
    val obvs = out.map(_.getDouble(1))
    assert(obvs.zip(obvs.tail).forall { case (a, b) => b >= a })
    assert(out.take(3).forall(_.isNullAt(2)) && !out(3).isNullAt(2))
  }

  test("stochastic %K of ramp == 100 after warm-up; ATR == 2") {
    val w = W.series(Seq("symbol"), Seq("timestamp"))
    val staged = hlcRamp(10)
      .withColumn("_tr", TA.trueRange(col("high"), col("low"), col("close"), w))
    val out = staged
      .select(col("timestamp"),
        TA.stochasticK(col("high"), col("low"), col("close"), 3, w).as("k"),
        TA.atrFromTr(col("_tr"), 3, w).as("atr"))
      .orderBy("timestamp").collect()
    // %K = 100*(c - (c-3))/((c+1)-(c-3)) = 75 on this ramp (h=c+1, l=c-1)
    assert(out.drop(2).forall(r => approx(r.getDouble(1), 75.0, 1e-9)))
    assert(out.drop(2).forall(r => approx(r.getDouble(2), 2.0, 1e-9)))
  }

  // ---- MarketFeatures (test_market_factory.py:45-103 parity) ----

  test("feature factory: schema order, dt shape, analytic ret/logret") {
    val out = MarketFeatures.build(ohlcvRamp(30))
    assert(out.columns.toSeq == Schemas.FEATURE.fieldNames.toSeq)
    val rows = out.orderBy("timestamp").collect()
    assert(rows.forall(_.getAs[String]("dt").matches("\\d{4}-\\d{2}-\\d{2}")))
    val second = rows(1) // 00:01:00Z
    assert(approx(second.getAs[Double]("ret_1"), 0.01, 1e-12))
    assert(approx(second.getAs[Double]("logret_1"), math.log(101) - math.log(100), 1e-12))
    assert(rows.forall(r => MarketFeatures.featureCols.exists(c => r.getAs[Any](c) != null)))
    // multi-series isolation: two symbols must not leak windows into each other
    val two = MarketFeatures.build(ohlcvRamp(30).unionByName(ohlcvRamp(30, "ETH/USDT")))
    assert(two.filter(col("symbol") === "BTC/USDT").orderBy("timestamp").collect()
      .map(_.getAs[Double]("ema_12")).toSeq ==
      rows.map(_.getAs[Double]("ema_12")).toSeq)
  }
}
