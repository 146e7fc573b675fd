package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Tag}
import org.scalatest.funsuite.AnyFunSuite

/** Specs of the stateful paths: commit, replay, torn-write and
  * compaction. `sbt testStateful` runs only these. */
object Stateful extends Tag("graft.Stateful")

/** Shared local session (one per suite, per §5 porting notes). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // mirrors graft.LocalSession, the session every main runs on:
      // ANSI off, so division by zero gives null as the oracle expects
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** After each suite, what the shared session still holds: persisted
    * RDDs (including localCheckpoint blocks), storage memory in use
    * across block managers, execution memory still acquired on the
    * driver's memory manager, and streaming queries still running (a spec
    * that throws before `q.stop()` leaves its query behind) — the
    * evidence for order-dependent memory failures in the single test
    * JVM. */
  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      val sc = s.sparkContext
      val mem = sc.getExecutorMemoryStatus.values
      val usedMb = mem.map { case (max, free) => max - free }.sum / (1 << 20)
      val maxMb = mem.map(_._1).sum / (1 << 20)
      println(s"[spark-mem] ${suiteName}: ${sc.getPersistentRDDs.size} persistent RDDs, " +
        s"storage memory $usedMb of $maxMb MB used, " +
        f"execution memory ${org.apache.spark.sql.graft.ExecutionMemory.used / 1048576.0}%.1f MB used, " +
        s"${s.streams.active.length} active streaming queries")
    } finally super.afterAll()

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = math.abs(a - b) <= tol

  /** OHLCV ramp fixture — FIXTURES.md F1 (`test_market_factory.py:12-33`):
    * close = 100, 101, …; high/low = close ± 0.5; open = prev close. */
  def ohlcvRamp(n: Int, symbol: String = "BTC/USDT"): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
    (0 until n).map { i =>
      val close = 100.0 + i
      val open = if (i == 0) close else 100.0 + i - 1
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(base + i * 60L)),
        open, close + 0.5, close - 0.5, close, 10.0 + i * 0.1,
        symbol, "binance", "1m")
    }.toDF("timestamp", "open", "high", "low", "close", "volume",
      "symbol", "exchange", "timeframe")
  }

  /** HLC ramp fixture — FIXTURES.md F2: close = 1..n, high = close+1,
    * low = close-1, volume = 1. */
  def hlcRamp(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val base = java.time.Instant.parse("2025-01-01T00:00:00Z").getEpochSecond
    (1 to n).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(base + i * 86400L)),
        i.toDouble + 1, i.toDouble - 1, i.toDouble, 1.0, "S", "x", "1d")
    }.toDF("timestamp", "high", "low", "close", "volume", "symbol", "exchange", "timeframe")
  }
}
