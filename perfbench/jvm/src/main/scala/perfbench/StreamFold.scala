package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.features.{MarketFeatures, OrderbookFeatures}
import graft.operators.{Backtest, Labeling, MarketIncremental, Resample}
import graft.store.FeatureStore

/** `stream_fold`: the events table replayed in timestamp order as
  * fixed-duration micro-batches, closed loop — the next batch starts
  * when the previous one has committed, as when a stream catches up on
  * a backlog. Each batch feeds four streaming queries, each a
  * `foreachBatch` body on its own state directory whose returned view is
  * consumed with `.count()`:
  *
  *  - `marketTickBatch` on the batch's ticks (volume bars and triple
  *    barrier labels);
  *  - `bookSnapshotBatch` on L2 deltas derived from the ticks as the
  *    bench's book queries derive them;
  *  - `marketFeaturesBatch` on the batch's hourly OHLCV bars, followed by
  *    a [[FeatureStore]] upsert of the batch's new feature rows with
  *    `writeSeq = batchId`;
  *  - `betSizingBatch` on bets drawn from the ticks with the run's seed.
  *
  * One operation is one query's micro-batch. The four queries run
  * concurrently, each closed loop on its own thread. After the replays,
  * [[Serving]] reads the store the last replay wrote over HTTP; its
  * figures are per-layer and detail numbers, not operations.
  *
  * A replay covers [[Batches]] batches from fresh state; replays repeat
  * until the run length is spent, at least one. The batch source is one
  * parquet directory per batch, written in set-up. Set-up ends with the
  * first replay's first batch, which the four queries fold side by side,
  * untimed, paying the JVM's warm-up there (in `setup_s` and the
  * `cold_batch_ms` detail figure); the measured batches start together
  * once all four have committed it.
  *
  * Output check, after the timed replays: each view of the last replay
  * equals the one-shot operator over the replayed history —
  * `Labeling.tripleBarrier`, `OrderbookFeatures.bookSnapshots`,
  * `MarketFeatures.build` (bit-identical doubles) and
  * `Backtest.betSizing` — and a store range read of one series equals
  * the features that were upserted for it. */
object StreamFold {
  val BatchUs: Long = 4L * 3600 * 1000000
  val Batches = 3
  val Events = 100000
  val DataSeed = 42L
  val Bodies: Seq[String] = Seq("tick", "book", "feat", "bet")

  private val HourUs = 3600L * 1000000
  val TickCfg: MarketIncremental.Cfg = MarketIncremental.Cfg(Seq("event_type"), "ts",
    "value", "qty", "event_id", volThreshold = 50.0, horizonUs = 6 * HourUs,
    upPct = 2.0, dnPct = 0.8)
  val BookCfg: MarketIncremental.BookCfg = MarketIncremental.BookCfg(Seq("event_type"),
    "ts", "side", "price", "amount", "event_id", stepUs = HourUs, nLevels = 3)
  val FeatCfg: MarketIncremental.FeatCfg =
    MarketIncremental.FeatCfg(MarketFeatures.seriesKeys, "timestamp")
  val BetCfg: MarketIncremental.BetCfg = MarketIncremental.BetCfg(Seq("event_type"),
    stepSize = 0.05)

  /** Events with `ts` as a UTC timestamp, as the engine's table loader
    * presents them, plus a non-negative trade quantity. */
  def ticks(raw: DataFrame): DataFrame =
    raw.select(col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("event_type"), col("value"), (lit(1.0) + col("event_id") % 3).as("qty"))

  def deltas(t: DataFrame): DataFrame = t.select(col("event_type"), col("ts"),
    col("event_id"),
    when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
    (col("event_id") % 20 + 1).cast("double").as("price"),
    when(col("event_id") % 7 === 0, lit(0.0)).otherwise(col("value")).as("amount"))

  def ohlcv(t: DataFrame): DataFrame =
    Resample.bars(t, "ts", "value", "event_id", "1 hour", Seq("event_type"),
      exactVolume = true).select(col("bar_ts").as("timestamp"),
      col("event_type").as("symbol"), lit("events").as("exchange"),
      lit("1h").as("timeframe"), col("open"), col("high"), col("low"),
      col("close"), col("volume"))

  /** Half the ticks become bets; the seed picks which, their horizon,
    * probability and side. */
  def bets(t: DataFrame, seed: Long): DataFrame = {
    def h(salt: Long) = pmod(xxhash64(col("event_id"), lit(seed), lit(salt)), lit(1000000L))
    t.where(h(1) % 2 === 0).select(col("event_type"),
      unix_micros(col("ts")).as("t0_us"),
      (unix_micros(col("ts")) + (lit(1L) + h(2) % 6) * lit(HourUs)).as("t1_us"),
      round(lit(0.05) + lit(0.9) * h(3) / lit(1e6), 6).as("prob"),
      when(h(4) % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("side"))
  }

  private def bits(r: Row): String = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToLongBits(d).toString
    case x => String.valueOf(x)
  }.mkString("|")
  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(bits).sorted

  def dirStats(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(java.nio.file.Files.size).sum)
      } finally s.close()
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val tr = ctx.tracer
    // the replayed prefix of the events, cut into batches by timestamp
    val slices = Data.events(Events, DataSeed).groupBy { r =>
      (java.time.Duration.between(Data.Start, r.get(1).asInstanceOf[java.time.LocalDateTime])
        .toNanos / 1000L / BatchUs).toInt
    }.filter(_._1 < Batches)
    val src = s"${ctx.work}/source"
    // one write job lays out `bid=<batch>` directories
    spark.createDataFrame(slices.toSeq.flatMap { case (b, rows) =>
      rows.map(r => Row.fromSeq(r.toSeq :+ b)) }.asJava, Data.EventSchema.add("bid", IntegerType))
      .coalesce(1).write.partitionBy("bid").parquet(src)
    val batchRows = slices.map { case (b, rows) => b -> rows.size }

    // per replay and query: micro-batch latencies in batch order
    val replays = mutable.ArrayBuffer.empty[Map[String, Seq[Double]]]
    val replayS = mutable.ArrayBuffer.empty[Double]
    var measuredRows = 0L
    val coldMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    var lastDirs: (String, String, String, String, String) = null
    // set when the four queries have all committed the warm-up batch
    @volatile var t0 = 0L
    def elapsed = (System.nanoTime() - t0) / 1e9
    val warmedUp = new java.util.concurrent.CyclicBarrier(Bodies.size, () => {
      t0 = System.nanoTime()
      res.firstOp()
    })
    var r = 0
    while (r == 0 || elapsed < ctx.seconds) {
      val base = s"${ctx.work}/replay-$r"
      val (tickSt, bookSt, featSt, betSt, storeP) =
        (s"$base/tick", s"$base/book", s"$base/feat", s"$base/bet", s"$base/store")
      val store = new FeatureStore(spark, storeP)
      // one streaming query's micro-batch: the fold body and its view,
      // and for the feature query the store upsert
      val bodies: Map[String, (Long, DataFrame) => Unit] = Map(
        "tick" -> { (id, t) =>
          val v = tr.span("streaming.tick.call")(
            MarketIncremental.marketTickBatch(spark, tickSt, id, t, TickCfg))
          tr.span("streaming.tick.view")(v.count())
        },
        "book" -> { (id, t) =>
          val v = tr.span("streaming.book.call")(
            MarketIncremental.bookSnapshotBatch(spark, bookSt, id, deltas(t), BookCfg))
          tr.span("streaming.book.view")(v.count())
        },
        "feat" -> { (id, t) =>
          val v = tr.span("streaming.feat.call")(
            MarketIncremental.marketFeaturesBatch(spark, featSt, id, ohlcv(t), FeatCfg))
          tr.span("streaming.feat.view")(v.count())
          tr.span("store.upsert")(store.upsert(
            spark.read.parquet(s"$featSt/features/batch=$id"), "market", writeSeq = id))
        },
        "bet" -> { (id, t) =>
          val v = tr.span("streaming.bet.call")(
            MarketIncremental.betSizingBatch(spark, betSt, id, bets(t, ctx.seed), BetCfg))
          tr.span("streaming.bet.view")(v.count())
        })
      val lat = Bodies.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
      val first = if (r == 0) 1 else 0
      // the four queries run side by side, each on its own thread, as
      // four streaming queries of one application do
      val threads = Bodies.map { q =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty(Counters.TagKey, s"streaming.$q")
          (0 until Batches).foreach { b =>
            if (r == 0 && b == 1) warmedUp.await()
            res.synchronized(res.attempted += 1)
            val q0 = System.nanoTime()
            try {
              bodies(q)(b.toLong, ticks(spark.read.parquet(s"$src/bid=$b")))
              val ms = (System.nanoTime() - q0) / 1e6
              if (b < first) coldMs.add(ms) else lat(q) += ms
            } catch {
              case e: Exception =>
                System.err.println(s"[perfbench] $q batch $b of replay $r failed: $e")
                res.synchronized(res.failed += 1)
            }
          }
        }, s"perfbench-stream-$q")
      }
      val r0 = System.nanoTime()
      threads.foreach(_.start())
      threads.foreach(_.join())
      replayS += (System.nanoTime() - (if (r == 0) t0 else r0)) / 1e9
      measuredRows += (first until Batches).map(batchRows(_)).sum
      System.err.println(s"[perfbench] replay $r " +
        Bodies.map(q => s"$q ${lat(q).map(x => f"$x%.0f").mkString("/")} ms").mkString(", "))
      replays += lat.map { case (k, v) => k -> v.toSeq }
      lastDirs = (tickSt, bookSt, featSt, betSt, storeP)
      r += 1
    }
    res.measuredS = elapsed
    replays.foreach(rp => Bodies.foreach(q => res.opsMs ++= rp(q)))
    res.detail("replays") = replays.size
    res.detail("batches_per_replay") = Batches
    res.detail("cold_batch_ms") = Stats.median(coldMs.asScala.toSeq)
    res.detail("batch_p50_ms") = Stats.median(res.opsMs.toSeq)
    res.detail("batch_tail_ms") = Stats.quantile(res.opsMs.toSeq, Stats.TailQ)
    // every query reads every input event of a measured batch once
    res.detail("rows_per_s") = measuredRows / replayS.sum
    // latency against batch index over the measured batches
    res.detail("batch_growth") = Stats.median(replays.toSeq.flatMap(rp =>
      Bodies.map(q => Stats.growth(rp(q)))))

    val (tickSt, bookSt, featSt, betSt, storeP) = lastDirs
    // ---- the read path: HTTP clients on the store the stream wrote ----
    Serving.run(ctx, storeP)

    // ---- output checks (untimed) ----
    val all = ticks(spark.read.parquet(src))
    def check(name: String, got: DataFrame, want: DataFrame): Unit = {
      val g = rows(got)
      val w = rows(want.select(got.columns.map(col).toIndexedSeq: _*))
      if (g != w) res.mismatch(s"stream_fold $name view (${g.size} rows) differs from " +
        s"the one-shot operator (${w.size} rows)")
    }
    val featCols = Seq("symbol", "exchange", "timeframe", "timestamp", "dt",
      "feature_version") ++ MarketFeatures.featureCols
    val featView = MarketIncremental.featuresView(spark, featSt, FeatCfg)
      .select(featCols.map(col): _*)
    val sym = Data.EventTypes((ctx.seed % Data.EventTypes.size).toInt)
    val readCols = ("timestamp" +: MarketFeatures.featureCols).map(col)
    val checks: Seq[() => Unit] = Seq(
      () => check("labels", MarketIncremental.labelsView(spark, tickSt, TickCfg),
        Labeling.tripleBarrier(all, Seq("event_type"), "ts", "value", "event_id",
          TickCfg.horizonUs, TickCfg.upPct, TickCfg.dnPct)),
      () => check("book", MarketIncremental.snapshotsView(spark, bookSt, BookCfg),
        OrderbookFeatures.bookSnapshots(deltas(all), Seq("event_type"), "ts", "event_id",
          stepUs = BookCfg.stepUs, nLevels = BookCfg.nLevels)),
      () => check("features", featView, MarketFeatures.build(ohlcv(all))),
      () => check("bet sizes", MarketIncremental.sizesView(spark, betSt, BetCfg),
        Backtest.betSizing(bets(all, ctx.seed), Seq("event_type"), "t0_us", "t1_us",
          "prob", "side", BetCfg.stepSize)),
      () => {
        val stored = rows(new FeatureStore(spark, storeP).rangeRead("market", sym, "1h",
          0L, Long.MaxValue / 2000000L, limit = Int.MaxValue).select(readCols: _*))
        val upserted = rows(featView.where(col("symbol") === sym).select(readCols: _*))
        if (stored != upserted || stored.isEmpty)
          res.mismatch(s"stream_fold store read of $sym (${stored.size} rows) differs " +
            s"from the ${upserted.size} upserted feature rows")
      })
    // the checks are independent; run them side by side
    val pool = checks.map(c => new Thread(() =>
      try c() catch { case e: Exception => res.mismatch(s"stream_fold check failed: $e") }))
    pool.foreach(_.start())
    pool.foreach(_.join())

    if (tr.on) {
      // measured batches only: the warm-up batch's spans start before t0
      def spansOf(n: String) = tr.named(n).filter(_.startNs >= t0)
      Bodies.foreach { b =>
        val call = spansOf(s"streaming.$b.call")
        val view = spansOf(s"streaming.$b.view")
        res.layer(s"streaming.$b.call_ms") = Stats.median(call.map(_.ms))
        res.layer(s"streaming.$b.view_ms") = Stats.median(view.map(_.ms))
        val both = call ++ view
        val perBatch = math.max(1, call.size).toDouble
        res.layer(s"streaming.$b.jobs") = Tracer.sumCounts(both)("jobs") / perBatch
        res.layer(s"streaming.$b.fs_calls") = Tracer.sumCounts(both)("fs_calls") / perBatch
        res.layer(s"streaming.$b.growth") = Stats.median(replays.toSeq.map(rp =>
          Stats.growth(rp(b))))
      }
      val up = spansOf("store.upsert")
      res.layer("store.upsert_ms") = Stats.median(up.map(_.ms))
      res.layer("store.upsert_jobs") = Tracer.sumCounts(up)("jobs") / math.max(1, up.size).toDouble
      res.layer("store.upsert_fs_calls") =
        Tracer.sumCounts(up)("fs_calls") / math.max(1, up.size).toDouble
      val st = Seq(tickSt, bookSt, featSt, betSt).map(dirStats)
      res.layer("streaming.state_files") = st.map(_._1).sum
      res.layer("streaming.state_bytes") = st.map(_._2).sum
      val (sf, sb) = dirStats(storeP)
      res.layer("store.files") = sf
      res.layer("store.bytes") = sb
      Seq("batch_p50_ms", "batch_tail_ms", "rows_per_s", "batch_growth")
        .foreach(k => res.layer(k) = res.detail(k))
    }
  }
}
