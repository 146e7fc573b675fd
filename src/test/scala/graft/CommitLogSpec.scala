package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MarketIncremental
import graft.store.CommitLog

/** The injected crash of [[FaultyFs]] and the fault-injection spec. */
class Crash extends RuntimeException("injected crash")

/** Local file system that crashes once at the armed delete, before it
  * (`before`) or after it, or at the first write into a file created at
  * a `tornWrite` path (the file exists, its body does not). */
class FaultyFs extends LocalFileSystem {
  @volatile var armed: Option[(Path => Boolean, Boolean)] = None
  @volatile var tornWrite: Option[Path => Boolean] = None
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    tornWrite match {
      case Some(hit) if hit(f) =>
        tornWrite = None
        new FSDataOutputStream(new java.io.OutputStream {
          def write(b: Int): Unit = throw new Crash
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            if (len > 0) throw new Crash
          override def close(): Unit = out.close()
        }, null)
      case _ => out
    }
  }
  override def delete(f: Path, recursive: Boolean): Boolean = armed match {
    case Some((hit, before)) if hit(f) =>
      armed = None
      if (before) throw new Crash
      super.delete(f, recursive)
      throw new Crash
    case _ => super.delete(f, recursive)
  }
}

/** Local file system counting the metadata and open calls graft's own
  * code makes; calls from Spark's file index (listing the directories a
  * read is handed, on the driver or in a parallel listing job) are not
  * counted. */
class CountingFs extends LocalFileSystem {
  private def hit(): Unit =
    if (!Thread.currentThread.getStackTrace.exists { f =>
        f.getClassName.startsWith("org.apache.spark.sql.execution.datasources.") ||
          f.getClassName.startsWith("org.apache.spark.util.HadoopFSUtils")
      })
      CountingFs.calls.incrementAndGet()
  override def getFileStatus(f: Path): FileStatus = { hit(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { hit(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int) = { hit(); super.open(f, bufferSize) }
}
object CountingFs { val calls = new AtomicLong }

class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_commitlog").toString

  /** `n` threads run `body` at once; their results in thread order. */
  private def race[T](n: Int)(body: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val futures = (1 to n).map(_ => pool.submit(new Callable[T] {
        def call(): T = { go.await(); body }
      }))
      go.countDown()
      futures.map(_.get())
    } finally pool.shutdown()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq

  private val tickCfg = MarketIncremental.Cfg(Seq("k"), "ts", "p", "v", "t",
    volThreshold = 7.0, horizonUs = 20L, upPct = 0.15, dnPct = 0.10)
  private def ticks(ts: Range): DataFrame =
    (for (k <- Seq("A", "B"); t <- ts) yield {
      val base = if (k == "A") 100.0 + t * 0.5 else 140.0 - t * 0.3
      (k, t.toLong, math.rint((base + 40.0 * math.sin(t / 5.0)) * 100) / 100, 1.0 + t % 3)
    }).toDF("k", "t", "p", "v").withColumn("ts", expr("timestamp_micros(t)"))

  private def faultyFs(): FaultyFs = {
    val fs = new FaultyFs
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  /** An index-shaped log: one row per batch in table `t`. */
  private def append(log: CommitLog, id: String): Boolean =
    log.append(id, Seq("t")) { bid =>
      Seq((bid, 1)).toDF("id", "n").write.mode("overwrite")
        .parquet(s"${log.root}/t/batch=$bid")
    }
  private def emptyT: DataFrame = Seq.empty[(String, Int)].toDF("id", "n")
  private def compact(log: CommitLog, crashData: Boolean = false): Int =
    log.compact(Seq("t")) { (cid, committed) =>
      log.scan("t", emptyT, committed)
        .write.mode("overwrite").parquet(s"${log.root}/t/batch=$cid")
      if (crashData) throw new Crash
    }
  private def indexView(log: CommitLog): (Seq[String], Seq[String]) =
    (log.read().committed, rows(log.scan("t", emptyT)))
  private def isMarker(p: Path) = p.getParent.getName == "_commits"

  test("commit is exclusive: of two writers of one id exactly one commits", Stateful) {
    val log = CommitLog(spark, tmp())
    (0 until 20).foreach { i =>
      val won = race(2)(log.commit(i.toString))
      assert(won.count(identity) == 1, s"id $i: $won")
    }
    assert(log.read().versions == (0L until 20L))
    // another CommitLog on the same root shares the commit point
    assert(!CommitLog(spark, log.root).commit("7"))
  }

  test("two writers folding one batch id into one state dir leave the single-writer view", Stateful) {
    val single = tmp() + "/mkt"
    MarketIncremental.marketTickBatch(spark, single, 0L, ticks(1 to 30), tickCfg)
    MarketIncremental.marketTickBatch(spark, single, 1L, ticks(31 to 60), tickCfg)
    val raced = tmp() + "/mkt"
    MarketIncremental.marketTickBatch(spark, raced, 0L, ticks(1 to 30), tickCfg)
    val views = race(2)(rows(
      MarketIncremental.marketTickBatch(spark, raced, 1L, ticks(31 to 60), tickCfg)))
    val want = rows(MarketIncremental.labelsView(spark, single, tickCfg))
    assert(views.forall(_ == want), "each writer must return the committed view")
    assert(rows(MarketIncremental.labelsView(spark, raced, tickCfg)) == want)
    assert(rows(MarketIncremental.barsView(spark, raced, tickCfg)) ==
      rows(MarketIncremental.barsView(spark, single, tickCfg)))
    assert(CommitLog(spark, raced).read().versions == Seq(0L, 1L))
  }

  test("fault injection: a crash after any write step, replayed and resumed, " +
    "leaves the uninterrupted view", Stateful) {
    // a running per-key sum: log slice `log/batch=<id>`, state `v=<id>/state`
    def foldRun(log: CommitLog, ids: Seq[Long], crashAt: String = ""): Unit = {
      val dir = log.root
      def step(s: String, id: Long): Unit = if (s == crashAt && id == 2L) throw new Crash
      ids.foreach { id =>
        val batch = Seq(("a", id), ("b", 10 * id)).toDF("k", "x")
        log.fold(id) { prev =>
          batch.write.mode("overwrite").parquet(s"$dir/log/batch=$id")
          step("slice", id)
          prev("state", Seq.empty[(String, Long)].toDF("k", "x")).unionByName(batch).groupBy("k").agg(sum("x").as("x"))
            .write.mode("overwrite").parquet(s"$dir/v=$id/state")
          step("state", id)
        } { done => step("gc", id); spark.emptyDataFrame }
      }
    }
    def foldView(log: CommitLog): (Seq[String], Seq[String], Seq[String]) = {
      val done = log.read().versions
      (rows(log.scan("log", Seq.empty[(String, Long)].toDF("k", "x"), done.map(_.toString))),
        rows(spark.read.parquet(s"${log.root}/v=${done.last}/state")),
        new java.io.File(log.root).list().filter(_.startsWith("v=")).sorted.toSeq)
    }
    val clean = new CommitLog(faultyFs(), tmp())
    foldRun(clean, 0L to 3L)
    val want = foldView(clean)
    assert(want._3 == Seq("v=2", "v=3"))
    for (crashAt <- Seq("slice", "state", "marker", "gc")) {
      val fs = faultyFs()
      val log = new CommitLog(fs, tmp())
      foldRun(log, Seq(0L, 1L))
      // "marker": the marker exists, the crash lands before GC's first delete
      if (crashAt == "marker") fs.armed = Some((_.getName.startsWith("v="), true))
      intercept[Crash](foldRun(log, Seq(2L), crashAt))
      foldRun(log, Seq(2L, 3L)) // replay the crashed id, resume with the next
      assert(foldView(log) == want, s"crash after $crashAt")
    }

    // compaction: consolidated data, marker, GC
    val cleanIdx = new CommitLog(faultyFs(), tmp())
    Seq("0", "1", "2").foreach(append(cleanIdx, _))
    assert(compact(cleanIdx) == 3)
    assert(append(cleanIdx, "3"))
    val wantIdx = indexView(cleanIdx)
    assert(wantIdx._1 == Seq("3", "c0") && wantIdx._2.size == 4)
    for (crashAt <- Seq("data", "marker", "gc")) {
      val fs = faultyFs()
      val log = new CommitLog(fs, tmp())
      Seq("0", "1", "2").foreach(append(log, _))
      crashAt match {
        case "marker" => fs.armed = Some((isMarker, true))
        case "gc" => fs.armed = Some((isMarker, false))
        case _ =>
      }
      intercept[Crash](compact(log, crashData = crashAt == "data"))
      compact(log) // resume
      val skips = graft.metrics.Metrics.counter("commitlog_replay_skips_total")
      val skipped = skips.sum()
      assert(!append(log, "1"), s"replay after a $crashAt crash must skip")
      assert(skips.sum() == skipped + 1, "a replay skip is counted once")
      assert(append(log, "3"))
      assert(indexView(log) == wantIdx, s"crash after compaction $crashAt")
    }
  }

  test("scan lists only committed batches: a torn dir and a compacted-away dir stay unread",
    Stateful) {
    val fs = faultyFs()
    val log = new CommitLog(fs, tmp())
    Seq("0", "1").foreach(append(log, _))
    // the compaction commits c0, then crashes before collecting 0 and 1
    fs.armed = Some((isMarker, true))
    intercept[Crash](compact(log))
    assert(new java.io.File(s"${log.root}/t/batch=0").isDirectory)
    // a torn append: data on disk, no marker
    Seq(("5", 1)).toDF("id", "n").write.parquet(s"${log.root}/t/batch=5")
    assert(log.read().committed == Seq("c0"))
    assert(rows(log.scan("t", emptyT)) == Seq("0|1", "1|1"))
    val roots = log.scan("t", emptyT).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName)
    }.flatten
    assert(roots == Seq("batch=c0"), roots)
  }

  test("scan of a table with nothing committed is the declared empty frame", Stateful) {
    val log = CommitLog(spark, tmp())
    Seq(("0", 1)).toDF("id", "n").write.parquet(s"${log.root}/t/batch=0") // torn
    val declared = Seq.empty[(String, Long)].toDF("id", "n")
    val got = log.scan("t", declared)
    assert(got.schema == declared.schema && got.isEmpty)
    assert(log.state(None, "carry", declared).schema == declared.schema)
  }

  test("a crash writing a compaction marker's body commits nothing; the rerun compacts",
    Stateful) {
    val fs = faultyFs()
    val log = new CommitLog(fs, tmp())
    Seq("0", "1", "2").foreach(append(log, _))
    val before = indexView(log)
    fs.tornWrite = Some(isMarker)
    intercept[Crash](compact(log))
    assert(indexView(log) == before, "a torn marker must not change the committed view")
    assert(compact(log) == 3)
    assert(indexView(log) == (Seq("c0"), before._2))
    assert(new java.io.File(s"${log.root}/_commits").list().toSeq.filterNot(_.endsWith(".crc")) ==
      Seq("c0"), "the torn marker's temp file is swept")
  }

  test("labelsView lists the log once: the same FS calls with 2 committed batches as with 50",
    Stateful) {
    val two = tmp() + "/mkt"
    MarketIncremental.marketTickBatch(spark, two, 0L, ticks(1 to 30), tickCfg)
    MarketIncremental.marketTickBatch(spark, two, 1L, ticks(31 to 60), tickCfg)
    // 50 committed batches: batch 1's slices and frontier copied forward
    val fifty = tmp() + "/mkt"
    def copy(from: String, to: String): Unit = {
      val src = Paths.get(from)
      val walk = Files.walk(src)
      try walk.forEach(p => Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString)))
      finally walk.close()
    }
    copy(two, fifty)
    val log = CommitLog(spark, fifty)
    (2 until 50).foreach { i =>
      Seq("bars", "labels").foreach(t => copy(s"$fifty/$t/batch=1", s"$fifty/$t/batch=$i"))
      assert(log.commit(i.toString))
    }
    copy(s"$fifty/v=1", s"$fifty/v=49")
    assert(MarketIncremental.labelsView(spark, fifty, tickCfg).count() >
      MarketIncremental.labelsView(spark, two, tickCfg).count())
    def viewCalls(st: String): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      val saved = Option(conf.get("fs.file.impl"))
      conf.set("fs.file.impl", classOf[CountingFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      try {
        CountingFs.calls.set(0)
        MarketIncremental.labelsView(spark, st, tickCfg)
        CountingFs.calls.get
      } finally {
        saved.fold(conf.unset("fs.file.impl"))(conf.set("fs.file.impl", _))
        conf.unset("fs.file.impl.disable.cache")
      }
    }
    val (c2, c50) = (viewCalls(two), viewCalls(fifty))
    assert(c2 > 0 && c2 == c50, s"FS calls: $c2 with 2 batches, $c50 with 50")
  }

  test("fold state and log dirs are written with the schema their reads declare", Stateful) {
    import MarketIncremental._
    def fields(s: org.apache.spark.sql.types.StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
    def check(dir: String, declared: DataFrame): Unit =
      assert(fields(spark.read.parquet(dir).schema) == fields(declared.schema), dir)

    val tick = tmp()
    marketTickBatch(spark, tick, 0L, ticks(1 to 60), tickCfg)
    check(s"$tick/bars/batch=0", emptyBars(spark, tickCfg))
    check(s"$tick/labels/batch=0", emptyEntries(spark, tickCfg))
    check(s"$tick/v=0/open_bars", emptyBars(spark, tickCfg))
    check(s"$tick/v=0/carry", emptyCarry(spark, tickCfg))
    check(s"$tick/v=0/open_entries", emptyEntries(spark, tickCfg))

    val bookCfg = BookCfg(Seq("k"), "ts", "side", "price", "amount", "tb",
      stepUs = 10L, nLevels = 3)
    val deltas = (for { k <- Seq("A", "B"); t <- 1 to 60 } yield
      (k, t.toLong, t.toLong, if (t % 2 == 0) "bid" else "ask",
        ((t * 7) % 8 + 1).toDouble, if (t % 7 == 0) 0.0 else t % 5 + 0.5))
      .toDF("k", "t", "tb", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val book = tmp()
    bookSnapshotBatch(spark, book, 0L, deltas, bookCfg)
    check(s"$book/snapshots/batch=0", emptySnapshots(spark, bookCfg))
    check(s"$book/v=0/book", emptyBook(spark, bookCfg))
    check(s"$book/v=0/cursor", emptyBookCursor(spark, bookCfg))

    val featCfg = FeatCfg(graft.features.MarketFeatures.seriesKeys, "timestamp")
    val ohlcv = (for { sym <- Seq("S1", "S2"); t <- 1 to 40 } yield
      (sym, "x", "1h", t.toLong, 10.0 + t, 8.0 + t, 9.0 + t + 3.0 * math.sin(t / 2.0), 5.0))
      .toDF("symbol", "exchange", "timeframe", "t", "high", "low", "close", "volume")
      .withColumn("timestamp", expr("timestamp_micros(t * 60000000)"))
      .withColumn("open", col("close"))
    val feat = tmp()
    marketFeaturesBatch(spark, feat, 0L, ohlcv, featCfg)
    check(s"$feat/features/batch=0", emptyFeatures(spark, featCfg))
    check(s"$feat/v=0/carry", emptyFeatCarry(spark, featCfg))

    val cusum = tmp()
    graft.operators.DriftMonitor.cusumBatch(spark, cusum, 0L, ticks(1 to 60), Seq("k"),
      "ts", "p", "t", target = 110.0, slack = 1.0, threshold = 50.0)
    check(s"$cusum/scores/batch=0", spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](),
      graft.operators.DriftMonitor.cusumScoresSchema(Seq("k"), "ts", "t")))
    check(s"$cusum/v=0/carry", graft.operators.DriftMonitor.emptyCusumCarry(spark, Seq("k")))

    val betCfg = BetCfg(Seq("k"), stepSize = 0.05)
    val bets = (for { s <- Seq("A", "B"); i <- 1 to 20 } yield
      (s, i * 10L, i * 10L + 10L + (i * 7 % 17) * 10L, 0.5 + 0.4 * math.sin(i * 0.9),
        if (i % 3 == 0) -1L else 1L))
      .toDF("k", "t0_us", "t1_us", "prob", "side")
    val bet = tmp()
    betSizingBatch(spark, bet, 0L, bets, betCfg)
    check(s"$bet/sizes/batch=0", emptySizes(spark, betCfg))
    check(s"$bet/v=0/carry", emptyBetCarry(spark, betCfg))
  }

  test("index and drift tables are written with the schema their scans declare", Stateful) {
    import graft.operators.{Dedup, DriftMonitor, Similarity}
    import org.apache.spark.sql.types.StructType
    def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
    def check(dir: String, id: String, columns: String): Unit =
      assert(fields(spark.read.parquet(dir).schema) ==
        fields(StructType.fromDDL(s"$id long, $columns")), dir)

    val docs = (0 until 12).map(i =>
      (i.toLong, (0 until 20).map(j => s"w${(i * 3 + j) % 17}").mkString(" ")))
      .toDF("doc_id", "text")
    val mh = tmp()
    assert(Dedup.writeMinhashIndex(docs, "text", "doc_id", mh, batchId = "0"))
    for ((t, cols) <- Dedup.MinhashTables) check(s"$mh/$t/batch=0", "id", cols)
    val ct = tmp()
    assert(Dedup.writeContainmentIndex(docs, "text", "doc_id", ct, batchId = "0"))
    for ((t, cols) <- Dedup.ContainmentTables) check(s"$ct/$t/batch=0", "id", cols)

    val emb = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 2.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = tmp()
    Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", ivf,
      nCells = 2, m = 2, ksub = 2, iters = 1)
    check(s"$ivf/vectors/batch=0", "vec_id", Similarity.IvfPqVectorColumns)

    val obs = (0 until 40).map(i => (if (i % 2 == 0) "a" else "b", i.toDouble))
      .toDF("k", "x")
    val drift = tmp()
    DriftMonitor.writeDriftReference(obs, Seq("k"), "x", drift, bins = 4)
    assert(DriftMonitor.driftBatch(obs, Seq("k"), "x", drift, "1", bins = 4))
    assert(fields(spark.read.parquet(s"$drift/cur/batch=1").schema) ==
      fields(DriftMonitor.driftCurSchema(spark.read.parquet(s"$drift/bounds").schema, Seq("k"))))
  }
}
