package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import scala.util.control.NonFatal

import graft.sources.{Connectors, LakeWriter}
import graft.store.FeatureStore
import graft.time.TimeNorm
import graft.types.Schemas

/** Scheduled-job driver (ST4/ST8) — the engine's
  * `adi/app/scheduler/main.py:200-362` (APScheduler cron service posting
  * to the ingest API; cadences from the compose `MARKET_JOBS` /
  * `MARKET_INGEST_JOBS` / `TTL_SWEEP_CRON` env).
  *
  * Structured Streaming's `Trigger.ProcessingTime` is the cluster-native
  * replacement for cron-in-a-sidecar: a rate-source query ticks at the
  * job cadence and `foreachBatch` fires the job body once per tick — the
  * reference's `max_instances=1` comes free (a micro-batch cannot overlap
  * itself), checkpoint/restart comes from the streaming runtime, and
  * `Trigger.AvailableNow` gives the reference's run-on-boot one-shot
  * (`RUN_ON_START`). Job outcomes are counted like the reference's
  * JOB_SUCCESS/JOB_FAILURE metrics, as a log line per run.
  */
object Scheduler {

  /** Run `body(tickEpoch)` every `intervalSec` under Spark's streaming
    * runtime. The body failing marks the tick failed without killing the
    * query (`_run_with_metrics` semantics: log + count, keep scheduling);
    * a tick cut short by the query's stop counts as nothing.
    * Returns the live query; callers stop it. */
  def schedule(spark: SparkSession, jobId: String, intervalSec: Long)
              (body: Long => Unit): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .queryName(jobId)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(intervalSec * 1000L))
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], tick: Long) =>
        val t0 = System.nanoTime()
        try {
          body(tick)
          graft.metrics.Metrics.counter("job_runs_total",
            Map("job" -> jobId, "status" -> "ok")).increment()
          System.err.println(f"[job] $jobId tick=$tick ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch {
          // q.stop() interrupting the tick in flight is a stop, not a
          // failed run: re-raised uncounted, so the streaming runtime
          // ends the query as stopped and the interrupt is not swallowed
          case e: Throwable if isStopInterrupt(e) => throw e
          case NonFatal(e) =>
            graft.metrics.Metrics.counter("job_runs_total",
              Map("job" -> jobId, "status" -> "error")).increment()
            System.err.println(s"[job] $jobId tick=$tick FAILED: $e")
        } finally graft.metrics.Metrics
          .histogram("job_duration_seconds", Map("job" -> jobId))
          .observe((System.nanoTime() - t0) / 1e9)
      }
      .start()

  /** Whether a tick body's failure `e` is its query being stopped: the
    * thread's interrupt flag, an interrupt anywhere in the cause chain
    * (Spark wraps it), or Spark's null-message SparkException form. */
  private def isStopInterrupt(e: Throwable): Boolean =
    Thread.currentThread().isInterrupted ||
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case _: InterruptedException | _: java.io.InterruptedIOException |
             _: java.nio.channels.ClosedByInterruptException => true
        case s: org.apache.spark.SparkException => s.getMessage == null
        case _ => false
      }

  /** One backfill run — `run_market_backfill_job`
    * (`scheduler/main.py:208-219`): plan the missing grid, fill from the
    * connector, upsert into the store. */
  def backfillOnce(spark: SparkSession, store: FeatureStore, symbol: String,
                   timeframe: String, lookbackMinutes: Int,
                   fetch: (Long, Long) => DataFrame,
                   nowEpochSec: Long = System.currentTimeMillis() / 1000): Map[String, Long] = {
    val plan = Backfill.planMissing(spark, store, symbol, timeframe,
      lookbackMinutes, nowEpochSec)
    // the plan anchor is the write sequence: replaying the same
    // planned fill reuses it, so the upsert is a no-op
    Backfill.fillOnce(spark, store, plan, fetch, writeSeq = nowEpochSec)
  }

  /** One ingest run — `run_market_ingest_job` (`scheduler/main.py:231-244`,
    * POST `/ingest/market/{exchange}`): normalize the connector payload and
    * append it to the market lake. The normalized frame is pinned so the
    * row count doesn't re-execute the parse pipeline after the write. */
  def ingestOnce(raw: DataFrame, exchange: String, symbol: String,
                 timeframe: String, lakePath: String): Long =
    graft.metrics.Metrics.ingestSpan("market") { setStatus =>
      val normalized = Connectors.CcxtOhlcv(symbol, exchange, timeframe)
        .normalize(raw).cache()
      try {
        val n = normalized.count()
        if (n > 0) { // an all-malformed payload must not create an empty lake dir
          LakeWriter.write(normalized, lakePath, Schemas.MARKET, "timestamp",
            partitions = Seq("exchange", "symbol", "dt"))
          graft.metrics.Metrics.rowsWritten("market", n)
          setStatus("ok")
        } else setStatus("no_data")
        n
      } finally normalized.unpersist()
    }

  /** One TTL sweep — `run_ttl_sweep_job` (`scheduler/main.py:220-229`):
    * drop feature partitions older than the retention window. */
  def ttlSweepOnce(store: FeatureStore, ttlDays: Int,
                   nowEpochSec: Long = System.currentTimeMillis() / 1000): Seq[String] = {
    val cutoff = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(nowEpochSec - ttlDays * 86400L),
      java.time.ZoneOffset.UTC).toString
    store.ttlSweep(cutoff)
  }

  /** One maintenance tick: compact CLOSED lake partitions — dt days the
    * ingest cadence can no longer touch. `LakeWriter.compact` is a
    * non-atomic read-snapshot-then-overwrite, so compacting the live
    * partition races the 1-min ingest tick: rows appended between the
    * snapshot and the commit would be overwritten away, and their
    * consumed drop files are already deleted (unrecoverable). A dt
    * partition is closed once every bar that could land in it has had
    * `ingestHorizonSec` to arrive: dt < day(now − horizon). With the
    * default 1 h horizon, yesterday becomes compactable at 01:00 UTC —
    * late bars timestamped 23:59 still have the full hour to be ingested
    * first. `lookbackDays` bounds the rewrite to recent fragmentation
    * (the hourly cadence has already compacted anything older), so the
    * tick cost tracks days-of-data, not lake size. Both bounds reference
    * the dt partition column only → pruned at the directory listing.
    * Returns rows rewritten (0 when the lake doesn't exist yet or no
    * closed partition is in range). */
  def compactOnce(spark: SparkSession, lakePath: String,
                  nowEpochSec: Long = System.currentTimeMillis() / 1000,
                  ingestHorizonSec: Long = 3600L,
                  lookbackDays: Int = 7): Long = {
    val base = new org.apache.hadoop.fs.Path(lakePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0L
    val closedBefore = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(nowEpochSec - ingestHorizonSec),
      java.time.ZoneOffset.UTC)
    val floor = closedBefore.minusDays(lookbackDays)
    LakeWriter.compact(spark, lakePath, "timestamp",
      partitions = Seq("exchange", "symbol", "dt"),
      partitionPredicate = Some(
        col("dt") < closedBefore.toString && col("dt") >= floor.toString))
  }

  /** Compose-cadence defaults (docker-compose `MARKET_JOBS`): backfill
    * every 5 min, ingest every 1 min, TTL sweep every 15 min; lake
    * compaction hourly (beyond-reference maintenance — the reference's
    * pandas writer rewrote whole files and never fragmented). */
  val BackfillIntervalSec = 300L
  val IngestIntervalSec = 60L
  val TtlSweepIntervalSec = 900L
  val CompactIntervalSec = 3600L

  /** One tick of the file-drop ingest edge: consume any raw CCXT payload
    * files dropped into `dropPath` (the same socket stand-in the streaming
    * layer uses), append them to the lake, then delete the consumed files
    * so the next tick is incremental.
    *
    * Delivery is AT-LEAST-ONCE, like the reference's ingest POST: a crash
    * (or a failed delete, which is logged and retried next tick) between
    * the lake append and the drop deletion re-appends those bars. The
    * feature path is insulated by the store's last-write-wins upsert;
    * a consumer of the raw lake dedupes with `Relational.lastWriteWins`.
    * Files that parse to ZERO rows are quarantined (`.quarantine/`), not
    * deleted — "consumed" requires rows in the lake. Known limitation: a
    * tick mixing parseable and unparseable files deletes all of them once
    * any rows land; producers should write one payload per file via the
    * dot-prefix temp convention. Returns rows ingested. */
  def ingestDropsOnce(spark: SparkSession, dropPath: String, exchange: String,
                      symbol: String, timeframe: String, lakePath: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(dropPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val files = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filterNot(_.getName.startsWith(".")) // skip in-flight temp files
    if (files.isEmpty) return 0L
    val raw = spark.read.json(files.map(_.toString).toIndexedSeq: _*)
    val n = ingestOnce(raw, exchange, symbol, timeframe, lakePath)
    if (n == 0L) {
      // nothing parsed/normalized out of these files — deleting them here
      // would destroy data that was never ingested (a malformed or
      // partially-written payload is NOT "consumed"). Quarantine instead:
      // at-least-once means files may only disappear after their rows hit
      // the lake; a human or a fixed parser can replay the quarantine.
      val qDir = new org.apache.hadoop.fs.Path(dropPath, ".quarantine")
      fs.mkdirs(qDir)
      files.foreach { p =>
        if (!fs.rename(p, new org.apache.hadoop.fs.Path(qDir, p.getName)))
          System.err.println(s"[job] ingest: could not quarantine zero-row drop $p")
      }
      System.err.println(s"[job] ingest: ${files.length} drop file(s) yielded 0 rows; " +
        s"moved to $qDir for inspection (not deleted)")
      return 0L
    }
    files.foreach { p =>
      if (!fs.delete(p, false) && fs.exists(p))
        System.err.println(s"[job] ingest: could not delete consumed drop $p; " +
          "its rows will re-append next tick (at-least-once)")
    }
    n
  }

  /** Backfill's fetch edge over the ingest-populated lake. The lake
    * writer sanitizes partition values (BTC/USDT → BTC_USDT), so the read
    * filter compares against the SANITIZED symbol — filtering on the raw
    * CLI symbol would never match what ingest wrote — and the symbol
    * column is restored to the raw form afterwards so the store's
    * canonical key (BTC-USDT) doesn't fork from planMissing's reads. An
    * empty or zero-row lake (dir exists, no parquet yet) degrades to an
    * empty fetch instead of failing every backfill tick. */
  def lakeFetch(spark: SparkSession, lakePath: String, exchange: String,
                symbol: String)(lo: Long, hi: Long): DataFrame =
    try LakeWriter.read(spark, lakePath, Map("exchange" -> exchange))
      .filter(col("symbol") === TimeNorm.sanitizePartitionValue(lit(symbol)) &&
        unix_timestamp(col("timestamp")).between(lo, hi))
      .withColumn("symbol", lit(symbol))
    catch { case _: org.apache.spark.sql.AnalysisException =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.types.Schemas.MARKET) }

  /** Thin operational main: `Scheduler <storePath> <lakePath> <symbol>
    * <timeframe> [lookbackMinutes] [ttlDays] [exchange] [dropPath]` —
    * wires the three cadenced jobs (ingest / backfill / TTL sweep) against
    * a live store the way the compose file wires the scheduler sidecar.
    * The fetch/payload edges are connector inputs; raw payloads arrive as
    * file drops in `dropPath` (default `<lakePath>_drops`, the same
    * stand-in the streaming layer uses for sockets). Backfill reads the
    * lake the ingest job populates and degrades to an empty fetch while
    * the lake is still empty instead of failing its tick. */
  def main(args: Array[String]): Unit = {
    val storePath = args(0)
    val lakePath = args(1)
    val symbol = if (args.length > 2) args(2) else "BTC-USDT"
    val timeframe = if (args.length > 3) args(3) else "1m"
    val lookback = if (args.length > 4) args(4).toInt else 15
    val ttlDays = if (args.length > 5) args(5).toInt else 30
    val exchange = if (args.length > 6) args(6) else "binance"
    val dropPath = if (args.length > 7) args(7) else s"${lakePath}_drops"
    val spark = graft.LocalSession()
    val store = new FeatureStore(spark, storePath)
    val fetch: (Long, Long) => DataFrame = lakeFetch(spark, lakePath, exchange, symbol)
    val queries = Seq(
      schedule(spark, s"ingest:$exchange:$symbol", IngestIntervalSec) { _ =>
        ingestDropsOnce(spark, dropPath, exchange, symbol, timeframe, lakePath); ()
      },
      schedule(spark, s"backfill:$symbol:$timeframe", BackfillIntervalSec) { _ =>
        backfillOnce(spark, store, symbol, timeframe, lookback, fetch); ()
      },
      schedule(spark, "ttl_sweep", TtlSweepIntervalSec) { _ =>
        ttlSweepOnce(store, ttlDays); ()
      },
      schedule(spark, "compact", CompactIntervalSec) { _ =>
        compactOnce(spark, lakePath); ()
      })
    queries.foreach(_.awaitTermination())
  }
}
