package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import org.apache.spark.sql.graft.LzComplexity

import graft.features.MarketFeatures
import graft.types.Schemas

/** Structured Streaming layer (SURVEY §2.9).
  *
  * Source mapping: the reference's infinite WebSocket/RSS asyncio loops
  * (`adi/app/adapters/ccxt_adapter.py:151-163`,
  * `news_adapter.py:138-171`) become streaming sources — a file-drop
  * directory stands in for the socket in tests, exactly as the reference's
  * tests monkeypatch the adapters.
  */
object StreamingPipelines {

  /** Market stream → features → sink, as a foreachBatch pipeline (ST1):
    * each micro-batch runs the same `MarketFeatures.build` used in batch.
    * Note the per-batch build computes features within the batch only
    * (parity with the reference's per-poll feature write,
    * `routes.py:858-892`); cross-batch window continuity is the job of
    * [[statefulTa]]. */
  def marketFeaturesStream(spark: SparkSession, inputDir: String,
                           sink: DataFrame => Unit,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(Schemas.MARKET)
      .parquet(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(MarketFeatures.build(batch.toDF()))
      }
      .start()

  /** ST1 over the DSv2 ticker source (S4): a socket-shaped
    * `MicroBatchStream` (offsets/partitions/commit — see
    * [[TickerSource]]) replaces the file-drop stand-in; each micro-batch
    * runs the same `MarketFeatures.build` as the batch path. */
  def tickerFeaturesStream(spark: SparkSession, options: Map[String, String],
                           sink: DataFrame => Unit,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    options.foldLeft(
        spark.readStream.format(classOf[TickerSourceProvider].getName))(
        (r, kv) => r.option(kv._1, kv._2))
      .load()
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(MarketFeatures.build(batch.toDF()))
      }
      .start()

  /** RSS-style stream with bounded dedupe state (ST2): the reference's
    * unbounded in-memory `seen_ids` set (`news_adapter.py:139-156` — leaks
    * by design) becomes `dropDuplicatesWithinWatermark("id")` — same
    * semantics inside the watermark, bounded state (documented deviation:
    * duplicates older than the watermark can reappear). */
  def dedupedNewsStream(spark: SparkSession, inputDir: String,
                        watermark: String = "1 hour"): DataFrame =
    spark.readStream
      .schema(Schemas.NEWS)
      .parquet(inputDir)
      .withWatermark("published_at", watermark)
      .dropDuplicatesWithinWatermark(Seq("id"))

  /** ST7: watermarked tumbling-window OHLCV bars over a market stream —
    * the streaming flavor of `Resample.bars` (`resample('1h')` in
    * `adi/app/features/backfill/core.py` resample paths). `min_by`/
    * `max_by` on timestamp give open/close deterministically; the
    * watermark bounds state and drops rows later than `watermark`. */
  def windowedBars(stream: DataFrame, barWidth: String = "1 hour",
                   watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("timestamp", watermark)
      .groupBy(col("symbol"), window(col("timestamp"), barWidth).as("bar"))
      .agg(
        min_by(col("open"), col("timestamp")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("timestamp")).as("close"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_ticks"))
      .select(col("symbol"), col("bar.start").as("bar_ts"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_ticks"))

  /** Watermarked SESSION windows over an event stream — the streaming
    * flavor of [[graft.operators.Relational.sessionize]], on Spark's
    * native `session_window` state machine: events within `gap` of each
    * other merge into one growing session per key (ACROSS micro-batches,
    * via the state store); the watermark closes a session once event
    * time passes its end+gap, emits it downstream (append mode emits
    * closed sessions only), and evicts its state — so state is bounded
    * by the number of OPEN sessions, never by history. Emits one row per
    * closed session: keys, session start/end (the merged window), event
    * count, and epoch-µs bounds/duration matching the batch operator's
    * output convention. */
  def sessionWindows(stream: DataFrame, keys: Seq[String], tsCol: String,
                     gap: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((keys.map(col) :+
        session_window(col(tsCol), gap).as("session")): _*)
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col(tsCol))).as("start_us"),
        max(unix_micros(col(tsCol))).as("end_us"))
      .select(keys.map(col) ++ Seq(
        col("session.start").as("session_start"),
        col("session.end").as("session_end"),
        col("n_events"), col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us")): _*)

  /** Watermarked STREAM-STREAM interval join — the event-attribution
    * primitive (impression ⟕ conversion within an attribution window):
    * a right event joins a left event with equal keys when it lands in
    * `[leftTs, leftTs + within]`. Both sides are watermarked and the
    * range predicate is on both event-time columns, so the state store
    * keeps each side only for `watermark + within` of event time — state
    * is bounded by stream RATE times the window, never by history; Spark
    * evicts expired rows every micro-batch. `leftOuter` additionally
    * emits unmatched left events (null right columns) once the watermark
    * proves no match can still arrive — exactly-once attribution with
    * explicit non-conversions. Matches pair ACROSS micro-batches through
    * the state store. Emits keys, both event times, and `lag_us`
    * (conversion delay; null for non-converted left-outer rows). */
  def attributionJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String,
                      within: String = "30 minutes",
                      watermark: String = "10 minutes",
                      joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs,
      s"left/right event-time columns must be named differently, both are '$leftTs'")
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val rangeCond = col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within")
    l.join(r, keyCond && rangeCond, joinType)
      .select(keys.map(k => col(s"l.$k").as(k)) ++ Seq(
        col(leftTs), col(rightTs),
        (unix_micros(col(rightTs)) - unix_micros(col(leftTs))).as("lag_us")): _*)
  }

  // ------------------------------------------------------------------
  // ST3: stateful chunk-carry — the streaming port of
  // StatefulTAProcessor (`adi/app/features/processors/stateful_processor
  // .py:11-41`): carry each series' state across micro-batches so a
  // sequential computation is continuous across batch cuts. Every fold
  // below runs through [[carryScan]] with its own step; the state lives
  // in Spark's default state store, so no session needs configuring.
  // ------------------------------------------------------------------

  /** A row of one series: the scan keys on `symbol` and orders a
    * micro-batch by `epochSec`. */
  sealed trait SeriesTick {
    def symbol: String
    def epochSec: Long
  }

  /** The one per-series scan of the chunk-carry protocol: per symbol,
    * sort the micro-batch by `epochSec`, run `step` from the carried
    * state (`init` on the series' first batch), keep the returned carry
    * and emit the returned rows. */
  private def carryScan[T <: SeriesTick, C: Encoder, O: Encoder](
      ds: Dataset[T], init: C)(step: (C, IndexedSeq[T]) => (Seq[O], C)): Dataset[O] =
    ds.groupByKey(_.symbol)(Encoders.STRING)
      .flatMapGroupsWithState[C, O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[T], state: GroupState[C]) =>
          val (out, carry) =
            step(state.getOption.getOrElse(init), rows.toIndexedSeq.sortBy(_.epochSec))
          state.update(carry)
          out.iterator
      }

  case class Bar(symbol: String, epochSec: Long, high: Double, low: Double, close: Double)
      extends SeriesTick
  case class TaOut(symbol: String, epochSec: Long, cci: Option[Double], roc: Option[Double])
  case class Carry(rows: List[Bar])

  /** CCI mean-abs-dev + ROC over a full in-memory series — the per-group
    * kernel (mirrors `_batch_indicators_nb`, `ta_indicators.py:29-57`);
    * only called on (carry ++ batch) slices, never a whole partition. */
  def batchIndicators(rows: IndexedSeq[Bar], window: Int,
                                         constant: Double): IndexedSeq[TaOut] =
    rows.indices.map { i =>
      val cci =
        if (i < window - 1) None
        else {
          val tp = (j: Int) => (rows(j).high + rows(j).low + rows(j).close) / 3.0
          val ma = (i - window + 1 to i).map(tp).sum / window
          val md = (i - window + 1 to i).map(j => math.abs(tp(j) - ma)).sum / window
          val cur = tp(i)
          Some(if (md != 0) (cur - ma) / (constant * md) else 0.0)
        }
      val roc =
        if (i < window) None
        else Some(100.0 * (rows(i).close - rows(i - window).close) / rows(i - window).close)
      TaOut(rows(i).symbol, rows(i).epochSec, cci, roc)
    }

  /** Stateful streaming TA: per symbol, prepend the carried last `window`
    * rows, compute, emit only the new rows, keep the new tail as carry —
    * the exact `_carry` protocol of the reference, with Spark managing
    * state placement/recovery. Proven equivalent to whole-series compute
    * by the chunk-equivalence spec (§5). */
  def statefulTa(ds: Dataset[Bar], window: Int = 20, constant: Double = 0.015)
                (implicit spark: SparkSession): Dataset[TaOut] = {
    import spark.implicits._
    carryScan(ds, Carry(Nil)) { (carry, batch) =>
      val all = carry.rows.toIndexedSeq ++ batch
      (batchIndicators(all, window, constant).drop(carry.rows.length),
        Carry(all.takeRight(window).toList))
    }
  }

  // ------------------------------------------------------------------
  // Streaming Markov-switching regime filter: unlike the TA carry (a
  // window of rows), [[org.apache.spark.sql.graft.RegimeProb]]'s state
  // is ONE double, so the chunk protocol carries just the filtered
  // probability — O(1) state per key regardless of history length.
  // ------------------------------------------------------------------

  case class SignTick(symbol: String, epochSec: Long, sign: Option[Double])
      extends SeriesTick
  case class RegimeOut(symbol: String, epochSec: Long, p: Option[Double])
  case class RegimeCarry(p: Option[Double])

  /** The scalar step of [[org.apache.spark.sql.graft.RegimeProb]] — the
    * SAME IEEE +,−,×,÷ tree, so the streaming fold is bit-identical to
    * the batch window function (proven by the ST3-style equivalence
    * spec). Null/zero signs carry the state unchanged. */
  def regimeStep(p: Option[Double], sign: Option[Double], a01: Double,
                 a10: Double, u0: Double, u1: Double): Option[Double] =
    sign match {
      case Some(s) if s != 0.0 =>
        val prior = p.map(v => v * (1.0 - a10) + (1.0 - v) * a01).getOrElse(0.5)
        val l1 = if (s > 0) u1 else 1.0 - u1
        val l0 = if (s > 0) u0 else 1.0 - u0
        val num = prior * l1
        Some(num / (num + (1.0 - prior) * l0))
      case _ => p
    }

  /** Stateful streaming regime filter: per symbol, fold the micro-batch
    * through [[regimeStep]] from the carried probability, emit one
    * filtered P(bull) per tick, keep the final probability as carry. */
  def statefulRegime(ds: Dataset[SignTick], a01: Double, a10: Double,
                     u0: Double, u1: Double)
                    (implicit spark: SparkSession): Dataset[RegimeOut] = {
    import spark.implicits._
    carryScan(ds, RegimeCarry(None)) { (carry, batch) =>
      var p = carry.p
      val out = batch.map { t =>
        p = regimeStep(p, t.sign, a01, a10, u0, u1)
        RegimeOut(t.symbol, t.epochSec, p)
      }
      (out, RegimeCarry(p))
    }
  }

  // ------------------------------------------------------------------
  // Streaming LZ76 complexity: the chunk-carry twin of
  // [[org.apache.spark.sql.graft.LzComplexity]]. State is the exact
  // window-function buffer — (tape, phrase-start, count), integer +
  // text only — and it is BOUNDED by the shared `maxTape` budget, which
  // raises the same guard message as the batch expression (the cost
  // contract travels with the fold, not just the window function).
  // ------------------------------------------------------------------

  case class LzCarry(tape: String, pstart: Int, cnt: Int)
  case class LzOut(symbol: String, epochSec: Long, c: Option[Int])

  /** One step of the Kaspar–Schuster production-complexity scan — the
    * SAME integer/text fold as the batch window function's
    * updateExpressions, so the streaming twin is bit-identical across
    * any micro-batch cut (the ST3 gate). Null/zero signs carry the
    * state unchanged. */
  def lzStep(st: LzCarry, sign: Option[Double],
             maxTape: Int = LzComplexity.DefaultMaxTape): LzCarry =
    sign match {
      case Some(s) if s != 0.0 =>
        val tape2 = st.tape + (if (s > 0.0) "u" else "d")
        if (tape2.length > maxTape)
          throw new IllegalArgumentException(LzComplexity.tapeGuardMsg(maxTape))
        val j = tape2.length
        val phrase = tape2.substring(st.pstart, j)
        val prefix = tape2.substring(0, j - 1)
        if (!prefix.contains(phrase)) LzCarry(tape2, j, st.cnt + 1)
        else LzCarry(tape2, st.pstart, st.cnt)
      case _ => st
    }

  /** The window function's evaluateExpression: null before the first
    * valid sign, else phrase count + 1 for the open phrase. */
  def lzEval(st: LzCarry): Option[Int] =
    if (st.tape.isEmpty) None
    else Some(st.cnt + (if (st.pstart < st.tape.length) 1 else 0))

  /** Stateful streaming LZ76: per symbol, fold the micro-batch through
    * [[lzStep]] from the carried (tape, pstart, cnt), emit one running
    * complexity per tick, keep the final state as carry. */
  def statefulLz(ds: Dataset[SignTick],
                 maxTape: Int = LzComplexity.DefaultMaxTape)
                (implicit spark: SparkSession): Dataset[LzOut] = {
    import spark.implicits._
    carryScan(ds, LzCarry("", 0, 0)) { (carry, batch) =>
      var st = carry
      val out = batch.map { t =>
        st = lzStep(st, t.sign, maxTape)
        LzOut(t.symbol, t.epochSec, lzEval(st))
      }
      (out, st)
    }
  }

  // ------------------------------------------------------------------
  // Streaming GARCH(1,1) variance filter: the chunk-carry twin of
  // [[org.apache.spark.sql.graft.GarchVariance]] (the regime, LZ76,
  // GARCH and VaR-violation folds each have a batch window-function or
  // operator twin they are gated against). State is the single double
  // of the window-function buffer; ω travels WITH each tick, constant
  // per symbol by contract — variance targeting is a batch estimate a
  // stream consumes, not something a stream can recompute.
  // ------------------------------------------------------------------

  case class VarTick(symbol: String, epochSec: Long, x2: Option[Double],
                     omega: Double) extends SeriesTick
  case class GarchCarry(h: Option[Double])
  case class GarchOut(symbol: String, epochSec: Long, h: Option[Double])

  /** One step of the GARCH(1,1) recursion — the SAME fixed IEEE tree as
    * the batch window function's updateExpressions, `(ω + α·x²) + β·h`
    * seeded at the first valid square, so the streaming twin is
    * bit-identical across any micro-batch cut (the ST3 gate). Null
    * squares carry the state unchanged. */
  def garchStep(st: GarchCarry, x2: Option[Double], omega: Double,
                alpha: Double, beta: Double): GarchCarry =
    x2 match {
      case Some(x) => st.h match {
        case None => GarchCarry(Some(x))
        case Some(h) => GarchCarry(Some((omega + alpha * x) + beta * h))
      }
      case None => st
    }

  /** Stateful streaming GARCH: per symbol, fold the micro-batch through
    * [[garchStep]] from the carried variance, emit the filtered h per
    * tick, keep the final state as carry. */
  def statefulGarch(ds: Dataset[VarTick], alpha: Double, beta: Double)
                   (implicit spark: SparkSession): Dataset[GarchOut] = {
    import spark.implicits._
    carryScan(ds, GarchCarry(None)) { (carry, batch) =>
      var st = carry
      val out = batch.map { t =>
        st = garchStep(st, t.x2, t.omega, alpha, beta)
        GarchOut(t.symbol, t.epochSec, st.h)
      }
      (out, st)
    }
  }

  // ------------------------------------------------------------------
  // Streaming VaR-violation transition counter: the chunk-carry twin
  // of [[graft.operators.Backtest.christoffersenTest]]'s sequential
  // piece (like the regime, LZ76 and GARCH folds, gated bit-for-bit
  // against its batch counterpart). State is seven integers: the
  // previous indicator and the running (n, n_viol, n₀₀…n₁₁); `varAlpha`
  // travels WITH each tick — the VaR threshold is a batch estimate a
  // stream consumes (the GARCH ω contract), re-fit on a reference
  // window, never recomputed mid-stream. The LR statistics are pure
  // functions of the emitted counts, so count-equivalence across
  // micro-batch cuts IS statistic-equivalence.
  // ------------------------------------------------------------------

  case class ViolTick(symbol: String, epochSec: Long, v: Option[Double],
                      varAlpha: Double) extends SeriesTick
  /** `prev = -1` before the first valid observation. */
  case class ViolCarry(prev: Int, n: Long, nViol: Long,
                       n00: Long, n01: Long, n10: Long, n11: Long)
  case class ViolOut(symbol: String, epochSec: Long, n: Long, nViol: Long,
                     n00: Long, n01: Long, n10: Long, n11: Long)

  /** One step of the violation-transition count — the SAME integer
    * fold as the batch lag + conditional sums, so the twin is
    * bit-identical across any micro-batch cut (the ST3 gate). Null
    * values carry the state unchanged (the batch side filters them
    * before the lag — a null never forms a transition). */
  def violStep(st: ViolCarry, v: Option[Double], varAlpha: Double): ViolCarry =
    v match {
      case Some(x) =>
        val i = if (x < varAlpha) 1 else 0
        val upd = (st.prev, i) match {
          case (-1, _) => st
          case (0, 0) => st.copy(n00 = st.n00 + 1)
          case (0, _) => st.copy(n01 = st.n01 + 1)
          case (_, 0) => st.copy(n10 = st.n10 + 1)
          case _ => st.copy(n11 = st.n11 + 1)
        }
        upd.copy(prev = i, n = st.n + 1, nViol = st.nViol + i)
      case None => st
    }

  /** Stateful streaming violation counter: per symbol, fold the
    * micro-batch through [[violStep]] from the carried counts, emit
    * the running counts per tick, keep the final state as carry. */
  def statefulViolations(ds: Dataset[ViolTick])
                        (implicit spark: SparkSession): Dataset[ViolOut] = {
    import spark.implicits._
    carryScan(ds, ViolCarry(-1, 0L, 0L, 0L, 0L, 0L, 0L)) { (carry, batch) =>
      var st = carry
      val out = batch.map { t =>
        st = violStep(st, t.v, t.varAlpha)
        ViolOut(t.symbol, t.epochSec, st.n, st.nViol,
          st.n00, st.n01, st.n10, st.n11)
      }
      (out, st)
    }
  }

  // ------------------------------------------------------------------
  // Streaming incremental dedup: the 100 TB ingest loop. Each micro-batch
  // probes the standing MinHash index, keeps only docs that near-dup
  // NOTHING already indexed (nor an earlier doc of the same batch), and
  // appends the survivors' signatures to the index — so the corpus only
  // ever grows by novel content and no batch re-processes the corpus.
  // ------------------------------------------------------------------

  /** foreachBatch body: returns the deduped batch after updating the
    * index at `indexPath`. Exposed for testing; wire into a stream with
    * `.writeStream.foreachBatch((b, id) => { val kept =
    * incrementalDedupBatch(spark, path, b, "text", "doc_id",
    * batchId = id.toString); sink(kept) })` — PASS THE STREAMING BATCH ID:
    * foreachBatch delivery is at-least-once, and the stable id is what
    * makes a replayed batch an idempotent no-op on the index
    * (`Dedup.writeMinhashIndex` skips already-committed batch ids; the
    * recomputed kept-set is identical because the batch's own survivors
    * in the index are filtered by id equality and its near-dups were
    * already dropped within-batch). An empty `batchId` auto-assigns —
    * only safe for ad-hoc non-retried use.
    *
    * The operators run with `cache = false` — a long-running loop must
    * not pin one cached frame per batch, and recompute is cheap since the
    * codegen shingle kernel. The returned frame is `localCheckpoint`ed,
    * which matters for correctness, not just cost: a lazy plan would
    * re-probe the index AFTER this call just grew it. */
  def incrementalDedupBatch(spark: SparkSession, indexPath: String,
                            batch: DataFrame, textCol: String, idCol: String,
                            threshold: Double = 0.8,
                            batchId: String = ""): DataFrame = {
    import graft.operators.Dedup
    // "exists" = something COMMITTED, not "directories present": a torn
    // first write (crash before its commit marker) must read as an empty
    // index and be overwritten by the retry, not probed
    val exists = graft.store.CommitLog(spark, indexPath).read().committed.nonEmpty
    // within-batch dedup first (batch ⊆ novel content invariant)
    val pairs = Dedup.minhashNearDupPairs(batch, textCol, idCol,
      threshold = threshold, cache = false)
    val withinKept = Dedup.canonicalize(batch, pairs, idCol)
    val kept =
      if (!exists) withinKept
      else {
        val hits = Dedup.nearDupAgainstIndex(spark, indexPath, withinKept,
            textCol, idCol, threshold = threshold, cache = false)
          .select(col("new_id").as(idCol)).distinct()
        withinKept.join(hits, Seq(idCol), "left_anti")
      }
    val settled = kept.localCheckpoint(true)
    Dedup.writeMinhashIndex(settled, textCol, idCol, indexPath,
      mode = if (exists) "append" else "overwrite", batchId = batchId)
    settled
  }

  /** foreachBatch body for the CONTAINMENT ingest loop — the excerpt/
    * quote-dedup sibling of [[incrementalDedupBatch]] (Jaccard
    * structurally misses a 100-token excerpt inside a 10k-token
    * article; this loop drops it). Each micro-batch:
    *
    *   1. drops batch docs contained (C ≥ τ) in ANOTHER batch doc —
    *      near-equal twins (mutual containment) keep the LOWER id, a
    *      containment chain keeps only its maximal elements;
    *   2. drops batch docs contained in anything COMMITTED in the index
    *      ([[Dedup.containmentAgainstIndex]]; the reverse direction —
    *      an indexed excerpt inside a NEW article — is reported by the
    *      probe but never deletes from the append-only index);
    *   3. appends the survivors' positional postings atomically
    *      ([[Dedup.writeContainmentIndex]] — replayed batch ids are
    *      idempotent no-ops, so PASS THE STREAMING BATCH ID).
    *
    * Same correctness notes as [[incrementalDedupBatch]]: the returned
    * frame is eagerly localCheckpointed (a lazy plan would re-probe the
    * index AFTER this call grew it), operators run cache-free, and a
    * torn first write reads as an empty index. */
  def incrementalContainmentBatch(spark: SparkSession, indexPath: String,
                                  batch: DataFrame, textCol: String,
                                  idCol: String, threshold: Double = 0.9,
                                  batchId: String = ""): DataFrame = {
    import graft.operators.Dedup
    val exists = graft.store.CommitLog(spark, indexPath).read().committed.nonEmpty
    val intra = Dedup.containmentJoin(batch, textCol, idCol,
        threshold = threshold, cache = false)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true) // consumed twice (pairs + reversed pairs)
    val mutual = intra.select(col("id_a").as("_ra"), col("id_b").as("_rb"))
    val dropIntra = intra
      .join(mutual, col("id_a") === col("_rb") && col("id_b") === col("_ra"),
        "left")
      .where(col("_ra").isNull || col("id_b") < col("id_a"))
      .select(col("id_a").as(idCol)).distinct()
    val withinKept = batch.join(dropIntra, Seq(idCol), "left_anti")
    val kept =
      if (!exists) withinKept
      else {
        val hits = Dedup.containmentAgainstIndex(spark, indexPath,
            withinKept, textCol, idCol, threshold = threshold,
            cache = false)
          .join(withinKept.select(col(idCol).as("id_a")), Seq("id_a"),
            "left_semi") // contained side must be a BATCH doc
          .select(col("id_a").as(idCol)).distinct()
        withinKept.join(hits, Seq(idCol), "left_anti")
      }
    val settled = kept.localCheckpoint(true)
    Dedup.writeContainmentIndex(settled, textCol, idCol, indexPath,
      mode = if (exists) "append" else "overwrite", batchId = batchId)
    settled
  }

  /** The continuous corpus-ingestion batch body — the LLM training-data
    * front door, composing the pipeline's cleaning operators in the
    * canonical order on every micro-batch:
    *
    *   1. hard quality rules (Gopher/C4-style word-count / word-length /
    *      diversity gates — cheapest first, one codegen scan),
    *   2. PII scrub (rewrite, not drop),
    *   3. exact dedup within the batch (16 B/row shuffle),
    *   4. near-dup dedup within the batch AND against the standing
    *      MinHash index, growing it atomically ([[incrementalDedupBatch]]
    *      — at-least-once replays are no-ops).
    *
    * Returns the kept frame and the per-stage drop report `(arrived,
    * quality_dropped, exact_dropped, neardup_dropped, kept)` — the shape
    * corpus-cleaning runs publish. Stage outputs are persisted across
    * their count + downstream consumption (a lazy chain would re-run
    * quality/scrub/exactDedup once per later action — the same rework
    * [[incrementalDedupBatch]]'s own localCheckpoint prevents) and
    * unpersisted before return; the returned frame itself is settled by
    * that localCheckpoint. */
  def documentIngestBatch(spark: SparkSession, indexPath: String,
                          batch: DataFrame, textCol: String, idCol: String,
                          threshold: Double = 0.8, batchId: String = "",
                          minWords: Int = 10): (DataFrame, Map[String, Long]) = {
    import graft.operators.{Dedup, TextAnalysis}
    import org.apache.spark.storage.StorageLevel
    val arrived = batch.count()
    val passIds = TextAnalysis.qualityRules(batch, textCol, idCol,
        minWords = minWords)
      .where(col("keep")).select(col(idCol))
    val clean = batch.join(passIds, Seq(idCol), "left_semi")
      .withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterQuality = clean.count()
    val exactKept = clean.join(
      Dedup.exactDedup(clean, textCol, idCol).select(idCol),
      Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterExact = exactKept.count()
    val kept = incrementalDedupBatch(spark, indexPath, exactKept,
      textCol, idCol, threshold, batchId)
    val nKept = kept.count()
    clean.unpersist()
    exactKept.unpersist()
    (kept, Map(
      "arrived" -> arrived,
      "quality_dropped" -> (arrived - afterQuality),
      "exact_dropped" -> (afterQuality - afterExact),
      "neardup_dropped" -> (afterExact - nKept),
      "kept" -> nKept))
  }

  /** [[documentIngestBatch]] as a RUNNING job: JSONL file-drop (the
    * standard corpus delivery format) → per-batch clean → survivors
    * appended to the output lake, per-stage drop reports appended to a
    * queryable parquet telemetry table. `AvailableNow` + checkpoint give
    * stable batch ids across restarts, and the index commit markers make
    * at-least-once replays no-ops — the same guarantees the incremental
    * dedup e2e spec pins, now for the whole front door. */
  def documentIngestStream(spark: SparkSession, inputDir: String,
                           schema: org.apache.spark.sql.types.StructType,
                           indexPath: String, outPath: String,
                           reportPath: String, checkpoint: String,
                           textCol: String = "text",
                           idCol: String = "doc_id"): StreamingQuery =
    spark.readStream.schema(schema).json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val (kept, report) = documentIngestBatch(spark, indexPath, b.toDF(),
          textCol, idCol, batchId = id.toString)
        kept.write.mode("append").parquet(outPath)
        import spark.implicits._
        Seq((id, report("arrived"), report("quality_dropped"),
          report("exact_dropped"), report("neardup_dropped"), report("kept")))
          .toDF("batch_id", "arrived", "quality_dropped", "exact_dropped",
            "neardup_dropped", "kept")
          .coalesce(1).write.mode("append").parquet(reportPath)
        ()
      }
      .start()
}
