package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.CommitLog

/** Streaming feature-drift monitor — the [[Relational.psiDrift]] PSI
  * scorecard turned into an ingest-time loop (the reference's scheduled
  * monitoring jobs poll batch tables; a 100 TB pipeline wants the drift
  * score maintained INCREMENTALLY as micro-batches land, without
  * rescanning history).
  *
  * Index layout at `path` (the [[CommitLog]] atomic-commit protocol):
  *   - `bounds/`  — per-key reference `(keys…, _mn, _mx)` bin anchors
  *   - `ref/`     — per-key reference bin counts `(keys…, bin, c_ref)`
  *   - `cur/batch=<id>/` — one micro-batch's bin counts `(keys…, bin, c_cur)`
  *   - `_commits/<id>`   — atomic visibility markers (`ref` = the
  *     reference itself; anything else = a committed micro-batch)
  *
  * EQUIVALENCE CONTRACT (SystemSpec-pinned): after streaming batches
  * B₁..Bₙ, [[driftPsi]] ≡ `Relational.psiDrift(ref ∪ B₁ ∪ … ∪ Bₙ)`
  * column for column — both paths share [[Relational.equiWidthBucket]]
  * and [[Relational.psiFromCells]], so bucketing and smoothing cannot
  * silently diverge.
  *
  * Scale shape: the persisted state is keys×bins count rows per batch —
  * BOUNDED regardless of batch size; each micro-batch pays one grouped
  * count (map-side combined) + a broadcast of the key-sized bounds;
  * [[driftPsi]] reads only the skinny count tables, never raw history. */
object DriftMonitor {

  /** Anchor the monitor: per-key bin bounds + reference bin counts from
    * the fit-time slice (the scorecard convention — drift is measured
    * against where the model was fit). OVERWRITES `path`. Fails loudly
    * on a degenerate reference (min == max — [[Relational.psiDrift]]'s
    * guard: such a key would report ~0 drift on any shift). The
    * reference becomes visible only with the `_commits/ref` marker, so
    * a crash between the two table writes exposes nothing. */
  def writeDriftReference(df: DataFrame, keys: Seq[String],
                          valueCol: String, path: String,
                          bins: Int = 10): Unit = {
    require(keys.nonEmpty, "writeDriftReference needs the feature key(s)")
    require(bins > 0, s"bins must be positive, got $bins")
    val spark = df.sparkSession
    val log = CommitLog(spark, path)
    val v = col(valueCol).cast("double")
    // persisted: the degenerate-reference check and the bounds write
    // both consume this key-sized aggregate — without the persist each
    // re-scanned and re-aggregated the full reference slice (r14)
    val bounds = df.where(v.isNotNull)
      .groupBy(keys.map(col): _*).agg(min(v).as("_mn"), max(v).as("_mx"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val degenerate = bounds.where(col("_mx") === col("_mn"))
        .select(keys.map(col): _*).limit(5).collect()
      require(degenerate.isEmpty,
        s"writeDriftReference: degenerate reference slice (min == max) for " +
          s"key(s) ${degenerate.mkString(", ")} — bins cannot resolve drift " +
          "there; widen the reference window or exclude these keys")
      log.fs.delete(new org.apache.hadoop.fs.Path(path), true)
      bounds.write.parquet(s"$path/bounds")
    } finally bounds.unpersist()
    val anchored = spark.read.parquet(s"$path/bounds")
    val bucket = Relational.equiWidthBucket(v, col("_mn"), col("_mx"), bins)
    df.where(v.isNotNull)
      .join(broadcast(anchored), keys)
      .groupBy(keys.map(col) :+ bucket.as("bin"): _*)
      .agg(count(lit(1)).as("c_ref"))
      .write.parquet(s"$path/ref")
    log.commit("ref")
  }

  /** Count one micro-batch into the reference bins and commit the batch
    * atomically — the `writeStream.foreachBatch` body. Idempotent per
    * `batchId` (at-least-once delivery replays skip instead of
    * double-counting); keys absent from the reference drop (nothing to
    * measure against — surface them upstream, the [[Relational.psiDrift]]
    * contract). Ids starting with `c` are reserved ([[CommitLog.append]]).
    * Returns true if written, false on a replay skip or when another
    * writer committed the id first. */
  def driftBatch(batch: DataFrame, keys: Seq[String], valueCol: String,
                 path: String, batchId: String, bins: Int = 10): Boolean = {
    require(batchId.matches(CommitLog.IdPattern) && batchId != "ref",
      s"batchId must match ${CommitLog.IdPattern} and not be 'ref', got '$batchId'")
    val spark = batch.sparkSession
    val log = CommitLog(spark, path)
    require(log.read().committed.contains("ref"),
      s"driftBatch: no committed reference at $path — " +
        "run writeDriftReference first")
    log.append(batchId, Seq("cur")) { id =>
      val bounds = spark.read.parquet(s"$path/bounds")
      val v = col(valueCol).cast("double")
      val bucket = Relational.equiWidthBucket(v, col("_mn"), col("_mx"), bins)
      batch.where(v.isNotNull)
        .join(broadcast(bounds), keys)
        .groupBy(keys.map(col) :+ bucket.as("bin"): _*)
        .agg(count(lit(1)).as("c_cur"))
        .write.mode("overwrite").parquet(s"$path/cur/batch=$id")
    }
  }

  /** A `cur/batch=<id>` count table's schema: `bounds`' keys, bin, c_cur. */
  def driftCurSchema(bounds: StructType, keys: Seq[String]): StructType =
    StructType(keys.map(bounds(_)) ++
      Seq(StructField("bin", LongType), StructField("c_cur", LongType)))

  /** PSI per key of everything streamed so far against the reference —
    * `(keys…, n_ref, n_cur, psi)`, the [[Relational.psiDrift]] output
    * shape. Reads ONLY the committed skinny count tables (one
    * [[CommitLog.scan]]: uncommitted batch directories are never
    * listed); an empty monitor (no batches yet) reports the pure
    * smoothing floor with `n_cur = 0`. */
  def driftPsi(spark: SparkSession, path: String, keys: Seq[String],
               bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val log = CommitLog(spark, path)
    val committed = log.read().committed
    require(committed.contains("ref"),
      s"driftPsi: no committed reference at $path")
    val bounds = spark.read.parquet(s"$path/bounds")
    val ref = spark.read.parquet(s"$path/ref")
    val grid = bounds.select(keys.map(col) :+
      explode(sequence(lit(0L), lit(bins - 1L))).as("bin"): _*)
    val cur = log.scan("cur", spark.createDataFrame(java.util.List.of[Row](),
        driftCurSchema(bounds.schema, keys)), committed.filterNot(_ == "ref"))
      .groupBy(keys.map(col) :+ col("bin"): _*)
      .agg(sum(col("c_cur")).as("c_cur"))
    val cells = grid.join(ref, keys :+ "bin", "left")
      .join(cur, keys :+ "bin", "left")
      .select(keys.map(col) :+ col("bin") :+
        coalesce(col("c_ref"), lit(0L)).as("c_ref") :+
        coalesce(col("c_cur"), lit(0L)).as("c_cur"): _*)
    Relational.psiFromCells(cells, keys, bins)
  }

  // ------------------------------------------------------------------
  // Incremental CUSUM — [[Relational.cusumDetect]] folded over
  // micro-batches with a per-key carry frame (the [[MarketIncremental]]
  // fold pattern): the reflected statistic `S_t = P_t − min(0, min_{j≤t}
  // P_j)` needs only the LAST prefix value and the running minimum per
  // side, so the carry is two longs per side per key — bounded state
  // regardless of history length.
  // ------------------------------------------------------------------

  /** Empty CUSUM carry: `(keys…, p_pos, min_pos, p_neg, min_neg,
    * w_ts_us, w_tb)`. `min_*` hold `min(0, min over history of P)` —
    * always ≤ 0, so the bootstrap value is 0. */
  def emptyCusumCarry(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(keys.map(StructField(_, StringType)) ++
        Seq("p_pos", "min_pos", "p_neg", "min_neg", "w_ts_us", "w_tb")
          .map(StructField(_, LongType))))

  /** The CUSUM scores log's schema — [[cusumFold]]'s `scored` row shape:
    * `(keys…, ts, tiebreak, value, s_pos, s_neg, alarm_pos, alarm_neg)`. */
  def cusumScoresSchema(keys: Seq[String], tsCol: String, tiebreakCol: String)
      : StructType =
    StructType(keys.map(StructField(_, StringType)) ++ Seq(
      StructField(tsCol, TimestampType), StructField(tiebreakCol, LongType)) ++
      Seq("value", "s_pos", "s_neg").map(StructField(_, DoubleType)) ++
      Seq("alarm_pos", "alarm_neg").map(StructField(_, BooleanType)))

  /** Fold one micro-batch into the CUSUM state. Returns
    * `(scored, carry2)`: `scored` is exactly the
    * [[Relational.cusumDetect]] row shape for the batch's ticks
    * (OpsSpec-pinned equivalence: folding batches B₁..Bₙ and unioning
    * the scores ≡ one-shot `cusumDetect(B₁ ∪ … ∪ Bₙ)` column for
    * column), `carry2` the advanced state.
    *
    * Ordering contract (the [[MarketIncremental]] guards): every tick
    * must be strictly after the carried `(w_ts_us, w_tb)` watermark and
    * `(ts, tiebreak)` must be unique within the batch — a violation
    * raises at materialization rather than silently mis-folding the
    * sequential statistic. Keys are cast to STRING in the carry (one
    * canonical type across folds). Null values drop, like the one-shot.
    *
    * Scale shape: one keyed window pass over the batch + one keyed agg
    * + a key-sized full-outer carry merge — per-fold cost is O(batch)
    * plus O(keys), never O(history). Both returned frames are LAZILY
    * localCheckpointed (r14): the shared window pass still materializes
    * exactly once — inside the caller's FIRST action (in
    * [[cusumBatch]], the scores write) instead of as its own scheduled
    * job at fold time, one driver round-trip less per fold. The
    * ordering guards therefore raise at first materialization, which in
    * every batch/stream loop is still inside the fold's own
    * foreachBatch body. */
  def cusumFold(carry: DataFrame, batch: DataFrame, keys: Seq[String],
                tsCol: String, valueCol: String, tiebreakCol: String,
                target: Double, slack: Double, threshold: Double,
                scale: Double = 1e6): (DataFrame, DataFrame) = {
    require(keys.nonEmpty, "cusumFold needs the series key(s)")
    require(slack >= 0.0 && threshold > 0.0 && scale > 0.0,
      s"bad cusum params: slack=$slack threshold=$threshold scale=$scale")
    val tq = math.floor(target * scale).toLong
    val kq = math.floor(slack * scale).toLong
    val hq = math.floor(threshold * scale).toLong
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts_us"), col("_tb"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    val raw = batch.where(col(valueCol).isNotNull).select(
      keys.map(k => col(k).cast("string").as(k)) ++ Seq(
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(tiebreakCol).cast("long").as("_tb"),
        floor(col(valueCol).cast("double") * scale).cast("long").as("_xq")): _*)
    val guarded = raw
      .join(carry, keys, "left")
      .withColumn("_dup",
        lag(struct(col("ts_us"), col("_tb")), 1).over(w) ===
          struct(col("ts_us"), col("_tb")))
      .withColumn("_xg",
        when(col("w_ts_us").isNotNull &&
            (col("ts_us") < col("w_ts_us") ||
              (col("ts_us") === col("w_ts_us") && col("_tb") <= col("w_tb"))),
          raise_error(concat(lit("cusumFold ordering contract violated: "),
            lit("tick at "), col("ts_us").cast("string"),
            lit("us is not after the carried watermark"))))
        .when(coalesce(col("_dup"), lit(false)),
          raise_error(lit("cusumFold ordering contract violated: duplicate " +
            "(ts, tiebreak) pair within one batch")))
        .otherwise(col("_xq")))
      .withColumn("_ip", col("_xg") - lit(tq) - lit(kq))
      .withColumn("_in", lit(tq) - col("_xg") - lit(kq))
      .withColumn("_pp",
        coalesce(col("p_pos"), lit(0L)) + sum(col("_ip")).over(wCum))
      .withColumn("_pn",
        coalesce(col("p_neg"), lit(0L)) + sum(col("_in")).over(wCum))
      .withColumn("_mp",
        least(coalesce(col("min_pos"), lit(0L)), min(col("_pp")).over(wCum)))
      .withColumn("_mn2",
        least(coalesce(col("min_neg"), lit(0L)), min(col("_pn")).over(wCum)))
      .withColumn("_sp", col("_pp") - col("_mp"))
      .withColumn("_sn", col("_pn") - col("_mn2"))
      .localCheckpoint(false) // lazy: materializes inside the first action
    val scored = guarded.select(keys.map(col) ++ Seq(
        timestamp_micros(col("ts_us")).as(tsCol), col("_tb").as(tiebreakCol),
        round(col("_xq").cast("double") / lit(scale), 6).as("value"),
        round(col("_sp").cast("double") / lit(scale), 6).as("s_pos"),
        round(col("_sn").cast("double") / lit(scale), 6).as("s_neg"),
        (col("_sp") > lit(hq)).as("alarm_pos"),
        (col("_sn") > lit(hq)).as("alarm_neg")): _*)
      .orderBy(keys.map(col) ++ Seq(col(tsCol), col(tiebreakCol)): _*)
    val adv = guarded.groupBy(keys.map(col): _*)
      .agg(max_by(col("_pp"), struct(col("ts_us"), col("_tb"))).as("_lp"),
        max_by(col("_pn"), struct(col("ts_us"), col("_tb"))).as("_ln"),
        min(col("_mp")).as("_minp"), min(col("_mn2")).as("_minn"),
        max(struct(col("ts_us"), col("_tb"))).as("_w"))
    val carry2 = carry.join(adv, keys, "full")
      .select(keys.map(col) ++ Seq(
        coalesce(col("_lp"), col("p_pos"), lit(0L)).as("p_pos"),
        coalesce(col("_minp"), col("min_pos"), lit(0L)).as("min_pos"),
        coalesce(col("_ln"), col("p_neg"), lit(0L)).as("p_neg"),
        coalesce(col("_minn"), col("min_neg"), lit(0L)).as("min_neg"),
        coalesce(col("_w").getField("ts_us"), col("w_ts_us")).as("w_ts_us"),
        coalesce(col("_w").getField("_tb"), col("w_tb")).as("w_tb")): _*)
      .localCheckpoint(false) // lazy: rides the carry write's own job
    (scored, carry2)
  }

  /** The `writeStream.foreachBatch` body for streaming CUSUM: fold the
    * micro-batch with [[cusumFold]] against the last committed carry,
    * append the batch's scores to the permanent `scores/batch=<id>` log,
    * version the carry under `v=<id>/carry`, commit atomically through
    * the state dir's [[CommitLog]]. Idempotent per `batchId`
    * (at-least-once replays return the standing view without refolding —
    * the statistic would double-count otherwise); crash between writes
    * exposes nothing (no marker). Old carry versions GC down to the
    * committed predecessor.
    *
    * Returns [[cusumScores]] — everything scored so far. */
  def cusumBatch(spark: SparkSession, stateDir: String, batchId: Long,
                 batch: DataFrame, keys: Seq[String], tsCol: String,
                 valueCol: String, tiebreakCol: String, target: Double,
                 slack: Double, threshold: Double,
                 scale: Double = 1e6): DataFrame =
    CommitLog(spark, stateDir).fold(batchId) { prev =>
      val (scored, carry2) = cusumFold(prev("carry", emptyCusumCarry(spark, keys)),
        batch, keys, tsCol, valueCol, tiebreakCol, target, slack, threshold, scale)
      scored.write.mode("overwrite").parquet(s"$stateDir/scores/batch=$batchId")
      carry2.write.mode("overwrite").parquet(s"$stateDir/v=$batchId/carry")
    }(done => CommitLog(spark, stateDir).scan("scores", spark.createDataFrame(
      java.util.List.of[Row](), cusumScoresSchema(keys, tsCol, tiebreakCol)),
      done.map(_.toString)))

  /** Every committed batch's CUSUM scores — the union of the committed
    * `scores/batch=<id>` logs, read with [[cusumScoresSchema]] (the
    * `keys`, `tsCol` and `tiebreakCol` the batches were folded with).
    * Row shape = [[Relational.cusumDetect]]'s; empty before the first commit. */
  def cusumScores(spark: SparkSession, stateDir: String, keys: Seq[String],
                  tsCol: String, tiebreakCol: String): DataFrame =
    CommitLog(spark, stateDir).scan("scores", spark.createDataFrame(
      java.util.List.of[Row](), cusumScoresSchema(keys, tsCol, tiebreakCol)))
}
