package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.store.CommitLog

/** Incremental market analytics — fold a new micro-batch of ticks into
  * standing volume-bar and triple-barrier state WITHOUT recomputing
  * history: the [[Relational.mergeSessions]] sufficient-statistics
  * pattern applied to the AFML bar/label operators, with BOUNDED state.
  *
  * State is the open frontier only — everything that can never change
  * again leaves the fold:
  *  - BARS: under [[Resample.volumeBars]]' floor-division contract with
  *    non-negative volumes, a bar is closed forever once the series'
  *    cumulative quantized volume passes its boundary; each fold EMITS
  *    the newly-closed bars (append-only log) and keeps at most ONE
  *    open bar per series plus the `cum_cents` carry.
  *  - LABELS: an entry finalizes once both barriers are resolved or the
  *    series watermark passes its horizon (new ticks only ever arrive
  *    later, so a recorded first touch is final the moment it exists);
  *    each fold EMITS newly-final labels and keeps only the open
  *    entries — bounded by horizon × tick rate × series, NOT history.
  *    Ticks themselves are never stored.
  *
  * A fold therefore prices like (batch + open frontier), not like the
  * accumulated history — the property the scale rehearsal pins against
  * a full recompute.
  *
  * ORDERING CONTRACT (the standard warehouse-load contract, as
  * [[Relational.scd2Merge]]): batches arrive per-series time-ordered —
  * every new tick strictly after the series' stored `(ts, tiebreak)`
  * watermark — and volumes are non-negative (a refund/correction tick
  * would reopen closed bars). Violations raise rather than silently
  * corrupt bar boundaries. Replays of a committed batch id are no-ops
  * in [[marketTickBatch]].
  *
  * Equivalence gate (spec-pinned): after any batch sequence,
  * closed-log ∪ open state ≡ [[Resample.volumeBars]] over the full
  * history, and emitted-labels ∪ [[labels]] of the open entries ≡
  * [[Labeling.tripleBarrier]] over the full history, column for column.
  *
  * Scale shape: every stage is keyed on the series — the in-batch
  * prefix window, the bar merge groupBy, the entry-vs-tick horizon
  * join (the [[Labeling.tripleBarrier]] horizon-BUCKETED band join,
  * batch-sized right side) and the watermark join. Nothing rescans or
  * rewrites history. */
object MarketIncremental {

  /** All knobs of the fold, shared by every function here so the batch
    * and incremental paths cannot drift. `tiebreakCol` must make
    * (tsCol, tiebreakCol) a total order per series. */
  final case class Cfg(keys: Seq[String], tsCol: String, priceCol: String,
                       volCol: String, tiebreakCol: String,
                       volThreshold: Double, horizonUs: Long,
                       upPct: Double, dnPct: Double) {
    require(keys.nonEmpty, "incremental market state needs series keys")
    require(volThreshold > 0.0, s"volThreshold must be positive, got $volThreshold")
    require(horizonUs > 0L, s"horizon must be positive, got $horizonUs")
    require(upPct > 0.0 && dnPct > 0.0 && dnPct < 1.0,
      s"need upPct > 0 and 0 < dnPct < 1, got $upPct/$dnPct")
    val thrFp: Long = math.round(volThreshold * 100)
    require(thrFp > 0L, s"volThreshold quantizes to 0 cents: $volThreshold")
  }

  /** Empty state frames with the exact schemas the folds produce.
    * Bars carry their endpoint TIEBREAKS (`open_tb`/`close_tb`) so the
    * cross-batch open/close election stays deterministic when a batch
    * extends a bar at the exact same `ts_us` as the stored endpoint —
    * the ordering contract allows that (same ts, higher tiebreak), and
    * electing on the timestamp alone would be a coin flip there. */
  def emptyBars(spark: SparkSession, cfg: Cfg): DataFrame =
    keyed(spark, cfg.keys, "bar_id long, open double, high double, low double, " +
      "close double, volume double, n_ticks long, open_ts_us long, close_ts_us long, " +
      "open_tb long, close_tb long")

  def emptyCarry(spark: SparkSession, cfg: Cfg): DataFrame =
    keyed(spark, cfg.keys, "cum_cents long, w_ts_us long, w_tb long")

  def emptyEntries(spark: SparkSession, cfg: Cfg): DataFrame =
    keyed(spark, cfg.keys, "ts_us long, price double, _eid long, t_up_us long, t_dn_us long")

  /** Empty frame of the series `keys` (as strings) followed by the DDL
    * columns `tail` — the schema of every state frame here. */
  private def keyed(spark: SparkSession, keys: Seq[String], tail: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL((keys.map(k => s"`$k` string") :+ tail).mkString(", ")))

  /** The carry after a fold: `fresh` rows for the batch's series plus
    * the `stored` rows of every series the batch did not touch — row
    * plumbing on the series keys, no value computed on the driver. */
  private def nextCarry(spark: SparkSession, schema: StructType, keys: Seq[String],
                        stored: Array[Row], fresh: Array[Row]): DataFrame = {
    val ki = keys.map(schema.fieldIndex)
    val touched = fresh.map(r => ki.map(r.get)).toSet
    DriverLoop.frame(spark,
      (fresh ++ stored.filterNot(r => touched.contains(ki.map(r.get)))).toSeq, schema)
  }

  /** Normalized batch ticks: `(keys…, ts_us, _tb, price, _vol, _cents,
    * _base)`, `_base` being the series' stored `cum_cents` (one carry
    * join serves it and the watermark), with the per-series ordering +
    * non-negative-volume guards baked
    * into `_cents` (a violating tick fails the job loudly — silently
    * accepting it would corrupt bar boundaries or reopen closed bars).
    * Guards two distinct order violations: a tick at-or-before the
    * stored cross-batch watermark, and a duplicate `(ts_us, tiebreak)`
    * pair WITHIN the batch (the prefix-sum window and the OHLC
    * elections both assume a per-series total order, so two rows on
    * the same key would be silently order-nondeterministic). */
  private def guardedTicks(batch: DataFrame, carry: DataFrame, cfg: Cfg): DataFrame = {
    val tsUs = unix_micros(col(cfg.tsCol).cast("timestamp"))
    val raw = batch.select(
      cfg.keys.map(c => col(c).cast("string").as(c)) ++ Seq(
        tsUs.as("ts_us"),
        col(cfg.tiebreakCol).cast("long").as("_tb"),
        col(cfg.priceCol).cast("double").as("price"),
        col(cfg.volCol).cast("double").as("_vol"),
        floor(col(cfg.volCol).cast("double") * 100).cast("long").as("_rawc")): _*)
    // duplicates sort adjacent under the same window ordering the
    // prefix-sum uses, so one lag comparison catches every equal pair
    // (and Catalyst reuses the exchange+sort with the cum-sum window)
    val wOrd = Window.partitionBy(cfg.keys.map(col): _*)
      .orderBy(col("ts_us"), col("_tb"))
    raw.join(carry.select(cfg.keys.map(col) ++ Seq(col("w_ts_us"), col("w_tb"),
        col("cum_cents").as("_base")): _*), cfg.keys, "left")
      .withColumn("_dup",
        lag(struct(col("ts_us"), col("_tb")), 1).over(wOrd) ===
          struct(col("ts_us"), col("_tb")))
      .withColumn("_cents",
        when(col("w_ts_us").isNotNull &&
            (col("ts_us") < col("w_ts_us") ||
              (col("ts_us") === col("w_ts_us") && col("_tb") <= col("w_tb"))),
          raise_error(concat(lit("marketTick ordering contract violated: tick at "),
            col("ts_us").cast("string"), lit("us is not after the stored watermark "),
            col("w_ts_us").cast("string"), lit("us — batches must be per-series time-ordered"))))
        .when(coalesce(col("_dup"), lit(false)),
          raise_error(concat(lit("marketTick ordering contract violated: duplicate "),
            lit("(ts_us, tiebreak) pair ("), col("ts_us").cast("string"), lit(", "),
            col("_tb").cast("string"),
            lit(") within one batch — the tiebreak must total-order each series"))))
        .when(col("_rawc") < 0L,
          raise_error(lit("marketTick volume contract violated: negative " +
            "volume would reopen closed bars — correct upstream")))
        .otherwise(col("_rawc")))
      .drop("w_ts_us", "w_tb", "_rawc", "_dup")
  }

  /** Fold a tick batch into the bar frontier. Returns
    * `(newlyClosedBars, openBars', carry')` — closed bars are final and
    * never re-emitted; the open frame holds ≤ 1 bar per series.
    *
    * Shape (every carry fold here): the series-sized `carry'` is
    * collected and re-injected as driver rows ([[DriverLoop]]) — the
    * fold call's one action. Every tick's guarded `_cents` feeds the carry sum, so
    * the ordering / volume guards fire inside the fold call. The frames
    * several outputs share — the cum-annotated batch (bars and carry)
    * and the frontier-tagged bars (closed and open) — are checkpointed
    * lazily: the carry collect materializes the first, the caller's
    * first write the second, and no lineage runs twice. */
  def volumeBarsFold(openBars: DataFrame, carry: DataFrame,
                     batch: DataFrame, cfg: Cfg)
      : (DataFrame, DataFrame, DataFrame) = {
    val K = cfg.keys
    val ticks = guardedTicks(batch, carry, cfg)
    val w = Window.partitionBy(K.map(col): _*).orderBy(col("ts_us"), col("_tb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = ticks
      .withColumn("_cumb",
        coalesce(sum(col("_cents")).over(w), lit(0L)) + coalesce(col("_base"), lit(0L)))
      .withColumn("bar_id",
        expr(s"(_cumb - pmod(_cumb, ${cfg.thrFp}L)) div ${cfg.thrFp}L"))
      .localCheckpoint(false)
    val ord = struct(col("ts_us"), col("_tb"))
    val partials = withCum.groupBy((K :+ "bar_id").map(col): _*)
      .agg(min_by(col("price"), ord).as("open"),
        max(col("price")).as("high"), min(col("price")).as("low"),
        max_by(col("price"), ord).as("close"),
        sum(col("_vol").cast(DecimalType(18, 2))).cast("double").as("volume"),
        count(lit(1)).as("n_ticks"),
        min(ord).as("_o"), max(ord).as("_c"))
      .select((K :+ "bar_id").map(col) ++ Seq(
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_ticks"),
        col("_o").getField("ts_us").as("open_ts_us"),
        col("_c").getField("ts_us").as("close_ts_us"),
        col("_o").getField("_tb").as("open_tb"),
        col("_c").getField("_tb").as("close_tb")): _*)
    // combine partial aggregates of the same bar: open/close elect by
    // their FULL endpoint order (ts_us, tiebreak) — the contract allows
    // a batch tick at the stored watermark's exact ts_us with a higher
    // tiebreak, and a timestamp-only election would be nondeterministic
    // on that tie; volume re-sums through DECIMAL so the double stays
    // the exact 2-dp value
    val oOrd = struct(col("open_ts_us"), col("open_tb"))
    val cOrd = struct(col("close_ts_us"), col("close_tb"))
    val merged = openBars.unionByName(partials)
      .groupBy((K :+ "bar_id").map(col): _*)
      .agg(min_by(col("open"), oOrd).as("open"),
        max(col("high")).as("high"), min(col("low")).as("low"),
        max_by(col("close"), cOrd).as("close"),
        sum(col("volume").cast(DecimalType(18, 2))).cast("double").as("volume"),
        sum(col("n_ticks")).as("n_ticks"),
        min(oOrd).as("_o"), max(cOrd).as("_c"))
      .select((K :+ "bar_id").map(col) ++ Seq(
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_ticks"),
        col("_o").getField("open_ts_us").as("open_ts_us"),
        col("_c").getField("close_ts_us").as("close_ts_us"),
        col("_o").getField("open_tb").as("open_tb"),
        col("_c").getField("close_tb").as("close_tb")): _*)
    val bAgg = withCum.groupBy(K.map(col): _*)
      .agg(sum(col("_cents")).as("_add"),
        max(struct(col("ts_us"), col("_tb"))).as("_w"))
    val carry2 = DriverLoop.localize(carry.join(bAgg, K, "full")
      .select(K.map(col) ++ Seq(
        (coalesce(col("cum_cents"), lit(0L)) + coalesce(col("_add"), lit(0L)))
          .as("cum_cents"),
        coalesce(col("_w").getField("ts_us"), col("w_ts_us")).as("w_ts_us"),
        coalesce(col("_w").getField("_tb"), col("w_tb")).as("w_tb")): _*), "volumeBarsFold")
    // with non-negative volumes the cumulative is monotone: the series'
    // open bar is exactly floor(cum_total / thr); every merged bar below
    // it is closed forever and leaves the fold
    val frontier = carry2.select(K.map(col) :+
      expr(s"(cum_cents - pmod(cum_cents, ${cfg.thrFp}L)) div ${cfg.thrFp}L")
        .as("_open_bar"): _*)
    val tagged = merged.join(frontier, K).localCheckpoint(false)
    (tagged.where(col("bar_id") < col("_open_bar")).drop("_open_bar"),
      tagged.where(col("bar_id") >= col("_open_bar")).drop("_open_bar"),
      carry2)
  }

  /** Fold a tick batch into the entry frontier. `carryAfter` is the
    * POST-fold carry (its watermark decides horizon expiry). Every
    * batch tick becomes a new entry; open entries of the batch's series
    * scan the batch's ticks for barrier touches (first touch wins —
    * stored touches are by construction earlier than anything new).
    * Returns `(newlyFinalEntries, openEntries')`: an entry is final
    * once BOTH barriers are resolved or the watermark passes its
    * horizon (both, so the late second-touch time matches the batch
    * operator's output column for column).
    *
    * Lazy throughout: the fold call schedules no job. Its ordering
    * guard is [[volumeBarsFold]]'s, which ran over the same batch to
    * produce `carryAfter`. */
  def tripleBarrierFold(openEntries: DataFrame, batch: DataFrame,
                        carryAfter: DataFrame, cfg: Cfg)
      : (DataFrame, DataFrame) = {
    val K = cfg.keys
    val ticks = batch.select(
      K.map(c => col(c).cast("string").as(c)) ++ Seq(
        unix_micros(col(cfg.tsCol).cast("timestamp")).as("ts_us"),
        col(cfg.priceCol).cast("double").as("price"),
        col(cfg.tiebreakCol).cast("long").as("_eid")): _*)
    val newEntries = ticks
      .withColumn("t_up_us", lit(null).cast("long"))
      .withColumn("t_dn_us", lit(null).cast("long"))
    // every open entry rides the band join: one of a series this batch
    // does not touch meets no tick and keeps its watermark, so it leaves
    // exactly as it came — no batch-key semi/anti join splits the frontier
    val eSide = openEntries.unionByName(newEntries).select(
      K.map(k => col(k).as(s"_e_$k")) ++ Seq(col("ts_us").as("_e_ts"),
        col("price").as("_e_p"), col("_eid").as("_e_id"),
        col("t_up_us"), col("t_dn_us")): _*)
    // horizon-bucketed band join (the [[Labeling.tripleBarrier]] shape):
    // the bucket id is an EQUI key, so the engine inspects only
    // same-key same-bucket pairs — ≤ 2·(H·tick-rate) per entry by
    // construction, never all same-key pairs
    val H = cfg.horizonUs
    val bTicks = ticks.withColumn("_bkt",
      expr(s"(ts_us - pmod(ts_us, ${H}L)) div ${H}L"))
    val probes = eSide
      .withColumn("_d", explode(array(lit(0L), lit(1L))))
      .withColumn("_e_bkt",
        expr(s"(_e_ts - pmod(_e_ts, ${H}L)) div ${H}L") + col("_d"))
      .drop("_d")
    val joinCond = (K.map(k => col(s"_e_$k") === col(k)) :+
      (col("_e_bkt") === col("_bkt"))).reduce(_ && _) &&
      col("ts_us") > col("_e_ts") &&
      col("ts_us") <= col("_e_ts") + lit(cfg.horizonUs)
    val up = col("price") >= col("_e_p") * lit(1.0 + cfg.upPct)
    val dn = col("price") <= col("_e_p") * lit(1.0 - cfg.dnPct)
    // the left join keeps untouched entries; one group per entry, whose
    // rows all carry the entry's own price and stored touches
    val touched = probes.join(bTicks, joinCond, "left")
      .groupBy((K.map(k => col(s"_e_$k")) :+ col("_e_ts") :+ col("_e_id")): _*)
      .agg(max(col("_e_p")).as("_e_p"), max(col("t_up_us")).as("t_up_us"),
        max(col("t_dn_us")).as("t_dn_us"),
        min(when(up, col("ts_us"))).as("_nu"), min(when(dn, col("ts_us"))).as("_nd"))
      .select(K.map(k => col(s"_e_$k").as(k)) ++ Seq(
        col("_e_ts").as("ts_us"), col("_e_p").as("price"),
        col("_e_id").as("_eid"),
        coalesce(col("t_up_us"), col("_nu")).as("t_up_us"),
        coalesce(col("t_dn_us"), col("_nd")).as("t_dn_us")): _*)
    val merged = touched
      .join(carryAfter.select(K.map(col) :+ col("w_ts_us"): _*), K, "left")
      .withColumn("_final",
        (col("t_up_us").isNotNull && col("t_dn_us").isNotNull) ||
          coalesce(col("w_ts_us"), lit(Long.MinValue)) > col("ts_us") + cfg.horizonUs)
      .drop("w_ts_us")
    (merged.where(col("_final")).drop("_final"),
      merged.where(!col("_final")).drop("_final"))
  }

  /** The [[Labeling.tripleBarrier]]-equivalent projection of an entry
    * frame — identical columns, identical label rule (open entries read
    * as time-barrier 0, exactly like the batch operator at end of
    * data). */
  def labels(entries: DataFrame, cfg: Cfg): DataFrame =
    entries.select(
      cfg.keys.map(col) ++ Seq(col("ts_us"), col("price"),
        col("t_up_us"), col("t_dn_us"),
        when(col("t_up_us").isNotNull &&
            (col("t_dn_us").isNull || col("t_up_us") <= col("t_dn_us")), lit(1L))
          .when(col("t_dn_us").isNotNull, lit(-1L))
          .otherwise(lit(0L)).as("label")): _*)

  // ------------------------------------------------------------------
  // Persistent foreachBatch wiring: small versioned frontier state +
  // append-only closed-bar/final-label logs, both governed by the
  // state dir's [[graft.store.CommitLog]] (a replayed batch id is a
  // no-op, a torn write without its marker is invisible to readers).
  // ------------------------------------------------------------------

  // A log is one multi-path `CommitLog.scan`, never a per-batch union: a
  // long stream's thousand-way union plan would dwarf the data.

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** All bars so far: the closed log plus the open frontier —
    * column-identical to [[Resample.volumeBars]] over the history
    * (timestamps as epoch-µs). */
  def barsView(spark: SparkSession, stateDir: String, cfg: Cfg): DataFrame = {
    val log = CommitLog(spark, stateDir)
    val done = log.read().versions
    log.scan("bars", emptyBars(spark, cfg), done.map(_.toString))
      .unionByName(log.state(done.lastOption, "open_bars", emptyBars(spark, cfg)))
      .drop("open_tb", "close_tb") // internal election state, not a bar column
  }

  /** All labels so far: finalized log plus the open entries projected
    * through the label rule — column-identical to
    * [[Labeling.tripleBarrier]] over the history. */
  def labelsView(spark: SparkSession, stateDir: String, cfg: Cfg): DataFrame =
    labelsView(spark, stateDir, cfg, CommitLog(spark, stateDir).read().versions)

  private def labelsView(spark: SparkSession, stateDir: String, cfg: Cfg,
                         done: Seq[Long]): DataFrame = {
    val (log, empty) = (CommitLog(spark, stateDir), emptyEntries(spark, cfg))
    labels(log.scan("labels", empty, done.map(_.toString))
      .unionByName(log.state(done.lastOption, "open_entries", empty)), cfg)
  }

  /** The foreachBatch body: fold `batch` into the state at `stateDir`
    * under batch id `batchId` (replay-idempotent), appending newly
    * closed bars / final entries to their logs and persisting the small
    * open frontier. Superseded frontier versions older than the
    * previous one are dropped (two survivors: crash-safe rollback);
    * the logs only ever grow. Returns the post-fold label view.
    *
    * Book SNAPSHOTS are deliberately a SIBLING state machine
    * ([[bookSnapshotBatch]]), not a third log here: the L2 delta feed
    * `(side, price, amount)` and the trade feed `(price, volume)` are
    * distinct upstreams with independent watermarks — coupling them in
    * one commit cycle would stall snapshot finality on trade-batch
    * cadence (and vice versa). Same commit log, same frontier
    * discipline, separate stateDir. */
  def marketTickBatch(spark: SparkSession, stateDir: String, batchId: Long,
                      batch: DataFrame, cfg: Cfg): DataFrame =
    CommitLog(spark, stateDir).fold(batchId) { prev =>
      val (closed, open1, carry1) = volumeBarsFold(
        prev("open_bars", emptyBars(spark, cfg)),
        prev("carry", emptyCarry(spark, cfg)), batch, cfg)
      val (finals, entries1) = tripleBarrierFold(
        prev("open_entries", emptyEntries(spark, cfg)),
        batch, carry1, cfg)
      write(closed, s"$stateDir/bars/batch=$batchId")
      write(finals, s"$stateDir/labels/batch=$batchId")
      write(open1, s"$stateDir/v=$batchId/open_bars")
      write(carry1, s"$stateDir/v=$batchId/carry")
      write(entries1, s"$stateDir/v=$batchId/open_entries")
    }(labelsView(spark, stateDir, cfg, _))

  // ------------------------------------------------------------------
  // Order-book snapshot fold: the chunked/streaming replacement for the
  // one-shot [[graft.features.OrderbookFeatures.bookSnapshots]] probe.
  // The one-shot probe frame is (levels EVER quoted) × (every boundary
  // over the WHOLE span) — both dimensions grow linearly with the
  // covered range, so the probe itself is O(T²) per series at unbounded
  // ranges (a year of deltas on a churning crypto book: 10⁴–10⁵ levels
  // ever touched × 10⁷ one-second boundaries). Here each fold probes
  // only (levels ACTIVE in the chunk) × (boundaries the chunk
  // finalizes): a level enters the probe only while it is standing
  // nonzero at chunk start (the BOOK frontier) or touched by the chunk
  // — per-chunk work is bounded by churn, not history.
  // ------------------------------------------------------------------

  /** Knobs of the book-snapshot fold. `tiebreakCol` must make
    * (tsCol, tiebreakCol) a total order per LEVEL (same-µs updates to
    * one level collapse last-write-wins by it, the one-shot contract). */
  final case class BookCfg(keys: Seq[String], tsCol: String, sideCol: String,
                           priceCol: String, amountCol: String,
                           tiebreakCol: String, stepUs: Long, nLevels: Int) {
    require(keys.nonEmpty, "book snapshots need the series key(s)")
    require(stepUs > 0L, s"stepUs must be positive, got $stepUs")
    require(nLevels >= 1, s"nLevels must be >= 1, got $nLevels")
  }

  /** Standing-book frontier: one row per (series, side, price) level
    * with nonzero resting amount, carrying its last update's full
    * (ts_us, tiebreak) so a later batch extending the book at the
    * watermark's exact µs still resolves last-write-wins
    * deterministically. */
  def emptyBook(spark: SparkSession, cfg: BookCfg): DataFrame =
    keyed(spark, cfg.keys, "side string, price double, amount double, ts_us long, _tb long")

  /** Per-series cursor: `k_emitted` (last FINAL grid boundary index)
    * plus the (ts, tiebreak) watermark. */
  def emptyBookCursor(spark: SparkSession, cfg: BookCfg): DataFrame =
    keyed(spark, cfg.keys, "k_emitted long, w_ts_us long, w_tb long")

  def emptySnapshots(spark: SparkSession, cfg: BookCfg): DataFrame =
    keyed(spark, cfg.keys,
      "snap_ts_us long, side string, level long, price double, amount double")

  /** Fold one delta batch into the standing book. Returns
    * `(finalSnapshots, book', cursor')`.
    *
    * FINALITY: a grid boundary `k` is emitted (and never re-emitted)
    * once `k·stepUs < watermark` STRICTLY — the ordering contract
    * admits a later delta at the watermark's exact µs (higher
    * tiebreak), which would retroactively change a snapshot AT the
    * watermark; boundaries at-or-after the watermark stay provisional
    * and are served from the frontier by [[provisionalSnapshots]].
    * [[graft.features.OrderbookFeatures.bookSnapshotsChunked]] pins
    * finals ∪ provisionals ≡ the one-shot operator column for column.
    *
    * Shape per fold (r14): the as-of right side is (frontier ∪ batch
    * deltas) deduped last-write-wins per (level, µs) in ONE window +
    * aggregate pass — frontier rows keep their TRUE last-update ts, so
    * one [[TemporalJoins.asofJoin]] prices O(probe + deltas) per level
    * exactly like the one-shot; the probe is (frontier ∪ batch levels)
    * × newly-final boundaries only. Every heavy stage reuses the one
    * guard-window exchange (the dedup agg, the frontier rebuild, the
    * active-level distinct are all (series, side, price)-clustered).
    * The series-sized cursor rides as driver rows ([[DriverLoop]]):
    * the fold's single action is the
    * cursor-image collect, which also materializes the lazily
    * checkpointed dedup frame; the frontier checkpoint stays lazy and
    * materializes inside the NEXT fold (or the final action), so a
    * chunk loop pays one action per fold where r13 paid three. Guards
    * mirror [[guardedTicks]]: a delta at-or-before the stored
    * watermark raises (same-µs HIGHER-tiebreak is legal), a duplicate
    * (level, ts, tiebreak) triple within the batch raises, a negative
    * resting amount raises — the watermark guard fires on batch rows
    * only, and the frontier rows riding the same window can never trip
    * the duplicate check (a frontier row is at-or-before the
    * watermark, a batch row strictly after, so their (ts, tiebreak)
    * pairs are never equal). */
  def bookSnapshotFold(book: DataFrame, cursor: DataFrame, batch: DataFrame,
                       cfg: BookCfg): (DataFrame, DataFrame, DataFrame) = {
    val (probe, rightAll, book2, cursor2) =
      bookSnapshotFoldParts(book, cursor, batch, cfg)
    (snapshotsFromProbe(probe, rightAll.drop("_tb", "_b"), cfg), book2, cursor2)
  }

  /** The fold minus the final snapshot assembly — returns
    * `(probe, rightAsOf, book', cursor')` where `probe` is the
    * (active levels × newly-final boundaries) frame and `rightAsOf` the
    * (level, µs)-deduped frontier ∪ batch frame (with `_tb`/`_b` still
    * attached). [[graft.features.OrderbookFeatures.bookSnapshotsChunked]]
    * consumes THESE and assembles ONE global as-of + rank over all
    * chunks (r14): chunk boundaries partition `snap_ts_us`, so the
    * global window ≡ the per-chunk windows — see the equivalence note
    * on [[snapshotsFromProbe]]. [[bookSnapshotFold]] wraps this with
    * the per-batch assembly (the streaming twin's shape). */
  private[graft] def bookSnapshotFoldParts(
      book: DataFrame, cursor: DataFrame, batch: DataFrame,
      cfg: BookCfg): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val K = cfg.keys
    val S = cfg.stepUs
    val lvl = K ++ Seq("side", "price")
    val spark = book.sparkSession
    val curSchema = emptyBookCursor(spark, cfg).schema
    val cursorLocal = DriverLoop.localize(
      cursor.select(curSchema.fieldNames.map(col).toSeq: _*), "bookSnapshotFold")
    val raw = batch.select(
      K.map(c => col(c).cast("string").as(c)) ++ Seq(
        col(cfg.sideCol).cast("string").as("side"),
        col(cfg.priceCol).cast("double").as("price"),
        col(cfg.amountCol).cast("double").as("amount"),
        unix_micros(col(cfg.tsCol).cast("timestamp")).as("ts_us"),
        col(cfg.tiebreakCol).cast("long").as("_tb")): _*)
    // frontier ∪ batch, tagged: the guard window and the (level, µs)
    // last-write-wins dedup run over the union in one exchange. The
    // ordering guards live inside ts_us (a grouping key of every
    // downstream agg — pruning cannot skip them); the amount guard
    // inside amount (every output evaluates it; frontier amounts are
    // positive by construction and can never trip it)
    val nL = lit(null).cast("long")
    val unioned = book
      .select((lvl ++ Seq("amount", "ts_us", "_tb")).map(col) ++ Seq(
        lit(false).as("_b"), nL.as("w_ts_us"), nL.as("w_tb")): _*)
      .unionByName(raw
        .join(broadcast(cursorLocal.drop("k_emitted")), K, "left")
        .select((lvl ++ Seq("amount", "ts_us", "_tb", "w_ts_us", "w_tb"))
          .map(col) :+ lit(true).as("_b"): _*))
    val wOrd = Window.partitionBy(lvl.map(col): _*)
      .orderBy(col("ts_us"), col("_tb"))
    val guarded = unioned
      .withColumn("_dup",
        lag(struct(col("ts_us"), col("_tb")), 1).over(wOrd) ===
          struct(col("ts_us"), col("_tb")))
      .withColumn("ts_us",
        when(col("_b") && col("w_ts_us").isNotNull &&
            (col("ts_us") < col("w_ts_us") ||
              (col("ts_us") === col("w_ts_us") && col("_tb") <= col("w_tb"))),
          raise_error(concat(lit("bookSnapshot ordering contract violated: delta at "),
            col("ts_us").cast("string"), lit("us is not after the stored watermark "),
            col("w_ts_us").cast("string"),
            lit("us — batches must be per-series time-ordered"))))
        .when(coalesce(col("_dup"), lit(false)),
          raise_error(concat(lit("bookSnapshot ordering contract violated: duplicate "),
            lit("(side, price, ts_us, tiebreak) within one batch at "),
            col("ts_us").cast("string"),
            lit("us — the tiebreak must total-order each level"))))
        .otherwise(col("ts_us")))
      .withColumn("amount",
        when(col("amount") < 0.0,
          raise_error(lit("bookSnapshot amount contract violated: negative " +
            "resting amount — correct upstream")))
          .otherwise(col("amount")))
    // the as-of right side: last write wins per (level, µs) across
    // frontier ∪ batch in ONE aggregate (a batch may legally extend a
    // level at the frontier row's exact µs with a higher tiebreak; the
    // ordering contract makes the batch row's tiebreak strictly larger,
    // so the batch row always wins and `_b` marks exactly the groups
    // the r13 batch-only dedup would have produced — max(ts,tb)/min(ts)
    // over the `_b` groups equal the old batch-only aggregates).
    // Reuses the guard window's hash(level) exchange; the checkpoint is
    // LAZY — the cursor collect below materializes it in its own job.
    val rightAll = guarded
      .groupBy((lvl :+ "ts_us").map(col): _*)
      .agg(max_by(col("amount"), col("_tb")).as("amount"),
        max(col("_tb")).as("_tb"), max(col("_b")).as("_b"))
      .localCheckpoint(false)
    // cursor advance: watermark from the batch max, boundary cursor to
    // the last STRICTLY-covered boundary ⌊(w−1)/S⌋; a first-seen series
    // initializes at ⌊lo/S⌋ (the one-shot grid starts at ⌊lo/S⌋+1).
    // Spelled as ONE groupBy over (stored cursor rows ∪ the deduped
    // batch rows): per series the cursor columns are non-null on the
    // single cursor row only (first ignoreNulls), and max/min over the
    // batch rows' (ts, tiebreak) structs are the r13 bAgg aggregates —
    // ≡ the r13 bAgg + full-outer join, in one exchange instead of
    // two, every value computed by Spark expressions. The series-sized
    // result is the fold's ONE collected action and re-injects as the
    // next fold's LocalRelation.
    val cur = cursorLocal
      .select(K.map(col) ++ Seq(col("k_emitted"), col("w_ts_us"),
        col("w_tb"), lit(null).cast("struct<ts_us: bigint, _tb: bigint>").as("_bts"),
        nL.as("_bts_lo")): _*)
      .unionByName(rightAll.where(col("_b"))
        .select(K.map(col) ++ Seq(nL.as("k_emitted"),
          nL.as("w_ts_us"), nL.as("w_tb"),
          struct(col("ts_us"), col("_tb")).as("_bts"),
          col("ts_us").as("_bts_lo")): _*))
      .groupBy(K.map(col): _*)
      .agg(first(col("k_emitted"), ignoreNulls = true).as("k_emitted"),
        first(col("w_ts_us"), ignoreNulls = true).as("w_ts_us"),
        first(col("w_tb"), ignoreNulls = true).as("w_tb"),
        max(col("_bts")).as("_w"),
        min(col("_bts_lo")).as("_lo"))
      .withColumn("_w2", coalesce(col("_w").getField("ts_us"), col("w_ts_us")))
      .withColumn("_tb2", coalesce(col("_w").getField("_tb"), col("w_tb")))
      .withColumn("_kbase", coalesce(col("k_emitted"),
        expr(s"(_lo - pmod(_lo, ${S}L)) div ${S}L")))
      .withColumn("_knew", greatest(col("_kbase"),
        expr(s"((_w2 - 1) - pmod(_w2 - 1, ${S}L)) div ${S}L")))
    val curFull = DriverLoop.localize(cur.select(K.map(col) ++ Seq(
      col("_knew").as("k_emitted"), col("_w2").as("w_ts_us"),
      col("_tb2").as("w_tb"), col("_kbase").as("_k_prev")): _*), "bookSnapshotFold")
    val cursor2 = curFull.drop("_k_prev")
    // newly-final boundaries: (kbase, knew] — explode(null) when none
    // (NEVER sequence(a, b) with a > b: it DESCENDS). The sequence
    // still evaluates in Spark, over the collected cursor image's
    // LocalRelation — tiny, broadcastable, exchange-free.
    val grid = curFull.select(K.map(col) :+
      explode(when(col("k_emitted") >= col("_k_prev") + 1,
        sequence(col("_k_prev") + 1, col("k_emitted")))).as("_k"): _*)
      .withColumn("snap_ts_us", col("_k") * lit(S)).drop("_k")
    // active levels only: standing nonzero at chunk start ∪ touched now
    // ≡ every level in rightAll — reuses the checkpoint's hash(level)
    // partitioning, so the distinct is exchange-free
    val lvls = rightAll.select(lvl.map(col): _*).distinct()
    val probe = lvls.join(broadcast(grid), K)
    // new frontier: last update per level across frontier ∪ batch,
    // dead (zero-amount) levels leave the fold. Reuses the checkpoint's
    // clustering (no exchange); LAZY — materializes inside the next
    // fold's action (or the final one), from the cached rightAll rows.
    val book2 = rightAll.groupBy(lvl.map(col): _*)
      .agg(max_by(struct(col("amount"), col("ts_us"), col("_tb")),
        struct(col("ts_us"), col("_tb"))).as("_last"))
      .select(K.map(col) ++ Seq(col("side"), col("price"),
        col("_last").getField("amount").as("amount"),
        col("_last").getField("ts_us").as("ts_us"),
        col("_last").getField("_tb").as("_tb")): _*)
      .where(col("amount") > 0.0)
      .localCheckpoint(false)
    (probe, rightAll, book2, cursor2)
  }

  /** Snapshot assembly: one as-of join of `probe` (levels × boundaries)
    * against `right` (the last-write-wins (level, µs) book states, one
    * row per (level, ts_us)) + one per-(series, boundary, side) rank,
    * top-`nLevels` nonzero levels kept. Shared by the per-batch fold
    * and the chunked assembler's GLOBAL pass (r14).
    *
    * Global ≡ per-chunk equivalence (why the chunked assembler may call
    * this ONCE over unioned probes/rights): (1) chunk boundaries
    * partition `snap_ts_us` — every rank partition's rows come from one
    * chunk, so one global rank window ≡ the per-chunk ones; (2) for a
    * chunk-j probe at boundary s, every LATER chunk's delta has
    * ts > watermark_j > s (ordering contract) and can never match
    * backward; (3) EARLIER chunks' rows at ts ≤ s are either the
    * level's last state — exactly the frontier row rightAll_j carried —
    * or outranked by it (as-of takes max ts), or a dead level's
    * 0-amount row, which matches where the per-chunk join matched
    * nothing and is removed by the same `amount > 0` filter the null
    * match hits. The caller must pre-dedup `right` per (level, ts_us)
    * across chunks (max-tiebreak wins — the same-µs-at-watermark
    * override a later batch may legally apply). */
  private[graft] def snapshotsFromProbe(probe: DataFrame, right: DataFrame,
                                        cfg: BookCfg): DataFrame = {
    val K = cfg.keys
    val lvl = K ++ Seq("side", "price")
    val joined = TemporalJoins.asofJoin(
      probe, right, lvl, "snap_ts_us", "ts_us", Seq("amount"))
    val rankW = Window
      .partitionBy((K :+ "snap_ts_us" :+ "side").map(col): _*)
      .orderBy(when(col("side") === "bid", -col("price")).otherwise(col("price")))
    joined
      .where(col("amount").isNotNull && col("amount") > 0.0)
      .withColumn("level", row_number().over(rankW).cast("long"))
      .where(col("level") <= cfg.nLevels)
      .select(K.map(col) ++ Seq(col("snap_ts_us"), col("side"),
        col("level"), col("price"), col("amount")): _*)
  }

  /** The provisional tail: snapshots at the 1–2 grid boundaries not yet
    * final (from `k_emitted+1` through the boundary COVERING the
    * watermark, `⌊w/S⌋+1` — the one-shot grid's last point). No deltas
    * exist past the watermark, so each is exactly the standing frontier
    * ranked top-N — no join, no window over history. */
  def provisionalSnapshots(book: DataFrame, cursor: DataFrame,
                           cfg: BookCfg): DataFrame = {
    val K = cfg.keys
    val S = cfg.stepUs
    val ks = cursor.select(K.map(col) :+
      explode(sequence(col("k_emitted") + 1,
        expr(s"(w_ts_us - pmod(w_ts_us, ${S}L)) div ${S}L") + 1)).as("_k"): _*)
      .withColumn("snap_ts_us", col("_k") * lit(S)).drop("_k")
    val rankW = Window.partitionBy((K :+ "side").map(col): _*)
      .orderBy(when(col("side") === "bid", -col("price")).otherwise(col("price")))
    book.withColumn("level", row_number().over(rankW).cast("long"))
      .where(col("level") <= cfg.nLevels)
      .join(ks, K)
      .select(K.map(col) ++ Seq(col("snap_ts_us"), col("side"),
        col("level"), col("price"), col("amount")): _*)
  }

  /** All snapshots so far: the final log plus the provisional tail —
    * column-identical to the one-shot
    * [[graft.features.OrderbookFeatures.bookSnapshots]] over the full
    * delta history. */
  def snapshotsView(spark: SparkSession, stateDir: String, cfg: BookCfg): DataFrame =
    snapshotsView(spark, stateDir, cfg, CommitLog(spark, stateDir).read().versions)

  private def snapshotsView(spark: SparkSession, stateDir: String, cfg: BookCfg,
                            done: Seq[Long]): DataFrame = {
    val log = CommitLog(spark, stateDir)
    log.scan("snapshots", emptySnapshots(spark, cfg), done.map(_.toString))
      .unionByName(provisionalSnapshots(
        log.state(done.lastOption, "book", emptyBook(spark, cfg)),
        log.state(done.lastOption, "cursor", emptyBookCursor(spark, cfg)), cfg))
  }

  /** The foreachBatch body for a streamed L2 delta feed: fold `batch`
    * into the book state at `stateDir` under `batchId`
    * (replay-idempotent via the commit log), append newly-final
    * snapshots to the log, persist the small frontier. Same lifecycle as
    * [[marketTickBatch]]: two frontier versions survive for rollback,
    * the log only grows. Returns the post-fold snapshot view. */
  def bookSnapshotBatch(spark: SparkSession, stateDir: String, batchId: Long,
                        batch: DataFrame, cfg: BookCfg): DataFrame =
    CommitLog(spark, stateDir).fold(batchId) { prev =>
      val (snaps, book1, cursor1) = bookSnapshotFold(
        prev("book", emptyBook(spark, cfg)),
        prev("cursor", emptyBookCursor(spark, cfg)), batch, cfg)
      write(snaps, s"$stateDir/snapshots/batch=$batchId")
      write(book1, s"$stateDir/v=$batchId/book")
      write(cursor1, s"$stateDir/v=$batchId/cursor")
    }(snapshotsView(spark, stateDir, cfg, _))

  // ------------------------------------------------------------------
  // Market-feature fold: the chunked/streaming replacement for the
  // one-shot [[graft.features.MarketFeatures.build]] window chain. The
  // one-shot chain sorts each series' WHOLE history inside one
  // partition (the documented long-history hazard), so per-series
  // history is bounded by partition memory. Here each fold processes
  // only the batch plus an O(1)-per-series carry:
  //  - the EWM recurrences (ema_12/ema_26/macd_signal_9) are linear
  //    with one double of state each — the reference's own protocol
  //    (`adi/app/features/streaming/stateful_processor.py:24-41`);
  //  - the trailing-frame stats (rvol_5/rvol_20 need the last 19
  //    logrets, rsi_14 the last 13 deltas) carry exactly those rows;
  //  - OBV carries its running sum, diff/pct/logret the last close.
  //
  // MECHANISM — ghost rows: the carry materializes as up to 19
  // synthetic rows per series, prepended IN ROW POSITION before the
  // batch under the same series window. Ghost row i supplies the i-th
  // carried logret/delta to the trailing frames (so the `count >= n`
  // warm-up guards see the true history row count); the LAST ghost row
  // additionally carries the previous close (so lag/diff/pct/logret at
  // the first batch row read it naturally) and seeds each EWM chain
  // (a null-input EWM row leaves state untouched, and the first
  // non-null input BECOMES the state — feeding the carried state as
  // that input resumes the recurrence exactly). The batch rows then
  // evaluate the UNMODIFIED window functions (`windows.ewmMean`,
  // `rollingStd`, `rsiSmaFromDelta`, `cumSum`) — fold output is
  // bit-identical to the one-shot chain, not approximately equal.
  //
  // Every stage keys on the series: one window pass computes all 11
  // features, one row_number + groupBy (same clustering) rebuilds the
  // ≤19-row carry. Per-fold work is O(batch + 19·series), never
  // O(history).
  // ------------------------------------------------------------------

  /** Knobs of the market-feature fold. Batches must carry
    * `keys ++ (tsCol, open, high, low, close, volume)`; `tsCol` must be
    * STRICTLY increasing per series (the one-shot chain orders by the
    * timestamp alone, so a duplicate would already be order-
    * nondeterministic there — here it raises). */
  final case class FeatCfg(keys: Seq[String], tsCol: String,
                           featureVersion: String = "market.v1") {
    require(keys.nonEmpty, "market feature state needs series keys")
  }

  /** The 11 v1 feature columns, in [[graft.features.MarketFeatures]]
    * order (kept locally so operators ← features stays one-directional). */
  val FeatureCols: Seq[String] = Seq(
    "ret_1", "logret_1", "rvol_5", "rvol_20", "ema_12", "ema_26",
    "macd", "macd_signal_9", "rsi_14", "hl_spread", "oi_obv")

  /** Per-series carry: watermark, last close, the three EWM states, the
    * OBV running sum, and the last ≤19 logrets / ≤13 deltas (oldest
    * first, NULL ELEMENTS PRESERVED — the trailing frames are
    * rows-based and the warm-up guards count non-nulls, so a null
    * history row must still occupy its frame position). */
  def emptyFeatCarry(spark: SparkSession, cfg: FeatCfg): DataFrame =
    keyed(spark, cfg.keys, "w_ts_us long, prev_close double, ema_12 double, " +
      "ema_26 double, sig_9 double, obv double, logrets array<double>, deltas array<double>")

  def emptyFeatures(spark: SparkSession, cfg: FeatCfg): DataFrame =
    keyed(spark, cfg.keys, "timestamp timestamp, dt string, feature_version string, " +
      FeatureCols.map(c => s"$c double").mkString(", "))

  /** Fold one OHLCV batch into the feature state. Returns
    * `(features, carry')` — features for the batch rows are FINAL at
    * emit (nothing later can change a trailing/recurrent value at an
    * earlier row), so there is no provisional tail.
    *
    * `dropnaFinal` mirrors [[graft.features.MarketFeatures.build]]'s
    * final mask (row-local, so applying it per fold ≡ applying it at
    * the end). Guards mirror [[guardedTicks]]: a bar at-or-before the
    * stored watermark raises, a duplicate timestamp within one batch
    * raises. The window frame, which the features and the carry
    * rebuild share, is checkpointed lazily; the series-sized carry
    * rides as driver rows ([[DriverLoop]]), and the new carry's
    * collect is the fold's one action — it materializes the window
    * frame, so the caller's feature write reads that frame's blocks. */
  def marketFeaturesFold(carry: DataFrame, batch: DataFrame, cfg: FeatCfg,
                         dropnaFinal: Boolean = true)
      : (DataFrame, DataFrame) = {
    import graft.functions.{windows => W, TaIndicators => TA}
    val spark = carry.sparkSession
    val K = cfg.keys
    // r14: the carry rides the fold as DRIVER ROWS ([[DriverLoop]]). It
    // is series-sized by contract — ONE row with ≤19 logrets / ≤13
    // deltas per series, never history-sized — and the chunk loop threads back the
    // LocalRelation this fold returns, so the collect below is jobless
    // there (LocalTableScan short-circuits); the streaming path's
    // parquet carry is one small scan. A LocalRelation carry broadcasts
    // into the guard join with known-tiny stats (no checkpoint job, no
    // stats gamble) and lets the next fold's key filters run as driver
    // row plumbing.
    val carrySchema = emptyFeatCarry(spark, cfg).schema
    val carryRows = DriverLoop.collect(
      carry.select(carrySchema.fieldNames.map(col).toSeq: _*), "marketFeaturesFold")
    val carryLocal = DriverLoop.frame(spark, carryRows.toSeq, carrySchema)
      .select(K.map(col) ++ Seq(col("w_ts_us"),
        col("prev_close").as("_c_prev"),
        col("ema_12").as("_c_s12"), col("ema_26").as("_c_s26"),
        col("sig_9").as("_c_ssig"), col("obv").as("_c_sobv"),
        col("logrets").as("_c_lr"), col("deltas").as("_c_dl")): _*)
    val raw = batch.select(
      K.map(c => col(c).cast("string").as(c)) ++ Seq(
        col(cfg.tsCol).cast("timestamp").as("timestamp"),
        unix_micros(col(cfg.tsCol).cast("timestamp")).as("ts_us"),
        col("open").cast("double").as("open"),
        col("high").cast("double").as("high"),
        col("low").cast("double").as("low"),
        col("close").cast("double").as("close"),
        col("volume").cast("double").as("volume")): _*)
    // ordering guards inside ts_us (a window order key — never pruned);
    // one window pass carries the dup check AND the first-row marker
    // the ghost explode hangs off
    val wOrd = Window.partitionBy(K.map(col): _*).orderBy(col("ts_us"))
    val guarded = raw
      .join(broadcast(carryLocal), K, "left")
      .withColumn("_dup", lag(col("ts_us"), 1).over(wOrd) === col("ts_us"))
      .withColumn("_rn1", row_number().over(wOrd) === 1)
      .withColumn("ts_us",
        when(col("w_ts_us").isNotNull && col("ts_us") <= col("w_ts_us"),
          raise_error(concat(lit("marketFeatures ordering contract violated: bar at "),
            col("ts_us").cast("string"), lit("us is not after the stored watermark "),
            col("w_ts_us").cast("string"),
            lit("us — batches must be per-series time-ordered"))))
        .when(coalesce(col("_dup"), lit(false)),
          raise_error(concat(lit("marketFeatures ordering contract violated: duplicate "),
            lit("timestamp "), col("ts_us").cast("string"),
            lit("us within one batch — the series window orders by the timestamp alone"))))
        .otherwise(col("ts_us")))
    // ghost rows, generated IN PLACE (r14): one per carried logret,
    // positions −a..−1 before the batch; deltas align to the LAST d of
    // those positions; the final ghost row carries prev_close + the
    // EWM/OBV seeds — the same construction as the r13 union spelling,
    // element for element, but born by exploding a ghost-struct array
    // attached to each series' FIRST batch row. The r13 spelling
    // union'd a separate ghosts frame into the batch, which erased the
    // guard window's hash(K) clustering and forced the feature window
    // to re-exchange; exploding inside the partition keeps the whole
    // fold on ONE exchange. The transform lambda references outer
    // columns so it evaluates interpreted — bounded at ≤19 elements on
    // one row per series, not the hot path.
    val nD = lit(null).cast("double")
    val aC = coalesce(size(col("_c_lr")), lit(0))
    val dC = coalesce(size(col("_c_dl")), lit(0))
    val ghostArr = transform(sequence(lit(0), aC - 1), gi => struct(
      lit(0).as("_g"), gi.cast("int").as("_gi"),
      lit(null).cast("timestamp").as("timestamp"),
      lit(null).cast("long").as("ts_us"),
      nD.as("open"), nD.as("high"), nD.as("low"),
      when(gi === aC - 1, col("_c_prev")).as("close"),
      nD.as("volume"),
      element_at(col("_c_lr"), (gi + 1).cast("int")).as("_x_logret"),
      when(gi >= aC - dC,
        element_at(col("_c_dl"), (gi - (aC - dC) + 1).cast("int"))).as("_x_delta"),
      when(gi === aC - 1, col("_c_s12")).as("_s12"),
      when(gi === aC - 1, col("_c_s26")).as("_s26"),
      when(gi === aC - 1, col("_c_ssig")).as("_ssig"),
      when(gi === aC - 1, col("_c_sobv")).as("_sobv")))
    val realStruct = struct(
      lit(1).as("_g"), lit(0).as("_gi"),
      col("timestamp"), col("ts_us"),
      col("open"), col("high"), col("low"), col("close"), col("volume"),
      nD.as("_x_logret"), nD.as("_x_delta"),
      nD.as("_s12"), nD.as("_s26"), nD.as("_ssig"), nD.as("_sobv"))
    val base = guarded
      .select(K.map(col) :+ explode(
        when(col("_rn1") && aC > 0,
          concat(ghostArr, array(realStruct)))
          .otherwise(array(realStruct))).as("_r"): _*)
      .select(K.map(col) :+ col("_r.*"): _*)
    val w = Window.partitionBy(K.map(col): _*)
      .orderBy(col("_g"), col("_gi"), col("ts_us"))
    val isGhost = col("_g") === 0
    // pass 1: windows over input columns (the build() pass-1 siblings,
    // with the EWM inputs substituted so ghost rows seed the state).
    // r14: each withColumn re-analyzes the whole growing tree on the
    // driver, and the chunk loop builds this chain once per fold — the
    // columns are grouped into dependency layers and added with ONE
    // withColumns (= one analysis round) per layer, 3 rounds instead
    // of 14. Identical projections, same shared window sort.
    val p1 = base
      .withColumns(Map(
        "_ret1" -> W.pctChange(col("close"), 1, w),
        "_lr_raw" -> W.logReturn(col("close"), w),
        "_dl_raw" -> W.diff(col("close"), 1, w),
        "_ema12c" ->
          W.ewmMean(when(isGhost, col("_s12")).otherwise(col("close")), 2.0 / 13.0, w),
        "_ema26c" ->
          W.ewmMean(when(isGhost, col("_s26")).otherwise(col("close")), 2.0 / 27.0, w),
        "_hl" -> TA.hlSpread(col("high"), col("low"), col("close"))))
      .withColumns(Map(
        "_logret" -> when(isGhost, col("_x_logret")).otherwise(col("_lr_raw")),
        "_delta" -> when(isGhost, col("_x_delta")).otherwise(col("_dl_raw")),
        "_macd" -> (col("_ema12c") - col("_ema26c"))))
    // pass 2: windows over pass-1 outputs (consecutive Window operators
    // share one shuffle+sort, exactly as in build())
    val p2 = p1
      .withColumns(Map(
        "_rv5" -> W.rollingStd(col("_logret"), 5, w),
        "_rv20" -> W.rollingStd(col("_logret"), 20, w),
        "_sigc" ->
          W.ewmMean(when(isGhost, col("_ssig")).otherwise(col("_macd")), 2.0 / 10.0, w),
        "_rsi" -> TA.rsiSmaFromDelta(col("_delta"), 14, w),
        "_obvc" -> W.cumSum(
          when(isGhost, coalesce(col("_sobv"), lit(0.0)))
            .otherwise(signum(coalesce(col("_delta"), lit(0.0))) *
              coalesce(col("volume"), lit(0.0))), w)))
      // LAZY checkpoint (r14): the carry collect below is this fold's
      // unconditional first action over p2 and materializes the
      // checkpoint as part of its own job — one scheduled action per
      // fold instead of two, with the same truncated lineage for the
      // deferred feature branches (each action boundary costs a full
      // Catalyst plan+AQE round on the driver, the measured gap between
      // stage wall and query wall in the chunk loop)
      .localCheckpoint(false)
    val feat0 = p2.where(col("_g") === 1).select(
      K.map(col) ++ Seq(col("timestamp"),
        graft.time.TimeNorm.dt(col("timestamp")).as("dt"),
        lit(cfg.featureVersion).as("feature_version"),
        col("_ret1").as("ret_1"), col("_logret").as("logret_1"),
        col("_rv5").as("rvol_5"), col("_rv20").as("rvol_20"),
        col("_ema12c").as("ema_12"), col("_ema26c").as("ema_26"),
        col("_macd").as("macd"), col("_sigc").as("macd_signal_9"),
        col("_rsi").as("rsi_14"), col("_hl").as("hl_spread"),
        col("_obvc").as("oi_obv")): _*)
    val feat =
      if (dropnaFinal) feat0.filter(FeatureCols.map(col(_).isNotNull).reduce(_ || _))
      else feat0
    // carry rebuild: the last ≤19 rows per series (ghosts count — a
    // short batch keeps older carried rows in its window), bounded
    // BEFORE any collect_list so the agg never sees whole batches.
    // r14: runs over the CHECKPOINTED p2, whose LogicalRDD preserves
    // the feature window's hash(K) partitioning, so the row_number
    // window and the groupBy reuse it exchange-free; the series-sized
    // result is COLLECTED and re-injected as a LocalRelation instead of
    // scheduling a second eager checkpoint, and the r13 anti-join that
    // kept carried series absent from this batch becomes a driver
    // key-set filter over the already-collected rows (string-equality
    // plumbing — no value computed on the driver).
    val ordCol = when(isGhost, col("_gi").cast("long") - lit(1L << 62))
      .otherwise(col("ts_us"))
    val rnW = Window.partitionBy(K.map(col): _*).orderBy(ordCol.desc)
    val tail = p2.withColumn("_ord", ordCol)
      .withColumn("_rn", row_number().over(rnW))
      .where(col("_rn") <= 19)
    val carryNew = tail.groupBy(K.map(col): _*).agg(
      max_by(struct(col("ts_us"), col("close"), col("_ema12c"),
        col("_ema26c"), col("_sigc"), col("_obvc")), col("_ord")).as("_l"),
      sort_array(collect_list(struct(col("_ord"),
        struct(col("_logret").as("v")).as("s")))).as("_lr"),
      sort_array(collect_list(when(col("_rn") <= 13, struct(col("_ord"),
        struct(col("_delta").as("v")).as("s"))))).as("_dl"))
      .select(K.map(col) ++ Seq(
        col("_l").getField("ts_us").as("w_ts_us"),
        col("_l").getField("close").as("prev_close"),
        col("_l").getField("_ema12c").as("ema_12"),
        col("_l").getField("_ema26c").as("ema_26"),
        col("_l").getField("_sigc").as("sig_9"),
        col("_l").getField("_obvc").as("obv"),
        transform(col("_lr"), x => x.getField("s").getField("v")).as("logrets"),
        transform(col("_dl"), x => x.getField("s").getField("v")).as("deltas")): _*)
    // every series in this batch appears in carryNew (each contributes
    // ≥1 row to p2's tail), so carryNew's key set IS the batch key set
    val carry2 = nextCarry(spark, carrySchema, K, carryRows,
      DriverLoop.collect(carryNew, "marketFeaturesFold"))
    (feat, carry2)
  }

  /** All features so far — column-identical to
    * [[graft.features.MarketFeatures.build]] over the full history
    * (modulo the key/column order; every emitted row is final). */
  def featuresView(spark: SparkSession, stateDir: String, cfg: FeatCfg): DataFrame =
    CommitLog(spark, stateDir).scan("features", emptyFeatures(spark, cfg))

  /** The foreachBatch body for a streamed OHLCV feed: fold `batch` into
    * the feature state at `stateDir` under `batchId` (replay-idempotent
    * via the commit log), append the batch's final features to the log,
    * persist the ≤19-row-per-series carry. Same lifecycle as
    * [[marketTickBatch]]: two carry versions survive for rollback, the
    * log only grows. Returns the post-fold feature view. */
  def marketFeaturesBatch(spark: SparkSession, stateDir: String, batchId: Long,
                          batch: DataFrame, cfg: FeatCfg,
                          dropnaFinal: Boolean = true): DataFrame =
    CommitLog(spark, stateDir).fold(batchId) { prev =>
      val (feat, carry1) = marketFeaturesFold(
        prev("carry", emptyFeatCarry(spark, cfg)), batch, cfg, dropnaFinal)
      write(feat, s"$stateDir/features/batch=$batchId")
      write(carry1, s"$stateDir/v=$batchId/carry")
    }(done => CommitLog(spark, stateDir).scan("features", emptyFeatures(spark, cfg),
      done.map(_.toString)))

  // ------------------------------------------------------------------
  // Streaming bet sizing (AFML ch. 10 §10.4): the average-active-bet
  // fold. State per series is the open-bet frontier only — the exact
  // (Σsizeq, count) prefix at the last emitted instant plus the close
  // deltas of bets still active past it; consumed history leaves the
  // fold. Each batch's instants are FINAL at emit (every later bet
  // opens strictly after the series frontier, and closes only touch
  // instants at-or-after their own bet's entry), so the log is
  // append-only — the volumeBarsFold argument, applied to the
  // averageUniqueness delta sweep that [[graft.operators.Backtest
  // .betSizing]] runs in batch.
  // ------------------------------------------------------------------

  /** Bet-sizing fold knobs; `keys`/`stepSize` as in
    * [[graft.operators.Backtest.betSizing]]. */
  final case class BetCfg(keys: Seq[String], t0Col: String = "t0_us",
                          t1Col: String = "t1_us", probCol: String = "prob",
                          sideCol: String = "side", stepSize: Double = 0.1) {
    require(keys.nonEmpty, "bet sizing needs the series key(s)")
    require(stepSize > 0.0 && stepSize <= 1.0,
      s"stepSize must be in (0, 1], got $stepSize")
  }

  /** Per-series carry: `w_ts_us` = the last emitted instant (new bets
    * must enter strictly after it), the exact integer prefix
    * (`acc_ssz`, `acc_cnt`) at that frontier, and the still-pending
    * close deltas (`ts > w_ts_us`) as parallel arrays (ts-sorted). */
  def emptyBetCarry(spark: SparkSession, cfg: BetCfg): DataFrame =
    keyed(spark, cfg.keys, "w_ts_us long, acc_ssz long, acc_cnt long, " +
      "pend_ts array<long>, pend_dsz array<long>, pend_dn array<long>")

  def emptySizes(spark: SparkSession, cfg: BetCfg): DataFrame =
    keyed(spark, cfg.keys, "ts_us long, n_active long, avg_size double, bet_size double")

  /** Fold one batch of bets into the sizing state. Returns
    * `(sizes, carry')` — `sizes` rows are final at emit and
    * column-identical to [[graft.operators.Backtest.betSizing]] over
    * the concatenated history (the OpsSpec equivalence gate); the same
    * integer prefix sums, the same single-arg `round(Σsizeq/n)` mean
    * image, the same discretization tree.
    *
    * Ordering contract ([[guardedTicks]] convention): every bet's
    * `t0` must land strictly after its series' stored frontier —
    * violations raise rather than silently mis-average. Bets may close
    * arbitrarily far in the future; their close deltas wait in the
    * carry.
    *
    * Shape ([[marketFeaturesFold]]'s): the carry rides as driver rows
    * ([[DriverLoop]]), the event stream that sizes and carry share is
    * checkpointed lazily, and the new carry's collect is the fold's one
    * action — every bet's guarded `_t0` feeds the new frontier, so the
    * ordering guard raises inside the fold call. */
  def betSizingFold(carry: DataFrame, batch: DataFrame, cfg: BetCfg)
      : (DataFrame, DataFrame) = {
    import graft.operators.{Backtest => B}
    val K = cfg.keys
    val kCols = K.map(col)
    val spark = carry.sparkSession
    val carrySchema = emptyBetCarry(spark, cfg).schema
    val carryRows = DriverLoop.collect(
      carry.select(carrySchema.fieldNames.map(col).toSeq: _*), "betSizingFold")
    val carryLocal = DriverLoop.frame(spark, carryRows.toSeq, carrySchema)
    // no checkpoint: projections of the batch only, whose one carry
    // broadcast the event-stream plan below reuses across its branches
    val b0 = B.betDeltasPrepped(
        batch.select(K.map(c => col(c).cast("string").as(c)) ++ Seq(
          col(cfg.t0Col), col(cfg.t1Col), col(cfg.probCol), col(cfg.sideCol)): _*),
        K, cfg.t0Col, cfg.t1Col, cfg.probCol, cfg.sideCol)
      .join(broadcast(carryLocal.select(kCols :+ col("w_ts_us"): _*)), K, "left")
      .withColumn("_t0",
        when(col("w_ts_us").isNotNull && col("_t0") <= col("w_ts_us"),
          raise_error(concat(lit("betSizing ordering contract violated: bet enters at "),
            col("_t0").cast("string"), lit("us, not after the stored frontier "),
            col("w_ts_us").cast("string"), lit("us"))))
        .otherwise(col("_t0")))
      .drop("w_ts_us")
    // per-series new frontier = the batch's last entry instant
    val frontier = b0.groupBy(kCols: _*).agg(max(col("_t0")).as("_fr"))
    // event stream per series: the frontier prefix row (_f = −1, sorts
    // before everything new), pending + new deltas (_f = 0), and the
    // new evaluation instants (_f = 1) — exactly the batch sweep's
    // (ts, f) total order restricted to this fold's window. The inner
    // frontier join keeps the batch's series only.
    val accRow = carryLocal.select(kCols ++ Seq(
      coalesce(col("w_ts_us"), lit(Long.MinValue)).as("_ts"),
      lit(-1).as("_f"), col("acc_ssz").as("_dsz"), col("acc_cnt").as("_dn")): _*)
    val pendRows = carryLocal.select(kCols ++ Seq(
        arrays_zip(col("pend_ts"), col("pend_dsz"), col("pend_dn")).as("_z")): _*)
      .select(kCols :+ explode(col("_z")).as("_e"): _*)
      .select(kCols ++ Seq(col("_e.pend_ts").as("_ts"), lit(0).as("_f"),
        col("_e.pend_dsz").as("_dsz"), col("_e.pend_dn").as("_dn")): _*)
    val newDeltas = b0.select(kCols ++ Seq(col("_t0").as("_ts"), lit(0).as("_f"),
        col("_szq").as("_dsz"), lit(1L).as("_dn")): _*)
      .unionByName(b0.select(kCols ++ Seq((col("_t1") + 1L).as("_ts"),
        lit(0).as("_f"), (-col("_szq")).as("_dsz"), lit(-1L).as("_dn")): _*))
    val grid = b0.select(kCols :+ col("_t0").as("_ts"): _*).distinct()
      .select(kCols ++ Seq(col("_ts"), lit(1).as("_f"),
        lit(0L).as("_dsz"), lit(0L).as("_dn")): _*)
    val events = accRow.unionByName(pendRows).unionByName(newDeltas)
      .unionByName(grid)
      .join(frontier, K)
      .localCheckpoint(false)
    val consumed = col("_ts") <= col("_fr")
    // the SAME emission tree as the batch operator — one definition
    val sizes = B.betSweep(events.where(consumed), K, cfg.stepSize)
    // the batch's series' new carry in ONE aggregate over the deltas
    // (events' hash(K) clustering, no exchange): the exact prefix
    // through the new frontier, the deltas past it still pending
    val pend = sort_array(collect_list(
      when(!consumed, struct(col("_ts"), col("_dsz"), col("_dn")))))
    val carryNew = DriverLoop.collect(events.where(col("_f") <= 0)
      .groupBy(kCols: _*).agg(max(col("_fr")).as("w_ts_us"),
        sum(when(consumed, col("_dsz"))).as("acc_ssz"),
        sum(when(consumed, col("_dn"))).as("acc_cnt"), pend.as("_p"))
      .select(kCols ++ Seq(col("w_ts_us"), col("acc_ssz"), col("acc_cnt"),
        transform(col("_p"), x => x.getField("_ts")).as("pend_ts"),
        transform(col("_p"), x => x.getField("_dsz")).as("pend_dsz"),
        transform(col("_p"), x => x.getField("_dn")).as("pend_dn")): _*), "betSizingFold")
    val carry2 = nextCarry(spark, carrySchema, K, carryRows, carryNew)
    (sizes, carry2)
  }

  /** All bet-size rows so far — column-identical to
    * [[graft.operators.Backtest.betSizing]] over the full bet history. */
  def sizesView(spark: SparkSession, stateDir: String, cfg: BetCfg): DataFrame =
    CommitLog(spark, stateDir).scan("sizes", emptySizes(spark, cfg))

  /** The foreachBatch body for a streamed bet feed: fold `batch` into
    * the sizing state at `stateDir` under `batchId` (replay-idempotent
    * via the commit log), append the final instants to the log, persist
    * the open-frontier carry. Same lifecycle as [[marketFeaturesBatch]]:
    * two carry versions survive for rollback, the log only grows. */
  def betSizingBatch(spark: SparkSession, stateDir: String, batchId: Long,
                     batch: DataFrame, cfg: BetCfg): DataFrame =
    CommitLog(spark, stateDir).fold(batchId) { prev =>
      val (sizes, carry1) = betSizingFold(
        prev("carry", emptyBetCarry(spark, cfg)), batch, cfg)
      write(sizes, s"$stateDir/sizes/batch=$batchId")
      write(carry1, s"$stateDir/v=$batchId/carry")
    }(done => CommitLog(spark, stateDir).scan("sizes", emptySizes(spark, cfg),
      done.map(_.toString)))
}
