package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{windows => W}
import graft.operators.{Relational, TemporalJoins}

/** Order-book feature set — Spark re-expression of
  * `adi/app/features/processors/orderbook_features.py` (A1–A4, W29/W30,
  * J4). Input: the long snapshot frame `[ts, price, amount, side]` plus
  * the series keys (`symbol`, `exchange`, …) that identify one book.
  *
  * Every window/groupBy partitions on `keys` — at cluster scale an
  * unkeyed `Window.orderBy(ts)` moves the whole frame to one partition
  * (the round-1 verdict's scale-killer #3). `keys = Nil` is still
  * accepted for a genuinely-single-book frame, but callers with more
  * than one book MUST pass their keys.
  *
  * The reference's numba kernels (`_imbalance_nb`, `_batch_orderbook_nb`)
  * are elementwise — whole-stage codegen fuses the same arithmetic after
  * the pivot, so each series below is one shuffle on (keys, ts) (or one
  * on (keys, ts, side) for depth) followed by pure projections.
  */
object OrderbookFeatures {

  private def groupCols(keys: Seq[String]): Seq[Column] =
    keys.map(col) :+ col("ts")

  private def seriesWindow(keys: Seq[String]) =
    if (keys.isEmpty) Window.orderBy("ts")
    else Window.partitionBy(keys.map(col): _*).orderBy("ts")

  /** Imbalance per ts: (bid_vol − ask_vol)/(bid_vol + ask_vol), 0 when the
    * total is 0 (`orderbook_features.py:94-118`, W29). */
  def imbalanceSeries(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val pivot = Relational.pivotSum(df, keys :+ "ts", "side", Seq("bid", "ask"), "amount")
    val total = col("bid") + col("ask")
    pivot.select(groupCols(keys) :+
      when(total =!= 0, (col("bid") - col("ask")) / total).otherwise(0.0).as("imbalance"): _*)
  }

  /** Microprice per ts (Stoikov 2018): the size-weighted expected mid —
    * each side's BEST price weighted by the OPPOSITE side's resting size
    * at its best level,
    * `(bid_px·ask_sz + ask_px·bid_sz)/(bid_sz + ask_sz)` — the standard
    * short-horizon fair-value estimator (a thick bid pushes fair value
    * toward the ask, where the next trade prints). Null when either side
    * is absent or both best-level sizes are zero.
    *
    * Determinism: best prices are exact MAX/MIN; best-level sizes sum
    * through DECIMAL(18,2) (order-free); the microprice itself is one
    * fixed double tree. Scale shape: two aggs + one join, all keyed on
    * (keys, ts) — one exchange reused, nothing global. */
  def micropriceSeries(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val kts = groupCols(keys)
    val D = org.apache.spark.sql.types.DecimalType(18, 2)
    val best = df.groupBy(kts: _*).agg(
      max(when(col("side") === "bid", col("price"))).as("bid_px"),
      min(when(col("side") === "ask", col("price"))).as("ask_px"))
    val sized = df.join(best, keys :+ "ts")
      .groupBy(kts: _*)
      .agg(first("bid_px").as("bid_px"), first("ask_px").as("ask_px"),
        sum(when(col("side") === "bid" && col("price") === col("bid_px"),
          col("amount")).otherwise(lit(0.0)).cast(D)).cast("double").as("bid_sz"),
        sum(when(col("side") === "ask" && col("price") === col("ask_px"),
          col("amount")).otherwise(lit(0.0)).cast(D)).cast("double").as("ask_sz"))
    sized.withColumn("microprice",
      when(col("bid_px").isNotNull && col("ask_px").isNotNull &&
          (col("bid_sz") + col("ask_sz")) > 0.0,
        (col("bid_px") * col("ask_sz") + col("ask_px") * col("bid_sz"))
          / (col("bid_sz") + col("ask_sz"))))
  }

  /** Order-flow imbalance per snapshot (Cont, Kukanov & Stoikov 2014):
    * the canonical level-1 flow proxy
    * `e_t = 1{b_t ≥ b_{t−1}}·q^b_t − 1{b_t ≤ b_{t−1}}·q^b_{t−1}
    *      − 1{a_t ≤ a_{t−1}}·q^a_t + 1{a_t ≥ a_{t−1}}·q^a_{t−1}`
    * over consecutive best-level states (prices b/a, sizes q) — the
    * short-horizon price-impact driver (price changes regress on OFI
    * with the book's depth as slope). Built on [[micropriceSeries]]'s
    * best-level frame plus one per-series lag window; the first snapshot
    * and any one-sided state yield null.
    *
    * Determinism: the best-level inputs are exact (MAX/MIN prices,
    * DECIMAL sizes) and OFI is one fixed conditional tree over them.
    * Scale shape: one series-keyed exchange ON TOP of micropriceSeries'
    * (its agg keys on (keys, ts); the lag window re-partitions on keys
    * alone) — still per-series, nothing global. */
  def ofiSeries(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val s = micropriceSeries(df, keys)
    val w = seriesWindow(keys)
    val pb = lag(col("bid_px"), 1).over(w)
    val pa = lag(col("ask_px"), 1).over(w)
    val pqb = lag(col("bid_sz"), 1).over(w)
    val pqa = lag(col("ask_sz"), 1).over(w)
    val present = col("bid_px").isNotNull && col("ask_px").isNotNull &&
      pb.isNotNull && pa.isNotNull
    s.withColumn("ofi",
      when(present,
        when(col("bid_px") >= pb, col("bid_sz")).otherwise(lit(0.0))
          - when(col("bid_px") <= pb, pqb).otherwise(lit(0.0))
          - when(col("ask_px") <= pa, col("ask_sz")).otherwise(lit(0.0))
          + when(col("ask_px") >= pa, pqa).otherwise(lit(0.0))))
  }

  /** Price-impact lambda per series (the Cont-Kukanov-Stoikov 2014
    * regression; Kyle 1985's λ in flow units): the OLS slope of
    * mid-price changes on [[ofiSeries]]' order-flow imbalance,
    * `λ = cov(Δmid, OFI)/var(OFI)` — "how many price units does one unit
    * of net order flow move this book", the standard liquidity estimate
    * (λ ≈ c/depth in the CKS model). Mid = (best bid + best ask)/2 from
    * the same best-level frame.
    *
    * Determinism: Δmid and OFI quantize to `⌊v·scale⌋` BIGINTs and the
    * regression derives from five EXACT integer moment sums (the
    * [[graft.operators.Relational.correlationMatrix]] rule) — order-free
    * under any partitioning; null when OFI never varies. Snapshots
    * without a defined (Δmid, OFI) pair drop pairwise.
    *
    * Scale shape: ofiSeries' exchanges plus one keyed agg onto one row
    * per series. Returns `(keys…, n_obs, lambda)`. */
  def impactLambda(df: DataFrame, keys: Seq[String] = Nil,
                   scale: Double = 1e6): DataFrame = {
    require(scale > 0.0, s"scale must be positive, got $scale")
    val w = seriesWindow(keys)
    val s = ofiSeries(df, keys)
      .withColumn("_mid", (col("bid_px") + col("ask_px")) / lit(2.0))
      .withColumn("_dmid", col("_mid") - lag(col("_mid"), 1).over(w))
    val both = col("_dmid").isNotNull && col("ofi").isNotNull
    val y6 = when(both, floor(col("_dmid") * scale).cast("long"))
    val x6 = when(both, floor(col("ofi") * scale).cast("long"))
    val sums = s.groupBy(keys.map(col): _*).agg(
      count(x6).as("n_obs"),
      sum(x6).as("_sx"), sum(y6).as("_sy"),
      sum(x6 * y6).as("_sxy"), sum(x6 * x6).as("_sxx"))
    val nD = col("n_obs").cast("double")
    val cov = nD * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val vx = nD * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    sums.select(keys.map(col) :+ col("n_obs") :+
      when(vx > 0.0, round(cov / vx, 6)).as("lambda"): _*)
  }

  /** Spread per ts: best ask − best bid with as-of forward-fill of missing
    * asks onto the bid axis, 0-filled (`orderbook_features.py:121-137`,
    * A3 + J4). The ffill window partitions on the series keys. */
  def spreadSeries(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val bestBid = df.filter(col("side") === "bid")
      .groupBy(groupCols(keys): _*).agg(max("price").as("best_bid"))
    val bestAsk = df.filter(col("side") === "ask")
      .groupBy(groupCols(keys): _*).agg(min("price").as("best_ask"))
    val aligned = bestBid.join(bestAsk, keys :+ "ts", "left")
    aligned
      .withColumn("best_ask_ff", W.ffill(col("best_ask"), seriesWindow(keys)))
      .select(groupCols(keys) :+
        coalesce(col("best_ask_ff") - col("best_bid"), lit(0.0)).as("spread"): _*)
  }

  /** Top-N depth per ts, wide: bid levels by price desc, ask levels asc →
    * `bid_depth_1..n` / `ask_depth_1..n` (`orderbook_features.py:140-157`,
    * A4 as row_number + pivot — one shuffle, no per-group apply). The
    * `first` in the pivot sees exactly one row per (group, slot) — the
    * row_number makes slots unique — so it is deterministic. Amount is a
    * secondary sort key: equal-price levels would otherwise be ranked by
    * partition arrival order. */
  def depthSeries(df: DataFrame, nLevels: Int = 5, keys: Seq[String] = Nil): DataFrame = {
    val ranked = df.withColumn("rn", row_number().over(
      Window.partitionBy((keys :+ "ts" :+ "side").map(col): _*)
        .orderBy(when(col("side") === "bid", -col("price")).otherwise(col("price")),
          col("amount"))))
      .filter(col("rn") <= nLevels)
    val labeled = ranked.withColumn("slot", concat(col("side"), lit("_depth_"), col("rn")))
    val slots = (1 to nLevels).flatMap(i => Seq(s"bid_depth_$i", s"ask_depth_$i"))
    labeled.groupBy(groupCols(keys): _*).pivot("slot", slots).agg(first("amount"))
  }

  /** Multi-level order-flow imbalance + depth-weighted queue imbalance —
    * the production upgrade of the level-1 [[ofiSeries]] (Xu/Cartea
    * et al.'s multi-level OFI; Cont-Kukanov-Stoikov per level): rank the
    * top `nLevels` price levels per (keys, ts, side) exactly as
    * [[depthSeries]] does, apply the CKS flow rule PER RANK against the
    * previous snapshot of the SAME rank, and combine levels with
    * geometric weights `decay^(rank−1)` (deeper queues matter less).
    * Also emits the depth-weighted queue imbalance
    * `(Σwᵢ·bid_szᵢ − Σwᵢ·ask_szᵢ) / (Σwᵢ·bid_szᵢ + Σwᵢ·ask_szᵢ)` from
    * the CURRENT snapshot — the standing-pressure complement of the
    * flow signal.
    *
    * Semantics: a rank that is absent at some ts simply skips that
    * snapshot (its lag compares against the rank's previous existence);
    * level terms with no previous state are excluded, and `ofi_ml` is
    * null only when NO level has history. Pass `decay` as a power of
    * two (default 0.5) so the weights are exact IEEE doubles on any
    * engine.
    *
    * Determinism: per-level terms quantize to `⌊contrib·wᵢ·scale⌋`
    * BIGINTs and sum order-free (the correlation-family rule); the two
    * queue sums are the same fixed-point integers.
    *
    * Scale shape: ONE series-keyed exchange up front — the per-(ts,
    * side) rank window, the per-(side, rank) lag window and the final
    * (keys, ts) agg all require only clusterings that hash(keys)
    * already satisfies (subset rule), so everything downstream is
    * sort-only within partitions. Keys are series-grained by the
    * engine's window contract. Returns `(keys…, ts, n_lvl_terms,
    * ofi_ml, queue_imbalance)`. */
  def ofiMultiLevel(df: DataFrame, nLevels: Int = 5, keys: Seq[String] = Nil,
                    decay: Double = 0.5, scale: Double = 1e6): DataFrame = {
    require(nLevels >= 1, s"nLevels must be >= 1, got $nLevels")
    require(decay > 0.0 && decay <= 1.0, s"decay must be in (0,1], got $decay")
    require(scale > 0.0, s"scale must be positive, got $scale")
    val keyed = if (keys.nonEmpty) df.repartition(keys.map(col): _*) else df
    val ranked = keyed.withColumn("rn", row_number().over(
        Window.partitionBy((keys :+ "ts" :+ "side").map(col): _*)
          .orderBy(when(col("side") === "bid", -col("price")).otherwise(col("price")),
            col("amount"))))
      .filter(col("rn") <= nLevels)
    val wLvl = Window.partitionBy((keys :+ "side" :+ "rn").map(col): _*)
      .orderBy(col("ts"))
    val pp = lag(col("price"), 1).over(wLvl)
    val pq = lag(col("amount"), 1).over(wLvl)
    val wgt = pow(lit(decay), col("rn") - 1)
    val q = col("amount")
    val contrib = when(col("side") === "bid",
        when(col("price") >= pp, q).otherwise(lit(0.0))
          - when(col("price") <= pp, pq).otherwise(lit(0.0)))
      .otherwise(
        when(col("price") >= pp, pq).otherwise(lit(0.0))
          - when(col("price") <= pp, q).otherwise(lit(0.0)))
    val defined = pp.isNotNull
    val termFp = when(defined, floor(contrib * wgt * lit(scale)).cast("long"))
    val szFp = floor(q * wgt * lit(scale)).cast("long")
    ranked
      .withColumn("_term_fp", termFp)
      .withColumn("_bid_fp", when(col("side") === "bid", szFp).otherwise(lit(0L)))
      .withColumn("_ask_fp", when(col("side") === "ask", szFp).otherwise(lit(0L)))
      .groupBy((keys :+ "ts").map(col): _*)
      .agg(count(col("_term_fp")).as("n_lvl_terms"),
        sum(col("_term_fp")).as("_ofi_fp"),
        sum(col("_bid_fp")).as("_b"), sum(col("_ask_fp")).as("_a"))
      .select((keys :+ "ts").map(col) :+
        col("n_lvl_terms") :+
        round(col("_ofi_fp").cast("double") / lit(scale), 6).as("ofi_ml") :+
        when(col("_b") + col("_a") > 0L,
          round((col("_b") - col("_a")).cast("double")
            / (col("_b") + col("_a")).cast("double"), 6)).as("queue_imbalance"): _*)
  }

  /** Fused imbalance + spread per ts (`compute_batch_orderbook`,
    * `orderbook_features.py:163-186`): volume pivot-sum + best-level price
    * pick with forward-fill; spread = ask_price − bid_price after ffill.
    * Best level is max(bid price)/min(ask price) — a deterministic
    * aggregate, where the reference takes the first (= best) level of the
    * ccxt payload; `pivot().agg(first)` under parallelism is
    * arrival-order-dependent and was flagged in round 1. */
  def batchFeatures(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val vol = Relational.pivotSum(df, keys :+ "ts", "side", Seq("bid", "ask"), "amount")
      .withColumnRenamed("bid", "bid_vol").withColumnRenamed("ask", "ask_vol")
    val price = df.groupBy(groupCols(keys): _*).agg(
      max(when(col("side") === "bid", col("price"))).as("bid_price"),
      min(when(col("side") === "ask", col("price"))).as("ask_price"))
    val w = seriesWindow(keys)
    val joined = vol.join(price, keys :+ "ts", "left")
      .withColumn("bid_price_ff", W.ffill(col("bid_price"), w))
      .withColumn("ask_price_ff", W.ffill(col("ask_price"), w))
    val total = col("bid_vol") + col("ask_vol")
    joined.select(groupCols(keys) :+
      when(total =!= 0, (col("bid_vol") - col("ask_vol")) / total).otherwise(0.0)
        .as("imbalance") :+
      (col("ask_price_ff") - col("bid_price_ff")).as("spread"): _*)
  }

  /** Reconstruct book SNAPSHOTS from an L2 DELTA feed — the production
    * order-book shape this module's snapshot operators assume upstream:
    * exchanges stream `(ts, side, price, new_resting_amount)` updates
    * (amount 0 = level removed), and the book at time T is the last
    * update ≤ T applied per price level. Emits the top `nLevels` per
    * side at every `stepUs` boundary covering the series' active range.
    *
    * Relational shape, no stateful scan: the (series, side, price)
    * LEVEL universe × the series' snapshot grid forms a bounded probe
    * frame (levels·snaps per series — both small dimensions), and ONE
    * [[TemporalJoins.asofJoin]] (the tagged-union window pass,
    * O(probe + deltas) per level, never a pair blowup) attaches each
    * level's standing amount as of each snapshot; levels at amount 0 or
    * never yet quoted drop, and a rank window keeps the top N per side
    * (bids by highest price, asks by lowest). Same-µs updates to one
    * level collapse last-write-wins by `tiebreakCol` first (the asofJoin
    * uniqueness contract).
    *
    * Determinism: snapshot boundaries are exact integer-µs multiples of
    * `stepUs` (floor-division grid); prices/amounts pass through
    * untouched; rank ties cannot exist (price IS the level key).
    *
    * Returns `(keys…, snap_ts_us, side, level, price, amount)`. */
  def bookSnapshots(deltas: DataFrame, keys: Seq[String], tsCol: String,
                    tiebreakCol: String, stepUs: Long,
                    nLevels: Int = 5): DataFrame = {
    require(keys.nonEmpty, "bookSnapshots needs the series key(s)")
    require(stepUs > 0L, s"stepUs must be positive, got $stepUs")
    require(nLevels >= 1, s"nLevels must be >= 1, got $nLevels")
    val tsUs = unix_micros(col(tsCol).cast("timestamp"))
    val base = deltas.select(
      keys.map(col) ++ Seq(col("side"), col("price"), col("amount"),
        tsUs.as("_ts_us"), col(tiebreakCol).cast("long").as("_tb")): _*)
    // last write wins within one µs per level (asofJoin's uniqueness
    // contract on (keys, rightTs))
    val dedup = base
      .groupBy((keys.map(col) ++ Seq(col("side"), col("price"), col("_ts_us"))): _*)
      .agg(max_by(col("amount"), col("_tb")).as("amount"))
    // snapshot grid: every step boundary from the first boundary after
    // the series' first delta through the one covering its last
    val grid = base.groupBy(keys.map(col): _*)
      .agg(min(col("_ts_us")).as("_lo"), max(col("_ts_us")).as("_hi"))
      .select(keys.map(col) :+ explode(sequence(
        expr(s"(_lo - pmod(_lo, ${stepUs}L)) div ${stepUs}L") + lit(1L),
        expr(s"(_hi - pmod(_hi, ${stepUs}L)) div ${stepUs}L") + lit(1L)))
        .as("_k"): _*)
      .withColumn("snap_ts_us", col("_k") * lit(stepUs)).drop("_k")
    val levels = base.select((keys.map(col) ++ Seq(col("side"), col("price"))): _*)
      .distinct()
    val probe = levels.join(grid, keys)
    val lvlKeys = keys ++ Seq("side", "price")
    val joined = TemporalJoins.asofJoin(
      probe, dedup, lvlKeys, "snap_ts_us", "_ts_us", Seq("amount"))
    val rankW = Window
      .partitionBy((keys :+ "snap_ts_us" :+ "side").map(col): _*)
      .orderBy(when(col("side") === "bid", -col("price")).otherwise(col("price")))
    joined
      .where(col("amount").isNotNull && col("amount") > 0.0)
      .withColumn("level", row_number().over(rankW).cast("long"))
      .where(col("level") <= nLevels)
      .select(keys.map(col) ++ Seq(col("snap_ts_us"), col("side"),
        col("level"), col("price"), col("amount")): _*)
  }

  /** [[bookSnapshots]] with a BOUNDED probe: the one-shot probe frame is
    * (levels EVER quoted) × (the whole span's grid) — correct and fast
    * on a bench-sized window, O(T²) per series at unbounded ranges (a
    * year of churn: 10⁴–10⁵ levels ever touched × 10⁷ boundaries).
    * This variant cuts the time axis into `chunkUs` slices and folds
    * them through [[graft.operators.MarketIncremental.bookSnapshotFold]]:
    * each chunk probes only (levels ACTIVE at chunk start or touched in
    * the chunk) × (the chunk's boundaries), with the standing book
    * carried across chunks as a frontier — total probe volume tracks
    * CHURN × grid-per-chunk, linear in the span.
    *
    * Output ≡ [[bookSnapshots]] column for column (spec-pinned): the
    * folds emit every boundary strictly below the final watermark, and
    * the provisional tail (the boundary covering the last delta) comes
    * from the frontier ranked top-N.
    *
    * Driver loop over chunks (sequential by construction — each fold
    * consumes the previous frontier) cut by [[graft.operators.DriverLoop.chunks]];
    * each fold collects only its series-sized cursor and leaves its
    * shared frames lazily checkpointed, and ONE final assembly consumes
    * them all. `maxChunks` guards the loop LOUDLY — size `chunkUs` to
    * the span, not below it. */
  def bookSnapshotsChunked(deltas: DataFrame, keys: Seq[String], tsCol: String,
                           tiebreakCol: String, stepUs: Long, nLevels: Int,
                           chunkUs: Long, maxChunks: Int = 4096): DataFrame = {
    import graft.operators.{DriverLoop, MarketIncremental}
    val cfg = MarketIncremental.BookCfg(keys, tsCol, "side", "price",
      "amount", tiebreakCol, stepUs, nLevels)
    val spark = deltas.sparkSession
    val chunks = DriverLoop.chunks(deltas, tsCol, chunkUs, maxChunks, "bookSnapshotsChunked")
    var book = MarketIncremental.emptyBook(spark, cfg)
    var cursor = MarketIncremental.emptyBookCursor(spark, cfg)
    // Accumulate the per-chunk PROBE and AS-OF-RIGHT frames and assemble
    // ONE global as-of join + rank at the end (r14) — where r13 built a
    // per-chunk asof + rank branch pair (2 exchanges per chunk in the
    // final action), the union runs the whole span through ONE window
    // exchange and ONE rank exchange. Equivalence is argued on
    // [[MarketIncremental.snapshotsFromProbe]]: chunk boundaries
    // partition snap_ts_us, later chunks' deltas sit strictly past the
    // probing chunk's watermark, and earlier chunks' extra rows are
    // either the carried frontier state itself, outranked by it, or
    // dead (amount-0) rows the shared filter removes. The cross-chunk
    // (level, µs) dedup below keeps asofJoin's uniqueness contract: a
    // standing level's frontier row re-appears in every later chunk's
    // right frame (identical (ts, _tb, amount) copies), and a batch may
    // legally override the exact watermark µs with a higher tiebreak —
    // max-tiebreak election picks that override, exactly what the
    // overriding chunk's own fold computed. Each right frame is the
    // fold's lazily-checkpointed dedup output, so the union reads
    // cached blocks, not recomputed lineage.
    val probes = Seq.newBuilder[DataFrame]
    val rights = Seq.newBuilder[DataFrame]
    chunks.foreach { chunk =>
      val (probe, right, b2, c2) =
        MarketIncremental.bookSnapshotFoldParts(book, cursor, chunk, cfg)
      probes += probe
      rights += right.drop("_b")
      book = b2
      cursor = c2
    }
    val lvlKeys = keys ++ Seq("side", "price")
    val snapsAll =
      if (chunks.isEmpty) MarketIncremental.emptySnapshots(spark, cfg)
      else {
        val rightDedup = rights.result().reduce(_ unionByName _)
          .groupBy((lvlKeys :+ "ts_us").map(col): _*)
          .agg(max_by(col("amount"), col("_tb")).as("amount"))
        MarketIncremental.snapshotsFromProbe(
          probes.result().reduce(_ unionByName _), rightDedup, cfg)
      }
    snapsAll
      .unionByName(MarketIncremental.provisionalSnapshots(book, cursor, cfg))
  }

  /** Lee–Ready trade classification (Lee & Ready 1991, J. Finance 46(2))
    * + per-trade effective spread — the MEASURED complement to the
    * Roll / Corwin–Schultz / Abdi–Ranaldo spread *estimators*
    * ([[graft.functions.TaIndicators]]): with real quotes in hand, a
    * trade above the prevailing mid is buyer-initiated (+1), below is
    * seller-initiated (−1), and AT the mid (or with no quote yet) the
    * tick test decides — the sign of the last non-zero price change up
    * to and including this trade (the classic zero-tick carry). The
    * effective spread a classified trade paid is `2·q·(p − mid)`
    * (q = ±1 the initiation side) — what estimator-validation studies
    * aggregate per bar and regress the estimators against.
    *
    * Prevailing quote: the as-of-backward match (greatest quote ts ≤
    * trade ts, [[graft.operators.TemporalJoins.asofJoin]]) — the
    * modern no-delay convention (the original 5-second rule modeled
    * 1980s tape latency). `quotes` must be unique per (keys, quoteTs);
    * trades with no prior quote and no prior price change classify
    * null (explicitly unknowable, not a guess).
    *
    * Determinism: mid is one fixed double tree over exact best levels;
    * comparisons and the tick-sign carry are exact; the spread rounds
    * to 6 dp with the zero image normalized (`+ 0.0`).
    *
    * Scale shape: ONE series-keyed pass — the as-of union window and
    * the tick-rule window share the (keys) partitioning (consecutive
    * Window operators over one sort), no joins beyond the as-of union,
    * no pair frames. Returns one row per trade: `(keys…, ts_us,
    * tiebreak, price, bid_px, ask_px, mid, lr_side, espread,
    * espread_rel)`. */
  def leeReady(trades: DataFrame, quotes: DataFrame, keys: Seq[String],
               tradeTs: String, priceCol: String, tiebreakCol: String,
               quoteTs: String, bidCol: String, askCol: String): DataFrame = {
    require(keys.nonEmpty, "leeReady needs the series key(s)")
    val t0 = trades.select(keys.map(col) ++ Seq(
      unix_micros(col(tradeTs).cast("timestamp")).as("ts_us"),
      col(tiebreakCol).as("tiebreak"),
      col(priceCol).cast("double").as("price")): _*)
    val q0 = quotes.select(keys.map(col) ++ Seq(
      unix_micros(col(quoteTs).cast("timestamp")).as("_q_ts"),
      col(bidCol).cast("double").as("_q_bid"),
      col(askCol).cast("double").as("_q_ask")): _*)
    val joined = TemporalJoins.asofJoin(t0, q0, keys,
      leftTs = "ts_us", rightTs = "_q_ts",
      payload = Seq("_q_bid", "_q_ask"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts_us"), col("tiebreak"))
    val mid = when(col("_q_bid").isNotNull && col("_q_ask").isNotNull,
      (col("_q_bid") + col("_q_ask")) / 2.0)
    val tickSign = signum(col("price") - lag(col("price"), 1).over(w))
    val tickDir = last(when(tickSign =!= 0.0, tickSign), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val side = when(mid.isNotNull && col("price") > mid, lit(1L))
      .when(mid.isNotNull && col("price") < mid, lit(-1L))
      .otherwise(tickDir.cast("long"))
    val sideC = col("lr_side").cast("double")
    joined
      .withColumn("mid", mid)
      .withColumn("lr_side", side)
      .select(keys.map(col) ++ Seq(col("ts_us"), col("tiebreak"),
        col("price"), col("_q_bid").as("bid_px"), col("_q_ask").as("ask_px"),
        col("mid"), col("lr_side"),
        when(col("mid").isNotNull && col("lr_side").isNotNull,
          round(lit(2.0) * sideC * (col("price") - col("mid")), 6) + lit(0.0))
          .as("espread"),
        when(col("mid").isNotNull && col("lr_side").isNotNull && col("mid") =!= 0.0,
          round(lit(2.0) * sideC * (col("price") - col("mid")) / col("mid"), 6)
            + lit(0.0)).as("espread_rel")): _*)
  }
}
