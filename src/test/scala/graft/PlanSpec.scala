package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression specs — the scale properties the operators
  * promise must survive optimizer/refactor churn, not just produce the
  * right rows at test scale:
  *  - predicate pushdown reaching the parquet scan (P2),
  *  - column pruning (a narrow projection must not scan every column),
  *  - series windows partitioned by their keys (never a global
  *    single-partition sort),
  *  - small-side broadcasts where the operator declares them.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("range filter pushes down to the events parquet scan (P2)") {
    val plan = planOf(SparkEntry.queries("q_event_filter")(spark, sfDir))
    assert(plan.contains("PushedFilters"), "no pushed filters in scan")
    // the event_type equality and the raw-NTZ time range must reach the
    // scan (the `_ts_raw` alias pushes as a filter on the underlying
    // parquet `ts` column; a predicate on the CAST ts column would not)
    assert(plan.contains("EqualTo(event_type,purchase)"),
      s"event_type filter not pushed:\n${plan.take(2500)}")
    assert(plan.contains("GreaterThanOrEqual(ts,"),
      s"NTZ range not pushed:\n${plan.take(2500)}")
  }

  test("narrow projections prune the scan schema (P7)") {
    val df = spark.read.parquet(s"$sfDir/events.parquet").select("event_id", "value")
    val plan = planOf(df)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("value"))
    assert(!readSchema.contains("payload"),
      s"2-column projection reads extra columns: $readSchema")
  }

  test("orderbook series windows partition on the book keys (W30 scale)") {
    val plan = planOf(SparkEntry.queries("q_orderbook")(spark, sfDir))
    // every window spec in the plan must carry the symbol key; an unkeyed
    // Window.orderBy would read "windowspecdefinition(ts ..." and move the
    // whole frame to one partition
    val specs = "windowspecdefinition\\(([^,]+)," .r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty, "expected window specs in the orderbook plan")
    assert(specs.forall(_.contains("symbol")),
      s"unkeyed window spec found (single-partition sort at scale): $specs")
  }

  test("market/onchain feature windows are keyed per series") {
    for (q <- Seq("q_market_features", "q_onchain_features")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sfDir))
      val specs = "windowspecdefinition\\(([^,]+),".r
        .findAllMatchIn(plan).map(_.group(1)).toList
      assert(specs.nonEmpty && specs.forall(s =>
        s.contains("symbol") || s.contains("metric") || s.contains("event_type") ||
          s.contains("user_id")),
        s"$q has an unkeyed window: $specs")
    }
  }

  test("sessionize costs one keyed exchange; its windows and agg share it") {
    val plan = planOf(SparkEntry.queries("q_sessionize")(spark, sfDir))
    // both stacked windows and the session groupBy hash-partition on
    // user_id — the plan must not re-shuffle between them (the final
    // orderBy's range exchange is presentation, not operator cost)
    val hashEx = "hashpartitioning\\(([^,]+),".r
      .findAllMatchIn(plan).map(_.group(1).trim).toList
    assert(hashEx.nonEmpty && hashEx.size <= 1,
      s"sessionize should reuse ONE user_id hash exchange, got $hashEx")
    assert(hashEx.forall(_.contains("user_id")), s"unkeyed exchange: $hashEx")
    val specs = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"sessionize window must key on the entity: $specs")
  }

  test("round-13 analytics: series windows keyed, NW/DM exchanges keyed, Brinson scalars broadcast") {
    // the sequential-fold family must window per series — a global
    // single-partition sort here would serialize the corpus
    for (q <- Seq("q_garch", "q_dfa", "q_dm_test")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sfDir))
      val specs = "windowspecdefinition\\(([^,]+),".r
        .findAllMatchIn(plan).map(_.group(1)).toList
      assert(specs.nonEmpty && specs.forall(s =>
        s.contains("event_type") || s.contains("_k") || s.contains("key")),
        s"$q has an unkeyed window: $specs")
    }
    // the HAC layer shuffles only on series keys (lag self-joins +
    // moment aggs) — never an unkeyed repartition of the series frame
    val nw = planOf(SparkEntry.queries("q_newey_west")(spark, sfDir))
    val hashEx = "hashpartitioning\\(([^,]+)".r
      .findAllMatchIn(nw).map(_.group(1).trim).toList
    assert(hashEx.nonEmpty && hashEx.forall(s =>
      s.contains("event_type") || s.contains("_k") || s.contains("key")),
      s"q_newey_west has an unkeyed exchange: $hashEx")
    // Brinson's scalar frames (universe stats, weight sums) broadcast —
    // the key-sized side must never sort-merge against the series frame
    val br = planOf(SparkEntry.queries("q_brinson")(spark, sfDir))
    assert(br.contains("BroadcastExchange") ||
      br.contains("BroadcastNestedLoopJoin"),
      s"q_brinson scalar joins must broadcast:\n${br.take(1500)}")
  }

  test("bm25Search: corpus explode filters to the query vocabulary before any exchange") {
    val df = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    val plan = planOf(graft.operators.TextAnalysis.bm25Search(
      df, "text", "doc_id", Seq("x")))
    // the idf/avgdl side must broadcast into the scoring join — the
    // per-term frame is |query| rows, a shuffle there would be absurd
    assert(plan.contains("BroadcastExchange"),
      s"idf frame not broadcast:\n${plan.take(1200)}")
    // no document text/token array may enter a hash exchange: the explode
    // is filtered to literal terms first, so shuffles carry only
    // (doc_id, dl, term) skinny rows
    val exchanged = exchanges(plan)
    assert(exchanged.forall { case (args, input) =>
      !(args + input).contains("toks") && !(args + input).contains("text") },
      s"document bodies in a shuffle: $exchanged")
  }

  test("kmeansAssign: the assignment pass is a pure projection — zero shuffles") {
    val df = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 7 + j).toFloat))).toDF("vec_id", "embedding")
    // iters = 0 isolates the assignment projection (each Lloyd round adds
    // only the skinny fixed-point agg on top of this same shape)
    val plan = planOf(graft.operators.Similarity.kmeansAssign(
      df, "embedding", "vec_id", k = 4, iters = 0))
    assert(!plan.contains("Exchange"),
      s"centroid assignment must not shuffle the corpus:\n${plan.take(1200)}")
  }

  test("PQ encode and ADC scan are pure projections — no Exchange, heap top-k only") {
    val df = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 7 + j).toFloat))).toDF("vec_id", "embedding")
    val book = graft.operators.Similarity.pqTrain(df, "embedding", "vec_id",
      m = 4, ksub = 4, iters = 0)
    val enc = graft.operators.Similarity.pqEncode(df, "embedding", "vec_id",
      book, m = 4, ksub = 4)
    assert(!planOf(enc).contains("Exchange"),
      s"PQ encoding must not shuffle the corpus:\n${planOf(enc).take(1200)}")
    val search = graft.operators.Similarity.pqSearch(enc, book, m = 4, ksub = 4,
      (0 until 8).map(_.toDouble), queryId = 0L, k = 5)
    val plan = planOf(search)
    assert(plan.contains("TakeOrderedAndProject"),
      s"ADC top-k must be a heap, not a global sort:\n${plan.take(1200)}")
    assert(!plan.replace("BroadcastExchange", "").contains("Exchange"),
      s"ADC scan must not shuffle row bodies:\n${plan.take(1200)}")
  }

  test("profile is ONE aggregation pass (Expand for multi-distinct, no per-column jobs)") {
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"),
      col("id").cast("string").as("s"))
    val plan = planOf(graft.operators.Relational.profile(df))
    assert(plan.contains("Expand"),
      "exact multi-column distinct should ride Spark's Expand")
    val nEx = raw"\(\d+\) Exchange".r.findAllIn(plan).length
    assert(nEx <= 2, s"profile should cost at most the Expand aggregation's exchanges, got $nEx:\n${plan.take(1200)}")
  }

  test("knnBrute broadcasts the 1-row query side") {
    val df = (0 until 100).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val plan = planOf(graft.operators.Similarity.knnBrute(df, "embedding", "vec_id", 0L, 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n${plan.take(1500)}")
  }

  test("feature-store range read prunes on the key partition columns") {
    // the Redis ZSET index re-expressed as layout: a point/range read must
    // reach the scan as PartitionFilters on (domain, symbol, timeframe) —
    // a filter evaluated post-scan would list/read the whole store at scale
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    val store = new graft.store.FeatureStore(spark, dir)
    store.upsert(graft.features.MarketFeatures.build(ohlcvRamp(10)), "market", 1L)
    val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
    val plan = planOf(store.rangeRead("market", "BTC-USDT", "1m", base, base + 600))
    val pf = "PartitionFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(Seq("domain", "symbol", "timeframe").forall(pf.contains),
      s"store key filters not applied as partition filters: $pf")
  }

  test("lake fetch filters reach the partition listing, not a post-scan filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    graft.sources.LakeWriter.write(ohlcvRamp(10), dir, graft.types.Schemas.MARKET,
      "timestamp", partitions = Seq("exchange", "symbol", "dt"))
    val plan = planOf(graft.jobs.Scheduler.lakeFetch(spark, dir, "binance", "BTC/USDT")(
      java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond,
      java.time.Instant.parse("2025-08-01T01:00:00Z").getEpochSecond))
    val pf = "PartitionFilters: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("exchange") && pf.contains("symbol"),
      s"lake fetch must prune exchange/symbol partitions: $pf")
  }

  test("near-dup pipelines contain no interpreted per-pair lambdas in joins") {
    // the dot product must be the codegen graft_dot expression, never a
    // zip_with/aggregate fold (round-1 scale-killer #2)
    val df = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat), i % 3)).toDF("vec_id", "embedding", "label")
    val plan = planOf(graft.operators.Dedup.embeddingNearDupPairs(
      df, Seq("label"), "embedding", "vec_id", 0.5))
    assert(plan.contains("graft_dot"), "expected the codegen dot product")
    assert(!plan.contains("zip_with") && !plan.contains("lambdafunction"),
      s"interpreted HOF found in the pair-join plan:\n${plan.take(1500)}")
  }

  test("asofJoin plans as union + keyed window — never a nested-loop join") {
    val plan = planOf(SparkEntry.queries("q_asof_join")(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of join fell back to a pair-blowup join:\n${plan.take(2000)}")
    val specs = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"as-of fill window must partition on the join key: $specs")
  }

  test("rangeJoin plans as an equi-join on (key, bucket) — never a nested loop") {
    val plan = planOf(SparkEntry.queries("q_range_join")(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested-loop plan:\n${plan.take(2000)}")
    assert(plan.contains("_b"), "expected the bucket column in the join keys")
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val a = (0 until 500).map(i => (s"k${i % 50}", i.toLong)).toDF("k", "va")
    val b = (0 until 500).map(i => (s"k${i % 50}", i * 2L)).toDF("k", "vb")
    graft.sources.LakeWriter.writeBucketed(a, "bspec_a", Seq("k"), nBuckets = 8)
    graft.sources.LakeWriter.writeBucketed(b, "bspec_b", Seq("k"), nBuckets = 8)
    try {
      // disable broadcast so the join would otherwise shuffle both sides
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bspec_a").join(spark.table("bspec_b"), "k")
        val plan = planOf(joined)
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n${plan.take(2000)}")
        assert(joined.count() == 5000) // 50 keys × 10 × 10
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bspec_a")
      spark.sql("DROP TABLE IF EXISTS bspec_b")
    }
  }

  test("lshSignatures is a pure per-row projection — zero shuffles") {
    val df = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(16)(j => (i * 16 + j).toFloat))).toDF("vec_id", "embedding")
    val plan = planOf(graft.operators.Similarity.lshSignatures(
      df, "embedding", "vec_id", planes = 6, tables = 4))
    assert(!plan.contains("Exchange"),
      s"signature computation must not shuffle (literal-weight codegen projection):\n${plan.take(2000)}")
    assert(plan.contains("graft_lsh_sigs"),
      "projections must use the single-pass codegen signature expression")
    assert(!plan.contains("lambdafunction"),
      s"interpreted HOF found in the signature plan:\n${plan.take(1500)}")
  }

  test("portfolio/evaluation compositions broadcast their key-sized frames") {
    // portfolioLedger: allocator weights are key-sized by contract —
    // the ledger join must broadcast them, never shuffle the ledger
    val led = (0 until 1000).map(i =>
      ("K" + i % 5, i.toLong, 0.001 * (i % 7 - 3))).toDF("k", "t", "pnl")
    val wts = (0 until 5).map(i => ("K" + i, 0.2)).toDF("k", "weight")
    val pl = planOf(graft.operators.Backtest.portfolioLedger(led, wts, Seq("k"), "t"))
    assert(pl.contains("BroadcastExchange") || pl.contains("BroadcastHashJoin"),
      s"weights not broadcast:\n${pl.take(1500)}")
    // deflatedSharpe: the per-key SR0 benchmark frame joins broadcast
    // against the full-sample scorecard
    val df = (0 until 400).map { i =>
      val p = 100.0 + (i % 97) * 0.1
      ("K" + i % 2, (i % 4).toLong, i.toLong, p, if (i % 3 == 0) 1.0 else -1.0)
    }.toDF("k", "trial", "t", "p", "sig")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val pd = planOf(graft.operators.Backtest.deflatedSharpe(df, Seq("k"),
      "ts", "p", "sig", "t", "trial", expectedTrials = 4))
    assert(pd.contains("BroadcastExchange") || pd.contains("BroadcastHashJoin"),
      s"SR0 frame not broadcast:\n${pd.take(1500)}")
  }

  test("stratifiedSample is a pure scan+filter — zero shuffles, no window") {
    val df = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val plan = planOf(graft.operators.TextAnalysis.stratifiedSample(
      df, "lang", "doc_id", Map("en" -> 0.3), defaultRate = 0.5))
    assert(!plan.contains("Exchange"),
      s"sampling decision must be per-row (no shuffle):\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      "sampling must not rank rows (hash threshold, not row_number)")
  }

  test("connectedComponents rounds are equi-joins, never nested loops") {
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // capture the plan of one propagation round by running the operator
    // and asserting on the physical plans Spark retained for the final
    // labels frame (localCheckpoint truncates lineage, so audit a single
    // round built the same way the operator builds it)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v"))).distinct()
    val labels = edges.select(col("u").as("id")).distinct().withColumn("component", col("id"))
    val nbr = edges.join(labels.select(col("id").as("v"), col("component").as("nl")), "v")
      .select(col("u").as("id"), col("nl").as("component"))
    val round = labels.union(nbr).groupBy("id").agg(min("component").as("component"))
    val plan = planOf(round)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"CC propagation must be an equi-join:\n${plan.take(2000)}")
  }

  /** (Arguments, Input) pairs for every Exchange block of a formatted
    * plan — lets a spec assert WHAT each shuffle carries, not just
    * whether one exists. */
  private def exchanges(plan: String): Seq[(String, String)] =
    raw"\(\d+\) Exchange\n(?:Input \[\d+\]: \[([^\]]*)\]\n)?(?:Arguments: ([^\n]*))?".r
      .findAllMatchIn(plan)
      .map(m => (Option(m.group(2)).getOrElse(""), Option(m.group(1)).getOrElse("")))
      .toSeq

  test("segmentDedup's dedup-core shuffles are skinny — no text/toks in a hash-keyed exchange") {
    val docs = (0 until 64).map(i =>
      (i.toLong, (0 until 20).map(j => s"t${(i * 20 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = planOf(graft.operators.TextAnalysis.segmentDedup(docs, "text", "doc_id"))
    val ex = exchanges(plan)
    assert(ex.nonEmpty, s"expected shuffles in the dedup core:\n${plan.take(1500)}")
    val bodyCarrying = ex.filter { case (args, input) =>
      args.contains("hashpartitioning(h#") &&
        (input.contains("text#") || input.contains("toks#"))
    }
    assert(bodyCarrying.isEmpty,
      s"segment-hash shuffle carries document bodies: $bodyCarrying")
  }

  test("substringDedup's dedup core is skinny — window bodies never exist, no text in hash/pos exchanges") {
    val passage = (0 until 16).map(i => s"c$i").mkString(" ")
    val docs = (0 until 64).map(i =>
      (i.toLong, if (i % 4 == 0) s"j$i k$i $passage" // shifted copies
       else (0 until 20).map(j => s"t${(i * 20 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = planOf(graft.operators.TextAnalysis.substringDedup(docs, "text", "doc_id"))
    // the seed currency is graft_window_hashes' long arrays — the plan
    // must posexplode hashes, not window strings
    assert(plan.contains("graft_window_hashes"),
      s"seed pass must ride the codegen window-hash kernel:\n${plan.take(1500)}")
    // no exchange keyed on the window hash or position may carry bodies
    val bodyCarrying = exchanges(plan).filter { case (args, input) =>
      (args.contains("hashpartitioning(h#") || args.contains("hashpartitioning(pos#")) &&
        (input.contains("text#") || input.contains("toks#"))
    }
    assert(bodyCarrying.isEmpty,
      s"dedup-core shuffle carries document bodies: $bodyCarrying")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "winner election and rebuild must stay equi-joins")
  }

  test("unigramLogProb joins the Zipf head map-side (broadcast, no shuffle of hot keys)") {
    val docs = (0 until 64).map(i => (i.toLong, s"the the the rare$i")).toDF("doc_id", "text")
    val plan = planOf(graft.operators.TextAnalysis.unigramLogProb(docs, "text", "doc_id"))
    assert(plan.contains("BroadcastExchange"),
      s"head vocabulary must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      "the scalar total must broadcast, never cross-join materially")
  }

  test("semanticDedup: assignment is shuffle-free, representative join broadcasts") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
      // keep the fixture out of ConvertToLocalRelation: a pure local
      // relation would be eagerly projected and hide the expressions
      .repartition(2)
    // assignment alone (the per-row projection against literal centroids)
    // must plan with zero exchanges — like lshSignatures
    val asg = graft.operators.Similarity.semanticDedup(vecs, "embedding", "vec_id",
      k = 4, tau = 0.9, repCap = 8)
    val plan = planOf(asg)
    assert(plan.contains("graft_nearest_centroid"),
      "assignment must be the fused argmax expression (k-scalable codegen)")
    assert(plan.contains("graft_dot"), "removal cosines must be the codegen dot product")
    assert(plan.contains("BroadcastExchange"),
      s"representative set must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "within-cluster removal must stay an equi-join on cluster_id")
  }

  test("mergeSessions/scd2Merge: oversized key sets drop the forced broadcast") {
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val history = (0 until 200).map(u => (u.toLong, ts(u * 10L))).toDF("user_id", "ts")
    val stored = graft.operators.Relational.sessionize(
      history, Seq("user_id"), "ts", gapSec = 5)
    val batch = (0 until 100).map(u => (u.toLong, ts(100000L + u))).toDF("user_id", "ts")
    val dim = (0 until 200).map(u => (u.toLong, "t0", ts(0L))).toDF("user_id", "tier", "ts")
    val scd = graft.operators.Relational.scd2Init(dim, Seq("user_id"), Seq("tier"), "ts")
    val up = (0 until 100).map(u => (u.toLong, "t1", ts(9999L))).toDF("user_id", "tier", "ts")
    // disable size-based auto-broadcast so a BroadcastExchange in the plan
    // can only come from the FORCED hint — the thing under test
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val over = planOf(graft.operators.Relational.mergeSessions(
        stored, batch, Seq("user_id"), "ts", gapSec = 5, broadcastMaxKeys = 10))
      assert(!over.contains("BroadcastExchange"),
        s"key set above the cap must not be force-broadcast:\n${over.take(1500)}")
      val under = planOf(graft.operators.Relational.mergeSessions(
        stored, batch, Seq("user_id"), "ts", gapSec = 5))
      assert(under.contains("BroadcastExchange"),
        "batch-sized key set should still take the broadcast fast path")
      val overScd = planOf(graft.operators.Relational.scd2Merge(
        scd, up, Seq("user_id"), Seq("tier"), "ts", broadcastMaxKeys = 10))
      assert(!overScd.contains("BroadcastExchange"),
        s"scd2Merge above the cap must not force-broadcast:\n${overScd.take(1500)}")
      // the guarded (shuffle) path returns the same rows as the forced one
      val a = graft.operators.Relational.scd2Merge(
          scd, up, Seq("user_id"), Seq("tier"), "ts", broadcastMaxKeys = 10)
        .orderBy("user_id", "eff_from_us").collect().map(_.toSeq).toSeq
      val b = graft.operators.Relational.scd2Merge(
          scd, up, Seq("user_id"), Seq("tier"), "ts")
        .orderBy("user_id", "eff_from_us").collect().map(_.toSeq).toSeq
      assert(a == b, "guarded and broadcast paths must agree")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("knnIvfPq probe: cell-partition-pruned scans, heap top-k, no wide shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    val df = (0 until 128).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 3.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeIvfPqIndex(df, "embedding", "vec_id",
      s"$dir/idx", nCells = 8, m = 4, ksub = 8, iters = 1)
    val q = (0 until 16).map(j => math.sin(j.toDouble))
    val probe = graft.operators.Similarity.knnIvfPq(spark, s"$dir/idx", q,
      queryId = -1L, k = 5, nProbe = 2, rerank = 20)
    val plan = planOf(probe)
    // both scans (ADC codes + re-rank vectors) must prune to the probed
    // cells via PartitionFilters — unprobed directories never open
    val pf = "PartitionFilters: \\[[^\\]]*".r.findAllIn(plan).toList
    assert(pf.nonEmpty && pf.forall(_.contains("cell")),
      s"probe scans must carry cell partition filters: $pf\n${plan.take(1500)}")
    // shortlist + final top-k are heaps, never a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"probe top-k must be a heap:\n${plan.take(1200)}")
    // the only exchange is the broadcast of the rerank-sized shortlist
    assert(!plan.replace("BroadcastExchange", "").contains("Exchange"),
      s"probe must not shuffle the corpus:\n${plan.take(1500)}")
    // and the probe actually answers (5 nearest by exact L2²)
    assert(probe.count() == 5)
  }

  test("knnIvfPqBatch: pruned scans, per-query windows, skinny exchanges only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_bplan").toString
    val df = (0 until 128).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 3.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeIvfPqIndex(df, "embedding", "vec_id",
      s"$dir/idx", nCells = 8, m = 4, ksub = 8, iters = 1)
    assert(graft.operators.Similarity.appendToIvfPqIndex(df.limit(16), "embedding",
      "vec_id", s"$dir/idx", batchId = "1"))
    // an uncommitted append beside the committed ones: data, no marker
    df.limit(16).write.parquet(s"$dir/idx/vectors/batch=2/cell=0")
    val out = graft.operators.Similarity.knnIvfPqBatch(spark, s"$dir/idx",
      df.limit(3), "vec_id", "embedding", k = 5, nProbe = 2, rerank = 20)
    val plan = planOf(out)
    // corpus scans prune to probed cells, and list only the committed
    // batch dirs: the uncommitted one is never a root
    val pf = "PartitionFilters: \\[[^\\]]*".r.findAllIn(plan).toList
    assert(pf.nonEmpty && pf.forall(_.contains("cell")),
      s"batch probe must prune cell partitions: $pf")
    val scans = out.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
    }.headOption.getOrElse(out.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"every vectors scan carries a cell filter: ${s.partitionFilters}")
      assert(s.relation.location.rootPaths.map(_.getName).toSet == Set("batch=0", "batch=1"),
        s"vectors roots must be the committed batch dirs: ${s.relation.location.rootPaths}")
    }
    // per-query rankings window on query_id — never a global sort
    val specs = "windowspecdefinition\\(([^,]+),".r
      .findAllIn(plan).matchData.map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("query_id")),
      s"batch rankings must window per query: $specs")
    // the decoded vector (_r) and true vector (v) stay OUT of exchanges:
    // shuffles carry only (query_id, vec_id, dist) triples
    val exchanged = exchanges(plan)
    assert(exchanged.forall { case (args, input) =>
      !(args + input).contains("_r#") && !(args + input).contains("qv#") },
      s"bulky vectors in a shuffle: $exchanged")
    assert(out.count() == 15, "3 queries x top-5")
  }

  test("kmvOverlap withExact=false: no element self-join, estimates unchanged") {
    val df = ((1 to 200).map(i => ("A", i)) ++ (101 to 300).map(i => ("B", i)))
      .toDF("set_id", "elem")
    val est = graft.operators.Sketches.kmvOverlap(df, "set_id", "elem", k = 64,
      withExact = false)
    assert(est.columns.toSeq == Seq("set_a", "set_b", "est_intersection"))
    // the 100-TB contract: the per-pair work is k sketch rows — the plan
    // must join strictly fewer times than the exact-truth variant (whose
    // element self-join is the cost the sketch exists to avoid)
    def joins(p: String): Int = raw"\(\d+\) [A-Za-z]*Join".r.findAllIn(p).length
    val full = graft.operators.Sketches.kmvOverlap(df, "set_id", "elem", k = 64)
    assert(joins(planOf(est)) < joins(planOf(full)),
      "estimate-only path must drop the element self-join")
    val estRow = est.head()
    val fullRow = full.head()
    assert(estRow.getAs[Double]("est_intersection") ==
      fullRow.getAs[Double]("est_intersection"),
      "dropping the truth side must not move the estimate")
  }

  test("hybridSearchRrf: corpus work ends in heap top-ks; fusion never shuffles bodies or vectors") {
    val docs = (0 until 64).map(i =>
      (i.toLong, (0 until 15).map(j => s"w${(i * 7 + j) % 53}").mkString(" ")))
      .toDF("doc_id", "text")
    val emb = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 2.0 + j))))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Retrieval.hybridSearchRrf(docs, "text", "doc_id",
      emb, "embedding", "vec_id", queryTerms = Seq("w1", "w2"), queryId = 0L,
      topKEach = 10, topK = 5)
    val plan = planOf(out)
    // each component retriever must end in a heap top-k (TakeOrdered),
    // so the rank windows and the fusion join only ever see ≤topKEach
    // rows — never a corpus-wide global sort
    val heaps = raw"\(\d+\) TakeOrderedAndProject".r.findAllIn(plan).length
    assert(heaps >= 2, s"both retriever top-ks must be heaps (got $heaps):\n${plan.take(1500)}")
    // no exchange may carry document text or embedding vectors: BM25
    // shuffles (doc_id, term, counts), the knn side broadcasts the
    // 1-row query and heap-reduces — fused frames are rank-only
    val bulky = exchanges(plan).filter { case (args, input) =>
      (args + input).contains("text#") || (args + input).contains("embedding#") }
    assert(bulky.isEmpty, s"corpus bodies/vectors in a shuffle: $bulky")
    assert(!plan.contains("CartesianProduct"),
      "scalar/query broadcasts must never become a materialized cross join")
    assert(out.count() == 5)
  }

  test("correlationMatrix: bucket equi-join, never a cartesian pair blow-up") {
    val series = (0 until 100).flatMap(t => Seq(
      ("A", t.toLong, 1.0 * t), ("B", t.toLong, 2.0 * t), ("C", t.toLong, 100.0 - t)))
      .toDF("k", "t", "v")
    val plan = planOf(graft.operators.Relational.correlationMatrix(series, "k", "t", "v"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must ride the bucket equi-join:\n${plan.take(2000)}")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      "moment sums must be a partial-aggregable groupBy")
  }

  test("removeTopComponent: the output projection is zero-exchange") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(4)(j => (i * (j + 1)).toDouble / 10)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.removeTopComponent(
      vecs, "embedding", "vec_id", iters = 2)
    val plan = planOf(out)
    assert(!plan.contains("Exchange"),
      s"the corpus-side projection must not shuffle:\n${plan.take(1500)}")
  }

  test("volumeBars and tripleBarrier: keyed joins/windows only, never a cartesian blow-up") {
    val ticks = (0 until 200).map(i =>
      ("s" + (i % 3), i.toLong, 100.0 + i % 7, 3.0 + i % 2))
      .toDF("k", "t", "p", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val vb = planOf(graft.operators.Resample.volumeBars(
      ticks, "ts", "p", "v", "t", Seq("k"), threshold = 10.0))
    assert(!vb.contains("CartesianProduct") && !vb.contains("BroadcastNestedLoopJoin"))
    val tb = planOf(graft.operators.Labeling.tripleBarrier(
      ticks, Seq("k"), "ts", "p", "t", horizonUs = 50L, upPct = 0.1, dnPct = 0.05))
    assert(!tb.contains("CartesianProduct") && !tb.contains("BroadcastNestedLoopJoin"),
      s"the horizon scan must ride the series-key equi-join:\n${tb.take(1500)}")
    // round-7 pin: the horizon BUCKET must be an equi-join key, not just
    // a residual range condition — the key-only shape inspects all
    // same-key pairs (104 s honest at sf0.1; the round-6 "measured
    // linear" claim was a count()-pruned artifact)
    assert(tb.contains("_e_bkt"),
      s"tripleBarrier's band join must carry the bucket equi-key:\n${tb.take(1500)}")
  }

  test("hayashiYoshida and eventStudy: bucket/marker equi-joins, no cartesian") {
    val ticks = (0 until 300).map(i =>
      ("s" + (i % 3), i.toLong * 7, 100.0 + i % 11))
      .toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val hy = planOf(graft.operators.Relational.hayashiYoshida(
      ticks, "k", "ts", "v", "t", bucketUs = 64L))
    assert(!hy.contains("CartesianProduct") && !hy.contains("BroadcastNestedLoopJoin"),
      s"the interval-overlap scan must ride the bucket equi-key:\n${hy.take(1500)}")
    assert(hy.contains("_bkt"),
      s"hayashiYoshida's join must carry the bucket equi-key:\n${hy.take(1500)}")
    val series = (0 until 100).map(i => ("A", i.toLong, i.toDouble)).toDF("k", "b", "v")
    val es = planOf(graft.operators.Relational.eventStudy(
      series, "k", "b", "v", Seq(10L, 50L).toDF("m"), maxOffset = 2))
    assert(!es.contains("CartesianProduct") && !es.contains("BroadcastNestedLoopJoin"),
      s"markers must equi-join the series frame on the shifted bucket:\n${es.take(1500)}")
  }

  test("containmentJoin and bookSnapshots: keyed equi-joins only, no cartesian") {
    val docs = (0 until 60).map(i =>
      (i.toLong, (0 until 30).map(j => s"w${(i * 7 + j) % 41}").mkString(" ")))
      .toDF("doc_id", "text")
    val cj = planOf(graft.operators.Dedup.containmentJoin(
      docs, "text", "doc_id", shingleN = 3, threshold = 0.8, cache = false))
    assert(!cj.contains("CartesianProduct") && !cj.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter candidates must equi-join on the shingle hash:\n${cj.take(1500)}")
    val deltas = (0 until 200).map(i =>
      ("s" + (i % 2), i.toLong, i.toLong,
        if (i % 2 == 0) "bid" else "ask", (i % 9 + 1).toDouble, (i % 5).toDouble))
      .toDF("k", "t", "id", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val bs = planOf(graft.features.OrderbookFeatures.bookSnapshots(
      deltas, Seq("k"), "ts", "id", stepUs = 40L, nLevels = 2))
    assert(!bs.contains("CartesianProduct") && !bs.contains("BroadcastNestedLoopJoin"),
      s"the level-grid probe and as-of pass must stay keyed:\n${bs.take(1500)}")
  }

  test("drawdownStats: single corpus pass — one Window, one aggregate, no self-join") {
    val series = (0 until 200).map(i =>
      ("s" + (i % 3), i.toLong, 100.0 + (i % 13) - (i % 7)))
      .toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val plan = planOf(graft.functions.TaIndicators.drawdownStats(
      series, Seq("k"), "ts", "v"))
    // rounds 2–6 elected the trough via a self-join against the windowed
    // frame, running the running-max Window TWICE; the min_by struct
    // election keeps it to exactly one Window node and no join at all
    val windows = raw"\(\d+\) Window".r.findAllIn(plan).length
    assert(windows == 1, s"expected exactly one Window pass, got $windows:\n${plan.take(1500)}")
    assert(!plan.contains("Join"),
      s"trough election must live inside the aggregate, not a self-join:\n${plan.take(1500)}")
    // the min_by struct election is ONE grouped aggregate: a sort-based
    // agg pair (partial+final) over the keyed exchange and nothing else
    val aggs = raw"\(\d+\) (Hash|Sort|ObjectHash)Aggregate".r.findAllIn(plan).length
    assert(aggs <= 2, s"expected one partial+final aggregate pair, got $aggs:\n${plan.take(1500)}")
  }

  test("psiDrift, micropriceSeries, ofiSeries: keyed joins and broadcast bounds, no nested-loop blow-up") {
    val drift = (0 until 300).map(i =>
      ("k" + (i % 3), i % 2 == 0, (i % 10).toDouble + (i % 3)))
      .toDF("k", "ref", "v")
    val pd = planOf(graft.operators.Relational.psiDrift(drift, Seq("k"), "v", col("ref")))
    assert(!pd.contains("CartesianProduct"),
      s"psiDrift joins must stay keyed/broadcast:\n${pd.take(1500)}")
    assert(pd.contains("BroadcastExchange") || pd.contains("BroadcastHashJoin"),
      "the key-sized bounds/totals frames must broadcast")
    val book = (0 until 120).map(i =>
      ("s" + (i % 2), i.toLong / 4, if (i % 2 == 0) "bid" else "ask",
        100.0 + i % 5, 1.0 + i % 3))
      .toDF("symbol", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    for (plan <- Seq(
        planOf(graft.features.OrderbookFeatures.micropriceSeries(book, Seq("symbol"))),
        planOf(graft.features.OrderbookFeatures.ofiSeries(book, Seq("symbol"))))) {
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"best-level join must be a (keys, ts) equi-join:\n${plan.take(1500)}")
    }
  }

  test("ofiMultiLevel: one series-keyed exchange; rank/lag windows and the agg are sort-only on top") {
    val book = (0 until 240).map(i =>
      ("s" + (i % 2), i.toLong / 8, if (i % 2 == 0) "bid" else "ask",
        100.0 + i % 7, 1.0 + i % 3))
      .toDF("symbol", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val plan = planOf(graft.features.OrderbookFeatures.ofiMultiLevel(
      book, nLevels = 3, Seq("symbol")))
    // hash(symbol) satisfies every downstream clustering (subset rule):
    // the (symbol, ts, side) rank window, the (symbol, side, rn) lag
    // window and the (symbol, ts) agg must all reuse the ONE exchange
    val shuffles = raw"\(\d+\) Exchange".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly one exchange (the symbol repartition), got $shuffles:\n${plan.take(2000)}")
  }

  test("clusterBalancedSample: assignment is a zero-shuffle projection; rates broadcast back") {
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 2.0 + j))))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.clusterBalancedSample(
      vecs, "embedding", "vec_id", k = 4, iters = 1)
    val plan = planOf(out)
    // the corpus-side path: nearest-centroid assignment is a per-row
    // codegen projection against literal centroids, and the per-cluster
    // rate table joins back via broadcast — the only hash exchange is
    // the skinny cluster-count agg (cluster_id, count)
    assert(plan.contains("BroadcastExchange"),
      s"rate table must broadcast:\n${plan.take(1500)}")
    val bulky = exchanges(plan).filter { case (args, input) =>
      (args + input).contains("embedding#") || (args + input).contains("v#") }
    assert(bulky.isEmpty, s"vectors must never shuffle: $bulky")
    assert(!plan.contains("CartesianProduct"))
  }

  test("round-8 ops: ledoitWolf pair equi-join, bookSnapshotFold keyed, containment probe equi-joins") {
    // ledoitWolfCovariance: the pair frame must ride the bucket
    // equi-join (the correlationMatrix discipline); N/T are driver
    // scalars so NO one-row crossJoin reaches the plan either
    val series = (0 until 100).flatMap(t => Seq(
      ("A", t.toLong, 1.0 * t), ("B", t.toLong, 2.0 * t), ("C", t.toLong, 100.0 - t)))
      .toDF("k", "t", "v")
    val lw = planOf(graft.operators.Relational.ledoitWolfCovariance(
      series, "k", "t", "v", scale = 1e4, pairScale = 1e4))
    assert(!lw.contains("CartesianProduct") && !lw.contains("BroadcastNestedLoopJoin"),
      s"pair products must equi-join on the bucket:\n${lw.take(1500)}")
    // bookSnapshotFold: probe and as-of stages stay keyed
    import graft.operators.MarketIncremental
    val cfg = MarketIncremental.BookCfg(Seq("k"), "ts", "side", "price",
      "amount", "t", stepUs = 40L, nLevels = 2)
    val deltas = (0 until 200).map(i =>
      ("s" + (i % 2), i.toLong, if (i % 2 == 0) "bid" else "ask",
        (i % 9 + 1).toDouble, (i % 5).toDouble))
      .toDF("k", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val (snaps, _, _) = MarketIncremental.bookSnapshotFold(
      MarketIncremental.emptyBook(spark, cfg),
      MarketIncremental.emptyBookCursor(spark, cfg), deltas, cfg)
    val bf = planOf(snaps)
    assert(!bf.contains("CartesianProduct") && !bf.contains("BroadcastNestedLoopJoin"),
      s"the fold's probe/as-of must stay keyed:\n${bf.take(1500)}")
    // containmentAgainstIndex: both probe directions are shingle-hash
    // equi-joins against the persisted postings
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_ct").toString
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => s"w${(i * 7 + j) % 41}").mkString(" ")))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeContainmentIndex(docs, "text", "doc_id", dir)
    val probe = (100 until 110).map(i =>
      (i.toLong, (0 until 20).map(j => s"w${(i * 5 + j) % 41}").mkString(" ")))
      .toDF("doc_id", "text")
    val cp = planOf(graft.operators.Dedup.containmentAgainstIndex(
      spark, dir, probe, "text", "doc_id", cache = false))
    assert(!cp.contains("CartesianProduct") && !cp.contains("BroadcastNestedLoopJoin"),
      s"the incremental probe must equi-join on h:\n${cp.take(1500)}")
  }

  test("round-8 stats kit: hurst/halfLife shifted equi-joins, engleGranger broadcast coef join-back") {
    val series = (0 until 100).flatMap(t => Seq(
      ("A", t.toLong, 100.0 + (t % 7) - (t % 3)),
      ("B", t.toLong, 50.0 + 2.0 * (t % 7)),
      ("C", t.toLong, 10.0 + (t % 11)))).toDF("k", "t", "v")
    // hurstExponent: the increment join and the ×|ms| explode must stay
    // keyed — a cartesian here would be quadratic in the series length
    val hp = planOf(graft.operators.Relational.hurstExponent(
      series, "k", "t", "v", ms = Seq(1, 2, 4), scale = 1e4))
    assert(!hp.contains("CartesianProduct") && !hp.contains("BroadcastNestedLoopJoin"),
      s"hurst increment/block frames must equi-join:\n${hp.take(1500)}")
    val hl = planOf(graft.operators.Relational.arHalfLife(
      series, "k", "t", "v", scale = 1e4))
    assert(!hl.contains("CartesianProduct") && !hl.contains("BroadcastNestedLoopJoin"),
      s"halfLife pair frame must equi-join:\n${hl.take(1500)}")
    // engleGranger: the tiny pair-coef frame must BROADCAST back onto
    // the paired rows (never shuffle the corpus against it), and every
    // join — pairing, join-back, Δe shift, final assembly — stays keyed
    val eg = planOf(graft.operators.Relational.engleGranger(
      series, "k", "t", "v", scale = 1e4, residScale = 1e6))
    assert(eg.contains("BroadcastExchange"),
      s"coef join-back must broadcast:\n${eg.take(1500)}")
    assert(!eg.contains("CartesianProduct") && !eg.contains("BroadcastNestedLoopJoin"),
      s"engleGranger joins must all be equi:\n${eg.take(1500)}")
  }

  test("backtest rides ONE keyed sort: windows share the exchange, agg adds none") {
    val df = (0 until 200).map(i =>
      (s"s${i % 4}", i.toLong, i.toLong, 100.0 + i % 17,
        if (i % 3 == 0) 1.0 else -1.0))
      .toDF("k", "t", "tb", "p", "sig")
    val plan = planOf(graft.operators.Backtest.signalBacktest(
      df, Seq("k"), "t", "p", "sig", "tb", costBps = 10.0))
    // every window spec keyed by the series key — no global sort
    val specs = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("k#")),
      s"unkeyed backtest window: $specs")
    // one hash exchange for the whole window+agg chain (same keys), one
    // range exchange for the final orderBy — nothing else
    val nEx = raw"\(\d+\) Exchange".r.findAllIn(plan).length
    assert(nEx <= 2,
      s"backtest should shuffle once (plus the display sort), got $nEx:\n${plan.take(1800)}")
    // varCvar: corpus joins the key-sized bounds via broadcast only
    val vc = planOf(graft.operators.Backtest.varCvar(
      df.withColumnRenamed("p", "r"), Seq("k"), "r"))
    assert(vc.contains("BroadcastExchange"),
      s"varCvar bounds must broadcast:\n${vc.take(1500)}")
    // spearman: rank windows keyed by the bucket key
    val sp = planOf(graft.operators.Relational.spearmanIc(
      df.withColumn("y", col("p") * col("p")), Seq("k"), "p", "y"))
    val spSpecs = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(sp).map(_.group(1)).toList
    assert(spSpecs.nonEmpty && spSpecs.forall(_.contains("k#")),
      s"unkeyed spearman window: $spSpecs")
  }

  test("round-10 window chains: one keyed exchange, no joins (trendScan/sadf/permEntropy)") {
    val df = (0 until 200).map(i =>
      ("S" + (i % 3), i.toLong, 10.0 + (i % 11) * 0.3)).toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    def audit(p: String, name: String): Unit = {
      val nEx = raw"\(\d+\) Exchange".r.findAllIn(p).length
      assert(nEx == 1, s"$name should shuffle exactly once, got $nEx:\n${p.take(1500)}")
      assert(!p.contains("Join"), s"$name must not join:\n${p.take(1200)}")
      // every window rides the series key — never a global sort
      val specs = "windowspecdefinition\\(([^,]+),".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(specs.nonEmpty && specs.forall(_.contains("k#")),
        s"unkeyed $name window: $specs")
    }
    audit(planOf(graft.operators.Labeling.trendScanLabel(
      df, Seq("k"), "ts", "v", "t", spans = Seq(3, 6))), "trendScanLabel")
    audit(planOf(graft.functions.TaIndicators.sadf(
      df, Seq("k"), "ts", "v", "t", windows = Seq(5, 8))), "sadf")
    audit(planOf(graft.functions.TaIndicators.permutationEntropy(
      df, Seq("k"), "ts", "v", "t", window = 8)), "permutationEntropy")
    // runBars: the RunBarId scan + OHLC agg share the series partitioning
    // (one window exchange + the groupBy's — the imbalanceBars shape)
    val rb = planOf(graft.operators.Resample.runBars(
      df, "ts", "v", "t", Seq("k"), threshold = 3L))
    val rbEx = raw"\(\d+\) Exchange".r.findAllIn(rb).length
    assert(rbEx <= 2, s"runBars should cost the imbalanceBars shape, got $rbEx")
    // cscvPbo: the corpus is touched by ONE (strategy, block) agg; no
    // corpus-sized window (windows live on the combo frame only)
    val pbo = planOf(graft.operators.Backtest.cscvPbo(
      df.withColumn("r", col("v")), "k", "ts", "r", blocks = 2))
    assert(pbo.contains("BroadcastExchange"),
      s"combo frame must broadcast:\n${pbo.take(1200)}")
  }

  test("averageUniqueness: O(ticks+spans) sweep — NO tick×span join, series-keyed windows") {
    import spark.implicits._
    val ticks = (0L to 50L).map(t => ("S", t)).toDF("k", "ts")
    val spans = (0L to 20L).map(i => ("S", i, i, i + 10L)).toDF("k", "id", "t0", "t1")
    val p = planOf(graft.operators.Labeling.averageUniqueness(
      ticks, spans, Seq("k"), "ts", "id", "t0", "t1", bucketUs = 4L))
    // the round-10 shape joined every tick to every covering span
    // (pair volume ~ density², the scale-killer VERDICT r10 flagged);
    // the sweep must not join at all — only union + window + aggregate
    assert(!p.contains("Join"), s"averageUniqueness must not join:\n${p.take(2000)}")
    // every window rides the series key — never a global sort
    val specs = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("k#")),
      s"unkeyed averageUniqueness window: $specs")
  }

  test("betSizing and leeReady: join-free union sweeps on series-keyed windows") {
    import spark.implicits._
    def keyed(p: String, name: String): Unit = {
      assert(!p.contains("Join"), s"$name must not join:\n${p.take(1500)}")
      val specs = "windowspecdefinition\\(([^,]+),".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(specs.nonEmpty && specs.forall(_.contains("k#")),
        s"unkeyed $name window: $specs")
    }
    val bets = (1L to 40L).map(i => ("k" + (i % 4), i, i + 10L, 0.6, 1L))
      .toDF("k", "t0", "t1", "p", "side")
    keyed(planOf(graft.operators.Backtest.betSizing(
      bets, Seq("k"), "t0", "t1", "p", "side", 0.05)), "betSizing")
    // leeReady: the as-of is the tagged-union window (NO join node),
    // and the tick-rule window shares the same series partitioning
    val ts0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val trades = (1L to 40L).map(i => ("k" + (i % 4), ts0, 100.0 + i, i))
      .toDF("k", "tts", "price", "id")
    val quotes = (1L to 8L).map(i => ("k" + (i % 4), ts0, 99.0, 101.0))
      .toDF("k", "qts", "bid", "ask").distinct()
    keyed(planOf(graft.features.OrderbookFeatures.leeReady(
      trades, quotes, Seq("k"), "tts", "price", "id", "qts", "bid", "ask")),
      "leeReady")
  }

  test("leadingEigen: vector path is broadcast-only — no sort-merge join, no cartesian blow-up") {
    import spark.implicits._
    val cov = Seq(("A", "A", 2.0), ("A", "B", 1.0), ("B", "B", 2.0),
      ("A", "C", 0.5), ("B", "C", 0.2), ("C", "C", 3.0))
      .toDF("key_a", "key_b", "shrunk_cov")
    val p = planOf(graft.operators.Backtest.leadingEigen(cov, rounds = 3))
    assert(!p.contains("SortMergeJoin"),
      s"eigen rounds must broadcast the key-sized vector, not sort-merge:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"scalar joins must be broadcast nested-loop, not cartesian:\n${p.take(1500)}")
  }

  test("minVarianceCG / ercIterative: vector paths broadcast-only like leadingEigen") {
    import spark.implicits._
    val cov = Seq(("A", "A", 2.0), ("A", "B", 1.0), ("B", "B", 2.0),
      ("A", "C", 0.5), ("B", "C", 0.2), ("C", "C", 3.0))
      .toDF("key_a", "key_b", "shrunk_cov")
    val pCg = planOf(graft.operators.Backtest.minVarianceCG(cov, rounds = 2))
    assert(!pCg.contains("SortMergeJoin"),
      s"CG rounds must broadcast the key-sized state, not sort-merge:\n${pCg.take(1500)}")
    assert(!pCg.contains("CartesianProduct"),
      s"CG scalar joins must be broadcast nested-loop, not cartesian:\n${pCg.take(1500)}")
    val pErc = planOf(graft.operators.Backtest.ercIterative(cov, rounds = 2))
    assert(!pErc.contains("SortMergeJoin"),
      s"ERC rounds must broadcast the key-sized state:\n${pErc.take(1500)}")
    assert(!pErc.contains("CartesianProduct"),
      s"ERC joins must stay broadcast:\n${pErc.take(1500)}")
  }

  test("round-11 tail compositions: momentum join-free, tail-dep one equi-join, semivariance keyed") {
    // q_xs_momentum: windows + aggs only — the ranked long-short needs
    // NO join at any density
    val pm = planOf(SparkEntry.queries("q_xs_momentum")(spark, sfDir))
    assert(!pm.contains("Join"), s"xs_momentum must not join:\n${pm.take(1500)}")
    // q_tail_dep: the pair frame rides bucket equi-joins (hash or
    // sort-merge, both keyed) — never a cartesian product
    val pt = planOf(SparkEntry.queries("q_tail_dep")(spark, sfDir))
    assert(!pt.contains("CartesianProduct") && !pt.contains("BroadcastNestedLoopJoin"),
      s"tail_dep pair frame must stay a keyed equi-join:\n${pt.take(1500)}")
    // q_semivariance: one series-keyed window + one grouped agg, no joins
    val ps = planOf(SparkEntry.queries("q_semivariance")(spark, sfDir))
    assert(!ps.contains("Join"), s"semivariance must not join:\n${ps.take(1500)}")
  }

  test("regimeProb: join-free series-keyed window recursion") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 60L).map(i => ("k" + (i % 3), i, if (i % 2 == 0) 1.0 else -1.0))
      .toDF("k", "t", "sgn")
    val w = Window.partitionBy($"k").orderBy($"t")
    val p = planOf(df.select($"k", $"t",
      graft.functions.windows.regimeProb($"sgn", 0.04, 0.04, 0.35, 0.65, w)
        .as("p")))
    assert(!p.contains("Join"), s"regimeProb must not join:\n${p.take(1200)}")
    val specs = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("k#")),
      s"unkeyed regimeProb window: $specs")
  }

  test("round-13 test panel: split tests join-free and keyed, pair tests equi-only") {
    import graft.operators.Relational
    val df = (0 until 120).map(i =>
      ("S" + (i % 3), i.toLong, 10.0 + (i % 7) * 0.4)).toDF("k", "hb", "v")
    // the half-split/prefix family promises: zero joins, every window
    // partitioned by the series key (never a global sort)
    def joinFree(p: String, name: String): Unit = {
      assert(!p.contains("Join"), s"$name must not join:\n${p.take(1200)}")
      val specs = "windowspecdefinition\\(([^,]+),".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(specs.nonEmpty && specs.forall(_.contains("_k#")),
        s"unkeyed $name window: $specs")
    }
    joinFree(planOf(Relational.ksTwoSample(df, "k", "hb", "v")), "ksTwoSample")
    joinFree(planOf(Relational.cvmTwoSample(df, "k", "hb", "v")), "cvmTwoSample")
    joinFree(planOf(Relational.chowTest(df, "k", "hb", "v")), "chowTest")
    // supChow: the whole trimmed ladder rides keyed windows — ONE data
    // exchange (+ the display sort's range partitioning), zero joins
    val sc = planOf(Relational.supChow(df, "k", "hb", "v"))
    joinFree(sc, "supChow")
    val scEx = raw"\(\d+\) Exchange".r.findAllIn(sc).length
    assert(scEx <= 2, // the keyed data exchange + the display sort's range
      s"supChow should ride one keyed exchange, got $scEx:\n${sc.take(1500)}")
    // the ordered-pair regressions join, but only EQUI — a nested-loop
    // or cartesian here would be the quadratic blowup sneaking back
    Seq("granger" -> planOf(Relational.granger(df, "k", "hb", "v")),
      "transferEntropy" -> planOf(Relational.transferEntropy(df, "k", "hb", "v")),
      "jarqueBera" -> planOf(Relational.jarqueBera(df, "k", "hb", "v")),
      "archLm" -> planOf(Relational.archLm(df, "k", "hb", "v"))).foreach {
      case (name, p) =>
        assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
          s"$name must stay equi-join-only:\n${p.take(1200)}")
    }
  }
}
