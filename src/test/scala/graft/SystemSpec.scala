package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.features.MarketFeatures
import graft.jobs.{Backfill, Scheduler}
import graft.sources.{Connectors, LakeWriter}
import graft.store.FeatureStore
import graft.streaming.StreamingPipelines
import graft.types.Schemas

/** Store / lake / connectors / backfill / streaming specs
  * (reference §5: store roundtrip, e2e flows, adapter fixtures). */
class SystemSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  /** Local HTTP fixture: a JDK HttpServer whose handler script is a
    * per-path queue of (status, body) responses; repeats the last entry
    * once drained. Returns (baseUrl, hitCounter, stop). */
  private def httpFixture(routes: Map[String, Seq[(Int, String)]])
      : (String, java.util.concurrent.atomic.AtomicInteger, () => Unit) = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val state = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    routes.foreach { case (path, script) =>
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        hits.incrementAndGet()
        val i = state.merge(path, 1, (a, b) => a + b) - 1
        val (code, body) = script(math.min(i, script.length - 1))
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      })
    }
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}",
      hits, () => server.stop(0))
  }

  test("HttpFetcher: transient 5xx retries with the deterministic jittered " +
    "backoff, non-retryable 4xx fails fast, exhaustion reraises (async_infra.py:27-66)") {
    import graft.sources.HttpFetcher
    val (base, hits, stop) = httpFixture(Map(
      "/flaky" -> Seq((500, "boom"), (503, "boom"), (200, "ok")),
      "/teapot" -> Seq((418, "no")),
      "/dead" -> Seq((500, "always"))))
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val p = HttpFetcher.Policy(maxAttempts = 5, baseWaitMs = 100, maxWaitMs = 400)
      // two transient failures then success: body lands, 3 requests made
      assert(HttpFetcher.get(s"$base/flaky", policy = p, sleeper = sleeps += _) == "ok")
      assert(hits.get() == 3)
      // the waits are the deterministic tenacity curve:
      // uniform(0, min(max, base*2^(k-1))) from the portable hash
      assert(sleeps.toSeq == Seq(
        HttpFetcher.backoffMs(s"$base/flaky", 1, p),
        HttpFetcher.backoffMs(s"$base/flaky", 2, p)))
      assert(sleeps.forall(w => w >= 0 && w < 400))
      // 418 is not transient: one request, loud immediate failure
      hits.set(0)
      val e4 = intercept[HttpFetcher.HttpFailure] {
        HttpFetcher.get(s"$base/teapot", policy = p, sleeper = _ => ())
      }
      assert(e4.status == 418 && e4.attempts == 1 && hits.get() == 1)
      // persistent 5xx: exactly maxAttempts requests, then reraise
      hits.set(0)
      val e5 = intercept[HttpFetcher.HttpFailure] {
        HttpFetcher.get(s"$base/dead", policy = p.copy(maxAttempts = 3),
          sleeper = _ => ())
      }
      assert(e5.status == 500 && e5.attempts == 3 && hits.get() == 3)
      // connect failure (closed port) is the transient IO class
      val eIo = intercept[HttpFetcher.HttpFailure] {
        HttpFetcher.get("http://127.0.0.1:1/nope",
          policy = p.copy(maxAttempts = 2, connectTimeoutMs = 300),
          sleeper = _ => ())
      }
      assert(eIo.status == -1 && eIo.attempts == 2)
    } finally stop()
  }

  test("Metrics: ingest-span status protocol, Prometheus exposition, lake snapshot (metrics.py parity)") {
    val m = new graft.metrics.Metrics
    // deterministic clock: 30ms then 600ms spans
    val ticks = Iterator(0L, 30000000L, 0L, 600000000L, 0L, 1000000L)
    val clock = () => ticks.next()
    assert(m.ingestSpan("market", clock) { set => set("ok"); 42 } == 42)
    m.ingestSpan("market", clock) { set => set("no_data"); () }
    intercept[RuntimeException] {
      m.ingestSpan("market", clock) { _ => throw new RuntimeException("boom") }
    }
    m.rowsWritten("market", 120L)
    val exp = m.exposition()
    // _IngestSpan default: the crash counted as error, never ok
    assert(exp.contains("""ingest_requests_total{domain="market",status="ok"} 1"""))
    assert(exp.contains("""ingest_requests_total{domain="market",status="no_data"} 1"""))
    assert(exp.contains("""ingest_requests_total{domain="market",status="error"} 1"""))
    assert(exp.contains("""feature_rows_written_total{domain="market"} 120"""))
    // histogram: cumulative le-buckets — 30ms lands in le=0.05 onward,
    // 600ms first in le=1.0; count 3, exact micro-summed durations
    assert(exp.contains("""ingest_duration_seconds_bucket{domain="market",le="0.02"} 1"""))
    assert(exp.contains("""ingest_duration_seconds_bucket{domain="market",le="0.05"} 2"""))
    assert(exp.contains("""ingest_duration_seconds_bucket{domain="market",le="0.5"} 2"""))
    assert(exp.contains("""ingest_duration_seconds_bucket{domain="market",le="1.0"} 3"""))
    assert(exp.contains("""ingest_duration_seconds_bucket{domain="market",le="+Inf"} 3"""))
    assert(exp.contains("""ingest_duration_seconds_count{domain="market"} 3"""))
    assert(exp.contains("""ingest_duration_seconds_sum{domain="market"} 0.631"""))
    // the lake snapshot carries the same samples
    val snap = m.snapshot(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(snap(("feature_rows_written_total", """{domain="market"}""")) == 120.0)
    assert(snap(("ingest_duration_seconds_count", """{domain="market"}""")) == 3.0)
    // one series = one bucket ladder: re-registering with a different
    // ladder must fail loudly, same ladder (any order) is idempotent
    m.histogram("api_seconds", buckets = Seq(0.1, 1.0)).observe(0.05)
    assert(m.histogram("api_seconds", buckets = Seq(1.0, 0.1)).count.sum() == 1)
    val clash = intercept[IllegalArgumentException] {
      m.histogram("api_seconds", buckets = Seq(5.0, 30.0))
    }
    assert(clash.getMessage.contains("already registered"))
  }

  test("HttpFetcher.fetchJson: rate-limited fetch loop feeds the CCXT normalizer end-to-end") {
    import graft.sources.{Connectors, HttpFetcher}
    val payload =
      """{"ohlcv": [[1700000000000, 1.0, 2.0, 0.5, 1.5, 10.0],
                    [1700000060000, 1.5, 2.5, 1.0, 2.0, 11.0]]}"""
    val (base, hits, stop) = httpFixture(Map("/ohlcv" -> Seq((200, payload))))
    try {
      // injectable clock: two calls 0ms apart must sleep minIntervalMs
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val t = new java.util.concurrent.atomic.AtomicLong(1000L)
      val raw = HttpFetcher.fetchJson(spark,
        Seq(s"$base/ohlcv", s"$base/ohlcv"),
        HttpFetcher.Policy(minIntervalMs = 250),
        clock = () => t.get(), sleeper = sleeps += _)
      assert(hits.get() == 2 && sleeps.contains(250L),
        s"second call must wait the ccxt-style min interval: $sleeps")
      val market = Connectors.CcxtOhlcv("BTC/USDT", "binance", "1m").normalize(raw)
      val rows = market.orderBy("timestamp").collect()
      assert(rows.length == 4, "two urls x two bars through the normalizer")
      assert(rows.map(_.getAs[Double]("close")).toSeq == Seq(1.5, 1.5, 2.0, 2.0))
      assert(rows.forall(_.getAs[String]("symbol") == "BTC/USDT"))
    } finally stop()
  }

  test("lake writer: hive layout, sanitized partition values, sorted files") {
    val dir = tmp()
    LakeWriter.write(ohlcvRamp(10).withColumn("symbol", lit("BTC/USDT")),
      dir, Schemas.MARKET, "timestamp", partitions = Seq("exchange", "symbol", "dt"))
    val paths = Files.walk(new java.io.File(dir).toPath).iterator()
    val all = Iterator.continually(paths).takeWhile(_.hasNext).map(_.next().toString).toList
    assert(all.exists(_.contains("exchange=binance")))
    assert(all.exists(_.contains("symbol=BTC_USDT"))) // '/' sanitized (utils.py:53-58)
    val back = LakeWriter.read(spark, dir, Map("exchange" -> "binance"))
    assert(back.count() == 10)
  }

  test("lake writer: strict single-dt mode rejects multi-day batches (utils.py:110-114)") {
    val dir = tmp()
    val twoDays = ohlcvRamp(10).withColumn("timestamp",
      col("timestamp") + expr("make_interval(0,0,0,1,0,0,0) * (volume > 10.4)::int"))
    intercept[IllegalArgumentException] {
      LakeWriter.write(twoDays, dir, Schemas.MARKET, "timestamp", strictSingleDt = true)
    }
  }

  test("feature store roundtrip: upsert → point/range read, key shape, last-write-wins") {
    val dir = tmp()
    val store = new FeatureStore(spark, dir)
    val feats = MarketFeatures.build(ohlcvRamp(30))
    store.upsert(feats, "market", writeSeq = 1L)
    // range read, newest first, limit (redis_store.py:221-259)
    val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
    val r = store.rangeRead("market", "btc/usdt", "1m", base, base + 3600, limit = 5, reverse = true)
      .collect()
    assert(r.length == 5)
    assert(r.head.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond == base + 29 * 60)
    assert(r.head.getAs[String]("symbol") == "BTC-USDT") // canon key (redis_store.py:62-65)
    // point read
    val p = store.pointRead("market", "BTC-USDT", "1m", base + 60)
    assert(p.count() == 1)
    // last-write-wins overwrite: same keys, new payload
    val overwrite = feats.withColumn("ret_1", lit(42.0))
    store.upsert(overwrite, "market", writeSeq = 2L)
    val after = store.pointRead("market", "BTC-USDT", "1m", base + 60).head()
    assert(after.getAs[Double]("ret_1") == 42.0)
    assert(store.rangeRead("market", "BTC-USDT", "1m", base, base + 3600,
      limit = Int.MaxValue).count() == 30) // no duplicates after overwrite
  }

  test("feature store upsert: replaying a batch with its original writeSeq is a no-op", Stateful) {
    val dir = tmp()
    val store = new FeatureStore(spark, dir)
    val feats = MarketFeatures.build(ohlcvRamp(20))
    store.upsert(feats, "market", writeSeq = 7L)
    def snapshot() = store
      .rangeRead("market", "BTC-USDT", "1m", 0, 4102444800L, limit = Int.MaxValue)
      .collect().map(_.toSeq.map(String.valueOf(_)).mkString("|")).sorted.toSeq
    val before = snapshot()
    // the replay: same rows, same deterministic sequence — the
    // idempotency contract upsert's required writeSeq exists for
    store.upsert(feats, "market", writeSeq = 7L)
    assert(snapshot() == before, "replayed upsert must leave the store byte-identical")
    assert(before.nonEmpty)
  }

  test("feature server: HTTP range/point reads match the store, NaN→null, admin token guard, request metrics") {
    import graft.serving.FeatureServer
    val dir = tmp()
    val store = new FeatureStore(spark, dir)
    store.upsert(MarketFeatures.build(ohlcvRamp(30)), "market", writeSeq = 1L)
    // a payload row with NaN — the serve edge must render it null
    // (same payload schema: the store holds one schema per path)
    store.upsert(MarketFeatures.build(ohlcvRamp(2))
      .withColumn("symbol", lit("NAN-X"))
      .withColumn("ret_1", lit(Double.NaN))
      .withColumn("rvol_5", lit(7.0)),
      "onchain", writeSeq = 1L)
    val m = new graft.metrics.Metrics
    val srv = new FeatureServer(store, Some("sekrit"), metrics = m)
    val port = srv.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(path: String, headers: Map[String, String] = Map.empty,
            post: Boolean = false): (Int, String) = {
      var b = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      if (post) b = b.POST(java.net.http.HttpRequest.BodyPublishers.noBody())
      val r = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
      // range read: row-for-row against the library call (routes.py:768-785)
      val (rc, rb) = get(s"/features/market/range?symbol=BTC-USDT&timeframe=1m" +
        s"&start=$base&end=${base + 3600}&limit=5&reverse=true")
      assert(rc == 200 && rb.startsWith("""{"rows":5,"""), rb)
      val wantTs = store.rangeRead("market", "BTC-USDT", "1m", base, base + 3600,
          limit = 5, reverse = true).collect()
        .map(_.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond)
      val gotTs = """"timestamp":(\d+)""".r.findAllMatchIn(rb)
        .map(_.group(1).toLong).toSeq
      assert(gotTs == wantTs.toSeq, s"got $gotTs want ${wantTs.toSeq}")
      assert(rb.contains(""""ret_1":"""), "payload columns must serialize")
      assert(!rb.contains(""""domain"""") && !rb.contains("_write_seq"),
        "key/bookkeeping columns stay out of the payload")
      // point read: request order, missing epoch skipped (routes.py:698-706)
      val (pc, pb) = get(s"/features/market?symbol=BTC-USDT&timeframe=1m" +
        s"&ts=${base + 120}&ts=99&ts=${base + 60}")
      assert(pc == 200 && pb.startsWith("""{"rows":2,"""), pb)
      val pTs = """"timestamp":(\d+)""".r.findAllMatchIn(pb)
        .map(_.group(1).toLong).toSeq
      assert(pTs == Seq(base + 120, base + 60), s"request order: $pTs")
      // NaN payload renders null, finite sibling survives (_clean_numbers)
      val (_, nb) = get(s"/features/onchain?symbol=NAN-X&timeframe=1m&ts=$base")
      assert(nb.contains(""""ret_1":null""") && nb.contains(""""rvol_5":7.0"""), nb)
      // parameter validation
      assert(get("/features/market?timeframe=1m&ts=1")._1 == 400)
      assert(get(s"/features/market/range?symbol=X&timeframe=1m&start=$base" +
        s"&end=$base&limit=notanint")._1 == 400)
      assert(get("/nope")._1 == 404)
      // admin guard (routes.py:1050-1069): no token 401, wrong 401,
      // bearer accepted, sweep actually drops
      assert(get("/admin/ttl_sweep?cutoff=2026-01-01", post = true)._1 == 401)
      assert(get("/admin/ttl_sweep?cutoff=2026-01-01",
        Map("X-Admin-Token" -> "wrong"), post = true)._1 == 401)
      val (ac, ab) = get("/admin/ttl_sweep?cutoff=2026-01-01",
        Map("Authorization" -> "Bearer sekrit"), post = true)
      assert(ac == 200 && !ab.contains(""""dropped":0"""), ab)
      assert(store.rangeRead("market", "BTC-USDT", "1m", 0, 4102444800L)
        .count() == 0, "the sweep must have dropped the partitions")
      // per-request metrics recorded
      val exp = get("/metrics")._2
      assert(exp.contains("http_requests_total"), exp.take(200))
      assert(exp.contains("""path="/features/{domain}/range""""), exp.take(400))
    } finally srv.stop()
    // unconfigured admin token → 503 (the reference's dev-env refusal)
    val srv2 = new FeatureServer(store, None, metrics = new graft.metrics.Metrics)
    val port2 = srv2.start()
    try {
      val r = client.send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(
          s"http://127.0.0.1:$port2/admin/ttl_sweep?cutoff=2026-01-01"))
        .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 503, r.body())
    } finally srv2.stop()
  }

  test("feature store TTL sweep drops expired dt partitions (jobs/backfill.py:191-215)") {
    val dir = tmp()
    val store = new FeatureStore(spark, dir)
    store.upsert(MarketFeatures.build(ohlcvRamp(30)), "market", writeSeq = 1L)
    assert(store.ttlSweep("2025-01-01").isEmpty)  // nothing older
    assert(store.ttlSweep("2026-01-01").nonEmpty) // all expired
    assert(store.rangeRead("market", "BTC-USDT", "1m", 0, 4102444800L,
      limit = Int.MaxValue).count() == 0)
  }

  test("empty upsert writes nothing and reads stay empty (test_market_pipeline.py:67)") {
    val dir = tmp()
    val store = new FeatureStore(spark, dir)
    store.upsert(MarketFeatures.build(ohlcvRamp(5)).limit(0), "market", writeSeq = 1L)
    assert(new java.io.File(dir).listFiles() == null ||
      new java.io.File(dir).listFiles().isEmpty, "empty batch must not create files")
    assert(store.rangeRead("market", "BTC-USDT", "1m", 0, 4102444800L).count() == 0)
    // and a later real upsert still works against the untouched dir
    store.upsert(MarketFeatures.build(ohlcvRamp(5)), "market", writeSeq = 2L)
    assert(store.rangeRead("market", "BTC-USDT", "1m", 0, 4102444800L).count() > 0)
  }

  test("connectors: ccxt ohlcv fixture → canonical market frame; malformed → schema-stable empty") {
    val fixture = Seq(
      """{"ohlcv": [[1704067200000, 1.0, 2.0, 0.5, 1.5, 10.0], [1704067260000, 1.5, 2.5, 1.0, 2.0, 11.0]]}"""
    ).toDS()
    val raw = spark.read.json(fixture)
    val out = Connectors.CcxtOhlcv("BTC/USDT", "binance", "1m").normalize(raw)
    assert(out.schema.fieldNames.toSeq == Schemas.MARKET.fieldNames.toSeq)
    val rows = out.orderBy("timestamp").collect()
    assert(rows.length == 2 && rows(0).getAs[Double]("close") == 1.5)
    assert(rows(0).getAs[String]("dt") == "2024-01-01")
    val empty = Connectors.CcxtOhlcv("X", "y", "1m")
      .normalize(spark.read.json(Seq("""{"error": "nope"}""").toDS()))
    assert(empty.schema.fieldNames.toSeq == Schemas.MARKET.fieldNames.toSeq && empty.count() == 0)
  }

  test("connectors: covalent balance scaling, reddit fields, news dedupe, sentiment math") {
    val cov = spark.read.json(Seq(
      """{"items": [{"contract_ticker_symbol": "ETH", "balance": "2500000000000000000", "contract_decimals": 18, "contract_address": "0xabc", "contract_name": "Ether"}]}"""
    ).toDS())
    val covOut = Connectors.Covalent(1704067200000L).normalize(cov).head()
    assert(approx(covOut.getAs[Double]("value"), 2.5)) // balance / 10^decimals
    val reddit = spark.read.json(Seq(
      """{"data": {"children": [{"data": {"id": "p1", "author": "u", "title": "t", "selftext": "s", "score": 5, "num_comments": 2, "subreddit": "r", "created_utc": 1704067200}}]}}"""
    ).toDS())
    val rOut = Connectors.Reddit.normalize(reddit).head()
    assert(rOut.getAs[Long]("score") == 5L && rOut.getAs[String]("source") == "reddit")
    val news = spark.read.json(Seq(
      """{"articles": [{"id": "n1", "published_at": "2024-01-01T00:00:00Z", "title": "a", "url": "u", "author": "x", "description": "d"}, {"id": "n1", "published_at": "2024-01-01T00:00:00Z", "title": "a", "url": "u", "author": "x", "description": "d"}]}"""
    ).toDS())
    assert(Connectors.News("rss").normalize(news).count() == 1) // seen-id dedupe
    val sent = Seq((0.9, 0.1), (0.5, 0.5), (0.2, 0.8)).toDF("p_pos", "p_neg")
      .select(Connectors.sentimentSigned(col("p_pos"), col("p_neg")).as("s"),
        Connectors.sentimentLabel(col("p_pos")).as("l")).collect()
    assert(approx(sent(0).getDouble(0), 0.8) && sent(0).getString(1) == "positive")
    assert(sent(1).getString(1) == "neutral" && sent(2).getString(1) == "negative")
  }

  test("twitter ingest scores text through the inference stage (U3)") {
    // no p_pos/p_neg in the payload → the SentimentScorer stage runs:
    // "good good up" → np=3, nn=0 → p_pos = 4/5 → signed = 0.6
    val tweets = spark.read.json(Seq(
      """{"tweets": [{"id": "t1", "created_at": "2024-01-01T00:00:00Z", "text": "good good up", "author_id": "a", "retweets": 1, "likes": 2}]}"""
    ).toDS())
    val scored = Connectors.TwitterSentiment().normalize(tweets).head()
    assert(approx(scored.getAs[Double]("sentiment_score"), 0.6))
    // payload-provided probabilities short-circuit the model
    val withProbs = spark.read.json(Seq(
      """{"tweets": [{"id": "t2", "created_at": "2024-01-01T00:00:00Z", "text": "whatever", "author_id": "a", "retweets": 0, "likes": 0, "p_pos": 0.9, "p_neg": 0.1}]}"""
    ).toDS())
    val direct = Connectors.TwitterSentiment().normalize(withProbs).head()
    assert(approx(direct.getAs[Double]("sentiment_score"), 0.8))
  }

  test("backfill: plan finds holes, fill writes only missing bars (ST5)") {
    val dir = tmp()
    val store = new FeatureStore(spark, dir)
    val full = ohlcvRamp(30)
    val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
    // seed store with features for all but minutes 10..14
    val holey = full.filter(!((unix_timestamp(col("timestamp")) - base) / 60).between(10, 14))
    store.upsert(MarketFeatures.build(holey), "market", writeSeq = 1L)
    val plan = Backfill.planMissing(spark, store, "BTC-USDT", "1m",
      lookbackMinutes = 29, nowEpochSec = base + 29 * 60)
    val missing = plan.missing.collect().map(_.getTimestamp(0).toInstant.getEpochSecond).sorted
    // minute 0's features were dropped by the factory's all-null mask too
    assert(missing.toSeq.contains(base + 10 * 60) && missing.length >= 5)
    val stats = Backfill.fillOnce(spark, store, plan, (lo, hi) =>
      full.filter(unix_timestamp(col("timestamp")).between(lo, hi)),
      writeSeq = base + 29 * 60)
    assert(stats("written") >= 5)
    val refilled = Backfill.planMissing(spark, store, "BTC-USDT", "1m", 19, base + 29 * 60)
    assert(refilled.missing.count() == 0)
  }

  test("persistRaw lands one-row raw payloads under source/symbol/date (S20)") {
    val dir = tmp()
    LakeWriter.persistRaw(spark, dir, "glassnode", "BTC/USD",
      """{"metric": "active_addresses", "value": 123}""", "2024-01-01")
    LakeWriter.persistRaw(spark, dir, "glassnode", "BTC/USD",
      """{"metric": "active_addresses", "value": 456}""", "2024-01-02")
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.filter(col("date") === "2024-01-01").head().getAs[Long]("value") == 123L)
    assert(back.select("symbol").distinct().head().getString(0) == "BTC_USD") // sanitized
  }

  test("legacy year=/month=/day= layout: write, pruned range read, dt reconstruction") {
    val dir = tmp()
    val df = Seq(
      ("2024-01-30T12:00:00Z", 1.0), ("2024-01-31T12:00:00Z", 2.0),
      ("2024-02-01T12:00:00Z", 3.0), ("2024-02-02T12:00:00Z", 4.0))
      .map { case (t, c) => (java.sql.Timestamp.from(java.time.Instant.parse(t)), c) }
      .toDF("timestamp", "close")
      .withColumn("symbol", lit("BTC/USDT")).withColumn("exchange", lit("binance"))
      .withColumn("timeframe", lit("1d"))
    LakeWriter.writeLegacy(df, dir, Schemas.MARKET, "timestamp")
    val walked = Files.walk(new java.io.File(dir).toPath).iterator()
    val all = Iterator.continually(walked).takeWhile(_.hasNext).map(_.next().toString).toList
    assert(all.exists(_.contains("symbol=BTC_USDT")), "legacy layout sanitizes too")
    assert(all.exists(p => p.contains("year=2024") && p.contains("month=1") && p.contains("day=31")))
    // range predicate on the legacy partition columns prunes the listing
    val pruned = LakeWriter.read(spark, dir)
      .filter(LakeWriter.legacyDtRange("2024-01-31", "2024-02-01"))
    assert(pruned.count() == 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // dt reconstruction matches the modern layout's derived column
    val back = LakeWriter.readLegacy(spark, dir).filter(col("dt") === "2024-02-01")
    assert(back.count() == 1 && back.head().getAs[Double]("close") == 3.0)
  }

  test("compact: collapses append-fragmented files, filtered partitions only, row-identical", Stateful) {
    val dir = tmp()
    def day(d: Int, v: Double) = Seq((s"2024-03-0${d}T12:00:00Z", v))
      .map { case (t, c) => (java.sql.Timestamp.from(java.time.Instant.parse(t)), c) }
      .toDF("timestamp", "close")
      .withColumn("symbol", lit("BTC/USDT")).withColumn("exchange", lit("binance"))
      .withColumn("timeframe", lit("1d"))
    // 6 appends into dt=2024-03-01, 2 into dt=2024-03-02
    (1 to 6).foreach(i => LakeWriter.write(day(1, i.toDouble), dir, Schemas.MARKET, "timestamp"))
    (1 to 2).foreach(i => LakeWriter.write(day(2, 10.0 + i), dir, Schemas.MARKET, "timestamp"))
    def files(dt: String) = {
      val d = new java.io.File(s"$dir/dt=$dt")
      Option(d.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".parquet"))
    }
    assert(files("2024-03-01") >= 6, "appends should fragment the partition")
    val before = LakeWriter.read(spark, dir).orderBy("timestamp", "close").collect()
    val n = LakeWriter.compact(spark, dir, "timestamp",
      partitionFilters = Map("dt" -> "2024-03-01"))
    assert(n == 6, s"compact rewrote $n rows, expected 6")
    assert(files("2024-03-01") == 1, "compacted partition should be one file")
    assert(files("2024-03-02") == 2, "unfiltered partition must be untouched")
    val after = LakeWriter.read(spark, dir).orderBy("timestamp", "close").collect()
    assert(before.toSeq == after.toSeq, "compaction changed the data")
  }

  test("DSv2 ticker source: deterministic bars drive ST1 end to end (S4)") {
    val feats = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingPipelines.tickerFeaturesStream(spark,
      Map("symbols" -> "BTC-USDT,ETH-USDT", "startEpochSec" -> "1704067200",
        "stepSec" -> "60", "barsPerBatch" -> "30", "maxBars" -> "30"),
      sink = out => { feats.addAndGet(out.count()); () })
    q.awaitTermination(120000)
    assert(feats.get() > 0, "streamed bars should produce features")
    // raw determinism: the same offsets replay the same bars
    val raw = spark.readStream
      .format(classOf[graft.streaming.TickerSourceProvider].getName)
      .option("symbols", "BTC-USDT,ETH-USDT").option("startEpochSec", "1704067200")
      .option("stepSec", "60").option("barsPerBatch", "30").option("maxBars", "30")
      .load()
    val mq = raw.writeStream.format("memory").queryName("ticker_raw")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    mq.awaitTermination(120000)
    val rows = spark.table("ticker_raw")
    assert(rows.count() == 60) // 30 bars × 2 symbols
    val expected = graft.streaming.TickerSource.bar("BTC-USDT", 5L)._4
    assert(rows.filter(col("symbol") === "BTC-USDT" &&
      col("close") === expected).count() >= 1)
  }

  test("streaming windowed bars: tumbling OHLCV over the ticker stream (ST7)") {
    val raw = spark.readStream
      .format(classOf[graft.streaming.TickerSourceProvider].getName)
      .option("symbols", "BTC-USDT").option("startEpochSec", "1704067200")
      .option("stepSec", "60").option("barsPerBatch", "120").option("maxBars", "120")
      .load()
    val q = StreamingPipelines.windowedBars(raw, "1 hour")
      .writeStream.format("memory").queryName("stream_bars")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val bars = spark.table("stream_bars").orderBy("bar_ts").collect()
    assert(bars.length == 2) // 120 one-minute ticks = two hourly bars
    val expectedHigh = (0L until 60L)
      .map(i => graft.streaming.TickerSource.bar("BTC-USDT", i)._2).max
    assert(bars.head.getAs[Long]("n_ticks") == 60)
    assert(math.abs(bars.head.getAs[Double]("high") - expectedHigh) < 1e-12)
    // open of the first bar is tick 0's open (min_by timestamp)
    assert(bars.head.getAs[Double]("open") ==
      graft.streaming.TickerSource.bar("BTC-USDT", 0L)._1)
  }

  test("streaming session windows: cross-batch merge, watermark closes and emits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingPipelines.sessionWindows(
        mem.toDF().toDF("user_id", "ts"), Seq("user_id"), "ts",
        gap = "60 seconds", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1 opens two sessions; batch 2 EXTENDS user 1's (t=15 merges
      // into [0,10] — cross-batch state) and advances the watermark far
      // past both; batch 3 triggers the emission of the closed sessions
      mem.addData((1L, ts(0)), (1L, ts(10)), (2L, ts(5)))
      q.processAllAvailable()
      mem.addData((1L, ts(15)), (9L, ts(10000)))
      q.processAllAvailable()
      mem.addData((9L, ts(20000)))
      q.processAllAvailable()
      val out = spark.table("sessions").orderBy("user_id").collect()
      assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L),
        s"exactly the watermark-closed sessions emit, got ${out.toSeq}")
      val u1 = out(0)
      assert(u1.getAs[Long]("n_events") == 3L,
        "the batch-2 event must merge into the batch-1 session")
      assert(u1.getAs[Long]("start_us") == 0L && u1.getAs[Long]("end_us") == 15000000L &&
        u1.getAs[Long]("duration_us") == 15000000L)
      assert(out(1).getAs[Long]("n_events") == 1L &&
        out(1).getAs[Long]("duration_us") == 0L)
      // user 9's t=20000 session is still OPEN (nothing advanced the
      // watermark past it) — it must NOT have emitted
      assert(out(2).getAs[Long]("start_us") == 10000L * 1000000L &&
        out.forall(_.getAs[Long]("start_us") != 20000L * 1000000L))
    } finally q.stop()
  }

  test("stream-stream attribution join: cross-batch match, window bound, outer non-conversion") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val imps = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingPipelines.attributionJoin(
        imps.toDF().toDF("user_id", "imp_ts"),
        clicks.toDF().toDF("user_id", "click_ts"),
        Seq("user_id"), "imp_ts", "click_ts",
        within = "60 seconds", watermark = "0 seconds", joinType = "leftOuter")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // batch 1: impressions only — the join state must hold them.
      // (Times sit above epoch 0: the initial watermark IS epoch 0 and
      // an event AT the watermark is already late.)
      imps.addData((1L, ts(1000)), (2L, ts(1005)))
      q.processAllAvailable()
      // batch 2: user 1 converts IN window (cross-batch pair); user 2's
      // click is 495 s after the impression — outside the 60 s window
      clicks.addData((1L, ts(1030)), (2L, ts(1500)))
      q.processAllAvailable()
      // advance both watermarks far past imp_ts+within so user 2's
      // impression is provably unconvertible, then tick once more to
      // let the eviction batch emit the outer row
      imps.addData((9L, ts(100000))); clicks.addData((9L, ts(100000)))
      q.processAllAvailable()
      imps.addData((9L, ts(200000))); clicks.addData((9L, ts(200000)))
      q.processAllAvailable()
      val out = spark.table("attrib").orderBy("user_id", "imp_ts").collect()
        .filter(_.getLong(0) != 9L)
      assert(out.length == 2, s"expected user-1 match + user-2 non-conversion, got ${out.toSeq}")
      val u1 = out(0)
      assert(u1.getLong(0) == 1L && u1.getAs[Long]("lag_us") == 30000000L,
        s"in-window cross-batch attribution must pair with 30 s lag: $u1")
      val u2 = out(1)
      assert(u2.getLong(0) == 2L && u2.isNullAt(2) && u2.isNullAt(3),
        s"out-of-window click must NOT attribute; outer row emits null conversion: $u2")
    } finally q.stop()
  }

  test("scheduler: two ticks of a cadenced backfill fill a temp store (ST4/ST8)") {
    val store = new FeatureStore(spark, tmp())
    val full = ohlcvRamp(30)
    val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobId = "backfill:test:BTC-USDT:1m"
    val q = Scheduler.schedule(spark, jobId, intervalSec = 1) { _ =>
      started.incrementAndGet()
      Scheduler.backfillOnce(spark, store, "BTC-USDT", "1m", lookbackMinutes = 29,
        fetch = (lo, hi) => full.filter(unix_timestamp(col("timestamp")).between(lo, hi)),
        nowEpochSec = base + 29 * 60)
      ticks.incrementAndGet(); ()
    }
    val errors = graft.metrics.Metrics.counter("job_runs_total",
      Map("job" -> jobId, "status" -> "error"))
    val errorsBeforeStop = try {
      val deadline = System.currentTimeMillis() + 90000
      while (ticks.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      // stop while a third tick is in flight: its interruption is a stop
      while (started.get() <= ticks.get() && System.currentTimeMillis() < deadline) Thread.sleep(5)
      errors.sum()
    } finally q.stop()
    assert(ticks.get() >= 2, s"expected >=2 scheduler ticks, got ${ticks.get()}")
    assert(errors.sum() == errorsBeforeStop,
      s"q.stop() counted ${errors.sum() - errorsBeforeStop} interrupted tick(s) as failed runs")
    val stored = store.rangeRead("market", "BTC-USDT", "1m",
      base, base + 29 * 60, limit = Int.MaxValue)
    assert(stored.count() >= 25) // first tick fills; second is a no-op refill
  }

  test("backfill grid is end-anchored: off-multiple lookbacks stay on step boundaries") {
    // timeframe 1h, lookback 90min: a start-anchored grid would put every
    // point at :34:56 past the hour and report everything missing forever
    val store = new FeatureStore(spark, tmp())
    val now = java.time.Instant.parse("2025-08-01T12:34:56Z").getEpochSecond
    val plan = Backfill.planMissing(spark, store, "BTC-USDT", "1h",
      lookbackMinutes = 90, nowEpochSec = now)
    val eps = plan.missing.collect().map(_.getTimestamp(0).toInstant.getEpochSecond).sorted
    assert(plan.expected == 2 && eps.length == 2)
    assert(eps.forall(_ % 3600 == 0), s"grid off the hour boundary: ${eps.toSeq}")
  }

  test("streaming: stateful TA chunk-carry ≡ whole-series (ST3 equivalence gate)") {
    import StreamingPipelines._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // two interleaved series with different prices: each keeps its own carry
    val bars = (1 to 30).flatMap { i =>
      val c = 50.0 + (i * 37 % 11)
      Seq(Bar("S", 1000L + 2 * i, i.toDouble + 1, i.toDouble - 1, i.toDouble),
        Bar("T", 1001L + 2 * i, c + 2.0, c - 1.5, c))
    }
    val whole = bars.groupBy(_.symbol).values
      .flatMap(series => batchIndicators(series, 5, 0.015)).toSeq.sortBy(_.epochSec)
    // chunked through the streaming state machine: two micro-batches split at 20
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Bar]
    val q = statefulTa(mem.toDS(), window = 5)
      .writeStream.format("memory").queryName("ta_out")
      .outputMode("append").start()
    mem.addData(bars.take(20): _*)
    q.processAllAvailable()
    mem.addData(bars.drop(20): _*)
    q.processAllAvailable()
    val got = spark.table("ta_out").as[TaOut].collect().sortBy(_.epochSec).toSeq
    q.stop()
    assert(got == whole)
  }

  test("streaming: regime-filter chunk-carry ≡ batch window function (ST3, O(1) state)") {
    import StreamingPipelines._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val (a01, a10, u0, u1) = (0.04, 0.04, 0.35, 0.65)
    val signs: Seq[Option[Double]] =
      Seq(None, Some(1.0), Some(0.0)) ++
        (1 to 27).map(i => Some(if (i % 4 == 0) -1.0 else 1.0))
    val ticks = signs.zipWithIndex.flatMap { case (sg, i) =>
      Seq(SignTick("A", 1000L + i, sg), SignTick("B", 1000L + i, sg.map(-_))) }
    // whole-series reference = the BATCH engine itself (the custom
    // Catalyst window function), not a hand fold — streaming ≡ batch
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("symbol")).orderBy(col("epochSec"))
    val whole = ticks.toDF("symbol", "epochSec", "sign")
      .select(col("symbol"), col("epochSec"),
        graft.functions.windows.regimeProb(col("sign"), a01, a10, u0, u1, w).as("p"))
      .as[RegimeOut].collect().sortBy(t => (t.symbol, t.epochSec)).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SignTick]
    val q = statefulRegime(mem.toDS(), a01, a10, u0, u1)
      .writeStream.format("memory").queryName("regime_out")
      .outputMode("append").start()
    val byTime = ticks.sortBy(_.epochSec)
    mem.addData(byTime.take(24): _*)
    q.processAllAvailable()
    mem.addData(byTime.drop(24): _*)
    q.processAllAvailable()
    val got = spark.table("regime_out").as[RegimeOut].collect()
      .sortBy(t => (t.symbol, t.epochSec)).toSeq
    q.stop()
    assert(got == whole, "streaming fold must be bit-identical to the batch window")
  }

  test("streaming: LZ76 chunk-carry ≡ batch window function (ST3, bounded tape state)") {
    import StreamingPipelines._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // pseudo-random + structured signs with nulls/zeros interleaved,
    // two symbols folding independently
    var seed = 7L
    def nextSign(i: Int): Option[Double] = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      if (i % 9 == 0) None
      else if (i % 7 == 0) Some(0.0)
      else Some(if ((seed >>> 62) % 2 == 0) 1.0 else -1.0)
    }
    val ticks = (0 until 40).flatMap { i =>
      val sg = nextSign(i)
      Seq(SignTick("A", 1000L + i, sg), SignTick("B", 1000L + i, sg.map(-_)))
    }
    // whole-series reference = the BATCH engine itself (the custom
    // Catalyst window function), not a hand fold — streaming ≡ batch
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("symbol")).orderBy(col("epochSec"))
    val whole = ticks.toDF("symbol", "epochSec", "sign")
      .select(col("symbol"), col("epochSec"),
        graft.functions.windows.lzComplexity(col("sign"), w).as("c"))
      .as[LzOut].collect().sortBy(t => (t.symbol, t.epochSec)).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SignTick]
    val q = statefulLz(mem.toDS())
      .writeStream.format("memory").queryName("lz_out")
      .outputMode("append").start()
    val byTime = ticks.sortBy(_.epochSec)
    mem.addData(byTime.take(30): _*)
    q.processAllAvailable()
    mem.addData(byTime.slice(30, 50): _*)
    q.processAllAvailable()
    mem.addData(byTime.drop(50): _*)
    q.processAllAvailable()
    val got = spark.table("lz_out").as[LzOut].collect()
      .sortBy(t => (t.symbol, t.epochSec)).toSeq
    q.stop()
    assert(got == whole, "streaming LZ76 fold must be bit-identical to the batch window")
    // the shared tape budget raises the same guard mid-stream
    val e = intercept[Exception] {
      var st = LzCarry("", 0, 0)
      (1 to 8).foreach(_ => st = lzStep(st, Some(1.0), maxTape = 6))
    }
    assert(e.getMessage.contains("exceeded maxTape=6"), e.getMessage)
  }

  test("streaming: GARCH chunk-carry ≡ batch window function (ST3, one-double state)") {
    import StreamingPipelines._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // pseudo-random quantized squares with nulls interleaved, two
    // symbols folding independently under DIFFERENT ω
    var seed = 11L
    def nextX2(i: Int): Option[Double] = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      if (i % 8 == 0) None
      else Some(((seed >>> 40) % 1000000L).toDouble / 1e6)
    }
    val (omA, omB) = (2.5e-3, 7.0e-4)
    val ticks = (0 until 48).flatMap { i =>
      val x = nextX2(i)
      Seq(VarTick("A", 1000L + i, x, omA),
        VarTick("B", 1000L + i, x.map(v => v * 0.5), omB))
    }
    // whole-series reference = the BATCH engine itself (the custom
    // Catalyst window function), not a hand fold — streaming ≡ batch
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("symbol")).orderBy(col("epochSec"))
    val whole = ticks.toDF("symbol", "epochSec", "x2", "omega")
      .select(col("symbol"), col("epochSec"),
        graft.functions.windows.garchVariance(col("x2"), col("omega"),
          0.08, 0.90, w).as("h"))
      .as[GarchOut].collect().sortBy(t => (t.symbol, t.epochSec)).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[VarTick]
    val q = statefulGarch(mem.toDS(), 0.08, 0.90)
      .writeStream.format("memory").queryName("garch_out")
      .outputMode("append").start()
    val byTime = ticks.sortBy(_.epochSec)
    mem.addData(byTime.take(33): _*)
    q.processAllAvailable()
    mem.addData(byTime.slice(33, 61): _*)
    q.processAllAvailable()
    mem.addData(byTime.drop(61): _*)
    q.processAllAvailable()
    val got = spark.table("garch_out").as[GarchOut].collect()
      .sortBy(t => (t.symbol, t.epochSec)).toSeq
    q.stop()
    assert(got == whole,
      "streaming GARCH fold must be bit-identical to the batch window")
  }

  test("streaming: violation-transition fold ≡ batch christoffersen counts (ST3)") {
    import StreamingPipelines._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.{col, lit, percentile}
    // reference window pins VaR(5%) per symbol — the batch estimate
    // the stream consumes (the GARCH ω contract)
    val ref = (0 until 100).flatMap { i =>
      Seq(("A", i.toLong, if (i < 5) -10.0 else 1.0),
        ("B", i.toLong, if (i < 7) -8.0 else 2.0))
    }
    var seed = 23L
    def nextV(base: Double): Option[Double] = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      if ((seed >>> 33) % 11 == 0L) None
      else Some(if ((seed >>> 33) % 13 == 0L) -25.0 else base)
    }
    val curA = (0 until 60).map(i => ("A", (100 + i).toLong, nextV(1.0)))
    val curB = (0 until 60).map(i => ("B", (100 + i).toLong, nextV(2.0)))
    // batch reference = the oracle-gated operator itself
    val refDf = ref.toDF("k", "seq", "v")
    val curDf = (curA ++ curB).collect { case (k, t, Some(v)) => (k, t, v) }
      .toDF("k", "seq", "v")
    val batchCounts = graft.operators.Backtest.christoffersenTest(
        refDf, curDf, Seq("k"), Seq(col("seq")), "v", alpha = 0.05)
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_viol"), r.getAs[Long]("n00"),
          r.getAs[Long]("n01"), r.getAs[Long]("n10"), r.getAs[Long]("n11")))
      .toMap
    val varByKey = refDf.groupBy("k")
      .agg(percentile(col("v"), lit(0.05)).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ticks = (curA ++ curB).map { case (k, t, v) =>
      ViolTick(k, t, v, varByKey(k)) }
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ViolTick]
    val q = statefulViolations(mem.toDS())
      .writeStream.format("memory").queryName("viol_out")
      .outputMode("append").start()
    val byTime = ticks.sortBy(_.epochSec)
    mem.addData(byTime.take(40): _*)
    q.processAllAvailable()
    mem.addData(byTime.slice(40, 90): _*)
    q.processAllAvailable()
    mem.addData(byTime.drop(90): _*)
    q.processAllAvailable()
    val fin = spark.table("viol_out").as[ViolOut].collect()
      .groupBy(_.symbol).map { case (k, rows) =>
        k -> rows.maxBy(_.epochSec) }
    q.stop()
    Seq("A", "B").foreach { k =>
      val f = fin(k)
      assert((f.n, f.nViol, f.n00, f.n01, f.n10, f.n11) == batchCounts(k),
        s"$k: $f vs ${batchCounts(k)}")
    }
  }

  test("streaming: LZ76 fold restarted on its checkpoint resumes each series' carry (ST3)", Stateful) {
    import StreamingPipelines._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val in = tmp()
    val ckpt = tmp() + "/ckpt"
    var seed = 5L
    val ticks = (0 until 36).flatMap { i =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val sg = if (i % 10 == 0) None else Some(if ((seed >>> 62) % 2 == 0) 1.0 else -1.0)
      Seq(SignTick("A", 1000L + i, sg), SignTick("B", 1000L + i, sg.map(-_)))
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("symbol")).orderBy(col("epochSec"))
    val whole = ticks.toDF("symbol", "epochSec", "sign")
      .select(col("symbol"), col("epochSec"),
        graft.functions.windows.lzComplexity(col("sign"), w).as("c"))
      .as[LzOut].collect().sortBy(t => (t.symbol, t.epochSec)).toSeq
    // a foreachBatch sink: the memory sink does not recover from a checkpoint
    def runOnce(): Seq[LzOut] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[LzOut]()
      val q = statefulLz(spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[SignTick].schema)
          .json(in).as[SignTick])
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[LzOut], _: Long) =>
          b.collect().foreach(got.add)
        }
        .start()
      q.awaitTermination(120000)
      got.toArray(Array.empty[LzOut]).toSeq
    }
    def drop(name: String, rows: Seq[SignTick]): Unit =
      Files.writeString(java.nio.file.Paths.get(in, name), rows.map { t =>
        s"""{"symbol": "${t.symbol}", "epochSec": ${t.epochSec}, "sign": ${t.sign.getOrElse("null")}}"""
      }.mkString("\n"))
    drop("b0.json", ticks.filter(_.epochSec < 1020))
    val first = runOnce()
    drop("b1.json", ticks.filter(_.epochSec >= 1020))
    val second = runOnce()
    assert(first.nonEmpty && second.nonEmpty)
    assert((first ++ second).sortBy(t => (t.symbol, t.epochSec)) == whole,
      "the restarted fold must continue from the checkpointed carry")
  }

  test("streaming: file-drop market stream builds features via foreachBatch (ST1)") {
    val in = tmp(); val outRows = new java.util.concurrent.atomic.AtomicLong()
    ohlcvRamp(20).write.parquet(in + "/drop1")
    val q = StreamingPipelines.marketFeaturesStream(spark, in + "/*",
      batch => outRows.addAndGet(batch.count()), Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(outRows.get() >= 19)
  }

  test("streaming: dropDuplicatesWithinWatermark bounds the RSS seen-set (ST2)") {
    val in = tmp()
    val news = Seq(("n1", "2024-01-01 00:00:00"), ("n1", "2024-01-01 00:00:10"),
      ("n2", "2024-01-01 00:01:00"))
      .toDF("id", "published_at")
      .select(to_timestamp(col("published_at")).as("published_at"), col("id"))
    LakeWriter.write(news, in, Schemas.NEWS, "published_at")
    val stream = StreamingPipelines.dedupedNewsStream(spark, in)
    val q = stream.writeStream.format("memory").queryName("news_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("news_out").select("id").distinct().count() ==
      spark.table("news_out").count()) // no duplicate ids surfaced
  }

  test("ticker source never regresses below a checkpoint-restored offset") {
    import graft.streaming.TickerSource.TickerOffset
    def stream() = new graft.streaming.TickerMicroBatchStream(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("barsPerBatch", "30", "maxBars", "90")))
    // restart path 1: Spark re-reads the checkpointed offset log
    val s1 = stream()
    s1.deserializeOffset("""{"bar":60}""")
    val next1 = s1.latestOffset().asInstanceOf[TickerOffset].barIdx
    assert(next1 == 90, s"poll after restore must advance past 60, got $next1")
    // restart path 2: Spark replays commit() for the last completed batch
    val s2 = stream()
    s2.commit(TickerOffset(60L))
    val next2 = s2.latestOffset().asInstanceOf[TickerOffset].barIdx
    assert(next2 == 90, s"poll after commit replay must advance past 60, got $next2")
  }

  test("feature store upsert keeps old rows when partition values need path escaping") {
    val store = new FeatureStore(spark, tmp())
    // ':' and ' ' are escaped in partition directory names (timeframe=1%20m%3Ax);
    // a path built without Spark's escaping misses the dir and the dynamic
    // overwrite silently drops the previously stored rows
    def batch(epoch: Long, v: Double) = Seq((epoch, "BTC-USDT", "1 m:x", v))
      .toDF("e", "symbol", "timeframe", "value")
      .select(timestamp_seconds(col("e")).as("timestamp"), col("symbol"),
        col("timeframe"), col("value"), lit(null).cast("string").as("dt"))
    val base = java.time.Instant.parse("2025-08-01T00:00:00Z").getEpochSecond
    store.upsert(batch(base, 1.0), "market", writeSeq = 1)
    store.upsert(batch(base + 60, 2.0), "market", writeSeq = 2)
    val rows = store.rangeRead("market", "BTC-USDT", "1 m:x", base, base + 120)
    assert(rows.count() == 2, "second upsert must merge, not replace, the escaped partition")
  }

  test("stratifiedSample on a stream: stateless filter, membership ≡ batch") {
    // the sampling decision is a pure per-row hash threshold, so the same
    // operator runs unchanged on a streaming frame with no state store
    // and admits exactly the rows the batch plan admits
    val rows = (0L until 400L).map(i => (i, if (i % 3 == 0) "en" else "de"))
    val batchIds = graft.operators.TextAnalysis.stratifiedSample(
        rows.toDF("doc_id", "lang"), "lang", "doc_id",
        Map("en" -> 0.4), defaultRate = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.stratifiedSample(
        mem.toDS().toDF("doc_id", "lang"), "lang", "doc_id",
        Map("en" -> 0.4), defaultRate = 0.2)
      .writeStream.format("memory").queryName("strat_out")
      .outputMode("append").start()
    mem.addData(rows.take(250): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(250): _*)
    q.processAllAvailable()
    val streamIds = spark.table("strat_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(streamIds == batchIds, "stream membership must equal batch membership")
    assert(batchIds.nonEmpty, "fixture must sample a non-empty set")
  }

  test("scheduler compact tick defragments only CLOSED dt partitions", Stateful) {
    val lake = tmp() + "/lake"
    val drops = tmp()
    // three ingest ticks = three appended files in one (exchange, symbol, dt)
    (0 until 3).foreach { i =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(drops, s"d$i.json"),
        s"""{"ohlcv": [[${1704067200000L + i * 60000}, 1.0, 2.0, 0.5, 1.5, 10.0]]}""")
      Scheduler.ingestDropsOnce(spark, drops, "binance", "BTC/USDT", "1m", lake)
    }
    val part = new java.io.File(s"$lake/exchange=binance/symbol=BTC_USDT/dt=2024-01-01")
    def nFiles = part.listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 3, "each ingest tick should append a file")
    val before = LakeWriter.read(spark, lake).orderBy("timestamp").collect()
    // a tick DURING the data's day must not touch the live partition —
    // the ingest cadence is still appending to it (data-loss race)
    val during = java.time.Instant.parse("2024-01-01T12:00:00Z").getEpochSecond
    assert(Scheduler.compactOnce(spark, lake, during) == 0L,
      "live dt partition must never be compacted")
    assert(nFiles >= 3, "live partition files must be untouched")
    // within the ingest horizon after midnight the day is STILL open
    // (a 23:59 bar may not have arrived yet)
    val justAfter = java.time.Instant.parse("2024-01-02T00:30:00Z").getEpochSecond
    assert(Scheduler.compactOnce(spark, lake, justAfter) == 0L,
      "dt within the ingest horizon is still open")
    // past the horizon the day is closed → compacted
    val closed = java.time.Instant.parse("2024-01-02T02:00:00Z").getEpochSecond
    assert(Scheduler.compactOnce(spark, lake, closed) == 3)
    assert(nFiles == 1, "compaction should collapse the closed day's files")
    assert(LakeWriter.read(spark, lake).orderBy("timestamp").collect().toSeq == before.toSeq)
    assert(Scheduler.compactOnce(spark, tmp() + "/absent", closed) == 0L)
    // beyond the lookback window old partitions are left alone (already
    // compacted by earlier ticks; keeps tick cost bounded)
    val farFuture = java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
    assert(Scheduler.compactOnce(spark, lake, farFuture) == 0L)
  }

  test("compaction races live ingest safely: concurrent appends to the open dt survive", Stateful) {
    // the round-3 defect: compactOnce compacted TODAY's partition while
    // the 1-min ingest tick appended to it — rows landing between the
    // read-snapshot and the overwrite commit were silently destroyed.
    // With the closed-partition rule the scopes are disjoint by
    // construction: this spec runs a compact tick CONCURRENTLY with a
    // burst of appends to the open partition and proves every row
    // survives, whatever the interleaving.
    val lake = tmp() + "/lake"
    def bar(dtIso: String, minute: Int, close: Double) =
      Seq((java.sql.Timestamp.from(java.time.Instant.parse(s"${dtIso}T12:0$minute:00Z")), close))
        .toDF("timestamp", "close")
        .withColumn("symbol", lit("BTC/USDT")).withColumn("exchange", lit("binance"))
        .withColumn("timeframe", lit("1m"))
    // closed day: fragmented by 5 separate appends; open day: 1 row so far
    (1 to 5).foreach(i => LakeWriter.write(bar("2024-01-01", i, i.toDouble),
      lake, Schemas.MARKET, "timestamp", partitions = Seq("exchange", "symbol", "dt")))
    LakeWriter.write(bar("2024-01-02", 0, 100.0),
      lake, Schemas.MARKET, "timestamp", partitions = Seq("exchange", "symbol", "dt"))
    val now = java.time.Instant.parse("2024-01-02T12:00:00Z").getEpochSecond
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val compacting = Future { Scheduler.compactOnce(spark, lake, now) }
    // ingest keeps appending to the OPEN day while the compact tick runs
    (1 to 5).foreach(i => LakeWriter.write(bar("2024-01-02", i, 100.0 + i),
      lake, Schemas.MARKET, "timestamp", partitions = Seq("exchange", "symbol", "dt")))
    val rewritten = Await.result(compacting, 120.seconds)
    assert(rewritten == 5, s"compact tick must rewrite only the closed day, got $rewritten")
    val all = LakeWriter.read(spark, lake)
      .select(col("dt").cast("string"), col("close")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val expected = (1 to 5).map(i => ("2024-01-01", i.toDouble)).toSet ++
      (0 to 5).map(i => ("2024-01-02", 100.0 + i)).toSet
    assert(all == expected, s"rows lost or mutated across concurrent compact+ingest: $all")
  }

  test("streaming incremental dedup end-to-end: foreachBatch wiring, stable batch ids, checkpoint resume", Stateful) {
    // the OpsSpec tests drive incrementalDedupBatch directly; this one
    // proves the documented WIRING — a real writeStream.foreachBatch
    // passing the streaming batch id, with checkpoint-based resume
    // assigning fresh ids to later batches
    val in = tmp()
    val idx = tmp() + "/idx"
    val ckpt = tmp() + "/ckpt"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}s$i").mkString(" ")
    def runOnce(): Seq[Long] = {
      val kept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.schema(sch).json(in)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          StreamingPipelines.incrementalDedupBatch(spark, idx, b.toDF(),
              "text", "doc_id", batchId = id.toString)
            .select("doc_id").collect().foreach(r => kept.add(r.getLong(0)))
        }
        .start()
      q.awaitTermination(120000)
      kept.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted.toSeq
    }
    def drop(name: String, rows: Seq[(Long, Int)]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (id, s) => s"""{"doc_id": $id, "text": "${doc(s)}"}""" }
          .mkString("\n"))
    // batch 0: three docs, one an in-batch dup
    drop("b0.json", Seq((1L, 1), (2L, 2), (3L, 1)))
    assert(runOnce() == Seq(1L, 2L), "in-batch dup must drop")
    assert(graft.store.CommitLog(spark, idx).read().committed == Seq("0"))
    // batch 1 arrives; the SAME checkpoint resumes and assigns id 1
    drop("b1.json", Seq((10L, 2), (11L, 9)))
    assert(runOnce() == Seq(11L), "cross-batch dup must drop on resume")
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted == Seq("0", "1"))
    // nothing new → no batch, no index growth
    assert(runOnce() == Seq.empty)
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted == Seq("0", "1"))
  }

  test("streaming containment dedup end-to-end: excerpts drop, twins keep lower id, checkpoint resume, compaction-stable", Stateful) {
    // OpsSpec pins the index/probe algebra; this proves the WIRING — a
    // real writeStream.foreachBatch driving incrementalContainmentBatch
    // with the streaming batch id, cross-batch excerpt dropping after
    // checkpoint resume, and probes surviving a compaction
    val in = tmp()
    val idx = tmp() + "/ctidx"
    val ckpt = tmp() + "/ckpt"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def article(seed: Int) = (0 until 40).map(i => s"a${seed}w$i").mkString(" ")
    def excerpt(seed: Int) = (5 until 16).map(i => s"a${seed}w$i").mkString(" ")
    def runOnce(): Seq[Long] = {
      val kept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.schema(sch).json(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          StreamingPipelines.incrementalContainmentBatch(spark, idx, b.toDF(),
              "text", "doc_id", batchId = id.toString)
            .select("doc_id").collect().foreach(r => kept.add(r.getLong(0)))
        }
        .start()
      q.awaitTermination(120000)
      kept.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted.toSeq
    }
    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }
          .mkString("\n"))
    // batch 0: article 1, its excerpt (in-batch contained → drops),
    // independent article 3
    drop("b0.json", Seq((1L, article(1)), (2L, excerpt(1)), (3L, article(3))))
    assert(runOnce() == Seq(1L, 3L), "in-batch excerpt must drop")
    assert(graft.store.CommitLog(spark, idx).read().committed == Seq("0"))
    // batch 1 on the SAME checkpoint: an excerpt of the INDEXED article
    // drops via the probe; near-equal twins keep the lower id
    drop("b1.json", Seq((10L, excerpt(3)), (11L, article(7)), (12L, article(7))))
    assert(runOnce() == Seq(11L), "indexed-article excerpt + twin must drop on resume")
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted == Seq("0", "1"))
    // nothing new → no batch, no index growth
    assert(runOnce() == Seq.empty)
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted == Seq("0", "1"))
    // compaction keeps the loop behavior identical
    assert(graft.operators.Dedup.compactContainmentIndex(spark, idx) == 2)
    drop("b2.json", Seq((20L, excerpt(7)), (21L, article(9))))
    assert(runOnce() == Seq(21L), "post-compaction probe must still drop excerpts")
  }

  test("streaming drift monitor end-to-end: incremental PSI = batch psiDrift, checkpoint resume, replay no-op", Stateful) {
    import graft.operators.{DriftMonitor, Relational}
    val in = tmp()
    val idx = tmp() + "/drift"
    val ckpt = tmp() + "/ckpt"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.StringType)
      .add("v", org.apache.spark.sql.types.DoubleType)
    // reference: A and B both spread over [0, 99]
    val ref = (0 until 100).flatMap(i =>
      Seq(("A", i.toDouble), ("B", i.toDouble))).toDF("k", "v")
    DriftMonitor.writeDriftReference(ref, Seq("k"), "v", idx, bins = 10)
    // an empty monitor reports the smoothing floor, not an error
    val empty = DriftMonitor.driftPsi(spark, idx, Seq("k")).collect()
    assert(empty.length == 2 && empty.forall(_.getAs[Long]("n_cur") == 0L))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).json(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          DriftMonitor.driftBatch(b.toDF(), Seq("k"), "v", idx,
            batchId = id.toString, bins = 10)
          ()
        }
        .start()
      q.awaitTermination(120000)
    }
    def drop(name: String, rows: Seq[(String, Double)]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (k, v) => s"""{"k": "$k", "v": $v}""" }
          .mkString("\n"))
    // batch 0: A shifts hard right (clamping mass into the top bin), B
    // stays on-distribution; key C is unknown to the reference → drops
    val b0 = (0 until 80).map(i => ("A", 90.0 + i)) ++
      (0 until 80).map(i => ("B", (i * 7 % 100).toDouble)) ++
      Seq(("C", 5.0))
    drop("b0.json", b0)
    runOnce()
    // batch 1 on the SAME checkpoint gets id 1
    val b1 = (0 until 40).map(i => ("A", 95.0 + i)) ++
      (0 until 40).map(i => ("B", (i * 13 % 100).toDouble))
    drop("b1.json", b1)
    runOnce()
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted ==
      Seq("0", "1", "ref"))
    // EQUIVALENCE: incremental PSI == one-shot batch psiDrift over the
    // union, column for column (shared bucket + smoothing trees)
    val streamed = DriftMonitor.driftPsi(spark, idx, Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val union = ref.withColumn("is_ref", lit(true))
      .unionByName((b0 ++ b1).toDF("k", "v").withColumn("is_ref", lit(false)))
    val oneShot = Relational.psiDrift(union, Seq("k"), "v",
        isRef = org.apache.spark.sql.functions.col("is_ref"), bins = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed == oneShot,
      s"incremental must equal one-shot:\n$streamed\nvs\n$oneShot")
    // the shifted feature screams, the stable one stays under 0.1
    assert(streamed("A")._3 > 0.25 && streamed("B")._3 < 0.1)
    assert(!streamed.contains("C"), "keys without a reference must drop")
    // at-least-once replay: same batch id → no-op, psi unchanged
    assert(!DriftMonitor.driftBatch((0 until 500).map(i => ("A", 0.0)).toDF("k", "v"),
      Seq("k"), "v", idx, batchId = "1"))
    val replayed = DriftMonitor.driftPsi(spark, idx, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(replayed("A") == streamed("A")._3 && replayed("B") == streamed("B")._3)
    // degenerate reference fails loudly
    val thrown = intercept[IllegalArgumentException] {
      DriftMonitor.writeDriftReference(
        Seq(("X", 1.0), ("X", 1.0)).toDF("k", "v"), Seq("k"), "v",
        tmp() + "/bad", bins = 10)
    }
    assert(thrown.getMessage.contains("degenerate"))
  }

  test("streaming CUSUM end-to-end: foreachBatch wiring, streamed = one-shot, checkpoint resume, replay no-op", Stateful) {
    import graft.operators.{DriftMonitor, Relational}
    val in = tmp()
    val st = tmp() + "/cusum"
    val ckpt = tmp() + "/ckpt"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.StringType)
      .add("t", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.DoubleType)
    // A drifts +3 from t=40 (must alarm mid-stream), B stays at target
    def value(k: String, t: Int): Double = {
      val base = if (k == "A" && t >= 40) 13.0 else 10.0
      math.rint((base + math.sin(t * 0.7)) * 100) / 100
    }
    def drop(name: String, ts: Range): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        (for (k <- Seq("A", "B"); t <- ts) yield
          s"""{"k": "$k", "t": $t, "v": ${value(k, t)}}""").mkString("\n"))
    val (tgt, slk, thr) = (10.0, 0.9, 9.0)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).json(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          DriftMonitor.cusumBatch(spark, st, id,
            b.toDF().withColumn("ts", expr("timestamp_micros(t)")),
            Seq("k"), "ts", "v", "t", tgt, slk, thr)
            .count(): Unit
        }
        .start()
      q.awaitTermination(120000)
    }
    drop("b0.json", 0 until 25)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions == Seq(0L))
    // resume from checkpoint in a "new run": only the new file folds
    drop("b1.json", 25 until 70)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // empty trigger → no batch, no version
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // streamed scores ≡ one-shot detector over everything
    val all = (for (k <- Seq("A", "B"); t <- 0 until 70) yield
      (k, t.toLong, value(k, t))).toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val want = Relational.cusumDetect(all, Seq("k"), "ts", "v", "t",
        tgt, slk, thr)
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7))))
      .toMap
    val got = DriftMonitor.cusumScores(spark, st, Seq("k"), "ts", "t")
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7))))
      .toMap
    assert(got.size == want.size && want.forall { case (k, w) => got(k) == w },
      s"streamed CUSUM diverged from one-shot (sizes ${got.size}/${want.size})")
    // the drift actually alarmed, on the positive side of A only
    assert(got.exists { case ((k, _), g) => k == "A" && g._3 },
      "A's +3 shift must trip alarm_pos")
    assert(!got.exists { case ((k, _), g) => k == "B" && (g._3 || g._4) },
      "B sits at target and must stay silent")
    // explicit replay of an old batch id returns the view, no refold
    val before = DriftMonitor.cusumScores(spark, st, Seq("k"), "ts", "t").count()
    DriftMonitor.cusumBatch(spark, st, 0L,
      all.limit(3), Seq("k"), "ts", "v", "t", tgt, slk, thr)
    assert(DriftMonitor.cusumScores(spark, st, Seq("k"), "ts", "t").count() == before)
  }

  test("streaming market tick end-to-end: foreachBatch wiring, incremental = batch, replay no-op", Stateful) {
    // the OpsSpec test drives the pure merges; this one proves the
    // WIRING: a real writeStream.foreachBatch feeding marketTickBatch
    // with the streaming batch id, versioned state with commit markers,
    // checkpoint resume, and a replayed/empty trigger being a no-op
    import graft.operators.MarketIncremental
    val in = tmp()
    val st = tmp() + "/mkt"
    val ckpt = tmp() + "/ckpt"
    val cfg = MarketIncremental.Cfg(Seq("k"), "ts", "p", "v", "t",
      volThreshold = 7.0, horizonUs = 20L, upPct = 0.15, dnPct = 0.10)
    val sch = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.StringType)
      .add("t", org.apache.spark.sql.types.LongType)
      .add("p", org.apache.spark.sql.types.DoubleType)
      .add("v", org.apache.spark.sql.types.DoubleType)
    def price(k: String, t: Int): Double = {
      val base = if (k == "A") 100.0 + t * 0.5 else 140.0 - t * 0.3
      math.rint((base + 40.0 * math.sin(t / 5.0)) * 100) / 100
    }
    def drop(name: String, ts: Range): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        (for (k <- Seq("A", "B"); t <- ts) yield
          s"""{"k": "$k", "t": $t, "p": ${price(k, t)}, "v": ${1.0 + t % 3}}""")
          .mkString("\n"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).json(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          MarketIncremental.marketTickBatch(spark, st, id,
            b.toDF().withColumn("ts", expr("timestamp_micros(t)")), cfg)
            .count(): Unit
        }
        .start()
      q.awaitTermination(120000)
    }
    drop("b0.json", 1 to 30)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions == Seq(0L))
    drop("b1.json", 31 to 60)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // nothing new → no batch fires, no state version appears
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // the standing view now equals a from-scratch batch computation
    val all = (for (k <- Seq("A", "B"); t <- 1 to 60) yield
      (k, t.toLong, price(k, t), 1.0 + t % 3))
      .toDF("k", "t", "p", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val want = graft.operators.Labeling
      .tripleBarrier(all, Seq("k"), "ts", "p", "t", 20L, 0.15, 0.10)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val got = MarketIncremental.labelsView(spark, st, cfg)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(got == want, s"streamed state diverged from batch:\n got ${got.take(3)}\nwant ${want.take(3)}")
    val wantBars = graft.operators.Resample
      .volumeBars(all, "ts", "p", "v", "t", Seq("k"), 7.0).count()
    assert(MarketIncremental.barsView(spark, st, cfg).count() == wantBars)
    // the frontier stays small: open bars <= one per series, and the
    // label log holds the finalized entries permanently
    val v = graft.store.CommitLog(spark, st).read().versions.last
    assert(spark.read.parquet(s"$st/v=$v/open_bars").count() <= 2)
    assert(spark.read.parquet(s"$st/labels").count() > 0)
  }

  test("streaming market features end-to-end: foreachBatch wiring, streamed = build bit-for-bit, replay no-op", Stateful) {
    // OpsSpec pins the pure fold; this proves the WIRING: a real
    // writeStream.foreachBatch feeding marketFeaturesBatch with the
    // streaming batch id, versioned carry with commit markers,
    // checkpoint resume, and the standing featuresView bit-identical to
    // a from-scratch MarketFeatures.build over the full OHLCV history
    import graft.operators.MarketIncremental
    import graft.features.MarketFeatures
    val in = tmp()
    val st = tmp() + "/mfeat"
    val ckpt = tmp() + "/ckpt"
    val cfg = MarketIncremental.FeatCfg(MarketFeatures.seriesKeys, "timestamp")
    val sch = new org.apache.spark.sql.types.StructType()
      .add("s", org.apache.spark.sql.types.StringType)
      .add("t", org.apache.spark.sql.types.LongType)
      .add("c", org.apache.spark.sql.types.DoubleType)
    def close(s: String, t: Int): Double = {
      val base = if (s == "S1") 100.0 + t * 0.3 else 300.0 - t * 0.2
      math.rint((base + 15.0 * math.sin(t / 4.0)) * 100) / 100
    }
    def drop(name: String, ts: Range): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        (for (s <- Seq("S1", "S2"); t <- ts) yield
          s"""{"s": "$s", "t": $t, "c": ${close(s, t)}}""").mkString("\n"))
    def ohlcv(df: org.apache.spark.sql.DataFrame) = df
      .select(col("s").as("symbol"), lit("x").as("exchange"),
        lit("1m").as("timeframe"),
        expr("timestamp_micros(t * 60000000)").as("timestamp"),
        col("c").as("open"), (col("c") + 1.0).as("high"),
        (col("c") - 1.0).as("low"), col("c").as("close"),
        (lit(2.0) + col("t") % 5).as("volume"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).json(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          MarketIncremental.marketFeaturesBatch(spark, st, id,
            ohlcv(b.toDF()), cfg).count(): Unit
        }
        .start()
      q.awaitTermination(120000)
    }
    drop("b0.json", 1 to 40)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions == Seq(0L))
    // the SAME checkpoint resumes; only the new file folds as batch 1
    drop("b1.json", 41 to 100)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // empty trigger → no batch, no version
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // streamed view ≡ one-shot build, BIT-identical doubles
    val all = ohlcv((for (s <- Seq("S1", "S2"); t <- 1 to 100) yield
      (s, t.toLong, close(s, t))).toDF("s", "t", "c"))
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString("|")
    val cols = Seq("symbol", "timestamp", "dt", "feature_version") ++
      MarketFeatures.featureCols
    val want = MarketFeatures.build(all)
      .select(cols.map(col): _*).collect().map(key).sorted.toSeq
    val got = MarketIncremental.featuresView(spark, st, cfg)
      .select(cols.map(col): _*).collect().map(key).sorted.toSeq
    assert(got == want, s"streamed features diverged from build " +
      s"(sizes ${got.size}/${want.size})")
    // explicit replay of a committed id: view returned, nothing refolds
    MarketIncremental.marketFeaturesBatch(spark, st, 0L,
      ohlcv(Seq(("S1", 1L, 50.0)).toDF("s", "t", "c")), cfg)
    assert(MarketIncremental.featuresView(spark, st, cfg).count() == got.size)
    // the carry is O(1)/series
    val v = graft.store.CommitLog(spark, st).read().versions.last
    assert(spark.read.parquet(s"$st/v=$v/carry").count() == 2)
  }

  test("streaming book snapshots end-to-end: foreachBatch wiring, streamed = one-shot, replay no-op", Stateful) {
    // OpsSpec drives bookSnapshotFold directly; this proves the WIRING:
    // a real writeStream.foreachBatch feeding bookSnapshotBatch with
    // the streaming batch id, _commits idempotency, checkpoint resume,
    // and the standing snapshotsView equal to a from-scratch one-shot
    // bookSnapshots over the full delta history (VERDICT r7 #7)
    import graft.operators.MarketIncremental
    val in = tmp()
    val st = tmp() + "/book"
    val ckpt = tmp() + "/ckpt"
    val cfg = MarketIncremental.BookCfg(Seq("k"), "ts", "side", "price",
      "amount", "t", stepUs = 10L, nLevels = 3)
    val sch = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.StringType)
      .add("t", org.apache.spark.sql.types.LongType)
      .add("side", org.apache.spark.sql.types.StringType)
      .add("price", org.apache.spark.sql.types.DoubleType)
      .add("amount", org.apache.spark.sql.types.DoubleType)
    def delta(k: String, t: Int): (String, Long, String, Double, Double) =
      (k, t.toLong, if (t % 2 == 0) "bid" else "ask",
        ((t * 7) % 8 + 1).toDouble,
        if (t % 7 == 0) 0.0 else (t % 5 + 0.5))
    def drop(name: String, ts: Range): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        (for (k <- Seq("A", "B"); t <- ts) yield {
          val (_, tt, s, p, a) = delta(k, t)
          s"""{"k": "$k", "t": $tt, "side": "$s", "price": $p, "amount": $a}"""
        }).mkString("\n"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).json(in)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          MarketIncremental.bookSnapshotBatch(spark, st, id,
            b.toDF().withColumn("ts", expr("timestamp_micros(t)")), cfg)
            .count(): Unit
        }
        .start()
      q.awaitTermination(120000)
    }
    drop("b0.json", 1 to 35)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions == Seq(0L))
    drop("b1.json", 36 to 70)
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    // nothing new → no batch fires, no state version appears
    runOnce()
    assert(graft.store.CommitLog(spark, st).read().versions.last == 1L)
    val all = (for (k <- Seq("A", "B"); t <- 1 to 70) yield delta(k, t))
      .toDF("k", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val want = graft.features.OrderbookFeatures
      .bookSnapshots(all, Seq("k"), "ts", "t", stepUs = 10L, nLevels = 3)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val got = MarketIncremental.snapshotsView(spark, st, cfg)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(got == want,
      s"streamed snapshots diverged from one-shot (${got.size} vs ${want.size}):\n" +
        s" got ${got.take(3)}\nwant ${want.take(3)}")
    // frontier bounded by standing levels (<= 8 prices x 2 sides x 2 series)
    val v = graft.store.CommitLog(spark, st).read().versions.last
    assert(spark.read.parquet(s"$st/v=$v/book").count() <= 32)
  }

  test("streaming semantic dedup end-to-end: bootstrap, foreachBatch wiring, checkpoint resume", Stateful) {
    // the OpsSpec test drives incrementalSemanticDedupBatch directly;
    // this one proves the streaming WIRING: a real writeStream
    // .foreachBatch passing the streaming batch id, index bootstrap on
    // the first batch, cross-batch dedup after checkpoint resume
    val in = tmp()
    val idx = tmp() + "/semidx"
    val ckpt = tmp() + "/ckpt"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    def runOnce(): Seq[Long] = {
      val kept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.schema(sch).json(in)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.operators.Similarity.incrementalSemanticDedupBatch(spark, idx,
              b.toDF(), "embedding", "doc_id", batchId = id.toString,
              tau = 0.95, kBatch = 1, nCells = 2, m = 4, ksub = 2, iters = 1)
            .select("doc_id").collect().foreach(r => kept.add(r.getLong(0)))
        }
        .start()
      q.awaitTermination(120000)
      kept.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted.toSeq
    }
    def drop(name: String, rows: Seq[(Long, Seq[Double])]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (id, v) =>
          s"""{"doc_id": $id, "embedding": [${v.mkString(", ")}]}"""
        }.mkString("\n"))
    // batch 0 BOOTSTRAPS the index: an in-batch near-dup pair + one
    // orthogonal vector
    drop("b0.json", Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.01, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0))))
    assert(runOnce() == Seq(1L, 3L), "in-batch semantic dup must drop at bootstrap")
    assert(graft.store.CommitLog(spark, idx).read().committed == Seq("0"))
    // batch 1 resumes from the SAME checkpoint (id 1): a cross-batch dup
    // of indexed 3 drops, a novel direction survives and is appended
    drop("b1.json", Seq(
      (10L, Seq(0.01, 0.999, 0.0, 0.0)),
      (11L, Seq(0.0, 0.0, 1.0, 0.0))))
    assert(runOnce() == Seq(11L), "cross-batch semantic dup must drop on resume")
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted ==
      Seq("0", "1"))
    // nothing new → no batch, no index growth
    assert(runOnce() == Seq.empty)
    assert(graft.store.CommitLog(spark, idx).read().committed.sorted ==
      Seq("0", "1"))
  }

  test("scheduler ingest tick deletes consumed drops so the next tick is a no-op") {
    val lake = tmp() + "/lake"
    val drops = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(drops, "drop1.json"),
      """{"ohlcv": [[1704067200000, 1.0, 2.0, 0.5, 1.5, 10.0], [1704067260000, 1.5, 2.5, 1.0, 2.0, 11.0]]}""")
    val n1 = Scheduler.ingestDropsOnce(spark, drops, "binance", "BTC/USDT", "1m", lake)
    assert(n1 == 2, s"first tick should ingest the dropped bars, got $n1")
    assert(LakeWriter.read(spark, lake, Map("symbol" -> "BTC_USDT")).count() == 2)
    // consumed drops are deleted: the next tick is a no-op, not a re-append
    val n2 = Scheduler.ingestDropsOnce(spark, drops, "binance", "BTC/USDT", "1m", lake)
    assert(n2 == 0 && LakeWriter.read(spark, lake, Map("symbol" -> "BTC_USDT")).count() == 2)
    // a drop that parses to zero rows is QUARANTINED, never deleted —
    // "consumed" requires rows in the lake (at-least-once contract)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(drops, "bad.json"),
      """{"garbage": true}""")
    val n3 = Scheduler.ingestDropsOnce(spark, drops, "binance", "BTC/USDT", "1m", lake)
    assert(n3 == 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(drops, "bad.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(drops, ".quarantine", "bad.json")),
      "zero-row drop must move to quarantine, not vanish")
  }

  test("scheduler e2e: slash-form symbol survives ingest → lake fetch → store fill") {
    // the lake partitions as BTC_USDT, the store keys as BTC-USDT; the
    // fetch edge must bridge both or backfill silently fetches 0 forever
    val lake = tmp() + "/lake"
    val drops = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(drops, "d.json"),
      """{"ohlcv": [[1704067200000, 1.0, 2.0, 0.5, 1.5, 10.0], [1704067260000, 1.5, 2.5, 1.0, 2.0, 11.0]]}""")
    assert(Scheduler.ingestDropsOnce(spark, drops, "binance", "BTC/USDT", "1m", lake) == 2)
    val lo = 1704067200L
    val fetched = Scheduler.lakeFetch(spark, lake, "binance", "BTC/USDT")(lo, lo + 60)
    assert(fetched.count() == 2, "sanitized-symbol filter must match the lake partitions")
    assert(fetched.select("symbol").head().getString(0) == "BTC/USDT",
      "fetch must restore the raw symbol for the store's canonical key")
    // zero-row/fresh lake degrades to empty, not AnalysisException
    assert(Scheduler.lakeFetch(spark, tmp() + "/nolake", "binance", "BTC/USDT")(lo, lo + 60)
      .count() == 0)
    // and the full backfill tick lands features under the canon store key
    val store = new FeatureStore(spark, tmp())
    Scheduler.backfillOnce(spark, store, "BTC/USDT", "1m", lookbackMinutes = 1,
      fetch = Scheduler.lakeFetch(spark, lake, "binance", "BTC/USDT"),
      nowEpochSec = lo + 60)
    assert(store.rangeRead("market", "BTC-USDT", "1m", lo, lo + 60).count() > 0,
      "backfilled bars must be readable under the canonical store key")
  }

  test("document ingest stream end-to-end: clean, dedup, append survivors + telemetry across batches") {
    val in = tmp()
    val idx = tmp() + "/idx"
    val out = tmp() + "/out"
    val rep = tmp() + "/rep"
    val ckpt = tmp() + "/ckpt"
    val sch = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}g$i").mkString(" ")
    def runOnce(): Unit = {
      val q = StreamingPipelines.documentIngestStream(spark, in, sch, idx, out, rep, ckpt)
      q.awaitTermination(120000)
    }
    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }.mkString("\n"))
    // batch 0: a keeper, an exact dup, a quality reject
    drop("b0.json", Seq((1L, doc(1)), (2L, doc(1)), (3L, "too short")))
    runOnce()
    val kept0 = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept0 == Seq(1L), s"batch 0 survivors: $kept0")
    // batch 1: near-dup of batch 0's survivor + a novel doc
    drop("b1.json", Seq((10L, doc(1) + " tail bit"), (11L, doc(7))))
    runOnce()
    val keptAll = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keptAll == Seq(1L, 11L), s"cross-batch near-dup must drop: $keptAll")
    // telemetry table carries the per-stage story
    val reports = spark.read.parquet(rep).orderBy("batch_id").collect()
    assert(reports.length == 2)
    assert(reports(0).getAs[Long]("quality_dropped") == 1L &&
      reports(0).getAs[Long]("exact_dropped") == 1L)
    assert(reports(1).getAs[Long]("neardup_dropped") == 1L &&
      reports(1).getAs[Long]("kept") == 1L)
  }

  test("zorderWrite: a selective filter on EITHER z-column touches a fraction of the files") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val rows = (0 until 20000).map { i =>
      (i.toLong % 128L, (i * 2654435761L % 100000L).toDouble, s"p$i")
    }.toDF("user_id", "value", "payload").repartition(8)
    val zPath = tmp() + "/z"
    val linPath = tmp() + "/lin"
    val n = LakeWriter.zorderWrite(rows, zPath, Seq("user_id", "value"),
      bits = 8, targetRowsPerFile = 1250)
    assert(n == 20000)
    // control: same file count, single-column (value) range layout
    rows.repartitionByRange(16, col("value")).sortWithinPartitions("value")
      .write.mode("overwrite").option("maxRecordsPerFile", 1250).parquet(linPath)
    def filesTouched(path: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).where(cond)
        .select(input_file_name()).distinct().count()
    val zTotal = spark.read.parquet(zPath)
      .select(input_file_name()).distinct().count()
    assert(zTotal >= 8, s"expected a multi-file layout, got $zTotal files")
    // user_id slice: the value-sorted layout scatters it over every file;
    // the z-layout confines it to ~sqrt-of-files
    val slice = col("user_id") < 8
    val zT = filesTouched(zPath, slice)
    val linT = filesTouched(linPath, slice)
    assert(zT * 2 <= linT,
      s"z-order must prune user_id slices: z=$zT of $zTotal vs linear=$linT")
    // and the value dimension still prunes too (z-order keeps BOTH)
    val vSlice = col("value") < 5000.0
    assert(filesTouched(zPath, vSlice) < zTotal,
      "value slices must not touch every z-ordered file")
  }

  test("twitter payload with only one probability column falls back to inference") {
    // p_pos without p_neg: treating it as scored would fail analysis on
    // the missing column; the stage must score the text instead
    val partial = spark.read.json(Seq(
      """{"tweets": [{"id": "t3", "created_at": "2024-01-01T00:00:00Z", "text": "good good up", "author_id": "a", "retweets": 0, "likes": 0, "p_pos": 0.9}]}"""
    ).toDS())
    val scored = Connectors.TwitterSentiment().normalize(partial).head()
    assert(approx(scored.getAs[Double]("sentiment_score"), 0.6)) // stub model's score
  }
}
