package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Sanitize
import graft.metrics.Metrics
import graft.serving.FeatureServer
import graft.store.FeatureStore

/** The serving phase of `stream_fold`: point and range reads against an
  * in-process [[FeatureServer]] over the [[FeatureStore]] the streamed
  * feature query has just written (five event types, `1h` features).
  *
  * Load: [[Clients]] closed-loop clients — as many as the server's
  * request pool and the cores — each with its own connection, sending
  * the next request when the previous reply arrives, for [[Seconds]]
  * after a [[WarmupS]] warm-up. The seeded mix is 70 % batch point reads
  * of 1–8 epochs from one series (each epoch a miss with probability
  * 0.1) and 30 % range reads over a 1–12 h window with `limit=500`, half
  * of them `reverse`. A non-200 reply, a timeout or an exception fails
  * the request.
  *
  * Output check: every fourth request of each client is replayed after
  * the timed phase as a direct `FeatureStore` read, and its reply must
  * hold the same rows, in the same order, with the same values. */
object Serving {
  val Clients = 4
  val WarmupS = 0.5
  val Seconds = 3.0
  private val PointRoute = "/features/{domain}"
  private val RangeRoute = "/features/{domain}/range"

  final case class Req(point: Boolean, symbol: String, timeframe: String,
                       epochs: Seq[Long], start: Long, end: Long, reverse: Boolean) {
    def path: String =
      if (point) s"/features/market?symbol=$symbol&timeframe=$timeframe" +
        epochs.map(e => s"&ts=$e").mkString
      else s"/features/market/range?symbol=$symbol&timeframe=$timeframe" +
        s"&start=$start&end=$end&limit=500&reverse=$reverse"
  }

  final case class Done(req: Req, ms: Double, body: Option[String])

  /** A row as `field=value` pairs sorted by field, values in the
    * server's JSON rendering; key and bookkeeping columns dropped. */
  private val internal = Set("domain", "symbol", "timeframe", "dt", "timestamp", "_write_seq")
  private def canon(pairs: Seq[(String, String)]): String =
    pairs.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
  private def rowCanon(r: Row): String = {
    val ts = r.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond
    canon(("timestamp" -> ts.toString) +: r.schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !internal.contains(f.name) =>
        f.name -> (if (r.isNullAt(i)) "null" else f.dataType match {
          case DoubleType => java.lang.Double.toString(r.getDouble(i))
          case _ => String.valueOf(r.get(i))
        })
    })
  }
  private def nodeCanon(n: JsonNode): String =
    canon(n.fields().asScala.toSeq.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isNull) "null" else if (v.isTextual) v.textValue
        else if (v.isIntegralNumber && e.getKey == "timestamp") v.asLong.toString
        else java.lang.Double.toString(v.asDouble))
    })

  /** Serves the store at `storePath` and checks sampled replies. */
  def run(ctx: Ctx, storePath: String): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val tr = ctx.tracer
    val metrics = new Metrics
    val store = new FeatureStore(spark, storePath)
    val server = new FeatureServer(store, None, metrics = metrics)
    val port = server.start()
    try {
      // the epochs each series holds, to aim point reads at hits
      val epochs: Map[(String, String), Array[Long]] = spark.read.parquet(storePath)
        .select(col("symbol"), col("timeframe"), unix_timestamp(col("timestamp")).as("e"))
        .collect().groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).sorted }
      val keys = epochs.keys.toSeq.sorted
      val lo = epochs.values.map(_.head).min
      val hi = epochs.values.map(_.last).max
      def nextReq(r: Random): Req = {
        val (sym, tf) = keys(r.nextInt(keys.size))
        if (r.nextInt(10) < 7) {
          val have = epochs((sym, tf))
          val es = Seq.fill(1 + r.nextInt(8)) {
            val e = have(r.nextInt(have.length))
            if (r.nextInt(10) == 0) e + 1 else e // bars sit on whole hours
          }.distinct
          Req(point = true, sym, tf, es, 0L, 0L, reverse = false)
        } else {
          val w = 3600L + (r.nextDouble() * 11 * 3600L).toLong
          val s = lo + (r.nextDouble() * math.max(0L, hi - lo - w)).toLong
          Req(point = false, sym, tf, Nil, s, s + w, r.nextBoolean())
        }
      }

      val done = new ConcurrentLinkedQueue[Done]()
      @volatile var phase = 0 // 0 warm-up, 1 measured, 2 stop
      val failures = new java.util.concurrent.atomic.AtomicLong(0L)
      val attempts = new java.util.concurrent.atomic.AtomicLong(0L)
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
            .connectTimeout(Duration.ofSeconds(10)).build()
          val rnd = new Random(ctx.seed * 1000003L + c)
          var i = 0L
          while (phase < 2) {
            val req = nextReq(rnd)
            val measured = phase == 1
            val sampled = measured && i % 4 == 0
            val httpReq = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
              .timeout(Duration.ofSeconds(10)).GET().build()
            val q0 = System.nanoTime()
            val outcome =
              try {
                // concurrent requests share the run-wide counters: they are
                // divided among the requests after the run, not per span
                val resp = tr.span(s"serving.${if (req.point) "point" else "range"}",
                  counted = false)(http.send(httpReq, HttpResponse.BodyHandlers.ofString()))
                if (resp.statusCode == 200) Some(resp.body) else None
              } catch { case _: Exception => None }
            val ms = (System.nanoTime() - q0) / 1e6
            if (measured) {
              attempts.incrementAndGet()
              outcome match {
                case Some(body) => done.add(Done(req, ms, if (sampled) Some(body) else None))
                case None => failures.incrementAndGet()
              }
            }
            i += 1
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      Thread.sleep((WarmupS * 1000).toLong)
      val server0 = Seq(PointRoute, RangeRoute).map { r =>
        val h = metrics.histogram("http_request_duration_seconds", Map("path" -> r))
        r -> (h.count.sum(), h.sumMicros.get)
      }.toMap
      val t0 = System.nanoTime()
      val c0 = Counters.snapshot()
      phase = 1
      Thread.sleep((Seconds * 1000).toLong)
      phase = 2
      threads.foreach(_.join())
      tr.settle()
      val measuredS = (System.nanoTime() - t0) / 1e9
      val counts = Counters.delta(c0, Counters.snapshot())
      val all = done.asScala.toSeq
      res.attempted += attempts.get
      res.failed += failures.get
      res.detail("serve_requests") = attempts.get
      res.detail("serve_failed") = failures.get
      val point = all.filter(_.req.point).map(_.ms)
      val range = all.filterNot(_.req.point).map(_.ms)
      res.detail("point_p50_ms") = Stats.median(point)
      res.detail("point_tail_ms") = Stats.quantile(point, Stats.TailQ)
      res.detail("range_p50_ms") = Stats.median(range)
      res.detail("range_tail_ms") = Stats.quantile(range, Stats.TailQ)
      res.detail("serve_rps") = all.size / measuredS

      // ---- output checks (untimed), timing the direct store reads ----
      val mapper = new ObjectMapper()
      val direct = mutable.Map(true -> mutable.ArrayBuffer.empty[Double],
        false -> mutable.ArrayBuffer.empty[Double])
      val sampled = all.filter(_.body.isDefined)
      sampled.foreach { d =>
        val q = d.req
        val q0 = System.nanoTime()
        val want =
          if (q.point) {
            val byEpoch = Sanitize.cleanNumbers(store.batchRead("market", q.symbol,
              q.timeframe, q.epochs)).collect().toSeq.map(r =>
              r.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond -> r).toMap
            q.epochs.flatMap(byEpoch.get).map(rowCanon)
          } else Sanitize.cleanNumbers(store.rangeRead("market", q.symbol, q.timeframe,
            q.start, q.end, 500, q.reverse)).collect().toSeq.map(rowCanon)
        direct(q.point) += (System.nanoTime() - q0) / 1e6
        val body = mapper.readTree(d.body.get)
        val got = body.get("data").elements().asScala.toSeq.map(nodeCanon)
        if (got != want || body.get("rows").asInt != want.size)
          res.mismatch(s"serving reply to ${q.path} has ${got.size} rows, a direct " +
            s"store read ${want.size}, or their values differ")
      }
      res.detail("checked_replies") = sampled.size
      res.detail("store.point_ms") = Stats.median(direct(true).toSeq)
      res.detail("store.range_ms") = Stats.median(direct(false).toSeq)

      if (tr.on) {
        Seq("point" -> PointRoute, "range" -> RangeRoute).foreach { case (r, route) =>
          val h = metrics.histogram("http_request_duration_seconds", Map("path" -> route))
          val (n0, s0) = server0(route)
          val n = h.count.sum() - n0
          val serverMs = if (n > 0) (h.sumMicros.get - s0) / 1e3 / n else 0.0
          val client = all.filter(_.req.point == (r == "point")).map(_.ms)
          res.layer(s"serving.$r.server_ms") = serverMs
          res.layer(s"serving.$r.http_ms") =
            (if (client.isEmpty) 0.0 else client.sum / client.size) - serverMs
          res.layer(s"store.${r}_ms") = res.detail(s"store.${r}_ms")
        }
        val reqs = math.max(1L, attempts.get).toDouble
        res.layer("serving.jobs_per_req") = counts("jobs") / reqs
        res.layer("serving.tasks_per_req") = counts("tasks") / reqs
        res.layer("serving.fs_calls_per_req") = counts("fs_calls") / reqs
        Seq("point_p50_ms", "point_tail_ms", "range_p50_ms", "range_tail_ms", "serve_rps")
          .foreach(k => res.layer(k) = res.detail(k))
      }
    } finally server.stop()
  }
}
