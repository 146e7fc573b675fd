package graft.serving

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.functions.Sanitize
import graft.metrics.Metrics
import graft.store.FeatureStore

/** The reference's HTTP serving edge re-expressed over the parquet
  * feature store — the last serve surface of
  * `adi/app/ingestion_service/routes.py` (point reads :685-765, range
  * reads :768-785, the admin token guard :1050-1069, `/metrics`
  * exposition) as a thin JDK `HttpServer` over [[FeatureStore]]:
  *
  *  - `GET /features/{domain}?symbol=&timeframe=&ts=…&ts=…` — batch
  *    point read; missing epochs are SKIPPED (not nulled), payloads
  *    pass the `_clean_numbers` NaN/Inf→null sanitize, and the body is
  *    the reference's `{"rows": n, "data": [{"timestamp": t, …}]}`
  *    envelope in REQUEST ts order (`routes.py:698-706`).
  *  - `GET /features/{domain}/range?symbol=&timeframe=&start=&end=
  *    [&limit=500][&reverse=false]` — inclusive epoch-second range,
  *    newest-first under `reverse`, the same envelope
  *    (`routes.py:768-785`; limit defaults to the reference's 500 and
  *    caps loudly — a driver endpoint must not collect unbounded).
  *  - `POST /admin/ttl_sweep?cutoff=YYYY-MM-DD` — the retention sweep
  *    behind the reference's admin guard: 503 when no token is
  *    configured, 401 unless `X-Admin-Token`, `X-API-Key`, or
  *    `Authorization: Bearer …` matches (`routes.py:1050-1069`).
  *  - `GET /metrics` — Prometheus text exposition.
  *
  * Every request runs in a [[Metrics]] span
  * (`http_requests_total{path,status}` +
  * `http_request_duration_seconds{path}`). The server is a DRIVER
  * process edge serving key-pruned point/range lookups (partition
  * pruning does the ZSET's job) — analytics stay in the engine; this
  * is the door, not the datapath. */
class FeatureServer(store: FeatureStore, adminToken: Option[String],
                    metrics: Metrics = Metrics, port: Int = 0,
                    maxLimit: Int = 100000) {

  private var server: HttpServer = _

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/features", exchange => handle(exchange))
    server.createContext("/admin", exchange => handle(exchange))
    server.createContext("/metrics", exchange => handle(exchange))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  /** 4xx with a JSON detail body — the FastAPI error envelope. */
  private final case class HttpError(code: Int, detail: String)
      extends RuntimeException(detail)

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val route = routeOf(path)
    val t0 = System.nanoTime()
    var status = 500
    try {
      val (code, body) =
        try dispatch(ex, path)
        catch {
          case HttpError(c, d) => (c, s"""{"detail":${jstr(d)}}""")
          case e: Exception =>
            (500, s"""{"detail":${jstr(Option(e.getMessage).getOrElse("internal error"))}}""")
        }
      status = code
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      val ctype = if (path == "/metrics") "text/plain; charset=utf-8"
                  else "application/json"
      ex.getResponseHeaders.set("Content-Type", ctype)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      metrics.counter("http_requests_total",
        Map("path" -> route, "status" -> status.toString)).increment()
      metrics.histogram("http_request_duration_seconds", Map("path" -> route))
        .observe((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Metric label: the route SHAPE only — no client-supplied segment
    * ever reaches a label (a probe loop on /features/<random> would
    * otherwise mint one counter+histogram series per path, and decoded
    * quotes would corrupt the exposition format). */
  private def routeOf(path: String): String =
    if (path == "/metrics") "/metrics"
    else if (path == "/admin/ttl_sweep") path
    else if (path.startsWith("/features/") && path.endsWith("/range"))
      "/features/{domain}/range"
    else if (path.startsWith("/features/")) "/features/{domain}"
    else "unknown"

  private def dispatch(ex: HttpExchange, path: String): (Int, String) = {
    val q = params(ex)
    path match {
      case "/metrics" if ex.getRequestMethod == "GET" =>
        (200, metrics.exposition())
      case "/admin/ttl_sweep" if ex.getRequestMethod == "POST" =>
        requireAdmin(ex)
        val cutoff = one(q, "cutoff")
        val dropped = store.ttlSweep(cutoff)
        (200, s"""{"dropped":${dropped.size},"partitions":[${dropped.map(jstr).mkString(",")}]}""")
      case p if p.startsWith("/features/") && ex.getRequestMethod == "GET" =>
        val rest = p.stripPrefix("/features/")
        if (rest.endsWith("/range")) featuresRange(rest.stripSuffix("/range"), q)
        else featuresPoint(rest, q)
      case _ => throw HttpError(404, "Not Found")
    }
  }

  private def featuresPoint(domain: String, q: Map[String, Seq[String]])
      : (Int, String) = {
    if (domain.isEmpty || domain.contains("/")) throw HttpError(404, "Not Found")
    val symbol = one(q, "symbol")
    val timeframe = one(q, "timeframe")
    val ts = q.getOrElse("ts", Seq.empty).map(longOf("ts", _))
    if (ts.isEmpty) throw HttpError(400, "ts is required (repeat per epoch-second)")
    if (ts.size > maxLimit)
      throw HttpError(400,
        s"at most $maxLimit ts values per request, got ${ts.size}")
    val rows = Sanitize.cleanNumbers(
        store.batchRead(domain, symbol, timeframe, ts)).collect()
    // request order, missing epochs skipped (routes.py:698-706).
    // The store dedups at write time, but a torn write can still leave
    // two versions of one epoch on disk — pick the winner by the store's
    // own last-write-wins rule (max _write_seq, then a stable JSON
    // tiebreak), never by collect order.
    val byEpoch = rows.groupBy(epochOf).map { case (e, rs) =>
      e -> rs.maxBy { r =>
        val seq =
          if (r.schema.fieldNames.contains("_write_seq") &&
              !r.isNullAt(r.fieldIndex("_write_seq")))
            r.getAs[Long]("_write_seq")
          else Long.MinValue
        (seq, rowJson(r, e))
      }
    }
    val data = ts.flatMap(t => byEpoch.get(t).map(r => rowJson(r, t)))
    (200, s"""{"rows":${data.size},"data":[${data.mkString(",")}]}""")
  }

  private def featuresRange(domain: String, q: Map[String, Seq[String]])
      : (Int, String) = {
    if (domain.isEmpty || domain.contains("/")) throw HttpError(404, "Not Found")
    val symbol = one(q, "symbol")
    val timeframe = one(q, "timeframe")
    val start = longOf("start", one(q, "start"))
    val end = longOf("end", one(q, "end"))
    val limitL = q.get("limit").flatMap(_.headOption)
      .map(v => longOf("limit", v)).getOrElse(500L)
    // validate on the Long BEFORE narrowing — 2^32 must 400, not
    // silently truncate to limit=0
    if (limitL < 0L || limitL > maxLimit)
      throw HttpError(400, s"limit must be in [0, $maxLimit], got $limitL")
    val limit = limitL.toInt
    val reverse = q.get("reverse").flatMap(_.headOption)
      .exists(v => v == "true" || v == "1")
    val rows = Sanitize.cleanNumbers(
        store.rangeRead(domain, symbol, timeframe, start, end, limit, reverse))
      .collect()
    val data = rows.map(r => rowJson(r, epochOf(r)))
    (200, s"""{"rows":${data.length},"data":[${data.mkString(",")}]}""")
  }

  /** The reference's `require_admin`: 503 when unconfigured, token from
    * `X-Admin-Token` / `X-API-Key` / `Authorization: Bearer`, else 401. */
  private def requireAdmin(ex: HttpExchange): Unit = {
    val expected = adminToken.getOrElse(
      throw HttpError(503, "Admin token not configured"))
    val h = ex.getRequestHeaders
    val provided = Option(h.getFirst("X-Admin-Token"))
      .orElse(Option(h.getFirst("X-API-Key")))
      .orElse(Option(h.getFirst("Authorization")).flatMap { auth =>
        val parts = auth.split(" ", 2)
        if (parts.length == 2 && parts(0).equalsIgnoreCase("bearer"))
          Some(parts(1).trim)
        else None
      })
    // constant-time compare — string equality short-circuits and leaks
    // the token prefix to a timing probe
    val ok = provided.exists(p => java.security.MessageDigest.isEqual(
      p.getBytes(StandardCharsets.UTF_8),
      expected.getBytes(StandardCharsets.UTF_8)))
    if (!ok) throw HttpError(401, "Admin token required")
  }

  // ---- helpers ----

  private val internalCols = Set("domain", "symbol", "timeframe", "dt",
    "timestamp", "_write_seq")

  private def epochOf(r: Row): Long = {
    val i = r.fieldIndex("timestamp")
    r.getAs[java.sql.Timestamp](i).toInstant.getEpochSecond
  }

  /** `{"timestamp": t, …payload}` — payload fields minus the key/
    * bookkeeping columns; NaN/Inf already nulled upstream. */
  private def rowJson(r: Row, epoch: Long): String = {
    val fields = r.schema.fields.zipWithIndex.collect {
      case (f, i) if !internalCols.contains(f.name) =>
        s"${jstr(f.name)}:${jval(r, i, f.dataType)}"
    }
    (s""""timestamp":$epoch""" +: fields).mkString("{", ",", "}")
  }

  private def jval(r: Row, i: Int, dt: DataType): String =
    if (r.isNullAt(i)) "null"
    else dt match {
      case DoubleType =>
        val d = r.getDouble(i)
        if (java.lang.Double.isFinite(d)) d.toString else "null"
      case FloatType =>
        val d = r.getFloat(i)
        if (java.lang.Float.isFinite(d)) d.toString else "null"
      case LongType => r.getLong(i).toString
      case IntegerType => r.getInt(i).toString
      case BooleanType => r.getBoolean(i).toString
      case TimestampType =>
        r.getAs[java.sql.Timestamp](i).toInstant.getEpochSecond.toString
      case _ => jstr(String.valueOf(r.get(i)))
    }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).toSeq
      .map { kv =>
        val Array(k, v) = (kv.split("=", 2) ++ Array("")).take(2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  private def one(q: Map[String, Seq[String]], name: String): String =
    q.get(name).flatMap(_.headOption).filter(_.nonEmpty)
      .getOrElse(throw HttpError(400, s"$name is required"))

  private def longOf(name: String, v: String): Long =
    try v.toLong
    catch { case _: NumberFormatException =>
      throw HttpError(400, s"$name must be an integer, got '$v'") }
}

/** Standalone entry: serve a feature store over HTTP.
  * `runMain graft.serving.FeatureServer <storePath> [port]`; the admin
  * token comes from `GRAFT_ADMIN_TOKEN` (unset → admin routes 503, the
  * reference's unconfigured behavior). */
object FeatureServer {
  def main(args: Array[String]): Unit = {
    val basePath = args(0)
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = graft.LocalSession()
    val srv = new FeatureServer(new FeatureStore(spark, basePath),
      sys.env.get("GRAFT_ADMIN_TOKEN"), port = port)
    val bound = srv.start()
    System.err.println(s"[serve] feature store $basePath on 127.0.0.1:$bound")
    Thread.currentThread.join()
  }
}
