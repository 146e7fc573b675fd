package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.SparkEntry

/** `batch_suite`: fixed queries through `SparkEntry.queries` into the
  * `noop` sink, in three families that load different engine
  * bottlenecks — the job-scheduling floor of the folds (`market`),
  * driver-side loops (`portfolio`), and shuffle, codegen and the
  * IVF-PQ vector index (`curation`). One operation is one query.
  *
  * Set-up ends with an untimed, checked warm-up pass: it pays the JIT,
  * code-generation and first-touch cost a batch job in a fresh JVM pays
  * (and builds the IVF-PQ index), so that cost lands in `setup_s` and
  * the `cold_pass_s` detail figure, and no single query's latency
  * carries the JVM's warm-up. Measured passes over the suite then repeat
  * until the run length is spent, at least one.
  *
  * Output check: each query's row count and an order-insensitive hash
  * of its rows are taken by `Dataset.observe` on the timed action itself
  * (no extra job) and compared with `reference.tsv`. */
object BatchSuite {
  val Families: Seq[(String, Seq[String])] = Seq(
    "market" -> Seq("q_cusum_fold"),
    "portfolio" -> Seq("q_cpcv_paths"),
    "curation" -> Seq("q_containment_incremental", "q_cdc_dedup", "q_ivfpq_batch"))
  val Queries: Seq[String] = Families.flatMap(_._2)
  val Sizes: Data.Sizes = Data.Sizes(events = 10000, documents = 500, embeddings = 500)
  val DataSeed = 42L

  /** Row count and the exact sum of per-row 64-bit hashes, which no
    * row order can change. Map columns hash through their JSON text. */
  private def checked(df: DataFrame, obs: Observation): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("hash"))
  }

  def reference(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/reference.tsv")
    if (in == null) Map.empty
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, hash) = l.split("\t")
        q -> (rows.toLong, hash)
      }.toMap finally src.close()
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val dir = s"${ctx.work}/data"
    Data.writeTables(spark, dir, Sizes, DataSeed)
    val ref = reference()
    // runs `q` into `noop` and checks its output: its wall seconds, or
    // None if it threw or its output differs from the reference
    def runQuery(q: String, pass: String, traced: Boolean): Option[Double] = {
      val obs = Observation(s"chk_${q}_$pass")
      res.attempted += 1
      val q0 = System.nanoTime()
      val ok =
        try {
          def action(): Unit = checked(SparkEntry.queries(q)(spark, dir), obs)
            .write.format("noop").mode("overwrite").save()
          if (traced) ctx.tracer.span(s"query.$q")(action()) else action()
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            false
        }
      val sec = (System.nanoTime() - q0) / 1e9
      System.err.println(f"[perfbench] pass $pass $q $sec%.2f s")
      if (!ok) { res.failed += 1; None }
      else {
        val m = obs.get
        val got = (m("rows").asInstanceOf[Long], m("hash").toString)
        ref.get(q) match {
          case Some(want) if want == got => Some(sec)
          case Some(want) =>
            res.failed += 1
            res.mismatch(s"$q rows/hash $got, reference $want")
            None
          case None =>
            res.failed += 1
            res.mismatch(s"$q has no reference row count and hash; this run: " +
              s"$q\t${got._1}\t${got._2}")
            None
        }
      }
    }
    // warm-up pass: part of set-up, checked, outside every percentile.
    // The queries run in turn: side by side they warm the JVM less in
    // the same time.
    val w0 = System.nanoTime()
    Queries.foreach { q =>
      runQuery(q, "warmup", traced = false)
      spark.catalog.clearCache()
    }
    res.detail("cold_pass_s") = (System.nanoTime() - w0) / 1e9
    res.firstOp()
    // per measured pass: query -> wall seconds (completed queries only)
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || elapsed < ctx.seconds) {
      val walls = mutable.LinkedHashMap.empty[String, Double]
      Queries.foreach { q =>
        runQuery(q, passes.size.toString, traced = true).foreach(sec => walls(q) = sec)
        spark.catalog.clearCache()
      }
      passes += walls
    }
    // failed queries spend measured time too
    res.measuredS = elapsed
    passes.foreach(p => res.opsMs ++= p.values.map(_ * 1e3))
    Families.foreach { case (f, qs) =>
      res.detail(s"${f}_s") = Stats.median(passes.toSeq.map(p => qs.flatMap(p.get).sum))
    }
    Queries.foreach { q =>
      res.detail(s"query.${q}_s") = Stats.median(passes.toSeq.flatMap(_.get(q)))
    }
    if (ctx.tracer.on) {
      Families.foreach { case (f, qs) =>
        res.layer(s"${f}_s") = res.detail(s"${f}_s")
        val spans = qs.flatMap(q => ctx.tracer.named(s"query.$q"))
        // per pass of the suite
        val c = Tracer.sumCounts(spans).map { case (k, v) => k -> v.toDouble / passes.size }
        Seq("jobs", "stages", "tasks", "actions", "exchanges", "sorts", "nl_joins",
          "lambdas", "shuffle_bytes", "scan_bytes", "spill_bytes")
          .foreach(n => res.layer(s"$f.$n") = c(n))
        res.layer(s"$f.plan_s") = c("plan_ms") / 1e3
        res.layer(s"$f.task_s") = c("task_ms") / 1e3
        res.layer(s"$f.exec_cpu_s") = c("exec_cpu_ns") / 1e9
        res.layer(s"$f.fetch_wait_s") = c("fetch_wait_ms") / 1e3
        res.layer(s"$f.driver_gap_s") = c("gap_ms") / 1e3
      }
      Queries.foreach(q => res.layer(s"query.${q}_s") = res.detail(s"query.${q}_s"))
    }
  }
}
