package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured. Latencies of failed operations never enter
  * `opsMs`; they count in `failed` only. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Latency of every completed timed operation, in completion order. */
  val opsMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var measuredS = 0.0
  /** Process start to the first timed operation: JVM start, the Spark
    * session and the workload's inputs. */
  var setupS = 0.0
  /** Per-layer numbers (traced runs) and workload detail (every run). */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val detail: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def firstOp(): Unit =
    setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def mismatch(what: String): Unit = synchronized {
    mismatches += what
    System.err.println(s"[perfbench] MISMATCH $what")
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, work: String, res: Result)

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "batch_suite" -> BatchSuite.run,
    "stream_fold" -> StreamFold.run)

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"[perfbench] unknown workload '$workload'; one of ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"

    val b = SparkSession.builder().master("local[4]").appName("perfbench")
      // graft.Bench's session: one shuffle partition per core, the 64 KB
      // AQE coalescing floor, UTC, no UI
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Counters.sc = spark.sparkContext
    if (trace) {
      spark.sparkContext.addSparkListener(new CountingListener)
      spark.listenerManager.register(new PlanListener)
    }

    import org.apache.spark.sql.functions.{col, sum}
    // graft.Bench's fixed CPU-bound probe: a machine-health index next to
    // every wall time, taken once the run has warmed the JVM
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(50000000L).select(sum(col("id") % 7L)).head()
      (System.nanoTime() - t0) / 1e9
    }
    val steal0 = Host.stealJiffies()
    val psi0 = Host.psiCpuUs()

    val res = new Result
    val tracer = new Tracer(trace, runId, spark.sparkContext)
    val ctx = Ctx(spark, seed, seconds, tracer, work, res)
    val started = System.nanoTime()
    try body(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        res.mismatch(s"workload aborted: $e")
    }
    val wallS = (System.nanoTime() - started) / 1e9
    val steal = Host.stealJiffies() - steal0
    val psi = Host.psiCpuUs() - psi0
    val calib = calibrate()

    val ops = res.opsMs.toSeq
    // the tail is p90 on every workload: at the fixed run length a
    // stricter percentile would rest on one or two samples
    val tailQ = Stats.TailQ
    // a run whose every operation failed must not read as fast: its
    // latencies become the whole time it spent without a result
    def latency(q: Double) = if (ops.isEmpty) wallS * 1e3 else Stats.quantile(ops, q)
    val e2e = Seq(
      "p50_ms" -> latency(0.5),
      "tail_ms" -> latency(tailQ),
      "ops_per_s" -> (if (res.measuredS > 0) ops.size / res.measuredS else 0.0),
      "setup_s" -> res.setupS)
    if (trace) {
      res.layer("failed_frac") = res.failed.toDouble / math.max(1L, res.attempted)
      res.layer("host.steal_jiffies") = steal.toDouble
      res.layer("host.psi_cpu_ms") = psi / 1000.0
      res.layer("host.calib_s") = calib
      tracer.write(java.nio.file.Paths.get(out, s"$runId.spans.jsonl"))
    }
    val correct = res.mismatches.isEmpty && ops.nonEmpty
    val detail = res.detail ++ Seq(
      "seed" -> seed.toDouble, "ops" -> ops.size.toDouble, "tail_q" -> tailQ,
      "tail_samples_beyond" -> math.floor(ops.size * (1 - tailQ)),
      "failed_frac" -> res.failed.toDouble / math.max(1L, res.attempted),
      "measured_s" -> res.measuredS, "workload_wall_s" -> wallS,
      "steal_jiffies" -> steal.toDouble, "psi_cpu_us" -> psi.toDouble,
      "calib_s" -> calib)

    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
    val mm = res.mismatches.map(m => "\"" + m.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(300) + "\"")
    // one JSON record: the caller turns it into the result line
    val record = s"""{"run":"$runId","workload":"$workload","trace":$trace,""" +
      s""""correct":$correct,"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""mismatches":${mm.mkString("[", ",", "]")},"end_to_end":${obj(e2e)},""" +
      s""""per_layer":${obj(res.layer)},"detail":${obj(detail)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"$runId.json"), record)
    println(record)
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
