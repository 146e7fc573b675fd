package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBus

/** Benchmark main: `Bench [query ...]` runs the named `SparkEntry.queries`
  * entries (all of them when none is named) against `SPARK_GRAFT_SF_DIR`
  * on [[LocalSession]] — the session Verify green-lights — and prints ONE
  * JSON line with per-query seconds.
  *
  * Trust mechanisms (round-1 verdict asked for falsifiable numbers):
  *   - best-of-N timing (`SPARK_GRAFT_BENCH_REPS`, default 3), with the
  *     reps taken as FULL PASSES over the suite rather than back-to-back:
  *     host-noise windows on this box last minutes and degrade whole
  *     stretches of a run (measured: the same query 2.3 s in a fresh JVM
  *     vs 47–184 s inside a degraded window, at near-zero steal), so
  *     adjacent reps would both land in the same window while pass-spaced
  *     reps don't;
  *   - per-rep host CPU-steal deltas from `/proc/stat` (cpu field 8) and
  *     CPU pressure-stall deltas from `/proc/pressure/cpu` (`some total`
  *     µs): a number with near-zero steal+PSI is a clean measurement.
  * JSON: `queries` (best sec), `layers` (the best rep's [[Layers]]),
  * `steal_jiffies`/`psi_cpu_us` (best rep's deltas), `reps` ([sec, steal,
  * psi_us, calib] per pass), `steal_total`.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Cumulative steal jiffies — `/proc/stat` aggregate cpu line, field 8.
    * -1 if unreadable. */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")) match {
        case Some(line) =>
          val f = line.trim.split("\\s+")
          if (f.length > 8) f(8).toLong else 0L
        case None => -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Cumulative CPU pressure-stall µs — `/proc/pressure/cpu`, `some
    * total=` field. Catches host noise that steal accounting misses. */
  private def psiCpuUs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/pressure/cpu")
      try src.getLines().find(_.startsWith("some")) match {
        case Some(line) =>
          "total=(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(-1L)
        case None => -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 3 pass-spaced reps: degradation windows last minutes, so two passes
    // can both straddle one window; a third ~30 s clean pass is cheap
    // insurance that best-of-N reflects the plan, not the host
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val all = SparkEntry.queries
    val queries =
      if (args.isEmpty) all.toSeq
      else args.toSeq.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n")))
    val spark = LocalSession()
    val json = run(spark, sfDir, queries, reps)
    // stdout goes through sbt's logger, which prefixes `[info] ` — every
    // BENCH_r*.json artifact through round 6 ended `"parsed": null` because
    // of it. The file is the machine-readable record; stdout stays for eyes.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
      try w.println(json) finally w.close()
      System.err.println(s"[bench] wrote $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    println(json)
    spark.stop()
  }

  /** One rep's scheduling and executor work: jobs started, stages and
    * tasks completed, executor CPU and shuffle bytes of those stages —
    * is the wall the plan or the per-job scheduling floor? */
  private final case class Layers(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                                  execCpuNs: Long = 0, shuffleReadBytes: Long = 0,
                                  shuffleWriteBytes: Long = 0) {
    def +(o: Layers): Layers = Layers(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, execCpuNs + o.execCpuNs,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes)
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""exec_cpu_s":${execCpuNs / 1e9},"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes}"""
  }

  /** Sums [[Layers]] per job group, so each rep's events are told apart
    * by the group it runs under, not by timing. */
  private final class LayerListener extends SparkListener {
    private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
    private val byGroup = scala.collection.mutable.Map.empty[String, Layers]
    private def add(group: String, l: Layers): Unit =
      byGroup(group) = byGroup.getOrElse(group, Layers()) + l

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          j.stageIds.foreach(stageGroup(_) = g)
          add(g, Layers(jobs = 1))
        }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      stageGroup.get(i.stageId).foreach { g =>
        val m = i.taskMetrics
        add(g, Layers(stages = 1, tasks = i.numTasks, execCpuNs = m.executorCpuTime,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten))
      }
    }
    /** The group's tally; call after the listener bus has drained. */
    def take(group: String): Layers = synchronized(byGroup.remove(group).getOrElse(Layers()))
  }

  private final case class Rep(sec: Double, steal: Long, psi: Long, calib: Double,
                               layers: Layers)

  /** Runs `queries` in `reps` pass-spaced passes on `spark` and returns
    * the bench JSON line. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
          reps: Int): String = {
    import org.apache.spark.sql.functions.{col => c, sum => fsum}
    /** Fixed CPU-bound probe with a constant cost (~0.2 s clean): its
      * wall time is a machine-health index that needs no host metrics.
      * Degradation windows here slow the guest 10–50× while steal AND
      * /proc/pressure stay near zero (hypervisor throttling is invisible
      * from inside) — a slow probe next to a slow query says "machine".
      * ONE-SIDED: a fast probe does NOT clear a multi-stage query, since
      * the noise mode stretches inter-stage gaps that one dense stage
      * never sees (see BASELINE.md). Warmed once so JIT isn't measured. */
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(50000000L).select(fsum(c("id") % 7L)).head()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // JIT/codegen warm-up for the probe itself

    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    val stealStart = stealJiffies()
    val names = queries.map(_._1)
    val runs = scala.collection.mutable.Map.empty[String, List[Rep]].withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map.empty[String, String]
    try (1 to reps).foreach { pass =>
      queries.foreach { case (name, fn) =>
        val calib = calibrate()
        val s0 = stealJiffies()
        val p0 = psiCpuUs()
        val group = s"bench $name pass $pass"
        sc.setJobGroup(group, group)
        val t0 = System.nanoTime()
        var failed = false
        // HONEST materialization: the noop sink consumes EVERY output
        // column, so column pruning can't hollow the plan out. Round 7
        // caught `.count()` letting Catalyst eliminate whole join
        // pipelines — q_triple_barrier "ran" in 0.1 s while its band
        // join (the entire query) was optimized away; the honest cost
        // was 104 s pre-fix. count() benches the scan, not the query.
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          failed = true
          errors(name) = e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        } finally sc.clearJobGroup()
        val sec = (System.nanoTime() - t0) / 1e9
        // isolate queries: drop persisted frames some operators pin
        spark.catalog.clearCache()
        ListenerBus.drain(sc)
        val layers = listener.take(group)
        // a failing rep must never enter best-of-N — a quickly-crashing
        // query would otherwise "improve" the suite total
        if (!failed)
          runs(name) = runs(name) :+ Rep(sec, stealJiffies() - s0, psiCpuUs() - p0, calib, layers)
        System.err.println(f"[bench] pass$pass $name $sec%.1fs " +
          f"(steal ${stealJiffies() - s0} jf, calib $calib%.2fs, jobs ${layers.jobs})" +
          (if (failed) " FAILED" else ""))
      }
    } finally sc.removeSparkListener(listener)

    def jmap(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ok = names.filter(runs(_).nonEmpty)
    val best = ok.map(n => n -> runs(n).minBy(_.sec)).toMap
    def bestOf(f: Rep => Any): String = jmap(ok.map(n => n -> f(best(n)).toString))
    val repsJson = jmap(ok.map(n =>
      n -> runs(n).map(r => s"[${r.sec},${r.steal},${r.psi},${r.calib}]")
        .mkString("[", ",", "]")))
    val errJson = jmap(errors.toSeq.sortBy(_._1)
      .map { case (n, m) => n -> ("\"" + m + "\"") })
    // a query failing EVERY rep leaves `queries`, which would shrink
    // `value` and read as a speedup — flag it front and center
    val allFailed = names.filterNot(ok.contains)
    val failedJson = allFailed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(best(_).sec).sum
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""failed_queries":$failedJson,"queries":${bestOf(_.sec)},""" +
      s""""layers":${bestOf(_.layers.json)},""" +
      s""""steal_jiffies":${bestOf(_.steal)},"psi_cpu_us":${bestOf(_.psi)},""" +
      s""""calib_sec":${bestOf(_.calib)},""" +
      s""""reps":$repsJson,"errors":$errJson,""" +
      s""""steal_total":${stealJiffies() - stealStart},""" +
      s""""n_reps":$reps,"sf":"$sfDir"}"""
  }
}
