package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session every graft main runs on: `local[n]` with `n` shuffle
  * partitions, where `n` is `SPARK_GRAFT_CPUS` (default: the machine's
  * cores), UTC, no UI, WARN logging, ANSI off, and a 64 KB floor under
  * AQE's partition coalescing.
  *
  * The floor: AQE's coalescing is size-targeted (default floor 1 MB,
  * advisory 64 MB), which at small scale collapses CPU-bound stages (text
  * kernels, per-window ladders) onto 1-4 tasks while the other cores idle
  * — measured r13: q_sadf 3.9→2.7 s, q_trend_scan 3.3→2.1, q_bet_size
  * 2.5→1.5, q_embed_neardup_lsh 4.9→2.2 from the floor alone. At
  * production partition sizes (100s of MB) it is inert.
  *
  * ANSI off: the query oracle's contract is pandas/DuckDB arithmetic —
  * division by zero gives null, integer overflow wraps — so every
  * session runs it, whatever it loads first.
  *
  * Each default applies only where no `spark.*` property sets the key
  * already, so spark-submit `--conf`, `-Dspark.…` and `JAVA_TOOL_OPTIONS`
  * override any of them. */
object LocalSession {
  def apply(): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val conf = new SparkConf()
    Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN"
    ).foreach { case (k, v) => conf.setIfMissing(k, v) }
    SparkSession.builder().config(conf).getOrCreate()
  }
}
