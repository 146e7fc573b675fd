package graft.time

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time normalization — the engine's equivalent of
  * `adi/app/common/time_norm.py`.
  *
  * Everything is UTC. Epoch ints arrive in seconds or milliseconds; the
  * reference disambiguates per-column with a median-magnitude heuristic
  * (`time_norm.py:47-60`) and per-scalar with a plain threshold
  * (`adi/app/features/store/redis_store.py:68-81`). Both are kept.
  */
object TimeNorm {

  /** Scalar threshold heuristic: epoch > 1e10 means milliseconds
    * (`redis_store.py:68-72`, `routes.py:158-170`). Pure column expression,
    * codegen-friendly — preferred at scale since it needs no extra pass. */
  def epochToTimestamp(epoch: Column): Column =
    when(epoch > lit(10000000000L), timestamp_millis(epoch.cast("long")))
      .otherwise(timestamp_seconds(epoch.cast("long")))

  /** Column-level heuristic: median magnitude >= 1e12 means ms
    * (`time_norm.py:47-60`). Two-pass (an aggregate decides the unit, then a
    * single cast applies it) — the aggregate is distributed
    * (percentile_approx), no driver collect of data rows. */
  def epochColumnToTimestamp(df: DataFrame, epochCol: String, dest: String): DataFrame = {
    val med = df.select(percentile_approx(col(epochCol).cast("double"), lit(0.5), lit(10000)))
      .head().getDouble(0)
    val asTs =
      if (med >= 1e12) timestamp_millis(col(epochCol).cast("long"))
      else timestamp_seconds(col(epochCol).cast("long"))
    df.withColumn(dest, asTs)
  }

  /** Derived "YYYY-MM-DD" partition column (`time_norm.py:100-108`). */
  def dt(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  /** Timeframe string → seconds: "30s"/"5m"/"4h"/"1d"/"1w"
    * (`adi/app/features/jobs/backfill.py:19-33`). */
  def timeframeSeconds(tf: String): Long = {
    val m = "^(\\d+)([smhdw])$".r
    tf.trim.toLowerCase match {
      case m(n, u) =>
        n.toLong * (u match {
          case "s" => 1L; case "m" => 60L; case "h" => 3600L
          case "d" => 86400L; case "w" => 604800L
        })
      case other => throw new IllegalArgumentException(s"bad timeframe: $other")
    }
  }

  /** Floor an epoch-seconds value to a step boundary: `ts - ts % step`
    * (`adi/app/features/backfill/runner.py:19-29`). */
  def floorEpoch(epochSec: Column, stepSec: Long): Column =
    epochSec.cast("long") - (epochSec.cast("long") % lit(stepSec))

  /** Canonical symbol form: `avax:usdt` → `AVAX-USDT`
    * (`redis_store.py:62-65`). */
  def canonSymbol(sym: Column): Column = upper(translate(sym, "/:", "--"))

  /** Partition-value sanitize for k=v dir names (`utils.py:53-58`). */
  def sanitizePartitionValue(v: Column): Column =
    regexp_replace(v, "[^A-Za-z0-9_.-]", "_")
}
