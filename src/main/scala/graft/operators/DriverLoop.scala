package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** The plumbing every driver loop repeats: small state that rides the
  * loop as driver rows, and input cut into the time chunks the loop
  * folds one by one.
  *
  * Driver rows: a series-sized (one row per series) or key²-sized
  * (a solver image over ≤ 256 keys) frame is collected once and
  * re-injected as a LocalRelation. Every later use costs no job — a
  * broadcast of it builds on the driver, and deterministic projections
  * over it fold at optimization time (`ConvertToLocalRelation`). Values
  * pass through untouched; this is re-injection, not driver arithmetic.
  * Above [[MaxRows]] rows the collect fails loudly, naming its caller,
  * instead of OOMing the driver on a corpus-scale frame. */
object DriverLoop {

  /** 2^20: far above any series or key² universe, far below driver
    * memory danger. */
  val MaxRows: Int = 1 << 20

  /** `df`'s rows on the driver; `caller` names the fold or solver in
    * the size-contract failure. */
  def collect(df: DataFrame, caller: String): Array[Row] = {
    val rows = df.collect()
    require(rows.length <= MaxRows,
      s"$caller: ${rows.length} driver rows exceed the series-/key-sized " +
        s"contract (<= 2^20) — driver re-injection is never for corpus-scale frames")
    rows
  }

  /** `rows` re-injected as a LocalRelation of `schema`. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** [[collect]] then [[frame]]: `df` as a driver-local relation. */
  def localize(df: DataFrame, caller: String): DataFrame =
    frame(df.sparkSession, collect(df, caller).toSeq, df.schema)

  /** `df` cut into `chunkUs`-wide slices of `tsCol`, in time order, for
    * a loop that folds them one after another. The base is checkpointed
    * eagerly (each slice re-reads it) and the ordered chunk ids are
    * collected; more than `maxChunks` chunks fails loudly — size
    * `chunkUs` to the span, not below it. */
  def chunks(df: DataFrame, tsCol: String, chunkUs: Long, maxChunks: Int,
             caller: String): Seq[DataFrame] = {
    require(chunkUs > 0L, s"chunkUs must be positive, got $chunkUs")
    val us = s"unix_micros(cast(`$tsCol` as timestamp))"
    val base = df.withColumn("_chunk", expr(s"($us - pmod($us, ${chunkUs}L)) div ${chunkUs}L"))
      .localCheckpoint(true)
    val ids = base.select(col("_chunk")).distinct()
      .orderBy(col("_chunk")).collect().map(_.getLong(0)).toSeq
    require(ids.size <= maxChunks,
      s"$caller: ${ids.size} chunks exceeds maxChunks=$maxChunks " +
        "— raise chunkUs (each chunk is a driver-loop fold)")
    ids.map(c => base.where(col("_chunk") === c).drop("_chunk"))
  }
}
