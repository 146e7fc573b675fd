package graft.types

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical table schemas of the engine ("the catalog").
  *
  * Mirrors the reference's fixed, coercive schema system:
  * `adi/app/ingestion_service/parquet_schemas.py:8-61` declares one pandas
  * dtype map per domain and `validate_schema` / `coerce_schema`
  * (`adi/app/ingestion_service/utils.py:62-89`,
  * `adi/app/common/time_norm.py:136-162`) enforce them at every write:
  * present columns are cast, missing columns materialize as typed NULLs,
  * extra columns are kept, schema columns come first.
  *
  * All timestamps are UTC (`spark.sql.session.timeZone=UTC`); `dt` is the
  * derived "YYYY-MM-DD" physical partition column.
  */
object Schemas {

  /** OHLCV market data — `parquet_schemas.py:8-19`. */
  val MARKET: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("symbol", StringType),
    StructField("exchange", StringType),
    StructField("timeframe", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", DoubleType),
    StructField("dt", StringType)
  ))

  /** On-chain metrics — `parquet_schemas.py:22-31`. */
  val ONCHAIN: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("source", StringType),
    StructField("symbol", StringType),
    StructField("metric", StringType),
    StructField("value", DoubleType),
    StructField("contract_address", StringType),
    StructField("contract_name", StringType),
    StructField("dt", StringType)
  ))

  /** Social posts — `parquet_schemas.py:34-49` (nullable Int64 counters →
    * nullable LongType). */
  val SOCIAL: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("source", StringType),
    StructField("id", StringType),
    StructField("author", StringType),
    StructField("text", StringType),
    StructField("title", StringType),
    StructField("selftext", StringType),
    StructField("subreddit", StringType),
    StructField("likes", LongType),
    StructField("retweets", LongType),
    StructField("score", LongType),
    StructField("num_comments", LongType),
    StructField("sentiment_score", DoubleType),
    StructField("dt", StringType)
  ))

  /** News articles — `parquet_schemas.py:52-61`. */
  val NEWS: StructType = StructType(Seq(
    StructField("published_at", TimestampType),
    StructField("id", StringType),
    StructField("title", StringType),
    StructField("url", StringType),
    StructField("source", StringType),
    StructField("author", StringType),
    StructField("description", StringType),
    StructField("dt", StringType)
  ))

  /** Market feature table v1 — `adi/app/features/factory/market_factory.py:17-45`. */
  val FEATURE: StructType = StructType(
    Seq(
      StructField("timestamp", TimestampType),
      StructField("dt", StringType),
      StructField("symbol", StringType),
      StructField("exchange", StringType),
      StructField("timeframe", StringType),
      StructField("feature_version", StringType)
    ) ++ Seq(
      "ret_1", "logret_1", "rvol_5", "rvol_20", "ema_12", "ema_26",
      "macd", "macd_signal_9", "rsi_14", "hl_spread", "oi_obv"
    ).map(StructField(_, DoubleType))
  )

  /** Order-book long frame — `adi/app/adapters/ccxt_adapter.py:139-146`. */
  val ORDERBOOK: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("price", DoubleType),
    StructField("amount", DoubleType),
    StructField("side", StringType),
    StructField("symbol", StringType),
    StructField("exchange", StringType)
  ))

  /** Per-domain canonical time column — `adi/app/ingestion_service/utils.py:45-51`. */
  val timeColumn: Map[String, String] = Map(
    "market" -> "timestamp",
    "onchain" -> "timestamp",
    "social" -> "ts",
    "news" -> "published_at"
  )

  val schemaFor: Map[String, StructType] = Map(
    "market" -> MARKET,
    "onchain" -> ONCHAIN,
    "social" -> SOCIAL,
    "news" -> NEWS,
    "feature" -> FEATURE,
    "orderbook" -> ORDERBOOK
  )

  /** Coerce a frame to a canonical schema: cast present columns, create
    * missing ones as typed NULLs, keep extras after the schema columns.
    * Equivalent to `coerce_schema` (`adi/app/common/time_norm.py:136-162`).
    */
  def conformTo(df: DataFrame, schema: StructType, keepExtra: Boolean = true): DataFrame = {
    val present = df.columns.toSet
    val schemaCols = schema.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val schemaNames = schema.fieldNames.toSet
    val extras =
      if (keepExtra) df.columns.filterNot(schemaNames.contains).map(col)
      else Array.empty[org.apache.spark.sql.Column]
    df.select((schemaCols ++ extras).toIndexedSeq: _*)
  }
}
