package perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic input tables in the engine's test-data layout: `events`,
  * `documents` and `embeddings`, one parquet file each under a directory
  * the queries take as their scale directory. Built on the driver from a
  * `java.util.Random`, so one seed always gives byte-identical tables.
  *
  * The shapes follow the engine's fixtures: events spread uniformly over
  * 30 days from 2024-01-01 across 1,500 users and five event types, with
  * exponential values; documents of 10–100 words from a 30-word
  * vocabulary, one in twenty a near-copy of an earlier one; embeddings
  * as unit vectors around ten class centres. */
object Data {
  val Start: LocalDateTime = LocalDateTime.parse("2024-01-01T00:00:00")
  val SpanUs: Long = 30L * 86400L * 1000000L
  val EventTypes: Seq[String] = Seq("signup", "click", "error", "view", "purchase")
  private val Vocab = ("spark window merge table column vector stream value data " +
    "small fast row the agg key query a scan batch part line order sort hash " +
    "slow group filter join big customer").split(" ").toSeq
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "en",
    "fr", "fr", "fr", "es", "es", "es", "zh", "zh", "zh", "de", "de", "de")

  final case class Sizes(events: Int, documents: Int, embeddings: Int)

  val EventSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampNTZType)
    .add("user_id", LongType).add("event_type", StringType)
    .add("value", DoubleType).add("props", StringType)

  /** Event rows in timestamp order (event ids follow that order). */
  def events(n: Int, seed: Long): Seq[Row] = {
    val r = new Random(seed)
    val ts = Array.fill(n)((r.nextDouble() * SpanUs).toLong).sorted
    ts.indices.map { i =>
      val v = math.rint(-math.log(1.0 - r.nextDouble()) * 50.0 * 100) / 100
      Row(i.toLong, Start.plusNanos(ts(i) * 1000L), r.nextInt(1500).toLong,
        EventTypes(r.nextInt(EventTypes.size)), v, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def documents(n: Int, seed: Long): Seq[Row] = {
    val r = new Random(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 20 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}",
        texts(i).length.toLong)
    }
  }

  def embeddings(n: Int, seed: Long, dim: Int = 64): Seq[Row] = {
    val r = new Random(seed)
    val centers = Array.fill(10, dim)(r.nextGaussian())
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centers(label)(d) + 0.8 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Writes the three tables under `dir`. */
  def writeTables(spark: SparkSession, dir: String, sizes: Sizes, seed: Long): Unit = {
    write(spark, events(sizes.events, seed), EventSchema, s"$dir/events.parquet")
    write(spark, documents(sizes.documents, seed + 1), new StructType()
      .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
      .add("source", StringType).add("n_chars", LongType), s"$dir/documents.parquet")
    write(spark, embeddings(sizes.embeddings, seed + 2), new StructType()
      .add("vec_id", LongType).add("embedding", ArrayType(FloatType))
      .add("label", IntegerType), s"$dir/embeddings.parquet")
  }
}
