package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Relational}
import graft.time.TimeNorm

/** Randomized invariant specs. Each property generates a batch of random
  * cases with ScalaCheck generators (fixed seed — CI determinism) and
  * verifies the invariant over the whole batch in ONE Spark job, instead
  * of a job per sample. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Materialize `n` samples from a Gen with a fixed seed. */
  private def samples[T](g: Gen[T], n: Int): List[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(fail("generator exhausted"))

  test("epoch heuristics: seconds and milliseconds forms agree (any sane instant)") {
    // scalar threshold (epochToTimestamp) and column-median
    // (epochColumnToTimestamp) must both map e and e*1000 to the instant e
    val epochs = samples(Gen.choose(1262304000L, 4102444800L), 300) // 2010..2100
    val df = epochs.toDF("e").cache()
    val scalar = df.select(
        TimeNorm.epochToTimestamp(col("e")).as("fromSec"),
        TimeNorm.epochToTimestamp(col("e") * 1000).as("fromMs"))
      .filter(col("fromSec") =!= col("fromMs"))
    assert(scalar.count() == 0, "scalar heuristic disagrees between units")
    val colSec = TimeNorm.epochColumnToTimestamp(df, "e", "ts")
    val colMs = TimeNorm.epochColumnToTimestamp(
      df.select((col("e") * 1000).as("e")), "e", "ts")
    assert(colSec.select("ts").except(colMs.select("ts")).count() == 0,
      "column-median heuristic disagrees between units")
    df.unpersist()
  }

  test("floorEpoch: idempotent, ≤ input, step-aligned, within one step") {
    val df = samples(Gen.choose(0L, 4102444800L), 300).toDF("e").cache()
    for (step <- Seq(1L, 30L, 60L, 300L, 3600L, 86400L, 604800L)) {
      val bad = df.select(col("e"), TimeNorm.floorEpoch(col("e"), step).as("f"))
        .filter(col("f") > col("e") || col("f") % step =!= 0 ||
          col("e") - col("f") >= step ||
          TimeNorm.floorEpoch(col("f"), step) =!= col("f")) // idempotence
      assert(bad.count() == 0,
        s"floor invariant violated at step=$step: ${bad.head(3).toSeq}")
    }
    df.unpersist()
  }

  test("jaccard: reflexive = 1, symmetric, bounded in [0, 1]") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val text = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = samples(Gen.zip(text, text), 150).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "ta", "tb")
      .repartition(4)
      .select(col("id"),
        Dedup.shingles(split(col("ta"), " "), 3).as("sa"),
        Dedup.shingles(split(col("tb"), " "), 3).as("sb"))
    val bad = docs.select(
        Dedup.jaccard(col("sa"), col("sa")).as("jaa"),
        Dedup.jaccard(col("sa"), col("sb")).as("jab"),
        Dedup.jaccard(col("sb"), col("sa")).as("jba"))
      .filter(col("jaa") =!= 1.0 || col("jab") =!= col("jba") ||
        col("jab") < 0.0 || col("jab") > 1.0)
    assert(bad.count() == 0, s"jaccard invariant violated: ${bad.head(3).toSeq}")
  }

  test("saltedJoin ≡ plain join for random frames and bucket counts") {
    val keyGen = Gen.oneOf((1 to 8).map(i => s"k$i"))
    for (buckets <- Seq(1, 3, 7)) {
      val big = samples(Gen.zip(keyGen, Gen.choose(0, 1000)), 120).toDF("k", "v")
      val small = samples(Gen.zip(keyGen, Gen.choose(0, 1000)), 12).toDF("k", "w")
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "w").orderBy("k", "v", "w").collect().toSeq
      assert(sorted(Relational.saltedJoin(big, small, Seq("k"), buckets)) ==
        sorted(big.join(small, Seq("k"))), s"inner mismatch at buckets=$buckets")
      assert(sorted(Relational.saltedJoin(big, small, Seq("k"), buckets, "left")) ==
        sorted(big.join(small, Seq("k"), "left")), s"left mismatch at buckets=$buckets")
    }
  }

  test("simhash combination blocking ≡ brute-force Hamming-ball join") {
    // the pigeonhole blocking is a pure pre-filter: over a random corpus
    // (with planted near-dups) its verified pairs must equal the cross
    // join's, for more than one (maxHamming, blocks) shape
    val word = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val texts = samples(Gen.listOfN(30, word).map(_.mkString(" ")), 40)
    val docs = (texts ++ texts.take(12).map(_ + " w0 w1"))  // planted near-dups
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .repartition(4).cache()
    val sigs = Dedup.simhash64(docs, "text", "doc_id")
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Dedup.hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for ((k, m) <- Seq((3, 6), (3, 4), (2, 8))) {
      val expected = pairs(brute.filter(col("hamming") <= k))
      val got = pairs(Dedup.simhashNearDupPairs(docs, "text", "doc_id", k, m))
      assert(got == expected,
        s"(maxHamming=$k, blocks=$m): missing=${expected -- got} extra=${got -- expected}")
    }
    docs.unpersist()
  }

  test("prefix-filtered similarity join ≡ brute-force Jaccard over random corpora") {
    // the PPJoin prefix is a pure pre-filter: over random small-vocab
    // corpora (repetition makes real near-dups likely) its pairs must
    // equal a full cross join's at every tested threshold
    val word = Gen.oneOf((0 until 12).map(i => s"t$i"))
    val texts = samples(Gen.choose(4, 10).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))), 60)
    val docs = (texts ++ texts.take(15)) // planted exact dups too
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .repartition(4).cache()
    val sh = Dedup.shingleArrays(docs, "text", "doc_id", 3)
    val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Dedup.jaccard(col("a.shs"), col("b.shs")).as("jaccard"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (tau <- Seq(0.5, 0.8, 1.0)) {
      val expected = pairs(brute.filter(col("jaccard") >= tau))
      val got = pairs(Dedup.jaccardSimilarityJoin(docs, "text", "doc_id", 3, tau))
      assert(got == expected,
        s"tau=$tau: missing=${expected -- got} extra=${got -- expected}")
    }
    docs.unpersist()
  }

  test("connectedComponents ≡ union-find over random graphs") {
    // random sparse pair sets over a 200-node id space: the distributed
    // hash-min + pointer-jumping labels must match a plain in-memory
    // union-find with min-id canonical representatives
    val pairGen = for {
      a <- Gen.choose(0L, 199L); b <- Gen.choose(0L, 199L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    for (n <- Seq(30, 120)) {
      val pairs = samples(pairGen, n).distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      // both execution paths must agree with the reference union-find:
      // the driver fast path (default cutoff) and the distributed
      // hash-min loop (cutoff 0)
      for (cutoff <- Seq(Long.MaxValue, 0L)) {
        val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"),
            driverCutoffPairs = cutoff)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"CC mismatch at n=$n cutoff=$cutoff")
      }
    }
  }

  test("scrubPii is idempotent and removes every match on random PII soup") {
    val word = Gen.oneOf("alpha", "beta", "x1", "the", "data")
    val pii = Gen.oneOf(
      Gen.const("bob.smith+tag@example-mail.org"),
      Gen.const("10.1.2.34"),
      Gen.const("+41791234567"),
      word)
    val doc = Gen.listOfN(12, pii).map(_.mkString(" "))
    val docs = samples(doc, 200).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val once = docs.select(col("id"), graft.operators.TextAnalysis.scrubPii(col("t")).as("s"))
    val twice = once.select(col("id"), graft.operators.TextAnalysis.scrubPii(col("s")).as("s"))
    assert(once.exceptAll(twice).count() == 0, "scrub is not idempotent")
    val leftovers = once.select(graft.operators.TextAnalysis.piiCounts(col("s")): _*)
      .filter(col("n_emails") > 0 || col("n_ips") > 0 || col("n_phones") > 0)
    assert(leftovers.count() == 0, "PII survived the scrub")
  }

  test("repetitionStats ≡ in-memory brute force on random docs") {
    val word = Gen.oneOf("a", "b", "c", "dd", "eee")
    val line = Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val doc = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, line).map(_.mkString("\n")))
    val docsL = samples(doc, 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = graft.operators.TextAnalysis
      .repetitionStats(docsL.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))).toMap
    docsL.foreach { case (id, text) =>
      val lines = text.split("\n", -1).filter(_.trim.nonEmpty)
      // mirror SQL semantics exactly: trim strips SPACES only (not \n),
      // and split keeps trailing empty tokens (limit -1)
      val sqlTrimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = sqlTrimmed.split("\\s+", -1).toSeq
      val grams = if (toks.length >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq else Nil
      val topN = if (grams.isEmpty) 0L else grams.groupBy(identity).values.map(_.size).max.toLong
      val expected = (lines.length.toLong,
        if (lines.isEmpty) 0.0 else (lines.length - lines.distinct.length).toDouble / lines.length,
        topN,
        if (grams.isEmpty) 0.0 else topN.toDouble / grams.length)
      assert(got(id) == expected, s"doc $id: got ${got(id)}, expected $expected for ${text.replace("\n", "\\n")}")
    }
  }

  test("packSequences: per-shard bins are contiguous and budget-consistent") {
    val tok = Gen.chooseNum(1L, 700L)
    val rows = samples(tok, 300).zipWithIndex.map { case (n, i) =>
      (s"shard${i % 3}", i.toLong, n) }
    val out = graft.operators.TextAnalysis
      .packSequences(rows.toDF("lang", "doc_id", "n_tok"), "n_tok", "doc_id", 512, Seq("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    out.groupBy(_._1).foreach { case (_, shard) =>
      val s = shard.sortBy(_._2)
      // bins start at 0, never decrease, never skip more than the doc that
      // crossed the boundary allows; cum is the prefix sum
      var cum = 0L
      s.foreach { case (_, _, n, c, b) =>
        cum += n
        assert(c == cum, "cum_tokens is not the prefix sum")
        assert(b == (c - n) / 512, "bin is not floor(cum-before / budget)")
      }
      assert(s.head._5 == 0L)
      assert(s.sliding(2).forall(w => w.length < 2 || w(1)._5 >= w(0)._5), "bins decrease")
    }
  }

  test("stratifiedSample: nested rates, growth-invariant membership, rate accuracy") {
    import graft.operators.TextAnalysis
    val rows = samples(Gen.oneOf("en", "zh", "de"), 2000).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }
    val df = rows.toDF("doc_id", "lang").cache()
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    val lo = ids(TextAnalysis.stratifiedSample(df, "lang", "doc_id",
      Map("en" -> 0.3, "zh" -> 0.1), defaultRate = 0.5))
    val hi = ids(TextAnalysis.stratifiedSample(df, "lang", "doc_id",
      Map("en" -> 0.6, "zh" -> 0.4), defaultRate = 0.9))
    assert(lo.subsetOf(hi), "raising every rate must only add rows (nested buckets)")
    // growth invariance: sampling half the corpus keeps exactly the
    // sampled ids that fall in that half — membership is per-row
    val half = df.filter(col("doc_id") < 1000)
    val halfSample = ids(TextAnalysis.stratifiedSample(half, "lang", "doc_id",
      Map("en" -> 0.3, "zh" -> 0.1), defaultRate = 0.5))
    assert(halfSample == lo.filter(_ < 1000), "membership changed with corpus size")
    // rate accuracy: en sampled at 0.3 over ~667 docs should land within
    // ±0.1 absolute (md5 buckets are uniform; this is a 5σ-ish band)
    val en = rows.count(_._2 == "en").toDouble
    val enKept = df.filter(col("lang") === "en").count() -
      df.filter(col("lang") === "en").except(
        TextAnalysis.stratifiedSample(df, "lang", "doc_id",
          Map("en" -> 0.3), defaultRate = 1.0).select("doc_id", "lang")).count()
    assert(math.abs(enKept / en - 0.3) < 0.1, s"en keep-rate ${enKept / en} far from 0.3")
    df.unpersist()
  }

  test("regimeProb: filtered probability stays strictly in (0,1); null iff no signed move yet") {
    import org.apache.spark.sql.expressions.Window
    // random sign tapes across several series, with nulls and zeros mixed
    // in; the filter must never saturate to 0/1 (u's in (0,1) bound the
    // likelihood ratio) and must be null exactly until the first ±1 sign
    val sgn = Gen.oneOf(Gen.const(Some(1.0)), Gen.const(Some(-1.0)),
      Gen.const(Some(0.0)), Gen.const(None: Option[Double]))
    val rows = samples(sgn, 2000).zipWithIndex
      .map { case (s, i) => ("k" + (i % 8), i.toLong, s) }
    val df = rows.toDF("k", "t", "sgn")
    val w = Window.partitionBy(col("k")).orderBy(col("t"))
    val out = df.select(col("k"), col("t"), col("sgn"),
        graft.functions.windows.regimeProb(col("sgn"), 0.04, 0.04, 0.35, 0.65, w)
          .as("p"))
      .withColumn("seen", max(when(col("sgn") =!= 0.0, col("t"))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bad = out.filter(
      (col("p").isNotNull && (col("p") <= 0.0 || col("p") >= 1.0)) ||
        (col("p").isNull && col("seen").isNotNull) ||
        (col("p").isNotNull && col("seen").isNull))
    assert(bad.count() == 0, s"regime invariant violated: ${bad.head(3).toSeq}")
  }

  test("minSpanningTree ≡ reference Kruskal on random graphs (unique under the total tie order)") {
    import org.apache.spark.sql.functions.col
    // with the total (dq, a, b) edge order the MST is UNIQUE, so the
    // operator's result must equal a sequential Kruskal edge-for-edge —
    // on arbitrary graphs including disconnected ones
    def kruskal(edges: Seq[(String, String, Long)]): Set[(String, String)] = {
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val out = scala.collection.mutable.Set[(String, String)]()
      for ((a, b, _) <- edges.sortBy { case (a, b, d) => (d, a, b) }) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(ra) = rb; out += ((a, b)) }
      }
      out.toSet
    }
    val edgeGen = for {
      n <- Gen.choose(5, 9)
      density <- Gen.choose(30, 90)
      seed <- Gen.choose(0, 1000000)
    } yield {
      val rnd = new scala.util.Random(seed)
      (for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextInt(100) < density
      } yield ("n" + i, "n" + j,
        // coarse weights force ties — the tie-break must still agree
        (rnd.nextInt(5) + 1).toLong)).toVector
    }
    samples(edgeGen, 5).filter(_.nonEmpty).foreach { edges =>
      val df = edges.map { case (a, b, d) => (a, b, d.toDouble) }
        .toDF("key_a", "key_b", "dist")
      val got = graft.operators.Relational.minSpanningTree(df)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = kruskal(edges.map { case (a, b, d) => (a, b, d * 1000000L) })
      assert(got == want,
        s"minSpanningTree ≠ Kruskal on ${edges.size} edges:\n got $got\nwant $want")
    }
  }

  test("sanitize: no NaN or Infinity survives, finite values pass through") {
    val vals = Gen.oneOf(
      Gen.choose(-1e12, 1e12),
      Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0))
    val df = samples(vals, 400).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val out = graft.functions.Sanitize.cleanNumbers(df)
    val survived = out.filter(isnan(col("x")) || col("x") === Double.PositiveInfinity ||
      col("x") === Double.NegativeInfinity)
    assert(survived.count() == 0, "NaN/Inf survived sanitize")
    val finite = df.filter(!isnan(col("x")) &&
      col("x") =!= Double.PositiveInfinity && col("x") =!= Double.NegativeInfinity)
    assert(out.filter(col("x").isNotNull).count() == finite.count(),
      "sanitize dropped or invented finite values")
  }
}
