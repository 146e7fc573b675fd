package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Relational + training-data-pipeline operator specs. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("topNPerGroup keeps n rows per key in order") {
    val df = Seq(("a", 1), ("a", 5), ("a", 3), ("b", 9)).toDF("k", "v")
    val out = Relational.topNPerGroup(df, Seq("k"), Seq(col("v").desc), 2)
      .orderBy("k", "rn").collect()
    assert(out.map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).toSeq ==
      Seq(("a", 5), ("a", 3), ("b", 9)))
  }

  test("pivotSum fills absent combos with zero (A1)") {
    val df = Seq(("t1", "bid", 2.0), ("t1", "bid", 3.0), ("t2", "ask", 4.0))
      .toDF("ts", "side", "amount")
    val out = Relational.pivotSum(df, Seq("ts"), "side", Seq("bid", "ask"), "amount")
      .orderBy("ts").collect()
    assert(out(0).getDouble(1) == 5.0 && out(0).getDouble(2) == 0.0)
    assert(out(1).getDouble(1) == 0.0 && out(1).getDouble(2) == 4.0)
  }

  test("missingFromGrid finds the hole (J3)") {
    val ts = Seq(0L, 60L, 180L).map(s => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)))
    val df = ts.map(("k", _)).toDF("key", "ts")
    val missing = Relational.missingFromGrid(df, Seq("key"), "ts", 60L).collect()
    assert(missing.length == 1 && missing(0).getTimestamp(1).toInstant.getEpochSecond == 120L)
  }

  test("lastWriteWins keeps newest row per key (§2.7)") {
    val df = Seq(("k", 1L, "old"), ("k", 2L, "new")).toDF("key", "seq", "v")
    val out = Relational.lastWriteWins(df, Seq("key"), Seq(col("seq")))
    assert(out.collect().map(_.getString(2)).toSeq == Seq("new"))
  }

  test("saltedJoin is row-identical to the plain join on a skewed key") {
    // 90% of the big side shares one hot key
    val big = ((1 to 90).map(i => ("hot", i)) ++ (1 to 10).map(i => (s"k$i", i)))
      .toDF("k", "v")
    val small = (Seq("hot") ++ (1 to 5).map(i => s"k$i")).zipWithIndex.toDF("k", "w")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "w").orderBy("k", "v", "w").collect().toSeq
    val plain = big.join(small, Seq("k"))
    val salted = Relational.saltedJoin(big, small, Seq("k"), saltBuckets = 8)
    assert(sorted(salted) == sorted(plain))
    val plainLeft = big.join(small, Seq("k"), "left")
    val saltedLeft = Relational.saltedJoin(big, small, Seq("k"), 8, "left")
    assert(sorted(saltedLeft) == sorted(plainLeft))
    // right/full outer would emit one null-padded copy of an unmatched
    // small-side row per salt bucket — rejected, not silently wrong
    Seq("right", "full", "full_outer").foreach { jt =>
      intercept[IllegalArgumentException](
        Relational.saltedJoin(big, small, Seq("k"), 8, jt))
    }
  }

  test("exact dedup keeps min id and counts copies") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("minhash LSH finds planted near-dup and skips distinct docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"tok$i").mkString(" ") + " changed"
    val other = (100 to 160).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "text", "doc_id", threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " a b"
    val other = (100 to 160).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val h = Dedup.simhash64(df, "text", "doc_id").orderBy("id")
      .collect().map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(1)) < ham(h(0), h(2)))
    assert(ham(h(0), h(1)) <= 16)
  }

  test("shingle jaccard of disjoint texts is 0, identical is 1") {
    val df = Seq(("s", 1L, "a b c d e"), ("s", 2L, "a b c d e"), ("s", 3L, "x y z w v"))
      .toDF("source", "doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, Seq("source"), "text", "doc_id",
      shingleN = 2, threshold = 0.0).orderBy("id_a", "id_b").collect()
    val m = pairs.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(m((1L, 2L)) == 1.0 && m((1L, 3L)) == 0.0)
  }

  test("shingleRows matches array shingles incl. short-doc fallback; similarity join exact") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y"), (4L, "p q r s t u"))
      .toDF("doc_id", "text")
    val rows = Dedup.shingleRows(df, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // doc 3 has < 3 tokens → whole-doc shingle
    assert(rows.contains((3L, "x y")))
    assert(rows.count(_._1 == 1L) == 4) // 6 tokens → 4 trigrams
    val pairs = Dedup.jaccardSimilarityJoin(df, "text", "doc_id", 3, 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 1.0)))
  }

  test("knnBrute ranks an identical vector first") {
    val q = Array(1.0f, 0.0f, 0.0f)
    val df = Seq((0L, q, 0), (1L, Array(1.0f, 0.01f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0), (3L, Array(-1.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnBrute(df, "embedding", "vec_id", 0L, 3).collect()
    assert(out.head.getLong(0) == 1L && out.head.getDouble(1) > 0.99)
    assert(out.last.getLong(0) == 3L)
  }

  test("lsh signatures are deterministic and scaled copies collide in every table") {
    val df = Seq((0L, Array.fill(16)(1.0f)), (1L, Array.fill(16)(0.99f)))
      .toDF("vec_id", "embedding")
    val sigs = Similarity.lshSignatures(df, "embedding", "vec_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(sigs.size == 4)
    assert((0 until 2).forall(t => sigs((0L, t)) == sigs((1L, t))))
  }

  test("lshSignatures dim probe: null-leading input works, explicit dim skips the probe, all-null errors") {
    // round-3 defect: the dim probe read the FIRST row's size — a null
    // leading vector NPE'd the whole signature build
    val withNull = Seq((0L, null.asInstanceOf[Array[Float]]),
      (1L, Array.fill(16)(1.0f)), (2L, Array.fill(16)(0.99f)))
      .toDF("vec_id", "embedding")
    val sigs = Similarity.lshSignatures(withNull, "embedding", "vec_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // the null-vector doc simply gets no signatures; the rest still collide
    assert(sigs.size == 4 && !sigs.keySet.exists(_._1 == 0L))
    assert((0 until 2).forall(t => sigs((1L, t)) == sigs((2L, t))))
    // explicit dim produces identical signatures with zero probe jobs
    val explicit = Similarity.lshSignatures(withNull, "embedding", "vec_id", 8, 2, dim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(explicit == sigs)
    // all-null input is a clear error, not silently-empty buckets
    val allNull = Seq((0L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshSignatures(allNull, "embedding", "vec_id", 8, 2)
    }
    assert(e.getMessage.contains("null"))
    // an EMPTY frame stays fine (no rows → no signatures, no error)
    assert(Similarity.lshSignatures(withNull.limit(0), "embedding", "vec_id", 8, 2).count() == 0)
  }

  test("graft_dot is an exact index-order fold over float/double arrays") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).head.getDouble(0) == 32.0)
    // mismatched lengths → null (zip_with-fold parity)
    val mm = Seq((Array(1.0f), Array(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).head
    assert(mm.isNullAt(0))
    // norm of a 3-4-0 vector is 5
    val n = Seq(Tuple1(Array(3.0f, 4.0f, 0.0f))).toDF("v")
      .select(Similarity.norm(col("v"))).head.getDouble(0)
    assert(math.abs(n - 5.0) < 1e-12)
  }

  test("prefix-filtered similarity join: exact on a skewed corpus, candidates collapse") {
    import org.apache.spark.sql.expressions.Window
    // one hot trigram ("h1 h2 h3") in half the corpus + unique tails; a
    // planted identical pair is the only true near-dup at τ=0.8
    val docs = (1 to 40).map { i =>
      if (i % 2 == 0)
        (i.toLong, s"h1 h2 h3 u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
      else
        (i.toLong, s"v${i}a v${i}b v${i}c v${i}d v${i}e v${i}f v${i}g v${i}h v${i}i v${i}j")
    } ++ Seq((100L, "dup w1 w2 w3 w4 w5 w6 w7"), (101L, "dup w1 w2 w3 w4 w5 w6 w7"))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.jaccardSimilarityJoin(df, "text", "doc_id", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((100L, 101L, 1.0)))
    // pair-postings with the full inverted index vs the prefix index
    val arrs = Dedup.shingleHashArrays(df, "text", "doc_id", 3)
    def pairPostings(side: org.apache.spark.sql.DataFrame): Long =
      side.as("a").join(side.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id")).count()
    val full = pairPostings(arrs.select(col("id"), explode(col("hs")).as("h")))
    val prefixLen = (col("n") - ceil(col("n") * 0.8) + 1).cast("int")
    val pruned = pairPostings(arrs.select(col("id"),
      explode(slice(array_sort(col("hs")), lit(1), prefixLen)).as("h")))
    // 20 docs share the hot shingle → C(20,2)=190 full postings; prefixes
    // keep ~2/8 shingles per doc, so postings must collapse
    assert(full >= 190, s"fixture lost its hot shingle: $full")
    assert(pruned < full / 2, s"prefix filter did not prune: $pruned vs $full")
  }

  test("label-free LSH embedding near-dup finds the planted pair exactly") {
    val vecs = (1 to 50).map { i =>
      (i.toLong, Array.tabulate(16)(j => (((i * 31 + j * 7) % 17) - 8).toFloat))
    } ++ Seq((1000L, Array.fill(16)(0.5f)), (1001L, Array.fill(16)(0.499f)))
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairsLsh(df, "embedding", "vec_id", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1000L, 1001L)))
    // every reported pair passed the exact-cosine verification
    val verified = Dedup.embeddingNearDupPairsLsh(df, "embedding", "vec_id", 0.999)
      .collect().map(_.getDouble(2))
    assert(verified.forall(_ >= 0.999))
  }

  test("persisted LSH index: probe prunes partitions + pushes sig filter") {
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    // modulus 31 > max id so no two base vectors are accidental duplicates
    val vecs = (0 to 30).map { i =>
      (i.toLong, Array.tabulate(16)(j => (((i * 17 + j * 5) % 31) - 15).toFloat))
    } ++ Seq((99L, Array.tabulate(16)(j => (((0 * 17 + j * 5) % 31) - 15) * 0.99f)))
    val df = vecs.toDF("vec_id", "embedding")
    Similarity.writeLshIndex(df, "embedding", "vec_id", s"$dir/idx", planes = 6, tables = 3)
    val out = Similarity.knnLshIndexed(s"$dir/idx", df, "embedding", "vec_id",
      queryId = 0L, k = 5, planes = 6, tables = 3)
    val hits = out.collect()
    // the scaled copy of vec 0 shares every bucket and ranks first
    assert(hits.head.getLong(0) == 99L && hits.head.getDouble(1) > 0.999)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"index probe should prune (table, bucket) partitions:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("In(sig"),
      s"sig IN (...) should push down to parquet:\n$plan")
  }

  test("simhash + fingerprint closed forms on tiny fixtures (cross-check)") {
    // compute the portable md5-derived token hash in plain JVM code —
    // independent of Spark's md5/conv/shift expressions — then check the
    // operators against the closed-form expectations
    def h64(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(d.substring(0, 8), 16) << 32) |
        java.lang.Long.parseLong(d.substring(8, 16), 16)
    }
    val (ha, hb) = (h64("alpha"), h64("beta"))
    // single-token doc: every bit vote IS that token's hash bit
    val sh = Dedup.simhash64(
        Seq((1L, "alpha"), (2L, "alpha alpha alpha"), (3L, "alpha beta"))
          .toDF("doc_id", "text"), "text", "doc_id")
      .orderBy("id").collect().map(_.getLong(1))
    assert(sh(0) == ha, "single-token simhash must equal the token hash")
    assert(sh(1) == ha, "repeated tokens don't change the vote signs")
    // two distinct tokens: bit survives only when both votes are +1 → AND
    assert(sh(2) == (ha & hb))
    // fingerprint: rolling polynomial acc = pmod(acc*31 + pmod(h48, M), M)
    // with the PORTABLE md5-derived token hash (JVM closed form below —
    // independent of Spark's md5/conv expressions)
    val M = 2147483647L
    def pm(x: Long) = ((x % M) + M) % M
    def h48(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 12), 16)
    }
    val expected = pm(pm(h48("alpha")) * 31L + pm(h48("beta")))
    val fp = Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(TextAnalysis.tokens(col("text"))))
      .head.getLong(0)
    assert(fp == expected)
    // order sensitivity: permuted doc fingerprints differently
    val fp2 = Seq((1L, "beta alpha")).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(TextAnalysis.tokens(col("text"))))
      .head.getLong(0)
    assert(fp2 == pm(pm(h48("beta")) * 31L + pm(h48("alpha"))) && fp2 != fp)
  }

  test("knnLsh candidates rank consistently with brute force (no-oracle cross-check)") {
    val df = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 16.0 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.knnBrute(df, "embedding", "vec_id", 0L, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.knnLsh(df, "embedding", "vec_id", 0L, 5,
        planes = 6, tables = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(lsh.nonEmpty)
    // exact-cosine ranking inside the bucket: every hit that brute force
    // also scored must carry the identical cosine
    lsh.filter(p => brute.contains(p._1)).foreach { case (id, c) =>
      assert(math.abs(c - brute(id)) < 1e-9, s"cosine mismatch for $id") }
    // recall: the top brute hit collides with the query in >=1 table whp;
    // deterministic given the hash-derived planes, so assert it directly
    val bruteTop = Similarity.knnBrute(df, "embedding", "vec_id", 0L, 5)
      .collect().map(_.getLong(0)).toSet
    val recall = lsh.map(_._1).count(bruteTop) / 5.0
    assert(recall >= 0.4, s"recall@5 vs brute force too low: $recall")
  }

  test("minhash ≡ exact similarity join on the real documents table (sf0.001)") {
    // cross-engine signal for the no-oracle q_minhash_neardup: on real
    // testdata the verified minhash pairs must equal the exact join's
    // pairs whenever banding recall is ~1 (s ≥ τ ⇒ P(miss) ≈ 1e-4)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Dedup.jaccardSimilarityJoin(docs, "text", "doc_id", 3, 0.8))
    val mh = pairs(Dedup.minhashNearDupPairs(docs, "text", "doc_id", 3, 64, 16, 0.8))
    assert(exact.nonEmpty, "fixture should contain near-dup documents")
    assert(mh == exact, s"minhash != exact: missing=${exact -- mh} extra=${mh -- exact}")
  }

  test("minhash pairs are a verified subset of the exact similarity join") {
    // 20 distinct base docs + 8 planted near-dups (2 of 40 tokens changed)
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 40).map(t => s"w${i}_$t").mkString(" "))
    }
    val dups = (0 until 8).map { i =>
      (100L + i, ((0 until 38).map(t => s"w${i}_$t") ++ Seq("x", "y")).mkString(" "))
    }
    val df = (base ++ dups).toDF("doc_id", "text")
    val exact = Dedup.jaccardSimilarityJoin(df, "text", "doc_id", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDupPairs(df, "text", "doc_id", 3, 64, 16, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 8, s"fixture should yield 8 exact pairs, got ${exact.size}")
    // precision is exact by construction (candidates verified with exact
    // Jaccard); recall follows the banding bound 1-(1-s^4)^16 ≈ 1 at s≥0.7
    assert(mh.subsetOf(exact), s"unverified pairs leaked: ${mh -- exact}")
    assert(mh.size >= exact.size - 1, s"minhash recall too low: ${mh.size}/${exact.size}")
  }

  test("label-free LSH near-dup recall vs the exact pair set") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 16.0 + j).toFloat))
    } ++ (0 until 6).map { i =>
      // planted: tiny perturbation of vector i → cosine ≈ 1
      (200L + i, Array.tabulate(16)(j => (math.sin(i * 16.0 + j) * 0.995).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // exact full-corpus pairs via a constant blocking key
    val exact = Dedup.embeddingNearDupPairs(
        df.withColumn("k", lit(1)), Seq("k"), "embedding", "vec_id", 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupPairsLsh(df, "embedding", "vec_id", 0.98,
        planes = 8, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 6)
    assert(lsh.subsetOf(exact), s"unverified pairs leaked: ${lsh -- exact}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall vs exact too low: $recall")
  }

  test("IVF index: probe reads only nProbe cells and finds the planted neighbor") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val vecs = (0 to 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 16.0 + j).toFloat))
    } ++ Seq((999L, Array.tabulate(16)(j => (math.sin(j.toDouble) * 0.99).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(df, "embedding", "vec_id", s"$dir/idx", nCells = 8)
    val out = Similarity.knnIvfIndexed(s"$dir/idx", df, "embedding", "vec_id",
      queryId = 0L, k = 5, nProbe = 2)
    val hits = out.collect()
    // the scaled copy of vec 0 lands in vec 0's cell and ranks first
    assert(hits.head.getLong(0) == 999L && hits.head.getDouble(1) > 0.999)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"IVF probe should prune cell partitions:\n${plan.take(1200)}")
    // recall vs brute force at the same k
    val brute = Similarity.knnBrute(df, "embedding", "vec_id", 0L, 5)
      .collect().map(_.getLong(0)).toSet
    val recall = hits.map(_.getLong(0)).count(brute) / 5.0
    assert(recall >= 0.4, s"IVF recall@5 too low: $recall")
  }

  test("text stats + lang id + quality are deterministic") {
    val df = Seq((1L, "the quick brown fox the end"), (2L, "der und das ist ein test"))
      .toDF("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val out = df.select(col("doc_id"), TextAnalysis.tokenCount(toks).as("n"),
        TextAnalysis.langId(col("text"), toks).as("lang"),
        TextAnalysis.fingerprint(toks).as("fp"))
      .orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 6 && out(0).getString(2) == "en")
    assert(out(1).getString(2) == "de")
    assert(out(0).getLong(3) != out(1).getLong(3))
    assert(out(0).getLong(3) >= 0 && out(0).getLong(3) < 2147483647L)
  }

  test("bpePieces: GPT-2-style splits on contractions, digits, CJK, punctuation") {
    val df = Seq(
      (1L, "It's 42 degrees, isn't it?"),
      (2L, "深度学习模型"),     // CJK: 1 ws token, many letter-run pieces? (no spaces → one run)
      (3L, "a  b"),            // double space: ws run piece
      (4L, "")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.bpePieces(col("text")).as("p"),
        TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) ==
      Seq("It", "'s", " 42", " degrees", ",", " isn", "'t", " it", "?"))
    // CJK has no spaces: one unbroken letter run = 1 piece, where the
    // whitespace count also says 1 — fertility divergence shows up on
    // mixed punctuation/number text, not pure letter runs
    assert(out(1).getInt(2) == 1)
    // a double space is a \s+ run piece (single spaces attach to the
    // following word; the lookahead-free pattern can't split the run)
    assert(out(2).getSeq[String](1) == Seq("a", "  ", "b"))
    assert(out(3).getInt(2) == 0)
  }

  test("multimodal decode plumbing: batched, deterministic, null-safe") {
    val media = Multimodal.syntheticMedia(spark, 10)
    val out = Multimodal.withDecodedFeatures(media, "content", Multimodal.StubCodec, batchSize = 3)
    val rows = out.orderBy("media_id").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("features").length ==
      Multimodal.StubCodec.featureDim))
    // determinism across runs
    val again = Multimodal.withDecodedFeatures(media, "content", Multimodal.StubCodec)
      .orderBy("media_id").collect()
    assert(rows.map(_.getAs[scala.collection.Seq[Float]]("features").toList).toSeq ==
      again.map(_.getAs[scala.collection.Seq[Float]]("features").toList).toSeq)
    val frames = Multimodal.sampleFrameIndexes(media, 500L)
      .groupBy("media_id").count().orderBy("media_id").collect()
    assert(frames.head.getLong(1) == 3) // 0,500,1000 for duration 1000ms
  }

  test("media dedup ladder: byte-exact groupBy, semantic near-dup, index probe") {
    import graft.operators.Multimodal
    // exact: 300 media, payloads repeat with period 100 (the generator
    // is injective below its mod-127 byte cycle) → ids ≥ 100 duplicate
    // id % 100; a null payload stays its own singleton
    val media = Multimodal.syntheticMedia(spark, 300, contentModulus = 100)
      .union(Seq((9999L, null.asInstanceOf[Array[Byte]],
        null.asInstanceOf[(String, Int, Int, Long)]))
        .toDF("media_id", "content", "meta")
        .select(col("media_id"), col("content"),
          col("meta").cast(Multimodal.MEDIA_SCHEMA("meta").dataType).as("meta")))
    val ex = Multimodal.exactMediaDedup(media, "content", "media_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(ex.size == 301)
    (0 until 100).foreach(i => assert(ex(i.toLong) == ((i.toLong, false))))
    (100 until 300).foreach(i =>
      assert(ex(i.toLong) == (((i % 100).toLong, true)), s"id $i: ${ex(i.toLong)}"))
    assert(ex(9999L) == ((9999L, false)), "null payload must be its own singleton")

    // semantic: a histogram codec makes near-identical payloads near in
    // feature space — two perturbed copies of one base image dedup, the
    // distinct image survives
    object HistCodec extends Multimodal.Codec {
      val featureDim = 8
      def decodeFeatures(content: Array[Byte]): Array[Float] = {
        val out = new Array[Float](featureDim)
        content.foreach(b => out(math.floorMod(b.toInt, featureDim)) += 1f)
        out.map(_ / content.length)
      }
    }
    def img(seed: Int, flip: Int): Array[Byte] =
      Array.tabulate[Byte](256)(j =>
        if (j == flip) 99.toByte else ((seed * 37 + j * j) % 101).toByte)
    val sem = Seq(
      (1L, img(1, -1)), (2L, img(1, 3)), (3L, img(1, 7)), // one visual group
      // distinct: a constant payload → one-hot histogram, cosine ≈ 0.35
      // against the group's near-uniform histograms
      (4L, Array.fill[Byte](256)(16.toByte)))
      .toDF("media_id", "content")
    val kept = Multimodal.mediaSemanticDedup(sem, "content", "media_id",
        HistCodec, k = 1, tau = 0.9, repCap = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kept(4L), "distinct media must survive")
    assert(Seq(1L, 2L, 3L).count(kept) == 1,
      s"perturbed copies must collapse to one representative: $kept")

    // index probe: a new batch holding a byte-identical copy of indexed
    // media (dist exactly 0) and a fresh payload (no hit). The fresh
    // payload is quadratic in j — outside the generator's linear family,
    // so no accidental mod-127 twin exists in the index.
    val dir = java.nio.file.Files.createTempDirectory("graft_mfidx").toString
    Multimodal.writeMediaFeatureIndex(
      Multimodal.syntheticMedia(spark, 100), "content", "media_id", dir,
      nCells = 4, m = 8, ksub = 8)
    val twin = Multimodal.syntheticMedia(spark, 100)
      .where(col("media_id") === 40) // payload ≡ indexed media 40's
      .select((col("media_id") + 10000).as("media_id"), col("content"))
    val fresh = Seq((20000L, Array.tabulate[Byte](64)(j => ((j * j) % 127).toByte)))
      .toDF("media_id", "content")
    val hits = Multimodal.mediaNearDupAgainstIndex(spark, dir,
        twin.union(fresh), "content", "media_id", k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists { case (q, v, d) => q == 10040L && v == 40L && d == 0.0 },
      s"byte-identical twin must probe at dist 0: ${hits.toSeq}")
    assert(!hits.exists(_._1 == 20000L), s"fresh payload must not hit: ${hits.toSeq}")
  }

  test("perceptual media dedup: recompressed/rescaled duplicate caught by dHash, byte-exact ladder unchanged") {
    import graft.operators.Multimodal
    // raw-gray payload [w:u16BE][h:u16BE][pixels]; the pattern evaluates
    // in a canonical 64×64 space so a different RESOLUTION of the same
    // image is the genuine rescaled-duplicate case
    def img(w: Int, h: Int, f: (Int, Int) => Int, bright: Int = 0,
            noise: Boolean = false): Array[Byte] = {
      val b = new Array[Byte](4 + w * h)
      b(0) = (w >> 8).toByte; b(1) = w.toByte
      b(2) = (h >> 8).toByte; b(3) = h.toByte
      for (y <- 0 until h; x <- 0 until w) {
        val v0 = f(x * 64 / w, y * 64 / h) + bright +
          (if (noise) (x * 31 + y * 17) % 5 - 2 else 0)
        b(4 + y * w + x) = math.max(0, math.min(255, v0)).toByte
      }
      b
    }
    // left-bright diagonal gradient + a disk (structured image)
    def scene(cx: Int, cy: Int): Int = {
      val d2 = (cx - 40) * (cx - 40) + (cy - 24) * (cy - 24)
      (63 - cx) * 2 + cy / 2 + (if (d2 < 144) 80 else 0)
    }
    // vertical 8px stripes — a genuinely different image
    def stripes(cx: Int, cy: Int): Int = (cx / 8 % 2) * 150 + 40
    val orig = img(64, 64, scene)
    // the "recompressed" duplicate: 48×48 re-render + uniform brightness
    // shift + deterministic ±2 pixel noise — bytes completely different
    val recomp = img(48, 48, scene, bright = 6, noise = true)
    val other = img(64, 64, stripes)
    val hOrig = Multimodal.dHash64(orig).longValue()
    val hRe = Multimodal.dHash64(recomp).longValue()
    val hOther = Multimodal.dHash64(other).longValue()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hOrig, hRe) <= 3,
      s"recompressed duplicate must land in the Hamming ball: ${ham(hOrig, hRe)}")
    assert(ham(hOrig, hOther) > 10,
      s"distinct image must stay far: ${ham(hOrig, hOther)}")
    // brightness invariance is exact (monotone shift preserves every
    // neighbor comparison)
    assert(Multimodal.dHash64(img(64, 64, scene, bright = 30)).longValue() == hOrig)
    val media = Seq((1L, orig), (2L, recomp), (3L, other),
      (4L, Array[Byte](0, 1)) /* unparseable → drops from pairing */)
      .toDF("media_id", "content")
    val pairs = Multimodal.perceptualMediaDedup(media, "content", "media_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"exactly the planted visual duplicate must pair: ${pairs.toSeq}")
    // the codec-seam view agrees: squared L2 between PerceptualCodec
    // feature vectors IS the Hamming distance
    val f = Multimodal.withDecodedFeatures(media.where(col("media_id") < 3),
        "content", Multimodal.PerceptualCodec)
      .orderBy("media_id").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("features"))
    val l2 = f(0).zip(f(1)).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(l2.toInt == ham(hOrig, hRe))
    // the byte-exact ladder is UNCHANGED: none of these are byte twins
    val ex = Multimodal.exactMediaDedup(media, "content", "media_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(ex.values.forall(_ == false),
      s"no byte-exact dups in the perceptual fixture: $ex")
  }

  // ------------------------------------------------------------------
  // Temporal joins
  // ------------------------------------------------------------------

  private def ts(sec: Long) =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  test("asofJoin backward: latest prior match, equal-ts match, no-match null") {
    val left = Seq(("u", ts(100), 1L), ("u", ts(200), 2L), ("u", ts(50), 3L),
        ("v", ts(100), 4L))
      .toDF("k", "t", "lid")
    val right = Seq(("u", ts(90), "a"), ("u", ts(200), "b"), ("w", ts(10), "x"))
      .toDF("k", "rt", "payload")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"),
        leftTs = "t", rightTs = "rt", payload = Seq("rt", "payload"))
      .orderBy("lid").collect()
    // lid 1: rt=90 (latest <= 100); lid 2: rt=200 (equal ts matches);
    // lid 3 and 4: nothing at or before -> null payload
    assert(out(0).getAs[String]("payload") == "a")
    assert(out(1).getAs[String]("payload") == "b")
    assert(out(2).isNullAt(out(2).fieldIndex("payload")))
    assert(out(3).isNullAt(out(3).fieldIndex("payload")))
  }

  test("asofJoin forward + tolerance gates distant matches to null") {
    val left = Seq(("u", ts(100), 1L), ("u", ts(300), 2L)).toDF("k", "t", "lid")
    val right = Seq(("u", ts(110), "near"), ("u", ts(900), "far")).toDF("k", "rt", "p")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"),
        leftTs = "t", rightTs = "rt", payload = Seq("rt", "p"),
        direction = "forward", toleranceSec = Some(60L))
      .orderBy("lid").collect()
    assert(out(0).getAs[String]("p") == "near") // 10s ahead, inside tolerance
    assert(out(1).isNullAt(out(1).fieldIndex("p"))) // 600s ahead, gated out
  }

  test("asofJoin: null payload FIELD in the matched row does not fall through") {
    val left = Seq(("u", ts(100), 1L)).toDF("k", "t", "lid")
    val right = Seq(("u", ts(50), "old"), ("u", ts(90), null))
      .toDF("k", "rt", "p")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"),
      leftTs = "t", rightTs = "rt", payload = Seq("rt", "p")).collect()
    // the match is the rt=90 row whose p IS null — not the older "old"
    assert(out(0).getAs[java.sql.Timestamp]("rt") == ts(90))
    assert(out(0).isNullAt(out(0).fieldIndex("p")))
  }

  test("asofJoin ≡ brute-force inequality join + row_number (random frames)") {
    val rnd = new scala.util.Random(7)
    val left = (0 until 300).map(i =>
      (s"k${rnd.nextInt(5)}", ts(rnd.nextInt(1000).toLong), i.toLong))
      .toDF("k", "t", "lid")
    // distinct (k, rt) pairs — asofJoin's documented uniqueness precondition
    val right = rnd.shuffle((0 until 1000).map(_.toLong)).take(200).map(s =>
      (s"k${s % 7}", ts(s), s"p$s")).toDF("k", "rt", "p")
    val fast = TemporalJoins.asofJoin(left, right, Seq("k"),
        leftTs = "t", rightTs = "rt", payload = Seq("rt", "p"))
      .select("lid", "rt", "p").orderBy("lid").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lid").orderBy(col("rt").desc)
    val brute = left.join(right, left("k") === right("k") && col("t") >= col("rt"), "left")
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("lid", "rt", "p").orderBy("lid").collect().toSeq
    assert(fast == brute)
  }

  test("rangeJoin ≡ inequality join; empty intervals match nothing") {
    val rnd = new scala.util.Random(11)
    val points = (0 until 400).map(i =>
      (s"k${rnd.nextInt(4)}", ts(rnd.nextInt(2000).toLong), i.toLong))
      .toDF("k", "t", "pid")
    val intervals = (0 until 60).map { i =>
      val s = rnd.nextInt(2000).toLong
      // lengths 0..600s: spans zero to many 120s buckets, incl. empty
      (s"k${rnd.nextInt(4)}", ts(s), ts(s + (i % 4) * 200L), i.toLong)
    }.toDF("k", "s", "e", "iid")
    val fast = TemporalJoins.rangeJoin(points, intervals, Seq("k"),
        tsCol = "t", startCol = "s", endCol = "e", bucketSec = 120)
      .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    val brute = points.join(intervals, points("k") === intervals("k") &&
        col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    assert(fast == brute)
    assert(brute.nonEmpty) // non-vacuous fixture
  }

  test("incremental dedup: index + probe ≡ one-shot pairs on the union") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    // old corpus (ids 0-199) and a new batch (ids 1000+) with planted
    // near-dups of old docs plus fresh docs
    def doc(seed: Int) = (0 until 30).map(i => s"w${(seed + i * 7) % 23}").mkString(" ")
    val old = (0 until 200).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val fresh = Seq(
      (1000L, doc(3)),                     // exact dup of old doc 3
      (1001L, doc(7) + " tail extra"),     // near-dup of old doc 7
      (1002L, "completely different text about nothing shared at all"))
      .toDF("doc_id", "text")
    Dedup.writeMinhashIndex(old, "text", "doc_id", dir)
    val inc = Dedup.nearDupAgainstIndex(spark, dir, fresh, "text", "doc_id")
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = Dedup.minhashNearDupPairs(old.union(fresh), "text", "doc_id")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a >= 1000) != (b >= 1000) }  // cross-batch only
      .map { case (a, b) => if (a >= 1000) (a, b) else (b, a) }.toSet
    assert(inc == oneShot, s"incremental=$inc oneShot=$oneShot")
    assert(inc.contains((1000L, 3L)), "planted exact dup not found via index")
  }

  test("incremental containment: index + probe ∪ intra ≡ one-shot directed pairs, replay no-op", Stateful) {
    val dir = java.nio.file.Files.createTempDirectory("graft_ctidx").toString
    // token spaces are per-article-unique, so ONLY planted relationships
    // share shingles; excerpts are consecutive slices → containment 1.0
    def article(seed: Int) = (0 until 40).map(i => s"a${seed}w$i").mkString(" ")
    def excerpt(seed: Int) = (5 until 16).map(i => s"a${seed}w$i").mkString(" ")
    val old = ((0 until 50).map(i => (i.toLong, article(i))) :+
      ((100L, excerpt(3)))).toDF("doc_id", "text")
    val batch = Seq(
      (1000L, excerpt(7)),   // new excerpt ⊂ OLD article (new→old)
      (1001L, article(60)),  // plain new article
      (1002L, "totally unrelated fresh text with nothing shared here"),
      (1003L, article(70)),  // intra-batch pair:
      (1004L, excerpt(70)))  //   new excerpt ⊂ new article
      .toDF("doc_id", "text")
    // an OLD excerpt contained in a NEW article (old→new): article(3)
    // re-published in the batch under a new id
    val batch2 = batch.union(Seq((1005L, article(3))).toDF("doc_id", "text"))
    assert(Dedup.writeContainmentIndex(old, "text", "doc_id", dir, batchId = "0"))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = pairsOf(Dedup.containmentAgainstIndex(spark, dir, batch2,
      "text", "doc_id", maxPostings = 0))
    val intra = pairsOf(Dedup.containmentJoin(batch2, "text", "doc_id",
      maxPostings = 0))
    val intraOld = pairsOf(Dedup.containmentJoin(old, "text", "doc_id",
      maxPostings = 0))
    val oneShot = pairsOf(Dedup.containmentJoin(old.union(batch2),
      "text", "doc_id", maxPostings = 0))
    assert((cross ++ intra ++ intraOld) == oneShot,
      s"split=${cross ++ intra ++ intraOld} oneShot=$oneShot")
    // both probe directions actually fired
    assert(cross.contains((1000L, 7L)), "new excerpt ⊂ old article missed")
    assert(cross.contains((100L, 1005L)), "old excerpt ⊂ new article missed")
    assert(intra.contains((1004L, 1003L)), "intra-batch containment missed")
    // replayed batch id is a committed no-op
    assert(!Dedup.writeContainmentIndex(old, "text", "doc_id", dir,
      mode = "append", batchId = "0"))
    assert(graft.store.CommitLog(spark, dir).read().committed == Seq("0"))
    // appending the batch then probing fresh content still works (the
    // nearDupAgainstIndex loop shape)
    assert(Dedup.writeContainmentIndex(batch2, "text", "doc_id", dir,
      mode = "append", batchId = "1"))
    val probe2 = pairsOf(Dedup.containmentAgainstIndex(spark, dir,
      Seq((2000L, excerpt(60))).toDF("doc_id", "text"),
      "text", "doc_id", maxPostings = 0))
    assert(probe2 == Set((2000L, 1001L)), s"$probe2")
    // compaction consolidates both batches atomically; probes are
    // row-identical and the replay ledger is carried transitively
    assert(Dedup.compactContainmentIndex(spark, dir) == 2)
    assert(graft.store.CommitLog(spark, dir).read().committed == Seq("c0"))
    val probe3 = pairsOf(Dedup.containmentAgainstIndex(spark, dir,
      batch2.union(Seq((2000L, excerpt(60))).toDF("doc_id", "text"))
        .where(col("doc_id") === 2000L),
      "text", "doc_id", maxPostings = 0))
    assert(probe3 == probe2, s"compaction changed the probe: $probe3")
    // a replayed pre-compaction id still skips (transitive marker body)
    assert(!Dedup.writeContainmentIndex(old, "text", "doc_id", dir,
      mode = "append", batchId = "1"))
    // a second compaction with one live batch is a no-op
    assert(Dedup.compactContainmentIndex(spark, dir) == 0)
  }

  test("hot-bucket skew cap: mass-identical docs can't square the LSH band joins") {
    // 300 copies of one boilerplate page: every band bucket they share
    // holds 300 rows → C(300,2) ≈ 45k candidate pairs per band in ONE
    // task (at corpus scale: 10k copies → 5·10⁷, a straggler). The cap
    // drops those buckets; mass-identical members are exactDedup's job,
    // and ordinary near-dup pairs survive via their own (cold) buckets.
    val boiler = (0 until 12).map(i => s"boiler$i").mkString(" ")
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}q$i").mkString(" ")
    val mass = (0 until 300).map(i => (i.toLong, boiler))
    val near = Seq((9000L, doc(5)), (9001L, doc(5) + " tiny tail"))
    val df = (mass ++ near).toDF("doc_id", "text")
    val dropped = graft.metrics.Metrics.counter("dedup_hot_buckets_dropped_total",
      Map("operator" -> "minhashNearDupPairs"))
    val droppedBefore = dropped.sum()
    val pairs = Dedup.minhashNearDupPairs(df, "text", "doc_id",
        maxBucketSize = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped.sum() > droppedBefore, "the cap must count the buckets it drops")
    assert(pairs.contains((9000L, 9001L)), "cold-bucket near-dups must survive the cap")
    assert(!pairs.exists { case (a, b) => a < 300 && b < 300 },
      "hot buckets must be dropped from the band join")
    // the mass dups are still caught — by the exact path
    val exact = Dedup.exactDedup(df, "text", "doc_id")
      .filter(col("n_copies") === 300).collect()
    assert(exact.length == 1 && exact.head.getLong(0) == 0L)
    // cap disabled (or a small mass under the cap) finds the mass pairs —
    // proving the cap, not a banding bug, removed them above
    val small = ((0 until 20).map(i => (i.toLong, boiler)) ++ near)
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDupPairs(small, "text", "doc_id",
        maxBucketSize = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((0L, 1L)) && uncapped.contains((9000L, 9001L)))
    // simhash path: same shape, same guarantee
    val sPairs = Dedup.simhashNearDupPairs(df, "text", "doc_id",
        maxBucketSize = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sPairs.exists { case (a, b) => a < 300 && b < 300 })
    val sUncapped = Dedup.simhashNearDupPairs(small, "text", "doc_id",
        maxBucketSize = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sUncapped.contains((0L, 1L)))
    // embedding-LSH path: N identical vectors share every (table, sig)
    // bucket — capped the same way, cold pairs survive
    val vecs = ((0 until 300).map(i => (i.toLong, Array.fill(8)(1.0f))) ++
      Seq((9000L, Array.tabulate(8)(j => if (j == 0) -1.0f else 0.3f)),
        (9001L, Array.tabulate(8)(j => if (j == 0) -1.0f else 0.31f))))
      .toDF("vec_id", "embedding")
    val ePairs = Dedup.embeddingNearDupPairsLsh(vecs, "embedding", "vec_id",
        0.99, maxBucketSize = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ePairs.contains((9000L, 9001L)), "cold-bucket embedding pair must survive")
    assert(!ePairs.exists { case (a, b) => a < 300 && b < 300 })
    val eUncapped = Dedup.embeddingNearDupPairsLsh(vecs.filter(col("vec_id") < 20 ||
        col("vec_id") >= 9000), "embedding", "vec_id", 0.99, maxBucketSize = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(eUncapped.contains((0L, 1L)) && eUncapped.contains((9000L, 9001L)))
  }

  test("index probe caps hot batch-side buckets but deduped batches keep full recall") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhprobecap").toString
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}p$i").mkString(" ")
    val old = (0 until 50).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(old, "text", "doc_id", dir)
    // a RAW batch with 300 identical docs: their band buckets blow the cap
    // and those docs probe nothing (mass dups are within-batch dedup's
    // job) — cold docs in the same batch still hit the index
    val raw = ((1000 until 1300).map(i => (i.toLong, doc(7))) ++
      Seq((2000L, doc(3) + " tail"))).toDF("doc_id", "text")
    val hits = Dedup.nearDupAgainstIndex(spark, dir, raw, "text", "doc_id",
        maxBucketSize = 50)
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((2000L, 3L)), s"cold doc must match, capped mass must not: $hits")
    // the REAL loop dedupes within-batch first — the surviving singleton
    // probes under the cap and recalls its index match
    val deduped = Dedup.canonicalize(raw,
      Dedup.minhashNearDupPairs(raw, "text", "doc_id"), "doc_id")
    val hits2 = Dedup.nearDupAgainstIndex(spark, dir, deduped, "text", "doc_id",
        maxBucketSize = 50)
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 == Set((1000L, 7L), (2000L, 3L)),
      s"deduped batch keeps full recall against the index: $hits2")
  }

  test("minhash index growth is idempotent: a replayed batch changes nothing", Stateful) {
    // at-least-once foreachBatch delivery replays batches; round 3's
    // triple-append index double-counted sizes/postings rows on replay,
    // inflating every overlap/jaccard the probe computes
    val dir = java.nio.file.Files.createTempDirectory("graft_mhreplay").toString
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}y$i").mkString(" ")
    val b1 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val b2 = Seq((10L, doc(2)), (11L, doc(9))).toDF("doc_id", "text")
    val k1 = graft.streaming.StreamingPipelines.incrementalDedupBatch(
      spark, dir, b1, "text", "doc_id", batchId = "0")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val k2 = graft.streaming.StreamingPipelines.incrementalDedupBatch(
      spark, dir, b2, "text", "doc_id", batchId = "1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k1 == Seq(1L, 2L) && k2 == Seq(11L))
    def indexState() = {
      val probe = Dedup.nearDupAgainstIndex(spark, dir,
          Seq((100L, doc(9))).toDF("doc_id", "text"), "text", "doc_id")
        .select("new_id", "old_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sizes = spark.read.parquet(s"$dir/sizes").count()
      val postings = spark.read.parquet(s"$dir/postings").count()
      (probe, sizes, postings)
    }
    val before = indexState()
    assert(before._1 == Set((100L, 11L)), s"probe must hit batch-2's survivor: $before")
    // REPLAY batch 1 (same batch id, same rows): kept set identical, no
    // index growth, probe results unchanged
    val k2r = graft.streaming.StreamingPipelines.incrementalDedupBatch(
      spark, dir, b2, "text", "doc_id", batchId = "1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k2r == k2, s"replayed batch must keep the same docs: $k2r vs $k2")
    assert(indexState() == before, "replayed batch must not change the index")
    // direct writer replay is also a no-op skip
    assert(!Dedup.writeMinhashIndex(b2, "text", "doc_id", dir,
      mode = "append", batchId = "1"))
  }

  test("minhash index compaction: probe-identical, file count collapsed, appendable after", Stateful) {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhcompact").toString
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}c$i").mkString(" ")
    // five appended batches, one doc each
    (0 until 5).foreach { b =>
      val df = Seq((b.toLong, doc(b))).toDF("doc_id", "text")
      assert(Dedup.writeMinhashIndex(df, "text", "doc_id", dir,
        mode = if (b == 0) "overwrite" else "append", batchId = b.toString))
    }
    def postingsFiles() = {
      val root = java.nio.file.Paths.get(dir, "postings")
      java.nio.file.Files.walk(root).filter(_.toString.endsWith(".parquet")).count()
    }
    def probe(seed: Int) = Dedup.nearDupAgainstIndex(spark, dir,
        Seq((100L, doc(seed))).toDF("doc_id", "text"), "text", "doc_id")
      .select("old_id").collect().map(_.getLong(0)).toSet
    val filesBefore = postingsFiles()
    val hitsBefore = (0 until 5).map(probe)
    assert(hitsBefore == (0 until 5).map(b => Set(b.toLong)),
      s"each batch's doc must be probeable pre-compaction: $hitsBefore")
    // consolidate
    assert(Dedup.compactMinhashIndex(spark, dir) == 5)
    assert(graft.store.CommitLog(spark, dir).read().committed == Seq("c0"))
    assert(postingsFiles() < filesBefore,
      s"compaction must collapse files: $filesBefore -> ${postingsFiles()}")
    assert((0 until 5).map(probe) == hitsBefore, "probe results must be row-identical")
    // still appendable after compaction — streaming ids continue, replays
    // of consolidated batches stay no-ops
    assert(!Dedup.writeMinhashIndex(Seq((0L, doc(0))).toDF("doc_id", "text"),
      "text", "doc_id", dir, mode = "append", batchId = "3"),
      "a consolidated-away batch id must replay as a no-op")
    assert(Dedup.writeMinhashIndex(Seq((9L, doc(9))).toDF("doc_id", "text"),
      "text", "doc_id", dir, mode = "append", batchId = "5"))
    assert(probe(9) == Set(9L) && probe(2) == Set(2L))
    // second compaction consolidates {c0, 5} and stays probe-identical
    assert(Dedup.compactMinhashIndex(spark, dir) == 2)
    assert(graft.store.CommitLog(spark, dir).read().committed == Seq("c1"))
    assert(probe(9) == Set(9L) && probe(2) == Set(2L))
    // nothing left to consolidate
    assert(Dedup.compactMinhashIndex(spark, dir) == 0)
    // TRANSITIVE supersede: c1's body must still carry the ids the FIRST
    // compaction replaced — a replay of batch 3 two compactions later
    // must stay a no-op, not a double-ingest
    assert(!Dedup.writeMinhashIndex(Seq((0L, doc(3))).toDF("doc_id", "text"),
      "text", "doc_id", dir, mode = "append", batchId = "3"),
      "a batch consolidated two compactions ago must still replay as a no-op")
  }

  test("minhash index: uncommitted (torn) batch is invisible until its retry commits", Stateful) {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhtorn").toString
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}z$i").mkString(" ")
    val b1 = Seq((1L, doc(1))).toDF("doc_id", "text")
    assert(Dedup.writeMinhashIndex(b1, "text", "doc_id", dir, batchId = "0"))
    // simulate a crash between the table writes and the commit marker of
    // batch 1: its data directories exist, its marker does not
    val b2 = Seq((2L, doc(7))).toDF("doc_id", "text")
    assert(Dedup.writeMinhashIndex(b2, "text", "doc_id", dir,
      mode = "append", batchId = "1"))
    val marker = java.nio.file.Paths.get(dir, "_commits", "1")
    java.nio.file.Files.delete(marker) // the crash: data landed, commit didn't
    val probe = Seq((100L, doc(7))).toDF("doc_id", "text")
    def hits() = Dedup.nearDupAgainstIndex(spark, dir, probe, "text", "doc_id")
      .select("old_id").collect().map(_.getLong(0)).toSet
    assert(hits() == Set.empty[Long], "torn batch must be invisible to probes")
    // the retry rewrites the batch and commits — now visible
    assert(Dedup.writeMinhashIndex(b2, "text", "doc_id", dir,
      mode = "append", batchId = "1"))
    assert(hits() == Set(2L), "retried batch must be visible after its commit")
  }

  test("streaming incremental dedup: batches keep only novel docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    // disjoint word spaces per seed — an arithmetic-progression token
    // space (earlier draft) made distinct seeds shifted near-copies
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}x$i").mkString(" ")
    // batch 1: three docs, one an exact in-batch dup
    val b1 = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(1))).toDF("doc_id", "text")
    val k1 = graft.streaming.StreamingPipelines.incrementalDedupBatch(spark, dir, b1, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k1 == Seq(1L, 2L), s"in-batch dup must drop: $k1")
    // batch 2: a dup of batch-1's doc 2, and a novel doc
    val b2 = Seq((10L, doc(2)), (11L, doc(9))).toDF("doc_id", "text")
    val k2 = graft.streaming.StreamingPipelines.incrementalDedupBatch(spark, dir, b2, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k2 == Seq(11L), s"cross-batch dup must drop: $k2")
    // batch 3: a dup of batch-2's survivor — the index must have grown
    val b3 = Seq((20L, doc(9)), (21L, doc(40))).toDF("doc_id", "text")
    val k3 = graft.streaming.StreamingPipelines.incrementalDedupBatch(spark, dir, b3, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k3 == Seq(21L), s"index must accumulate across batches: $k3")
  }

  test("contaminationBloomFlags: shuffle-free pre-screen agrees with the exact join on planted contamination") {
    def doc(seed: Int) = (0 until 40).map(i => s"w${seed}x$i").mkString(" ")
    val eval_ = (100 to 104).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val corpus = ((0 until 60).map(i => (i.toLong, doc(i))) ++ Seq(
      (200L, doc(500) + " " + doc(101)),   // absorbed eval doc 101
      (201L, doc(501) + " " + doc(103))))  // absorbed eval doc 103
      .toDF("doc_id", "text")
    val flaggedDf = Dedup.contaminationBloomFlags(corpus, eval_, "text", "doc_id")
    // the probe must be the NATIVE BloomFilterMightContain expression —
    // no ScalaUDF / BatchEvalPython-class node anywhere in the flag plan
    // (VERDICT r12 #6: the pre-screen stays codegen'd and plan-pinnable)
    val planStr = flaggedDf.queryExecution.executedPlan.toString
    assert(!planStr.contains("UDF"), s"flag plan contains a UDF node:\n$planStr")
    assert(flaggedDf.queryExecution.optimizedPlan.toString
      .contains("might_contain"),
      "flag plan must probe via the native might_contain expression")
    val flagged = flaggedDf
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(200L, 201L),
      s"pre-screen must flag exactly the planted docs here: $flagged")
    // each absorbed 40-token eval doc contributes 33 shared 8-gram spans
    assert(flagged.values.forall(_ >= 33L), s"span counts too low: $flagged")
    // one-sided contract vs the exact join: bloom flags ⊇ exact hits
    val exact = Dedup.shingleRows(corpus, "text", "doc_id", 8)
      .select(col("id"), xxhash64(col("s")).as("h"))
      .join(Dedup.shingleRows(eval_, "text", "doc_id", 8)
        .select(xxhash64(col("s")).as("h")).distinct(), "h")
      .groupBy("id").agg(count(lit(1)).as("c")).where(col("c") >= 3)
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged.keySet), s"bloom missed true hits: $exact vs $flagged")
  }

  test("documentIngestBatch: quality -> scrub -> exact -> incremental near-dup, with a drop report") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    def doc(seed: Int) = (0 until 30).map(i => s"w${seed}x$i").mkString(" ")
    val b1 = Seq(
      (1L, doc(1)),                                  // kept
      (2L, doc(2) + " reach me@example.org"),        // kept, PII scrubbed
      (3L, doc(1)),                                  // exact dup of 1 → dropped
      (4L, "too short")                              // quality gate → dropped
    ).toDF("doc_id", "text")
    val (kept1, report1) = graft.streaming.StreamingPipelines.documentIngestBatch(
      spark, dir, b1, "text", "doc_id", batchId = "b1")
    val k1 = kept1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k1 == Seq(1L, 2L), s"batch 1 survivors: $k1")
    assert(report1 == Map("arrived" -> 4L, "quality_dropped" -> 1L,
      "exact_dropped" -> 1L, "neardup_dropped" -> 0L, "kept" -> 2L), report1.toString)
    assert(kept1.where(col("doc_id") === 2L).head.getAs[String]("text")
      .contains("<EMAIL>"), "PII must be scrubbed in the stored text")
    // batch 2: near-dup of batch 1's doc 1 (same words + small tail)
    val b2 = Seq((10L, doc(1) + " tiny tail"), (11L, doc(9))).toDF("doc_id", "text")
    val (kept2, report2) = graft.streaming.StreamingPipelines.documentIngestBatch(
      spark, dir, b2, "text", "doc_id", batchId = "b2")
    assert(kept2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    assert(report2("neardup_dropped") == 1L && report2("kept") == 1L, report2.toString)
  }

  test("connectedComponents rejects non-integral ids instead of silently nulling them") {
    // round-3 defect: cast("long") on string ids produced (null, null)
    // pairs — one bogus component, wrong canonicalize survivors, no error
    val stringPairs = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(stringPairs)
    }
    assert(e.getMessage.contains("integral") && e.getMessage.contains("id_a"))
    // canonicalize goes through the same guard
    val docs = Seq(("doc-a", "x"), ("doc-b", "y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.canonicalize(docs,
        stringPairs.withColumnRenamed("id_a", "id_a"), "doc_id").collect()
    }
    // int ids (narrower integral) still work via widening cast
    val intPairs = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(intPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents: chains, cliques, singleton-pair isolation") {
    // chain 1-2-3-4-5 (tests multi-hop propagation), clique 10-11-12,
    // isolated pair 20-21, self-contained pair with reversed order 31-30
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L), (31L, 30L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
    assert(Seq(30L, 31L).forall(comps(_) == 30L))
    assert(comps.size == 12)
  }

  test("connectedComponents converges on a long path in few rounds (distributed path)") {
    // a 64-node path: naive min-propagation needs 63 rounds; pointer
    // jumping must close it within the default maxIter=20. cutoff=0
    // forces the distributed loop (the driver union-find would otherwise
    // absorb a fixture this small).
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, driverCutoffPairs = 0L).collect()
    assert(comps.length == 64 && comps.forall(_.getLong(1) == 0L))
  }

  test("canonicalize keeps min-id per near-dup component, others untouched") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "y"), (9L, "z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.canonicalize(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 7L, 9L))
  }

  test("repetitionStats: dup lines and top bigram are exact") {
    val docs = Seq(
      (1L, "a b a b a"),          // bigrams: ab,ba,ab,ba → top 2 of 4
      (2L, "x\ny\nx\n\n z "),     // non-empty lines x,y,x,z → 1 dup of 4
      (3L, "solo"))               // <2 tokens → zero bigram stats
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, "text", "doc_id")
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("top_bigram_n") == 2 &&
      out(0).getAs[Double]("top_bigram_frac") == 0.5)
    assert(out(1).getAs[Long]("n_lines") == 4 &&
      out(1).getAs[Double]("dup_line_frac") == 0.25)
    assert(out(2).getAs[Long]("top_bigram_n") == 0 &&
      out(2).getAs[Double]("top_bigram_frac") == 0.0)
  }

  test("scrubPii redacts email/ip/phone and counts match") {
    val df = Seq((1L, "mail a.b+c@ex-ample.org then 192.168.0.1 then +41791234567 end"))
      .toDF("id", "t")
    val r = df.select(TextAnalysis.piiCounts(col("t")) :+
      TextAnalysis.scrubPii(col("t")).as("s"): _*).head()
    assert(r.getAs[Int]("n_emails") == 1 && r.getAs[Int]("n_ips") == 1 &&
      r.getAs[Int]("n_phones") == 1)
    assert(r.getAs[String]("s") == "mail <EMAIL> then <IP> then <PHONE> end")
  }

  test("custom expressions are callable from SQL text (registry surface)") {
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head.getDouble(0)
    assert(dot == 11.0)
    val ewm = spark.sql("""
      WITH t(ts, x) AS (VALUES (1, 1.0d), (2, 2.0d), (3, 3.0d))
      SELECT graft_ewm_mean(x, 0.5) OVER (ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e FROM t
      ORDER BY ts""").collect().map(_.getDouble(0))
    // adjust=False recurrence: 1.0, 1.5, 2.25
    assert(ewm.toSeq == Seq(1.0, 1.5, 2.25))
    val shingles = spark.sql(
      "SELECT graft_shingles(array('a', 'b', 'a', 'b'), 2) AS s").head.getSeq[String](0)
    assert(shingles == Seq("a b", "b a")) // distinct, first-occurrence order
    val sigs = spark.sql(
      "SELECT graft_lsh_sigs(array(1.0d, -2.0d), array(0.5d, 0.5d, -0.5d, 0.5d), 2, 1) AS g")
      .head.getSeq[Long](0)
    // plane 0: 0.5·1 + 0.5·(−2) < 0 → bit 0 off; plane 1: −0.5·1+0.5·(−2) < 0 → bit 1 off
    assert(sigs == Seq(0L))
    // centroids (0,1) and (1,0): vec (1,0) → index 1; tie (1,1) → lowest index 0
    assert(spark.sql("SELECT graft_nearest_centroid(array(1.0d, 0.0d), array(0.0d, 1.0d, 1.0d, 0.0d), 2) AS c")
      .head.getInt(0) == 1)
    assert(spark.sql("SELECT graft_nearest_centroid(array(1.0d, 1.0d), array(0.0d, 1.0d, 1.0d, 0.0d), 2) AS c")
      .head.getInt(0) == 0)
  }

  test("split3 assignment is stable and has sane proportions") {
    val ids = spark.range(10000).toDF("doc_id")
    val counts = ids.select(TextAnalysis.split3(col("doc_id")).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000)
    assert(counts("train") > 7500 && counts("train") < 8500, s"skewed: $counts")
    assert(counts("val") > 700 && counts("val") < 1300, s"skewed: $counts")
    // stability: the same id maps to the same split in a different frame
    val a = ids.filter(col("doc_id") === 4242)
      .select(TextAnalysis.split3(col("doc_id"))).head.getString(0)
    val b = spark.range(4242, 4243).toDF("doc_id")
      .select(TextAnalysis.split3(col("doc_id"))).head.getString(0)
    assert(a == b)
  }

  test("packSequences: bins respect the token budget per shard") {
    val docs = (1L to 20L).map(i => ("en", i, 100L)).toDF("lang", "doc_id", "n_tok")
    val out = TextAnalysis.packSequences(docs, "n_tok", "doc_id", 512, Seq("lang"))
      .orderBy("doc_id").collect()
    // 100-token docs into 512 budget → bins of 5,5,5,5 docs... bin k starts
    // when cum-before crosses k*512
    assert(out.map(_.getAs[Long]("bin")).toSeq ==
      Seq(0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 3, 3, 3, 3).map(_.toLong))
  }

  test("segmentDedup: non-first copies removed (cross- and within-doc), tails always kept") {
    val segA = (1 to 8).map(i => s"w$i").mkString(" ")
    val segB = (1 to 8).map(i => s"u$i").mkString(" ")
    val segC = (1 to 8).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"$segA $segB tail1 tail2"),    // owns segA+segB; 2-token tail
      (2L, s"$segA x1 x2 x3 x4 x5 x6 x7"), // repeats segA; own 7-token tail
      (3L, "short doc"),                   // sub-segment doc, untouched
      (4L, s"$segC $segC"))                // within-doc dup: keep first copy
      .toDF("doc_id", "text")
    val out = TextAnalysis.segmentDedup(docs, "text", "doc_id", segTokens = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_segments") == 3 &&
      out(0).getAs[Long]("n_removed") == 0 &&
      out(0).getAs[String]("text_dedup") == s"$segA $segB tail1 tail2")
    assert(out(1).getAs[Long]("n_removed") == 1 &&
      out(1).getAs[String]("text_dedup") == "x1 x2 x3 x4 x5 x6 x7")
    assert(out(2).getAs[Long]("n_segments") == 1 &&
      out(2).getAs[Long]("n_removed") == 0 &&
      out(2).getAs[String]("text_dedup") == "short doc")
    assert(out(3).getAs[Long]("n_removed") == 1 &&
      out(3).getAs[String]("text_dedup") == segC)
  }

  test("sessionize: gap boundaries split per entity, session aggregates are exact") {
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val events = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(2000)), (1L, ts(2010)),
      (2L, ts(5))).toDF("user_id", "ts")
    val out = Relational.sessionize(events, Seq("user_id"), "ts", gapSec = 1000)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("session_id") == 0L &&
      out(0).getAs[Long]("n_events") == 2L &&
      out(0).getAs[Long]("duration_us") == 10000000L)
    assert(out(1).getAs[Long]("session_id") == 1L &&
      out(1).getAs[Long]("start_us") == 2000000000L)
    assert(out(2).getAs[Long]("user_id") == 2L &&
      out(2).getAs[Long]("n_events") == 1L &&
      out(2).getAs[Long]("duration_us") == 0L)
  }

  test("cdcDedup catches copied passages at shifted offsets where fixed windows miss them") {
    val passage = (0 until 32).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, passage),                               // owner
      (2L, "jn1 jn2 jn3 " + passage),              // same passage, offset 3
      (3L, (0 until 32).map(i => s"q$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val cdc = TextAnalysis.cdcDedup(docs, "text", "doc_id", divisor = 8)
      .orderBy("doc_id").collect()
    assert(cdc(0).getAs[Long]("n_removed") == 0, "the first copy survives whole")
    assert(cdc(1).getAs[Long]("n_removed") >= 1,
      s"shifted passage must share content-defined segments: ${cdc(1)}")
    assert(cdc(2).getAs[Long]("n_removed") == 0)
    // the fixed-window segmenter can't see the offset copy (3 % 8 != 0)
    val fixed = TextAnalysis.segmentDedup(docs, "text", "doc_id", segTokens = 8)
      .orderBy("doc_id").collect()
    assert(fixed(1).getAs[Long]("n_removed") == 0,
      "aligned windows must miss the shifted copy (that's the point of CDC)")
    // dedup'd text loses only passage content, never the junk prefix
    assert(cdc(1).getAs[String]("text_dedup").startsWith("jn1 jn2 jn3"))
  }

  test("graft_window_hashes: per-position hashes equal the built-in xxhash64 spelling; empty below L") {
    val docs = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p q r")).toDF("doc_id", "text")
    val toks = split(trim(col("text")), "\\s+")
    val out = docs.select(col("doc_id"),
        call_function("graft_window_hashes", toks, lit(3)).as("fast"),
        when(size(toks) >= 3,
          transform(sequence(lit(0), size(toks) - 3),
            i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(3))))))
          .otherwise(expr("array()").cast("array<bigint>")).as("slow"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[Long](1) == out(0).getSeq[Long](2) &&
      out(0).getSeq[Long](1).length == 3)
    assert(out(1).getSeq[Long](1).isEmpty, "docs below L yield no windows")
    assert(out(2).getSeq[Long](1) == out(2).getSeq[Long](2) &&
      out(2).getSeq[Long](1).length == 1)
  }

  test("graft_hash48_array: per-element hashes equal the md5 Column spelling; nulls ride through") {
    val docs = Seq(
      (1L, Seq[String]("alpha", "beta", "", "alpha")),
      (2L, Seq[String]()),
      (3L, Seq[String]("solo"))).toDF("doc_id", "toks")
      // null element injected via a Column (Seq(null) breaks implicits)
      .withColumn("toks",
        when(col("doc_id") === 3L, array(col("toks")(0), lit(null).cast("string")))
          .otherwise(col("toks")))
    val out = docs.select(col("doc_id"),
        call_function("graft_hash48_array", col("toks")).as("fast"),
        transform(col("toks"), t => TextAnalysis.tokenHash48(t)).as("slow"))
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"kernel and Column spelling disagree on doc ${r.getLong(0)}: $r")
    }
    assert(out(0).getSeq[Long](1).length == 4 &&
      out(0).getSeq[Long](1)(0) == out(0).getSeq[Long](1)(3),
      "equal tokens must hash equal")
    assert(out(1).getSeq[Long](1).isEmpty)
    assert(out(2).getSeq[Any](1)(1) == null, "null element stays null")
  }

  test("graft_sorted_overlap: merge count equals the posting-explode equi-join count") {
    val pairs = Seq(
      (1L, Seq(1L, 2L, 2L, 3L, 5L), Seq(2L, 2L, 3L, 3L, 7L)), // runs: 2·2 + 1·2 = 6
      (2L, Seq(1L, 4L, 9L), Seq(2L, 3L, 10L)),                // disjoint: 0
      (3L, Seq[Long](), Seq(1L, 2L)),                         // empty side: 0
      (4L, Seq(5L, 5L, 5L), Seq(5L, 5L))                      // one value: 3·2 = 6
    ).toDF("pid", "ha", "hb")
    val fast = pairs.select(col("pid"),
      call_function("graft_sorted_overlap",
        array_sort(col("ha")), array_sort(col("hb"))).as("o"))
    val slow = pairs.select(col("pid"), explode(col("ha")).as("h"))
      .join(pairs.select(col("pid"), explode(col("hb")).as("h")), Seq("pid", "h"))
      .groupBy("pid").agg(count(lit(1)).as("o"))
    val f = fast.orderBy("pid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s = slow.orderBy("pid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f == Map(1L -> 6L, 2L -> 0L, 3L -> 0L, 4L -> 6L), s"merge counts: $f")
    assert(s == f.filter(_._2 > 0L), "equi-join agrees wherever it has rows")
    // nulls never match (SQL join semantics); array_sort puts them last
    val withNulls = Seq(Tuple1(1)).toDF("one").select(
      call_function("graft_sorted_overlap",
        array_sort(array(lit(3L), lit(null).cast("long"), lit(1L))),
        array_sort(array(lit(null).cast("long"), lit(3L)))).as("o"))
    assert(withNulls.head().getLong(0) == 1L)
  }

  test("graft_cdc_segments: segments equal the sentinel-split Column spelling on every edge") {
    val divisor = 4
    // probe tokens so every branch fires: boundaries mid-array and at the
    // tail, empty-string tokens, a null token, a doc with no boundary
    val docs = Seq(
      (1L, (0 until 40).map(i => s"tok$i")),
      (2L, Seq("a", "", "b", "", "")),
      (3L, Seq("only", "two")),
      (4L, (0 until 16).map(i => s"x$i"))).toDF("doc_id", "toks")
      .withColumn("toks",
        when(col("doc_id") === 4L,
          concat(slice(col("toks"), 1, 8),
            array(lit(null).cast("string")), slice(col("toks"), 9, 8)))
          .otherwise(col("toks")))
    val toksCol = col("toks")
    // the r13 Column spelling, verbatim (pmod ≡ remainderUnsigned: the
    // 48-bit hash is non-negative)
    val marked = transform(toksCol, t =>
      concat(t, when(pmod(TextAnalysis.tokenHash48(t), lit(divisor.toLong)) === 0,
        lit("\u0001")).otherwise(lit(""))))
    val slow = filter(split(concat_ws(" ", marked), "\u0001 ?"), s => s =!= "")
    val out = docs.select(col("doc_id"),
        call_function("graft_cdc_segments", toksCol, lit(divisor)).as("fast"),
        slow.as("slow"))
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"kernel and Column spelling disagree on doc ${r.getLong(0)}:\n" +
          s"  fast=${r.getSeq[String](1)}\n  slow=${r.getSeq[String](2)}")
    }
    assert(out(0).getSeq[String](1).length > 1,
      "divisor 4 over 40 tokens must produce several segments")
    // a null token ARRAY yields an empty segment array (concat_ws skips
    // null args), never null
    val nullArr = Seq(Tuple1(1)).toDF("one").select(
      call_function("graft_cdc_segments",
        lit(null).cast("array<string>"), lit(divisor)).as("segs"))
    assert(nullArr.head().getSeq[String](0).isEmpty)
  }

  test("substringDedup: non-aligned spans cut exactly where segmentDedup provably misses them") {
    val passage = (0 until 12).map(i => s"P$i").mkString(" ")
    val docs = Seq(
      (1L, s"pre1 pre2 $passage post1 post2"),   // corpus-first copy: survives whole
      (2L, s"a1 a2 a3 $passage b1 b2 b3"),       // same passage at offset 3 (not 8-aligned)
      (3L, "tiny doc"),                          // below minTokens: untouched
      (4L, (0 until 20).map(i => s"z$i").mkString(" "))) // unique: untouched
      .toDF("doc_id", "text")
    val out = TextAnalysis.substringDedup(docs, "text", "doc_id", minTokens = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_removed_tokens") == 0 &&
      out(0).getAs[String]("text_dedup") == s"pre1 pre2 $passage post1 post2")
    // the 12-token passage = 5 overlapping windows at pos 3..7 → merged
    // interval [3, 15): exactly the passage, nothing of the unique frame
    assert(out(1).getAs[Long]("n_removed_tokens") == 12,
      s"expected exactly the 12 passage tokens removed: ${out(1)}")
    assert(out(1).getAs[String]("text_dedup") == "a1 a2 a3 b1 b2 b3")
    assert(out(2).getAs[Long]("n_removed_tokens") == 0 &&
      out(2).getAs[String]("text_dedup") == "tiny doc")
    assert(out(3).getAs[Long]("n_removed_tokens") == 0)
    // the k-aligned segmenter sees NO duplicate segment in doc 2 (offset 3
    // misaligns every fixed window) — the case this operator exists for
    val fixed = TextAnalysis.segmentDedup(docs, "text", "doc_id", segTokens = 8)
      .orderBy("doc_id").collect()
    assert(fixed(1).getAs[Long]("n_removed") == 0,
      "segmentDedup must miss the non-aligned copy (that's the gap substringDedup closes)")
  }

  test("substringDedup: within-doc repeats keep the first copy; whole-dup docs empty out; adjacent spans merge") {
    val r = (0 until 8).map(i => s"R$i").mkString(" ")
    val s1 = (0 until 8).map(i => s"S$i").mkString(" ")
    val s2 = (0 until 8).map(i => s"T$i").mkString(" ")
    val whole = (0 until 10).map(i => s"W$i").mkString(" ")
    val docs = Seq(
      (1L, s"$r mid1 mid2 $r"),      // within-doc repeat: first copy kept
      (2L, whole), (3L, whole),      // exact whole-doc dup: later doc empties
      (4L, s1), (5L, s2),            // owners of two unrelated spans
      (6L, s"lead1 $s1 $s2 tail1"))  // both spans back-to-back: ONE merged cut
      .toDF("doc_id", "text")
    val out = TextAnalysis.substringDedup(docs, "text", "doc_id", minTokens = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_removed_tokens") == 8 &&
      out(0).getAs[String]("text_dedup") == s"$r mid1 mid2")
    assert(out(1).getAs[Long]("n_removed_tokens") == 0 &&
      out(1).getAs[String]("text_dedup") == whole)
    assert(out(2).getAs[Long]("n_removed_tokens") == 10 &&
      out(2).getAs[String]("text_dedup") == "")
    // doc 6 loses S then T as one contiguous 16-token interval — the
    // interval merge must fuse hits that come from DIFFERENT sources
    assert(out(5).getAs[Long]("n_removed_tokens") == 16 &&
      out(5).getAs[String]("text_dedup") == "lead1 tail1",
      s"adjacent spans from different owners must merge: ${out(5)}")
  }

  test("unigramLogProb: uniform model scores exactly, head/tail split changes nothing") {
    val docs = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    // counts a=2, b=2 of total 4 → every token −ln(0.5) → 693147 µnats
    val out = TextAnalysis.unigramLogProb(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 3 && out(1).getAs[Long]("n_tokens") == 1)
    assert(out.forall(_.getAs[Double]("mean_nll") == 0.693147))
    // headTokens=0 (all-shuffle) and headTokens=1 (split: head={a}, tail={b})
    // are pure execution-strategy choices — results identical
    for (h <- Seq(0, 1)) {
      val alt = TextAnalysis.unigramLogProb(docs, "text", "doc_id", headTokens = h)
        .orderBy("doc_id").collect()
      assert(alt.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq, s"headTokens=$h diverged")
    }
  }

  test("temperatureMix: smallest stratum whole, dominant stratum damped to (c_min/c)^(1-a)") {
    val docs = ((1L to 200L).map(i => (i, "big")) ++ (201L to 210L).map(i => (i, "small")))
      .toDF("doc_id", "src")
    val out = TextAnalysis.temperatureMix(docs, "src", "doc_id", alpha = 0.5)
    val rates = out.select("src", "rate_fp").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("small") == 1000000L)
    assert(rates("big") == math.floor(math.sqrt(10.0 / 200.0) * 1e6).toLong)
    val kept = out.where(col("keep")).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") == 10, "the smallest stratum must survive whole")
    assert(kept("big") > 20 && kept("big") < 70, s"~22% of 200 expected, got ${kept("big")}")
    // alpha = 1 → natural distribution, nothing dropped
    assert(TextAnalysis.temperatureMix(docs, "src", "doc_id", alpha = 1.0)
      .where(!col("keep")).count() == 0)
  }

  test("tfidfTopTerms ranks distinctive terms above universal ones") {
    val docs = Seq((1L, "apple banana apple"), (2L, "apple cherry"), (3L, "apple date"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank").collect()
    // 'apple' appears in every doc → idf 0 → below any distinctive term
    assert(out.filter(_.getAs[Long]("rank") == 1L).map(_.getAs[String]("term")).toSeq ==
      Seq("banana", "cherry", "date"))
    val d1Apple = out.find(r =>
      r.getAs[Long]("doc_id") == 1L && r.getAs[String]("term") == "apple").get
    assert(d1Apple.getAs[Long]("tf") == 2L && d1Apple.getAs[Double]("tfidf") == 0.0)
  }

  test("bigramLogProb: closed-form interpolated scores on a tiny corpus") {
    // corpus "a b" ×2: uni a=2,b=2 of 4; bigram (a,b) cb=2, c(a)=2
    // pos0: −ln(2/4) → 693147 µnats; pos1: −ln(0.5·(2/2) + 0.5·(2/4)) =
    // −ln(0.75) → 287682 µnats
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "text", "doc_id", lambda = 0.5)
      .orderBy("doc_id").collect()
    val expected = (693147L + 287682L).toDouble / (2 * 1e6)
    assert(out.length == 2 && out.forall(r =>
      r.getAs[Long]("n_tokens") == 2 && r.getAs[Double]("mean_nll") == expected),
      out.mkString(","))
    // a single-token doc scores unigram-only; a sole token has p=1 → 0 nll
    val solo = TextAnalysis.bigramLogProb(Seq((9L, "solo")).toDF("doc_id", "text"),
      "text", "doc_id").head()
    assert(solo.getAs[Long]("n_tokens") == 1 && solo.getAs[Double]("mean_nll") == 0.0)
  }

  test("knLogProb: closed-form Kneser–Ney scores, continuation-count sensitivity, solo doc") {
    // corpus: "a b", "a c", "b a" → tokens a,b,a,c,b,a (total 6);
    // uni a=3,b=2,c=1; bigram types (a,b),(a,c),(b,a) all cb=1, B=3;
    // N₁₊(a·)=2, N₁₊(b·)=1; N₁₊(·b)=1, N₁₊(·c)=1, N₁₊(·a)=1
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "b a")).toDF("doc_id", "text")
    val out = TextAnalysis.knLogProb(docs, "text", "doc_id", discount = 0.75)
      .orderBy("doc_id").collect()
    def kn(cb: Long, cp: Long, n1p: Long, ncont: Long, b: Long): Double =
      (cb - 0.75) / cp.toDouble + 0.75 / cp.toDouble * n1p.toDouble *
        (ncont.toDouble / b.toDouble)
    def mu(p: Double): Long = math.round(-math.log(p) * 1e6)
    // doc 1 "a b": pos0 −ln(3/6); pair p = 0.25/3 + (0.75/3)·2·(1/3) = 0.25
    val e1 = (mu(3.0 / 6.0) + mu(kn(1, 3, 2, 1, 3))).toDouble / (2 * 1e6)
    assert(math.abs(out(0).getAs[Double]("mean_nll") - e1) < 1e-9, out(0).toString)
    // doc 3 "b a": pair (b,a): p = 0.25/2 + (0.75/2)·1·(1/3)
    val e3 = (mu(2.0 / 6.0) + mu(kn(1, 2, 1, 1, 3))).toDouble / (2 * 1e6)
    assert(math.abs(out(2).getAs[Double]("mean_nll") - e3) < 1e-9, out(2).toString)
    // continuation counts BITE: "francisco" (always after "san") scores
    // worse following a fresh context than a promiscuous word of the
    // same unigram frequency would — here (a,c) vs (a,b): c and b have
    // equal ncont, but raising b's predecessor diversity lowers its NLL
    val div = Seq((1L, "a b"), (2L, "c b"), (3L, "d b"), (4L, "a e"))
      .toDF("doc_id", "text")
    val dOut = TextAnalysis.knLogProb(div, "text", "doc_id").orderBy("doc_id")
      .collect()
    // pair (a,b): ncont(b)=3 of B=4 vs pair (a,e): ncont(e)=1 → b likelier
    assert(dOut(0).getAs[Double]("mean_nll") < dOut(3).getAs[Double]("mean_nll"),
      s"continuation fanout must lower NLL: ${dOut.mkString(",")}")
    // single-token doc scores unigram-only
    val solo = TextAnalysis.knLogProb(Seq((9L, "solo")).toDF("doc_id", "text"),
      "text", "doc_id").head()
    assert(solo.getAs[Long]("n_tokens") == 1 && solo.getAs[Double]("mean_nll") == 0.0)
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.knLogProb(docs, "text", "doc_id", discount = 1.5) }
    assert(err.getMessage.contains("discount"), err.getMessage)
  }

  test("clusterDivergence: proportional slices score zero, engineered skew localizes, hand replay") {
    // two tight clusters along orthogonal axes; ids chosen so the
    // mod-5 eval slice is PROPORTIONAL across clusters → skl = 0
    def vec(c: Int, j: Int): Array[Float] =
      if (c == 0) Array(1f + j * 0.001f, 0f) else Array(0f, 1f + j * 0.001f)
    // alternating ids (even → cluster 0, odd → cluster 1) seed one
    // centroid in each cluster and give each cluster exactly two
    // id%5==0 members (0,10 / 5,15) → p = q per cluster
    val bal = (0 until 20).map(i => (i.toLong, vec(i % 2, i)))
    val bdf = bal.toDF("vec_id", "embedding")
    val bOut = Similarity.clusterDivergence(bdf, "embedding", "vec_id",
      k = 2, iters = 2, holdMod = 5L).collect()
    assert(bOut.forall(_.getAs[Double]("skl_total") == 0.0), bOut.mkString(","))
    assert(bOut.forall(_.getAs[Double]("skl_term") == 0.0), bOut.mkString(","))
    // skew: move cluster 1's eval members into cluster 0's id range —
    // ids multiple-of-5 now live ONLY in cluster 0
    val skew = (0 until 12).map(i => (i.toLong * 5L, vec(0, i))) ++
      (0 until 12).map(i => (i.toLong * 5L + 1L, vec(1, i)))
    val sdf = skew.toDF("vec_id", "embedding")
    val sOut = Similarity.clusterDivergence(sdf, "embedding", "vec_id",
      k = 2, iters = 2, holdMod = 5L).collect()
    val byC = sOut.map(r => r.getAs[Long]("cluster_id") -> r).toMap
    assert(sOut.head.getAs[Double]("skl_total") > 0.1,
      s"engineered drift must score: ${sOut.mkString(",")}")
    // hand replay: cluster0 (n_train=0, n_eval=12), cluster1 (12, 0),
    // totals train=12 eval=12, k=2 smoothing
    def term(nt: Long, ne: Long): Double = {
      val p = (nt + 1.0) / (12.0 + 2.0); val q = (ne + 1.0) / (12.0 + 2.0)
      math.round((p - q) * math.log(p / q) * 1e9) / 1e9
    }
    assert(math.abs(byC(0L).getAs[Double]("skl_term") - term(0, 12)) < 1e-6,
      sOut.mkString(","))
    assert(math.abs(byC(1L).getAs[Double]("skl_term") - term(12, 0)) < 1e-6,
      sOut.mkString(","))
    assert(byC(0L).getAs[Long]("n_train") == 0L &&
      byC(0L).getAs[Long]("n_eval") == 12L, sOut.mkString(","))
    intercept[IllegalArgumentException] {
      Similarity.clusterDivergence(bdf, "embedding", "vec_id", holdMod = 1L) }
  }

  test("semanticDedup: null vectors survive unclustered; empty input returns the empty frame") {
    val vecs = Seq((1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, "embedding", "vec_id", k = 2, tau = 0.4)
      .orderBy("vec_id").collect()
    assert(out(1).isNullAt(1) && out(1).getBoolean(2),
      "a null vector must pass through with null cluster and keep=true")
    assert(!out(0).isNullAt(1) && !out(2).isNullAt(1))
    val empty = Similarity.semanticDedup(vecs.where(lit(false)), "embedding", "vec_id", k = 2)
    assert(empty.columns.toSeq == Seq("vec_id", "cluster_id", "keep") && empty.count() == 0)
  }

  test("bpeTrain: the classic low/lower corpus learns the textbook merges, then stops") {
    // words: low×3 lower×2 newest×1. Pair counts round 1: (l,o)=5 and
    // (o,w)=5 tie → lexicographic tie-break picks (l,o); then (lo,w)=5;
    // then (e,r)=2 beats (low,e)=2 lexicographically; then (low,er)=2;
    // every remaining pair is unique (support < 2) → early stop at 4
    // merges even though 8 were requested.
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, "text", merges = 8)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "l", "o", 5L), (2L, "lo", "w", 5L),
      (3L, "e", "r", 2L), (4L, "low", "er", 2L)),
      s"merge table mismatch: ${got.toSeq}")
    // degenerate: corpus of 1-char words has no pairs at all
    val none = TextAnalysis.bpeTrain(
      Seq((1L, "a b a")).toDF("doc_id", "text"), "text", merges = 4)
    assert(none.count() == 0)
  }

  test("kmvOverlap: exact below k, estimator within contract above k") {
    // below k the merged sketch IS the union: estimate must be EXACT
    val small = ((1 to 20).map(i => ("A", i)) ++ (11 to 30).map(i => ("B", i)))
      .toDF("set_id", "elem")
    val s = Sketches.kmvOverlap(small, "set_id", "elem", k = 64).head()
    assert(s.getAs[Double]("est_intersection") == 10.0 &&
      s.getAs[Long]("exact_intersection") == 10L && s.getAs[Boolean]("ok"),
      s"below-k path must be exact, got $s")
    // estimation regime: 2000-element sets, 1000 shared, k=128 — the
    // estimator must land inside the 50% contract
    val big = ((1 to 2000).map(i => ("A", i)) ++ (1001 to 3000).map(i => ("B", i)))
      .toDF("set_id", "elem")
    val b = Sketches.kmvOverlap(big, "set_id", "elem", k = 128).head()
    assert(b.getAs[Long]("exact_intersection") == 1000L && b.getAs[Boolean]("ok"),
      s"estimation-regime contract violated: $b")
  }

  test("cohortRetention: first-activity cohorts, exact offset grid") {
    def ts(day: Long, h: Long = 5) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(day * 86400 + h * 3600))
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)), (1L, ts(1, 9)), // active days 0,1 (dup within day)
      (2L, ts(0)),                              // day 0 only
      (3L, ts(1)), (3L, ts(2))                  // cohort day 1, active 1,2
    ).toDF("user_id", "ts")
    val got = Relational.cohortRetention(ev, "user_id", "ts", bucketSec = 86400L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L),
      s"retention grid mismatch: $got")
  }

  test("mergeSessions ≡ full re-sessionization; a new event bridges stored sessions") {
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    // history: user 1 has two sessions [0,10] and [1500,1510] (gap 1000);
    // user 2 one session; user 3 untouched by the batch
    val history = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(1500)), (1L, ts(1510)),
      (2L, ts(100)), (3L, ts(7))).toDF("user_id", "ts")
    val stored = Relational.sessionize(history, Seq("user_id"), "ts", gapSec = 1000)
    // the batch: an event at t=800 is within the gap of BOTH stored
    // sessions and BRIDGES them; user 2 gains a separate later session
    val batch = Seq((1L, ts(800)), (2L, ts(9999))).toDF("user_id", "ts")
    val incremental = Relational.mergeSessions(stored, batch,
        Seq("user_id"), "ts", gapSec = 1000)
      .orderBy("user_id", "session_id").collect()
    val full = Relational.sessionize(history.unionByName(batch),
        Seq("user_id"), "ts", gapSec = 1000)
      .select("user_id", "session_id", "n_events", "start_us", "end_us", "duration_us")
      .orderBy("user_id", "session_id").collect()
    assert(incremental.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
      s"incremental ${incremental.toSeq} != full ${full.toSeq}")
    // and the bridge really happened: user 1 has ONE session of 5 events
    val u1 = incremental.filter(_.getLong(0) == 1L)
    assert(u1.length == 1 && u1(0).getAs[Long]("n_events") == 5L &&
      u1(0).getAs[Long]("start_us") == 0L &&
      u1(0).getAs[Long]("end_us") == 1510000000L)
  }

  test("pageRank: exact integer replica on a path graph; hub outranks leaves; id guard") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.pageRank(pairs, iters = 2).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact replica of the integer contract: N=3, scale 1e9, damping 85/100
    val S = 1000000000L; val n = 3L; val base = S * 15L / (100L * n)
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    var r = Map(1L -> S / n, 2L -> S / n, 3L -> S / n)
    for (_ <- 1 to 2) {
      val contrib = Map(
        1L -> r(2L) / deg(2L),
        2L -> (r(1L) / deg(1L) + r(3L) / deg(3L)),
        3L -> r(2L) / deg(2L))
      r = contrib.map { case (k, s) => k -> (base + s * 85L / 100L) }
    }
    assert(got == r.map { case (k, v) => k -> v.toDouble / S },
      s"integer-contract mismatch: got $got expected $r")
    assert(got(1L) == got(3L) && got(2L) > got(1L),
      "the hub must outrank the symmetric leaves")
    val e = intercept[IllegalArgumentException] {
      Dedup.pageRank(Seq(("a", "b")).toDF("id_a", "id_b"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("pipeline composition: quality gate before dedup, dedup before split") {
    // 60 distinct tokens → passes every quality rule; "bad" fails n_words
    val good = (0 until 60).map(i => s"tok$i").mkString(" ")
    val goodDup = good + " extraone" // near-dup of good (J ≈ 0.97)
    val docs = Seq(
      (1L, good), (2L, good), // exact dups — 1 survives
      (3L, goodDup),          // near-dup — canonicalize folds into 1's cluster
      (4L, "bad"),            // fails the quality gate
      (5L, (0 until 55).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val keep = TextAnalysis.qualityRules(docs, "text", "doc_id",
      minWords = 50, maxWords = 100000, minMeanWordLen = 3.0,
      maxMeanWordLen = 10.0, minUniqueRatio = 0.4)
      .where(col("keep")).select("doc_id")
    val clean = docs.join(keep, "doc_id")
    val ed = clean.join(
      Dedup.exactDedup(clean, "text", "doc_id").select("doc_id"), "doc_id")
    val pairs = Dedup.jaccardSimilarityJoin(ed, "text", "doc_id",
      shingleN = 3, threshold = 0.8)
    val out = Dedup.canonicalize(ed, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 5L),
      s"expected {1 (exact+near dups folded), 5}, got $out")
  }

  test("sourceDivergence: corpus-matching strata score 0, divergent strata score ln-ratio") {
    val docs = Seq(
      (1L, "A", "x x y y"), (2L, "B", "x x y y"), (3L, "C", "z z z z")
    ).toDF("doc_id", "src", "text")
    val out = TextAnalysis.sourceDivergence(docs, "text", "src")
      .orderBy("stratum").collect()
    // corpus = 4x 4y 4z. A and B: p=(.5,.5) vs corpus (1/3,1/3) →
    // kl = ln(1.5) exactly at µnat quantization; C: ln(3)
    val ln15 = math.round(math.log(1.5) * 1e6) * 4.0 / 4e6
    val ln3 = math.round(math.log(3.0) * 1e6) * 4.0 / 4e6
    assert(out.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    assert(out(0).getAs[Double]("kl_nats") == ln15 &&
      out(1).getAs[Double]("kl_nats") == ln15 &&
      out(2).getAs[Double]("kl_nats") == ln3,
      s"closed-form KL mismatch: ${out.toSeq}")
    assert(out.forall(_.getAs[Long]("n_tokens") == 4L))
  }

  test("bpeTokenize: the learned tokenizer compresses seen words to single pieces") {
    // after the 4 learned merges (see bpeTrain spec), low → [low] and
    // lower → [low,er] → [lower]; newest never merges (all pairs unique)
    // and stays 6 chars
    val docs = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTokenize(docs, "text", "doc_id", merges = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_words") == 6L &&
      out(0).getAs[Long]("n_pieces") == 3L + 2L + 6L,
      s"expected 11 pieces for doc 1, got ${out(0)}")
    assert(out(1).getAs[Long]("n_words") == 0L &&
      out(1).getAs[Long]("n_pieces") == 0L,
      "an empty doc must come back 0/0, not vanish")
  }

  test("canonicalizeBest keeps the highest-score copy; singletons untouched; ties to low id") {
    val docs = Seq(
      (1L, "a b c d e f g h", 8L),    // near-dup of 2, shorter
      (2L, "a b c d e f g h i", 9L),  // longer — must survive over 1
      (3L, "z y x w v u t s", 8L),    // singleton
      (4L, "p q r s t u v w", 8L),    // near-dup of 5, same score → low id wins
      (5L, "p q r s t u v w", 8L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id",
      shingleN = 3, threshold = 0.7)
    val kept = Dedup.canonicalizeBest(docs, pairs, "doc_id", "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L),
      s"expected best-copy survivors {2,3,4}, got $kept")
    // contrast: min-id policy keeps 1, not 2
    val minId = Dedup.canonicalize(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 3L, 4L))
  }

  test("lineDedup drops corpus-hot lines from every doc, preserves order, keeps empty docs") {
    val boiler = "all rights reserved"
    val docs = Seq(
      (1L, s"alpha\n$boiler\nbeta"),
      (2L, s"$boiler\ngamma"),
      (3L, s"delta\n$boiler"),
      (4L, boiler), // ONLY boilerplate → must come back empty, not vanish
      (5L, "unique one\nunique two")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(docs, "text", "doc_id", minDf = 3L)
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    assert(out(0).getAs[String]("text_clean") == "alpha\nbeta" &&
      out(0).getAs[Long]("n_removed") == 1L)
    assert(out(1).getAs[String]("text_clean") == "gamma")
    assert(out(2).getAs[String]("text_clean") == "delta")
    assert(out(3).getAs[String]("text_clean") == "" &&
      out(3).getAs[Long]("n_removed") == 1L)
    assert(out(4).getAs[String]("text_clean") == "unique one\nunique two" &&
      out(4).getAs[Long]("n_removed") == 0L)
  }

  test("funnel: earliest-anchor chains, missing/out-of-window/out-of-order steps") {
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val ev = Seq(
      // user 1 completes in order within the window
      (1L, "signup", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // user 2: click BEFORE the signup anchor never counts
      (2L, "click", ts(5)), (2L, "signup", ts(10)),
      // user 3: purchase outside the window of the anchor
      (3L, "signup", ts(0)), (3L, "click", ts(10)), (3L, "purchase", ts(5000)),
      // user 4: no signup anchor → absent from the funnel
      (4L, "click", ts(0)), (4L, "purchase", ts(10))
    ).toDF("user_id", "event_type", "ts")
    val out = Relational.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"), withinSec = 100L)
      .orderBy("user_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getAs[Long]("funnel_level") == 3L &&
      out(0).getAs[Long]("t3") == 20000000L)
    assert(out(1).getAs[Long]("funnel_level") == 1L,
      "a step preceding the anchor must not complete the funnel")
    assert(out(2).getAs[Long]("funnel_level") == 2L,
      "a step outside the anchor window must not count")
  }

  test("weightedSample: dominant weight always drawn, proportionality holds, bad weights fail fast") {
    val docs = (1L to 1000L).map(i => (i, if (i <= 100) 900L else 1L))
      .toDF("doc_id", "w")
    // ln(u)/w → 0⁻ as w grows: a row with overwhelming weight is a
    // near-certain draw — the 100 ids with w=900 hold ~99% of the total
    // weight, so a k=100 sample should be nearly all of them
    val got = TextAnalysis.weightedSample(docs, "doc_id", "w", k = 100)
      .collect().map(_.getLong(0))
    val heavy = got.count(_ <= 100L)
    assert(heavy >= 90, s"expected the heavy stratum to dominate, got $heavy/100")
    // deterministic: the same draw twice, element-for-element
    val again = TextAnalysis.weightedSample(docs, "doc_id", "w", k = 100)
      .collect().map(_.getLong(0))
    assert(got.toSeq == again.toSeq)
    // non-positive weight is an error, not a silent skew
    val bad = Seq((1L, 0L)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      TextAnalysis.weightedSample(bad, "doc_id", "w", k = 1).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("non-positive weight"))
  }

  test("PQ: zero-quantization-error closed form — ADC equals exact L2 squared") {
    // 4 vectors, m=2 subspaces of dim 2, ksub=4: the seeds ARE the data,
    // so every subvector is a codebook centroid and reconstruction is
    // exact — ADC distances must equal the true L2² to the query
    val vs = Seq(
      (1L, Seq(0.0, 0.0, 1.0, 1.0)), (2L, Seq(1.0, 0.0, 0.0, 1.0)),
      (3L, Seq(0.0, 1.0, 1.0, 0.0)), (4L, Seq(2.0, 2.0, 2.0, 2.0)))
      .toDF("vec_id", "v")
    val book = Similarity.pqTrain(vs, "v", "vec_id", m = 2, ksub = 4, iters = 1)
    val enc = Similarity.pqEncode(vs, "v", "vec_id", book, m = 2, ksub = 4)
    val q = Seq(0.0, 0.0, 1.0, 1.0) // = vector 1
    val got = Similarity.pqSearch(enc, book, m = 2, ksub = 4, q, queryId = 1L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def l2sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = Seq(2L -> Seq(1.0, 0.0, 0.0, 1.0), 3L -> Seq(0.0, 1.0, 1.0, 0.0),
      4L -> Seq(2.0, 2.0, 2.0, 2.0)).toMap
    expect.foreach { case (id, vec) =>
      assert(math.abs(got(id) - l2sq(q, vec)) < 1e-12,
        s"ADC for $id: ${got(id)} != exact ${l2sq(q, vec)}")
    }
    // training is deterministic: identical codebook on a re-run
    val again = Similarity.pqTrain(vs, "v", "vec_id", m = 2, ksub = 4, iters = 1)
    assert(book.toSeq == again.toSeq)
    // a vector with a NULL ELEMENT must not poison training (its null
    // assignment codes would unbox to 0 and overwrite code-0 centroids):
    // same codebook with the bad row present, and it encodes to null
    val withBad = vs.unionByName(
      Seq((5L, Seq[Option[Double]](Some(9.0), None, Some(9.0), Some(9.0))))
        .toDF("vec_id", "v").select(col("vec_id"),
          col("v").cast("array<double>").as("v")))
    val bookBad = Similarity.pqTrain(withBad, "v", "vec_id", m = 2, ksub = 4, iters = 1)
    assert(bookBad.toSeq == book.toSeq,
      "a null-element vector must be excluded from codebook training")
    val encBad = Similarity.pqEncode(withBad, "v", "vec_id", bookBad, m = 2, ksub = 4)
    assert(encBad.where(col("vec_id") === 5L).head.isNullAt(1),
      "null-element vectors must encode to null codes")
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(vs, "v", "vec_id", m = 3, ksub = 4) // 4 % 3 != 0
    }
  }

  test("PQ: recall against brute-force L2 on the real embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (m, ksub) = (16, 16)
    val book = Similarity.pqTrain(emb, "embedding", "vec_id", m, ksub, iters = 4)
    val enc = Similarity.pqEncode(emb, "embedding", "vec_id", book, m, ksub)
    val qRow = emb.where(col("vec_id") === 0L)
      .select(Similarity.toDoubleVec(col("embedding"))).collect().head.getSeq[Double](0)
    val pq = Similarity.pqSearch(enc, book, m, ksub, qRow, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    // brute-force exact L2 top-10
    val withD = emb.where(col("vec_id") =!= 0L)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("qv", typedlit(qRow))
      .withColumn("d2",
        Similarity.dot(col("v"), col("v")) - lit(2.0) * Similarity.dot(col("v"), col("qv"))
          + lit(qRow.map(x => x * x).sum))
      .orderBy(col("d2"), col("vec_id")).limit(10)
    val exact = withD.collect().map(_.getLong(0)).toSet
    // pure ADC: quantization-error-limited (deterministic 0.5 here)
    val recall = (pq & exact).size / 10.0
    assert(recall >= 0.4, s"PQ ADC recall@10 too low: $recall (pq=$pq exact=$exact)")
    // shortlist-100 exact re-rank: the production config — near-total recall
    val vecs = emb.select(col("vec_id"), col("embedding").as("v"))
    val rr = Similarity.pqSearch(enc, book, m, ksub, qRow, queryId = 0L, k = 10,
      rerank = 100, vectors = Some(vecs)).collect().map(_.getLong(0)).toSet
    val rrRecall = (rr & exact).size / 10.0
    assert(rrRecall >= 0.8, s"re-ranked recall@10 too low: $rrRecall (rr=$rr exact=$exact)")
    // codes really are m small ints
    val c = enc.where(col("codes").isNotNull).select("codes").head.getSeq[Int](0)
    assert(c.length == m && c.forall(x => x >= 0 && x < ksub))
    intercept[IllegalArgumentException] {
      Similarity.pqSearch(enc, book, m, ksub, qRow, 0L, k = 10, rerank = 5)
    }
  }

  test("cmsHeavyHitters: exact on a wide grid, one-sided under forced collisions") {
    val df = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      (1 to 10).map(i => s"x$i")).toDF("item")
    // wide grid: 13 distinct items over 1024 buckets × 4 rows — min over
    // rows kills any single collision, estimates are exact
    val wide = Sketches.cmsHeavyHitters(df, "item", topK = 3).collect()
    assert(wide.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 50L, 50L), ("b", 30L, 30L), ("c", 20L, 20L)))
    assert(wide.forall(r => r.getBoolean(3) && r.getBoolean(4)))
    // width 2, depth 1: items MUST collide; estimates only ever overcount
    val tiny = Sketches.cmsHeavyHitters(df, "item", topK = 13,
      depth = 1, width = 2).collect()
    assert(tiny.forall(_.getBoolean(3)), "CMS must never undercount")
    assert(tiny.exists(r => r.getLong(2) > r.getLong(1)),
      "a 2-bucket grid over 13 items must show collision overcount")
    // the two buckets partition the stream: each estimate is its bucket's mass
    assert(tiny.map(_.getLong(2)).distinct.sorted.toSeq.size <= 2)
    intercept[IllegalArgumentException] {
      Sketches.cmsHeavyHitters(df, "item", topK = 0)
    }
  }

  test("scd2Merge: closed-form chain, idempotent replay, untouched keys pass through") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: gold@10, gold@20 (repeat — compressed), silver@30, silver@40
    // user 2: bronze@15 only
    val b1 = Seq((1L, "gold", ts(10)), (1L, "gold", ts(20)), (2L, "bronze", ts(15)))
      .toDF("user_id", "tier", "ts")
    val b2 = Seq((1L, "silver", ts(30)), (1L, "silver", ts(40)))
      .toDF("user_id", "tier", "ts")
    val stored = Relational.scd2Init(b1, Seq("user_id"), Seq("tier"), "ts")
    assert(stored.count() == 2) // gold run compressed, bronze open
    val merged = Relational.scd2Merge(stored, b2, Seq("user_id"), Seq("tier"), "ts")
    val rows = merged.orderBy("user_id", "eff_from_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, "gold", 10000000L, 30000000L),   // closed by the silver version
      (1L, "silver", 30000000L, -1L),        // open; the @40 repeat compressed
      (2L, "bronze", 15000000L, -1L)))       // untouched key passes through
    // idempotent: replaying batch 2 changes nothing
    val replay = Relational.scd2Merge(merged, b2, Seq("user_id"), Seq("tier"), "ts")
      .orderBy("user_id", "eff_from_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(replay.toSeq == rows.toSeq)
    // incremental ≡ full for time-ordered batches
    val full = Relational.scd2Init(b1.unionByName(b2), Seq("user_id"), Seq("tier"), "ts")
      .orderBy("user_id", "eff_from_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(full.toSeq == rows.toSeq)
    intercept[IllegalArgumentException] {
      Relational.scd2Merge(stored, b2, Seq("user_id"), Seq(), "ts")
    }
  }

  test("histogramBy: closed-form buckets, dense zero bins, degenerate group, max capped") {
    val df = (Seq.tabulate(11)(i => ("a", i.toDouble)) ++ Seq(("b", 7.0), ("b", 7.0)))
      .toDF("g", "v")
    val h = Relational.histogramBy(df, Seq("g"), "v", bins = 5)
      .orderBy("g", "bin").collect()
    // group a: 0..10, width 2 → counts 2,2,2,2,3 (10 capped into bin 4)
    val a = h.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(4)).toSeq == Seq(2L, 2L, 2L, 2L, 3L))
    assert(a.map(r => (r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq((0.0, 2.0), (2.0, 4.0), (4.0, 6.0), (6.0, 8.0), (8.0, 10.0)))
    // degenerate group b (max == min): all mass in bin 0, bins still dense
    val b = h.filter(_.getString(0) == "b")
    assert(b.length == 5 && b.head.getLong(4) == 2L && b.tail.forall(_.getLong(4) == 0L))
    intercept[IllegalArgumentException] {
      Relational.histogramBy(df, Seq("g"), "v", bins = 0)
    }
  }

  test("madOutliers: closed-form flag, MAD-zero group flags nothing, approx path agrees") {
    val df = (Seq(0.0, 10.0, 20.0, 30.0, 1000.0).map(("t", _)) ++
      Seq(1.0, 1.0, 1.0, 1.0, 100.0).map(("z", _)))
      .toDF("g", "v").withColumn("id", monotonically_increasing_id())
    val out = Relational.madOutliers(df, Seq("g"), "v", k = 3.0)
    val rows = out.select("g", "v", "med", "mad", "robust_z").collect()
    // group t: med 20, devs {20,10,0,10,980}, MAD 10 → only 1000 clears
    // 3·1.4826·10 = 44.478; robust_z = 980/14.826
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "t" && r.getDouble(1) == 1000.0)
    assert(r.getDouble(2) == 20.0 && r.getDouble(3) == 10.0)
    assert(math.abs(r.getDouble(4) - 980.0 / 14.826) < 1e-6)
    // group z has MAD 0 (median of devs {0,0,0,0,99}) → guarded, no flags
    // even though 100 is wildly off-median
    val approx = Relational.madOutliers(df, Seq("g"), "v", k = 3.0,
      approxAccuracy = Some(10000)).select("g", "v").collect()
    assert(approx.map(x => (x.getString(0), x.getDouble(1))).toSeq ==
      Seq(("t", 1000.0)))
  }

  test("importanceResample: target-like docs dominate the draw, deterministic, fail-fast") {
    // two sub-languages with disjoint vocabularies: targets speak
    // "alpha beta gamma", the rest "zeta eta theta"; a doc's bucket
    // profile then fully determines which model it resembles
    val docs = (1L to 400L).map { i =>
      val target = i <= 100
      val text = if (target) "alpha beta gamma alpha beta" else "zeta eta theta zeta eta"
      (i, text, target)
    }.toDF("doc_id", "text", "is_t")
    val got = TextAnalysis.importanceResample(docs, "text", "doc_id",
      isTarget = col("is_t"), sampleN = 80, buckets = 512)
    val rows = got.collect()
    assert(rows.length == 80)
    // target-vocabulary docs carry logw = Σ ln ratios ≫ non-target docs
    // (which are penalized by the same construction); even with Gumbel
    // noise the draw should be overwhelmingly target-like. Target-text
    // docs are 100 of 400 but should fill most of the 80 slots.
    val targetIds = rows.map(_.getLong(0)).count(_ <= 100L)
    assert(targetIds >= 70, s"expected target-like docs to dominate, got $targetIds/80")
    // per-doc weight sign sanity: selected target docs have positive logw
    val posW = rows.filter(_.getLong(0) <= 100L).map(_.getDouble(2))
    assert(posW.forall(_ > 0.0), "target-doc log-ratio weights should be positive")
    // deterministic end to end
    val again = TextAnalysis.importanceResample(docs, "text", "doc_id",
      isTarget = col("is_t"), sampleN = 80, buckets = 512).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceResample(docs, "text", "doc_id", col("is_t"), sampleN = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceResample(docs, "text", "doc_id", col("is_t"), sampleN = 1, buckets = 0)
    }
  }

  test("collocations: exact PMI closed form, minCount floor, tie-break") {
    val docs = ((1L to 10L).map(i => (i, "new york")) ++
      (11L to 20L).map(i => (i, "a b"))).toDF("doc_id", "text")
    // 20 bigrams total: 10 (new,york) + 10 (a,b); both have
    // pmi = ln(20·10/(10·10)) = ln 2; ties order by bigram string
    val out = TextAnalysis.collocations(docs, "text", "doc_id",
      minCount = 5L, topK = 20).collect()
    val ln2 = math.round(math.log(2.0) * 1e6) / 1e6
    assert(out.map(_.getString(0)).toSeq == Seq("a b", "new york"))
    assert(out.forall(r => r.getLong(1) == 10L && r.getDouble(2) == ln2),
      s"closed-form PMI mismatch: ${out.toSeq}")
    // a pair under the support floor disappears
    val floored = TextAnalysis.collocations(docs, "text", "doc_id",
      minCount = 11L, topK = 20)
    assert(floored.count() == 0)
  }

  test("profile: per-column nulls/distinct/min-max across type families") {
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val df = Seq(
      (1L, Some(2.5), "b", Some(ts(100)), Some(true)),
      (2L, None, "a", Some(ts(50)), Some(false)),
      (3L, Some(2.5), null.asInstanceOf[String], None, None)
    ).toDF("id", "x", "s", "t", "flag")
    val p = Relational.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("id", "x", "s", "t", "flag"))
    assert(p.values.forall(_.getLong(1) == 3L), "n_rows on every row")
    val x = p("x")
    assert(x.getLong(2) == 1L && x.getLong(3) == 1L &&
      x.getDouble(4) == 2.5 && x.getDouble(5) == 2.5 && x.isNullAt(6))
    val s = p("s")
    assert(s.getLong(2) == 1L && s.getLong(3) == 2L &&
      s.isNullAt(4) && s.getString(6) == "a" && s.getString(7) == "b")
    val t0 = p("t")
    assert(t0.getLong(2) == 1L && t0.getDouble(4) == 50e6 && t0.getDouble(5) == 100e6,
      "timestamps profile on the epoch-us scale")
    val f = p("flag")
    assert(f.getLong(3) == 2L && f.getDouble(4) == 0.0 && f.getDouble(5) == 1.0)
  }

  test("bm25Search: closed-form scores, rare-term dominance, topK cut") {
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y y"))
      .toDF("doc_id", "text")
    // N=3, avgdl=3; df(x)=2 → idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6)
    val idf = math.round(math.log(1.6) * 1e6) / 1e6
    val out = TextAnalysis.bm25Search(docs, "text", "doc_id", Seq("x"))
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "only x-bearing docs score; higher tf at same-ish dl ranks first")
    val s1 = math.floor(idf * (2.0 * 2.2) / (2.0 + 1.2 * (0.25 + 0.75 * (3.0 / 3.0))) * 1e6) / 1e6
    val s2 = math.floor(idf * (1.0 * 2.2) / (1.0 + 1.2 * (0.25 + 0.75 * (2.0 / 3.0))) * 1e6) / 1e6
    assert(out(0).getAs[Double]("score") == s1 && out(1).getAs[Double]("score") == s2,
      s"fixed-point scores must be exact, got ${out.toSeq}")
    // multi-term: doc 1 matches both terms, its per-term scores sum
    val multi = TextAnalysis.bm25Search(docs, "text", "doc_id", Seq("x", "y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(1L) == 2L && multi(2L) == 1L && multi(3L) == 1L)
    // topK truncates the ranking, not the scoring
    assert(TextAnalysis.bm25Search(docs, "text", "doc_id", Seq("x", "y"), topK = 1)
      .count() == 1)
  }

  test("kmeansAssign: Lloyd rounds actually move the boundary; nulls pass through") {
    // init centroids = ids 0,1 (both near the x-axis). Round 1 sends
    // {1,2,3} to cell 1, whose mean swings toward the y-axis — so round
    // 2 pulls id 1 (an x-axis vector) BACK to cell 0. iters=0 must show
    // the pre-update assignment, proving the iterations are real.
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0.05f, 1f)),
      (4L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    def asg(iters: Int): Map[Long, Any] =
      Similarity.kmeansAssign(vecs, "embedding", "vec_id", k = 2, iters = iters)
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val zero = asg(0)
    assert(zero(0L) == 0L && zero(1L) == 1L && zero(2L) == 1L && zero(3L) == 1L,
      s"iters=0 is the raw lowest-id-centroid assignment, got $zero")
    val two = asg(2)
    assert(two(0L) == 0L && two(1L) == 0L && two(2L) == 1L && two(3L) == 1L,
      s"after 2 Lloyd rounds id 1 must migrate to the x-axis cell, got $two")
    assert(two(4L) == null && zero(4L) == null,
      "null vectors get a null cluster_id")
    // degenerate: every vector null → all-null assignment, no NPE
    val allNull = Similarity.kmeansAssign(
      Seq((7L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"),
      "embedding", "vec_id", k = 2, iters = 1).collect()
    assert(allNull.length == 1 && allNull(0).get(1) == null)
  }

  test("temperatureMix never loses null-stratum rows") {
    val docs = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "a"))
      .toDF("doc_id", "src")
    val out = TextAnalysis.temperatureMix(docs, "src", "doc_id", alpha = 0.5)
    assert(out.count() == 3, "the mixing pass must surface every row")
    // the null stratum is not a topic: kept whole (rate 10⁶)
    val nullRow = out.where(col("src").isNull).head
    assert(nullRow.getAs[Boolean]("keep") && nullRow.getAs[Long]("rate_fp") == 1000000L)
  }

  test("temperatureMix: a tiny NULL stratum must not set c_min and damp every real stratum") {
    // 40 "a" + 20 "b" + 2 unlabeled rows: c_min must be 20 (the smallest
    // REAL stratum), not 2 — else "b" damps to (2/20)^0.5 ≈ 31% and "a"
    // to ~22% from a 2-row artifact
    val docs = ((0 until 40).map(i => (i.toLong, "a")) ++
      (100 until 120).map(i => (i.toLong, "b")) ++
      Seq((200L, null.asInstanceOf[String]), (201L, null.asInstanceOf[String])))
      .toDF("doc_id", "src")
    val rates = TextAnalysis.temperatureMix(docs, "src", "doc_id", alpha = 0.5)
      .groupBy("src").agg(first("rate_fp").as("r")).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(rates(Some("b")) == 1000000L, s"smallest real stratum kept whole: $rates")
    assert(rates(Some("a")) == 707106L, s"dominant stratum damps vs REAL c_min: $rates")
    assert(rates(None) == 1000000L, s"null stratum kept whole: $rates")
  }

  test("semanticDedup: near-dup of a lower-id representative dropped, orthogonal kept") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f, 0f)), // cos≈0.994 to centroid/rep 1 → dropped
      (4L, Array(0f, 0f, 1f, 0f)))     // orthogonal to everything → kept
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, "embedding", "vec_id", k = 2, tau = 0.4)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (0L, true) && out(2L) == (1L, true))
    assert(out(3L)._1 == 0L && !out(3L)._2, "near-dup of rep 1 must be dropped")
    assert(out(4L)._2, "orthogonal vector must survive")
  }

  test("lowestHashSample: deterministic, fraction-bounded, identity at fraction >= 1") {
    val df = spark.range(4000).select(col("id").as("doc_id"))
    def ids(fraction: Double): Set[Long] =
      Similarity.lowestHashSample(df, "doc_id", fraction)
        .collect().map(_.getLong(0)).toSet
    val a = ids(0.25)
    assert(a == ids(0.25), "sample must be deterministic across runs")
    val rate = a.size / 4000.0
    assert(rate > 0.20 && rate < 0.30, s"0.25-sample rate off: $rate")
    // same salt, lower threshold → nested samples (the monotone property
    // that makes fraction a tuning knob, not a reshuffle)
    assert(ids(0.1).subsetOf(a), "0.1-sample must nest inside the 0.25-sample")
    // fraction >= 1 returns the frame untouched — same plan object
    assert(Similarity.lowestHashSample(df, "doc_id", 1.0) eq df)
    // sub-millionth fractions would truncate to an empty sample: loud failure
    intercept[IllegalArgumentException] {
      Similarity.lowestHashSample(df, "doc_id", 1e-7)
    }
    // null ids are excluded below 1.0 (no deterministic address), kept at 1.0
    val withNull = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    assert(Similarity.lowestHashSample(withNull, "doc_id", 0.999999)
      .where(col("doc_id").isNull).count() == 0)
    assert(Similarity.lowestHashSample(withNull, "doc_id", 1.0)
      .where(col("doc_id").isNull).count() == 1)
  }

  test("kmeansAssign: trainFraction=1.0 is bit-identical to the default path; " +
    "sampled training still assigns the full corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def asg(tf: Double): Seq[(Long, Any)] =
      Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 8, iters = 2,
          trainFraction = tf)
        .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.get(1)).toSeq
    val full = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 8, iters = 2)
      .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.get(1)).toSeq
    assert(asg(1.0) == full,
      "trainFraction=1.0 must not change the r4-green q_kmeans result")
    // sampled training: every row still gets an assignment, and the
    // sample-trained centroids still spread rows over many cells
    val sampled = asg(0.25)
    assert(sampled.size == full.size, "assignment must cover the full corpus")
    // per-row null pattern must match: sampled training may move rows
    // BETWEEN cells but must never null-assign a row full training
    // assigns (or vice versa)
    assert(sampled.map { case (id, c) => id -> (c == null) } ==
      full.map { case (id, c) => id -> (c == null) })
    val cells = sampled.map(_._2).distinct.size
    assert(cells >= 4, s"sample-trained k=8 collapsed to $cells cells")
  }

  test("pqTrain: trainFraction=0.25 codebook keeps shortlist-100 rerank recall@10 = 1.0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (m, ksub) = (16, 16)
    val book = Similarity.pqTrain(emb, "embedding", "vec_id", m, ksub, iters = 4,
      trainFraction = 0.25)
    // deterministic: the sampled training replays bit-identically
    assert(book.toSeq == Similarity.pqTrain(emb, "embedding", "vec_id", m, ksub,
      iters = 4, trainFraction = 0.25).toSeq)
    val enc = Similarity.pqEncode(emb, "embedding", "vec_id", book, m, ksub)
    val qRow = emb.where(col("vec_id") === 0L)
      .select(Similarity.toDoubleVec(col("embedding"))).collect().head.getSeq[Double](0)
    val exact = emb.where(col("vec_id") =!= 0L)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("qv", typedlit(qRow))
      .withColumn("d2",
        Similarity.dot(col("v"), col("v")) - lit(2.0) * Similarity.dot(col("v"), col("qv"))
          + lit(qRow.map(x => x * x).sum))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val vecs = emb.select(col("vec_id"), col("embedding").as("v"))
    val rr = Similarity.pqSearch(enc, book, m, ksub, qRow, queryId = 0L, k = 10,
      rerank = 100, vectors = Some(vecs)).collect().map(_.getLong(0)).toSet
    val recall = (rr & exact).size / 10.0
    assert(recall >= 1.0,
      s"sample-trained codebook lost re-rank recall: $recall (rr=$rr exact=$exact)")
  }

  test("knnIvfPq: composed index recall@10 on the real embeddings >= the LSH-indexed baseline") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", s"$dir/idx",
      nCells = 8, m = 16, ksub = 16, iters = 2)
    val qRow = emb.where(col("vec_id") === 0L)
      .select(Similarity.toDoubleVec(col("embedding"))).head.getSeq[Double](0)
    val got = Similarity.knnIvfPq(spark, s"$dir/idx", qRow, queryId = 0L,
      k = 10, nProbe = 4, rerank = 100).collect().map(_.getLong(0)).toSet
    // global exact-L2 ground truth (the metric the probe serves)
    val exactL2 = emb.where(col("vec_id") =!= 0L)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("qv", typedlit(qRow))
      .withColumn("d2",
        Similarity.dot(col("v"), col("v")) - lit(2.0) * Similarity.dot(col("v"), col("qv"))
          + lit(qRow.map(x => x * x).sum))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val ivfRecall = (got & exactL2).size / 10.0
    // the LSH-indexed baseline at its production defaults, scored against
    // ITS metric's ground truth (cosine) — the bar the composed index
    // must clear
    Similarity.writeLshIndex(emb, "embedding", "vec_id", s"$dir/lsh")
    val lshGot = Similarity.knnLshIndexed(s"$dir/lsh", emb, "embedding", "vec_id",
      queryId = 0L, k = 10).collect().map(_.getLong(0)).toSet
    val exactCos = Similarity.knnBrute(emb, "embedding", "vec_id", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val lshRecall = (lshGot & exactCos).size / 10.0
    assert(ivfRecall >= lshRecall,
      s"IVF-PQ recall@10 $ivfRecall below the LSH-indexed baseline $lshRecall")
    assert(ivfRecall >= 0.8, s"IVF-PQ recall@10 too low: $ivfRecall (got=$got)")
  }

  test("writeIvfPqIndex: residual and raw layouts agree under exhaustive re-rank; " +
    "offsetted codes = codes of the subtracted vector") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_res").toString
    Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", s"$dir/res",
      nCells = 8, m = 16, ksub = 16, iters = 2, residual = true)
    Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", s"$dir/raw",
      nCells = 8, m = 16, ksub = 16, iters = 2, residual = false)
    val qRow = emb.where(col("vec_id") === 0L)
      .select(Similarity.toDoubleVec(col("embedding"))).head.getSeq[Double](0)
    // with the shortlist covering every probed row, both layouts reduce to
    // exact L2² within the probed cells — bit-identical results (cells and
    // re-rank don't depend on the code layout)
    def exhaustive(p: String) =
      Similarity.knnIvfPq(spark, p, qRow, queryId = 0L, k = 10,
        nProbe = 4, rerank = 100000).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exhaustive(s"$dir/res") == exhaustive(s"$dir/raw"))
    // the residual layout keeps the production recall bar at a SMALL
    // shortlist (the point of residual encoding: tighter ADC)
    val got = Similarity.knnIvfPq(spark, s"$dir/res", qRow, queryId = 0L,
      k = 10, nProbe = 4, rerank = 50).collect().map(_.getLong(0)).toSet
    val exact = emb.where(col("vec_id") =!= 0L)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("qv", typedlit(qRow))
      .withColumn("d2",
        Similarity.dot(col("v"), col("v")) - lit(2.0) * Similarity.dot(col("v"), col("qv"))
          + lit(qRow.map(x => x * x).sum))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert((got & exact).size / 10.0 >= 0.8,
      s"residual IVF-PQ recall@10 at rerank=50 too low (got=$got exact=$exact)")
    // unit contract of the offset argument: codes(v, offset=o) must equal
    // codes(v − o) with no offset
    import org.apache.spark.sql.graft.GraftFunctions.PqCodesName
    val book = Similarity.pqTrain(emb, "embedding", "vec_id", m = 16, ksub = 16, iters = 1)
    val off = (0 until 64).map(d => 0.125 * ((d % 4) - 1.5))
    val v = emb.select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val a = v.select(col("vec_id"),
        call_function(PqCodesName, col("v"), typedlit(book.toSeq),
          lit(16), lit(16), typedlit(off)).as("c"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    val b = v.select(col("vec_id"),
        call_function(PqCodesName,
          zip_with(col("v"), typedlit(off), (x, y) => x - y),
          typedlit(book.toSeq), lit(16), lit(16)).as("c"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    assert(a.toSeq == b.toSeq, "offsetted codes must equal codes of the subtracted vector")
  }

  test("IVF-PQ drift monitor: drifted appends trip the rebuild, rebuild restores recall") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfdrift").toString + "/idx"
    // base: four degenerate clusters on +axes (residuals exactly zero →
    // the trained codewords are exactly zero). The drifted generation is
    // sixteen FAR clusters (±10 block-sign patterns, amp-0.5 noise):
    // frozen assignment crams them into the four old cells, and against
    // the all-zero codebook every candidate reconstructs to its cell
    // centroid — ADC goes fully blind (ties broken by vec_id), so the
    // pruned shortlist misses the true neighbors. Ids INTERLEAVE
    // (member-major) so the rebuild's first-20-by-id k-means seeds span
    // all twenty natural clusters.
    def noise(i: Int, j: Int): Double = 0.5 * math.sin(i * 7.0 + j * 3.0)
    val base = (for (c <- 0 until 4; i <- 0 until 40) yield
      ((i * 1000 + c).toLong, Array.tabulate(16) { j =>
        (if (j / 4 == c) 10.0 else 0.0).toFloat
      })).toDF("vec_id", "embedding")
    Similarity.writeIvfPqIndex(base, "embedding", "vec_id", dir,
      nCells = 4, m = 4, ksub = 8, iters = 2)
    def recall() = Similarity.ivfPqRecallProbe(spark, dir,
      nQueries = 32, k = 5, nProbe = 2, rerank = 20)
    val healthy = recall()
    assert(healthy >= 0.9, s"healthy index must probe well, got $healthy")
    val (r0, rebuilt0) = Similarity.rebuildIvfPqIndexIfDrifted(spark, dir,
      minRecall = 0.9, nQueries = 32, k = 5, nProbe = 2, rerank = 20)
    assert(!rebuilt0 && r0 == healthy, "healthy index must not rebuild")
    val drifted = (for (g <- 0 until 16; i <- 0 until 40) yield
      ((i * 1000 + 10 + g).toLong, Array.tabulate(16) { j =>
        ((if (((g >> (j / 4)) & 1) == 1) 10.0 else -10.0) + noise(i, j + g)).toFloat
      })).toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfPqIndex(drifted, "embedding", "vec_id", dir))
    val driftedRecall = recall()
    assert(driftedRecall < 0.9,
      s"frozen-quantizer drift must show in the probe, got $driftedRecall")
    // rebuild at a cell count sized to the grown corpus — re-trained
    // centroids separate the twenty clusters, re-trained codewords span
    // the drifted residual scale, recall comes back
    val (r1, rebuilt1) = Similarity.rebuildIvfPqIndexIfDrifted(spark, dir,
      minRecall = 0.9, nQueries = 32, k = 5, nProbe = 2, rerank = 20,
      nCells = 20)
    assert(rebuilt1 && r1 == driftedRecall, "drifted index must rebuild")
    val restored = recall()
    assert(restored >= 0.9 && restored > driftedRecall,
      s"rebuild must restore recall, got $restored (was $driftedRecall)")
    // post-rebuild: single consolidated generation, no rows lost, and a
    // healthy monitor pass leaves it alone
    assert(graft.store.CommitLog(spark, dir).read().committed == Seq("0"))
    assert(spark.read.parquet(s"$dir/vectors").count() == 800)
    val (_, rebuilt2) = Similarity.rebuildIvfPqIndexIfDrifted(spark, dir,
      minRecall = 0.9, nQueries = 32, k = 5, nProbe = 2, rerank = 20)
    assert(!rebuilt2)
  }

  test("appendToIvfPqIndex: committed batches join the probe, torn appends stay " +
    "invisible, replays skip", Stateful) {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    // base corpus: vectors far from the +x axis query direction
    val base = (0 until 128).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 3.0 + j + 2.0).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfPqIndex(base, "embedding", "vec_id", s"$dir/idx",
      nCells = 4, m = 4, ksub = 8, iters = 1)
    val q = (0 until 16).map(j => math.sin(j.toDouble))
    def top1: Long = Similarity.knnIvfPq(spark, s"$dir/idx", q, queryId = -1L,
      k = 1, nProbe = 4, rerank = 1000).head().getLong(0)
    val before = top1
    // the appended batch plants an almost-exact copy of the query
    val planted = Seq((900L,
      (0 until 16).map(j => (math.sin(j.toDouble) * 0.999).toFloat).toArray))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendToIvfPqIndex(planted, "embedding", "vec_id", s"$dir/idx"),
      "first append must commit")
    assert(top1 == 900L, s"probe must see the committed append (was $before)")
    // replay of the same batch id: no-op, no double rows
    assert(!Similarity.appendToIvfPqIndex(planted, "embedding", "vec_id",
      s"$dir/idx", batchId = "1"), "replay must skip")
    val committed = graft.store.CommitLog(spark, s"$dir/idx").read().committed
    assert(committed == Seq("0", "1"), s"unexpected commit set: $committed")
    // torn append: batch directory on disk but no commit marker → invisible
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$dir/idx/vectors/batch=1"),
      fs, new org.apache.hadoop.fs.Path(s"$dir/idx/vectors/batch=torn"),
      false, spark.sparkContext.hadoopConfiguration)
    val n = Similarity.knnIvfPq(spark, s"$dir/idx", q, queryId = -1L,
      k = 5, nProbe = 4, rerank = 1000)
      .where(col("vec_id") === 900L).count()
    assert(n == 1, "a torn (unmarked) batch directory must not double-count rows")
    // a rebuild clears the old generation: no stale batches survive
    Similarity.writeIvfPqIndex(base, "embedding", "vec_id", s"$dir/idx",
      nCells = 4, m = 4, ksub = 8, iters = 1)
    assert(graft.store.CommitLog(spark, s"$dir/idx").read().committed == Seq("0"))
    assert(top1 != 900L, "rebuilt index must not contain the old append")
  }

  test("knnIvfPqBatch ≡ per-query knnIvfPq, one job for the whole query frame") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_batch").toString
    Similarity.writeIvfPqIndex(emb, "embedding", "vec_id", s"$dir/idx",
      nCells = 8, m = 16, ksub = 16, iters = 2)
    val qids = Seq(0L, 1L, 2L)
    // exhaustive shortlist: both paths reduce to exact L2² within each
    // query's probed cells, so equality pins cell ranking + re-rank of
    // the batch plan against the single-query path bit-for-bit
    val batch = Similarity.knnIvfPqBatch(spark, s"$dir/idx",
        emb.where(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        k = 5, nProbe = 3, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- qids) {
      val qv = emb.where(col("vec_id") === qid)
        .select(Similarity.toDoubleVec(col("embedding"))).head.getSeq[Double](0)
      val single = Similarity.knnIvfPq(spark, s"$dir/idx", qv, qid, k = 5,
          nProbe = 3, rerank = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"batch != single for query $qid")
    }
    // production shortlist: the batch plan must agree with the
    // single-query path at the SAME parameters (IVF recall itself —
    // cells missed at low nProbe — is pinned by the single-query specs;
    // one tie-flip is tolerated because the batch path computes the ADC
    // distance as decode+dot, a different floating-point order than the
    // single path's per-query table)
    val prod = Similarity.knnIvfPqBatch(spark, s"$dir/idx",
        emb.where(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (qid <- qids) {
      val qv = emb.where(col("vec_id") === qid)
        .select(Similarity.toDoubleVec(col("embedding"))).head.getSeq[Double](0)
      val single = Similarity.knnIvfPq(spark, s"$dir/idx", qv, qid, k = 5,
          nProbe = 4, rerank = 50)
        .collect().map(_.getLong(0)).toSet
      assert((prod(qid) & single).size >= 4,
        s"batch top-5 diverged from single-query path for $qid: " +
          s"batch=${prod(qid)} single=$single")
    }
  }

  test("incrementalSemanticDedupBatch: index dups dropped, in-batch dups collapsed, " +
    "novel appended, replay identical", Stateful) {
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup_inc").toString
    def unit(xs: Double*): Array[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(x => (x / n).toFloat).toArray
    }
    // base corpus: 3 well-separated unit directions — every batch-vs-
    // index cosine is unambiguous
    val base = Seq(
      (1L, unit(1, 0, 0, 0)), (2L, unit(0, 1, 0, 0)), (3L, unit(0, 0, 1, 0)))
    Similarity.writeIvfPqIndex(base.toDF("vec_id", "embedding"),
      "embedding", "vec_id", s"$dir/idx", nCells = 2, m = 4, ksub = 2, iters = 1)
    // the batch: 100 = near-dup of indexed 1 (dropped via the index),
    // 101+102 = an internal near-dup pair (one survives), 103 = novel
    // (cos 0.5 to every axis, ~0.26 to the 101/102 direction). kBatch=1
    // puts the whole remainder in one cluster so the internal pair is
    // actually compared.
    val batch = Seq(
      (100L, unit(0.999, 0.01, 0, 0)),
      (101L, unit(0, 0.01, 0.02, 0.999)),
      (102L, unit(0, 0.012, 0.02, 0.998)),
      (103L, unit(0.5, 0.5, 0.5, 0.5))).toDF("vec_id", "embedding")
    val s1 = Similarity.incrementalSemanticDedupBatch(spark, s"$dir/idx",
        batch, "embedding", "vec_id", batchId = "b1", tau = 0.95, kBatch = 1)
      .collect().map(_.getLong(0)).toSet
    assert(!s1.contains(100L), "near-dup of an indexed vector must be dropped")
    assert(s1.contains(103L), "novel vector must survive")
    assert((s1 & Set(101L, 102L)).size == 1,
      s"exactly one of the internal near-dup pair survives, got $s1")
    // survivors are served by the index now
    val probe = Similarity.knnIvfPq(spark, s"$dir/idx",
      Seq(0.5, 0.5, 0.5, 0.5), queryId = -1L,
      k = 1, nProbe = 2, rerank = 100).head().getLong(0)
    assert(probe == 103L, s"appended survivor must be probeable, got $probe")
    // replay: same survivor set, no double rows in the index
    val s2 = Similarity.incrementalSemanticDedupBatch(spark, s"$dir/idx",
        batch, "embedding", "vec_id", batchId = "b1", tau = 0.95, kBatch = 1)
      .collect().map(_.getLong(0)).toSet
    assert(s2 == s1, s"replay must return the same survivors: $s2 vs $s1")
    val committed = graft.store.CommitLog(spark, s"$dir/idx").read().committed
    assert(committed == Seq("0", "b1"), s"unexpected commits: $committed")
  }

  test("incrementalSemanticDedupBatch: replay identical even when MUTUAL near-dups " +
    "both survived in-batch dedup", Stateful) {
    // kBatch=2 on a 2-row remainder gives each row its own cluster, so
    // the mutual pair is never compared in-batch and BOTH commit — the
    // replay must not let their committed copies kill each other
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup_rep").toString
    def unit(xs: Double*): Array[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(x => (x / n).toFloat).toArray
    }
    val base = Seq(
      (1L, unit(1, 0, 0, 0)), (2L, unit(0, 1, 0, 0)), (3L, unit(0, 0, 1, 0)))
    Similarity.writeIvfPqIndex(base.toDF("vec_id", "embedding"),
      "embedding", "vec_id", s"$dir/idx", nCells = 2, m = 4, ksub = 2, iters = 1)
    val batch = Seq(
      (201L, unit(0, 0.01, 0.02, 0.999)),
      (202L, unit(0, 0.012, 0.02, 0.998))).toDF("vec_id", "embedding")
    def run(): Set[Long] = Similarity.incrementalSemanticDedupBatch(spark,
        s"$dir/idx", batch, "embedding", "vec_id", batchId = "m1",
        tau = 0.95, kBatch = 2)
      .collect().map(_.getLong(0)).toSet
    val s1 = run()
    assert(s1 == Set(201L, 202L),
      s"kBatch=2 must let the never-compared pair both survive, got $s1")
    assert(run() == s1, "replay must return the identical survivor set")
  }

  test("knnIvfPqBatch: null query vectors are unservable and dropped; wrong dim fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_null").toString
    val df = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 3.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeIvfPqIndex(df, "embedding", "vec_id",
      s"$dir/idx", nCells = 2, m = 4, ksub = 4, iters = 1)
    val qs = Seq(
      (0L, Array.tabulate(8)(j => math.sin(j.toDouble).toFloat)),
      (1L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val got = Similarity.knnIvfPqBatch(spark, s"$dir/idx", qs,
        "vec_id", "embedding", k = 3, nProbe = 2, rerank = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L),
      s"null-vector query must be dropped, not served garbage: $got")
    val wrongDim = Seq((0L, Array.tabulate(16)(j => j.toFloat)))
      .toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.knnIvfPqBatch(spark, s"$dir/idx", wrongDim,
        "vec_id", "embedding", k = 3).collect()
    }
  }

  test("compactIvfPqIndex: probe-identical, batches collapse, appendable after, " +
    "double-compact no-op, replayed consolidated batch still skips", Stateful) {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp").toString
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 3.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfPqIndex(vecs(0 until 64), "embedding", "vec_id",
      s"$dir/idx", nCells = 2, m = 4, ksub = 4, iters = 1)
    assert(Similarity.appendToIvfPqIndex(vecs(100 until 110), "embedding",
      "vec_id", s"$dir/idx", batchId = "a1"))
    assert(Similarity.appendToIvfPqIndex(vecs(200 until 210), "embedding",
      "vec_id", s"$dir/idx", batchId = "a2"))
    val q = (0 until 8).map(j => math.sin(j.toDouble))
    def probe(): Seq[(Long, Double)] =
      Similarity.knnIvfPq(spark, s"$dir/idx", q, queryId = -1L, k = 10,
        nProbe = 2, rerank = 1000).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe()
    assert(Similarity.compactIvfPqIndex(spark, s"$dir/idx") == 3)
    assert(probe() == before, "compaction must be probe-invisible")
    assert(graft.store.CommitLog(spark, s"$dir/idx").read().committed == Seq("c0"))
    // the consolidated dir is the only batch dir left on disk
    val dirs = new java.io.File(s"$dir/idx/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=c0"), s"old batch dirs must be GC'd: $dirs")
    // still appendable; a replay of a CONSOLIDATED batch id still skips
    assert(Similarity.appendToIvfPqIndex(vecs(300 until 305), "embedding",
      "vec_id", s"$dir/idx", batchId = "a3"))
    assert(!Similarity.appendToIvfPqIndex(vecs(100 until 110), "embedding",
      "vec_id", s"$dir/idx", batchId = "a1"),
      "a compacted-away batch id must still read as committed")
    // double compact consolidates the pair, then no-ops
    assert(Similarity.compactIvfPqIndex(spark, s"$dir/idx") == 2)
    assert(Similarity.compactIvfPqIndex(spark, s"$dir/idx") == 0)
    assert(probe() == before, "post-append compaction keeps base rows probeable")
    // TRANSITIVE supersede: after the SECOND compaction the only marker
    // is c1 — it must still carry the first compaction's replaced ids,
    // or replaying a1 here would re-append rows already inside c1
    assert(!Similarity.appendToIvfPqIndex(vecs(100 until 110), "embedding",
      "vec_id", s"$dir/idx", batchId = "a1"),
      "a batch consolidated TWO compactions ago must still read as committed")
    // the compactor's id namespace is reserved: a user append can never
    // collide with the orphan sweep
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(vecs(400 until 405), "embedding",
        "vec_id", s"$dir/idx", batchId = "custom1")
    }
  }

  test("rrfFuse: closed-form integer scores, n_lists counts, total order") {
    // floor(1e6/(60+r)): r=1→16393, 2→16129, 3→15873, 4→15625
    val l1 = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val l2 = Seq((20L, 1L), (10L, 2L), (40L, 3L)).toDF("id", "rank")
    val l3 = Seq((40L, 1L), (50L, 2L)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(l1, l2, l3), "id", "rank", rrfK = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact expectations: 10 → 16393+16129; 20 → 16129+16393; 40 → 15873+16393
    val expect = Seq(
      (10L, 2L, 0.032522), (20L, 2L, 0.032522),
      (40L, 2L, 0.032266), (30L, 1L, 0.015873), (50L, 1L, 0.016129))
      .sortBy(t => (-t._3, t._1))
    assert(out.toSeq == expect, s"got ${out.toSeq}")
  }

  test("rrfFuse null rank contributes zero; bad args fail loudly") {
    val l = Seq((1L, Some(1L)), (2L, None)).toDF("id", "rank")
    val rows = Retrieval.rrfFuse(Seq(l), "id", "rank").collect()
    val out = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 0.016393 && out(2L) == 0.0)
    // a null rank is ABSENT from the list: it must not count in n_lists
    val nl = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nl(1L) == 1L && nl(2L) == 0L,
      s"null-rank appearances must not inflate n_lists: $nl")
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Nil, "id", "rank"))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(l), "id", "rank", topK = 0))
  }

  test("hybridRrf: both-list docs outrank single-list tops; absent ranks stay null") {
    // lex: a=1, b=2; sem: b=1, c=2 → b (16129+16393) > a (16393) > c (16129)
    val lex = Seq(("a", 1L), ("b", 2L)).toDF("id", "lex_rank")
    val sem = Seq(("b", 1L), ("c", 2L)).toDF("id", "sem_rank")
    val out = Retrieval.hybridRrf(lex, sem).collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq("b", "a", "c"))
    assert(out(0) == ("b", Some(2L), Some(1L), 0.032522))
    assert(out(1) == ("a", Some(1L), None, 0.016393))
    assert(out(2) == ("c", None, Some(2L), 0.016129))
  }

  test("hybridSearchRrf: composed ranking agrees with hand-fused component top-ks") {
    val docs = Seq(
      (1L, "spark window dedup spark"), (2L, "spark filler filler filler"),
      (3L, "window only here"), (4L, "nothing relevant at all"),
      (5L, "dup dup dup mentions")).toDF("doc_id", "text")
    // embeddings: query vec 0; 5 is closest, then 1, then 9 (orthogonal-ish)
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f)),
      (5L, Seq(1.0f, 0.01f, 0.0f)), (9L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Retrieval.hybridSearchRrf(docs, "text", "doc_id",
      emb, "embedding", "vec_id",
      queryTerms = Seq("dup", "spark", "window"), queryId = 0L,
      topKEach = 3, rrfK = 60, topK = 10)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
    // hand fusion: lexical ranks from bm25Search, semantic from knnBrute
    val lexRanks = TextAnalysis.bm25Search(docs, "text", "doc_id",
      Seq("dup", "spark", "window"), topK = 3)
      .orderBy(col("score").desc, col("doc_id")).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val semRanks = Similarity.knnBrute(emb, "embedding", "vec_id", 0L, 3)
      .orderBy(round(col("cosine"), 6).desc, col("vec_id")).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    def fp(r: Option[Long]) = r.map(x => math.floor(1e6 / (60.0 + x)).toLong).getOrElse(0L)
    val expect = (lexRanks.keySet ++ semRanks.keySet).toSeq
      .map { id =>
        (id, lexRanks.get(id), semRanks.get(id),
          (fp(lexRanks.get(id)) + fp(semRanks.get(id))).toDouble / 1e6)
      }
      .sortBy(t => (-t._4, t._1))
    assert(out.toSeq == expect, s"got ${out.toSeq}\nexpected $expect")
    // sanity on the construction: both branches actually contributed
    assert(lexRanks.nonEmpty && semRanks.nonEmpty)
    assert(out.exists(r => r._2.isDefined && r._3.isDefined),
      "at least one doc must appear in both lists for the fusion to bind")
  }

  test("mmrRerank: redundancy demoted — near-dup of the top pick loses to a diverse doc") {
    // rel order: 1 (0.99) > 2 (0.98) > 3 (0.50), but 2 is a near-copy of 1
    // (cos ≈ 1) while 3 is orthogonal. λ=0.5: pick 1 first; then
    // 2 scores 0.5·0.98 − 0.5·~1.0 < 3's 0.5·0.50 − 0.5·0 → 3 before 2.
    val sl = Seq(
      (1L, 0.99, Seq(1.0, 0.0)), (2L, 0.98, Seq(1.0, 0.001)),
      (3L, 0.50, Seq(0.0, 1.0)))
      .toDF("id", "rel", "vec")
    val out = Retrieval.mmrRerank(sl, "id", "rel", "vec", lambda = 0.5, topK = 3)
      .orderBy("mmr_rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1L), (3L, 2L), (2L, 3L)), s"got ${out.toSeq}")
  }

  test("mmrRerank: lambda=1 is pure relevance with id tie-break; first pick ignores similarity") {
    val sl = Seq(
      (7L, 0.9, Seq(1.0, 0.0)), (3L, 0.9, Seq(1.0, 0.0)), (5L, 0.1, Seq(0.0, 1.0)))
      .toDF("id", "rel", "vec")
    val out = Retrieval.mmrRerank(sl, "id", "rel", "vec", lambda = 1.0, topK = 3)
      .orderBy("mmr_rank").collect().map(_.getLong(0))
    // equal rel 0.9: id 3 before id 7 (tie on the integer objective)
    assert(out.toSeq == Seq(3L, 7L, 5L), s"got ${out.toSeq}")
  }

  test("mmrRerank guards: oversized shortlist, null rel/vec, mixed dims fail loudly") {
    val big = (1 to 12).map(i => (i.toLong, 1.0 / i, Seq(1.0, 0.0)))
      .toDF("id", "rel", "vec")
    intercept[IllegalArgumentException](
      Retrieval.mmrRerank(big, "id", "rel", "vec", maxShortlist = 10))
    val nullRel = Seq((1L, Option.empty[Double], Some(Seq(1.0)))).toDF("id", "rel", "vec")
    intercept[IllegalArgumentException](
      Retrieval.mmrRerank(nullRel, "id", "rel", "vec"))
    val mixed = Seq((1L, 0.5, Seq(1.0, 0.0)), (2L, 0.4, Seq(1.0)))
      .toDF("id", "rel", "vec")
    intercept[IllegalArgumentException](
      Retrieval.mmrRerank(mixed, "id", "rel", "vec"))
  }

  test("mmrRerank: zero-vector candidate scores NULL after the first pick and sorts last") {
    // a zero vector's cosine is undefined — NULL in the SQL oracle, where
    // MAX skips it and the score goes NULL → NULLS LAST. The operator must
    // replay that: even a heavily-penalized exact dup outranks it.
    val sl = Seq(
      (1L, 0.99, Seq(1.0, 0.0)), // picked first (pure relevance)
      (2L, 0.98, Seq(1.0, 0.0)), // exact dup of 1: defined, deeply negative
      (3L, 0.97, Seq(0.0, 0.0))) // zero vector → NULL score
      .toDF("id", "rel", "vec")
    val out = Retrieval.mmrRerank(sl, "id", "rel", "vec", lambda = 0.5, topK = 3)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      s"got ${out.map(_.getLong(0)).toSeq}")
    assert(out(2).isNullAt(3), "undefined-similarity pick must surface a null mmr_score")
    assert(!out(0).isNullAt(3) && !out(1).isNullAt(3))
  }

  test("tokenBudgetCut: greedy prefix semantics — bucket machinery equals the global sorted cumsum") {
    // mixed shape: distinct buckets, one shared bucket, a null quality
    val docs = Seq(
      (1L, Some(0.9), 10L), (2L, Some(0.8), 10L),
      (3L, Some(0.5), 10L), (4L, Some(0.5), 10L), (5L, Some(0.5), 10L),
      (6L, Option.empty[Double], 5L))
      .toDF("doc_id", "quality", "n_tok")
    def kept(budget: Long): Seq[Long] =
      TextAnalysis.tokenBudgetCut(docs, "quality", "n_tok", "doc_id", budget)
        .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // reference: plain greedy over (quality desc nulls-last, id asc)
    def oracle(budget: Long): Seq[Long] = {
      val order = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L), (6L, 5L))
      var run = 0L
      order.takeWhile { case (_, t) => run += t; run <= budget }.map(_._1).sorted
    }
    for (b <- Seq(0L, 5L, 15L, 25L, 40L, 50L, 55L, 100L))
      assert(kept(b) == oracle(b), s"budget $b: ${kept(b)} vs ${oracle(b)}")
    // boundary bucket binds mid-bucket: budget 45 keeps 3,4 but not 5
    assert(kept(45L) == Seq(1L, 2L, 3L, 4L))
    // null quality is last: kept only once every scored doc fits
    assert(!kept(50L).contains(6L) && kept(55L).contains(6L))
    assert(docs.transform(d =>
      TextAnalysis.tokenBudgetCut(d, "quality", "n_tok", "doc_id", 25L))
      .count() == 6, "the cut labels every row, it never drops rows")
    intercept[IllegalArgumentException](
      TextAnalysis.tokenBudgetCut(docs, "quality", "n_tok", "doc_id", -1L))
  }

  test("tokenBudgetCut: a null token count reads as 0 tokens — labeled, never dropped") {
    // doc2's unique quality makes it its own bucket; a null sum there
    // would turn the boundary predicate NULL and vanish the row from
    // BOTH branches of the union
    val docs = Seq(
      (1L, Some(0.9), Some(10L)),
      (2L, Some(0.7), Option.empty[Long]),
      (3L, Some(0.5), Some(10L)))
      .toDF("doc_id", "quality", "n_tok")
    val out = TextAnalysis.tokenBudgetCut(docs, "quality", "n_tok", "doc_id", 15L)
    assert(out.count() == 3, "the cut labels every row, it never drops rows")
    val keep = out.select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // greedy: doc1 (10 tok) fits, doc2 (0 tok) is free, doc3 would hit 20 > 15
    assert(keep(1L) && keep(2L) && !keep(3L), s"$keep")
  }

  test("leakageSafeSplit: every near-dup cluster lands in ONE split; singletons hash their own id") {
    val docs = (0L to 19L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two components: {0,1,2} (chain) and {7,8}; the rest singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplit(docs, pairs, "doc_id")
    assert(out.count() == 20, "a split pass must never lose documents")
    val bySplit = out.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    val keyOf = bySplit.map(t => t._1 -> t._2).toMap
    val splitOf = bySplit.map(t => t._1 -> t._3).toMap
    // component members share the min-id key AND the split
    assert(Seq(0L, 1L, 2L).map(keyOf).distinct == Seq(0L))
    assert(Seq(0L, 1L, 2L).map(splitOf).distinct.size == 1)
    assert(Seq(7L, 8L).map(keyOf).distinct == Seq(7L))
    assert(Seq(7L, 8L).map(splitOf).distinct.size == 1)
    // singletons keep their own id and match the bare-id split3 hash
    val single = out.where(col("doc_id") === 12L).head()
    assert(single.getLong(2) == 12L)
    val bare = docs.where(col("doc_id") === 12L)
      .select(TextAnalysis.split3(col("doc_id"))).head().getString(0)
    assert(single.getString(3) == bare,
      "singleton split must equal the plain hash split (stable as dups appear elsewhere)")
    intercept[IllegalArgumentException](
      Dedup.leakageSafeSplit(docs, pairs, "doc_id", trainPct = 90, valPct = 20))
  }

  test("leakageSafeSplit tolerates an input that already carries a 'component' column") {
    val docs = (0L to 5L).map(i => (i, i % 2)).toDF("doc_id", "component")
    val pairs = Seq((0L, 1L)).toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplit(docs, pairs, "doc_id")
    assert(out.count() == 6)
    assert(out.columns.count(_ == "component") == 1,
      "the input's own column must survive, unduplicated")
    val keyOf = out.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("split_key")).toMap
    assert(keyOf(0L) == 0L && keyOf(1L) == 0L && keyOf(2L) == 2L)
  }

  test("clusterBalancedSample: dominant latent topic damped, rare kept whole, no row lost") {
    // two tight clusters: 40 docs near (1,0), 10 near (0,1) — k-means
    // with k=2 separates them; α=0.5 keeps the small cluster whole
    // (rate 10⁶) and damps the big one to (10/40)^0.5 = 0.5
    val vecs = ((0 until 40).map(i => (i.toLong, Seq(1.0, 0.001 * i))) ++
      (100 until 110).map(i => (i.toLong, Seq(0.001 * (i - 100), 1.0))))
      .toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(vecs, "embedding", "vec_id",
      k = 2, iters = 2, alpha = 0.5)
    assert(out.count() == 50, "a mixing pass must never lose documents")
    val rates = out.groupBy("cluster_id").agg(
      first("rate_fp").as("rate_fp"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(rates(10L) == 1000000L, s"rare cluster must keep rate 1e6: $rates")
    assert(rates(40L) == 500000L, s"dominant cluster must damp to (10/40)^0.5: $rates")
    // kept fraction of the dominant cluster tracks its rate (hash-uniform)
    val keptBig = out.where(col("keep") && col("rate_fp") === 500000L).count()
    assert(keptBig >= 10 && keptBig <= 30, s"~half of 40 expected, got $keptBig")
    // deterministic: same frame twice, identical draw
    val again = Similarity.clusterBalancedSample(vecs, "embedding", "vec_id",
      k = 2, iters = 2, alpha = 0.5)
    assert(out.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
  }

  test("clusterBalancedSample: null-vector rows form a kept-whole stratum, never damp real clusters") {
    // 40 + 10 real docs plus 3 null embeddings: c_min must come from the
    // 10-doc cluster, not the 3-row null stratum (which would damp the
    // big cluster to (3/40)^0.5 ≈ 27% from pure artifact rows)
    val vecs = ((0 until 40).map(i => (i.toLong, Some(Seq(1.0, 0.001 * i)))) ++
      (100 until 110).map(i => (i.toLong, Some(Seq(0.001 * (i - 100), 1.0)))) ++
      (200 until 203).map(i => (i.toLong, Option.empty[Seq[Double]])))
      .toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(vecs, "embedding", "vec_id",
      k = 2, iters = 2, alpha = 0.5)
    assert(out.count() == 53, "a mixing pass must never lose documents")
    val rates = out.groupBy("cluster_id").agg(
      first("rate_fp").as("rate_fp"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(rates(3L) == 1000000L, s"null stratum kept whole: $rates")
    assert(rates(10L) == 1000000L, s"smallest real cluster kept whole: $rates")
    assert(rates(40L) == 500000L,
      s"dominant cluster damps vs the REAL c_min of 10, not the 3-row artifact: $rates")
  }

  test("correlationMatrix: exact ±1 on linear series, null on zero variance, pairwise alignment") {
    val rows = Seq(
      ("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("B", 1L, 2.0), ("B", 2L, 4.0), ("B", 3L, 6.0), // B = 2·A → r = 1
      ("C", 1L, 3.0), ("C", 2L, 2.0), ("C", 3L, 1.0), // C = 4−A → r = −1
      ("D", 1L, 5.0), ("D", 2L, 5.0), ("D", 3L, 5.0), // constant → null r
      ("E", 1L, 1.0), ("E", 2L, 2.0))                 // only buckets 1–2
    val out = Relational.correlationMatrix(rows.toDF("k", "t", "v"), "k", "t", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(("A", "B")) == ((3L, Some(1.0))), s"${out(("A", "B"))}")
    assert(out(("A", "C")) == ((3L, Some(-1.0))))
    assert(out(("A", "D"))._2.isEmpty, "zero-variance leg must be null, not NaN")
    // pairwise alignment: E correlates over its two shared buckets only
    assert(out(("A", "E")) == ((2L, Some(1.0))))
    // every pair a < b over the 5 keys appears exactly once
    assert(out.size == 10 && out.keys.forall { case (a, b) => a < b })
  }

  test("ledoitWolfCovariance: matches the plain LW formula, complete-case panel, shrink geometry") {
    // 3 series over 4 complete buckets; bucket 5 misses series C → the
    // whole bucket drops (complete-case, NOT pairwise — A and B's t=5
    // values must not contaminate any moment)
    val xs = Map("A" -> Seq(1.0, 2.0, 4.0, 8.0),
      "B" -> Seq(1.0, 3.0, 9.0, 27.0), "C" -> Seq(5.0, 1.0, 6.0, 2.0))
    val rows = xs.toSeq.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case (v, i) => (k, (i + 1).toLong, v) }
    } ++ Seq(("A", 5L, 1000.0), ("B", 5L, -1000.0))
    val out = Relational.ledoitWolfCovariance(rows.toDF("k", "t", "v"),
        "k", "t", "v", scale = 1e6, pairScale = 1e6)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    // diag + upper triangle of 3 keys, n = the 4 complete buckets
    assert(out.size == 6 && out.keys.forall { case (a, b) => a <= b })
    // independent plain-double LW reference (unquantized; quantization
    // error at scale 10⁶ is far below the 1e-4 tolerance)
    val t4 = 4.0
    val cent = xs.map { case (k, vs) =>
      k -> vs.map(_ - vs.sum / t4)
    }
    def covP(a: String, b: String) =
      cent(a).zip(cent(b)).map { case (x, y) => x * y }.sum / t4
    val keys = Seq("A", "B", "C")
    val mu = keys.map(k => covP(k, k)).sum / 3.0
    val pairs = for (a <- keys; b <- keys) yield (a, b)
    val d2 = pairs.map { case (a, b) =>
      val f = covP(a, b) - (if (a == b) mu else 0.0); f * f
    }.sum / 3.0
    val beta0 = pairs.map { case (a, b) =>
      cent(a).zip(cent(b)).map { case (x, y) =>
        val e = x * y - covP(a, b); e * e
      }.sum / t4
    }.sum / (t4 * 3.0)
    val delta = math.min(1.0, beta0 / d2)
    assert(delta > 0.0 && delta < 1.0, s"fixture must shrink strictly, got $delta")
    out.foreach { case ((a, b), (n, cov, shrunk, sh, muOut)) =>
      assert(n == 4L)
      assert(math.abs(cov - covP(a, b)) < 1e-4, s"cov($a,$b): $cov vs ${covP(a, b)}")
      assert(math.abs(sh - delta) < 1e-4, s"shrinkage: $sh vs $delta")
      assert(math.abs(muOut - mu) < 1e-4)
      val want = (1.0 - delta) * covP(a, b) + (if (a == b) delta * mu else 0.0)
      assert(math.abs(shrunk - want) < 1e-4, s"shrunk($a,$b): $shrunk vs $want")
    }
    // off-diagonal entries shrink strictly toward zero
    assert(math.abs(out(("A", "B"))._3) < math.abs(out(("A", "B"))._2))
  }

  test("ledoitWolfConstCorr: matches the plain LW-2003 formula, variances preserved, complete-case") {
    val xs = Map("A" -> Seq(1.0, 2.0, 4.0, 8.0, 3.0),
      "B" -> Seq(1.0, 3.0, 9.0, 27.0, 6.0), "C" -> Seq(5.0, 1.0, 6.0, 2.0, 4.0))
    val rows = xs.toSeq.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case (v, i) => (k, (i + 1).toLong, v) }
    } ++ Seq(("A", 9L, 500.0), ("B", 9L, -500.0)) // incomplete bucket drops
    val out = Relational.ledoitWolfConstCorr(rows.toDF("k", "t", "v"),
        "k", "t", "v", scale = 1e6, pairScale = 1e6, termScale = 1e9)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    assert(out.size == 6 && out.values.forall(_._1 == 5L))
    // plain-double LW-2003 reference
    val t5 = 5.0
    val cent = xs.map { case (k, vs) => k -> vs.map(_ - vs.sum / t5) }
    def s(a: String, b: String) =
      cent(a).zip(cent(b)).map { case (x, y) => x * y }.sum / t5
    val keys = Seq("A", "B", "C")
    val offs = for (a <- keys; b <- keys if a < b) yield (a, b)
    val rbar = offs.map { case (a, b) =>
      s(a, b) / math.sqrt(s(a, a) * s(b, b)) }.sum * 2.0 / (3.0 * 2.0)
    def pi(a: String, b: String) = cent(a).zip(cent(b)).map { case (x, y) =>
      val e = x * y - s(a, b); e * e }.sum / t5
    def th(a: String, b: String) = cent(a).zip(cent(b)).map { case (x, y) =>
      (x * x - s(a, a)) * (x * y - s(a, b)) }.sum / t5
    val piHat = (keys.map(k => pi(k, k)) ++ offs.map { case (a, b) => 2 * pi(a, b) }).sum
    val rhoHat = keys.map(k => pi(k, k)).sum + offs.map { case (a, b) =>
      rbar * (math.sqrt(s(b, b) / s(a, a)) * th(a, b) +
        math.sqrt(s(a, a) / s(b, b)) * th(b, a)) }.sum
    val gamHat = offs.map { case (a, b) =>
      val d = rbar * math.sqrt(s(a, a) * s(b, b)) - s(a, b); 2 * d * d }.sum
    val delta = math.max(0.0, math.min(1.0, (piHat - rhoHat) / gamHat / t5))
    assert(delta > 0.0 && delta < 1.0, s"fixture must shrink strictly, got $delta")
    out.foreach { case ((a, b), (_, cov, shrunk, sh, rb)) =>
      assert(math.abs(cov - s(a, b)) < 1e-4, s"cov($a,$b): $cov vs ${s(a, b)}")
      assert(math.abs(sh - delta) < 1e-4, s"shrinkage: $sh vs $delta")
      assert(math.abs(rb - rbar) < 1e-4, s"r_bar: $rb vs $rbar")
      val f = if (a == b) s(a, a) else rbar * math.sqrt(s(a, a) * s(b, b))
      val want = (1.0 - delta) * s(a, b) + delta * f
      assert(math.abs(shrunk - want) < 1e-4, s"shrunk($a,$b): $shrunk vs $want")
    }
    // the CC target preserves variances exactly: diagonal shrunk == cov
    keys.foreach(k => assert(out((k, k))._2 == out((k, k))._3,
      s"diagonal must not shrink: ${out((k, k))}"))
  }

  test("hurstExponent: matches the plain aggregated-variance reference, trend drops, gaps kill blocks") {
    // deterministic LCG noise — a walk with iid-ish increments
    var seed = 12345L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val walk = Iterator.iterate(100.0)(v => v + nxt()).take(65).toSeq
    val rows = walk.zipWithIndex.map { case (v, t) => ("W", t.toLong, v) } ++
      // pure linear trend: constant increments, zero block variance at
      // every m — every leg drops, the key vanishes from the output
      (0 until 65).map(t => ("T", t.toLong, 2.0 + 0.5 * t)) ++
      // gapped series: bucket 10 missing kills increments 10 and 11
      (0 until 40).filter(_ != 10).map(t => ("G", t.toLong, walk(t)))
    val ms = Seq(1, 2, 4, 8)
    val scale = 1e6
    val out = Relational.hurstExponent(rows.toDF("k", "t", "v"),
        "k", "t", "v", ms, scale)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(!out.keys.exists(_._1 == "T"), "trend legs must all drop")
    // plain reference replicating the quantization pipeline exactly
    def ref(vs: Map[Long, Double]): Map[Int, (Long, Double)] = {
      val q = vs.map { case (t, v) => t -> math.floor(v * scale).toLong }
      val d = q.keys.toSeq.sorted.flatMap(t =>
        q.get(t - 1).map(p => t -> (q(t) - p))).toMap
      ms.flatMap { m =>
        val blocks = d.groupBy { case (t, _) => t / m }
          .collect { case (_, g) if g.size == m => g.values.sum }.toSeq
        val n = blocks.size.toLong
        if (n < 2) None
        else {
          val s1 = blocks.sum.toDouble
          val s2 = blocks.map(b => b.toDouble * b).sum
          val vq = math.floor((n * s2 - s1 * s1) / (n.toDouble * n) /
            (scale * scale) * 1e6).toLong
          if (vq <= 0) None else Some(m -> ((n, vq / 1e6)))
        }
      }.toMap
    }
    def refH(legs: Map[Int, (Long, Double)]): Double = {
      val ts = legs.toSeq.map { case (m, (_, vm)) =>
        val x = math.log(m.toDouble); val y = math.log(vm)
        (math.floor(x * 1e9).toLong, math.floor(y * 1e9).toLong,
          math.floor(x * y * 1e9).toLong, math.floor(x * x * 1e9).toLong)
      }
      val ns = ts.size.toDouble
      val sx = ts.map(_._1).sum.toDouble / 1e9
      val sy = ts.map(_._2).sum.toDouble / 1e9
      val sxy = ts.map(_._3).sum.toDouble / 1e9
      val sxx = ts.map(_._4).sum.toDouble / 1e9
      (ns * sxy - sx * sy) / (ns * sxx - sx * sx) / 2.0
    }
    for ((key, vs) <- Seq(
      "W" -> walk.zipWithIndex.map { case (v, t) => t.toLong -> v }.toMap,
      "G" -> walk.zipWithIndex.take(40).collect {
        case (v, t) if t != 10 => t.toLong -> v }.toMap)) {
      val legs = ref(vs)
      assert(legs.size >= 2, s"$key fixture must keep >= 2 scales")
      val h = refH(legs)
      legs.foreach { case (m, (n, vm)) =>
        val got = out((key, m.toLong))
        assert(got._1 == n, s"$key m=$m n_blocks: ${got._1} vs $n")
        assert(math.abs(got._2 - vm) < 1e-9, s"$key m=$m var: ${got._2} vs $vm")
        assert(got._3 == legs.size.toLong)
        assert(math.abs(got._4.get - h) < 1e-6, s"$key hurst: ${got._4} vs $h")
      }
      // iid-increment walk: H must sit in the random-walk neighborhood
      if (key == "W") assert(h > 0.2 && h < 0.8, s"walk H out of range: $h")
    }
    // the gap kills exactly the blocks containing increments 10 and 11
    assert(out(("G", 1L))._1 == 37L) // 39 slots − increments at t=10,11
  }

  test("arHalfLife: exact AR(1) recovery, reference t-stat agreement, constant-series nulls") {
    // exact AR(1): v_{t+1} = 4 + 0.5·v_t from v_0 = 16 — every value has
    // <= 4 decimal digits so ⌊v·10⁴⌋ is EXACT and the quantized pairs
    // stay perfectly collinear: beta = −0.5 and phi = 0.5 exactly
    val ar = Iterator.iterate(16.0)(v => 4.0 + 0.5 * v).take(8).toSeq
    // AR(0.5) toward 10 with small alternating shocks: phi stays in
    // (0, 1) so the half-life is defined, and SSE > 0 feeds the t path
    val noisy = (0 until 11).scanLeft(14.0)((v, t) =>
      5.0 + 0.5 * v + (if (t % 2 == 0) 0.3 else -0.3))
    val rows = ar.zipWithIndex.map { case (v, t) => ("AR", t.toLong, v) } ++
      (0 until 12).map(t => ("C", t.toLong, 7.0)) ++ // constant: sxx = 0
      noisy.zipWithIndex.map { case (v, t) => ("N", t.toLong, v) }
    val out = Relational.arHalfLife(rows.toDF("k", "t", "v"), "k", "t", "v",
        scale = 1e4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // plain-double reference replicating the operator's fixed tree
    def ref(vs: Seq[Double]): (Option[Double], Option[Double],
                               Option[Double], Option[Double]) = {
      val q = vs.map(v => math.floor(v * 1e4).toLong)
      val pairs = (1 until q.size).map(t => (q(t - 1), q(t) - q(t - 1)))
      val n = pairs.size.toDouble
      val sx = pairs.map(_._1).sum.toDouble
      val sy = pairs.map(_._2).sum.toDouble
      val sxy = pairs.map(p => p._1.toDouble * p._2).sum
      val sxx = pairs.map(p => p._1.toDouble * p._1).sum
      val syy = pairs.map(p => p._2.toDouble * p._2).sum
      val sxxC = n * sxx - sx * sx
      if (sxxC <= 0.0) return (None, None, None, None)
      val beta = (n * sxy - sx * sy) / sxxC
      val alpha = (sy - beta * sx) / n
      val sse = syy - alpha * sy - beta * sxy
      val phi = 1.0 + beta
      val t = if (n >= 3 && sse > 0.0)
        Some(beta / math.sqrt((sse / (n - 2.0)) / (sxxC / n))) else None
      val h = if (phi > 0.0 && phi < 1.0)
        Some(-Relational.Ln2Const / math.log(phi)) else None
      (Some(beta), Some(phi), t, h)
    }
    val (nAr, bAr, pAr, tAr, hAr) = out("AR")
    assert(nAr == 7L && bAr.get == -0.5 && pAr.get == 0.5)
    assert(math.abs(hAr.get - 1.0) < 1e-6, s"phi=0.5 half-life: $hAr")
    val refAr = ref(ar)
    assert(tAr.isEmpty == refAr._3.isEmpty,
      s"AR t-stat presence must match the reference tree: $tAr vs ${refAr._3}")
    val (_, bC, pC, tC, hC) = out("C")
    assert(bC.isEmpty && pC.isEmpty && tC.isEmpty && hC.isEmpty)
    val (bN, pN, tN, hN) = ref(noisy)
    assert(math.abs(out("N")._2.get - bN.get) < 1e-6)
    assert(math.abs(out("N")._3.get - pN.get) < 1e-6)
    assert(math.abs(out("N")._4.get - tN.get) < 1e-6)
    (out("N")._5, hN) match {
      case (Some(g), Some(w)) => assert(math.abs(g - w) < 1e-6)
      case (g, w) => assert(g.isEmpty == w.isEmpty, s"$g vs $w")
    }
    // the noisy series is anti-persistent by construction — the t must
    // reject hard (the ranking-signal reading) and the half-life be short
    assert(tN.get < -3.0 && hN.get < 2.0)
  }

  test("engleGranger: cointegrated pair flags, independent trends don't, reference agreement") {
    // x: a deterministic walk; y = 1 + 2x + stationary alternating noise
    var seed = 777L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val x = Iterator.iterate(50.0)(v => v + nxt()).take(48).toSeq
    val e = (0 until 48).map(t => if (t % 2 == 0) 0.5 else -0.5)
    val y = x.zip(e).map { case (xv, ev) => 1.0 + 2.0 * xv + ev }
    // z: an unrelated deterministic trend (not cointegrated with x)
    val z = (0 until 48).map(t => 200.0 + 3.0 * t + (if (t % 5 == 0) 4.0 else 0.0))
    val rows =
      x.zipWithIndex.map { case (v, t) => ("a_x", t.toLong, v) } ++
      y.zipWithIndex.map { case (v, t) => ("b_y", t.toLong, v) } ++
      z.zipWithIndex.map { case (v, t) => ("c_z", t.toLong, v) }
    val out = Relational.engleGranger(rows.toDF("k", "t", "v"),
        "k", "t", "v", scale = 1e6, residScale = 1e6)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]),
          Option(r.get(6)).map(_.asInstanceOf[Double]),
          Option(r.get(7)).map(_.asInstanceOf[Boolean])))).toMap
    assert(out.size == 3)
    // plain reference replicating the quantization pipeline for (a_x, b_y)
    def refEg(xs: Seq[Double], ys: Seq[Double]): (Double, Double, Double) = {
      val qx = xs.map(v => math.floor(v * 1e6).toLong)
      val qy = ys.map(v => math.floor(v * 1e6).toLong)
      val n = qx.size.toDouble
      val sx = qx.sum.toDouble; val sy = qy.sum.toDouble
      val sxy = qx.zip(qy).map(p => p._1.toDouble * p._2).sum
      val sxx = qx.map(v => v.toDouble * v).sum
      val sxxC = n * sxx - sx * sx
      val beta = (n * sxy - sx * sy) / sxxC
      val alphaq = (sy - beta * sx) / n
      val res = qx.zip(qy).map { case (vx, vy) =>
        math.floor((vy.toDouble - alphaq - beta * vx.toDouble) / 1e6 * 1e6).toLong }
      val dfp = (1 until res.size).map(t => (res(t - 1), res(t) - res(t - 1)))
      val sld = dfp.map(p => p._1.toDouble * p._2).sum
      val sll = dfp.map(p => p._1.toDouble * p._1).sum
      val sdd = dfp.map(p => p._2.toDouble * p._2).sum
      val g = sld / sll
      val sse = sdd - g * sld
      (alphaq / 1e6, beta, g / math.sqrt((sse / (dfp.size - 1.0)) / sll))
    }
    val (refA, refB, refT) = refEg(x, y)
    val (nObs, nDf, a, b, t, flag) = out(("a_x", "b_y"))
    assert(nObs == 48L && nDf == 47L)
    assert(math.abs(a.get - refA) < 1e-6, s"alpha: $a vs $refA")
    assert(math.abs(b.get - refB) < 1e-6, s"beta: $b vs $refB")
    assert(math.abs(t.get - refT) < 1e-6, s"df_stat: $t vs $refT")
    assert(refB > 1.9 && refB < 2.1, s"hedge ratio must sit near 2: $refB")
    assert(refT < Relational.EgCrit5Pct && flag.get,
      s"alternating noise must reject the unit root hard: $refT")
    // independent trend pair: no cointegration call
    val (_, _, _, _, tZ, flagZ) = out(("a_x", "c_z"))
    assert(tZ.isEmpty || tZ.get > Relational.EgCrit5Pct,
      s"independent trends must not flag: $tZ")
    assert(flagZ.forall(!_))
  }

  test("rollingCorr: warm-up nulls, ±1 closed forms, pairwise null exclusion, zero-variance null") {
    import org.apache.spark.sql.expressions.Window
    val rows =
      (1 to 5).map(t => ("up", t.toLong, t.toDouble, Option(2.0 * t))) ++
      (1 to 5).map(t => ("dn", t.toLong, t.toDouble, Option(10.0 - t))) ++
      (1 to 5).map(t => ("fl", t.toLong, t.toDouble, Option(5.0))) ++
      (1 to 5).map(t => ("nn", t.toLong, t.toDouble,
        if (t == 4) Option.empty[Double] else Option(2.0 * t)))
    val w = Window.partitionBy("k").orderBy("t")
    val out = rows.toDF("k", "t", "x", "y")
      .select(col("k"), col("t"),
        graft.functions.windows.rollingCorr(col("x"), col("y"), 3, w).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // pandas min_periods: first n−1 rows null
    assert(out(("up", 1L)).isEmpty && out(("up", 2L)).isEmpty)
    (3 to 5).foreach { t =>
      assert(out(("up", t.toLong)) == Some(1.0), s"up t=$t: ${out(("up", t.toLong))}")
      assert(out(("dn", t.toLong)) == Some(-1.0))
      assert(out(("fl", t.toLong)).isEmpty, "zero-variance window must be null, not NaN")
    }
    // t=4's null y removes the PAIR: every window containing t=4 has
    // only 2 paired rows → below min_periods
    assert(out(("nn", 3L)) == Some(1.0))
    assert(out(("nn", 4L)).isEmpty && out(("nn", 5L)).isEmpty)
    intercept[IllegalArgumentException](
      graft.functions.windows.rollingCorr(col("x"), col("y"), 1, w))
  }

  test("rollingBeta: closed-form hedge ratio, zero-variance benchmark null") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1 to 5).map(t => ("h", t.toLong, 2.0 * t, t.toDouble)) ++
      (1 to 5).map(t => ("z", t.toLong, t.toDouble, 3.0))
    val w = Window.partitionBy("k").orderBy("t")
    val out = rows.toDF("k", "t", "x", "y")
      .select(col("k"), col("t"),
        graft.functions.windows.rollingBeta(col("x"), col("y"), 3, w).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(("h", 1L)).isEmpty && out(("h", 2L)).isEmpty, "warm-up rows null")
    (3 to 5).foreach(t => assert(out(("h", t.toLong)) == Some(2.0)))
    (3 to 5).foreach(t => assert(out(("z", t.toLong)).isEmpty,
      "zero-variance benchmark must be null, not Inf"))
  }

  test("leadLagCorr: a shifted copy peaks at exactly its lag") {
    val vals = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0)
    // series b trails a by one bucket: a's move at t shows up in b at t+1
    val rows = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq(("a", i.toLong, v), ("b", (i + 1).toLong, v)) }
    val out = Relational.leadLagCorr(rows.toDF("k", "t", "v"), "k", "t", "v",
        maxLag = 2)
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out.keySet == Set(-2L, -1L, 0L, 1L, 2L))
    assert(out(1L) == Some(1.0), s"the true lag must peak at exactly 1: $out")
    assert(out.filter(_._1 != 1L).values.forall(_ != Some(1.0)),
      s"no other lag may claim a perfect fit: $out")
    intercept[IllegalArgumentException](
      Relational.leadLagCorr(rows.toDF("k", "t", "v"), "k", "t", "v", maxLag = 0))
  }

  test("purgedTimeSplit: test/purged/embargo/train roles land exactly per fold") {
    // 10 samples at µs 0..9, k=2 → fold0 [0,5), fold1 [5,10);
    // horizon 2 µs, embargo 1 µs
    val df = (0L to 9L).map(i => (i, i)).toDF("id", "t")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = Relational.purgedTimeSplit(df, "id", "ts", k = 2,
        horizonUs = 2L, embargoUs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getString(3)).toMap
    assert(out.size == 20, "one row per sample per fold")
    // fold 0: 0-4 test; 5 embargoed (starts right after the window); 6-9 train
    (0L to 4L).foreach(i => assert(out((i, 0L)) == "test"))
    assert(out((5L, 0L)) == "embargo")
    (6L to 9L).foreach(i => assert(out((i, 0L)) == "train"))
    // fold 1: 5-9 test; 3,4 purged (label interval reaches into the
    // window); 0-2 clean train
    (5L to 9L).foreach(i => assert(out((i, 1L)) == "test"))
    assert(out((3L, 1L)) == "purged" && out((4L, 1L)) == "purged")
    (0L to 2L).foreach(i => assert(out((i, 1L)) == "train"))
    intercept[IllegalArgumentException](
      Relational.purgedTimeSplit(df, "id", "ts", k = 1, horizonUs = 0L))
    // unknown-time samples could overlap any test window — loud, not train
    val nullTs = Seq((1L, Option(1L)), (2L, Option.empty[Long])).toDF("id", "t")
      .withColumn("ts", expr("timestamp_micros(t)"))
    intercept[IllegalArgumentException](
      Relational.purgedTimeSplit(nullTs, "id", "ts", k = 2, horizonUs = 0L))
    // span shorter than k folds → step 0 → every role bogus: loud
    val tiny = Seq((1L, 1L)).toDF("id", "t")
      .withColumn("ts", expr("timestamp_micros(t)"))
    intercept[IllegalArgumentException](
      Relational.purgedTimeSplit(tiny, "id", "ts", k = 2, horizonUs = 0L))
  }

  test("volumeBars: bars close on exact cumulative-volume thresholds") {
    // volumes 3,3,3,3 at threshold 5: exclusive cums 0,3,6,9 → bars 0,0,1,1
    val df = Seq((1L, 10.0, 3.0), (2L, 20.0, 3.0), (3L, 30.0, 3.0), (4L, 40.0, 3.0))
      .map { case (t, p, v) => ("s", t, p, v) }
      .toDF("k", "t", "p", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val out = Resample.volumeBars(df, "ts", "p", "v", "t", Seq("k"), threshold = 5.0)
      .orderBy("bar_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 0L && out(0).getDouble(2) == 10.0 &&
      out(0).getDouble(5) == 20.0 && out(0).getDouble(6) == 6.0 &&
      out(0).getLong(7) == 2L)
    assert(out(1).getLong(1) == 1L && out(1).getDouble(2) == 30.0 &&
      out(1).getDouble(5) == 40.0)
    intercept[IllegalArgumentException](
      Resample.volumeBars(df, "ts", "p", "v", "t", Seq("k"), threshold = 0.0))
  }

  test("MarketIncremental: 3-batch fold equals whole-history volumeBars + tripleBarrier exactly") {
    import graft.operators.MarketIncremental
    // two series with swings big enough to touch both barriers, flats,
    // and horizon windows that straddle the batch cuts
    val ticks = (for { k <- Seq("A", "B"); t <- 1 to 90 } yield {
      val base = if (k == "A") 100.0 + t * 0.5 else 140.0 - t * 0.3
      val p = math.rint((base + 40.0 * math.sin(t / 5.0)) * 100) / 100
      (k, t.toLong, p, 1.0 + t % 3)
    }).toDF("k", "t", "p", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val cfg = MarketIncremental.Cfg(Seq("k"), "ts", "p", "v", "t",
      volThreshold = 7.0, horizonUs = 20L, upPct = 0.15, dnPct = 0.10)
    val batches = Seq(ticks.where(col("t") <= 30),
      ticks.where(col("t") > 30 && col("t") <= 60), ticks.where(col("t") > 60))
    var open = MarketIncremental.emptyBars(spark, cfg)
    var carry = MarketIncremental.emptyCarry(spark, cfg)
    var entries = MarketIncremental.emptyEntries(spark, cfg)
    var closedAcc = MarketIncremental.emptyBars(spark, cfg)
    var finalAcc = MarketIncremental.emptyEntries(spark, cfg)
    var perBatchFinals = List.empty[Long]
    for (b <- batches) {
      val (closed, o2, c2) = MarketIncremental.volumeBarsFold(open, carry, b, cfg)
      open = o2.localCheckpoint(true)
      carry = c2.localCheckpoint(true)
      closedAcc = closedAcc.unionByName(closed).localCheckpoint(true)
      val (finals, e2) = MarketIncremental.tripleBarrierFold(entries, b, carry, cfg)
      entries = e2.localCheckpoint(true)
      finalAcc = finalAcc.unionByName(finals).localCheckpoint(true)
      perBatchFinals :+= finals.count()
    }
    def barKey(r: org.apache.spark.sql.Row) = r.toSeq.mkString("|")
    val wantBars = graft.operators.Resample
      .volumeBars(ticks, "ts", "p", "v", "t", Seq("k"), 7.0)
      .select(col("k"), col("bar_id"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n_ticks"),
        unix_micros(col("open_ts")).as("open_ts_us"),
        unix_micros(col("close_ts")).as("close_ts_us"))
      .collect().map(barKey).sorted.toSeq
    val gotBars = closedAcc.unionByName(open)
      .select(col("k"), col("bar_id"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("n_ticks"),
        col("open_ts_us"), col("close_ts_us"))
      .collect().map(barKey).sorted.toSeq
    assert(gotBars == wantBars, s"incremental bars diverged:\n got ${gotBars.take(3)}\nwant ${wantBars.take(3)}")
    // the frontier really is a frontier: at most one open bar per series,
    // closed bars emitted exactly once
    assert(open.count() <= 2)
    assert(closedAcc.groupBy("k", "bar_id").count().where(col("count") > 1).count() == 0,
      "a closed bar must be emitted exactly once")
    val wantLabels = graft.operators.Labeling
      .tripleBarrier(ticks, Seq("k"), "ts", "p", "t", 20L, 0.15, 0.10)
      .collect().map(barKey).sorted.toSeq
    val gotLabels = MarketIncremental
      .labels(finalAcc.unionByName(entries), cfg)
      .collect().map(barKey).sorted.toSeq
    assert(gotLabels == wantLabels, s"incremental labels diverged:\n got ${gotLabels.take(3)}\nwant ${wantLabels.take(3)}")
    // cross-batch work actually happened: entries finalized in EVERY
    // batch (horizons straddle the cuts) and tail entries stay open
    assert(perBatchFinals.forall(_ > 0), s"finals per batch: $perBatchFinals")
    assert(entries.count() > 0, "tail entries (horizon beyond data) must stay open")
    // the ordering contract trips loudly on out-of-order replays
    val stale = ticks.where(col("t") === 5)
    intercept[Exception] {
      val (c3, _, _) = MarketIncremental.volumeBarsFold(open, carry, stale, cfg)
      c3.count()
    }
    // the volume contract refuses negative (bar-reopening) volumes
    val neg = Seq(("A", 200L, 100.0, -1.0)).toDF("k", "t", "p", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    intercept[Exception] {
      val (c4, _, _) = MarketIncremental.volumeBarsFold(open, carry, neg, cfg)
      c4.count()
    }
  }

  test("MarketIncremental: same-ts cross-batch tie elects endpoints by tiebreak; intra-batch duplicates raise") {
    import graft.operators.MarketIncremental
    val cfg = MarketIncremental.Cfg(Seq("k"), "ts", "p", "v", "tb",
      volThreshold = 1000.0, horizonUs = 10L, upPct = 0.5, dnPct = 0.4)
    def mk(rows: (String, Long, Long, Double, Double)*) =
      rows.toDF("k", "t", "tb", "p", "v")
        .withColumn("ts", expr("timestamp_micros(t)"))
    // batch 1 ends at (ts=5, tb=1, price 10); batch 2 extends the SAME
    // microsecond with a higher tiebreak (the ordering contract allows
    // exactly this) — the bar's close must elect the tb=2 price, which
    // a timestamp-only election would decide by coin flip
    val b1 = mk(("A", 1L, 1L, 20.0, 1.0), ("A", 5L, 1L, 10.0, 1.0))
    val b2 = mk(("A", 5L, 2L, 30.0, 1.0))
    val (_, o1, c1) = MarketIncremental.volumeBarsFold(
      MarketIncremental.emptyBars(spark, cfg),
      MarketIncremental.emptyCarry(spark, cfg), b1, cfg)
    val (_, o2, _) = MarketIncremental.volumeBarsFold(o1, c1, b2, cfg)
    val bar = o2.collect()
    assert(bar.length == 1)
    val r = bar(0)
    assert(r.getAs[Double]("open") == 20.0, "open stays the (ts=1) tick")
    assert(r.getAs[Double]("close") == 30.0,
      "close must elect the same-ts HIGHER-tiebreak extension")
    assert(r.getAs[Long]("close_ts_us") == 5L && r.getAs[Long]("close_tb") == 2L)
    assert(r.getAs[Double]("high") == 30.0 && r.getAs[Double]("low") == 10.0)
    // duplicate (ts_us, tiebreak) WITHIN one batch: loud, not silent
    val dup = mk(("B", 9L, 7L, 10.0, 1.0), ("B", 9L, 7L, 11.0, 1.0))
    intercept[Exception] {
      val (cl, op, _) = MarketIncremental.volumeBarsFold(
        MarketIncremental.emptyBars(spark, cfg),
        MarketIncremental.emptyCarry(spark, cfg), dup, cfg)
      cl.unionByName(op).count()
    }
  }

  /** `body`'s result and the number of jobs the scheduler started while
    * it ran, counted as [[graft.Bench]] counts them. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graft.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.graft.ListenerBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("fold shape: a fold call schedules no more than its carry collect") {
    import graft.operators.MarketIncremental._
    val ticks = (for { k <- Seq("A", "B"); t <- 1 to 40 } yield
      (k, t.toLong, 100.0 + 10.0 * math.sin(t / 3.0), 1.0 + t % 3))
      .toDF("k", "t", "p", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val cfg = Cfg(Seq("k"), "ts", "p", "v", "t",
      volThreshold = 7.0, horizonUs = 10L, upPct = 0.05, dnPct = 0.05)
    val (b1, b2) = (ticks.where(col("t") <= 20), ticks.where(col("t") > 20))
    val (_, o1, c1) = volumeBarsFold(emptyBars(spark, cfg), emptyCarry(spark, cfg), b1, cfg)
    val (_, e1) = tripleBarrierFold(emptyEntries(spark, cfg), b1, c1, cfg)
    val ((_, _, c2), vbJobs) = jobsOf(volumeBarsFold(o1, c1, b2, cfg))
    val (_, tbJobs) = jobsOf(tripleBarrierFold(e1, b2, c2, cfg))

    val bets = (for { s <- Seq("A", "B"); i <- 1 to 20 } yield
      (s, i * 10L, i * 10L + 35L, 0.3 + (i % 7) * 0.1, if (i % 3 == 0) -1L else 1L))
      .toDF("k", "t0_us", "t1_us", "prob", "side")
    val betCfg = BetCfg(Seq("k"), stepSize = 0.05)
    val (_, bc1) = betSizingFold(emptyBetCarry(spark, betCfg),
      bets.where(col("t0_us") <= 100L), betCfg)
    val (_, betJobs) = jobsOf(betSizingFold(bc1, bets.where(col("t0_us") > 100L), betCfg))

    val ohlcv = ohlcvRamp(60)
    val featCfg = FeatCfg(graft.features.MarketFeatures.seriesKeys, "timestamp")
    val cut = col("timestamp") < lit("2025-08-01 00:30:00").cast("timestamp")
    val (_, fc1) = marketFeaturesFold(emptyFeatCarry(spark, featCfg), ohlcv.where(cut), featCfg)
    val (_, featJobs) = jobsOf(marketFeaturesFold(fc1, ohlcv.where(!cut), featCfg))

    val bookCfg = BookCfg(Seq("k"), "ts", "side", "price", "amount", "tb",
      stepUs = 10L, nLevels = 3)
    val deltas = churnDeltas()
    val (_, bk1, cu1) = bookSnapshotFold(emptyBook(spark, bookCfg),
      emptyBookCursor(spark, bookCfg), deltas.where(col("t") <= 60), bookCfg)
    val (_, bookJobs) = jobsOf(
      bookSnapshotFold(bk1, cu1, deltas.where(col("t") > 60), bookCfg))

    // the eager shape scheduled 14, 9 and 21 jobs here (7 eager checkpoints)
    assert(tbJobs == 0, s"tripleBarrierFold must stay lazy, scheduled $tbJobs jobs")
    assert(vbJobs <= 8, s"volumeBarsFold scheduled $vbJobs jobs")
    assert(betJobs <= 7, s"betSizingFold scheduled $betJobs jobs")
    assert(featJobs <= 4, s"marketFeaturesFold scheduled $featJobs jobs")
    assert(bookJobs <= 6, s"bookSnapshotFold scheduled $bookJobs jobs")
  }

  test("DriverLoop: a frame above 2^20 rows fails the collect, naming the caller") {
    val err = intercept[IllegalArgumentException](
      DriverLoop.localize(spark.range(DriverLoop.MaxRows + 1L).toDF("id"), "sizeProbeFold"))
    assert(err.getMessage.contains("sizeProbeFold") &&
      err.getMessage.contains((DriverLoop.MaxRows + 1).toString), err.getMessage)
    // below the bound the rows come back as a LocalRelation: later reads run no job
    val local = DriverLoop.localize(spark.range(5).toDF("id"), "sizeProbeFold")
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val (n, jobs) = jobsOf(local.collect().length)
    assert(n == 5 && jobs == 0, s"$n rows, $jobs jobs")
  }

  test("marketFeaturesFold: chunked fold is bit-identical to MarketFeatures.build") {
    import graft.features.MarketFeatures
    import graft.operators.MarketIncremental
    // three series long enough to warm every window (>> 20 + 26), with
    // the edge shapes the chain must survive: a zero close (logret/
    // pct/hl null), a null close (delta chain break), a null volume,
    // and monotone stretches (all-gain RSI windows → null by contract)
    val rows = for { sym <- Seq("AAA", "BBB", "CCC"); t <- 1 to 120 } yield {
      val drift = sym match {
        case "AAA" => 100.0 + t * 0.7
        case "BBB" => 500.0 - t * 0.9
        case _     => 250.0
      }
      val c0 = math.rint((drift + 25.0 * math.sin(t / 3.0)) * 100) / 100
      val close: java.lang.Double =
        if (sym == "AAA" && t == 40) 0.0
        else if (sym == "BBB" && t == 55) null
        else c0
      val vol: java.lang.Double = if (sym == "CCC" && t == 20) null else 10.0 + t % 7
      (sym, "x", "1h", t.toLong, c0 + 1.0, c0 - 1.0, close, vol)
    }
    val ohlcv = rows.toDF("symbol", "exchange", "timeframe", "t",
        "high", "low", "close", "volume")
      .withColumn("timestamp", expr("timestamp_micros(t * 3600000000)"))
      .withColumn("open", col("close"))
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString // BIT-identical
      case x => String.valueOf(x)
    }.mkString("|")
    val want = MarketFeatures.build(ohlcv).collect().map(key).sorted.toSeq
    // 5 uneven chunks (25h each over 120h) — every window frame, EWM
    // chain, and the OBV running sum straddle multiple chunk cuts
    val got = MarketFeatures.buildChunked(ohlcv, chunkUs = 25L * 3600000000L)
      .collect().map(key).sorted.toSeq
    assert(got.size == want.size, s"row count: got ${got.size}, want ${want.size}")
    assert(got == want, {
      val diff = got.zip(want).find { case (g, w) => g != w }
      s"fold diverged from build:\n got ${diff.map(_._1)}\nwant ${diff.map(_._2)}"
    })
    // dropnaFinal=false path agrees too (the first all-null row survives)
    val wantAll = MarketFeatures.build(ohlcv, dropnaFinal = false)
      .collect().map(key).sorted.toSeq
    val gotAll = MarketFeatures
      .buildChunked(ohlcv, chunkUs = 25L * 3600000000L, dropnaFinal = false)
      .collect().map(key).sorted.toSeq
    assert(gotAll == wantAll && gotAll.size == 360)
    // the carry really is O(1)/series: ≤19 logrets, ≤13 deltas
    val cfg = MarketIncremental.FeatCfg(MarketFeatures.seriesKeys, "timestamp")
    val (_, carry1) = MarketIncremental.marketFeaturesFold(
      MarketIncremental.emptyFeatCarry(spark, cfg), ohlcv, cfg)
    val sizes = carry1.select(size(col("logrets")), size(col("deltas"))).collect()
    assert(sizes.length == 3 &&
      sizes.forall(r => r.getInt(0) == 19 && r.getInt(1) == 13))
    // ordering contract: a bar at-or-before the watermark raises; an
    // in-batch duplicate timestamp raises
    intercept[Exception] {
      MarketIncremental.marketFeaturesFold(carry1,
        ohlcv.where(col("t") === 120), cfg)._1.count()
    }
    intercept[Exception] {
      MarketIncremental.marketFeaturesFold(
        MarketIncremental.emptyFeatCarry(spark, cfg),
        ohlcv.where(col("t") === 3).unionAll(ohlcv.where(col("t") === 3)),
        cfg)._1.count()
    }
  }

  test("marketFeaturesBatch: _commits lifecycle — replayed batch is a no-op, view matches build", Stateful) {
    import graft.features.MarketFeatures
    import graft.operators.MarketIncremental
    val ohlcv = (for { sym <- Seq("S1", "S2"); t <- 1 to 60 } yield
      (sym, "x", "1h", t.toLong, 10.0 + t, 8.0 + t,
        math.rint((9.0 + t + 3.0 * math.sin(t / 2.0)) * 100) / 100, 5.0))
      .toDF("symbol", "exchange", "timeframe", "t", "high", "low", "close", "volume")
      .withColumn("timestamp", expr("timestamp_micros(t * 60000000)"))
      .withColumn("open", col("close"))
    val cfg = MarketIncremental.FeatCfg(MarketFeatures.seriesKeys, "timestamp")
    val dir = java.nio.file.Files.createTempDirectory("graft_featfold").toString
    MarketIncremental.marketFeaturesBatch(spark, dir, 0L,
      ohlcv.where(col("t") <= 30), cfg)
    MarketIncremental.marketFeaturesBatch(spark, dir, 1L,
      ohlcv.where(col("t") > 30), cfg)
    // replay of batch 1: committed id → no-op, view unchanged
    val n1 = MarketIncremental.featuresView(spark, dir, cfg).count()
    MarketIncremental.marketFeaturesBatch(spark, dir, 1L,
      ohlcv.where(col("t") > 30), cfg)
    assert(graft.store.CommitLog(spark, dir).read().versions == Seq(0L, 1L))
    assert(MarketIncremental.featuresView(spark, dir, cfg).count() == n1)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val want = MarketFeatures.build(ohlcv)
      .select("symbol", "timestamp", "ema_12", "rsi_14", "oi_obv", "rvol_20")
      .collect().map(key).sorted.toSeq
    val got = MarketIncremental.featuresView(spark, dir, cfg)
      .select("symbol", "timestamp", "ema_12", "rsi_14", "oi_obv", "rvol_20")
      .collect().map(key).sorted.toSeq
    assert(got == want)
  }

  test("ofiMultiLevel: per-rank CKS terms with geometric weights; queue imbalance from current depth") {
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    // t=1: bid levels (10.0 sz 5), (9.0 sz 4); ask (11.0 sz 6), (12.0 sz 2)
    // t=2: bid (10.5 sz 3), (9.0 sz 4); ask (11.0 sz 1), (12.5 sz 7)
    val book = Seq(
      ("S", ts(1), "bid", 10.0, 5.0), ("S", ts(1), "bid", 9.0, 4.0),
      ("S", ts(1), "ask", 11.0, 6.0), ("S", ts(1), "ask", 12.0, 2.0),
      ("S", ts(2), "bid", 10.5, 3.0), ("S", ts(2), "bid", 9.0, 4.0),
      ("S", ts(2), "ask", 11.0, 1.0), ("S", ts(2), "ask", 12.5, 7.0))
      .toDF("symbol", "ts", "side", "price", "amount")
    val out = graft.features.OrderbookFeatures
      .ofiMultiLevel(book, nLevels = 2, Seq("symbol"), decay = 0.5)
      .orderBy("ts").collect()
    // t=1: no history → ofi null, queue imbalance from current sizes:
    // bid w-sum 5 + 0.5·4 = 7, ask 6 + 0.5·2 = 7 → qi = 0
    assert(out(0).isNullAt(3) && out(0).getAs[Long]("n_lvl_terms") == 0L)
    assert(out(0).getAs[Double]("queue_imbalance") == 0.0)
    // t=2 rank-1 bid: 10.5 > 10.0 → +q = 3; rank-2 bid: 9.0 == 9.0 → q − pq = 0
    // rank-1 ask: 11.0 == 11.0 → pq − q = 6 − 1 = 5; rank-2 ask: 12.5 > 12.0 → pq = 2
    // weighted: 3·1 + 0·0.5 + 5·1 + 2·0.5 = 9
    assert(out(1).getAs[Long]("n_lvl_terms") == 4L)
    assert(out(1).getAs[Double]("ofi_ml") == 9.0, s"got ${out(1)}")
    // qi t=2: bid 3 + 0.5·4 = 5, ask 1 + 0.5·7 = 4.5 → (5−4.5)/9.5
    assert(math.abs(out(1).getAs[Double]("queue_imbalance") - 0.052632) < 1e-9)
  }

  test("pacfLjungBox: AR(1) PACF cuts off after lag 1; Q grows; lag-1 pacf equals acf exactly") {
    // deterministic AR(1): x_t = 0.8·x_{t−1} + e_t, seeded-LCG noise
    // (java.util.Random's algorithm is specified, so this is replayable)
    val rnd = new java.util.Random(42L)
    val xs = new Array[Double](400)
    var x = 0.0
    for (t <- 0 until 400) {
      x = 0.8 * x + rnd.nextGaussian()
      xs(t) = x
    }
    val df = xs.zipWithIndex.map { case (v, t) => ("s", t.toLong, v) }
      .toSeq.toDF("k", "t", "v")
    val out = Relational.pacfLjungBox(df, "k", "t", "v", maxLag = 4, scale = 1e6)
      .orderBy("lag").collect()
    assert(out.length == 4)
    val pacf = out.map(r => r.getAs[Double]("pacf"))
    val acf1 = out(0).getAs[Double]("acf")
    assert(pacf(0) == acf1, "lag-1 PACF is the lag-1 ACF by definition")
    assert(pacf(0) > 0.55, s"AR(0.8) lag-1 pacf should be large: ${pacf(0)}")
    assert((1 until 4).forall(i => math.abs(pacf(i)) < 0.15),
      s"AR(1) PACF must cut off after lag 1: ${pacf.mkString(",")}")
    val q = out.map(r => r.getAs[Double]("q_lb"))
    assert(q(0) > 100.0 && q.sliding(2).forall(p => p(1) > p(0)),
      s"Ljung–Box Q must be large and cumulative: ${q.mkString(",")}")
    // unknown-corr propagation: a 2-bucket series has no lag-2+ pairs
    val tiny = Seq(("s", 0L, 1.0), ("s", 1L, 2.0)).toDF("k", "t", "v")
    val t2 = Relational.pacfLjungBox(tiny, "k", "t", "v", maxLag = 3)
      .orderBy("lag").collect()
    assert(t2.length == 3 && t2.drop(1).forall(_.isNullAt(3)),
      "missing lags must yield null pacf rows, not dropped rows")
  }

  test("dollarBars: bars close on exact cumulative price·volume thresholds") {
    // price·vol: 10·2=20, 20·2=40, 5·2=10, 40·1=40 at threshold 50:
    // exclusive cums 0, 20, 60, 70 → bars 0, 0, 1, 1
    val df = Seq((1L, 10.0, 2.0), (2L, 20.0, 2.0), (3L, 5.0, 2.0), (4L, 40.0, 1.0))
      .map { case (t, p, v) => ("s", t, p, v) }
      .toDF("k", "t", "p", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val out = Resample.dollarBars(df, "ts", "p", "v", "t", Seq("k"), threshold = 50.0)
      .orderBy("bar_id").collect()
    assert(out.length == 2, s"expected 2 dollar bars: ${out.mkString(";")}")
    assert(out(0).getAs[Long]("bar_id") == 0L &&
      out(0).getAs[Double]("open") == 10.0 && out(0).getAs[Double]("close") == 20.0 &&
      out(0).getAs[Double]("volume") == 4.0 && out(0).getAs[Long]("n_ticks") == 2L)
    assert(out(1).getAs[Long]("bar_id") == 1L &&
      out(1).getAs[Double]("open") == 5.0 && out(1).getAs[Double]("close") == 40.0)
    // same ticks under volumeBars(threshold 5) cut differently (vol cums
    // 0,2,4,6) — the dollar accumulator is genuinely price-weighted
    val vb = Resample.volumeBars(df, "ts", "p", "v", "t", Seq("k"), threshold = 5.0)
      .orderBy("bar_id").collect()
    assert(vb.map(_.getAs[Long]("n_ticks")).toSeq != out.map(_.getAs[Long]("n_ticks")).toSeq ||
      vb.length != out.length)
  }

  test("imbalanceBars: tick-rule signs carry through flats; bars close when |Σb| hits the threshold") {
    // prices: 100,101,102,102,101,100,99,98 → b: 0,+1,+1,+1(flat carries),-1,-1,-1,-1
    // threshold 3: cum 0,1,2,3→close bar0 at t4; then -1,-2,-3→close bar1 at t7; t8 in bar2
    val df = Seq((1L, 100.0), (2L, 101.0), (3L, 102.0), (4L, 102.0),
      (5L, 101.0), (6L, 100.0), (7L, 99.0), (8L, 98.0))
      .map { case (t, p) => ("s", t, p) }
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val out = Resample.imbalanceBars(df, "ts", "p", "t", Seq("k"), threshold = 3L)
      .orderBy("bar_id").collect()
    assert(out.length == 3, s"expected 3 bars: ${out.mkString(";")}")
    assert(out(0).getAs[Long]("bar_id") == 0L &&
      out(0).getAs[Long]("n_ticks") == 4L &&
      out(0).getAs[Long]("net_ticks") == 3L &&
      out(0).getAs[Double]("open") == 100.0 && out(0).getAs[Double]("close") == 102.0)
    assert(out(1).getAs[Long]("n_ticks") == 3L &&
      out(1).getAs[Long]("net_ticks") == -3L &&
      out(1).getAs[Double]("close") == 99.0)
    assert(out(2).getAs[Long]("n_ticks") == 1L &&
      out(2).getAs[Long]("net_ticks") == -1L, "tail bar reports its partial imbalance")
    intercept[IllegalArgumentException](
      Resample.imbalanceBars(df, "ts", "p", "t", Seq("k"), threshold = 0L))
  }

  test("tripleBarrier: first-touch labels — up, down, time barrier, horizon cut, up-wins tie") {
    val rows = Seq(
      ("A", 1L, 100.0, 1L), ("A", 2L, 92.0, 2L), ("A", 3L, 330.0, 3L),
      ("B", 1L, 100.0, 4L), ("B", 2L, 15.0, 5L),
      ("C", 1L, 100.0, 6L), ("C", 2L, 110.0, 7L),
      ("D", 1L, 100.0, 8L), ("D", 20L, 500.0, 9L), // next tick beyond horizon
      ("E", 1L, 100.0, 10L), ("E", 2L, 400.0, 11L), ("E", 2L, 10.0, 12L))
    val df = rows.toDF("k", "t", "p", "id")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = Labeling.tripleBarrier(df, Seq("k"), "ts", "p", "id",
        horizonUs = 10L, upPct = 2.0, dnPct = 0.8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) ->
        r.getLong(5)).toMap
    assert(out(("A", 1L, 100.0)) == 1L, "330 >= 300 first")
    assert(out(("A", 2L, 92.0)) == 1L)
    assert(out(("A", 3L, 330.0)) == 0L, "no future ticks → time barrier")
    assert(out(("B", 1L, 100.0)) == -1L, "15 <= 20 → down")
    assert(out(("C", 1L, 100.0)) == 0L && out(("C", 2L, 110.0)) == 0L)
    assert(out(("D", 1L, 100.0)) == 0L, "tick at +19µs is beyond the 10µs horizon")
    assert(out(("E", 1L, 100.0)) == 1L,
      "both barriers touched at the same µs → up wins by the documented rule")
  }

  test("vpin: tick-rule imbalance per volume bucket, trailing mean, warm-up null, leading-unsigned split") {
    // prices 100,101,102,101,100 @ vol 10 each; bucketVolume 20 → 2 ticks
    // per bucket; signs 0,+1,+1,-1,-1 (leading tick unsigned)
    val df = Seq(("A", 1L, 100.0, 10.0), ("A", 2L, 101.0, 10.0),
        ("A", 3L, 102.0, 10.0), ("A", 4L, 101.0, 10.0), ("A", 5L, 100.0, 10.0))
      .toDF("k", "t", "p", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.operators.Resample.vpin(df, "ts", "p", "v", "t", Seq("k"),
        bucketVolume = 20.0, window = 2)
      .collect().map(r => r.getLong(1) ->
        (r.getDouble(2), r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
      .toMap
    // bucket 0 = ticks 1,2: net = 0·10 + 1·10 → |imb| 10; warm-up null
    assert(out(0L) == ((20.0, 10.0, None)), s"bucket 0: ${out(0L)}")
    // bucket 1 = ticks 3,4: +10 − 10 = 0; vpin = (10+0)/(2·20) = 0.25
    assert(out(1L) == ((20.0, 0.0, Some(0.25))), s"bucket 1: ${out(1L)}")
    // bucket 2 = partial tail tick 5: −10; vpin = (0+10)/40 = 0.25
    assert(out(2L) == ((10.0, 10.0, Some(0.25))), s"bucket 2: ${out(2L)}")
    intercept[IllegalArgumentException](
      graft.operators.Resample.vpin(df, "ts", "p", "v", "t", Seq("k"), 0.0, 2))
    intercept[IllegalArgumentException](
      graft.operators.Resample.vpin(df, "ts", "p", "v", "t", Seq("k"), 20.0, 0))
  }

  test("realizedJumpVol: RV sums squared log returns, BV is jump-immune, continuous across buckets") {
    // day-1 ticks e⁰,e¹,e³ (returns 1, 2); day-2 tick e⁴ (return 1,
    // previous return reaches back across the day boundary)
    val us = 86400000000L
    val df = Seq(("A", 1L, math.exp(0.0)), ("A", 2L, math.exp(1.0)),
        ("A", 3L, math.exp(3.0)), ("A", us + 1L, math.exp(4.0)))
      .toDF("k", "t", "p")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.functions.TaIndicators.realizedJumpVol(
        df, Seq("k"), "ts", "p", "t", "day")
      .orderBy("bucket")
      .collect().map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // day 1: rv = 1² + 2² = 5; bv = (π/2)·|2·1| = π; jump = 5 − π
    assert(out(0)._1 == 2L)
    assert(math.abs(out(0)._2 - 5.0) < 1e-6, s"rv: ${out(0)}")
    assert(math.abs(out(0)._3 - math.Pi) < 1e-6, s"bv: ${out(0)}")
    assert(math.abs(out(0)._4 - (5.0 - math.Pi)) < 1e-6, s"jump: ${out(0)}")
    // day 2: rv = 1; bv = (π/2)·|1·2| = π > rv → jump clamps to 0
    assert(out(1)._1 == 1L)
    assert(math.abs(out(1)._2 - 1.0) < 1e-6)
    assert(math.abs(out(1)._3 - math.Pi) < 1e-6)
    assert(out(1)._4 == 0.0, "jump component clamps at 0")
    // a non-positive price drops before returns form
    val withZero = df.unionByName(Seq(("B", 1L, 0.0)).toDF("k", "t", "p")
      .withColumn("ts", expr("timestamp_micros(t)")))
    assert(graft.functions.TaIndicators.realizedJumpVol(
      withZero, Seq("k"), "ts", "p", "t", "day")
      .where(col("k") === "B").count() == 0)
  }

  test("varianceRatio: alternating series → VR(2)=0 with the closed-form z; zero-variance leg nulls") {
    // v alternates 0,1 over buckets 0..8: 1-period diffs ±1 (var 1),
    // every 2-period diff 0 → VR(2) = 0, z = −1/√(2·3·1/(3·2·8)) = −√8
    val alt = (0 to 8).map(i => ("A", i.toLong, (i % 2).toDouble))
    val const = (0 to 8).map(i => ("C", i.toLong, 5.0))
    val out = graft.operators.Relational.varianceRatio(
        (alt ++ const).toDF("k", "b", "v"), "k", "b", "v",
        qs = Seq(2), scale = 1.0)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(out("A")._1.contains(0.0), s"perfect mean reversion → VR 0: $out")
    assert(math.abs(out("A")._2.get - (-math.sqrt(8.0))) < 1e-5,
      s"z = (0−1)/√(6/48) = −√8: $out")
    assert(out("C") == ((None, None)), "zero-variance 1-period leg → null VR and z")
    intercept[IllegalArgumentException](
      graft.operators.Relational.varianceRatio(
        alt.toDF("k", "b", "v"), "k", "b", "v", qs = Seq(1)))
  }

  test("rollSpread: pure bid-ask bounce recovers the closed-form spread; trends null; pairs never straddle buckets") {
    val us = 86400000000L
    // day 1: perfect 100/101 bounce — dp = ±100 cents, cov = −10000,
    // spread = 2·√10000/100 = 2.0
    val bounce = (1 to 6).map(i =>
      ("A", i.toLong, if (i % 2 == 1) 100.0 else 101.0))
    // day 1: monotone trend — cov = 0 → null
    val trend = (1 to 6).map(i => ("B", i.toLong, 100.0 + i))
    // day 2 for A: two ticks only — every pair would straddle the
    // boundary, so day 2 yields no n_pairs row at all
    val tail = Seq(("A", us + 1L, 200.0), ("A", us + 2L, 100.0))
    val df = (bounce ++ trend ++ tail).toDF("k", "t", "p")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.functions.TaIndicators.rollSpread(
        df, Seq("k"), "ts", "p", "t", "day")
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out(("A", 4L)).contains(2.0), s"bounce spread: $out")
    assert(out(("B", 4L)).isEmpty, "non-negative autocovariance → null")
    assert(!out.keySet.exists(_ == ("A", 0L)) && out.size == 2,
      s"straddling pairs must not create a day-2 bucket: $out")
  }

  test("amihudIlliquidity: closed-form daily ratio, zero-open and zero-volume days drop") {
    val df = Seq(
      ("A", 1L, 100.0, 1.0), ("A", 2L, 110.0, 2.0), // dv = 320, |ret| = 0.1
      ("B", 1L, 0.0, 1.0), ("B", 2L, 10.0, 1.0), // open 0 → day drops
      ("C", 1L, 10.0, 0.0)) // zero dollar volume → day drops
      .toDF("k", "t", "p", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.functions.TaIndicators.amihudIlliquidity(
        df, Seq("k"), "ts", "p", "v", "t")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 1e6 · (0.1 / 320) = 312.5
    assert(out("A") == ((1L, 312.5)), s"amihud: $out")
    assert(!out.contains("B") && !out.contains("C"))
  }

  test("bookSnapshots: delta replay — levels appear, update, and vanish at each grid point; same-µs last-write-wins") {
    val deltas = Seq(
      ("X", 10L, 1L, "bid", 100.0, 5.0),
      ("X", 20L, 2L, "bid", 99.0, 3.0),
      ("X", 30L, 3L, "ask", 101.0, 9.0), // overwritten same-µs by tb=4
      ("X", 30L, 4L, "ask", 101.0, 2.0),
      ("X", 150L, 5L, "bid", 100.0, 0.0), // removal
      ("X", 160L, 6L, "bid", 98.0, 7.0))
      .toDF("k", "t", "id", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.features.OrderbookFeatures.bookSnapshots(
        deltas, Seq("k"), "ts", "id", stepUs = 100L, nLevels = 2)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    // snap 100: bids 100→5 (L1), 99→3 (L2); ask 101→2 (the tb=4 write)
    assert(out((100L, "bid", 1L)) == ((100.0, 5.0)))
    assert(out((100L, "bid", 2L)) == ((99.0, 3.0)))
    assert(out((100L, "ask", 1L)) == ((101.0, 2.0)),
      "same-µs updates must collapse last-write-wins")
    // snap 200: level 100 removed → 99 promotes to L1, 98 enters at L2
    assert(out((200L, "bid", 1L)) == ((99.0, 3.0)))
    assert(out((200L, "bid", 2L)) == ((98.0, 7.0)))
    assert(out((200L, "ask", 1L)) == ((101.0, 2.0)))
    assert(out.size == 6, s"exactly two grid points, top-2: $out")
    intercept[IllegalArgumentException](
      graft.features.OrderbookFeatures.bookSnapshots(
        deltas, Seq("k"), "ts", "id", stepUs = 0L))
  }

  test("winsorize: exact percentile band clamp, tails saturate, interior untouched, null drops") {
    // values 1..10: p25 = 3.25, p75 = 7.75 (linear interpolation)
    val df = ((1 to 10).map(i => ("A", Some(i.toDouble))) :+ (("A", None)))
      .toDF("k", "v")
    val out = graft.operators.Relational.winsorize(df, Seq("k"), "v",
        loPct = 0.25, hiPct = 0.75)
      .collect().map(r => r.getDouble(1) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(out(1.0) == ((3.25, true)) && out(3.0) == ((3.25, true)))
    assert(out(5.0) == ((5.0, false)), "interior values pass through")
    assert(out(9.0) == ((7.75, true)) && out(10.0) == ((7.75, true)))
    assert(out.size == 10, "null values drop")
    intercept[IllegalArgumentException](
      graft.operators.Relational.winsorize(df, Seq("k"), "v", 0.9, 0.1))
  }

  test("eventStudy: per-offset means across markers, CAR accumulates, missing buckets don't count") {
    val series = (0 to 10).map(i => ("A", i.toLong, i.toDouble))
      .toDF("k", "b", "v")
    val markers = Seq(3L, 5L).toDF("m")
    val out = graft.operators.Relational.eventStudy(
        series, "k", "b", "v", markers, maxOffset = 1, scale = 1.0)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // offsets −1/0/+1 see {2,4}/{3,5}/{4,6} → means 3/4/5, CAR 3/7/12
    assert(out(-1L) == ((2L, 3.0, 3.0)), s"event study: $out")
    assert(out(0L) == ((2L, 4.0, 7.0)))
    assert(out(1L) == ((2L, 5.0, 12.0)))
    // a marker at the series edge contributes only where data exists
    val edge = graft.operators.Relational.eventStudy(
        series, "k", "b", "v", Seq(10L).toDF("m"), maxOffset = 1, scale = 1.0)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(edge == Map(-1L -> 1L, 0L -> 1L), s"bucket 11 has no data: $edge")
  }

  test("seasonalityProfile: exact per-slot mean and population std; single-obs slot reads 0 std; unit guard") {
    val df = Seq(
      ("A", "2024-01-01 01:10:00", 10.0), ("A", "2024-01-02 01:50:00", 12.0),
      ("A", "2024-01-01 02:00:00", 7.0))
      .toDF("k", "tss", "v").withColumn("ts", to_timestamp(col("tss")))
    val out = graft.functions.TaIndicators.seasonalityProfile(
        df, Seq("k"), "ts", "v", unit = "hour", scale = 100.0)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // hour 1: mean 11, population std of {10, 12} = 1
    assert(out(1L) == ((2L, 11.0, 1.0)), s"seasonality: $out")
    assert(out(2L) == ((1L, 7.0, 0.0)), "single observation → zero std")
    intercept[IllegalArgumentException](
      graft.functions.TaIndicators.seasonalityProfile(
        df, Seq("k"), "ts", "v", unit = "week"))
  }

  test("hayashiYoshida: overlap-indicator covariance on asynchronous ticks; touching intervals excluded; explode cap loud") {
    val df = Seq(
      ("A", 0L, 10.0), ("A", 10L, 11.0), ("A", 20L, 13.0),
      ("B", 5L, 20.0), ("B", 15L, 21.0),
      ("C", 20L, 1.0), ("C", 30L, 2.0))
      .toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.operators.Relational.hayashiYoshida(
        df, "k", "ts", "v", "t", bucketUs = 8L, scale = 100.0)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // B's (5,15] overlaps BOTH A intervals: (100·100 + 200·100)/100² = 3
    assert(out(("A", "B")) == ((2L, 3.0)), s"hy: $out")
    // C's (20,30] only touches A's (10,20] at the endpoint — half-open
    // intervals do not overlap there, and no other A interval reaches it
    assert(!out.contains(("A", "C")), s"touching-only pair must be absent: $out")
    // an interval spanning more buckets than the cap fails loudly
    intercept[Exception] {
      graft.operators.Relational.hayashiYoshida(
        df, "k", "ts", "v", "t", bucketUs = 1L, scale = 100.0,
        maxBucketsPerInterval = 4).count()
    }
  }

  test("dupNgramRate: cross-doc and within-doc duplicated windows count; short docs null") {
    val df = Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "z z"),
        (4L, "q q q q"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.dupNgramRate(df, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    // "a b c" is shared by docs 1 and 2; their other window is unique
    assert(out(1L) == ((2L, 1L, Some(0.5))), s"doc1: $out")
    assert(out(2L) == ((2L, 1L, Some(0.5))), s"doc2: $out")
    assert(out(3L) == ((0L, 0L, None)), "sub-n docs have no windows → null rate")
    assert(out(4L) == ((2L, 2L, Some(1.0))),
      "within-doc repetition counts — the memorization signal")
  }

  test("containmentJoin: finds the excerpt-in-article pair Jaccard misses; directional; cap documented") {
    val a = "w1 w2 w3 w4 w5 w6"
    val b = a + " " + (1 to 20).map(i => s"x$i").mkString(" ")
    val c = "y1 y2 y3 y4 y5 y6"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.containmentJoin(df, "text", "doc_id", shingleN = 3,
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    // A's 4 shingles all appear in B → C(A→B) = 1.0; B→A is 4/24 → absent
    assert(pairs.keySet == Set((1L, 2L)), s"pairs: $pairs")
    assert(pairs((1L, 2L)) == 1.0)
    // the same pair is invisible to Jaccard at any near-dup threshold:
    // J = 4/(4+24−4) = 1/6
    assert(Dedup.jaccardSimilarityJoin(df, "text", "doc_id", shingleN = 3,
      threshold = 0.9).count() == 0,
      "jaccardSimilarityJoin must structurally miss the contained excerpt")
    // maxPostings caps CANDIDATE generation: with every shared shingle
    // above the cap the pair is missed — the documented trade
    assert(Dedup.containmentJoin(df, "text", "doc_id", shingleN = 3,
      threshold = 0.9, maxPostings = 1).count() == 0)
    intercept[IllegalArgumentException](
      Dedup.containmentJoin(df, "text", "doc_id", threshold = 0.0))
  }

  test("psiDrift: identical slices score exactly 0; a shifted slice trips the 0.25 alarm; no-ref keys absent") {
    val stable = (0 until 100).flatMap(i =>
      Seq(("s", true, (i % 10) * 1.0), ("s", false, (i % 10) * 1.0)))
    val shifted = (0 until 100).map(i => ("d", true, (i % 10) * 1.0)) ++
      (0 until 100).map(_ => ("d", false, 9.0))
    val noRef = Seq(("n", false, 1.0))
    val out = Relational.psiDrift((stable ++ shifted ++ noRef).toDF("k", "ref", "v"),
        Seq("k"), "v", col("ref"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // same counts AND same totals → p_cur ≡ p_ref per cell → every term 0
    assert(out("s") == 0.0, s"identical slices must score exactly 0: $out")
    assert(out("d") > 0.25, s"all mass collapsing into one bin must alarm: $out")
    assert(!out.contains("n"), "keys with no reference slice have nothing to measure against")
    intercept[IllegalArgumentException](
      Relational.psiDrift(stable.toDF("k", "ref", "v"), Seq("k"), "v", col("ref"), bins = 0))
    // a single-valued reference cannot anchor bins: every current value
    // would clamp into cell 0 and a 100× shift would read ~0 — loud
    val degen = ((0 until 50).map(_ => ("g", true, 5.0)) ++
      (0 until 50).map(_ => ("g", false, 500.0))).toDF("k", "ref", "v")
    intercept[IllegalArgumentException](
      Relational.psiDrift(degen, Seq("k"), "v", col("ref")))
  }

  test("micropriceSeries: opposite-size weighting at the best levels; absent side is null") {
    // best bid 100 (size 2+3=5 across two prints), best ask 101 (size 1):
    // micro = (100·1 + 101·5)/6 — the thick bid pulls fair value up
    val book = Seq(
      ("s", 1L, "bid", 100.0, 2.0), ("s", 1L, "bid", 100.0, 3.0),
      ("s", 1L, "bid", 99.0, 9.0), ("s", 1L, "ask", 101.0, 1.0),
      ("s", 1L, "ask", 102.0, 7.0),
      ("s", 2L, "bid", 100.0, 1.0)) // no ask at ts 2
      .toDF("symbol", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)")).drop("t")
    val out = graft.features.OrderbookFeatures.micropriceSeries(book, Seq("symbol"))
      .orderBy("ts").collect()
    assert(out.length == 2)
    assert(Option(out(0).getAs[Any]("microprice")) ==
      Some((100.0 * 1.0 + 101.0 * 5.0) / 6.0), s"${out.toSeq}")
    assert(out(1).isNullAt(out(1).fieldIndex("microprice")),
      "one-sided book has no microprice")
  }

  test("ofiSeries: four-term flow over consecutive best states; first snapshot null") {
    // t2: bid flat at 100 (sz 5→7) → +7−5; ask lifts 101→102 → +prev ask sz 2 → OFI 4
    // t3: bid drops → −prev bid sz 7; ask drops back → −cur ask sz 6 → OFI −13
    val book = Seq(
      ("s", 1L, "bid", 100.0, 5.0), ("s", 1L, "ask", 101.0, 2.0),
      ("s", 2L, "bid", 100.0, 7.0), ("s", 2L, "ask", 102.0, 3.0),
      ("s", 3L, "bid", 99.0, 4.0), ("s", 3L, "ask", 101.0, 6.0))
      .toDF("symbol", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)")).drop("t")
    val out = graft.features.OrderbookFeatures.ofiSeries(book, Seq("symbol"))
      .orderBy("ts").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("ofi")), "no prior state at the first snapshot")
    assert(out(1).getAs[Double]("ofi") == 4.0, s"${out.toSeq}")
    assert(out(2).getAs[Double]("ofi") == -13.0, s"${out.toSeq}")
  }

  test("impactLambda: exact OLS slope of mid changes on OFI; flow without variance is null") {
    // s: (OFI, Δmid) pairs (3, 1) and (−4, −1) at scale 1e2 →
    // λ = (2·70000 − (−100)·0)/(2·250000 − (−100)²) = 140000/490000
    val book = Seq(
      ("s", 1L, "bid", 100.0, 1.0), ("s", 1L, "ask", 102.0, 1.0),
      ("s", 2L, "bid", 101.0, 2.0), ("s", 2L, "ask", 103.0, 1.0),
      ("s", 3L, "bid", 100.0, 1.0), ("s", 3L, "ask", 102.0, 2.0),
      ("f", 1L, "bid", 100.0, 1.0), ("f", 1L, "ask", 101.0, 1.0),
      ("f", 2L, "bid", 100.0, 1.0), ("f", 2L, "ask", 101.0, 1.0))
      .toDF("symbol", "t", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)")).drop("t")
    val out = graft.features.OrderbookFeatures
      .impactLambda(book, Seq("symbol"), scale = 1e2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2))))).toMap
    assert(out("s") == ((2L, Some(0.285714))), s"$out")
    // identical snapshots: OFI ≡ 0 → no variance to regress on → null λ
    assert(out("f") == ((1L, None)), s"$out")
  }

  test("acf: alternating series has exact ±1 autocorrelation by lag parity") {
    val rows = (0 until 12).map(t => ("s", t.toLong, if (t % 2 == 0) 1.0 else -1.0))
    val out = Relational.acf(rows.toDF("k", "t", "v"), "k", "t", "v", maxLag = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out == Map(1L -> -1.0, 2L -> 1.0, 3L -> -1.0), s"$out")
    intercept[IllegalArgumentException](
      Relational.acf(rows.toDF("k", "t", "v"), "k", "t", "v", maxLag = 0))
  }

  test("rangeVolatility: closed-form Parkinson/GK/RS on unit-log bars") {
    // h=e, l=o=c=1: ln(h/l)=1 → park term 1; lnCO=0 → gk term 0.5;
    // rs = ln(h/c)·ln(h/o) + 0 = 1
    val bars = Seq(
      ("s", 1L, 1.0, math.E, 1.0, 1.0), ("s", 2L, 1.0, math.E, 1.0, 1.0))
      .toDF("k", "bar", "open", "high", "low", "close")
    val r = graft.functions.TaIndicators.rangeVolatility(bars, Seq("k")).head()
    assert(r.getLong(1) == 2L)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) == r6(math.sqrt(1.0 / graft.functions.TaIndicators.ParkinsonConst)))
    assert(r.getDouble(3) == r6(math.sqrt(0.5)))
    assert(r.getDouble(4) == 1.0)
    // a non-positive leg (log undefined) drops the bar, not the key
    val mixed = bars.unionByName(
      Seq(("s", 3L, 0.0, 1.0, 0.5, 1.0)).toDF("k", "bar", "open", "high", "low", "close"))
    assert(graft.functions.TaIndicators.rangeVolatility(mixed, Seq("k"))
      .head().getLong(1) == 2L)
  }

  test("tokenEntropy: uniform tokens hit ln(k), repetition scores 0, empty doc null") {
    val docs = Seq(
      (1L, "a b c d"),          // 4 distinct → H = ln 4
      (2L, "spam spam spam"),   // one type → H = 0
      (3L, "a a b b"),          // H = ln 2
      (4L, "   "))              // no tokens
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == Some(r6(math.log(4.0))), s"$out")
    // quantization can land at −0.0; primitive == treats it as zero
    assert(out(2L)._1 == 3L && out(2L)._2.get == 0.0, s"$out")
    assert(out(3L)._2 == Some(r6(math.log(2.0))))
    assert(out(4L) == ((0L, None)), "token-free doc reports 0 tokens, null entropy")
  }

  test("drawdownStats: deepest peak-to-trough, earliest trough; monotone series zero") {
    val rows = Seq(
      ("a", 1L, 100.0), ("a", 2L, 120.0), ("a", 3L, 60.0), ("a", 4L, 90.0),
      ("b", 1L, 10.0), ("b", 2L, 20.0))
      .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val out = graft.functions.TaIndicators.drawdownStats(rows, Seq("k"), "ts", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // a: runmax 100,120,120,120 → dd 0,0,−0.5,−0.25 → trough at t=3
    assert(out("a") == ((4L, -0.5, 3L)), s"$out")
    // b never draws down: max_dd 0, trough elects the EARLIEST zero
    assert(out("b") == ((2L, 0.0, 1L)), s"$out")
    intercept[IllegalArgumentException](
      graft.functions.TaIndicators.drawdownStats(rows, Nil, "ts", "v"))
  }

  test("removeTopComponent: exact on an axis-aligned pair") {
    // (±1, 0): zero mean, G = [[2,0],[0,0]] → u = (1,0) exactly after
    // quantization; scores ±1, residuals identically zero
    val tiny = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.removeTopComponent(tiny, "embedding", "vec_id")
      .orderBy("vec_id").collect()
    assert(out(0).getDouble(1) == 1.0 && out(1).getDouble(1) == -1.0)
    assert(out(0).getSeq[Double](2) == Seq(0.0, 0.0))
    assert(out(1).getSeq[Double](2) == Seq(0.0, 0.0))
  }

  test("removeTopComponent: top direction absorbs the dominant variance; nulls pass; deterministic") {
    // variance ~25 along dim 0, ~2e-4 along dim 1: the top component must
    // carry (almost) all the energy
    val vecs = ((0 until 50).map(i =>
      (i.toLong, Some(Seq(i.toDouble / 10.0, (i % 5) / 100.0)))) :+
      ((99L, Option.empty[Seq[Double]])))
      .toDF("vec_id", "embedding")
    val out = Similarity.removeTopComponent(vecs, "embedding", "vec_id", iters = 5)
      .orderBy("vec_id").collect()
    val nullRow = out.find(_.getLong(0) == 99L).get
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2),
      "null vectors must pass through with null outputs")
    val real = out.filter(_.getLong(0) != 99L)
    val ts2 = real.map(r => r.getDouble(1) * r.getDouble(1)).sum
    val rn2 = real.map(_.getSeq[Double](2).map(x => x * x).sum).sum
    assert(ts2 > 50 * rn2,
      s"top component must dominate: score energy $ts2 vs residual $rn2")
    val again = Similarity.removeTopComponent(vecs, "embedding", "vec_id", iters = 5)
      .orderBy("vec_id").collect()
    assert(out.toSeq == again.toSeq, "the whole chain must be deterministic")
  }

  test("mmrRerank: topK beyond the shortlist returns everything, ranked") {
    val sl = Seq((1L, 0.9, Seq(1.0, 0.0)), (2L, 0.1, Seq(0.0, 1.0)))
      .toDF("id", "rel", "vec")
    val out = Retrieval.mmrRerank(sl, "id", "rel", "vec", topK = 10).collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }

  /** Churning L2 delta fixture: levels appear, die (amount 0), reappear;
    * same-µs double updates to one level resolve by tiebreak; deltas land
    * exactly on step AND chunk boundaries; series C has a long gap (no
    * deltas for several chunks) forcing a catch-up grid in one fold. */
  private def churnDeltas() = {
    val rows = for { k <- Seq("A", "B"); t <- 1 to 120 } yield
      (k, t.toLong, t.toLong,
        if (t % 2 == 0) "bid" else "ask",
        ((t * 7) % 8 + 1).toDouble,
        if (t % 7 == 0) 0.0 else (t % 5 + 0.5))
    val extra = Seq(
      // same µs, same level as the t=40 row (bid @ 1.0), higher tiebreak:
      // last-write-wins must elect 9.9
      ("A", 40L, 500L, "bid", 1.0, 9.9),
      // exactly on a chunk boundary (25·3) and a step boundary (10 ∤ 75 —
      // chunk-only), plus one on both (t=50)
      ("B", 75L, 501L, "ask", 3.0, 2.5),
      ("B", 50L, 502L, "bid", 5.0, 1.25),
      // series with a many-chunk gap
      ("C", 3L, 503L, "bid", 2.0, 4.0),
      ("C", 110L, 504L, "ask", 6.0, 1.5))
    (rows ++ extra).toDF("k", "t", "tb", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
  }

  test("bookSnapshotsChunked: misaligned-chunk fold equals the one-shot operator column for column") {
    val deltas = churnDeltas()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.mkString("|")
    val whole = graft.features.OrderbookFeatures
      .bookSnapshots(deltas, Seq("k"), "ts", "tb", stepUs = 10L, nLevels = 3)
      .collect().map(key).sorted.toSeq
    val chunked = graft.features.OrderbookFeatures
      .bookSnapshotsChunked(deltas, Seq("k"), "ts", "tb", stepUs = 10L,
        nLevels = 3, chunkUs = 25L)
      .collect().map(key).sorted.toSeq
    assert(whole.nonEmpty, "fixture must produce snapshots")
    assert(chunked == whole,
      s"chunked diverged (${chunked.size} vs ${whole.size} rows):\n" +
        s" got  ${chunked.take(4).mkString("; ")}\n want ${whole.take(4).mkString("; ")}")
    // a chunk size larger than the whole span degenerates to one fold —
    // still identical (the provisional tail does real work here)
    val oneChunk = graft.features.OrderbookFeatures
      .bookSnapshotsChunked(deltas, Seq("k"), "ts", "tb", stepUs = 10L,
        nLevels = 3, chunkUs = 1000000L)
      .collect().map(key).sorted.toSeq
    assert(oneChunk == whole, "single-chunk fold must also match")
    // the loop guard is loud, not silent
    intercept[IllegalArgumentException] {
      graft.features.OrderbookFeatures.bookSnapshotsChunked(deltas, Seq("k"),
        "ts", "tb", stepUs = 10L, nLevels = 3, chunkUs = 25L, maxChunks = 2)
    }
  }

  test("bookSnapshotFold: frontier stays churn-bounded; ordering/amount guards raise") {
    import graft.operators.MarketIncremental
    val cfg = MarketIncremental.BookCfg(Seq("k"), "ts", "side", "price",
      "amount", "tb", stepUs = 10L, nLevels = 3)
    val deltas = churnDeltas().where(col("k") =!= "C")
    val b1 = deltas.where(col("t") <= 60)
    val b2 = deltas.where(col("t") > 60)
    val (s1, book1, cur1) = MarketIncremental.bookSnapshotFold(
      MarketIncremental.emptyBook(spark, cfg),
      MarketIncremental.emptyBookCursor(spark, cfg), b1, cfg)
    val (s2, book2, cur2) = MarketIncremental.bookSnapshotFold(book1, cur1, b2, cfg)
    // the frontier holds exactly the standing nonzero levels — bounded by
    // the price universe (8 per side here), NOT by update count
    val standing = book2.count()
    assert(standing > 0 && standing <= 2 * 2 * 8,
      s"frontier must be bounded by live levels, got $standing")
    // finals are emitted exactly once across folds
    val finals = s1.unionByName(s2)
    assert(finals.groupBy("k", "snap_ts_us", "side", "level").count()
      .where(col("count") > 1).count() == 0, "a final snapshot row must be unique")
    // cursor watermark reached the last delta
    assert(cur2.where(col("k") === "A").head().getAs[Long]("w_ts_us") == 120L)
    // a stale batch (at-or-before the watermark) raises
    intercept[Exception] {
      val (s3, _, _) = MarketIncremental.bookSnapshotFold(
        book2, cur2, deltas.where(col("t") === 5), cfg)
      s3.queryExecution.toRdd.count()
    }
    // duplicate (level, ts, tiebreak) within one batch raises
    val dup = Seq(("A", 300L, 7L, "bid", 1.0, 2.0), ("A", 300L, 7L, "bid", 1.0, 3.0))
      .toDF("k", "t", "tb", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    intercept[Exception] {
      val (s4, _, _) = MarketIncremental.bookSnapshotFold(book2, cur2, dup, cfg)
      s4.queryExecution.toRdd.count()
    }
    // negative resting amount raises
    val neg = Seq(("A", 400L, 8L, "bid", 1.0, -1.0))
      .toDF("k", "t", "tb", "side", "price", "amount")
      .withColumn("ts", expr("timestamp_micros(t)"))
    intercept[Exception] {
      val (s5, _, _) = MarketIncremental.bookSnapshotFold(book2, cur2, neg, cfg)
      s5.queryExecution.toRdd.count()
    }
  }

  test("cusumDetect: prefix-min reflection equals the sequential recursion, alarms fire on the shift") {
    // level 10 for 30 ticks, then a +4 shift — the textbook CUSUM case
    var seed = 99L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val xs = (0 until 30).map(_ => 10.0 + nxt()) ++
      (0 until 30).map(_ => 14.0 + nxt())
    val rows = xs.zipWithIndex.map { case (v, i) => ("A", i.toLong, v) } ++
      // a flat series never alarms
      (0 until 20).map(i => ("B", i.toLong, 10.0)) :+
      (("A", 999L, null.asInstanceOf[java.lang.Double]): (String, Long, Any))
    val df = rows.map { case (k, t, v) =>
      (k, t, Option(v).map(_.asInstanceOf[Double])) }.toDF("k", "t", "v")
    val (target, slack, threshold, scale) = (10.0, 1.0, 8.0, 1e6)
    val out = Relational.cusumDetect(df, Seq("k"), "t", "v", "t",
        target, slack, threshold, scale)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(!out.contains(("A", 999L)), "null value must drop")
    // sequential reference: the classical max(0, .) recursion on the
    // SAME quantized integers
    val (tq, kq, hq) = (math.floor(target * scale).toLong,
      math.floor(slack * scale).toLong, math.floor(threshold * scale).toLong)
    var (sp, sn) = (0L, 0L)
    xs.zipWithIndex.foreach { case (v, i) =>
      val xq = math.floor(v * scale).toLong
      sp = math.max(0L, sp + xq - tq - kq)
      sn = math.max(0L, sn + tq - xq - kq)
      val got = out(("A", i.toLong))
      assert(got._2 == sp / scale, s"t=$i s_pos: ${got._2} vs ${sp / scale}")
      assert(got._3 == sn / scale, s"t=$i s_neg: ${got._3} vs ${sn / scale}")
      assert(got._4 == (sp > hq) && got._5 == (sn > hq), s"t=$i alarms")
    }
    // the shift must be caught, and only on the positive side
    assert((30 until 60).exists(i => out(("A", i.toLong))._4),
      "the +4 shift must trip alarm_pos")
    assert(!(0 until 60).exists(i => out(("A", i.toLong))._5),
      "nothing drifts down in this fixture")
    assert((0 until 20).forall { i =>
      val g = out(("B", i.toLong)); !g._4 && !g._5
    }, "flat series at target never alarms")
  }

  test("cusumFold: chunked folds equal one-shot cusumDetect, carry is key-sized, guards raise") {
    var seed = 77L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val rows = (for {
      k <- Seq("A", "B"); i <- 0 until 50
    } yield {
      val base = if (k == "A" && i >= 25) 13.0 else 10.0
      (k, i.toLong, i.toLong, base + nxt())
    }).toSeq
    def mk(rs: Seq[(String, Long, Long, Double)]) =
      rs.toDF("k", "t", "tb", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val (tgt, slk, thr) = (10.0, 0.8, 6.0)
    val whole = Relational.cusumDetect(mk(rows), Seq("k"), "ts", "v", "tb",
        tgt, slk, thr).collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(whole.exists(_._2._4), "fixture must alarm on the +3 shift")
    // 3 uneven batches, folded with the bounded carry
    val batches = Seq(rows.filter(_._2 < 7), rows.filter(r => r._2 >= 7 && r._2 < 31),
      rows.filter(_._2 >= 31))
    var carry = DriftMonitor.emptyCusumCarry(spark, Seq("k"))
    val folded = scala.collection.mutable.Map
      .empty[(String, Long), (Double, Double, Double, Boolean, Boolean)]
    batches.foreach { b =>
      val (scored, c2) = DriftMonitor.cusumFold(carry, mk(b), Seq("k"),
        "ts", "v", "tb", tgt, slk, thr)
      scored.collect().foreach(r => folded((r.getString(0), r.getLong(2))) =
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6), r.getBoolean(7))))
      carry = c2
      assert(carry.count() <= 2, "carry must stay key-sized")
    }
    assert(folded.size == whole.size)
    whole.foreach { case (key, want) =>
      assert(folded(key) == want, s"fold diverged at $key: ${folded(key)} vs $want")
    }
    // replaying an old batch violates the watermark guard (checkpoints
    // are lazy since r14 — the guard raises at first materialization,
    // which in the real cusumBatch loop is the scores write)
    intercept[Exception] {
      DriftMonitor.cusumFold(carry, mk(batches(1)), Seq("k"), "ts", "v",
        "tb", tgt, slk, thr)._1.collect()
    }
    // intra-batch duplicate (ts, tiebreak) raises
    intercept[Exception] {
      DriftMonitor.cusumFold(DriftMonitor.emptyCusumCarry(spark, Seq("k")),
        mk(Seq(("A", 1L, 5L, 1.0), ("A", 1L, 5L, 2.0))), Seq("k"),
        "ts", "v", "tb", tgt, slk, thr)._1.collect()
    }
  }

  test("signalBacktest: next-tick execution, linear costs, exact curve — sequential reference agrees") {
    var seed = 4242L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val prices = Iterator.iterate(100.0)(p => p * math.exp(0.02 * nxt()))
      .take(60).toSeq
    // alternating momentum-ish signal with flats and repeats (holds incur
    // no cost), plus a null (flat by contract)
    val sigs: Seq[Option[Double]] = (0 until 60).map {
      case i if i % 7 == 0 => None
      case i if (i / 5) % 2 == 0 => Some(1.0)
      case _ => Some(-1.0)
    }
    val df = prices.zip(sigs).zipWithIndex.map { case ((p, sg), i) =>
      ("S", i.toLong, i.toLong, p, sg) }.toDF("k", "t", "tb", "p", "sig")
    val (costBps, ann) = (25.0, 252.0)
    val stats = operators.Backtest.signalBacktest(df, Seq("k"), "t", "p",
        "sig", "tb", costBps, ann).collect()
    assert(stats.length == 1)
    val row = stats.head
    // sequential reference on the same quantization pipeline
    val sigv = sigs.map(_.getOrElse(0.0))
    var (eq, runmax, s1, s2, tov, trades, mdd, n) = (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0)
    var sdn = 0L
    (1 until 60).foreach { i =>
      val pos = sigv(i - 1)
      val prevpos = if (i >= 2) sigv(i - 2) else 0.0
      val r = math.log(prices(i) / prices(i - 1))
      val dposFp = math.round(math.abs(pos - prevpos) * 1e6)
      val pnl = pos * r - (costBps / 1e4) * (dposFp / 1e6)
      val pnlFp = math.round(pnl * 1e9)
      s1 += pnlFp; s2 += math.round(pnl * pnl * 1e9); tov += dposFp
      sdn += math.round(math.min(pnl, 0.0) * math.min(pnl, 0.0) * 1e9)
      if (dposFp != 0L) trades += 1
      eq += pnlFp; runmax = math.max(math.max(runmax, eq), 0L)
      mdd = math.max(mdd, runmax - eq); n += 1
    }
    val mean = s1.toDouble / 1e9 / n
    val variance = s2.toDouble / 1e9 / n - mean * mean
    val dnVar = sdn.toDouble / 1e9 / n
    assert(math.abs(row.getAs[Double]("sortino")
      - mean / math.sqrt(dnVar) * math.sqrt(ann)) < 1e-6)
    assert(math.abs(row.getAs[Double]("calmar")
      - s1 / 1e9 * (ann / n) / (mdd / 1e9)) < 5.1e-5)
    assert(row.getAs[Long]("n_rets") == n)
    assert(row.getAs[Long]("n_trades") == trades)
    // displays are 6-dp rounded — compare at the display resolution
    assert(math.abs(row.getAs[Double]("total_ret") - s1 / 1e9) < 5.1e-7)
    assert(math.abs(row.getAs[Double]("sharpe")
      - mean / math.sqrt(variance) * math.sqrt(ann)) < 1e-6)
    assert(math.abs(row.getAs[Double]("max_drawdown") - mdd / 1e9) < 5.1e-7)
    assert(math.abs(row.getAs[Double]("turnover") - tov / 1e6) < 1e-9)
    // no look-ahead: perturbing the LAST signal changes nothing (that
    // signal would only trade on a tick that doesn't exist)
    val df2 = prices.zip(sigs.init :+ Some(-99.0)).zipWithIndex
      .map { case ((p, sg), i) => ("S", i.toLong, i.toLong, p, sg) }
      .toDF("k", "t", "tb", "p", "sig")
    val row2 = operators.Backtest.signalBacktest(df2, Seq("k"), "t", "p",
      "sig", "tb", costBps, ann).collect().head
    assert(row2.getAs[Double]("total_ret") == row.getAs[Double]("total_ret")
      && row2.getAs[Long]("n_trades") == row.getAs[Long]("n_trades"),
      "a signal on the final tick must not affect any PnL")
    // ledger consistency: last equity == total_ret, drawdown max == mdd
    val led = operators.Backtest.ledger(df, Seq("k"), "t", "p", "sig", "tb",
        costBps).orderBy("t").collect()
    assert(led.length == n)
    assert(math.abs(led.last.getAs[Double]("equity")
      - row.getAs[Double]("total_ret")) < 1e-9)
    assert(math.abs(led.map(_.getAs[Double]("drawdown")).max
      - row.getAs[Double]("max_drawdown")) < 1e-9)
  }

  test("varCvar: interpolated quantile + exact tail mean, per-key isolation") {
    val rows = (1 to 100).map(i => ("A", i.toDouble)) ++
      (1 to 10).map(i => ("B", -i.toDouble)) :+ (("A", null.asInstanceOf[Any]))
    val df = rows.map { case (k, v) =>
      (k, Option(v).map(_.asInstanceOf[Double])) }.toDF("k", "r")
    val out = operators.Backtest.varCvar(df, Seq("k"), "r", alpha = 0.05)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // A: quantile_cont(0.05) over 1..100 = 1 + 0.05*99 = 5.95;
    // tail {1..5}, mean 3
    assert(out("A") == ((100L, 5L, 5.95, 3.0)), s"got ${out("A")}")
    // B: over -10..-1 = -10 + 0.05*9 = -9.55; tail {-10}, mean -10
    assert(out("B") == ((10L, 1L, -9.55, -10.0)), s"got ${out("B")}")
  }

  test("spearmanIc: monotone = ±1, ties use average ranks, constant columns null out") {
    val up = (1 to 20).map(i => ("up", i.toDouble, (i * i).toDouble))
    val down = (1 to 20).map(i => ("down", i.toDouble, -i.toDouble))
    // x has tie groups; reference below computes classical average-rank
    // Spearman by hand
    val tx = Seq(1.0, 1.0, 2.0, 3.0, 3.0, 3.0, 4.0)
    val ty = Seq(2.0, 1.0, 3.0, 5.0, 4.0, 6.0, 7.0)
    val tied = tx.zip(ty).map { case (x, y) => ("tied", x, y) }
    val const = (1 to 5).map(i => ("const", 7.0, i.toDouble))
    val df = (up ++ down ++ tied ++ const).toDF("k", "x", "y")
    val out = Relational.spearmanIc(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out("up") == ((20L, Some(1.0))), s"monotone: ${out("up")}")
    assert(out("down") == ((20L, Some(-1.0))), s"reversed: ${out("down")}")
    assert(out("const")._2.isEmpty, "constant x has zero rank variance")
    def avgRanks(vs: Seq[Double]): Seq[Double] = {
      val sorted = vs.sorted.zipWithIndex
      val byV = sorted.groupBy(_._1)
        .map { case (v, g) => v -> g.map(_._2 + 1).sum.toDouble / g.size }
      vs.map(byV)
    }
    val (ra, rb) = (avgRanks(tx), avgRanks(ty))
    val nn = ra.size.toDouble
    val (sa, sb) = (ra.sum, rb.sum)
    val (saa, sbb) = (ra.map(v => v * v).sum, rb.map(v => v * v).sum)
    val sab = ra.zip(rb).map { case (a, b) => a * b }.sum
    val want = (nn * sab - sa * sb) /
      math.sqrt((nn * saa - sa * sa) * (nn * sbb - sb * sb))
    assert(math.abs(out("tied")._2.get - want) < 1e-6,
      s"tied: ${out("tied")._2} vs $want")
  }

  test("minVariancePortfolio: closed forms, KKT identity on the LW estimator, loud guards") {
    def solve(pairs: Seq[(String, String, Double)]) =
      operators.Backtest.minVariancePortfolio(
        pairs.toDF("key_a", "key_b", "shrunk_cov"))
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2)))).toMap
    // diagonal: weights ∝ 1/σ², pv = 1/Σ(1/σ²)
    val d = solve(Seq(("A", "A", 1.0), ("A", "B", 0.0), ("B", "B", 4.0)))
    assert(d("A") == ((0.8, 0.8)) && d("B") == ((0.2, 0.8)), s"got $d")
    // correlated 2×2 closed form: equal vols, ρ = 0.5 → equal weights,
    // pv = (1+ρ)/2
    val c = solve(Seq(("A", "A", 1.0), ("A", "B", 0.5), ("B", "B", 1.0)))
    assert(c("A") == ((0.5, 0.75)) && c("B") == ((0.5, 0.75)), s"got $c")
    // KKT on the real estimator chain: Σw must be (near-)constant
    var seed = 5L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val panel = (for (t <- 0 until 80; (k, mul) <- Seq("A" -> 1.0, "B" -> 2.0, "C" -> 0.5))
      yield (k, t.toLong, 10.0 + mul * nxt() + (if (k == "B") 0.3 * nxt() else 0.0)))
      .toDF("k", "t", "v")
    val cov = Relational.ledoitWolfConstCorr(panel, "k", "t", "v",
      scale = 1e6, pairScale = 1e4, termScale = 1e6)
    val w = operators.Backtest.minVariancePortfolio(cov)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(w.values.sum - 1.0) < 1e-5, s"weights must sum to 1: $w")
    val cm = cov.collect().map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Double]("shrunk_cov")).toMap
    def cv(a: String, b: String) = cm.getOrElse((a, b), cm((b, a)))
    val sw = Seq("A", "B", "C").map(i =>
      Seq("A", "B", "C").map(j => cv(i, j) * w(j)).sum)
    assert(sw.max - sw.min < 1e-4 * math.abs(sw.head),
      s"KKT: Sigma*w must be constant across assets, got $sw")
    // guards: missing pair, singular matrix
    intercept[IllegalArgumentException] {
      solve(Seq(("A", "A", 1.0), ("B", "B", 1.0)))
    }
    intercept[IllegalArgumentException] {
      solve(Seq(("A", "A", 1.0), ("A", "B", 1.0), ("B", "B", 1.0)))
    }
  }

  test("hrpPortfolio: diagonal = inverse-variance exactly, correlated block shares, long-only") {
    def solve(pairs: Seq[(String, String, Double)]) =
      operators.Backtest.hrpPortfolio(
        pairs.toDF("key_a", "key_b", "shrunk_cov"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // diagonal 4-asset: HRP == inverse variance EXACTLY
    val d = solve(Seq(("A", "A", 1.0), ("B", "B", 1.0), ("C", "C", 4.0),
      ("D", "D", 4.0), ("A", "B", 0.0), ("A", "C", 0.0), ("A", "D", 0.0),
      ("B", "C", 0.0), ("B", "D", 0.0), ("C", "D", 0.0)))
    assert(d == Map("A" -> 0.4, "B" -> 0.4, "C" -> 0.1, "D" -> 0.1), s"got $d")
    // a tightly correlated pair (A, B) must SHARE its bucket's risk:
    // the independent asset C gets more than either twin, the twins
    // stay (near-)equal, everything positive and summing to 1
    val c = solve(Seq(("A", "A", 1.0), ("B", "B", 1.0), ("C", "C", 1.0),
      ("A", "B", 0.95), ("A", "C", 0.0), ("B", "C", 0.0)))
    assert(math.abs(c.values.sum - 1.0) < 1e-5, s"weights must sum to 1: $c")
    assert(c.values.forall(_ > 0.0), s"HRP is long-only: $c")
    assert(c("C") > c("A") && c("C") > c("B"),
      s"independent asset must out-weigh the correlated twins: $c")
    assert(math.abs(c("A") - c("B")) < 1e-5, s"twins split evenly: $c")
    // guards: missing pair, non-positive variance
    intercept[IllegalArgumentException] {
      solve(Seq(("A", "A", 1.0), ("B", "B", 1.0)))
    }
    intercept[IllegalArgumentException] {
      solve(Seq(("A", "A", 0.0), ("A", "B", 0.0), ("B", "B", 1.0)))
    }
  }

  test("hrpIterative: diagonal = inverse-variance exactly, matches the raw-double solver on an LW-CC frame, guards raise") {
    def solve(pairs: Seq[(String, String, Double)]) =
      operators.Backtest.hrpIterative(
        pairs.toDF("key_a", "key_b", "shrunk_cov"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // diagonal 4-asset: quantized HRP == inverse variance EXACTLY (the
    // images round-trip without loss: block split 0.8/0.2, then 0.5)
    val d = solve(Seq(("A", "A", 1.0), ("B", "B", 1.0), ("C", "C", 4.0),
      ("D", "D", 4.0), ("A", "B", 0.0), ("A", "C", 0.0), ("A", "D", 0.0),
      ("B", "C", 0.0), ("B", "D", 0.0), ("C", "D", 0.0)))
    assert(d == Map("A" -> 0.4, "B" -> 0.4, "C" -> 0.1, "D" -> 0.1), s"got $d")
    // spec cross-check (the ercIterative/ercPortfolio pairing): the
    // quantized protocol must track the raw-double driver solver on a
    // realistic LW-CC shrunk frame — differences are quantization-floor
    // only (1e-6 images; distance ties resolved the same way on
    // tie-free data)
    val ks = Seq("A", "B", "C", "D", "E")
    val panel = (for {
      (kk, i) <- ks.zipWithIndex
      t <- 0 until 120
    } yield (kk, t.toLong,
      100.0 + 3.0 * math.sin(0.7 * t + i) +
        0.5 * math.cos(1.3 * t * (i + 1.0)) + 0.1 * i * math.sin(0.31 * t)))
      .toDF("k", "t", "v")
    val cov = Relational.ledoitWolfConstCorr(panel, "k", "t", "v",
      scale = 1e6, pairScale = 1e4, termScale = 1e6).localCheckpoint()
    val wi = operators.Backtest.hrpIterative(cov)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wd = operators.Backtest.hrpPortfolio(cov)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(wi.values.sum - 1.0) < 1e-5, s"sum to 1: $wi")
    assert(wi.values.forall(_ > 0.0), s"long-only: $wi")
    val dmax = ks.map(s => math.abs(wi(s) - wd(s))).max
    assert(dmax <= 1e-3,
      s"quantized vs raw-double HRP drifted $dmax > 1e-3:\n  iter=$wi\n  drv =$wd")
    // guards: unroll budget (3 keys into a 2-key budget), missing pair,
    // and the integer-envelope contract on the normalized diagonal
    val big = Seq(("A", "A", 1.0), ("B", "B", 1.0), ("C", "C", 1.0),
      ("A", "B", 0.0), ("A", "C", 0.0), ("B", "C", 0.0))
      .toDF("key_a", "key_b", "shrunk_cov")
    val e1 = intercept[IllegalArgumentException] {
      operators.Backtest.hrpIterative(big, merges = 1, levels = 1)
    }
    assert(e1.getMessage.contains("budget"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      solve(Seq(("A", "A", 1.0), ("B", "B", 1.0)))
    }
    assert(e2.getMessage.contains("missing cov"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      solve(Seq(("A", "A", 1.0), ("A", "B", 0.0), ("B", "B", 1e-9)))
    }
    assert(e3.getMessage.contains("outside [1e2, 1e9]"), e3.getMessage)
  }

  test("portfolioLedger: diagonal HRP == inverse-variance downstream; oversized pair frame trips the guard pre-collect") {
    // diagonal 2-asset cov: HRP == inverse variance (A var 1, B var 3
    // → 0.75/0.25) — so the rows-only HRP portfolio pipeline and the
    // hash-checked inverse-variance twin provably coincide here
    val cov = Seq(("A", "A", 1.0), ("A", "B", 0.0), ("B", "B", 3.0))
      .toDF("key_a", "key_b", "shrunk_cov")
    val wts = operators.Backtest.hrpPortfolio(cov)
      .withColumnRenamed("key", "k")
    assert(wts.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("A" -> 0.75, "B" -> 0.25))
    val led = Seq(("A", 1L, 0.01), ("A", 2L, -0.02),
      ("B", 1L, 0.005), ("B", 3L, 0.01)).toDF("k", "t", "pnl")
    val port = operators.Backtest.portfolioLedger(led, wts, Seq("k"), "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // t=1: both assets, 0.75·0.01 + 0.25·0.005; t=2: A only; t=3: B only
    assert(port == Seq(
      (1L, 2L, 0.00875, 0.00875, 0.0),
      (2L, 1L, -0.015, -0.00625, 0.015),
      (3L, 1L, 0.0025, -0.00375, 0.0125)), s"got $port")
    // guard-before-collect: a pair frame beyond the maxKeys triangle
    // raises the loud message from a BOUNDED probe (limit cap+1), never
    // a full collect — maxKeys=2 caps the triangle at 3 rows
    val big = Seq(("A", "A", 1.0), ("B", "B", 1.0), ("C", "C", 1.0),
      ("A", "B", 0.0)).toDF("key_a", "key_b", "shrunk_cov")
    val e1 = intercept[IllegalArgumentException] {
      operators.Backtest.minVariancePortfolio(big, maxKeys = 2)
    }
    assert(e1.getMessage.contains("exceeds the 2-key triangle"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      operators.Backtest.hrpPortfolio(big, maxKeys = 2)
    }
    assert(e2.getMessage.contains("exceeds the 2-key triangle"), e2.getMessage)
  }

  test("withAbdiRanaldo: pure-spread closed form, negative-cov floor, invalid and tail nulls") {
    import graft.functions.{windows => W, TaIndicators}
    // constant mid m = 100, spread s = 2: both quotes touched every
    // bar, close at the ask → s² = (ln((m+1)/(m−1)))² exactly
    val m = 100.0
    val bars = (0 until 6).map(i => ("S", i.toLong, m + 1.0, m - 1.0, m + 1.0)) ++
      // an engineered negative-covariance pair: close below its own
      // mid, next bar's mid far lower → product < 0 → floored spread 0
      Seq(("N", 0L, 101.0, 99.0, 99.0), ("N", 1L, 91.0, 89.0, 90.0)) ++
      // invalid bar (high < low) poisons itself and the previous pair
      Seq(("B", 0L, 101.0, 99.0, 100.0), ("B", 1L, 98.0, 99.0, 98.5))
    val df = bars.toDF("k", "t", "high", "low", "close")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = TaIndicators.withAbdiRanaldo(df, "high", "low", "close",
        W.series(Seq("k"), Seq("ts")), window = 3)
      .orderBy("k", "t").collect()
    def g(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      Option(r.getAs[Any](c)).map(_.asInstanceOf[Double])
    val byK = out.groupBy(_.getAs[String]("k"))
    // closed form: c − η = (ln(m+1) − ln(m−1))/2 each period
    val half = (math.log(m + 1.0) - math.log(m - 1.0)) / 2.0
    val s2 = 4.0 * half * half
    val sS = byK("S").sortBy(_.getAs[Long]("t"))
    sS.take(5).foreach { r =>
      assert(g(r, "ar_s2").contains(math.rint(s2 * 1e6) / 1e6), s"s2: $r")
      assert(g(r, "ar_spread").contains(math.rint(2.0 * half * 1e6) / 1e6))
    }
    assert(g(sS.last, "ar_s2").isEmpty, "last pair has no next bar")
    // rolling: null until 3 pairs accumulate, then the same constant
    assert(g(sS(1), "ar_spread_roll").isEmpty)
    assert(g(sS(2), "ar_spread_roll").contains(math.rint(2.0 * half * 1e6) / 1e6))
    // negative covariance floors to 0 spread but keeps the raw moment
    val n0 = byK("N").minBy(_.getAs[Long]("t"))
    assert(g(n0, "ar_s2").exists(_ < 0.0))
    assert(g(n0, "ar_spread").contains(0.0))
    // an invalid next bar leaves the pair estimate-less, not zero
    val b = byK("B").sortBy(_.getAs[Long]("t"))
    assert(g(b(0), "ar_s2").isEmpty && g(b(1), "ar_s2").isEmpty)
  }

  test("kalmanBeta: bit-exact JVM fold replay, convergence to true beta, null carry, x=0") {
    import graft.functions.{windows => W}
    import org.apache.spark.sql.expressions.Window
    val (q, r, p0) = (1e-4, 1.0, 1e6)
    // JVM replay of the exact update tree
    def fold(pairs: Seq[(Option[Double], Option[Double])]): Seq[Option[Double]] = {
      var beta: Option[Double] = None
      var p = p0
      pairs.map {
        case (Some(x), Some(y)) =>
          val prevB = beta.getOrElse(0.0)
          val pPred = p + q
          val k = pPred * x / (x * x * pPred + r)
          beta = Some(prevB + k * (y - prevB * x))
          p = (1.0 - k * x) * pPred
          beta
        case _ => beta
      }
    }
    // y = 2x + tiny noise: beta must land at ~2 after the diffuse start
    val xs = (1 to 40).map(i => 10.0 + (i % 7))
    val ys = xs.zipWithIndex.map { case (x, i) => 2.0 * x + 0.01 * (i % 3 - 1) }
    val rows = xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, Some(x), Some(y)) }
    val mixed = rows.take(5) ++ Seq((100L, None: Option[Double], Some(1.0)),
      (101L, Some(0.0), Some(5.0))) ++
      rows.drop(5).map { case (t, x, y) => (t + 200L, x, y) }
    val df = mixed.toDF("t", "x", "y")
    val w = Window.orderBy(col("t"))
    val out = df.select(col("t"), W.kalmanBeta(col("x"), col("y"), q, r, p0, w)
        .as("beta")).orderBy("t").collect()
      .map(rw => Option(rw.get(1)).map(_.asInstanceOf[Double]))
    val expect = fold(mixed.sortBy(_._1).map { case (_, x, y) => (x, y) })
    out.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: engine $g vs JVM fold $e") }
    // diffuse start: the very first estimate is already ~y/x
    assert(math.abs(out.head.get - ys.head / xs.head) < 1e-3)
    // convergence: the last estimate sits on the true hedge ratio
    assert(math.abs(out.last.get - 2.0) < 1e-3, s"got ${out.last}")
    // the null row (t=100) carried the previous state unchanged
    assert(out(5) == out(4))
    // leading nulls before any valid pair
    val lead = Seq((0L, None: Option[Double], Some(1.0)), (1L, Some(2.0), Some(4.0)))
      .toDF("t", "x", "y")
    val lo = lead.select(W.kalmanBeta(col("x"), col("y"), q, r, p0, w).as("b"))
      .orderBy("b").collect()
    assert(lo.exists(_.isNullAt(0)), "pre-first-pair rows emit null")
  }

  test("regimeProb: bit-exact JVM fold replay, closed forms, symmetry, carry") {
    import graft.functions.{windows => W}
    import org.apache.spark.sql.expressions.Window
    val (a01, a10, u0, u1) = (0.04, 0.04, 0.35, 0.65)
    // JVM replay of the exact update tree
    def fold(signs: Seq[Option[Double]], A01: Double = a01, A10: Double = a10,
             U0: Double = u0, U1: Double = u1): Seq[Option[Double]] = {
      var p: Option[Double] = None
      signs.map {
        case Some(s) if s != 0.0 =>
          val prior = p.map(v => v * (1.0 - A10) + (1.0 - v) * A01).getOrElse(0.5)
          val l1 = if (s > 0) U1 else 1.0 - U1
          val l0 = if (s > 0) U0 else 1.0 - U0
          val num = prior * l1
          p = Some(num / (num + (1.0 - prior) * l0))
          p
        case _ => p
      }
    }
    val signs: Seq[Option[Double]] =
      Seq(None, Some(1.0), Some(1.0), Some(-1.0), Some(0.0), Some(1.0),
        None, Some(-1.0), Some(-1.0), Some(1.0)) ++
        (1 to 20).map(i => Some(if (i % 3 == 0) -1.0 else 1.0))
    val df = signs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("t", "sgn")
    val w = Window.orderBy(col("t"))
    val out = df.select(col("t"),
        W.regimeProb(col("sgn"), a01, a10, u0, u1, w).as("p"))
      .orderBy("t").collect()
      .map(rw => Option(rw.get(1)).map(_.asInstanceOf[Double]))
    val expect = fold(signs)
    out.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: engine $g vs JVM fold $e") }
    // closed form: first up-tick from the uninformative prior lands
    // p = 0.5·u1 / (0.5·u1 + 0.5·u0) = u1/(u1+u0)
    assert(out(1).contains(0.5 * u1 / (0.5 * u1 + 0.5 * u0)))
    // null (t=0, t=6) and zero (t=4) signs carry the state
    assert(out(0).isEmpty && out(4) == out(3) && out(6) == out(5))
    // no-switching chain: a long up-run drives p → 1
    val run = (1 to 60).map(_ => Some(1.0): Option[Double])
    val runDf = run.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("t", "sgn")
    val pEnd = runDf.select(W.regimeProb(col("sgn"), 0.0, 0.0, u0, u1, w).as("p"))
      .agg(max(col("p"))).collect().head.getDouble(0)
    assert(pEnd > 1.0 - 1e-9, s"got $pEnd")
    // symmetry: with u0 = 1−u1 and a01 = a10, flipping every sign maps
    // the filter to its mirror — p'(flipped) = 1 − p' within 1e-12
    val flipped = signs.map(_.map(-_))
    val mirror = fold(flipped)
    out.zip(mirror).foreach {
      case (Some(g), Some(m)) => assert(math.abs(g - (1.0 - m)) < 1e-12)
      case (g, m) => assert(g.isEmpty == m.isEmpty)
    }
  }

  test("lzComplexity: closed forms, Kaspar–Schuster scanner equivalence, null/zero carry, per-series isolation") {
    import graft.functions.{windows => W}
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(col("t"))
    def run(signs: Seq[Option[Double]], key: String = "S"): Seq[Option[Int]] = {
      val df = signs.zipWithIndex.map { case (s, i) => (key, i.toLong, s) }
        .toDF("k", "t", "sgn")
      df.select(col("t"), W.lzComplexity(col("sgn"), w).as("c"))
        .orderBy("t").collect()
        .map(r => Option(r.get(1)).map(_.asInstanceOf[Int])).toSeq
    }
    // constant tape → complexity 2 (one phrase + the open run)
    assert(run(Seq.fill(16)(Some(1.0))).last.contains(2))
    // alternating tape → 3 (0 | 1 | 0101…)
    assert(run((1 to 16).map(i => Some(if (i % 2 == 0) 1.0 else -1.0))).last
      .contains(3))
    // Kaspar–Schuster's canonical 0001101001000101 → 6 phrases
    val ks = "0001101001000101".map(c => Some(if (c == '1') 1.0 else -1.0))
    assert(run(ks).last.contains(6), s"got ${run(ks).last}")
    // reference scanner (Kaspar & Schuster 1987) on pseudo-random tapes
    def scanner(s: String): Int = {
      var (tape, p, c) = ("", 0, 0)
      s.foreach { ch =>
        tape += ch
        if (!tape.substring(0, tape.length - 1).contains(tape.substring(p)))
          { c += 1; p = tape.length }
      }
      c + (if (p < tape.length) 1 else 0)
    }
    var seed = 11L
    def bit(): Boolean = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 62) % 2 == 0
    }
    (1 to 4).foreach { trial =>
      val tape = (1 to 40).map(_ => bit())
      val s = tape.map(b => if (b) 'u' else 'd').mkString
      val got = run(tape.map(b => Some(if (b) 1.0 else -1.0))).last
      assert(got.contains(scanner(s)), s"trial $trial: $got vs ${scanner(s)} on $s")
    }
    // null and zero signs carry the running count; leading nulls emit null
    val carried = run(Seq(None, Some(1.0), Some(0.0), Some(-1.0), None, Some(1.0)))
    assert(carried(0).isEmpty && carried(2) == carried(1) && carried(4) == carried(3))
    // per-series isolation: interleaved keys fold independently
    val two = (Seq.fill(8)(("A", Some(1.0))) ++
        (1 to 8).map(i => ("B", Some(if (i % 2 == 0) 1.0 else -1.0))))
      .zipWithIndex.map { case ((k, s), i) => (k, i.toLong, s) }
      .toDF("k", "t", "sgn")
    val byK = two.select(col("k"), W.lzComplexity(col("sgn"), w).as("c"))
      .groupBy(col("k")).agg(max(col("c")).as("c")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(byK == Map("A" -> 2, "B" -> 3), s"got $byK")
    // loud cost guard: a valid tape beyond maxTape raises mid-fold with
    // the actionable message instead of silently going O(n²); a tape AT
    // the budget is fine (null/zero rows don't count against it)
    val atBudget = (Seq(None, Some(0.0)) ++ Seq.fill(6)(Some(1.0)))
      .zipWithIndex.map { case (s, i) => ("S", i.toLong, s) }
      .toDF("k", "t", "sgn")
    assert(atBudget.select(W.lzComplexity(col("sgn"), w, maxTape = 6).as("c"))
      .agg(max(col("c"))).collect()(0).getInt(0) == 2)
    val over = intercept[Exception] {
      (1 to 8).map(i => ("S", i.toLong, Some(1.0))).toDF("k", "t", "sgn")
        .select(W.lzComplexity(col("sgn"), w, maxTape = 6).as("c"))
        .agg(max(col("c"))).collect()
    }
    def rootMsg(t: Throwable): String = {
      var cur = t
      val sb = new StringBuilder(cur.getMessage)
      while (cur.getCause != null) { cur = cur.getCause; sb.append(cur.getMessage) }
      sb.toString
    }
    assert(rootMsg(over).contains("exceeded maxTape=6"), rootMsg(over))
    assert(rootMsg(over).contains("BUCKETED sign tapes"), rootMsg(over))
  }

  test("minSpanningTree: hand MST, path chain, tie-break, disconnected") {
    import graft.operators.Relational
    def mst(rows: Seq[(String, String, Double)]) =
      Relational.minSpanningTree(rows.toDF("key_a", "key_b", "dist"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // K4 with a unique MST: A-B(1), B-C(2), C-D(1) in; A-C(5), A-D(6), B-D(7) out
    val k4 = mst(Seq(("A", "B", 1.0), ("B", "C", 2.0), ("C", "D", 1.0),
      ("A", "C", 5.0), ("A", "D", 6.0), ("B", "D", 7.0)))
    assert(k4 == Set(("A", "B"), ("B", "C"), ("C", "D")), s"got $k4")
    // path graph A-B-C-D-E with increasing weights: MST = the path itself
    val path = mst(Seq(("A", "B", 1.0), ("B", "C", 2.0), ("C", "D", 3.0),
      ("D", "E", 4.0)))
    assert(path == Set(("A", "B"), ("B", "C"), ("C", "D"), ("D", "E")))
    // equal weights everywhere: the (dq, a, b) tie-break elects the
    // lexicographically-first spanning star from A
    val tie = mst(Seq(("A", "B", 1.0), ("A", "C", 1.0), ("B", "C", 1.0)))
    assert(tie == Set(("A", "B"), ("A", "C")), s"got $tie")
    // disconnected graph: one tree per component, no bridge invented
    val dis = mst(Seq(("A", "B", 1.0), ("C", "D", 2.0)))
    assert(dis == Set(("A", "B"), ("C", "D")))
  }

  test("minSpanningTree shape: one sorted collect; random and path graphs equal a local Kruskal") {
    import graft.operators.Relational
    def kruskal(edges: Seq[(String, String, Long)]): Seq[(String, String, Double)] = {
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.sortBy { case (a, b, d) => (d, a, b) }.flatMap { case (a, b, d) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None else { parent(ra) = rb; Some((a, b, d.toDouble)) }
      }.sorted
    }
    def mst(edges: Seq[(String, String, Long)]) =
      jobsOf(Relational.minSpanningTree(
          edges.map { case (a, b, d) => (a, b, d.toDouble) }.toDF("key_a", "key_b", "dist"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq.sorted)
    // 64 nodes: a random spanning tree keeps the graph connected, random
    // chords add cycles; weights 1..3 force ties the (dq, a, b) order breaks
    val rnd = new scala.util.Random(7)
    val tree = (1 until 64).map { i => (rnd.nextInt(i), i) }
    val chords = for { i <- 0 until 64; j <- (i + 1) until 64 if rnd.nextInt(100) < 8 } yield (i, j)
    val random = (tree ++ chords).distinct.map { case (i, j) =>
      val Seq(a, b) = Seq("n" + i, "n" + j).sorted
      (a, b, (rnd.nextInt(3) + 1).toLong)
    }.distinctBy { case (a, b, _) => (a, b) }
    val (got, jobs) = mst(random)
    assert(got.size == 63 && got == kruskal(random),
      s"random graph: ${got.size} edges, diff ${got.diff(kruskal(random)).take(5)}")
    assert(jobs <= 2, s"minSpanningTree scheduled $jobs jobs on 64 nodes")
    // a 300-node path: one component chain 299 hops deep
    val path = (0 until 299).map(i => (f"p$i%03d", f"p${i + 1}%03d", (i % 3 + 1).toLong))
    val (gotPath, _) = mst(path)
    assert(gotPath == kruskal(path) && gotPath.size == 299)
  }

  test("leadingEigen: 2x2 closed form, diagonal selector, degenerate zero") {
    import graft.operators.Backtest
    def mk(rows: Seq[(String, String, Double)]) =
      rows.toDF("key_a", "key_b", "shrunk_cov")
    def byK(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getDouble(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // [[2,1],[1,2]]: eigvec (1,1)/√2 (hit EXACTLY from the all-ones
    // start in one round), λ = 3, share = 3/(2+2)
    val m = byK(Backtest.leadingEigen(
      mk(Seq(("A", "A", 2.0), ("A", "B", 1.0), ("B", "B", 2.0)))))
    val u = math.rint(1.0 / math.sqrt(2.0) * 1e6) / 1e6
    assert(m("A")._1 == u && m("B")._1 == u, s"got $m")
    assert(m("A")._2.contains(3.0) && m("A")._3.contains(0.75))
    // well-separated diagonal: the dominant key takes loading → 1,
    // eigenvalue → its variance, share → its trace fraction
    val d = byK(Backtest.leadingEigen(mk(Seq(
      ("A", "A", 9.0), ("B", "B", 0.01), ("C", "C", 0.01),
      ("A", "B", 0.0), ("A", "C", 0.0), ("B", "C", 0.0)))))
    assert(d("A")._1 == 1.0 && math.abs(d("B")._1) < 1e-5 &&
      math.abs(d("C")._1) < 1e-5, s"got $d")
    assert(math.abs(d("A")._2.get - 9.0) < 1e-5 &&
      math.abs(d("A")._3.get - 9.0 / 9.02) < 1e-4)
    // all-zero Σ degrades to zero loadings, not NaN
    val z = byK(Backtest.leadingEigen(mk(Seq(
      ("A", "A", 0.0), ("A", "B", 0.0), ("B", "B", 0.0)))))
    assert(z("A")._1 == 0.0 && z("B")._1 == 0.0)
  }

  test("ercPortfolio: diagonal ≡ inverse-vol, equal-corr ≡ equal weights, RC equality, guards") {
    import graft.operators.Backtest
    def mk(rows: Seq[(String, String, Double)]) =
      rows.toDF("key_a", "key_b", "shrunk_cov")
    // diagonal Σ: ERC optimum is EXACTLY inverse-vol — σ = (0.1, 0.2,
    // 0.4) → w ∝ (10, 5, 2.5) = (4/7, 2/7, 1/7)
    val diag = mk(Seq(("A", "A", 0.01), ("B", "B", 0.04), ("C", "C", 0.16),
      ("A", "B", 0.0), ("A", "C", 0.0), ("B", "C", 0.0)))
    val wd = Backtest.ercPortfolio(diag).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(wd("A") == math.rint(4.0 / 7.0 * 1e6) / 1e6, s"got $wd")
    assert(wd("B") == math.rint(2.0 / 7.0 * 1e6) / 1e6)
    assert(wd("C") == math.rint(1.0 / 7.0 * 1e6) / 1e6)
    // equal vol + equal correlation: symmetry forces equal weights
    val eq = mk(Seq(("A", "A", 0.04), ("B", "B", 0.04), ("C", "C", 0.04),
      ("A", "B", 0.02), ("A", "C", 0.02), ("B", "C", 0.02)))
    val we = Backtest.ercPortfolio(eq).collect().map(_.getDouble(1))
    assert(we.forall(_ == math.rint(1.0 / 3.0 * 1e6) / 1e6), s"got ${we.toSeq}")
    // a genuinely asymmetric correlated Σ: risk contributions
    // w_i·(Σw)_i must come out EQUAL (the definition), and ERC must
    // differ from plain inverse-vol (correlation matters)
    val cm = Array(
      Array(0.04, 0.018, 0.002),
      Array(0.018, 0.09, 0.006),
      Array(0.002, 0.006, 0.01))
    val gen = mk(Seq(("A", "A", cm(0)(0)), ("B", "B", cm(1)(1)), ("C", "C", cm(2)(2)),
      ("A", "B", cm(0)(1)), ("A", "C", cm(0)(2)), ("B", "C", cm(1)(2))))
    val wg = Backtest.ercPortfolio(gen).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = Array(wg("A"), wg("B"), wg("C"))
    val rc = (0 until 3).map(i => w(i) * (0 until 3).map(j => cm(i)(j) * w(j)).sum)
    rc.foreach(r => assert(math.abs(r - rc.head) < 1e-6,
      s"risk contributions must be equal: $rc"))
    val iv = Array(1.0 / 0.2, 1.0 / 0.3, 1.0 / 0.1)
    val ivw = iv.map(_ / iv.sum)
    assert(math.abs(w(0) - ivw(0)) > 1e-3,
      "correlated ERC must differ from inverse-vol")
    // guards: empty frame and oversized triangle raise loudly
    val e1 = intercept[IllegalArgumentException] {
      Backtest.ercPortfolio(mk(Seq.empty))
    }
    assert(e1.getMessage.contains("empty covariance frame"))
    val e2 = intercept[IllegalArgumentException] {
      Backtest.ercPortfolio(mk(Seq(("A", "A", 1.0), ("B", "B", 1.0),
        ("C", "C", 1.0), ("A", "B", 0.0))), maxKeys = 2)
    }
    assert(e2.getMessage.contains("exceeds the 2-key triangle"))
  }

  test("blackLitterman: zero uplift = market prior, diagonal closed-form posterior, relative-view tilt, guards") {
    import graft.operators.Backtest
    def mk(rows: Seq[(String, String, Double)]) =
      rows.toDF("key_a", "key_b", "shrunk_cov")
    val diag3 = mk(Seq(("A", "A", 1.0), ("B", "B", 4.0), ("C", "C", 2.0),
      ("A", "B", 0.0), ("A", "C", 0.0), ("B", "C", 0.0)))
    val absA = Seq((1, "A", 1000000L)).toDF("view_id", "key", "pq")
    // uplift = 0 → z = 0 → μ_BL = Π → w = w_mkt (ivq/ΣW): on this
    // frame w_mkt = (1/1, 1/4, 1/2)/1.75 and Π_i = δ σ²_i w_i = δ/1.75
    // for every key (inverse-variance prior equalizes implied returns)
    val w0 = Backtest.blackLitterman(diag3, absA, uplift = 0.0).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Double]("pi"), r.getAs[Double]("mu_bl"),
          r.getAs[Double]("weight")))).toMap
    val piE = 2.5 / 1.75
    Seq("A", "B", "C").foreach { k =>
      assert(math.abs(w0(k)._1 - piE) < 2e-6, s"pi: $w0")
      assert(math.abs(w0(k)._2 - piE) < 2e-6, s"mu=pi at zero uplift: $w0")
    }
    assert(math.abs(w0("A")._3 - 1.0 / 1.75) < 2e-4 &&
      math.abs(w0("B")._3 - 0.25 / 1.75) < 2e-4 &&
      math.abs(w0("C")._3 - 0.5 / 1.75) < 2e-4,
      s"zero-uplift weights must be the market prior: $w0")
    // absolute 20% view on A (diagonal frame → scalar posterior):
    // S = σ²_A = 1, A = 2τS = 0.1, r = 0.2·Π_A → z = 2Π_A,
    // μ_A = Π + τσ²_A z = Π·1.1, others unchanged; w_A = μ_A/σ²_A/δ
    val w1 = Backtest.blackLitterman(diag3, absA, uplift = 0.2).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Double]("mu_bl"), r.getAs[Double]("weight")))).toMap
    assert(math.abs(w1("A")._1 - piE * 1.1) < 1e-5, s"posterior: $w1")
    assert(math.abs(w1("B")._1 - piE) < 1e-5 &&
      math.abs(w1("C")._1 - piE) < 1e-5, s"untouched keys keep Π: $w1")
    assert(math.abs(w1("A")._2 - piE * 1.1 / 1.0 / 2.5) < 2e-4, s"w_A: $w1")
    assert(math.abs(w1("B")._2 - w0("B")._3) < 2e-4 &&
      math.abs(w1("C")._2 - w0("C")._3) < 2e-4,
      s"view is orthogonal to B/C on a diagonal frame: $w1")
    // K=2 with a RELATIVE view needs an implied spread to bite: on a
    // correlated frame Π is no longer flat, so A-over-B tilts A up
    val corr3 = mk(Seq(("A", "A", 1.0), ("B", "B", 4.0), ("C", "C", 2.0),
      ("A", "B", 0.8), ("A", "C", 0.2), ("B", "C", 0.4)))
    val rel = Seq((1, "A", 1000000L), (1, "B", -1000000L), (2, "C", 1000000L))
      .toDF("view_id", "key", "pq")
    val b0 = Backtest.blackLitterman(corr3, rel, uplift = 0.0).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Double]("weight")).toMap
    val b1 = Backtest.blackLitterman(corr3, rel, uplift = 0.3).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Double]("weight")).toMap
    // Π_A < Π_B on this frame (B carries 4× variance), so the A−B view
    // target (1+u)·(Π_A−Π_B) is MORE negative → tilts further toward B
    assert(b1("A") < b0("A") && b1("B") > b0("B"),
      s"relative view must tilt along its implied spread: $b0 vs $b1")
    // empty estimator frame → empty allocation (the hash-gated-sibling
    // convention), never a raise
    val empty = Backtest.blackLitterman(diag3.where(lit(false)), absA)
    assert(empty.columns.toSeq == Seq("key", "pi", "mu_bl", "weight") &&
      empty.count() == 0)
    // guards
    intercept[IllegalArgumentException] {
      Backtest.blackLitterman(diag3, absA, delta = 0.0) }
    intercept[IllegalArgumentException] {
      Backtest.blackLitterman(diag3,
        Seq((1, "A", 1000000L), (2, "B", 1000000L), (3, "C", 1000000L))
          .toDF("view_id", "key", "pq")) }
    intercept[Exception] {
      Backtest.blackLitterman(mk(Seq(("A", "A", 0.0), ("A", "B", 0.0),
        ("B", "B", 1.0))), absA).collect() }
  }

  test("runsTest: alternating/trending closed forms, zero-diff drop, degenerate one-sided tape") {
    // strictly alternating diffs: R = n (every move flips) → z > 0;
    // v = 10, 12, 10, 12 … over 21 points → 20 diffs, n₊ = n₋ = 10,
    // R = 20, μ = 2·100/20 + 1 = 11, σ² = 200·180/(400·19)
    val alt = (0 until 21).map(t => ("A", t.toLong, if (t % 2 == 0) 10.0 else 12.0))
    // two long monotone legs: 10 ups then 10 downs → R = 2 → z < 0
    val tr = (0 until 21).map(t =>
      ("T", t.toLong, if (t <= 10) 10.0 + t else 30.0 - t))
    // interior zero diffs drop before the runs scan
    val fz = Seq(("Z", 0L, 1.0), ("Z", 1L, 2.0), ("Z", 2L, 2.0),
      ("Z", 3L, 1.0), ("Z", 4L, 2.0))
    val df = (alt ++ tr).toDF("k", "hb", "v")
      .unionByName(fz.toDF("k", "hb", "v"))
    val out = Relational.runsTest(df, "k", "hb", "v").collect()
      .map(r => r.getAs[String]("key") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_pos") == 10L && a.getAs[Long]("n_neg") == 10L &&
      a.getAs[Long]("n_runs") == 20L, a.toString)
    assert(math.abs(a.getAs[Double]("expected_runs") - 11.0) < 1e-9, a.toString)
    val zExp = (20.0 - 11.0) / math.sqrt(200.0 * 180.0 / (400.0 * 19.0))
    assert(math.abs(a.getAs[Double]("z") - zExp) < 1e-5, a.toString)
    val tRow = out("T")
    assert(tRow.getAs[Long]("n_runs") == 2L && tRow.getAs[Double]("z") < -3.0,
      tRow.toString)
    // Z: diffs +1, 0(drop), −1, +1 → signs +,−,+ → R = 3, n₊=2, n₋=1
    val z = out("Z")
    assert(z.getAs[Long]("n_pos") == 2L && z.getAs[Long]("n_neg") == 1L &&
      z.getAs[Long]("n_runs") == 3L, z.toString)
    // one-sided tape: no down moves → z undefined (null), counts real
    val mono = (0 until 6).map(t => ("M", t.toLong, 1.0 + t)).toDF("k", "hb", "v")
    val m = Relational.runsTest(mono, "k", "hb", "v").collect().head
    assert(m.getAs[Long]("n_neg") == 0L && m.getAs[Long]("n_runs") == 1L &&
      m.isNullAt(m.fieldIndex("z")), m.toString)
  }

  test("dfa: hand replay of the quantized protocol, noise ≈ 0.5 vs walk ≈ 1.5, constant-series dropout") {
    // deterministic LCG noise and its cumsum (random-walk) twin
    var seed = 17L
    def nxt(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % 2000L).toDouble / 1000.0 - 1.0
    }
    val noise = (0 until 512).map(_ => nxt())
    val walk = noise.scanLeft(0.0)(_ + _).tail
    val rows = noise.zipWithIndex.map { case (v, t) => ("W", t.toLong, 10.0 + v) } ++
      walk.zipWithIndex.map { case (v, t) => ("B", t.toLong, 100.0 + v) } ++
      (0 until 128).map(t => ("C", t.toLong, 42.0))
    val df = rows.toDF("k", "hb", "v")
    val out = Relational.dfa(df, "k", "hb", "v").collect()
    val byKN = out.map(r => (r.getAs[String]("key"), r.getAs[Long]("n")) -> r).toMap
    // constant series: zero profile → zero fluctuation at every scale →
    // the key drops out entirely (no log of zero anywhere)
    assert(!out.exists(_.getAs[String]("key") == "C"), out.mkString(","))
    // scaling exponents: white noise ≈ 0.5, integrated walk ≈ 1.5
    val aW = byKN(("W", 8L)).getAs[Double]("alpha")
    val aB = byKN(("B", 8L)).getAs[Double]("alpha")
    assert(aW > 0.3 && aW < 0.7, s"white-noise alpha: $aW")
    assert(aB > 1.25 && aB < 1.75, s"random-walk alpha: $aB")
    // hand replay of the full quantized protocol for key W
    val vq = noise.map(v => math.floor((10.0 + v) * 1e4).toLong)
    val nTot = vq.length
    val sv = vq.sum
    val cum = vq.scanLeft(0L)(_ + _).tail
    val yt = cum.zipWithIndex.map { case (c, i) => nTot * c - (i + 1).toLong * sv }
    def fOf(n: Int): Double = {
      val sxl = n.toLong * (n - 1) / 2
      val den = (n * ((n.toLong - 1) * n * (2L * n - 1) / 6) - sxl * sxl).toDouble
      val sseqs = yt.grouped(n).filter(_.length == n).map { seg =>
        val sy = seg.map(BigInt(_)).sum.toDouble
        val sxy = seg.zipWithIndex.map { case (y, i) => BigInt(y) * i }.sum.toDouble
        val syy = seg.map(y => BigInt(y) * y).sum.toDouble
        val b = (n.toDouble * sxy - sxl.toDouble * sy) / den
        val a = (sy - b * sxl.toDouble) / n.toDouble
        math.round((syy - a * sy - b * sxy) /
          (nTot.toDouble * nTot.toDouble))
      }.toSeq
      val f2 = sseqs.sum.toDouble / (sseqs.length.toDouble * n.toDouble)
      math.floor(math.sqrt(f2) / 1e4 * 1e6) / 1e6
    }
    Seq(8, 16, 32, 64).foreach { n =>
      val got = byKN(("W", n.toLong)).getAs[Double]("f_n")
      assert(math.abs(got - fOf(n)) < 2e-6, s"f_$n: got $got want ${fOf(n)}")
    }
    val lxy = Seq(8, 16, 32, 64).map(n => (math.log(n.toDouble), math.log(fOf(n))))
    val ns4 = 4.0
    val (sx, sy2) = (lxy.map(_._1).sum, lxy.map(_._2).sum)
    val sxy2 = lxy.map(p => p._1 * p._2).sum
    val sxx2 = lxy.map(p => p._1 * p._1).sum
    val expAlpha = (ns4 * sxy2 - sx * sy2) / (ns4 * sxx2 - sx * sx)
    assert(math.abs(aW - expAlpha) < 1e-4, s"alpha: got $aW want $expAlpha")
    // guards
    intercept[IllegalArgumentException] {
      Relational.dfa(df, "k", "hb", "v", ns = Seq(2)) }
    intercept[IllegalArgumentException] {
      Relational.dfa(df, "k", "hb", "v", ns = Seq(8, 8)) }
  }

  test("brinsonAttribution: equal-variance null effect, hand closed form, universe filter, zero-variance guard") {
    import graft.operators.Backtest
    def hourly(rows: Seq[(String, Int, Double)]) = rows.map { case (k, t, v) =>
      (k, t.toLong, v) }.toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t * 3600000000)"))
    // equal variances → wp = wb exactly → every allocation effect 0
    val eq = hourly(Seq(("A", 0, 100.0), ("A", 1, 102.0),
      ("B", 0, 50.0), ("B", 1, 51.0)))
    val e = Backtest.brinsonAttribution(eq, "k", "ts", "v").collect()
    // var images differ (A: ±1e4 around mean ⇒ varq 1e8; B: ±0.5e4 ⇒
    // 2.5e7) — so instead pin the identity Σ alloc = active return
    val wps = e.map(_.getAs[Double]("w_port")).sum
    val wbs = e.map(_.getAs[Double]("w_bench")).sum
    assert(math.abs(wps - 1.0) < 1e-5 && math.abs(wbs - 1.0) < 1e-5, e.mkString(","))
    val rb = e.map(r => r.getAs[Double]("w_bench") * r.getAs[Double]("ret")).sum
    val active = e.map(r =>
      (r.getAs[Double]("w_port") - r.getAs[Double]("w_bench")) *
        r.getAs[Double]("ret")).sum
    val allocSum = e.map(_.getAs[Double]("alloc")).sum
    assert(math.abs(allocSum - active) < 1e-5,
      s"single-level Brinson: Sigma alloc = active return; got $allocSum vs $active")
    // B has 4x less variance ⇒ the IVP portfolio overweights B
    val byK = e.map(r => r.getAs[String]("key") -> r).toMap
    assert(byK("B").getAs[Double]("w_port") > byK("B").getAs[Double]("w_bench"), e.mkString(","))
    assert(byK("A").getAs[Double]("w_port") < byK("A").getAs[Double]("w_bench"), e.mkString(","))
    // hand closed form for B's allocation effect from the quantized images
    val (vqA, vqB) = (1e8, 2.5e7) // round(((n·svv − sv²)/n²)) images
    val wpqA = math.round(1e6 * vqB / vqA); val wpqB = 1000000L
    val (rqA, rqB) = (math.round(0.02 * 1e6), math.round(0.02 * 1e6))
    val swp = wpqA + wpqB; val swb = 1000000L
    val rbE = (500000L * rqA + 500000L * rqB).toDouble / (swb.toDouble * 1e6)
    val allocB = (wpqB.toDouble / swp - 0.5) * (rqB / 1e6 - rbE)
    assert(math.abs(byK("B").getAs[Double]("alloc") - allocB) < 2e-6, e.mkString(","))
    // a key with a non-positive first price leaves the universe
    val filt = Backtest.brinsonAttribution(hourly(Seq(
      ("A", 0, 100.0), ("A", 1, 101.0), ("B", 0, 60.0), ("B", 1, 63.0),
      ("N", 0, -5.0), ("N", 1, 10.0))), "k", "ts", "v").collect()
    assert(filt.map(_.getAs[String]("key")).toSet == Set("A", "B"), filt.mkString(","))
    // constant series raises loudly
    intercept[Exception] {
      Backtest.brinsonAttribution(hourly(Seq(
        ("A", 0, 100.0), ("A", 1, 100.0), ("B", 0, 50.0), ("B", 1, 51.0))),
        "k", "ts", "v").collect()
    }
  }

  test("minVarianceCG: quantized fixed-rounds CG ≡ exact Gauss-Jordan solve (closed forms + LW estimator chain)") {
    import graft.operators.Backtest
    def mk(rows: Seq[(String, String, Double)]) =
      rows.toDF("key_a", "key_b", "shrunk_cov")
    // diagonal closed form: weights ∝ 1/σ², pv = 1/Σ(1/σ²)
    val d = Backtest.minVarianceCG(mk(Seq(("A", "A", 1.0), ("A", "B", 0.0),
        ("B", "B", 4.0)))).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(d("A")._1 - 0.8) < 2e-6 && math.abs(d("B")._1 - 0.2) < 2e-6,
      s"got $d")
    assert(math.abs(d("A")._2 - 0.8) < 2e-6, s"pv: $d")
    // correlated 2×2: equal vols, ρ=0.5 → equal weights, pv=(1+ρ)/2
    val c = Backtest.minVarianceCG(mk(Seq(("A", "A", 1.0), ("A", "B", 0.5),
        ("B", "B", 1.0)))).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(c("A")._1 - 0.5) < 2e-6 && math.abs(c("A")._2 - 0.75) < 2e-6,
      s"got $c")
    // the VERDICT r11 #1 gate: on the real LW-CC estimator chain the
    // quantized-iterative solve must match the exact driver-side
    // Gauss-Jordan within 1e-4 (measured: ≤ 2e-6 — the 6-dp floor)
    var seed = 5L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val panel = (for (t <- 0 until 80; (k, mul) <- Seq("A" -> 1.0, "B" -> 2.0, "C" -> 0.5))
      yield (k, t.toLong, 10.0 + mul * nxt() + (if (k == "B") 0.3 * nxt() else 0.0)))
      .toDF("k", "t", "v")
    val cov = Relational.ledoitWolfConstCorr(panel, "k", "t", "v",
      scale = 1e6, pairScale = 1e4, termScale = 1e6)
    val exact = Backtest.minVariancePortfolio(cov).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val cg = Backtest.minVarianceCG(cov).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cg.keySet == exact.keySet)
    cg.foreach { case (k, w) =>
      assert(math.abs(w - exact(k)) < 1e-4,
        s"CG vs exact at $k: $w vs ${exact(k)}")
    }
    assert(math.abs(cg.values.sum - 1.0) < 1e-5, s"weights sum to 1: $cg")
    // a frozen residual is harmless: extra rounds change nothing
    val more = Backtest.minVarianceCG(cov, rounds = 24).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(more == cg, s"rounds past exact-zero residual must freeze: $more vs $cg")
  }

  test("ercIterative: quantized damped-Jacobi ≡ exact sequential CCD (diagonal, symmetric, asymmetric RC equality)") {
    import graft.operators.Backtest
    def mk(rows: Seq[(String, String, Double)]) =
      rows.toDF("key_a", "key_b", "shrunk_cov")
    // diagonal Σ: optimum is EXACTLY inverse-vol (both solvers start
    // there; the Jacobi update is a fixpoint)
    val diag = mk(Seq(("A", "A", 0.01), ("B", "B", 0.04), ("C", "C", 0.16),
      ("A", "B", 0.0), ("A", "C", 0.0), ("B", "C", 0.0)))
    val wd = Backtest.ercIterative(diag).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(wd("A") - 4.0 / 7.0) < 2e-6, s"got $wd")
    assert(math.abs(wd("B") - 2.0 / 7.0) < 2e-6, s"got $wd")
    assert(math.abs(wd("C") - 1.0 / 7.0) < 2e-6, s"got $wd")
    // asymmetric correlated Σ: must agree with the exact CCD solve and
    // deliver equal risk contributions
    val cm = Array(
      Array(0.04, 0.018, 0.002),
      Array(0.018, 0.09, 0.006),
      Array(0.002, 0.006, 0.01))
    val gen = mk(Seq(("A", "A", cm(0)(0)), ("B", "B", cm(1)(1)), ("C", "C", cm(2)(2)),
      ("A", "B", cm(0)(1)), ("A", "C", cm(0)(2)), ("B", "C", cm(1)(2))))
    val exact = Backtest.ercPortfolio(gen).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val it = Backtest.ercIterative(gen).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    it.foreach { case (k, w) =>
      assert(math.abs(w - exact(k)) < 1e-4,
        s"Jacobi vs CCD at $k: $w vs ${exact(k)}")
    }
    val w = Array(it("A"), it("B"), it("C"))
    val rc = (0 until 3).map(i => w(i) * (0 until 3).map(j => cm(i)(j) * w(j)).sum)
    rc.foreach(r => assert(math.abs(r - rc.head) < 1e-5,
      s"risk contributions must be equal: $rc"))
    assert(math.abs(it.values.sum - 1.0) < 1e-5, s"weights sum to 1: $it")
  }

  test("averageUniqueness: hand concurrency, mean-1 weights, no-tick drop, bucket invariance") {
    import graft.operators.Labeling
    val ticks = (0L to 5L).map(t => ("S", t)).toDF("k", "ts")
    // A[0,2] B[1,3] overlap on ticks 1,2; C[4,5] alone; D covers no tick
    val spans = Seq(("S", "A", 0L, 2L), ("S", "B", 1L, 3L),
      ("S", "C", 4L, 5L), ("S", "D", 100L, 105L))
      .toDF("k", "id", "t0", "t1")
    def run(bucket: Long) =
      Labeling.averageUniqueness(ticks, spans, Seq("k"), "ts", "id",
          "t0", "t1", bucketUs = bucket)
        .orderBy("id").collect()
        .map(r => (r.getAs[String]("id"), r.getAs[Long]("n_ticks"),
          r.getAs[Double]("uniqueness"), r.getAs[Double]("weight")))
    val out = run(4L)
    // ū_A = mean(1, 1/2, 1/2) = 2/3; ū_B same; ū_C = 1; D drops.
    // weights w = ū·N/Σū over the exact ·10⁶ images: Σuq = 2,333,334
    assert(out.map(_._1).toSeq == Seq("A", "B", "C"), s"D must drop: ${out.toSeq}")
    assert(out.map(_._2).toSeq == Seq(3L, 3L, 2L))
    assert(out(0)._3 == 0.666667 && out(1)._3 == 0.666667 && out(2)._3 == 1.0)
    assert(out(0)._4 == math.rint(666667.0 * 3 / 2333334.0 * 1e6) / 1e6)
    assert(out(2)._4 == math.rint(1000000.0 * 3 / 2333334.0 * 1e6) / 1e6)
    // weights sum to N (mean 1) up to 6-dp rounding
    assert(math.abs(out.map(_._4).sum - 3.0) < 3e-6)
    // bucket width changes the fan-out, never the answer
    assert(run(1L).toSeq == out.toSeq && run(1000L).toSeq == out.toSeq)
  }

  test("sadf: direct-OLS t parity, explosive sentinel, mean-reversion sign, degenerate nulls") {
    import graft.functions.TaIndicators
    def run(vals: Seq[Double], windows: Seq[Int]) = {
      val df = vals.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }
        .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
      TaIndicators.sadf(df, Seq("k"), "ts", "v", "t", windows)
        .orderBy("t").collect()
    }
    // noisy mean-reverting fixture: direct double OLS of d on (1, x)
    // must match the exact-integer engine path at 6 dp
    val vals = Seq(10.0, 10.4, 9.8, 10.5, 9.7, 10.2, 10.0, 10.6, 9.9,
      10.3, 9.8, 10.4)
    val out = run(vals, windows = Seq(5, 8))
    val c = vals.map(v => math.rint(v * 100.0))
    def adfT(n: Int, i: Int): Option[Double] = {
      if (i - n < 0) None else {
        val xs = (i - n + 1 to i).map(j => c(j - 1))
        val ds = (i - n + 1 to i).map(j => c(j) - c(j - 1))
        val xb = xs.sum / n.toDouble; val db = ds.sum / n.toDouble
        val sxy = xs.zip(ds).map { case (x, d) => (x - xb) * (d - db) }.sum
        val sxx = xs.map(x => (x - xb) * (x - xb)).sum
        if (sxx == 0.0) None else {
          val b = sxy / sxx
          val sse = xs.zip(ds).map { case (x, d) =>
            val e = d - db - b * (x - xb); e * e }.sum
          Some(b / math.sqrt(sse / (n - 2) / sxx))
        }
      }
    }
    vals.indices.foreach { i =>
      val cand = Seq(5, 8).flatMap(n =>
        adfT(n, i).map(t => n -> math.rint(t * 1e6) / 1e6))
      val r = out(i)
      if (cand.isEmpty)
        assert(r.isNullAt(r.fieldIndex("sadf")), s"row $i should be null")
      else {
        val best = cand.reduceLeft((a, b) => if (a._2 >= b._2) a else b)
        assert(r.getAs[Int]("best_window") == best._1, s"row $i window")
        assert(math.abs(r.getAs[Double]("sadf") - best._2) < 2e-6,
          s"row $i t: engine ${r.getAs[Double]("sadf")} vs direct ${best._2}")
      }
    }
    // exactly explosive series c_t = 2^t: d_t = x_t EXACTLY → residual-
    // free positive fit → the +1e9 sentinel
    val expo = run((0 until 8).map(i => math.pow(2.0, i.toDouble)), Seq(5))
    assert(expo.last.getAs[Double]("sadf") == 1e9)
    assert(expo.last.getAs[Int]("best_window") == 5)
    // strongly mean-reverting tape → negative sup
    assert(out.last.getAs[Double]("sadf") < 0.0,
      s"zig-zag must read mean-reverting: ${out.last}")
    // constant series: den = 0 on every rung → all null
    val flat = run(Seq.fill(10)(7.0), Seq(5))
    assert(flat.forall(_.isNullAt(flat(0).fieldIndex("sadf"))))
  }

  test("runBars: two-counter fold, closes where imbalance would not, flat carry, tail partial") {
    import graft.operators.Resample
    // prices → deltas +,+,−,+,+,+ → signs 0,+,+,−,+,+,+ (leading 0)
    val px = Seq(10.0, 11.0, 12.0, 11.0, 12.0, 13.0, 14.0)
    val df = px.zipWithIndex.map { case (p, i) => ("S", i.toLong, p) }
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val bars = Resample.runBars(df, "ts", "p", "t", Seq("k"), threshold = 3L)
      .orderBy("bar_id").collect()
    // fold: (ups,dns) 0,0 → 1,0 → 2,0 → 2,1 → 3,1 CLOSES at row 4
    // (the signed imbalance there is only 2 — an imbalance bar at the
    // same threshold would NOT close: runs ≠ imbalance)
    assert(bars.length == 2)
    val b0 = bars(0)
    assert(b0.getAs[Long]("n_ticks") == 5 && b0.getAs[Long]("n_up") == 3
      && b0.getAs[Long]("n_dn") == 1, s"bar0: $b0")
    assert(b0.getAs[Double]("open") == 10.0 && b0.getAs[Double]("close") == 12.0
      && b0.getAs[Double]("high") == 12.0 && b0.getAs[Double]("low") == 10.0)
    val b1 = bars(1)
    assert(b1.getAs[Long]("n_ticks") == 2 && b1.getAs[Long]("n_up") == 2
      && b1.getAs[Long]("n_dn") == 0, s"tail bar: $b1")
    // cross-check: at the same threshold the IMBALANCE clock needs one
    // more tick (the −1 cancels a +1: net hits 3 only at row 5, runs
    // already hit 3 ups at row 4) — runs ≠ imbalance
    val imb = Resample.imbalanceBars(df, "ts", "p", "t", Seq("k"), threshold = 3L)
      .orderBy("bar_id").collect()
    assert(imb(0).getAs[Long]("n_ticks") == 6,
      s"imbalance bar closes one tick later: ${imb.toSeq}")
    // flat ticks carry the previous sign into the run counters
    val flat = Seq(10.0, 11.0, 11.0, 11.0).zipWithIndex
      .map { case (p, i) => ("F", i.toLong, p) }
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val fb = Resample.runBars(flat, "ts", "p", "t", Seq("k"), threshold = 3L)
      .orderBy("bar_id").collect()
    // one real up-move + two carried flats = 3 ups → the bar closes WITH
    // the final row (nothing left to open bar 1)
    assert(fb.length == 1 && fb(0).getAs[Long]("n_up") == 3
      && fb(0).getAs[Long]("n_ticks") == 4,
      s"carried + signs close the bar at row 3: ${fb.toSeq}")
  }

  test("permutationEntropy: monotone → 0, alternating → ln2/ln6, flat ties, warm-up nulls") {
    import graft.functions.TaIndicators
    def run(vals: Seq[Double], window: Int) = {
      val df = vals.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }
        .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
      TaIndicators.permutationEntropy(df, Seq("k"), "ts", "v", "t", window)
        .orderBy("t").collect()
    }
    // strictly increasing: every pattern is 0 → entropy exactly 0
    val inc = run((1 to 6).map(_.toDouble), window = 3)
    assert(inc.take(2).forall(_.isNullAt(inc(0).fieldIndex("pattern"))),
      "first 2 rows have no triple")
    assert(inc.take(3).forall(_.isNullAt(inc(0).fieldIndex("perm_entropy"))),
      "entropy needs 3 patterns (row index 4 on)")
    assert(inc.drop(4).forall(r => r.getAs[Double]("perm_entropy") == 0.0))
    assert(inc.drop(2).forall(_.getAs[Long]("pattern") == 0L))
    // alternating zig-zag: patterns alternate 2,4,2,4 → a 2/2 split over
    // window 4 → H = ln2/ln6
    val zig = run(Seq(1.0, 3.0, 2.0, 4.0, 3.0, 5.0), window = 4)
    assert(zig.drop(2).map(_.getAs[Long]("pattern")).toSeq == Seq(2L, 4L, 2L, 4L))
    assert(zig(5).getAs[Double]("perm_entropy") ==
      math.rint(math.log(2.0) / math.log(6.0) * 1e6) / 1e6)
    // flat triples: strict compares all false → pattern 0 (stable-tie,
    // time-order convention)
    val fl = run(Seq(5.0, 5.0, 5.0, 5.0), window = 2)
    assert(fl.drop(2).forall(_.getAs[Long]("pattern") == 0L))
    assert(fl(3).getAs[Double]("perm_entropy") == 0.0)
  }

  test("cscvPbo: anti-correlated strategies → PBO 1, dominant strategy → PBO 0, exact ω/λ") {
    import graft.operators.Backtest
    def mk(rows: Seq[(String, Long, Double)]) =
      rows.toDF("s", "t", "r").withColumn("ts", expr("timestamp_micros(t)"))
    // 2 blocks over ts 0..3 (step 2). A wins block 0, loses block 1 and
    // vice versa → every combination's IS winner is the OOS loser
    val anti = mk(Seq(("A", 0L, 0.1), ("A", 1L, 0.1), ("B", 0L, -0.1), ("B", 1L, -0.1),
      ("A", 2L, -0.2), ("A", 3L, -0.2), ("B", 2L, 0.2), ("B", 3L, 0.2)))
    val outA = Backtest.cscvPbo(anti, "s", "ts", "r", blocks = 2)
      .orderBy("combo_id").collect()
    assert(outA.length == 2)
    outA.foreach { r =>
      assert(r.getAs[Long]("oos_rank") == 1L && r.getAs[Long]("overfit") == 1L)
      // ω = 1/3 → λ = ln(1/2)
      assert(r.getAs[Double]("omega") == math.rint(1.0 / 3.0 * 1e6) / 1e6)
      assert(r.getAs[Double]("lambda") ==
        math.rint(math.log(0.5) * 1e6) / 1e6)
      assert(r.getAs[Double]("pbo") == 1.0)
    }
    assert(outA(0).getAs[String]("best_strategy") == "A"
      && outA(1).getAs[String]("best_strategy") == "B")
    // A dominates everywhere → elected and top-ranked OOS in both
    // combos: ω = 2/3, λ = ln 2, PBO 0
    val dom = mk(Seq(("A", 0L, 0.1), ("A", 1L, 0.1), ("B", 0L, -0.1), ("B", 1L, -0.1),
      ("A", 2L, 0.1), ("A", 3L, 0.1), ("B", 2L, -0.1), ("B", 3L, -0.1)))
    val outD = Backtest.cscvPbo(dom, "s", "ts", "r", blocks = 2)
      .orderBy("combo_id").collect()
    outD.foreach { r =>
      assert(r.getAs[String]("best_strategy") == "A")
      assert(r.getAs[Long]("oos_rank") == 2L && r.getAs[Long]("overfit") == 0L)
      assert(r.getAs[Double]("lambda") ==
        math.rint(math.log(2.0) * 1e6) / 1e6)
      assert(r.getAs[Double]("pbo") == 0.0)
    }
    // the combo enumeration is lexicographic and halves the blocks
    assert(Backtest.cscvCombos(4).filter(_._1 == 0L).map(c => (c._2, c._3)) ==
      Seq((0L, 1), (1L, 1), (2L, 0), (3L, 0)))
  }

  test("trendScanLabel: direct-OLS parity incl. L≡2 mod 4, linear sentinel, shortest-span tie, tail nulls") {
    import graft.operators.Labeling
    // noisy up-trend, spans (3, 6): 6 ≡ 2 mod 4 exercises the exact
    // n·Sxx = L²(L²−1)/12 denominator (L(L²−1)/12 alone truncates to 17
    // for L=6; the true value is 17.5)
    val vals = Seq(10.0, 10.3, 9.9, 10.8, 11.2, 11.1,
                   11.9, 12.4, 12.2, 13.0, 12.7, 13.5)
    val df = vals.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }
      .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val out = Labeling.trendScanLabel(df, Seq("k"), "ts", "v", "t",
        spans = Seq(3, 6)).orderBy("t").collect()
    // direct double OLS on the quantized series c = round(v·100)
    def ols(l: Int, i: Int): Option[(Double, Double)] =
      if (i + l > vals.length) None else {
        val c = vals.slice(i, i + l).map(v => math.rint(v * 100.0))
        val xs = (0 until l).map(_.toDouble)
        val xb = xs.sum / l; val yb = c.sum / l
        val sxy = xs.zip(c).map { case (x, y) => (x - xb) * (y - yb) }.sum
        val sxx = xs.map(x => (x - xb) * (x - xb)).sum
        val slope = sxy / sxx
        val sse = xs.zip(c).map { case (x, y) =>
          val e = y - yb - slope * (x - xb); e * e }.sum
        Some((slope / math.sqrt(sse / ((l - 2) * sxx)), slope / 100.0))
      }
    vals.indices.foreach { i =>
      val cand = Seq(3, 6).flatMap(l => ols(l, i).map(l -> _))
      val r = out(i)
      if (cand.isEmpty) {
        assert(r.isNullAt(r.fieldIndex("best_span")), s"row $i should purge")
        assert(r.isNullAt(r.fieldIndex("label")), s"row $i should purge")
      } else {
        // shortest span wins ties on rounded |t| — mirror the election
        val best = cand.map { case (l, (t, s)) =>
          (l, math.rint(t * 1e6) / 1e6, s) }
          .reduceLeft { (a, b) => if (math.abs(a._2) >= math.abs(b._2)) a else b }
        assert(r.getAs[Int]("best_span") == best._1, s"row $i span")
        assert(math.abs(r.getAs[Double]("t_value") - best._2) < 2e-6,
          s"row $i t: engine ${r.getAs[Double]("t_value")} vs direct ${best._2}")
        assert(math.abs(r.getAs[Double]("slope") - best._3) < 2e-6,
          s"row $i slope")
        assert(r.getAs[Long]("label") == math.signum(best._3).toLong,
          s"row $i label")
      }
    }
    // an exactly linear series: residual-free fit for EVERY span → the
    // ±1e9 sentinel, tie on |t| → SHORTEST span elected; sign follows
    // the slope; the final rows where no span fits stay null
    val lin = (0 until 8).map(i => ("L", i.toLong, 50.0 - 2.0 * i))
      .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val lout = Labeling.trendScanLabel(lin, Seq("k"), "ts", "v", "t",
        spans = Seq(3, 6)).orderBy("t").collect()
    assert(lout(0).getAs[Int]("best_span") == 3)
    assert(lout(0).getAs[Double]("t_value") == -1e9)
    assert(lout(0).getAs[Long]("label") == -1L)
    assert(math.abs(lout(0).getAs[Double]("slope") - (-2.0)) < 1e-9)
    assert(lout.takeRight(2).forall(_.isNullAt(lout(0).fieldIndex("label"))),
      "no span fits the last 2 rows")
    // flat series: num = 0, sse = 0 → t = 0, label 0
    val flat = (0 until 6).map(i => ("F", i.toLong, 7.0))
      .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val fout = Labeling.trendScanLabel(flat, Seq("k"), "ts", "v", "t",
        spans = Seq(3)).orderBy("t").collect()
    assert(fout(0).getAs[Double]("t_value") == 0.0)
    assert(fout(0).getAs[Long]("label") == 0L)
  }

  test("fracDiffWeights: closed forms at d=0/1, binomial identity, truncation") {
    import graft.functions.TaIndicators
    assert(TaIndicators.fracDiffWeights(0.0, 1e-2, 64).toSeq == Seq(1.0))
    assert(TaIndicators.fracDiffWeights(1.0, 1e-2, 64).toSeq == Seq(1.0, -1.0))
    // w_k = (−1)^k · C(d, k) — check the recurrence against the direct
    // product form ∏_{j=1..k} (j−1−d)/j for d = 0.4
    val w = TaIndicators.fracDiffWeights(0.4, 1e-2, 64)
    (1 until w.length).foreach { k =>
      val direct = (1 to k).map(j => (j - 1 - 0.4) / j).product
      assert(math.abs(w(k) - direct) < 1e-12, s"k=$k: ${w(k)} vs $direct")
    }
    assert(w.length == 11, s"d=0.4 @ 1e-2 truncates at L=11, got ${w.length}")
    assert(w.drop(1).forall(_ < 0.0), "0<d<1 tail weights are all negative")
    assert(math.abs(w.last) >= 1e-2 &&
      math.abs(-w.last * (0.4 - w.length + 1.0) / w.length) < 1e-2,
      "truncation stops at the FIRST sub-threshold weight")
    // maxWidth caps the window even when the threshold never bites
    assert(TaIndicators.fracDiffWeights(0.4, 1e-12, 8).length == 8)
  }

  test("fracDiff: d=1 ≡ first difference, warm-up nulls, null rows dropped") {
    import graft.functions.TaIndicators
    val df = Seq(("K", 1L, Some(10.0)), ("K", 2L, Some(12.5)),
      ("K", 3L, None), ("K", 4L, Some(11.0)), ("K", 5L, Some(14.0)),
      ("J", 1L, Some(5.0)), ("J", 2L, Some(5.0)))
      .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val out = TaIndicators.fracDiff(df, Seq("k"), "ts", "v", "t", d = 1.0)
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("t"),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    // the null row drops entirely; diffs skip over it (t=4 diffs vs t=2)
    assert(out.toSeq == Seq(
      ("J", 1L, None), ("J", 2L, Some(0.0)),
      ("K", 1L, None), ("K", 2L, Some(2.5)),
      ("K", 4L, Some(-1.5)), ("K", 5L, Some(3.0))))
    // fractional d: spot-check one full-window row against the direct
    // dot product over the last L values
    val wts = TaIndicators.fracDiffWeights(0.6, 1e-1, 64)
    val vals = (1 to 12).map(i => 100.0 + 3.0 * i + (i % 3))
    val df2 = vals.zipWithIndex.map { case (v, i) => ("S", i.toLong, v) }
      .toDF("k", "t", "v").withColumn("ts", expr("timestamp_micros(t)"))
    val got = TaIndicators.fracDiff(df2, Seq("k"), "ts", "v", "t",
        d = 0.6, threshold = 1e-1)
      .orderBy("t").collect().map(r => Option(r.get(4)))
    val l = wts.length
    val expect = wts.indices.map(j => wts(j) * vals(l - 1 - j)).sum
    assert(got(l - 1).contains(math.rint(expect * 1e6) / 1e6))
    assert(got.take(l - 1).forall(_.isEmpty), "warm-up rows are null")
  }

  test("withCorwinSchultz: closed-form pairs, negative floor, invalid-range and tail nulls") {
    import graft.functions.TaIndicators
    def ref(h1: Double, l1: Double, h2: Double, l2: Double) = {
      val b = math.log(h1 / l1) * math.log(h1 / l1) +
        math.log(h2 / l2) * math.log(h2 / l2)
      val g = math.log(math.max(h1, h2) / math.min(l1, l2)) *
        math.log(math.max(h1, h2) / math.min(l1, l2))
      val a = (math.sqrt(2.0 * b) - math.sqrt(b)) / TaIndicators.CsDenom -
        math.sqrt(g / TaIndicators.CsDenom)
      val s = math.max(2.0 * (math.exp(a) - 1.0) / (1.0 + math.exp(a)), 0.0)
      (b, g, a, s)
    }
    val bars = Seq(
      ("K", 1L, 102.0, 100.0), // pure-spread pair with t2 → S > 0
      ("K", 2L, 102.0, 100.0), // pairs with t3
      ("K", 3L, 130.0, 110.0), // big disjoint range with t2 → α < 0 → floor
      ("K", 4L, 100.0, 0.0),   // invalid (zero low) → null, poisons t3? no — t3 pairs with t4: h2 null → null
      ("K", 5L, 99.0, 100.0),  // inverted → null
      ("K", 6L, 105.0, 101.0)) // last row → null (no next period)
      .toDF("k", "t", "high", "low")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val w = graft.functions.windows.series(Seq("k"), Seq("ts"))
    val out = TaIndicators.withCorwinSchultz(bars, "high", "low", w)
      .collect().map(r => r.getAs[Long]("t") ->
        ((Option(r.get(5)), Option(r.get(6)), Option(r.get(7)), Option(r.get(8)))))
      .toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val (b1, g1, a1, s1) = ref(102, 100, 102, 100)
    assert(out(1L) == ((Some(r6(b1)), Some(r6(g1)), Some(r6(a1)), Some(r6(s1)))))
    assert(s1 > 0.0, "the pure-spread pair must estimate a positive spread")
    val (b2, g2, a2, s2) = ref(102, 100, 130, 110)
    assert(a2 < 0.0 && s2 == 0.0, "volatility-dominated pair floors at 0")
    assert(out(2L) == ((Some(r6(b2)), Some(r6(g2)), Some(r6(a2)), Some(0.0))))
    // t3's next period is invalid, t4/t5 are themselves invalid, t6 is
    // the tail — all four emit only nulls
    Seq(3L, 4L, 5L, 6L).foreach(t =>
      assert(out(t) == ((None, None, None, None)), s"t=$t: ${out(t)}"))
  }

  test("diversificationRatio: sqrt(N) for equal independent bets, 1 for one bet, non-PSD null") {
    import graft.operators.Backtest
    def pairs(rows: (String, String, Double)*) =
      rows.toDF("key_a", "key_b", "shrunk_cov")
    def w(ws: (String, Double)*) = ws.toDF("key", "weight")
    // 4 equal independent bets at equal weight: DR = 2, ENB = 4 EXACTLY
    val diag = pairs(("A", "A", 0.01), ("B", "B", 0.01), ("C", "C", 0.01),
      ("D", "D", 0.01), ("A", "B", 0.0), ("A", "C", 0.0), ("A", "D", 0.0),
      ("B", "C", 0.0), ("B", "D", 0.0), ("C", "D", 0.0))
    val eq = w("A" -> 0.25, "B" -> 0.25, "C" -> 0.25, "D" -> 0.25)
    val r1 = Backtest.diversificationRatio(diag, eq).head()
    assert(r1.getLong(0) == 4L && r1.getDouble(1) == 2.0 && r1.getDouble(2) == 4.0)
    // two perfectly correlated assets: one bet — DR = 1, ENB = 1
    val one = pairs(("A", "A", 0.04), ("B", "B", 0.04), ("A", "B", 0.04))
    val r2 = Backtest.diversificationRatio(one, w("A" -> 0.5, "B" -> 0.5)).head()
    assert(r2.getDouble(1) == 1.0 && r2.getDouble(2) == 1.0)
    // a non-PSD frame (quadratic form negative) reports null, no clamp
    val bad = pairs(("A", "A", 0.01), ("B", "B", 0.01), ("A", "B", -0.02))
    val r3 = Backtest.diversificationRatio(bad, w("A" -> 0.5, "B" -> 0.5)).head()
    assert(r3.isNullAt(1) && r3.isNullAt(2))
  }

  test("cpcvSplit: pTest=1 reduces to purgedTimeSplit exactly; paths partition each group's test occurrences; multi-group purge") {
    val rows = (0 until 80).map(i => (i.toLong, i.toLong * 10))
      .toDF("id", "t").withColumn("ts", expr("timestamp_micros(t)"))
    // pTest = 1: splits ARE the k folds — roles must equal
    // purgedTimeSplit's column for column (split_id == fold)
    val single = Relational.cpcvSplit(rows, "id", "ts", k = 4, pTest = 1,
        horizonUs = 35L, embargoUs = 15L)
      .select(col("id"), col("ts_us"), col("split_id").as("fold"), col("role"))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val want = Relational.purgedTimeSplit(rows, "id", "ts", k = 4,
        horizonUs = 35L, embargoUs = 15L)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(single == want, "pTest=1 must reduce to purgedTimeSplit")
    // pTest = 2: 6 splits × 80 rows; every (split, sample) present
    val out = Relational.cpcvSplit(rows, "id", "ts", k = 4, pTest = 2,
      horizonUs = 35L, embargoUs = 15L).collect()
    assert(out.length == 6 * 80)
    // the test sets are exactly the 6 group pairs, in combination order
    val testGroups = out.filter(_.getAs[String]("role") == "test")
      .groupBy(_.getAs[Long]("split_id"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("fold")).distinct.sorted.toSeq }
    assert(testGroups == Map(0L -> Seq(0L, 1L), 1L -> Seq(0L, 2L),
      2L -> Seq(0L, 3L), 3L -> Seq(1L, 2L), 4L -> Seq(1L, 3L), 5L -> Seq(2L, 3L)))
    // each group's three test occurrences carry paths 0, 1, 2 (φ = C(3,1))
    (0L to 3L).foreach { g =>
      val paths = out.filter(r => r.getAs[String]("role") == "test" &&
          r.getAs[Long]("fold") == g)
        .map(r => r.getAs[Long]("split_id") -> r.getAs[Long]("path"))
        .distinct.sortBy(_._1).map(_._2).toSeq
      assert(paths == Seq(0L, 1L, 2L), s"group $g paths: $paths")
    }
    // multi-group purge: span 800µs, step 200 → group bounds at 200/400/600.
    // id 19 (t=190, horizon 35 → 225 crosses 200): purged in every split
    // where group 1 is a test group but id 19 itself is not test
    val r19 = out.filter(_.getAs[Long]("id") == 19L)
      .map(r => r.getAs[Long]("split_id") -> r.getAs[String]("role")).toMap
    assert(r19 == Map(0L -> "test", 1L -> "test", 2L -> "test",
      3L -> "purged", 4L -> "purged", 5L -> "train"), s"id 19 roles: $r19")
    // non-test rows never carry a path
    assert(out.forall(r => (r.getAs[String]("role") == "test") == !r.isNullAt(5)))
  }

  test("metaLabel: side-favorable touch = 1, adverse/timeout/no-bet = 0; passthrough leaves tripleBarrier intact") {
    import graft.operators.Labeling
    val rows = Seq( // (t µs, price, primary side)
      (0L, 100.0, 1.0),   // up touch (160 ≥ 150) with side +1  → meta 1
      (10L, 160.0, -1.0), // dn touch (100 ≤ 112) with side −1  → meta 1
      (20L, 100.0, -1.0), // up touch with side −1 (wrong way)  → meta 0
      (30L, 160.0, 0.0),  // dn touch but no bet                → meta 0
      (40L, 100.0, 1.0))  // no forward ticks → time barrier 0  → meta 0
      .toDF("t", "p", "side")
      .withColumn("k", lit("K"))
      .withColumn("ts", expr("timestamp_micros(t)"))
    val out = Labeling.metaLabel(rows, Seq("k"), "ts", "p", "t", "side",
        horizonUs = 100L, upPct = 0.5, dnPct = 0.3)
      .collect().map(r => r.getAs[Long]("ts_us") ->
        ((r.getAs[Long]("label"), r.getAs[Long]("meta_label")))).toMap
    assert(out == Map(0L -> ((1L, 1L)), 10L -> ((-1L, 1L)),
      20L -> ((1L, 0L)), 30L -> ((-1L, 0L)), 40L -> ((0L, 0L))), s"got $out")
    // passthrough default leaves the original operator column-identical
    val plain = Labeling.tripleBarrier(rows, Seq("k"), "ts", "p", "t",
      100L, 0.5, 0.3)
    assert(plain.columns.toSeq ==
      Seq("k", "ts_us", "price", "t_up_us", "t_dn_us", "label"))
  }

  test("deflatedSharpe: zero trial variance == undeflated PSR, dispersion deflates, invNorm closed forms, trial-count guard") {
    import graft.operators.Backtest
    // invNorm: exact median, standard two-sided 5% quantile, symmetry
    assert(Backtest.invNorm(0.5) == 0.0)
    assert(math.abs(Backtest.invNorm(0.975) - 1.959963984540054) < 1e-8)
    assert(math.abs(Backtest.invNorm(0.25) + Backtest.invNorm(0.75)) < 1e-9)
    val coeff = Backtest.dsrExpectedMaxCoeff(4)
    assert(coeff > 1.0 && coeff < 1.2, s"N=4 expected-max coeff: $coeff")
    def prices(trial: Int, wobble: Double): Seq[Double] =
      (0 until 50).map(i =>
        math.rint((100.0 + i * 0.2 + wobble * math.sin(i / 2.0)) * 100) / 100)
    def frame(wobbles: Seq[Double]) =
      (for ((w, tr) <- wobbles.zipWithIndex; (p, i) <- prices(tr, w).zipWithIndex)
        yield ("K", tr.toLong, (tr * 100 + i).toLong, p))
        .toDF("k", "trial", "t", "p")
        .withColumn("ts", expr("timestamp_micros(t)"))
        .withColumn("sig", expr( // per-trial lag: identical trials must
          // produce byte-identical signal sequences (a cross-boundary
          // lag would make trial 0's first row differ from the others')
          "sign(p - lag(p) over (partition by k, trial order by ts, t))"))
    // A: four IDENTICAL trials → V[SR_trials] = 0 → SR0 = 0 → the DSR z
    // must equal the undeflated PSR z EXACTLY (same machinery, zero
    // benchmark)
    val same = frame(Seq(5.0, 5.0, 5.0, 5.0))
    val a = Backtest.deflatedSharpe(same, Seq("k"), "ts", "p", "sig", "t",
      "trial", expectedTrials = 4).head()
    assert(a.getAs[Double]("var_sr_trials") == 0.0 && a.getAs[Double]("sr0") == 0.0)
    val psr = Backtest.probabilisticSharpe(same, Seq("k"), "ts", "p", "sig", "t")
      .head().getAs[Double]("psr_z")
    assert(a.getAs[Double]("dsr_z") == psr,
      s"zero-dispersion DSR must equal PSR: ${a.getAs[Double]("dsr_z")} vs $psr")
    // B: trials with different wobble → SR dispersion → a positive luck
    // benchmark that strictly deflates the z
    val mixed = frame(Seq(2.0, 5.0, 9.0, 14.0))
    val b = Backtest.deflatedSharpe(mixed, Seq("k"), "ts", "p", "sig", "t",
      "trial", expectedTrials = 4).head()
    assert(b.getAs[Double]("var_sr_trials") > 0.0 && b.getAs[Double]("sr0") > 0.0)
    val psrB = Backtest.probabilisticSharpe(mixed, Seq("k"), "ts", "p", "sig", "t")
      .head().getAs[Double]("psr_z")
    assert(b.getAs[Double]("dsr_z") < psrB,
      s"dispersion must deflate: ${b.getAs[Double]("dsr_z")} vs $psrB")
    // sr0 replays the closed form from the four 6-dp trial SRs
    val srts = Backtest.signalBacktest(mixed, Seq("k", "trial"), "ts", "p",
        "sig", "t")
      .collect().map(_.getAs[Double]("sharpe"))
    val qs = srts.map(s => math.round(s * 1e6))
    val varQ = (qs.map(q => q.toDouble * q).sum / 4.0 -
      (qs.sum.toDouble / 4.0) * (qs.sum.toDouble / 4.0)) / 1e12
    assert(b.getAs[Double]("sr0") ==
      math.rint(math.sqrt(varQ) * coeff * 1e6) / 1e6)
    // a key with the wrong trial count fails loudly
    val e = intercept[Exception] {
      Backtest.deflatedSharpe(mixed, Seq("k"), "ts", "p", "sig", "t",
        "trial", expectedTrials = 3).count()
    }
    assert(e.getMessage.contains("expectedTrials=3"), e.getMessage)
  }

  test("ewmBeta: exact linear recovery, sequential EWM reference agrees, warm-up nulls") {
    var seed = 31L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val xs = (0 until 40).map(_ => 10.0 + nxt())
    // L: exact line y = 2x + 3 → beta/intercept pin to 2/3 everywhere
    // after warm-up; N: noisy relation, checked against the sequential
    // EWM recursion
    val ys = xs.map(x => 2.0 * x + 3.0)
    val yn = xs.map(x => 1.5 * x + nxt())
    val rows = xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
      ("L", i.toLong, x, y) } ++
      xs.zip(yn).zipWithIndex.map { case ((x, y), i) => ("N", i.toLong, x, y) }
    val a = 0.2
    val out = graft.functions.TaIndicators.ewmBeta(
        rows.toDF("k", "t", "x", "y"), Seq("k"), "t", "x", "y", "t", a)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // first row: varX = 0 → null warm-up
    assert(out(("L", 0L)) == ((None, None)), "first row must be warm-up null")
    (2 until 40).foreach { i =>
      val got = out(("L", i.toLong))
      assert(got._1.contains(2.0) && got._2.contains(3.0),
        s"exact line at t=$i: $got")
    }
    // sequential EWM recursion reference on the noisy series
    var (mx, my, mxy, mxx) = (0.0, 0.0, 0.0, 0.0)
    xs.zip(yn).zipWithIndex.foreach { case ((x, y), i) =>
      if (i == 0) { mx = x; my = y; mxy = x * y; mxx = x * x }
      else {
        mx = (1 - a) * mx + a * x; my = (1 - a) * my + a * y
        mxy = (1 - a) * mxy + a * (x * y); mxx = (1 - a) * mxx + a * (x * x)
      }
      val varX = mxx - mx * mx
      val got = out(("N", i.toLong))
      if (varX > 0.0) {
        val beta = (mxy - mx * my) / varX
        assert(math.abs(got._1.get - beta) < 5.1e-7, s"t=$i beta: $got vs $beta")
        assert(math.abs(got._2.get - (my - beta * mx)) < 5.1e-7, s"t=$i icept")
      } else assert(got._1.isEmpty)
    }
  }

  test("probabilisticSharpe: moment pipeline matches the sequential reference, constant series nulls") {
    var seed = 2024L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val prices = Iterator.iterate(100.0)(p => p * math.exp(0.03 * nxt()))
      .take(120).toSeq
    val sigs = (0 until 120).map(i => if ((i / 4) % 2 == 0) 1.0 else -1.0)
    val df = prices.zip(sigs).zipWithIndex.map { case ((p, sg), i) =>
      ("S", i.toLong, i.toLong, p, sg) }.toDF("k", "t", "tb", "p", "sig")
    val row = operators.Backtest.probabilisticSharpe(df, Seq("k"), "t",
      "p", "sig", "tb", costBps = 25.0).collect().head
    // sequential reference on the same quantization pipeline
    val sigv = sigs
    var (s1, s2, s3, s4, n) = (0L, 0L, 0L, 0L, 0)
    (1 until 120).foreach { i =>
      val pos = sigv(i - 1)
      val prevpos = if (i >= 2) sigv(i - 2) else 0.0
      val r = math.log(prices(i) / prices(i - 1))
      val dposFp = math.round(math.abs(pos - prevpos) * 1e6)
      val pnl = pos * r - (25.0 / 1e4) * (dposFp / 1e6)
      s1 += math.round(pnl * 1e9); s2 += math.round(pnl * pnl * 1e9)
      s3 += math.round(pnl * pnl * pnl * 1e9)
      s4 += math.round(pnl * pnl * pnl * pnl * 1e9); n += 1
    }
    val nd = n.toDouble
    val (m1, m2, m3, m4) = (s1 / 1e9 / nd, s2 / 1e9 / nd, s3 / 1e9 / nd, s4 / 1e9 / nd)
    val v = m2 - m1 * m1
    val mu3 = m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1
    val mu4 = m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 - 3.0 * m1 * m1 * m1 * m1
    val sr = m1 / math.sqrt(v)
    val (g3, g4) = (mu3 / (v * math.sqrt(v)), mu4 / (v * v))
    val z = sr * math.sqrt(nd - 1.0) /
      math.sqrt(1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr)
    assert(row.getAs[Long]("n_rets") == n)
    assert(math.abs(row.getAs[Double]("sr") - sr) < 5.1e-7, s"sr: $row vs $sr")
    assert(math.abs(row.getAs[Double]("skew") - g3) < 5.1e-7, s"skew: $row vs $g3")
    assert(math.abs(row.getAs[Double]("kurt") - g4) < 5.1e-7,
      s"kurt (the dropped-term regression): $row vs $g4")
    assert(math.abs(row.getAs[Double]("psr_z") - z) < 5.1e-7, s"z: $row vs $z")
    // constant pnl (flat signal on a flat price) → null everything
    val flat = (0 until 30).map(i => ("F", i.toLong, i.toLong, 10.0, 1.0))
      .toDF("k", "t", "tb", "p", "sig")
    val fr = operators.Backtest.probabilisticSharpe(flat, Seq("k"), "t",
      "p", "sig", "tb").collect().head
    assert(fr.isNullAt(2) && fr.isNullAt(5), s"constant series must null: $fr")
  }

  test("kupiecTest: closed-form LR, degenerate tails take the limit, calibrated model passes") {
    // reference 1..100 → VaR(0.05) = 5.95 (the varCvar fixture)
    val ref = (1 to 100).map(i => ("A", i.toDouble)) ++
      (1 to 100).map(i => ("B", i.toDouble)) ++
      (1 to 100).map(i => ("C", i.toDouble))
    // A: 10 violations out of 40 (wildly over α = 0.05 → reject);
    // B: 2 of 40 (rate 0.05 exactly → pass); C: 0 of 40 (limit branch)
    val cur = (1 to 40).map { i =>
      ("A", if (i <= 10) 1.0 else 50.0) } ++
      (1 to 40).map(i => ("B", if (i <= 2) 1.0 else 50.0)) ++
      (1 to 40).map(_ => ("C", 50.0))
    val out = operators.Backtest.kupiecTest(ref.toDF("k", "r"),
        cur.toDF("k", "r"), Seq("k"), "r", alpha = 0.05)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(5), r.getBoolean(6)))).toMap
    def lrRef(n: Int, x: Int): Double = {
      val (nd, xd) = (n.toDouble, x.toDouble)
      val obs =
        if (x == 0) (nd - xd) * math.log(1.0 - xd / nd)
        else if (x == n) xd * math.log(xd / nd)
        else (nd - xd) * math.log(1.0 - xd / nd) + xd * math.log(xd / nd)
      -2.0 * ((nd - xd) * math.log(0.95) + xd * math.log(0.05)) + 2.0 * obs
    }
    assert(out("A")._1 == 40L && out("A")._2 == 10L)
    assert(math.abs(out("A")._3 - lrRef(40, 10)) < 5.1e-7)
    assert(out("A")._4, s"25% violations at alpha 5% must reject: ${out("A")}")
    assert(out("B")._2 == 2L && !out("B")._4,
      s"exactly calibrated model must pass: ${out("B")}")
    assert(math.abs(out("B")._3 - lrRef(40, 2)) < 5.1e-7)
    assert(out("C")._2 == 0L)
    assert(math.abs(out("C")._3 - lrRef(40, 0)) < 5.1e-7)
    // POF is two-sided: zero violations where α predicts 2 is ALSO
    // miscalibration — LR = −80·ln(0.95) ≈ 4.10 > 3.84 rejects
    assert(out("C")._4, s"too-conservative model must also reject: ${out("C")}")
  }

  test("famaMacbeth: per-bucket OLS exact on linear data, FM t over the slope series, constant-x drops") {
    // buckets with EXACT linear cross-sections y = m_b·x + 1 → first
    // stage recovers m_b exactly; second stage is the plain mean/t of
    // (2, 3, 4); a constant-x bucket must vanish before the second stage
    val rows = (for {
      (b, m) <- Seq(10L -> 2.0, 20L -> 3.0, 30L -> 4.0)
      i <- 1 to 9
    } yield (b, i.toDouble, m * i + 1.0)) ++
      (1 to 5).map(i => (99L, 7.0, i.toDouble))
    val df = rows.toDF("b", "x", "y")
    val slopes = Relational.famaMacbethSlopes(df, "b", "x", "y",
        xScale = 1e4, yScale = 1e4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(!slopes.contains(99L), "constant-x bucket must drop")
    assert(slopes(10L) == ((9L, 2.0, 1.0)), s"got ${slopes(10L)}")
    assert(slopes(20L) == ((9L, 3.0, 1.0)), s"got ${slopes(20L)}")
    assert(slopes(30L) == ((9L, 4.0, 1.0)), s"got ${slopes(30L)}")
    val fm = Relational.famaMacbeth(df, "b", "x", "y",
      xScale = 1e4, yScale = 1e4).collect().head
    assert(fm.getAs[Long]("n_buckets") == 3L)
    assert(fm.getAs[Double]("lambda_mean") == 3.0)
    // population σ of (2,3,4) = √(2/3); t = 3·√3/σ
    val want = 3.0 * math.sqrt(3.0) / math.sqrt(2.0 / 3.0)
    assert(math.abs(fm.getAs[Double]("lambda_t") - want) < 1e-5,
      s"t: ${fm.getAs[Double]("lambda_t")} vs $want")
    // identical slopes every bucket → zero variance → null t
    val flat = (for (b <- Seq(1L, 2L); i <- 1 to 5)
      yield (b, i.toDouble, 2.0 * i)).toDF("b", "x", "y")
    val fm2 = Relational.famaMacbeth(flat, "b", "x", "y",
      xScale = 1e4, yScale = 1e4).collect().head
    assert(fm2.getAs[Double]("lambda_mean") == 2.0 && fm2.isNullAt(2),
      "constant slope series has no t-stat")
  }

  test("realizedMoments: ACJV skew/kurt match the direct computation, continuous across buckets") {
    var seed = 7L
    def nxt(): Double = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    // 2 days x 24 hourly ticks of a positive price walk with one
    // PERSISTENT 10% crash (a level shift, not a reverting tick — a
    // reverting tick's +r and -r cubes cancel and the skew vanishes)
    val prices = Iterator.iterate(100.0)(p => p * math.exp(0.01 * nxt()))
      .take(48).toArray
    (36 until 48).foreach(i => prices(i) *= 0.90)
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val rows = prices.zipWithIndex.map { case (p, i) =>
      ("X", java.sql.Timestamp.from(base.plusSeconds(i * 3600L)), i.toLong, p) }
    val out = graft.functions.TaIndicators.realizedMoments(
        rows.toSeq.toDF("k", "ts", "tb", "p"),
        Seq("k"), "ts", "p", "tb", "day")
      .collect().map(r => r.getTimestamp(1).toInstant ->
        ((r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size == 2)
    // direct reference on the same quantization pipeline: returns are
    // continuous (day 2's first return reaches back to day 1's close)
    val rs = (1 until 48).map(i => i -> math.log(prices(i) / prices(i - 1)))
    for ((day, idxs) <- Seq(0 -> (1 until 24), 1 -> (24 until 48))) {
      val day1 = base.plusSeconds(day * 86400L)
      val terms = idxs.map(rs.toMap)
      val s2 = terms.map(r => math.round(r * r * 1e12)).sum
      val s3 = terms.map(r => math.round(r * r * r * 1e15)).sum
      val s4 = terms.map(r => math.round(r * r * r * r * 1e18)).sum
      val n = terms.size.toDouble
      val rv = s2 / 1e12
      val skew = math.sqrt(n) * (s3 / 1e15) / (rv * math.sqrt(rv))
      val kurt = n * (s4 / 1e18) / (rv * rv)
      val got = out(day1)
      assert(got._1 == terms.size, s"day $day n: ${got._1} vs ${terms.size}")
      assert(math.abs(got._2 - rv) < 1e-6, s"day $day rv")
      assert(math.abs(got._3.get - skew) < 1e-5, s"day $day rskew: ${got._3} vs $skew")
      assert(math.abs(got._4.get - kurt) < 1e-5, s"day $day rkurt: ${got._4} vs $kurt")
    }
    // the crash day carries the negative skew and the fatter tail
    val (d1, d2) = (out(base), out(base.plusSeconds(86400L)))
    assert(d2._3.get < d1._3.get && d2._3.get < -1.0,
      s"crash day must skew negative: $d2 vs $d1")
    assert(d2._4.get > d1._4.get, "crash day must have the fatter tail")
  }
  // ---- round 11: sequential bootstrap / bet sizing / Lee–Ready ----

  test("conditionalUniqueness: overlap down-weights vs the drawn set, empty drawn = 1") {
    val ticks = (0L to 9L).map(t => ("S", t)).toDF("k", "ts")
    // A and B share [0,4] exactly; C[5,9] is disjoint
    val spans = Seq(("S", "A", 0L, 4L), ("S", "B", 0L, 4L), ("S", "C", 5L, 9L))
      .toDF("k", "id", "t0", "t1")
    val none = spans.limit(0)
    def u(drawn: org.apache.spark.sql.DataFrame): Map[String, Double] =
      Labeling.conditionalUniqueness(ticks, spans, drawn, Seq("k"),
          "ts", "id", "t0", "t1")
        .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("uniqueness")).toMap
    // nothing drawn: every candidate is fully unique
    assert(u(none) == Map("A" -> 1.0, "B" -> 1.0, "C" -> 1.0))
    // A drawn: B (total overlap) halves, A itself halves (re-draw is
    // discouraged symmetrically — with-replacement semantics), C unaffected
    val afterA = u(spans.where(col("id") === "A"))
    assert(afterA == Map("A" -> 0.5, "B" -> 0.5, "C" -> 1.0), s"$afterA")
    // A drawn twice: the covered ticks weigh 1/3
    val afterAA = u(spans.where(col("id") === "A")
      .unionAll(spans.where(col("id") === "A")))
    assert(afterAA("B") == 0.333333 && afterAA("C") == 1.0, s"$afterAA")
  }

  test("sequentialBootstrap: deterministic, with-replacement, overlap-aware draws per key") {
    val ticks = (0L to 9L).flatMap(t => Seq(("S", t), ("T", t))).toDF("k", "ts")
    val spans = Seq(("S", 1L, 0L, 4L), ("S", 2L, 0L, 4L), ("S", 3L, 5L, 9L),
      ("T", 4L, 0L, 9L)).toDF("k", "id", "t0", "t1")
    val out = Labeling.sequentialBootstrap(ticks, spans, Seq("k"),
      "ts", "id", "t0", "t1", nDraws = 3, salt = "s1")
    val rows = out.orderBy("k", "draw").collect()
    // 3 draws per key, 1-based, sample_key strictly negative (ln u < 0)
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Long]("draw")).toSeq == Seq(1L, 2L, 3L, 1L, 2L, 3L))
    assert(rows.forall(_.getAs[Double]("sample_key") < 0.0))
    // single-candidate key T must draw id 4 every time (with replacement)
    assert(rows.filter(_.getAs[String]("k") == "T")
      .forall(_.getAs[Long]("id") == 4L))
    // first draw sees uniqueness 1 everywhere; later draws of an
    // overlapped candidate carry the down-weighted value
    assert(rows.filter(r => r.getAs[Long]("draw") == 1L).forall(
      _.getAs[Double]("uniqueness") == 1.0))
    // deterministic: same salt replays the identical sequence
    val again = Labeling.sequentialBootstrap(ticks, spans, Seq("k"),
      "ts", "id", "t0", "t1", nDraws = 3, salt = "s1")
      .orderBy("k", "draw").collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
    // a different salt is allowed to (and here does) change the draw keys
    val other = Labeling.sequentialBootstrap(ticks, spans, Seq("k"),
      "ts", "id", "t0", "t1", nDraws = 3, salt = "s2")
      .orderBy("k", "draw").collect()
    assert(other.map(_.getAs[Double]("sample_key")).toSeq !=
      rows.map(_.getAs[Double]("sample_key")).toSeq)
  }

  test("twoScaleRV: deterministic closed forms — drift tape, noise-only tape loses its inflation") {
    import graft.functions.{TaIndicators => TA}
    // log-linear drift p = e^{ct}: r1 = c, rK = Kc → closed forms
    // rv_all = (T−1)c², rv_avg = (T−K)Kc², tsrv = (T−K)c²(K − 1/K)
    val T = 20; val c = 0.01; val K = 5
    val drift = (0 until T).map(t => ("D", t.toLong, math.exp(c * t)))
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val d = TA.twoScaleRV(drift, Seq("k"), "ts", "p", "t", "day", K)
      .collect().head
    def near(a: Double, b: Double) = math.abs(a - b) < 2e-6
    assert(near(d.getAs[Double]("rv_all"), (T - 1) * c * c), d.toString)
    assert(near(d.getAs[Double]("rv_avg"), (T - K) * K * c * c), d.toString)
    assert(near(d.getAs[Double]("tsrv"), (T - K) * c * c * (K - 1.0 / K)),
      d.toString)
    // pure-noise tape (price alternates ±e around 1): tick RV is all
    // microstructure noise, (T−1)·4e²; the two-scale correction strips
    // it to ~0 — the estimator's reason to exist
    val e = 0.02
    val noise = (0 until T).map(t =>
        ("N", t.toLong, math.exp(if (t % 2 == 0) e else -e)))
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val n = TA.twoScaleRV(noise, Seq("k"), "ts", "p", "t", "day", K)
      .collect().head
    val rvAll = n.getAs[Double]("rv_all")
    assert(near(rvAll, (T - 1) * 4 * e * e), n.toString)
    assert(math.abs(n.getAs[Double]("tsrv")) < 0.05 * rvAll,
      s"TSRV must strip the noise inflation: ${n.toString}")
    // n ≤ K buckets emit null tsrv
    val short = (0 until K).map(t => ("S", t.toLong, math.exp(0.01 * t)))
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val sRow = TA.twoScaleRV(short, Seq("k"), "ts", "p", "t", "day", K)
      .collect().head
    assert(sRow.isNullAt(sRow.fieldIndex("tsrv")), sRow.toString)
  }

  test("realizedKernel: drift-tape closed form, anticorrelated noise damped, short-bucket null") {
    import graft.functions.{TaIndicators => TA}
    val H = 4
    def wgt(h: Int) = TA.parzen(h.toDouble / (H + 1.0))
    // Parzen sanity: w(0)=1 shape, monotone to 0 at the edge
    assert(TA.parzen(0.0) == 1.0 && TA.parzen(1.0) == 0.0)
    assert(wgt(1) > wgt(2) && wgt(2) > wgt(3) && wgt(3) > wgt(4))
    // drift tape p = e^{ct}: r = c → γ_h = (T−1−h)c², closed-form RK
    val T = 30; val c = 0.01
    val drift = (0 until T).map(t => ("D", t.toLong, math.exp(c * t)))
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val d = TA.realizedKernel(drift, Seq("k"), "ts", "p", "t", "day", H)
      .collect().head
    val expect = (T - 1) * c * c +
      (1 to H).map(h => wgt(h) * 2.0 * (T - 1 - h) * c * c).sum
    assert(math.abs(d.getAs[Double]("rk") - expect) < 2e-6,
      s"rk=${d.getAs[Double]("rk")} want $expect")
    assert(math.abs(d.getAs[Double]("rv") - (T - 1) * c * c) < 2e-6)
    // anticorrelated noise tape (price alternates ±e): γ_h alternates
    // sign, the kernel nets most of γ₀'s inflation out
    val e = 0.02
    val noise = (0 until T).map(t =>
        ("N", t.toLong, math.exp(if (t % 2 == 0) e else -e)))
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val n = TA.realizedKernel(noise, Seq("k"), "ts", "p", "t", "day", H)
      .collect().head
    val rv = n.getAs[Double]("rv")
    assert(math.abs(rv - (T - 1) * 4 * e * e) < 2e-6)
    val nExpect = (0 to H).map { h =>
      val g = (T - 1 - h) * 4 * e * e * (if (h % 2 == 0) 1.0 else -1.0)
      if (h == 0) g else wgt(h) * 2.0 * g
    }.sum
    assert(math.abs(n.getAs[Double]("rk") - nExpect) < 2e-6,
      s"rk=${n.getAs[Double]("rk")} want $nExpect")
    assert(math.abs(n.getAs[Double]("rk")) < 0.35 * rv,
      s"kernel must damp the noise inflation: ${n.getAs[Double]("rk")} vs rv=$rv")
    // n ≤ H → null rk
    val short = (0 until H + 1).map(t => ("S", t.toLong, math.exp(0.01 * t)))
      .toDF("k", "t", "p").withColumn("ts", expr("timestamp_micros(t)"))
    val sRow = TA.realizedKernel(short, Seq("k"), "ts", "p", "t", "day", H)
      .collect().head
    assert(sRow.isNullAt(sRow.fieldIndex("rk")), sRow.toString)
  }

  test("harRegression: Cramer tree ≡ independent pivoted solve; exact-fit recovery; short series absent") {
    import graft.functions.{TaIndicators => TA}
    // synthetic 2-series tape: ~400 hourly buckets of varying RV (3
    // ticks per hour, sinusoid + hash jitter amplitudes), enough past
    // the 168-bucket warm-up for a well-posed regression
    val rows = for (k <- Seq("A", "B"); h <- 0 until 400; j <- 0 until 3) yield {
      val amp = 0.01 * (1.5 + math.sin(h / 7.0) +
        (if (k == "A") 0.5 * math.sin(h / 31.0) else 0.3 * math.cos(h / 13.0)))
      val r = if (j % 2 == 0) amp else -amp
      (k, h.toLong * 3600000000L + j * 1000000L, h.toLong * 10 + j, r)
    }
    // build price as the cumulative product of the intended returns
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("tus"))
    val priced = rows.toDF("k", "tus", "tb", "r")
      .withColumn("p", exp(sum(col("r")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))))
      .withColumn("ts", expr("timestamp_micros(tus)"))
    val got = TA.harRegression(priced, Seq("k"), "ts", "p", "tb")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("A", "B"))
    // independent reference: rebuild the image rows and solve the
    // normal equations with PIVOTED Gaussian elimination (a different
    // algorithm than the fixed Cramer tree)
    val rv = priced.where(col("p").isNotNull && col("p") > 0)
      .withColumn("_r", log(col("p") / lag(col("p"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("ts"), col("tb")))))
      .where(col("_r").isNotNull)
      .withColumn("_q2", round(col("_r") * col("_r") * 1e12).cast("long"))
      .groupBy(col("k"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(sum(col("_q2")).as("s2"))
      .collect().map(r => (r.getString(0),
        r.getAs[java.sql.Timestamp](1).getTime, r.getLong(2)))
    got.keys.foreach { key =>
      val s2 = rv.filter(_._1 == key).sortBy(_._2).map(_._3)
      def img(x: Double): Long = math.rint(x).toLong  // round half-even ≈ fine off-ties
      val pts = (168 until s2.length).map { i =>
        val y = img(s2(i).toDouble / 1e12 * 1e6)
        val x1 = img(s2(i - 1).toDouble / 1e12 * 1e6)
        val x2 = img(s2.slice(i - 24, i).sum.toDouble / 1e12 / 24.0 * 1e6)
        val x3 = img(s2.slice(i - 168, i).sum.toDouble / 1e12 / 168.0 * 1e6)
        (y, x1, x2, x3)
      }
      val n = pts.length.toDouble
      def mean(f: ((Long, Long, Long, Long)) => Double) = pts.map(f).sum / n
      // normal equations on BigInt-exact sums
      val a = Array.ofDim[Double](4, 5)
      val xs: IndexedSeq[((Long, Long, Long, Long)) => BigInt] = IndexedSeq(
        _ => BigInt(1), p => BigInt(p._2), p => BigInt(p._3), p => BigInt(p._4))
      val yv: ((Long, Long, Long, Long)) => BigInt = p => BigInt(p._1)
      for (i <- 0 until 4; j <- 0 until 4)
        a(i)(j) = pts.map(p => xs(i)(p) * xs(j)(p)).sum.toDouble / n
      for (i <- 0 until 4)
        a(i)(4) = pts.map(p => xs(i)(p) * yv(p)).sum.toDouble / n
      for (cc <- 0 until 4) {
        val piv = (cc until 4).maxBy(r2 => math.abs(a(r2)(cc)))
        val tmp = a(piv); a(piv) = a(cc); a(cc) = tmp
        for (r2 <- 0 until 4 if r2 != cc) {
          val f = a(r2)(cc) / a(cc)(cc)
          for (j <- cc to 4) a(r2)(j) -= f * a(cc)(j)
        }
      }
      val beta = Array.tabulate(4)(i => a(i)(4) / a(i)(i))
      val g = got(key)
      assert(math.abs(g.getAs[Double]("beta0") - beta(0) / 1e6) < 1e-4,
        s"$key beta0: ${g.getAs[Double]("beta0")} vs ${beta(0) / 1e6}")
      Seq("beta_short" -> 1, "beta_mid" -> 2, "beta_long" -> 3).foreach {
        case (nme, i) =>
          assert(math.abs(g.getAs[Double](nme) - beta(i)) <
            1e-4 * math.max(1.0, math.abs(beta(i))),
            s"$key $nme: ${g.getAs[Double](nme)} vs ${beta(i)}")
      }
      val r2v = g.getAs[Double]("r2")
      assert(r2v > 0.0 && r2v <= 1.0, s"$key r2=$r2v")
    }
    // fewer than longWin+1 buckets → no regression row at all
    val tiny = (0 until 50).map(t => ("T", t.toLong * 3600000000L, t.toLong,
        math.exp(0.01 * math.sin(t.toDouble))))
      .toDF("k", "tus", "tb", "p")
      .withColumn("ts", expr("timestamp_micros(tus)"))
    assert(TA.harRegression(tiny, Seq("k"), "ts", "p", "tb").count() == 0)
  }

  test("betSizingFold: chunked fold is bit-identical to batch betSizing; frontier guard; _commits replay no-op", Stateful) {
    import graft.operators.MarketIncremental
    import graft.operators.MarketIncremental.BetCfg
    // 3 series × 40 bets, horizons overlapping across chunk cuts (up to
    // 17 instants ahead), mixed sides/convictions, opposing concurrent
    // bets, and closes landing far past the last entry
    val bets = (for { s <- Seq("A", "B", "C"); i <- 1 to 40 } yield {
      val t0 = i.toLong * 10L + (if (s == "B") 3L else 0L)
      val span = 10L + (i * 7 % 17).toLong * 10L
      val p = 0.5 + 0.45 * math.sin(i * 0.9 + s.hashCode % 5)
      (s, t0, t0 + span, math.min(0.99, math.max(0.01, p)),
        if (i % 3 == 0) -1L else 1L)
    }).toDF("k", "t0_us", "t1_us", "prob", "side")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString("|")
    val cfg = BetCfg(Seq("k"), stepSize = 0.05)
    val want = graft.operators.Backtest.betSizing(bets, Seq("k"), "t0_us",
        "t1_us", "prob", "side", 0.05)
      .collect().map(key).sorted.toSeq
    // 4 uneven chunks by entry time — open bets straddle every cut
    val cuts = Seq(0L, 105L, 220L, 330L, Long.MaxValue)
    var carry = MarketIncremental.emptyBetCarry(spark, cfg)
    var got = Seq.empty[String]
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      val chunk = bets.where(col("t0_us") >= lo && col("t0_us") < hi)
      val (sizes, c2) = MarketIncremental.betSizingFold(carry, chunk, cfg)
      got = got ++ sizes.collect().map(key)
      carry = c2
    }
    assert(got.sorted == want, {
      val diff = got.sorted.zip(want).find { case (g, w) => g != w }
      s"fold diverged from batch (${got.size} vs ${want.size} rows):\n" +
        s" got ${diff.map(_._1)}\nwant ${diff.map(_._2)}"
    })
    // the carry is the open frontier only: pending closes all land
    // strictly after the stored frontier
    val pend = carry.select(col("w_ts_us"), col("pend_ts")).collect()
    pend.foreach { r =>
      val fr = r.getLong(0)
      r.getSeq[Long](1).foreach(ts => assert(ts > fr, s"pending $ts ≤ frontier $fr"))
    }
    // ordering contract: a bet at-or-before the frontier raises
    val late = Seq(("A", 5L, 50L, 0.7, 1L))
      .toDF("k", "t0_us", "t1_us", "prob", "side")
    val err = intercept[Exception] {
      MarketIncremental.betSizingFold(carry, late, cfg)._1.count()
    }
    assert(err.getMessage.contains("ordering contract violated"), err.getMessage)
    // _commits lifecycle: replayed batch id is a no-op, view = batch op
    val dir = java.nio.file.Files.createTempDirectory("betfold").toString
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val chunk = bets.where(col("t0_us") >= lo && col("t0_us") < hi)
      MarketIncremental.betSizingBatch(spark, dir, i.toLong, chunk, cfg)
    }
    val view1 = MarketIncremental.sizesView(spark, dir, cfg)
      .collect().map(key).sorted.toSeq
    assert(view1 == want, "view after batches must equal the batch operator")
    // replay chunk 1 with stale data: committed id → state untouched
    MarketIncremental.betSizingBatch(spark, dir, 1L,
      bets.where(col("t0_us") < 50L), cfg)
    val view2 = MarketIncremental.sizesView(spark, dir, cfg)
      .collect().map(key).sorted.toSeq
    assert(view2 == view1, "replayed batch id must be a no-op")
  }

  test("normCdf/probToSize closed forms; betSizing averages active bets and discretizes") {
    val probe = Seq(0.0, 1.96, -1.96, 4.0).toDF("z")
      .select(round(Backtest.normCdf(col("z")), 6).as("phi")).collect()
      .map(_.getDouble(0))
    assert(probe(0) == 0.5)
    assert(approx(probe(1), 0.975002, 2e-6), s"Phi(1.96)=${probe(1)}")
    assert(approx(probe(1) + probe(2), 1.0, 2e-6), "symmetry")
    assert(probe(3) > 0.99996)
    // p=1/2 -> size 0 regardless of side
    val flat = Seq(("S", 0L, 10L, 0.5, 1L)).toDF("k", "t0", "t1", "p", "side")
    val f = Backtest.betSizing(flat, Seq("k"), "t0", "t1", "p", "side", 0.05).collect()
    assert(f.length == 1 && f(0).getAs[Double]("avg_size") == 0.0 &&
      f(0).getAs[Double]("bet_size") == 0.0)
    // concurrent opposing bets with the same conviction cancel exactly
    val opp = Seq(("S", 0L, 10L, 0.9, 1L), ("S", 0L, 10L, 0.9, -1L))
      .toDF("k", "t0", "t1", "p", "side")
    val o = Backtest.betSizing(opp, Seq("k"), "t0", "t1", "p", "side", 0.05).collect()
    assert(o.length == 1 && o(0).getAs[Long]("n_active") == 2L &&
      o(0).getAs[Double]("avg_size") == 0.0 && o(0).getAs[Double]("bet_size") == 0.0)
    // staggered bets: the second instant averages both; near-certain
    // conviction discretizes to the full unit at step 0.05
    val stag = Seq(("S", 0L, 10L, 0.999999, 1L), ("S", 5L, 20L, 0.5, 1L))
      .toDF("k", "t0", "t1", "p", "side")
    val sRows = Backtest.betSizing(stag, Seq("k"), "t0", "t1", "p", "side", 0.05)
      .orderBy("ts_us").collect()
    assert(sRows.map(_.getAs[Long]("n_active")).toSeq == Seq(1L, 2L))
    assert(sRows(0).getAs[Double]("avg_size") == 1.0 &&
      sRows(0).getAs[Double]("bet_size") == 1.0)
    assert(sRows(1).getAs[Double]("avg_size") == 0.5 &&
      sRows(1).getAs[Double]("bet_size") == 0.5)
    // out-of-range probability fails fast
    val bad = Seq(("S", 0L, 1L, 1.0, 1L)).toDF("k", "t0", "t1", "p", "side")
    val err = intercept[Exception] {
      Backtest.betSizing(bad, Seq("k"), "t0", "t1", "p", "side", 0.05).collect()
    }
    assert(err.getMessage.contains("probability out of (0,1)"), err.getMessage)
  }

  test("leeReady: quote test, tick fallback at the mid, pre-quote nulls, zero-tick carry") {
    import graft.features.OrderbookFeatures
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // µs grid, ms precision fine
    val quotes = Seq(("S", ts(10000000L), 99.0, 101.0),
      ("S", ts(100000000L), 100.0, 104.0))
      .toDF("k", "qts", "bid", "ask")
    val trades = Seq(
      ("S", ts(1000000L), 98.0, 1L),    // before any quote, first trade -> null side
      ("S", ts(11000000L), 101.0, 2L),  // above mid 100 -> buy
      ("S", ts(12000000L), 99.5, 3L),   // below mid -> sell
      ("S", ts(13000000L), 100.0, 4L),  // at mid -> tick rule: 99.5->100 uptick -> buy
      ("S", ts(14000000L), 100.0, 5L),  // at mid, zero tick -> carries buy
      ("S", ts(110000000L), 101.0, 6L)) // mid now 102 -> sell
      .toDF("k", "tts", "price", "id")
    val out = OrderbookFeatures.leeReady(trades, quotes, Seq("k"),
        "tts", "price", "id", "qts", "bid", "ask")
      .orderBy("ts_us").collect()
    def side(i: Int) = if (out(i).isNullAt(out(i).fieldIndex("lr_side"))) None
      else Some(out(i).getAs[Long]("lr_side"))
    assert(side(0).isEmpty && out(0).isNullAt(out(0).fieldIndex("espread")))
    assert(side(1) == Some(1L) &&
      out(1).getAs[Double]("espread") == 2.0 && // 2*1*(101-100)
      out(1).getAs[Double]("espread_rel") == 0.02)
    assert(side(2) == Some(-1L) && out(2).getAs[Double]("espread") == 1.0)
    assert(side(3) == Some(1L) && out(3).getAs[Double]("espread") == 0.0)
    assert(side(4) == Some(1L), "zero tick carries the last direction")
    assert(side(5) == Some(-1L) && out(5).getAs[Double]("espread") == 2.0)
  }

  test("garchFilter: alternating-tape fixed point, hand-fold replay, null/leading carry, per-series isolation") {
    import graft.functions.{TaIndicators => TA}
    // price alternates 100 ↔ 110 (both exact 2-dp): x² = ln(1.1)² is
    // CONSTANT, so variance targeting gives ω = x²(1−α−β) and the
    // recursion sits at its fixed point h_t = x² for every t
    val alt = (0 until 12).map(t =>
        ("A", t.toLong, if (t % 2 == 0) 100.0 else 110.0)) ++
      // second series, different scale (100 ↔ 120): isolation check
      (0 until 12).map(t =>
        ("B", t.toLong, if (t % 2 == 0) 100.0 else 120.0))
    val df = alt.toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t * 3600000000)"))
    val out = TA.garchFilter(df, Seq("k"), "ts", "v", "hour", 0.08, 0.90)
      .orderBy("k", "bucket").collect()
    def x2of(ratio: Double): Double = {
      val r = math.log(ratio)
      math.round(r * r * 1e12).toDouble / 1e12
    }
    val (xa, xb) = (x2of(110.0 / 100.0), x2of(120.0 / 100.0))
    val (aRows, bRows) = out.partition(_.getAs[String]("k") == "A")
    // first bucket has no return → null filter output
    assert(aRows.head.isNullAt(aRows.head.fieldIndex("garch_var_u")))
    aRows.tail.foreach { r =>
      assert(math.abs(r.getAs[Double]("garch_var_u") - xa * 1e6) < 1e-6,
        r.toString)
      assert(math.abs(r.getAs[Double]("garch_vol_ann") -
        math.sqrt(xa * 8760.0)) < 1e-6, r.toString)
    }
    bRows.tail.foreach { r =>
      assert(math.abs(r.getAs[Double]("garch_var_u") - xb * 1e6) < 1e-6,
        r.toString)
    }
    // hand-fold replay on a non-constant tape: same quantization, same
    // left-associated IEEE tree → equality to double precision
    val prices = Seq(100.0, 105.0, 98.0, 101.0, 99.5, 104.25, 102.0)
    val hand = prices.zipWithIndex.map { case (p, t) => ("H", t.toLong, p) }
    val hdf = hand.toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t * 3600000000)"))
    val hout = TA.garchFilter(hdf, Seq("k"), "ts", "v", "hour", 0.08, 0.90)
      .orderBy("bucket").collect()
    val x2s = prices.zip(prices.tail).map { case (a, b) =>
      val r = math.log(b / a); math.round(r * r * 1e12).toDouble / 1e12 }
    val vbar = x2s.map(x => math.round(x * 1e12)).sum.toDouble /
      x2s.length.toDouble / 1e12
    val omega = vbar * (1.0 - 0.08 - 0.90)
    val expected = x2s.tail.scanLeft(x2s.head) { (h, x) =>
      (omega + 0.08 * x) + 0.90 * h }
    hout.tail.zip(expected).foreach { case (row, e) =>
      assert(math.abs(row.getAs[Double]("garch_var_u") - e * 1e6) < 1e-5,
        s"row=$row expected=${e * 1e6}")
    }
    // a gap hour (missing bucket) simply shortens the series — nulls
    // only ever lead; interior non-positive means yield a null return
    // that CARRIES the state
    val gap = Seq(("G", 0L, 100.0), ("G", 1L, -5.0), ("G", 2L, 100.0),
      ("G", 3L, 110.0)).toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t * 3600000000)"))
    val gout = TA.garchFilter(gap, Seq("k"), "ts", "v", "hour", 0.08, 0.90)
      .orderBy("bucket").collect()
    assert(gout(0).isNullAt(gout(0).fieldIndex("garch_var_u")))
    assert(gout(1).isNullAt(gout(1).fieldIndex("garch_var_u"))) // ln(neg) guard
    assert(gout(2).isNullAt(gout(2).fieldIndex("garch_var_u"))) // ln(pos/neg) guard
    assert(!gout(3).isNullAt(gout(3).fieldIndex("garch_var_u"))) // first valid r
    // parameter guard is loud
    val err = intercept[IllegalArgumentException] {
      TA.garchFilter(gap, Seq("k"), "ts", "v", "hour", 0.5, 0.6) }
    assert(err.getMessage.contains("alpha + beta"), err.getMessage)
  }

  test("neweyWest: linear-trend degenerate, alternating closed form 0.2d², hand replay, lag-deficient keys") {
    // linear trend: every diff is the same → deviations are zero →
    // lrv = 0, se/t null, mean_v = the step
    val lin = (0 until 10).map(t => ("L", t.toLong, 10.0 + 2.0 * t))
    // alternating diffs ±d around a flat mean: γ₀ = d², γ_l alternates
    // sign; Bartlett(L=4) nets to lrv = 0.2·d² exactly as n → ∞ and
    // to d²/n·(0.2n) = 0.2d² EXACTLY at any even n (telescoping)
    val alt = (0 until 21).map(t => ("A", t.toLong, if (t % 2 == 0) 10.0 else 12.0))
    val df = (lin ++ alt).toDF("k", "hb", "v")
    val out = Relational.neweyWest(df, "k", "hb", "v", maxLag = 4,
        scale = 1e4, diff = true).collect()
    val byK = out.map(r => r.getAs[String]("key") -> r).toMap
    val l = byK("L")
    assert(math.abs(l.getAs[Double]("mean_v") - 2.0) < 1e-9, l.toString)
    assert(l.getAs[Double]("lrv") == 0.0, l.toString)
    assert(l.isNullAt(l.fieldIndex("se_mean")) &&
      l.isNullAt(l.fieldIndex("t_mean")), l.toString)
    val a = byK("A")
    // 21 values → 20 diffs of ±2 (even count, mean exactly 0)
    assert(a.getAs[Long]("n") == 20L, a.toString)
    assert(a.getAs[Double]("mean_v") == 0.0, a.toString)
    assert(math.abs(a.getAs[Double]("lrv") - 0.2 * 4.0) < 1e-6, a.toString)
    // hand replay of the full estimator on an irregular tape —
    // independent scalar reimplementation over the same ⌊v·10⁴⌋ images
    val vals = Seq(10.0, 11.5, 10.75, 12.0, 11.0, 13.25, 12.5, 14.0, 13.0)
    val hdf = vals.zipWithIndex.map { case (v, t) => ("H", t.toLong, v) }
      .toDF("k", "hb", "v")
    val h = Relational.neweyWest(hdf, "k", "hb", "v", maxLag = 4,
      scale = 1e4, diff = true).collect().head
    val q = vals.map(v => math.floor(v * 1e4).toLong)
    val dq = q.zip(q.tail).map { case (x, y) => y - x }
    val n = dq.length
    val mu = dq.sum.toDouble / n.toDouble
    def gamma(lg: Int): Double = {
      val pairs = (lg until n).map(t => (dq(t - lg), dq(t)))
      val sxy = pairs.map { case (x, y) => x * y }.sum.toDouble
      val sa = pairs.map(_._1).sum.toDouble
      val sb = pairs.map(_._2).sum.toDouble
      (sxy - mu * (sa + sb) + pairs.length.toDouble * (mu * mu)) / n.toDouble
    }
    val lrvq = (1 to 4).foldLeft(gamma(0)) { (acc, lg) =>
      acc + 2.0 * (1.0 - lg / 5.0) * gamma(lg) }
    assert(math.abs(h.getAs[Double]("mean_v") - mu / 1e4) < 1e-6, h.toString)
    assert(math.abs(h.getAs[Double]("lrv") - lrvq / 1e8) < 1e-6, h.toString)
    assert(math.abs(h.getAs[Double]("t_mean") -
      mu / math.sqrt(lrvq / n)) < 1e-5, h.toString)
    // a key with fewer buckets than maxLag+1 still rows out (null lrv
    // where no lag-4 pair exists), never crashes
    val short = Seq(("S", 0L, 1.0), ("S", 1L, 2.0), ("S", 2L, 4.0))
      .toDF("k", "hb", "v")
    val sRow = Relational.neweyWest(short, "k", "hb", "v", maxLag = 4,
      scale = 1e4, diff = true).collect().head
    assert(sRow.getAs[Long]("n") == 2L, sRow.toString)
    assert(sRow.isNullAt(sRow.fieldIndex("lrv")), sRow.toString)
  }

  test("dmVolForecast: degenerate constant-variance tape, full hand replay of folds + HAC layer") {
    import graft.functions.{TaIndicators => TA}
    // alternating 100 ↔ 110: x² constant → both forecasters sit at the
    // fixed point → zero loss both sides → mean d = 0, dm null
    val alt = (0 until 16).map(t =>
      ("A", t.toLong, if (t % 2 == 0) 100.0 else 110.0))
    val adf = alt.toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t * 3600000000)"))
    val aRow = TA.dmVolForecast(adf, "k", "ts", "v").collect().head
    // ULP drift around the fixed point can leave |loss| a quantum or
    // two above zero; the assertions bound it at display resolution
    assert(math.abs(aRow.getAs[Double]("mse_ewma_r")) <= 1e-5 &&
      math.abs(aRow.getAs[Double]("mse_garch_r")) <= 1e-5 &&
      math.abs(aRow.getAs[Double]("mean_d_r")) <= 1e-5, aRow.toString)
    // varied tape: replay both folds + the loss quantizer + the NW
    // layer scalar-side and match the distributed answer
    val prices = Seq(100.0, 104.0, 99.0, 103.5, 98.25, 105.0, 101.0,
      97.5, 102.25, 100.5, 106.0, 99.75)
    val hdf = prices.zipWithIndex.map { case (p, t) => ("H", t.toLong, p) }
      .toDF("k", "t", "v")
      .withColumn("ts", expr("timestamp_micros(t * 3600000000)"))
    val h = TA.dmVolForecast(hdf, "k", "ts", "v").collect().head
    val x2 = prices.zip(prices.tail).map { case (a, b) =>
      val r = math.log(b / a); math.round(r * r * 1e12).toDouble / 1e12 }
    val vbar = x2.map(x => math.round(x * 1e12)).sum.toDouble /
      x2.length.toDouble / 1e12
    val omega = vbar * (1.0 - 0.08 - 0.90)
    val hs = x2.tail.scanLeft(x2.head) { (s, x) => (omega + 0.08 * x) + 0.90 * s }
    val ms = x2.tail.scanLeft(x2.head) { (s, x) => s * 0.94 + x * 0.06 }
    // forecasts lag one bucket; the first return row has no forecast.
    // The loss seam is scale-free: everything divides by vbar first,
    // forecasts re-quantize at 1e9
    val dq = x2.indices.drop(1).map { i =>
      val z = x2(i) / vbar
      val f1 = math.round(ms(i - 1) / vbar * 1e9).toDouble / 1e9
      val f2 = math.round(hs(i - 1) / vbar * 1e9).toDouble / 1e9
      val e1 = z - f1; val e2 = z - f2
      (math.floor((e1 * e1) * 1e9).toLong,
        math.floor((e2 * e2) * 1e9).toLong,
        math.floor(((e1 * e1) - (e2 * e2)) * 1e9).toLong)
    }
    val n = dq.length
    assert(h.getAs[Long]("n") == n.toLong, h.toString)
    val mse1 = dq.map(_._1).sum.toDouble / n.toDouble / 1e9
    val mse2 = dq.map(_._2).sum.toDouble / n.toDouble / 1e9
    assert(math.abs(h.getAs[Double]("mse_ewma_r") - mse1) < 1e-5, h.toString)
    assert(math.abs(h.getAs[Double]("mse_garch_r") - mse2) < 1e-5, h.toString)
    val d = dq.map(_._3)
    val muQ = d.sum.toDouble / n.toDouble
    def gammaD(lg: Int): Double = {
      val pairs = (lg until n).map(t => (d(t - lg), d(t)))
      val sxy = pairs.map { case (x, y) =>
        BigInt(x) * BigInt(y) }.sum.toDouble
      val sa = pairs.map(_._1).sum.toDouble
      val sb = pairs.map(_._2).sum.toDouble
      (sxy - muQ * (sa + sb) + pairs.length.toDouble * (muQ * muQ)) / n.toDouble
    }
    val lrvq = (1 to 4).foldLeft(gammaD(0)) { (acc, lg) =>
      acc + 2.0 * (1.0 - lg / 5.0) * gammaD(lg) }
    assert(math.abs(h.getAs[Double]("mean_d_r") - muQ / 1e9) < 1e-5, h.toString)
    if (lrvq > 0.0)
      assert(math.abs(h.getAs[Double]("dm") -
        muQ / math.sqrt(lrvq / n)) < 1e-4, h.toString)
    // unsupported bucket interval raises loudly
    val err = intercept[IllegalArgumentException] {
      TA.dmVolForecast(hdf, "k", "ts", "v", interval = "minute") }
    assert(err.getMessage.contains("hour/day"), err.getMessage)
  }

  test("jarqueBera: two-point closed forms, skewed-tape hand replay, zero-variance dropout") {
    // alternating 10,12 → diffs ±2·10⁴ (two-point symmetric): skew 0,
    // kurtosis m4/m2² = a⁴/(a²)² = 1, JB = n/6·(0 + (1−3)²/4) = n/6
    val alt = (0 until 21).map(t => ("A", t.toLong, if (t % 2 == 0) 10.0 else 12.0))
    // skewed diff cycle {+3, −1, −1, −1}: m2 = 3, m3 = 6, m4 = 21 →
    // skew = 6/3^1.5, kurt = 21/9 (scale-invariant, so quantized units
    // give the same ratios); 25 cycles → n = 100 diffs, JB ≈ 24.07
    val skewed = (0 until 101).map { t =>
      val level = Seq(0.0, 3.0, 2.0, 1.0)(t % 4)
      ("S", t.toLong, level)
    }
    val flat = (0 until 6).map(t => ("C", t.toLong, 7.0))
    val out = Relational.jarqueBera(
        (alt ++ skewed ++ flat).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n") == 20L, a.toString)
    assert(math.abs(a.getAs[Double]("skew")) < 1e-9, a.toString)
    assert(math.abs(a.getAs[Double]("kurtosis") - 1.0) < 1e-9, a.toString)
    assert(math.abs(a.getAs[Double]("jb") - 20.0 / 6.0) < 1e-5, a.toString)
    assert(!a.getAs[Boolean]("reject_normal_5pct"), a.toString)
    val sRow = out("S")
    val skewExp = 6.0 / math.pow(3.0, 1.5)
    val kurtExp = 21.0 / 9.0
    val jbExp = 100.0 / 6.0 * (skewExp * skewExp +
      (kurtExp - 3.0) * (kurtExp - 3.0) / 4.0)
    assert(math.abs(sRow.getAs[Double]("skew") - skewExp) < 1e-5, sRow.toString)
    assert(math.abs(sRow.getAs[Double]("kurtosis") - kurtExp) < 1e-5, sRow.toString)
    assert(math.abs(sRow.getAs[Double]("jb") - jbExp) < 1e-3, sRow.toString)
    assert(sRow.getAs[Boolean]("reject_normal_5pct"), sRow.toString)
    // constant series: every diff 0 → m2 = 0 → null stats, counts real
    val c = out("C")
    assert(c.getAs[Long]("n") == 5L && c.isNullAt(c.fieldIndex("jb")), c.toString)
  }

  test("archLm: volatility-regime tape vs in-test moment replay, constant-|d| dropout") {
    // regime cycle of diffs {+1,−1,+1,−1,+4,−4,+4,−4}: zero mean per
    // cycle so e = d exactly; e² clusters → LM rejects at 12 cycles
    val cycle = Seq(1.0, -1.0, 1.0, -1.0, 4.0, -4.0, 4.0, -4.0)
    val diffs = Seq.fill(12)(cycle).flatten
    val levels = diffs.scanLeft(100.0)(_ + _)
    val vdf = levels.zipWithIndex.map { case (v, i) => ("R", i.toLong, v) }
    // constant |d| (alternating ±2): e² constant → zero variance → null
    val altFlat = (0 until 21).map(t => ("F", t.toLong, if (t % 2 == 0) 10.0 else 12.0))
    val out = Relational.archLm((vdf ++ altFlat).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    // in-test replay on the exact quantized images (×10⁴, mean 0)
    val e2 = diffs.map(d => { val q = math.floor(d * 1e4).toLong; q * q })
    val pairs = e2.zip(e2.tail)
    val n = pairs.length.toDouble
    val sx = pairs.map(_._1).map(BigInt(_)).sum.toDouble
    val sy = pairs.map(_._2).map(BigInt(_)).sum.toDouble
    val sxy = pairs.map(p => BigInt(p._1) * BigInt(p._2)).sum.toDouble
    val sxx = pairs.map(p => BigInt(p._1) * BigInt(p._1)).sum.toDouble
    val syy = pairs.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
    val cov = n * sxy - sx * sy
    val r = cov / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val lmExp = n * (r * r)
    val rRow = out("R")
    assert(rRow.getAs[Long]("n") == diffs.length.toLong, rRow.toString)
    assert(rRow.getAs[Long]("n_lag") == pairs.length.toLong, rRow.toString)
    assert(math.abs(rRow.getAs[Double]("lm_stat") - lmExp) < 1e-4, rRow.toString)
    assert(rRow.getAs[Double]("arch_slope") > 0.0, rRow.toString)
    assert(rRow.getAs[Boolean]("arch_5pct") == (lmExp > Relational.Chi2Crit1Df5Pct),
      rRow.toString)
    val f = out("F")
    assert(f.getAs[Long]("n") == 20L && f.isNullAt(f.fieldIndex("lm_stat")), f.toString)
  }

  test("granger: x leads y one-sidedly; in-test Cramer replay agrees") {
    // x: deterministic LCG diff tape; y follows x's previous diff plus
    // a small independent perturbation (keeps RSS_u > 0)
    var seed = 99L
    def nxt(mod: Long): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % mod).toDouble
    }
    val n = 400
    val dx = Seq.fill(n)(nxt(200L) / 100.0 - 1.0)       // ±1-ish
    val eps = Seq.fill(n)(nxt(20L) / 1000.0 - 0.01)     // ±0.01
    val dy = 0.0 +: dx.init.zip(eps.tail).map { case (x, e) => x + e }
    val xs = dx.scanLeft(50.0)(_ + _)
    val ys = dy.scanLeft(50.0)(_ + _)
    val rows = xs.zipWithIndex.map { case (v, i) => ("X", i.toLong, v) } ++
      ys.zipWithIndex.map { case (v, i) => ("Y", i.toLong, v) }
    val out = Relational.granger(rows.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect()
      .map(r => (r.getAs[String]("key_cause"), r.getAs[String]("key_effect")) -> r)
      .toMap
    val xy = out(("X", "Y"))
    val yx = out(("Y", "X"))
    assert(xy.getAs[Boolean]("granger_5pct"), xy.toString)
    assert(xy.getAs[Double]("f_stat") > 100.0, xy.toString)
    assert(math.abs(xy.getAs[Double]("beta_cross") - 1.0) < 0.05, xy.toString)
    assert(xy.getAs[Double]("f_stat") > yx.getAs[Double]("f_stat"), s"$xy vs $yx")
    // in-test replay of the X→Y solve on the exact quantized diffs
    val qx = xs.map(v => math.floor(v * 1e4).toLong)
    val qy = ys.map(v => math.floor(v * 1e4).toLong)
    val dqx = qx.zip(qx.tail).map { case (a, b) => b - a }
    val dqy = qy.zip(qy.tail).map { case (a, b) => b - a }
    // triples (y_t, y_{t−1}, x_{t−1}) for t = 1..n−1 over the diff tapes
    val trip = (1 until dqy.length).map(t => (dqy(t), dqy(t - 1), dqx(t - 1)))
    val nn = trip.length.toDouble
    def s(f: ((Long, Long, Long)) => BigInt): Double = trip.map(f).sum.toDouble
    val (sy2, syl, sxl) = (s(t => BigInt(t._1)), s(t => BigInt(t._2)), s(t => BigInt(t._3)))
    val syy = s(t => BigInt(t._1) * BigInt(t._1)); val syyl = s(t => BigInt(t._1) * BigInt(t._2))
    val syxl = s(t => BigInt(t._1) * BigInt(t._3)); val sylyl = s(t => BigInt(t._2) * BigInt(t._2))
    val sxlxl = s(t => BigInt(t._3) * BigInt(t._3)); val sylxl = s(t => BigInt(t._2) * BigInt(t._3))
    val det = nn * (sylyl * sxlxl - sylxl * sylxl) -
      syl * (syl * sxlxl - sylxl * sxl) + sxl * (syl * sylxl - sylyl * sxl)
    val detB = nn * (syyl * sxlxl - sylxl * syxl) -
      sy2 * (syl * sxlxl - sylxl * sxl) + sxl * (syl * syxl - syyl * sxl)
    val detA = sy2 * (sylyl * sxlxl - sylxl * sylxl) -
      syl * (syyl * sxlxl - sylxl * syxl) + sxl * (syyl * sylxl - sylyl * syxl)
    val detC = nn * (sylyl * syxl - syyl * sylxl) -
      syl * (syl * syxl - syyl * sxl) + sy2 * (syl * sylxl - sylyl * sxl)
    val (ua, ub, uc) = (detA / det, detB / det, detC / det)
    val rssU = syy - ua * sy2 - ub * syyl - uc * syxl
    val rb = (nn * syyl - syl * sy2) / (nn * sylyl - syl * syl)
    val ra = (sy2 - rb * syl) / nn
    val rssR = syy - ra * sy2 - rb * syyl
    val fExp = (rssR - rssU) * (nn - 3.0) / rssU
    assert(math.abs(xy.getAs[Double]("f_stat") - fExp) < math.abs(fExp) * 1e-6 + 1e-4,
      s"${xy.getAs[Double]("f_stat")} vs $fExp")
    assert(xy.getAs[Long]("n") == trip.length.toLong, xy.toString)
  }

  test("ksTwoSample: identical halves D=0, disjoint supports D=1, 1/3 hand case, empty-half dropout") {
    // I: same multiset 1..10 in both halves → D = 0
    val ident = (0 until 20).map(t => ("I", t.toLong, (t % 10 + 1).toDouble))
    // J: first half all 1.0, second half all 2.0 → D = 1, reject
    val disj = (0 until 20).map(t => ("J", t.toLong, if (t < 10) 1.0 else 2.0))
    // M: {1,2,3} vs {2,3,4} → D = 1/3 (dn = 3 of n1·n2 = 9)
    val mixed = Seq(("M", 0L, 1.0), ("M", 1L, 2.0), ("M", 2L, 3.0),
      ("M", 3L, 2.0), ("M", 4L, 3.0), ("M", 5L, 4.0))
    // E: single bucket → second half empty → null D
    val single = Seq(("E", 0L, 5.0))
    val out = Relational.ksTwoSample(
        (ident ++ disj ++ mixed ++ single).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val i = out("I")
    assert(i.getAs[Long]("n1") == 10L && i.getAs[Long]("n2") == 10L, i.toString)
    assert(i.getAs[Double]("d_stat") == 0.0 && !i.getAs[Boolean]("drift_5pct"), i.toString)
    val jj = out("J")
    assert(jj.getAs[Double]("d_stat") == 1.0 && jj.getAs[Boolean]("drift_5pct"), jj.toString)
    val m = out("M")
    assert(math.abs(m.getAs[Double]("d_stat") - 1.0 / 3.0) < 1e-5, m.toString)
    val e = out("E")
    assert(e.getAs[Long]("n2") == 0L && e.isNullAt(e.fieldIndex("d_stat")), e.toString)
  }

  test("transferEntropy: deterministic copy vs in-test replay, constant tape TE=0") {
    // x: LCG sign tape; y copies x's previous diff exactly → strong
    // one-way information flow
    var seed = 7L
    def nxt(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      if (((seed >>> 33) & 1L) == 0L) -1.0 else 1.0
    }
    val n = 300
    val dx = Seq.fill(n)(nxt())
    val dy = 0.5 +: dx.init // y_t's diff = x_{t-1}'s diff
    val xs = dx.scanLeft(100.0)(_ + _)
    val ys = dy.scanLeft(100.0)(_ + _)
    // constant-sign pair: C strictly up, D strictly up → single cell, TE 0
    val cs = (0 until 50).map(t => ("C", t.toLong, 1.0 + t))
    val ds = (0 until 50).map(t => ("D", t.toLong, 2.0 + 2 * t))
    val rows = xs.zipWithIndex.map { case (v, i) => ("X", i.toLong, v) } ++
      ys.zipWithIndex.map { case (v, i) => ("Y", i.toLong, v) } ++ cs ++ ds
    val out = Relational.transferEntropy(rows.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect()
      .map(r => (r.getAs[String]("key_cause"), r.getAs[String]("key_effect")) -> r)
      .toMap
    assert(out(("C", "D")).getAs[Double]("te_nats") == 0.0, out(("C", "D")).toString)
    assert(out(("D", "C")).getAs[Double]("te_nats") == 0.0, out(("D", "C")).toString)
    val xy = out(("X", "Y"))
    val yx = out(("Y", "X"))
    assert(xy.getAs[Double]("te_nats") > 0.5, xy.toString) // ≈ ln 2
    assert(xy.getAs[Double]("te_nats") > yx.getAs[Double]("te_nats") + 0.3,
      s"$xy vs $yx")
    // in-test replay of the X→Y estimate from the exact sign triples
    val sx = dx.map(d => if (d > 0) 1 else 0)
    val sy = dy.map(d => if (d > 0) 1 else 0)
    val trip = (1 until n).map(t => (sy(t), sy(t - 1), sx(t - 1)))
    val cCell = trip.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nT = trip.size.toDouble
    val cYlXl = trip.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
    val cYYl = trip.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
    val cYl = trip.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val teExp = cCell.map { case (cell @ (y, yl, xl), c) =>
      val term = c.toDouble / nT * math.log(
        c.toDouble * cYl(yl) / (cYlXl((yl, xl)).toDouble * cYYl((y, yl))))
      math.floor(term * 1e9).toLong
    }.sum / 1e9
    assert(math.abs(xy.getAs[Double]("te_nats") - teExp) < 1e-5,
      s"${xy.getAs[Double]("te_nats")} vs $teExp")
  }

  test("mannKendall: linear-trend closed forms, tie hand case, all-tied dropout, loud bucket guard") {
    // L: v = 2.5·t over 20 days → S = n(n−1)/2, Theil–Sen exactly 2.5
    val lin = (0 until 20).map(t => ("L", t.toLong, 2.5 * t))
    // T: values 1,2,2,3 → S = 5, tie group of 2, Var = 138/18, TS = 0.583333
    val tie = Seq(("T", 0L, 1.0), ("T", 1L, 2.0), ("T", 2L, 2.0), ("T", 3L, 3.0))
    // F: constant → all tied → Var 0 → null z
    val flat = (0 until 10).map(t => ("F", t.toLong, 4.0))
    val out = Relational.mannKendall(
        (lin ++ tie ++ flat).toDF("k", "db", "v"), "k", "db", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val l = out("L")
    assert(l.getAs[Long]("s_stat") == 190L, l.toString) // 20·19/2
    val varExp = 20.0 * 19.0 * 45.0 / 18.0
    assert(math.abs(l.getAs[Double]("var_s") - varExp) < 1e-9, l.toString)
    assert(math.abs(l.getAs[Double]("theil_sen") - 2.5) < 1e-9, l.toString)
    assert(math.abs(l.getAs[Double]("z") - 189.0 / math.sqrt(varExp)) < 1e-5, l.toString)
    assert(l.getAs[Boolean]("trend_5pct"), l.toString)
    val tr = out("T")
    assert(tr.getAs[Long]("s_stat") == 5L, tr.toString)
    assert(math.abs(tr.getAs[Double]("var_s") - 138.0 / 18.0) < 1e-6, tr.toString)
    assert(math.abs(tr.getAs[Double]("theil_sen") - 0.583333) < 1e-6, tr.toString)
    assert(!tr.getAs[Boolean]("trend_5pct"), tr.toString)
    val f = out("F")
    assert(f.getAs[Long]("s_stat") == 0L && f.isNullAt(f.fieldIndex("z")), f.toString)
    assert(f.getAs[Double]("theil_sen") == 0.0, f.toString)
    // quadratic-join guard fails loudly above the bucket budget
    val err = intercept[IllegalArgumentException] {
      Relational.mannKendall(lin.toDF("k", "db", "v"), "k", "db", "v",
        maxBuckets = 10)
    }
    assert(err.getMessage.contains("maxBuckets"), err.getMessage)
  }

  test("christoffersenTest: bursty vs isolated violations, in-test LR replay") {
    // reference window pins VaR(5%); evaluation tapes share it
    val ref = (0 until 100).flatMap { i =>
      Seq(("B", i.toLong, if (i < 5) -10.0 else 1.0),
          ("I", i.toLong, if (i < 5) -10.0 else 1.0))
    }
    // B: 4 CONSECUTIVE violations in 40 obs; I: 4 isolated ones
    val burst = (0 until 40).map(t =>
      ("B", (100 + t).toLong, if (t >= 10 && t <= 13) -20.0 else 1.0))
    val isol = (0 until 40).map(t =>
      ("I", (100 + t).toLong, if (t % 10 == 5) -20.0 else 1.0))
    def df(rows: Seq[(String, Long, Double)]) = rows.toDF("k", "seq", "v")
    val out = operators.Backtest.christoffersenTest(
        df(ref), df(burst ++ isol), Seq("k"), Seq(col("seq")), "v", alpha = 0.05)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val b = out("B")
    assert(b.getAs[Long]("n_viol") == 4L, b.toString)
    assert((b.getAs[Long]("n00"), b.getAs[Long]("n01"), b.getAs[Long]("n10"),
      b.getAs[Long]("n11")) == ((34L, 1L, 1L, 3L)), b.toString)
    val i = out("I")
    assert((i.getAs[Long]("n01"), i.getAs[Long]("n11")) == ((4L, 0L)), i.toString)
    // bursty violations reject independence; isolated ones do not
    assert(b.getAs[Boolean]("reject_ind") && !i.getAs[Boolean]("reject_ind"),
      s"$b vs $i")
    assert(b.getAs[Double]("lr_ind") > i.getAs[Double]("lr_ind"), s"$b vs $i")
    // in-test replay of LR_ind from B's transition counts
    def lrInd(n00: Long, n01: Long, n10: Long, n11: Long): Double = {
      val m = (n00 + n01 + n10 + n11).toDouble
      val pi = (n01 + n11) / m
      def term(c: Long, p: Double) = if (c > 0) c * math.log(p) else 0.0
      val l0 = term(n00 + n10, 1.0 - pi) + term(n01 + n11, pi)
      val pi0 = n01.toDouble / (n00 + n01)
      val pi1 = n11.toDouble / (n10 + n11)
      val l1 = term(n00, 1.0 - pi0) + term(n01, pi0) +
        term(n10, 1.0 - pi1) + term(n11, pi1)
      2.0 * (l1 - l0)
    }
    assert(math.abs(b.getAs[Double]("lr_ind") - lrInd(34, 1, 1, 3)) < 1e-5,
      b.toString)
    // lr_cc decomposes as pof + ind (replay on the rounded outputs)
    assert(math.abs(i.getAs[Double]("lr_cc") -
      (i.getAs[Double]("lr_ind") + (i.getAs[Double]("lr_cc") -
        i.getAs[Double]("lr_ind")))) < 1e-9)
  }

  test("gpdTailFit: arithmetic-tail PWM replay, degenerate constant tail, uniform xi=-1") {
    // U: values 1..100 → u = 90.1, excesses {0.9, 1.9, …, 9.9}
    val u = (1 to 100).map(i => ("U", i.toDouble))
    // C: 95 zeros + 5 ones → all excesses equal → b0 − 2b1 = 0 → null
    val c = (0 until 100).map(i => ("C", if (i < 95) 0.0 else 1.0))
    val out = operators.Backtest.gpdTailFit(
        (u ++ c).toDF("k", "v"), Seq("k"), "v", uQuantile = 0.9, scale = 1e6)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val ur = out("U")
    assert(ur.getAs[Long]("n_tail") == 10L, ur.toString)
    assert(math.abs(ur.getAs[Double]("threshold") - 90.1) < 1e-6, ur.toString)
    // in-test PWM replay on the exact quantized excesses
    val eq = (0 until 10).map(i => math.floor((91.0 + i - 90.1) * 1e6).toLong)
      .sorted
    val nt = eq.length.toDouble
    val b0 = eq.map(BigInt(_)).sum.toDouble / nt
    val b1 = eq.zipWithIndex.map { case (e, i0) =>
      BigInt(e) * (eq.length - (i0 + 1)) }.sum.toDouble / (nt * (nt - 1.0))
    val den = b0 - 2.0 * b1
    val xiExp = 2.0 - b0 / den
    val betaExp = 2.0 * b0 * b1 / den / 1e6
    assert(math.abs(ur.getAs[Double]("xi") - xiExp) < 1e-5, s"$ur vs $xiExp")
    assert(math.abs(ur.getAs[Double]("beta") - betaExp) < 1e-4, s"$ur vs $betaExp")
    // near-uniform tail → ξ close to −1 (uniform IS GPD with ξ = −1)
    assert(ur.getAs[Double]("xi") < -0.8, ur.toString)
    val cr = out("C")
    assert(cr.isNullAt(cr.fieldIndex("xi")), cr.toString)
  }

  test("sampleEntropy: constant and periodic tapes give 0, LCG replay, loud bucket guard") {
    val const = (0 until 30).map(t => ("C", t.toLong, 5.0))
    val period = (0 until 30).map(t => ("P", t.toLong, if (t % 2 == 0) 1.0 else 9.0))
    var seed = 3L
    def nxt(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % 1000L).toDouble / 100.0
    }
    val noise = (0 until 60).map(t => ("N", t.toLong, nxt()))
    val out = Relational.sampleEntropy(
        (const ++ period ++ noise).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    // constant: r = 0 but every distance 0 → A = B → SampEn 0
    assert(out("C").getAs[Double]("sampen") == 0.0, out("C").toString)
    // period-2 tape: same-phase templates match and extend → SampEn 0
    assert(out("P").getAs[Double]("sampen") == 0.0, out("P").toString)
    val n = out("N")
    assert(n.getAs[Double]("sampen") > 0.0, n.toString)
    // in-test replay of the exact integer protocol on the LCG tape
    val q = noise.map(r => math.floor(r._3 * 1e4).toLong)
    val nn = q.length.toDouble
    val s1 = q.map(BigInt(_)).sum.toDouble
    val s2 = q.map(v => BigInt(v) * BigInt(v)).sum.toDouble
    val sd = math.sqrt((nn * s2 - s1 * s1) / (nn * (nn - 1.0)))
    val r = math.floor(0.2 * sd).toLong
    val emb = (0 until q.length - 2).map(t => (q(t), q(t + 1), q(t + 2)))
    var bc = 0L; var ac = 0L
    for (i <- emb.indices; j <- (i + 1) until emb.length) {
      val (a0, a1, a2) = emb(i); val (b0e, b1e, b2e) = emb(j)
      // an (m+1)-match implies the m-match (max over a superset), so
      // A only ever counts inside B
      if (math.max(math.abs(b0e - a0), math.abs(b1e - a1)) <= r) {
        bc += 1
        if (math.abs(b2e - a2) <= r) ac += 1
      }
    }
    assert(n.getAs[Long]("b_count") == bc && n.getAs[Long]("a_count") == ac,
      s"$n vs b=$bc a=$ac")
    assert(math.abs(n.getAs[Double]("sampen") -
      -math.log(ac.toDouble / bc.toDouble)) < 1e-5, n.toString)
    val err = intercept[IllegalArgumentException] {
      Relational.sampleEntropy(noise.toDF("k", "hb", "v"), "k", "hb", "v",
        maxBuckets = 10)
    }
    assert(err.getMessage.contains("maxBuckets"), err.getMessage)
  }

  test("cvmTwoSample: identical halves T=0, disjoint closed form, mixed hand case") {
    val ident = (0 until 20).map(t => ("I", t.toLong, (t % 10 + 1).toDouble))
    // disjoint supports, n=m=10: single step of Δ=100 with weight 10 →
    // T = 10·100² / (20²·100) = 2.5
    val disj = (0 until 20).map(t => ("J", t.toLong, if (t < 10) 1.0 else 2.0))
    // {1,2,3} vs {2,3,4}: Δ=3 at v=1(w1),2(w2),3(w2) → num=45,
    // T = 45/(36·9) = 0.138889
    val mixed = Seq(("M", 0L, 1.0), ("M", 1L, 2.0), ("M", 2L, 3.0),
      ("M", 3L, 2.0), ("M", 4L, 3.0), ("M", 5L, 4.0))
    val out = Relational.cvmTwoSample(
        (ident ++ disj ++ mixed).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(out("I").getAs[Double]("t_stat") == 0.0 &&
      !out("I").getAs[Boolean]("drift_5pct"), out("I").toString)
    assert(math.abs(out("J").getAs[Double]("t_stat") - 2.5) < 1e-9 &&
      out("J").getAs[Boolean]("drift_5pct"), out("J").toString)
    assert(math.abs(out("M").getAs[Double]("t_stat") - 45.0 / 324.0) < 1e-6,
      out("M").toString)
  }

  test("chowTest: stable zigzag vs slope break, in-test OLS replay, perfect-fit dropout") {
    // S: same zigzag-around-trend in both halves → tiny F, no break
    val stable = (0 until 20).map(t => ("S", t.toLong, 2.0 * t + 0.1 * (t % 2)))
    // B: slope 1 then slope 5, each half zigzag-perturbed → huge F
    val break_ = (0 until 20).map { t =>
      val base = if (t <= 9) t.toDouble else 9.0 + 5.0 * (t - 9)
      ("B", t.toLong, base + 0.1 * (t % 2))
    }
    // P: perfect single line → RSS_sum = 0 → null F (0/0 guarded)
    val perfect = (0 until 20).map(t => ("P", t.toLong, 3.0 + 2.0 * t))
    val out = Relational.chowTest(
        (stable ++ break_ ++ perfect).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val s = out("S")
    assert(!s.getAs[Boolean]("break_5pct"), s.toString)
    assert(math.abs(s.getAs[Double]("slope1") - 2.0) < 0.1, s.toString)
    val b = out("B")
    assert(b.getAs[Boolean]("break_5pct"), b.toString)
    assert(math.abs(b.getAs[Double]("slope1") - 1.0) < 0.1 &&
      math.abs(b.getAs[Double]("slope2") - 5.0) < 0.1, b.toString)
    assert(b.getAs[Double]("f_stat") > s.getAs[Double]("f_stat"), s"$b vs $s")
    // in-test replay of B's three fits on the exact quantized images
    val q = break_.map { case (_, t, v) => (t, math.floor(v * 1e4).toLong) }
    def ols(pts: Seq[(Long, Long)]): (Double, Double) = {
      val n = pts.length.toDouble
      val st = pts.map(_._1).sum.toDouble
      val stt = pts.map(p => p._1 * p._1).sum.toDouble
      val sv = pts.map(p => BigInt(p._2)).sum.toDouble
      val svv = pts.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
      val stv = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum.toDouble
      val bb = (n * stv - st * sv) / (n * stt - st * st)
      val aa = (sv - bb * st) / n
      (bb, svv - aa * sv - bb * stv)
    }
    val (_, r1) = ols(q.filter(_._1 <= 9))
    val (_, r2) = ols(q.filter(_._1 > 9))
    val (_, rp) = ols(q)
    val fExp = (rp - (r1 + r2)) / 2.0 / ((r1 + r2) / (20.0 - 4.0))
    assert(math.abs(b.getAs[Double]("f_stat") - fExp) < math.abs(fExp) * 1e-5,
      s"${b.getAs[Double]("f_stat")} vs $fExp")
    assert(out("P").isNullAt(out("P").fieldIndex("f_stat")), out("P").toString)
  }

  test("ngramNovelty: seen/unseen test docs score 0/1, short docs null out") {
    val spark2 = spark
    import spark2.implicits._
    val ids = (1L to 300L)
    val splits = ids.map(i => ("d", i)).toDF("x", "id")
      .select(col("id"), TextAnalysis.split3(col("id")).as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainIds = ids.filter(splits(_) == "train")
    val testIds = ids.filter(splits(_) == "test")
    assert(trainIds.nonEmpty && testIds.size >= 4, s"split skew: ${testIds.size}")
    val seenText = (1 to 10).map(i => s"tok$i").mkString(" ")   // 10 tokens → 3 windows
    val novelText = (1 to 10).map(i => s"new$i").mkString(" ")
    val (seenDocs, novelDocs) = testIds.splitAt(testIds.size / 2)
    val docs =
      trainIds.map(i => (i, seenText)) ++
      seenDocs.map(i => (i, seenText)) ++
      novelDocs.filter(_ != testIds.last).map(i => (i, novelText)) :+
      (testIds.last, "too short")                               // < 8 tokens
    val out = TextAnalysis.ngramNovelty(docs.toDF("doc_id", "text"),
        "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == testIds.size, s"${out.size} vs ${testIds.size}")
    seenDocs.foreach { i =>
      assert(out(i).getAs[Long]("n_windows") == 3L &&
        out(i).getAs[Double]("novelty_rate") == 0.0, out(i).toString)
    }
    novelDocs.filter(_ != testIds.last).foreach { i =>
      assert(out(i).getAs[Double]("novelty_rate") == 1.0, out(i).toString)
    }
    val short = out(testIds.last)
    assert(short.getAs[Long]("n_windows") == 0L &&
      short.isNullAt(short.fieldIndex("novelty_rate")), short.toString)
  }

  test("supChow: locates an off-center break, beats the midpoint Chow, counts candidates") {
    // B: slope 1 → slope 5 at t = 25 of 0..39 (off-center), zigzag so
    // segment RSS stays positive; buckets offset by 1000
    val bq = (0 until 40).map { t =>
      val base = if (t <= 25) t.toDouble else 25.0 + 5.0 * (t - 25)
      ("B", (1000 + t).toLong, base + 0.1 * (t % 2))
    }
    val out = Relational.supChow(bq.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val b = out("B")
    // minseg = max(3, ceil(0.15·40)) = 6 → candidates cn ∈ [6, 34] → 29
    assert(b.getAs[Long]("n") == 40L && b.getAs[Long]("n_candidates") == 29L,
      b.toString)
    val bb = b.getAs[Long]("break_bucket")
    assert(bb >= 1023L && bb <= 1027L, b.toString)
    assert(b.getAs[Double]("break_frac") > 0.55 &&
      b.getAs[Double]("break_frac") < 0.72, b.toString)
    // the sup dominates the fixed-midpoint Chow F on the same tape
    val chowF = Relational.chowTest(bq.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head.getAs[Double]("f_stat")
    assert(b.getAs[Double]("sup_f") >= chowF - 1e-9,
      s"${b.getAs[Double]("sup_f")} vs midpoint $chowF")
  }

  test("kruskalWallis: no-tie and tie closed forms, shifted group rejects") {
    // {1,2} vs {3,4}: R = 3|7 → H = 2.4, no ties, df=1 → keep null? no:
    // crit(1) = 3.84 → no reject
    val a = Seq(("A", 0L, 1.0), ("A", 1L, 2.0), ("B", 0L, 3.0), ("B", 1L, 4.0))
    val r1 = Relational.kruskalWallis(a.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(r1.getAs[Long]("n") == 4L && r1.getAs[Long]("k_groups") == 2L, r1.toString)
    assert(math.abs(r1.getAs[Double]("h") - 2.4) < 1e-9, r1.toString)
    assert(math.abs(r1.getAs[Double]("h_adj") - 2.4) < 1e-9, r1.toString)
    assert(!r1.getAs[Boolean]("reject_5pct"), r1.toString)
    // {1,1} vs {2,2}: midranks 1.5|3.5 → H = 2.4, tie = 12,
    // corr = 0.8 → H_adj = 3.0
    val b = Seq(("A", 0L, 1.0), ("A", 1L, 1.0), ("B", 0L, 2.0), ("B", 1L, 2.0))
    val r2 = Relational.kruskalWallis(b.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(math.abs(r2.getAs[Double]("h") - 2.4) < 1e-9, r2.toString)
    assert(math.abs(r2.getAs[Double]("h_adj") - 3.0) < 1e-9, r2.toString)
    // a clearly shifted third group over a longer tape rejects (k=3 → χ²(2))
    val big = (0 until 30).flatMap(t => Seq(
      ("A", t.toLong, (t % 5).toDouble), ("B", t.toLong, (t % 5).toDouble),
      ("C", t.toLong, 100.0 + (t % 5))))
    val r3 = Relational.kruskalWallis(big.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(r3.getAs[Long]("k_groups") == 3L && r3.getAs[Boolean]("reject_5pct"),
      r3.toString)
  }

  test("brownForsythe: location shift doesn't reject, scale blowup does, hand ANOVA replay") {
    // location-only shift: identical deviation tapes → SSB = 0 → F = 0
    val p = (0 until 30).map(t => (t % 7).toDouble)
    val loc = p.zipWithIndex.flatMap { case (v, t) =>
      Seq(("A", t.toLong, v), ("B", t.toLong, v + 100.0)) }
    val r1 = Relational.brownForsythe(loc.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    // exact-zero SSB lands within one ⌊·10⁶⌋ quantum of 0
    assert(math.abs(r1.getAs[Double]("f_bf")) < 1e-5 &&
      !r1.getAs[Boolean]("reject_5pct"), r1.toString)
    // 10× scale on one leg rejects
    val sc = p.zipWithIndex.flatMap { case (v, t) =>
      Seq(("A", t.toLong, v), ("C", t.toLong, v * 10.0)) }
    val r2 = Relational.brownForsythe(sc.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(r2.getAs[Boolean]("reject_5pct"), r2.toString)
    // {1,2,3} vs {1,5,9}: SSB = 24, SSW = 136/3 → F = 288/136
    val hand = Seq(("A", 0L, 1.0), ("A", 1L, 2.0), ("A", 2L, 3.0),
      ("B", 0L, 1.0), ("B", 1L, 5.0), ("B", 2L, 9.0))
    val r3 = Relational.brownForsythe(hand.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(r3.getAs[Long]("n") == 6L && r3.getAs[Long]("k_groups") == 2L, r3.toString)
    assert(math.abs(r3.getAs[Double]("f_bf") - 288.0 / 136.0) < 1e-4, r3.toString)
    assert(!r3.getAs[Boolean]("reject_5pct"), r3.toString)
  }

  test("friedman: constant-order closed form 2n, tie midranks 1.5n, incomplete blocks drop") {
    // B < A < C in every block → ranks 1,2,3 → χ²_F = 2n exactly;
    // one incomplete bucket (only A) must drop
    val ordered = (0 until 10).flatMap(t => Seq(
      ("A", t.toLong, 5.0 + t), ("B", t.toLong, 1.0 + t), ("C", t.toLong, 9.0 + t))) :+
      ("A", 99L, 1.0)
    val r1 = Relational.friedman(ordered.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(r1.getAs[Long]("n_blocks") == 10L && r1.getAs[Long]("k_groups") == 3L,
      r1.toString)
    assert(math.abs(r1.getAs[Double]("chi2_f") - 20.0) < 1e-4, r1.toString)
    assert(r1.getAs[Boolean]("reject_5pct"), r1.toString)
    // A = B tied in every block, C above → midranks 1.5,1.5,3 →
    // χ²_F = 1.5n (the classic uncorrected statistic with midranks)
    val tied = (0 until 10).flatMap(t => Seq(
      ("A", t.toLong, 2.0 + t), ("B", t.toLong, 2.0 + t), ("C", t.toLong, 9.0 + t)))
    val r2 = Relational.friedman(tied.toDF("k", "hb", "v"), "k", "hb", "v")
      .collect().head
    assert(math.abs(r2.getAs[Double]("chi2_f") - 15.0) < 1e-4, r2.toString)
    assert(r2.getAs[Boolean]("reject_5pct"), r2.toString)
  }

  test("mutualInfo: copied tape ln2, anti-aligned ln2, independent near 0") {
    // X and its copy Y: balanced alternating diffs → MI = ln 2 exactly;
    // Z = mirrored (anti-aligned) → the SAME ln 2 (MI is relabel-blind)
    val alt = (0 until 41).map(t => if (t % 2 == 0) 10.0 else 12.0)
    val rows = alt.zipWithIndex.flatMap { case (v, t) =>
      Seq(("A", t.toLong, v), ("B", t.toLong, v), ("C", t.toLong, 22.0 - v)) }
    var seed = 41L
    def nxt(): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % 1000L).toDouble / 100.0
    }
    val ind = (0 until 41).flatMap(t => Seq(("X", t.toLong, nxt()), ("Y", t.toLong, nxt())))
    val out = Relational.mutualInfo((rows ++ ind).toDF("k", "hb", "v"), "k", "hb", "v")
      .collect()
      .map(r => (r.getAs[String]("key_a"), r.getAs[String]("key_b")) -> r).toMap
    assert(out(("A", "B")).getAs[Double]("mi_nats") == 0.693147, out(("A", "B")).toString)
    assert(out(("A", "C")).getAs[Double]("mi_nats") == 0.693147, out(("A", "C")).toString)
    assert(math.abs(out(("X", "Y")).getAs[Double]("mi_nats")) < 0.05,
      out(("X", "Y")).toString)
  }

  test("gini: even split 0, single-holder (n-1)/n, 1..4 hand case, exact cent totals") {
    val even = (1 to 5).map(u => ("E", u.toLong, 10.0))
    val conc = (1 to 5).map(u => ("K", u.toLong, if (u == 3) 50.0 else 0.0))
    val hand = (1 to 4).map(u => ("H", u.toLong, u.toDouble))
    val out = Relational.gini((even ++ conc ++ hand).toDF("k", "u", "v"),
        Seq("k"), "u", "v")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(out("E").getAs[Double]("gini") == 0.0, out("E").toString)
    assert(math.abs(out("K").getAs[Double]("gini") - 0.8) < 1e-9, out("K").toString)
    assert(math.abs(out("H").getAs[Double]("gini") - 0.25) < 1e-9, out("H").toString)
    assert(out("H").getAs[Double]("total") == 10.0 &&
      out("H").getAs[Long]("n_members") == 4L, out("H").toString)
  }

  test("tokenizerFertility composition: single-char words give fertility exactly 1") {
    // single-char words are merge-independent: pieces ≡ words at any
    // merge budget, so fertility is exactly 1 and chars/piece is the
    // raw ratio — the composition seam is what this pins (the BPE
    // machinery itself is oracle-gated)
    val docs = Seq(
      (1L, "a b c", "aa", 5L), (2L, "d e", "aa", 3L),
      (3L, "x y z w", "bb", 7L)).toDF("doc_id", "text", "lang", "n_chars")
    val tok = TextAnalysis.bpeTokenize(docs, "text", "doc_id", merges = 6)
    val got = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(tok, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("w"), sum(col("n_pieces")).as("p"),
        sum(col("n_chars")).as("c"))
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("w"), r.getAs[Long]("p"), r.getAs[Long]("c"))).toMap
    assert(got("aa") == ((5L, 5L, 8L)), got("aa").toString)
    assert(got("bb") == ((4L, 4L, 7L)), got("bb").toString)
  }

  test("partialCorrelation: common driver collapses, direct link survives, image replay") {
    // Z drives X and Y through independent noises; W is tied to X
    // directly — controlling Z must kill r_XY but not r_WX
    var seed = 77L
    def nxt(mod: Long): Double = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % mod).toDouble / mod.toDouble
    }
    val n = 500
    val rows = (0 until n).flatMap { t =>
      val z = nxt(1000L) * 10.0
      val x = z + nxt(1000L)
      val y = z + nxt(1000L)
      val w = x + nxt(1000L) * 0.1
      Seq(("Z", t.toLong, z), ("X", t.toLong, x), ("Y", t.toLong, y),
        ("W", t.toLong, w))
    }
    val df = rows.toDF("k", "hb", "v")
    val out = Relational.partialCorrelation(df, "k", "hb", "v")
      .collect().map(r => (r.getAs[String]("key_a"), r.getAs[String]("key_b"),
        r.getAs[String]("key_ctrl")) -> r).toMap
    val xyz = out(("X", "Y", "Z"))
    assert(xyz.getAs[Double]("corr_raw") > 0.85, xyz.toString)
    assert(math.abs(xyz.getAs[Double]("partial_corr")) < 0.15, xyz.toString)
    val wxz = out(("W", "X", "Z"))
    assert(wxz.getAs[Double]("partial_corr") > 0.9, wxz.toString)
    // replay from the operator's own 6-dp pair images
    val cm = Relational.correlationMatrix(df, "k", "hb", "v")
      .collect().flatMap { r =>
        val (a, b) = (r.getAs[String]("key_a"), r.getAs[String]("key_b"))
        val c = r.getAs[Double]("corr")
        Seq((a, b) -> c, (b, a) -> c)
      }.toMap
    val exp = (cm(("X", "Y")) - cm(("X", "Z")) * cm(("Y", "Z"))) /
      (math.sqrt(1.0 - cm(("X", "Z")) * cm(("X", "Z"))) *
        math.sqrt(1.0 - cm(("Y", "Z")) * cm(("Y", "Z"))))
    assert(math.abs(xyz.getAs[Double]("partial_corr") - exp) < 1e-5, s"$xyz vs $exp")
  }

}

/** Test backends for the inference-backend contract spec — top level so
  * closures capture them without dragging the (non-serializable) suite. */
object BackendFixtures {
  val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Deliberately NOT Serializable — a stand-in for an ONNX session. */
  class FakeEmbedRuntime(dim: Int) extends EmbeddingRuntime {
    BackendFixtures.builds.incrementAndGet()
    def encodeBatch(texts: Seq[String]): Seq[Array[Float]] =
      texts.map(t => Array.tabulate(dim)(i => (t.length + i).toFloat))
  }
  case class FakeRuntimeEncoder(dim: Int, tag: String) extends RuntimeEncoder {
    protected def runtimeKey: Any = ("fake-embed", dim, tag)
    protected def loadRuntime(): EmbeddingRuntime = new FakeEmbedRuntime(dim)
  }

  class FakeSentimentRuntime extends SentimentRuntime {
    BackendFixtures.builds.incrementAndGet()
    def scoreBatch(texts: Seq[String]): Seq[(Double, Double)] =
      texts.map(t => if (t.contains("up")) (0.9, 0.1) else (0.2, 0.8))
  }
  case class FakeRuntimeModel(tag: String) extends RuntimeSentimentModel {
    protected def runtimeKey: Any = ("fake-sent", tag)
    protected def loadRuntime(): SentimentRuntime = new FakeSentimentRuntime
  }
}

/** Serialization-safe init contract for pluggable inference backends:
  * driver never builds the runtime, each JVM builds it exactly once
  * (whatever the task/partition count), and a backend serializes cleanly
  * even after its runtime was forced. */
class BackendContractSpec extends SparkSpec {
  import spark.implicits._

  private def roundtrip[T](x: T): T = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(x); out.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[T]
  }

  test("embedding backend: no driver init, one build per JVM, serializable when built") {
    graft.operators.InferenceRuntimeCache.clear()
    BackendFixtures.builds.set(0)
    val enc = BackendFixtures.FakeRuntimeEncoder(4, "embA")
    assert(BackendFixtures.builds.get() == 0, "constructing a backend must not load the model")
    val df = (0 until 32).map(i => (i.toLong, "x" * (i % 5 + 1))).toDF("doc_id", "text")
      .repartition(8)
    val out = TextEmbeddings.withEmbeddings(df, "text", enc, batchSize = 4)
      .select("doc_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(out(3L) == Seq(4.0f, 5.0f, 6.0f, 7.0f)) // len("x"*4)+i
    // 8 partitions, 32 rows, ONE model load (the reference's _PIPELINE
    // singleton, per executor JVM) — @transient lazy alone would load
    // once per deserialized task copy
    assert(BackendFixtures.builds.get() == 1,
      s"expected exactly one runtime build, got ${BackendFixtures.builds.get()}")
    // a re-serialized backend reuses the cached runtime
    assert(roundtrip(enc).encode(Seq("xx")).head.head == 2.0f)
    assert(BackendFixtures.builds.get() == 1)
  }

  test("trained logistic backend: real learned weights, scored through the seam") {
    graft.operators.InferenceRuntimeCache.clear()
    val posV = Array("surge", "rally", "gain", "profit", "up", "strong", "bull", "record")
    val negV = Array("crash", "plunge", "loss", "down", "weak", "bear", "fraud", "panic")
    val neutral = Array("the", "market", "today", "price", "asset", "report", "volume")
    val rng = new scala.util.Random(7)
    def doc(v: Array[String]): String =
      (Seq.fill(6)(v(rng.nextInt(v.length))) ++
        Seq.fill(4)(neutral(rng.nextInt(neutral.length)))).mkString(" ")
    val train = ((0 until 150).map(_ => (doc(posV), 1.0)) ++
      (0 until 150).map(_ => (doc(negV), 0.0))).toDF("text", "label")
    val model = TrainedSentiment.train(train, "text", "label",
      dim = 512, maxIter = 30)
    assert(model.weights.length == 512 && model.weights.exists(_ != 0.0),
      "training must produce non-trivial weights")
    // a serialization round-trip ships config only and scores identically
    val shipped = roundtrip(model)
    // held-out docs from the same generator, scored distributed
    val heldOut = (0 until 40).map(i =>
      (doc(if (i % 2 == 0) posV else negV), if (i % 2 == 0) 1.0 else 0.0))
      .toDF("text", "label").repartition(4)
    val scored = SentimentScorer.withSentiment(heldOut, "text", shipped)
    val correct = scored.where(
      (col("p_pos") > 0.5) === (col("label") === 1.0)).count()
    assert(correct >= 36, s"learned model must generalize: $correct/40 correct")
    // label surface behaves like every other backend
    assert(scored.where(col("label") === 1.0)
      .agg(avg(col("sentiment_score"))).head.getDouble(0) > 0.5)
  }

  test("random-projection encoder: JL geometry through the lazy-runtime seam") {
    graft.operators.InferenceRuntimeCache.clear()
    val enc = TextEmbeddings.RandomProjectionEncoder(dim = 32, vocabDim = 1024)
    val shipped = roundtrip(enc) // config-only, before any runtime build
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val Seq(x, y, z) = shipped.encode(Seq(
      "alpha beta gamma delta", "alpha beta gamma epsilon", "zeta eta theta iota"))
    assert(math.abs(cos(x, x) - 1.0) < 1e-6, "encodings must be L2-normalized")
    assert(cos(x, y) > cos(x, z) + 0.2,
      s"token overlap must dominate the geometry: ${cos(x, y)} vs ${cos(x, z)}")
    assert(shipped.encode(Seq("alpha beta")).head.toSeq ==
      enc.encode(Seq("alpha beta")).head.toSeq, "deterministic across copies")
    // end to end: encode a corpus, semantic-dedup the identical pair
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "zeta eta theta entirely other")).toDF("id", "text")
    val emb = TextEmbeddings.withEmbeddings(df.repartition(2), "text", shipped)
    val keep = Similarity.semanticDedup(emb, "embedding", "id", k = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep(1L) && !keep(2L) && keep(3L),
      s"identical doc 2 must drop against rep 1, distinct doc 3 survives: $keep")
  }

  test("sentiment backend: same contract through withSentiment") {
    graft.operators.InferenceRuntimeCache.clear()
    BackendFixtures.builds.set(0)
    val model = BackendFixtures.FakeRuntimeModel("sentA")
    // serializing BEFORE any build must work (config-only payload)
    val shipped = roundtrip(model)
    assert(BackendFixtures.builds.get() == 0)
    val df = Seq((1L, "going up"), (2L, "going down")).toDF("id", "text").repartition(2)
    val out = SentimentScorer.withSentiment(df, "text", shipped)
      .select("id", "sentiment_label").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "positive", 2L -> "negative"))
    assert(BackendFixtures.builds.get() == 1)
    // forcing the runtime on the driver (ad-hoc scoring) doesn't break a
    // later ship: the runtime field is transient, only config serializes
    assert(model.predict(Seq("up")).head._1 == 0.9)
    assert(roundtrip(model).predict(Seq("down")).head._2 == 0.8)
    assert(BackendFixtures.builds.get() == 1, "every copy shares the per-JVM runtime")
  }

  test("WordVectorsEncoder: GloVe/fastText weights file through the seam — " +
    "meanpool+L2, OOV zero, header validation, loud missing file") {
    val dir = java.nio.file.Files.createTempDirectory("wv")
    val vec = dir.resolve("mini.vec")
    // fastText-style header + 3 tokens in a 4-dim space
    java.nio.file.Files.writeString(vec,
      "3 4\nup 1 0 0 0\ndown 0 1 0 0\nflat 0 0 2 0\n")
    val enc = WordVectorsEncoder(vec.toString, dim = 4)
    val out = roundtrip(enc).encode(Seq("up down", "FLAT", "zzz qqq", ""))
    // mean of e1,e2 = (.5,.5,0,0) -> L2 = (√½,√½,0,0)
    val r2 = 1.0f / math.sqrt(2.0).toFloat
    assert(out(0).toSeq == Seq(r2, r2, 0f, 0f))
    // single token normalizes regardless of magnitude (lowercased)
    assert(out(1).toSeq == Seq(0f, 0f, 1f, 0f))
    // all-OOV and empty -> zero vector, right dim
    assert(out(2).toSeq == Seq(0f, 0f, 0f, 0f) && out(3).length == 4)
    // the batched DataFrame stage consumes it unchanged
    import spark.implicits._
    val df = TextEmbeddings.withEmbeddings(
      Seq((1L, "up down"), (2L, "none")).toDF("id", "text"), "text", enc)
    val got = df.orderBy("id").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toSeq)
    assert(got(0) == Seq(r2, r2, 0f, 0f) && got(1) == Seq(0f, 0f, 0f, 0f))
    // wrong declared dim fails loudly at load, not silently
    val bad = intercept[Exception] {
      WordVectorsEncoder(vec.toString, dim = 5).encode(Seq("up"))
    }
    assert(bad.getMessage.contains("dim"), bad.getMessage)
    // missing file: construction free, first encode loud
    val missing = WordVectorsEncoder(dir.resolve("absent.vec").toString, dim = 4)
    val err = intercept[Exception] { missing.encode(Seq("x")) }
    assert(err.getMessage.contains("weights file not found"), err.getMessage)
  }

  test("LexiconSentimentModel: VADER-format lexicon file — logistic of mean valence, neutral on no hits") {
    val dir = java.nio.file.Files.createTempDirectory("lex")
    val path = dir.resolve("vader.txt")
    java.nio.file.Files.writeString(path,
      "# comment line\ngood\t2.0\nbad\t-2.0\ngreat\t3.0\textra\tcolumns ignored\n")
    val model = LexiconSentimentModel(path.toString)
    val ps = roundtrip(model).predict(Seq("good", "bad", "good bad", "nothing here", "GREAT"))
    def logistic(m: Double) = 1.0 / (1.0 + math.exp(-m))
    assert(ps(0)._1 == logistic(2.0) && approx(ps(0)._1 + ps(0)._2, 1.0))
    assert(ps(1)._1 == logistic(-2.0))
    assert(ps(2)._1 == 0.5, "opposite valences cancel to neutral")
    assert(ps(3)._1 == 0.5, "no lexicon hits is neutral")
    assert(ps(4)._1 == logistic(3.0), "lowercase fold reaches the lexicon")
    // the batched DataFrame stage consumes it unchanged
    import spark.implicits._
    val df = SentimentScorer.withSentiment(
      Seq((1L, "good great")).toDF("id", "text"), "text", model)
    assert(df.collect()(0).getAs[Double]("p_pos") == logistic(2.5))
    val missing = LexiconSentimentModel(dir.resolve("absent.txt").toString)
    val err = intercept[Exception] { missing.predict(Seq("x")) }
    assert(err.getMessage.contains("lexicon file not found"), err.getMessage)
  }

}
