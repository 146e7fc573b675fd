package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale rehearsal for the heavy dedup pipelines: replicate the sf0.1
  * documents corpus R× into DISJOINT token spaces (every token gets a
  * per-replica suffix, so each replica carries the original corpus's
  * internal duplicate structure but no cross-replica near-dups) and
  * measure how candidate counts and wall-clock grow with corpus size.
  * The claim under test is the one that matters at 100 TB: band-bucket
  * candidate generation is ~LINEAR in corpus size (never all-pairs), and
  * connected components converges through its distributed loop when the
  * pair graph outgrows the driver cutoff.
  *
  * Replicas are materialized to parquet under target/ first so every
  * measured run starts from a real scan, like the bench queries.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... runMain graft.tools.ScaleRehearsal
  * [section ...]` runs the named [[Sections]] (all of them by default);
  * env `SPARK_GRAFT_REHEARSAL_MULTS` overrides the default 1,3,10.
  * Prints one stderr line per (multiplier, stage) and a final JSON line
  * on stdout for BASELINE.md. */
object ScaleRehearsal {
  private val Sections = Seq("dedup", "semantic", "skew", "newops", "r4ops", "sampled",
    "market", "r7ops", "winsor", "book", "r8ops")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_MULTS", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    args.filterNot(Sections.contains).foreach(a =>
      sys.error(s"unknown section $a; sections: ${Sections.mkString(" ")}"))
    val selected: String => Boolean = if (args.isEmpty) _ => true else args.toSet
    val outBase = "target/rehearsal"
    val spark = graft.LocalSession()
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")

    def replicate(r: Int): DataFrame =
      if (r == 0) base
      else base.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        // per-replica token suffix → replica token spaces are disjoint:
        // the duplicate structure inside each replica is preserved, no
        // cross-replica pairs are created
        regexp_replace(col("text"), "(\\S+)", "$1zz" + r).as("text"))

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** HONEST single-pass materialization: executes the physical plan for
      * the FULL output schema (no count-driven column pruning / join
      * elimination — round 7 caught `.count()` letting Catalyst optimize
      * entire join pipelines away) and returns the row count. */
    implicit class MatOps(df: DataFrame) {
      def mat(): Long = df.queryExecution.toRdd.count()
    }

    // The dedup loop is the expensive core; leaving out section `dedup`
    // skips it (replica parquets from a prior run are reused) so the
    // op-specific sections below can be re-measured in isolation.
    val runDedup = selected("dedup")
    mults.foreach { m =>
      (0 until m).map(replicate).reduce(_ unionByName _)
        .repartition(32)
        .write.mode(if (runDedup) "overwrite" else "ignore")
        .parquet(s"$outBase/docs_x$m")
    }
    val results = if (!runDedup) Seq.empty[Map[String, Any]] else mults.map { m =>
      val docs = spark.read.parquet(s"$outBase/docs_x$m")
      val nDocs = docs.count()

      // raw LSH candidate volume — the quantity that must stay ~linear
      // (rebuilt from the same public pieces the operator composes)
      val arrs = Dedup.shingleHashArrays(docs, "text", "doc_id", 3)
      val sigs = Dedup.minhashSignaturesFromHashRows(
        arrs.select(col("id"), explode(col("hs")).as("h")), 64)
      val bandsDf = sigs.select(col("id"),
        posexplode(Dedup.lshBandKeys(col("sig"), 16, 4)).as(Seq("band", "key")))
      val (nCands, tCands) = timed {
        bandsDf.as("a").join(bandsDf.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.id") < col("b.id"))
          .select(col("a.id"), col("b.id")).distinct().mat()
      }

      val (nMinhash, tMinhash) = timed {
        Dedup.minhashNearDupPairs(docs, "text", "doc_id").mat()
      }
      spark.catalog.clearCache()
      val (nJacc, tJacc) = timed {
        Dedup.jaccardSimilarityJoin(docs, "text", "doc_id").mat()
      }
      spark.catalog.clearCache()
      // canonicalize end to end; at the largest multiplier force the
      // DISTRIBUTED CC loop (cutoff 0) — the driver union-find otherwise
      // absorbs pair graphs this small, leaving the at-scale path
      // unexercised
      val distributed = m == mults.max
      val (nKept, tCanon) = timed {
        val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id")
        val comps = Dedup.connectedComponents(pairs,
          driverCutoffPairs = if (distributed) 0L else 1L << 20)
        docs.join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .filter(col("component").isNull || col("component") === col("doc_id"))
          .mat()
      }
      spark.catalog.clearCache()
      // segment-level exact dedup: removals must scale linearly with the
      // replicated dup structure (replicas are token-disjoint, so no
      // cross-replica segments), wall-clock ~linearly with the corpus
      val (nSegRemoved, tSeg) = timed {
        graft.operators.TextAnalysis.segmentDedup(docs, "text", "doc_id")
          .agg(sum(col("n_removed"))).head().getLong(0)
      }
      spark.catalog.clearCache()
      System.err.println(f"[rehearsal] x$m%-3d docs=$nDocs%-7d " +
        f"cands=$nCands%-8d (${tCands}%5.1fs)  minhash=$nMinhash%-6d (${tMinhash}%5.1fs)  " +
        f"jaccard=$nJacc%-6d (${tJacc}%5.1fs)  kept=$nKept%-7d canon=${tCanon}%5.1fs  " +
        f"segrm=$nSegRemoved%-6d (${tSeg}%5.1fs)" +
        (if (distributed) " [distributed CC]" else ""))
      Map("mult" -> m, "docs" -> nDocs, "candidates" -> nCands,
        "minhash_pairs" -> nMinhash, "minhash_sec" -> tMinhash,
        "jaccard_pairs" -> nJacc, "jaccard_sec" -> tJacc,
        "kept" -> nKept, "canonicalize_sec" -> tCanon,
        "segment_removed" -> nSegRemoved, "segment_sec" -> tSeg,
        "distributed_cc" -> distributed)
    }

    // Semantic-dedup vector scale-up: synthetic unit-ish vectors at three
    // sizes, k grown with n (cluster size ≈ repCap, the operator's scale
    // contract) — the fused graft_nearest_centroid assignment must stay
    // compiled at k in the hundreds (k sibling DotProducts would not).
    if (selected("semantic")) {
      import graft.operators.Similarity
      for (n <- Seq(2000, 20000, 60000)) {
        val k = math.max(8, n / 250)
        val vecs = spark.range(n.toLong).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => sin(col("id") * lit(0.7) + d.cast("double")).cast("float"))
            .as("embedding"))
          .repartition(32)
        val (removed, t) = timed {
          val out = Similarity.semanticDedup(vecs, "embedding", "vec_id",
            k = k, tau = 0.95)
          out.where(!col("keep")).mat()
        }
        System.err.println(
          f"[rehearsal] semantic n=$n%-6d k=$k%-4d removed=$removed%-6d ${t}%5.1fs")
      }
    }

    // Skew rehearsal: a mass-identical block (the 10k-times-crawled
    // boilerplate page) planted into the base corpus. Uncapped, every
    // shared band bucket squares into C(N,2) candidate pairs inside one
    // task — timed at two sizes to show the quadratic; capped (default
    // 1000), the hot buckets are dropped and the run stays at corpus
    // cost whatever N is.
    if (selected("skew")) {
      val boiler = (0 until 12).map(i => s"boilerplate$i").mkString(" ")
      def withMass(n: Int): DataFrame = {
        import spark.implicits._
        base.unionByName((0 until n)
          .map(i => (20000000L + i, boiler)).toDF("doc_id", "text"))
      }
      for (n <- Seq(1000, 2000)) {
        val (pairs, t) = timed {
          Dedup.minhashNearDupPairs(withMass(n), "text", "doc_id",
            maxBucketSize = 0, cache = true).mat()
        }
        spark.catalog.clearCache()
        System.err.println(f"[rehearsal] skew UNCAPPED n=$n%-6d pairs=$pairs%-9d ${t}%5.1fs")
      }
      val (pairsCap, tCap) = timed {
        Dedup.minhashNearDupPairs(withMass(10000), "text", "doc_id",
          cache = true).mat()
      }
      spark.catalog.clearCache()
      System.err.println(f"[rehearsal] skew CAPPED   n=10000 pairs=$pairsCap%-9d ${tCap}%5.1fs " +
        "(mass handled by exactDedup; corpus-cost bound regardless of N)")
    }

    // Round-5 operator additions. k-means: per-round cost is one codegen
    // projection + a skinny (cell,pos,fx) shuffle, so wall-clock must
    // stay ~linear in n even as k grows with the corpus. BM25: the
    // corpus-side cost is tokenize+explode+filter (linear scan work) —
    // the scoring frames stay query-vocabulary-sized at ANY corpus size.
    // Sessionize: one keyed shuffle over the event stream.
    if (selected("newops")) {
      import graft.operators.{Relational, Similarity, TextAnalysis}
      for (n <- Seq(2000, 20000, 60000)) {
        val k = math.max(8, n / 1000)
        val vecs = spark.range(n.toLong).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => sin(col("id") * lit(0.7) + d.cast("double")).cast("float"))
            .as("embedding"))
          .repartition(32)
        val (cells, t) = timed {
          Similarity.kmeansAssign(vecs, "embedding", "vec_id", k = k, iters = 2)
            .select("cluster_id").distinct().mat()
        }
        System.err.println(
          f"[rehearsal] kmeans n=$n%-6d k=$k%-4d cells=$cells%-4d ${t}%5.1fs")
      }
      for (m <- Seq(1, mults.max)) {
        val docs = spark.read.parquet(s"$outBase/docs_x$m")
        val (hits, t) = timed {
          TextAnalysis.bm25Search(docs, "text", "doc_id",
            Seq("dup", "spark", "window"), topK = 20).mat()
        }
        System.err.println(f"[rehearsal] bm25 x$m%-3d hits=$hits%-3d ${t}%5.1fs")
      }
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      for (m <- Seq(1, mults.max)) {
        val rep = (0 until m).map(r => ev.select(
            (col("user_id") + lit(r * 10000000L)).as("user_id"), col("ts")))
          .reduce(_ unionByName _)
        val (sessions, t) = timed {
          Relational.sessionize(rep, Seq("user_id"), "ts", gapSec = 30000L).mat()
        }
        System.err.println(f"[rehearsal] sessionize x$m%-3d sessions=$sessions%-7d ${t}%5.1fs")
      }
    }

    // Round-4 additions. SCD2: two stacked windows on one keyed exchange
    // — linear in events. MAD outliers: exact per-group percentiles hold
    // memory ∝ distinct values (timed against the percentile_approx
    // sketch path, the 100 TB config). CMS: one grouped count onto a
    // constant-size grid — the sketch pass must stay a linear scan.
    // DSIR: two token scans + broadcast λ table. PQ: encode is a pure
    // projection (linear), ADC search a scan + heap (flat overhead).
    if (selected("r4ops")) {
      import graft.operators.{Relational, Similarity, Sketches, TextAnalysis}
      val ev4 = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("user_id"), col("event_type"), col("value"),
          col("ts").cast("timestamp").as("ts"))
      def repEv(m: Int): DataFrame = (0 until m).map(r => ev4.select(
          (col("user_id") + lit(r * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("ts")))
        .reduce(_ unionByName _)
      for (m <- Seq(1, mults.max)) {
        val rep = repEv(m)
        val (versions, tScd) = timed {
          Relational.scd2Init(rep, Seq("user_id"), Seq("event_type"), "ts").mat()
        }
        val (flagged, tMadE) = timed {
          Relational.madOutliers(rep, Seq("event_type"), "value").mat()
        }
        val (flaggedA, tMadA) = timed {
          Relational.madOutliers(rep, Seq("event_type"), "value",
            approxAccuracy = Some(10000)).mat()
        }
        val (_, tCms) = timed {
          Sketches.cmsHeavyHitters(rep, "user_id", topK = 20).mat()
        }
        System.err.println(f"[rehearsal] r4ops x$m%-3d scd2=$versions%-8d (${tScd}%5.1fs)  " +
          f"mad=$flagged%-6d exact ${tMadE}%5.1fs / approx ${tMadA}%5.1fs ($flaggedA)  " +
          f"cms ${tCms}%5.1fs")
      }
      for (m <- Seq(1, mults.max)) {
        val docs = spark.read.parquet(s"$outBase/docs_x$m")
        val (drawn, t) = timed {
          TextAnalysis.importanceResample(docs, "text", "doc_id",
            isTarget = col("doc_id") % 5 === 0, sampleN = 100).mat()
        }
        System.err.println(f"[rehearsal] dsir x$m%-3d drawn=$drawn%-4d ${t}%5.1fs")
      }
      for (n <- Seq(20000, 60000)) {
        val vecs = spark.range(n.toLong).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => sin(col("id") * lit(0.7) + d.cast("double")).cast("float"))
            .as("embedding"))
          .repartition(32)
        val book = Similarity.pqTrain(vecs, "embedding", "vec_id",
          m = 16, ksub = 16, iters = 1)
        val enc = Similarity.pqEncode(vecs, "embedding", "vec_id", book, 16, 16)
        val (_, tEnc) = timed { enc.mat() }
        val q = (0 until 64).map(d => math.sin(d.toDouble))
        val (_, tSearch) = timed {
          Similarity.pqSearch(enc, book, 16, 16, q, queryId = -1L, k = 10).mat()
        }
        System.err.println(f"[rehearsal] pq n=$n%-6d encode ${tEnc}%5.1fs search ${tSearch}%5.1fs")
      }
    }

    // Round-6: sampled codebook/centroid training (trainFraction — the
    // 100-TB shape: every Lloyd round scans only the deterministic hash
    // sample; assignment stays full-corpus). The claim under test:
    // per-round training wall drops ~with the fraction, and the sampled
    // model's outputs stay at full-train quality (assignment agreement
    // for k-means; re-rank top-10 overlap for PQ).
    if (selected("sampled")) {
      import graft.operators.Similarity
      // DISPERSED pseudo-random vectors (fract(sin·const)·2−1, the classic
      // shader hash) — the sin-wave fixture used elsewhere is deliberately
      // near-degenerate, which is fine for throughput numbers but makes
      // quality metrics meaningless (top-k is a sea of ties; clusterings
      // differ only by label permutation).
      def randVecs(n: Int): DataFrame = spark.range(n.toLong)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), d => {
            val x = sin(col("id") * lit(12.9898) + d.cast("double") * lit(78.233)) *
              lit(43758.5453)
            ((x - floor(x)) * lit(2.0) - lit(1.0)).cast("float")
          }).as("embedding"))
        .repartition(32)
      for (n <- Seq(20000, 60000)) {
        val k = math.max(8, n / 1000)
        val vecs = randVecs(n)
        val (centsFull, tFull) = timed {
          Similarity.kmeansCentroids(vecs, "embedding", "vec_id", k, iters = 2)
        }
        val (centsSamp, tSamp) = timed {
          Similarity.kmeansCentroids(vecs, "embedding", "vec_id", k, iters = 2,
            trainFraction = 0.1)
        }
        // quality: the k-means OBJECTIVE (mean cosine to the assigned
        // centroid) for full-train vs sample-train. Label agreement is
        // the wrong metric here: on dispersed data two equally-good
        // Voronoi partitions from different seeds disagree heavily on
        // labels while scoring the same objective — the claim under test
        // is "sampled training loses no quality", which IS the objective.
        def objective(cents: IndexedSeq[Seq[Double]]): Double = {
          val cl = typedlit(cents)
          vecs.select(Similarity.toDoubleVec(col("embedding")).as("v"))
            .withColumn("cid", call_function(
              org.apache.spark.sql.graft.GraftFunctions.NearestCentroidName,
              col("v"), typedlit(cents.flatten), lit(cents.size)).cast("int"))
            .where(col("cid").isNotNull)
            .select(avg(Similarity.cosine(col("v"),
              element_at(cl, col("cid") + 1))).as("o"))
            .head().getDouble(0)
        }
        // training is deterministic — score the centroids just timed
        val objFull = objective(centsFull)
        val objSamp = objective(centsSamp)
        val (bookF, tPqF) = timed {
          Similarity.pqTrain(vecs, "embedding", "vec_id", m = 16, ksub = 16, iters = 2)
        }
        val (bookS, tPqS) = timed {
          Similarity.pqTrain(vecs, "embedding", "vec_id", m = 16, ksub = 16, iters = 2,
            trainFraction = 0.1)
        }
        // quality: recall@10 vs the exact-L2 ground truth for BOTH
        // codebooks (not cross-codebook overlap — that conflates the two
        // models' independent tie-breaking)
        val q = (0 until 64).map(d => math.sin(d * 12.9898) * 0.7)
        val vfr = vecs.select(col("vec_id"), col("embedding").as("v"))
        val exact = vfr
          .select(col("vec_id"), Similarity.toDoubleVec(col("v")).as("dv"))
          .withColumn("qv", typedlit(q))
          .withColumn("d2", Similarity.dot(col("dv"), col("dv"))
            - lit(2.0) * Similarity.dot(col("dv"), col("qv"))
            + lit(q.map(x => x * x).sum))
          .orderBy(col("d2"), col("vec_id")).limit(10)
          .collect().map(_.getLong(0)).toSet
        def recall(book: Array[Double]): Int = {
          val enc = Similarity.pqEncode(vecs, "embedding", "vec_id", book, 16, 16)
          val got = Similarity.pqSearch(enc, book, 16, 16, q, queryId = -1L, k = 10,
            rerank = 100, vectors = Some(vfr)).collect().map(_.getLong(0)).toSet
          (got & exact).size
        }
        System.err.println(f"[rehearsal] sampled n=$n%-6d k=$k%-4d " +
          f"kmeans full ${tFull}%5.1fs / 0.1-sample ${tSamp}%5.1fs " +
          f"objective full=$objFull%.4f sampled=$objSamp%.4f  " +
          f"pq full ${tPqF}%5.1fs / 0.1-sample ${tPqS}%5.1fs " +
          f"recall@10 full=${recall(bookF)}/10 sampled=${recall(bookS)}/10")
      }
      // IVF-PQ probe vs the linear ADC scan, BOTH reading parquet (the
      // serving shape): the probe must price like nProbe/nCells of the
      // corpus plus fixed per-query overhead (metadata reads, broadcast),
      // not like the full scan — the composed index's scale claim. The 4×
      // corpus step shows the crossover: the scan grows with n, the
      // pruned probe stays ~flat.
      for (n <- Seq(60000, 240000)) {
        val vecs = randVecs(n)
        val path = s"$outBase/ivfpq_x$n"
        val (_, tBuild) = timed {
          Similarity.writeIvfPqIndex(vecs, "embedding", "vec_id", path,
            nCells = 32, m = 16, ksub = 16, iters = 1, trainFraction = 0.1)
        }
        val q = (0 until 64).map(d => math.sin(d * 12.9898) * 0.7)
        val (_, tCold) = timed {
          Similarity.knnIvfPq(spark, path, q, queryId = -1L, k = 10,
            nProbe = 2, rerank = 100).mat()
        }
        // warm probe: a serving deployment amortizes the meta/centroid
        // reads and JIT across queries — this is the steady-state number
        val (_, tWarm) = timed {
          Similarity.knnIvfPq(spark, path, q, queryId = -1L, k = 10,
            nProbe = 2, rerank = 100).mat()
        }
        // rows the probe's pruned scans touch vs the corpus — the claim
        // that matters at 100 TB, where wall-clock ∝ bytes read and the
        // local fixed per-job overhead (~5 small jobs here) vanishes
        val qSq = q.map(x => x * x).sum
        val probedCells = spark.read.parquet(s"$path/centroids").collect()
          .map { r =>
            val c = r.getAs[scala.collection.Seq[Double]]("centroid")
            val d = c.iterator.zip(q.iterator).map { case (a, b) => a * b }.sum
            (r.getAs[Int]("cell"),
              d / (math.sqrt(c.map(x => x * x).sum) * math.sqrt(qSq)))
          }.sortBy { case (cell, cos) => (-cos, cell) }.take(2).map(_._1)
        val touched = spark.read.parquet(s"$path/vectors")
          .where(col("cell").isin(probedCells.toIndexedSeq: _*)).count()
        val corpus = spark.read.parquet(s"$path/vectors").count()
        val book = Similarity.pqTrain(vecs, "embedding", "vec_id",
          m = 16, ksub = 16, iters = 1, trainFraction = 0.1)
        Similarity.pqEncode(vecs, "embedding", "vec_id", book, 16, 16)
          .write.mode("overwrite").parquet(s"$outBase/pqenc_x$n")
        val encP = spark.read.parquet(s"$outBase/pqenc_x$n")
        val (_, tScan) = timed {
          Similarity.pqSearch(encP, book, 16, 16, q, queryId = -1L, k = 10).mat()
        }
        System.err.println(f"[rehearsal] ivfpq n=$n%-6d build ${tBuild}%5.1fs " +
          f"probe(2/32 cells) cold ${tCold}%5.1fs warm ${tWarm}%5.1fs " +
          f"vs full ADC scan ${tScan}%5.1fs (rows touched $touched/$corpus)")
        // batched serving: ~65 queries (stride n/64 over [0,n]) in ONE
        // relational job vs the driver-orchestrated per-query loop — the
        // per-query fixed cost (≈5 small jobs each) must amortize away
        val qFrame = vecs.where(col("vec_id") % lit(n / 64) === 0)
        val nQ = qFrame.count()
        val (_, tBatch) = timed {
          Similarity.knnIvfPqBatch(spark, path, qFrame, "vec_id", "embedding",
            k = 10, nProbe = 2, rerank = 100).mat()
        }
        val (_, tLoop) = timed {
          qFrame.select(col("vec_id"),
              Similarity.toDoubleVec(col("embedding")).as("v")).collect()
            .take(8).foreach { r =>
              Similarity.knnIvfPq(spark, path, r.getSeq[Double](1),
                r.getLong(0), k = 10, nProbe = 2, rerank = 100).mat()
            }
        }
        System.err.println(f"[rehearsal] ivfpq-batch n=$n%-6d $nQ%3d queries " +
          f"in one job ${tBatch}%5.1fs vs 8-query driver loop ${tLoop}%5.1fs " +
          f"(loop extrapolates ~${tLoop / 8 * nQ}%5.1fs for $nQ)")
      }
    }

    // Round-6 market analytics. correlationMatrix / leadLagCorr: one
    // bucket equi-join over skinny series rows + a moment agg onto
    // pairs(·lags) keys — wall must track series LENGTH linearly
    // (time-axis replication: the same 5 symbols, m× the history — the
    // 100-TB axis; symbol count is the small dimension by contract).
    // volumeBars: one keyed exchange (prefix sum + OHLCV agg share it).
    // tripleBarrier: series-keyed join with bounded horizon fan-out —
    // linear in rows at constant tick rate.
    if (selected("market")) {
      import graft.operators.{Labeling, Relational, Resample}
      val ev6 = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts").cast("timestamp").as("ts"))
      def repTime(m: Int): DataFrame = (0 until m).map(r => ev6.select(
          (col("event_id") + lit(r * 100000000L)).as("event_id"),
          col("event_type"), col("value"),
          (col("ts") + expr(s"INTERVAL ${r * 40} DAYS")).as("ts")))
        .reduce(_ unionByName _)
      for (m <- Seq(1, mults.max)) {
        val rep = repTime(m)
        val hourly = rep.groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("bucket"))
          .agg((sum(col("value").cast(
            org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
            / count(lit(1))).as("v"))
        val (nPairs, tCorr) = timed {
          Relational.correlationMatrix(hourly, "event_type", "bucket", "v",
            scale = 1e4).mat()
        }
        val hb = hourly.withColumn("hb",
          expr("unix_micros(bucket) div 3600000000"))
        val (nLl, tLl) = timed {
          Relational.leadLagCorr(hb, "event_type", "hb", "v", maxLag = 3,
            scale = 1e4).mat()
        }
        val (nBars, tVb) = timed {
          Resample.volumeBars(rep, "ts", "value", "value", "event_id",
            Seq("event_type"), threshold = 5000.0).mat()
        }
        val (nLab, tTb) = timed {
          Labeling.tripleBarrier(rep, Seq("event_type"), "ts", "value",
            "event_id", horizonUs = 6L * 3600 * 1000000,
            upPct = 2.0, dnPct = 0.8).mat()
        }
        System.err.println(f"[rehearsal] market x$m%-3d corr=$nPairs%-4d ${tCorr}%5.1fs  " +
          f"leadlag=$nLl%-4d ${tLl}%5.1fs  vbars=$nBars%-6d ${tVb}%5.1fs  " +
          f"labels=$nLab%-8d ${tTb}%5.1fs")
      }
    }

    // Round-7 additions. substringDedup: seed volume is windows (~tokens)
    // and removal work duplicate-proportional — wall must track corpus
    // ~linearly under token-disjoint replication (no cross-replica dups,
    // each replica keeps the base's internal duplication). dollar/
    // imbalance bars: one keyed exchange; the ThresholdBarId scan is a
    // per-series O(1)-state pass — linear in events. ofiMultiLevel: one
    // exchange, sort-only on top — linear in snapshots. MarketIncremental:
    // folding the LAST batch of a long history must price like the BATCH
    // (plus open state), not like the history — the incremental claim.
    if (selected("r7ops")) {
      import graft.operators.{Labeling, MarketIncremental, Resample, TextAnalysis}
      for (m <- Seq(1, mults.max)) {
        val docs = spark.read.parquet(s"$outBase/docs_x$m")
        val (removed, t) = timed {
          TextAnalysis.substringDedup(docs, "text", "doc_id", minTokens = 8)
            .agg(sum(col("n_removed_tokens"))).head().getLong(0)
        }
        spark.catalog.clearCache()
        System.err.println(f"[rehearsal] substringdedup x$m%-3d removed_tokens=$removed%-8d ${t}%5.1fs")
      }
      // containment join — the suite's heaviest query: the asymmetric
      // prefix probes FULL postings, so candidate volume is
      // Σ_h prefix_df(h)·df(h). Token-disjoint replicas keep per-shingle
      // df constant → wall must track corpus ~linearly; the df cap
      // bounds the hot-shingle worst case independently.
      for (m <- Seq(1, mults.max)) {
        val docs = spark.read.parquet(s"$outBase/docs_x$m")
        val (pairs, t) = timed {
          Dedup.containmentJoin(docs, "text", "doc_id", threshold = 0.8).mat()
        }
        spark.catalog.clearCache()
        System.err.println(f"[rehearsal] containment x$m%-3d pairs=$pairs%-7d ${t}%5.1fs")
      }
      val ev7 = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts").cast("timestamp").as("ts"))
      def repTime7(m: Int): DataFrame = (0 until m).map(r => ev7.select(
          (col("event_id") + lit(r * 100000000L)).as("event_id"),
          col("event_type"), col("value"),
          (col("ts") + expr(s"INTERVAL ${r * 40} DAYS")).as("ts")))
        .reduce(_ unionByName _)
      for (m <- Seq(1, mults.max)) {
        val rep = repTime7(m).withColumn("vol",
          (col("event_id") % 5 + 1).cast("double"))
        val (nDb, tDb) = timed {
          Resample.dollarBars(rep, "ts", "value", "vol", "event_id",
            Seq("event_type"), threshold = 20000.0).mat()
        }
        val (nIb, tIb) = timed {
          Resample.imbalanceBars(rep, "ts", "value", "event_id",
            Seq("event_type"), threshold = 25L).mat()
        }
        val book = rep.select(col("event_type").as("symbol"),
          date_trunc("hour", col("ts")).as("ts"),
          when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
          (col("value") + col("event_id") * lit(1e-6)).as("price"),
          col("value").as("amount"))
        val (nOfi, tOfi) = timed {
          graft.features.OrderbookFeatures.ofiMultiLevel(
            book, nLevels = 3, Seq("symbol")).mat()
        }
        System.err.println(f"[rehearsal] r7bars x$m%-3d dollar=$nDb%-6d ${tDb}%5.1fs  " +
          f"imbalance=$nIb%-6d ${tIb}%5.1fs  ofiML=$nOfi%-7d ${tOfi}%5.1fs")
      }
      // incremental fold cost vs history recompute: drive 10 equal-size
      // time slices through the bounded-state fold, timing EVERY fold.
      // The claim under test: a fold prices like (batch + open
      // frontier) — the wall must stay ~FLAT from the first slice (no
      // history) to the last (9 slices of history), because closed bars
      // and finalized labels leave the fold; recomputing bars+labels
      // over the accumulated history grows linearly and crosses over.
      // (The folds eagerly checkpoint their shared internals, so a fold
      // costs one pass — the pre-fix shape recomputed the lineage per
      // consumer and priced ~3x itself.)
      locally {
        val rep = repTime7(mults.max).localCheckpoint(true)
        val cfg = MarketIncremental.Cfg(Seq("event_type"), "ts", "value",
          "value", "event_id", volThreshold = 5000.0,
          horizonUs = 6L * 3600 * 1000000, upPct = 2.0, dnPct = 0.8)
        val bounds = rep.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val step = (hi - lo) / 10 + 1
        def slice(i: Int) = rep.where(
          unix_micros(col("ts")) >= lo + i * step &&
            unix_micros(col("ts")) < lo + (i + 1) * step)
        var open = MarketIncremental.emptyBars(spark, cfg)
        var carry = MarketIncremental.emptyCarry(spark, cfg)
        var entries = MarketIncremental.emptyEntries(spark, cfg)
        val foldWalls = (0 until 10).map { i =>
          val b = slice(i)
          val (_, t) = timed {
            // materialize all four outputs, like the real batch body
            val (closed, o2, c2) = MarketIncremental.volumeBarsFold(open, carry, b, cfg)
            closed.mat(); o2.mat()
            val (finals, e2) = MarketIncremental.tripleBarrierFold(entries, b, c2, cfg)
            finals.mat(); e2.mat()
            open = o2; carry = c2; entries = e2.localCheckpoint(true)
          }
          t
        }
        val nOpen = entries.count()
        val (_, tFull) = timed {
          Resample.volumeBars(rep, "ts", "value", "value", "event_id",
            Seq("event_type"), threshold = 5000.0).mat()
          Labeling.tripleBarrier(rep, Seq("event_type"), "ts", "value",
            "event_id", horizonUs = 6L * 3600 * 1000000,
            upPct = 2.0, dnPct = 0.8).mat()
        }
        System.err.println(f"[rehearsal] r7incr x${mults.max}%-3d " +
          f"open-frontier=$nOpen%-6d fold walls " +
          foldWalls.map(t => f"$t%4.1f").mkString("[", " ", "]s") +
          f" first=${foldWalls.head}%4.1f last=${foldWalls.last}%4.1f " +
          f"vs full recompute ${tFull}%5.1fs")
      }
    }

    // Round-8: the exact-percentile broadcast family (winsorize /
    // madOutliers) at ×10/×100 with the sketch path switched on. Exact
    // `percentile` holds per-group state ∝ DISTINCT VALUES — fine for
    // 2-dp feeds, a memory wall for high-cardinality columns at 100 TB;
    // `approxAccuracy` swaps in percentile_approx (KLL-style sketch,
    // memory ∝ accuracy). Claims under test: (a) both paths' wall-clock
    // stays ~linear in rows; (b) at accuracy 10⁴ the sketch's winsor
    // band edges and clip/flag decisions diverge from exact by a
    // bounded, recorded margin (the divergence contract for BASELINE).
    if (selected("winsor")) {
      import graft.operators.Relational
      val ev8 = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      // per-replica jitter BLOWS UP distinct-value cardinality — the
      // axis that hurts the exact path (a plain copy would dedup to the
      // base's 2-dp value set inside the percentile state)
      def rep(m: Int): DataFrame = (0 until m).map(r => ev8.select(
          (col("event_id") + lit(r * 100000000L)).as("event_id"),
          col("event_type"),
          (col("value") + lit(r * 1e-4) * (col("event_id") % 97)).as("value")))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      for (m <- Seq(10, 100)) {
        val df = rep(m)
        val nDistinct = df.select(col("event_type"), col("value")).distinct().count()
        val (clipEx, tWinEx) = timed {
          Relational.winsorize(df, Seq("event_type"), "value")
            .where(col("was_clipped")).mat()
        }
        val (clipAp, tWinAp) = timed {
          Relational.winsorize(df, Seq("event_type"), "value",
            approxAccuracy = Some(10000)).where(col("was_clipped")).mat()
        }
        val bandsEx = Relational.winsorize(df, Seq("event_type"), "value")
          .groupBy("event_type").agg(min("v_winsor").as("lo"), max("v_winsor").as("hi"))
          .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
        val bandsAp = Relational.winsorize(df, Seq("event_type"), "value",
            approxAccuracy = Some(10000))
          .groupBy("event_type").agg(min("v_winsor").as("lo"), max("v_winsor").as("hi"))
          .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
        val bandDiv = bandsEx.map { case (k, (lo, hi)) =>
          val (alo, ahi) = bandsAp(k)
          math.max(math.abs(lo - alo), math.abs(hi - ahi)) / math.max(1e-9, hi - lo)
        }.max
        val (flagEx, tMadEx) = timed {
          Relational.madOutliers(df, Seq("event_type"), "value").mat()
        }
        val (flagAp, tMadAp) = timed {
          Relational.madOutliers(df, Seq("event_type"), "value",
            approxAccuracy = Some(10000)).mat()
        }
        System.err.println(f"[rehearsal] winsor x$m%-4d distinct=$nDistinct%-9d " +
          f"exact clip=$clipEx%-7d ${tWinEx}%5.1fs / approx clip=$clipAp%-7d ${tWinAp}%5.1fs " +
          f"band-div=${bandDiv * 100}%.4f%% of band width  " +
          f"mad exact=$flagEx%-6d ${tMadEx}%5.1fs / approx=$flagAp%-6d ${tMadAp}%5.1fs")
        spark.catalog.clearCache()
      }
    }

    // Round-8: chunked book snapshots. A drifting-band L2 feed (the
    // churning-crypto-book shape: each tick quotes a level in the moving
    // band and zeroes one 10 bands behind, so STANDING levels stay ~80
    // while levels-EVER grows linearly with the span). Claims under
    // test: (a) the one-shot probe frame is levels-ever × whole-span
    // grid — QUADRATIC in the span (4× span → 16× probe rows); (b) the
    // fold's probe is (standing ∪ touched) × chunk boundaries — LINEAR
    // at fixed chunkUs; (c) per-fold walls stay ~flat from the first
    // chunk to the last (the frontier, not the history, is the state).
    if (selected("book")) {
      import graft.operators.MarketIncremental
      def bookFeed(n: Long): DataFrame = spark.range(n)
        .select(col("id"),
          when(col("id") % 2 === 0, "bid").otherwise("ask").as("side"),
          expr("timestamp_micros(id + 1)").as("ts"),
          explode(array(
            struct((expr("id div 50") + col("id") % 8).cast("double").as("price"),
              (col("id") % 5 + 1).cast("double").as("amount"),
              (col("id") * 2).as("tb")),
            struct((expr("id div 50") - 10 + col("id") % 8).cast("double").as("price"),
              lit(0.0).as("amount"),
              (col("id") * 2 + 1).as("tb")))).as("d"))
        .select(lit("X").as("k"), col("side"), col("ts"),
          col("d.price").as("price"), col("d.amount").as("amount"),
          col("d.tb").as("tb"))
        .where(col("price") >= 0)
      val S = 2500L       // grid step (µs)
      val C = 125000L     // chunk size (µs) — FIXED as the span grows
      for (n <- Seq(500000L, 2000000L)) {
        val feed = bookFeed(n).repartition(32).localCheckpoint(true)
        val levelsEver = feed.select(col("side"), col("price")).distinct().count()
        val nBounds = n / S // grid boundaries over the span (lo ≈ 0)
        val (_, tOne) = timed {
          graft.features.OrderbookFeatures.bookSnapshots(
            feed, Seq("k"), "ts", "tb", stepUs = S, nLevels = 5).mat()
        }
        spark.catalog.clearCache()
        // drive the fold chunk by chunk (what bookSnapshotsChunked does)
        // to instrument probe volume: (standing ∪ touched) × new bounds
        val cfg = MarketIncremental.BookCfg(Seq("k"), "ts", "side", "price",
          "amount", "tb", stepUs = S, nLevels = 5)
        var book = MarketIncremental.emptyBook(spark, cfg)
        var cur = MarketIncremental.emptyBookCursor(spark, cfg)
        var probeRows = 0L
        var kPrev = -1L // fixture lo=1µs → first kbase is 0
        val nChunks = (n / C).toInt
        val foldWalls = (0 until nChunks).map { i =>
          val b = feed.where(unix_micros(col("ts")) >= i * C &&
            unix_micros(col("ts")) < (i + 1) * C)
          val lvls = book.select(col("side"), col("price"))
            .unionByName(b.select(col("side"), col("price"))).distinct().count()
          val (_, t) = timed {
            val (snaps, b2, c2) = MarketIncremental.bookSnapshotFold(book, cur, b, cfg)
            snaps.mat()
            book = b2
            cur = c2
          }
          val kNow = cur.head().getAs[Long]("k_emitted")
          probeRows += lvls * (kNow - kPrev)
          kPrev = kNow
          t
        }
        val standing = book.count()
        System.err.println(f"[rehearsal] book n=$n%-8d levels-ever=$levelsEver%-6d " +
          f"standing=$standing%-4d one-shot probe=${levelsEver * nBounds}%-9d (${tOne}%5.1fs)  " +
          f"chunked probe=$probeRows%-8d folds=$nChunks fold walls " +
          f"first=${foldWalls.head}%4.1f last=${foldWalls.last}%4.1f " +
          f"mean=${foldWalls.sum / nChunks}%4.1fs")
        spark.catalog.clearCache()
      }
    }

    // ---- round-8 ops: backtest / CUSUM / Spearman IC under the two
    // growth axes that matter for window-chain operators. WIDE (more
    // series, same length) is the scale-out direction — per-series sorts
    // parallelize, walls should stay ~flat until cores saturate then
    // grow linearly. LONG (same series, 10× the history) is the
    // scale-up hazard — one series' window chain lives in ONE partition,
    // so the wall is a single-threaded O(n log n) sort; the recorded
    // numbers price the "shard long histories by time-chunking with the
    // cusumFold carry" advice rather than leaving it as prose.
    if (selected("r8ops")) {
      import graft.operators.{Backtest, Relational}
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_type"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("value"))
        .where(col("value").isNotNull && col("value") > 0)
      val (tsLo, tsHi) = {
        val r = ev0.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
        (r.getLong(0), r.getLong(1))
      }
      val spanUs = tsHi - tsLo + 3600000000L
      def wide(r: Int): DataFrame =
        if (r == 0) ev0
        else ev0.select(concat(col("event_type"), lit(s"_w$r")).as("event_type"),
          col("ts"), (col("event_id") + lit(r * 10000000L)).as("event_id"),
          col("value"))
      def long(r: Int): DataFrame =
        if (r == 0) ev0
        else ev0.select(col("event_type"),
          timestamp_micros(unix_micros(col("ts")) + lit(r * spanUs)).as("ts"),
          (col("event_id") + lit(r * 10000000L)).as("event_id"), col("value"))
      for ((shape, rep) <- Seq("wide" -> wide _, "long" -> long _); m <- Seq(1, 10)) {
        val path = s"$outBase/events_${shape}_x$m"
        (0 until m).map(rep).reduce(_ unionByName _)
          .repartition(32).write.mode("ignore").parquet(path)
        val ev = spark.read.parquet(path)
        val n = ev.count()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
        val (_, tBt) = timed {
          Backtest.signalBacktest(
            ev.withColumn("sig",
              signum(col("value") - lag(col("value"), 1).over(w))),
            Seq("event_type"), "ts", "value", "sig", "event_id",
            costBps = 10.0, annualization = 8760.0).mat()
        }
        val (_, tCu) = timed {
          Relational.cusumDetect(ev, Seq("event_type"), "ts", "value",
            "event_id", target = 35.0, slack = 5.0, threshold = 500.0).mat()
        }
        val (_, tIc) = timed {
          Relational.spearmanIc(
            ev.withColumn("bucket_us",
              unix_micros(date_trunc("day", col("ts"))))
              .withColumn("fwd_ret",
                log(lead(col("value"), 1).over(w) / col("value"))),
            Seq("event_type", "bucket_us"), "value", "fwd_ret").mat()
        }
        val (_, tVc) = timed {
          Backtest.varCvar(ev, Seq("event_type"), "value", alpha = 0.05).mat()
        }
        System.err.println(f"[rehearsal] r8ops $shape%-4s x$m%-3d n=$n%-9d " +
          f"backtest=${tBt}%6.1fs cusum=${tCu}%6.1fs spearman=${tIc}%6.1fs " +
          f"varcvar=${tVc}%6.1fs")
        spark.catalog.clearCache()
      }
    }

    def j(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case d: Double => f"$d%.2f"
      case m: Map[_, _] =>
        m.map { case (k, x) => "\"" + k + "\":" + j(x) }.mkString("{", ",", "}")
      case other => other.toString
    }
    println(j(Map("metric" -> "scale_rehearsal", "sf_base" -> sfDir)) // scaffold line
      .dropRight(1) + ",\"runs\":[" + results.map(j).mkString(",") + "]}")
    spark.stop()
  }
}
