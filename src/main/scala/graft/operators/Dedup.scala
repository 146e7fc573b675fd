package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.store.CommitLog

/** Deduplication operators for training-data pipelines (SURVEY §7 M9):
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design: exact dedup groups by a 64-bit content hash (shuffles
  * ~16 bytes/row instead of the document body); MinHash/SimHash shuffle
  * fixed-size signatures and find candidate pairs by band-bucket
  * equi-joins — never an unblocked O(n²) cross join. Exact Jaccard is
  * reserved for candidate verification or explicitly blocked pairs.
  */
object Dedup {

  /** Optionally persist an internal frame. The near-dup operators reuse
    * their shingle-hash frames across plan branches; caching trades
    * memory for recompute. Pass `cache = false` in long-lived sessions /
    * ingest loops where per-call pinned blocks would accumulate — since
    * the codegen shingle kernel, recompute costs tenths of a second per
    * million shingles, so uncached is the right default there. */
  private def cached(df: DataFrame, cache: Boolean): DataFrame =
    if (cache) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df

  /** Exact dedup: keep the lowest id per distinct text. Groups on
    * (xxhash64(text), length(text)) so the shuffle carries the hash, not
    * the body — at 100 TB this is the difference between shuffling 16 B
    * and 10 KB per row. 64-bit collision odds are negligible at any
    * realistic group count (~1e-9 at 10^5 docs); a 128-bit variant would
    * swap in md5. Returns (kept id, n_copies). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("_h"), length(col(textCol)).as("_len"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("_h", "_len")

  /** Word n-gram shingles (distinct, first-occurrence order) from a token
    * array; documents shorter than n tokens collapse to a single
    * whole-document shingle. Implemented as the codegen
    * `graft_shingles` expression — one tight JVM loop per row. The HOF
    * form (`array_distinct(transform(sequence, i → concat_ws(slice)))`)
    * is interpreted per ELEMENT and measured ~10× slower at sf0.1; it
    * also re-evaluated inline tokenizers per element (round-1 thread-dump
    * finding), a hazard the expression form removes entirely. */
  def shingles(toks: Column, n: Int): Column = {
    call_function(org.apache.spark.sql.graft.GraftFunctions.ShinglesName,
      toks, lit(n))
  }

  /** Per-doc distinct shingle arrays `(id, shs)`. The tokenizer runs in a
    * projection BELOW an exchange boundary, so the `transform` lambda
    * above it sees a materialized array attribute (no per-element
    * re-tokenization), and the repartition spreads single-file scans
    * across the cluster. Everything here is per-row — no windows, no
    * global distinct: a doc's shingle set needs only that doc's tokens,
    * so the round-1 window+distinct formulation paid two shuffles and a
    * deep DAG for what one projection does (the deep DAG, not data
    * volume, is what made the round-1 near-dup queries noise-fragile). */
  def shingleArrays(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"), shingles(col("toks"), n).as("shs"))

  /** Distinct (id, shingle) rows — explode of [[shingleArrays]]. One
    * shuffle total (the spreading repartition). */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleArrays(df, textCol, idCol, n).select(col("id"), explode(col("shs")).as("s"))

  /** Modulus for the portable permutation/band arithmetic: the Mersenne
    * prime 2³¹−1. Every product in the universal-hash family stays below
    * 2⁶², overflow-safe in any engine's 64-bit integers. */
  val P31 = 2147483647L
  /** Universal-hash permutation constants (fixed LCG-derived, shared with
    * oracle SQL as plain arithmetic on the permutation index). */
  def permA(i: Int): Long = (1103515245L * (i + 1) + 12345L) % P31
  def permB(i: Int): Long = (1103515245L * (i + 101) + 12345L) % P31

  /** Per-doc distinct shingle HASHES `(id, hs, n)`, hs SORTED ascending
    * — the compact join currency of the near-dup pipelines (shuffling
    * fixed-width hashes instead of shingle strings). The hash is the
    * PORTABLE md5-derived 48-bit [[TextAnalysis.tokenHash48]] —
    * bit-identical in any engine, so the whole MinHash pipeline is
    * oracle-verifiable end to end. Hashing is the codegen
    * `graft_hash48_array` kernel (r14): the `transform` HOF spelling
    * evaluated md5-hex → substring → decimal conv per element,
    * interpreted. Sorting once at the source (r14) feeds the prefix
    * slices AND the merge-based overlap verification; every consumer
    * is order-insensitive (explodes, min-aggs) or sorted anyway.
    * Collision odds at corpus scale: ~|shingles|²/2⁴⁹ — ~2·10⁻⁵ at 10⁵
    * distinct shingles, the same accepted-odds class as [[exactDedup]]. */
  def shingleHashArrays(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    shingleArrays(df, textCol, idCol, n)
      .select(col("id"), array_sort(call_function(
        org.apache.spark.sql.graft.GraftFunctions.Hash48ArrayName,
        col("shs"))).as("hs"))
      .withColumn("n", size(col("hs")))
  }

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      nullif(size(array_union(a, b)), lit(0))

  /** k-permutation MinHash signatures from an (id, s) shingle-row frame,
    * one row per doc, as a 64-way min aggregation. Plan
    * shape: project k hash columns (one universal-hash multiply-add per
    * permutation, whole-stage codegen) → groupBy(id) with k `min` aggs
    * (map-side partial aggregation → the shuffle carries one k·8-byte
    * signature per doc, not the shingles). Nested-lambda HOF
    * formulations of the same thing drop out of codegen and run ~100×
    * slower. Permutation i is the universal hash (aᵢ·h + bᵢ) mod 2³¹−1
    * over the portable base hash — plain codegen arithmetic (cheaper
    * than k seeded hash calls) and reproducible by an external oracle. */
  def minhashSignaturesFromRows(sh: DataFrame, k: Int): DataFrame =
    minhashSignaturesFromHashRows(
      sh.select(col("id"), TextAnalysis.tokenHash48(col("s")).as("h")), k)

  /** Signatures from an (id, h) 48-bit-hash-row frame. */
  def minhashSignaturesFromHashRows(hrows: DataFrame, k: Int): DataFrame = {
    val base = hrows.withColumn("_hb", pmod(col("h"), lit(P31)))
    val hashed = base.select(col("id") +:
      (0 until k).map(i =>
        pmod(lit(permA(i)) * col("_hb") + lit(permB(i)), lit(P31)).as(s"_h$i")): _*)
    hashed.groupBy("id")
      .agg(min(s"_h0").as("_m0"), (1 until k).map(i => min(s"_h$i").as(s"_m$i")): _*)
      .select(col("id"), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH band keys for a MinHash signature: a rolling arithmetic fold of
    * each r-row band, seeded with the band index — a closed-form codegen
    * expression (no HOF, no hash call), identical in oracle SQL. With
    * k = bands·r, two docs of Jaccard s share ≥1 band with probability
    * 1 − (1 − s^r)^bands. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      (0 until rowsPerBand).foldLeft(lit((b + 7).toLong): Column)((acc, j) =>
        pmod(acc * lit(1000003L) + element_at(sig, b * rowsPerBand + j + 1), lit(P31)))
    }: _*)

  /** Drop pathological LSH buckets before a self-join on the bucket key.
    * N rows in one bucket become C(N,2) candidate pairs in ONE task: 10k
    * identical docs (adversarial or just a boilerplate page crawled 10k
    * times) put ~5·10⁷ pairs on a single straggler — the one remaining
    * scale-killer in the dedup path at corpus scale. Buckets over
    * `maxBucketSize` are dropped and counted in
    * `dedup_hot_buckets_dropped_total{operator=what}`
    * ([[graft.metrics.Metrics]]): their members are near-identical EN
    * MASSE, which [[exactDedup]] already catches for the identical case,
    * and genuinely-distinct docs still meet in their other (non-hot)
    * bands/tables. Detection is one map-side-combined count over the
    * bucket keys (16 B rows); the hot set is checkpointed (it is tiny by
    * construction — ≤ rows/maxBucketSize keys) and broadcast-anti-joined
    * away. `maxBucketSize <= 0` disables the cap. The detection count is
    * an eager job that shares its input scan with the main query; with
    * `cache = true` upstream that scan is materialized once, and callers
    * that loop in a long-lived session pass `cache = false` (see
    * [[cached]]) and recompute it instead of pinning blocks per call. */
  private def capHotBuckets(buckets: DataFrame, keyCols: Seq[String],
                            maxBucketSize: Int, what: String): DataFrame = {
    if (maxBucketSize <= 0) return buckets
    val hot = buckets.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bc"))
      .filter(col("_bc") > maxBucketSize)
      .drop("_bc")
      .localCheckpoint(true) // materialize: the count and the anti-join below reuse it
    val nHot = hot.count()
    if (nHot == 0) buckets
    else {
      graft.metrics.Metrics.counter("dedup_hot_buckets_dropped_total",
        Map("operator" -> what)).add(nHot)
      buckets.join(broadcast(hot), keyCols, "left_anti")
    }
  }

  /** MinHash-LSH near-duplicate pairs, verified with exact shingle
    * Jaccard. k permutation hashes per shingle hash → k-way min
    * aggregation (map-side combine; the shuffle carries one k·8-byte
    * signature per doc) → posexplode band keys → hot-bucket cap (see
    * [[capHotBuckets]]) → self equi-join on the band bucket (shuffle on
    * a 16-byte key; never a cross join) → distinct candidate pairs →
    * exact-Jaccard verification by overlap counting on the hash
    * postings (candidates are few; no shingle strings are ever
    * shuffled). */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                          threshold: Double = 0.8,
                          cache: Boolean = true,
                          maxBucketSize: Int = 1000): DataFrame = {
    // one per-doc hash-array frame (|docs| rows, ~n·8 B each) feeds
    // signatures, sizes, and both verification sides — cached cheaply;
    // round 1 cached the exploded posting frame instead, which cost more
    // to materialize than to recompute
    val arrs = cached(shingleHashArrays(df, textCol, idCol, shingleN), cache)
    val sigs = minhashSignaturesFromHashRows(
      arrs.select(col("id"), explode(col("hs")).as("h")), k)
    // the band frame is consumed three ways (hot detection + both join
    // sides) — cache it alongside arrs so the signature aggregation runs
    // once, not per consumer
    val bandsDf = cached(sigs.select(col("id"),
      posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key"))),
      cache)
    val capped = capHotBuckets(bandsDf, Seq("band", "key"), maxBucketSize,
      "minhashNearDupPairs")
    val cands = capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact-Jaccard verification as overlap counting on the candidate set
    // (relational, codegen — no per-pair array ops)
    verifyByOverlap(cands, arrs, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs: o = |A∩B| counted
    * by the codegen `graft_sorted_overlap` merge over the two docs'
    * SORTED hash arrays ([[shingleHashArrays]] sorts at the source),
    * then J = o / (|A| + |B| − o). `arrs` is the (id, hs, n) frame.
    *
    * r14: the previous spelling exploded every candidate's FULL
    * postings through two equi-joins and a count aggregate — candidate
    * × postings rows through two exchanges and a hash-agg build per
    * verification. The merge counts Σ_v cnt_A(v)·cnt_B(v) in one
    * O(|A|+|B|) pass per pair — exactly the join's row count (run
    * multiplicities multiply; null elements never match) — and the two
    * id-joins that attach the cached arrays broadcast the candidate
    * side. Every candidate has ≥1 shared hash by construction (it met
    * its mate in a posting join over these same arrays), so the inner
    * joins drop nothing the old inner joins kept. */
  private def verifyByOverlap(cands: DataFrame, arrs: DataFrame,
                              threshold: Double): DataFrame = {
    cands
      .join(arrs.select(col("id").as("id_a"), col("hs").as("_ha"),
        col("n").as("na")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("hs").as("_hb"),
        col("n").as("nb")), "id_b")
      .withColumn("overlap", call_function(
        org.apache.spark.sql.graft.GraftFunctions.SortedOverlapName,
        col("_ha"), col("_hb")))
      .withColumn("jaccard",
        col("overlap").cast("double") / (col("na") + col("nb") - col("overlap")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash per doc: bit j is the sign of
    * Σ_tokens (2·bit_j(h64(token)) − 1), with the PORTABLE md5-derived
    * [[TextAnalysis.tokenHash64]] (oracle-reproducible). Same explode +
    * 64-sum aggregation shape as [[minhashSignaturesFromRows]] (codegen +
    * map-side combine); the final fold to one long is a projection. */
  def simhash64(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("_h", TextAnalysis.tokenHash64(col("t")))
    val sums = tok.groupBy("id").agg(
      sum(shiftright(col("_h"), 0).bitwiseAND(lit(1L)) * 2 - 1).as("_b0"),
      (1 until 64).map(j =>
        sum(shiftright(col("_h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"_b$j")): _*)
    val simhash = (0 until 64).map(j =>
      when(col(s"_b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    sums.select(col("id"), simhash.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs, Manku-style combination blocking (Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07 §3): split the 64-bit fingerprint into `blocks` blocks; a
    * pair within Hamming ≤ `maxHamming` differs in at most `maxHamming`
    * blocks, so it agrees EXACTLY on some combination of
    * `blocks − maxHamming` blocks (pigeonhole) — bucket on every such
    * combination's concatenated bits, then verify Hamming on the full
    * fingerprint. Result set is exactly the Hamming-ball join.
    *
    * Why combinations instead of bucketing per single block: the bucket
    * key width drives RANDOM collisions between dissimilar docs. Single
    * 16-bit chunks (blocks=4 behavior) collide at 2⁻¹⁶ — quadratic
    * candidate noise at ~10⁹ docs — while blocks=6 keys on ~32 bits
    * (C(6,3) = 20 tables at 2⁻³² collisions), which is the difference
    * between an unusable and a linear-ish candidate set at corpus scale.
    * Table count C(blocks, maxHamming) and per-row explode fan-out grow
    * with `blocks`; 20 keys × 16 B per row is still a trivial shuffle. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3, blocks: Int = 6,
                          maxBucketSize: Int = 1000,
                          cache: Boolean = true): DataFrame =
    hammingNearDupPairs(
      simhash64(df, textCol, idCol).withColumnRenamed("simhash", "sh"),
      maxHamming, blocks, maxBucketSize, cache)

  /** The Manku combination-blocking core of [[simhashNearDupPairs]] over
    * an ALREADY-FINGERPRINTED frame `(id, sh)` — shared by the text
    * SimHash path and the media perceptual-hash path
    * ([[Multimodal.perceptualMediaDedup]]), which differ only in how
    * the 64-bit fingerprint is derived. Exact Hamming-ball join: bucket
    * on every combination of `blocks − maxHamming` blocks, verify on
    * the full fingerprint. */
  def hammingNearDupPairs(fps: DataFrame, maxHamming: Int = 3,
                          blocks: Int = 6, maxBucketSize: Int = 1000,
                          cache: Boolean = true): DataFrame = {
    require(blocks > maxHamming, "need more blocks than flippable bits")
    val widths = (0 until blocks).map(j => 64 / blocks + (if (j < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(j: Int): Column =
      shiftright(col("sh"), offsets(j)).bitwiseAND(lit((1L << widths(j)) - 1))
    // one bucket key per combination of (blocks − maxHamming) blocks:
    // the chosen blocks' bits concatenated into one long (≤ 64 bits)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val keys = combos.map(c =>
      c.foldLeft(lit(0L)) { (acc, j) => shiftleft(acc, widths(j)).bitwiseOR(block(j)) })
    val bucketsAll = cached(fps.select(col("id"), col("sh"),
      posexplode(array(keys: _*)).as(Seq("table", "bk"))), cache)
    val buckets = capHotBuckets(bucketsAll, Seq("table", "bk"), maxBucketSize,
      "hammingNearDupPairs")
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.table") === col("b.table") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT set-similarity join with prefix filtering (PPJoin-style): two
    * sets with Jaccard ≥ τ must share at least one element among each
    * set's first ⌊(1−τ)·|A|⌋+1 elements under ANY global total order
    * (here: xxhash64 order — uniform buckets). Candidates come from an
    * equi-join on prefix elements — near-linear in corpus size for
    * non-pathological data — and are verified with exact Jaccard plus the
    * size-ratio bound J(A,B) ≤ min/max. No blocking keys needed; returns
    * exactly the pairs a full cross join would. */
  def jaccardSimilarityJoin(df: DataFrame, textCol: String, idCol: String,
                            shingleN: Int = 3, threshold: Double = 0.8,
                            cache: Boolean = true): DataFrame = {
    // Candidate generation joins PREFIX postings only. Soundness (PPJoin
    // Lemma 1, Xiao et al. 2008): J(A,B) ≥ τ ⟹ overlap ≥ ⌈τ·max(|A|,|B|)⌉
    // = α, and any two sets with overlap ≥ α must share an element among
    // their (|X|−α+1)-prefixes under a global total order. Our kept
    // prefixes (|X|−⌈τ·|X|⌉+1 ≥ |X|−α+1 smallest hashes) are at least
    // that long, so no qualifying pair is lost. One hot "stop shingle"
    // shared by half the corpus lands in almost no prefixes — candidate
    // cost stays near-linear where the full inverted-index join (round 1)
    // was Σ_shingle C(df,2).
    // The prefix is a PER-ROW slice of the doc's sorted hash array — the
    // round-1 window-rank formulation paid a shuffle+sort and a cached
    // posting table for what array_sort does in place. Verification is
    // overlap counting on the full hash postings (equi-joins + one count
    // aggregate, codegen — interpreted intersect/union melted down:
    // 16s→477s).
    val arrs = cached(shingleHashArrays(df, textCol, idCol, shingleN), cache)
    val prefixLen = (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    val pre = arrs
      .select(col("id"), col("n"),
        explode(slice(col("hs"), lit(1), prefixLen)).as("h")) // hs pre-sorted at source
    val cands = pre.as("a")
      .join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          // size-ratio bound: J ≤ min/max < τ — prunes inside the join
          least(col("a.n"), col("b.n")) >= ceil(greatest(col("a.n"), col("b.n")) * lit(threshold)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyByOverlap(cands, arrs, threshold)
  }

  /** Containment join — exact VERIFICATION, df-capped candidate
    * generation (fully exact only at `maxPostings = 0`; see the scale
    * note): directional near-dup pairs
    * `C(A→B) = |A∩B| / |A| ≥ τ` over shingle sets — the
    * quote-inside-article / excerpt-inside-book shape that
    * [[jaccardSimilarityJoin]] structurally misses (a 100-token doc
    * fully contained in a 10k-token doc has Jaccard ≈ 0.01 at any
    * containment), and the asymmetric signal dedup policies act on
    * (drop the CONTAINED side, keep the superset).
    *
    * Candidate generation is the asymmetric prefix filter: if
    * `|A∩B| ≥ ⌈τ·|A|⌉ = α` then A∩B (⊆ A, size ≥ α) must contain one
    * of A's `|A|−α+1` smallest hashes (pigeonhole — avoiding all of
    * them caps the subset at α−1), so A's PREFIX joins B's FULL
    * postings; the size bound `|B| ≥ α` prunes inside the join. The
    * prefix math itself loses nothing: with the df cap off, every
    * qualifying directed pair survives to verification (overlap count
    * on full postings, the [[jaccardSimilarityJoin]] machinery).
    *
    * Scale note: full postings of a corpus-wide stop shingle are the
    * hot spot (the round-1 inverted-index lesson). `maxPostings > 0`
    * drops shingles with document frequency above it from CANDIDATE
    * GENERATION only (verification is unaffected) — since candidates
    * collapse to unordered pairs (r13), a pair is missed only if BOTH
    * directions' shared prefix elements are all that hot (either
    * direction surviving recovers the pair and the exact final filter
    * re-derives each direction), which at the default 4096 means
    * sharing nothing but corpus-wide boilerplate; 0 = fully exact.
    *
    * Returns `(id_a, id_b, overlap, n_a, n_b, containment)` — one row
    * per DIRECTED pair with `containment = |A∩B|/|A| ≥ τ`; near-equal
    * twins appear in both directions. */
  def containmentJoin(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, threshold: Double = 0.9,
                      maxPostings: Int = 4096,
                      cache: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0,1], got $threshold")
    // hs arrives hash-sorted from shingleHashArrays (r13 sorted once
    // here; r14 moved the sort to the source so verification can merge)
    val arrs = cached(shingleHashArrays(df, textCol, idCol, shingleN), cache)
    val prefixLen = (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    // positions ride along (1-based in the hash-sorted order) for the
    // positional filter below
    val pre = arrs.select(col("id"), col("n"),
        posexplode(slice(col("hs"), lit(1), prefixLen))
          .as(Seq("i0", "h")))
      .select(col("id"), col("n"), (col("i0") + 1).as("i"), col("h"))
    val post0 = arrs.select(col("id"), col("n"),
        posexplode(col("hs")).as(Seq("j0", "h")))
      .select(col("id"), col("n"), (col("j0") + 1).as("j"), col("h"))
    val post =
      if (maxPostings <= 0) post0
      else {
        val hot = post0.groupBy("h").agg(count(lit(1)).as("_df"))
          .where(col("_df") > maxPostings).select("h")
        post0.join(hot, Seq("h"), "left_anti")
      }
    // positional filter (the PPJoin position bound, containment form):
    // a matched element at sorted positions (i in A, j in B) caps the
    // overlap at min(i−1, j−1) + 1 + min(|A|−i, |B|−j) — smaller
    // shared elements need positions before BOTH i and j, larger ones
    // after both. Every match's cap is a valid upper bound, so a
    // qualifying pair (overlap ≥ ⌈τ·|A|⌉) keeps ALL its matches;
    // dropping sub-cap matches prunes only pairs that cannot qualify
    // (measured: 356k → a fraction, and verification cost is
    // candidate-proportional)
    val alpha = ceil(col("a.n") * lit(threshold))
    val posBound =
      least(col("a.i") - 1, col("b.j") - 1) + 1 +
        least(col("a.n") - col("a.i"), col("b.n") - col("b.j"))
    // Candidates collapse to UNORDERED pairs before verification (r13):
    // the posting-join overlap count is symmetric, so counting it once
    // per {a, b} and emitting both directions through the EXACT final
    // threshold halves the dominant verification CPU (measured 115 s
    // CPU across the two probe stages at sf0.1). Equivalence: the
    // prefix filter retains every QUALIFYING ordered pair (the PPJoin
    // position-bound theorem, unchanged above), so a qualifying
    // direction always reaches verification; a non-qualifying mate
    // direction emitted alongside is removed by the same exact
    // `containment >= threshold` filter the oracle applies.
    val cands = pre.as("a")
      .join(post.as("b"),
        col("a.h") === col("b.h") && col("a.id") =!= col("b.id") &&
          col("b.n") >= alpha && posBound >= alpha)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // r14: overlap by the codegen `graft_sorted_overlap` merge over the
    // two cached SORTED arrays — one O(|A|+|B|) pass per candidate pair,
    // identical count to the posting-explode joins it replaces (the
    // verifyByOverlap equivalence note), without shipping candidate ×
    // postings rows through two exchanges and a hash aggregate
    val ov = cands
      .join(arrs.select(col("id").as("id_a"), col("hs").as("_ha"),
        col("n").as("n_a")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("hs").as("_hb"),
        col("n").as("n_b")), "id_b")
      .withColumn("overlap", call_function(
        org.apache.spark.sql.graft.GraftFunctions.SortedOverlapName,
        col("_ha"), col("_hb")))
      .select(col("id_a"), col("id_b"), col("overlap"),
        col("n_a"), col("n_b"))
    // both directions from ONE verified row (an explode, not a
    // self-union — a union would re-run the verification subtree)
    ov.select(explode(array(
        struct(col("id_a"), col("id_b"), col("overlap"),
          col("n_a"), col("n_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"), col("overlap"),
          col("n_b").as("n_a"), col("n_a").as("n_b")))).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"),
        col("_p.overlap").as("overlap"), col("_p.n_a").as("n_a"),
        col("_p.n_b").as("n_b"))
      .withColumn("containment",
        col("overlap").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("overlap"),
        col("n_a"), col("n_b"), col("containment"))
  }

  /** Exact n-gram-Jaccard near-dup pairs within explicit blocking keys
    * (e.g. source) — the verification-grade path; O(pairs-within-block). */
  def ngramJaccardPairs(df: DataFrame, blockKeys: Seq[String], textCol: String,
                        idCol: String, shingleN: Int = 3,
                        threshold: Double = 0.8): DataFrame = {
    // tokenize BELOW an exchange boundary so the shingle lambda sees a
    // materialized array attribute (the CAUTION on `shingles`: an inline
    // tokenizer re-evaluates per shingle element, interpreted)
    val base = df
      .select((blockKeys.map(col) :+ col(idCol).as("id") :+
        TextAnalysis.tokens(col(textCol)).as("toks")): _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select((blockKeys.map(col) :+ col("id") :+
        shingles(col("toks"), shingleN).as("sh")): _*)
    base.as("a")
      .join(base.as("b"),
        blockKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding-cosine near-dup pairs within blocking keys. Norms are
    * precomputed per vector (not per pair) — higher-order array folds are
    * interpreted, so per-pair work must be exactly one dot product. */
  def embeddingNearDupPairs(df: DataFrame, blockKeys: Seq[String], vecCol: String,
                            idCol: String, threshold: Double): DataFrame = {
    val v = Similarity.toDoubleVec(col(vecCol))
    val base = df.select((blockKeys.map(col) :+ col(idCol).as("id") :+ v.as("v")): _*)
      .withColumn("nrm", Similarity.norm(col("v")))
    base.as("a")
      .join(base.as("b"),
        blockKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          nullif(col("a.nrm") * col("b.nrm"), lit(0))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------------------------------
  // Incremental dedup: persisted MinHash index + probe. At 100 TB you
  // never re-dedup the whole corpus per ingest batch — you probe new
  // docs against a standing index and append them to it.
  // ------------------------------------------------------------------

  /** The declared columns of each MinHash and containment index table,
    * after its `id` (typed as the writer's ids). */
  val MinhashTables = Map("bands" -> "key long, band int", "postings" -> "h long", "sizes" -> "n int")
  val ContainmentTables = Map("postings" -> "j int, h long, n int", "sizes" -> "n int")

  /** The batches `ids` (default: the committed ones) of the index at
    * `path`, one [[CommitLog.scan]] per table of `tables`, read with its
    * declared schema and the id type the index was written with. */
  private def indexReader(spark: SparkSession, path: String, tables: Map[String, String],
                          ids: Option[Seq[String]] = None): String => DataFrame = {
    val log = CommitLog(spark, path)
    val batches = ids.getOrElse(log.read().committed)
    val id = log.writtenType(spark, "sizes", "id", batches).getOrElse(LongType)
    t => log.scan(t, spark.createDataFrame(java.util.List.of[Row](), StructType(
      StructField("id", id) +: StructType.fromDDL(tables(t)).fields)), batches)
  }

  /** Persist the MinHash LSH index of a corpus at `path`:
    * `bands/` — (id, key) band postings, partitioned by `band` (bands
    * directories; directory pruning at probe time) and sorted by
    * (band, key) within files — band FIRST, because the writer re-sorts
    * rows by partition column anyway and a key-only sort order would be
    * destroyed by that re-sort, silently losing parquet min/max
    * row-group pruning on `key`; `postings/` — (id, h) exploded 48-bit
    * shingle hashes for exact overlap verification; `sizes/` — (id, n).
    *
    * GROWTH IS ATOMIC AND IDEMPOTENT per batch: each write lands under
    * `batch=<batchId>` subdirectories of all three tables and becomes
    * visible only when its [[CommitLog]] marker is created (one atomic
    * file-create = the commit point). Readers (see
    * [[nearDupAgainstIndex]]) scan only committed batches, so a crash
    * between the three table writes exposes nothing, and a RETRIED batch
    * (at-least-once `foreachBatch` delivery) is a no-op skip instead of a
    * double-append — duplicated sizes/postings rows would otherwise
    * inflate every overlap and jaccard the probe computes. Ids must be
    * `[A-Za-z0-9_-]+`. `mode=overwrite` clears the index first;
    * `mode=append` adds one batch. An empty `batchId` auto-assigns
    * (max numeric committed id + 1) — fine for ad-hoc batch use, but an
    * at-least-once loop must pass its OWN stable batch id (e.g. the
    * foreachBatch batch id) or replays append as fresh batches.
    * Returns true if the batch was written, false if it was already
    * committed (idempotent skip, or another writer won the commit). */
  def writeMinhashIndex(df: DataFrame, textCol: String, idCol: String,
                        path: String, shingleN: Int = 3, k: Int = 64,
                        bands: Int = 16, mode: String = "overwrite",
                        batchId: String = ""): Boolean = {
    val log = CommitLog(df.sparkSession, path)
    if (mode == "overwrite")
      log.fs.delete(new org.apache.hadoop.fs.Path(path), true)
    log.append(batchId, Seq("bands", "postings", "sizes")) { bid =>
      val arrs = shingleHashArrays(df, textCol, idCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sigs = minhashSignaturesFromHashRows(
          arrs.select(col("id"), explode(col("hs")).as("h")), k)
        sigs.select(col("id"),
            posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key")))
          .repartition(col("band"))
          .sortWithinPartitions("band", "key")
          .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands/batch=$bid")
        arrs.select(col("id"), explode(col("hs")).as("h"))
          .write.mode("overwrite").parquet(s"$path/postings/batch=$bid")
        arrs.select(col("id"), col("n"))
          .write.mode("overwrite").parquet(s"$path/sizes/batch=$bid")
      } finally arrs.unpersist()
    }
  }

  /** Compact the batch-keyed MinHash index: consolidate every committed
    * batch into ONE new batch per table. An at-least-once ingest loop
    * appends a `batch=<id>` directory (with per-task files) to all three
    * tables per micro-batch — after N batches a probe lists/open-costs
    * O(N) small files and the per-batch `band` sort no longer gives
    * global row-group pruning. Cadence this like `LakeWriter.compact`
    * (the index is just another streamed-into table).
    *
    * Atomic through [[CommitLog.compact]]: the consolidated batch
    * `c<n>` becomes visible and the replaced ones invisible at one marker
    * create, so probe results are row-identical before and after. Safe
    * alongside a live appender; one compactor at a time. Returns the
    * number of batches consolidated (0 = nothing to do). */
  def compactMinhashIndex(spark: SparkSession, path: String): Int =
    CommitLog(spark, path).compact(Seq("bands", "postings", "sizes")) { (cid, committed) =>
      val index = indexReader(spark, path, MinhashTables, Some(committed))
      // bands keep their layout contract: band-partitioned directories,
      // (band, key) sort within files for row-group pruning at probe time
      index("bands")
        .repartition(col("band"))
        .sortWithinPartitions("band", "key")
        .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands/batch=$cid")
      index("postings")
        .repartition(col("id"))
        .write.mode("overwrite").parquet(s"$path/postings/batch=$cid")
      index("sizes")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/sizes/batch=$cid")
    }

  /** Near-dup pairs of a NEW batch against a persisted index — the
    * incremental form of [[minhashNearDupPairs]]: band keys of the batch
    * equi-join the index's band postings (shuffle = the BATCH's
    * signatures, never the corpus; the index side is directory-pruned to
    * matching bands and row-group-pruned on sorted keys), then exact
    * overlap verification joins only the candidates' postings. Returns
    * `(new_id, old_id, jaccard)`. Identical hashing/banding constants to
    * the batch operator, so index+probe ≡ one-shot pairs on the union. */
  def nearDupAgainstIndex(spark: SparkSession, path: String,
                          newDf: DataFrame, textCol: String, idCol: String,
                          shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                          threshold: Double = 0.8,
                          cache: Boolean = true,
                          maxBucketSize: Int = 1000): DataFrame = {
    val newArrs = cached(shingleHashArrays(newDf, textCol, idCol, shingleN), cache)
    val newSigs = minhashSignaturesFromHashRows(
      newArrs.select(col("id"), explode(col("hs")).as("h")), k)
    // Skew: the probe join's per-bucket cost is |batch bucket| × |index
    // bucket|. Capping the BATCH side (batch-sized detection, cheap)
    // bounds it to maxBucketSize × |index bucket|; the index side needs
    // no cap of its own because the incremental loop only ever appends
    // NOVEL content — mass-identical docs are deduped before indexing,
    // so hot buckets cannot accumulate there.
    val newBands = capHotBuckets(
      cached(newSigs.select(col("id").as("new_id"),
        posexplode(lshBandKeys(col("sig"), bands, k / bands)).as(Seq("band", "key"))),
        cache),
      Seq("band", "key"), maxBucketSize, "nearDupAgainstIndex(batch side)")
    val index = indexReader(spark, path, MinhashTables)
    val idxBands = index("bands")
      .select(col("id").as("old_id"), col("band"), col("key"))
    // cached: the candidate pairs are consumed twice below (the old_id
    // prune for array reconstruction + the verification join) — without
    // this the band-join subtree would be planned and computed per
    // consumer
    val cands = cached(newBands.join(idxBands, Seq("band", "key"))
      .filter(col("new_id") =!= col("old_id"))
      .select("new_id", "old_id").distinct(), cache)
    // r14: verification by the codegen graft_sorted_overlap merge (the
    // one-shot [[verifyByOverlap]] shape). The index postings of
    // CANDIDATE old ids only are folded back into sorted per-doc hash
    // arrays — one semi-join prune + one collect_list shuffle of the
    // candidates' postings — and merged in place against the batch's
    // cached arrays, instead of shipping candidate × postings rows
    // through two equi-join exchanges and a hash aggregate. Overlap
    // parity: the merge counts Σ_v cnt_A(v)·cnt_B(v), exactly the row
    // count of the (old_id, h) equi-join it replaces (run
    // multiplicities multiply). A zero-overlap band-collision candidate
    // now survives to the threshold filter with jaccard 0 instead of
    // dropping at the inner overlap join — identical output for any
    // threshold > 0 (every declared use is 0.8).
    val idxArrs = index("postings")
      .select(col("id").as("old_id"), col("h"))
      .join(cands.select("old_id"), Seq("old_id"), "left_semi") // semi-join: no distinct needed
      .groupBy("old_id")
      .agg(sort_array(collect_list(col("h"))).as("_hb"))
    val newSides = newArrs.select(col("id").as("new_id"),
      col("hs").as("_ha"), col("n").as("na"))
    val idxSizes = index("sizes")
      .select(col("id").as("old_id"), col("n").as("nb"))
    cands.join(newSides, "new_id").join(idxArrs, "old_id")
      .withColumn("overlap", call_function(
        org.apache.spark.sql.graft.GraftFunctions.SortedOverlapName,
        col("_ha"), col("_hb")))
      .join(idxSizes, "old_id")
      .withColumn("jaccard",
        col("overlap").cast("double") / (col("na") + col("nb") - col("overlap")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** Persist the positional-postings containment index at `path` —
    * the index half of the incremental [[containmentJoin]] (excerpts
    * arrive in batches; one-shot re-joins of the whole corpus per batch
    * don't scale). One data table, `postings/` — `(id, j, h, n)`: the
    * doc's hash-sorted shingle set with 1-based positions. Storing
    * POSITIONS makes the index threshold-agnostic: the τ-prefix of any
    * doc is the filter `j ≤ n − ⌈τ·n⌉ + 1`, so the same table serves
    * both sides of the probe's asymmetric prefix join at any τ, and the
    * positional filter gets its `j` for free. `sizes/` — `(id, n)`.
    *
    * Batch/commit lifecycle is [[writeMinhashIndex]]'s, verbatim:
    * `batch=<id>` directories under each table, a [[CommitLog]] marker
    * as the atomic commit point, replayed batch ids skip (returns
    * false), crashed partial writes are cleared on retry, and the `c*`
    * id namespace belongs to [[compactContainmentIndex]]. */
  def writeContainmentIndex(df: DataFrame, textCol: String, idCol: String,
                            path: String, shingleN: Int = 3,
                            mode: String = "overwrite",
                            batchId: String = ""): Boolean = {
    val log = CommitLog(df.sparkSession, path)
    if (mode == "overwrite")
      log.fs.delete(new org.apache.hadoop.fs.Path(path), true)
    log.append(batchId, Seq("postings", "sizes")) { bid =>
      val arrs = shingleHashArrays(df, textCol, idCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // h-clustered, h-sorted files: the probe's candidate join is an
        // equi-join on h, so row groups prune to the probe's shingles
        arrs.select(col("id"), col("n"),
            posexplode(col("hs")).as(Seq("j0", "h"))) // hs pre-sorted at source
          .select(col("id"), (col("j0") + 1).as("j"), col("h"), col("n"))
          .repartition(col("h"))
          .sortWithinPartitions("h")
          .write.mode("overwrite").parquet(s"$path/postings/batch=$bid")
        arrs.select(col("id"), col("n"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/sizes/batch=$bid")
      } finally arrs.unpersist()
    }
  }

  /** Compact the batch-keyed containment index: consolidate every
    * committed batch into ONE new batch per table, through
    * [[CommitLog.compact]] like [[compactMinhashIndex]]. `postings` keeps
    * the h-clustered/h-sorted probe layout, `sizes` stays one file. Probe
    * results are row-identical before and after. Returns the number of
    * batches consolidated (0 = nothing to do). */
  def compactContainmentIndex(spark: SparkSession, path: String): Int =
    CommitLog(spark, path).compact(Seq("postings", "sizes")) { (cid, committed) =>
      val index = indexReader(spark, path, ContainmentTables, Some(committed))
      index("postings")
        .repartition(col("h"))
        .sortWithinPartitions("h")
        .write.mode("overwrite").parquet(s"$path/postings/batch=$cid")
      index("sizes")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/sizes/batch=$cid")
    }

  /** Directed containment pairs BETWEEN a new batch and the persisted
    * index — the probe half of the incremental [[containmentJoin]].
    * Both directions come back (a new excerpt contained in an indexed
    * article AND an indexed excerpt contained in a new article): the
    * batch's prefixes probe the index's full postings, the index's
    * prefixes (a filter on stored positions — no recompute) probe the
    * batch's postings, both under the same asymmetric prefix +
    * positional + size filters as the one-shot, then exact overlap
    * verification on full postings. Batch-INTERNAL pairs are the
    * caller's [[containmentJoin]] on the batch (the
    * [[nearDupAgainstIndex]] loop convention), so per-batch work is
    * O(batch·index-postings-matched + batch²-candidates) — the corpus
    * is never re-joined against itself.
    *
    * `maxPostings` caps candidate-generation document frequency like
    * the one-shot, measured over the UNION of index and batch postings
    * (the incremental analog of corpus df; 0 = fully exact, and with 0
    * on both this and the one-shot, index+probe ∪ intra-batch ≡
    * one-shot on the union corpus — spec-pinned). Batch ids must be
    * disjoint from indexed ids. Returns the [[containmentJoin]] schema
    * `(id_a, id_b, overlap, n_a, n_b, containment)`, `id_a` the
    * contained side. */
  def containmentAgainstIndex(spark: SparkSession,
                              path: String, newDf: DataFrame,
                              textCol: String, idCol: String,
                              shingleN: Int = 3, threshold: Double = 0.9,
                              maxPostings: Int = 4096,
                              cache: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0,1], got $threshold")
    val newArrs = cached(shingleHashArrays(newDf, textCol, idCol, shingleN), cache)
    val newPos = newArrs.select(col("id"), col("n"),
        posexplode(col("hs")).as(Seq("j0", "h"))) // hs pre-sorted at source
      .select(col("id"), (col("j0") + 1).as("j"), col("h"), col("n"))
    val index = indexReader(spark, path, ContainmentTables)
    val idxPos = index("postings")
      .select(col("id"), col("j"), col("h"), col("n"))
    def capped(pos: DataFrame): DataFrame =
      if (maxPostings <= 0) pos
      else {
        val hot = idxPos.select(col("h")).unionByName(newPos.select(col("h")))
          .groupBy("h").agg(count(lit(1)).as("_df"))
          .where(col("_df") > maxPostings).select("h")
        pos.join(hot, Seq("h"), "left_anti")
      }
    def prefixOf(pos: DataFrame): DataFrame = pos
      .where(col("j") <=
        (col("n") - ceil(col("n") * lit(threshold)) + 1).cast("int"))
      .select(col("id"), col("n"), col("j").as("i"), col("h"))
    val alpha = ceil(col("a.n") * lit(threshold))
    val posBound =
      least(col("a.i") - 1, col("b.j") - 1) + 1 +
        least(col("a.n") - col("a.i"), col("b.n") - col("b.j"))
    def cands(pre: DataFrame, post: DataFrame): DataFrame = pre.as("a")
      .join(post.as("b"),
        col("a.h") === col("b.h") && col("a.id") =!= col("b.id") &&
          col("b.n") >= alpha && posBound >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // cached: consumed three times below (both id columns feed the
    // reconstruction prune, then the verification join) — without this
    // the two-direction prefix-join subtree would be planned and
    // computed per consumer
    val allCands = cached(cands(prefixOf(newPos), capped(idxPos))
      .unionByName(cands(prefixOf(idxPos), capped(newPos)))
      .distinct(), cache)
    // r14: exact verification by the codegen graft_sorted_overlap merge
    // (the one-shot [[containmentJoin]] verification shape). The index
    // postings of ids that appear in ANY candidate pair are folded back
    // into sorted per-doc hash arrays (positions are 1-based ranks in
    // hash-sorted order, so collect_list + sort_array reconstructs the
    // source array exactly); the batch side's sorted arrays are already
    // cached. One semi-join prune + one collect_list shuffle of the
    // candidates' postings replaces the candidate × postings explode
    // through two equi-join exchanges and a hash aggregate. Overlap
    // parity: Σ_v cnt_A(v)·cnt_B(v) = the replaced join's row count;
    // every candidate shares ≥1 non-hot hash with its mate by
    // construction (it met it in the prefix h-join), so the inner joins
    // drop nothing the old inner joins kept.
    val candIds = allCands.select(col("id_a").as("id"))
      .unionByName(allCands.select(col("id_b").as("id"))) // semi-join target: no distinct needed
    val idxArrs = idxPos.select(col("id"), col("h"))
      .join(candIds, Seq("id"), "left_semi")
      .groupBy("id").agg(sort_array(collect_list(col("h"))).as("hs"))
    val allArrs = newArrs.select(col("id"), col("hs")).unionByName(idxArrs)
    val allSizes = newArrs.select(col("id"), col("n"))
      .unionByName(index("sizes"))
    allCands
      .join(allArrs.select(col("id").as("id_a"), col("hs").as("_ha")), "id_a")
      .join(allArrs.select(col("id").as("id_b"), col("hs").as("_hb")), "id_b")
      .withColumn("overlap", call_function(
        org.apache.spark.sql.graft.GraftFunctions.SortedOverlapName,
        col("_ha"), col("_hb")))
      .join(allSizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(allSizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("containment",
        col("overlap").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("overlap"),
        col("n_a"), col("n_b"), col("containment"))
  }

  /** Connected components over a near-dup pair graph — the clustering
    * step every corpus-scale dedup pipeline needs after pair generation
    * (pairs say "A≈B"; deletion needs "the component of A", or transitive
    * chains survive). Returns `(id, component)` with component = min id
    * reachable, for every id that appears in a pair.
    *
    * Algorithm: hash-min label propagation with pointer jumping — each
    * round takes the min label over neighbors, then compresses paths by
    * looking up the label's own label (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 family). Pointer
    * jumping makes convergence O(log diameter) rounds, which is what
    * saves chain-shaped components (evolving boilerplate produces paths,
    * not cliques) at corpus scale. Labels only ever decrease, so the
    * changed-count is a monotone convergence witness. Every round is two
    * equi-joins + a min aggregate; lineage is truncated per round with
    * `localCheckpoint` (iterative DataFrame plans otherwise grow an
    * exponentially deep DAG). Convergence is detected by comparing
    * Σ component across rounds: labels are per-node NON-INCREASING, so
    * the (exact, decimal) sum is strictly decreasing until fixpoint and
    * equal exactly at it — one cheap aggregate per round instead of a
    * join + count. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 20,
                          driverCutoffPairs: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    // Guard the long cast: a string (or other non-integral) id column
    // would cast to null, collapsing EVERY pair to (null, null) — one
    // giant bogus component and silently wrong canonicalize survivors.
    // Integral ids only; hash other id types explicitly upstream so the
    // collision risk is a visible caller decision, not a hidden cast.
    for (c <- Seq(aCol, bCol)) {
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents: id column '$c' is $dt, not an integral type. " +
          "Non-numeric ids would be nulled by the long cast and every pair " +
          "would merge into one bogus component. Hash them first (e.g. " +
          "xxhash64(col) with a kept (id, hash) mapping) or renumber densely.")
    }
    // e0 is consumed twice on either path (count + collect, or count +
    // edge build) — without this persist the whole upstream pair
    // pipeline (often a MinHash join) re-executes per consumption
    val e0 = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Adaptive execution: near-dup pair graphs are tiny relative to the
    // corpus that produced them (pairs ≈ duplicates, not documents). Under
    // the cutoff (default 2²⁰ pairs ≈ 16 MB) a driver union-find finishes
    // in milliseconds where the distributed loop pays several shuffle
    // rounds of fixed overhead; above it, the distributed path scales
    // unbounded. The count that decides is an aggregate the loop would
    // have paid anyway; both paths produce identical (id, component) rows.
    val nPairs = e0.count()
    if (nPairs <= driverCutoffPairs) {
      val spark = pairs.sparkSession
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) { val nx = parent.get(c); parent.put(c, r); c = nx }
        parent.putIfAbsent(r, r)
        r
      }
      val rows = e0.collect()
      e0.unpersist()
      rows.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(k => out += ((k, find(k))))
      import spark.implicits._
      return out.toSeq.toDF("id", "component")
    }
    val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed with min(self, neighbors): equivalent to one propagation round
    // over identity labels, for the price of the aggregate that would
    // otherwise build the identity map
    var labels = edges.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u").as("id"), least(col("u"), col("mv")).as("component"))
      .localCheckpoint(true) // eager: edges is materialized past e0 here
    e0.unpersist()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast(DecimalType(38, 0)))).head()
        .getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum == null // empty pair set: nothing to propagate
    while (!converged && iter < maxIter) {
      // 1. neighbor min: candidate label for u from every neighbor's label
      val nbr = edges
        .join(labels.select(col("id").as("v"), col("component").as("nl")), "v")
        .select(col("u").as("id"), col("nl").as("component"))
      val afterNbr = labels.select(col("id"), col("component")).union(nbr)
        .groupBy("id").agg(min("component").as("component"))
      // 2. pointer jump: component <- label(component) (path compression)
      val jumped = afterNbr.as("l")
        .join(labels.select(col("id").as("component"), col("component").as("pl")).as("p"),
          Seq("component"), "left")
        .select(col("id"), least(col("component"), coalesce(col("pl"), col("component")))
          .as("component"))
      labels = jumped.localCheckpoint(true)
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Dedup survivors after clustering: every doc of `df` minus non-canonical
    * members of near-dup components (canonical = min id). One left join
    * against the component map — docs in no pair survive untouched. */
  /** Fixed-point PageRank over an undirected pair graph (e.g. the
    * near-dup graph: rank ≈ how centrally a document sits in its
    * duplication neighborhood — high-rank members of big clusters are
    * template pages worth inspecting). Pairs symmetrize to a directed
    * edge set; ranks live as INTEGER nano-units end to end — init
    * ⌊10⁹/N⌋, per-edge contribution `r_fp div degree` (floor division),
    * update `⌊15·10⁹/(100·N)⌋ + (Σ·85) div 100` — so every engine
    * computes bit-identical ranks at every round: no float accumulation
    * anywhere. Dangling nodes can't exist (symmetrized degree ≥ 1).
    *
    * Scale shape: per round one edge join on `u` + one map-side-combined
    * sum on `v` — the CC loop's cost profile, localCheckpoint-truncated.
    * Ranks sum to ≤ 1 (floor losses only). Same integral-id guard as
    * [[connectedComponents]] (shared cast hazard). Returns
    * `(id, rank)` with rank = r_fp/10⁹ after `iters` rounds. */
  def pageRank(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
               iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    for (c <- Seq(aCol, bCol)) {
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"pageRank: id column '$c' is $dt, not an integral type — hash or " +
          "renumber upstream (see connectedComponents)")
    }
    val e = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val edges0 = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    // r14: fold the degree INTO the checkpointed edge list once — the
    // round loop re-ran the degree aggregate and its join every
    // iteration (one exchange + one join build × iters for a value
    // that never changes). The window's partial-agg pair shares
    // edges0's distinct clustering on u, and each round now joins one
    // ready frame instead of three.
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val edges = edges0.withColumn("d", count(lit(1)).over(wU)).localCheckpoint()
    val nodes = edges.select(col("u"), col("d")).distinct()
    val n = nodes.count()
    if (n == 0)
      return pairs.sparkSession.emptyDataFrame
        .withColumn("id", lit(null).cast("long"))
        .withColumn("rank", lit(null).cast("double"))
    val Scale = 1000000000L
    val base = (Scale * 15L) / (100L * n)
    var r = nodes.select(col("u").as("id"), lit(Scale / n).as("r_fp"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      r = edges.join(r.withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id"), expr("r_fp div d").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
        .select(col("id"), (lit(base) + expr("(s * 85) div 100")).as("r_fp"))
        .localCheckpoint()
    }
    r.select(col("id"), (col("r_fp").cast("double") / Scale).as("rank"))
  }

  def canonicalize(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /** Leakage-safe train/val/test split: assign every near-dup CLUSTER —
    * not every document — to one split, so a near-copy of a training doc
    * can never land in val/test and silently inflate eval scores (the
    * standard contamination failure when splits hash bare doc ids).
    * `pairs` is any near-dup pair frame ([[jaccardSimilarityJoin]],
    * [[minhashNearDupPairs]], …); members of a component share its
    * min-id representative as `split_key` and singletons (never paired)
    * keep their own id, so the component frame stays proportional to
    * DUPLICATED docs only, never the corpus. The split itself is
    * [[TextAnalysis.split3]]'s portable hash bucket over the key —
    * deterministic, growth-stable, engine-reproducible.
    *
    * Scale shape: [[connectedComponents]]' audited skinny hash-min
    * rounds + ONE equi-join of the corpus against the components frame;
    * the split decision is a per-row projection. Returns the input
    * plus `(split_key, split)`. */
  def leakageSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                       trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"need 0 < trainPct and trainPct + valPct <= 100, got $trainPct/$valPct")
    // underscore-temp the components column: the input frame may well
    // carry its own "component" (it plausibly flowed through another
    // components-based step) and an ambiguous reference must not throw
    val comps = connectedComponents(pairs).withColumnRenamed("id", idCol)
      .withColumnRenamed("component", "_lscomp")
    df.join(comps, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("_lscomp"), col(idCol)))
      .withColumn("split",
        TextAnalysis.split3(col("split_key"), trainPct, valPct))
      .drop("_lscomp")
  }

  /** Quality-aware canonicalization: like [[canonicalize]], but the
    * surviving member of each near-dup cluster is the one with the
    * HIGHEST `scoreCol` (ties: lowest id) rather than the lowest id —
    * the production dedup policy (keep the best copy of the page, not
    * an arbitrary one). Singletons (never paired) survive untouched.
    *
    * Scale shape: components from the same hash-min propagation as
    * [[canonicalize]]; the election is one row_number window
    * partitioned by component — cluster-sized partitions (bounded by
    * the near-dup cluster size, not the corpus), one shuffle. */
  def canonicalizeBest(df: DataFrame, pairs: DataFrame, idCol: String,
                       scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
    val joined = df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce(col("component"), col(idCol)))
      .orderBy(col(scoreCol).desc, col(idCol))
    joined.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .drop("_rk", "component")
  }

  /** Label-FREE embedding near-dup: random-hyperplane LSH blocking (any
    * shared (table, sig) bucket) replaces the label blocks, so no O(n²)
    * within-block pair explosion and no dependency on having labels at
    * all. Candidates are verified with exact cosine via the codegen dot
    * product. Recall for a pair at angle θ is 1 − (1 − p^planes)^tables
    * with p = 1 − θ/π — tune planes down / tables up when hunting for
    * moderately-similar pairs; defaults target near-dups (cosine ≳ 0.9). */
  def embeddingNearDupPairsLsh(df: DataFrame, vecCol: String, idCol: String,
                               threshold: Double, planes: Int = 8,
                               tables: Int = 8, maxBucketSize: Int = 1000,
                               cache: Boolean = true): DataFrame = {
    // same skew exposure as the MinHash band join: N identical embeddings
    // share every (table, sig) bucket → C(N,2) pairs in one task
    val sigs = capHotBuckets(
      cached(Similarity.lshSignatures(df, vecCol, idCol, planes, tables), cache),
      Seq("table", "sig"), maxBucketSize, "embeddingNearDupPairsLsh")
    val cands = sigs.as("a")
      .join(sigs.as("b"),
        col("a.table") === col("b.table") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"),
        Similarity.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) /
          nullif(col("na") * col("nb"), lit(0))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Bloom-filter decontamination pre-screen — the scale path for
    * eval-set contamination when the corpus is the 100 TB side. The
    * exact span-hash join (q_contamination's shape) shuffles every
    * corpus span hash; this instead builds a Bloom filter over the EVAL
    * side's span hashes (eval sets are small) and probes each corpus
    * span MAP-SIDE: the corpus never shuffles — the only aggregation is
    * the per-doc count of positive probes, map-side-combined `(id,
    * count)` rows for the rare docs with any hit.
    *
    * One-sided contract: returned docs (`n_flagged_spans >=
    * minSharedSpans`) are a SUPERSET of truly contaminated docs — route
    * them (a tiny set) to the exact join for span-level confirmation;
    * absent docs are DEFINITIVELY clean at this span length. `fpp` prices
    * the excess: P(a clean doc with s spans flags) ≈ Binomial(s, fpp) ≥
    * minSharedSpans. The probe is Spark's NATIVE
    * `BloomFilterMightContain` expression (the runtime-row-filter
    * machinery) over the serialized sketch as a foldable binary literal
    * — codegen'd, O(1), shuffle-free, and plan-pinnable as not-a-UDF;
    * the literal carries the same bytes the old broadcast closure did
    * (BloomFilterMightContain requires a CONSTANT or scalar-subquery
    * filter side, so a literal, not a joined column, is the supported
    * shape). Deterministic (fixed sketch hashing), so the spec can
    * assert exact equality against the exact join. */
  def contaminationBloomFlags(corpus: DataFrame, evalSet: DataFrame,
                              textCol: String, idCol: String, n: Int = 8,
                              minSharedSpans: Int = 3,
                              fpp: Double = 1e-4): DataFrame = {
    require(minSharedSpans >= 1 && fpp > 0 && fpp < 1,
      s"bad minSharedSpans=$minSharedSpans fpp=$fpp")
    val evalHashes = shingleRows(evalSet, textCol, idCol, n)
      .select(xxhash64(col("s")).as("h")).distinct()
    val nEval = math.max(1L, evalHashes.count())
    val bf = evalHashes.stat.bloomFilter("h", nEval, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    shingleRows(corpus, textCol, idCol, n)
      .select(col("id"), xxhash64(col("s")).as("h"))
      .where(call_function(
        org.apache.spark.sql.graft.GraftFunctions.MightContainName,
        lit(bytes), col("h")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_flagged_spans"))
      .where(col("n_flagged_spans") >= minSharedSpans)
  }
}
