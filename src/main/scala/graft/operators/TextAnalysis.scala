package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language ID, fingerprinting.
  *
  * Beyond-reference scope (SURVEY §7 M9): the reference only touches text
  * via sentiment scoring (`adi/app/ingestion_service/ml_utils.py`); these
  * are the text-side operators a 100 TB document pipeline needs. Everything
  * is a pure column expression — codegen-friendly, no UDFs, no shuffles.
  */
object TextAnalysis {

  /** Whitespace tokenization (the BPE-ish regex split). NOTE the exact
    * SQL semantics, shared with every oracle: `trim` strips SPACES only
    * (not \n/\t), and the split keeps trailing empty tokens — so text
    * with trailing non-space whitespace tokenizes to a final "" token in
    * BOTH engines. Callers needing strict tokens should pre-normalize. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(toks: Column): Column = size(toks)

  /** GPT-2-style pre-tokenizer pieces — the BPE-ish token count proper
    * (contraction suffixes, space-prefixed letter runs / digit runs /
    * punctuation runs, whitespace runs). Deliberately LOOKAHEAD-FREE: the
    * canonical GPT-2 pattern ends `\s+(?!\S)|\s+`, but RE2 engines (the
    * oracle's) reject lookahead, so trailing-space attachment differs
    * from tiktoken by at most one piece per whitespace run — fine for
    * counting, documented for anyone comparing against a real tokenizer.
    * Same first-match-wins semantics in Java regex and RE2. */
  val BpeTokenRe: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenRe), lit(0))

  /** Piece count per doc: the unit LLM data budgets are denominated in
    * (whitespace tokens undercount CJK/punctuation-heavy text badly). */
  def bpeTokenCount(text: Column): Column = size(bpePieces(text))

  /** Sum of token lengths via aggregate HOF (exact integer arithmetic). */
  def charCount(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))

  def avgTokenLen(toks: Column): Column =
    charCount(toks).cast("double") / nullif(size(toks), lit(0))

  def uniqueTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / nullif(size(toks), lit(0))

  /** Count of tokens contained in a (small, broadcast-as-literal) word set. */
  def wordSetCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  val StopwordsEn = Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "mit", "von", "ein", "zu", "den")
  val StopwordsFr = Seq("le", "la", "les", "et", "des", "un", "une", "est", "du", "dans")
  val StopwordsEs = Seq("el", "los", "las", "y", "de", "un", "una", "es", "por", "con")

  def stopwordRatio(toks: Column, words: Seq[String] = StopwordsEn): Column =
    wordSetCount(toks, words).cast("double") / nullif(size(toks), lit(0))

  /** Document quality score in [0,1]: blend of stopword presence, token
    * diversity, and a length band — the length/punct/stopword-ratio
    * heuristic family used by LLM-corpus cleaners. Deterministic integer /
    * per-row double arithmetic only. */
  def qualityScore(toks: Column): Column = {
    val n = size(toks).cast("double")
    val lengthOk = when(n >= 10 && n <= 10000, lit(1.0)).otherwise(lit(0.0))
    lit(0.4) * least(stopwordRatio(toks) * 5.0, lit(1.0)) +
      lit(0.4) * uniqueTokenRatio(toks) +
      lit(0.2) * lengthOk
  }

  /** N-gram-heuristic language ID: CJK char presence → zh, else argmax of
    * per-language stopword hits with a fixed preference order (en, de, fr,
    * es) for ties, "und" (undetermined) when no set matches. */
  def langId(text: Column, toks: Column): Column = {
    val sEn = wordSetCount(toks, StopwordsEn)
    val sDe = wordSetCount(toks, StopwordsDe)
    val sFr = wordSetCount(toks, StopwordsFr)
    val sEs = wordSetCount(toks, StopwordsEs)
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(sEn === 0 && sDe === 0 && sFr === 0 && sEs === 0, lit("und"))
      .when(sEn >= greatest(sDe, sFr, sEs), lit("en"))
      .when(sDe >= greatest(sFr, sEs), lit("de"))
      .when(sFr >= sEs, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Engine-portable 48-bit token hash: the first 12 hex chars of
    * md5(UTF-8 bytes). Unlike xxhash64 (Spark-internal seed/variant),
    * md5 is identical across engines, so fingerprints built on it are
    * verifiable byte-for-byte by an external oracle. */
  def tokenHash48(t: Column): Column =
    conv(substring(md5(t), 1, 12), 16, 10).cast("long")

  /** Engine-portable 64-bit token hash: the first 16 hex chars of md5 as
    * a signed two's-complement long, assembled from two 32-bit halves so
    * no intermediate overflows (the shift into the sign bit is the only
    * wrap, and it's the defined two's-complement one). */
  def tokenHash64(t: Column): Column = {
    val hi = conv(substring(md5(t), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md5(t), 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Rolling polynomial fingerprint of the token stream, mod 2^31−1 —
    * order-sensitive (permuted documents fingerprint differently) and
    * engine-portable (md5-based token hash, plain modular arithmetic: any
    * engine reproduces it). Every intermediate stays below 2^36, safe
    * under ANSI overflow checking. Per-row linear work, no shuffle. */
  def fingerprint(toks: Column): Column = {
    val M = 2147483647L // 2^31 - 1
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(tokenHash48(t), lit(M)), lit(M)))
  }

  // ---- PII scrubbing ------------------------------------------------------
  // Patterns are deliberately alternation-free with greedy quantifiers only,
  // so Java regex (leftmost-first backtracking) and RE2-family engines
  // (leftmost-longest) produce identical matches — the scrub is
  // oracle-verifiable across engines.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{7,15}"

  /** Redact emails, IPv4 addresses, and international phone numbers.
    * Order matters: emails first (an email never contains an IP-shaped
    * substring after redaction), phones last (a phone regex must not eat
    * the digits of an already-redacted IP). */
  def scrubPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val i = regexp_replace(e, Ipv4Re, "<IP>")
    regexp_replace(i, PhoneRe, "<PHONE>")
  }

  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(EmailRe)).as("n_emails"),
    regexp_count(text, lit(Ipv4Re)).as("n_ips"),
    regexp_count(text, lit(PhoneRe)).as("n_phones"))

  // ---- Repetition / boilerplate metrics (Gopher-style filters) -----------

  /** ALL token bigrams (order-kept, duplicates kept — unlike
    * `Dedup.shingles`, which distincts). Empty for docs under 2 tokens. */
  def rawBigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))

  /** Per-doc repetition statistics — the duplicate-line / top-n-gram
    * family of boilerplate filters used by LLM-corpus cleaners (Gopher
    * rules): `dup_line_frac` (1 − distinct/total non-empty lines),
    * `top_bigram_n` (occurrences of the most frequent token bigram) and
    * `top_bigram_frac` (that count over all bigram slots). Relational
    * shape: explode lines / bigrams → count per (doc, gram) → max per doc
    * — two shuffles on (doc, gram), map-side combined; no per-doc O(n²)
    * lambda. Docs with <2 tokens get 0 bigram stats; docs with no
    * non-empty lines get dup_line_frac 0. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        split(col(textCol), "\n").as("lines"),
        tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
    val lines = base.select(col("id"), explode(col("lines")).as("line"))
      .filter(trim(col("line")) =!= "")
    val lineStats = lines.groupBy("id").agg(
      count(lit(1)).as("n_lines"),
      countDistinct(col("line")).as("n_distinct_lines"))
    val bigrams = base.select(col("id"), explode(rawBigrams(col("toks"))).as("g"))
    val topBigram = bigrams.groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max("c").as("top_bigram_n"), sum("c").as("n_bigrams"))
    base.select(col("id"), col("n_tokens"))
      .join(lineStats, Seq("id"), "left")
      .join(topBigram, Seq("id"), "left")
      .select(col("id"),
        col("n_tokens"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce((col("n_lines") - col("n_distinct_lines")).cast("double") /
          nullif(col("n_lines"), lit(0)), lit(0.0)).as("dup_line_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("top_bigram_n").cast("double") /
          nullif(col("n_bigrams"), lit(0)), lit(0.0)).as("top_bigram_frac"))
  }

  // ---- Deterministic corpus splitting ------------------------------------

  /** Hash bucket in [0, buckets) from the PORTABLE md5-derived hash of the
    * id's decimal string — stable across engines, runs, partitionings and
    * corpus growth (a doc keeps its split when new docs arrive, unlike
    * row_number-based splits), which is what makes hash splits the
    * leak-proof train/val/test assignment. */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(tokenHash48(id.cast("string")), lit(buckets.toLong))

  /** Standard three-way split by hash bucket (train/val/test). */
  def split3(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(id, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Deterministic per-stratum rate sampling — the corpus-mixing primitive
    * (sample stratum s at weight rates(s), e.g. downweight a dominant
    * language or upsample a scarce one). A row survives iff its portable
    * hash bucket over 10⁶ falls under ⌊rate·10⁶⌋, so the decision is a
    * pure per-row projection: no shuffle, no RNG state, reproducible
    * across engines/partitionings, and STABLE UNDER CORPUS GROWTH — a
    * doc's keep/drop never changes as rows arrive (unlike
    * `df.sample`, whose per-partition RNG streams reshuffle membership
    * on any repartition). `salt` decorrelates independent samples drawn
    * from the same ids (and decorrelates sampling from [[split3]], which
    * hashes the bare id). Rates compose multiplicatively only on
    * DIFFERENT salts; resampling the same salt at r2 ≥ r1 is a superset
    * (buckets are nested by construction). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double], defaultRate: Double = 1.0,
                       salt: String = "mix"): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val buckets = 1000000L
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val bucket = pmod(
      tokenHash48(concat(col(idCol).cast("string"), lit(":" + salt))),
      lit(buckets))
    df.filter(bucket < floor(rate * buckets).cast("long"))
  }

  /** Quality-ranked token-budget cut: keep the highest-quality documents
    * whose running token total fits `budget` — "take the best B tokens",
    * the final selection step once quality scores exist. Semantics are
    * the exact greedy prefix over the total order (⌊quality·10⁶⌋ desc,
    * id asc): a document is kept iff its INCLUSIVE running token sum ≤
    * `budget`. Quality resolves at µ-granularity — two docs whose
    * scores differ only below 1e-6 share a bucket and order by id, not
    * by the raw float. A null token count reads as 0 tokens (the doc is
    * free to keep); null quality ranks below every real score.
    *
    * Scale shape — the naive version is a corpus-wide sorted cumsum
    * (one global single-partition window: the classic scale-killer).
    * Instead: quality quantizes to `⌊q·10⁶⌋` buckets, ONE skinny agg
    * computes per-bucket token totals (≤ ~10⁶ rows whatever the corpus
    * size), the bucket-prefix cumsum runs over that bucket frame only,
    * and each doc's verdict joins back by bucket: buckets fully under
    * budget keep everything, buckets past it drop everything, and ONLY
    * the single boundary bucket pays an ordered within-bucket cumsum
    * (partitioned window over just its rows). Degenerate corpora where
    * most docs share one quality value degrade toward the global sort
    * — by construction, not by accident (the boundary bucket IS the
    * corpus then).
    *
    * Determinism: integer token sums, integer bucket ids, id
    * tie-breaks — the kept set is bit-reproducible cross-engine. Null
    * quality ranks below every real score (its own sentinel bucket,
    * kept only if budget remains). Returns the input plus `(q6, keep)`;
    * filter on `keep` to materialize the cut. */
  def tokenBudgetCut(df: DataFrame, qualityCol: String, tokensCol: String,
                     idCol: String, budget: Long): DataFrame = {
    require(budget >= 0L, s"budget must be non-negative, got $budget")
    val base = df.withColumn("q6",
      when(col(qualityCol).isNull, lit(Long.MinValue))
        .otherwise(floor(col(qualityCol).cast("double") * 1e6).cast("long")))
      // null tokens → 0: a null _tok would make its bucket's _btok NULL,
      // turning the boundary predicate NULL and silently DROPPING the
      // bucket's rows from both branches — the cut labels, never drops
      .withColumn("_tok", coalesce(col(tokensCol).cast("long"), lit(0L)))
    val buckets = base.groupBy("q6").agg(sum("_tok").as("_btok"))
    // exclusive prefix over the SKINNY bucket frame (distinct q6 values
    // only) — the lone unpartitioned window, never corpus-sized
    val wq = Window.orderBy(col("q6").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = buckets.withColumn("_before",
      coalesce(sum("_btok").over(wq), lit(0L)))
    // bucket frame broadcast: its cardinality is bounded by the quality
    // RANGE × 10⁶ (for the usual [0,1] scores ≤ 10⁶ + 1 rows), never by
    // the corpus — so the corpus-side join is map-side, no shuffle
    val joined = base.join(broadcast(cum), Seq("q6"))
    val boundary = col("_before") <= lit(budget) &&
      col("_before") + col("_btok") > lit(budget)
    // non-boundary buckets resolve from the two bucket-level numbers —
    // a pure projection, no per-row ordering anywhere
    val resolved = joined.where(!boundary)
      .withColumn("keep", col("_before") + col("_btok") <= lit(budget))
    // ONLY the single boundary bucket pays the ordered cumsum — the
    // where() sits below the window, so the sort sees just its rows
    // (cost: a second scan of the corpus instead of a corpus-wide
    // sort — two map passes beat one wide shuffle at any real scale)
    val wb = Window.partitionBy("q6").orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bnd = joined.where(boundary)
      .withColumn("keep", col("_before") + sum("_tok").over(wb) <= lit(budget))
    resolved.unionByName(bnd).drop("_tok", "_btok", "_before")
  }

  /** Temperature-based corpus mixing (the multilingual/multi-source
    * α-sampling rule, Conneau & Lample 2019 §3.1 style): stratum s with
    * count c_s is kept at rate (c_min/c_s)^(1−α) — α = 1 keeps the
    * natural distribution, α → 0 flattens every stratum to the smallest
    * one's size, in between damps dominant strata. Rates DERIVE from the
    * corpus itself (one skinny count aggregation) rather than arriving
    * as config like [[stratifiedSample]]'s.
    *
    * The NULL stratum (rows with no label — e.g. null-vector documents
    * [[Similarity.kmeansAssign]] could not cluster) is NOT a topic: it
    * neither participates in c_min (a 3-row artifact stratum must not
    * damp every real stratum to ~nothing) nor gets damped itself — it
    * is kept whole (rate 10⁶).
    *
    * Membership is the same portable-hash bucket rule as
    * [[stratifiedSample]] (growth-stable, shuffle-free per row), and the
    * rate is quantized to ⌊rate·10⁶⌋ BEFORE the compare, so a 1-ulp
    * `pow` divergence between engines can't flip a row. Returns the
    * input plus `rate_fp` (kept µ-fraction) and `keep`; filter on `keep`
    * to materialize the mix. The rates frame is strata-cardinality rows
    * — always broadcast. */
  def temperatureMix(df: DataFrame, strataCol: String, idCol: String,
                     alpha: Double = 0.5, salt: String = "temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"need 0 < alpha <= 1, got $alpha")
    val buckets = 1000000L
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("c"))
    val cmin = counts.where(col(strataCol).isNotNull)
      .groupBy().agg(min(col("c")).as("c_min"))
    val rates = counts.crossJoin(broadcast(cmin))
      .select(col(strataCol),
        when(col(strataCol).isNull, lit(buckets))
          .otherwise(
            floor(pow(col("c_min").cast("double") / col("c"), 1.0 - alpha) * buckets)
              .cast("long")).as("rate_fp"))
    val bucket = pmod(
      tokenHash48(concat(col(idCol).cast("string"), lit(":" + salt))),
      lit(buckets))
    // null-SAFE stratum join: groupBy above puts null-stratum rows in
    // their own group with their own rate, and a plain equi-join would
    // silently drop them (null never equals null) — a mixing pass must
    // never lose documents
    df.join(broadcast(rates.withColumnRenamed(strataCol, "_strata")),
        col(strataCol) <=> col("_strata"))
      .drop("_strata")
      .withColumn("keep", bucket < col("rate_fp"))
  }

  /** Per-document token-distribution Shannon entropy (nats) — the
    * vocabulary-diversity quality signal the length/stopword heuristics
    * miss: keyword-stuffed and template pages score LOW entropy at any
    * length, natural prose scores near `ln(distinct)`. Computed as
    * `H = ln n − (Σ c·ln c)/n` over per-doc token counts c.
    *
    * Determinism: the per-token-type terms quantize to
    * `round(c·ln(c)·10⁶)` BIGINTs (the µnat rule) and sum EXACTLY per
    * doc — order-free; H then derives in one fixed double tree, 6 dp.
    *
    * Scale shape: one explode to skinny `(doc_id, token)` rows, one
    * grouped count, one per-doc agg — all map-side combined; document
    * bodies never shuffle (the q_text_stats cost profile). Empty or
    * null docs report 0 tokens and null entropy. */
  def tokenEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
    val counts = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val cD = col("c").cast("double")
    val perDoc = counts.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("distinct_tokens"),
      sum(round(cD * log(cD) * 1e6).cast("long")).as("_sclc"))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        // + 0.0 canonicalizes the −0.0 a quantized all-one-type doc can
        // round to (engines split on the zero's sign bit, and the driver
        // hashes PHYSICAL values) — the oracle adds the same term
        when(col("n_tokens").isNotNull,
          round(log(col("n_tokens").cast("double"))
            - col("_sclc").cast("double") / 1e6 / col("n_tokens").cast("double"), 6)
            + lit(0.0))
          .as("entropy_nats"))
  }

  /** Per-document TF-IDF top-k characteristic terms — the standard
    * corpus-exploration / keyword-extraction pass. IDF is quantized to
    * fixed-point µnats (`idf_fp = round(ln(N/df)·10⁶)`) so the per-term
    * score `tf·idf_fp` is INTEGER arithmetic: rank order is
    * deterministic cross-engine and immune to float-sum ordering.
    * Everything that shuffles is skinny — `(doc_id, term-hashable
    * strings, counts)`; document bodies never move. The final ranking
    * window partitions by doc (never global). Returns
    * `(doc_id, rank, term, tf, tfidf)` with ties broken by term. */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tok = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val nDocs = df.groupBy().agg(count(lit(1)).as("n_docs"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("term"),
        round(log(col("n_docs").cast("double") / col("df_docs")) * 1e6)
          .cast("long").as("idf_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_fp").desc, col("term"))
    tf.join(idf, "term")
      .withColumn("score_fp", col("tf") * col("idf_fp"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), (col("score_fp").cast("double") / 1e6).as("tfidf"))
  }

  /** Per-stratum distribution drift: KL(P_stratum ‖ P_corpus) over the
    * unigram token distributions — the corpus-mixture monitoring metric
    * (is one source's language drifting from the blend it's supposed to
    * feed?). KL = Σ_w p_s(w)·ln(p_s(w)/p(w)); every probability is an
    * exact integer ratio, each log term quantizes to µnat BIGINTs, and
    * the per-stratum accumulation is the exact integer sum
    * Σ c_sw·lnterm_fp — order-free — divided once by c_s·10⁶ at the
    * end. A stratum with the corpus distribution scores 0; divergent
    * strata score higher (always ≥ 0 up to quantization).
    *
    * Scale shape: (stratum, token) counts are skinny map-side-combined
    * rows; the corpus token marginal is vocabulary-sized and broadcasts
    * into the join. Returns `(stratum, n_tokens, kl_nats)`. */
  def sourceDivergence(df: DataFrame, textCol: String,
                       strataCol: String): DataFrame = {
    val tok = df.select(col(strataCol).as("stratum"),
        explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
    val sw = tok.groupBy("stratum", "w").agg(count(lit(1)).as("c_sw"))
    val s = sw.groupBy("stratum").agg(sum("c_sw").as("c_s"))
    val wTot = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
    val corpus = wTot.agg(sum("c_w").as("c_tot"))
    sw.join(broadcast(wTot), "w")
      .join(s, "stratum")
      .crossJoin(broadcast(corpus))
      .withColumn("lnterm_fp",
        round(log((col("c_sw").cast("double") * col("c_tot").cast("double"))
          / (col("c_s").cast("double") * col("c_w").cast("double"))) * 1e6)
          .cast("long"))
      .groupBy("stratum")
      .agg(sum(col("c_sw") * col("lnterm_fp")).as("num_fp"),
        max("c_s").as("c_s"))
      .select(col("stratum"), col("c_s").as("n_tokens"),
        (col("num_fp").cast("double")
          / (col("c_s").cast("double") * 1e6)).as("kl_nats"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169)
    * — select raw-corpus documents that LOOK LIKE a target subcorpus, the
    * standard pretraining-data targeting pass. Features are hashed unigram
    * buckets (hashed n-gram DSIR with n=1): per-bucket likelihood ratios
    * between an add-one-smoothed target bucket model and the raw-corpus
    * bucket model. The per-doc log importance weight Σ_tok ln(p_t(b)/p_r(b))
    * is a sum of µnat-quantized per-bucket BIGINTs — order-independent,
    * hence engine-exact. The draw itself is Gumbel top-k over
    * `logw_fp + g(id)` with the Gumbel noise derived from the portable
    * 48-bit id hash — sampling ∝ exp(logw), reproducible on any engine
    * (the log-space analog of [[weightedSample]]'s A-ES key).
    *
    * Scale shape: two token scans (bucket counting; per-doc λ sums) with
    * map-side combine onto ≤`buckets` keys; the λ table is buckets-sized
    * and BROADCAST into the per-doc sum; selection is a global top-k heap
    * (TakeOrdered), never a full sort. Document bodies never shuffle —
    * only skinny (doc, bucket) pairs cross the wire, so the pass costs
    * the same two scans at 100 TB. Returns the `sampleN` selected docs
    * with their diagnostics, ordered by id. */
  def importanceResample(df: DataFrame, textCol: String, idCol: String,
                         isTarget: Column, sampleN: Int,
                         buckets: Int = 4096,
                         salt: String = "dsir"): DataFrame = {
    require(sampleN > 0, s"sampleN must be positive, got $sampleN")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = df.select(col(idCol).as("doc_id"), isTarget.as("is_target"),
        explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"), col("is_target"),
        pmod(tokenHash48(col("w")), lit(buckets.toLong)).as("b"))
    // Materialize the bucket counts ONCE: `counts` is ≤`buckets` rows
    // (metadata scale), but leaving it lazy re-runs the whole
    // tokenize+md5 corpus scan for every consumer (totals, λ table) —
    // 3 scans instead of DSIR's inherent 2. Collect and rebuild as a
    // local relation so the λ derivation prices at driver scale.
    val countsRows = toks.groupBy("b").agg(
        count(lit(1)).as("c_r"),
        sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("c_t"))
    val counts = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(countsRows.collect(): _*), countsRows.schema)
    val tots = counts.agg(sum("c_r").as("n_r"), sum("c_t").as("n_t"))
    // λ(b) in µnats; the ln argument is the same 3-division double tree
    // the oracle computes, and round() absorbs last-ulp libm drift.
    val lam = counts.crossJoin(broadcast(tots))
      .select(col("b"),
        round(log(((col("c_t") + 1L).cast("double") / (col("n_t") + buckets).cast("double"))
          / ((col("c_r") + 1L).cast("double") / (col("n_r") + buckets).cast("double"))) * 1e6)
          .cast("long").as("lam_fp"))
    val perDoc = toks.join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lam_fp").as("logw_fp"))
    val u = (tokenHash48(concat(col("doc_id").cast("string"), lit(":" + salt)))
      .cast("double") + 1.0) / lit(281474976710656.0) // 2^48
    perDoc
      .withColumn("sample_key_fp",
        col("logw_fp") + round(-log(-log(u)) * 1e6).cast("long"))
      .orderBy(col("sample_key_fp").desc, col("doc_id"))
      .limit(sampleN)
      .select(col("doc_id"), col("n_tokens"),
        (col("logw_fp").cast("double") / 1e6).as("logw_nats"),
        col("sample_key_fp"))
  }

  /** Distributed BPE merge training (Sennrich et al. 2016, arXiv:
    * 1508.07909) — learn the first `merges` byte-pair merges from the
    * corpus itself, the tokenizer-construction pass of an LLM data
    * pipeline. Classic formulation: pair statistics are counted over
    * the DISTINCT-WORD frame weighted by word frequency (never over
    * running text), each round takes the argmax pair (count desc, then
    * lexicographic — fully deterministic) and greedily rewrites every
    * word's piece sequence left-to-right.
    *
    * Scale shape: the corpus is touched ONCE (word count); every round
    * then runs on the vocabulary frame — skinny (pieces, count) rows,
    * distributed pair explode + map-side-combined weighted count + a
    * 1-row argmax collect (metadata scale), and the rewrite is one
    * codegen'd `aggregate` fold per word. `localCheckpoint` truncates
    * the M-deep lambda lineage each round, exactly like the CC loop.
    * Returns the merge table `(step, left, right, pair_count)` — the
    * artifact a tokenizer ships. Stops early when no pair repeats. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainVocab(df, textCol, merges)._2
      .toDF("step", "left", "right", "pair_count")
  }

  /** Train + tokenize in one pass: learn `merges` BPE merges from the
    * corpus ([[bpeTrain]]) and measure every document under the learned
    * tokenizer. The final vocab frame already holds each distinct
    * word's piece sequence, so the apply step is a skinny (doc_id, w)
    * join against it — the corpus text is never re-folded. Returns
    * `(doc_id, n_words, n_pieces)`; n_pieces is the doc's token count
    * under the trained tokenizer (empty docs: 0/0). */
  def bpeTokenize(df: DataFrame, textCol: String, idCol: String,
                  merges: Int): DataFrame = {
    val (vocab, _) = bpeTrainVocab(df, textCol, merges)
    val toks = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
    val counted = toks
      .join(vocab.select(col("w"), size(col("pieces")).as("_np")), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("_np").as("n_pieces"))
    df.select(col(idCol).as("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** Shared BPE training core: returns the final vocab frame
    * `(w, c, pieces)` and the learned merge list. */
  private def bpeTrainVocab(df: DataFrame, textCol: String, merges: Int)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    require(merges > 0 && merges <= 256, s"merges out of range: $merges")
    var vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), col("c"), split(col("w"), "").as("pieces"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val top = vocab.where(size(col("pieces")) >= 2)
        .select(col("c"), explode(zip_with(
          slice(col("pieces"), lit(1), size(col("pieces")) - 1),
          slice(col("pieces"), lit(2), size(col("pieces")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("c").as("n"))
        .where(col("n") >= 2) // a pair seen once compresses nothing
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step.toLong, a, b, n))
        vocab = vocab.withColumn("pieces",
          when(size(col("pieces")) < 2, col("pieces")).otherwise(
            aggregate(
              slice(col("pieces"), lit(2), size(col("pieces")) - 1),
              slice(col("pieces"), lit(1), lit(1)),
              (acc, x) => when(
                element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x))))))
          .localCheckpoint()
      }
    }
    (vocab, learned.toList)
  }

  /** Corpus-level boilerplate LINE removal (the CCNet/RefinedWeb
    * pre-dedup pass): a line appearing in ≥ `minDf` DISTINCT documents
    * is boilerplate (headers, footers, cookie banners) and is dropped
    * from EVERY document — unlike [[segmentDedup]]'s keep-first policy,
    * no copy survives; the first crawl of a template page is as
    * polluted as the millionth. Documents are then rebuilt in original
    * line order.
    *
    * Scale shape: the document-frequency count shuffles 8-byte line
    * hashes, never line text; the hot-line set is tiny by construction
    * (≤ n_lines/minDf entries) and broadcast-anti-joins away; the
    * rebuild groups each doc's own surviving lines (one shuffle keyed
    * by doc). Returns `(doc_id, n_lines, n_removed, text_clean)` for
    * every input doc — zero-line docs come back with empty text, not
    * dropped. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                minDf: Long = 50L): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would drop every line, got $minDf")
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("h", xxhash64(col("line")))
    val hot = lines.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("line_df"))
      .where(col("line_df") >= minDf)
      .select("h")
    val kept = lines.join(broadcast(hot), Seq("h"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line"))).as("text_clean"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES, Inf. Process. Lett. 97(5), 2006): each
    * row draws u ∈ (0,1] from the portable 48-bit hash of its id and
    * ranks by ln(u)/w — the top `k` keys are exactly a weighted sample
    * without replacement. The training-data use is mixture draws:
    * sample a fixed token budget biased by quality/length weights,
    * reproducibly (same corpus + salt → same sample, no RNG state, no
    * seed-per-partition hazards).
    *
    * Determinism: u is exact integer arithmetic over the md5 hash;
    * `ln(u)` quantizes to µnat BIGINTs (the engine's libm rule), and
    * the rank key is one exact-int double division `lnu_fp / w` — so
    * the (key desc, id) order is total and engine-independent.
    *
    * Scale shape: a pure per-row projection followed by a global top-k
    * (TakeOrdered — per-partition heaps, never a full sort). Weights
    * must be positive; null/non-positive weights fail fast rather than
    * silently skewing the draw. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String = "wsamp"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = tokenHash48(concat(col(idCol).cast("string"), lit(":" + salt)))
    val u = (h.cast("double") + 1.0) / lit(281474976710656.0) // 2^48
    val lnuFp = round(log(u) * 1e6).cast("long")
    val w = col(weightCol).cast("double")
    val key = lnuFp.cast("double") / w
    df.withColumn("_w", w)
      .withColumn("sample_key",
        when(col("_w").isNull || col("_w") <= 0.0,
          raise_error(concat(lit(s"weightedSample: non-positive weight in '$weightCol' for id "),
            col(idCol).cast("string")))).otherwise(key))
      .drop("_w")
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** Collocation mining — corpus-level adjacent-bigram PMI (pointwise
    * mutual information), the classic phrase-detection pass (Mikolov et
    * al. 2013 phrase2vec style) run before tokenizer/vocab decisions:
    * PMI(a,b) = ln(N_bi · c(a,b) / (c₁(a) · c₂(b))) over adjacent pairs,
    * where c₁/c₂ count a token's occurrences as bigram left/right — so
    * ln arguments are exact integer ratios (quantized to µnat BIGINTs),
    * and the (pmi desc, bigram) ranking is total. `minCount` floors
    * pair support (PMI of rare pairs is noise).
    *
    * Scale shape: identical to [[bigramLogProb]]'s — bigram pairs are
    * skinny `(prev, cur)` rows with map-side-combined counts; the two
    * marginal joins are broadcastable (vocab-sized). Returns the top
    * `topK` `(bigram, pair_count, pmi)`. */
  def collocations(df: DataFrame, textCol: String, idCol: String,
                   minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
    val pairs = toks.select(posexplode(col("toks")).as(Seq("i", "cur")),
        col("toks"))
      .where(col("i") >= 1)
      .select(element_at(col("toks"), col("i")).as("prev"), col("cur"))
    val bi = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("c_pair"))
    val left = bi.groupBy("prev").agg(sum("c_pair").as("c_left"))
    val right = bi.groupBy("cur").agg(sum("c_pair").as("c_right"))
    val nBi = bi.agg(sum("c_pair").as("n_bi"))
    bi.where(col("c_pair") >= minCount)
      .join(broadcast(left), "prev")
      .join(broadcast(right), "cur")
      .crossJoin(broadcast(nBi))
      .select(concat(col("prev"), lit(" "), col("cur")).as("bigram"),
        col("c_pair").as("pair_count"),
        (round(log((col("n_bi").cast("double") * col("c_pair").cast("double"))
          / (col("c_left").cast("double") * col("c_right").cast("double"))) * 1e6)
          .cast("long").cast("double") / 1e6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /** Okapi BM25 ranked retrieval over the corpus — the keyword-search
    * complement to the embedding paths in [[graft.operators.Similarity]]:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    * the standard smoothed idf `ln((N−df+0.5)/(df+0.5)+1)` (always > 0).
    *
    * Determinism contract (driver-hash-stable): idf quantizes to µnat
    * BIGINTs; `avgdl = Σdl/N` is one double division of two exact
    * BIGINTs; each per-term score is a fixed-shape double expression
    * quantized to `⌊score·10⁶⌋` BEFORE the per-doc sum, so the sum is
    * exact integer arithmetic — order-free under any partitioning — and
    * the final ranking (score desc, doc_id) is total.
    *
    * Scale shape: the corpus-wide token explode is filtered to the query
    * vocabulary BEFORE any shuffle (a handful of literal terms → the
    * grouped frames are ~|query|·N_matching rows, never corpus-sized);
    * doc lengths are a per-row projection; N/Σdl is one map-side-combined
    * global agg broadcast back; idf (|query| rows) broadcasts into the
    * scoring join. Returns the top `topK` rows
    * `(doc_id, n_terms, score)`. */
  def bm25Search(df: DataFrame, textCol: String, idCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                 topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search needs at least one query term")
    require(topK > 0, s"topK must be positive, got $topK")
    val docs = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val totals = docs.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("long").as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df_docs"))
      .crossJoin(broadcast(totals))
      .select(col("term"),
        round(log((col("n_docs").cast("double") - col("df_docs").cast("double") + 0.5)
            / (col("df_docs").cast("double") + 0.5) + 1.0) * 1e6)
          .cast("long").as("idf_fp"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    tf.join(broadcast(idf), "term")
      .withColumn("score_term_fp",
        floor((col("idf_fp").cast("double") / 1e6)
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
             + lit(k1) * (lit(1.0 - b) + lit(b)
               * (col("dl").cast("double") / col("avgdl"))))
          * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(sum("score_term_fp").as("score_fp"),
        count(lit(1)).cast("long").as("n_terms"))
      .select(col("doc_id"), col("n_terms"),
        (col("score_fp").cast("double") / 1e6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Interpolated bigram-LM scoring — one step closer to the KenLM
    * perplexity filter than [[unigramLogProb]]: position 0 scores under
    * the unigram model, every later position under
    * `−ln(λ·p(wᵢ|wᵢ₋₁) + (1−λ)·p(wᵢ))` with `p(wᵢ|wᵢ₋₁) =
    * c(wᵢ₋₁wᵢ)/c(wᵢ₋₁)`. Same determinism contract: every per-position
    * term quantizes to µnat BIGINTs in the model frames, per-doc sums
    * are integer (order-free), and the final mean is an exact division.
    * Both models come from the corpus itself, so no position is ever
    * out-of-vocabulary.
    *
    * Scale shape: bigram pairs explode to `(doc, prev, cur)` skinny
    * rows; the three model joins (unigram on cur, unigram on prev for
    * the conditional's denominator, bigram on the pair) are
    * hash-partitioned joins on token strings — map-side-combined counts,
    * no document bodies anywhere. Returns `(doc_id, n_tokens,
    * mean_nll)`. */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
                    lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val tok = base.select(col("doc_id"), explode(col("toks")).as("tok"))
    val uni = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = tok.groupBy().agg(count(lit(1)).as("total"))
    val uniP = uni.crossJoin(broadcast(total))
    // position-0 NLL under the unigram model
    val firstFp = base
      .select(col("doc_id"), element_at(col("toks"), 1).as("tok"))
      .join(uniP, Seq("tok"))
      .select(col("doc_id"),
        round(-log(col("c").cast("double") / col("total")) * 1e6)
          .cast("long").as("fp"))
    // (doc, prev, cur) pairs for positions 1..n-1
    val pairs = base
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("prev"),
          element_at(col("toks"), i + 1).as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val bi = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val pairFp = pairs
      .join(bi, Seq("prev", "cur"))
      .join(uniP.select(col("tok").as("prev"), col("c").as("cprev")), Seq("prev"))
      .join(uniP.select(col("tok").as("cur"), col("c").as("ccur"),
        col("total")), Seq("cur"))
      .select(col("doc_id"),
        round(-log(
          lit(lambda) * (col("cb").cast("double") / col("cprev")) +
            lit(1.0 - lambda) * (col("ccur").cast("double") / col("total"))) * 1e6)
          .cast("long").as("fp"))
    firstFp.unionByName(pairFp)
      .groupBy("doc_id")
      .agg(sum(col("fp")).as("fp"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("fp").cast("double") / (col("n_tokens").cast("double") * 1e6))
          .as("mean_nll"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form) — the stronger LM beside
    * [[bigramLogProb]]'s Jelinek–Mercer blend, and the standard
    * perplexity-filter backbone: the lower-order weight of a word is
    * its CONTINUATION fanout (how many distinct contexts it follows),
    * not its raw frequency, so "Francisco" stops looking probable
    * outside "San …":
    *
    * {{{ P(cur|prev) = (c(prev,cur) − D)/c(prev)
    *                   + D·N₁₊(prev·)/c(prev) · N₁₊(·cur)/B }}}
    *
    * with absolute discount `D`, `N₁₊(prev·)` the distinct-successor
    * count of prev, `N₁₊(·cur)` the distinct-predecessor count of cur,
    * and `B` the corpus bigram-type count. Scoring runs against the
    * corpus's own counts, so every scored bigram has c ≥ 1 and the
    * discounted term never clips. Position 0 scores under the unigram
    * model (the [[bigramLogProb]] convention).
    *
    * Determinism: per-token NLLs quantize to µnat BIGINTs
    * (`round(−ln p · 10⁶)`) before the per-doc sum — order-free under
    * any partitioning; the probability itself is one fixed double tree
    * from exact integer counts.
    *
    * Scale shape: identical to [[bigramLogProb]] — token-keyed
    * equi-joins against vocabulary-sized count tables (the three KN
    * tables are ≤ bigram-type-sized), one broadcast scalar; corpus
    * rows never self-join. */
  def knLogProb(df: DataFrame, textCol: String, idCol: String,
                discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val tok = base.select(col("doc_id"), explode(col("toks")).as("tok"))
    val uni = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = tok.groupBy().agg(count(lit(1)).as("total"))
    val uniP = uni.crossJoin(broadcast(total))
    val firstFp = base
      .select(col("doc_id"), element_at(col("toks"), 1).as("tok"))
      .join(uniP, Seq("tok"))
      .select(col("doc_id"),
        round(-log(col("c").cast("double") / col("total")) * 1e6)
          .cast("long").as("fp"))
    val pairs = base
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("prev"),
          element_at(col("toks"), i + 1).as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val bi = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    // bi is one row per TYPE, so plain counts give the N₁₊ fanouts
    val n1 = bi.groupBy("prev").agg(count(lit(1)).as("n1p"))
    val nc = bi.groupBy("cur").agg(count(lit(1)).as("ncont"))
    val bt = bi.groupBy().agg(count(lit(1)).as("btypes"))
    val pairFp = pairs
      .join(bi, Seq("prev", "cur"))
      .join(uniP.select(col("tok").as("prev"), col("c").as("cprev")), Seq("prev"))
      .join(n1, Seq("prev"))
      .join(nc, Seq("cur"))
      .crossJoin(broadcast(bt))
      .select(col("doc_id"),
        round(-log(
          (col("cb").cast("double") - lit(discount)) / col("cprev").cast("double")
            + lit(discount) / col("cprev").cast("double") *
              col("n1p").cast("double") *
              (col("ncont").cast("double") / col("btypes").cast("double"))) * 1e6)
          .cast("long").as("fp"))
    firstFp.unionByName(pairFp)
      .groupBy("doc_id")
      .agg(sum(col("fp")).as("fp"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("fp").cast("double") / (col("n_tokens").cast("double") * 1e6))
          .as("mean_nll"))
  }

  // ---- Sequence packing ---------------------------------------------------

  /** Deterministic token-budget packing: within each shard (e.g. a
    * language), order docs by id, accumulate token counts, and assign
    * bin = ⌊(cumsum − n_tokens) / seqLen⌋ — contiguous ~seqLen-token
    * groups ready for training-batch assembly. Sharding is the scale
    * lever: packing is a running sum, so it parallelizes across shards
    * and is one keyed window (one shuffle) within them — a GLOBAL
    * running sum would serialize on a single partition, which is why the
    * shard columns are required, not optional. */
  def packSequences(df: DataFrame, tokenCol: String, idCol: String,
                    seqLen: Int, shardCols: Seq[String]): DataFrame = {
    require(shardCols.nonEmpty, "packing shards are required (global packing serializes)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCols.map(col): _*).orderBy(col(idCol))
    df.select((shardCols.map(col) :+ col(idCol) :+ col(tokenCol).as("n_tokens")): _*)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("bin", floor((col("cum_tokens") - col("n_tokens")) / seqLen))
  }

  /** Gopher/C4-style quality RULE filter (Rae et al. 2021 §A1.1 family):
    * hard per-document bounds, each exposed as its own boolean so a
    * pipeline can report WHY a doc dropped (the standard corpus-cleaning
    * report shape), plus the conjunction as `keep`. Rules: word count in
    * [minWords, maxWords]; mean word length in [minMeanWordLen,
    * maxMeanWordLen]; unique-token ratio ≥ minUniqueRatio (mass-repeated
    * text). Pure per-row column arithmetic — no shuffle, no UDF; a
    * corpus-scale clean is one codegen'd scan. Complements
    * [[qualityScore]] (soft blend) — cleaners usually apply BOTH: rules
    * first, score threshold second. */
  def qualityRules(df: DataFrame, textCol: String, idCol: String,
                   minWords: Int = 50, maxWords: Int = 100000,
                   minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                   minUniqueRatio: Double = 0.3): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(col(idCol),
        size(toks).cast("long").as("n_words"),
        avgTokenLen(toks).as("mean_word_len"),
        uniqueTokenRatio(toks).as("unique_ratio"))
      .withColumn("pass_length",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_word_len",
        col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen)
      .withColumn("pass_diversity", col("unique_ratio") >= minUniqueRatio)
      .withColumn("keep",
        col("pass_length") && col("pass_word_len") && col("pass_diversity"))
  }

  /** Context-window chunking: split each document's token stream into
    * chunks of `chunkSize` tokens starting every `stride` tokens
    * (stride < chunkSize ⇒ overlapping windows, the standard pretraining
    * chunker shape). Returns `(doc_id, chunk_id, start_tok, n_tok,
    * chunk_text)` — one row per chunk, `chunk_id` dense per doc. The
    * whole operator is `sequence` + `posexplode` + `slice` — native
    * codegen expressions, no lambda HOFs, no shuffle: chunking 100 TB is
    * a single scan whose output feeds [[packSequences]] / the embedding
    * stage directly. Short documents yield one (short) chunk. */
  def chunkTokens(df: DataFrame, textCol: String, idCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "start_tok")))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(chunkSize), size(col("toks")) - col("start_tok"))
          .cast("long").as("n_tok"),
        concat_ws(" ", slice(col("toks"), col("start_tok") + 1, lit(chunkSize)))
          .as("chunk_text"))
  }

  /** Segment-level exact dedup — the scalable relational stand-in for
    * paragraph / exact-substring dedup (the corpus has no newline
    * structure, so the segment unit is a NON-overlapping `segTokens`-token
    * window; swap the splitter for `\n` paragraphs on prose corpora).
    * Every non-first copy (first = lowest `(doc_id, start)` corpus-wide)
    * of a duplicated full-length segment is removed and the survivors are
    * re-joined in order. The sub-`segTokens` tail is never dedup
    * material — it is always kept.
    *
    * Scale shape: segment BODIES never shuffle through the dedup core.
    * The scan hashes each segment to 8 bytes (`xxhash64`; a collision
    * needs ~2³² segments — the same exact-dedup contract as
    * [[Dedup.exactDedup]]); winners are a map-side-combined
    * min-aggregation over `(hash, doc, start)`; the probe joins the
    * skinny frame back on the hash; only `(doc_id, removed-starts)` int
    * lists flow to the rebuild, which re-slices the original text in one
    * projection. The rebuild join is the pipeline's ONE place document
    * text can move: broadcast when the removal lists fit (AQE), else a
    * single body shuffle on doc_id — vs bodies through every stage in
    * the naive shape. PlanSpec pins the core-shuffles-are-skinny
    * property. Returns `(doc_id, n_segments, n_removed, text_dedup)`;
    * `text_dedup` is whitespace-normalized (single spaces), as is
    * inherent to token-joined reassembly. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segTokens: Int = 8): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    def starts = sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
      lit(segTokens))
    val segs = base
      .select(col("doc_id"), col("toks"), explode(starts).as("start"))
      .where(size(col("toks")) - col("start") >= segTokens)
      .select(col("doc_id"), col("start"),
        xxhash64(concat_ws(" ",
          slice(col("toks"), col("start") + 1, lit(segTokens)))).as("h"))
    val winners = segs.groupBy("h")
      .agg(min(struct(col("doc_id"), col("start"))).as("w"),
        count(lit(1)).as("c"))
      .where(col("c") > 1)
    val removed = segs.join(winners, "h")
      .where(struct(col("doc_id"), col("start")) =!= col("w"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("start"))).as("rem"))
    val rem = coalesce(col("rem"), typedlit(Array.empty[Int]))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(starts).cast("long").as("n_segments"),
        size(rem).cast("long").as("n_removed"),
        concat_ws(" ", flatten(transform(
          filter(starts, s => !array_contains(rem, s)),
          s => slice(col("toks"), s + 1, lit(segTokens))))).as("text_dedup"))
  }

  /** Content-defined segments of a token stream: a segment boundary
    * falls AFTER every token whose portable hash ≡ 0 (mod `divisor`), so
    * boundaries depend only on local content — the backup-dedup /
    * shift-robust-chunking trick. Unlike [[segmentDedup]]'s fixed
    * windows, a shared passage produces IDENTICAL segments no matter
    * what offset it sits at in each document. Mean segment length ≈
    * `divisor` tokens. Pure per-row work (no explode, no shuffle), as
    * the codegen `graft_cdc_segments` kernel — one tight loop hashing
    * token bytes directly. The r13 Column spelling (tag boundary tokens
    * with a U+0001 sentinel via a `transform` lambda, split the joined
    * stream on the sentinel, filter empties) evaluated an interpreted
    * md5-hex → substring → decimal-conv → pmod → concat tree per TOKEN
    * plus a full-stream regex split — the kernel is semantics-identical
    * to it element for element (see
    * [[org.apache.spark.sql.graft.CdcSegUtil]]'s equivalence note).
    * Documents never contain U+0001 (it is a C0 control; scrub upstream
    * if yours do). */
  def cdcSegments(toks: Column, divisor: Int): Column = {
    call_function(org.apache.spark.sql.graft.GraftFunctions.CdcSegmentsName,
      toks, lit(divisor))
  }

  /** Content-defined-chunking exact dedup — [[segmentDedup]] with
    * shift-robust boundaries: remove every non-first copy (corpus-wide,
    * first = lowest `(doc_id, seg_idx)`) of a duplicated content-defined
    * segment and re-join the survivors. Catches copied passages at ANY
    * offset (a fixed-window segmenter only catches window-aligned
    * copies). Same scale shape as [[segmentDedup]]: the dedup core
    * shuffles 8-byte hashes and int index lists, never text; the rebuild
    * join is the one place bodies can move. Returns
    * `(doc_id, n_segments, n_removed, text_dedup)` (whitespace-
    * normalized). */
  def cdcDedup(df: DataFrame, textCol: String, idCol: String,
               divisor: Int = 8): DataFrame = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    def segs = cdcSegments(col("toks"), divisor)
    val inst = base
      .select(col("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx"), xxhash64(col("seg")).as("h"))
    val winners = inst.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("w"),
        count(lit(1)).as("c"))
      .where(col("c") > 1)
    val removed = inst.join(winners, "h")
      .where(struct(col("doc_id"), col("seg_idx")) =!= col("w"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("seg_idx"))).as("rem"))
    val rem = coalesce(col("rem"), typedlit(Array.empty[Int]))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(segs).cast("long").as("n_segments"),
        size(rem).cast("long").as("n_removed"),
        concat_ws(" ", filter(segs,
          (s, i) => !array_contains(rem, i))).as("text_dedup"))
  }

  /** Exact substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", ExactSubstr): find every
    * duplicated substring of ≥ `minTokens` tokens ANYWHERE in the corpus
    * and cut the span out of each duplicate occurrence, keeping the rest
    * of the document — the real duplicate-SPAN remover that
    * [[segmentDedup]] (k-aligned windows) and [[cdcDedup]] (chunk
    * granularity) approximate.
    *
    * Semantics (position-window formulation — the map-reduce-friendly
    * equivalent of the paper's suffix-array scan): every overlapping
    * `minTokens`-token window of every doc is hashed; a window whose
    * hash occurs at >1 (doc, pos) corpus-wide is duplicated; the
    * corpus-FIRST occurrence (min (doc_id, pos)) of each distinct window
    * is kept, every other occurrence marks its `minTokens` token
    * positions for removal. A maximal duplicated run of M ≥ minTokens
    * tokens is covered by its M−minTokens+1 consecutive windows, so the
    * marked set is exactly the run — at ANY offset, k-aligned or not,
    * partially overlapping other runs or not. Marked positions merge
    * into disjoint intervals and the kept gaps re-join in order.
    * Keep-first means the first crawl of a passage survives intact;
    * every later copy loses the passage but keeps its unique remainder
    * (use [[lineDedup]] semantics — remove ALL copies — for boilerplate
    * where even the first copy is unwanted).
    *
    * Hash contract: window hash = `xxhash64(concat_ws(" ", window))`
    * via the codegen `graft_window_hashes` kernel (one tight loop per
    * row); cross-window collisions are the accepted ~2⁻⁶⁴ class of
    * [[Dedup.exactDedup]].
    *
    * Scale shape: window BODIES never move — the kernel emits 8-byte
    * hash arrays, the posexplode ships skinny `(doc_id, pos, h)` rows,
    * the winner election is a map-side-combined min-struct agg on h,
    * and the removed-occurrence join carries ints. The interval merge
    * is ONE keyed window pass (partition doc_id) whose two downstream
    * aggregates reuse the same partitioning (subset-key rule — no extra
    * exchange). The corpus is read twice — the seed pass and the
    * rebuild pass — which is inherent to ExactSubstr (the suffix-array
    * original is also two-phase); each pass moves the token arrays
    * through one doc_id exchange, and the dedup CORE between them
    * shuffles only hashes and int positions, duplicate-proportional,
    * not corpus-proportional. Returns `(doc_id, n_tokens,
    * n_removed_tokens, text_dedup)` for every input doc (text_dedup
    * whitespace-normalized, empty when everything was duplicated). */
  def substringDedup(df: DataFrame, textCol: String, idCol: String,
                     minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2,
      s"minTokens must be >= 2 (1 would dedup the vocabulary), got $minTokens")
    val L = minTokens
    // spread single-file scans AND pre-partition on doc_id in the same
    // exchange: the rebuild join below reuses this partitioning, so the
    // token arrays move through exactly ONE shuffle end to end
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    val occ = base.select(col("doc_id"),
        posexplode(call_function(
          org.apache.spark.sql.graft.GraftFunctions.WindowHashesName,
          col("toks"), lit(L))).as(Seq("pos", "h")))
    // duplicated windows and their corpus-first keeper
    val dups = occ.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"), count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select(col("h"), col("w"))
    val removedWins = occ.join(dups, "h")
      .where(struct(col("doc_id"), col("pos")) =!= col("w"))
      .select(col("doc_id"), col("pos"))
    // merge overlapping/adjacent [pos, pos+L) windows into disjoint
    // intervals: a new interval starts when this window clears the
    // previous one's coverage (equal lengths, so end order = start order)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val ivs = removedWins
      .withColumn("_new",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(byDoc) + L,
          lit(Long.MinValue)), lit(1)).otherwise(lit(0)))
      .withColumn("_iv", sum(col("_new")).over(
        Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "_iv")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + L).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        sum(col("e") - col("s")).as("n_removed"))
    // rebuild from the KEPT gaps between intervals — O(n_tok) slicing,
    // never a per-token membership scan against a marked set
    val n = size(col("toks"))
    val nIv = size(col("ivs"))
    val pieces = transform(sequence(lit(0), nIv), i => {
      val from = when(i === 0, lit(0))
        .otherwise(element_at(col("ivs"), i).getField("e"))
      val until = when(i === nIv, n.cast("long"))
        .otherwise(element_at(col("ivs"), i + 1).getField("s"))
      concat_ws(" ", slice(col("toks"), from.cast("int") + 1,
        greatest(until - from, lit(0L)).cast("int")))
    })
    base.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed_tokens"),
        when(col("ivs").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ", filter(pieces, p => p =!= "")))
          .as("text_dedup"))
  }

  /** Duplicated-n-gram rate per document — the SCORING companion of
    * [[substringDedup]] (which removes): the fraction of a doc's
    * n-token windows whose hash occurs more than once in the corpus
    * (cross-doc boilerplate AND within-doc repetition both count — the
    * memorization-risk signal; Lee et al. 2022 report it as the
    * train-on-duplicates diagnostic). Same `graft_window_hashes`
    * contract as substringDedup: window bodies never materialize or
    * shuffle; accepted ~2⁻⁶⁴ collision class.
    *
    * `dup_rate = n_dup_windows / n_windows` — an exact integer ratio in
    * one division (engine-reproducible, no rounding needed); docs
    * shorter than n tokens have no windows and report null.
    *
    * Scale shape: skinny (doc_id, h) rows → map-side-combined df agg on
    * 8-byte hash keys → hash-keyed membership join back → per-doc agg.
    * Corpus text moves zero times past tokenization. */
  def dupNgramRate(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 8): DataFrame = {
    require(n >= 2, s"n must be >= 2 (1 would score the vocabulary), got $n")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val occ = base.select(col("doc_id"),
      explode(call_function(
        org.apache.spark.sql.graft.GraftFunctions.WindowHashesName,
        col("toks"), lit(n))).as("h"))
    val dfreq = occ.groupBy("h").agg(count(lit(1)).as("_c"))
    val perDoc = occ.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_c") > 1L, 1L).otherwise(0L)).as("n_dup"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_windows").isNotNull,
          col("n_dup").cast("double") / col("n_windows").cast("double"))
          .as("dup_rate"))
  }

  /** N-gram novelty of the held-out split against the training split —
    * the corpus-level generalization-gap probe beside the span-mining
    * decontaminator: split documents with [[split3]] (the q_hash_split
    * convention), collect the TRAIN side's distinct n-gram set, and
    * score each TEST document by the fraction of its n-gram windows
    * never seen in training. A near-zero novelty rate means the eval
    * slice is effectively memorizable from train (leakage or heavy
    * duplication); a rate near 1 means distribution shift. Occurrence-
    * weighted (every window counts, not distinct-per-doc) — a doc that
    * repeats one stale n-gram 100 times IS stale.
    *
    * Determinism: windows hash through the codegen rolling-hash kernel
    * (`graft_window_hashes`, the [[dupNgramRate]] path) — the oracle
    * replays textual windows; agreement is exact absent 64-bit
    * collisions (none in the corpus, the standing shingle contract).
    *
    * Scale shape: doc bodies never shuffle — only 8-byte window hashes
    * move; the train set is `distinct` on those hashes and the probe
    * is one hash-keyed left join. At contamination scale, pre-screen
    * with the Bloom path ([[Dedup.contaminationBloomFlags]]' broadcast
    * filter) so the clean majority never joins. */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 8): DataFrame = {
    require(n >= 2, s"n must be >= 2 (1 would score the vocabulary), got $n")
    val base = df.select(col(idCol).as("doc_id"),
      split3(col(idCol)).as("split"), tokens(col(textCol)).as("toks"))
    val occ = base.select(col("doc_id"), col("split"),
      explode(call_function(
        org.apache.spark.sql.graft.GraftFunctions.WindowHashesName,
        col("toks"), lit(n))).as("h"))
    val trainSet = occ.where(col("split") === "train")
      .select(col("h")).distinct().withColumn("_seen", lit(1))
    val perDoc = occ.where(col("split") === "test")
      .join(trainSet, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_seen").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
    base.where(col("split") === "test").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_windows").isNotNull,
          col("n_novel").cast("double") / col("n_windows").cast("double"))
          .as("novelty_rate"))
  }

  /** Corpus unigram-LM scoring — the relational proxy for the
    * CCNet/KenLM perplexity quality filter: pass 1 builds the unigram
    * model (token → count / total) over the WHOLE corpus, pass 2 scores
    * each document by its mean negative log-likelihood under that model.
    * Low `mean_nll` ≈ stereotyped/common text, high ≈ rare-token soup —
    * the standard bucket-then-filter signal.
    *
    * Determinism at any partitioning: per-token −ln p is quantized to
    * fixed-point BIGINT (µnats) in the vocabulary, and per-doc scores SUM
    * INTEGERS — associative, so the result is bit-identical regardless of
    * partition/arrival order (a raw double sum is not), and the oracle
    * reproduces it exactly. libm-vs-JVM `log` 1-ulp drift would need to
    * land within ~1e-9 of a quantization boundary to flip a value.
    *
    * Scale shape: the vocabulary aggregation map-side-combines (Zipf
    * head collapses locally). The score join is the classic hot-key
    * case — "the" joins everywhere — so the `headTokens` most frequent
    * tokens are broadcast and joined map-side; only the hot-key-free
    * tail shuffles. Returns `(doc_id, n_tokens, mean_nll)`. */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String,
                     headTokens: Int = 1024): DataFrame = {
    require(headTokens >= 0, s"headTokens must be >= 0, got $headTokens")
    val tok = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = tok.groupBy().agg(count(lit(1)).as("total"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("tok"), col("c"),
        round(-log(col("c").cast("double") / col("total")) * 1e6)
          .cast("long").as("nll_fp"))
    // Zipf-head broadcast: the headTokens hottest tokens resolve map-side.
    // The election is ONE driver collect (≤ headTokens rows, like the
    // semanticDedup centroid read) reused as a local relation by all
    // three consumers below — as lazy subtrees each broadcast would
    // re-run the vocabulary aggregation + TakeOrdered independently.
    val spark = df.sparkSession
    import spark.implicits._
    val headRows: Seq[(String, Long)] = scored
      .orderBy(col("c").desc, col("tok")).limit(headTokens)
      .select(col("tok"), col("nll_fp")).collect().toIndexedSeq
      .map(r => (r.getString(0), r.getLong(1)))
    val head = headRows.toDF("tok", "nll_fp")
    val tail = scored.join(broadcast(head.select("tok")), Seq("tok"), "left_anti")
      .select(col("tok"), col("nll_fp"))
    val viaHead = tok.join(broadcast(head), Seq("tok"))
    val viaTail = tok
      .join(broadcast(head.select(col("tok"), lit(1).as("_hit"))), Seq("tok"), "left")
      .where(col("_hit").isNull)
      .join(tail, Seq("tok"))
    viaHead.unionByName(viaTail.select("tok", "doc_id", "nll_fp"))
      .groupBy("doc_id")
      .agg(sum(col("nll_fp")).as("fp"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("fp").cast("double") / (col("n_tokens").cast("double") * 1e6))
          .as("mean_nll"))
  }
}
