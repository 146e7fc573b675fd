package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Codegen'd dot product of two numeric arrays (`array<float>` or
  * `array<double>`), the hot kernel of every embedding-similarity path
  * (cosine near-dup, ANN brute/LSH — reference embeddings semantics:
  * `adi/app/ingestion_service/ml_utils.py:71-101` normalize+compare).
  *
  * Why an expression and not `zip_with`+`aggregate`: Spark's higher-order
  * functions are interpreted (no `doGenCode`), so a per-pair fold costs an
  * allocation + virtual calls per element and drops the whole projection
  * out of whole-stage codegen — measured 100×-class slowdowns on pair
  * joins in round 1. This expression compiles to a tight scalar loop
  * inside the generated code.
  *
  * Semantics (chosen to match the prior fold exactly, and the DuckDB
  * oracle): elements are cast to double before multiply; summation is in
  * index order (left fold); mismatched lengths or any null element yield
  * null. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def elemGetter(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "getFloat"
    case _ => "getDouble"
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val aFloat = elemGetter(left.dataType) == "getFloat"
    val bFloat = elemGetter(right.dataType) == "getFloat"
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val lGet = elemGetter(left.dataType)
      val rGet = elemGetter(right.dataType)
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** All `tables` LSH signatures of a vector in ONE tight loop:
  * sig[t] = Σ_p (Σ_d v[d]·w[t,p,d] > 0) << p, weights passed as a flat
  * foldable literal `array<double>` in (t, p, d) order.
  *
  * Why one expression instead of planes×tables [[DotProduct]] calls: 64
  * sibling dot products in a projection blow the generated method past
  * Janino's limits, so Spark silently falls back to interpreted eval —
  * measured 2.4 s for 2,000 rows at sf0.1 (the whole computation is ~8M
  * flops, i.e. milliseconds when compiled). This form generates three
  * small nested loops over one reference-object weight array. Summation
  * per (t, p) is in dim order — the same strict left fold as DotProduct,
  * so buckets stay bit-reproducible by the DuckDB oracle. */
case class LshSignatures(vec: Expression, weightsExpr: Expression,
                         planesExpr: Expression, tablesExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(vec, weightsExpr, planesExpr, tablesExpr)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_sigs"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val wOk = weightsExpr.foldable && (weightsExpr.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    val pOk = planesExpr.foldable && planesExpr.dataType == IntegerType
    val tOk = tablesExpr.foldable && tablesExpr.dataType == IntegerType
    if (vecOk && wOk && pOk && tOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, foldable array<double>, foldable int, foldable int)")
  }

  @transient private lazy val planes: Int = planesExpr.eval().asInstanceOf[Int]
  @transient private lazy val tables: Int = tablesExpr.eval().asInstanceOf[Int]
  @transient private lazy val flatWeights: Array[Double] =
    weightsExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val dims: Int = {
    require(planes > 0 && planes <= 63 && tables > 0, s"bad planes=$planes tables=$tables")
    require(flatWeights.length % (planes * tables) == 0,
      s"weights length ${flatWeights.length} not divisible by planes*tables")
    flatWeights.length / (planes * tables)
  }

  /** Fail fast on a ragged vector: a null would silently drop the row
    * from every LSH path (index, candidates, pair output) — silent data
    * loss, strictly worse than an error naming the defect. */
  private def badDim(actual: Int): Nothing =
    throw new IllegalArgumentException(
      s"graft_lsh_sigs: vector of dimension $actual in a corpus indexed at " +
        s"dimension $dims — LSH requires a uniform embedding dimension")
  /** Codegen entry point for the same fail-fast (called from generated code). */
  def badDimPublic(actual: Int): Unit = badDim(actual)

  private def compute(v: ArrayData): Any = {
    if (v.numElements() != dims) badDim(v.numElements())
    var d = 0
    while (d < dims) { if (v.isNullAt(d)) return null; d += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var p = 0
      while (p < planes) {
        var s = 0.0
        val base = (t * planes + p) * dims
        var i = 0
        while (i < dims) { s += v.getDouble(i) * flatWeights(base + i); i += 1 }
        if (s > 0) sig |= 1L << p
        p += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null else compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("lshWeights", flatWeights, "double[]")
    val self = ctx.addReferenceObj("lshSigsExpr", this,
      "org.apache.spark.sql.graft.LshSignatures")
    val vEval = vec.genCode(ctx)
    val (dN, pN, tN) = (dims, planes, tables)
    val v = ctx.freshName("v")
    val out = ctx.freshName("out")
    val bad = ctx.freshName("bad")
    val sig = ctx.freshName("sig")
    val s = ctx.freshName("s")
    val base = ctx.freshName("base")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
         |${vEval.code}
         |boolean ${ev.isNull} = ${vEval.isNull};
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $v = ${vEval.value};
         |  if ($v.numElements() != $dN) { $self.badDimPublic($v.numElements()); }
         |  else {
         |    boolean $bad = false;
         |    for (int d = 0; d < $dN; d++) if ($v.isNullAt(d)) { $bad = true; break; }
         |    if ($bad) { ${ev.isNull} = true; }
         |    else {
         |      long[] $out = new long[$tN];
         |      for (int t = 0; t < $tN; t++) {
         |        long $sig = 0L;
         |        for (int p = 0; p < $pN; p++) {
         |          double $s = 0.0;
         |          int $base = (t * $pN + p) * $dN;
         |          for (int d = 0; d < $dN; d++) $s += $v.getDouble(d) * $w[$base + d];
         |          if ($s > 0) $sig |= 1L << p;
         |        }
         |        $out[t] = $sig;
         |      }
         |      ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |    }
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LshSignatures =
    copy(vec = newChildren(0), weightsExpr = newChildren(1),
      planesExpr = newChildren(2), tablesExpr = newChildren(3))
}

/** Argmax-cosine centroid assignment in ONE tight loop: index of the
  * centroid (flat `array<double>` literal, k·dims in centroid-major
  * order) with the highest cosine to the row vector, ties → lowest
  * index.
  *
  * Why one expression and not k sibling [[DotProduct]]s + `array_max` +
  * `array_position`: exactly the [[LshSignatures]] lesson — ~64 sibling
  * dot products blow the generated method past Janino's limits and the
  * projection silently drops to interpreted eval. Semantic dedup wants
  * k to GROW with the corpus (keep cluster size ≈ repCap), so
  * assignment must stay compiled at k in the hundreds-plus.
  *
  * Arithmetic is oracle-reproducible: each dot and each norm is the
  * strict dim-order left fold (centroid norms are precomputed once with
  * the same fold), cosine = dot/(normV·normC). A zero denominator folds
  * to NaN, which never wins a `>` compare, so an all-degenerate row
  * lands in centroid 0 — matching a SQL `ORDER BY cos DESC NULLS LAST,
  * cid` tie-break. Mismatched dimension fails fast (silent misassignment
  * would poison the dedup); a null vector or element yields null. */
case class NearestCentroid(vec: Expression, centroidsExpr: Expression,
                           kExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(vec, centroidsExpr, kExpr)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cOk = centroidsExpr.foldable && (centroidsExpr.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (vecOk && cOk && kExpr.foldable && kExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, foldable array<double>, foldable int)")
  }

  @transient private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  @transient private lazy val flatCents: Array[Double] =
    centroidsExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val dims: Int = {
    require(k > 0, s"k must be positive, got $k")
    require(flatCents.length % k == 0,
      s"centroid array length ${flatCents.length} not divisible by k=$k")
    flatCents.length / k
  }
  /** Per-centroid norms, same strict dim-order fold the oracle computes. */
  @transient lazy val centNorms: Array[Double] = {
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      var d = 0
      while (d < dims) { val x = flatCents(c * dims + d); s += x * x; d += 1 }
      out(c) = math.sqrt(s)
      c += 1
    }
    out
  }

  private def badDim(actual: Int): Nothing =
    throw new IllegalArgumentException(
      s"$prettyName: vector of dimension $actual against centroids of " +
        s"dimension $dims — assignment requires a uniform embedding dimension")
  def badDimPublic(actual: Int): Unit = badDim(actual)

  private def compute(v: ArrayData): Any = {
    if (v.numElements() != dims) badDim(v.numElements())
    var d = 0
    while (d < dims) { if (v.isNullAt(d)) return null; d += 1 }
    var nv = 0.0
    d = 0
    while (d < dims) { val x = v.getDouble(d); nv += x * x; d += 1 }
    val normV = math.sqrt(nv)
    var best = Double.NegativeInfinity
    var bestI = 0
    var c = 0
    while (c < k) {
      var dot = 0.0
      val base = c * dims
      var i = 0
      while (i < dims) { dot += v.getDouble(i) * flatCents(base + i); i += 1 }
      val cos = dot / (normV * centNorms(c)) // 0-denominator → NaN, never wins
      if (cos > best) { best = cos; bestI = c }
      c += 1
    }
    bestI
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null else compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("centroids", flatCents, "double[]")
    val norms = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    val self = ctx.addReferenceObj("nearestCentroidExpr", this,
      "org.apache.spark.sql.graft.NearestCentroid")
    val vEval = vec.genCode(ctx)
    val (dN, kN) = (dims, k)
    val v = ctx.freshName("v")
    val bad = ctx.freshName("bad")
    val nv = ctx.freshName("nv")
    val normV = ctx.freshName("normV")
    val best = ctx.freshName("best")
    val bestI = ctx.freshName("bestI")
    val dot = ctx.freshName("dot")
    val cos = ctx.freshName("cos")
    val base = ctx.freshName("base")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
         |${vEval.code}
         |boolean ${ev.isNull} = ${vEval.isNull};
         |int ${ev.value} = 0;
         |if (!${ev.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $v = ${vEval.value};
         |  if ($v.numElements() != $dN) { $self.badDimPublic($v.numElements()); }
         |  else {
         |    boolean $bad = false;
         |    for (int d = 0; d < $dN; d++) if ($v.isNullAt(d)) { $bad = true; break; }
         |    if ($bad) { ${ev.isNull} = true; }
         |    else {
         |      double $nv = 0.0;
         |      for (int d = 0; d < $dN; d++) { double x = $v.getDouble(d); $nv += x * x; }
         |      double $normV = Math.sqrt($nv);
         |      double $best = Double.NEGATIVE_INFINITY;
         |      int $bestI = 0;
         |      for (int c = 0; c < $kN; c++) {
         |        double $dot = 0.0;
         |        int $base = c * $dN;
         |        for (int d = 0; d < $dN; d++) $dot += $v.getDouble(d) * $w[$base + d];
         |        double $cos = $dot / ($normV * $norms[c]);
         |        if ($cos > $best) { $best = $cos; $bestI = c; }
         |      }
         |      ${ev.value} = $bestI;
         |    }
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroid =
    copy(vec = newChildren(0), centroidsExpr = newChildren(1),
      kExpr = newChildren(2))
}

/** Row-granularity shingle kernel shared by eval and codegen. */
object ShingleUtil {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Distinct order-preserving word n-grams; whole-doc fallback below n
    * tokens. Semantics mirror
    * `array_distinct(transform(sequence, i -> concat_ws(" ", slice(toks,
    * i+1, n))))` exactly (concat_ws skips null tokens; first-occurrence
    * order), but run as one tight JVM loop per ROW instead of an
    * interpreted expression tree per ELEMENT — the HOF form measured
    * ~3 s for 5,000 docs at sf0.1; this is ~10×. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = toks.numElements()
    def tok(i: Int): UTF8String =
      if (toks.isNullAt(i)) null else toks.getUTF8String(i)
    if (m < n) {
      val parts = new Array[UTF8String](m)
      var i = 0
      while (i < m) { parts(i) = tok(i); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.concatWs(Space, parts: _*)))
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i + n <= m) {
        var j = 0
        while (j < n) { parts(j) = tok(i + j); j += 1 }
        seen.add(UTF8String.concatWs(Space, parts: _*))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        seen.toArray.asInstanceOf[Array[AnyRef]])
    }
  }
}

/** Distinct word n-gram shingles of a token array — see [[ShingleUtil]].
  * The generated code is a single static call, so the projection stays
  * inside whole-stage codegen. */
case class Shingles(toks: Expression, nExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = toks
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = {
    val tOk = toks.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    if (tOk && nExpr.foldable && nExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, foldable int)")
  }

  @transient private lazy val n: Int = {
    val v = nExpr.eval().asInstanceOf[Int]
    require(v >= 1, s"shingle size must be >= 1, got $v")
    v
  }

  override def nullSafeEval(t: Any, ignored: Any): Any =
    ShingleUtil.shingles(t.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) => {
      s"${ev.value} = org.apache.spark.sql.graft.ShingleUtil.shingles($arr, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Shingles =
    copy(toks = newLeft, nExpr = newRight)
}

/** Positional window-hash kernel shared by eval and codegen — the seed
  * generator of exact-substring dedup (Lee et al. 2022): for every
  * overlapping n-token window of a token array, the xxhash64 (seed 42,
  * Spark's `xxhash64` built-in) of the space-joined window string.
  * `out(i) == xxhash64(concat_ws(" ", slice(toks, i+1, n)))` exactly
  * (concatWs skips null tokens, matching [[ShingleUtil.shingles]]).
  * Unlike [[ShingleUtil.shingles]] this keeps EVERY position (no
  * distinct, no short-doc fallback — a doc below n tokens yields an
  * EMPTY array: nothing that short is substring-dedup material), and
  * emits 8-byte hashes instead of window strings, so the downstream
  * posexplode carries `(pos, long)` rows rather than L-token text. */
object WindowHashUtil {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def windowHashes(toks: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val m = toks.numElements()
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i + n <= m) {
      var j = 0
      while (j < n) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.concatWs(Space, parts: _*),
        org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-position n-token window hashes of a token array — see
  * [[WindowHashUtil]]. One static call in generated code, so the
  * projection stays inside whole-stage codegen (the HOF spelling —
  * `transform(sequence, i -> xxhash64(concat_ws(slice)))` — drops to
  * interpreted per-element evaluation, the measured ~10× penalty that
  * motivated [[Shingles]]). */
case class WindowHashes(toks: Expression, nExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = toks
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_window_hashes"

  override def checkInputDataTypes(): TypeCheckResult = {
    val tOk = toks.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    if (tOk && nExpr.foldable && nExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, foldable int)")
  }

  @transient private lazy val n: Int = {
    val v = nExpr.eval().asInstanceOf[Int]
    require(v >= 1, s"window size must be >= 1, got $v")
    v
  }

  override def nullSafeEval(t: Any, ignored: Any): Any =
    WindowHashUtil.windowHashes(t.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, _) => {
      s"${ev.value} = org.apache.spark.sql.graft.WindowHashUtil.windowHashes($arr, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowHashes =
    copy(toks = newLeft, nExpr = newRight)
}

/** Product-quantization code assignment (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search"): splits an `array<double>`
  * vector into `m` contiguous subspaces and returns the `array<int>` of
  * per-subspace ARGMIN-L2 codebook codes (lowest code wins ties — fully
  * deterministic). The flat codebook (`m · ksub · dsub` doubles, laid out
  * subspace-major) must be foldable: it is embedded in the generated code
  * once, so encoding is a pure per-row projection — the whole corpus PQ-
  * encodes with zero shuffle.
  *
  * One expression computes ALL m codes per row: m sibling expressions
  * would re-scan the vector m times and bloat Janino past the JIT
  * threshold at realistic m.
  *
  * The optional per-ROW `offset` array is subtracted element-wise before
  * assignment — the IVF-PQ residual (encode `v − centroid[cell]`, the
  * FAISS IVFPQ layout): residuals have lower variance than raw vectors,
  * so the same codebook budget quantizes them more accurately. A null
  * offset (or any null offset element) yields null codes, like a null
  * vector. */
case class PqAssignCodes(vec: Expression, codebookExpr: Expression,
                         mExpr: Expression, ksubExpr: Expression,
                         offset: Option[Expression] = None)
    extends Expression {

  override def children: Seq[Expression] =
    Seq(vec, codebookExpr, mExpr, ksubExpr) ++ offset
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = {
    def arrOk(e: Expression): Boolean = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cOk = codebookExpr.foldable && arrOk(codebookExpr)
    if (arrOk(vec) && cOk && mExpr.foldable && mExpr.dataType == IntegerType &&
        ksubExpr.foldable && ksubExpr.dataType == IntegerType &&
        offset.forall(arrOk))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, foldable array<double>, foldable int, foldable int[, array<double> offset])")
  }

  @transient private lazy val m: Int = mExpr.eval().asInstanceOf[Int]
  @transient private lazy val ksub: Int = ksubExpr.eval().asInstanceOf[Int]
  @transient lazy val flatBook: Array[Double] =
    codebookExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient lazy val dsub: Int = {
    require(m > 0 && ksub > 0, s"need m > 0 and ksub > 0, got m=$m ksub=$ksub")
    require(flatBook.length % (m * ksub) == 0,
      s"codebook length ${flatBook.length} not divisible by m·ksub=${m * ksub}")
    flatBook.length / (m * ksub)
  }

  private def badDim(actual: Int): Nothing =
    throw new IllegalArgumentException(
      s"$prettyName: vector of dimension $actual against an m=$m × dsub=$dsub codebook")
  def badDimPublic(actual: Int): Unit = badDim(actual)

  private def compute(v: ArrayData, off: ArrayData): Any = {
    if (v.numElements() != m * dsub) badDim(v.numElements())
    if (off != null && off.numElements() != m * dsub) badDim(off.numElements())
    var d = 0
    while (d < m * dsub) {
      if (v.isNullAt(d) || (off != null && off.isNullAt(d))) return null
      d += 1
    }
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < ksub) {
        var dist = 0.0
        val base = (s * ksub + c) * dsub
        var i = 0
        while (i < dsub) {
          val x = if (off == null) v.getDouble(s * dsub + i)
            else v.getDouble(s * dsub + i) - off.getDouble(s * dsub + i)
          val diff = x - flatBook(base + i)
          dist += diff * diff
          i += 1
        }
        if (dist < best) { best = dist; bestC = c }
        c += 1
      }
      codes(s) = bestC
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val off = offset.map(_.eval(input)).orNull
    if (offset.nonEmpty && off == null) return null
    compute(v.asInstanceOf[ArrayData],
      if (off == null) null else off.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val book = ctx.addReferenceObj("pqBook", flatBook, "double[]")
    val self = ctx.addReferenceObj("pqAssignExpr", this,
      "org.apache.spark.sql.graft.PqAssignCodes")
    val vEval = vec.genCode(ctx)
    val oEval = offset.map(_.genCode(ctx))
    val (mN, kN, dN) = (m, ksub, dsub)
    val v = ctx.freshName("v")
    val o = ctx.freshName("off")
    val bad = ctx.freshName("bad")
    val codes = ctx.freshName("codes")
    val best = ctx.freshName("best")
    val bestC = ctx.freshName("bestC")
    val dist = ctx.freshName("dist")
    val diff = ctx.freshName("diff")
    val base = ctx.freshName("base")
    val xv = ctx.freshName("xv")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val offCode = oEval.map(_.code.toString).getOrElse("")
    val offNull = oEval.map(e => s" || ${e.isNull}").getOrElse("")
    val offDecl = oEval.map(e =>
      s"org.apache.spark.sql.catalyst.util.ArrayData $o = ${e.value};").getOrElse("")
    val offDimCheck = oEval.map(_ =>
      s"if ($o.numElements() != ${mN * dN}) { $self.badDimPublic($o.numElements()); }")
      .getOrElse("")
    val offElemNull = oEval.map(_ => s" || $o.isNullAt(d)").getOrElse("")
    val offSub = oEval.map(_ => s" - $o.getDouble(s * $dN + d)").getOrElse("")
    ev.copy(code =
      code"""
         |${vEval.code}
         |$offCode
         |boolean ${ev.isNull} = ${vEval.isNull}$offNull;
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $v = ${vEval.value};
         |  $offDecl
         |  if ($v.numElements() != ${mN * dN}) { $self.badDimPublic($v.numElements()); }
         |  $offDimCheck
         |  boolean $bad = false;
         |  for (int d = 0; d < ${mN * dN}; d++)
         |    if ($v.isNullAt(d)$offElemNull) { $bad = true; break; }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else {
         |    int[] $codes = new int[$mN];
         |    for (int s = 0; s < $mN; s++) {
         |      double $best = Double.POSITIVE_INFINITY;
         |      int $bestC = 0;
         |      for (int c = 0; c < $kN; c++) {
         |        double $dist = 0.0;
         |        int $base = (s * $kN + c) * $dN;
         |        for (int d = 0; d < $dN; d++) {
         |          double $xv = $v.getDouble(s * $dN + d)$offSub;
         |          double $diff = $xv - $book[$base + d];
         |          $dist += $diff * $diff;
         |        }
         |        if ($dist < $best) { $best = $dist; $bestC = c; }
         |      }
         |      $codes[s] = $bestC;
         |    }
         |    ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($codes);
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqAssignCodes =
    copy(vec = newChildren(0), codebookExpr = newChildren(1),
      mExpr = newChildren(2), ksubExpr = newChildren(3),
      offset = if (newChildren.length > 4) Some(newChildren(4)) else None)
}

/** Asymmetric-distance (ADC) lookup for PQ search: given a row's
  * `array<int>` PQ codes and a foldable per-query distance table
  * (`m · ksub` doubles: the exact L2² from the query's subvector to every
  * codebook centroid, computed once on the driver), returns
  * `Σ_s table[s·ksub + codes[s]]` — the PQ approximation of the
  * query-to-row L2². A pure projection over the (tiny) encoded column:
  * the scan reads m ints per row instead of the full vector, which is
  * the entire point of PQ at 100 TB. */
case class PqAdcDistance(codes: Expression, tableExpr: Expression,
                         ksubExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(codes, tableExpr, ksubExpr)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = codes.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val tOk = tableExpr.foldable && (tableExpr.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (codesOk && tOk && ksubExpr.foldable && ksubExpr.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int>, foldable array<double>, foldable int)")
  }

  @transient private lazy val ksub: Int = ksubExpr.eval().asInstanceOf[Int]
  @transient lazy val table: Array[Double] =
    tableExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient lazy val m: Int = {
    require(ksub > 0, s"ksub must be positive, got $ksub")
    require(table.length % ksub == 0,
      s"distance table length ${table.length} not divisible by ksub=$ksub")
    table.length / ksub
  }

  private def badShape(actual: Int): Nothing =
    throw new IllegalArgumentException(
      s"$prettyName: $actual codes against an m=$m table")
  def badShapePublic(actual: Int): Unit = badShape(actual)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = codes.eval(input)
    if (c == null) null
    else {
      val arr = c.asInstanceOf[ArrayData]
      if (arr.numElements() != m) badShape(arr.numElements())
      // null code element → null distance (a nullable codes column read
      // back from parquet must not silently score as centroid 0)
      var s = 0
      while (s < m) { if (arr.isNullAt(s)) return null; s += 1 }
      s = 0
      var sum = 0.0
      while (s < m) {
        val code = arr.getInt(s)
        require(code >= 0 && code < ksub, s"$prettyName: code $code out of [0,$ksub)")
        sum += table(s * ksub + code)
        s += 1
      }
      sum
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("adcTable", table, "double[]")
    val self = ctx.addReferenceObj("pqAdcExpr", this,
      "org.apache.spark.sql.graft.PqAdcDistance")
    val cEval = codes.genCode(ctx)
    val (mN, kN) = (m, ksub)
    val arr = ctx.freshName("arr")
    val sum = ctx.freshName("sum")
    val codeV = ctx.freshName("code")
    val bad = ctx.freshName("bad")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
         |${cEval.code}
         |boolean ${ev.isNull} = ${cEval.isNull};
         |double ${ev.value} = 0.0;
         |if (!${ev.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${cEval.value};
         |  if ($arr.numElements() != $mN) { $self.badShapePublic($arr.numElements()); }
         |  boolean $bad = false;
         |  for (int s = 0; s < $mN; s++) if ($arr.isNullAt(s)) { $bad = true; break; }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else {
         |    double $sum = 0.0;
         |    for (int s = 0; s < $mN; s++) {
         |      int $codeV = $arr.getInt(s);
         |      if ($codeV < 0 || $codeV >= $kN)
         |        throw new IllegalArgumentException("graft_pq_adc: code out of range: " + $codeV);
         |      $sum += $t[s * $kN + $codeV];
         |    }
         |    ${ev.value} = $sum;
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqAdcDistance =
    copy(codes = newChildren(0), tableExpr = newChildren(1),
      ksubExpr = newChildren(2))
}

/** PQ decode: reconstruct the quantized vector from its `array<int>`
  * codes — `recon[s·dsub + d] = book[(s·ksub + codes[s])·dsub + d]`,
  * plus the optional per-row `offset` (the IVF cell centroid for
  * residual indexes). Because the m subspaces partition the dimensions,
  * `‖q − recon‖²` equals the ADC table sum EXACTLY — this is the ADC
  * computation re-expressed per PAIR, for batched multi-query search
  * where a per-query foldable table can't exist. m·dsub flops per pair
  * instead of m lookups: the price of joining queries relationally. */
case class PqDecode(codes: Expression, codebookExpr: Expression,
                    ksubExpr: Expression,
                    offset: Option[Expression] = None)
    extends Expression {

  override def children: Seq[Expression] =
    Seq(codes, codebookExpr, ksubExpr) ++ offset
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_decode"

  override def checkInputDataTypes(): TypeCheckResult = {
    val codesOk = codes.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    def arrOk(e: Expression): Boolean = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (codesOk && codebookExpr.foldable && arrOk(codebookExpr) &&
        ksubExpr.foldable && ksubExpr.dataType == IntegerType &&
        offset.forall(arrOk))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int>, foldable array<double>, foldable int[, array<double> offset])")
  }

  @transient private lazy val ksub: Int = ksubExpr.eval().asInstanceOf[Int]
  @transient lazy val flatBook: Array[Double] =
    codebookExpr.eval().asInstanceOf[ArrayData].toDoubleArray()

  private def badShape(msg: String): Nothing =
    throw new IllegalArgumentException(s"$prettyName: $msg")
  def badShapePublic(msg: String): Unit = badShape(msg)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = codes.eval(input)
    if (c == null) return null
    val off = offset.map(_.eval(input)).orNull
    if (offset.nonEmpty && off == null) return null
    val arr = c.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0 || flatBook.length % (m.toLong * ksub) != 0)
      badShape(s"$m codes against book of ${flatBook.length} (ksub=$ksub)")
    val dsub = flatBook.length / (m * ksub)
    val offArr = if (off == null) null else off.asInstanceOf[ArrayData]
    if (offArr != null && offArr.numElements() != m * dsub)
      badShape(s"offset dim ${offArr.numElements()} != ${m * dsub}")
    val out = new Array[Double](m * dsub)
    var s = 0
    while (s < m) {
      if (arr.isNullAt(s)) return null
      val code = arr.getInt(s)
      if (code < 0 || code >= ksub) badShape(s"code $code out of [0,$ksub)")
      var d = 0
      while (d < dsub) {
        if (offArr != null && offArr.isNullAt(s * dsub + d)) return null
        val o = if (offArr == null) 0.0 else offArr.getDouble(s * dsub + d)
        out(s * dsub + d) = flatBook((s * ksub + code) * dsub + d) + o
        d += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val book = ctx.addReferenceObj("pqBook", flatBook, "double[]")
    val self = ctx.addReferenceObj("pqDecodeExpr", this,
      "org.apache.spark.sql.graft.PqDecode")
    val cEval = codes.genCode(ctx)
    val oEval = offset.map(_.genCode(ctx))
    val kN = ksub
    val bookLen = flatBook.length
    val arr = ctx.freshName("arr")
    val o = ctx.freshName("off")
    val m = ctx.freshName("m")
    val dsub = ctx.freshName("dsub")
    val out = ctx.freshName("out")
    val codeV = ctx.freshName("code")
    val bad = ctx.freshName("bad")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val offCode = oEval.map(_.code.toString).getOrElse("")
    val offNull = oEval.map(e => s" || ${e.isNull}").getOrElse("")
    val offDecl = oEval.map(e =>
      s"org.apache.spark.sql.catalyst.util.ArrayData $o = ${e.value};").getOrElse("")
    val offDimCheck = oEval.map(_ =>
      s"""if ($o.numElements() != $m * $dsub) { $self.badShapePublic("offset dim " + $o.numElements()); }""")
      .getOrElse("")
    val offElemNull = oEval.map(_ => s" || $o.isNullAt(s * $dsub + d)").getOrElse("")
    val offAdd = oEval.map(_ => s" + $o.getDouble(s * $dsub + d)").getOrElse("")
    ev.copy(code =
      code"""
         |${cEval.code}
         |$offCode
         |boolean ${ev.isNull} = ${cEval.isNull}$offNull;
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${cEval.value};
         |  int $m = $arr.numElements();
         |  if ($m == 0 || $bookLen % ($m * $kN) != 0)
         |    { $self.badShapePublic($m + " codes against book of $bookLen"); }
         |  int $dsub = $bookLen / ($m * $kN);
         |  $offDecl
         |  $offDimCheck
         |  boolean $bad = false;
         |  double[] $out = new double[$m * $dsub];
         |  for (int s = 0; s < $m && !$bad; s++) {
         |    if ($arr.isNullAt(s)) { $bad = true; break; }
         |    int $codeV = $arr.getInt(s);
         |    if ($codeV < 0 || $codeV >= $kN)
         |      { $self.badShapePublic("code out of range: " + $codeV); }
         |    for (int d = 0; d < $dsub; d++) {
         |      if (false$offElemNull) { $bad = true; break; }
         |      $out[s * $dsub + d] = $book[(s * $kN + $codeV) * $dsub + d]$offAdd;
         |    }
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else { ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out); }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqDecode =
    copy(codes = newChildren(0), codebookExpr = newChildren(1),
      ksubExpr = newChildren(2),
      offset = if (newChildren.length > 3) Some(newChildren(3)) else None)
}

/** Upper-triangle Gram products of a fixed-point vector: for an
  * `array<long>` c of length d (centered `⌊(x−µ)·10⁶⌋` coordinates),
  * returns the d·(d+1)/2 products `c[p]·c[q]` for p ≤ q in row-major
  * triangle order. Summed per position across the corpus these are the
  * EXACT integer Gram/covariance sums that feed the deterministic power
  * iteration in `graft.operators.Similarity.removeTopComponent` —
  * order-free under any partitioning, unlike float accumulation.
  *
  * Why an expression: the d² per-row products would otherwise need a
  * position self-join (shuffling corpus·d rows) or an interpreted
  * nested HOF with an outer capture (the known codegen-killer). This
  * compiles to one tight double loop; the only thing that shuffles
  * afterwards is the map-side-combined `(pos, Σ)` aggregation onto
  * d·(d+1)/2 keys. Null input or any null element yields null. */
case class GramUpper(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gram_upper"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
    val out = new Array[Long](n * (n + 1) / 2)
    var t = 0
    var p = 0
    while (p < n) {
      val cp = v.getLong(p)
      var q = p
      while (q < n) { out(t) = cp * v.getLong(q); t += 1; q += 1 }
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      val cp = ctx.freshName("cp")
      val bad = ctx.freshName("bad")
      val i = ctx.freshName("i")
      s"""
         |final int $n = $v.numElements();
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) if ($v.isNullAt($i)) { $bad = true; break; }
         |if ($bad) { ${ev.isNull} = true; }
         |else {
         |  long[] $out = new long[$n * ($n + 1) / 2];
         |  int $t = 0;
         |  for (int $p = 0; $p < $n; $p++) {
         |    final long $cp = $v.getLong($p);
         |    for (int $q = $p; $q < $n; $q++) { $out[$t++] = $cp * $v.getLong($q); }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramUpper =
    copy(child = newChild)
}

/** Project a vector onto the orthogonal complement of a (foldable) unit
  * direction u: returns `r = v − (v·u)·u` — the "all-but-the-top"
  * residual (Mu & Viswanath 2018) that strips the dominant common
  * component from an embedding corpus. The dot product and the residual
  * run in ONE generated loop pair (strict dim-order left folds, the
  * DotProduct evaluation order, so an external SQL oracle replays the
  * doubles bit-for-bit). Null input or any null element yields null;
  * a dimension mismatch fails loudly. */
case class RemoveComponent(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_remove_component"

  override def checkInputDataTypes(): TypeCheckResult = {
    def arrOk(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arrOk(left.dataType) && right.foldable && arrOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, foldable array<double>)")
  }

  @transient lazy val u: Array[Double] =
    right.eval().asInstanceOf[ArrayData].toDoubleArray()

  private def badDim(actual: Int): Nothing =
    throw new IllegalArgumentException(
      s"$prettyName: vector of dimension $actual against a ${u.length}-dim direction")
  def badDimPublic(actual: Int): Unit = badDim(actual)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != u.length) badDim(n)
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
    var dot = 0.0
    i = 0
    while (i < n) { dot += v.getDouble(i) * u(i); i += 1 }
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = v.getDouble(i) - dot * u(i); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val uRef = ctx.addReferenceObj("rcU", u, "double[]")
    val self = ctx.addReferenceObj("rcExpr", this,
      "org.apache.spark.sql.graft.RemoveComponent")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val dot = ctx.freshName("dot")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |final int $n = $v.numElements();
         |if ($n != $uRef.length) { $self.badDimPublic($n); }
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) if ($v.isNullAt($i)) { $bad = true; break; }
         |if ($bad) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $dot += $v.getDouble($i) * $uRef[$i]; }
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) { $out[$i] = $v.getDouble($i) - $dot * $uRef[$i]; }
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveComponent =
    copy(left = newLeft, right = newRight)
}
