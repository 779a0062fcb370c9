package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared 64-bit hashing primitives for the dedup/similarity operators.
  *
  * Everything is deterministic (no per-JVM seeds) so signatures computed
  * on different executors — or in different Spark jobs — agree, which is
  * what makes LSH bucket joins over 100 TB possible: signatures are
  * computed map-side, shuffled by bucket, never recomputed.
  */
object Hashing {
  /** splitmix64 — public-domain mixer (Steele et al.), used to derive
    * per-permutation coefficients from an index. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over UTF-8 bytes — cheap, deterministic, good enough
    * dispersion for shingle hashing (then remixed per permutation). */
  @inline def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def hashToken(s: UTF8String): Long = mix64(fnv1a64(s.getBytes))
}

/** MinHash signature of a token/shingle array: `minhash(tokens, k)` →
  * array<bigint> of length k.
  *
  * Re-expresses the near-duplicate detection the reference ecosystem
  * does with per-key state (SURVEY.md §2.5 deduplicate family) as a
  * pure, codegen-compatible column: permutation i applies an affine
  * transform (aᵢ·h + bᵢ) to each token's base hash and keeps the
  * unsigned minimum. E[matching positions / k] = Jaccard(tokens_a,
  * tokens_b), so banding the signature gives LSH buckets.
  */
object MinHashSignature {
  /** Affine permutation coefficients for k permutations — shared with
    * the DuckDB oracle, which re-derives signatures from materialized
    * token hashes using these exact constants (a must be odd for
    * full-period mixing).
    */
  def coefficients(k: Int): (Array[Long], Array[Long]) =
    (Array.tabulate(k)(i => Hashing.mix64(2L * i + 1) | 1L),
     Array.tabulate(k)(i => Hashing.mix64(0x5DEECE66DL * (i + 1))))

  /** Static kernel shared by eval and generated code. */
  def compute(arr: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val numHashes = as.length
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(-1L) // unsigned max
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Hashing.hashToken(arr.getUTF8String(i))
        var j = 0
        while (j < numHashes) {
          val v = as(j) * h + bs(j)
          if (java.lang.Long.compareUnsigned(v, mins(j)) < 0) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    // primitive layout — GenericArrayData would box k longs per row,
    // real allocation pressure at 128 hashes x millions of docs
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

case class MinHashSignature(child: Expression, k: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k.foldable && k.dataType == IntegerType =>
      // reject a null/non-positive k at ANALYSIS time — a negative k
      // would crash coefficients() and a null k would silently yield
      // an empty signature instead of an error
      k.eval(InternalRow.empty) match {
        case kk: Int if kk >= 1 => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"minhash expects a positive constant k, got $other")
      }
    case _ => TypeCheckResult.TypeCheckFailure(
      "minhash expects (array<string>, foldable int)")
  }

  @transient private lazy val numHashes: Int =
    k.eval(InternalRow.empty).asInstanceOf[Int]
  @transient private lazy val (as: Array[Long], bs: Array[Long]) =
    MinHashSignature.coefficients(numHashes)

  override def nullSafeEval(tokens: Any, kv: Any): Any =
    MinHashSignature.compute(tokens.asInstanceOf[ArrayData], as, bs)

  // Embed the coefficient arrays as references and call the static
  // kernel — the LSH signature stage stays inside whole-stage codegen
  // (a CodegenFallback would box an InternalRow per input row).
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, (tokens, _) =>
      s"${ev.value} = graft.functions.MinHashSignature.compute($tokens, $asRef, $bsRef);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, k = r)
  override def prettyName: String = "minhash"
}

/** Per-token base hashes: `token_hashes(tokens)` → array<bigint> of
  * mix64(fnv1a64(utf8)) per non-null token — exactly the base hash
  * MinHashSignature folds its affine permutations over. Materializing
  * this array lets the DuckDB oracle recompute full minhash signatures
  * independently (the affine transform + unsigned min is plain 64-bit
  * arithmetic), turning the signature computation itself into a
  * verifiable step instead of a trusted one.
  */
object TokenHashes {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // primitive layout like the sibling kernels — GenericArrayData
    // would box one Long per token
    var cnt = 0
    var i = 0
    while (i < n) { if (!arr.isNullAt(i)) cnt += 1; i += 1 }
    val out = new Array[Long](cnt)
    i = 0; var j = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { out(j) = Hashing.hashToken(arr.getUTF8String(i)); j += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class TokenHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("token_hashes expects array<string>")
  }
  override def nullSafeEval(tokens: Any): Any =
    TokenHashes.compute(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenHashes.compute($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "token_hashes"
}

/** Per-position k-gram rolling hashes: `kgram_hashes(text, k)` →
  * array<bigint>, one hash per byte position 0..len-k over the UTF-8
  * bytes — the document-fingerprinting primitive (MOSS-style
  * winnowing selects a subset of these as the doc's fingerprints).
  *
  * Genuine Rabin-Karp: polynomial rolling hash base 0x100000001b3
  * mod 2⁶⁴ (Java long wraparound), O(1) per step after the first
  * window, finalized with mix64 for dispersion. Deterministic, so
  * fingerprints computed on different executors agree.
  */
object KGramHashes {
  val Base = 0x100000001b3L
  def compute(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // k <= 0 is meaningless (and would read bytes(-1)); empty like the
    // too-short case, mirroring NgramHashes' n <= 0 guard
    if (k <= 0 || n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    out(0) = Hashing.mix64(h)
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xffL) * pow) * Base + (bytes(i) & 0xffL)
      out(i - k + 1) = Hashing.mix64(h)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class KGramHashes(child: Expression, k: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k.foldable && k.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("kgram_hashes expects (string, foldable int)")
  override def nullSafeEval(text: Any, kv: Any): Any =
    KGramHashes.compute(text.asInstanceOf[UTF8String], kv.asInstanceOf[Int])
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, (t, kk) => s"graft.functions.KGramHashes.compute($t, $kk)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, k = r)
  override def prettyName: String = "kgram_hashes"
}

/** Per-position word-n-gram hashes: `ngram_hashes(tokens, n)` →
  * array<bigint>, one 64-bit hash per n-gram start position (empty when
  * the document has fewer than n tokens). The allocation-free
  * replacement for `md5(concat_ws(" ", slice(tokens, i, n)))`-style
  * gram keys (reference semantics: the shingle dedup family of
  * SURVEY.md §2.5): each token hashes once (FNV-1a + splitmix), the n
  * per-token hashes combine in a polynomial ring, and the shuffle key
  * becomes a fixed 8-byte long instead of a built gram string — the
  * per-token cost that dominates corpus-scale n-gram passes (t43/t45)
  * at 100 TB.
  */
object NgramHashes {
  private val Base = 0x100000001b3L
  /** Static kernel shared by eval and generated code. */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val t = arr.numElements()
    if (n <= 0 || t < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val th = new Array[Long](t)
    var i = 0
    while (i < t) {
      th(i) = if (arr.isNullAt(i)) 0L else Hashing.hashToken(arr.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](t - n + 1)
    i = 0
    while (i <= t - n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) { h = h * Base + th(i + j); j += 1 }
      out(i) = Hashing.mix64(h)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class NgramHashes(child: Expression, n: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = n
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n.foldable && n.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure("ngram_hashes expects (array<string>, foldable int)")
  }
  override def nullSafeEval(tokens: Any, nv: Any): Any =
    NgramHashes.compute(tokens.asInstanceOf[ArrayData], nv.asInstanceOf[Int])
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, (t, nn) => s"graft.functions.NgramHashes.compute($t, $nn)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, n = r)
  override def prettyName: String = "ngram_hashes"
}

/** 64-bit SimHash of a token array: `simhash(tokens)` → bigint.
  * Near-duplicate docs differ in few bits (small Hamming distance).
  */
object SimHash64 {
  /** Static kernel shared by eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Hashing.hashToken(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("simhash expects array<string>")
  }

  override def nullSafeEval(tokens: Any): Any =
    java.lang.Long.valueOf(SimHash64.compute(tokens.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash"
}

/** Hamming distance between two 64-bit signatures. */
case class HammingDistance64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("hamming64 expects (bigint, bigint)")
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "hamming64"
}

/** Number of positions where two equal-length bigint signatures agree —
  * the MinHash Jaccard estimator's numerator. Replaces the
  * `aggregate(zip_with(...))` chain on the LSH pair-join hot path:
  * higher-order functions evaluate their lambda interpreted (one boxed
  * call per element), which at 128 positions × pair count dominates the
  * stage; this is one fused loop inside whole-stage codegen.
  */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("sig_agree expects two array<bigint>")
  }
  // a NULL at a compared position makes the whole result NULL — the
  // aggregate(zip_with(...)) chain this replaces propagates null the
  // same way. STATIC fast path: minhash signatures declare
  // containsNull=false, so the LSH hot path pays zero per-element
  // null checks.
  @transient private lazy val mayHaveNulls: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull
  override def nullable: Boolean = super.nullable || mayHaveNulls
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (mayHaveNulls) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
    }
    var c = 0; var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      // two-pass when nulls are statically possible: the null scan is a
      // separate cheap loop, the compare loop stays branch-free
      val nullScan =
        if (mayHaveNulls)
          s"""for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i) || $b.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |$nullScan
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.getLong($i) == $b.getLong($i)) $c++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "sig_agree"
}

/** Cosine similarity of two float vectors as a single tight loop —
  * replaces the `aggregate(zip_with(...))` expression chain with one
  * pass and no intermediate arrays. Accumulates in double,
  * left-to-right (same order as the SQL fold, so results are
  * bit-identical with the DuckDB oracle).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("cosine_sim expects two array<float>")
  }
  // NULL vector components make the result NULL (the zip_with chain's
  // semantics), checked only when the STATIC type says nulls can occur
  // — embedding columns declare containsNull=false, so the ANN hot
  // path pays nothing.
  @transient private lazy val mayHaveNulls: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull
  override def nullable: Boolean = super.nullable || mayHaveNulls
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (mayHaveNulls) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
    }
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  // Same loop, emitted into whole-stage codegen — the pair-join hot
  // path never leaves generated code. Two-pass when nulls are
  // statically possible: the cheap null scan runs first so the FP
  // loop stays branch-free.
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val nullScan =
        if (mayHaveNulls)
          s"""for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i) || $b.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |$nullScan
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Σ aᵢ·bᵢ of two float vectors in double, left-to-right — the dot
  * kernel of [[CosineSimilarity]] alone. Lets a pair scan HOIST the
  * two norm terms out of the O(pairs) loop: cosine(a,b) =
  * dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b))), and the self-dots
  * depend on one side each, so they can be computed once per ROW
  * before the join instead of once per PAIR inside it — 3× fewer
  * multiply-adds on the quadratic edge, with bit-identical results
  * (same accumulation order, same sqrt/× /÷ sequence as the fused
  * kernel, so the oracle comparison is unaffected).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("dot_product expects two array<float>")
  }
  @transient private lazy val mayHaveNulls: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull
  override def nullable: Boolean = super.nullable || mayHaveNulls
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (mayHaveNulls) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
    }
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nullScan =
        if (mayHaveNulls)
          s"""for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i) || $b.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |$nullScan
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** `HASH_CODE(str)` — reference: SqlFunctionUtils.java:996
  * (`Math.abs(str.hashCode())`, Java String semantics, so
  * `Integer.MIN_VALUE` stays negative exactly like the reference).
  */
case class JavaHashCode(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"hash_code needs STRING, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    math.abs(input.asInstanceOf[UTF8String].toString.hashCode)
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.abs($c.toString().hashCode())")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "hash_code"
}

/** Column-API + SQL registration for the custom expressions. */
object functions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.GraftBridge.{column, expression}
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  def minhash(tokens: Column, k: Int): Column =
    column(MinHashSignature(expression(tokens), Literal(k)))
  def token_hashes(tokens: Column): Column = column(TokenHashes(expression(tokens)))
  def kgram_hashes(text: Column, k: Int): Column =
    column(KGramHashes(expression(text), Literal(k)))
  def ngram_hashes(tokens: Column, n: Int): Column =
    column(NgramHashes(expression(tokens), Literal(n)))
  def simhash(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def hamming64(a: Column, b: Column): Column =
    column(HammingDistance64(Cast(expression(a), LongType), Cast(expression(b), LongType)))
  def sig_agree(a: Column, b: Column): Column =
    column(SigAgreeCount(expression(a), expression(b)))
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimilarity(Cast(expression(a), ArrayType(FloatType)),
      Cast(expression(b), ArrayType(FloatType))))
  def dot_product(a: Column, b: Column): Column =
    column(DotProduct(Cast(expression(a), ArrayType(FloatType)),
      Cast(expression(b), ArrayType(FloatType))))

  /** cosine_sim with the per-side norm terms precomputed: feed
    * `l2norm` of each side (computed ONCE per row, before the pair
    * join) and only the dot runs per pair. Same arithmetic sequence
    * as [[CosineSimilarity]] → bit-identical doubles.
    */
  def l2norm(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(dot_product(a, a))
  }
  def cosine_from_parts(dot: Column, normA: Column, normB: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    when(normA === 0.0 || normB === 0.0, lit(0.0))
      .otherwise(dot / (normA * normB))
  }

  private val truncate2 = SqlBodied("__truncate2",
    Seq("x" -> DoubleType, "d" -> IntegerType), DoubleType,
    """CASE WHEN abs(x) >= 9007199254740992D THEN x
      |     WHEN abs(x * pow(10, d)) < 9007199254740992D
      |       THEN CAST(CAST(x * pow(10, d) AS BIGINT) AS DOUBLE) / pow(10, d)
      |     WHEN d BETWEEN 1 AND 17
      |       THEN CAST(CAST(x AS DECIMAL(38,18))
      |              - CAST(x AS DECIMAL(38,18)) % CAST(pow(10, -d) AS DECIMAL(38,18))
      |            AS DOUBLE)
      |     ELSE x END""".stripMargin)

  /** The SQL-bodied functions: the fixed-arity FlinkSqlOperatorTable
    * names with no Spark builtin (inlined at plan time, so they stay
    * inside whole-stage codegen).
    *  - SPLIT_INDEX (SqlFunctionUtils.splitIndex:387): 0-based,
    *    LITERAL separator — every regex metachar (incl. backslash)
    *    escaped individually, since \Q..\E quoting breaks on a
    *    separator containing \E; NULL when index < 0 or out of
    *    range; split(limit -1) preserves trailing empties like
    *    splitByWholeSeparatorPreserveAllTokens.
    *  - TRUNCATE (SqlFunctionUtils.struncate: BigDecimal ROUND_DOWN):
    *    toward-zero via the BIGINT cast while x*10^d stays below 2^53;
    *    identity above 2^53 where the double is integral; and for the
    *    band |x| < 2^53 <= |x*10^d| (1 <= d <= 17, where the double
    *    still carries sub-10^-d precision but scaling in double space
    *    would destroy it) an exact DECIMAL remainder chop — see
    *    Strings.truncateNum for the regime analysis.
    *  - IS_ALPHA / IS_DIGIT / IS_DECIMAL (SqlFunctionUtils:62 family).
    *  - RAND_INTEGER(n): uniform int in [0, n).
    *  - TO_BASE64/FROM_BASE64 (SqlFunctionUtils.toBase64:1172 /
    *    fromBase64:1176 — java.util.Base64's basic unchunked codec,
    *    the same one Spark 4's base64/unbase64 use).
    */
  val sqlBodied: Seq[SqlBodied] = jsonfns.sqlBodied ++ Seq(
    SqlBodied("split_index", Seq("s" -> StringType, "sep" -> StringType, "i" -> IntegerType),
      StringType,
      """CASE WHEN i < 0 THEN CAST(NULL AS STRING)
        |     ELSE get(split(s,
        |       regexp_replace(sep, '([\\\\^$.|?*+()\\[\\]{}])', '\\\\$1'), -1), i) END""".stripMargin),
    truncate2,
    SqlBodied("is_alpha", Seq("s" -> StringType), BooleanType, "s rlike '^[A-Za-z]+$'"),
    SqlBodied("is_digit", Seq("s" -> StringType), BooleanType, "s rlike '^[0-9]+$'"),
    SqlBodied("is_decimal", Seq("s" -> StringType), BooleanType,
      """s rlike '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$'"""),
    SqlBodied("rand_integer", Seq("n" -> IntegerType), IntegerType,
      "CAST(floor(rand() * n) AS INT)"),
    SqlBodied("to_base64", Seq("s" -> StringType), StringType, "base64(CAST(s AS BINARY))"),
    SqlBodied("from_base64", Seq("s" -> StringType), StringType, "CAST(unbase64(s) AS STRING)"))

  /** Every graft SQL function, name → expression builder. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    jsonfns.builders ++ times.builders ++ sqlBodied.map(f => (f.name, f.build _)) ++ Seq(
      ("minhash", es => MinHashSignature(es(0), Cast(es(1), IntegerType))),
      ("simhash", es => SimHash64(es.head)),
      ("token_hashes", es => TokenHashes(es.head)),
      ("kgram_hashes", es => KGramHashes(es(0), Cast(es(1), IntegerType))),
      ("ngram_hashes", es => NgramHashes(es(0), Cast(es(1), IntegerType))),
      ("hamming64", es => HammingDistance64(Cast(es(0), LongType), Cast(es(1), LongType))),
      ("sig_agree", es => SigAgreeCount(es(0), es(1))),
      ("cosine_sim", es =>
        CosineSimilarity(Cast(es(0), ArrayType(FloatType)), Cast(es(1), ArrayType(FloatType)))),
      ("hyperplane_bits64", es => HyperplaneBits64(Cast(es.head, ArrayType(FloatType)))),
      // the reference's PROCTIME() — per-record, unlike current_timestamp()
      ("proctime", _ => ProcTime()),
      // HASH_CODE(str) — FlinkSqlOperatorTable straggler
      ("hash_code", es => JavaHashCode(Cast(es.head, StringType))),
      // r19 coverage sweep of BuiltInFunctionDefinitions (see misc.scala):
      // INITCAP shadows the Spark builtin with the reference's
      // any-non-alphanumeric word boundaries (SqlFunctionUtils.initcap);
      // TYPEOF renders Flink type text; TO_TIMESTAMP_LTZ(numeric, p)
      // implements DateTimeUtils.toTimestampData (p=0 seconds / p=3
      // millis, truncation + range semantics)
      ("initcap", es => InitCapFlink(Cast(es.head, StringType))),
      // TYPEOF(x[, force_serializable]) — the optional boolean picks
      // asSerializableString; it must be a literal (the reference
      // requires a constant flag). Arity outside 1..2 is a dialect error.
      ("typeof", {
        case Seq(x) => TypeOfFlink(x)
        case Seq(x, Literal(b: Boolean, BooleanType)) => TypeOfFlink(x, b)
        case Seq(_, _) => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            "TYPEOF(input, force_serializable): force_serializable must be a BOOLEAN literal"))
        case es => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            (s"TYPEOF expects 1 or 2 arguments, got ${es.length}")))
      }),
      // Fixed 2-arg arity: a 1-arg call (Spark's builtin string form this
      // registration shadows) gets a dialect error, not an
      // IndexOutOfBoundsException from es(1).
      ("to_timestamp_ltz", es => {
        if (es.length != 2) throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            ("TO_TIMESTAMP_LTZ(numeric, precision) expects exactly 2 arguments, " +
              s"got ${es.length}; the supported precision is '0' for second " +
              "or '3' for millisecond")))
        ToTimestampLtz(es.head, Cast(es(1), IntegerType))
      }),
      // TRUNCATE accepts BOTH arities (FlinkSqlOperatorTable:226:
      // NUMERIC_INTEGER or bare NUMERIC — TRUNCATE(x) chops to 0 dp)
      // over the 2-arg body.
      ("truncate", es => truncate2.build(Seq(es.head, es.lift(1).getOrElse(Literal(0))))))

  /** Install every graft SQL function in the session, and apply the
    * map-key policy default of [[jsonfns.mapKeyPolicy]]. Installing
    * adds expression builders to the session's function registry; it
    * runs no SQL statement and keeps no state of its own. A name that
    * already holds graft's builder is left as it is (Spark logs a
    * warning for every function it replaces); any other function under
    * a graft name, one the user created included, is replaced, so a
    * dropped or replaced graft function is restored.
    */
  def register(spark: SparkSession): Unit = {
    jsonfns.mapKeyPolicy(spark)
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq b))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
