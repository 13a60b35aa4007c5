package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for operators the built-in function
  * library can't express in one pass (SURVEY.md §2.10 notes the
  * *reference* needs none — these belong to the beyond-parity
  * training-data operators).
  *
  * Both are deterministic, null-safe scalar kernels evaluated per row
  * inside the task — no shuffle, no driver participation — so they scale
  * with the scan. CodegenFallback keeps them correct everywhere; the
  * surrounding projections still codegen.
  */

/** 64-bit SimHash of a token array (Charikar 2002, public literature):
  * per-token xxhash64, ±1 vote per bit, sign → fingerprint bit.
  * Input: array<string>; output: long (null for null input).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got $other")
  }
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken 2003 —
  * "Winnowing: Local Algorithms for Document Fingerprinting", public):
  * rolling xxhash64 over character k-grams, keep the minimum hash in
  * each window of `w` consecutive k-grams, dedup consecutive picks.
  * Input: string; output: array<long> (sorted, distinct) — two docs
  * sharing any fingerprint share a k-gram-sized substring.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0 && w > 0, "k and w must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint requires string, got $other")
  }
  override def prettyName: String = "winnow_fingerprint"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.length < k) return new GenericArrayData(Array.empty[Long])
    val nGrams = s.length - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      hashes(i) = XxHash64Function.hash(
        UTF8String.fromString(s.substring(i, i + k)), StringType, 42L)
      i += 1
    }
    val picked = scala.collection.mutable.SortedSet.empty[Long]
    if (nGrams <= w) {
      picked += hashes.min
    } else {
      var start = 0
      while (start + w <= nGrams) {
        var mi = start
        var j = start + 1
        while (j < start + w) {
          if (hashes(j) <= hashes(mi)) mi = j
          j += 1
        }
        picked += hashes(mi)
        start += 1
      }
    }
    new GenericArrayData(picked.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

/** Dot product of two numeric arrays (float or double elements),
  * accumulated in double with a fixed left-to-right fold — a tight
  * while-loop instead of Catalyst higher-order-function lambdas (each
  * HOF element evaluation is an interpreted expression call; on a
  * brute-force ANN pass that lambda overhead dominates the arithmetic
  * by ~50×). Null arrays → null; null elements treated as 0.
  */
case class VecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<float|double>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
        acc += xv * yv
      }
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Real codegen (not CodegenFallback): emits the same tight loop into
    * the generated stage, so vector math never leaves whole-stage
    * codegen or boxes per row.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getX = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $getX * $getY;
         |  }
         |}
         |${ev.value} = $acc;
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** ColBERT-style late-interaction (MaxSim) score of two multi-vector
  * columns (Khattab & Zaharia, SIGIR 2020, public literature). Each
  * side is ONE flat float/double array interpreted as `slices`
  * contiguous sub-vectors of equal length; the score is
  * Σ_i max_j dot(query_i, doc_j) — every query sub-vector matches its
  * best doc sub-vector independently, which is what makes late
  * interaction stronger than single-vector cosine for long documents.
  *
  * Determinism contract (oracle-compatible): every element promotes
  * float→double BEFORE any arithmetic; each sub-dot accumulates
  * left-to-right ascending; the outer Σ adds slice maxima in ascending
  * slice order — so DuckDB's `list_dot_product` over `DOUBLE[]` slices
  * combined with `greatest(...)` and a left-associated `+` chain
  * reproduces the exact same doubles.
  *
  * One expression node, S²·L multiplies per pair, no array
  * materialization per slice — a `slice()`+VecDot Column formulation
  * would copy 2·S² sub-arrays per row-pair.
  */
case class MaxSimScore(left: Expression, right: Expression, slices: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(slices > 0, "slices must be positive")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "maxsim_score"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"maxsim_score requires two array<float|double>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val d = b.asInstanceOf[ArrayData]
    // Equal-length contract: both sides must carry the same number of
    // elements (same slice length) — a mismatch would silently read the
    // longer side's sub-vectors across their true slice boundaries, so
    // it fails loudly instead.
    if (q.numElements() != d.numElements())
      throw new IllegalArgumentException(
        s"maxsim_score: multi-vector length mismatch (${q.numElements()} vs ${d.numElements()})")
    val n = q.numElements()
    val len = n / slices
    if (len == 0) return java.lang.Double.valueOf(0.0)
    val qf = elemIsFloat(left)
    val df = elemIsFloat(right)
    var total = 0.0
    var i = 0
    while (i < slices) {
      var best = java.lang.Double.NEGATIVE_INFINITY
      var j = 0
      while (j < slices) {
        var acc = 0.0
        var t = 0
        while (t < len) {
          val qi = i * len + t
          val dj = j * len + t
          val qv = if (qf) q.getFloat(qi).toDouble else q.getDouble(qi)
          val dv = if (df) d.getFloat(dj).toDouble else d.getDouble(dj)
          acc += qv * dv
          t += 1
        }
        if (acc > best) best = acc
        j += 1
      }
      total += best
      i += 1
    }
    java.lang.Double.valueOf(total)
  }

  /** Same tight nested loop emitted into the generated stage (slices is
    * a compile-time constant of the emitted Java).
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val len = ctx.freshName("len")
      val total = ctx.freshName("total")
      val best = ctx.freshName("best")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val getQ = if (elemIsFloat(left)) s"(double) $a.getFloat($i * $len + $t)"
                 else s"$a.getDouble($i * $len + $t)"
      val getD = if (elemIsFloat(right)) s"(double) $b.getFloat($j * $len + $t)"
                 else s"$b.getDouble($j * $len + $t)"
      s"""
         |if ($a.numElements() != $b.numElements())
         |  throw new IllegalArgumentException(
         |    "maxsim_score: multi-vector length mismatch (" + $a.numElements() +
         |    " vs " + $b.numElements() + ")");
         |int $n = $a.numElements();
         |int $len = $n / $slices;
         |double $total = 0.0;
         |if ($len > 0)
         |for (int $i = 0; $i < $slices; $i++) {
         |  double $best = java.lang.Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $slices; $j++) {
         |    double $acc = 0.0;
         |    for (int $t = 0; $t < $len; $t++) {
         |      $acc += $getQ * $getD;
         |    }
         |    if ($acc > $best) $best = $acc;
         |  }
         |  $total += $best;
         |}
         |${ev.value} = $total;
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxSimScore =
    copy(left = l, right = r)
}

/** Content-defined chunking (LBFS/rsync family — Muthitacharoen,
  * Chen & Mazières, SOSP 2001, public literature): cut a document
  * wherever the w-char polynomial rolling hash H_p = Σ_j c_{p−j}·B^j
  * mod M lands on 0 mod D — boundaries depend on local CONTENT, not
  * absolute offsets, so an insertion near the start shifts only the
  * chunk it touches and every later chunk re-aligns (fixed-size
  * blocks lose all of them). This stateless form (no min/max chunk
  * guards — production variants add them at the cost of sequential
  * state) makes every cut decision a pure function of a w-char
  * window: embarrassingly parallel AND replayable in SQL.
  *
  * Input: string (ASCII/codepoint domain — for binary payloads the
  * same kernel would read bytes). Output: array<struct<h: string,
  * len: int>> — md5 hex + length of each chunk, in order. Docs
  * shorter than w yield one whole-doc chunk; empty docs yield none.
  */
case class CdcChunks(child: Expression, w: Int, b: Int, m: Long, d: Int)
    extends UnaryExpression with CodegenFallback {
  require(w > 0 && b > 1 && m > 1 && d > 1, "bad CDC parameters")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("len", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires string, got $other")
  }

  private lazy val pow: Array[Long] = {
    val p = new Array[Long](w)
    p(0) = 1L
    var j = 1
    while (j < w) { p(j) = p(j - 1) * b % m; j += 1 }
    p
  }

  private def md5Hex(s: String): String = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    dig.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var start = 0
    // cut AFTER 1-based position p ∈ [w, n] when H_p % D == 0, where
    // H_p sums the window ending at p: c_{p−j} · B^j, j = 0..w−1.
    // H_w is computed once; every later position rolls in O(1):
    // H_{p+1} = (B·(H_p − c_{p−w+1}·B^{w−1}) + c_{p+1}) mod M — the
    // same residues as the windowed sum (mod arithmetic is exact), so
    // cut positions are bit-identical to the O(n·w) recompute.
    var p = w
    var h = 0L
    if (p <= n) {
      var j = 0
      while (j < w) {
        h = (h + s.charAt(p - 1 - j).toLong * pow(j)) % m
        j += 1
      }
    }
    while (p <= n) {
      if (h % d == 0) {
        val chunk = s.substring(start, p)
        if (chunk.nonEmpty)
          out += InternalRow(UTF8String.fromString(md5Hex(chunk)), chunk.length)
        start = p
      }
      if (p < n) {
        val drop = s.charAt(p - w).toLong * pow(w - 1) % m
        h = ((h - drop) % m + m) % m
        h = (h * b + s.charAt(p).toLong) % m
      }
      p += 1
    }
    if (start < n) {
      val chunk = s.substring(start)
      out += InternalRow(UTF8String.fromString(md5Hex(chunk)), chunk.length)
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

/** Integer quantization of a float/double vector: q_i = floor(x_i·scale)
  * as long. floor and the double multiply are both IEEE-exact given the
  * same inputs, so the codes replay in any engine (`floor(CAST(x AS
  * DOUBLE) * scale)`), making every downstream integer computation
  * bit-exact — the same grid trick as [[graft.operators.IvfIndex]].
  */
case class QuantizeVec(child: Expression, scale: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_vec"

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_vec requires array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = math.floor(v * scale).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): QuantizeVec =
    copy(child = c)
}

/** Rademacher (±1) random projection of a QUANTIZED long vector
  * (Achlioptas 2003, "Database-friendly random projections" — public
  * literature): p_c = Σ_i signs(c)(i)·q_i. Input array<long>
  * (see [[QuantizeVec]]), output array<long> of length `signs.size` —
  * all integer, so projections and projected distances replay exactly
  * in SQL with the same ±1 literals.
  */
case class SignedProject(child: Expression, signs: Seq[Seq[Int]])
    extends UnaryExpression with CodegenFallback {
  require(signs.nonEmpty && signs.forall(_.size == signs.head.size),
    "signs must be a non-empty rectangular ±1 matrix")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "signed_project"

  private lazy val mat: Array[Array[Int]] = signs.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"signed_project requires array<long>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    // Dimensional contract: the input vector and the sign rows must
    // agree — silent truncation would project a prefix and produce
    // plausible-but-wrong distances, so a mismatch fails loudly.
    if (q.numElements() != mat(0).length)
      throw new IllegalArgumentException(
        s"signed_project: vector dim ${q.numElements()} != sign-matrix dim ${mat(0).length}")
    val dim = mat(0).length
    val out = new Array[Long](mat.length)
    var c = 0
    while (c < mat.length) {
      val row = mat(c)
      var acc = 0L
      var i = 0
      while (i < dim) {
        acc += row(i) * q.getLong(i)
        i += 1
      }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): SignedProject =
    copy(child = c)
}

/** Σ (a_i − b_i)² over two long arrays — exact integer squared L2
  * distance for quantized/projected vectors.
  */
case class LongVecDistSq(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "longvec_dist_sq"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"longvec_dist_sq requires two array<long>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongVecDistSq =
    copy(left = l, right = r)
}

/** SimHash straight from text: tokenize (lowercase, whitespace) and
  * vote in one pass — no intermediate token array. Same fingerprints
  * as `SimHash64(tokens(text))` for already-lowercase inputs.
  */
case class SimHashText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_text requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val votes = new Array[Int](64)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && NgramHashes.isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !NgramHashes.isWs(s.charAt(i))) i += 1
      if (i > start) {
        val h = XxHash64Function.hash(
          UTF8String.fromString(s.substring(start, i)), StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

/** Distinct word n-gram hashes of a text column in one pass:
  * lowercase → whitespace-tokenize → per-token xxhash64 → n-gram hash
  * by seed-chaining the token hashes → distinct. Replaces a
  * transform/slice/concat_ws/array_distinct pipeline whose per-element
  * Catalyst lambda evaluation dominated shingling cost ~6× (measured
  * at sf0.1). 64-bit hashes stand in for shingle strings downstream
  * (collision odds ~1e-9 per corpus-pair — negligible for dedup).
  * Input: string; output: array<long>, sorted ascending.
  */
object NgramHashes {
  /** Whitespace = RE2's `\s` class `[\t\n\f\r ]` — the dialect the
    * DuckDB oracle twins speak. Java's `\s` additionally matches
    * vertical tab `\u000B`; a document containing one would silently
    * break bit-parity on every tokenized oracle query if any kernel
    * (or any Spark-side regex paired with a twin) used the Java class,
    * so ALL tokenization in this codebase — these kernels, and
    * explicit `[\t\n\f\r ]` character classes in Column-level
    * regexes — pins the RE2 set.
    */
  def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
}

case class NgramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes requires string, got $other")
  }

  import NgramHashes.isWs

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    // tokenize: token hash per whitespace-separated run
    val tokHashes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start)
        tokHashes += XxHash64Function.hash(
          UTF8String.fromString(s.substring(start, i)), StringType, 42L)
    }
    val t = tokHashes.length
    if (t < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.TreeSet[java.lang.Long]()
    var g = 0
    while (g <= t - n) {
      var h = 42L
      var j = g
      while (j < g + n) {
        h = XxHash64Function.hash(tokHashes(j), LongType, h)
        j += 1
      }
      seen.add(h)
      g += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

/** Full MinHash signature of a shingle-hash array in one pass: for
  * family member i, min over shingles of xxhash64-chained (shingle,
  * i). Replaces explode(shingles) → groupBy(doc).agg(64 × min) — the
  * per-row kernel needs NO shuffle at all, so the signature stage
  * scales with the scan instead of re-keying the corpus by doc
  * (~2M-row shuffle at sf0.1, unbounded at 100 TB).
  * Input: array<long>; output: array<long> of length numHashes,
  * null for null or empty input (docs too short to shingle).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes > 0, "numHashes must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<long>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var s = 0
    while (s < n) {
      if (!arr.isNullAt(s)) {
        // seed-chain like xxhash64(sh, i): hash the shingle once, then
        // derive each family member from the fixed-width intermediate.
        val h0 = XxHash64Function.hash(arr.getLong(s), LongType, 42L)
        var i = 0
        while (i < numHashes) {
          val hi = XxHash64Function.hash(i.toLong, LongType, h0)
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Number of positions where two long arrays agree — the MinHash
  * signature-similarity kernel (est. Jaccard = matches / length). A
  * zip_with/filter/size chain evaluates three interpreted lambdas per
  * element; this is one while-loop. Null if either side is null;
  * compares up to the shorter length.
  */
case class LongArrayMatchCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "long_array_match_count"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"long_array_match_count requires two array<long>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var matches = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) matches += 1
      i += 1
    }
    java.lang.Integer.valueOf(matches)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongArrayMatchCount =
    copy(left = l, right = r)
}

/** Product-quantization codes of a float/double vector (Jégou et al.,
  * TPAMI 2011): the vector quantizes to the w grid (`floor(v·1024) +
  * 4096`, [[graft.operators.IvfIndex.QuantOffset]]), splits into M
  * subvectors, and each subspace emits the id of its nearest codebook
  * entry by EXACT integer squared distance (ties → lower id), so the
  * encoding is bit-replayable by the SQL oracle. `codebooks` is
  * M × ksub × (dim/M) longs on the same w grid, embedded in this one
  * node (the CentroidIds rule — never a literal forest). Output:
  * array<int> of length M.
  */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires array<float|double>, got $other")
  }

  @transient private lazy val cbs: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val w = PqKernels.gridVec(input.asInstanceOf[ArrayData], elemIsFloat)
    val m = cbs.length
    val ds = cbs(0)(0).length
    require(w.length == m * ds, s"dim ${w.length} != M*dsub ${m * ds}")
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val cb = cbs(mi)
      var best = 0
      var bestD = Long.MaxValue
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var s = 0L
        var i = 0
        while (i < ds) { val d = w(mi * ds + i) - c(i); s += d * d; i += 1 }
        if (s < bestD) { bestD = s; best = j } // strict <: ties keep lower id
        j += 1
      }
      out(mi) = best
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Residual-quantization codes (Chen, Guan & Wang 2010; the RVQ/RQ
  * member of the quantization family next to [[PqCodes]]): the vector
  * quantizes to the exact w grid, level 1 emits the nearest codeword
  * of `cb1` by exact integer squared distance, and level 2 encodes
  * the RESIDUAL w − cb1(c1) against `cb2` — the SEQUENTIAL greedy
  * argmin that distinguishes RQ from flat VQ over the 256 combined
  * codewords. Both codebooks are full-dimension (no subspace split);
  * `cb2` lives on the residual scale (centered near 0, so entries may
  * be negative — everything stays exact Long). Ties → lower id, the
  * family rule. Output: array<int> of [c1, c2]; scoring rides the
  * COMBINED codebook cb1(i)+cb2(j) through the existing
  * [[PqAdcTable]]/[[AdcDistance]] path with M=1, ksub=|cb1|·|cb2|.
  */
case class RqCodes(
    child: Expression, cb1: Seq[Seq[Long]], cb2: Seq[Seq[Long]])
    extends UnaryExpression with CodegenFallback {
  require(cb1.nonEmpty && cb2.nonEmpty && cb1.head.length == cb2.head.length)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "rq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rq_codes requires array<float|double>, got $other")
  }

  @transient private lazy val c1s: Array[Array[Long]] = cb1.map(_.toArray).toArray
  @transient private lazy val c2s: Array[Array[Long]] = cb2.map(_.toArray).toArray

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def argmin(v: Array[Long], cbs: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var j = 0
    while (j < cbs.length) {
      val c = cbs(j)
      var s = 0L
      var i = 0
      while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = j } // strict <: ties keep lower id
      j += 1
    }
    best
  }

  override def nullSafeEval(input: Any): Any = {
    val w = PqKernels.gridVec(input.asInstanceOf[ArrayData], elemIsFloat)
    require(w.length == c1s(0).length, s"dim ${w.length} != ${c1s(0).length}")
    val c1 = argmin(w, c1s)
    val r = new Array[Long](w.length)
    var i = 0
    while (i < r.length) { r(i) = w(i) - c1s(c1)(i); i += 1 }
    val c2 = argmin(r, c2s)
    new GenericArrayData(Array(c1, c2))
  }

  override protected def withNewChildInternal(newChild: Expression): RqCodes =
    copy(child = newChild)
}

/** ADC lookup table of a PROBE vector against the same codebooks as
  * [[PqCodes]]: array<long> of length M·ksub where entry m·ksub + j
  * is the exact integer squared w-grid distance of the probe's m-th
  * subvector to codebook[m][j]. Per-candidate ADC distance is then a
  * pure table lookup ([[AdcDistance]]) — O(M) per pair instead of
  * O(dim), the PQ speedup.
  */
case class PqAdcTable(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_adc_table"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_table requires array<float|double>, got $other")
  }

  @transient private lazy val cbs: Array[Array[Array[Long]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val w = PqKernels.gridVec(input.asInstanceOf[ArrayData], elemIsFloat)
    val m = cbs.length
    val ksub = cbs(0).length
    val ds = cbs(0)(0).length
    require(w.length == m * ds, s"dim ${w.length} != M*dsub ${m * ds}")
    val out = new Array[Long](m * ksub)
    var mi = 0
    while (mi < m) {
      var j = 0
      while (j < ksub) {
        val c = cbs(mi)(j)
        var s = 0L
        var i = 0
        while (i < ds) { val d = w(mi * ds + i) - c(i); s += d * d; i += 1 }
        out(mi * ksub + j) = s
        j += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

private[functions] object PqKernels {
  /** Quantize a float/double vector onto the exact w grid (same
    * mapping as IvfIndex.sampleGrid and the SQL oracle).
    */
  def gridVec(vec: ArrayData, isFloat: Boolean): Array[Long] = {
    val n = vec.numElements()
    val w = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      val g = math.floor(v * 1024.0).toLong + 4096L
      require(g >= 0 && g <= (1L << 15),
        s"coordinate $v outside the exact quantization range")
      w(i) = g
      i += 1
    }
    w
  }
}

/** Σ_m table[m·ksub + codes[m]] — the asymmetric-distance lookup
  * joining [[PqCodes]] (candidate) with [[PqAdcTable]] (probe).
  */
case class AdcDistance(left: Expression, right: Expression, ksub: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  require(ksub > 0)
  override def dataType: DataType = LongType
  override def prettyName: String = "adc_distance"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"adc_distance requires (array<int> codes, array<long> table), got $other")
  }

  override def nullSafeEval(codesAny: Any, tableAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val table = tableAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    require(table.numElements() == m * ksub,
      s"table length ${table.numElements()} != M*ksub ${m * ksub}")
    var s = 0L
    var mi = 0
    while (mi < m) {
      s += table.getLong(mi * ksub + codes.getInt(mi))
      mi += 1
    }
    java.lang.Long.valueOf(s)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDistance =
    copy(left = l, right = r)
}

/** Count of elements ≤ `right` in the SORTED array `left` — i.e. the
  * upper-bound index by binary search. This is [[graft.operators.PrefixSum]]'s
  * bucket assignment: O(log B) comparisons per row instead of the
  * O(B) interpreted lambda a `size(filter(arr, p -> p <= k))` HOF
  * costs (HOFs never codegen, so each of the B comparisons is a tree
  * walk). The comparator is Spark's own interpreted ordering for the
  * element type — identical semantics to `sort_array` and to the
  * `<=` the HOF would evaluate, structs included.
  */
case class SearchSortedCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "search_sorted_count"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    // sameType: nullability/metadata-insensitive — the key expression
    // and the collected pivot elements routinely disagree on field
    // nullability for identical values.
    case ArrayType(et, _)
        if DataType.equalsStructurally(et, right.dataType, ignoreNullability = true) =>
      if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(et))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"search_sorted_count element type $et is not orderable")
    case other => TypeCheckResult.TypeCheckFailure(
      s"search_sorted_count requires (array<T>, T), got ($other, ${right.dataType})")
  }

  private lazy val elementType =
    left.dataType.asInstanceOf[ArrayType].elementType
  private lazy val ordering =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(elementType)

  override def nullSafeEval(a: Any, k: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    var lo = 0
    var hi = arr.numElements() // invariant: arr(i) <= k for all i < lo
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ordering.lteq(arr.get(mid, elementType), k)) lo = mid + 1 else hi = mid
    }
    java.lang.Integer.valueOf(lo)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SearchSortedCount =
    copy(left = l, right = r)
}

/** Bloom-filter membership probe of a LONG column against a pre-built,
  * serialized `org.apache.spark.util.sketch.BloomFilter`. The filter
  * bytes ship inside the expression with the task binary (~120 KB per
  * 100k items at 1% fpp), so the probe is map-side with no join and no
  * Row deserialization — a typed `filter { r: Row => bloom... }` pulls
  * every column through the deserializer and breaks whole-stage
  * codegen for the scan.
  */
case class BloomMightContainLong(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires bigint, got $other")
  }

  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBytes))

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(bloom.mightContainLong(input.asInstanceOf[Long]))

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

/** Random-hyperplane LSH bucket ids (Charikar 2002) for a float/double
  * vector: `tables` independent tables of `planesPerTable` Gaussian
  * planes each; bucket bit b of table t = sign(vec · plane[t][b]).
  * The plane matrix is derived from (dim, tables, planesPerTable,
  * seed) INSIDE the expression — one tree node instead of the
  * tables × planes × dim literal forest a Column-level formulation
  * builds (measured: ~7k-node trees cost seconds of analysis+codegen
  * per query). Output: array<long> of length `tables`; null input →
  * null.
  */
case class HyperplaneBuckets(
    child: Expression, dim: Int, tables: Int, planesPerTable: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(dim > 0 && tables > 0 && planesPerTable > 0 && planesPerTable <= 63)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets requires array<float|double>, got $other")
  }

  // flat [table][plane][dim] matrix, same draw order as a nested
  // Array.fill(tables, planes, dim)(rng.nextGaussian())
  @transient private lazy val planes: Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(tables * planesPerTable * dim)(rng.nextGaussian())
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val n = math.min(vec.numElements(), dim)
    val isF = elemIsFloat
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planesPerTable) {
        val off = (t * planesPerTable + p) * dim
        var acc = 0.0
        var i = 0
        while (i < n) {
          if (!vec.isNullAt(i)) {
            val v = if (isF) vec.getFloat(i).toDouble else vec.getDouble(i)
            acc += v * planes(off + i)
          }
          i += 1
        }
        if (acc >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** Top-`nprobe` centroid ids (by descending score v·c − ‖c‖²/2, i.e.
  * ascending L2 distance; ties broken by lower id) for a float/double
  * vector against a fixed centroid table — the IVF coarse-quantizer
  * kernel. Centroids live in the expression (one tree node), not as a
  * nlist × dim literal forest. Output: array<int> of length
  * min(nprobe, nlist); null input → null.
  */
case class CentroidIds(child: Expression, centroids: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression with CodegenFallback {
  require(centroids.nonEmpty && nprobe > 0)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_ids"

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"centroid_ids requires array<float|double>, got $other")
  }

  @transient private lazy val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
  @transient private lazy val halfNorms: Array[Double] =
    cs.map(c => c.map(x => x * x).sum / 2.0)

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    val nlist = cs.length
    val scores = new Array[Double](nlist)
    var ci = 0
    while (ci < nlist) {
      val c = cs(ci)
      val n = math.min(vec.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (!vec.isNullAt(i)) {
          val v = if (isF) vec.getFloat(i).toDouble else vec.getDouble(i)
          acc += v * c(i)
        }
        i += 1
      }
      // NaN (from a NaN input component) sorts below every real
      // score — canonicalize to -Inf so the selection loop's
      // comparisons stay total (round-2 ADVICE: all-NaN scores left
      // best = -1 and crashed on used(-1)).
      val s = acc - halfNorms(ci)
      scores(ci) = if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
      ci += 1
    }
    val take = math.min(nprobe, nlist)
    val picked = new Array[Int](take)
    val used = new Array[Boolean](nlist)
    var r = 0
    while (r < take) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var i = 0
      while (i < nlist) {
        // `best < 0` seeds with the first unused slot so the all-
        // (-Inf) case (every score was NaN) degrades to deterministic
        // index order instead of leaving best = -1.
        if (!used(i) && (best < 0 || scores(i) > bestS)) {
          bestS = scores(i); best = i
        }
        i += 1
      }
      used(best) = true
      picked(r) = best
      r += 1
    }
    new GenericArrayData(picked)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidIds =
    copy(child = newChild)
}

/** Shared one-pass text scan for the quality/langid kernels:
  * lowercase-tokenize (same whitespace class as `\s`), count chars /
  * non-ws chars / punctuation ([^A-Za-z0-9\s] code units), and
  * stopword hits per provided set.
  */
private[functions] object TextScan {
  import NgramHashes.isWs

  final class Counts(nSets: Int) {
    var nTokens = 0
    var nChars = 0
    var nCharsNoSp = 0
    var nPunct = 0
    val hits = new Array[Int](nSets)
  }

  def scan(raw: UTF8String, sets: Array[java.util.HashSet[String]]): Counts = {
    val s = raw.toLowerCase.toString
    val c = new Counts(sets.length)
    val len = s.length
    c.nChars = len
    var i = 0
    while (i < len) {
      val ch = s.charAt(i)
      if (!isWs(ch)) {
        c.nCharsNoSp += 1
        if (!((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
          (ch >= '0' && ch <= '9'))) c.nPunct += 1
      }
      i += 1
    }
    i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        c.nTokens += 1
        val tok = s.substring(start, i)
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(tok)) c.hits(j) += 1
          j += 1
        }
      }
    }
    c
  }

  def toSets(sss: Seq[Seq[String]]): Array[java.util.HashSet[String]] =
    sss.map { ss =>
      val h = new java.util.HashSet[String]()
      ss.foreach(w => h.add(w))
      h
    }.toArray
}

/** Composite text quality score in one pass — same formula as the
  * Column-level `TextOps.qualityScore` (kept bit-exact: HALF_UP round
  * to 6, identical guards) but a single tree node: the Column form's
  * interpreted HOF sub-trees re-evaluate wherever the optimizer
  * re-states them (pushed filters, collapsed projects). Null input →
  * null (callers coalesce to '' for the reference's NaN→"" semantics).
  */
case class QualityScoreExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"quality_score requires string, got $other")
  }

  @transient private lazy val sets = TextScan.toSets(Seq(stopwords))

  override def nullSafeEval(input: Any): Any = {
    val c = TextScan.scan(input.asInstanceOf[UTF8String], sets)
    val swr = if (c.nTokens > 0) c.hits(0).toDouble / c.nTokens else 0.0
    val mtl = if (c.nTokens > 0) c.nCharsNoSp.toDouble / c.nTokens else 0.0
    val pr = if (c.nChars > 0) c.nPunct.toDouble / c.nChars else 0.0
    val lenOk = if (mtl >= 2.0 && mtl <= 12.0) 1.0 else 0.0
    val swOk = math.min(swr * 4.0, 1.0)
    val punctOk = math.max(0.0, 1.0 - pr * 4.0)
    val q = lenOk * 0.4 + swOk * 0.3 + punctOk * 0.3
    java.lang.Double.valueOf(java.math.BigDecimal.valueOf(q)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScoreExpr =
    copy(child = newChild)
}

/** Stopword-vote language ID in one pass — argmax of per-profile hit
  * counts, ties to the earlier profile, 'und' on zero hits. Same
  * semantics as the Column-level formulation, one tree node.
  */
case class LangIdExpr(child: Expression, profiles: Seq[(String, Seq[String])])
    extends UnaryExpression with CodegenFallback {
  require(profiles.nonEmpty)
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"lang_id requires string, got $other")
  }

  @transient private lazy val sets = TextScan.toSets(profiles.map(_._2))
  @transient private lazy val names = profiles.map(p => UTF8String.fromString(p._1)).toArray
  @transient private lazy val und = UTF8String.fromString("und")

  override def nullSafeEval(input: Any): Any = {
    val c = TextScan.scan(input.asInstanceOf[UTF8String], sets)
    var best = 0
    var i = 1
    while (i < sets.length) {
      if (c.hits(i) > c.hits(best)) best = i // strict: ties keep earlier
      i += 1
    }
    if (c.hits(best) > 0) names(best) else und
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

/** Unicode NFC canonical normalization (UAX #15) of a string column —
  * the hygiene step BEFORE any content hash or exact-dedup key, so
  * that `Café` and `Café` collapse to one key. Wraps
  * `java.text.Normalizer` (NFC), with a fast-path: pure-ASCII values
  * (the overwhelming case in web corpora) return the input UTF8String
  * unchanged with zero decode/copy. The codegen path calls the same
  * static helper, so the expression stays inside whole-stage codegen.
  * Determinism note: NFC is a Unicode-standard function; the oracle
  * twin is DuckDB's `nfc_normalize` — fixtures stick to long-stable
  * codepoints (combining marks, compatibility singletons) so Unicode
  * version skew between JDK and utf8proc cannot bite.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"nfc_normalize requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static kernel shared by eval and codegen. ASCII fast path. */
  def normalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (ascii) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }
}

/** F1 `limpiar_texto` (`etl/transformar_mensual.py:91-94`) as a single
  * byte pass: null→"", collapse every run of RE2-`\s` whitespace
  * (0x09, 0x0A, 0x0C, 0x0D, 0x20 — NOT vertical tab 0x0B; see
  * [[NgramHashes.isWs]]) to one space, drop leading/trailing runs.
  * Byte-for-byte equal to
  * `trim(regexp_replace(coalesce(cast(c as string), ''), "\\s+", " "))`
  * — the composed form walks each value three times through two regex
  * allocations; this walks it once with zero garbage, and (unlike the
  * regex builtin) stays branch-cheap inside whole-stage codegen. Safe
  * on multi-byte UTF-8: the collapsed byte set is pure ASCII, and
  * UTF-8 continuation/lead bytes never collide with ASCII values.
  */
case class CleanText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "clean_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"clean_text requires string, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else CleanText.clean(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val ut = "org.apache.spark.unsafe.types.UTF8String"
    ev.copy(
      code = childGen.code +
        code"""
           |$ut ${ev.value} = ${childGen.isNull} ? $ut.EMPTY_UTF8 :
           |  graft.functions.CleanText$$.MODULE$$.clean(${childGen.value});
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CleanText =
    copy(child = newChild)
}

object CleanText {
  /** One-pass collapse+trim. Whitespace set = RE2 `\s` = `[\t\n\f\r ]`. */
  def clean(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    if (n == 0) return UTF8String.EMPTY_UTF8
    val in = s.getBytes
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = in(i)
      if ((b >= 9 && b <= 13 && b != 11) || b == 32) {
        // leading run (o == 0) is dropped outright; internal runs emit
        // one space lazily, so trailing runs emit nothing
        pendingSpace = o > 0
      } else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = b
        o += 1
      }
      i += 1
    }
    if (o == 0) UTF8String.EMPTY_UTF8 else UTF8String.fromBytes(out, 0, o)
  }
}

/** One-pass BPE segmentation pre-encoding ([[graft.operators.Bpe]]):
  * lowercase, collapse whitespace runs (`[\t\n\f\r ]`, the RE2-`\s`
  * convention) to a single `|` token fence with ends trimmed, then
  * wrap every code point in single spaces — so adjacent characters
  * are separated by a double space and the output is exactly the
  * double-space merge encoding `" t  h  e  |  f  a  s  t "`.
  * Byte-identical to the composed
  * `regexp_replace(regexp_replace(regexp_replace(lower(x), '\s+','|'),
  * '^\|+|\|+$',''), '(.)', ' $1 ')` chain the DuckDB oracle states
  * (for inputs free of the exotic line terminators `
  *  `, which Java's `.` skips), but in ONE byte pass instead of
  * three regex traversals — the same regexp-dominates lesson as
  * [[CleanText]] (CLAUDE.md: the `\s+` regex was ~45% of the
  * Transform projection).
  */
case class SpaceEncode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "space_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"space_encode requires string, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else SpaceEncode.encode(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val ut = "org.apache.spark.unsafe.types.UTF8String"
    ev.copy(
      code = childGen.code +
        code"""
           |$ut ${ev.value} = ${childGen.isNull} ? $ut.EMPTY_UTF8 :
           |  graft.functions.SpaceEncode$$.MODULE$$.encode(${childGen.value});
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SpaceEncode =
    copy(child = newChild)
}

object SpaceEncode {
  def encode(raw: UTF8String): UTF8String = {
    val s = raw.toLowerCase // exactly Spark's lower()
    val n = s.numBytes()
    if (n == 0) return UTF8String.EMPTY_UTF8
    val in = s.getBytes
    // per code point: 2 wrapping spaces + its bytes; pipes (from ws
    // runs or literal '|'s) 3 bytes each, ≤ one per input byte → ≤ 6n
    val out = new Array[Byte](6 * n)
    var o = 0
    // pipes not yet emitted: each ws RUN contributes one, each literal
    // '|' contributes one — exactly the collapsed string's pipe runs.
    // A leading run drops (o == 0) and a trailing run never flushes,
    // which is the regex chain's ^\|+ / \|+$ trim.
    var pendingPipes = 0
    var inWs = false
    var i = 0
    while (i < n) {
      val b = in(i)
      if ((b >= 9 && b <= 13 && b != 11) || b == 32) {
        if (!inWs) { pendingPipes += 1; inWs = true }
        i += 1
      } else {
        inWs = false
        if (b == '|') { pendingPipes += 1; i += 1 }
        else {
          if (o > 0) {
            while (pendingPipes > 0) {
              out(o) = ' '; out(o + 1) = '|'; out(o + 2) = ' '
              o += 3
              pendingPipes -= 1
            }
          }
          pendingPipes = 0
          val len = UTF8String.numBytesForFirstByte(b)
          out(o) = ' '; o += 1
          var j = 0
          while (j < len && i + j < n) { out(o) = in(i + j); o += 1; j += 1 }
          out(o) = ' '; o += 1
          i += len
        }
      }
    }
    if (o == 0) UTF8String.EMPTY_UTF8 else UTF8String.fromBytes(out, 0, o)
  }
}

/** HTML/markup text extraction — the step every web-corpus curation
  * pipeline runs BEFORE [[CleanText]] ever sees a document: strip
  * script and style blocks wholesale, strip remaining tags, decode the
  * named entities, collapse whitespace. Semantics are DEFINED as the
  * composed chain (which the DuckDB oracle states verbatim):
  *
  *   1. `regexp_replace(x, '(?s)<script[^>]*>.*?</script>', ' ', 'g')`
  *   2. `regexp_replace(…, '(?s)<style[^>]*>.*?</style>',  ' ', 'g')`
  *   3. `regexp_replace(…, '<[^>]*>', ' ', 'g')`
  *   4. `replace` chain: `&lt;`→`<`, `&gt;`→`>`, `&quot;`→`"`,
  *      `&#39;`→`'`, `&nbsp;`→` `, then `&amp;`→`&` LAST (so the
  *      double-escape `&amp;lt;` decodes to the literal `&lt;`, never
  *      to `<`)
  *   5. whitespace collapse + trim ([[CleanText]] semantics)
  *
  * but runs as FOUR linear byte scans with zero regex machinery — the
  * measured regexp-dominates lesson ([[CleanText]], [[SpaceEncode]]).
  * Scans 1–3 replicate the leftmost-match/continue-after-replacement
  * contract exactly: an unclosed `<script>`/`<style>` (no later close
  * tag) does NOT match, so its text survives to the tag-strip pass; a
  * `<` with no later `>` stays literal text; `[^>]*` stops at the
  * FIRST `>`, so a `>` inside a quoted attribute ends the tag there
  * (regex-faithful, documented). Scan 4 decodes entities and collapses
  * in one fused pass — sound because no decode output can assemble a
  * new entity pattern (decodes emit `< > " '` and space; only `&amp;`
  * emits `&`, it is ordered last, and the scan continues after each
  * replacement exactly like the sequential `replace` chain). Tag names
  * match case-sensitively in lowercase, as the chain states. Safe on
  * multi-byte UTF-8: every matched byte is ASCII.
  */
case class HtmlExtract(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "html_extract"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"html_extract requires string, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else HtmlExtract.extract(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val ut = "org.apache.spark.unsafe.types.UTF8String"
    ev.copy(
      code = childGen.code +
        code"""
           |$ut ${ev.value} = ${childGen.isNull} ? $ut.EMPTY_UTF8 :
           |  graft.functions.HtmlExtract$$.MODULE$$.extract(${childGen.value});
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HtmlExtract =
    copy(child = newChild)
}

object HtmlExtract {

  @inline private def startsWith(in: Array[Byte], n: Int, i: Int, pat: Array[Byte]): Boolean = {
    if (i + pat.length > n) return false
    var j = 0
    while (j < pat.length) {
      if (in(i + j) != pat(j)) return false
      j += 1
    }
    true
  }

  private def indexOf(in: Array[Byte], n: Int, from: Int, pat: Array[Byte]): Int = {
    var i = from
    val last = n - pat.length
    while (i <= last) {
      if (startsWith(in, n, i, pat)) return i
      i += 1
    }
    -1
  }

  /** `regexp_replace(x, '(?s)<NAME[^>]*>.*?</NAME>', ' ', 'g')` as one
    * byte scan: at each `<NAME`, the open tag ends at the first later
    * `>` and the block at the first `</NAME>` after it; either missing
    * → no match, the `<` is emitted and scanning resumes at the next
    * byte (exactly the regex's try-next-position rule).
    */
  private def stripBlock(in: Array[Byte], n: Int, openPat: Array[Byte], closePat: Array[Byte]): (Array[Byte], Int) = {
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    while (i < n) {
      var matched = false
      if (in(i) == '<' && startsWith(in, n, i, openPat)) {
        var k = i + openPat.length
        while (k < n && in(k) != '>') k += 1
        if (k < n) {
          val m = indexOf(in, n, k + 1, closePat)
          if (m >= 0) {
            out(o) = ' '; o += 1
            i = m + closePat.length
            matched = true
          }
        }
      }
      if (!matched) { out(o) = in(i); o += 1; i += 1 }
    }
    (out, o)
  }

  private val scriptOpen = "<script".getBytes
  private val scriptClose = "</script>".getBytes
  private val styleOpen = "<style".getBytes
  private val styleClose = "</style>".getBytes
  // entity table, ordered: &amp; LAST (the sequential-chain rule); at
  // any position at most one pattern matches (distinct byte after '&')
  private val entities: Array[(Array[Byte], Byte)] = Array(
    ("&lt;".getBytes, '<'.toByte),
    ("&gt;".getBytes, '>'.toByte),
    ("&quot;".getBytes, '"'.toByte),
    ("&#39;".getBytes, '\''.toByte),
    ("&nbsp;".getBytes, ' '.toByte),
    ("&amp;".getBytes, '&'.toByte))

  def extract(raw: UTF8String): UTF8String = {
    val n0 = raw.numBytes()
    if (n0 == 0) return UTF8String.EMPTY_UTF8
    val (b1, n1) = stripBlock(raw.getBytes, n0, scriptOpen, scriptClose)
    val (b2, n2) = stripBlock(b1, n1, styleOpen, styleClose)
    // tag strip: '<[^>]*>' → ' '; '<' with no later '>' stays literal
    val b3 = new Array[Byte](n2)
    var o3 = 0
    var i = 0
    while (i < n2) {
      var matched = false
      if (b2(i) == '<') {
        var k = i + 1
        while (k < n2 && b2(k) != '>') k += 1
        if (k < n2) { b3(o3) = ' '; o3 += 1; i = k + 1; matched = true }
      }
      if (!matched) { b3(o3) = b2(i); o3 += 1; i += 1 }
    }
    // fused entity decode + whitespace collapse + trim
    val out = new Array[Byte](o3)
    var o = 0
    var pendingSpace = false
    @inline def emit(b: Byte): Unit = {
      if ((b >= 9 && b <= 13 && b != 11) || b == 32) pendingSpace = o > 0
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = b
        o += 1
      }
    }
    i = 0
    while (i < o3) {
      var decoded = false
      if (b3(i) == '&') {
        var e = 0
        while (!decoded && e < entities.length) {
          val (pat, rep) = entities(e)
          if (startsWith(b3, o3, i, pat)) {
            emit(rep)
            i += pat.length
            decoded = true
          }
          e += 1
        }
      }
      if (!decoded) { emit(b3(i)); i += 1 }
    }
    if (o == 0) UTF8String.EMPTY_UTF8 else UTF8String.fromBytes(out, 0, o)
  }
}

/** URL canonicalization — the key function web-corpus dedup and
  * host-grain governance hang off (every crawl pipeline dedups by
  * canonical URL before it ever looks at content). Semantics are
  * DEFINED as the composed SQL chain (which the DuckDB oracle and the
  * ExpressionEdgeSpec reference state verbatim):
  *
  *   1. fragment strip: everything from the first `#` drops
  *   2. no `://` present → `lower(...)` of the remainder and stop
  *   3. scheme = `lower(` up to the first `://` `)`
  *   4. hostport = the run up to the first `/` or `?` after `://`,
  *      lowercased; default port strip: `:80` when scheme = http,
  *      `:443` when scheme = https
  *   5. path = up to the first `?` (empty path renders as `/`,
  *      case PRESERVED — paths are case-sensitive per RFC 3986)
  *   6. query = after the first `?`: split on `&`, drop empty params,
  *      `utm_*`-prefixed params, and params whose key (up to the first
  *      `=`) is `fbclid`/`gclid`/`ref`; sort survivors bytewise
  *      ascending; rejoin with `&` (omit `?` when none survive)
  *
  * executed as ONE byte scan + a bounded slice sort. Lowercasing is
  * ASCII `A-Z` only — URLs are ASCII per RFC 3986 (IRIs out of scope);
  * the chain's `lower()` agrees on that domain and the spec fuzzes
  * ASCII. Null in → null out.
  */
case class UrlCanon(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_canon"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"url_canon requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    UrlCanon.canon(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlCanon$$.MODULE$$.canon($c)")

  override protected def withNewChildInternal(newChild: Expression): UrlCanon =
    copy(child = newChild)
}

object UrlCanon {

  @inline private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  private val dropKeys: Array[Array[Byte]] =
    Array("fbclid".getBytes, "gclid".getBytes, "ref".getBytes)
  private val utm = "utm_".getBytes
  private[functions] val httpBytes = "http".getBytes
  private[functions] val httpsBytes = "https".getBytes

  @inline private def sliceEq(in: Array[Byte], s: Int, e: Int, pat: Array[Byte]): Boolean = {
    if (e - s != pat.length) return false
    var j = 0
    while (j < pat.length) { if (in(s + j) != pat(j)) return false; j += 1 }
    true
  }

  @inline private def sliceStarts(in: Array[Byte], s: Int, e: Int, pat: Array[Byte]): Boolean = {
    if (e - s < pat.length) return false
    var j = 0
    while (j < pat.length) { if (in(s + j) != pat(j)) return false; j += 1 }
    true
  }

  def canon(raw: UTF8String): UTF8String = {
    val in = raw.getBytes
    // 1. fragment strip
    var n = 0
    while (n < in.length && in(n) != '#') n += 1
    // 2. first "://"
    var sep = -1
    var i = 0
    while (sep < 0 && i + 2 < n) {
      if (in(i) == ':' && in(i + 1) == '/' && in(i + 2) == '/') sep = i else i += 1
    }
    if (sep < 0) {
      val out = new Array[Byte](n)
      i = 0
      while (i < n) { out(i) = lowerAscii(in(i)); i += 1 }
      return UTF8String.fromBytes(out)
    }
    val rest = sep + 3
    // 4. hostport run
    var he = rest
    while (he < n && in(he) != '/' && in(he) != '?') he += 1
    // scheme lowered for the default-port test
    val scheme = new Array[Byte](sep)
    i = 0
    while (i < sep) { scheme(i) = lowerAscii(in(i)); i += 1 }
    val isHttp = sliceEq(scheme, 0, sep, UrlCanon.httpBytes)
    val isHttps = sliceEq(scheme, 0, sep, UrlCanon.httpsBytes)
    val host = new Array[Byte](he - rest)
    i = 0
    while (i < host.length) { host(i) = lowerAscii(in(rest + i)); i += 1 }
    val hostLen =
      if (isHttp && host.length >= 3 && host(host.length - 3) == ':' &&
        host(host.length - 2) == '8' && host(host.length - 1) == '0') host.length - 3
      else if (isHttps && host.length >= 4 && host(host.length - 4) == ':' &&
        host(host.length - 3) == '4' && host(host.length - 2) == '4' &&
        host(host.length - 1) == '3') host.length - 4
      else host.length
    // 5. path up to first '?'
    var qs = he
    while (qs < n && in(qs) != '?') qs += 1
    val pathStart = he
    val pathEnd = qs
    // 6. query params
    val params = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    if (qs < n) {
      var ps = qs + 1
      var p = ps
      while (p <= n) {
        if (p == n || in(p) == '&') {
          if (p > ps) {
            var keyEnd = ps
            while (keyEnd < p && in(keyEnd) != '=') keyEnd += 1
            val isUtm = sliceStarts(in, ps, p, utm)
            var isDrop = isUtm
            var d = 0
            while (!isDrop && d < dropKeys.length) {
              if (sliceEq(in, ps, keyEnd, dropKeys(d))) isDrop = true
              d += 1
            }
            if (!isDrop) params += ((ps, p))
          }
          ps = p + 1
        }
        p += 1
      }
    }
    val sorted = params.sortWith { case ((s1, e1), (s2, e2)) =>
      var j = 0
      val l1 = e1 - s1
      val l2 = e2 - s2
      val m = math.min(l1, l2)
      var cmp = 0
      while (cmp == 0 && j < m) {
        cmp = (in(s1 + j) & 0xff) - (in(s2 + j) & 0xff)
        j += 1
      }
      if (cmp != 0) cmp < 0 else l1 < l2
    }
    // assemble
    val qLen = sorted.map { case (s, e) => e - s + 1 }.sum // incl. '&'/'?' separators
    val pathLen = if (pathEnd > pathStart) pathEnd - pathStart else 1
    val out = new Array[Byte](sep + 3 + hostLen + pathLen + qLen)
    var o = 0
    System.arraycopy(scheme, 0, out, o, sep); o += sep
    out(o) = ':'; out(o + 1) = '/'; out(o + 2) = '/'; o += 3
    System.arraycopy(host, 0, out, o, hostLen); o += hostLen
    if (pathEnd > pathStart) {
      System.arraycopy(in, pathStart, out, o, pathEnd - pathStart); o += pathEnd - pathStart
    } else { out(o) = '/'; o += 1 }
    var first = true
    sorted.foreach { case (s, e) =>
      out(o) = if (first) '?' else '&'; o += 1; first = false
      System.arraycopy(in, s, out, o, e - s); o += e - s
    }
    UTF8String.fromBytes(out)
  }
}

/** One-pass token-repetition profile of a text column — the
  * Gopher-style repetition quality signals (Rae et al. 2021, public:
  * "Scaling Language Models: ... Gopher"; repetition filters drop docs
  * whose most-frequent n-gram dominates). Tokenization matches the
  * engine's whitespace convention (`TextOps.tokens`: lowercase, split
  * on regex-`\s` runs, drop empties), so the DuckDB oracle twin
  * (`string_split_regex(lower(text),'\s+')`) sees identical tokens.
  *
  * Output struct: n_tokens, n_distinct (distinct tokens), n_bigrams
  * (= max(n_tokens−1, 0)), top_bigram_count (occurrences of the modal
  * adjacent bigram). All counts exact ints — ratios derived in Column
  * space stay bit-exact across engines. One map-side pass, one hash
  * map per row, no shuffle: scales with the scan. Null input → null
  * (callers coalesce to '' for the reference's NaN→"" convention).
  */
case class TokenRepetition(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("top_bigram_count", IntegerType, nullable = false)))
  override def prettyName: String = "token_repetition"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"token_repetition requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toLowerCase.toString
    val len = s.length
    @inline def isWs(c: Char): Boolean = NgramHashes.isWs(c)
    val distinct = new java.util.HashSet[String]()
    val bigrams = new java.util.HashMap[String, Int]()
    var nTokens = 0
    var top = 0
    var prev: String = null
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tok = s.substring(start, i)
        nTokens += 1
        distinct.add(tok)
        if (prev != null) {
          val c = bigrams.merge(prev + " " + tok, 1, (a, b) => a + b)
          if (c > top) top = c
        }
        prev = tok
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, distinct.size(), math.max(nTokens - 1, 0), top))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenRepetition =
    copy(child = newChild)
}

/** Distinct word n-grams of a text column as STRINGS, one pass — the
  * kernel form of `Dedup.shingles`'s HOF composition
  * (`transform(sequence…, slice+concat_ws)` builds an interpreted
  * lambda per gram; this walks the token list once). Tokenization is
  * the engine convention (lowercase, regex-`\s` split, drop empties);
  * grams join with a single space; output keeps first-occurrence order
  * exactly like `array_distinct`. Null or short input → empty array
  * (matches the composed form's `otherwise(array())`). String grams —
  * not hashes — so DuckDB twins (`array_to_string(toks[i:i+n-1])`)
  * compare bit-exactly; hash-keyed flows use [[NgramHashes]] instead.
  *
  * `dedup = false` keeps every occurrence in order (one gram per token
  * window) — the multiplicity-preserving form collocation counting
  * needs; dedup = true (the default) matches shingle semantics.
  */
case class WordNgrams(child: Expression, n: Int, dedup: Boolean = true)
    extends UnaryExpression {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"word_ngrams requires string, got $other")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any])
    else WordNgrams.grams(v.asInstanceOf[UTF8String], n, dedup)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    ev.copy(
      code = childGen.code +
        code"""
           |$ad ${ev.value} = ${childGen.isNull}
           |  ? new $gad(new Object[0])
           |  : graft.functions.WordNgrams$$.MODULE$$.grams(${childGen.value}, $n, $dedup);
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  /** Space-joined word n-grams: distinct first-occurrence order when
    * `dedup`, else every window in sequence order.
    */
  def grams(text: UTF8String, n: Int, dedup: Boolean = true): GenericArrayData = {
    val s = text.toLowerCase.toString
    val len = s.length
    @inline def isWs(c: Char): Boolean = NgramHashes.isWs(c)
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) toks += s.substring(start, i)
    }
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val all = if (dedup) null else new scala.collection.mutable.ArrayBuffer[String]()
    var g = 0
    while (g <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(g + j))
        j += 1
      }
      if (dedup) seen.add(sb.toString) else all += sb.toString
      g += 1
    }
    if (dedup) {
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](all.length)
      var k = 0
      while (k < all.length) { out(k) = UTF8String.fromString(all(k)); k += 1 }
      new GenericArrayData(out)
    }
  }
}

/** Int8 scalar-quantization profile of a float/double vector in one
  * pass: per-vector min/max range, codes
  * `floor(((x − mn) · 255) / (mx − mn))` (0..255; all-equal vectors
  * quantize to 0), summarized as (q_min, q_max, q_sum, scale) with
  * scale = (mx − mn)/255. Every arithmetic step is a fixed-order IEEE
  * double op, so a DuckDB `list_transform` twin with the same
  * association reproduces the codes bit-exactly. Null elements are
  * skipped (SQL NULL propagation); an all-null or empty vector → null.
  * Map-side only — the codes for a real quantized sink would be
  * emitted the same way, one byte per element, no shuffle.
  */
case class QuantizeStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("q_min", IntegerType, nullable = false),
    StructField("q_max", IntegerType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("scale", DoubleType, nullable = false)))
  override def prettyName: String = "quantize_stats"

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_stats requires array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val isF = elemIsFloat
    @inline def elem(i: Int): Double =
      if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
    var mn = 0.0
    var mx = 0.0
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = elem(i)
        if (!any) { mn = v; mx = v; any = true }
        else {
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
      }
      i += 1
    }
    if (!any) return null
    val denom = mx - mn
    var qmin = Int.MaxValue
    var qmax = Int.MinValue
    var qsum = 0L
    i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val code =
          if (denom > 0) math.floor(((elem(i) - mn) * 255.0) / denom).toInt
          else 0
        if (code < qmin) qmin = code
        if (code > qmax) qmax = code
        qsum += code
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](qmin, qmax, qsum, denom / 255.0))
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeStats =
    copy(child = newChild)
}

/** Aho–Corasick multi-pattern occurrence counter (Aho & Corasick,
  * CACM 1975 — public literature): for each literal pattern, the
  * number of positions of the input where an occurrence ENDS — all
  * occurrences, overlapping included ("a a" occurs twice in "a a a"),
  * suffix patterns included ("value" inside "hash value" counts for
  * both, via the automaton's output links). This is the
  * blocklist-filter shape of web-corpus ingest (spam phrases,
  * boilerplate markers, unsafe-content lexicons): one shared automaton
  * over the WHOLE lexicon instead of |patterns| regex passes.
  *
  * The full goto/fail automaton (dense ASCII transition table; BFS
  * precomputed delta, so matching never walks fail chains) is built
  * once per expression instance from the literal pattern list — the
  * lexicon is part of the PLAN, like PqCodes' codebooks — and shipped
  * inside the serialized expression. Matching is one O(len) scan per
  * row with NO shuffle, no per-row automaton build, no regex engine:
  * map-only at 100 TB, and the lexicon can grow to 10⁵ phrases
  * without adding passes (the scan cost is independent of |patterns|;
  * only the output-chain hits cost extra, and those are the answer).
  *
  * Input: string; output: array<long> of per-pattern counts aligned
  * with `patterns` order (null input → null). Non-ASCII characters
  * can't appear in any pattern (asserted) and reset to the root via
  * the dense table's 0 column.
  */
case class MultiPatternCount(child: Expression, patterns: Seq[String])
    extends UnaryExpression with CodegenFallback {
  require(patterns.nonEmpty, "patterns must be non-empty")
  require(patterns.forall(p => p.nonEmpty && p.forall(_ < 128)),
    "patterns must be non-empty ASCII literals")
  require(patterns.distinct == patterns, "patterns must be distinct")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "multi_pattern_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"multi_pattern_count requires string, got $other")
  }

  @transient private lazy val ac = MultiPatternCount.Automaton.build(patterns)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new Array[Long](patterns.length)
    val a = ac
    var state = 0
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      state = if (c < 128) a.delta(state * 128 + c) else 0
      var o = if (a.out(state) >= 0) state else a.olink(state)
      while (o > 0) { counts(a.out(o)) += 1L; o = a.olink(o) }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiPatternCount =
    copy(child = newChild)
}

object MultiPatternCount {
  /** Precomputed full automaton: `delta` is the dense states×128
    * transition table (fail links already folded in by the BFS), `out`
    * the pattern id ending exactly at a state (−1 if none; patterns
    * are distinct so at most one), `olink` the nearest proper-suffix
    * state that ends a pattern (0 = none).
    */
  final case class Automaton(delta: Array[Int], out: Array[Int], olink: Array[Int])

  object Automaton {
    def build(patterns: Seq[String]): Automaton = {
      val maxStates = 1 + patterns.map(_.length).sum
      val goto = Array.fill(maxStates * 128)(-1)
      val out = Array.fill(maxStates)(-1)
      var nStates = 1
      patterns.zipWithIndex.foreach { case (p, pid) =>
        var s = 0
        var i = 0
        while (i < p.length) {
          val c = p.charAt(i)
          if (goto(s * 128 + c) < 0) { goto(s * 128 + c) = nStates; nStates += 1 }
          s = goto(s * 128 + c)
          i += 1
        }
        out(s) = pid
      }
      val delta = new Array[Int](nStates * 128)
      val fail = new Array[Int](nStates)
      val olink = new Array[Int](nStates)
      val queue = new java.util.ArrayDeque[Integer]()
      var c = 0
      while (c < 128) {
        val t = goto(c)
        if (t >= 0) { delta(c) = t; queue.add(t) } else delta(c) = 0
        c += 1
      }
      while (!queue.isEmpty) {
        val s = queue.poll().intValue()
        olink(s) = if (out(fail(s)) >= 0) fail(s) else olink(fail(s))
        var ch = 0
        while (ch < 128) {
          val t = goto(s * 128 + ch)
          if (t >= 0) {
            fail(t) = delta(fail(s) * 128 + ch)
            delta(s * 128 + ch) = t
            queue.add(t)
          } else delta(s * 128 + ch) = delta(fail(s) * 128 + ch)
          ch += 1
        }
      }
      Automaton(delta, java.util.Arrays.copyOf(out, nStates), olink)
    }
  }
}

/** Luhn checksum validation (ISO/IEC 7812, public standard) of a digit
  * string — the verification step that turns "13-19 digit run" PII
  * candidates into actual payment-card detections (a plain digit-run
  * regex over numeric-heavy corpora is almost all false positives;
  * the checksum kills ~90% of them). Pure per-value integer
  * arithmetic: doubling every second digit from the right, subtracting
  * 9 on overflow, valid iff the sum is ≡ 0 (mod 10) — replayed
  * bit-exactly by a SQL list_transform. Returns false for empty or
  * non-digit input, null for null.
  */
case class LuhnCheck(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "luhn_check"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"luhn_check requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    if (len == 0) return false
    var sum = 0
    var i = len - 1
    var second = false
    while (i >= 0) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (second) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      second = !second
      i -= 1
    }
    sum % 10 == 0
  }

  override protected def withNewChildInternal(c: Expression): LuhnCheck =
    copy(child = c)
}

object exprs {
  import org.apache.spark.sql.GraftShim

  /** One-pass F1 cleaning kernel over a string column. */
  def cleanText(c: Column): Column =
    GraftShim.column(CleanText(GraftShim.expression(c)))

  /** HTML tag/script/style strip + entity decode + ws collapse. */
  def htmlExtract(c: Column): Column =
    GraftShim.column(HtmlExtract(GraftShim.expression(c)))

  /** URL canonicalization (fragment/default-port/tracking-param strip,
    * case fold, query-param sort). */
  def urlCanon(c: Column): Column =
    GraftShim.column(UrlCanon(GraftShim.expression(c)))

  /** One-pass BPE double-space encoding kernel. */
  def spaceEncode(c: Column): Column =
    GraftShim.column(SpaceEncode(GraftShim.expression(c)))

  /** SimHash fingerprint of a token array column. */
  def simhash64(tokens: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(tokens)))

  /** Winnowing fingerprint set of a text column. */
  def winnowFingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    GraftShim.column(WinnowFingerprint(GraftShim.expression(text), k, w))

  /** Double dot product of two float/double array columns. */
  def vecDot(a: Column, b: Column): Column =
    GraftShim.column(VecDot(GraftShim.expression(a), GraftShim.expression(b)))

  /** Unicode NFC canonical normalization (ASCII fast-path). */
  def nfcNormalize(c: Column): Column =
    GraftShim.column(NfcNormalize(GraftShim.expression(c)))

  /** Late-interaction MaxSim score of two flat multi-vector columns. */
  def maxSimScore(query: Column, doc: Column, slices: Int): Column =
    GraftShim.column(MaxSimScore(
      GraftShim.expression(query), GraftShim.expression(doc), slices))

  /** floor(x·scale) integer codes of a float/double array column. */
  def quantizeVec(vec: Column, scale: Int): Column =
    GraftShim.column(QuantizeVec(GraftShim.expression(vec), scale))

  /** ±1 Rademacher projection of a quantized long-array column. */
  def signedProject(qvec: Column, signs: Seq[Seq[Int]]): Column =
    GraftShim.column(SignedProject(GraftShim.expression(qvec), signs))

  /** Exact integer squared L2 distance of two long-array columns. */
  def longVecDistSq(a: Column, b: Column): Column =
    GraftShim.column(LongVecDistSq(GraftShim.expression(a), GraftShim.expression(b)))

  /** Content-defined chunk (md5, len) structs of a string column. */
  def cdcChunks(text: Column, w: Int = 16, b: Int = 31,
      m: Long = 1000000007L, d: Int = 64): Column =
    GraftShim.column(CdcChunks(GraftShim.expression(text), w, b, m, d))

  /** #elements ≤ key in a sorted array column (binary search). */
  def searchSortedCount(sortedArr: Column, key: Column): Column =
    GraftShim.column(SearchSortedCount(
      GraftShim.expression(sortedArr), GraftShim.expression(key)))

  /** PQ codes of a vector against w-grid codebooks. */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Long]]]): Column =
    GraftShim.column(PqCodes(GraftShim.expression(vec), codebooks))

  /** ADC lookup table of a probe vector against w-grid codebooks. */
  def pqAdcTable(vec: Column, codebooks: Seq[Seq[Seq[Long]]]): Column =
    GraftShim.column(PqAdcTable(GraftShim.expression(vec), codebooks))

  /** ADC distance: sum of per-subspace table entries at the codes. */
  def adcDistance(codes: Column, table: Column, ksub: Int): Column =
    GraftShim.column(AdcDistance(
      GraftShim.expression(codes), GraftShim.expression(table), ksub))

  /** Residual-quantization codes [c1, c2] (sequential two-level). */
  def rqCodes(vec: Column, cb1: Seq[Seq[Long]], cb2: Seq[Seq[Long]]): Column =
    GraftShim.column(RqCodes(GraftShim.expression(vec), cb1, cb2))

  /** Distinct word n-gram hashes of a text column. */
  def ngramHashes(text: Column, n: Int): Column =
    GraftShim.column(NgramHashes(GraftShim.expression(text), n))

  /** SimHash fingerprint straight from a text column (one pass). */
  def simhashText(text: Column): Column =
    GraftShim.column(SimHashText(GraftShim.expression(text)))

  /** MinHash signature (length numHashes) of a shingle-hash array. */
  def minhashSig(shingleHashes: Column, numHashes: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(shingleHashes), numHashes))

  /** Count of positions where two array<long> columns agree. */
  def longArrayMatchCount(a: Column, b: Column): Column =
    GraftShim.column(LongArrayMatchCount(GraftShim.expression(a), GraftShim.expression(b)))

  /** One-pass composite quality score of a text column. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    GraftShim.column(QualityScoreExpr(GraftShim.expression(text), stopwords))

  /** One-pass stopword-vote language ID of a text column. */
  def langId(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    GraftShim.column(LangIdExpr(GraftShim.expression(text), profiles))

  /** Top-nprobe nearest-centroid ids of a vector (IVF quantizer). */
  def centroidIds(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    GraftShim.column(CentroidIds(GraftShim.expression(vec), centroids, nprobe))

  /** Map-side bloom probe of a long column vs a serialized filter. */
  def bloomMightContainLong(h: Column, filterBytes: Array[Byte]): Column =
    GraftShim.column(BloomMightContainLong(GraftShim.expression(h), filterBytes))

  /** Distinct word n-grams as strings, one pass (kernel shingles). */
  def wordNgrams(text: Column, n: Int): Column =
    GraftShim.column(WordNgrams(GraftShim.expression(text), n))

  /** ALL word n-grams in sequence order (multiplicity preserved) —
    * the counting form for collocation / language-model statistics.
    */
  def wordNgramsAll(text: Column, n: Int): Column =
    GraftShim.column(WordNgrams(GraftShim.expression(text), n, dedup = false))

  /** One-pass token repetition profile (Gopher-style signals). */
  def tokenRepetition(text: Column): Column =
    GraftShim.column(TokenRepetition(GraftShim.expression(text)))

  /** One-pass int8 scalar-quantization profile of a vector column. */
  def quantizeStats(vec: Column): Column =
    GraftShim.column(QuantizeStats(GraftShim.expression(vec)))

  /** Luhn checksum validity of a digit-string column. */
  def luhnCheck(digits: Column): Column =
    GraftShim.column(LuhnCheck(GraftShim.expression(digits)))

  /** Per-pattern occurrence counts (Aho–Corasick, one shared scan). */
  def multiPatternCount(text: Column, patterns: Seq[String]): Column =
    GraftShim.column(MultiPatternCount(GraftShim.expression(text), patterns))

  /** Random-hyperplane LSH bucket ids (one per table) of a vector. */
  def hyperplaneBuckets(
      vec: Column, dim: Int, tables: Int, planesPerTable: Int, seed: Long): Column =
    GraftShim.column(
      HyperplaneBuckets(GraftShim.expression(vec), dim, tables, planesPerTable, seed))
}
