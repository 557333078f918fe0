package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot paths (SURVEY.md §7.4:
  * custom `Expression` preferred over UDFs — these participate in
  * whole-stage codegen, so the similarity/dedup kernels run as tight Java
  * loops instead of interpreted higher-order-function folds).
  *
  * Semantics are bit-identical to the HOF formulations they replace (and
  * to the DuckDB oracles): left-to-right double accumulation, md5-hex
  * prefix parsing.
  */
object HashUtil {
  private val mdTl =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 15 hex chars of md5 as a 60-bit non-negative long — equal to
    * `CAST(conv(substr(md5(s),1,15),16,10) AS BIGINT)` but without the
    * hex-string round-trip. */
  def hex60md5(s: UTF8String): Long = {
    val md = mdTl.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Full 16-byte md5 digest of a string's UTF-8 bytes. */
  def md5bytes(s: String): Array[Byte] = {
    val md = mdTl.get()
    md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private final val P = 2147483647L
  private final val MA: Array[Long] =
    Array.tabulate(16)(j => (2654435761L * (j + 1)) % P)
  private final val MB: Array[Long] =
    Array.tabulate(16)(j => (40503L * (j + 1) + 17L) % P)

  /** All 16 minhash signature values of a shingle-hash array (null for
    * empty input). Called from generated code. */
  def minhashSigs(hs: ArrayData): Array[Long] = {
    val n = hs.numElements()
    if (n == 0) return null
    val sigs = Array.fill(16)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 16) {
        val v = (MA(j) * h + MB(j)) % P
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      i += 1
    }
    sigs
  }

  /** Word-3-gram shingle hashes of a text in one pass: split on single
    * spaces (same token boundaries as `split(text, ' ')`), join each
    * 3-token window with single spaces (same bytes `concat_ws(' ', ...)`
    * produces), md5-prefix-hash mod 2^31−1. Duplicate shingles are NOT
    * removed — min-hash signatures are multiset-invariant, so the min per
    * permutation equals the distinct-set formulation the oracle uses.
    * Returns null when there are fewer than 3 tokens. */
  def shingleHashes(s: UTF8String): Array[Long] = {
    val bytes = s.getBytes
    // token boundaries: indices of spaces
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    if (nTok < 3) return null
    val starts = new Array[Int](nTok + 1)
    var t = 1
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = bytes.length + 1
    val md = mdTl.get()
    val out = new Array[Long](nTok - 2)
    var k = 0
    while (k < nTok - 2) {
      // shingle = bytes[starts(k) .. starts(k+3)-2] (three tokens + the
      // two separating spaces, excluding the trailing space)
      md.reset()
      md.update(bytes, starts(k), starts(k + 3) - 1 - starts(k) - 1 + 1)
      val d = md.digest()
      var h = 0L
      i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h = (h << 4) | ((d(7) & 0xf0L) >>> 4)
      out(k) = h % P
      k += 1
    }
    out
  }

  /** DISTINCT word-n-gram 60-bit hashes in one byte-level pass — value-
    * identical to `array_distinct(transform(sequence(1, nTok-n+1), i ->
    * hex60(concat_ws(' ', slice(split(text,' '), i, n)))))` but ~40×
    * faster: higher-order-function lambdas evaluate interpreted per
    * element, while this hashes each n-token byte range in place (the
    * joined n-gram IS the original byte span, spaces included). Returns
    * an empty array for docs shorter than n tokens. Called from generated
    * code. */
  def ngramHashes(s: UTF8String, n: Int): Array[Long] = {
    val bytes = s.getBytes
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    if (nTok < n) return Array.emptyLongArray
    val starts = new Array[Int](nTok + 1)
    var t = 1
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = bytes.length + 1
    val md = mdTl.get()
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](nTok - n + 1)
    var m = 0
    var k = 0
    while (k <= nTok - n) {
      md.reset()
      md.update(bytes, starts(k), starts(k + n) - starts(k) - 1)
      val d = md.digest()
      var h = 0L
      i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h = (h << 4) | ((d(7) & 0xf0L) >>> 4)
      if (seen.add(h)) { out(m) = h; m += 1 }
      k += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** Stride-1 character-L-gram 60-bit hashes: hex60md5 of every L-byte
    * window, position i (0-based) → element i, duplicates kept (the
    * consumer needs positions). Byte windows equal character windows
    * for single-byte text (the harness corpus is pure ASCII — verified
    * octet_length == length); a multibyte corpus would swap this to
    * codepoint boundaries. Empty array when shorter than L. Called
    * from generated code. */
  def charNgramHashes(s: UTF8String, n: Int): Array[Long] = {
    val bytes = s.getBytes
    if (bytes.length < n) return Array.emptyLongArray
    val md = mdTl.get()
    val out = new Array[Long](bytes.length - n + 1)
    var k = 0
    while (k <= bytes.length - n) {
      md.reset()
      md.update(bytes, k, n)
      val d = md.digest()
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      out(k) = (h << 4) | ((d(7) & 0xf0L) >>> 4)
      k += 1
    }
    out
  }

  /** 48-bit simhash straight from text: tokenize, build the DISTINCT
    * word-3-gram shingle set (exact string dedupe — simhash, unlike
    * minhash, is multiset-sensitive), md5-hash each mod 2^48, majority
    * vote per bit. Values identical to the expression-chain formulation
    * the oracle uses. */
  def simhash48FromText(s: UTF8String): Long = {
    val bytes = s.getBytes
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val cnt = new Array[Int](48)
    var n = 0
    if (nTok >= 3) {
      val starts = new Array[Int](nTok + 1)
      var t = 1
      starts(0) = 0
      i = 0
      while (i < bytes.length) {
        if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
        i += 1
      }
      starts(nTok) = bytes.length + 1
      val seen = new java.util.HashSet[String]()
      val md = mdTl.get()
      var k = 0
      while (k < nTok - 2) {
        val from = starts(k)
        val len = starts(k + 3) - 1 - from
        val shingle = new String(bytes, from, len,
          java.nio.charset.StandardCharsets.UTF_8)
        if (seen.add(shingle)) {
          md.reset()
          md.update(bytes, from, len)
          val d = md.digest()
          var h = 0L
          i = 0
          while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          h = ((h << 4) | ((d(7) & 0xf0L) >>> 4)) % 281474976710656L
          var b = 0
          while (b < 48) {
            if (((h >>> b) & 1L) == 1L) cnt(b) += 1
            b += 1
          }
          n += 1
        }
        k += 1
      }
    }
    var sh = 0L
    var b = 0
    while (b < 48) {
      if (2 * cnt(b) - n > 0) sh |= (1L << b)
      b += 1
    }
    sh
  }

  /** 48-bit simhash of a feature-hash array. Called from generated code. */
  def simhash48(hs: ArrayData): Long = {
    val n = hs.numElements()
    val cnt = new Array[Int](48)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 48) {
        if (((h >>> b) & 1L) == 1L) cnt(b) += 1
        b += 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < 48) {
      if (2 * cnt(b) - n > 0) sh |= (1L << b)
      b += 1
    }
    sh
  }
}

/** Dot product of two numeric arrays (float or double elements) as one
  * codegen'd loop; accumulation order is left-to-right, matching
  * `aggregate(zip_with(...))` and DuckDB's `list_reduce`. Like the
  * `aggregate(zip_with(...))` formulation it claims bit-identity with, a
  * length mismatch or a null element yields NULL (zip_with null-pads the
  * shorter side; the fold then propagates the null) rather than a
  * silently-truncated plausible number. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs must be array<float> / array<double> columns (AbstractDataType /
  // ExpectsInputTypes are private[sql], so the contract is enforced by use)

  override def dataType: DataType = DoubleType

  // null even when both inputs are non-null (mismatched dims/null element)
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** SQ8 scalar quantizer: array<float|double> → array<int> int8 codes,
  * code_i = round_half_away(v_i / maxabs(v) * 127). One O(d) maxabs pass
  * + one O(d) quantize pass — the codegen replacement for the HOF
  * formulation `transform(v, x -> round(x / array_max(...) * 127))`,
  * which Catalyst collapse inlines into an O(d²)-per-row interpreted
  * lambda (the scale subexpression re-evaluates per element). Rounding
  * is binary half-away-from-zero, which agrees with Spark's
  * BigDecimal-HALF_UP `round()` and DuckDB's `round()` for every
  * representable input (shortest-decimal round-trip preserves the
  * fractional-half relation). */
case class Sq8Quantize(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, false)

  override def nullable: Boolean = true

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    val n = a.numElements()
    val out = new Array[Int](n)
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      val ax = math.abs(x)
      if (ax > mx) mx = ax
      i += 1
    }
    i = 0
    while (i < n) {
      val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = Sq8Quantize.code(x, mx)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val mx = ctx.freshName("mx")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |int[] $out = new int[$n];
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; }
         |  else {
         |    double $x = Math.abs((double) $a.$get($i));
         |    if ($x > $mx) { $mx = $x; }
         |  }
         |}
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = graft.plans.Sq8Quantize.code(
         |      (double) $a.$get($i), $mx);
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object Sq8Quantize {
  /** Half-away-from-zero on the exact binary fraction (no +0.5 addition,
    * so no double-rounding edge at values just below a half). */
  def code(x: Double, maxAbs: Double): Int = {
    if (maxAbs == 0.0) return 0
    val v = x / maxAbs * 127.0
    val a = math.abs(v)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    (if (v < 0) -r else r).toInt
  }
}

/** Integer dot product over two array<int> code vectors → bigint. The
  * codegen mate of [[Sq8Quantize]]: integer MACs, no per-element lambda
  * interpretation, exact (no float fold order to pin). */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += ((long) $a.getInt($i)) * ((long) $b.getInt($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** `graft_zvalue(a, b)` — 64-bit Morton/Z-value of two cell indices:
  * the bits of `a` occupy the even positions, `b` the odd ones, so
  * ordering by the result interleaves the two dimensions and any
  * CONTIGUOUS Z-range covers a bounded rectangle set in (a, b) space.
  * That is the whole multi-dimensional-clustering trick (Delta
  * `OPTIMIZE ZORDER BY`, Iceberg sort-order z-order): route/cluster a
  * lake table by `graft_zvalue(floorDiv(x, wx), floorDiv(y, wy))` and
  * every shard holds a narrow range of BOTH `x` and `y` — the
  * per-shard zone maps on the ORIGINAL columns become selective, so
  * range predicates on either dimension skip files. Inputs are cell
  * indices (callers pre-scale); values are clamped to [0, 2^32): a
  * negative cell clamps to 0, an oversized one to the top cell —
  * clamping only loosens locality at the grid edge, never
  * correctness (placement is arbitrary as far as zone maps care).
  * Codegen'd; NULL-propagating. */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"graft_zvalue expects (BIGINT, BIGINT), got " +
            s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zvalue"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.ZValue.interleave($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object ZValue {
  private def clamp(v: Long): Long =
    if (v < 0L) 0L
    else if (v > 0xFFFFFFFFL) 0xFFFFFFFFL
    else v

  /** Spread the low 32 bits of `v` into the even bit positions of a
    * long (the classic Morton magic-mask cascade). */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(a: Long, b: Long): Long =
    spread(clamp(a)) | (spread(clamp(b)) << 1)
}

/** 60-bit md5-prefix hash of a string — the engine's portable content
  * hash (shared with the DuckDB oracle via the hex-prefix definition). */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.hex60md5(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.hex60md5($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

/** All 16 MinHash signature values in one pass over the shingle-hash
  * array — replaces `transform(sequence(0,15), j -> array_min(transform(
  * hs, h -> (a_j*h + b_j) % P)))` (16 interpreted lambda passes) with a
  * single codegen'd nested loop. Universal-hash constants are identical:
  * a_j = (2654435761·(j+1)) mod P, b_j = (40503·(j+1)+17) mod P,
  * P = 2^31−1. Empty input → null (callers filter size>0). */
case class MinhashSigs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val sigs = HashUtil.minhashSigs(hs)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sigs = ctx.freshName("sigs")
      s"""
         |long[] $sigs = graft.plans.HashUtil.minhashSigs($c);
         |if ($sigs == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

/** 48-bit SimHash from an array of feature hashes in one codegen'd pass —
  * bit b of the result is set iff more than half the hashes have bit b
  * set (weight 2·cnt−n > 0), identical to the HOF bit-test fold. */
case class SimHash48(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.simhash48(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.simhash48($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

/** 48-bit SimHash straight from text in one native pass (distinct
  * shingles, exact string dedupe). */
case class SimHash48Text(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    HashUtil.simhash48FromText(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.simhash48FromText($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

/** Word-3-gram shingle hashes straight from text (split + window + md5
  * fused into one byte-level pass, no intermediate string arrays). Only
  * valid where downstream use is multiset-invariant (min-hash); the
  * Jaccard-verification path keeps the distinct shingle-string arrays. */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val hs = HashUtil.shingleHashes(v.asInstanceOf[UTF8String])
    if (hs == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(hs)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val hs = ctx.freshName("hs")
      s"""
         |long[] $hs = graft.plans.HashUtil.shingleHashes($c);
         |if ($hs == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($hs);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

/** Distinct word-n-gram hex60 hashes (see HashUtil.ngramHashes). The gram
  * width is a literal second argument fixed at plan time. */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"graft_ngram_hashes: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      HashUtil.ngramHashes(v.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.plans.HashUtil.ngramHashes($c, $n))")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object NgramHashes {
  def fromExprs(exprs: Seq[Expression]): NgramHashes = {
    require(exprs.length == 2 && exprs(1).foldable,
      "graft_ngram_hashes(text, n) takes a column and a literal width")
    NgramHashes(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())
  }
}

/** Stride-1 char-L-gram hex60 hashes with positions preserved (see
  * HashUtil.charNgramHashes) — the substring-dedup gram kernel: one
  * byte-level pass per document instead of one interpreted/allocating
  * `substring` call per position, and the downstream exchanges carry
  * an 8-byte hash instead of an L-char string. */
case class CharNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"graft_char_ngram_hashes: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      HashUtil.charNgramHashes(v.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.plans.HashUtil.charNgramHashes($c, $n))")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object CharNgramHashes {
  def fromExprs(exprs: Seq[Expression]): CharNgramHashes = {
    require(exprs.length == 2 && exprs(1).foldable,
      "graft_char_ngram_hashes(text, n) takes a column and a literal width")
    CharNgramHashes(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())
  }
}

/** Session extension registering the native functions for SQL use
  * (`spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => GraftStrategies)
    e.injectPlannerStrategy(SinglePartitionScans(_))
    e.injectQueryStagePrepRule(_ => SinglePartitionJoins)
    e.injectOptimizerRule(_ => FoldConstantGeneratorJoins)
    // lake-catalog VIEW SQL (vanilla Spark doesn't wire DSv2 views —
    // the extension supplies the parser + resolution, Iceberg-style)
    e.injectParser((_, delegate) =>
      new graft.sources.GraftViewSqlParser(delegate))
    e.injectResolutionRule(s =>
      graft.sources.ResolveGraftLakeViews(s))
    e.injectOptimizerRule(_ => RewriteRankOneToMaxBy)
    e.injectOptimizerRule(_ => RewriteCosineTopK)
    // POST-HOC (analyzer), not optimizer: the Trino-sample marker is
    // a TreeNode tag, and optimizer rules (ColumnPruning) rebuild
    // Sample via case-class copy(), which drops tags — by post-hoc
    // resolution the tag is still guaranteed present
    e.injectPostHocResolutionRule(_ => RewriteTrinoTablesample)
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_hex60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "graft_hex60"),
      (exprs: Seq[Expression]) => Md5Prefix60(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(classOf[ZValue].getName, "graft_zvalue"),
      (exprs: Seq[Expression]) => ZValue(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_sq8"),
      new ExpressionInfo(classOf[Sq8Quantize].getName, "graft_sq8"),
      (exprs: Seq[Expression]) => Sq8Quantize(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_idot"),
      new ExpressionInfo(classOf[IntDot].getName, "graft_idot"),
      (exprs: Seq[Expression]) => IntDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "graft_minhash_sigs"),
      (exprs: Seq[Expression]) => MinhashSigs(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_simhash48"),
      new ExpressionInfo(classOf[SimHash48].getName, "graft_simhash48"),
      (exprs: Seq[Expression]) => SimHash48(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_simhash48_text"),
      new ExpressionInfo(classOf[SimHash48Text].getName,
        "graft_simhash48_text"),
      (exprs: Seq[Expression]) => SimHash48Text(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "graft_kmv_distinct"),
      (exprs: Seq[Expression]) => KmvDistinct(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_hist_quantile"),
      new ExpressionInfo(classOf[HistQuantile].getName,
        "graft_hist_quantile"),
      (exprs: Seq[Expression]) => HistQuantile.fromExprs(exprs)))
    e.injectFunction((
      FunctionIdentifier("graft_cm_count"),
      new ExpressionInfo(classOf[CmCount].getName, "graft_cm_count"),
      (exprs: Seq[Expression]) => CmCount.fromExprs(exprs)))
    e.injectFunction((
      FunctionIdentifier("graft_frequent_items"),
      new ExpressionInfo(classOf[FrequentItemsAgg].getName,
        "graft_frequent_items"),
      (exprs: Seq[Expression]) => FrequentItemsAgg.fromExprs(exprs)))
    e.injectFunction((
      FunctionIdentifier("graft_ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName,
        "graft_ngram_hashes"),
      (exprs: Seq[Expression]) => NgramHashes.fromExprs(exprs)))
    e.injectFunction((
      FunctionIdentifier("graft_char_ngram_hashes"),
      new ExpressionInfo(classOf[CharNgramHashes].getName,
        "graft_char_ngram_hashes"),
      (exprs: Seq[Expression]) => CharNgramHashes.fromExprs(exprs)))
    e.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName,
        "graft_shingle_hashes"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinct].getName,
        "graft_bitmap_distinct"),
      (exprs: Seq[Expression]) => BitmapDistinct(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap_build"),
      new ExpressionInfo(classOf[BitmapBuild].getName, "graft_bitmap_build"),
      (exprs: Seq[Expression]) => BitmapBuild(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap_union_count"),
      new ExpressionInfo(classOf[BitmapUnionCount].getName,
        "graft_bitmap_union_count"),
      (exprs: Seq[Expression]) => BitmapUnionCount(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap_distinct64"),
      new ExpressionInfo(classOf[Bitmap64Distinct].getName,
        "graft_bitmap_distinct64"),
      (exprs: Seq[Expression]) => Bitmap64Distinct(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap_build64"),
      new ExpressionInfo(classOf[Bitmap64Build].getName,
        "graft_bitmap_build64"),
      (exprs: Seq[Expression]) => Bitmap64Build(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap_union_count64"),
      new ExpressionInfo(classOf[Bitmap64UnionCount].getName,
        "graft_bitmap_union_count64"),
      (exprs: Seq[Expression]) => Bitmap64UnionCount(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap64_and_count"),
      new ExpressionInfo(classOf[Bitmap64AndCount].getName,
        "graft_bitmap64_and_count"),
      (exprs: Seq[Expression]) => Bitmap64AndCount(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_bitmap64_andnot_count"),
      new ExpressionInfo(classOf[Bitmap64AndNotCount].getName,
        "graft_bitmap64_andnot_count"),
      (exprs: Seq[Expression]) => Bitmap64AndNotCount(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_build"),
      new ExpressionInfo(classOf[BloomBuild].getName, "graft_bloom_build"),
      (exprs: Seq[Expression]) => BloomBuild(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName,
        "graft_bloom_contains"),
      (exprs: Seq[Expression]) => BloomContains(exprs(0), exprs(1))))
  }
}
