package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass sketch kernels as native Catalyst expressions WITH `doGenCode`.
  *
  * Why not `functions.transform`/`aggregate` HOF trees: Spark's array
  * higher-order functions are `CodegenFallback` — interpreted, per-element
  * boxed eval — and there is no cross-expression CSE in interpreted eval, so
  * e.g. a 64-bit simhash built from 64 `aggregate` nodes re-tokenizes the text
  * 64 times per row (measured: the round-1 bench headline phase ran ~50 min at
  * sf0.1 and was OOM-killed). Each kernel below tokenizes/hashes ONCE per row
  * in a tight JVM loop, and `doGenCode` emits a plain static call so the whole
  * stage STAYS inside whole-stage codegen (a `CodegenFallback` expression
  * would knock the entire stage out of codegen).
  *
  * Hash arithmetic is Lehmer/MINSTD folds in the 2^31-1 field (Park–Miller
  * 1988 multiplier 48271; glibc LCG multiplier 1103515245 for seed
  * derivation — both public-domain constants): every intermediate fits i64
  * with no wraparound, so the DuckDB oracles (`SparkEntry.oracleSql`)
  * reproduce the raw sketch values with BIGINT arithmetic (same scheme as
  * SrpBucketExpr's plane matrix). Tokenization matches
  * `split(lower(text), "\\s+")` with empties dropped: ASCII whitespace bytes
  * are safe to scan for directly in UTF-8 (multi-byte code points never
  * contain ASCII bytes).
  */
object SketchKernels {

  final val LehmerMod = 2147483647L // 2^31 - 1

  @inline private def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Per-token Lehmer fold over the CODE POINTS of each whitespace token of
    * `lower(text)`, in order: h = (h * 48271 + cp) mod (2^31-1). */
  def tokenHashes(text: UTF8String): Array[Long] = {
    val lower = text.toLowerCase
    val base = lower.getBaseObject
    val off = lower.getBaseOffset
    val len = lower.numBytes
    var out = new Array[Long](math.max(8, len / 6))
    var n = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(Platform.getByte(base, off + i))) i += 1
      if (i < len) {
        var h = 0L
        while (i < len && !isWs(Platform.getByte(base, off + i))) {
          val b0 = Platform.getByte(base, off + i) & 0xFF
          var cp = 0
          if (b0 < 0x80) { cp = b0; i += 1 }
          else if (b0 < 0xE0) {
            cp = ((b0 & 0x1F) << 6) | (Platform.getByte(base, off + i + 1) & 0x3F); i += 2
          } else if (b0 < 0xF0) {
            cp = ((b0 & 0x0F) << 12) | ((Platform.getByte(base, off + i + 1) & 0x3F) << 6) |
              (Platform.getByte(base, off + i + 2) & 0x3F); i += 3
          } else {
            cp = ((b0 & 0x07) << 18) | ((Platform.getByte(base, off + i + 1) & 0x3F) << 12) |
              ((Platform.getByte(base, off + i + 2) & 0x3F) << 6) |
              (Platform.getByte(base, off + i + 3) & 0x3F); i += 4
          }
          h = (h * 48271L + cp) % LehmerMod
        }
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        out(n) = h
        n += 1
      }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Widen a 31-bit token hash to 62 live bits for the simhash bit fold:
    * h1 = (h*48271+1) mod M, h2 = (h1*48271+1) mod M, h64 = h1*2^31+h2. */
  @inline private def widen62(h: Long): Long = {
    val h1 = (h * 48271L + 1L) % LehmerMod
    val h2 = (h1 * 48271L + 1L) % LehmerMod
    (h1 << 31) | h2
  }

  /** 64-bit SimHash (Charikar 2002) over whitespace tokens, one pass: per bit,
    * sign of the sum of ±1 contributions of the widened token hashes; bit i
    * of the token hash lands at output bit (63-i) — same layout as the
    * round-1 column fold. The widened hashes have 62 live bits (bits 62-63
    * are always 0), so output bits 0 and 1 are always 0: 62 bits of
    * signature, in the engine and in the DuckDB oracle alike. */
  def simhash64(text: UTF8String): Long = {
    val th = tokenHashes(text)
    val counts = new Array[Int](64)
    var t = 0
    while (t < th.length) {
      val h = widen62(th(t))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var acc = 0L
    var i = 0
    while (i < 64) {
      acc = (acc << 1) | (if (counts(i) > 0) 1L else 0L)
      i += 1
    }
    acc
  }

  /** k-shingle hash chain: sh = (sh*48271 + th_j) mod M over the k token
    * hashes starting at `i`. */
  @inline private def shingleChain(th: Array[Long], i: Int, k: Int): Long = {
    var sh = 0L
    var j = 0
    while (j < k) { sh = (sh * 48271L + th(i + j)) % LehmerMod; j += 1 }
    sh
  }

  /** MinHash signature (Broder 1997): per-seed affine permutation of each
    * k-shingle hash in the 2^31-1 field —
    * a_h = ((h+1)*1103515245 + 42) mod M, b_h = (a_h*48271 + 1) mod M,
    * v = (a_h*sh + b_h) mod M (a_h*sh < 2^62: i64-exact); constant work per
    * seed. Empty shingle set → all-MaxValue signature. */
  def minhashSignature(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val th = tokenHashes(text)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var h = 0
    while (h < numHashes) {
      as(h) = ((h + 1).toLong * 1103515245L + 42L) % LehmerMod
      bs(h) = (as(h) * 48271L + 1L) % LehmerMod
      h += 1
    }
    val n = th.length - k + 1
    var i = 0
    while (i < n) {
      val sh = shingleChain(th, i, k)
      h = 0
      while (h < numHashes) {
        val v = (as(h) * sh + bs(h)) % LehmerMod
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** LSH band keys: kb = (kb*48271 + (sig_j mod M)) mod M over signature
    * positions [b*rowsPerBand, (b+1)*rowsPerBand); band index is the output
    * array position. (sig_j mod M also covers the empty-shingle
    * Long.MaxValue sentinel — positive, identical in BIGINT arithmetic.) */
  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var kb = 0L
      var j = 0
      while (j < rowsPerBand) {
        kb = (kb * 48271L + sig.getLong(b * rowsPerBand + j) % LehmerMod) % LehmerMod
        j += 1
      }
      out(b) = kb
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing-style fingerprint: the `n` smallest distinct k-shingle hashes,
    * ascending (shingle hash as in [[minhashSignature]]). */
  def fingerprint(text: UTF8String, k: Int, n: Int): ArrayData = {
    val th = tokenHashes(text)
    val m = th.length - k + 1
    val set = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < m) { set.add(shingleChain(th, i, k)); i += 1 }
    val arr = new Array[Long](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(java.util.Arrays.copyOf(arr, math.min(n, arr.length)))
  }

  /** Whitespace tokens of `lower(text)` as strings (for exact set sketches).
    * Tokenizes on the SAME ASCII `\s` class as [[tokenHashes]] (Java regex
    * `\s` = 0x09-0x0D + 0x20): the exact-Jaccard verification of LSH
    * candidates must agree with candidate generation on what a token is,
    * including on non-ASCII whitespace (which neither treats as a split). */
  def tokenStrings(text: UTF8String): Array[String] = {
    val lower = text.toLowerCase.toString
    val out = new java.util.ArrayList[String](16)
    @inline def isWsChar(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
    var i = 0
    val len = lower.length
    while (i < len) {
      while (i < len && isWsChar(lower.charAt(i))) i += 1
      val start = i
      while (i < len && !isWsChar(lower.charAt(i))) i += 1
      if (i > start) out.add(lower.substring(start, i))
    }
    out.toArray(new Array[String](out.size))
  }

  /** Exact n-gram (word k-shingle) Jaccard of two texts: |A∩B| / |A∪B| over
    * distinct space-joined shingle STRINGS — exact set semantics, so a DuckDB
    * oracle building the same shingle lists agrees bit-for-bit. One pass per
    * text (vs the interpreted HOF version's repeated array materializations). */
  def ngramJaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    def shingleSet(text: UTF8String): java.util.HashSet[String] = {
      val toks = tokenStrings(text)
      val set = new java.util.HashSet[String]()
      var i = 0
      val n = toks.length - k + 1
      val sb = new java.lang.StringBuilder()
      while (i < n) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        set.add(sb.toString)
        i += 1
      }
      set
    }
    val sa = shingleSet(a)
    val sb = shingleSet(b)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) { if (sb.contains(it.next())) inter += 1 }
    val uni = sa.size + sb.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni.toDouble
  }

  /** Fraction of agreeing positions between two equal-length signatures. */
  def sigAgreement(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }
}

/** `simhash64(text)` — LongType. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhashSignature(text, k, numHashes)` — ArrayType(LongType). */
case class MinHashSigExpr(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhashSignature(input.asInstanceOf[UTF8String], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.minhashSignature($c, $k, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bandKeys(signature, bands, rowsPerBand)` — ArrayType(LongType); band index
  * is the array position (posexplode recovers it). */
case class BandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchKernels.bandKeys(input.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.bandKeys($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ngramJaccard(a, b, k)` — DoubleType, exact shingle-set Jaccard. */
case class NgramJaccardExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.ngramJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SketchKernels.ngramJaccard($a, $b, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `fingerprint(text, k, n)` — ArrayType(LongType), n smallest shingle hashes. */
case class FingerprintExpr(child: Expression, k: Int, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    SketchKernels.fingerprint(input.asInstanceOf[UTF8String], k, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.fingerprint($c, $k, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sigAgreement(sigA, sigB)` — DoubleType (minhash Jaccard estimate). */
case class SigAgreementExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sigAgreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SketchKernels.sigAgreement($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Signed-random-projection bucket (cosine LSH): sign pattern of `planes`
  * pseudo-random hyperplane dot products packed into a long. The plane
  * matrix is Lehmer/MINSTD arithmetic in the 2^31-1 field (deterministic,
  * identical on every executor) and cached per expression instance — per row
  * this is a pure `planes × dim` fused-multiply loop, not `planes × dim`
  * hash evaluations. */
case class SrpBucketExpr(child: Expression, planes: Int, dim: Int, seed: Long)
    extends UnaryExpression {
  require(planes <= 63, "bucket packs into a long")
  override def dataType: DataType = LongType

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // Plane component (p, i): per-plane Lehmer seed AND per-plane stride, then
  // two Lehmer/MINSTD rounds in the 2^31-1 field (public-domain constants,
  // Park–Miller 1988), scaled to [-1, 1):
  //   seed_p = ((p+1) * 1103515245 + seed) % M
  //   step_p = seed_p * 48271 % M + 1
  //   x0     = (seed_p + (i+1) * step_p) % M
  //   value  = (x0 * 48271 % M) * 48271 % M / M * 2 - 1
  // The per-plane stride is what decorrelates planes: the earlier
  // idx-linear form (idx = p*dim+i) made every plane a shifted copy of the
  // previous one — a lattice that skews bucket balance. Integer arithmetic
  // over a 64-bit hash is chosen DELIBERATELY: every step fits i64 with no
  // wraparound, so a DuckDB oracle reproduces the exact doubles and
  // q_ann_srp stays oracle-checkable. Evaluated once per instance.
  @transient private lazy val planeMatrix: Array[Double] = {
    val m = new Array[Double](planes * dim)
    val mod = SketchKernels.LehmerMod
    var p = 0
    while (p < planes) {
      val seedP = ((p + 1).toLong * 1103515245L + seed) % mod
      val stepP = (seedP * 48271L) % mod + 1L
      var i = 0
      while (i < dim) {
        val x0 = (seedP + (i + 1).toLong * stepP) % mod
        val x1 = (x0 * 48271L) % mod
        val x2 = (x1 * 48271L) % mod
        m(p * dim + i) = x2.toDouble / mod.toDouble * 2.0d - 1.0d
        i += 1
      }
      p += 1
    }
    m
  }

  def compute(arr: ArrayData): Long = {
    val mat = planeMatrix
    var acc = 0L
    var p = 0
    while (p < planes) {
      var d = 0.0d
      val base = p * dim
      var i = 0
      if (isFloat) {
        while (i < dim) { d += arr.getFloat(i) * mat(base + i); i += 1 }
      } else {
        while (i < dim) { d += arr.getDouble(i) * mat(base + i); i += 1 }
      }
      acc = (acc << 1) | (if (d > 0) 1L else 0L)
      p += 1
    }
    acc
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srp", this, classOf[SrpBucketExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dot / cosine over two numeric arrays in ONE pass, double accumulation
  * left-to-right (so a DuckDB oracle computing the same sequential sum agrees
  * bit-for-bit on doubles). */
case class VecSimExpr(left: Expression, right: Expression, mode: String)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  @transient private lazy val leftFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0d
    var na = 0.0d
    var nb = 0.0d
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    mode match {
      case "dot" => dot
      case "cosine" =>
        if (na == 0 || nb == 0) 0.0d else dot / (math.sqrt(na) * math.sqrt(nb))
      case _ => throw new IllegalArgumentException(s"unknown mode $mode")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecsim", this, classOf[VecSimExpr].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
