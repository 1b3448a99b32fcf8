package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for the similarity hot path: the dot
 * product of two `array<double>` columns as a primitive loop over
 * `ArrayData` with full codegen — no higher-order-function lambda
 * interpretation, no per-element boxing, no intermediate zipped array.
 * This is the "custom Expression beats UDF beats interpreted HOF"
 * rung of the extension ladder (SURVEY.md §7.3): the pair-scoring join
 * evaluates this once per candidate pair, so at N² pairs the per-call
 * constant dominates the whole operator.
 *
 * Shorter input decides the length; addition is left-to-right
 * ascending-index (same order as the portable fold and the DuckDB
 * oracle twin). Null elements are not expected (embedding arrays are
 * dense); a null array yields null via BinaryExpression's null
 * handling.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // no ExpectsInputTypes (AbstractDataType is private[sql] in Spark 4);
  // callers pass array<double> — the operators cast at ingest
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
         |int n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double s = 0.0;
         |for (int i = 0; i < n; i++) { s += $x.getDouble(i) * $y.getDouble(i); }
         |${ev.value} = s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/**
 * Intersection size of two SORTED distinct `array<long>` columns as a
 * codegen'd two-pointer walk — the exact-Jaccard verify hot path over
 * hashed shingle sets (a candidate pair costs |A|+|B| long compares,
 * no boxing, no hash-set allocation, versus interpreted
 * array_intersect). Inputs MUST be sorted ascending and duplicate-free
 * (see Dedup.hashedShingleSet).
 */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_isect"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
         |int nx = $x.numElements(); int ny = $y.numElements();
         |int i = 0; int j = 0; long c = 0L;
         |while (i < nx && j < ny) {
         |  long xv = $x.getLong(i); long yv = $y.getLong(j);
         |  if (xv == yv) { c++; i++; j++; } else if (xv < yv) { i++; } else { j++; }
         |}
         |${ev.value} = c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** JVM kernels shared by the eval and codegen paths of the text-hash
  * expressions below. Exactly mirrors the composed-Column reference
  * pipeline (TextFunctions.wsTokens → Dedup.wordShingles →
  * Dedup.shingleHashes), which is also the DuckDB oracle twin:
  * space-trim (Spark's `trim` strips 0x20 only), Java-regex `\s+`
  * split with limit -1 (Spark's `split` keeps trailing empties),
  * single-space shingle join (concat_ws), and the 32-bit hash = the
  * first 4 md5 digest bytes big-endian (= decimal value of the first
  * 8 md5 hex chars). Property-tested equal to the composed pipeline
  * (NativeExpressionsSpec).
  */
object ShingleHashKernel {
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val MD5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Decimal value of the first 8 md5 hex chars of s's UTF-8 bytes. */
  def hash32(s: String): Long = {
    val d = MD5.get.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** 63-bit packed hash: md5 bytes 4-7 (mod 2^31) in the high word,
    * bytes 0-3 in the low — `(w1 % 2^31)·2^32 + w0`, max exactly
    * 2^63−1, so the value and all derived arithmetic stay inside
    * signed BIGINT on both engines (the split-word rule SimHash64
    * uses). At 10^11 distinct grams the birthday bound gives ~500
    * colliding pairs corpus-wide — negligible — where a 32-bit key
    * saturates outright (every value occupied many times over). */
  def hash63(s: String): Long = {
    val d = MD5.get.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val w0 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val w1 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    (w1 % 2147483648L) * 4294967296L + w0
  }

  /** One-pass tokenize → word n-grams → 63-bit packed hash per
    * shingle ([[hash63]]) — the corpus-scale variant of
    * [[wordShingleHashes]] for operators whose SEMANTICS depend on
    * hash-equality being gram-equality (substring dedup's `occ ≥ 2`). */
  def wordShingleHashes63(input: UTF8String, n: Int): ArrayData = {
    val s = input.toString
    var st = 0; var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    if (en == st) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = WS.split(s.substring(st, en), -1)
    val count = toks.length - (n - 1)
    if (count <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](count)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      out(i) = hash63(sb.toString)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One-pass tokenize → word n-grams → 32-bit hash per shingle. */
  def wordShingleHashes(input: UTF8String, n: Int): ArrayData = {
    val s = input.toString
    var st = 0; var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    if (en == st) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val toks = WS.split(s.substring(st, en), -1)
    val count = toks.length - (n - 1)
    if (count <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](count)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      out(i) = hash32(sb.toString)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Exact-dedup fingerprint in ONE pass over the lowered chars —
    * byte-equal to the composed pipeline
    * md5(regexp_replace(trim(regexp_replace(lower(text),
    * "[^a-z0-9\s]", " ")), "\s+", " ")) and its DuckDB twin,
    * reproducing its quirks precisely: `trim` strips 0x20 only (a
    * leading TAB survives trim and collapses to a LEADING space);
    * `\s` is the Java class [ \t\n\x0B\f\r]; lower() is
    * UTF8String.toLowerCase (the Lower expression's own kernel).
    * Replaces three regex passes + three full string materializations
    * per document — the measured x1 hot path at corpus scale. */
  def normalizedFingerprint(input: UTF8String): UTF8String = {
    val s = input.toLowerCase.toString
    @inline def isJs(c: Char): Boolean = // Java regex \s
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    // after mapping (alnum kept, \s kept, other -> 0x20), trim 0x20 ends
    @inline def mapped(c: Char): Char =
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c
      else if (isJs(c)) c else ' '
    var st = 0; var en = s.length
    while (st < en && mapped(s.charAt(st)) == ' ') st += 1
    while (en > st && mapped(s.charAt(en - 1)) == ' ') en -= 1
    val sb = new java.lang.StringBuilder(en - st)
    var i = st
    while (i < en) {
      val m = mapped(s.charAt(i))
      if (isJs(m)) { // any \s run (incl. mapped spaces) -> one 0x20
        sb.append(' ')
        while (i + 1 < en && isJs(mapped(s.charAt(i + 1)))) i += 1
      } else sb.append(m)
      i += 1
    }
    val d = MD5.get.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = HEX((d(j) >> 4) & 0xf).toByte
      hex(2 * j + 1) = HEX(d(j) & 0xf).toByte
      j += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** 64-bit SimHash of whitespace tokens, as two 32-bit words
    * [lo, hi]: lo folds each token's md5 hex chars 1-8 (= hash32), hi
    * folds chars 9-16 (digest bytes 4-7 big-endian). Splitting keeps
    * every value below 2^32, so the DuckDB twin needs no unsigned
    * 64-bit arithmetic and banding math can't sign-overflow. One pass:
    * tokenize, one md5 per token, ±1 majority fold over 64 bit
    * positions. */
  def simhash64(input: UTF8String, counts: Array[Int]): ArrayData = {
    val s = input.toString
    var st = 0; var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    java.util.Arrays.fill(counts, 0)
    if (en > st) {
      val toks = WS.split(s.substring(st, en), -1)
      var i = 0
      while (i < toks.length) {
        val d = MD5.get.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val lo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val hi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((lo >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          if (((hi >> b) & 1L) == 1L) counts(b + 32) += 1 else counts(b + 32) -= 1
          b += 1
        }
        i += 1
      }
    }
    var sigLo = 0L; var sigHi = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) > 0) sigLo |= (1L << b)
      if (counts(b + 32) > 0) sigHi |= (1L << b)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(sigLo, sigHi))
  }

  /** MinHash signature: component h = min over digs of
    * (a_h·d + b_h) mod P, same coefficient derivation as the portable
    * Dedup.minhashSignature (and its DuckDB twin). Empty input yields
    * k nulls — the exact value of array_min over an empty transform. */
  def minhashSig(digs: ArrayData, k: Int): ArrayData = {
    val m = digs.numElements()
    if (m == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill[Any](k)(null))
    val out = new Array[Long](k)
    var h = 0
    while (h < k) {
      val a = (h.toLong * 2654435761L) % 1073741824L + 1L
      val b = (h.toLong * 40503L + 7L) % 1073741824L
      var mn = Long.MaxValue
      var i = 0
      while (i < m) {
        val v = (a * digs.getLong(i) + b) % 4294967311L
        if (v < mn) mn = v
        i += 1
      }
      out(h) = mn
      h += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/**
 * One-pass word-shingle hashing as a native expression:
 * `graft_shingle_hashes(text, n)` = the composed
 * shingleHashes(wordShingles(text, n)) pipeline without its per-row
 * allocation storm (token array → sequence → slice → concat_ws →
 * md5 hex string → substring → conv, all interpreted inside
 * higher-order lambdas). n = 1 degenerates to per-token hashes (the
 * SimHash input). n must be a foldable positive integer.
 */
case class WordShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  // fail at ANALYSIS time with the expectation named — a non-foldable
  // n would otherwise surface as an opaque eval-against-null error
  // when the lazy val below first fires
  override def checkInputDataTypes(): TypeCheckResult =
    if (!right.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName: n must be a foldable integer literal, got ${right.sql}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(text: Any, nAny: Any): Any =
    ShingleHashKernel.wordShingleHashes(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      s"${ev.value} = graft.functions.ShingleHashKernel.wordShingleHashes($t, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingleHashes =
    copy(left = newLeft, right = newRight)
}

/**
 * 63-bit variant: `graft_shingle_hashes63(text, n)` — identical
 * tokenization and shingling, [[ShingleHashKernel.hash63]] packed
 * keys. Use where hash-equality must proxy gram-equality at corpus
 * scale (32-bit keys saturate by pigeonhole past ~10^9 distinct
 * grams); the banding/minhash operators keep the 32-bit family (their
 * collisions only cost verify work, never correctness).
 */
case class WordShingleHashes63(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes63"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!right.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName: n must be a foldable integer literal, got ${right.sql}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(text: Any, nAny: Any): Any =
    ShingleHashKernel.wordShingleHashes63(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      s"${ev.value} = graft.functions.ShingleHashKernel.wordShingleHashes63($t, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingleHashes63 =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature as a native expression:
  * `graft_minhash(digs, k)`. The portable formulation evaluates k
  * interpreted array_min(transform(...)) lambdas — 12 full passes over
  * the shingle hashes per row; this is one primitive-loop pass.
  * k must be a foldable positive integer. */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!right.foldable) TypeCheckResult.TypeCheckFailure(
      s"$prettyName: k must be a foldable integer literal, got ${right.sql}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(digs: Any, kAny: Any): Any =
    ShingleHashKernel.minhashSig(digs.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, _) => {
      s"${ev.value} = graft.functions.ShingleHashKernel.minhashSig($d, $k);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash (as [lo32, hi32]) of whitespace-tokenized text:
  * `graft_simhash64(text)`. See [[ShingleHashKernel.simhash64]]. At
  * corpus scale the 32-bit signature saturates — random documents
  * land within small hamming distances by the birthday bound, and
  * 8-bit LSH bands put n/256 docs in every bucket. 64 bits with
  * 16-bit bands (Manku et al., WWW'07, the published SimHash dedup
  * design) keeps chance collisions at n/65536 per bucket while the
  * 4-band pigeonhole stays exact for hamming <= 3. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashKernel.simhash64(input.asInstanceOf[UTF8String], new Array[Int](64))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val counts = ctx.addMutableState("int[]", "shCounts", v => s"$v = new int[64];")
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.ShingleHashKernel.simhash64($t, $counts);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** One-pass exact-dedup fingerprint: `graft_norm_fp(text)`. See
  * [[ShingleHashKernel.normalizedFingerprint]]. */
case class NormalizedFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_norm_fp"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashKernel.normalizedFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.ShingleHashKernel.normalizedFingerprint($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): NormalizedFingerprint =
    copy(child = newChild)
}

/**
 * All sign-LSH band keys in ONE pass: `graft_sign_bands(emb, bits,
 * bands, dim)` → array<long> of `bands` keys, bit i of band j set iff
 * the dot of `emb` with deterministic ±1 hyperplane `j*bits + i`
 * ([[graft.similarity.Similarity.lshPlane]], md5-parity Rademacher)
 * is ≥ 0.
 *
 * Why an expression and not `bits×bands` composed `graft_dot` calls
 * against plan-literal planes: at bits=16/bands=8 the composed form
 * inlines 128 64-element literal dots into one generated method —
 * janino's method-size limit trips (InternalCompilerException at
 * 200k-vector scale) and Spark silently falls back to interpreted
 * eval. Here the packed sign matrix rides along as ONE reference
 * object and the generated code is three small loops.
 *
 * Float-exactness contract: `s += bit ? emb[d] : -emb[d]` is
 * bit-identical to the composed `emb[d] * (±1.0)` left-to-right
 * accumulation (IEEE multiplication by ±1.0 is exact), so band keys
 * match the composed form and the DuckDB oracle twin exactly —
 * property-tested in NativeExpressionsSpec.
 *
 * A wrong-length embedding fails the row loudly (the planes are
 * derived for exactly `dim` components; silent truncation would
 * degrade bucketing invisibly).
 */
case class SignBandKeys(child: Expression, bits: Int, bands: Int, dim: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 62, s"bits must be in [1, 62]: $bits")
  require(bands >= 1, s"bands must be >= 1: $bands")
  require(dim >= 1 && dim <= 64, s"dim must be in [1, 64] (packed sign planes): $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sign_bands"

  // bit d of planes(k) set = component d of hyperplane k is +1
  @transient private lazy val planes: Array[Long] =
    SignBandKeys.packedPlanes(bits * bands, dim)

  override protected def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    SignBandKeys.checkLen(emb.numElements(), dim)
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var key = 0L
      var i = 0
      while (i < bits) {
        val p = planes(j * bits + i)
        var s = 0.0
        var d = 0
        while (d < dim) {
          s += (if (((p >> d) & 1L) == 1L) emb.getDouble(d) else -emb.getDouble(d))
          d += 1
        }
        if (s >= 0) key |= (1L << i)
        i += 1
      }
      out(j) = key
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("signPlanes", planes, "long[]")
    nullSafeCodeGen(ctx, ev, emb => {
      s"""
         |graft.functions.SignBandKeys.checkLen($emb.numElements(), $dim);
         |long[] gsbKeys = new long[$bands];
         |for (int j = 0; j < $bands; j++) {
         |  long key = 0L;
         |  for (int i = 0; i < $bits; i++) {
         |    long p = $planesRef[j * $bits + i];
         |    double s = 0.0;
         |    for (int d = 0; d < $dim; d++) {
         |      s += (((p >> d) & 1L) == 1L) ? $emb.getDouble(d) : -$emb.getDouble(d);
         |    }
         |    if (s >= 0) key |= (1L << i);
         |  }
         |  gsbKeys[j] = key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(gsbKeys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignBandKeys =
    copy(child = newChild)
}

object SignBandKeys {
  def packedPlanes(n: Int, dim: Int): Array[Long] =
    Array.tabulate(n) { k =>
      graft.similarity.Similarity.lshPlane(k, dim).zipWithIndex
        .foldLeft(0L) { case (m, (v, d)) => if (v > 0) m | (1L << d) else m }
    }

  // called from generated code — must be public and JVM-simple
  def checkLen(got: Int, dim: Int): Unit =
    if (got != dim) throw new IllegalArgumentException(
      s"graft_sign_bands: embedding length $got != dim=$dim")
}

/**
 * QUERY-ADAPTIVE sign-LSH probe keys in one pass:
 * `graft_sign_bands_adaptive(emb, bits, bands, dim, probes)` →
 * array<long> of `bands · (1 + probes)` keys laid out per band as
 * [base key, probe key 1, ..., probe key `probes`], where probe key t
 * is the base key with its t-th MOST-MARGINAL bit flipped — the bit
 * whose projection magnitude |s_i| is t-th smallest (ties broken by
 * bit index, so the ordering is total and engine-portable).
 *
 * This is Lv et al.'s (VLDB'07) query-directed probing applied to
 * Charikar sign bands: a near-neighbor that lands one bit away from
 * the query's bucket almost always differs in a bit whose projection
 * sat near the hyperplane, so probing the `probes` most-marginal
 * flips recovers most of radius-1's recall at `probes`/`bits` of its
 * key fan-out. The projections are the SAME left-to-right
 * accumulations [[SignBandKeys]] computes (bit-identical contract
 * with the DuckDB twin — ranking by |s| is portable because both
 * engines rank identical doubles).
 */
case class SignBandKeysAdaptive(
    child: Expression, bits: Int, bands: Int, dim: Int, probes: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 62, s"bits must be in [1, 62]: $bits")
  require(bands >= 1, s"bands must be >= 1: $bands")
  require(dim >= 1 && dim <= 64, s"dim must be in [1, 64] (packed sign planes): $dim")
  require(probes >= 1 && probes <= bits, s"probes must be in [1, bits]: $probes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sign_bands_adaptive"

  @transient private lazy val planes: Array[Long] =
    SignBandKeys.packedPlanes(bits * bands, dim)

  override protected def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    SignBandKeys.checkLen(emb.numElements(), dim)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SignBandKeysAdaptive.compute(
        Array.tabulate(dim)(emb.getDouble), planes, bits, bands, probes))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("signPlanesA", planes, "long[]")
    nullSafeCodeGen(ctx, ev, emb => {
      s"""
         |graft.functions.SignBandKeys.checkLen($emb.numElements(), $dim);
         |double[] gsbaEmb = new double[$dim];
         |for (int d = 0; d < $dim; d++) gsbaEmb[d] = $emb.getDouble(d);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SignBandKeysAdaptive.compute(
         |    gsbaEmb, $planesRef, $bits, $bands, $probes));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignBandKeysAdaptive =
    copy(child = newChild)
}

object SignBandKeysAdaptive {
  /** Shared by eval and generated code (the selection loop is not
    * worth inlining into janino — one JVM-compiled method keeps the
    * generated method tiny and the hot loop JIT-optimized). */
  def compute(
      emb: Array[Double], planes: Array[Long],
      bits: Int, bands: Int, probes: Int): Array[Long] = {
    val dim = emb.length
    val out = new Array[Long](bands * (1 + probes))
    val margin = new Array[Double](bits)
    val order = new Array[Int](bits)
    var j = 0
    while (j < bands) {
      var key = 0L
      var i = 0
      while (i < bits) {
        val p = planes(j * bits + i)
        var s = 0.0
        var d = 0
        while (d < dim) {
          s += (if (((p >> d) & 1L) == 1L) emb(d) else -emb(d))
          d += 1
        }
        if (s >= 0) key |= (1L << i)
        margin(i) = if (s >= 0) s else -s
        order(i) = i
        i += 1
      }
      // partial selection sort: the `probes` smallest (|s|, bit) pairs
      var t = 0
      while (t < probes) {
        var best = t
        var u = t + 1
        while (u < bits) {
          if (margin(order(u)) < margin(order(best)) ||
            (margin(order(u)) == margin(order(best)) && order(u) < order(best))) best = u
          u += 1
        }
        val tmp = order(t); order(t) = order(best); order(best) = tmp
        out(j * (1 + probes) + 1 + t) = key ^ (1L << order(t))
        t += 1
      }
      out(j * (1 + probes)) = key
      j += 1
    }
    out
  }
}

/**
 * Product-quantization encoder as a native expression:
 * `graft_pq_encode(emb, codebook, m, dsub)` → `array<int>` of m codes,
 * code j = the argmin over the k codebook entries of the subspace-j
 * squared-L2 distance (rounded to 6 decimals BEFORE the argmin; ties
 * to the lowest code — the first-match rule of the portable
 * `array_position(dists, array_min(dists))` formulation this node
 * replaces, property-tested equal in NativeExpressionsSpec).
 *
 * Why a native expression and not m·k literal distance chains: the
 * literal form bakes the whole codebook into the plan as add/multiply
 * expression trees — m·k·dsub terms in ONE generated method. At the
 * demo size (m=4, k=16, dsub=16 → 1024 terms) that costs ~1–3 s of
 * fixed Janino compile latency per plan; at production PQ sizes
 * (m=64, k=256) it exceeds Janino's 64KB method limit and Spark
 * silently falls back to interpreted per-row eval — the 14× cliff
 * documented for interpreted HOF chains. Here the codebook rides
 * along as ONE reference object (`addReferenceObj` — the
 * broadcast-variable analogue for expression state, the same pattern
 * as [[SignBandKeys]]' packed planes) and the generated code is a
 * single kernel call: plan size and codegen size are O(1) in m·k.
 * Verified to compile and run at m=64/k=256 with
 * `spark.sql.codegen.fallback=false` (PqScaleSpec).
 *
 * Codebook layout: code-major flattened full vectors —
 * `cb(c*dim + d)` is component d of codebook entry c, dim = m·dsub
 * (entry c's subspace-j slice starts at `c*dim + j*dsub`).
 *
 * Float discipline: subspace distances fold left-to-right over the
 * dsub positions in index order (the op sequence the DuckDB twin
 * mirrors); rounding is `BigDecimal.valueOf(x).setScale(6, HALF_UP)`
 * — the identical API call Spark's own `round` makes for DoubleType —
 * so results are bit-equal to the literal `round(e, 6)` chains.
 *
 * Loud guards (no silent mis-coding): wrong embedding length and NULL
 * elements both fail the row with the offending value named — a null
 * element under the old literal form made that subspace's distance
 * NULL for every code and `array_min`'s null-skipping silently
 * mis-coded the row.
 */
case class PqEncode(child: Expression, codebook: Array[Double], m: Int, dsub: Int)
    extends UnaryExpression {
  require(m >= 1, s"pq: m must be >= 1: $m")
  require(dsub >= 1, s"pq: dsub must be >= 1: $dsub")
  require(codebook.nonEmpty && codebook.length % (m * dsub) == 0,
    s"pq: codebook length ${codebook.length} not a positive multiple of dim=${m * dsub}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqCodec.encode(input.asInstanceOf[ArrayData], codebook, m, dsub))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    nullSafeCodeGen(ctx, ev, emb => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqCodec.encode($emb, $cbRef, $m, $dsub));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/**
 * Asymmetric-distance accumulator over PQ codes:
 * `graft_pq_adc(codes, table, k)` → double — Σ_j table(j·k + codes(j))
 * summed in subspace order (left-to-right, the same op sequence as the
 * literal `element_at` chain it replaces), rounded to 6 decimals. The
 * query's distance table (m·k doubles, entries pre-rounded by the
 * caller) is a reference object, not m literal arrays — same O(1)
 * plan-size argument as [[PqEncode]]. An out-of-range code fails
 * loudly (it would mean the codes column was built against a
 * different codebook — a silent wrong-distance is the worst outcome).
 */
case class PqAdc(child: Expression, table: Array[Double], k: Int)
    extends UnaryExpression {
  require(k >= 1, s"pq adc: k must be >= 1: $k")
  require(table.nonEmpty && table.length % k == 0,
    s"pq adc: table length ${table.length} not a positive multiple of k=$k")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override protected def nullSafeEval(input: Any): Any =
    PqCodec.adc(input.asInstanceOf[ArrayData], table, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tabRef = ctx.addReferenceObj("pqAdcTable", table, "double[]")
    nullSafeCodeGen(ctx, ev, codes => {
      s"${ev.value} = graft.functions.PqCodec.adc($codes, $tabRef, $k);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

/**
 * `graft_nearest_cid(emb, centsFlat, cids)` → the cid whose centroid
 * has the greatest dot product with `emb` (the cosine argmax over unit
 * vectors), ranked by [[CentroidKernel]]. The centroids ride as
 * reference objects (`centsFlat(c·dim + d)` = component d of
 * `cids(c)`, the [[PqEncode]] pattern), so top-1 cell assignment is a
 * per-row projection with no join and no exchange. A NULL `emb`
 * scores 0 against every centroid, so it lands in the lowest cid (what
 * the struct max did with its all-NULL cos); the result is NULL only
 * when there are no centroids. Never NULL otherwise, so a join on the
 * cid infers no `isnotnull` filter that would run the kernel twice.
 */
case class NearestCentroid(child: Expression, centsFlat: Array[Double], cids: Array[Long])
    extends UnaryExpression {
  require(cids.isEmpty && centsFlat.isEmpty ||
      cids.nonEmpty && centsFlat.length % cids.length == 0,
    s"graft_nearest_cid: ${centsFlat.length} centroid components for ${cids.length} cids")

  override def dataType: DataType = LongType
  override def nullable: Boolean = cids.isEmpty
  override def prettyName: String = "graft_nearest_cid"
  override protected def stringArgs: Iterator[Any] = Iterator(child, s"k=${cids.length}")

  override def eval(input: InternalRow): Any =
    if (cids.isEmpty) null
    else cids(CentroidKernel.nearestIndex(child.eval(input).asInstanceOf[ArrayData], centsFlat, cids))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val emb = child.genCode(ctx)
    if (cids.isEmpty) return ev.copy(code = code"""
      |${emb.code}
      |boolean ${ev.isNull} = true;
      |long ${ev.value} = -1L;""".stripMargin)
    val centsRef = ctx.addReferenceObj("centroids", centsFlat, "double[]")
    val cidsRef = ctx.addReferenceObj("centroidIds", cids, "long[]")
    ev.copy(code = code"""
      |${emb.code}
      |long ${ev.value} = $cidsRef[graft.functions.CentroidKernel.nearestIndex(
      |  ${emb.isNull} ? null : ${emb.value}, $centsRef, $cidsRef)];""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The nearest-centroid kernel shared by [[NearestCentroid]] and the
  * k-means Lloyd round. Each centroid's score is the left-to-right dot
  * product [[DotProduct]] computes (over the shorter of the two
  * lengths); the winner is the greatest score in Spark's double order
  * — NaN above every number, −0.0 equal to 0.0 — with ties to the
  * lowest cid: exactly the `max(struct(cos, −cid))` rule. */
object CentroidKernel {

  /** Index into `cids` of the nearest centroid (a NULL `emb` scores 0
    * everywhere: the lowest cid); -1 when there are none. */
  def nearestIndex(emb: ArrayData, centsFlat: Array[Double], cids: Array[Long]): Int = {
    val k = cids.length
    if (k == 0) return -1
    val dim = centsFlat.length / k
    val n = if (emb == null) 0 else math.min(emb.numElements(), dim)
    var best = -1
    var bestCos = 0.0
    var c = 0
    while (c < k) {
      val base = c * dim
      var s = 0.0
      var i = 0
      while (i < n) { s += emb.getDouble(i) * centsFlat(base + i); i += 1 }
      if (best < 0 || greater(s, bestCos) || !greater(bestCos, s) && cids(c) < cids(best)) {
        best = c
        bestCos = s
      }
      c += 1
    }
    best
  }

  private def greater(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b) else a > b
}

/**
 * Element-wise vector difference: `graft_vec_sub(a, b)` →
 * `array<double>` of `a(i) - b(i)` — the residual computation of
 * IVFADC ([[graft.similarity.Similarity.ivfAdcResidualTopK]]) as one
 * codegen'd primitive loop instead of an interpreted `zip_with`
 * lambda (HOFs don't participate in whole-stage codegen — the
 * documented 14× interpreted-chain cliff). Lengths must match
 * (residuals are only defined against a same-dimensional centroid);
 * mismatch fails the row loudly.
 */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_sub"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqCodec.vecSub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqCodec.vecSub($a, $b));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSub =
    copy(left = newLeft, right = newRight)
}

/** Shared by interpreted eval and generated code (one JVM-compiled
  * method keeps the generated method tiny and the hot loop
  * JIT-optimized — the [[SignBandKeysAdaptive]] pattern). */
object PqCodec {

  def vecSub(a: ArrayData, b: ArrayData): Array[Double] = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"graft_vec_sub: length mismatch ${n} vs ${b.numElements()}")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) - b.getDouble(i); i += 1 }
    out
  }

  /** Spark's own DoubleType `round(x, 6)` semantics: NaN/Infinity
    * pass through, else BigDecimal.valueOf + HALF_UP — called from
    * generated code, must stay public and JVM-simple. */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def encode(emb: ArrayData, cb: Array[Double], m: Int, dsub: Int): Array[Int] = {
    val dim = m * dsub
    checkVec(emb, dim)
    val k = cb.length / dim
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0.0
      var bestCode = -1
      var c = 0
      while (c < k) {
        var acc = 0.0
        var i = 0
        val cbBase = c * dim + j * dsub
        val embBase = j * dsub
        while (i < dsub) {
          val d = emb.getDouble(embBase + i) - cb(cbBase + i)
          acc += d * d
          i += 1
        }
        val r = round6(acc)
        // strict < keeps the FIRST (lowest) code on rounded ties
        if (bestCode < 0 || r < best) { best = r; bestCode = c }
        c += 1
      }
      out(j) = bestCode
      j += 1
    }
    out
  }

  def adc(codes: ArrayData, table: Array[Double], k: Int): Double = {
    val m = codes.numElements()
    if (table.length != m * k) throw new IllegalArgumentException(
      s"graft_pq_adc: table has ${table.length} entries, expected m*k = ${m * k}")
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= k) throw new IllegalArgumentException(
        s"graft_pq_adc: code $c at subspace $j out of range [0, $k) — codes built against a different codebook?")
      s += table(j * k + c)
      j += 1
    }
    round6(s)
  }

  def checkVec(emb: ArrayData, dim: Int): Unit = {
    if (emb.numElements() != dim) throw new IllegalArgumentException(
      s"pq corpus: embedding has ${emb.numElements()} dims, expected $dim")
    var i = 0
    while (i < dim) {
      if (emb.isNullAt(i)) throw new IllegalArgumentException(
        s"pq corpus: null element at position $i — dense embeddings required")
      i += 1
    }
  }
}

/**
 * Linear fastText-style quality scorer (Joulin et al. 2016, "Bag of
 * Tricks for Efficient Text Classification" — the classifier shape
 * CCNet/RefinedWeb-style corpus curation uses for "looks like good
 * prose" screening): `graft_quality_score(text, weights, bias,
 * ngrams)` → double — the 6dp-rounded LOGIT
 * `bias + mean_f(weights[h(f) % B])` over the document's hashed word
 * features (unigrams, plus word n-grams up to `ngrams` — fastText's
 * `wordNgrams` knob). Tokenization and the bucket hash are the
 * repo-wide portable discipline ([[ShingleHashKernel.hash32]]:
 * first-8-hex-chars of md5), so the DuckDB twin reproduces the exact
 * feature→bucket mapping.
 *
 * The weight vector rides as ONE reference object (`addReferenceObj`
 * — the [[PqEncode]] pattern): plan and codegen size are O(1) in the
 * bucket count, and scoring is a zero-exchange projection — one pass
 * over the scan per document, the shape that screens 100 TB. The
 * expression emits the logit, not the probability: sigmoid is
 * monotone, so a keep decision thresholds the logit directly, and
 * emitting the raw logit keeps the cross-engine compare exact (libm
 * `exp` is not guaranteed bit-identical across engines; callers
 * wanting a probability apply 1/(1+exp(-logit)) client-side).
 *
 * Float discipline: the feature-weight sum folds in token order. For
 * a gate-exact twin, supply weights on the 2^-2 grid (e.g. the
 * [[graft.queries.PipelineQueries]] lexicon weights: +1.0 lexicon
 * buckets, -0.25 default) — every partial sum is then exact in
 * double and SUMMATION ORDER IS IMMATERIAL, so an engine-side
 * reordering (SQL SUM) cannot drift. A document with zero features
 * (empty/whitespace text) scores NULL.
 */
case class QualityScore(
    child: Expression, weights: Array[Double], bias: Double, ngrams: Int)
    extends UnaryExpression {
  require(weights.nonEmpty, "graft_quality_score: weights must be non-empty")
  require(ngrams >= 1 && ngrams <= 4,
    s"graft_quality_score: ngrams must be in [1, 4]: $ngrams")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_quality_score"
  // zero-feature documents score null even when the input is non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    QualityScoreKernel.score(input.asInstanceOf[UTF8String], weights, bias, ngrams)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("qualityWeights", weights, "double[]")
    // freshName: two scorer instances in one projection must not
    // collide on the local (collision → Janino error → silent
    // interpreted fallback, the documented 14× cliff)
    val r = ctx.freshName("qualityLogit")
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |java.lang.Double $r = graft.functions.QualityScoreKernel.score(
         |  $t, $wRef, ${bias}D, $ngrams);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** Shared by interpreted eval and generated code (the [[PqCodec]]
  * pattern: one JVM-compiled method, tiny generated caller). */
object QualityScoreKernel {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Boxed so the zero-feature case can signal null to the caller. */
  def score(input: UTF8String, w: Array[Double], bias: Double,
      maxN: Int): java.lang.Double = {
    val b = w.length
    val s = input.toString
    var st = 0; var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    if (en == st) return null
    val toks = WS.split(s.substring(st, en), -1)
    var sum = 0.0
    var cnt = 0L
    var n = 1
    val sb = new java.lang.StringBuilder
    while (n <= maxN) {
      val count = toks.length - (n - 1)
      var i = 0
      while (i < count) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        sum += w((ShingleHashKernel.hash32(sb.toString) % b).toInt)
        cnt += 1
        i += 1
      }
      n += 1
    }
    if (cnt == 0L) null
    else java.lang.Double.valueOf(PqCodec.round6(bias + sum / cnt))
  }
}

/** Extension entry point: `spark.sql.extensions=graft.functions.GraftExtensions`
  * makes the graft_* functions available in SQL and via `call_function`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    GraftFunctions.operatorRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.preCboRules.foreach(r => ext.injectPreCBORule(_ => r))
    GraftFunctions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

/**
 * Shared Bloom-filter arithmetic for [[BloomPositions]] (the build
 * side) and [[BloomContains]] (the probe side) — ONE position
 * function, so the distributed bit-set build and the scan-side screen
 * can never disagree. Double hashing (Kirsch–Mitzenmacher 2006,
 * "Less Hashing, Same Performance"): position_i = (h1 + i·h2) mod m
 * with h1/h2 derived from the 64-bit gram via the splitmix64
 * finalizer (Steele et al. 2014 — public-knowledge mixer, fully
 * deterministic, no engine-dependent hashing).
 */
object BloomKernel extends Serializable {
  /** splitmix64 finalizer — avalanches the already-hashed gram so
    * h1/h2 are independent enough for double hashing. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The i-th bit position for gram `g` in an `mBits`-bit filter. */
  def position(g: Long, i: Int, mBits: Long): Long = {
    val h1 = mix64(g)
    val h2 = mix64(h1) | 1L // odd, so the probe sequence cycles mod m
    java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, mBits)
  }

  def contains(g: Long, words: Array[Long], k: Int): Boolean = {
    val mBits = words.length.toLong * 64L
    var i = 0
    while (i < k) {
      val p = position(g, i, mBits)
      if ((words((p >>> 6).toInt) & (1L << (p & 63L).toInt)) == 0L) return false
      i += 1
    }
    true
  }

  def positions(g: Long, mBits: Long, k: Int): ArrayData = {
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = position(g, i, mBits); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/**
 * `graft_bloom_positions(gram, m_bits, k)` → `array<long>` — the k
 * bit positions the gram sets in an m-bit Bloom filter. BUILD-side
 * half of the Bloom pair: the benchmark gram frame explodes through
 * this, `pos >> 6` keys a bit_or word aggregate, and the resulting
 * dense word array becomes [[BloomContains]]'s reference object.
 * The build is thus fully distributed (partial-combined bit_or — the
 * sketch-family shape); only the finished ≤maxBloomWords word array
 * ever reaches the driver.
 */
case class BloomPositions(child: Expression, mBits: Long, k: Int)
    extends UnaryExpression {
  require(mBits >= 64 && mBits % 64 == 0,
    s"graft_bloom_positions: m_bits must be a positive multiple of 64: $mBits")
  require(k >= 1 && k <= 16, s"graft_bloom_positions: k must be in [1, 16]: $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bloom_positions"

  override protected def nullSafeEval(input: Any): Any =
    BloomKernel.positions(input.asInstanceOf[Long], mBits, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g => {
      s"${ev.value} = graft.functions.BloomKernel.positions($g, ${mBits}L, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression): BloomPositions =
    copy(child = newChild)
}

/**
 * `graft_bloom_contains(gram, words, k)` → boolean — membership probe
 * against a Bloom bit set carried as ONE reference object (the
 * [[PqEncode]] / [[QualityScore]] `addReferenceObj` pattern: plan and
 * codegen size O(1) in the filter size). PROBE-side half of the pair:
 * a corpus-gram scan filters through this before any join, so the
 * shuffled/joined survivor set is (true hits + fpp·grams) instead of
 * every gram — the bitset costs ~bitsPerGram/8 bytes per benchmark
 * gram vs the 8-byte long PLUS hash-set overhead a broadcast join
 * relation pays, and false positives are removed by the exact confirm
 * join that follows, so the operator's OUTPUT is fpp-independent.
 */
case class BloomContains(child: Expression, words: Array[Long], k: Int)
    extends UnaryExpression {
  require(words.nonEmpty, "graft_bloom_contains: words must be non-empty")
  require(k >= 1 && k <= 16, s"graft_bloom_contains: k must be in [1, 16]: $k")

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override protected def nullSafeEval(input: Any): Any =
    BloomKernel.contains(input.asInstanceOf[Long], words, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("bloomWords", words, "long[]")
    nullSafeCodeGen(ctx, ev, g => {
      s"${ev.value} = graft.functions.BloomKernel.contains($g, $wRef, $k);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BloomContains =
    copy(child = newChild)
}

/**
 * `graft_morton(x, y)` → long — the Morton/Z-curve bit interleave
 * (bit i of x → bit 2i, bit i of y → bit 2i+1) over the LOWER 31
 * BITS of each input (positions ≤ 62, so the code never touches the
 * sign bit on any engine). The multi-dimensional LAYOUT key every
 * lakehouse z-order optimize is built on (public knowledge — Morton
 * 1966; Z-order curves in databases since Orenstein 1984): rows
 * sorted/ranged by this code are simultaneously clustered in BOTH
 * dimensions, so per-file min/max stats prune scans filtered on
 * EITHER column. At 100 TB the write path is
 * `repartitionByRange(graft_morton(a, b)).sortWithinPartitions(...)`;
 * the zo1 gate key audits the resulting locality (per-bucket range
 * width in each dimension). Codegen'd single kernel call; negative
 * inputs are masked like any other bit pattern (callers supply
 * non-negative ids).
 */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_morton"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    MortonCode.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"${ev.value} = graft.functions.MortonCode.interleave($x, $y);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonCode =
    copy(left = newLeft, right = newRight)
}

object MortonCode {
  def interleave(x: Long, y: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 31) {
      out |= ((x >>> i) & 1L) << (2 * i)
      out |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }
}

/**
 * Jaro–Winkler similarity of two string columns as a codegen'd native
 * expression — the graded-match companion to `levenshtein` for record
 * linkage ([[graft.dedup.Dedup.blockedEditDistance]]'s family): edit
 * distance counts ops, Jaro–Winkler scores transposition-tolerant
 * prefix-weighted similarity in [0,1], the standard name-matching
 * measure (Winkler 1990). Semantics pinned BIT-FOR-BIT to DuckDB's
 * independent `jaro_winkler_similarity` (verified on 4,050 pairs plus
 * the edge cases below), which makes the oracle a true cross-check of
 * two implementations rather than one implementation mirrored:
 *  - either side empty → 0.0 (not 1.0);
 *  - match window max(⌊max(la,lb)/2⌋−1, 0) — so "ab"/"ba" → 0.0;
 *  - transpositions = half the order-mismatched match positions;
 *  - jaro = (m/la + m/lb + (m−t)/m) / 3, this exact IEEE op order;
 *  - the Winkler prefix boost l·0.1·(1−jaro), l = common prefix ≤ 4,
 *    applies only when jaro > 0.7 (the classic boost threshold).
 * Byte-level comparison (UTF8String bytes) — identical to DuckDB on
 * ASCII; multi-byte code points compare per byte on both engines.
 */
case class JaroWinklerSim(left: Expression, right: Expression,
    bounded: Boolean = false) extends BinaryExpression {
  // `bounded` is a pure REWRITE MARKER (no eval effect): set by
  // graft.plans.JaroWinklerLengthBound when it prepends the O(1)
  // length-ratio guard, and refused by its matcher — the same
  // idempotence device as Levenshtein's threshold field
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.JaroWinkler.similarity($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSim =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val x = a.getBytes; val y = b.getBytes
    val la = x.length; val lb = y.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la); val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && x(i) == y(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var j = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(j)) j += 1
        if (x(i) != y(j)) t += 1
        j += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      val pmax = math.min(4, math.min(la, lb))
      var l = 0
      var k = 0
      var stop = false
      while (k < pmax && !stop) {
        if (x(k) == y(k)) l += 1 else stop = true
        k += 1
      }
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

object GraftFunctions {
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))),
    (FunctionIdentifier("graft_isect"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_isect"),
      (children: Seq[Expression]) => SortedIntersectCount(children.head, children(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => WordShingleHashes(children.head, children(1))),
    (FunctionIdentifier("graft_shingle_hashes63"),
      new ExpressionInfo(classOf[WordShingleHashes63].getName, "graft_shingle_hashes63"),
      (children: Seq[Expression]) => WordShingleHashes63(children.head, children(1))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSig(children.head, children(1))),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)),
    (FunctionIdentifier("graft_norm_fp"),
      new ExpressionInfo(classOf[NormalizedFingerprint].getName, "graft_norm_fp"),
      (children: Seq[Expression]) => NormalizedFingerprint(children.head)),
    (FunctionIdentifier("graft_sign_bands"),
      new ExpressionInfo(classOf[SignBandKeys].getName, "graft_sign_bands"),
      (children: Seq[Expression]) => SignBandKeys(children.head,
        intLiteral(children(1)), intLiteral(children(2)), intLiteral(children(3)))),
    (FunctionIdentifier("graft_sign_bands_adaptive"),
      new ExpressionInfo(classOf[SignBandKeysAdaptive].getName, "graft_sign_bands_adaptive"),
      (children: Seq[Expression]) => SignBandKeysAdaptive(children.head,
        intLiteral(children(1)), intLiteral(children(2)), intLiteral(children(3)),
        intLiteral(children(4)))),
    (FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => PqEncode(children.head,
        doubleArrayLiteral(children(1)), intLiteral(children(2)), intLiteral(children(3)))),
    (FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => PqAdc(children.head,
        doubleArrayLiteral(children(1)), intLiteral(children(2)))),
    (FunctionIdentifier("graft_nearest_cid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest_cid"),
      (children: Seq[Expression]) => NearestCentroid(children.head,
        doubleArrayLiteral(children(1)), longArrayLiteral(children(2)))),
    (FunctionIdentifier("graft_vec_sub"),
      new ExpressionInfo(classOf[VecSub].getName, "graft_vec_sub"),
      (children: Seq[Expression]) => VecSub(children.head, children(1))),
    (FunctionIdentifier("graft_quality_score"),
      new ExpressionInfo(classOf[QualityScore].getName, "graft_quality_score"),
      (children: Seq[Expression]) => QualityScore(children.head,
        doubleArrayLiteral(children(1)), doubleLiteral(children(2)),
        intLiteral(children(3)))),
    (FunctionIdentifier("graft_bloom_positions"),
      new ExpressionInfo(classOf[BloomPositions].getName, "graft_bloom_positions"),
      (children: Seq[Expression]) => BloomPositions(children.head,
        longLiteral(children(1)), intLiteral(children(2)))),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => BloomContains(children.head,
        longArrayLiteral(children(1)), intLiteral(children(2)))),
    (FunctionIdentifier("graft_morton"),
      new ExpressionInfo(classOf[MortonCode].getName, "graft_morton"),
      (children: Seq[Expression]) => MortonCode(children.head, children(1))),
    (FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => JaroWinklerSim(children.head, children(1))))

  /** bits/bands/dim arrive as foldable literals. */
  private def intLiteral(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_sign_bands expects integer literals, got $other")
  }

  /** Scalar double literal (the quality scorer's bias). */
  private def doubleLiteral(e: Expression): Double = e.eval(null) match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(
      s"graft_quality_score expects a double literal bias, got $other")
  }

  /** Bit counts arrive as long (or int) literals. */
  private def longLiteral(e: Expression): Long = e.eval(null) match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(
      s"graft_bloom_positions expects an integer literal bit count, got $other")
  }

  /** Bloom word arrays arrive as foldable array<long> literals
    * (typedlit) and are unpacked into the expression node at
    * resolution — the [[doubleArrayLiteral]] pattern. */
  private def longArrayLiteral(e: Expression): Array[Long] = {
    require(e.foldable,
      "graft_bloom_contains / graft_nearest_cid: argument must be a foldable array<long> literal")
    e.eval(null) match {
      case a: ArrayData => a.toLongArray()
      case other => throw new IllegalArgumentException(
        s"graft_bloom_contains / graft_nearest_cid: expected an array<long> literal, got $other")
    }
  }

  /** PQ codebooks / ADC tables arrive as foldable array<double>
    * literals (typedlit) and are unpacked into the expression node at
    * resolution — the plan then carries ONE reference object, not an
    * m·k expression chain. */
  private def doubleArrayLiteral(e: Expression): Array[Double] = {
    require(e.foldable,
      "graft_pq_* / graft_nearest_cid: argument must be a foldable array<double> literal")
    e.eval(null) match {
      case a: ArrayData => a.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"graft_pq_* / graft_nearest_cid: expected an array<double> literal, got $other")
    }
  }

  /** The engine's optimizer rules and planner strategies — the ONE
    * list both install paths ([[GraftExtensions]] and [[register]])
    * read, in install order.
    *
    * Operator-batch rules: the levenshtein / jaro-winkler length-bound
    * prefilters. */
  val operatorRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.LevenshteinLengthBound,
    graft.plans.JaroWinklerLengthBound)

  /** preCBO rules = AFTER the operator-optimization fixed point, so
    * column pruning / filter pushdown have settled before they run:
    *  - the automatic distributed-window promotion (GlobalRank.scala),
    *    before the opaque GlobalRankPlan replaces the Window;
    *  - duplicate-aggregate REPAIR — Spark-level default OFF; the
    *    shipped GraftConf.cluster profile opts IN (ADVICE r16: know
    *    which posture you deployed). Must run BEFORE the observer so
    *    a repaired plan no longer warns; its RepairProject output
    *    survives the later RewriteSubquery batch by not being a
    *    Project (see PlanAuditRepair's scaladoc);
    *  - the opt-in continuous duplicate-work detector (off by default;
    *    the cluster conf turns it on) — observes, never transforms. */
  val preCboRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.RangeRankRewrite,
    graft.plans.PlanAuditRepair,
    graft.plans.PlanAuditLog)

  /** Planner strategies for the nodes the preCBO rules emit. */
  val strategies: Seq[SparkStrategy] = Seq(
    graft.plans.GlobalRankStrategy,
    graft.plans.RepairProjectStrategy)

  /** Idempotent registration into a live session (for sessions built
    * without the extensions config): the graft_* functions plus every
    * rule and strategy above. A live session has one slot for extra
    * rules, "User Provided Optimizers", which also runs after the
    * operator batch, matching the extensions path's preCBO placement. */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { d =>
      spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
    }
    val exp = spark.experimental
    (operatorRules ++ preCboRules).foreach { r =>
      if (!exp.extraOptimizations.contains(r))
        exp.extraOptimizations = exp.extraOptimizations :+ r
    }
    strategies.foreach { st =>
      if (!exp.extraStrategies.contains(st))
        exp.extraStrategies = exp.extraStrategies :+ st
    }
  }
}
