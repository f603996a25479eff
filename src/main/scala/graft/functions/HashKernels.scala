package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Single-pass hash kernels for the dedup operators.
  *
  * The pure-`functions._` formulations (array_min ∘ transform per
  * permutation, aggregate folds per bit) are semantically fine but Spark
  * evaluates lambda higher-order functions interpreted — ~7 ms/doc for a
  * 128-perm signature at sf0.1. These kernels hash each element ONCE
  * (XXH64, Spark's own hash, seed 42 like `functions.xxhash64`) and
  * derive all permutations/bits from that base with splitmix64 mixing —
  * O(elements × perms) ALU ops, no per-perm string re-hash, and they
  * participate in whole-stage codegen via static calls.
  */
object MinHashKernel {
  private final val Gamma = 0x9e3779b97f4a7c15L

  private def mix(x0: Long): Long = {
    var z = x0
    z ^= (z >>> 30); z *= 0xbf58476d1ce4e5b9L
    z ^= (z >>> 27); z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** numPerms minima of pseudo-random permutations of the string array. */
  def compute(arr: ArrayData, numPerms: Int): ArrayData = {
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var p = 0
      while (p < numPerms) {
        val h = mix(base + (p + 1) * Gamma)
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Fused signature + banding: the `bands` LSH band keys directly from
    * the shingle array — minima accumulate per permutation as in
    * [[compute]], then each band's `rowsPerBand` minima fold into one
    * 64-bit key. Replaces a 128-long signature column + 32 interpreted
    * `slice`+hash calls per row with a single codegen'd pass (the
    * slice copies dominated the banding stage when profiled). */
  def computeBands(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val numPerms = bands * rowsPerBand
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var p = 0
      while (p < numPerms) {
        val h = mix(base + (p + 1) * Gamma)
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Gamma * (b + 1)
      var j = 0
      while (j < rowsPerBand) { h = mix(h ^ mins(b * rowsPerBand + j)); j += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object SimHashKernel {
  /** 64-bit SimHash of the token array, returned as 4 × 16-bit block
    * values (block b holds bits 16b..16b+15, first bit as MSB — identical
    * layout to the column-level formulation it replaces). Bit k of a
    * token's contribution is bit k of xxhash64(token, seed 42). */
  def compute(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var k = 0
      while (k < 64) {
        if (((base >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    val blocks = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) {
        v = v * 2 + (if (votes(b * 16 + j) > 0) 1L else 0L)
        j += 1
      }
      blocks(b) = v
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(blocks)
  }
}

object Md5SimHashKernel {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit SimHash like [[SimHashKernel]] but with the per-token hash
    * drawn from MD5 (first 8 digest bytes, big-endian — the value of
    * `('0x' || substr(md5(tok),1,16))::UBIGINT` in ANSI-ish SQL), and the
    * zero-vote tie resolved to bit 1 (`>= 0`). Both choices exist so an
    * external SQL engine can replay the fingerprint bit-for-bit: MD5 is
    * universally available where xxhash64 is not, which turns the SimHash
    * dedup path from "trust the spec" into "hash-compare against an
    * independent oracle". ~3× slower than the XXH64 kernel per token —
    * use that one when cross-engine parity is not needed. */
  def compute(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val digestFn = md5.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      digestFn.reset()
      val digest = digestFn.digest(arr.getUTF8String(i).getBytes)
      var base = 0L
      var b = 0
      while (b < 8) { base = (base << 8) | (digest(b) & 0xffL); b += 1 }
      var k = 0
      while (k < 64) {
        if (((base >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    val blocks = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var j = 0
      while (j < 16) {
        v = v * 2 + (if (votes(b * 16 + j) >= 0) 1L else 0L)
        j += 1
      }
      blocks(b) = v
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(blocks)
  }
}

object ShingleKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** Distinct word k-shingles of whitespace-normalized lowercase text in
    * one pass (replaces a lower→regexp_replace→split→transform∘slice∘
    * concat_ws→array_distinct interpreted-HOF chain). First-occurrence
    * order, matching array_distinct. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val toks = Norm.tokens(text.toString)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(out)
  }
}

object PositionalShingleMd5Kernel {
  import org.apache.spark.unsafe.types.UTF8String

  private val Hex = "0123456789abcdef".toCharArray

  /** md5 hex of EVERY positional k-shingle (tokens i..i+k−1 joined by
    * one space), position order preserved — the codegen'd twin of
    * `transform(sequence(1, n−k+1), i -> md5(concat_ws(' ', slice(toks, i, k))))`,
    * whose lambda ran interpreted with a k-element array copy and a
    * string rebuild per position. The digest is fed the token bytes and
    * separator directly (no shingle string is ever materialized), and
    * the hex encoding matches Spark's `md5` (lowercase hex over UTF-8
    * bytes) exactly — the DuckDB oracle replays the same md5. Empty
    * array when the input has fewer than k tokens. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](n)
    var i = 0
    // null elements stay null and are SKIPPED below — concat_ws
    // semantics (no token bytes, no separator), so the kernel matches
    // its expression twin even on ARRAY<STRING> with containsNull
    // (round-14 advice; unreachable from split()-fed call sites)
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      md.reset()
      var j = 0
      var emitted = false
      while (j < k) {
        val t = toks(i + j)
        if (t != null) {
          if (emitted) md.update(' '.toByte)
          md.update(t)
          emitted = true
        }
        j += 1
      }
      val d = md.digest()
      val cs = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        cs(2 * b) = Hex((d(b) >> 4) & 0xf).toByte
        cs(2 * b + 1) = Hex(d(b) & 0xf).toByte
        b += 1
      }
      out(i) = UTF8String.fromBytes(cs)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<string> tokens → array<string> positional k-shingle md5 hexes
  * (see [[PositionalShingleMd5Kernel]]). */
case class PositionalShingleMd5Expr(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, GraftTypeCheck.isStringArray(child.dataType), "ARRAY<STRING>", child.dataType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "positional_shingle_md5"
  override protected def nullSafeEval(input: Any): Any =
    PositionalShingleMd5Kernel.compute(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PositionalShingleMd5Kernel.compute($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgramKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** Distinct character n-grams of the whitespace-normalized lowercase
    * text, SORTED (binary order) so pairwise set ops can merge instead
    * of hash. Empty when shorter than n chars. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val s = Norm.normalized(text.toString)
    if (s.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.TreeSet[String]()
    var i = 0
    while (i <= s.length - n) { seen.add(s.substring(i, i + n)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(out)
  }
}

/** string → array<string> distinct character n-grams (see [[CharNgramKernel]]). */
case class CharNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, child.dataType == StringType, "STRING", child.dataType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  override protected def nullSafeEval(input: Any): Any =
    CharNgramKernel.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharNgramKernel.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** string → array<string> distinct word k-shingles (see [[ShingleKernel]]). */
case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, child.dataType == StringType, "STRING", child.dataType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(input: Any): Any =
    ShingleKernel.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.compute($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> → array<long> MinHash signature (see [[MinHashKernel]]). */
case class MinHashSignatureExpr(child: Expression, numPerms: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, GraftTypeCheck.isStringArray(child.dataType), "ARRAY<STRING>", child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.compute(input.asInstanceOf[ArrayData], numPerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.compute($c, $numPerms)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> → array<long> of `bands` LSH band keys (fused MinHash
  * signature + banding, see [[MinHashKernel.computeBands]]). */
case class MinHashBandsExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, GraftTypeCheck.isStringArray(child.dataType), "ARRAY<STRING>", child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.computeBands(input.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.computeBands($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> → array<long> (4 × 16-bit) SimHash blocks. */
case class SimHashBlocksExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, GraftTypeCheck.isStringArray(child.dataType), "ARRAY<STRING>", child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_blocks"
  override protected def nullSafeEval(input: Any): Any =
    SimHashKernel.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashKernel.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> → array<long> (4 × 16-bit) MD5-based SimHash blocks
  * (see [[Md5SimHashKernel]] — the oracle-replayable variant). */
case class Md5SimHashBlocksExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, GraftTypeCheck.isStringArray(child.dataType), "ARRAY<STRING>", child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_simhash_blocks"
  override protected def nullSafeEval(input: Any): Any =
    Md5SimHashKernel.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5SimHashKernel.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHashKernel {
  import org.apache.spark.unsafe.Platform

  /** Sorted distinct XXH64 hashes (seed 42) of the character n-grams of
    * the whitespace-normalized lowercase text. The 64-bit hash stands in
    * for the gram itself in set arithmetic ([[JaccardLongKernel]]):
    * per-document hashing happens ONCE here, so pairwise scoring never
    * touches strings again — the string-set Jaccard builds a hash set
    * per PAIR, which dominates broadcast scoring runs. Collision risk at
    * 64 bits is ~|A|·|B|/2⁶⁴ per pair — negligible against rounded
    * similarity output. Zero per-gram allocation: each window's chars
    * are written into one reused byte buffer and hashed in place. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val s = Norm.normalized(text.toString)
    if (s.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val m = s.length - n + 1
    val tmp = new Array[Long](m)
    val buf = new Array[Byte](2 * n)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        val c = s.charAt(i + j)
        buf(2 * j) = (c >> 8).toByte
        buf(2 * j + 1) = c.toByte
        j += 1
      }
      tmp(i) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, 2 * n, 42L)
      i += 1
    }
    java.util.Arrays.sort(tmp)
    var out = 1
    var k = 1
    while (k < m) {
      if (tmp(k) != tmp(k - 1)) { tmp(out) = tmp(k); out += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(tmp, out))
  }
}

object JaccardLongKernel {
  /** |A ∩ B| / |A ∪ B| of two SORTED distinct long arrays — a primitive
    * merge, no hashing, no object churn. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return Double.NaN
    var i = 0; var j = 0; var shared = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { shared += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    shared.toDouble / (na + nb - shared)
  }
}

object RollingChunkKernel {
  import org.apache.spark.unsafe.types.UTF8String

  private final val Window = 16
  private final val Base = 1000003L
  private final val BasePowW: Long = {
    var p = 1L
    var i = 0
    while (i < Window) { p *= Base; i += 1 }
    p
  }

  /** Content-defined chunk fingerprints (Rabin-style): a polynomial
    * rolling hash over a FIXED sliding window of the last [[Window]]
    * chars decides boundaries (`hash & mask == 0` ends a chunk, expected
    * chunk length ≈ mask+1); each chunk ≥ minChunk chars is
    * fingerprinted with XXH64. Because the boundary condition depends
    * only on local content — never on offsets or chunk starts — two
    * documents resynchronize on identical boundaries within one window
    * of entering shared text: shared boilerplate produces identical
    * interior chunk fingerprints wherever it appears. Output is the
    * sorted distinct fingerprint set (merge-friendly, like
    * [[GramHashKernel]]). */
  def compute(text: UTF8String, minChunk: Int, mask: Long): ArrayData = {
    val s = Norm.normalized(text.toString)
    val n = s.length
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val out = new Array[Long](n / math.max(1, minChunk) + 1)
    var count = 0
    var h = 0L
    var start = 0
    var i = 0
    while (i < n) {
      h = h * Base + s.charAt(i)
      if (i >= Window) h -= BasePowW * s.charAt(i - Window)
      val len = i - start + 1
      if ((len >= minChunk && (h & mask) == 0L) || i == n - 1) {
        val bytes = s.substring(start, i + 1).getBytes("UTF-8")
        out(count) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        count += 1
        start = i + 1
      }
      i += 1
    }
    val trimmed = java.util.Arrays.copyOf(out, count)
    java.util.Arrays.sort(trimmed)
    var uniq = if (count == 0) 0 else 1
    var k = 1
    while (k < count) {
      if (trimmed(k) != trimmed(k - 1)) { trimmed(uniq) = trimmed(k); uniq += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(trimmed, uniq))
  }
}

object JaccardKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** |A ∩ B| / |A ∪ B| of two distinct string arrays (one hash-set pass;
    * a sorted-merge variant was measured SLOWER here — per-element
    * UTF8String materialization from ArrayData dominates, so fewer
    * accesses beat avoided hashing). */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return Double.NaN
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var shared = 0
    var j = 0
    while (j < nb) { if (set.contains(b.getUTF8String(j))) shared += 1; j += 1 }
    shared.toDouble / (na + nb - shared)
  }
}

/** string → array<long> sorted distinct char-n-gram hashes (see
  * [[GramHashKernel]]). */
case class GramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, child.dataType == StringType, "STRING", child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  override protected def nullSafeEval(input: Any): Any =
    GramHashKernel.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashKernel.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (array<long>, array<long>) → double Jaccard over sorted hash sets. */
case class JaccardLongExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName,
    left.dataType == ArrayType(LongType, false) || left.dataType == ArrayType(LongType, true),
    "ARRAY<BIGINT>, ARRAY<BIGINT>", left.dataType)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "jaccard_sim_hashed"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardLongKernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardLongKernel.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** string → array<long> content-defined chunk fingerprints (see
  * [[RollingChunkKernel]]). */
case class RollingChunksExpr(child: Expression, minChunk: Int, mask: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, child.dataType == StringType, "STRING", child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_chunks"
  override protected def nullSafeEval(input: Any): Any =
    RollingChunkKernel.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], minChunk, mask)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingChunkKernel.compute($c, $minChunk, ${mask}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (array<string>, array<string>) → double Jaccard similarity. */
case class JaccardExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName,
    GraftTypeCheck.isStringArray(left.dataType) && GraftTypeCheck.isStringArray(right.dataType),
    "ARRAY<STRING>, ARRAY<STRING>", left.dataType)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "jaccard_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardKernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardKernel.compute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object LengthPrefixKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** `<chars>:<element>` per element, nulls kept: exactly
    * `transform(a, s -> concat(length(s), ':', s))`. */
  def compute(arr: ArrayData): ArrayData =
    new GenericArrayData(Array.tabulate[Any](arr.numElements()) { i =>
      if (arr.isNullAt(i)) null
      else {
        val s = arr.getUTF8String(i)
        UTF8String.concat(UTF8String.fromString(s"${s.numChars}:"), s)
      }
    })
}

/** array<string> → array<string> length-prefixed elements (see
  * [[LengthPrefixKernel]]), the lambda-free form of a `transform`. An
  * interpreted lambda (`transform`, `array_sort`'s comparator) keeps its
  * current element in state on the expression, so two driver threads
  * constant-folding one local-relation plan read each other's rows. */
case class LengthPrefixExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = GraftTypeCheck.expect(
    prettyName, GraftTypeCheck.isStringArray(child.dataType), "ARRAY<STRING>", child.dataType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "length_prefix"
  override protected def nullSafeEval(input: Any): Any =
    LengthPrefixKernel.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LengthPrefixKernel.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level entry points for the custom expressions. */
object Hashing {
  def minhashSignature(c: Column, numPerms: Int): Column =
    GraftBridge.column(MinHashSignatureExpr(GraftBridge.expression(c), numPerms))
  def minhashBands(c: Column, bands: Int, rowsPerBand: Int): Column =
    GraftBridge.column(MinHashBandsExpr(GraftBridge.expression(c), bands, rowsPerBand))
  def simhashBlocks(c: Column): Column =
    GraftBridge.column(SimHashBlocksExpr(GraftBridge.expression(c)))
  def md5SimhashBlocks(c: Column): Column =
    GraftBridge.column(Md5SimHashBlocksExpr(GraftBridge.expression(c)))
  def wordShingles(c: Column, k: Int): Column =
    GraftBridge.column(WordShinglesExpr(GraftBridge.expression(c), k))
  def positionalShingleMd5(c: Column, k: Int): Column =
    GraftBridge.column(PositionalShingleMd5Expr(GraftBridge.expression(c), k))
  def charNgrams(c: Column, n: Int): Column =
    GraftBridge.column(CharNgramsExpr(GraftBridge.expression(c), n))
  def jaccardSim(a: Column, b: Column): Column =
    GraftBridge.column(JaccardExpr(GraftBridge.expression(a), GraftBridge.expression(b)))
  def gramHashes(c: Column, n: Int): Column =
    GraftBridge.column(GramHashesExpr(GraftBridge.expression(c), n))
  def jaccardSimHashed(a: Column, b: Column): Column =
    GraftBridge.column(JaccardLongExpr(GraftBridge.expression(a), GraftBridge.expression(b)))
  def lengthPrefix(c: Column): Column =
    GraftBridge.column(LengthPrefixExpr(GraftBridge.expression(c)))
  def rollingChunks(c: Column, minChunk: Int, mask: Long): Column =
    GraftBridge.column(RollingChunksExpr(GraftBridge.expression(c), minChunk, mask))
}
