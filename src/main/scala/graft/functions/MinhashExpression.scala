package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Whole-signature MinHash in ONE pass over the document string.
 *
 * The row-generator formulation (explode every k-char shingle → 64
 * `min()` aggregate expressions) materializes ~2000 rows per document
 * and pushes 64 hash-aggregate buffer updates through the aggregate for
 * EVERY shingle row — measured ~2.5 s of the sf0.1 minhash pipeline's
 * ~3.7 s total, dominating banding and verification. This expression
 * computes the identical signature per document inside a single
 * projection: no generated rows, no aggregate, no exchange at all on
 * the signature path (the "functions, not UDFs" ladder, rung (b):
 * a native Catalyst expression).
 *
 * Byte-identical contract with the row formulation it replaces (the
 * parity is spec-asserted):
 *
 *   sig_j = min over char positions p of
 *           floorMod(a_j * floorMod(xxhash64(substr(norm, p+1, k)), P) + b_j, P)
 *
 * where `substr` uses SQL CHARACTER semantics (the UTF-8 byte window is
 * walked per codepoint, exactly like `UTF8String.substringSQL`) and
 * `xxhash64` is Spark's XXH64 with its default seed 42 over the window's
 * bytes. Inputs shorter than k characters yield NULL (the row form had
 * no posting rows for them — callers filter either way). One call per
 * DOCUMENT makes the interpreted-eval boundary (CodegenFallback)
 * irrelevant: the inner loop is plain Java over a byte array.
 *
 * Reference for the operator family: minhash banding as in
 * `jasminegraph`'s duplicate-detection pipeline scope (SURVEY.md §2,
 * LLM-pipeline extensions).
 */
case class MinhashSignature(child: Expression, k: Int,
                            as: Array[Long], bs: Array[Long], p: Long)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = CharWindows.checkString(prettyName, child)

  override protected def nullSafeEval(input: Any): Any = {
    val w = CharWindows(input.asInstanceOf[UTF8String], k)
    if (w == null) return null
    val numHashes = as.length
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var pos = 0
    while (pos < w.count) {
      val h = java.lang.Math.floorMod(w.hash(pos), p)
      var j = 0
      while (j < numHashes) {
        val v = java.lang.Math.floorMod(as(j) * h + bs(j), p)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      pos += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** The k-character windows of a string: byte offset of every char start
  * (plus an end sentinel), walked per codepoint exactly like
  * `UTF8String.substringSQL`, so window `p` is `substr(s, p + 1, k)`. */
private[functions] final class CharWindows private (bytes: Array[Byte], offs: Array[Int], k: Int) {
  /** Number of windows. */
  def count: Int = offs.length - k

  /** Spark's `xxhash64` (seed 42) of window `pos`. */
  def hash(pos: Int): Long = {
    val start = offs(pos)
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start, offs(pos + k) - start, 42L)
  }
}

private[functions] object CharWindows {
  /** The windows of `s`, or null when it is shorter than k characters. */
  def apply(s: UTF8String, k: Int): CharWindows = {
    val numChars = s.numChars()
    if (numChars < k) return null
    val bytes = s.getBytes
    val offs = new Array[Int](numChars + 1)
    var ci = 0
    var bi = 0
    while (ci < numChars) {
      offs(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    offs(numChars) = bytes.length
    new CharWindows(bytes, offs, k)
  }

  def checkString(name: String, child: Expression): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a STRING argument, got ${child.dataType.catalogString}")
}

/**
 * The shingle set of a string in one pass: the ascending, distinct
 * `xxhash64` values of its k-character windows — the same windows and
 * hash as [[MinhashSignature]], so it equals the distinct
 * `(id, xxhash64(substr(norm, p + 1, k)))` posting of a document (the
 * parity is spec-asserted). NULL for inputs shorter than k characters.
 * Exact Jaccard of two documents is then [[SortedJaccard]] of their
 * sets, with no posting rows to explode, shuffle or join.
 */
case class ShingleSet(child: Expression, k: Int) extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "shingle_set"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = CharWindows.checkString(prettyName, child)

  override protected def nullSafeEval(input: Any): Any = {
    val w = CharWindows(input.asInstanceOf[UTF8String], k)
    if (w == null) return null
    val hs = Array.tabulate(w.count)(w.hash)
    java.util.Arrays.sort(hs)
    var n = 0
    var i = 0
    while (i < hs.length) {
      if (n == 0 || hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, n))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/**
 * Exact Jaccard |A∩B| / |A∪B| of two ascending, distinct BIGINT arrays
 * (two [[ShingleSet]]s) by one sorted merge; NULL when either is NULL.
 */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "sorted_jaccard"
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedJaccard.of(a.asInstanceOf[ArrayData].toLongArray(), b.asInstanceOf[ArrayData].toLongArray())

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedJaccard =
    copy(left = l, right = r)
}

object SortedJaccard {
  /** |x∩y| / |x∪y| of two ascending, distinct arrays by one sorted merge:
    * the expression's kernel, shared with the driver replay of
    * [[graft.pipeline.Dedup.minhashPairs]]. */
  def of(x: Array[Long], y: Array[Long]): Double = {
    var inter = 0
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    inter.toDouble / (x.length + y.length - inter).toDouble
  }
}
