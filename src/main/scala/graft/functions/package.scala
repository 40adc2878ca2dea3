package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnBridge

/**
 * Column-level API for graft's native Catalyst expressions.
 *
 * [[functions.vecDot]] / [[functions.vecNorm]] / [[functions.vecCosine]] /
 * [[functions.vecL2Dist]] are drop-in replacements for the
 * `aggregate(zip_with(...))` higher-order-function forms (bit-identical
 * results — see [[graft.functions.ArrayDot]]), compiled to tight
 * generated loops instead of per-element interpreted lambda calls.
 */
package object functions {

  private def column(e: Expression): Column = ColumnBridge.column(e)

  /** Σ aᵢ·bᵢ, codegen'd. Null on null input / length mismatch / null element. */
  def vecDot(a: Column, b: Column): Column =
    column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** √(Σ aᵢ²), codegen'd. */
  def vecNorm(a: Column): Column = {
    val e = ColumnBridge.expression(a)
    org.apache.spark.sql.functions.sqrt(column(ArrayDot(e, e)))
  }

  /** dot(a,b) / (‖a‖·‖b‖) — factored exactly like the HOF original so
    * results (incl. NaN on zero norms) are unchanged. */
  def vecCosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))

  /** √(Σ (aᵢ−bᵢ)²), codegen'd. */
  def vecL2Dist(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.sqrt(
      column(ArraySqDiff(ColumnBridge.expression(a), ColumnBridge.expression(b))))

  /** Σ (aᵢ−bᵢ)² (squared L2, no sqrt — the PQ/argmin form: sqrt is
    * monotone, so comparisons are identical and one IEEE op fewer has
    * one fewer rounding to replay), codegen'd. */
  def vecSqDiff(a: Column, b: Column): Column =
    column(ArraySqDiff(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 0-based index of the argmax-cosine centroid for a vector column,
    * as ONE codegen'd projection over the plan-constant k×dim matrix —
    * see [[NearestCentroid]] for the exact window-parity contract. */
  def vecNearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroid(ColumnBridge.expression(v), centroids))

  /** Whole MinHash signature (array of `as.length` longs) of a string in
    * one pass — see [[MinhashSignature]] for the exact contract. NULL for
    * inputs shorter than k characters. */
  def minhashSig(s: Column, k: Int, as: Array[Long], bs: Array[Long], p: Long): Column =
    column(MinhashSignature(ColumnBridge.expression(s), k, as, bs, p))

  /** Ascending distinct `xxhash64` values of the k-character windows of a
    * string — see [[ShingleSet]]. NULL for inputs shorter than k. */
  def shingleSet(s: Column, k: Int): Column =
    column(ShingleSet(ColumnBridge.expression(s), k))

  /** Exact Jaccard of two [[shingleSet]] arrays by one sorted merge. */
  def sortedJaccard(a: Column, b: Column): Column =
    column(SortedJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 64-bit SimHash signature of a whitespace-tokenized string in one
    * pass — see [[SimhashSignature]]. NULL when there are no tokens. */
  def simhashSig(s: Column): Column =
    column(SimhashSignature(ColumnBridge.expression(s)))
}
