package graft.algorithms

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The driver-side graph every local regime replays on: the analogue of
 * the in-memory adjacency a JasmineGraph worker keeps per partition (the
 * `NodeBlock` edge heads, SURVEY §1.1). It is built once, from the rows
 * of the one probe collect that also gated the regime
 * ([[GraphAlgorithms.collectRowsGated]]; [[LocalGraph.simple]] or
 * [[LocalGraph.multi]] over them, as in
 * [[GraphAlgorithms.collectInternedGated]]), and holds
 *  - `ids`, the interned vertex ids: the i-th distinct id met gets index
 *    i, so a replay's output order is the collected row order;
 *  - `idType`, the one type of every id ([[LocalGraph.typed]]);
 *  - `src`/`dst`, the edges as index pairs, and `weight` for a multigraph;
 *  - built on first use, primitive CSR adjacencies over the edges:
 *    `out`, `in`, `both` (every edge in both orientations — the
 *    undirected closure of a canonical graph) and, for the walks,
 *    [[numeric]] (neighbours in numeric id order).
 */
private[graft] final class LocalGraph(val ids: Array[Any],
    val idx: scala.collection.Map[Any, Int], val idType: DataType,
    val src: Array[Int], val dst: Array[Int], val weight: Array[Long]) {
  import LocalGraph.Csr

  def n: Int = ids.length
  def edgeCount: Int = src.length

  lazy val out: Csr = Csr(n, src, dst)
  lazy val in: Csr = Csr(n, dst, src)
  lazy val both: Csr = {
    val m = edgeCount
    Csr(n, Array.tabulate(2 * m)(i => if (i % 2 == 0) src(i / 2) else dst(i / 2)),
      Array.tabulate(2 * m)(i => if (i % 2 == 0) dst(i / 2) else src(i / 2)))
  }

  /** The adjacency a replay walks: the closure when `undirected` (the
    * graph was loaded canonical), the out-edges otherwise. */
  def adj(undirected: Boolean): Csr = if (undirected) both else out

  /** `adj` with each neighbour list in numeric id order — the order of
    * `row_number() OVER (PARTITION BY u ORDER BY v)` on integral ids. */
  def numeric(adj: Csr): Csr = {
    val to = adj.to.clone()
    var v = 0
    while (v < n) {
      val seg = to.slice(adj.off(v), adj.off(v + 1))
        .sortBy(i => ids(i).asInstanceOf[Number].longValue)
      System.arraycopy(seg, 0, to, adj.off(v), seg.length)
      v += 1
    }
    new Csr(adj.off, to)
  }
}

private[graft] object LocalGraph {

  /** First-seen id interner shared by every local regime: the i-th
    * distinct id met gets index i, so a replay's output order is the
    * collected row order. */
  final class Interner {
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
  }

  /** Compressed sparse rows: the neighbours of `v` are
    * `to(off(v) until off(v + 1))`. */
  final class Csr(val off: Array[Int], val to: Array[Int]) {
    def degree(v: Int): Int = off(v + 1) - off(v)
    /** The `k`-th neighbour of `v`. */
    def apply(v: Int, k: Int): Int = to(off(v) + k)
    def foreach(v: Int)(f: Int => Unit): Unit = {
      var i = off(v)
      while (i < off(v + 1)) { f(to(i)); i += 1 }
    }
    def forall(v: Int)(p: Int => Boolean): Boolean = {
      var i = off(v)
      while (i < off(v + 1)) { if (!p(to(i))) return false; i += 1 }
      true
    }
  }

  object Csr {
    /** The adjacency of the `from(e) → to(e)` edges over `n` vertices;
      * each vertex's neighbours keep their edge order. */
    def apply(n: Int, from: Array[Int], to: Array[Int]): Csr = {
      val off = new Array[Int](n + 1)
      from.foreach(u => off(u + 1) += 1)
      var v = 0
      while (v < n) { off(v + 1) += off(v); v += 1 }
      val fill = off.clone()
      val out = new Array[Int](from.length)
      var e = 0
      while (e < from.length) { out(fill(from(e))) = to(e); fill(from(e)) += 1; e += 1 }
      new Csr(off, out)
    }
  }

  /** `df` with its first two (id) columns cast to the type a union of the
    * two resolves to — the type the distributed paths emit, since they
    * take vertex sets as `src ∪ dst` unions. The one id-type rule: a
    * graph with INT `src` and BIGINT `dst` is a BIGINT graph on both
    * paths. Two columns of one type already agree, and `df` comes back
    * as it is, without the ~20 ms of analysis the union costs. */
  def typed(df: DataFrame): DataFrame = {
    val Array(a, b) = df.columns.take(2)
    if (df.schema(a).dataType == df.schema(b).dataType) return df
    val t = df.select(col(a).as("id")).unionByName(df.select(col(b).as("id")))
      .schema("id").dataType
    df.select(col(a).cast(t).as(a) +: col(b).cast(t).as(b) +:
      df.columns.drop(2).toSeq.map(col): _*)
  }

  /** The simple graph of the (src, dst) `rows`, ids of `idType`: rows
    * with a null endpoint and self-loops are dropped (as the distributed
    * paths' `src <> dst` filters drop them), then duplicates — ordered
    * pairs, or with `canonical` unordered ones, each kept once and
    * oriented by intern index (any consistent orientation serves the
    * undirected consumers, which read [[LocalGraph.both]]). */
  def simple(rows: Array[Row], idType: DataType, canonical: Boolean): LocalGraph = {
    val in = new Interner
    val seen = new java.util.HashSet[Long]()
    val src = Array.newBuilder[Int]
    val dst = Array.newBuilder[Int]
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (a != null && b != null && a != b) {
        val (s0, d0) = (in.intern(a), in.intern(b))
        val (s, d) = if (canonical && s0 > d0) (d0, s0) else (s0, d0)
        if (seen.add((s.toLong << 32) | (d.toLong & 0xffffffffL))) { src += s; dst += d }
      }
    }
    new LocalGraph(in.ids.toArray, in.idx, idType, src.result(), dst.result(), null)
  }

  /** The multigraph of `rows`: every (src, dst[, weight BIGINT]) row is
    * one edge, self-loops and duplicates included, of weight 1 without
    * the weight column. */
  def multi(rows: Array[Row], idType: DataType): LocalGraph = {
    val in = new Interner
    val src = rows.map(r => in.intern(r.get(0)))
    val dst = rows.map(r => in.intern(r.get(1)))
    new LocalGraph(in.ids.toArray, in.idx, idType, src, dst,
      rows.map(r => if (r.length > 2) r.getLong(2) else 1L))
  }

  /** `rows` with the rows that share `key` merged by `pick` into one,
    * in first-seen key order: the driver-side dedup of a probe's raw
    * edge rows. */
  def merged(rows: Array[Row], key: Row => Any)(pick: (Row, Row) => Row): Array[Row] = {
    val at = new java.util.LinkedHashMap[Any, Row]()
    rows.foreach(r => at.merge(key(r), r, (a: Row, b: Row) => pick(a, b)))
    at.values.toArray(new Array[Row](0))
  }

  /** [[merged]] by the (src, dst) pair: its BIGINT column 2 summed over
    * the pair when `summed` (parallel edges add, the multigraph
    * convention), else the first row's. */
  def mergedPairs(rows: Array[Row], summed: Boolean): Array[Row] =
    merged(rows, r => (r.get(0), r.get(1))) { (a, b) =>
      if (summed) Row.fromSeq(a.toSeq.updated(2, a.getLong(2) + b.getLong(2))) else a
    }

  /** Spark's ascending order of two ids of one type, nulls first — the
    * order of `least`, `min` and `ORDER BY`: strings and binaries by
    * their unsigned bytes, floating point with NaN last and −0.0 = 0.0. */
  def compareIds(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: java.lang.Double, y: java.lang.Double) =>
      if (x.doubleValue == y.doubleValue) 0 else java.lang.Double.compare(x, y)
    case (x: java.lang.Float, y: java.lang.Float) =>
      if (x.floatValue == y.floatValue) 0 else java.lang.Float.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => String.valueOf(a).compareTo(String.valueOf(b))
  }

  /** The one result frame of the local regimes: `rows` in one partition
    * under the (name, type) `fields`, every column nullable. */
  def frame(spark: SparkSession, fields: Seq[(String, DataType)], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(fields.map { case (name, t) => StructField(name, t) }))

  /** The one driver-side breadth-first search, reused across sources.
    * `from(s, maxHops)` visits every vertex within `maxHops` hops of `s`
    * over `adj` and returns how many it visited (`s` included): they are
    * `order(0 until k)` in BFS order, each with its hop distance `dist`
    * and `sigma`, its number of shortest paths from `s` (Brandes' σ) —
    * counted over a simple adjacency, where no edge repeats. */
  final class Sweep(adj: Csr) {
    private val n = adj.off.length - 1
    val order = new Array[Int](n)
    val dist = new Array[Int](n)
    val sigma = new Array[Long](n)
    private val stamp = new Array[Int](n)
    private var sweep = 0

    /** Whether the last sweep visited `v`. */
    def visited(v: Int): Boolean = stamp(v) == sweep

    def from(s: Int, maxHops: Int): Int = {
      sweep += 1
      stamp(s) = sweep; dist(s) = 0; sigma(s) = 1L; order(0) = s
      var head = 0
      var tail = 1
      while (head < tail) {
        val u = order(head)
        head += 1
        if (dist(u) < maxHops) {
          var i = adj.off(u)
          while (i < adj.off(u + 1)) {
            val v = adj.to(i)
            if (stamp(v) != sweep) {
              stamp(v) = sweep; dist(v) = dist(u) + 1; sigma(v) = 0L
              order(tail) = v; tail += 1
            }
            if (dist(v) == dist(u) + 1) sigma(v) += sigma(u)
            i += 1
          }
        }
      }
      tail
    }
  }
}
