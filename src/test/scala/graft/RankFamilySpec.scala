package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algorithms.GraphAlgorithms
import graft.model.PropertyGraph

/**
 * The rank family — pageRank, personalizedPageRank, weightedPageRank and
 * katz — on hostile inputs: an empty edge frame, isolated vertices,
 * self-loops, multi-edges, edges whose src or dst is not a node, and
 * 64-bit ids. The two float operators are checked against a plain-Scala
 * power iteration; the two exact-integer operators' local regime against
 * their distributed loop.
 */
class RankFamilySpec extends SparkSpec {

  private val big = 5000000000L

  /** Vertices 1..7 past Int.MaxValue; 6 and 7 are isolated. */
  private val nodes: Seq[Long] = (1L to 7L).map(big + _)

  /** A 3-cycle with a multi-edge and two self-loops, a tail 3→4→5→1, an
    * edge from a non-node (9), one to a non-node, one between two. */
  private val edges: Seq[(Long, Long)] = Seq((1L, 2L), (2L, 3L), (3L, 1L),
    (1L, 3L), (1L, 3L), (2L, 2L), (4L, 4L), (3L, 4L), (4L, 5L), (5L, 1L),
    (9L, 1L), (2L, 9L), (8L, 9L)).map { case (a, b) => (big + a, big + b) }

  private val cases: Seq[(String, Seq[(Long, Long)])] =
    Seq("hostile" -> edges, "empty edge frame" -> Seq.empty)

  private def graph(es: Seq[(Long, Long)]): PropertyGraph = {
    import spark.implicits._
    PropertyGraph(nodes.toDF("id"),
      es.toDF("src", "dst").withColumn("type", lit("E")), isDirected = true)
  }

  /** r₀ = init; r(v) ← (1−α)·restart(v) + α·Σ_{u→v, u a node} r(u)/outdeg(u). */
  private def powerIteration(es: Seq[(Long, Long)], alpha: Double, iterations: Int,
                             restart: Long => Double): Map[Long, Double] = {
    val live = es.filter(e => nodes.contains(e._1))
    val outDeg = live.groupBy(_._1).map { case (k, v) => k -> v.size }
    var rank = nodes.map(v => v -> restart(v)).toMap
    for (_ <- 1 to iterations) {
      val contrib = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      live.foreach { case (s, d) => contrib(d) += rank(s) / outDeg(s) }
      rank = nodes.map(v => v -> ((1.0 - alpha) * restart(v) + alpha * contrib(v))).toMap
    }
    rank
  }

  private def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double], clue: String): Unit = {
    assert(got.keySet === want.keySet, clue)
    want.foreach { case (v, r) => assert(math.abs(got(v) - r) <= 1e-9, s"$clue: vertex $v") }
  }

  test("pageRank and personalizedPageRank match a plain power iteration on hostile inputs") {
    import spark.implicits._
    val sources = Seq(big + 1, big + 4, big + 99).toDF("id") // 99 is no node
    val inS = Set(big + 1, big + 4)
    for ((name, es) <- cases; iterations <- Seq(1, 3, 7); interval <- Seq(2, 6)) {
      val g = graph(es)
      val clue = s"$name, $iterations iterations, checkpoint every $interval"
      assertClose(ranks(GraphAlgorithms.pageRank(g, 0.85, iterations, interval)),
        powerIteration(es, 0.85, iterations, _ => 1.0), s"pageRank, $clue")
      assertClose(ranks(GraphAlgorithms.personalizedPageRank(g, sources, 0.85, iterations, interval)),
        powerIteration(es, 0.85, iterations, v => if (inS(v)) 1.0 else 0.0), s"ppr, $clue")
    }
  }

  test("weightedPageRank and katz: local regime equals the distributed loop on hostile inputs") {
    import spark.implicits._
    def rows(df: => DataFrame): (Seq[String], Seq[String]) =
      (df.collect().toSeq.map(_.mkString("|")).sorted,
        withLocalRegimesOff(df.collect()).toSeq.map(_.mkString("|")).sorted)
    // weights: multi-edges differ, one zero weight (dropped), one null
    val weighted = edges.zipWithIndex.map { case ((s, d), i) =>
      (s, d, if (i == 7) Some(0L) else if (i == 8) None else Some(i % 4 + 1L)) }
    for ((name, es) <- Seq("hostile" -> weighted, "empty edge frame" -> Seq.empty);
         iterations <- Seq(1, 3, 7)) {
      val we = es.toDF("src", "dst", "weight")
      val (wOn, wOff) = rows(GraphAlgorithms.weightedPageRank(we, 85, 100, iterations, 2))
      assert(wOn === wOff, s"weightedPageRank, $name, $iterations iterations")
      val ke = we.select(col("src"), col("dst"))
      val (kOn, kOff) = rows(GraphAlgorithms.katz(ke, 1, 10, iterations, 2))
      assert(kOn === kOff, s"katz, $name, $iterations iterations")
      if (name == "hostile") assert(wOn.nonEmpty && kOn.nonEmpty)
    }
  }

  test("pageRank: 3 iterations launch 8 jobs, 4 once the edge list is cached (15 and 11 " +
      "with a vertex join per iteration)") {
    import spark.implicits._
    // 20 nodes, 100 undirected edges, cached: the shape of the GraphCore
    // JSON fixture
    val pairs = (0 until 20).flatMap(a => (1 to 5).map(k => (a, (a + k * 3) % 20)))
      .map { case (a, b) => (a.toString, b.toString) }
    val props = map().cast(org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    val g = PropertyGraph((0 until 20).map(_.toString).toDF("id"), PropertyGraph.withEid(
      pairs.toDF("src", "dst").withColumn("type", lit("E")).withColumn("properties", props)),
      isDirected = false).cache()
    g.nodes.count(); g.edges.count()
    val (first, out) = jobsDuring(GraphAlgorithms.pageRank(g, 0.85, 3).collect())
    assert(out.length === 20)
    assert(first.size <= 8, first.mkString("\n"))
    // a second call finds the degree-annotated edge list already cached
    val (again, _) = jobsDuring(GraphAlgorithms.pageRank(g, 0.85, 3).collect())
    assert(again.size <= 4, again.mkString("\n"))
    spark.sharedState.cacheManager.clearCache()
  }
}
