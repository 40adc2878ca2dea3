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
 * power iteration, and with the local regimes switched on against off,
 * also with duplicate and null node ids, undirected and with TINYINT
 * node ids under BIGINT endpoints; the two
 * exact-integer operators' local regime against their distributed loop.
 * Job guards pin both paths' shape on a cached graph, and that the
 * switch-off weightedPageRank and katz stay lazy and leave nothing cached.
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

  /** The schema line, then the (id, rank) rows in id order, nulls first. */
  private def idRanks(df: DataFrame): (String, Seq[(String, Double)]) =
    (df.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", "),
      df.collect().toSeq.map(r => (String.valueOf(r.get(0)), r.getDouble(1)))
        .sortBy { case (id, rank) => (id, rank) })

  /** `run` with the switch on and off: the same column types, the same ids
    * (duplicates and nulls included) and each rank within 1e-9. */
  private def assertSwitchParity(run: => DataFrame, clue: String): Unit = {
    val (onSchema, on) = idRanks(run)
    val (offSchema, off) = withLocalRegimesOff(idRanks(run))
    assert(onSchema === offSchema, clue)
    assert(on.map(_._1) === off.map(_._1), clue)
    on.zip(off).foreach { case ((v, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-9, s"$clue: vertex $v, on $a, off $b") }
  }

  test("pageRank and personalizedPageRank: switch on = off on hostile graphs") {
    import spark.implicits._
    val props = map().cast("map<string,string>").as("properties")
    def pg(ids: Seq[Option[Long]], es: Seq[(Long, Long)], directed: Boolean): PropertyGraph =
      PropertyGraph(ids.toDF("id").select(col("id"), lit("").as("label"), props),
        PropertyGraph.withEid(es.toDF("src", "dst").select(col("src"), col("dst"),
          lit("E").as("type"), props)), directed)
    // a duplicate node id (1) and a null one besides the seven nodes
    val hostileIds = nodes.map(Some(_)) ++ Seq(Some(big + 1), None)
    val graphs = Seq(
      "hostile" -> pg(nodes.map(Some(_)), edges, directed = true),
      "duplicate and null node ids" -> pg(hostileIds, edges, directed = true),
      "empty edge frame" -> pg(hostileIds, Seq.empty, directed = true),
      "undirected with a self-loop" -> pg(nodes.map(Some(_)), edges, directed = false),
      // BIGINT endpoints under TINYINT node ids: 300 is no node, and a
      // wrapping cast would turn it into node 44
      "tinyint node ids" -> {
        val t = pg(Seq(1L, 2L, 3L, 44L).map(Some(_)),
          Seq((1L, 2L), (2L, 3L), (3L, 1L), (300L, 44L), (1L, 300L), (2L, 44L)), directed = true)
        t.copy(nodes = t.nodes.withColumn("id", col("id").cast("tinyint")))
      })
    // 99 is no node
    val sources = Seq(big + 1, big + 4, big + 99).toDF("id")
    for ((name, g) <- graphs; iterations <- Seq(0, 1, 3, 7)) {
      val clue = s"$name, $iterations iterations"
      assertSwitchParity(GraphAlgorithms.pageRank(g, 0.85, iterations, 2), s"pageRank, $clue")
      assertSwitchParity(GraphAlgorithms.personalizedPageRank(g, sources, 0.85, iterations, 2),
        s"ppr, $clue")
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

  /** 20 nodes and 100 undirected edges, cached: the shape of the
    * GraphCore JSON fixture. Sized by [[PropertyGraph.cache]] (one
    * partition each), or cached in `parts` partitions, across which the
    * distributed path has to shuffle. */
  private def cachedFixture(parts: Option[Int] = None): PropertyGraph = {
    import spark.implicits._
    val pairs = (0 until 20).flatMap(a => (1 to 5).map(k => (a, (a + k * 3) % 20)))
      .map { case (a, b) => (a.toString, b.toString) }
    val props = map().cast("map<string,string>")
    val g0 = PropertyGraph((0 until 20).map(_.toString).toDF("id"), PropertyGraph.withEid(
      pairs.toDF("src", "dst").withColumn("type", lit("E")).withColumn("properties", props)),
      isDirected = false)
    val g = parts.fold(g0.cache())(p => g0.copy(nodes = g0.nodes.repartition(p).cache(),
      edges = g0.edges.repartition(p).cache()))
    g.nodes.count(); g.edges.count()
    g
  }

  private def cachedEntries: Int = org.apache.spark.sql.GraftTestAccess.cachedPlans(spark)

  private def release(g: PropertyGraph): Unit = { g.nodes.unpersist(true); g.edges.unpersist(true) }

  test("pageRank and personalizedPageRank on a cached graph: probe collects only, " +
      "no shuffle, nothing cached") {
    import spark.implicits._
    val g = cachedFixture(Some(2))
    val sources = Seq("1", "4", "99").toDF("id")
    val before = cachedEntries
    for ((name, call) <- Seq[(String, () => DataFrame)](
        "pageRank" -> (() => GraphAlgorithms.pageRank(g, 0.85, 3)),
        "personalizedPageRank" -> (() => GraphAlgorithms.personalizedPageRank(g, sources, 0.85, 3)))) {
      val (jobs, out) = jobShapesDuring(call().collect())
      assert(out.length === 20, name)
      // the probes, then the collect of the emitted frame
      val probes = jobs.filterNot(_._1.startsWith("collect at RankFamilySpec"))
      assert(probes.nonEmpty && probes.forall(_._1.startsWith("collect at GraphAlgorithms")),
        s"$name: ${jobs.mkString("\n")}")
      assert(!jobs.exists(_._2), s"$name shuffles: ${jobs.mkString("\n")}")
      assert(cachedEntries === before, name)
    }
    release(g)
  }

  test("pageRank with the switch off: 3 iterations launch 7 jobs and leave nothing cached") {
    val g = cachedFixture()
    val before = cachedEntries
    val (jobs, out) = withLocalRegimesOff(jobsDuring(GraphAlgorithms.pageRank(g, 0.85, 3).collect()))
    assert(out.length === 20)
    assert(jobs.size <= 7, jobs.mkString("\n"))
    assert(cachedEntries === before)
    release(g)
  }

  test("weightedPageRank and katz with the switch off stay lazy and leave nothing cached") {
    val g = cachedFixture()
    val e = g.edges.select(col("src"), col("dst"), lit(2L).as("weight"))
    val before = cachedEntries
    withLocalRegimesOff {
      for ((name, call) <- Seq[(String, () => DataFrame)](
          "weightedPageRank" -> (() => GraphAlgorithms.weightedPageRank(e, 85, 100, 3)),
          "katz" -> (() => GraphAlgorithms.katz(e.select(col("src"), col("dst")), iterations = 3)))) {
        // 3 iterations, under the checkpoint interval: no job until read
        val (jobs, ranks) = jobsDuring(call())
        assert(jobs.isEmpty, s"$name: ${jobs.mkString("\n")}")
        assert(ranks.collect().length === 20, name)
        assert(cachedEntries === before, name)
      }
    }
    release(g)
  }
}
