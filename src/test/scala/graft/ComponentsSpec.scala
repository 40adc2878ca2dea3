package graft

import graft.algorithms.GraphAlgorithms
import graft.sources.GraphSources

/** Connected components and the adaptive SCC: both label a component by
  * its smallest member id, on the local and the distributed path. */
class ComponentsSpec extends SparkSpec {

  val powergrid = "/root/reference/tests/integration/env_init/data/powergrid.dl"
  lazy val pg = GraphSources.readEdgeList(spark, powergrid).cache()

  test("connected components find the powergrid's single component") {
    val cc = GraphAlgorithms.connectedComponents(pg)
    assert(cc.select("component").distinct().count() === 1L)
  }

  private def graph(nodeIds: Seq[String], es: Seq[(String, String)]): graft.model.PropertyGraph = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    val props = map().cast("map<string,string>").as("properties")
    val raw = es.toDF("src", "dst").select(col("src"), col("dst"), lit("E").as("type"), props)
    val nodes = nodeIds.toDF("id").select(col("id"), lit("").as("label"), props)
    PropertyGraph(nodes, PropertyGraph.withEid(raw), isDirected = true)
  }

  private val cycleAndTailEdges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("4", "5"))

  /** 1→2→3→1 cycle; 3→4→5 tail: SCCs {1,2,3}, {4}, {5}. */
  private def cycleAndTail = graph(Seq("1", "2", "3", "4", "5"), cycleAndTailEdges)

  private def byId(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("connected components label by the minimum member id on both paths") {
    // the minimum is neither the first node nor an edge source
    val tail = graph(Seq("5", "4", "3", "2", "1", "6"), cycleAndTailEdges)
    val want = Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "1", "5" -> "1", "6" -> "6")
    assert(byId(GraphAlgorithms.connectedComponents(tail)) === want)
    assert(withLocalRegimesOff(byId(GraphAlgorithms.connectedComponents(tail))) === want)
  }

  test("strongly connected components: cycle vs acyclic tail") {
    val g = cycleAndTail
    // both execution paths (driver Tarjan, forward–backward coloring with
    // the local regimes off) label by the minimum member id
    val want = Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "4", "5" -> "5")
    assert(byId(GraphAlgorithms.stronglyConnectedComponents(g)) === want)
    assert(withLocalRegimesOff(byId(GraphAlgorithms.stronglyConnectedComponents(g))) === want)
  }

  test("scc honours the localRegimes kill-switch: no probe or collect job") {
    // shuffled, so a probe collect launches a job (a local relation needs none)
    val g = {
      val f = cycleAndTail
      f.copy(nodes = f.nodes.repartition(2), edges = f.edges.repartition(2))
    }
    def components(scc: org.apache.spark.sql.DataFrame): Set[Set[String]] =
      scc.collect().groupBy(_.get(1)).values.map(_.map(_.getString(0)).toSet).toSet
    // jobs the call itself launches, before its result is read: the
    // gate's one probe over nodes and edges is the only collect inside
    // the call
    def probes(jobs: Seq[String]) =
      jobs.filter(_.startsWith("collect at GraphAlgorithms")).distinct.size
    val (onJobs, local) = jobsDuring(GraphAlgorithms.stronglyConnectedComponents(g))
    val (offJobs, off) = withLocalRegimesOff(
      jobsDuring(GraphAlgorithms.stronglyConnectedComponents(g)))
    assert(probes(onJobs) === 1)
    assert(probes(offJobs) === 0 && offJobs.nonEmpty)
    assert(components(off) === components(local))
    assert(components(off) === Set(Set("1", "2", "3"), Set("4"), Set("5")))
  }

  test("tarjan scc: self-loops, long chains, nested cycles") {
    // chain of 2-cycles: (0↔1)→(2↔3)→(4↔5)…, plus a self-loop node
    val pairs = (0 until 200 by 2).flatMap { i =>
      Seq((i.toString, (i + 1).toString), ((i + 1).toString, i.toString)) ++
        (if (i + 2 < 200) Seq(((i + 1).toString, (i + 2).toString)) else Nil)
    } :+ (("self", "self"))
    val g = graph((0 until 200).map(_.toString) :+ "self", pairs)
    val scc = byId(GraphAlgorithms.stronglyConnectedComponents(g))
    // each 2-cycle is one SCC labeled by its (string-)min member
    assert(scc("0") === scc("1") && scc("2") === scc("3"))
    assert(scc("0") !== scc("2"))
    assert(scc("self") === "self")
    // 100 SCCs from the cycles + the self-loop
    assert(scc.values.toSet.size === 101)
  }
}
