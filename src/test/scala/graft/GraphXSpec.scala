package graft

import graft.algorithms.GraphXAlgorithms
import graft.sources.GraphSources

/** GraphX components: connected components and the adaptive SCC. */
class GraphXSpec extends SparkSpec {

  val powergrid = "/root/reference/tests/integration/env_init/data/powergrid.dl"
  lazy val pg = GraphSources.readEdgeList(spark, powergrid).cache()

  test("connected components find the powergrid's single component") {
    val cc = GraphXAlgorithms.connectedComponents(pg)
    assert(cc.select("component").distinct().count() === 1L)
  }

  /** 1→2→3→1 cycle; 3→4→5 tail: SCCs {1,2,3}, {4}, {5}. */
  private def cycleAndTail: graft.model.PropertyGraph = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    val raw = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("4", "5"))
      .toDF("src", "dst")
      .select(col("src"), col("dst"), lit("E").as("type"),
        map().cast("map<string,string>").as("properties"))
    val nodes = Seq("1", "2", "3", "4", "5").toDF("id")
      .select(col("id"), lit("").as("label"), map().cast("map<string,string>").as("properties"))
    PropertyGraph(nodes, PropertyGraph.withEid(raw), isDirected = true)
  }

  test("strongly connected components: cycle vs acyclic tail") {
    import org.apache.spark.sql.functions._
    val g = cycleAndTail
    // both execution paths (driver Tarjan, GraphX with the local regimes
    // off) must agree after the min-id remap
    def byId(): Map[String, String] = {
      val scc = GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5)
      val labels = scc.groupBy("component").agg(min(col("id")).as("comp"))
      scc.join(labels, "component").select(col("id"), col("comp"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val want = Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "4", "5" -> "5")
    assert(byId() === want)
    assert(withLocalRegimesOff(byId()) === want)
  }

  test("scc count-gate escalation: probe overflow with an explicit budget") {
    import org.apache.spark.sql.functions._
    // the probe-cap hook shrinks the probe so the fixture's 10 rows (5
    // nodes + 5 oriented edges) OVERFLOW it, exercising the
    // count-then-collect escalation branches (up to the fixed 10M budget)
    // that a production run only reaches past 1M rows
    val g = cycleAndTail
    val want = Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "4", "5" -> "5")
    def run(probe: Int): Map[String, String] = {
      val scc = GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5, probe)
      val labels = scc.groupBy("component").agg(min(col("id")).as("comp"))
      scc.join(labels, "component").select(col("id"), col("comp"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    // probe = 2: nodes alone overflow → count-gate both sides → local
    assert(run(probe = 2) === want)
    // probe = 7: nodes fit (5), edges overflow the remainder (2) →
    // edge count-gate → local
    assert(run(probe = 7) === want)
    // switch off: no probe, no count gate → GraphX
    assert(withLocalRegimesOff(run(probe = 2)) === want)
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
    // gate's node and edge probes are the only collects inside the call
    def probes(jobs: Seq[String]) =
      jobs.filter(_.startsWith("collect at GraphXAlgorithms")).distinct.size
    val (onJobs, local) = jobsDuring(GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5))
    val (offJobs, off) = withLocalRegimesOff(
      jobsDuring(GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5)))
    assert(probes(onJobs) === 2)
    assert(probes(offJobs) === 0 && offJobs.nonEmpty)
    assert(components(off) === components(local))
    assert(components(off) === Set(Set("1", "2", "3"), Set("4"), Set("5")))
  }

  test("tarjan scc: self-loops, long chains, nested cycles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    // chain of 2-cycles: (0↔1)→(2↔3)→(4↔5)…, plus a self-loop node
    val pairs = (0 until 200 by 2).flatMap { i =>
      Seq((i.toString, (i + 1).toString), ((i + 1).toString, i.toString)) ++
        (if (i + 2 < 200) Seq(((i + 1).toString, (i + 2).toString)) else Nil)
    } :+ (("self", "self"))
    val raw = pairs.toDF("src", "dst")
      .select(col("src"), col("dst"), lit("E").as("type"),
        map().cast("map<string,string>").as("properties"))
    val nodeIds = (0 until 200).map(_.toString) :+ "self"
    val nodes = nodeIds.toDF("id")
      .select(col("id"), lit("").as("label"), map().cast("map<string,string>").as("properties"))
    val g = PropertyGraph(nodes, PropertyGraph.withEid(raw), isDirected = true)
    val scc = GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // each 2-cycle is one SCC labeled by its (string-)min member
    assert(scc("0") === scc("1") && scc("2") === scc("3"))
    assert(scc("0") !== scc("2"))
    assert(scc("self") === "self")
    // 100 SCCs from the cycles + the self-loop
    assert(scc.values.toSet.size === 101)
  }
}
