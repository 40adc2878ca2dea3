package graft

import org.apache.spark.sql.functions._

import graft.algorithms.GraphAlgorithms
import graft.model.{GraphCatalog, PropertyGraph}
import graft.sources.GraphSources

/**
 * Core model + ingest + algorithms against the reference's golden fixtures
 * (read-only inputs under /root/reference/tests/integration/env_init/data).
 * Golden numbers from the reference integration suite
 * (`integration_workflow_core.py:45-60`): powergrid = 4941 vertices,
 * 6594 edges, 651 triangles.
 */
class GraphCoreSpec extends SparkSpec {

  val powergrid = "/root/reference/tests/integration/env_init/data/powergrid.dl"
  val fixtureJson = "/root/reference/tests/integration/env_init/data/graph_with_properties.txt"

  lazy val pg: PropertyGraph = GraphSources.readEdgeList(spark, powergrid).cache()
  lazy val fixture: PropertyGraph = GraphSources.readJsonEdges(spark, fixtureJson).cache()

  test("RDF triple ingest: N-Triples, TSV, literals, comments (adrdf)") {
    val nt = java.nio.file.Files.createTempFile("graft-rdf", ".nt")
    java.nio.file.Files.writeString(nt, Seq(
      "# a comment line",
      "<http://ex.org/alice> <http://xmlns.com/foaf/knows> <http://ex.org/bob> .",
      "<http://ex.org/alice> <http://xmlns.com/foaf/name> \"Alice A.\"@en .",
      "",
      "s1\tworksWith\ts2", // reference's bare TSV form (RDFPartitioner.cpp)
      "<http://ex.org/bob> <http://xmlns.com/foaf/knows> <http://ex.org/alice> ."
    ).mkString("\n"))
    try {
      val g = GraphSources.readRdfTriples(spark, nt.toString)
      assert(g.isDirected)
      assert(g.edgeCount === 4L)
      // nodes = distinct subjects ∪ objects; the literal becomes a node
      // (unquoted, @lang dropped) exactly like the reference's addToNodes
      val ids = g.nodes.select("id").collect().map(_.getString(0)).toSet
      assert(ids === Set("http://ex.org/alice", "http://ex.org/bob",
        "Alice A.", "s1", "s2"))
      val types = g.edges.select("type").collect().map(_.getString(0)).toSet
      assert(types === Set("http://xmlns.com/foaf/knows", "http://xmlns.com/foaf/name", "worksWith"))
      // predicate-typed directed edge, queryable through the Cypher surface
      val knows = g.edges.where(col("type").contains("knows"))
        .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(knows === Set(
        ("http://ex.org/alice", "http://ex.org/bob"),
        ("http://ex.org/bob", "http://ex.org/alice")))
    } finally java.nio.file.Files.deleteIfExists(nt)
  }

  test("powergrid vertex/edge counts match golden (4941 / 6594)") {
    assert(pg.vertexCount === 4941L)
    assert(pg.edgeCount === 6594L)
  }

  test("sdhdfs export: edge-list and parquet round trips") {
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    try {
      // edge-list text round trip (the adgr <-> sdhdfs pair)
      GraphSources.writeEdgeList(pg, s"$out/el")
      val back = GraphSources.readEdgeList(spark, s"$out/el")
      assert(back.vertexCount === pg.vertexCount && back.edgeCount === pg.edgeCount)
      // full-fidelity parquet round trip preserves labels + properties
      GraphSources.writeGraph(fixture, s"$out/pq")
      val fx = GraphSources.readGraph(spark, s"$out/pq", fixture.isDirected)
      assert(fx.vertexCount === fixture.vertexCount && fx.edgeCount === fixture.edgeCount)
      val fiona = fx.nodes.where(col("id") === "10").collect()(0)
      assert(fiona.getAs[Map[String, String]]("properties")("name") === "Fiona")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
      ()
    }
  }

  test("powergrid triangle count matches golden (651)") {
    assert(GraphAlgorithms.triangleCount(pg.edges) === 651L)
    // adaptive parity: the distributed three-join counts the same 651
    assert(withLocalRegimesOff(GraphAlgorithms.triangleCountDF(pg.edges)
      .collect()(0).getLong(0)) === 651L)
  }

  test("json edge fixture loads 20 nodes / 100 edges with merged properties") {
    assert(fixture.vertexCount === 20L)
    assert(fixture.edgeCount === 100L)
    val fiona = fixture.nodes.where(col("id") === "10").collect()
    assert(fiona.length === 1)
    val props = fiona(0).getAs[Map[String, String]]("properties")
    assert(props("name") === "Fiona")
    assert(props("age") === "25")
    assert(fiona(0).getAs[String]("label") === "Person")
  }

  test("undirected oriented edges emit both orientations with shared eid") {
    val o = fixture.orientedEdges
    assert(o.count() === 200L)
    assert(o.select("eid").distinct().count() === fixture.edges.select("eid").distinct().count())
  }

  test("pageRank converges to sane values and preserves mass ordering") {
    val ranks = GraphAlgorithms.pageRank(fixture, alpha = 0.85, iterations = 5)
    val n = ranks.count()
    assert(n === 20L)
    val all = ranks.collect().map(_.getAs[Double]("rank"))
    assert(all.forall(r => r >= 0.1499999 && r < 20))
  }

  test("degree distributions cover all vertices") {
    val dd = GraphAlgorithms.degreeDistribution(pg, in = false)
    assert(dd.agg(sum("frequency")).collect()(0).getLong(0) === 4941L)
  }

  test("egonet of a powergrid hub is its 1-hop induced subgraph") {
    val ego = GraphAlgorithms.egonet(pg, "2594")
    // every returned edge touches only members (ego or neighbors)
    val es = pg.orientedEdges
    val nbrs = es.where(col("src") === "2594").select("dst")
      .union(es.where(col("dst") === "2594").select("src"))
      .collect().map(_.getString(0)).toSet + "2594"
    val out = ego.collect()
    assert(out.nonEmpty)
    assert(out.forall(r => nbrs.contains(r.getString(0)) && nbrs.contains(r.getString(1))))
  }

  test("catalog registers and serves counts") {
    GraphCatalog.register("pg", pg)
    assert(GraphCatalog("pg").vertexCount === 4941L)
    assert(GraphCatalog.list.contains("pg"))
  }

  test("embedding-at-ingest: embedNodes builds the vector-store companion table") {
    // the reference embeds node text into its vector store at ingest
    // (TextEmbedder.h wired into the incremental store); here the seam is
    // a batched mapPartitions step over the ingested graph's nodes
    val emb = new graft.pipeline.Embedder.HashEmbedder(dim = 12)
    val vecs = GraphSources.embedNodes(fixture, "name", emb)
    assert(vecs.columns.toSeq === Seq("id", "embedding"))
    assert(vecs.count() === fixture.vertexCount)
    val a = vecs.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(a.values.forall(_.length === 12))
    // deterministic across invocations (same stub, same texts)
    val b = GraphSources.embedNodes(fixture, "name", emb)
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(a === b)
  }

  test("shortestPaths: BFS distances, hop cap, directed mode, CALL surface") {
    import spark.implicits._
    // 1-2-3-4 chain, 1-5 branch, 6-7 disconnected; stored one direction
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("1", "5"), ("6", "7"))
      .toDF("src", "dst")
    val d = GraphAlgorithms.shortestPaths(edges, "1")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d === Map("1" -> 0, "2" -> 1, "5" -> 1, "3" -> 2, "4" -> 3))
    // hop cap cuts the frontier
    val capped = GraphAlgorithms.shortestPaths(edges, "1", maxHops = 1)
      .collect().map(_.getString(0)).toSet
    assert(capped === Set("1", "2", "5"))
    // directed: stored orientation only — "4" reaches nothing
    val dir = GraphAlgorithms.shortestPaths(edges, "4", undirected = false)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dir === Map("4" -> 0))
    // CALL surface on the fixture graph: every vertex within 0..maxHops
    val viaCall = graft.cypher.Cypher.run(fixture,
      "CALL graft.shortestPath('1', 3) YIELD id, dist RETURN id, dist ORDER BY id")
    val rows = viaCall.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) <= 3))
  }

  test("CALL graft.knn serves a registered vector store; graft.closeness the graph") {
    import spark.implicits._
    // a 4-vector store where the neighbours of 'a' are unambiguous
    val vecs = Seq(
      ("a", Seq(1.0f, 0.0f)), ("b", Seq(0.9f, 0.1f)),
      ("c", Seq(0.0f, 1.0f)), ("d", Seq(-1.0f, 0.0f))).toDF("id", "embedding")
    graft.model.GraphCatalog.registerVectors("specstore", vecs)
    val out = graft.cypher.Cypher.run(fixture,
      "CALL graft.knn('specstore', 'a', 3) YIELD qid, id, cosine, rank " +
        "RETURN id, rank ORDER BY rank")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq === Seq(("a", 1), ("b", 2), ("c", 3)))
    // unknown store fails loudly
    val err = intercept[Exception] {
      graft.cypher.Cypher.run(fixture,
        "CALL graft.knn('nosuch', 'a', 3) YIELD qid, id, cosine, rank RETURN id").collect()
    }
    assert(err.getMessage.contains("nosuch"))
    // closeness over the fixture graph via CALL: sane, bounded values
    val cl = graft.cypher.Cypher.run(fixture,
      "CALL graft.closeness(3) YIELD id, closeness, harmonic RETURN id, closeness, harmonic")
      .collect()
    assert(cl.nonEmpty)
    assert(cl.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("closenessCentrality: hand-checked path graph, hop cap, sampled sources") {
    import spark.implicits._
    // 1-2-3-4 path, 5-6 disconnected pair
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("5", "6")).toDF("src", "dst")
    val out = GraphAlgorithms.closenessCentrality(edges, maxHops = 6)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // vertex 1: dists 1,2,3 → reached 3, sum 6, closeness 0.5,
    // harmonic 1 + 1/2 + 1/3 = 1.833333
    assert(out("1") === ((3L, 6L, 0.5, 1.833333)))
    // vertex 2: dists 1,1,2 → closeness 3/4, harmonic 2.5
    assert(out("2") === ((3L, 4L, 0.75, 2.5)))
    // disconnected pair sees only each other
    assert(out("5") === ((1L, 1L, 1.0, 1.0)))
    // hop cap: maxHops=1 → reached == degree
    val capped = GraphAlgorithms.closenessCentrality(edges, maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped("2") === 2L && capped("1") === 1L)
    // sampled sources: only the requested rows come back, same values
    val some = GraphAlgorithms.closenessCentrality(edges, maxHops = 6,
      sources = Some(Seq("1").toDF("id")))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(some === Map("1" -> 0.5))
    // adaptive parity: the switch off forces the distributed loop;
    // results must be identical row-for-row to the driver-side sweep
    val dist6 = withLocalRegimesOff(GraphAlgorithms.closenessCentrality(edges, maxHops = 6)
      .collect()).map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(dist6 === out)
  }

  test("weightedShortestPaths: relaxation beats direct edges, hop budget binds") {
    import spark.implicits._
    // 1→3 direct costs 5; the 1→2→3 detour costs 2; 3→4 extends it
    val edges = Seq(("1", "2", 1L), ("2", "3", 1L), ("1", "3", 5L), ("3", "4", 10L))
      .toDF("src", "dst", "weight")
    val d = GraphAlgorithms.weightedShortestPaths(edges, "1", maxHops = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d === Map("1" -> 0L, "2" -> 1L, "3" -> 2L, "4" -> 12L))
    // one hop only: the detour is out of budget, the direct edge wins
    val d1 = GraphAlgorithms.weightedShortestPaths(edges, "1", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d1 === Map("1" -> 0L, "2" -> 1L, "3" -> 5L))
    // parallel edges collapse to the min weight
    val par = Seq(("1", "2", 9L), ("1", "2", 2L)).toDF("src", "dst", "weight")
    val dp = GraphAlgorithms.weightedShortestPaths(par, "1", maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dp === Map("1" -> 0L, "2" -> 2L))
    // frontier early exit: a 2-hop graph under a huge hop budget must
    // produce the fixpoint (the loop stops when nothing improves, so an
    // oversized maxHops costs nothing and changes nothing)
    val dBig = GraphAlgorithms.weightedShortestPaths(edges, "1", maxHops = 1000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dBig === Map("1" -> 0L, "2" -> 1L, "3" -> 2L, "4" -> 12L))
  }

  test("shortestPaths/weightedShortestPaths: adaptive parity — distributed matches local") {
    import spark.implicits._
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("1", "5"), ("6", "7"),
      ("5", "4"), ("2", "5")).toDF("src", "dst")
    for (src <- Seq("1", "4", "99"); hops <- Seq(1, 3, 10); undir <- Seq(true, false)) {
      val loc = GraphAlgorithms.shortestPaths(edges, src, hops, undir)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      val dist = withLocalRegimesOff(GraphAlgorithms.shortestPaths(edges, src, hops, undir)
        .collect()).map(r => (r.getString(0), r.getInt(1))).toSet
      assert(loc === dist, s"src=$src hops=$hops undirected=$undir")
    }
    val we = Seq(("1", "2", 1L), ("2", "3", 1L), ("1", "3", 5L), ("3", "4", 10L),
      ("4", "5", 1L), ("2", "5", 20L)).toDF("src", "dst", "weight")
    for (src <- Seq("1", "3", "99"); hops <- Seq(1, 2, 100); undir <- Seq(true, false)) {
      val loc = GraphAlgorithms.weightedShortestPaths(we, src, hops, undir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val dist = withLocalRegimesOff(GraphAlgorithms.weightedShortestPaths(we, src, hops, undir)
        .collect()).map(r => (r.getString(0), r.getLong(1))).toSet
      assert(loc === dist, s"src=$src hops=$hops undirected=$undir")
    }
  }

  test("labelPropagation: deterministic min-label communities") {
    import spark.implicits._
    // two disconnected triangles: each converges to its minimal id
    val twoTris = Seq(("1", "2"), ("2", "3"), ("1", "3"),
      ("7", "8"), ("8", "9"), ("7", "9")).toDF("src", "dst")
    val l = GraphAlgorithms.labelPropagation(twoTris, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
    // deterministic: identical reruns
    val l2 = GraphAlgorithms.labelPropagation(twoTris, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l === l2)
    // directed mode: a vertex with no in-neighbors keeps its own label
    val chain = Seq(("1", "2"), ("2", "3")).toDF("src", "dst")
    val ld = GraphAlgorithms.labelPropagation(chain, iterations = 1, undirected = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ld(1L) === 1L) // nothing points at 1
    assert(ld(2L) === 1L && ld(3L) === 2L)
  }

  test("kCore: bounded peeling reaches the true core, round semantics exact") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + tail 4-5-6
    val edges = Seq(("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"),
      ("3", "4"), ("4", "5"), ("5", "6")).toDF("src", "dst")
    val core2 = GraphAlgorithms.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 === Map("1" -> 3L, "2" -> 3L, "3" -> 3L, "4" -> 3L))
    // one round only: 6 (deg 1) is gone; 5 survives (deg was 2) with
    // induced deg 1, and 4 still counts the edge to the surviving 5
    val oneRound = GraphAlgorithms.kCore(edges, k = 2, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(oneRound === Map("1" -> 3L, "2" -> 3L, "3" -> 3L, "4" -> 4L, "5" -> 1L))
    // k=4: the 4-clique is only 3-regular — everything peels away
    assert(GraphAlgorithms.kCore(edges, k = 4, rounds = 3).count() === 0L)
    // fixpoint: extra rounds change nothing
    val more = GraphAlgorithms.kCore(edges, k = 2, rounds = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(more === core2)
  }

  test("labelPropagation: non-numeric ids dictionary-encode and decode back") {
    import spark.implicits._
    // bridge-style string ids used to cast to NULL silently; now they
    // route through the order-preserving dictionary — ties break by
    // lexicographically-smallest original id, results decode back
    val twoTris = Seq(("c1", "c2"), ("c2", "c3"), ("c1", "c3"),
      ("x8", "x9"), ("x9", "x7"), ("x7", "x8")).toDF("src", "dst")
    val l = GraphAlgorithms.labelPropagation(twoTris, iterations = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(l === Map("c1" -> "c1", "c2" -> "c1", "c3" -> "c1",
      "x7" -> "x7", "x8" -> "x7", "x9" -> "x7"))
  }

  test("labelPropagation: adaptive parity — distributed loop matches local rounds") {
    import spark.implicits._
    // numeric regime, wheel + tail (ties + isolated in-degree cases),
    // non-converged round count so per-round semantics are what's compared
    val g = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"), ("1", "3"),
      ("4", "5"), ("5", "6"), ("9", "6")).toDF("src", "dst")
    for (iters <- Seq(1, 2, 3); undir <- Seq(true, false)) {
      val loc = GraphAlgorithms.labelPropagation(g, iters, undir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dist = withLocalRegimesOff(GraphAlgorithms.labelPropagation(g, iters, undir)
        .collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(loc === dist, s"iters=$iters undirected=$undir")
    }
    // string regime
    val sg = Seq(("b", "a"), ("a", "c"), ("c", "b"), ("c", "d")).toDF("src", "dst")
    val locS = GraphAlgorithms.labelPropagation(sg, 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val distS = withLocalRegimesOff(GraphAlgorithms.labelPropagation(sg, 2)
      .collect()).map(r => (r.getString(0), r.getString(1))).toSet
    assert(locS === distS)
  }

  test("kCore: converged peel early-stops; fixpoint API matches") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 3-4 at k=2: round 1 drops 4, round 2
    // removes nothing → converged after 2 executed rounds, not 50
    val edges = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4")).toDF("src", "dst")
    val (res, executed) = GraphAlgorithms.kCoreImpl(edges, k = 2, rounds = 50)
    assert(executed === 2)
    val m = res.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === Map("1" -> 2L, "2" -> 2L, "3" -> 2L))
    val fix = GraphAlgorithms.kCoreFixpoint(edges, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fix === m)
  }

  test("kCore: adaptive driver-side peel matches the distributed loop") {
    import spark.implicits._
    val edges = Seq(("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"),
      ("3", "4"), ("4", "5"), ("5", "6")).toDF("src", "dst")
    for (r <- Seq(1, 3)) {
      val local = GraphAlgorithms.kCore(edges, k = 2, rounds = r)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val dist = withLocalRegimesOff(GraphAlgorithms.kCore(edges, k = 2, rounds = r)
        .collect()).map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(dist === local, s"rounds=$r")
    }
  }

  test("linkPrediction: path fixture scores by hand") {
    import spark.implicits._
    // path 1-2-3 plus 2-4: non-adjacent pairs through middles:
    // (1,3) via 2; (1,4) via 2; (3,4) via 2 — deg(2)=3; and the
    // adjacent pair check: (2,x) pairs are edges, excluded
    val edges = Seq(("1", "2"), ("2", "3"), ("2", "4")).toDF("src", "dst")
    val out = GraphAlgorithms.linkPrediction(edges, minCommon = 1)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val aa = BigDecimal(1.0 / math.log(3.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ra = BigDecimal(1.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet === Set(("1", "3"), ("1", "4"), ("3", "4")))
    // deg(1)=deg(3)=deg(4)=1 → jaccard = 1/(1+1-1) = 1.0
    out.values.foreach { case (c, j, a, r) =>
      assert(c === 1L && j === 1.0 && a === aa && r === ra)
    }
    // triangle closes: adjacent pairs never appear
    val tri = Seq(("1", "2"), ("2", "3"), ("1", "3")).toDF("src", "dst")
    assert(GraphAlgorithms.linkPrediction(tri, minCommon = 1).count() === 0L)
  }

  test("hits: integer recurrence on a two-level chain") {
    import spark.implicits._
    // a -> b, a -> c, b -> c: classic tiny web graph
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    // k=1: auth = indeg (b:1, c:2, a:0); hub(u) = sum auth over out-nbrs
    // → a: auth(b)+auth(c) = 3, b: auth(c) = 2, c: 0
    val h1 = GraphAlgorithms.hits(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h1 === Map("a" -> (3L, 0L), "b" -> (2L, 1L), "c" -> (0L, 2L)))
    // k=2: auth(b) = hub(a) = 3; auth(c) = hub(a)+hub(b) = 5;
    // hub(a) = 3+5 = 8, hub(b) = 5
    val h2 = GraphAlgorithms.hits(edges, iterations = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h2 === Map("a" -> (8L, 0L), "b" -> (5L, 3L), "c" -> (0L, 5L)))
    // adaptive parity: the distributed loop matches the driver-side
    // recurrence row-for-row
    val dist = withLocalRegimesOff(GraphAlgorithms.hits(edges, iterations = 2)
      .collect()).map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dist === h2)
  }

  test("betweennessCentrality: hand-checked path + star, adaptive parity") {
    import spark.implicits._
    // path 1-2-3-4 (undirected). Convention: every ordered (s, t) pair
    // counts (both directions — the all-sources directed sum, no /2).
    // Ordered shortest paths THROUGH 2 (2 not an endpoint): 1→3, 1→4,
    // 3→1, 4→1 → bc(2) = 4; through 3 symmetric → 4.
    val path = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    val bc = GraphAlgorithms.betweennessCentrality(path, maxHops = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc === Map("1" -> 0.0, "2" -> 4.0, "3" -> 4.0, "4" -> 0.0))
    // star: center on every pair path — K leaves → K·(K−1) ordered pairs
    val star = Seq(("c", "a"), ("c", "b"), ("c", "d")).toDF("src", "dst")
    val bs = GraphAlgorithms.betweennessCentrality(star, maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bs === Map("c" -> 6.0, "a" -> 0.0, "b" -> 0.0, "d" -> 0.0))
    // tie split: square 1-2-4-3-1; two shortest 1→4 paths (via 2, via 3)
    // → δ contribution 0.5 each; bc(2) = 0.5 (s=1) + 0.5 (s=4) = 1
    val square = Seq(("1", "2"), ("2", "4"), ("1", "3"), ("3", "4")).toDF("src", "dst")
    val bq = GraphAlgorithms.betweennessCentrality(square, maxHops = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bq === Map("1" -> 1.0, "2" -> 1.0, "3" -> 1.0, "4" -> 1.0))
    // hop bound truncates: maxHops=1 sees no intermediate vertices
    val b1 = GraphAlgorithms.betweennessCentrality(path, maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(b1.values.forall(_ === 0.0))
    // adaptive parity: the distributed level-by-level form matches the
    // driver-side Brandes sweep row-for-row (sources subset included)
    val lm = Seq("1", "3").toDF("id")
    val loc = GraphAlgorithms.betweennessCentrality(square, maxHops = 4,
      sources = Some(lm)).collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val dist = withLocalRegimesOff(GraphAlgorithms.betweennessCentrality(square,
      maxHops = 4, sources = Some(lm)).collect())
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(dist === loc)
  }

  test("randomWalks: deterministic, edge-following, directed dead ends stop") {
    import spark.implicits._
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("2", "4")).toDF("src", "dst")
    val starts = Seq((1L, "1"), (2L, "2")).toDF("wid", "id")
    def run() = GraphAlgorithms.randomWalks(edges, starts, steps = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val a = run()
    // deterministic: identical output on re-execution
    assert(a === run())
    // every walk emits step 0 at its start and 6 more steps (undirected
    // graph: no dead ends)
    assert(a.count(_._2 == 0) === 2 && a.size === 14)
    // every consecutive (step, step+1) pair is a real edge
    val adj = Set(("1", "2"), ("2", "3"), ("3", "1"), ("2", "4"))
      .flatMap { case (x, y) => Set((x, y), (y, x)) }
    val byWalk = a.groupBy(_._1).values
    byWalk.foreach { w =>
      val path = w.toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { p =>
        assert(adj.contains((p(0), p(1))), s"non-edge hop $p")
      }
    }
    // directed: vertex 4 is a sink — a walk reaching it ends early
    val sink = GraphAlgorithms.randomWalks(
      Seq(("1", "4")).toDF("src", "dst"), Seq((9L, "1")).toDF("wid", "id"),
      steps = 5, undirected = false)
      .collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(sink.toSeq === Seq((0, "1"), (1, "4")))
  }

  test("randomWalks: local LCG replay matches the distributed step loop") {
    import spark.implicits._
    // integral ids (the local gate), a directed sink, an unknown start,
    // duplicate edge rows (the local dedup must mirror the distinct)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (2L, 4L), (5L, 5L))
      .toDF("src", "dst")
    val starts = Seq((1L, 1L), (2L, 2L), (3L, 99L)).toDF("wid", "id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    for (undirected <- Seq(true, false)) {
      val loc = norm(GraphAlgorithms.randomWalks(edges, starts, steps = 6,
        undirected = undirected))
      val dist = withLocalRegimesOff(norm(GraphAlgorithms.randomWalks(edges,
        starts, steps = 6, undirected = undirected)))
      assert(loc === dist, s"undirected=$undirected local/distributed walk divergence")
    }
  }

  test("node2vecWalks: local biased replay matches the distributed step loop") {
    import spark.implicits._
    // a triangle + tail so all three bias cases fire (return-to-prev,
    // neighbor-of-prev, outward), plus duplicate rows and a sink
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 5L), (2L, 3L))
      .toDF("src", "dst")
    val starts = Seq((1L, 1L), (2L, 2L), (7L, 4L)).toDF("wid", "id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    for ((undirected, pp, qq) <- Seq((true, 1, 2), (false, 1, 2), (true, 3, 1))) {
      val loc = norm(GraphAlgorithms.node2vecWalks(edges, starts, steps = 6,
        p = pp, q = qq, undirected = undirected))
      val dist = withLocalRegimesOff(norm(GraphAlgorithms.node2vecWalks(edges,
        starts, steps = 6, p = pp, q = qq, undirected = undirected)))
      assert(loc === dist, s"undirected=$undirected p=$pp q=$qq node2vec divergence")
    }
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    import spark.implicits._
    // path + star mix with BIGINT-castable ids
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8")).toDF("src", "dst")
    val mis = GraphAlgorithms.maximalIndependentSet(edges)
      .collect().map(r => r.getString(0)).toSet
    val adj = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8"))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    // independence: no two members adjacent
    for (a <- mis; b <- mis if a != b) assert(!adj.contains((a, b)), s"$a-$b both in MIS")
    // maximality: every non-member has a member neighbor
    val verts = adj.map(_._1)
    (verts -- mis).foreach { v =>
      assert(adj.exists { case (x, y) => x == v && mis.contains(y) },
        s"$v has no MIS neighbor")
    }
    // deterministic: identical on re-execution
    val again = GraphAlgorithms.maximalIndependentSet(edges)
      .collect().map(r => r.getString(0)).toSet
    assert(again === mis)
    // isolated-pair graph: exactly one endpoint per edge wins in round 1
    val pair = Seq(("10", "20")).toDF("src", "dst")
    val p = GraphAlgorithms.maximalIndependentSet(pair).collect()
    assert(p.length === 1 && p(0).getInt(1) === 1)
    // adaptive parity: the distributed rounds match the driver-side
    // sweep member-for-member, round-for-round
    val loc = GraphAlgorithms.maximalIndependentSet(edges)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val dist = withLocalRegimesOff(GraphAlgorithms.maximalIndependentSet(edges)
      .collect()).map(r => (r.getString(0), r.getInt(1))).toSet
    assert(dist === loc)
  }

  test("maximalMatching: vertex-disjoint, maximal, local/distributed parity") {
    import spark.implicits._
    // path + star mix (star center 2 can match at most one edge) with
    // duplicate rows, a self-loop and both orientations of one edge
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8"), ("3", "4"), ("4", "3"), ("5", "5"))
      .toDF("src", "dst")
    val m = GraphAlgorithms.maximalMatching(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // vertex-disjoint: no endpoint appears twice
    val ends = m.toSeq.flatMap { case (a, b) => Seq(a, b) }
    assert(ends.distinct.length === ends.length, s"shared endpoint in $m")
    // canonical orientation: u < v numerically
    m.foreach { case (a, b) => assert(a.toLong < b.toLong) }
    // maximality: every (deduped, non-loop) edge has a matched endpoint
    val matched = ends.toSet
    val all = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8"))
    all.foreach { case (a, b) =>
      assert(matched.contains(a) || matched.contains(b), s"edge $a-$b unmatched")
    }
    // deterministic on re-execution
    val again = GraphAlgorithms.maximalMatching(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(again === m)
    // single-edge graph matches in round 1
    val p = GraphAlgorithms.maximalMatching(Seq(("10", "20")).toDF("src", "dst"))
      .collect()
    assert(p.length === 1 && p(0).getInt(2) === 1)
    // adaptive parity: distributed rounds match the driver-side sweep
    // edge-for-edge, round-for-round
    val loc = GraphAlgorithms.maximalMatching(edges)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val dist = withLocalRegimesOff(GraphAlgorithms.maximalMatching(edges)
      .collect()).map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(dist === loc)
    // NON-NUMERIC ids (the bridge graph's "c1"/"o2" shape): the hashed
    // order-key fallback must keep every edge — a silent cast-to-null
    // would return an empty matching here
    val named = Seq(("c1", "o2"), ("o2", "p3"), ("s4", "p3"))
      .toDF("src", "dst")
    val nm = GraphAlgorithms.maximalMatching(named).collect()
    assert(nm.nonEmpty, "string-id graph produced an empty matching")
    val nEnds = nm.flatMap(r => Seq(r.getString(0), r.getString(1)))
    assert(nEnds.distinct.length === nEnds.length)
    // and parity holds there too
    val nmDist = withLocalRegimesOff(GraphAlgorithms.maximalMatching(named)
      .collect()).map(r => (r.getString(0), r.getString(1))).toSet
    assert(nmDist === nm.map(r => (r.getString(0), r.getString(1))).toSet)
    // MST with string ids: spanning tree of the 4-vertex path
    val nf = GraphAlgorithms.minimumSpanningForest(
      named.withColumn("weight", length(col("src"))))
    assert(nf.count() === 3L)
  }

  test("heavy-edge matching and weighted multilevel coarsening") {
    import spark.implicits._
    // triangle with one heavy side: unweighted matching picks the
    // LCG-minimum edge (1,2); heavy-edge mode must pick (2,3) w=100
    val tri = Seq(("1", "2", 1L), ("2", "3", 100L), ("1", "3", 1L))
      .toDF("src", "dst", "weight")
    val hem = GraphAlgorithms.maximalMatching(tri, weightCol = Some("weight"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(hem === Seq(("2", "3")))
    val unw = GraphAlgorithms.maximalMatching(tri.drop("weight"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(unw === Seq(("1", "2")))
    // weighted mode parity local/distributed, including parallel-edge
    // weight addition (two w=60 edges beat one w=100)
    val par = Seq(("1", "2", 60L), ("2", "1", 60L), ("2", "3", 100L), ("1", "3", 1L))
      .toDF("src", "dst", "weight")
    val lp = GraphAlgorithms.maximalMatching(par, weightCol = Some("weight"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(lp === Seq(("1", "2"))) // 120 beats 100
    val dp = withLocalRegimesOff(GraphAlgorithms.maximalMatching(par,
        weightCol = Some("weight")).collect())
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(dp === lp)
    // multilevel chaining: weighted coarsen of the weighted coarse graph —
    // coarse weights SUM absorbed fine weights and levels keep shrinking
    val chain = Seq(("1", "2", 9L), ("2", "3", 1L), ("3", "4", 9L), ("4", "5", 1L),
      ("5", "6", 9L)).toDF("src", "dst", "weight")
    val l1 = GraphAlgorithms.coarsenGraph(chain, weightCol = Some("weight"))
    // HEM matches the three w=9 edges -> supervertices {1,3,5}, coarse
    // edges (1,3,w=1) and (3,5,w=1)
    val l1rows = l1.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(l1rows === Set(("1", "3", 1L), ("3", "5", 1L)))
    val l2 = GraphAlgorithms.coarsenGraph(l1, weightCol = Some("weight"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // level 2 matches one of the two coarse edges; one edge remains
    assert(l2.size === 1 && l2.head._3 === 1L)
  }

  test("coarsenWithMap: local regime matches the forced-distributed path exactly") {
    import spark.implicits._
    val edges = (0L until 40L).flatMap { i =>
      Seq((s"${i}", s"${(i * 7 + 3) % 40}"), (s"${i}", s"${(i + 5) % 40}"))
    }.toDF("src", "dst")
    val (cL, mL) = GraphAlgorithms.coarsenWithMap(edges, rounds = 4)
    val (cD, mD) = withLocalRegimesOff {
      val (c, m) = GraphAlgorithms.coarsenWithMap(edges, rounds = 4)
      (c.orderBy("src", "dst").collect().toSeq, m.orderBy("id").collect().toSeq)
    }
    assert(cL.orderBy("src", "dst").collect().toSeq === cD)
    assert(mL.orderBy("id").collect().toSeq === mD)
    // weighted (HEM) level parity too
    val ew = edges.selectExpr("src", "dst",
      "(CAST(src AS BIGINT) + CAST(dst AS BIGINT)) % 6 + 1 AS weight")
    val (cLw, mLw) = GraphAlgorithms.coarsenWithMap(ew, rounds = 4,
      weightCol = Some("weight"))
    val (cDw, mDw) = withLocalRegimesOff {
      val (c, m) = GraphAlgorithms.coarsenWithMap(ew, rounds = 4,
        weightCol = Some("weight"))
      (c.orderBy("src", "dst").collect().toSeq, m.orderBy("id").collect().toSeq)
    }
    assert(cLw.orderBy("src", "dst").collect().toSeq === cDw)
    assert(mLw.orderBy("id").collect().toSeq === mDw)
  }

  test("coarsenGraph: contraction invariants and hand-checked weights") {
    import spark.implicits._
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8")).toDF("src", "dst")
    val matched = GraphAlgorithms.maximalMatching(edges)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val coarse = GraphAlgorithms.coarsenGraph(edges)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // matched pairs vanished: no coarse edge touches a matched v (every
    // matched v contracted into its partner u)
    val contracted = matched.map(_._2).toSet
    coarse.foreach { case (a, b, _) =>
      assert(!contracted.contains(a) && !contracted.contains(b),
        s"contracted vertex survives in $a-$b")
    }
    // weight conservation: coarse weights sum to fine edges minus internal
    val internal = matched.length // simple graph: 1 fine edge per matched pair
    assert(coarse.map(_._3).sum === 7 - internal)
    // canonical orientation and no self-loops
    coarse.foreach { case (a, b, w) =>
      assert(a.toLong < b.toLong && w >= 1)
    }
    // vertex count shrinks by exactly the matching size
    val fineVerts = Seq("1", "2", "3", "4", "5", "6", "7", "8").toSet
    val coarseVerts = coarse.flatMap(c => Seq(c._1, c._2)).toSet
    assert(coarseVerts.subsetOf(fineVerts -- contracted))
    // triangle fixture: matching {1-2} contracts a triangle 1-2-3 into a
    // single weight-2 edge (the two absorbed sides)
    val tri = Seq(("1", "2"), ("2", "3"), ("1", "3")).toDF("src", "dst")
    val ct = GraphAlgorithms.coarsenGraph(tri)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(ct.toSeq === Seq(("1", "3", 2L)))
  }

  test("minimumSpanningForest: hand-checked MST, forest invariants, parity") {
    import spark.implicits._
    // weighted wheel: unique MST is the three weight-1 spokes + the
    // cheapest rim edge... hand-trace: spokes 0-1 (1), 0-2 (2), 0-3 (3);
    // rim 1-2 (10), 2-3 (10), 1-3 (4). MST = {0-1, 0-2, 0-3} weight 6.
    val wheel = Seq(("0", "1", 1L), ("0", "2", 2L), ("0", "3", 3L),
      ("1", "2", 10L), ("2", "3", 10L), ("1", "3", 4L))
      .toDF("src", "dst", "weight")
    val mst = GraphAlgorithms.minimumSpanningForest(wheel)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(mst === Set(("0", "1", 1L), ("0", "2", 2L), ("0", "3", 3L)))
    // parallel edges keep the cheaper; duplicate rows and self-loops drop
    val par = Seq(("1", "2", 5L), ("2", "1", 3L), ("1", "2", 5L), ("2", "2", 1L))
      .toDF("src", "dst", "weight")
    assert(GraphAlgorithms.minimumSpanningForest(par)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      === Seq(("1", "2", 3L)))
    // two components + all-equal weights: a spanning forest with
    // |V| - #components edges, deterministic across runs
    val twoComp = Seq(("1", "2", 7L), ("2", "3", 7L), ("1", "3", 7L),
      ("10", "11", 7L), ("11", "12", 7L))
      .toDF("src", "dst", "weight")
    val f1 = GraphAlgorithms.minimumSpanningForest(twoComp)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(f1.size === 4) // 6 vertices, 2 components
    assert(f1 === GraphAlgorithms.minimumSpanningForest(twoComp)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
    // adaptive parity: distributed rounds match the driver-side sweep
    // edge-for-edge on every fixture above
    for (g <- Seq(wheel, par, twoComp)) {
      val loc = GraphAlgorithms.minimumSpanningForest(g)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val dist = withLocalRegimesOff(GraphAlgorithms.minimumSpanningForest(g)
        .collect()).map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(dist === loc, s"boruvka local/distributed divergence")
    }
  }

  test("motifCounts: square and K4 hand-checked") {
    import spark.implicits._
    // square 1-2-3-4-1: each vertex has degree 2 → 4 wedges, 1 rectangle
    val square = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1")).toDF("src", "dst")
    val sq = GraphAlgorithms.motifCounts(square).collect()(0)
    assert((sq.getLong(0), sq.getLong(1)) === ((4L, 1L)))
    // K4: 4 vertices of degree 3 → 12 wedges; 3 distinct 4-cycles
    val k4 = Seq(("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"), ("3", "4"))
      .toDF("src", "dst")
    val k = GraphAlgorithms.motifCounts(k4).collect()(0)
    assert((k.getLong(0), k.getLong(1)) === ((12L, 3L)))
    // a triangle has wedges but no 4-cycle
    val tri = Seq(("1", "2"), ("2", "3"), ("1", "3")).toDF("src", "dst")
    val t3 = GraphAlgorithms.motifCounts(tri).collect()(0)
    assert((t3.getLong(0), t3.getLong(1)) === ((3L, 0L)))
  }

  test("walkSkipGramPairs: window band, both directions, counts aggregate") {
    import spark.implicits._
    // one walk a-b-c-d: window 1 pairs = adjacent ordered pairs
    val walks = Seq((1L, 0, "a"), (1L, 1, "b"), (1L, 2, "c"), (1L, 3, "d"))
      .toDF("wid", "step", "id")
    val w1 = GraphAlgorithms.walkSkipGramPairs(walks, window = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(w1 === Map(("a", "b") -> 1L, ("b", "a") -> 1L, ("b", "c") -> 1L,
      ("c", "b") -> 1L, ("c", "d") -> 1L, ("d", "c") -> 1L))
    // window 2 adds the step-2 pairs; revisits aggregate counts
    val loop = Seq((7L, 0, "x"), (7L, 1, "y"), (7L, 2, "x"))
      .toDF("wid", "step", "id")
    val w2 = GraphAlgorithms.walkSkipGramPairs(loop, window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (x,y): steps (0,1) and (2,1) → 2; (x,x): (0,2) and (2,0) → 2
    assert(w2 === Map(("x", "y") -> 2L, ("y", "x") -> 2L, ("x", "x") -> 2L))
  }

  test("personalizedPageRank: mass restarts at the source only") {
    import spark.implicits._
    val nodes = Seq("1", "2", "3").toDF("id")
    val edges = Seq(("1", "2"), ("2", "3")).toDF("src", "dst")
      .withColumn("type", lit("E"))
    val g = PropertyGraph(nodes, edges, isDirected = true)
    val src = Seq("1").toDF("id")
    val r = GraphAlgorithms.personalizedPageRank(g, src, alpha = 0.5, iterations = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // r0 = (1, 0, 0); r1 = (0.5·1, 0.5·1, 0) = (0.5, 0.5, 0);
    // r2 = (0.5, 0.5·0.5, 0.5·0.5) = (0.5, 0.25, 0.25)
    assert(r === Map("1" -> 0.5, "2" -> 0.25, "3" -> 0.25))
    // unlike pageRank, an untouched sink far from S stays at EXACT zero
    val far = Seq(("1", "2")).toDF("src", "dst").withColumn("type", lit("E"))
    val g2 = PropertyGraph(Seq("1", "2", "9").toDF("id"), far, isDirected = true)
    val r2 = GraphAlgorithms.personalizedPageRank(g2, src, alpha = 0.5, iterations = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r2("9") === 0.0)
  }

  test("kTruss: K4 survives at k=4, pendant triangle peels, cascade reaches fixpoint") {
    import spark.implicits._
    // K4 on 1-4 (every edge in 2 triangles) + a pendant triangle 1-5-6
    // (each of its edges in exactly 1 triangle)
    val k4 = Seq(("1", "2"), ("1", "3"), ("1", "4"), ("2", "3"), ("2", "4"), ("3", "4"))
    val pendant = Seq(("1", "5"), ("5", "6"), ("1", "6"))
    val edges = (k4 ++ pendant).toDF("src", "dst")
    val out = GraphAlgorithms.kTruss(edges, k = 4, rounds = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out === k4.map { case (a, b) => (a, b, 2L) }.toSet)
    // k=3 keeps everything (every edge is in >= 1 triangle)
    assert(GraphAlgorithms.kTruss(edges, k = 3, rounds = 10).count() === 9L)
    // k=5 peels K4 too — after the pendant drops nothing has support 3;
    // cascade must reach the empty fixpoint, not stop after one round
    assert(GraphAlgorithms.kTrussFixpoint(edges, k = 5).count() === 0L)
    // bounded form: round 1 at k=4 removes the pendant edges only
    val (r1, executed) = GraphAlgorithms.kTrussImpl(edges, k = 4, rounds = 1)
    assert(r1.count() === 6L && executed === 1)
    // adaptive parity: the distributed loop must match the driver-side
    // peel row-for-row
    val dist = withLocalRegimesOff(GraphAlgorithms.kTruss(edges, k = 4, rounds = 10)
      .collect()).map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(dist === out)
  }

  test("clusteringCoefficients: per-vertex triangles and coefficient") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant edge 3-4
    val edges = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4")).toDF("src", "dst")
    val cc = GraphAlgorithms.clusteringCoefficients(edges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toList.sortBy(_._1)
    assert(cc === List(("1", 1L, 1.0), ("2", 1L, 1.0), ("3", 1L, 0.3333), ("4", 0L, 0.0)))
    // powergrid: per-vertex counts sum to 3 × the golden 651
    val pv = GraphAlgorithms.clusteringCoefficients(pg.edges)
      .agg(org.apache.spark.sql.functions.sum("triangles")).collect()(0).getLong(0)
    assert(pv === 3L * 651L)
  }

  test("walkPpmiScores: hand-checked PPMI on a single walk, clamped at zero, no cache residue") {
    import spark.implicits._
    // one walk 1-2-3, window 1: pairs (1,2),(2,1),(2,3),(3,2) each cnt 1;
    // N=4, marginals 1:1 2:2 3:1 -> ppmi(1,2) = ln(4/(1*2)) = ln 2
    val walks = Seq((0L, 0, "1"), (0L, 1, "2"), (0L, 2, "3"))
      .toDF("wid", "step", "id")
    val before = spark.sparkContext.getPersistentRDDs.size
    val m = GraphAlgorithms.walkPpmiScores(walks, window = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(m.size === 4)
    assert(m(("1", "2")) === ((1L, BigDecimal(math.log(2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(m(("2", "1")) === m(("1", "2")))
    // ppmi(2,x): ln(1*4/(2*1)) = ln 2 as well; all values non-negative
    m.values.foreach { case (_, p) => assert(p >= 0.0) }
    // the pair table was released (localCheckpoint blocks are not persist entries)
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1)
  }

  test("weightedRandomWalks: local regime matches the forced-distributed path exactly") {
    import spark.implicits._
    val edges = (0L until 50L).flatMap { i =>
      Seq((i, (i * 7 + 3) % 50), (i, (i + 4) % 50))
    }.toDF("src", "dst")
      .selectExpr("src", "dst", "(src + dst) % 5 + 1 AS weight")
    val starts = (0L until 50L by 5L).map(i => (i, i)).toDF("wid", "id")
    for (und <- Seq(true, false)) {
      // the switch off forces the distributed steps
      val dist = withLocalRegimesOff(GraphAlgorithms.weightedRandomWalks(edges, starts,
        steps = 5, undirected = und).orderBy("wid", "step").collect().toSeq)
      val loc = GraphAlgorithms.weightedRandomWalks(edges, starts, steps = 5,
        undirected = und).orderBy("wid", "step").collect().toSeq
      assert(loc === dist, s"undirected=$und")
    }
  }

  test("weightedRandomWalks: deterministic, edge-valid, biased toward heavy weights") {
    import spark.implicits._
    // star center 0 with a heavy edge to 1 (w=999) and light edges to 2,3 (w=1)
    val edges = Seq((0L, 1L, 999L), (0L, 2L, 1L), (0L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val starts = (1L to 60L).map(i => (i, 0L)).toDF("wid", "id")
    val walks = GraphAlgorithms.weightedRandomWalks(edges, starts, steps = 1)
    val step1 = walks.where(col("step") === 1)
      .collect().map(_.getLong(2))
    assert(step1.length === 60)
    // draw mod 1001: picks 1 unless the draw lands in the 2-in-1001 tail
    val heavy = step1.count(_ == 1L)
    assert(heavy >= 55, s"heavy-edge picks: $heavy/60")
    assert(step1.forall(v => v == 1L || v == 2L || v == 3L))
    // deterministic across reruns
    val again = GraphAlgorithms.weightedRandomWalks(edges, starts, steps = 1)
      .where(col("step") === 1).collect().map(_.getLong(2))
    assert(step1.toSeq === again.toSeq)
    // every consecutive walk pair is a real (undirected) edge; parallel
    // edges collapse by SUMMED weight without breaking validity
    val par = Seq((0L, 1L, 1L), (0L, 1L, 5L), (1L, 2L, 3L)).toDF("src", "dst", "weight")
    val pw = GraphAlgorithms.weightedRandomWalks(par, Seq((7L, 0L)).toDF("wid", "id"), steps = 4)
      .orderBy("step").collect().map(_.getLong(2))
    val allowed = Set((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L))
    pw.sliding(2).foreach { case Array(a, b) => assert(allowed.contains((a, b)), s"$a->$b") }
  }

  test("jpColoring: proper coloring, complete, local/distributed parity") {
    import spark.implicits._
    // path + star mix (the MIS fixture) plus a triangle for a 3-color need
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8"), ("3", "5")).toDF("src", "dst")
    val out = GraphAlgorithms.jpColoring(edges)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val colors = out.map(t => t._1 -> t._2).toMap
    // complete: every vertex colored
    assert(colors.keySet === Set("1", "2", "3", "4", "5", "6", "7", "8"))
    // proper: no edge with equal endpoint colors
    Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"),
      ("2", "6"), ("2", "7"), ("7", "8"), ("3", "5")).foreach { case (a, b) =>
      assert(colors(a) !== colors(b), s"edge $a-$b shares color ${colors(a)}")
    }
    // greedy mex keeps colors compact: ≤ maxDegree + 1 (Δ = 4 for "2")
    assert(colors.values.max <= 4)
    // parity: the distributed rounds produce the identical rows
    val dist = withLocalRegimesOff(GraphAlgorithms.jpColoring(edges).collect())
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(dist.toSet === out.toSet)
  }

  test("node2vecWalks: p=q=1 collapses to uniform; bias steers return vs outward") {
    import spark.implicits._
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("2", "4"), ("4", "5"))
      .toDF("src", "dst")
    val starts = Seq((1L, "1"), (2L, "2"), (9L, "4")).toDF("wid", "id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // all biases equal → the interval pick degenerates to draw mod degree,
    // i.e. exactly the uniform randomWalks contract, step for step
    val flat = norm(GraphAlgorithms.node2vecWalks(edges, starts, steps = 6, p = 1, q = 1))
    val uniform = norm(GraphAlgorithms.randomWalks(edges, starts, steps = 6))
    assert(flat === uniform)
    // deterministic and edge-valid under real bias
    val biased = GraphAlgorithms.node2vecWalks(edges, starts, steps = 6, p = 2, q = 3)
    val a = norm(biased)
    assert(a === norm(GraphAlgorithms.node2vecWalks(edges, starts, steps = 6, p = 2, q = 3)))
    val adj = Set(("1", "2"), ("2", "3"), ("3", "1"), ("2", "4"), ("4", "5"))
      .flatMap { case (x, y) => Set((x, y), (y, x)) }
    a.groupBy(_._1).values.foreach { w =>
      w.toSeq.sortBy(_._2).map(_._3).sliding(2).foreach { p =>
        if (p.length == 2) assert(adj.contains((p(0), p(1))), s"non-edge hop $p")
      }
    }
    // scalar replay of the full contract: recompute every step of every
    // walk with plain Scala integer math and compare position for position
    val und = adj
    def nbrs(u: String) = und.collect { case (x, y) if x == u => y }.toSeq.sorted
    def lcg(wid: Long, t: Int): Long =
      ((BigInt(1103515245L) * (wid * 1000003L + t.toLong * 101L) + 12345L)
        .mod(BigInt(2147483647L))).toLong
    for ((wid, start) <- Seq((1L, "1"), (2L, "2"), (9L, "4"))) {
      var prev = start
      var curV = nbrs(start)(
        (lcg(wid, 1) % nbrs(start).length).toInt) // uniform first step
      assert(a.find(r => r._1 == wid && r._2 == 1).get._3 === curV)
      for (t <- 2 to 6) {
        val cands = nbrs(curV)
        val bw = cands.map { v =>
          if (v == prev) 3L // q
          else if (und.contains((prev, v))) 6L // p·q
          else 2L // p
        }
        val r = lcg(wid, t) % bw.sum
        var acc = 0L; var pick = cands.head
        cands.zip(bw).foreach { case (v, w) =>
          if (r >= acc && r < acc + w) pick = v
          acc += w
        }
        assert(a.find(x => x._1 == wid && x._2 == t).get._3 === pick,
          s"wid=$wid t=$t prev=$prev cur=$curV")
        prev = curV; curV = pick
      }
    }
  }

  test("collectInternedGated: probe cap, count-gate escalation, budgets") {
    import spark.implicits._
    // 10 canonical edges
    val e = (0 until 10).map(i => (i.toString, (i + 100).toString))
      .toDF("src", "dst")
    def gate(thr: Long, probe: Int) =
      GraphAlgorithms.collectInternedGated(e, canonical = false, thr, probe)
    // rows fit the probe → gated-and-loaded in one pass
    assert(gate(thr = 100L, probe = 16).map(_.edgeCount) === Some(10))
    // probe overflows, budget ≤ probe → distributed (None), ≤ probe+1 shipped
    assert(gate(thr = 4L, probe = 4) === None)
    // probe overflows, explicit budget beyond it → count-gate, then the
    // full collect once the count (10) proves it fits
    assert(gate(thr = 100L, probe = 4).map(_.edgeCount) === Some(10))
    // count exceeds the budget → distributed, no row transfer
    assert(gate(thr = 8L, probe = 4) === None)
    // negative budget disables the local regime outright
    assert(gate(thr = -1L, probe = 4) === None)
    // sentinel budget: the 100M hard clamp keeps arithmetic sane
    assert(gate(thr = Long.MaxValue, probe = 4).map(_.edgeCount) === Some(10))
  }

  test("collect gates at the DEFAULT 1M probe cap: a >1M frame escalates " +
      "to the count gate, not a blind collect") {
    // the only regime branch the small-probe test above can't reach:
    // probe = the real 1,000,000 default, frame bigger than it
    val big = spark.range(1200000L)
      .selectExpr("CAST(id AS STRING) AS src", "CAST(id + 5000000 AS STRING) AS dst")
    // budget beyond the probe → count-gate proves 1.2M fits → full rows
    val rows = GraphAlgorithms.collectRowsGated(big, threshold = 2000000L)
    assert(rows.map(_.length) === Some(1200000))
    // budget between probe and frame size → count-gate rejects, no
    // full-row transfer (ships at most probe+1 rows before deciding)
    assert(GraphAlgorithms.collectRowsGated(big, threshold = 1100000L) === None)
    // interned flavor through the same default-probe escalation
    val interned = GraphAlgorithms.collectInternedGated(
      big, canonical = false, threshold = 2000000L)
    assert(interned.map(_.edgeCount) === Some(1200000))
  }

  test("localRegimes kill-switch: spark.graft.localRegimes=off forces the " +
      "distributed path everywhere, results unchanged") {
    import spark.implicits._
    val edges = (0L until 60L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 60), (i, (i + 4) % 60))).toDF("src", "dst")
    val local = GraphAlgorithms.triangleCountDF(edges).collect()(0).getLong(0)
    val blpOn = GraphAlgorithms.balancedPartition(edges, numParts = 4)
      .orderBy("id").collect().toSeq
    withLocalRegimesOff {
      // the gated collects refuse outright — no probe job, no rows
      assert(GraphAlgorithms.collectRowsGated(edges, 1000000L).isEmpty)
      assert(GraphAlgorithms.collectInternedGated(edges, canonical = true,
        1000000L).isEmpty)
      val off = GraphAlgorithms.triangleCountDF(edges).collect()(0).getLong(0)
      assert(off === local)
      // a regime that probes its oriented raw rows (BLP) takes the
      // distributed rounds and still matches the local replay bit-exactly
      val blpOff = GraphAlgorithms.balancedPartition(edges, numParts = 4)
        .orderBy("id").collect().toSeq
      assert(blpOff === blpOn)
    }
  }
}
