package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algorithms.GraphAlgorithms

/**
 * Structural graph metrics: eccentricity, reciprocity, degree
 * assortativity, modularity, topological levels — hand-checked fixtures
 * plus local/distributed parity (`withLocalRegimesOff` forces the
 * distributed loop, the closeness/SCC adaptive contract).
 */
class GraphMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def pathGraph: DataFrame =
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("src", "dst")

  test("eccentricity: path graph hand-checked, hop cap, local/distributed parity") {
    val ecc = GraphAlgorithms.eccentricity(pathGraph, maxHops = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ecc("a") === ((4L, 4L))) // reaches b,c,d,e; farthest e at 4
    assert(ecc("b") === ((4L, 3L)))
    assert(ecc("c") === ((4L, 2L))) // the center: radius vertex
    assert(ecc("e") === ((4L, 4L)))
    // diameter = max ecc = 4, radius = min ecc = 2

    // hop cap truncates both reach and eccentricity
    val capped = GraphAlgorithms.eccentricity(pathGraph, maxHops = 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(capped("a") === ((1L, 1L)))
    assert(capped("c") === ((2L, 1L)))

    // sources subset restricts rows, not semantics
    val srcOnly = GraphAlgorithms.eccentricity(pathGraph, maxHops = 10,
      sources = Some(Seq("c").toDF("id")))
    assert(srcOnly.collect().map(r => (r.getString(0), r.getLong(2))).toSeq ===
      Seq(("c", 2L)))

    // parity: distributed loop computes the identical frame
    val dist = withLocalRegimesOff(GraphAlgorithms.eccentricity(pathGraph, maxHops = 10)
      .orderBy("id").collect().toSeq)
    assert(dist ===
      GraphAlgorithms.eccentricity(pathGraph, maxHops = 10).orderBy("id").collect().toSeq)
  }

  test("reciprocity: mutual pairs over distinct non-loop edges") {
    val e = Seq(("1", "2"), ("2", "1"), ("1", "3"),
      ("1", "3"), // duplicate — collapses
      ("4", "4")  // self-loop — dropped
    ).toDF("src", "dst")
    val r = GraphAlgorithms.reciprocity(e).collect()(0)
    assert(r.getLong(0) === 3L)        // total distinct non-loop edges
    assert(r.getLong(1) === 2L)        // (1,2) and (2,1)
    assert(r.getDouble(2) === 0.666667)
  }

  test("degreeAssortativity: star is perfectly disassortative, regular graph reports 0") {
    val star = Seq(("c", "a"), ("c", "b"), ("c", "d")).toDF("src", "dst")
    val s = GraphAlgorithms.degreeAssortativity(star).collect()(0)
    assert(s.getLong(0) === 6L)   // ends = 2m
    assert(s.getLong(1) === 12L)  // Σx
    assert(s.getLong(2) === 30L)  // Σx²
    assert(s.getLong(3) === 18L)  // Σxy
    assert(s.getDouble(4) === -1.0)

    // 4-cycle: every degree 2 → zero variance → r reported as 0
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("src", "dst")
    assert(GraphAlgorithms.degreeAssortativity(cyc).collect()(0).getDouble(4) === 0.0)
  }

  test("modularity: two triangles + bridge, hand-checked Q") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")).toDF("src", "dst")
    val comm = Seq(("a", 1), ("b", 1), ("c", 1),
      ("d", 2), ("e", 2), ("f", 2)).toDF("id", "community")
    val q = GraphAlgorithms.modularity(e, comm).collect()(0)
    assert(q.getLong(0) === 7L)   // m
    assert(q.getLong(1) === 6L)   // intra (the bridge crosses)
    assert(q.getLong(2) === 98L)  // 7² + 7²
    // Q = 6/7 − 98/(4·49) = 0.857142857… − 0.5
    assert(q.getDouble(3) === 0.357143)

    // everything in one community: Q = 1 − 1/1? no — intra/m = 1,
    // degsq = (2m)² so Q = 1 − 1 = 0 exactly
    val one = comm.withColumn("community", lit(9))
    assert(GraphAlgorithms.modularity(e, one).collect()(0).getDouble(3) === 0.0)
  }

  test("CALL surface: graft.coreNumbers and graft.weightedPageRank procedures") {
    val g = graft.sources.TpchBridge.graph(spark, sf0001)
    val c = graft.cypher.Cypher.run(g,
      "CALL graft.coreNumbers(2, 2) YIELD id, core RETURN id, core ORDER BY id LIMIT 5")
    assert(c.columns.toSeq === Seq("id", "core"))
    assert(c.count() === 5)
    val w = graft.cypher.Cypher.run(g,
      "CALL graft.weightedPageRank(2) YIELD id, rank RETURN id, rank ORDER BY rank DESC, id LIMIT 5")
    assert(w.count() === 5)
  }

  test("weightedPageRank: hand-checked micro-unit iteration, weight proportionality") {
    // a -> b (w=3), a -> c (w=1): b gets 3/4 of a's rank, c gets 1/4
    val e = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "weight")
    val r1 = GraphAlgorithms.weightedPageRank(e, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: no in-edges -> 150000; b: 150000 + 85*750000/100 = 787500;
    // c: 150000 + 85*250000/100 = 362500
    assert(r1 === Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L))
    // the exact double emission is micro/1e6
    val d1 = GraphAlgorithms.weightedPageRank(e, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(d1("b") === 0.7875)
    // non-positive weights drop; duplicate rows add weight
    val e2 = Seq(("a", "b", 1L), ("a", "b", 2L), ("a", "c", 1L), ("a", "x", 0L))
      .toDF("src", "dst", "weight")
    val r2 = GraphAlgorithms.weightedPageRank(e2, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2("b") === 787500L) // same 3/4 share as the single w=3 edge
    assert(!r2.contains("x"))
  }

  test("katz/weightedPageRank: local replay matches the distributed loop") {
    // adaptive parity (the BFS/kCore discipline): the switch off
    // forces the distributed path; the driver replay must produce the
    // exact same micro-unit integers on a messy pseudo-random multigraph
    val edges = (0 until 400).map { i =>
      val s = (i * 37) % 53; val d = (i * 91 + 11) % 53
      (s.toString, d.toString, (i % 7 + 1).toLong)
    }
    val we = edges.toDF("src", "dst", "weight")
    val wLocal = GraphAlgorithms.weightedPageRank(we, 85, 100, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wDist = withLocalRegimesOff(GraphAlgorithms.weightedPageRank(we, 85, 100,
        iterations = 3, checkpointInterval = 6).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wLocal === wDist)
    val ke = edges.map { case (s, d, _) => (s, d) }.toDF("src", "dst")
    val kLocal = GraphAlgorithms.katz(ke, 1, 10, iterations = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kDist = withLocalRegimesOff(GraphAlgorithms.katz(ke, 1, 10, iterations = 4,
        checkpointInterval = 6).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kLocal === kDist)
  }

  test("katz: hand-checked micro-unit chain, no degree normalization") {
    // chain a -> b -> c at alpha = 1/2: after 2 iterations
    //   b = 1e6 + 1e6/2 = 1_500_000 (stable),
    //   c = 1e6 + r1(b)/2 = 1e6 + 750_000 = 1_750_000
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = GraphAlgorithms.katz(e, alphaNum = 1, alphaDen = 2, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r === Map("a" -> 1000000L, "b" -> 1500000L, "c" -> 1750000L))
    // NO out-degree normalization: a fan-out a -> {b, c} gives each child
    // a's FULL attenuated rank (PageRank would split it)
    val fan = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val rf = GraphAlgorithms.katz(fan, alphaNum = 1, alphaDen = 2, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rf("b") === 1500000L && rf("c") === 1500000L)
    // duplicate edges and self-loops drop; doubles are exact micro/1e6
    val dup = Seq(("a", "b"), ("a", "b"), ("b", "b")).toDF("src", "dst")
    val rd = GraphAlgorithms.katz(dup, alphaNum = 1, alphaDen = 2, iterations = 1)
    assert(rd.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a" -> 1000000L, "b" -> 1500000L))
    assert(rd.where(col("id") === "b").collect()(0).getDouble(2) === 1.5)
    // CALL surface
    val g = graft.sources.TpchBridge.graph(spark, sf0001)
    val k = graft.cypher.Cypher.run(g,
      "CALL graft.katz(1, 10, 3) YIELD id, katz RETURN id, katz ORDER BY katz DESC, id LIMIT 5")
    assert(k.count() === 5)
  }

  test("neighborhoodRegisters: hop balls match direct sketches; estimate tracks ball size") {
    import graft.pipeline.Sketches
    // path 1-2-3-4-5 (undirected): B(3,1) = {2,3,4}, B(3,2) = everything
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val regs = GraphAlgorithms.neighborhoodRegisters(edges, hops = 2)
    def ball(hop: Int, id: Long) = regs
      .where(col("hop") === hop && col("id") === id)
      .select("bucket", "max_rho").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    def direct(ids: Seq[Long]) = Sketches.hllRegisters(ids.toDF("k"), "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(ball(2, 3L) === direct(Seq(1L, 2L, 3L, 4L, 5L)))
    assert(ball(1, 3L) === direct(Seq(2L, 3L, 4L)))
    assert(ball(1, 1L) === direct(Seq(1L, 2L)))
    assert(ball(0, 5L) === direct(Seq(5L)))
    // the estimate read path: hop-2 ball of the center is all 5 vertices
    // (linear-counting regime is near-exact at this size)
    val est = Sketches.hllEstimate(
      regs.where(col("hop") === 2 && col("id") === 3)
        .select(col("bucket"), col("max_rho")))
    assert(math.round(est) === 5L, s"ball estimate $est for true size 5")
  }

  test("neighborhoodRegisters: local regime matches the forced-distributed path exactly") {
    val edges = (0L until 50L).flatMap { i =>
      Seq((i, (i * 17 + 3) % 50), (i, (i + 6) % 50))
    }.toDF("src", "dst")
    for (und <- Seq(true, false)) {
      val dist = withLocalRegimesOff(GraphAlgorithms.neighborhoodRegisters(edges,
        hops = 3, undirected = und).orderBy("hop", "id", "bucket").collect().toSeq)
      val loc = GraphAlgorithms.neighborhoodRegisters(edges, hops = 3,
        undirected = und).orderBy("hop", "id", "bucket").collect().toSeq
      assert(loc === dist, s"undirected=$und")
    }
    // string ids exercise the md5 byte mirror
    val eS = (0L until 30L).map(i => (s"v$i", s"v${(i * 7 + 1) % 30}"))
      .toDF("src", "dst")
    val distS = withLocalRegimesOff(GraphAlgorithms.neighborhoodRegisters(eS, hops = 2)
      .orderBy("hop", "id", "bucket").collect().toSeq)
    val locS = GraphAlgorithms.neighborhoodRegisters(eS, hops = 2)
      .orderBy("hop", "id", "bucket").collect().toSeq
    assert(locS === distS)
  }

  test("effectiveDiameter: monotone neighborhood function, correct cut hop on a path") {
    // path 1..5: true N(t) = 5, 13, 19, 23, 25; at q = 0.8 the target is
    // 20, first reached at hop 3 (margin ≫ the sketch's error at n=5)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val out = GraphAlgorithms.effectiveDiameter(edges, hops = 4, q = 0.8)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2)))
    assert(out.map(_._1).toSeq === Seq(0, 1, 2, 3, 4))
    // monotone non-decreasing ball growth
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 - 1e-9, s"N(t) not monotone: $a -> $b")
    }
    assert(math.round(out(0)._2) === 5L) // hop-0 balls are the vertices
    assert(math.round(out(4)._2) === 25L)
    assert(out.filter(_._3).map(_._1).toSeq === Seq(3),
      s"effective hop wrong: ${out.toSeq}")
  }

  test("snowballSample: budget-bounded expansion, determinism, induced-edge closure") {
    // hub 0 with spokes 1..10 (no spoke-spoke edges)
    val star = (1 to 10).map(i => (0L, i.toLong)).toDF("src", "dst")
    val s1 = GraphAlgorithms.snowballSample(star, Seq(0L).toDF("id"),
      hops = 1, maxNeighbors = 3).collect()
    assert(s1.length === 3) // exactly cap edges, all incident to the hub
    assert(s1.forall(r => r.getLong(0) === 0L))
    // deterministic
    val again = GraphAlgorithms.snowballSample(star, Seq(0L).toDF("id"),
      hops = 1, maxNeighbors = 3).collect()
    assert(again.map(_.toString).sorted.toSeq === s1.map(_.toString).sorted.toSeq)
    // full budget covers the whole star
    val all = GraphAlgorithms.snowballSample(star, Seq(0L).toDF("id"),
      hops = 1, maxNeighbors = 10).collect()
    assert(all.length === 10)
    // member growth is ≤ frontier×cap per hop: path 0-1-2-3-4, cap 1 —
    // at most 1 new member per hop, and edges stay a prefix of the path
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val p = GraphAlgorithms.snowballSample(path, Seq(0L).toDF("id"),
      hops = 3, maxNeighbors = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p.subsetOf(Set((0L, 1L), (1L, 2L), (2L, 3L))))
    assert(p.contains((0L, 1L))) // hop 1 always admits 0's only neighbor
  }

  test("louvainCommunities: two triangles + bridge converge to the textbook partition") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L)).toDF("src", "dst")
    val comm = GraphAlgorithms.louvainCommunities(e, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the two triangles each share one label; the labels differ
    assert(Set(comm(0L), comm(1L), comm(2L)).size === 1)
    assert(Set(comm(3L), comm(4L), comm(5L)).size === 1)
    assert(comm(0L) !== comm(3L))

    // deterministic: an identical rerun yields identical labels
    val again = GraphAlgorithms.louvainCommunities(e, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === comm)

    // composes with the modularity metric: the found partition scores
    // the hand-computed optimum for this graph
    val q = GraphAlgorithms.modularity(e,
      GraphAlgorithms.louvainCommunities(e, rounds = 4))
    assert(q.collect()(0).getDouble(3) === 0.357143)

    // local/distributed parity (the switch off forces the distributed
    // synchronous rounds)
    val dist = withLocalRegimesOff(GraphAlgorithms.louvainCommunities(e, rounds = 4)
      .collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === comm)

    // string ids: same partition through the lexicographic tie-break
    val se = e.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    val sLocal = GraphAlgorithms.louvainCommunities(se, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sDist = withLocalRegimesOff(GraphAlgorithms.louvainCommunities(se, rounds = 4)
      .collect()).map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sDist === sLocal)
    assert(Set(sLocal("0"), sLocal("1"), sLocal("2")).size === 1)
  }

  test("coreNumbers: K4 + pendant path hand-checked, truncation, parity") {
    // K4 on {0,1,2,3} (core 3), pendant path 3-4-5 (cores 1)
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val core = GraphAlgorithms.coreNumbers(e, maxK = 8, roundsPerK = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 1L, 5L -> 1L))

    // truncation at maxK: the K4 reports the cap
    val capped = GraphAlgorithms.coreNumbers(e, maxK = 2, roundsPerK = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(0L) === 2L && capped(4L) === 1L)

    // local/distributed parity
    val dist = withLocalRegimesOff(GraphAlgorithms.coreNumbers(e, maxK = 8,
        roundsPerK = 6).collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === core)
  }

  test("topologicalLevels: diamond layering, cycle detection, parity") {
    val dag = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("e", "d"))
      .toDF("src", "dst")
    val lv = GraphAlgorithms.topologicalLevels(dag)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lv === Map("a" -> 0L, "e" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))

    // longest path wins: a→d direct edge does not demote d below level 2
    val lp = GraphAlgorithms.topologicalLevels(
      dag.unionByName(Seq(("a", "d")).toDF("src", "dst")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lp("d") === 2L)

    // distributed parity
    val dist = withLocalRegimesOff(GraphAlgorithms.topologicalLevels(dag).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist === lv)

    // reachable cycle throws in both regimes
    val cyc = Seq(("s", "p"), ("p", "q"), ("q", "p")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAlgorithms.topologicalLevels(cyc)
    }
    intercept[IllegalArgumentException] {
      withLocalRegimesOff(GraphAlgorithms.topologicalLevels(cyc, maxRounds = 5).collect())
    }
    // unreachable cycle (no path from any source into it) also throws
    val stranded = Seq(("s", "x"), ("p", "q"), ("q", "p")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAlgorithms.topologicalLevels(stranded)
    }
    intercept[IllegalArgumentException] {
      withLocalRegimesOff(GraphAlgorithms.topologicalLevels(stranded, maxRounds = 20).collect())
    }
  }

  /** Pure-Scala replay of [[GraphAlgorithms.balancedPartition]]'s
    * synchronous rounds — md5-byte init/parity, integer capacity,
    * k·(C−load) scores, (score DESC, load ASC, part ASC) argmax,
    * parity-gated adoption. Pins the distributed plan's semantics
    * exactly (the louvain local-replay device, in-test). */
  private def replayBlp(edges: Seq[(Long, Long)], p: Int, rounds: Int,
                        slackPct: Int): Map[Long, Int] = {
    val cn = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nb = cn.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val verts = nb.map(_._1).distinct.sorted
    val n = verts.size.toLong
    val cap = (n * (100L + slackPct) + 100L * p - 1) / (100L * p)
    def bucket(id: Long): Int = java.lang.Byte.toUnsignedInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))(0))
    var asg = verts.map(v => v -> bucket(v) % p).toMap
    val par = verts.map(v => v -> bucket(v) % 2).toMap
    for (r <- 1 to rounds) {
      val load = asg.values.groupBy(identity)
        .map { case (k, vs) => k -> vs.size.toLong }
      val kv = nb.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => asg(e._2)).groupBy(identity)
          .map { case (pp, xs) => pp -> xs.size.toLong }
      }
      asg = verts.map { v =>
        val around = kv.getOrElse(v, Map.empty[Int, Long])
        val cands = around + (asg(v) -> around.getOrElse(asg(v), 0L))
        val best = cands.toSeq.map { case (pp, k) =>
          (-(k * (cap - load.getOrElse(pp, 0L))), load.getOrElse(pp, 0L), pp)
        }.min._3
        v -> (if (par(v) == r % 2) best else asg(v))
      }.toMap
    }
    asg
  }

  test("balancedPartition: distributed rounds match the pure-Scala replay; deterministic") {
    // a mid-size pseudo-random graph: 40 vertices, 3 edge families
    val edges = (0L until 40L).flatMap { i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 13 + 11) % 40), (i, (i + 1) % 40))
    }
    val e = edges.toDF("src", "dst")
    val got = GraphAlgorithms.balancedPartition(e, numParts = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === replayBlp(edges, p = 4, rounds = 3, slackPct = 10))
    assert(got.values.forall(p => p >= 0 && p < 4))
    // deterministic: an identical rerun yields identical labels
    val again = GraphAlgorithms.balancedPartition(e, numParts = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === got)
    // more rounds still match the replay (parity alternation exercised)
    val got5 = GraphAlgorithms.balancedPartition(e, numParts = 3, rounds = 5,
        slackPct = 25)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got5 === replayBlp(edges, p = 3, rounds = 5, slackPct = 25))
    // guards
    intercept[IllegalArgumentException] {
      GraphAlgorithms.balancedPartition(e, numParts = 1)
    }
    intercept[IllegalArgumentException] {
      GraphAlgorithms.balancedPartition(e, numParts = 2, rounds = 0)
    }
  }

  test("balancedPartition init seeding: parity-gated vertices keep their seed exactly") {
    val edges = (0L until 30L).map(i => (i, (i * 11 + 5) % 30))
    val e = edges.toDF("src", "dst")
    def bucket(id: Long): Int = java.lang.Byte.toUnsignedInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))(0))
    // seed every vertex with a part the md5 default would NOT pick
    val seed = (0L until 30L).map(v => (v, (bucket(v) % 4 + 1) % 4))
    val got = GraphAlgorithms.balancedPartition(e, numParts = 4, rounds = 1,
        init = Some(seed.toDF("id", "part")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val seedMap = seed.toMap
    // round 1 moves only parity-1 vertices; parity-0 vertices must hold
    // their SEED (proving the init reached the assignment, not the md5
    // default)
    got.foreach { case (v, p) =>
      if (bucket(v) % 2 == 0) assert(p === seedMap(v), s"vertex $v")
    }
    // a partial seed is legal: unseeded vertices fall back to md5
    val partial = Seq((0L, 3)).toDF("id", "part")
    val got2 = GraphAlgorithms.balancedPartition(e, numParts = 4, rounds = 1,
        init = Some(partial))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val unseeded = got2.keys.filter(v => v != 0L && bucket(v) % 2 == 0)
    unseeded.foreach(v => assert(got2(v) === bucket(v) % 4, s"vertex $v"))
  }

  test("multilevelPartition: deterministic, full coverage, refinement does not lose balance") {
    // two 6-cliques joined by one bridge — coarsening should help BLP
    // co-locate each clique
    val cliqueA = for (i <- 0 until 6; j <- i + 1 until 6) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 10 until 16; j <- i + 1 until 16) yield (i.toLong, j.toLong)
    val edges = cliqueA ++ cliqueB ++ Seq((5L, 10L))
    val e = edges.toDF("src", "dst")
    val ml = GraphAlgorithms.multilevelPartition(e, numParts = 2,
      matchRounds = 6, coarseRounds = 3, refineRounds = 2)
    val got = ml.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === 12)
    assert(got.values.forall(p => p >= 0 && p < 2))
    // deterministic
    val again = GraphAlgorithms.multilevelPartition(e, numParts = 2,
      matchRounds = 6, coarseRounds = 3, refineRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === got)
    // quality is measurable through the same operator the oracles use
    val q = GraphAlgorithms.partitionQuality(e, ml).collect()(0)
    assert(q.getLong(1) === 12L)          // vertices all covered
    assert(q.getLong(3) <= q.getLong(2))  // cut_edges <= edges
  }

  test("multilevelPartition levels=2: total deterministic assignment; a clique never splits across the recursion") {
    val cliqueA = for (i <- 0 until 6; j <- i + 1 until 6) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 10 until 16; j <- i + 1 until 16) yield (i.toLong, j.toLong)
    val e = (cliqueA ++ cliqueB ++ Seq((5L, 10L))).toDF("src", "dst")
    val ml = GraphAlgorithms.multilevelPartition(e, numParts = 2,
      matchRounds = 6, coarseRounds = 3, refineRounds = 3, levels = 2)
    val got = ml.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === 12)
    assert(got.values.forall(p => p >= 0 && p < 2))
    val again = GraphAlgorithms.multilevelPartition(e, numParts = 2,
      matchRounds = 6, coarseRounds = 3, refineRounds = 3, levels = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === got, "the 2-level recursion is deterministic")
    // the heavy-edge coarsening contracts each clique into one cluster,
    // so no clique is ever split across parts (12 vertices is too small
    // for the SYNCHRONOUS move rounds to also guarantee the bridge cut —
    // simultaneous movers can overshoot capacity on toy graphs; the
    // fixture-scale quality wins are drive-measured in
    // BENCH_SF10_NOTES.md instead)
    assert((0 until 6).map(i => got(i.toLong)).distinct.size === 1,
      "clique A stays whole through the recursion")
    assert((10 until 16).map(i => got(i.toLong)).distinct.size === 1,
      "clique B stays whole through the recursion")
  }

  test("partition family: local regime matches the forced-distributed path exactly") {
    // string ids exercise the lexicographic canonicalization + md5 mirror
    val edgesS = (0L until 60L).flatMap { i =>
      Seq((s"${i}", s"${(i * 13 + 7) % 60}"), (s"${i}", s"${(i + 4) % 60}"))
    }
    val eS = edgesS.toDF("src", "dst")
    val eL = edgesS.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    for (e <- Seq(eS, eL)) {
      val dist = withLocalRegimesOff(GraphAlgorithms.balancedPartition(e, numParts = 4,
        rounds = 3).orderBy("id").collect().toSeq)
      val loc = GraphAlgorithms.balancedPartition(e, numParts = 4, rounds = 3)
        .orderBy("id").collect().toSeq
      assert(loc === dist, s"BLP parity for ${e.schema("src").dataType}")
      val mlDist = withLocalRegimesOff(GraphAlgorithms.multilevelPartition(e, numParts = 3,
        matchRounds = 5, coarseRounds = 2, refineRounds = 2, levels = 2)
        .orderBy("id").collect().toSeq)
      val mlLoc = GraphAlgorithms.multilevelPartition(e, numParts = 3,
        matchRounds = 5, coarseRounds = 2, refineRounds = 2, levels = 2)
        .orderBy("id").collect().toSeq
      assert(mlLoc === mlDist, s"multilevel parity for ${e.schema("src").dataType}")
    }
    // weighted form + vertex weights + seeds thread through the local BLP
    val ew = eL.selectExpr("src", "dst", "(src + dst) % 5 + 1 AS w")
    val vw = (0L until 60L).map(i => (i, i % 3 + 1)).toDF("id", "vw")
    val seed = (0L until 20L).map(i => (i, (i % 4).toInt)).toDF("id", "part")
    val wDist = withLocalRegimesOff(GraphAlgorithms.balancedPartition(ew, numParts = 4,
      rounds = 3, init = Some(seed), edgeWeightCol = Some("w"), vertexWeights = Some(vw))
      .orderBy("id").collect().toSeq)
    val wLoc = GraphAlgorithms.balancedPartition(ew, numParts = 4, rounds = 3,
      init = Some(seed), edgeWeightCol = Some("w"), vertexWeights = Some(vw))
      .orderBy("id").collect().toSeq
    assert(wLoc === wDist, "weighted/seeded/vertex-weighted BLP parity")
  }

  test("balancedPartition: a duplicate-id seed neither duplicates output rows nor inflates loads") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    // the same id seeded twice with CONFLICTING parts — the join must
    // see one row per id (dropDuplicates), not multiply vertex rows
    val seed = Seq((1L, 0), (1L, 1), (2L, 1)).toDF("id", "part")
    val asg = GraphAlgorithms.balancedPartition(e, numParts = 2, rounds = 2,
      init = Some(seed)).collect()
    assert(asg.length === 4, "one output row per vertex")
    assert(asg.map(_.getLong(0)).distinct.length === 4)
  }

  test("partitionQuality intended-k: degenerate assignments score honestly") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val allOne = Seq(("a", 0), ("b", 0), ("c", 0), ("d", 0)).toDF("id", "part")
    // occupied-parts view: looks perfect (1 part, imbalance 1.0)
    val qObs = GraphAlgorithms.partitionQuality(e, allOne).collect()(0)
    assert(qObs.getLong(0) === 1L && qObs.getDouble(7) === 1.0)
    // intended-k view: everything in 1 of 4 parts = imbalance 4.0,
    // min_load 0 (three parts are EMPTY)
    val q = GraphAlgorithms.partitionQuality(e, allOne, numParts = Some(4)).collect()(0)
    assert(q.getLong(0) === 4L)
    assert(q.getLong(6) === 0L)
    assert(q.getDouble(7) === 4.0)
  }

  test("partitionQuality: hand-checked cut/balance summary; missing vertices drop consistently") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val asg = Seq(("a", 0), ("b", 0), ("c", 1), ("d", 1)).toDF("id", "part")
    val q = GraphAlgorithms.partitionQuality(e, asg).collect()(0)
    assert(q.getLong(0) === 2L)        // parts
    assert(q.getLong(1) === 4L)        // vertices
    assert(q.getLong(2) === 3L)        // edges
    assert(q.getLong(3) === 1L)        // cut_edges (b-c)
    assert(q.getDouble(4) === 0.333333) // cut_ratio
    assert(q.getLong(5) === 2L)        // max_load
    assert(q.getLong(6) === 2L)        // min_load
    assert(q.getDouble(7) === 1.0)     // imbalance: perfectly balanced
    // a vertex absent from the assignment drops its incident edges from
    // BOTH terms (inner joins — the modularity convention)
    val partial = Seq(("a", 0), ("b", 1)).toDF("id", "part")
    val q2 = GraphAlgorithms.partitionQuality(e, partial).collect()(0)
    assert(q2.getLong(2) === 1L) // only a-b survives
    assert(q2.getLong(3) === 1L)
    assert(q2.getLong(1) === 2L)
  }

  /** Pure-Scala replay of the exact-integer FastRP recurrence: md5-byte
    * very-sparse ±1 init of `"id:dim"`, neighbor-sum iterates over the
    * undirected collapse — pins the distributed plan move-for-move (the
    * replayBlp device). */
  private def replayFastRp(edges: Seq[(String, String)], dims: Int,
                           iterations: Int,
                           weight: (String, String) => Long = (_, _) => 1L)
      : Map[String, Seq[Long]] = {
    val cn = edges.map { case (a, b) =>
      if (a <= b) (a, b) else (b, a)
    }.filter(e => e._1 != e._2).distinct
    val nbrs = cn.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    def bucket(s: String): Int = java.lang.Byte.toUnsignedInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))(0))
    def init(v: String, j: Int): Long = bucket(s"$v:$j") % 6 match {
      case 0 => 1L; case 1 => -1L; case _ => 0L
    }
    var cur = nbrs.keys.map(v => v -> (0 until dims).map(init(v, _))).toMap
    val out = scala.collection.mutable.Map.empty[String, Seq[Long]]
    nbrs.keys.foreach(v => out(v) = Seq.empty)
    for (_ <- 1 to iterations) {
      cur = nbrs.map { case (v, ns) =>
        v -> (0 until dims).map(j => ns.map(u => weight(v, u) * cur(u)(j)).sum)
      }
      cur.foreach { case (v, xs) => out(v) = out(v) ++ xs }
    }
    out.toMap
  }

  test("fastRP: distributed iterates match the pure-Scala md5 replay; deterministic") {
    val edges = (0L until 30L).flatMap { i =>
      Seq((s"v$i", s"v${(i * 7 + 3) % 30}"), (s"v$i", s"v${(i + 1) % 30}"))
    }
    val e = edges.toDF("src", "dst")
    val got = GraphAlgorithms.fastRP(e, dims = 3, iterations = 2)
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getLong)).toMap
    val want = replayFastRp(edges, dims = 3, iterations = 2)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, xs) => assert(xs === want(v), s"vertex $v") }
    // column names carry the (iterate, dim) contract
    assert(GraphAlgorithms.fastRP(e, dims = 2, iterations = 1).columns.toSeq ===
      Seq("id", "r1_0", "r1_1"))
    // deterministic: identical rerun, identical coordinates
    val again = GraphAlgorithms.fastRP(e, dims = 3, iterations = 2)
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getLong)).toMap
    assert(again === got)
    // duplicate / reversed / self-loop edges collapse before the recurrence
    val messy = (edges ++ edges.map(_.swap) ++ Seq(("v0", "v0"))).toDF("src", "dst")
    val viaMessy = GraphAlgorithms.fastRP(messy, dims = 3, iterations = 2)
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getLong)).toMap
    assert(viaMessy === got)
    // guards
    intercept[IllegalArgumentException] { GraphAlgorithms.fastRP(e, dims = 0) }
    intercept[IllegalArgumentException] { GraphAlgorithms.fastRP(e, iterations = 4) }
  }

  test("fastRP: local regime matches the forced-distributed path exactly") {
    val edges = (0L until 40L).flatMap { i =>
      Seq((s"v$i", s"v${(i * 11 + 5) % 40}"), (s"v$i", s"v${(i + 3) % 40}"))
    }
    val e = edges.toDF("src", "dst")
    // the switch off forces the distributed recurrence; default takes
    // the driver-side replay — identical rows, identical schema
    val dist = withLocalRegimesOff(GraphAlgorithms.fastRP(e, dims = 3, iterations = 2)
      .orderBy("id").collect().toSeq)
    val loc = GraphAlgorithms.fastRP(e, dims = 3, iterations = 2)
      .orderBy("id").collect().toSeq
    assert(loc === dist)
    // weighted form parity too (validated long weights thread through)
    val ew = e.selectExpr("src", "dst",
      "(CAST(substr(src, 2) AS BIGINT) + CAST(substr(dst, 2) AS BIGINT)) % 5 + 1 AS w")
    val distW = withLocalRegimesOff(GraphAlgorithms.fastRP(ew, dims = 2, iterations = 2,
      edgeWeightCol = Some("w")).orderBy("id").collect().toSeq)
    val locW = GraphAlgorithms.fastRP(ew, dims = 2, iterations = 2,
      edgeWeightCol = Some("w")).orderBy("id").collect().toSeq
    assert(locW === distW)
    // LONG ids exercise the cast-to-string mirror in the local init
    val eL = edges.map { case (a, b) => (a.drop(1).toLong, b.drop(1).toLong) }
      .toDF("src", "dst")
    val distL = withLocalRegimesOff(GraphAlgorithms.fastRP(eL, dims = 2, iterations = 1)
      .orderBy("id").collect().toSeq)
    val locL = GraphAlgorithms.fastRP(eL, dims = 2, iterations = 1)
      .orderBy("id").collect().toSeq
    assert(locL === distL)
  }

  test("fastRP weighted form: Σ w·x recurrence, parallel weights merge additively") {
    val edges = (0L until 24L).flatMap { i =>
      Seq((s"v$i", s"v${(i * 5 + 2) % 24}"), (s"v$i", s"v${(i + 1) % 24}"))
    }
    // deterministic per-pair weight on the CANONICAL orientation
    def wOf(a: String, b: String): Long = {
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      (lo.drop(1).toLong + hi.drop(1).toLong) % 7 + 1
    }
    val e = edges.toDF("src", "dst")
      .selectExpr("src", "dst",
        "(CAST(substr(src, 2) AS BIGINT) + CAST(substr(dst, 2) AS BIGINT)) % 7 + 1 AS w")
      // dedup like hashGraphEdges does, so the weight is per-pair
      .selectExpr("least(src, dst) AS src", "greatest(src, dst) AS dst", "w")
      .distinct()
    val got = GraphAlgorithms.fastRP(e, dims = 3, iterations = 2,
        edgeWeightCol = Some("w"))
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getLong)).toMap
    val want = replayFastRp(edges, dims = 3, iterations = 2, weight = wOf)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, xs) => assert(xs === want(v), s"vertex $v") }
    // weight ≡ 1 is exactly the unweighted recurrence
    val ones = e.withColumn("one", lit(1L))
    assert(GraphAlgorithms.fastRP(ones, dims = 3, iterations = 2,
        edgeWeightCol = Some("one"))
      .orderBy("id").collect().toSeq ===
      GraphAlgorithms.fastRP(e, dims = 3, iterations = 2).orderBy("id").collect().toSeq)
    // a duplicated weighted edge merges additively: same pair listed
    // twice at w=1 equals once at w=2
    val dup = e.limit(1).withColumn("w", lit(1L))
    val merged = GraphAlgorithms.fastRP(
      e.limit(1).withColumn("w", lit(1L)).unionByName(dup),
      dims = 3, iterations = 1, edgeWeightCol = Some("w"))
    val doubled = GraphAlgorithms.fastRP(
      e.limit(1).withColumn("w", lit(2L)),
      dims = 3, iterations = 1, edgeWeightCol = Some("w"))
    assert(merged.orderBy("id").collect().toSeq ===
      doubled.orderBy("id").collect().toSeq)
    // exact-integer contract guards: NULL and fractional weights are
    // rejected at the call (in-plan raise_error fires at the eager
    // canonicalization), never silently truncated/propagated
    val withNull = e.withColumn("w",
      when(col("src") === e.select("src").orderBy("src").first().getString(0),
        lit(null).cast("long")).otherwise(col("w")))
    val eNull = intercept[Exception] {
      GraphAlgorithms.fastRP(withNull, dims = 2, iterations = 1, edgeWeightCol = Some("w"))
    }
    assert(eNull.getMessage.contains("non-null"), eNull.getMessage)
    val frac = e.withColumn("w", col("w").cast("double") + lit(0.5))
    val eFrac = intercept[Exception] {
      GraphAlgorithms.fastRP(frac, dims = 2, iterations = 1, edgeWeightCol = Some("w"))
    }
    assert(eFrac.getMessage.contains("exact-integer"), eFrac.getMessage)
  }

  test("CALL graft.fastrp covers isolated nodes with zero-sum iterate rows") {
    import graft.model.PropertyGraph
    import graft.cypher.Cypher
    val nodes = Seq(("a", "", Map.empty[String, String]),
      ("b", "", Map.empty[String, String]),
      ("lone", "", Map.empty[String, String])).toDF("id", "label", "properties")
    val edges = PropertyGraph.withEid(Seq(("a", "b", "L", Map.empty[String, String]))
      .toDF("src", "dst", "type", "properties"))
    val g = PropertyGraph(nodes, edges, isDirected = false)
    val rows = Cypher.run(g,
      "CALL graft.fastrp(2, 1) YIELD id, r1_0, r1_1 RETURN id, r1_0, r1_1 ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq === Seq("a", "b", "lone"))
    // the isolated vertex's iterate is the zero neighbor sum
    assert(rows.find(_._1 == "lone").get === (("lone", 0L, 0L)))
  }
}
