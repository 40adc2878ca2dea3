package graft.cypher

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algorithms.GraphAlgorithms
import graft.model.PropertyGraph

/**
 * Procedure registry backing CALL/YIELD — executable here although the
 * reference parses CALL and leaves it as a planner TODO
 * (`QueryPlanner.cpp:65-463`); the built-ins bridge the reference's
 * NON-Cypher frontend commands (pgrnk, idd/odd, trian, vcnt/ecnt —
 * `JasmineGraphFrontEndProtocol.cpp`) into the Cypher surface, so a
 * single query language reaches both worlds:
 *
 *   CALL graft.pageRank(0.85, 5) YIELD id, rank RETURN id, rank ...
 *
 * A procedure takes the bound graph plus literal arguments and returns a
 * DataFrame with a fixed column set; YIELD selects/renames columns and
 * the rest of the query composes as usual. User procedures can be
 * registered at runtime (`Procedures.register`).
 *
 * Scope note: the registry is process-global (like Neo4j's, where
 * procedures are deployed per DBMS, not per session) — a deliberate
 * trade-off kept honest two ways: built-ins can never be overridden or
 * shadowed (a user registration under a built-in name is rejected), and
 * `unregister` exists so tests/sessions can clean up after themselves.
 */
object Procedures {

  /** (graph, literal args) → result. Output column names are the YIELD
    * surface. */
  type Proc = (PropertyGraph, List[Any]) => DataFrame

  private val registry = scala.collection.concurrent.TrieMap.empty[String, Proc]
  private var builtinNames = Set.empty[String]
  private var sealed_ = false

  /** Register a procedure under a dotted, case-insensitive name.
    * Built-in names are reserved. */
  def register(name: String, proc: Proc): Unit = {
    val key = name.toLowerCase
    if (sealed_ && builtinNames.contains(key))
      throw CypherParseException(s"cannot override built-in procedure '$name'")
    registry.put(key, proc)
    if (!sealed_) builtinNames += key
  }

  /** Remove a user-registered procedure (built-ins are permanent). */
  def unregister(name: String): Unit = {
    val key = name.toLowerCase
    if (builtinNames.contains(key))
      throw CypherParseException(s"cannot unregister built-in procedure '$name'")
    registry.remove(key)
  }

  def invoke(g: PropertyGraph, name: String, args: List[Any]): DataFrame =
    registry.getOrElse(name.toLowerCase, throw CypherParseException(
      s"unknown procedure '$name' (known: ${registry.keys.toSeq.sorted.mkString(", ")})"))(g, args)

  private def num(a: Any, what: String): Double = a match {
    case d: Double => d
    case l: Long => l.toDouble
    case other => throw CypherParseException(s"$what must be a number, got $other")
  }

  // ----- built-ins --------------------------------------------------------

  register("db.labels", (g, _) =>
    g.nodes.select(col("label")).where(col("label") =!= "").distinct())

  register("db.relationshiptypes", (g, _) =>
    g.edges.select(col("type").as("relationshipType"))
      .where(col("relationshipType") =!= "").distinct())

  register("db.propertykeys", (g, _) =>
    g.nodes.select(explode(map_keys(col("properties"))).as("propertyKey"))
      .unionByName(g.edges.select(explode(map_keys(col("properties"))).as("propertyKey")))
      .distinct())

  /** Reference `pgrnk`: CALL graft.pageRank([alpha[, iterations]]). */
  register("graft.pagerank", (g, args) => {
    val alpha = args.headOption.map(num(_, "alpha")).getOrElse(0.85)
    val iters = args.lift(1).map(num(_, "iterations").toInt).getOrElse(10)
    GraphAlgorithms.pageRank(g, alpha, iters)
  })

  /** Reference `idd`/`odd`: CALL graft.degree('in'|'out'). */
  register("graft.degree", (g, args) => args.headOption match {
    case Some("in") => GraphAlgorithms.inDegrees(g)
    case Some("out") | None => GraphAlgorithms.outDegrees(g)
    case other => throw CypherParseException(s"graft.degree expects 'in' or 'out', got $other")
  })

  /** Reference `trian`: one row, column `triangles`. */
  register("graft.trianglecount", (g, _) =>
    GraphAlgorithms.triangleCountDF(g.edges))

  /** Parity-plus BFS: CALL graft.shortestPath(sourceId[, maxHops]) —
    * (id, dist) for every vertex within maxHops of the source, expanding
    * the graph's edges undirected. */
  register("graft.shortestpath", (g, args) => {
    val source = args.headOption match {
      case Some(s: String) => s
      case other => throw CypherParseException(
        s"graft.shortestPath needs a source id string, got $other")
    }
    val maxHops = args.lift(1).map(num(_, "maxHops").toInt).getOrElse(10)
    GraphAlgorithms.shortestPaths(g.edges, source, maxHops)
  })

  /** Reference `vcnt`/`ecnt` catalog counts as a one-row relation. */
  register("graft.counts", (g, _) =>
    g.nodes.select(count(lit(1)).as("vertices"))
      .crossJoin(g.edges.select(count(lit(1)).as("edges"))))

  /** Parity-plus community detection: CALL graft.labelPropagation([iters])
    * — (id, label); directed graphs propagate along edge direction. */
  register("graft.labelpropagation", (g, args) => {
    val iters = args.headOption.map(num(_, "iterations").toInt).getOrElse(5)
    GraphAlgorithms.labelPropagation(g.edges, iters, undirected = !g.isDirected)
  })

  /** Parity-plus k-core: CALL graft.kCore(k[, rounds]) — survivors with
    * induced degree; without `rounds` it peels to the fixpoint. */
  register("graft.kcore", (g, args) => {
    val k = args.headOption.map(num(_, "k").toInt).getOrElse(2)
    args.lift(1).map(num(_, "rounds").toInt) match {
      case Some(r) => GraphAlgorithms.kCore(g.edges, k, r)
      case None => GraphAlgorithms.kCoreFixpoint(g.edges, k)
    }
  })

  /** Parity-plus: per-vertex triangle counts + local clustering coefficient. */
  register("graft.clusteringcoefficients", (g, _) =>
    GraphAlgorithms.clusteringCoefficients(g.edges))

  /** Parity-plus node embeddings: CALL graft.fastrp([dims[, iterations]])
    * — exact-integer FastRP iterates over the graph's undirected
    * collapse, (id, r1_0.., r2_0..). See [[GraphAlgorithms.fastRP]]. */
  register("graft.fastrp", (g, args) => {
    val dims = args.headOption.map(num(_, "dims").toInt).getOrElse(4)
    val iters = args.lift(1).map(num(_, "iterations").toInt).getOrElse(2)
    // persisted: the isolated-node union below reads the recurrence
    // TWICE (output rows + the anti-join's id side) — without the lazy
    // persist both consumers recompute the full iterate chain (measured
    // 3.5× on cy_call_fastrp sf0.1). The iterates' internal persists
    // are unaffected; ContextCleaner reclaims.
    val emb = GraphAlgorithms.fastRP(g.edges.select(col("src"), col("dst")), dims, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // isolated nodes of the property graph carry every iterate as the
    // zero neighbor sum — union them in so the CALL surface covers the
    // whole node set, like graft.degree
    val coords = emb.columns.filter(_ != "id")
    val isolated = g.nodes.select(col("id"))
      .join(emb.select(col("id")), Seq("id"), "left_anti")
      .select(col("id") +: coords.map(c => lit(0L).as(c)): _*)
    emb.unionByName(isolated)
  })

  /** Connected components — (id, component), component = the smallest
    * member id. */
  register("graft.connectedcomponents", (g, _) => GraphAlgorithms.connectedComponents(g))

  /** Reference `egnt`: CALL graft.egonet(id) — the ego's induced subgraph
    * edges (src, dst). */
  register("graft.egonet", (g, args) => args.headOption match {
    case Some(id: String) => GraphAlgorithms.egonet(g, id)
    case other => throw CypherParseException(
      s"graft.egonet needs an ego id string, got $other")
  })

  /** Reference k-NN frontend verb: CALL graft.knn(store, queryId[, k]) —
    * top-k corpus neighbours of the store's own `queryId` vector by
    * cosine, (qid, id, cosine, rank). `store` is a vector store
    * registered via [[graft.model.GraphCatalog.registerVectors]] (the
    * per-graph FAISS-index analogue, `src/vectorstore/FaissIndex.h`);
    * typically `GraphSources.embedNodes` output. */
  register("graft.knn", (g, args) => {
    val store = args.headOption match {
      case Some(s: String) => s
      case other => throw CypherParseException(
        s"graft.knn needs a vector-store name string, got $other")
    }
    val qid = args.lift(1) match {
      case Some(s: String) => s
      case other => throw CypherParseException(
        s"graft.knn needs a query id string, got $other")
    }
    val k = args.lift(2).map(num(_, "k").toInt).getOrElse(10)
    val vecs = graft.model.GraphCatalog.vectors(store)
      .select(col("id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    val q = vecs.where(col("id") === qid)
      .select(col("id").as("qid"), col("embedding").as("qvec"))
    graft.pipeline.Similarity.knnCosine(vecs, "id", "embedding", q, "qid", "qvec", k)
  })

  /** Parity-plus centrality: CALL graft.closeness([maxHops]) —
    * (id, reached, sum_dist, closeness, harmonic) over the graph's edges
    * expanded undirected (see [[GraphAlgorithms.closenessCentrality]]). */
  register("graft.closeness", (g, args) => {
    val maxHops = args.headOption.map(num(_, "maxHops").toInt).getOrElse(10)
    GraphAlgorithms.closenessCentrality(g.edges, maxHops)
  })

  /** Parity-plus centrality: CALL graft.betweenness([maxHops]) —
    * (id, betweenness) by hop-bounded Brandes, all sources, undirected
    * expansion (see [[GraphAlgorithms.betweennessCentrality]]). */
  register("graft.betweenness", (g, args) => {
    val maxHops = args.headOption.map(num(_, "maxHops").toInt).getOrElse(6)
    GraphAlgorithms.betweennessCentrality(g.edges, maxHops)
  })

  /** Parity-plus community detection: CALL graft.louvain([rounds]) —
    * (id, community) by deterministic synchronous modularity-greedy
    * local moves (see [[GraphAlgorithms.louvainCommunities]]). */
  register("graft.louvain", (g, args) => {
    val rounds = args.headOption.map(num(_, "rounds").toInt).getOrElse(4)
    GraphAlgorithms.louvainCommunities(g.edges, rounds)
  })

  /** Parity-plus structural metrics: CALL graft.eccentricity([maxHops])
    * — (id, reached, eccentricity); diameter/radius are one aggregate
    * away (see [[GraphAlgorithms.eccentricity]]). */
  register("graft.eccentricity", (g, args) => {
    val maxHops = args.headOption.map(num(_, "maxHops").toInt).getOrElse(10)
    GraphAlgorithms.eccentricity(g.edges, maxHops)
  })

  /** Parity-plus structural metrics: CALL graft.graphstats() — one row
    * of whole-graph summary statistics: directed-edge reciprocity and
    * undirected degree assortativity (see
    * [[GraphAlgorithms.reciprocity]]/[[GraphAlgorithms.degreeAssortativity]]). */
  register("graft.graphstats", (g, _) =>
    // fused single-pass form: both metrics share one materialized
    // distinct edge set (see GraphAlgorithms.graphStats)
    GraphAlgorithms.graphStats(g.edges))

  /** Reference MetisPartitioner through the CALL surface:
    * CALL graft.partition([parts[, rounds[, slackPct]]]) — balanced
    * min-cut assignment (id, part) by deterministic synchronous
    * balanced label propagation (see
    * [[GraphAlgorithms.balancedPartition]]; the reference's batch
    * partition verb backed by gpmetis, `MetisPartitioner.cpp:204`). */
  register("graft.partition", (g, args) => {
    val parts = args.headOption.map(num(_, "parts").toInt).getOrElse(4)
    val rounds = args.drop(1).headOption.map(num(_, "rounds").toInt).getOrElse(4)
    val slack = args.drop(2).headOption.map(num(_, "slackPct").toInt).getOrElse(10)
    GraphAlgorithms.balancedPartition(g.edges, parts, rounds, slack)
  })

  /** Parity-plus: CALL graft.coreNumbers([maxK[, roundsPerK]]) — the
    * full k-shell decomposition (see [[GraphAlgorithms.coreNumbers]]). */
  register("graft.corenumbers", (g, args) => {
    val maxK = args.headOption.map(num(_, "maxK").toInt).getOrElse(8)
    val rounds = args.drop(1).headOption.map(num(_, "roundsPerK").toInt).getOrElse(6)
    GraphAlgorithms.coreNumbers(g.edges, maxK, rounds)
  })

  /** Parity-plus: CALL graft.weightedPageRank([iterations]) — weighted
    * PageRank over the edge `weight` property when present, weight 1
    * otherwise (see [[GraphAlgorithms.weightedPageRank]]). */
  register("graft.weightedpagerank", (g, args) => {
    val iters = args.headOption.map(num(_, "iterations").toInt).getOrElse(10)
    val w = if (g.edges.columns.contains("properties"))
      coalesce(element_at(col("properties"), "weight").cast("long"), lit(1L))
    else lit(1L)
    GraphAlgorithms.weightedPageRank(
      g.edges.select(col("src"), col("dst"), w.as("weight")),
      iterations = iters)
  })

  /** Reference `ktop`: CALL graft.kafkaTopics() — distinct Kafka topic
    * names across catalog graphs registered with kafka:<topic> source
    * paths (frontend `kafka_topics_command`). */
  /** Parity-plus symmetry-breaking primitives: CALL graft.mis([rounds]) /
    * graft.coloring([rounds]) / graft.matching([rounds]) — deterministic
    * Luby MIS, Jones–Plassmann coloring, and edge-local-minimum maximal
    * matching (see [[GraphAlgorithms]]); all replayable. mis/coloring
    * need BIGINT-castable ids; matching (and coarsen/mst below) accept
    * any id type via a hashed order key. */
  register("graft.mis", (g, args) => {
    val rounds = args.headOption.map(num(_, "rounds").toInt).getOrElse(20)
    GraphAlgorithms.maximalIndependentSet(g.edges, rounds)
  })
  register("graft.coloring", (g, args) => {
    val rounds = args.headOption.map(num(_, "rounds").toInt).getOrElse(30)
    GraphAlgorithms.jpColoring(g.edges, rounds)
  })
  register("graft.matching", (g, args) => {
    val rounds = args.headOption.map(num(_, "rounds").toInt).getOrElse(20)
    GraphAlgorithms.maximalMatching(g.edges, rounds)
  })

  /** Parity-plus contraction family: CALL graft.coarsen([rounds]) — one
    * METIS-style matching-contraction level; graft.mst([rounds]) — the
    * Borůvka minimum spanning forest over the edge `weight` property
    * (weight 1 when absent, the graft.weightedpagerank convention). */
  register("graft.coarsen", (g, args) => {
    val rounds = args.headOption.map(num(_, "rounds").toInt).getOrElse(20)
    // heavy-edge matching over the edge `weight` property when present
    // (the graft.mst convention); unweighted otherwise
    if (g.edges.columns.contains("properties"))
      GraphAlgorithms.coarsenGraph(
        g.edges.select(col("src"), col("dst"),
          coalesce(element_at(col("properties"), "weight").cast("long"), lit(1L))
            .as("weight")),
        rounds, weightCol = Some("weight"))
    else GraphAlgorithms.coarsenGraph(g.edges, rounds)
  })
  register("graft.mst", (g, args) => {
    val rounds = args.headOption.map(num(_, "rounds").toInt).getOrElse(12)
    val w = if (g.edges.columns.contains("properties"))
      coalesce(element_at(col("properties"), "weight").cast("long"), lit(1L))
    else lit(1L)
    GraphAlgorithms.minimumSpanningForest(
      g.edges.select(col("src"), col("dst"), w.as("weight")), rounds = rounds)
  })

  /** Parity-plus: CALL graft.katz([alphaNum[, alphaDen[, iterations]]]) —
    * Katz centrality in exact micro-unit arithmetic (see
    * [[GraphAlgorithms.katz]]). */
  register("graft.katz", (g, args) => {
    val alphaNum = args.headOption.map(num(_, "alphaNum").toInt).getOrElse(1)
    val alphaDen = args.lift(1).map(num(_, "alphaDen").toInt).getOrElse(10)
    val iters = args.lift(2).map(num(_, "iterations").toInt).getOrElse(6)
    GraphAlgorithms.katz(g.edges, alphaNum, alphaDen, iters)
  })

  /** Parity-plus: CALL graft.effectiveDiameter([maxHops[, q]]) — the
    * HyperANF neighborhood-function read path (see
    * [[GraphAlgorithms.effectiveDiameter]]). */
  register("graft.effectivediameter", (g, args) => {
    val hops = args.headOption.map(num(_, "maxHops").toInt).getOrElse(8)
    val quant = args.lift(1).map(num(_, "q")).getOrElse(0.9)
    GraphAlgorithms.effectiveDiameter(g.edges, hops, quant)
  })

  /** Parity-plus: CALL graft.neighborhood([hops]) — the HyperANF
    * per-vertex register table itself (see
    * [[GraphAlgorithms.neighborhoodRegisters]]); feed any vertex's rows
    * to `Sketches.hllEstimate` for its ball size. */
  register("graft.neighborhood", (g, args) => {
    val hops = args.headOption.map(num(_, "hops").toInt).getOrElse(4)
    GraphAlgorithms.neighborhoodRegisters(g.edges, hops)
  })

  register("graft.kafkatopics", (g, _) => {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    graft.model.GraphCatalog.kafkaTopics.toDF("topic")
  })

  /** Reference frontend `lst`: the catalog listing —
    * (name, vcnt, ecnt, is_directed) per registered graph. */
  register("graft.lst", (g, _) =>
    graft.model.GraphCatalog.lst(g.nodes.sparkSession))

  // everything registered above is a protected built-in; registrations
  // from here on are user procedures
  sealed_ = true
}
