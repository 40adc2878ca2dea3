package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{functions, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.GraphAlgorithms
import graft.cypher.{Cypher, Parser}
import graft.model.{GraphCatalog, PropertyGraph}
import graft.pipeline.Dedup
import graft.sources.TpchBridge
import graft.sparql.Sparql
import graft.streaming.{CatalogIngest, EdgeStream, StreamingTriangles}

/** A closed-loop workload: set-up builds its inputs on a fresh session,
  * each round is a list of ops timed one after the other. */
trait Workload {
  def name: String
  /** Build and materialize every input the ops read. */
  def setup(spark: SparkSession, t: Tracer): Unit
  /** Release what set-up started (streams), before the session stops. */
  def teardown(): Unit = ()
  def round(): Seq[Op]
  /** Whole-run checks made once at the end: (check name, passed). */
  def finalChecks(): Seq[(String, Boolean)] = Nil
  /** Per-layer metrics only this workload has, read at the end of the run. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

object Workloads {
  val Names: Seq[String] = Seq("interactive", "analytics")

  def apply(name: String, data: Data, inputs: Inputs, dataDir: Path, workDir: Path): Workload =
    name match {
      case "interactive" => new Interactive(data, inputs, dataDir.toString, new IngestPath(data, inputs, workDir))
      case "analytics" => new Analytics(data, inputs, dataDir.toString,
        new DedupPipeline(data, inputs, dataDir.toString))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }

  /** Timed Cypher call: parse (traced runs only) and plan as their own
    * spans, so the parse cost is visible apart from planning. */
  def cypher(t: Tracer, g: => PropertyGraph, q: String): DataFrame = {
    if (t.enabled) t.span("cypher.parse")(Parser.parseStatement(q))
    t.span("cypher.plan")(Cypher.run(g, q))
  }

  def sparql(t: Tracer, triples: DataFrame, q: String): DataFrame = {
    if (t.enabled) t.span("sparql.parse")(Sparql.parse(q))
    t.span("sparql.plan")(Sparql.run(triples, q))
  }
}

/** Short reads over the cached bridge graph and its RDF triples, and the
  * write path: each round ends with one ingest cycle of [[IngestPath]]. */
final class Interactive(data: Data, inputs: Inputs, dir: String, ingest: IngestPath) extends Workload {
  val name = "interactive"
  private var g: PropertyGraph = _
  private var triples: DataFrame = _

  def setup(spark: SparkSession, t: Tracer): Unit = {
    g = t.span("sources.build") {
      val graph = TpchBridge.graph(spark, dir)
      graph.edges.count(); graph.nodes.count()
      graph
    }
    triples = t.span("sources.build") {
      val c = TpchBridge.table(spark, dir, "customer")
      val n = TpchBridge.table(spark, dir, "nation")
      val r = TpchBridge.table(spark, dir, "region")
      def tr(s: org.apache.spark.sql.Column, p: String, o: org.apache.spark.sql.Column) =
        Seq(s.as("s"), lit(p).as("p"), o.as("o"))
      val df = c.join(n, col("c_nationkey") === col("n_nationkey"))
          .select(tr(concat(lit("customer/"), col("c_custkey")), "fromNation",
            concat(lit("nation/"), col("n_name"))): _*)
        .unionByName(n.join(r, col("n_regionkey") === col("r_regionkey"))
          .select(tr(concat(lit("nation/"), col("n_name")), "locatedIn",
            concat(lit("region/"), col("r_name"))): _*))
        .unionByName(c.select(tr(concat(lit("customer/"), col("c_custkey")), "segment",
          col("c_mktsegment")): _*))
        .cache()
      df.count()
      df
    }
    ingest.setup(spark, t)
  }

  override def teardown(): Unit = ingest.teardown()
  override def finalChecks(): Seq[(String, Boolean)] = ingest.finalChecks()
  override def layerMetrics(): Map[String, Double] = ingest.layerMetrics()

  private def op(read: Read): Op = {
    val expected = Reference.read(data, read)
    def cy(q: String) = Op.collected(read.kind, "cypher", t => Workloads.cypher(t, g, q), expected)
    def sp(q: String) = Op.collected(read.kind, "sparql", t => Workloads.sparql(t, triples, q), expected)
    read.kind match {
      case "point" =>
        cy(s"MATCH (n) WHERE id(n) = 'c${read.key}' RETURN n.name AS name, n.mktsegment AS seg")
      case "hop1" =>
        cy(s"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = 'c${read.key}' RETURN o.id AS oid")
      case "hop2" =>
        cy(s"MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) " +
          s"WHERE id(c) = 'c${read.key}' RETURN o.id AS oid, p.id AS pid")
      case "filter_limit" =>
        cy(s"MATCH (c:Customer) WHERE toFloat(c.acctbal) > ${read.threshold} " +
          "RETURN c.id AS id, toFloat(c.acctbal) AS acctbal ORDER BY acctbal DESC, id LIMIT 10")
      case "group_agg" =>
        cy(s"MATCH (c:Customer)-[:FROM]->(n:Nation) WHERE c.mktsegment = '${read.segment}' " +
          "RETURN n.name AS nation, count(c) AS cnt ORDER BY nation")
      case "sparql_path" =>
        sp(s"SELECT ?dest WHERE { <customer/${read.key}> (<fromNation>|<locatedIn>)+ ?dest }")
    }
  }

  def round(): Seq[Op] = inputs.interactiveRound().map(op) ++ ingest.cycle()
}

/** Whole-dataset ops, each timed to a full result: graph algorithms over
  * the cached hash graph (`graft.sources.TpchBridge.hashGraphEdges`, ~1
  * edge per line item), then the near-duplicate pipeline of
  * [[DedupPipeline]]. */
final class Analytics(data: Data, inputs: Inputs, dir: String, dedup: DedupPipeline) extends Workload {
  val name = "analytics"
  private var graph: PropertyGraph = _
  private lazy val hashPairs = Reference.hashGraph(data)
  private lazy val hashVertices = hashPairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
  // answers that depend on nothing a round draws are computed once per run:
  // computed per round, the plain-Scala references took ~7 s of a run
  private lazy val expectedPageRank = Reference.pageRank(hashVertices, hashPairs, 0.85, 3)
  private lazy val expectedHits = Reference.hits(hashPairs, 3)
  private lazy val expectedLabels = Reference.labelPropagation(hashPairs, 2)
  private lazy val expectedCore = Reference.kCore(hashPairs, 3, 2)
  private lazy val expectedTriangles = Seq(Seq(Reference.triangles(hashPairs)))

  def setup(spark: SparkSession, t: Tracer): Unit = {
    graph = t.span("sources.build") {
      val edges = TpchBridge.hashGraphEdges(spark, dir)
      val empty = map().cast(MapType(StringType, StringType))
      val nodes = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id")))
        .distinct().select(col("id"), lit("").as("label"), empty.as("properties"))
      val g = PropertyGraph(nodes, PropertyGraph.withEid(
        edges.select(col("src"), col("dst"), lit("").as("type"), empty.as("properties"))),
        isDirected = true).cache()
      g.edges.count(); g.nodes.count()
      g
    }
    dedup.setup(spark, t)
  }

  def round(): Seq[Op] = {
    val bfsSource = inputs.bfsSource(hashVertices)
    val hash = graph.edges.select(col("src"), col("dst"))
    def alg(kind: String, call: => DataFrame, expected: => Seq[Seq[Any]]) =
      Op.full(kind, "algorithms", t => t.span("algorithms.call")(call), expected)
    Seq(
      alg("pagerank",
        GraphAlgorithms.pageRank(graph, alpha = 0.85, iterations = 3)
          .select(col("id"), functions.round(col("rank") + lit(Reference.RoundingNudge), 4).as("rank")),
        expectedPageRank),
      alg("hits", GraphAlgorithms.hits(hash, iterations = 3), expectedHits),
      alg("label_propagation", GraphAlgorithms.labelPropagation(hash, iterations = 2), expectedLabels),
      alg("kcore", GraphAlgorithms.kCore(hash, k = 3, rounds = 2), expectedCore),
      alg("triangles", GraphAlgorithms.triangleCountDF(hash), expectedTriangles),
      alg("bfs", GraphAlgorithms.shortestPaths(hash, bfsSource, maxHops = 6),
        Reference.bfs(hashPairs, bfsSource, 6))) ++ dedup.ops()
  }
}

/** The near-duplicate pipeline over documents and embeddings with a
  * seeded share of planted near-duplicates. */
final class DedupPipeline(data: Data, inputs: Inputs, dir: String) {
  private var docs: DataFrame = _
  private lazy val corpus = data.documents ++ inputs.injectedDocuments
  private lazy val expectedMinhash =
    Reference.jaccardPairs(corpus, d => Reference.charShingles(d.text, 5), 0.8).map { case (a, b) => Seq(a, b) }
  private lazy val expectedSimhash = Reference.simhashPairs(corpus, 3)

  def setup(spark: SparkSession, t: Tracer): Unit = t.span("sources.build") {
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    docs = TpchBridge.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(spark.createDataFrame(spark.sparkContext.parallelize(
        inputs.injectedDocuments.map(d => Row(d.id, d.text)), 1), docSchema))
      .cache()
    docs.count()
  }

  def ops(): Seq[Op] = {
    def pipe(kind: String, call: => DataFrame, expected: => Seq[Seq[Any]]) =
      Op.full(kind, "pipeline", t => t.span("pipeline.call")(call), expected)
    Seq(
      pipe("minhash_pairs",
        Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.8).select(col("idA"), col("idB")),
        expectedMinhash),
      pipe("simhash_pairs",
        Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
          .select(col("idA"), col("idB"), col("hamming")),
        expectedSimhash))
  }
}

/** The write path: skewed edge batches streamed as JSON files into a
  * catalog graph and an incremental triangle counter, each commit followed
  * by a Cypher read of the catalog view — which reads the growing parquet
  * edge log, not a cache. */
final class IngestPath(data: Data, inputs: Inputs, workDir: Path) {
  import IngestPath.BatchSize
  private var spark: SparkSession = _
  private var setups = 0
  private var dir: Path = _
  private var graphName: String = _
  private var ingest: CatalogIngest = _
  private var tri: StreamingTriangles = _
  private var batches = 0
  private var inputBytes = 0L
  /** The benchmark's own view of everything sent: adjacency and ΔT total. */
  private val adj = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashSet[String]]
  private var sent = 0L
  private var expectedTriangles = 0L
  private var runInputs: Inputs = _
  /** Files the catalog view scans, counted after each read-after-write. */
  private val readFiles = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def send(edges: Seq[(String, String)]): Unit = {
    val lines = edges.map { case (a, b) =>
      s"""{"source":{"id":"$a","properties":{}},"destination":{"id":"$b","properties":{}},"properties":{"type":"E"}}"""
    }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val tmp = dir.resolve(s"tmp-$batches.json")
    Files.write(tmp, lines)
    Files.move(tmp, dir.resolve("in").resolve(f"batch-$batches%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    batches += 1
    inputBytes += lines.length
    edges.foreach { case (a, b) =>
      val na = adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty)
      val nb = adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty)
      expectedTriangles += (if (na.size < nb.size) na.count(nb) else nb.count(na))
      na += b; nb += a
      sent += 1
    }
  }

  private def batchFrame(edges: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  def setup(s: SparkSession, t: Tracer): Unit = {
    spark = s
    setups += 1
    dir = workDir.resolve(s"ingest-$setups")
    Files.createDirectories(dir.resolve("in"))
    graphName = s"ingest$setups"
    adj.clear(); sent = 0; expectedTriangles = 0; batches = 0; inputBytes = 0
    // every set-up starts the seeded batch sequence afresh
    runInputs = new Inputs(inputs.seed, data)
    t.span("sources.build") {
      val records = EdgeStream.readJsonEdgeStream(spark, dir.resolve("in").toString)
      ingest = EdgeStream.applyToCatalog(records, graphName, isDirected = false,
        checkpoint = dir.resolve("ckpt").toString, storeDir = dir.resolve("store").toString)
      tri = new StreamingTriangles(spark)
    }
  }

  def teardown(): Unit = if (ingest != null) { ingest.stop(); GraphCatalog.remove(graphName) }

  /** One ingest cycle: commit a batch, add it to the triangle count, read
    * a seeded anchor's neighbours back through the catalog view. */
  def cycle(): Seq[Op] = {
    val batch = runInputs.nextBatch(BatchSize)
    val anchor = runInputs.ingestAnchor(batch)
    val triangles = IngestPath.trianglesOp(() => tri.addBatch(batchFrame(batch)), () => expectedTriangles)
    val commit = Op("ingest_commit", "streaming", t => {
      send(batch)
      t.span("streaming.commit")(ingest.processAllAvailable())
      Outcome(Fingerprint(batch.length, 0), new StructType())
    }, _ => true)
    val read = Op.collected("ingest_read", "cypher", t => Workloads.cypher(t, GraphCatalog(graphName),
        s"MATCH (a)-[r]-(b) WHERE id(a) = '$anchor' RETURN b.id AS nb"), {
      val g = GraphCatalog(graphName)
      readFiles += (g.edges.inputFiles.length + g.nodes.inputFiles.length).toDouble
      adj(anchor).toSeq.map(Seq(_))
    })
    Seq(commit, triangles, read)
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    val g = GraphCatalog(graphName)
    val total = tri.currentCount
    Seq(
      "edges" -> (g.edges.count() == sent),
      "nodes" -> (g.nodes.count() == adj.size.toLong),
      "triangles" -> IngestPath.trianglesAgree(total, tri.recount(), expectedTriangles))
  }

  private def storeFiles: Seq[Path] = {
    val s = Files.walk(dir.resolve("store"))
    try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }

  def layerMetrics(): Map[String, Double] = Map(
    "streaming.store_bytes_per_input_byte" -> storeFiles.map(Files.size).sum.toDouble / inputBytes,
    "streaming.store_files" -> storeFiles.length.toDouble,
    "streaming.read_files" -> (if (readFiles.isEmpty) 0.0 else Stats.median(readFiles.toSeq)),
    "streaming.state_rows" -> Option(ingest.nodeQuery.lastProgress)
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0))
}

object IngestPath {
  /** Edges per streamed batch. */
  val BatchSize = 500

  /** Adds one batch to the engine's incremental count; correct when the
    * running total equals the benchmark's own count of the edges sent. */
  def trianglesOp(addBatch: () => Long, expected: () => Long): Op =
    Op("ingest_triangles", "streaming", t => {
      val total = t.span("streaming.triangles")(addBatch())
      Outcome(Fingerprint(1, total), new StructType())
    }, o => o.fp.hash == expected())

  /** The exact ingest invariant: the running ΔT total, a full recount of
    * the engine's store and the benchmark's own count of the sent edges
    * all agree. */
  def trianglesAgree(runningTotal: Long, recount: Long, expected: Long): Boolean =
    runningTotal == recount && recount == expected
}
