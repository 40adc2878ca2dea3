package graft.model

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Property-graph data model: a graph is a pair of DataFrames plus a
 * directedness flag.
 *
 * Mirrors the reference data model (nodes with label + string properties,
 * relationships with type + string properties; see reference
 * `src/nativestore/NodeBlock.h:28-103` and
 * `src/nativestore/RelationBlock.h:59-171`) but drops the reference's
 * storage-level local/central partition split: Spark shuffles co-locate
 * whatever each operator needs, so edge-cut bookkeeping is unnecessary
 * (reference `src/nativestore/RelationBlock.h:121-122`).
 *
 * Schemas:
 *   nodes: id STRING, label STRING, properties MAP<STRING,STRING>
 *   edges: eid LONG, src STRING, dst STRING, type STRING,
 *          properties MAP<STRING,STRING>
 *
 * All property values are strings, exactly as in the reference
 * (`src/nativestore/PropertyLink.h:23-26`); numeric semantics are applied
 * at comparison time only (see [[graft.cypher.ExprCompiler]]).
 *
 * `eid` is a deterministic per-physical-edge identifier used for the
 * relationship-uniqueness predicate between consecutive hops of a path
 * pattern (reference `QueryPlanner.cpp:571-582`). Both orientations of an
 * undirected edge share one `eid`, so a pattern can never bind the same
 * physical edge to two different relationship variables of adjacent hops.
 */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame, isDirected: Boolean) {

  /**
   * Edge set used by relationship scans / expands. Undirected graphs emit
   * every relation in both orientations, matching the reference's
   * UndirectedRelationshipScan semantics (reference
   * `OperatorExecutor.cpp:610-725`: each relation is emitted twice when the
   * graph is undirected).
   */
  def orientedEdges: DataFrame =
    if (isDirected) edges else PropertyGraph.bothOrientations(edges)

  /** Cheap catalog stats — the reference serves vcnt/ecnt from its metadb
    * catalog rather than recomputing (`frontend/JasmineGraphFrontEnd.cpp:3181-3185`). */
  lazy val vertexCount: Long = nodes.count()
  lazy val edgeCount: Long = edges.count()

  /**
   * Cache both frames, each narrowed to a partition count that fits its
   * size ([[PropertyGraph.rightSized]]). Returns a NEW graph whose frames
   * are the cached ones: callers must use the return value, since queries
   * built on this graph's frames do not read the cache.
   */
  def cache(): PropertyGraph =
    copy(nodes = PropertyGraph.rightSized(nodes).cache(),
      edges = PropertyGraph.rightSized(edges).cache())

  def unpersist(): PropertyGraph = { nodes.unpersist(); edges.unpersist(); this }
}

object PropertyGraph {

  /**
   * Narrow `df` to the partition count Spark's adaptive execution would
   * give a shuffle of the same size, so a small resident frame is not
   * scanned in as many near-empty tasks as its source had file splits.
   * The target partition size is AQE's rule, `max(minPartitionSize,
   * min(advisoryPartitionSizeInBytes, size / defaultParallelism))`,
   * read from `spark.sql.adaptive.coalescePartitions.minPartitionSize`
   * and `spark.sql.adaptive.advisoryPartitionSizeInBytes`; the size is
   * the optimizer's estimate. `coalesce` never adds partitions and never
   * shuffles, so large frames keep their partitioning, and a frame with
   * unknown stats (estimated at `spark.sql.defaultSizeInBytes`) is
   * returned as is.
   */
  private[graft] def rightSized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    def bytes(key: String) = BigInt(JavaUtils.byteStringAsBytes(spark.conf.get(key)))
    def ceilDiv(a: BigInt, b: BigInt) = (a + b - 1) / b
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = bytes("spark.sql.adaptive.coalescePartitions.minPartitionSize")
      .max(bytes("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .min(ceilDiv(size, spark.sparkContext.defaultParallelism)))
    val n = ceilDiv(size, target).max(1)
    if (n.isValidInt) df.coalesce(n.toInt) else df
  }

  /** Emit both orientations of every edge, keeping the shared eid. */
  def bothOrientations(edges: DataFrame): DataFrame = {
    val swapped = edges.select(
      col("eid"),
      col("dst").as("src"),
      col("src").as("dst"),
      col("type"),
      col("properties"))
    edges.unionByName(swapped)
  }

  /** Canonical undirected edge list (src < dst), deduplicated — input to
    * triangle counting and other undirected analytics. */
  def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** Attach the deterministic eid column to a raw (src,dst,type,properties)
    * edge DataFrame. Identical parallel edges collide on eid — acceptable:
    * the only consumer is the hop-uniqueness predicate and two
    * indistinguishable edges produce indistinguishable rows. */
  def withEid(raw: DataFrame): DataFrame =
    raw.select(
      xxhash64(
        col("src"), col("dst"), col("type"),
        coalesce(element_at(col("properties"), "id"), lit(""))).as("eid"),
      col("src"), col("dst"), col("type"), col("properties"))
}

/**
 * In-memory registry of named graphs, standing in for the reference's SQLite
 * metadb catalog (`ddl/metadb.sql:1-22`): vcnt/ecnt/is_directed are answered
 * from here without recomputation.
 */
object GraphCatalog {
  private val graphs = scala.collection.concurrent.TrieMap.empty[String, PropertyGraph]
  private val sources = scala.collection.concurrent.TrieMap.empty[String, String]

  def register(name: String, g: PropertyGraph): PropertyGraph = { graphs.put(name, g); g }

  /** Register a graph together with its upload path — the reference
    * records this in metadb's `graph.upload_path` and the `ktop` command
    * reads it back (`JasmineGraphFrontEnd.cpp:2779-2795`). Streaming
    * Kafka ingests use `kafka:<topic>` paths. */
  def register(name: String, g: PropertyGraph, sourcePath: String): PropertyGraph = {
    sources.put(name, sourcePath)
    register(name, g)
  }

  def get(name: String): Option[PropertyGraph] = graphs.get(name)
  def apply(name: String): PropertyGraph =
    graphs.getOrElse(name, throw new NoSuchElementException(s"graph not registered: $name"))
  def remove(name: String): Unit = {
    graphs.remove(name); sources.remove(name); vectorStores.remove(name)
  }

  // ----- vector stores ----------------------------------------------------
  // The reference keeps a per-graph FAISS index next to the property data
  // (src/vectorstore/FaissIndex.h) and serves the frontend k-NN verb from
  // it; here a store is any (id, embedding) DataFrame — typically
  // GraphSources.embedNodes output or an external embedding table —
  // registered under a name the CALL surface can address.
  private val vectorStores = scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]

  /** Register (or replace) a named vector store: columns (id, embedding). */
  def registerVectors(name: String, vecs: org.apache.spark.sql.DataFrame): Unit = {
    require(vecs.columns.contains("id") && vecs.columns.contains("embedding"),
      s"vector store needs (id, embedding) columns, got ${vecs.columns.mkString(",")}")
    vectorStores.put(name, vecs)
  }

  def vectors(name: String): org.apache.spark.sql.DataFrame =
    vectorStores.getOrElse(name,
      throw new NoSuchElementException(s"vector store not registered: $name"))

  def vectorStoreNames: Seq[String] = vectorStores.keys.toSeq.sorted
  def list: Seq[String] = graphs.keys.toSeq.sorted
  def sourcePath(name: String): Option[String] = sources.get(name)

  /** `lst` frontend verb: one row per registered graph —
    * (name, vcnt, ecnt, is_directed) — served from the catalog exactly
    * like the reference's metadb listing (`JasmineGraphFrontEnd.cpp`
    * `lst`: `SELECT idgraph, name, upload_path, graph_status_idgraph_status
    * FROM graph`); counts come from the graphs' cached catalog stats. */
  def lst(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graphs.toSeq.sortBy(_._1)
      .map { case (n, g) => (n, g.vertexCount, g.edgeCount, g.isDirected) }
      .toDF("name", "vcnt", "ecnt", "is_directed")
  }

  /** `ktop` command: distinct Kafka topic names across registered graphs
    * ingested from `kafka:<topic>` sources (reference
    * `kafka_topics_command`: `SELECT upload_path FROM graph WHERE
    * upload_path LIKE 'kafka:%'` → topic-name extraction). */
  def kafkaTopics: Seq[String] =
    sources.values.collect {
      case p if p.startsWith("kafka:") && p.length > 6 => p.substring(6)
    }.toSeq.distinct.sorted

  /** `truncate` command: drop a graph's data but keep it registered as an
    * empty graph (reference frontend `truncate`). */
  def truncate(name: String): PropertyGraph = {
    val g = apply(name)
    val empty = PropertyGraph(g.nodes.limit(0), g.edges.limit(0), g.isDirected)
    register(name, empty)
  }

  /** `merge` command: union another graph into `name` (nodes deduped by
    * id keeping the existing definition, edges appended). */
  def merge(name: String, other: PropertyGraph): PropertyGraph = {
    val g = apply(name)
    require(g.isDirected == other.isDirected, "cannot merge directed with undirected graph")
    val newNodes = other.nodes.join(g.nodes.select(col("id").as("__id")),
      col("id") === col("__id"), "left_anti")
    register(name, PropertyGraph(
      g.nodes.unionByName(newNodes),
      g.edges.unionByName(other.edges),
      g.isDirected))
  }
}
