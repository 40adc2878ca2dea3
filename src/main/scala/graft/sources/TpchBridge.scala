package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.PropertyGraph

/**
 * Derives property graphs from the driver's TPC-H-ish parquet tables
 * (TESTDATA.md) so the same query surface the reference exposes over its
 * fixture graphs can be exercised — and oracle-checked in DuckDB — over
 * relational test data at any scale factor.
 *
 * Every derivation here has an exact SQL mirror in [[TpchBridge.sql]];
 * oracle queries are composed from those CTEs so Spark results and DuckDB
 * results are computed from identical inputs.
 *
 * Graph shape (directed):
 *   (:Customer {name, acctbal, mktsegment, nationkey})
 *   (:Supplier {name, acctbal, nationkey})
 *   (:Part     {name, brand, type, size, retailprice})
 *   (:Order    {status, totalprice, orderpriority})
 *   (:Nation   {name, regionkey})
 *   (c)-[:PLACED]->(o)      one per order
 *   (o)-[:CONTAINS {quantity, extendedprice}]->(p)  one per lineitem row
 *   (s)-[:SUPPLIES]->(p)    distinct supplier/part pairs from lineitem
 *   (c)-[:FROM]->(n), (s)-[:FROM]->(n)
 */
object TpchBridge {

  private val cache = scala.collection.concurrent.TrieMap.empty[String, PropertyGraph]
  private val undirCache = scala.collection.concurrent.TrieMap.empty[String, PropertyGraph]
  private val hashEdgeCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Drop cached bridge graphs — required after a SparkContext restart,
    * since the cached frames are bound to the dead session. */
  def invalidateCaches(): Unit = {
    cache.clear(); undirCache.clear(); hashEdgeCache.clear()
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private def props(pairs: (String, org.apache.spark.sql.Column)*) =
    map(pairs.flatMap { case (k, v) => Seq(lit(k), v.cast(StringType)) }: _*)

  /** The main directed bridge graph, cached + persisted per scale dir. */
  def graph(spark: SparkSession, sfDir: String): PropertyGraph =
    cache.getOrElseUpdate(sfDir, bridgeGraph(spark, sfDir).cache())

  /** [[graph]]'s derivation, uncached. */
  private[graft] def bridgeGraph(spark: SparkSession, sfDir: String): PropertyGraph = {
    val cust = table(spark, sfDir, "customer")
    val supp = table(spark, sfDir, "supplier")
    val part = table(spark, sfDir, "part")
    val ord = table(spark, sfDir, "orders")
    val li = table(spark, sfDir, "lineitem")
    val nat = table(spark, sfDir, "nation")

    def node(df: DataFrame, id: org.apache.spark.sql.Column, label: String,
             pp: (String, org.apache.spark.sql.Column)*) =
      df.select(id.as("id"), lit(label).as("label"), props(pp: _*).as("properties"))

    val nodes =
      node(cust, concat(lit("c"), col("c_custkey")), "Customer",
        "name" -> col("c_name"), "acctbal" -> col("c_acctbal"),
        "mktsegment" -> col("c_mktsegment"), "nationkey" -> col("c_nationkey"))
      .unionByName(node(supp, concat(lit("s"), col("s_suppkey")), "Supplier",
        "name" -> col("s_name"), "acctbal" -> col("s_acctbal"),
        "nationkey" -> col("s_nationkey")))
      .unionByName(node(part, concat(lit("p"), col("p_partkey")), "Part",
        "name" -> col("p_name"), "brand" -> col("p_brand"),
        "type" -> col("p_type"), "size" -> col("p_size"),
        "retailprice" -> col("p_retailprice")))
      .unionByName(node(ord, concat(lit("o"), col("o_orderkey")), "Order",
        "status" -> col("o_orderstatus"), "totalprice" -> col("o_totalprice"),
        "orderpriority" -> col("o_orderpriority")))
      .unionByName(node(nat, concat(lit("n"), col("n_nationkey")), "Nation",
        "name" -> col("n_name"), "regionkey" -> col("n_regionkey")))

    def edge(df: DataFrame, src: org.apache.spark.sql.Column, dst: org.apache.spark.sql.Column,
             typ: String, pp: (String, org.apache.spark.sql.Column)*) =
      df.select(src.as("src"), dst.as("dst"), lit(typ).as("type"), props(pp: _*).as("properties"))

    val edges =
      edge(ord, concat(lit("c"), col("o_custkey")), concat(lit("o"), col("o_orderkey")), "PLACED")
      .unionByName(edge(li,
        concat(lit("o"), col("l_orderkey")), concat(lit("p"), col("l_partkey")), "CONTAINS",
        "id" -> concat(col("l_orderkey"), lit("-"), col("l_linenumber")),
        "quantity" -> col("l_quantity"), "extendedprice" -> col("l_extendedprice")))
      .unionByName(edge(li.select(col("l_suppkey"), col("l_partkey")).distinct(),
        concat(lit("s"), col("l_suppkey")), concat(lit("p"), col("l_partkey")), "SUPPLIES"))
      .unionByName(edge(cust, concat(lit("c"), col("c_custkey")), concat(lit("n"), col("c_nationkey")), "FROM"))
      .unionByName(edge(supp, concat(lit("s"), col("s_suppkey")), concat(lit("n"), col("s_nationkey")), "FROM"))

    PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = true)
  }

  /**
   * Undirected companion graph: Customer and Supplier nodes, one stored
   * SAME_NATION edge per CUSTOMER to a deterministically-picked supplier
   * of its nation (rank = c_custkey mod the nation's supplier count,
   * suppliers ranked by key). Undirected relationship scans must emit
   * both orientations.
   *
   * The pick replaces the original full customer×supplier-per-nation
   * product, whose edge count grew QUADRATICALLY with scale factor —
   * the r11 100× spot probe caught it materializing ~6B rows (50 GiB of
   * cache spill) at sf10 where sf0.1 hid it at 600k. One edge per
   * customer keeps the fixture linear at every SF; the two-key
   * (nationkey, rank) equi-join against the broadcast per-nation counts
   * never forms the product even transiently.
   */
  def undirectedGraph(spark: SparkSession, sfDir: String): PropertyGraph =
    undirCache.getOrElseUpdate(sfDir, {
      val cust = table(spark, sfDir, "customer")
      val supp = table(spark, sfDir, "supplier")
      val nodes =
        cust.select(concat(lit("c"), col("c_custkey")).as("id"), lit("Customer").as("label"),
          props("name" -> col("c_name"), "nationkey" -> col("c_nationkey")).as("properties"))
        .unionByName(supp.select(concat(lit("s"), col("s_suppkey")).as("id"), lit("Supplier").as("label"),
          props("name" -> col("s_name"), "nationkey" -> col("s_nationkey")).as("properties")))
      import org.apache.spark.sql.expressions.Window
      val suppRanked = supp.select(col("s_suppkey"), col("s_nationkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("s_nationkey").orderBy("s_suppkey")) - 1)
      val nSup = supp.groupBy(col("s_nationkey").as("n_key"))
        .agg(count(lit(1)).as("n_sup"))
      val edges = cust
        .join(broadcast(nSup), col("c_nationkey") === col("n_key"))
        .select(col("c_custkey"), col("c_nationkey"),
          pmod(col("c_custkey"), col("n_sup")).as("pick"))
        .join(suppRanked,
          col("c_nationkey") === col("s_nationkey") && col("pick") === col("rn"))
        .select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("s"), col("s_suppkey")).as("dst"),
          lit("SAME_NATION").as("type"),
          map().cast(MapType(StringType, StringType)).as("properties"))
      PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = false).cache()
    })

  /**
   * Deterministic pseudo-random graph over 50k vertices derived from
   * lineitem — sparse enough for triangle counting at sf0.1 while being a
   * pure SQL-expressible derivation. ~1 edge per lineitem row.
   */
  def hashGraphEdges(spark: SparkSession, sfDir: String): DataFrame =
    hashEdgeCache.getOrElseUpdate(sfDir, {
      val li = table(spark, sfDir, "lineitem")
      val pairs = li.select(
          ((col("l_orderkey") * 7919 + col("l_linenumber")) % 50000).as("src"),
          ((col("l_partkey") * 104729 + col("l_suppkey")) % 50000).as("dst"))
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).cast(StringType).as("src"),
          greatest(col("src"), col("dst")).cast(StringType).as("dst"))
        .distinct()
      // persisted per scale dir like the bridge graphs: eight alg_*
      // queries consume this derivation — a resident service computes
      // the scan+distinct once, not per query
      PropertyGraph.rightSized(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  // ---------------------------------------------------------------------
  // SQL mirrors (DuckDB dialect ⊆ ANSI) of the derivations above, used to
  // compose oracle queries. Table names match the driver's registered
  // parquet views.
  // ---------------------------------------------------------------------
  object sql {
    val nodes: String =
      """nodes AS (
        |  SELECT 'c' || c_custkey AS id, 'Customer' AS label FROM customer
        |  UNION ALL SELECT 's' || s_suppkey, 'Supplier' FROM supplier
        |  UNION ALL SELECT 'p' || p_partkey, 'Part' FROM part
        |  UNION ALL SELECT 'o' || o_orderkey, 'Order' FROM orders
        |  UNION ALL SELECT 'n' || n_nationkey, 'Nation' FROM nation
        |)""".stripMargin

    val edges: String =
      """edges AS (
        |  SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS dst, 'PLACED' AS type FROM orders
        |  UNION ALL SELECT 'o' || l_orderkey, 'p' || l_partkey, 'CONTAINS' FROM lineitem
        |  UNION ALL SELECT DISTINCT 's' || l_suppkey, 'p' || l_partkey, 'SUPPLIES' FROM lineitem
        |  UNION ALL SELECT 'c' || c_custkey, 'n' || c_nationkey, 'FROM' FROM customer
        |  UNION ALL SELECT 's' || s_suppkey, 'n' || s_nationkey, 'FROM' FROM supplier
        |)""".stripMargin

    val sameNationEdges: String =
      """sn_edges AS (
        |  SELECT 'c' || c_custkey AS src, 's' || s_suppkey AS dst
        |  FROM customer
        |  JOIN (SELECT s_suppkey, s_nationkey,
        |          ROW_NUMBER() OVER (PARTITION BY s_nationkey
        |            ORDER BY s_suppkey) - 1 AS rn,
        |          COUNT(*) OVER (PARTITION BY s_nationkey) AS n_sup
        |        FROM supplier) s
        |    ON c_nationkey = s_nationkey AND c_custkey % n_sup = rn
        |)""".stripMargin

    val hashGraph: String =
      """hg AS (
        |  SELECT DISTINCT
        |    CAST(LEAST((l_orderkey * 7919 + l_linenumber) % 50000,
        |               (l_partkey * 104729 + l_suppkey) % 50000) AS VARCHAR) AS src,
        |    CAST(GREATEST((l_orderkey * 7919 + l_linenumber) % 50000,
        |                  (l_partkey * 104729 + l_suppkey) % 50000) AS VARCHAR) AS dst
        |  FROM lineitem
        |  WHERE (l_orderkey * 7919 + l_linenumber) % 50000
        |     <> (l_partkey * 104729 + l_suppkey) % 50000
        |)""".stripMargin
  }
}
