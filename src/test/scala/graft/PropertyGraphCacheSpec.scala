package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.model.PropertyGraph
import graft.sources.TpchBridge

/** Resident graph caches are sized by bytes, not by source file splits. */
class PropertyGraphCacheSpec extends SparkSpec {

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions
  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Unpersists `g`'s frames and waits until their blocks are gone, so no
    * later test counts them in its storage baseline. */
  private def release(g: PropertyGraph): Unit = {
    g.nodes.unpersist(blocking = true)
    g.edges.unpersist(blocking = true)
  }

  test("cache() keeps every node and edge row") {
    val src = TpchBridge.bridgeGraph(spark, sf0001)
    val cached = TpchBridge.graph(spark, sf0001)
    assert(multiset(cached.nodes) === multiset(src.nodes))
    assert(multiset(cached.edges) === multiset(src.edges))
    assert(cached.nodes.storageLevel !== StorageLevel.NONE)
    assert(cached.edges.storageLevel !== StorageLevel.NONE)
  }

  test("the sf0.001 bridge graph caches in at most min(source partitions, " +
      "defaultParallelism) partitions") {
    val src = TpchBridge.bridgeGraph(spark, sf0001)
    val cached = TpchBridge.graph(spark, sf0001)
    val par = spark.sparkContext.defaultParallelism
    for ((s, c) <- Seq(src.nodes -> cached.nodes, src.edges -> cached.edges))
      assert(parts(c) <= math.min(parts(s), par), s"${parts(c)} vs source ${parts(s)}")
  }

  test("an empty graph caches to one partition") {
    val g = TpchBridge.bridgeGraph(spark, sf0001)
    val empty = PropertyGraph(g.nodes.limit(0), g.edges.limit(0), g.isDirected).cache()
    try {
      assert(parts(empty.nodes) === 1 && parts(empty.edges) === 1)
      assert(empty.nodes.count() === 0L && empty.edges.count() === 0L)
    } finally release(empty)
  }

  test("a frame with unknown size stats keeps its source partitioning") {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("label", StringType),
      StructField("properties", MapType(StringType, StringType))))
    val rdd = spark.sparkContext.parallelize(
      (1 to 70).map(i => Row(s"v$i", "", Map.empty[String, String])), 7)
    val nodes = spark.createDataFrame(rdd, schema)
    val edges = nodes.select(col("id").as("src"), col("id").as("dst"),
      lit("E").as("type"), col("properties"))
    val g = PropertyGraph(nodes, PropertyGraph.withEid(edges), isDirected = true).cache()
    try {
      assert(parts(g.nodes) === 7 && parts(g.edges) === 7)
      assert(g.nodes.count() === 70L)
    } finally release(g)
  }

  test("cache().unpersist() returns storage memory to its starting level") {
    def stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val before = stored
    val src = TpchBridge.bridgeGraph(spark, sf0001)
    // a derivation no other spec caches, so unpersisting it frees only
    // the blocks this test put there
    val g = PropertyGraph(src.nodes.where(col("label") === "Part"),
      src.edges.where(col("type") === "CONTAINS"), src.isDirected).cache()
    g.nodes.count(); g.edges.count()
    assert(stored > before)
    g.unpersist()
    assert(g.nodes.storageLevel === StorageLevel.NONE)
    assert(g.edges.storageLevel === StorageLevel.NONE)
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(stored === before)
    }
  }
}
