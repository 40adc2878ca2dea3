package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.algorithms.GraphAlgorithms
import graft.model.PropertyGraph

/**
 * Incremental triangle counting over an edge stream — the reference's
 * `strian` (`src/query/algorithms/triangles/StreamingTriangles.cpp`):
 * rather than recounting the whole graph per update, only triangles
 * *closed by new edges* are counted each micro-batch and added to a
 * running total.
 *
 * Per batch with accumulated canonical edge set E and batch delta D
 * (D disjoint from E):
 *   ΔT = tri(E ∪ D) − tri(E)
 *      = (# triangles with ≥1 edge in D)
 *      = join(D, E, E) + join(D, D, E) + join(D, D, D)   [by which sides
 *        of the triangle are new — computed as one 3-way join over
 *        (E ∪ D) requiring at least one D edge]
 *
 * The accumulated edge set is kept as a localCheckpointed DataFrame so
 * lineage stays O(1); at cluster scale this would be a Delta/parquet
 * compact-on-write table instead — the plan shape is identical.
 */
final class StreamingTriangles(spark: SparkSession,
                               localThreshold: Long = 2000000L,
                               opsBudgetPerBatch: Long = 20000000L) {

  @volatile private var accumulated: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("src", "dst")
  }
  @volatile private var total: Long = 0L

  // Adaptive local regime (the batch operators' fastRP/BLP pattern, and
  // the reference's own posture — StreamingTriangles.cpp updates a
  // driver-side store per edge): below the gate the canonical pair set
  // and adjacency live on the driver and each batch costs ONE gated
  // collect of its (distributed-computed) canonical delta, with ΔT
  // counted by sequential insertion — per new edge, |N(a) ∩ N(b)| over
  // the current adjacency, which telescopes to exactly
  // tri(E ∪ D) − tri(E), the integer the 3-case join counts. Once the
  // store outgrows the gate the class switches permanently to the
  // distributed ΔT joins; `accumulated` is materialized lazily so the
  // local regime never pays a per-batch O(|store|) rebuild.
  private var localAdj: scala.collection.mutable.HashMap[String,
    scala.collection.mutable.HashSet[String]] = scala.collection.mutable.HashMap.empty
  private var localPairs: scala.collection.mutable.HashSet[(String, String)] =
    scala.collection.mutable.HashSet.empty
  private var localMode = true
  private var accumulatedStale = false

  private def materializeAccumulated(): Unit = if (accumulatedStale) {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("src", StringType),
      StructField("dst", StringType)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](localPairs.size)
    localPairs.foreach { case (a, b) =>
      rows.add(org.apache.spark.sql.Row(a, b)) }
    accumulated = spark.createDataFrame(rows, schema)
    accumulatedStale = false
  }

  def currentCount: Long = total
  // synchronized on the same monitor as addBatch: materializeAccumulated
  // mutates accumulated/accumulatedStale and iterates localPairs, and
  // localMode/localPairs are plain fields mutated by the streaming
  // foreachBatch thread — an unsynchronized poll during ingestion could
  // hit a ConcurrentModificationException or stale state.
  def edgeCount: Long = synchronized {
    if (localMode) localPairs.size.toLong
    else { materializeAccumulated(); accumulated.count() }
  }

  /** Ingest one batch of raw (src,dst) edges; returns the new total. */
  def addBatch(rawEdges: DataFrame): Long = synchronized {
    val canonical = PropertyGraph.canonicalUndirected(
      rawEdges.select(col("src").cast(StringType).as("src"),
        col("dst").cast(StringType).as("dst")))
    if (localMode) {
      GraphAlgorithms.collectRowsGated(canonical, localThreshold) match {
        case Some(rows) if GraphAlgorithms.localRowCap(spark, localThreshold)
            .exists(localPairs.size + rows.length <= _) =>
          // intersection-work budget: sequential insertion costs
          // Σ min(deg a, deg b) per batch — O(|batch|) on sparse graphs
          // but O(|batch|·deg) on dense ones, where the distributed
          // 3-case join wins on cores. Exceeding the budget mid-batch
          // switches to the joins for the REST of the batch (and every
          // later one): inserted edges are already in the store, so the
          // distributed anti-join skips exactly them — ΔT stays exact.
          var opsBudget = opsBudgetPerBatch
          var i = 0
          while (i < rows.length && opsBudget > 0) {
            val r = rows(i)
            val a = r.getString(0); val b = r.getString(1)
            if (!localPairs.contains((a, b))) {
              localPairs += ((a, b))
              val na = localAdj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty)
              val nb = localAdj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty)
              val (small, big) = if (na.size <= nb.size) (na, nb) else (nb, na)
              total += small.count(big.contains)
              opsBudget -= math.max(1L, small.size.toLong)
              na += b; nb += a
            }
            i += 1
          }
          accumulatedStale = true
          if (i >= rows.length) return total
          // budget exhausted: hand the remainder to the distributed joins
          // (the rebuilt store contains the inserted edges, so the
          // anti-join below excludes exactly them)
          materializeAccumulated()
          localMode = false
        case _ =>
          // the store (or this batch) outgrew the gate — switch to the
          // distributed ΔT joins for this and every later batch
          materializeAccumulated()
          localMode = false
      }
    }
    val delta = canonical
      .join(accumulated.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
      .localCheckpoint(true)

    if (!delta.isEmpty) {
      total += StreamingTriangles.deltaTriangles(delta, accumulated).count()
      accumulated = accumulated.unionByName(delta).localCheckpoint(true)
    }
    total
  }

  /** Full recount for drift checking (the reference periodically recounts
    * on the native store; we can assert ΔT bookkeeping exactly). */
  def recount(): Long = synchronized {
    materializeAccumulated()
    GraphAlgorithms.triangleCount(accumulated)
  }

  /** Attach to a streaming edge-record source (see [[EdgeStream]]). */
  def listen(records: DataFrame, checkpoint: String): StreamingQuery =
    records.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          addBatch(batch.select(col("source.id").as("src"), col("destination.id").as("dst")))
        ()
      }
      .start()
}

object StreamingTriangles {

  /**
   * ΔT = tri(E ∪ D) − tri(E) as a DataFrame of the closing (a,b,c)
   * triples, decomposed by the FIRST triangle edge that is new so the
   * three cases are disjoint AND every join chain is anchored on the
   * delta:
   *
   *   e1=(a,b) e2=(b,c) e3=(a,c) over canonical a<b<c edges,
   *   case1: e1∈D, e2∈U, e3∈U     — D ⋈ U ⋈ U
   *   case2: e1∈E, e2∈D, e3∈U     — D ⋈ E ⋈ U
   *   case3: e1∈E, e2∈E, e3∈D     — D ⋈ E ⋈ E
   *
   * Each chain's first join has D as a side, so per-batch intermediate
   * size is O(|D|·deg), never O(|E|·deg) — the whole point of the
   * reference's incremental formula (StreamingTriangles.cpp:287-325):
   * batch cost scales with the delta, not the accumulated graph.
   */
  private[streaming] def deltaTriangles(delta: DataFrame, acc: DataFrame): DataFrame = {
    val u = acc.unionByName(delta)
    def e(df: DataFrame, c1: String, c2: String): DataFrame =
      df.select(col("src").as(c1), col("dst").as(c2))
    val case1 = e(delta, "a", "b")
      .join(e(u, "b", "c"), Seq("b"))
      .join(e(u, "a", "c"), Seq("a", "c"))
    val case2 = e(delta, "b", "c")
      .join(e(acc, "a", "b"), Seq("b"))
      .join(e(u, "a", "c"), Seq("a", "c"))
    val case3 = e(delta, "a", "c")
      .join(e(acc, "a", "b"), Seq("a"))
      .join(e(acc, "b", "c"), Seq("b", "c"))
    case1.select("a", "b", "c")
      .unionByName(case2.select("a", "b", "c"))
      .unionByName(case3.select("a", "b", "c"))
  }
}
