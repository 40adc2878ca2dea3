package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algorithms.GraphAlgorithms
import graft.pipeline.{BpeVocab, Dedup}
import graft.sparql.Sparql

/**
 * The one local-regime policy: `spark.graft.localRegimes=off` turns every
 * gate off, so the count-gated regimes take their distributed paths — a
 * different job sequence with the identical answer — on a multi-hop
 * graph and on hostile inputs (empty frames, self-loops with duplicate
 * edges, 64-bit ids).
 */
class LocalRegimeSwitchSpec extends SparkSpec {

  /** Rows as sorted strings: an order-free comparison. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  /** A path 1-2-3-4-5-6-7 (diameter 6) with the triangles 2-3-6 and 3-4-6. */
  private val hops = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (6L, 7L), (2L, 6L), (3L, 6L), (4L, 6L))

  private def stringEdges(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
  }

  /** 64-bit ids well past Int.MaxValue, same shape. */
  private def longEdges(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.map { case (a, b) => (5000000000L + a, 5000000000L + b) }.toDF("src", "dst")
  }

  private def weighted(e: DataFrame): DataFrame =
    e.withColumn("weight", pmod(xxhash64(col("src"), col("dst")), lit(9L)) + 1)

  /** The eleven regimes whose gate is a row count, each as a frame => rows. */
  private val graphRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "closeness" -> (e => rows(GraphAlgorithms.closenessCentrality(e, maxHops = 4))),
    "betweenness" -> (e => rows(GraphAlgorithms.betweennessCentrality(e, maxHops = 4))),
    "maximalIndependentSet" -> (e => rows(GraphAlgorithms.maximalIndependentSet(e))),
    "jpColoring" -> (e => rows(GraphAlgorithms.jpColoring(e))),
    "maximalMatching" -> (e => rows(GraphAlgorithms.maximalMatching(e))),
    "minimumSpanningForest" ->
      (e => rows(GraphAlgorithms.minimumSpanningForest(weighted(e)))),
    "kTruss" -> (e => rows(GraphAlgorithms.kTruss(e, k = 3, rounds = 5))),
    "eccentricity" -> (e => rows(GraphAlgorithms.eccentricity(e, maxHops = 8))),
    "fastRP" -> (e => rows(GraphAlgorithms.fastRP(e, dims = 3, iterations = 2))),
    "nearDupClusters" -> (e => rows(Dedup.nearDupClusters(
      e.select(col("src").as("idA"), col("dst").as("idB"))))))

  /** Documents derived from the edge list: one per edge, words from its ids. */
  private def bpe(e: DataFrame): Seq[String] =
    rows(BpeVocab.train(e.select(col("src").cast("long").as("doc_id"),
      concat_ws(" ", col("src").cast("string"), col("dst").cast("string"),
        lit("abab ab")).as("text")), "text", rounds = 4))

  private val regimes = graphRegimes :+ ("bpe" -> (bpe _))

  /** The smallest source id as a string ("1" on an empty frame). */
  private def seedOf(e: DataFrame): String =
    Option(e.agg(min(col("src"))).head().get(0)).fold("1")(_.toString)

  /** The edge list as `knows` triples, and a Kleene path from its
    * smallest subject (a constant endpoint) or between two variables. */
  private def kleene(e: DataFrame, constant: Boolean): Seq[String] = {
    val triples = e.select(col("src").cast("string").as("s"), lit("knows").as("p"),
      col("dst").cast("string").as("o"))
    val seed = seedOf(e)
    rows(Sparql.run(triples,
      if (constant) s"SELECT ?o WHERE { <$seed> <knows>+ ?o . }"
      else "SELECT ?s ?o WHERE { ?s <knows>+ ?o . }"))
  }

  /** The frontier and peel loops: local regime or distributed only by size. */
  private val loopRegimes: Seq[(String, DataFrame => Seq[String])] = Seq(
    "shortestPaths" -> (e => rows(GraphAlgorithms.shortestPaths(e, seedOf(e), maxHops = 4))),
    "weightedShortestPaths" -> (e => rows(GraphAlgorithms.weightedShortestPaths(
      weighted(e), seedOf(e), maxHops = 4))),
    "kCore" -> (e => rows(GraphAlgorithms.kCore(e, k = 2, rounds = 5))),
    // a DAG: the reverse duplicate (2, 1) would close a cycle
    "topologicalLevels" -> (e => rows(GraphAlgorithms.topologicalLevels(
      e.where(col("src") <= col("dst"))))),
    "kleene constant" -> (e => kleene(e, constant = true)),
    "kleene variable" -> (e => kleene(e, constant = false)))

  test("kill-switch: every count-gated regime takes its distributed path " +
      "with the switch off and returns the same rows") {
    val e = stringEdges(hops)
    val switchIgnored = regimes.filter { case (name, run) =>
      val (onJobs, on) = jobsDuring(run(e))
      val (offJobs, off) = withLocalRegimesOff(jobsDuring(run(e)))
      assert(off === on, name)
      assert(on.nonEmpty, name)
      // a regime that ignores the switch takes the same path, same jobs
      offJobs.length == onJobs.length
    }.map(_._1)
    assert(switchIgnored.isEmpty, "same jobs with the switch off")
  }

  test("kill-switch parity on hostile inputs: empty, self-loop + duplicate, 64-bit ids") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val loopDup = stringEdges(hops ++ Seq((3L, 3L), (1L, 2L), (2L, 1L)))
    val wide = longEdges(hops ++ Seq((5L, 5L), (4L, 5L)))
    for ((input, e) <- Seq("empty" -> empty, "self-loop + duplicate" -> loopDup,
        "64-bit ids" -> wide); (name, run) <- regimes ++ loopRegimes) {
      val on = run(e)
      val off = withLocalRegimesOff(run(e))
      assert(off === on, s"$name on $input")
    }
  }

  test("gates: with the switch off both gate shapes say no and launch no job") {
    // shuffled, so counting or collecting it launches jobs
    val df = spark.range(0, 50, 1, 4).repartition(3).toDF("id")
    val (onJobs, (rowsOn, countOn)) = jobsDuring(
      (GraphAlgorithms.collectRowsGated(df, 1000L), GraphAlgorithms.countGated(df, 1000L)))
    assert(rowsOn.map(_.length) === Some(50) && countOn && onJobs.nonEmpty)
    val (offJobs, (rowsOff, countOff)) = withLocalRegimesOff(jobsDuring(
      (GraphAlgorithms.collectRowsGated(df, 1000L),
        GraphAlgorithms.countGated(df, 1000L, bounded = true))))
    assert(rowsOff === None && !countOff)
    assert(offJobs.isEmpty)
    // a non-positive threshold is "never local", also without a job
    val (cutJobs, cut) = jobsDuring(GraphAlgorithms.countGated(df, 0L))
    assert(!cut && cutJobs.isEmpty)
  }
}
