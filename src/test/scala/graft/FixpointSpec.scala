package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algorithms.{Fixpoint, GraphAlgorithms}
import graft.pipeline.Dedup

/**
 * The fixpoint driver: the row count observed in a checkpoint's own job
 * equals `count()`, `run` stops after the first empty delta or at its
 * round cap, and the migrated loops launch fewer jobs than a checkpoint
 * followed by a separate count or emptiness job per round.
 */
class FixpointSpec extends SparkSpec {

  test("materialize: the observed count equals count() and the rows are kept") {
    val shuffled = spark.range(0, 100, 1, 4).repartition(3).toDF("id")
    val empty = shuffled.where(col("id") < 0)
    val zeroPartitions = spark.emptyDataFrame.select(lit(1).as("id"))
    assert(zeroPartitions.rdd.getNumPartitions === 0)
    for ((name, df) <- Seq("non-empty" -> shuffled, "filtered to empty" -> empty,
        "zero partitions" -> zeroPartitions, "empty by plan" -> shuffled.limit(0))) {
      val (cp, n) = Fixpoint.materialize(df)
      assert(n === df.count(), name)
      def ids(d: DataFrame): Seq[Long] =
        d.collect().toSeq.map(_.getAs[Number](0).longValue).sorted
      assert(ids(cp) === ids(df), name)
    }
  }

  test("observed: several metrics of the checkpointed rows in one job") {
    val df = spark.range(0, 10, 1, 2).toDF("id")
    val (jobs, (_, r)) = jobsDuring(
      Fixpoint.observed(df, count(lit(1)), sum(col("id")), max(col("id"))))
    assert(r.getLong(0) === 10L && r.getLong(1) === 45L && r.getLong(2) === 9L)
    assert(jobs.length === 1, jobs.mkString("\n"))
  }

  test("run: stops after the first empty delta, honours maxRounds, reports rounds") {
    // the delta of round r holds the ids below 3 - r: rounds 1 and 2 are
    // non-empty, round 3 is empty
    def countdown(maxRounds: Int): (Seq[Long], Int) = {
      val (seen, rounds) = Fixpoint.run(Seq.empty[Long], maxRounds) { (seen, r) =>
        Fixpoint.Round(spark.range(0, 5).toDF("id").where(col("id") < 3 - r))(
          (delta, n) => seen :+ n)
      }
      (seen, rounds)
    }
    assert(countdown(10) === ((Seq(2L, 1L, 0L), 3)))
    assert(countdown(2) === ((Seq(2L, 1L), 2)))
    assert(countdown(0) === ((Nil, 0)))
    // a delta predicate counts only the rows it marks
    val (n, rounds) = Fixpoint.run(-1L, 5) { (_, _) =>
      Fixpoint.Round(spark.range(0, 10).toDF("id"), col("id") >= 10)((_, n) => n)
    }
    assert(n === 0L && rounds === 1)
  }

  /** A path 1-2-3-4-5-6-7 (diameter 6) with the triangles 2-3-6 and 3-4-6,
    * every edge from the smaller id, so it is also a DAG. */
  private def hops: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (2L, 6L),
      (3L, 6L), (4L, 6L)).map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")
  }

  /** Each loop's jobs with the local regimes off, capped at the count
    * measured with the driver; with a checkpoint plus a count or an
    * emptiness job per round they were 31, 17, 30, 70 and 40. */
  test("job guard: the migrated loops launch fewer jobs than a count per round") {
    val e = hops
    val ops: Seq[(String, Int, () => Any)] = Seq(
      ("shortestPaths", 21, () => GraphAlgorithms.shortestPaths(e, "1").collect()),
      ("kCore", 11, () => GraphAlgorithms.kCore(e, k = 2, rounds = 5).collect()),
      ("maximalIndependentSet", 25, () => GraphAlgorithms.maximalIndependentSet(e).collect()),
      ("topologicalLevels", 51, () => GraphAlgorithms.topologicalLevels(e).collect()),
      ("nearDupClusters", 32, () => Dedup.nearDupClusters(
        e.select(col("src").as("idA"), col("dst").as("idB"))).collect()))
    val over = ops.flatMap { case (name, cap, run) =>
      val (jobs, _) = withLocalRegimesOff(jobsDuring(run()))
      if (jobs.length > cap) Some(s"$name: ${jobs.length} > $cap\n  " + jobs.mkString("\n  "))
      else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
