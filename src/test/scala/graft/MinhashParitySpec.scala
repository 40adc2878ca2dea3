package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/**
 * Shingle sets and MinHash near-duplicate pairs: the one-pass shingle-set
 * expression against the explode-and-distinct posting it stands for, and
 * `minhashPairs` / `crossMinhashPairs` against a plain-Scala replay of the
 * LSH contract (a band collides when its signature slice is equal, the
 * agreement prefilter, exact shingle-set Jaccard rounded to 6 places) on
 * planted corpora, with the switch on (the driver replay) and off; and
 * the job shapes of both paths.
 */
class MinhashParitySpec extends SparkSpec {

  lazy val docs: DataFrame = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text")).cache()

  private val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")

  /** The posting formulation: one row per distinct (id, xxhash64 of a
    * k-character window of the normalized text). */
  private def posting(df: DataFrame, k: Int): DataFrame =
    df.select(col("doc_id").as("id"), norm.as("norm"))
      .where(length(col("norm")) >= k)
      .select(col("id"), col("norm"),
        explode(sequence(lit(0), length(col("norm")) - k)).as("pos"))
      .select(col("id"), xxhash64(col("norm").substr(col("pos") + 1, lit(k))).as("shingle"))
      .distinct()

  test("shingleSet expression equals the distinct (id, shingle) posting") {
    import spark.implicits._
    val edge = Seq(
      (1L, "héllo wörld héllo wörld"), // multi-byte UTF-8, repeated shingles
      (2L, "abcd"), (3L, ""), (4L, "ab€cd€ef"), (5L, "aaaaaaaaaaaa"),
      (6L, "  Foo   BAR\tbaz \n qux  "), (7L, "abcde"), (8L, "日本語のテキスト"))
      .toDF("doc_id", "text")
    for (corpus <- Seq(docs, edge); k <- Seq(3, 5)) {
      val sets = corpus.select(col("doc_id").as("id"), graft.functions.shingleSet(norm, k).as("s"))
      val got = sets.where(col("s").isNotNull).select(col("id"), explode(col("s")).as("shingle"))
      val want = posting(corpus, k)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"k = $k")
      // sorted ascending, no repeats; NULL exactly when shorter than k
      sets.collect().foreach { r =>
        if (!r.isNullAt(1)) {
          val s = r.getSeq[Long](1)
          assert(s.nonEmpty && s.sliding(2).forall(p => p.length < 2 || p(0) < p(1)), s"id ${r.get(0)}")
        }
      }
      val nulls = sets.where(col("s").isNull).select("id").as[Long].collect().toSet
      val short = corpus.where(length(norm) < k).select("doc_id").as[Long].collect().toSet
      assert(nulls === short, s"k = $k")
    }
  }

  /** Plain-Scala replay of the pair contract over (id, text) rows. */
  private def reference(a: DataFrame, b: Option[DataFrame], threshold: Double,
                        k: Int = 5, numHashes: Int = 64, bands: Int = 16,
                        margin: Double = 0.25): Seq[(Long, Long, Double)] = {
    def load(df: DataFrame): Seq[(Long, Array[Long], Set[String])] =
      df.select(col("doc_id"), Dedup.minhashSigCol("text", k, numHashes).as("sig"), norm.as("n"))
        .where(col("sig").isNotNull).collect().toSeq.map { r =>
          val cps = r.getString(2).codePoints().toArray
          (r.getLong(0), r.getSeq[Long](1).toArray,
            (0 to cps.length - k).map(p => new String(cps, p, k)).toSet)
        }
    val left = load(a)
    val pairs = b match {
      case None => for (x <- left; y <- left if x._1 < y._1) yield (x, y)
      case Some(df) => val right = load(df); for (x <- left; y <- right) yield (x, y)
    }
    val rows = numHashes / bands
    val minAgree = math.ceil((threshold - margin) * numHashes)
    pairs.flatMap { case ((ia, sa, ta), (ib, sb, tb)) =>
      val collides = (0 until bands).exists(bd =>
        (bd * rows until (bd + 1) * rows).forall(i => sa(i) == sb(i)))
      val agree = sa.indices.count(i => sa(i) == sb(i))
      val inter = (ta intersect tb).size
      val j = inter.toDouble / (ta.size + tb.size - inter).toDouble
      if (collides && agree >= minAgree && j >= threshold)
        Some((ia, ib, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.sorted
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted

  /** `n` copies of the first docs with one or two words replaced. */
  private def edited(n: Int, idShift: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    docs.orderBy("doc_id").limit(n).collect().toSeq.map { r =>
      val words = r.getString(1).split(" ")
      for (_ <- 0 until 1 + rnd.nextInt(2)) words(rnd.nextInt(words.length)) = "zzz"
      (r.getLong(0) + idShift, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("minhashPairs and crossMinhashPairs return the reference rows on planted corpora") {
    val base5 = docs.orderBy("doc_id").limit(5)
    val exact = base5.unionByName(base5.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val planted = docs.orderBy("doc_id").limit(40).unionByName(edited(12, 1000000))
    for ((corpus, t, name) <- Seq((exact, 0.9, "exact copies"), (planted, 0.8, "edited copies"))) {
      val want = reference(corpus, None, t)
      assert(want.nonEmpty, name)
      assert(triples(Dedup.minhashPairs(corpus, "text", "doc_id", threshold = t)) === want, name)
      assert(withLocalRegimesOff(triples(Dedup.minhashPairs(corpus, "text", "doc_id",
        threshold = t))) === want, s"$name, switch off")
      assert(triples(Dedup.minhashPairs(corpus, "text", "doc_id", threshold = t, eager = false)) === want,
        s"$name, lazy")
      spark.sharedState.cacheManager.clearCache()
      docs.count()
    }
    val corpus = docs.orderBy("doc_id").limit(40)
    val bench = docs.orderBy("doc_id").limit(3).select((col("doc_id") + 5000000).as("doc_id"), col("text"))
      .unionByName(edited(8, 5000000).where(col("doc_id") >= 5000003))
    for (t <- Seq(0.9, 0.8)) {
      val want = reference(corpus, Some(bench), t)
      assert(want.nonEmpty)
      assert(triples(Dedup.crossMinhashPairs(corpus, bench, "text", "doc_id", threshold = t)) === want,
        s"cross, threshold $t")
      assert(withLocalRegimesOff(triples(Dedup.crossMinhashPairs(corpus, bench, "text", "doc_id",
        threshold = t))) === want, s"cross, threshold $t, switch off")
    }
  }

  test("eager minhashPairs launches at most 10 jobs (18 with a posting-join verify)") {
    val corpus = docs.orderBy("doc_id").limit(40).unionByName(edited(12, 1000000))
      .localCheckpoint(true)
    val (jobs, out) = withLocalRegimesOff(jobsDuring(
      Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.8).collect()))
    assert(out.nonEmpty)
    assert(jobs.size <= 10, jobs.mkString("\n"))
  }

  test("with the switch on, minhashPairs launches at most 3 jobs and simhashPairs 2, " +
      "no shuffle, nothing cached") {
    import org.apache.spark.sql.GraftTestAccess.cachedPlans
    // two partitions: Spark's limit runs the probe collect as one job per
    // partition it scans (the other gates' guards allow that too), so the
    // probe counts as one collect action, all its jobs at one call site
    val corpus = docs.orderBy("doc_id").limit(40).unionByName(edited(12, 1000000))
      .localCheckpoint(true)
    val calls: Seq[(String, Int, () => Array[org.apache.spark.sql.Row])] = Seq(
      ("minhashPairs", 3, () => Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.8).collect()),
      ("simhashPairs", 2, () => Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 3).collect()))
    for ((name, bound, call) <- calls) {
      val cached = cachedPlans(spark)
      val (jobs, out) = jobShapesDuring(call())
      val (probe, rest) = jobs.partition(_._1.startsWith("collect at GraphAlgorithms"))
      assert(out.nonEmpty, name)
      assert(probe.nonEmpty && probe.map(_._1).distinct.size == 1 && rest.size <= bound - 1 &&
        jobs.forall(!_._2), s"$name:\n${jobs.mkString("\n")}")
      assert(cachedPlans(spark) === cached, name)
    }
  }

  test("the candidate-document semi-join shuffles no document text") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val corpus = docs.orderBy("doc_id").limit(40).unionByName(edited(12, 1000000))
      .localCheckpoint(true)
    val bench = corpus.where(col("doc_id") >= 1000000).localCheckpoint(true)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.add((action, qe.executedPlan))
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the distributed path: the driver replay runs no semi-join
    try withLocalRegimesOff {
      assert(Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.8).count() > 0)
      assert(Dedup.crossMinhashPairs(corpus, bench, "text", "doc_id", threshold = 0.8)
        .count() > 0)
      spark.range(1).toDF("marker").collect()
      // the listener bus delivers in order: the marker's plan comes last
      eventually(timeout(30.seconds)) {
        assert(plans.asScala.exists(_._2.output.exists(_.name == "marker")))
      }
    } finally spark.listenerManager.unregister(listener)
    val helper = new AdaptiveSparkPlanHelper {}
    val semiJoins = plans.asScala.toSeq.flatMap { case (_, plan) =>
      helper.collect(plan) { case j: BaseJoinExec if j.joinType == LeftSemi => j }
    }
    // the eager self-join pipeline and both sides of the cross pipeline
    assert(semiJoins.size >= 3)
    val textShuffles = semiJoins.flatMap(j => helper.collect(j) {
      case x: ShuffleExchangeLike if x.output.exists(_.name == "text") => x
    })
    assert(textShuffles.isEmpty, textShuffles.mkString("\n"))
  }
}
