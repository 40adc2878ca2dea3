package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Runs `body` with every local regime switched off
    * (`spark.graft.localRegimes=off`), so each operator takes its
    * distributed path. Gates read the switch when they run, so collect
    * inside the block. */
  def withLocalRegimesOff[T](body: => T): T = {
    spark.conf.set("spark.graft.localRegimes", "off")
    try body finally spark.conf.unset("spark.graft.localRegimes")
  }

  /** The Spark jobs `body` launches, each as the call site of the action
    * that launched it ("collect at X.scala:N"), with its result. A marker
    * job drains the listener queue, which delivers in order. */
  def jobsDuring[T](body: => T): (Seq[String], T) = {
    val (jobs, result) = jobShapesDuring(body)
    (jobs.map(_._1), result)
  }

  /** [[jobsDuring]] with, for each job, whether it ran a shuffle map
    * stage (a skipped one, whose output a cache or an earlier job already
    * holds, does not count). */
  def jobShapesDuring[T](body: => T): (Seq[(String, Boolean)], T) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // a Dataset action runs its jobs on another thread, so their own call
    // site is that thread's; the SQL execution keeps the action's
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, (String, Seq[Int]))]()
    val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val own = js.stageInfos.sortBy(-_.stageId).headOption.fold("")(_.name)
        val site = Option(js.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(sqlSites.get(id))).getOrElse(own)
        jobs.add((Option(js.properties.getProperty("spark.job.tags")).getOrElse(""),
          (site, js.stageInfos.filter(org.apache.spark.sql.GraftTestAccess.isShuffleStage)
            .map(_.stageId))))
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        submitted.add(s.stageInfo.stageId)
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag("jobs-during")
      val result = try body finally sc.removeJobTag("jobs-during")
      sc.addJobTag("jobs-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag("jobs-marker")
      eventually(timeout(30.seconds)) {
        assert(jobs.asScala.exists(_._1.contains("jobs-marker")))
      }
      (jobs.asScala.toSeq.collect { case (tags, (site, shuffles)) if tags.contains("jobs-during") =>
          (site, shuffles.exists(submitted.contains)) },
        result)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
