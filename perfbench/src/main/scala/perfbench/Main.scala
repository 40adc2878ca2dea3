package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.TpchBridge

/** The benchmark harness. One run: set up the workload three times on a
  * fresh session (the median is `setup_s`), run [[Main.WarmupRounds]]
  * untimed rounds to warm caches and the JIT, then time rounds of ops in a closed loop with one
  * client for at least `--seconds` and at least [[Main.MinRounds]] rounds,
  * always finishing the round in progress. Every op's result is checked;
  * the last stdout line is the JSON result.
  *
  *   perfbench.Main --workload interactive --seed 1 --seconds 10 --trace 0
  *     [--work DIR] [--spans FILE] [--gap 1] [--warmup ROUNDS]
  */
object Main {
  val SetupRepeats = 3
  /** Scale factor of the base tables: every op is bound by fixed costs
    * here, so a larger scale would only lengthen set-up. */
  val Scale = 0.005
  /** Timed rounds per run at least, whatever `--seconds` says: a host
    * slowdown of a few seconds then moves each op's median by half of
    * what it costs the round it hits, not all of it. */
  val MinRounds = 2
  /** Untimed rounds before the timed loop. On a 4-core VM the first round
    * of `analytics` runs ~2.3x and the second ~1.5x slower than the third
    * and later ones while the JIT compiles; a round timed before that
    * settles reads however far the compiler got. */
  val WarmupRounds = 2

  final case class Sample(kind: String, layer: String, seconds: Double, ok: Boolean, spans: Seq[Span],
                          rows: Long)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    // "all" runs every workload in turn (the class-data sharing archive
    // is recorded from such a run, so it holds every class a run loads)
    val names = args.get("workload") match {
      case Some("all") => Workloads.Names
      case Some(w) => Seq(w)
      case None => sys.error("--workload is required")
    }
    names.foreach(w => println(run(args + ("workload" -> w))))
  }

  /** One benchmark run; returns the JSON result line. */
  def run(args: Map[String, String]): String = {
    val workloadName = args("workload")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val workDir = Paths.get(args.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val dataDir = workDir.getParent.resolve(s"data-v2-sf$Scale")
    require(Workloads.Names.contains(workloadName), s"unknown workload $workloadName")

    val data = Data.generate(Scale)
    val inputs = new Inputs(seed, data)
    val workload = Workloads(workloadName, data, inputs, dataDir, workDir)
    val tracer = new Tracer(trace)
    ensureData(data, dataDir, workDir)

    // ---- set-up, three times; the last session is the one measured ----
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val buildSpans = mutable.ArrayBuffer.empty[Seq[Span]]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      if (spark != null) { workload.teardown(); stop(spark) }
      System.gc()
      val before = tracer.spans.length
      val t0 = System.nanoTime()
      spark = Session.start(workDir)
      tracer.attach(spark)
      workload.setup(spark, tracer)
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: setup $i ${setupTimes.last}%8.3f s")
      tracer.settle()
      buildSpans += tracer.spans.drop(before).filter(_.name == "sources.build").toSeq
    }
    val residentBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

    // ---- warm-up rounds, then the timed closed loop --------------------
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def execute(op: Op): Sample = {
      if (spark.sparkContext.isStopped) {
        // a fatal error stopped the context: rebuild, untimed, and go on
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        TpchBridge.invalidateCaches()
        spark = Session.start(workDir)
        tracer.attach(spark)
        workload.setup(spark, tracer)
      }
      val before = tracer.spans.length
      val (secs, outcome, failure) = Op.attempt(op, tracer)
      attempted += 1
      failure.foreach { f => failed += 1; failures += s"${op.kind}: $f" }
      System.err.println(f"perfbench: op ${op.kind}%-22s $secs%8.3f s ${if (failure.isEmpty) "ok" else "FAILED"}")
      Sample(op.kind, op.layer, secs, failure.isEmpty, tracer.spans.drop(before).toSeq,
        outcome.fold(0L)(_.fp.rows))
    }
    for (_ <- 1 to args.get("warmup").fold(WarmupRounds)(_.toInt)) {
      System.gc()
      workload.round().foreach(execute)
    }
    if (args.get("gap").contains("1")) {
      val table = gapTable(workload, tracer)
      workload.teardown(); stop(spark); Session.cleanWork(workDir)
      return table
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val window0 = System.nanoTime()
    var rounds = 0
    while (rounds < MinRounds || (System.nanoTime() - window0) / 1e9 < seconds) {
      // collect between rounds, outside the timings, so no round pays for
      // an earlier round's garbage (graft.Bench does the same per query)
      System.gc()
      workload.round().foreach(op => samples += execute(op))
      rounds += 1
    }
    workload.finalChecks().foreach { case (name, ok) =>
      attempted += 1
      if (!ok) { failed += 1; failures += s"final check $name failed" }
    }

    val wall = Metrics.wall(samples.toSeq)
    val storageMax = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    System.err.println(f"perfbench: wall_s $wall%.3f cached ${residentBytes / 1048576.0}%.2f MiB " +
      f"of ${storageMax / 1048576.0}%.0f MiB storage memory")
    val metrics =
      if (!trace) Metrics.endToEnd(setupTimes.toSeq, residentBytes, samples.toSeq, attempted, failed)
      else Metrics.perLayer(workload, tracer, buildSpans.toSeq, samples.toSeq, spark)
    args.get("spans").foreach { f =>
      Files.write(Paths.get(f), tracer.toJsonLines.getBytes("UTF-8"))
    }
    failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    workload.teardown()
    stop(spark)
    Session.cleanWork(workDir)
    Metrics.resultLine(failed == 0, attempted, failed, metrics)
  }

  /** For every whole-dataset op of one round, the median of three
    * `count()` timings against the median of three full-result timings
    * (every column written to the `noop` sink), taken in the same run. */
  private def gapTable(workload: Workload, t: Tracer): String = {
    def median3(f: => Unit): Double = Stats.median(Seq.fill(3) {
      System.gc()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
    val rows = workload.round().flatMap(op => op.frame.map { frame =>
      val counted = median3(frame(t).count())
      val full = median3(Fingerprint.ofFullResult(frame(t)))
      f"| ${op.kind} | $counted%.3f | $full%.3f | ${full / counted}%.2f |"
    })
    ("| op | count() s | full result s | full / count |" +: "|---|---:|---:|---:|" +: rows).mkString("\n")
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    TpchBridge.invalidateCaches()
  }

  /** Write the base tables once per checkout; a marker file makes a
    * half-written directory count as missing. */
  private def ensureData(data: Data, dataDir: Path, workDir: Path): Unit =
    if (!Files.exists(dataDir.resolve("_COMPLETE"))) {
      val spark = Session.start(workDir)
      try data.writeParquet(spark, dataDir) finally stop(spark)
    }
}

/** The session posture of `graft.Bench`: local[nproc], AQE with 256
  * initial shuffle partitions coalesced down, periodic GC for checkpoint
  * blocks, UTC. Spark's scratch space stays inside the work directory. */
object Session {
  def start(workDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    Files.createDirectories(workDir)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // graft.Bench plans 256 partitions; at 256 every shuffle costs ~1 s
      // whatever the data size, which the run budget cannot afford
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (4 * cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cleanWork(workDir: Path): Unit = if (Files.exists(workDir)) {
    val s = Files.walk(workDir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
