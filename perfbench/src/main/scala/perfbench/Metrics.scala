package perfbench

import org.apache.spark.sql.SparkSession

import perfbench.Main.Sample

/** Turns a run's samples into the metrics of BENCHMARK.json. */
object Metrics {

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "wall_s" -> "s", "ok_ops_ratio" -> "ratio", "resident_cache_mb" -> "MiB",
    "exec.s" -> "s",
    "streaming.edges_per_s" -> "1/s", "streaming.store_bytes_per_input_byte" -> "ratio")

  private def median0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** End-to-end metrics: every workload reports all four. `wall_s` is one
    * round's time as the sum over the round's op kinds of each kind's
    * median latency across the timed rounds. */
  def endToEnd(setups: Seq[Double], residentBytes: Long, samples: Seq[Sample],
               attempted: Long, failed: Long): Map[String, Double] = Map(
    "setup_s" -> Stats.median(setups),
    "wall_s" -> wall(samples),
    "ok_ops_ratio" -> (attempted - failed).toDouble / attempted,
    "resident_cache_mb" -> residentBytes / 1048576.0)

  def wall(samples: Seq[Sample]): Double =
    samples.groupBy(_.kind).values.map(s => Stats.median(s.map(_.seconds))).sum

  /** Per-layer metrics: the median per op of each layer's span time and
    * Spark counts, over the ops that entered the layer (0 when none did). */
  def perLayer(w: Workload, t: Tracer, builds: Seq[Seq[Span]], samples: Seq[Sample],
               spark: SparkSession): Map[String, Double] = {
    def spanTimes(name: String) = samples.flatMap(_.spans.filter(_.name == name).map(_.seconds))
    def spanCount(name: String)(f: ExecCounts => Long) =
      samples.flatMap(_.spans.filter(_.name == name).map(s => f(t.countsOf(s)).toDouble))
    def perOp(f: Sample => Double) = median0(samples.map(f))
    /** Spark counts of every span of one op (root and layer calls). */
    def opCounts(s: Sample)(f: ExecCounts => Long): Double =
      s.spans.map(sp => f(t.countsOf(sp))).sum.toDouble
    def scanned(layerName: String): Double = median0(samples.filter(_.layer == layerName).flatMap { s =>
      s.spans.headOption.map { sp =>
        t.queries.getOrElse(sp.op, Nil).map(PlanScans.rowsScanned).sum.toDouble / math.max(1L, s.rows)
      }
    })
    def catalyst(phase: String) = perOp { s =>
      s.spans.headOption.map(sp => t.queries.getOrElse(sp.op, Nil)
        .map(qe => PlanScans.phases(qe).getOrElse(phase, 0.0)).sum).getOrElse(0.0)
    }
    Map(
      "sources.build_s" -> median0(builds.map(_.map(_.seconds).sum)),
      "sources.build_jobs" -> median0(builds.map(_.map(b => t.countsOf(b).jobs.toDouble).sum)),
      "cypher.parse_s" -> median0(spanTimes("cypher.parse")),
      "cypher.plan_s" -> median0(spanTimes("cypher.plan")),
      "cypher.plan_jobs" -> median0(spanCount("cypher.plan")(_.jobs)),
      "cypher.rows_scanned_per_row" -> scanned("cypher"),
      "sparql.parse_s" -> median0(spanTimes("sparql.parse")),
      "sparql.plan_s" -> median0(spanTimes("sparql.plan")),
      "sparql.plan_jobs" -> median0(spanCount("sparql.plan")(_.jobs)),
      "sparql.rows_scanned_per_row" -> scanned("sparql"),
      "algorithms.call_s" -> median0(spanTimes("algorithms.call")),
      "algorithms.call_jobs" -> median0(spanCount("algorithms.call")(_.jobs)),
      "algorithms.result_bytes" -> median0(spanCount("algorithms.call")(_.resultBytes)),
      "pipeline.call_s" -> median0(spanTimes("pipeline.call")),
      "pipeline.call_jobs" -> median0(spanCount("pipeline.call")(_.jobs)),
      "streaming.commit_s" -> median0(spanTimes("streaming.commit")),
      "streaming.triangles_s" -> median0(spanTimes("streaming.triangles")),
      "streaming.edges_per_s" -> {
        val writes = samples.filter(s => s.kind == "ingest_commit" || s.kind == "ingest_triangles")
        if (writes.isEmpty) 0.0 else samples.count(_.kind == "ingest_commit") * IngestPath.BatchSize /
          writes.map(_.seconds).sum
      },
      "streaming.read_s" -> median0(samples.filter(_.kind == "ingest_read").map(_.seconds)),
      "streaming.state_rows" -> 0.0,
      "streaming.store_files" -> 0.0,
      "streaming.store_bytes_per_input_byte" -> 0.0,
      "streaming.read_files" -> 0.0,
      "catalyst.analysis_s" -> catalyst("analysis"),
      "catalyst.optimization_s" -> catalyst("optimization"),
      "catalyst.planning_s" -> catalyst("planning"),
      "exec.s" -> median0(spanTimes("exec")),
      "exec.jobs" -> perOp(s => opCounts(s)(_.jobs)),
      "exec.stages" -> perOp(s => opCounts(s)(_.stages)),
      "exec.tasks" -> perOp(s => opCounts(s)(_.tasks)),
      "exec.failed_tasks" -> perOp(s => opCounts(s)(_.failedTasks)),
      "exec.task_s" -> perOp(s => opCounts(s)(_.taskMs) / 1e3),
      "exec.task_wait_s" -> perOp(s => opCounts(s)(_.taskWaitMs) / 1e3),
      "exec.shuffle_write_bytes" -> perOp(s => opCounts(s)(_.shuffleWrite)),
      "exec.shuffle_read_bytes" -> perOp(s => opCounts(s)(_.shuffleRead)),
      "exec.spill_bytes" -> perOp(s => opCounts(s)(_.spill)),
      "exec.result_bytes" -> perOp(s => opCounts(s)(_.resultBytes)),
      "exec.gc_s" -> perOp(s => opCounts(s)(_.gcMs) / 1e3),
      "cache.storage_bytes" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble,
      "cache.evicted_blocks" -> t.evictedBlocks.toDouble,
    ) ++ w.layerMetrics()
  }

  def unitOf(name: String): String =
    Units.getOrElse(name,
      if (name.endsWith("_s")) "s" else if (name.endsWith("_bytes")) "bytes"
      else if (name.endsWith("_per_row")) "ratio" else "count")

  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Map[String, Double]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"${unitOf(k)}"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}
