package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers of one traced run, from the traced timed ops only.
  * Times and counts are per op (mean over traced ops) unless the name
  * says otherwise; layers a workload does not reach read 0. */
object Layers {
  def compute(w: Workload, samples: Seq[Main.Sample], host: Map[String, Any]): Map[String, Double] = {
    val traced = samples.filter(s => s.traced && s.opSpan != 0L)
    val n = math.max(1, traced.size).toDouble
    val byOp = Trace.spansByOp
    val ops = traced.map(s => s.opSpan -> byOp.getOrElse(s.opSpan, Nil)).toMap
    val spans = ops.values.flatten.toSeq
    val kids = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val owner = Trace.owners()
    val jobsBySpan = Trace.jobs.asScala.toSeq.groupBy { case (id, _) => owner(id.intValue) }
      .map { case (s, js) => s -> js.map(_._2) }
    def named(name: String) = spans.filter(_.name == name)
    def secs(name: String) = named(name).map(_.durNs).sum / 1e9 / n
    def jobsUnder(name: String): Seq[Trace.JobRec] =
      named(name).flatMap(s => subtree(s.id)).distinct.flatMap(id => jobsBySpan.getOrElse(id, Nil))
    val opJobs = spans.map(_.id).flatMap(id => jobsBySpan.getOrElse(id, Nil))
    val opWallS = traced.map(_.wallS).sum

    // listener-bus events, charged to the traced op whose interval holds them
    val windows = ops.keys.toSeq.flatMap(id => spans.find(_.id == id))
      .map(s => (Trace.epochMs(s.startNs), Trace.epochMs(s.endNs)))
    def inOp(ms: Double) = windows.exists { case (a, b) => ms >= a - 1 && ms <= b + 1 }
    val phases = Trace.phases.asScala.toSeq.filter(p => inOp(p.startMs.toDouble))
    val progress = Trace.progress.asScala.toSeq.filter(p => inOp(p.startMs.toDouble))
    def dur(key: String) = progress.map(_.durations.getOrElse(key, 0L)).sum / n

    val buildJobs = jobsUnder("query.build") ++ jobsUnder("ingest.read")
    val mb = 1e6
    val common = Map(
      "ingest.read_s" -> (secs("ingest.read") +
        jobsUnder("query.build").map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0 / n),
      "ingest.build_jobs" -> buildJobs.size / n,
      "query.build_s" -> secs("query.build"),
      "query.exec_s" -> secs("query.exec"),
      "catalyst.analysis_ms" -> phases.map(_.analysisMs).sum / n,
      "catalyst.optimization_ms" -> phases.map(_.optimizationMs).sum / n,
      "catalyst.planning_ms" -> phases.map(_.planningMs).sum / n,
      "spark.jobs_per_op" -> opJobs.size / n,
      "spark.stages_per_op" -> opJobs.map(_.stages).sum / n,
      "spark.tasks_per_op" -> opJobs.map(_.tasks).sum / n,
      "spark.exec_cpu_s" -> opJobs.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> opJobs.map(_.gcMs).sum / 1000.0 / n,
      "spark.core_busy_share" -> opJobs.map(_.runMs).sum / 1000.0 / math.max(1e-9, opWallS * Main.Cores),
      "spark.input_mb" -> opJobs.map(_.inBytes).sum / mb / n,
      "spark.output_mb" -> opJobs.map(_.outBytes).sum / mb / n,
      "spark.shuffle_write_mb" -> opJobs.map(_.shWrite).sum / mb / n,
      "spark.shuffle_read_mb" -> opJobs.map(_.shRead).sum / mb / n,
      "spark.spill_mb" -> opJobs.map(_.spill).sum / mb / n,
      "jobs.etl_s" -> secs("jobs.etl_job"),
      "jobs.dag_overhead_s" -> named("jobs.dag").map(s => Trace.selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e9 / n,
      "silver.merge_s" -> secs("silver.merge"),
      "silver.merge_jobs" -> jobsUnder("silver.merge").size / n,
      "gold.refresh_s" -> secs("gold.refresh"),
      "sources.dml_s" -> secs("sources.dml"),
      "plans.mv_refresh_s" -> secs("plans.mv_refresh"),
      "plans.readout_s" -> secs("plans.readout"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.microbatches_per_op" -> progress.size / n,
      "streaming.state_rows" -> (if (progress.isEmpty) 0.0 else progress.map(_.stateRows).sum.toDouble / progress.size),
      "host.steal_share" -> host("steal_share").asInstanceOf[Double],
      "host.other_cpu_share" -> host("other_cpu_share").asInstanceOf[Double])

    val pipeline = w match {
      case p: Pipeline =>
        val merges = named("silver.merge")
        val written = jobsUnder("silver.merge").map(_.outBytes).sum.toDouble
        // traced batch k's delta: timed op j is batch j + 2 (batch 1 is cold)
        val batches = samples.zipWithIndex.filter { case (s, _) => s.traced }.map(_._2 + 2)
        val delta = batches.map(k => p.deltaBytes.getOrElse(k, 0L)).sum.toDouble
        val modes = p.mvModes.toSeq
        Map(
          "silver.rewrite_bytes_per_delta_byte" -> (if (delta > 0 && merges.nonEmpty) written / delta else 0.0),
          "plans.mv_incremental_share" ->
            (if (modes.isEmpty) 0.0 else modes.count(_._2.startsWith("incremental")).toDouble / modes.size),
          "plans.mv_refreshes" -> modes.size.toDouble)
      case _ => Map("silver.rewrite_bytes_per_delta_byte" -> 0.0,
        "plans.mv_incremental_share" -> 0.0, "plans.mv_refreshes" -> 0.0)
    }
    common ++ pipeline
  }
}
