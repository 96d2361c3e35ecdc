package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced window. Every metric is reported on every
  * workload; a layer a workload does not reach reads 0. Counts and times
  * are per op (micro-batch or registry query) unless the name
  * says peak, max or held. */
object Layers {

  /** (name, unit), in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "etl.construct_s" -> "s", "etl.construct_jobs" -> "count", "etl.action_s" -> "s",
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
    "spark.plan_s" -> "s", "spark.codegen_compiles" -> "count", "spark.codegen_compile_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_wait_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.checkpoint_bytes" -> "bytes", "spark.leftover_rdds" -> "count",
    "tables.scan_rows" -> "count", "tables.scan_bytes" -> "bytes", "tables.scan_tasks" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.backlog_files_max" -> "count",
    "streaming.generator_late_s" -> "s",
    "sink.write_s" -> "s", "sink.files" -> "count", "sink.bytes_per_input_byte" -> "ratio",
    "jvm.peak_rss_mb" -> "MB", "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  def unit(name: String): String = metrics.find(_._1 == name).map(_._2).getOrElse("")

  private def mean(xs: Seq[Double]): Double = {
    val ok = xs.filterNot(_.isNaN)
    if (ok.isEmpty) 0.0 else ok.sum / ok.size
  }

  def compute(w: Window, t: Tracer, cg0: (Long, Double), cg1: (Long, Double),
      spark: SparkSession): Seq[(String, Double)] = {
    val ops = w.traced
    val n = math.max(ops.size, 1).toDouble
    val ids = ops.map(_.op).toSet
    val tt = t.totals(ids)
    val etl = ops.filter(_.kind == "etl")
    val qs = ops.filter(_.kind == "query")
    def constructJobs(o: OpRec): Double =
      t.jobsWithin(o.op, o.start, o.start + o.constructMs).toDouble
    val prog = t.progress.map(_.progress)
      .filter(p => p.numInputRows > 0)
    def dur(key: String): Double = mean(prog.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).toSeq)
    val jobs = ids.toSeq.map(op => t.jobsByOp.get(op).map(_.size).getOrElse(0)).sum
    val stages = ids.toSeq.map(op => t.stagesByOp.getOrElse(op, 0)).sum
    // RDDs still holding blocks once the window's ops are done: checkpoint
    // blocks nobody released
    val leftover = spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    val values = Map(
      "etl.construct_s" -> mean(etl.map(_.constructMs)) / 1000,
      "etl.construct_jobs" -> mean(etl.map(constructJobs)),
      "etl.action_s" -> mean(etl.map(_.actionMs)) / 1000,
      "queries.construct_s" -> mean(qs.map(_.constructMs)) / 1000,
      "queries.construct_jobs" -> mean(qs.map(constructJobs)),
      "spark.plan_s" -> ops.map(o => t.planMsWithin(o.start, o.end)).sum / n / 1000,
      "spark.codegen_compiles" -> (cg1._1 - cg0._1) / n,
      "spark.codegen_compile_ms" -> (cg1._2 - cg0._2) / n,
      "spark.jobs" -> jobs / n,
      "spark.stages" -> stages / n,
      "spark.tasks" -> tt.tasks / n,
      "spark.task_wait_s" -> tt.waitMs / n / 1000,
      "spark.executor_run_s" -> tt.runMs / n / 1000,
      "spark.executor_cpu_s" -> tt.cpuNs / n / 1e9,
      "spark.gc_s" -> tt.gcMs / n / 1000,
      "spark.shuffle_write_bytes" -> tt.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> tt.shuffleRead / n,
      "spark.shuffle_fetch_wait_s" -> tt.fetchWaitMs / n / 1000,
      "spark.spill_bytes" -> tt.spill / n,
      "spark.peak_exec_mem_bytes" -> tt.peakExecMem,
      "spark.checkpoint_bytes" -> t.checkpointBytesPeak.toDouble,
      "spark.leftover_rdds" -> leftover.toDouble,
      "tables.scan_rows" -> tt.scanRows / n,
      "tables.scan_bytes" -> tt.scanBytes / n,
      "tables.scan_tasks" -> tt.scanTasks / n,
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.commit_ms" -> dur("commitOffsets"),
      "sink.write_s" -> mean(ops.filter(o => !o.sinkFiles.isNaN).map(_.actionMs)) / 1000,
      "sink.files" -> mean(ops.map(_.sinkFiles)),
      "sink.bytes_per_input_byte" -> {
        val s = ops.filter(o => !o.sinkBytes.isNaN && o.inputBytes > 0)
        if (s.isEmpty) 0.0 else s.map(_.sinkBytes).sum / s.map(_.inputBytes).sum
      },
      "jvm.peak_rss_mb" -> Util.peakRssMb(),
      "trace.spans" -> t.allSpans.size.toDouble) ++ w.extra
    metrics.map(_._1).filter(_ != "trace.overhead_pct").map(k => k -> values.getOrElse(k, 0.0))
  }
}
