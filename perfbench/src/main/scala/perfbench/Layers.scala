package perfbench

/** The per-layer metrics of a traced run. `run.py` reports the ones
  * BENCHMARK.json declares; a layer a workload never calls reads 0. */
object Layers {
  def report(t: Tracer, c: SparkCounters, jvm: JvmCounters,
      traced: Phase): Map[String, Double] = {
    val times = t.layerTimes
    def total(l: String) = times.get(l).map(_._1).getOrElse(0.0)
    val (codegen, jit, gc, heap) = jvm.read()
    val ops = traced.ops.map(o => ((o.start * 1e3).toLong, (o.end * 1e3).toLong))
    val fromSpans = Map(
      "queries.build_s" -> total("queries.build"),
      "queries.action_s" -> total("queries.action"),
      "sources.calls" -> t.count("sources").toDouble,
      "sources.busy_s" -> total("sources"),
      "operators.merge_s" -> total("operators.merge"),
      "operators.scd2_s" -> total("operators.scd2"),
      "pipeline.run_s" -> total("pipeline"),
      "pipeline.self_s" -> times.get("pipeline").map(_._2).getOrElse(0.0),
      "streaming.query_s" -> total("streaming"),
      "corpus.busy_s" -> total("corpus"))
    val (rowsWritten, bytesWritten, filesWritten) = c.written(SparkCounters.WriteTag)
    val s = c.streams
    // rows the event stream's validated sink checked, as its load
    // results report them; the ingest quality gates check every row
    // their sources read
    val streamChecked = traced.layers.getOrElse("validation.rows_checked", 0.0)
    val derived = Map(
      "streaming.triggers" -> s.triggers.sum.toDouble,
      "streaming.trigger_s" -> s.seconds("triggerExecution"),
      "streaming.add_batch_s" -> s.seconds("addBatch"),
      "streaming.latest_offset_s" -> s.seconds("latestOffset"),
      "streaming.query_planning_s" -> s.seconds("queryPlanning"),
      "streaming.wal_commit_s" -> s.seconds("walCommit"),
      "streaming.queue_wait_s" -> s.queueWaitSeconds,
      "streaming.input_rows" -> s.inputRows.sum.toDouble,
      "streaming.state_rows" -> s.stateRows.get.toDouble,
      "streaming.state_mem_bytes" -> s.stateMemBytes.get.toDouble,
      "dedup.redeliveries_dropped" -> (s.rowsOf("events_clean") - streamChecked),
      "validation.rows_checked" -> (streamChecked + c.sourceRows.sum),
      "operators.rows_written" -> rowsWritten.toDouble,
      "operators.bytes_written" -> bytesWritten.toDouble,
      "operators.files_written" -> filesWritten.toDouble,
      "sources.rows" -> c.sourceRows.sum.toDouble,
      "sources.input_bytes" -> c.sourceBytes.sum.toDouble)
    val spark = Map(
      "spark.catalyst.analysis_s" -> c.analysisMs.sum / 1e3,
      "spark.catalyst.optimization_s" -> c.optimizationMs.sum / 1e3,
      "spark.catalyst.planning_s" -> c.planningMs.sum / 1e3,
      "spark.scheduler.jobs" -> c.jobs.sum.toDouble,
      "spark.scheduler.stages" -> c.stages.sum.toDouble,
      "spark.scheduler.stages_skipped" -> c.stagesSkipped.toDouble,
      "spark.scheduler.tasks" -> c.tasks.sum.toDouble,
      "spark.scheduler.task_wait_s" -> c.taskWaitMs.sum / 1e3,
      "spark.driver.no_job_s" -> c.noJobSeconds(ops),
      "spark.exec.run_s" -> c.runMs.sum / 1e3,
      "spark.exec.cpu_s" -> c.cpuNs.sum / 1e9,
      "spark.exec.gc_s" -> c.gcMs.sum / 1e3,
      "spark.exec.input_bytes" -> c.inputBytes.sum.toDouble,
      "spark.exec.input_rows" -> c.inputRows.sum.toDouble,
      "spark.exec.shuffle_write_bytes" -> c.shuffleWrite.sum.toDouble,
      "spark.exec.shuffle_read_bytes" -> c.shuffleRead.sum.toDouble,
      "spark.exec.spill_bytes" -> c.spill.sum.toDouble,
      "spark.exec.peak_exec_mem_bytes" -> c.peakExecMem.get.toDouble,
      "spark.exec.result_bytes" -> c.resultBytes.sum.toDouble,
      "jvm.codegen_s" -> codegen, "jvm.jit_s" -> jit, "jvm.gc_s" -> gc,
      "jvm.heap_peak_mb" -> heap)
    fromSpans ++ spark ++ traced.layers ++ derived
  }
}
