package perfbench

/** Per-layer figures of a traced run, from the listener counters and the
  * recorded spans. Time and byte counters are totals over the measured
  * pass; `*_per_op` divide by the workload's operations (micro-batches
  * on stream_ingest).
  */
object Layers {
  /** Figures a workload adds itself; zero on the workloads that do not
    * use the layer.
    */
  val WorkloadKeys: Seq[String] = Seq(
    "stages.marketo_s", "stages.frontend_s", "stages.textagent_s", "stages.kpi_s",
    "stages.events_s", "load.bytes_written",
    "corpus.q_containment_lsh_s", "corpus.q_dup_clusters_lsh_s", "corpus.q_knn_graph_s",
    "corpus.q_dbscan_s", "corpus.q_bt_rating_s", "art.build_s", "art.consume_s",
    "stream.batches", "stream.batch_p50_ms", "stream.add_batch_ms", "stream.plan_ms",
    "stream.commit_ms", "stream.state_rows", "stream.state_mem_bytes",
    "stream.state_commit_ms", "stream.upsert_state_rows", "stream.backlog_max_files",
    "stream.gen_late_ms", "stream.empty_batch_frac", "stream.drain_eps")

  def of(o: Outcome, rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val stream = o.jobOps.nonEmpty
    val jobOps = if (stream) o.jobOps else o.ops.map(_.id).toSet
    val a = rec.agg(jobOps)
    val jobs = rec.jobsOf(jobOps)
    val from = if (stream) jobs.map(_.startMs).minOption.getOrElse(0L)
      else if (o.startMs > 0) o.startMs else o.ops.map(_.startMs).min
    val to = if (stream) jobs.map(_.endMs).maxOption.getOrElse(0L) else o.ops.map(_.endMs).max
    val qes = rec.qesIn(from, to)
    val nOps = (if (stream) o.perLayer.getOrElse("stream.batches", 1.0) else o.ops.size.toDouble).max(1.0)
    val wallMs = (if (stream) (to - from).toDouble else o.passMs).max(1.0)
    val byOp = jobs.groupBy(_.op)
    val batchOps = if (stream) Nil else o.ops
    // wall time of an operation not covered by any of its jobs
    val driverOnly = batchOps.map { op =>
      val iv = byOp.getOrElse(op.id, Nil).map(j => (j.startMs.max(op.startMs),
        (if (j.endMs < 0) op.endMs else j.endMs).min(op.endMs))).filter(i => i._2 > i._1).sortBy(_._1)
      val covered = iv.foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
        if (e <= end) (sum, end) else (sum + e - s.max(end), e)
      }._1
      (op.endMs - op.startMs - covered).max(0L).toDouble
    }.sum
    val skew = a.durations.values.filter(_.size >= 2).map { d =>
      val s = d.sorted
      val med = Main.quantile(s.map(_.toDouble).toSeq, 0.5)
      if (med > 0) s.last / med else 0.0
    }.maxOption.getOrElse(0.0)
    Map(
      "sources.scan_bytes" -> a.inBytes.toDouble,
      "sources.scan_ms" -> qes.map(_.scanMs).sum.toDouble,
      "plan.analysis_ms" -> qes.map(_.analysisMs).sum.toDouble,
      "plan.optimizer_ms" -> qes.map(_.optimizerMs).sum.toDouble,
      "plan.physical_ms" -> qes.map(_.physicalMs).sum.toDouble,
      "query.build_ms" -> batchOps.map(op => (op.buildEndMs - op.startMs).toDouble).sum,
      "query.action_ms" -> batchOps.map(op => (op.endMs - op.buildEndMs).toDouble).sum,
      "spark.jobs_per_op" -> jobs.size / nOps,
      "spark.stages_per_op" -> rec.stageCount(jobOps) / nOps,
      "spark.tasks_per_op" -> a.tasks / nOps,
      "spark.job_p50_ms" -> Main.median(jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble)),
      "exec.sched_delay_ms" -> (if (a.tasks == 0) 0.0 else a.schedMs.toDouble / a.tasks),
      "exec.run_ms" -> a.runMs.toDouble,
      "exec.cpu_ms" -> a.cpuNs / 1e6,
      "exec.gc_ms" -> a.gcMs.toDouble,
      "exec.busy_frac" -> a.runMs / (wallMs * Main.Cpus),
      "shuffle.write_bytes" -> a.shW.toDouble,
      "shuffle.read_bytes" -> a.shR.toDouble,
      "shuffle.fetch_wait_ms" -> a.fetchMs.toDouble,
      "spill.mem_bytes" -> a.memSpill.toDouble,
      "spill.disk_bytes" -> a.diskSpill.toDouble,
      "task.skew_max" -> skew,
      "driver.only_ms" -> driverOnly,
      "driver.result_bytes" -> a.resultBytes.toDouble,
      "scale.eager_jobs" -> batchOps.map(op =>
        byOp.getOrElse(op.id, Nil).count(_.startMs < op.buildEndMs).toDouble).sum)
  }

  /** The trace artifact: every span, and self time per span name. */
  def traceJson(t: Tracer, o: Outcome): String = {
    val spans = t.spans.sortBy(_.startNs).map(s => Json.obj(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    Json.obj(
      "spans" -> spans.mkString("[\n", ",\n", "]"),
      "self_ms" -> Json.nums(t.selfMs))
  }
}
