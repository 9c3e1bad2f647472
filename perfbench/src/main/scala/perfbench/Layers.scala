package perfbench

/** Per-layer metrics of the traced iterations, each per iteration. */
object Layers {

  final case class Metric(name: String, value: Double, unit: String)

  private val MB = 1024.0 * 1024.0

  /** Every per-layer metric, in report order. */
  def compute(rec: Recorder, spans: Seq[SpanRec],
      windows: Seq[(Long, Long)], nIter: Int, cores: Int,
      counters: Map[String, Double], countedIters: Int, inputRows: Long,
      overheadS: Double): (Seq[Metric], Timeline.Split) = {
    val split = Timeline.split(windows, rec.jobs.toSeq, spans)
    val n = math.max(1, nIter).toDouble
    val wall = windows.map { case (a, b) => (b - a) / 1e3 }.sum
    val jobs = rec.jobs.toSeq
    val tasks = rec.tasks.toSeq
    def stagesOf(m: String): Set[Int] =
      rec.stageModule.collect { case (s, mm) if mm == m => s }.toSet
    def tasksOf(m: String) = { val s = stagesOf(m); tasks.filter(t => s(t.stageId)) }
    def jobsOf(m: String) = jobs.filter(_.module == m)
    def wrote(j: JobRec) = tasks.exists(t => j.stages.contains(t.stageId) &&
      t.outBytes > 0)
    def jobS(js: Seq[JobRec]) = js.map(j => (j.end - j.start) / 1e3).sum
    def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def self(m: String) = split.self.getOrElse(m, 0.0)
    def counter(k: String) = counters.getOrElse(k, 0.0) / math.max(1, countedIters)
    def skew(m: String): Double = {
      val perStage = tasksOf(m).groupBy(_.stageId).values.filter(_.size >= 2)
      if (perStage.isEmpty) 0.0
      else perStage.map { ts =>
        val med = Stat.median(ts.map(_.durS))
        if (med <= 0) 0.0 else ts.map(_.durS).max / med
      }.max
    }
    val rowsRead = tasks.map(_.inRecs).sum.toDouble
    val scanStages = tasks.filter(_.inRecs > 0).map(_.stageId).toSet
    val rowpass = stagesOf("validator").filter(scanStages).toSeq
      .flatMap(rec.stageTimes.get).map { case (a, b) => (b - a) / 1e3 }.sum
    val batchWalls = rec.batches.map(_.wallMs / 1e3).toSeq
    val violationRows = counter("validator.violation_rows")

    val ms = Seq(
      Metric("sources.bytes_read", tasks.map(_.inBytes).sum / MB / n, "MB"),
      Metric("sources.rows_read", rowsRead / n, "rows"),
      Metric("sources.scans", rowsRead / n / inputRows, "ratio"),
      Metric("sources.task_s", tasks.filter(_.inRecs > 0).map(_.runS).sum / n, "s"),
      Metric("rules.plan_s", self("rules") / n, "s"),
      Metric("validator.rowpass_s", rowpass / n, "s"),
      Metric("validator.task_cpu_s", tasksOf("validator").map(_.cpuS).sum / n, "s"),
      Metric("validator.violation_rows", violationRows, "rows"),
      Metric("validator.violation_ratio", violationRows / inputRows, "ratio"),
      Metric("validator.unique_shuffle_mb",
        tasksOf("validator").map(_.shuffleW).sum / MB / n, "MB"),
      Metric("validator.task_skew", skew("validator"), "ratio"),
      Metric("validator.dedup_s", spanS("validator.dedup") / n, "s"),
      Metric("validator.summary_s", spanS("validator.summary") / n, "s"),
      Metric("stats.s", self("stats") / n, "s"),
      Metric("stats.task_cpu_s", tasksOf("stats").map(_.cpuS).sum / n, "s"),
      Metric("stats.peak_exec_mem_mb",
        (tasksOf("stats").map(_.peakMem) :+ 0L).max / MB, "MB"),
      Metric("drift.s", self("drift") / n, "s"),
      Metric("drift.baseline_rows_read",
        tasksOf("drift").map(_.inRecs).sum / n, "rows"),
      Metric("runner.jobs", jobsOf("runner").size / n, "count"),
      Metric("runner.manifest_read_s",
        jobS(jobsOf("runner").filterNot(wrote)) / n, "s"),
      Metric("runner.manifest_append_s",
        jobS(jobsOf("runner").filter(wrote)) / n, "s"),
      Metric("runner.partitions_failed", counter("runner.partitions_failed"),
        "count"),
      Metric("store.write_s", jobS(jobsOf("store").filter(wrote)) / n, "s"),
      Metric("store.files_written", counter("store.files_written"), "count"),
      Metric("store.bytes_written", counter("store.bytes_written"), "bytes"),
      Metric("store.read_s", jobS(jobsOf("store").filterNot(wrote)) / n, "s"),
      Metric("quarantine.write_s",
        jobS(jobsOf("quarantine").filter(wrote)) / n, "s"),
      Metric("quarantine.files_written", counter("quarantine.files_written"),
        "count"),
      Metric("quarantine.bytes_written", counter("quarantine.bytes_written"),
        "bytes"),
      Metric("report.s", self("report") / n, "s"),
      Metric("metrics.append_s", self("metrics") / n, "s"),
      Metric("streaming.batches", rec.batches.size / n, "count"),
      Metric("streaming.batch_s_p50",
        if (batchWalls.isEmpty) 0.0 else Stat.median(batchWalls), "s"),
      Metric("streaming.state_rows",
        (rec.batches.map(_.stateRows) :+ 0L).max.toDouble, "rows"),
      Metric("streaming.state_mem_mb",
        (rec.batches.map(_.stateMem) :+ 0L).max / MB, "MB"),
      Metric("streaming.commit_s", rec.batches.map(_.commitMs).sum / 1e3 / n, "s"),
      Metric("driver.jobs", jobs.size / n, "count"),
      Metric("driver.tasks", tasks.size / n, "count"),
      Metric("driver.nojob_s", split.nojobS / n, "s"),
      Metric("exec.core_util",
        if (wall <= 0) 0.0 else tasks.map(_.runS).sum / (wall * cores), "ratio"),
      Metric("exec.gc_s", tasks.map(_.gcS).sum / n, "s"),
      Metric("exec.spill_mb", tasks.map(_.spill).sum / MB / n, "MB"),
      Metric("exec.shuffle_write_mb", tasks.map(_.shuffleW).sum / MB / n, "MB"),
      Metric("trace.coverage",
        if (wall <= 0) 0.0
        else 1.0 - split.self.getOrElse(Trace.Unattributed, 0.0) / wall, "ratio"),
      Metric("trace.overhead_s", overheadS, "s"))
    (ms, split)
  }

  /** The per-layer table: self time per module per iteration, its share
    * of iteration wall, jobs and task time.
    */
  def table(workload: String, rec: Recorder, split: Timeline.Split,
      windows: Seq[(Long, Long)], nIter: Int, overheadS: Double,
      untracedS: Double): String = {
    val n = math.max(1, nIter).toDouble
    val wall = windows.map { case (a, b) => (b - a) / 1e3 }.sum
    val modules = (split.self.keySet ++ rec.jobs.map(_.module)).toSeq
      .sortBy(m => -split.self.getOrElse(m, 0.0))
    val b = new StringBuilder
    b ++= f"# per-layer self time, workload $workload, $nIter%d traced iterations\n"
    b ++= f"# ${"module"}%-14s ${"self_s"}%9s ${"share"}%7s ${"jobs"}%6s ${"task_s"}%8s\n"
    modules.foreach { m =>
      val stages = rec.stageModule.collect { case (s, mm) if mm == m => s }.toSet
      val taskS = rec.tasks.filter(t => stages(t.stageId)).map(_.runS).sum
      val s = split.self.getOrElse(m, 0.0)
      b ++= f"# $m%-14s ${s / n}%9.4f ${if (wall > 0) s / wall else 0.0}%7.3f ${rec.jobs.count(_.module == m) / n}%6.1f ${taskS / n}%8.3f\n"
    }
    b ++= "# slowest jobs (wall s, module, call site):\n"
    rec.jobs.toSeq.sortBy(j => j.start - j.end).take(12).foreach { j =>
      val site = j.callSite.replaceAll("\\s+", " ").trim.take(90)
      b ++= f"#   ${(j.end - j.start) / 1e3}%7.3f ${j.module}%-12s $site\n"
    }
    val un = split.self.getOrElse(Trace.Unattributed, 0.0)
    b ++= f"# unattributed remainder: ${un / n}%.4f s per iteration (${if (wall > 0) un / wall else 0.0}%.3f of wall)\n"
    b ++= f"# iteration wall: traced ${wall / n}%.4f s, untraced median $untracedS%.4f s, tracing overhead $overheadS%.4f s\n"
    b.result()
  }
}
