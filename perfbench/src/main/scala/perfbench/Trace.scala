package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Maps a Spark job to the engine module that issued it. */
object Attribution {

  /** Engine source file → module (layer) name. Orchestrators that only
    * compose other modules (Pipeline, Validate) are absent on purpose:
    * their jobs are attributed by the paths they touch instead.
    */
  val FileModule: Map[String, String] = Map(
    "TokenTable.scala" -> "sources",
    "Fs.scala" -> "sources",
    "Rules.scala" -> "rules",
    "DimensionLoader.scala" -> "rules",
    "SchemaCheck.scala" -> "rules",
    "Validator.scala" -> "validator",
    "StatsOps.scala" -> "stats",
    "Drift.scala" -> "drift",
    "Checkpoint.scala" -> "runner",
    "SnapshotDiff.scala" -> "runner",
    "ViolationStore.scala" -> "store",
    "Quarantine.scala" -> "quarantine",
    "Repair.scala" -> "quarantine",
    "ReportOps.scala" -> "report",
    "Expectations.scala" -> "report",
    "MetricsStore.scala" -> "metrics",
    "StreamingValidation.scala" -> "streaming",
    "StreamingDedup.scala" -> "streaming")

  private val CallSite = """^\S+ at ([A-Za-z0-9_$]+\.scala):\d+$""".r

  /** The engine module named by a short call site such as
    * `parquet at ViolationStore.scala:85`, if its file maps to one.
    */
  def fromCallSite(callSite: String): Option[String] = callSite.trim match {
    case CallSite(file) => FileModule.get(file)
    case _ => None
  }

  /** The module whose directory a SQL plan writes, else reads. Writes win:
    * a quarantine split reads the token table but is quarantine work.
    */
  def fromPlan(plan: String, dirs: Seq[(String, String)]): Option[String] = {
    // formatted plans list each node's arguments in its own paragraph
    val writes = plan.split("\n\\s*\n")
      .filter(_.contains("InsertIntoHadoopFsRelationCommand")).mkString("\n")
    dirs.collectFirst { case (dir, m) if writes.contains(dir) => m }
      .orElse(dirs.collectFirst { case (dir, m) if plan.contains(dir) => m })
  }

  /** Span first, then the engine file of the call site, then the plan. */
  def attribute(span: Option[String], callSite: String,
      plan: Option[String], dirs: Seq[(String, String)]): String =
    span.orElse(fromCallSite(callSite))
      .orElse(plan.flatMap(fromPlan(_, dirs)))
      .getOrElse(Trace.Unattributed)
}

/** Spans the benchmark opens around its calls into the engine. While a
  * traced iteration runs, a span is recorded and names the module its
  * Spark jobs belong to (a local property, so jobs started on other
  * threads inherit it).
  */
object Trace {
  val Unattributed = "unattributed"
  val SpanKey = "perfbench.span"

  @volatile var sc: Option[SparkContext] = None
  val spans = mutable.ArrayBuffer.empty[SpanRec]

  def module(spanName: String): String = spanName.takeWhile(_ != '.')

  def span[A](name: String)(body: => A): A =
    sc match {
      case Some(ctx) =>
        val prev = ctx.getLocalProperty(SpanKey)
        ctx.setLocalProperty(SpanKey, name)
        val t0 = System.currentTimeMillis()
        try body finally {
          ctx.setLocalProperty(SpanKey, prev)
          spans.synchronized {
            spans += SpanRec(name, t0, System.currentTimeMillis()) }
        }
      case _ => body
    }
}

final case class SpanRec(name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e3
}

final case class TaskRec(stageId: Int, runS: Double, cpuS: Double,
    durS: Double, inBytes: Long, inRecs: Long, outBytes: Long,
    shuffleW: Long, spill: Long, gcS: Double, peakMem: Long)

final case class JobRec(id: Int, start: Long, var end: Long, module: String,
    callSite: String, stages: Seq[Int])

final case class BatchRec(wallMs: Long, commitMs: Long, stateRows: Long,
    stateMem: Long)

/** Records every job, task and micro-batch while tracing is on. */
final class Recorder extends SparkListener {
  /** Directories of the running iteration, by module. */
  @volatile var dirs: Seq[(String, String)] = Nil
  /** SQL execution id → (call site of its action, physical plan). */
  private val plans = mutable.HashMap.empty[Long, (String, String)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stageModule = mutable.HashMap.empty[Int, String]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  /** stageId → (submitted, completed) epoch ms. */
  val stageTimes = mutable.HashMap.empty[Int, (Long, Long)]
  @volatile var on = false

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (on) synchronized {
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stageTimes(i.stageId) = (a, b)
    }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if on => synchronized {
      plans(e.executionId) = (e.description, e.physicalPlanDescription) }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(j.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey)))
    val exec = props.flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => plans.get(id.toLong))
    val plan = exec.map(_._2)
    // adaptive query stages run as jobs submitted from a pool thread, so
    // the call site of their SQL execution's action is the one to use
    val callSite = exec.map(_._1).getOrElse(j.stageInfos
      .sortBy(-_.stageId).headOption.map(_.name).getOrElse(""))
    val m = Attribution.attribute(span.map(Trace.module), callSite, plan,
      dirs)
    j.stageIds.foreach(stageModule(_) = m)
    jobs += JobRec(j.jobId, j.time, -1L, m, callSite, j.stageIds)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (on) synchronized {
    val m = t.taskMetrics
    if (m != null && stageModule.contains(t.stageId))
      tasks += TaskRec(t.stageId, m.executorRunTime / 1e3,
        m.executorCpuTime / 1e9, t.taskInfo.duration / 1e3,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime / 1e3,
        m.peakExecutionMemory)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (on) Recorder.this.synchronized {
        val p = e.progress
        def d(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches += BatchRec(d("triggerExecution"),
          d("commitOffsets") + d("walCommit"),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }
}

/** Per-module self time over the timed legs. Within a leg, time while a
  * job runs belongs to the module of the earliest-started running job.
  * Time with no job running belongs to the innermost open span, else
  * to the module of the next job (the driver work that precedes it:
  * planning, compiling, listing) — charged to `rules` when that job is
  * the leg's first rule pass — else to the last job's module.
  */
object Timeline {
  val RulePass = Set("validator", "store")

  final case class Split(self: Map[String, Double], nojobS: Double,
      planS: Double)

  def split(legs: Seq[(Long, Long)], jobs: Seq[JobRec],
      spans: Seq[SpanRec]): Split = {
    val self = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var nojob = 0.0
    var plan = 0.0
    for ((l0, l1) <- legs) {
      val in = jobs.filter(j => j.end >= l0 && j.start <= l1)
        .map(j => j.copy(start = math.max(j.start, l0),
          end = math.min(if (j.end < 0) l1 else j.end, l1)))
        .sortBy(j => (j.start, j.id))
      val cuts = (Seq(l0, l1) ++ in.flatMap(j => Seq(j.start, j.end)))
        .distinct.sorted
      var seenRulePass = false
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val dt = (b - a) / 1e3
        in.find(j => j.start <= a && j.end >= b) match {
          case Some(j) =>
            self(j.module) += dt
            if (RulePass(j.module)) seenRulePass = true
          case None =>
            nojob += dt
            val open = spans.filter(s => s.start <= a && s.end >= b)
            if (open.nonEmpty)
              self(Trace.module(open.maxBy(_.start).name)) += dt
            else in.find(_.start >= b) match {
              case Some(next) if RulePass(next.module) && !seenRulePass =>
                self("rules") += dt; plan += dt
              case Some(next) => self(next.module) += dt
              case None =>
                self(in.lastOption.map(_.module).getOrElse("driver")) += dt
            }
        }
      }
    }
    Split(self.toMap, nojob, plan)
  }
}
