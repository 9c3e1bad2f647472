package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.engine.{Drift, StatsOps, Validator}
import graft.rules.RuleSet
import graft.sources.TokenTable
import graft.streaming.StreamingValidation
import graft.tools.Validate

/** One benchmark workload: generated inputs, a closed-loop iteration over
  * the engine's public entry points, and the checks of its outputs.
  */
trait Workload {
  def name: String
  /** Input sequences one iteration validates (the `seq_per_s` numerator). */
  def rows: Long
  /** Warm-up iterations in set-up: enough for the JIT to settle, read off
    * the per-iteration walls of long runs on a 4-core machine.
    */
  def warmups: Int = 1
  /** Generate (or reuse) the inputs; not part of set-up time. */
  def prepare(spark: SparkSession, dataDir: Path, seed: Long): Unit
  /** Compute the expected outputs; not part of set-up time. */
  def expect(): Unit
  /** Open the inputs in a fresh session (part of set-up time). */
  def open(spark: SparkSession): Unit
  /** Run one iteration, timing its legs; returns output mismatches. */
  def iteration(legs: Legs, work: Path): Seq[String]
  /** Directories this workload writes, by module (for trace attribution). */
  def moduleDirs(work: Path): Seq[(String, String)] = Nil
  /** Per-iteration counters the benchmark observes itself (files written,
    * failed partitions, violation rows), summed over iterations.
    */
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
}

object Workloads {
  /** Rows of the narrow table the lifecycle workloads share. Their
    * iterations are dominated by per-job and per-file costs (150k rows took
    * 15.5 s an iteration, 50k take 13 s), so the smaller table keeps the
    * workload within the benchmark's time budget.
    */
  val LifecycleRows = 50000L

  val Names = Seq("fullpass", "lifecycle", "resubmit", "pipeline", "stream")

  def apply(name: String): Workload = name match {
    case "fullpass" => new FullPass(300000L)
    case "lifecycle" => new Lifecycle(new PipelineRun(LifecycleRows),
      new Stream(LifecycleRows, matrix = false))
    case "resubmit" => new Resubmit(100000L, 64)
    case "pipeline" => new PipelineRun(LifecycleRows)
    case "stream" => new Stream(LifecycleRows)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(", ")})")
  }

  val dimsJson: String =
    """{"valueSets": {"allowed_sources": ["A", "N", "R"]}}"""

  def dims(spark: SparkSession): Map[String, DataFrame] =
    Map("allowed_sources" -> TokenTable.allowedDim(spark))

  /** Difference between two keyed maps, as readable problems. */
  def diff[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sortBy(_.toString).flatMap { k =>
      (got.get(k), want.get(k)) match {
        case (g, w) if g == w => None
        case (g, w) => Some(s"$what[$k]: got ${g.getOrElse("-")}, " +
          s"want ${w.getOrElse("-")}")
      }
    }.take(10)

  def summaryMap(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"))).toMap

  def passProblems(rows: Array[Row]): Seq[String] = rows.toSeq.collect {
    case r if r.getAs[Boolean]("pass") != (r.getAs[Long]("n_violations") == 0) =>
      s"summary[${r.getAs[String]("source")}]: pass flag disagrees with count"
  }
}

/** The full rule-set pass as `Bench.fullPassOn` composes it, issued call by
  * call so each output can be checked.
  */
final class FullPass(val rows: Long) extends Workload {
  val name = "fullpass"
  // pass walls keep falling for about 15 iterations (≈ 40 s of JVM time,
  // the JIT compiling throughout): 5.7, 4.2, 3.8, 3.3, ... 2.0, 1.9 s; six
  // warm-ups put the timed loop past the steepest part
  override val warmups = 6
  private var paths: InputPaths = _
  private var ref: Reference.FullPass = _
  private var tok: DataFrame = _
  private var baseline: DataFrame = _
  private var dims: Map[String, DataFrame] = _
  private val ps = Seq(0.5, 0.95)
  /** KLL rank-error guarantee at k = 200 (6/k, pinned by the engine's
    * sketch tests); the checks allow one more rank on each side.
    */
  private val rankEps = 6.0 / 200

  def prepare(spark: SparkSession, dataDir: Path, seed: Long): Unit =
    paths = Inputs.ensure(spark, dataDir, rows, seed)
  def expect(): Unit = ref = Reference.fullPass(rows)

  def open(spark: SparkSession): Unit = {
    tok = spark.read.parquet(paths.tokens)
    baseline = spark.read.parquet(paths.baseline)
    dims = Workloads.dims(spark)
  }

  def iteration(legs: Legs, work: Path): Seq[String] = {
    val ruleSet = RuleSet.default(TokenTable.Vocab)
    val (dedup, stats, summary, drift, n) = legs.leg("pass") {
      val detailed = Trace.span("rules")(Validator.violations(tok, ruleSet,
        dims)).persist(StorageLevel.MEMORY_AND_DISK)
      val stats = Trace.span("stats")(
        StatsOps.columnStatsWithQuantiles(tok, 200, ps))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val dedup = Trace.span("validator.dedup")(
          Validator.dedupIssues(detailed).collect())
        val st = Trace.span("stats")(stats.collect())
        val summary = Trace.span("validator.summary")(
          Validator.summaryFromCounts(stats, detailed).collect())
        val drift = Trace.span("drift")(Drift.sketchDriftFromQuantiles(
          stats, baseline, "n_tok", 200, ps, 2.0).collect())
        val n = Trace.span("sources")(tok.count())
        (dedup, st, summary, drift, n)
      } finally {
        detailed.unpersist(blocking = false)
        stats.unpersist(blocking = false)
      }
    }
    counters("validator.violation_rows") +=
      summary.map(_.getAs[Long]("n_violations")).sum
    check(dedup, stats, summary, drift, n)
  }

  private def check(dedup: Array[Row], stats: Array[Row],
      summary: Array[Row], drift: Array[Row], n: Long): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (n != rows) p += s"count: got $n, want $rows"
    p ++= Workloads.diff("dedup", dedup.map(r => (r.getString(0),
      r.getString(1), r.getString(2)) -> r.getLong(3)).toMap, ref.dedup)
    p ++= Workloads.diff("summary", Workloads.summaryMap(summary),
      ref.summary)
    p ++= Workloads.passProblems(summary)
    val got = stats.map(r => r.getAs[String]("source") -> r).toMap
    p ++= Workloads.diff("stats.sources", got.keySet.map(_ -> 1).toMap,
      ref.stats.keySet.map(_ -> 1).toMap)
    for ((s, want) <- ref.stats; r <- got.get(s)) {
      val exact = (r.getAs[Long]("n_rows"), r.getAs[Int]("min_n_tok"),
        r.getAs[Int]("max_n_tok"), r.getAs[Long]("null_tokens"),
        r.getAs[String]("min_doc_id"), r.getAs[String]("max_doc_id"))
      val wantExact = (want.nRows, want.minNTok, want.maxNTok,
        want.nullTokens, want.minDocId, want.maxDocId)
      if (exact != wantExact) p += s"stats[$s]: got $exact, want $wantExact"
      val avg = r.getAs[Double]("avg_n_tok")
      if (math.abs(avg - want.avgNTok) > 1e-9 * math.max(1.0, want.avgNTok))
        p += s"stats[$s].avg_n_tok: got $avg, want ${want.avgNTok}"
      val qs = r.getAs[scala.collection.Seq[Double]]("cur_qs")
      ps.zipWithIndex.foreach { case (q, k) =>
        val (lo, hi) = want.bracket(q, rankEps)
        if (qs(k) < lo || qs(k) > hi)
          p += s"stats[$s].cur_qs($q): ${qs(k)} outside [$lo, $hi]"
      }
    }
    val dmap = drift.map(r => r.getAs[String]("source") -> r).toMap
    p ++= Workloads.diff("drift.sources", dmap.keySet.map(_ -> 1).toMap,
      (ref.stats.keySet ++ ref.baselineStats.keySet).map(_ -> 1).toMap)
    for ((s, r) <- dmap) (ref.stats.get(s), ref.baselineStats.get(s)) match {
      case (Some(c), Some(b)) =>
        val md = r.getAs[Double]("max_delta")
        val bounds = ps.map { q =>
          val (cl, ch) = c.bracket(q, rankEps)
          val (bl, bh) = b.bracket(q, rankEps)
          (Seq(0, cl - bh, bl - ch).max.toDouble,
            math.max(ch - bl, bh - cl).toDouble)
        }
        val (lo, hi) = (bounds.map(_._1).max, bounds.map(_._2).max)
        if (md < lo || md > hi) p += s"drift[$s].max_delta $md outside [$lo, $hi]"
        if (r.getAs[Boolean]("drifted") != md > 2.0)
          p += s"drift[$s].drifted disagrees with max_delta $md"
      case _ =>
        if (!r.isNullAt(r.fieldIndex("max_delta")))
          p += s"drift[$s]: one-sided source has a delta"
    }
    p.result()
  }
}

/** A submission workload: fresh on an empty manifest, then again at the
  * same snapshot, with checks that the resumed leg re-validates nothing.
  */
abstract class Submission extends Workload {
  protected var paths: InputPaths = _
  protected var tok: DataFrame = _
  protected var spark: SparkSession = _
  def open(s: SparkSession): Unit = {
    spark = s
    tok = s.read.parquet(paths.tokens)
  }

  protected def coverage(leg: String, validated: Seq[String],
      skipped: Seq[String], failed: Seq[String], all: Set[String],
      fresh: Boolean): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (failed.nonEmpty) p += s"$leg: ${failed.size} partitions failed"
    if ((validated ++ skipped).toSet != all)
      p += s"$leg: validated + skipped covers ${(validated ++ skipped).toSet.size}" +
        s" of ${all.size} partitions"
    if (fresh && skipped.nonEmpty) p += s"$leg: skipped ${skipped.size} on a fresh manifest"
    if (!fresh && validated.nonEmpty) p += s"$leg: re-validated ${validated.size}"
    p.result()
  }

  /** First match wins: the drift baseline before the split it is compared
    * with, the violation store before the manifest its path extends.
    */
  override def moduleDirs(work: Path): Seq[(String, String)] = Seq(
    paths.baseline -> "drift",
    s"$work/manifest_violations" -> "store",
    s"$work/quarantine" -> "quarantine",
    s"$work/report" -> "report",
    s"$work/metrics" -> "metrics",
    s"$work/manifest" -> "runner",
    paths.tokens -> "sources")
}

/** `graft.tools.Validate.run` under wide routing, report written on both
  * legs.
  */
final class Resubmit(val rows: Long, nSets: Int) extends Submission {
  val name = "resubmit"
  private var want: Map[String, (Long, Long)] = _
  private lazy val rulesJson = graft.Queries.wideRoutingJson(nSets)

  def prepare(s: SparkSession, dataDir: Path, seed: Long): Unit =
    paths = Inputs.ensure(s, dataDir, rows, seed, wide = nSets)
  def expect(): Unit = want = Reference.wideSummary(rows, nSets)

  def iteration(legs: Legs, work: Path): Seq[String] = {
    val manifest = s"$work/manifest"
    def submit() = {
      val out = Validate.run(spark, tok, rulesJson,
        Some(Workloads.dimsJson), manifest, 1L, Some(s"$work/report"))
      (out, Trace.span("runner.summary")(out.summary.collect()))
    }
    val (fresh, freshRows) = legs.leg("fresh")(submit())
    val (files, bytes) = Fsx.dataFiles(Path.of(s"${manifest}_violations"))
    val (resumed, resumedRows) = legs.leg("resume")(submit())
    counters("store.files_written") += files
    counters("store.bytes_written") += bytes
    counters("runner.partitions_failed") +=
      fresh.failed.size + resumed.failed.size
    counters("validator.violation_rows") +=
      freshRows.map(_.getAs[Long]("n_violations")).sum
    val all = want.keySet
    coverage("fresh", fresh.validated, fresh.skipped, fresh.failed, all,
      fresh = true) ++
      coverage("resume", resumed.validated, resumed.skipped, resumed.failed,
        all, fresh = false) ++
      Workloads.diff("fresh.summary", Workloads.summaryMap(freshRows), want) ++
      Workloads.passProblems(freshRows) ++
      Workloads.diff("resume.summary", Workloads.summaryMap(resumedRows),
        Workloads.summaryMap(freshRows))
  }
}

/** The composed lifecycle (`Validate --pipeline`): schema gate, routed
  * repair, resumable validation, quarantine split, report, metrics table,
  * SLA suite and PSI drift against the baseline snapshot; fresh, then
  * resumed at the same snapshot.
  */
final class PipelineRun(val rows: Long) extends Submission {
  val name = "pipeline"
  private var wantRows: Map[String, Long] = _

  /** Four routed sources: R gets a lenient set, the rest the strict one. */
  val rulesJson: String =
    """{ "ruleSets": {
      |    "strict": [
      |      {"type":"notNull","id":"not_null_tokens","column":"tokens","severity":"fatal"},
      |      {"type":"notNull","id":"not_null_source","column":"source","severity":"fatal"},
      |      {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"},
      |      {"type":"tokenBounds","id":"token_bounds","arrayColumn":"tokens","lo":0,"hi":50000,"severity":"warning"},
      |      {"type":"range","id":"n_tok_range","column":"n_tok","lo":1,"hi":48,"severity":"warning"},
      |      {"type":"referential","id":"ref_source","column":"source","dimension":"allowed_sources"},
      |      {"type":"unique","id":"unique_doc_id","column":"doc_id","severity":"warning"}
      |    ],
      |    "lenient": [
      |      {"type":"notNull","id":"not_null_tokens","column":"tokens","severity":"fatal"},
      |      {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"}
      |    ]
      |  },
      |  "routing": { "A": "strict", "N": "strict", "R": "lenient", "bogus": "strict" },
      |  "defaultRuleSet": "strict" }""".stripMargin

  def prepare(s: SparkSession, dataDir: Path, seed: Long): Unit =
    paths = Inputs.ensure(s, dataDir, rows, seed)
  def expect(): Unit = wantRows = Reference.rowsPerSource(rows)

  def iteration(legs: Legs, work: Path): Seq[String] = {
    val args = Validate.Args(tokens = paths.tokens, rules = "", dims = None,
      manifest = s"$work/manifest", snapshot = 1L,
      report = Some(s"$work/report"), violations = None, prune = false,
      pipeline = Some(s"$work/quarantine"),
      expect = Some(TokenTable.ExpectedSchema),
      metrics = Some(s"$work/metrics"), sla = true,
      drift = Some(paths.baseline))
    def submit() = {
      val out = Validate.runPipeline(spark, tok, rulesJson,
        Some(Workloads.dimsJson), args)
      (out, out.summary.collect().sortBy(_.getString(0)).toSeq,
        out.suite.map(_.collect().sortBy(_.getString(0)).toSeq),
        out.drift.map(_.collect().sortBy(_.getString(0)).toSeq))
    }
    val (fresh, fSum, fSuite, fDrift) = legs.leg("fresh")(submit())
    val (qFiles, qBytes) = Fsx.dataFiles(Path.of(s"$work/quarantine"))
    val (sFiles, sBytes) = Fsx.dataFiles(Path.of(s"$work/manifest_violations"))
    val (resumed, rSum, rSuite, rDrift) = legs.leg("resume")(submit())
    counters("quarantine.files_written") += qFiles
    counters("quarantine.bytes_written") += qBytes
    counters("store.files_written") += sFiles
    counters("store.bytes_written") += sBytes
    counters("runner.partitions_failed") +=
      fresh.failed.size + resumed.failed.size
    counters("validator.violation_rows") +=
      fSum.map(_.getAs[Long]("n_violations")).sum
    val all = wantRows.keySet
    val p = Seq.newBuilder[String]
    p ++= coverage("fresh", fresh.validated, fresh.skipped, fresh.failed,
      all, fresh = true)
    p ++= coverage("resume", resumed.validated, resumed.skipped,
      resumed.failed, all, fresh = false)
    p ++= Workloads.diff("fresh.n_rows",
      fSum.map(r => r.getString(0) -> r.getLong(1)).toMap, wantRows)
    if (fSum.map(_.getAs[Long]("n_quarantined")).sum == 0)
      p += "fresh: nothing quarantined"
    if (rSum != fSum) p += s"resume.summary differs: $rSum vs $fSum"
    if (fSuite.isEmpty || rSuite != fSuite) p += "SLA suite missing or differs"
    if (fDrift.isEmpty || rDrift != fDrift) p += "PSI drift missing or differs"
    p.result()
  }
}

/** Streaming: stateful uniqueness into a file sink, fed the table's files
  * in two arrivals with a checkpoint restart between them, plus (with
  * `matrix`) the rule matrix over the whole table with
  * `Trigger.AvailableNow`.
  */
final class Stream(val rows: Long, matrix: Boolean = true) extends Workload {
  val name = "stream"
  private var paths: InputPaths = _
  private var ref: Reference.FullPass = _
  private var order: Seq[Path] = _
  private var spark: SparkSession = _
  private var dims: Map[String, DataFrame] = _

  def prepare(s: SparkSession, dataDir: Path, seed: Long): Unit = {
    paths = Inputs.ensure(s, dataDir, rows, seed)
    order = Inputs.arrivalOrder(paths.tokens, seed)
  }
  def expect(): Unit = ref = Reference.fullPass(rows)
  def open(s: SparkSession): Unit = {
    spark = s
    dims = Workloads.dims(s)
  }

  /** Link a batch of the table's files into the stream's input directory,
    * keeping their `source=` partition directories.
    */
  private def arrive(files: Seq[Path], in: Path): Unit = files.foreach { f =>
    val rel = Path.of(paths.tokens).relativize(f)
    val dst = in.resolve(rel)
    Files.createDirectories(dst.getParent)
    Files.createLink(dst, f)
  }

  def iteration(legs: Legs, work: Path): Seq[String] = {
    val in = work.resolve("in")
    val (first, second) = order.splitAt(order.size / 2)
    // two micro-batches per arrival
    val perTrigger = math.max(1, (first.size + 1) / 2)
    def unique() = StreamingValidation.runUniqueToFileSink(spark,
      in.toString, s"$work/ckpt", s"$work/out", perTrigger)
    arrive(first, in)
    legs.leg("arrival1")(Trace.span("streaming.unique")(unique()))
    arrive(second, in)
    val fin = legs.leg("arrival2")(
      Trace.span("streaming.unique")(unique().collect()))
    val dupProblems = Workloads.diff("unique", fin.map(r =>
      r.getString(0) -> (r.getLong(1), r.getString(2))).toMap,
      ref.duplicates)
    if (!matrix) dupProblems
    else dupProblems ++ Workloads.diff("matrix",
      legs.leg("matrix")(Trace.span("streaming.matrix")(
        StreamingValidation.runRuleMatrixAvailableNow(spark, paths.tokens,
          RuleSet.default(TokenTable.Vocab), dims, order.size / 2 + 1)
          .collect())).map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      ref.rowMatrix)
  }
}

/** `pipeline` then the stream's two arrivals in one iteration, over one
  * generated table: every way a run resumes from persisted state (the
  * batch manifest and the streaming checkpoint) in one workload, so the
  * lifecycle layers fit the benchmark's time budget next to `fullpass`.
  */
final class Lifecycle(pipeline: PipelineRun, stream: Stream)
    extends Workload {
  val name = "lifecycle"
  def rows: Long = pipeline.rows + stream.rows
  def prepare(s: SparkSession, dataDir: Path, seed: Long): Unit = {
    pipeline.prepare(s, dataDir, seed)
    stream.prepare(s, dataDir, seed)
  }
  def expect(): Unit = { pipeline.expect(); stream.expect() }
  def open(s: SparkSession): Unit = { pipeline.open(s); stream.open(s) }
  def iteration(legs: Legs, work: Path): Seq[String] = {
    val (pw, sw) = (work.resolve("pipeline"), work.resolve("stream"))
    Files.createDirectories(pw)
    Files.createDirectories(sw)
    val p = pipeline.iteration(legs, pw)
    val st = stream.iteration(legs, sw)
    pipeline.counters.foreach { case (k, v) => counters(k) += v }
    pipeline.counters.clear()
    p ++ st
  }
  override def moduleDirs(work: Path): Seq[(String, String)] =
    pipeline.moduleDirs(work.resolve("pipeline"))
}
