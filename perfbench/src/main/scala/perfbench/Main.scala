package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * {{{
  * Main --workload <fullpass|resubmit|pipeline|stream> --seed N
  *      --seconds S --trace 0|1 --dir <benchmark state dir>
  * }}}
  * Generates (or reuses) the inputs, sets up, runs the closed loop for `S`
  * seconds on `local[4]` and prints human-readable `#` lines, then one JSON
  * line: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`.
  */
object Main {

  val Cores = 4
  val SetupReps = 3
  val MB = 1024.0 * 1024.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dir: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("dir")).toAbsolutePath)
  }

  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.local(cores, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val heap = ManagementFactory.getMemoryMXBean

  /** Driver heap in use right after a full collection. */
  def heapAfterGc(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.Drain.unpersisted(sc, maxMs = 2000)
    System.gc()
    heap.getHeapMemoryUsage.getUsed / MB
  }

  /** Tracing overhead: median traced minus median untraced iteration. */
  def overheadS(traced: collection.Seq[Double],
      untraced: collection.Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Stat.median(traced.toSeq) - Stat.median(untraced.toSeq)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload)
    val work = a.dir.resolve("work")
    Fsx.deleteTree(work)
    Files.createDirectories(work)

    var iterNo = 0
    def runOne(legs: Legs): Outcome = {
      iterNo += 1
      val dir = work.resolve(s"it$iterNo")
      Files.createDirectories(dir)
      try {
        val problems = w.iteration(legs, dir)
        Outcome(legs.result, legs.windows.toSeq, problems)
      } finally Fsx.deleteTree(dir)
    }

    // set-up: session start and opening the inputs, repeated SetupReps
    // times (median reported), then the workload's warm-up iterations,
    // whose outputs are checked too. The first session also makes the
    // inputs (cached by seed and size) and the expected outputs; that time
    // is reported on its own and left out of set-up time.
    var spark: SparkSession = null
    var genS = 0.0
    val opens = (1 to SetupReps).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(Cores)
      if (k == 1) {
        val tg = System.nanoTime()
        w.prepare(spark, a.dir.resolve("data"), a.seed)
        val te = System.nanoTime()
        w.expect()
        println(f"# inputs ${secs(tg) - secs(te)}%.2f s, expected outputs ${secs(te)}%.2f s")
        genS = secs(tg)
      }
      w.open(spark)
      secs(t0) - (if (k == 1) genS else 0.0)
    }
    val tw = System.nanoTime()
    val warm = (1 to w.warmups).map { _ =>
      try runOne(new Legs).problems
      catch { case e: Throwable => Seq(s"threw: $e") }
    }
    val setupProblems = warm.flatten.map(p => s"warm-up: $p")
    val warmS = secs(tw)

    val recorder = new Recorder
    if (a.trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streamListener)
    }
    var heapPeak = 0.0
    val tracedWalls = collection.mutable.ArrayBuffer.empty[Double]
    val untracedWalls = collection.mutable.ArrayBuffer.empty[Double]
    val windows = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var tracedIters = 0
    w.counters.clear()
    val loop = new Loop(a.seconds, minIters = if (a.trace) 2 else 1,
      afterEach = () => heapPeak = math.max(heapPeak,
        heapAfterGc(spark.sparkContext))).run { i =>
      // traced runs alternate traced and untraced iterations; the
      // difference of their medians is the tracing overhead
      val traced = a.trace && i % 2 == 0
      if (traced) {
        // directories of this iteration, for plan-path attribution
        recorder.dirs = w.moduleDirs(work.resolve(s"it${iterNo + 1}"))
        Trace.sc = Some(spark.sparkContext)
        recorder.on = true
      }
      val o = try runOne(new Legs) finally {
        if (traced) {
          org.apache.spark.perfbench.Drain(spark.sparkContext)
          recorder.on = false
          Trace.sc = None
        }
      }
      if (o.problems.isEmpty) {
        val wall = o.legs.map(_._2).sum
        if (traced) {
          tracedIters += 1
          tracedWalls += wall
          windows ++= o.windows
        } else untracedWalls += wall
      }
      o
    }

    val layers = if (!a.trace) None else {
      val overhead = overheadS(tracedWalls, untracedWalls)
      val (ms, split) = Layers.compute(recorder, Trace.spans.toSeq,
        windows.toSeq, tracedIters, Cores, w.counters.toMap,
        loop.attempted - loop.failed, w.rows, overhead)
      Some((ms, Layers.table(w.name, recorder, split, windows.toSeq,
        tracedIters, overhead,
        if (untracedWalls.isEmpty) 0.0 else Stat.median(untracedWalls.toSeq))))
    }

    // scaling leg (traced fullpass runs): the same input at local[1],
    // untraced, after the local[4] loop; its first iteration warms up
    val scaling = if (a.workload != "fullpass" || !a.trace) None else {
      spark.stop()
      spark = session(1)
      w.open(spark)
      val one = new Loop(0, minIters = 2).run(_ => runOne(new Legs))
      loop.attempted += one.attempted
      loop.failed += one.failed
      loop.errors ++= one.errors.map(e => s"local[1] $e")
      if (one.walls.size < 2 || untracedWalls.isEmpty) None
      else Some(Stat.median(one.walls.drop(1).toSeq) /
        Stat.median(untracedWalls.toSeq) / Cores)
    }
    spark.stop()

    val problems = setupProblems ++ loop.errors
    problems.take(20).foreach(p => println(s"# problem: $p"))
    val attempted = loop.attempted + w.warmups
    val failed = loop.failed + warm.count(_.nonEmpty)
    val setupS = Stat.median(opens) + warmS
    val walls = loop.walls.toSeq
    val seqPerS = if (walls.isEmpty) 0.0 else w.rows / Stat.median(walls)
    println(s"# workload ${w.name}: ${w.rows} input sequences per iteration, " +
      f"inputs ready in $genS%.2f s (not gated)")
    println(f"# set-up: session + open ${opens.map(s => f"$s%.3f").mkString(", ")} s, " +
      f"${w.warmups} warm-up iteration(s) $warmS%.3f s")
    loop.legWalls.foreach { case (k, v) =>
      val t = Stat.tail(v.toSeq).map(_.render).getOrElse(s"n/a (n=${v.size} < 11)")
      println(f"# leg $k%-9s p50 ${Stat.median(v.toSeq)}%.4f s, tail $t")
    }
    println(s"# iteration walls (s): ${walls.map(x => f"$x%.3f").mkString(" ")}")
    println(s"# pass_s_tail ${Stat.tail(walls).map(_.render).getOrElse(s"n/a (n=${walls.size} < 11)")}")
    scaling.foreach(e => println(f"# scaling_eff $e%.4f (local[4] vs local[1], same input)"))
    println(f"# failed_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted)")
    println(f"# driver_heap_mb $heapPeak%.1f (peak heap after GC over the timed loop)")

    val metrics: Seq[(String, Double, String)] = layers match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("seq_per_s", seqPerS, "seq/s"))
      case Some((ms, table)) =>
        print(table)
        (ms ++ Seq(
          Layers.Metric("driver.heap_mb", heapPeak, "MB"),
          Layers.Metric("exec.scaling_eff", scaling.getOrElse(0.0), "ratio")))
          .map(m => (m.name, m.value, m.unit))
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $body}""")
    Fsx.deleteTree(work)
  }
}
