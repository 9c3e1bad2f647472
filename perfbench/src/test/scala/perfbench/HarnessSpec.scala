package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness's own rules (no Spark session needed). */
class HarnessSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stat.tail((1 to 10).map(_.toDouble)).isEmpty)
    val eleven = Stat.tail((1 to 11).map(_.toDouble)).get
    assert(eleven.value == 1.0 && eleven.n == 11)
    val hundred = Stat.tail((1 to 100).map(_.toDouble).reverse).get
    // 90 is the highest sample with ten (91..100) above it
    assert(hundred.value == 90.0)
    assert(hundred.percentile == 90.0)
    val many = (1 to 1000).map(_.toDouble)
    val t = Stat.tail(many).get
    assert(many.count(_ > t.value) == 10)
  }

  test("median of odd and even samples") {
    assert(Stat.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stat.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("a throwing iteration lands in failed_frac and is never a sample") {
    val loop = new Loop(seconds = 0, minIters = 4).run { i =>
      if (i == 2) throw new IllegalStateException("boom")
      Outcome(Seq("leg" -> 1.0), Nil, Nil)
    }
    assert(loop.attempted == 4)
    assert(loop.failed == 1)
    assert(loop.failedFrac == 0.25)
    assert(loop.walls.size == 3)
    assert(loop.errors.exists(_.contains("boom")))
  }

  test("a wrong output fails its iteration even though it was timed") {
    val loop = new Loop(seconds = 0, minIters = 3).run { i =>
      Outcome(Seq("leg" -> 0.5), Nil,
        if (i == 3) Seq("summary[A]: got 1, want 2") else Nil)
    }
    assert(loop.failed == 1)
    assert(loop.walls == Seq(0.5, 0.5))
  }

  test("call site maps to the engine module of its file") {
    assert(Attribution.fromCallSite("parquet at ViolationStore.scala:85")
      .contains("store"))
    assert(Attribution.fromCallSite("collect at Checkpoint.scala:70")
      .contains("runner"))
    assert(Attribution.fromCallSite("save at MetricsStore.scala:33")
      .contains("metrics"))
    assert(Attribution.fromCallSite("collect at Pipeline.scala:185").isEmpty)
    assert(Attribution.fromCallSite("collect at Workloads.scala:12").isEmpty)
    assert(Attribution.fromCallSite("").isEmpty)
  }

  test("an open span wins over the call site, the plan is the last resort") {
    val dirs = Seq("/w/tokens" -> "sources", "/w/q" -> "quarantine")
    assert(Attribution.attribute(Some("stats"),
      "parquet at ViolationStore.scala:85", None, dirs) == "stats")
    assert(Attribution.attribute(None,
      "parquet at ViolationStore.scala:85", None, dirs) == "store")
    // formatted plans: the tree first, then one paragraph per node
    val write = "Execute InsertIntoHadoopFsRelationCommand (3)\n" +
      "+- WriteFiles (2)\n   +- Scan parquet (1)\n\n" +
      "(1) Scan parquet\nLocation: InMemoryFileIndex [file:/w/tokens]\n\n" +
      "(3) Execute InsertIntoHadoopFsRelationCommand\n" +
      "Arguments: file:/w/q, false, [bucket, source], Parquet\n"
    assert(Attribution.attribute(None, "parquet at Pipeline.scala:104",
      Some(write), dirs) == "quarantine")
    assert(Attribution.attribute(None, "collect at Pipeline.scala:185",
      Some("FileScan parquet Location: InMemoryFileIndex[file:/w/tokens]"),
      dirs) == "sources")
    assert(Attribution.attribute(None, "collect at Pipeline.scala:185",
      None, dirs) == Trace.Unattributed)
  }

  test("no-job time goes to the open span, else the next job's module") {
    val jobs = Seq(
      JobRec(1, 1000, 2000, "store", "", Nil),
      JobRec(2, 2500, 3000, "runner", "", Nil))
    val s = Timeline.split(Seq((0L, 4000L)), jobs, Nil)
    // 0..1000 precedes the first rule-pass job: plan time
    assert(s.self("rules") == 1.0 && s.planS == 1.0)
    assert(s.self("store") == 1.0)
    assert(s.self("runner") == 0.5 + 0.5 + 1.0)
    assert(s.nojobS == 2.5)
    val spanned = Timeline.split(Seq((0L, 4000L)), jobs,
      Seq(SpanRec("report.write", 2000, 2500)))
    assert(spanned.self("report") == 0.5)
  }
}
