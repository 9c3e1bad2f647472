package perfbench

import scala.collection.mutable

/** Order statistics used for every reported timing. */
object Stat {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least `minBeyond` samples above
    * it: the sorted sample at index `n - 1 - minBeyond`, labelled with the
    * share of samples at or below it. None when the run has too few
    * samples to support any tail.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val i = s.size - 1 - minBeyond
    if (i < 0) None else Some(Tail(s(i), 100.0 * (i + 1) / s.size, s.size))
  }
}

final case class Tail(value: Double, percentile: Double, n: Int) {
  def render: String = f"$value%.4f s (p${percentile}%.1f of n=$n)"
}

/** What one iteration hands back: its timed legs (name → seconds) and any
  * mismatch between the program's output and the reference.
  */
final case class Outcome(legs: Seq[(String, Double)],
    windows: Seq[(Long, Long)], problems: Seq[String])

/** Times the legs of one iteration. Work outside `leg` (staging inputs,
  * cleaning up, checking outputs) is not timed.
  */
final class Legs {
  private val buf = mutable.ArrayBuffer.empty[(String, Double)]
  /** Each leg's (start, end) in epoch milliseconds, for the trace. */
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  def leg[A](name: String)(body: => A): A = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = body
    buf += name -> (System.nanoTime() - t0) / 1e9
    windows += w0 -> System.currentTimeMillis()
    a
  }
  def result: Seq[(String, Double)] = buf.toSeq
}

/** The closed loop: one iteration at a time, the next only after the
  * previous returns, until `seconds` have passed (and at least `minIters`
  * ran). An iteration that throws or whose output is wrong counts as
  * failed and its time is never used as a sample.
  */
final class Loop(seconds: Double, minIters: Int,
    afterEach: () => Unit = () => ()) {
  val walls = mutable.ArrayBuffer.empty[Double]
  val legWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  def run(iteration: Int => Outcome): this.type = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (attempted < minIters || elapsed < seconds) {
      attempted += 1
      try {
        val o = iteration(attempted)
        if (o.problems.nonEmpty) {
          failed += 1
          errors ++= o.problems.take(5).map(p => s"iteration $attempted: $p")
        } else {
          walls += o.legs.map(_._2).sum
          o.legs.foreach { case (k, v) =>
            legWalls.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        }
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"iteration $attempted threw: $e"
      }
      afterEach()
    }
    this
  }

  def failedFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
}
