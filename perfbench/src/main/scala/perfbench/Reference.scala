package perfbench

import scala.collection.mutable

/** One generated token row, recomputed from the FIXTURES.md §2 injection
  * congruences over [[Lineitem]] (never read back from the engine).
  */
final case class TokRow(orderkey: Long, key: Long, docId: String,
    tokensNull: Boolean, nTrue: Int, nTok: Int, source: String,
    firstOutOfVocab: Boolean)

object TokRow {
  val Vocab = 50000

  def apply(i: Long): TokRow = {
    val ok = Lineitem.orderkey(i)
    val ln = Lineitem.linenumber(i)
    val key = ok * 7 + ln
    val q = Lineitem.quantity(i)
    TokRow(ok, key,
      if (key % 101 == 0) s"dup-${ok % 13}" else s"$ok-$ln",
      key % 107 == 0, q, q + (if (key % 97 == 0) 1 else 0),
      if (key % 103 == 0) "bogus" else Lineitem.returnflag(i),
      key % 109 == 0)
  }
}

/** Expected per-source statistics (the exact part of
  * `StatsOps.columnStatsWithQuantiles`) plus the exact `n_tok`
  * distribution, which brackets the KLL quantiles.
  */
final case class SourceStats(nRows: Long, minNTok: Int, maxNTok: Int,
    sumNTok: Long, nullTokens: Long, minDocId: String, maxDocId: String,
    hist: Map[Int, Long]) {
  def avgNTok: Double = sumNTok.toDouble / nRows

  /** Exact value at rank `r` (0-based) of the sorted `n_tok` column. */
  def valueAtRank(r: Long): Int = {
    val rr = math.max(0L, math.min(nRows - 1, r))
    var seen = 0L
    hist.toSeq.sortBy(_._1).find { case (_, c) => seen += c; seen > rr }
      .map(_._1).get
  }

  /** [lo, hi] that a rank-`eps` sketch quantile at `p` must lie in. */
  def bracket(p: Double, eps: Double): (Int, Int) =
    (valueAtRank(math.floor((p - eps) * nRows).toLong - 1),
      valueAtRank(math.ceil((p + eps) * nRows).toLong))
}

/** Closed-form expected outputs of every workload. */
object Reference {

  val Allowed = Set("A", "N", "R")

  final case class Violation(ruleId: String, severity: String,
      detailGeneric: String, source: String)

  /** Row-rule and referential violations of `RuleSet.default` on one row. */
  def rowViolations(r: TokRow): Seq[Violation] = {
    val b = Seq.newBuilder[Violation]
    if (r.tokensNull) b += Violation("not_null_tokens", "fatal",
      "tokens is null: minimum required = 1, but only found 0", r.source)
    if (!r.tokensNull && r.nTok != r.nTrue) b += Violation("len_consistency",
      "error", s"n_tok=${r.nTok} size=${r.nTrue}", r.source)
    if (!r.tokensNull && r.firstOutOfVocab) b += Violation("token_bounds",
      "warning", s"token out of [0,${TokRow.Vocab})", r.source)
    if (!Allowed(r.source)) b += Violation("ref_source", "error",
      "source='?' not in allowed_sources", r.source)
    b.result()
  }

  /** Full default rule-set pass over `n` rows: (dedup signatures,
    * per-source summary, per-source stats, duplicate set, per-(source,
    * rule) row/referential counts).
    */
  final case class FullPass(
      dedup: Map[(String, String, String), Long],
      summary: Map[String, (Long, Long)],
      stats: Map[String, SourceStats],
      baselineStats: Map[String, SourceStats],
      /** doc_id → (count, min source) for every duplicated doc_id. */
      duplicates: Map[String, (Long, String)],
      /** (source, rule_id) → count, row + referential rules only. */
      rowMatrix: Map[(String, String), Long])

  private final class StatsAcc {
    var n = 0L; var mn = Int.MaxValue; var mx = Int.MinValue; var sum = 0L
    var nulls = 0L; var minId: String = null; var maxId: String = null
    val hist = mutable.HashMap.empty[Int, Long]
    def add(r: TokRow): Unit = {
      n += 1; mn = math.min(mn, r.nTok); mx = math.max(mx, r.nTok)
      sum += r.nTok; if (r.tokensNull) nulls += 1
      if (minId == null || r.docId < minId) minId = r.docId
      if (maxId == null || r.docId > maxId) maxId = r.docId
      hist(r.nTok) = hist.getOrElse(r.nTok, 0L) + 1
    }
    def result: SourceStats =
      SourceStats(n, mn, mx, sum, nulls, minId, maxId, hist.toMap)
  }

  def fullPass(n: Long): FullPass = {
    val dedup = mutable.HashMap.empty[(String, String, String), Long]
    val nv = mutable.HashMap.empty[String, Long]
    val stats = mutable.HashMap.empty[String, StatsAcc]
    val base = mutable.HashMap.empty[String, StatsAcc]
    val dupCount = mutable.HashMap.empty[String, (Long, String)]
    val matrix = mutable.HashMap.empty[(String, String), Long]
    var i = 0L
    while (i < n) {
      val r = TokRow(i)
      stats.getOrElseUpdate(r.source, new StatsAcc).add(r)
      if (r.orderkey % 2 == 0)
        base.getOrElseUpdate(r.source, new StatsAcc).add(r)
      rowViolations(r).foreach { v =>
        val sig = (v.severity, v.ruleId, v.detailGeneric)
        dedup(sig) = dedup.getOrElse(sig, 0L) + 1
        nv(v.source) = nv.getOrElse(v.source, 0L) + 1
        matrix((v.source, v.ruleId)) =
          matrix.getOrElse((v.source, v.ruleId), 0L) + 1
      }
      if (r.docId.startsWith("dup-")) {
        val (c, s) = dupCount.getOrElse(r.docId, (0L, r.source))
        dupCount(r.docId) = (c + 1, if (r.source < s) r.source else s)
      }
      i += 1
    }
    val dups = dupCount.filter(_._2._1 > 1).toMap
    dups.foreach { case (_, (c, s)) =>
      val sig = ("warning", "unique_doc_id", s"doc_id occurs $c times")
      dedup(sig) = dedup.getOrElse(sig, 0L) + 1
      nv(s) = nv.getOrElse(s, 0L) + 1
    }
    val st = stats.map { case (s, a) => s -> a.result }.toMap
    FullPass(dedup.toMap,
      st.map { case (s, x) => s -> (x.nRows, nv.getOrElse(s, 0L)) },
      st, base.map { case (s, a) => s -> a.result }.toMap, dups,
      matrix.toMap)
  }

  /** Per-source (n_rows, n_violations) of the `wideRouting(nSets)` pass
    * over the wide table: source `<flag>_<okey mod nSets>` routed to set
    * `p<okey mod nSets>` (not-null tokens, length consistency, n_tok in
    * [1, 10 + b mod 37)).
    */
  def wideSummary(n: Long, nSets: Int): Map[String, (Long, Long)] = {
    val acc = mutable.HashMap.empty[String, (Long, Long)]
    var i = 0L
    while (i < n) {
      val r = TokRow(i)
      val b = (r.orderkey % nSets).toInt
      val src = s"${r.source}_$b"
      var v = 0L
      if (r.tokensNull) v += 1
      if (!r.tokensNull && r.nTok != r.nTrue) v += 1
      if (r.nTok < 1 || r.nTok >= 10 + b % 37) v += 1
      val (c0, v0) = acc.getOrElse(src, (0L, 0L))
      acc(src) = (c0 + 1, v0 + v)
      i += 1
    }
    acc.toMap
  }

  /** Per-source row counts of the narrow table. */
  def rowsPerSource(n: Long): Map[String, Long] = {
    val acc = mutable.HashMap.empty[String, Long]
    var i = 0L
    while (i < n) {
      val s = TokRow(i).source
      acc(s) = acc.getOrElse(s, 0L) + 1
      i += 1
    }
    acc.toMap
  }
}
