package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TokenTable

/** Synthetic lineitem rows in closed form. Row `i` of `n`:
  *
  *  - `l_orderkey   = i / 4 + 1`
  *  - `l_linenumber = i % 4 + 1`
  *  - `l_quantity   = (11 i mod 50) + 1`
  *  - `l_returnflag = N | A | R` by `(40503 i mod 97)` (skewed towards N)
  *
  * [[TokenTable.fromLineitem]] turns these into token rows and injects the
  * FIXTURES.md §2 violations off `key = l_orderkey * 7 + l_linenumber`.
  * [[Reference]] recomputes every expected output from the same formulas
  * in plain Scala, so no check depends on the engine under test.
  */
object Lineitem {
  def orderkey(i: Long): Long = i / 4 + 1
  def linenumber(i: Long): Int = (i % 4).toInt + 1
  def quantity(i: Long): Int = ((i * 11) % 50).toInt + 1
  def returnflag(i: Long): String = {
    val m = (i * 40503) % 97
    if (m < 48) "N" else if (m < 72) "A" else "R"
  }

  /** The same rows as a distributed frame (no driver-side data). */
  def frame(spark: SparkSession, n: Long): DataFrame = {
    val i = col("id")
    val m = pmod(i * 40503L, lit(97L))
    spark.range(n).select(
      (i.divide(4).cast("long") + 1).as("l_orderkey"),
      (pmod(i, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(i * 11L, lit(50L)) + 1).cast("int").as("l_quantity"),
      when(m < 48, lit("N")).when(m < 72, lit("A")).otherwise(lit("R"))
        .as("l_returnflag"))
  }
}

/** Where one workload's generated inputs live. */
final case class InputPaths(tokens: String, baseline: String)

/** Input generation, cached in the benchmark's own directory.
  *
  * A canonical table per (table, rows) is derived once with Spark through
  * [[TokenTable.fromLineitemKeyed]] in the engine's token-cache layout: 32
  * hash classes of rows, one file each per `source` partition (the wide
  * table unpartitioned), 8 MB row groups. A seed's table hard-links those
  * files under seeded names, so the seed permutes which row class lands in
  * which file (and, for the stream, the order files arrive), changes no
  * expected output, and costs milliseconds: rewriting the rows per seed
  * cost 15-60 s a run, more than the benchmark's time budget allows.
  */
object Inputs {

  val Files32 = 32
  /** Seeded tables kept per canonical table; older seeds are evicted. */
  val CachedSeeds = 12

  private def done(dir: Path): Boolean = Files.exists(dir.resolve("_SUCCESS"))
  private def markDone(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  private def writeClasses(keyed: DataFrame, dir: Path, partitioned: Boolean)
      : Unit = {
    val w = keyed.repartition(Files32, xxhash64(col("key"))).drop("key")
      .write.mode("overwrite")
      .option("parquet.block.size", (8L * 1024 * 1024).toString)
    (if (partitioned) w.partitionBy("source") else w).parquet(dir.toString)
  }

  private def list(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
  }

  /** Hard-link the data files of every leaf directory of `canon` under
    * `out`, renamed in a seeded order.
    */
  private def assemble(canon: Path, out: Path, seed: Long): Unit = {
    def leaf(dir: Path): Unit = {
      val (dirs, files) = list(dir)
        .filterNot(p => "_.".contains(p.getFileName.toString.head))
        .partition(Files.isDirectory(_))
      dirs.foreach(leaf)
      val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
      if (data.nonEmpty) {
        val target = out.resolve(canon.relativize(dir))
        Files.createDirectories(target)
        new scala.util.Random(seed * 31 + target.getFileName.hashCode)
          .shuffle(data).zipWithIndex.foreach { case (f, i) =>
            Files.createLink(target.resolve(f"part-$i%05d.parquet"), f) }
      }
    }
    leaf(canon)
  }

  /** Keep the cache bounded: at most `keep` seeded tables per prefix. */
  private def evict(dataDir: Path, prefix: String, keep: Int): Unit =
    list(dataDir).filter(_.getFileName.toString.startsWith(prefix))
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
      .drop(keep).foreach(Fsx.deleteTree)

  /** Token table (+ even-orderkey baseline) of `rows` rows for `seed`, or
    * the wide variant whose `source` carries an `okey mod wide` bucket
    * suffix. `spark` is only used when the canonical table is missing.
    */
  def ensure(spark: => SparkSession, dataDir: Path, rows: Long, seed: Long,
      wide: Int = 0): InputPaths = {
    val name = (if (wide > 0) s"tok_wide${wide}" else "tok") + s"_r$rows"
    val canon = dataDir.resolve(s"canon_$name")
    if (!done(canon)) {
      Fsx.deleteTree(canon)
      val li = Lineitem.frame(spark, rows)
      val keyed = TokenTable.fromLineitemKeyed(li)
      if (wide > 0)
        writeClasses(keyed.withColumn("source", concat(col("source"),
          lit("_"), (col("okey") % wide).cast("string"))),
          canon.resolve("tokens"), partitioned = false)
      else {
        writeClasses(keyed, canon.resolve("tokens"), partitioned = true)
        writeClasses(TokenTable.fromLineitemKeyed(
          li.where(col("l_orderkey") % 2 === 0)), canon.resolve("baseline"),
          partitioned = true)
      }
      markDone(canon)
    }
    val prefix = s"${name}_s"
    val dir = dataDir.resolve(s"$prefix$seed")
    if (!done(dir)) {
      Fsx.deleteTree(dir)
      evict(dataDir, prefix, CachedSeeds - 1)
      Seq("tokens", "baseline").map(canon.resolve).filter(Files.exists(_))
        .foreach(t => assemble(t, dir.resolve(t.getFileName), seed))
      markDone(dir)
    }
    InputPaths(dir.resolve("tokens").toString, dir.resolve("baseline").toString)
  }

  /** The token table's data files in the seed's arrival order. */
  def arrivalOrder(tokens: String, seed: Long): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Path.of(tokens))
    val all = try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    new scala.util.Random(seed).shuffle(all.sortBy(_.toString))
  }
}

object Fsx {
  def deleteTree(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally s.close()
  }

  /** Parquet files under `p` and their total size in bytes. */
  def dataFiles(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      val fs = s.iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}
