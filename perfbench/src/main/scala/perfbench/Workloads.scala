package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.{ExtractionJob, JobConfig}
import graft.pages.PagesTable

/** What one setup leaves for the timed calls. `input` is the workload's
  * pre-committed output root (none for crawl_fresh); `precommitted` is the
  * number of urls committed there. `docs` counts the urls each call must
  * commit, `htmlBytes` the html of the whole pages table it runs over. */
final case class Inputs(pagesDir: String, input: Option[Path], precommitted: Long,
                        docs: Long, htmlBytes: Long)

/** A workload: its set-up and the output root its timed call starts
  * from. The call is the same for both: `ExtractionJob.run` with the
  * default `JobConfig`, writing under its own fresh `out` root. */
sealed trait Workload {
  def name: String
  /** Pages 0 until `pages` of the seed, sized so one call takes seconds
    * on 4 cores. */
  def pages: Int
  def setup(spark: SparkSession, seed: Long, dir: Path): Inputs
  /** Lays out `out` before the call; not timed. */
  def prepare(in: Inputs, out: Path): Unit = ()

  /** The timed call; returns the urls it committed. */
  final def call(spark: SparkSession, in: Inputs, out: Path): Long =
    Workload.extract(spark, in.pagesDir, out) - in.precommitted

  /** The correctness gate over the call's committed table. */
  final def check(spark: SparkSession, goldens: Map[String, Golden], out: Path): Verdict =
    Gate.check(Gate.read(spark, out.resolve("extracted").toString), goldens)
}

object Workload {
  val all: Seq[Workload] = Seq(CrawlFresh, CrawlResume)
  def named(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; one of ${all.map(_.name).mkString(", ")}"))

  /** The urls treated as one tenth of the pages: the JIT warm-up of
    * crawl_fresh and the slice the text-layer probes tier. */
  val tenth: Column = pmod(hash(col("url")), lit(10)) === 0

  /** The urls treated as half of the pages: the uncommitted remainder of
    * crawl_resume. */
  val half: Column = pmod(hash(col("url")), lit(10)) < 5

  /** Html bytes of a pages table. */
  def htmlBytes(pages: DataFrame): Long = pages.agg(sum(length(col("html")))).head().getLong(0)

  /** Writes the pages table of `seed`; returns its path. */
  def pages(spark: SparkSession, seed: Long, n: Int, dir: Path): String = {
    val pagesDir = dir.resolve("pages").toString
    PagesTable.generate(spark, seed, n).write.parquet(pagesDir)
    pagesDir
  }

  /** ExtractionJob.run with the default JobConfig; returns committed urls. */
  def extract(spark: SparkSession, pagesDir: String, out: Path): Long =
    ExtractionJob.run(spark, JobConfig(pagesDir, out.toString))

  /** The tenth slice of a committed output root, as an extracted table:
    * the text-layer probe input, kept small because tiering costs about
    * twice what extraction does per document. */
  def textSlice(spark: SparkSession, committed: Path, dir: Path): String = {
    val slice = dir.resolve("text-input").toString
    spark.read.parquet(committed.resolve("extracted").toString).filter(tenth).write.parquet(slice)
    slice
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}

/** ExtractionJob.run with the default JobConfig into an empty output root.
  * The extractor and layout do most of the work here. */
object CrawlFresh extends Workload {
  val name = "crawl_fresh"
  // the top 1% of pages by block count carry ~30% of layout time; the
  // sample is large so that the cost per html byte holds still across seeds
  val pages = 4000
  def setup(spark: SparkSession, seed: Long, dir: Path): Inputs = {
    val pagesDir = Workload.pages(spark, seed, pages, dir)
    val warm = dir.resolve("warm")
    val warmPages = warm.resolve("pages").toString
    spark.read.parquet(pagesDir).filter(Workload.tenth).write.parquet(warmPages)
    Workload.extract(spark, warmPages, warm.resolve("out"))
    Workload.deleteTree(warm)
    Inputs(pagesDir, None, 0L, pages.toLong, Workload.htmlBytes(spark.read.parquet(pagesDir)))
  }
}

/** ExtractionJob.run into an output root where about half of the urls are
  * already committed; the call extracts the rest. Beside extraction, the
  * job layer does work crawl_fresh skips: the scan of a committed table,
  * the resume anti-join, appending to a table the run also reads, and
  * metrics compaction. */
object CrawlResume extends Workload {
  val name = "crawl_resume"
  // the same pages as crawl_fresh. With a tenth left to extract, the call
  // was ~2 s of mostly fixed job overhead, and its throughput spread ~24%
  // (IQR over median) across ten seeds, the host's drift included; with
  // half, extraction sets most of the time, as in crawl_fresh
  val pages = 4000
  def setup(spark: SparkSession, seed: Long, dir: Path): Inputs = {
    val pagesDir = Workload.pages(spark, seed, pages, dir)
    val committedPages = dir.resolve("pages-committed").toString
    spark.read.parquet(pagesDir).filter(!Workload.half).write.parquet(committedPages)
    val template = dir.resolve("committed")
    // this extraction is also the JIT warm-up
    val precommitted = Workload.extract(spark, committedPages, template)
    val all = spark.read.parquet(pagesDir)
    Inputs(pagesDir, Some(template), precommitted, all.filter(Workload.half).count(),
      Workload.htmlBytes(all))
  }
  /** Restores the pre-committed root. */
  override def prepare(in: Inputs, out: Path): Unit = Workload.copyTree(in.input.get, out)
}
