package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.HostProbe
import graft.jobs.{ExtractionJob, JobConfig, TierJob}
import graft.pages.PageRow
import graft.text.TextOps

/** The benchmark: one workload, one seed, one JVM running Spark
  * local[N], N = min(4, cores), as a closed loop with one job in flight.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --scratch <dir> [--spans <file>]
  *
  * Untraced (`--trace 0`) it sets up three times, makes one untimed call,
  * then times the workload's call over and over for `--seconds`, and
  * prints the end-to-end metrics. Traced (`--trace 1`) it sets up once, alternates
  * untraced and traced calls, probes each layer through its public
  * functions and a SparkListener, replays every page single-threaded, and
  * prints the per-layer metrics. Either way every call's output passes the
  * correctness gate, and the last stdout line is the result object. */
object Main {
  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        scratch: Path, spans: Option[Path])

  val SetupReps = 3
  val MinCalls = 3

  def main(argv: Array[String]): Unit = {
    val ok = try { run(parse(argv)); true }
    catch { case e: Throwable => e.printStackTrace(); false }
    if (!ok) System.exit(1)
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come as --key value pairs")
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(Workload.named(kv.getOrElse("workload", "")),
      kv.getOrElse("seed", "42").toLong,
      kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1",
      Paths.get(kv.getOrElse("scratch", throw new IllegalArgumentException("--scratch is required")))
        .toAbsolutePath,
      kv.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  def session(scratch: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (1024 * 1024).toString)
      // vectored parquet reads bypass the per-thread read statistics that
      // Spark's task input metrics come from, which then miss most bytes
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(a: Args): Unit = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(a.scratch)
    val spark = session(a.scratch, cores)
    log(s"session up, local[$cores]")
    try {
      val line = if (a.trace) traced(spark, a, cores) else untraced(spark, a, cores)
      println(line)
    } finally spark.stop()
    log("session stopped")
  }

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs]: $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The host-state control, printed beside the metrics, never among them. */
  private def hostStamp(when: String, cores: Int): Unit = {
    println(f"""{"host":{"when":"$when","st_mops":${HostProbe.stProbe()}%.1f,""" +
      f""""mt_mops":${HostProbe.mtProbe(cores)}%.1f,"threads":$cores}}""")
    log(s"host probe $when")
  }

  /** One timed call, then its gate. */
  final case class Call(docs: Long, seconds: Double, rssMb: Double, verdict: Verdict)

  private def timedCall(spark: SparkSession, wl: Workload, in: Inputs,
                        goldens: Map[String, Golden], out: Path): Call = {
    wl.prepare(in, out)
    val rss = new RssSampler
    val (docs, s) = try timed(wl.call(spark, in, out)) finally rss.close()
    val (gated, gateS) = timed(wl.check(spark, goldens, out))
    log(f"${wl.name} call: $docs docs in $s%.3f s, gate $gateS%.2f s")
    // a call that commits other urls than the ones it must did other work
    val verdict = if (docs == in.docs) gated else gated.copy(
      failures = gated.failures + math.max(1L, math.abs(docs - in.docs)),
      problems = gated.problems :+ s"call committed $docs urls, expected ${in.docs}")
    Call(docs, s, rss.peakMb, verdict)
  }

  private def report(calls: Seq[Call], extraFailures: Long,
                     metrics: Seq[(String, Double, String)]): String = {
    val digests = calls.map(_.verdict.digest).distinct
    calls.flatMap(_.verdict.problems).take(5).foreach(p => System.err.println(s"gate: $p"))
    if (digests.length > 1) System.err.println(s"gate: calls disagree on the output digest: $digests")
    val attempted = calls.map(_.verdict.checked).sum
    val failed = calls.map(_.verdict.failures).sum + extraFailures
    val correct = failed == 0 && digests.length == 1 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  private def printDigest(a: Args, calls: Seq[Call]): Unit =
    println(s"""{"digest":"${calls.head.verdict.digest}","workload":"${a.workload.name}",""" +
      s""""seed":${a.seed},"docs":${calls.head.verdict.checked}}""")

  def untraced(spark: SparkSession, a: Args, cores: Int): String = {
    val wl = a.workload
    val setups = (1 to SetupReps).map { r =>
      val dir = a.scratch.resolve(s"setup-$r")
      if (r > 1) Workload.deleteTree(a.scratch.resolve(s"setup-${r - 1}"))
      val (in, s) = timed(wl.setup(spark, a.seed, dir))
      log(f"${wl.name} setup $r: $s%.3f s")
      (in, s)
    }
    val in = setups.last._1
    val goldens = Gate.goldens(spark, a.seed, wl.pages)
    // one untimed call first: the set-up's warm-up does not cover the whole
    // call path, and the first call ran ~15% slower than the next ones
    val warm = a.scratch.resolve("call-warm")
    wl.prepare(in, warm)
    wl.call(spark, in, warm)
    Workload.deleteTree(warm)
    (1 to 3).foreach(_ => Calib.rate(cores))
    hostStamp("before", cores)
    val calls = Seq.newBuilder[Call]
    // the reference rate before the first call and after every call
    val refs = Seq.newBuilder[Double]
    refs += Calib.rate(cores)
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinCalls || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val out = a.scratch.resolve(s"call-$i")
      calls += timedCall(spark, wl, in, goldens, out)
      refs += Calib.rate(cores)
      Workload.deleteTree(out)
      i += 1
    }
    hostStamp("after", cores)
    val cs = calls.result()
    val rs = refs.result()
    printDigest(a, cs)
    val mbPerS = cs.map(c => in.htmlBytes / 1e6 / c.seconds)
    // each call against the mean reference rate on either side of it
    val mbPerRef = mbPerS.indices.map(k => mbPerS(k) / ((rs(k) + rs(k + 1)) / 2))
    println(f"""{"calls":${cs.length},"docs_per_call":${in.docs},"html_mb_per_call":${in.htmlBytes / 1e6}%.3f,""" +
      f""""docs_per_s":${median(cs.map(c => c.docs / c.seconds))}%.1f,"html_mb_per_s":${median(mbPerS)}%.3f,""" +
      f""""ref_per_s":${median(rs)}%.1f}""")
    val checked = cs.map(_.verdict.checked).sum.toDouble
    report(cs, 0L, Seq(
      ("html_mb_per_ref", median(mbPerRef), "MB/ref"),
      ("ok_frac", 1.0 - cs.map(_.verdict.failures).sum / checked, "frac"),
      ("peak_rss_mb", median(cs.map(_.rssMb)), "MB"),
      ("setup_s", median(setups.map(_._2)), "s")))
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** Data files and bytes under `root` (hidden and marker files excluded). */
  private def onDisk(root: Path): (Long, Long) = {
    val walk = Files.walk(root)
    try {
      val files = walk.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(Files.size).sum)
    } finally walk.close()
  }

  def traced(spark: SparkSession, a: Args, cores: Int): String = {
    import spark.implicits._
    val wl = a.workload
    val in = wl.setup(spark, a.seed, a.scratch.resolve("setup"))
    val goldens = Gate.goldens(spark, a.seed, wl.pages)
    val tracer = new Tracer
    val log = new TaskLog(spark)
    hostStamp("before", cores)

    // job layer: planWorkSet → noop, extractDataset → noop, run. The
    // extraction this runs also warms the calls below.
    val probe = a.scratch.resolve("probe")
    wl.prepare(in, probe)
    val cfg = JobConfig(in.pagesDir, probe.toString)
    val before = ExtractionJob.committedUrls(spark, cfg).map(_.count()).getOrElse(0L)
    tracer.span("jobs.planWorkSet") {
      ExtractionJob.planWorkSet(spark, cfg).write.format("noop").mode("overwrite").save()
    }
    tracer.span("jobs.extractDataset") {
      ExtractionJob.extractDataset(spark, ExtractionJob.planWorkSet(spark, cfg), cfg)
        .write.format("noop").mode("overwrite").save()
    }
    val (committed, runMs, runTasks) = log.record(tracer.span("jobs.run")(ExtractionJob.run(spark, cfg)))
    val newUrls = committed - before
    // the extraction stage: of the stages that write output, the busiest
    val extractStage = runTasks.filter(_.outputBytes > 0).groupBy(_.stageId).values
      .maxBy(_.map(_.durationMs).sum)
    val taskMs = extractStage.map(_.durationMs.toDouble)

    // the workload's own call, warm from the probe's run: traced,
    // untraced, traced, so linear drift cancels out of trace_overhead_frac
    var last: (Call, Seq[TaskRec], Path) = null
    val untracedCalls = Seq.newBuilder[Call]
    val tracedCalls = Seq.newBuilder[Call]
    for ((withTrace, i) <- Seq(true, false, true).zipWithIndex) {
      val out = a.scratch.resolve(s"call-$i")
      if (!withTrace) {
        untracedCalls += timedCall(spark, wl, in, goldens, out)
        Workload.deleteTree(out)
      } else {
        wl.prepare(in, out)
        val rss = new RssSampler
        val (docs, ms, tasks) = try log.record(tracer.span("call")(wl.call(spark, in, out)))
          finally rss.close()
        val c = Call(docs, ms / 1e3, rss.peakMb, wl.check(spark, goldens, out))
        tracedCalls += c
        if (last != null) Workload.deleteTree(last._3)
        last = (c, tasks, out)
      }
    }
    val (call, callTasks, callOut) = last
    val (outFiles, outBytes) = onDisk(callOut)

    // text layer, over a tenth of the probe's committed table:
    // tierAssign → noop, then the whole TierJob.run, after one untimed
    // TierJob.run so neither pays for compiling its plan
    val tierInput = Workload.textSlice(spark, probe, a.scratch)
    def tier(out: String): Long = TierJob.run(spark, tierInput, out).collect().map(_.getLong(1)).sum
    tier(a.scratch.resolve("tier-warm").toString)
    tracer.span("text.tierAssign") {
      TextOps.tierAssign(ExtractionJob.readExtracted(spark, tierInput)
        .select(col("url").as("doc_id"), col("text")))
        .write.format("noop").mode("overwrite").save()
    }
    val (tierDocs, tierMs, tierTasks) =
      log.record(tracer.span("jobs.tierRun")(tier(a.scratch.resolve("tier-probe").toString)))

    hostStamp("after", cores)

    // html / extract / layout: single-thread replay of every page
    val pages = spark.read.parquet(in.pagesDir).as[PageRow].collect()
    val replay = Replay.run(pages, tracer)
    replay.guardProblems.foreach(p => System.err.println(s"replay guard: $p"))
    a.spans.foreach(tracer.write)

    val engine = replay.metrics.find(_._1 == "extract.engine_docs_per_s").get._2
    val planMs = tracer.ms("jobs.planWorkSet")
    val datasetMs = tracer.ms("jobs.extractDataset")
    val tierAssignMs = tracer.ms("text.tierAssign")
    val callMs = call.seconds * 1e3
    val tierShuffle = tierTasks.map(_.shuffleWriteBytes).sum
    val calls = untracedCalls.result() ++ tracedCalls.result()
    printDigest(a, calls)
    report(calls, replay.guardProblems.length.toLong, replay.metrics ++ Seq(
      ("jobs.plan_ms", planMs, "ms"),
      ("jobs.extract_ms", datasetMs - planMs, "ms"),
      ("jobs.commit_ms", runMs - datasetMs, "ms"),
      ("jobs.task_p50_ms", median(taskMs), "ms"),
      ("jobs.task_max_ms", taskMs.max, "ms"),
      ("jobs.task_skew", taskMs.max / median(taskMs), "ratio"),
      ("jobs.cpu_util", callTasks.map(_.cpuNs).sum / 1e6 / (callMs * cores), "frac"),
      ("jobs.gc_ms", callTasks.map(_.gcMs).sum.toDouble, "ms"),
      ("jobs.shuffle_write_mb", mb(callTasks.map(_.shuffleWriteBytes).sum), "MB"),
      ("jobs.spill_mb", mb(callTasks.map(_.spillBytes).sum), "MB"),
      ("jobs.committed_urls", newUrls.toDouble, "count"),
      ("jobs.spark_overhead_frac", 1.0 - (newUrls / (runMs / 1e3)) / (cores * engine), "frac"),
      ("jobs.tier_rewrite_ms", tierMs - tierAssignMs, "ms"),
      ("text.tier_assign_ms", tierAssignMs, "ms"),
      ("text.tier_shuffle_write_mb", mb(tierShuffle), "MB"),
      ("text.shuffle_bytes_per_doc", tierShuffle.toDouble / tierDocs, "B"),
      ("io.input_mb", mb(callTasks.map(_.inputBytes).sum), "MB"),
      ("io.output_mb", mb(outBytes), "MB"),
      ("io.output_files", outFiles.toDouble, "count"),
      ("trace_overhead_frac",
        median(tracedCalls.result().map(_.seconds)) / median(untracedCalls.result().map(_.seconds)) - 1.0,
        "frac")))
  }
}
