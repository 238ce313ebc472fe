package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One traced interval. Times are `System.nanoTime`; `parent` is the id of
  * the enclosing span, -1 at the top. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int) {
  def ns: Long = end - start
}

/** Records spans around calls into the program's public functions. Kept in
  * memory and written out once, when the benchmark ends. Single-threaded:
  * every traced call is made from the benchmark's main thread. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var lastClosed = -1

  def span[A](name: String)(f: => A): A = {
    val id = spans.length
    spans += null // reserve the id; filled in when the span closes
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      spans(id) = Span(id, name, t0, System.nanoTime(), parent)
      open = open.tail
      lastClosed = id
    }
  }

  /** Duration of the span that closed last. */
  def lastNs: Long = spans(lastClosed).ns

  /** Total milliseconds over every span named `name`. */
  def ms(name: String): Double = spans.iterator.filter(_.name == name).map(_.ns).sum / 1e6

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}""")
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** Metrics of one finished task, as the scheduler reports them. */
final case class TaskRec(stageId: Int, durationMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long,
                         inputBytes: Long, outputBytes: Long)

/** A SparkListener the benchmark registers for traced calls only. */
final class TaskLog(spark: SparkSession) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Runs `f` with the listener attached; returns its result, its wall
    * time in ms (the listener drain is outside it) and its tasks. */
  def record[A](f: => A): (A, Double, Seq[TaskRec]) = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    tasks.clear()
    sc.addSparkListener(this)
    try {
      val t0 = System.nanoTime()
      val a = f
      val ms = (System.nanoTime() - t0) / 1e6
      BenchBus.drain(sc)
      (a, ms, tasks.asScala.toSeq)
    } finally sc.removeSparkListener(this)
  }
}

/** Samples the resident set size of this JVM while a call runs. It
  * starts with a full GC, which lets the heap shrink back, so the peak is
  * the call's own and not whatever earlier work grew the heap to. */
final class RssSampler extends AutoCloseable {
  System.gc()
  @volatile private var running = true
  @volatile private var peakKb = RssSampler.rssKb()
  private val thread = new Thread(() => {
    while (running) {
      val kb = RssSampler.rssKb()
      if (kb > peakKb) peakKb = kb
      Thread.sleep(5)
    }
  })
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = { running = false; thread.join() }
  def peakMb: Double = math.max(peakKb, RssSampler.rssKb()) / 1024.0
}

object RssSampler {
  def rssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmRSS:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}
