package osmbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory span recorder for the traced run: one span per call into a
  * layer, with its parent, kept until the run ends. Off (no spans, no
  * clock reads) in the untraced run. */
final class Spans(on: Boolean) {
  import Spans.Span
  val spans = ArrayBuffer.empty[Span]
  private var open = List(-1)

  def apply[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, open.head)
      open = idx :: open
      try f finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int)
}

/** Spark-side counters for the traced run, from a listener the
  * benchmark registers. Jobs are attributed to a phase through the
  * `osmbench.phase` local property the benchmark sets around its calls. */
final class SparkCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var taskCpuNs = 0L
  @volatile var inputBytes = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  val jobsByPhase = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) epoch ms of every finished job. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    starts.put(e.jobId, e.time)
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty("osmbench.phase"))).getOrElse("")
    jobsByPhase.merge(phase, 1L, (a, b) => a + b)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach(s => intervals.add((s.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def phaseJobs(p: String): Long = Option(jobsByPhase.get(p)).map(_.longValue).getOrElse(0L)

  /** Milliseconds of [t0, t1] covered by at least one job. */
  def jobCoverMs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.toSeq.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    c
  }
  def drain(spark: SparkSession): Unit = org.apache.spark.OsmbenchBridge.drain(spark.sparkContext)
}

/** Process-wide JVM readings: CPU, GC, JIT, allocation. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Bytes allocated so far by the live threads. */
  def allocBytes: Long = threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap in use after full collections. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
