package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark work done on behalf of one request (or one build step). */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                      cpuNs: Long = 0, inputBytes: Long = 0,
                      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                      spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, inputBytes + o.inputBytes,
    shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, inputBytes - o.inputBytes,
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** Listener that counts all Spark work, and attributes it to the job
  * group set on the submitting thread. Events arrive on the listener-bus
  * thread; reads drain the bus first, so a count read right after an
  * action includes that action's last stage and task events. */
final class Counters(sc: SparkContext) extends SparkListener {
  private val all = new AtomicReference(Work())
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def add(g: Option[String], w: Work): Unit = {
    all.accumulateAndGet(w, _ + _)
    g.foreach(byGroup.merge(_, w, _ + _))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(x => e.stageIds.foreach(s => stageGroup.put(s, x)))
    add(g, Work(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(Option(stageGroup.get(e.stageInfo.stageId)), Work(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add(Option(stageGroup.get(e.stageId)), if (m == null) Work(tasks = 1) else Work(tasks = 1,
      cpuNs = m.executorCpuTime, inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled))
  }

  /** All work counted so far, whatever its group. */
  def total: Work = {
    BenchBus.drain(sc)
    all.get()
  }

  /** Counts of `group` so far, removing them. */
  def take(group: String): Work = {
    BenchBus.drain(sc)
    Option(byGroup.remove(group)).getOrElse(Work())
  }

  /** Run `f` under job group `group` on this thread and return its work. */
  def scoped[T](group: String)(f: => T): (T, Work) = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try { val v = f; (v, take(group)) }
    finally sc.clearJobGroup()
  }
}

/** One traced layer call. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, request: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread; all spans of one
  * request share its id. Disabled, it records nothing and costs one
  * branch per call. Written out once, at the end of a run. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val request = new ThreadLocal[String] { override def initialValue = "-" }

  def withRequest[T](id: String)(f: => T): T = {
    val prev = request.get(); request.set(id)
    try f finally request.set(prev)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, request.get(), t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time of every span: its duration minus the time its direct
    * children cover (children run on the parent's thread, in sequence). */
  def selfNs: Seq[(Span, Long)] = {
    val s = all
    val childNs = s.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    s.map(x => x -> math.max(0L, x.durNs - childNs.getOrElse(x.id, 0L)))
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":"${s.request}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Host conditions around a run: evidence for telling a noisy window
  * from a regression. Reported beside the metrics, never gated on. */
object Host {
  /** Seconds of CPU steal summed over all CPUs, from /proc/stat. */
  def stealS: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else -1.0
    } finally src.close()
  } catch { case _: Exception => -1.0 }

  /** Single-threaded copy bandwidth over a 64 MiB buffer, GB/s (best of 3). */
  def memBandwidthGBs: Double = {
    val n = 8 << 20
    val a = new Array[Long](n); val b = new Array[Long](n)
    java.util.Arrays.fill(a, 7L)
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(a, 0, b, 0, n)
      val s = (System.nanoTime() - t0) / 1e9
      2.0 * n * 8 / s / 1e9
    }.max
  }

  /** CPU time of this process, all threads, ns. The kernel charges time
    * stolen by the hypervisor to steal, not to the process, so this reads
    * the same work the same way in a noisy window. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Used heap right after a full collection, MB. Collected three times:
    * Spark's ContextCleaner frees broadcast and shuffle state only after
    * a collection has cleared the weak references to it. */
  def liveHeapMb: Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val h = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / 1048576.0
  }

  def static(spark: org.apache.spark.sql.SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"))
}
