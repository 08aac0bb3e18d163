package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root. */
final class Span(val id: Long, val name: String, val parent: Long) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def wallS: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = counters.merge(key, v, (a, b) => a + b)
}

/** Task totals of one Spark job. */
final class JobRec(val id: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's `SparkListener` plus its driver spans.
  *
  * Executor CPU is always summed (untraced runs report `cpu_s` from it).
  * With tracing on, each span stamps its id into the thread's Spark local
  * properties, so every job is attributed to the innermost span that
  * submitted it, and the span time that no job covers is the driver gap.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val nextId = new AtomicLong(1L)
  private val current = new ThreadLocal[Span]
  private val spanQueue = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val cpuNs = new AtomicLong(0L)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  /** Executor CPU seconds of all tasks so far (call [[drain]] first). */
  def cpuSeconds: Double = cpuNs.get / 1e9

  /** Runs `body` inside a span named `name`. The parent is the calling
    * thread's current span unless given (pool threads pass it). */
  def span[A](name: String, parent: Span = null)(body: => A): A =
    if (!enabled) body
    else {
      val outer = current.get
      val p = if (parent != null) parent else outer
      val s = new Span(nextId.getAndIncrement(), name, if (p == null) 0L else p.id)
      spanQueue.add(s)
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        current.set(outer)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** The calling thread's current span, or null outside any span. */
  def currentOrNull: Span = current.get

  /** Adds `v` to counter `key` of the calling thread's current span. */
  def count(key: String, v: Double): Unit =
    if (enabled) Option(current.get).foreach(_.add(key, v))

  /** Takes every span and job recorded so far, clearing both. */
  def collect(): TraceView = {
    drain()
    val spans = Iterator.continually(spanQueue.poll()).takeWhile(_ != null).toVector
    val js = jobs.values.asScala.toVector
    jobs.clear(); stageJob.clear()
    new TraceView(spans, js)
  }
}

/** Span and job records of one traced iteration, with the derived times. */
final class TraceView(val spans: Vector[Span], val jobs: Vector[JobRec]) {
  private val children = spans.groupBy(_.parent)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  /** Sum of the wall times of spans named `name`, seconds. */
  def wall(name: String): Double = named(name).map(_.wallS).sum

  def counter(name: String, key: String): Double =
    named(name).map(s => Option(s.counters.get(key)).map(_.doubleValue).getOrElse(0.0)).sum

  /** Span `s` and all spans below it. */
  def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  /** Jobs submitted inside `s` or any span below it. */
  def jobsUnder(s: Span): Vector[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.filter(j => ids(j.span))
  }

  /** Jobs submitted directly inside spans named `name`. */
  def jobsIn(name: String): Vector[JobRec] = {
    val ids = named(name).map(_.id).toSet
    jobs.filter(j => ids(j.span))
  }

  /** Time of `s` not covered by any of its child spans, seconds. */
  def selfS(s: Span): Double = {
    val kids = children.getOrElse(s.id, Vector.empty)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
    s.wallS - Intervals.unionLength(kids) / 1e9
  }

  /** Time of `s` during which none of its jobs ran, seconds. */
  def driverGapS(s: Span): Double = {
    val iv = jobsUnder(s).filter(_.endMs > 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
    math.max(0.0, s.wallS - Intervals.unionLength(iv) / 1e3)
  }
}

object Intervals {
  /** Total length covered by the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Highest heap occupancy observed right after a garbage collection, from
  * the JVM's GC notifications. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener, Notification}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = peak.set(0L)

  /** Peak post-GC heap since [[reset]], MiB; the current heap use when no
    * collection ran in between. */
  def peakMiB: Double = {
    val p = peak.get
    val v = if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    v / (1024.0 * 1024.0)
  }
}
