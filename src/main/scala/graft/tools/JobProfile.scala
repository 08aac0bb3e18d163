package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-JOB wall attribution for one named SparkEntry query (round-16
  * optimization loop): where does a wall≫cpu query's time go — which Spark
  * jobs, and how much is DRIVER GAP (time between jobs: planning, collects
  * of tiny results, file IO, commit protocol)? The bench's per-query cpu_s
  * already separates steal from work; this separates work from latency.
  *
  * Usage: JobProfile <query> [sfDir] [runs]
  * Each run `collect()`s the query, as `Verify` and the benchmarks do
  * (a `count()` lets the optimizer prune the columns they compute).
  * Prints, for every run, its wall, row count and the number of classes
  * Janino compiled during it (this JVM only); and for the LAST run (warm):
  * one line per job (start offset, wall, #tasks, call site of the SQL
  * execution the job belongs to, else the job's last stage) and a summary
  * line with the inter-job gap total.
  *
  * A warm run compiles nothing because [[graft.GraftExtensions]] turns off
  * Spark's per-session artifact class loaders;
  * `GRAFT_CONF=spark.sql.artifact.isolation.enabled=true` brings back the
  * per-session recompile for an A/B.
  *
  * GRAFT_PRERUN=q1,q2,... runs those queries once each (untimed) BEFORE the
  * profiled target — reproduces in-bench JVM state (accumulated cached
  * blocks, codegen classes) for context-dependent slowdowns.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // GRAFT_CONF="k=v;k=v" extra session confs — A/B loop for conf levers
    sys.env.get("GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b = b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class J(id: Int, t0: Long, var t1: Long = 0L,
      var nTasks: Int = 0, var cpuNs: Long = 0L, var spillMem: Long = 0L,
      var spillDisk: Long = 0L, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Integer]()
    // SQL execution id → its description (the action's call site unless a
    // job description is set). AQE query-stage jobs run on a Spark thread
    // pool, so their own stage name is a CompletableFuture frame; the
    // execution they belong to names the query that caused them.
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSite.put(s.executionId, s.description)
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          execSite.remove(s.executionId) // its jobs have all started
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (capture) {
          val props = Option(e.properties)
          val site = props
            .flatMap(p => Option(p.getProperty(
              org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)))
            .flatMap(id => Option(execSite.get(id.toLong)))
            .orElse(e.stageInfos.lastOption.map(_.name))
            .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobs.put(e.jobId, J(e.jobId, e.time, desc = site))
          e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.get(e.stageId)
        val j = if (jid != null) jobs.get(jid.intValue) else null
        val m = e.taskMetrics
        if (j != null && m != null) j.synchronized {
          j.nTasks += 1
          j.cpuNs += m.executorCpuTime
          j.spillMem += m.memoryBytesSpilled
          j.spillDisk += m.diskBytesSpilled
        }
      }
    })

    sys.env.get("GRAFT_PRERUN").foreach { pre =>
      pre.split(",").filter(_.nonEmpty).foreach { q =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(q)(spark, sfDir).collect().length
        System.err.println(
          f"[prof] prerun $q ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
      }
    }
    def jvmState(tag: String): Unit = {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
      val code = pools.filter(_.getName.startsWith("CodeHeap"))
        .map(p => f"${p.getName}=${p.getUsage.getUsed / 1e6}%.0f/" +
          f"${p.getUsage.getMax / 1e6}%.0fMB").mkString(" ")
      val gc = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
        .map(g => s"${g.getName}:${g.getCollectionTime}ms").mkString(" ")
      val heap = java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage
      System.err.println(f"[prof] jvm[$tag] $code | gc $gc | " +
        f"heap=${heap.getUsed / 1e9}%.1f/${heap.getMax / 1e9}%.1fGB")
    }
    // Poor-man's driver profiler: sample the MAIN thread's stack every 5 ms
    // during the profiled run; histogram the topmost "interesting" frame.
    // Attributes inter-job driver gaps (planning vs manifest IO vs commit).
    val sampleHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val mainThread = Thread.currentThread()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val frame = st.find { e =>
            val c = e.getClassName
            (c.startsWith("org.apache.spark") || c.startsWith("graft") ||
              c.startsWith("java.io") || c.startsWith("java.nio") ||
              c.startsWith("sun.nio")) &&
              !c.contains("JobProfile")
          }.map(e => s"${e.getClassName.split('.').last}.${e.getMethodName}")
            .getOrElse(st.headOption.map(e =>
              s"${e.getClassName.split('.').last}.${e.getMethodName}")
              .getOrElse("<idle>"))
          sampleHist.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    var lastWall = 0.0
    (1 to runs).foreach { i =>
      jobs.clear()
      capture = i == runs // only profile the warm (last) run
      jvmState(s"before run$i")
      sampleHist.clear()
      sampling = capture
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).collect().length
      lastWall = (System.nanoTime() - t0) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      sampling = false
      System.err.println(
        f"[prof] $name run$i $lastWall%8.2fs rows=$n compiled=$compiled")
      jvmState(s"after run$i")
      if (capture) {
        import scala.jdk.CollectionConverters._
        val top = sampleHist.asScala.toSeq.sortBy(-_._2).take(20)
        top.foreach { case (f, c) =>
          System.err.println(f"[prof] drv ${c * 5 / 1e3}%6.2fs  $f")
        }
      }
      if (capture) {
        // drain listener bus so every job-end landed
        try {
          val bus = spark.sparkContext.getClass.getMethod("listenerBus")
            .invoke(spark.sparkContext)
          bus.getClass.getMethods
            .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
            .foreach(_.invoke(bus))
        } catch { case scala.util.control.NonFatal(_) => Thread.sleep(300) }
        val js = jobs.values.toArray(Array.empty[J]).sortBy(_.t0)
        if (js.nonEmpty) {
          val base = js.head.t0
          var covered = 0L // union of [t0,t1] intervals, merged as we walk
          var cursor = js.head.t0
          js.foreach { j =>
            val end = if (j.t1 > 0) j.t1 else j.t0
            if (end > cursor) {
              covered += end - math.max(cursor, j.t0); cursor = end
            }
            System.err.println(
              f"[prof]   job${j.id}%3d +${(j.t0 - base) / 1e3}%7.2fs " +
                f"wall=${(end - j.t0) / 1e3}%7.3fs cpu=${j.cpuNs / 1e9}%7.2fs " +
                f"tasks=${j.nTasks}%4d spill=${(j.spillMem + j.spillDisk) / 1e6}%.0fMB" +
                f"  ${j.desc}")
          }
          val span = (cursor - base) / 1e3
          System.err.println(f"[prof] jobs=${js.length} span=$span%.2fs " +
            f"job-covered=${covered / 1e3}%.2fs " +
            f"inter-job-gap=${span - covered / 1e3}%.2fs " +
            f"outside-span=${lastWall - span}%.2fs (pre/post driver work) " +
            f"cpu_total=${js.map(_.cpuNs).sum / 1e9}%.2fs " +
            f"spill_total=${js.map(j => j.spillMem + j.spillDisk).sum / 1e6}%.0fMB")
        } else System.err.println("[prof] no jobs captured")
      }
    }
    spark.stop()
  }
}
