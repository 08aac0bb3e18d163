package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String, cpus: Int)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** One iteration's outcome. `wallS`/`cpuS` cover the timed section only;
  * checks run after it. `view` holds the trace of a traced iteration. */
final case class IterResult(wallS: Double, cpuS: Double, extra: Map[String, Double],
    attempted: Int, failed: Int, errors: Seq[String], layers: Map[String, Double],
    view: Option[TraceView], heapMiB: Double)

trait Workload {
  /** Untimed fixture staging and its checks. */
  def stage(): Unit
  /** Untimed, checked iterations between the cold one and the timed ones. */
  def warmups: Int = 0
  def iteration(traced: Boolean): IterResult
}

object Iteration {
  final case class Timed(wallS: Double, cpuS: Double, heapMiB: Double, view: Option[TraceView])

  /** Times `body`, with executor CPU and post-GC heap peak over the same
    * window; traced iterations run it inside a root span `root`. */
  def timed(tracer: Tracer, traced: Boolean, root: String)(body: => Unit): Timed = {
    // jobs of the previous iteration's untimed checks belong to no window
    tracer.collect()
    val cpu0 = tracer.cpuSeconds
    HeapWatch.reset()
    val t0 = System.nanoTime()
    if (traced) tracer.span(root)(body) else body
    val wall = (System.nanoTime() - t0) / 1e9
    val heap = HeapWatch.peakMiB
    tracer.drain()
    val cpu = tracer.cpuSeconds - cpu0
    val view = tracer.collect()
    Timed(wall, cpu, heap, if (traced) Some(view) else None)
  }

  /** Task totals of every job of a traced iteration. */
  def sparkTotals(v: TraceView): Map[String, Double] = Map(
    "spark.jobs" -> v.jobs.size.toDouble,
    "spark.executor_cpu_s" -> v.jobs.map(_.cpuNs).sum / 1e9,
    "spark.gc_s" -> v.jobs.map(_.gcMs).sum / 1e3,
    "spark.shuffle_bytes" -> v.jobs.map(_.shuffleBytes).sum.toDouble,
    "spark.spill_bytes" -> v.jobs.map(_.spillBytes).sum.toDouble)

  /** Share of the time of spans that have children which no child covers. */
  def uncoveredFrac(v: TraceView): Double = {
    val parents = v.spans.filter(s => v.spans.exists(_.parent == s.id))
    val wall = parents.map(_.wallS).sum
    if (wall <= 0) 0.0 else parents.map(v.selfS).sum / wall
  }
}

object Main {
  /** Warm iterations per run even when one outlasts `--seconds`: a pass of
    * `query_mix` takes longer than the run length, and one sample per run
    * spreads too much. */
  val MinWarmIterations = 2
  /** Largest share of traced span time that child spans may leave uncovered. */
  val CoverageBound = 0.05

  def buildSession(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
      .config("spark.local.dir", s"${cfg.workDir}/spark-local")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.TableCatalog.registerAll(spark, cfg.dataDir)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    HeapWatch.install()
    // set-up is timed from JVM start, so class loading, extension start-up
    // and the first jobs of the process count into it
    val spark = buildSession(cfg)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark.sparkContext, cfg.trace)
    val wl: Workload = cfg.workload match {
      case "extract_many_plans" => new Extraction(spark, cfg, tracer)
      case "query_mix" => new QueryMix(spark, cfg, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var exit = 0
    try {
      wl.stage()
      val cold = wl.iteration(traced = false)
      val warmup = Seq.fill(wl.warmups)(wl.iteration(traced = false))
      val warm = ArrayBuffer.empty[IterResult]
      val deadline = System.nanoTime() + cfg.seconds * 1000000000L
      // traced runs alternate untraced and traced iterations, starting and
      // ending untraced, so the tracing overhead is measured in one process
      // without charging the JIT's warming to either side
      def needMore = warm.size < MinWarmIterations ||
        (cfg.trace && (warm.count(_.view.isEmpty) < 2 || warm.forall(_.view.isEmpty)))
      while (System.nanoTime() < deadline || needMore)
        warm += wl.iteration(traced = cfg.trace && warm.size % 2 == 1)
      val all = (cold +: warmup) ++ warm
      val errors = all.flatMap(_.errors).distinct
      val untraced = warm.filter(_.view.isEmpty).toSeq
      val traced = warm.filter(_.view.isDefined).toSeq
      report(cfg, setupS, cold, untraced, all)
      val metrics: Seq[(String, Double, String)] =
        if (!cfg.trace) Seq(
          ("setup_s", setupS, "s"),
          ("cold_s", cold.wallS, "s"),
          ("warm_s", median(untraced.map(_.wallS)), "s"),
          ("cpu_s", median(untraced.map(_.cpuS)), "cpu-s"))
        else layerMetrics(traced, untraced)
      val coverageErrors =
        if (!cfg.trace) Nil
        else metrics.collect { case ("trace.uncovered_frac", v, _) if !(v <= CoverageBound) =>
          f"trace: spans leave $v%.4f of traced span time uncovered (bound $CoverageBound)" }
      val allErrors = errors ++ coverageErrors
      allErrors.foreach(e => println(s"CHECK FAILED: $e"))
      val json = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
      println(s"""PERFBENCH_RESULT {"correct": ${allErrors.isEmpty}, "attempted": ${all.map(_.attempted).sum}, "failed": ${all.map(_.failed).sum}, "metrics": $json}""")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Per-layer medians over the traced iterations, every declared name. */
  private def layerMetrics(traced: Seq[IterResult], untraced: Seq[IterResult]): Seq[(String, Double, String)] = {
    val overhead = median(traced.map(_.wallS)) - median(untraced.map(_.wallS))
    val cover = median(traced.flatMap(_.view).map(Iteration.uncoveredFrac))
    Layers.all.map { case (name, unit) =>
      val v = name match {
        case "trace_overhead_s" => overhead
        case "trace.uncovered_frac" => cover
        case "jvm.heap_peak_mb" => median(traced.map(_.heapMiB))
        case _ => median(traced.map(_.layers.getOrElse(name, 0.0)))
      }
      (name, v, unit)
    }
  }

  /** Human-readable lines: each end-to-end metric under the name its
    * workload gives it, as a median with its sample count and range. */
  private def report(cfg: Config, setupS: Double, cold: IterResult, warm: Seq[IterResult],
      all: Seq[IterResult]): Unit = {
    def line(name: String, xs: Seq[Double], unit: String): Unit =
      if (xs.nonEmpty) println(f"report ${cfg.workload} $name%-14s median=${median(xs)}%.4f $unit%-7s n=${xs.size} min=${xs.min}%.4f max=${xs.max}%.4f")
    line("setup_s", Seq(setupS), "s")
    line("cold_s", Seq(cold.wallS), "s")
    line("warm_s", warm.map(_.wallS), "s")
    val keys = warm.flatMap(_.extra.keys).distinct.sorted
    keys.foreach(k => line(k, warm.flatMap(_.extra.get(k)), Layers.extraUnit(k)))
    line("cpu_s", warm.map(_.cpuS), "cpu-s")
    line("heap_peak_mb", warm.map(_.heapMiB), "MiB")
    val att = all.map(_.attempted).sum
    val fl = all.map(_.failed).sum
    println(f"report ${cfg.workload} fail_frac      ${fl.toDouble / math.max(att, 1)}%.4f ratio   ($fl of $att)")
  }
}
