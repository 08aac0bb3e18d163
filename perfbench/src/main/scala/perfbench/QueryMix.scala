package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.util.hashing.MurmurHash3

/** `query_mix`: `SparkEntry.queries` in six families, one pass per
  * iteration, each pass in a fresh `newSession()` so the per-session memo
  * fronts (dedup, graph, ANN) are rebuilt as for a new user while JIT and
  * process-level caches stay warm. The seed rotates the query order; the
  * fronts move with it, which is why family totals are the steady numbers.
  */
final class QueryMix(spark: SparkSession, cfg: Config, tracer: Tracer) extends Workload {
  import QueryMix._

  private val order: Vector[String] = {
    val all = Families.flatMap(_._2)
    val k = Math.floorMod(cfg.seed, all.size.toLong).toInt
    all.drop(k) ++ all.take(k)
  }

  def stage(): Unit = {
    val missing = order.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
  }

  def iteration(traced: Boolean): IterResult = {
    // A new user's session is the active one on the thread that serves it;
    // operators that resolve functions through `SparkSession.active` rely
    // on that (see the README's known defects).
    val session = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(session)
    val errors = Vector.newBuilder[String]
    var failed = 0
    val results = scala.collection.mutable.Map.empty[String, Array[Row]]
    val walls = scala.collection.mutable.Map.empty[String, Double]
    val t = Iteration.timed(tracer, traced, "mix.pass") {
      order.foreach { q =>
        val t0 = System.nanoTime()
        tracer.span(s"q.$q") {
          try results(q) = graft.SparkEntry.queries(q)(session, cfg.dataDir).collect()
          catch {
            case e: Exception =>
              failed += 1
              Extraction.noteFailure(s"query $q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
        walls(s"q.${q}_s") = (System.nanoTime() - t0) / 1e9
      }
    }
    results.foreach { case (q, rows) =>
      val (n, d) = digest(rows)
      val (wantN, wantD) = Expected(q)
      if (n != wantN || d != wantD)
        errors += s"query $q returned $n rows / digest $d, expected $wantN / $wantD"
    }
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val layers = t.view.map(layerMetrics).getOrElse(Map.empty)
    IterResult(t.wallS, t.cpuS, walls.toMap + ("mix_s" -> t.wallS), order.size, failed, errors.result(),
      layers, t.view, t.heapMiB)
  }

  private def layerMetrics(v: TraceView): Map[String, Double] = {
    val perQuery = order.map(q => s"q.${q}_s" -> v.wall(s"q.$q")).toMap
    val perFamily = Families.flatMap { case (fam, qs) =>
      val spans = qs.flatMap(q => v.named(s"q.$q"))
      val js = spans.flatMap(v.jobsUnder)
      Seq(
        s"$fam.wall_s" -> spans.map(_.wallS).sum,
        s"$fam.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"$fam.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
        s"$fam.jobs" -> js.size.toDouble,
        s"$fam.driver_gap_s" -> spans.map(v.driverGapS).sum)
    }.toMap
    val querySpans = order.flatMap(q => v.named(s"q.$q"))
    perQuery ++ perFamily ++ Iteration.sparkTotals(v) ++
      Map("spark.driver_gap_s" -> querySpans.map(v.driverGapS).sum)
  }
}

object QueryMix {
  /** The six families and their queries, in base order: the cheapest
    * query of each family in a 22-query probe, so a pass fits the run length. */
  val Families: Vector[(String, Vector[String])] = Vector(
    "sql" -> Vector("q1_pricing_summary"),
    "dedup" -> Vector("dedup_semantic"),
    "search" -> Vector("sim_ann_ivf"),
    "joins" -> Vector("skew_salted_join"),
    "lake" -> Vector("k8_snapshot_timetravel"),
    "stream" -> Vector("ev_stream_tumbling"))

  /** Row count and [[digest]] of each query's result over `data/sf0.01`,
    * pinned from the results of a run of these queries that
    * `tools/check_oracle.py` reported all green against DuckDB. */
  val Expected: Map[String, (Long, Long)] = Map(
    "q1_pricing_summary" -> (6L, -1307200294242283869L),
    "dedup_semantic" -> (1L, -1703392976866835925L),
    "sim_ann_ivf" -> (1L, 8373657266163053630L),
    "skew_salted_join" -> (14743L, 764719200630616346L),
    "k8_snapshot_timetravel" -> (15000L, 3990139275999342871L),
    "ev_stream_tumbling" -> (3370L, 7966298541465878709L))

  /** Row count and an order-independent digest of `rows`: the wrapping sum
    * of a 64-bit hash of each row's values rendered as text. Every value the
    * mix returns is rounded where it is computed, so the digest repeats
    * exactly. */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map { r =>
      val text = r.toSeq.map(render).mkString("(", ",", ")")
      (MurmurHash3.stringHash(text, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(text, 0x3c6ef372) & 0xffffffffL)
    }.sum)

  /** A timestamp renders as its instant, so the digest does not depend on
    * the JVM's time zone. */
  private def render(v: Any): String = v match {
    case null => "\u0000"
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  def layerNames: Vector[String] =
    Families.flatMap(_._2).map(q => s"q.${q}_s") ++
      Families.map(_._1).flatMap(f =>
        Vector(s"$f.wall_s", s"$f.cpu_s", s"$f.shuffle_bytes", s"$f.jobs", s"$f.driver_gap_s"))
}
