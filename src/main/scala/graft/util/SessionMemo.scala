package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Build-once memo for intermediate results that several queries share:
  * per-session fronts (dedup grams, graph edges, ANN layouts and models)
  * and process-wide staged fixtures.
  *
  *  - Every key owns a cell, and a value builds under its own cell's lock
  *    only: concurrent callers of the same key wait for the one build,
  *    callers of other keys never do, and a build may read other keys.
  *  - A build that throws caches nothing; the next call builds again.
  *  - [[apply]] keys by session identity, so sessions never share RDD
  *    state. Its entries are dropped when the session's SparkContext ends
  *    (one listener per context). [[shared]] entries live for the process.
  */
final class SessionMemo {

  private final class Cell {
    private var value: AnyRef = _
    private var built = false
    def get(build: () => AnyRef): AnyRef = synchronized {
      if (!built) { value = build(); built = true }
      value
    }
  }

  // owner is the session for session scope, this memo for process scope
  private val cells = new ConcurrentHashMap[(AnyRef, String), Cell]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The value of `key` in session `s`, built once per session. */
  def apply[V <: AnyRef](s: SparkSession, key: String)(build: => V): V = {
    val sc = s.sparkContext
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        cells.keySet.removeIf(_._1 match {
          case o: SparkSession => o.sparkContext eq sc
          case _ => false
        })
        watched.remove(sc)
      }
    })
    get(s, key, () => build)
  }

  /** The value of `key` for the whole process, built once. */
  def shared[V <: AnyRef](key: String)(build: => V): V =
    get(this, key, () => build)

  // computeIfAbsent only creates the cell; the build runs outside it, so a
  // nested build never re-enters the map's own update
  private def get[V](owner: AnyRef, key: String, build: () => AnyRef): V =
    cells.computeIfAbsent((owner, key), _ => new Cell)
      .get(build).asInstanceOf[V]
}
