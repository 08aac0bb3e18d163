package graft

import org.apache.spark.sql.SparkSession

/** Named queries answer for the session that runs them, not for the
  * thread's active session: graft's vector and sketch columns carry their
  * Catalyst expressions, so a session that never registered a function
  * resolves them too.
  */
class FreshSessionSpec extends SparkSpec {

  test("dedup_semantic then sim_ann_ivf on a non-active fresh session return the shared session's rows") {
    SparkSession.setActiveSession(spark)
    val fresh = spark.newSession()
    def rows(s: SparkSession, name: String): Seq[String] =
      SparkEntry.queries(name)(s, sf0001).collect().map(_.toString).toSeq.sorted
    val names = Seq("dedup_semantic", "sim_ann_ivf")
    val onFresh = names.map(n => n -> rows(fresh, n)).toMap
    assert(SparkSession.getActiveSession.exists(_ eq spark))
    assert(onFresh("dedup_semantic") == Seq("[500,82,true]"))
    names.foreach(n => assert(onFresh(n) == rows(spark, n), n))
  }
}
