package graft

import org.apache.spark.sql.functions._
import graft.operators.Transforms
import graft.sources.StrideReader

/** Transform-chain semantics against live DataFrames, incl. the reference's
  * behavioral quirks (SURVEY.md §7.4).
  */
class TransformsSpec extends SparkSpec {
  import spark.implicits._

  test("trim exempts the audit hash column (sybaseiq_extractor.py:102)") {
    val df = Seq(("  x  ", "  h  ")).toDF("s", Transforms.AuditHashCol)
    val out = Transforms.trimStringColumns(df).head()
    assert(out.getString(0) == "x")
    assert(out.getString(1) == "  h  ") // audit column untouched
  }

  test("date parts are unpadded strings (month=3 not 03)") {
    val df = Seq(java.sql.Timestamp.valueOf("1995-03-07 10:00:00")).toDF("d")
    val out = Transforms.datePartColumns("d")(df)
      .select("year", "month", "day").as[(String, String, String)].head()
    assert(out == ("1995", "3", "7"))
  }

  test("pipeline order: normalize -> audit -> trim") {
    val df = Seq((" v ", 1)).toDF("Bad Name", "N")
    val out = Transforms.pipeline("h1",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))(df)
    assert(out.columns.toSet ==
      Set("bad_name", "n", Transforms.AuditTsCol, Transforms.AuditHashCol))
    val row = out.head()
    assert(row.getAs[String]("bad_name") == "v") // trimmed after audit
    assert(row.getAs[String](Transforms.AuditHashCol) == "h1")
  }

  test("the load timestamp stays out of the generated code: two runs " +
      "share their compiled source") {
    val df = spark.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS s")
    def source(ts: String): Seq[String] =
      Transforms.pipeline("h1", java.sql.Timestamp.valueOf(ts))(df)
        .queryExecution.debug.codegenToSeq().map(_._2)
    val a = source("2026-01-01 00:00:00")
    val b = source("2026-06-30 12:34:56.789")
    assert(a.nonEmpty)
    assert(a == b, "generated source differs between two load timestamps")
  }

  test("the audit timestamp is the load time, with lit's type and " +
      "nullability (codegen and interpreted)") {
    val ts = java.sql.Timestamp.valueOf("2026-03-04 05:06:07.123456")
    for (df <- Seq(Seq((" v ", 1L)).toDF("Bad Name", "N"),
        spark.range(0, 3).selectExpr("' v ' AS `Bad Name`", "id AS N"))) {
      val out = Transforms.pipeline("h1", ts)(df)
      val viaLit = Transforms.trimStringColumns(
        Transforms.normalizeColumnNames(df)
          .withColumn(Transforms.AuditTsCol, lit(ts))
          .withColumn(Transforms.AuditHashCol, lit("h1")))
      assert(out.schema.treeString == viaLit.schema.treeString)
      assert(out.select(Transforms.AuditTsCol).distinct().as[java.sql.Timestamp]
        .collect().toSeq == Seq(ts))
    }
  }

  test("stride predicates partition the key space completely (S1)") {
    // JDBCRelation.columnPartition semantics: first/last stripes unbounded
    val stripes = StrideReader.stripes("k", 0, 100, 4)
    assert(stripes.size == 4)
    assert(stripes.head == "k < 25")
    assert(stripes.last == "k >= 75")
    // union of striped reads == full relation even with out-of-bounds keys
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val striped = StrideReader.readStriped(li, "l_orderkey", 100, 200, 5)
    assert(striped.count() == li.count())
  }

  test("single-partition stride is the identity predicate") {
    assert(StrideReader.stripes("k", 0, 100, 1) == Seq("1=1"))
  }
}
