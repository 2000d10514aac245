package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.sql` binds every fixture table a SQL text names to `Tables.t`'s
  * plan. Each shape must give the rows and schema of the same text with
  * its tables read by path (`parquet.<path>`, written out below as the
  * reference), and binding must start no job. */
class SqlBindSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** A table reference by path: the form Spark reads by inference. */
  private def byPath(n: String) = s"parquet.`$sf/${n.toLowerCase}.parquet`"

  /** `text(tb)` bound by `Tables.sql` (tb = the bare name) equals the same
    * text with every table read by path. */
  private def sameAsPath(text: (String => String) => String): Unit = {
    val (bound, jobs) =
      Jobs.during(spark)(Tables.sql(spark, sf, text(identity)))
    assert(jobs.isEmpty, s"binding started ${jobs.size} job(s)")
    val ref = spark.sql(text(byPath))
    assert(bound.schema === ref.schema)
    val rows = bound.collect().toSeq.map(_.toString).sorted
    assert(rows.nonEmpty, "the shape must produce rows")
    assert(rows === ref.collect().toSeq.map(_.toString).sorted)
  }

  test("Tables.sql: a scalar subquery") {
    sameAsPath(tb =>
      s"""SELECT c_mktsegment, COUNT(*) AS n FROM ${tb("customer")} c
         |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM ${tb("customer")})
         |GROUP BY c_mktsegment""".stripMargin)
  }

  test("Tables.sql: EXISTS and NOT EXISTS") {
    sameAsPath(tb =>
      s"""SELECT c_custkey,
         |  EXISTS (SELECT 1 FROM ${tb("orders")} o
         |          WHERE o.o_custkey = c.c_custkey
         |            AND o.o_orderstatus = 'F') AS has_f
         |FROM ${tb("customer")} c
         |WHERE NOT EXISTS (SELECT 1 FROM ${tb("orders")} o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_orderpriority = '1-URGENT')"""
        .stripMargin)
  }

  test("Tables.sql: LATERAL") {
    sameAsPath(tb =>
      s"""SELECT c.c_custkey, o.o_orderkey FROM ${tb("customer")} c,
         |LATERAL (SELECT o_orderkey FROM ${tb("orders")}
         |         WHERE o_custkey = c.c_custkey
         |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o"""
        .stripMargin)
  }

  test("Tables.sql: a CTE over tables, referenced three times") {
    sameAsPath(tb =>
      s"""WITH lo AS (
         |  SELECT l_orderkey, l_suppkey FROM ${tb("lineitem")}
         |  JOIN ${tb("orders")} ON l_orderkey = o_orderkey)
         |SELECT a.l_suppkey, COUNT(*) AS n FROM lo a
         |WHERE EXISTS (SELECT 1 FROM lo b WHERE b.l_orderkey = a.l_orderkey
         |                AND b.l_suppkey <> a.l_suppkey)
         |  AND a.l_orderkey IN (SELECT l_orderkey FROM lo)
         |GROUP BY a.l_suppkey""".stripMargin)
  }

  test("Tables.sql: WITH RECURSIVE, with a scalar subquery over a table " +
       "in the recursive member") {
    sameAsPath(tb =>
      s"""WITH RECURSIVE years(y) AS (
         |  SELECT year(MIN(o_orderdate)) FROM ${tb("orders")}
         |  UNION ALL
         |  SELECT y + 1 FROM years
         |  WHERE y < (SELECT year(MAX(o_orderdate)) FROM ${tb("orders")}))
         |SELECT y FROM years""".stripMargin)
  }

  test("Tables.sql: an upper-case table name binds the table") {
    sameAsPath(tb => s"SELECT c_custkey, c_name FROM ${tb("CUSTOMER")}")
  }

  test("Tables.sql: events is read with its ts conversion") {
    val bound = Tables.sql(spark, sf, "SELECT * FROM events")
    val direct = Tables.t(spark, sf, "events")
    assert(bound.schema === direct.schema)
    assert(bound.collect().toSeq.map(_.toString).sorted ===
           direct.collect().toSeq.map(_.toString).sorted)
  }

  test("Tables.sql: a CTE that takes a table's name is rejected") {
    val e = intercept[IllegalArgumentException](Tables.sql(spark, sf,
      "WITH orders AS (SELECT 1 AS o) SELECT * FROM orders"))
    assert(e.getMessage.contains("orders"))
  }
}
