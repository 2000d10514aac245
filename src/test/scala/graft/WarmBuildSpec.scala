package graft

import org.scalatest.funsuite.AnyFunSuite

/** A warm query build reads table schemas from parquet footers on the
  * driver: building a batch query a second time launches no Spark job
  * outside a SQL execution (no schema-inference job, no RDD action),
  * except for the queries allowlisted below. */
class WarmBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val fixture = "/root/testdata/sf0.001"

  /** Queries whose warm build still runs non-SQL jobs, with the reason. */
  private val sqlText =
    "SQL text: parquet.`path` in Tables.sqlWith takes no schema, so " +
      "analysis infers one per table"
  val allowed: Map[String, String] = Map(
    "q21_waiting" -> sqlText,
    "q22_idle_rich" -> sqlText,
    "q2_mincost" -> sqlText,
    "sql_correlated" -> sqlText,
    "sql_exists" -> sqlText,
    "sql_lateral" -> sqlText,
    "sql_recursive" -> sqlText,
    "sql_text" -> sqlText)

  test("a second build of every batch query launches no job outside a " +
       "SQL execution, except the allowlisted ones") {
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(fixture, "events.parquet")),
      s"fixture $fixture is missing")
    val batch = (SparkEntry.queries -- graft.streaming.StreamingBatch
      .queries.keys).toSeq.sortBy(_._1)
    val nonSql = batch.map { case (name, build) =>
      build(spark, fixture)
      val (_, jobs) = Jobs.during(spark)(build(spark, fixture))
      spark.catalog.clearCache()
      name -> jobs.count(_.isEmpty)
    }
    val offenders = nonSql.filter { case (n, k) =>
      k > 0 && !allowed.contains(n) }
    assert(offenders.isEmpty, s"warm builds with non-SQL jobs: $offenders")
    // an entry whose query no longer runs such a job must go
    val stale = allowed.keySet -- nonSql.filter(_._2 > 0).map(_._1)
    assert(stale.isEmpty, s"allowlisted without a non-SQL job: $stale")
  }
}
