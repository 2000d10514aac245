package graft

import org.scalatest.funsuite.AnyFunSuite

/** A warm query build reads table schemas from parquet footers on the
  * driver: building a batch query a second time launches no Spark job
  * outside a SQL execution (no schema-inference job, no RDD action), and
  * a SQL-text query, whose tables are bound by `Tables.sql`, launches no
  * job at all. */
class WarmBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val fixture = "/root/testdata/sf0.001"

  /** The queries written as SQL text. */
  val sqlText = Seq("q21_waiting", "q22_idle_rich", "q2_mincost",
    "sql_correlated", "sql_exists", "sql_lateral", "sql_recursive",
    "sql_text")

  /** The jobs of `name`'s second build, by SQL execution id. */
  private def warmJobs(name: String): Seq[Option[String]] = {
    val build = SparkEntry.queries(name)
    build(spark, fixture)
    val (_, jobs) = Jobs.during(spark)(build(spark, fixture))
    spark.catalog.clearCache()
    jobs
  }

  test("a second build of every batch query launches no job outside a " +
       "SQL execution") {
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(fixture, "events.parquet")),
      s"fixture $fixture is missing")
    val batch = (SparkEntry.queries.keySet -- graft.streaming.StreamingBatch
      .queries.keys).toSeq.sorted
    val offenders = batch.map(n => n -> warmJobs(n).count(_.isEmpty))
      .filter(_._2 > 0)
    assert(offenders.isEmpty, s"warm builds with non-SQL jobs: $offenders")
  }

  test("a second build of each SQL-text query launches no job at all") {
    val offenders = sqlText.map(n => n -> warmJobs(n).size).filter(_._2 > 0)
    assert(offenders.isEmpty, s"warm builds with jobs: $offenders")
  }
}
