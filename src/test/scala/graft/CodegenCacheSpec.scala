package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import graft.streaming.StreamingBatch

/** Spark's generated-code cache stays warm across repeated queries: a
  * second run of the same query compiles nothing. Two of
  * GraftSession.settings (which TestSpark applies too) make that hold — a
  * cache sized above the suite's working set, and artifact isolation off
  * so each streaming run's cloned session does not key the cache by a new
  * classloader. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val fixture = "/root/testdata/sf0.001"

  /** Generated classes Janino compiled while `body` ran (any thread). */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def requireFixture(): Unit =
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(fixture, "events.parquet")),
      s"fixture $fixture is missing")

  test("a second streaming_quota run compiles no generated class") {
    requireFixture()
    def run() = StreamingBatch.streamingQuota(spark, fixture).collect()
    val first = run()
    assert(first.nonEmpty)
    var second: Array[org.apache.spark.sql.Row] = null
    assert(compiles { second = run() } === 0L)
    assert(second.toSeq === first.toSeq)
  }

  test("a second pass over more queries than the default 100-entry cache " +
       "holds compiles no generated class") {
    requireFixture()
    // TPC-H shapes: scans, joins, aggregates, windows and top-k across all
    // eight tables, compiled once on the driver and once on executor
    // threads — well past 100 cache entries in one pass
    val names = Seq("q1_agg", "q2_mincost", "q3_topk", "q5_join",
      "q6_filter", "q7_volume", "q8_share", "q9_profit", "q10_returned",
      "q11_important", "q13_custdist", "q14_promo", "q15_topsupp",
      "q17_smallqty", "q18_bigorders", "q21_waiting", "q22_idle_rich")
    def pass(): Long = compiles {
      names.foreach { n =>
        SparkEntry.queries(n)(spark, fixture).collect()
        spark.catalog.clearCache()
      }
    }
    // AQE re-plans by the order in which query stages finish, so a repeat
    // run can meet a plan variant (and code) it has not compiled before;
    // fixed plans make every compile in the second pass a cache miss
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      pass()
      assert(pass() === 0L)
    } finally spark.conf.set(aqe, prev)
  }
}
