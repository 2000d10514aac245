package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Partitioned-layout + compaction utilities: partition pruning must be
  * visible in the plan, and compaction must shrink file counts without
  * changing data. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def parquetFiles(p: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(p))
    try s.filter(f => f.toString.endsWith(".parquet") &&
      Files.isRegularFile(f)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
    finally s.close()
  }

  test("writePartitioned produces per-key dirs and predicates prune " +
       "partitions at the scan") {
    val dir = TestFixtures.tempDir("graft_layout").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    TestFixtures.writePartitioned(ev, s"$dir/events_by_type",
      Seq("event_type"))
    assert(Files.exists(Paths.get(s"$dir/events_by_type/event_type=click")))

    val clicks = spark.read.parquet(s"$dir/events_by_type")
      .filter(col("event_type") === "click")
    val scan = clicks.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PartitionFilters").contains("event_type"),
      "equality on the partition key must prune directories")
    assert(clicks.count() ===
      ev.filter(col("event_type") === "click").count())
  }

  test("compact shrinks the file count and preserves every row") {
    val dir = TestFixtures.tempDir("graft_layout").toString
    val path = s"$dir/events_part"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // force a fragmented layout: many tasks × every partition dir
    TestFixtures.writePartitioned(ev.repartition(8), path,
      Seq("event_type"))
    val before = parquetFiles(path).size
    val rowsBefore = spark.read.parquet(path).count()

    Pipeline.compact(spark, path, Seq("event_type"))
    val after = parquetFiles(path).size
    assert(after < before, s"expected fewer files, got $before -> $after")
    assert(spark.read.parquet(path).count() === rowsBefore)
    // per-partition-dir: exactly one file after compaction at this size
    val clickFiles = parquetFiles(s"$path/event_type=click").size
    assert(clickFiles === 1)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact " +
       "partitions at RUNTIME, not just static predicates") {
    import spark.implicits._
    val dir = TestFixtures.tempDir("graft_layout").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    TestFixtures.writePartitioned(ev, s"$dir/by_type", Seq("event_type"))
    val fact = spark.read.parquet(s"$dir/by_type")
    // the fact query never names the surviving types — only the dim's
    // filter knows them, so pruning must be DYNAMIC (planned as a
    // subquery filter on the partition column). The dim must be a real
    // file scan: a local relation constant-folds its filter away and
    // leaves no selective predicate for the DPP rule to latch onto.
    Seq(("click", 1.5), ("view", 1.0), ("purchase", 9.0),
        ("error", 0.0), ("signup", 0.0))
      .toDF("event_type", "weight")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val j = fact.join(dim.filter(col("weight") > 0.5), Seq("event_type"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected a runtime partition-pruning subquery:\n$plan")
    assert(j.count() ===
      ev.filter(col("event_type").isin("click", "view", "purchase"))
        .count())
  }
}
