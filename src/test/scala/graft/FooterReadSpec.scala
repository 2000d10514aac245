package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.{Files, Paths}

/** `Tables.read` takes a table's schema from its first footer on the
  * driver: the schema must equal Spark's inferred one on every layout the
  * engine reads, no job may run, and a bad path must fail as Spark's own
  * reader fails. `Tables.rowCount` must equal `count()`. */
class FooterReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val required = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val fixtures = required ++
    Seq("/root/testdata/sf0.1").filter(d => Files.isDirectory(Paths.get(d)))

  private def requireFixtures(): Unit = required.foreach { d =>
    assert(Files.isRegularFile(Paths.get(d, "lineitem.parquet")),
      s"fixture $d is missing")
  }

  /** Tables.read's schema equals inference's, and reading starts no job. */
  private def sameAsInferred(path: String): DataFrame = {
    val (df, jobs) = Jobs.during(spark)(Tables.read(spark, path))
    assert(jobs.isEmpty, s"$path: Tables.read started ${jobs.size} job(s)")
    assert(df.schema === spark.read.parquet(path).schema, path)
    df
  }

  test("Tables.read: footer schema equals the inferred schema on every " +
       "fixture table (events under nanosAsLong), with no job") {
    requireFixtures()
    Tables.ensureNanosAsLong(spark)
    for (d <- fixtures; n <- Tables.names)
      sameAsInferred(s"$d/$n.parquet")
  }

  test("Tables.read: a Spark-written Pipeline layer, a Staged.layer and " +
       "a hive-partitioned dir read with the inferred schema") {
    requireFixtures()
    val sf = "/root/testdata/sf0.001"
    val work = TestFixtures.tempDir("graft_footer").toString
    Pipeline.run(spark, sf, work,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    Seq("raw_revenue", "raw_qty", "cleaned")
      .foreach(l => sameAsInferred(s"$work/$l"))

    val staged = Staged.layer(spark,
      Staged.key("footer_spec", sf, "nation", work))(
      Tables.t(spark, sf, "nation").withColumn("tag", lit("x")))
    val stagedDir = staged.inputFiles
      .map(f => Paths.get(new java.net.URI(f)).getParent.toString).distinct
    assert(stagedDir.length === 1)
    assert(sameAsInferred(stagedDir.head).schema === staged.schema)

    val parted = s"$work/parted"
    TestFixtures.writePartitioned(Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus")), parted, Seq("o_orderstatus"))
    val df = sameAsInferred(parted)
    assert(df.columns.last === "o_orderstatus") // discovered, not in footer
    assert(df.filter(col("o_orderstatus") === "F").count() ===
      spark.read.parquet(parted).filter(col("o_orderstatus") === "F").count())
  }

  test("Tables.read: the symlinked stream dir readEvents peeks") {
    requireFixtures()
    Tables.ensureNanosAsLong(spark)
    val d = TestFixtures.tempDir("graft_footer_stream")
    Files.createSymbolicLink(d.resolve("events.parquet"),
      Paths.get("/root/testdata/sf0.001/events.parquet"))
    sameAsInferred(d.toString)
  }

  test("Tables.read fails like spark.read.parquet: PATH_NOT_FOUND for a " +
       "missing path, UNABLE_TO_INFER_SCHEMA for an empty dir") {
    val d = TestFixtures.tempDir("graft_footer_err")
    def condition(f: => DataFrame) =
      intercept[AnalysisException](f).getCondition
    val missing = d.resolve("nope.parquet").toString
    assert(condition(Tables.read(spark, missing)) === "PATH_NOT_FOUND")
    assert(condition(Tables.read(spark, missing)) ===
      condition(spark.read.parquet(missing)))
    val empty = Files.createDirectory(d.resolve("empty")).toString
    val successOnly = Files.createDirectory(d.resolve("success_only"))
    Files.createFile(successOnly.resolve("_SUCCESS"))
    for (p <- Seq(empty, successOnly.toString)) {
      assert(condition(Tables.read(spark, p)) === "UNABLE_TO_INFER_SCHEMA")
      assert(condition(Tables.read(spark, p)) ===
        condition(spark.read.parquet(p)))
    }
    assert(intercept[AnalysisException](
      Tables.rowCount(spark, missing)).getCondition === "PATH_NOT_FOUND")
  }

  test("Tables.rowCount equals count() on every fixture table and on a " +
       "multi-file Spark-written dir, with no job") {
    requireFixtures()
    Tables.ensureNanosAsLong(spark)
    val multi = TestFixtures.tempDir("graft_footer_count").resolve("m")
      .toString
    Tables.t(spark, "/root/testdata/sf0.01", "lineitem").repartition(5)
      .write.parquet(multi)
    assert(new java.io.File(multi).list().count(_.endsWith(".parquet")) > 1)
    val paths = multi +: (for (d <- fixtures; n <- Tables.names)
      yield s"$d/$n.parquet")
    for (p <- paths) {
      val (n, jobs) = Jobs.during(spark)(Tables.rowCount(spark, p))
      assert(jobs.isEmpty, s"$p: rowCount started ${jobs.size} job(s)")
      assert(n === spark.read.parquet(p).count(), p)
    }
  }
}
