package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source-format coverage beyond parquet: CSV and NDJSON round-trips with
  * EXPLICIT schemas imposed on read (the reference's stance — schemas are
  * declared, never inferred; SURVEY.md §1.3), including the malformed-row
  * behavior each format needs at ingest. */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n", LongType)))

  test("CSV round-trip with imposed schema; malformed rows -> null fields " +
       "(PERMISSIVE), count preserved") {
    val dir = TestFixtures.tempDir("graft_fmt").toString
    val src = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"),
              length(col("text")).cast("long").as("n"))
    src.write.option("header", "true").csv(s"$dir/docs_csv")
    val back = spark.read.option("header", "true").schema(schema)
      .csv(s"$dir/docs_csv")
    assert(back.schema === schema) // imposed, not inferred
    assert(back.count() === src.count())
    assert(back.agg(sum("n")).head().getLong(0) ===
           src.agg(sum("n")).head().getLong(0))
  }

  test("NDJSON round-trip with imposed schema; corrupt lines surface via " +
       "columnNameOfCorruptRecord, clean lines parse") {
    val dir = TestFixtures.tempDir("graft_fmt").toString
    val path = s"$dir/rows.jsonl"
    Files.writeString(java.nio.file.Paths.get(path),
      """{"doc_id": 1, "lang": "en", "n": 10}
        |{"doc_id": 2, "lang": "de", "n": 20}
        |not json at all
        |{"doc_id": 3, "lang": "fr", "n": 30}
        |""".stripMargin)
    val withCorrupt = StructType(schema.fields :+
      StructField("_bad", StringType))
    // Spark disallows querying only the corrupt column on raw JSON —
    // materialize the parsed rows first (the documented pattern)
    val parsed = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(path)
      .collect()
    assert(parsed.count(r => !r.isNullAt(r.fieldIndex("_bad"))) === 1)
    val clean = parsed.filter(_.isNullAt(3))
    assert(clean.length === 3)
    assert(clean.map(_.getLong(2)).sum === 60L)
  }

  test("ORC round-trip with imposed schema — the columnar alternative " +
       "when a lake standardizes on ORC") {
    val dir = TestFixtures.tempDir("graft_fmt").toString
    val src = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"),
              length(col("text")).cast("long").as("n"))
    src.write.orc(s"$dir/docs_orc")
    val back = spark.read.schema(schema).orc(s"$dir/docs_orc")
    assert(back.schema === schema)
    assert(back.count() === src.count())
    assert(back.agg(sum("n")).head().getLong(0) ===
           src.agg(sum("n")).head().getLong(0))
    // predicate pushdown reaches the ORC scan like parquet's
    val plan = back.filter(col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), " +
      "LessThan(doc_id,10)]"), plan)
  }

  test("XML round-trip with imposed schema (Spark 4 native XML source) — " +
       "the ingest shape for feed/config-style sources") {
    val dir = TestFixtures.tempDir("graft_fmt").toString
    val path = s"$dir/rows.xml"
    Files.writeString(java.nio.file.Paths.get(path),
      """<rows>
        |  <row><doc_id>1</doc_id><lang>en</lang><n>10</n></row>
        |  <row><doc_id>2</doc_id><lang>de</lang><n>20</n></row>
        |  <row><doc_id>3</doc_id><lang>fr</lang><n>30</n></row>
        |</rows>
        |""".stripMargin)
    val back = spark.read.schema(schema)
      .option("rowTag", "row").xml(path)
    assert(back.schema === schema)
    assert(back.count() === 3)
    assert(back.agg(sum("n")).head().getLong(0) === 60L)
  }
}
