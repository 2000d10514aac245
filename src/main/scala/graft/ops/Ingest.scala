package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Ingest-shape operators: the reference's semi-structured flatten +
  * validate path (database.py:96-113) — nested-JSON field extraction (P1),
  * empty-string coalesce fallback (P2), malformed-key reject (F2), and
  * invalid-cast reject (F3) — expressed over a JSON record column built
  * from `events` so the whole path is DuckDB-checkable without HTTP.
  *
  * The HTTP connector itself (S1-S4) is out of scope in this zero-egress
  * environment (SURVEY.md §7.2 step 4); at scale it would be a DataSource
  * V2 TableProvider with one InputPartition per (country, indicator) unit
  * and retry/rate-limit inside the PartitionReader.
  *
  * Note Spark 4 runs ANSI mode by default, so F3's null-on-malformed cast
  * is try_cast — semantically identical to the reference's try/except skip
  * (database.py:107-110).
  */
object Ingest {

  /** Build a World-Bank-shaped JSON record per event row, then flatten +
    * validate it exactly like database.py:96-113. Every ~7th record has an
    * empty countryiso3code (exercises the P2 coalesce-to-country.id) and
    * every ~11th has a malformed year string (exercises the F3 reject). */
  def flattenValidate(spark: SparkSession, dir: String): DataFrame = {
    val rec = concat(
      lit("""{"countryiso3code":""""),
      when(col("user_id") % 7 === 0, lit("")).otherwise(col("event_type")),
      lit("""","country":{"id":"CC"""),
      (col("user_id") % 10).cast("string"),
      lit(""""},"date":""""),
      when(col("event_id") % 11 === 0, lit("xx"))
        .otherwise((lit(2000) + col("user_id") % 24).cast("string")),
      lit("""","value":"""),
      // A null measure must survive as JSON null — the reference keeps
      // value=None rows (database.py:96-113); a bare null here would null
      // the whole concat and silently drop the record.
      coalesce(col("value").cast("string"), lit("null")),
      lit("}"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "countryiso3code STRING, country STRUCT<id: STRING>, date STRING, value DOUBLE")
    val base = Tables.spread(Tables.events(spark, dir))
    // from_json struct extraction. The json_tuple alternative (one
    // streaming parse for the top-level fields plus a get_json_object
    // for the nested id) lost its A/B at sf0.1/32c — struct 1.97/1.60 s
    // vs tuple 2.02/1.94 s, two interleaved min-of-3 rounds each — and
    // diverges from from_json on quoted numbers, so it is not kept.
    base.select(col("event_id"), from_json(rec, schema).as("r"))
      .select(
        col("event_id"),
        // P2: Python `rec.get("countryiso3code") or country["id"]`
        // treats "" as falsy → nullif-then-coalesce (database.py:97)
        coalesce(expr("nullif(r.countryiso3code, '')"),
          col("r.country.id")).as("iso3"),
        expr("try_cast(r.date AS BIGINT)").as("year"), // F3
        col("r.value").as("value"))
      .filter(length(col("iso3")) > 0 && col("year").isNotNull) // F2+F3 reject
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_flatten" -> (flattenValidate _))

  // The oracle computes the same final relation directly from the CASE
  // expressions (no JSON round-trip) — equality validates Spark's
  // from_json + coalesce + try_cast path end to end.
  val oracle: Map[String, String] = Map(
    "ingest_flatten" ->
      """SELECT event_id,
        |  CASE WHEN user_id % 7 = 0 THEN 'CC' || CAST(user_id % 10 AS VARCHAR)
        |       ELSE event_type END AS iso3,
        |  2000 + user_id % 24 AS year,
        |  value
        |FROM events
        |WHERE event_id % 11 <> 0
        |ORDER BY event_id""".stripMargin)
}
