package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (reference surface + north-star
  * extensions) is a named query here, each paired with equivalent ANSI SQL
  * in `oracleSql` for the driver's DuckDB differential check.
  */
object SparkEntry {

  /** Flagship query (the reference's E2 transform pipeline re-expressed on
    * fixture data) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Panel.pipelineCleaned(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Panel.queries ++ Relational.queries ++ Ingest.queries ++
      Events.queries ++ Text.queries ++ Dedup.queries ++
      Similarity.queries ++ Multimodal.queries ++ Corpus.queries ++
      Curation.queries ++ Audit.queries ++ Graph.queries ++
      graft.streaming.StreamingBatch.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. For the queries written as SQL text, both
    * engines run the same text: the query binds it to the fixture tables
    * with `Tables.sql`, and its oracle entry is that string (only
    * `sql_text`, whose `shingles` function DuckDB lacks, keeps a DuckDB
    * emulation of its own). */
  def oracleSql: Map[String, String] =
    Panel.oracle ++ Relational.oracle ++ Ingest.oracle ++
      Events.oracle ++ Text.oracle ++ Dedup.oracle ++
      Similarity.oracle ++ Multimodal.oracle ++ Corpus.oracle ++
      Curation.oracle ++ Audit.oracle ++ Graph.oracle ++
      graft.streaming.StreamingBatch.oracle
}
