package graft

import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types._

/** Fixture-table loaders + explicit schemas.
  *
  * The reference (database.py:31-55, transformer.py:37-51) declares every
  * schema explicitly via DDL and imposes it at ingest. Parquet is
  * schema-on-write, so the declaration lives in the file: every table read
  * goes through [[read]], which takes the schema from the table's first
  * footer on the driver — converted by Spark's own converter, so it equals
  * what inference would give — and hands it to the reader. No
  * schema-inference job runs, and nothing is cached: a rewritten table is
  * read as it is now. A committed layer's row count comes from its
  * footers the same way ([[rowCount]]), and `Pipeline.readEvolved` merges
  * every footer's schema. A SQL text gets its tables from [[sql]]: each
  * table name in it is bound to [[t]]'s plan, so SQL reads the tables
  * exactly as the DataFrame queries do. Nothing in the engine infers a
  * schema.
  *
  * At 100 TB the per-table parquet file becomes a partitioned directory; the
  * loader API (dir, name) stays identical — Spark's file-source handles
  * partition discovery, pruning and vectorized scan.
  *
  * Storage. A table path is any Hadoop path, reached through Hadoop
  * `FileSystem` under the session's Hadoop conf. [[dataFiles]] is the
  * engine's one file lister: footer reads, [[rowCount]] and `Staged`'s
  * input fingerprints all take a table's files from it, and
  * [[Pipeline]]'s layer commit stats, renames and deletes through the
  * same API.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table from `dir` (e.g. /root/testdata/sf0.01). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else read(spark, s"$dir/$name.parquet")

  /** Read a parquet file or directory with the schema of its first data
    * file's footer, read on the driver: the same schema Spark's inference
    * gives (partition columns of a hive-style dir are still discovered by
    * the reader), without the job inference schedules. A missing path, or
    * one with no data file, goes to Spark's own reader, so it fails with
    * Spark's own `AnalysisException` (PATH_NOT_FOUND,
    * UNABLE_TO_INFER_SCHEMA). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = FooterBridge.hadoopConf(spark)
    dataFiles(conf, path).nextOption()
      .flatMap(f => FooterBridge.schema(spark,
        FooterBridge.footers(conf, Seq(f)))) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Rows of a parquet file or directory: the sum of the row-group row
    * counts in its data files' footers, read in parallel on the driver,
    * so no job runs. Fails like [[read]] on a missing or data-less path. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = FooterBridge.hadoopConf(spark)
    val files = dataFiles(conf, path).toSeq
    if (files.isEmpty) read(spark, path).count() // throws Spark's error
    else FooterBridge.footers(conf, files)
      .map(_.getParquetMetadata.getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The data files of a parquet path in name order, listed lazily: the
    * path itself if it is a file, else the files under it, descending
    * into partition dirs. Names starting with `_` or `.` (`_SUCCESS`,
    * `.crc` files, `_temporary`) are skipped, as Spark's file index skips
    * them. Empty if the path does not exist. */
  private[graft] def dataFiles(conf: org.apache.hadoop.conf.Configuration,
                               path: String): Iterator[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def under(d: Path): Iterator[FileStatus] =
      fs.listStatus(d).sortBy(_.getPath.getName).iterator
        .filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap(s => if (s.isDirectory) under(s.getPath) else Iterator(s))
    try {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) under(p) else Iterator(st)
    } catch { case _: java.io.FileNotFoundException => Iterator.empty }
  }

  /** A SQL text over the fixture tables of `dir`, bound without a view or
    * a path relation: the text is parsed by the session's parser, and
    * every one-part table name in it that is one of [[names]] (in any
    * case) becomes a subquery alias over [[t]]'s plan for that table —
    * in the main query, in subquery expressions and in CTE bodies alike.
    * So each table is read with its footer schema ([[read]]), `events`
    * with its ts conversion, no schema-inference job runs, and building
    * the query registers nothing in the session and cannot be shadowed by
    * a caller's table of the same name. A CTE may not take a table's
    * name: its references would be bound to the table. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    def table(n: String) = names.contains(n.toLowerCase(Locale.ROOT))
    def bind(plan: LogicalPlan): LogicalPlan =
      plan.transformUpWithSubqueries {
        case UnresolvedRelation(Seq(n), _, _) if table(n) =>
          SubqueryAlias(n,
            t(spark, dir, n.toLowerCase(Locale.ROOT)).queryExecution.logical)
        case w: UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map { case (n, body, d) =>
            require(!table(n), s"CTE $n shadows the table of that name")
            (n, body.copy(child = bind(body.child)), d)
          })
      }
    DatasetBridge.ofRows(spark, bind(DatasetBridge.parse(spark, text)))
  }

  /** Parquet-footer row count, computed once per table content
    * ([[Staged]]). A bare `t(...).count()` is footer-only (no data scan)
    * but still schedules a Spark job — and the per-call sites (quantile
    * mode selection, stateful-width sizing, adaptive LSH widths) re-ran it
    * once per QUERY INVOCATION, which Bench's warmup + timed repeats
    * multiply ~4× across 238 queries. */
  def footerCount(spark: SparkSession, dir: String, name: String): Long =
    Staged.value(Staged.key("footer_count", dir, name))(
      t(spark, dir, name).count())

  /** Conf that lets Spark's parquet reader accept INT64 TIMESTAMP(NANOS)
    * columns (as raw longs). Set at session build (Verify/Bench/TestSpark
    * all do); `ensureNanosAsLong` is the guarded fallback for externally
    * built sessions — it mutates only when the flag is absent, never as a
    * routine side effect of building a query. */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  def ensureNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosAsLongKey).contains("true"))
      spark.conf.set(NanosAsLongKey, "true")

  /** events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects ([PARQUET_TYPE_ILLEGAL]). Sanctioned path: read
    * nanos as long (spark.sql.legacy.parquet.nanosAsLong) and floor-convert
    * to microseconds — DuckDB's TIMESTAMP_NS→TIMESTAMP cast floors
    * identically, so oracle parity holds. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosAsLong(spark)
    val df = read(spark, s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // parquet written without UTC adjustment (e.g. DuckDB TIMESTAMP):
        // under the session's UTC zone the wall clock IS the instant, so
        // the cast is value-preserving — and timestamp functions
        // (unix_micros, window) require the instant type.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already an instant timestamp (e.g. test fixtures)
    }
  }

  /** Input bytes per spread task: the measured knee (see [[spread]]). */
  private[graft] val SpreadSliceBytes = 262144L

  /** Spread a small scan across all cores for CPU-bound per-row work.
    *
    * Locally the fixture tables are single-row-group parquet files, so the
    * scan yields ONE input split and expression-heavy operators (md5
    * shingling, regex token stats, cosine math) run single-threaded. A
    * round-robin repartition of the raw rows is a few MB of shuffle and
    * unlocks full parallelism.
    *
    * CONDITIONAL by design: at 100 TB the file scan already yields
    * thousands of byte-ranged splits, and an unconditional
    * `repartition(defaultParallelism)` there would be a full shuffle of
    * the corpus that REDUCES parallelism — the one line that turns a
    * scan-speed operator into a cluster-wide reshuffle.
    *
    * The width probe is `inputFiles` — file-index metadata, so no job can
    * run (an `.rdd`-based probe would eagerly materialize upstream
    * shuffle stages under AQE if the input ever carried an exchange).
    * File count is a LOWER bound on scan splits (large files split
    * further by byte range), so the check can only err toward the
    * previously-unconditional repartition, never toward
    * under-parallelizing. Results never change (no keyed semantics
    * attached; every output is proven layout-independent by
    * PartitionInvarianceSpec).
    *
    * The width is DATA-derived, capped at the session's parallelism
    * (round-15, guide §2.2 / the driver's core-count axis): a flat
    * `repartition(defaultParallelism)` manufactures `cpus` slivers of a
    * KB-sized table — at 32 cores that is 32 near-empty CPU tasks per
    * spread site whose per-task fixed cost (setup, codegen dispatch,
    * cache thrash) exceeds their work; measured at sf0.1: the 32-core
    * suite burned 3.4× the task CPU of the 8-core run for the same wall
    * time, and the dial curve on a 19-query spread-heavy slice at 32c
    * read wall 19.7 / 17.1 / 15.5 / 13.2 / 13.7 s (task CPU 51 / 31 /
    * 19 / 14 / 12 s) at full-p / 64k / 128k / 256k / 512k slices — the
    * knee is 256 KiB. One slice per [[SpreadSliceBytes]] of
    * (compressed) input — 256 KiB ≈ ~1 MB of raw text ≈ 0.3–1 s
    * of expression-heavy work per task — keeps small tables at a
    * handful of right-sized tasks while any input past cpus×256 KiB
    * still spreads to the full width, so probe/production scans are
    * unchanged. Input bytes are the `FileStatus` lengths of the input
    * files, on whatever file system holds them. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val files =
      try df.inputFiles catch { case NonFatal(_) => Array.empty[String] }
    if (files.length >= p) df
    else if (files.isEmpty) df.repartition(p) // width unknowable: old rule
    else {
      val conf = FooterBridge.hadoopConf(df.sparkSession)
      val bytes = files.iterator.map { f =>
        try {
          val path = new Path(new java.net.URI(f))
          path.getFileSystem(conf).getFileStatus(path).getLen
        } catch { case NonFatal(_) => SpreadSliceBytes * p } // unknown: big
      }.sum
      val width = math.max(1L, math.min(p.toLong,
        (bytes + SpreadSliceBytes - 1) / SpreadSliceBytes)).toInt
      if (width <= files.length) df else df.repartition(width)
    }
  }

  /** Mirrors the World Bank API record shape (api_fetcher.py:125-130,
    * database.py:96-102): nested country/indicator structs, year-as-string.
    * No engine query reads it: it is kept as the executable reference of
    * the reference pipeline's fetched record, the schema the ingest specs
    * parse the indicator source's JSON with (FIXTURES.md §A3). */
  val rawApiRecordSchema: StructType = StructType(Seq(
    StructField("countryiso3code", StringType),
    StructField("country", StructType(Seq(
      StructField("id", StringType), StructField("value", StringType)))),
    StructField("indicator", StructType(Seq(
      StructField("id", StringType), StructField("value", StringType)))),
    StructField("date", StringType),
    StructField("value", DoubleType)))
}
