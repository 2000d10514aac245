package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Fixture-table loaders + explicit schemas.
  *
  * The reference (database.py:31-55, transformer.py:37-51) declares every
  * schema explicitly via DDL and imposes it at ingest; we mirror that stance:
  * schemas are explicit `StructType` constants, never inferred
  * (SURVEY.md §1.3). Parquet reads take the footer schema (schema-on-write),
  * which we assert against the constants in tests.
  *
  * At 100 TB the per-table parquet file becomes a partitioned directory; the
  * loader API (dir, name) stays identical — Spark's file-source handles
  * partition discovery, pruning and vectorized scan.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table from `dir` (e.g. /root/testdata/sf0.01). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

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
    val df = spark.read.parquet(s"$dir/events.parquet")
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

  // --- Reference-shaped schemas (FIXTURES.md §A), used by unit tests ------

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
    * knee is 256 KiB. One slice per `graft.spread.sliceBytes` of
    * (compressed) input — default 256 KiB ≈ ~1 MB of raw text ≈ 0.3–1 s
    * of expression-heavy work per task — keeps small tables at a
    * handful of right-sized tasks while any input past cpus×256 KiB
    * still spreads to the full width, so probe/production scans are
    * unchanged. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val files =
      try df.inputFiles catch { case _: Throwable => Array.empty[String] }
    if (files.length >= p) df
    else if (files.isEmpty) df.repartition(p) // width unknowable: old rule
    else {
      val slice = sys.props.get("graft.spread.sliceBytes")
        .flatMap(_.toLongOption).getOrElse(262144L)
      val bytes = files.iterator.map { f =>
        try java.nio.file.Files.size(
          java.nio.file.Paths.get(new java.net.URI(f).getPath))
        catch { case _: Exception => slice * p } // unknown size: assume big
      }.sum
      val width = math.max(1L, math.min(p.toLong,
        (bytes + slice - 1) / slice)).toInt
      if (width <= files.length) df else df.repartition(width)
    }
  }

  /** Mirrors the World Bank API record shape (api_fetcher.py:125-130,
    * database.py:96-102): nested country/indicator structs, year-as-string. */
  val rawApiRecordSchema: StructType = StructType(Seq(
    StructField("countryiso3code", StringType),
    StructField("country", StructType(Seq(
      StructField("id", StringType), StructField("value", StringType)))),
    StructField("indicator", StructType(Seq(
      StructField("id", StringType), StructField("value", StringType)))),
    StructField("date", StringType),
    StructField("value", DoubleType)))
}
