package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions._
import graft.ops.{Panel, Relational}

/** The reference's end-to-end pipeline orchestration (README1.md run
  * order): E1 ingest → raw layer (keyed upsert, audit column) then E2
  * transform → cleaned layer (join + features), re-expressed as two Spark
  * jobs over parquet layers.
  *
  * Layer layout under a work dir:
  *   raw_revenue/ raw_qty/   — the two indicator panels (raw layer,
  *                             database.py:31-55)
  *   cleaned/                — joined feature panel (transformer.py:37-51)
  *
  * Upsert without MERGE (SURVEY.md §7.4): union existing+incoming, keep
  * the freshest row per key (row_number over fetched_at DESC), then an
  * atomic write-to-temp-and-swap — the two-phase commit every overwrite-
  * based lake write needs, since Spark cannot overwrite a path it is
  * reading. Re-runs converge (idempotency by construction,
  * README1.md:128-132). At 100 TB the swap becomes a partition-level
  * replaceWhere / table-format commit; the dataflow is identical.
  *
  * Storage. A layer path is any Hadoop path (a local path, a `file:` or
  * `hdfs:` URI): the commit stats, renames and deletes through Hadoop
  * `FileSystem` under the session's Hadoop conf, the one [[Tables.read]]
  * uses, and layers are read and counted through [[Tables]]' one file
  * lister. The rename commit is atomic on HDFS and the local FS, where a
  * dir rename is one metadata operation; on an object store (S3, GCS) a
  * "rename" is a copy plus delete, so a reader can see a half-moved
  * layer there, and the commit needs a table format instead.
  */
object Pipeline {

  private val keys = Seq("suppkey", "year")

  /** Atomic overwrite: write to `<path>.tmp`, rename the live dir aside to
    * `<path>.old`, move tmp into place, then delete the old copy. At no
    * point is the live path absent together with its data: a crash before
    * the tmp→live move leaves `<path>.old` holding the prior dataset,
    * which `restoreIfCrashed` rolls back on the next read — so a partial
    * swap can never make upsertRaw treat incoming as the full dataset.
    * Public — also the commit step for streaming foreachBatch sinks. */
  def atomicWrite(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(path + ".tmp")
    swapIn(path)
  }

  /** The shared commit protocol: restore a crashed prior swap, clear a
    * stale `.old`, move the live dir aside, move `.tmp` in, drop the old
    * copy. Single definition — atomicWrite and compact both commit
    * through here, so a protocol change edits one place.
    *
    * If a prior swap crashed between the aside-rename and the tmp→live
    * move, `.old` is the ONLY copy of the committed dataset — restore it
    * before anything else. Only then is a still-present `.old` (crash
    * between tmp-move and cleanup) safe to delete.
    * CONTRACT for read-merge-write callers (upsertRaw, foreachBatch
    * sinks): read the current state via `readCommitted` — a caller that
    * checks the live path itself after a crash would merge against
    * nothing and this writer would then faithfully commit that empty
    * merge. WRITERS are single-flight per path: this move sequence is
    * the writer's own crash recovery; readers never mutate (see
    * readCommitted), so a concurrent reader cannot break an in-flight
    * commit. */
  private def swapIn(path: String): Unit = {
    val target = new Path(path)
    val old = new Path(path + ".old")
    val fs = fileSystem(target)
    restoreIfCrashed(path)
    if (fs.exists(old)) fs.delete(old, true) // target exists too → leftover
    val hadTarget = fs.exists(target)
    if (hadTarget) rename(fs, target, old)
    rename(fs, new Path(path + ".tmp"), target)
    if (hadTarget) fs.delete(old, true)
  }

  /** Crash recovery for atomicWrite: if a crash happened between the
    * aside-rename and the tmp→live move, the live path is missing but
    * `<path>.old` still holds the last committed dataset — restore it. */
  def restoreIfCrashed(path: String): Unit = {
    val target = new Path(path)
    val old = new Path(path + ".old")
    val fs = fileSystem(target)
    if (!fs.exists(target) && fs.exists(old)) rename(fs, old, target)
  }

  /** Hadoop's rename reports failure by returning false, and moves the
    * source INTO a destination dir that exists; callers rename only onto
    * an absent path, so false is an error. */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"could not rename $from to $to")

  /** The file system of a layer path, under the active session's Hadoop
    * conf. Shared through Hadoop's cache, so never closed here. */
  private def fileSystem(p: Path): FileSystem =
    p.getFileSystem(FooterBridge.hadoopConf(SparkSession.active))

  /** Crash-safe read of a layer path WITHOUT mutating it: prefer the
    * live dir; fall back to reading a stranded `.old` copy IN PLACE
    * (the last committed dataset after a crashed swap — or a swap that
    * is in flight right now); None if the layer has never been written.
    * The required entry point for every read-merge-write cycle (see
    * swapIn).
    *
    * Readers deliberately do NOT restore: during a live atomicWrite
    * there is a window where target has been moved aside and `.old` is
    * the committed copy — a reader that "restored" it would rip the
    * directory out from under the writer's tmp→live move and fail a
    * healthy commit. Restoration belongs to the next WRITER. (As with
    * any path-based lake layout, full isolation of long reads against
    * concurrent overwrites needs a table-format commit — same note as
    * the 100 TB swap-in.) */
  def readCommitted(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = fileSystem(new Path(path))
    Seq(path, path + ".old").find(p => fs.exists(new Path(p)))
      .map(Tables.read(spark, _))
  }

  /** Read a layer whose batches were written under EVOLVING schemas
    * (a later generation added columns): the schema is the union of every
    * data file's footer schema, merged by the rule Spark's schema merging
    * applies (`StructType.merge`), and older rows surface the new columns
    * as nulls. The footers are read in parallel on the driver, so no
    * schema-inference job runs; a path set with no data file goes to
    * Spark's own reader and fails with its error. This is the read-side
    * half of schema evolution; the write side needs no help — parquet
    * batch writes are self-describing. Merging pays a per-file footer
    * read at planning time, so at 100 TB pin the merged schema in a table
    * catalog once evolution settles (same note as the swap-in). */
  def readEvolved(spark: SparkSession, paths: String*): DataFrame = {
    val conf = FooterBridge.hadoopConf(spark)
    val footers = FooterBridge.footers(conf,
      paths.flatMap(Tables.dataFiles(conf, _)))
    FooterBridge.schema(spark, footers) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** K2: keyed batch upsert into a raw layer path (ON CONFLICT DO UPDATE
    * semantics — database.py:119-138). Returns the committed layer's row
    * count, read from its footers (no job). */
  def upsertRaw(spark: SparkSession, incoming: DataFrame, path: String): Long = {
    val merged = readCommitted(spark, path) match {
      case Some(existing) =>
        Relational.lastWriterWins(existing.unionByName(incoming),
          keys, Seq(col("fetched_at").desc))
      case None => incoming
    }
    atomicWrite(merged, path)
    Tables.rowCount(spark, path)
  }

  /** E1 ingest: derive the two indicator panels from lineitem (the
    * fixture's stand-in for the HTTP fetch) and upsert each into its raw
    * layer. `batchTs` is the per-batch audit instant (P5: one timestamp
    * per batch, captured once — database.py:93). */
  def ingest(spark: SparkSession, sfDir: String, workDir: String,
             batchTs: java.sql.Timestamp): Map[String, Long] = {
    val li = Tables.t(spark, sfDir, "lineitem")
    def panel(measure: org.apache.spark.sql.Column, name: String) =
      li.groupBy(col("l_suppkey").as("suppkey"),
                 year(col("l_shipdate")).cast("long").as("year"))
        .agg(round(sum(measure), 4).as(name))
        .withColumn("fetched_at", lit(batchTs))
    Map(
      "raw_revenue" -> upsertRaw(spark,
        panel(li("l_extendedprice") * (lit(1) - li("l_discount")), "revenue"),
        s"$workDir/raw_revenue"),
      "raw_qty" -> upsertRaw(spark,
        panel(li("l_quantity"), "qty"), s"$workDir/raw_qty"))
  }

  /** E2 transform: join the raw layers, drop incomplete rows, compute the
    * window features, stamp cleaned_at, write the cleaned layer
    * (transformer.py:58-154). The cleaned layer is a pure recomputation of
    * its inputs, so idempotency = deterministic transform + overwrite.
    * Returns the committed layer's footer row count. */
  def transform(spark: SparkSession, workDir: String,
                batchTs: java.sql.Timestamp): Long = {
    def layer(name: String) = readCommitted(spark, s"$workDir/$name")
      .getOrElse(sys.error(s"raw layer $name missing — run ingest first"))
    val rev = layer("raw_revenue")
      .select(col("suppkey"), col("year"), col("revenue"))
    val qty = layer("raw_qty")
      .select(col("suppkey"), col("year"), col("qty"))
    val j = rev.join(qty, keys, "inner")
      .filter(col("revenue").isNotNull && col("qty").isNotNull)
    val cleaned = Panel.features(j, "suppkey", "year", Seq("revenue", "qty"))
      .withColumn("cleaned_at", lit(batchTs))
    atomicWrite(cleaned, s"$workDir/cleaned")
    Tables.rowCount(spark, s"$workDir/cleaned")
  }

  /** Small-file compaction: rewrite a hive-style partitioned dataset
    * (one directory per partition-key value, which turns an equality
    * predicate on the key into directory pruning) so each
    * partition directory holds ~one file per `rowsPerFile` rows
    * (repartitioning BY the partition keys keeps each output task
    * writing into a single directory — without it every task writes a
    * sliver into every partition, which is how small files happen in the
    * first place). The rewrite lands in `<path>.tmp` and swaps in via
    * the crash-safe atomic protocol. */
  def compact(spark: SparkSession, path: String, parts: Seq[String],
              rowsPerFile: Long = 1000000L): Unit = {
    restoreIfCrashed(path) // compact IS a writer — restoring is its job
    val df = Tables.read(spark, path)
    val n = math.max(1, Tables.rowCount(spark, path) / rowsPerFile).toInt
    df.repartition(n, parts.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(parts: _*)
      .parquet(path + ".tmp")
    swapIn(path)
  }

  /** Full run: ingest + transform + row-count reconciliation summary
    * (the reference's __main__ flows, database.py:185-207 +
    * transformer.py:185-197). */
  def run(spark: SparkSession, sfDir: String, workDir: String,
          batchTs: java.sql.Timestamp): Map[String, Long] = {
    val rawCounts = ingest(spark, sfDir, workDir, batchTs)
    rawCounts + ("cleaned" -> transform(spark, workDir, batchTs))
  }
}
