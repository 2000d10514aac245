package graft

import org.apache.spark.sql.SparkSession

/** One-line entry point for library users: a SparkSession wired the way
  * every graft operator expects — custom SQL functions injected at build
  * time (GraftExtensions), UTC session time zone (the engine's
  * determinism rules assume it), nanosecond-parquet acceptance for event
  * tables, the bounded-buffer aggregate tuning, and a generated-code
  * cache that stays warm across queries (sized to the engine's working
  * set, with artifact isolation off so streaming runs share it).
  *
  * The harness mains (Verify/Bench) build their sessions THROUGH this
  * factory. Every setting but the extensions lives in one list,
  * [[settings]], which the shared spec session applies too, so specs run
  * the engine's file system and caches. The codegen cache size is fixed
  * when the JVM first generates code, artifact isolation when a session
  * is created and the file system classes when Hadoop first caches a
  * `file:` file system, so all are set here, not by `conf.set`.
  */
object GraftSession {

  /** Entries in Spark's generated-code cache (static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100). The cache maps
    * (context classloader, source) to a compiled class, so each source
    * takes one entry per classloader that runs it: one for the driver
    * thread and one for the executor task threads. Running all 238
    * queries twice each under two actions (`count` and an all-column
    * hash) at sf0.01 filled 4,154 entries from 2,467 distinct sources.
    * The default 100 holds about six queries' code (CodegenCacheSpec's 17
    * TPC-H shapes compile about 280 classes), so a warm session evicted
    * and recompiled code it had compiled one pass earlier. Held entries
    * cost about 23 KB of heap each (96 MB at 4,154) plus the generated
    * classes' metaspace (35 MB); an unfilled cache costs nothing, so the
    * cap sits at twice the measured working set. */
  val CodegenCacheEntries = 8192

  /** The engine's session settings, extensions excluded (a static conf
    * that cannot apply to an already-running shared session). */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    Tables.NanosAsLongKey -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    // Off: with isolation on, each session UUID gets its own executor
    // classloader, and every Structured Streaming run executes on a
    // cloned session with a new UUID. The codegen cache key carries the
    // classloader, so every twin run recompiled the classes its tasks
    // run (measured at sf0.01: streaming_quota 13 of its 26 per run,
    // streaming_resample 20 of 29; 0 and 3 with isolation off), and
    // the dead entries pushed live ones out. The engine adds no jars,
    // files or artifacts to any session, so isolation protects nothing.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // The local file system without shell commands (graft.LocalFs):
    // with no native Hadoop library the stock one forked chmod and
    // readlink 170 times per streaming_quota run and 280 per
    // streaming_resample run, inside the state-store commits and the
    // offset and commit log writes.
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NioLocalFs].getName,
    // NEGATIVE RESULT (round-15, recorded per guide §1): flipping AQE to
    // parallelismFirst=false (coalesce toward an advisory partition
    // size instead of the 1 MB minPartitionSize chunks) was measured as
    // a heavy LOSS at fixture scale on 32 cores — back-to-back 20-query
    // slice 31.8 → 48.8 s wall at advisory 16m (35.9 s at 4m): the
    // advisory-size targets collapse the 5–20 MB CPU-heavy reduces
    // (degree_dist's pair distinct, frequent_pairs' pair aggregate) to
    // 1–2 tasks that serialize seconds of aggregation work while the
    // other cores idle (task CPU DOWN 155 → 128 s, task wall UP 273 →
    // 391 s — the waiting-not-working signature). Stock AQE coalescing
    // already data-derives tiny-exchange widths (sub-1MB exchanges
    // collapse to one task at any core count), so the defaults stand.
  )

  /** Pre-configured builder — callers may still override any setting or
    * add their own before `getOrCreate()`. */
  def builder(master: String = "local[*]",
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config(settings.toMap)
    shufflePartitions.fold(b)(n =>
      b.config("spark.sql.shuffle.partitions", n.toString))
  }
}
