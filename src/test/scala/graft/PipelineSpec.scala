package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** End-to-end pipeline orchestration: ingest → raw upsert → transform →
  * cleaned, idempotent re-runs, update-wins merge. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def ts(s: String) = Timestamp.valueOf(s)

  test("full run materializes raw + cleaned layers with reconciled counts") {
    val work = Files.createTempDirectory("graft_pipe").toString
    val counts = Pipeline.run(spark, sf, work, ts("2026-01-01 00:00:00"))
    assert(counts("raw_revenue") > 0)
    assert(counts("raw_revenue") === counts("raw_qty"))
    assert(counts("cleaned") === counts("raw_revenue")) // 1:1 join, no nulls
    val cleaned = spark.read.parquet(s"$work/cleaned")
    assert(cleaned.columns.toSet === Set("suppkey", "year", "revenue", "qty",
      "revenue_lag1", "revenue_roll5", "qty_roll5", "cleaned_at"))
  }

  test("re-running the same batch converges (idempotent upsert)") {
    val work = Files.createTempDirectory("graft_pipe").toString
    Pipeline.run(spark, sf, work, ts("2026-01-01 00:00:00"))
    val first = spark.read.parquet(s"$work/cleaned")
      .drop("cleaned_at").orderBy("suppkey", "year").collect().toSeq
    Pipeline.run(spark, sf, work, ts("2026-01-02 00:00:00"))
    val second = spark.read.parquet(s"$work/cleaned")
      .drop("cleaned_at").orderBy("suppkey", "year").collect().toSeq
    assert(first === second)
  }

  test("a fresher batch updates conflicting keys and keeps the rest") {
    val work = Files.createTempDirectory("graft_pipe").toString
    Pipeline.run(spark, sf, work, ts("2026-01-01 00:00:00"))
    // hand-crafted second batch for one existing key and one new key
    val patch = Seq((0L, 1995L, 123.4567), (9999L, 1995L, 1.0))
      .toDF("suppkey", "year", "revenue")
      .withColumn("fetched_at",
        org.apache.spark.sql.functions.lit(ts("2026-02-01 00:00:00")))
    Pipeline.upsertRaw(spark, patch, s"$work/raw_revenue")
    val raw = spark.read.parquet(s"$work/raw_revenue")
    assert(raw.filter($"suppkey" === 0 && $"year" === 1995)
      .head().getAs[Double]("revenue") === 123.4567)
    assert(raw.filter($"suppkey" === 9999).count() === 1)
    // stale batch does NOT win
    val stale = Seq((0L, 1995L, 9.9)).toDF("suppkey", "year", "revenue")
      .withColumn("fetched_at",
        org.apache.spark.sql.functions.lit(ts("2025-01-01 00:00:00")))
    Pipeline.upsertRaw(spark, stale, s"$work/raw_revenue")
    assert(spark.read.parquet(s"$work/raw_revenue")
      .filter($"suppkey" === 0 && $"year" === 1995)
      .head().getAs[Double]("revenue") === 123.4567)
  }

  test("readCommitted sees a mid-swap crash's data WITHOUT mutating disk") {
    val work = Files.createTempDirectory("graft_pipe").toString
    val path = s"$work/sink"
    Pipeline.atomicWrite(
      Seq((1L, 10.0)).toDF("k", "v"), path)
    // crash state: live dir renamed aside, tmp never landed
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".old"))
    val restored = Pipeline.readCommitted(spark, path)
    assert(restored.isDefined && restored.get.count() === 1)
    // readers never mutate: during a LIVE swap the same disk state is an
    // in-flight commit, and a reader-side restore would break the
    // writer's tmp→live move. Restoration belongs to the next writer —
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    // — which recovers the full committed state on its next commit.
    Pipeline.atomicWrite(Seq((2L, 20.0)).toDF("k", "v"), path + "2")
    Pipeline.restoreIfCrashed(path)
    assert(spark.read.parquet(path).count() === 1)
  }

  test("a crash between swap steps never loses the committed dataset") {
    val work = Files.createTempDirectory("graft_pipe").toString
    val path = s"$work/raw_revenue"
    val batch = Seq((1L, 2000L, 10.0)).toDF("suppkey", "year", "revenue")
      .withColumn("fetched_at",
        org.apache.spark.sql.functions.lit(ts("2026-01-01 00:00:00")))
    Pipeline.upsertRaw(spark, batch, path)
    // simulate a crash after the aside-rename, before tmp→live: the live
    // dir is gone but <path>.old still holds the committed data
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".old"))
    val next = Seq((2L, 2000L, 20.0)).toDF("suppkey", "year", "revenue")
      .withColumn("fetched_at",
        org.apache.spark.sql.functions.lit(ts("2026-01-02 00:00:00")))
    Pipeline.upsertRaw(spark, next, path)
    // prior rows were restored and merged — not silently dropped
    assert(spark.read.parquet(path).count() === 2)
  }

  test("readEvolved: a later batch's new column surfaces, old rows " +
       "backfill null") {
    val g1 = Files.createTempDirectory("graft_evo1").toString
    val g2 = Files.createTempDirectory("graft_evo2").toString
    Seq((1L, "a")).toDF("id", "x").write.mode("overwrite").parquet(g1)
    Seq((2L, "b", 9.5)).toDF("id", "x", "score")
      .write.mode("overwrite").parquet(g2)
    val merged = Pipeline.readEvolved(spark, g1, g2)
    assert(merged.columns.toSet === Set("id", "x", "score"))
    val byId = merged.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byId === Map(1L -> None, 2L -> Some(9.5)))
  }

  test("Staged.layer: staged cluster labels == direct recompute, and " +
       "later reads come from the committed layer, not the lineage") {
    import graft.ops.Dedup
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getBoolean(2))
    val staged = Dedup.stagedLabels(spark, sf)
      .select("doc_id", "cluster_id", "is_canonical")
    // Direct recompute of the same lineage, bypassing the staging layer.
    val direct = Dedup.dedupClusters(spark, sf)
      .select("doc_id", "cluster_id", "is_canonical")
    assert(staged.collect().map(key).sorted.toSeq ===
           direct.collect().map(key).sorted.toSeq)
    // A second staged call must be a plain scan of the committed parquet:
    // no joins and no aggregates anywhere in its optimized plan (the
    // signatures → pairs → CC lineage has both), and it must survive the
    // harness's between-query clearCache.
    spark.catalog.clearCache()
    val again = Dedup.stagedLabels(spark, sf)
    val plan = again.queryExecution.optimizedPlan
    val heavy = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(heavy.isEmpty,
      s"staged read should be a scan, found: ${heavy.map(_.nodeName)}")
    assert(again.collect().map(key).sorted.toSeq ===
           staged.collect().map(key).sorted.toSeq)
  }

  // --- Staged: the one compute-once registry ---------------------------

  /** A temp fixture dir holding table `t` with rows 1..n. */
  private def fixture(n: Long): String =
    TestFixtures.writeDir(Map("t" -> (1L to n).toDF("x")))

  private def rewrite(dir: String, n: Long): Unit =
    (1L to n).toDF("x").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/t.parquet")

  /** The module dir a staged layer's read-back lives in. */
  private def stagedDir(df: org.apache.spark.sql.DataFrame) =
    java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head))
      .getParent.getParent

  test("Staged: a repeat call computes nothing; new input content " +
       "recomputes, evicts the old entry and deletes its staged dir") {
    val dir = fixture(2)
    var layers = 0
    var values = 0
    def layer() = Staged.layer(spark, Staged.key("spec_layer", dir, "t")) {
      layers += 1; spark.read.parquet(s"$dir/t.parquet")
    }
    def value() = Staged.value(Staged.key("spec_value", dir, "t")) {
      values += 1; spark.read.parquet(s"$dir/t.parquet").count()
    }
    val first = layer()
    assert(value() === 2L)
    assert(layer().count() === 2L && value() === 2L)
    assert(layers === 1 && values === 1, "a hit must not recompute")
    val firstDir = stagedDir(first)
    assert(Files.isDirectory(firstDir))
    rewrite(dir, 3)
    assert(layer().count() === 3L && value() === 3L)
    assert(layers === 2 && values === 2)
    assert(!Files.exists(firstDir), "the superseded layer must be deleted")
  }

  test("Staged: keys that differ only in a param do not evict each other") {
    val dir = fixture(2)
    var calls = 0
    def value(cap: Int) = Staged.value(
      Staged.key("spec_param", dir, "t", cap)) { calls += 1; cap * 10 }
    def layer(cap: Int) = Staged.layer(spark,
        Staged.key("spec_param_layer", dir, "t", cap)) {
      calls += 1; spark.read.parquet(s"$dir/t.parquet").limit(cap)
    }
    assert(value(1) === 10 && value(2) === 20)
    assert(value(1) === 10 && value(2) === 20)
    val one = layer(1)
    val two = layer(2)
    assert(layer(1).count() === 1L && layer(2).count() === 2L)
    assert(calls === 4)
    assert(Files.isDirectory(stagedDir(one)) &&
           Files.isDirectory(stagedDir(two)))
  }

  test("Staged: staging nested inside a compute succeeds") {
    val dir = fixture(4)
    val inner = Staged.key("spec_inner", dir, "t")
    val outer = Staged.layer(spark, Staged.key("spec_outer", dir, "t")) {
      val v = Staged.value(Staged.key("spec_inner_value", dir, "t"))(
        Staged.layer(spark, inner)(spark.read.parquet(s"$dir/t.parquet"))
          .count())
      Staged.layer(spark, inner)(sys.error("inner is committed"))
        .withColumn("n", org.apache.spark.sql.functions.lit(v))
    }
    assert(outer.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq === (1L to 4L).map(_ -> 4L))
  }

  test("Staged: a throwing compute registers nothing and the next call " +
       "recomputes") {
    val dir = fixture(2)
    val key = Staged.key("spec_throw", dir, "t")
    var tries = 0
    intercept[RuntimeException](Staged.layer(spark, key) {
      tries += 1; sys.error("compute failed")
    })
    intercept[RuntimeException](Staged.value(key) {
      tries += 1; sys.error("compute failed")
    })
    assert(Staged.layer(spark, key) {
      tries += 1; spark.read.parquet(s"$dir/t.parquet")
    }.count() === 2L)
    assert(tries === 3)
  }

  test("Staged.cleanup removes every dir the module created: staged " +
       "layers, stream, sink, publish and arrival dirs") {
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft_fixture")
    for (t <- Seq("events", "orders"))
      Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"),
        dir.resolve(s"$t.parquet"))
    val layer = stagedDir(Staged.layer(spark,
      Staged.key("spec_cleanup", dir.toString, "orders"))(
      spark.read.parquet(s"$dir/orders.parquet")))
    graft.streaming.StreamingBatch
      .streamingDedupArrival(spark, dir.toString).collect() // arrival, sink
    graft.streaming.StreamingBatch
      .streamingPsiDrift(spark, dir.toString).collect() // stream, publish
    val removed = Staged.cleanup()
    val names = removed.map(_.getFileName.toString)
    for (prefix <- Seq("graft-staged", "graft_stream", "graft_sink_",
                       "graft_arrival"))
      assert(names.exists(_.startsWith(prefix)), s"no $prefix dir")
    assert(removed.contains(layer))
    assert(removed.forall(d => !Files.exists(d)),
      s"left behind: ${removed.filter(Files.exists(_))}")
    // the registry is empty: a later call stages again
    assert(Staged.cleanup().isEmpty)
  }
}
