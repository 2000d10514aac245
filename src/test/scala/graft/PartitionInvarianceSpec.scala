package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executor-count invariance gate: every compared query must produce the
  * IDENTICAL result multiset when the shuffle partition count changes.
  *
  * This is the suite-level proof of SCALE.md's cross-engine float
  * doctrine ("holds under any executor count"): distributed sums are
  * order-sensitive at the ulp level, and any query whose output leaked
  * partition order — an unrounded float aggregate, a rank over a
  * non-total order, an approxQuantile boundary that seeped into a VALUE
  * instead of only into bucket BALANCE — would differ between the two
  * runs and fail here before it could flake the DuckDB gate on a
  * differently-partitioned cluster. 4 vs 7 partitions: co-prime, so no
  * hash bucket nests inside the other and row→reducer assignments
  * genuinely reshuffle; spark.sql.shuffle.partitions is runtime-settable
  * so both runs share one session and differ ONLY in partitioning.
  *
  * Results canonicalize through toJSON (binary → base64, doubles →
  * shortest-repr literals — bit-identity required, not tolerance) and
  * compare as sorted multisets, mirroring the driver comparator.
  *
  * SCOPE of the every-query test: the staged dedup lineage
  * (Staged.layer) commits on FIRST access per input content, so
  * label-consumer queries (group_split, decontam_closure,
  * dedup_survivorship, …) read the same committed parquet in both the
  * 4- and 7-partition runs — for those queries the assertion covers
  * their own dataflow, not the lineage build. The second test closes
  * that gap: it rebuilds the staged lineage FROM SCRATCH under each
  * partition setting (distinct fixture dirs → distinct staging keys)
  * and requires the committed label tables to be bit-identical. */
class PartitionInvarianceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("every query's result multiset is bit-identical at 4 and 7 " +
       "shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        spark.conf.set(key, "4")
        val a = fn(spark, dir).toJSON.collect().sorted.toSeq
        spark.catalog.clearCache()
        spark.conf.set(key, "7")
        val b = fn(spark, dir).toJSON.collect().sorted.toSeq
        spark.catalog.clearCache()
        assert(a == b, s"$name drifts with the shuffle partition count: " +
          s"${a.size} vs ${b.size} rows; first diff: " +
          a.zip(b).find { case (x, y) => x != y }
            .orElse(Some((a.drop(b.size).headOption.getOrElse(""),
                          b.drop(a.size).headOption.getOrElse("")))))
      }
    } finally spark.conf.set(key, before)
  }

  test("staged dedup lineage REBUILT from scratch is bit-identical at 4 " +
       "and 7 shuffle partitions (distinct staging keys force the full " +
       "signatures → pairs → labels compute under each setting)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      // Each writeDir is a fresh input dir → a fresh Staged.layer
      // key → a genuine lineage rebuild; the fixture parquet itself is
      // also LAID OUT under the run's partition setting, so scan split
      // order reshuffles too.
      spark.conf.set(key, "4")
      val a = graft.ops.Dedup
        .stagedLabels(spark, TestFixtures.writeDir(Map("documents" -> docs)))
        .toJSON.collect().sorted.toSeq
      spark.conf.set(key, "7")
      val b = graft.ops.Dedup
        .stagedLabels(spark, TestFixtures.writeDir(Map("documents" -> docs)))
        .toJSON.collect().sorted.toSeq
      assert(a.nonEmpty && a == b,
        s"staged lineage drifts with the shuffle partition count: " +
          s"${a.size} vs ${b.size} rows")
    } finally spark.conf.set(key, before)
  }
}
