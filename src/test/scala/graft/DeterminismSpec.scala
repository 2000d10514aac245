package graft

import org.apache.spark.sql.GraftTestBridge
import org.apache.spark.sql.catalyst.expressions.{Alias, CreateStruct}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Cross-engine determinism gate for every compared output: the
  * presentation sort's keys must DETERMINE the row. The fixture's
  * lineitem is not keyed by (l_orderkey, l_linenumber) — ~14k duplicate
  * pairs at sf0.01 — and penny_alloc was the first query to trip on the
  * hidden assumption that it is; this spec makes the property a suite
  * invariant instead of a per-incident fix.
  *
  * For each query, the topmost GLOBAL Sort in the analyzed plan is
  * located (pre-order, so the outermost presentation sort wins) and the
  * check runs on the Sort's CHILD — i.e. BEFORE any LIMIT above it —
  * because a top-k whose sort ties at the cut boundary selects an
  * arbitrary tied row even when the emitted rows happen to be distinct.
  * The property asserted per sort-key group: exactly one DISTINCT full
  * row (ties that are bit-identical rows are interchangeable and
  * harmless; ties that differ anywhere are a latent cross-engine
  * divergence). Queries with no global sort are exempt: the driver's
  * comparator sorts rows by all columns, so only the result MULTISET
  * must be deterministic there, which the oracle hash itself pins. */
class DeterminismSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Map-typed columns are not orderable/distinct-able; dropping them
    * from the full-row struct only ever WEAKENS the check (never false
    * positives), and no current output sorts on a map. */
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType      => true
    case ArrayType(e, _) => hasMap(e)
    case s: StructType   => s.fields.exists(f => hasMap(f.dataType))
    case _               => false
  }

  test("every compared output's presentation-sort keys form a total " +
       "order over the pre-limit rows (sf0.001)") {
    val spark = TestSpark.spark
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, dir)
        // The OPTIMIZED plan, not the analyzed one: a spark.sql query
        // with a WITH clause carries CTERelationRef nodes whose
        // definitions live in an enclosing WithCTE — slicing a Sort's
        // child out of that plan orphans the refs and the re-analysis
        // below dies inside InlineCTE. Optimization inlines every CTE
        // first, and the presentation Sort survives it (only sorts
        // invisible to the result are eliminated).
        val sortOpt = df.queryExecution.optimizedPlan.collectFirst {
          case s: Sort if s.global => s
        }
        sortOpt.flatMap { s =>
          val keys = s.order.zipWithIndex.map { case (so, i) =>
            Alias(so.child, s"_k$i")()
          }
          val rowAttrs = s.child.output.filterNot(a => hasMap(a.dataType))
          val proj = Project(
            keys :+ Alias(CreateStruct(rowAttrs), "_row")(), s.child)
          val pdf = GraftTestBridge.ofRows(spark, proj)
          val keyCols = keys.indices.map(i => col(s"_k$i"))
          val worst = pdf.groupBy(keyCols: _*)
            .agg(countDistinct(col("_row")).as("_nd"))
            .agg(coalesce(max(col("_nd")), lit(0L))).first.getLong(0)
          spark.catalog.clearCache()
          if (worst > 1) Some(s"$name (a sort-key group holds $worst " +
            "distinct rows)") else None
        }
    }
    assert(offenders.isEmpty,
      s"non-total presentation sorts:\n  ${offenders.mkString("\n  ")}")
  }

  test("vector family runs on a gapped-id corpus (no dense-id " +
       "assumption) and stays deterministic") {
    // The round-10 review's finding: PQ/IVF/k-means seeds were "rows
    // with vec_id < k", which THREW on any corpus without dense
    // zero-based ids — post-dedup survivors, snowflake ids, shards.
    // The hash-min vecSample rule must make the whole family run on a
    // remapped fixture whose ids are gapped, offset, and non-zero-based.
    val spark = TestSpark.spark
    val gapped = TestFixtures.tempDir("graft_gapped").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") * 37 + 1000)
      .write.mode("overwrite").parquet(s"$gapped/embeddings.parquet")
    val fam: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("kmeans_assign", () => ops.Similarity.kmeansAssign(spark, gapped)),
      ("pq_codes", () => ops.Similarity.pqCodes(spark, gapped)),
      ("cluster_balance",
        () => ops.Similarity.clusterBalance(spark, gapped)),
      ("sim_topk_brute", () => ops.Similarity.topKBrute(spark, gapped)),
      ("sim_ann_ivf", () => ops.Similarity.annIvf(spark, gapped)))
    for ((name, fn) <- fam) {
      val a = fn().collect()
      assert(a.nonEmpty, s"$name returned no rows on the gapped corpus")
      val ids = a.flatMap(r => (0 until r.length).collect {
        case i if r.schema(i).name.endsWith("_id") ||
          r.schema(i).name == "vec_id" => r.getLong(i) })
      ids.foreach(id => assert(id >= 1000 && (id - 1000) % 37 == 0,
        s"$name emitted an id outside the remapped space: $id"))
      val b = fn().collect()
      assert(a.toSeq === b.toSeq, s"$name is not rerun-deterministic")
      spark.catalog.clearCache()
    }
  }
}
