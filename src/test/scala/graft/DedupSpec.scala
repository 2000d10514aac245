package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

/** Dedup family on planted duplicates — runs the REAL (spark, dir) query
  * functions on a hand-built documents fixture dir. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  // 0 & 1: exact dups; 5 & 6: near-dups (one word changed);
  // others: unrelated
  private lazy val dir = TestFixtures.writeDir(Map(
    "documents" -> Seq(
      (0L, base, "en", "src0"),
      (1L, base, "en", "src0"),
      (2L, "one two three four five six seven eight nine ten", "en", "src0"),
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve", "es", "src0"),
      (4L, "un deux trois quatre cinq six sept huit neuf", "fr", "src0"),
      (5L, base + " omega", "en", "src0"),
      (6L, base.replace("delta", "DELTA") + " omega", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")))

  test("native Shingles expression == composable HOF shingle chain " +
       "(as sets) on the real documents") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", split(col("text"), "\\s+"))
    val diff = docs.select(
        array_sort(Dedup.shingles(col("text"))).as("nat"),
        array_sort(Dedup.shinglesHof(col("text"), col("toks"))).as("hof"))
      .filter(col("nat") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("exact dedup keeps the first writer of identical text") {
    val ids = Dedup.exact(spark, dir).collect().map(_.getLong(0)).toSet
    assert(ids.contains(0L) && !ids.contains(1L))
    assert(ids === Set(0L, 2L, 3L, 4L, 5L, 6L))
  }

  test("minhash signatures are equal iff shingle sets are equal") {
    val sig = Dedup.minhashSig(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getString).mkString).toMap
    assert(sig(0L) === sig(1L))   // identical docs
    assert(sig(0L) !== sig(2L))   // unrelated docs
  }

  test("minhash LSH pairs surface exact and near duplicates, not strangers") {
    val pairs = Dedup.minhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((2L, 3L)))
  }

  test("ngram jaccard finds the high-overlap pairs with jacc in (0,1]") {
    val got = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(got((0L, 1L)) === 1.0)          // identical
    assert(got.contains((5L, 6L)))         // near-dup pair above threshold
    assert(got((5L, 6L)) < 1.0 && got((5L, 6L)) > 0.5)
    assert(!got.contains((2L, 3L)))
  }

  test("simhash: identical docs agree; near-dups are close in hamming") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sh = Dedup.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(1L))
    assert(ham(sh(5L), sh(6L)) <= 6)   // near-dups: few bits differ
  }

  test("labelComponents: driver union-find fast path == GraphX Pregel " +
       "labeling on the same candidate pairs") {
    import org.apache.spark.sql.functions.col
    // A non-trivial topology: chain 1-2-3 (transitive closure via
    // distinct edges), pair 10-11, and singleton universe members.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val universe = (1L to 12L).toDF("doc_id")
    def run(cap: Long) = Dedup.labelComponents(
        spark, pairs.select(col("doc_a"), col("doc_b")),
        universe, "doc_id", maxDriverEdges = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val fast = run(Dedup.DriverCcMaxEdges)  // 3 edges → union-find
    val graphx = run(0L)                    // cap 0 forces the Pregel path
    assert(fast === graphx)
    val labels = fast.map(t => t._1 -> t._2).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L && labels(3L) === 1L)
    assert(labels(10L) === 10L && labels(11L) === 10L)
    assert(labels(7L) === 7L) // singleton labels itself
    assert(fast.filter(_._3).map(_._1).toSet ===
      Set(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("labelComponents: both branches label the three public cluster " +
       "queries' sf0.01 candidate graphs identically") {
    import org.apache.spark.sql.functions.{col, length}
    // The union-find side is what the oracle gate checks at sf0.01; cap 0
    // forces the GraphX Pregel side onto the same pairs and universe, so
    // both sides answer to the oracle. Each default run must also equal
    // its public query, which pins the universe to the one it passes.
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.t(spark, sf, "documents")
    val cases = Seq(
      ("dedup_clusters", Dedup.dedupClusters(spark, sf),
        Dedup.stagedPairs(spark, sf).select(col("doc_a"), col("doc_b")),
        docs.select(col("doc_id")), "doc_id"),
      ("semantic_dedup", Dedup.semanticDedup(spark, sf),
        Dedup.stagedEmbedPairs(spark, sf, 0.35)
          .select(col("id_a"), col("id_b")),
        Tables.t(spark, sf, "embeddings").select(col("vec_id")), "vec_id"),
      ("mm_clusters", graft.ops.Multimodal.payloadClusters(spark, sf),
        graft.ops.Multimodal.stagedPerceptualPairs(spark, sf)
          .select(col("doc_a"), col("doc_b")),
        docs.filter(col("text").isNotNull && length(col("text")) > 0)
          .select(col("doc_id")), "doc_id"))
    for ((name, query, pairs, universe, id) <- cases) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
          .toSeq.sorted
      def run(cap: Long) =
        rows(Dedup.labelComponents(spark, pairs, universe, id, cap))
      val unionFind = run(Dedup.DriverCcMaxEdges)
      assert(pairs.count() > 0, s"$name: no candidate pairs at sf0.01")
      assert(unionFind === rows(query), s"$name: universe drifted")
      assert(run(0L) === unionFind, s"$name: Pregel != union-find")
    }
  }

  test("embedding near-dup finds planted almost-identical vectors") {
    val v  = Array.tabulate(8)(i => 0.1f * (i + 1))
    val v2 = v.clone(); v2(7) = v2(7) + 0.001f        // near-dup of v
    val w  = Array.tabulate(8)(i => if (i % 2 == 0) 0.5f else -0.5f)
    val edir = TestFixtures.writeDir(Map(
      "embeddings" -> Seq((0L, v.toSeq, 0), (1L, v2.toSeq, 0),
                          (2L, w.toSeq, 1))
        .toDF("vec_id", "embedding", "label")))
    val pairs = Dedup.embedNearDup(spark, edir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("line_dedup removes corpus-frequent lines, keeps order, and " +
       "empties fully-boilerplate docs") {
    // "click here" (one 2-token chunk) planted chunk-aligned in 4 of 8
    // docs (> 25%); every other chunk is unique to its doc.
    val ldir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, "click here only0a only0b", "en", "s"),
        (1L, "click here only1a only1b", "en", "s"),
        (2L, "click here only2a only2b", "en", "s"),
        (3L, "aa bb cc dd ee ff gg hh", "en", "s"),
        (4L, "w4a w4b w4c w4d", "en", "s"),
        (5L, "w5a w5b", "en", "s"),
        (6L, "w6a w6b w6c", "en", "s"),   // odd token count: tail chunk "w6c"
        (7L, "click here click here", "en", "s"))
        .toDF("doc_id", "text", "lang", "source")))
    val out = Dedup.lineDedup(spark, ldir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(0L) === ((1L, "only0a only0b")))
    assert(out(7L) === ((0L, "")))               // all chunks boilerplate
    assert(out(3L) === ((4L, "aa bb cc dd ee ff gg hh"))) // order preserved
    assert(out(6L) === ((2L, "w6a w6b w6c")))    // partial tail chunk kept
    assert(out.size === 8)
  }

  test("intradoc_dedup drops repeated 8-token chunks, keeps first " +
       "occurrence in order, and leaves unique docs untouched") {
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val tail = "t1 t2 t3" // short final chunk
    val idir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, s"$a $a $b $tail", "en", "s"), // 2nd A removed
        (1L, s"$a $b", "en", "s"),          // no repeats → identity
        (2L, tail, "en", "s"))              // single sub-width chunk
        .toDF("doc_id", "text", "lang", "source")))
    val out = Dedup.intradocDedup(spark, idir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) === ((4L, 3L, s"$a $b $tail")))
    assert(out(1L) === ((2L, 2L, s"$a $b")))
    assert(out(2L) === ((1L, 1L, tail)))
  }

  test("crossdoc_dedup: planted shared 64-token chunks lose to the " +
       "earliest (doc_id, pos) writer; sub-width tails always survive") {
    val ca = (0 until 64).map(i => s"a$i").mkString(" ")
    val cb = (0 until 64).map(i => s"b$i").mkString(" ")
    val cdir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, s"$ca $cb", "en", "s"),          // first writer of A and B
        (1L, s"$cb $ca", "en", "s"),          // both chunks lose → kept 0
        (2L, s"$ca $ca x y z", "en", "s"),    // intra-doc repeat also loses
        (3L, "short doc only", "en", "s"))    // no full chunk → all kept
        .toDF("doc_id", "text", "lang", "source")))
    val out = Dedup.crossdocDedup(spark, cdir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) === ((2L, 0L, 128L))) // 2 chunks, no dups
    assert(out(1L) === ((2L, 2L, 0L)))   // both dup → nothing kept
    assert(out(2L) === ((2L, 2L, 3L)))   // only the 3-token tail survives
    assert(out(3L) === ((0L, 0L, 3L)))   // sub-width doc untouched
  }

  test("dedup_incremental: batch docs die on corpus collision or " +
       "in-batch repeat, first writer survives") {
    // corpus = even ids, batch = odd ids
    val ddir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, "in corpus already", "en", "s"),
        (1L, "in corpus already", "en", "s"),  // batch dup of corpus → dies
        (3L, "fresh batch text", "en", "s"),   // survives
        (5L, "fresh batch text", "en", "s"),   // in-batch dup of 3 → dies
        (7L, "another fresh one", "en", "s"))  // survives
        .toDF("doc_id", "text", "lang", "source")))
    val ids = Dedup.dedupIncremental(spark, ddir).collect()
      .map(_.getLong(0)).toSet
    assert(ids === Set(3L, 7L))
  }

  test("canon_dedup_gain: case/punctuation jitter collapses under the " +
       "canonical hash, genuinely distinct docs don't") {
    val ddir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, "Hello, World!", "en", "s"),
        (1L, "hello world", "en", "s"),     // canon-dup of 0
        (2L, "hello   world", "en", "s"),   // whitespace jitter → same
        (3L, "hello world", "en", "s"),     // RAW dup of 1
        (4L, "something else", "en", "s"))
        .toDF("doc_id", "text", "lang", "source")))
    val Array(r) = Dedup.canonDedupGain(spark, ddir).collect()
    assert(r.getLong(0) === 5L)
    assert(r.getLong(1) === 4L, "raw: docs 1 and 3 share a hash")
    assert(r.getLong(2) === 2L, "canon: {0,1,2,3} collapse, 4 stands")
    assert(r.getLong(3) === 2L)
    assert(r.getDouble(4) ===
      BigDecimal(1.0 / 5 + 1e-9).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(5) ===
      BigDecimal(3.0 / 5 + 1e-9).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("neardup_incremental: exact copy and lightly-edited recrawl are " +
       "rejected, fresh batch docs admitted") {
    val base = (1 to 40).map(i => f"token$i%02d").mkString(" ")
    val edited = base.replace("token21", "tok3n21") // one-token edit
    val ddir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, base, "en", "s"),                  // corpus
        (2L, "completely different corpus text here now", "en", "s"),
        (1L, base, "en", "s"),                  // batch: exact copy → reject
        (3L, edited, "en", "s"),                // batch: near-dup → reject
        (5L, "unrelated fresh batch document entirely", "en", "s"))
        .toDF("doc_id", "text", "lang", "source")))
    val out = Dedup.neardupIncremental(spark, ddir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out.keySet === Set(1L, 3L, 5L), "one row per batch doc")
    val (c1, v1, adm1, j1) = out(1L)
    assert(!adm1 && v1 >= 1L && j1.contains(1.0),
      "an exact copy must verify at jacc 1.0 and be rejected")
    val (_, v3, adm3, j3) = out(3L)
    assert(!adm3 && v3 >= 1L, "a one-token edit must still be caught")
    assert(j3.exists(j => j >= 0.5 && j < 1.0))
    val (_, v5, adm5, j5) = out(5L)
    assert(adm5 && v5 === 0L && j5.isEmpty,
      "a fresh doc is admitted with no verified match")
    assert(c1 >= 1L)
  }

  test("editdist_pairs: exact-dup pair verifies at distance 0; output " +
       "is a subset of the LSH candidates") {
    val ed = Dedup.editdistPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(4)))).toMap
    assert(ed((0L, 1L)) === ((0L, 0.0)))   // identical texts
    val cand = Dedup.minhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ed.keySet.subsetOf(cand))
    ed.values.foreach { case (lev, ned) =>
      assert(lev >= 0L && ned >= 0.0 && ned <= 0.5)
    }
  }

  test("minhash_est_error: estimates are quarter steps over exactly the " +
       "candidate pairs; identical texts score est=jacc=1, err=0") {
    val rows = Dedup.minhashEstError(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val cand = Dedup.minhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.keySet === cand)
    val steps = Set(0.0, 0.25, 0.5, 0.75, 1.0)
    rows.values.foreach { case (est, jacc, err) =>
      assert(steps(est))
      assert(jacc >= 0.0 && jacc <= 1.0)
      assert(err >= 0.0 && err <= 1.0)
    }
    // the planted identical pair (docs 0/1 duplicate texts in the
    // fixture — editdistPairs pins lev 0 for it)
    assert(rows((0L, 1L)) === ((1.0, 1.0, 0.0)))
  }

  test("survivorship: golden records agree with an independent per-" +
       "cluster recompute") {
    val sf = "/root/testdata/sf0.001"
    val gold = Dedup.survivorship(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toMap
    val labels = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.t(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                 r.getString(3)))
    val want = docs.groupBy(d => labels(d._1))
      .filter(_._2.length >= 2)
      .map { case (c, ms) => c -> (ms.length.toLong, ms.map(_._1).min,
        ms.map(_._2).min, ms.map(_._3).max,
        ms.map(_._4).distinct.length.toLong) }
    assert(gold === want)
    assert(gold.nonEmpty, "fixture must contain near-dup merge groups")
  }

  test("dedup_cross_source: matrix recomputes from the cluster labels " +
       "and the source column, diagonal requires two docs of a source") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val labels = Dedup.stagedLabels(spark, dir)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val src = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cs = labels.toSeq.map { case (d, c) => (c, src(d)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .toSeq.map { case ((c, s), m) => (c, s, m) }
    val want = (for {
      (c1, sa, ma) <- cs; (c2, sb, mb) <- cs
      if c1 == c2 && (sa < sb || (sa == sb && ma >= 2))
    } yield ((sa, sb), if (sa == sb) ma else ma + mb))
      .groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val got = Dedup.dedupCrossSource(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === want)
    assert(got.nonEmpty, "fixture plants duplicates; matrix expected")
  }
}
