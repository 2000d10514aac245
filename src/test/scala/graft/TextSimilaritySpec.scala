package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Similarity, Text, Multimodal}

/** Text-analysis + similarity-search + multimodal semantics. */
class TextSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docsDir = TestFixtures.writeDir(Map(
    "documents" -> Seq(
      (0L, "the cat and the hat", "en", "src0"),
      (1L, "aaa bbb aaa bbb aaa", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")))

  test("text stats: token counts, distinct counts, ttr") {
    val r = Text.textStats(spark, docsDir).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getLong(1) === 5)             // n_tokens
    assert(r(0L).getLong(2) === 4)             // n_distinct ("the" twice)
    assert(r(1L).getLong(2) === 2)
    assert(r(1L).getDouble(3) === 0.4)         // ttr 2/5
  }

  test("quality: stopword ratio counts marker tokens") {
    val r = Text.textQuality(spark, docsDir).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(0L) === 0.6)  // the, and, the of 5
    assert(r(1L) === 0.0)
  }

  test("token entropy: hand-computed distributions; repetition lowers it") {
    val r = Text.tokenEntropy(spark, docsDir).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    // doc 0: p = (2/5, 1/5, 1/5, 1/5) -> H = ln5 - (2/5)ln2 ≈ 1.3322
    val h0 = -(0.4 * math.log(0.4) + 3 * 0.2 * math.log(0.2))
    assert(r(0L)._1 === 5L)
    assert(r(0L)._2 === math.rint((h0 + 1e-9) * 1e4) / 1e4)
    // doc 1: p = (3/5, 2/5) -> H ≈ 0.6730; two-symbol repetition is far
    // below doc 0's four-symbol spread
    val h1 = -(0.6 * math.log(0.6) + 0.4 * math.log(0.4))
    assert(r(1L)._2 === math.rint((h1 + 1e-9) * 1e4) / 1e4)
    assert(r(1L)._2 < r(0L)._2)
  }

  test("regex token classes split alpha/digit/symbol runs") {
    val d = TestFixtures.writeDir(Map("documents" ->
      Seq((0L, "abc 123 x9! ?", "en", "s")).toDF("doc_id", "text", "lang", "source")))
    val r = Text.tokenRegex(spark, d).head()
    assert(r.getLong(1) === 2) // abc, x
    assert(r.getLong(2) === 2) // 123, 9
    assert(r.getLong(3) === 2) // !, ?
  }

  test("native codegen cosine == higher-order-function cosine, bitwise, " +
       "on the real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.limit(20).select(col("vec_id").as("qid"),
                               col("embedding").as("qe"))
    val diff = q.crossJoin(e)
      .select(Similarity.cosine(col("qe"), col("embedding")).as("nat"),
              Similarity.cosineHof(col("qe"), col("embedding")).as("hof"))
      .filter(col("nat") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("cosine_sim is registered for SQL text") {
    graft.functions.GraftFunctions.register(spark)
    val one = spark.sql(
      "SELECT cosine_sim(array(1.0f, 2.0f), array(1.0f, 2.0f)) AS s")
      .head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
    val sh = spark.sql("SELECT shingles('a b c d') AS s")
      .head().getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
  }

  test("shingles SQL arity: k argument is honored, bad arity fails at analysis") {
    graft.functions.GraftFunctions.register(spark)
    val sh2 = spark.sql("SELECT shingles('a b c d', 2) AS s")
      .head().getSeq[String](0)
    assert(sh2 === Seq("a b", "b c", "c d"))
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingles('a', 2, 3)").collect()
    }
    assert(e1.getMessage.contains("shingles"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(1.0f))").collect()
    }
    assert(e2.getMessage.contains("cosine_sim"))
  }

  test("GraftSession.builder yields a fully-wired engine session") {
    // getOrCreate shares the JVM-wide context in tests — do NOT stop it,
    // and do NOT pass runtime overrides (they would mutate the shared
    // session for every later suite). Static confs (extensions) cannot
    // re-apply to an existing session, so the wiring assertions here are
    // the runtime ones; the declared conf map is asserted directly.
    val s = GraftSession.builder(master = "local[2]").getOrCreate()
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get(Tables.NanosAsLongKey) === "true")
    val sim = s.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
      .head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-9)
  }

  test("GraftExtensions injects the custom functions at session build") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    // note: getOrCreate may return the shared session; functions must
    // still resolve because injectFunction registers globally
    val n = s2.sql("SELECT size(shingles('x y z w')) AS n").head().getInt(0)
    assert(n === 2)
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      round(Similarity.cosine(col("a"), col("b")), 6).as("same"),
      round(Similarity.cosine(col("a"), col("c")), 6).as("orth")).head()
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 0.0)
  }

  test("brute-force top-k on the real fixture: k rows per query, " +
       "descending sim, no self-matches") {
    val r = Similarity.topKBrute(spark, "/root/testdata/sf0.001")
    val rows = r.collect()
    assert(rows.length === 10 * 5)
    assert(rows.forall(x => x.getLong(0) != x.getLong(1)))
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.forall { case (_, g) =>
      val sims = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      sims.zip(sims.tail).forall { case (a, b) => a >= b }
    })
  }

  test("LSH ANN candidates are a subset of brute-force scoring " +
       "(same sim for same pair)") {
    val brute = Similarity.topKBrute(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = Similarity.annLsh(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = brute.keySet.intersect(ann.keySet)
    assert(shared.nonEmpty)
    shared.foreach(k => assert(brute(k) === ann(k)))
  }

  test("hard_negatives: one sub-threshold negative per anchor, and it " +
       "agrees with annLsh's ranking wherever the top-3 crosses 0.9") {
    val dir = "/root/testdata/sf0.001"
    val hn = Similarity.hardNegatives(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    assert(hn.map(_._1).distinct.length === hn.length, "one row per anchor")
    hn.foreach { case (_, (_, sim)) => assert(sim < 0.9) }
    val hnMap = hn.toMap
    // annLsh ranks ALL in-bucket candidates; if any of an anchor's top-3
    // falls below 0.9, the first such entry IS the global hardest
    // negative (everything outside the top-3 scores no higher).
    val top3 = Similarity.annLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    top3.foreach { case (anchor, rows) =>
      rows.sortBy(_._2).find(_._4 < 0.9).foreach { first =>
        assert(hnMap(anchor) === ((first._3, first._4)),
          s"anchor $anchor hard negative disagrees with annLsh ranking")
      }
    }
  }

  test("ann_incremental: every batch row is odd, matches are even, the " +
       "reported best_sim is the true pair cosine, and the admit rule " +
       "is exactly best_sim < 0.9 (no candidates admits)") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def q6(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val rows = Similarity.annIncremental(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSet ===
      vecs.keySet.filter(_ % 2 == 1), "one verdict per odd-id batch row")
    rows.foreach { r =>
      val (id, n) = (r.getLong(0), r.getLong(1))
      if (n == 0) {
        assert(r.isNullAt(2) && r.isNullAt(3) && r.getBoolean(4))
      } else {
        val (m, sim) = (r.getLong(2), r.getDouble(3))
        assert(m % 2 == 0, s"best match of $id must come from the corpus")
        assert(sim === q6(cos(vecs(id), vecs(m))),
          s"reported best_sim of $id must be the true pair cosine")
        assert(r.getBoolean(4) === (sim < 0.9))
      }
    }
  }

  test("quantized ANN: rescored sims are the exact fp32 cosines, results " +
       "subset the LSH candidate universe, int8 ordering is reproducible") {
    val dir = "/root/testdata/sf0.001"
    val brute = Similarity.topKBrute(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val quant = Similarity.annQuant(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(quant.nonEmpty)
    assert(quant.forall(x => x._1 != x._2))
    // rescoring is EXACT: any pair brute also scored carries the same sim
    quant.foreach { case (q, n, s, _) =>
      brute.get((q, n)).foreach(b => assert(b === s, s"($q,$n)")) }
    // per query: ranks dense from 1, sims descend, ties broken by id
    quant.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.size).toSeq)
      sorted.sliding(2).foreach {
        case Array((_, n1, s1, _), (_, n2, s2, _)) =>
          assert(s1 > s2 || (s1 == s2 && n1 < n2))
        case _ => ()
      }
    }
    // determinism of the integer candidate stage: a second run is
    // bit-identical (no float proxy score anywhere before the rescore)
    val again = Similarity.annQuant(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(quant.toSeq === again.toSeq)
  }

  test("TopKAggregator (bounded-heap partial agg) == window row_number " +
       "top-k on the real fixture") {
    import graft.functions.TopKAggregator
    val window = Similarity.topKBrute(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probeIds = hashMin(fixtureVecs("/root/testdata/sf0.001"), 10)
      .map(_._1)
    val q = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val agg = q.crossJoin(
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        round(Similarity.cosine(col("q_emb"), col("n_emb")), 6).as("sim"),
        col("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(TopKAggregator.topK(5)(col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
              col("col").getField("_2").as("neighbor_id"),
              col("col").getField("_1").as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(agg === window)
  }

  test("multimodal decodeBatch (typed mapPartitions stub) agrees with the " +
       "columnar meta query") {
    val cols = Multimodal.meta(spark, docsDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val typed = Multimodal.decodeBatch(spark, docsDir).collect()
      .map(m => m.doc_id -> (m.n_bytes, m.width, m.height, m.frames)).toMap
    assert(cols === typed)
  }

  test("token_encode: ids follow (count desc, term asc), sequence order " +
       "preserved, no OOV under the vocab cap") {
    val tdir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (0L, "a a b", "en", "s"),
        (1L, "b c a", "en", "s"))
        .toDF("doc_id", "text", "lang", "source")))
    val r = Text.tokenEncode(spark, tdir).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // corpus counts: a=3, b=2, c=1 → ids a→1, b→2, c→3
    assert(r(0L) === ((3L, 0L, "1 1 2")))
    assert(r(1L) === ((3L, 0L, "2 3 1")))
  }

  test("kmeans_assign == an independent plain-Scala Lloyd's iteration " +
       "on the real sf0.001 corpus") {
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def q6(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    def argmax(v: Array[Double], cents: Seq[(Long, Array[Double])]): Long =
      cents.map { case (id, c) => (q6(cos(v, c)), id) }
        .reduceLeft((a, b) =>
          if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)._2
    val seeds = hashMin(vecs, 8)
    val a1 = vecs.map { case (id, v) => id -> argmax(v, seeds) }.toMap
    val dim = vecs.head._2.length
    val cents2 = a1.values.toSeq.distinct.sorted.map { cell =>
      val members = vecs.filter(x => a1(x._1) == cell).map(_._2)
      cell -> Array.tabulate(dim) { d =>
        val m = members.map(_(d)).sum / members.length
        math.signum(m) * math.floor(math.abs(m) * 1e6 + 0.5) / 1e6
      }
    }
    val want = vecs.map { case (id, v) => id -> argmax(v, cents2) }.toMap
    val got = Similarity.kmeansAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("cluster_ari == a driver-side pair-counting recompute from the " +
       "operator's own assignments; perfect self-agreement scores 1") {
    val sf = "/root/testdata/sf0.001"
    val asg = Similarity.kmeansAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lbl = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    def c2(x: Long) = x * (x - 1) / 2
    val cells = asg.toSeq.map { case (id, c) => (c, lbl(id)) }
      .groupBy(identity).map { case (_, g) => g.size.toLong }
    val sumIj = cells.map(c2).sum
    val sumA = asg.values.groupBy(identity)
      .map(g => c2(g._2.size.toLong)).sum
    val sumB = lbl.values.groupBy(identity)
      .map(g => c2(g._2.size.toLong)).sum
    val n = asg.size.toLong
    val p = c2(n)
    val wantAri = (2.0 * p * sumIj - 2.0 * sumA * sumB) /
      (p.toDouble * (sumA + sumB) - 2.0 * sumA * sumB)
    val r = Similarity.clusterAri(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(0) === n)
    assert(row.getLong(3) === p && row.getLong(4) === sumIj)
    assert(row.getLong(5) === sumA && row.getLong(6) === sumB)
    assert(math.abs(row.getDouble(7) - wantAri) < 1e-5)
    // metric ranges: ARI <= 1 (can go negative), Rand in [0, 1]
    assert(row.getDouble(7) <= 1.0 + 1e-9)
    assert(row.getDouble(8) >= 0.0 && row.getDouble(8) <= 1.0 + 1e-9)
  }

  test("lang_confusion: cells conserve the corpus, rates row-normalize, " +
       "diagonal flagged") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Text.langConfusion(spark, sf).collect()
    val total = Tables.t(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum === total)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(math.abs(g.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
    rows.foreach(r =>
      assert(r.getBoolean(4) === (r.getString(0) == r.getString(1))))
  }

  test("sent_stats: hand-checked segmentation — terminal punctuation " +
       "binds to the last sentence, blank splits drop") {
    val sdir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (1L, "one two. three four five! six", "en", "web"),
        (2L, "only one sentence", "en", "web"),
        (3L, "ends hard.  ", "en", "web"))
        .toDF("doc_id", "text", "lang", "source")))
    val got = graft.ops.Text.sentStats(spark, sdir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // doc 1: ["one two", "three four five", "six"] → 3 sents, avg 2.0
    assert(got(1L) === ((3L, Some(2.0), Some(3L))))
    assert(got(2L) === ((1L, Some(3.0), Some(3L))))
    // doc 3: "ends hard.  " splits to ["ends hard", ""] → blank dropped
    assert(got(3L) === ((1L, Some(2.0), Some(2L))))
  }

  test("embedding_quantize: hand-computed int8 codes and reconstruction " +
       "error") {
    val vdir = TestFixtures.writeDir(Map(
      "embeddings" -> Seq((1L, Seq(3.0f, -4.0f, 0.0f), 0))
        .toDF("vec_id", "embedding", "label")))
    val r = graft.ops.Similarity.embeddingQuantize(spark, vdir).head()
    val scale = 4.0 / 127.0
    assert(r.getDouble(1) ===
      BigDecimal(scale).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(r.getLong(2) === -127L) // -4/scale = -127
    assert(r.getLong(3) === math.round(3.0 / scale)) // 95
    val err = math.sqrt(
      math.pow(3.0 - math.round(3.0 / scale) * scale, 2) +
      math.pow(-4.0 + 127.0 * scale, 2))
    assert(r.getDouble(4) ===
      BigDecimal(err).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("vector_stats: hand-computed norm/extremes/counts on a planted " +
       "vector") {
    val vdir = TestFixtures.writeDir(Map(
      "embeddings" -> Seq(
        (1L, Seq(3.0f, -4.0f, 0.0f), 0),
        (2L, Seq(-1.5f, 2.5f), 1))
        .toDF("vec_id", "embedding", "label")))
    val got = graft.ops.Similarity.vectorStats(spark, vdir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    assert(got(1L) === ((3L, 5.0, -4.0, 3.0, 2L)))
    val n2 = BigDecimal(math.sqrt(1.5 * 1.5 + 2.5 * 2.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L) === ((2L, n2, -1.5, 2.5, 1L)))
  }

  test("sparse_cosine: hand-computed rare-term cosine; ubiquitous terms " +
       "(df > cap) never pair") {
    // docs 1/2 share rare terms (zebra quark), doc 3 shares only the
    // ubiquitous filler ("common", df = 34 > 32 — planted above cap by
    // 34 docs), doc 4 overlaps 1 on one rare term with tf 2 vs 1
    val filler = (100L until 134L).map(i =>
      (i, "common", "en", "web"))
    val rows = Seq(
      (1L, "zebra quark common", "en", "web"),
      (2L, "zebra quark common", "en", "web"),
      (3L, "common only here", "en", "web"),
      (4L, "zebra zebra common", "en", "web")) ++ filler
    val dir = TestFixtures.writeDir(Map(
      "documents" -> rows.toDF("doc_id", "text", "lang", "source")))
    val got = Similarity.sparseCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2),
                 r.getDouble(3))).toMap
    // rare spaces: d1 = {zebra:1, quark:1}, d2 same, d4 = {zebra:2};
    // d3 = {only:1, here:1} shares no rare term with anyone
    assert(got((1L, 2L)) === ((2L, 1.0)))          // identical rare vectors
    val s14 = BigDecimal(2.0 / (math.sqrt(2) * 2) + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 4L)) === ((2L, s14)))          // 2/(√2·√4) ≈ 0.707107
    assert(got((2L, 4L)) === ((2L, s14)))
    assert(got.keySet === Set((1L, 2L), (1L, 4L), (2L, 4L)),
      "no pair may form through a ubiquitous term")
  }

  test("jaro_winkler: textbook values, DuckDB edge semantics, SQL route") {
    graft.functions.GraftFunctions.register(spark)
    def jw(a: String, b: String): Any =
      spark.sql(s"SELECT jaro_winkler('$a', '$b') AS s").collect()(0).get(0)
    // classic worked examples (same values DuckDB returns — FIXTURES.md)
    assert(jw("martha", "marhta") === 0.9611111111111111)
    assert(jw("dwayne", "duane") === 0.8400000000000001)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    // 3 mismatches along the matched sequences floor to 1 transposition,
    // as DuckDB counts them (jaro_similarity gives 0.958333)
    assert(jw("abcdefgh", "bcadefgh") === 0.9583333333333334)
    // boost threshold: jaro 2/3 < 0.7 → NO prefix boost
    assert(jw("ab", "ax") === 0.6666666666666666)
    // prefix capped at 4 even though 7 chars match
    assert(jw("prefix_aaaa", "prefix_zzzz") === 0.8545454545454545)
    // DuckDB: empty → 0 even when both empty; equality → 1; null → null
    assert(jw("", "") === 0.0)
    assert(jw("a", "b") === 0.0)
    assert(jw("same", "same") === 1.0)
    val n = spark.sql("SELECT jaro_winkler(NULL, 'x') AS s")
      .collect()(0).isNullAt(0)
    assert(n, "null input must yield null")
    // arity is validated at analysis, not silently dropped
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT jaro_winkler('a')").collect()
    }
    assert(e.getMessage.contains("jaro_winkler"))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ann_ndcg: naive per-query NDCG/MRR recompute matches, and a " +
       "perfect ANN ranking scores exactly 1") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def top5(cands: Iterable[Long], q: Long): Seq[Long] =
      cands.filter(_ != q).toSeq
        .map(n => (r6(cos(emb(q), emb(n))), n))
        .sortBy { case (s, n) => (-s, n) }.take(5).map(_._2)
    val bits = Similarity.adaptiveBits(emb.size.toLong)
    def sigOf(v: Array[Float]): Long =
      (0 until bits).map(i => if (v(i) >= 0) 1L << i else 0L).sum
    // the directed tier's probe set: top-budget flip masks by
    // (flipped-margin total, mask) — independently recomputed
    def probeSet(v: Array[Float]): Set[Long] = {
      val margins = (0 until bits)
        .map(i => math.round(math.abs(v(i).toDouble) * 1e6))
      (0L until (1L << bits)).map { mask =>
        val score = (0 until bits)
          .filter(b => (mask >> b & 1) == 1).map(margins(_)).sum
        (score, mask)
      }.sorted.take(Similarity.probeBudget(bits)).map(_._2).toSet
    }
    val log2 = math.log(2)

    val rows = Similarity.annNdcg(spark, dir).collect()
    val probeIds = emb.keys.toSeq
      .sortBy(id => (md5hex(s"vs|$id"), id)).take(10).sorted
    assert(rows.map(_.getLong(0)).toSeq === probeIds)
    rows.foreach { r =>
      val q = r.getLong(0)
      val truth = top5(emb.keys, q)
      val rel = truth.zipWithIndex
        .map { case (n, i) => n -> (5 - i).toDouble }.toMap
      // directed-probe candidate rule: the signature diff must rank
      // within the query's probe budget by (flipped-margin total, mask)
      val qProbes = probeSet(emb(q))
      val ann = top5(
        emb.keys.filter(n => qProbes.contains(sigOf(emb(n)) ^ sigOf(emb(q)))),
        q)
      val dcg = ann.zipWithIndex.map { case (n, i) =>
        rel.getOrElse(n, 0.0) / (math.log(i + 2) / log2) }.sum
      val idcg = truth.zipWithIndex.map { case (n, i) =>
        rel(n) / (math.log(i + 2) / log2) }.sum
      val hits = ann.zipWithIndex.filter { case (n, _) => rel.contains(n) }
      val mrr =
        hits.headOption.map { case (_, i) => 1.0 / (i + 1) }.getOrElse(0.0)
      assert(r.getLong(1) === truth.size.toLong, s"n_truth q=$q")
      assert(r.getLong(2) === hits.size.toLong, s"n_hit q=$q")
      assert(math.abs(r.getDouble(3) - dcg / idcg) < 1e-5, s"ndcg q=$q")
      assert(math.abs(r.getDouble(4) - mrr) < 1e-5, s"mrr q=$q")
      if (ann == truth)
        assert(math.abs(r.getDouble(3) - 1.0) < 1e-6,
          s"identical ranking must score ndcg 1 (q=$q)")
    }
  }

  test("embed_drift: per-dim means, shift ranking, and centroid cosine " +
       "recompute from the raw vectors") {
    val dir = "/root/testdata/sf0.001"
    val vecs = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val dim = vecs.head._2.length
    val olds = vecs.filter(_._1 % 2 == 0).map(_._2)
    val news = vecs.filter(_._1 % 2 == 1).map(_._2)
    def meanAt(vs: Array[Array[Float]], d: Int): Double =
      r6(vs.map(_(d).toDouble).sum / vs.length)
    val dims = (0 until dim).map { d =>
      val mo = meanAt(olds, d); val mn = meanAt(news, d)
      (d + 1L, mo, mn, r6(math.abs(mn - mo) + 1e-9))
    }
    val cc = r6(dims.map(t => t._2 * t._3).sum /
      (math.sqrt(dims.map(t => t._2 * t._2).sum) *
       math.sqrt(dims.map(t => t._3 * t._3).sum)) + 1e-9)
    val expTop = dims.sortBy(t => (-t._4, t._1)).take(10)

    val rows = Similarity.embedDrift(spark, dir).collect()
    assert(rows.length === 10)
    rows.zip(expTop).foreach { case (r, (d, mo, mn, sh)) =>
      assert(r.getLong(0) === d, "drift dim selection")
      assert(math.abs(r.getDouble(1) - mo) < 2e-6)
      assert(math.abs(r.getDouble(2) - mn) < 2e-6)
      assert(math.abs(r.getDouble(3) - sh) < 2e-6)
      assert(math.abs(r.getDouble(4) - cc) < 2e-6)
    }
  }

  test("linkage_verify: planted near-identical pair scores high, " +
       "unrelated candidate scores lower") {
    // three docs land in one LSH bucket only if minhash agrees; instead
    // drive the full operator on the real fixture and pin invariants:
    // every candidate pair is scored, scores are in [0, 1], and the
    // is_dup decision equals the rounded-threshold rule exactly
    val rows = graft.ops.Dedup.linkageVerify(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty, "fixture plants near-dups; candidates expected")
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getBoolean(3) === (s >= 0.9), s"decision at $s")
    }
  }

  /** The merge rows Text.bpeLearn learns from a planted corpus. */
  private def bpeMergesOf(docs: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String, String, Long, Long)] = {
    val (learned, vocab) = Text.bpeLearn(spark, docs)
    vocab.unpersist()
    learned
  }

  test("bpe_merges: hand-computed merge sequence on a planted corpus — " +
       "greedy overlap on aaa, composite merges, lexicographic " +
       "tie-break, count-weighted selection") {
    // vocab: aaab(2) caaa(1) xy(1) xz(1).
    // r1 (a,a) 6 [2·2 within aaab + 2 within caaa] → aa; greedy keeps
    //    the third a unmerged: [aa,a,b] / [c,aa,a]
    // r2 (aa,a) 3 → aaa     r3 (aaa,b) 2 → aaab
    // r4..r6 are all count-1 — selection falls to the (lhs, rhs)
    //    lexicographic tie-break: (c,aaa), then (x,y), then (x,z)
    val docs = Seq((1L, "aaab aaab caaa xy xz")).toDF("doc_id", "text")
    assert(bpeMergesOf(docs) === Seq(
      (1L, "a", "a", 6L, 13L),
      (2L, "aa", "a", 3L, 10L),
      (3L, "aaa", "b", 2L, 8L),
      (4L, "c", "aaa", 1L, 7L),
      (5L, "x", "y", 1L, 6L),
      (6L, "x", "z", 1L, 5L)))
  }

  test("bpe_encode: documents encode through the final vocab — " +
       "hand-computed symbol counts on a planted corpus") {
    // vocab: aaab(3) caaa(1) xy(1) xz(1) qq(1). The six merges:
    // (a,a)8 → (aa,a)4 → (aaa,b)3 → then the count-1 tie-break ladder
    // (c,aaa), (q,q), (x,y) — xz never merges, so it alone encodes to
    // 2 symbols; every other word type collapses to 1
    val dir = TestFixtures.writeDir(Map(
      "documents" -> Seq(
        (1L, "aaab aaab caaa xy xz", "en", "s0"),
        (2L, "aaab qq", "en", "s0"))
        .toDF("doc_id", "text", "lang", "source")))
    val rows = graft.ops.Text.bpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 r.getDouble(3)))
    assert(rows.toSeq === Seq(
      (1L, 5L, 6L, 1.2),
      (2L, 2L, 2L, 1.0)))
  }

  test("bpe_merges: a pair-starved corpus stops early instead of " +
       "emitting degenerate rounds") {
    // single-letter words only — no adjacent pairs exist at all
    val docs = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    assert(bpeMergesOf(docs).isEmpty)
  }

  // ---- shared plain-Scala recompute helpers (PQ / MMR) ---------------
  /** The vecSample rule recomputed independently: the k rows with the
    * smallest md5("vs|" <> id), ties by id, returned in vec_id order. */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def hashMin(vecs: Array[(Long, Array[Double])], k: Int)
      : Seq[(Long, Array[Double])] =
    vecs.sortBy(x => (md5hex(s"vs|${x._1}"), x._1)).take(k)
      .sortBy(_._1).toSeq
  private def q6d(x: Double) =
    math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
  private def cosd(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
  }
  private def argmaxCos(v: Array[Double],
                        cents: Seq[(Long, Array[Double])]): Long =
    cents.map { case (id, c) => (q6d(cosd(v, c)), id) }
      .reduceLeft((a, b) =>
        if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)._2
  private def fixtureVecs(sf: String): Array[(Long, Array[Double])] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)

  /** Plain-Scala PQ learn/encode (one refinement, seed fallback for
    * empty codes) — the independent recompute both pq_codes tests
    * compare against. Returns per-subspace final assignments. */
  private def pqRecompute(vecs: Array[(Long, Array[Double])])
      : IndexedSeq[Map[Long, Long]] = {
    val (m, sub, k) = (4, 16, 16)
    (0 until m).map { s =>
      def sl(v: Array[Double]) = v.slice(s * sub, (s + 1) * sub)
      // codes are the seeds' vec_id-ordered ranks (hashMin returns them
      // in vec_id order), mirroring pqModel
      val seeds = hashMin(vecs, k).zipWithIndex
        .map { case ((_, v), i) => i.toLong -> sl(v) }
      val a1 = vecs.map { case (id, v) =>
        id -> argmaxCos(sl(v), seeds.toSeq) }.toMap
      // refined means (6-dp) where a code has members; seed otherwise
      val cents2 = seeds.map { case (code, seedSl) =>
        val members = vecs.filter(x => a1(x._1) == code).map(x => sl(x._2))
        code -> (if (members.isEmpty) seedSl
                 else Array.tabulate(sub) { d =>
                   q6d(members.map(_(d)).sum / members.length) })
      }
      vecs.map { case (id, v) => id -> argmaxCos(sl(v), cents2.toSeq) }.toMap
    }
  }

  private def pqGot(dir: String): Map[Long, Seq[Long]] =
    Similarity.pqCodes(spark, dir).collect()
      .map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("pq_codes == an independent plain-Scala per-subspace refinement " +
       "on the real sf0.001 corpus") {
    val vecs = fixtureVecs("/root/testdata/sf0.001")
    val want = pqRecompute(vecs)
    val got = pqGot("/root/testdata/sf0.001")
    assert(got.keySet === vecs.map(_._1).toSet)
    got.foreach { case (id, codes) =>
      assert(codes === (0 until 4).map(s => want(s)(id)), s"vec $id")
    }
  }

  test("pq_codes empty-code seed fallback: a seed collinear with a " +
       "lower-id seed loses every tie, its code goes empty, and the " +
       "refinement keeps the SEED centroid for it") {
    // pick two SAMPLED seeds a < b (the hash-min 16 of ids 0..19) and
    // plant vec b = 2 × vec a: cosine ties at 1.0 against both seed
    // codes, the lower CODE wins, so b's code gets zero members
    val sampleIds = (0L until 20L)
      .sortBy(id => (md5hex(s"vs|$id"), id)).take(16).sorted
    val a = sampleIds.head
    val b = sampleIds(1)
    val emptyCode = 1L // b's code = its vec_id rank among the seeds
    def mk(id: Int): Seq[Float] =
      Seq.tabulate(64)(d => (math.sin(id * 7.3 + d * 1.1) +
        0.01f * (id + d % 5)).toFloat)
    val rows = (0 until 20).map { i =>
      val v = if (i.toLong == b) mk(a.toInt).map(_ * 2.0f) else mk(i)
      (i.toLong, v, 0)
    }
    val dir = TestFixtures.writeDir(Map(
      "embeddings" -> rows.toDF("vec_id", "embedding", "label")))
    val vecs = fixtureVecs(dir)
    val want = pqRecompute(vecs)
    // the planted fixture actually exercises the branch
    (0 until 4).foreach { s =>
      assert(!want(s).values.exists(_ == emptyCode),
        s"code $emptyCode (seed vec $b) must be empty in subspace $s") }
    val got = pqGot(dir)
    got.foreach { case (id, codes) =>
      assert(codes === (0 until 4).map(s => want(s)(id)), s"vec $id")
    }
  }

  test("sim_ann_pq: rescored sims are the exact fp32 cosines, ranks are " +
       "dense and deterministically tie-broken, runs are bit-identical") {
    val sf = "/root/testdata/sf0.001"
    val vecs = fixtureVecs(sf).toMap
    val got = Similarity.simAnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty)
    assert(got.forall(x => x._1 != x._2))
    val probeSet = hashMin(fixtureVecs(sf), 10).map(_._1).toSet
    assert(got.forall(x => probeSet(x._1)))
    // the ADC candidate stage only prunes; the reported sim is always the
    // true fp32 pair cosine (6 dp)
    got.foreach { case (q, n, s, _) =>
      assert(s === q6d(cosd(vecs(q), vecs(n))), s"($q,$n)") }
    got.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.size).toSeq)
      sorted.sliding(2).foreach {
        case Array((_, n1, s1, _), (_, n2, s2, _)) =>
          assert(s1 > s2 || (s1 == s2 && n1 < n2))
        case _ => ()
      }
    }
    val again = Similarity.simAnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === again.toSeq)
  }

  test("cluster_balance: accounting identities hold against the corpus " +
       "and the skew ratio recomputes from the emitted stats") {
    val sf = "/root/testdata/sf0.001"
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val r = Similarity.clusterBalance(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val (cells, occ, empty, vecs) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val (minSz, maxSz, meanSz, skew) =
      (row.getLong(4), row.getLong(5), row.getDouble(6), row.getDouble(7))
    assert(cells === math.ceil(math.sqrt(n.toDouble)).toLong)
    assert(occ + empty === cells && vecs === n)
    assert(minSz <= maxSz && minSz >= 1)
    assert(meanSz >= minSz - 1e-9 && meanSz <= maxSz + 1e-9)
    def r4(x: Double) = math.floor((x + 1e-9) * 1e4 + 0.5) / 1e4
    assert(meanSz === r4(vecs.toDouble / occ))
    assert(skew === r4(maxSz.toDouble * occ / vecs))
    assert(skew >= 1.0)
  }

  test("hybrid_rrf: rrf recomputes from the emitted ranks, ranks are " +
       "dense, and both legs contribute to the fused top-5") {
    val rows = graft.ops.Corpus.hybridRrf(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    def f(r: Long) = if (r > 0) 1.0 / (60.0 + r) else 0.0
    rows.foreach { case (q, c, lex, vec, rrf, _) =>
      val want = math.floor((f(lex) + f(vec) + 1e-9) * 1e6 + 0.5) / 1e6
      assert(rrf === want, s"($q,$c)")
      assert(lex >= 0 && lex <= 50 && vec >= 0 && vec <= 50)
      assert(lex > 0 || vec > 0, "a fused candidate came from some leg")
    }
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._6).sorted.toSeq === (1L to g.size).toSeq)
    }
    // fusion is doing work — proven on a PLANTED corpus (the sf fixture
    // has a single rare term, so whether a sampled query touches the
    // lexical leg is fixture luck): every doc shares a rare term with
    // its ring neighbors, so any sampled query has lexical candidates,
    // and with 19 < topL vector candidates every lexical candidate row
    // must carry BOTH ranks
    val planted = TestFixtures.writeDir(Map(
      "documents" -> (0 until 20).map(i =>
        (i.toLong, s"t$i t${(i + 1) % 20}", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"),
      "embeddings" -> (0 until 20).map(i =>
        (i.toLong,
         Seq.tabulate(8)(d => (math.sin(i * 1.7 + d) + 0.3).toFloat), 0))
        .toDF("vec_id", "embedding", "label")))
    val pr = graft.ops.Corpus.hybridRrf(spark, planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(pr.exists(r => r._3 > 0 && r._4 > 0),
      "some fused winner must be backed by both legs")
    assert(pr.exists(r => r._3 == 0 || r._4 == 0),
      "the legs must not be identical rankings")
  }

  test("ann_dim_tradeoff: the full-dim leg scores exactly 1, and the " +
       "d=8 leg equals a plain-Scala truncated-cosine recompute") {
    val sf = "/root/testdata/sf0.001"
    val vecs = fixtureVecs(sf)
    val vmap = vecs.toMap
    val rows = Similarity.annDimTradeoff(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val qIds = hashMin(vecs, 10).map(_._1)
    assert(rows.keySet.map(_._1) === Set("d08", "d16", "d32", "d64"))
    assert(rows.keySet.filter(_._1 == "d64").map(_._2) === qIds.toSet)
    // d64 IS the truth: recall exactly 1 for every query
    qIds.foreach { q =>
      val (nt, nh, rec) = rows(("d64", q))
      assert(nt === nh && rec === 1.0, s"q=$q")
    }
    // d08 leg == independent truncated-cosine recompute
    def top5(d: Int, q: Long): Set[Long] =
      vecs.filter(_._1 != q).map { case (n, v) =>
        (q6d(cosd(vmap(q).take(d), v.take(d))), n)
      }.sortBy { case (s, n) => (-s, n) }.take(5).map(_._2).toSet
    qIds.foreach { q =>
      val truth = top5(64, q)
      val hit = (top5(8, q) intersect truth).size.toLong
      assert(rows(("d08", q))._2 === hit, s"q=$q")
    }
  }

  test("ivf_retrain == an independent plain-Scala Lloyd update from the " +
       "current assignment, and the gate consumes cluster_balance's skew") {
    val sf = "/root/testdata/sf0.001"
    val vecs = fixtureVecs(sf)
    val nCells = math.ceil(math.sqrt(vecs.length.toDouble)).toLong
    val seeds = hashMin(vecs, nCells.toInt)
    val a1 = vecs.map { case (id, v) => id -> argmaxCos(v, seeds) }.toMap
    def stats(asg: Map[Long, Long]): (Long, Long, Double) = {
      val sizes = asg.values.groupBy(identity).view.mapValues(_.size)
      val (occ, mx) = (sizes.size.toLong, sizes.values.max.toLong)
      def r4(x: Double) = math.floor((x + 1e-9) * 1e4 + 0.5) / 1e4
      (occ, mx, r4(mx.toDouble * occ / vecs.length))
    }
    val (occB, maxB, skewB) = stats(a1)
    val dim = vecs.head._2.length
    val cents2 = seeds.map { case (cell, seedV) =>
      val members = vecs.filter(x => a1(x._1) == cell).map(_._2)
      cell -> (if (members.isEmpty) seedV
               else Array.tabulate(dim)(d =>
                 q6d(members.map(_(d)).sum / members.length)))
    }
    val a2 = vecs.map { case (id, v) => id -> argmaxCos(v, cents2) }.toMap
    val (occA, maxA, skewA) = stats(a2)
    val r = Similarity.ivfRetrain(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(0) === nCells && row.getLong(1) === vecs.length)
    assert(row.getLong(2) === occB && row.getLong(3) === maxB)
    assert(row.getDouble(4) === skewB)
    // the gate consumes the audit: retrained ⇔ skew_before > 1.25, and
    // the after-columns follow the branch
    val retrained = skewB > 1.25
    assert(row.getBoolean(5) === retrained)
    if (retrained) {
      assert(row.getLong(6) === occA && row.getLong(7) === maxA)
      assert(row.getDouble(8) === skewA)
    } else {
      assert(row.getLong(6) === occB && row.getLong(7) === maxB)
      assert(row.getDouble(8) === skewB)
    }
    // the fixture exercises the retrain branch, and the update is a
    // genuine re-home (some vector changed cell)
    assert(retrained, "sf0.001 skew must trip the 1.25 gate")
    assert(a1 !== a2, "the refined codebook should move some vector")
  }

  test("ivf_retrain echo branch: a PLANTED balanced corpus sits under " +
       "the 1.25 gate, retrained=false, and the after-columns echo the " +
       "before-stats (the PQ empty-code planted-fixture rule — both " +
       "gate branches are spec-recomputed, not just the one the sf " +
       "fixtures happen to take)") {
    // 16 vectors → 4 hash-min seed cells. Give each SEED its own
    // disjoint 16-dim support block and spread the other 12 ids 3 per
    // block (tiny in-block perturbation): every vector's argmax cell is
    // its block's seed (cross-block cosine is exactly 0), so all 4
    // cells hold 4 vectors — skew = 4·4/16 = 1.0 ≤ 1.25.
    val ids = (0L until 16L)
    val sampleIds = ids.sortBy(id => (md5hex(s"vs|$id"), id)).take(4)
      .sorted
    val rest = ids.filterNot(sampleIds.contains).sorted
    val groupOf = (sampleIds.zipWithIndex ++
      rest.zipWithIndex.map { case (id, i) => (id, i % 4) }).toMap
    def mk(id: Long): Seq[Float] = {
      val g = groupOf(id)
      Seq.tabulate(64) { d =>
        if (d / 16 != g) 0.0f
        else (1.0 + 0.001 * math.sin(id * 3.7 + d)).toFloat
      }
    }
    import spark.implicits._
    val dir = TestFixtures.writeDir(Map("embeddings" ->
      ids.map(id => (id, mk(id), 0)).toDF("vec_id", "embedding", "label")))
    // independent recompute of the audit the gate consumes
    val vecs = fixtureVecs(dir)
    val seeds = hashMin(vecs, 4)
    val a1 = vecs.map { case (id, v) => id -> argmaxCos(v, seeds) }.toMap
    val sizes = a1.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size === 4 && sizes.values.max === 4,
      "planted fixture must balance the cells exactly")
    val r = Similarity.ivfRetrain(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(0) === 4L && row.getLong(1) === 16L)
    assert(row.getLong(2) === 4L && row.getLong(3) === 4L)
    assert(row.getDouble(4) === 1.0, "planted skew must be exactly 1.0")
    assert(!row.getBoolean(5), "skew 1.0 must NOT trip the 1.25 gate")
    // echo branch: after == before, skew unchanged
    assert(row.getLong(6) === 4L && row.getLong(7) === 4L)
    assert(row.getDouble(8) === 1.0)
  }

  test("mmr_select == an independent plain-Scala greedy MMR recompute " +
       "on the operator's own clusters (λ=0.5, k_sel=3)") {
    val sf = "/root/testdata/sf0.001"
    val vecs = fixtureVecs(sf)
    // reproduce kmeansFull: one refinement from the 8 hash-min seeds
    val seeds = hashMin(vecs, 8)
    val a1 = vecs.map { case (id, v) => id -> argmaxCos(v, seeds) }.toMap
    val dim = vecs.head._2.length
    val cents2 = a1.values.toSeq.distinct.sorted.map { cell =>
      val members = vecs.filter(x => a1(x._1) == cell).map(_._2)
      cell -> Array.tabulate(dim) { d =>
        q6d(members.map(_(d)).sum / members.length) }
    }
    val cluster = vecs.map { case (id, v) => id -> argmaxCos(v, cents2) }
      .toMap
    val centOf = cents2.toMap
    val rel = vecs.map { case (id, v) =>
      id -> q6d(cosd(v, centOf(cluster(id)))) }.toMap
    val vmap = vecs.toMap
    // greedy MMR per cluster
    val want = cluster.values.toSeq.distinct.sorted.flatMap { c =>
      val members = vecs.map(_._1).filter(cluster(_) == c)
      var selected = Seq.empty[Long]
      (1 to 3).flatMap { t =>
        val remaining = members.filterNot(selected.contains)
        if (remaining.isEmpty) None
        else {
          val scored = remaining.map { id =>
            val score =
              if (t == 1) rel(id)
              else {
                val maxSim = selected
                  .map(s => q6d(cosd(vmap(id), vmap(s)))).max
                q6d(rel(id) - 0.5 * maxSim + 1e-9)
              }
            (score, id)
          }
          val pick = scored.reduceLeft((a, b) =>
            if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)._2
          selected = selected :+ pick
          Some((c, t.toLong, pick, rel(pick)))
        }
      }
    }
    val got = Similarity.mmrSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(got === want.sorted)
    // diversity is doing work: at least one cluster's picks 2-3 differ
    // from its pure-relevance top-3
    val byRel = cluster.values.toSeq.distinct.sorted.flatMap { c =>
      cluster.keys.toSeq.filter(cluster(_) == c)
        .sortBy(id => (-rel(id), id)).take(3).map(id => (c, id))
    }.toSet
    assert(got.exists { case (c, _, id, _) => !byRel((c, id)) },
      "fixture should show MMR diverging from pure relevance somewhere")
  }
}
