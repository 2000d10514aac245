package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions.col
import graft.ops.{Panel, Relational}

/** Property-based checks (SURVEY.md §5): the window features and the
  * keyed upsert verified against plain-Scala reference models on
  * generated panels. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (scale, path) of `table` in each fixture the gate runs on. sf0.001
    * (specs) and sf0.01 (the oracle gate) must exist — a missing one
    * fails instead of skipping the pin; the bench-only sf0.1 is included
    * when `bench` is set and the fixture is present. */
  private def gatedFixtures(table: String,
                            bench: Boolean): Seq[(String, String)] = {
    def path(sf: String) = s"/root/testdata/$sf/$table.parquet"
    for (sf <- Seq("sf0.001", "sf0.01"))
      assert(new java.io.File(path(sf)).exists(), s"fixture ${path(sf)} is missing")
    (Seq("sf0.001", "sf0.01") ++
      Seq("sf0.1").filter(sf => bench && new java.io.File(path(sf)).exists()))
      .map(sf => sf -> path(sf))
  }
  import spark.implicits._

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  /** Panels: 1-3 entities, 1-8 distinct years each, 2-dp values. */
  private val panelGen: Gen[List[(String, Int, Double)]] = for {
    nEnt <- Gen.choose(1, 3)
    rows <- Gen.sequence[List[List[(String, Int, Double)]],
                         List[(String, Int, Double)]](
      (0 until nEnt).map { e =>
        for {
          nYears <- Gen.choose(1, 8)
          years  <- Gen.pick(nYears, 2000 to 2015)
          vals   <- Gen.listOfN(nYears, Gen.choose(-10000, 10000))
        } yield years.toList.sorted.zip(vals)
          .map { case (y, v) => (s"E$e", y, v / 100.0) }
      }.toList)
  } yield rows.flatten

  /** Reference model of Panel.features' roll5: same summation order,
    * same 6-dp half-up rounding, NULL below 3 rows. */
  private def modelRoll5(vals: Vector[Double]): Vector[Option[Double]] =
    vals.indices.map { i =>
      if (i < 2) None
      else {
        val n = math.min(i + 1, 5)
        // same left-assoc order as the lag-chain: current + lag1 + lag2...
        val s = (0 until n).map(k => vals(i - k)).reduceLeft(_ + _)
        Some(BigDecimal(s / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toVector

  test("roll5 matches the reference model on generated panels") {
    check(Prop.forAll(panelGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("entity", "year", "m")
        val got = Panel.features(df, "entity", "year", Seq("m"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))
          .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector)
          .toMap
        val want = rows.groupBy(_._1).map { case (e, rs) =>
          e -> modelRoll5(rs.sortBy(_._2).map(_._3).toVector)
        }
        got == want
      }
    })
  }

  test("lag1 shifts the sorted panel by exactly one position") {
    check(Prop.forAll(panelGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("entity", "year", "m")
        val got = Panel.features(df, "entity", "year", Seq("m"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))
          .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector)
          .toMap
        val want = rows.groupBy(_._1).map { case (e, rs) =>
          val vs = rs.sortBy(_._2).map(_._3).toVector
          e -> (None +: vs.init.map(Some(_)))
        }
        got == want
      }
    })
  }

  /** Batches of keyed rows with batch ids as recency. */
  private val batchGen: Gen[List[(String, Int, Double, Long)]] = for {
    n <- Gen.choose(1, 12)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c")
      y <- Gen.choose(2000, 2002)
      v <- Gen.choose(0, 1000)
      b <- Gen.choose(1L, 5L)
    } yield (k, y, v.toDouble, b))
  } yield rows

  test("MinKAggregator == sort.take(k) under any insert/merge order") {
    val xsGen = Gen.listOf(Gen.choose(0L, 1000L))
    check(Prop.forAll(xsGen, Gen.choose(1, 6), Gen.choose(0, 20)) {
      (xs, k, cut0) =>
        val agg = new graft.functions.MinKAggregator(k)
        val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
        val (l, r) = xs.splitAt(cut)
        val bufL = l.foldLeft(agg.zero)(agg.reduce)
        val bufR = r.foldLeft(agg.zero)(agg.reduce)
        agg.finish(agg.merge(bufL, bufR)) == xs.sorted.take(k)
    })
  }

  test("CentroidArgmax == brute-force rounded argmax; codegen == eval") {
    import org.apache.spark.sql.functions.{col, typedLit}
    val vecGen = Gen.listOfN(4, Gen.choose(-100, 100).map(_ / 10.0f))
      .suchThat(_.exists(_ != 0f))
    check(Prop.forAll(Gen.listOfN(5, vecGen), vecGen) { (cents0, v) =>
      val cents = cents0.map(_.toArray).toArray
      val ids = cents.indices.map(_.toLong + 10).toArray
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        dot / (na * nb)
      }
      def q6(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
      val want = ids(cents.zipWithIndex
        .map { case (c, i) => (q6(cos(v.toArray, c)), i) }
        .reduceLeft((a, b) => if (b._1 > a._1) b else a)._2)
      // codegen path through a real projection
      val got = Seq(Tuple1(v)).toDF("emb")
        .select(graft.functions.CentroidArgmax.assign(
          col("emb"), cents, ids).as("cell"))
        .head().getLong(0)
      // interpreted eval path (double codebook — float→double is exact)
      val expr = graft.functions.CentroidArgmax(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        cents.map(_.map(_.toDouble)), ids)
      val evald = expr.eval(null).asInstanceOf[Long]
      got == want && evald == want
    })
  }

  /** Random word-soup corpora: 2-8 docs, 1-40 tokens from a tiny vocab
    * (forces repeated bigrams), two languages. */
  private val corpusGen: Gen[List[(Long, String, String)]] = for {
    nDocs <- Gen.choose(2, 8)
    docs <- Gen.sequence[List[(Long, String, String)],
                         (Long, String, String)]((0 until nDocs).map { i =>
      for {
        n    <- Gen.choose(1, 40)
        toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
        lang <- Gen.oneOf("en", "de")
      } yield (i.toLong, toks.mkString(" "), lang)
    }.toList)
  } yield docs

  private def corpusDir(rows: List[(Long, String, String)]): String =
    TestFixtures.writeDir(Map("documents" ->
      rows.map { case (id, t, l) => (id, t, l, "s") }
        .toDF("doc_id", "text", "lang", "source")))

  test("doc_pack invariants on random corpora: prefix-sum offsets, budget-aligned packs, dense pack_pos") {
    check(Prop.forAll(corpusGen) { rows =>
      val out = graft.ops.Curation.docPack(spark, corpusDir(rows)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                   r.getLong(4), r.getLong(5), r.getLong(6)))
      out.groupBy(t => (t._2, t._3)).values.forall { g =>
        val sorted = g.toList.sortBy(_._1)
        val offsetsArePrefixSums = sorted
          .scanLeft(0L)((cum, t) => cum + t._4).init
          .zip(sorted).forall { case (cum, t) => t._5 == cum }
        val packFromOffset = sorted.forall(t => t._6 == t._5 / 2048)
        val posDense = sorted.groupBy(_._6).values.forall(p =>
          p.map(_._7).sorted == (1 to p.size).map(_.toLong).toList)
        offsetsArePrefixSums && packFromOffset && posDense
      }
    })
  }

  test("repetition_stats bounds on random corpora: fractions in range, counts reconcile") {
    check(Prop.forAll(corpusGen) { rows =>
      val out = graft.ops.Curation.repetitionStats(spark, corpusDir(rows))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      rows.forall { case (id, text, _) =>
        val n = text.split(" ").length
        if (n < 2) !out.contains(id)
        else {
          val (grams, top, dup) = out(id)
          grams == n - 1 && top > 0 && top <= 1.0001 &&
            dup >= 0 && dup < 1 &&
            // top_frac >= 1/n_distinct >= 1/n_grams (4-dp rounding slack)
            top >= 1.0 / grams - 1e-4
        }
      }
    })
  }

  test("lm_score on random corpora: log-probs are non-positive, bigram counts reconcile") {
    check(Prop.forAll(corpusGen) { rows =>
      val out = graft.ops.Curation.lmScore(spark, corpusDir(rows)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      rows.forall { case (id, text, _) =>
        val n = text.split(" ").length
        if (n < 2) !out.contains(id)
        else out(id)._1 == n - 1 && out(id)._2 <= 1e-9
      }
    })
  }

  test("adaptiveBits: exactly 8 at every fixture scale (the oracles' constant), grows past 16k") {
    // The DuckDB oracles for annLsh / embedNearDup / semanticDedup
    // hard-code an 8-bit bucket; this pins the Scala side to the same
    // width at every scale the correctness gate runs.
    for (n <- Seq(500L, 2000L, 5000L, 16384L))
      assert(graft.ops.Similarity.adaptiveBits(n) === 8)
    // Tie the pin to the fixtures the gate ACTUALLY runs on, not just
    // literal Ns: if a regenerated embeddings table grows past 16384
    // rows, the Spark side would move to 9+ bits while the oracles stay
    // at 8 — this fails with the coupling named instead of an opaque
    // hash mismatch in embed_neardup / semantic_dedup / sim_ann_lsh.
    for ((sf, p) <- gatedFixtures("embeddings", bench = true)) {
      val n = spark.read.parquet(p).count()
      assert(graft.ops.Similarity.adaptiveBits(n) === 8,
        s"embeddings fixture $sf has $n rows -> adaptiveBits != 8, but " +
          "the DuckDB oracles for the embedding queries hard-code an " +
          "8-bit sign-LSH bucket; regenerate the oracle SQL or re-pin")
    }
    assert(graft.ops.Similarity.adaptiveBits(200000L) === 12)
    assert(graft.ops.Similarity.adaptiveBits(1L << 40) === 34)
    assert(graft.ops.Similarity.adaptiveBits(1L << 40, dim = 16) === 16) // dim cap
  }

  test("perceptualBits: exactly 16 at every fixture scale (the " +
       "mm_neardup/mm_clusters oracles' constant), grows past 1k assets") {
    // the oracles hard-code a 16-bit signature in 4-bit bands; pin the
    // Scala side to the same width for every corpus the gate runs on
    for (n <- Seq(100L, 500L, 1024L))
      assert(graft.ops.Multimodal.perceptualBits(n) === 16)
    // pin the equality on the fixtures the DuckDB gate actually verifies
    // (sf0.001 specs, sf0.01 driver gate); sf0.1 is bench-only — its 5k
    // documents deliberately get a wider signature (28 bits)
    for ((sf, p) <- gatedFixtures("documents", bench = false)) {
      val n = spark.read.parquet(p).count()
      assert(graft.ops.Multimodal.perceptualBits(n) === 16,
        s"documents fixture $sf has $n rows -> perceptualBits != 16, " +
          "but the mm_neardup/mm_clusters oracles hard-code 16-bit " +
          "signatures; regenerate the oracle SQL or re-pin")
    }
    // banding-power growth: expected band bucket stays ~<= 64 assets
    assert(graft.ops.Multimodal.perceptualBits(5000L) === 28)
    assert(graft.ops.Multimodal.perceptualBits(50000L) === 40)
    // capped at 64 so the whole signature fits ONE long (Hamming = one
    // xor+popcount); past the cap the composite combo key space (2^32)
    // carries the blocking power — see the perceptualBits scaladoc
    assert(graft.ops.Multimodal.perceptualBits(5000000L) === 64)
    assert(graft.ops.Multimodal.perceptualBits(1L << 30) === 64)
  }

  test("pqKAdaptive: exactly 16 at every fixture scale (the PQ oracles' " +
       "16-seed recipe), resolution-proportional past 65,536 vectors") {
    // the PQ rescore DEPTH needs no fixture pin since round 14: the cut
    // is max(30, ceil(pool_q/3)) computed per query over the SAME
    // window in BOTH engines (Spark and the DuckDB oracle), so parity
    // holds at every scale by construction. The remaining literal is
    // the seed/code count: the oracle trains 16 codes per subspace, so
    // pqKAdaptive must equal 16 wherever the gate runs — pinned on the
    // actual fixture footer counts so a larger regenerated fixture
    // fails HERE, loudly, instead of silently breaking oracle parity.
    for ((sf, p) <- gatedFixtures("embeddings", bench = true)) {
      val n = spark.read.parquet(p).count()
      assert(graft.ops.Similarity.pqKAdaptive(n) === 16,
        s"embeddings fixture $sf has $n rows -> pqKAdaptive != 16, " +
          "but the pq_codes/sim_ann_pq oracles train 16 codes per " +
          "subspace; regenerate the oracle SQL or re-pin")
    }
    // k grows as the pow-2 ceiling of N^(1/4) (full-code space k^4
    // keeps pace with the corpus so ADC ties stay rare), clamped at
    // 256 (4 code bytes/vector — still 64x below fp32)
    assert(graft.ops.Similarity.pqKAdaptive(65536L) === 16)
    assert(graft.ops.Similarity.pqKAdaptive(65537L) === 32)
    assert(graft.ops.Similarity.pqKAdaptive(2000000L) === 64)
    assert(graft.ops.Similarity.pqKAdaptive(1L << 30) === 256)
    assert(graft.ops.Similarity.pqKAdaptive(1L << 40) === 256)
  }

  test("pqNprobeAdaptive: exactly 2 at every fixture scale (the PQ " +
       "oracles' crn <= 2 literal), 1 from 1M vectors up") {
    // the dial is scale-dependent in OPPOSITE directions (round-15 grid,
    // SCALE.md): below ~500k the Voronoi-boundary effect makes the
    // second probed cell a recall WIN (0.72 -> 0.90 at the sf0.01 gate);
    // past ~1M own-cell coverage is complete and the second cell's
    // ADC-noise rows displace truth from any bounded cut (2M: 1.00 at
    // nprobe=1 vs 0.90 at nprobe=2). The oracle texts hard-code the
    // 2-cell probe, so the adaptive value must equal 2 wherever the
    // gate runs — pinned on the actual fixture footer counts.
    for ((sf, p) <- gatedFixtures("embeddings", bench = true)) {
      val n = spark.read.parquet(p).count()
      assert(graft.ops.Similarity.pqNprobeAdaptive(n) === 2,
        s"embeddings fixture $sf has $n rows -> pqNprobeAdaptive != 2, " +
          "but the sim_ann_pq/ann_recall oracles probe 2 cells; " +
          "regenerate the oracle SQL or re-pin")
    }
    assert(graft.ops.Similarity.pqNprobeAdaptive(500000L) === 2)
    assert(graft.ops.Similarity.pqNprobeAdaptive(999999L) === 2)
    assert(graft.ops.Similarity.pqNprobeAdaptive(1000000L) === 1)
    assert(graft.ops.Similarity.pqNprobeAdaptive(2000000L) === 1)
    assert(graft.ops.Similarity.pqNprobeAdaptive(1L << 40) === 1)
  }

  test("probeBuckets enumerates EXACTLY the Hamming <= r ball of the " +
       "integer signature, duplicate-free, for every supported radius") {
    val sigs = Seq(0xB2L, 0x00L, 0xFFL, 0x55L)
    for (r <- 0 to 3) {
      val rows = sigs.toDF("sig")
        .select(col("sig"),
          graft.ops.Similarity.probeBuckets(col("sig"), 8, r).as("probes"))
        .collect()
      rows.foreach { row =>
        val sig = row.getLong(0)
        val probes = row.getSeq[Long](1)
        assert(probes.distinct.size === probes.size,
          s"radius $r: duplicate probes would double-count candidates")
        assert(probes.toSet ===
          (0L until 256L).filter(s =>
            java.lang.Long.bitCount(s ^ sig) <= r).toSet,
          s"radius $r probe set of $sig is not the Hamming ball")
      }
    }
  }

  test("directed-tier dials at the oracle's 8 bits: budget 85 (the " +
       "hard-coded oracle constant), pool = the whole mask space") {
    // the oracle SQL enumerates range(0,256) and ranks to 85 — pin the
    // Scala dials so a formula change fails loudly instead of silently
    // diverging from the static oracle text
    assert(graft.ops.Similarity.ballCount(8) === 93)
    assert(graft.ops.Similarity.probeBudget(8) === 85)
    assert(graft.ops.Similarity.poolBits(8) === 8)
    // scale growth: polynomial budget, pool stays a few bits above it
    assert(graft.ops.Similarity.ballCount(24) === 2325)
    assert(graft.ops.Similarity.probeBudget(24) === 2116)
    assert(graft.ops.Similarity.poolBits(24) === 13)
    assert((1 << graft.ops.Similarity.poolBits(24)) >
      graft.ops.Similarity.probeBudget(24))
    // the round-10 cap: pool ≤ 16 at EVERY signature width (bounds the
    // best-first walk's degenerate tie-class worst case at 65,536
    // states/row) while 2^pool keeps exceeding the budget, so the
    // (score, mask) ranking never loses slack — measured evidence in
    // SCALE.md's round-10 recall-vs-cost section
    for (b <- 8 to 64) {
      assert(graft.ops.Similarity.poolBits(b) <= 16, s"pool cap at $b")
      assert((1 << graft.ops.Similarity.poolBits(b)) >
        graft.ops.Similarity.probeBudget(b), s"budget slack at $b")
    }
    assert(graft.ops.Similarity.probeBudget(64) === 39808)
  }

  test("exact-quantile hybrid: the two modes are bit-identical on the " +
       "real fixture (the guarantee that lets input size pick the mode)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    assert(graft.ops.Relational.QuantileDataflowMinRows === 5000000L)
    val e = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type"), col("value"))
    val ps = Seq(("q25", 0.25), ("q50", 0.5), ("q90", 0.9), ("q99", 0.99))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        (1 to ps.size).map(r.getDouble)).toMap
    val small = m(graft.ops.Relational.exactQuantiles(
      e, "event_type", "value", ps, inputRows = 0L)) // percentile form
    val big = m(graft.ops.Relational.groupedQuantiles(
      e, "event_type", "value", ps)) // bucketed dataflow
    assert(small.keySet === big.keySet)
    small.keys.foreach { k =>
      assert(small(k) === big(k), s"group $k") // BIT-identical doubles
    }
  }

  test("symmetric-gate width cap: GateMaxBits = 24 (the round-11 " +
       "measured dial), fixture widths untouched") {
    import graft.ops.Similarity
    // the RecallCurve ball measurement at 1M vectors / 2000 planted
    // 0.90-cos pairs: recall@Hamming≤3 = .975/.923/.865/.789/.678/.562
    // at 10/14/17/20/24/28 bits — the 0.5 rationale line is crossed
    // just past 28, and 24 (recall 0.678, N ≈ 1.1G vectors) is the
    // last width with margin; SCALE.md round-11 carries the curve
    assert(Similarity.GateMaxBits === 24)
    // below the cap the gates keep the adaptive width — every fixture
    // scale stays at the oracles' 8 bits
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val n = TestSpark.spark.read
        .parquet(s"/root/testdata/sf$sf/embeddings.parquet").count()
      assert(Similarity.gateBits(n) === 8, s"sf$sf")
    }
    assert(Similarity.gateBits(200000L) ===
      Similarity.adaptiveBits(200000L))
    assert(Similarity.gateBits(64L << 24) === 24) // the certified edge
    // above it the gate width pins at the cap instead of following
    // adaptiveBits into the recall collapse
    assert(Similarity.gateBits(1L << 40) === 24)
    assert(Similarity.adaptiveBits(1L << 40) === 34)
  }

  test("directedProbes selects the budget-many lowest-(margin-sum, mask) " +
       "flip variants — driver recompute on a hand vector") {
    val emb = Array(0.5f, -0.01f, 0.02f, -0.3f, 0.001f, 0.6f, -0.05f, 0.004f)
    val sig = (0 until 8).map(i => if (emb(i) >= 0) 1L << i else 0L).sum
    val margins = emb.map(x => math.round(math.abs(x.toDouble) * 1e6))
    val expected = (0 until 256).map { mask =>
      val score = (0 until 8).filter(b => (mask >> b & 1) == 1)
        .map(margins(_)).sum
      (score, mask.toLong)
    }.sorted.take(85).map { case (_, m) => sig ^ m }
    val got = Seq(Tuple1(emb.toSeq)).toDF("embedding")
      .select(graft.ops.Similarity.directedProbes(
        graft.ops.Similarity.signBits(col("embedding"), 8),
        col("embedding"), 8).as("probes"))
      .head().getSeq[Long](0)
    assert(got === expected)
  }

  test("native best-first directedProbes ≡ the declarative HOF spec on " +
       "random vectors, including boundary-tie and zero-vector degeneracy") {
    val rnd = new scala.util.Random(42)
    val vecs: Seq[Seq[Float]] =
      // random smooth vectors, a tie-heavy vector (repeated magnitudes
      // force boundary ties), and the all-zero degenerate (every mask
      // ties at score 0 → the walk must enumerate the full tie class)
      (0 until 24).map(_ => Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f)) ++
      Seq(Seq(0.1f, -0.1f, 0.1f, -0.1f, 0.1f, 0.1f, -0.1f, 0.1f),
          Seq.fill(8)(0.0f),
          Seq(0.0f, 0.0f, -0.5f, 0.0f, 0.25f, 0.0f, 0.0f, -0.125f))
    val df = vecs.map(Tuple1(_)).toDF("embedding")
      .select(
        graft.ops.Similarity.directedProbes(
          graft.ops.Similarity.signBits(col("embedding"), 8),
          col("embedding"), 8).as("native"),
        graft.ops.Similarity.directedProbesHof(
          graft.ops.Similarity.signBits(col("embedding"), 8),
          col("embedding"), 8).as("hof"))
    df.collect().zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"vector $i diverged")
    }
  }

  test("bench round-label inference: env wins; max+1 outside the close " +
       "window; inside it, a newer commit disambiguates and no-new-work " +
       "refuses (the r9 mislabel repro)") {
    val hour = 3600 * 1000L
    val now = 100 * hour
    // driver wrote BENCH_r09.json one minute ago (round 9 just closed)
    val files = Seq((8, now - 50 * hour), (9, now - 60 * 1000L))
    // explicit label always wins
    assert(Bench.inferRound(Some("r42"), files, None, now) === "r42")
    // ...and is normalized to the history's rNN form: a bare number or
    // short form must not file the run under a stray key (the round-10
    // "10"-vs-"r10" split repro)
    assert(Bench.inferRound(Some("10"), files, None, now) === "r10")
    assert(Bench.inferRound(Some("r7"), files, None, now) === "r07")
    assert(Bench.inferRound(Some("junk"), files, None, now) === "junk")
    // outside the 30-min window: max+1 is sound
    assert(Bench.inferRound(None, Seq((8, now - 50 * hour)), None, now)
      === "r09")
    // REPRO of the round-9 defect: a re-run right after the close, with
    // no commit since, must refuse instead of mislabeling as r10
    assertThrows[IllegalArgumentException] {
      Bench.inferRound(None, files, Some(now - 2 * hour), now)
    }
    assertThrows[IllegalArgumentException] {
      Bench.inferRound(None, files, None, now)
    }
    // REPRO of the r9 ADVICE miss: round 10's legitimate first bench,
    // started within 30 min of the close but AFTER new round work was
    // committed, must label r10 instead of silently skipping history
    assert(Bench.inferRound(None, files, Some(now - 30 * 1000L), now)
      === "r10")
    // empty dir (first ever run): r01
    assert(Bench.inferRound(None, Seq.empty, None, now) === "r01")
  }

  test("upsert is idempotent and keeps exactly one row per key") {
    check(Prop.forAll(batchGen, batchGen) { (t, b) =>
      Prop.propBoolean(t.nonEmpty && b.nonEmpty) ==> {
        def up(x: org.apache.spark.sql.DataFrame,
               y: org.apache.spark.sql.DataFrame) =
          Relational.lastWriterWins(x.unionByName(y), Seq("k", "y"),
            Seq(col("batch").desc, col("v").desc))
        val td = t.toDF("k", "y", "v", "batch")
        val bd = b.toDF("k", "y", "v", "batch")
        val once  = up(td, bd).orderBy("k", "y").collect().toSeq
        val twice = up(up(td, bd), bd).orderBy("k", "y").collect().toSeq
        val keys = once.map(r => (r.getString(0), r.getInt(1)))
        once == twice && keys.distinct == keys
      }
    })
  }
}
