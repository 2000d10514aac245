package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import graft.ops.Panel

/** Edge semantics of the window features (FIXTURES.md §A4):
  * min-periods boundary, frame saturation, positional lag, first-row NULLs
  * — the behaviors pinned at transformer.py:84-119. */
class PanelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def panel(rows: (String, Int, Double, Double)*) =
    rows.toDF("country", "year", "gdp", "unemp")

  private def feat(rows: (String, Int, Double, Double)*): Array[Row] =
    Panel.features(panel(rows: _*), "country", "year", Seq("gdp", "unemp"))
      .collect()

  test("partition with < 3 rows → roll5 all NULL (min-periods guard)") {
    val r = feat(("A", 2000, 1.0, 2.0), ("A", 2001, 2.0, 3.0))
    assert(r.forall(_.isNullAt(5))) // gdp_roll5
    assert(r.forall(_.isNullAt(6))) // unemp_roll5
  }

  test("3rd row is the first non-null roll5, mean of the 3 values") {
    val r = feat(("A", 2000, 1.0, 0.0), ("A", 2001, 2.0, 0.0),
                 ("A", 2002, 6.0, 0.0))
    assert(r(0).isNullAt(5) && r(1).isNullAt(5))
    assert(r(2).getDouble(5) === 3.0) // (1+2+6)/3
  }

  test("frame saturates at 5 trailing values (6th row drops the 1st)") {
    val vals = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0)
    val r = feat(vals.zipWithIndex.map {
      case (v, i) => ("A", 2000 + i, v, 0.0) }: _*)
    assert(r(4).getDouble(5) === 30.0) // mean(10..50)
    assert(r(5).getDouble(5) === 40.0) // mean(20..60) — 10 evicted
  }

  test("lag1 is positional across a dropped year, NULL on first row") {
    // year 2001 missing: 2002's lag is 2000's value (positional, not
    // year-arithmetic) — transformer.py:99 semantics
    val r = feat(("A", 2000, 1.5, 0.0), ("A", 2002, 2.5, 0.0),
                 ("A", 2003, 3.5, 0.0))
    assert(r(0).isNullAt(4))
    assert(r(1).getDouble(4) === 1.5)
    assert(r(2).getDouble(4) === 2.5)
  }

  test("features are computed per entity (no bleed across partitions)") {
    val r = feat(("A", 2000, 1.0, 0.0), ("A", 2001, 2.0, 0.0),
                 ("B", 2000, 9.0, 0.0))
    val b = r.filter(_.getString(0) == "B")
    assert(b.head.isNullAt(4)) // B's first row has no lag from A
  }

  test("flagship runs end-to-end on the sf0.001 fixture with >0 rows") {
    val out = Panel.pipelineCleaned(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    assert(out.columns.toSeq == Seq("suppkey", "year", "revenue", "qty",
      "revenue_lag1", "revenue_roll5", "qty_roll5"))
  }

  test("panel_interp: known rows pass through; gaps lie on the straight " +
       "line between their known neighbors; edges stay NULL") {
    val sf = "/root/testdata/sf0.001"
    val rows = Panel.panelInterp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getBoolean(3)))
    assert(rows.exists(_._4), "fixture planted no gaps?")
    // recompute from the known points only
    val known = rows.filter(!_._4)
      .map(t => (t._1, t._2) -> t._3.get).toMap
    rows.filter(_._4).foreach { case (sk, y, v, _) =>
      val ys = known.keys.filter(_._1 == sk).map(_._2)
      val prev = ys.filter(_ < y)
      val next = ys.filter(_ > y)
      if (prev.isEmpty || next.isEmpty) {
        assert(v.isEmpty, s"edge gap ($sk, $y) should stay NULL")
      } else {
        val (py, ny) = (prev.max, next.min)
        val (pv, nv) = (known((sk, py)), known((sk, ny)))
        val want = BigDecimal(pv + (nv - pv) * (y - py).toDouble / (ny - py))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) // loose re-round
        val got = BigDecimal(v.get)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
        assert((got - want).abs <= BigDecimal("0.01"),
          s"($sk, $y): got ${v.get}, line through ($py,$pv)-($ny,$nv)")
      }
    }
  }

  test("panel_growth: a frame with zero qty variance gives NULL corr " +
       "(DuckDB's answer), not [DIVIDE_BY_ZERO] under ANSI") {
    // supplier 1 ships the same qty in 1995-1997 (zero variance on one
    // side of every frame); supplier 2's qty and revenue rise together
    val li = Seq(
        (1L, "1995-03-01", 100.0, 10.0), (1L, "1996-03-01", 200.0, 10.0),
        (1L, "1997-03-01", 400.0, 10.0),
        (2L, "1995-03-01", 10.0, 1.0), (2L, "1996-03-01", 20.0, 2.0),
        (2L, "1997-03-01", 30.0, 3.0))
      .toDF("l_suppkey", "d", "l_extendedprice", "l_quantity")
      .select($"l_suppkey", $"d".cast("date").as("l_shipdate"),
              $"l_extendedprice", lit(0.0).as("l_discount"), $"l_quantity")
    val dir = TestFixtures.writeDir(Map("lineitem" -> li))
    val corr = Panel.panelGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(corr((1L, 1997L)) === None)
    assert(corr((2L, 1997L)) === Some(1.0))
  }
}
