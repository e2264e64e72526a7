package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleaningSpec extends SparkSpec {
  import spark.implicits._

  private def run(vs: Seq[Option[Double]]): Seq[Double] = {
    val df = vs.zipWithIndex
      .map { case (v, i) => ("k", i.toLong, v) }
      .toDF("k", "x", "v")
    Cleaning.interpolateThenZero(df, Seq("k"), "x", Seq("v"))
      .orderBy("x").select("v").as[Double].collect().toSeq
  }

  test("interior NULL run is linearly interpolated (pandas semantics)") {
    assert(run(Seq(Some(1.0), None, None, Some(4.0))) == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("time-weighted: interpolation uses the abscissa, not row position") {
    val df = Seq(("k", 0L, Some(0.0)), ("k", 10L, None), ("k", 40L, Some(4.0)))
      .toDF("k", "x", "v")
    val out = Cleaning.interpolateLinear(df, Seq("k"), "x", Seq("v"))
      .orderBy("x").select("v").as[Double].collect()
    assert(out.toSeq == Seq(0.0, 1.0, 4.0))
  }

  test("leading NULLs become 0 only after the fill step") {
    assert(run(Seq(None, None, Some(2.0))) == Seq(0.0, 0.0, 2.0))
  }

  test("trailing NULLs forward-fill the last known value") {
    assert(run(Seq(Some(3.0), None, None)) == Seq(3.0, 3.0, 3.0))
  }

  test("all-NULL group fills 0") {
    assert(run(Seq(None, None)) == Seq(0.0, 0.0))
  }

  test("idempotent on complete data") {
    assert(run(Seq(Some(5.0), Some(6.0))) == Seq(5.0, 6.0))
  }

  test("partitions do not leak across keys") {
    val df = Seq(("a", 0L, Some(1.0)), ("a", 1L, None), ("b", 2L, Some(9.0)))
      .toDF("k", "x", "v")
    val out = Cleaning.interpolateThenZero(df, Seq("k"), "x", Seq("v"))
      .orderBy("k", "x").select("v").as[Double].collect()
    // a's trailing NULL forward-fills 1.0 (never sees b's 9.0)
    assert(out.toSeq == Seq(1.0, 1.0, 9.0))
  }

  test("two value columns with different NULL masks in one call equal two single-column calls") {
    // each column's lead(…, ignoreNulls) keeps its own forward cursor: a
    // frame shared across inputs would skip to the other column's knowns
    val rows = (0 until 40).map { i =>
      ("k", i.toLong * 3 + i % 4,
        if (i % 3 == 1 || (i >= 10 && i < 16)) None else Some(i * 1.5),
        if (i % 5 < 2 || i < 4 || i > 33) None else Some(100.0 - i * i))
    }
    val df = rows.toDF("k", "x", "a", "b")
    def one(cols: Seq[String], c: String): Seq[Option[Double]] =
      Cleaning.interpolateLinear(df, Seq("k"), "x", cols)
        .orderBy("x").select(c).as[Option[Double]].collect().toSeq
    assert(one(Seq("a", "b"), "a") == one(Seq("a"), "a"))
    assert(one(Seq("a", "b"), "b") == one(Seq("b"), "b"))
  }

  test("2 keys x 5000 rows with leading, interior and trailing NULL runs equal the pandas reference") {
    val rnd = new scala.util.Random(20200417L)
    val rows = Seq("a", "b").flatMap { k =>
      // strictly increasing, uneven abscissa
      val xs = (1 to 5000).scanLeft(0L)((x, _) => x + 1 + rnd.nextInt(9)).tail
      // rows 0-36 NULL (leading), 37 known, 4950- NULL (trailing), and
      // interior NULL runs of 1-60 rows in between
      var run = 0
      val vs = xs.indices.map { i =>
        if (i > 37 && i < 4950 && run == 0 && rnd.nextInt(40) == 0) run = 1 + rnd.nextInt(60)
        val masked = i < 37 || i >= 4950 || run > 0
        if (run > 0) run -= 1
        if (masked) None else Some(rnd.nextGaussian() * 50)
      }
      xs.zip(vs).map { case (x, v) => (k, x, v) }
    }
    val got = Cleaning.interpolateLinear(rows.toDF("k", "x", "v"), Seq("k"), "x", Seq("v"))
      .orderBy("k", "x").select("v").as[Option[Double]].collect().toSeq
    val want = Seq("a", "b").flatMap { k =>
      val s = rows.filter(_._1 == k)
      CleaningSpec.pandasInterpolate(s.map(_._2.toDouble), s.map(_._3))
    }
    assert(want.count(_.isEmpty) == 2 * 37) // only the leading runs stay NULL
    assert(got == want)
  }

  test("a NULL row that shares its abscissa with a known row takes the known value") {
    // either sort order of the tie gives 4.0: as the interpolation end
    // point (1 + 3·2/2) or as the start point (4 + 6·0/3)
    val rows = Seq(("k", 0L, Some(1.0)), ("k", 2L, None), ("k", 2L, Some(4.0)), ("k", 5L, Some(10.0)))
    for (order <- Seq(rows, rows.reverse)) {
      val out = Cleaning.interpolateLinear(order.toDF("k", "x", "v"), Seq("k"), "x", Seq("v"))
        .select("x", "v").as[(Long, Double)].collect().toSeq.sorted
      assert(out == Seq((0L, 1.0), (2L, 4.0), (2L, 4.0), (5L, 10.0)))
    }
  }

  test("winsorize clamps into the per-group quantile band; interior and NULL untouched") {
    // group g: 1..10 → p25 = 3.25, p75 = 7.75 (linear interpolation)
    val df = ((1 to 10).map(i => ("g", Some(i.toDouble))) :+ (("g", None)))
      .toDF("k", "v")
    val out = Cleaning.winsorize(df, Seq("k"), "v", 0.25, 0.75, "w")
      .select("v", "w").as[(Option[Double], Option[Double])].collect().toMap
    assert(out(Some(1.0)).contains(3.25))   // clamped up
    assert(out(Some(10.0)).contains(7.75))  // clamped down
    assert(out(Some(5.0)).contains(5.0))    // interior untouched
    assert(out(None).isEmpty)               // NULL stays NULL
  }

  test("nanToZero: NaN and NULL become 0.0; finite values and ±Infinity pass unchanged") {
    // ±Infinity stays as it is, as in the reference's pandas fillna(0)
    val in = Seq(Some(Double.NaN), None, Some(-2.5), Some(0.0), Some(1e300),
      Some(Double.PositiveInfinity), Some(Double.NegativeInfinity))
    val got = in.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      .select(col("i"), Cleaning.nanToZero(col("v")).as("z"))
      .orderBy("i").select("z").as[Double].collect().toSeq
    assert(got == Seq(0.0, 0.0, -2.5, 0.0, 1e300, Double.PositiveInfinity, Double.NegativeInfinity))
  }
}

object CleaningSpec {

  /** pandas `interpolate(method="linear")` on one series sorted by a strictly
    * increasing abscissa `xs`, in plain Scala: interior NULLs lie on the
    * line between the surrounding knowns (the same IEEE expression as
    * [[Cleaning.interpolateLinear]]), trailing NULLs repeat the last known,
    * leading NULLs stay NULL.
    */
  def pandasInterpolate(xs: Seq[Double], vs: Seq[Option[Double]]): Seq[Option[Double]] = {
    val n = vs.size
    val next = Array.fill[Option[(Double, Double)]](n + 1)(None)
    for (i <- n - 1 to 0 by -1)
      next(i) = vs(i).map(v => (xs(i), v)).orElse(next(i + 1))
    var prev: Option[(Double, Double)] = None
    (0 until n).map { i =>
      vs(i) match {
        case Some(v) => prev = Some((xs(i), v)); Some(v)
        case None =>
          (prev, next(i + 1)) match {
            case (None, _) => None
            case (Some((_, pv)), None) => Some(pv)
            case (Some((px, pv)), Some((nx, nv))) => Some(pv + (nv - pv) * (xs(i) - px) / (nx - px))
          }
      }
    }
  }
}
