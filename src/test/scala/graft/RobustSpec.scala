package graft

import org.apache.spark.sql.functions._

import graft.operators.{Outliers, Trend}

/** Robust (median/MAD) outlier scoring and decimal-exact OLS trend. */
class RobustSpec extends SparkSpec {
  import spark.implicits._

  test("robustZ: hand-checked median/MAD; spike flagged, band kept") {
    // g: values 1..9 plus a 1000 spike → med=5.5? no: 10 values
    val df = ((1 to 9).map(v => ("g", v.toDouble)) :+ ("g", 1000.0)).toDF("k", "v")
    // median of (1..9,1000) = 5.5; |x-5.5| sorted = .5,.5,1.5,...,994.5 → MAD = 2.5
    val scored = Outliers.robustZ(df, "k", "v").cache()
    val byV = scored.collect()
      .map(r => r.getAs[Double]("v") -> r.getAs[Double]("robust_z")).toMap
    val med = scored.select("med").head().getDouble(0)
    val mad = scored.select("mad").head().getDouble(0)
    scored.unpersist()
    assert(med == 5.5 && mad == 2.5)
    assert(math.abs(byV(1000.0) - math.rint((1000.0 - 5.5) / (1.4826 * 2.5) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(byV(5.0)) < 3.5)
  }

  test("madProfile counts outliers; trimRobust removes exactly those rows") {
    val df = ((1 to 50).map(v => ("a", v.toDouble)) ++
      Seq(("a", 5000.0), ("a", -5000.0)) ++
      (1 to 30).map(_ => ("b", 7.0))).toDF("k", "v") // b: constant → MAD 0
    val prof = Outliers.madProfile(df, "k", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(prof("a") == (52L, 2L))
    assert(prof("b") == (30L, 0L)) // zero-MAD: nothing scored
    assert(Outliers.trimRobust(df, "k", "v").count() == 50 + 30)
  }

  test("fitLinear recovers an exact line (slope/intercept exact, r2 = 1)") {
    // y = 3x + 7 exactly, x = 0..99
    val df = (0 until 100).map(i => ("g", i, BigDecimal(3 * i + 7))).toDF("k", "x", "y")
    val r = Trend.fitLinear(df, "k", col("x"), col("y")).head()
    assert(r.getAs[Double]("slope") == 3.0)
    assert(r.getAs[Double]("intercept") == 7.0)
    assert(r.getAs[Double]("r2") == 1.0)
    assert(r.getAs[Long]("n") == 100L)
  }

  test("fitLinear is partition-order independent (decimal moments)") {
    val base = (0 until 1000).map(i => ("g", i, 2.5 * i + 11.0 + (i % 7)))
    val a = Trend.fitLinear(base.toDF("k", "x", "y").repartition(13),
      "k", col("x"), col("y")).head()
    val b = Trend.fitLinear(scala.util.Random.shuffle(base).toDF("k", "x", "y")
      .repartition(3), "k", col("x"), col("y")).head()
    assert(a.getAs[Double]("slope") == b.getAs[Double]("slope"))
    assert(a.getAs[Double]("intercept") == b.getAs[Double]("intercept"))
    assert(a.getAs[Double]("r2") == b.getAs[Double]("r2"))
  }

  test("winsorize: hand-checked cuts, clip counts, exact winsorized sum") {
    // one group, values 0..31 (n=32), dyadic p = 1/16 and 15/16:
    // lo rank = max(ceil(32/16)-1,0) = 1 (0-based) → value 1
    // hi rank = ceil(30)-1 = 29 → value 29; clips: {0}→1, {30,31}→29
    val df = (0 until 32).map(v => ("g", v.toLong)).toDF("k", "v")
    val r = Outliers.winsorize(df, "k", col("v")).head()
    assert(r.getAs[Long]("n") == 32L)
    assert(r.getAs[Long]("lo_cut") == 1L && r.getAs[Long]("hi_cut") == 29L)
    assert(r.getAs[Long]("n_lo") == 1L && r.getAs[Long]("n_hi") == 2L)
    val expected = (0 until 32).map(v => math.min(math.max(v, 1), 29).toLong).sum
    assert(r.getAs[Long]("sum_w") == expected)
    assert(r.getAs[Double]("mean_w") ==
      BigDecimal(expected.toDouble / 32.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
  test("hillTailIndex: 1..10 hand pin, ties in the tail, flat tail NULL, tiny n") {
    // n=10, tailFrac .3 → k=3: top {8,9,10}, boundary x₍₄₎=7 —
    // H = (ln8+ln9+ln10)/3 − ln7 = 0.247174, α = 4.04574
    val df = (1L to 10L).toDF("x")
    val r = Outliers.hillTailIndex(df, col("x"), tailFrac = 0.3).head()
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("x_tail") == 7L)
    assert(r.getAs[Double]("hill_h") == 0.247174)
    assert(r.getAs[Double]("alpha") == 4.04574)
    // tied boundary value: multiplicity split is exact — values
    // {1,5,5,5,5} with k=2 take two of the 5s, x_tail = 5 → H = 0 → NULL
    val tied = Seq(1L, 5L, 5L, 5L, 5L).toDF("x")
    val t = Outliers.hillTailIndex(tied, col("x"), tailFrac = 0.5).head()
    assert(t.getAs[Long]("k") == 2L && t.getAs[Long]("x_tail") == 5L)
    assert(t.isNullAt(3) && t.isNullAt(4))
    // k < 1: counts published, estimates NULL
    val tiny = Outliers.hillTailIndex(Seq(3L, 4L).toDF("x"), col("x")).head()
    assert(tiny.getAs[Long]("k") == 0L && tiny.isNullAt(3))
  }
  test("huberMean: spike downweighted to the replayed 5.499424, MAD-0 falls to median") {
    import spark.implicits._
    // 1..9 plus a 1000 spike: median 5, MAD 2 — three IRLS rounds pin
    // to the independently replayed 5.499424 while the plain mean sits
    // hostage at 104.5
    val df = ((1L to 9L) :+ 1000L).toDF("x")
    val r = Outliers.huberMean(df, col("x")).head()
    assert(r.getAs[Long]("n") == 10L && r.getAs[Double]("median") == 5.0
      && r.getAs[Double]("mad") == 2.0)
    assert(r.getAs[Double]("huber_mean") == 5.499424)
    assert(r.getAs[Double]("plain_mean") == 104.5)
    // majority-constant data: MAD 0 → the estimate IS the median
    val flat = Outliers.huberMean(Seq(7L, 7L, 7L, 1000L).toDF("x"), col("x")).head()
    assert(flat.getAs[Double]("mad") == 0.0
      && flat.getAs[Double]("huber_mean") == 7.0)
  }
  test("huberMean: a deviation past 2⁶³ fails loudly, never publishes") {
    import spark.implicits._
    // lower median −5e18, so |5e18 − med| = 1e19 leaves the long range:
    // the executor-side abs(v − med) throws ARITHMETIC_OVERFLOW (ANSI)
    // before the MAD bucket bound derived on the driver can shape any
    // answer
    val df = Seq(-5000000000000000000L, -5000000000000000000L,
      5000000000000000000L).toDF("x")
    val e = intercept[Exception](Outliers.huberMean(df, col("x")).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")),
      e.toString)
  }
  test("seasonalMannKendall: within-season trends combine; cross-season cycle reads 0") {
    import spark.implicits._
    def run(rows: Seq[(String, Long, Long)]) =
      graft.operators.Trend.seasonalMannKendall(
        rows.toDF("season", "t", "y"), col("season"), col("t"), col("y")).head()
    // two seasons, each strictly rising over its 3 years: S = 3 + 3,
    // var18 = 2·(3·2·11) = 132, z = (6−1)/√(132/18)
    val rising = run(Seq(("w", 1L, 10L), ("w", 2L, 20L), ("w", 3L, 30L),
      ("s", 1L, 5L), ("s", 2L, 6L), ("s", 3L, 7L)))
    assert(rising.getAs[Long]("n_seasons") == 2L && rising.getAs[Long]("s") == 6L)
    assert(rising.getAs[Long]("var18") == 132L)
    assert(rising.getAs[Double]("z_sk") == 1.846372)
    // a pure seasonal CYCLE with no within-season movement: every
    // within-season pair ties → S = 0, var collapses to 0 → NULL z —
    // exactly the case that fools the plain q282 statistic
    val cyc = run(Seq(("w", 1L, 100L), ("w", 2L, 100L),
      ("s", 1L, 1L), ("s", 2L, 1L)))
    assert(cyc.getAs[Long]("s") == 0L && cyc.isNullAt(4))
  }
}
