package graft

import org.apache.spark.sql.functions._

import graft.operators.{Experiment, Quantiles, Scd}

/** SCD2 history build, temporal join, A/B readout, weighted median. */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private val ts = (s: Int) => new java.sql.Timestamp(s * 1000L)

  test("buildHistory collapses runs; intervals chain; is_current on the tail") {
    val df = Seq(
      (1L, ts(10), 1L, "bronze"),
      (1L, ts(20), 2L, "bronze"), // same state → collapsed
      (1L, ts(30), 3L, "gold"),
      (1L, ts(40), 4L, "bronze")  // back again → NEW row (type 2, not dedup)
    ).toDF("pk", "ts", "id", "tier")
    val h = Scd.buildHistory(df, "pk", "ts", "id", Seq("tier"))
      .orderBy("valid_from").collect()
    assert(h.map(_.getAs[String]("tier")).toSeq == Seq("bronze", "gold", "bronze"))
    assert(h(0).getAs[java.sql.Timestamp]("valid_to") == ts(30))
    assert(h(1).getAs[java.sql.Timestamp]("valid_to") == ts(40))
    assert(h(2).isNullAt(h(2).fieldIndex("valid_to")))
    assert(h.map(_.getAs[Boolean]("is_current")).toSeq == Seq(false, false, true))
  }

  test("temporalJoin: fact picks the version active at its ts; pre-history null") {
    val hist = Scd.buildHistory(Seq(
      (1L, ts(10), 1L, "bronze"), (1L, ts(30), 2L, "gold")
    ).toDF("pk", "ts", "id", "tier"), "pk", "ts", "id", Seq("tier"))
    val facts = Seq((1L, ts(5), 100L), (1L, ts(10), 101L),
      (1L, ts(29), 102L), (1L, ts(30), 103L)).toDF("pk", "fts", "fid")
    val got = Scd.temporalJoin(facts, hist, "pk", "fts")
      .collect().map(r => r.getAs[Long]("fid") -> Option(r.getAs[String]("tier"))).toMap
    assert(got == Map(100L -> None, 101L -> Some("bronze"),
      102L -> Some("bronze"), 103L -> Some("gold")))
  }

  test("abTest: deterministic arms, exact counts, z sign follows lift") {
    val units = (0 until 400).map(i => (i.toLong, i % 3 == 0)).toDF("id", "c")
    val r = Experiment.abTest(units, "id", col("c"), salt = "s1").head()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 400)
    val again = Experiment.abTest(units.repartition(7), "id", col("c"), "s1").head()
    assert(r == again) // pure function of (salt, id) + exact counts
    assert(math.signum(r.getAs[Double]("z")) ==
      math.signum(r.getAs[Double]("lift")) || r.getAs[Double]("lift") == 0.0)
    // a pooled rate of 0 or 1 zeroes the z denominator: z is NULL (the
    // SQL-engine answer), not an ANSI DIVIDE_BY_ZERO
    Seq(false -> 0.0, true -> 1.0).foreach { case (all, rate) =>
      val flat = Experiment.abTest((0 until 400).map(i => (i.toLong, all))
        .toDF("id", "c"), "id", col("c"), salt = "s1").head()
      assert(flat.getAs[Double]("rate_a") == rate &&
        flat.getAs[Double]("rate_b") == rate && flat.getAs[Double]("lift") == 0.0)
      assert(flat.isNullAt(flat.fieldIndex("z")))
    }
    // an empty arm (split 1.0 sends every unit to A): its rate is NULL too
    val oneArm = Experiment.abTest(units, "id", col("c"), "s1", split = 1.0).head()
    assert(oneArm.getAs[Long]("n_b") == 0L && !oneArm.isNullAt(oneArm.fieldIndex("rate_a")))
    assert(Seq("rate_b", "lift", "z").forall(c => oneArm.isNullAt(oneArm.fieldIndex(c))))
  }

  test("srmCheck: terms replay from published columns; exact partition-free cut") {
    val units = (0 until 1000).map(i => Tuple1(i.toLong)).toDF("id")
    val rows = Experiment.srmCheck(units, "id", salt = "sA",
      weights = Seq(("control", 1L), ("treat", 3L))).collect()
    assert(rows.map(_.getAs[String]("arm")).toSeq == Seq("control", "treat"))
    assert(rows.map(_.getAs[Long]("n_obs")).sum == 1000L)
    assert(rows.map(_.getAs[Int]("df")).distinct.toSeq == Seq(1))
    // every term is the cleared-form rational of its own published row
    val w = 4L
    rows.foreach { r =>
      val (o, wt) = (r.getAs[Long]("n_obs"), r.getAs[Long]("weight"))
      val dev = BigDecimal(o * w - 1000L * wt)
      val expect = BigDecimal((dev * dev).toDouble / (w * 1000L * wt).toDouble)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("term") == expect)
      assert(r.getAs[Double]("expected") ==
        BigDecimal(1000.0 * wt / w).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val chi2 = BigDecimal(rows.map(r => BigDecimal(r.getAs[Double]("term")))
      .sum.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.forall(_.getAs[Double]("chi2") == chi2))
    // pure function of (salt, id): partitioning cannot move a unit
    val again = Experiment.srmCheck(units.repartition(7), "id", "sA",
      Seq(("control", 1L), ("treat", 3L))).collect()
    assert(rows.toSeq == again.toSeq)
    // a 3:1 split audited AS 3:1 over 1000 hash-uniform units is calm
    assert(chi2 < 15.0)
    intercept[IllegalArgumentException] {
      Experiment.srmCheck(units, "id", "sA", Seq(("only", 1L)))
    }
  }

  test("aaCalibration: per-salt nulls parade, summary composes from " +
      "published z, refusals") {
    val units = (0 until 1000).map(i => (i.toLong, i % 3 == 0)).toDF("id", "c")
    val rows = Experiment.aaCalibration(units, "id", col("c"),
      salts = Seq("s1", "s2", "s3", "s4")).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(0)).toSeq == Seq("s1", "s2", "s3", "s4"))
    assert(rows.forall(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 1000L))
    val zs = rows.map(r => math.abs(r.getAs[Double]("z")))
    assert(rows.forall(_.getAs[Double]("max_abs_z") == zs.max))
    assert(rows.forall(_.getAs[Long]("n_over_196") ==
      zs.count(_ > 1.96).toLong))
    // a NULL split (same units, same metric) should rarely alarm — with
    // 4 deterministic salts on 1000 uniform units, never catastrophically
    assert(zs.max < 4.0)
    intercept[IllegalArgumentException] {
      Experiment.aaCalibration(units, "id", col("c"), Seq("dup", "dup"))
    }
  }

  test("weightedMedian: reaches half the total weight; ties deterministic") {
    // values 1(w1), 2(w2), 3(w10): total 13, half at 6.5 → first cum*2>=13 is 3
    val df = Seq((1.0, 1L, 1L), (2.0, 2L, 2L), (3.0, 10L, 3L))
      .toDF("v", "w", "id").withColumn("g", lit("x"))
    val r = Quantiles.weightedMedian(df, Seq("g"), "v", "w", Seq("id")).head()
    assert(r.getAs[Double]("wmedian") == 3.0)
    assert(r.getAs[Long]("total_weight") == 13L)
    // balanced: 1(w5), 3(w5) → cum*2>=10 already at value 1
    val df2 = Seq((1.0, 5L, 1L), (3.0, 5L, 2L)).toDF("v", "w", "id")
      .withColumn("g", lit("x"))
    assert(Quantiles.weightedMedian(df2, Seq("g"), "v", "w", Seq("id"))
      .head().getAs[Double]("wmedian") == 1.0)
  }

  test("weightedMedianBinned == window twin on real data and edge shapes") {
    val li = engine.table("lineitem")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getAs[Double]("wmedian"),
        r.getAs[Long]("total_weight")))).toMap
    val windowed = m(Quantiles.weightedMedian(li, Seq("l_returnflag"),
      "l_extendedprice", "l_quantity", Seq("l_orderkey", "l_linenumber")))
    val binned = m(Quantiles.weightedMedianBinned(li, Seq("l_returnflag"),
      "l_extendedprice", "l_quantity", Seq("l_orderkey", "l_linenumber")))
    assert(binned == windowed)
    // constant-value group (degenerate single bin)
    import spark.implicits._
    val const = Seq((7.0, 2L, 1L), (7.0, 3L, 2L)).toDF("v", "w", "id")
      .withColumn("g", org.apache.spark.sql.functions.lit("c"))
    val r = Quantiles.weightedMedianBinned(const, Seq("g"), "v", "w", Seq("id")).head()
    assert(r.getAs[Double]("wmedian") == 7.0 && r.getAs[Long]("total_weight") == 5L)
  }

  test("cuped: perfect covariate equalizes adjusted means (theta=2, rho2=1); " +
      "zero-variance X publishes raw means with NULL theta") {
    import spark.implicits._
    // Y = 2X exactly, arms differ only through X: theta = 2, rho2 = 1,
    // and both adjusted means land on the pooled 2*mean_x = 50
    val units = Seq(("A", 10L, 20L), ("A", 20L, 40L),
      ("B", 30L, 60L), ("B", 40L, 80L)).toDF("arm", "x", "y")
    val r = Experiment.cuped(units, col("arm"), col("x"), col("y"))
      .orderBy("arm").collect()
    assert(r.map(_.getAs[Double]("theta")).toSeq == Seq(2.0, 2.0))
    assert(r.map(_.getAs[Double]("rho2")).toSeq == Seq(1.0, 1.0))
    assert(r.map(_.getAs[Double]("mean_y")).toSeq == Seq(30.0, 70.0))
    assert(r.map(_.getAs[Double]("mean_y_adj")).toSeq == Seq(50.0, 50.0))
    assert(r.map(_.getAs[Long]("n")).toSeq == Seq(2L, 2L))
    // flat covariate: nothing to adjust with - NULL theta, raw means kept
    val flat = Seq(("A", 7L, 20L), ("A", 7L, 40L), ("B", 7L, 60L))
      .toDF("arm", "x", "y")
    val rf = Experiment.cuped(flat, col("arm"), col("x"), col("y"))
      .orderBy("arm").collect()
    assert(rf.forall(_.isNullAt(4)))
    assert(rf.map(_.getAs[Double]("mean_y_adj")).toSeq ==
      rf.map(_.getAs[Double]("mean_y")).toSeq)
    // null x/y coalesce to the zero stratum, not dropped rows
    val withNull = Seq(("A", Option(10L), Option(20L)),
      ("A", Option.empty[Long], Option(4L)), ("B", Option(6L), Option.empty[Long]))
      .toDF("arm", "x", "y")
    val rn = Experiment.cuped(withNull, col("arm"), col("x"), col("y"))
      .orderBy("arm").collect()
    assert(rn.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L))
  }

  test("calibration: per-bin confidence/observed/gap and the ECE hand-check") {
    import spark.implicits._
    // bin 2: four rows at score .25, one positive -> perfectly calibrated
    // bin 8: two rows at score .85, both positive -> gap .15
    // ECE = (4/6)*0 + (2/6)*.15 = .05
    val df = (Seq.fill(3)((0.25, false)) :+ ((0.25, true)) :+
      ((0.85, true)) :+ ((0.85, true))).toDF("score", "label")
    val r = Experiment.calibration(df, col("score"), col("label"), nBins = 10)
      .collect()
    assert(r.map(_.getAs[Long]("bin")).toSeq == Seq(2L, 8L))
    val b2 = r(0); val b8 = r(1)
    assert(b2.getAs[Long]("n") == 4 && b2.getAs[Double]("confidence") == 0.25 &&
      b2.getAs[Double]("observed") == 0.25 && b2.getAs[Double]("gap") == 0.0)
    assert(b8.getAs[Long]("n") == 2 && b8.getAs[Double]("confidence") == 0.85 &&
      b8.getAs[Double]("observed") == 1.0 && b8.getAs[Double]("gap") == 0.15)
    assert(r.forall(_.getAs[Double]("ece") == 0.05))
    assert(r.forall(_.getAs[Long]("n_total") == 6))
    // score 1.0 clamps into the last bin, never an 11th
    val edge = Seq((1.0, true), (0.0, false)).toDF("score", "label")
    val bins = Experiment.calibration(edge, col("score"), col("label"), 10)
      .collect().map(_.getAs[Long]("bin")).toSeq
    assert(bins == Seq(0L, 9L))
  }

  test("rocAuc: perfect/reversed/tied/hand-mixed separation; single-class NULL") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Boolean)]): java.lang.Double = {
      val r = Experiment.rocAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
      if (r.isNullAt(2)) null else r.getDouble(2)
    }
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))) == 1.0)
    assert(auc(Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false))) == 0.0)
    assert(auc(Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))) == 0.5)
    // pos {3,5}, neg {1,3}: pairwise wins 3 + one tie (0.5) over 4 pairs
    assert(auc(Seq((3.0, true), (5.0, true), (1.0, false), (3.0, false))) == 0.875)
    assert(auc(Seq((0.4, true), (0.6, true))) == null)
    // counts are published even in the degenerate case
    val r = Experiment.rocAuc(Seq((0.4, true)).toDF("s", "y"), col("s"), col("y"))
      .head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L && r.isNullAt(2))
    // EMPTY subject (all rows null-filtered) publishes (0, 0, NULL) —
    // the rankSums tie aggregation must not NPE on a zero-row sum
    val e = Experiment.rocAuc(
      Seq((Option.empty[Double], Option.empty[Boolean])).toDF("s", "y"),
      col("s"), col("y")).head()
    assert(e.getLong(0) == 0L && e.getLong(1) == 0L && e.isNullAt(2))
  }

  test("conformalInterval: hand k and q_hat, coverage, tiny-cal NULL interval") {
    import spark.implicits._
    // pred 0 everywhere, cal actuals 1..10: residuals 1..10, n=10,
    // alpha=1/10 -> k = ceil(11*9/10) = 10 -> q_hat = 10
    val cal = (1 to 10).map(i => (0L, i.toLong)).toDF("p", "y")
    val ev = Seq((0L, 5L), (0L, 15L)).toDF("p", "y")
    val r = Experiment.conformalInterval(cal, ev, col("p"), col("y"), 1, 10).head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 10L && r.getLong(2) == 10L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getAs[Double]("coverage") == 0.5)
    // alpha=1/2: k = ceil(11/2) = 6 -> q_hat = 6
    val r2 = Experiment.conformalInterval(cal, ev, col("p"), col("y"), 1, 2).head()
    assert(r2.getLong(1) == 6L && r2.getLong(2) == 6L)
    // k > n_cal (1 row, alpha 1/10 -> k=2): infinite interval -> NULLs
    val tiny = Experiment.conformalInterval(
      Seq((0L, 3L)).toDF("p", "y"), ev, col("p"), col("y"), 1, 10).head()
    assert(tiny.getLong(1) == 2L && tiny.isNullAt(2) && tiny.isNullAt(4))
  }

  test("bootstrapMeanCI: deterministic, layout-invariant, ordered CI brackets") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, (i % 100).toLong * 10)).toDF("id", "x")
    val a = Experiment.bootstrapMeanCI(df, col("id"), col("x")).head()
    val b = Experiment.bootstrapMeanCI(df.repartition(17), col("id"), col("x")).head()
    assert(a == b) // salted-hash weights: layout cannot matter
    assert(a.getLong(0) == 2000L && a.getInt(1) == 32)
    assert(a.getAs[Double]("mean") == 495.0)
    val (lo, hi) = (a.getAs[Double]("ci_lo"), a.getAs[Double]("ci_hi"))
    assert(lo <= hi && lo > 400.0 && hi < 600.0) // sane bracket near 495
  }

  test("averagePrecision: sklearn hand case, perfect ranking, ties, no-pos NULL") {
    import spark.implicits._
    def ap(rows: Seq[(Double, Boolean)]): java.lang.Double = {
      val r = Experiment.averagePrecision(rows.toDF("s", "y"), col("s"), col("y"))
        .head()
      if (r.isNullAt(2)) null else r.getDouble(2)
    }
    // the sklearn docs example: AP = 1/2*1 + 1/2*(2/3) = 0.833333
    assert(ap(Seq((0.8, true), (0.6, false), (0.4, true), (0.2, false)))
      == 0.833333)
    assert(ap(Seq((0.9, true), (0.8, true), (0.2, false))) == 1.0)
    // one fully tied threshold: AP = precision = n_pos/n
    assert(ap(Seq((0.5, true), (0.5, false), (0.5, false), (0.5, true))) == 0.5)
    assert(ap(Seq((0.7, false), (0.3, false))) == null)
  }

  test("rankingEval: hand P@k/RR/nDCG, perfect ranking = 1.0, " +
      "no-relevant NULLs, missing-from-results relevance") {
    import spark.implicits._
    import graft.operators.RankEval
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val results = Seq((1L, "a", 1), (1L, "b", 2), (1L, "c", 3)).toDF("qid", "id", "rank")
    val rel = Seq((1L, "b"), (1L, "d")).toDF("qid", "id")
    val r = RankEval.rankingEval(results, rel, k = 3).head()
    assert(r.getAs[Long]("n_rel") == 2 && r.getAs[Long]("n_results") == 3)
    assert(r.getAs[Double]("p_at_k") == r6(1.0 / 3.0))
    assert(r.getAs[Double]("rr") == 0.5)
    val dcg = r12(1.0 / (math.log(3.0) / math.log(2.0)))
    val idcg = BigDecimal(r12(1.0)) + BigDecimal(dcg)
    assert(r.getAs[Double]("ndcg") == r6((BigDecimal(dcg) / idcg).toDouble))
    // perfect: the two relevant items at ranks 1-2 of 2 results, k=2
    val perfect = RankEval.rankingEval(
      Seq((1L, "b", 1), (1L, "d", 2)).toDF("qid", "id", "rank"), rel, 2).head()
    assert(perfect.getAs[Double]("ndcg") == 1.0 &&
      perfect.getAs[Double]("p_at_k") == 1.0 && perfect.getAs[Double]("rr") == 1.0)
    // AP@3 for the hand case: one hit at rank 2 with cum-precision 1/2,
    // averaged over min(3, 2) relevant -> 0.25
    assert(r.getAs[Double]("ap") == 0.25)
    assert(perfect.getAs[Double]("ap") == 1.0)
    // a query with no relevant items: ndcg/rr/ap NULL, p 0
    val none = RankEval.rankingEval(results,
      Seq((2L, "z")).toDF("qid", "id"), 3).head()
    assert(none.getAs[Long]("n_rel") == 0 && none.getAs[Double]("p_at_k") == 0.0)
    assert(none.isNullAt(4) && none.isNullAt(5) && none.isNullAt(6))
  }

  test("cohenKappa: perfect = 1, independent = 0, textbook 2x2 = 0.4, one-sided cat") {
    import spark.implicits._
    def kappa(rows: Seq[(String, String)]): org.apache.spark.sql.Row =
      Experiment.cohenKappa(rows.toDF("a", "b"), col("a"), col("b")).head()
    val perfect = kappa(Seq.fill(10)(("k", "k")) ++ Seq.fill(5)(("d", "d")))
    assert(perfect.getAs[Double]("kappa") == 1.0 && perfect.getAs[Double]("po") == 1.0)
    // exact independence: cells are products of the marginals → κ = 0
    val ind = kappa(Seq.fill(30)(("k", "k")) ++ Seq.fill(30)(("k", "d")) ++
      Seq.fill(20)(("d", "k")) ++ Seq.fill(20)(("d", "d")))
    assert(ind.getAs[Double]("kappa") == 0.0 && ind.getAs[Double]("pe") == 0.5)
    // classic 2x2 (20,5 / 10,15): po = 0.7, pe = 0.5, κ = 0.4 exactly
    val tb = kappa(Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n")))
    assert(tb.getAs[Double]("kappa") == 0.4)
    assert(tb.getAs[Long]("n") == 50 && tb.getAs[Long]("n_cat_a") == 2)
    // a category only rater A uses: marginal product is 0, counts still right
    val oneSided = kappa(Seq.fill(8)(("k", "k")) ++ Seq.fill(2)(("m", "k")))
    assert(oneSided.getAs[Long]("n_cat_a") == 2 && oneSided.getAs[Long]("n_cat_b") == 1)
    assert(oneSided.getAs[Double]("po") == 0.8)
  }

  test("brierDecomposition: hand two-bin case, exact Brier, parts recompose") {
    import org.apache.spark.sql.functions.col
    // bin0: s=0.05 x4, 1 positive; bin9: s=0.95 x4, 3 positive
    val df = (Seq.fill(1)((0.05, true)) ++ Seq.fill(3)((0.05, false)) ++
      Seq.fill(3)((0.95, true)) ++ Seq.fill(1)((0.95, false)))
      .toDF("s", "y")
    val r = Experiment.brierDecomposition(df, col("s"), col("y"), 10).head()
    assert(r.getAs[Long]("n") == 8 && r.getAs[Long]("n_pos") == 4)
    // exact Brier: (0.05-1)^2 + 3*0.05^2 + 3*(0.95-1)^2 + 0.95^2 over 8
    val brier = (0.9025 + 3 * 0.0025 + 3 * 0.0025 + 0.9025) / 8.0
    assert(r.getAs[Double]("brier") == math.rint(brier * 1e6) / 1e6)
    assert(r.getAs[Double]("o_bar") == 0.5 && r.getAs[Double]("unc") == 0.25)
    // conf0=0.05 obs0=0.25, conf9=0.95 obs9=0.75: rel = 2*4*0.04/8
    assert(r.getAs[Double]("rel") == math.rint(0.04 * 1e6) / 1e6)
    // res = 2*4*0.0625/8
    assert(r.getAs[Double]("res") == 0.0625)
    assert(r.getAs[Double]("brier_binned") ==
      math.rint((0.04 - 0.0625 + 0.25) * 1e6) / 1e6)
  }

  test("gainsTable: tiles, cumulative capture and lift, tied block stays whole") {
    import org.apache.spark.sql.functions.col
    // 10 rows, scores 10..1, positives at the top 3 scores
    val df = (1 to 10).map(i => (i.toDouble, i >= 8)).toDF("s", "y")
    val rows = Experiment.gainsTable(df, col("s"), col("y"), nTiles = 5).collect()
    assert(rows.length == 5)
    val t0 = rows(0)
    assert(t0.getAs[Long]("tile") == 0 && t0.getAs[Long]("n") == 2
      && t0.getAs[Long]("pos") == 2)
    assert(t0.getAs[Double]("capture") == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    // lift tile0 = (2*10)/(2*3)
    assert(t0.getAs[Double]("lift") == math.rint(20.0 / 6.0 * 1e6) / 1e6)
    assert(rows(4).getAs[Double]("capture") == 1.0 && rows(4).getAs[Double]("lift") == 1.0)
    // one giant tied block lands wholly in tile 0
    val tied = (1 to 10).map(_ => (1.0, true)).toDF("s", "y")
    val rt = Experiment.gainsTable(tied, col("s"), col("y"), nTiles = 5).collect()
    assert(rt.length == 1 && rt(0).getAs[Long]("tile") == 0
      && rt(0).getAs[Long]("n") == 10)
  }

  test("bestThreshold: argmax by exact integers, cost asymmetry moves the point") {
    import org.apache.spark.sql.functions.col
    // neg at 1,2,3,4 ; pos at 3,4,5,6 — J max at t=3 (tp=4, fp=2)
    val df = Seq((1.0, false), (2.0, false), (3.0, false), (4.0, false),
      (3.0, true), (4.0, true), (5.0, true), (6.0, true)).toDF("s", "y")
    val rows = Experiment.bestThreshold(df, col("s"), col("y"),
      costFp = 1L, costFn = 1L).collect()
    val j = rows.find(_.getString(0) == "youden_j").get
    assert(j.getAs[Double]("threshold") == 3.0 && j.getAs[Long]("tp") == 4
      && j.getAs[Long]("fp") == 2)
    assert(j.getAs[Double]("j") == 0.5)
    // heavy FN cost pushes the threshold down to keep recall
    val cost = Experiment.bestThreshold(df, col("s"), col("y"),
      costFp = 1L, costFn = 100L).collect()
      .find(_.getString(0) == "min_cost").get
    assert(cost.getAs[Double]("threshold") <= 3.0 && cost.getAs[Long]("fn") == 0)
    // single-class input refuses loudly
    intercept[IllegalArgumentException] {
      Experiment.bestThreshold((1 to 3).map(i => (i.toDouble, true)).toDF("s", "y"),
        col("s"), col("y"))
    }
  }

  test("cochranArmitage: two levels reduce to the hand z; degenerates NULL") {
    import org.apache.spark.sql.functions.col
    // t=0: 2/10 success; t=1: 6/10 → T = 6 − 10·8/20 = 2,
    // Var = 0.4·0.6·(10 − 100/20) = 1.2, z = 2/√1.2
    val df = ((1 to 10).map(i => (0L, i <= 2)) ++
      (1 to 10).map(i => (1L, i <= 6))).toDF("dose", "y")
    val r = Experiment.cochranArmitage(df, col("dose"), col("y")).head()
    assert(r.getAs[Long]("n") == 20L && r.getAs[Long]("n_levels") == 2L
      && r.getAs[Long]("successes") == 8L)
    assert(r.getAs[Double]("z_ca") ==
      BigDecimal(2.0 / math.sqrt(1.2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // all-success margin → NULL z
    val all = (1 to 6).map(i => ((i % 3).toLong, true)).toDF("dose", "y")
    assert(Experiment.cochranArmitage(all, col("dose"), col("y"))
      .head().isNullAt(3))
  }

  test("permutationTest: exact null p=1, planted separation small p, deterministic") {
    import org.apache.spark.sql.functions.col
    // identical values: every replicate diff (0) >= |diff_obs| (0) → p = 1
    val flat = (1 to 40).map(i =>
      (i.toString, if (i <= 20) "A" else "B", 7L)).toDF("id", "arm", "x")
    val pf = Experiment.permutationTest(flat, col("id"), col("arm"), col("x"))
    assert(pf.head().getAs[Double]("p_value") == 1.0)
    // A=1000s vs B=0s: no md5 relabeling reproduces the full gap
    val sep = (1 to 40).map(i =>
      (i.toString, if (i <= 20) "A" else "B", if (i <= 20) 1000L else 0L))
      .toDF("id", "arm", "x")
    val r = Experiment.permutationTest(sep, col("id"), col("arm"), col("x")).head()
    assert(r.getAs[Double]("diff_obs") == 1000.0)
    assert(r.getAs[Double]("p_value") <= 0.1)
    // pure function of (salt, data)
    val again = Experiment.permutationTest(sep.repartition(5),
      col("id"), col("arm"), col("x")).head()
    assert(again == r)
  }

  test("wilsonIntervals: 5/10 is the textbook symmetric interval") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 10).map(i => ("g", i <= 5)).toDF("grp", "y")
    val r = Experiment.wilsonIntervals(df, col("grp"), col("y")).head()
    assert(r.getAs[Double]("rate") == 0.5)
    val lo = r.getAs[Double]("wilson_lo"); val hi = r.getAs[Double]("wilson_hi")
    assert(math.abs(lo + hi - 1.0) < 2e-6) // symmetric at p = ½
    assert(lo > 0.23 && lo < 0.24) // known ≈ 0.2366 (Brown-Cai-DasGupta)
  }

  test("krippendorffAlpha: textbook coincidence matrix; degenerate cases") {
    import org.apache.spark.sql.functions.col
    // u1 (a,a), u2 (a,b), u3 (b,b), u4 (b,b) → o: aa=2 ab=ba=1 bb=4,
    // n_a=3 n_b=5 → D_o = 2/8, D_e = 30/56, α = 1 − .25/.535714… = .533333
    val r = Seq(("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"),
      ("u3", "b"), ("u3", "b"), ("u4", "b"), ("u4", "b"),
      ("u5", "a")) // single rating: no pair info, dropped
      .toDF("u", "v")
    val row = Experiment.krippendorffAlpha(r, col("u"), col("v")).head()
    assert(row.getAs[Long]("n_units") == 4L && row.getAs[Long]("n_ratings") == 8L
      && row.getAs[Long]("n_values") == 2L)
    assert(row.getAs[Double]("d_o") == 0.25)
    assert(row.getAs[Double]("alpha") == 0.533333)
    // perfect agreement over a MIXED value set → α = 1
    val perfect = Seq(("u1", "a"), ("u1", "a"), ("u2", "b"), ("u2", "b"))
      .toDF("u", "v")
    assert(Experiment.krippendorffAlpha(perfect, col("u"), col("v"))
      .head().getAs[Double]("alpha") == 1.0)
    // a single value everywhere: D_e = 0 → NULL (agreement is vacuous)
    val mono = Seq(("u1", "a"), ("u1", "a")).toDF("u", "v")
    val m = Experiment.krippendorffAlpha(mono, col("u"), col("v")).head()
    assert(m.isNullAt(m.fieldIndex("alpha")))
  }

  test("minDetectableEffect: the sizing identity at p = 1/2") {
    import org.apache.spark.sql.functions.col
    val units = (1 to 100).map(i => Tuple1(i <= 50)).toDF("y")
    val rows = Experiment.minDetectableEffect(units, col("y"),
      Seq(1000L, 4000L)).collect()
    def mde(n: Long) = BigDecimal(2.8016 * math.sqrt(2.0 * 0.5 * 0.5 / n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.map(r => (r.getLong(0), r.getAs[Double]("mde_abs"))).toSeq ==
      Seq((1000L, mde(1000)), (4000L, mde(4000))))
    // quadrupling n halves the MDE (√n law), rel = abs/p at p = .5
    assert(math.abs(rows(0).getAs[Double]("mde_abs")
      - 2 * rows(1).getAs[Double]("mde_abs")) < 1e-6)
    assert(rows(0).getAs[Double]("mde_rel") ==
      BigDecimal(rows(0).getAs[Double]("mde_abs") / 0.5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("kendallW: perfect/null/tie-corrected hand values; incompleteness refuses") {
    import org.apache.spark.sql.functions.col
    // perfect concordance
    val perfect = Seq(("r1", "A", 3.0), ("r1", "B", 2.0), ("r1", "C", 1.0),
      ("r2", "A", 30.0), ("r2", "B", 20.0), ("r2", "C", 10.0))
      .toDF("rt", "it", "v")
    assert(Experiment.kendallW(perfect, col("rt"), col("it"), col("v"))
      .head().getAs[Double]("w") == 1.0)
    // exact reversal: rank sums equal → S = 0 → W = 0
    val rev = Seq(("r1", "A", 3.0), ("r1", "B", 2.0), ("r1", "C", 1.0),
      ("r2", "A", 1.0), ("r2", "B", 2.0), ("r2", "C", 3.0))
      .toDF("rt", "it", "v")
    val r0 = Experiment.kendallW(rev, col("rt"), col("it"), col("v")).head()
    assert(r0.getAs[Double]("s") == 0.0 && r0.getAs[Double]("w") == 0.0)
    // tie-corrected: r1 (2,2,1), r2 (3,2,1) → S = 6.5, T = 6,
    // W = 12·6.5 / (4·24 − 2·6) = 78/84
    val tied = Seq(("r1", "A", 2.0), ("r1", "B", 2.0), ("r1", "C", 1.0),
      ("r2", "A", 3.0), ("r2", "B", 2.0), ("r2", "C", 1.0))
      .toDF("rt", "it", "v")
    val rt = Experiment.kendallW(tied, col("rt"), col("it"), col("v")).head()
    assert(rt.getAs[Double]("s") == 6.5)
    assert(rt.getAs[Double]("w") ==
      BigDecimal(78.0 / 84.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    intercept[IllegalArgumentException] { // incomplete ranking
      Experiment.kendallW(perfect.limit(5), col("rt"), col("it"), col("v"))
    }
    // offsetting defects: r1 rates A twice and misses B, so the raw
    // count equals m·n (2×2) — the per-pair uniqueness check must still
    // refuse rather than run doubled-rank math silently
    val spoof = Seq(("r1", "A", 3.0), ("r1", "A", 2.0),
      ("r2", "A", 1.0), ("r2", "B", 2.0)).toDF("rt", "it", "v")
    val e = intercept[IllegalArgumentException] {
      Experiment.kendallW(spoof, col("rt"), col("it"), col("v"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("permutationTestBy: per-group rows equal standalone tests; guards refuse") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("g1", 1L, "A", 10L), ("g1", 2L, "A", 12L), ("g1", 3L, "B", 5L),
      ("g1", 4L, "B", 6L),
      ("g2", 5L, "A", 7L), ("g2", 6L, "B", 7L), ("g2", 7L, "B", 9L),
      ("g2", 8L, "A", 8L))
      .toDF("g", "id", "arm", "x")
    val swept = Experiment.permutationTestBy(df, col("g"), col("id"),
        col("arm"), col("x"), bReps = 16, salt = "s")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // the sweep must equal a standalone test per group: the md5 stream is
    // id-keyed and the rate per-group, so nothing couples the groups
    for (g <- Seq("g1", "g2")) {
      val solo = Experiment.permutationTest(df.where(col("g") === g),
        col("id"), col("arm"), col("x"), bReps = 16, salt = "s").head().toSeq
      assert(swept(g) == solo, s"group $g diverged from the standalone test")
    }
    intercept[IllegalArgumentException] { // empty arm refuses loudly
      Experiment.permutationTestBy(df.where(col("arm") === "A"), col("g"),
        col("id"), col("arm"), col("x"), bReps = 16, salt = "s")
    }
  }

  test("bhAdjust: hand step-up — k*, criticals, reverse-min q-values, discoveries") {
    import org.apache.spark.sql.functions.col
    // m=4, alpha=0.2: crits .05/.10/.15/.20; p = .04/.09/.18/.19
    // step-up: k*=2 (p3=.18>.15, p4=.19<=.20? NO — .19<=.20 so k*=4!)
    val pv = Seq(("t1", 0.04), ("t2", 0.09), ("t3", 0.18), ("t4", 0.19))
      .toDF("t", "p")
    val out = Experiment.bhAdjust(pv, col("t"), col("p"), alpha = 0.2)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(4),
        r.getDouble(5), r.getInt(6)))
    assert(out.map(_._1).toSeq == Seq("t1", "t2", "t3", "t4"))
    assert(out.map(_._3).toSeq == Seq(0.05, 0.1, 0.15, 0.2)) // rank*alpha/m
    // q-values: reverse running min of p*m/rank = .16/.18/.19/.19
    //   rank4: .19*4/4=.19; rank3: min(.19, .18*4/3=.24)=.19;
    //   rank2: min(.19, .09*4/2=.18)=.18; rank1: min(.18, .04*4)= .16
    assert(out.map(_._4).toSeq == Seq(0.16, 0.18, 0.19, 0.19))
    // p4=.19 <= crit .20 → step-up k*=4 → ALL discoveries (the step-up
    // property a naive per-rank comparison would get wrong at rank 3)
    assert(out.map(_._5).toSeq == Seq(1, 1, 1, 1))
    // no rank passes → zero discoveries, q floors at min p * m
    val none = Experiment.bhAdjust(
        Seq(("a", 0.30), ("b", 0.80)).toDF("t", "p"),
        col("t"), col("p"), alpha = 0.05)
      .collect().map(r => (r.getInt(6), r.getDouble(5)))
    assert(none.map(_._1).toSeq == Seq(0, 0))
    assert(none.map(_._2).toSeq == Seq(0.6, 0.8))
  }

  test("cochranQ: hand value, unanimous NULL, guards refuse") {
    import org.apache.spark.sql.functions.col
    // 4 items × 3 treatments: C = (3,2,1), T = 6, R = (3,2,1,0)
    // num = (9−6)²+(6−6)²+(3−6)² = 18; ΣR² = 14; denom = 3·(18−14) = 12
    // Q = 2·18/12 = 3.0
    val df = Seq(
      ("i1", "a", 1L), ("i1", "b", 1L), ("i1", "c", 1L),
      ("i2", "a", 1L), ("i2", "b", 1L), ("i2", "c", 0L),
      ("i3", "a", 1L), ("i3", "b", 0L), ("i3", "c", 0L),
      ("i4", "a", 0L), ("i4", "b", 0L), ("i4", "c", 0L))
      .toDF("it", "tr", "y")
    val r = Experiment.cochranQ(df, col("it"), col("tr"), col("y")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L && r.getLong(2) == 6L)
    assert(r.getDouble(3) == 3.0 && r.getLong(4) == 2L)
    // unanimous panel: every item all-ones → denominator 0 → NULL Q
    val unan = Seq(("i1", "a", 1L), ("i1", "b", 1L),
      ("i2", "a", 1L), ("i2", "b", 1L)).toDF("it", "tr", "y")
    assert(Experiment.cochranQ(unan, col("it"), col("tr"), col("y"))
      .head().isNullAt(3))
    intercept[IllegalArgumentException] { // incomplete panel refuses
      Experiment.cochranQ(df.limit(11), col("it"), col("tr"), col("y"))
    }
    intercept[IllegalArgumentException] { // non-binary outcome refuses
      Experiment.cochranQ(df.withColumn("y",
        when(col("it") === "i1", 2L).otherwise(col("y"))),
        col("it"), col("tr"), col("y"))
    }
  }

  test("qiniTable: hand uplift curve — score finds the moved units") {
    import org.apache.spark.sql.functions.col
    // score 1.0: 2T both convert, 2C none → tile 0 uplift 2
    // score 0.5: 2T none, 2C one  → cumulative uplift 2 − 1·(4/4) = 1
    val df = Seq(
      (1.0, true, true), (1.0, true, true), (1.0, false, false), (1.0, false, false),
      (0.5, true, false), (0.5, true, false), (0.5, false, true), (0.5, false, false))
      .toDF("s", "t", "y")
    val rows = Experiment.qiniTable(df, col("s"), col("t"), col("y"), nTiles = 2)
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("tile") == 0L
      && rows(0).getAs[Double]("cum_uplift") == 2.0)
    assert(rows(1).getAs[Long]("tile") == 1L
      && rows(1).getAs[Long]("cum_n_t") == 4L
      && rows(1).getAs[Double]("cum_uplift") == 1.0)
    intercept[IllegalArgumentException] { // one-arm data has no control scale
      Experiment.qiniTable(df.where(col("t")), col("s"), col("t"), col("y"))
        .collect()
    }
  }

  test("ratioMetricDelta: hand linearization SEs and z") {
    import org.apache.spark.sql.functions.col
    // T: (10,2),(20,2) → R=7.5, Σ(x−Ry)²=50, se=√(50·2)/4 = 2.5
    // C: (8,2),(12,2)  → R=5,   Σ…=8,        se=√(8·2)/4 = 1
    val df = Seq((true, 10L, 2L), (true, 20L, 2L),
      (false, 8L, 2L), (false, 12L, 2L)).toDF("t", "x", "y")
    val r = Experiment.ratioMetricDelta(df, col("t"), col("x"), col("y")).head()
    assert(r.getAs[Double]("ratio_t") == 7.5 && r.getAs[Double]("ratio_c") == 5.0)
    assert(r.getAs[Double]("se_t") == 2.5 && r.getAs[Double]("se_c") == 1.0)
    assert(r.getAs[Double]("diff") == 2.5)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == r6(2.5 / math.sqrt(7.25)))
    // a 1-row arm → NULL inference columns, ratios still published
    val thin = Seq((true, 10L, 2L), (false, 8L, 2L), (false, 12L, 2L))
      .toDF("t", "x", "y")
    val tr = Experiment.ratioMetricDelta(thin, col("t"), col("x"), col("y")).head()
    assert(tr.getAs[Double]("ratio_t") == 5.0 && tr.isNullAt(tr.fieldIndex("z")))
  }

  test("smdBalance: hand moments, zero-variance and thin-arm NULLs") {
    import org.apache.spark.sql.functions.{col, lit}
    // treated x = [10, 20] (mean 15, s² 50); control [10, 10, 16]
    // (mean 12, s² 12) → sd_pooled = √31, smd = 3/√31
    val df = Seq((true, 10L, 5L), (true, 20L, 5L),
      (false, 10L, 5L), (false, 10L, 5L), (false, 16L, 5L))
      .toDF("t", "x", "flat")
    val rows = Experiment.smdBalance(df, col("t"),
        Seq("x" -> col("x"), "flat" -> col("flat"))).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = rows("x")
    assert(x.getAs[Long]("n_t") == 2L && x.getAs[Long]("n_c") == 3L)
    assert(x.getAs[Double]("mean_t") == 15.0 && x.getAs[Double]("mean_c") == 12.0)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(x.getAs[Double]("sd_pooled") == r6(math.sqrt(31.0)))
    assert(x.getAs[Double]("smd") == r6(3.0 / math.sqrt(31.0)))
    // a constant covariate: balanced by construction but UNDEFINED smd
    val f = rows("flat")
    assert(f.getAs[Double]("sd_pooled") == 0.0 && f.isNullAt(f.fieldIndex("smd")))
    // a 1-row arm cannot produce a sample variance
    val thin = Seq((true, 10L), (false, 1L), (false, 2L)).toDF("t", "x")
    val tr = Experiment.smdBalance(thin, col("t"), Seq("x" -> col("x"))).head()
    assert(tr.isNullAt(tr.fieldIndex("smd")))
  }

  test("eValue: RR = 3 gives 3 + sqrt(6); empty cell nulls the readout") {
    import org.apache.spark.sql.functions.col
    val df = ((1 to 30).map(_ => (true, true)) ++ (1 to 70).map(_ => (true, false)) ++
      (1 to 10).map(_ => (false, true)) ++ (1 to 90).map(_ => (false, false)))
      .toDF("e", "y")
    val r = Experiment.eValue(df, col("e"), col("y")).head()
    assert(r.getAs[Double]("rr") == 3.0)
    assert(r.getAs[Double]("e_value") ==
      BigDecimal(3.0 + math.sqrt(6.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val oneSided = (1 to 5).map(_ => (true, true)).toDF("e", "y")
    assert(Experiment.eValue(oneSided, col("e"), col("y"))
      .head().isNullAt(5))
  }

  test("delongAucCompare: hand z=1 case, identical scores z NULL, degenerates") {
    // pos A {3,4} / neg A {1,2} → AUC_A = 1, zero component variance;
    // pos B {1,4} / neg B {2,3} → AUC_B = ½, s10_BB = ½, all else 0
    // → var = ¼, se = ½, z = (1 − ½)/½ = 1 exactly
    val df = Seq(
      (true, 3.0, 1.0), (true, 4.0, 4.0),
      (false, 1.0, 2.0), (false, 2.0, 3.0)).toDF("y", "a", "b")
    val r = Experiment.delongAucCompare(df, col("y"), col("a"), col("b")).head()
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    assert(r.getAs[Double]("auc_a") == 1.0 && r.getAs[Double]("auc_b") == 0.5)
    assert(r.getAs[Double]("auc_diff") == 0.5)
    assert(r.getAs[Double]("se_diff") == 0.5 && r.getAs[Double]("z") == 1.0)
    // a score compared against itself: diff 0, vd = 0 → se/z NULL
    val self = Experiment.delongAucCompare(df, col("y"), col("a"), col("a")).head()
    assert(self.getAs[Double]("auc_diff") == 0.0)
    assert(self.isNullAt(5) && self.isNullAt(6))
    // single-class input: aucs NULL too
    val onePos = Seq((true, 1.0, 2.0), (true, 2.0, 1.0)).toDF("y", "a", "b")
    val d = Experiment.delongAucCompare(onePos, col("y"), col("a"), col("b")).head()
    assert(d.isNullAt(2) && d.isNullAt(3) && d.isNullAt(5) && d.isNullAt(6))
  }

  test("breslowDay: homogeneous BD=0, flipped-OR hand 20/3, margins skip, NULLs") {
    def stratum(g: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((g, true, true)) ++ Seq.fill(b)((g, true, false)) ++
        Seq.fill(c)((g, false, true)) ++ Seq.fill(d)((g, false, false))
    def run(rows: Seq[(String, Boolean, Boolean)]) =
      Experiment.breslowDay(rows.toDF("g", "ex", "ou"),
        col("g"), col("ex"), col("ou")).head()
    // two identical strata: psi equals each stratum's OR (= 4), the
    // quadratic root lands exactly on the observed a → BD = 0
    val homo = run(stratum("s1", 10, 5, 5, 10) ++ stratum("s2", 10, 5, 5, 10))
    assert(homo.getAs[Long]("n_used") == 2L && homo.getAs[Double]("or_mh") == 4.0)
    assert(homo.getAs[Double]("bd") == 0.0 && homo.getAs[Double]("bd_tarone") == 0.0)
    // mirrored strata (OR 4 vs 1/4): psi = 1 → the LINEAR branch,
    // afit = 7.5, V = 1.875 → BD = 2·(2.5²/1.875) = 20/3; Σdiff = 0 so
    // Tarone changes nothing
    val flip = run(stratum("s1", 10, 5, 5, 10) ++ stratum("s2", 5, 10, 10, 5))
    assert(flip.getAs[Double]("or_mh") == 1.0)
    assert(flip.getAs[Double]("bd") == 6.666667
      && flip.getAs[Double]("bd_tarone") == 6.666667)
    assert(flip.getAs[Long]("df") == 1L)
    // a zero-margin stratum carries no psi information: skipped
    val skip = run(stratum("s1", 10, 5, 5, 10) ++ stratum("s2", 10, 5, 5, 10)
      ++ stratum("s3", 3, 2, 0, 0))
    assert(skip.getAs[Long]("n_strata") == 3L && skip.getAs[Long]("n_used") == 2L)
    // psi undefined (no discordant mass): everything NULL
    val nul = run(stratum("s1", 5, 0, 5, 0))
    assert(nul.isNullAt(2) && nul.isNullAt(3) && nul.isNullAt(4) && nul.isNullAt(5))
  }

  test("calibrationSlope: calibrated data reads exactly (0,1); degenerates NULL") {
    // score .25 with 1/4 positives, score .75 with 3/4: perfectly
    // calibrated — four 9dp Newton rounds land on intercept 0, slope 1
    // at 6dp (symmetry keeps every intercept update exactly zero)
    val df = (Seq.fill(1)((0.25, true)) ++ Seq.fill(3)((0.25, false)) ++
      Seq.fill(3)((0.75, true)) ++ Seq.fill(1)((0.75, false)))
      .toDF("s", "y")
    val r = Experiment.calibrationSlope(df, col("s"), col("y")).head()
    assert(r.getAs[Long]("n") == 8L && r.getAs[Long]("n_pos") == 4L)
    assert(r.getAs[Double]("intercept") == 0.0 && r.getAs[Double]("slope") == 1.0)
    // single-class labels: no likelihood surface → NULL estimates
    val onecls = Experiment.calibrationSlope(
      Seq((0.2, true), (0.8, true)).toDF("s", "y"), col("s"), col("y")).head()
    assert(onecls.isNullAt(2) && onecls.isNullAt(3))
    // constant score: singular Hessian → NULL estimates
    val const = Experiment.calibrationSlope(
      (Seq.fill(3)((0.5, true)) ++ Seq.fill(3)((0.5, false))).toDF("s", "y"),
      col("s"), col("y")).head()
    assert(const.isNullAt(2) && const.isNullAt(3))
  }
}
