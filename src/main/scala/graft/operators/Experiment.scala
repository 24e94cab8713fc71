package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * A/B experiment readout on deterministic hash assignment: arms come
 * from the same salted-md5 bucketing as [[graft.pipeline.Sampling]]
 * (pure function of (salt, unit id) — assignment is reproducible,
 * re-derivable, and independent across salts), conversion is measured
 * per UNIT (not per event — a chatty user must not vote twice), and the
 * readout is the two-proportion pooled z-score computed from exact
 * counts, doubles entering only in the one published formula (sqrt is
 * correctly rounded — deterministic across engines). The p-value is
 * deliberately NOT published: erf is not reproducible across math
 * libraries; z is, and the caller owns the threshold.
 */
object Experiment {

  /** 13-hex (52-bit) md5 fraction in [0,1) for unit assignment. */
  private def frac(id: Column, salt: String): Column =
    graft.functions.GraftFunctions.md5Frac52(
      concat(lit(salt), lit(":"), id.cast("string"))) / lit(DistinctSketch.HashDenom)

  /**
   * One-row readout: (n_a, n_b, conv_a, conv_b, rate_a, rate_b, lift, z).
   * `units` = one row per experimental unit; `converted` a boolean
   * Column over it. Arm B when frac ≥ `split` (default 50/50).
   */
  def abTest(units: DataFrame, idCol: String, converted: Column,
      salt: String, split: Double = 0.5): DataFrame = {
    val armed = units.select(col(idCol),
      when(frac(col(idCol), salt) < split, lit("A")).otherwise(lit("B")).as("arm"),
      when(converted, 1L).otherwise(0L).as("c"))
    val agg = armed.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "A", col("c")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === "B", col("c")).otherwise(0L)).as("conv_b"))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val (ca, cb) = (col("conv_a").cast("double"), col("conv_b").cast("double"))
    // NULL on a zero denominator (an empty arm, or a pooled rate of 0 or
    // 1) — the SQL-engine answer; ANSI Spark would throw DIVIDE_BY_ZERO
    def div(num: Column, den: Column): Column = when(den =!= 0.0, num / den)
    val ra = div(ca, na)
    val rb = div(cb, nb)
    val p = div(ca + cb, na + nb)
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(ra, 6).as("rate_a"), round(rb, 6).as("rate_b"),
      round(rb - ra, 6).as("lift"),
      round(div(rb - ra,
        sqrt(p * (lit(1.0) - p) * (div(lit(1.0), na) + div(lit(1.0), nb)))), 6)
        .as("z"))
  }

  /**
   * Sample-ratio-mismatch check (SRM; Fabijan et al. 2019) — the first
   * diagnostic every experimentation platform runs before reading an
   * effect: do the OBSERVED arm counts match the DECLARED allocation
   * weights? A mismatch means broken assignment/logging and invalidates
   * the whole readout. χ² goodness-of-fit against the declared ratios:
   * with observed Oᵢ, total n, weight wᵢ out of W,
   *
   *   term_i = (Oᵢ − n·wᵢ/W)²/(n·wᵢ/W) = (Oᵢ·W − n·wᵢ)² / (W·n·wᵢ)
   *
   * — the cleared form is ONE divide of exact DECIMAL(38,0) integers per
   * arm, 12dp-rounded, DECIMAL-summed (the Σ doctrine); df = k−1. The
   * p-value is deliberately unpublished (χ² CDF is not engine-portable;
   * the statistic is).
   *
   * Assignment is the [[abTest]] salted-md5 52-bit fraction, but the arm
   * cut compares EXACT integers (hash·W < cum·2⁵²) so no float boundary
   * dust can flip a unit between engines (bound: W ≤ 1024 keeps the
   * product under 2⁶³). One aggregation over the unit relation; k ≤ 64
   * arms by contract. Output: one row per arm (arm, weight, n_obs,
   * expected, term, chi2, df), chi2/df repeated for self-containment.
   */
  def srmCheck(units: DataFrame, idCol: String, salt: String,
      weights: Seq[(String, Long)]): DataFrame = {
    require(weights.size >= 2 && weights.size <= 64, "srmCheck: 2..64 arms")
    require(weights.forall(_._2 > 0), "srmCheck: weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "srmCheck: duplicate arm names")
    val w = weights.map(_._2).sum
    require(w <= 1024L, s"srmCheck: total weight $w > 1024 — the exact " +
      "hash*W cut would overflow 2^63")
    val two52 = 4503599627370496L // 2^52, the 13-hex md5 fraction denominator
    val h = graft.functions.GraftFunctions.md5Frac52(
      concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val cums = weights.scanLeft(0L)(_ + _._2).tail
    val arm = weights.zip(cums).foldRight(lit(weights.last._1)) {
      case (((name, _), cum), rest) =>
        when(h * w < lit(cum) * lit(two52), lit(name)).otherwise(rest)
    }
    val counts = units.select(arm.as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n_obs"))
    val spark = units.sparkSession
    import spark.implicits._
    val declared = weights.toDF("arm", "weight")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val per = declared.join(counts, Seq("arm"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
    val tot = per.agg(sum(col("n_obs")).as("__n"))
    val dev = d(col("n_obs")) * lit(w) - d(col("__n")) * d(col("weight"))
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("expected", round(
        (d(col("__n")) * d(col("weight"))).cast("double")
          / lit(w.toDouble), 6))
      // degenerate empty relation: terms (and χ²) publish NULL, not NaN
      .withColumn("__term", when(col("__n") > 0, round((dev * dev).cast("double")
        / (lit(w) * d(col("__n")) * d(col("weight"))).cast("double"), 12)))
    val chi2 = scored.agg(
      round(sum(col("__term").cast("decimal(38,12)")).cast("double"), 6)
        .as("chi2"))
    scored.crossJoin(broadcast(chi2))
      .select(col("arm"), col("weight"), col("n_obs"), col("expected"),
        col("__term").as("term"), col("chi2"),
        lit(weights.size - 1).as("df"))
      .orderBy(col("arm"))
  }

  /**
   * Direct standardization of two groups' conversion rates (the
   * epidemiology-standard adjusted comparison; Simpson's-paradox
   * armor for product metrics): both groups' per-stratum rates are
   * re-weighted by the POOLED stratum mix w_s = n_s/N, so a group
   * can't look better merely by over-indexing on an easy stratum.
   *
   *   std_g = ( Σ_s round(n_s·c_gs/n_gs, 6) ) / N
   *
   * — each per-stratum term is the group's EXPECTED conversions under
   * the pooled mix (one divide of exact counts, 6dp on the count
   * scale), DECIMAL-summed (the Σ doctrine), with ONE final divide by
   * the on-support pooled N; raw rates publish beside the standardized
   * ones so the paradox is visible when it happens. Strata missing a
   * group are EXCLUDED from both sums and counted (the strataMatchAtt
   * off-support discipline). One (stratum, group) aggregation; k
   * strata rows.
   *
   * Output: one row (group_a, group_b, n_a, n_b, raw_a, raw_b, std_a,
   * std_b, raw_diff, std_diff, n_strata, n_off_support) — diffs
   * compose from the published 6dp rates.
   */
  def standardizedRates(units: DataFrame, strataCol: Column,
      groupCol: Column, converted: Column): DataFrame = {
    val s = units.select(strataCol.cast("string").as("s"),
        groupCol.cast("string").as("g"),
        when(converted, 1L).otherwise(0L).as("y"))
      .where(col("s").isNotNull && col("g").isNotNull)
    val gs = s.select(col("g")).distinct().orderBy(col("g")).collect()
      .map(_.getString(0))
    require(gs.length == 2,
      s"standardizedRates needs exactly two groups, got ${gs.toSeq}")
    val cells = s.groupBy(col("s"), col("g"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("c"))
    val a = cells.where(col("g") === gs(0))
      .select(col("s"), col("n").as("na"), col("c").as("ca"))
    val b = cells.where(col("g") === gs(1))
      .select(col("s"), col("n").as("nb"), col("c").as("cb"))
    val onSupport = a.join(b, "s")
      .withColumn("ns", col("na") + col("nb"))
    val off = a.join(b, Seq("s"), "full_outer")
      .where(col("na").isNull || col("nb").isNull).count()
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agg = onSupport.agg(
      count(lit(1)).as("n_strata"),
      sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
      sum(col("ca")).as("__csa"), sum(col("cb")).as("__csb"),
      sum(col("ns")).as("__nn"),
      sum(round((d(col("ns")) * d(col("ca"))).cast("double")
        / d(col("na")).cast("double"), 6).cast("decimal(38,6)")).as("__wa"),
      sum(round((d(col("ns")) * d(col("cb"))).cast("double")
        / d(col("nb")).cast("double"), 6).cast("decimal(38,6)")).as("__wb"))
    agg.select(lit(gs(0)).as("group_a"), lit(gs(1)).as("group_b"),
        col("n_a"), col("n_b"),
        round(col("__csa").cast("double") / col("n_a").cast("double"), 6)
          .as("raw_a"),
        round(col("__csb").cast("double") / col("n_b").cast("double"), 6)
          .as("raw_b"),
        round(col("__wa").cast("double") / col("__nn").cast("double"), 6)
          .as("std_a"),
        round(col("__wb").cast("double") / col("__nn").cast("double"), 6)
          .as("std_b"),
        col("n_strata"), lit(off).as("n_off_support"))
      .withColumn("raw_diff", round(col("raw_b") - col("raw_a"), 6))
      .withColumn("std_diff", round(col("std_b") - col("std_a"), 6))
  }

  /**
   * A/A calibration harness — the null-distribution check every
   * experimentation platform runs BEFORE trusting its A/B readouts:
   * K independent null splits (distinct salts) of the SAME units with
   * the SAME conversion metric must produce z-scores that look
   * standard-normal. A |z| parade above 1.96 in far more than 5% of
   * salts means broken assignment, unit mixing, or variance
   * mis-estimation — and every real experiment on that stack is
   * suspect. Each salt is one [[abTest]] aggregation pass (K ≤ 16 by
   * contract, the featureRank bounded-loop pattern); the summary
   * columns compose from the PUBLISHED per-salt z values.
   *
   * Output: one row per salt (salt, n_a, n_b, conv_a, conv_b, z,
   * max_abs_z, n_over_196), salt-ordered.
   */
  def aaCalibration(units: DataFrame, idCol: String, converted: Column,
      salts: Seq[String]): DataFrame = {
    require(salts.nonEmpty && salts.size <= 16, "1..16 salts")
    require(salts.distinct.size == salts.size, "duplicate salts")
    val per = salts.sorted.map { s =>
      abTest(units, idCol, converted, salt = s)
        .select(lit(s).as("salt"), col("n_a"), col("n_b"),
          col("conv_a"), col("conv_b"), col("z"))
    }.reduce(_.unionByName(_))
    val summary = per.agg(max(abs(col("z"))).as("max_abs_z"),
      sum(when(abs(col("z")) > 1.96, 1L).otherwise(0L)).as("n_over_196"))
    per.crossJoin(broadcast(summary)).orderBy(col("salt"))
  }

  /**
   * Paired sign test — the assumption-free "did values go UP for more
   * units than down" read over paired numeric measurements (the
   * continuous-pair sibling of [[mcnemar]]'s binary table): S⁺ counts
   * pairs with after > before, S⁻ the reverse, ties are EXCLUDED (the
   * standard convention), z = (S⁺ − S⁻)/√(S⁺ + S⁻). No normality, no
   * variance model — the test survives arbitrary per-unit scales,
   * which is exactly why it's the first paired check on skewed
   * engagement metrics. One map-combined count aggregation; the z is
   * one sqrt + one divide of exact counts.
   *
   * Output: one row (n_pairs, n_pos, n_neg, n_tie, z) — z NULL when
   * every pair ties.
   */
  def signTest(pairs: DataFrame, beforeCol: Column,
      afterCol: Column): DataFrame = {
    val s = pairs.select(beforeCol.as("__b"), afterCol.as("__a"))
      .where(col("__b").isNotNull && col("__a").isNotNull)
    s.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__a") > col("__b"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__a") < col("__b"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("n_tie"))
      .withColumn("z", when(col("n_pos") + col("n_neg") > 0, round(
        (col("n_pos") - col("n_neg")).cast("double")
          / sqrt((col("n_pos") + col("n_neg")).cast("double")), 6)))
  }

  /**
   * Difference-in-differences readout (Card & Krueger 1994 canonical
   * form) — the quasi-experimental estimator for when there IS no
   * randomized arm: compare the treated group's pre→post change against
   * the control group's, so any shared time shock cancels and what
   * remains is the treatment effect (under the parallel-trends
   * assumption, which the caller owns). The four cell means are each
   * ONE double divide of exact integer unit-sums (6dp); the effect
   * COMPOSES FROM THE PUBLISHED means (the pacf3 doctrine) so any
   * engine replays it from the output alone:
   *
   *   did = (m_treat_post − m_treat_pre) − (m_ctrl_post − m_ctrl_pre)
   *
   * One map-combined aggregation over the unit relation; no windows.
   * Output: one row (n_tp, n_t0, n_cp, n_c0, m_treat_post, m_treat_pre,
   * m_ctrl_post, m_ctrl_pre, did); an EMPTY cell (no rows) makes its
   * mean — and the effect — NULL, loudly visible rather than silently 0.
   */
  def diffInDiff(units: DataFrame, treatedCol: Column, postCol: Column,
      unitsCol: Column): DataFrame = {
    val s = units.select(treatedCol.as("tr"), postCol.as("po"),
      unitsCol.cast("long").as("y"))
    def cell(t: Boolean, p: Boolean, agg: Column): Column =
      sum(when(col("tr") === t && col("po") === p, agg).otherwise(lit(0L)))
    val m = s.agg(
      cell(true, true, lit(1L)).as("n_tp"), cell(true, false, lit(1L)).as("n_t0"),
      cell(false, true, lit(1L)).as("n_cp"), cell(false, false, lit(1L)).as("n_c0"),
      cell(true, true, col("y")).as("s_tp"), cell(true, false, col("y")).as("s_t0"),
      cell(false, true, col("y")).as("s_cp"), cell(false, false, col("y")).as("s_c0"))
    def mean(sc: String, nc: String): Column =
      when(col(nc) > 0,
        round(col(sc).cast("double") / col(nc).cast("double"), 6))
    m.select(col("n_tp"), col("n_t0"), col("n_cp"), col("n_c0"),
        mean("s_tp", "n_tp").as("m_treat_post"),
        mean("s_t0", "n_t0").as("m_treat_pre"),
        mean("s_cp", "n_cp").as("m_ctrl_post"),
        mean("s_c0", "n_c0").as("m_ctrl_pre"))
      .withColumn("did", round(col("m_treat_post") - col("m_treat_pre")
        - (col("m_ctrl_post") - col("m_ctrl_pre")), 6))
  }

  /**
   * Stratified exact-matching treatment effect (the blocking estimator,
   * Cochran 1968): within every stratum that contains BOTH treated and
   * control units, take the treated−control mean difference, then
   * average the differences weighted by each stratum's TREATED count —
   * the ATT under exact matching on the stratum key, the estimator to
   * reach for when treatment correlates with an observable (the raw
   * diff-of-means confound [[diffInDiff]] can't fix without a time
   * axis). Per-stratum means are ONE double divide each (6dp); the ATT
   * numerator Σ n_t·(m_t − m_c) accumulates the PUBLISHED 6dp
   * differences as exact DECIMAL(38,6) — composable-from-published, no
   * float sum order anywhere — and takes one final divide by the
   * matched treated count. Off-support strata (one side empty) are
   * EXCLUDED and counted, never silently imputed.
   *
   * One grouped aggregation over the unit relation, |strata| rows.
   * Output: one row (n_strata, n_strata_used, n_treated_used,
   * n_control_used, att); no matched stratum → NULL att.
   */
  def strataMatchAtt(units: DataFrame, strataCol: Column,
      treatedCol: Column, unitsCol: Column): DataFrame = {
    val s = units.select(strataCol.cast("string").as("g"),
        treatedCol.as("tr"), unitsCol.cast("long").as("y"))
      .where(col("g").isNotNull)
    val per = s.groupBy(col("g")).agg(
      sum(when(col("tr"), 1L).otherwise(0L)).as("nt"),
      sum(when(col("tr"), 0L).otherwise(1L)).as("nc"),
      sum(when(col("tr"), col("y")).otherwise(0L)).as("st"),
      sum(when(col("tr"), 0L).otherwise(col("y"))).as("sc"))
    val used = per.withColumn("__used",
      (col("nt") > 0 && col("nc") > 0).cast("int"))
    val diff = round(col("st").cast("double") / col("nt").cast("double"), 6)
      .minus(round(col("sc").cast("double") / col("nc").cast("double"), 6))
    used.agg(
        count(lit(1)).as("n_strata"),
        sum(col("__used")).as("n_strata_used"),
        sum(when(col("__used") === 1, col("nt")).otherwise(0L))
          .as("n_treated_used"),
        sum(when(col("__used") === 1, col("nc")).otherwise(0L))
          .as("n_control_used"),
        sum(when(col("__used") === 1,
          (col("nt").cast("decimal(38,6)")
            * round(diff, 6).cast("decimal(24,6)")).cast("decimal(38,6)"))
          .otherwise(lit(0).cast("decimal(38,6)"))).as("__num"))
      .select(col("n_strata"), col("n_strata_used"), col("n_treated_used"),
        col("n_control_used"),
        when(col("n_treated_used") > 0, round(
          col("__num").cast("double") / col("n_treated_used").cast("double"),
          6)).as("att"))
  }

  /** The four SPRT constants as 12dp-rounded doubles — exposed so an
    * oracle can interpolate the IDENTICAL literals: (c1 = ln(p1/p0),
    * c0 = ln((1−p1)/(1−p0)), A = ln((1−β)/α), B = ln(β/(1−α))). */
  def sprtConstants(p0: Double, p1: Double, alpha: Double,
      beta: Double): (Double, Double, Double, Double) = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0/p1 in (0,1), distinct: $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta in (0,1): $alpha, $beta")
    def r12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    (r12(math.log(p1 / p0)), r12(math.log((1 - p1) / (1 - p0))),
      r12(math.log((1 - beta) / alpha)), r12(math.log(beta / (1 - alpha))))
  }

  /**
   * Wald's Sequential Probability Ratio Test (Wald 1945) over a
   * CALENDAR-BUCKETED Bernoulli stream — "how early could this A/B/
   * drift question have been answered": at each bucket the cumulative
   * log-likelihood ratio for H1: p=p1 vs H0: p=p0,
   *
   *   LLR_t = s_t·ln(p1/p0) + (n_t − s_t)·ln((1−p1)/(1−p0))
   *
   * is compared against Wald's bounds A = ln((1−β)/α), B = ln(β/(1−α));
   * the FIRST bucket crossing either decides. The four ln constants are
   * 12dp-rounded literals ([[sprtConstants]] — interpolate them into
   * any replaying engine); s_t/n_t are exact cumulative integers, so
   * LLR is one two-term double expression, reproducible when spelled
   * identically. Published at the decision: the 6dp LLR.
   *
   * Shape: cumulative counts from ONE ordered window over the bucketed
   * relation — calendar-bounded by the loud `maxBuckets` contract (the
   * holtBacktest doctrine); the decision row is a TakeOrdered(1).
   * No crossing by the last bucket publishes decision='continue' with
   * the final state.
   *
   * Output: one row (decision, t, n, s, llr).
   */
  def sprt(bucketed: DataFrame, tCol: String, nCol: Column, sCol: Column,
      p0: Double, p1: Double, alpha: Double = 0.05, beta: Double = 0.05,
      maxBuckets: Long = 200000L): DataFrame = {
    val (c1, c0, ubound, lbound) = sprtConstants(p0, p1, alpha, beta)
    val base = bucketed.select(col(tCol).cast("long").as("t"),
      nCol.cast("long").as("__n"), sCol.cast("long").as("__s"))
    val nb = base.count()
    require(nb >= 1, "sprt: empty input")
    require(nb <= maxBuckets,
      s"sprt: $nb buckets > maxBuckets=$maxBuckets — input must be a " +
        "calendar-bounded bucketed series (resample/aggregate first)")
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("n", sum(col("__n")).over(w))
      .withColumn("s", sum(col("__s")).over(w))
      .withColumn("llr", col("s").cast("double") * lit(c1)
        + (col("n") - col("s")).cast("double") * lit(c0))
    val first = cum.where(col("llr") >= ubound || col("llr") <= lbound)
      .orderBy(col("t")).limit(1)
      .select(when(col("llr") >= ubound, lit("accept_h1"))
        .otherwise(lit("accept_h0")).as("decision"),
        col("t"), col("n"), col("s"), round(col("llr"), 6).as("llr"))
      .withColumn("__p", lit(0))
    val last = cum.orderBy(col("t").desc).limit(1)
      .select(lit("continue").as("decision"), col("t"), col("n"), col("s"),
        round(col("llr"), 6).as("llr"))
      .withColumn("__p", lit(1))
    first.unionByName(last).orderBy(col("__p")).limit(1).drop("__p")
  }

  /**
   * EXACT ROC-AUC — the ranking eval that completes the shelf
   * ([[classifierEval]] judges the hard decision, [[calibration]] the
   * score's meaning, this the score's ORDERING): AUC = P(score⁺ >
   * score⁻) + ½·P(tie), which is exactly the normalized Mann–Whitney U,
   * so it reuses [[DistDrift.rankSums]]' half-unit distinct-value rank
   * identity — exact longs until the ONE final divide, no subject×
   * subject join, the windowed relation bounded by score cardinality
   * (scores are 6dp-quantized to integer micro-units, so ≤ 10⁶ + 1
   * distinct values no matter the corpus). Degenerate single-class
   * input publishes NULL.
   *
   * Output: one row (n_pos, n_neg, auc 6dp).
   */
  def rocAuc(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val subj = df.where(scoreCol.isNotNull && labelCol.isNotNull)
      .select(when(labelCol, "pos").otherwise("neg").as("g"),
        (scoreCol.cast("decimal(18,6)") * 1000000).cast("long").as("v"))
    val (sums, _) = DistDrift.rankSums(subj)
    val byG = sums.map(t => t._1 -> t).toMap
    val (nPos, r2xPos) = byG.get("pos").map(t => (t._2, t._3)).getOrElse((0L, 0L))
    val nNeg = byG.get("neg").map(_._2).getOrElse(0L)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nPos, nNeg)).toDF("n_pos", "n_neg")
      .withColumn("auc",
        when(lit(nPos) > 0 && lit(nNeg) > 0, round(
          (lit(r2xPos).cast("double") / 2.0
            - lit(nPos).cast("double") * (lit(nPos).cast("double") + 1.0) / 2.0)
            / (lit(nPos).cast("double") * lit(nNeg).cast("double")), 6)))
  }

  /**
   * Average precision (the PR-AUC summary) — the imbalanced-data
   * companion of [[rocAuc]]: with 0.1% positives, AUC 0.99 can still
   * mean drowning in false positives, and precision-recall is the curve
   * that shows it. Standard distinct-threshold form (one threshold per
   * distinct score, descending — sklearn's convention):
   *
   *   AP = Σ_v ΔR(v)·P(v),  ΔR(v) = pos(v)/n_pos,
   *   P(v) = tp_{≥v} / pred_{≥v}
   *
   * The ≥-cumulative counts come from [[DistDrift.withPrefixSums]]'
   * DISTRIBUTED below-sums over the distinct-score relation (≥ = total
   * − below; scores 6dp-micro-unit quantized, so ≤ 10⁶+1 distinct
   * values) — no per-row ranking, no single-task window. Terms are
   * exact rationals, 12dp-rounded and decimal-summed (Σ doctrine), one
   * 6dp publish. No positives → NULL.
   *
   * Output: one row (n_pos, n_neg, avg_precision).
   */
  def averagePrecision(df: DataFrame, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val subj = df.where(scoreCol.isNotNull && labelCol.isNotNull)
      .select((scoreCol.cast("decimal(18,6)") * 1000000).cast("long").as("v"),
        when(labelCol, 1L).otherwise(0L).as("y"))
    val perValue = subj.groupBy(col("v"))
      .agg(sum(col("y")).as("cp"), count(lit(1)).as("ct"))
    val totals = subj.agg(sum(col("y")).as("np"), count(lit(1)).as("n")).head()
    val (nPos, n) = (totals.getLong(0), totals.getLong(1))
    val spark = df.sparkSession
    import spark.implicits._
    if (nPos == 0) {
      Seq((0L, n)).toDF("n_pos", "n_neg")
        .withColumn("avg_precision", lit(null).cast("double"))
    } else {
      val cum = DistDrift.withPrefixSums(perValue, Seq("cp", "ct"))
        .select(col("v"), col("cp"),
          (lit(nPos) - col("cp_below")).as("tp_ge"),
          (lit(n) - col("ct_below")).as("pred_ge"))
      val ap = cum.where(col("cp") > 0)
        .select(round(col("cp").cast("double") / lit(nPos.toDouble)
          * (col("tp_ge").cast("double") / col("pred_ge").cast("double")), 12)
          .cast("decimal(24,12)").as("__t"))
        .agg(round(sum(col("__t")).cast("double"), 6).as("avg_precision"))
      Seq((nPos, n - nPos)).toDF("n_pos", "n_neg").crossJoin(broadcast(ap))
    }
  }

  /**
   * DeLong's test for TWO CORRELATED AUCs (DeLong, DeLong &
   * Clarke-Pearson 1988) — the comparison [[rocAuc]] alone cannot make:
   * two detectors scored on the SAME items share sampling noise, so the
   * naive independent-variance z overstates significance exactly when
   * the comparison matters (correlated scores). Structural components:
   * per positive i, V10(i) = P̂(score_i > score⁻) with half-credit ties;
   * per negative j, V01(j) symmetric. AUC = mean(V10); var/cov from the
   * component sample (co)variances: var = s10/n1 + s01/n0,
   * z = (AUC_A − AUC_B)/√(var_A + var_B − 2·cov).
   *
   * Exactness + shape: components in DOUBLED integer units (a_i =
   * 2·neg_below + neg_tied ∈ [0, 2n0] — exact longs), derived from ONE
   * distinct-score prefix-sum relation per score ([[DistDrift
   * .withPrefixSums]]' distributed below-sums; scores 6dp-micro-unit
   * quantized, so ≤ 10⁶+1 distinct values regardless of corpus) joined
   * back broadcast — no pos×neg join anywhere. All moment sums are
   * exact DECIMAL(38,0); the final statistics are ONE double expression
   * of those sums, 6dp. Degenerate classes (n⁺ < 2 or n⁻ < 2) publish
   * NULL se/z.
   *
   * Output: one row (n_pos, n_neg, auc_a, auc_b, auc_diff, se_diff, z).
   */
  def delongAucCompare(df: DataFrame, labelCol: Column, scoreA: Column,
      scoreB: Column): DataFrame = {
    val base = df
      .where(labelCol.isNotNull && scoreA.isNotNull && scoreB.isNotNull)
      .select(when(labelCol, 1L).otherwise(0L).as("y"),
        (scoreA.cast("decimal(18,6)") * 1000000).cast("long").as("va"),
        (scoreB.cast("decimal(18,6)") * 1000000).cast("long").as("vb"))
      // |score| ≥ 1e12 overflows the 6dp quantizer to NULL; such rows
      // must leave the POPULATION too (not just the lookup joins), or
      // n_pos/n_neg would count items that contribute no placements and
      // skew both AUC denominators. Excluded-as-unscorable, same
      // contract as a NULL score (oracle mirrors via TRY_CAST + filter).
      .where(col("va").isNotNull && col("vb").isNotNull)
      .cache()
    val t = base.agg(coalesce(sum(col("y")), lit(0L)), count(lit(1))).head()
    val (np, n) = (t.getLong(0), t.getLong(1))
    val nn = n - np
    // per distinct score value: positives/negatives AT v and strictly
    // BELOW v → the doubled placement of any item with that value
    def lk(vcol: String, pa: String, na: String): DataFrame = {
      val pv = base.groupBy(col(vcol).as("v"))
        .agg(sum(col("y")).as("cp"), (count(lit(1)) - sum(col("y"))).as("cn"))
      DistDrift.withPrefixSums(pv, Seq("cp", "cn"))
        .select(col("v").as(vcol),
          (lit(2L) * col("cn_below") + col("cn")).as(pa),
          (lit(2L) * (lit(np) - col("cp_below") - col("cp")) + col("cp")).as(na))
    }
    val items = base
      .join(broadcast(lk("va", "pa", "nja")), "va")
      .join(broadcast(lk("vb", "pb", "njb")), "vb")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def posSum(c: Column): Column =
      sum(when(col("y") === 1L, dec(c)).otherwise(lit(0).cast("decimal(38,0)")))
    def negSum(c: Column): Column =
      sum(when(col("y") === 0L, dec(c)).otherwise(lit(0).cast("decimal(38,0)")))
    val m = items.agg(
      posSum(col("pa")).as("sa"), posSum(col("pb")).as("sb"),
      posSum(dec(col("pa")) * dec(col("pa"))).as("saa"),
      posSum(dec(col("pb")) * dec(col("pb"))).as("sbb"),
      posSum(dec(col("pa")) * dec(col("pb"))).as("sab"),
      negSum(col("nja")).as("ta"), negSum(col("njb")).as("tb"),
      negSum(dec(col("nja")) * dec(col("nja"))).as("taa"),
      negSum(dec(col("njb")) * dec(col("njb"))).as("tbb"),
      negSum(dec(col("nja")) * dec(col("njb"))).as("tab"))
    base.unpersist(false)
    // one double expression over exact sums — mirrored verbatim in the
    // oracle (identical IEEE structure → identical doubles)
    val npd = lit(np.toDouble); val nnd = lit(nn.toDouble)
    def f(c: String): Column = col(c).cast("double")
    val aucA = f("sa") / (lit(2.0) * nnd * npd)
    val aucB = f("sb") / (lit(2.0) * nnd * npd)
    val d10 = (npd - 1.0) * (lit(2.0) * nnd) * (lit(2.0) * nnd)
    val d01 = (nnd - 1.0) * (lit(2.0) * npd) * (lit(2.0) * npd)
    val s10aa = (f("saa") - f("sa") * f("sa") / npd) / d10
    val s10bb = (f("sbb") - f("sb") * f("sb") / npd) / d10
    val s10ab = (f("sab") - f("sa") * f("sb") / npd) / d10
    val s01aa = (f("taa") - f("ta") * f("ta") / nnd) / d01
    val s01bb = (f("tbb") - f("tb") * f("tb") / nnd) / d01
    val s01ab = (f("tab") - f("ta") * f("tb") / nnd) / d01
    val vd = (s10aa / npd + s01aa / nnd) + (s10bb / npd + s01bb / nnd) -
      lit(2.0) * (s10ab / npd + s01ab / nnd)
    val ok = np >= 1 && nn >= 1
    val okVar = np >= 2 && nn >= 2
    m.select(lit(np).as("n_pos"), lit(nn).as("n_neg"),
      (if (ok) round(aucA, 6) else lit(null).cast("double")).as("auc_a"),
      (if (ok) round(aucB, 6) else lit(null).cast("double")).as("auc_b"),
      (if (ok) round(aucA - aucB, 6) else lit(null).cast("double")).as("auc_diff"),
      (if (okVar) when(vd > 0.0, round(sqrt(vd), 6)) else lit(null).cast("double")).as("se_diff"),
      (if (okVar) when(vd > 0.0, round((aucA - aucB) / sqrt(vd), 6))
       else lit(null).cast("double")).as("z"))
  }

  /**
   * Logistic calibration intercept + slope (Cox 1958 recalibration;
   * the parametric form behind Platt scaling) — the NUMBER [[
   * calibration]]'s curve only draws: fit logit P(y=1) = a + b·logit(s)
   * by Newton-Raphson; (a, b) = (0, 1) is perfect calibration, b < 1
   * means the score is overconfident in both tails, a ≠ 0 means the
   * base rate drifted from the score's — and (a, b) ARE the recalibration
   * map to apply downstream, which no binned curve gives you.
   *
   * Determinism (the q380/q385 doctrine): the fit runs over the
   * per-DISTINCT-score relation (6dp micro-unit quantized, so ≤ 10⁶+1
   * rows regardless of corpus; counts exact longs); the covariate
   * logit(s) (scores clamped to [1e-6, 1−1e-6]) and each iteration's
   * fitted p round 9dp — ulp-proof grids for the two transcendentals —
   * every gradient/Hessian moment is a DECIMAL sum of 6dp-rounded
   * terms, and (a, b) re-round 9dp per step; the 2×2 Newton solve is
   * one closed-form expression mirrored in the oracle. Shape: one
   * groupBy + `iters` map-combined aggregations. A degenerate Hessian
   * (single class, constant score) publishes NULL estimates.
   *
   * Output: one row (n, n_pos, intercept, slope) — 6dp.
   */
  def calibrationSlope(df: DataFrame, scoreCol: Column, labelCol: Column,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters in [1,20]: $iters")
    val pv = df.where(scoreCol.isNotNull && labelCol.isNotNull)
      .select((scoreCol.cast("decimal(18,6)") * 1000000).cast("long").as("v"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("k"))
      .localCheckpoint(true) // bounded distinct scores; read iters times
    val t = pv.agg(coalesce(sum(col("c")), lit(0L)),
      coalesce(sum(col("k")), lit(0L))).head()
    val (n, nPos) = (t.getLong(0), t.getLong(1))
    val spark = df.sparkSession
    import spark.implicits._
    def nullRow: DataFrame = Seq((n, nPos)).toDF("n", "n_pos")
      .withColumn("intercept", lit(null).cast("double"))
      .withColumn("slope", lit(null).cast("double"))
    if (n < 2 || nPos == 0 || nPos == n) { nullRow }
    else {
      def r9(x: Double): Double =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val sd = least(greatest(col("v").cast("double") / lit(1000000.0),
        lit(1e-6)), lit(0.999999))
      val li = round(log(sd / (lit(1.0) - sd)), 9)
      var (a, b) = (0.0, 0.0)
      var degenerate = false
      var it = 0
      while (it < iters && !degenerate) {
        val eta = lit(a) + lit(b) * li
        val rp = round(lit(1.0) / (lit(1.0) + exp(lit(0.0) - eta)), 9)
        val cd = col("c").cast("double"); val kd = col("k").cast("double")
        val w = cd * rp * (lit(1.0) - rp)
        val agg = pv.agg(
          sum(round(kd - cd * rp, 6).cast("decimal(38,6)")),
          sum(round((kd - cd * rp) * li, 6).cast("decimal(38,6)")),
          sum(round(w, 6).cast("decimal(38,6)")),
          sum(round(w * li, 6).cast("decimal(38,6)")),
          sum(round(w * li * li, 6).cast("decimal(38,6)"))).head()
        val (g0, g1) = (agg.getDecimal(0).doubleValue, agg.getDecimal(1).doubleValue)
        val (h00, h01, h11) = (agg.getDecimal(2).doubleValue,
          agg.getDecimal(3).doubleValue, agg.getDecimal(4).doubleValue)
        val det = h00 * h11 - h01 * h01
        if (det <= 0.0) degenerate = true
        else {
          a = r9(a + (h11 * g0 - h01 * g1) / det)
          b = r9(b + (h00 * g1 - h01 * g0) / det)
        }
        it += 1
      }
      if (degenerate) nullRow
      else Seq((n, nPos, r6(a), r6(b)))
        .toDF("n", "n_pos", "intercept", "slope")
    }
  }

  /**
   * Calibration curve + expected calibration error — the eval
   * [[classifierEval]] is not: accuracy says how often the model is
   * right, calibration says whether its SCORES mean what they claim
   * (a 0.8 bucket should convert 80% of the time); a miscalibrated
   * quality filter silently shifts a corpus mix. Scores clamp into
   * `nBins` declared equi-width bins over [0,1] (the PSI discipline);
   * per bin: count, mean score (confidence), observed positive rate;
   * ECE = Σ (n_b/n)·|obs_b − conf_b| over the published 6dp values
   * (compose-from-published doctrine — terms are decimal-summed so
   * group order cannot flip the rounding). Scores sum as
   * DECIMAL(38,6) — an exact sum of 6dp-quantized scores, order-free.
   * One bin-keyed map-combined aggregation; empty bins publish no row
   * (their ECE weight is zero).
   *
   * Output: per bin (bin, n, confidence, observed, gap) + (ece, n_total)
   * replicated.
   */
  def calibration(df: DataFrame, scoreCol: Column, labelCol: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "nBins >= 2")
    val s = scoreCol.cast("double")
    val binned = df.where(s.isNotNull && labelCol.isNotNull)
      .select(
        least(greatest(floor(s * nBins), lit(0.0)), lit((nBins - 1).toDouble))
          .cast("long").as("bin"),
        s.cast("decimal(38,6)").as("__s"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
    val perBin = binned.groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        sum(col("__s")).as("__ss"),
        sum(col("__y")).as("__pos"))
      .select(col("bin"), col("n"),
        round(col("__ss").cast("double") / col("n").cast("double"), 6)
          .as("confidence"),
        round(col("__pos").cast("double") / col("n").cast("double"), 6)
          .as("observed"))
      .withColumn("gap", round(abs(col("observed") - col("confidence")), 6))
    // ECE from the PUBLISHED per-bin values: weight gap by n_b/n with
    // 12dp-rounded decimal-summed terms (the Σ doctrine)
    val n = binned.count()
    val ece = perBin.select(
        round(col("n").cast("double") / lit(n.toDouble) * col("gap"), 12)
          .cast("decimal(24,12)").as("__t"))
      .agg(round(sum(col("__t")).cast("double"), 6).as("ece"))
    perBin.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("confidence"), col("observed"),
        col("gap"), col("ece"), lit(n).as("n_total"))
      .orderBy("bin")
  }

  /**
   * CUPED variance reduction (Deng–Xu–Kohavi–Walker, WSDM 2013) — the
   * industry-standard sharpened experiment readout: a PRE-period
   * covariate X that predicts the metric Y absorbs unit-level variance
   * without biasing the contrast (randomization makes E[X] arm-free):
   *
   *   θ = cov(X,Y)/var(X)  pooled across arms,  Y′ᵢ = Yᵢ − θ·(Xᵢ − X̄)
   *
   * so each arm's adjusted mean is mean_y − θ·(mean_x_arm − mean_x),
   * and ρ² = corr(X,Y)² is the fraction of metric variance removed —
   * the sample-size multiplier the method buys. Moments are EXACT
   * decimal sums (the welchT doctrine); θ and ρ² are published 6dp and
   * the adjusted means COMPOSE FROM THE PUBLISHED θ (the engine's
   * pure-function doctrine, as F1 does from published precision/
   * recall). Units without pre-period activity enter with X = 0 — the
   * standard "own stratum" choice; zero covariate variance → NULL θ
   * and unadjusted means published as adjusted. ONE unit-keyed
   * aggregation; the readout math runs on a 2-row relation.
   *
   * Output per arm: (arm, n, mean_y, mean_y_adj, theta, rho2) — means
   * in Y's units, 6dp.
   */
  def cuped(units: DataFrame, armCol: Column, xCol: Column,
      yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val u = units.select(armCol.cast("string").as("arm"),
      coalesce(xCol.cast("long"), lit(0L)).as("x"),
      coalesce(yCol.cast("long"), lit(0L)).as("y"))
    val pooled = u.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).as("sxx"),
      sum((col("y").cast(dec) * col("y").cast(dec)).cast(dec)).as("syy"),
      sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).as("sxy"))
    val perArm = u.groupBy(col("arm")).agg(
      count(lit(1)).as("n_arm"),
      sum(col("x").cast(dec)).as("sx_arm"), sum(col("y").cast(dec)).as("sy_arm"))
    val nD = col("n").cast(dec)
    val numXY = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val dX = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val dY = (nD * col("syy") - col("sy") * col("sy")).cast("double")
    val theta = when(dX > 0, round(numXY / dX, 6))
    val rho2 = when(dX > 0 && dY > 0, round(numXY * numXY / (dX * dY), 6))
    val meanY = col("sy_arm").cast("double") / col("n_arm").cast("double")
    val meanXArm = col("sx_arm").cast("double") / col("n_arm").cast("double")
    val meanX = col("sx").cast("double") / col("n").cast("double")
    perArm.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_arm").as("n"),
        round(meanY, 6).as("mean_y"),
        // composes from the PUBLISHED 6dp theta — replayable anywhere
        round(meanY - coalesce(theta, lit(0.0)) * (meanXArm - meanX), 6)
          .as("mean_y_adj"),
        theta.as("theta"), rho2.as("rho2"))
      .orderBy("arm")
  }

  /**
   * Multi-class classifier evaluation against a labeled column: per-class
   * support/predicted/true-positive counts, precision, recall, F1, plus
   * micro accuracy (repeated per row — it is a corpus constant). Classes
   * are the union of observed labels and predictions (full outer join of
   * the two class-keyed count relations), so a class the model never
   * predicts — or hallucinates — still gets its row.
   *
   * Shape: two class-keyed aggregations over one (label, pred) pass —
   * map-side combined, |classes| rows survive. Rates are pure rounded
   * functions of exact counts; F1 composes from the PUBLISHED (rounded)
   * precision/recall, the engine's pure-function doctrine. Division by a
   * zero class count publishes NULL, not a poisoned 0.
   *
   * Output: (cls, n_true, n_pred, tp, precision, recall, f1, accuracy)
   * — the standard eval a langid/quality-filter pipeline is judged by.
   */
  def classifierEval(df: DataFrame, labelCol: Column,
      predCol: Column): DataFrame = {
    val pairs = df.select(labelCol.cast("string").as("__l"),
      predCol.cast("string").as("__p")).cache()
    val byTrue = pairs.groupBy(col("__l").as("cls"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__p") === col("__l"), 1L).otherwise(0L)).as("tp"))
    val byPred = pairs.groupBy(col("__p").as("cls"))
      .agg(count(lit(1)).as("n_pred"))
    val totals = pairs.agg(count(lit(1)).as("__n"),
      sum(when(col("__p") === col("__l"), 1L).otherwise(0L)).as("__tpall"))
    val joined = byTrue.join(byPred, Seq("cls"), "full_outer")
      .na.fill(0L, Seq("n_true", "n_pred", "tp"))
      .crossJoin(broadcast(totals))
    val p = when(col("n_pred") > 0,
      round(col("tp").cast("double") / col("n_pred").cast("double"), 6))
    val r = when(col("n_true") > 0,
      round(col("tp").cast("double") / col("n_true").cast("double"), 6))
    joined
      .withColumn("precision", p).withColumn("recall", r)
      .withColumn("f1", when(
        col("precision").isNotNull && col("recall").isNotNull &&
          (col("precision") + col("recall")) > 0,
        round(lit(2.0) * col("precision") * col("recall")
          / (col("precision") + col("recall")), 6)))
      .withColumn("accuracy",
        round(col("__tpall").cast("double") / col("__n").cast("double"), 6))
      .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
        col("precision"), col("recall"), col("f1"), col("accuracy"))
  }

  /**
   * Cohen's kappa — chance-corrected agreement between two categorical
   * raters, the number accuracy alone overstates when the base rates are
   * skewed (two raters that both say "keep" 95% of the time agree 90%+
   * by luck). One contingency pass; the whole statistic is an exact
   * integer rational: with diag = Σ agreeing counts, sp = Σ_k rt_k·ct_k
   * (marginal products over the union of categories),
   * κ = (po−pe)/(1−pe) = (n·diag − sp)/(n² − sp) — products kept in
   * DECIMAL(38,0) so n up to ~1e18 cannot overflow, doubles enter only
   * in the three published ratios. Output: one row
   * (n, n_cat_a, n_cat_b, po, pe, kappa), 6dp.
   */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = df.select(raterA.cast("string").as("a"), raterB.cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o")).cache()
    val rowTot = cells.groupBy(col("a").as("k")).agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("b").as("k")).agg(sum(col("o")).as("ct"))
    val totals = cells.agg(sum(col("o")).as("n"),
      sum(when(col("a") === col("b"), col("o")).otherwise(0L)).as("diag"))
    val margins = rowTot.join(colTot, Seq("k"), "full_outer")
      .agg(sum(coalesce(col("rt"), lit(0L)).cast("decimal(38,0)")
          * coalesce(col("ct"), lit(0L)).cast("decimal(38,0)")).as("sp"),
        sum(when(col("rt").isNotNull, 1L).otherwise(0L)).as("n_cat_a"),
        sum(when(col("ct").isNotNull, 1L).otherwise(0L)).as("n_cat_b"))
    val nD = col("n").cast("decimal(38,0)")
    totals.crossJoin(broadcast(margins))
      .select(col("n"), col("n_cat_a"), col("n_cat_b"),
        round(col("diag").cast("double") / col("n").cast("double"), 6).as("po"),
        round(col("sp").cast("double")
          / (col("n").cast("double") * col("n").cast("double")), 6).as("pe"),
        round((nD * col("diag").cast("decimal(38,0)") - col("sp")).cast("double")
          / (nD * nD - col("sp")).cast("double"), 6).as("kappa"))
  }

  /**
   * Split conformal prediction interval (Vovk et al.; Lei et al. 2018) —
   * the distribution-free "how wrong is this model, with guarantees"
   * readout: on a held-out calibration set the k-th smallest absolute
   * residual with k = ⌈(n_cal+1)·(1−α)⌉ gives q_hat such that
   * P(|y−ŷ| ≤ q_hat) ≥ 1−α on exchangeable data — no normality, no
   * variance estimate, any model. α is the RATIONAL αNum/αDen so k is
   * pure integer arithmetic; residuals are exact longs in the caller's
   * units; q_hat is found by distinct-value prefix sums (smallest
   * residual value whose cumulative count reaches k — bounded by
   * residual cardinality, no global sort); the eval pass then publishes
   * EMPIRICAL coverage at q_hat. One double divide (coverage), 6dp.
   * Output: one row (n_cal, k, q_hat, n_eval, n_covered, coverage).
   */
  def conformalInterval(cal: DataFrame, eval: DataFrame,
      predCol: Column, actualCol: Column,
      alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 1 && alphaNum < alphaDen,
      "alpha num/den must be in (0,1)")
    def scores(df: DataFrame) = df
      .select(abs(actualCol.cast("long") - predCol.cast("long")).as("v"))
      .where(col("v").isNotNull)
    val calS = scores(cal)
    val perValue = calS.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    // n_cal rides the prefix pass's bucket totals — no separate count job
    val info = DistDrift.withPrefixSumsInfo(perValue, Seq("cnt"))
    val nCal = info.totals("cnt")
    require(nCal >= 1, "calibration set must be non-empty")
    // k = ceil((n+1)(den-num)/den), exact integers
    val k = ((nCal + 1) * (alphaDen - alphaNum) + alphaDen - 1) / alphaDen
    val qRow = info.df
      .where(col("cnt_below") + col("cnt") >= k)
      .agg(min(col("v"))).head()
    // k > n_cal (tiny calibration sets) => infinite interval: publish NULL
    val qHat: Option[Long] = if (qRow.isNullAt(0)) None else Some(qRow.getLong(0))
    val spark = cal.sparkSession
    import spark.implicits._
    val ev = scores(eval).agg(count(lit(1)).as("n_eval"),
      qHat.map(q => sum(when(col("v") <= q, 1L).otherwise(0L)))
        .getOrElse(lit(null).cast("long")).as("n_covered")).head()
    Seq((nCal, k, qHat, ev.getLong(0),
        if (ev.isNullAt(1)) None else Some(ev.getLong(1))))
      .toDF("n_cal", "k", "q_hat", "n_eval", "n_covered")
      .withColumn("coverage", when(col("n_covered").isNotNull && col("n_eval") > 0,
        round(col("n_covered").cast("double") / col("n_eval").cast("double"), 6)))
  }

  /** Cumulative Poisson(1) CDF thresholds, 12dp literals — FROZEN: both
    * engines compare the same hash fraction against the same constants,
    * so weight assignment is exact whatever a math library thinks
    * exp(-1) is. Tail capped at w=7 (P ≈ 8·10⁻⁵ beyond). */
  private[operators] val PoissonCdf12: Seq[Double] = Seq(
    0.367879441171, 0.735758882343, 0.919698602929, 0.981011843124,
    0.996340153173, 0.999405815182, 0.999916758851)

  /**
   * Deterministic Poisson bootstrap CI for a mean (the distributed
   * bootstrap — Chamandy et al. 2012, "Estimating Uncertainty for
   * Massive Data Streams"): resampling n rows WITH replacement needs
   * global coordination, but each row's multiplicity in a replica is
   * asymptotically Poisson(1), so replica b gives every row weight
   * w = F⁻¹_Poisson(u(id, b)) from a salted 52-bit md5 fraction — one
   * pass, B map-side-combined aggregations, zero driver state beyond
   * the B replica rows, and bit-reproducible (the [[PoissonCdf12]]
   * frozen thresholds). CI bounds are ORDER STATISTICS of the B
   * 6dp-rounded replica means at ranks kLo/kHi (B=32 defaults 2 and 31
   * ≈ a 94% interval) — rank selection on rounded values cannot
   * tie-diverge. Output: one row (n, b_reps, mean, ci_lo, ci_hi).
   */
  def bootstrapMeanCI(df: DataFrame, idCol: Column, unitsCol: Column,
      bReps: Int = 32, kLo: Int = 2, kHi: Int = 31,
      salt: String = "boot"): DataFrame = {
    require(bReps >= 4 && bReps <= 256, "bReps in [4,256]")
    require(kLo >= 1 && kHi <= bReps && kLo < kHi, "1 <= kLo < kHi <= bReps")
    val base = df.select(idCol.cast("string").as("id"),
        unitsCol.cast("long").as("x"))
      .where(col("x").isNotNull)
    val u = graft.functions.GraftFunctions.md5Frac52(concat(lit(salt),
        lit(":"), col("id"), lit(":"), col("b").cast("string"))) /
      lit(DistinctSketch.HashDenom)
    val w = PoissonCdf12.zipWithIndex.foldRight(lit(7L)) {
      case ((c, i), rest) => when(col("__u") < c, lit(i.toLong)).otherwise(rest)
    }
    val reps = base
      .select(col("id"), col("x"), explode(expr(s"sequence(0, ${bReps - 1})")).as("b"))
      .withColumn("__u", u)
      .withColumn("__w", w)
      .groupBy(col("b"))
      .agg(sum(col("__w")).as("sw"), sum(col("__w") * col("x")).as("swx"))
      .select(col("b"),
        when(col("sw") > 0, round(col("swx").cast("double")
          / col("sw").cast("double"), 6)).as("mean_b"))
      .collect() // bounded: exactly bReps rows
    val means = reps.map(r =>
      if (r.isNullAt(1)) Double.NaN else r.getDouble(1)).sorted
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx")).head()
    val n = tot.getLong(0)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, bReps,
        if (n > 0) Some(BigDecimal(tot.getLong(1).toDouble / n.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None,
        Some(means(kLo - 1)).filterNot(_.isNaN),
        Some(means(kHi - 1)).filterNot(_.isNaN)))
      .toDF("n", "b_reps", "mean", "ci_lo", "ci_hi")
  }

  /**
   * Murphy (1973) decomposition of the Brier score — REL − RES + UNC:
   * how much of a score's squared error is mis-calibration (REL, the
   * fixable part), how much is discrimination it DOES have (RES, the
   * part you'd lose by recalibrating to the base rate), and how much is
   * irreducible outcome variance (UNC). The row-level Brier is EXACT:
   * scores arrive 6dp-quantized (the [[calibration]] contract) so
   * (s−y)² is an exact DECIMAL(38,12) per row, summed exactly, ONE
   * divide. The decomposition uses the same clamped equi-width bins as
   * [[calibration]]; REL/RES terms n_k·gap² compose from the PUBLISHED
   * 6dp per-bin means (12dp-rounded, decimal-summed — the Σ doctrine),
   * and `brier_binned` recomposes from the published 6dp REL/RES/UNC so
   * any engine replays it from the output alone. Output: one row
   * (n, n_pos, brier, o_bar, unc, rel, res, brier_binned), 6dp.
   */
  def brierDecomposition(df: DataFrame, scoreCol: Column, labelCol: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, "nBins in [2,1000]")
    val s = df.select(scoreCol.cast("decimal(38,6)").as("s"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .where(col("s").isNotNull)
      .withColumn("bin", least(greatest(floor(col("s").cast("double")
        * nBins), lit(0.0)), lit((nBins - 1).toDouble)).cast("long"))
    val perBin = s.groupBy(col("bin")).agg(count(lit(1)).as("n"),
      sum(col("s")).as("ss"),
      sum(col("y")).as("sy"),
      sum(((col("s") - col("y")).cast("decimal(19,6)")
        * (col("s") - col("y")).cast("decimal(19,6)"))
        .cast("decimal(38,12)")).as("se"))
    val tot = perBin.agg(sum(col("n")).as("n"), sum(col("sy")).as("n_pos"),
      sum(col("se")).as("se_all")).head()
    val n = tot.getLong(0)
    require(n > 0, "brierDecomposition needs at least one scored row")
    val nPos = tot.getLong(1)
    val oBar = BigDecimal(nPos.toDouble / n.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val conf = round(col("ss").cast("double") / col("n").cast("double"), 6)
    val obs = round(col("sy").cast("double") / col("n").cast("double"), 6)
    val terms = perBin.select(col("n"),
      round(col("n").cast("double") * (conf - obs) * (conf - obs), 12)
        .cast("decimal(38,12)").as("__rel"),
      round(col("n").cast("double") * (obs - lit(oBar)) * (obs - lit(oBar)), 12)
        .cast("decimal(38,12)").as("__res"))
    val agg = terms.agg(
      round(sum(col("__rel")).cast("double") / lit(n.toDouble), 6).as("rel"),
      round(sum(col("__res")).cast("double") / lit(n.toDouble), 6).as("res"))
    val unc = BigDecimal(oBar * (1.0 - oBar))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    agg.select(lit(n).as("n"), lit(nPos).as("n_pos"),
      round(lit(tot.getDecimal(2)).cast("double") / lit(n.toDouble), 6).as("brier"),
      lit(oBar).as("o_bar"), lit(unc).as("unc"), col("rel"), col("res"),
      round(col("rel") - col("res") + lit(unc), 6).as("brier_binned"))
  }

  /**
   * Cumulative gains / lift table — "if I can only act on the top X% by
   * score, what share of the positives do I capture": rows rank into
   * `nTiles` equal-population tiles by score DESCENDING via the
   * distinct-value prefix-sum discipline (NO full-relation window — a
   * tied score block lands wholly in the tile of its first row), then
   * per-tile positives cumulate. capture = cum_pos/P and
   * lift = (cum_pos·n)/(cum_n·P) are exact integer rationals, ONE double
   * divide each (6dp). The per-tile cumulation window runs over ≤ nTiles
   * rows — bounded by construction. Output: nTiles rows
   * (tile, n, pos, cum_n, cum_pos, capture, lift).
   */
  def gainsTable(df: DataFrame, scoreCol: Column, labelCol: Column,
      nTiles: Int = 10): DataFrame = {
    require(nTiles >= 2 && nTiles <= 1000, "nTiles in [2,1000]")
    val perValue = df.select((-scoreCol.cast("double")).as("v"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val tot = perValue.agg(sum(col("cnt")), sum(col("pos"))).head()
    require(!tot.isNullAt(0) && tot.getLong(0) > 0, "gainsTable needs scored rows")
    val n = tot.getLong(0)
    val p = tot.getLong(1)
    val tiles = DistDrift.withPrefixSums(perValue, Seq("cnt"))
      .withColumn("tile", least(expr(s"(cnt_below * $nTiles) div ${n}L"),
        lit((nTiles - 1).toLong)))
      .groupBy(col("tile"))
      .agg(sum(col("cnt")).as("n"), sum(col("pos")).as("pos"))
    val w = Window.orderBy(col("tile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ≤ nTiles rows — the unpartitioned window is bounded by construction
    tiles
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .select(col("tile"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
        when(lit(p) > 0, round(col("cum_pos").cast("double") / lit(p.toDouble), 6))
          .as("capture"),
        when(lit(p) > 0 && col("cum_n") > 0,
          round((col("cum_pos").cast("decimal(38,0)") * lit(n)).cast("double")
            / (col("cum_n").cast("decimal(38,0)") * lit(p)).cast("double"), 6))
          .as("lift"))
      .orderBy("tile")
  }

  /**
   * Operating-point selection over every distinct threshold — predict
   * positive when score ≥ t, pick t twice: by Youden's J (max
   * TPR − FPR, the balanced choice) and by minimum expected cost
   * (fp·costFp + fn·costFn, the business choice). Confusion counts at
   * every candidate come from the distinct-value prefix sums (tp = P −
   * pos_below, fp = N⁻ − neg_below); BOTH argmaxes compare exact longs
   * (J ∝ tp·N⁻ − fp·P cross-multiplied; cost is integer), ties break to
   * the SMALLEST threshold — so engines cannot diverge on float
   * comparison. Two bounded TakeOrdered(1) picks, no collect of the
   * candidate relation. Output: 2 rows
   * (criterion, threshold, tp, fp, fn, tn, j, cost).
   */
  def bestThreshold(df: DataFrame, scoreCol: Column, labelCol: Column,
      costFp: Long = 1L, costFn: Long = 1L): DataFrame = {
    require(costFp >= 0 && costFn >= 0 && costFp + costFn > 0,
      "costs must be non-negative and not both zero")
    val perValue = df.select(scoreCol.cast("double").as("v"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val tot = perValue.agg(sum(col("cnt")), sum(col("pos"))).head()
    require(!tot.isNullAt(0) && tot.getLong(0) > 0, "bestThreshold needs scored rows")
    val p = tot.getLong(1)
    val negT = tot.getLong(0) - p
    require(p > 0 && negT > 0, "bestThreshold needs both classes present")
    val cand = DistDrift.withPrefixSums(perValue.withColumn("neg",
        col("cnt") - col("pos")), Seq("pos", "neg"))
      .select(col("v"),
        (lit(p) - col("pos_below")).as("tp"),
        (lit(negT) - col("neg_below")).as("fp"),
        col("pos_below").as("fn"), col("neg_below").as("tn"))
      .withColumn("__j", col("tp") * lit(negT) - col("fp") * lit(p))
      .withColumn("__cost", col("fp") * lit(costFp) + col("fn") * lit(costFn))
    def pick(tag: String, ord: Seq[Column]) = cand
      .orderBy(ord :+ col("v").asc: _*).limit(1)
      .select(lit(tag).as("criterion"), col("v").as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("__j").cast("double") / lit(p.toDouble * negT.toDouble), 6)
          .as("j"),
        col("__cost").as("cost"))
    pick("min_cost", Seq(col("__cost").asc))
      .unionAll(pick("youden_j", Seq(col("__j").desc)))
      .orderBy("criterion")
  }

  /**
   * McNemar's test — the PAIRED two-proportion readout [[abTest]] is
   * wrong for: when the same unit is measured before and after (did the
   * rollout change THIS user's behavior), the concordant pairs carry no
   * information and only the discordant counts b (off→on) and c (on→off)
   * matter: χ² = (b−c)²/(b+c), continuity-corrected
   * χ²cc = (|b−c|−1)²/(b+c) (floored at 0 when |b−c| ≤ 1). Both are
   * exact integer rationals — ONE double divide each (6dp). One
   * map-combined aggregation over the per-unit pair relation; no joins,
   * no windows. b+c = 0 (no discordant pairs) publishes NULL χ² loudly
   * rather than a fake 0. Output: one row
   * (n, n00, n01, n10, n11, chi2, chi2_cc).
   */
  def mcnemar(pairs: DataFrame, beforeCol: Column, afterCol: Column): DataFrame = {
    val s = pairs.select(beforeCol.as("bf"), afterCol.as("af"))
      .where(col("bf").isNotNull && col("af").isNotNull)
    def cell(b: Boolean, a: Boolean): Column =
      sum(when(col("bf") === b && col("af") === a, 1L).otherwise(0L))
    val m = s.agg(count(lit(1)).as("n"),
      cell(false, false).as("n00"), cell(false, true).as("n01"),
      cell(true, false).as("n10"), cell(true, true).as("n11"))
    val b = col("n01").cast("decimal(38,0)")
    val c = col("n10").cast("decimal(38,0)")
    val disc = col("n01") + col("n10")
    val dAbs = abs(col("n01") - col("n10")).cast("decimal(38,0)")
    val ccNum = greatest(dAbs - 1, lit(0).cast("decimal(38,0)"))
    m.select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
      when(disc > 0, round(((b - c) * (b - c)).cast("double")
        / disc.cast("double"), 6)).as("chi2"),
      when(disc > 0, round((ccNum * ccNum).cast("double")
        / disc.cast("double"), 6)).as("chi2_cc"))
  }

  /**
   * Cochran–Mantel–Haenszel pooled odds ratio + test — "is exposure
   * associated with outcome CONTROLLING for the stratum", the estimator
   * that defuses Simpson's paradox where the pooled 2×2 lies. Per
   * stratum k with cells (a=exp∧out, b=exp∧¬out, c=¬exp∧out, d) and
   * n = a+b+c+d: OR_MH = Σ(a·d/n) / Σ(b·c/n); the MH χ² (1 df,
   * continuity-corrected) uses E = r1·c1/n and
   * V = r1·r0·c1·c0/(n²·(n−1)). The per-stratum terms are each ONE
   * double expression 12dp-rounded and DECIMAL-summed (the Σ doctrine);
   * Σa is exact integers. Strata with n < 2 (V undefined) are EXCLUDED
   * and counted, never silently imputed. Output: one row (n_strata,
   * n_used, sum_a, sum_e, or_mh, chi2_mh), 6dp; no usable stratum or a
   * zero denominator publishes NULL loudly.
   */
  def mantelHaenszel(units: DataFrame, strataCol: Column,
      exposedCol: Column, outcomeCol: Column): DataFrame = {
    val s = units.select(strataCol.cast("string").as("g"),
        exposedCol.as("ex"), outcomeCol.as("ou"))
      .where(col("g").isNotNull && col("ex").isNotNull && col("ou").isNotNull)
    def cell(e: Boolean, o: Boolean): Column =
      sum(when(col("ex") === e && col("ou") === o, 1L).otherwise(0L))
    val per = s.groupBy(col("g")).agg(
      cell(true, true).as("a"), cell(true, false).as("b"),
      cell(false, true).as("c"), cell(false, false).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val r1 = (col("a") + col("b")).cast("double")
    val r0 = (col("c") + col("d")).cast("double")
    val c1 = (col("a") + col("c")).cast("double")
    val c0 = (col("b") + col("d")).cast("double")
    val used = (col("a") + col("b") + col("c") + col("d")) >= 2
    val terms = per.select(
      when(used, lit(1L)).otherwise(0L).as("__u"),
      when(used, col("a")).otherwise(0L).as("__a"),
      when(used, round(col("a").cast("double") * col("d").cast("double") / n, 12))
        .otherwise(0.0).cast("decimal(38,12)").as("__adn"),
      when(used, round(col("b").cast("double") * col("c").cast("double") / n, 12))
        .otherwise(0.0).cast("decimal(38,12)").as("__bcn"),
      when(used, round(r1 * c1 / n, 12))
        .otherwise(0.0).cast("decimal(38,12)").as("__e"),
      when(used, round(r1 * r0 * c1 * c0 / (n * n * (n - lit(1.0))), 12))
        .otherwise(0.0).cast("decimal(38,12)").as("__v"))
    val agg = terms.agg(count(lit(1)).as("n_strata"), sum(col("__u")).as("n_used"),
      sum(col("__a")).as("sum_a"), sum(col("__adn")).as("s_ad"),
      sum(col("__bcn")).as("s_bc"), sum(col("__e")).as("s_e"),
      sum(col("__v")).as("s_v"))
    val num = abs(col("sum_a").cast("double") - col("s_e").cast("double")) - lit(0.5)
    agg.select(col("n_strata"), col("n_used"), col("sum_a"),
      round(col("s_e").cast("double"), 6).as("sum_e"),
      when(col("s_bc") > 0, round(col("s_ad").cast("double")
        / col("s_bc").cast("double"), 6)).as("or_mh"),
      when(col("s_v") > 0, round(greatest(num, lit(0.0)) * greatest(num, lit(0.0))
        / col("s_v").cast("double"), 6)).as("chi2_mh"))
  }

  /**
   * Breslow–Day homogeneity test with Tarone's correction — the
   * question [[mantelHaenszel]] ASSUMES away: MH pools one odds ratio
   * across strata; Breslow–Day (1980) asks whether a single OR is even
   * the right model, or the association flips/shifts by stratum
   * (effect modification — pooling would then average away a real
   * interaction). Per stratum, the expected exposed-case count ã under
   * the pooled ψ_MH solves the quadratic (1−ψ)ã² + [(n0−m1) +
   * ψ(n1+m1)]ã − ψ·n1·m1 = 0 (the root inside [max(0,m1−n0),
   * min(n1,m1)]; the ψ=1 degenerate is the linear n1·m1/N), with
   * Var(ã) = 1/(1/ã+1/b̃+1/c̃+1/d̃); BD = Σ(a−ã)²/Var, and Tarone
   * subtracts (Σ(a−ã))²/ΣVar — the correction that makes the statistic
   * asymptotically χ²(strata−1) when ψ̂ is MH rather than conditional
   * MLE.
   *
   * Exactness: cells are exact longs from ONE aggregation; ψ_MH is the
   * [[mantelHaenszel]] 12dp-decimal-summed ratio (one bounded head());
   * each stratum's ã/Var/terms are one double expression of exact
   * integers + that scalar, mirrored verbatim in the oracle; the three
   * cross-stratum sums ride 12dp-decimal terms (order-free). Strata
   * with a zero margin carry no information about ψ and are skipped
   * (counted in n_strata − n_used). Shape: one groupBy over the fact
   * table, a strata-sized rollup, nothing quadratic.
   *
   * Output: one row (n_strata, n_used, or_mh, bd, bd_tarone, df) —
   * NULL statistics when ψ is undefined (s_ad or s_bc zero) or fewer
   * than 2 usable strata.
   */
  def breslowDay(units: DataFrame, strataCol: Column,
      exposedCol: Column, outcomeCol: Column): DataFrame = {
    val s = units.select(strataCol.cast("string").as("g"),
        exposedCol.as("ex"), outcomeCol.as("ou"))
      .where(col("g").isNotNull && col("ex").isNotNull && col("ou").isNotNull)
    def cell(e: Boolean, o: Boolean): Column =
      sum(when(col("ex") === e && col("ou") === o, 1L).otherwise(0L))
    val per = s.groupBy(col("g")).agg(
      cell(true, true).as("a"), cell(true, false).as("b"),
      cell(false, true).as("c"), cell(false, false).as("d"))
      .localCheckpoint(true) // read twice: psi pass + term pass
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    // pass 1: the pooled psi_MH (the q294 12dp-decimal-summed ratio)
    val used = (col("a") + col("b") + col("c") + col("d")) >= 2
    val psiAgg = per.select(
      when(used, round(col("a").cast("double") * col("d").cast("double") / n, 12))
        .otherwise(0.0).cast("decimal(38,12)").as("__adn"),
      when(used, round(col("b").cast("double") * col("c").cast("double") / n, 12))
        .otherwise(0.0).cast("decimal(38,12)").as("__bcn"))
      .agg(sum(col("__adn")).as("s_ad"), sum(col("__bcn")).as("s_bc")).head()
    val sAd = Option(psiAgg.getDecimal(0)).map(_.doubleValue).getOrElse(0.0)
    val sBc = Option(psiAgg.getDecimal(1)).map(_.doubleValue).getOrElse(0.0)
    val spark = units.sparkSession
    import spark.implicits._
    val nStrata = per.count()
    if (sAd <= 0.0 || sBc <= 0.0) {
      per.unpersist(false)
      Seq((nStrata, 0L)).toDF("n_strata", "n_used")
        .withColumn("or_mh", lit(null).cast("double"))
        .withColumn("bd", lit(null).cast("double"))
        .withColumn("bd_tarone", lit(null).cast("double"))
        .withColumn("df", lit(null).cast("long"))
    } else {
      val psi = sAd / sBc
      // pass 2: per-stratum fitted cell + variance under psi — one
      // double expression of exact integers and the psi scalar
      val n1 = (col("a") + col("b")).cast("double")
      val n0 = (col("c") + col("d")).cast("double")
      val m1 = (col("a") + col("c")).cast("double")
      val m0 = (col("b") + col("d")).cast("double")
      val usable = (col("a") + col("b")) > 0 && (col("c") + col("d")) > 0 &&
        (col("a") + col("c")) > 0 && (col("b") + col("d")) > 0
      val bA = lit(1.0) - lit(psi)
      val bB = (n0 - m1) + lit(psi) * (n1 + m1)
      val bC = lit(0.0) - lit(psi) * n1 * m1
      val disc = bB * bB - lit(4.0) * bA * bC
      val root = sqrt(when(disc > 0.0, disc).otherwise(lit(0.0)))
      // numerically stable root pair (Citardauq form): q absorbs the
      // large-magnitude half, so neither candidate subtracts two nearly
      // equal numbers — for psi near 1 (bA ~ 1e-9, routine under
      // near-homogeneity) the naive (-bB + rt)/(2·bA) loses most of its
      // precision to cancellation while q/bA and bC/q do not
      val qq = lit(0.0) - (bB + when(bB >= 0.0, root)
        .otherwise(lit(0.0) - root)) / lit(2.0)
      val r1 = qq / bA
      val r2 = bC / qq
      val lo = greatest(lit(0.0), m1 - n0)
      val hi = least(n1, m1)
      val linear = n1 * m1 / (n1 + n0)
      val aFit = when(abs(bA) < 1e-12, linear)
        .when(r1 >= lo - 1e-7 && r1 <= hi + 1e-7, r1)
        .otherwise(r2)
      // projection boundary: aFit is a LARGE tree (Citardauq root pair)
      // referenced by vFit four times and diff once — inlined, the
      // expression tree grows ~6x and CATALYST PLANNING dominated the
      // query (JobProfile: 2.1 s driver gap of a 2.9 s wall, jobs under
      // 0.8 s total). A non-cheap multi-use alias is kept as its own
      // Project, so every consumer reads the column.
      val withFit = per.withColumn("__afit", aFit)
      val af = col("__afit")
      val vFit = lit(1.0) / (lit(1.0) / af + lit(1.0) / (n1 - af)
        + lit(1.0) / (m1 - af) + lit(1.0) / (n0 - m1 + af))
      val diff = col("a").cast("double") - af
      val terms = withFit.select(
        when(usable, 1L).otherwise(0L).as("__u"),
        when(usable, round(diff * diff / vFit, 12)).otherwise(0.0)
          .cast("decimal(38,12)").as("__bd"),
        when(usable, round(diff, 12)).otherwise(0.0)
          .cast("decimal(38,12)").as("__df"),
        when(usable, round(vFit, 12)).otherwise(0.0)
          .cast("decimal(38,12)").as("__v"))
      val agg = terms.agg(sum(col("__u")).as("n_used"),
        sum(col("__bd")).as("s_bd"), sum(col("__df")).as("s_df"),
        sum(col("__v")).as("s_v")).localCheckpoint(true)
      per.unpersist(false)
      val bd = col("s_bd").cast("double")
      val corr = col("s_df").cast("double") * col("s_df").cast("double") /
        col("s_v").cast("double")
      agg.select(lit(nStrata).as("n_strata"), col("n_used"),
        round(lit(psi), 6).as("or_mh"),
        when(col("n_used") >= 2, round(bd, 6)).as("bd"),
        when(col("n_used") >= 2 && col("s_v") > 0, round(bd - corr, 6))
          .as("bd_tarone"),
        when(col("n_used") >= 2, col("n_used") - 1L).as("df"))
    }
  }

  /**
   * Cochran–Armitage trend test: does a binary outcome rate move
   * MONOTONICALLY across ordered dose levels (Cochran 1954, Armitage
   * 1955) — the χ² of independence can't see order, this z can. Levels
   * are the distinct integer values of `doseCol` with their natural
   * order as scores; statistic T = Σ tᵢ(rᵢ − nᵢ·p̄), Var(T) =
   * p̄(1−p̄)·(Σ tᵢ²nᵢ − (Σ tᵢnᵢ)²/N), z = T/√Var.
   *
   * Exactness: per-level (tᵢ, nᵢ, rᵢ) are exact longs from ONE
   * aggregation; every moment (Σtn, Σt²n, N, R) composes exactly in
   * DECIMAL(38,0); z is ONE double expression of those integers
   * (p̄ = R/N stays symbolic: T = Σtr − (Σtn)·R/N over a common
   * denominator) — engine-portable, 6dp. Shape: one groupBy over the
   * fact table, then a ≤|levels|-row rollup.
   *
   * Output: one row (n, n_levels, successes, z_ca); NULL z on a
   * degenerate margin (all success / all failure / one level).
   */
  def cochranArmitage(df: DataFrame, doseCol: Column,
      successCol: Column): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val lvl = df.select(doseCol.cast("long").as("t"),
        when(successCol, 1L).otherwise(0L).as("y"))
      .where(col("t").isNotNull)
      .groupBy(col("t")).agg(count(lit(1)).as("nn"), sum(col("y")).as("r"))
    val m = lvl.agg(count(lit(1)).as("n_levels"),
      sum(col("nn")).as("n"), sum(col("r")).as("successes"),
      sum(d(col("t")) * d(col("nn"))).as("__tn"),
      sum(d(col("t")) * d(col("t")) * d(col("nn"))).as("__t2n"),
      sum(d(col("t")) * d(col("r"))).as("__tr"))
    // N²·T = N·Σtr·N − Σtn·R·N  (kept over the common denominator so the
    // numerator is an exact decimal); Var·N³ likewise — z = T/√Var then
    // reduces to one double divide of two exact-decimal-rooted doubles
    val nD = col("n").cast("double"); val rD = col("successes").cast("double")
    val t = col("__tr").cast("double") - col("__tn").cast("double") * rD / nD
    val varT = (rD / nD) * (lit(1.0) - rD / nD) *
      (col("__t2n").cast("double")
        - col("__tn").cast("double") * col("__tn").cast("double") / nD)
    m.select(col("n"), col("n_levels"), col("successes"),
      when(col("n_levels") > 1 && col("successes") > 0
          && col("successes") < col("n"),
        round(t / sqrt(varT), 6)).as("z_ca"))
  }

  /**
   * Derandomized permutation test for a two-group mean difference: the
   * label-shuffle null made reproducible — replicate b reassigns every
   * unit to a pseudo-arm by its salted md5(id, b) fraction at the
   * OBSERVED assignment rate, the per-replicate mean difference replays
   * the null, and p = (1 + #{|T_b| ≥ |T_obs|}) / (B + 1) (the standard
   * add-one Monte-Carlo estimator, Phipson & Smyth 2010). Deterministic:
   * the md5 stream is a pure function of (salt, id, b), per-replicate
   * sums are exact longs, each T_b is ONE double expression of exact
   * integers — identical on any engine, so even the ≥ comparisons
   * replicate exactly.
   *
   * Shape at scale: ONE pass over rows × B replicas with map-side
   * combine into 2B partial sums (the bootstrapMeanCI discipline);
   * the collect is bounded at exactly B rows.
   *
   * Output: one row (n_a, n_b, mean_a, mean_b, diff_obs, b_reps, n_ge,
   * p_value).
   */
  def permutationTest(df: DataFrame, idCol: Column, armCol: Column,
      valueCol: Column, bReps: Int = 64,
      salt: String = "perm"): DataFrame = {
    require(bReps >= 8 && bReps <= 512, "bReps in [8,512]")
    val base = df.select(idCol.cast("string").as("id"),
        armCol.cast("string").as("arm"), valueCol.cast("long").as("x"))
      .where(col("x").isNotNull && col("arm").isNotNull).cache()
    val obs = base.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") =!= "A", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "A", col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") =!= "A", col("x")).otherwise(0L)).as("sx_b")).head()
    val (na, nb) = (obs.getLong(0), obs.getLong(1))
    require(na > 0 && nb > 0, "permutationTest: both arms must be non-empty")
    val meanA = obs.getLong(2).toDouble / na
    val meanB = obs.getLong(3).toDouble / nb
    val diffObs = meanA - meanB
    val rate = na.toDouble / (na + nb)
    val u = graft.functions.GraftFunctions.md5Frac52(concat(lit(salt),
        lit(":"), col("id"), lit(":"), col("b").cast("string"))) /
      lit(DistinctSketch.HashDenom)
    val reps = base
      .select(col("id"), col("x"), explode(expr(s"sequence(0, ${bReps - 1})")).as("b"))
      .withColumn("__a", (u < lit(rate)).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("__a")).as("ka"), count(lit(1)).as("k"),
        sum(col("__a") * col("x")).as("sa"), sum(col("x")).as("s"))
      .collect() // bounded: exactly bReps rows
    base.unpersist(false)
    val nGe = reps.count { r =>
      val (ka, k, sa, s) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val kb = k - ka
      // a replicate that degenerates to one arm can't produce a diff —
      // counted as extreme (conservative, and deterministic)
      kb == 0L || ka == 0L ||
        math.abs(sa.toDouble / ka - (s - sa).toDouble / kb) >= math.abs(diffObs)
    }
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((na, nb, r6(meanA), r6(meanB), r6(diffObs), bReps, nGe.toLong,
        r6((1.0 + nGe) / (bReps + 1.0))))
      .toDF("n_a", "n_b", "mean_a", "mean_b", "diff_obs", "b_reps", "n_ge", "p_value")
  }

  /**
   * [[permutationTest]] per GROUP in one pass — the metric-sweep shape
   * (one experiment read out over many segments/metrics at once, the
   * input [[bhAdjust]] controls). Same derandomized md5 relabeling, same
   * add-one Monte-Carlo p, but the replicate aggregation keys on
   * (group, b): ONE pass over rows × B with map-side combine into
   * groups × B partial sums, then driver arithmetic on that bounded
   * relation. Each group's p equals a standalone [[permutationTest]] on
   * that group's rows with the same salt — pinned by spec — because the
   * md5 stream is id-keyed, not group-keyed, and the observed assignment
   * rate is computed per group.
   *
   * Output: one row per group, ordered: (grp, n_a, n_b, mean_a, mean_b,
   * diff_obs, b_reps, n_ge, p_value).
   */
  def permutationTestBy(df: DataFrame, groupCol: Column, idCol: Column,
      armCol: Column, valueCol: Column, bReps: Int = 64,
      salt: String = "perm"): DataFrame = {
    require(bReps >= 8 && bReps <= 512, "bReps in [8,512]")
    val base = df.select(groupCol.cast("string").as("g"),
        idCol.cast("string").as("id"),
        armCol.cast("string").as("arm"), valueCol.cast("long").as("x"))
      .where(col("x").isNotNull && col("arm").isNotNull && col("g").isNotNull)
      .cache()
    val obs = base.groupBy(col("g")).agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") =!= "A", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "A", col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") =!= "A", col("x")).otherwise(0L)).as("sx_b"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    require(obs.size <= 64,
      s"permutationTestBy: ${obs.size} groups > 64 — the replicate " +
        "relation is groups × bReps; sweep in batches")
    obs.foreach { case (g, (na, nb, _, _)) =>
      require(na > 0 && nb > 0,
        s"permutationTestBy: group '$g' has an empty arm ($na/$nb)") }
    // per-group assignment rate rides a broadcast join so the md5-uniform
    // comparison stays one codegen expression per (row, b)
    val spark = df.sparkSession
    import spark.implicits._
    val rates = broadcast(obs.toSeq.map { case (g, (na, nb, _, _)) =>
      (g, na.toDouble / (na + nb)) }.toDF("g", "__rate"))
    val u = graft.functions.GraftFunctions.md5Frac52(concat(lit(salt),
        lit(":"), col("id"), lit(":"), col("b").cast("string"))) /
      lit(DistinctSketch.HashDenom)
    val reps = base
      .select(col("g"), col("id"), col("x"),
        explode(expr(s"sequence(0, ${bReps - 1})")).as("b"))
      .join(rates, "g")
      .withColumn("__a", (u < col("__rate")).cast("long"))
      .groupBy(col("g"), col("b"))
      .agg(sum(col("__a")).as("ka"), count(lit(1)).as("k"),
        sum(col("__a") * col("x")).as("sa"), sum(col("x")).as("s"))
      .collect() // bounded: groups × bReps rows
      .groupBy(_.getString(0))
    base.unpersist(false)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = obs.toSeq.sortBy(_._1).map { case (g, (na, nb, sxa, sxb)) =>
      val meanA = sxa.toDouble / na
      val meanB = sxb.toDouble / nb
      val diffObs = meanA - meanB
      val nGe = reps.getOrElse(g, Array.empty[org.apache.spark.sql.Row])
        .count { r =>
          val (ka, k, sa, s) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
          val kb = k - ka
          kb == 0L || ka == 0L ||
            math.abs(sa.toDouble / ka - (s - sa).toDouble / kb) >= math.abs(diffObs)
        }
      (g, na, nb, r6(meanA), r6(meanB), r6(diffObs), bReps, nGe.toLong,
        r6((1.0 + nGe) / (bReps + 1.0)))
    }
    rows.toDF("grp", "n_a", "n_b", "mean_a", "mean_b", "diff_obs",
      "b_reps", "n_ge", "p_value")
  }

  /**
   * Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg 1995)
   * over a table of (test, p) — the multiplicity correction a metric
   * sweep needs before anyone reads its smallest p. Step-up rule:
   * discoveries are ranks 1..k* for the LARGEST k with
   * p(k) ≤ k·α/m; adjusted q-values are the reverse running minimum of
   * p(i)·m/i (clamped to 1).
   *
   * Determinism: p is expected exact-rational-born (e.g.
   * [[permutationTest]]'s (1+n_ge)/(B+1)); ranks order by (p, test) — a
   * total order both engines share; every published double is one
   * arithmetic expression of (p, rank, m, α) with the association
   * spelled identically in the oracle. The relation is tests-sized —
   * windows run unpartitioned by design (≤ 64 rows by the sweep
   * contract upstream).
   *
   * Output: per test, ordered by rank: (test, p_value, rank, m,
   * bh_crit, q_value, discovery).
   */
  def bhAdjust(pv: DataFrame, testCol: Column, pCol: Column,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val base = pv.select(testCol.cast("string").as("test"),
        pCol.cast("double").as("p_value"))
      .where(col("test").isNotNull && col("p_value").isNotNull)
    val wAsc = Window.orderBy(col("p_value").asc, col("test").asc)
    val wAll = wAsc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wDesc = Window.orderBy(col("p_value").desc, col("test").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("rank", row_number().over(wAsc).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("bh_crit", round(col("rank").cast("double") * lit(alpha)
        / col("m").cast("double"), 6))
      .withColumn("__kstar", max(when(
        col("p_value") <= col("rank").cast("double") * lit(alpha)
          / col("m").cast("double"), col("rank"))).over(wAll))
      .withColumn("q_value", round(least(lit(1.0),
        min(col("p_value") * col("m").cast("double")
          / col("rank").cast("double")).over(wDesc)), 6))
      .withColumn("discovery",
        when(col("rank") <= coalesce(col("__kstar"), lit(0L)), 1).otherwise(0))
      .select(col("test"), col("p_value"), col("rank"), col("m"),
        col("bh_crit"), col("q_value"), col("discovery"))
      .orderBy(col("rank"))
  }

  /**
   * Cochran's Q (Cochran 1950) — do k binary raters/detectors/systems
   * fire at the SAME rate over the same items: the k-treatment
   * repeated-measures test for paired binary outcomes (McNemar's k-ary
   * generalization, and the binary companion of [[kendallW]]). The
   * question every detector-panel audit asks before trusting a
   * disagreement readout.
   *
   * Exact arithmetic: with T = Σy, per-treatment sums C_j and per-item
   * sums R_i (all exact longs),
   *   Q = (k−1)·Σ_j(k·C_j − T)² / (k·(k·T − ΣR_i²))
   * — numerator and denominator are exact integers (decimal-summed),
   * Q is ONE double division, 6dp. Degenerate panels (every item
   * unanimous → denominator 0) publish NULL. Completeness is enforced
   * the [[kendallW]] way: every (item, treatment) exactly once.
   *
   * Shape at scale: one (treatment) agg + one (item) agg over the long
   * relation — two map-combined passes, k-row and 1-row rollups.
   *
   * Output: one row (k, n_items, t_successes, q, df).
   */
  def cochranQ(df: DataFrame, itemCol: Column, treatmentCol: Column,
      outcomeCol: Column): DataFrame = {
    def dd(c: Column): Column = c.cast("decimal(38,0)")
    val r = df.select(itemCol.cast("string").as("it"),
        treatmentCol.cast("string").as("tr"),
        outcomeCol.cast("long").as("y"))
      .where(col("it").isNotNull && col("tr").isNotNull && col("y").isNotNull)
      .cache()
    require(r.where(col("y") =!= 0L && col("y") =!= 1L).isEmpty,
      "cochranQ: outcomes must be 0/1")
    val k = r.select(col("tr")).distinct().count()
    val n = r.select(col("it")).distinct().count()
    require(k >= 2, "cochranQ: need at least two treatments")
    require(n >= 1, "cochranQ: need at least one item")
    val cnt = r.count()
    val distinctPairs = r.select(col("it"), col("tr")).distinct().count()
    require(cnt == k * n && distinctPairs == cnt,
      s"cochranQ: $cnt rows over $distinctPairs distinct (item,treatment) " +
        s"pairs vs k×n = ${k * n} — outcomes must be complete AND unique")
    // Σ_j (k·C_j − T)² needs T first: T is one exact long from the same
    // cached relation; the treatment agg then folds the squared term
    val t = r.agg(sum(col("y"))).head().getLong(0)
    val num = r.groupBy(col("tr")).agg(sum(col("y")).as("c"))
      .agg(sum((dd(col("c")) * lit(k) - lit(t)) *
        (dd(col("c")) * lit(k) - lit(t))).as("s2"))
      .head().getDecimal(0)
    val sumR2 = r.groupBy(col("it")).agg(sum(col("y")).as("ri"))
      .agg(sum(dd(col("ri")) * dd(col("ri")))).head().getDecimal(0)
    r.unpersist(false)
    val denom = BigInt(k) * (BigInt(k) * BigInt(t) - BigInt(sumR2.toBigInteger))
    val q: java.lang.Double =
      if (denom == 0) null
      else {
        val raw = (BigInt(k - 1) * BigInt(num.toBigInteger)).toDouble / denom.toDouble
        BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((k, n, t, Option(q).map(_.toDouble), k - 1))
      .toDF("k", "n_items", "t_successes", "q", "df")
  }

  /**
   * Per-group Wilson score interval for a binary rate (Wilson 1927) —
   * the interval that behaves at small n and extreme p̂ where the Wald
   * ±z√(p̂q̂/n) collapses (the standard recommendation since Brown,
   * Cai & DasGupta 2001). z fixed at 196/100 (≈95%) so the arithmetic
   * is a pure function of exact counts: center = (p̂ + z²/2n)/(1+z²/n),
   * half = z·√(p̂q̂/n + z²/4n²)/(1+z²/n) — one double expression each,
   * 6dp. Shape: one groupBy, |groups| rows.
   *
   * Output per group: (grp, n, successes, rate, wilson_lo, wilson_hi),
   * ordered by grp.
   */
  def wilsonIntervals(df: DataFrame, groupCol: Column,
      successCol: Column): DataFrame = {
    val z = lit(1.96)
    val g = df.select(groupCol.cast("string").as("grp"),
        when(successCol, 1L).otherwise(0L).as("y"))
      .where(col("grp").isNotNull)
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("y")).as("successes"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2n = z * z / nD
    val denom = lit(1.0) + z2n
    val center = (p + z2n / 2) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / nD + z * z / (lit(4.0) * nD * nD)) / denom
    g.select(col("grp"), col("n"), col("successes"),
        round(p, 6).as("rate"),
        round(greatest(center - half, lit(0.0)), 6).as("wilson_lo"),
        round(least(center + half, lit(1.0)), 6).as("wilson_hi"))
      .orderBy("grp")
  }

  /**
   * Krippendorff's alpha, nominal metric (Krippendorff 1970) — the
   * inter-annotator agreement coefficient for LABELING PIPELINES that
   * [[cohenKappa]] can't be: any number of raters, missing ratings
   * (units keep whatever ratings they have; single-rating units carry
   * no pair information and drop out), chance-corrected by the pooled
   * value distribution. α = 1 − D_o/D_e over the coincidence matrix
   * o(c,c′) = Σ_u n_uc·(n_uc′ − δ_cc′)/(m_u − 1).
   *
   * Determinism: per-unit value counts are exact longs; each
   * coincidence term is one double expression 12dp-rounded and
   * DECIMAL-summed (the Σ doctrine); the expected-disagreement
   * products of the (already decimal) marginals round 12dp again;
   * α is one double expression of the sums, 6dp. Shape: one
   * (unit, value) count agg, a unit-keyed self-join bounded by
   * values-per-unit ≤ raters, then everything lives on the
   * |values|²-bounded coincidence relation.
   *
   * Output: one row (n_units, n_ratings, n_values, d_o, d_e, alpha);
   * α = 1 means perfect agreement, 0 chance-level, < 0 systematic
   * disagreement; NULL when D_e = 0 (every rating the same value).
   */
  def krippendorffAlpha(ratings: DataFrame, unitCol: Column,
      valueCol: Column): DataFrame = {
    val r = ratings.select(unitCol.cast("string").as("u"),
        valueCol.cast("string").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
    val uc = r.groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // referenced by m-join AND both pair sides
    val um = uc.groupBy(col("u")).agg(sum(col("c")).as("m"))
      .where(col("m") >= 2)
    val used = uc.join(um, "u")
    val pairs = used
      .select(col("u"), col("v").as("ca"), col("c").as("na"), col("m"))
      .join(used.select(col("u"), col("v").as("cb"), col("c").as("nb")), "u")
      .select(col("ca"), col("cb"),
        round((col("na") * (col("nb")
            - when(col("ca") === col("cb"), 1L).otherwise(0L))).cast("double")
          / (col("m") - 1).cast("double"), 12).cast("decimal(24,12)").as("t"))
      .groupBy(col("ca"), col("cb")).agg(sum(col("t")).as("o"))
      .localCheckpoint(true) // ≤ |values|² rows; feeds 3 rollups
    val nc = pairs.groupBy(col("ca")).agg(sum(col("o")).as("ncv"))
      .localCheckpoint(true)
    val totals = pairs.agg(sum(col("o")).as("__nn"),
      sum(when(col("ca") =!= col("cb"), col("o"))).as("__off"))
    val ePair = nc.select(col("ca").as("x"), col("ncv").as("nx"))
      .crossJoin(broadcast(nc.select(col("ca").as("y"), col("ncv").as("ny"))))
      .where(col("x") =!= col("y"))
      .agg(sum(round(col("nx").cast("double") * col("ny").cast("double"), 12)
        .cast("decimal(38,12)")).as("__se"))
    val meta = um.agg(count(lit(1)).as("n_units"), sum(col("m")).as("n_ratings"))
    val nVals = nc.agg(count(lit(1)).as("n_values"))
    val nnD = col("__nn").cast("double")
    val dO = coalesce(col("__off").cast("double"), lit(0.0)) / nnD
    val dE = coalesce(col("__se").cast("double"), lit(0.0)) /
      (nnD * (nnD - lit(1.0)))
    totals.crossJoin(broadcast(ePair)).crossJoin(broadcast(meta))
      .crossJoin(broadcast(nVals))
      .select(col("n_units"), col("n_ratings"), col("n_values"),
        round(dO, 6).as("d_o"), round(dE, 6).as("d_e"),
        when(dE > 0, round(lit(1.0) - dO / dE, 6)).as("alpha"))
  }

  /**
   * Qini / uplift curve (Radcliffe 2007): does the model's score find
   * the units the TREATMENT actually moves — per pooled-score tile,
   * cumulative incremental conversions uplift(k) = CumConvT(k) −
   * CumConvC(k)·CumN_T(k)/CumN_C(k). The treatment-aware sibling of
   * [[gainsTable]] (which can only rank by outcome, not by
   * incrementality); the last row is the whole-population estimated
   * incremental-conversion total.
   *
   * Tiling is the gainsTable discipline verbatim — POOLED
   * distinct-value prefix sums (both arms share one tiling, ties land
   * whole), exact per-(value, arm) counts; scores arrive quantized
   * (the [[calibration]] 6dp contract), so the distinct relation is
   * score-grid-bounded, not row-bounded, at any corpus size. The uplift term is one
   * double expression of exact cumulative longs, 6dp; a tile prefix
   * with an empty control arm publishes NULL (no scaling basis).
   * Output per tile: (tile, n_t, n_c, conv_t, conv_c, cum_n_t,
   * cum_n_c, cum_uplift).
   */
  def qiniTable(df: DataFrame, scoreCol: Column, treatedCol: Column,
      convertedCol: Column, nTiles: Int = 10): DataFrame = {
    require(nTiles >= 2 && nTiles <= 1000, "nTiles in [2,1000]")
    val perValue = df.select((-scoreCol.cast("double")).as("v"),
        when(treatedCol, 1L).otherwise(0L).as("t"),
        when(convertedCol, 1L).otherwise(0L).as("y"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"),
        sum(col("t")).as("nt"),
        sum(col("t") * col("y")).as("ct"),
        sum((lit(1L) - col("t")) * col("y")).as("cc"))
    val tot = perValue.agg(sum(col("cnt")), sum(col("nt"))).head()
    require(!tot.isNullAt(0) && tot.getLong(0) > 0, "qiniTable needs scored rows")
    val n = tot.getLong(0)
    require(tot.getLong(1) > 0 && tot.getLong(1) < n,
      "qiniTable needs both arms non-empty")
    val tiles = DistDrift.withPrefixSums(perValue, Seq("cnt"))
      .withColumn("tile", least(expr(s"(cnt_below * $nTiles) div ${n}L"),
        lit((nTiles - 1).toLong)))
      .groupBy(col("tile"))
      .agg(sum(col("nt")).as("n_t"), sum(col("cnt") - col("nt")).as("n_c"),
        sum(col("ct")).as("conv_t"), sum(col("cc")).as("conv_c"))
    val w = Window.orderBy(col("tile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ≤ nTiles rows — the unpartitioned window is bounded by construction
    tiles
      .withColumn("cum_n_t", sum(col("n_t")).over(w))
      .withColumn("cum_n_c", sum(col("n_c")).over(w))
      .withColumn("__cct", sum(col("conv_t")).over(w))
      .withColumn("__ccc", sum(col("conv_c")).over(w))
      .select(col("tile"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        col("cum_n_t"), col("cum_n_c"),
        when(col("cum_n_c") > 0, round(col("__cct").cast("double")
          - col("__ccc").cast("double") * col("cum_n_t").cast("double")
            / col("cum_n_c").cast("double"), 6)).as("cum_uplift"))
      .orderBy("tile")
  }

  /**
   * Delta-method readout for a RATIO metric (revenue per session,
   * clicks per view — the metrics a per-user mean can't express
   * because the denominator varies per user): per arm, R = ΣX/ΣY with
   * the linearization SE² = (n/(n−1))·Σ(xᵢ − R·yᵢ)² / (ΣY)²
   * (Deng et al., KDD 2018's standard practice), and the two-arm z on
   * the combined SE. The naive per-user-ratio average is biased and
   * its variance wrong; this is the estimator experimentation
   * platforms actually ship.
   *
   * Exactness: ΣX, ΣY exact longs; Σx², Σy², Σxy exact
   * DECIMAL(38,0); R is one double divide and Σ(x−Ry)² expands to
   * Qxx − 2R·Qxy + R²·Qyy over the exact moments — one double
   * expression per arm, z from the unrounded SEs, all published 6dp.
   * ONE map-combined aggregation over units.
   *
   * Output: one row (n_t, n_c, sum_x_t, sum_y_t, sum_x_c, sum_y_c,
   * ratio_t, ratio_c, diff, se_t, se_c, z).
   */
  def ratioMetricDelta(units: DataFrame, treatedCol: Column,
      xCol: Column, yCol: Column): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val g = units.select(when(treatedCol, 1L).otherwise(0L).as("t"),
        xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .agg(
        sum(col("t")).as("n_t"), sum(lit(1L) - col("t")).as("n_c"),
        sum(col("t") * col("x")).as("sum_x_t"),
        sum(col("t") * col("y")).as("sum_y_t"),
        sum((lit(1L) - col("t")) * col("x")).as("sum_x_c"),
        sum((lit(1L) - col("t")) * col("y")).as("sum_y_c"),
        sum(when(col("t") === 1L, d(col("x")) * d(col("x")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qxxt"),
        sum(when(col("t") === 1L, d(col("y")) * d(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qyyt"),
        sum(when(col("t") === 1L, d(col("x")) * d(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qxyt"),
        sum(when(col("t") === 0L, d(col("x")) * d(col("x")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qxxc"),
        sum(when(col("t") === 0L, d(col("y")) * d(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qyyc"),
        sum(when(col("t") === 0L, d(col("x")) * d(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qxyc"))
    def ratio(tag: String) =
      col(s"sum_x_$tag").cast("double") / col(s"sum_y_$tag").cast("double")
    def se(tag: String, nC: String) = {
      val r = ratio(tag)
      val nD = col(nC).cast("double")
      val ssq = col(s"__qxx$tag" + "").cast("double") -
        lit(2.0) * r * col(s"__qxy$tag").cast("double") +
        r * r * col(s"__qyy$tag").cast("double")
      // greatest(·,1) keeps the n−1 divisor nonzero on a 1-row arm —
      // that branch publishes NULL anyway, but ANSI mode evaluates the
      // expression regardless of the `when` guard
      sqrt(greatest(ssq, lit(0.0)) * (nD / greatest(nD - lit(1.0), lit(1.0)))) /
        col(s"sum_y_$tag").cast("double")
    }
    val ok = col("n_t") > 1 && col("n_c") > 1 &&
      col("sum_y_t") > 0 && col("sum_y_c") > 0
    val seT = se("t", "n_t"); val seC = se("c", "n_c")
    g.select(col("n_t"), col("n_c"),
      col("sum_x_t"), col("sum_y_t"), col("sum_x_c"), col("sum_y_c"),
      when(col("sum_y_t") > 0, round(ratio("t"), 6)).as("ratio_t"),
      when(col("sum_y_c") > 0, round(ratio("c"), 6)).as("ratio_c"),
      when(ok, round(ratio("t") - ratio("c"), 6)).as("diff"),
      when(ok, round(seT, 6)).as("se_t"),
      when(ok, round(seC, 6)).as("se_c"),
      when(ok && (seT * seT + seC * seC) > 0,
        round((ratio("t") - ratio("c")) / sqrt(seT * seT + seC * seC), 6))
        .as("z"))
  }

  /**
   * Standardized-mean-difference covariate balance table — the
   * diagnostic every matching/weighting analysis must publish BEFORE
   * its effect estimate (Austin 2009: |SMD| < 0.1 is the conventional
   * "balanced"): per covariate, (mean_t − mean_c) / √((s²_t + s²_c)/2).
   * The companion [[strataMatchAtt]] assumes balance; this measures
   * it.
   *
   * Exactness: covariates arrive as integer units (cents/counts — the
   * caller quantizes); one explode puts all k covariates through ONE
   * scan; per (covariate, arm) moments are exact DECIMAL sums; means
   * and sample variances are one double expression each over cleared
   * denominators; SMD composes from the unrounded doubles, 6dp.
   *
   * Output per covariate: (covariate, n_t, n_c, mean_t, mean_c,
   * sd_pooled, smd) — NULL smd when the pooled sd is 0 or an arm has
   * < 2 rows; ordered by covariate.
   */
  def smdBalance(units: DataFrame, treatedCol: Column,
      covariates: Seq[(String, Column)]): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 64,
      "smdBalance: 1..64 covariates")
    require(covariates.map(_._1).distinct.size == covariates.size,
      "duplicate covariate names")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val arr = array(covariates.map { case (n, c) =>
      struct(lit(n).as("covariate"), c.cast("long").as("x")) }: _*)
    val g = units
      .select(when(treatedCol, lit("t")).otherwise(lit("c")).as("g"),
        explode(arr).as("kv"))
      .select(col("g"), col("kv.covariate").as("covariate"), col("kv.x").as("x"))
      .where(col("x").isNotNull)
      .groupBy(col("covariate"))
      .agg(
        sum(when(col("g") === "t", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("g") =!= "t", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("g") === "t", col("x")).otherwise(0L)).as("__st"),
        sum(when(col("g") =!= "t", col("x")).otherwise(0L)).as("__sc"),
        sum(when(col("g") === "t", d(col("x")) * d(col("x")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qt"),
        sum(when(col("g") =!= "t", d(col("x")) * d(col("x")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__qc"))
    def meanOf(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    def varOf(q: String, s: String, n: String) =
      (d(col(n)) * col(q) - d(col(s)) * d(col(s))).cast("double") /
        (col(n).cast("double") * (col(n).cast("double") - lit(1.0)))
    val mt = meanOf("__st", "n_t"); val mc = meanOf("__sc", "n_c")
    val sdP = sqrt((varOf("__qt", "__st", "n_t")
      + varOf("__qc", "__sc", "n_c")) / lit(2.0))
    g.select(col("covariate"), col("n_t"), col("n_c"),
        round(mt, 6).as("mean_t"), round(mc, 6).as("mean_c"),
        when(col("n_t") > 1 && col("n_c") > 1, round(sdP, 6)).as("sd_pooled"),
        when(col("n_t") > 1 && col("n_c") > 1 && sdP > 0,
          round((mt - mc) / sdP, 6)).as("smd"))
      .orderBy("covariate")
  }

  /**
   * Kendall's coefficient of concordance W (Kendall & Babington Smith
   * 1939), tie-corrected — do m RANKERS agree on the ordering of n
   * items: the ranking-system counterpart of [[krippendorffAlpha]]'s
   * label agreement (three quality scorers, three retrieval systems,
   * three heuristics — do they sort the corpus the same way).
   * W = 12S / (m²(n³−n) − m·ΣT) with S the variance of item rank sums
   * and T_j = Σ(t³−t) over each rater's tie groups.
   *
   * Exactness: average ranks are half-integers, so DOUBLED ranks
   * 2R = 2·(items strictly better) + ties + 1 are exact longs; 4S =
   * Σ(2R_i − m(n+1))² and the tie terms are exact DECIMAL(38,0);
   * W = 3·(4S) / denominator is ONE double divide, 6dp. Rankings must
   * be COMPLETE (every rater scores every item) — the statistic is
   * undefined otherwise, so incompleteness refuses loud.
   *
   * Shape at scale: ranks come from the DISTINCT-VALUE relation via m
   * per-rater [[DistDrift.withPrefixSums]] passes (the mannWhitney
   * discipline) — each pass is a fully parallel bucketed prefix sum,
   * where a rater-partitioned window would cap parallelism at m.
   * Raters are few by contract (`require` ≤ 64); the passes run over
   * the already-aggregated distinct-value relation, joined back on
   * (rater, value).
   *
   * Output: one row (m_raters, n_items, s, w); W = 1 is perfect
   * concordance, 0 is no agreement beyond chance.
   */
  def kendallW(ratings: DataFrame, raterCol: Column, itemCol: Column,
      scoreCol: Column): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val r = ratings.select(raterCol.cast("string").as("rt"),
        itemCol.cast("string").as("it"), scoreCol.cast("double").as("v"))
      .where(col("rt").isNotNull && col("it").isNotNull && col("v").isNotNull)
      .cache()
    // ONE fused probe: all four validation counts plus the score bounds
    // for the prefix pass (the old shape ran four separate count jobs +
    // a per-rater bounds job inside every prefix pass)
    val probe = r.agg(count(lit(1)),
      countDistinct(col("rt")), countDistinct(col("it")),
      countDistinct(col("rt"), col("it")),
      min(col("v")), max(col("v"))).head()
    val cnt = probe.getLong(0)
    val m = probe.getLong(1)
    val n = probe.getLong(2)
    val distinctPairs = probe.getLong(3)
    require(m >= 2, "kendallW: need at least two raters")
    require(n >= 2, "kendallW: need at least two items")
    require(cnt == m * n,
      s"kendallW: $cnt ratings != raters×items = ${m * n} — rankings must " +
        "be complete (every rater scores every item, once)")
    // raw count alone is spoofable by offsetting defects (one rater
    // scoring an item twice while missing another keeps cnt == m·n, and
    // the doubled rank then silently distorts W) — assert per-pair
    // uniqueness too
    require(distinctPairs == cnt,
      s"kendallW: $cnt ratings over $distinctPairs distinct (rater,item) " +
        "pairs — duplicate ratings detected; rankings must be complete " +
        "AND unique")
    require(m <= 64,
      s"kendallW: $m raters > 64 — grouped prefix pass is rater-bounded")
    // rank desc by score == prefix count over ascending −score; ALL
    // raters ride ONE grouped prefix pass (buckets partition by
    // (rater, bucket) — see withPrefixSumsInfo) instead of one full
    // pass per rater
    val pv = r.groupBy(col("rt"), col("v")).agg(count(lit(1)).as("c"))
      .select(col("rt"), (-col("v")).as("v"), col("v").as("__v0"), col("c"))
    val info = DistDrift.withPrefixSumsInfo(pv, Seq("c"),
      knownBounds = Some((-probe.getDouble(5), -probe.getDouble(4))),
      groupCols = Seq("rt"))
    val ranked = info.df
      .select(col("rt"), col("__v0").as("v"),
        (lit(2L) * col("c_below") + col("c") + lit(1L)).as("__r2"))
    val rankedSide = if (info.nDistinct <= DistDrift.BroadcastValueLimit) broadcast(ranked)
      else ranked
    val perItem = r.join(rankedSide, Seq("rt", "v"))
      .groupBy(col("it")).agg(sum(col("__r2")).as("r2"))
    val s4 = perItem.agg(sum(
        (d(col("r2")) - lit(m * (n + 1))) * (d(col("r2")) - lit(m * (n + 1))))
        .as("s4"))
      .head().getDecimal(0)
    val tt = r.groupBy(col("rt"), col("v")).agg(count(lit(1)).as("c"))
      .agg(sum(d(col("c")) * d(col("c")) * d(col("c")) - d(col("c"))))
      .head().getDecimal(0)
    r.unpersist(false)
    val s4D = s4.doubleValue(); val ttD = tt.doubleValue()
    val mD = m.toDouble; val nD = n.toDouble
    val den = mD * mD * (nD * nD * nD - nD) - mD * ttD
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = ratings.sparkSession
    import spark.implicits._
    Seq((m, n, r6(s4D / 4.0), if (den > 0) Some(r6(3.0 * s4D / den)) else None))
      .toDF("m_raters", "n_items", "s", "w")
  }

  /**
   * Minimum detectable effect for a two-arm conversion experiment —
   * the design-time question ("how long must this run") answered from
   * the data's own base rate: at α=5% two-sided and 80% power,
   * MDE_abs(n) = (z_{α/2} + z_β)·√(2·p(1−p)/n) per arm size n (the
   * standard normal-approximation sizing identity; constants 1.96 and
   * 0.8416 fixed so the arithmetic is a pure function of exact
   * counts). One aggregation for (N, p); the size spine is a declared
   * literal list.
   *
   * Output per n: (n_per_arm, n_obs, p, mde_abs, mde_rel), ordered.
   */
  def minDetectableEffect(units: DataFrame, successCol: Column,
      armSizes: Seq[Long]): DataFrame = {
    require(armSizes.nonEmpty && armSizes.forall(_ >= 2), "arm sizes >= 2")
    val spark = units.sparkSession
    import spark.implicits._
    val base = units.agg(count(lit(1)).as("n_obs"),
      sum(when(successCol, 1L).otherwise(0L)).as("__s"))
    val p = col("__s").cast("double") / col("n_obs").cast("double")
    val spine = armSizes.distinct.sorted.toDF("n_per_arm")
    spine.crossJoin(broadcast(base))
      .select(col("n_per_arm"), col("n_obs"), round(p, 6).as("p"),
        // 2.8016 = z_{α/2} + z_β as ONE literal — a Scala-side 1.96 +
        // 0.8416 double sum could differ from an engine's decimal sum
        // by an ulp; a single decimal literal parses identically
        round(lit(2.8016)
          * sqrt(lit(2.0) * p * (lit(1.0) - p) / col("n_per_arm").cast("double")), 6)
          .as("mde_abs"))
      .withColumn("mde_rel",
        when(col("p") > 0, round(col("mde_abs") / col("p"), 6)))
      .orderBy("n_per_arm")
  }

  /**
   * E-value sensitivity analysis (VanderWeele & Ding 2017): how strong
   * would an UNMEASURED confounder have to be — on the risk-ratio scale,
   * with both exposure and outcome — to explain away an observed
   * association entirely. E = RR* + √(RR*·(RR*−1)) with RR* the
   * observed risk ratio oriented above 1. The modern referee question
   * for any observational readout, answered from the same 2×2 the
   * risk ratio came from.
   *
   * Exactness: the 2×2 is exact longs; RR = (a/(a+b))/(c/(c+d)) is one
   * double expression; the log-RR standard error √(1/a−1/(a+b)+1/c−1/(c+d))
   * is published (6dp) INSTEAD of an exp-composed CI — exp is the one
   * elementary function whose last-ulp behavior differs across math
   * libraries, so the log-scale pair (log_rr, se_log_rr) is the
   * engine-portable spelling.
   *
   * Output: one row (n, a, b, c, d, rr, log_rr, se_log_rr, e_value);
   * NULL rr/e_value when a margin is empty.
   */
  def eValue(df: DataFrame, exposedCol: Column,
      outcomeCol: Column): DataFrame = {
    val cells = df.select(
        when(exposedCol, 1L).otherwise(0L).as("e"),
        when(outcomeCol, 1L).otherwise(0L).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("e") * col("y")).as("a"),
        sum(col("e") * (lit(1L) - col("y"))).as("b"),
        sum((lit(1L) - col("e")) * col("y")).as("c"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("y"))).as("d"))
    val ok = col("a") > 0 && col("c") > 0 && col("b") > 0 && col("d") > 0
    val rr = (col("a").cast("double") / (col("a") + col("b")).cast("double")) /
      (col("c").cast("double") / (col("c") + col("d")).cast("double"))
    val rrStar = when(rr >= 1.0, rr).otherwise(lit(1.0) / rr)
    cells.select(col("n"), col("a"), col("b"), col("c"), col("d"),
      when(ok, round(rr, 6)).as("rr"),
      when(ok, round(log(rr), 6)).as("log_rr"),
      when(ok, round(sqrt(
        lit(1.0) / col("a") - lit(1.0) / (col("a") + col("b"))
          + lit(1.0) / col("c") - lit(1.0) / (col("c") + col("d"))), 6))
        .as("se_log_rr"),
      when(ok, round(rrStar + sqrt(rrStar * (rrStar - lit(1.0))), 6))
        .as("e_value"))
  }

  /**
   * Fisher's exact test on a 2×2 (conditional on both margins) — the
   * small-table companion to the χ² family ([[mcnemar]],
   * [[mantelHaenszel]], breslowDay): when an expected cell is small the
   * χ² approximation lies, and the exact hypergeometric tail is the
   * honest readout. Two-sided p by the minimum-likelihood rule (R's
   * fisher.test): sum every support point whose conditional likelihood
   * is ≤ the observed one × (1+1e-7).
   *
   * Exactness contract (engine-portable — NO exp/ln/erf anywhere):
   * weights are RELATIVE hypergeometric likelihoods from the
   * mode-anchored ratio recurrence, w(mode) = 1 and, stepping AWAY from
   * the mode (target k),
   *   up:   w(k) = round(w(k−1) · ((r1−k+1)(c1−k+1)) / (k(r2−c1+k)), 12)
   *   down: w(k) = round(w(k+1) · ((k+1)(r2−c1+k+1)) / ((r1−k)(c1−k)), 12)
   * — each step is ONE IEEE double multiply of the exact-integer-ratio
   * quotient, 12dp HALF_UP quantized. Anchoring at the mode makes every
   * weight ≤ 1 (no overflow at ANY margins — the naive from-kmin
   * product reaches 10^9000 territory); terms that quantize to 0 sum to
   * < support·10⁻¹², invisible at the published 6dp. The quantized
   * recurrence IS the contract — an oracle replays it bit-for-bit; the
   * three p's are ratios of DECIMAL sums of the quantized weights, one
   * double divide each.
   *
   * Scale: the 2×2 is ONE distributed reduction (any row count); the
   * tail then runs on a support relation of min(r1,c1)−max(0,c1−r2)+1
   * points, refused loudly above `maxSupport` — Fisher's test is a
   * small-margin instrument, and past a few thousand support points the
   * χ² family is numerically indistinguishable (use [[mantelHaenszel]]
   * / [[eValue]] there). The bounded fold runs as ONE codegen
   * `aggregate` over the support sequence — no driver loop, no
   * per-step job. Output: one row (n, a, b, c, d, support, odds_ratio,
   * p_two, p_left, p_right), 6dp; odds_ratio NULL when b·c = 0.
   */
  def fisherExact(units: DataFrame, exposedCol: Column, outcomeCol: Column,
      maxSupport: Int = 4096): DataFrame = {
    val s = units.select(exposedCol.as("ex"), outcomeCol.as("ou"))
      .where(col("ex").isNotNull && col("ou").isNotNull)
    def cell(e: Boolean, o: Boolean): Column =
      coalesce(sum(when(col("ex") === e && col("ou") === o, 1L).otherwise(0L)),
        lit(0L))
    // the distributed reduction + bounded 1-row probe (the
    // probe-then-refuse discipline: refusal fires before any tail work)
    val probe = s.agg(count(lit(1)).as("n"), cell(true, true).as("a"),
        cell(true, false).as("b"), cell(false, true).as("c"),
        cell(false, false).as("d")).head()
    val n = probe.getLong(0)
    val a = probe.getLong(1); val b = probe.getLong(2)
    val c = probe.getLong(3); val d = probe.getLong(4)
    val r1 = a + b; val r2 = c + d; val c1 = a + c
    val kmin = math.max(0L, c1 - r2); val kmax = math.min(r1, c1)
    val support = kmax - kmin + 1
    require(support <= maxSupport,
      s"fisherExact: hypergeometric support $support exceeds " +
        s"maxSupport=$maxSupport — Fisher's exact test is a small-margin " +
        "instrument; use mantelHaenszel/eValue (χ² regime) at this scale")
    // mode of the hypergeometric — floor((r1+1)(c1+1)/(n+2)), clamped
    // (the clamp is a no-op mathematically; it pins the degenerate
    // n=0 row to the single-point support). BigInt: the product wraps
    // Long at huge balanced margins that still pass the support gate
    // (r1 ≈ c1 ≈ n with tiny r2), which would anchor the recurrence in
    // a far tail where the >1 ratios overflow decimal(13,12) to NULL
    val kmode = math.min(math.max(
      ((BigInt(r1) + 1) * (BigInt(c1) + 1) / (BigInt(n) + 2)).toLong,
      kmin), kmax)
    val decW = "decimal(13,12)"
    val one = BigDecimal(1).setScale(12)
    val emptyKw = array().cast("array<struct<k:bigint,w:decimal(13,12)>>")
    def chain(ks: Column, ratio: Column => Column): Column =
      aggregate(ks,
        struct(lit(one).cast(decW).as("w"), emptyKw.as("out")),
        (acc, k) => {
          val nw = round(acc.getField("w").cast("double") * ratio(k), 12)
            .cast(decW)
          struct(nw.as("w"),
            concat(acc.getField("out"),
              array(struct(k.as("k"), nw.as("w")))).as("out"))
        },
        acc => acc.getField("out"))
    // each factor casts to double BEFORE the multiply: a Long×Long
    // product wraps at extreme margins that still pass the support gate
    // (the same overflow family the kmode anchor was moved to BigInt
    // for), while each factor alone is ≤ n ≪ 2⁵³ so the double product
    // rounds once — identical to the exact product in the non-wrapping
    // regime, finite instead of garbage past it
    def ratioUp(k: Column): Column =
      ((lit(r1) - k + 1L).cast("double") * (lit(c1) - k + 1L).cast("double")) /
        (k.cast("double") * (lit(r2) - lit(c1) + k).cast("double"))
    def ratioDown(k: Column): Column =
      ((k + 1L).cast("double") * (lit(r2) - lit(c1) + k + 1L).cast("double")) /
        ((lit(r1) - k).cast("double") * (lit(c1) - k).cast("double"))
    val upKs = if (kmax > kmode) sequence(lit(kmode + 1), lit(kmax))
      else array().cast("array<bigint>")
    val downKs = if (kmin < kmode) sequence(lit(kmode - 1), lit(kmin), lit(-1L))
      else array().cast("array<bigint>")
    val weights = s.sparkSession.range(1).select(explode(concat(
        array(struct(lit(kmode).as("k"), lit(one).cast(decW).as("w"))),
        chain(upKs, ratioUp), chain(downKs, ratioDown))).as("kw"))
      .select(col("kw.k").as("k"), col("kw.w").as("w"))
    val decS = "decimal(38,12)"
    val wobs = weights.agg(max(when(col("k") === lit(a), col("w"))).as("wobs"))
    val thr = round(col("wobs").cast("double") * lit(1.0000001), 12)
    val sums = weights.crossJoin(broadcast(wobs)).agg(
      sum(col("w").cast(decS)).as("s_all"),
      sum(when(col("w").cast("double") <= thr, col("w").cast(decS))
        .otherwise(lit(0).cast(decS))).as("s_le"),
      sum(when(col("k") <= lit(a), col("w").cast(decS))
        .otherwise(lit(0).cast(decS))).as("s_left"),
      sum(when(col("k") >= lit(a), col("w").cast(decS))
        .otherwise(lit(0).cast(decS))).as("s_right"))
    sums.select(lit(n).as("n"), lit(a).as("a"), lit(b).as("b"),
      lit(c).as("c"), lit(d).as("d"), lit(support).as("support"),
      // same factor-wise double discipline as ratioUp/ratioDown: a·d and
      // b·c are Long products of unbounded cell counts
      (if (b > 0 && c > 0)
        round(lit(a.toDouble * d.toDouble) / lit(b.toDouble * c.toDouble), 6)
      else lit(null).cast("double")).as("odds_ratio"),
      round(col("s_le").cast("double") / col("s_all").cast("double"), 6)
        .as("p_two"),
      round(col("s_left").cast("double") / col("s_all").cast("double"), 6)
        .as("p_left"),
      round(col("s_right").cast("double") / col("s_all").cast("double"), 6)
        .as("p_right"))
  }
}
