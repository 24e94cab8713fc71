package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-contract constraint on the bench stdout record: the
  * driver captures only the LAST 2000 bytes of stdout (measured from
  * BENCH_r09.json's `tail` length) and sbt appends a ~80-byte
  * "[success] Total time ..." trailer after our last line. The compact
  * record must therefore stay under ~1900 bytes at the CURRENT query
  * count — this spec fails the build the moment query growth breaks
  * that, instead of silently costing another round of driver records. */
class BenchFormatSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  test("short keys are the qNN prefix and collide for no registered query") {
    assert(BenchFormat.shortKey("q01_filter_range") == "q01")
    assert(BenchFormat.shortKey("q130_rag_prep") == "q130")
    val shorts = names.map(BenchFormat.shortKey)
    assert(shorts.distinct.size == names.size)
  }

  test("compact line fits the driver tail window with worst-case values") {
    // 3x today's query count at a 99.99 s worst case: the dense qv shape
    // cannot fit, so the line must FALL BACK to the bounded slowest-60
    // map and stay under budget regardless of growth
    val results = (names ++ (500 until 500 + 2 * names.size)
      .map(i => s"q${i}_synthetic")).map(_ -> 99.99)
    val line = BenchFormat.formatCompact(results, "/root/testdata/sf0.1")
    assert(!line.contains("\n"))
    assert(
      line.length <= BenchFormat.CompactBudget,
      s"compact bench line is ${line.length} bytes at ${results.size} queries — " +
        "over the 1900-byte budget (2000-byte driver tail minus sbt trailer).")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("qv") == null && node.get("queries").size == 60)
  }

  test("driver contract: the name-keyed queries map is ALWAYS present at " +
      "the real query count (the r16 breakage), within budget") {
    // every registered query at a plausible heavy reading (2.5 s — the
    // real suite averages ~1.1 s/q even in hot windows): the driver's
    // parse target ("queries": {qNN: sec}) must be present — round 16
    // shipped qv-only and zeroed the driver's per-query comparison
    val results = names.map(_ -> 2.5)
    val line = BenchFormat.formatCompact(results, "/root/testdata/sf0.1",
      ctlFactors = Seq(1.38, 1.29), flag2x = Some(Nil))
    assert(line.length <= BenchFormat.CompactBudget,
      s"compact line is ${line.length} bytes at ${names.size} queries")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("queries") != null && node.get("queries").size == 60,
      "the name-keyed 60-slowest map is the driver's parse target and " +
        "must survive any extension fields")
    assert(node.get("ctl").get(0).asDouble == 1.38)
    assert(node.get("f2x").asInt == 0 && node.get("f2xq") == null)
    // nonempty flags are NAMED with short keys, bounded at 8
    val flagged = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      BenchFormat.formatCompact(results, "sf",
        flag2x = Some(Seq("q101_shared_spans", "q39_count_distinct"))))
    assert(flagged.get("f2x").asInt == 2)
    assert(flagged.get("f2xq").get(0).asText == "q101")
    assert(flagged.get("f2xq").get(1).asText == "q39")
    // the dense qv extension appears ONLY when the combined line fits
    // the budget; when present it is qnum-ascending — spot check with
    // distinct values keyed off the number itself on a small suite
    val small = names.take(20)
    val varied = small.map(n =>
      n -> (BenchFormat.shortKey(n).drop(1).toInt / 100.0))
    val vNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(BenchFormat.formatCompact(varied, "sf"))
    val sortedNums = small.map(n => BenchFormat.shortKey(n).drop(1).toInt).sorted
    assert(vNode.get("queries").size == small.size) // keep=60 > 20: all kept
    assert(vNode.get("qv").get(0).asInt == sortedNums.head)
    assert(vNode.get("qv").get(small.size - 1).asInt == sortedNums.last)
  }

  test("compact fallback keeps the slowest queries and totals ALL of them") {
    // force the fallback with a huge synthetic suite
    val results = (1 to 1000).map(i => (f"q$i%04d_x", if (i <= 970) 0.1 else 5.0))
    val line = BenchFormat.formatCompact(results, "sf", keep = 30)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("n").asInt == 1000)
    assert(node.get("queries").size == 30)
    // every kept entry is one of the 5.0 s slow queries
    val it = node.get("queries").fields()
    while (it.hasNext) assert(it.next().getValue.asDouble == 5.0)
    assert(math.abs(node.get("value").asDouble - (970 * 0.1 + 30 * 5.0)) < 1e-4)
  }

  test("compact line is valid JSON with the contract fields") {
    val results = Seq("q01_filter_range" -> 1.234, "q100_audio_spectrum" -> 0.5)
    val line = BenchFormat.formatCompact(results, "/root/testdata/sf0.1")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("unit").asText == "sec")
    assert(math.abs(node.get("value").asDouble - 1.73) < 1e-9)
    assert(node.get("sf").asText == "sf0.1")
    assert(node.get("reps").asInt == 1) // default param; Bench passes its N
    val r2 = BenchFormat.formatCompact(results, "sf", reps = 2)
    val r2node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r2)
    assert(r2node.get("reps").asInt == 2)
    // small suites take the dense shape: qv in query-number order
    val qv = node.get("qv")
    assert(qv.size == 2)
    assert(qv.get(0).asInt == 123) // q01 -> 1.234 s -> 123 centisec
    assert(qv.get(1).asInt == 50)  // q100 -> 0.5 s
    // ctl/f2x absent when normalization never ran (no canonical)
    assert(node.get("ctl") == null && node.get("f2x") == null)
  }

  test("full line keeps full names and 3-decimal grain") {
    val results = Seq("q01_filter_range" -> 1.2345)
    val line = BenchFormat.formatFull(results, "/root/testdata/sf0.1", 2, "32")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(math.abs(node.get("queries").get("q01_filter_range").asDouble - 1.235) < 1e-9)
    assert(node.get("reps").asInt == 2)
    assert(node.get("sf").asText == "/root/testdata/sf0.1")
  }

  test("full line carries the mechanized adjudication fields: control " +
      "factors, normalized ratios, and flag2x (empty != absent)") {
    val results = Seq("q01_filter_range" -> 1.0, "q02_filter_in_like" -> 3.0)
    val line = BenchFormat.formatFull(results, "sf0.1", 2, "32",
      ctlQueries = Seq("q19_count", "q183_ks_test"),
      ctlFactors = Seq(1.382, 1.291),
      normalized = Seq("q02_filter_in_like" -> 2.52, "q01_filter_range" -> 0.98),
      flag2x = Seq("q02_filter_in_like"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("controls").get("queries").get(0).asText == "q19_count")
    assert(node.get("controls").get("factors").get(1).asDouble == 1.291)
    assert(node.get("normalized").get("q01_filter_range").asDouble == 0.98)
    assert(node.get("normalized").get("q02_filter_in_like").asDouble == 2.52)
    assert(node.get("flag2x").get(0).asText == "q02_filter_in_like")
    // normalization ran but flagged nothing -> flag2x is PRESENT and []
    val clean = BenchFormat.formatFull(results, "sf0.1", 2, "32",
      normalized = Seq("q01_filter_range" -> 0.98), flag2x = Nil)
    val cn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(clean)
    assert(cn.get("flag2x") != null && cn.get("flag2x").size == 0)
    // no canonical -> no adjudication fields at all
    val bare = BenchFormat.formatFull(results, "sf0.1", 2, "32")
    val bn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bare)
    assert(bn.get("controls") == null && bn.get("normalized") == null
      && bn.get("flag2x") == null && bn.get("pv") == null)
    // per-pass times: qnum-ascending centiseconds, -1 for a failed run —
    // warm-vs-cold (staging-memo) effects stay READABLE from the record
    val withPasses = BenchFormat.formatFull(results, "sf0.1", 2, "32",
      passTimes = Seq(
        Seq("q02_filter_in_like" -> 9.4, "q01_filter_range" -> 1.0),
        Seq("q02_filter_in_like" -> 0.1, "q01_filter_range" -> -1.0)))
    val pn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(withPasses)
    assert(pn.get("pv_order").asText == "qnum_asc")
    assert(pn.get("pv").get(0).get(0).asInt == 100)  // q01 pass 1
    assert(pn.get("pv").get(0).get(1).asInt == 940)  // q02 pass 1 (cold)
    assert(pn.get("pv").get(1).get(0).asInt == -1)   // q01 pass 2 failed
    assert(pn.get("pv").get(1).get(1).asInt == 10)   // q02 pass 2 (warm)
  }

  test("failed queries are named in the full record and counted compactly") {
    val results = Seq("q01_filter_range" -> 1.0, "q02_filter_in_like" -> 0.01)
    val full = BenchFormat.formatFull(results, "sf0.1", 2, "32",
      failed = Seq("q02_filter_in_like"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
    assert(node.get("failed").get(0).asText == "q02_filter_in_like")
    val compact = BenchFormat.formatCompact(results, "sf0.1", failed = 1)
    val cn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(compact)
    assert(cn.get("failed").asInt == 1)
    // absent when clean — the healthy record shape is unchanged
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(BenchFormat.formatFull(results, "sf0.1", 2, "32"))
      .get("failed") == null)
  }

  test("adjudication math: control factor is the median of usable controls, " +
      "None below two") {
    import BenchAdjudicate._
    val can = Map("q07_agg_groupby" -> 0.5, "q183_ks_test" -> 1.0,
      "q19_count" -> 0.1, "q65_jaccard_pairs" -> 4.0)
    // ratios 2.0, 1.5, 3.0, 1.25 -> median (1.5+2.0)/2 = 1.75
    val pass = Seq("q07_agg_groupby" -> (1.0, true), "q183_ks_test" -> (1.5, true),
      "q19_count" -> (0.3, true), "q65_jaccard_pairs" -> (5.0, true),
      "q999_other" -> (9.9, true))
    assert(controlFactor(pass, can) == Some(1.75))
    // a FAILED control and a control with no canonical are excluded
    val partial = Seq("q07_agg_groupby" -> (1.0, false),
      "q183_ks_test" -> (2.0, true), "q19_count" -> (0.2, true))
    assert(controlFactor(partial, can) == Some(2.0)) // median(2.0, 2.0)
    // below two usable controls: None (a one-control median is just
    // that control's own noise)
    assert(controlFactor(Seq("q183_ks_test" -> (2.0, true)), can).isEmpty)
    assert(controlFactor(pass, Map.empty).isEmpty)
  }

  test("adjudication math: normalization floors the factor at 1, takes the " +
      "min across passes, reruns join at factor 1, flags need >=1s") {
    import BenchAdjudicate._
    val can = Map("q10_x" -> 1.0, "q11_y" -> 2.0)
    // pass 1 hot (factor 2.0), pass 2 COLD (factor 0.5 -> floored to 1)
    val passes = Seq(
      Seq("q10_x" -> (3.0, true), "q11_y" -> (9.0, true)),
      Seq("q10_x" -> (2.6, true), "q11_y" -> (8.0, true)))
    val factors = Seq(Some(2.0), Some(0.5))
    val norm = normalizedRatios(passes, factors, can, Map.empty).toMap
    // q10: min(3.0/(1*2.0), 2.6/(1*1.0)) = 1.5 — the floor keeps the
    // cold pass from INFLATING the ratio (2.6/0.5 would read 5.2)
    assert(norm("q10_x") == 1.5)
    // q11: min(9/(2*2), 8/(2*1)) = 2.25 — still flagged after weather
    assert(norm("q11_y") == 2.25)
    val flags = flag2x(norm.toSeq, Map("q10_x" -> 2.6, "q11_y" -> 8.0))
    assert(flags == Seq("q11_y"))
    // a rerun at factor 1 can clear the flag: raw-in-band wins
    val norm2 = normalizedRatios(passes, factors, can, Map("q11_y" -> 3.9)).toMap
    assert(norm2("q11_y") == 1.95)
    assert(flag2x(norm2.toSeq, Map("q11_y" -> 3.9)).isEmpty)
    // the >=1s absolute floor: a sub-second result never flags
    assert(flag2x(Seq("q10_x" -> 9.9), Map("q10_x" -> 0.9)).isEmpty)
    // failed runs contribute no reading; no canonical -> no entry
    val withFail = normalizedRatios(
      Seq(Seq("q10_x" -> (0.1, false), "q12_z" -> (5.0, true))),
      Seq(Some(1.0)), can, Map.empty)
    assert(withFail.isEmpty)
  }

  test("fmt renders a '.' decimal separator under a comma-decimal locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500", "the locale under test is not comma-decimal")
      assert(BenchFormat.fmt(1.5, 3) == "1.500")
      assert(BenchFormat.fmt(12.345, 2) == "12.35")
    } finally java.util.Locale.setDefault(saved)
  }

  test("gate invariant: every declared query has an oracle and vice versa " +
      "(a missing entry would silently become a no_oracle driver row)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    // name discipline: every key is qNNN_snake and numbers are unique
    val nums = q.toSeq.map { n =>
      assert(n.matches("q\\d+_[a-z0-9_]+"), s"bad query name: $n")
      n.drop(1).takeWhile(_.isDigit).toInt
    }
    assert(nums.distinct.size == nums.size, "duplicate query numbers")
  }
}
