package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{Cond, UExpr}
import graft.functions.GraftFunctions._
import graft.pipeline.{Dedup, Multimodal, TextAnalysis}
import graft.query.Agg
import graft.vector.{GraphAnn, VectorSearch}
import graft.write.Writes

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2, each with DuckDB-equivalent `oracleSql` on the same parquet
 * tables. Every query output carries a TOTAL ORDER (explicit sort with a
 * unique tie-break) and money/quantity sums go through DECIMAL(18,2) so the
 * Spark and DuckDB results are bit-identical, not merely close.
 */
object SparkEntry {

  private def eng(s: SparkSession, dir: String): Graft = Graft(s, dir)

  /** Total-order sort of an EXPENSIVE final relation without the range
    * partitioner's sampling double-execution: `orderBy` plans a range
    * exchange whose partitioner SAMPLES its child RDD — executing the
    * whole child subtree once for the sample pass and AGAIN for the
    * real exchange (measured with graft.JobProfile: q256's verify
    * stage ran twice at 3.4 s each, q44's and q65's likewise). A
    * localCheckpoint lets the sampler and the exchange both read the
    * stored partitions, so the subtree runs ONCE. Apply only where the
    * subtree is expensive relative to the OUTPUT (pair/report
    * relations); the checkpoint cost is bounded by output size and the
    * sort itself stays a parallel range sort — no scale regression. */
  private def sortReport(df: DataFrame, cols: String*): DataFrame =
    df.localCheckpoint(true).orderBy(cols.map(col): _*)

  /** One per-process temp root for every gate's scratch warehouse/feed,
    * deleted on JVM exit — repeated Verify/Bench runs must not accumulate
    * populated copies of the test tables in /tmp. */
  private lazy val tmpRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_gates")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(p.toFile)
    }))
    p
  }
  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(tmpRoot, prefix).toString
  /** exact-arithmetic cast for FP-sensitive sums (oracle parity) */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  /** Final-output cast: DECIMAL renders with trailing zeros ("460.50") while
    * the driver's oracle renders the same value as a float ("460.5"), which
    * breaks the text-hash gate. Accumulate exactly in DECIMAL, then cast the
    * *result* to DOUBLE on BOTH the Spark and oracle sides. */
  private def outDouble(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("double")))

  /** Iteration caps for the exact-replay Newton/IRLS/EM gate families —
    * ONE named constant per family, referenced by BOTH the query lambda
    * (explicit `iters =`, never the operator default) and the oracle's
    * unrolled-CTE builder, so a cap edit cannot desync the two sides of
    * the gate. IterCapsSpec pins each oracle's terminal unroll index
    * against these. */
  private[graft] object IterCaps {
    val cox = 4          // q380 coxBinary + q393 coxStratified Newton steps
    val calibration = 4  // q386 calibrationSlope Newton steps
    val gmm = 3          // q385 gmm1d EM steps
    val huber = 3        // q387 huberMean IRLS steps
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q13_join_multi3")(spark, "/root/testdata/sf0.001")

  /** `SPARK_GRAFT_ONLY=q62,q65` → restrict to the named queries — the
    * ONE definition of the iteration contract shared by Bench and
    * Verify (the driver never sets the variable). A selector matches
    * its exact full name or its qNN number ("q19" = q19_count ONLY —
    * the old raw-prefix rule silently swept q190–q199 in too, a
    * repeatedly-hit trap). */
  def selectedQueries(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    only.fold(queries.toSeq)(ps =>
      queries.toSeq.filter { case (n, _) =>
        ps.exists(p => n == p || n.startsWith(p + "_")) })
  }

  /** The q133-style snapshot pair (v0: keys %7!=1; v1: keys %5!=2 with
    * prices bumped on %3==0) — shared by the drift family (q174/q182/q183). */
  private def snapPair(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val orders = eng(s, dir).table("orders")
    val v0 = orders.where(pmod(col("o_orderkey"), lit(7)) =!= 1)
    val v1 = orders.where(pmod(col("o_orderkey"), lit(5)) =!= 2)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    (v0, v1)
  }

  /** (order, brand) basket-item rows for the q175-q177 graph family —
    * part is dimension-sized, so the join broadcasts. */
  private def brandBaskets(s: SparkSession, dir: String): DataFrame =
    eng(s, dir).table("lineitem")
      .join(broadcast(eng(s, dir).table("part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))

  /** The bought-together brand graph — `Association.pairs` over
    * [[brandBaskets]] — is the shared substrate of 13 graph gates
    * (q176/q177/q198/q224/q225/q227/q245/q261/q269/q279/q303/q315/q323).
    * A production deployment would materialize it once
    * (`plans/MaterializedViews`) instead of re-deriving the
    * lineitem⋈part join + pair-support aggregation per query; here a
    * session-scoped memo stages the derived pair list (≤ brands²/2 rows
    * — 25 brands → ≤300) once per (session, dir, minSupport) as an eager
    * localCheckpoint. Per-gate results and hashes are unchanged — the
    * relation is byte-identical, only its derivation is staged — but the
    * suite pays the derivation once, not 13×. Verify runs each gate in
    * the same session, so the memo applies there identically. */
  private val brandPairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), DataFrame]()
  // sessions whose context carries our eviction listener — without it the
  // static memo would pin localCheckpoint'd DataFrames (and stopped
  // sessions) forever in any JVM that cycles sessions, e.g. test suites
  private val brandPairsHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()
  // ONE listener per session evicts EVERY session-keyed memo on
  // application end — a memo registered after the hook still gets
  // evicted because eviction is by session key, not by entry
  private def hookMemoEviction(s: SparkSession): Unit =
    if (brandPairsHooked.add(s))
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          brandPairsMemo.keySet.removeIf(k => k._1 eq s)
          permSweepMemo.keySet.removeIf(k => k._1 eq s)
          brandPairsHooked.remove(s)
        }
      })
  private def brandPairs(s: SparkSession, dir: String,
      minSupport: Long = 400L): DataFrame = {
    hookMemoEviction(s)
    brandPairsMemo.computeIfAbsent((s, dir, minSupport),
      _ => graft.operators.Association.pairs(brandBaskets(s, dir),
        "l_orderkey", "p_brand", minSupport = minSupport).localCheckpoint(true))
  }

  /** The q368 permutation sweep, staged once per (session, dir) — q369
    * reads the identical 5-row relation for its BH pass, so the suite
    * pays the rows×64 derivation once, not twice (the [[brandPairs]]
    * discipline: eager localCheckpoint, same eviction listener, result
    * byte-identical because only the derivation is staged). */
  private val permSweepMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def permSweep(s: SparkSession, dir: String): DataFrame = {
    hookMemoEviction(s)
    permSweepMemo.computeIfAbsent((s, dir),
      _ => graft.operators.Experiment.permutationTestBy(
        eng(s, dir).table("orders"),
        col("o_orderpriority"), col("o_orderkey"),
        when(col("o_orderstatus") === "F", "A").otherwise("B"),
        round(col("o_totalprice") * 100, 0).cast("long"),
        bReps = 64, salt = "permby").localCheckpoint(true))
  }

  /** The SF-independent top-90-by-support brand edge list (src, dst) —
    * the q279 construction shared by the q336/q337/q338/q352/q358/q359/
    * q360 graph family (oracle twin: `duckTop90Graph`). Rides the
    * [[brandPairs]] memo; the order-and-cut on ≤300 rows is free. */
  private def top90Brand(s: SparkSession, dir: String): DataFrame =
    brandPairs(s, dir, minSupport = 1L)
      .orderBy(col("support").desc, col("item_a").asc, col("item_b").asc)
      .limit(90)
      .select(col("item_a").as("src"), col("item_b").as("dst"))

  // built once per JVM: every lookup would otherwise rebuild 405 entries
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.3 filters / predicates ------------------------------------
    "q01_filter_range" -> ((s, dir) => {
      // loose typing: string literal "45" coerced to DOUBLE (SURVEY §1.2)
      eng(s, dir).query("lineitem")
        .where("l_quantity", ">", "45")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderByAsc("l_orderkey", "l_linenumber")
        .noDefaultLimit.toDF
    }),
    "q02_filter_in_like" -> ((s, dir) => {
      eng(s, dir).query("part")
        .whereIn("p_size", Seq(1, 5, 9))
        .whereContains("p_name", "bolt")
        .select("p_partkey", "p_name", "p_brand", "p_size")
        .orderByAsc("p_partkey")
        .noDefaultLimit.toDF
    }),
    "q03_filter_andor" -> ((s, dir) => {
      eng(s, dir).query("orders")
        .condition(
          (Cond.Leaf("o_orderstatus", "=", "F") && Cond.Leaf("o_totalprice", ">", 150000)) ||
          (Cond.Leaf("o_orderstatus", "=", "O") && Cond.Leaf("o_totalprice", "<", 30000)))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderByAsc("o_orderkey")
        .noDefaultLimit.toDF
    }),
    "q04_filter_between_notin" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .whereBetween("l_shipdate", "1995-01-01", "1995-03-31")
        .whereNotIn("l_returnflag", Seq("A"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
        .orderByAsc("l_orderkey", "l_linenumber")
        .noDefaultLimit.toDF
    }),
    "q05_select_alias" -> ((s, dir) => {
      eng(s, dir).query("customer")
        .whereEqual("c_mktsegment", "BUILDING")
        .whereNotNull("c_name")
        .select("c_custkey", "c_name as name", "c_acctbal as balance")
        .orderByAsc("c_custkey")
        .noDefaultLimit.toDF
    }),

    // ---- §2.5 aggregations ---------------------------------------------
    "q06_agg_global" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .agg(
          Agg.count(alias = "cnt"),
          Agg.sumCol(dec(col("l_quantity")), "sum_qty"),
          Agg.sumCol(dec(col("l_extendedprice")), "sum_price"),
          Agg.min("l_quantity", "min_qty"),
          Agg.max("l_quantity", "max_qty"))
        .toDF
        .withColumn("avg_qty", col("sum_qty").cast("double") / col("cnt"))
        .transform(outDouble(_, "sum_qty", "sum_price"))
    }),
    "q07_agg_groupby" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .where("l_shipdate", "<=", "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Agg.count(alias = "cnt"),
          Agg.sumCol(dec(col("l_quantity")), "sum_qty"),
          Agg.sumCol(dec(col("l_extendedprice")), "sum_price"))
        .orderByAsc("l_returnflag", "l_linestatus")
        .toDF
        .transform(outDouble(_, "sum_qty", "sum_price"))
    }),
    "q08_having" -> ((s, dir) => {
      eng(s, dir).query("orders")
        .groupBy("o_orderpriority")
        .agg(Agg.count(alias = "cnt"), Agg.sumCol(dec(col("o_totalprice")), "sum_total"))
        .having(Cond.Leaf("cnt", ">", 100))
        .orderByAsc("o_orderpriority")
        .toDF
        .transform(outDouble(_, "sum_total"))
    }),

    // ---- §2.4 joins ------------------------------------------------------
    "q09_join_inner" -> ((s, dir) => {
      eng(s, dir).query("orders")
        .join("customer", "orders.o_custkey", "=", "customer.c_custkey")
        .groupBy("c_mktsegment")
        .agg(Agg.count(alias = "cnt"), Agg.sumCol(dec(col("o_totalprice")), "sum_total"))
        .orderByAsc("c_mktsegment")
        .toDF
        .transform(outDouble(_, "sum_total"))
    }),
    "q10_join_left_null" -> ((s, dir) => {
      eng(s, dir).query("customer")
        .leftJoin("orders", "customer.c_custkey", "=", "orders.o_custkey")
        .whereNull("o_orderkey")
        .select("c_custkey", "c_name")
        .orderByAsc("c_custkey")
        .noDefaultLimit.toDF
    }),
    "q11_join_right" -> ((s, dir) => {
      eng(s, dir).query("orders")
        .rightJoin("customer", "orders.o_custkey", "=", "customer.c_custkey")
        .groupBy("c_nationkey")
        .agg(Agg.count(alias = "n_rows"))
        .orderByAsc("c_nationkey")
        .toDF
    }),
    "q12_join_theta" -> ((s, dir) => {
      eng(s, dir).query("nation")
        .join("region", "nation.n_regionkey", "<", "region.r_regionkey")
        .select("n_name", "r_name")
        .orderByAsc("n_name", "r_name")
        .noDefaultLimit.toDF
    }),
    "q13_join_multi3" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .join("orders", "lineitem.l_orderkey", "=", "orders.o_orderkey")
        .join("customer", "orders.o_custkey", "=", "customer.c_custkey")
        .whereEqual("c_mktsegment", "AUTOMOBILE")
        .where("l_shipdate", ">", "1996-01-01")
        .groupBy("o_orderpriority")
        .agg(Agg.count(alias = "cnt"), Agg.sumCol(dec(col("l_extendedprice")), "sum_price"))
        .orderByAsc("o_orderpriority")
        .toDF
        .transform(outDouble(_, "sum_price"))
    }),

    // ---- §2.6 distinct / §2.7 sort-limit-offset -------------------------
    "q14_distinct" -> ((s, dir) => {
      eng(s, dir).query("orders")
        .distinct("o_orderstatus", "o_orderpriority")
        .orderByAsc("o_orderstatus", "o_orderpriority")
        .noDefaultLimit.toDF
    }),
    "q15_topk" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderByDesc("l_extendedprice")
        .orderByAsc("l_orderkey", "l_linenumber")
        .limit(10).toDF
    }),
    "q16_offset" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderByDesc("l_extendedprice")
        .orderByAsc("l_orderkey", "l_linenumber")
        .offset(20).limit(10).toDF
    }),
    "q17_pk_numeric_string" -> ((s, dir) => {
      // numeric-string PK order: '2' < '10' via (length, value) sort key
      val pk = eng(s, dir).table("orders")
        .select(col("o_orderkey").cast("string").as("pk"), col("o_totalprice"))
      pk.orderBy(numericStringOrder(col("pk")).map(_.asc): _*).limit(50)
    }),
    "q18_cursor_page2" -> ((s, dir) => {
      // keyset pagination: page 1 run() → nextCursor → page 2
      val qb = eng(s, dir).query("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderByDesc("l_extendedprice")
        .orderByAsc("l_orderkey", "l_linenumber")
        .limit(10)
      val page2 = qb.run().next()
      s.createDataFrame(
        s.sparkContext.parallelize(page2.data, 1), qb.toDF.schema)
    }),
    "q19_count" -> ((s, dir) => {
      eng(s, dir).query("lineitem")
        .where("l_discount", ">=", 0.05)
        .agg(Agg.count(alias = "cnt")).toDF
    }),

    // ---- §2.9 update Expr AST / §2.1 upsert ------------------------------
    "q20_update_expr" -> ((s, dir) => {
      import UExpr._
      val li = eng(s, dir).table("lineitem")
      Writes.updatePreview(li,
        Seq(
          "l_quantity" -> clamp(field("l_quantity") * value(2), value(0), value(75)),
          "l_discount" -> min(field("l_discount") + value(0.01), value(0.1))),
        Cond.Leaf("l_returnflag", "=", "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q21_upsert" -> ((s, dir) => {
      val e = eng(s, dir)
      val target = e.table("customer")
      val updates = target.where(col("c_custkey") <= 5)
        .select(col("c_custkey"), concat(col("c_name"), lit("_u")).as("c_name"),
          col("c_nationkey"), (col("c_acctbal") + 1000).as("c_acctbal"), col("c_mktsegment"))
      val inserts = target.where(col("c_custkey") <= 3)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"), lit("NONE").as("c_mktsegment"))
      Writes.upsertMerge(target, updates.union(inserts), Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    // ---- window / event-time extensions (Spark superset) ----------------
    "q22_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      eng(s, dir).table("events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("user_id", "event_id", "rn")
        .orderBy("user_id", "rn")
    }),
    "q23_events_tumbling" -> ((s, dir) => {
      eng(s, dir).table("events")
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy("bucket", "event_type")
    }),

    // ---- pipeline extras: text / dedup / vector --------------------------
    "q24_text_stats" -> ((s, dir) => {
      val d = eng(s, dir).table("documents")
      // fused kernel: one pass computes len+tok_cnt+fp (struct projected
      // behind a boundary so it evaluates once, not per output column)
      d.select(col("doc_id"), textStats(col("text")).as("ts"))
        .select(col("doc_id"), col("ts.len").as("len"),
          col("ts.tok_cnt").as("tok_cnt"), col("ts.fp").as("fp"))
        .orderBy("doc_id")
    }),
    "q25_dedup_exact" -> ((s, dir) => {
      val d = eng(s, dir).table("documents")
      Dedup.exactGroups(d, "doc_id", "text").orderBy("fp")
    }),
    "q27_text_quality" -> ((s, dir) => {
      // one TextProfileExpr kernel pass per document; the four outputs are
      // slot reads + the original arithmetic (byte-identical, spec-pinned)
      val d = eng(s, dir).table("documents")
      d.select(col("doc_id"), TextAnalysis.textProfile(col("text")).as("p"))
        .select(col("doc_id"),
          TextAnalysis.bpeFromProfile(col("p")).as("bpe_cnt"),
          TextAnalysis.tokenEstimateFromProfile(col("p")).as("tok_est"),
          TextAnalysis.qualityFromProfile(col("p")).as("quality"),
          TextAnalysis.langFromProfile(col("p")).as("lang_guess"))
        .orderBy("doc_id")
    }),
    "q28_minhash_sig" -> ((s, dir) => {
      val d = eng(s, dir).table("documents")
      d.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
        .select(col("doc_id"),
          concat_ws(",", Dedup.minhashFromShingles(col("sh"), 8)).as("sig"))
        .orderBy("doc_id")
    }),
    "q29_dedup_minhash" -> ((s, dir) => {
      sortReport(Dedup.minhashPairs(eng(s, dir).table("documents"),
          "doc_id", "text", shingleN = 3, k = 12, bands = 4, threshold = 0.3),
        "a", "b")
    }),
    "q45_dedup_minhash_fast" -> ((s, dir) => {
      // production hash family promoted to a HARD gate: xxhash64 minhash
      // (codegen, ~1 cycle/byte) instead of the md5-hex oracle family
      // (xxhash64 isn't reproducible in DuckDB). The body compares the
      // fast-family verified pairs against the md5-family pairs (q29's
      // hash-matched plan) and REQUIRES recall ≥ 0.95 — measured 1.0 at
      // sf0.01 AND sf0.1 (identical sets), 2555/2559 = 0.9984 at sf1
      // (band-candidate recall differs per hash family; Jaccard verify
      // makes precision-vs-threshold structural 1.0 for BOTH). Driver row
      // = pass contract vs a literal oracle; q29 stays the md5 twin.
      import s.implicits._
      val docs = eng(s, dir).table("documents")
      def pairSet(oracle: Boolean) =
        Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 3, k = 12,
            bands = 4, threshold = 0.3, oracleHash = oracle)
          .select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fast = pairSet(false)
      val md5 = pairSet(true)
      val recall = (fast & md5).size.toDouble / math.max(1, md5.size)
      require(recall >= 0.95,
        s"q45 recall contract broken: |fast|=${fast.size} |md5|=${md5.size} recall=$recall < 0.95")
      Seq((12, 4, 95, 1)).toDF(
        "k", "bands", "recall_floor_pct", "recall_ok")
    }),
    "q30_simhash" -> ((s, dir) => {
      val d = eng(s, dir).table("documents")
      d.select(col("doc_id"), Dedup.simhashTokens(col("text")).as("toks"))
        .select(col("doc_id"), Dedup.simhashFromTokens(col("toks")).as("sim"))
        .orderBy("doc_id")
    }),
    "q31_neardup_cosine" -> ((s, dir) => {
      sortReport(Dedup.cosinePairsExact(eng(s, dir).table("embeddings")
          .where(col("vec_id") < 2000), "vec_id", "embedding", 0.4),
        "a", "b")
    }),
    "q44_neardup_lsh" -> ((s, dir) => {
      // the SCALE path for embedding near-dup: sign-LSH bucket join +
      // exact verify (no cross join). Verification is exact, so lsh ⊆
      // exact always; at these OR-band parameters recall is 100% on the
      // gate data (verified deterministically: fixed data + fixed xxhash64)
      // → the oracle is the same exact-pairs SQL as q31.
      sortReport(Dedup.cosinePairsLsh(eng(s, dir).table("embeddings")
          .where(col("vec_id") < 2000), "vec_id", "embedding",
          threshold = 0.4, planes = 32, bandsCount = 16, maxBucket = 100000),
        "a", "b")
    }),
    "q32_vector_search" -> ((s, dir) => {
      val e = eng(s, dir)
      val q = e.table("embeddings").where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      VectorSearch.exact(e.table("embeddings"), "vec_id", "embedding", q,
        topK = 10, metric = "l2")
    }),
    "q33_ann_ivf" -> ((s, dir) => {
      // approximate path promoted to a HARD gate: seeded k-means cells +
      // nprobe=3 probing over the PHYSICALLY clustered layout — the
      // IN-filter on __ivf_cell is a partition filter, so only
      // nprobe/nlist of the files are read (VectorSearchSpec asserts the
      // pruning). The body computes recall@10 vs the exact scan and
      // REQUIRES the floor (measured 0.90 at sf0.01 / 0.70 at sf0.1 →
      // floor 0.60), so the driver row is a pass contract against a
      // literal oracle instead of a rows-only check; q32/q26 remain the
      // hash-matched exact twins.
      import s.implicits._
      val e = eng(s, dir)
      val embs = e.table("embeddings")
      val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
      val tmp = tmpDir("ivf") + "/emb"
      VectorSearch.ivfWriteClustered(embs, "embedding", model, tmp)
      val clustered = s.read.parquet(tmp)
      val q = embs.where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      val ann = VectorSearch.ivfSearch(clustered, model, "vec_id", "embedding",
        q, topK = 10, nprobe = 3).select("pk").collect().map(_.getLong(0)).toSet
      val exact = VectorSearch.exact(embs, "vec_id", "embedding", q,
        topK = 10, metric = "l2").select("pk").collect().map(_.getLong(0)).toSet
      val recall = (ann & exact).size.toDouble / math.max(1, exact.size)
      require(ann.size == 10 && recall >= 0.60,
        s"q33 recall contract broken: |ann|=${ann.size}, recall=$recall < 0.60")
      Seq((10, 8, 3, ann.size, 60, 1)).toDF(
        "top_k", "nlist", "nprobe", "n_results", "recall_floor_pct", "recall_ok")
    }),
    "q55_ann_ivf_recall" -> ((s, dir) => {
      // recall/scan tradeoff report promoted to a HARD gate: per-nprobe
      // recall floors REQUIRED in-body (measured .425/.575/.875/1.0 at
      // sf0.01 and .375/.600/.775/1.0 at sf0.1 → floors 35/55/75/100 pct;
      // nprobe=8 probes every one of the nlist=8 cells so recall 1.0 is
      // STRUCTURAL), plus monotone recall in nprobe — the driver row is a
      // pass contract against a literal oracle. NOTE (unchanged): on
      // near-isotropic embeddings recall ≈ fraction scanned — ANY
      // partition scheme degenerates to that; the floors encode it.
      import s.implicits._
      val e = eng(s, dir)
      val tmp = tmpDir("ivf_rec") + "/emb"
      val rep = VectorSearch.ivfRecallReport(e.table("embeddings"), "vec_id",
          "embedding", tmp, queryIds = 0L until 8L, nprobes = Seq(1, 2, 4, 8),
          topK = 10, nlist = 8)
        .orderBy("nprobe").collect()
        .map(r => r.getAs[Int]("nprobe") -> r.getAs[Double]("recall_at_k"))
      val floors = Seq(1 -> 0.35, 2 -> 0.55, 4 -> 0.75, 8 -> 1.0)
      require(rep.map(_._1).sameElements(floors.map(_._1)),
        s"q55 report rows: ${rep.toSeq}")
      floors.zip(rep).foreach { case ((np, floor), (_, rec)) =>
        require(rec >= floor, s"q55 recall contract broken: nprobe=$np " +
          s"recall=$rec < $floor") }
      require(rep.map(_._2).sameElements(rep.map(_._2).sorted),
        s"q55 recall not monotone in nprobe: ${rep.toSeq}")
      floors.map { case (np, f) => (np, math.round(f * 100).toInt, 1) }
        .toDF("nprobe", "recall_floor_pct", "recall_ok")
    }),
    "q91_pq_recall" -> ((s, dir) => {
      // PQ serving-path recall report promoted to a HARD gate (the PQ
      // counterpart of q55): per-rerankFactor recall floors REQUIRED
      // in-body (measured .3375/.50/.8625/.975 at sf0.01 and
      // .20/.30/.5125/.725 at sf0.1 → floors 15/25/45/65 pct), plus
      // monotone recall in rerankFactor; compression 32× is structural
      // (dim·4 bytes / m codes). Driver row = pass contract vs a literal
      // oracle; q87/q90 remain the hash-matched exact ADC twins.
      import s.implicits._
      val e = eng(s, dir)
      val rep = VectorSearch.pqRecallReport(e.table("embeddings"), "vec_id",
          "embedding", queryIds = 0L until 8L, rerankFactors = Seq(1, 2, 8, 20),
          topK = 10)
        .orderBy("rerank_factor").collect()
        .map(r => (r.getAs[Int]("rerank_factor"), r.getAs[Double]("recall_at_k"),
          r.getAs[Double]("compression_x")))
      val floors = Seq(1 -> 0.15, 2 -> 0.25, 8 -> 0.45, 20 -> 0.65)
      require(rep.map(_._1).sameElements(floors.map(_._1)),
        s"q91 report rows: ${rep.toSeq}")
      floors.zip(rep).foreach { case ((rf, floor), (_, rec, comp)) =>
        require(rec >= floor, s"q91 recall contract broken: rerank=$rf " +
          s"recall=$rec < $floor")
        require(comp == 32.0, s"q91 compression drifted: $comp") }
      require(rep.map(_._2).sameElements(rep.map(_._2).sorted),
        s"q91 recall not monotone in rerankFactor: ${rep.toSeq}")
      floors.map { case (rf, f) => (rf, math.round(f * 100).toInt, 1, 32.0) }
        .toDF("rerank_factor", "recall_floor_pct", "recall_ok", "compression_x")
    }),
    "q34_kv_roundtrip" -> ((s, dir) => {
      val wh = tmpDir("kv")
      val e = Graft.withWarehouse(s, dir, wh)
      val kv = new graft.kv.KvStore(e)
      val seed = e.table("customer").where(col("c_custkey") <= 10)
        .select(col("c_custkey").cast("string"), col("c_name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      kv.setMany(seed)
      kv.set("ephemeral", "gone", ttlMs = Some(1L)) // lazily expired on read
      Thread.sleep(5)
      kv.df.select(col("key"), col("value"))
        .orderBy(col("key").cast("long"))
    }),
    "q35_multimodal" -> ((s, dir) => {
      // text bytes stand in for media payloads: the binary-column plumbing
      // (schema, stats, mapPartitions decode) is real; the codec is the
      // documented deterministic stub.
      val media = eng(s, dir).table("documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("content"))
      val stats = Multimodal.contentStats(media)
        .select(col("media_id"), col("content_len"),
          sha2(col("content"), 256).as("digest"))
      val dims = Multimodal.decodeImages(media).select("media_id", "width", "height")
      stats.join(dims, "media_id").orderBy("media_id")
    }),
    "q36_events_session" -> ((s, dir) => {
      eng(s, dir).table("events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"), col("cnt"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),
    "q37_watch" -> ((s, dir) => {
      // reactive watch: subscribe (initial emission) → publish an event on
      // the watched table → coalesced re-run; final emission is returned.
      val hub = new graft.streaming.WatchHub
      val qb = eng(s, dir).query("orders")
        .whereEqual("o_orderstatus", "O")
        .groupBy("o_orderpriority")
        .agg(Agg.count(alias = "cnt"))
        .orderByAsc("o_orderpriority")
      @volatile var last: Seq[org.apache.spark.sql.Row] = Nil
      val sub = hub.watch(qb)(rows => last = rows)
      hub.publish(graft.streaming.ChangeEvent("insert", "orders", None, None,
        new java.sql.Timestamp(0L)))
      sub.close()
      s.createDataFrame(s.sparkContext.parallelize(last, 1), qb.toDF.schema)
    }),
    // ---- Spark-superset relational extensions (absent in the reference:
    // SURVEY.md §2.5 "grouping sets / cube / rollup: none", "distinct
    // agg: none"; §2.2 no window functions) ------------------------------
    "q38_rollup" -> ((s, dir) => {
      eng(s, dir).table("lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q39_count_distinct" -> ((s, dir) => {
      eng(s, dir).table("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),
    "q40_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      eng(s, dir).table("orders")
        .where(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).cast("long").as("rnk"),
          sum(dec(col("o_totalprice"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q43_sql" -> ((s, dir) => {
      // full ANSI SQL surface (engine superset; oracle = the same text)
      eng(s, dir).sql(
        """SELECT n_name, count(*) AS cnt,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE o_orderstatus = 'O'
           GROUP BY n_name
           ORDER BY n_name""")
    }),
    "q42_json_extract" -> ((s, dir) => {
      // json column access (reference DataType.json stored as free-form
      // text, SURVEY §1.2 — queried via get_json_object/from_json)
      eng(s, dir).table("events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") > 90)
        .orderBy("event_id")
    }),
    "q41_asof_join" -> ((s, dir) => {
      // clicks enriched with the user's latest preceding purchase
      val ev = eng(s, dir).table("events")
      val clicks = ev.where(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.asof(clicks, purchases,
          keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts")
        .orderBy("user_id", "event_id")
    }),

    "q51_events_sliding" -> ((s, dir) => {
      // sliding event-time windows (1h width, 30m slide) — each event lands
      // in width/slide = 2 windows; Spark superset (reference has no
      // event-time semantics, SURVEY §2.11)
      eng(s, dir).table("events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("ws", "event_type")
    }),
    "q52_selectagg_mixed" -> ((s, dir) => {
      // selectAgg: plain fields + Agg objects in ONE projection list —
      // fields act as grouping keys (query_builder.dart:111-126)
      eng(s, dir).query("orders")
        .selectAgg("o_orderstatus", "o_orderpriority",
          Agg.count(alias = "cnt"), Agg.max("o_totalprice", "max_total"))
        .orderByAsc("o_orderstatus", "o_orderpriority")
        .toDF
    }),
    "q89_cache_epoch" -> ((s, dir) => {
      // the query cache's correctness surface (TreeCache semantics,
      // query_executor.dart:42-49): a cached chain result must never
      // survive a write — every write path invalidates, and the epoch
      // check refuses to insert a result computed from a pre-write
      // snapshot. Flow: cached run (miss) → identical run (HIT) → update
      // through the engine (invalidate) → re-run MUST recompute. The
      // hit/miss counters ride along as constant columns so the gate pins
      // the flow (1 hit, 2 misses), not just the final values.
      import graft.schema._
      val wh = tmpDir("q89")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("acct", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("bal", GType.GDouble), FieldSchema("seg", GType.GText))))
      e.insertFrom("acct", e.table("customer").where(col("c_custkey") <= 40)
        .select(col("c_custkey").cast("string").as("id"),
          col("c_acctbal").as("bal"), col("c_mktsegment").as("seg")))
      def chain = e.query("acct")
        .where("bal", ">", 0)
        .selectAgg("seg", Agg.count(alias = "cnt"), Agg.max("bal", "max_bal"))
        .orderByAsc("seg")
      chain.useQueryCache().run() // miss → cached
      chain.useQueryCache().run() // hit: same key, no write in between
      // write through the engine: BUILDING rows zero out → leave bal > 0
      e.update("acct").set("bal", 0.0).where("seg", "=", "BUILDING").apply()
      val post = chain.useQueryCache().run() // invalidated → recompute
      val (_, _, hits, misses) = e.queryCache.stats
      s.createDataFrame(java.util.Arrays.asList(post.data: _*), post.data.head.schema)
        .withColumn("cache_hits", lit(hits))
        .withColumn("cache_misses", lit(misses))
        .orderBy("seg")
    }),
    "q53_upsert_branch" -> ((s, dir) => {
      // upsert Expr branches: isUpdate()/isInsert() + ifElse
      // (expr.dart:121-158) — matched rows get +1000, inserts get 0
      import UExpr._
      val e = eng(s, dir)
      val target = e.table("customer")
      val staged = target.where(col("c_custkey") <= 5)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .union(target.where(col("c_custkey") <= 3)
          .select((col("c_custkey") + 2000000).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
      Writes.upsertMerge(target, staged, Seq("c_custkey"),
          sets = Seq("c_acctbal" -> IfElse(IsUpdate, field("c_acctbal") + value(1000), value(0.0))))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),
    "q54_spaces" -> ((s, dir) => {
      // space isolation + global-table visibility (tostore.dart:529-532):
      // the same table name holds different rows per space; a global table
      // created in one space is readable from another
      import graft.schema._
      val wh = tmpDir("q54")
      val e1 = Graft.withWarehouse(s, dir, wh)
      val e2 = e1.switchSpace("alt")
      val seg = TableSchema("seg", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("name", GType.GText)))
      e1.createTable(seg); e2.createTable(seg)
      e1.createTable(TableSchema("gl", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("name", GType.GText)), isGlobal = true))
      def rowsOf(lo: Int, hi: Int) = e1.table("customer")
        .where(col("c_custkey").between(lo, hi))
        .select(col("c_custkey").cast("string").as("id"), col("c_name").as("name"))
      e1.insertFrom("seg", rowsOf(1, 5))
      e2.insertFrom("seg", rowsOf(6, 10))
      e1.insertFrom("gl", rowsOf(1, 1))
      val tag = (e: Graft, t: String, sp: String) =>
        e.table(t).select(lit(sp).as("space"), col("id"), col("name"))
      tag(e1, "seg", "default")
        .union(tag(e2, "seg", "alt"))
        .union(tag(e2, "gl", "global-via-alt")) // global table crosses spaces
        .orderBy(col("space"), length(col("id")), col("id"))
    }),
    "q56_join_loose" -> ((s, dir) => {
      // loose-typed join keys: TEXT ids joined against BIGINT o_custkey —
      // string-canonical equality (query_executor.dart:1526-1533): "3" ↔ 3
      // matches, the "3.0" decoy row must NOT (native numeric coercion
      // would match it — the divergence this gate pins down)
      import graft.schema._
      val wh = tmpDir("q56")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("cust_str", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("cname", GType.GText))))
      e.insertFrom("cust_str", e.table("customer").where(col("c_custkey") <= 20)
        .select(col("c_custkey").cast("string").as("id"), col("c_name").as("cname")))
      e.insert("cust_str", Map("id" -> "3.0", "cname" -> "decoy"))
      e.query("orders").join("cust_str", "orders.o_custkey", "=", "cust_str.id")
        .groupBy("id")
        .agg(Agg.count(alias = "cnt"))
        .orderByAsc("id")
        .toDF
    }),
    "q57_bulk_ingest" -> ((s, dir) => {
      // scale ingest path end-to-end: lineitem (≈600k rows at sf0.1) flows
      // through insertFrom — executor-side sequential PK assignment via
      // zipWithIndex partition offsets, try_cast coercion, unique split —
      // then aggregates read back from the managed table. The oracle
      // computes the same aggregate straight from lineitem (generated ids
      // are excluded from the output, so the gate hash-checks).
      import graft.schema._
      val wh = tmpDir("q57")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("li_bulk", PrimaryKeyConfig("id", PkStrategy.Sequential),
        Seq(FieldSchema("flag", GType.GText), FieldSchema("qty", GType.GDouble))))
      e.insertFrom("li_bulk", e.table("lineitem")
        .select(col("l_returnflag").as("flag"), col("l_quantity").cast("double").as("qty")))
      // distinct_ids == cnt iff every generated PK is unique — the oracle
      // predicts cnt for both, so an id collision flips the hash gate red
      e.table("li_bulk").groupBy("flag")
        .agg(count(lit(1)).as("cnt"), sum(dec(col("qty"))).cast("double").as("sum_qty"),
          countDistinct(col("id")).as("distinct_ids"))
        .orderBy("flag")
    }),
    "q58_watch_incremental" -> ((s, dir) => {
      // incremental streaming watch: the events table becomes a CDC feed
      // (op/table/before/after/ts), watchAggregate runs a windowed per-key
      // count in UPDATE output mode over it, and the emitted (window, key)
      // rows — only what changed — are the result. Oracle: the same
      // hour-window counts straight off events.
      val base = tmpDir("q58")
      val evs = eng(s, dir).table("events").where(col("event_id") <= 2000)
      evs.select(lit("insert").as("op"), lit("events").as("table"),
          lit(null).cast("string").as("before"),
          to_json(struct(col("user_id"))).as("after"), col("ts"))
        .write.mode("overwrite").parquet(base + "/feed")
      val feed = new graft.streaming.ChangeFeed(
        streaming.StreamTuning.sizedSession(s), base + "/feed")
      @volatile var captured: Seq[org.apache.spark.sql.Row] = Nil
      val q = feed.watchAggregate("events",
        get_json_object(col("after"), "$.user_id"),
        Seq(count(lit(1)).as("cnt")), base + "/ckpt",
        windowWidth = "1 hour", watermark = "0 seconds") { rows => captured = captured ++ rows }
      // stop BEFORE the loud-timeout throw — a leaked running query would
      // hold the checkpoint dir and skew every later gate in this JVM
      val finished58 = q.awaitTermination(120000); q.stop()
      require(finished58,
        "q58_watch_incremental: streaming query did not finish within 120 s")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w_start",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType)))
      val out = captured.map(r => org.apache.spark.sql.Row(
        r.getStruct(0).getTimestamp(0), r.getString(1), r.getLong(2)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy(col("w_start"), col("key").cast("long"))
    }),
    "q59_backup_restore" -> ((s, dir) => {
      // backup → clear → restore roundtrip (tostore.dart:817-839): the
      // restored table must carry exactly the pre-backup rows
      import graft.schema._
      val base = tmpDir("q59")
      val e = Graft.withWarehouse(s, dir, base + "/wh")
      e.createTable(TableSchema("cust_bak", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("cname", GType.GText))))
      e.insertFrom("cust_bak", e.table("customer").where(col("c_custkey") <= 100)
        .select(col("c_custkey").cast("string").as("id"), col("c_name").as("cname")))
      e.backup(base + "/bak")
      e.clear("cust_bak")
      assert(e.table("cust_bak").isEmpty) // cleared before restore
      e.restore(base + "/bak")
      e.table("cust_bak").orderBy(col("id").cast("long"))
    }),
    "q60_fk_cascade" -> ((s, dir) => {
      // FK onDelete=cascade end-to-end on warehouse tables seeded from
      // TESTDATA: deleting customers 1..5 cascades their orders away. The
      // oracle derives the surviving child rows from orders directly.
      import graft.schema._
      val wh = tmpDir("q60")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("cust_c", PrimaryKeyConfig("c_id", PkStrategy.None),
        Seq(FieldSchema("cname", GType.GText))))
      e.createTable(TableSchema("ord_c", PrimaryKeyConfig("o_id", PkStrategy.None),
        Seq(FieldSchema("cust", GType.GText)),
        foreignKeys = Seq(ForeignKeySchema(Seq("cust"), "cust_c", Seq("c_id"),
          onDelete = FkAction.Cascade))))
      e.insertFrom("cust_c", e.table("customer").where(col("c_custkey") <= 50)
        .select(col("c_custkey").cast("string").as("c_id"), col("c_name").as("cname")))
      e.insertFrom("ord_c", e.table("orders").where(col("o_custkey") <= 50)
        .select(col("o_orderkey").cast("string").as("o_id"),
          col("o_custkey").cast("string").as("cust")))
      e.deleteEnforced("cust_c",
        graft.expr.Cond.Leaf("c_id", "IN", Seq("1", "2", "3", "4", "5")))
      e.table("ord_c").orderBy(col("o_id").cast("long"))
    }),
    "q61_sessionize" -> ((s, dir) => {
      // custom-state sessionization (Stateful.sessionsBatch — the offline
      // twin of the flatMapGroupsWithState streaming operator): split each
      // user's event stream on >30 min inactivity gaps
      graft.streaming.Stateful.sessionsBatch(
          eng(s, dir).table("events"), "user_id", "ts", gapMs = 30 * 60000L)
        .orderBy("key", "session_start")
    }),
    "q62_migration" -> ((s, dir) => {
      // schema auto-migration end-to-end (table_schema "Instance Schema
      // Auto Upgrade"): add a defaulted column, cast a column's type, drop
      // a column — the rewritten table must match the declared v2 schema
      import graft.schema._
      val wh = tmpDir("q62")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("mig", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("name", GType.GText), FieldSchema("dropme", GType.GText),
          FieldSchema("qty", GType.GInteger))))
      e.insertFrom("mig", e.table("customer").where(col("c_custkey") <= 30)
        .select(col("c_custkey").cast("string").as("id"), col("c_name").as("name"),
          lit("x").as("dropme"), col("c_nationkey").as("qty")))
      e.migrateTable(TableSchema("mig", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("name", GType.GText),
          FieldSchema("qty", GType.GDouble), // cast int → double
          FieldSchema("status", GType.GText, defaultValue = Some("active"))))) // added
      e.table("mig").orderBy(col("id").cast("long"))
    }),
    "q239_migration_task" -> ((s, dir) => {
      // async-facade migration parity (tostore.dart:1083-1124): the SAME
      // updateSchema chain applied across three spaces via applyAsync(),
      // the returned task id polled with queryMigrationTaskStatus, and
      // the per-space data verified post-migration (rename preserved the
      // data, the added column defaulted) — task columns are the pass
      // contract, data columns the oracle-recomputed slices
      import graft.schema._
      val wh = tmpDir("q239")
      val e = Graft.withWarehouse(s, dir, wh)
      val ranges = Seq("default" -> (1, 20), "beta" -> (21, 40), "gamma" -> (41, 60))
      ranges.foreach { case (sp, (lo, hi)) =>
        val se = e.switchSpace(sp)
        se.createTable(TableSchema("mig2", PrimaryKeyConfig("id", PkStrategy.None),
          Seq(FieldSchema("name", GType.GText), FieldSchema("qty", GType.GInteger))))
        se.insertFrom("mig2", e.table("customer")
          .where(col("c_custkey").between(lo, hi))
          .select(col("c_custkey").cast("string").as("id"),
            col("c_name").as("name"), col("c_nationkey").as("qty")))
      }
      val tid = e.updateSchema("mig2")
        .renameField("qty", "quantity")
        .addField("status", GType.GText, defaultValue = Some("active"))
        .applyAsync()
      val st = e.queryMigrationTaskStatus(tid).get
      require(st.isCompleted && st.pendingSpaces.isEmpty
          && st.progressPercentage == 100.0,
        s"q239 migration task not complete: $st")
      require(e.queryMigrationTaskStatus("no-such-task").isEmpty)
      ranges.map(_._1).map { sp =>
        e.switchSpace(sp).table("mig2").agg(
            count(lit(1)).as("n_rows"),
            sum(col("quantity").cast("long")).as("sum_qty"),
            sum(when(col("status") === "active", 1L).otherwise(0L)).as("n_active"))
          .withColumn("space", lit(sp))
      }.reduce(_ unionByName _)
        .select(col("space"), col("n_rows"), col("sum_qty"), col("n_active"),
          lit(tid).as("task_id"),
          lit(if (st.isCompleted) 1 else 0).as("is_completed"),
          lit(st.processedSpacesCount).as("processed_spaces"),
          lit(st.totalSpacesCount).as("total_spaces"),
          lit(st.totalRecordsProcessed).as("records_processed"),
          lit(st.pendingSpaces.size).as("pending_spaces"))
        .orderBy("space")
    }),
    "q63_fk_onupdate" -> ((s, dir) => {
      // FK onUpdate=cascade end-to-end: rewriting parent keys rewrites the
      // child FK columns through the mapping join (two-phase, restrict
      // checked first). Keys 1 and 2 move to 9001/9002; children follow.
      import graft.schema._
      import graft.expr.UExpr.value
      val wh = tmpDir("q63")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("cust_u", PrimaryKeyConfig("c_id", PkStrategy.None),
        Seq(FieldSchema("cname", GType.GText))))
      e.createTable(TableSchema("ord_u", PrimaryKeyConfig("o_id", PkStrategy.None),
        Seq(FieldSchema("cust", GType.GText)),
        foreignKeys = Seq(ForeignKeySchema(Seq("cust"), "cust_u", Seq("c_id"),
          onUpdate = FkAction.Cascade))))
      e.insertFrom("cust_u", e.table("customer").where(col("c_custkey") <= 30)
        .select(col("c_custkey").cast("string").as("c_id"), col("c_name").as("cname")))
      e.insertFrom("ord_u", e.table("orders").where(col("o_custkey") <= 30)
        .select(col("o_orderkey").cast("string").as("o_id"),
          col("o_custkey").cast("string").as("cust")))
      e.updateEnforced("cust_u", Seq("c_id" -> value("9001")),
        Cond.Leaf("c_id", "=", "1"))
      e.updateEnforced("cust_u", Seq("c_id" -> value("9002")),
        Cond.Leaf("c_id", "=", "2"))
      e.table("ord_u").orderBy(col("o_id").cast("long"))
    }),
    "q64_fk_autojoin" -> ((s, dir) => {
      // FK auto-join: the ON clause comes from the DECLARED foreign key
      // (query_builder.dart:851-951) — no keys at the call site
      import graft.schema._
      val wh = tmpDir("q64")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("cust_f", PrimaryKeyConfig("c_id", PkStrategy.None),
        Seq(FieldSchema("cname", GType.GText))))
      e.createTable(TableSchema("ord_f", PrimaryKeyConfig("o_id", PkStrategy.None),
        Seq(FieldSchema("cust", GType.GText)),
        foreignKeys = Seq(ForeignKeySchema(Seq("cust"), "cust_f", Seq("c_id")))))
      e.insertFrom("cust_f", e.table("customer").where(col("c_custkey") <= 30)
        .select(col("c_custkey").cast("string").as("c_id"), col("c_name").as("cname")))
      e.insertFrom("ord_f", e.table("orders").where(col("o_custkey") <= 30)
        .select(col("o_orderkey").cast("string").as("o_id"),
          col("o_custkey").cast("string").as("cust")))
      e.query("ord_f").joinWithForeignKey("cust_f")
        .select("o_id", "cust", "cname")
        .noDefaultLimit.toDF
        .orderBy(col("o_id").cast("long"))
    }),
    "q65_jaccard_pairs" -> ((s, dir) => {
      // EXACT n-gram Jaccard dedup (prefix-filtered posting join — no
      // hashing, 100% recall). Oracle is the brute-force all-pairs scan,
      // so a prefix filter that loses a single pair goes red.
      sortReport(Dedup.jaccardPairs(eng(s, dir).table("documents"),
          "doc_id", "text", shingleN = 3, threshold = 0.3),
        "a", "b")
    }),
    "q67_cluster_dedup" -> ((s, dir) => {
      // cluster-level dedup end-to-end: exact n-gram Jaccard pairs →
      // connected components (distributed hash-min + pointer jumping, no
      // driver union-find) → keeper = longest member (ties min id). The
      // oracle recomputes the SAME pairs and walks them with a recursive
      // min-label CTE, so a wrong component or keeper goes red — including
      // transitive chains the pair list never states directly.
      val docs = eng(s, dir).table("documents")
      // pin the pair list: dedupClusters AND the paired-docs restriction
      // below both consume it — without the checkpoint the exact-Jaccard
      // join would run twice
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.4).localCheckpoint(true)
      val verts = pairs.select(col("a").as("doc_id"))
        .union(pairs.select(col("b").as("doc_id"))).distinct()
      Dedup.dedupClusters(docs, "doc_id", pairs, "a", "b",
          keeperOrder = Seq(length(col("text")).desc))
        .join(verts, Seq("doc_id"), "left_semi") // bounded: paired docs only
        .select(col("component"), col("doc_id"), col("is_keeper"))
        .orderBy("component", "doc_id")
    }),
    "q68_stream_iter" -> ((s, dir) => {
      // streamRecords/asStream iterator path end-to-end: rows arrive via
      // toLocalIterator (server-side cursor shape), get re-assembled here,
      // and must equal the set-based oracle — a dropped/duplicated batch
      // or a broken iterator projection goes red
      val it = eng(s, dir).query("orders")
        .where("o_totalprice", ">", 480000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderByAsc("o_orderkey")
        .asStream
      val rows = it.toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    }),
    "q69_insert_split" -> ((s, dir) => {
      // batch-insert validation split end-to-end (allowPartialErrors):
      // every 7th row stages an unparseable integer; the surviving table
      // must be exactly the parseable subset
      import graft.schema._
      val wh = tmpDir("q69")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("ins", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("sz", GType.GInteger))))
      val src = eng(s, dir).table("part").select(
        col("p_partkey").cast("string").as("id"),
        when(col("p_partkey") % 7 === 0, lit("not-a-number"))
          .otherwise(col("p_size").cast("string")).as("sz"))
      val rep = e.insertFrom("ins", src, allowPartialErrors = true)
      require(rep.failedCount > 0, "q69 expects a non-empty failed split")
      e.table("ins").orderBy(col("id").cast("long"))
    }),
    "q70_self_join" -> ((s, dir) => {
      // self-join through the 'table as alias' target (reference repeated-
      // target aliasing): nations paired with same-region nations
      eng(s, dir).query("nation")
        .join("nation as n2", "nation.n_regionkey", "=", "n2.n_regionkey")
        .select("nation.n_name as left_name", "n2.n_name as right_name")
        .noDefaultLimit
        .toDF
        .orderBy("left_name", "right_name")
    }),
    "q71_default_limit" -> ((s, dir) => {
      // default-limit 1000 + hasMore limit+1 probe, gated: the page rows
      // AND the probe's verdict both ride in the output (has_more = 1 must
      // agree with the oracle's total > 1000)
      val res = eng(s, dir).query("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderByAsc("o_orderkey")
        .run()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("has_more",
          org.apache.spark.sql.types.IntegerType)))
      val rows = res.data.map(r => org.apache.spark.sql.Row(
        r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
        r.getAs[Double]("o_totalprice"), if (res.hasMore) 1 else 0))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    }),
    "q72_update_sugar" -> ((s, dir) => {
      // UpdateBuilder chain sugar desugars to the Expr AST write path:
      // increment + clampTo + maxWith applied to a warehouse copy
      import graft.schema._
      val wh = tmpDir("q72")
      val e = Graft.withWarehouse(s, dir, wh)
      e.createTable(TableSchema("acct", PrimaryKeyConfig("id", PkStrategy.None),
        Seq(FieldSchema("bal", GType.GDouble), FieldSchema("tier", GType.GInteger))))
      e.insertFrom("acct", eng(s, dir).table("customer").where(col("c_custkey") <= 50)
        .select(col("c_custkey").cast("string").as("id"),
          col("c_acctbal").as("bal"), (col("c_custkey") % 5).as("tier")))
      e.update("acct")
        .increment("bal", 100)
        .clampTo("bal", 0, 5000)
        .maxWith("tier", 2)
        .where("id", "!=", "1")
        .apply()
      e.table("acct").orderBy(col("id").cast("long"))
    }),
    "q87_pq_adc" -> ((s, dir) => {
      // true product quantization: 8 subspaces × 16 centroids (32× smaller
      // codes), ADC lookup-table candidate scan, full-precision re-rank —
      // with a 20× re-rank window the result must EQUAL the exact oracle
      // (same contract as q73); codebook k-means is seed-deterministic
      val e = eng(s, dir)
      val q = e.table("embeddings").where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      val model = VectorSearch.pqTrain(e.table("embeddings"), "embedding",
        m = 8, k = 16)
      val coded = e.table("embeddings")
        .withColumn("pq", VectorSearch.pqEncode(model, col("embedding")))
      VectorSearch.pqSearch(coded, "vec_id", "pq", "embedding", model, q,
        topK = 10, metric = "l2", rerankFactor = 20)
    }),
    "q90_pq_batch" -> ((s, dir) => {
      // the PQ SERVING shape end-to-end: train once, PERSIST the
      // codebooks (pqSave → pqLoad — the loaded model serves, no
      // re-train per process), then ONE batched job for the whole query
      // set (broadcast per-query ADC LUTs, per-query window, one bounded
      // exact re-rank). With a 20× re-rank window every query's rows must
      // EQUAL the exact per-query oracle (q87's contract, ×3 queries).
      val e = eng(s, dir)
      val embs = e.table("embeddings")
      val trained = VectorSearch.pqTrain(embs, "embedding", m = 8, k = 16)
      val mpath = tmpDir("pq_model") + "/m"
      VectorSearch.pqSave(trained, s, mpath)
      val model = VectorSearch.pqLoad(s, mpath)
      val qs = embs.where(col("vec_id").isin(3L, 7L, 11L))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq.sortBy(_._1)
      val coded = embs.withColumn("pq", VectorSearch.pqEncode(model, col("embedding")))
      VectorSearch.pqSearchBatch(coded, "vec_id", "pq", "embedding", model, qs,
          topK = 10, metric = "l2", rerankFactor = 20)
        .orderBy("qid", "rank")
    }),
    "q73_int8_rerank" -> ((s, dir) => {
      // two-stage int8-quantized search: stage 1 ranks on the 4×-smaller
      // quantized column, stage 2 re-ranks candidates at full precision —
      // with a 20× re-rank window the result must EQUAL the exact oracle
      // (q32's shape), so quantization error surviving re-rank goes red
      val e = eng(s, dir)
      val q = e.table("embeddings").where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      val quant = e.table("embeddings")
        .withColumn("q8", VectorSearch.quantizeInt8(col("embedding")))
      VectorSearch.searchQuantized(quant, "vec_id", "q8", "embedding", q,
        topK = 10, metric = "l2", rerankFactor = 20)
    }),
    "q75_hash_split" -> ((s, dir) => {
      // deterministic md5-bucket split + sample: the engine and the oracle
      // derive the SAME assignment from the id alone (no RNG, partition-
      // invariant) — train/val/test are disjoint+exhaustive, the sampled
      // flag is an independent 20% draw under a different salt
      val docs = eng(s, dir).table("documents")
      graft.pipeline.Sampling.assignSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"),
          graft.pipeline.Sampling.sampledFlag(col("doc_id"), 0.2).cast("int")
            .as("sampled"))
        .orderBy("doc_id")
    }),
    "q76_chunking" -> ((s, dir) => {
      // context-window chunking: 64-token windows, 16-token overlap — the
      // oracle re-derives every window boundary with DuckDB list slicing,
      // so an off-by-one in starts, lengths or the short final chunk goes
      // red. Pure narrow ops (no shuffle; see TextAnalysis.chunkByTokens).
      TextAnalysis.chunkByTokens(eng(s, dir).table("documents"),
          "doc_id", "text", tokensPerChunk = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    }),
    "q77_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals: duplicate-word fraction +
      // top-bigram share. The oracle recomputes the bigram mode with an
      // explode→count→argmax plan; the engine computes it per row as the
      // longest equal-run of the sorted bigram array (shuffle-free) — any
      // disagreement between the two formulations goes red.
      TextAnalysis.repetitionSignals(eng(s, dir).table("documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
    "q78_pii_redact" -> ((s, dir) => {
      // PII scrub: the corpus carries no PII, so engine AND oracle inject
      // the same deterministic email/phone/IP triple (derived from doc_id) into
      // every third doc, then the operator under test must count and
      // redact them identically — regex dialect drift (RE2 vs java.util
      // .regex) or a missed occurrence goes red on the full text hash.
      val d = eng(s, dir).table("documents")
      val injected = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@mail.example or call 555-123-4567 from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".7")))
        .otherwise(col("text"))
      d.select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"), TextAnalysis.piiCounts(col("t")).as("c"),
          TextAnalysis.redactPii(col("t")).as("redacted"))
        .select(col("doc_id"), col("c.email_cnt").as("email_cnt"),
          col("c.phone_cnt").as("phone_cnt"), col("c.ip_cnt").as("ip_cnt"),
          col("redacted"))
        .orderBy("doc_id")
    }),
    "q93_strip_markup" -> ((s, dir) => {
      // web-corpus markup strip: the corpus carries no HTML, so engine AND
      // oracle wrap the same deterministic markup (script/style blocks,
      // comments, attributes, entities) around doc_id-selected docs; the
      // operator must strip and entity-decode to an identical full-text
      // hash — a regex-dialect drift or ordering change goes red
      val d = eng(s, dir).table("documents")
      val injected = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("<html><head><style>body{color:red}</style>" +
              "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
              "</head><body><!-- c --><h1 id=\"t\">T"),
            col("doc_id").cast("string"),
            lit("</h1><p>"), col("text"),
            lit(" &amp;lt; &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("<div class='a' data-x=\"1\">"), col("text"), lit("</div><br/>")))
        .otherwise(col("text"))
      d.select(col("doc_id"), TextAnalysis.stripMarkup(injected).as("cleaned"))
        .orderBy("doc_id")
    }),
    "q94_mix_sources" -> ((s, dir) => {
      // deterministic source-weighted corpus mixing (the C4-style data
      // recipe): per-source keep rates compiled to ONE codegen CASE over
      // the same md5 bucket key as q75 — assignment is a pure function of
      // (id, salt), reproducible across runs, engines and partitionings,
      // and adding data later never flips existing verdicts
      graft.pipeline.Sampling.sampleStratified(
          eng(s, dir).table("documents"), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0),
          defaultFraction = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),
    "q95_audio_wav" -> ((s, dir) => {
      // REAL WAV decode gate: deterministic square-wave PCM16 WAVs
      // synthesized per doc_id (every stat is a closed form of the id),
      // then decoded back through the full RIFF chunk walk — the oracle
      // recomputes the stats arithmetically, so a header-offset,
      // byte-order or normalization bug in WavCodec cannot hash-match.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.WavCodec.synthesizeSquare(id))))
        .toDF("media_id", "content")
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("duration_ms"),
          round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"),
          col("zero_crossings"))
        .orderBy("media_id")
    }),
    "q96_graph_ann" -> ((s, dir) => {
      // the reference's ACTUAL index family (Vamana-style NGH graph,
      // ngh_graph_engine.dart:14-23) as shard-local graphs + beam search.
      // This gate pins the EXACT-degeneration regime: ring connectivity +
      // efSearch ≥ shard size make beam search provably equal the scan,
      // so build, serving and the merge window HASH-MATCH the brute-force
      // oracle; q97 publishes recall for the approximate regime.
      val e = eng(s, dir)
      val embs = e.table("embeddings")
      val graph = GraphAnn.graphBuild(embs, "vec_id", "embedding",
        shards = 4, maxDegree = 8, efConstruction = 24)
      val qs = embs.where(col("vec_id").isin(3L, 7L, 11L))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq.sortBy(_._1)
      GraphAnn.graphSearchBatch(graph, qs, topK = 10, efSearch = 1000000,
        assumeColocated = true).orderBy("qid", "rank")
    }),
    "q97_graph_recall" -> ((s, dir) => {
      // graph-ANN recall report promoted to a HARD gate (approximate
      // regime of q96, which stays the hash-matched exact twin):
      // per-efSearch recall floors REQUIRED in-body (measured
      // .8667/1.0/1.0 at sf0.01 and .4333/.7667/1.0 at sf0.1 → floors
      // 35/60/95 pct), plus monotone recall in efSearch. Driver row =
      // pass contract vs a literal oracle.
      import s.implicits._
      val rep = GraphAnn.graphRecallReport(eng(s, dir).table("embeddings"),
          "vec_id", "embedding", queryIds = Seq(3L, 7L, 11L),
          efs = Seq(8, 32, 128), topK = 10,
          shards = 4, maxDegree = 8, efConstruction = 24)
        .orderBy("ef_search").collect()
        .map(r => r.getAs[Int]("ef_search") -> r.getAs[Double]("recall_at_k"))
      val floors = Seq(8 -> 0.35, 32 -> 0.60, 128 -> 0.95)
      require(rep.map(_._1).sameElements(floors.map(_._1)),
        s"q97 report rows: ${rep.toSeq}")
      floors.zip(rep).foreach { case ((ef, floor), (_, rec)) =>
        require(rec >= floor, s"q97 recall contract broken: efSearch=$ef " +
          s"recall=$rec < $floor") }
      require(rep.map(_._2).sameElements(rep.map(_._2).sorted),
        s"q97 recall not monotone in efSearch: ${rep.toSeq}")
      floors.map { case (ef, f) => (ef, math.round(f * 100).toInt, 1, 8, 4) }
        .toDF("ef_search", "recall_floor_pct", "recall_ok", "max_degree", "shards")
    }),
    "q98_mp4_probe" -> ((s, dir) => {
      // REAL ISO-BMFF metadata gate (q95's contract for the mp4
      // container): deterministic ftyp+moov/mvhd boxes synthesized per
      // doc_id (odd ids exercise the 64-bit mvhd v1 layout), probed back
      // through the full box walk — the oracle recomputes duration and
      // track count arithmetically, so a big-endian or box-offset bug in
      // Mp4Probe cannot hash-match.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.Mp4Probe.synthesize(id))))
        .toDF("media_id", "content")
      Multimodal.probeMedia(media).orderBy("media_id")
    }),
    "q99_webm_probe" -> ((s, dir) => {
      // REAL EBML/Matroska metadata gate (q98's contract for webm):
      // deterministic EBML trees per doc_id — odd ids use a 0.5 ms
      // TimecodeScale (doubled ticks, same ms), ids ≡ 0 (mod 3) write
      // float32 durations — probed back through the full varint walk;
      // the oracle recomputes duration/tracks arithmetically.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.EbmlProbe.synthesize(id))))
        .toDF("media_id", "content")
      Multimodal.probeMedia(media).orderBy("media_id")
    }),
    "q100_audio_spectrum" -> ((s, dir) => {
      // REAL frequency-domain gate: sine fixtures with EXACTLY k periods
      // per analysis window put all DFT energy in bin k (quantization
      // noise ~1e-11 relative — far under the 2-decimal rounding), so
      // dominant bin and spectral centroid have closed forms the oracle
      // recomputes; a DFT indexing or windowing bug cannot hash-match.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.WavCodec.synthesizeSine(id))))
        .toDF("media_id", "content")
      Multimodal.audioSpectrum(media)
        .select(col("media_id"), col("dominant_bin"),
          round(col("dominant_hz"), 2).as("dominant_hz"),
          round(col("centroid_hz"), 2).as("centroid_hz"))
        .orderBy("media_id")
    }),
    "q101_shared_spans" -> ((s, dir) => {
      // exact shared-substring dedup (Lee et al. substring-dedup family):
      // 50-char sliding spans, one bucket shuffle, no doc×doc join. Gate
      // mode buckets on the span STRING so DuckDB reproduces it
      // byte-exactly; `hashed = true` is the narrow-shuffle scale twin
      // (spec-pinned equal on this data).
      Dedup.sharedSpanPairs(eng(s, dir).table("documents"), "doc_id", "text",
          spanLen = 50, maxBucket = 100000)
        .orderBy("a", "b")
    }),
    "q102_flac_probe" -> ((s, dir) => {
      // REAL FLAC STREAMINFO gate (q98's contract for flac): sample rate,
      // channels and total samples sit at fixed bit offsets in the
      // mandatory first metadata block, so duration is EXACT without
      // decoding a single frame; the oracle recomputes the closed forms —
      // a bit-offset bug in the 20/3/36-bit slicing cannot hash-match.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.FlacProbe.synthesize(id))))
        .toDF("media_id", "content")
      Multimodal.probeMedia(media).orderBy("media_id")
    }),
    "q103_image_phash" -> ((s, dir) => {
      // REAL perceptual-hash gate (q95's contract for images):
      // deterministic BMPs whose 9×8 brightness grid realizes a
      // closed-form dHash per doc_id, pushed through the full
      // javax.imageio decode → box-downsample → difference-hash chain —
      // the oracle recomputes every bit arithmetically, so a row-order,
      // luma or box-boundary bug in PHash cannot hash-match.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.BmpCodec.synthesize(id))))
        .toDF("media_id", "content")
      Multimodal.imagePHash(media).orderBy("media_id")
    }),
    "q104_image_neardup" -> ((s, dir) => {
      // image near-dup at corpus scale: dHash → 4×16-bit band bucket
      // join → exact hamming verify. Banding is EXACT for hamming ≤ 3
      // (pigeonhole), so the oracle is the brute-force pair set — ids
      // equal mod 256 differ only at their two flip bits (hamming 2) by
      // the synthesizer's construction.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.BmpCodec.synthesize(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.imagePHash(media).where(col("ph_hi").isNotNull)
      Dedup.hammingPairs64(hashes, "media_id", "ph_hi", "ph_lo", maxHamming = 2)
        .orderBy("a", "b")
    }),
    "q105_image_cluster" -> ((s, dir) => {
      // image-dedup capstone: decode → dHash → banded hamming pairs →
      // connected components → keeper = min id per cluster. The oracle
      // re-walks the closed-form pair set with a recursive min-label CTE
      // (the q67 discipline), so a wrong component, a lost transitive
      // chain, or a mis-ranked keeper goes red end-to-end.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.BmpCodec.synthesize(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.imagePHash(media).where(col("ph_hi").isNotNull)
      // pin the pair list: components AND the paired-media restriction
      // both consume it
      val pairs = Dedup.hammingPairs64(hashes, "media_id", "ph_hi", "ph_lo",
        maxHamming = 2).localCheckpoint(true)
      val verts = pairs.select(col("a").as("media_id"))
        .union(pairs.select(col("b").as("media_id"))).distinct()
      Dedup.dedupClusters(media.select("media_id"), "media_id", pairs, "a", "b")
        .join(verts, Seq("media_id"), "left_semi") // bounded: paired media only
        .select(col("component"), col("media_id"), col("is_keeper"))
        .orderBy("component", "media_id")
    }),
    "q106_image_probe" -> ((s, dir) => {
      // header-sniff dimension probe across all four still formats: each
      // doc_id gets a REAL payload (hand-built BMP or stock-ImageIO
      // png/jpeg/gif) with closed-form dims, and ImageProbe must read
      // format/width/height back from the header bytes alone — a
      // wrong-endian, wrong-offset or SOF-walk bug cannot hash-match.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val w = 16 + (id % 17).toInt; val h = 16 + ((id / 17) % 13).toInt
        val bytes = (id % 4) match {
          case 0 => Multimodal.BmpCodec.synthesize(id, cell = 1 + (id % 3).toInt)
          case 1 => Multimodal.ImageIoCodec.encodeSolid("png", w, h, id)
          case 2 => Multimodal.ImageIoCodec.encodeSolid("jpeg", w, h, id)
          case _ => Multimodal.ImageIoCodec.encodeSolid("gif", w, h, id)
        }
        (id, bytes)
      }).toDF("media_id", "content")
      Multimodal.probeImages(media).orderBy("media_id")
    }),
    "q107_image_neardup_blocked" -> ((s, dir) => {
      // the corpus-scale twin of q104: Manku-style C(6,3)-table block
      // keys (~32-bit) instead of 16-bit bands — same exact-recall
      // contract at hamming ≤ 3 (pigeonhole over blocks), measured to
      // stay out of the banding birthday regime past n~10⁵ (BASELINE.md
      // phash rehearsal). Oracle = brute-force pair set at ≤ 3.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.BmpCodec.synthesize(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.imagePHash(media).where(col("ph_hi").isNotNull)
      Dedup.hammingPairsBlocked(hashes, "media_id", "ph_hi", "ph_lo",
        maxHamming = 3).orderBy("a", "b")
    }),
    "q108_simhash_neardup" -> ((s, dir) => {
      // SimHash near-dup PAIRS at the corpus-scale default (h=3, C(6,3)
      // tables): until now only the signatures were gated (q30) — this
      // gates the pairing end-to-end against a brute-force BIT-xor
      // oracle over the same signatures. Real near-dup families in
      // TESTDATA land 1026 pairs at sf0.01, so recall loss goes red.
      Dedup.simhashPairsBlocked(eng(s, dir).table("documents"),
        "doc_id", "text", maxHamming = 3).orderBy("a", "b")
    }),
    "q109_image_search" -> ((s, dir) => {
      // query-by-image: rank the corpus by hamming distance to doc 7's
      // dHash through the REAL decode chain; a straight XOR+popcount
      // scan into TakeOrderedAndProject — at 10⁹ rows still the plan of
      // choice. Oracle recomputes every hash arithmetically and
      // brute-ranks with the same id tie-break.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.BmpCodec.synthesize(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.imagePHash(media).where(col("ph_hi").isNotNull)
      val q = hashes.where(col("media_id") === 7L)
        .select("ph_hi", "ph_lo").head
      Dedup.hammingTopK(hashes, "media_id", "ph_hi", "ph_lo",
          q.getLong(0), q.getLong(1), topK = 10)
        .withColumnRenamed("id", "media_id")
        .orderBy("hamming", "media_id")
    }),
    "q111_image_stream_dedup" -> ((s, dir) => {
      // streaming image near-dup end-to-end — q88's two-phase replay for
      // the hash firehose: phase 1 feeds the batch KEEPER set (min-id per
      // block-key collision pair), phase 2 the full corpus 2000 s later;
      // the stream's survivors must equal the keepers. Gate parameters
      // h=2/b=4 (6 chained stages, 16-bit-aligned blocks the oracle
      // recomputes with shifts); production default stays h=3/b=6.
      // Keeper-first determinism needs collision components to be
      // CLIQUES (then phase-1 keepers are pairwise collision-free and
      // every phase-2 arrival hits a direct edge into state, so the
      // survivor set is order-independent). The planted families ARE
      // cliques at every sf — pairs at sf0.01, ~20-member families at
      // sf0.1 — and the gate REQUIREs it loudly rather than assuming it.
      import s.implicits._
      val base = tmpDir("q111")
      // bounded slice (the q44 discipline): past ~3.9k docs the fixture's
      // fixed pattern space produces a cross-family bridge (ids
      // 3992↔4249 at sf0.1) that breaks cliqueness; the slice keeps the
      // gate deterministic at every sf while the require below stays the
      // loud guard
      val ids = graft.functions.GraftFunctions.fanOut(eng(s, dir)
        .table("documents")
        .where(col("doc_id") < 3000).select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.BmpCodec.synthesize(id))))
        .toDF("media_id", "content")
      val hashes = Multimodal.imagePHash(media).where(col("ph_hi").isNotNull)
        .select("media_id", "ph_hi", "ph_lo").localCheckpoint(true)
      val pairs = Dedup.hashBlockCollisionPairs(hashes, "media_id",
        "ph_hi", "ph_lo", maxHamming = 2, blocks = 4).localCheckpoint(true)
      val comp = Dedup.connectedComponents(pairs, "a", "b")
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("m"))
      val edgeCnt = pairs
        .join(comp.withColumnRenamed("id", "a"), "a")
        .groupBy("component").agg(count(lit(1)).as("e"))
      val nonClique = sizes.join(edgeCnt, "component")
        .where(col("e") =!= col("m") * (col("m") - 1) / 2).count()
      require(nonClique == 0, s"q111 precondition broke: $nonClique collision " +
        "components are not cliques — keeper-first survivor identity is " +
        "order-dependent there")
      val nonKeepers = pairs.select(col("b").as("media_id")).distinct()
      val keepers = hashes.join(nonKeepers, Seq("media_id"), "left_anti")
      def at(off: org.apache.spark.sql.Column) =
        timestamp_seconds(lit(1767225600L) + (off % 1000))
      val p1 = keepers.select(col("media_id"), col("ph_hi"), col("ph_lo"),
        at(col("media_id")).as("ts"))
      p1.coalesce(1).write.mode("overwrite").parquet(base + "/feed")
      val feedDir = new java.io.File(base + "/feed")
      def parts = feedDir.listFiles().filter(_.getName.endsWith(".parquet"))
      val phase1Names = parts.map(_.getName).toSet
      val t0 = 1700000000000L
      parts.foreach(f => { f.setLastModified(t0): Unit })
      hashes.select(col("media_id"), col("ph_hi"), col("ph_lo"),
          (at(col("media_id")) + expr("INTERVAL 2000 SECONDS")).as("ts"))
        .coalesce(1).write.mode("append").parquet(base + "/feed")
      parts.filterNot(f => phase1Names.contains(f.getName))
        .foreach(f => { f.setLastModified(t0 + 600000L): Unit })
      // stream runs in a state-sized session (StreamTuning Scaladoc: the
      // 32-partition default pays ~32 fsyncs of state delta per batch for
      // tiny state — measured 6-17x of the whole batch)
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(p1.schema)
        .option("maxFilesPerTrigger", "1").parquet(base + "/feed")
      val q = Dedup.dedupStreamHashes(stream, "ph_hi", "ph_lo", "ts",
          watermark = "6 hours", maxHamming = 2, blocks = 4)
        .select("media_id")
        .writeStream.format("memory").queryName("q111_hashdedup_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q111_image_stream_dedup: stream did not finish in 120 s")
      ss.table("q111_hashdedup_mem").orderBy("media_id")
    }),
    "q117_bm25_search" -> ((s, dir) => {
      // lexical retrieval: Okapi BM25 (Lucene idf variant) over the
      // shared whitespace tokenizer; filtered-explode tf, broadcast df
      // and corpus scalars, TakeOrdered top-K
      graft.pipeline.CorpusStats.bm25Search(eng(s, dir).table("documents"),
        "doc_id", "text", terms = Seq("spark", "vector", "stream"),
        topK = 10)
    }),
    "q161_event_paths" -> ((s, dir) => {
      // top-20 consecutive event trigrams: one user-partitioned window
      // pass + a |types|³-bounded rollup; (cnt desc, path) total order
      graft.operators.EventPaths.topSequences(
          eng(s, dir).table("events"), "user_id", "ts", "event_type",
          tieCol = "event_id", n = 3, topK = 20)
    }),
    "q162_transitions" -> ((s, dir) => {
      // first-order Markov matrix with per-source probabilities — the
      // lead() pairing and the normalizing window both replayed by the
      // oracle
      graft.operators.EventPaths.transitions(
          eng(s, dir).table("events"), "user_id", "ts", "event_type",
          tieCol = "event_id")
        .orderBy("prev", "next")
    }),
    "q203_survival" -> ((s, dir) => {
      // Kaplan-Meier time-to-first-purchase with right censoring (users
      // who never purchase survived AT LEAST their observed horizon —
      // information a plain mean discards); the running product runs as
      // exp of a DECIMAL-summed 12dp log chain, zero-survival handled by
      // flag, never ln(0)
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"))
      graft.operators.Survival.kaplanMeier(subjects, "dur", col("ev"))
        .orderBy("t")
    }),
    "q204_holt_forecast" -> ((s, dir) => {
      // Holt level+trend forecast of daily revenue per priority with
      // α=β=1/2: halving weights keep every smoothing step EXACT integer
      // arithmetic (`div` truncation is the published contract), so the
      // inherently-sequential fit is bit-reproducible — it runs as an
      // ordered codegen fold per key, series bounded by the calendar
      val daily = eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority").as("key"),
          date_trunc("DAY", col("o_orderdate")).cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.holt(daily, "key", "t", "units",
          horizons = Seq(1, 7, 28))
        .orderBy("key")
    }),
    "q205_seasonal_dow" -> ((s, dir) => {
      // day-of-week seasonal decomposition of daily revenue: centered
      // 7-day MA trend, deviations kept as exact integers (7·x − Σ±3)
      // and summed per weekday; weekday from pure epoch-day arithmetic
      // so no engine DOW convention is involved
      val daily = eng(s, dir).table("orders")
        .groupBy(date_trunc("DAY", col("o_orderdate")).cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.seasonalDow(daily, "t", "units")
        .orderBy("dow")
    }),
    "q206_hll_distinct" -> ((s, dir) => {
      // mergeable HLL distinct-count: per-flag register tables built in
      // one aggregation, the TOTAL row derived by register-wise max (no
      // base rescan — the rollup property exact distinct lacks); both
      // estimator branches exercised (per-flag linear counting, TOTAL
      // raw harmonic). Ranks live in string space, Z in exact longs.
      import graft.operators.DistinctSketch
      val li = eng(s, dir).table("lineitem")
      val regs = DistinctSketch.hllRegistersMd5(li, Seq("l_returnflag"),
        DistinctSketch.md5Hash(col("l_orderkey")))
      val total = DistinctSketch.mergeRegisters(
        regs.withColumn("l_returnflag", lit("TOTAL")), Seq("l_returnflag"))
      DistinctSketch.hllEstimate(regs.unionByName(total), Seq("l_returnflag"))
        .withColumnRenamed("l_returnflag", "g")
        .orderBy("g")
    }),
    "q207_triples" -> ((s, dir) => {
      // Apriori pass 2: frequent brand triples with the pair-floor prune
      // semi-joined (broadcast) BEFORE the third basket expansion; conf
      // and lift from exact counts. The oracle brute-forces the same
      // semantics — pruning must be invisible in the result
      graft.operators.Association.triples(brandBaskets(s, dir),
          "l_orderkey", "p_brand", minSupport = 60L)
        .orderBy("item_a", "item_b", "item_c")
    }),
    "q208_zipf_fit" -> ((s, dir) => {
      // Zipf slope of the rank-frequency curve (corpus health: natural
      // text ≈ −1): logs 12dp-rounded into exact decimals, moments
      // decimal-summed, normal equations in doubles only after
      graft.pipeline.CorpusStats.zipfFit(eng(s, dir).table("documents"),
        "doc_id", "text", topN = 200)
    }),
    "q209_hybrid_search" -> ((s, dir) => {
      // hybrid retrieval: BM25 lexical top-50 + exact-l2 vector top-50
      // fused by reciprocal-rank fusion (k0=60) — rank-only combination,
      // no score calibration; reciprocals 12dp-rounded and decimal-
      // summed, fusion relation bounded at |systems|·50 rows
      val e = eng(s, dir)
      val lex = graft.pipeline.CorpusStats.bm25Search(e.table("documents"),
          "doc_id", "text", terms = Seq("spark", "vector", "stream"), topK = 50)
        .select(col("doc_id"), col("rank"))
      val qv = e.table("embeddings").where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      val vec = VectorSearch.exact(e.table("embeddings"), "vec_id",
          "embedding", qv, topK = 50, metric = "l2")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("distance").asc, col("pk").asc)).cast("long"))
        .select(col("pk").as("doc_id"), col("rank"))
      graft.operators.Fusion.rrf(Seq("lex" -> lex, "vec" -> vec), "doc_id",
        k0 = 60, topK = 10)
    }),
    "q210_winsorize" -> ((s, dir) => {
      // winsorized revenue per priority: clip to exact dyadic-rank
      // quantiles (histogram-bisection path, broadcast cuts) — keeps
      // every row while taming the tails; clip + sum exact longs
      graft.operators.Outliers.winsorize(eng(s, dir).table("orders"),
          "o_orderpriority",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .orderBy("g")
    }),
    "q211_hll_stream" -> ((s, dir) => {
      // STREAMING distinct-count sketch: the HLL register aggregation
      // runs as a streaming groupBy max — state is bounded at m=4096
      // register rows FOREVER, however long the stream runs (the whole
      // point of sketching a firehose); register max is order-blind, so
      // the streamed registers equal the batch build exactly and the
      // estimate is the same deterministic q206 arithmetic
      import graft.operators.DistinctSketch
      val base = tmpDir("q211")
      val li = eng(s, dir).table("lineitem").select(col("l_orderkey"))
      li.write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(li.schema).parquet(base + "/feed")
      val regs = DistinctSketch.hllRegistersMd5(
        stream.withColumn("g", lit("ALL")), Seq("g"),
        DistinctSketch.md5Hash(col("l_orderkey")))
      val q = regs.writeStream.format("memory").queryName("q211_hll_mem")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q211_hll_stream: streaming query did not finish within 120 s")
      DistinctSketch.hllEstimate(ss.table("q211_hll_mem"), Seq("g"))
        .withColumnRenamed("g", "grp").orderBy("grp")
    }),
    "q212_readability" -> ((s, dir) => {
      // Flesch + FK grade per document from three codegen regexp-run
      // counts (sentence/word/vowel-group) and literal coefficients —
      // a single projection pass, no shuffle at all
      eng(s, dir).table("documents")
        .select(col("doc_id"), TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_sentences"), col("r.n_words"),
          col("r.n_syllables"), col("r.flesch"), col("r.fk_grade"))
        .orderBy("doc_id")
    }),
    "q213_embed_diversity" -> ((s, dir) => {
      // corpus-collapse probe: mean pairwise cosine over a deterministic
      // md5-prefix sample (pure function of the id — any engine draws
      // the same sample); O(k²) only on the sample, norms hoisted,
      // cosines decimal-summed
      graft.pipeline.CorpusStats.embeddingDiversity(
        eng(s, dir).table("embeddings"), "vec_id", "embedding",
        hexPrefix = "a")
    }),
    "q214_k_anonymity" -> ((s, dir) => {
      // release-governance audit: k-anonymity + l-diversity over the
      // (nation, segment) quasi-identifier with account balance as the
      // sensitive attribute — one QI-keyed aggregation + class rollup
      graft.operators.Profile.kAnonymity(eng(s, dir).table("customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 5, l = 2)
    }),
    "q298_interval_coverage" -> ((s, dir) => {
      // per-supplier transit coverage: union the [shipdate, shipdate +
      // qty%30 days) intervals with the sweep-line merge — SUM(end-start)
      // would double-count overlapping shipments; key-partitioned
      // windows, exact day-longs, one published ratio
      val li = eng(s, dir).table("lineitem")
      val st = (date_trunc("DAY", col("l_shipdate")).cast("long") / 86400)
        .cast("long")
      graft.operators.Intervals.unionCoverage(li, col("l_suppkey"),
          st, st + col("l_quantity").cast("long") % 30)
        .orderBy("key")
    }),
    "q299_state_runs" -> ((s, dir) => {
      // how long do users persist in one event type: maximal same-state
      // runs via the rn - rn' gaps-and-islands trick (key-partitioned,
      // event_id tie-break so both engines segment identically), then
      // per-state run-length stats
      graft.operators.Intervals.stateRuns(eng(s, dir).table("events"),
          col("user_id"), col("event_type"), col("ts").cast("long"),
          col("event_id"))
        .orderBy("state")
    }),
    "q304_stl_decompose" -> ((s, dir) => {
      // units = trend + seasonal + residual for per-type daily revenue:
      // centered 7-day moving-mean trend (complete calendar windows
      // only), day-of-week seasonal means of the detrended series,
      // residual recomposed from the published 6dp parts
      val daily = eng(s, dir).table("events").where(col("value").isNotNull)
        .groupBy(col("event_type"),
          expr("(CAST(ts AS LONG) div 86400) * 86400").as("t"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("units"))
      graft.operators.TimeSeries.stlDecompose(daily, "event_type", "t",
          "units", period = 7, halfWindowDays = 3)
        .orderBy("event_type", "t")
    }),
    "q305_rmst" -> ((s, dir) => {
      // the q203 survival curve collapsed to one effect size: mean
      // event-free seconds over the first 90 days — PUBLISHED 6dp
      // survival × exact rectangle widths, decimal-summed; the lead
      // window rides the bounded event-time curve relation
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"))
      graft.operators.Survival.rmst(subjects, "dur", col("ev"),
        tau = 7776000L)
    }),
    "q306_srm" -> ((s, dir) => {
      // assignment-integrity audit of a declared 3:1 rollout over
      // customers: arms cut by EXACT hash·W integer compares (no float
      // boundary), χ² goodness-of-fit vs the declared ratio from
      // cleared-form 12dp terms, decimal-summed
      graft.operators.Experiment.srmCheck(eng(s, dir).table("customer"),
        "c_custkey", salt = "graft-srm-r12",
        weights = Seq(("control", 1L), ("treat", 3L)))
    }),
    "q307_woe_iv" -> ((s, dir) => {
      // is market segment informative about account delinquency:
      // weight-of-evidence per segment + information value — Laplace-
      // smoothed exact rationals, 12dp ln terms, IV decimal-summed
      // from published parts
      graft.operators.FeatureEng.woeEncode(eng(s, dir).table("customer"),
        col("c_mktsegment"), col("c_acctbal") < 0)
    }),
    "q308_concentration" -> ((s, dir) => {
      // do 10% of customers carry most of the revenue: Gini + top-decile
      // and top-percentile shares of per-customer order cents — distinct-
      // value prefix sums (no full-relation window), three exact divides
      val perCust = eng(s, dir).table("orders")
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("cents"))
      graft.operators.Profile.concentration(perCust, col("cents"))
    }),
    "q309_silhouette" -> ((s, dir) => {
      // is the q301 clustering real structure or arbitrary cuts:
      // simplified silhouette against the k=4 Lloyd centroids —
      // distances to k centroids only (never within-cluster pairs),
      // exact integer sq-dists, one IEEE sqrt each, 12dp scores
      // weight-summed in decimal
      val li = eng(s, dir).table("lineitem")
      graft.operators.Clustering.silhouetteSimplified(li,
        Seq(col("l_quantity").cast("long"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")),
        k = 4, iters = 6)
    }),
    "q310_stl_anomalies" -> ((s, dir) => {
      // which daily revenue points are genuinely anomalous AFTER trend
      // and weekday season are removed: robust median/MAD z on the q304
      // STL residual, |z| > 3.5 flags — exact-percentile cutoffs
      // broadcast back, seasonal peaks never flagged for being seasonal
      val daily = eng(s, dir).table("events").where(col("value").isNotNull)
        .groupBy(col("event_type"),
          expr("(CAST(ts AS LONG) div 86400) * 86400").as("t"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("units"))
      graft.operators.TimeSeries.stlAnomalies(daily, "event_type", "t",
          "units", period = 7, halfWindowDays = 3, zThresh = 3.5)
        .orderBy("event_type", "t")
    }),
    "q311_attribution_weighted" -> ((s, dir) => {
      // the two models q302 leaves out: dyadic time-decay (a touch e
      // whole days back weighs 2^(6-e) — integer weights, one exact
      // divide per conversion-channel) and U-shaped 40/20/40 position
      // credit, both as one window pass per exponent bucket
      graft.operators.EventPaths.attributionWeighted(
          eng(s, dir).table("events"), "user_id", "ts", "event_type",
          "event_id", target = "purchase", lookback = 604800L,
          halflife = 86400L)
        .orderBy("channel")
    }),
    "q312_heaps_fit" -> ((s, dir) => {
      // does vocabulary keep growing like natural text (V = K·n^beta):
      // trigram-shingle types over md5-bucketed growth checkpoints,
      // first-bucket-per-type vocab counting (one token shuffle),
      // exact-moment OLS on 12dp ln points
      graft.pipeline.CorpusStats.heapsFit(eng(s, dir).table("documents"),
        "doc_id", "text", gram = 3, nBuckets = 64)
    }),
    "q313_user_entropy" -> ((s, dir) => {
      // who behaves like a script: per-user Shannon entropy of the
      // event-type mix — 12dp ln terms of exact count rationals,
      // decimal-summed, normalized by ln(n_types)
      graft.operators.EventPaths.behavioralEntropy(
          eng(s, dir).table("events"), "user_id", "event_type")
        .orderBy("user")
    }),
    "q314_seasonal_strength" -> ((s, dir) => {
      // is the weekly season worth modeling per event type: Hyndman
      // F_seasonal/F_trend over the q304 STL parts — exact micro-unit
      // variance numerators, the shared n cancels, one divide each
      val daily = eng(s, dir).table("events").where(col("value").isNotNull)
        .groupBy(col("event_type"),
          expr("(CAST(ts AS LONG) div 86400) * 86400").as("t"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("units"))
      graft.operators.TimeSeries.seasonalStrength(daily, "event_type", "t",
          "units", period = 7, halfWindowDays = 3)
        .orderBy("event_type")
    }),
    "q315_assortativity" -> ((s, dir) => {
      // do hub brands co-occur with hub brands: Newman degree
      // assortativity over the bought-together graph — exact integer
      // moments over both-direction edges, one double expression
      val pr = brandPairs(s, dir)
      graft.operators.GraphOps.degreeAssortativity(
        pr.select(col("item_a").as("src"), col("item_b").as("dst")))
    }),
    "q316_centroid_drift" -> ((s, dir) => {
      // did half the corpus drift from the other half: per-label cosine
      // between even-id and odd-id centroid vectors — micro-unit exact
      // sums, count divides cancel in the cosine
      val emb = eng(s, dir).table("embeddings")
      graft.pipeline.CorpusStats.embeddingCentroidDrift(
          emb.where(pmod(col("vec_id"), lit(2)) === 0),
          emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "label", "embedding")
        .orderBy("grp")
    }),
    "q317_vocab_overlap" -> ((s, dir) => {
      // which sources are near-clones and which are subset crawls:
      // exact pairwise Jaccard + containment of trigram-shingle type
      // sets — presence relation self-joined on the type, |sources|²
      // rollup, three exact divides per pair
      graft.pipeline.CorpusStats.vocabOverlap(eng(s, dir).table("documents"),
        "text", "source", gram = 3)
    }),
    "q318_simpson" -> ((s, dir) => {
      // is each event type driven by a few accounts: Simpson λ and the
      // effective number of users per type — Σc²/n² exact divides,
      // Hill-number concentration read
      graft.operators.Profile.simpsonDiversity(eng(s, dir).table("events"),
          "event_type", "user_id")
        .orderBy("group")
    }),
    "q319_effective_dim" -> ((s, dir) => {
      // how many of the 64 dimensions does the corpus actually use:
      // participation ratio over per-dim variances from exact
      // micro-unit moments — the eigen-free collapse probe
      graft.pipeline.CorpusStats.embeddingEffectiveDim(
        eng(s, dir).table("embeddings"), "embedding")
    }),
    "q320_dispersion" -> ((s, dir) => {
      // are daily event arrivals Poisson-like or bursty per type:
      // Fano factor over the daily count series — one exact divide of
      // integer moments per key
      val daily = eng(s, dir).table("events")
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr("CAST(ts AS LONG) div 86400").as("day"))
        .agg(count(lit(1)).as("c"))
      graft.operators.TimeSeries.dispersionIndex(daily, "event_type",
          "day", "c")
        .orderBy("event_type")
    }),
    "q323_diameter" -> ((s, dir) => {
      // how wide is the bought-together graph: 2-sweep BFS lower bound
      // from the md5-min node to its farthest node and back — two
      // frontier expansions instead of |V|
      val pr = brandPairs(s, dir)
      graft.operators.GraphOps.diameterEstimate(
        pr.select(col("item_a").as("src"), col("item_b").as("dst")),
        maxHops = 12)
    }),
    "q324_log_odds" -> ((s, dir) => {
      // what vocabulary distinguishes the English slice from the French:
      // Monroe informative-Dirichlet log-odds z — pooled prior published
      // 12dp, identical IEEE chains both engines, TakeOrdered by |z|
      val docs = eng(s, dir).table("documents")
      graft.pipeline.CorpusStats.logOddsTerms(
        docs.where(col("lang") === "en"), docs.where(col("lang") === "fr"),
        "doc_id", "text", priorMass = 100.0, topK = 40)
    }),
    "q325_priority_sample" -> ((s, dir) => {
      // keep 100 orders but let big orders speak for their revenue:
      // Duffield priority sample with the unbiased max(w, tau)
      // estimator — TakeOrdered top-(k+1), true total published beside
      // the estimate
      graft.pipeline.Sampling.prioritySample(eng(s, dir).table("orders"),
        "o_orderkey",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        k = 100, salt = "prio-r12")
    }),
    "q326_survival_quantiles" -> ((s, dir) => {
      // median (and quartile) time-to-purchase read off the q203 KM
      // curve — censoring-correct, NULL where the curve never drops
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"))
      graft.operators.Survival.survivalQuantiles(subjects, "dur", col("ev"))
    }),
    "q327_capture_recapture" -> ((s, dir) => {
      // how many customers exist if two independent 40% observation
      // lists are all we have: Chapman estimate from the overlap, true
      // coverage published beside it
      val c = eng(s, dir).table("customer")
      graft.operators.Profile.captureRecapture(
        graft.pipeline.Sampling.hashSample(c, "c_custkey", 0.4, "crA"),
        graft.pipeline.Sampling.hashSample(c, "c_custkey", 0.4, "crB"),
        "c_custkey")
    }),
    "q329_hellinger" -> ((s, dir) => {
      // the bounded-metric twin of q182's PSI on the same snapshot
      // pair: Bhattacharyya + Hellinger over declared [0,500k) bins —
      // symmetric, in [0,1], no near-empty-bin blow-up
      val (v0, v1) = snapPair(s, dir)
      graft.operators.DistDrift.hellinger(v0, v1, "o_totalprice",
        lo = 0.0, hi = 500000.0, nBins = 10)
    }),
    "q330_cliffs_delta" -> ((s, dir) => {
      // the effect SIZE behind q233's Mann-Whitney z: P(URGENT beats
      // LOW) − P(LOW beats URGENT) from the same exact half-unit rank
      // sums, one divide, standard magnitude bands
      val two = eng(s, dir).table("orders")
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("arm"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      graft.operators.DistDrift.cliffsDelta(two, col("cents"), col("arm"))
    }),
    "q331_standardized_rates" -> ((s, dir) => {
      // Simpson-proof conversion comparison: per-nation-standardized
      // big-purchase rates for BUILDING vs MACHINERY customers — the
      // pooled stratum mix reweights both groups, raw rates published
      // beside so any paradox is visible
      val cust = eng(s, dir).table("customer")
        .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      graft.operators.Experiment.standardizedRates(cust,
        col("c_nationkey"), col("c_mktsegment"), col("c_acctbal") > 5000)
    }),
    "q332_qte" -> ((s, dir) => {
      // WHERE does URGENT differ from LOW, not just on average:
      // exact type-1 quantiles at p = .25/.5/.75 per arm from
      // group-partitioned cumulative counts, rational rank compares,
      // qte = q_b − q_a with no rounding anywhere
      val two = eng(s, dir).table("orders")
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("arm"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      graft.operators.DistDrift.quantileTreatmentEffect(two,
        col("cents"), col("arm"))
    }),
    "q333_sign_test" -> ((s, dir) => {
      // did per-user spend rise in the second half of the month:
      // paired sign test over exact cross-multiplied mean compares
      // (sa·nb vs sb·na — no float mean ever compared), ties excluded
      val mid = 1705363200L // 2024-01-16T00:00:00Z
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val per = eng(s, dir).table("events")
        .where(col("value").isNotNull && col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(
          sum(when(col("ts").cast("long") < mid, cents)).as("s1"),
          sum(when(col("ts").cast("long") < mid, 1L).otherwise(0L)).as("n1"),
          sum(when(col("ts").cast("long") >= mid, cents)).as("s2"),
          sum(when(col("ts").cast("long") >= mid, 1L).otherwise(0L)).as("n2"))
        .where(col("n1") > 0 && col("n2") > 0)
      graft.operators.Experiment.signTest(per,
        col("s1").cast("decimal(38,0)") * col("n2"),
        col("s2").cast("decimal(38,0)") * col("n1"))
    }),
    "q334_aa_calibration" -> ((s, dir) => {
      // is the assignment machinery NULL-calibrated: 8 independent A/A
      // splits of the same customers and metric — z-scores must parade
      // like standard normals, the summary counts |z| > 1.96
      graft.operators.Experiment.aaCalibration(eng(s, dir).table("customer"),
        "c_custkey", col("c_acctbal") > 5000,
        salts = (1 to 8).map(i => s"aa$i"))
    }),
    "q335_nn_label_agreement" -> ((s, dir) => {
      // does the embedding space respect the labels: 1-NN label
      // agreement on the deterministic md5 sample — O(k²) on the
      // sample only, 6dp cosines, (cos, id) struct-max neighbor pick
      graft.pipeline.CorpusStats.nnLabelAgreement(
        eng(s, dir).table("embeddings"), "vec_id", "embedding", "label",
        hexPrefix = "a")
    }),
    "q328_stream_gaps" -> ((s, dir) => {
      // the q321 coverage audit INSIDE a stream: flatMapGroupsWithState
      // carries the last seen bucket per key (2 longs, bounded forever)
      // and fires one alarm row per hole as the next bucket lands;
      // day % 11 == 3 is dropped upstream so the holes are real.
      // Single-file replay -> exact batch parity with the lag oracle
      import s.implicits._
      val base = tmpDir("q328")
      val daily = eng(s, dir).table("events")
        .where(col("event_type").isNotNull)
        .select(col("event_type").as("key"),
          expr("CAST(ts AS LONG) div 86400").as("i"))
        .distinct()
        .where(pmod(col("i"), lit(11)) =!= 3)
      daily.coalesce(1).write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(daily.schema).parquet(base + "/feed")
        .as[(String, Long)]
      val q = graft.streaming.Stateful.gapAlarms(stream).toDF()
        .writeStream.format("memory").queryName("q328_gaps_mem")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val fin = q.awaitTermination(120000); q.stop()
      require(fin, "q328_stream_gaps: streaming query did not finish within 120 s")
      ss.table("q328_gaps_mem").orderBy("key", "gap_start")
    }),
    "q321_coverage" -> ((s, dir) => {
      // did any event type silently lose days: per-type calendar
      // coverage between first and last observation — exact bucket
      // indices, key-partitioned lag window, one divide
      graft.operators.TimeSeries.coverageReport(
          eng(s, dir).table("events").where(col("event_type").isNotNull)
            .select(col("event_type"), col("ts").cast("long").as("t")),
          "event_type", "t", step = 86400L)
        .orderBy("event_type")
    }),
    "q322_lexical_richness" -> ((s, dir) => {
      // is any source templated/generated text: TTR, hapax share and
      // exact Yule's K per source — one (source, token) count agg
      graft.pipeline.CorpusStats.lexicalRichness(
          eng(s, dir).table("documents"), "text", "source")
        .orderBy("source")
    }),
    "q303_landmark_closeness" -> ((s, dir) => {
      // which brands sit central in the bought-together graph: 4
      // md5-picked landmarks, a BFS per landmark (L × diameter keyed
      // rounds — never a V × V pairs relation), harmonic closeness from
      // 12dp 1/d terms decimal-summed
      val pr = brandPairs(s, dir)
      val edges = pr.select(col("item_a").as("src"), col("item_b").as("dst"))
        .unionByName(pr.select(col("item_b").as("src"), col("item_a").as("dst")))
      graft.operators.GraphOps.landmarkCloseness(edges, nLandmarks = 4,
          maxHops = 6)
        .orderBy("node")
    }),
    "q302_attribution" -> ((s, dir) => {
      // which channel earns each purchase, three models at once: last-
      // touch / first-touch / linear share over the 7-day lookback —
      // one user-partitioned RANGE window pass, strictly-earlier frame,
      // untouched purchases credit "(direct)" in every model
      graft.operators.EventPaths.attribution(eng(s, dir).table("events"),
          "user_id", "ts", "event_type", "event_id",
          target = "purchase", lookback = 604800L)
        .orderBy("channel")
    }),
    "q301_kmeans" -> ((s, dir) => {
      // the (quantity, price-cents) plane of lineitem under k=4 Lloyd
      // for 6 fixed rounds — md5-ranked deterministic init, integer-
      // exact argmin assignment (smallest-cluster tie-break), floor-
      // divided centroid means; rows collapse to the weighted DISTINCT
      // feature relation and each round shuffles exactly k rows
      val li = eng(s, dir).table("lineitem")
      graft.operators.Clustering.kmeansLloyd(li,
          Seq(col("l_quantity").cast("long"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")),
          k = 4, iters = 6)
        .orderBy("cluster")
    }),
    "q300_markov_stationary" -> ((s, dir) => {
      // where does the session process spend its time in the long run:
      // stationary distribution of the event-type transition chain by 16
      // integer-picounit power iterations — floor-divided fixed-point,
      // bit-identical across engines; pair counting stays distributed,
      // the driver holds only the k x k matrix (k = 5 event types)
      graft.operators.EventPaths.stationary(eng(s, dir).table("events"),
          "user_id", "ts", "event_type", "event_id", iters = 16)
        .orderBy("state")
    }),
    "q295_brier_decomp" -> ((s, dir) => {
      // Murphy decomposition of the q252 propensity score: exact
      // decimal row-level Brier, REL/RES composed from the published
      // per-bin means, brier_binned recomposed from published 6dp parts
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.brierDecomposition(
        ev.where(col("value").isNotNull), score,
        col("event_type") === "purchase", nBins = 10)
    }),
    "q296_gains_table" -> ((s, dir) => {
      // cumulative gains/lift deciles for the same score: top-decile
      // capture of purchases — distinct-value prefix sums assign tiles
      // (no full-relation window), exact rational capture and lift
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.gainsTable(ev.where(col("value").isNotNull),
        score, col("event_type") === "purchase", nTiles = 10)
    }),
    "q297_best_threshold" -> ((s, dir) => {
      // operating point for the same score, chosen twice: Youden J and
      // min expected cost with a missed purchase 5x a false alarm —
      // cross-multiplied integer argmax, smallest-threshold tie-break
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.bestThreshold(ev.where(col("value").isNotNull),
        score, col("event_type") === "purchase", costFp = 1L, costFn = 5L)
    }),
    "q292_mcnemar" -> ((s, dir) => {
      // paired before/after readout: did each user's purchasing change
      // across the mid-month boundary — concordant users carry no
      // information, the χ² lives on the discordant counts alone; exact
      // integer rationals, one divide per statistic
      val mid = lit("2024-01-16").cast("timestamp")
      val pairs = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        (max(when(col("event_type") === "purchase" && col("ts") < mid, 1)
          .otherwise(0)) === 1).as("bf"),
        (max(when(col("event_type") === "purchase" && col("ts") >= mid, 1)
          .otherwise(0)) === 1).as("af"))
      graft.operators.Experiment.mcnemar(pairs, col("bf"), col("af"))
    }),
    "q293_chi2_residuals" -> ((s, dir) => {
      // which priority × status cells drive q199's χ²: adjusted
      // standardized residuals per cell, each ONE double expression from
      // exact counts — the drill-down that turns "dependent" into
      // "F-status orders are starved of urgent priorities"
      graft.operators.DistDrift.chi2Residuals(
          eng(s, dir).table("orders"), "o_orderpriority", "o_orderstatus")
        .orderBy("a", "b")
    }),
    "q294_mantel_haenszel" -> ((s, dir) => {
      // is even-customer exposure associated with urgent priority
      // CONTROLLING for order month: CMH pooled odds ratio + continuity-
      // corrected MH χ² over ~84 monthly 2×2 strata — 12dp term sums,
      // Simpson-proof where the pooled table lies
      graft.operators.Experiment.mantelHaenszel(
        eng(s, dir).table("orders"),
        date_format(col("o_orderdate"), "yyyy-MM"),
        col("o_custkey") % 2 === 0,
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    }),
    "q291_horvitz_thompson" -> ((s, dir) => {
      // estimate total revenue per priority from the deterministic
      // stratified hash sample (20% urgent/high, 10% rest) by inverse-
      // rate weighting, AND audit it against the true total in the same
      // pass — the sample is a pure function of (salt, id), so the
      // estimate and its error are reproducible gate numbers
      graft.pipeline.Sampling.horvitzThompson(
        eng(s, dir).table("orders"), "o_orderkey", "o_orderpriority",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        Map("1-URGENT" -> 0.2, "2-HIGH" -> 0.2, "3-MEDIUM" -> 0.1,
          "4-NOT SPECIFIED" -> 0.1, "5-LOW" -> 0.1))
    }),
    "q290_strata_match" -> ((s, dir) => {
      // exact-matching ATT blocked on nation: treated (even custkeys)
      // vs control balance-cents difference per nation, averaged by
      // treated weight over both-sides strata — per-stratum single
      // divides, the ATT numerator DECIMAL-sums the published diffs
      graft.operators.Experiment.strataMatchAtt(
        eng(s, dir).table("customer"),
        col("c_nationkey"),
        col("c_custkey") % 2 === 0,
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
    }),
    "q289_sprt" -> ((s, dir) => {
      // how early could "urgent-order share exceeds 35%" have been
      // decided: Wald SPRT over the daily bucketed Bernoulli stream,
      // first bound crossing wins — 12dp ln-constant literals shared
      // with the oracle, exact cumulative counts, one decision row
      val daily = eng(s, dir).table("orders")
        .groupBy(date_trunc("DAY", col("o_orderdate")).cast("long").as("t"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("s"))
      graft.operators.Experiment.sprt(daily, "t", col("n"), col("s"),
        p0 = 0.35, p1 = 0.40)
    }),
    "q288_kendall_tau" -> ((s, dir) => {
      // do weekly revenue and weekly order volume move TOGETHER per
      // priority: Kendall tau-b with tie-corrected denominator — exact
      // integer S/D0/Dx/Dy over q251's bounded weekly series, one
      // sqrt+divide; completes the correlation shelf (Pearson q187,
      // Spearman q260)
      val weekly = eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority"),
          (date_trunc("WEEK", col("o_orderdate")).cast("long") / 86400)
            .cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("rev"), count(lit(1)).as("vol"))
      graft.operators.Trend.kendallTau(weekly, "o_orderpriority",
          col("t"), col("rev"), col("vol"), maxN = 1000)
        .orderBy("o_orderpriority")
    }),
    "q287_stream_ewma" -> ((s, dir) => {
      // the q281 chart INSIDE a stream: flatMapGroupsWithState carries
      // the integer (m, d) EWMA state across micro-batches (4 longs per
      // key, bounded forever) and scores each daily bucket on arrival.
      // Single-file replay -> exact batch parity: the output must equal
      // q281 row for row, and the ORACLE IS q281's oracle verbatim
      import s.implicits._
      val base = tmpDir("q287")
      val daily = eng(s, dir).table("events").where(col("value").isNotNull)
        .groupBy(col("event_type").as("key"),
          date_trunc("DAY", col("ts")).cast("long").as("t"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("x"))
      daily.coalesce(1).write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(daily.schema).parquet(base + "/feed")
        .select(col("key"), timestamp_seconds(col("t")).as("ts"), col("x"))
        .as[(String, java.sql.Timestamp, Long)]
      val q = graft.streaming.Stateful.ewmaAlarms(stream, k = 3).toDF()
        .writeStream.format("memory").queryName("q287_ewma_mem")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val fin = q.awaitTermination(120000); q.stop()
      require(fin, "q287_stream_ewma: streaming query did not finish within 120 s")
      ss.table("q287_ewma_mem")
        .select(col("key"), col("ts").cast("long").as("t"), col("x"),
          col("pred"), col("dev"), col("alarm"))
        .orderBy("key", "t")
    }),
    "q286_diff_in_diff" -> ((s, dir) => {
      // quasi-experimental effect of "treatment" (even user ids) on
      // purchase value across the mid-month boundary: four exact-cents
      // cell means, the effect composed from the published 6dp means —
      // shared time shocks cancel by construction
      val ev = eng(s, dir).table("events")
        .where(col("value").isNotNull && col("event_type") === "purchase")
      graft.operators.Experiment.diffInDiff(ev,
        col("user_id") % 2 === 0,
        col("ts") >= lit("2024-01-16").cast("timestamp"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
    }),
    "q285_feature_rank" -> ((s, dir) => {
      // which order column best predicts urgency with one threshold:
      // Gini-gain stumps over three candidate features, ranked — the
      // pre-training feature triage, q265's machinery per candidate
      val o = eng(s, dir).table("orders")
      graft.operators.FeatureEng.featureRank(o, Seq(
        "price10k" -> expr(
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 1000000"),
        "dow" -> (((date_trunc("DAY", col("o_orderdate")).cast("long") / 86400)
          .cast("long") + 4) % 7),
        "keymod" -> (col("o_orderkey") % 50)),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    }),
    "q284_holt_winters" -> ((s, dir) => {
      // Holt-Winters additive: q204's Holt plus a 7-slot seasonal index
      // — the weekly rhythm moves out of the trend and into s[dow]; all
      // integer α=β=γ=1/2 truncating-div state, the oracle replays the
      // identical recursion carrying a BIGINT[] through a recursive CTE
      val daily = eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority").as("key"),
          date_trunc("DAY", col("o_orderdate")).cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.holtWinters(daily, "key", "t", "units", m = 7)
        .orderBy("key")
    }),
    "q283_cluster_agreement" -> ((s, dir) => {
      // pair-counting clustering eval (ARI + pair P/R/F1) between a
      // 50-cluster reference partition and a degraded prediction that
      // splits every 10th point into a shadow cluster — exact
      // DECIMAL(38,0) pair sums, one double divide per metric
      val pts = eng(s, dir).table("customer").select(
        (col("c_custkey") % 50).as("truth"),
        when(col("c_custkey") % 10 === 0, col("c_custkey") % 50 + 50)
          .otherwise(col("c_custkey") % 50).as("pred"))
      graft.operators.Clustering.agreement(pts, "truth", "pred")
    }),
    "q282_mann_kendall" -> ((s, dir) => {
      // the nonparametric "is there a monotone trend" test on q251's
      // weekly revenue series: exact integer S and tie-corrected
      // 18·Var(S), one sqrt+divide for z — the hypothesis test that
      // pairs with the Theil-Sen slope estimate
      val weekly = eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority"),
          (date_trunc("WEEK", col("o_orderdate")).cast("long") / 86400)
            .cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.Trend.mannKendall(weekly, "o_orderpriority",
          col("t"), col("units"), maxN = 1000)
        .orderBy("o_orderpriority")
    }),
    "q281_ewma_chart" -> ((s, dir) => {
      // EWMA control chart on daily per-type event value: online alarm
      // against the exponentially-weighted mean with robust EW-|dev|
      // limits — all integer α=1/2 truncating-div state (the holt
      // doctrine), replayed by the oracle as a recursive CTE
      val daily = eng(s, dir).table("events").where(col("value").isNotNull)
        .groupBy(col("event_type").as("key"),
          date_trunc("DAY", col("ts")).cast("long").as("t"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("units"))
      graft.operators.TimeSeries.ewmaChart(daily, "key", "t", "units", k = 3)
        .orderBy("key", "t")
    }),
    "q280_quantile_norm" -> ((s, dir) => {
      // quantile-normalize $100 order-price buckets ONTO the pooled
      // corpus distribution per priority class (Bolstad batch-effect
      // removal): pure integer rank arithmetic on the distinct
      // (group, value) relation, pooled lookup via one ordered merge
      graft.operators.FeatureEng.quantileNormalize(
        eng(s, dir).table("orders"),
        col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 10000"))
    }),
    "q279_label_prop" -> ((s, dir) => {
      // community detection by determinized synchronous label
      // propagation (3 rounds, majority-of-neighbors, ties to the
      // smallest label) over the 90 strongest brand co-occurrence
      // edges — splits the connected brand graph along density, which
      // connected components (q67) cannot. Top-k-by-weight with a full
      // tie-break makes the graph itself SF-independent-deterministic
            graft.operators.GraphOps.labelPropagation(
        top90Brand(s, dir),
        iters = 3)
    }),
    "q278_nelson_aalen" -> ((s, dir) => {
      // Nelson-Aalen cumulative hazard for time-to-first-error per user
      // (the reliability read: expected errors per user still at risk),
      // right-censored at each user's last observed event. Additive
      // d/n increments, 12dp-rounded, DECIMAL-summed — no ln/exp at all
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "error", col("ts").cast("long")))
          .as("te"))
      val subjects = perUser.select(
        when(col("te").isNotNull, col("te") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("te").isNotNull.as("ev"))
      graft.operators.Survival.nelsonAalen(subjects, "dur", col("ev"))
        .orderBy("t")
    }),
    "q277_stream_drift" -> ((s, dir) => {
      // weekly value-drift INSIDE a stream: tumbling 7-day event-time
      // windows maintain 64-bin cent histograms (bounded state per
      // window — the ksBinned/psi declared-bounds discipline applied to
      // streaming); each week then scores against the whole-corpus
      // reference with the exact binned W1. At scale add a watermark;
      // the gate replays a finite feed with AvailableNow
      val base = tmpDir("q277")
      val ev = eng(s, dir).table("events").where(col("value").isNotNull)
        .select(col("ts"), col("value"))
      ev.write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(ev.schema).parquet(base + "/feed")
      val binOf = (d: org.apache.spark.sql.DataFrame) => d
        .withColumn("cents", (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("bin", least(lit(63L), expr("cents div 1000")))
      val q = binOf(stream)
        .groupBy(window(col("ts"), "7 days").as("w"), col("bin")).count()
        .writeStream.format("memory").queryName("q277_drift_mem")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val fin = q.awaitTermination(120000); q.stop()
      require(fin, "q277_stream_drift: streaming query did not finish within 120 s")
      val perKey = ss.table("q277_drift_mem")
        .select(col("w.start").cast("long").as("k"), col("bin"),
          col("count").as("c"))
      val ref = binOf(ev.toDF()).groupBy(col("bin")).agg(count(lit(1)).as("c"))
      graft.operators.DistDrift.histW1(perKey, ref, width = 1000.0)
        .select(col("k").as("week_start"), col("n_key"), col("w1"))
        .orderBy("week_start")
    }),
    "q276_wasserstein" -> ((s, dir) => {
      // earth-mover drift between weekend and weekday purchase values in
      // CENTS — the drift metric with units (PSI/KS/JSD read mass only;
      // W1 says how far the money moved). Exact decimal transport sum
      // over pooled distinct values, one divide; q259's weekend split
      val ev = eng(s, dir).table("events").where(col("value").isNotNull)
        .withColumn("__w",
          ((col("ts").cast("long") / 86400).cast("long") + 4) % 7)
        .withColumn("cents", (col("value").cast("decimal(18,2)") * 100).cast("long"))
      graft.operators.DistDrift.wasserstein1(
        ev.where(col("__w").isin(0, 6)),
        ev.where(!col("__w").isin(0, 6)), "cents")
    }),
    "q274_isotonic" -> ((s, dir) => {
      // isotonic calibration of a noisy-but-monotone label rate over 50
      // $10k price buckets: PAVA on the distinct-score relation, exact
      // integer violator compares; the oracle computes the MINIMAX
      // characterization instead of replaying the pooling loop, so the
      // two implementations are genuinely independent
      val base = eng(s, dir).table("orders").select(
        expr("CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
          "div 1000000 AS BIGINT)").as("score"),
        col("o_orderkey"))
      graft.operators.FeatureEng.isotonicCalibrate(base, col("score"),
        pmod(col("o_orderkey"), lit(100)) < (lit(20) + col("score")))
    }),
    "q275_seq_patterns" -> ((s, dir) => {
      // gap-allowed sequential patterns over each user's first 12
      // events: support = users containing the subsequence (one vote per
      // user, any number of embeddings) — "signup ... eventually
      // purchase" with anything between, which contiguous q161 chains
      // and q162 transitions cannot express
      graft.operators.EventPaths.frequentSubsequences(
        eng(s, dir).table("events"), "user_id", "ts", "event_type",
        "event_id", maxLen = 3, topK = 25, prefixLen = 12)
    }),
    "q273_grid_dbscan" -> ((s, dir) => {
      // density clustering with explicit noise: 50 planted dense squares
      // (side 21, spaced 1000) plus a sparse diagonal of noise points,
      // all pure modular arithmetic on c_custkey so the oracle rebuilds
      // the identical plane; eps=5 minPts=4 makes a core/border/noise
      // mixture, components via the two-regime connected components
      val pts = eng(s, dir).table("customer").select(
        col("c_custkey").cast("long").as("id"),
        expr("CASE WHEN c_custkey % 97 <> 0 THEN " +
          "((c_custkey % 50) % 10) * 1000 + (c_custkey * 7) % 21 " +
          "ELSE 50000 + c_custkey % 1000 END").as("x"),
        expr("CASE WHEN c_custkey % 97 <> 0 THEN " +
          "((c_custkey % 50) div 10) * 1000 + (c_custkey * 13) % 21 " +
          "ELSE 70000 + c_custkey % 1000 END").as("y"))
      graft.operators.Clustering.gridDbscan(pts, "id", "x", "y",
          eps = 5, minPts = 4)
        // noise publishes component NULL; the gate maps it to -1 because
        // a nullable BIGINT turns float on the oracle's pandas path
        .withColumn("component", coalesce(col("component"), lit(-1L)))
        .orderBy("id")
    }),
    "q272_pmi" -> ((s, dir) => {
      // collocation mining: top-50 adjacent pairs by PMI (min count 5) —
      // the phrase-vocabulary probe raw bigram counts can't be; exact
      // decimal products, one double ln, rank on the rounded score
      graft.pipeline.CorpusStats.collocations(
        eng(s, dir).table("documents"), "doc_id", "text",
        minCount = 5L, topK = 50)
    }),
    "q270_conformal" -> ((s, dir) => {
      // distribution-free error bars for a per-priority mean predictor:
      // fit on even orderkeys, conformal q_hat = k-th smallest |residual|
      // at alpha=1/10 (k exact integer), empirical coverage on odd keys.
      // The interval needs NO normality and no variance model — the
      // calibration order statistic IS the guarantee
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      val base = eng(s, dir).table("orders").select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("g"), cents.as("y"))
      val cal = base.where(pmod(col("k"), lit(2)) === 0)
      val ev = base.where(pmod(col("k"), lit(2)) === 1)
      val pred = cal.groupBy(col("g"))
        .agg(expr("CAST(sum(y) div count(1) AS BIGINT)").as("p"))
      graft.operators.Experiment.conformalInterval(
        cal.join(broadcast(pred), "g"), ev.join(broadcast(pred), "g"),
        col("p"), col("y"), alphaNum = 1, alphaDen = 10)
    }),
    "q271_bootstrap" -> ((s, dir) => {
      // uncertainty for the mean order total WITHOUT resampling shuffles:
      // Poisson(1) multiplicities per (row, replica) from a salted md5
      // fraction against frozen 12dp CDF thresholds — 32 replicas in one
      // map-side-combined pass, CI = order statistics of replica means
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      graft.operators.Experiment.bootstrapMeanCI(
        eng(s, dir).table("orders")
          .where(col("o_totalprice").isNotNull)
          .select(col("o_orderkey"), cents.as("cents")),
        col("o_orderkey"), col("cents"))
    }),
    "q268_rolling_median" -> ((s, dir) => {
      // robust daily smoothing: exact ±3-day rolling MEDIAN of per-type
      // daily revenue (cents) — the spike-proof twin of the centered
      // moving average; complete calendar windows only, median = the
      // exact middle order statistic, never an interpolation
      val daily = eng(s, dir).table("events").where(col("value").isNotNull)
        .groupBy(col("event_type"),
          (expr("(CAST(ts AS LONG) div 86400) * 86400")).as("t"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("units"))
      graft.operators.TimeSeries.rollingMedian(daily, "event_type", "t",
          "units", halfWindowDays = 3)
        .orderBy("event_type", "t")
    }),
    "q269_clustering_coeff" -> ((s, dir) => {
      // local clustering coefficient on the brand co-occurrence graph —
      // the community-structure probe raw triangle counts can't be: a
      // hub in many triangles with huge degree is NOT clustered
      val pr = brandPairs(s, dir)
      graft.operators.GraphOps.clusteringCoefficient(
        pr.select(col("item_a").as("src"), col("item_b").as("dst")))
    }),
    "q266_percentile_rank" -> ((s, dir) => {
      // percentile-rank transform of order totals (cents): mid-rank
      // percentiles per DISTINCT value via distributed prefix sums —
      // the rank-calibration feature map; no row ever crosses a window
      val ords = eng(s, dir).table("orders")
      graft.operators.FeatureEng.percentileRank(ords,
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    }),
    "q267_stratified_split" -> ((s, dir) => {
      // EXACT-count per-source eval split: rank by a replayable md5 of
      // the id inside each stratum, keep the first round(n/10) — the
      // protocol split sampleStratified's binomial coin cannot promise.
      // Production orders by xxhash64 (codegen); the gate orders by md5
      // so DuckDB replays the identical total order
      val docs = eng(s, dir).table("documents")
      graft.pipeline.Sampling.stratifiedSplitExact(docs, "doc_id", "source",
          fracNum = 1, fracDen = 10,
          md5(concat(lit("split:"), col("doc_id").cast("string"))))
        .where(col("split") === "test")
        .select(col("source"), col("rnk"), col("doc_id"))
        .orderBy("source", "rnk")
    }),
    "q264_phrase_search" -> ((s, dir) => {
      // order-sensitive retrieval BM25 can't do: exact positional
      // phrase match for "table part" — offset-voted starts, count-k
      // test, only phrase-token postings ever shuffle
      graft.pipeline.CorpusStats.phraseSearch(
          eng(s, dir).table("documents"), "doc_id", "text", "table part")
        .orderBy("doc_id")
    }),
    "q265_decision_stump" -> ((s, dir) => {
      // is value predictive of purchase at all: best single Gini split
      // over the distinct-value prefix sums (no full-relation window),
      // exact-rational cost with ONE divide per candidate, earliest-
      // threshold tie-break — the one-node tree boosted models repeat
      val ev = eng(s, dir).table("events")
      graft.operators.FeatureEng.decisionStump(ev.where(col("value").isNotNull),
        col("value"), col("event_type") === "purchase")
    }),
    "q263_target_encode" -> ((s, dir) => {
      // high-cardinality-safe categorical encoder: per-segment account
      // balance with a 20-row pseudo-count shrinking small segments to
      // the global prior — enc = (s·N + m·S)/(N·(c+m)), one exact divide
      graft.operators.FeatureEng.targetEncode(eng(s, dir).table("customer"),
          col("c_mktsegment"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"), m = 20L)
        .orderBy("category")
    }),
    "q262_changepoint" -> ((s, dir) => {
      // when did the level shift: offline best-split changepoint on the
      // daily revenue series per priority — exact long prefix sums, one
      // fixed 12dp gain expression, earliest-split tie-break; the
      // retrospective complement of q146's online CUSUM
      val daily = eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority"),
          (date_trunc("DAY", col("o_orderdate")).cast("long") / 86400)
            .cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.changepoint(daily, "o_orderpriority",
          "t", "units")
        .orderBy("o_orderpriority")
    }),
    "q261_adamic_adar" -> ((s, dir) => {
      // who should be connected next: Adamic-Adar common-neighbor
      // scores for non-adjacent brand pairs — rare shared neighbors
      // weigh 1/ln(deg), one wedge join (the q177 cost class), exact
      // decimal order before the one double cast
      val pr = brandPairs(s, dir)
      graft.operators.GraphOps.adamicAdar(
        pr.select(col("item_a").as("src"), col("item_b").as("dst")), topK = 50)
    }),
    "q260_spearman" -> ((s, dir) => {
      // monotone association between quantity and line price without a
      // per-row ranking: distinct-value half-unit ranks (the KS prefix-
      // sum discipline), exact integer moments, doubles only in the
      // final ratio — the outlier-proof sibling of q170's Pearson
      val li = eng(s, dir).table("lineitem")
      graft.operators.DistDrift.spearman(li,
        col("l_quantity"), col("l_extendedprice"))
    }),
    "q259_jsd" -> ((s, dir) => {
      // symmetric always-finite drift between the weekend and weekday
      // event-type mixes — the KL replacement for dashboards (weekend
      // day index from pure epoch-day arithmetic: (d+4)%7 ∈ {0,6} with
      // Sunday=0, engine-independent, no dow() dialect trap)
      val ev = eng(s, dir).table("events")
        .withColumn("__w",
          ((col("ts").cast("long") / 86400).cast("long") + 4) % 7)
      graft.operators.DistDrift.jensenShannon(
        ev.where(col("__w").isin(0, 6)),
        ev.where(!col("__w").isin(0, 6)), "event_type")
    }),
    "q258_cohen_kappa" -> ((s, dir) => {
      // chance-corrected agreement between the value-threshold rater and
      // the event-type rater — the skew-proof sibling of q216 accuracy:
      // one contingency pass, κ exact integer rational until the one
      // published divide
      val ev = eng(s, dir).table("events").where(col("value").isNotNull)
      graft.operators.Experiment.cohenKappa(ev,
        when(col("value") >= 100.0, lit("hi")).otherwise(lit("lo")),
        when(col("event_type") === "purchase", lit("hi")).otherwise(lit("lo")))
    }),
    "q257_mode" -> ((s, dir) => {
      // per-group mode with the tie-break built-ins leave undefined:
      // most frequent order priority per customer segment via a
      // (group,value) count + a rank window over the bounded count
      // relation - subject rows never pass through a window
      val joined = eng(s, dir).table("orders")
        .join(eng(s, dir).table("customer"),
          col("o_custkey") === col("c_custkey"))
      graft.operators.Profile.modeBy(joined, "c_mktsegment", "o_orderpriority")
        .orderBy("c_mktsegment")
    }),
    "q256_containment" -> ((s, dir) => {
      // asymmetric containment dedup — the quote/subset detector
      // symmetric Jaccard structurally misses (a snippet inside a page
      // has containment 1.0 but Jaccard ~0): contained-side-only prefix
      // filter against full postings, boilerplate df guard, exact
      // verify. Deliberately in the exact-verify-heavy class
      // (q31/q44/q65): the tiny synthetic vocab densifies every posting
      // list, so candidate mass is fixture-high; real corpora thin it
      sortReport(
        graft.pipeline.Dedup.containmentPairs(eng(s, dir).table("documents"),
          "doc_id", "text", shingleN = 3, threshold = 0.5),
        "contained", "container")
    }),
    "q255_rank_eval" -> ((s, dir) => {
      // the judge for the retrieval family: exact-KNN top-10 per query
      // (self excluded — removing one element preserves the others'
      // order) scored against the same-label relevance set: P@10,
      // reciprocal rank, binary nDCG@10 with 12dp-rounded decimal-summed
      // log terms; evaluation cost is |queries|·k, corpus-free
      val emb = eng(s, dir).table("embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq.sortBy(_._1)
      val res = graft.vector.VectorSearch.exactBatch(emb, "vec_id",
          "embedding", queries, topK = 11, metric = "l2")
        .where(col("pk") =!= col("qid"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("rank"))))
        .where(col("rank") <= 10)
        .select(col("qid"), col("pk").as("id"), col("rank"))
      val qlab = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("label").as("__ql"))
      val rel = emb.select(col("vec_id").as("id"), col("label"))
        .join(broadcast(qlab),
          col("label") === col("__ql") && col("id") =!= col("qid"))
        .select("qid", "id")
      graft.operators.RankEval.rankingEval(res, rel, k = 10).orderBy("qid")
    }),
    "q254_avg_precision" -> ((s, dir) => {
      // PR-AUC summary of the same score — the imbalanced-data eval AUC
      // is not: distinct-threshold average precision with the >=-counts
      // from DISTRIBUTED prefix sums (no per-row ranking, no single-task
      // window), exact-rational terms decimal-summed
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.averagePrecision(
        ev.where(col("value").isNotNull),
        score, col("event_type") === "purchase")
    }),
    "q253_roc_auc" -> ((s, dir) => {
      // exact AUC of the same propensity score: normalized Mann-Whitney
      // U on the half-unit rank identity (rankSums reuse — no pos×neg
      // join, windowed relation bounded by score cardinality), exact
      // longs until the one divide
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.rocAuc(ev.where(col("value").isNotNull),
        score, col("event_type") === "purchase")
    }),
    "q252_calibration" -> ((s, dir) => {
      // does the score MEAN what it claims: calibration curve + ECE for
      // a value-derived purchase propensity (score 6dp-quantized by the
      // caller so the decimal sum is exact; label = purchase) — the eval
      // that catches a quality filter silently shifting corpus mix
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.calibration(ev.where(col("value").isNotNull),
        score, col("event_type") === "purchase", nBins = 10)
    }),
    "q251_theil_sen" -> ((s, dir) => {
      // robust trend per priority: lower median of all pairwise weekly
      // slopes (29.3% breakdown — the outlier days q170's OLS chases do
      // not move it), intercept composed from the PUBLISHED 6dp slope;
      // all-pairs on calendar-bounded series by contract (maxN guard)
      val weekly = eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority"),
          (date_trunc("WEEK", col("o_orderdate")).cast("long") / 86400)
            .cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.Trend.theilSen(weekly, "o_orderpriority",
          col("t"), col("units"), maxN = 1000)
        .orderBy("o_orderpriority")
    }),
    "q250_pacf" -> ((s, dir) => {
      // AR-order probe on the q240 series: Durbin-Levinson PACF at lags
      // 1..3, each level composed from the PUBLISHED 6dp values (pacf_3
      // is a pure function of the rounded r's and pacf_2 — replayable
      // by any engine from the acf output alone)
      val daily = eng(s, dir).table("events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      graft.operators.TimeSeries.pacf3(daily, "event_type", "day", "cents")
        .orderBy("event_type")
    }),
    "q249_seasonal_naive" -> ((s, dir) => {
      // the MASE denominators + cheapest is-the-week-real probe on the
      // daily revenue series: exact long |errors|, the two MAEs publish
      // 6dp and the ratio composes from the PUBLISHED values — pairs
      // with q204/q215 (Holt fit/backtest) and q205 (DOW decomposition)
      val daily = eng(s, dir).table("orders")
        .groupBy(date_trunc("DAY", col("o_orderdate")).cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.seasonalNaiveEval(daily, "t", "units", m = 7)
    }),
    "q248_cuped" -> ((s, dir) => {
      // CUPED sharpened A/B readout: January splits into a pre-period
      // covariate (revenue cents before Jan 16) and the post-period
      // metric; arms by the experiment family's deterministic md5 split;
      // theta/rho2 from exact pooled moments, adjusted means compose
      // from the PUBLISHED 6dp theta (pure-function doctrine)
      val ev = eng(s, dir).table("events")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val units = ev.groupBy(col("user_id")).agg(
        sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), cents))
          .as("x"),
        sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), cents))
          .as("y"))
      val arm = when(
        graft.functions.GraftFunctions.md5Frac52(concat(lit("cup:"),
          col("user_id").cast("string"))) / lit(4503599627370496.0) < 0.5,
        "A").otherwise("B")
      graft.operators.Experiment.cuped(units, arm, col("x"), col("y"))
    }),
    "q247_log_templates" -> ((s, dir) => {
      // template mining gated the codec way (synthesize -> recover): log
      // lines composed from events rows are mined WITHOUT the schema —
      // masking the variable tokens must collapse every line to exactly
      // one template per event type carrying that type's row count (the
      // float/epoch formatting differences vanish under the <n> mask,
      // so the oracle just groups by type and builds the same strings)
      // value IS NOT NULL (mirrors q252-q254): a null renders as
      // 'value=null' and a negative as 'value=-<n>', both of which break
      // the one-template-per-event-type assumption the oracle replays
      val lines = eng(s, dir).table("events")
        .filter(col("value").isNotNull && col("value") >= 0)
        .select(format_string(
        "%s user=%d value=%.2f at t=%d", col("event_type"),
        col("user_id"), col("value"), col("ts").cast("long")).as("line"))
      graft.pipeline.TextAnalysis.logTemplates(lines, col("line"), topK = 10)
    }),
    "q246_fingerprint" -> ((s, dir) => {
      // order-invariant dataset fingerprints of the two drift snapshots:
      // O(1) state per version, the cheap are-they-identical probe run
      // BEFORE paying for a q133 full-outer diff; the body REQUIRES
      // layout-independence (repartitioned v0 == v0) and that the two
      // snapshots really differ — the md5 row-hash sum replays in DuckDB
      val (v0, v1) = snapPair(s, dir)
      def cols = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      def fp(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Profile.datasetFingerprint(df, cols)
      val base = fp(v0).head()
      val shuffled = fp(v0.repartition(13)).head()
      require(base.getString(1) == shuffled.getString(1),
        "q246: fingerprint must be layout-invariant")
      val other = fp(v1).head()
      require(base.getString(1) != other.getString(1),
        "q246: different snapshots must not collide")
      fp(v0).withColumn("snap", lit("v0"))
        .unionByName(fp(v1).withColumn("snap", lit("v1")))
        .select("snap", "n_rows", "fingerprint")
        .orderBy("snap")
    }),
    "q245_kcore" -> ((s, dir) => {
      // dense-kernel filter on the brand co-occurrence graph: k-core by
      // batch peeling (Seidman 1983) — the maximal subgraph where every
      // node keeps degree >= 4, which a plain degree cut gets wrong
      // (removals cascade). Two-regime peel, converged-or-THROW within
      // 8 rounds so the oracle's 8 unrolled rounds are provably enough
      val pr = brandPairs(s, dir)
      graft.operators.GraphOps.kCore(
          pr.select(col("item_a").as("src"), col("item_b").as("dst")),
          k = 4, maxRounds = 8)
        .orderBy("node")
    }),
    "q244_ccf" -> ((s, dir) => {
      // lead/lag discovery between two metrics: cross-correlation of the
      // daily view-revenue and purchase-revenue series at lags -3..3 —
      // exact decimal moments with denominators cleared (the acf/welchT
      // doctrine), the two sqrts taken separately on correctly-rounded
      // double casts (Dx*Dy would overflow 128-bit integers), rows are
      // the inner day alignment of the two series
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val daily = eng(s, dir).table("events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", cents)).as("x"),
          sum(when(col("event_type") === "purchase", cents)).as("y"))
      graft.operators.TimeSeries.ccf(daily, "day", "x", "y", maxLag = 3)
    }),
    "q243_dp_release" -> ((s, dir) => {
      // the release half of the privacy shelf (q214 audits; this ships):
      // per-event-type counts + SEEDED Laplace(1/eps) noise via the
      // salted-md5 inverse-CDF draw — reproducible releases the oracle
      // replays term for term (same md5 uniform, same clamp, same ln);
      // event_type is a public domain, so per-group rows leak nothing
      graft.operators.Profile.dpCounts(eng(s, dir).table("events"),
          Seq("event_type"), salt = "dp1", epsilon = 0.5)
        .orderBy("event_type")
    }),
    "q215_holt_backtest" -> ((s, dir) => {
      // rolling-origin backtest: last-7-origin one-step-ahead errors of
      // the Holt fit — all folds run as ONE holt call keyed by cutoff
      // (the fold loop is data, not a driver loop), exact integers
      val daily = eng(s, dir).table("orders")
        .groupBy(date_trunc("DAY", col("o_orderdate")).cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.holtBacktest(daily, "t", "units", folds = 7)
        .orderBy("fold")
    }),
    "q216_langid_eval" -> ((s, dir) => {
      // classifier eval of langId against the labeled lang column:
      // per-class P/R/F1 + micro accuracy from two class-keyed count
      // aggregations; zh (no marker list) shows up as recall 0 with the
      // hallucinated 'und' class getting its own row — the full-outer
      // class union at work
      graft.operators.Experiment.classifierEval(
          eng(s, dir).table("documents"),
          col("lang"), TextAnalysis.langId(col("text")))
        .orderBy("cls")
    }),
    "q217_fd_audit" -> ((s, dir) => {
      // functional-dependency profiling: a clean FD (o_orderkey →
      // o_custkey) next to two near/violated ones — one distinct-pair
      // aggregation + det-keyed rollup per candidate
      graft.operators.Profile.fdAudit(eng(s, dir).table("orders"),
          Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"),
            ("o_orderpriority", "o_orderstatus")))
        .orderBy("det", "dep")
    }),
    "q218_inter_arrival" -> ((s, dir) => {
      // bot-signal burstiness: per-user gap CV from exact long moments
      // (one lag window + one grouped aggregation); schedulers read
      // cv→0, replays read zero_gap_frac→1
      graft.operators.EventPaths.interArrival(eng(s, dir).table("events"),
          "user_id", "ts", "event_id", minEvents = 3L)
        .orderBy("user")
    }),
    "q219_index_delta" -> ((s, dir) => {
      // incremental secondary-index maintenance: build on 2/3 of the
      // table, append the remaining 1/3 via update() (fresh sorted files
      // + sidecar rows for only those files — nothing rewritten), then
      // serve the same BETWEEN probe; result must equal the full-scan
      // filter over the WHOLE table, which the oracle runs
      val base = tmpDir("sidx_delta")
      val tdir = base + "/orders8"
      val orders = eng(s, dir).table("orders")
      orders.repartition(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(tdir)
      val idxPath = base + "/idx_price"
      orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
        .write.mode("overwrite").parquet(base + "/orders_v0")
      graft.operators.SecondaryIndex.build(s,
        base + "/orders_v0", "o_totalprice", "o_orderkey", idxPath)
      graft.operators.SecondaryIndex.update(s,
        orders.where(pmod(col("o_orderkey"), lit(3)) === 0),
        "o_totalprice", "o_orderkey", idxPath)
      graft.operators.SecondaryIndex.lookupRange(s, tdir, idxPath,
          "o_totalprice", "o_orderkey", 100000.0, 110000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total_price"))
        .orderBy("o_orderkey")
    }),
    "q220_bpe_learn" -> ((s, dir) => {
      // BPE merge LEARNING on the canonical Sennrich corpus replicated
      // per document row — the merge sequence (es, est, est</w>, lo,
      // low, ew) and its frequency-weighted counts are closed-form, so
      // a priority slip, tie-break drift, or miscount goes red against
      // the literal oracle
      val corpus = eng(s, dir).table("documents").select(col("doc_id"),
        lit(("low " * 5) + ("lower " * 2) + ("newest " * 6) +
          ("widest " * 3)).as("text"))
      graft.pipeline.CorpusStats.learnBpe(corpus, col("text"), numMerges = 6)
        .orderBy("rank")
    }),
    "q221_cross_source_dup" -> ((s, dir) => {
      // which feeds mirror each other: gated near-dup pairs rolled up
      // per unordered source pair (|sources|²-bounded), within-source
      // on the diagonal, decimal-summed mean jaccard
      Dedup.crossSourceDup(eng(s, dir).table("documents"),
          "doc_id", "text", "source",
          shingleN = 3, k = 12, bands = 4, threshold = 0.3)
        .orderBy("source_a", "source_b")
    }),
    "q222_bloom_delta" -> ((s, dir) => {
      // incremental bloom-sidecar maintenance: table grows by appended
      // files, updateIndex blooms ONLY the new ones (path-normalized FS
      // diff; indexed files never rescanned), and the served point
      // lookup still equals the whole-table full-scan oracle
      val base = tmpDir("bloom_delta")
      val tdir = base + "/orders8"
      val orders = eng(s, dir).table("orders")
      orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
        .repartition(6, col("o_custkey"))
        .write.mode("overwrite").parquet(tdir)
      val idxPath = base + "/bloom_custkey"
      graft.operators.BloomIndex.writeIndex(
        graft.operators.BloomIndex.buildIndex(s, tdir, "o_custkey"), idxPath)
      orders.where(pmod(col("o_orderkey"), lit(3)) === 0)
        .repartition(2, col("o_custkey"))
        .write.mode("append").parquet(tdir)
      val added = graft.operators.BloomIndex.updateIndex(s, tdir,
        "o_custkey", idxPath)
      require(added > 0, "bloom delta found no new files to index")
      val idx = s.read.parquet(idxPath)
      val (total, scanned) = graft.operators.BloomIndex.pruneStats(
        s, tdir, idx, "o_custkey", 721L)
      require(scanned < total,
        s"bloom index failed to skip after delta: $scanned/$total")
      graft.operators.BloomIndex.lookup(s, tdir, idx, "o_custkey", 721L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total_price"))
        .orderBy("o_orderkey")
    }),
    "q235_kruskal_wallis" -> ((s, dir) => {
      // nonparametric one-way ANOVA across ALL five priorities: same
      // half-unit exact ranks as q233, per-group terms 12dp-rounded and
      // decimal-summed, tie-corrected H vs chi-square(k-1)
      val all = eng(s, dir).table("orders")
        .select(col("o_orderpriority").as("arm"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      graft.operators.DistDrift.kruskalWallis(all, col("cents"), col("arm"))
    }),
    "q234_welch_t" -> ((s, dir) => {
      // parametric partner of q233 on the same arms: Welch's unequal-
      // variance t with exact-decimal moment cancellation, doubles only
      // in the published means/t/df
      val two = eng(s, dir).table("orders")
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("arm"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      graft.operators.DistDrift.welchT(two, col("cents"), col("arm"))
    }),
    "q233_mann_whitney" -> ((s, dir) => {
      // nonparametric "is one arm systematically larger": rank sums in
      // exact half-units (2r̄ = 2·min_rank + ties − 1), tie-corrected
      // variance, one final divide — URGENT vs LOW order values
      val two = eng(s, dir).table("orders")
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("arm"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      graft.operators.DistDrift.mannWhitney(two, col("cents"), col("arm"))
    }),
    "q236_mw_binned" -> ((s, dir) => {
      // declared-bounds binned Mann-Whitney: values clamp into 96
      // equi-width bins over [0, 600000) and each bin is one giant tie —
      // the distinct-value relation is ≤ 96 rows BY CONSTRUCTION (the
      // 100 TB guarantee the exact q233 only gets from observed
      // cardinality); same half-unit rank identity on the bin ids
      val two = eng(s, dir).table("orders")
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("arm"),
          col("o_totalprice").cast("double").as("price"))
      graft.operators.DistDrift.mannWhitneyBinned(two, col("price"),
        col("arm"), lo = 0.0, hi = 600000.0, nBins = 96)
    }),
    "q237_kw_binned" -> ((s, dir) => {
      // binned Kruskal-Wallis across all five priorities — H on the
      // fully-tied-within-bin ranks with the same tie correction;
      // declared [0, 600000) x 96 bins, nulls excluded by contract
      val all = eng(s, dir).table("orders")
        .select(col("o_orderpriority").as("arm"),
          col("o_totalprice").cast("double").as("price"))
      graft.operators.DistDrift.kruskalWallisBinned(all, col("price"),
        col("arm"), lo = 0.0, hi = 600000.0, nBins = 96)
    }),
    "q238_ks_binned" -> ((s, dir) => {
      // binned two-sample KS on the drift pair: max |F1-F2| over bin
      // BOUNDARIES (a lower bound on exact KS, converging as bins
      // shrink), integer |c1*n2 - c2*n1| max search as q183 — but the
      // cumulated relation is ≤ 96 rows regardless of value cardinality
      val (v0, v1) = snapPair(s, dir)
      graft.operators.DistDrift.ksBinned(v0, v1, "o_totalprice",
        lo = 0.0, hi = 600000.0, nBins = 96)
    }),
    "q232_logrank" -> ((s, dir) => {
      // two-cohort log-rank on time-to-first-purchase (hash-split arms):
      // does one arm convert FASTER — the censoring-aware A/B that a
      // mean comparison gets wrong; every term a 12dp-rounded rational
      // of exact counts, decimal-summed
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"),
        pmod(col("user_id"), lit(2)).cast("string").as("arm"))
      graft.operators.Survival.logRank(subjects, "dur", col("ev"), col("arm"))
    }),
    "q231_stream_leaderboard" -> ((s, dir) => {
      // continuous revenue leaderboard: complete-mode streaming
      // aggregation of EXACT cent sums (order-blind, so streamed state
      // == batch twin deterministically), state bounded at |keys| rows
      // forever; the top-k cut runs on the |keys|-sized result
      val base = tmpDir("q231")
      val ev = eng(s, dir).table("events")
        .select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      ev.write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(ev.schema).parquet(base + "/feed")
      val agg = stream.groupBy(col("event_type"))
        .agg(sum(col("cents")).as("revenue_cents"), count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName("q231_lb_mem")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q231_stream_leaderboard: did not finish within 120 s")
      ss.table("q231_lb_mem")
        .orderBy(col("revenue_cents").desc, col("event_type")).limit(5)
    }),
    "q230_id3_scrub" -> ((s, dir) => {
      // ID3 scrub completes the metadata triad (EXIF/JPEG, tEXt/PNG,
      // ID3/MP3): closed-form v2.3 TIT2 tag + conditional v1 trailer
      // around a real Mp3Probe-accepted stream; the scrubbed audio must
      // probe tag-free AND still parse as MPEG
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      ids.map { id =>
        val bytes = Multimodal.Id3Codec.synthesizeMp3Id3(id)
        val t = Multimodal.Id3Codec.probe(bytes).get
        val st = Multimodal.Id3Codec.strip(bytes)
        (id, t.version, t.tagSize, t.frameIds.mkString(","), t.hasV1,
          bytes.length - st.length,
          Multimodal.Id3Codec.probe(st).isDefined,
          Multimodal.Mp3Probe.probe(st).isDefined)
      }.toDF("media_id", "id3_version", "tag_size", "frames", "has_v1",
        "strip_delta", "id3_after_strip", "mp3_still_probes")
        .orderBy("media_id")
    }),
    "q229_png_text_scrub" -> ((s, dir) => {
      // PNG metadata scrub twin of q228: a closed-form tEXt chunk
      // (Comment → doc<id>, proper CRC) planted in real ImageIO PNGs;
      // key/value and the 23+digits strip delta are arithmetic in the
      // id, and the scrubbed copy must probe empty
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      ids.map { id =>
        val bytes = Multimodal.PngTextCodec.synthesizePngText(id)
        val kv = Multimodal.PngTextCodec.probe(bytes).get
        val st = Multimodal.PngTextCodec.strip(bytes)
        (id, kv.size, kv.headOption.map(_._1).getOrElse(""),
          kv.headOption.map(_._2).getOrElse(""),
          bytes.length - st.length,
          Multimodal.PngTextCodec.probe(st).get.nonEmpty)
      }.toDF("media_id", "n_text_chunks", "key", "value",
        "strip_delta", "text_after_strip")
        .orderBy("media_id")
    }),
    "q228_exif_scrub" -> ((s, dir) => {
      // EXIF probe + GPS scrub over real ImageIO JPEGs carrying a
      // closed-form APP1: every published field is arithmetic in the id
      // (orientation, capture day, GPS presence, the 98/68-byte strip
      // delta), and the scrubbed copy must probe clean — the
      // privacy-governance stage for image ingest
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      ids.map { id =>
        val bytes = Multimodal.ExifCodec.synthesizeJpegExif(id)
        val e = Multimodal.ExifCodec.probe(bytes)
        val st = Multimodal.ExifCodec.strip(bytes)
        (id, e.flatMap(_.orientation).getOrElse(-1),
          e.flatMap(_.dateTime).getOrElse(""), e.exists(_.hasGps),
          bytes.length - st.length,
          Multimodal.ExifCodec.probe(st).isDefined)
      }.toDF("media_id", "orientation", "capture_dt", "has_gps",
        "strip_delta", "exif_after_strip")
        .orderBy("media_id")
    }),
    "q227_hits" -> ((s, dir) => {
      // HITS on the bipartite customer→brand purchase graph: dual
      // hub/authority scores (influential buyers vs authoritative
      // brands) with exact integer sum-normalization each half-step —
      // no float norm anywhere
      val e = eng(s, dir)
      val edges = e.table("orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(e.table("lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
          Seq("o_orderkey"))
        .join(e.table("part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .select(col("o_custkey").as("src"), col("p_brand").as("dst"))
      graft.operators.GraphOps.hits(edges, iters = 5)
        .orderBy("role", "node")
    }),
    "q226_cohort_ltv" -> ((s, dir) => {
      // unit economics: cumulative revenue per user by cohort age, exact
      // cents end to end (daily sums, rollup, running cumulative all
      // longs), co-partitioned user aggs + one grid window
      graft.operators.Retention.cohortLtv(
          eng(s, dir).table("events"), "user_id", "ts", "value")
        .withColumn("cohort_day", date_format(col("cohort_day"), "yyyy-MM-dd"))
        .orderBy("cohort_day", "day_offset")
    }),
    "q225_pagerank_personalized" -> ((s, dir) => {
      // topic-sensitive restart: teleport mass lands only on the seed
      // brands, so rank reads "related to THESE" — the recommendation
      // walk; same exact integer doctrine, seeds guaranteed in the node
      // set even when absent from the thresholded graph
      val pr = brandPairs(s, dir)
      val edges = pr.select(col("item_a").as("src"), col("item_b").as("dst"))
        .unionByName(pr.select(col("item_b").as("src"), col("item_a").as("dst")))
      graft.operators.GraphOps.pageRankPersonalized(edges,
          seeds = Seq("Brand#12", "Brand#25"), iters = 5)
        .orderBy("node")
    }),
    "q224_pagerank_weighted" -> ((s, dir) => {
      // edge-weighted PageRank on the same brand graph, mass ∝ pair
      // support — a thousand weak ties can no longer outvote one strong
      // one; identical exact fixed-point + two-regime doctrine
      val pr = brandPairs(s, dir)
      val edges = pr.select(col("item_a").as("src"), col("item_b").as("dst"),
          col("support").as("w"))
        .unionByName(pr.select(col("item_b").as("src"),
          col("item_a").as("dst"), col("support").as("w")))
      graft.operators.GraphOps.pageRankWeighted(edges, iters = 5)
        .orderBy("node")
    }),
    "q223_blocklist" -> ((s, dir) => {
      // safety-filter stage shape: exact-token blocklist hits + density
      // + thresholded flag in one kernel pass per row (the lexicon is
      // the caller's policy; exact match by design — no Scunthorpe)
      eng(s, dir).table("documents")
        .select(col("doc_id"), TextAnalysis.blocklistScore(col("text"),
          Seq("spark", "stream", "vector"), flagDensity = 0.02).as("b"))
        .select(col("doc_id"), col("b.n_tokens"), col("b.n_hits"),
          col("b.density"), col("b.flagged"))
        .orderBy("doc_id")
    }),
    "q201_mutual_info" -> ((s, dir) => {
      // mutual information + marginal entropies + min-normalized NMI:
      // every log argument is a rational of exact counts, terms
      // decimal-summed — the feature-selection measure chi2 isn't
      graft.operators.DistDrift.mutualInformation(
        eng(s, dir).table("orders"), "o_orderpriority", "o_orderstatus")
    }),
    "q202_neyman" -> ((s, dir) => {
      // variance-optimal stratified sampling: allocations ∝ N_h·S_h from
      // decimal-exact moments, largest-remainder integerization summing
      // to EXACTLY nTotal, md5-rank draw per stratum — reproducible
      // end-to-end, oracle replays every stage
      graft.pipeline.Sampling.neymanSample(
          eng(s, dir).table("documents"), "source", "doc_id",
          col("n_chars"), nTotal = 100)
        .orderBy("source", "rank")
    }),
    "q199_chi2_indep" -> ((s, dir) => {
      // categorical dependence: priority × status contingency from exact
      // counts, rational expected cells, decimal-summed χ² terms,
      // Cramér's V from the published χ² — the categorical complement
      // of the PSI/KS drift pair
      graft.operators.DistDrift.chi2Independence(
        eng(s, dir).table("orders"), "o_orderpriority", "o_orderstatus")
    }),
    "q200_gini" -> ((s, dir) => {
      // revenue concentration per priority: Gini from rank-weighted
      // EXACT long sums (ties are position-invariant in Σ i·x — no
      // tiebreak needed), one window pass per group
      graft.operators.DistDrift.gini(
          eng(s, dir).table("orders"), "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")
    }),
    "q198_item_recs" -> ((s, dir) => {
      // item-item "bought together": binary-basket cosine from the
      // association pairs' PUBLISHED rounded confidences (pure function
      // of gated columns), top-3 per item on the physical top-k operator
      graft.operators.Association.recommendations(brandBaskets(s, dir),
          "l_orderkey", "p_brand", minSupport = 100L, topK = 3)
        .orderBy("item", "rank")
    }),
    "q195_bfs_hops" -> ((s, dir) => {
      // single-source shortest hops by frontier expansion (BFS as
      // iterated joins) on the symmetrized brand graph — all-integer,
      // bit-deterministic; the oracle walks the same graph with a
      // recursive CTE
      val pr = brandPairs(s, dir)
      val edges = pr.select(col("item_a").as("src"), col("item_b").as("dst"))
        .unionByName(pr.select(col("item_b").as("src"), col("item_a").as("dst")))
      graft.operators.GraphOps.bfsHops(edges, source = "Brand#12", maxHops = 4)
        .orderBy("node")
    }),
    "q196_bm25_indexed" -> ((s, dir) => {
      // build/serve split for lexical retrieval: corpus passes run once
      // into a term-sorted postings layout + exact (sum_dl, n_docs)
      // scalars; the query touches only its terms' postings and must
      // rank exactly like the from-scratch oracle
      val idx = tmpDir("bm25") + "/idx"
      graft.pipeline.CorpusStats.bm25BuildIndex(
        eng(s, dir).table("documents"), "doc_id", "text", idx)
      graft.pipeline.CorpusStats.bm25QueryIndex(s, idx, "doc_id",
        terms = Seq("spark", "vector", "stream"), topK = 10)
    }),
    "q197_bm25_delta" -> ((s, dir) => {
      // DELTA index maintenance: index two-thirds of the corpus, fold
      // the remaining third in WITHOUT re-tokenizing the old docs
      // (append postings/doclen, recompute exact scalars) — serving
      // must equal a from-scratch build on the full corpus (the oracle)
      val idx = tmpDir("bm25d") + "/idx"
      val docs = eng(s, dir).table("documents")
      graft.pipeline.CorpusStats.bm25BuildIndex(
        docs.where(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text", idx)
      graft.pipeline.CorpusStats.bm25UpdateIndex(
        docs.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text", idx)
      graft.pipeline.CorpusStats.bm25QueryIndex(s, idx, "doc_id",
        terms = Seq("spark", "vector", "stream"), topK = 10)
    }),
    "q191_scd2" -> ((s, dir) => {
      // SCD type-2 dimension build: per-user event_type runs become
      // effective-dated rows — null-safe lag marks run heads, lead
      // closes intervals; ONE pk-keyed window pass, deterministic under
      // the total (ts, id) order
      graft.operators.Scd.buildHistory(eng(s, dir).table("events"),
          "user_id", "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from").cast("long").as("vf_s"),
          col("valid_to").cast("long").cast("double").as("vt_s"),
          col("is_current"))
        .orderBy("user_id", "vf_s")
    }),
    "q192_temporal_join" -> ((s, dir) => {
      // point-in-time lookup: each purchase attaches the state version
      // active at its timestamp — SCD2 history composed with the as-of
      // join (union-sort shape, never a fact×history range join); the
      // oracle derives the same rows via interval CONTAINMENT
      val ev = eng(s, dir).table("events")
      val hist = graft.operators.Scd.buildHistory(
        ev.where(col("event_type") =!= "purchase"),
        "user_id", "ts", "event_id", Seq("event_type"))
      graft.operators.Scd.temporalJoin(
          ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id")),
          hist.withColumnRenamed("event_type", "state"),
          "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("ts_s"), col("state"),
          col("state_since").cast("long").cast("double").as("since_s"))
        .orderBy("event_id")
    }),
    "q193_ab_test" -> ((s, dir) => {
      // A/B readout on deterministic hash assignment: arms from salted
      // md5 (reproducible, re-derivable), conversion per USER (a big
      // purchase), pooled two-proportion z from exact counts — p-value
      // deliberately unpublished (erf is not engine-portable; z is)
      val ev = eng(s, dir).table("events")
      val units = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") >= 150.0,
          1L).otherwise(0L)).as("big"))
      graft.operators.Experiment.abTest(units, "user_id",
        col("big") === 1L, salt = "exp1")
    }),
    "q194_weighted_median" -> ((s, dir) => {
      // quantity-weighted median price per return flag via histogram
      // BISECTION (the exactQuantiles shape with weight sums): the
      // full-sort-window twin is the oracle semantics — q194 proves the
      // binned path lands on the identical exact answer
      graft.operators.Quantiles.weightedMedianBinned(
          eng(s, dir).table("lineitem"),
          Seq("l_returnflag"), "l_extendedprice", "l_quantity",
          Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_returnflag")
    }),
    "q188_cusum" -> ((s, dir) => {
      // CUSUM change-point detection in exact longs via the prefix-min
      // identity: max(0, S+d) recursion == P − min(0, running-min P) —
      // a sequential statistic turned into two stacked window passes,
      // no recursion, no floats
      graft.operators.TimeSeries.cusum(eng(s, dir).table("events"),
          "event_type", "ts", "event_id", "value",
          targetCents = 5500L, hCents = 20000L)
        .orderBy("event_type")
    }),
    "q189_benford" -> ((s, dir) => {
      // Benford first-digit audit: digits from INTEGER cents rendered as
      // strings (no log10 boundary hazard), chi² vs LITERAL expected
      // shares with decimal-summed terms
      graft.operators.Profile.benford(
          eng(s, dir).table("orders"), "o_totalprice")
        .orderBy("digit")
    }),
    "q190_linear_touch" -> ((s, dir) => {
      // linear multi-touch attribution with EXACT integer credit
      // splitting: cents div k per eligible touch, remainder to the
      // latest — credits reconcile to the conversion total to the cent;
      // one window pass carries the running touch list (no self-join);
      // the oracle derives the same credits INDEPENDENTLY via a
      // conversions×touches join
      graft.operators.Attribution.linearTouch(
          eng(s, dir).table("events"), "user_id", "ts", "event_id",
          "event_type", "value", convType = "purchase",
          touchTypes = Seq("click", "view"), lookbackSec = 3600L)
        .orderBy("channel")
    }),
    "q185_twap" -> ((s, dir) => {
      // time-weighted average on irregular samples: each observation
      // holds until the user's next event; cents × whole-second
      // durations — long products, long sums, ONE published ratio; a
      // plain avg() would over-weight bursts
      graft.operators.TimeSeries.twap(eng(s, dir).table("events"),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    }),
    "q186_ohlc" -> ((s, dir) => {
      // OHLC candle resample per (type, day): open/close under the TOTAL
      // (ts, id) order — deterministic under timestamp ties; one window
      // + one aggregation, no per-bucket lookups
      graft.operators.TimeSeries.ohlc(eng(s, dir).table("events"),
          "event_type", "ts", "event_id", "value", unit = "DAY")
        .orderBy("event_type", "bucket_ts")
    }),
    "q187_corr" -> ((s, dir) => {
      // pairwise Pearson matrix from ONE decimal-exact moment pass —
      // corr()'s running double covariances are order/engine-unstable,
      // these cancellations run in exact decimal (doubles only at the
      // final correctly-rounded sqrt and divide)
      graft.operators.Trend.corrMatrix(eng(s, dir).table("lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    }),
    "q184_secondary_index" -> ((s, dir) => {
      // persisted value→PK secondary index (the reference's B+Tree shape
      // re-expressed): range-sorted index files + min/max sidecar; a
      // BETWEEN probe reads only overlapping index files (loud skip
      // guard), matched PKs broadcast-semi-join the base — result ==
      // full-scan filter by construction, which the oracle runs
      val base = tmpDir("sidx")
      val tdir = base + "/orders8"
      eng(s, dir).table("orders").repartition(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(tdir)
      val idxPath = base + "/idx_price"
      graft.operators.SecondaryIndex.build(s, tdir, "o_totalprice",
        "o_orderkey", idxPath)
      val (total, scanned) = graft.operators.SecondaryIndex.pruneStats(
        s, idxPath, "o_totalprice", 100000.0, 110000.0)
      require(scanned < total,
        s"secondary index failed to prune: $scanned/$total index files")
      graft.operators.SecondaryIndex.lookupRange(s, tdir, idxPath,
          "o_totalprice", "o_orderkey", 100000.0, 110000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total_price"))
        .orderBy("o_orderkey")
    }),
    "q182_psi" -> ((s, dir) => {
      // population stability index between order snapshots: declared
      // [0,500k) bins (an engine-derived range would make binning a
      // moving target), Laplace-smoothed shares, decimal-summed terms;
      // the standard "did the score distribution move" monitor
      val (v0, v1) = snapPair(s, dir)
      graft.operators.DistDrift.psi(v0, v1, "o_totalprice",
        lo = 0.0, hi = 500000.0, nBins = 10)
    }),
    "q183_ks_test" -> ((s, dir) => {
      // exact two-sample KS: the max |F1-F2| search runs on INTEGER
      // |c1*n2 - c2*n1| (no float CDF accumulation — deterministic max
      // + smallest-attaining-value tiebreak); ratio published once
      val (v0, v1) = snapPair(s, dir)
      graft.operators.DistDrift.ks(v0, v1, "o_totalprice")
    }),
    "q398_cvm_test" -> ((s, dir) => {
      // the L2 companion to q183 on the SAME snapshot pair: KS reads the
      // one worst CDF gap, Cramér–von Mises integrates EVERY gap against
      // the pooled empirical measure — a broad small drift and one
      // localized spike separate; exact integer mass, two divides
      val (v0, v1) = snapPair(s, dir)
      graft.operators.DistDrift.cramerVonMises(v0, v1, "o_totalprice")
    }),
    "q401_anderson_darling" -> ((s, dir) => {
      // the drift trio completed on the SAME snapshot pair: A² re-weights
      // every CDF gap by 1/(H(1−H)) — tail divergence, invisible to both
      // q183's sup and q398's pooled average, dominates; tie-adjusted
      // midrank form cleared to exact-integer terms via doubled counts
      val (v0, v1) = snapPair(s, dir)
      graft.operators.DistDrift.andersonDarling(v0, v1, "o_totalprice")
    }),
    "q180_countmin" -> ((s, dir) => {
      // count-min frequency table: the token stream is sketched in ONE
      // narrow aggregation (never key-shuffled); per-token estimates are
      // codegen element_at lookups on the broadcast counter row. Width
      // 8192 >> |vocab| → collision-free regime, estimates == exact
      // counts (the CM guarantee only ever over-counts)
      val toks = eng(s, dir).table("documents")
        .select(explode(whitespaceTokens(lower(col("text")))).as("w"))
      graft.operators.FreqSketch.frequencies(
          toks, col("w"), toks.select("w").distinct(), "w")
        .orderBy("w")
    }),
    "q242_join_size" -> ((s, dir) => {
      // pre-shuffle join-size estimation (AMS/CM inner product): two
      // narrow sketch scans + an O(width*depth) dot product answer
      // |supplier JOIN customer| on nationkey WITHOUT running the join.
      // On the bounded 25-key domain the counter rows are collision-free,
      // so the deterministic estimate IS the exact join size (the q180
      // regime — hash-matched vs the real join count); at unbounded key
      // cardinalities it over-counts by <= (e/width)*nL*nR, and the
      // point is choosing broadcast/shuffle/pre-agg before paying for
      // the shuffle
      val e = eng(s, dir)
      graft.operators.FreqSketch.joinSizeEstimate(
        e.table("supplier"), col("s_nationkey"),
        e.table("customer"), col("c_nationkey"), width = 8192, depth = 4)
    }),
    "q181_decayed_topk" -> ((s, dir) => {
      // recency-weighted leaderboard in EXACT integer arithmetic: cents
      // div 2^(age-buckets) — no pow(), no float sums, bit-identical on
      // any layout; bounded TakeOrdered for the top slice
      graft.operators.Decay.leaderboard(eng(s, dir).table("events"),
          "user_id", "ts", "value", asOfDate = "2024-02-01",
          halfLifeDays = 7, topK = 15)
    }),
    "q178_bitmap_audience" -> ((s, dir) => {
      // EXACT audience algebra on bounded ids: one bitmap per event type
      // (ONE aggregation, |domain|/8 bytes state), then every pairwise
      // intersection/union/jaccard is codegen zip_with+bit_count array
      // math — users are never shuffled again. The exact complement of
      // the KMV estimates (q165); oracle recounts with DISTINCT joins
      val bms = graft.operators.Bitmaps.bitmapBy(
        eng(s, dir).table("events"), Seq("event_type"),
        col("user_id"), maxId = 65536)
      graft.operators.Bitmaps.overlap(bms, "event_type")
        .orderBy("g_a", "g_b")
    }),
    "q179_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits its value to the
      // user's most recent click/view within 1 h, else 'direct' — ONE
      // user-keyed window pass with a total (ts, id) order, no
      // per-conversion lookup join; decimal value accumulation
      graft.operators.Attribution.byChannel(
          eng(s, dir).table("events"), "user_id", "ts", "event_id",
          "event_type", "value", convType = "purchase",
          touchTypes = Seq("click", "view"), lookbackSec = 3600L)
        .orderBy("channel")
    }),
    "q175_association" -> ((s, dir) => {
      // market-basket association: brand pairs co-ordered ≥400 times —
      // distinct basket-items first (multiplicity must not inflate
      // support), basket-keyed pair join bounded by the loud mega-basket
      // guard, conf/lift from exact counts
      brandPairs(s, dir)
        .orderBy("item_a", "item_b")
    }),
    "q176_pagerank" -> ((s, dir) => {
      // PageRank on the symmetrized brand graph in 1e-9 FIXED-POINT
      // integer units: contributions are integer `div` (truncation is the
      // definition), sums exact longs — bit-identical on any engine or
      // partitioning; the oracle replays 5 iterations as chained CTEs
      val pr = brandPairs(s, dir)
      val edges = pr.select(col("item_a").as("src"), col("item_b").as("dst"))
        .unionByName(pr.select(col("item_b").as("src"), col("item_a").as("dst")))
      graft.operators.GraphOps.pageRankFixed(edges, iters = 5)
        .orderBy("node")
    }),
    "q177_triangles" -> ((s, dir) => {
      // per-node triangle counts on the canonical (a<b) brand graph via
      // the ordered wedge join — each triangle counted once, then its
      // three corners exploded
      val pr = brandPairs(s, dir)
      graft.operators.GraphOps.triangles(
          pr.select(col("item_a").as("src"), col("item_b").as("dst")))
        .orderBy("node")
    }),
    "q174_profile_drift" -> ((s, dir) => {
      // column-profile drift between snapshots: ONE profiling pass per
      // version (KMV distinct in the exact regime, numeric min/max),
      // drift = pure rounded arithmetic over the two |columns|-sized
      // profiles — the monitoring query that catches null spikes,
      // cardinality collapses and unit changes before they poison a run
      val orders = eng(s, dir).table("orders")
      val v0 = orders.where(pmod(col("o_orderkey"), lit(7)) =!= 1)
      val v1 = orders.where(pmod(col("o_orderkey"), lit(5)) =!= 2)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
      graft.operators.Profile.drift(
          graft.operators.Profile.profile(v0, cols),
          graft.operators.Profile.profile(v1, cols))
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name")
    }),
    "q172_weighted_sample" -> ((s, dir) => {
      // Efraimidis-Spirakis weighted sampling w/o replacement, 5 docs per
      // source weighted by length — exponential clocks −ln(u)/w with the
      // md5-fraction draw (no RNG state: reproducible across engines,
      // partitionings and retries); selection via the bounded
      // top-k-per-key PHYSICAL operator, shuffle = k·|groups| rows
      graft.pipeline.Sampling.weightedSample(
          eng(s, dir).table("documents"), "source", "doc_id",
          col("n_chars"), k = 5)
        .select(col("source"), col("doc_id"), col("rank"))
        .orderBy("source", "rank")
    }),
    "q173_hard_negatives" -> ((s, dir) => {
      // contrastive hard-negative mining: per anchor (vec_id<5) the 5
      // most-similar OTHER-label vectors below the near-dup ceiling;
      // broadcast anchors, one corpus pass, physical top-k ranking
      VectorSearch.hardNegatives(eng(s, dir).table("embeddings"),
          "vec_id", "embedding", "label", col("vec_id") < 5,
          topK = 5, nearDupCeil = 0.95)
        .orderBy("qid", "rank")
    }),
    "q171_mv_stream" -> ((s, dir) => {
      // STREAMING MV maintenance e2e: summary of snapshot v0, then two
      // CDC batches (v0→v1, v1→v2, Debezium-shaped before/after images)
      // replay through a file stream; foreachBatch applies signed deltas
      // and republishes via atomic swap. The final summary must equal a
      // full rebuild of v2 — which is what the oracle aggregates. Signed
      // deltas commute, so the gate is batch-split-insensitive by design.
      import graft.plans.MaterializedViews
      val base = tmpDir("mvstream")
      val orders = eng(s, dir).table("orders")
      def bump(m: Int, amt: String) =
        when(pmod(col("o_orderkey"), lit(m)) === 0,
          lit(amt).cast("decimal(18,2)")).otherwise(lit("0.00").cast("decimal(18,2)"))
      def snap(keep: Column, priceCol: Column) = orders.where(keep)
        .select(col("o_orderkey"), col("o_orderpriority"),
          priceCol.cast("decimal(18,2)").as("price"))
      val v0 = snap(pmod(col("o_orderkey"), lit(7)) =!= 1, dec(col("o_totalprice")))
      val v1 = snap(pmod(col("o_orderkey"), lit(5)) =!= 2,
        dec(col("o_totalprice")) + bump(3, "1.00"))
      val v2 = snap(pmod(col("o_orderkey"), lit(4)) =!= 3,
        dec(col("o_totalprice")) + bump(3, "1.00") + bump(2, "2.00"))
      val mvPath = base + "/mv"
      v0.groupBy(col("o_orderpriority"))
        .agg(sum(col("price")).as("mv_sum_price"), count(lit(1)).as("mv_cnt"))
        .coalesce(1).write.mode("overwrite").parquet(mvPath)
      val cols = Seq("o_orderpriority", "price")
      val feed = base + "/feed"
      val b1 = MaterializedViews.cdcFeed(v0, v1, "o_orderkey", cols)
      b1.coalesce(1).write.mode("overwrite").parquet(feed)
      MaterializedViews.cdcFeed(v1, v2, "o_orderkey", cols)
        .coalesce(1).write.mode("append").parquet(feed)
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      val q = MaterializedViews.maintainStream(stream, mvPath,
          Seq("o_orderpriority"), Seq("price"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", base + "/ck").start()
      q.awaitTermination()
      s.read.parquet(mvPath)
        .select(col("o_orderpriority"), col("mv_cnt").as("cnt"),
          col("mv_sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    }),
    "q169_mad_outliers" -> ((s, dir) => {
      // robust per-group outlier profile: median/MAD (50% breakdown —
      // heavy tails can't drag the cut the way mean/stddev let them),
      // |z|>3.5 counted; two broadcast-sized percentile aggs, the event
      // rows are never shuffled
      graft.operators.Outliers.madProfile(
          eng(s, dir).table("events"), "event_type", "value", zThresh = 3.5)
        .orderBy("event_type")
    }),
    "q170_trend" -> ((s, dir) => {
      // per-priority revenue trend: OLS slope/intercept/r² from
      // DECIMAL-exact moment sums (the cancellation step runs in exact
      // arithmetic; only the final division is IEEE) — engine-portable
      // unlike regr_slope's order-dependent double accumulation
      graft.operators.Trend.fitLinear(
          eng(s, dir).table("orders"), "o_orderpriority",
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")),
          col("o_totalprice"))
        .orderBy("o_orderpriority")
    }),
    "q168_bloom_index" -> ((s, dir) => {
      // file-level bloom data-skipping: orders clustered into 8 files by
      // hash(custkey), per-file bloom sidecar on o_custkey, point lookup
      // reads ONLY bloom-positive files (loud guard: the probe must
      // actually skip) and re-applies the exact predicate — result is
      // IDENTICAL to the full scan the oracle runs (no false negatives)
      val base = tmpDir("bloom")
      val tdir = base + "/orders8"
      eng(s, dir).table("orders").repartition(8, col("o_custkey"))
        .write.mode("overwrite").parquet(tdir)
      val idx = graft.operators.BloomIndex.buildIndex(s, tdir, "o_custkey")
      val (total, scanned) = graft.operators.BloomIndex.pruneStats(
        s, tdir, idx, "o_custkey", 721L)
      require(scanned < total,
        s"bloom index failed to skip: $scanned/$total files scanned")
      graft.operators.BloomIndex.lookup(s, tdir, idx, "o_custkey", 721L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total_price"))
        .orderBy("o_orderkey")
    }),
    "q167_filtered_knn" -> ((s, dir) => {
      // predicate-constrained ANN: the label filter rides INSIDE the
      // probed-cell scan; under-filled probes escalate nprobe (1→2→4)
      // until the terminal full-probe rung, which equals the exact
      // filtered scan — topK=60 > |label=3| forces the whole ladder, so
      // the published result is the exact one the oracle recomputes
      val e = eng(s, dir)
      val embs = e.table("embeddings")
      val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8,
        metric = "l2")
      val q = embs.where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      VectorSearch.ivfSearchFiltered(
        VectorSearch.ivfIndex(embs, model, "embedding"), model,
        "vec_id", "embedding", col("label") === 3, q,
        topK = 60, nprobe = 1)
    }),
    "q164_kmv_distinct" -> ((s, dir) => {
      // KMV distinct-count sketch (md5 oracle family, k=256, ESTIMATE
      // regime: ~11k distinct orders per flag >> k): one k-bounded
      // mergeable aggregation, never a count(distinct) shuffle of the
      // full key set; the oracle re-derives the k-th smallest distinct
      // hash per group and the identical exact-binary-fraction estimator
      val sk = graft.operators.DistinctSketch.sketchBy(
        eng(s, dir).table("lineitem"), Seq("l_returnflag"),
        graft.operators.DistinctSketch.md5Hash(col("l_orderkey")), k = 256)
      sk.select(col("l_returnflag"),
          round(graft.operators.DistinctSketch.estimate(col("kmv"), 256,
            graft.operators.DistinctSketch.fracMd5), 6).as("est_distinct"))
        .orderBy("l_returnflag")
    }),
    "q165_kmv_overlap" -> ((s, dir) => {
      // sketch ALGEBRA: pairwise distinct-order overlap between return
      // flags by MERGING the per-flag sketches (pure array functions —
      // no rescan of lineitem) + inclusion-exclusion; intersection is a
      // pure function of the published rounded estimates
      val sk = graft.operators.DistinctSketch.sketchBy(
        eng(s, dir).table("lineitem"), Seq("l_returnflag"),
        graft.operators.DistinctSketch.md5Hash(col("l_orderkey")), k = 256)
      graft.operators.DistinctSketch.overlap(sk, "l_returnflag", 256,
          graft.operators.DistinctSketch.fracMd5)
        .orderBy("g_a", "g_b")
    }),
    "q166_kmv_rollup" -> ((s, dir) => {
      // production hash family (xxhash64>>>12) in the EXACT regime
      // (1.5k distinct customers < k=4096 — the sketch holds every
      // distinct hash, estimate == exact count): per-priority counts
      // PLUS an 'ALL' row RE-AGGREGATED from the five group sketches
      // (explode + re-sketch), never from the base table — the cube
      // rollup count(distinct) cannot do. Oracle: exact count(distinct).
      import graft.operators.DistinctSketch._
      val k = 4096
      val sk = sketchBy(eng(s, dir).table("orders"), Seq("o_orderpriority"),
        xxHash52(col("o_custkey")), k)
      val per = sk.select(col("o_orderpriority").as("grp"),
        estimate(col("kmv"), k, fracXx).cast("long").as("est_distinct"))
      val all = sk.select(explode(col("kmv")).as("h"))
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k).as("kmv"))
        .select(lit("ALL").as("grp"),
          estimate(col("kmv"), k, fracXx).cast("long").as("est_distinct"))
      per.unionByName(all).orderBy("grp")
    }),
    "q163_rfm" -> ((s, dir) => {
      // RFM quintiles over orders (deterministic ntile with custkey
      // tiebreak); monetary stays decimal until the output cast
      graft.operators.Retention.rfm(
          eng(s, dir).table("orders"), "o_custkey", "o_orderdate",
          "o_totalprice", asOfDate = "2001-09-01")
        .withColumn("monetary", col("monetary").cast("double"))
        .orderBy("o_custkey")
    }),
    "q160_sliding_distinct" -> ((s, dir) => {
      // exact DISTINCT users per sliding window (24 h window, 6 h hop):
      // the sliding assignment is a bounded ×4 Expand, the distinct one
      // keyed aggregation — never a self-join per hop; the oracle
      // enumerates aligned window starts and recounts
      eng(s, dir).table("events")
        .groupBy(window(col("ts"), "24 hours", "6 hours").as("w"))
        .agg(count_distinct(col("user_id")).as("nu"),
          count(lit(1)).as("n_events"))
        .select(col("w.start").cast("long").as("ws"), col("nu"), col("n_events"))
        .orderBy("ws")
    }),
    "q159_skew_probe" -> ((s, dir) => {
      // pre-join skew probe: exact multiplicity quantiles (incl. the
      // p=1.0 max fan-out) for two candidate join keys, computed over
      // the count relations, not the event rows; the oracle recounts
      // and quantile_disc's each distribution
      graft.operators.SkewProbe.multiplicityProfile(
          eng(s, dir).table("orders"), Seq("o_custkey", "o_orderpriority"))
        .orderBy("key_col", "p")
    }),
    "q158_set_ops" -> ((s, dir) => {
      // relational set ops incl. the BAG variant: EXCEPT/INTERSECT are
      // distinct-semantics aggregates, EXCEPT ALL keeps multiplicity
      // (Catalyst plans the count-diff generate) — all three tagged into
      // one result the oracle reproduces with native set operators
      val c = eng(s, dir).table("customer")
      val bld = c.where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val open = eng(s, dir).table("orders")
        .where(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      val rich = c.where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k"))
      val li = eng(s, dir).table("lineitem")
      val hi = li.where(col("l_quantity") >= 48).select(col("l_orderkey").as("k"))
      val ret = li.where(col("l_returnflag") === "A").select(col("l_orderkey").as("k"))
      bld.except(open).withColumn("op", lit("except"))
        .unionByName(bld.intersect(rich).withColumn("op", lit("intersect")))
        .unionByName(hi.exceptAll(ret).withColumn("op", lit("except_all")))
        .select("op", "k").orderBy("op", "k")
    }),
    "q157_analyze" -> ((s, dir) => {
      // ANALYZE: per-column n/nulls/exact-NDV/extents for five orders
      // columns in ONE scan (multi-DISTINCT → single Expand + agg); the
      // oracle recounts each column independently
      graft.operators.Analyze.tableStats(
          eng(s, dir).table("orders"),
          Seq("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority"))
        .orderBy("column_name")
    }),
    "q156_gap_fill" -> ((s, dir) => {
      // 6-hour resample with explicit gap rows and forward-filled sums
      // over a 15-user slice; the oracle rebuilds the grid with
      // range()+IGNORE NULLS — a missing cell, a wrong carry, or an FP
      // drift in the decimal sum goes red
      graft.operators.Resample.resample(
          eng(s, dir).table("events").where(pmod(col("user_id"), lit(10)) === 0),
          "user_id", "ts", stepSec = 21600, valueCol = "value")
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("user_id", "b")
    }),
    "q155_range_join" -> ((s, dir) => {
      // batch range join (click→purchase within 30 min, real clocks)
      // computed as the bucketed EQUI-join — the hash-joinable plan for
      // what Catalyst would otherwise run as a per-key cross product;
      // the oracle runs the naive theta join
      val ev = eng(s, dir).table("events")
      graft.operators.RangeJoin.inner(
          ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("click_t")),
          ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("purchase_t")),
          "user_id", "click_t", "purchase_t",
          minDelaySec = 0, maxDelaySec = 1800, bucketSec = 600)
        .select(col("user_id"),
          unix_micros(col("click_t")).as("click_us"),
          unix_micros(col("purchase_t")).as("purchase_us"))
        .orderBy("user_id", "click_us", "purchase_us")
    }),
    "q154_stream_join" -> ((s, dir) => {
      // stream-stream interval join end-to-end: click→purchase
      // attribution within 300 s on a rebased clock whose TOTAL spread
      // (3000 s) sits far inside the 6 h horizon, so no state eviction
      // can drop a match and the result equals the batch interval join
      // the oracle runs (q66's bounded-spread determinism pattern)
      val base = tmpDir("q154")
      val ev = eng(s, dir).table("events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("t", timestamp_seconds(lit(1767225600L) + pmod(col("event_id"), lit(3000))))
      ev.where(col("event_type") === "click")
        .select(col("user_id"), col("t").as("click_t"))
        .write.mode("overwrite").parquet(base + "/clicks")
      ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("t").as("purchase_t"))
        .write.mode("overwrite").parquet(base + "/purchases")
      val ss = streaming.StreamTuning.sizedSession(s)
      val clicks = ss.readStream
        .schema("user_id LONG, click_t TIMESTAMP").parquet(base + "/clicks")
      val purchases = ss.readStream
        .schema("user_id LONG, purchase_t TIMESTAMP").parquet(base + "/purchases")
      val q = graft.streaming.IntervalJoin.stream(
          clicks, purchases, "user_id", "click_t", "purchase_t",
          minDelaySec = 0, maxDelaySec = 300, watermark = "6 hours")
        .select(col("user_id"),
          col("click_t").cast("long").as("click_s"),
          col("purchase_t").cast("long").as("purchase_s"))
        .writeStream.format("memory").queryName("q154_join_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q154_stream_join: streaming query did not finish within 120 s")
      ss.table("q154_join_mem").orderBy("user_id", "click_s", "purchase_s")
    }),
    "q240_acf" -> ((s, dir) => {
      // exact autocorrelation (lags 1..7) of the daily revenue series per
      // event type: moments in DECIMAL(38,0) with denominators cleared
      // (the welchT doctrine), one key-partitioned window pass builds all
      // leads, ONE double division per (key, lag). Lag is ROW lag over
      // the observed daily series (the oracle replays the same contract);
      // real pipelines gap-fill first (q156) when calendar lag is meant
      val daily = eng(s, dir).table("events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      graft.operators.TimeSeries.acf(daily, "event_type", "day", "cents",
          maxLag = 7)
        .orderBy("event_type", "lag")
    }),
    "q241_sketch_quantiles" -> ((s, dir) => {
      // mergeable-sketch quantiles: Spark's native GK QuantileSummaries
      // via percentile_approx — Catalyst partial/final aggregation IS the
      // sketch merge (fixed-size state, the 100 TB path; q153 is the
      // exact twin). GK estimates are merge-order-dependent within the
      // rank bound, so the gate REQUIRES the bound in-body (exact-rank
      // interval of each estimate overlaps target ± n/accuracy) and
      // hash-matches only the deterministic columns + the exact twin
      val li = eng(s, dir).table("lineitem")
      val ps = Seq(0.25, 0.5, 0.75, 0.875)
      val sk = graft.operators.Quantiles.sketchQuantiles(li,
        Seq("l_returnflag"), "l_extendedprice", ps, accuracy = 100)
      val bad = sk.where(col("within_eps") =!= 1).count()
      require(bad == 0, s"q241 GK rank bound broken for $bad (group,p) pairs")
      val exact = graft.operators.Quantiles.exactQuantiles(li,
        Seq("l_returnflag"), "l_extendedprice", ps)
      exact.join(sk.select(col("l_returnflag"), col("p"), col("n"),
          col("target_rank"), col("within_eps")), Seq("l_returnflag", "p"))
        .select(col("l_returnflag"), col("p"), col("n"), col("target_rank"),
          col("value").as("exact_value"), col("within_eps"))
        .orderBy("l_returnflag", "p")
    }),
    "q153_exact_quantiles" -> ((s, dir) => {
      // exact per-group quantiles by histogram bisection (no per-group
      // full sort; only candidate bins reach the selection shuffle) —
      // must equal DuckDB's quantile_disc rank-for-rank
      graft.operators.Quantiles.exactQuantiles(
          eng(s, dir).table("lineitem"),
          Seq("l_returnflag"), "l_extendedprice",
          ps = Seq(0.25, 0.5, 0.75, 0.875))
        .orderBy("l_returnflag", "p")
    }),
    "q150_grouping_sets" -> ((s, dir) => {
      // arbitrary GROUPING SETS (not a rollup/cube prefix chain) with
      // grouping flags — Catalyst expands to one Expand + single agg,
      // not one scan per set; flags disambiguate rolled-up nulls
      eng(s, dir).table("lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"),
          count(lit(1)).as("cnt"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q151_pivot" -> ((s, dir) => {
      // pivot to wide: explicit value list keeps the plan single-pass
      // (one agg + one pivot projection, no per-value scans) and the
      // output schema static — the contract a 100 TB pivot needs
      eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))))
        .select(col("o_orderpriority"),
          col("F").cast("double").as("f_total"),
          col("O").cast("double").as("o_total"),
          col("P").cast("double").as("p_total"))
        .orderBy("o_orderpriority")
    }),
    "q152_unpivot" -> ((s, dir) => {
      // unpivot (melt) the q151 wide shape back to long — the inverse
      // operator, a zero-shuffle Expand projection; null cells drop per
      // the unpivot contract so the roundtrip equals the plain group-by
      eng(s, dir).table("orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))).cast("double"))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")),
          "status", "total")
        .orderBy("o_orderpriority", "status")
    }),
    "q148_funnel" -> ((s, dir) => {
      // ordered windowed funnel (view → click → purchase, 7-day window
      // anchored at the first view) in ONE custom TypedImperativeAggregate
      // pass; the oracle recomputes the identical min-chaining contract
      // with three sequential CTEs — a level or chain-timestamp slip at
      // any user goes red
      graft.operators.Funnel.levels(
          eng(s, dir).table("events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"),
          windowMicros = 7L * 24 * 3600 * 1000000L)
        // epoch-micros fit a double exactly (< 2^53); double on BOTH sides
        // keeps the nullable-BIGINT → pandas-float oracle rendering aligned
        .transform(outDouble(_, "ts1", "ts2", "ts3"))
        .orderBy("user_id")
    }),
    "q149_cohort" -> ((s, dir) => {
      // cohort-retention grid: first-activity-day cohorts × day offsets,
      // counts AND the ratio recomputed by the oracle; the user-keyed
      // aggs co-partition so the join adds no exchange
      graft.operators.Retention.cohortRetention(
          eng(s, dir).table("events"), "user_id", "ts")
        .withColumn("cohort_day", date_format(col("cohort_day"), "yyyy-MM-dd"))
        .orderBy("cohort_day", "day_offset")
    }),
    "q147_vocab_drift" -> ((s, dir) => {
      // crawl-over-crawl vocabulary drift: two modular corpus slices
      // produce organic added/vanished/changed tokens; the top movers
      // under the (|Δ| desc, token) total order must match the oracle's
      // full-outer recount
      val docs = eng(s, dir).table("documents")
        .select(col("doc_id"), col("text"))
      graft.pipeline.CorpusStats.vocabDrift(
          docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", topN = 20)
    }),
    "q146_delta_pipeline" -> ((s, dir) => {
      // the delta-first ingestion flagship: the daily increment (q112's
      // split) runs quality (q27/q110 semantics) AND history near-dedup
      // (q112 semantics, md5 oracle family) and rolls up per source —
      // acceptance counts plus the post-ingest corpus size. The oracle
      // recomputes all three stages and the roll-up; at 100 TB every
      // stage touches the increment + the history INDEX surfaces
      // (fingerprints, band keys), never history text twice
      val docs = eng(s, dir).table("documents")
        .select(col("doc_id"), col("source"), col("text"))
      val history = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val incr = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val dedupOk = Dedup.dedupAgainstHistory(history, incr, "doc_id", "text",
          shingleN = 3, k = 12, bands = 4, oracleHash = true)
        .select(col("doc_id"), lit(1L).as("dok"))
      val staged = incr
        .withColumn("qok",
          (TextAnalysis.qualityScore(col("text")) >= 0.5).cast("long"))
        .join(dedupOk, Seq("doc_id"), "left")
        .withColumn("dok", coalesce(col("dok"), lit(0L)))
      val perSource = staged.groupBy(col("source")).agg(
        count(lit(1)).as("n_incr"),
        sum(col("qok")).as("n_quality_ok"),
        sum(col("dok")).as("n_dedup_ok"),
        sum(col("qok") * col("dok")).as("n_accepted"))
      val histCnt = history.groupBy(col("source"))
        .agg(count(lit(1)).as("n_hist"))
      perSource.join(histCnt, Seq("source"), "left")
        .withColumn("corpus_after",
          coalesce(col("n_hist"), lit(0L)) + col("n_accepted"))
        .select("source", "n_incr", "n_quality_ok", "n_dedup_ok",
          "n_accepted", "corpus_after")
        .orderBy("source")
    }),
    "q145_script_profile" -> ((s, dir) => {
      // Unicode-script profiling over closed-form mixed-script text:
      // per-script counts and the dominant-script argmax must match the
      // modular construction — a UAX#24 bucket slip or a fold-order
      // drift in the tiebreak goes red
      val df = eng(s, dir).table("documents").select(col("doc_id"),
        expr("concat(repeat('a', CAST(doc_id % 5 + 1 AS INT)), " +
          "repeat('я', CAST(doc_id % 3 AS INT)), " +
          "repeat('中', CAST(doc_id % 4 AS INT)), " +
          "repeat('م', CAST(doc_id % 2 AS INT)))").as("text"))
      val prof = TextAnalysis.scriptProfile(col("text"))
      df.select(col("doc_id"),
          element_at(prof, 1).as("latin"),
          element_at(prof, 2).as("cyrillic"),
          element_at(prof, 3).as("han"),
          element_at(prof, 4).as("arabic"),
          TextAnalysis.dominantScript(col("text")).as("dominant"))
        .orderBy("doc_id")
    }),
    "q144_quality_audit" -> ((s, dir) => {
      // declarative audit over lineitem: a cutting range (1..25 splits
      // the 1..50 quantity domain), a deliberately-sliced dimension
      // (suppliers %3==0 removed → real ref violations), uniqueness
      // over the multi-row order key, and a not-null; the oracle
      // recomputes each count with the same NULL semantics
      import graft.operators.QualityAudit._
      val li = eng(s, dir).table("lineitem")
      val dimSlice = eng(s, dir).table("supplier")
        .where(pmod(col("s_suppkey"), lit(3)) =!= 0)
      audit(li, Seq(
          NotNull("l_returnflag"),
          Bounds("l_quantity", 1.0, 25.0),
          Unique(Seq("l_orderkey")),
          RefIntegrity("l_suppkey", dimSlice, "s_suppkey")))
        .orderBy("rule")
    }),
    "q143_topk_physical" -> ((s, dir) => {
      // the custom physical operator (TopKPerKeyNode → TopKStrategy →
      // two TopKPerKeyExec stages around a planner-inserted exchange)
      // must produce EXACTLY the window formulation the oracle runs —
      // top-k decomposability under the total order is the contract
      graft.plans.TopK.perKey(
          eng(s, dir).table("orders")
            .select("o_orderstatus", "o_orderkey", "o_totalprice"),
          keyCols = Seq("o_orderstatus"), orderCol = "o_totalprice",
          k = 3, tieCol = "o_orderkey")
        .orderBy("o_orderstatus", "rank")
    }),
    "q142_mv_incremental" -> ((s, dir) => {
      // incremental MV maintenance composed from the CDC diff: the q133
      // snapshot construction drives delta partials (old rows negated,
      // new rows positive) into the old summary; the result must equal
      // a FULL rebuild of the new snapshot, which is what the oracle
      // aggregates directly
      val root = tmpDir("q142")
      val orders = eng(s, dir).table("orders")
      val oldSnap = orders.where(pmod(col("o_orderkey"), lit(7)) =!= 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          dec(col("o_totalprice")).as("price_d"))
      val newSnap = orders.where(pmod(col("o_orderkey"), lit(5)) =!= 2)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, dec(col("o_totalprice") + lit(1.0)))
            .otherwise(dec(col("o_totalprice"))).as("price_d"))
      oldSnap.write.mode("overwrite").parquet(root + "/old")
      graft.plans.MaterializedViews.create(s, root + "/old", root + "/mv",
        dims = Seq("o_orderstatus", "o_orderpriority"),
        aggSpecs = Seq(("sum", "price_d"), ("count", "*")))
      graft.plans.MaterializedViews.refreshIncremental(
          s.read.parquet(root + "/old"), newSnap, "o_orderkey",
          s.read.parquet(root + "/mv"),
          dims = Seq("o_orderstatus", "o_orderpriority"), sumCols = Seq("price_d"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("mv_cnt").as("cnt"),
          col("mv_sum_price_d").cast("double").as("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),
    "q141_heavy_hitters" -> ((s, dir) => {
      // exact heavy hitters through the Misra-Gries candidate sketch
      // (custom TypedImperativeAggregate): the MG superset guarantee
      // makes the verified output IDENTICAL to the exact computation
      // the oracle runs — sketch internals cannot leak into the hash
      graft.pipeline.CorpusStats.heavyHitters(
          eng(s, dir).table("documents"), "doc_id", "text",
          capacity = 64, fracDen = 32)
        .orderBy("w")
    }),
    "q140_salted_join" -> ((s, dir) => {
      // skew-salted join equivalence: orders⋈customer through the
      // salt-replicated build side must aggregate to EXACTLY the plain
      // join's answer — salting redistributes rows, it must never
      // duplicate or drop a match. DECIMAL accumulation keeps the sum
      // order-independent; the oracle runs the unsalted join
      val orders = eng(s, dir).table("orders")
        .select(col("o_custkey"), dec(col("o_totalprice")).as("price_d"))
      val cust = eng(s, dir).table("customer")
        .select(col("c_custkey"), col("c_nationkey"))
      graft.operators.Scale.saltedJoin(orders, cust,
          "o_custkey", "c_custkey", salt = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_d")).as("sp"))
        .select(col("c_nationkey"), col("cnt"),
          col("sp").cast("double").as("sum_price"))
        .orderBy("c_nationkey")
    }),
    "q139_mv_rewrite" -> ((s, dir) => {
      // materialized-view aggregate rewrite: a private base copy gets a
      // (returnflag, linestatus) summary; the coarser returnflag query
      // must be REDIRECTED to the summary by the optimizer rule (loud
      // require on the scan path) and still hash-match the oracle
      // computed from the RAW lineitem — exactness of the
      // sum-of-partial-sums decomposition is the contract. DECIMAL
      // accumulation (the q01 dec() convention) keeps the sums
      // order-independent; the final output casts to double
      val root = tmpDir("q139")
      val base = root + "/base"
      val mv = root + "/mv"
      eng(s, dir).table("lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          dec(col("l_quantity")).as("qty_d"))
        .write.mode("overwrite").parquet(base)
      graft.plans.MaterializedViews.create(s, base, mv,
        dims = Seq("l_returnflag", "l_linestatus"),
        aggSpecs = Seq(("sum", "qty_d"), ("count", "*"),
          ("min", "qty_d"), ("max", "qty_d")))
      val q = s.read.parquet(base).groupBy("l_returnflag")
        .agg(sum(col("qty_d")).as("sq"), count(lit(1)).as("cnt"),
          min(col("qty_d")).as("mn"), max(col("qty_d")).as("mx"))
      val scans = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scans.exists(_.contains("/mv")),
        s"q139: MV rewrite did not engage — scans $scans")
      q.select(col("l_returnflag"), col("cnt"),
          col("sq").cast("double").as("sum_qty"),
          col("mn").cast("double").as("min_qty"),
          col("mx").cast("double").as("max_qty"))
        .orderBy("l_returnflag")
    }),
    "q138_entity_match" -> ((s, dir) => {
      // record linkage: syllable names from c_custkey, plus a
      // transposed-typo variant for every third key; blocked (first
      // char + length) Jaro-Winkler self-join at 0.9 must recover the
      // planted twins. The oracle rebuilds the same entities and scores
      // with DuckDB's own jaro_winkler_similarity — a REAL independent
      // implementation, not a closed form: any window/transposition/
      // boost drift in the kernel goes red
      // bounded slice (the q44/q111 discipline): past ~4k keys the FIXED
      // syllable space starts repeating (period lcm(245,26)=6370), and
      // every repeat pairs at >=0.95 with its whole residue class — pair
      // mass then grows quadratically with sf by construction, which is
      // the fixture's artifact, not the operator's shape
      val base = eng(s, dir).table("customer")
        .where(col("c_custkey") < 4000).selectExpr("c_custkey AS k",
        "concat(element_at(array('bel','cor','dan','fay','gil','hart','jor'), CAST(c_custkey % 7 + 1 AS INT)), " +
          "element_at(array('mon','ris','tab','ven','wick','zel','oak'), CAST((c_custkey div 7) % 7 + 1 AS INT)), " +
          "element_at(array('a','ton','ley','mor','ix'), CAST((c_custkey div 49) % 5 + 1 AS INT)), " +
          "char(97 + c_custkey % 26)) AS nm")
      val variants = base.where("k % 3 = 0").selectExpr("k + 10000000 AS k",
        "concat(substring(nm,1,1), substring(nm,3,1), substring(nm,2,1), substring(nm,4,100)) AS nm")
      graft.pipeline.EntityMatch.nameMatchBlocked(
          base.unionByName(variants), "k", "nm", minSim = 0.9)
        .orderBy("a", "b")
    }),
    "q137_bpe_tokens" -> ((s, dir) => {
      // real greedy BPE apply (merge-table inference) over closed-form
      // words: "the"/"in"/"thin" fully merge under the table, "x"-runs
      // never merge, so exact token and multi-char-token counts are
      // arithmetic in doc_id — a priority slip or missed/extra merge
      // changes the counts and goes red
      val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n",
        "e" -> "r", "o" -> "u", "x" -> "q")
      val df = eng(s, dir).table("documents").select(col("doc_id"),
        expr("concat(repeat('the ', CAST(doc_id % 7 + 1 AS INT)), " +
          "repeat('in ', CAST(doc_id % 5 AS INT)), " +
          "repeat('thin ', CAST(doc_id % 2 AS INT)), " +
          "repeat('x', CAST(doc_id % 3 + 1 AS INT)))").as("text"))
      df.select(col("doc_id"),
          bpeCount(col("text"), merges).cast("long").as("n_tokens"),
          size(filter(bpeEncode(col("text"), merges),
            t => length(t) > lit(1))).cast("long").as("n_multi"))
        .orderBy("doc_id")
    }),
    "q136_caption_align" -> ((s, dir) => {
      // caption↔image alignment (CLIP-score filter shape): each doc gets
      // a REAL pure-channel PNG (channel = id%3) and a caption whose
      // color word shifts off-channel when id%5==0. The engine must
      // decode pixels → channel means → dominant color, regexp-parse the
      // caption, and score agreement; the oracle recomputes every value
      // from the modular construction — a decode or parse slip cannot
      // hash-match
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val rgb = (id % 3) match {
          case 0 => 0xFF0000
          case 1 => 0x00FF00
          case _ => 0x0000FF
        }
        (id, Multimodal.ImageIoCodec.encodeSolidRgb("png", 8, 8, rgb))
      }).toDF("media_id", "content")
      val colorWords = Seq("red", "green", "blue")
      val captions = ids.map { id =>
        val c = if (id % 5 == 0) ((id % 3) + 1) % 3 else id % 3
        (id, s"a photo of a ${colorWords(c.toInt)} object number $id")
      }.toDF("media_id", "caption")
      val means = Multimodal.channelMeans(media)
      val imgColor = when(col("mean_r") >= col("mean_g") && col("mean_r") >= col("mean_b"), "red")
        .when(col("mean_g") >= col("mean_b"), "green").otherwise("blue")
      val capColor = regexp_extract(lower(col("caption")), "\\b(red|green|blue)\\b", 1)
      means.join(captions, "media_id")
        .withColumn("img_color", imgColor)
        .withColumn("cap_color", capColor)
        .withColumn("score", round(
          when(col("cap_color") === "red", col("mean_r"))
            .when(col("cap_color") === "green", col("mean_g"))
            .otherwise(col("mean_b")) / lit(255.0), 6))
        .withColumn("aligned", col("img_color") === col("cap_color"))
        .select("media_id", "img_color", "cap_color", "score", "aligned")
        .orderBy("media_id")
    }),
    "q135_zorder_layout" -> ((s, dir) => {
      // Z-order vs linear clustering, measured: per-bucket min/max
      // "footer stats" + scan flags for a narrow-acctbal box and a
      // narrow-nation box. The oracle recomputes grid coords, the Morton
      // interleave (explicit bit arithmetic) and the overlap tests —
      // a drift in any bit position flips a bucket assignment and goes
      // red. linear scans ~every bucket for the nation box; zorder
      // prunes both (the multi-dim layout story at 100 TB)
      graft.operators.ZOrder.layoutPruningStats(
          eng(s, dir).table("customer"),
          "c_acctbal", "c_nationkey",
          aMin = -1000.0, aMax = 10000.0, bMin = 0.0, bMax = 25.0,
          boxes = Seq(
            graft.operators.ZOrder.Box("narrow_a", 0.0, 1000.0, 0.0, 25.0),
            graft.operators.ZOrder.Box("narrow_b", -1000.0, 10000.0, 5.0, 10.0)),
          bits = 8, bucketBits = 4)
        .orderBy("layout", "bucket")
    }),
    "q134_bigram_lm" -> ((s, dir) => {
      // interpolated bigram LM (Jelinek–Mercer): corpus-trained bigram +
      // unigram counts, per-doc mean log of the mixed probability. The
      // oracle retrains both tables and recomputes the identical IEEE
      // mixture, so a drift in context normalization or the
      // interpolation weights goes red
      graft.pipeline.CorpusStats.bigramLogProb(
          eng(s, dir).table("documents"), "doc_id", "text", lambda = 0.8)
        .orderBy("doc_id")
    }),
    "q133_snapshot_diff" -> ((s, dir) => {
      // snapshot-diff CDC derivation: old = keys %7!=1, new = keys %5!=2
      // with prices bumped on %3==0 — the full-outer PK join must
      // classify exactly the constructed insert/delete/update sets; the
      // oracle rebuilds both snapshots and the null-safe comparison
      val orders = eng(s, dir).table("orders")
      val oldSnap = orders.where(pmod(col("o_orderkey"), lit(7)) =!= 1)
      val newSnap = orders.where(pmod(col("o_orderkey"), lit(5)) =!= 2)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      graft.operators.SnapshotDiff.changes(oldSnap, newSnap,
          "o_orderkey", Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    }),
    "q132_quality_curriculum" -> ((s, dir) => {
      // quality-curriculum composition: corpus-trained unigram LM score
      // (q82's gated op) → exact quintile bins (q124's oracle path) →
      // per-bin population profile; the scale path swaps scoreBins'
      // approx cutpoints
      val lm = graft.pipeline.CorpusStats.unigramLogProb(
        eng(s, dir).table("documents"), "doc_id", "text")
      TextAnalysis.scoreBinsExact(lm, "doc_id", "avg_logprob", nBins = 5)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("avg_logprob")), 6).as("mean_lp"),
          round(min(col("avg_logprob")), 6).as("lo"),
          round(max(col("avg_logprob")), 6).as("hi"))
        .orderBy("bin")
    }),
    "q131_url_filter" -> ((s, dir) => {
      // URL-filter gate (BmpCodec discipline for strings): URLs
      // synthesized from doc_id with closed-form host/tld/depth/params,
      // pushed through the full regexp parser + blocklist — the oracle
      // recomputes every fact ARITHMETICALLY, so an extraction slip in
      // any component cannot hash-match
      val id = col("doc_id")
      val tld = element_at(array(lit("com"), lit("org"), lit("net"), lit("xyz")),
        (id % 4).cast("int") + 1)
      val path = when(id % 4 > 0,
          concat_ws("", transform(sequence(lit(1), (id % 4).cast("int")),
            i => concat(lit("/s"), i))))
        .otherwise(lit(""))
      val query = when(id % 3 > 0,
          concat(lit("?"), concat_ws("&",
            transform(sequence(lit(1), (id % 3).cast("int")),
              i => concat(lit("k"), i, lit("=v"))))))
        .otherwise(lit(""))
      val url = concat(lit("https://sub"), id % 3, lit(".site"), id % 7,
        lit("."), tld, path, query)
      val d = eng(s, dir).table("documents").select(id, url.as("url"))
      val f = TextAnalysis.urlFeatures(col("url"))
      d.select(col("doc_id"),
          f.getField("host").as("host"),
          f.getField("tld").as("tld"),
          f.getField("path_depth").as("path_depth"),
          f.getField("n_params").as("n_params"),
          TextAnalysis.urlBlocked(col("url"), Seq("xyz"), "\\.site0\\.")
            .as("blocked"))
        .orderBy("doc_id")
    }),
    "q130_rag_prep" -> ((s, dir) => {
      // RAG-ingestion flagship: context chunking (32-token windows, 8
      // overlap, q76's gated op) → feature-hash chunk embeddings (q121's
      // md5 family, dim 16) → cross-doc chunk kNN for docs 0-1's chunks
      // (top-2, same-doc chunks excluded). The scale path swaps in real
      // embeddings + IVF/PQ/Graph serving — all gated separately; this
      // pins the composed plumbing end-to-end.
      val chunks = TextAnalysis.chunkByTokens(eng(s, dir).table("documents"),
          "doc_id", "text", tokensPerChunk = 32, overlap = 8)
        .select((col("doc_id") * 1000L + col("chunk_idx")).as("cid"),
          col("chunk_text"))
      val emb = TextAnalysis.hashEmbed(chunks, "cid", "chunk_text",
          dim = 16, oracleHash = true)
        .select(col("cid"), col("embedding"))
      val q = emb.where(col("cid") < 2000)
        .select(col("cid").as("qid"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("cid").asc)
      emb.join(broadcast(q),
          floor(col("cid") / 1000) =!= floor(col("qid") / 1000))
        .withColumn("cosine",
          round(cosineSimilarity(col("embedding"), col("qv")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 2)
        .select(col("qid"), col("rank"), col("cid").as("nn_cid"), col("cosine"))
        .orderBy("qid", "rank")
    }),
    "q129_line_dedup_doc" -> ((s, dir) => {
      // q118's re-lining under scope="doc": only WITHIN-document repeats
      // drop (RefinedWeb intra-doc trim); cross-doc repeats survive, so
      // n_kept here ≥ q118's for every doc
      val d = eng(s, dir).table("documents")
      val ws = split(trim(col("text")), " ")
      val relined = d.select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), (ceil(size(ws) / 3.0)).cast("int") - 1),
            i => array_join(slice(ws, i * 3 + 1, lit(3)), " ")),
          "\n").as("text"))
      Dedup.dedupLines(relined, "doc_id", "text", scope = "doc")
        .withColumn("text_kept", md5(col("text_kept")))
        .orderBy("doc_id")
    }),
    "q127_token_budget" -> ((s, dir) => {
      // budgeted corpus assembly: ≤3000 chars per source, hash-ordered
      // prefix (reproducible uniform pick), one window per stratum
      graft.pipeline.Sampling.takeTokenBudget(
          eng(s, dir).table("documents"), "doc_id", "n_chars", "source",
          budget = 3000)
        .select("doc_id", "source", "n_chars", "cum_tokens")
        .orderBy("doc_id")
    }),
    "q128_winnow_pairs" -> ((s, dir) => {
      // winnow-index candidate pairs: k=20/w=8 → any shared ≥27-char
      // substring pairs up; ids-only fp buckets, no doc×doc join
      Dedup.winnowPairs(eng(s, dir).table("documents"), "doc_id", "text",
          k = 20, w = 8, oracleHash = true)
        .orderBy("a", "b")
    }),
    "q126_epoch_shuffle" -> ((s, dir) => {
      // deterministic multi-epoch ordering: per-epoch md5 sort key, two
      // epochs' top-10 heads — each epoch a different but reproducible
      // permutation; the per-epoch cut is TakeOrdered, never a full sort
      val d = eng(s, dir).table("documents")
      Seq(0, 1).map { ep =>
        d.select(lit(ep.toLong).as("epoch"), col("doc_id"),
            graft.pipeline.Sampling.epochKey(col("doc_id"), ep,
              oracleHash = true).as("ekey"))
          .orderBy("ekey").limit(10)
      }.reduce(_ unionByName _)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("epoch")).orderBy(col("ekey"))).cast("long"))
        .select(col("epoch"), col("rank"), col("doc_id"), col("ekey"))
        .orderBy("epoch", "rank")
    }),
    "q125_winnow" -> ((s, dir) => {
      // MOSS winnowing gate: per-doc fingerprint count + digest of the
      // sorted fingerprint set — a window-min off-by-one, a gram
      // boundary slip or a lost/duplicated fingerprint breaks the hash
      Dedup.winnowFingerprints(eng(s, dir).table("documents"),
          "doc_id", "text", k = 8, w = 4, oracleHash = true)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          md5(concat_ws(",", sort_array(collect_list(col("fp"))))).as("digest"))
        .orderBy("doc_id")
    }),
    "q124_score_bins" -> ((s, dir) => {
      // curriculum bucketing gate: rank-based deciles over (n_chars,
      // doc_id) — the oracle path; `scoreBins` (approx cutpoints, no
      // global sort) is the scale route, spec-pinned equal at relErr 0
      TextAnalysis.scoreBinsExact(
          eng(s, dir).table("documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", nBins = 10)
        .orderBy("doc_id")
    }),
    "q123_text_knn" -> ((s, dir) => {
      // end-to-end text→vector→search composition: hashEmbed (md5
      // oracle family, dim 16) feeds exact cosine top-3 for a 5-doc
      // query set — queries broadcast, corpus side stays distributed,
      // per-query window bounded by the candidate count
      val emb = TextAnalysis.hashEmbed(eng(s, dir).table("documents"),
          "doc_id", "text", dim = 16, oracleHash = true)
        .select(col("doc_id"), col("embedding"))
      val q = emb.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("doc_id").asc)
      emb.join(broadcast(q), col("doc_id") =!= col("qid"))
        .withColumn("cosine",
          round(cosineSimilarity(col("embedding"), col("qv")), 6))
        .withColumn("nn_rank", row_number().over(w).cast("long"))
        .where(col("nn_rank") <= 3)
        .select(col("qid"), col("nn_rank"), col("doc_id").as("nn_id"), col("cosine"))
        .orderBy("qid", "nn_rank")
    }),
    "q122_temperature_mix" -> ((s, dir) => {
      // mT5-style language α-sampling: the rarest lang keeps all docs,
      // every other lang keeps (cnt_min/cnt)^(1-α) — rates derived from
      // the corpus (bounded collect: one row per lang), verdicts the
      // same pure-(id,salt) hash predicate as q75/q94
      graft.pipeline.Sampling.temperatureMix(
          eng(s, dir).table("documents"), "doc_id", "lang", alpha = 0.3)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    "q121_hash_embed" -> ((s, dir) => {
      // feature-hashing embedding, md5 oracle family at dim 16; the
      // gate serializes each component as round(x·1e6) integers so
      // engine float-formatting can't reach the hash. Production runs
      // dim 64 xxhash64 on the identical plan (spec-pinned).
      TextAnalysis.hashEmbed(eng(s, dir).table("documents"),
          "doc_id", "text", dim = 16, oracleHash = true)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("embedding"),
            x => round(x * 1e6, 0).cast("long").cast("string")), ",").as("emb"))
        .orderBy("doc_id")
    }),
    "q120_vocab_topk" -> ((s, dir) => {
      // tokenizer-build pass 1: frequency-ranked vocab + cumulative
      // coverage; one map-combined token shuffle, TakeOrdered top-K,
      // running sum only over the K retained rows
      graft.pipeline.CorpusStats.vocabTopK(eng(s, dir).table("documents"),
        "doc_id", "text", topK = 30).orderBy("rank")
    }),
    "q119_video_frames" -> ((s, dir) => {
      // REAL video frame sampling gate (closes the "video is the stub"
      // gap for a container a stock JVM can demux): MJPEG-in-AVI
      // fixtures with closed-form frame count/dims/gray, pushed through
      // the full RIFF chunk walk → every-2nd-frame JPEG decode → PNG
      // re-encode → decoded-stats chain. A chunk-walk, sampling-stride
      // or decode bug cannot hash-match the arithmetic oracle.
      import s.implicits._
      val ids = graft.functions.GraftFunctions.fanOut(
        eng(s, dir).table("documents").select(col("doc_id"))).as[Long]
      val media = ids.mapPartitions(_.map(id =>
          (id, Multimodal.AviMjpegCodec.synthesize(id))))
        .toDF("media_id", "content")
      Multimodal.frameStats(Multimodal.sampleFrames(media, everyN = 2))
        .select(col("media_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("frame_w").cast("long").as("frame_w"),
          col("frame_h").cast("long").as("frame_h"),
          floor(col("mean_luma") / 32).cast("long").as("gray_bucket"))
        .orderBy("media_id", "frame_idx")
    }),
    "q118_line_dedup" -> ((s, dir) => {
      // CCNet-style line-level dedup: the corpus text is single-line, so
      // the gate deterministically re-lines each doc (3-word lines — a
      // construction DuckDB reproduces with list slicing) and keeps only
      // the globally-FIRST instance of every line, reassembling docs.
      // Keeper derivation is a skew-immune partial agg; survivors join
      // back on the line key.
      val d = eng(s, dir).table("documents")
      val ws = split(trim(col("text")), " ")
      val relined = d.select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), (ceil(size(ws) / 3.0)).cast("int") - 1),
            i => array_join(slice(ws, i * 3 + 1, lit(3)), " ")),
          "\n").as("text"))
      Dedup.dedupLines(relined, "doc_id", "text")
        .withColumn("text_kept", md5(col("text_kept")))
        .orderBy("doc_id")
    }),
    "q116_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: cluster-bounded embedding near-dup — nearest-centroid
      // assignment (codegen argmin chain), cosine verify only WITHIN a
      // cluster. Gate centroids are min-id-per-label medoids (no
      // averaging → the oracle reproduces every assignment from parquet
      // bytes); production trains k-means via VectorSearch.ivfTrain.
      val e = eng(s, dir).table("embeddings")
      val model = Dedup.medoidCentroids(e, "vec_id", "embedding", "label")
      Dedup.semanticPairs(e, "vec_id", "embedding", model, threshold = 0.4)
        .orderBy("cluster", "a", "b")
    }),
    "q115_edit_neardup" -> ((s, dir) => {
      // short-string fuzzy dedup (titles/names/URLs class): a 12-char
      // text prefix + an id-derived tail char plants Levenshtein-1
      // families; the SymSpell deletion-neighborhood buckets must
      // reproduce the brute-force pair set (recall 1 by construction,
      // verified against DuckDB's levenshtein).
      val d = eng(s, dir).table("documents")
      val short = d.select(col("doc_id"),
        concat(substring(col("text"), 1, 12),
          expr("char(97 + doc_id % 3)")).as("s"))
      Dedup.editPairs(short, "doc_id", "s", maxDist = 1).orderBy("a", "b")
    }),
    "q114_binary_search" -> ((s, dir) => {
      // binary sign-bit search in the q96 exact-degeneration regime:
      // rerankFactor·topK = 2000 ≥ N at the gate sf, so the hamming
      // prefilter window is the whole corpus and the result must EQUAL
      // the exact scan bit-for-bit (signature packing, prefilter
      // threading and re-rank all hash-checked); production-factor
      // recall is published by the spec.
      val e = eng(s, dir)
      val q = e.table("embeddings").where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      VectorSearch.binarySearch(e.table("embeddings"), "vec_id", "embedding",
        q, topK = 10, metric = "l2", rerankFactor = 200)
    }),
    "q113_unicode_norm" -> ((s, dir) => {
      // Unicode canonicalization gate: every doc gets a decomposed tail
      // (combining acute/diaeresis/ring), NFC must recompose it so the
      // md5 of the normalized text equals DuckDB's nfc_normalize twin —
      // and the length delta proves the kernel actually rewrote rows
      // rather than passing them through.
      val d = eng(s, dir).table("documents")
      val decorated = concat(col("text"),
        lit(" café naïve Ångström"))
      d.select(col("doc_id"),
          md5(TextAnalysis.normalizeUnicode(decorated)).as("nfc_md5"),
          length(TextAnalysis.normalizeUnicode(decorated)).as("nfc_len"),
          length(decorated).as("raw_len"))
        .orderBy("doc_id")
    }),
    "q112_dedup_incremental" -> ((s, dir) => {
      // incremental-ingest dedup: docs with doc_id%5==0 play the daily
      // increment, the rest the warehouse history; survivors must be
      // exactly the increment docs with no exact-fp match AND no minhash
      // band collision against history (md5 oracle family). The oracle
      // recomputes both filters from the corpus. (q110 composes the same
      // band-collision notion corpus-internally.)
      val docs = eng(s, dir).table("documents").select(col("doc_id"), col("text"))
      val history = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val incr = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      Dedup.dedupAgainstHistory(history, incr, "doc_id", "text",
          shingleN = 3, k = 12, bands = 4, oracleHash = true)
        .select("doc_id")
        .orderBy("doc_id")
    }),
    "q110_curate_e2e" -> ((s, dir) => {
      // the composed curation flagship: quality (q27 semantics) + exact
      // dedup keepers (q25) + minhash-band NEAR dedup under the
      // no-smaller-collider policy (q88/q112's notion, md5 family) +
      // leakage-safe split (q75) + source mix (q94's recipe) in ONE
      // plan, every verdict column exposed. The oracle recomputes all
      // five stages and the final conjunction — a drift in ANY stage or
      // in the composition goes red.
      graft.pipeline.Curate.curate(eng(s, dir).table("documents"),
          minQuality = 0.5,
          mixFractions = Map("src0" -> 1.0, "src1" -> 0.5,
            "src2" -> 0.25, "src3" -> 0.0),
          mixDefault = 0.1,
          nearDedup = true, minhashOracleFamily = true)
        .orderBy("doc_id")
    }),
    "q79_contamination" -> ((s, dir) => {
      // eval-leakage check: md5-split the corpus (same assignment as q75),
      // then for each test doc count its distinct trigrams that appear in
      // ANY train doc. One shuffle keyed on the shingle — no doc×doc join;
      // the oracle rebuilds the identical split + trigram sets in DuckDB.
      graft.pipeline.Sampling.contamination(
          eng(s, dir).table("documents"), "doc_id", "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), shingleN = 3)
        .orderBy("doc_id")
    }),
    "q92_contamination_bloom" -> ((s, dir) => {
      // the 100 TB decontamination shape: broadcast Bloom over the eval
      // split's shingles pre-filters the TRAIN side before its distinct
      // shuffle; exact join eliminates Bloom false positives, so the
      // result hash-matches q79's exact-path oracle IDENTICALLY
      graft.pipeline.Sampling.contaminationBloom(
          eng(s, dir).table("documents"), "doc_id", "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), shingleN = 3)
        .orderBy("doc_id")
    }),
    "q80_packing" -> ((s, dir) => {
      // sequence packing into 512-token bins, parallel per source group;
      // the oracle reruns the identical window arithmetic, so any drift
      // in ordering, cumulation or bin assignment goes red
      TextAnalysis.packBudget(eng(s, dir).table("documents"),
          "doc_id", "source",
          TextAnalysis.tokenCountWs(col("text")), budget = 512)
        .orderBy("source", "doc_id")
    }),
    "q81_length_profile" -> ((s, dir) => {
      // per-source length distribution with EXACT interpolated percentiles
      // (Spark `percentile` vs DuckDB `quantile_cont` must agree to 1e-6)
      TextAnalysis.lengthProfile(eng(s, dir).table("documents"),
          "source", "n_chars")
        .orderBy("source")
    }),
    "q82_unigram_lm" -> ((s, dir) => {
      // corpus-trained unigram LM quality score (CCNet-style): vocab
      // counts shuffle on the token, the corpus total broadcasts as a
      // 1-row scalar, per-doc mean log-prob rounds to 6dp so partial-sum
      // order can't leak into the hash
      graft.pipeline.CorpusStats.unigramLogProb(
          eng(s, dir).table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "q83_tfidf" -> ((s, dir) => {
      // TF-IDF top-3 terms per doc; ranking on the ROUNDED score (term
      // tiebreak) so ln() last-ulp differences can't flip ranks between
      // engines
      graft.pipeline.CorpusStats.tfidfTopTerms(
          eng(s, dir).table("documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }),
    "q74_each_batch" -> ((s, dir) => {
      // queryEachBatch: the executor-side batch callback must see every
      // partition exactly once — a LongAccumulator tallies rows across
      // batches and the total is hash-checked against the oracle count
      val acc = s.sparkContext.longAccumulator("q74_rows")
      eng(s, dir).queryEachBatch(
        eng(s, dir).query("lineitem").where("l_quantity", ">", 45)
          .noDefaultLimit) { batch => acc.add(batch.size) }
      s.createDataFrame(
        s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(acc.value.longValue)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType))))
    }),
    "q86_embed_centroids" -> ((s, dir) => {
      // per-group embedding centroids (mean pooling): gate compares the
      // dimension count + norm/sum summaries (array columns canonize
      // differently across the two fetch paths; the centroid itself is
      // spec-pinned in PipelineSpec)
      graft.pipeline.CorpusStats.embeddingCentroids(
          eng(s, dir).table("embeddings"), pmod(col("vec_id"), lit(4)), "embedding")
        .select(col("grp"), col("dim"), col("centroid_norm"), col("centroid_sum"))
        .orderBy("grp")
    }),
    "q85_length_trim" -> ((s, dir) => {
      // per-source length-outlier trim: [p5, p95] band per source,
      // percentile table broadcast onto the scan; join column first in
      // the output (Spark's USING-style join puts it there)
      TextAnalysis.trimOutliers(
          eng(s, dir).table("documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "q84_stream_quality" -> ((s, dir) => {
      // streaming quality filter: the corpus plays through a parquet feed
      // and the repetition signals run INSIDE the stream as a stateless
      // projection (no watermark, no state store) — surviving doc set is
      // fully deterministic, so ids stay in the result and the oracle is
      // the batch q77 SQL with the same thresholds
      val base = tmpDir("q84")
      val docs = eng(s, dir).table("documents").select(col("doc_id"), col("text"))
      docs.write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(docs.schema).parquet(base + "/feed")
      val filtered = TextAnalysis.repetitionSignals(stream, "doc_id", "text")
        .where(col("dup_word_frac") <= 0.5 && col("top_bigram_frac") <= 0.04)
        .select(col("doc_id"), col("n_tokens"))
      val q = filtered.writeStream.format("memory").queryName("q84_quality_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q84_stream_quality: streaming query did not finish within 120 s")
      ss.table("q84_quality_mem").orderBy("doc_id")
    }),
    "q66_dedup_stream" -> ((s, dir) => {
      // streaming firehose dedup end-to-end: the corpus plays TWICE
      // through a parquet feed (second copy 2000 s later), and the feed's
      // TOTAL timestamp spread is bounded to 3000 s — far inside the 6 h
      // horizon AT ANY SCALE FACTOR and under any micro-batch split, so
      // every duplicate is watermark-admitted and the surviving
      // fingerprint SET equals the distinct-md5 oracle deterministically
      // (which copy survives is arrival-order nondeterministic, so ids
      // stay out of the result).
      val base = tmpDir("q66")
      val docs = eng(s, dir).table("documents").select(col("doc_id"), col("text"))
      def at(off: org.apache.spark.sql.Column) =
        timestamp_seconds(lit(1767225600L) + (off % 1000))
      val feed = docs.select(col("text"), at(col("doc_id")).as("ts"))
        .unionByName(docs.select(col("text"),
          (at(col("doc_id")) + expr("INTERVAL 2000 SECONDS")).as("ts")))
      feed.write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(feed.schema).parquet(base + "/feed")
      val q = Dedup.dedupStream(stream, "text", "ts", watermark = "6 hours")
        .select(graft.functions.GraftFunctions.fingerprint(col("text")).as("fp"))
        .writeStream.format("memory").queryName("q66_dedup_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      // a timed-out AvailableNow query would silently compare a PARTIAL
      // memory sink against the oracle — fail loud instead of flaky-red
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q66_dedup_stream: streaming query did not finish within 120 s")
      ss.table("q66_dedup_mem").orderBy("fp")
    }),
    "q88_dedup_stream_near" -> ((s, dir) => {
      // streaming NEAR-dup end-to-end: the corpus replays twice through a
      // parquet feed — phase 1 is the batch KEEPER set (min-id per
      // band-collision component), phase 2 the FULL corpus 2000 s later —
      // and the stream's surviving set must equal the batch keeper set.
      // Keeper-first is what makes the survivor IDENTITY deterministic:
      // keepers are pairwise collision-free by construction (two colliding
      // keepers would share a component), so phase 1 all survives in any
      // order; in phase 2 every keeper re-arrival collides with its own
      // phase-1 bands and every non-keeper collides with its component's
      // keeper (measured on TESTDATA at these parameters: every collision
      // component is a CLIQUE at both sf0.01 and sf0.1, so min-id keeper
      // is adjacent to all members). Feed spread (3000 s) sits far inside
      // the 6 h horizon → no state eviction can race the replay.
      // maxFilesPerTrigger=1 + explicit mtimes pin phase order.
      val base = tmpDir("q88")
      val docs = eng(s, dir).table("documents").select(col("doc_id"), col("text"))
      val nonKeepers = Dedup.bandCollisionPairs(docs, "doc_id", "text",
          shingleN = 3, k = 12, bands = 4, oracleHash = true)
        .select(col("b").as("doc_id")).distinct()
      val keepers = docs.join(nonKeepers, Seq("doc_id"), "left_anti")
      def at(off: org.apache.spark.sql.Column) =
        timestamp_seconds(lit(1767225600L) + (off % 1000))
      // repartition(1), not coalesce(1): coalesce collapses the whole
      // post-shuffle stage (anti-join + projection + parquet encode) onto
      // the single write task (measured 1.0 s); repartition keeps the
      // upstream parallel and only the one-file write is serial. Row
      // order within the file is immaterial (phase-1 keepers are
      // pairwise collision-free — survivor set is order-independent).
      val p1 = keepers.select(col("doc_id"), col("text"), at(col("doc_id")).as("ts"))
      p1.repartition(1).write.mode("overwrite").parquet(base + "/feed")
      val feedDir = new java.io.File(base + "/feed")
      def parts = feedDir.listFiles().filter(_.getName.endsWith(".parquet"))
      val phase1Names = parts.map(_.getName).toSet
      val t0 = 1700000000000L
      parts.foreach(f => { f.setLastModified(t0): Unit })
      docs.select(col("doc_id"), col("text"),
          (at(col("doc_id")) + expr("INTERVAL 2000 SECONDS")).as("ts"))
        .coalesce(1).write.mode("append").parquet(base + "/feed")
      parts.filterNot(f => phase1Names.contains(f.getName))
        .foreach(f => { f.setLastModified(t0 + 600000L): Unit })
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(p1.schema)
        .option("maxFilesPerTrigger", "1").parquet(base + "/feed")
      // spread the per-batch signature derivation: each trigger reads ONE
      // file (phase ordering), so the shingle+minhash pass for the whole
      // batch otherwise runs on one task (measured: a 1.3 s straggler in
      // each 1.5 s batch). One narrow per-batch exchange ahead of four
      // state shuffles that already move the same rows.
      val q = Dedup.dedupStreamNear(
          graft.functions.GraftFunctions.spread(stream),
          "text", "ts", watermark = "6 hours",
          shingleN = 3, k = 12, bands = 4, oracleHash = true)
        .select("doc_id")
        .writeStream.format("memory").queryName("q88_neardup_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(120000); q.stop()
      require(finished, "q88_dedup_stream_near: streaming query did not finish within 120 s")
      ss.table("q88_neardup_mem").orderBy("doc_id")
    }),
    "q46_delete_preview" -> ((s, dir) => {
      // delete-by-condition as the pure anti-filter preview
      // (delete_builder.dart:4-39): rows surviving the delete
      Writes.deletePreview(eng(s, dir).table("orders"),
          Cond.Leaf("o_orderstatus", "=", "O") && Cond.Leaf("o_totalprice", "<", 100000))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    "q47_batch_update" -> ((s, dir) => {
      // batchUpdate merge preview (tostore.dart:675-686): staged rows patch
      // by PK, unknown PKs ignored, unmentioned columns kept
      val t = eng(s, dir).table("customer")
      val staged = t.where(col("c_custkey") <= 10)
        .select(col("c_custkey"), (col("c_acctbal") + 500).as("c_acctbal"))
      Writes.batchUpdateMerge(t, staged, Seq("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),
    "q48_sql_cte" -> ((s, dir) => {
      // ANSI CTE + window through the engine's SQL surface
      eng(s, dir).sql(
        """WITH r AS (
             SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders)
           SELECT o_custkey, o_orderkey, o_totalprice
           FROM r WHERE rn = 1 AND o_custkey <= 100
           ORDER BY o_custkey""")
    }),
    "q49_filter_sugar" -> ((s, dir) => {
      // sugar surface: ContainsAny (OR of LIKEs) + NotEmpty + orWhere
      eng(s, dir).query("part")
        .whereContainsAny("p_name", Seq("blue", "hot"))
        .whereNotEmpty("p_brand")
        .orWhere("p_retailprice", ">", 998.5)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderByAsc("p_partkey")
        .noDefaultLimit.toDF
    }),
    "q50_rolling_fp" -> ((s, dir) => {
      // polynomial rolling-hash fingerprint (base 31 mod 1e9+7) — the
      // non-cryptographic twin of q24's md5 fp
      eng(s, dir).table("documents")
        .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("rfp"))
        .orderBy("doc_id")
    }),
    "q336_eigenvector" -> ((s, dir) => {
      // who is central when centrality is defined recursively (your
      // neighbors' centrality counts): 5 integer power-iteration rounds
      // over the SF-independent top-90 brand graph (the q279 family),
      // L1-renormalized to 1e6 units per round — exact longs,
      // bit-identical across the two execution regimes
            graft.operators.GraphOps.eigenvectorCentrality(
        top90Brand(s, dir),
        iters = 5)
    }),
    "q337_link_predict" -> ((s, dir) => {
      // which brands SHOULD co-occur but don't yet: common-neighbor /
      // Jaccard / resource-allocation scores over non-adjacent pairs of
      // the top-90 graph — the recommender's candidate-edge shortlist,
      // wedge join under the maxDegree hub contract
            graft.operators.GraphOps.linkPredict(
        top90Brand(s, dir),
        topK = 20)
    }),
    "q338_modularity" -> ((s, dir) => {
      // did label propagation find REAL structure: Newman Q of the
      // q279 LPA labels over the same top-90 graph — exact integer
      // numerator (4m·within − Σd_c²), one double divide
            val edges = top90Brand(s, dir)
      val labs = graft.operators.GraphOps.labelPropagation(edges, iters = 3)
      graft.operators.GraphOps.modularity(edges, labs)
    }),
    "q339_cochran_armitage" -> ((s, dir) => {
      // does purchase share TREND across the hour of day (ordered doses
      // 0..23) — the ordered alternative a χ² of independence cannot
      // see; exact integer moments, one double expression
      graft.operators.Experiment.cochranArmitage(
        eng(s, dir).table("events"),
        hour(col("ts")), col("event_type") === "purchase")
    }),
    "q340_permutation_test" -> ((s, dir) => {
      // is the BUILDING-vs-rest balance gap real: 64 derandomized md5
      // relabelings replay the null of the mean-acctbal-cents
      // difference; add-one Monte-Carlo p — every replicate an exact
      // integer sum, the whole test one pass over rows × 64
      val c = eng(s, dir).table("customer").withColumn("arm",
        when(col("c_mktsegment") === "BUILDING", "A").otherwise("B"))
      graft.operators.Experiment.permutationTest(c,
        col("c_custkey"), col("arm"),
        round(col("c_acctbal") * 100, 0).cast("long"), bReps = 64)
    }),
    "q341_wilson" -> ((s, dir) => {
      // per-priority fulfilled-share with small-n-honest Wilson 95%
      // intervals — the interval that behaves where Wald collapses
      graft.operators.Experiment.wilsonIntervals(
        eng(s, dir).table("orders"),
        col("o_orderpriority"), col("o_orderstatus") === "F")
    }),
    "q342_evalue" -> ((s, dir) => {
      // how strong an UNMEASURED confounder would have to be to explain
      // away the big-order → fulfilled association: VanderWeele E-value
      // from the exact 2×2; CI published on the log scale (no exp on
      // the gate path)
      graft.operators.Experiment.eValue(eng(s, dir).table("orders"),
        col("o_totalprice") > 100000, col("o_orderstatus") === "F")
    }),
    "q343_competing_risks" -> ((s, dir) => {
      // what fraction of users exits by PURCHASE vs by ERROR when both
      // compete: Aalen-Johansen CIFs per cause — 1−KM per cause would
      // overstate both; the incidences partition 1 − S
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tp"),
        min(when(col("event_type") === "error", col("ts").cast("long")))
          .as("te"))
      val firstP = col("tp").isNotNull &&
        (col("te").isNull || col("tp") <= col("te"))
      val subjects = perUser.select(
        when(firstP, col("tp") - col("t0"))
          .when(col("te").isNotNull, col("te") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        when(firstP, 1L).when(col("te").isNotNull, 2L).otherwise(0L)
          .as("cause"))
      graft.operators.Survival.aalenJohansen(subjects, "dur", col("cause"))
    }),
    "q344_page_hinkley" -> ((s, dir) => {
      // did any event type's daily volume drift upward: Page-Hinkley
      // with running-mean self-calibration over the daily count series
      // (unlike q188's CUSUM, no fixed reference mean to tune)
      val daily = eng(s, dir).table("events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("d"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.TimeSeries.pageHinkley(daily, "event_type", "d",
        "cnt", delta = 0.0, lambda = 30.0)
    }),
    "q345_good_turing" -> ((s, dir) => {
      // how much probability do the trigrams we've NEVER seen deserve:
      // Good-Turing count-of-counts over word-trigram types (the
      // unigram vocabulary is closed on this corpus — the tail lives in
      // composed units), the Turing unseen mass N₁/N, adjusted r*
      graft.pipeline.CorpusStats.goodTuring(
        eng(s, dir).table("documents"), "doc_id", "text", maxR = 8,
        gram = 3)
    }),
    "q346_rake" -> ((s, dir) => {
      // no-model keyphrase extraction: RAKE stopword-delimited
      // candidates scored by Σ deg(w)/freq(w) — longer collocation-
      // heavy phrases win; top-20 by (score, phrase)
      graft.pipeline.CorpusStats.rakeKeyphrases(
        eng(s, dir).table("documents"), "doc_id", "text", topK = 20)
    }),
    "q347_kl_unigram" -> ((s, dir) => {
      // DIRECTED drift between the even- and odd-id halves of the
      // corpus: add-½ smoothed unigram KL both ways (JSD tells you THAT
      // they differ; KL(P‖Q) vs KL(Q‖P) tells you which side spends
      // mass where the other has little)
      val docs = eng(s, dir).table("documents")
      graft.pipeline.CorpusStats.klUnigram(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text")
    }),
    "q348_burrows_delta" -> ((s, dir) => {
      // which sources share a stylistic fingerprint: Burrows' Delta
      // over the top-40 corpus words — mean |z|-distance of relative
      // function-word rates, the authorship/near-clone-source signal
      graft.pipeline.CorpusStats.burrowsDelta(
        eng(s, dir).table("documents"), "source", "text", topM = 40)
    }),
    "q349_es_sample" -> ((s, dir) => {
      // weight-proportional sampling WITHOUT replacement: 50 customers
      // by Efraimidis-Spirakis −ln(u)/w keys off salted md5 — heavier
      // accounts proportionally likelier, no account twice, one pass
      graft.pipeline.Sampling.efraimidisSample(
        eng(s, dir).table("customer"), "c_custkey",
        round(col("c_acctbal") * 100, 0), k = 50)
        .orderBy(col("rank").asc)
    }),
    "q350_ph_stream" -> ((s, dir) => {
      // the q344 Page-Hinkley detector INSIDE a stream:
      // flatMapGroupsWithState carries (prefix sum, count, m, min m) as
      // exact picounit longs per key — drift alarms the moment the
      // daily bucket lands; ph published in EXACT micro-units so the
      // batch-replay oracle compares integers, never floats
      import s.implicits._
      val base = tmpDir("q350")
      val daily = eng(s, dir).table("events")
        .groupBy(col("event_type").as("key"),
          date_format(col("ts"), "yyyy-MM-dd").as("t"))
        .agg(count(lit(1)).as("x"))
      daily.coalesce(1).write.mode("overwrite").parquet(base + "/feed")
      val ss = streaming.StreamTuning.sizedSession(s)
      val stream = ss.readStream.schema(daily.schema).parquet(base + "/feed")
        .as[(String, String, Long)]
      val q = graft.streaming.Stateful.phAlarms(stream,
          lambdaMicro = 30000000L).toDF()
        .writeStream.format("memory").queryName("q350_ph_mem")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val fin = q.awaitTermination(120000); q.stop()
      require(fin, "q350_ph_stream: streaming query did not finish within 120 s")
      ss.table("q350_ph_mem").orderBy("key", "t")
    }),
    "q351_kwic" -> ((s, dir) => {
      // keyword-in-context concordance for 'merge': ±3-token windows,
      // token array materialized once per doc, array_contains prune
      // before the positional explode, TakeOrdered cut
      graft.pipeline.CorpusStats.kwic(
        eng(s, dir).table("documents"), "doc_id", "text", "merge",
        window = 3, maxRows = 100)
    }),
    "q352_katz" -> ((s, dir) => {
      // attenuated-walk centrality at α=0.01 over the top-90 graph —
      // unlike q336's pure power iteration, the +β injection keeps
      // peripheral brands at nonzero mass; divergence guard α·maxDeg<1
      // refuses loud before any iteration
            graft.operators.GraphOps.katzCentrality(
        top90Brand(s, dir),
        alphaMicro = 10000L, iters = 5)
    }),
    "q353_nmi_matrix" -> ((s, dir) => {
      // which order columns encode the same thing: pairwise min-entropy
      // NMI over (priority, status, order month) — the redundancy map,
      // one bounded MI pass per pair
      graft.operators.DistDrift.nmiMatrix(
        eng(s, dir).table("orders").select(
          col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"),
          month(col("o_orderdate")).cast("string").as("omonth")),
        Seq("priority", "status", "omonth"))
    }),
    "q354_shapley" -> ((s, dir) => {
      // the axiomatic credit split the q179/q190/q302/q311 heuristics
      // approximate: exact Shapley over the 4 pre-purchase touch
      // channels — v(T) = purchasers whose pre-first-purchase touch set
      // ⊆ T; φ·k! is an exact integer, ONE divide publishes it
      val ev = eng(s, dir).table("events")
      val chans = Seq("click", "view", "signup", "error")
      // touched BEFORE the first purchase — post-purchase touches must
      // not claim credit; min-ts per channel decides "before"
      val perUser = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("__fp"),
        chans.map(ch => min(when(col("event_type") === ch, col("ts").cast("long")))
          .as(s"__first_$ch")): _*)
      graft.operators.Attribution.shapleyAttribution(perUser,
        chans.map(ch => ch -> (col(s"__first_$ch").isNotNull
          && col(s"__first_$ch") < col("__fp"))),
        convertedCol = col("__fp").isNotNull)
    }),
    "q355_negbin" -> ((s, dir) => {
      // how whale-heavy is per-user activity per event type: NB
      // method-of-moments dispersion k̂ = mean²/(var−mean) over exact
      // moments — small k̂ is the salting early-warning; at-most-
      // Poisson publishes NULL k̂
      val perUser = eng(s, dir).table("events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.DistDrift.negativeBinomialFit(perUser,
        col("event_type"), col("cnt"))
    }),
    "q356_kripp_alpha" -> ((s, dir) => {
      // do three language raters agree: the declared lang column, the
      // n-gram langId over the full text, and langId over the first
      // 120 chars — Krippendorff's nominal α, the labeling-pipeline
      // agreement number Cohen's kappa (q258) can't be (3 raters,
      // chance-corrected by the pooled value distribution)
      val docs = eng(s, dir).table("documents")
      val ratings = docs.select(col("doc_id").as("u"), col("lang").as("v"))
        .unionByName(docs.select(col("doc_id").as("u"),
          TextAnalysis.langId(col("text")).as("v")))
        .unionByName(docs.select(col("doc_id").as("u"),
          TextAnalysis.langId(substring(col("text"), 1, 120)).as("v")))
      graft.operators.Experiment.krippendorffAlpha(ratings, col("u"), col("v"))
    }),
    "q357_mde" -> ((s, dir) => {
      // how long must an experiment run: minimum detectable absolute /
      // relative effect at 80% power, 5% two-sided, from the fulfilled
      // base rate — per candidate arm size, pure function of exact
      // counts
      graft.operators.Experiment.minDetectableEffect(
        eng(s, dir).table("orders"), col("o_orderstatus") === "F",
        armSizes = Seq(1000L, 5000L, 10000L, 50000L, 100000L))
    }),
    "q358_apsp" -> ((s, dir) => {
      // EXACT all-pairs geodesics on the top-90 brand graph — diameter,
      // mean distance, global efficiency; the exact audit of q323's
      // 2-sweep diameter ESTIMATE (two-regime: driver BFS here, the
      // frontier iteration above the cutover)
      // maxHops = 24 matches the oracle CTE's r.d < 24 bound EXPLICITLY
      // — both sides share one declared hop cap, so a hypothetical
      // >24-hop geodesic diverges loudly on both rather than silently
      // on one
            graft.operators.GraphOps.apspStats(
        top90Brand(s, dir), maxHops = 24)
    }),
    "q359_rich_club" -> ((s, dir) => {
      // do hub brands preferentially wire to EACH OTHER: rich-club
      // density among nodes with degree > k, four thresholds folded
      // into ONE aggregation — the connectivity companion of q315's
      // assortativity correlation
            graft.operators.GraphOps.richClub(
        top90Brand(s, dir),
        ks = Seq(4L, 8L, 12L, 16L))
    }),
    "q360_hub_removal" -> ((s, dir) => {
      // what if the 3 super-connector brands vanish: percolation
      // robustness — components and the giant component's share of the
      // survivors (TakeOrdered removal set, CC machinery, singleton
      // survivors counted)
            graft.operators.GraphOps.hubRemovalRobustness(
        top90Brand(s, dir),
        removeTop = 3)
    }),
    "q361_smd_balance" -> ((s, dir) => {
      // is BUILDING vs the rest comparable before any causal readout:
      // standardized mean differences over three integer-unit
      // covariates — the balance table q290's matching assumes
      graft.operators.Experiment.smdBalance(eng(s, dir).table("customer"),
        col("c_mktsegment") === "BUILDING",
        Seq("acct_cents" -> round(col("c_acctbal") * 100, 0),
          "name_len" -> length(col("c_name")),
          "nation" -> col("c_nationkey")))
    }),
    "q362_qini" -> ((s, dir) => {
      // does the q296 value score find the units the TREATMENT moves:
      // per pooled-score tile, cumulative incremental conversions of
      // the even-user arm over the scaled odd-user control — the
      // uplift curve gains tables cannot express
      val ev = eng(s, dir).table("events").where(col("value").isNotNull)
        .select(round(least(col("value") / 200.0, lit(1.0)), 6).as("s"),
          (pmod(col("user_id"), lit(2)) === 0).as("t"),
          (col("event_type") === "purchase").as("y"))
      graft.operators.Experiment.qiniTable(ev, col("s"), col("t"), col("y"))
    }),
    "q363_ratio_metric" -> ((s, dir) => {
      // revenue per EVENT, not per user-average-of-ratios: delta-method
      // SEs on the per-arm ratio of sums — the estimator ratio metrics
      // actually need; exact per-user moments, one aggregation
      val per = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).as("x"),
        count(lit(1)).as("y"))
      graft.operators.Experiment.ratioMetricDelta(per,
        pmod(col("user_id"), lit(2)) === 0, col("x"), col("y"))
    }),
    "q364_graph_churn" -> ((s, dir) => {
      // did the bought-together graph silently rewire between halves
      // of the shipping history: top-90 edge sets per half, one
      // full-outer key join — added/removed/kept + Jaccard stability.
      // BOTH halves derive from ONE pass over lineitem⋈part: the
      // half tag rides the basket key (pairSupportByTag), so the
      // heavy join+distinct runs once, not per half — per-half
      // supports are identical to two filtered runs by construction
      val pivot = to_timestamp(lit("1998-06-01"))
      val bb = eng(s, dir).table("lineitem")
        .join(broadcast(eng(s, dir).table("part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"),
          (col("l_shipdate") < pivot).as("h"))
      // ≤ 2 × brands²/2 rows — pin so the two top-90 cuts don't
      // re-derive the pass
      val sup = graft.operators.Association.pairSupportByTag(bb,
        "l_orderkey", "p_brand", "h", minSupport = 1L).localCheckpoint(true)
      def top(hv: Boolean): DataFrame = sup.where(col("tag") === hv)
        .orderBy(col("support").desc, col("item_a").asc, col("item_b").asc)
        .limit(90)
        .select(col("item_a").as("src"), col("item_b").as("dst"))
      graft.operators.GraphOps.edgeChurn(top(true), top(false))
    }),
    "q365_kendall_w" -> ((s, dir) => {
      // do three document-length proxies RANK the corpus the same way:
      // Kendall's W over (chars, whitespace tokens, distinct types) —
      // tie-corrected, doubled-rank exact integers
      val docs = eng(s, dir).table("documents")
      val toks = whitespaceTokens(lower(col("text")))
      val ratings = docs.select(col("doc_id").as("it"), lit("chars").as("rt"),
          col("n_chars").cast("double").as("v"))
        .unionByName(docs.select(col("doc_id").as("it"),
          lit("tokens").as("rt"), size(toks).cast("double").as("v")))
        .unionByName(docs.select(col("doc_id").as("it"),
          lit("types").as("rt"),
          size(array_distinct(toks)).cast("double").as("v")))
      graft.operators.Experiment.kendallW(ratings, col("rt"), col("it"),
        col("v"))
    }),
    "q366_top_component" -> ((s, dir) => {
      // has the embedding space collapsed onto one direction: top
      // principal component by power iteration over the EXACT
      // covariance — λ₁, total variance, anisotropy share; the
      // spectral head to q319's participation ratio, every matvec
      // term 12dp-decimal-summed so the 8-round iteration replays
      // verbatim in SQL
      graft.pipeline.CorpusStats.embeddingTopComponent(
        eng(s, dir).table("embeddings"), "embedding")
    }),
    "q367_hybrid_ann" -> ((s, dir) => {
      // DiskANN×IVF hybrid — the 100 TB serving layout: graphs built
      // PER IVF CELL (graphBuild(shardCol = __ivf_cell)) so a query
      // reads only the probed cells' graph files (probeShards = a
      // static filter on the shard column). Two contracts in one gate:
      // (1) the PRUNED path is structurally sound — every candidate a
      // 2-cell probe returns must belong to a probed cell (join-checked,
      // no collect); (2) probing ALL cells with efSearch ≥ cell size is
      // the exact-degeneration regime (ring connectivity per cell), so
      // routing + per-cell beam + global merge HASH-MATCH the
      // brute-force oracle. The approximate regime's recall is q97's
      // contract + BASELINE.md's sf1 clustered rehearsal.
      val e = eng(s, dir)
      val embs = e.table("embeddings")
      val model = VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
      val celled = VectorSearch.ivfIndex(embs, model, "embedding")
        .localCheckpoint(true) // build + the containment check read it
      val graph = GraphAnn.graphBuild(celled, "vec_id", "embedding",
        shards = 8, maxDegree = 8, efConstruction = 24,
        shardCol = Some("__ivf_cell"))
        .localCheckpoint(true) // two searches over one build
      val qs = embs.where(col("vec_id").isin(2L, 5L, 13L))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq.sortBy(_._1)
      // (1) pruned-path containment: 2-cell probe per query
      qs.foreach { case (qid, qv) =>
        val probed = model.nearestCells(qv, 2)
        val pruned = GraphAnn.graphSearchBatch(graph, Seq(qid -> qv),
          topK = 10, efSearch = 32, assumeColocated = true,
          probeShards = Some(probed))
        val escaped = pruned.join(celled, pruned("pk") === celled("vec_id"))
          .where(!col("__ivf_cell").isin(probed.map(Integer.valueOf): _*))
          .count()
        require(escaped == 0L,
          s"q367 pruning contract broken: $escaped candidates outside " +
            s"the probed cells $probed for qid=$qid")
      }
      // (2) exact degeneration over all cells → hash-gated vs brute force
      GraphAnn.graphSearchBatch(graph, qs, topK = 10, efSearch = 1000000,
        assumeColocated = true, probeShards = Some(0 until 8))
        .orderBy("qid", "rank")
    }),
    "q368_perm_sweep" -> ((s, dir) => {
      // does fulfilled-vs-open order value differ WITHIN each priority:
      // the q340 derandomized permutation test swept over 5 groups in
      // ONE rows×64 pass (per-group observed rates, shared md5 stream) —
      // the metric-sweep readout q369's FDR control consumes. Staged
      // once per session (permSweep memo) — q369 reads the same 5 rows
      permSweep(s, dir)
    }),
    "q369_bh_fdr" -> ((s, dir) => {
      // the q368 sweep under Benjamini-Hochberg step-up control: ranks,
      // k*, per-test BH critical values, reverse-running-min q-values,
      // discovery flags — exact-rational p-values in, deterministic
      // multiplicity verdicts out (reads the staged q368 relation)
      graft.operators.Experiment.bhAdjust(
        permSweep(s, dir), col("grp"), col("p_value"), alpha = 0.05)
    }),
    "q370_keyness" -> ((s, dir) => {
      // WHICH tokens drive the even-vs-odd-half drift q347 measures in
      // aggregate: full 2x2 Dunning G2 per type, top-20 by keyness with
      // exact-count direction
      val docs = eng(s, dir).table("documents")
      graft.pipeline.CorpusStats.keynessG2(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", topN = 20)
    }),
    "q371_distinct_ngrams" -> ((s, dir) => {
      // the distinct-1..4 lexical-diversity curve: exact distinct/total
      // n-gram ratios — the template-collapse detector that fires long
      // before exact dedup does
      graft.pipeline.CorpusStats.distinctNgrams(
        eng(s, dir).table("documents"), "doc_id", "text", maxN = 4)
    }),
    "q372_cochran_q" -> ((s, dir) => {
      // do three binary quality detectors fire at the SAME rate over
      // the same documents: Cochran's Q — the paired-binary companion
      // of q365's Kendall W (McNemar's k-ary generalization), exact
      // integer numerator/denominator, one double divide
      val d = eng(s, dir).table("documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val longDf = d.select(col("doc_id").as("it"), lit("d1_digit").as("tr"),
          when(col("text").rlike("[0-9]"), 1L).otherwise(0L).as("y"))
        .unionByName(d.select(col("doc_id").as("it"), lit("d2_long").as("tr"),
          when(col("n_chars") > 400, 1L).otherwise(0L).as("y")))
        .unionByName(d.select(col("doc_id").as("it"), lit("d3_the").as("tr"),
          when(lower(col("text")).contains("the"), 1L).otherwise(0L).as("y")))
      graft.operators.Experiment.cochranQ(longDf, col("it"), col("tr"),
        col("y"))
    }),
    "q373_betweenness" -> ((s, dir) => {
      // WHICH brands broker the bought-together graph's shortest paths:
      // exact Brandes-identity betweenness in 1e-9 integer units over
      // the q336 top-90 graph — the per-node bridge read BEFORE q360
      // removes its hubs; maxHops = 6 matches the oracle's 6 unrolled
      // BFS levels (declared cap shared, the q358 discipline)
      graft.operators.GraphOps.betweenness(top90Brand(s, dir), maxHops = 6)
        .orderBy(col("bc_units").desc, col("node").asc)
    }),
    "q374_delong_auc" -> ((s, dir) => {
      // does char-length rank digit-bearing docs BETTER than
      // token-length: DeLong's correlated-AUC z — the q253 AUC read,
      // compared properly (two detectors scored on the SAME corpus
      // share sampling noise; independent variances would overstate z)
      val docs = eng(s, dir).table("documents")
      graft.operators.Experiment.delongAucCompare(docs,
        col("text").rlike("[0-9]"),
        col("n_chars").cast("double"),
        size(whitespaceTokens(lower(col("text")))).cast("double"))
    }),
    "q375_breslow_day" -> ((s, dir) => {
      // is q294's pooled odds ratio even ONE number: Breslow-Day +
      // Tarone homogeneity over the same ~84 monthly strata — the
      // effect-modification alarm that fires when pooling averages
      // away a real interaction
      graft.operators.Experiment.breslowDay(
        eng(s, dir).table("orders"),
        date_format(col("o_orderdate"), "yyyy-MM"),
        col("o_custkey") % 2 === 0,
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    }),
    "q376_textrank" -> ((s, dir) => {
      // TOPICAL words, not merely frequent ones: TextRank — exact
      // integer PageRank over the adjacent-token co-occurrence graph
      // (q346's RAKE scores words by their own phrase stats; this ranks
      // them by recursive centrality), top-20 by rank
      graft.pipeline.CorpusStats.textRankKeywords(
        eng(s, dir).table("documents"), "doc_id", "text", topK = 20)
    }),
    "q377_closeness" -> ((s, dir) => {
      // WHO sits close to everything: exact per-node closeness +
      // harmonic centrality — the node-level read q358 aggregates away
      // and q303's landmark pass only approximates; maxHops = 24
      // matches the q358 oracle cap
      graft.operators.GraphOps.closenessExact(top90Brand(s, dir),
        maxHops = 24).orderBy(col("node").asc)
    }),
    "q378_theil" -> ((s, dir) => {
      // WHERE does q200's revenue skew live: Theil-T with the exact
      // within/between decomposition over the same priority groups —
      // rising inequality with flat within-group Theil means the
      // PRIORITIES are diverging, not the orders
      graft.operators.DistDrift.theilDecomposition(
        eng(s, dir).table("orders"),
        col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("grp").asc)
    }),
    "q379_cka_int8" -> ((s, dir) => {
      // did int8 quantization PRESERVE the geometry: linear CKA between
      // the float embedding space and its dequantized int8 self — the
      // representation-level companion of q73's per-query recall read
      // (rotation/scale-invariant agreement of the two Gram structures)
      val emb = eng(s, dir).table("embeddings")
      graft.pipeline.CorpusStats.embeddingCka(emb,
        col("embedding"),
        VectorSearch.dequantizeInt8(VectorSearch.quantizeInt8(col("embedding"))))
    }),
    "q380_cox" -> ((s, dir) => {
      // BY HOW MUCH do even users convert faster: Cox proportional
      // hazards on q232's time-to-first-purchase — the hazard ratio the
      // log-rank z cannot give, Breslow ties, 4 exact-replay Newton
      // steps over the per-event-time relation
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"),
        (pmod(col("user_id"), lit(2)) === 0).as("x"))
      graft.operators.Survival.coxBinary(subjects, "dur", col("ev"), col("x"),
        iters = IterCaps.cox)
    }),
    "q381_moran" -> ((s, dir) => {
      // does POPULARITY cluster on the bought-together graph: Moran's I
      // of per-brand basket counts over the q336 top-90 edges — do
      // popular brands wire to popular brands, or is the graph a
      // checkerboard; exact decimal rationals, ONE double divide
      val attr = brandBaskets(s, dir).distinct()
        .groupBy(col("p_brand")).agg(count(lit(1)).as("x"))
        .select(col("p_brand").as("node"), col("x"))
      graft.operators.GraphOps.moranI(top90Brand(s, dir), attr)
    }),
    "q382_hill_tail" -> ((s, dir) => {
      // does document length have FINITE VARIANCE: Hill tail exponent
      // from the top-10% order statistics — q208 regresses the whole
      // Zipf curve, Hill reads only the tail, which is what capacity
      // planning and packing (q80/q127) actually depend on
      graft.operators.Outliers.hillTailIndex(
        eng(s, dir).table("documents"), col("n_chars"))
    }),
    "q383_binseg" -> ((s, dir) => {
      // did revenue step MORE THAN ONCE: depth-2 binary segmentation
      // over the pooled daily series — the multi-shift reading q262's
      // single best split cannot give (two steps fool one split into
      // landing between them); up to 4 exact-mean segments
      val daily = eng(s, dir).table("orders")
        .groupBy((date_trunc("DAY", col("o_orderdate")).cast("long") / 86400)
          .cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.TimeSeries.binarySegmentation(daily, "t", "units")
    }),
    "q384_spectral_gap" -> ((s, dir) => {
      // how fast does the bought-together graph MIX: adjacency λ₁/λ₂ by
      // deflated exact-replay power iteration — |λ₂|/λ₁ near 1 means
      // trapped walks (strong communities / near-bipartite), a wide gap
      // means a few steps reach everything; the label-free spectral
      // companion of q338's modularity
      graft.operators.GraphOps.spectralGap(top90Brand(s, dir))
    }),
    "q385_gmm" -> ((s, dir) => {
      // is the corpus ONE length population or two: exact-replay EM for
      // a two-component 1-D Gaussian mixture over document lengths —
      // the soft answer q301's hard k-means boundary can't give
      // (weights say how much of each source survived a filter)
      graft.operators.Clustering.gmm1d(
        eng(s, dir).table("documents"), col("n_chars"), iters = IterCaps.gmm)
    }),
    "q386_calibration_slope" -> ((s, dir) => {
      // the NUMBER q252's curve only draws: logistic recalibration
      // intercept+slope of the same propensity score — (0,1) is
      // calibrated, b<1 overconfident; (a,b) IS the Platt map to apply
      val ev = eng(s, dir).table("events")
      val score = round(least(col("value") / 200.0, lit(1.0)), 6)
      graft.operators.Experiment.calibrationSlope(
        ev.where(col("value").isNotNull),
        score, col("event_type") === "purchase", iters = IterCaps.calibration)
    }),
    "q387_huber_mean" -> ((s, dir) => {
      // the center a corrupt batch can't drag: Huber IRLS location of
      // order value in cents next to the hostage plain mean — q169
      // flags outliers, q210 clips them, this DOWNWEIGHTS them into an
      // alertable number with 95% Gaussian efficiency
      graft.operators.Outliers.huberMean(
        eng(s, dir).table("orders"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        iters = IterCaps.huber)
    }),
    "q388_ktruss" -> ((s, dir) => {
      // the community KERNEL of the bought-together graph: 6-truss —
      // every surviving edge sits in ≥ 4 triangles among survivors,
      // the cohesion read q245's k-core overstates (degree admits
      // hub-to-strangers wiring; trusses demand mutual neighborhoods)
      graft.operators.GraphOps.kTruss(top90Brand(s, dir), k = 6,
        maxRounds = 6)
    }),
    "q389_yuen_t" -> ((s, dir) => {
      // the robust middle ground on q234's arms: Yuen's trimmed-mean t
      // (⅛ dyadic trim, winsorized variances) — a location read heavy
      // tails can't hijack, where Welch compares hostage means and
      // Mann-Whitney abandons the mean entirely
      val two = eng(s, dir).table("orders")
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("arm"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
      graft.operators.DistDrift.yuenT(two, col("cents"), col("arm"))
    }),
    "q390_partial_corr" -> ((s, dir) => {
      // does price track quantity BEYOND what discount explains:
      // partial correlation r_xy·z over lineitem (price cents, quantity
      // units, discount basis points) — q187's r can't tell a direct
      // association from a shared confound; ten exact moments, ONE agg
      graft.operators.DistDrift.partialCorr(
        eng(s, dir).table("lineitem"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        col("l_quantity").cast("long"),
        (col("l_discount").cast("decimal(8,4)") * 10000).cast("long"))
    }),
    "q391_entropy_rate" -> ((s, dir) => {
      // how PREDICTABLE is the session process in the long run: entropy
      // rate of q300's behavior chain (per-step surprise weighted by
      // the stationary mass) and e^H as effective branching — the
      // one-number structure-drift alarm for the event stream
      graft.operators.EventPaths.entropyRate(eng(s, dir).table("events"),
        "user_id", "ts", "event_type", "event_id", iters = 16)
    }),
    "q392_seasonal_mk" -> ((s, dir) => {
      // is revenue trending ONCE the annual cycle is held out: seasonal
      // Mann-Kendall over monthly-season weekly series — q282's plain S
      // dilutes under seasonality; here January compares only to
      // January, and the per-season statistics combine exactly
      val weekly = eng(s, dir).table("orders")
        .groupBy(month(col("o_orderdate")).as("season"),
          (date_trunc("WEEK", col("o_orderdate")).cast("long") / 86400)
            .cast("long").as("t"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("units"))
      graft.operators.Trend.seasonalMannKendall(weekly, col("season"),
        col("t"), col("units"), maxN = 1000)
    }),
    "q393_cox_stratified" -> ((s, dir) => {
      // q380's hazard ratio ADJUSTED for signup cohort (epoch-aligned
      // day-of-week of first activity): stratified Cox — each cohort
      // keeps its own baseline hazard, risk sets
      // never cross strata, one beta; the Simpson-proofing q375 gives
      // odds ratios, in time-to-event form
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"),
        (pmod(col("user_id"), lit(2)) === 0).as("x"),
        expr("pmod(t0 div 86400, 7)").as("cohort"))
      graft.operators.Survival.coxStratified(subjects, "dur", col("ev"),
        col("x"), col("cohort"), iters = IterCaps.cox)
    }),
    "q394_embedding_top2" -> ((s, dir) => {
      // did the space collapse onto a PLANE: top-two spectral
      // components of the exact covariance by deflated power iteration
      // — λ₁/trace (q366) can look healthy while λ₁ ≈ λ₂ ≫ rest says
      // two merged sources dominate; PSD deflation reads the true λ₂
      graft.pipeline.CorpusStats.embeddingTopTwo(
        eng(s, dir).table("embeddings"), "embedding")
    }),
    "q395_nominal_assoc" -> ((s, dir) => {
      // EFFECT SIZE where q199 only gives significance: bias-corrected
      // Cramér's V (plain V inflates at many categories) and
      // Goodman-Kruskal λ both ways — does knowing priority actually
      // improve PREDICTING status, or merely correlate with it
      graft.operators.DistDrift.nominalAssociation(
        eng(s, dir).table("orders"), "o_orderpriority", "o_orderstatus")
    }),
    "q396_c_index" -> ((s, dir) => {
      // does the q380 marker actually ORDER conversions: Harrell's C —
      // the survival ROC-AUC; Cox says how big the hazard ratio is,
      // C says how often even-vs-odd ranks pairs correctly (exact
      // integer pair counts from suffix sums, no pair join)
      val perUser = eng(s, dir).table("events").groupBy(col("user_id")).agg(
        min(col("ts").cast("long")).as("t0"),
        max(col("ts").cast("long")).as("tl"),
        min(when(col("event_type") === "purchase", col("ts").cast("long")))
          .as("tc"))
      val subjects = perUser.select(
        when(col("tc").isNotNull, col("tc") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tc").isNotNull.as("ev"),
        (pmod(col("user_id"), lit(2)) === 0).as("x"))
      graft.operators.Survival.concordanceBinary(subjects, "dur",
        col("ev"), col("x"))
    }),
    "q400_naive_bayes" -> ((s, dir) => {
      // a TRAINED in-engine classifier (the CCNet/fastText gating role):
      // multinomial NB token counts from the 80% hash split of the
      // corpus, the 20% scored by exact-decimal log-posterior sums,
      // published as the test confusion matrix — train, model and
      // inference are all relations in ONE plan
      graft.pipeline.Classify.naiveBayes(
        eng(s, dir).table("documents"), "doc_id", "text", "lang")
    }),
    "q402_classifier_metrics" -> ((s, dir) => {
      // the q400 confusion matrix read as NUMBERS a gate can act on:
      // accuracy, chance-corrected Cohen's κ (the readout that exposes
      // a majority-class classifier accuracy flatters), and macro
      // P/R/F1 — exact margin counts, κ one integer rational
      graft.pipeline.Classify.confusionMetrics(
        graft.pipeline.Classify.naiveBayes(
          eng(s, dir).table("documents"), "doc_id", "text", "lang"),
        "label", "predicted", "n_docs")
    }),
    "q405_dtw_banded" -> ((s, dir) => {
      // q403's scale-and-sanity knob made real: Sakoe–Chiba band 12 on
      // the SAME monthly pair — n·(2r+1) admissible cells instead of
      // m·n, pathological warps excluded by construction; still exact
      // integers end to end
      val o = eng(s, dir).table("orders")
      def monthly(p: String) = o.where(col("o_orderpriority") === p)
        .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("cents"))
      graft.operators.TimeSeries.dtwBanded(
        monthly("1-URGENT"), monthly("2-HIGH"), "mo", "cents", band = 12)
    }),
    "q404_mst" -> ((s, dir) => {
      // the brand taxonomy BACKBONE: maximum-co-occurrence spanning
      // forest (MSF on negated support) — single-linkage clustering IS
      // this tree; the gate is algorithm-vs-algorithm: distributed
      // Borůvka here, sequential Kruskal in the oracle, forced equal by
      // the lexicographic-weight uniqueness of the MSF
      graft.operators.GraphOps.mst(
        brandPairs(s, dir, minSupport = 1L)
          .select(col("item_a"), col("item_b"),
            (lit(0L) - col("support")).as("neg_support")),
        "item_a", "item_b", "neg_support")
    }),
    "q403_dtw" -> ((s, dir) => {
      // elastic series similarity: exact integer DTW between the two
      // priorities' monthly revenue curves — same-shape-shifted-axis
      // reads near 0 where any aligned-index distance reads huge; the
      // whole DP is integer (no rounding contract), calendar-bounded
      val o = eng(s, dir).table("orders")
      def monthly(p: String) = o.where(col("o_orderpriority") === p)
        .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("cents"))
      graft.operators.TimeSeries.dtw(
        monthly("1-URGENT"), monthly("2-HIGH"), "mo", "cents")
    }),
    "q399_fisher_exact" -> ((s, dir) => {
      // the exact 2×2 the χ² family approximates: one nation's customers,
      // wealth × segment — margins small enough that the hypergeometric
      // tail is the honest readout; mode-anchored quantized ratio
      // recurrence (no exp/ln), support-bounded with a loud refusal
      graft.operators.Experiment.fisherExact(
        eng(s, dir).table("customer")
          .where(col("c_nationkey") === 3
            && col("c_acctbal").isNotNull && col("c_mktsegment").isNotNull),
        col("c_acctbal") > 4500, col("c_mktsegment") === "BUILDING")
    }),
    "q397_betweenness_pivots" -> ((s, dir) => {
      // the q373 scale knob PROVEN: Brandes pivot sampling — the same
      // truncating σ-identity restricted to a deterministic third of
      // the sources (sorted node list, positions 0,3,6,…), published
      // as the RAW directed pivot sum (estimate = raw·n/(2|S|),
      // caller-side scalar); composition pair mass |S|·n, not n².
      // Pivot collect is bounded (≤ 2·90 endpoints by construction)
      val g = top90Brand(s, dir)
      val nodes = g.select(col("src").as("n"))
        .unionByName(g.select(col("dst").as("n")))
        .distinct().orderBy(col("n")).collect().map(_.getString(0))
      val pivots = nodes.zipWithIndex
        .collect { case (nd, i) if i % 3 == 0 => nd }.toSeq
      graft.operators.GraphOps.betweenness(g, maxHops = 6,
          sources = Some(pivots))
        .orderBy(col("bc_units").desc, col("node").asc)
    }),
    "q26_vector_knn" -> ((s, dir) => {
      val e = eng(s, dir)
      val emb = e.table("embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      val qCol = array(q.map(v => lit(v.toDouble)): _*)
      emb.select(col("vec_id"),
          round(cosineSimilarity(col("embedding"), qCol), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(10)
    })
  )

  /** Shared DuckDB CTE: the closed-form dHash bit per (doc_id, k) that
    * `Multimodal.BmpCodec.bitOf` realizes in pixels — q103 packs it into
    * hash halves + hex, q104 brute-forces the near-dup pair set from it.
    * Ends in `bits(doc_id, k, bit)`. */
  private val duckPhashBits =
    """WITH bits AS (
         SELECT d.doc_id, k.range AS k,
           (CASE WHEN ((((((d.doc_id % 256) + 1) * (k.range + 3)) % 61 < 30)
                        != ((((d.doc_id % 256) + 7) * (k.range + 11)) % 53 < 26))
                      != (k.range = (d.doc_id // 256) % 64))
                 THEN 1 ELSE 0 END) AS bit
         FROM documents d, range(64) k
       )"""

  /** Shared DuckDB CTE: normalized tokens + 3-gram shingles of documents
    * (must mirror GraftFunctions.shingles exactly). */
  private val duckShingles =
    """WITH t AS (
         SELECT doc_id, text,
                string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
         FROM documents
       ), s AS (
         SELECT doc_id, text, toks,
           CASE WHEN len(toks) >= 3 THEN
             list_distinct([array_to_string(toks[i+1:i+3], ' ') for i in range(0, len(toks)-2)])
           ELSE [array_to_string(toks, ' ')] END AS sh
         FROM t
       )"""

  /** Shared repetition-signal CTE chain (q77 + q84's filter use ONE
    * definition — a tokenization tweak can't silently fork the gates).
    * Ends in `sig(doc_id, n_tokens, dup_word_frac, top_bigram_frac)`. */
  private val duckRepetition =
    """WITH t AS (
         SELECT doc_id,
                string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
         FROM documents
       ), b AS (
         SELECT doc_id, toks,
           CASE WHEN len(toks) >= 2
             THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             ELSE [] END AS bgs
         FROM t
       ), e AS (
         SELECT doc_id, unnest(bgs) AS bg FROM b
       ), c AS (
         SELECT doc_id, bg, count(*) AS cnt FROM e GROUP BY 1, 2
       ), m AS (
         SELECT doc_id, max(cnt) AS mx, sum(cnt) AS tot FROM c GROUP BY 1
       ), sig AS (
         SELECT b.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks), 6)
           END AS dup_word_frac,
           coalesce(round(CAST(m.mx AS DOUBLE)/m.tot, 6), 0.0) AS top_bigram_frac
         FROM b LEFT JOIN m USING (doc_id)
       )"""

  /** DuckDB 64-bit simhash over distinct tokens, generated per-bit to
    * mirror Dedup.simhash64 (hex digit decode via strpos alphabet). */
  private def duckSimhashExpr: String = {
    val bits = (0 until 64).map { b =>
      val digit = s"substr(md5(u), ${1 + b / 4}, 1)"
      val v = s"(strpos('0123456789abcdef', $digit) - 1)"
      s"(CASE WHEN list_sum([(($v // ${1 << (b % 4)}) % 2) * 2 - 1 for u in dtoks]) >= 0 THEN '1' ELSE '0' END)"
    }
    bits.mkString("concat(", ", ", ")")
  }

  /** Morton interleave of 8-bit aN/bN as explicit DuckDB bit arithmetic —
    * the q135 oracle recomputes the engine's zOrderKey bit-for-bit. */
  private val duckZkey: String = (0 until 8).map { i =>
    s"((aN // ${1L << i}) % 2) * ${1L << (2 * i)} + ((bN // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  /** q196/q197 oracle: from-scratch BM25 over the FULL corpus with the
    * served path's exact sum/count avgdl — the persisted (and
    * delta-updated) index must rank identically. */
  private val bm25IndexOracle: String =
    """WITH t AS (
         SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
         FROM documents
       ), dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
       st AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
       tf AS (
         SELECT doc_id, w, count(*) AS tf FROM t
         WHERE w IN ('spark', 'vector', 'stream') GROUP BY 1, 2
       ), df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       c AS (
         SELECT tf.doc_id,
                round(ln((CAST(st.n_docs AS DOUBLE) - df.df + 0.5e0) / (df.df + 0.5e0) + 1.0e0)
                      * (tf.tf * (1.2e0 + 1.0e0))
                      / (tf.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl.dl / st.avgdl)), 6) AS c
         FROM tf JOIN df USING (w) JOIN dl USING (doc_id), st
       ), s AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS matched, round(CAST(sum(CAST(c AS DECIMAL(24,12))) AS DOUBLE), 6) AS score
         FROM c GROUP BY doc_id
       )
       SELECT doc_id, matched, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       FROM s ORDER BY score DESC, doc_id LIMIT 10"""

  /** Shared brand co-occurrence graph (q175-q177): distinct (order,
    * brand) baskets → support-counted canonical pairs at threshold 400. */
  /** The q281 EWMA-chart replay (recursive CTE, trunc-div idiom) —
    * shared verbatim by q287: the streaming chart must equal the batch
    * chart row for row. */
  private val duckEwmaChart =
    """WITH RECURSIVE d AS (
         SELECT event_type AS key,
                CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS t,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       ), o AS (
         SELECT key, t, x,
                row_number() OVER (PARTITION BY key ORDER BY t) AS rn
         FROM d
       ), r AS (
         SELECT key, rn, t, x, x AS m, CAST(0 AS BIGINT) AS dv,
                CAST(NULL AS BIGINT) AS pred, CAST(NULL AS BIGINT) AS dev,
                CAST(NULL AS BOOLEAN) AS alarm
         FROM o WHERE rn = 1
         UNION ALL
         SELECT o.key, o.rn, o.t, o.x,
                CAST(trunc((o.x + r.m) / 2.0) AS BIGINT),
                CAST(trunc((abs(o.x - r.m) + r.dv) / 2.0) AS BIGINT),
                r.m, r.dv,
                r.dv > 0 AND abs(o.x - r.m) > 3 * r.dv
         FROM r JOIN o ON o.key = r.key AND o.rn = r.rn + 1
       )
       SELECT key, t, x, pred, dev, alarm
       FROM r WHERE rn > 1 ORDER BY key, t"""

  /** One Gini-stump oracle block over orders for q285, tagged so three
    * instances coexist in one WITH; the arithmetic is q265's verbatim. */
  private def duckStump(tag: String, vExpr: String): String =
    s"""s$tag AS (
         SELECT CAST($vExpr AS DOUBLE) AS v,
                CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END AS y
         FROM orders
       ), pv$tag AS (
         SELECT v, CAST(count(*) AS BIGINT) AS ct, CAST(sum(y) AS BIGINT) AS cp
         FROM s$tag GROUP BY 1
       ), c$tag AS (
         SELECT v,
                CAST(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
                CAST(sum(cp) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
         FROM pv$tag
       ), tot$tag AS (
         SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
         FROM s$tag
       ), cand$tag AS (
         SELECT c.v, c.nl, c.pl, tot.n, tot.p,
                round(CAST(2 * (CAST(c.pl AS HUGEINT) * (c.nl - c.pl) * (tot.n - c.nl)
                          + CAST(tot.p - c.pl AS HUGEINT)
                            * ((tot.n - c.nl) - (tot.p - c.pl)) * c.nl) AS DOUBLE)
                    / CAST(CAST(tot.n AS HUGEINT) * c.nl * (tot.n - c.nl) AS DOUBLE), 6) AS cost
         FROM c$tag c, tot$tag tot WHERE c.nl < tot.n
       ), best$tag AS (
         SELECT '$tag' AS feature, n, p AS n_pos, v AS threshold,
                round(CAST(2 * CAST(p AS HUGEINT) * (n - p) AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) AS gini_parent,
                cost AS gini_split,
                round(round(CAST(2 * CAST(p AS HUGEINT) * (n - p) AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) - cost, 6) AS gain
         FROM cand$tag ORDER BY cost ASC, v ASC LIMIT 1
       )"""

  private val duckBrandGraph =
    """WITH bi AS (
         SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       ), pr AS (
         SELECT x.i AS pa, y.i AS pb, count(*) AS support
         FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
         GROUP BY 1, 2 HAVING count(*) >= 400
       )"""

  /** Shared CTE chain: the SF-independent top-90-by-support brand
    * co-occurrence graph (q279's construction) — `top` (a<b canonical
    * edges) and `e` (symmetrized), for the q279/q336/q337/q338 family. */
  /** Shared DuckDB CTE: the q400 Naive-Bayes replay through per-doc
    * prediction — identical split constant, tokenization, Laplace
    * counts, 12dp-rounded ln terms and (score DESC, class ASC) argmax.
    * Ends in `pred(label, predicted)`; q400 counts it into the
    * confusion matrix, q402 layers the metrics on top. */
  private val duckNbPred: String = {
    import graft.pipeline.Sampling.cutHex
    s"""WITH base AS (
           SELECT doc_id AS id, CAST(lang AS VARCHAR) AS y,
                  list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), x -> x <> '') AS ws,
                  substring(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.8)}' AS is_train
           FROM documents
           WHERE doc_id IS NOT NULL AND lang IS NOT NULL AND text IS NOT NULL
             AND len(ws) > 0
         ), toks AS (
           SELECT id, y, is_train, unnest(ws) AS w FROM base
         ), classes AS (
           SELECT y, CAST(count(*) AS BIGINT) AS n_docs
           FROM base WHERE is_train GROUP BY 1
         ), ntr AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_train FROM classes),
         cnt AS (
           SELECT w, y, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE is_train GROUP BY 1, 2
         ), ctot AS (SELECT y, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
         voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cnt),
         terms AS (
           SELECT t.id, t.y, cl.y AS cls,
                  CAST(round(ln(CAST(coalesce(cn.c, 0) + 1 AS DOUBLE)
                                / CAST(ct.tot + voc.v AS DOUBLE)), 12) AS DECIMAL(38,12)) AS trm,
                  CAST(round(ln(CAST(cl.n_docs AS DOUBLE)
                                / CAST(ntr.n_train AS DOUBLE)), 12) AS DECIMAL(38,12)) AS prior
           FROM toks t
           CROSS JOIN classes cl
           JOIN ctot ct ON ct.y = cl.y
           CROSS JOIN voc CROSS JOIN ntr
           LEFT JOIN cnt cn ON cn.w = t.w AND cn.y = cl.y
           WHERE NOT t.is_train
         ), percls AS (
           SELECT id, y, cls, sum(trm) + max(prior) AS score
           FROM terms GROUP BY 1, 2, 3
         ), pred AS (
           SELECT y AS label, cls AS predicted
           FROM (SELECT y, cls,
                        row_number() OVER (PARTITION BY id ORDER BY score DESC, cls ASC) AS rn
                 FROM percls)
           WHERE rn = 1
         )"""
  }

  private val duckTop90Graph =
    """WITH bi AS (
         SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       ), pr AS (
         SELECT x.i AS pa, y.i AS pb, count(*) AS c
         FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
         GROUP BY 1, 2
       ), top AS MATERIALIZED (
         SELECT pa, pb FROM pr ORDER BY c DESC, pa, pb LIMIT 90
       ), e AS MATERIALIZED (
         SELECT pa AS src, pb AS dst FROM top
         UNION SELECT pb, pa FROM top
       )"""

  /** 3 unrolled synchronous LPA rounds over `e` (majority label, ties
    * to the smallest) — ends at CTE `l3`; shared by q279 and q338. */
  private val duckLabelProp3 =
    """,
       l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
       v1 AS MATERIALIZED (
         SELECT e.dst AS node, l.label, count(*) AS c
         FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2
       ), l1 AS MATERIALIZED (
         SELECT node, label FROM (
           SELECT node, label,
                  row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           FROM v1) WHERE rk = 1
       ),
       v2 AS MATERIALIZED (
         SELECT e.dst AS node, l.label, count(*) AS c
         FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2
       ), l2 AS MATERIALIZED (
         SELECT node, label FROM (
           SELECT node, label,
                  row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           FROM v2) WHERE rk = 1
       ),
       v3 AS MATERIALIZED (
         SELECT e.dst AS node, l.label, count(*) AS c
         FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2
       ), l3 AS MATERIALIZED (
         SELECT node, label FROM (
           SELECT node, label,
                  row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
           FROM v3) WHERE rk = 1
       )"""

  /** Eight unrolled batch-peel rounds replaying GraphOps.kCore(k=4) on
    * the symmetrized brand graph — each round keeps only edges whose
    * BOTH endpoints still hold degree ≥ k; the Spark side throws unless
    * it converged within the same 8 rounds, so the unroll is provably
    * sufficient (extra rounds are no-ops after the fixpoint). */
  private val duckKCore: String = {
    val rounds = (1 to 8).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s""", d$i AS MATERIALIZED (SELECT src, count(*) AS dg FROM $prev GROUP BY 1),
           e$i AS MATERIALIZED (
             SELECT t.src, t.dst FROM $prev t
             JOIN d$i a ON a.src = t.src
             JOIN d$i b ON b.src = t.dst
             WHERE a.dg >= 4 AND b.dg >= 4)"""
    }.mkString
    duckBrandGraph +
      """, e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pr
                               UNION SELECT pb, pa FROM pr)""" +
      rounds +
      " SELECT src AS node, CAST(count(*) AS BIGINT) AS degree FROM e8 GROUP BY 1 ORDER BY node"
  }

  /** Five fixed-point PageRank iterations as chained CTEs — integer
    * arithmetic ((r*85) // (100*deg)) replays GraphOps.pageRankFixed
    * exactly, dangling-mass-drop contract included. */
  /** q301 oracle: the identical weighted Lloyd recursion — md5-hex init
    * ranking, HUGEINT squared distances with row_number (dist, idx)
    * tie-break, floor-divided centroid updates, empty clusters COALESCE
    * to the previous round's centroid. */
  /** q334 oracle: one q193-style A/A block per salt, UNION ALL'd, with
    * the summary composed from the published per-salt z values. */
  private val duckAaCalibration: String = {
    val blocks = (1 to 8).map(i => s"aa$i").sorted.map { s =>
      s"""SELECT '$s' AS salt,
            CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(sum(CASE WHEN arm = 'A' THEN big ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(sum(CASE WHEN arm = 'B' THEN big ELSE 0 END) AS BIGINT) AS conv_b
          FROM (
            SELECT CASE WHEN CAST(CAST(('0x' || substr(md5('$s:' || CAST(c_custkey AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                             / 4503599627370496.0 < 0.5
                        THEN 'A' ELSE 'B' END AS arm,
                   CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS big
            FROM customer)"""
    }.mkString("\nUNION ALL\n")
    s"""WITH per0 AS (
         $blocks
       ), per AS (
         SELECT salt, n_a, n_b, conv_a, conv_b,
                round((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                       - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                      / sqrt(((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                              / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                             * (1.0 - (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z
         FROM per0
       ), summ AS (
         SELECT max(abs(z)) AS max_abs_z,
                CAST(sum(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_196
         FROM per
       )
       SELECT p.salt, p.n_a, p.n_b, p.conv_a, p.conv_b, p.z,
              s2.max_abs_z, s2.n_over_196
       FROM per p CROSS JOIN summ s2 ORDER BY p.salt"""
  }

  private def duckKmeansDist(c: String) =
    s"""CAST(p.f0 - $c.c0 AS HUGEINT) * CAST(p.f0 - $c.c0 AS HUGEINT)
        + CAST(p.f1 - $c.c1 AS HUGEINT) * CAST(p.f1 - $c.c1 AS HUGEINT)"""

  /** Shared CTE chain `WITH pts ... c6t` (6 Lloyd rounds) for the
    * q301/q309 oracles — both must replay the IDENTICAL clustering. */
  private val duckKmeansPrefix: String = {
    def distExpr(c: String) = duckKmeansDist(c)
    val iters = (1 to 6).map { i =>
      val prev = if (i == 1) "c0t" else s"c${i - 1}t"
      s""", a$i AS MATERIALIZED (
           SELECT f0, f1, w, idx, dist FROM (
             SELECT p.f0, p.f1, p.w, c.idx, ${distExpr("c")} AS dist,
                    row_number() OVER (PARTITION BY p.f0, p.f1
                      ORDER BY ${distExpr("c")}, c.idx) AS rn
             FROM pts p CROSS JOIN $prev c
           ) WHERE rn = 1
         ), s$i AS MATERIALIZED (
           SELECT idx, CAST(sum(w) AS BIGINT) AS n,
                  CAST(sum(CAST(f0 AS HUGEINT) * w) AS HUGEINT) AS s0,
                  CAST(sum(CAST(f1 AS HUGEINT) * w) AS HUGEINT) AS s1,
                  CAST(sum(dist * w) AS HUGEINT) AS sd
           FROM a$i GROUP BY 1
         ), c${i}t AS MATERIALIZED (
           SELECT c.idx,
                  CAST(COALESCE(s.s0 // s.n, CAST(c.c0 AS HUGEINT)) AS BIGINT) AS c0,
                  CAST(COALESCE(s.s1 // s.n, CAST(c.c1 AS HUGEINT)) AS BIGINT) AS c1
           FROM $prev c LEFT JOIN s$i s ON s.idx = c.idx
         )"""
    }.mkString
    s"""WITH pts AS MATERIALIZED (
         SELECT CAST(l_quantity AS BIGINT) AS f0,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS f1,
                CAST(count(*) AS BIGINT) AS w
         FROM lineitem
         WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         GROUP BY 1, 2
       ), c0t AS MATERIALIZED (
         SELECT CAST(row_number() OVER (ORDER BY h, f0, f1) - 1 AS INTEGER) AS idx,
                f0 AS c0, f1 AS c1
         FROM (
           SELECT f0, f1,
                  md5(CAST(f0 AS VARCHAR) || '|' || CAST(f1 AS VARCHAR)) AS h
           FROM pts ORDER BY h, f0, f1 LIMIT 4
         )
       )$iters"""
  }

  private val duckKmeans: String =
    duckKmeansPrefix +
      """
       SELECT c.idx AS cluster, COALESCE(s.n, 0) AS n, c.c0 AS c0, c.c1 AS c1,
              CASE WHEN s.n > 0 THEN
                CAST(s.sd // s.n AS DOUBLE)
              END AS mean_sqdist
       FROM c6t c LEFT JOIN s6 s ON s.idx = c.idx
       ORDER BY cluster"""

  /** q368/q369 oracle core: the q340 derandomized-permutation replay
    * swept per priority group — per-group observed rates, the shared
    * id-keyed md5 stream, add-one Monte-Carlo p — ending in `pfinal`
    * with q368's output columns. q369 appends the BH step-up windows. */
  private val duckPermBy: String =
    """WITH base AS (
         SELECT o_orderpriority AS g, CAST(o_orderkey AS VARCHAR) AS id,
                CASE WHEN o_orderstatus = 'F' THEN 'A' ELSE 'B' END AS arm,
                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
         FROM orders
         WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL
           AND round(o_totalprice * 100, 0) IS NOT NULL
       ), obs AS (
         SELECT g,
                CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                CAST(sum(CASE WHEN arm <> 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT) AS sa,
                CAST(sum(CASE WHEN arm <> 'A' THEN x ELSE 0 END) AS BIGINT) AS sb
         FROM base GROUP BY 1
       ), reps AS (
         SELECT g, b, CAST(sum(a) AS BIGINT) AS ka, CAST(count(*) AS BIGINT) AS k,
                CAST(sum(a * x) AS BIGINT) AS sa2, CAST(sum(x) AS BIGINT) AS s
         FROM (
           SELECT base.g, base.x, t.b,
                  CASE WHEN CAST(CAST(('0x' || substr(md5('permby:' || base.id || ':' || CAST(t.b AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                            / 4503599627370496.0
                         < (SELECT CAST(na AS DOUBLE) / (na + nb) FROM obs o WHERE o.g = base.g)
                       THEN 1 ELSE 0 END AS a
           FROM base CROSS JOIN (SELECT unnest(range(0, 64)) AS b) t)
         GROUP BY 1, 2
       ), stat AS (
         SELECT g, CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS diff_obs
         FROM obs
       ), nge AS (
         SELECT reps.g, CAST(count(*) AS BIGINT) AS n_ge
         FROM reps JOIN stat ON stat.g = reps.g
         WHERE k - ka = 0 OR ka = 0
            OR abs(CAST(sa2 AS DOUBLE) / ka - CAST(s - sa2 AS DOUBLE) / (k - ka))
               >= abs(diff_obs)
         GROUP BY 1
       ), pfinal AS (
         SELECT obs.g AS grp, obs.na AS n_a, obs.nb AS n_b,
                round(CAST(obs.sa AS DOUBLE) / obs.na, 6) AS mean_a,
                round(CAST(obs.sb AS DOUBLE) / obs.nb, 6) AS mean_b,
                round(stat.diff_obs, 6) AS diff_obs,
                64 AS b_reps, coalesce(nge.n_ge, 0) AS n_ge,
                round((1.0::DOUBLE + coalesce(nge.n_ge, 0)) / (64 + 1.0::DOUBLE), 6) AS p_value
         FROM obs JOIN stat ON stat.g = obs.g LEFT JOIN nge ON nge.g = obs.g
       )"""

  /** q309 oracle: the q301 chain verbatim through c6t, then per-point
    * (d1, d2) by (dist, idx) rank, one IEEE sqrt each, 12dp silhouettes
    * weight-summed in DECIMAL(38,12). */
  private val duckSilhouette: String =
    duckKmeansPrefix +
      s""", dists AS (
           SELECT p.f0, p.f1, p.w, c.idx, ${duckKmeansDist("c")} AS dist,
                  row_number() OVER (PARTITION BY p.f0, p.f1
                    ORDER BY ${duckKmeansDist("c")}, c.idx) AS rn
           FROM pts p CROSS JOIN c6t c
         ), ab AS (
           SELECT f0, f1, w,
                  max(CASE WHEN rn = 1 THEN idx END) AS cluster,
                  max(CASE WHEN rn = 1 THEN dist END) AS d1,
                  max(CASE WHEN rn = 2 THEN dist END) AS d2
           FROM dists GROUP BY 1, 2, 3
         ), sil AS (
           SELECT cluster, w,
                  CASE WHEN greatest(sqrt(CAST(d1 AS DOUBLE)), sqrt(CAST(d2 AS DOUBLE))) > 0
                       THEN round((sqrt(CAST(d2 AS DOUBLE)) - sqrt(CAST(d1 AS DOUBLE)))
                            / greatest(sqrt(CAST(d1 AS DOUBLE)), sqrt(CAST(d2 AS DOUBLE))), 12)
                       ELSE 0.0 END AS s
           FROM ab
         ), per AS (
           SELECT c.idx AS cluster, COALESCE(CAST(sum(s2.w) AS BIGINT), 0) AS n,
                  sum(CAST(CAST(s2.s AS DECIMAL(38,12)) * s2.w AS DECIMAL(38,12))) AS ts
           FROM c6t c LEFT JOIN sil s2 ON s2.cluster = c.idx GROUP BY 1
         ), allr AS (
           SELECT CAST(-1 AS INTEGER) AS cluster, CAST(sum(n) AS BIGINT) AS n,
                  sum(ts) AS ts
           FROM per
         )
         SELECT cluster, n,
                CASE WHEN n > 0 THEN round(CAST(ts AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS mean_sil
         FROM (SELECT * FROM per UNION ALL SELECT * FROM allr)
         ORDER BY cluster"""

  /** q300 oracle: the identical integer-picounit power iteration —
    * HUGEINT products, `//` floor division, dangling self-loops; pmat
    * MATERIALIZED so 16 iteration CTEs don't re-inline the event scan. */
  private val duckMarkovStationary: String = {
    val U = "1000000000000"
    val iters = (1 to 16).map { i =>
      val prev = if (i == 1) "v0" else s"it${i - 1}"
      s""", it$i AS MATERIALIZED (
           SELECT p.j AS state,
                  CAST(sum(CAST(vp.v AS HUGEINT) * p.p // $U) AS BIGINT) AS v
           FROM pmat p JOIN $prev vp ON vp.state = p.i
           GROUP BY 1
         )"""
    }.mkString
    s"""WITH ev AS (
         SELECT user_id AS u, event_type AS s,
                CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS tie
         FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       ), tr AS (
         SELECT s AS src, lead(s) OVER (PARTITION BY u ORDER BY t, tie) AS dst
         FROM ev
       ), cmat AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS c
         FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2
       ), states AS (SELECT DISTINCT s AS state FROM ev),
       rs AS (
         SELECT st.state AS src, COALESCE(CAST(sum(c.c) AS BIGINT), 0) AS r
         FROM states st LEFT JOIN cmat c ON c.src = st.state GROUP BY 1
       ), pmat AS MATERIALIZED (
         SELECT a.state AS i, b.state AS j,
                CASE WHEN rs.r = 0 THEN
                  CASE WHEN a.state = b.state THEN $U ELSE 0 END
                ELSE CAST(CAST(COALESCE(c.c, 0) AS HUGEINT) * $U // rs.r AS BIGINT)
                END AS p
         FROM states a CROSS JOIN states b
         JOIN rs ON rs.src = a.state
         LEFT JOIN cmat c ON c.src = a.state AND c.dst = b.state
       ), v0 AS (
         SELECT state, $U // (SELECT count(*) FROM states) AS v FROM states
       )$iters
       SELECT s.state AS state, rs.r AS n_out, itf.v AS pi_units,
              round(CAST(itf.v AS DOUBLE) / 1e12, 6) AS pi
       FROM states s JOIN rs ON rs.src = s.state
       JOIN it16 itf ON itf.state = s.state
       ORDER BY state"""
  }

  private val duckPageRank: String = {
    val iters = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s""", it$i AS (
           SELECT n.node, CAST(150000000 + COALESCE(f.infl, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum((rp.r * 85) // (100 * deg.deg)) AS BIGINT) AS infl
             FROM e JOIN $prev rp ON rp.node = e.src
                    JOIN deg ON deg.src = e.src
             GROUP BY 1
           ) f ON f.node = n.node
         )"""
    }.mkString
    duckBrandGraph +
      """, e AS (SELECT pa AS src, pb AS dst FROM pr
                 UNION ALL SELECT pb, pa FROM pr),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)""" +
      iters +
      " SELECT node, r AS rank_units FROM it5 ORDER BY node"
  }

  /** Weighted twin of [[duckPageRank]]: (r·85·w) // (100·Σ_out w). */
  private val duckPageRankWeighted: String = {
    val iters = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s""", it$i AS (
           SELECT n.node, CAST(150000000 + COALESCE(f.infl, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum((rp.r * 85 * e.w) // (100 * wdeg.ws)) AS BIGINT) AS infl
             FROM e JOIN $prev rp ON rp.node = e.src
                    JOIN wdeg ON wdeg.src = e.src
             GROUP BY 1
           ) f ON f.node = n.node
         )"""
    }.mkString
    duckBrandGraph +
      """, e AS (SELECT pa AS src, pb AS dst, support AS w FROM pr
                 UNION ALL SELECT pb, pa, support FROM pr),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)""" +
      iters +
      " SELECT node, r AS rank_units FROM it5 ORDER BY node"
  }

  /** Personalized twin of [[duckPageRank]]: teleport only on the seeds,
    * init mass split over the seeds, seeds unioned into the node set. */
  private val duckPageRankPersonalized: String = {
    val seeds = "['Brand#12', 'Brand#25']"
    val iters = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s""", it$i AS (
           SELECT n.node,
                  CAST(CASE WHEN list_contains($seeds, n.node)
                            THEN 75000000 ELSE 0 END
                       + COALESCE(f.infl, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node,
                    CAST(sum((rp.r * 85) // (100 * deg.deg)) AS BIGINT) AS infl
             FROM e JOIN $prev rp ON rp.node = e.src
                    JOIN deg ON deg.src = e.src
             GROUP BY 1
           ) f ON f.node = n.node
         )"""
    }.mkString
    duckBrandGraph +
      s""", e AS (SELECT pa AS src, pb AS dst FROM pr
                  UNION ALL SELECT pb, pa FROM pr),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
                   UNION SELECT unnest($seeds)),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT node,
                  CAST(CASE WHEN list_contains($seeds, node)
                            THEN 500000000 ELSE 0 END AS BIGINT) AS r
                FROM nodes)""" +
      iters +
      " SELECT node, r AS rank_units FROM it5 ORDER BY node"
  }

  /** Five HITS iterations as chained CTEs: opposite-score sums + the
    * identical integer sum-normalization (·1e6 // Σ) each half-step. */
  private val duckHits: String = {
    val iters = (1 to 5).map { i =>
      val ph = if (i == 1) "h0" else s"hn${i - 1}"
      s""", ar$i AS MATERIALIZED (
             SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS s
             FROM e JOIN $ph h ON h.node = e.src GROUP BY 1),
           aa$i AS MATERIALIZED (
             SELECT n.node, CAST(COALESCE(ar.s, 0) AS BIGINT) AS s
             FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node),
           at$i AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM aa$i),
           an$i AS MATERIALIZED (SELECT node, CAST((s * 1000000) // t AS BIGINT) AS s
                    FROM aa$i, at$i),
           hr$i AS MATERIALIZED (
             SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS s
             FROM e JOIN an$i a ON a.node = e.dst GROUP BY 1),
           ha$i AS MATERIALIZED (
             SELECT n.node, CAST(COALESCE(hr.s, 0) AS BIGINT) AS s
             FROM nodes n LEFT JOIN hr$i hr ON hr.node = n.node),
           ht$i AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM ha$i),
           hn$i AS MATERIALIZED (SELECT node, CAST((s * 1000000) // t AS BIGINT) AS s
                    FROM ha$i, ht$i)"""
    }.mkString
    """WITH e AS MATERIALIZED (
         SELECT DISTINCT CAST(o.o_custkey AS VARCHAR) AS src, p.p_brand AS dst
         FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                       JOIN part p ON p.p_partkey = l.l_partkey
       ),
       nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes)""" +
      iters +
      """ SELECT node, 'hub' AS role, s AS score_units FROM hn5
          UNION ALL SELECT node, 'authority', s FROM an5
          ORDER BY role, node"""
  }

  // built once per JVM, like [[queries]]
  lazy val oracleSql: Map[String, String] = Map(
    // q298: identical (st, en) sweep — a tied duplicate interval gets
    // nw=0 at the later position whichever engine orders it first, so
    // islands agree; touching intervals merge (st > pm strictly opens)
    "q298_interval_coverage" ->
      """WITH s0 AS (
           SELECT l_suppkey AS key,
                  CAST(floor(epoch(date_trunc('day', l_shipdate))) AS BIGINT) // 86400 AS st,
                  CAST(l_quantity AS BIGINT) % 30 AS dur
           FROM lineitem
           WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
             AND l_quantity IS NOT NULL
         ), s AS (
           SELECT key, st, st + dur AS en FROM s0 WHERE dur >= 0
         ), isl AS (
           SELECT key, st, en,
                  CASE WHEN max(en) OVER w IS NULL OR st > max(en) OVER w
                       THEN 1 ELSE 0 END AS nw
           FROM s
           WINDOW w AS (PARTITION BY key ORDER BY st, en
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ), isl2 AS (
           SELECT key, st, en,
                  sum(nw) OVER (PARTITION BY key ORDER BY st, en
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM isl
         ), per AS (
           SELECT key, grp, CAST(count(*) AS BIGINT) AS n,
                  min(st) AS lo, max(en) AS hi
           FROM isl2 GROUP BY 1, 2
         )
         SELECT key, CAST(sum(n) AS BIGINT) AS n_intervals,
                CAST(count(*) AS BIGINT) AS n_islands,
                CAST(sum(hi - lo) AS BIGINT) AS covered,
                CAST(max(hi) - min(lo) AS BIGINT) AS span,
                CASE WHEN max(hi) - min(lo) > 0 THEN
                  round(CAST(sum(hi - lo) AS DOUBLE)
                        / CAST(max(hi) - min(lo) AS DOUBLE), 6)
                END AS coverage
         FROM per GROUP BY key ORDER BY key""",
    // q299: second-truncated t with the unique event_id tie-break gives
    // both engines the same total order inside every key
    "q299_state_runs" ->
      """WITH s AS (
           SELECT user_id AS key, event_type AS state,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS tie
           FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         ), r AS (
           SELECT key, state,
                  row_number() OVER (PARTITION BY key ORDER BY t, tie)
                  - row_number() OVER (PARTITION BY key, state ORDER BY t, tie) AS grp
           FROM s
         ), runs AS (
           SELECT key, state, grp, CAST(count(*) AS BIGINT) AS len
           FROM r GROUP BY 1, 2, 3
         )
         SELECT state, CAST(count(*) AS BIGINT) AS n_runs,
                CAST(sum(len) AS BIGINT) AS n_events,
                CAST(max(len) AS BIGINT) AS max_len,
                round(CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_len,
                CAST(count(DISTINCT key) AS BIGINT) AS n_keys
         FROM runs GROUP BY state ORDER BY state""",
    "q300_markov_stationary" -> duckMarkovStationary,
    "q301_kmeans" -> duckKmeans,
    "q309_silhouette" -> duckSilhouette,
    // q313: same 12dp per-type ln terms and decimal sums; norm composes
    // from the published entropy and 12dp ln(k)
    "q313_user_entropy" ->
      """WITH ut AS (
           SELECT user_id AS u, event_type AS t, CAST(count(*) AS BIGINT) AS c
           FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2
         ), wn AS (
           SELECT u, t, c, CAST(sum(c) OVER (PARTITION BY u) AS BIGINT) AS n
           FROM ut
         ), terms AS (
           SELECT u, n,
                  round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 12) AS term
           FROM wn
         ), per AS (
           SELECT u AS "user", CAST(max(n) AS BIGINT) AS n_events,
                  CAST(count(*) AS BIGINT) AS n_types,
                  round(CAST(sum(CAST(term AS DECIMAL(24,12))) AS DOUBLE), 6) AS entropy
           FROM terms GROUP BY 1
         )
         SELECT "user", n_events, n_types, entropy,
                CASE WHEN n_types > 1 THEN
                  round(entropy / round(ln(CAST(n_types AS DOUBLE)), 12), 6)
                END AS entropy_norm
         FROM per ORDER BY "user"""",
    // q314: the q304 STL chain, residual/detrended/deseasonalized in
    // exact micro-units, HUGEINT variance numerators, n cancels
    "q314_seasonal_strength" ->
      """WITH d AS (
           SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS t,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS units
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2
         ), w AS (
           SELECT event_type, t, units, (t // 86400) % 7 AS s,
                  CAST(count(*) OVER win AS BIGINT) AS mn,
                  CAST(sum(units) OVER win AS BIGINT) AS msum
           FROM d
           WINDOW win AS (PARTITION BY event_type ORDER BY t
             RANGE BETWEEN 259200 PRECEDING AND 259200 FOLLOWING)
         ), det AS (
           SELECT event_type, t, units, s,
                  CASE WHEN mn = 7 THEN
                    round(CAST(msum AS DOUBLE) / CAST(mn AS DOUBLE), 6) END AS trend,
                  CASE WHEN mn = 7 THEN
                    CAST(units AS DECIMAL(38,6))
                      - CAST(round(CAST(msum AS DOUBLE) / CAST(mn AS DOUBLE), 6)
                             AS DECIMAL(38,6))
                  END AS det
           FROM w
         ), seas AS (
           SELECT event_type, s,
                  round(CAST(sum(det) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS seasonal
           FROM det WHERE det IS NOT NULL GROUP BY 1, 2
         ), dc AS (
           SELECT d2.event_type AS event_type, d2.t AS t, d2.units AS units,
                  d2.trend AS trend, se.seasonal AS seasonal,
                  CASE WHEN d2.trend IS NOT NULL THEN
                    CAST(CAST(d2.units AS DECIMAL(38,6))
                      - CAST(d2.trend AS DECIMAL(38,6))
                      - CAST(se.seasonal AS DECIMAL(38,6)) AS DOUBLE)
                  END AS resid
           FROM det d2 LEFT JOIN seas se
             ON se.event_type = d2.event_type AND se.s = d2.s
         ), mic AS (
           SELECT event_type,
                  CAST(round(resid * 1000000, 0) AS BIGINT) AS r,
                  CAST(round((units - trend) * 1000000, 0) AS BIGINT) AS dd,
                  CAST(round((units - seasonal) * 1000000, 0) AS BIGINT) AS g
           FROM dc WHERE resid IS NOT NULL
         ), agg AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(r) AS HUGEINT) AS sr, sum(CAST(r AS HUGEINT) * r) AS srr,
                  CAST(sum(dd) AS HUGEINT) AS sd, sum(CAST(dd AS HUGEINT) * dd) AS sdd,
                  CAST(sum(g) AS HUGEINT) AS sg, sum(CAST(g AS HUGEINT) * g) AS sgg
           FROM mic GROUP BY 1
         )
         SELECT event_type, n,
                CASE WHEN n * sdd - sd * sd > 0 THEN
                  greatest(0.0, round(1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                    / CAST(n * sdd - sd * sd AS DOUBLE), 6)) END AS f_seasonal,
                CASE WHEN n * sgg - sg * sg > 0 THEN
                  greatest(0.0, round(1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                    / CAST(n * sgg - sg * sg AS DOUBLE), 6)) END AS f_trend
         FROM agg ORDER BY event_type""",
    // q310: the q304 STL chain as a CTE, then the q169 median/MAD replay
    // on the residual — identical 6dp cutoffs and 1.4826 constant
    "q310_stl_anomalies" ->
      """WITH d AS (
           SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS t,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS units
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2
         ), w AS (
           SELECT event_type, t, units, (t // 86400) % 7 AS s,
                  CAST(count(*) OVER win AS BIGINT) AS mn,
                  CAST(sum(units) OVER win AS BIGINT) AS msum
           FROM d
           WINDOW win AS (PARTITION BY event_type ORDER BY t
             RANGE BETWEEN 259200 PRECEDING AND 259200 FOLLOWING)
         ), det AS (
           SELECT event_type, t, units, s,
                  CASE WHEN mn = 7 THEN
                    round(CAST(msum AS DOUBLE) / CAST(mn AS DOUBLE), 6) END AS trend,
                  CASE WHEN mn = 7 THEN
                    CAST(units AS DECIMAL(38,6))
                      - CAST(round(CAST(msum AS DOUBLE) / CAST(mn AS DOUBLE), 6)
                             AS DECIMAL(38,6))
                  END AS det
           FROM w
         ), seas AS (
           SELECT event_type, s,
                  round(CAST(sum(det) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS seasonal
           FROM det WHERE det IS NOT NULL GROUP BY 1, 2
         ), dc AS (
           SELECT d2.event_type AS event_type, d2.t AS t, d2.units AS units,
                  d2.s AS s, d2.trend AS trend,
                  CASE WHEN d2.trend IS NOT NULL THEN se.seasonal END AS seasonal,
                  CASE WHEN d2.trend IS NOT NULL THEN
                    CAST(CAST(d2.units AS DECIMAL(38,6))
                      - CAST(d2.trend AS DECIMAL(38,6))
                      - CAST(se.seasonal AS DECIMAL(38,6)) AS DOUBLE)
                  END AS resid
           FROM det d2 LEFT JOIN seas se
             ON se.event_type = d2.event_type AND se.s = d2.s
         ), scored AS (
           SELECT *, CAST(round(resid * 1000000, 0) AS BIGINT) AS rm
           FROM dc WHERE resid IS NOT NULL
         ), med AS (
           SELECT event_type, median(rm) AS medm FROM scored GROUP BY 1
         ), madt AS (
           SELECT s2.event_type, median(abs(s2.rm - m.medm)) AS madm
           FROM scored s2 JOIN med m ON m.event_type = s2.event_type GROUP BY 1
         )
         SELECT s2.event_type AS event_type, s2.t AS t, s2.units AS units,
                s2.s AS s, s2.trend AS trend, s2.seasonal AS seasonal,
                s2.resid AS resid,
                round(m.medm / 1000000.0, 6) AS med,
                round(d3.madm / 1000000.0, 6) AS mad,
                CASE WHEN round(d3.madm / 1000000.0, 6) > 0 THEN
                  round((s2.resid - round(m.medm / 1000000.0, 6))
                        / (1.4826 * round(d3.madm / 1000000.0, 6)), 6) END AS robust_z,
                COALESCE(CASE WHEN round(d3.madm / 1000000.0, 6) > 0 THEN
                  abs(round((s2.resid - round(m.medm / 1000000.0, 6))
                      / (1.4826 * round(d3.madm / 1000000.0, 6)), 6)) > 3.5 END,
                  FALSE) AS is_anomaly
         FROM scored s2 JOIN med m ON m.event_type = s2.event_type
                        JOIN madt d3 ON d3.event_type = s2.event_type
         ORDER BY event_type, t""",
    // q311: pair formulation of the same two models — dyadic weights
    // 1<<(6−e) with e = (Δ−1)//86400, U-shaped exact rationals, 12dp
    // shares decimal-summed per channel
    "q311_attribution_weighted" ->
      """WITH ev AS (
           SELECT user_id AS u, event_type AS c,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS tie
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
         ), conv AS (SELECT u, t, tie FROM ev WHERE c = 'purchase'),
         touch AS (SELECT u, c, t, tie FROM ev WHERE c <> 'purchase'),
         pairs AS MATERIALIZED (
           SELECT cv.u, cv.t AS ct, cv.tie AS ctie, tc.c, tc.t AS tt, tc.tie AS ttie
           FROM conv cv JOIN touch tc ON tc.u = cv.u
             AND tc.t >= cv.t - 604800 AND tc.t <= cv.t - 1
         ), wpc AS (
           SELECT u, ct, ctie, c,
                  CAST(sum(CAST(1 AS BIGINT) << CAST(6 - (ct - tt - 1) // 86400 AS INTEGER)) AS BIGINT) AS num,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM pairs GROUP BY 1, 2, 3, 4
         ), wm AS (
           SELECT u, ct, ctie, c, num, cnt,
                  CAST(sum(num) OVER (PARTITION BY u, ct, ctie) AS BIGINT) AS den,
                  CAST(sum(cnt) OVER (PARTITION BY u, ct, ctie) AS BIGINT) AS m
           FROM wpc
         ), fl AS (
           SELECT u, ct, ctie,
                  max(CASE WHEN rl = 1 THEN c END) AS lc,
                  max(CASE WHEN rf = 1 THEN c END) AS fc
           FROM (
             SELECT u, ct, ctie, c,
                    row_number() OVER (PARTITION BY u, ct, ctie
                                       ORDER BY tt DESC, ttie DESC) AS rl,
                    row_number() OVER (PARTITION BY u, ct, ctie
                                       ORDER BY tt ASC, ttie ASC) AS rf
             FROM pairs
           ) GROUP BY 1, 2, 3
         ), sh AS (
           SELECT w.c AS channel,
                  CAST(round(CAST(w.num AS DOUBLE) / CAST(w.den AS DOUBLE), 12)
                       AS DECIMAL(38,12)) AS dterm,
                  CAST(CASE WHEN w.m <= 2 THEN round(
                         ((CASE WHEN f.lc = w.c THEN 1 ELSE 0 END)
                          + (CASE WHEN f.fc = w.c THEN 1 ELSE 0 END)) / 2.0, 12)
                       ELSE round(
                         CAST(2 * (w.m - 2) * ((CASE WHEN f.lc = w.c THEN 1 ELSE 0 END)
                              + (CASE WHEN f.fc = w.c THEN 1 ELSE 0 END))
                              + (w.cnt - (CASE WHEN f.lc = w.c THEN 1 ELSE 0 END)
                                 - (CASE WHEN f.fc = w.c THEN 1 ELSE 0 END)) AS DOUBLE)
                         / CAST(5 * (w.m - 2) AS DOUBLE), 12) END
                       AS DECIMAL(38,12)) AS pterm
           FROM wm w JOIN fl f ON f.u = w.u AND f.ct = w.ct AND f.ctie = w.ctie
         ), chans AS (SELECT DISTINCT c AS channel FROM ev WHERE c <> 'purchase'),
         per AS (
           SELECT ch.channel,
                  CAST(count(s.channel) AS BIGINT) AS n_touched,
                  COALESCE(sum(s.dterm), CAST(0 AS DECIMAL(38,12))) AS dsum,
                  COALESCE(sum(s.pterm), CAST(0 AS DECIMAL(38,12))) AS psum
           FROM chans ch LEFT JOIN sh s ON s.channel = ch.channel
           GROUP BY 1
         ), direct AS (
           SELECT CAST(count(*) AS BIGINT) AS d
           FROM conv cv WHERE NOT EXISTS (
             SELECT 1 FROM touch tc WHERE tc.u = cv.u
               AND tc.t >= cv.t - 604800 AND tc.t <= cv.t - 1)
         )
         SELECT channel, n_touched,
                round(CAST(dsum AS DOUBLE), 6) AS decay,
                round(CAST(psum AS DOUBLE), 6) AS position
         FROM per
         UNION ALL
         SELECT '(direct)', d, round(CAST(d AS DOUBLE), 6),
                round(CAST(d AS DOUBLE), 6)
         FROM direct
         ORDER BY channel""",
    // q312: identical md5-bucket order, first-bucket vocab counting, and
    // the q208 exact-moment OLS over 12dp ln checkpoints
    "q312_heaps_fit" ->
      """WITH arrs AS (
           SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS a,
                  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 64 AS BIGINT) AS b
           FROM documents
         ), tok AS (
           SELECT b, unnest(list_transform(generate_series(1, len(a) - 2),
                    i -> a[i] || '|' || a[i+1] || '|' || a[i+2])) AS w
           FROM arrs
         ), tb AS (SELECT b, CAST(count(*) AS BIGINT) AS tk FROM tok GROUP BY 1),
         vb AS (
           SELECT fb AS b, CAST(count(*) AS BIGINT) AS vk FROM (
             SELECT w, min(b) AS fb FROM tok GROUP BY 1
           ) GROUP BY 1
         ), spine AS (SELECT CAST(range AS BIGINT) AS b FROM range(64)),
         pts AS (
           SELECT s.b, COALESCE(t.tk, 0) AS tk, COALESCE(v.vk, 0) AS vk,
                  CAST(sum(COALESCE(t.tk, 0)) OVER (ORDER BY s.b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
                  CAST(sum(COALESCE(v.vk, 0)) OVER (ORDER BY s.b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cv
           FROM spine s LEFT JOIN tb t ON t.b = s.b LEFT JOIN vb v ON v.b = s.b
         ), xy AS (
           SELECT CAST(round(ln(CAST(cn AS DOUBLE)), 12) AS DECIMAL(15,12)) AS x,
                  CAST(round(ln(CAST(cv AS DOUBLE)), 12) AS DECIMAL(15,12)) AS y,
                  cn, cv
           FROM pts WHERE cn > 0 AND cv > 0
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n_points,
                  CAST(max(cn) AS BIGINT) AS n_tokens,
                  CAST(max(cv) AS BIGINT) AS vocab,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(CAST(x * x AS DECIMAL(34,24))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(x * y AS DECIMAL(34,24))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(y * y AS DECIMAL(34,24))) AS DOUBLE) AS syy
           FROM xy
         )
         SELECT n_points, n_tokens, vocab,
                round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
                round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
                round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         FROM m""",
    // q315: the shared brand graph, both-direction edges, exact HUGEINT
    // Pearson moments over endpoint degrees
    "q315_assortativity" -> (duckBrandGraph +
      """, e0 AS (SELECT pa AS a, pb AS b FROM pr),
         dirE AS (
           SELECT a AS src, b AS dst FROM e0
           UNION ALL SELECT b, a FROM e0
         ), deg AS (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
           FROM dirE GROUP BY 1
         ), xy AS (
           SELECT dx.degree AS dx, dy.degree AS dy
           FROM dirE e JOIN deg dx ON dx.node = e.src
                       JOIN deg dy ON dy.node = e.dst
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS m2,
                  CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                  sum(CAST(dx AS HUGEINT) * dy) AS sxy,
                  sum(CAST(dx AS HUGEINT) * dx) AS sxx,
                  sum(CAST(dy AS HUGEINT) * dy) AS syy
           FROM xy
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         SELECT nn.n_nodes AS n_nodes, CAST(m.m2 // 2 AS BIGINT) AS m_edges,
                round(CAST(m.m2 AS DOUBLE) / CAST(nn.n_nodes AS DOUBLE), 6) AS mean_degree,
                CASE WHEN m.m2 * m.sxx - CAST(m.sx AS HUGEINT) * m.sx > 0
                      AND m.m2 * m.syy - CAST(m.sy AS HUGEINT) * m.sy > 0 THEN
                  round(CAST(m.m2 * m.sxy - CAST(m.sx AS HUGEINT) * m.sy AS DOUBLE)
                        / (sqrt(CAST(m.m2 * m.sxx - CAST(m.sx AS HUGEINT) * m.sx AS DOUBLE))
                           * sqrt(CAST(m.m2 * m.syy - CAST(m.sy AS HUGEINT) * m.sy AS DOUBLE))), 6)
                END AS assortativity
         FROM m CROSS JOIN nn"""),
    // q316: positional zip-unnest, identical micro-unit quantization,
    // count divides cancel in the cosine of exact sum vectors
    "q316_centroid_drift" ->
      """WITH base AS (
           SELECT label, vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL
         ), x0 AS (
           SELECT CAST(label AS VARCHAR) AS grp,
                  unnest(range(len(embedding))) AS pos,
                  unnest(embedding) AS v
           FROM base WHERE vec_id % 2 = 0
         ), x1 AS (
           SELECT CAST(label AS VARCHAR) AS grp,
                  unnest(range(len(embedding))) AS pos,
                  unnest(embedding) AS v
           FROM base WHERE vec_id % 2 = 1
         ), s0 AS (
           SELECT grp, pos,
                  CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s0,
                  CAST(count(*) AS BIGINT) AS n0,
                  CAST(max(pos) OVER (PARTITION BY grp) + 1 AS BIGINT) AS d0
           FROM x0 GROUP BY 1, 2
         ), s1 AS (
           SELECT grp, pos,
                  CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s1,
                  CAST(count(*) AS BIGINT) AS n1,
                  CAST(max(pos) OVER (PARTITION BY grp) + 1 AS BIGINT) AS d1
           FROM x1 GROUP BY 1, 2
         ), j AS (
           SELECT s0.grp, s0.pos, s0.s0, s0.n0, s0.d0, s1.s1, s1.n1, s1.d1
           FROM s0 JOIN s1 ON s1.grp = s0.grp AND s1.pos = s0.pos
         ), g AS (
           SELECT grp, CAST(max(n0) AS BIGINT) AS n_a,
                  CAST(max(n1) AS BIGINT) AS n_b,
                  CAST(max(d0) AS BIGINT) AS dim_a,
                  CAST(max(d1) AS BIGINT) AS dim_b,
                  CAST(count(*) AS BIGINT) AS dim,
                  sum(CAST(s0 AS HUGEINT) * s1) AS dot,
                  sum(CAST(s0 AS HUGEINT) * s0) AS m0,
                  sum(CAST(s1 AS HUGEINT) * s1) AS m1
           FROM j GROUP BY 1
         )
         SELECT grp, n_a, n_b, dim_a, dim_b, dim,
                CASE WHEN m0 > 0 AND m1 > 0 THEN
                  round(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(m0 AS DOUBLE)) * sqrt(CAST(m1 AS DOUBLE))), 6)
                END AS cos,
                CASE WHEN m0 > 0 AND m1 > 0 THEN
                  round(1.0 - round(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(m0 AS DOUBLE)) * sqrt(CAST(m1 AS DOUBLE))), 6), 6)
                END AS drift
         FROM g ORDER BY grp""",
    // q317: same shingle tokenizer, DISTINCT presence relation, pair
    // spine over the bounded source list so disjoint pairs publish 0
    "q317_vocab_overlap" ->
      """WITH arrs AS (
           SELECT source AS s,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS a
           FROM documents WHERE source IS NOT NULL
         ), sv AS (
           SELECT DISTINCT s, w FROM (
             SELECT s, unnest(list_transform(generate_series(1, len(a) - 2),
                      i -> a[i] || '|' || a[i+1] || '|' || a[i+2])) AS w
             FROM arrs)
         ), sizes AS (
           SELECT s, CAST(count(*) AS BIGINT) AS vocab FROM sv GROUP BY 1
         ), inter AS (
           SELECT x.s AS sa, y.s AS sb, CAST(count(*) AS BIGINT) AS i
           FROM sv x JOIN sv y ON y.w = x.w AND x.s < y.s
           GROUP BY 1, 2
         )
         SELECT a.s AS source_a, b.s AS source_b,
                a.vocab AS vocab_a, b.vocab AS vocab_b,
                COALESCE(i.i, 0) AS intersection,
                round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                      / CAST(a.vocab + b.vocab - COALESCE(i.i, 0) AS DOUBLE), 6) AS jaccard,
                round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                      / CAST(a.vocab AS DOUBLE), 6) AS containment_a,
                round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                      / CAST(b.vocab AS DOUBLE), 6) AS containment_b
         FROM sizes a JOIN sizes b ON a.s < b.s
         LEFT JOIN inter i ON i.sa = a.s AND i.sb = b.s
         ORDER BY source_a, source_b""",
    // q318: Σc²/n² and n²/Σc² as single HUGEINT divides; gini composes
    // from the published simpson
    "q318_simpson" ->
      """WITH gt AS (
           SELECT event_type AS g, user_id AS t, CAST(count(*) AS BIGINT) AS c
           FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           GROUP BY 1, 2
         ), per AS (
           SELECT g, CAST(sum(c) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS n_types,
                  sum(CAST(c AS HUGEINT) * c) AS s2
           FROM gt GROUP BY 1
         )
         SELECT g AS "group", n, n_types,
                round(CAST(s2 AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) AS simpson,
                round(1.0 - round(CAST(s2 AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6), 6) AS gini_simpson,
                round(CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
                      / CAST(s2 AS DOUBLE), 6) AS effective_types
         FROM per ORDER BY "group"""",
    // q319: identical micro-unit moments, 6dp per-dim variances, PR from
    // the exact decimal sums of the PUBLISHED values
    "q319_effective_dim" ->
      """WITH pd AS (
           SELECT pos, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s,
                  sum(CAST(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS HUGEINT)
                      * CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS q
           FROM (
             SELECT unnest(range(len(embedding))) AS pos, unnest(embedding) AS v
             FROM embeddings WHERE embedding IS NOT NULL
           ) GROUP BY 1
         ), v AS (
           SELECT pos, n,
                  round(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * n * 1000000000000 AS DOUBLE), 6) AS var6
           FROM pd
         ), agg AS (
           SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS dim,
                  sum(CAST(var6 AS DECIMAL(38,6))) AS sv,
                  sum(CAST(CAST(var6 AS DECIMAL(18,6)) * CAST(var6 AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS svv
           FROM v
         )
         SELECT n, dim, round(CAST(sv AS DOUBLE), 6) AS total_var,
                CASE WHEN svv > 0 THEN
                  round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                        / CAST(svv AS DOUBLE), 6) END AS effective_dim,
                CASE WHEN svv > 0 THEN
                  round(round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                        / CAST(svv AS DOUBLE), 6) / CAST(dim AS DOUBLE), 6)
                END AS dim_ratio
         FROM agg""",
    // q320: Fano factor (n·Σc² − (Σc)²)/(n·Σc) as one HUGEINT divide
    "q320_dispersion" ->
      """WITH daily AS (
           SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
         ), agg AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
                  CAST(sum(c) AS BIGINT) AS total,
                  sum(CAST(c AS HUGEINT) * c) AS q
           FROM daily GROUP BY 1
         )
         SELECT event_type, n_buckets, total,
                round(CAST(total AS DOUBLE) / CAST(n_buckets AS DOUBLE), 6) AS mean,
                CASE WHEN total > 0 THEN
                  round(CAST(n_buckets * q - CAST(total AS HUGEINT) * total AS DOUBLE)
                        / CAST(CAST(n_buckets AS HUGEINT) * total AS DOUBLE), 6)
                END AS dispersion
         FROM agg ORDER BY event_type""",
    // q323: the shared brand graph, symmetrized; two bounded recursive
    // walks — start = md5-min node, peripheral = (d desc, node) argmax
    "q323_diameter" ->
      """WITH RECURSIVE bi AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         ), pr AS (
           SELECT x.i AS pa, y.i AS pb, count(*) AS support
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 400
         ), e AS (
           SELECT pa AS src, pb AS dst FROM pr
           UNION ALL SELECT pb, pa FROM pr
         ), nodes AS (
           SELECT DISTINCT src AS node FROM e
         ), st AS (
           SELECT node FROM nodes ORDER BY md5(node), node LIMIT 1
         ), w1(node, d) AS (
           SELECT node, 0 FROM st
           UNION
           SELECT e.dst, w1.d + 1 FROM w1 JOIN e ON e.src = w1.node
           WHERE w1.d < 12
         ), d1 AS (
           SELECT node, CAST(min(d) AS BIGINT) AS d FROM w1 GROUP BY 1
         ), peri AS (
           SELECT node, d FROM d1 ORDER BY d DESC, node ASC LIMIT 1
         ), w2(node, d) AS (
           SELECT node, 0 FROM peri
           UNION
           SELECT e.dst, w2.d + 1 FROM w2 JOIN e ON e.src = w2.node
           WHERE w2.d < 12
         ), d2 AS (
           SELECT node, CAST(min(d) AS BIGINT) AS d FROM w2 GROUP BY 1
         )
         SELECT (SELECT node FROM st) AS start_node,
                (SELECT d FROM peri) AS ecc_start,
                (SELECT node FROM peri) AS peripheral_node,
                CAST(max(d2.d) AS BIGINT) AS diameter_lb,
                (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n_reached_start,
                CAST(count(*) AS BIGINT) AS n_reached_peripheral
         FROM d2""",
    // q324: identical 12dp alpha then the same IEEE ln/sqrt chains
    "q324_log_odds" ->
      """WITH ta AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents WHERE lang = 'en'
         ), tb AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents WHERE lang = 'fr'
         ), ca AS (SELECT w, CAST(count(*) AS BIGINT) AS y_a FROM ta GROUP BY 1),
         cb AS (SELECT w, CAST(count(*) AS BIGINT) AS y_b FROM tb GROUP BY 1),
         j AS (
           SELECT COALESCE(ca.w, cb.w) AS w, COALESCE(y_a, 0) AS y_a,
                  COALESCE(y_b, 0) AS y_b
           FROM ca FULL OUTER JOIN cb ON cb.w = ca.w
         ), tot AS (
           SELECT CAST(sum(y_a) AS BIGINT) AS na, CAST(sum(y_b) AS BIGINT) AS nb
           FROM j
         ), al AS (
           SELECT j.w, j.y_a, j.y_b, t.na, t.nb,
                  round(100.0 * CAST(j.y_a + j.y_b AS DOUBLE)
                        / CAST(t.na + t.nb AS DOUBLE), 12) AS alpha
           FROM j CROSS JOIN tot t
         ), sc AS (
           SELECT w, y_a, y_b, alpha,
                  round(ln((CAST(y_a AS DOUBLE) + alpha)
                           / (CAST(na AS DOUBLE) + 100.0 - CAST(y_a AS DOUBLE) - alpha))
                        - ln((CAST(y_b AS DOUBLE) + alpha)
                             / (CAST(nb AS DOUBLE) + 100.0 - CAST(y_b AS DOUBLE) - alpha)),
                        12) AS delta
           FROM al
         )
         SELECT w, y_a, y_b, alpha, delta,
                round(delta / sqrt(1.0 / (CAST(y_a AS DOUBLE) + alpha)
                                 + 1.0 / (CAST(y_b AS DOUBLE) + alpha)), 6) AS z
         FROM sc
         ORDER BY abs(round(delta / sqrt(1.0 / (CAST(y_a AS DOUBLE) + alpha)
                                 + 1.0 / (CAST(y_b AS DOUBLE) + alpha)), 6)) DESC, w ASC
         LIMIT 40""",
    // q325: identical 52-bit u, one-divide priorities, same top-(k+1)
    // cut and published-6dp estimate sum
    "q325_priority_sample" ->
      """WITH base AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w,
                  CAST(('0x' || substr(md5('prio-r12:' || CAST(o_orderkey AS VARCHAR)), 1, 13)) AS UBIGINT) AS h
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
             AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
         ), pr AS (
           SELECT o_orderkey, w,
                  CAST(w AS DOUBLE) / ((CAST(h AS DOUBLE) + 1.0) / 4503599627370496.0) AS p
           FROM base
         ), top AS (
           SELECT * FROM pr ORDER BY p DESC, o_orderkey ASC LIMIT 101
         ), tt AS (
           SELECT CAST(count(*) AS BIGINT) AS kk, min(p) AS tau FROM top
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS total_w
           FROM base
         ), samp AS (
           SELECT t.o_orderkey, t.w, t.p,
                  CASE WHEN tt.kk <= 100 THEN CAST(t.w AS DOUBLE)
                       ELSE greatest(CAST(t.w AS DOUBLE), tt.tau) END AS w_est,
                  tt.kk, tt.tau
           FROM top t CROSS JOIN tt
           WHERE tt.kk <= 100 OR t.p > tt.tau
         ), est AS (
           SELECT CAST(sum(CAST(round(w_est, 0) AS DECIMAL(38,0))) AS DOUBLE) AS est_total
           FROM samp
         )
         SELECT s.o_orderkey, s.w, round(s.p, 0) AS priority,
                round(s.w_est, 0) AS w_est,
                CASE WHEN s.kk > 100 THEN round(s.tau, 0) END AS tau,
                tot.n, tot.total_w, est.est_total,
                CASE WHEN tot.total_w > 0 THEN
                  round((est.est_total - CAST(tot.total_w AS DOUBLE))
                        / CAST(tot.total_w AS DOUBLE), 6) END AS rel_err
         FROM samp s CROSS JOIN tot CROSS JOIN est
         ORDER BY priority DESC, o_orderkey ASC""",
    // q326: the q203 KM chain, then first-crossing min per quantile
    "q326_survival_quantiles" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev
           FROM pu
         ), tot AS (SELECT count(*) AS n FROM subj),
         byt AS (
           SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS nc
           FROM subj GROUP BY 1
         ), c1 AS (
           SELECT t, ne, nc,
                  sum(ne + nc) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gone
           FROM byt
         ), c2 AS (
           SELECT c1.t, c1.ne, c1.nc,
                  CAST(tot.n - c1.gone + c1.ne + c1.nc AS BIGINT) AS nr
           FROM c1 CROSS JOIN tot
         ), c3 AS (
           SELECT *, CASE WHEN ne = nr THEN 1 ELSE 0 END AS z,
                  CASE WHEN ne = nr THEN 0.0
                       ELSE round(ln(1.0 - CAST(ne AS DOUBLE) / CAST(nr AS DOUBLE)), 12) END AS term
           FROM c2
         ), c4 AS (
           SELECT *,
                  sum(CAST(term AS DECIMAL(24,12))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
                  max(z) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS az
           FROM c3
         ), km AS (
           SELECT t, CASE WHEN az = 1 THEN 0.0
                          ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival
           FROM c4 WHERE ne > 0
         ), qs AS (SELECT unnest([0.75, 0.5, 0.25]) AS q),
         hit AS (
           SELECT q.q, min(k.t) AS t_q
           FROM qs q LEFT JOIN km k ON k.survival <= q.q
           GROUP BY 1
         )
         SELECT h.q, h.t_q, k2.survival AS survival_at
         FROM hit h LEFT JOIN km k2 ON k2.t = h.t_q
         ORDER BY h.q DESC""",
    // q327: identical md5 slice predicates (cutHex(0.4) = '66666666'),
    // Chapman (nA+1)(nB+1)/(m+1) − 1 as one exact divide
    "q327_capture_recapture" ->
      """WITH ka AS (
           SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
           WHERE substr(md5('crA:' || CAST(c_custkey AS VARCHAR)), 1, 8) < '66666666'
         ), kb AS (
           SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
           WHERE substr(md5('crB:' || CAST(c_custkey AS VARCHAR)), 1, 8) < '66666666'
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS overlap
           FROM ka JOIN kb ON kb.k = ka.k
         ), na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM ka),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM kb),
         nh AS (
           SELECT na.n_a, nb.n_b, m.overlap,
                  round(CAST(CAST(na.n_a + 1 AS HUGEINT) * (nb.n_b + 1) AS DOUBLE)
                        / CAST(m.overlap + 1 AS DOUBLE) - 1.0, 6) AS n_hat
           FROM na CROSS JOIN nb CROSS JOIN m
         )
         SELECT n_a, n_b, overlap, n_hat,
                CASE WHEN n_hat > 0 THEN
                  round(CAST(n_a AS DOUBLE) / n_hat, 6) END AS coverage_a,
                CASE WHEN n_hat > 0 THEN
                  round(CAST(n_b AS DOUBLE) / n_hat, 6) END AS coverage_b
         FROM nh""",
    // q329: the q182 share chain with √(p·q) terms; hellinger composes
    // from the published bc
    "q329_hellinger" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         n0 AS (SELECT count(*) AS n FROM v0), n1 AS (SELECT count(*) AS n FROM v1),
         bins AS (SELECT unnest(range(10)) AS bin),
         b0 AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0.0), 9.0) AS BIGINT) AS bin,
                       count(*) AS c FROM v0 GROUP BY 1),
         b1 AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0.0), 9.0) AS BIGINT) AS bin,
                       count(*) AS c FROM v1 GROUP BY 1),
         p AS (SELECT bins.bin, CAST(COALESCE(b0.c, 0) + 1 AS DOUBLE) / CAST(n0.n + 10 AS DOUBLE) AS p
               FROM bins LEFT JOIN b0 ON b0.bin = bins.bin CROSS JOIN n0),
         q AS (SELECT bins.bin, CAST(COALESCE(b1.c, 0) + 1 AS DOUBLE) / CAST(n1.n + 10 AS DOUBLE) AS q
               FROM bins LEFT JOIN b1 ON b1.bin = bins.bin CROSS JOIN n1),
         bc AS (
           SELECT round(CAST(sum(CAST(round(sqrt(p.p * q.q), 12) AS DECIMAL(20,12))) AS DOUBLE), 6) AS bc
           FROM p JOIN q ON q.bin = p.bin
         )
         SELECT (SELECT CAST(n AS BIGINT) FROM n0) AS n_a,
                (SELECT CAST(n AS BIGINT) FROM n1) AS n_b, bc,
                round(sqrt(greatest(0.0, 1.0 - bc)), 6) AS hellinger
         FROM bc""",
    // q330: the q233 exact half-unit rank machinery; delta is one
    // HUGEINT divide, bands applied to the published value
    "q330_cliffs_delta" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         ), r AS (
           SELECT g, v, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
                  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
           FROM s
         ), sums AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(2 * rnk + ties - 1) AS BIGINT) AS r2x
           FROM r GROUP BY 1
         ), a AS (SELECT n, r2x FROM sums WHERE g = '1-URGENT'),
         b AS (SELECT n FROM sums WHERE g = '5-LOW'),
         f AS (
           SELECT a.n AS n_a, b.n AS n_b, a.r2x - a.n * (a.n + 1) AS u2x
           FROM a, b
         ), d AS (
           SELECT n_a, n_b, u2x,
                  round(CAST(CAST(u2x AS HUGEINT) - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                        / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS delta
           FROM f
         )
         SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b, n_a, n_b,
                CAST(u2x AS DOUBLE) / 2.0 AS u_a, delta,
                CASE WHEN abs(delta) < 0.147 THEN 'negligible'
                     WHEN abs(delta) < 0.33 THEN 'small'
                     WHEN abs(delta) < 0.474 THEN 'medium'
                     ELSE 'large' END AS magnitude
         FROM d""",
    // q331: per-stratum expected conversions round 6dp (count scale),
    // decimal-summed, one final divide by the on-support pooled N
    "q331_standardized_rates" ->
      """WITH s AS (
           SELECT CAST(c_nationkey AS VARCHAR) AS s, c_mktsegment AS g,
                  CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS y
           FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
             AND c_nationkey IS NOT NULL
         ), cells AS (
           SELECT s, g, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS c
           FROM s GROUP BY 1, 2
         ), a AS (SELECT s, n AS na, c AS ca FROM cells WHERE g = 'BUILDING'),
         b AS (SELECT s, n AS nb, c AS cb FROM cells WHERE g = 'MACHINERY'),
         onsup AS (
           SELECT a.s, a.na, a.ca, b.nb, b.cb, a.na + b.nb AS ns
           FROM a JOIN b ON b.s = a.s
         ), off AS (
           SELECT CAST(count(*) AS BIGINT) AS n_off FROM a
           FULL OUTER JOIN b ON b.s = a.s
           WHERE a.s IS NULL OR b.s IS NULL
         ), agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
                  CAST(sum(ca) AS BIGINT) AS csa, CAST(sum(cb) AS BIGINT) AS csb,
                  CAST(sum(ns) AS BIGINT) AS nn,
                  sum(CAST(round(CAST(CAST(ns AS HUGEINT) * ca AS DOUBLE)
                      / CAST(na AS DOUBLE), 6) AS DECIMAL(38,6))) AS wa,
                  sum(CAST(round(CAST(CAST(ns AS HUGEINT) * cb AS DOUBLE)
                      / CAST(nb AS DOUBLE), 6) AS DECIMAL(38,6))) AS wb
           FROM onsup
         )
         SELECT 'BUILDING' AS group_a, 'MACHINERY' AS group_b,
                agg.n_a, agg.n_b,
                round(CAST(agg.csa AS DOUBLE) / CAST(agg.n_a AS DOUBLE), 6) AS raw_a,
                round(CAST(agg.csb AS DOUBLE) / CAST(agg.n_b AS DOUBLE), 6) AS raw_b,
                round(CAST(agg.wa AS DOUBLE) / CAST(agg.nn AS DOUBLE), 6) AS std_a,
                round(CAST(agg.wb AS DOUBLE) / CAST(agg.nn AS DOUBLE), 6) AS std_b,
                agg.n_strata, off.n_off AS n_off_support,
                round(round(CAST(agg.csb AS DOUBLE) / CAST(agg.n_b AS DOUBLE), 6)
                      - round(CAST(agg.csa AS DOUBLE) / CAST(agg.n_a AS DOUBLE), 6), 6) AS raw_diff,
                round(round(CAST(agg.wb AS DOUBLE) / CAST(agg.nn AS DOUBLE), 6)
                      - round(CAST(agg.wa AS DOUBLE) / CAST(agg.nn AS DOUBLE), 6), 6) AS std_diff
         FROM agg CROSS JOIN off""",
    // q332: per-group cumulative counts over the distinct relation,
    // exact rational rank compares cum·den ≥ num·n
    "q332_qte" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         ), pv AS (
           SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY 1, 2
         ), cum AS (
           SELECT g, v,
                  CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM pv
         ), ps AS (
           SELECT * FROM (VALUES (1, 4, CAST(0.25 AS DOUBLE)),
                                 (1, 2, CAST(0.5 AS DOUBLE)),
                                 (3, 4, CAST(0.75 AS DOUBLE))) AS t(pn, pd, p)
         ), picks AS (
           SELECT ps.p, c.g, min(c.v) AS q, max(c.n) AS n
           FROM ps JOIN cum c ON c.cum * ps.pd >= ps.pn * c.n
           GROUP BY 1, 2
         ), a AS (SELECT p, n AS n_a, q AS q_a FROM picks WHERE g = '1-URGENT'),
         b AS (SELECT p, n AS n_b, q AS q_b FROM picks WHERE g = '5-LOW')
         SELECT a.p, CAST(a.n_a AS BIGINT) AS n_a, CAST(b.n_b AS BIGINT) AS n_b,
                a.q_a, b.q_b, b.q_b - a.q_a AS qte
         FROM a JOIN b ON b.p = a.p ORDER BY a.p""",
    // q333: identical exact cross-multiplied mean compares, one sqrt
    "q333_sign_test" ->
      """WITH per AS (
           SELECT user_id,
                  CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < 1705363200
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS s1,
                  CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < 1705363200
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1705363200
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT) AS s2,
                  CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1705363200
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
           FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
           GROUP BY 1
         ), ok AS (SELECT * FROM per WHERE n1 > 0 AND n2 > 0),
         cnt AS (
           SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(CASE WHEN CAST(s2 AS HUGEINT) * n1 > CAST(s1 AS HUGEINT) * n2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                  CAST(sum(CASE WHEN CAST(s2 AS HUGEINT) * n1 < CAST(s1 AS HUGEINT) * n2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
                  CAST(sum(CASE WHEN CAST(s2 AS HUGEINT) * n1 = CAST(s1 AS HUGEINT) * n2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
           FROM ok
         )
         SELECT n_pairs, n_pos, n_neg, n_tie,
                CASE WHEN n_pos + n_neg > 0 THEN
                  round(CAST(n_pos - n_neg AS DOUBLE)
                        / sqrt(CAST(n_pos + n_neg AS DOUBLE)), 6) END AS z
         FROM cnt""",
    // q334: eight q193-style A/A blocks UNION ALL'd; summary composes
    // from the published z values
    "q334_aa_calibration" -> duckAaCalibration,
    // q335: the q213 sample + list_cosine_similarity spelling; neighbor
    // pick replayed as (c DESC, b DESC) row_number
    "q335_nn_label_agreement" ->
      """WITH s AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = 'a'
         ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled FROM s),
         p AS (
           SELECT a.vec_id AS a, a.label AS la, b.label AS lb,
                  round(list_cosine_similarity(a.v, b.v), 6) AS c, b.vec_id AS b
           FROM s a JOIN s b ON a.vec_id <> b.vec_id
         ), nn AS (
           SELECT a, la, lb FROM (
             SELECT a, la, lb,
                    row_number() OVER (PARTITION BY a ORDER BY c DESC, b DESC) AS rn
             FROM p
           ) WHERE rn = 1
         ), agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_scored,
                  CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           FROM nn WHERE la IS NOT NULL AND lb IS NOT NULL
         )
         SELECT n.n_sampled, agg.n_scored, agg.n_agree,
                round(CAST(agg.n_agree AS DOUBLE) / CAST(agg.n_scored AS DOUBLE), 6) AS agreement
         FROM agg CROSS JOIN n""",
    // q328: the batch lag-gap computation IS the oracle — single-file
    // replay gives exact stream/batch parity
    "q328_stream_gaps" ->
      """WITH b AS (
           SELECT DISTINCT event_type AS key,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS i
           FROM events WHERE event_type IS NOT NULL
         ), kept AS (
           SELECT key, i FROM b WHERE i % 11 <> 3
         ), g AS (
           SELECT key, i,
                  lag(i) OVER (PARTITION BY key ORDER BY i) AS prev
           FROM kept
         )
         SELECT key, CAST(prev + 1 AS BIGINT) AS gap_start,
                CAST(i - 1 AS BIGINT) AS gap_end,
                CAST(i - 1 - prev AS BIGINT) AS missed
         FROM g WHERE prev IS NOT NULL AND i > prev + 1
         ORDER BY key, gap_start""",
    // q321: exact bucket indices, lag gaps per key, one divide
    "q321_coverage" ->
      """WITH b AS (
           SELECT DISTINCT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS i
           FROM events WHERE event_type IS NOT NULL
         ), g AS (
           SELECT event_type, i,
                  i - lag(i) OVER (PARTITION BY event_type ORDER BY i) - 1 AS gap
           FROM b
         )
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_observed,
                CAST(min(i) * 86400 AS BIGINT) AS t_min,
                CAST(max(i) * 86400 AS BIGINT) AS t_max,
                CAST(max(i) - min(i) + 1 AS BIGINT) AS n_expected,
                CAST(max(i) - min(i) + 1 - count(*) AS BIGINT) AS n_missing,
                CAST(greatest(COALESCE(max(gap), 0), 0) AS BIGINT) AS longest_gap,
                round(CAST(count(*) AS DOUBLE)
                      / CAST(max(i) - min(i) + 1 AS DOUBLE), 6) AS coverage
         FROM g GROUP BY 1 ORDER BY 1""",
    // q322: same tokenizer, exact Yule's K = 10⁴(Σc²−N)/N² in HUGEINT
    "q322_lexical_richness" ->
      """WITH sw AS (
           SELECT source,
                  unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents WHERE source IS NOT NULL
         ), cnts AS (
           SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM sw GROUP BY 1, 2
         ), per AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_types,
                  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                  sum(CAST(c AS HUGEINT) * c) AS s2
           FROM cnts GROUP BY 1
         )
         SELECT source, n_tokens, n_types, n_hapax,
                round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
                round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_ratio,
                round(CAST(10000 * (s2 - CAST(n_tokens AS HUGEINT)) AS DOUBLE)
                      / CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE), 6) AS yule_k
         FROM per ORDER BY source""",
    // q305: the q203 KM chain verbatim, then rectangle areas — published
    // 6dp survival × exact widths in DECIMAL(38,6), leading all-alive
    // segment ends at the first event time clamped to τ
    "q305_rmst" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev
           FROM pu
         ), tot AS (SELECT count(*) AS n FROM subj),
         byt AS (
           SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS nc
           FROM subj GROUP BY 1
         ), c1 AS (
           SELECT t, ne, nc,
                  sum(ne + nc) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gone
           FROM byt
         ), c2 AS (
           SELECT c1.t, c1.ne, c1.nc,
                  CAST(tot.n - c1.gone + c1.ne + c1.nc AS BIGINT) AS nr
           FROM c1 CROSS JOIN tot
         ), c3 AS (
           SELECT *, CASE WHEN ne = nr THEN 1 ELSE 0 END AS z,
                  CASE WHEN ne = nr THEN 0.0
                       ELSE round(ln(1.0 - CAST(ne AS DOUBLE) / CAST(nr AS DOUBLE)), 12) END AS term
           FROM c2
         ), c4 AS (
           SELECT *,
                  sum(CAST(term AS DECIMAL(24,12))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
                  max(z) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS az
           FROM c3
         ), km AS (
           SELECT t, ne,
                  CASE WHEN az = 1 THEN 0.0
                       ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival
           FROM c4 WHERE ne > 0
         ), seg AS (
           SELECT t, ne, survival,
                  least(COALESCE(lead(t) OVER (ORDER BY t), 7776000), 7776000) AS e
           FROM km WHERE t < 7776000
         ), a AS (
           SELECT COALESCE(sum(CAST(CAST(survival AS DECIMAL(24,6))
                    * CAST(e - t AS DECIMAL(38,0)) AS DECIMAL(38,6))),
                  CAST(0 AS DECIMAL(38,6))) AS tail,
                  COALESCE(CAST(sum(ne) AS BIGINT), 0) AS nev,
                  COALESCE(min(t), 7776000) AS t1
           FROM seg
         )
         SELECT CAST(7776000 AS BIGINT) AS tau,
                (SELECT CAST(n AS BIGINT) FROM tot) AS n,
                nev AS n_events,
                round(CAST(CAST(t1 AS DECIMAL(38,6)) + tail AS DOUBLE), 6) AS rmst
         FROM a""",
    // q306: identical 13-hex md5 fraction, but the arm cut is the EXACT
    // integer compare h·W < cum·2^52 (no float boundary); cleared-form
    // χ² terms, 12dp, decimal-summed
    "q306_srm" ->
      """WITH armed AS (
           SELECT CASE WHEN CAST(('0x' || substr(md5('graft-srm-r12:' || CAST(c_custkey AS VARCHAR)), 1, 13)) AS UBIGINT) * 4
                            < CAST(4503599627370496 AS UBIGINT)
                       THEN 'control' ELSE 'treat' END AS arm
           FROM customer
         ), declared AS (
           SELECT 'control' AS arm, CAST(1 AS BIGINT) AS weight
           UNION ALL SELECT 'treat', CAST(3 AS BIGINT)
         ), counts AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n_obs FROM armed GROUP BY 1
         ), per AS (
           SELECT d.arm, d.weight, COALESCE(c.n_obs, 0) AS n_obs
           FROM declared d LEFT JOIN counts c ON c.arm = d.arm
         ), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM per),
         scored AS (
           SELECT p.arm, p.weight, p.n_obs,
                  round(CAST(CAST(t.n AS HUGEINT) * p.weight AS DOUBLE) / 4.0, 6) AS expected,
                  CASE WHEN t.n > 0 THEN round(
                    CAST((CAST(p.n_obs AS HUGEINT) * 4 - CAST(t.n AS HUGEINT) * p.weight)
                       * (CAST(p.n_obs AS HUGEINT) * 4 - CAST(t.n AS HUGEINT) * p.weight) AS DOUBLE)
                    / CAST(4 * CAST(t.n AS HUGEINT) * p.weight AS DOUBLE), 12) END AS term
           FROM per p CROSS JOIN tot t
         ), cc AS (
           SELECT round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2
           FROM scored
         )
         SELECT s.arm, s.weight, s.n_obs, s.expected, s.term, c.chi2,
                CAST(1 AS INTEGER) AS df
         FROM scored s CROSS JOIN cc c ORDER BY arm""",
    // q307: Laplace-smoothed WoE — ln of ONE exact-product ratio, 12dp;
    // IV terms multiply the cleared dp−dn divide by the PUBLISHED woe
    "q307_woe_iv" ->
      """WITH s AS (
           SELECT c_mktsegment AS category,
                  CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS y
           FROM customer WHERE c_mktsegment IS NOT NULL
         ), per AS (
           SELECT category, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS n_pos
           FROM s GROUP BY 1
         ), per2 AS (
           SELECT category, n, n_pos, n - n_pos AS n_neg FROM per
         ), kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM per2),
         tot AS (
           SELECT CAST(sum(n_pos) AS BIGINT) AS p,
                  CAST(sum(n_neg) AS BIGINT) AS nn
           FROM per2
         ), scored AS (
           SELECT per2.category, per2.n, per2.n_pos, per2.n_neg,
                  round(ln(CAST((CAST(per2.n_pos AS HUGEINT) + 1) * (t.nn + k.k) AS DOUBLE)
                           / CAST((CAST(per2.n_neg AS HUGEINT) + 1) * (t.p + k.k) AS DOUBLE)), 12) AS woe,
                  round(CAST((CAST(per2.n_pos AS HUGEINT) + 1) * (t.nn + k.k)
                             - (CAST(per2.n_neg AS HUGEINT) + 1) * (t.p + k.k) AS DOUBLE)
                        / CAST(CAST(t.p + k.k AS HUGEINT) * (t.nn + k.k) AS DOUBLE)
                        * round(ln(CAST((CAST(per2.n_pos AS HUGEINT) + 1) * (t.nn + k.k) AS DOUBLE)
                                   / CAST((CAST(per2.n_neg AS HUGEINT) + 1) * (t.p + k.k) AS DOUBLE)), 12),
                        12) AS iv_term
           FROM per2 CROSS JOIN tot t CROSS JOIN kk k
         ), iv AS (
           SELECT round(CAST(sum(CAST(iv_term AS DECIMAL(38,12))) AS DOUBLE), 6) AS iv
           FROM scored
         )
         SELECT s2.category, s2.n, s2.n_pos, s2.n_neg, s2.woe, s2.iv_term, i.iv
         FROM scored s2 CROSS JOIN iv i ORDER BY category""",
    // q308: same distinct-value prefix sums as windows over the bounded
    // value relation; rank-weighted sum in HUGEINT, boundary rows split
    // the k-th-largest tie run exactly
    "q308_concentration" ->
      """WITH pc AS (
           SELECT o_custkey,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
           FROM orders GROUP BY 1
         ), pv AS (
           SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM pc GROUP BY 1
         ), pre AS (
           SELECT v, cnt, v * cnt AS uv,
                  COALESCE(CAST(sum(cnt) OVER w AS BIGINT), 0) AS cb,
                  COALESCE(CAST(sum(v * cnt) OVER w AS BIGINT), 0) AS ub
           FROM pv
           WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ), tot AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(uv) AS BIGINT) AS t,
                  sum(CAST(v AS HUGEINT) * (CAST(cnt AS HUGEINT) * cb
                      + CAST(cnt AS HUGEINT) * (cnt + 1) // 2)) AS s1
           FROM pre
         ), top10 AS (
           SELECT round(CAST((t.t - p.ub - p.uv)
                        + ((t.n + 9) // 10 - (t.n - p.cb - p.cnt)) * p.v AS DOUBLE)
                  / CAST(t.t AS DOUBLE), 6) AS top10_share
           FROM pre p CROSS JOIN tot t
           WHERE t.n - p.cb - p.cnt < (t.n + 9) // 10
             AND (t.n + 9) // 10 <= t.n - p.cb
         ), top1 AS (
           SELECT round(CAST((t.t - p.ub - p.uv)
                        + ((t.n + 99) // 100 - (t.n - p.cb - p.cnt)) * p.v AS DOUBLE)
                  / CAST(t.t AS DOUBLE), 6) AS top1_share
           FROM pre p CROSS JOIN tot t
           WHERE t.n - p.cb - p.cnt < (t.n + 99) // 100
             AND (t.n + 99) // 100 <= t.n - p.cb
         )
         SELECT t.n AS n, t.t AS total_units,
                CASE WHEN t.t > 0 THEN
                  round(CAST(2 * t.s1 - (CAST(t.n AS HUGEINT) + 1) * t.t AS DOUBLE)
                        / CAST(CAST(t.n AS HUGEINT) * t.t AS DOUBLE), 6) END AS gini,
                top10.top10_share, top1.top1_share
         FROM tot t CROSS JOIN top10 CROSS JOIN top1""",
    // q304: identical window/divide spellings — trend one rational
    // divide over complete RANGE windows, seasonal sums the exactly-6dp
    // detrended terms in DECIMAL(38,6) (scale-6 numerator stays < 2^53
    // in millionths, so the double cast is exact in both engines),
    // resid is an exact decimal subtraction of the published parts
    "q304_stl_decompose" ->
      """WITH d AS (
           SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS t,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS units
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2
         ), w AS (
           SELECT event_type, t, units, (t // 86400) % 7 AS s,
                  CAST(count(*) OVER win AS BIGINT) AS mn,
                  CAST(sum(units) OVER win AS BIGINT) AS msum
           FROM d
           WINDOW win AS (PARTITION BY event_type ORDER BY t
             RANGE BETWEEN 259200 PRECEDING AND 259200 FOLLOWING)
         ), det AS (
           SELECT event_type, t, units, s,
                  CASE WHEN mn = 7 THEN
                    round(CAST(msum AS DOUBLE) / CAST(mn AS DOUBLE), 6) END AS trend,
                  CASE WHEN mn = 7 THEN
                    CAST(units AS DECIMAL(38,6))
                      - CAST(round(CAST(msum AS DOUBLE) / CAST(mn AS DOUBLE), 6)
                             AS DECIMAL(38,6))
                  END AS det
           FROM w
         ), seas AS (
           SELECT event_type, s,
                  round(CAST(sum(det) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS seasonal
           FROM det WHERE det IS NOT NULL GROUP BY 1, 2
         )
         SELECT d2.event_type AS event_type, d2.t AS t, d2.units AS units,
                d2.s AS s, d2.trend AS trend,
                CASE WHEN d2.trend IS NOT NULL THEN se.seasonal END AS seasonal,
                CASE WHEN d2.trend IS NOT NULL THEN
                  CAST(CAST(d2.units AS DECIMAL(38,6))
                    - CAST(d2.trend AS DECIMAL(38,6))
                    - CAST(se.seasonal AS DECIMAL(38,6)) AS DOUBLE)
                END AS resid
         FROM det d2 LEFT JOIN seas se
           ON se.event_type = d2.event_type AND se.s = d2.s
         ORDER BY event_type, t""",
    // q303: multi-source recursive walk tagged by landmark; UNION dedups
    // (lm, node, d) states, min picks the hop distance, identical md5
    // landmark ranking and 12dp 1/d decimal sums
    "q303_landmark_closeness" ->
      """WITH RECURSIVE bi AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         ), pr AS (
           SELECT x.i AS pa, y.i AS pb, count(*) AS support
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 400
         ), e AS (
           SELECT pa AS src, pb AS dst FROM pr
           UNION ALL SELECT pb, pa FROM pr
         ), nodes AS (
           -- explicit DISTINCT: under WITH RECURSIVE DuckDB does not
           -- dedup a plain UNION in a non-recursive CTE
           SELECT DISTINCT node FROM (
             SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
         ), lm AS (
           SELECT node FROM nodes ORDER BY md5(node), node LIMIT 4
         ), walk(lm, node, d) AS (
           SELECT node, node, 0 FROM lm
           UNION
           SELECT w.lm, e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
           WHERE w.d < 6
         ), dmin AS (
           SELECT lm, node, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1, 2
         )
         SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
                CAST(sum(d) AS BIGINT) AS sum_dist,
                round(CAST(COALESCE(sum(CASE WHEN d > 0 THEN
                  CAST(round(1.0 / d, 12) AS DECIMAL(38,12)) END),
                  0) AS DOUBLE), 6) AS harmonic
         FROM dmin GROUP BY 1 ORDER BY node""",
    // q302: pair formulation of the same definition — last/first by
    // (t, tie) rank inside the window, linear terms round(cnt/m, 12)
    // decimal-summed per (conversion, channel), NOT-EXISTS direct count
    "q302_attribution" ->
      """WITH ev AS (
           SELECT user_id AS u, event_type AS c,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS tie
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
         ), conv AS (SELECT u, t, tie FROM ev WHERE c = 'purchase'),
         touch AS (SELECT u, c, t, tie FROM ev WHERE c <> 'purchase'),
         pairs AS MATERIALIZED (
           SELECT cv.u, cv.t AS ct, cv.tie AS ctie, tc.c, tc.t, tc.tie
           FROM conv cv JOIN touch tc ON tc.u = cv.u
             AND tc.t >= cv.t - 604800 AND tc.t <= cv.t - 1
         ), ranked AS (
           SELECT u, ct, ctie, c,
                  row_number() OVER (PARTITION BY u, ct, ctie
                                     ORDER BY t DESC, tie DESC) AS rl,
                  row_number() OVER (PARTITION BY u, ct, ctie
                                     ORDER BY t ASC, tie ASC) AS rf
           FROM pairs
         ), pc AS (
           SELECT u, ct, ctie, c, CAST(count(*) AS BIGINT) AS cnt
           FROM pairs GROUP BY 1, 2, 3, 4
         ), pm AS (
           SELECT u, ct, ctie, c, cnt,
                  CAST(sum(cnt) OVER (PARTITION BY u, ct, ctie) AS BIGINT) AS m
           FROM pc
         ), ltft AS (
           SELECT c AS channel,
                  CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lt,
                  CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ft
           FROM ranked GROUP BY 1
         ), lin AS (
           SELECT c AS channel,
                  round(CAST(sum(CAST(round(CAST(cnt AS DOUBLE)
                    / CAST(m AS DOUBLE), 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS linear
           FROM pm GROUP BY 1
         ), chans AS (SELECT DISTINCT c AS channel FROM ev WHERE c <> 'purchase'),
         direct AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM conv cv
           WHERE NOT EXISTS (SELECT 1 FROM pairs p
             WHERE p.u = cv.u AND p.ct = cv.t AND p.ctie = cv.tie)
         )
         SELECT ch.channel AS channel, COALESCE(lf.lt, 0) AS last_touch,
                COALESCE(lf.ft, 0) AS first_touch,
                COALESCE(li.linear, 0.0) AS linear
         FROM chans ch LEFT JOIN ltft lf ON lf.channel = ch.channel
         LEFT JOIN lin li ON li.channel = ch.channel
         UNION ALL
         SELECT '(direct)', d.n, d.n, round(CAST(d.n AS DOUBLE), 6) FROM direct d
         ORDER BY channel""",
    // q295: identical q252 bins; exact DECIMAL(19,6)^2 row Brier;
    // REL/RES terms from the PUBLISHED 6dp per-bin means, 12dp-rounded
    // and decimal-summed; brier_binned recomposed from published parts
    "q295_brier_decomp" ->
      """WITH b AS (
           SELECT CAST(round(least(value / 200.0, 1.0), 6) AS DECIMAL(38,6)) AS s,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL
         ), bb AS (
           SELECT CAST(least(greatest(floor(CAST(s AS DOUBLE) * 10), 0.0), 9.0) AS BIGINT) AS bin,
                  s, y
           FROM b
         ), pb AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(s) AS DECIMAL(38,6)) AS ss,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(CAST(CAST(s - y AS DECIMAL(19,6)) * CAST(s - y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS se
           FROM bb GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sy) AS BIGINT) AS n_pos,
                  CAST(sum(se) AS DECIMAL(38,12)) AS se_all
           FROM pb
         ), ob AS (
           SELECT n, n_pos, se_all,
                  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS o_bar
           FROM tot
         ), terms AS (
           SELECT pb.n AS nk,
                  round(CAST(pb.ss AS DOUBLE) / CAST(pb.n AS DOUBLE), 6) AS conf,
                  round(CAST(pb.sy AS DOUBLE) / CAST(pb.n AS DOUBLE), 6) AS obs
           FROM pb
         ), t2 AS (
           SELECT CAST(round(CAST(t.nk AS DOUBLE) * (t.conf - t.obs) * (t.conf - t.obs), 12) AS DECIMAL(38,12)) AS rel_t,
                  CAST(round(CAST(t.nk AS DOUBLE) * (t.obs - ob.o_bar) * (t.obs - ob.o_bar), 12) AS DECIMAL(38,12)) AS res_t
           FROM terms t CROSS JOIN ob
         ), agg AS (
           SELECT round(CAST(sum(t2.rel_t) AS DOUBLE) / CAST(ob.n AS DOUBLE), 6) AS rel,
                  round(CAST(sum(t2.res_t) AS DOUBLE) / CAST(ob.n AS DOUBLE), 6) AS res
           FROM t2 CROSS JOIN ob GROUP BY ob.n
         )
         SELECT ob.n, ob.n_pos,
                round(CAST(ob.se_all AS DOUBLE) / CAST(ob.n AS DOUBLE), 6) AS brier,
                ob.o_bar,
                round(ob.o_bar * (1.0 - ob.o_bar), 6) AS unc,
                agg.rel, agg.res,
                round(agg.rel - agg.res + round(ob.o_bar * (1.0 - ob.o_bar), 6), 6) AS brier_binned
         FROM ob CROSS JOIN agg""",
    // q296: tile = (rows-above * 10) // n over the distinct-score
    // relation (ties land whole), bounded cumulation, HUGEINT lift
    "q296_gains_table" ->
      """WITH b AS (
           SELECT round(least(value / 200.0, 1.0), 6) AS s,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL
         ), pv AS (
           SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
           FROM b GROUP BY 1
         ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p FROM pv),
         pw AS (
           SELECT s, cnt, pos,
                  COALESCE(CAST(sum(cnt) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
           FROM pv
         ), tl AS (
           SELECT least((cb * 10) // (SELECT n FROM tot), 9) AS tile, cnt, pos FROM pw
         ), g AS (
           SELECT tile, CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos
           FROM tl GROUP BY 1
         ), c AS (
           SELECT tile, n, pos,
                  CAST(sum(n) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
                  CAST(sum(pos) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
           FROM g
         )
         SELECT tile, n, pos, cum_n, cum_pos,
                CASE WHEN (SELECT p FROM tot) > 0 THEN
                  round(CAST(cum_pos AS DOUBLE) / CAST((SELECT p FROM tot) AS DOUBLE), 6)
                END AS capture,
                CASE WHEN (SELECT p FROM tot) > 0 AND cum_n > 0 THEN
                  round(CAST(CAST(cum_pos AS HUGEINT) * (SELECT n FROM tot) AS DOUBLE)
                        / CAST(CAST(cum_n AS HUGEINT) * (SELECT p FROM tot) AS DOUBLE), 6)
                END AS lift
         FROM c ORDER BY tile""",
    // q297: confusion counts from ascending prefix sums; both argmaxes
    // compare exact integers with smallest-threshold tie-break
    "q297_best_threshold" ->
      """WITH b AS (
           SELECT round(least(value / 200.0, 1.0), 6) AS s,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL
         ), pv AS (
           SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
           FROM b GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p,
                  CAST(sum(cnt) - sum(pos) AS BIGINT) AS negt
           FROM pv
         ), pw AS (
           SELECT s,
                  COALESCE(CAST(sum(pos) OVER (ORDER BY s ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pos_below,
                  COALESCE(CAST(sum(cnt - pos) OVER (ORDER BY s ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_below
           FROM pv
         ), cand AS (
           SELECT s AS threshold,
                  (SELECT p FROM tot) - pos_below AS tp,
                  (SELECT negt FROM tot) - neg_below AS fp,
                  pos_below AS fn, neg_below AS tn
           FROM pw
         ), scored AS (
           SELECT threshold, tp, fp, fn, tn,
                  tp * (SELECT negt FROM tot) - fp * (SELECT p FROM tot) AS j_num,
                  fp * 1 + fn * 5 AS cost
           FROM cand
         )
         SELECT criterion, threshold, tp, fp, fn, tn,
                round(CAST(j_num AS DOUBLE)
                      / (CAST((SELECT p FROM tot) AS DOUBLE) * CAST((SELECT negt FROM tot) AS DOUBLE)), 6) AS j,
                CAST(cost AS BIGINT) AS cost
         FROM (
           SELECT 'min_cost' AS criterion, * FROM
             (SELECT * FROM scored ORDER BY cost ASC, threshold ASC LIMIT 1)
           UNION ALL
           SELECT 'youden_j' AS criterion, * FROM
             (SELECT * FROM scored ORDER BY j_num DESC, threshold ASC LIMIT 1)
         ) ORDER BY criterion""",
    // q292: bool_or == the engine's max(when)=1 per-user pair fold;
    // exact integer discordant arithmetic, one divide per statistic
    "q292_mcnemar" ->
      """WITH pairs AS (
           SELECT user_id,
                  bool_or(event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16') AS bf,
                  bool_or(event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16') AS af
           FROM events GROUP BY 1
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN NOT bf AND NOT af THEN 1 ELSE 0 END) AS BIGINT) AS n00,
                  CAST(sum(CASE WHEN NOT bf AND af THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                  CAST(sum(CASE WHEN bf AND NOT af THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                  CAST(sum(CASE WHEN bf AND af THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM pairs
         )
         SELECT n, n00, n01, n10, n11,
                CASE WHEN n01 + n10 > 0 THEN
                  round(CAST((n01 - n10) * (n01 - n10) AS DOUBLE) / (n01 + n10), 6)
                END AS chi2,
                CASE WHEN n01 + n10 > 0 THEN
                  round(CAST(greatest(abs(n01 - n10) - 1, 0)
                        * greatest(abs(n01 - n10) - 1, 0) AS DOUBLE) / (n01 + n10), 6)
                END AS chi2_cc
         FROM m""",
    // q293: identical left-assoc double spelling for e, the variance
    // denominator, and the residual; structural zeros via the margin
    // cross join; whole-margin rows (rt = n or ct = n) NULL out
    "q293_chi2_residuals" ->
      """WITH cells AS (
           SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(count(*) AS BIGINT) AS o
           FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
           GROUP BY 1, 2
         ), rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         fl AS (
           SELECT rt.a, ct.b, COALESCE(cells.o, 0) AS o, rt.rt, ct.ct, nn.n,
                  CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
           FROM rt CROSS JOIN ct CROSS JOIN nn
           LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
         )
         SELECT a, b, o, round(e, 6) AS e,
                CASE WHEN e * (1.0 - CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
                          * (1.0 - CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) > 0 THEN
                  round((CAST(o AS DOUBLE) - e)
                        / sqrt(e * (1.0 - CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
                               * (1.0 - CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))), 6)
                END AS resid
         FROM fl ORDER BY a, b""",
    // q294: per-stratum 2×2 terms 12dp-rounded into DECIMAL(38,12) sums,
    // exact Σa; n < 2 strata excluded via the u flag exactly as the
    // engine does; chi2 recomposes from the unrounded decimal sums
    "q294_mantel_haenszel" ->
      """WITH per AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS g,
                  CAST(sum(CASE WHEN o_custkey % 2 = 0 AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN o_custkey % 2 = 0 AND o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM orders GROUP BY 1
         ), terms AS (
           SELECT CASE WHEN a + b + c + d >= 2 THEN 1 ELSE 0 END AS u,
                  CASE WHEN a + b + c + d >= 2 THEN a ELSE 0 END AS ua,
                  CAST(CASE WHEN a + b + c + d >= 2 THEN
                    round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12)
                  ELSE 0 END AS DECIMAL(38,12)) AS adn,
                  CAST(CASE WHEN a + b + c + d >= 2 THEN
                    round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12)
                  ELSE 0 END AS DECIMAL(38,12)) AS bcn,
                  CAST(CASE WHEN a + b + c + d >= 2 THEN
                    round(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12)
                  ELSE 0 END AS DECIMAL(38,12)) AS e,
                  CAST(CASE WHEN a + b + c + d >= 2 THEN
                    round(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
                          / (CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
                             * (CAST(a + b + c + d AS DOUBLE) - 1.0)), 12)
                  ELSE 0 END AS DECIMAL(38,12)) AS v
           FROM per
         ), agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_strata, CAST(sum(u) AS BIGINT) AS n_used,
                  CAST(sum(ua) AS BIGINT) AS sum_a,
                  CAST(sum(adn) AS DECIMAL(38,12)) AS s_ad,
                  CAST(sum(bcn) AS DECIMAL(38,12)) AS s_bc,
                  CAST(sum(e) AS DECIMAL(38,12)) AS s_e,
                  CAST(sum(v) AS DECIMAL(38,12)) AS s_v
           FROM terms
         )
         SELECT n_strata, n_used, sum_a, round(CAST(s_e AS DOUBLE), 6) AS sum_e,
                CASE WHEN s_bc > 0 THEN round(CAST(s_ad AS DOUBLE) / CAST(s_bc AS DOUBLE), 6) END AS or_mh,
                CASE WHEN s_v > 0 THEN
                  round(greatest(abs(CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE)) - 0.5, 0.0)
                        * greatest(abs(CAST(sum_a AS DOUBLE) - CAST(s_e AS DOUBLE)) - 0.5, 0.0)
                        / CAST(s_v AS DOUBLE), 6)
                END AS chi2_mh
         FROM agg""",
    // q264: identical tokenizer (q117's), identical start-vote count-k
    // phrase test, positions from 0-based generate_subscripts
    // q277: epoch-aligned 7-day windows (Spark's tumbling origin is
    // 1970-01-01 UTC), identical 64-bin clamp, identical HUGEINT
    // transport terms per week vs the corpus reference
    // q286: identical cents cell sums; did recomposed from the rounded
    // means exactly as published
    "q286_diff_in_diff" ->
      """WITH s AS (
           SELECT user_id % 2 = 0 AS tr,
                  ts >= TIMESTAMP '2024-01-16' AS po,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
         ), m AS (
           SELECT
             CAST(sum(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
             CAST(sum(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
             CAST(sum(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
             CAST(sum(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
             CAST(sum(CASE WHEN tr AND po THEN y ELSE 0 END) AS BIGINT) AS s_tp,
             CAST(sum(CASE WHEN tr AND NOT po THEN y ELSE 0 END) AS BIGINT) AS s_t0,
             CAST(sum(CASE WHEN NOT tr AND po THEN y ELSE 0 END) AS BIGINT) AS s_cp,
             CAST(sum(CASE WHEN NOT tr AND NOT po THEN y ELSE 0 END) AS BIGINT) AS s_c0
           FROM s
         ), mm AS (
           SELECT n_tp, n_t0, n_cp, n_c0,
                  CASE WHEN n_tp > 0 THEN round(CAST(s_tp AS DOUBLE) / n_tp, 6) END AS m_treat_post,
                  CASE WHEN n_t0 > 0 THEN round(CAST(s_t0 AS DOUBLE) / n_t0, 6) END AS m_treat_pre,
                  CASE WHEN n_cp > 0 THEN round(CAST(s_cp AS DOUBLE) / n_cp, 6) END AS m_ctrl_post,
                  CASE WHEN n_c0 > 0 THEN round(CAST(s_c0 AS DOUBLE) / n_c0, 6) END AS m_ctrl_pre
           FROM m
         )
         SELECT *, round(m_treat_post - m_treat_pre
                         - (m_ctrl_post - m_ctrl_pre), 6) AS did
         FROM mm""",
    // q285: three tagged instances of the q265 stump oracle in one WITH,
    // unioned and ranked by gain
    "q285_feature_rank" -> ("WITH " + Seq(
      duckStump("price10k",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000000"),
      duckStump("dow",
        "(CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) // 86400 + 4) % 7"),
      duckStump("keymod", "o_orderkey % 50")).mkString(", ") +
      """ SELECT * FROM (
            SELECT * FROM bestprice10k
            UNION ALL SELECT * FROM bestdow
            UNION ALL SELECT * FROM bestkeymod)
          ORDER BY gain DESC, feature ASC"""),
    // q284: the l' formula inlines three times (SQL has no let-binding);
    // trunc-div idiom matches Spark `div` on negative operands too
    "q284_holt_winters" ->
      """WITH RECURSIVE d AS (
           SELECT o_orderpriority AS key,
                  CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
           FROM orders GROUP BY 1, 2
         ), o AS (
           SELECT key, t, x,
                  row_number() OVER (PARTITION BY key ORDER BY t) AS rn,
                  count(*) OVER (PARTITION BY key) AS nk
           FROM d
         ), r AS (
           SELECT key, rn, nk, x AS l,
                  CAST(0 AS BIGINT) AS tr, CAST(0 AS BIGINT) AS sae,
                  [0,0,0,0,0,0,0]::BIGINT[] AS s
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.key, o.rn, o.nk,
                  CAST(trunc((o.x - r.s[CAST(r.rn % 7 AS INT) + 1] + r.l + r.tr) / 2.0) AS BIGINT),
                  CAST(trunc((CAST(trunc((o.x - r.s[CAST(r.rn % 7 AS INT) + 1] + r.l + r.tr) / 2.0) AS BIGINT)
                              - r.l + r.tr) / 2.0) AS BIGINT),
                  r.sae + abs(o.x - (r.l + r.tr + r.s[CAST(r.rn % 7 AS INT) + 1])),
                  list_transform(generate_series(1, 7), j ->
                    CASE WHEN j = CAST(r.rn % 7 AS INT) + 1 THEN
                      CAST(trunc((o.x
                        - CAST(trunc((o.x - r.s[CAST(r.rn % 7 AS INT) + 1] + r.l + r.tr) / 2.0) AS BIGINT)
                        + r.s[CAST(r.rn % 7 AS INT) + 1]) / 2.0) AS BIGINT)
                    ELSE r.s[j] END)
           FROM r JOIN o ON o.key = r.key AND o.rn = r.rn + 1
         )
         SELECT key, CAST(nk AS BIGINT) AS n_buckets, l AS level_units,
                tr AS trend_units, sae AS sae_units,
                l + tr + s[CAST(nk % 7 AS INT) + 1] AS f_1_units,
                l + 7 * tr + s[CAST((nk + 6) % 7 AS INT) + 1] AS f_7_units
         FROM r WHERE rn = nk ORDER BY key""",
    // q283: HUGEINT contingency pair sums, the ARI form multiplied
    // through by C(N,2); "precision" double-quoted (DuckDB keyword)
    "q283_cluster_agreement" ->
      """WITH s AS (
           SELECT c_custkey % 50 AS tr,
                  CASE WHEN c_custkey % 10 = 0 THEN c_custkey % 50 + 50
                       ELSE c_custkey % 50 END AS pr
           FROM customer
         ), cells AS (
           SELECT tr, pr, CAST(count(*) AS BIGINT) AS nij FROM s GROUP BY 1, 2
         ), tp AS (
           SELECT CAST(sum(CAST(nij AS HUGEINT) * (nij - 1) // 2) AS HUGEINT) AS tp,
                  CAST(count(*) AS BIGINT) AS n_cells,
                  CAST(sum(nij) AS BIGINT) AS n
           FROM cells
         ), a2t AS (
           SELECT CAST(sum(CAST(ai AS HUGEINT) * (ai - 1) // 2) AS HUGEINT) AS a2
           FROM (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM cells GROUP BY tr)
         ), b2t AS (
           SELECT CAST(sum(CAST(bi AS HUGEINT) * (bi - 1) // 2) AS HUGEINT) AS b2
           FROM (SELECT CAST(sum(nij) AS BIGINT) AS bi FROM cells GROUP BY pr)
         ), m AS (
           SELECT tp.n, tp.n_cells, tp.tp, a2t.a2, b2t.b2,
                  CAST(tp.n AS HUGEINT) * (tp.n - 1) // 2 AS c
           FROM tp, a2t, b2t
         )
         SELECT n, n_cells, CAST(tp AS BIGINT) AS tp_pairs,
                CAST(a2 AS BIGINT) AS pairs_truth,
                CAST(b2 AS BIGINT) AS pairs_pred,
                CASE WHEN b2 > 0 THEN
                  round(CAST(tp AS DOUBLE) / CAST(b2 AS DOUBLE), 6) END AS "precision",
                CASE WHEN a2 > 0 THEN
                  round(CAST(tp AS DOUBLE) / CAST(a2 AS DOUBLE), 6) END AS recall,
                CASE WHEN a2 + b2 > 0 THEN
                  round(CAST(2 * tp AS DOUBLE) / CAST(a2 + b2 AS DOUBLE), 6) END AS f1,
                CASE WHEN c * (a2 + b2) - 2 * a2 * b2 <> 0 THEN
                  round(CAST(2 * (c * tp - a2 * b2) AS DOUBLE)
                        / CAST(c * (a2 + b2) - 2 * a2 * b2 AS DOUBLE), 6) END AS ari
         FROM m""",
    // q282: exact integer S and tie sum; identical final
    // (s - sgn) / sqrt(var18 / 18.0) spelling
    "q282_mann_kendall" ->
      """WITH d AS (
           SELECT o_orderpriority AS k,
                  CAST(epoch(date_trunc('week', o_orderdate)) / 86400 AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2
         ), sagg AS (
           SELECT a.k, CAST(sum(CASE WHEN b.y > a.y THEN 1
                                     WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
           FROM d a JOIN d b ON b.k = a.k AND b.t > a.t GROUP BY 1
         ), tg AS (
           SELECT k, y, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
         ), ties AS (
           SELECT k, CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tsum
           FROM tg GROUP BY 1
         )
         SELECT ties.k AS o_orderpriority, ties.n, sagg.s,
                CAST(ties.n * (ties.n - 1) * (2 * ties.n + 5) - ties.tsum
                  AS BIGINT) AS var18,
                CASE WHEN ties.n * (ties.n - 1) * (2 * ties.n + 5) - ties.tsum > 0
                     THEN round((CAST(sagg.s AS DOUBLE) - sign(CAST(sagg.s AS DOUBLE)))
                          / sqrt(CAST(ties.n * (ties.n - 1) * (2 * ties.n + 5)
                                      - ties.tsum AS DOUBLE) / 18.0), 6)
                END AS z
         FROM ties JOIN sagg ON sagg.k = ties.k
         ORDER BY o_orderpriority""",
    // q291: the md5 sampling predicate replays with the engine's own
    // cutHex constants (the q122 idiom); rel_err from the ROUNDED est
    "q291_horvitz_thompson" -> {
      val c20 = graft.pipeline.Sampling.cutHex(0.2)
      val c10 = graft.pipeline.Sampling.cutHex(0.1)
      s"""WITH s AS (
           SELECT o_orderpriority AS stratum,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0.2e0 ELSE 0.1e0 END AS rate,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
                  CASE WHEN substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)), 1, 8)
                       < CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN '$c20' ELSE '$c10' END
                       THEN 1 ELSE 0 END AS sel
           FROM orders
         ), agg AS (
           SELECT stratum, rate, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(sel) AS BIGINT) AS n_sampled,
                  CAST(sum(y) AS BIGINT) AS total_units,
                  round(CAST(sum(y * sel) AS DOUBLE) / rate, 6) AS est_units
           FROM s GROUP BY 1, 2
         )
         SELECT stratum, rate, n, n_sampled, total_units, est_units,
                CASE WHEN total_units <> 0 THEN
                  round((est_units - CAST(total_units AS DOUBLE))
                        / CAST(total_units AS DOUBLE), 6) END AS rel_err
         FROM agg ORDER BY stratum"""
    },
    // q290: identical per-stratum cents sums; the weighted numerator
    // replays as DECIMAL(38,6) products of the 6dp-rounded diffs
    "q290_strata_match" ->
      """WITH s AS (
           SELECT CAST(c_nationkey AS VARCHAR) AS g,
                  c_custkey % 2 = 0 AS tr,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM customer
         ), per AS (
           SELECT g,
                  CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                  CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS nc,
                  CAST(sum(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS st,
                  CAST(sum(CASE WHEN tr THEN 0 ELSE y END) AS BIGINT) AS sc
           FROM s GROUP BY 1
         ), u AS (
           SELECT *, CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END AS used,
                  round(round(CAST(st AS DOUBLE) / nt, 6)
                        - round(CAST(sc AS DOUBLE) / nc, 6), 6) AS diff
           FROM per
         )
         SELECT CAST(count(*) AS BIGINT) AS n_strata,
                CAST(sum(used) AS BIGINT) AS n_strata_used,
                CAST(sum(CASE WHEN used = 1 THEN nt ELSE 0 END) AS BIGINT) AS n_treated_used,
                CAST(sum(CASE WHEN used = 1 THEN nc ELSE 0 END) AS BIGINT) AS n_control_used,
                CASE WHEN sum(CASE WHEN used = 1 THEN nt ELSE 0 END) > 0 THEN
                  round(CAST(sum(CASE WHEN used = 1 THEN
                          CAST(nt AS DECIMAL(38,6)) * CAST(diff AS DECIMAL(24,6))
                        ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                        / CAST(sum(CASE WHEN used = 1 THEN nt ELSE 0 END) AS DOUBLE), 6)
                END AS att
         FROM u""",
    // q289: the ln constants interpolate as the IDENTICAL 12dp literals
    // the engine used (both engines parse the same decimal string to
    // the same double); identical two-term LLR spelling
    "q289_sprt" -> {
      val (c1, c0, ub, lb) =
        graft.operators.Experiment.sprtConstants(0.35, 0.40, 0.05, 0.05)
      def f(x: Double) = f"($x%.12f)"
      s"""WITH d AS (
           SELECT CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS t,
                  CAST(count(*) AS BIGINT) AS n0,
                  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS s0
           FROM orders GROUP BY 1
         ), c AS (
           SELECT t,
                  CAST(sum(n0) OVER (ORDER BY t) AS BIGINT) AS n,
                  CAST(sum(s0) OVER (ORDER BY t) AS BIGINT) AS s
           FROM d
         ), l AS (
           SELECT t, n, s,
                  CAST(s AS DOUBLE) * ${f(c1)}
                  + CAST(n - s AS DOUBLE) * ${f(c0)} AS llr
           FROM c
         ), firstx AS (
           SELECT CASE WHEN llr >= ${f(ub)} THEN 'accept_h1'
                       ELSE 'accept_h0' END AS decision,
                  t, n, s, round(llr, 6) AS llr, 0 AS p
           FROM l WHERE llr >= ${f(ub)} OR llr <= ${f(lb)}
           ORDER BY t LIMIT 1
         ), lastx AS (
           SELECT 'continue' AS decision, t, n, s, round(llr, 6) AS llr, 1 AS p
           FROM l ORDER BY t DESC LIMIT 1
         )
         SELECT decision, t, n, s, llr
         FROM (SELECT * FROM firstx UNION ALL SELECT * FROM lastx)
         ORDER BY p LIMIT 1"""
    },
    // q288: integer S via sign products over the same week pairs,
    // HUGEINT-free (bounded series), identical final sqrt spelling
    "q288_kendall_tau" ->
      """WITH d AS (
           SELECT o_orderpriority AS k,
                  CAST(epoch(date_trunc('week', o_orderdate)) / 86400 AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x,
                  CAST(count(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2
         ), sagg AS (
           SELECT a.k,
                  CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)
                         * CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s
           FROM d a JOIN d b ON b.k = a.k AND b.t > a.t GROUP BY 1
         ), nn AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         txx AS (
           SELECT k, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS dx
           FROM (SELECT k, x, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2)
           GROUP BY 1
         ), tyy AS (
           SELECT k, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS dy
           FROM (SELECT k, y, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2)
           GROUP BY 1
         )
         SELECT nn.k AS o_orderpriority, nn.n, sagg.s,
                CAST(nn.n * (nn.n - 1) // 2 AS BIGINT) AS d0,
                txx.dx, tyy.dy,
                CASE WHEN nn.n * (nn.n - 1) // 2 > txx.dx
                      AND nn.n * (nn.n - 1) // 2 > tyy.dy THEN
                  round(CAST(sagg.s AS DOUBLE)
                        / sqrt(CAST(nn.n * (nn.n - 1) // 2 - txx.dx AS DOUBLE)
                             * CAST(nn.n * (nn.n - 1) // 2 - tyy.dy AS DOUBLE)), 6)
                END AS tau_b
         FROM nn JOIN sagg ON sagg.k = nn.k
         JOIN txx ON txx.k = nn.k JOIN tyy ON tyy.k = nn.k
         ORDER BY o_orderpriority""",
    // q287: the streaming chart must equal the batch chart row for row —
    // the oracle IS q281's replay, verbatim
    "q287_stream_ewma" -> duckEwmaChart,
    // q281: recursive-CTE replay of the integer EWMA recursion (trunc
    // div via the q204 idiom); the seed bucket publishes no row
    "q281_ewma_chart" -> duckEwmaChart,
    // q280: the oracle computes the same max-rank inverse-CDF map with
    // HUGEINT ceil-div and DuckDB's native ASOF JOIN for the pooled
    // lookup — a genuinely different lookup mechanism than the engine's
    // union-merge window, same integer definition
    "q280_quantile_norm" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS v
           FROM orders
         ), per AS (
           SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY 1, 2
         ), ng AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g FROM per GROUP BY 1),
         np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
         pro AS (
           SELECT g, v, cnt,
                  CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS r_g
           FROM per
         ), poss AS (
           SELECT pro.g, pro.v, pro.cnt,
                  CAST((CAST(pro.r_g AS HUGEINT) * np.n + ng.n_g - 1) // ng.n_g
                       AS BIGINT) AS pos
           FROM pro JOIN ng ON ng.g = pro.g CROSS JOIN np
         ), pooled AS (
           SELECT v, CAST(sum(cnt) AS BIGINT) AS cp FROM per GROUP BY 1
         ), ref AS (
           SELECT v AS ref_v,
                  CAST(coalesce(sum(cp) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS k
           FROM pooled
         )
         SELECT poss.g, poss.v, poss.cnt, poss.pos, r.ref_v AS q_norm
         FROM poss ASOF JOIN ref r ON poss.pos - 1 >= r.k
         ORDER BY g, v""",
    // q279: three unrolled synchronous LPA rounds (majority-of-neighbors,
    // count-desc/label-asc argmax) over the top-90-by-support brand
    // graph; the tie-broken LIMIT makes the edge set a total-order
    // selection, deterministic at any SF
    "q279_label_prop" -> (duckTop90Graph + duckLabelProp3 +
      """
         SELECT node, label FROM l3 ORDER BY node"""),
    // q278: the oracle replays the additive hazard chain with the same
    // 12dp term rounding + DECIMAL running sum (no transcendentals on
    // either side)
    "q278_nelson_aalen" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'error'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS te
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN te IS NOT NULL THEN te - t0 ELSE tl - t0 END AS t,
                  te IS NOT NULL AS ev
           FROM pu
         ), tot AS (SELECT count(*) AS n FROM subj),
         byt AS (
           SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS nc
           FROM subj GROUP BY 1
         ), c1 AS (
           SELECT t, ne, nc,
                  sum(ne + nc) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gone
           FROM byt
         ), c2 AS (
           SELECT c1.t, c1.ne, c1.nc,
                  CAST(tot.n - c1.gone + c1.ne + c1.nc AS BIGINT) AS nr
           FROM c1 CROSS JOIN tot
         ), c3 AS (
           SELECT *, round(CAST(ne AS DOUBLE) / CAST(nr AS DOUBLE), 12) AS term
           FROM c2
         ), c4 AS (
           SELECT *,
                  sum(CAST(term AS DECIMAL(24,12))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hs
           FROM c3
         )
         SELECT t, nr AS n_risk, ne AS n_event, nc AS n_censored,
                round(CAST(hs AS DOUBLE), 6) AS cumhazard
         FROM c4 WHERE ne > 0 ORDER BY t""",
    "q277_stream_drift" ->
      """WITH e AS (
           SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) * 604800 AS k,
                  least(63, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000) AS bin
           FROM events WHERE value IS NOT NULL
         ), h AS (
           SELECT k, bin, CAST(count(*) AS BIGINT) AS cw FROM e GROUP BY 1, 2
         ), r AS (SELECT bin, CAST(count(*) AS BIGINT) AS cr FROM e GROUP BY 1),
         nrr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM r),
         keys AS (SELECT DISTINCT k FROM h),
         pooled AS (
           SELECT coalesce(h.k, kr.k) AS k, coalesce(h.bin, kr.bin) AS bin,
                  coalesce(h.cw, 0) AS cw, coalesce(kr.cr, 0) AS cr
           FROM h FULL OUTER JOIN
                (SELECT keys.k, r.bin, r.cr FROM keys, r) kr
             ON kr.k = h.k AND kr.bin = h.bin
         ), cum AS (
           SELECT k, bin,
                  CAST(sum(cw) OVER (PARTITION BY k ORDER BY bin) AS BIGINT) AS aw,
                  CAST(sum(cr) OVER (PARTITION BY k ORDER BY bin) AS BIGINT) AS ar,
                  lead(bin) OVER (PARTITION BY k ORDER BY bin) - bin AS gap
           FROM pooled
         ), nk AS (SELECT k, CAST(sum(cw) AS BIGINT) AS nk FROM h GROUP BY 1),
         sumt AS (
           SELECT cum.k, nk.nk, nrr.nr,
                  sum(abs(CAST(aw AS HUGEINT) * nrr.nr
                        - CAST(ar AS HUGEINT) * nk.nk)
                      * CAST(gap AS HUGEINT)) AS s
           FROM cum JOIN nk ON nk.k = cum.k, nrr
           WHERE gap IS NOT NULL GROUP BY 1, 2, 3
         )
         SELECT k AS week_start, nk AS n_key,
                round(CAST(s AS DOUBLE)
                      / CAST(CAST(nk AS HUGEINT) * nr AS DOUBLE) * 1000.0, 6) AS w1
         FROM sumt ORDER BY week_start""",
    // q276: identical pooled distinct values; the oracle is free to use
    // one global cumulative window; HUGEINT transport terms mirror the
    // DECIMAL(38,0) sums; identical final divide
    "q276_wasserstein" ->
      """WITH e AS (
           SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                  (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS w
           FROM events WHERE value IS NOT NULL
         ), t AS (
           SELECT v, CASE WHEN w IN (0, 6) THEN 1 ELSE 0 END AS s1,
                  CASE WHEN w IN (0, 6) THEN 0 ELSE 1 END AS s2
           FROM e
         ), p AS (
           SELECT v, CAST(sum(s1) AS BIGINT) AS c1, CAST(sum(s2) AS BIGINT) AS c2
           FROM t GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(sum(s2) AS BIGINT) AS n2
           FROM t
         ), c AS (
           SELECT v,
                  CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS a1,
                  CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS a2,
                  lead(v) OVER (ORDER BY v) AS vn
           FROM p
         ), s AS (
           SELECT sum(abs(CAST(a1 AS HUGEINT) * tot.n2
                        - CAST(a2 AS HUGEINT) * tot.n1)
                      * CAST(vn - v AS HUGEINT)) AS ts_
           FROM c, tot WHERE vn IS NOT NULL
         )
         SELECT tot.n1 AS n_a, tot.n2 AS n_b,
                (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_values,
                round(CAST(s.ts_ AS DOUBLE)
                      / CAST(CAST(tot.n1 AS HUGEINT) * tot.n2 AS DOUBLE), 6) AS w1
         FROM s, tot""",
    // q274: the oracle computes the MINIMAX characterization
    // max_{j<=i} min_{k>=i} mean(y[j..k]) over prefix sums — provably
    // equal to the PAVA fit, computed nothing like it
    "q274_isotonic" ->
      """WITH s AS (
           SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    // 1000000 AS BIGINT) AS v,
                  CASE WHEN o_orderkey % 100 <
                         20 + (CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                               // 1000000)
                       THEN 1 ELSE 0 END AS y
           FROM orders
         ), g AS (
           SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
           FROM s GROUP BY 1
         ), o AS (
           SELECT v, n, pos, row_number() OVER (ORDER BY v) AS rn,
                  CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cn,
                  CAST(sum(pos) OVER (ORDER BY v) AS BIGINT) AS cp
           FROM g
         ), m AS (
           SELECT i.rn AS i, j.rn AS jr,
                  min(CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
                      / CAST(k.cn - (j.cn - j.n) AS DOUBLE)) AS mn
           FROM o i JOIN o j ON j.rn <= i.rn JOIN o k ON k.rn >= i.rn
           GROUP BY 1, 2
         ), p AS (SELECT i, max(mn) AS fit FROM m GROUP BY 1)
         SELECT o.v, o.n, o.pos, round(p.fit, 6) AS p_iso
         FROM o JOIN p ON p.i = o.rn ORDER BY o.v""",
    // q275: identical per-user rank prefix, identical embedding joins
    // with per-user DISTINCT before the support count
    "q275_seq_patterns" ->
      """WITH e AS (
           SELECT user_id AS u, event_type AS t,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events
           QUALIFY rn <= 12
         ), p2 AS (
           SELECT DISTINCT a.u, a.t AS t1, b.t AS t2
           FROM e a JOIN e b ON b.u = a.u AND a.rn < b.rn
         ), s2 AS (
           SELECT t1 || '->' || t2 AS pattern, 2 AS len,
                  CAST(count(*) AS BIGINT) AS support
           FROM p2 GROUP BY 1, 2
         ), p3 AS (
           SELECT DISTINCT a.u, a.t AS t1, b.t AS t2, c.t AS t3
           FROM e a JOIN e b ON b.u = a.u AND a.rn < b.rn
                    JOIN e c ON c.u = a.u AND b.rn < c.rn
         ), s3 AS (
           SELECT t1 || '->' || t2 || '->' || t3 AS pattern, 3 AS len,
                  CAST(count(*) AS BIGINT) AS support
           FROM p3 GROUP BY 1, 2
         ), uni AS (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
         SELECT pattern, len, support FROM uni
         ORDER BY support DESC, pattern LIMIT 25""",
    // q273: identical modular plane, cell-adjacency candidate join,
    // integer squared distances, q67's recursive min-label components,
    // min-core-neighbor border assignment
    "q273_grid_dbscan" ->
      """WITH RECURSIVE pts AS (
           SELECT c_custkey AS id,
                  CASE WHEN c_custkey % 97 <> 0
                       THEN ((c_custkey % 50) % 10) * 1000 + (c_custkey * 7) % 21
                       ELSE 50000 + c_custkey % 1000 END AS x,
                  CASE WHEN c_custkey % 97 <> 0
                       THEN ((c_custkey % 50) // 10) * 1000 + (c_custkey * 13) % 21
                       ELSE 70000 + c_custkey % 1000 END AS y
           FROM customer
         ), c AS (SELECT id, x, y, x // 5 AS cx, y // 5 AS cy FROM pts),
         nbr AS (
           SELECT a.id AS a, b.id AS b
           FROM c a JOIN c b
             ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
           WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25
         ), cnt AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS n_nbr
                    FROM nbr GROUP BY 1),
         core AS (SELECT id FROM cnt WHERE n_nbr >= 4),
         ce AS (
           SELECT n.a, n.b FROM nbr n
           JOIN core x ON x.id = n.a JOIN core y ON y.id = n.b
           WHERE n.a < n.b
         ), edges AS (
           SELECT a AS src, b AS dst FROM ce UNION SELECT b, a FROM ce
         ), verts AS (SELECT DISTINCT src AS id FROM edges),
         cc(id, comp) AS (
           SELECT id, id FROM verts
           UNION
           SELECT e.dst, c2.comp FROM cc c2 JOIN edges e ON e.src = c2.id
           WHERE c2.comp < e.dst
         ), fin AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         corec AS (
           SELECT core.id, coalesce(fin.comp, core.id) AS component
           FROM core LEFT JOIN fin ON fin.id = core.id
         ), borderc AS (
           SELECT n.a AS id, min(corec.component) AS component
           FROM nbr n JOIN corec ON corec.id = n.b
           WHERE n.a NOT IN (SELECT id FROM core)
           GROUP BY 1
         )
         SELECT cnt.id, cnt.n_nbr,
                CASE WHEN corec.id IS NOT NULL THEN 'core'
                     WHEN borderc.id IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                CAST(coalesce(corec.component, borderc.component, -1) AS BIGINT)
                  AS component
         FROM cnt
         LEFT JOIN corec ON corec.id = cnt.id
         LEFT JOIN borderc ON borderc.id = cnt.id
         ORDER BY cnt.id""",
    // q272: q134's tokenizer CTE; HUGEINT products mirror DECIMAL(38,0),
    // one double divide feeding one ln, rank on the 6dp-rounded score
    "q272_pmi" ->
      """WITH t AS (
           SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
           FROM documents
         ), b AS (
           SELECT ws[g.i] AS w1, ws[g.i+1] AS w2
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g
         ), bc AS (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
           FROM b GROUP BY 1, 2 HAVING count(*) >= 5
         ), tw AS (SELECT unnest(ws) AS w FROM t),
         u AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM tw GROUP BY 1),
         tot AS (
           SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS nbi,
                  (SELECT CAST(sum(cu) AS BIGINT) FROM u) AS nuni
         )
         SELECT bc.w1, bc.w2, bc.c_xy,
                round(ln(CAST(CAST(bc.c_xy AS HUGEINT) * tot.nuni * tot.nuni AS DOUBLE)
                       / CAST(CAST(tot.nbi AS HUGEINT) * u1.cu * u2.cu AS DOUBLE)), 6) AS pmi
         FROM bc JOIN u u1 ON u1.w = bc.w1 JOIN u u2 ON u2.w = bc.w2, tot
         ORDER BY pmi DESC, bc.w1, bc.w2 LIMIT 50""",
    // q270: identical integer-div predictor, identical exact k, q_hat by
    // cumulative count over ordered residuals (ties safe: the last tie
    // row carries cum = below+cnt), one coverage divide
    "q270_conformal" ->
      """WITH b AS (
           SELECT o_orderkey AS k, o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM orders
         ), cal AS (SELECT * FROM b WHERE k % 2 = 0),
         ev AS (SELECT * FROM b WHERE k % 2 = 1),
         pred AS (
           SELECT g, CAST(sum(y) // count(*) AS BIGINT) AS p FROM cal GROUP BY 1
         ), cs AS (SELECT abs(y - p) AS v FROM cal JOIN pred USING (g)),
         kk AS (
           SELECT CAST(count(*) AS BIGINT) AS n_cal,
                  CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k
           FROM cs
         ), q AS (
           SELECT min(v) AS q_hat
           FROM (SELECT v, CAST(count(*) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum FROM cs) x, kk
           WHERE x.cum >= kk.k
         ), es AS (SELECT abs(y - p) AS v FROM ev JOIN pred USING (g)),
         cov AS (
           SELECT CAST(count(*) AS BIGINT) AS n_eval,
                  CAST(sum(CASE WHEN es.v <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_covered
           FROM es, q
         )
         SELECT kk.n_cal, kk.k, q.q_hat, cov.n_eval, cov.n_covered,
                round(CAST(cov.n_covered AS DOUBLE)
                      / CAST(cov.n_eval AS DOUBLE), 6) AS coverage
         FROM kk, q, cov""",
    // q271: identical 52-bit md5 fractions vs the identical frozen
    // 12dp Poisson CDF literals, exact integer replica sums, identical
    // 6dp replica means, order-statistic CI at ranks 2/31
    "q271_bootstrap" ->
      """WITH b AS (
           SELECT CAST(o_orderkey AS VARCHAR) AS id,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
           FROM orders WHERE o_totalprice IS NOT NULL
         ), r AS (
           SELECT id, x, bb FROM b
           CROSS JOIN (SELECT unnest(range(0, 32)) AS bb)
         ), u AS (
           SELECT bb, x,
                  CAST(CAST(('0x' || substr(md5('boot:' || id || ':' ||
                    CAST(bb AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                    / 4503599627370496.0 AS uu
           FROM r
         ), w AS (
           SELECT bb, x,
                  CASE WHEN uu < 0.367879441171 THEN 0
                       WHEN uu < 0.735758882343 THEN 1
                       WHEN uu < 0.919698602929 THEN 2
                       WHEN uu < 0.981011843124 THEN 3
                       WHEN uu < 0.996340153173 THEN 4
                       WHEN uu < 0.999405815182 THEN 5
                       WHEN uu < 0.999916758851 THEN 6
                       ELSE 7 END AS w
           FROM u
         ), m AS (
           SELECT bb, CAST(sum(w) AS BIGINT) AS sw,
                  CAST(sum(CAST(w AS BIGINT) * x) AS BIGINT) AS swx
           FROM w GROUP BY 1
         ), o AS (
           SELECT round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS mean_b,
                  row_number() OVER (ORDER BY
                    round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6)) AS rn
           FROM m
         ), t AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  round(CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS mean
           FROM b
         )
         SELECT t.n, 32 AS b_reps, t.mean, lo.mean_b AS ci_lo, hi.mean_b AS ci_hi
         FROM t, (SELECT mean_b FROM o WHERE rn = 2) lo,
                 (SELECT mean_b FROM o WHERE rn = 31) hi""",
    // q268: DuckDB's exact median over the identical RANGE frame — odd
    // (=7) windows make it the exact middle element, CAST back to BIGINT
    "q268_rolling_median" ->
      """WITH d AS (
           SELECT event_type,
                  CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS t,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS units
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2
         ), w AS (
           SELECT event_type, t, units,
                  CAST(count(*) OVER win AS BIGINT) AS mn,
                  CAST(median(units) OVER win AS BIGINT) AS med_units
           FROM d
           WINDOW win AS (PARTITION BY event_type ORDER BY t
             RANGE BETWEEN 259200 PRECEDING AND 259200 FOLLOWING)
         )
         SELECT event_type, t, units, med_units
         FROM w WHERE mn = 7 ORDER BY event_type, t""",
    // q269: triangle counts from the q177 wedge CTE + endpoint degree
    // counts; identical single double divide of 2T / deg(deg-1)
    "q269_clustering_coeff" -> (duckBrandGraph +
      """, w AS (
           SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
           FROM pr e1 JOIN pr e2 ON e2.pa = e1.pb
         ), t AS (
           SELECT w.x, w.y, w.z FROM w JOIN pr e3 ON e3.pa = w.x AND e3.pb = w.z
         ), u AS (SELECT unnest([x, y, z]) AS node FROM t
         ), tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                    FROM u GROUP BY 1
         ), dg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS degree
           FROM (SELECT pa AS node FROM pr UNION ALL SELECT pb FROM pr)
           GROUP BY 1
         )
         SELECT dg.node, dg.degree,
                coalesce(tri.n_triangles, 0) AS n_triangles,
                round(CAST(2 * coalesce(tri.n_triangles, 0) AS DOUBLE)
                      / CAST(dg.degree * (dg.degree - 1) AS DOUBLE), 6) AS cc
         FROM dg LEFT JOIN tri ON tri.node = dg.node
         WHERE dg.degree >= 2 ORDER BY dg.node"""),
    // q266: identical distinct-value prefix sums, identical single
    // double divide of the 2·below+cnt+1 mid-rank numerator
    "q266_percentile_rank" ->
      """WITH s AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders WHERE o_totalprice IS NOT NULL
         ), p AS (
           SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY 1
         ), w AS (
           SELECT v, cnt,
                  CAST(coalesce(sum(cnt) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS n_below
           FROM p
         ), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
         SELECT v, cnt, n_below,
                round(CAST(2 * n_below + cnt + 1 AS DOUBLE)
                      / CAST(2 * t.n AS DOUBLE), 6) AS pct
         FROM w, t ORDER BY v""",
    // q267: identical md5 total order per stratum, identical integer
    // half-up rational k = (n*1 + 5) // 10
    "q267_stratified_split" ->
      """WITH c AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_stratum,
                  CAST((count(*) * 1 + 5) // 10 AS BIGINT) AS k_test
           FROM documents GROUP BY 1
         ), r AS (
           SELECT d.source, doc_id,
                  CAST(row_number() OVER (PARTITION BY d.source
                    ORDER BY md5(concat('split:', CAST(doc_id AS VARCHAR))),
                             doc_id) AS BIGINT) AS rnk
           FROM documents d
         )
         SELECT r.source, r.rnk, r.doc_id
         FROM r JOIN c ON c.source = r.source
         WHERE r.rnk <= c.k_test
         ORDER BY r.source, r.rnk""",
    "q264_phrase_search" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
           FROM documents
         ), p AS (
           SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) - 1 AS pos
           FROM tok
         ), q AS (
           SELECT * FROM (VALUES ('table', 0), ('part', 1)) AS t(w, qi)
         ), m AS (
           SELECT p.doc_id, CAST(p.pos - q.qi AS BIGINT) AS st
           FROM p JOIN q ON q.w = p.w WHERE p.pos - q.qi >= 0
         ), s AS (
           SELECT doc_id, st FROM m GROUP BY doc_id, st HAVING count(*) = 2
         )
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                CAST(min(st) AS BIGINT) AS first_pos
         FROM s GROUP BY doc_id ORDER BY doc_id""",
    // q265: identical prefix-sum candidates, identical exact-rational
    // cost (HUGEINT num/den, one divide), argmin with earliest-v tiebreak
    "q265_decision_stump" ->
      """WITH s AS (
           SELECT CAST(value AS DOUBLE) AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL
         ), pv AS (
           SELECT v, CAST(count(*) AS BIGINT) AS ct, CAST(sum(y) AS BIGINT) AS cp
           FROM s GROUP BY 1
         ), c AS (
           SELECT v,
                  CAST(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
                  CAST(sum(cp) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
           FROM pv
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p FROM s
         ), cand AS (
           SELECT c.v, c.nl, c.pl, tot.n - c.nl AS nr, tot.p - c.pl AS pr,
                  tot.n, tot.p,
                  round(CAST(2 * (CAST(c.pl AS HUGEINT) * (c.nl - c.pl) * (tot.n - c.nl)
                            + CAST(tot.p - c.pl AS HUGEINT)
                              * ((tot.n - c.nl) - (tot.p - c.pl)) * c.nl) AS DOUBLE)
                      / CAST(CAST(tot.n AS HUGEINT) * c.nl * (tot.n - c.nl) AS DOUBLE), 6) AS cost
           FROM c, tot WHERE c.nl < tot.n
         ), best AS (
           SELECT * FROM cand ORDER BY cost ASC, v ASC LIMIT 1
         )
         SELECT n, p AS n_pos, v AS threshold, nl AS n_left, pl AS pos_left,
                nr AS n_right, pr AS pos_right,
                round(CAST(2 * CAST(p AS HUGEINT) * (n - p) AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) AS gini_parent,
                cost AS gini_split,
                round(round(CAST(2 * CAST(p AS HUGEINT) * (n - p) AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) - cost, 6) AS gain
         FROM best""",
    // q263: identical cents sums; enc replayed as the cleared-denominator
    // rational (s·N + m·S)/(N·(c+m)) in HUGEINT with one divide
    "q263_target_encode" ->
      """WITH s AS (
           SELECT c_mktsegment AS category,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS u
           FROM customer WHERE c_mktsegment IS NOT NULL
         ), per AS (
           SELECT category, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(u) AS BIGINT) AS sum_units
           FROM s GROUP BY 1
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(u) AS BIGINT) AS ss FROM s
         )
         SELECT category, n, sum_units,
                round(CAST(sum_units AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_mean,
                round(CAST(CAST(sum_units AS HUGEINT) * nn + 20 * CAST(ss AS HUGEINT) AS DOUBLE)
                      / CAST(CAST(nn AS HUGEINT) * (n + 20) AS DOUBLE), 6) AS enc
         FROM per, tot ORDER BY category""",
    // q262: identical daily cents series, identical 12dp gain double
    // expression, argmax with earliest-split tie-break
    "q262_changepoint" ->
      """WITH d AS (
           SELECT o_orderpriority AS k,
                  CAST(epoch(date_trunc('day', o_orderdate)) / 86400 AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
           FROM orders GROUP BY 1, 2
         ), p AS (
           SELECT k, t, v,
                  CAST(row_number() OVER (PARTITION BY k ORDER BY t) AS BIGINT) AS i,
                  CAST(sum(v) OVER (PARTITION BY k ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
           FROM d
         ), tot AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sn
           FROM d GROUP BY 1
         ), c AS (
           SELECT p.k, p.t, p.i, tot.n, p.s, tot.sn,
                  round(CAST(CAST(p.s AS HUGEINT) * p.s * (tot.n - p.i) * tot.n
                           + CAST(tot.sn - p.s AS HUGEINT) * (tot.sn - p.s) * p.i * tot.n
                           - CAST(tot.sn AS HUGEINT) * tot.sn * p.i * (tot.n - p.i) AS DOUBLE)
                      / CAST(CAST(p.i AS HUGEINT) * (tot.n - p.i) * tot.n AS DOUBLE), 6) AS gain
           FROM p JOIN tot ON tot.k = p.k WHERE p.i < tot.n
         ), r AS (
           SELECT c.*, row_number() OVER (PARTITION BY k ORDER BY gain DESC, t ASC) AS rn
           FROM c
         )
         SELECT k AS o_orderpriority, n AS n_buckets, t AS cp_t, i AS n_left,
                round(CAST(s AS DOUBLE) / CAST(i AS DOUBLE), 6) AS mean_left,
                round(CAST(sn - s AS DOUBLE) / CAST(n - i AS DOUBLE), 6) AS mean_right,
                gain
         FROM r WHERE rn = 1 ORDER BY o_orderpriority""",
    // q261: identical symmetrized wedge join, 12dp 1/ln(deg) terms
    // decimal-summed, anti-join on canonical edges, exact-decimal order
    "q261_adamic_adar" -> (duckBrandGraph +
      """, sym AS (SELECT pa AS src, pb AS dst FROM pr
                   UNION SELECT pb, pa FROM pr
         ), deg AS (
           SELECT src AS z, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1
         ), wd AS (
           SELECT a.src AS z, a.dst AS ua, b.dst AS wa
           FROM sym a JOIN sym b ON b.src = a.src AND a.dst < b.dst
         ), sc AS (
           SELECT ua, wa, CAST(count(*) AS BIGINT) AS n_common,
                  sum(CAST(round(1.0 / ln(CAST(deg.deg AS DOUBLE)), 12)
                      AS DECIMAL(24,12))) AS s
           FROM wd JOIN deg ON deg.z = wd.z
           GROUP BY 1, 2
         ), f AS (
           SELECT sc.* FROM sc
           LEFT JOIN pr ON pr.pa = sc.ua AND pr.pb = sc.wa
           WHERE pr.pa IS NULL
         )
         SELECT ua AS node_a, wa AS node_b, n_common,
                round(CAST(s AS DOUBLE), 6) AS score
         FROM f ORDER BY s DESC, ua, wa LIMIT 50"""),
    // q260: identical half-unit rank identity per distinct value, HUGEINT
    // exact moments, identical final ratio with separate sqrts
    "q260_spearman" ->
      """WITH s AS (
           SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         ), px AS (
           SELECT x, CAST(count(*) AS BIGINT) AS t FROM s GROUP BY 1
         ), rx AS (
           SELECT x, 2 * COALESCE(CAST(sum(t) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                  + t + 1 AS ax
           FROM px
         ), py AS (
           SELECT y, CAST(count(*) AS BIGINT) AS t FROM s GROUP BY 1
         ), ry AS (
           SELECT y, 2 * COALESCE(CAST(sum(t) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                  + t + 1 AS ay
           FROM py
         ), j AS (
           SELECT rx.ax, ry.ay FROM s
           JOIN rx ON rx.x = s.x JOIN ry ON ry.y = s.y
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(ax AS HUGEINT) * CAST(ay AS HUGEINT)) AS sxy,
                  sum(CAST(ax AS HUGEINT) * CAST(ax AS HUGEINT)) AS sx2,
                  sum(CAST(ay AS HUGEINT) * CAST(ay AS HUGEINT)) AS sy2
           FROM j
         )
         SELECT n,
                CASE WHEN CAST(sx2 - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS DOUBLE) > 0
                      AND CAST(sy2 - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS DOUBLE) > 0
                THEN round(CAST(sxy - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS DOUBLE)
                     / (sqrt(CAST(sx2 - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS DOUBLE))
                      * sqrt(CAST(sy2 - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS DOUBLE))), 6)
                END AS rho
         FROM m""",
    // q259: identical epoch-day weekend split, identical rational p/q/m,
    // ½(p·ln(p/m)+q·ln(q/m)) terms 12dp-rounded and decimal-summed;
    // bits/dist composed from the published 6dp jsd
    "q259_jsd" ->
      """WITH e AS (
           SELECT event_type AS v,
                  (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS w
           FROM events WHERE event_type IS NOT NULL
         ), a AS (
           SELECT v, CAST(count(*) AS BIGINT) AS ca FROM e WHERE w IN (0, 6) GROUP BY 1
         ), b AS (
           SELECT v, CAST(count(*) AS BIGINT) AS cb FROM e WHERE w NOT IN (0, 6) GROUP BY 1
         ), nn AS (
           SELECT CAST(sum(CASE WHEN w IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(sum(CASE WHEN w IN (0, 6) THEN 0 ELSE 1 END) AS BIGINT) AS nb
           FROM e
         ), j AS (
           SELECT COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
           FROM a FULL JOIN b ON a.v = b.v
         ), t AS (
           SELECT ca, cb,
                  CAST(ca AS DOUBLE) / CAST(nn.na AS DOUBLE) AS p,
                  CAST(cb AS DOUBLE) / CAST(nn.nb AS DOUBLE) AS q
           FROM j, nn
         ), r AS (
           SELECT round((CASE WHEN ca > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
                       + CASE WHEN cb > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
                       * 0.5, 12) AS tt
           FROM t
         ), agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_cats,
                  round(CAST(sum(CAST(tt AS DECIMAL(24,12))) AS DOUBLE), 6) AS jsd
           FROM r
         )
         SELECT nn.na AS n_a, nn.nb AS n_b, agg.n_cats, agg.jsd,
                round(agg.jsd / 0.6931471805599453, 6) AS jsd_bits,
                round(sqrt(agg.jsd / 0.6931471805599453), 6) AS js_dist
         FROM agg, nn""",
    // q258: identical contingency cells; κ replayed as the exact integer
    // rational (n·diag − Σrt·ct)/(n² − Σrt·ct), HUGEINT-safe casts
    "q258_cohen_kappa" ->
      """WITH s AS (
           SELECT CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END AS a,
                  CASE WHEN event_type = 'purchase' THEN 'hi' ELSE 'lo' END AS b
           FROM events WHERE value IS NOT NULL
         ), c AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM s GROUP BY 1, 2
         ), rt AS (
           SELECT a AS k, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY 1
         ), ct AS (
           SELECT b AS k, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1
         ), m AS (
           SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS diag
           FROM c
         ), p AS (
           SELECT CAST(sum(COALESCE(rt.rt, 0) * COALESCE(ct.ct, 0)) AS BIGINT) AS sp,
                  CAST(count(rt.rt) AS BIGINT) AS n_cat_a,
                  CAST(count(ct.ct) AS BIGINT) AS n_cat_b
           FROM rt FULL JOIN ct ON rt.k = ct.k
         )
         SELECT m.n, p.n_cat_a, p.n_cat_b,
                round(CAST(m.diag AS DOUBLE) / CAST(m.n AS DOUBLE), 6) AS po,
                round(CAST(p.sp AS DOUBLE)
                      / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)), 6) AS pe,
                round(CAST(m.n * m.diag - p.sp AS DOUBLE)
                      / CAST(m.n * m.n - p.sp AS DOUBLE), 6) AS kappa
         FROM m, p""",
    // q33/q45/q55/q91/q97: literal pass-contract oracles — the query body
    // REQUIRES the measured recall floor (throws if broken, so the driver
    // sees no output at all), then emits exactly these constants. This
    // turns the former rows-only checks into hard gates; the exact twins
    // (q26/q32, q29, q87/q90, q96) remain the hash-matched plans.
    "q33_ann_ivf" ->
      """SELECT 10 AS top_k, 8 AS nlist, 3 AS nprobe, 10 AS n_results,
                60 AS recall_floor_pct, 1 AS recall_ok""",
    "q45_dedup_minhash_fast" ->
      "SELECT 12 AS k, 4 AS bands, 95 AS recall_floor_pct, 1 AS recall_ok",
    "q55_ann_ivf_recall" ->
      """SELECT * FROM (VALUES (1, 35, 1), (2, 55, 1), (4, 75, 1), (8, 100, 1))
           AS t(nprobe, recall_floor_pct, recall_ok) ORDER BY nprobe""",
    "q91_pq_recall" ->
      """SELECT * FROM (VALUES (1, 15, 1, 32.0), (2, 25, 1, 32.0),
                               (8, 45, 1, 32.0), (20, 65, 1, 32.0))
           AS t(rerank_factor, recall_floor_pct, recall_ok, compression_x)
         ORDER BY rerank_factor""",
    "q97_graph_recall" ->
      """SELECT * FROM (VALUES (8, 35, 1, 8, 4), (32, 60, 1, 8, 4),
                               (128, 95, 1, 8, 4))
           AS t(ef_search, recall_floor_pct, recall_ok, max_degree, shards)
         ORDER BY ef_search""",
    // q235: identical half-unit ranks, identical 12dp term rounding and
    // decimal summation, identical H and tie-correction expressions
    "q235_kruskal_wallis" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders
         ), r AS (
           SELECT g, v, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
                  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
           FROM s
         ), sums AS (
           SELECT g, CAST(count(*) AS BIGINT) AS ng,
                  CAST(sum(2 * rnk + ties - 1) AS BIGINT) AS r2x
           FROM r GROUP BY 1
         ), nn AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                          CAST(count(*) AS INTEGER) AS k FROM sums),
         ts AS (
           SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ts
           FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v)
         ), tsum AS (
           SELECT CAST(sum(CAST(round(
                    (CAST(r2x AS DOUBLE) / 2.0) * (CAST(r2x AS DOUBLE) / 2.0)
                      / CAST(ng AS DOUBLE), 12) AS DECIMAL(38,12))) AS DOUBLE) AS srg
           FROM sums
         ), f AS (
           SELECT nn.k, nn.n, ts.ts,
                  round(12.0 / (CAST(nn.n AS DOUBLE) * CAST(nn.n + 1 AS DOUBLE))
                        * tsum.srg - 3.0 * CAST(nn.n + 1 AS DOUBLE), 6) AS h,
                  12.0 / (CAST(nn.n AS DOUBLE) * CAST(nn.n + 1 AS DOUBLE))
                        * tsum.srg - 3.0 * CAST(nn.n + 1 AS DOUBLE) AS h_raw,
                  1.0 - CAST(ts.ts AS DOUBLE)
                        / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
                           - CAST(nn.n AS DOUBLE)) AS denom
           FROM nn, ts, tsum
         )
         SELECT k, n, ts AS tie_terms, h,
                CASE WHEN denom > 0 THEN round(h_raw / denom, 6) END AS h_corrected
         FROM f""",
    // q234: HUGEINT moment cancellation (exact, one DOUBLE cast) and
    // the identical Welch expressions with unrounded means inside t
    "q234_welch_t" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         ), m AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sx,
                  CAST(sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS HUGEINT) AS sxx
           FROM s GROUP BY 1
         ), st AS (
           SELECT g, n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  CASE WHEN n > 1 THEN
                    CAST(n * sxx - sx * sx AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                  ELSE 0.0 END AS s2
           FROM m
         ), a AS (SELECT n, mean, s2 FROM st WHERE g = '1-URGENT'),
         b AS (SELECT n, mean, s2 FROM st WHERE g = '5-LOW'),
         f AS (
           SELECT a.n AS n_a, b.n AS n_b, a.mean AS ma, b.mean AS mb,
                  a.s2 / CAST(a.n AS DOUBLE) AS va, b.s2 / CAST(b.n AS DOUBLE) AS vb
           FROM a, b
         )
         SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b, n_a, n_b,
                round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                CASE WHEN va + vb > 0 THEN
                  round((ma - mb) / sqrt(va + vb), 6) END AS t,
                CASE WHEN va + vb > 0 AND n_a > 1 AND n_b > 1 THEN
                  round((va + vb) * (va + vb)
                        / (va * va / CAST(n_a - 1 AS DOUBLE)
                           + vb * vb / CAST(n_b - 1 AS DOUBLE)), 6)
                END AS df
         FROM f""",
    // q236: q233's rank/tie/z SQL verbatim with v = the clamped
    // equi-width bin id (identical IEEE floor((x-lo)/width) on both
    // sides; width 6250.0 = (600000-0)/96 is exact in double)
    "q236_mw_binned" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(least(greatest(floor(
                    (CAST(o_totalprice AS DOUBLE) - 0.0) / 6250.0), 0.0), 95.0)
                    AS BIGINT) AS v
           FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             AND o_totalprice IS NOT NULL
         ), r AS (
           SELECT g, v, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
                  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
           FROM s
         ), sums AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(2 * rnk + ties - 1) AS BIGINT) AS r2x
           FROM r GROUP BY 1
         ), a AS (SELECT n, r2x FROM sums WHERE g = '1-URGENT'),
         b AS (SELECT n FROM sums WHERE g = '5-LOW'),
         ts AS (
           SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ts
           FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v)
         ), f AS (
           SELECT a.n AS n_a, b.n AS n_b,
                  a.r2x - a.n * (a.n + 1) AS u2x,
                  a.n + b.n AS n, ts.ts
           FROM a, b, ts
         ), g2 AS (
           SELECT n_a, n_b, u2x, ts,
                  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                    * (CAST(n + 1 AS DOUBLE)
                       - CAST(ts AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS s2,
                  n
           FROM f
         )
         SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b, n_a, n_b,
                CAST(u2x AS DOUBLE) / 2.0 AS u_a, ts AS tie_terms,
                CASE WHEN n > 1 AND s2 > 0 THEN
                  round(((CAST(u2x AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0)
                        / sqrt(s2), 6)
                END AS z
         FROM g2""",
    // q237: q235's H/tie SQL verbatim with v = the clamped bin id
    "q237_kw_binned" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(least(greatest(floor(
                    (CAST(o_totalprice AS DOUBLE) - 0.0) / 6250.0), 0.0), 95.0)
                    AS BIGINT) AS v
           FROM orders WHERE o_totalprice IS NOT NULL
         ), r AS (
           SELECT g, v, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
                  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
           FROM s
         ), sums AS (
           SELECT g, CAST(count(*) AS BIGINT) AS ng,
                  CAST(sum(2 * rnk + ties - 1) AS BIGINT) AS r2x
           FROM r GROUP BY 1
         ), nn AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                          CAST(count(*) AS INTEGER) AS k FROM sums),
         ts AS (
           SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ts
           FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v)
         ), tsum AS (
           SELECT CAST(sum(CAST(round(
                    (CAST(r2x AS DOUBLE) / 2.0) * (CAST(r2x AS DOUBLE) / 2.0)
                      / CAST(ng AS DOUBLE), 12) AS DECIMAL(38,12))) AS DOUBLE) AS srg
           FROM sums
         ), f AS (
           SELECT nn.k, nn.n, ts.ts,
                  round(12.0 / (CAST(nn.n AS DOUBLE) * CAST(nn.n + 1 AS DOUBLE))
                        * tsum.srg - 3.0 * CAST(nn.n + 1 AS DOUBLE), 6) AS h,
                  12.0 / (CAST(nn.n AS DOUBLE) * CAST(nn.n + 1 AS DOUBLE))
                        * tsum.srg - 3.0 * CAST(nn.n + 1 AS DOUBLE) AS h_raw,
                  1.0 - CAST(ts.ts AS DOUBLE)
                        / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
                           - CAST(nn.n AS DOUBLE)) AS denom
           FROM nn, ts, tsum
         )
         SELECT k, n, ts AS tie_terms, h,
                CASE WHEN denom > 0 THEN round(h_raw / denom, 6) END AS h_corrected
         FROM f""",
    // q238: q183's integer max search with v = the clamped bin id;
    // bin_lo recovered as lo + bin*width, 6dp
    "q238_ks_binned" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         t AS (SELECT CAST(least(greatest(floor(
                 (CAST(o_totalprice AS DOUBLE) - 0.0) / 6250.0), 0.0), 95.0)
                 AS BIGINT) AS v, 1 AS s1, 0 AS s2
               FROM v0 WHERE o_totalprice IS NOT NULL
               UNION ALL
               SELECT CAST(least(greatest(floor(
                 (CAST(o_totalprice AS DOUBLE) - 0.0) / 6250.0), 0.0), 95.0)
                 AS BIGINT), 0, 1
               FROM v1 WHERE o_totalprice IS NOT NULL),
         pv AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM t GROUP BY 1),
         n AS (SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(sum(s2) AS BIGINT) AS n2 FROM t),
         c AS (SELECT v,
                      sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a1,
                      sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a2
               FROM pv),
         m AS (SELECT c.v, CAST(abs(a1 * n.n2 - a2 * n.n1) AS BIGINT) AS num, n.n1, n.n2 FROM c CROSS JOIN n)
         SELECT round(CAST(num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS ks,
                v AS at_bin,
                round(0.0 + CAST(v AS DOUBLE) * 6250.0, 6) AS bin_lo,
                n1 AS n_old, n2 AS n_new
         FROM m ORDER BY num DESC, v LIMIT 1""",
    // q233: identical half-unit rank sums, tie aggregation, and the
    // identical final double expression
    "q233_mann_whitney" ->
      """WITH s AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         ), r AS (
           SELECT g, v, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
                  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
           FROM s
         ), sums AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(2 * rnk + ties - 1) AS BIGINT) AS r2x
           FROM r GROUP BY 1
         ), a AS (SELECT n, r2x FROM sums WHERE g = '1-URGENT'),
         b AS (SELECT n FROM sums WHERE g = '5-LOW'),
         ts AS (
           SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ts
           FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v)
         ), f AS (
           SELECT a.n AS n_a, b.n AS n_b,
                  a.r2x - a.n * (a.n + 1) AS u2x,
                  a.n + b.n AS n, ts.ts
           FROM a, b, ts
         ), g2 AS (
           SELECT n_a, n_b, u2x, ts,
                  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                    * (CAST(n + 1 AS DOUBLE)
                       - CAST(ts AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS s2,
                  n
           FROM f
         )
         SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b, n_a, n_b,
                CAST(u2x AS DOUBLE) / 2.0 AS u_a, ts AS tie_terms,
                CASE WHEN n > 1 AND s2 > 0 THEN
                  round(((CAST(u2x AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0)
                        / sqrt(s2), 6)
                END AS z
         FROM g2""",
    // q232: identical pooled-time risk windows (strictly-earlier RANGE
    // frame) and identical 12dp term rounding/summation
    "q232_logrank" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev,
                  CAST(user_id % 2 AS VARCHAR) AS g
           FROM pu
         ), byt AS (
           SELECT g, t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS nc
           FROM subj GROUP BY 1, 2
         ), tot AS (SELECT g, CAST(count(*) AS BIGINT) AS total FROM subj GROUP BY 1),
         pooled AS (SELECT DISTINCT t FROM byt WHERE ne > 0),
         marked AS (
           SELECT g, t, CAST(sum(ne) AS BIGINT) AS ne, CAST(sum(nc) AS BIGINT) AS nc
           FROM (SELECT g, t, ne, nc FROM byt
                 UNION ALL
                 SELECT tot.g, p.t, 0, 0 FROM tot CROSS JOIN pooled p)
           GROUP BY 1, 2
         ), risk AS (
           SELECT m.g, m.t, m.ne,
                  tot.total - COALESCE(sum(m.ne + m.nc) OVER (
                    PARTITION BY m.g ORDER BY m.t
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
           FROM marked m JOIN tot ON tot.g = m.g
         ), ab AS (
           SELECT a.t, a.ne AS d1, a.n_risk AS n1, b.ne AS d2, b.n_risk AS n2
           FROM risk a JOIN risk b ON b.t = a.t AND a.g = '0' AND b.g = '1'
           WHERE a.t IN (SELECT t FROM pooled)
         ), terms AS (
           SELECT d1, d1 + d2 AS dj, n1 + n2 AS nj, n1
           FROM ab WHERE d1 + d2 > 0 AND n1 + n2 > 0
         ), rterms AS (
           SELECT d1,
                  CAST(round(CAST(dj AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(nj AS DOUBLE), 12) AS DECIMAL(24,12)) AS e,
                  CAST(CASE WHEN nj > 1 THEN
                    round(CAST(dj AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nj AS DOUBLE))
                          * (1.0 - CAST(n1 AS DOUBLE) / CAST(nj AS DOUBLE))
                          * CAST(nj - dj AS DOUBLE) / CAST(nj - 1 AS DOUBLE), 12)
                  ELSE 0.0 END AS DECIMAL(24,12)) AS v
           FROM terms
         )
         SELECT '0' AS group_a, '1' AS group_b,
                (SELECT CAST(count(*) AS BIGINT) FROM subj WHERE g = '0') AS n_a,
                (SELECT CAST(count(*) AS BIGINT) FROM subj WHERE g = '1') AS n_b,
                CAST(sum(d1) AS BIGINT) AS o_a,
                round(CAST(sum(e) AS DOUBLE), 6) AS e_a,
                round(CAST(sum(v) AS DOUBLE), 6) AS v_sum,
                CASE WHEN sum(v) > 0 THEN
                  round((CAST(sum(d1) AS DOUBLE) - CAST(sum(e) AS DOUBLE))
                        / sqrt(CAST(sum(v) AS DOUBLE)), 6)
                END AS z
         FROM rterms""",
    // q231: streamed exact sums == batch sums (order-blind), same cut
    "q231_stream_leaderboard" ->
      """SELECT event_type,
                CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1
         ORDER BY revenue_cents DESC, event_type LIMIT 5""",
    // q230: version/size/frames/delta are closed forms of the id
    // (tag_size = 14+digits; delta adds the 10-byte header and the
    // conditional 128-byte v1 trailer)
    "q230_id3_scrub" ->
      """SELECT doc_id AS media_id, CAST(3 AS INTEGER) AS id3_version,
                CAST(14 + length(CAST(doc_id AS VARCHAR)) AS INTEGER) AS tag_size,
                'TIT2' AS frames,
                doc_id % 2 = 0 AS has_v1,
                CAST(24 + length(CAST(doc_id AS VARCHAR))
                     + CASE WHEN doc_id % 2 = 0 THEN 128 ELSE 0 END AS INTEGER) AS strip_delta,
                FALSE AS id3_after_strip, TRUE AS mp3_still_probes
         FROM documents ORDER BY media_id""",
    // q229: key/value/delta are closed forms of the id (delta = 12-byte
    // chunk frame + 7-char key + NUL + 'doc'||id)
    "q229_png_text_scrub" ->
      """SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS n_text_chunks,
                'Comment' AS key, 'doc' || CAST(doc_id AS VARCHAR) AS value,
                CAST(23 + length(CAST(doc_id AS VARCHAR)) AS INTEGER) AS strip_delta,
                FALSE AS text_after_strip
         FROM documents ORDER BY media_id""",
    // q228: every field is a closed form of the id; the strip delta is
    // the fixed APP1 layout size (98 bytes with the GPS IFD, 68 without)
    "q228_exif_scrub" ->
      """SELECT doc_id AS media_id,
                CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
                printf('2026:01:%02d 12:00:00', CAST(doc_id % 28 + 1 AS INTEGER)) AS capture_dt,
                doc_id % 3 = 0 AS has_gps,
                CAST(CASE WHEN doc_id % 3 = 0 THEN 98 ELSE 68 END AS INTEGER) AS strip_delta,
                FALSE AS exif_after_strip
         FROM documents ORDER BY media_id""",
    "q227_hits" -> duckHits,
    // q226: identical co-partitioned rollup + cumulative window in longs
    "q226_cohort_ltv" ->
      """WITH f AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id
         ), d AS (
           SELECT user_id, CAST(ts AS DATE) AS active_day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
           FROM events GROUP BY 1, 2
         ), g AS (
           SELECT f.cohort_day, datediff('day', f.cohort_day, d.active_day) AS day_offset,
                  CAST(sum(d.c) AS BIGINT) AS revenue_cents
           FROM d JOIN f ON d.user_id = f.user_id
           GROUP BY 1, 2
         ), sz AS (
           SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
           FROM f GROUP BY 1
         ), cum AS (
           SELECT g.cohort_day, g.day_offset, g.revenue_cents,
                  CAST(sum(g.revenue_cents) OVER (PARTITION BY g.cohort_day ORDER BY g.day_offset
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_revenue_cents,
                  sz.cohort_size
           FROM g JOIN sz ON g.cohort_day = sz.cohort_day
         )
         SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
                revenue_cents, cum_revenue_cents, cohort_size,
                round(CAST(cum_revenue_cents AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6) AS ltv_cents_per_user
         FROM cum ORDER BY cohort_day, day_offset""",
    "q225_pagerank_personalized" -> duckPageRankPersonalized,
    "q224_pagerank_weighted" -> duckPageRankWeighted,
    // q203: identical per-user reduction and the identical ordered
    // log-sum-exp chain over exact decimals
    "q203_survival" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev
           FROM pu
         ), tot AS (SELECT count(*) AS n FROM subj),
         byt AS (
           SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS nc
           FROM subj GROUP BY 1
         ), c1 AS (
           SELECT t, ne, nc,
                  sum(ne + nc) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gone
           FROM byt
         ), c2 AS (
           SELECT c1.t, c1.ne, c1.nc,
                  CAST(tot.n - c1.gone + c1.ne + c1.nc AS BIGINT) AS nr
           FROM c1 CROSS JOIN tot
         ), c3 AS (
           SELECT *, CASE WHEN ne = nr THEN 1 ELSE 0 END AS z,
                  CASE WHEN ne = nr THEN 0.0
                       ELSE round(ln(1.0 - CAST(ne AS DOUBLE) / CAST(nr AS DOUBLE)), 12) END AS term
           FROM c2
         ), c4 AS (
           SELECT *,
                  sum(CAST(term AS DECIMAL(24,12))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
                  max(z) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS az
           FROM c3
         )
         SELECT t, nr AS n_risk, ne AS n_event, nc AS n_censored,
                CASE WHEN az = 1 THEN 0.0 ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival
         FROM c4 WHERE ne > 0 ORDER BY t""",
    // q204: the identical truncating-div recurrence replayed as a
    // recursive CTE (trunc(v/2.0) == `div` for |v| < 2^52 — exact double)
    "q204_holt_forecast" ->
      """WITH RECURSIVE d AS (
           SELECT o_orderpriority AS key,
                  CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
           FROM orders GROUP BY 1, 2
         ), o AS (
           SELECT key, t, x,
                  row_number() OVER (PARTITION BY key ORDER BY t) AS rn,
                  count(*) OVER (PARTITION BY key) AS nk
           FROM d
         ), r AS (
           SELECT key, rn, nk, x AS l,
                  CAST(0 AS BIGINT) AS tr, CAST(0 AS BIGINT) AS sae
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.key, o.rn, o.nk,
                  CAST(trunc((o.x + r.l + r.tr) / 2.0) AS BIGINT),
                  CAST(trunc((CAST(trunc((o.x + r.l + r.tr) / 2.0) AS BIGINT)
                              - r.l + r.tr) / 2.0) AS BIGINT),
                  r.sae + abs(o.x - (r.l + r.tr))
           FROM r JOIN o ON o.key = r.key AND o.rn = r.rn + 1
         )
         SELECT key, CAST(nk AS BIGINT) AS n_buckets, l AS level_units,
                tr AS trend_units, sae AS sae_units,
                l + tr AS f_1_units, l + 7 * tr AS f_7_units,
                l + 28 * tr AS f_28_units
         FROM r WHERE rn = nk ORDER BY key""",
    // q205: identical centered-7 RANGE(±3 days) window over the identical
    // daily rollup (gap-safe); deviations integer-exact (7x − Σ), one
    // final double division
    "q205_seasonal_dow" ->
      """WITH d AS (
           SELECT CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
           FROM orders GROUP BY 1
         ), m AS (
           SELECT t, x,
                  sum(x) OVER (ORDER BY t RANGE BETWEEN 259200 PRECEDING AND 259200 FOLLOWING) AS ms,
                  count(*) OVER (ORDER BY t RANGE BETWEEN 259200 PRECEDING AND 259200 FOLLOWING) AS mn
           FROM d
         ), dev AS (
           SELECT CAST((CAST(trunc(t / 86400.0) AS BIGINT) + 4) % 7 AS BIGINT) AS dow,
                  x * 7 - ms AS dev7
           FROM m WHERE mn = 7
         )
         SELECT dow, count(*) AS n_days, CAST(sum(dev7) AS BIGINT) AS sum_dev7,
                round(CAST(sum(dev7) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 7.0), 6) AS seasonal
         FROM dev GROUP BY 1 ORDER BY 1""",
    // q206: registers replayed byte-for-byte in string space (zero-run
    // regexp + ASCII nibble CASE), Z in exact longs, same literal alpha
    "q206_hll_distinct" ->
      """WITH h AS (
           SELECT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h
           FROM lineitem
         ), r0 AS (
           SELECT g, substr(h, 1, 3) AS bucket, substr(h, 4, 16) AS tail,
                  length(regexp_extract(substr(h, 4, 16), '^0*')) AS z
           FROM h
         ), rk AS (
           SELECT g, bucket,
                  CASE WHEN z = 16 THEN 65 ELSE 4 * z + 1 +
                    (CASE WHEN substr(tail, z + 1, 1) >= '8' THEN 0
                          WHEN substr(tail, z + 1, 1) >= '4' THEN 1
                          WHEN substr(tail, z + 1, 1) >= '2' THEN 2
                          ELSE 3 END) END AS r
           FROM r0
         ), regs AS (
           SELECT g, bucket, max(r) AS r FROM rk GROUP BY 1, 2
         ), allregs AS (
           SELECT g, bucket, r FROM regs
           UNION ALL
           SELECT 'TOTAL', bucket, max(r) FROM regs GROUP BY 2
         ), est AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n_nonempty,
                  CAST(sum(CASE WHEN r <= 40 THEN CAST(pow(2, 40 - r) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS znon
           FROM allregs GROUP BY 1
         ), fin AS (
           SELECT g, n_nonempty,
                  CAST(znon + (4096 - n_nonempty) * 1099511627776 AS BIGINT) AS z_scaled,
                  round(0.721110 * pow(2, 64) /
                        CAST(znon + (4096 - n_nonempty) * 1099511627776 AS DOUBLE), 6) AS est_raw,
                  CASE WHEN 4096 - n_nonempty > 0 THEN
                    round(4096.0 * ln(4096.0 / CAST(4096 - n_nonempty AS DOUBLE)), 6)
                  END AS est_linear
           FROM est
         )
         SELECT g, n_nonempty, z_scaled, est_raw, est_linear,
                CASE WHEN 4096 - n_nonempty > 0 AND est_raw <= 10240.0
                     THEN est_linear ELSE est_raw END AS est
         FROM fin ORDER BY g""",
    // q207: brute-force triple enumeration — the engine's Apriori prune
    // must be invisible in the result; identical metric arithmetic order
    "q207_triples" ->
      """WITH bi AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         ), n AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
         singles AS (SELECT i, CAST(count(*) AS BIGINT) AS supp FROM bi GROUP BY 1),
         pr AS (
           SELECT x.i AS a, y.i AS bb, CAST(count(*) AS BIGINT) AS supp_ab
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 60
         ), tri AS (
           SELECT x.i AS a, y.i AS bb, z.i AS c, CAST(count(*) AS BIGINT) AS s
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
                     JOIN bi z ON z.b = x.b AND z.i > y.i
           GROUP BY 1, 2, 3 HAVING count(*) >= 60
         )
         SELECT t.a AS item_a, t.bb AS item_b, t.c AS item_c, t.s AS support,
                round(CAST(t.s AS DOUBLE) / CAST(p.supp_ab AS DOUBLE), 6) AS conf_ab_c,
                round(CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE) * CAST(t.s AS DOUBLE)
                      / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)
                         * CAST(sc.supp AS DOUBLE)), 6) AS lift
         FROM tri t
         JOIN pr p ON p.a = t.a AND p.bb = t.bb
         JOIN singles sa ON sa.i = t.a
         JOIN singles sb ON sb.i = t.bb
         JOIN singles sc ON sc.i = t.c
         CROSS JOIN n
         ORDER BY item_a, item_b, item_c""",
    // q208: identical 12dp log rounding, exact decimal moments, the
    // identical double expression for the normal equations
    "q208_zipf_fit" ->
      """WITH t AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), v AS (SELECT w, count(*) AS cnt FROM t GROUP BY 1),
         k AS (SELECT w, cnt FROM v ORDER BY cnt DESC, w LIMIT 200),
         rk AS (
           SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank, cnt
           FROM k
         ), xy AS (
           SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 12) AS DECIMAL(15,12)) AS x,
                  CAST(round(ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(15,12)) AS y
           FROM rk
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(CAST(x * x AS DECIMAL(34,24))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(x * y AS DECIMAL(34,24))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(y * y AS DECIMAL(34,24))) AS DOUBLE) AS syy
           FROM xy
         )
         SELECT n_tokens,
                round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
                round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
                round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         FROM m""",
    // q209: both rankings replayed (BM25 chain as q117 at top-50; vector
    // rank over the 6dp distance + pk order), identical rrf arithmetic
    "q209_hybrid_search" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         tf AS (
           SELECT doc_id, w, count(*) AS tf FROM t
           WHERE w IN ('spark', 'vector', 'stream') GROUP BY 1, 2
         ), df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         c AS (
           SELECT tf.doc_id,
                  round(ln((CAST(st.n_docs AS DOUBLE) - df.df + 0.5e0) / (df.df + 0.5e0) + 1.0e0)
                        * (tf.tf * (1.2e0 + 1.0e0))
                        / (tf.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl.dl / st.avgdl)), 6) AS c
           FROM tf JOIN df USING (w) JOIN dl USING (doc_id), st
         ), sc AS (
           SELECT doc_id, round(CAST(sum(CAST(c AS DECIMAL(24,12))) AS DOUBLE), 6) AS score FROM c GROUP BY doc_id
         ), lexr AS (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
           FROM sc ORDER BY score DESC, doc_id LIMIT 50
         ), q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
         vd AS (
           SELECT e.vec_id AS doc_id,
                  round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance
           FROM embeddings e, q WHERE e.embedding IS NOT NULL
         ), vecr AS (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY distance, doc_id) AS BIGINT) AS rank
           FROM vd ORDER BY distance, doc_id LIMIT 50
         ), u AS (
           SELECT doc_id, rank FROM lexr UNION ALL SELECT doc_id, rank FROM vecr
         )
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_systems,
                round(CAST(sum(CAST(round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 12) AS DECIMAL(16,12))) AS DOUBLE), 6) AS rrf
         FROM u GROUP BY doc_id
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    // q210: rank-for-rank quantile replay (ceil(p·n)−1 zero-clamped,
    // 1-based rn), identical long clip and sum
    "q210_winsorize" ->
      """WITH b AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders
         ), r AS (
           SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                  count(*) OVER (PARTITION BY g) AS n
           FROM b
         ), cuts AS (
           SELECT g,
                  max(CASE WHEN rn = greatest(CAST(ceil(0.0625 * n) AS BIGINT) - 1, 0) + 1 THEN v END) AS lo_cut,
                  max(CASE WHEN rn = greatest(CAST(ceil(0.9375 * n) AS BIGINT) - 1, 0) + 1 THEN v END) AS hi_cut
           FROM r GROUP BY 1
         ), w AS (
           SELECT b.g, b.v, c.lo_cut, c.hi_cut,
                  least(greatest(b.v, c.lo_cut), c.hi_cut) AS wv
           FROM b JOIN cuts c ON c.g = b.g
         )
         SELECT g, CAST(count(*) AS BIGINT) AS n,
                max(lo_cut) AS lo_cut, max(hi_cut) AS hi_cut,
                CAST(sum(CASE WHEN v < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
                CAST(sum(CASE WHEN v > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
                CAST(sum(wv) AS BIGINT) AS sum_w,
                round(CAST(sum(wv) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_w
         FROM w GROUP BY g ORDER BY g""",
    // q211: streamed registers == batch registers (max is order-blind);
    // the q206 estimator replayed over the single ALL group
    "q211_hll_stream" ->
      """WITH h AS (
           SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem
         ), r0 AS (
           SELECT substr(h, 1, 3) AS bucket, substr(h, 4, 16) AS tail,
                  length(regexp_extract(substr(h, 4, 16), '^0*')) AS z
           FROM h
         ), rk AS (
           SELECT bucket,
                  CASE WHEN z = 16 THEN 65 ELSE 4 * z + 1 +
                    (CASE WHEN substr(tail, z + 1, 1) >= '8' THEN 0
                          WHEN substr(tail, z + 1, 1) >= '4' THEN 1
                          WHEN substr(tail, z + 1, 1) >= '2' THEN 2
                          ELSE 3 END) END AS r
           FROM r0
         ), regs AS (SELECT bucket, max(r) AS r FROM rk GROUP BY 1),
         est AS (
           SELECT CAST(count(*) AS BIGINT) AS n_nonempty,
                  CAST(sum(CASE WHEN r <= 40 THEN CAST(pow(2, 40 - r) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS znon
           FROM regs
         ), fin AS (
           SELECT n_nonempty,
                  CAST(znon + (4096 - n_nonempty) * 1099511627776 AS BIGINT) AS z_scaled,
                  round(0.721110 * pow(2, 64) /
                        CAST(znon + (4096 - n_nonempty) * 1099511627776 AS DOUBLE), 6) AS est_raw,
                  CASE WHEN 4096 - n_nonempty > 0 THEN
                    round(4096.0 * ln(4096.0 / CAST(4096 - n_nonempty AS DOUBLE)), 6)
                  END AS est_linear
           FROM est
         )
         SELECT 'ALL' AS grp, n_nonempty, z_scaled, est_raw, est_linear,
                CASE WHEN 4096 - n_nonempty > 0 AND est_raw <= 10240.0
                     THEN est_linear ELSE est_raw END AS est
         FROM fin""",
    // q212: identical regexp-run counts and the identical literal-
    // coefficient expression, left-associated the same way
    "q212_readability" ->
      """WITH c AS (
           SELECT doc_id,
                  greatest(CAST(1 AS BIGINT),
                           CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
           FROM documents
         )
         SELECT doc_id, n_sentences, n_words, n_syllables,
                CASE WHEN n_words > 0 THEN
                  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                        - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
                END AS flesch,
                CASE WHEN n_words > 0 THEN
                  round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                        + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                        - 15.59, 6)
                END AS fk_grade
         FROM c ORDER BY doc_id""",
    // q213: identical md5-prefix sample, 6dp cosine rounding (q31
    // family), exact decimal sum, diversity from the PUBLISHED mean
    "q213_embed_diversity" ->
      """WITH s AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = 'a'
         ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled FROM s),
         p AS (
           SELECT round(list_cosine_similarity(a.v, b.v), 6) AS c
           FROM s a JOIN s b ON a.vec_id < b.vec_id
         ), agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  round(CAST(sum(CAST(c AS DECIMAL(10,6))) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS mean_cos,
                  min(c) AS min_cos, max(c) AS max_cos
           FROM p
         )
         SELECT n.n_sampled, agg.n_pairs, agg.mean_cos, agg.min_cos,
                agg.max_cos, round(1.0 - agg.mean_cos, 6) AS diversity
         FROM agg CROSS JOIN n""",
    // q255: identical (6dp-dist, id) ranking with self excluded, same
    // relevance join, identical 12dp log2 terms and decimal sums
    "q255_rank_eval" ->
      """WITH q AS (
           SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS ql
           FROM embeddings WHERE vec_id < 8
         ), d AS (
           SELECT q.qid, e.vec_id AS id,
                  round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
           FROM embeddings e, q WHERE e.vec_id <> q.qid
         ), r AS (
           SELECT qid, id,
                  row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
           FROM d
         ), rel AS (
           SELECT q.qid, e.vec_id AS id
           FROM embeddings e, q WHERE e.label = q.ql AND e.vec_id <> q.qid
         ), nrel AS (
           SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1
         ), f0 AS (
           SELECT r.qid, r.rank,
                  CASE WHEN rel.id IS NOT NULL THEN 1 ELSE 0 END AS relf
           FROM r LEFT JOIN rel ON rel.qid = r.qid AND rel.id = r.id
           WHERE r.rank <= 10
         ), f AS (
           SELECT qid, rank, relf,
                  CAST(sum(relf) OVER (PARTITION BY qid ORDER BY rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM f0
         ), pq AS (
           SELECT qid, CAST(count(*) AS BIGINT) AS n_results,
                  CAST(sum(relf) AS BIGINT) AS hits,
                  min(CASE WHEN relf = 1 THEN rank END) AS frst,
                  sum(CASE WHEN relf = 1 THEN
                        CAST(round(1.0 / log2(CAST(rank AS DOUBLE) + 1.0), 12) AS DECIMAL(24,12))
                      ELSE CAST(0 AS DECIMAL(24,12)) END) AS dcg,
                  sum(CASE WHEN relf = 1 THEN
                        CAST(round(CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE), 12) AS DECIMAL(24,12))
                      ELSE CAST(0 AS DECIMAL(24,12)) END) AS apn
           FROM f GROUP BY 1
         ), w AS (
           SELECT pq.*, CAST(COALESCE(nrel.n_rel, 0) AS BIGINT) AS n_rel,
                  least(CAST(10 AS BIGINT), CAST(COALESCE(nrel.n_rel, 0) AS BIGINT)) AS m
           FROM pq LEFT JOIN nrel ON nrel.qid = pq.qid
         ), idcg AS (
           SELECT w.qid,
                  sum(CAST(round(1.0 / log2(CAST(t.i AS DOUBLE) + 1.0), 12) AS DECIMAL(24,12))) AS idcg
           FROM w, (SELECT unnest(range(1, 11)) AS i) t
           WHERE t.i <= greatest(w.m, 1)
           GROUP BY 1
         )
         SELECT w.qid, w.n_rel, w.n_results,
                round(CAST(w.hits AS DOUBLE) / 10.0, 6) AS p_at_k,
                CASE WHEN w.frst IS NOT NULL THEN
                  round(1.0 / CAST(w.frst AS DOUBLE), 6) END AS rr,
                CASE WHEN w.n_rel > 0 THEN
                  round(CAST(w.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 6)
                END AS ndcg,
                CASE WHEN w.n_rel > 0 THEN
                  round(CAST(w.apn AS DOUBLE) / CAST(w.m AS DOUBLE), 6)
                END AS ap
         FROM w JOIN idcg ON idcg.qid = w.qid ORDER BY w.qid""",
    // q254: identical distinct-threshold AP — descending cumulative
    // tp/pred counts, identical rational terms, 12dp round + decimal sum
    "q254_avg_precision" ->
      """WITH s AS (
           SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                  CAST(CAST(round(least(value / 200.0, 1.0), 6) AS DECIMAL(18,6))
                       * 1000000 AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL
         ), pv AS (
           SELECT v, CAST(sum(y) AS BIGINT) AS cp, CAST(count(*) AS BIGINT) AS ct
           FROM s GROUP BY v
         ), c AS (
           SELECT v, cp,
                  CAST(sum(cp) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp_ge,
                  CAST(sum(ct) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pred_ge
           FROM pv
         ), np AS (
           SELECT CAST(sum(y) AS BIGINT) AS npos,
                  CAST(count(*) - sum(y) AS BIGINT) AS nneg
           FROM s
         )
         SELECT np.npos AS n_pos, np.nneg AS n_neg,
                CASE WHEN np.npos > 0 THEN
                  round(CAST(sum(CAST(round(
                    CAST(c.cp AS DOUBLE) / CAST(np.npos AS DOUBLE)
                    * (CAST(c.tp_ge AS DOUBLE) / CAST(c.pred_ge AS DOUBLE)), 12)
                    AS DECIMAL(24,12))) AS DOUBLE), 6)
                END AS avg_precision
         FROM c, np WHERE c.cp > 0
         GROUP BY np.npos, np.nneg""",
    // q253: the q233 rank identity specialized to AUC — identical
    // micro-unit quantization, half-unit rank sum, one final divide
    "q253_roc_auc" ->
      """WITH s AS (
           SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                  CAST(CAST(round(least(value / 200.0, 1.0), 6) AS DECIMAL(18,6))
                       * 1000000 AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL
         ), r AS (
           SELECT y, CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rnk,
                  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS ties
           FROM s
         ), m AS (
           SELECT CAST(sum(y) AS BIGINT) AS npos,
                  CAST(count(*) - sum(y) AS BIGINT) AS nneg,
                  CAST(sum(CASE WHEN y = 1 THEN 2 * rnk + ties - 1 ELSE 0 END) AS BIGINT) AS r2x
           FROM r
         )
         SELECT npos AS n_pos, nneg AS n_neg,
                CASE WHEN npos > 0 AND nneg > 0 THEN
                  round((CAST(r2x AS DOUBLE) / 2.0
                         - CAST(npos AS DOUBLE) * (CAST(npos AS DOUBLE) + 1.0) / 2.0)
                        / (CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)), 6)
                END AS auc
         FROM m""",
    // q252: identical clamped bins, exact DECIMAL(38,6) score sums,
    // ECE terms 12dp-rounded and decimal-summed from published values
    "q252_calibration" ->
      """WITH b AS (
           SELECT CAST(least(greatest(floor(round(least(value / 200.0, 1.0), 6) * 10), 0.0), 9.0) AS BIGINT) AS bin,
                  CAST(round(least(value / 200.0, 1.0), 6) AS DECIMAL(38,6)) AS s,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL
         ), pb AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
                  round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS confidence,
                  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS observed
           FROM b GROUP BY 1
         ), g AS (
           SELECT bin, n, confidence, observed,
                  round(abs(observed - confidence), 6) AS gap
           FROM pb
         ), nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g),
         e AS (
           SELECT round(CAST(sum(CAST(round(
                    CAST(n AS DOUBLE) / CAST(nt.n_total AS DOUBLE) * gap, 12)
                    AS DECIMAL(24,12))) AS DOUBLE), 6) AS ece
           FROM g, nt
         )
         SELECT g.bin, g.n, g.confidence, g.observed, g.gap, e.ece, nt.n_total
         FROM g, e, nt ORDER BY g.bin""",
    // q251: identical pairwise double slopes, identical lower-median
    // rank pick (equal values make tie order irrelevant), intercept
    // from the identically-published 6dp slope
    "q251_theil_sen" ->
      """WITH d AS (
           SELECT o_orderpriority AS k,
                  CAST(epoch(date_trunc('week', o_orderdate)) / 86400 AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2
         ), p AS (
           SELECT a.k, CAST(b.y - a.y AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS s
           FROM d a JOIN d b ON b.k = a.k AND b.t > a.t
         ), sr AS (
           SELECT k, s, row_number() OVER (PARTITION BY k ORDER BY s) AS rn,
                  count(*) OVER (PARTITION BY k) AS np
           FROM p
         ), sp AS (
           SELECT k, CAST(np AS BIGINT) AS n_pairs, round(s, 6) AS slope
           FROM sr WHERE rn = CAST(ceil(CAST(np AS DOUBLE) / 2.0) AS BIGINT)
         ), r AS (
           SELECT d.k, sp.n_pairs, sp.slope,
                  CAST(d.y AS DOUBLE) - sp.slope * CAST(d.t AS DOUBLE) AS res
           FROM d JOIN sp ON sp.k = d.k
         ), rr AS (
           SELECT k, n_pairs, slope, res,
                  row_number() OVER (PARTITION BY k ORDER BY res) AS rn,
                  count(*) OVER (PARTITION BY k) AS n
           FROM r
         )
         SELECT k AS o_orderpriority, CAST(n AS BIGINT) AS n, n_pairs, slope,
                round(res, 6) AS intercept
         FROM rr WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)
         ORDER BY o_orderpriority""",
    // q250: the q240 acf algebra at lags 1..3, then the identical
    // Durbin-Levinson closed forms with a 6dp round at EVERY level
    "q250_pacf" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2
         ), m AS (
           SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
                  CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS HUGEINT) AS sxx
           FROM d GROUP BY 1
         ), r AS (
           SELECT event_type, cents,
                  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
           FROM d
         ), pl AS (
           SELECT a.event_type, k.lag, CAST(count(*) AS HUGEINT) AS np,
                  CAST(sum(CAST(a.cents AS HUGEINT) * CAST(b.cents AS HUGEINT)) AS HUGEINT) AS sxy,
                  CAST(sum(CAST(a.cents AS HUGEINT)) AS HUGEINT) AS sh,
                  CAST(sum(CAST(b.cents AS HUGEINT)) AS HUGEINT) AS st
           FROM r a
           JOIN (SELECT unnest(range(1, 4)) AS lag) k ON true
           JOIN r b ON b.event_type = a.event_type AND b.rn = a.rn + k.lag
           GROUP BY 1, 2
         ), ac AS (
           SELECT pl.event_type, pl.lag, CAST(m.n AS BIGINT) AS n,
                  CASE WHEN m.n * m.sxx - m.s * m.s <> 0 THEN
                    round(CAST(m.n * m.n * pl.sxy - m.n * m.s * (pl.sh + pl.st)
                               + pl.np * m.s * m.s AS DOUBLE)
                          / CAST(m.n * (m.n * m.sxx - m.s * m.s) AS DOUBLE), 6)
                  END AS acf
           FROM pl JOIN m ON pl.event_type = m.event_type
         ), pv AS (
           SELECT event_type, max(n) AS n,
                  max(CASE WHEN lag = 1 THEN acf END) AS r1,
                  max(CASE WHEN lag = 2 THEN acf END) AS r2,
                  max(CASE WHEN lag = 3 THEN acf END) AS r3
           FROM ac GROUP BY 1
         ), p2 AS (
           SELECT *, CASE WHEN 1.0 - r1 * r1 <> 0.0 THEN
                       round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) END AS p22
           FROM pv
         ), p1 AS (
           SELECT *, round(r1 * (1.0 - p22), 6) AS p21 FROM p2
         )
         SELECT event_type, n, r1, r2, r3, r1 AS pacf_1, p22 AS pacf_2,
                CASE WHEN 1.0 - p21 * r1 - p22 * r2 <> 0.0 THEN
                  round((r3 - p21 * r2 - p22 * r1)
                        / (1.0 - p21 * r1 - p22 * r2), 6) END AS pacf_3
         FROM p1 ORDER BY event_type""",
    // q249: identical lag pairs (rn self-join), exact integer |errors|,
    // mase composed from the identically-published 6dp MAEs
    "q249_seasonal_naive" ->
      """WITH d AS (
           SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
           FROM orders GROUP BY 1
         ), r AS (
           SELECT x, row_number() OVER (ORDER BY t) AS rn FROM d
         ), e AS (
           SELECT a.x, b1.x AS l1, bm.x AS lm
           FROM r a
           LEFT JOIN r b1 ON b1.rn = a.rn - 1
           LEFT JOIN r bm ON bm.rn = a.rn - 7
         ), s AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_1,
                  CAST(sum(abs(x - l1)) AS BIGINT) AS sae1,
                  CAST(sum(CASE WHEN lm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_m,
                  CAST(sum(abs(x - lm)) AS BIGINT) AS saem
           FROM e
         ), f AS (
           SELECT n, n_pairs_1,
                  CASE WHEN n_pairs_1 > 0 THEN
                    round(CAST(sae1 AS DOUBLE) / CAST(n_pairs_1 AS DOUBLE), 6) END AS mae_1,
                  n_pairs_m,
                  CASE WHEN n_pairs_m > 0 THEN
                    round(CAST(saem AS DOUBLE) / CAST(n_pairs_m AS DOUBLE), 6) END AS mae_m
           FROM s
         )
         SELECT n, n_pairs_1, mae_1, n_pairs_m, mae_m,
                CASE WHEN mae_1 > 0 THEN round(mae_m / mae_1, 6) END AS mase_m
         FROM f""",
    // q248: identical HUGEINT pooled moments, identical md5 arm split,
    // adjusted means compose from the identically-published 6dp theta
    "q248_cuped" ->
      """WITH u AS (
           SELECT user_id,
                  COALESCE(CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS x,
                  COALESCE(CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS y
           FROM events GROUP BY 1
         ), a AS (
           SELECT CASE WHEN CAST(CAST(('0x' || substr(md5('cup:' || CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                            / 4503599627370496.0 < 0.5
                       THEN 'A' ELSE 'B' END AS arm, x, y
           FROM u
         ), m AS (
           SELECT CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                  CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                  CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
                  CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy,
                  CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy
           FROM a
         ), t AS (
           SELECT CASE WHEN m.n * m.sxx - m.sx * m.sx > 0 THEN
                    round(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                          / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE), 6) END AS theta,
                  CASE WHEN m.n * m.sxx - m.sx * m.sx > 0
                        AND m.n * m.syy - m.sy * m.sy > 0 THEN
                    round(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                          * CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                          / (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                             * CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE)), 6) END AS rho2,
                  CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_x
           FROM m
         ), pa AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx_arm,
                  CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy_arm
           FROM a GROUP BY 1
         )
         SELECT pa.arm, pa.n,
                round(CAST(pa.sy_arm AS DOUBLE) / CAST(pa.n AS DOUBLE), 6) AS mean_y,
                round(CAST(pa.sy_arm AS DOUBLE) / CAST(pa.n AS DOUBLE)
                      - COALESCE(t.theta, 0.0)
                        * (CAST(pa.sx_arm AS DOUBLE) / CAST(pa.n AS DOUBLE) - t.mean_x), 6)
                  AS mean_y_adj,
                t.theta, t.rho2
         FROM pa, t ORDER BY pa.arm""",
    // q247: the oracle builds the EXPECTED templates directly from the
    // schema the miner never saw — one per event type, the type's count
    "q247_log_templates" ->
      """SELECT event_type || ' user=<n> value=<n> at t=<n>' AS template,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM events WHERE value IS NOT NULL AND value >= 0
         GROUP BY event_type
         ORDER BY n_lines DESC, template ASC
         LIMIT 10""",
    // q246: identical row canonicalization ('|'-joined strings, cents),
    // identical 52-bit md5 row hash, exact 128-bit sum
    "q246_fingerprint" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         h0 AS (
           SELECT 'v0' AS snap, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(CAST(sum(CAST(CAST(('0x' || substr(md5('fp:' ||
                    concat_ws('|', CAST(o_orderkey AS VARCHAR),
                              CAST(o_custkey AS VARCHAR), o_orderstatus,
                              CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR))),
                    1, 13)) AS UBIGINT) AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS fingerprint
           FROM v0
         ), h1 AS (
           SELECT 'v1' AS snap, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(CAST(sum(CAST(CAST(('0x' || substr(md5('fp:' ||
                    concat_ws('|', CAST(o_orderkey AS VARCHAR),
                              CAST(o_custkey AS VARCHAR), o_orderstatus,
                              CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR))),
                    1, 13)) AS UBIGINT) AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS fingerprint
           FROM v1
         )
         SELECT snap, n_rows, fingerprint FROM h0
         UNION ALL SELECT snap, n_rows, fingerprint FROM h1
         ORDER BY snap""",
    // q245: eight unrolled peel rounds; the Spark side's converge-or-
    // throw within the same 8 rounds makes the unroll provably enough
    "q245_kcore" -> duckKCore,
    // q244: identical HUGEINT moment algebra; the +-lag pair set is ONE
    // rn self-join with a signed offset (x_t paired with y_{t+lag})
    "q244_ccf" ->
      """WITH d AS (
           SELECT CAST(ts AS DATE) AS day,
                  sum(CASE WHEN event_type = 'view'
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS x,
                  sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS y
           FROM events GROUP BY 1
         ), b AS (
           SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
                  row_number() OVER (ORDER BY day) AS rn
           FROM d WHERE x IS NOT NULL AND y IS NOT NULL
         ), m AS (
           SELECT CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                  CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                  CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
                  CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
           FROM b
         ), ks AS (SELECT unnest(range(-3, 4)) AS lag),
         pl AS (
           SELECT k.lag, CAST(count(*) AS HUGEINT) AS np,
                  CAST(sum(CAST(a.x AS HUGEINT) * CAST(c.y AS HUGEINT)) AS HUGEINT) AS sab,
                  CAST(sum(CAST(a.x AS HUGEINT)) AS HUGEINT) AS sa,
                  CAST(sum(CAST(c.y AS HUGEINT)) AS HUGEINT) AS sb
           FROM b a
           JOIN ks k ON true
           JOIN b c ON c.rn = a.rn + k.lag
           GROUP BY 1
         )
         SELECT CAST(pl.lag AS INTEGER) AS lag, CAST(m.n AS BIGINT) AS n,
                CAST(pl.np AS BIGINT) AS n_pairs,
                CASE WHEN m.n * m.sxx - m.sx * m.sx > 0
                      AND m.n * m.syy - m.sy * m.sy > 0 THEN
                  round(CAST(m.n * m.n * pl.sab - m.n * m.sy * pl.sa
                             - m.n * m.sx * pl.sb + pl.np * m.sx * m.sy AS DOUBLE)
                        / (CAST(m.n AS DOUBLE)
                           * (sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
                              * sqrt(CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE)))), 6)
                END AS ccf
         FROM pl, m ORDER BY lag""",
    // q243: the identical seeded Laplace draw — same md5 uniform, same
    // 2^-52 clamp, same left-assoc (-b)*sign*ln product, 6dp once
    "q243_dp_release" ->
      """WITH g AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1
         ), u AS (
           SELECT event_type, n,
                  CAST(CAST(('0x' || substr(md5('dp1:' || CAST(event_type AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                    / 4503599627370496.0 AS u
           FROM g
         )
         SELECT event_type,
                round(n + (-2.0) * sign(u - 0.5)
                        * ln(greatest(1.0 - 2.0 * abs(u - 0.5),
                                      1.0 / 4503599627370496.0)), 6) AS noisy_count,
                0.5 AS epsilon, CAST(1 AS BIGINT) AS sensitivity, 2.0 AS scale
         FROM u ORDER BY event_type""",
    // q214: identical class aggregation and rollup
    "q214_k_anonymity" ->
      """WITH cl AS (
           SELECT c_nationkey, c_mktsegment, count(*) AS sz,
                  count(DISTINCT c_acctbal) AS ldiv
           FROM customer GROUP BY 1, 2
         )
         SELECT CAST(5 AS BIGINT) AS k_threshold, CAST(2 AS BIGINT) AS l_threshold,
                CAST(sum(sz) AS BIGINT) AS n_rows,
                CAST(count(*) AS BIGINT) AS n_classes,
                CAST(min(sz) AS BIGINT) AS min_class_size,
                CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_k_violating,
                CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_k_violating,
                CAST(min(ldiv) AS BIGINT) AS min_l,
                CAST(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_l_violating
         FROM cl""",
    // q215: per-cutoff prefix recursion — the identical truncating-div
    // chain of q204, keyed by fold cutoff
    "q215_holt_backtest" ->
      """WITH RECURSIVE d AS (
           SELECT CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
           FROM orders GROUP BY 1
         ), o AS (
           SELECT t, x, CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn FROM d
         ), nn AS (SELECT CAST(max(rn) AS BIGINT) AS n FROM o),
         cuts AS (
           SELECT CAST(unnest(generate_series(n - 7, n - 1)) AS BIGINT) AS c FROM nn
         ), ex AS (
           SELECT c.c, o.rn, o.x FROM o CROSS JOIN cuts c WHERE o.rn <= c.c
         ), r AS (
           SELECT c, rn, x AS l, CAST(0 AS BIGINT) AS tr FROM ex WHERE rn = 1
           UNION ALL
           SELECT ex.c, ex.rn,
                  CAST(trunc((ex.x + r.l + r.tr) / 2.0) AS BIGINT),
                  CAST(trunc((CAST(trunc((ex.x + r.l + r.tr) / 2.0) AS BIGINT)
                              - r.l + r.tr) / 2.0) AS BIGINT)
           FROM r JOIN ex ON ex.c = r.c AND ex.rn = r.rn + 1
         ), fin AS (SELECT c, l + tr AS f1 FROM r WHERE rn = c)
         SELECT CAST(fin.c - (nn.n - 7) + 1 AS BIGINT) AS fold,
                oc.t AS cutoff_t, fin.f1 AS f_1_units, oa.x AS actual_units,
                abs(fin.f1 - oa.x) AS abs_err
         FROM fin
         JOIN o oa ON oa.rn = fin.c + 1
         JOIN o oc ON oc.rn = fin.c
         CROSS JOIN nn
         ORDER BY fold""",
    // q216: the q27 lang_guess machinery + the identical two class-keyed
    // aggregations; f1 from the PUBLISHED rounded precision/recall
    "q216_langid_eval" -> {
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
        s"len([x for x in ltoks if list_contains(${ms.map(m => s"'$m'").mkString("[", ",", "]")}, x)]) AS s_$l"
      }.mkString(", ")
      val mx = s"greatest(${langs.map(l => s"s_$l").mkString(",")})"
      val pick = langs.map(l => s"WHEN s_$l = $mx THEN '$l'").mkString(" ")
      s"""WITH b AS (
            SELECT lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
            FROM documents
          ), sc AS (SELECT lang, $scores FROM b),
          g AS (SELECT lang AS l, CASE WHEN $mx = 0 THEN 'und' $pick END AS p FROM sc),
          bt AS (
            SELECT l AS cls, CAST(count(*) AS BIGINT) AS n_true,
                   CAST(sum(CASE WHEN p = l THEN 1 ELSE 0 END) AS BIGINT) AS tp
            FROM g GROUP BY 1
          ), bp AS (SELECT p AS cls, CAST(count(*) AS BIGINT) AS n_pred FROM g GROUP BY 1),
          tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN p = l THEN 1 ELSE 0 END) AS BIGINT) AS tpall
            FROM g
          ), j AS (
            SELECT COALESCE(bt.cls, bp.cls) AS cls,
                   COALESCE(bt.n_true, 0) AS n_true,
                   COALESCE(bp.n_pred, 0) AS n_pred,
                   COALESCE(bt.tp, 0) AS tp
            FROM bt FULL OUTER JOIN bp ON bp.cls = bt.cls
          ), m AS (
            SELECT cls, n_true, n_pred, tp,
                   CASE WHEN n_pred > 0 THEN round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS "precision",
                   CASE WHEN n_true > 0 THEN round(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS recall
            FROM j
          )
          SELECT m.cls, m.n_true, m.n_pred, m.tp, m."precision", m.recall,
                 CASE WHEN m."precision" IS NOT NULL AND m.recall IS NOT NULL
                           AND (m."precision" + m.recall) > 0
                      THEN round(2.0 * m."precision" * m.recall / (m."precision" + m.recall), 6)
                 END AS f1,
                 round(CAST(tot.tpall AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS accuracy
          FROM m CROSS JOIN tot ORDER BY cls"""
    },
    // q217: identical distinct-pair aggregation per candidate, unioned
    "q217_fd_audit" -> {
      def one(det: String, dep: String) =
        s"""SELECT '$det' AS det, '$dep' AS dep,
              CAST(count(*) AS BIGINT) AS n_groups,
              CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
              CAST(max(k) AS BIGINT) AS max_distinct,
              round(CAST(count(*) - sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS conformance
            FROM (SELECT $det, count(DISTINCT $dep) AS k FROM orders GROUP BY 1)"""
      Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"))
        .map { case (a, b) => one(a, b) }
        .mkString("", " UNION ALL ", " ORDER BY det, dep")
    },
    // q218: identical lag under the (ts, event_id) total order, identical
    // long moment arithmetic and the one sqrt/divide
    "q218_inter_arrival" ->
      """WITH t AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts
           FROM events
         ), g AS (
           SELECT user_id,
                  ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
           FROM t
         ), f AS (SELECT user_id, g FROM g WHERE g IS NOT NULL),
         a AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(g) AS BIGINT) AS sg,
                  CAST(sum(g * g) AS BIGINT) AS sgg,
                  CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz
           FROM f GROUP BY 1
         )
         SELECT user_id AS "user", n + 1 AS n_events, nz AS n_zero_gaps,
                round(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_gap_s,
                CASE WHEN sg > 0 THEN
                  round(sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE), 6)
                END AS cv_gap,
                round(CAST(nz AS DOUBLE) / CAST(n AS DOUBLE), 6) AS zero_gap_frac
         FROM a WHERE n + 1 >= 3 ORDER BY "user"""",
    // q223: identical tokenization (q27 family), identical density
    // rounding, flag from the published density
    "q223_blocklist" ->
      """WITH b AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks
           FROM documents
         ), c AS (
           SELECT doc_id, CAST(len(ltoks) AS BIGINT) AS n_tokens,
                  CAST(len([x for x in ltoks
                            if list_contains(['spark','stream','vector'], x)]) AS BIGINT) AS n_hits
           FROM b
         ), d AS (
           SELECT doc_id, n_tokens, n_hits,
                  CASE WHEN n_tokens = 0 THEN 0.0
                       ELSE round(CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                  END AS density
           FROM c
         )
         SELECT doc_id, n_tokens, n_hits, density, density >= 0.02 AS flagged
         FROM d ORDER BY doc_id""",
    // q222: after delta maintenance the index answer must still equal
    // the whole-table full-scan filter
    "q222_bloom_delta" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CAST(o_totalprice AS DOUBLE) AS total_price
         FROM orders WHERE o_custkey = 721
         ORDER BY o_orderkey""",
    // q221: the q29 pair chain + source labels, |sources|²-bounded rollup
    "q221_cross_source_dup" ->
      s"""$duckShingles, sig AS (
            SELECT doc_id, sh,
              [list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 12)] AS sg
            FROM s
          ), bands AS (
            SELECT doc_id, j.j AS band, md5(array_to_string(sg[j.j*3+1:j.j*3+3], '|')) AS bh
            FROM sig, (SELECT unnest(range(4)) AS j) j
          ), cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
          ), scored AS (
            SELECT c.a, c.b,
              round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
            FROM cand c JOIN s sa ON sa.doc_id = c.a JOIN s sb ON sb.doc_id = c.b
          ), pr AS (SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.3),
          m AS (
            SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b, pr.jaccard
            FROM pr JOIN documents da ON da.doc_id = pr.a
                    JOIN documents db ON db.doc_id = pr.b
          )
          SELECT source_a, source_b, source_a = source_b AS within_source,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 round(CAST(sum(CAST(jaccard AS DECIMAL(10,6))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) AS mean_jaccard
          FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    // q220: the merge sequence and frequency-weighted counts are
    // closed-form on the canonical corpus (×|documents| rows)
    "q220_bpe_learn" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         t(rank, l, r, mult) AS (VALUES
           (1, 'e', 's', 9), (2, 'es', 't', 9), (3, 'est', '</w>', 9),
           (4, 'l', 'o', 7), (5, 'lo', 'w', 7), (6, 'e', 'w', 6))
         SELECT t.rank, t.l AS "left", t.r AS "right",
                t.mult * n.n AS pair_count
         FROM t CROSS JOIN n ORDER BY t.rank""",
    // q219: the index answer must equal the whole-table full-scan filter
    "q219_index_delta" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CAST(o_totalprice AS DOUBLE) AS total_price
         FROM orders
         WHERE o_totalprice BETWEEN 100000.0 AND 110000.0
         ORDER BY o_orderkey""",
    // q201: rational log arguments, identical term rounding/summation
    "q201_mutual_info" ->
      """WITH cells AS (
           SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS o
           FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
           GROUP BY 1, 2
         ), nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         mt AS (
           SELECT round(CAST(c.o AS DOUBLE) / CAST(nn.n AS DOUBLE)
                  * ln(CAST(nn.n AS DOUBLE) * CAST(c.o AS DOUBLE)
                       / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE))), 12) AS t
           FROM cells c JOIN rt ON rt.a = c.a JOIN ct ON ct.b = c.b CROSS JOIN nn
         ), mi AS (SELECT round(CAST(sum(CAST(t AS DECIMAL(24,12))) AS DOUBLE), 6) AS mi FROM mt),
         ha AS (
           SELECT round(CAST(sum(CAST(round(CAST(rt.rt AS DOUBLE) / CAST(nn.n AS DOUBLE)
                  * ln(CAST(nn.n AS DOUBLE) / CAST(rt.rt AS DOUBLE)), 12) AS DECIMAL(24,12))) AS DOUBLE), 6) AS h_a
           FROM rt CROSS JOIN nn
         ), hb AS (
           SELECT round(CAST(sum(CAST(round(CAST(ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE)
                  * ln(CAST(nn.n AS DOUBLE) / CAST(ct.ct AS DOUBLE)), 12) AS DECIMAL(24,12))) AS DOUBLE), 6) AS h_b
           FROM ct CROSS JOIN nn
         )
         SELECT nn.n AS n, mi.mi, ha.h_a, hb.h_b,
                round(mi.mi / least(ha.h_a, hb.h_b), 6) AS nmi
         FROM mi CROSS JOIN ha CROSS JOIN hb CROSS JOIN nn""",
    // q202: every stage replayed — decimal moments, largest remainder,
    // md5-rank draw
    "q202_neyman" ->
      """WITH m AS (
           SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS nh,
                  sum(CAST(n_chars AS DECIMAL(38,4))) AS sx,
                  sum(CAST(CAST(n_chars AS DECIMAL(38,4)) * CAST(n_chars AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sxx
           FROM documents GROUP BY 1
         ), wgt AS (
           SELECT source, CAST(nh AS BIGINT) AS nhl,
                  CAST(nh AS DOUBLE) * sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)
                    / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE))) AS w
           FROM m
         ), a1 AS (
           SELECT source, nhl, 100.0 * w / sum(w) OVER () AS share FROM wgt
         ), a2 AS (
           SELECT source, nhl, share,
                  CAST(floor(share) AS BIGINT) AS base,
                  share - CAST(floor(share) AS BIGINT) AS rem
           FROM a1
         ), a3 AS (
           SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
                  100 - sum(base) OVER () AS leftn
           FROM a2
         ), alloc AS (
           SELECT source,
                  CAST(least(base + CASE WHEN rk <= leftn THEN 1 ELSE 0 END, nhl) AS BIGINT) AS n_h
           FROM a3
         ), ranked AS (
           SELECT d.source, d.doc_id,
                  CAST(row_number() OVER (PARTITION BY d.source
                    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS BIGINT) AS rank
           FROM documents d
         )
         SELECT r.source, r.doc_id, r.rank
         FROM ranked r JOIN alloc a ON a.source = r.source
         WHERE r.rank <= a.n_h
         ORDER BY r.source, r.rank""",
    // q199: identical contingency construction incl. structural zeros,
    // identical term rounding/summation
    "q199_chi2_indep" ->
      """WITH cells AS (
           SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS o
           FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
           GROUP BY 1, 2
         ), rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         dims AS (SELECT (SELECT count(*) FROM rt) AS r, (SELECT count(*) FROM ct) AS c),
         fl AS (
           SELECT rt.rt, ct.ct, COALESCE(cells.o, 0) AS o,
                  CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
           FROM rt CROSS JOIN ct CROSS JOIN nn
                LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
         ), terms AS (
           SELECT round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 12) AS term
           FROM fl
         ), c2 AS (
           SELECT round(CAST(sum(CAST(term AS DECIMAL(24,12))) AS DOUBLE), 6) AS chi2 FROM terms
         )
         SELECT nn.n AS n, CAST(dims.r AS BIGINT) AS n_rows, CAST(dims.c AS BIGINT) AS n_cols,
                c2.chi2,
                round(sqrt(c2.chi2 / (CAST(nn.n AS DOUBLE)
                      * CAST(least(dims.r - 1, dims.c - 1) AS DOUBLE))), 6) AS cramers_v
         FROM c2 CROSS JOIN nn CROSS JOIN dims""",
    // q200: identical rank-weighted long sums and final formula
    "q200_gini" ->
      """WITH t AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM orders
         ), r AS (
           SELECT g, cents,
                  CAST(row_number() OVER (PARTITION BY g ORDER BY cents) AS BIGINT) AS i
           FROM t
         )
         SELECT g AS o_orderpriority, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS total_cents,
                round(2.0 * CAST(sum(i * cents) AS DOUBLE)
                      / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
                      - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE), 6) AS gini
         FROM r GROUP BY 1 ORDER BY 1""",
    // q198: sim from the rounded confidences (published-column doctrine),
    // row_number over (sim desc, rec) replays the physical top-k
    "q198_item_recs" ->
      """WITH bi AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         ), s AS (SELECT i, count(*) AS supp FROM bi GROUP BY 1),
         pr AS (
           SELECT x.i AS pa, y.i AS pb, count(*) AS support
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 100
         ), scored AS (
           SELECT pr.pa, pr.pb,
                  round(sqrt(round(CAST(pr.support AS DOUBLE) / CAST(sa.supp AS DOUBLE), 6)
                             * round(CAST(pr.support AS DOUBLE) / CAST(sb.supp AS DOUBLE), 6)), 6) AS sim
           FROM pr JOIN s sa ON sa.i = pr.pa JOIN s sb ON sb.i = pr.pb
         ), bd AS (
           SELECT pa AS item, pb AS rec, sim FROM scored
           UNION ALL SELECT pb, pa, sim FROM scored
         ), r AS (
           SELECT item, rec, sim,
                  CAST(row_number() OVER (PARTITION BY item ORDER BY sim DESC, rec) AS BIGINT) AS rank
           FROM bd
         )
         SELECT item, rec, sim, rank FROM r WHERE rank <= 3
         ORDER BY item, rank""",
    // q195: recursive-CTE walk over the same graph; UNION dedups states,
    // the hop bound terminates it
    "q195_bfs_hops" ->
      """WITH RECURSIVE bi AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         ), pr AS (
           SELECT x.i AS pa, y.i AS pb, count(*) AS support
           FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 400
         ), e AS (
           SELECT pa AS src, pb AS dst FROM pr
           UNION ALL SELECT pb, pa FROM pr
         ), walk(node, d) AS (
           SELECT 'Brand#12', 0
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node WHERE w.d < 4
         )
         SELECT node, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1 ORDER BY node""",
    // q196/q197: from-scratch BM25 on the corpus the index claims to
    // represent; avgdl from exact sum/count like the served path
    "q196_bm25_indexed" -> bm25IndexOracle,
    "q197_bm25_delta" -> bm25IndexOracle,
    // q191: run heads via lag, intervals via lead over the kept heads —
    // the window-function evaluation order (after WHERE) does the rest
    "q191_scd2" ->
      """WITH w AS (
           SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), h AS (
           SELECT user_id, event_type AS state,
                  CAST(floor(epoch(ts)) AS BIGINT) AS vf_s,
                  CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS DOUBLE) AS vt_s,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
           FROM w WHERE prev_ts IS NULL OR prev <> event_type
         )
         SELECT * FROM h ORDER BY user_id, vf_s""",
    // q192: INDEPENDENT derivation — interval containment join vs the
    // engine's as-of composition
    "q192_temporal_join" ->
      """WITH st AS (SELECT * FROM events WHERE event_type <> 'purchase'),
         w AS (
           SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM st
         ), h AS (
           SELECT user_id, event_type AS state, ts AS vf,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
           FROM w WHERE prev_ts IS NULL OR prev <> event_type
         ), p AS (
           SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
         )
         SELECT p.event_id, p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
                h.state, CAST(floor(epoch(h.vf)) AS DOUBLE) AS since_s
         FROM p LEFT JOIN h ON h.user_id = p.user_id
           AND h.vf <= p.ts AND (h.vt IS NULL OR p.ts < h.vt)
         ORDER BY p.event_id""",
    // q193: identical md5 assignment and the identical z expression tree
    "q193_ab_test" ->
      """WITH units AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' AND value >= 150.0 THEN 1 ELSE 0 END) AS big
           FROM events GROUP BY 1
         ), armed AS (
           SELECT CASE WHEN CAST(CAST(('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                            / 4503599627370496.0 < 0.5
                       THEN 'A' ELSE 'B' END AS arm, big
           FROM units
         ), agg AS (
           SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  CAST(sum(CASE WHEN arm = 'A' THEN big ELSE 0 END) AS BIGINT) AS conv_a,
                  CAST(sum(CASE WHEN arm = 'B' THEN big ELSE 0 END) AS BIGINT) AS conv_b
           FROM armed
         )
         SELECT n_a, n_b, conv_a, conv_b,
                round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
                round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
                round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS lift,
                round((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                       - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                      / sqrt(((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                             * (1.0 - (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z
         FROM agg""",
    // q194: same exact long cumulative weights, same total order
    "q194_weighted_median" ->
      """WITH t AS (
           SELECT l_returnflag AS g, l_extendedprice AS v,
                  CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
           FROM lineitem
         ), c AS (
           SELECT g, v,
                  sum(w) OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  sum(w) OVER (PARTITION BY g) AS tot
           FROM t
         )
         SELECT g AS l_returnflag,
                CAST(min(CASE WHEN cum * 2 >= tot THEN v END) AS DOUBLE) AS wmedian,
                CAST(max(tot) AS BIGINT) AS total_weight
         FROM c GROUP BY 1 ORDER BY 1""",
    // q188: the same two stacked windows in SQL — all long arithmetic
    "q188_cusum" ->
      """WITH t AS (
           SELECT event_type, ts, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) - 5500 AS d
           FROM events
         ), p AS (
           SELECT event_type, ts, event_id,
                  sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
           FROM t
         ), s AS (
           SELECT event_type, ts,
                  pp - least(CAST(0 AS BIGINT),
                             min(pp) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
           FROM p
         )
         SELECT event_type, count(*) AS n,
                CAST(max(sv) AS BIGINT) AS max_s,
                CAST(sum(CASE WHEN sv > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
                CAST(min(CASE WHEN sv > 20000 THEN floor(epoch(ts)) END) AS BIGINT) AS first_alarm_t
         FROM s GROUP BY 1 ORDER BY 1""",
    // q189: digits from integer cents rendered as strings; chi² terms
    // 12dp-rounded and decimal-summed against the same literal shares
    "q189_benford" ->
      """WITH cents AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM orders WHERE o_totalprice > 0
         ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM cents),
         obs AS (
           SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit, count(*) AS observed
           FROM cents GROUP BY 1
         ), exp AS (
           SELECT * FROM (VALUES
             (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829993),
             (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322),
             (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514))
             AS t(digit, share)
         ), j AS (
           SELECT e.digit, COALESCE(o.observed, 0) AS observed,
                  round(n.n * e.share, 6) AS expected,
                  round((CAST(COALESCE(o.observed, 0) AS DOUBLE) - n.n * e.share)
                        * (CAST(COALESCE(o.observed, 0) AS DOUBLE) - n.n * e.share)
                        / (n.n * e.share), 12) AS term
           FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN n
         ), c2 AS (
           SELECT round(CAST(sum(CAST(term AS DECIMAL(20,12))) AS DOUBLE), 6) AS chi2 FROM j
         )
         SELECT j.digit, j.observed, j.expected, c2.chi2
         FROM j CROSS JOIN c2 ORDER BY j.digit""",
    // q190: INDEPENDENT derivation — conversions×touches join + ranked
    // split, vs the engine's windowed running-touch-list explode
    "q190_linear_touch" ->
      """WITH conv AS (
           SELECT user_id AS u, ts AS ct, event_id AS cid,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'
         ), tch AS (
           SELECT user_id AS u, ts AS tt, event_id AS tid, event_type AS ch
           FROM events WHERE event_type IN ('click', 'view')
         ), el AS (
           SELECT c.cid, c.cents, t.tt, t.tid, t.ch
           FROM conv c JOIN tch t ON t.u = c.u
            AND (t.tt < c.ct OR (t.tt = c.ct AND t.tid < c.cid))
            AND CAST(floor(epoch(c.ct)) AS BIGINT) - CAST(floor(epoch(t.tt)) AS BIGINT) <= 3600
         ), r AS (
           SELECT *, row_number() OVER (PARTITION BY cid ORDER BY tt, tid) AS rn,
                  count(*) OVER (PARTITION BY cid) AS k
           FROM el
         ), cr AS (
           SELECT ch AS channel,
                  cents // k + CASE WHEN rn = k THEN cents % k ELSE 0 END AS credit
           FROM r
           UNION ALL
           SELECT 'direct', cents FROM conv
           WHERE cid NOT IN (SELECT cid FROM el)
         )
         SELECT channel, count(*) AS n_credits,
                CAST(sum(credit) AS BIGINT) AS credited_cents
         FROM cr GROUP BY 1 ORDER BY 1""",
    // q185: identical lead() durations (raw-ts window order, floored-
    // second values) and the identical single-ratio arithmetic
    "q185_twap" ->
      """WITH t AS (
           SELECT user_id, ts, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events
         ), d AS (
           SELECT user_id, cents,
                  COALESCE(lead(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) - tsec, 0) AS dur
           FROM t
         )
         SELECT user_id, count(*) AS n_events,
                CAST(sum(dur) AS BIGINT) AS dur_s,
                CASE WHEN sum(dur) > 0
                     THEN round(CAST(sum(cents * dur) AS DOUBLE)
                                / (CAST(sum(dur) AS DOUBLE) * 100.0), 6) END AS twap
         FROM d GROUP BY 1 ORDER BY user_id""",
    // q186: same total-order row_number windows, same bucket floor
    "q186_ohlc" ->
      """WITH b AS (
           SELECT event_type, date_trunc('day', ts) AS bkt, ts, event_id, value
           FROM events
         ), r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY event_type, bkt ORDER BY ts, event_id) AS ra,
                  row_number() OVER (PARTITION BY event_type, bkt ORDER BY ts DESC, event_id DESC) AS rd
           FROM b
         )
         SELECT event_type, CAST(floor(epoch(bkt)) AS BIGINT) AS bucket_ts,
                max(CASE WHEN ra = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rd = 1 THEN value END) AS close,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM r GROUP BY 1, 2 ORDER BY event_type, bucket_ts""",
    // q187: identical decimal moments and assembly; sqrt is IEEE
    // correctly-rounded on both engines
    "q187_corr" ->
      """WITH m AS (
           SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
                  sum(CAST(l_quantity AS DECIMAL(38,4))) AS s_q,
                  sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS s_e,
                  sum(CAST(l_discount AS DECIMAL(38,4))) AS s_d,
                  sum(CAST(l_tax AS DECIMAL(38,4))) AS s_t,
                  sum(CAST(CAST(l_quantity AS DECIMAL(38,4)) * CAST(l_quantity AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS ss_q,
                  sum(CAST(CAST(l_extendedprice AS DECIMAL(38,4)) * CAST(l_extendedprice AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS ss_e,
                  sum(CAST(CAST(l_discount AS DECIMAL(38,4)) * CAST(l_discount AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS ss_d,
                  sum(CAST(CAST(l_tax AS DECIMAL(38,4)) * CAST(l_tax AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS ss_t,
                  sum(CAST(CAST(l_quantity AS DECIMAL(38,4)) * CAST(l_extendedprice AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sp_q_e,
                  sum(CAST(CAST(l_quantity AS DECIMAL(38,4)) * CAST(l_discount AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sp_q_d,
                  sum(CAST(CAST(l_quantity AS DECIMAL(38,4)) * CAST(l_tax AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sp_q_t,
                  sum(CAST(CAST(l_extendedprice AS DECIMAL(38,4)) * CAST(l_discount AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sp_e_d,
                  sum(CAST(CAST(l_extendedprice AS DECIMAL(38,4)) * CAST(l_tax AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sp_e_t,
                  sum(CAST(CAST(l_discount AS DECIMAL(38,4)) * CAST(l_tax AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS sp_d_t
           FROM lineitem
         ), pairs AS (
           SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n, sp_q_e AS sp, s_q AS sa, s_e AS sb, ss_q AS ssa, ss_e AS ssb FROM m
           UNION ALL SELECT 'l_quantity', 'l_discount', n, sp_q_d, s_q, s_d, ss_q, ss_d FROM m
           UNION ALL SELECT 'l_quantity', 'l_tax', n, sp_q_t, s_q, s_t, ss_q, ss_t FROM m
           UNION ALL SELECT 'l_extendedprice', 'l_discount', n, sp_e_d, s_e, s_d, ss_e, ss_d FROM m
           UNION ALL SELECT 'l_extendedprice', 'l_tax', n, sp_e_t, s_e, s_t, ss_e, ss_t FROM m
           UNION ALL SELECT 'l_discount', 'l_tax', n, sp_d_t, s_d, s_t, ss_d, ss_t FROM m
         )
         SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
                round(CAST(n * sp - sa * sb AS DOUBLE)
                      / sqrt(CAST(n * ssa - sa * sa AS DOUBLE) * CAST(n * ssb - sb * sb AS DOUBLE)), 6) AS corr
         FROM pairs ORDER BY col_a, col_b""",
    // q184: the index only skips files that cannot intersect the probe —
    // the pruned lookup must equal the full-scan BETWEEN
    "q184_secondary_index" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CAST(o_totalprice AS DOUBLE) AS total_price
         FROM orders
         WHERE o_totalprice BETWEEN 100000.0 AND 110000.0
         ORDER BY o_orderkey""",
    // q182: identical binning (declared bounds), Laplace smoothing, and
    // 12dp-rounded decimal-summed terms on both engines
    "q182_psi" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         n0 AS (SELECT count(*) AS n FROM v0), n1 AS (SELECT count(*) AS n FROM v1),
         bins AS (SELECT unnest(range(10)) AS bin),
         b0 AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0.0), 9.0) AS BIGINT) AS bin,
                       count(*) AS c FROM v0 GROUP BY 1),
         b1 AS (SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0.0), 9.0) AS BIGINT) AS bin,
                       count(*) AS c FROM v1 GROUP BY 1),
         p AS (SELECT bins.bin, CAST(COALESCE(b0.c, 0) + 1 AS DOUBLE) / CAST(n0.n + 10 AS DOUBLE) AS p
               FROM bins LEFT JOIN b0 ON b0.bin = bins.bin CROSS JOIN n0),
         q AS (SELECT bins.bin, CAST(COALESCE(b1.c, 0) + 1 AS DOUBLE) / CAST(n1.n + 10 AS DOUBLE) AS q
               FROM bins LEFT JOIN b1 ON b1.bin = bins.bin CROSS JOIN n1)
         SELECT round(CAST(sum(CAST(round((q.q - p.p) * ln(q.q / p.p), 12) AS DECIMAL(20,12))) AS DOUBLE), 6) AS psi,
                (SELECT n FROM n0) AS n_old, (SELECT n FROM n1) AS n_new
         FROM p JOIN q ON p.bin = q.bin""",
    // q183: the max runs on integer |c1*n2 - c2*n1|; ratio published once
    "q183_ks_test" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         t AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, 1 AS s1, 0 AS s2 FROM v0
               UNION ALL
               SELECT CAST(o_totalprice AS DOUBLE), 0, 1 FROM v1),
         pv AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM t WHERE v IS NOT NULL GROUP BY 1),
         n AS (SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(sum(s2) AS BIGINT) AS n2 FROM t),
         c AS (SELECT v,
                      sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a1,
                      sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a2
               FROM pv),
         m AS (SELECT c.v, CAST(abs(a1 * n.n2 - a2 * n.n1) AS BIGINT) AS num, n.n1, n.n2 FROM c CROSS JOIN n)
         SELECT round(CAST(num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS ks,
                v AS at_value, n1 AS n_old, n2 AS n_new
         FROM m ORDER BY num DESC, v LIMIT 1""",
    // q398: the q183 CDF ladder re-read as an L2 integral — exact
    // HUGEINT Σ w·(a1·n2−a2·n1)², doubles only in the two final divides
    "q398_cvm_test" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         t AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, 1 AS s1, 0 AS s2 FROM v0
               UNION ALL
               SELECT CAST(o_totalprice AS DOUBLE), 0, 1 FROM v1),
         pv AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM t WHERE v IS NOT NULL GROUP BY 1),
         n AS (SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(sum(s2) AS BIGINT) AS n2 FROM t),
         c AS (SELECT v, c1, c2,
                      sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a1,
                      sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a2
               FROM pv),
         agg AS (SELECT CAST(sum(CAST(c.c1 + c.c2 AS HUGEINT)
                                 * (CAST(a1 * n.n2 - a2 * n.n1 AS HUGEINT)
                                    * CAST(a1 * n.n2 - a2 * n.n1 AS HUGEINT))) AS HUGEINT) AS t_units,
                        max(n.n1) AS n1, max(n.n2) AS n2
                 FROM c CROSS JOIN n)
         SELECT CASE WHEN n1 > 0 AND n2 > 0 THEN
                  round(CAST(t_units AS DOUBLE)
                        / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE) * CAST(n1 * n2 AS DOUBLE)), 6)
                END AS cvm_t,
                CASE WHEN n1 > 0 AND n2 > 0 THEN
                  round(CAST(t_units AS DOUBLE)
                        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 * n2 AS DOUBLE) * CAST(n1 * n2 AS DOUBLE)), 6)
                END AS omega2,
                n1 AS n_old, n2 AS n_new
         FROM agg""",
    // q401: the q398 ladder with the A² weighting — per-value exact
    // HUGEINT rational, one 12dp-rounded divide per distinct value,
    // DECIMAL-summed, non-positive denominators skipped by definition
    "q401_anderson_darling" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         t AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, 1 AS s1, 0 AS s2 FROM v0
               UNION ALL
               SELECT CAST(o_totalprice AS DOUBLE), 0, 1 FROM v1),
         pv AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM t WHERE v IS NOT NULL GROUP BY 1),
         n AS (SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(sum(s2) AS BIGINT) AS n2 FROM t),
         c AS (SELECT v, c1, c2,
                      sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a1,
                      sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a2
               FROM pv),
         terms AS (
           SELECT n.n1, n.n2,
                  CASE WHEN (2*(a1+a2) - (c1+c2)) * (2*(n.n1+n.n2) - (2*(a1+a2) - (c1+c2)))
                         - (n.n1+n.n2) * (c1+c2) > 0 THEN
                    round(CAST(CAST(c1+c2 AS HUGEINT)
                               * (CAST((n.n1+n.n2) * (2*a1 - c1) - n.n1 * (2*(a1+a2) - (c1+c2)) AS HUGEINT)
                                  * CAST((n.n1+n.n2) * (2*a1 - c1) - n.n1 * (2*(a1+a2) - (c1+c2)) AS HUGEINT)) AS DOUBLE)
                          / CAST((2*(a1+a2) - (c1+c2)) * (2*(n.n1+n.n2) - (2*(a1+a2) - (c1+c2)))
                                 - (n.n1+n.n2) * (c1+c2) AS DOUBLE), 12)
                  ELSE 0.0 END AS trm
           FROM c CROSS JOIN n
         ), agg AS (
           SELECT max(n1) AS n1, max(n2) AS n2,
                  sum(CAST(trm AS DECIMAL(38,12))) AS s
           FROM terms
         )
         SELECT CASE WHEN n1 > 0 AND n2 > 0 THEN
                  round(CAST(s AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)
                        / (CAST(n1 * n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)), 6)
                END AS ad_a2,
                n1 AS n_old, n2 AS n_new
         FROM agg""",
    // q180: collision-free regime — the oracle's exact token counts ARE
    // the expected estimates
    "q180_countmin" ->
      """WITH t AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         )
         SELECT w, count(*) AS est FROM t GROUP BY w ORDER BY w""",
    // q242: the oracle RUNS the join the sketch avoids — in the
    // collision-free bounded-domain regime the estimate must equal it
    "q242_join_size" ->
      """SELECT (SELECT count(*) FROM supplier WHERE s_nationkey IS NOT NULL) AS n_left,
                (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL) AS n_right,
                (SELECT count(*) FROM supplier s JOIN customer c
                 ON s.s_nationkey = c.c_nationkey) AS est_join_size""",
    // q181: identical integer ladder — cents // (1 << age-buckets)
    "q181_decayed_topk" ->
      """WITH d AS (
           SELECT user_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    // (CAST(1 AS BIGINT) << CAST(least(greatest(
                         datediff('day', CAST(ts AS DATE), DATE '2024-02-01') // 7, 0), 62) AS INT)) AS dc
           FROM events
         )
         SELECT user_id, CAST(sum(dc) AS BIGINT) AS decayed_cents, count(*) AS n_events
         FROM d GROUP BY 1
         ORDER BY decayed_cents DESC, user_id LIMIT 15""",
    // q178: the oracle recounts each pairwise audience with exact
    // DISTINCT set SQL — bitmaps must match it bit-for-bit
    "q178_bitmap_audience" ->
      """WITH u AS (SELECT DISTINCT event_type AS g, user_id AS uid FROM events),
         g AS (SELECT DISTINCT g FROM u),
         p AS (SELECT a.g AS g_a, b.g AS g_b FROM g a JOIN g b ON a.g < b.g)
         SELECT p.g_a, p.g_b,
                (SELECT count(*) FROM u WHERE u.g = p.g_a) AS n_a,
                (SELECT count(*) FROM u WHERE u.g = p.g_b) AS n_b,
                (SELECT count(*) FROM u x JOIN u y ON x.uid = y.uid
                  WHERE x.g = p.g_a AND y.g = p.g_b) AS n_and,
                (SELECT count(DISTINCT uid) FROM u
                  WHERE u.g = p.g_a OR u.g = p.g_b) AS n_or,
                round(CAST((SELECT count(*) FROM u x JOIN u y ON x.uid = y.uid
                            WHERE x.g = p.g_a AND y.g = p.g_b) AS DOUBLE)
                      / CAST((SELECT count(DISTINCT uid) FROM u
                              WHERE u.g = p.g_a OR u.g = p.g_b) AS DOUBLE), 6) AS jaccard
         FROM p ORDER BY g_a, g_b""",
    // q179: identical window semantics — IGNORE NULLS last over a total
    // (ts, id) ROWS frame; floor-to-second timestamps on both engines
    "q179_attribution" ->
      """WITH t AS (
           SELECT *,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_t,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_ch
           FROM events
         )
         SELECT CASE WHEN lt_t IS NOT NULL
                      AND CAST(floor(epoch(ts)) AS BIGINT) - lt_t <= 3600
                     THEN lt_ch ELSE 'direct' END AS channel,
                count(*) AS n_conversions,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM t WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY channel""",
    // q175: exact counts; conf/lift pure rounded functions of them
    "q175_association" ->
      (duckBrandGraph +
        """, n AS (SELECT count(DISTINCT b) AS nb FROM bi),
           s AS (SELECT i, count(*) AS supp FROM bi GROUP BY 1)
           SELECT pr.pa AS item_a, pr.pb AS item_b, pr.support,
                  round(CAST(pr.support AS DOUBLE) / CAST(sa.supp AS DOUBLE), 6) AS conf_ab,
                  round(CAST(pr.support AS DOUBLE) / CAST(sb.supp AS DOUBLE), 6) AS conf_ba,
                  round(CAST(n.nb AS DOUBLE) * CAST(pr.support AS DOUBLE)
                        / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)), 6) AS lift
           FROM pr CROSS JOIN n
                JOIN s sa ON sa.i = pr.pa JOIN s sb ON sb.i = pr.pb
           ORDER BY item_a, item_b"""),
    "q176_pagerank" -> duckPageRank,
    // q177: ordered three-join counts each triangle once; corners explode
    "q177_triangles" ->
      (duckBrandGraph +
        """, w AS (
             SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
             FROM pr e1 JOIN pr e2 ON e2.pa = e1.pb
           ), t AS (
             SELECT w.x, w.y, w.z FROM w JOIN pr e3 ON e3.pa = w.x AND e3.pb = w.z
           ), u AS (SELECT unnest([x, y, z]) AS node FROM t)
           SELECT node, count(*) AS n_triangles FROM u GROUP BY 1 ORDER BY node"""),
    "q27_text_quality" -> {
      val sw = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("[", ",", "]")
      val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
        s"len([x for x in ltoks if list_contains(${ms.map(m => s"'$m'").mkString("[", ",", "]")}, x)]) AS s_$l"
      }.mkString(", ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val mx = s"greatest(${langs.map(l => s"s_$l").mkString(",")})"
      val pick = langs.map(l => s"WHEN s_$l = $mx THEN '$l'").mkString(" ")
      s"""WITH b AS (
            SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\\s+') AS wtoks,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
            FROM documents
          ), sc AS (
            SELECT doc_id, text, wtoks, ltoks, $scores FROM b
          )
          SELECT doc_id,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_cnt,
            CAST(ceil(length(text) / 4.0) AS BIGINT) AS tok_est,
            round((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                 + CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END
                 + least((CASE WHEN len(ltoks) = 0 THEN 0.0 ELSE CAST(len([x for x in ltoks if list_contains($sw, x)]) AS DOUBLE) / len(ltoks) END) * 4.0, 1.0)
                 + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0)))
                 / 4.0, 6) AS quality,
            CASE WHEN $mx = 0 THEN 'und' $pick END AS lang_guess
          FROM sc ORDER BY doc_id"""
    },
    "q28_minhash_sig" ->
      s"""$duckShingles
          SELECT doc_id,
            array_to_string([list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 8)], ',') AS sig
          FROM s ORDER BY doc_id""",
    "q29_dedup_minhash" ->
      s"""$duckShingles, sig AS (
            SELECT doc_id, sh,
              [list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 12)] AS sg
            FROM s
          ), bands AS (
            SELECT doc_id, j.j AS band, md5(array_to_string(sg[j.j*3+1:j.j*3+3], '|')) AS bh
            FROM sig, (SELECT unnest(range(4)) AS j) j
          ), cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
          ), scored AS (
            SELECT c.a, c.b,
              round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
            FROM cand c JOIN s sa ON sa.doc_id = c.a JOIN s sb ON sb.doc_id = c.b
          )
          SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.3 ORDER BY a, b""",
    "q30_simhash" ->
      s"""WITH t AS (
            SELECT doc_id,
              list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS dtoks
            FROM documents
          )
          SELECT doc_id, $duckSimhashExpr AS sim FROM t ORDER BY doc_id""",
    "q31_neardup_cosine" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 2000 AND b.vec_id < 2000
           AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
         ORDER BY a, b""",
    "q44_neardup_lsh" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 2000 AND b.vec_id < 2000
           AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
         ORDER BY a, b""",
    "q32_vector_search" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
         SELECT e.vec_id AS pk,
                round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance,
                round(1.0 / (1.0 + round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6)), 6) AS score
         FROM embeddings e, q
         ORDER BY distance, pk LIMIT 10""",
    "q34_kv_roundtrip" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS value
         FROM customer WHERE c_custkey <= 10
         ORDER BY CAST(key AS BIGINT)""",
    "q35_multimodal" ->
      """SELECT doc_id AS media_id,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_len,
                sha256(text) AS digest,
                CASE WHEN length(text) = 0 THEN 0 ELSE (ascii(substr(text, 1, 1)) % 64) + 1 END AS width,
                CASE WHEN length(text) = 0 THEN 0 ELSE (ascii(substr(text, length(text), 1)) % 64) + 1 END AS height
         FROM documents ORDER BY media_id""",
    "q36_events_session" ->
      """WITH e AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), g AS (
           SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
           FROM e
         )
         SELECT user_id, min(ts) AS session_start, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM g GROUP BY user_id, grp
         ORDER BY user_id, session_start""",
    "q37_watch" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
         WHERE o_orderstatus = 'O'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q43_sql" ->
      """SELECT n_name, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderstatus = 'O'
         GROUP BY n_name
         ORDER BY n_name""",
    "q42_json_extract" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
         FROM events
         WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 90
         ORDER BY event_id""",
    "q41_asof_join" ->
      """SELECT l.user_id, l.event_id, l.ts, r.ts AS ts_right, r.value
         FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.user_id, l.event_id""",
    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q39_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts, count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q40_window_running" ->
      """SELECT o_custkey, o_orderkey,
                rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders WHERE o_custkey <= 50
         ORDER BY o_custkey, o_orderkey""",
    "q01_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",
    "q02_filter_in_like" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
         WHERE p_size IN (1,5,9) AND p_name LIKE '%bolt%'
         ORDER BY p_partkey""",
    "q03_filter_andor" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE (o_orderstatus = 'F' AND o_totalprice > 150000)
            OR (o_orderstatus = 'O' AND o_totalprice < 30000)
         ORDER BY o_orderkey""",
    "q04_filter_between_notin" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_returnflag FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-03-31'
           AND (l_returnflag IS NULL OR l_returnflag NOT IN ('A'))
         ORDER BY l_orderkey, l_linenumber""",
    "q05_select_alias" ->
      """SELECT c_custkey, c_name AS name, c_acctbal AS balance FROM customer
         WHERE c_mktsegment = 'BUILDING' AND c_name IS NOT NULL
         ORDER BY c_custkey""",
    "q06_agg_global" ->
      """SELECT count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                min(l_quantity) AS min_qty,
                max(l_quantity) AS max_qty,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
         FROM lineitem""",
    "q07_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q08_having" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders
         GROUP BY o_orderpriority
         HAVING count(*) > 100
         ORDER BY o_orderpriority""",
    "q09_join_inner" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    "q10_join_left_null" ->
      """SELECT c_custkey, c_name FROM customer
         LEFT JOIN orders ON c_custkey = o_custkey
         WHERE o_orderkey IS NULL
         ORDER BY c_custkey""",
    "q11_join_right" ->
      """SELECT c_nationkey, count(*) AS n_rows
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey
         ORDER BY c_nationkey""",
    "q12_join_theta" ->
      """SELECT n_name, r_name FROM nation JOIN region ON n_regionkey < r_regionkey
         ORDER BY n_name, r_name""",
    "q13_join_multi3" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'AUTOMOBILE' AND l_shipdate > TIMESTAMP '1996-01-01'
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q14_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority""",
    "q15_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         LIMIT 10""",
    "q16_offset" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         LIMIT 10 OFFSET 20""",
    "q17_pk_numeric_string" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS pk, o_totalprice FROM orders
         ORDER BY length(CAST(o_orderkey AS VARCHAR)), CAST(o_orderkey AS VARCHAR)
         LIMIT 50""",
    "q18_cursor_page2" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         LIMIT 10 OFFSET 10""",
    "q19_count" ->
      """SELECT count(*) AS cnt FROM lineitem WHERE l_discount >= 0.05""",
    "q20_update_expr" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN l_returnflag = 'R'
                     THEN least(greatest(l_quantity * 2, 0), 75)
                     ELSE l_quantity END AS l_quantity,
                CASE WHEN l_returnflag = 'R'
                     THEN least(l_discount + 0.01, 0.1)
                     ELSE l_discount END AS l_discount
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",
    "q21_upsert" ->
      """WITH staged AS (
           SELECT c_custkey, c_name || '_u' AS c_name, c_nationkey,
                  c_acctbal + 1000 AS c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey <= 5
           UNION ALL
           SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR),
                  c_nationkey, 0.0, 'NONE'
           FROM customer WHERE c_custkey <= 3)
         SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
                COALESCE(s.c_name, t.c_name) AS c_name,
                COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
                COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
                COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
         FROM customer t FULL OUTER JOIN staged s ON t.c_custkey = s.c_custkey
         ORDER BY c_custkey""",
    "q22_window_topn" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) t
         WHERE rn <= 3
         ORDER BY user_id, rn""",
    "q23_events_tumbling" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY bucket, event_type""",
    "q24_text_stats" ->
      """SELECT doc_id, length(text) AS len,
                length(regexp_split_to_array(trim(text), '\s+')) AS tok_cnt,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents
         ORDER BY doc_id""",
    "q25_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                min(doc_id) AS keeper, count(*) AS dupes
         FROM documents
         GROUP BY 1
         ORDER BY fp""",
    "q51_events_sliding" ->
      """SELECT time_bucket(INTERVAL '30 minutes', ts) - to_minutes(30*j) AS ws,
                event_type, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events, (SELECT unnest([0, 1]) AS j) jj
         GROUP BY 1, 2
         ORDER BY ws, event_type""",
    "q52_selectagg_mixed" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                max(o_totalprice) AS max_total
         FROM orders
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "q89_cache_epoch" ->
      """WITH acct AS (
           SELECT CAST(c_custkey AS VARCHAR) AS id,
                  CASE WHEN c_mktsegment = 'BUILDING' THEN 0.0
                       ELSE CAST(c_acctbal AS DOUBLE) END AS bal,
                  c_mktsegment AS seg
           FROM customer WHERE c_custkey <= 40)
         SELECT seg, count(*) AS cnt, max(bal) AS max_bal,
                1 AS cache_hits, 2 AS cache_misses
         FROM acct WHERE bal > 0
         GROUP BY seg ORDER BY seg""",
    "q53_upsert_branch" ->
      """WITH staged AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey <= 5
           UNION ALL
           SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey <= 3)
         SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
                COALESCE(s.c_name, t.c_name) AS c_name,
                CASE WHEN s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL
                       THEN t.c_acctbal + 1000
                     WHEN s.c_custkey IS NOT NULL THEN 0.0
                     ELSE t.c_acctbal END AS c_acctbal
         FROM customer t FULL OUTER JOIN staged s ON t.c_custkey = s.c_custkey
         ORDER BY c_custkey""",
    "q54_spaces" ->
      """SELECT space, id, name FROM (
           SELECT 'default' AS space, CAST(c_custkey AS VARCHAR) AS id, c_name AS name
           FROM customer WHERE c_custkey BETWEEN 1 AND 5
           UNION ALL
           SELECT 'alt', CAST(c_custkey AS VARCHAR), c_name
           FROM customer WHERE c_custkey BETWEEN 6 AND 10
           UNION ALL
           SELECT 'global-via-alt', CAST(c_custkey AS VARCHAR), c_name
           FROM customer WHERE c_custkey = 1)
         ORDER BY space, length(id), id""",
    "q61_sessionize" ->
      """WITH m AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                       THEN 1 ELSE 0 END AS ns
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), s AS (
           SELECT user_id, ts,
                  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
           FROM m
         )
         SELECT user_id AS key, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS events
         FROM s
         GROUP BY user_id, sid
         ORDER BY key, session_start""",
    "q64_fk_autojoin" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_id,
                CAST(o_custkey AS VARCHAR) AS cust, c_name AS cname
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_custkey <= 30
         ORDER BY o_orderkey""",
    "q62_migration" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id, c_name AS name,
                CAST(c_nationkey AS DOUBLE) AS qty, 'active' AS status
         FROM customer WHERE c_custkey <= 30
         ORDER BY c_custkey""",
    // q239: the oracle recomputes each space's post-migration slice from
    // the fixture ranges; the task columns are the CONTRACT (completed,
    // 3/3 spaces, 0 pending, records = Σ slice rows, deterministic id)
    "q239_migration_task" ->
      """WITH sl AS (
           SELECT CASE WHEN c_custkey BETWEEN 1 AND 20 THEN 'default'
                       WHEN c_custkey BETWEEN 21 AND 40 THEN 'beta'
                       ELSE 'gamma' END AS space,
                  c_nationkey
           FROM customer WHERE c_custkey BETWEEN 1 AND 60
         )
         SELECT space, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(c_nationkey AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(count(*) AS BIGINT) AS n_active,
                'mig-mig2-1' AS task_id, 1 AS is_completed,
                3 AS processed_spaces, 3 AS total_spaces,
                CAST((SELECT count(*) FROM sl) AS BIGINT) AS records_processed,
                0 AS pending_spaces
         FROM sl GROUP BY space ORDER BY space""",
    "q63_fk_onupdate" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_id,
                CASE WHEN o_custkey = 1 THEN '9001'
                     WHEN o_custkey = 2 THEN '9002'
                     ELSE CAST(o_custkey AS VARCHAR) END AS cust
         FROM orders WHERE o_custkey <= 30
         ORDER BY o_orderkey""",
    "q57_bulk_ingest" ->
      """SELECT l_returnflag AS flag, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                count(*) AS distinct_ids
         FROM lineitem
         GROUP BY 1
         ORDER BY 1""",
    "q58_watch_incremental" ->
      """SELECT date_trunc('hour', ts) AS w_start, CAST(user_id AS VARCHAR) AS key,
                count(*) AS cnt
         FROM events WHERE event_id <= 2000
         GROUP BY 1, 2
         ORDER BY w_start, CAST(key AS BIGINT)""",
    "q59_backup_restore" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id, c_name AS cname
         FROM customer WHERE c_custkey <= 100
         ORDER BY c_custkey""",
    "q60_fk_cascade" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_id, CAST(o_custkey AS VARCHAR) AS cust
         FROM orders WHERE o_custkey <= 50 AND o_custkey NOT IN (1, 2, 3, 4, 5)
         ORDER BY o_orderkey""",
    "q56_join_loose" ->
      """SELECT s.id AS id, count(*) AS cnt
         FROM orders o JOIN (
           SELECT CAST(c_custkey AS VARCHAR) AS id FROM customer WHERE c_custkey <= 20
           UNION ALL SELECT '3.0'
         ) s ON CAST(o.o_custkey AS VARCHAR) = s.id
         GROUP BY 1
         ORDER BY 1""",
    // q257: identical (count desc, value asc) rank pick
    "q257_mode" ->
      """WITH c AS (
           SELECT c.c_mktsegment AS g, o.o_orderpriority AS v,
                  CAST(count(*) AS BIGINT) AS c
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE o.o_orderpriority IS NOT NULL
           GROUP BY 1, 2
         ), r AS (
           SELECT g, v, c,
                  row_number() OVER (PARTITION BY g ORDER BY c DESC, v ASC) AS rn,
                  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS nd
           FROM c
         )
         SELECT g AS c_mktsegment, v AS mode, c AS mode_count, nd AS n_distinct
         FROM r WHERE rn = 1 ORDER BY c_mktsegment""",
    // q256: ordered all-pairs containment over the same shingle sets
    "q256_containment" ->
      s"""$duckShingles, scored AS (
            SELECT a.doc_id AS contained, b.doc_id AS container,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / CAST(len(a.sh) AS DOUBLE), 6) AS containment,
              CAST(len(a.sh) AS INTEGER) AS sz_contained,
              CAST(len(b.sh) AS INTEGER) AS sz_container
            FROM s a JOIN s b ON a.doc_id <> b.doc_id
            WHERE len(a.sh) > 0
          )
          SELECT contained, container, containment, sz_contained, sz_container
          FROM scored WHERE containment >= 0.5
          ORDER BY contained, container""",
    "q65_jaccard_pairs" ->
      s"""$duckShingles, scored AS (
            SELECT a.doc_id AS a, b.doc_id AS b,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
          )
          SELECT a, b, jaccard FROM scored WHERE jaccard >= 0.3 ORDER BY a, b""",
    "q68_stream_iter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_totalprice > 480000 ORDER BY o_orderkey""",
    "q69_insert_split" ->
      """SELECT CAST(p_partkey AS VARCHAR) AS id, CAST(p_size AS BIGINT) AS sz
         FROM part WHERE p_partkey % 7 <> 0 ORDER BY p_partkey""",
    "q70_self_join" ->
      """SELECT a.n_name AS left_name, b.n_name AS right_name
         FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
         ORDER BY left_name, right_name""",
    "q71_default_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(1 AS INT) AS has_more
         FROM orders ORDER BY o_orderkey LIMIT 1000""",
    "q72_update_sugar" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
                CASE WHEN c_custkey = 1 THEN c_acctbal
                     ELSE least(greatest(c_acctbal + 100, 0), 5000) END AS bal,
                CASE WHEN c_custkey = 1 THEN c_custkey % 5
                     ELSE greatest(c_custkey % 5, 2) END AS tier
         FROM customer WHERE c_custkey <= 50
         ORDER BY c_custkey""",
    "q87_pq_adc" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
         SELECT e.vec_id AS pk,
                round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance,
                round(1.0 / (1.0 + round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6)), 6) AS score
         FROM embeddings e, q
         ORDER BY distance, pk LIMIT 10""",
    "q90_pq_batch" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id IN (3, 7, 11)),
         scored AS (SELECT q.qid, e.vec_id AS pk,
                           round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance
                    FROM embeddings e, q),
         ranked AS (SELECT qid, pk, distance,
                           round(1.0 / (1.0 + distance), 6) AS score,
                           CAST(row_number() OVER (PARTITION BY qid ORDER BY distance, pk) AS INT) AS rank
                    FROM scored)
         SELECT qid, pk, distance, score, rank FROM ranked
         WHERE rank <= 10 ORDER BY qid, rank""",
    "q73_int8_rerank" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
         SELECT e.vec_id AS pk,
                round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance,
                round(1.0 / (1.0 + round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6)), 6) AS score
         FROM embeddings e, q
         ORDER BY distance, pk LIMIT 10""",
    "q74_each_batch" ->
      """SELECT count(*) AS cnt FROM lineitem WHERE l_quantity > 45""",
    "q76_chunking" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
           FROM documents
         ), c AS (
           SELECT doc_id, toks, len(toks) AS n,
                  CASE WHEN len(toks) <= 64 THEN 1
                       ELSE CAST(ceil(CAST(len(toks) - 64 AS DOUBLE) / 48) AS INT) + 1
                  END AS nchunks
           FROM t
         ), u AS (
           SELECT doc_id,
                  unnest([{'chunk_idx': CAST(i AS BIGINT),
                           'chunk_text': array_to_string(toks[i*48+1 : i*48+64], ' '),
                           'chunk_tokens': least(CAST(64 AS BIGINT), n - i*48)}
                          for i in range(0, nchunks)], recursive := true)
           FROM c
         )
         SELECT doc_id, chunk_idx, chunk_text, chunk_tokens
         FROM u ORDER BY doc_id, chunk_idx""",
    "q75_hash_split" -> {
      import graft.pipeline.Sampling.cutHex
      s"""SELECT doc_id,
                 CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.8)}' THEN 'train'
                      WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.9)}' THEN 'val'
                      ELSE 'test' END AS split,
                 CAST(substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.2)}' AS INT) AS sampled
          FROM documents ORDER BY doc_id"""
    },
    "q86_embed_centroids" ->
      """WITH e AS (
           SELECT vec_id % 4 AS grp, CAST(embedding[i] AS DOUBLE) AS val, i AS pos
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
         ), m AS (
           SELECT grp, pos, round(avg(val), 6) AS m FROM e GROUP BY 1, 2
         )
         SELECT grp, CAST(count(*) AS BIGINT) AS dim,
                round(sqrt(sum(m*m)), 6) AS centroid_norm,
                round(sum(m), 6) AS centroid_sum
         FROM m GROUP BY grp ORDER BY grp""",
    "q85_length_trim" ->
      """WITH b AS (
           SELECT source,
                  round(quantile_cont(n_chars, 0.05), 6) AS lo,
                  round(quantile_cont(n_chars, 0.95), 6) AS hi
           FROM documents GROUP BY source
         )
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN b USING (source)
         WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
         ORDER BY d.doc_id""",
    "q84_stream_quality" ->
      s"""$duckRepetition
         SELECT doc_id, n_tokens FROM sig
         WHERE dup_word_frac <= 0.5 AND top_bigram_frac <= 0.04
         ORDER BY doc_id""",
    "q82_unigram_lm" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), v AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
         n AS (SELECT sum(cnt) AS n FROM v)
         SELECT t.doc_id, count(*) AS n_tokens,
                round(avg(ln(CAST(v.cnt AS DOUBLE) / n.n)), 6) AS avg_logprob
         FROM t JOIN v USING (w), n
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q83_tfidf" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY 1, 2),
         df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (
           SELECT tf.doc_id, tf.w, round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
           FROM tf JOIN df USING (w), n
         ), r AS (
           SELECT doc_id, w AS term, score,
                  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS BIGINT) AS rank
           FROM s
         )
         SELECT doc_id, term, score, rank FROM r WHERE rank <= 3
         ORDER BY doc_id, rank""",
    "q80_packing" ->
      """WITH t AS (
           SELECT doc_id, source,
                  CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS tokens
           FROM documents
         ), c AS (
           SELECT doc_id, source, tokens,
                  coalesce(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM t
         )
         SELECT doc_id, source, tokens,
                CAST(floor(cum / 512.0) AS BIGINT) AS bin,
                CAST(row_number() OVER (PARTITION BY source, floor(cum / 512.0)
                  ORDER BY doc_id) AS BIGINT) AS pos
         FROM c ORDER BY source, doc_id""",
    "q81_length_profile" ->
      """SELECT source, count(*) AS cnt,
                round(quantile_cont(n_chars, 0.5), 6) AS p50,
                round(quantile_cont(n_chars, 0.9), 6) AS p90,
                round(quantile_cont(n_chars, 0.99), 6) AS p99,
                round(avg(n_chars), 6) AS mean_len
         FROM documents GROUP BY source ORDER BY source""",
    "q93_strip_markup" ->
      """WITH inj AS (
           SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN
                    '<html><head><style>body{color:red}</style>' ||
                    '<script type="text/javascript">var x = 1 < 2;</script>' ||
                    '</head><body><!-- c --><h1 id="t">T' || CAST(doc_id AS VARCHAR) ||
                    '</h1><p>' || text ||
                    ' &amp;lt; &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>'
                  WHEN doc_id % 4 = 1 THEN
                    '<div class=''a'' data-x="1">' || text || '</div><br/>'
                  ELSE text END AS t
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
             '\s+', ' ', 'g')) AS cleaned
         FROM inj ORDER BY doc_id""",
    "q94_mix_sources" -> {
      import graft.pipeline.Sampling.cutHex
      s"""SELECT doc_id, source FROM documents
          WHERE CASE
            WHEN source = 'src0' THEN TRUE
            WHEN source = 'src1' THEN substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.5)}'
            WHEN source = 'src2' THEN substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.25)}'
            WHEN source = 'src3' THEN FALSE
            ELSE substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.1)}'
          END
          ORDER BY doc_id"""
    },
    // q103/q104 share the closed-form dHash bit: base pattern from two
    // coprime-modulus congruences of (doc_id%256), one bit flipped at
    // (doc_id/256)%64 — Multimodal.BmpCodec.bitOf verbatim.
    "q103_image_phash" ->
      s"""$duckPhashBits, rws AS (
           SELECT doc_id, k // 8 AS r, sum(bit * (1 << (k % 8))) AS rb
           FROM bits GROUP BY 1, 2
         ), agg AS (
           SELECT doc_id,
             sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)) ELSE 0 END) AS ph_hi,
             sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS ph_lo
           FROM bits GROUP BY doc_id
         ), hx AS (
           SELECT doc_id, string_agg(lpad(lower(to_hex(rb)), 2, '0'), '' ORDER BY r) AS phash
           FROM rws GROUP BY doc_id
         )
         SELECT a.doc_id AS media_id, CAST(a.ph_hi AS BIGINT) AS ph_hi,
                CAST(a.ph_lo AS BIGINT) AS ph_lo, h.phash
         FROM agg a JOIN hx h USING (doc_id) ORDER BY media_id""",
    "q104_image_neardup" ->
      s"""$duckPhashBits, agg AS (
           SELECT doc_id,
             sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)) ELSE 0 END) AS ph_hi,
             sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS ph_lo
           FROM bits GROUP BY doc_id
         )
         SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) AS INTEGER) AS hamming
         FROM agg a JOIN agg b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 2
         ORDER BY a, b""",
    // q105 re-walks q104's pair set with the q67 recursive min-label CTE
    "q105_image_cluster" ->
      s"""${duckPhashBits.replaceFirst("WITH ", "WITH RECURSIVE ")}, agg AS (
           SELECT doc_id,
             sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)) ELSE 0 END) AS ph_hi,
             sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS ph_lo
           FROM bits GROUP BY doc_id
         ), pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM agg a JOIN agg b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 2
         ), edges AS (
           SELECT a AS src, b AS dst FROM pairs
           UNION SELECT b AS src, a AS dst FROM pairs
         ), verts AS (SELECT DISTINCT src AS id FROM edges),
         cc(id, comp) AS (
           SELECT id, id FROM verts
           UNION
           SELECT e.dst, c.comp FROM cc c JOIN edges e ON e.src = c.id
           WHERE c.comp < e.dst
         ), fin AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         ranked AS (
           SELECT comp AS component, id AS media_id,
                  row_number() OVER (PARTITION BY comp ORDER BY id) AS rn
           FROM fin
         )
         SELECT component, media_id, CAST(rn = 1 AS INT) AS is_keeper
         FROM ranked ORDER BY component, media_id""",
    // q106: closed-form dims per (doc_id%4) format — BmpCodec cell grid
    // for bmp, the solid-image synthesizer's w/h formula for the rest
    "q106_image_probe" ->
      """SELECT doc_id AS media_id,
           CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                WHEN 2 THEN 'jpeg' ELSE 'gif' END AS format,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 9 * (1 + doc_id % 3)
                     ELSE 16 + doc_id % 17 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 8 * (1 + doc_id % 3)
                     ELSE 16 + (doc_id // 17) % 13 END AS INTEGER) AS height
         FROM documents ORDER BY media_id""",
    "q107_image_neardup_blocked" ->
      s"""$duckPhashBits, agg AS (
           SELECT doc_id,
             sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)) ELSE 0 END) AS ph_hi,
             sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS ph_lo
           FROM bits GROUP BY doc_id
         )
         SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) AS INTEGER) AS hamming
         FROM agg a JOIN agg b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3
         ORDER BY a, b""",
    // q108: q30's signature CTE + a brute-force BIT-xor pair join
    "q108_simhash_neardup" ->
      s"""WITH t AS (
            SELECT doc_id,
              list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS dtoks
            FROM documents
          ), sims AS (
            SELECT doc_id, $duckSimhashExpr AS sim FROM t
          )
          SELECT a.doc_id AS a, b.doc_id AS b,
            CAST(bit_count(xor(CAST(a.sim AS BIT), CAST(b.sim AS BIT))) AS INTEGER) AS hamming
          FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(CAST(a.sim AS BIT), CAST(b.sim AS BIT))) <= 3
          ORDER BY a, b""",
    // q109: brute top-10 by hamming to doc 7's closed-form hash, id ties
    "q109_image_search" ->
      s"""$duckPhashBits, agg AS (
           SELECT doc_id,
             sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)) ELSE 0 END) AS ph_hi,
             sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS ph_lo
           FROM bits GROUP BY doc_id
         ), q AS (SELECT ph_hi, ph_lo FROM agg WHERE doc_id = 7)
         SELECT a.doc_id AS media_id,
           CAST(bit_count(xor(a.ph_hi, q.ph_hi)) + bit_count(xor(a.ph_lo, q.ph_lo)) AS INTEGER) AS hamming
         FROM agg a, q
         ORDER BY hamming, media_id LIMIT 10""",
    // q111: keeper set under block-key collision (≥2 of 4 16-bit blocks
    // equal ⟺ some C(4,2) table key matches) from the closed-form hashes
    "q111_image_stream_dedup" ->
      s"""$duckPhashBits, agg AS (
           SELECT doc_id,
             sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)) ELSE 0 END) AS ph_hi,
             sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS ph_lo
           FROM bits GROUP BY doc_id
         ), segs AS (
           SELECT doc_id,
             ph_lo & 65535 AS s0, (ph_lo >> 16) & 65535 AS s1,
             ph_hi & 65535 AS s2, (ph_hi >> 16) & 65535 AS s3
           FROM agg WHERE doc_id < 3000
         ), nonk AS (
           SELECT DISTINCT b.doc_id AS doc_id
           FROM segs a JOIN segs b ON a.doc_id < b.doc_id
           WHERE (CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END +
                  CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END +
                  CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END +
                  CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END) >= 2
         )
         SELECT doc_id AS media_id FROM segs
         WHERE doc_id NOT IN (SELECT doc_id FROM nonk)
         ORDER BY media_id""",
    // q117: BM25 with every float constant forced to DOUBLE (e-notation —
    // DuckDB would otherwise run the formula in DECIMAL) and the exact
    // operation order of the Spark column expression
    "q117_bm25_search" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         tf AS (
           SELECT doc_id, w, count(*) AS tf FROM t
           WHERE w IN ('spark', 'vector', 'stream') GROUP BY 1, 2
         ), df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         c AS (
           SELECT tf.doc_id,
                  round(ln((CAST(st.n_docs AS DOUBLE) - df.df + 0.5e0) / (df.df + 0.5e0) + 1.0e0)
                        * (tf.tf * (1.2e0 + 1.0e0))
                        / (tf.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl.dl / st.avgdl)), 6) AS c
           FROM tf JOIN df USING (w) JOIN dl USING (doc_id), st
         ), s AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS matched, round(CAST(sum(CAST(c AS DECIMAL(24,12))) AS DOUBLE), 6) AS score
           FROM c GROUP BY doc_id
         )
         SELECT doc_id, matched, score,
                CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         FROM s ORDER BY score DESC, doc_id LIMIT 10""",
    // q161: lead() chains under the (ts, event_id) total order
    "q161_event_paths" ->
      """WITH c AS (
           SELECT event_type AS e0,
                  lead(event_type, 1) OVER w AS e1,
                  lead(event_type, 2) OVER w AS e2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         )
         SELECT e0 || '>' || e1 || '>' || e2 AS path,
                CAST(count(*) AS BIGINT) AS cnt
         FROM c WHERE e1 IS NOT NULL AND e2 IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""",
    // q162: the same pairing + normalization
    "q162_transitions" ->
      """WITH c AS (
           SELECT event_type AS prev, lead(event_type, 1) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS next
           FROM events
         ), g AS (
           SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt
           FROM c WHERE next IS NOT NULL GROUP BY 1, 2
         )
         SELECT prev, next, cnt,
                CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY prev) AS prob
         FROM g ORDER BY prev, next""",
    // q163: identical aggregation + three deterministic ntile windows
    // q174: the oracle recounts both snapshot profiles exactly (the KMV
    // distinct runs in its exact regime) and replays the drift arithmetic
    "q174_profile_drift" ->
      """WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 1),
         v1 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                       o_totalprice + CASE WHEN o_orderkey % 3 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice
                FROM orders WHERE o_orderkey % 5 <> 2),
         p0 AS (
           SELECT 'o_custkey' AS col_name, count(*) AS n, count(*) - count(o_custkey) AS n_null,
                  count(DISTINCT o_custkey) AS d,
                  round(CAST(min(o_custkey) AS DOUBLE), 6) AS mn, round(CAST(max(o_custkey) AS DOUBLE), 6) AS mx FROM v0
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
                  count(DISTINCT o_orderstatus), NULL, NULL FROM v0
           UNION ALL
           SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
                  count(DISTINCT o_totalprice),
                  round(CAST(min(o_totalprice) AS DOUBLE), 6), round(CAST(max(o_totalprice) AS DOUBLE), 6) FROM v0
         ),
         p1 AS (
           SELECT 'o_custkey' AS col_name, count(*) AS n, count(*) - count(o_custkey) AS n_null,
                  count(DISTINCT o_custkey) AS d,
                  round(CAST(min(o_custkey) AS DOUBLE), 6) AS mn, round(CAST(max(o_custkey) AS DOUBLE), 6) AS mx FROM v1
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
                  count(DISTINCT o_orderstatus), NULL, NULL FROM v1
           UNION ALL
           SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
                  count(DISTINCT o_totalprice),
                  round(CAST(min(o_totalprice) AS DOUBLE), 6), round(CAST(max(o_totalprice) AS DOUBLE), 6) FROM v1
         )
         SELECT p0.col_name, p0.n AS n_old, p1.n AS n_new,
                round(CAST(p1.n_null AS DOUBLE) / p1.n - CAST(p0.n_null AS DOUBLE) / p0.n, 6) AS null_frac_delta,
                round(CAST(p1.d AS DOUBLE) / p0.d, 6) AS distinct_ratio,
                round(p1.mn - p0.mn, 6) AS min_shift,
                round(p1.mx - p0.mx, 6) AS max_shift
         FROM p0 JOIN p1 USING (col_name) ORDER BY col_name""",
    // q172: the oracle redraws the same exponential clocks from the same
    // md5 fractions and ranks with the same (es, doc_id) order
    "q172_weighted_sample" ->
      """WITH kk AS (
           SELECT source, doc_id,
                  -ln(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                      / 4503599627370496.0) / n_chars AS es
           FROM documents
         ), r AS (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source ORDER BY es, doc_id) AS rank
           FROM kk
         )
         SELECT source, doc_id, rank FROM r WHERE rank <= 5
         ORDER BY source, rank""",
    // q173: sim rounds to 6dp BEFORE ranking on both sides; pk breaks ties
    "q173_hard_negatives" ->
      """WITH a AS (
           SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < 5
         ), scored AS (
           SELECT a.qid, a.qlabel, e.vec_id AS pk,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.qv), 6) AS sim
           FROM embeddings e, a
           WHERE e.label <> a.qlabel
         ), r AS (
           SELECT qid, qlabel, pk, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, pk) AS rank
           FROM scored WHERE sim < 0.95
         )
         SELECT qid, qlabel, pk, sim, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",
    // q171: the oracle is a FULL REBUILD of the final snapshot v2 — the
    // incrementally-maintained summary must match it exactly
    "q171_mv_stream" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                  + CASE WHEN o_orderkey % 3 = 0 THEN CAST('1.00' AS DECIMAL(18,2))
                         ELSE CAST('0.00' AS DECIMAL(18,2)) END
                  + CASE WHEN o_orderkey % 2 = 0 THEN CAST('2.00' AS DECIMAL(18,2))
                         ELSE CAST('0.00' AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey % 4 <> 3
         GROUP BY 1 ORDER BY 1""",
    // q169: DuckDB's continuous median/mad replicate the exact-percentile
    // semantics; cutoffs rounded to 6dp on both sides before the 3.5 cut
    "q169_mad_outliers" ->
      """WITH med AS (
           SELECT event_type AS g, round(median(value), 6) AS med
           FROM events GROUP BY 1
         ), madt AS (
           SELECT e.event_type AS g, round(median(abs(e.value - m.med)), 6) AS mad
           FROM events e JOIN med m ON m.g = e.event_type GROUP BY 1
         )
         SELECT e.event_type, max(m.med) AS med, max(d.mad) AS mad,
                count(*) AS n,
                CAST(sum(CASE WHEN abs(round((e.value - m.med) / (1.4826 * d.mad), 6)) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out
         FROM events e JOIN med m ON m.g = e.event_type
                       JOIN madt d ON d.g = e.event_type
         GROUP BY 1 ORDER BY 1""",
    // q170: identical normal-equation arithmetic — decimal moment sums,
    // exact decimal differences, one double cast per term, IEEE division
    "q170_trend" ->
      """WITH m AS (
           SELECT o_orderpriority,
                  CAST(count(*) AS DECIMAL(38,0)) AS n,
                  sum(CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(38,0))) AS sx,
                  sum(CAST(o_totalprice AS DECIMAL(38,2))) AS sy,
                  sum(CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(38,0))
                    * CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(38,0))) AS sxx,
                  sum(CAST(CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(38,0))
                    * CAST(o_totalprice AS DECIMAL(38,2)) AS DECIMAL(38,2))) AS sxy,
                  sum(CAST(CAST(o_totalprice AS DECIMAL(38,2))
                    * CAST(o_totalprice AS DECIMAL(38,2)) AS DECIMAL(38,4))) AS syy
           FROM orders GROUP BY 1
         )
         SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
                round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
                round((CAST(sy AS DOUBLE)
                       - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
                round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
         FROM m ORDER BY o_orderpriority""",
    // q168: bloom skipping has no false negatives — the pruned read must
    // equal the full-scan filter the oracle runs
    "q168_bloom_index" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CAST(o_totalprice AS DOUBLE) AS total_price
         FROM orders WHERE o_custkey = 721
         ORDER BY o_orderkey""",
    // q167: the escalation ladder terminates in the full-probe rung ==
    // exact scan under the predicate, which is what the oracle runs
    "q167_filtered_knn" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
         SELECT e.vec_id AS pk,
                round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance,
                round(1.0 / (1.0 + round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6)), 6) AS score
         FROM embeddings e, q
         WHERE e.label = 3
         ORDER BY distance, pk LIMIT 60""",
    // q164: the oracle re-derives the KMV sketch itself — k-th smallest
    // DISTINCT md5 per group — and applies the identical estimator; every
    // double in the chain is an exact binary fraction (52-bit hash / 2^52)
    "q164_kmv_distinct" ->
      """WITH d AS (
           SELECT DISTINCT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h
           FROM lineitem
         ), r AS (
           SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
                  count(*) OVER (PARTITION BY g) AS m
           FROM d
         ), kk AS (
           SELECT g, max(m) AS m, max(CASE WHEN rn = 256 THEN h END) AS hk
           FROM r GROUP BY g
         )
         SELECT g AS l_returnflag,
                round(CASE WHEN m < 256 THEN CAST(m AS DOUBLE)
                      ELSE 255.0 / (CAST(CAST(('0x' || substr(hk, 1, 13)) AS UBIGINT) AS DOUBLE)
                                    / 4503599627370496.0) END, 6) AS est_distinct
         FROM kk ORDER BY g""",
    // q165: union sketch per pair = k smallest distinct of the two
    // k-truncated sketches; intersection from the ROUNDED published
    // estimates (pure function of output columns on both engines)
    "q165_kmv_overlap" ->
      """WITH d AS (
           SELECT DISTINCT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h
           FROM lineitem
         ), s AS (
           SELECT g, h FROM (
             SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d
           ) WHERE rn <= 256
         ), est AS (
           SELECT g, round(CASE WHEN max(m) < 256 THEN CAST(max(m) AS DOUBLE)
                      ELSE 255.0 / (CAST(CAST(('0x' || substr(max(CASE WHEN rn = 256 THEN h END), 1, 13)) AS UBIGINT) AS DOUBLE)
                                    / 4503599627370496.0) END, 6) AS est
           FROM (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
                        count(*) OVER (PARTITION BY g) AS m FROM d)
           GROUP BY g
         ), pairs AS (
           SELECT a.g AS ga, b.g AS gb
           FROM (SELECT DISTINCT g FROM d) a JOIN (SELECT DISTINCT g FROM d) b ON a.g < b.g
         ), uh AS (
           SELECT p.ga, p.gb, s.h
           FROM pairs p JOIN s ON s.g = p.ga OR s.g = p.gb
           GROUP BY p.ga, p.gb, s.h
         ), ur AS (
           SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn,
                  count(*) OVER (PARTITION BY ga, gb) AS m
           FROM uh
         ), uest AS (
           SELECT ga, gb,
                  round(CASE WHEN max(CASE WHEN m < 256 THEN m ELSE 256 END) < 256 THEN CAST(max(m) AS DOUBLE)
                        ELSE 255.0 / (CAST(CAST(('0x' || substr(max(CASE WHEN rn = 256 THEN h END), 1, 13)) AS UBIGINT) AS DOUBLE)
                                      / 4503599627370496.0) END, 6) AS est_union
           FROM ur GROUP BY ga, gb
         )
         SELECT u.ga AS g_a, u.gb AS g_b, ea.est AS est_a, eb.est AS est_b, u.est_union,
                round(greatest(0.0, ea.est + eb.est - u.est_union), 6) AS est_intersect
         FROM uest u JOIN est ea ON ea.g = u.ga JOIN est eb ON eb.g = u.gb
         ORDER BY g_a, g_b""",
    // q166: EXACT regime (distinct < k) — the sketch estimate equals the
    // exact count, so the oracle is plain count(distinct); the ALL row is
    // re-aggregated from group sketches on the Spark side
    "q166_kmv_rollup" ->
      """SELECT o_orderpriority AS grp, count(DISTINCT o_custkey) AS est_distinct
         FROM orders GROUP BY 1
         UNION ALL
         SELECT 'ALL' AS grp, count(DISTINCT o_custkey) AS est_distinct FROM orders
         ORDER BY grp""",
    "q163_rfm" ->
      """WITH b AS (
           SELECT o_custkey,
                  datediff('day', max(CAST(o_orderdate AS DATE)), DATE '2001-09-01') AS recency_days,
                  CAST(count(*) AS BIGINT) AS frequency,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
           FROM orders GROUP BY o_custkey
         )
         SELECT o_custkey, recency_days, frequency,
                CAST(monetary AS DOUBLE) AS monetary,
                ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r,
                ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS f,
                ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS m,
                CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS VARCHAR) ||
                CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS VARCHAR) ||
                CAST(ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS VARCHAR) AS segment
         FROM b ORDER BY o_custkey""",
    // q160: aligned 6h-grid window starts enumerated, each recounted;
    // only non-empty windows survive the inner join (Spark's contract)
    "q160_sliding_distinct" ->
      """WITH ext AS (
           SELECT (epoch_us(min(ts)) // 1000000 // 21600) * 21600 - 64800 AS t0,
                  (epoch_us(max(ts)) // 1000000 // 21600) * 21600 AS t1
           FROM events
         ), starts AS (
           SELECT unnest(range((SELECT t0 FROM ext), (SELECT t1 FROM ext) + 1, 21600)) AS ws
         )
         SELECT ws, CAST(count(DISTINCT e.user_id) AS BIGINT) AS nu,
                CAST(count(*) AS BIGINT) AS n_events
         FROM starts s JOIN events e
           ON epoch_us(e.ts) >= s.ws * 1000000
          AND epoch_us(e.ts) < (s.ws + 86400) * 1000000
         GROUP BY ws ORDER BY ws""",
    // q159: counts per key, then quantile_disc over each distribution
    "q159_skew_probe" -> {
      val branches = for {
        k <- Seq("o_custkey", "o_orderpriority")
        p <- Seq(0.5, 0.75, 0.875, 1.0)
      } yield
        s"""SELECT '$k' AS key_col, CAST($p AS DOUBLE) AS p,
               quantile_disc(cnt, $p) AS value
            FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM orders GROUP BY $k)"""
      s"SELECT * FROM (${branches.mkString(" UNION ALL ")}) ORDER BY key_col, p"
    },
    // q158: the same three set ops natively; EXCEPT ALL pins bag
    // semantics (multiplicity difference), not just membership
    "q158_set_ops" ->
      """SELECT 'except' AS op, k FROM (
           SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
         UNION ALL
         SELECT 'intersect', k FROM (
           SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         UNION ALL
         SELECT 'except_all', k FROM (
           SELECT l_orderkey AS k FROM lineitem WHERE l_quantity >= 48
           EXCEPT ALL
           SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
         ORDER BY op, k""",
    // q157: one UNION ALL branch per column, each recounted from scratch
    "q157_analyze" -> {
      val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val strCols = Seq("o_orderstatus", "o_orderpriority")
      val branches = numCols.map(c =>
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
               CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
            FROM orders""") ++ strCols.map(c =>
        s"""SELECT '$c', CAST(count(*) AS BIGINT), CAST(count(*) - count($c) AS BIGINT),
               CAST(count(DISTINCT $c) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min($c), max($c)
            FROM orders""")
      s"SELECT * FROM (${branches.mkString(" UNION ALL ")}) ORDER BY column_name"
    },
    // q156: grid rebuilt per user via range(); carry-forward via
    // IGNORE NULLS window; decimal accumulation matches dec()
    "q156_gap_fill" ->
      """WITH agg AS (
           SELECT user_id, epoch_us(ts) // 21600000000 AS b,
                  CAST(count(*) AS BIGINT) AS cnt,
                  sum(CAST(value AS DECIMAL(18,2))) AS sv
           FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2
         ), ext AS (
           SELECT user_id, min(b) AS mn, max(b) AS mx FROM agg GROUP BY 1
         ), spine AS (
           SELECT user_id, unnest(range(mn, mx + 1)) AS b FROM ext
         ), j AS (
           SELECT s.user_id, s.b,
                  coalesce(a.cnt, 0) AS n_events,
                  CASE WHEN a.cnt IS NULL THEN 1 ELSE 0 END AS gap,
                  a.sv
           FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.b = a.b
         )
         SELECT user_id, b, n_events, gap,
                CAST(last_value(sv IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_value
         FROM j ORDER BY user_id, b""",
    // q155: the naive theta join the bucketed plan must reproduce
    "q155_range_join" ->
      """SELECT c.user_id, epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1800 SECONDS
         ORDER BY c.user_id, click_us, purchase_us""",
    // q154: the batch interval join on the same rebased clock; ties in
    // the total order are content-identical so the hash is stable
    "q154_stream_join" ->
      """WITH c AS (
           SELECT user_id, 1767225600 + event_id % 3000 AS t
           FROM events WHERE event_type = 'click'
         ), p AS (
           SELECT user_id, 1767225600 + event_id % 3000 AS t
           FROM events WHERE event_type = 'purchase'
         )
         SELECT c.user_id, c.t AS click_s, p.t AS purchase_s
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.t >= c.t AND p.t <= c.t + 300
         ORDER BY c.user_id, click_s, purchase_s""",
    // q153: quantile_disc == percentile_disc == rank ceil(p*n)-1; dyadic
    // p keeps the rank arithmetic exact on both engines
    "q153_exact_quantiles" -> {
      val qs = Seq(0.25, 0.5, 0.75, 0.875).map(p =>
        s"""SELECT l_returnflag, CAST($p AS DOUBLE) AS p,
                   quantile_disc(l_extendedprice, $p) AS value
            FROM lineitem GROUP BY l_returnflag""").mkString(" UNION ALL ")
      s"SELECT * FROM ($qs) ORDER BY l_returnflag, p"
    },
    // q240: identical HUGEINT moment algebra (denominators cleared) and
    // the identical final double expression; row-lag pairs via rn self-join
    "q240_acf" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2
         ), m AS (
           SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
                  CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS HUGEINT) AS sxx
           FROM d GROUP BY 1
         ), r AS (
           SELECT event_type, cents,
                  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
           FROM d
         ), pl AS (
           SELECT a.event_type, k.lag, CAST(count(*) AS HUGEINT) AS np,
                  CAST(sum(CAST(a.cents AS HUGEINT) * CAST(b.cents AS HUGEINT)) AS HUGEINT) AS sxy,
                  CAST(sum(CAST(a.cents AS HUGEINT)) AS HUGEINT) AS sh,
                  CAST(sum(CAST(b.cents AS HUGEINT)) AS HUGEINT) AS st
           FROM r a
           JOIN (SELECT unnest(range(1, 8)) AS lag) k ON true
           JOIN r b ON b.event_type = a.event_type AND b.rn = a.rn + k.lag
           GROUP BY 1, 2
         )
         SELECT pl.event_type, CAST(pl.lag AS INTEGER) AS lag,
                CAST(m.n AS BIGINT) AS n, CAST(pl.np AS BIGINT) AS n_pairs,
                CASE WHEN m.n * m.sxx - m.s * m.s <> 0 THEN
                  round(CAST(m.n * m.n * pl.sxy - m.n * m.s * (pl.sh + pl.st)
                             + pl.np * m.s * m.s AS DOUBLE)
                        / CAST(m.n * (m.n * m.sxx - m.s * m.s) AS DOUBLE), 6)
                END AS acf
         FROM pl JOIN m ON pl.event_type = m.event_type
         ORDER BY pl.event_type, lag""",
    // q241: the exact twin's quantile_disc values + the GK pass contract
    // (within_eps is REQUIRED in-body; target_rank = ceil(p*n) replayed)
    "q241_sketch_quantiles" -> {
      val qs = Seq(0.25, 0.5, 0.75, 0.875).map(p =>
        s"""SELECT l_returnflag, CAST($p AS DOUBLE) AS p,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(ceil($p * count(*)) AS BIGINT) AS target_rank,
                   quantile_disc(l_extendedprice, $p) AS exact_value,
                   1 AS within_eps
            FROM lineitem GROUP BY l_returnflag""").mkString(" UNION ALL ")
      s"SELECT * FROM ($qs) ORDER BY l_returnflag, p"
    },
    // q150: same sets, same flags; DuckDB's GROUPING matches Spark's
    "q150_grouping_sets" ->
      """SELECT GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
                l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    // q151: the pivot recomputed as conditional aggregation
    "q151_pivot" ->
      """SELECT o_orderpriority,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
                CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
                CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // q152: the unpivot roundtrip equals the plain long-form group-by
    // (null cells drop, so only existing (priority, status) pairs appear)
    "q152_unpivot" ->
      """SELECT o_orderpriority, o_orderstatus AS status,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2 ORDER BY o_orderpriority, status""",
    // q148: the aggregate's min-chaining contract replayed as three
    // sequential CTEs — t(i) is the earliest step-i event strictly after
    // t(i-1) and inside the 7-day window anchored at t1
    "q148_funnel" ->
      """WITH t1 AS (
           SELECT user_id, min(epoch_us(ts)) AS ts1 FROM events
           WHERE event_type = 'view' GROUP BY user_id
         ), t2 AS (
           SELECT e.user_id, min(epoch_us(e.ts)) AS ts2
           FROM events e JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.ts1
             AND epoch_us(e.ts) - t1.ts1 <= 604800000000
           GROUP BY e.user_id
         ), t3 AS (
           SELECT e.user_id, min(epoch_us(e.ts)) AS ts3
           FROM events e JOIN t1 ON e.user_id = t1.user_id
                         JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.ts2
             AND epoch_us(e.ts) - t1.ts1 <= 604800000000
           GROUP BY e.user_id
         )
         SELECT u.user_id,
                CASE WHEN t3.ts3 IS NOT NULL THEN 3
                     WHEN t2.ts2 IS NOT NULL THEN 2
                     WHEN t1.ts1 IS NOT NULL THEN 1 ELSE 0 END AS level,
                CAST(t1.ts1 AS DOUBLE) AS ts1,
                CAST(t2.ts2 AS DOUBLE) AS ts2,
                CAST(t3.ts3 AS DOUBLE) AS ts3
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN t1 ON u.user_id = t1.user_id
         LEFT JOIN t2 ON u.user_id = t2.user_id
         LEFT JOIN t3 ON u.user_id = t3.user_id
         ORDER BY u.user_id""",
    // q149: cohort grid recomputed from scratch; retention as plain
    // double division on both sides
    "q149_cohort" ->
      """WITH f AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id
         ), a AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
         ), g AS (
           SELECT f.cohort_day, datediff('day', f.cohort_day, a.active_day) AS day_offset,
                  CAST(count(*) AS BIGINT) AS users
           FROM a JOIN f ON a.user_id = f.user_id
           GROUP BY 1, 2
         ), sz AS (
           SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
           FROM f GROUP BY 1
         )
         SELECT strftime(g.cohort_day, '%Y-%m-%d') AS cohort_day,
                day_offset, users, cohort_size,
                CAST(users AS DOUBLE) / cohort_size AS retention
         FROM g JOIN sz ON g.cohort_day = sz.cohort_day
         ORDER BY 1, day_offset""",
    // q147: both vocabularies recounted; the (|Δ| desc, w) total order
    // makes the top-20 cut deterministic
    "q147_vocab_drift" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), vo AS (
           SELECT w, count(*) AS old_cnt FROM t WHERE doc_id % 5 <> 0 GROUP BY w
         ), vn AS (
           SELECT w, count(*) AS new_cnt FROM t WHERE doc_id % 3 <> 0 GROUP BY w
         ), j AS (
           SELECT coalesce(vo.w, vn.w) AS w,
                  coalesce(old_cnt, 0) AS old_cnt,
                  coalesce(new_cnt, 0) AS new_cnt
           FROM vo FULL OUTER JOIN vn ON vo.w = vn.w
         )
         SELECT w, old_cnt, new_cnt, new_cnt - old_cnt AS delta,
                CASE WHEN old_cnt = 0 THEN 'added'
                     WHEN new_cnt = 0 THEN 'vanished'
                     WHEN new_cnt <> old_cnt THEN 'changed'
                     ELSE 'stable' END AS status
         FROM j ORDER BY abs(new_cnt - old_cnt) DESC, w LIMIT 20""",
    // q146: q112's history-dedup CTEs + q110's quality formula, rolled
    // up per source with the post-ingest corpus count
    "q146_delta_pipeline" -> {
      val sw = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("[", ",", "]")
      s"""$duckShingles, sig AS (
            SELECT doc_id,
              [list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 12)] AS sg
            FROM s
          ), bands AS (
            SELECT doc_id, j.j AS band, md5(array_to_string(sg[j.j*3+1:j.j*3+3], '|')) AS bh
            FROM sig, (SELECT unnest(range(4)) AS j) j
          ), fps AS (
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
          ), dok AS (
            SELECT f.doc_id FROM fps f
            WHERE f.doc_id % 5 = 0
              AND f.fp NOT IN (SELECT fp FROM fps WHERE doc_id % 5 != 0)
              AND NOT EXISTS (
                SELECT 1 FROM bands n JOIN bands h
                ON n.band = h.band AND n.bh = h.bh AND h.doc_id % 5 != 0
                WHERE n.doc_id = f.doc_id)
          ), b AS (
            SELECT doc_id, source, text,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
            FROM documents WHERE doc_id % 5 = 0
          ), q AS (
            SELECT doc_id, source,
              round((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                   + CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END
                   + least((CASE WHEN len(ltoks) = 0 THEN 0.0 ELSE CAST(len([x for x in ltoks if list_contains($sw, x)]) AS DOUBLE) / len(ltoks) END) * 4.0, 1.0)
                   + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0)))
                   / 4.0, 6) AS quality
            FROM b
          ), staged AS (
            SELECT q.source,
              CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS qok,
              CASE WHEN q.doc_id IN (SELECT doc_id FROM dok) THEN 1 ELSE 0 END AS dokk
            FROM q
          ), agg AS (
            SELECT source, count(*) AS n_incr, sum(qok) AS n_quality_ok,
                   sum(dokk) AS n_dedup_ok, sum(qok * dokk) AS n_accepted
            FROM staged GROUP BY source
          ), h AS (
            SELECT source, count(*) AS n_hist FROM documents
            WHERE doc_id % 5 != 0 GROUP BY source
          )
          SELECT a.source,
                 CAST(a.n_incr AS BIGINT) AS n_incr,
                 CAST(a.n_quality_ok AS BIGINT) AS n_quality_ok,
                 CAST(a.n_dedup_ok AS BIGINT) AS n_dedup_ok,
                 CAST(a.n_accepted AS BIGINT) AS n_accepted,
                 CAST(coalesce(h.n_hist, 0) + a.n_accepted AS BIGINT) AS corpus_after
          FROM agg a LEFT JOIN h USING (source)
          ORDER BY a.source"""
    },
    // q145: counts are pure doc_id arithmetic; the dominant CASE chain
    // replicates the engine's earlier-bucket-wins strict-> fold
    "q145_script_profile" ->
      """WITH c AS (
           SELECT doc_id,
                  CAST(doc_id % 5 + 1 AS INTEGER) AS latin,
                  CAST(doc_id % 3 AS INTEGER) AS cyrillic,
                  CAST(doc_id % 4 AS INTEGER) AS han,
                  CAST(doc_id % 2 AS INTEGER) AS arabic
           FROM documents
         )
         SELECT doc_id, latin, cyrillic, han, arabic,
                CASE WHEN arabic > latin AND arabic > cyrillic AND arabic > han THEN 'arabic'
                     WHEN han > latin AND han > cyrillic THEN 'han'
                     WHEN cyrillic > latin THEN 'cyrillic'
                     ELSE 'latin' END AS dominant
         FROM c ORDER BY doc_id""",
    // q144: every count recomputed with identical NULL semantics
    "q144_quality_audit" ->
      """SELECT 'not_null:l_returnflag' AS rule,
                CAST(coalesce(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
         FROM lineitem
         UNION ALL
         SELECT 'range:l_quantity',
                CAST(coalesce(sum(CASE WHEN l_quantity IS NOT NULL
                  AND (l_quantity < 1.0 OR l_quantity > 25.0) THEN 1 ELSE 0 END), 0) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'unique:l_orderkey',
                CAST(coalesce((SELECT sum(c - 1) FROM
                  (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey) g
                  WHERE c > 1), 0) AS BIGINT)
         UNION ALL
         SELECT 'ref:l_suppkey',
                CAST((SELECT count(*) FROM lineitem l
                      LEFT JOIN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 3 <> 0) s
                        ON l.l_suppkey = s.s_suppkey
                      WHERE l.l_suppkey IS NOT NULL AND s.s_suppkey IS NULL) AS BIGINT)
         ORDER BY rule""",
    // q143: the oracle is the window formulation the operator replaces
    "q143_topk_physical" ->
      """WITH r AS (
           SELECT o_orderstatus, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
           FROM orders
         )
         SELECT o_orderstatus, o_orderkey, o_totalprice, rank FROM r
         WHERE rank <= 3 ORDER BY o_orderstatus, rank""",
    // q142: the oracle aggregates the NEW snapshot directly — the
    // incremental route (old summary + signed delta partials) must land
    // on the identical decimal-exact answer
    "q142_mv_incremental" ->
      """WITH n AS (
           SELECT o_orderstatus, o_orderpriority,
                  CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS DECIMAL(18,2)) AS price_d
           FROM orders WHERE o_orderkey % 5 <> 2
         )
         SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(sum(price_d) AS DOUBLE) AS sum_price
         FROM n GROUP BY 1, 2 ORDER BY 1, 2""",
    // q141: the oracle is the plain exact computation — the 2-pass
    // sketch route must land on the identical answer
    "q141_heavy_hitters" ->
      """WITH t AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), v AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
         n AS (SELECT count(*) AS n FROM t)
         SELECT v.w, v.cnt FROM v, n WHERE v.cnt * 32 > n.n ORDER BY w""",
    // q140: the oracle is the UNSALTED join — exact equivalence is the
    // whole point of the salt transform
    "q140_salted_join" ->
      """SELECT c.c_nationkey, count(*) AS cnt,
                CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_nationkey ORDER BY c.c_nationkey""",
    // q139: the oracle aggregates the RAW base table — the rewrite must
    // be EXACT through the summary (decimal partials, cast at the edge)
    "q139_mv_rewrite" ->
      """SELECT l_returnflag, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
                CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // q138: same entity fixture, scored by DuckDB's OWN jaro_winkler —
    // an independent implementation as oracle; round-before-threshold
    // on both sides keeps boundary pairs ulp-safe
    "q138_entity_match" ->
      """WITH base AS (
           SELECT c_custkey AS k,
                  ['bel','cor','dan','fay','gil','hart','jor'][CAST(c_custkey % 7 + 1 AS INTEGER)] ||
                  ['mon','ris','tab','ven','wick','zel','oak'][CAST((c_custkey // 7) % 7 + 1 AS INTEGER)] ||
                  ['a','ton','ley','mor','ix'][CAST((c_custkey // 49) % 5 + 1 AS INTEGER)] ||
                  chr(CAST(97 + c_custkey % 26 AS INTEGER)) AS nm
           FROM customer WHERE c_custkey < 4000
         ), ents AS (
           SELECT k, nm FROM base
           UNION ALL
           SELECT k + 10000000,
                  substr(nm, 1, 1) || substr(nm, 3, 1) || substr(nm, 2, 1) || substr(nm, 4, 100)
           FROM base WHERE k % 3 = 0
         ), blk AS (
           SELECT k, nm,
                  substr(lower(nm), 1, 1) || '_' || CAST(len(nm) AS VARCHAR) AS bk
           FROM ents
         )
         SELECT x.k AS a, y.k AS b,
                round(jaro_winkler_similarity(x.nm, y.nm), 6) AS sim
         FROM blk x JOIN blk y ON x.bk = y.bk AND x.k < y.k
         WHERE round(jaro_winkler_similarity(x.nm, y.nm), 6) >= 0.9
         ORDER BY a, b""",
    // q137: token counts have closed forms — "the"×k, "in"×m, "thin"×t
    // merge to single/double tokens, the x-run stays character-split
    "q137_bpe_tokens" ->
      """SELECT doc_id,
           CAST(doc_id % 7 + 1 + doc_id % 5 + 2 * (doc_id % 2) + doc_id % 3 + 1 AS BIGINT) AS n_tokens,
           CAST(doc_id % 7 + 1 + doc_id % 5 + 2 * (doc_id % 2) AS BIGINT) AS n_multi
         FROM documents ORDER BY doc_id""",
    // q136: every output recomputed from the modular fixture — img
    // channel = id%3, caption channel shifts +1 when id%5=0, score is
    // the caption-channel mean (255 or 0) over 255
    "q136_caption_align" ->
      """WITH c AS (
           SELECT doc_id,
                  doc_id % 3 AS ci,
                  CASE WHEN doc_id % 5 = 0 THEN (doc_id % 3 + 1) % 3
                       ELSE doc_id % 3 END AS cc
           FROM documents
         )
         SELECT doc_id AS media_id,
                CASE CAST(ci AS INTEGER) WHEN 0 THEN 'red' WHEN 1 THEN 'green'
                     ELSE 'blue' END AS img_color,
                CASE CAST(cc AS INTEGER) WHEN 0 THEN 'red' WHEN 1 THEN 'green'
                     ELSE 'blue' END AS cap_color,
                CAST(CASE WHEN cc = ci THEN 1.0 ELSE 0.0 END AS DOUBLE) AS score,
                cc = ci AS aligned
         FROM c ORDER BY media_id""",
    // q135: grid coords + Morton interleave + bucket split + overlap
    // tests all recomputed arithmetically; IEEE scaling matches the
    // engine's gridCoord ((x-min)*256/span, floor, clamp)
    "q135_zorder_layout" ->
      s"""WITH g AS (
           SELECT c_acctbal, c_nationkey,
                  least(greatest(CAST(floor((c_acctbal - -1000.0) * 256.0 / 11000.0) AS BIGINT), 0), 255) AS aN,
                  least(greatest(CAST(floor((c_nationkey - 0.0) * 256.0 / 25.0) AS BIGINT), 0), 255) AS bN
           FROM customer
         ), z AS (
           SELECT c_acctbal, c_nationkey, aN, ($duckZkey) AS zkey FROM g
         ), b AS (
           SELECT 'zorder' AS layout, zkey // 4096 AS bucket,
                  c_acctbal AS a, c_nationkey AS bb FROM z
           UNION ALL
           SELECT 'linear', aN // 16, c_acctbal, c_nationkey FROM z
         ), s AS (
           SELECT layout, bucket, count(*) AS n_rows,
                  round(min(CAST(a AS DOUBLE)), 6) AS min_a,
                  round(max(CAST(a AS DOUBLE)), 6) AS max_a,
                  round(min(CAST(bb AS DOUBLE)), 6) AS min_b,
                  round(max(CAST(bb AS DOUBLE)), 6) AS max_b
           FROM b GROUP BY 1, 2
         )
         SELECT layout, bucket, n_rows, min_a, max_a, min_b, max_b,
                NOT (max_a < 0.0 OR min_a >= 1000.0 OR max_b < 0.0 OR min_b >= 25.0) AS scan_narrow_a,
                NOT (max_a < -1000.0 OR min_a >= 10000.0 OR max_b < 5.0 OR min_b >= 10.0) AS scan_narrow_b
         FROM s ORDER BY layout, bucket""",
    // q134: bigram/unigram counts retrained in SQL; the lateral
    // generate_series mirrors the engine's index-sequence transform, and
    // (1.0 - 0.8) reproduces Spark's IEEE 1.0-λ exactly (NOT 0.2)
    "q134_bigram_lm" ->
      """WITH t AS (
           SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
           FROM documents
         ), b AS (
           SELECT doc_id, ws[g.i] AS w1, ws[g.i+1] AS w2
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g
         ), bc AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
         ctx AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY 1),
         tw AS (SELECT doc_id, unnest(ws) AS w FROM t),
         u AS (SELECT w, count(*) AS cu FROM tw GROUP BY w),
         n AS (SELECT sum(cu) AS n FROM u)
         SELECT b.doc_id, count(*) AS n_bigrams,
                round(avg(ln(0.8 * bc.c2 / ctx.c1 + (1.0 - 0.8) * u.cu / n.n)), 6) AS avg_logprob
         FROM b JOIN bc USING (w1, w2) JOIN ctx USING (w1)
              JOIN u ON u.w = b.w2, n
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    // q133: both snapshots rebuilt from the same modular construction;
    // null-safe comparison via IS NOT DISTINCT FROM mirrors Spark's <=>
    "q133_snapshot_diff" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 7 <> 1
         ), n AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 5 <> 2
         ), d AS (
           SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                  CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                       WHEN n.o_orderkey IS NULL THEN 'deleted'
                       WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                        AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                         THEN 'unchanged'
                       ELSE 'updated' END AS change_type
           FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
         )
         SELECT o_orderkey, change_type FROM d
         WHERE change_type <> 'unchanged' ORDER BY o_orderkey""",
    // q132: q82's LM CTE → ntile(5) over (score, doc_id) → bin profile;
    // the 6dp rounding happens BEFORE binning on both sides (q82's
    // contract), so ulp drift can't move a boundary doc between bins
    "q132_quality_curriculum" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), v AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
         n AS (SELECT sum(cnt) AS n FROM v),
         lm AS (
           SELECT t.doc_id,
                  round(avg(ln(CAST(v.cnt AS DOUBLE) / n.n)), 6) AS avg_logprob
           FROM t JOIN v USING (w), n
           GROUP BY t.doc_id
         ), b AS (
           SELECT doc_id, avg_logprob,
                  ntile(5) OVER (ORDER BY avg_logprob, doc_id) AS bin
           FROM lm
         )
         SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS cnt,
                round(avg(avg_logprob), 6) AS mean_lp,
                round(min(avg_logprob), 6) AS lo,
                round(max(avg_logprob), 6) AS hi
         FROM b GROUP BY bin ORDER BY bin""",
    // q131: every parsed component recomputed arithmetically from doc_id
    // (host/tld by concat, depth = id%4, params = id%3, blocked = xyz-tld
    // or the .site0. host) — the parser is gated against the closed form
    "q131_url_filter" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                       WHEN 2 THEN 'net' ELSE 'xyz' END AS tld
           FROM documents
         )
         SELECT doc_id,
                'sub' || CAST(doc_id % 3 AS VARCHAR) || '.site' ||
                  CAST(doc_id % 7 AS VARCHAR) || '.' || tld AS host,
                tld,
                CAST(doc_id % 4 AS BIGINT) AS path_depth,
                CAST(doc_id % 3 AS BIGINT) AS n_params,
                (tld = 'xyz' OR doc_id % 7 = 0) AS blocked
         FROM f ORDER BY doc_id""",
    // q130: q76's chunk slicing + q121's embed arithmetic composed, then
    // the cross-doc pair join with round-then-rank — a boundary slip in
    // ANY composed stage breaks the hash
    "q130_rag_prep" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
           FROM documents
         ), c AS (
           SELECT doc_id, toks, len(toks) AS n,
                  CASE WHEN len(toks) <= 32 THEN 1
                       ELSE CAST(ceil(CAST(len(toks) - 32 AS DOUBLE) / 24) AS INT) + 1
                  END AS nchunks
           FROM t
         ), ch AS (
           SELECT doc_id * 1000 + i AS cid,
                  array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text
           FROM c, unnest(range(0, nchunks)) AS u(i)
         ), tok AS (
           SELECT cid, unnest(string_split(regexp_replace(lower(trim(chunk_text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM ch
         ), b AS (
           SELECT cid,
                  CAST(strpos('0123456789abcdef', substr(md5(w), 32, 1)) - 1 AS BIGINT) AS bucket,
                  CASE WHEN (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) % 2 = 0
                       THEN 1.0e0 ELSE -1.0e0 END AS s
           FROM tok
         ), g AS (SELECT cid, bucket, sum(s) AS v FROM b GROUP BY 1, 2),
         sp AS (
           SELECT cid, unnest(range(0, 16)) AS bucket
           FROM (SELECT DISTINCT cid FROM b)
         ), j AS (
           SELECT sp.cid, sp.bucket, coalesce(g.v, 0.0e0) AS v
           FROM sp LEFT JOIN g ON sp.cid = g.cid AND sp.bucket = g.bucket
         ), vec AS (SELECT cid, list(v ORDER BY bucket) AS vec FROM j GROUP BY 1),
         p AS (
           SELECT q.cid AS qid, e.cid AS nn_cid,
                  round(list_cosine_similarity(q.vec, e.vec), 6) AS cosine
           FROM vec q JOIN vec e ON e.cid // 1000 <> q.cid // 1000
           WHERE q.cid < 2000
         ), r AS (
           SELECT qid, nn_cid, cosine,
                  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nn_cid) AS rank
           FROM p
         )
         SELECT qid, CAST(rank AS BIGINT) AS rank, nn_cid, cosine FROM r
         WHERE rank <= 2 ORDER BY qid, rank""",
    // q129: q118's oracle with the keeper window partitioned by
    // (doc_id, line) — within-doc keep-first, cross-doc survival
    "q129_line_dedup_doc" ->
      """WITH d AS (
           SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
         ), l AS (
           SELECT doc_id,
                  [array_to_string(ws[i*3+1:i*3+3], ' ')
                   for i in range(0, CAST(ceil(len(ws)/3.0e0) AS BIGINT))] AS lines
           FROM d
         ), e AS (
           SELECT doc_id, unnest(lines) AS line,
                  unnest(range(0, len(lines))) AS pos
           FROM l
         ), r AS (
           SELECT doc_id, pos, line,
                  row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
           FROM e
         )
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos), '')) AS text_kept
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    // q127: the oracle rebuilds the same md5-prefix order (8-hex key +
    // doc_id tiebreak) and the running total — a frame or order drift
    // moves a boundary row and breaks the hash
    "q127_token_budget" ->
      """WITH c AS (
           SELECT doc_id, source, n_chars,
                  sum(n_chars) OVER (PARTITION BY source
                    ORDER BY substring(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS cum
           FROM documents
         )
         SELECT doc_id, source, n_chars, CAST(cum AS BIGINT) AS cum_tokens
         FROM c WHERE cum <= 3000 ORDER BY doc_id""",
    // q128: q125's fingerprint pipeline at k=20/w=8, bucket self-join
    // with the cap, distinct ordered pairs
    "q128_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         h AS (
           SELECT doc_id,
                  [md5(substr(t, i, 20)) for i in range(1, greatest(len(t) - 18, 1))] AS hs,
                  len(t) AS n
           FROM d
         ), f AS (
           SELECT doc_id,
                  unnest(list_distinct([list_min(hs[i:i+7]) for i in range(1, len(hs) - 6)])) AS fp
           FROM h WHERE n >= 27
         ), g AS (SELECT fp, count(*) AS c FROM f GROUP BY fp)
         SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM f a JOIN f b USING (fp) JOIN g USING (fp)
         WHERE a.doc_id < b.doc_id AND g.c BETWEEN 2 AND 1000
         ORDER BY a, b""",
    // q126: the oracle regenerates both epochs' md5 keys and heads —
    // a salt/epoch concat drift or an unstable cut breaks the hash
    "q126_epoch_shuffle" ->
      """WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1),
         k AS (
           SELECT e.epoch, d.doc_id,
                  md5('epoch:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS ekey
           FROM documents d, e
         ), r AS (
           SELECT epoch, doc_id, ekey,
                  row_number() OVER (PARTITION BY epoch ORDER BY ekey) AS rank
           FROM k
         )
         SELECT CAST(epoch AS BIGINT) AS epoch, CAST(rank AS BIGINT) AS rank,
                doc_id, ekey
         FROM r WHERE rank <= 10 ORDER BY epoch, rank""",
    // q125: gram md5s + window string-min + distinct reproduced with
    // list comprehensions; docs under k+w-1 chars absent on both sides
    "q125_winnow" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         h AS (
           SELECT doc_id,
                  [md5(substr(t, i, 8)) for i in range(1, greatest(len(t) - 6, 1))] AS hs,
                  len(t) AS n
           FROM d
         ), f AS (
           SELECT doc_id,
                  list_distinct([list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]) AS fps
           FROM h WHERE n >= 11
         )
         SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
                md5(array_to_string(list_sort(fps), ',')) AS digest
         FROM f ORDER BY doc_id""",
    // q124: ntile is SQL-standard (remainder to the first buckets) —
    // the (score, id) tiebreak makes the assignment engine-independent
    "q124_score_bins" ->
      """SELECT doc_id, n_chars,
                CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bin
         FROM documents ORDER BY doc_id""",
    // q123: q121's embedding CTE (unnormalized — cosine is scale-free)
    // into an exact top-3 neighbor join; round-then-rank on both sides
    "q123_text_knn" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), b AS (
           SELECT doc_id,
                  CAST(strpos('0123456789abcdef', substr(md5(w), 32, 1)) - 1 AS BIGINT) AS bucket,
                  CASE WHEN (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) % 2 = 0
                       THEN 1.0e0 ELSE -1.0e0 END AS s
           FROM t
         ), g AS (SELECT doc_id, bucket, sum(s) AS v FROM b GROUP BY 1, 2),
         sp AS (
           SELECT doc_id, unnest(range(0, 16)) AS bucket
           FROM (SELECT DISTINCT doc_id FROM b)
         ), j AS (
           SELECT sp.doc_id, sp.bucket, coalesce(g.v, 0.0e0) AS v
           FROM sp LEFT JOIN g ON sp.doc_id = g.doc_id AND sp.bucket = g.bucket
         ), vec AS (SELECT doc_id, list(v ORDER BY bucket) AS vec FROM j GROUP BY 1),
         p AS (
           SELECT q.doc_id AS qid, e.doc_id AS nn_id,
                  round(list_cosine_similarity(q.vec, e.vec), 6) AS cosine
           FROM vec q JOIN vec e ON e.doc_id <> q.doc_id
           WHERE q.doc_id < 5
         ), r AS (
           SELECT qid, nn_id, cosine,
                  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nn_id) AS nn_rank
           FROM p
         )
         SELECT qid, CAST(nn_rank AS BIGINT) AS nn_rank, nn_id, cosine FROM r
         WHERE nn_rank <= 3 ORDER BY qid, nn_rank""",
    // q122: the oracle re-derives every rate from counts — power, 6dp
    // quantization, the 32-bit hex cut (printf %08x of round(rate·2^32)
    // capped), and the rate≥1 TRUE branch all mirror the Scala driver
    "q122_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
         r AS (
           SELECT lang,
                  round(power(CAST((SELECT min(cnt) FROM c) AS DOUBLE) / cnt, 0.7e0), 6) AS rate
           FROM c
         ), cut AS (
           SELECT lang, rate,
                  printf('%08x', CAST(least(round(rate * 4294967296.0e0), 4294967295.0e0) AS BIGINT)) AS cut
           FROM r
         )
         SELECT d.doc_id, d.lang FROM documents d JOIN cut USING (lang)
         WHERE rate >= 1.0e0
            OR substring(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8) < cut
         ORDER BY doc_id""",
    // q121: md5-arithmetic bucket/sign reproduced digit-by-digit (bucket
    // = 8 hex digits mod 16 ≡ the 32nd digit; sign = parity of digit 1),
    // bucket spine → ordered list → l2 normalize → integer-µ encoding
    "q121_hash_embed" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), b AS (
           SELECT doc_id,
                  CAST(strpos('0123456789abcdef', substr(md5(w), 32, 1)) - 1 AS BIGINT) AS bucket,
                  CASE WHEN (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) % 2 = 0
                       THEN 1.0e0 ELSE -1.0e0 END AS s
           FROM t
         ), g AS (SELECT doc_id, bucket, sum(s) AS v FROM b GROUP BY 1, 2),
         sp AS (
           SELECT doc_id, unnest(range(0, 16)) AS bucket
           FROM (SELECT DISTINCT doc_id FROM b)
         ), j AS (
           SELECT sp.doc_id, sp.bucket, coalesce(g.v, 0.0e0) AS v
           FROM sp LEFT JOIN g ON sp.doc_id = g.doc_id AND sp.bucket = g.bucket
         ), vec AS (SELECT doc_id, list(v ORDER BY bucket) AS vec FROM j GROUP BY 1),
         n AS (SELECT doc_id, vec, sqrt(list_sum([x*x for x in vec])) AS nrm FROM vec),
         tok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM t GROUP BY 1)
         SELECT n.doc_id, tok.n_tokens,
                array_to_string([CAST(CASE WHEN nrm > 0 THEN round(x / nrm * 1.0e6, 0) ELSE 0.0e0 END AS BIGINT)
                                 for x in vec], ',') AS emb
         FROM n JOIN tok USING (doc_id) ORDER BY doc_id""",
    // q120: same tokenizer as q117, rank/coverage over the top-30 cut —
    // a tiebreak or cumulative-window divergence breaks the hash
    "q120_vocab_topk" ->
      """WITH t AS (
           SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
           FROM documents
         ), v AS (SELECT w, count(*) AS cnt FROM t GROUP BY 1),
         tot AS (SELECT sum(cnt) AS n_total FROM v),
         k AS (SELECT w, cnt FROM v ORDER BY cnt DESC, w LIMIT 30)
         SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank,
                w AS token, cnt,
                round(sum(cnt) OVER (ORDER BY cnt DESC, w) / (SELECT n_total FROM tot), 6) AS cum_frac
         FROM k ORDER BY rank""",
    // q119: every fact the frame chain emits is a closed form of
    // (doc_id, frame_idx) — sampled indices are the stride-2 range under
    // the per-id frame count, dims and gray bucket pure arithmetic
    "q119_video_frames" ->
      """WITH f AS (
           SELECT doc_id AS media_id,
                  unnest(range(0, 2 + CAST(doc_id % 5 AS BIGINT), 2)) AS frame_idx
           FROM documents
         )
         SELECT media_id,
                CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(16 + 8 * (media_id % 3) AS BIGINT) AS frame_w,
                CAST(8 + 8 * (media_id % 2) AS BIGINT) AS frame_h,
                CAST((media_id + frame_idx) % 7 AS BIGINT) AS gray_bucket
         FROM f ORDER BY media_id, frame_idx""",
    // q118: the same 3-word re-lining via list slicing, keep-first via
    // row_number over (line → doc_id, pos) — a flipped keeper order or a
    // reassembly off-by-one breaks the md5
    "q118_line_dedup" ->
      """WITH d AS (
           SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
         ), l AS (
           SELECT doc_id,
                  [array_to_string(ws[i*3+1:i*3+3], ' ')
                   for i in range(0, CAST(ceil(len(ws)/3.0e0) AS BIGINT))] AS lines
           FROM d
         ), e AS (
           SELECT doc_id, unnest(lines) AS line,
                  unnest(range(0, len(lines))) AS pos
           FROM l
         ), r AS (
           SELECT doc_id, pos, line,
                  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
           FROM e
         )
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos), '')) AS text_kept
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    // q116: medoid assignment (min-id row per label, clusters ordered by
    // label) reproduced in SQL, then within-cluster cosine pairs — a pair
    // escaping its cluster or a flipped argmin breaks the hash
    "q116_semantic_dedup" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL
         ), m AS (
           SELECT CAST(row_number() OVER (ORDER BY label) - 1 AS INTEGER) AS cluster, v AS cv
           FROM (
             SELECT label, CAST(embedding AS DOUBLE[]) AS v,
                    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
             FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
           ) WHERE rn = 1
         ), asn AS (
           SELECT vec_id, v, cluster FROM (
             SELECT e.vec_id, e.v, m.cluster,
                    row_number() OVER (PARTITION BY e.vec_id
                                       ORDER BY list_distance(e.v, m.cv), m.cluster) AS rn
             FROM e, m
           ) WHERE rn = 1
         )
         SELECT a.cluster, a.vec_id AS a, b.vec_id AS b,
                round(list_cosine_similarity(a.v, b.v), 6) AS cosine
         FROM asn a JOIN asn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
         ORDER BY a.cluster, a, b""",
    // q115: brute-force Levenshtein pair set on the same constructed strings
    "q115_edit_neardup" ->
      """WITH st AS (
           SELECT doc_id, substr(text, 1, 12) || chr(CAST(97 + doc_id % 3 AS INTEGER)) AS s
           FROM documents
         )
         SELECT a.doc_id AS a, b.doc_id AS b,
                CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
         FROM st a JOIN st b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.s, b.s) <= 1
         ORDER BY a, b""",
    // q114: degeneration regime ⇒ identical to the exact-scan oracle (q32)
    "q114_binary_search" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
         SELECT e.vec_id AS pk,
                round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance,
                round(1.0 / (1.0 + round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6)), 6) AS score
         FROM embeddings e, q
         ORDER BY distance, pk LIMIT 10""",
    // q113: same decomposed tail, DuckDB nfc_normalize as the UAX #15 twin
    "q113_unicode_norm" ->
      """SELECT doc_id,
           md5(nfc_normalize(text || ' café naïve Ångström')) AS nfc_md5,
           length(nfc_normalize(text || ' café naïve Ångström')) AS nfc_len,
           length(text || ' café naïve Ångström') AS raw_len
         FROM documents ORDER BY doc_id""",
    // q112: increment survivors = no exact fp in history AND no band key
    // in history (q88's signature/band formulation, md5 family)
    "q112_dedup_incremental" ->
      s"""$duckShingles, sig AS (
            SELECT doc_id,
              [list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 12)] AS sg
            FROM s
          ), bands AS (
            SELECT doc_id, j.j AS band, md5(array_to_string(sg[j.j*3+1:j.j*3+3], '|')) AS bh
            FROM sig, (SELECT unnest(range(4)) AS j) j
          ), fps AS (
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
          )
          SELECT f.doc_id FROM fps f
          WHERE f.doc_id % 5 = 0
            AND f.fp NOT IN (SELECT fp FROM fps WHERE doc_id % 5 != 0)
            AND NOT EXISTS (
              SELECT 1 FROM bands n JOIN bands h
              ON n.band = h.band AND n.bh = h.bh AND h.doc_id % 5 != 0
              WHERE n.doc_id = f.doc_id)
          ORDER BY f.doc_id""",
    // q110: q27 quality + q25 fp/keeper + q88-style near-dup losers +
    // q75 split + q94 mix, composed
    "q110_curate_e2e" -> {
      import graft.pipeline.Sampling.cutHex
      val sw = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("[", ",", "]")
      val mix = s"""CASE
            WHEN source = 'src0' THEN TRUE
            WHEN source = 'src1' THEN substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.5)}'
            WHEN source = 'src2' THEN substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.25)}'
            WHEN source = 'src3' THEN FALSE
            ELSE substring(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.1)}'
          END"""
      s"""$duckShingles, sig AS (
            SELECT doc_id,
              [list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 12)] AS sg
            FROM s
          ), bands AS (
            SELECT doc_id, j.j AS band, md5(array_to_string(sg[j.j*3+1:j.j*3+3], '|')) AS bh
            FROM sig, (SELECT unnest(range(4)) AS j) j
          ), nk AS (
            SELECT DISTINCT y.doc_id AS doc_id
            FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
          ), b AS (
            SELECT doc_id, source, text,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
            FROM documents
          ), q AS (
            SELECT doc_id, source,
              round((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                   + CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END
                   + least((CASE WHEN len(ltoks) = 0 THEN 0.0 ELSE CAST(len([x for x in ltoks if list_contains($sw, x)]) AS DOUBLE) / len(ltoks) END) * 4.0, 1.0)
                   + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0)))
                   / 4.0, 6) AS quality,
              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
              $mix AS mix_b
            FROM b
          ), k AS (SELECT fp, min(doc_id) AS keeper FROM q GROUP BY fp)
          SELECT q.doc_id, q.source,
            CASE WHEN substring(md5('split:' || CAST(q.doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.8)}' THEN 'train'
                 WHEN substring(md5('split:' || CAST(q.doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.9)}' THEN 'val'
                 ELSE 'test' END AS split,
            q.quality,
            CAST(q.quality >= 0.5 AS INT) AS quality_ok,
            CAST(q.doc_id = k.keeper AS INT) AS is_keeper,
            CAST(q.doc_id NOT IN (SELECT doc_id FROM nk) AS INT) AS is_near_keeper,
            CAST(q.mix_b AS INT) AS mix_keep,
            CAST(q.quality >= 0.5 AND q.doc_id = k.keeper
                 AND q.doc_id NOT IN (SELECT doc_id FROM nk)
                 AND q.mix_b AS INT) AS final_keep
          FROM q JOIN k USING (fp)
          ORDER BY doc_id"""
    },
    "q102_flac_probe" ->
      """SELECT doc_id AS media_id,
                'flac' AS container,
                ((100000 + doc_id % 50000) * 1000) // (32000 + (doc_id % 4) * 4000) AS duration_ms,
                CAST(1 + doc_id % 2 AS INTEGER) AS tracks
         FROM documents ORDER BY media_id""",
    "q101_shared_spans" ->
      """WITH pos AS (
           SELECT doc_id, text, unnest(range(1, greatest(1, length(text) - 48))) AS i
           FROM documents
         ), spans AS (
           SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 50) AS s FROM pos
         )
         SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM spans a JOIN spans b ON a.s = b.s AND a.doc_id < b.doc_id
         ORDER BY a, b""",
    "q100_audio_spectrum" ->
      """SELECT doc_id AS media_id,
                CAST(3 + doc_id % 60 AS INTEGER) AS dominant_bin,
                round((3 + doc_id % 60) * 8000.0 / 256, 2) AS dominant_hz,
                round((3 + doc_id % 60) * 8000.0 / 256, 2) AS centroid_hz
         FROM documents ORDER BY media_id""",
    "q99_webm_probe" ->
      """SELECT doc_id AS media_id,
                'webm' AS container,
                CAST(5000 + doc_id % 10000 AS BIGINT) AS duration_ms,
                CAST(1 + doc_id % 3 AS INTEGER) AS tracks
         FROM documents ORDER BY media_id""",
    "q98_mp4_probe" ->
      """SELECT doc_id AS media_id,
                'mp4' AS container,
                ((1200 + doc_id % 4800) * 1000) // (600 + doc_id % 400) AS duration_ms,
                CAST(1 + doc_id % 3 AS INTEGER) AS tracks
         FROM documents ORDER BY media_id""",
    // q367: the hybrid's exact-degeneration output is the same brute
    // force as q96, on its own query set — routing/merge bugs cannot
    // hash-match
    "q367_hybrid_ann" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id IN (2, 5, 13)),
         scored AS (SELECT q.qid, e.vec_id AS pk,
                           round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance
                    FROM embeddings e, q),
         ranked AS (SELECT qid, pk, distance,
                           round(1.0 / (1.0 + distance), 6) AS score,
                           CAST(row_number() OVER (PARTITION BY qid ORDER BY distance, pk) AS INT) AS rank
                    FROM scored)
         SELECT qid, pk, distance, score, rank FROM ranked
         WHERE rank <= 10 ORDER BY qid, rank""",
    "q96_graph_ann" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id IN (3, 7, 11)),
         scored AS (SELECT q.qid, e.vec_id AS pk,
                           round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS distance
                    FROM embeddings e, q),
         ranked AS (SELECT qid, pk, distance,
                           round(1.0 / (1.0 + distance), 6) AS score,
                           CAST(row_number() OVER (PARTITION BY qid ORDER BY distance, pk) AS INT) AS rank
                    FROM scored)
         SELECT qid, pk, distance, score, rank FROM ranked
         WHERE rank <= 10 ORDER BY qid, rank""",
    "q95_audio_wav" ->
      """SELECT doc_id AS media_id,
                CAST(8000 + (doc_id % 5) * 2000 AS INTEGER) AS sample_rate,
                CAST(1 AS INTEGER) AS channels,
                CAST(200 + doc_id % 300 AS BIGINT) AS n_samples,
                ((200 + doc_id % 300) * 1000) // (8000 + (doc_id % 5) * 2000) AS duration_ms,
                round((1000 + (doc_id % 20) * 500) / 32768.0, 6) AS rms,
                round((1000 + (doc_id % 20) * 500) / 32768.0, 6) AS peak,
                (200 + doc_id % 300 - 1) // (2 + doc_id % 10) AS zero_crossings
         FROM documents ORDER BY media_id""",
    "q79_contamination" -> {
      import graft.pipeline.Sampling.cutHex
      s"""$duckShingles, sp AS (
            SELECT doc_id, sh,
              CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.8)}' THEN 'train'
                   WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.9)}' THEN 'val'
                   ELSE 'test' END AS split
            FROM s
          ), tr AS (SELECT DISTINCT unnest(sh) AS g FROM sp WHERE split = 'train'),
          te AS (SELECT doc_id, unnest(sh) AS g FROM sp WHERE split = 'test'),
          hits AS (SELECT te.doc_id, count(*) AS hits FROM te JOIN tr USING (g) GROUP BY 1),
          tot AS (SELECT doc_id, len(sh) AS n_shingles FROM sp WHERE split = 'test')
          SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
                 CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
                 round(CAST(coalesce(h.hits, 0) AS DOUBLE) / t.n_shingles, 6) AS contamination
          FROM tot t LEFT JOIN hits h USING (doc_id) ORDER BY t.doc_id"""
    },
        "q92_contamination_bloom" -> {
      import graft.pipeline.Sampling.cutHex
      s"""$duckShingles, sp AS (
            SELECT doc_id, sh,
              CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.8)}' THEN 'train'
                   WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < '${cutHex(0.9)}' THEN 'val'
                   ELSE 'test' END AS split
            FROM s
          ), tr AS (SELECT DISTINCT unnest(sh) AS g FROM sp WHERE split = 'train'),
          te AS (SELECT doc_id, unnest(sh) AS g FROM sp WHERE split = 'test'),
          hits AS (SELECT te.doc_id, count(*) AS hits FROM te JOIN tr USING (g) GROUP BY 1),
          tot AS (SELECT doc_id, len(sh) AS n_shingles FROM sp WHERE split = 'test')
          SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
                 CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
                 round(CAST(coalesce(h.hits, 0) AS DOUBLE) / t.n_shingles, 6) AS contamination
          FROM tot t LEFT JOIN hits h USING (doc_id) ORDER BY t.doc_id"""
    },
    "q78_pii_redact" ->
      """WITH inj AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example or call 555-123-4567 from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7'
             ELSE text END AS t
           FROM documents
         )
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS email_cnt,
           CAST(len(regexp_extract_all(t, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS phone_cnt,
           CAST(len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS ip_cnt,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
         FROM inj ORDER BY doc_id""",
    "q77_repetition" ->
      s"""$duckRepetition
         SELECT doc_id, n_tokens, dup_word_frac, top_bigram_frac
         FROM sig ORDER BY doc_id""",
    "q67_cluster_dedup" ->
      s"""${duckShingles.replaceFirst("WITH ", "WITH RECURSIVE ")}, pairs AS (
            SELECT a.doc_id AS a, b.doc_id AS b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(a.sh || b.sh)), 6) >= 0.4
          ), edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION SELECT b AS src, a AS dst FROM pairs
          ), verts AS (SELECT DISTINCT src AS id FROM edges),
          cc(id, comp) AS (
            SELECT id, id FROM verts
            UNION
            SELECT e.dst, c.comp FROM cc c JOIN edges e ON e.src = c.id
            WHERE c.comp < e.dst
          ), fin AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
          ranked AS (
            SELECT f.comp AS component, f.id AS doc_id,
                   row_number() OVER (PARTITION BY f.comp
                                      ORDER BY length(d.text) DESC, f.id) AS rn
            FROM fin f JOIN documents d ON d.doc_id = f.id
          )
          SELECT component, doc_id, CAST(rn = 1 AS INT) AS is_keeper
          FROM ranked ORDER BY component, doc_id""",
    "q66_dedup_stream" ->
      """SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents
         ORDER BY fp""",
    "q88_dedup_stream_near" ->
      s"""$duckShingles, sig AS (
            SELECT doc_id,
              [list_min([md5(concat(CAST(i AS VARCHAR), ':', x)) for x in sh]) for i in range(0, 12)] AS sg
            FROM s
          ), bands AS (
            SELECT doc_id, j.j AS band, md5(array_to_string(sg[j.j*3+1:j.j*3+3], '|')) AS bh
            FROM sig, (SELECT unnest(range(4)) AS j) j
          ), nk AS (
            SELECT DISTINCT y.doc_id AS doc_id
            FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
          )
          SELECT d.doc_id FROM documents d
          WHERE d.doc_id NOT IN (SELECT doc_id FROM nk)
          ORDER BY d.doc_id""",
    "q46_delete_preview" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 100000)
         ORDER BY o_orderkey""",
    "q47_batch_update" ->
      """SELECT t.c_custkey, t.c_name,
                CASE WHEN t.c_custkey <= 10 THEN t.c_acctbal + 500 ELSE t.c_acctbal END AS c_acctbal
         FROM customer t
         ORDER BY t.c_custkey""",
    "q48_sql_cte" ->
      """WITH r AS (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         SELECT o_custkey, o_orderkey, o_totalprice
         FROM r WHERE rn = 1 AND o_custkey <= 100
         ORDER BY o_custkey""",
    "q49_filter_sugar" ->
      """SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
         WHERE ((p_name LIKE '%blue%' OR p_name LIKE '%hot%')
                AND p_brand IS NOT NULL AND p_brand <> '')
            OR p_retailprice > 998.5
         ORDER BY p_partkey""",
    "q50_rolling_fp" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(7::BIGINT,
                    [coalesce(ascii(c), 0)::BIGINT for c in
                     string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '')]),
                  (acc, x) -> (acc*31 + x) % 1000000007) AS rfp
         FROM documents
         ORDER BY doc_id""",
    // q336: 5 unrolled integer power-iteration rounds — sum-inflow then
    // L1-renormalize by truncating div, the exact arithmetic both Spark
    // regimes share
    "q336_eigenvector" -> {
      val rounds = (1 to 5).map { i =>
        val prev = if (i == 1) "x0" else s"x${i - 1}"
        s""", r$i AS MATERIALIZED (
             SELECT e.dst AS node, sum(x.s) AS s
             FROM e JOIN $prev x ON x.node = e.src GROUP BY 1
           ), t$i AS (SELECT sum(s) AS t FROM r$i),
           x$i AS MATERIALIZED (
             SELECT n.node,
                    CAST(CASE WHEN t.t IS NULL OR t.t = 0 THEN coalesce(r.s, 0)
                         ELSE (coalesce(r.s, 0) * 1000000) // t.t END AS BIGINT) AS s
             FROM (SELECT node FROM x0) n
             LEFT JOIN r$i r ON r.node = n.node CROSS JOIN t$i t)"""
      }.mkString
      duckTop90Graph +
        ", x0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1000000::BIGINT AS s FROM e)" +
        rounds +
        " SELECT node, s AS score_units FROM x5 ORDER BY node"
    },
    // q337: wedge join over the symmetrized top-90 graph, anti-join of
    // existing edges, jaccard/RA published from exact counts
    "q337_link_predict" -> (duckTop90Graph +
      """, deg AS (SELECT src AS z, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
         w2 AS (
           SELECT a.src AS z, a.dst AS u, b.dst AS w
           FROM e a JOIN e b ON b.src = a.src AND a.dst < b.dst
         ), cand AS (
           SELECT u, w, CAST(count(*) AS BIGINT) AS n_common,
                  sum(CAST(round(1.0::DOUBLE / d.dg, 12) AS DECIMAL(24,12))) AS ra
           FROM w2 JOIN deg d ON d.z = w2.z GROUP BY 1, 2
         ), nonadj AS (
           SELECT c.* FROM cand c
           LEFT JOIN top t ON t.pa = c.u AND t.pb = c.w WHERE t.pa IS NULL
         )
         SELECT u AS node_a, w AS node_b, n_common,
                round(CAST(n_common AS DOUBLE) / (du.dg + dw.dg - n_common), 6) AS jaccard,
                round(CAST(ra AS DOUBLE), 6) AS ra_score
         FROM nonadj JOIN deg du ON du.z = u JOIN deg dw ON dw.z = w
         ORDER BY jaccard DESC, u, w LIMIT 20"""),
    // q338: the q279 LPA labels, then Newman Q by exact integer
    // numerator over HUGEINT and one double divide
    "q338_modularity" -> (duckTop90Graph + duckLabelProp3 +
      """, tg AS (
           SELECT t.pa AS a, t.pb AS b, la.label AS la, lb.label AS lb
           FROM top t JOIN l3 la ON la.node = t.pa JOIN l3 lb ON lb.node = t.pb
         ), degc AS (
           SELECT c, CAST(count(*) AS BIGINT) AS dc
           FROM (SELECT la AS c FROM tg UNION ALL SELECT lb FROM tg) GROUP BY 1
         ), s1 AS (
           SELECT sum(CAST(dc AS HUGEINT) * dc) AS sumdc2,
                  CAST(count(*) AS BIGINT) AS n_communities
           FROM degc
         ), s2 AS (
           SELECT CAST(count(*) AS BIGINT) AS m,
                  CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS within_edges
           FROM tg
         )
         SELECT s2.m, s1.n_communities, s2.within_edges,
                CASE WHEN s2.m > 0 THEN round(
                  CAST(4::HUGEINT * s2.m * s2.within_edges - s1.sumdc2 AS DOUBLE)
                  / (4.0::DOUBLE * s2.m * s2.m), 6) END AS q
         FROM s2 CROSS JOIN s1"""),
    // q339: exact per-level moments, z in one double expression over a
    // common denominator (p̄ stays symbolic)
    "q339_cochran_armitage" ->
      """WITH lvl AS (
           SELECT CAST(extract(hour FROM ts) AS BIGINT) AS t,
                  CAST(count(*) AS BIGINT) AS nn,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS r
           FROM events GROUP BY 1
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n_levels,
                  CAST(sum(nn) AS BIGINT) AS n,
                  CAST(sum(r) AS BIGINT) AS successes,
                  sum(CAST(t AS HUGEINT) * nn) AS tn,
                  sum(CAST(t AS HUGEINT) * t * nn) AS t2n,
                  sum(CAST(t AS HUGEINT) * r) AS tr
           FROM lvl
         )
         SELECT n, n_levels, successes,
                CASE WHEN n_levels > 1 AND successes > 0 AND successes < n THEN
                  round((CAST(tr AS DOUBLE) - CAST(tn AS DOUBLE) * CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                        / sqrt((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                               * (1.0::DOUBLE - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                               * (CAST(t2n AS DOUBLE) - CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE) / CAST(n AS DOUBLE))), 6)
                END AS z_ca
         FROM m""",
    // q340: the same salted-md5 52-bit fraction stream, 64 relabelings,
    // exact integer replicate sums, add-one Monte-Carlo p
    // q368: the q340 replay swept per group (shared CTE core)
    "q368_perm_sweep" ->
      (duckPermBy + " SELECT * FROM pfinal ORDER BY grp"),
    // q369: q368's exact-rational p-values under BH step-up — ranks on
    // the shared (p, test) total order, k* as a scalar, reverse-running-
    // min q-values, identical association to the operator
    "q369_bh_fdr" ->
      (duckPermBy + """, ranked AS (
           SELECT grp AS test, p_value,
                  CAST(row_number() OVER (ORDER BY p_value, grp) AS BIGINT) AS rank,
                  CAST(count(*) OVER () AS BIGINT) AS m
           FROM pfinal
         ), kstar AS (
           SELECT max(CASE WHEN p_value <= CAST(rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE)
                           THEN rank END) AS ks
           FROM ranked
         )
         SELECT test, p_value, rank, m,
                round(CAST(rank AS DOUBLE) * 0.05 / CAST(m AS DOUBLE), 6) AS bh_crit,
                round(least(1.0::DOUBLE,
                  min(p_value * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
                    OVER (ORDER BY p_value DESC, test DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS q_value,
                CASE WHEN rank <= coalesce((SELECT ks FROM kstar), 0) THEN 1 ELSE 0 END AS discovery
         FROM ranked ORDER BY rank"""),
    // q370: full 2x2 Dunning G2 per type over the parity halves — the
    // same tokenizer as q347, every cell term one CASE-guarded double
    // with the operator's association verbatim
    "q370_keyness" ->
      """WITH t0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS c0 FROM (
             SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
             FROM documents WHERE doc_id % 2 = 0) WHERE w <> '' GROUP BY 1
         ), t1 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM (
             SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
             FROM documents WHERE doc_id % 2 = 1) WHERE w <> '' GROUP BY 1
         ), j AS (
           SELECT coalesce(t0.w, t1.w) AS w,
                  coalesce(c0, 0) AS c0, coalesce(c1, 0) AS c1
           FROM t0 FULL OUTER JOIN t1 ON t1.w = t0.w
         ), tot AS (
           SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1 FROM j
         ), terms AS (
           SELECT w, c0, c1,
                  round(2.0::DOUBLE * (
                    (CASE WHEN c0 > 0 THEN a * ln(a / (n0 * (a + b) / (n0 + n1))) ELSE 0.0::DOUBLE END)
                    + (CASE WHEN c1 > 0 THEN b * ln(b / (n1 * (a + b) / (n0 + n1))) ELSE 0.0::DOUBLE END)
                    + (CASE WHEN n0 - a > 0 THEN (n0 - a) * ln((n0 - a) / (n0 * ((n0 - a) + (n1 - b)) / (n0 + n1))) ELSE 0.0::DOUBLE END)
                    + (CASE WHEN n1 - b > 0 THEN (n1 - b) * ln((n1 - b) / (n1 * ((n0 - a) + (n1 - b)) / (n0 + n1))) ELSE 0.0::DOUBLE END)
                  ), 6) AS g2,
                  CASE WHEN CAST(c0 AS DECIMAL(38,0)) * CAST(tn1 AS DECIMAL(38,0))
                            > CAST(c1 AS DECIMAL(38,0)) * CAST(tn0 AS DECIMAL(38,0))
                       THEN 1 ELSE -1 END AS direction
           FROM (
             SELECT j.w, j.c0, j.c1, tot.n0 AS tn0, tot.n1 AS tn1,
                    CAST(j.c0 AS DOUBLE) AS a, CAST(j.c1 AS DOUBLE) AS b,
                    CAST(tot.n0 AS DOUBLE) AS n0, CAST(tot.n1 AS DOUBLE) AS n1
             FROM j CROSS JOIN tot)
         )
         SELECT w, c0, c1, g2, direction FROM terms
         ORDER BY g2 DESC, w LIMIT 20""",
    // q371: the same tokenizer, empty tokens filtered from the ARRAY,
    // per-n slices via list comprehension, exact distinct counts
    "q371_distinct_ngrams" ->
      """WITH t AS (
           SELECT list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), x -> x <> '') AS toks
           FROM documents
         ), gn AS (
           SELECT 1 AS n, unnest([array_to_string(toks[i+1:i+1], ' ') for i in range(0, len(toks))]) AS g
           FROM t WHERE len(toks) >= 1
           UNION ALL
           SELECT 2, unnest([array_to_string(toks[i+1:i+2], ' ') for i in range(0, len(toks)-1)])
           FROM t WHERE len(toks) >= 2
           UNION ALL
           SELECT 3, unnest([array_to_string(toks[i+1:i+3], ' ') for i in range(0, len(toks)-2)])
           FROM t WHERE len(toks) >= 3
           UNION ALL
           SELECT 4, unnest([array_to_string(toks[i+1:i+4], ' ') for i in range(0, len(toks)-3)])
           FROM t WHERE len(toks) >= 4
         )
         SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams,
                CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
                round(CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS distinct_ratio
         FROM gn GROUP BY 1 ORDER BY 1""",
    // q372: the three detectors replayed, Q from exact integer sums —
    // Q = (k−1)·Σ(k·C_j − T)² / (k·(k·T − ΣR_i²)), unanimous panels NULL
    "q372_cochran_q" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END AS d1,
                  CASE WHEN n_chars > 400 THEN 1 ELSE 0 END AS d2,
                  CASE WHEN contains(lower(text), 'the') THEN 1 ELSE 0 END AS d3
           FROM documents
         ), s AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(d1) AS BIGINT) AS c1,
                  CAST(sum(d2) AS BIGINT) AS c2,
                  CAST(sum(d3) AS BIGINT) AS c3,
                  CAST(sum((d1 + d2 + d3) * (d1 + d2 + d3)) AS BIGINT) AS sr2
           FROM d
         ), f AS (SELECT n, c1, c2, c3, c1 + c2 + c3 AS t, sr2 FROM s)
         SELECT CAST(3 AS BIGINT) AS k, n AS n_items, t AS t_successes,
                CASE WHEN 3 * (3 * t - sr2) <> 0 THEN
                  round(CAST(2 * ((3*c1 - t)*(3*c1 - t) + (3*c2 - t)*(3*c2 - t)
                               + (3*c3 - t)*(3*c3 - t)) AS DOUBLE)
                        / CAST(3 * (3 * t - sr2) AS DOUBLE), 6)
                END AS q,
                CAST(2 AS BIGINT) AS df
         FROM f""",
    // q373: level-synchronous BFS with exact path counts (6 unrolled
    // levels, σ at level k sums level-(k−1) neighbor σ), then the
    // Brandes σ-identity per node — every term the operator's
    // truncating (σσ·1e9)//σ verbatim, HUGEINT sum, one //2
    "q373_betweenness" -> {
      val levels = (2 to 6).map { k =>
        s""", n$k AS MATERIALIZED (
             SELECT r.src, e.dst AS node, $k AS d,
                    CAST(sum(r.sigma) AS BIGINT) AS sigma
             FROM n${k - 1} r JOIN e ON e.src = r.node
             WHERE e.dst <> r.src
               AND NOT EXISTS (SELECT 1 FROM r${k - 1} z
                               WHERE z.src = r.src AND z.node = e.dst)
             GROUP BY 1, 2
           ), r$k AS MATERIALIZED (
             SELECT * FROM r${k - 1} UNION ALL SELECT * FROM n$k)"""
      }.mkString
      duckTop90Graph +
      s""", n1 AS MATERIALIZED (
           SELECT src, dst AS node, 1 AS d, CAST(1 AS BIGINT) AS sigma FROM e
         ), r1 AS MATERIALIZED (SELECT * FROM n1)
         $levels
         , nodes AS (SELECT DISTINCT src AS node FROM e),
         terms AS (
           SELECT a.node AS v,
                  (a.sigma * b.sigma * 1000000000) // st.sigma AS u
           FROM r6 a
           JOIN r6 b ON b.src = a.node AND b.node <> a.src
           JOIN r6 st ON st.src = a.src AND st.node = b.node
                     AND st.d = a.d + b.d
         ), bc AS (SELECT v, sum(u) AS su FROM terms GROUP BY 1)
         SELECT n.node, CAST(coalesce(bc.su, 0) // 2 AS BIGINT) AS bc_units
         FROM nodes n LEFT JOIN bc ON bc.v = n.node
         ORDER BY bc_units DESC, node"""
    },
    // q374: doubled-integer placements from per-score prefix sums, all
    // moments HUGEINT-exact, then the operator's variance/covariance
    // double expression verbatim (same IEEE tree → same doubles)
    "q374_delong_auc" ->
      """WITH base0 AS (
           SELECT CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END AS y,
                  CAST(TRY_CAST(n_chars AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS va,
                  CAST(TRY_CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vb
           FROM documents
           WHERE text IS NOT NULL AND n_chars IS NOT NULL
         ), base AS (
           -- unquantizable (|score| >= 1e12) leaves the population, as the
           -- operator's post-quantization filter
           SELECT * FROM base0 WHERE va IS NOT NULL AND vb IS NOT NULL
         ), tot AS (
           SELECT CAST(sum(y) AS BIGINT) AS np,
                  CAST(count(*) - sum(y) AS BIGINT) AS nn
           FROM base
         ), pva AS (
           SELECT va AS v, CAST(sum(y) AS BIGINT) AS cp,
                  CAST(count(*) - sum(y) AS BIGINT) AS cn
           FROM base GROUP BY 1
         ), ca AS (
           SELECT v, 2 * coalesce(sum(cn) OVER w, 0) + cn AS pa,
                  2 * ((SELECT np FROM tot) - coalesce(sum(cp) OVER w, 0) - cp) + cp AS nja
           FROM pva
           WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ), pvb AS (
           SELECT vb AS v, CAST(sum(y) AS BIGINT) AS cp,
                  CAST(count(*) - sum(y) AS BIGINT) AS cn
           FROM base GROUP BY 1
         ), cb AS (
           SELECT v, 2 * coalesce(sum(cn) OVER w, 0) + cn AS pb,
                  2 * ((SELECT np FROM tot) - coalesce(sum(cp) OVER w, 0) - cp) + cp AS njb
           FROM pvb
           WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ), items AS (
           SELECT b.y, ca.pa, ca.nja, cb.pb, cb.njb
           FROM base b JOIN ca ON ca.v = b.va JOIN cb ON cb.v = b.vb
         ), m AS (
           SELECT
             sum(CASE WHEN y = 1 THEN CAST(pa AS HUGEINT) ELSE 0 END) AS sa,
             sum(CASE WHEN y = 1 THEN CAST(pb AS HUGEINT) ELSE 0 END) AS sb,
             sum(CASE WHEN y = 1 THEN CAST(pa AS HUGEINT) * pa ELSE 0 END) AS saa,
             sum(CASE WHEN y = 1 THEN CAST(pb AS HUGEINT) * pb ELSE 0 END) AS sbb,
             sum(CASE WHEN y = 1 THEN CAST(pa AS HUGEINT) * pb ELSE 0 END) AS sab,
             sum(CASE WHEN y = 0 THEN CAST(nja AS HUGEINT) ELSE 0 END) AS ta,
             sum(CASE WHEN y = 0 THEN CAST(njb AS HUGEINT) ELSE 0 END) AS tb,
             sum(CASE WHEN y = 0 THEN CAST(nja AS HUGEINT) * nja ELSE 0 END) AS taa,
             sum(CASE WHEN y = 0 THEN CAST(njb AS HUGEINT) * njb ELSE 0 END) AS tbb,
             sum(CASE WHEN y = 0 THEN CAST(nja AS HUGEINT) * njb ELSE 0 END) AS tab
           FROM items
         ), f AS (
           SELECT np, nn, CAST(np AS DOUBLE) AS npd, CAST(nn AS DOUBLE) AS nnd,
                  CAST(sa AS DOUBLE) AS sa, CAST(sb AS DOUBLE) AS sb,
                  CAST(saa AS DOUBLE) AS saa, CAST(sbb AS DOUBLE) AS sbb,
                  CAST(sab AS DOUBLE) AS sab,
                  CAST(ta AS DOUBLE) AS ta, CAST(tb AS DOUBLE) AS tb,
                  CAST(taa AS DOUBLE) AS taa, CAST(tbb AS DOUBLE) AS tbb,
                  CAST(tab AS DOUBLE) AS tab
           FROM m CROSS JOIN tot
         ), g AS (
           SELECT np, nn, npd, nnd,
                  sa / (2.0 * nnd * npd) AS auca,
                  sb / (2.0 * nnd * npd) AS aucb,
                  (saa - sa * sa / npd) / ((npd - 1.0) * (2.0 * nnd) * (2.0 * nnd)) AS s10aa,
                  (sbb - sb * sb / npd) / ((npd - 1.0) * (2.0 * nnd) * (2.0 * nnd)) AS s10bb,
                  (sab - sa * sb / npd) / ((npd - 1.0) * (2.0 * nnd) * (2.0 * nnd)) AS s10ab,
                  (taa - ta * ta / nnd) / ((nnd - 1.0) * (2.0 * npd) * (2.0 * npd)) AS s01aa,
                  (tbb - tb * tb / nnd) / ((nnd - 1.0) * (2.0 * npd) * (2.0 * npd)) AS s01bb,
                  (tab - ta * tb / nnd) / ((nnd - 1.0) * (2.0 * npd) * (2.0 * npd)) AS s01ab
           FROM f
         ), h AS (
           SELECT np, nn, npd, nnd, auca, aucb,
                  (s10aa / npd + s01aa / nnd) + (s10bb / npd + s01bb / nnd)
                    - 2.0 * (s10ab / npd + s01ab / nnd) AS vd
           FROM g
         )
         SELECT np AS n_pos, nn AS n_neg,
                CASE WHEN np >= 1 AND nn >= 1 THEN round(auca, 6) END AS auc_a,
                CASE WHEN np >= 1 AND nn >= 1 THEN round(aucb, 6) END AS auc_b,
                CASE WHEN np >= 1 AND nn >= 1 THEN round(auca - aucb, 6) END AS auc_diff,
                CASE WHEN np >= 2 AND nn >= 2 AND vd > 0 THEN round(sqrt(vd), 6) END AS se_diff,
                CASE WHEN np >= 2 AND nn >= 2 AND vd > 0
                     THEN round((auca - aucb) / sqrt(vd), 6) END AS z
         FROM h""",
    // q375: the q294 cells and 12dp psi_MH terms verbatim, then per
    // stratum the operator's quadratic-root/variance double expression
    // (same CASE order, same IEEE tree), 12dp-decimal cross-stratum sums
    "q375_breslow_day" ->
      """WITH per AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS g,
                  CAST(sum(CASE WHEN o_custkey % 2 = 0 AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN o_custkey % 2 = 0 AND o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM orders GROUP BY 1
         ), psis AS (
           SELECT CAST(sum(CAST(CASE WHEN a + b + c + d >= 2 THEN
                    round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12)
                  ELSE 0 END AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s_ad,
                  CAST(sum(CAST(CASE WHEN a + b + c + d >= 2 THEN
                    round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE), 12)
                  ELSE 0 END AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s_bc,
                  CAST(count(*) AS BIGINT) AS n_strata
           FROM per
         ), sc AS (
           -- degenerate pooled OR (s_ad or s_bc <= 0) -> NULL psi here and a
           -- guarded NULL row below, mirroring the operator's refusal branch
           -- (no unguarded divide that would inf/NaN-poison the casts)
           SELECT n_strata,
                  CASE WHEN CAST(s_ad AS DOUBLE) > 0 AND CAST(s_bc AS DOUBLE) > 0
                       THEN CAST(s_ad AS DOUBLE) / CAST(s_bc AS DOUBLE) END AS psi
           FROM psis
         ), marg AS (
           SELECT per.a, sc.psi, sc.n_strata,
                  CAST(per.a + per.b AS DOUBLE) AS n1,
                  CAST(per.c + per.d AS DOUBLE) AS n0,
                  CAST(per.a + per.c AS DOUBLE) AS m1,
                  CASE WHEN per.a + per.b > 0 AND per.c + per.d > 0
                        AND per.a + per.c > 0 AND per.b + per.d > 0
                       THEN 1 ELSE 0 END AS u
           FROM per CROSS JOIN sc
         ), quad AS (
           SELECT a, psi, n_strata, n1, n0, m1, u,
                  1.0 - psi AS ba,
                  (n0 - m1) + psi * (n1 + m1) AS bb,
                  0.0 - psi * n1 * m1 AS bc
           FROM marg
         ), roots AS (
           SELECT a, psi, n_strata, n1, n0, m1, u, ba, bb, bc,
                  sqrt(CASE WHEN bb * bb - 4.0 * ba * bc > 0
                            THEN bb * bb - 4.0 * ba * bc ELSE 0.0 END) AS rt
           FROM quad
         ), qroot AS (
           -- stable Citardauq half: q = -(bb + sign(bb)*rt)/2 — the
           -- operator's cancellation-free root pair, IEEE tree mirrored
           SELECT a, psi, n_strata, n1, n0, m1, u, ba, bc,
                  0.0 - (bb + CASE WHEN bb >= 0.0 THEN rt
                              ELSE 0.0 - rt END) / 2.0 AS qq
           FROM roots
         ), fit AS (
           SELECT a, psi, n_strata, n1, n0, m1, u,
                  CASE WHEN abs(ba) < 1e-12 THEN n1 * m1 / (n1 + n0)
                       WHEN qq / ba >= greatest(0.0, m1 - n0) - 1e-7
                        AND qq / ba <= least(n1, m1) + 1e-7
                       THEN qq / ba
                       ELSE bc / qq END AS afit
           FROM qroot
         ), vterm AS (
           SELECT a, n_strata, u, afit,
                  1.0 / (1.0 / afit + 1.0 / (n1 - afit) + 1.0 / (m1 - afit)
                         + 1.0 / (n0 - m1 + afit)) AS vfit,
                  CAST(a AS DOUBLE) - afit AS diff
           FROM fit
         ), terms AS (
           SELECT n_strata,
                  CAST(sum(CASE WHEN u = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
                  CAST(sum(CAST(CASE WHEN u = 1 THEN round(diff * diff / vfit, 12) ELSE 0 END AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s_bd,
                  CAST(sum(CAST(CASE WHEN u = 1 THEN round(diff, 12) ELSE 0 END AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s_df,
                  CAST(sum(CAST(CASE WHEN u = 1 THEN round(vfit, 12) ELSE 0 END AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s_v
           FROM vterm GROUP BY 1
         )
         SELECT t.n_strata,
                CASE WHEN sc.psi IS NULL THEN 0 ELSE t.n_used END AS n_used,
                round(sc.psi, 6) AS or_mh,
                CASE WHEN sc.psi IS NOT NULL AND t.n_used >= 2
                  THEN round(CAST(t.s_bd AS DOUBLE), 6) END AS bd,
                CASE WHEN sc.psi IS NOT NULL AND t.n_used >= 2 AND t.s_v > 0 THEN
                  round(CAST(t.s_bd AS DOUBLE)
                        - CAST(t.s_df AS DOUBLE) * CAST(t.s_df AS DOUBLE)
                          / CAST(t.s_v AS DOUBLE), 6) END AS bd_tarone,
                CASE WHEN sc.psi IS NOT NULL AND t.n_used >= 2
                  THEN t.n_used - 1 END AS df
         FROM terms t CROSS JOIN sc""",
    // q376: the q370 tokenizer, adjacent-pair slices, canonical distinct
    // undirected edges, then the duckPageRank integer fixed-point rounds
    // verbatim over the word graph
    "q376_textrank" -> {
      val iters = (1 to 5).map { i =>
        val prev = if (i == 1) "r0" else s"it${i - 1}"
        s""", it$i AS (
             SELECT n.node, CAST(150000000 + COALESCE(f.infl, 0) AS BIGINT) AS r
             FROM nodes n LEFT JOIN (
               SELECT e.dst AS node,
                      CAST(sum((rp.r * 85) // (100 * deg.deg)) AS BIGINT) AS infl
               FROM e JOIN $prev rp ON rp.node = e.src
                      JOIN deg ON deg.src = e.src
               GROUP BY 1
             ) f ON f.node = n.node
           )"""
      }.mkString
      s"""WITH t AS (
           SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
           FROM documents
         ), g2 AS (
           SELECT unnest([toks[i+1:i+2] for i in range(0, len(toks) - 1)]) AS pr
           FROM t WHERE len(toks) >= 2
         ), prs AS MATERIALIZED (
           SELECT DISTINCT least(pr[1], pr[2]) AS pa, greatest(pr[1], pr[2]) AS pb
           FROM g2 WHERE pr[1] <> pr[2] AND pr[1] <> '' AND pr[2] <> ''
         ), e AS MATERIALIZED (
           SELECT pa AS src, pb AS dst FROM prs
           UNION ALL SELECT pb, pa FROM prs
         ), nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)
         $iters
         SELECT node AS w, r AS rank_units FROM it5
         ORDER BY rank_units DESC, w LIMIT 20"""
    },
    // q377: the q358 recursive min-distance relation, grouped per
    // source instead of pooled — 12dp-decimal 1/d sums, one 6dp divide
    "q377_closeness" -> (duckTop90Graph.replace("WITH bi", "WITH RECURSIVE bi") +
      """, r AS (
           SELECT src, dst AS node, 1 AS d FROM e
           UNION
           SELECT r.src, e.dst AS node, r.d + 1
           FROM r JOIN e ON e.src = r.node
           WHERE r.d < 24 AND e.dst <> r.src
         ), md AS (
           SELECT src, node, CAST(min(d) AS BIGINT) AS d
           FROM r WHERE node <> src GROUP BY 1, 2
         )
         SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reach,
                CAST(sum(d) AS BIGINT) AS total_dist,
                round(CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_dist,
                round(CAST(sum(CAST(round(1.0::DOUBLE / d, 12) AS DECIMAL(24,12))) AS DOUBLE), 6) AS harmonic
         FROM md GROUP BY 1 ORDER BY node"""),
    // q378: exact cents + 12dp x·lnx sums per group, then the operator's
    // sum-identity Theil expressions verbatim; decomposition terms
    // 12dp-decimal-summed across the 5 groups
    "q378_theil" ->
      """WITH rows_ AS (
           SELECT o_orderpriority AS grp, CAST(o_totalprice AS DOUBLE) AS x
           FROM orders
           WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
             AND o_totalprice > 0
         ), per AS (
           SELECT grp, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(round(x * 100.0, 0) AS HUGEINT)) AS HUGEINT) AS s2,
                  CAST(sum(CAST(round(x * ln(x), 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS u
           FROM rows_ GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(n) AS BIGINT) AS nt,
                  CAST(sum(s2) AS HUGEINT) AS s2t,
                  CAST(sum(u) AS DECIMAL(38,12)) AS ut
           FROM per
         ), m AS (
           SELECT grp, n,
                  CAST(s2 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mug,
                  (CAST(s2 AS DOUBLE) / 100.0) / (CAST(s2t AS DOUBLE) / 100.0) AS share,
                  (CAST(u AS DOUBLE)
                    - ln(CAST(s2 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE))
                      * (CAST(s2 AS DOUBLE) / 100.0))
                  / (CAST(n AS DOUBLE)
                     * (CAST(s2 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE))) AS tg,
                  CAST(s2t AS DOUBLE) / 100.0 / CAST(nt AS DOUBLE) AS mut
           FROM per CROSS JOIN tot
         ), sc AS (
           SELECT CAST(sum(CAST(round(share * tg, 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS tw,
                  CAST(sum(CAST(round(share * ln(mug / mut), 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS tb
           FROM m
         )
         SELECT m.grp, m.n, round(m.mug, 6) AS mean_x, round(m.share, 6) AS share,
                round(m.tg, 6) AS theil_g,
                round(CAST(sc.tw AS DOUBLE), 6) AS theil_within,
                round(CAST(sc.tb AS DOUBLE), 6) AS theil_between,
                round(CAST(sc.tw AS DOUBLE) + CAST(sc.tb AS DOUBLE), 6) AS theil_total
         FROM m CROSS JOIN sc ORDER BY grp""",
    // q379: the q73 int8 quantize/dequantize replayed per element
    // (clamped round, REAL scale, REAL product), both blocks micro-unit
    // quantized into ONE 2d relation, then the q366 exact centered
    // cells and 12dp Frobenius sums verbatim
    "q379_cka_int8" ->
      """WITH dq AS (
           SELECT vec_id, embedding,
                  list_max([abs(CAST(v AS DOUBLE)) for v in embedding]) AS amax,
                  CAST(list_max([abs(CAST(v AS DOUBLE)) for v in embedding]) / 127.0 AS REAL) AS scale
           FROM embeddings WHERE embedding IS NOT NULL
         ), zu AS (
           SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
                  CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS zv
           FROM dq, unnest(range(1, len(embedding) + 1)) AS t(i)
           UNION ALL
           SELECT vec_id, CAST(len(embedding) + t.i - 1 AS INTEGER) AS i,
                  CAST(round(CAST(CAST(CAST(CAST(least(greatest(round(CAST(embedding[t.i] AS DOUBLE) * 127.0 / amax), -127), 127) AS TINYINT) AS REAL) * scale AS REAL) AS DOUBLE) * 1000000, 0) AS BIGINT) AS zv
           FROM dq, unnest(range(1, len(embedding) + 1)) AS t(i)
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dq),
         sums AS (SELECT i, CAST(sum(zv) AS BIGINT) AS s FROM zu GROUP BY 1),
         cells AS (
           SELECT a.i, b.i AS j, sum(CAST(a.zv AS HUGEINT) * b.zv) AS cij
           FROM zu a JOIN zu b ON b.vec_id = a.vec_id GROUP BY 1, 2
         ), cov AS MATERIALIZED (
           SELECT c.i, c.j,
                  round(CAST(nn.n * c.cij - CAST(sa.s AS HUGEINT) * sb.s AS DOUBLE)
                        / (CAST(nn.n AS DOUBLE) * nn.n * 1000000000000.0), 12) AS cv
           FROM cells c JOIN sums sa ON sa.i = c.i JOIN sums sb ON sb.i = c.j
           CROSS JOIN nn
         ), dd AS (SELECT CAST(count(*) // 2 AS BIGINT) AS d FROM sums),
         h AS (
           SELECT
             CAST(sum(CASE WHEN i < d AND j >= d THEN CAST(round(cv * cv, 12) AS DECIMAL(38,12)) ELSE 0 END) AS DECIMAL(38,12)) AS hxy,
             CAST(sum(CASE WHEN i < d AND j < d THEN CAST(round(cv * cv, 12) AS DECIMAL(38,12)) ELSE 0 END) AS DECIMAL(38,12)) AS hxx,
             CAST(sum(CASE WHEN i >= d AND j >= d THEN CAST(round(cv * cv, 12) AS DECIMAL(38,12)) ELSE 0 END) AS DECIMAL(38,12)) AS hyy
           FROM cov CROSS JOIN dd
         )
         SELECT nn.n, dd.d AS dim,
                round(CAST(hxy AS DOUBLE), 12) AS hsic_xy,
                round(CAST(hxx AS DOUBLE), 12) AS hsic_xx,
                round(CAST(hyy AS DOUBLE), 12) AS hsic_yy,
                CASE WHEN hxx > 0 AND hyy > 0 THEN
                  round(CAST(hxy AS DOUBLE)
                        / sqrt(CAST(hxx AS DOUBLE) * CAST(hyy AS DOUBLE)), 6)
                END AS cka
         FROM h CROSS JOIN nn CROSS JOIN dd""",
    // q380: q232's subjects, exact risk sets from strictly-below window
    // sums, then 4 unrolled Newton CTEs — e^β re-rounded 12dp per step,
    // every U/I term the operator's double expression verbatim
    "q380_cox" -> {
      val pTerm = "((CAST(r1 AS DOUBLE) * p.eb) / (CAST(r0 AS DOUBLE) + CAST(r1 AS DOUBLE) * p.eb))"
      val steps = (1 to IterCaps.cox).map { k =>
        s""", s$k AS (
             SELECT CAST(sum(CAST(round(CAST(d AS DOUBLE) * $pTerm, 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS su,
                    CAST(sum(CAST(round(CAST(d AS DOUBLE) * $pTerm * (1.0 - $pTerm), 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS si
             FROM evt CROSS JOIN e${k - 1} p
           ), b$k AS (
             -- si <= 0 (or NULL from an upstream degenerate/no-events step)
             -- -> NULL beta, propagating to every later step: the operator's
             -- short-circuit nullRow, not an unguarded inf/NaN divide
             SELECT CASE WHEN CAST(s.si AS DOUBLE) > 0 THEN
               round(p.b + ((SELECT CAST(sd1 AS DOUBLE) FROM tots) - CAST(s.su AS DOUBLE)) / CAST(s.si AS DOUBLE), 12) END AS b
             FROM b${k - 1} p CROSS JOIN s$k s
           ), e$k AS (SELECT b, round(exp(b), 12) AS eb FROM b$k)"""
      }.mkString
      s"""WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev,
                  user_id % 2 = 0 AS x
           FROM pu
         ), att AS (
           SELECT t,
                  CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                  CAST(sum(CASE WHEN x THEN 0 ELSE 1 END) AS BIGINT) AS a0,
                  CAST(sum(CASE WHEN ev AND x THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM subj GROUP BY 1
         ), tots AS (
           SELECT CAST(sum(a1) AS BIGINT) AS n1, CAST(sum(a0) AS BIGINT) AS n0,
                  CAST(sum(d1) AS BIGINT) AS sd1, CAST(sum(d) AS BIGINT) AS sd
           FROM att
         ), evt AS MATERIALIZED (
           SELECT d, d1, r1, r0 FROM (
             SELECT d, d1,
                    (SELECT n1 FROM tots) - coalesce(sum(a1) OVER w, 0) AS r1,
                    (SELECT n0 FROM tots) - coalesce(sum(a0) OVER w, 0) AS r0
             FROM att
             WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           ) WHERE d > 0
         ), b0 AS (SELECT 0.0::DOUBLE AS b),
         e0 AS (SELECT b, round(exp(b), 12) AS eb FROM b0)
         $steps
         , fin AS (
           SELECT CAST(sum(CAST(round(CAST(d AS DOUBLE) * $pTerm * (1.0 - $pTerm), 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS si
           FROM evt CROSS JOIN e${IterCaps.cox} p
         ), pub AS (
           SELECT CASE WHEN CAST(fin.si AS DOUBLE) > 0 THEN b${IterCaps.cox}.b END AS beta,
                  CASE WHEN CAST(fin.si AS DOUBLE) > 0
                       THEN 1.0 / sqrt(CAST(fin.si AS DOUBLE)) END AS se
           FROM b${IterCaps.cox} CROSS JOIN fin
         )
         SELECT tots.n1 + tots.n0 AS n, tots.sd AS n_events,
                tots.sd1 AS d1_exposed,
                round(pub.beta, 6) AS beta,
                round(exp(pub.beta), 6) AS hr,
                round(pub.se, 6) AS se,
                round(pub.beta / pub.se, 6) AS z
         FROM pub CROSS JOIN tots"""
    },
    // q381: basket counts straight off the bi relation, centering over
    // the common denominator n — two HUGEINT sums, one double divide
    "q381_moran" -> (duckTop90Graph +
      """, at AS (SELECT i AS nd, CAST(count(*) AS BIGINT) AS x FROM bi GROUP BY 1),
         gnodes AS (SELECT DISTINCT src AS nd FROM e),
         tt AS (
           SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(at.x) AS BIGINT) AS s
           FROM gnodes JOIN at USING (nd)
         ), z AS MATERIALIZED (
           SELECT nd, CAST(tt.n AS HUGEINT) * at.x - tt.s AS z
           FROM gnodes JOIN at USING (nd) CROSS JOIN tt
         ), dz AS (SELECT sum(z * z) AS dz FROM z),
         nm AS (
           SELECT sum(zi.z * zj.z) AS nz, CAST(count(*) AS BIGINT) AS w
           FROM e JOIN z zi ON zi.nd = e.src JOIN z zj ON zj.nd = e.dst
         )
         SELECT tt.n AS n_nodes, nm.w AS w_edges,
                CASE WHEN dz.dz <> 0 AND nm.w <> 0 THEN
                  round(CAST(tt.n AS DOUBLE) * CAST(nm.nz AS DOUBLE)
                        / (CAST(nm.w AS DOUBLE) * CAST(dz.dz AS DOUBLE)), 6)
                END AS moran_i,
                CASE WHEN tt.n > 1 THEN
                  round(-1.0 / (CAST(tt.n AS DOUBLE) - 1.0), 6)
                END AS expected_i
         FROM tt CROSS JOIN dz CROSS JOIN nm"""),
    // q382: per-value counts + strictly-below window sums, exact
    // in-tail multiplicities, 12dp ln terms times integer counts
    "q382_hill_tail" ->
      """WITH pv AS (
           SELECT CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
           GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(c) AS BIGINT) AS n,
                  CAST(floor(0.1 * CAST(sum(c) AS DOUBLE)) AS BIGINT) AS k
           FROM pv
         ), cum AS (
           SELECT v, c,
                  coalesce(sum(c) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM pv
         ), agg AS (
           SELECT
             CAST(sum(CASE WHEN tot.n - below - c < tot.k THEN
               CAST(round(CAST(least(c, tot.k - (tot.n - below - c)) AS DOUBLE)
                          * ln(CAST(v AS DOUBLE)), 12) AS DECIMAL(38,12))
               ELSE CAST(0 AS DECIMAL(38,12)) END) AS DECIMAL(38,12)) AS su,
             max(CASE WHEN tot.n - below >= tot.k + 1 THEN v END) AS xk1
           FROM cum CROSS JOIN tot
         ), h AS (
           SELECT CAST(agg.su AS DOUBLE) / CAST(tot.k AS DOUBLE)
                  - round(ln(CAST(agg.xk1 AS DOUBLE)), 12) AS h, agg.xk1
           FROM agg CROSS JOIN tot
         )
         SELECT tot.n, tot.k, h.xk1 AS x_tail,
                CASE WHEN h.h > 0 THEN round(h.h, 6) END AS hill_h,
                CASE WHEN h.h > 0 THEN round(1.0 / h.h, 6) END AS alpha
         FROM h CROSS JOIN tot""",
    // q383: the q262 gain expression on driver-scalar sub-ranges —
    // three LIMIT-1 argmax picks, boundaries assembled by lead()
    "q383_binseg" ->
      """WITH d AS (
           SELECT CAST(epoch(date_trunc('day', o_orderdate)) / 86400 AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
           FROM orders GROUP BY 1
         ), p AS MATERIALIZED (
           SELECT t, v,
                  CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i,
                  CAST(sum(v) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
           FROM d
         ), tt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sn FROM d),
         c1 AS (
           SELECT * FROM (
           SELECT p.i, p.t,
                  round(CAST(CAST(p.s AS HUGEINT) * p.s * (tt.n - p.i) * tt.n
                           + CAST(tt.sn - p.s AS HUGEINT) * (tt.sn - p.s) * p.i * tt.n
                           - CAST(tt.sn AS HUGEINT) * tt.sn * p.i * (tt.n - p.i) AS DOUBLE)
                        / CAST(CAST(p.i AS HUGEINT) * (tt.n - p.i) * tt.n AS DOUBLE), 6) AS gain
           FROM p CROSS JOIN tt
           WHERE p.i >= 2 AND tt.n - p.i >= 2
           ) WHERE gain > 0 ORDER BY gain DESC, t ASC LIMIT 1
         ), b1 AS (SELECT c1.i AS hi, p.s AS sseg, c1.gain FROM c1 JOIN p ON p.i = c1.i),
         c2 AS (
           SELECT * FROM (
           SELECT p.i, p.t,
                  round(CAST(CAST(p.s AS HUGEINT) * p.s * (b1.hi - p.i) * b1.hi
                           + CAST(b1.sseg - p.s AS HUGEINT) * (b1.sseg - p.s) * p.i * b1.hi
                           - CAST(b1.sseg AS HUGEINT) * b1.sseg * p.i * (b1.hi - p.i) AS DOUBLE)
                        / CAST(CAST(p.i AS HUGEINT) * (b1.hi - p.i) * b1.hi AS DOUBLE), 6) AS gain
           FROM p CROSS JOIN b1
           WHERE p.i >= 2 AND b1.hi - p.i >= 2
           ) WHERE gain > 0 ORDER BY gain DESC, t ASC LIMIT 1
         ), c3 AS (
           SELECT * FROM (
           SELECT p.i, p.t,
                  round(CAST(CAST(p.s - b1.sseg AS HUGEINT) * (p.s - b1.sseg) * (tt.n - p.i) * (tt.n - b1.hi)
                           + CAST(tt.sn - b1.sseg - (p.s - b1.sseg) AS HUGEINT) * (tt.sn - b1.sseg - (p.s - b1.sseg)) * (p.i - b1.hi) * (tt.n - b1.hi)
                           - CAST(tt.sn - b1.sseg AS HUGEINT) * (tt.sn - b1.sseg) * (p.i - b1.hi) * (tt.n - p.i) AS DOUBLE)
                        / CAST(CAST(p.i - b1.hi AS HUGEINT) * (tt.n - p.i) * (tt.n - b1.hi) AS DOUBLE), 6) AS gain
           FROM p CROSS JOIN b1 CROSS JOIN tt
           WHERE p.i - b1.hi >= 2 AND tt.n - p.i >= 2
           ) WHERE gain > 0 ORDER BY gain DESC, t ASC LIMIT 1
         ), bnd AS (
           SELECT DISTINCT b FROM (
             SELECT CAST(0 AS BIGINT) AS b
             UNION ALL SELECT i FROM c1
             UNION ALL SELECT i FROM c2
             UNION ALL SELECT i FROM c3
             UNION ALL SELECT n FROM tt)
         ), segs AS (
           SELECT b AS lo, lead(b) OVER (ORDER BY b) AS hi,
                  CAST(row_number() OVER (ORDER BY b) AS BIGINT) AS seg
           FROM bnd QUALIFY hi IS NOT NULL
         ), gains AS (
           SELECT i, gain FROM c1
           UNION ALL SELECT i, gain FROM c2
           UNION ALL SELECT i, gain FROM c3
         )
         SELECT s.seg, min(p.t) AS t_start, max(p.t) AS t_end,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(p.v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_units,
                g.gain AS split_gain
         FROM segs s
         JOIN p ON p.i > s.lo AND p.i <= s.hi
         LEFT JOIN gains g ON g.i = s.lo
         GROUP BY s.seg, g.gain ORDER BY s.seg""",
    // q384: the operator's 2×8 deflated power-iteration rounds verbatim
    // — 12dp vectors, exact-decimal matvec/dot sums, scalar-CTE
    // projection removal, Rayleigh readouts
    "q384_spectral_gap" -> {
      def mv(src: String, out: String) =
        s""", $out AS MATERIALIZED (
             SELECT e.src AS node, CAST(sum(CAST(v.x AS DECIMAL(24,12))) AS DOUBLE) AS w
             FROM e JOIN $src v ON v.node = e.dst GROUP BY 1
           )"""
      val r1 = (1 to 8).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        mv(prev, s"w$k") +
        s""", n$k AS (
             SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(24,12))) AS DOUBLE)) AS nm
             FROM w$k
           ), v$k AS MATERIALIZED (
             SELECT nd.node, round(coalesce(w.w, 0.0) / (SELECT nm FROM n$k), 12) AS x
             FROM gnodes nd LEFT JOIN w$k w USING (node)
           )"""
      }.mkString
      val r2 = (1 to 8).map { k =>
        val prev = if (k == 1) "u0" else s"u${k - 1}"
        s""", t$k AS (
             SELECT CAST(sum(CAST(round(v.x * u.x, 12) AS DECIMAL(24,12))) AS DOUBLE) AS t
             FROM v8 v JOIN $prev u USING (node)
           )""" +
        mv(prev, s"au$k") +
        s""", s$k AS (SELECT (SELECT l FROM l1) * (SELECT t FROM t$k) AS s),
           x$k AS MATERIALIZED (
             SELECT nd.node,
                    coalesce(au.w, 0.0) - (SELECT s FROM s$k) * v.x AS w
             FROM gnodes nd LEFT JOIN au$k au USING (node) JOIN v8 v USING (node)
           ), m$k AS (
             SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(24,12))) AS DOUBLE)) AS nm
             FROM x$k
           ), u$k AS MATERIALIZED (
             SELECT node, CASE WHEN (SELECT nm FROM m$k) > 0
               THEN round(w / (SELECT nm FROM m$k), 12) ELSE 0.0 END AS x
             FROM x$k
           )"""
      }.mkString
      duckTop90Graph +
      s""", gnodes AS (SELECT DISTINCT src AS node FROM e),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gnodes),
         v0 AS MATERIALIZED (
           SELECT node, round(1.0 / sqrt((SELECT CAST(n AS DOUBLE) FROM nn)), 12) AS x
           FROM gnodes)
         $r1
         ${mv("v8", "wf")}
         , l1 AS (
           SELECT CAST(sum(CAST(round(v.x * w.w, 12) AS DECIMAL(24,12))) AS DOUBLE) AS l
           FROM v8 v JOIN wf w USING (node)
         ), u0 AS MATERIALIZED (
           SELECT node, CASE WHEN node = (SELECT min(node) FROM gnodes)
             THEN 1.0 ELSE 0.0 END AS x
           FROM gnodes)
         $r2
         ${mv("u8", "auf")}
         , rq AS (
           SELECT CAST(sum(CAST(round(u.x * w.w, 12) AS DECIMAL(24,12))) AS DOUBLE) AS r
           FROM u8 u JOIN auf w USING (node)
         ), tf AS (
           SELECT CAST(sum(CAST(round(v.x * u.x, 12) AS DECIMAL(24,12))) AS DOUBLE) AS t
           FROM v8 v JOIN u8 u USING (node)
         ), fin AS (
           SELECT l1.l AS l1v, rq.r - l1.l * tf.t * tf.t AS l2v
           FROM l1 CROSS JOIN rq CROSS JOIN tf
         )
         SELECT nn.n AS n_nodes, round(fin.l1v, 6) AS lambda1,
                CASE WHEN fin.l1v > 0 THEN round(fin.l2v, 6) END AS lambda2,
                CASE WHEN fin.l1v > 0 THEN round(fin.l1v - abs(fin.l2v), 6) END AS mixing_gap,
                CASE WHEN fin.l1v > 0 THEN round(abs(fin.l2v) / fin.l1v, 6) END AS gap_ratio
         FROM fin CROSS JOIN nn"""
    },
    // q385: the operator's 3 EM rounds verbatim — 9dp responsibilities
    // (ulp-proof grid), decimal moment sums, 9dp-rerounded parameters,
    // exact p25/p75 init, mean-ordered publish
    "q385_gmm" -> {
      def dens(w: String, m: String, g: String) =
        s"p.$w * exp(0.0 - (CAST(v AS DOUBLE) - p.$m) * (CAST(v AS DOUBLE) - p.$m) / (2.0 * p.$g)) / sqrt(p.$g)"
      val steps = (1 to IterCaps.gmm).map { k =>
        s""", sc$k AS (
             SELECT v, c,
                    CASE WHEN pp1 + pp2 > 0.0 THEN round(pp1 / (pp1 + pp2), 9)
                         ELSE 0.5 END AS rr
             FROM (SELECT v, c, ${dens("w1", "m1", "g1")} AS pp1,
                          ${dens("w2", "m2", "g2")} AS pp2
                   FROM pv CROSS JOIN p${k - 1} p)
           ), ag$k AS (
             SELECT
               CAST(sum(CAST(round(rr * CAST(c AS DOUBLE), 9) AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS n1,
               CAST(sum(CAST(round(rr * CAST(c AS DOUBLE) * CAST(v AS DOUBLE), 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s1,
               CAST(sum(CAST(round(rr * CAST(c AS DOUBLE) * CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 3) AS DECIMAL(38,3))) AS DECIMAL(38,3)) AS q1,
               CAST(sum(CAST(round((1.0 - rr) * CAST(c AS DOUBLE), 9) AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS n2,
               CAST(sum(CAST(round((1.0 - rr) * CAST(c AS DOUBLE) * CAST(v AS DOUBLE), 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s2,
               CAST(sum(CAST(round((1.0 - rr) * CAST(c AS DOUBLE) * CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 3) AS DECIMAL(38,3))) AS DECIMAL(38,3)) AS q2
             FROM sc$k
           ), mu$k AS (
             SELECT p.m1 AS pm1, p.g1 AS pg1, p.w1 AS pw1,
                    p.m2 AS pm2, p.g2 AS pg2, p.w2 AS pw2,
                    CAST(a.n1 AS DOUBLE) AS n1d, CAST(a.s1 AS DOUBLE) AS s1d,
                    CAST(a.q1 AS DOUBLE) AS q1d,
                    CAST(a.n2 AS DOUBLE) AS n2d, CAST(a.s2 AS DOUBLE) AS s2d,
                    CAST(a.q2 AS DOUBLE) AS q2d,
                    CASE WHEN CAST(a.n1 AS DOUBLE) <= 0.0 THEN p.m1
                         ELSE round(CAST(a.s1 AS DOUBLE) / CAST(a.n1 AS DOUBLE), 9) END AS m1n,
                    CASE WHEN CAST(a.n2 AS DOUBLE) <= 0.0 THEN p.m2
                         ELSE round(CAST(a.s2 AS DOUBLE) / CAST(a.n2 AS DOUBLE), 9) END AS m2n
             FROM ag$k a CROSS JOIN p${k - 1} p
           ), p$k AS (
             SELECT m1n AS m1,
                    CASE WHEN n1d <= 0.0 THEN pg1
                         ELSE round(greatest(q1d / n1d - m1n * m1n, 1e-6), 9) END AS g1,
                    CASE WHEN n1d <= 0.0 THEN pw1
                         ELSE round(n1d / (SELECT CAST(n AS DOUBLE) FROM tot), 9) END AS w1,
                    m2n AS m2,
                    CASE WHEN n2d <= 0.0 THEN pg2
                         ELSE round(greatest(q2d / n2d - m2n * m2n, 1e-6), 9) END AS g2,
                    CASE WHEN n2d <= 0.0 THEN pw2
                         ELSE round(n2d / (SELECT CAST(n AS DOUBLE) FROM tot), 9) END AS w2
             FROM mu$k
           )"""
      }.mkString
      s"""WITH pv AS MATERIALIZED (
           SELECT CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(CAST(c AS HUGEINT) * v) AS HUGEINT) AS s1,
                  CAST(sum(CAST(c AS HUGEINT) * v * v) AS HUGEINT) AS s2
           FROM pv
         ), vr AS (
           SELECT round(greatest(
             (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 1e-6), 9) AS v0,
                  greatest(CAST(ceil(0.25 * CAST(n AS DOUBLE)) AS BIGINT), 1) AS k1,
                  greatest(CAST(ceil(0.75 * CAST(n AS DOUBLE)) AS BIGINT), 1) AS k2
           FROM tot
         ), cum AS (
           SELECT v, c,
                  coalesce(sum(c) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM pv
         ), qs AS (
           SELECT min(CASE WHEN below + c >= vr.k1 THEN v END) AS q1,
                  min(CASE WHEN below + c >= vr.k2 THEN v END) AS q2
           FROM cum CROSS JOIN vr
         ), p0 AS (
           SELECT CAST(qs.q1 AS DOUBLE) AS m1, vr.v0 AS g1, 0.5 AS w1,
                  CAST(qs.q2 AS DOUBLE) AS m2, vr.v0 AS g2, 0.5 AS w2
           FROM qs CROSS JOIN vr
         )
         $steps
         SELECT tot.n,
                round(CASE WHEN p.m1 <= p.m2 THEN p.m1 ELSE p.m2 END, 6) AS mu1,
                round(CASE WHEN p.m1 <= p.m2 THEN p.g1 ELSE p.g2 END, 6) AS sigma2_1,
                round(CASE WHEN p.m1 <= p.m2 THEN p.w1 ELSE p.w2 END, 6) AS w1,
                round(CASE WHEN p.m1 <= p.m2 THEN p.m2 ELSE p.m1 END, 6) AS mu2,
                round(CASE WHEN p.m1 <= p.m2 THEN p.g2 ELSE p.g1 END, 6) AS sigma2_2,
                round(CASE WHEN p.m1 <= p.m2 THEN p.w2 ELSE p.w1 END, 6) AS w2
         FROM p${IterCaps.gmm} p CROSS JOIN tot"""
    },
    // q386: q253's 6dp score quantization, 9dp clamped logit covariate,
    // then the operator's 4 Newton rounds verbatim (9dp fitted p, 6dp
    // decimal moments, closed-form 2×2 solve, 9dp-rerounded a/b)
    "q386_calibration_slope" -> {
      val steps = (1 to IterCaps.calibration).map { k =>
        s""", g$k AS (
             SELECT
               CAST(sum(CAST(round(kd - cd * rp, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS g0,
               CAST(sum(CAST(round((kd - cd * rp) * li, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS g1,
               CAST(sum(CAST(round(cd * rp * (1.0 - rp), 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS h00,
               CAST(sum(CAST(round(cd * rp * (1.0 - rp) * li, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS h01,
               CAST(sum(CAST(round(cd * rp * (1.0 - rp) * li * li, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS h11
             FROM (
               SELECT li,
                      round(1.0 / (1.0 + exp(0.0 - (p.a + p.b * li))), 9) AS rp,
                      CAST(c AS DOUBLE) AS cd, CAST(k AS DOUBLE) AS kd
               FROM pvl CROSS JOIN p${k - 1} p)
           ), p$k AS (
             SELECT round(p.a + (CAST(g.h11 AS DOUBLE) * CAST(g.g0 AS DOUBLE)
                                 - CAST(g.h01 AS DOUBLE) * CAST(g.g1 AS DOUBLE))
                               / (CAST(g.h00 AS DOUBLE) * CAST(g.h11 AS DOUBLE)
                                  - CAST(g.h01 AS DOUBLE) * CAST(g.h01 AS DOUBLE)), 9) AS a,
                    round(p.b + (CAST(g.h00 AS DOUBLE) * CAST(g.g1 AS DOUBLE)
                                 - CAST(g.h01 AS DOUBLE) * CAST(g.g0 AS DOUBLE))
                               / (CAST(g.h00 AS DOUBLE) * CAST(g.h11 AS DOUBLE)
                                  - CAST(g.h01 AS DOUBLE) * CAST(g.h01 AS DOUBLE)), 9) AS b
             FROM g$k g CROSS JOIN p${k - 1} p
           )"""
      }.mkString
      s"""WITH pv AS (
           SELECT CAST(CAST(round(least(value / 200.0, 1.0), 6) AS DECIMAL(18,6))
                       * 1000000 AS BIGINT) AS v,
                  CAST(count(*) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
           FROM events WHERE value IS NOT NULL GROUP BY 1
         ), tots AS (
           SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS np FROM pv
         ), pvl AS MATERIALIZED (
           SELECT c, k, round(ln(sd / (1.0 - sd)), 9) AS li
           FROM (SELECT c, k,
                        least(greatest(CAST(v AS DOUBLE) / 1000000.0, 1e-6), 0.999999) AS sd
                 FROM pv)
         ), p0 AS (SELECT 0.0::DOUBLE AS a, 0.0::DOUBLE AS b)
         $steps
         SELECT tots.n, tots.np AS n_pos,
                round(p.a, 6) AS intercept, round(p.b, 6) AS slope
         FROM p${IterCaps.calibration} p CROSS JOIN tots"""
    },
    // q387: exact lower-median/MAD order stats from prefix sums, then
    // the operator's 3 IRLS rounds verbatim (9dp weights, 6dp decimal
    // moments, 9dp-rerounded mu)
    "q387_huber_mean" -> {
      val steps = (1 to IterCaps.huber).map { k =>
        s""", s$k AS (
             SELECT
               CAST(sum(CAST(round(w * cd, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sw,
               CAST(sum(CAST(round(w * cd * vd, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS swx
             FROM (
               SELECT CAST(c AS DOUBLE) AS cd, CAST(v AS DOUBLE) AS vd,
                      round(CASE WHEN abs(CAST(v AS DOUBLE) - p.m) <= th.thr THEN 1.0
                                 ELSE th.thr / abs(CAST(v AS DOUBLE) - p.m) END, 9) AS w
               FROM pv CROSS JOIN m${k - 1} p CROSS JOIN th)
           ), m$k AS (
             SELECT round(CAST(s.swx AS DOUBLE) / CAST(s.sw AS DOUBLE), 9) AS m
             FROM s$k s
           )"""
      }.mkString
      s"""WITH pv AS MATERIALIZED (
           SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
             FROM orders) WHERE v IS NOT NULL GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(CAST(c AS HUGEINT) * v) AS HUGEINT) AS s
           FROM pv
         ), med AS (
           SELECT min(CASE WHEN below + c >= (tot.n + 1) // 2 THEN v END) AS med
           FROM (SELECT v, c, coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                 FROM pv) CROSS JOIN tot
         ), dev AS (
           SELECT abs(pv.v - med.med) AS v, CAST(sum(c) AS BIGINT) AS c
           FROM pv CROSS JOIN med GROUP BY 1
         ), mad AS (
           SELECT min(CASE WHEN below + c >= (tot.n + 1) // 2 THEN v END) AS mad
           FROM (SELECT v, c, coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                 FROM dev) CROSS JOIN tot
         ), th AS (
           SELECT 1.345 * (1.4826 * CAST(mad.mad AS DOUBLE)) AS thr FROM mad
         ), m0 AS (SELECT CAST(med.med AS DOUBLE) AS m FROM med)
         $steps
         SELECT tot.n, CAST(med.med AS DOUBLE) AS median,
                CAST(mad.mad AS DOUBLE) AS mad,
                round(m${IterCaps.huber}.m, 6) AS huber_mean,
                round(CAST(tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS plain_mean
         FROM m${IterCaps.huber} CROSS JOIN tot CROSS JOIN med CROSS JOIN mad"""
    },
    // q388: 6 unrolled support-filter rounds over the canonical top-90
    // edges (wedge-join triangle counts per round), final-state support
    "q388_ktruss" -> {
      val rounds = (1 to 6).map { r =>
        s""", sym$r AS (SELECT a AS src, b AS dst FROM e${r - 1}
                        UNION ALL SELECT b, a FROM e${r - 1}),
           sp$r AS (
             SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS sup
             FROM e${r - 1} c
             JOIN sym$r s1 ON s1.src = c.a
             JOIN sym$r s2 ON s2.src = c.b AND s2.dst = s1.dst
             GROUP BY 1, 2
           ), e$r AS MATERIALIZED (
             SELECT c.a, c.b FROM e${r - 1} c
             JOIN sp$r p ON p.a = c.a AND p.b = c.b
             WHERE p.sup >= 4
           )"""
      }.mkString
      duckTop90Graph +
      s""", e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM top)
         $rounds
         , symf AS (SELECT a AS src, b AS dst FROM e6
                    UNION ALL SELECT b, a FROM e6),
         spf AS (
           SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS sup
           FROM e6 c
           JOIN symf s1 ON s1.src = c.a
           JOIN symf s2 ON s2.src = c.b AND s2.dst = s1.dst
           GROUP BY 1, 2
         )
         SELECT c.a, c.b, coalesce(p.sup, 0) AS support
         FROM e6 c LEFT JOIN spf p ON p.a = c.a AND p.b = c.b
         ORDER BY c.a, c.b"""
    },
    // q389: per-arm order-stat trim boundaries + exact in-band
    // multiplicities from window prefix sums; winsorized moments
    // HUGEINT with the exact n·SSQ − S² cancellation; one double t/df
    "q389_yuen_t" -> {
      def sideSql(tag: String, arm: String) =
        s"""pv$tag AS (
             SELECT v, CAST(count(*) AS BIGINT) AS c FROM base
             WHERE g = '$arm' GROUP BY 1
           ), n$tag AS (
             SELECT CAST(sum(c) AS BIGINT) AS n,
                    CAST(floor(0.125 * CAST(sum(c) AS DOUBLE)) AS BIGINT) AS k
             FROM pv$tag
           ), cum$tag AS (
             SELECT v, c, coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
             FROM pv$tag
           ), s$tag AS (
             SELECT
               CAST(sum(CAST(greatest(least(below + c, x.n - x.k)
                 - greatest(below, x.k), 0) AS HUGEINT) * v) AS HUGEINT) AS st,
               CAST(sum(CAST(greatest(least(below + c, x.n - x.k)
                 - greatest(below, x.k), 0) AS HUGEINT) * v * v) AS HUGEINT) AS ssqt,
               min(CASE WHEN below + c >= x.k + 1 THEN v END) AS vlo,
               min(CASE WHEN below + c >= x.n - x.k THEN v END) AS vhi
             FROM cum$tag CROSS JOIN n$tag x
           ), f$tag AS (
             SELECT x.n, x.k, x.n - 2 * x.k AS h,
                    CAST(s.st AS DOUBLE) / CAST(x.n - 2 * x.k AS DOUBLE) AS tmean,
                    CAST(x.n * (s.ssqt + x.k * (CAST(s.vlo AS HUGEINT) * s.vlo
                                                + CAST(s.vhi AS HUGEINT) * s.vhi))
                         - (s.st + x.k * (CAST(s.vlo AS HUGEINT) + s.vhi))
                           * (s.st + x.k * (CAST(s.vlo AS HUGEINT) + s.vhi)) AS DOUBLE)
                      / (CAST(x.n AS DOUBLE) * (CAST(x.n AS DOUBLE) - 1.0)) AS sw2
             FROM s$tag s CROSS JOIN n$tag x
           )"""
      s"""WITH base AS (
           SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         ), ${sideSql("a", "1-URGENT")}, ${sideSql("b", "5-LOW")},
         dd AS (
           SELECT fa.n AS na, fb.n AS nb, fa.h AS ha, fb.h AS hb,
                  fa.tmean AS tma, fb.tmean AS tmb,
                  (fa.n - 1.0) * fa.sw2 / (CAST(fa.h AS DOUBLE) * (CAST(fa.h AS DOUBLE) - 1.0)) AS da,
                  (fb.n - 1.0) * fb.sw2 / (CAST(fb.h AS DOUBLE) * (CAST(fb.h AS DOUBLE) - 1.0)) AS db
           FROM fa CROSS JOIN fb
         )
         SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b,
                na AS n_a, nb AS n_b, ha AS h_a, hb AS h_b,
                round(tma, 6) AS tmean_a, round(tmb, 6) AS tmean_b,
                CASE WHEN da + db > 0 THEN
                  round((tma - tmb) / sqrt(da + db), 6) END AS t_yuen,
                CASE WHEN da + db > 0 THEN
                  round((da + db) * (da + db)
                        / (da * da / (CAST(ha AS DOUBLE) - 1.0)
                           + db * db / (CAST(hb AS DOUBLE) - 1.0)), 6) END AS df
         FROM dd"""
    },
    // q390: ten HUGEINT moments in one pass, the textbook pairwise-r
    // and partialling identities as one mirrored double expression
    "q390_partial_corr" ->
      """WITH base AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
                  CAST(l_quantity AS BIGINT) AS y,
                  CAST(CAST(l_discount AS DECIMAL(8,4)) * 10000 AS BIGINT) AS z
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             AND l_discount IS NOT NULL
         ), m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                  CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
                  CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
                  CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
                  CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
                  CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                  CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
                  CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
           FROM base
         ), rr AS (
           SELECT n,
                  CAST(n * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
                  CAST(n * sxz - sx * sz AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
                  CAST(n * syz - sy * sz AS DOUBLE)
                    / sqrt(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
           FROM m
         )
         SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
                round(ryz, 6) AS r_yz,
                CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 THEN
                  round((rxy - rxz * ryz)
                        / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
                END AS r_xy_z
         FROM rr""",
    // q391: the q300 picounit stationary replay + q313-shaped 12dp
    // per-state entropy terms, one more 12dp decimal sum for the rate
    "q391_entropy_rate" -> {
      val U = "1000000000000"
      val iters = (1 to 16).map { i =>
        val prev = if (i == 1) "v0" else s"it${i - 1}"
        s""", it$i AS MATERIALIZED (
             SELECT p.j AS state,
                    CAST(sum(CAST(vp.v AS HUGEINT) * p.p // $U) AS BIGINT) AS v
             FROM pmat p JOIN $prev vp ON vp.state = p.i
             GROUP BY 1
           )"""
      }.mkString
      s"""WITH ev AS (
           SELECT user_id AS u, event_type AS s,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS tie
           FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         ), tr AS (
           SELECT s AS src, lead(s) OVER (PARTITION BY u ORDER BY t, tie) AS dst
           FROM ev
         ), cmat AS (
           SELECT src, dst, CAST(count(*) AS BIGINT) AS c
           FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2
         ), states AS (SELECT DISTINCT s AS state FROM ev),
         rs AS (
           SELECT st.state AS src, COALESCE(CAST(sum(c.c) AS BIGINT), 0) AS r
           FROM states st LEFT JOIN cmat c ON c.src = st.state GROUP BY 1
         ), pmat AS MATERIALIZED (
           SELECT a.state AS i, b.state AS j,
                  CASE WHEN rs.r = 0 THEN
                    CASE WHEN a.state = b.state THEN $U ELSE 0 END
                  ELSE CAST(CAST(COALESCE(c.c, 0) AS HUGEINT) * $U // rs.r AS BIGINT)
                  END AS p
           FROM states a CROSS JOIN states b
           JOIN rs ON rs.src = a.state
           LEFT JOIN cmat c ON c.src = a.state AND c.dst = b.state
         ), v0 AS (
           SELECT state, $U // (SELECT count(*) FROM states) AS v FROM states
         )$iters
         , hh AS (
           SELECT rs.src AS state,
                  CASE WHEN rs.r = 0 THEN 0.0 ELSE
                    CAST(coalesce(sum(CAST(round(
                      CAST(c.c AS DOUBLE) / CAST(rs.r AS DOUBLE)
                      * ln(CAST(rs.r AS DOUBLE) / CAST(c.c AS DOUBLE)), 12)
                      AS DECIMAL(24,12))), 0) AS DOUBLE)
                  END AS h
           FROM rs LEFT JOIN cmat c ON c.src = rs.src AND c.c > 0
           GROUP BY rs.src, rs.r
         ), rate AS (
           SELECT round(CAST(sum(CAST(round(
                    CAST(itf.v AS DOUBLE) / 1e12 * hh.h, 12)
                    AS DECIMAL(24,12))) AS DOUBLE), 6) AS entropy_rate
           FROM it16 itf JOIN hh ON hh.state = itf.state
         ), nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_transitions FROM cmat),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM states)
         SELECT ns.n_states, nt.n_transitions, rate.entropy_rate,
                round(exp(rate.entropy_rate), 6) AS branching
         FROM rate CROSS JOIN nt CROSS JOIN ns"""
    },
    // q392: the q282 exact-integer MK machinery per monthly season,
    // seasons-sized exact rollup, the same one-sqrt z
    "q392_seasonal_mk" ->
      """WITH d AS (
           SELECT CAST(month(o_orderdate) AS VARCHAR) AS k,
                  CAST(epoch(date_trunc('week', o_orderdate)) / 86400 AS BIGINT) AS t,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2
         ), sagg AS (
           SELECT a.k, CAST(sum(CASE WHEN b.y > a.y THEN 1
                                     WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
           FROM d a JOIN d b ON b.k = a.k AND b.t > a.t GROUP BY 1
         ), tg AS (
           SELECT k, y, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
         ), ties AS (
           SELECT k, CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tsum
           FROM tg GROUP BY 1
         ), per AS (
           SELECT ties.k, ties.n, sagg.s,
                  CAST(ties.n * (ties.n - 1) * (2 * ties.n + 5) - ties.tsum
                    AS BIGINT) AS var18
           FROM ties JOIN sagg ON sagg.k = ties.k
         )
         SELECT CAST(count(*) AS BIGINT) AS n_seasons,
                CAST(sum(n) AS BIGINT) AS n,
                CAST(sum(s) AS BIGINT) AS s,
                CAST(sum(var18) AS BIGINT) AS var18,
                CASE WHEN sum(var18) > 0 THEN
                  round((CAST(sum(s) AS DOUBLE) - sign(CAST(sum(s) AS DOUBLE)))
                        / sqrt(CAST(sum(var18) AS DOUBLE) / 18.0), 6)
                END AS z_sk
         FROM per""",
    // q393: the q380 Newton replay with stratum-partitioned risk-set
    // windows — per-(cohort, time) relation, risk never crosses strata
    "q393_cox_stratified" -> {
      val pTerm = "((CAST(r1 AS DOUBLE) * p.eb) / (CAST(r0 AS DOUBLE) + CAST(r1 AS DOUBLE) * p.eb))"
      val steps = (1 to IterCaps.cox).map { k =>
        s""", s$k AS (
             SELECT CAST(sum(CAST(round(CAST(d AS DOUBLE) * $pTerm, 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS su,
                    CAST(sum(CAST(round(CAST(d AS DOUBLE) * $pTerm * (1.0 - $pTerm), 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS si
             FROM evt CROSS JOIN e${k - 1} p
           ), b$k AS (
             -- si <= 0 (or NULL from an upstream degenerate/no-events step)
             -- -> NULL beta, propagating to every later step: the operator's
             -- short-circuit nullRow, not an unguarded inf/NaN divide
             SELECT CASE WHEN CAST(s.si AS DOUBLE) > 0 THEN
               round(p.b + ((SELECT CAST(sd1 AS DOUBLE) FROM tots) - CAST(s.su AS DOUBLE)) / CAST(s.si AS DOUBLE), 12) END AS b
             FROM b${k - 1} p CROSS JOIN s$k s
           ), e$k AS (SELECT b, round(exp(b), 12) AS eb FROM b$k)"""
      }.mkString
      s"""WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CAST((t0 // 86400) % 7 AS VARCHAR) AS g,
                  CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev,
                  user_id % 2 = 0 AS x
           FROM pu
         ), att AS (
           SELECT g, t,
                  CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                  CAST(sum(CASE WHEN x THEN 0 ELSE 1 END) AS BIGINT) AS a0,
                  CAST(sum(CASE WHEN ev AND x THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM subj GROUP BY 1, 2
         ), tots AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS sd,
                  CAST(sum(CASE WHEN ev AND x THEN 1 ELSE 0 END) AS BIGINT) AS sd1,
                  CAST(count(DISTINCT g) AS BIGINT) AS n_strata
           FROM subj
         ), evt AS MATERIALIZED (
           SELECT d, d1, r1, r0 FROM (
             SELECT d, d1,
                    sum(a1) OVER (PARTITION BY g)
                      - coalesce(sum(a1) OVER w, 0) AS r1,
                    sum(a0) OVER (PARTITION BY g)
                      - coalesce(sum(a0) OVER w, 0) AS r0
             FROM att
             WINDOW w AS (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           ) WHERE d > 0
         ), b0 AS (SELECT 0.0::DOUBLE AS b),
         e0 AS (SELECT b, round(exp(b), 12) AS eb FROM b0)
         $steps
         , fin AS (
           SELECT CAST(sum(CAST(round(CAST(d AS DOUBLE) * $pTerm * (1.0 - $pTerm), 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS si
           FROM evt CROSS JOIN e${IterCaps.cox} p
         ), pub AS (
           SELECT CASE WHEN CAST(fin.si AS DOUBLE) > 0 THEN b${IterCaps.cox}.b END AS beta,
                  CASE WHEN CAST(fin.si AS DOUBLE) > 0
                       THEN 1.0 / sqrt(CAST(fin.si AS DOUBLE)) END AS se
           FROM b${IterCaps.cox} CROSS JOIN fin
         )
         SELECT tots.n, tots.n_strata, tots.sd AS n_events,
                tots.sd1 AS d1_exposed,
                round(pub.beta, 6) AS beta,
                round(exp(pub.beta), 6) AS hr,
                round(pub.se, 6) AS se,
                round(pub.beta / pub.se, 6) AS z
         FROM pub CROSS JOIN tots"""
    },
    // q394: the q366 exact covariance + 8 v-rounds verbatim, then 8
    // deflated rounds (scalar-CTE projection removal) and Rayleigh
    // readouts for the true PSD λ₂
    "q394_embedding_top2" -> {
      val vRounds = (1 to 8).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s""", w$k AS MATERIALIZED (
             SELECT c.i, CAST(sum(CAST(round(c.cv * v.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS w
             FROM cov c JOIN $prev v ON v.i = c.j GROUP BY 1
           ), n$k AS (
             SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(24,12))) AS DOUBLE)) AS nm
             FROM w$k
           ), v$k AS MATERIALIZED (
             SELECT i, round(w / (SELECT nm FROM n$k), 12) AS v FROM w$k)"""
      }.mkString
      val uRounds = (1 to 8).map { k =>
        val prev = if (k == 1) "u0" else s"u${k - 1}"
        s""", t$k AS (
             SELECT CAST(sum(CAST(round(v.v * u.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS t
             FROM v8 v JOIN $prev u ON u.i = v.i
           ), au$k AS MATERIALIZED (
             SELECT c.i, CAST(sum(CAST(round(c.cv * u.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS w
             FROM cov c JOIN $prev u ON u.i = c.j GROUP BY 1
           ), sk$k AS (SELECT (SELECT l FROM l1) * (SELECT t FROM t$k) AS s),
           x$k AS MATERIALIZED (
             SELECT au.i, au.w - (SELECT s FROM sk$k) * v.v AS w
             FROM au$k au JOIN v8 v ON v.i = au.i
           ), m$k AS (
             SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(24,12))) AS DOUBLE)) AS nm
             FROM x$k
           ), u$k AS MATERIALIZED (
             SELECT i, CASE WHEN (SELECT nm FROM m$k) > 0
               THEN round(w / (SELECT nm FROM m$k), 12) ELSE 0.0 END AS v
             FROM x$k
           )"""
      }.mkString
      s"""WITH x AS (
           SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
                  CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xv
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
           WHERE embedding IS NOT NULL
         ), nn AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
           WHERE embedding IS NOT NULL
         ), sums AS (
           SELECT i, CAST(sum(xv) AS BIGINT) AS s FROM x GROUP BY 1
         ), cells AS (
           SELECT a.i, b.i AS j, sum(CAST(a.xv AS HUGEINT) * b.xv) AS cij
           FROM x a JOIN x b ON b.vec_id = a.vec_id GROUP BY 1, 2
         ), cov AS MATERIALIZED (
           SELECT c.i, c.j,
                  round(CAST(nn.n * c.cij - CAST(sa.s AS HUGEINT) * sb.s AS DOUBLE)
                        / (CAST(nn.n AS DOUBLE) * nn.n * 1000000000000.0), 12) AS cv
           FROM cells c JOIN sums sa ON sa.i = c.i JOIN sums sb ON sb.i = c.j
           CROSS JOIN nn
         ), dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM sums),
         v0 AS MATERIALIZED (
           SELECT i, round(1.0::DOUBLE / sqrt((SELECT CAST(d AS DOUBLE) FROM dd)), 12) AS v
           FROM sums)
         $vRounds
         , wf AS MATERIALIZED (
           SELECT c.i, CAST(sum(CAST(round(c.cv * v.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS w
           FROM cov c JOIN v8 v ON v.i = c.j GROUP BY 1
         ), l1 AS (
           SELECT CAST(sum(CAST(round(v.v * w.w, 12) AS DECIMAL(24,12))) AS DOUBLE) AS l
           FROM v8 v JOIN wf w ON w.i = v.i
         ), u0 AS MATERIALIZED (
           SELECT i, CASE WHEN i = (SELECT i FROM v8 ORDER BY abs(v) DESC, i LIMIT 1 OFFSET 1)
             THEN 1.0 ELSE 0.0 END AS v FROM sums)
         $uRounds
         , auf AS MATERIALIZED (
           SELECT c.i, CAST(sum(CAST(round(c.cv * u.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS w
           FROM cov c JOIN u8 u ON u.i = c.j GROUP BY 1
         ), rq AS (
           SELECT CAST(sum(CAST(round(u.v * w.w, 12) AS DECIMAL(24,12))) AS DOUBLE) AS r
           FROM u8 u JOIN auf w ON w.i = u.i
         ), tf AS (
           SELECT CAST(sum(CAST(round(v.v * u.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS t
           FROM v8 v JOIN u8 u ON u.i = v.i
         ), tr AS (
           SELECT CAST(sum(CAST(round(cv, 12) AS DECIMAL(24,12))) AS DOUBLE) AS tr
           FROM cov WHERE i = j
         ), fin AS (
           SELECT l1.l AS l1v, rq.r - l1.l * tf.t * tf.t AS l2v, tr.tr AS trv
           FROM l1 CROSS JOIN rq CROSS JOIN tf CROSS JOIN tr
         )
         SELECT nn.n, dd.d AS dim, round(fin.l1v, 6) AS lambda1,
                CASE WHEN fin.l1v > 0 THEN round(fin.l2v, 6) END AS lambda2,
                round(fin.trv, 6) AS trace,
                CASE WHEN fin.l1v > 0 AND fin.trv > 0 THEN
                  round((fin.l1v + fin.l2v) / fin.trv, 6) END AS top2_share,
                CASE WHEN fin.l1v > 0 THEN
                  round(fin.l2v / fin.l1v, 6) END AS gap_ratio
         FROM fin CROSS JOIN nn CROSS JOIN dd"""
    },
    // q395: the q199 12dp chi2 machinery + Bergsma correction composed
    // from the PUBLISHED chi2, exact-integer Goodman-Kruskal lambdas
    "q395_nominal_assoc" ->
      """WITH cells AS (
           SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS o
           FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
           GROUP BY 1, 2
         ), rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         dims AS (SELECT (SELECT count(*) FROM rt) AS r, (SELECT count(*) FROM ct) AS c),
         fl AS (
           SELECT rt.rt, ct.ct, COALESCE(cells.o, 0) AS o,
                  CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
           FROM rt CROSS JOIN ct CROSS JOIN nn
                LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
         ), c2 AS (
           SELECT round(CAST(sum(CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 12) AS DECIMAL(24,12))) AS DOUBLE), 6) AS chi2
           FROM fl
         ), lam AS (
           SELECT (SELECT CAST(sum(m) AS BIGINT) FROM
                     (SELECT a, max(o) AS m FROM cells GROUP BY 1)) AS summax_ba,
                  (SELECT CAST(max(ct) AS BIGINT) FROM ct) AS maxct,
                  (SELECT CAST(sum(m) AS BIGINT) FROM
                     (SELECT b, max(o) AS m FROM cells GROUP BY 1)) AS summax_ab,
                  (SELECT CAST(max(rt) AS BIGINT) FROM rt) AS maxrt
         ), vv AS (
           SELECT c2.chi2,
                  c2.chi2 / CAST(nn.n AS DOUBLE) AS phi2,
                  greatest(c2.chi2 / CAST(nn.n AS DOUBLE)
                    - CAST(dims.r - 1 AS DOUBLE) * CAST(dims.c - 1 AS DOUBLE)
                      / (CAST(nn.n AS DOUBLE) - 1.0), 0.0) AS phi2p,
                  CAST(dims.r AS DOUBLE) - CAST(dims.r - 1 AS DOUBLE) * CAST(dims.r - 1 AS DOUBLE)
                    / (CAST(nn.n AS DOUBLE) - 1.0) AS rp,
                  CAST(dims.c AS DOUBLE) - CAST(dims.c - 1 AS DOUBLE) * CAST(dims.c - 1 AS DOUBLE)
                    / (CAST(nn.n AS DOUBLE) - 1.0) AS cp
           FROM c2 CROSS JOIN nn CROSS JOIN dims
         )
         SELECT nn.n, CAST(dims.r AS BIGINT) AS n_rows,
                CAST(dims.c AS BIGINT) AS n_cols, vv.chi2,
                CASE WHEN least(dims.r - 1, dims.c - 1) > 0 THEN
                  round(sqrt(vv.chi2 / (CAST(nn.n AS DOUBLE)
                    * CAST(least(dims.r - 1, dims.c - 1) AS DOUBLE))), 6)
                END AS v,
                CASE WHEN least(dims.r - 1, dims.c - 1) > 0 AND nn.n > 1
                      AND least(vv.rp - 1.0, vv.cp - 1.0) > 0 THEN
                  round(sqrt(vv.phi2p / least(vv.rp - 1.0, vv.cp - 1.0)), 6)
                END AS v_corrected,
                CASE WHEN nn.n <> lam.maxct THEN
                  round(CAST(lam.summax_ba - lam.maxct AS DOUBLE)
                        / CAST(nn.n - lam.maxct AS DOUBLE), 6)
                END AS lambda_b_given_a,
                CASE WHEN nn.n <> lam.maxrt THEN
                  round(CAST(lam.summax_ab - lam.maxrt AS DOUBLE)
                        / CAST(nn.n - lam.maxrt AS DOUBLE), 6)
                END AS lambda_a_given_b
         FROM vv CROSS JOIN nn CROSS JOIN dims CROSS JOIN lam""",
    // q396: per-distinct-time event/later counts from strictly-below
    // window sums, exact HUGEINT pair arithmetic, one double divide
    "q396_c_index" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tc
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE tl - t0 END AS t,
                  tc IS NOT NULL AS ev,
                  user_id % 2 = 0 AS x
           FROM pu
         ), att AS (
           SELECT t,
                  CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                  CAST(sum(CASE WHEN x THEN 0 ELSE 1 END) AS BIGINT) AS a0,
                  CAST(sum(CASE WHEN ev AND x THEN 1 ELSE 0 END) AS BIGINT) AS e1,
                  CAST(sum(CASE WHEN ev AND NOT x THEN 1 ELSE 0 END) AS BIGINT) AS e0
           FROM subj GROUP BY 1
         ), tots AS (
           SELECT CAST(sum(a1) AS BIGINT) AS n1, CAST(sum(a0) AS BIGINT) AS n0,
                  CAST(sum(e1 + e0) AS BIGINT) AS nev
           FROM att
         ), cum AS (
           SELECT e1, e0,
                  (SELECT n1 FROM tots) - coalesce(sum(a1) OVER w, 0) - a1 AS l1,
                  (SELECT n0 FROM tots) - coalesce(sum(a0) OVER w, 0) - a0 AS l0
           FROM att
           WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         ), agg AS (
           SELECT CAST(sum(CAST(e1 AS HUGEINT) * l0 * 2 + CAST(e1 AS HUGEINT) * l1
                            + CAST(e0 AS HUGEINT) * l0) AS HUGEINT) AS num2,
                  CAST(sum(CAST(e1 + e0 AS HUGEINT) * (l1 + l0)) AS HUGEINT) AS den
           FROM cum
         )
         SELECT tots.n1 + tots.n0 AS n, tots.nev AS n_events,
                CAST(agg.den AS BIGINT) AS n_comparable,
                CASE WHEN agg.den > 0 THEN
                  round(CAST(agg.num2 AS DOUBLE) / (2.0 * CAST(agg.den AS DOUBLE)), 6)
                END AS c_index
         FROM agg CROSS JOIN tots""",
    // q400: full NB replay — identical split constant, tokenization,
    // Laplace counts, 12dp-rounded ln terms DECIMAL-summed, argmax by
    // (score DESC, class ASC)
    "q400_naive_bayes" ->
      (duckNbPred +
        """
         SELECT label, predicted, CAST(count(*) AS BIGINT) AS n_docs
         FROM pred GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q402: q400's confusion relation fed through the metrics layer —
    // exact margin counts, κ as one HUGEINT rational, 12dp-rounded
    // per-class P/R/F1 DECIMAL-summed over the label classes
    "q402_classifier_metrics" ->
      (duckNbPred +
        """, conf AS (
           SELECT label, predicted, CAST(count(*) AS BIGINT) AS m
           FROM pred GROUP BY 1, 2
         ), rows_ AS (
           SELECT label AS y, CAST(sum(m) AS BIGINT) AS row_n,
                  CAST(sum(CASE WHEN predicted = label THEN m ELSE 0 END) AS BIGINT) AS tp
           FROM conf GROUP BY 1
         ), cols_ AS (
           SELECT predicted AS p, CAST(sum(m) AS BIGINT) AS col_n
           FROM conf GROUP BY 1
         ), per AS (
           SELECT r.row_n, r.tp, coalesce(c2.col_n, 0) AS col_n
           FROM rows_ r LEFT JOIN cols_ c2 ON c2.p = r.y
         ), agg0 AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(row_n) AS BIGINT) AS nn,
                  CAST(sum(tp) AS BIGINT) AS diag,
                  CAST(sum(CAST(row_n AS HUGEINT) * col_n) AS HUGEINT) AS pe_s,
                  sum(CAST(CASE WHEN col_n > 0
                           THEN round(CAST(tp AS DOUBLE) / CAST(col_n AS DOUBLE), 12)
                           ELSE 0.0 END AS DECIMAL(38,12))) AS p_s,
                  sum(CAST(round(CAST(tp AS DOUBLE) / CAST(row_n AS DOUBLE), 12) AS DECIMAL(38,12))) AS r_s,
                  sum(CAST(CASE WHEN 2*tp + (col_n - tp) + (row_n - tp) > 0
                           THEN round(CAST(2*tp AS DOUBLE)
                                      / CAST(2*tp + (col_n - tp) + (row_n - tp) AS DOUBLE), 12)
                           ELSE 0.0 END AS DECIMAL(38,12))) AS f_s
           FROM per
         )
         SELECT nn AS n, k AS n_classes,
                round(CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS accuracy,
                CASE WHEN CAST(nn AS HUGEINT) * nn <> pe_s THEN
                  round(CAST(CAST(nn AS HUGEINT) * diag - pe_s AS DOUBLE)
                        / CAST(CAST(nn AS HUGEINT) * nn - pe_s AS DOUBLE), 6)
                END AS kappa,
                round(CAST(p_s AS DOUBLE) / CAST(k AS DOUBLE), 6) AS macro_precision,
                round(CAST(r_s AS DOUBLE) / CAST(k AS DOUBLE), 6) AS macro_recall,
                round(CAST(f_s AS DOUBLE) / CAST(k AS DOUBLE), 6) AS macro_f1
         FROM agg0"""),
    // q405: the padded banded grid replayed cell-by-cell (width 2r+1
    // rows, sentinel padding); j≥2 guards stand in for the operator's
    // all-sentinel seed row — exact integers make the orders equivalent
    "q405_dtw_banded" ->
      """WITH RECURSIVE sa AS (
           SELECT date_trunc('month', o_orderdate) AS mo,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
         ), sb AS (
           SELECT date_trunc('month', o_orderdate) AS mo,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM orders WHERE o_orderpriority = '2-HIGH' GROUP BY 1
         ), la AS (SELECT list(cents ORDER BY mo) AS a, CAST(count(*) AS BIGINT) AS m FROM sa),
         lb AS (SELECT list(cents ORDER BY mo) AS b, CAST(count(*) AS BIGINT) AS n FROM sb),
         dims AS (SELECT a, b, m, n, CAST(12 AS BIGINT) AS r,
                         CAST(25 AS BIGINT) AS l FROM la CROSS JOIN lb),
         dp(k, dps) AS (
           SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]) FROM dims
           UNION ALL
           SELECT dp.k + 1,
                  list_append(dps, (
                    WITH c AS (
                      SELECT (dp.k // d.l) + 1 AS j,
                             (dp.k % d.l) + 1 AS li,
                             ((dp.k // d.l) + 1) - d.r + ((dp.k % d.l) + 1) - 1 AS i
                    )
                    SELECT CASE
                      WHEN c.i < 1 OR c.i > d.m
                        THEN CAST(2305843009213693951 AS BIGINT)
                      WHEN c.j = 1 AND c.i = 1
                        THEN abs(d.a[CAST(c.i AS INT)] - d.b[CAST(c.j AS INT)])
                      ELSE abs(d.a[CAST(c.i AS INT)] - d.b[CAST(c.j AS INT)])
                           + least(
                               CASE WHEN c.li >= 2 THEN dps[CAST(dp.k AS INT)]
                                    ELSE CAST(2305843009213693951 AS BIGINT) END,
                               CASE WHEN c.li < d.l AND c.j >= 2
                                    THEN dps[CAST(dp.k + 2 - d.l AS INT)]
                                    ELSE CAST(2305843009213693951 AS BIGINT) END,
                               CASE WHEN c.j >= 2 THEN dps[CAST(dp.k + 1 - d.l AS INT)]
                                    ELSE CAST(2305843009213693951 AS BIGINT) END)
                      END FROM c))
           FROM dp, dims d WHERE dp.k < d.n * d.l
         )
         SELECT d.m AS n_a, d.n AS n_b, d.r AS band,
                CASE WHEN d.m > 0 AND d.n > 0 THEN
                  dps[CAST((d.n - 1) * d.l + d.m - d.n + d.r + 1 AS INT)]
                END AS dtw_units,
                CASE WHEN d.m + d.n > 0 THEN
                  round(CAST(dps[CAST((d.n - 1) * d.l + d.m - d.n + d.r + 1 AS INT)] AS DOUBLE)
                        / CAST(d.m + d.n AS DOUBLE), 6)
                END AS dtw_per_step
         FROM dp, dims d WHERE dp.k = d.n * d.l""",
    // q404: sequential KRUSKAL over the same canonical weighted pairs —
    // an independent ALGORITHM, not a replay: lexicographic-weight MSF
    // uniqueness forces bit-equality with the operator's Borůvka
    "q404_mst" ->
      """WITH RECURSIVE bi AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE p.p_brand IS NOT NULL
         ), e AS (
           SELECT a.i AS u, b2.i AS v, CAST(-count(*) AS BIGINT) AS w
           FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i
           GROUP BY 1, 2
         ), nodes AS (
           SELECT u AS n FROM e UNION SELECT v FROM e
         ), lab0 AS (
           SELECT list(struct_pack(n := n, c := n) ORDER BY n) AS labs
           FROM nodes
         ), es AS (
           SELECT u, v, w, row_number() OVER (ORDER BY w, u, v) AS i FROM e
         ), ne AS (SELECT CAST(count(*) AS BIGINT) AS m FROM es),
         kr(i, labs, kept) AS (
           SELECT CAST(0 AS BIGINT), labs,
                  CAST([] AS STRUCT(u VARCHAR, v VARCHAR, w BIGINT)[])
           FROM lab0
           UNION ALL
           SELECT t.i,
                  CASE WHEN t.lu <> t.lv THEN
                    list_transform(t.labs, x ->
                      CASE WHEN x.c = greatest(t.lu, t.lv)
                           THEN struct_pack(n := x.n, c := least(t.lu, t.lv))
                           ELSE x END)
                  ELSE t.labs END,
                  CASE WHEN t.lu <> t.lv THEN
                    list_append(t.kept, struct_pack(u := t.eu, v := t.ev, w := t.ew))
                  ELSE t.kept END
           FROM (
             SELECT kr.i + 1 AS i, kr.labs AS labs, kr.kept AS kept,
                    es.u AS eu, es.v AS ev, es.w AS ew,
                    list_filter(kr.labs, x -> x.n = es.u)[1].c AS lu,
                    list_filter(kr.labs, x -> x.n = es.v)[1].c AS lv
             FROM kr JOIN es ON es.i = kr.i + 1
           ) t
         )
         SELECT x.u AS src, x.v AS dst, x.w AS weight
         FROM (SELECT kept FROM kr, ne WHERE kr.i = ne.m) f,
              unnest(f.kept) AS t2(x)
         ORDER BY weight, src, dst""",
    // q403: the DP replayed cell-by-cell over a row-major linearized
    // index (i fastest) — exact integers end to end, so ANY
    // dependency-respecting replay order lands the identical number
    "q403_dtw" ->
      """WITH RECURSIVE sa AS (
           SELECT date_trunc('month', o_orderdate) AS mo,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
         ), sb AS (
           SELECT date_trunc('month', o_orderdate) AS mo,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM orders WHERE o_orderpriority = '2-HIGH' GROUP BY 1
         ), la AS (SELECT list(cents ORDER BY mo) AS a, CAST(count(*) AS BIGINT) AS m FROM sa),
         lb AS (SELECT list(cents ORDER BY mo) AS b, CAST(count(*) AS BIGINT) AS n FROM sb),
         dims AS (SELECT a, b, m, n FROM la CROSS JOIN lb),
         dp(k, dps) AS (
           SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]) FROM dims
           UNION ALL
           SELECT dp.k + 1,
                  list_append(dps,
                    abs(d.a[CAST((dp.k % d.m) + 1 AS INT)]
                        - d.b[CAST((dp.k // d.m) + 1 AS INT)]) +
                    CASE
                      WHEN dp.k // d.m = 0 AND dp.k % d.m = 0 THEN CAST(0 AS BIGINT)
                      WHEN dp.k // d.m = 0 THEN dps[CAST(dp.k AS INT)]
                      WHEN dp.k % d.m = 0 THEN dps[CAST(dp.k + 1 - d.m AS INT)]
                      ELSE least(dps[CAST(dp.k + 1 - d.m AS INT)],
                                 dps[CAST(dp.k AS INT)],
                                 dps[CAST(dp.k - d.m AS INT)])
                    END)
           FROM dp, dims d WHERE dp.k < d.m * d.n
         )
         SELECT d.m AS n_a, d.n AS n_b,
                CASE WHEN d.m > 0 AND d.n > 0
                     THEN dps[CAST(d.m * d.n AS INT)] END AS dtw_units,
                CASE WHEN d.m + d.n > 0 THEN
                  round(CAST(dps[CAST(d.m * d.n AS INT)] AS DOUBLE)
                        / CAST(d.m + d.n AS DOUBLE), 6)
                END AS dtw_per_step
         FROM dp, dims d WHERE dp.k = d.m * d.n""",
    // q399: full replay of the mode-anchored quantized recurrence — the
    // 2×2 cells, the clamped hypergeometric mode, both recursive weight
    // chains (one IEEE double multiply + round 12 per step), the
    // (1+1e-7) minimum-likelihood inclusion, DECIMAL sums, three divides
    "q399_fisher_exact" ->
      """WITH RECURSIVE s AS (
           SELECT c_acctbal > 4500 AS ex, c_mktsegment = 'BUILDING' AS ou
           FROM customer
           WHERE c_nationkey = 3 AND c_acctbal IS NOT NULL
             AND c_mktsegment IS NOT NULL
         ), cells AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(coalesce(sum(CASE WHEN ex AND ou THEN 1 ELSE 0 END), 0) AS BIGINT) AS a,
                  CAST(coalesce(sum(CASE WHEN ex AND NOT ou THEN 1 ELSE 0 END), 0) AS BIGINT) AS b,
                  CAST(coalesce(sum(CASE WHEN NOT ex AND ou THEN 1 ELSE 0 END), 0) AS BIGINT) AS c,
                  CAST(coalesce(sum(CASE WHEN NOT ex AND NOT ou THEN 1 ELSE 0 END), 0) AS BIGINT) AS d
           FROM s
         ), marg AS (
           SELECT n, a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
                  greatest(0, (a + c) - (c + d)) AS kmin,
                  least(a + b, a + c) AS kmax,
                  least(greatest(CAST((CAST(a + b AS HUGEINT) + 1) * ((a + c) + 1)
                                      // (n + 2) AS BIGINT),
                                 greatest(0, (a + c) - (c + d))),
                        least(a + b, a + c)) AS kmode
           FROM cells
         ), up(k, w) AS (
           SELECT kmode, CAST(1.000000000000 AS DECIMAL(13,12)) FROM marg
           UNION ALL
           SELECT u.k + 1,
                  CAST(round(CAST(u.w AS DOUBLE) *
                       (CAST((m.r1 - (u.k + 1) + 1) * (m.c1 - (u.k + 1) + 1) AS DOUBLE)
                        / CAST((u.k + 1) * (m.r2 - m.c1 + (u.k + 1)) AS DOUBLE)), 12)
                    AS DECIMAL(13,12))
           FROM up u, marg m WHERE u.k < m.kmax
         ), dn(k, w) AS (
           SELECT kmode, CAST(1.000000000000 AS DECIMAL(13,12)) FROM marg
           UNION ALL
           SELECT u.k - 1,
                  CAST(round(CAST(u.w AS DOUBLE) *
                       (CAST(((u.k - 1) + 1) * (m.r2 - m.c1 + (u.k - 1) + 1) AS DOUBLE)
                        / CAST((m.r1 - (u.k - 1)) * (m.c1 - (u.k - 1)) AS DOUBLE)), 12)
                    AS DECIMAL(13,12))
           FROM dn u, marg m WHERE u.k > m.kmin
         ), w AS (
           SELECT k, w FROM up
           UNION ALL
           SELECT k, w FROM dn WHERE k < (SELECT kmode FROM marg)
         ), ob AS (
           SELECT max(CASE WHEN w.k = m.a THEN w.w END) AS wobs FROM w, marg m
         ), th AS (
           SELECT round(CAST(wobs AS DOUBLE) * CAST(1.0000001 AS DOUBLE), 12) AS thr
           FROM ob
         ), sums AS (
           SELECT sum(CAST(w.w AS DECIMAL(38,12))) AS s_all,
                  sum(CASE WHEN CAST(w.w AS DOUBLE) <= th.thr
                           THEN CAST(w.w AS DECIMAL(38,12))
                           ELSE CAST(0 AS DECIMAL(38,12)) END) AS s_le,
                  sum(CASE WHEN w.k <= m.a
                           THEN CAST(w.w AS DECIMAL(38,12))
                           ELSE CAST(0 AS DECIMAL(38,12)) END) AS s_left,
                  sum(CASE WHEN w.k >= m.a
                           THEN CAST(w.w AS DECIMAL(38,12))
                           ELSE CAST(0 AS DECIMAL(38,12)) END) AS s_right
           FROM w, th, marg m
         )
         SELECT m.n, m.a, m.b, m.c, m.d,
                CAST(m.kmax - m.kmin + 1 AS BIGINT) AS support,
                CASE WHEN m.b * m.c > 0 THEN
                  round(CAST(m.a * m.d AS DOUBLE) / CAST(m.b * m.c AS DOUBLE), 6)
                END AS odds_ratio,
                round(CAST(s_le AS DOUBLE) / CAST(s_all AS DOUBLE), 6) AS p_two,
                round(CAST(s_left AS DOUBLE) / CAST(s_all AS DOUBLE), 6) AS p_left,
                round(CAST(s_right AS DOUBLE) / CAST(s_all AS DOUBLE), 6) AS p_right
         FROM sums, marg m""",
    // q397: the q373 BFS replay with the composition restricted to the
    // SAME deterministic pivot third (row_number over the sorted node
    // list, positions 1,4,7,… 1-based) and NO halving — the raw
    // directed pivot sum the operator publishes under `sources`
    "q397_betweenness_pivots" -> {
      val levels = (2 to 6).map { k =>
        s""", n$k AS MATERIALIZED (
             SELECT r.src, e.dst AS node, $k AS d,
                    CAST(sum(r.sigma) AS BIGINT) AS sigma
             FROM n${k - 1} r JOIN e ON e.src = r.node
             WHERE e.dst <> r.src
               AND NOT EXISTS (SELECT 1 FROM r${k - 1} z
                               WHERE z.src = r.src AND z.node = e.dst)
             GROUP BY 1, 2
           ), r$k AS MATERIALIZED (
             SELECT * FROM r${k - 1} UNION ALL SELECT * FROM n$k)"""
      }.mkString
      duckTop90Graph +
      s""", n1 AS MATERIALIZED (
           SELECT src, dst AS node, 1 AS d, CAST(1 AS BIGINT) AS sigma FROM e
         ), r1 AS MATERIALIZED (SELECT * FROM n1)
         $levels
         , nodes AS (SELECT DISTINCT src AS node FROM e),
         piv AS (
           SELECT node FROM (
             SELECT node, row_number() OVER (ORDER BY node) AS rn FROM nodes)
           WHERE (rn - 1) % 3 = 0
         ),
         terms AS (
           SELECT a.node AS v,
                  (a.sigma * b.sigma * 1000000000) // st.sigma AS u
           FROM r6 a
           JOIN piv p ON p.node = a.src
           JOIN r6 b ON b.src = a.node AND b.node <> a.src
           JOIN r6 st ON st.src = a.src AND st.node = b.node
                     AND st.d = a.d + b.d
         ), bc AS (SELECT v, sum(u) AS su FROM terms GROUP BY 1)
         SELECT n.node, CAST(coalesce(bc.su, 0) AS BIGINT) AS bc_units
         FROM nodes n LEFT JOIN bc ON bc.v = n.node
         ORDER BY bc_units DESC, node"""
    },
    "q340_permutation_test" ->
      """WITH base AS (
           SELECT CAST(c_custkey AS VARCHAR) AS id,
                  CASE WHEN c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END AS arm,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
           FROM customer
           WHERE c_custkey IS NOT NULL AND round(c_acctbal * 100, 0) IS NOT NULL
         ), obs AS (
           SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(sum(CASE WHEN arm <> 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                  CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT) AS sa,
                  CAST(sum(CASE WHEN arm <> 'A' THEN x ELSE 0 END) AS BIGINT) AS sb
           FROM base
         ), reps AS (
           SELECT b, CAST(sum(a) AS BIGINT) AS ka, CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(a * x) AS BIGINT) AS sa2, CAST(sum(x) AS BIGINT) AS s
           FROM (
             SELECT base.x, t.b,
                    CASE WHEN CAST(CAST(('0x' || substr(md5('perm:' || base.id || ':' || CAST(t.b AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
                              / 4503599627370496.0
                           < (SELECT CAST(na AS DOUBLE) / (na + nb) FROM obs)
                         THEN 1 ELSE 0 END AS a
             FROM base CROSS JOIN (SELECT unnest(range(0, 64)) AS b) t)
           GROUP BY b
         ), stat AS (
           SELECT CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS diff_obs
           FROM obs
         ), nge AS (
           SELECT CAST(count(*) AS BIGINT) AS n_ge
           FROM reps, stat
           WHERE k - ka = 0 OR ka = 0
              OR abs(CAST(sa2 AS DOUBLE) / ka - CAST(s - sa2 AS DOUBLE) / (k - ka))
                 >= abs(diff_obs)
         )
         SELECT obs.na AS n_a, obs.nb AS n_b,
                round(CAST(obs.sa AS DOUBLE) / obs.na, 6) AS mean_a,
                round(CAST(obs.sb AS DOUBLE) / obs.nb, 6) AS mean_b,
                round(stat.diff_obs, 6) AS diff_obs,
                64 AS b_reps, nge.n_ge,
                round((1.0::DOUBLE + nge.n_ge) / (64 + 1.0::DOUBLE), 6) AS p_value
         FROM obs CROSS JOIN stat CROSS JOIN nge""",
    // q341: the Wilson formula with the identical operator association
    "q341_wilson" ->
      """WITH g AS (
           SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS successes
           FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
         ), c AS (
           SELECT grp, n, successes,
                  CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                  CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE) AS z2n
           FROM g
         ), w AS (
           SELECT grp, n, successes, p,
                  (p + z2n / 2) / (1.0::DOUBLE + z2n) AS center,
                  CAST(1.96 AS DOUBLE)
                    * sqrt(p * (1.0::DOUBLE - p) / CAST(n AS DOUBLE)
                           + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                             / (4.0::DOUBLE * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                    / (1.0::DOUBLE + z2n) AS half
           FROM c
         )
         SELECT grp, n, successes, round(p, 6) AS rate,
                round(greatest(center - half, 0.0::DOUBLE), 6) AS wilson_lo,
                round(least(center + half, 1.0::DOUBLE), 6) AS wilson_hi
         FROM w ORDER BY grp""",
    // q342: exact 2×2, risk ratio + log-scale SE + E-value, same
    // operator association as the Spark side
    "q342_evalue" ->
      """WITH cells AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN o_totalprice > 100000 AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN o_totalprice > 100000 AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN o_totalprice <= 100000 AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN o_totalprice <= 100000 AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM orders
         ), rrc AS (
           SELECT *,
                  (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)) AS rr0,
                  a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok
           FROM cells
         )
         SELECT n, a, b, c, d,
                CASE WHEN ok THEN round(rr0, 6) END AS rr,
                CASE WHEN ok THEN round(ln(rr0), 6) END AS log_rr,
                CASE WHEN ok THEN round(sqrt(
                  1.0::DOUBLE / a - 1.0::DOUBLE / (a + b)
                  + 1.0::DOUBLE / c - 1.0::DOUBLE / (c + d)), 6) END AS se_log_rr,
                CASE WHEN ok THEN round(
                  (CASE WHEN rr0 >= 1.0 THEN rr0 ELSE 1.0::DOUBLE / rr0 END)
                  + sqrt((CASE WHEN rr0 >= 1.0 THEN rr0 ELSE 1.0::DOUBLE / rr0 END)
                         * ((CASE WHEN rr0 >= 1.0 THEN rr0 ELSE 1.0::DOUBLE / rr0 END) - 1.0::DOUBLE)), 6)
                END AS e_value
         FROM rrc""",
    // q343: all-cause KM just before t (the q203 12dp-ln/decimal
    // machinery over the strictly-earlier frame), per-cause CIF
    // increments 12dp-rounded and decimal-summed
    "q343_competing_risks" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tl,
                  min(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS tp,
                  min(CASE WHEN event_type = 'error'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS te
           FROM events GROUP BY 1
         ), subj AS (
           SELECT CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN tp - t0
                       WHEN te IS NOT NULL THEN te - t0
                       ELSE tl - t0 END AS t,
                  CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
                       WHEN te IS NOT NULL THEN 2 ELSE 0 END AS cause
           FROM pu
         ), tot AS (SELECT count(*) AS n FROM subj),
         bytc AS (
           SELECT t, CAST(cause AS BIGINT) AS cause, CAST(count(*) AS BIGINT) AS cnt
           FROM subj GROUP BY 1, 2
         ), byt AS (
           SELECT t,
                  CAST(sum(CASE WHEN cause <> 0 THEN cnt ELSE 0 END) AS BIGINT) AS ne,
                  CAST(sum(CASE WHEN cause = 0 THEN cnt ELSE 0 END) AS BIGINT) AS nc
           FROM bytc GROUP BY 1
         ), c1 AS (
           SELECT t, ne, nc,
                  sum(ne + nc) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gone
           FROM byt
         ), c2 AS (
           SELECT c1.t, c1.ne, c1.nc,
                  CAST(tot.n - c1.gone + c1.ne + c1.nc AS BIGINT) AS nr
           FROM c1 CROSS JOIN tot
         ), c3 AS (
           SELECT *, CASE WHEN ne = nr THEN 1 ELSE 0 END AS z,
                  CASE WHEN ne = nr THEN 0.0
                       ELSE round(ln(1.0 - CAST(ne AS DOUBLE) / CAST(nr AS DOUBLE)), 12) END AS term
           FROM c2
         ), c4 AS (
           SELECT *,
                  coalesce(sum(CAST(term AS DECIMAL(24,12))) OVER
                    (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    CAST(0 AS DECIMAL(24,12))) AS lsp,
                  coalesce(max(z) OVER
                    (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS azp
           FROM c3
         ), curve AS (
           SELECT t, nr,
                  CASE WHEN azp = 1 THEN 0.0 ELSE exp(CAST(lsp AS DOUBLE)) END AS sm
           FROM c4
         ), pc AS (
           SELECT b.t, b.cause, c.nr, b.cnt, c.sm,
                  CAST(round(c.sm * CAST(b.cnt AS DOUBLE) / CAST(c.nr AS DOUBLE), 12) AS DECIMAL(24,12)) AS inc
           FROM bytc b JOIN curve c ON c.t = b.t WHERE b.cause <> 0
         )
         SELECT t, cause, nr AS n_risk, cnt AS n_event,
                round(sm, 6) AS s_minus,
                round(CAST(sum(inc) OVER (PARTITION BY cause ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS cif
         FROM pc ORDER BY cause, t""",
    // q344: prefix sums exact, deviation terms 12dp-decimal-summed,
    // running min over the decimals — the identical PH replay
    "q344_page_hinkley" ->
      """WITH daily AS (
           SELECT event_type AS k, strftime(ts, '%Y-%m-%d') AS t,
                  CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2
         ), s1 AS (
           SELECT k, t, x,
                  sum(x) OVER (PARTITION BY k ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
                  count(*) OVER (PARTITION BY k ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
           FROM daily
         ), s2 AS (
           SELECT k, t,
                  CAST(round(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(i AS DOUBLE) - 0.0::DOUBLE, 12) AS DECIMAL(38,12)) AS dev
           FROM s1
         ), s3 AS (
           SELECT k, t,
                  sum(dev) OVER (PARTITION BY k ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
           FROM s2
         ), s4 AS (
           SELECT k, t, m,
                  min(m) OVER (PARTITION BY k ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin
           FROM s3
         ), s5 AS (
           SELECT k, t, CAST(m - mmin AS DOUBLE) AS ph
           FROM s4
         )
         SELECT k AS key, CAST(count(*) AS BIGINT) AS n,
                round(max(ph), 6) AS ph_max,
                CAST(sum(CASE WHEN ph >= 30.0 THEN 1 ELSE 0 END) AS BIGINT) AS alarms,
                min(CASE WHEN ph >= 30.0 THEN t END) AS first_alarm_t
         FROM s5 GROUP BY 1 ORDER BY key""",
    // q345: count-of-counts over the shared tokenizer; the r+1 lookup
    // is a lead over the FULL relation, then the maxR cut
    "q345_good_turing" ->
      """WITH arrs AS (
           SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS a
           FROM documents
         ), toks AS (
           SELECT unnest(list_transform(generate_series(1, len(a) - 2),
                    i -> a[i] || '|' || a[i+1] || '|' || a[i+2])) AS w
           FROM arrs
         ), types AS (
           SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks WHERE w <> '' GROUP BY 1
         ), cofc AS (
           SELECT c AS r, CAST(count(*) AS BIGINT) AS n_types FROM types GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(r * n_types) AS BIGINT) AS n_tokens,
                  CAST(coalesce(sum(CASE WHEN r = 1 THEN n_types END), 0) AS BIGINT) AS n1
           FROM cofc
         ), spine AS (
           SELECT r, n_types,
                  lead(n_types, 1) OVER (ORDER BY r) AS nxt,
                  lead(r, 1) OVER (ORDER BY r) AS nxtr
           FROM cofc
         ), rows1 AS (
           SELECT s.r, s.n_types,
                  CASE WHEN s.nxtr = s.r + 1 THEN round(
                    CAST(s.r + 1 AS DOUBLE) * CAST(s.nxt AS DOUBLE) / CAST(s.n_types AS DOUBLE), 6) END AS r_star,
                  round(CAST(s.r AS DOUBLE) * CAST(s.n_types AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6) AS mass
           FROM spine s CROSS JOIN tot t WHERE s.r <= 8
         )
         SELECT 0::BIGINT AS r, 0::BIGINT AS n_types, CAST(NULL AS DOUBLE) AS r_star,
                round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS mass
         FROM tot
         UNION ALL
         SELECT r, n_types, r_star, mass FROM rows1
         ORDER BY r""",
    // q346: the RAKE pipeline — punctuation-stripped tokens, stopword-
    // boundary phrase ids, deg/freq word scores, phrase-score rollup
    "q346_rake" -> {
      val stops = graft.pipeline.TextAnalysis.StopwordsEn
        .map(s => s"'$s'").mkString(", ")
      s"""WITH arrs AS (
           SELECT doc_id AS d,
                  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS a
           FROM documents
         ), toks AS (
           SELECT d, i AS pos,
                  regexp_replace(a[i], '^[^a-z0-9]+|[^a-z0-9]+$$', '', 'g') AS w
           FROM arrs, unnest(range(1, len(a) + 1)) AS t(i)
         ), flags AS (
           SELECT d, pos, w,
                  CASE WHEN w = '' OR w IN ($stops) THEN 1 ELSE 0 END AS st
           FROM toks
         ), pid AS (
           SELECT d, pos, w, st,
                  sum(st) OVER (PARTITION BY d ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
           FROM flags
         ), ph AS (
           SELECT d, pid, list(w ORDER BY pos) AS ws
           FROM pid WHERE st = 0 GROUP BY 1, 2
         ), ph2 AS (
           SELECT CAST(len(ws) AS BIGINT) AS n_words,
                  array_to_string(ws, ' ') AS phrase, ws
           FROM ph WHERE len(ws) <= 4
         ), wstat AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(n_words) AS BIGINT) AS deg
           FROM (SELECT n_words, unnest(ws) AS w FROM ph2) GROUP BY 1
         ), wsc AS (
           SELECT w, CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 12) AS DECIMAL(24,12)) AS s
           FROM wstat
         ), ps AS (
           SELECT p.phrase, p.n_words, sc.s
           FROM (SELECT phrase, n_words, unnest(ws) AS w FROM ph2) p
           JOIN wsc sc ON sc.w = p.w
         ), agg AS (
           SELECT phrase, n_words,
                  CAST(count(*) / n_words AS BIGINT) AS freq,
                  sum(s) AS raw
           FROM ps GROUP BY 1, 2
         )
         SELECT phrase, n_words, freq,
                round(CAST(raw AS DOUBLE) / CAST(freq AS DOUBLE), 6) AS score
         FROM agg ORDER BY score DESC, phrase LIMIT 20"""
    },
    // q347: union vocabulary via full-outer type join, add-½ smoothing,
    // per-type 12dp terms, decimal sums — both directions in one pass
    "q347_kl_unigram" ->
      """WITH t0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS c0 FROM (
             SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
             FROM documents WHERE doc_id % 2 = 0) WHERE w <> '' GROUP BY 1
         ), t1 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM (
             SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
             FROM documents WHERE doc_id % 2 = 1) WHERE w <> '' GROUP BY 1
         ), j AS (
           SELECT coalesce(t0.w, t1.w) AS w,
                  coalesce(c0, 0) AS c0, coalesce(c1, 0) AS c1
           FROM t0 FULL OUTER JOIN t1 ON t1.w = t0.w
         ), tot AS (
           SELECT CAST(count(*) AS BIGINT) AS vocab,
                  CAST(sum(c0) AS BIGINT) AS n0_tokens,
                  CAST(sum(c1) AS BIGINT) AS n1_tokens
           FROM j
         ), terms AS (
           SELECT x.vocab, x.n0_tokens, x.n1_tokens,
                  CAST(round(p * ln(p / q), 12) AS DECIMAL(24,12)) AS pq,
                  CAST(round(q * ln(q / p), 12) AS DECIMAL(24,12)) AS qp
           FROM (
             SELECT j.c0, j.c1, tot.vocab, tot.n0_tokens, tot.n1_tokens,
                    (CAST(j.c0 AS DOUBLE) + 0.5::DOUBLE)
                      / (CAST(tot.n0_tokens AS DOUBLE) + 0.5::DOUBLE * CAST(tot.vocab AS DOUBLE)) AS p,
                    (CAST(j.c1 AS DOUBLE) + 0.5::DOUBLE)
                      / (CAST(tot.n1_tokens AS DOUBLE) + 0.5::DOUBLE * CAST(tot.vocab AS DOUBLE)) AS q
             FROM j CROSS JOIN tot) x
         ), agg AS (
           SELECT vocab, n0_tokens, n1_tokens,
                  round(CAST(sum(pq) AS DOUBLE), 6) AS kl_pq,
                  round(CAST(sum(qp) AS DOUBLE), 6) AS kl_qp
           FROM terms GROUP BY 1, 2, 3
         )
         SELECT vocab, n0_tokens, n1_tokens, kl_pq, kl_qp,
                round(kl_pq + kl_qp, 6) AS jeffreys
         FROM agg""",
    // q348: top-40 words, per-source 12dp relative rates on a dense
    // grid, across-source z-scores, pairwise mean |z|-distance
    "q348_burrows_delta" ->
      """WITH toks AS (
           SELECT source AS src, w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT source, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
             FROM documents WHERE source IS NOT NULL) WHERE w <> '' GROUP BY 1, 2
         ), topw AS (
           SELECT w FROM (SELECT w, sum(c) AS tc FROM toks GROUP BY 1)
           ORDER BY tc DESC, w LIMIT 40
         ), st AS (
           SELECT src, CAST(sum(c) AS BIGINT) AS n FROM toks GROUP BY 1
         ), ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM st),
         grid AS (
           SELECT st.src, topw.w,
                  CAST(round(CAST(coalesce(t.c, 0) AS DOUBLE) / CAST(st.n AS DOUBLE), 12) AS DECIMAL(14,12)) AS f
           FROM st CROSS JOIN topw
           LEFT JOIN toks t ON t.src = st.src AND t.w = topw.w
         ), stats AS (
           SELECT w,
                  CAST(sum(f) AS DOUBLE) / (SELECT k FROM ns) AS mu,
                  CAST(sum(CAST(round(CAST(f AS DOUBLE) * CAST(f AS DOUBLE), 12) AS DECIMAL(24,12))) AS DOUBLE)
                    / (SELECT k FROM ns) AS ex2
           FROM grid GROUP BY 1
         ), z AS (
           SELECT g.src, g.w,
                  (CAST(g.f AS DOUBLE) - s.mu) / sqrt(greatest(s.ex2 - s.mu * s.mu, 0.0::DOUBLE)) AS z
           FROM grid g JOIN stats s ON s.w = g.w
           WHERE sqrt(greatest(s.ex2 - s.mu * s.mu, 0.0::DOUBLE)) > 0
         )
         SELECT a.src AS src_a, b.src AS src_b,
                CAST(count(*) AS BIGINT) AS n_words,
                round(CAST(sum(CAST(round(abs(a.z - b.z), 12) AS DECIMAL(24,12))) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE), 6) AS delta
         FROM z a JOIN z b ON b.w = a.w AND a.src < b.src
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q349: the same −ln(u)/w keys off the salted 52-bit md5 fraction;
    // cut on the unrounded key, publish 12dp
    "q349_es_sample" ->
      """WITH base AS (
           SELECT c_custkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS w
           FROM customer
           WHERE c_custkey IS NOT NULL AND round(c_acctbal * 100, 0) > 0
         ), keyed AS (
           SELECT c_custkey, w,
                  -ln((CAST(CAST(('0x' || substr(md5('es:' || CAST(c_custkey AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE) + 1.0)
                      / 4503599627370496.0) / CAST(w AS DOUBLE) AS k
           FROM base
         ), cut AS (
           SELECT c_custkey, w, round(k, 12) AS es_key
           FROM keyed ORDER BY k, c_custkey LIMIT 50
         )
         SELECT c_custkey, w, es_key,
                CAST(row_number() OVER (ORDER BY es_key, c_custkey) AS BIGINT) AS rank
         FROM cut ORDER BY rank""",
    // q350: the q344 replay emitting per-bucket rows in exact
    // micro-units — deviation terms become picounit BIGINTs (the
    // double product lands within ±0.2 of the exact integer, the cast
    // rounds onto it), m/min-m/ph are pure integer window arithmetic
    "q350_ph_stream" ->
      """WITH daily AS (
           SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS t,
                  CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2
         ), s1 AS (
           SELECT key, t, x,
                  sum(x) OVER (PARTITION BY key ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
                  count(*) OVER (PARTITION BY key ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
           FROM daily
         ), s2 AS (
           SELECT key, t, x,
                  CAST(round(round(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(i AS DOUBLE), 12)
                             * 1000000000000.0, 0) AS BIGINT) AS devp
           FROM s1
         ), s3 AS (
           SELECT key, t, x,
                  sum(devp) OVER (PARTITION BY key ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
           FROM s2
         ), s4 AS (
           SELECT key, t, x, m,
                  min(m) OVER (PARTITION BY key ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin
           FROM s3
         )
         SELECT key, t, x,
                CAST((m - mmin) // 1000000 AS BIGINT) AS ph_micro,
                CAST((m - mmin) // 1000000 AS BIGINT) >= 30000000 AS alarm
         FROM s4 ORDER BY key, t""",
    // q351: the same tokenizer; 1-based list slices mirror the Spark
    // slice() windows exactly (empty slice → empty string both sides)
    "q351_kwic" ->
      """WITH arrs AS (
           SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS a
           FROM documents
         ), hits AS (
           SELECT doc_id, i,
                  coalesce(array_to_string(a[greatest(i - 3, 1) : i - 1], ' '), '') AS l,
                  coalesce(array_to_string(a[i + 1 : least(i + 3, len(a))], ' '), '') AS r
           FROM arrs, unnest(range(1, len(a) + 1)) AS t(i)
           WHERE a[i] = 'merge'
         )
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                l AS left_ctx, r AS right_ctx
         FROM hits ORDER BY doc_id, pos LIMIT 100""",
    // q352: 5 unrolled Katz rounds — x ← (inflow·α)÷1e6 + 1e6, the
    // identical integer attenuation both Spark regimes run
    "q352_katz" -> {
      val rounds = (1 to 5).map { i =>
        val prev = if (i == 1) "x0" else s"x${i - 1}"
        s""", r$i AS MATERIALIZED (
             SELECT e.dst AS node, sum(x.s) AS s
             FROM e JOIN $prev x ON x.node = e.src GROUP BY 1
           ), x$i AS MATERIALIZED (
             SELECT n.node,
                    CAST((coalesce(r.s, 0) * 10000) // 1000000 + 1000000 AS BIGINT) AS s
             FROM (SELECT node FROM x0) n
             LEFT JOIN r$i r ON r.node = n.node)"""
      }.mkString
      duckTop90Graph +
        ", x0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1000000::BIGINT AS s FROM e)" +
        rounds +
        " SELECT node, s AS score_units FROM x5 ORDER BY node"
    },
    // q353: the q201 MI chain per unordered column pair, UNION ALL —
    // same 12dp terms, decimal sums, published-value NMI
    "q353_nmi_matrix" -> {
      def pairSql(a: String, b: String) =
        s"""SELECT * FROM (
            WITH cells AS (
              SELECT $a AS a, $b AS b, count(*) AS o
              FROM (SELECT o_orderpriority AS priority, o_orderstatus AS status,
                           CAST(month(o_orderdate) AS VARCHAR) AS omonth FROM orders)
              WHERE $a IS NOT NULL AND $b IS NOT NULL GROUP BY 1, 2
            ), nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
            rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
            ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
            mt AS (
              SELECT round(CAST(c.o AS DOUBLE) / CAST(nn.n AS DOUBLE)
                     * ln(CAST(nn.n AS DOUBLE) * CAST(c.o AS DOUBLE)
                          / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE))), 12) AS t
              FROM cells c JOIN rt ON rt.a = c.a JOIN ct ON ct.b = c.b CROSS JOIN nn
            ), mi AS (SELECT round(CAST(sum(CAST(t AS DECIMAL(24,12))) AS DOUBLE), 6) AS mi FROM mt),
            ha AS (
              SELECT round(CAST(sum(CAST(round(CAST(rt.rt AS DOUBLE) / CAST(nn.n AS DOUBLE)
                     * ln(CAST(nn.n AS DOUBLE) / CAST(rt.rt AS DOUBLE)), 12) AS DECIMAL(24,12))) AS DOUBLE), 6) AS h_a
              FROM rt CROSS JOIN nn
            ), hb AS (
              SELECT round(CAST(sum(CAST(round(CAST(ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE)
                     * ln(CAST(nn.n AS DOUBLE) / CAST(ct.ct AS DOUBLE)), 12) AS DECIMAL(24,12))) AS DOUBLE), 6) AS h_b
              FROM ct CROSS JOIN nn
            )
            SELECT '$a' AS col_a, '$b' AS col_b, nn.n AS n, mi.mi,
                   ha.h_a, hb.h_b,
                   round(mi.mi / least(ha.h_a, hb.h_b), 6) AS nmi
            FROM mi CROSS JOIN ha CROSS JOIN hb CROSS JOIN nn)"""
      Seq(("priority", "status"), ("priority", "omonth"), ("status", "omonth"))
        .map { case (a, b) => pairSql(a, b) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },
    // q354: subset-lattice v(T) from the converting masks, integer
    // Shapley numerators with inline factorial weights, ONE divide
    "q354_shapley" ->
      """WITH per AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fp,
                  min(CASE WHEN event_type = 'click' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS f0,
                  min(CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS f1,
                  min(CASE WHEN event_type = 'signup' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS f2,
                  min(CASE WHEN event_type = 'error' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS f3
           FROM events GROUP BY 1
         ), masks AS (
           SELECT CAST(CASE WHEN f0 IS NOT NULL AND f0 < fp THEN 1 ELSE 0 END
                + CASE WHEN f1 IS NOT NULL AND f1 < fp THEN 2 ELSE 0 END
                + CASE WHEN f2 IS NOT NULL AND f2 < fp THEN 4 ELSE 0 END
                + CASE WHEN f3 IS NOT NULL AND f3 < fp THEN 8 ELSE 0 END AS BIGINT) AS m,
                  CAST(count(*) AS BIGINT) AS c
           FROM per WHERE fp IS NOT NULL GROUP BY 1
         ), lat AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS t),
         v AS (
           SELECT l.t, CAST(coalesce(sum(mk.c), 0) AS BIGINT) AS v
           FROM lat l LEFT JOIN masks mk ON (mk.m & l.t) = mk.m GROUP BY 1
         ), tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_conv FROM masks),
         ch AS (SELECT unnest([0, 1, 2, 3]) AS i),
         terms AS (
           SELECT ch.i,
                  CASE bit_count(l.t) WHEN 0 THEN 6 WHEN 1 THEN 2
                       WHEN 2 THEN 2 ELSE 6 END * (va.v - l.v) AS term
           FROM ch JOIN v l ON (l.t & (1::BIGINT << ch.i)) = 0
           JOIN v va ON va.t = (l.t | (1::BIGINT << ch.i))
         )
         SELECT CASE i WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                     WHEN 2 THEN 'signup' ELSE 'error' END AS channel,
                tot.n_conv,
                (SELECT v FROM v WHERE t = 15) AS v_full,
                (SELECT v FROM v WHERE t = 0) AS v_empty,
                round(CAST(sum(term) AS DOUBLE) / 24, 6) AS shapley
         FROM terms CROSS JOIN tot
         GROUP BY 1, 2 ORDER BY channel""",
    // q355: exact per-group moments, sample variance over a cleared
    // denominator, dispersion/k̂ from the unrounded doubles
    "q355_negbin" ->
      """WITH per AS (
           SELECT event_type AS grp, user_id, CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2
         ), g AS (
           SELECT grp, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS total,
                  sum(CAST(x AS HUGEINT) * x) AS q
           FROM per WHERE grp IS NOT NULL GROUP BY 1
         ), m AS (
           SELECT grp, n, total,
                  CAST(total AS DOUBLE) / CAST(n AS DOUBLE) AS meand,
                  CAST(n * q - CAST(total AS HUGEINT) * total AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vard
           FROM g WHERE n > 1
         )
         SELECT grp, n, total,
                round(meand, 6) AS mean,
                round(vard, 6) AS variance,
                CASE WHEN meand > 0 THEN round(vard / meand, 6) END AS dispersion,
                CASE WHEN vard > meand THEN
                  round(meand * meand / (vard - meand), 6) END AS k_hat
         FROM m ORDER BY grp""",
    // q356: the q216 marker-argmax langId replayed for both detector
    // raters, then the coincidence-matrix chain — 12dp terms, decimal
    // sums, α from the unrounded composites
    "q356_kripp_alpha" -> {
      val langs = TextAnalysis.LangMarkers.map(_._1)
      def det(src: String) = {
        val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
          s"len([x for x in ltoks if list_contains(${ms.map(m => s"'$m'").mkString("[", ",", "]")}, x)]) AS s_$l"
        }.mkString(", ")
        val mx = s"greatest(${langs.map(l => s"s_$l").mkString(",")})"
        val pick = langs.map(l => s"WHEN s_$l = $mx THEN '$l'").mkString(" ")
        s"""SELECT u, CASE WHEN $mx = 0 THEN 'und' $pick END AS v FROM (
              SELECT CAST(doc_id AS VARCHAR) AS u, $scores FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower($src)), '\\s+') AS ltoks
                FROM documents))"""
      }
      s"""WITH ratings AS (
           SELECT CAST(doc_id AS VARCHAR) AS u, lang AS v
           FROM documents WHERE lang IS NOT NULL
           UNION ALL ${det("text")}
           UNION ALL ${det("substr(text, 1, 120)")}
         ), uc AS (
           SELECT u, v, CAST(count(*) AS BIGINT) AS c
           FROM ratings WHERE u IS NOT NULL AND v IS NOT NULL GROUP BY 1, 2
         ), um AS (
           SELECT u, CAST(sum(c) AS BIGINT) AS m FROM uc
           GROUP BY 1 HAVING sum(c) >= 2
         ), used AS (
           SELECT uc.u, uc.v, uc.c, um.m FROM uc JOIN um ON um.u = uc.u
         ), pairs AS (
           SELECT a.v AS ca, b.v AS cb,
                  sum(CAST(round(
                    CAST(a.c * (b.c - CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(a.m - 1 AS DOUBLE), 12) AS DECIMAL(24,12))) AS o
           FROM used a JOIN used b ON b.u = a.u GROUP BY 1, 2
         ), nc AS (SELECT ca, sum(o) AS ncv FROM pairs GROUP BY 1),
         totals AS (
           SELECT sum(o) AS nn,
                  sum(CASE WHEN ca <> cb THEN o END) AS off
           FROM pairs
         ), ep AS (
           SELECT sum(CAST(round(CAST(a.ncv AS DOUBLE) * CAST(b.ncv AS DOUBLE), 12)
                    AS DECIMAL(38,12))) AS se
           FROM nc a JOIN nc b ON b.ca <> a.ca
         ), meta AS (
           SELECT CAST(count(*) AS BIGINT) AS n_units,
                  CAST(sum(m) AS BIGINT) AS n_ratings
           FROM um
         ), nv AS (SELECT CAST(count(*) AS BIGINT) AS n_values FROM nc),
         fin AS (
           SELECT meta.n_units, meta.n_ratings, nv.n_values,
                  coalesce(CAST(off AS DOUBLE), 0.0) / CAST(nn AS DOUBLE) AS dod,
                  coalesce(CAST(se AS DOUBLE), 0.0)
                    / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)) AS ded
           FROM totals CROSS JOIN ep CROSS JOIN meta CROSS JOIN nv
         )
         SELECT n_units, n_ratings, n_values,
                round(dod, 6) AS d_o, round(ded, 6) AS d_e,
                CASE WHEN ded > 0 THEN round(1.0::DOUBLE - dod / ded, 6) END AS alpha
         FROM fin"""
    },
    // q357: the sizing identity with the shared 2.8016 literal;
    // mde_rel composes from the PUBLISHED values
    "q357_mde" ->
      """WITH b AS (
           SELECT CAST(count(*) AS BIGINT) AS n_obs,
                  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS s
           FROM orders
         ), sp AS (SELECT CAST(unnest([1000, 5000, 10000, 50000, 100000]) AS BIGINT) AS n_per_arm),
         m AS (
           SELECT sp.n_per_arm, b.n_obs,
                  CAST(b.s AS DOUBLE) / CAST(b.n_obs AS DOUBLE) AS pd
           FROM sp CROSS JOIN b
         ), o AS (
           SELECT n_per_arm, n_obs, round(pd, 6) AS p,
                  round(2.8016::DOUBLE * sqrt(2.0::DOUBLE * pd * (1.0::DOUBLE - pd)
                        / CAST(n_per_arm AS DOUBLE)), 6) AS mde_abs
           FROM m
         )
         SELECT n_per_arm, n_obs, p, mde_abs,
                CASE WHEN p > 0 THEN round(mde_abs / p, 6) END AS mde_rel
         FROM o ORDER BY n_per_arm""",
    // q358: recursive-CTE BFS (UNION dedup bounds the frontier), min-d
    // per ordered pair, the same 12dp 1/d efficiency terms
    "q358_apsp" -> (duckTop90Graph.replace("WITH bi", "WITH RECURSIVE bi") +
      """, r AS (
           SELECT src, dst AS node, 1 AS d FROM e
           UNION
           SELECT r.src, e.dst AS node, r.d + 1
           FROM r JOIN e ON e.src = r.node
           WHERE r.d < 24 AND e.dst <> r.src
         ), md AS (
           SELECT src, node, CAST(min(d) AS BIGINT) AS d
           FROM r WHERE node <> src GROUP BY 1, 2
         ), nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM e),
         agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_reachable,
                  CAST(coalesce(max(d), 0) AS BIGINT) AS diameter,
                  CAST(sum(d) AS BIGINT) AS sd,
                  sum(CAST(round(1.0::DOUBLE / d, 12) AS DECIMAL(24,12))) AS se
           FROM md
         )
         SELECT nn.n AS n_nodes, nn.n * (nn.n - 1) AS n_pairs,
                agg.n_reachable, agg.diameter,
                CASE WHEN agg.n_reachable > 0 THEN
                  round(CAST(agg.sd AS DOUBLE) / CAST(agg.n_reachable AS DOUBLE), 6)
                END AS mean_dist,
                round(coalesce(CAST(agg.se AS DOUBLE), 0.0)
                      / CAST(nn.n * (nn.n - 1) AS DOUBLE), 6) AS efficiency
         FROM agg CROSS JOIN nn"""),
    // q359: per-edge min endpoint degree; the k spine reads both
    // counts by correlated scan over the bounded relations
    "q359_rich_club" -> (duckTop90Graph +
      """, deg AS (SELECT src AS nd, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
         und AS (
           SELECT least(da.dg, db.dg) AS md
           FROM top t JOIN deg da ON da.nd = t.pa JOIN deg db ON db.nd = t.pb
         ), sp AS (SELECT CAST(unnest([4, 8, 12, 16]) AS BIGINT) AS k),
         base AS (
           SELECT sp.k,
                  (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE dg > sp.k) AS n_nodes,
                  (SELECT CAST(count(*) AS BIGINT) FROM und WHERE md > sp.k) AS n_edges
           FROM sp
         )
         SELECT k, n_nodes, n_edges,
                CASE WHEN n_nodes >= 2 THEN round(
                  2.0::DOUBLE * n_edges
                  / (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)), 6)
                END AS phi
         FROM base ORDER BY k"""),
    // q360: deterministic top-3 removal, recursive min-label CC over
    // the reduced graph (rnodes seeds keep isolated survivors)
    "q360_hub_removal" -> (duckTop90Graph.replace("WITH bi", "WITH RECURSIVE bi") +
      """, deg AS (SELECT src AS nd, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY 1),
         rem AS (SELECT nd FROM deg ORDER BY dg DESC, nd LIMIT 3),
         re AS (
           SELECT t.pa AS src, t.pb AS dst FROM top t
           WHERE t.pa NOT IN (SELECT nd FROM rem)
             AND t.pb NOT IN (SELECT nd FROM rem)
         ), redges AS (
           SELECT src, dst FROM re UNION SELECT dst, src FROM re
         ), rnodes AS (
           SELECT nd FROM deg WHERE nd NOT IN (SELECT nd FROM rem)
         ), cc(id, comp) AS (
           SELECT nd, nd FROM rnodes
           UNION
           SELECT e2.dst, c.comp FROM cc c JOIN redges e2 ON e2.src = c.id
           WHERE c.comp < e2.dst
         ), fin AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM fin GROUP BY 1),
         agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_components,
                  CAST(coalesce(max(sz), 0) AS BIGINT) AS largest,
                  CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_rest
           FROM sizes
         ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg)
         SELECT nn.n AS n_nodes, CAST(least(3, nn.n) AS BIGINT) AS n_removed,
                agg.n_rest, agg.n_components, agg.largest,
                CASE WHEN agg.n_rest > 0 THEN round(
                  CAST(agg.largest AS DOUBLE) / CAST(agg.n_rest AS DOUBLE), 6)
                END AS largest_share
         FROM agg CROSS JOIN nn"""),
    // q361: one unpivot, exact per-arm moments, cleared-denominator
    // sample variances, pooled sd and smd from the unrounded doubles
    "q361_smd_balance" ->
      """WITH u AS (
           SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 't' ELSE 'c' END AS g,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acct_cents,
                  CAST(length(c_name) AS BIGINT) AS name_len,
                  CAST(c_nationkey AS BIGINT) AS nation
           FROM customer
         ), r AS (
           SELECT g, 'acct_cents' AS covariate, acct_cents AS x FROM u
           UNION ALL SELECT g, 'name_len', name_len FROM u
           UNION ALL SELECT g, 'nation', nation FROM u
         ), a AS (
           SELECT covariate,
                  CAST(sum(CASE WHEN g = 't' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                  CAST(sum(CASE WHEN g <> 't' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                  CAST(sum(CASE WHEN g = 't' THEN x ELSE 0 END) AS BIGINT) AS st,
                  CAST(sum(CASE WHEN g <> 't' THEN x ELSE 0 END) AS BIGINT) AS sc,
                  sum(CASE WHEN g = 't' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qt,
                  sum(CASE WHEN g <> 't' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qc
           FROM r WHERE x IS NOT NULL GROUP BY 1
         ), m AS (
           SELECT covariate, n_t, n_c,
                  CAST(st AS DOUBLE) / CAST(n_t AS DOUBLE) AS mt,
                  CAST(sc AS DOUBLE) / CAST(n_c AS DOUBLE) AS mc,
                  sqrt((CAST(n_t * qt - CAST(st AS HUGEINT) * st AS DOUBLE)
                          / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1.0))
                        + CAST(n_c * qc - CAST(sc AS HUGEINT) * sc AS DOUBLE)
                          / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1.0))) / 2.0::DOUBLE) AS sdp
           FROM a
         )
         SELECT covariate, n_t, n_c,
                round(mt, 6) AS mean_t, round(mc, 6) AS mean_c,
                CASE WHEN n_t > 1 AND n_c > 1 THEN round(sdp, 6) END AS sd_pooled,
                CASE WHEN n_t > 1 AND n_c > 1 AND sdp > 0 THEN
                  round((mt - mc) / sdp, 6) END AS smd
         FROM m ORDER BY covariate""",
    // q362: the q296 pooled tiling with per-(value, arm) counts; the
    // uplift term is one double expression of exact cumulative longs
    "q362_qini" ->
      """WITH b AS (
           SELECT round(least(value / 200.0, 1.0), 6) AS s,
                  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL
         ), pv AS (
           SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(t) AS BIGINT) AS nt,
                  CAST(sum(t * y) AS BIGINT) AS ct,
                  CAST(sum((1 - t) * y) AS BIGINT) AS cc
           FROM b GROUP BY 1
         ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pv),
         pw AS (
           SELECT s, cnt, nt, ct, cc,
                  COALESCE(CAST(sum(cnt) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
           FROM pv
         ), tl AS (
           SELECT least((cb * 10) // (SELECT n FROM tot), 9) AS tile,
                  nt, cnt - nt AS nc, ct, cc
           FROM pw
         ), g AS (
           SELECT tile, CAST(sum(nt) AS BIGINT) AS n_t, CAST(sum(nc) AS BIGINT) AS n_c,
                  CAST(sum(ct) AS BIGINT) AS conv_t, CAST(sum(cc) AS BIGINT) AS conv_c
           FROM tl GROUP BY 1
         ), c AS (
           SELECT tile, n_t, n_c, conv_t, conv_c,
                  CAST(sum(n_t) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n_t,
                  CAST(sum(n_c) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n_c,
                  CAST(sum(conv_t) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cct,
                  CAST(sum(conv_c) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccc
           FROM g
         )
         SELECT tile, n_t, n_c, conv_t, conv_c, cum_n_t, cum_n_c,
                CASE WHEN cum_n_c > 0 THEN round(
                  CAST(cct AS DOUBLE) - CAST(ccc AS DOUBLE)
                    * CAST(cum_n_t AS DOUBLE) / CAST(cum_n_c AS DOUBLE), 6)
                END AS cum_uplift
         FROM c ORDER BY tile""",
    // q363: exact per-arm moments, Σ(x−Ry)² expanded over them, the
    // same operator association as the Spark side
    "q363_ratio_metric" ->
      """WITH per AS (
           SELECT user_id,
                  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END), 0) AS BIGINT) AS x,
                  CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1
         ), g AS (
           SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                  CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS sum_x_t,
                  CAST(sum(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS BIGINT) AS sum_y_t,
                  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) AS BIGINT) AS sum_x_c,
                  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN y ELSE 0 END) AS BIGINT) AS sum_y_c,
                  sum(CASE WHEN user_id % 2 = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qxxt,
                  sum(CASE WHEN user_id % 2 = 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS qyyt,
                  sum(CASE WHEN user_id % 2 = 0 THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS qxyt,
                  sum(CASE WHEN user_id % 2 <> 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qxxc,
                  sum(CASE WHEN user_id % 2 <> 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS qyyc,
                  sum(CASE WHEN user_id % 2 <> 0 THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS qxyc
           FROM per
         ), m AS (
           SELECT *,
                  CAST(sum_x_t AS DOUBLE) / CAST(sum_y_t AS DOUBLE) AS rt,
                  CAST(sum_x_c AS DOUBLE) / CAST(sum_y_c AS DOUBLE) AS rc
           FROM g
         ), m2 AS (
           SELECT *,
                  sqrt(greatest(CAST(qxxt AS DOUBLE) - 2.0::DOUBLE * rt * CAST(qxyt AS DOUBLE)
                       + rt * rt * CAST(qyyt AS DOUBLE), 0.0::DOUBLE)
                    * (CAST(n_t AS DOUBLE) / (CAST(n_t AS DOUBLE) - 1.0)))
                    / CAST(sum_y_t AS DOUBLE) AS set_,
                  sqrt(greatest(CAST(qxxc AS DOUBLE) - 2.0::DOUBLE * rc * CAST(qxyc AS DOUBLE)
                       + rc * rc * CAST(qyyc AS DOUBLE), 0.0::DOUBLE)
                    * (CAST(n_c AS DOUBLE) / (CAST(n_c AS DOUBLE) - 1.0)))
                    / CAST(sum_y_c AS DOUBLE) AS sec_
           FROM m
         )
         SELECT n_t, n_c, sum_x_t, sum_y_t, sum_x_c, sum_y_c,
                CASE WHEN sum_y_t > 0 THEN round(rt, 6) END AS ratio_t,
                CASE WHEN sum_y_c > 0 THEN round(rc, 6) END AS ratio_c,
                CASE WHEN n_t > 1 AND n_c > 1 AND sum_y_t > 0 AND sum_y_c > 0
                  THEN round(rt - rc, 6) END AS diff,
                CASE WHEN n_t > 1 AND n_c > 1 AND sum_y_t > 0 AND sum_y_c > 0
                  THEN round(set_, 6) END AS se_t,
                CASE WHEN n_t > 1 AND n_c > 1 AND sum_y_t > 0 AND sum_y_c > 0
                  THEN round(sec_, 6) END AS se_c,
                CASE WHEN n_t > 1 AND n_c > 1 AND sum_y_t > 0 AND sum_y_c > 0
                       AND (set_ * set_ + sec_ * sec_) > 0
                  THEN round((rt - rc) / sqrt(set_ * set_ + sec_ * sec_), 6) END AS z
         FROM m2""",
    // q364: two filtered top-90 chains, one full-outer edge join
    "q364_graph_churn" ->
      """WITH biA AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE l.l_shipdate < TIMESTAMP '1998-06-01'
         ), prA AS (
           SELECT x.i AS pa, y.i AS pb, count(*) AS c
           FROM biA x JOIN biA y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2
         ), tA AS MATERIALIZED (
           SELECT pa, pb FROM prA ORDER BY c DESC, pa, pb LIMIT 90
         ), biB AS (
           SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE l.l_shipdate >= TIMESTAMP '1998-06-01'
         ), prB AS (
           SELECT x.i AS pa, y.i AS pb, count(*) AS c
           FROM biB x JOIN biB y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2
         ), tB AS MATERIALIZED (
           SELECT pa, pb FROM prB ORDER BY c DESC, pa, pb LIMIT 90
         ), f AS (
           SELECT ta.pa IS NOT NULL AS ia, tb.pa IS NOT NULL AS ib
           FROM tA ta FULL OUTER JOIN tB tb ON tb.pa = ta.pa AND tb.pb = ta.pb
         ), agg AS (
           SELECT CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS edges_a,
                  CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS edges_b,
                  CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS kept,
                  CAST(sum(CASE WHEN NOT ia THEN 1 ELSE 0 END) AS BIGINT) AS added,
                  CAST(sum(CASE WHEN NOT ib THEN 1 ELSE 0 END) AS BIGINT) AS removed,
                  CAST(count(*) AS BIGINT) AS un
           FROM f
         ), na AS (
           SELECT CAST(count(DISTINCT nd) AS BIGINT) AS c
           FROM (SELECT pa AS nd FROM tA UNION SELECT pb FROM tA)
         ), nb AS (
           SELECT CAST(count(DISTINCT nd) AS BIGINT) AS c
           FROM (SELECT pa AS nd FROM tB UNION SELECT pb FROM tB)
         )
         SELECT agg.edges_a, agg.edges_b, agg.kept, agg.added, agg.removed,
                CASE WHEN agg.un > 0 THEN
                  round(CAST(agg.kept AS DOUBLE) / CAST(agg.un AS DOUBLE), 6)
                END AS jaccard,
                na.c AS nodes_a, nb.c AS nodes_b
         FROM agg CROSS JOIN na CROSS JOIN nb""",
    // q365: doubled tie-averaged ranks via the same two windows, exact
    // HUGEINT 4S and tie terms, one double divide
    "q365_kendall_w" ->
      """WITH base AS (
           SELECT CAST(doc_id AS VARCHAR) AS it,
                  CAST(n_chars AS DOUBLE) AS chars,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS a
           FROM documents
         ), r AS (
           SELECT it, 'chars' AS rt, chars AS v FROM base
           UNION ALL SELECT it, 'tokens', CAST(len(a) AS DOUBLE) FROM base
           UNION ALL SELECT it, 'types', CAST(len(list_distinct(a)) AS DOUBLE) FROM base
         ), pv AS (
           SELECT rt, v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
         ), rkv AS (
           SELECT rt, v,
                  2 * COALESCE(sum(c) OVER (PARTITION BY rt ORDER BY v DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + c + 1 AS r2
           FROM pv
         ), per AS (
           SELECT r.it, CAST(sum(rkv.r2) AS HUGEINT) AS r2
           FROM r JOIN rkv ON rkv.rt = r.rt AND rkv.v = r.v GROUP BY 1
         ),
         mn AS (
           SELECT CAST(count(DISTINCT rt) AS BIGINT) AS m,
                  CAST(count(DISTINCT it) AS BIGINT) AS n
           FROM r
         ), s4 AS (
           SELECT sum((per.r2 - mn.m * (mn.n + 1)) * (per.r2 - mn.m * (mn.n + 1))) AS s4
           FROM per CROSS JOIN mn
         ), t AS (
           SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS tt
           FROM (SELECT rt, v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2)
         )
         SELECT mn.m AS m_raters, mn.n AS n_items,
                round(CAST(s4.s4 AS DOUBLE) / 4.0, 6) AS s,
                round(3.0::DOUBLE * CAST(s4.s4 AS DOUBLE)
                      / (CAST(mn.m AS DOUBLE) * mn.m
                           * (CAST(mn.n AS DOUBLE) * mn.n * mn.n - mn.n)
                         - CAST(mn.m AS DOUBLE) * CAST(t.tt AS DOUBLE)), 6) AS w
         FROM mn CROSS JOIN s4 CROSS JOIN t""",
    // q366: exact micro-unit covariance cells, 8 unrolled power-
    // iteration rounds with 12dp-decimal matvec/norm sums and 12dp
    // component re-rounds — the driver loop's arithmetic verbatim
    "q366_top_component" -> {
      val rounds = (1 to 8).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s""", w$k AS MATERIALIZED (
             SELECT c.i, CAST(sum(CAST(round(c.cv * v.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS w
             FROM cov c JOIN $prev v ON v.i = c.j GROUP BY 1
           ), n$k AS (
             SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(24,12))) AS DOUBLE)) AS nm
             FROM w$k
           ), v$k AS MATERIALIZED (
             SELECT i, round(w / (SELECT nm FROM n$k), 12) AS v FROM w$k)"""
      }.mkString
      s"""WITH x AS (
           SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
                  CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xv
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
           WHERE embedding IS NOT NULL
         ), nn AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
           WHERE embedding IS NOT NULL
         ), sums AS (
           SELECT i, CAST(sum(xv) AS BIGINT) AS s FROM x GROUP BY 1
         ), cells AS (
           SELECT a.i, b.i AS j, sum(CAST(a.xv AS HUGEINT) * b.xv) AS cij
           FROM x a JOIN x b ON b.vec_id = a.vec_id GROUP BY 1, 2
         ), cov AS MATERIALIZED (
           SELECT c.i, c.j,
                  round(CAST(nn.n * c.cij - CAST(sa.s AS HUGEINT) * sb.s AS DOUBLE)
                        / (CAST(nn.n AS DOUBLE) * nn.n * 1000000000000.0), 12) AS cv
           FROM cells c JOIN sums sa ON sa.i = c.i JOIN sums sb ON sb.i = c.j
           CROSS JOIN nn
         ), dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM sums),
         v0 AS MATERIALIZED (
           SELECT i, round(1.0::DOUBLE / sqrt((SELECT CAST(d AS DOUBLE) FROM dd)), 12) AS v
           FROM sums)
         $rounds
         , wf AS (
           SELECT c.i, CAST(sum(CAST(round(c.cv * v.v, 12) AS DECIMAL(24,12))) AS DOUBLE) AS w
           FROM cov c JOIN v8 v ON v.i = c.j GROUP BY 1
         ), lam AS (
           SELECT CAST(sum(CAST(round(v.v * w.w, 12) AS DECIMAL(24,12))) AS DOUBLE) AS l
           FROM v8 v JOIN wf w ON w.i = v.i
         ), tr AS (
           SELECT CAST(sum(CAST(cv AS DECIMAL(24,12))) AS DOUBLE) AS t
           FROM cov WHERE i = j
         )
         SELECT nn.n AS n, dd.d AS dim,
                round(lam.l, 6) AS lambda1, round(tr.t, 6) AS trace,
                CASE WHEN tr.t > 0 THEN round(lam.l / tr.t, 6) END AS top_share
         FROM nn CROSS JOIN dd CROSS JOIN lam CROSS JOIN tr"""
    },
    "q26_vector_knn" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.qv AS DOUBLE[])), 6) AS sim
         FROM embeddings e, q
         ORDER BY sim DESC, e.vec_id
         LIMIT 10"""
  )
}
