package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale rehearsals: one main, one subcommand per operator family whose
 * gate fixture cannot show its scale behaviour. Every subcommand runs in
 * the shared [[Graft.localSession]] (`SPARK_GRAFT_CPUS` cores), times
 * with [[minOfReps]] and renders JSON numbers with the locale-safe
 * [[BenchFormat.fmt]].
 *
 * Usage: runMain graft.Rehearse <ann|pivot|stream|density|phash> args...
 *  - ann [scaleGenDir]
 *  - pivot [n] [maxHops] [k1,k2,...] [reps]
 *  - stream [batchRows] [batches] [tokensPerDoc] [shufflePartitions]
 *  - density [n1,n2,...] [famSize] [reps] [families]
 *  - phash [n1,n2,...] [famSize] [reps] [bandedCap]
 */
object Rehearse {
  private val subcommands: Map[String, (SparkSession, Seq[String]) => Unit] =
    Map("ann" -> ann, "pivot" -> pivot, "stream" -> stream,
      "density" -> density, "phash" -> phash)

  def main(args: Array[String]): Unit = {
    val run = args.headOption.flatMap(subcommands.get).getOrElse(
      throw new IllegalArgumentException("usage: Rehearse <" +
        subcommands.keys.toSeq.sorted.mkString("|") + "> args..."))
    val spark = Graft.localSession("rehearse")
    try run(spark, args.toSeq.tail) finally spark.stop()
  }

  /** Wall seconds of one evaluation of `f`, with its result. */
  private def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** `reps` timed runs of `f`: the fastest run's seconds and every run's
    * result, in run order. */
  private def minOfReps[T](reps: Int)(f: => T): (Double, Seq[T]) = {
    val runs = (1 to reps).map(_ => timed(f))
    (runs.map(_._1).min, runs.map(_._2))
  }

  /**
   * sf1 ANN-recall rehearsal (BASELINE.md "ANN contract floors" caveat):
   * runs the three recall reports (IVF / PQ / graph) on a scaled fixture
   * TWICE — once with the gate-frozen index parameters (what the sf0.1
   * gates hardcode) and once with the index sized per its OWN documented
   * scale contract:
   *
   *  - IVF: gate params carry as-is — cell count is a recall/scan-fraction
   *    trade, not a per-row budget, so nlist=8 is run for both rows.
   *  - PQ: codebook capacity must grow with the corpus (the gate's
   *    k=16/subspace was sized for 2k vectors); scaled row uses k=64.
   *  - graph: the shard count is the contract knob — `graphBuild`'s
   *    Scaladoc sizes `shards ≈ corpus / targetShardRows` with per-shard
   *    rows HELD CONSTANT (a fixed beam cannot search a 10× shard at the
   *    same recall); scaled row uses shards = ceil(n / 500), matching the
   *    sf0.1 gate's ~500-row shards.
   *
   * Prints ONE JSON line with every (param, recall, cost-fraction) row so
   * BASELINE.md can record both the contract-sized floors and the
   * frozen-param degradation curve. Exercised against both ScaleGen
   * geometries ("clustered" = production rehearsal, "hash" = adversarial
   * isotropic twin).
   */
  private def ann(spark: SparkSession, args: Seq[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sf1c")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val n = embs.count()
    val scaledShards = math.ceil(n / 500.0).toInt

    // index-BUILD cost, each family timed in isolation at its
    // contract-scaled params (the recall reports below rebuild
    // internally; these are the clean build-only numbers a capacity
    // plan needs): IVF = k-means train + cell assignment over the
    // corpus; PQ = driver Lloyd per subspace over ≤262k train rows
    // (the documented hashSample contract caps this at scale); graph =
    // per-shard Vamana with ~targetShardRows rows per shard, shard
    // count carrying the corpus growth
    val ivfBuildSec = timed {
      val m = graft.vector.VectorSearch.ivfTrain(embs, "embedding", nlist = 8)
      graft.vector.VectorSearch.ivfIndex(embs, m, "embedding").count()
    }._1
    val pqBuildSec = timed {
      graft.vector.VectorSearch.pqTrainCapped(embs, "vec_id", "embedding",
        m = 8, k = 64)
    }._1
    val graphBuildSec = timed {
      graft.vector.GraphAnn.graphBuild(embs, "vec_id", "embedding",
        shards = scaledShards, maxDegree = 8, efConstruction = 24).count()
    }._1

    def j1(v: Double): String = BenchFormat.fmt(v, 1)

    def fmt3(rows: Seq[(Any, Double, Double)]): String = rows
      .map { case (p, r, f) => s"""[$p,$r,$f]""" }.mkString("[", ",", "]")

    val ivf = graft.vector.VectorSearch.ivfRecallReport(embs, "vec_id",
        "embedding", java.nio.file.Files.createTempDirectory("annscale").toString + "/emb",
        queryIds = 0L until 8L, nprobes = Seq(1, 2, 4, 8), topK = 10, nlist = 8)
      .orderBy("nprobe").collect()
      .map(r => (r.getInt(0): Any, r.getDouble(1), r.getDouble(2))).toSeq

    def pq(k: Int) = graft.vector.VectorSearch.pqRecallReport(embs, "vec_id",
        "embedding", queryIds = 0L until 8L, rerankFactors = Seq(1, 2, 8, 20),
        topK = 10, m = 8, k = k)
      .orderBy("rerank_factor").collect()
      .map(r => (r.getInt(0): Any, r.getDouble(1), r.getDouble(2))).toSeq

    def graph(shards: Int) = graft.vector.GraphAnn.graphRecallReport(embs,
        "vec_id", "embedding", queryIds = Seq(3L, 7L, 11L),
        efs = Seq(8, 32, 128), topK = 10, shards = shards, maxDegree = 8,
        efConstruction = 24)
      .orderBy("ef_search").collect()
      .map(r => (r.getInt(0): Any, r.getDouble(1), r.getDouble(2))).toSeq

    val out = s"""{"dir":"$dir","n":$n,"scaled_shards":$scaledShards,""" +
      s""""build_sec":{"ivf_nlist8":${j1(ivfBuildSec)},"pq_m8_k64":${j1(pqBuildSec)},"graph_scaled":${j1(graphBuildSec)}},""" +
      s""""ivf_nlist8":${fmt3(ivf)},""" +
      s""""pq_frozen_k16":${fmt3(pq(16))},"pq_scaled_k64":${fmt3(pq(64))},""" +
      s""""graph_frozen_sh4":${fmt3(graph(4))},""" +
      s""""graph_scaled":${fmt3(graph(scaledShards))}}"""
    println(out)
  }

  /**
   * Scale rehearsal for [[operators.GraphOps.betweenness]]'s Brandes-pivot
   * knob (`sources`): on a graph big enough that the DISTRIBUTED regime's
   * pair-composition join dominates, wall time must scale with
   * |pivots|·n-shaped pair mass, not n² — the contract that makes exact
   * betweenness usable at real scale (sample sources, scale the published
   * sum by n/(2|S|) caller-side).
   *
   * Fixture: deterministic ring+chord graph — node i joins i+1 (mod n) and
   * 7i+3 (mod n), so the graph is connected, degree ≈ 4, and reach within
   * `maxHops` is a constant r ≈ Σ 4^h independent of n. Composition mass at
   * pivot count k is then ≈ r²·k (each node v is reached by ~r·k/n pivots
   * and reaches ~r targets, summed over n nodes) — linear in k with a
   * fixed BFS floor, which is exactly what the harness should read.
   *
   * Prints one JSON line per pivot count: min-of-`reps` seconds.
   */
  private def pivot(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(4096)
    val maxHops = args.lift(1).map(_.toInt).getOrElse(3)
    val ks = args.lift(2).getOrElse("64,256,1024,4096")
      .split(",").toSeq.map(_.trim.toInt)
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    def nm(i: Long): String = f"n$i%07d"
    val edges = spark.range(n)
      .select(col("id"), pmod(col("id") + 1, lit(n.toLong)).as("r"),
        pmod(col("id") * 7 + 3, lit(n.toLong)).as("c"))
      .selectExpr(s"id", "stack(2, r, c) as dst")
      .select(udf(nm _).apply(col("id")).as("src"),
        udf(nm _).apply(col("dst")).as("dst"))
      .localCheckpoint(true)
    val edgeCount = edges.count()
    // JVM warm-up: one tiny all-sources run off the clock
    operators.GraphOps.betweenness(
      edges.where(col("src") < nm(64) && col("dst") < nm(64)),
      maxHops = maxHops, maxLocalEdges = 0).count()
    ks.foreach { k =>
      require(k >= 1 && k <= n, s"pivot count $k out of [1,$n]")
      val pivots = (0 until k).map(i => nm(i.toLong))
      val (sec, _) = minOfReps(reps) {
        val out = operators.GraphOps.betweenness(edges, maxHops = maxHops,
          maxLocalEdges = 0, // force the distributed regime
          sources = if (k == n) None else Some(pivots))
        val rows = out.count()
        require(rows == n.toLong, s"expected $n node rows, got $rows")
      }
      val label = if (k == n) "all(exact)" else k.toString
      println(s"""{"family":"betweenness_pivots","n":$n,"edges":$edgeCount,""" +
        s""""max_hops":$maxHops,"pivots":"$label","sec":${BenchFormat.fmt(sec, 2)}}""")
      System.out.flush()
    }
  }

  /**
   * Per-micro-batch cost curve for the streaming near-dup path (the q88/
   * q111 adjudication, measured): feeds `batches` parquet files of a FIXED
   * `batchRows` size through [[pipeline.Dedup.dedupStreamNear]] with
   * maxFilesPerTrigger=1, then reads the per-batch `triggerExecution`
   * durations off the query progress log. The dedup state (band-bucket →
   * min-id) grows with every batch; if per-batch latency stays flat as the
   * accumulated corpus grows — batch 16 no slower than batch 2 — the
   * "state is bounded per key, wall time is harness orchestration"
   * adjudication is a measured curve, not a claim.
   *
   * Corpus is synthesized adversarially for STATE (hash-random token
   * text, ~no near-dups, so every doc's bands enter the state store and
   * state size is maximal ≈ bands·docs keys); a production corpus with
   * real duplicate mass carries strictly less state.
   *
   * The per-batch record also carries Spark's own duration BREAKDOWN
   * (queryPlanning / addBatch / walCommit / commitOffsets / latestOffset)
   * and the state operators' commit times, so the "orchestration floor"
   * is a decomposition, not a single opaque number — WHICH fixed cost
   * dominates (incremental re-planning, state-store commits, offset-log
   * fsyncs, or the work itself) is readable off the line. arg 4 sets
   * `spark.sql.shuffle.partitions` (= state-store partition count, fixed
   * at checkpoint creation): comparing partitions=32 vs 4 at the same
   * batch size measures how much of the floor is per-partition state
   * machinery — the sizing lever DEPLOY.md's streaming recipe exposes
   * for real clusters (state partitions sized to state, not defaulted).
   *
   * Prints ONE JSON line: per-batch durations (ms) in batch order.
   */
  private def stream(spark: SparkSession, args: Seq[String]): Unit = {
    val batchRows = args.lift(0).map(_.toInt).getOrElse(2500)
    val batches = args.lift(1).map(_.toInt).getOrElse(16)
    val tokens = args.lift(2).map(_.toInt).getOrElse(40)
    val shufflePartitions = args.lift(3).map(_.toInt).getOrElse(32)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    val base = java.nio.file.Files.createTempDirectory("streamscale").toString
    val feed = base + "/feed"
    // one file per batch, mtimes ascending so maxFilesPerTrigger=1
    // replays them in batch order; timestamps inside a 1000 s window so
    // the 6 h watermark never evicts mid-run (the q88 construction)
    val t0 = 1700000000000L
    (0 until batches).foreach { b =>
      spark.range(b.toLong * batchRows, (b + 1).toLong * batchRows)
        .select(col("id").as("doc_id"),
          expr(s"""concat_ws(' ', transform(sequence(0, ${tokens - 1}),
            j -> concat('t', pmod(xxhash64(id, j), 5000))))""").as("text"),
          timestamp_seconds(lit(1767225600L) + pmod(col("id"), lit(1000)))
            .as("ts"))
        .coalesce(1).write.mode("append").parquet(feed)
      val dir = new java.io.File(feed)
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .filter(_.lastModified() > t0 + b.toLong * 60000L)
        .foreach(f => { f.setLastModified(t0 + b.toLong * 60000L): Unit })
    }
    val schema = spark.read.parquet(feed).schema
    val input = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = pipeline.Dedup.dedupStreamNear(input, "text", "ts",
        watermark = "6 hours", shingleN = 3, k = 12, bands = 4,
        oracleHash = true)
      .select("doc_id")
      .writeStream.format("memory").queryName("streamscale_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val finished = q.awaitTermination(600000)
    require(finished, "streamscale: query did not finish within 600 s")
    // durationMs keys vary by phase; missing → 0 so rows stay rectangular
    val phases = Seq("triggerExecution", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets", "latestOffset")
    val prog = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map { p =>
        val d = phases.map(k => Option(p.durationMs.get(k))
          .map(_.longValue).getOrElse(0L))
        val stateCommit = p.stateOperators.toSeq.map(_.commitTimeMs).sum
        (p.batchId, d, stateCommit, p.numInputRows)
      }
    q.stop()
    val survivors = spark.table("streamscale_mem").count()
    val durs = prog.sortBy(_._1)
      .map { case (b, d, sc, r) =>
        s"""[$b,${d.mkString(",")},$sc,$r]""" }.mkString("[", ",", "]")
    println(s"""{"family":"stream_neardup_batches","batch_rows":$batchRows,""" +
      s""""batches":$batches,"shuffle_partitions":$shufflePartitions,""" +
      s""""survivors":$survivors,""" +
      s""""per_batch_cols":"[id,${phases.mkString(",")},stateCommitMs,rows]",""" +
      s""""per_batch":$durs}""")
  }

  /**
   * Constant-cluster-density scale rehearsal for the caveat families
   * whose GATE fixtures densify by construction (BASELINE.md "Standing
   * caveats"): the [[phash]] pattern — scale rows while holding
   * cluster/block density constant, the regime a real corpus lives in —
   * generalized beyond images:
   *
   *  - `semantic` (q116 class): n/famSize planted clusters, each a fresh
   *    xxhash64-random 64-dim centroid with famSize members at small
   *    deterministic perturbations (within-cluster cosine ≈ 1, cross ≈ 0
   *    for random directions). Measures [[pipeline.Dedup.cosinePairsWithin]]
   *    — the verify-join core of semanticPairs — at constant density;
   *    expected pairs exactly (n/fam)·C(fam,2), linear in n. (The medoid
   *    GATE model keeps its fixed-label construction for oracle
   *    replayability; assignment cost O(n·k·d) is the caller's stated
   *    knob, not what the caveat was about.)
   *  - `cluster` (q105 class): the phash hamming-2 family corpus fed
   *    through pairs → [[pipeline.Dedup.dedupClusters]] — the connected-
   *    components capstone after the (already-measured-linear) blocked
   *    pair step; expected components exactly n/famSize.
   *  - `grid` (q273 class): planted blobs on a lattice that grows with n,
   *    through [[operators.Clustering.gridDbscan]]; expected components
   *    exactly n/famSize.
   *  - `entity` (q138 class): names with GROWING diversity — each family
   *    of famSize ids shares a hash-random 8-char stem (base-26 of
   *    xxhash64) and members differ in one suffix char, so
   *    [[pipeline.EntityMatch.nameMatchBlocked]] at prefixLen=4 keeps
   *    block density constant (the fixture's fixed syllable space was the
   *    quadratic artifact). Within-family JW ≥ 0.96 > 0.9 threshold;
   *    cross-family stems collide on a 4-char prefix only at birthday
   *    rates, so pairs ≈ (n/fam)·C(fam,2) (asserted within 5%).
   */
  private def density(spark: SparkSession, args: Seq[String]): Unit = {
    val sizes = args.lift(0).getOrElse("60000,200000,600000")
      .split(",").toSeq.map(_.trim.toLong)
    val famSize = args.lift(1).map(_.toInt).getOrElse(20)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val families = args.lift(3).getOrElse("semantic,cluster,entity")
      .split(",").toSet
    require(famSize >= 2 && famSize <= 64, "famSize in [2,64]")

    val dim = 64
    // famSize members around a fresh random centroid per family: member
    // j perturbs ONE coordinate (j mod dim) of the family centroid by a
    // small epsilon — cosine(members) ≈ 1 ≫ 0.4, cross-family ≈ 0
    def semanticCorpus(n: Long): DataFrame = {
      val fam = expr(s"id div $famSize")
      spark.range(n).select(col("id"),
        expr(s"""transform(sequence(0, ${dim - 1}), i ->
            cast(cast(pmod(xxhash64('c', id div $famSize, i), 2001) - 1000 as double)
                 / 1000.0
               + if(i = cast(id % $dim as int), 0.05, 0.0) as float))""")
          .as("v"),
        fam.as("cluster"))
    }

    // 8-char base-26 stem per family (diversity grows with n), one
    // distinct lowercase suffix char per member: length 9 everywhere,
    // within-family JW = (8/9+8/9+1)/3 + winkler boost ≈ 0.977
    def entityCorpus(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        expr(s"""concat(
            concat_ws('', transform(sequence(0, 7), i ->
              char(97 + cast(pmod(xxhash64('s', id div $famSize, i), 26) as int)))),
            char(97 + cast(id % $famSize as int) % 26))""").as("nm"))

    val results = sizes.flatMap { n =>
      val expectPairs = (n / famSize) * (famSize.toLong * (famSize - 1) / 2)
      val runsFor = Seq(
        "semantic" -> (() => {
          val df = semanticCorpus(n).localCheckpoint(true)
          val r = (() => pipeline.Dedup
            .cosinePairsWithin(df, "cluster", "id", "v", threshold = 0.4)
            .count())
          (r, () => df.unpersist(false), expectPairs, expectPairs)
        }),
        "cluster" -> (() => {
          val df = hammingCorpus(spark, n, famSize).localCheckpoint(true)
          val r = (() => {
            val pairs = pipeline.Dedup.hammingPairsBlocked(
              df, "id", "hi", "lo", maxHamming = 2)
            pipeline.Dedup.dedupClusters(
                df.select(col("id")), "id", pairs, "a", "b")
              .select(col("component")).distinct().count()
          })
          (r, () => df.unpersist(false), n / famSize, n / famSize)
        }),
        // n/famSize planted 5x4 blobs (all famSize points pairwise within
        // eps=5 -> all core, EXACTLY one component each), blob origins on
        // a 1000-spaced lattice that GROWS with n — per-cell occupancy is
        // constant by construction, the honest geometry for the q273
        // gate's fixed-50-squares fixture (which densifies ~n^2 pair mass
        // at growing SF by design)
        "grid" -> (() => {
          val df = spark.range(n).select(col("id"),
              expr(s"((id div $famSize) % 1000) * 1000 + (id % $famSize) % 5")
                .as("x"),
              expr(s"((id div $famSize) div 1000) * 1000 + (id % $famSize) div 5")
                .as("y"))
            .localCheckpoint(true)
          val r = (() => operators.Clustering
            .gridDbscan(df, "id", "x", "y", eps = 5, minPts = 4)
            .where(col("component").isNotNull)
            .select(col("component")).distinct().count())
          (r, () => df.unpersist(false), n / famSize, n / famSize)
        }),
        "entity" -> (() => {
          val df = entityCorpus(n).localCheckpoint(true)
          val r = (() => pipeline.EntityMatch
            .nameMatchBlocked(df, "id", "nm", minSim = 0.9, prefixLen = 4)
            .count())
          // prefix-4 birthday collisions add a small surplus; bound 5%
          (r, () => df.unpersist(false), expectPairs,
            (expectPairs * 1.05).toLong)
        }))
      runsFor.filter(f => families(f._1)).map { case (name, mk) =>
        val (run, cleanup, lo, hi) = mk()
        // rounds of the distributed CC loop inside each run (0 = no CC
        // or the driver union-find regime) — decomposes any ≥linear
        // exponent: at constant density the per-round cost is linear,
        // so the residual must live in the ROUND COUNT, and this
        // column says whether it grows like O(log n) (fine at 100 TB)
        // or worse (not)
        val (dt, runs) = minOfReps(reps) {
          pipeline.Dedup.lastCcRounds.set(0)
          val out = run()
          (out, pipeline.Dedup.lastCcRounds.get)
        }
        cleanup()
        val out = runs.head._1
        if (out < lo || out > hi)
          System.err.println(
            s"[density-scale] WARNING $name n=$n out=$out expected=[$lo,$hi]")
        val rounds = runs.map(_._2).max
        System.err.println(
          f"[density-scale] $name n=$n out=$out $dt%.2f s cc_rounds=$rounds")
        (name, n, dt, out, rounds)
      }
    }
    val js = results.map { case (name, n, dt, p, rounds) =>
      s"""{"family":"$name","n":$n,"out":$p,"sec":${BenchFormat.fmt(dt, 3)},"cc_rounds":$rounds}"""
    }.mkString("[", ",", "]")
    println(s"""{"rehearsal":"density","famSize":$famSize,"reps":$reps,"results":$js}""")
  }

  /** `n` ids in families of `famSize`: each family a fresh xxhash64-random
    * 64-bit (hi, lo) pattern, each member flipping one distinct low bit,
    * so members sit pairwise at hamming 2 and families ≈ 32 apart. */
  private def hammingCorpus(spark: SparkSession, n: Long,
      famSize: Int): DataFrame = {
    val fam = floor(col("id") / famSize)
    spark.range(n).select(col("id"),
      xxhash64(lit("hi"), fam).as("hi"),
      xxhash64(lit("lo"), fam)
        .bitwiseXOR(expr(s"shiftleft(1L, cast(id % $famSize as int))"))
        .as("lo"))
  }

  /**
   * Scale rehearsal for the 64-bit perceptual-hash near-dup operators at
   * CONSTANT near-dup family density — the regime a real image corpus
   * lives in, where the q103–q105 gate fixture cannot go: `BmpCodec.bitOf`
   * draws from a fixed 256×64-pattern space (the price of a
   * DuckDB-recomputable closed form), so past ~16k images pigeonhole
   * inflates family sizes and pair mass grows quadratically BY FIXTURE
   * CONSTRUCTION, telling you nothing about the operators. Here every
   * family of `famSize` ids gets a fresh xxhash64-random 64-bit base
   * pattern (uniform → cross-family hamming ≈ 32) and each member flips
   * one distinct low bit — members sit pairwise at hamming 2, expected
   * output exactly n/famSize · C(famSize, 2) pairs, LINEAR in n.
   *
   * Compares `Dedup.hammingPairs64` (4×16-bit bands — exact but
   * birthday-bound: candidate mass O(n²/2¹⁶)) against
   * `Dedup.hammingPairsBlocked` (Manku-style C(6,3)-table ~32-bit block
   * keys — exact with candidate mass O(n²/2³²)). Per size prints pair
   * count + wall for each variant; the banded variant is skipped above
   * `bandedCap` rows where its candidate mass is the known story and the
   * run would only burn the rehearsal budget re-proving it.
   */
  private def phash(spark: SparkSession, args: Seq[String]): Unit = {
    val sizes = args.lift(0).getOrElse("50000,500000,2000000,5000000")
      .split(",").toSeq.map(_.trim.toLong)
    val famSize = args.lift(1).map(_.toInt).getOrElse(20)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val bandedCap = args.lift(3).map(_.toLong).getOrElse(2000000L)
    require(famSize <= 64, "flips must stay inside the lo half")

    val results = sizes.flatMap { n =>
      // pin: exclude gen cost
      val df = hammingCorpus(spark, n, famSize).localCheckpoint(true)
      val expectPairs = (n / famSize) * (famSize.toLong * (famSize - 1) / 2)
      val variants: Seq[(String, () => DataFrame)] = Seq(
        "blocked" -> (() => pipeline.Dedup.hammingPairsBlocked(
          df, "id", "hi", "lo", maxHamming = 2)),
        "banded" -> (() => pipeline.Dedup.hammingPairs64(
          df, "id", "hi", "lo", maxHamming = 2)))
      val out = variants.filter(v => v._1 == "blocked" || n <= bandedCap)
        .map { case (name, mk) =>
          val (dt, counts) = minOfReps(reps)(mk().count())
          val nPairs = counts.head
          if (nPairs != expectPairs)
            System.err.println(
              s"[phash-scale] WARNING $name n=$n pairs=$nPairs expected=$expectPairs")
          System.err.println(f"[phash-scale] $name n=$n pairs=$nPairs $dt%.2f s")
          (name, n, dt, nPairs)
        }
      df.unpersist()
      out
    }
    val js = results.map { case (name, n, dt, p) =>
      s"""{"variant":"$name","n":$n,"pairs":$p,"sec":${BenchFormat.fmt(dt, 3)}}"""
    }.mkString("[", ",", "]")
    println(s"""{"rehearsal":"phash","famSize":$famSize,"reps":$reps,"results":$js}""")
  }
}
