package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import scala.util.control.NonFatal

/**
 * Column-level function library of the engine. Everything here is built
 * from `org.apache.spark.sql.functions._` (codegen'd by Catalyst) — no
 * Scala UDFs in the hot path.
 */
object GraftFunctions {

  /**
   * `let`-binding for Column expressions: evaluate `value` ONCE and bind it
   * as a lambda variable inside `body`. Emulated with a single-element
   * `transform`: `transform(array(v), x -> body(x))[1]`.
   *
   * Why it exists: Catalyst's CollapseProject decides inlining by LEXICAL
   * reference count, but a lambda body referencing an expression computes
   * it per element — `transform(seq(0,k), i -> f(expensive))` evaluates
   * `expensive` k times. Binding it to a lambda variable makes every use a
   * cheap variable read (measured 70 s → 3 s on the sf0.1 minhash bench).
   */
  def bind(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)

  /** Numeric-string order key: length-first then lexicographic, so
    * '2' < '10' (reference MatcherType.pkNumericString,
    * /root/reference/lib/src/handler/value_matcher.dart:121-148). */
  def numericStringOrder(c: Column): Seq[Column] = Seq(length(c), c)

  // ---------- vector math (SURVEY.md §2.10) ----------
  // Native codegen Expressions (graft.expr.VecDot/VecNormSq/VecDistSq):
  // the HOF formulation (aggregate ∘ zip_with) is CodegenFallback and
  // dominates O(N²) similarity joins; the kernels emit a primitive loop in
  // whole-stage codegen with the SAME left-to-right double accumulation
  // (oracle-parity preserved, verified by q26/q31/q32 hash-match).

  /** Column ⇄ Expression shorthands for kernel call sites (shared by the
    * pipeline packages — one idiom everywhere). */
  private[graft] def kcol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(e)
  private[graft] def kexp(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.Bridge.expression(c)

  /** Fan per-row kernel work out to the session's parallelism when the
    * upstream would otherwise run on fewer tasks. TESTDATA tables are
    * single-row-group parquet files, so their scans split to ONE task no
    * matter the split config — and every downstream per-row kernel
    * (minhash md5s, winnowing, codec synthesis, the exact-cosine pair
    * loop) serializes on one core of the whole machine (the optimization
    * guide's "input skew: one unsplittable file → repartition right
    * after the read"). At scale the scan already carries ≥ parallelism
    * partitions and this is a NO-OP — no shuffle is added; locally it is
    * one tiny round-robin exchange of the raw rows. Callers must be
    * order-free downstream (pair/bucket/aggregate shapes are). */
  private[graft] def fanOut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Probe the PRE-AQE physical plan: `toRdd` resolves the adaptive
    // executedPlan, and executing an AdaptiveSparkPlanExec eagerly
    // submits and awaits every upstream shuffle stage at construction
    // time — work that is then discarded and recomputed by the real
    // query (the r16 advisor's double-execution finding; harmless for
    // the bare-scan call sites here, a silent 2x for any caller that
    // feeds a shuffled/joined frame). sparkPlan.execute() only BUILDS
    // the RDD lineage (no job is submitted), so its partition count is
    // free; for post-shuffle plans it reports the configured shuffle
    // width, which is exactly the "would it be under-parallel" question
    // this helper asks. Unprobeable plans (e.g. streaming) pass through
    // unchanged — use [[spread]] for those.
    val parts =
      try df.queryExecution.sparkPlan.execute().getNumPartitions
      catch { case NonFatal(_) => target }
    if (parts < target) df.repartition(target) else df
  }

  /** Spread a NARROW relation whose rows each expand into heavy
    * downstream work — bucket rows exploding into O(|bucket|²) pairs,
    * candidate-pair rows each paying a merge-walk verify — across the
    * session's parallelism. AQE coalesces post-shuffle partitions by
    * BYTE size, blind to per-row expansion cost, so the heavy stage
    * lands on 1-6 tasks of a 32-core session (measured with
    * graft.JobProfile: q44's bucket-pair explode ran 3.1 s on ONE task;
    * q256's verify spent 15.8 s of task time on 6). A user-specified
    * round-robin repartition is exempt from AQE coalescing. Unlike
    * [[fanOut]] this is unconditional: the rows carried are the
    * lightweight PROXIES of the optimization guide's §8 (ids, bucket
    * lists), whose downstream per-row cost is orders of magnitude above
    * their byte size — the tiny exchange is the right trade at any
    * scale, and at scale it also breaks up residual bucket skew. Width
    * follows the session's shuffle-partition setting (never below the
    * core count), so a production config keeps its tuned width. */
  private[graft] def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val p = math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    df.repartition(p)
  }

  /** 52-bit md5 fraction numerator: byte-identical to
    * `conv(substring(md5(x), 1, 13), 16, 10).cast("long")` — one digest,
    * no hex-string round-trip. See [[graft.expr.Md5Frac52Expr]]. */
  def md5Frac52(x: Column): Column =
    kcol(graft.expr.Md5Frac52Expr(kexp(x)))

  /** dot(a, b) */
  def dotProduct(a: Column, b: Column): Column =
    kcol(graft.expr.VecDot(kexp(a), kexp(b)))

  /** ||a||₂ */
  def l2Norm(a: Column): Column = sqrt(kcol(graft.expr.VecNormSq(kexp(a))))

  /** Euclidean distance */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(kcol(graft.expr.VecDistSq(kexp(a), kexp(b))))

  /** cosine similarity ∈ [-1, 1] */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** cosine distance = 1 - similarity (reference default metric,
    * table_schema.dart:2511-2531) */
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)

  /** inner-product distance (larger dot = closer → negated) */
  def innerProductDistance(a: Column, b: Column): Column =
    -dotProduct(a, b)

  /** Normalized score ∈ [0,1] per metric, as the reference returns
    * alongside distance (query_result.dart:207-228). */
  def vectorScore(metric: String, distance: Column): Column = metric match {
    case "cosine"       => lit(1.0) - distance / lit(2.0) // dist ∈ [0,2] → [0,1]
    case "l2"           => lit(1.0) / (lit(1.0) + distance)
    case "innerProduct" => lit(1.0) / (lit(1.0) + exp(distance)) // sigmoid(-d) = sigmoid(dot)
    case m              => throw new IllegalArgumentException(s"unknown metric $m")
  }

  // ---------- text analysis (pipeline extras) ----------

  /** Whitespace tokens. `split` on \s+ after trim; empty text yields a
    * single empty token in both Spark and DuckDB (parity-checked). */
  /** Whitespace tokenization shared by every text gate. Parity caveat:
    * Java's `\s` additionally matches vertical tab (U+000B), which
    * RE2/DuckDB's `\s` does not — tokenization (and every downstream
    * hash gate) diverges on text containing U+000B. TESTDATA cannot emit
    * it; pin the class to `[ \t\n\f\r]` on BOTH engines if a real corpus
    * can. */
  def whitespaceTokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(whitespaceTokens(text))

  /** Normalize for fingerprinting: lowercase + collapse whitespace. */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic document fingerprint: md5 of the normalized text.
    * (md5 matches DuckDB's md5() for oracle parity; a rolling/polynomial
    * hash variant lives in pipeline.TextPipeline.) */
  def fingerprint(text: Column): Column =
    md5(normalizeText(text).cast("binary"))

  /** Fused text stats in ONE kernel pass per row:
    * STRUCT<len, tok_cnt, fp> — byte-identical to `length(text)` /
    * `tokenCount(text)` / `fingerprint(text)`, which are three separate
    * regex chains per output column. Project the struct once, then read
    * fields (CollapseProject won't inline a non-cheap multi-use alias). */
  def textStats(text: Column): Column =
    kcol(graft.expr.TextStatsExpr(kexp(text)))

  /** Misra-Gries heavy-hitter candidate sketch — a mergeable
    * TypedImperativeAggregate with capacity-bounded state; see
    * CorpusStats.heavyHitters for the 2-pass exact pattern. */
  def heavyHitterCandidates(c: Column, capacity: Int): Column =
    kcol(graft.expr.MisraGriesCandidates(kexp(c), capacity)
      .toAggregateExpression())

  /** KMV distinct-count sketch: the k smallest distinct hash values of `c`
    * (hex-string or non-negative long hash), as a sorted array. Mergeable,
    * k-bounded state — see [[graft.expr.KmvSketchAgg]]. */
  def kmvSketch(c: Column, k: Int): Column =
    kcol(graft.expr.KmvSketchAgg(kexp(c), k).toAggregateExpression())

  /** Bloom bitset aggregate over a 64-bit hash column — mergeable (bitwise
    * OR), fixed mBits state. See [[graft.expr.BloomBitsetAgg]]. */
  def bloomBits(hash: Column, mBits: Int, numHashes: Int): Column =
    kcol(graft.expr.BloomBitsetAgg(kexp(hash), mBits, numHashes)
      .toAggregateExpression())

  /** Exact id bitmap over a bounded long domain [0, maxId) — mergeable
    * (bitwise OR); out-of-range ids throw. See [[graft.expr.IdBitmapAgg]]. */
  def idBitmap(id: Column, maxId: Int): Column =
    kcol(graft.expr.IdBitmapAgg(kexp(id.cast("long")), maxId)
      .toAggregateExpression())

  /** Count-min sketch aggregate over a 64-bit hash column — mergeable
    * (element-wise add). See [[graft.expr.CountMinAgg]]. */
  def countMinSketch(hash: Column, width: Int, depth: Int): Column =
    kcol(graft.expr.CountMinAgg(kexp(hash), width, depth)
      .toAggregateExpression())

  /** Jaro-Winkler similarity (record-linkage standard; Spark only ships
    * levenshtein) — codegen kernel, DuckDB-parity semantics. */
  def jaroWinkler(a: Column, b: Column): Column =
    kcol(graft.expr.JaroWinklerExpr(kexp(a), kexp(b)))

  /** Greedy BPE apply under an ordered merge table — EXACT tokenizer
    * token counts for packing/budget math (codegen kernel,
    * graft.expr.BpeKernel). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    kcol(graft.expr.BpeEncodeExpr(kexp(text), merges))

  def bpeCount(text: Column, merges: Seq[(String, String)]): Column =
    kcol(graft.expr.BpeCountExpr(kexp(text), merges))

  /** Word-level shingles (n-grams of whitespace tokens) for MinHash —
    * codegen kernel (graft.expr.ShinglesExpr); `shinglesHof` is the
    * byte-identical Column formulation kept as its spec cross-check. */
  def shingles(text: Column, n: Int): Column =
    kcol(graft.expr.ShinglesExpr(kexp(text), n))

  private[graft] def shinglesHof(text: Column, n: Int): Column =
    bind(whitespaceTokens(normalizeText(text))) { toks =>
      // sliding windows via transform over indices 0..len-n
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      array_distinct(
        when(size(toks) >= n,
          transform(idx, i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))
    }
}
