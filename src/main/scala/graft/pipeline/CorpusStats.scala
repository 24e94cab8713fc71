package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/**
 * Corpus-level statistics operators: quality signals that need a pass over
 * the WHOLE corpus first (vocabulary counts, document frequencies) and a
 * per-document scoring pass second. Unlike the per-row signals in
 * [[TextAnalysis]], these are join-shaped: token tables meet corpus tables
 * in shuffles keyed on the token — linear in token volume, never quadratic
 * in documents.
 *
 * The reference has no corpus statistics (SURVEY.md §2.9 — LIKE is its
 * only text operator); these are the engine's pipeline extensions.
 */
object CorpusStats {

  /** (id, w) token table: lowercased whitespace tokens, one row per
    * occurrence. The downstream shuffles key on `w` — Zipfian skew on stop
    * words is real but bounded (AQE splits oversized partitions; counts
    * partially aggregate map-side before the shuffle). */
  private def tokenTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(whitespaceTokens(lower(col(textCol)))).as("w"))

  /**
   * Exact positional phrase search — the IR primitive BM25's bag-of-
   * words scoring can't express ("data table" must not match "table
   * data"). Positional postings come from one posexplode of the SAME
   * tokenizer as [[bm25Search]]; each phrase token joins the postings
   * (broadcast of the tiny query side — only phrase-token postings ever
   * shuffle) and votes for its implied start = pos − offset; a start
   * every one of the k offsets voted for is an occurrence (a repeated
   * phrase token casts one vote per offset it fills, so the count-k
   * test is exact even for phrases like "the cat the"). Per-doc rollup
   * is one grouped agg keyed on (doc, start) then doc — linear in
   * phrase-token volume, never in corpus size.
   * Output: (`idCol`, n_hits, first_pos) for matching docs only.
   */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qToks = phrase.toLowerCase.trim.split("\\s+").toSeq
    require(qToks.nonEmpty && qToks.head.nonEmpty, "phrase must have tokens")
    val k = qToks.size
    val q = qToks.zipWithIndex.toDF("w", "__qi")
    val postings = docs.select(col(idCol).as("__id"),
      posexplode(whitespaceTokens(lower(col(textCol)))).as(Seq("__pos", "w")))
    postings.join(broadcast(q), "w")
      .select(col("__id"), (col("__pos") - col("__qi")).cast("long").as("__start"))
      .where(col("__start") >= 0)
      .groupBy(col("__id"), col("__start"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") === k)
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_hits"), min(col("__start")).as("first_pos"))
      .select(col("__id").as(idCol), col("n_hits"), col("first_pos"))
  }

  /**
   * CCNet-style unigram language-model quality score: train unigram
   * probabilities on the corpus itself, then score each document by the
   * mean log-probability of its tokens. Repetitive, in-distribution text
   * scores high; rare-token soup scores low. Two shuffles total (vocab
   * count, per-doc mean) + one token↔vocab join keyed on the token; the
   * corpus total rides along as a broadcast scalar, never a driver value.
   *
   * Output: (`idCol`, n_tokens, avg_logprob) — avg_logprob rounded to 6dp
   * so the float-sum ordering across partitions can't leak into results.
   */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokenTable(docs, idCol, textCol)
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n"))
    toks.join(vocab, "w")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("n"))), 6).as("avg_logprob"))
  }

  /**
   * Vocabulary drift between two corpus snapshots — the crawl-over-crawl
   * monitoring signal: which tokens appeared, vanished, or shifted most.
   * A tokenizer retrained on drifted vocabulary changes every downstream
   * token count; this is the cheap alarm that fires first. Two map-
   * combined token counts meet in ONE full-outer shuffle keyed on the
   * token; the top-`topN` movers come out of a bounded
   * TakeOrderedAndProject under the total order (|Δ| desc, token asc) —
   * never a full sort.
   *
   * Output: (w, old_cnt, new_cnt, delta, status) with status ∈
   * {added, vanished, changed, stable}.
   */
  def vocabDrift(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, topN: Int = 20): DataFrame = {
    require(topN > 0, "topN must be positive")
    def vocab(df: DataFrame, cnt: String) =
      tokenTable(df, idCol, textCol).groupBy(col("w"))
        .agg(count(lit(1)).as(cnt))
    vocab(oldDocs, "old_cnt").join(vocab(newDocs, "new_cnt"), Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("old_cnt"), lit(0L)).as("old_cnt"),
        coalesce(col("new_cnt"), lit(0L)).as("new_cnt"))
      .withColumn("delta", col("new_cnt") - col("old_cnt"))
      .withColumn("status",
        when(col("old_cnt") === 0, "added")
          .when(col("new_cnt") === 0, "vanished")
          .when(col("delta") =!= 0, "changed")
          .otherwise("stable"))
      .orderBy(abs(col("delta")).desc, col("w"))
      .limit(topN)
  }

  /**
   * Distinguishing terms by log-odds with an informative Dirichlet
   * prior (Monroe, Colaresi & Quinn 2008) — the variance-aware "what
   * words make slice A sound different from slice B", the method that
   * fixes what raw count deltas ([[vocabDrift]]) and PMI get wrong at
   * both frequency extremes: the pooled-corpus prior shrinks rare-word
   * noise, the z-score (δ/√σ²) downweights common-word certainty.
   *
   *   α_w = A·(y_a+y_b)/(n_a+n_b)   (pooled prior, 12dp-published)
   *   δ_w = ln((y_a+α)/(n_a+A−y_a−α)) − ln((y_b+α)/(n_b+A−y_b−α))
   *   z_w = δ_w / √(1/(y_a+α) + 1/(y_b+α))
   *
   * Every downstream value composes from the PUBLISHED 12dp α (then
   * identical IEEE expression chains — the abTest z doctrine), δ
   * publishes 12dp, z 6dp. Shape: one token count per side, one
   * token-keyed full-outer join, broadcast totals, TakeOrdered
   * top-`topK` by (|z| desc, token asc).
   *
   * Output: (w, y_a, y_b, alpha, delta, z), strongest first.
   */
  def logOddsTerms(v0: DataFrame, v1: DataFrame, idCol: String,
      textCol: String, priorMass: Double = 100.0,
      topK: Int = 40): DataFrame = {
    require(priorMass > 0 && topK >= 1, "priorMass > 0, topK >= 1")
    def cnt(df: DataFrame, tag: String) =
      tokenTable(df, idCol, textCol).groupBy(col("w"))
        .agg(count(lit(1)).as(s"y_$tag"))
    val j = cnt(v0, "a").join(cnt(v1, "b"), Seq("w"), "full_outer")
      .na.fill(0L, Seq("y_a", "y_b"))
    val tot = j.agg(sum(col("y_a")).as("__na"), sum(col("y_b")).as("__nb"))
    val a = lit(priorMass)
    val withAlpha = j.crossJoin(broadcast(tot))
      .withColumn("alpha", round(a * (col("y_a") + col("y_b")).cast("double")
        / (col("__na") + col("__nb")).cast("double"), 12))
    def side(y: Column, n: Column): Column =
      log((y.cast("double") + col("alpha"))
        / (n.cast("double") + a - y.cast("double") - col("alpha")))
    withAlpha
      .withColumn("delta",
        round(side(col("y_a"), col("__na")) - side(col("y_b"), col("__nb")), 12))
      .withColumn("z", round(col("delta")
        / sqrt(lit(1.0) / (col("y_a").cast("double") + col("alpha"))
             + lit(1.0) / (col("y_b").cast("double") + col("alpha"))), 6))
      .select("w", "y_a", "y_b", "alpha", "delta", "z")
      .orderBy(abs(col("z")).desc, col("w").asc)
      .limit(topK)
  }

  /**
   * EXACT heavy hitters via the 2-pass sketch pattern: a Misra-Gries
   * candidate sketch ([[graft.expr.MisraGriesCandidates]], a custom
   * `TypedImperativeAggregate` with `capacity`-bounded mergeable state)
   * runs as ONE narrow aggregation — no token-keyed shuffle — then only
   * the ≤`capacity` candidates broadcast back and are exact-counted
   * (shuffle of MATCHING tokens only). The MG bound (true count −
   * counter ≤ N/(capacity+1)) makes the candidate set a superset of
   * every item with count > N/`fracDen` whenever capacity+1 ≥ fracDen,
   * so the verified output is EXACT regardless of sketch internals —
   * which is what lets an oracle gate it.
   *
   * Output: (w, cnt) for tokens with cnt·fracDen > N, the classic
   * "stop-word discovery over 100 TB without shuffling the firehose".
   */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
      capacity: Int = 64, fracDen: Int = 32): DataFrame = {
    require(capacity + 1 >= fracDen,
      s"capacity+1 (${capacity + 1}) must cover fracDen ($fracDen) for the MG guarantee")
    val toks = tokenTable(docs, idCol, textCol)
    val cands = toks
      .agg(heavyHitterCandidates(col("w"), capacity).as("cand"))
      .select(explode(col("cand")).as("w"))
    val total = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(cands), "w")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * fracDen > col("n"))
      .select(col("w"), col("cnt"))
  }

  /**
   * CCNet-style INTERPOLATED BIGRAM language-model score — the standard
   * perplexity quality filter one notch above [[unigramLogProb]]: train
   * bigram and unigram counts on the corpus itself, then score each
   * document by the mean log of
   * `λ·c(w1,w2)/c(w1·) + (1−λ)·c(w2)/N` over its bigrams, where
   * `c(w1·)` is the count of bigrams starting at `w1` (so the bigram MLE
   * row-normalizes exactly) and `N` the corpus token total. Interpolation
   * (Jelinek–Mercer) keeps unseen-in-context tokens finite via the
   * unigram floor — in-distribution prose scores high, shuffled-token
   * soup scores low even when every unigram is common.
   *
   * Shape at scale: bigrams explode from the per-row token array with NO
   * shuffle (a codegen `transform` over an index sequence); the count
   * tables shuffle keyed on the bigram / context / token exactly like
   * [[unigramLogProb]]'s vocab pass, all partially aggregated map-side;
   * the corpus total rides as a broadcast scalar. Nothing is ever keyed
   * on the document pair — linear in token volume.
   *
   * λ and 1−λ are derived with the SAME IEEE arithmetic on both engine
   * and oracle (`1.0 - λ`, not a rounded literal), and the per-doc mean
   * rounds to 6dp so partial-sum order can't leak into the hash.
   *
   * Output: (`idCol`, n_bigrams, avg_logprob) for docs with ≥ 1 bigram.
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.8): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, "lambda must be in (0,1)")
    val ws = docs.select(col(idCol),
      whitespaceTokens(lower(col(textCol))).as("ws"))
    // guard: Spark's sequence(1, 0) DESCENDS instead of returning empty,
    // so single-token docs must short-circuit to an empty array
    val bi = ws.select(col(idCol), explode(when(size(col("ws")) >= 2,
        expr("transform(sequence(1, size(ws)-1), " +
          "i -> struct(element_at(ws, i) AS w1, element_at(ws, i+1) AS w2))"))
        .otherwise(expr("array()"))).as("b"))
      .select(col(idCol), col("b.w1"), col("b.w2"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val ctx = bc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val uni = tokenTable(docs, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("n"))
    bi.join(bc, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(
          lit(lambda) * col("c2") / col("c1") +
            lit(1.0 - lambda) * col("cu") / col("n"))), 6).as("avg_logprob"))
  }

  /**
   * Top-k bigram collocations by pointwise mutual information — "which
   * adjacent word pairs co-occur far beyond chance" (Church & Hanks
   * 1990), the phrase-vocabulary miner for tokenizer/stopword curation
   * that raw bigram COUNTS can't be (frequent pairs of frequent words
   * dominate counts; PMI normalizes by both unigram rates):
   *
   *   pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) )
   *            = ln( (c_xy · N_uni²) / (N_bi · c_x · c_y) )
   *
   * The integer products run in exact DECIMAL(38,0) (they overflow
   * doubles at corpus scale), each side casts to a correctly-rounded
   * double ONCE, and one division + one ln publish 6dp. `minCount`
   * prunes the hapax noise PMI is notorious for (a 1-count pair of
   * 1-count words maxes the score) — the standard collocation guard.
   * Ranking on the ROUNDED score, ties by (w1, w2): TakeOrdered, never
   * a global sort. Counts: two token-keyed aggregations (the bigram
   * relation reuses [[bigramLogProb]]'s construction), broadcast scalar
   * totals. Output: top `topK` rows (w1, w2, c_xy, pmi).
   */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount >= 1, topK >= 1")
    val ws = docs.select(col(idCol),
      whitespaceTokens(lower(col(textCol))).as("ws"))
    val bi = ws.select(explode(when(size(col("ws")) >= 2,
        expr("transform(sequence(1, size(ws)-1), " +
          "i -> struct(element_at(ws, i) AS w1, element_at(ws, i+1) AS w2))"))
        .otherwise(expr("array()"))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
    val uni = tokenTable(docs, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val tot = bi.agg(count(lit(1)).as("__nbi"))
      .crossJoin(uni.agg(sum(col("cu")).as("__nuni")))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    bc.join(uni.select(col("w").as("w1"), col("cu").as("__c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("__c2")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(
        (d(col("c_xy")) * d(col("__nuni")) * d(col("__nuni"))).cast("double")
          / (d(col("__nbi")) * d(col("__c1")) * d(col("__c2"))).cast("double")), 6))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
      .select(col("w1"), col("w2"), col("c_xy"), col("pmi"))
  }

  /**
   * TF-IDF top-`k` terms per document — the classic keyword-extraction /
   * topic-fingerprint step. `tf` = occurrences in the doc, `idf` =
   * ln(N/df) with `df` = documents containing the term; ranking uses the
   * 6dp-ROUNDED score (ties broken by term) so engines whose `ln` differs
   * in the last ulp still rank identically.
   *
   * Output: (`idCol`, term, score, rank), rank 1..k per doc.
   *
   * Shape at scale: tf is one (id, w) aggregation, df reuses tf's output
   * (one more shuffle on w), the corpus size joins as a broadcast scalar,
   * and the per-doc top-k is a bounded window — no step holds more than a
   * partition in memory.
   */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = tokenTable(docs, idCol, textCol)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "w")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("w"))).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("w").as("term"), col("score"), col("rank"))
  }

  /**
   * Okapi BM25 top-`topK` retrieval for a bag-of-words query — the
   * standard lexical ranking (Robertson & Zaragoza 2009), Lucene's
   * non-negative idf variant: idf = ln((N − df + 0.5)/(df + 0.5) + 1),
   * score = Σ_terms idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
   *
   * Shape at scale: the token explode is filtered to the query's term
   * set BEFORE the tf shuffle (an `isin` over a handful of literals —
   * only matching occurrences move), df is a |terms|-row broadcast, the
   * corpus scalars (N, avgdl) ride as one broadcast row, and doc length
   * joins hash-keyed on the id for matching docs only. The final top-K
   * is orderBy+limit → TakeOrderedAndProject, never a full sort. The
   * one corpus-wide pass is the dl aggregation — BM25's length norm
   * needs every doc's length once; persist `dl` per corpus snapshot to
   * amortize it across queries.
   *
   * Per-term contributions round to 6dp, are DECIMAL-summed (the Σ
   * doctrine — a raw double sum over many query terms is partial-sum-
   * order dependent and could flip the 6dp rounding, hence a rank), and
   * the published score rounds to 6dp again, so last-ulp `ln`
   * differences between engines can't reach the ranking.
   *
   * Output: (`idCol`, matched, score, rank), rank 1..topK.
   */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    val toks = tokenTable(docs, idCol, textCol)
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.where(col("w").isin(terms: _*))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(dfreq), "w")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("c", round(
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))), 6))
    contrib.groupBy(col(idCol))
      .agg(count(lit(1)).as("matched"),
        round(sum(col("c").cast("decimal(24,12)")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
  }

  /**
   * PERSISTED BM25 inverted index — the build/serve split every search
   * deployment needs (the IVF save/load doctrine applied to lexical
   * retrieval): the corpus-wide passes (postings, doc lengths, corpus
   * scalars) run ONCE at build; a query then touches only its terms'
   * postings. Layout: `path/postings` (w, id, tf) RANGE-SORTED on the
   * term so a term probe prunes to O(matching) row groups;
   * `path/doclen` (id, dl); `path/stats` (n_docs, sum_dl) — sum_dl as an
   * exact LONG so the served avgdl (sum/n) is reproducible arithmetic,
   * not a stored float.
   */
  def bm25BuildIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val toks = tokenTable(docs, idCol, textCol)
    toks.groupBy(col("w"), col(idCol)).agg(count(lit(1)).as("tf"))
      .repartitionByRange(8, col("w")).sortWithinPartitions("w")
      .write.mode("overwrite").parquet(path + "/postings")
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    dl.write.mode("overwrite").parquet(path + "/doclen")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").parquet(path + "/stats")
  }

  /** Serve a query from the persisted index: same scoring contract as
    * [[bm25Search]], but df/tf come from the term-pruned postings scan
    * and avgdl from the exact stored (sum_dl, n_docs). */
  def bm25QueryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, terms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    val tf = spark.read.parquet(path + "/postings")
      .where(col("w").isin(terms: _*)) // pushdown → sorted-run pruning
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val dl = spark.read.parquet(path + "/doclen")
    val stats = spark.read.parquet(path + "/stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val contrib = tf
      .join(broadcast(dfreq), "w")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("c", round(
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))), 6))
    contrib.groupBy(col(idCol))
      .agg(count(lit(1)).as("matched"),
        round(sum(col("c").cast("decimal(24,12)")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
  }

  /**
   * DELTA index maintenance: fold a batch of NEW documents into the
   * persisted index without re-tokenizing the old corpus — postings and
   * doc lengths APPEND (new ids by contract, enforced LOUDLY with an
   * anti-join guard), corpus scalars recompute from the |docs|-sized
   * doclen table. Serving after an update must equal a from-scratch
   * rebuild on the union corpus (exact longs everywhere — q197 gates it).
   */
  def bm25UpdateIndex(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    val existing = spark.read.parquet(path + "/doclen").select(col(idCol))
    val dupes = newDocs.select(col(idCol)).join(existing, idCol).limit(1).collect()
    require(dupes.isEmpty,
      s"bm25UpdateIndex: id ${dupes.headOption.map(_.get(0))} already indexed — " +
        "delta batches must carry NEW documents only")
    val toks = tokenTable(newDocs, idCol, textCol)
    toks.groupBy(col("w"), col(idCol)).agg(count(lit(1)).as("tf"))
      .write.mode("append").parquet(path + "/postings")
    toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
      .write.mode("append").parquet(path + "/doclen")
    val stats = spark.read.parquet(path + "/doclen")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .collect().head
    import spark.implicits._
    Seq((stats.getLong(0), stats.getLong(1))).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(path + "/stats")
  }

  /**
   * Frequency-ranked vocabulary with cumulative corpus coverage — the
   * first pass of any tokenizer build (BPE/WordPiece seed vocab, OOV-rate
   * planning): rank tokens by count desc (token asc tiebreak) and report
   * each rank's cumulative fraction of all token occurrences.
   *
   * Shape at scale: ONE corpus-wide shuffle (token count, map-side
   * combined); the top-K cut is orderBy+limit → TakeOrderedAndProject
   * over the vocab (vocab ≪ corpus), never a full sort of the corpus;
   * the running sum then windows over only the K retained rows with the
   * corpus total as a broadcast scalar. K is bounded (a vocab), so the
   * single-partition window over K rows is by construction small.
   *
   * Output: (rank, token, cnt, cum_frac), rank 1..topK, cum_frac 6dp.
   */
  def vocabTopK(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 100): DataFrame = {
    val vocab = tokenTable(docs, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    vocab.orderBy(col("cnt").desc, col("w").asc).limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("w").asc)).cast("long"))
      .withColumn("cum_frac", round(
        sum(col("cnt")).over(Window.orderBy(col("cnt").desc, col("w").asc))
          / col("n_total"), 6))
      .select(col("rank"), col("w").as("token"), col("cnt"), col("cum_frac"))
  }

  /**
   * BPE merge-table LEARNING (Sennrich et al. 2016) — the training half
   * of the q137 apply path. Two-regime by construction, exactly how
   * fastBPE/HF tokenizers train at corpus scale: the DISTRIBUTED part is
   * the word-frequency table (one token shuffle over however many TB —
   * Zipf makes the distinct-word relation tiny next to the corpus); the
   * driver then iterates over the top-`maxVocab` words (explicit cap,
   * frequency-ranked), counting adjacent symbol pairs weighted by word
   * frequency and merging the argmax pair left-to-right, `numMerges`
   * times. Words carry a terminal `</w>` marker (the canonical
   * formulation). Fully deterministic: argmax ties break on the
   * lexicographically smallest (left, right) pair.
   *
   * Output: (rank, left, right, pair_count) — feed to the q137 apply
   * kernel as the merge table.
   */
  def learnBpe(docs: DataFrame, textCol: Column, numMerges: Int,
      maxVocab: Int = 100000): DataFrame = {
    require(numMerges >= 1 && numMerges <= 65536, s"numMerges: $numMerges")
    val top = docs
      .select(explode(split(regexp_replace(lower(trim(textCol)), "\\s+", " "),
        " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(maxVocab)
      .collect()
    var vocab: Vector[(Vector[String], Long)] = top.toVector
      .map(r => (r.getString(0).map(_.toString).toVector :+ "</w>",
        r.getLong(1)))
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (bl, br) = counts.keysIterator.reduce { (a, b) =>
          val ca = counts(a); val cb = counts(b)
          if (ca > cb || (ca == cb &&
            (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)))) a else b
        }
        k += 1
        merges += ((k, bl, br, counts((bl, br))))
        vocab = vocab.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == bl && syms(i + 1) == br) {
              out += (bl + br); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }
      }
    }
    val spark = docs.sparkSession
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "pair_count")
  }

  /**
   * Zipf power-law fit of the rank–frequency curve: OLS slope of
   * ln(freq) on ln(rank) over the top-`topN` vocabulary — the classic
   * corpus-health signal (natural language sits near slope −1; template
   * spam and boilerplate flatten it, truncated crawls steepen it).
   *
   * Determinism: the log points are 12dp-rounded into DECIMAL(15,12),
   * all five moments are summed EXACTLY in decimal (operand precisions
   * sized so no 38-digit cap can round anywhere), and the normal
   * equations run in doubles only after the exact sums — the identical
   * IEEE expression on both engines. One token shuffle + a topN-bounded
   * tail; nothing driver-side.
   *
   * Output: one row (n_tokens, slope, intercept, r2).
   */
  def zipfFit(docs: DataFrame, idCol: String, textCol: String,
      topN: Int = 200): DataFrame = {
    require(topN >= 2, s"topN >= 2: $topN")
    val byFreq = Window.orderBy(col("cnt").desc, col("w").asc)
    val ranked = tokenTable(docs, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(topN)
      .withColumn("rank", row_number().over(byFreq).cast("long"))
    val dx = round(log(col("rank").cast("double")), 12).cast("decimal(15,12)")
    val dy = round(log(col("cnt").cast("double")), 12).cast("decimal(15,12)")
    val m = ranked.select(dx.as("x"), dy.as("y")).agg(
      count(lit(1)).as("n_tokens"),
      sum(col("x")).as("dsx"), sum(col("y")).as("dsy"),
      sum((col("x") * col("x")).cast("decimal(34,24)")).as("dsxx"),
      sum((col("x") * col("y")).cast("decimal(34,24)")).as("dsxy"),
      sum((col("y") * col("y")).cast("decimal(34,24)")).as("dsyy"))
    val n = col("n_tokens").cast("double")
    val sx = col("dsx").cast("double"); val sy = col("dsy").cast("double")
    val sxx = col("dsxx").cast("double"); val sxy = col("dsxy").cast("double")
    val syy = col("dsyy").cast("double")
    val num = n * sxy - sx * sy
    val denX = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    m.select(col("n_tokens"),
      round(num / denX, 6).as("slope"),
      round((sy - (num / denX) * sx) / n, 6).as("intercept"),
      round(num * num / (denX * denY), 6).as("r2"))
  }

  /** (tag, w) word-`gram`-gram shingle table under the house tokenizer.
    * The token array is materialized ONCE per row before the shingle
    * HOF — referencing the split() expression from inside the transform
    * lambda would re-tokenize the document once per element_at call
    * (gram × tokens evaluations per row — measured 7× the whole query).
    * 1-based element_at matches DuckDB's 1-based list indexing; the
    * size guard exists because Spark's sequence DESCENDS when stop <
    * start (a <gram-token doc must contribute zero shingles, not a
    * reversed index pair). */
  private def shingleTable(docs: DataFrame, textCol: String, gram: Int,
      tag: Column): DataFrame = {
    val arred = docs.select(tag, whitespaceTokens(lower(col(textCol))).as("__a"))
    val arr = col("__a")
    val shingles = when(size(arr) >= gram, transform(
      sequence(lit(1), size(arr) - (gram - 1)),
      i => concat_ws("|", (0 until gram).map(j => element_at(arr, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
    arred.select(col(arred.columns.head), explode(shingles).as("w"))
  }

  /**
   * Source vocabulary-overlap matrix — pairwise Jaccard of the word-
   * `gram`-gram TYPE sets across corpus sources: the corpus-mixing
   * diagnostic that says which sources are near-clones (scrapes of the
   * same sites), which are disjoint, and which CONTAIN one another
   * (containment ≫ jaccard = one source is a subset crawl). Exact, not
   * sketched: the (source, type) presence relation is vocabulary-
   * bounded, its self-join is keyed on the type, and the rollup is
   * |sources|²-bounded (`maxSources` contract — the q221 cross-source
   * shape).
   *
   * Output per unordered source pair (a < b): (source_a, source_b,
   * vocab_a, vocab_b, intersection, jaccard, containment_a,
   * containment_b) — three exact-count divides, 6dp.
   */
  def vocabOverlap(docs: DataFrame, textCol: String, sourceCol: String,
      gram: Int = 3, maxSources: Int = 64): DataFrame = {
    require(gram >= 1 && gram <= 5, "gram in [1,5]")
    val sv = shingleTable(docs.where(col(sourceCol).isNotNull), textCol,
        gram, col(sourceCol).cast("string").as("__s"))
      .distinct().cache() // presence relation feeds sizes + the pair join
    try {
      val sizes = sv.groupBy(col("__s")).agg(count(lit(1)).as("vocab"))
        .localCheckpoint(true) // |sources| rows
      val nSrc = sizes.count()
      require(nSrc >= 2, "vocabOverlap: need at least two sources")
      require(nSrc <= maxSources,
        s"vocabOverlap: $nSrc sources > maxSources=$maxSources — the pair " +
          "rollup is |sources|²; bucket sources upstream")
      val inter = sv.select(col("__s").as("sa"), col("w"))
        .join(sv.select(col("__s").as("sb"), col("w")), "w")
        .where(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("intersection"))
      val a = sizes.select(col("__s").as("sa"), col("vocab").as("vocab_a"))
      val b = sizes.select(col("__s").as("sb"), col("vocab").as("vocab_b"))
      // spine = all pairs of the BOUNDED source list (disjoint sources
      // must still publish a 0 row); both sides ≤ 64 rows
      a.crossJoin(b).where(col("sa") < col("sb"))
        .join(inter, Seq("sa", "sb"), "left")
        .withColumn("intersection", coalesce(col("intersection"), lit(0L)))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("vocab_a"), col("vocab_b"), col("intersection"),
          round(col("intersection").cast("double")
            / (col("vocab_a") + col("vocab_b") - col("intersection"))
              .cast("double"), 6).as("jaccard"),
          round(col("intersection").cast("double")
            / col("vocab_a").cast("double"), 6).as("containment_a"),
          round(col("intersection").cast("double")
            / col("vocab_b").cast("double"), 6).as("containment_b"))
        .orderBy(col("source_a"), col("source_b"))
        .localCheckpoint(true) // ≤ |sources|² rows; frees sv below
    } finally sv.unpersist()
  }

  /**
   * Lexical richness per source — type-token ratio, hapax share, and
   * Yule's K, the corpus-health trio that catches templated/generated
   * text (TTR collapses, hapax dries up, K spikes as a few types
   * dominate). Yule's characteristic K = 10⁴·(Σc² − N)/N² is fully
   * exact — one DECIMAL(38,0) divide — and famously length-robust
   * where raw TTR is not; both are published so the pair is readable.
   *
   * Shape: one (source, token) count aggregation + one source rollup.
   * Output: (source, n_tokens, n_types, n_hapax, ttr, hapax_ratio,
   * yule_k), 6dp.
   */
  def lexicalRichness(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val sw = docs.where(col(sourceCol).isNotNull)
      .select(col(sourceCol).cast("string").as("source"),
        explode(whitespaceTokens(lower(col(textCol)))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("__c"))
    sw.groupBy(col("source"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(d(col("__c")) * d(col("__c"))).as("__s2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_ratio"),
        round((lit(10000L) * (col("__s2") - d(col("n_tokens")))).cast("double")
          / (d(col("n_tokens")) * d(col("n_tokens"))).cast("double"), 6)
          .as("yule_k"))
  }

  /**
   * 1-NN label agreement — the embedding-quality read a similarity
   * metric can't fake: what fraction of points share a label with
   * their nearest neighbor? High agreement = the space respects the
   * labels (retrieval/clustering will work); chance-level = the
   * embedding ignores them. Runs on the deterministic md5-prefix
   * sample ([[embeddingDiversity]]'s device — a pure function of the
   * id, so any engine draws the identical sample), O(k²) on the sample
   * only; cosines round 6dp and the neighbor argmax tie-breaks by
   * (cos desc, neighbor id desc) via struct max — a total order.
   *
   * Output: one row (n_sampled, n_scored, n_agree, agreement) —
   * n_scored < n_sampled only when a label is NULL.
   */
  def nnLabelAgreement(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, hexPrefix: String = "a"): DataFrame = {
    require(hexPrefix.nonEmpty && hexPrefix.length <= 8, "1..8 hex chars")
    val sampled = embs
      .where(substring(md5(col(idCol).cast("string")), 1, hexPrefix.length)
        === hexPrefix)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        l2Norm(col(vecCol)).as("__n"), col(labelCol).as("__l"))
      .localCheckpoint(true) // both pair sides + the count probe
    val nSampled = sampled.count()
    val l = sampled.select(col("__id").as("a"), col("__v").as("va"),
      col("__n").as("na"), col("__l").as("la"))
    val r = sampled.select(col("__id").as("b"), col("__v").as("vb"),
      col("__n").as("nb"), col("__l").as("lb"))
    val nn = l.join(r, col("a") =!= col("b"))
      .select(col("a"), col("la"),
        struct(round(dotProduct(col("va"), col("vb"))
          / (col("na") * col("nb")), 6).as("c"), col("b").as("b"),
          col("lb").as("lb")).as("__s"))
      .groupBy(col("a"), col("la"))
      .agg(max(col("__s")).as("__nn"))
    nn.where(col("la").isNotNull && col("__nn.lb").isNotNull)
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("la") === col("__nn.lb"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(lit(nSampled).as("n_sampled"), col("n_scored"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_scored").cast("double"), 6)
          .as("agreement"))
  }

  /**
   * Embedding effective dimensionality — the participation ratio
   * PR = (Σ_d var_d)² / Σ_d var_d² over per-dimension variances: how
   * many dimensions the corpus ACTUALLY uses (PR = dim for isotropic
   * noise, PR → 1 when everything collapses onto one axis). The cheap
   * eigen-free anisotropy probe for embedding health — representation
   * collapse moves PR long before retrieval metrics notice.
   *
   * Determinism: components quantize to exact micro-unit longs (the
   * centroid-drift device), per-dim moments are exact DECIMAL(38,0)
   * (var numerator n·Σm² − (Σm)²), each published var_d takes one
   * double divide (6dp), and PR composes from the EXACT decimal sums of
   * those published values. Shape: one dim-keyed aggregation (dims
   * rows), one rollup row.
   *
   * Output: one row (n, dim, total_var, effective_dim, dim_ratio).
   */
  def embeddingEffectiveDim(df: DataFrame, vecCol: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val perDim = df.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "val")))
      .withColumn("__m", round(col("val").cast("double") * lit(1e6), 0)
        .cast("long"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("__m")).as("s"),
        sum(d(col("__m")) * d(col("__m"))).as("q"))
      .withColumn("var6", round(
        (d(col("n")) * col("q") - d(col("s")) * d(col("s"))).cast("double")
          / (d(col("n")) * d(col("n")) * lit(1e12)).cast("double"), 6))
    // (18,6) operands: the square is an exact (37,12) inside the 38-digit
    // cap — (38,6)² would trip Spark's precision-loss scale reduction
    perDim.agg(max(col("n")).as("n"), count(lit(1)).as("dim"),
        sum(col("var6").cast("decimal(38,6)")).as("__sv"),
        sum((col("var6").cast("decimal(18,6)")
          * col("var6").cast("decimal(18,6)")).cast("decimal(38,12)"))
          .as("__svv"))
      .select(col("n"), col("dim"),
        round(col("__sv").cast("double"), 6).as("total_var"),
        // square in DOUBLE: a (38,6)² decimal would need width 76
        when(col("__svv") > 0, round(
          col("__sv").cast("double") * col("__sv").cast("double")
            / col("__svv").cast("double"), 6)).as("effective_dim"))
      .withColumn("dim_ratio", when(col("effective_dim").isNotNull,
        round(col("effective_dim") / col("dim").cast("double"), 6)))
  }

  /**
   * Heaps' law fit — vocabulary growth V(n) = K·n^β against tokens seen
   * (Heaps 1978; β ≈ 0.4–0.6 for natural text): the companion diagnostic
   * to [[zipfFit]], and the capacity-planning curve for tokenizer/vocab
   * builds ("how many NEW types will the next 10 TB bring"). Synthetic
   * or templated corpora bend the exponent visibly — a dedup/quality
   * probe, not just a constant.
   *
   * The growth curve needs a corpus ORDER; any exchangeable order gives
   * the same law, so docs land in `nBuckets` md5 buckets (pure function
   * of the id — both engines draw the identical order) and the curve is
   * checkpointed at bucket boundaries: cum tokens from per-bucket token
   * counts, cum vocabulary from each type's FIRST bucket (min __b per
   * type — one token-keyed shuffle, never a per-doc scan order). The
   * prefix window orders ≤ `nBuckets` ≤ 256 rows BY CONSTRUCTION — the
   * bounded-relation class. OLS of ln V on ln n runs the [[zipfFit]]
   * exact-moment machinery (12dp logs into DECIMAL(15,12), decimal
   * moment sums, doubles only in the final normal equations).
   *
   * Types are word `gram`-gram shingles (1 = plain words): a corpus
   * whose word vocabulary saturates early (templated/synthetic text)
   * still shows its combinatorial growth — or its collapse — in the
   * shingle curve, which is exactly the dedup-health signal this
   * operator exists to read.
   *
   * Output: one row (n_points, n_tokens, vocab, beta, intercept, r2).
   */
  def heapsFit(docs: DataFrame, idCol: String, textCol: String,
      gram: Int = 3, nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 8 && nBuckets <= 256, "nBuckets in [8,256]")
    require(gram >= 1 && gram <= 5, "gram in [1,5]")
    val b = pmod(graft.functions.GraftFunctions.md5Frac52(
      col(idCol).cast("string")), lit(nBuckets.toLong)).as("__b")
    val tok = shingleTable(docs, textCol, gram, b)
    val tb = tok.groupBy(col("__b")).agg(count(lit(1)).as("tk"))
    val vb = tok.groupBy(col("w")).agg(min(col("__b")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("vk"))
    val spark = docs.sparkSession
    import spark.implicits._
    val spine = (0 until nBuckets).map(_.toLong).toDF("__b")
    val w = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = spine.join(tb, Seq("__b"), "left").join(vb, Seq("__b"), "left")
      .select(col("__b"), coalesce(col("tk"), lit(0L)).as("tk"),
        coalesce(col("vk"), lit(0L)).as("vk"))
      .withColumn("cn", sum(col("tk")).over(w))
      .withColumn("cv", sum(col("vk")).over(w))
      .where(col("cn") > 0 && col("cv") > 0)
    val dx = round(log(col("cn").cast("double")), 12).cast("decimal(15,12)")
    val dy = round(log(col("cv").cast("double")), 12).cast("decimal(15,12)")
    val m = pts.select(dx.as("x"), dy.as("y"),
        col("cn"), col("cv")).agg(
      count(lit(1)).as("n_points"),
      max(col("cn")).as("n_tokens"), max(col("cv")).as("vocab"),
      sum(col("x")).as("dsx"), sum(col("y")).as("dsy"),
      sum((col("x") * col("x")).cast("decimal(34,24)")).as("dsxx"),
      sum((col("x") * col("y")).cast("decimal(34,24)")).as("dsxy"),
      sum((col("y") * col("y")).cast("decimal(34,24)")).as("dsyy"))
    val n = col("n_points").cast("double")
    val sx = col("dsx").cast("double"); val sy = col("dsy").cast("double")
    val sxx = col("dsxx").cast("double"); val sxy = col("dsxy").cast("double")
    val syy = col("dsyy").cast("double")
    val num = n * sxy - sx * sy
    val denX = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    m.select(col("n_points"), col("n_tokens"), col("vocab"),
      round(num / denX, 6).as("beta"),
      round((sy - (num / denX) * sx) / n, 6).as("intercept"),
      round(num * num / (denX * denY), 6).as("r2"))
  }

  /**
   * Corpus embedding-diversity probe: mean/min/max pairwise cosine over
   * a DETERMINISTIC md5-prefix sample of the vectors (the q75-family
   * sampling trick — a pure function of the id, so any engine draws the
   * same sample). Semantic diversity is the collapse detector for
   * synthetic/curated corpora: mean pairwise cosine rising toward 1
   * means the corpus is folding onto a few modes.
   *
   * The pair loop is O(k²) over the SAMPLE only — `hexPrefix` sets the
   * rate (1 hex char = 1/16, 2 = 1/256 …), chosen so k stays in the
   * thousands at any corpus size; norms are hoisted to the per-row side
   * (one dot per pair). Cosines are 6dp-rounded into DECIMAL(10,6) and
   * summed exactly — the mean is one division.
   *
   * Output: one row (n_sampled, n_pairs, mean_cos, min_cos, max_cos,
   * diversity = 1 − mean_cos).
   */
  def embeddingDiversity(embs: DataFrame, idCol: String, vecCol: String,
      hexPrefix: String = "a"): DataFrame = {
    require(hexPrefix.nonEmpty && hexPrefix.length <= 8, "1..8 hex chars")
    val sampled = embs
      .where(substring(md5(col(idCol).cast("string")), 1, hexPrefix.length)
        === hexPrefix)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        l2Norm(col(vecCol)).as("__n"))
      .cache() // both join sides + the count probe
    val nSampled = sampled.count()
    val l = sampled.select(col("__id").as("a"), col("__v").as("va"), col("__n").as("na"))
    val r = sampled.select(col("__id").as("b"), col("__v").as("vb"), col("__n").as("nb"))
    val pairs = l.join(r, col("a") < col("b"))
      .select(round(dotProduct(col("va"), col("vb"))
        / (col("na") * col("nb")), 6).as("c"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("c").cast("decimal(10,6)")).as("__sum"),
        min(col("c")).as("min_cos"), max(col("c")).as("max_cos"))
      .withColumn("n_sampled", lit(nSampled))
      .withColumn("mean_cos",
        round(col("__sum").cast("double") / col("n_pairs").cast("double"), 6))
      .withColumn("diversity", round(lit(1.0) - col("mean_cos"), 6))
      .select(col("n_sampled"), col("n_pairs"), col("mean_cos"),
        col("min_cos"), col("max_cos"), col("diversity"))
  }

  /**
   * Per-group embedding centroids (element-wise mean pooling) — the
   * corpus-fingerprint op behind drift detection, source comparison and
   * IVF seeding. Returns (`grp`, dim, centroid, centroid_norm,
   * centroid_sum); per-dimension means round to 6dp BEFORE the norm/sum
   * fold so float partial-sum order can't reach the result.
   *
   * Shape at scale: `posexplode` fans each vector into (group, pos, val)
   * rows and ONE aggregation keyed on (group, pos) reduces them —
   * map-side partial means, then a group-sized second pass. Nothing is
   * ever collected; a 1B-vector corpus shuffles only (groups × dim)
   * partial aggregates.
   */
  /**
   * Embedding centroid drift between two corpus versions — the
   * model/ingest-regression monitor for vector columns: per group, the
   * cosine between the two versions' MEAN vectors. A re-embedded or
   * silently-reordered pipeline moves group centroids long before any
   * per-row check fires; cosine of the means is the cheapest such canary
   * (1 − cos published as `drift`).
   *
   * Determinism: float components quantize to EXACT micro-unit longs
   * (round(v·10⁶) — float→double is exact, the product and round are
   * the same IEEE ops everywhere) and sum exactly per (group, dim); the
   * count divides cancel in the cosine, so cos(mean₀, mean₁) =
   * cos(S₀, S₁) over the exact sum vectors — DECIMAL(38,0) dot/norms,
   * one double expression, 6dp. Shape: one (group, dim) aggregation per
   * side, one dim-keyed join, one group rollup — dims × groups rows,
   * never row×row.
   *
   * Output per group present on BOTH sides: (grp, n_a, n_b, dim_a,
   * dim_b, dim, cos, drift); a zero centroid on either side publishes
   * NULL cos. `dim_a`/`dim_b` are each side's OWN dimensionality
   * (max position + 1) while `dim` counts the common positions the
   * cosine ran over — published separately so a re-embedding that
   * changed vector dimensionality (a key regression this monitor
   * exists to catch) surfaces as dim_a ≠ dim_b instead of being
   * silently averaged away over the intersection.
   */
  def embeddingCentroidDrift(v0: DataFrame, v1: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    // per-side dim rides a grp-partitioned window over the ALREADY
    // AGGREGATED (groups × dim)-sized relation — no second corpus scan
    def side(df: DataFrame, tag: String): DataFrame =
      df.where(col(vecCol).isNotNull)
        .select(col(groupCol).cast("string").as("grp"),
          posexplode(col(vecCol)).as(Seq("pos", "val")))
        .groupBy(col("grp"), col("pos"))
        .agg(sum(round(col("val").cast("double") * lit(1e6), 0).cast("long"))
          .as(s"s$tag"),
          count(lit(1)).as(s"n$tag"))
        .withColumn(s"d$tag", (max(col("pos")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("grp")))
          + 1).cast("long"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    side(v0, "0").join(side(v1, "1"), Seq("grp", "pos"))
      .groupBy(col("grp"))
      .agg(max(col("n0")).as("n_a"), max(col("n1")).as("n_b"),
        max(col("d0")).as("dim_a"), max(col("d1")).as("dim_b"),
        count(lit(1)).as("dim"),
        sum(d(col("s0")) * d(col("s1"))).as("__dot"),
        sum(d(col("s0")) * d(col("s0"))).as("__m0"),
        sum(d(col("s1")) * d(col("s1"))).as("__m1"))
      .select(col("grp"), col("n_a"), col("n_b"),
        col("dim_a"), col("dim_b"), col("dim"),
        when(col("__m0") > 0 && col("__m1") > 0, round(
          col("__dot").cast("double")
            / (sqrt(col("__m0").cast("double"))
               * sqrt(col("__m1").cast("double"))), 6)).as("cos"))
      .withColumn("drift",
        when(col("cos").isNotNull, round(lit(1.0) - col("cos"), 6)))
  }

  /**
   * Good–Turing frequency table (Good 1953): count-of-counts N_r over
   * the unigram vocabulary, the Turing unseen-mass estimate P₀ = N₁/N,
   * and the adjusted counts r* = (r+1)·N_{r+1}/N_r — the classical
   * answer to "how much probability should the words we've NEVER seen
   * get", i.e. the held-out novelty rate a dedup/contamination budget
   * needs and the smoothing backbone of Katz LMs.
   *
   * Exactness: type counts, N_r and N are exact longs from two
   * aggregations (tokens → types → count-of-counts); r* and masses are
   * one double divide each, 6dp. Shape: token explode → |vocab| rows →
   * ≤ maxR+1 output rows; the r+1 lookup is a lead() over the BOUNDED
   * count-of-counts relation, never a second corpus pass.
   *
   * Output: row r=0 carries (n_types=0, r_star NULL, mass = N₁/N, the
   * unseen mass); rows r=1..maxR carry (r, n_types=N_r, r_star —
   * NULL where N_{r+1}=0 — and mass = r·N_r/N, the observed share of
   * tokens sitting at frequency r). Ordered by r.
   */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String,
      maxR: Int = 10, gram: Int = 1): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, "maxR in [1,1000]")
    require(gram >= 1 && gram <= 8, "gram in [1,8]")
    // gram > 1 counts word-n-gram shingle types — the tail Good-Turing
    // is ABOUT lives in composed units when the unigram vocabulary is
    // closed (every word frequent), the common case for template-heavy
    // corpora
    val toks = if (gram <= 1) tokenTable(docs, idCol, textCol)
      else shingleTable(docs, textCol, gram, col(idCol))
    val types = toks
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val cofc = types.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_types"))
      .localCheckpoint(true) // bounded: |distinct frequencies| rows
    val tot = cofc.agg(sum(col("r") * col("n_types")).as("n_tokens"),
      coalesce(sum(when(col("r") === 1L, col("n_types"))), lit(0L)).as("n1"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("r"))
    // lead over the FULL count-of-counts, THEN cut at maxR — r* at the
    // boundary must still see N_{maxR+1}
    val spine = cofc
      .withColumn("__next", lead(col("n_types"), 1).over(w))
      .withColumn("__nextr", lead(col("r"), 1).over(w))
      .where(col("r") <= maxR)
    val rows = spine.crossJoin(broadcast(tot))
      .select(col("r"), col("n_types"),
        when(col("__nextr") === col("r") + 1, round(
          (col("r") + 1).cast("double") * col("__next").cast("double")
            / col("n_types").cast("double"), 6)).as("r_star"),
        round(col("r").cast("double") * col("n_types").cast("double")
          / col("n_tokens").cast("double"), 6).as("mass"))
    val unseen = tot.select(lit(0L).as("r"), lit(0L).as("n_types"),
      lit(null).cast("double").as("r_star"),
      round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
        .as("mass"))
    unseen.unionByName(rows).orderBy("r")
  }

  /**
   * RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
   * maximal stopword-free token runs; each word scores deg(w)/freq(w)
   * (deg = Σ phrase length over its candidate occurrences — co-
   * occurrence credit; freq = its candidate occurrences), and a phrase
   * scores the sum of its words' scores — longer, collocation-heavy
   * phrases win. The no-model keyphrase baseline a corpus browser
   * needs.
   *
   * Determinism: deg/freq are exact longs; each word ratio rounds 12dp
   * and phrase scores DECIMAL-sum them (the Σ doctrine), published 6dp;
   * top-K by (score desc, phrase) — orderBy+limit, a TakeOrdered. Shape:
   * one posexplode pass; phrase ids are per-doc stopword-prefix counts
   * (a doc-partitioned window); phrase assembly sorts (pos, w) structs
   * INSIDE the row group — everything keyed on (doc, phrase), linear in
   * token volume.
   *
   * Output: (phrase, n_words, freq, score), topK rows.
   */
  def rakeKeyphrases(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 25, maxPhraseLen: Int = 4,
      stopwords: Seq[String] = graft.pipeline.TextAnalysis.StopwordsEn): DataFrame = {
    require(topK >= 1 && maxPhraseLen >= 1, "topK >= 1, maxPhraseLen >= 1")
    val toks = docs.select(col(idCol).as("__d"),
        posexplode(whitespaceTokens(lower(col(textCol)))).as(Seq("pos", "w0")))
      // strip edge punctuation so "cost," and "cost" are one word; a
      // token that is ALL punctuation becomes a delimiter like a stopword
      .withColumn("w", regexp_replace(col("w0"), "^[^a-z0-9]+|[^a-z0-9]+$", ""))
      .withColumn("__stop",
        (col("w") === "" || col("w").isin(stopwords: _*)).cast("long"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__d")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val phrases = toks
      .withColumn("__pid", sum(col("__stop")).over(wDoc))
      .where(col("__stop") === 0L)
      .groupBy(col("__d"), col("__pid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        e => e.getField("w")).as("__ws"))
      .withColumn("n_words", size(col("__ws")).cast("long"))
      .where(col("n_words") <= maxPhraseLen)
      .withColumn("phrase", concat_ws(" ", col("__ws")))
      .cache() // feeds the word-score pass AND the phrase rollup
    val wordStats = phrases
      .select(col("n_words"), explode(col("__ws")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("__freq"), sum(col("n_words")).as("__deg"))
      .withColumn("__ws_score", round(col("__deg").cast("double")
        / col("__freq").cast("double"), 12).cast("decimal(24,12)"))
    val out = phrases
      .select(col("phrase"), col("n_words"), explode(col("__ws")).as("w"))
      .join(wordStats.select(col("w"), col("__ws_score")), "w")
      .groupBy(col("phrase"), col("n_words"))
      // each occurrence contributes its full word-score sum; count(...)
      // double-counts by n_words, so freq divides it back out
      .agg((count(lit(1)) / col("n_words")).cast("long").as("freq"),
        sum(col("__ws_score")).as("__raw"))
      // double-divide the decimal-summed raw by the exact freq — a
      // decimal/decimal divide would carry engine-specific result scale
      .select(col("phrase"), col("n_words"), col("freq"),
        round(col("__raw").cast("double") / col("freq").cast("double"), 6)
          .as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(topK)
      .localCheckpoint(true)
    phrases.unpersist(false)
    out
  }

  /**
   * KWIC concordance (keyword in context) — every occurrence of `term`
   * with its ±`window`-token context, the corpus-browsing primitive
   * behind "HOW is this token used" audits (tokenizer debugging,
   * contamination triage, sense inspection). Sorted (doc, pos) and
   * bounded by `maxRows` — an orderBy+limit, so the cut is a
   * TakeOrderedAndProject, never a full sort.
   *
   * Shape at scale: the token array MATERIALIZES ONCE per doc (the
   * shingleTable discipline — a slice over a re-derived split() would
   * re-tokenize per occurrence), `array_contains` prunes non-matching
   * docs BEFORE the positional explode, and everything else is a
   * narrow projection. Output: (`idCol`, pos — 0-based, left_ctx,
   * right_ctx), contexts space-joined, maxRows rows.
   */
  /**
   * TextRank keywords (Mihalcea & Tarau 2004) — the graph-ranking
   * companion of [[rakeKeyphrases]]: RAKE scores words by their own
   * phrase statistics; TextRank scores them by RECURSIVE centrality in
   * the co-occurrence graph, so a word that co-occurs with other
   * well-connected words outranks an equally-frequent one on the
   * corpus periphery — the difference between "frequent" and "topical".
   *
   * Construction: lowercased whitespace tokens; ADJACENT-pair
   * co-occurrence edges (window 2, the paper's default), canonical
   * undirected, de-duplicated, self-pairs dropped — built with ONE
   * zip_with over each token array (token-linear, no self-join, no
   * window function). Ranking is [[graft.operators.GraphOps
   * .pageRankFixed]]' exact integer fixed-point walk (damping 85/100,
   * `iters` rounds, 1e-9 units) over both edge directions — bit-
   * identical on any engine/partitioning, two-regime (vocabulary
   * graphs of threshold-scale corpora often fit the driver; at corpus
   * scale the distributed twin takes over). Top-K by (rank desc, word)
   * is a bounded TakeOrdered.
   *
   * Output: (w, rank_units), topK rows.
   */
  def textRankKeywords(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 20, iters: Int = 5): DataFrame = {
    require(topK >= 1, "topK >= 1")
    val arr = whitespaceTokens(lower(col(textCol)))
    val adj = docs.select(explode(zip_with(
        slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
        slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .where(col("w1") =!= col("w2") && col("w1") =!= "" && col("w2") =!= "")
    val canon = adj.select(least(col("w1"), col("w2")).as("pa"),
      greatest(col("w1"), col("w2")).as("pb")).distinct()
    val edges = canon.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(canon.select(col("pb").as("src"), col("pa").as("dst")))
    graft.operators.GraphOps.pageRankFixed(edges, iters = iters)
      .select(col("node").as("w"), col("rank_units"))
      .orderBy(col("rank_units").desc, col("w").asc)
      .limit(topK)
  }

  def kwic(docs: DataFrame, idCol: String, textCol: String, term: String,
      window: Int = 3, maxRows: Int = 100): DataFrame = {
    require(term.nonEmpty && window >= 1 && maxRows >= 1,
      "kwic: non-empty term, window >= 1, maxRows >= 1")
    val arred = docs
      .select(col(idCol), whitespaceTokens(lower(col(textCol))).as("__a"))
      .where(array_contains(col("__a"), term))
    arred
      .select(col(idCol), col("__a"),
        posexplode(col("__a")).as(Seq("pos", "w")))
      .where(col("w") === term)
      .select(col(idCol), col("pos").cast("long").as("pos"),
        concat_ws(" ", slice(col("__a"),
          greatest(col("pos") - window, lit(0)) + 1,
          least(col("pos"), lit(window)))).as("left_ctx"),
        concat_ws(" ", slice(col("__a"), col("pos") + 2, lit(window)))
          .as("right_ctx"))
      .orderBy(col(idCol).asc, col("pos").asc)
      .limit(maxRows)
  }

  /**
   * Smoothed unigram Kullback–Leibler divergence between two corpora —
   * the DIRECTED drift readout (JSD symmetrizes away which side moved;
   * KL(P‖Q) says "P spends mass where Q has little", the question a
   * train-vs-eval contamination or domain-shift audit actually asks).
   * Add-α smoothing over the UNION vocabulary (α = 1/2, Jeffreys) keeps
   * both divergences finite on one-sided types.
   *
   * Determinism: counts exact longs; V, N₀, N₁ exact; each type's two
   * contributions p·ln(p/q) are one double expression each (smoothed p,
   * q are rationals of exact operands), 12dp-rounded, DECIMAL-summed
   * (the Σ doctrine), published 6dp in NATS. Shape: two token aggs, one
   * full-outer type-keyed join, one rollup — linear in vocab.
   *
   * Output: one row (vocab, n0_tokens, n1_tokens, kl_pq, kl_qp,
   * jeffreys = kl_pq + kl_qp from the published values).
   */
  def klUnigram(v0: DataFrame, v1: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def cnt(df: DataFrame, tag: String) =
      tokenTable(df, idCol, textCol).where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as(s"c$tag"))
    val joined = cnt(v0, "0").join(cnt(v1, "1"), Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("c0"), lit(0L)).as("c0"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .localCheckpoint(true) // vocab-sized; feeds totals AND the term pass
    val tot = joined.agg(count(lit(1)).as("vocab"),
      sum(col("c0")).as("n0_tokens"), sum(col("c1")).as("n1_tokens"))
    val p = (col("c0").cast("double") + lit(0.5)) /
      (col("n0_tokens").cast("double") + lit(0.5) * col("vocab").cast("double"))
    val q = (col("c1").cast("double") + lit(0.5)) /
      (col("n1_tokens").cast("double") + lit(0.5) * col("vocab").cast("double"))
    joined.crossJoin(broadcast(tot))
      .select(col("vocab"), col("n0_tokens"), col("n1_tokens"),
        round(p * log(p / q), 12).cast("decimal(24,12)").as("__pq"),
        round(q * log(q / p), 12).cast("decimal(24,12)").as("__qp"))
      .groupBy(col("vocab"), col("n0_tokens"), col("n1_tokens"))
      .agg(round(sum(col("__pq")).cast("double"), 6).as("kl_pq"),
        round(sum(col("__qp")).cast("double"), 6).as("kl_qp"))
      .withColumn("jeffreys", round(col("kl_pq") + col("kl_qp"), 6))
  }

  /**
   * Distinct-n lexical diversity (Li et al. 2016's distinct-1/2 curve
   * generalized to n = 1..maxN) — the standard corpus/generation
   * diversity readout: distinct n-grams / total n-grams per n. A
   * template-heavy or mode-collapsed corpus shows low ratios at n ≥ 2
   * long before exact dedup fires; the curve's SHAPE (how fast the
   * ratio climbs with n) is the diversity fingerprint.
   *
   * Determinism: exact counts only (one exact countDistinct per n —
   * two-level hash agg, no sketch), ratio = one 6dp-rounded division.
   * Shape at scale: the token array materializes ONCE (localCheckpoint);
   * per n, one explode + one (total, distinct) aggregation keyed on the
   * n-gram — token-volume linear, shuffles bounded by the type count.
   * Empty tokens are filtered from the ARRAY (not per-gram) so joined
   * grams never contain separator runs and the oracle replays verbatim.
   *
   * Output: (n, total_ngrams, distinct_ngrams, distinct_ratio), n asc.
   */
  def distinctNgrams(docs: DataFrame, idCol: String, textCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN in [1,8]")
    val arred = docs.select(
        filter(whitespaceTokens(lower(col(textCol))), x => x =!= "").as("__a"))
      .localCheckpoint(true) // one tokenization feeds maxN gram passes
    (1 to maxN).map { n =>
      val sh = when(size(col("__a")) >= n, transform(
        sequence(lit(1), size(col("__a")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j =>
          element_at(col("__a"), i + j)): _*)))
        .otherwise(array().cast("array<string>"))
      arred.select(explode(sh).as("g"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("g")).as("distinct_ngrams"))
        .select(lit(n).as("n"), col("total_ngrams"), col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double")
            / col("total_ngrams").cast("double"), 6).as("distinct_ratio"))
    }.reduce(_ unionByName _).orderBy(col("n"))
  }

  /**
   * Dunning log-likelihood keyness (Dunning 1993; the Rayson–Garside
   * 2000 corpus-comparison form) between two corpora — WHICH types drive
   * the drift [[klUnigram]] measures in aggregate: per type, the full
   * 2×2 G² = 2·Σ O·ln(O/E) over cells (a, b, N₀−a, N₁−b) against
   * pooled-rate expectations; high G² = the type's rate differs more
   * than sampling allows (always ≥ 0 — the proper contingency G², not
   * the two-cell shortcut that can dip negative). The readout every
   * "what changed between snapshots / what typifies this domain" audit
   * asks for.
   *
   * Determinism: counts exact longs; each cell's term is ONE double
   * expression of exact operands (zero cells contribute 0 by the
   * standard convention, encoded as an explicit CASE — never ln(0));
   * g2 = round(2·(t_a + t_b + t_c + t_d), 6); direction +1 when
   * corpus0's rate exceeds corpus1's (cross-multiplied in decimal — no
   * rate division). Shape: two token aggs, one full-outer type join,
   * one bounded TakeOrdered — linear in vocab.
   *
   * Output: top-`topN` by (g2 desc, w asc): (w, c0, c1, g2, direction).
   */
  def keynessG2(v0: DataFrame, v1: DataFrame, idCol: String,
      textCol: String, topN: Int = 20): DataFrame = {
    require(topN >= 1 && topN <= 1000, "topN in [1,1000]")
    def cnt(df: DataFrame, tag: String) =
      tokenTable(df, idCol, textCol).where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as(s"c$tag"))
    val joined = cnt(v0, "0").join(cnt(v1, "1"), Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("c0"), lit(0L)).as("c0"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .localCheckpoint(true) // vocab-sized; feeds totals AND the term pass
    val tot = joined.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val n0 = col("n0").cast("double"); val n1 = col("n1").cast("double")
    val a = col("c0").cast("double"); val b = col("c1").cast("double")
    val c = n0 - a; val d = n1 - b
    val ea = n0 * (a + b) / (n0 + n1)
    val eb = n1 * (a + b) / (n0 + n1)
    val ec = n0 * (c + d) / (n0 + n1)
    val ed = n1 * (c + d) / (n0 + n1)
    val ta = when(col("c0") > 0, a * log(a / ea)).otherwise(lit(0.0))
    val tb = when(col("c1") > 0, b * log(b / eb)).otherwise(lit(0.0))
    val tc = when(c > 0, c * log(c / ec)).otherwise(lit(0.0))
    val td = when(d > 0, d * log(d / ed)).otherwise(lit(0.0))
    joined.crossJoin(broadcast(tot))
      .select(col("w"), col("c0"), col("c1"),
        round(lit(2.0) * (ta + tb + tc + td), 6).as("g2"),
        // direction via exact cross-multiplication (decimal — counts ×
        // corpus totals overflow a long at 100 TB token volumes);
        // ties land -1 on both engines by the same CASE
        when(col("c0").cast("decimal(38,0)") * col("n1").cast("decimal(38,0)")
            > col("c1").cast("decimal(38,0)") * col("n0").cast("decimal(38,0)"), 1)
          .otherwise(-1).as("direction"))
      .orderBy(col("g2").desc, col("w").asc)
      .limit(topN)
  }

  /**
   * Burrows' Delta (Burrows 2002) between sources — the standard
   * stylometric distance: over the corpus' top-`topM` words, z-score
   * each source's RELATIVE frequency against the across-source
   * mean/population-σ of that word, and Delta(a,b) = mean |z_a − z_b|.
   * Low Delta = same "stylistic fingerprint" — the authorship/near-
   * clone-source signal function words carry and topic words don't.
   *
   * Determinism: per-source relative frequencies round 12dp at birth;
   * word means and σ² compose from DECIMAL sums of those published
   * values (one √ per word); each z is one double expression; |z_a−z_b|
   * rounds 12dp and DECIMAL-sums per pair (the Σ doctrine), 6dp out.
   * Shape: everything after the token agg lives on the (sources × topM)
   * relation — the word spine broadcast, the pair join tiny by
   * construction.
   *
   * Output: (src_a, src_b, n_words, delta) for src_a < src_b, ordered.
   */
  def burrowsDelta(docs: DataFrame, sourceCol: String, textCol: String,
      topM: Int = 50): DataFrame = {
    require(topM >= 2 && topM <= 2000, "topM in [2,2000]")
    val toks = docs.where(col(sourceCol).isNotNull)
      .select(col(sourceCol).cast("string").as("src"),
        explode(whitespaceTokens(lower(col(textCol)))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("src"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // (sources × their vocab) — feeds 3 passes
    val topWords = toks.groupBy(col("w")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("w").asc).limit(topM)
      .select(col("w"))
    val srcTot = toks.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val nSrc = srcTot.count()
    require(nSrc >= 2, "burrowsDelta: need at least two sources")
    // dense (source × top word) grid so absent words count as f = 0
    // f as decimal(14,12): the f·f product is then an EXACT (29,24) —
    // wider operands would trip Spark's silent precision-loss scale cut
    val grid = srcTot.crossJoin(broadcast(topWords))
      .join(toks, Seq("src", "w"), "left")
      .select(col("src"), col("w"),
        round(coalesce(col("c"), lit(0L)).cast("double")
          / col("n").cast("double"), 12).cast("decimal(14,12)").as("f"))
      .localCheckpoint(true) // sources × topM rows
    // the f² terms ride the ESTABLISHED scale-12 publish pattern
    // (round(double,12) → decimal(24,12) → sum → double) — a raw
    // (14,12)×(14,12) sum would put a scale-24 decimal→double cast on
    // the gate path, which is not a validated cross-engine operation
    val fD = col("f").cast("double")
    val stats = grid.groupBy(col("w")).agg(
      (sum(col("f")).cast("double") / lit(nSrc.toDouble)).as("__mu"),
      (sum(round(fD * fD, 12).cast("decimal(24,12)")).cast("double")
        / lit(nSrc.toDouble)).as("__ex2"))
    val z = grid.join(broadcast(stats), "w")
      .withColumn("__sig", sqrt(greatest(
        col("__ex2") - col("__mu") * col("__mu"), lit(0.0))))
      .where(col("__sig") > 0) // a word flat across sources carries no signal
      .select(col("src"), col("w"),
        ((col("f").cast("double") - col("__mu")) / col("__sig")).as("z"))
    z.select(col("src").as("src_a"), col("w"), col("z").as("za"))
      .join(z.select(col("src").as("src_b"), col("w"), col("z").as("zb")), "w")
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_words"),
        sum(round(abs(col("za") - col("zb")), 12).cast("decimal(24,12)"))
          .as("__s"))
      .select(col("src_a"), col("src_b"), col("n_words"),
        round(col("__s").cast("double") / col("n_words").cast("double"), 6)
          .as("delta"))
      .orderBy("src_a", "src_b")
  }

  /**
   * Top principal component of an embedding corpus by power iteration
   * over the EXACT covariance — λ₁ and its share of total variance,
   * the anisotropy diagnostic that pairs with
   * [[embeddingEffectiveDim]]'s participation ratio: a top share → 1
   * means the space has collapsed onto one direction (the classic
   * post-training pathology ANN recall quietly dies from).
   *
   * Determinism, end to end: components micro-quantize to exact longs;
   * the (i,j) second-moment cells and per-dim sums are exact DECIMAL;
   * covariance entries are ONE double expression of those integers
   * rounded to 12dp IN UNIT² (magnitude ~1, safely inside the
   * publishing grain); every matvec term, norm term, and Rayleigh term
   * rounds 12dp and sums in DECIMAL (the Σ doctrine), components
   * re-round 12dp after each normalize — so the 8-round iteration is a
   * pure function of the cells and replays verbatim in SQL.
   *
   * Shape at scale: ONE n·d² aggregate pass into d(d+1)/2 exact cells
   * (`maxDim` keeps it loud; n·d² is the honest cost of an exact
   * covariance), then everything lives on the d²-bounded cells — the
   * iteration itself runs on the driver over the collected cells.
   *
   * Output: one row (n, dim, lambda1, trace, top_share), unit² scale,
   * 6dp.
   */
  /** The exact micro-unit covariance machinery shared by
    * [[embeddingTopComponent]] and [[embeddingTopTwo]]: quantize,
    * probe-then-refuse ragged dims, ONE n·d² cell aggregation, 12dp
    * centered cells. Returns (n, d, cov). */
  private def covCells(df: DataFrame, vecCol: String, maxDim: Int,
      opName: String): (Long, Int, Array[Array[Double]]) = {
    val qarr = transform(col(vecCol),
      v => round(v.cast("double") * lit(1e6), 0).cast("long"))
    val base = df.where(col(vecCol).isNotNull).select(qarr.as("__q")).cache()
    // ONE probe job: n + dim bounds, checked BEFORE the moment pass.
    // min AND max: a ragged corpus (64-dim rows mixed with 128-dim after
    // a partial re-embed — exactly the drift this monitor exists to
    // catch) would otherwise zero-fill the short vectors in the
    // covariance cells while n counts all rows, silently skewing
    // λ₁/trace/top_share
    val pr = base.agg(count(lit(1)),
      coalesce(max(size(col("__q"))), lit(0)),
      coalesce(min(size(col("__q"))), lit(0))).head()
    val n = pr.getLong(0)
    require(n >= 2, s"$opName: need at least two vectors")
    val (dProbe, dMin) = (pr.getInt(1), pr.getInt(2))
    require(dProbe <= maxDim,
      s"$opName: dim $dProbe > maxDim=$maxDim — the exact " +
        "covariance is n·d² work; raise the bound deliberately")
    require(dMin == dProbe,
      s"$opName: ragged dims [$dMin, $dProbe] — mixed " +
        "dimensionality would silently zero-fill short vectors in the " +
        "covariance; re-embed or filter to one dim first")
    require(dProbe >= 1, s"$opName: vectors are empty (dim 0)")
    val d = dProbe
    val cov = centeredCells(base, "__q", n, d)
    base.unpersist(false)
    (n, d, cov)
  }

  /** Sums and all upper-triangle product cells of the d-long vectors in
    * `vec` in ONE exact aggregate pass ([[graft.expr.VecOuterAgg]]'s
    * 128-bit cells are the DECIMAL(38,0) sums), centered as
    * (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / n² in unit² (1e-12 of the micro-unit
    * integers) and rounded 12dp. The mirror cell is the same value: the
    * sum over rows of xᵢ·xⱼ IS the sum of xⱼ·xᵢ. */
  private def centeredCells(base: DataFrame, vec: String, n: Long,
      d: Int): Array[Array[Double]] = {
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val flat = base.select(kcol(graft.expr.VecOuterAgg(
        kexp(col(vec)), d).toAggregateExpression()).as("m"))
      .head().getSeq[java.math.BigDecimal](0).map(BigDecimal(_))
    val nD = n.toDouble
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val num = BigDecimal(n) * flat(graft.expr.VecOuterAgg.triOff(d, i, j)) -
        flat(1 + i) * flat(1 + j)
      cov(i)(j) = r12(num.toDouble / (nD * nD * 1e12))
      cov(j)(i) = cov(i)(j)
    }
    cov
  }

  // decimal-summed 12dp terms — order-free, the SQL replay's sums
  private def decSum12(terms: Iterator[Double]): Double =
    terms.foldLeft(BigDecimal(0))((a, t) =>
      a + BigDecimal(t).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .toDouble

  def embeddingTopComponent(df: DataFrame, vecCol: String,
      iters: Int = 8, maxDim: Int = 128): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters in [1,50]")
    val (n, d, cov) = covCells(df, vecCol, maxDim, "embeddingTopComponent")
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def decSum(terms: Iterator[Double]): Double = decSum12(terms)
    var v = Array.fill(d)(r12(1.0 / math.sqrt(d.toDouble)))
    var w = new Array[Double](d)
    for (_ <- 1 to iters) {
      w = Array.tabulate(d)(i => decSum((0 until d).iterator.map(j => cov(i)(j) * v(j))))
      val norm = math.sqrt(decSum(w.iterator.map(x => x * x)))
      v = w.map(x => r12(x / norm))
    }
    val wf = Array.tabulate(d)(i =>
      decSum((0 until d).iterator.map(j => cov(i)(j) * v(j))))
    val lambda1 = decSum((0 until d).iterator.map(i => v(i) * wf(i)))
    val trace = decSum((0 until d).iterator.map(i => cov(i)(i)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, d.toLong, r6(lambda1), r6(trace),
        if (trace > 0) Some(r6(lambda1 / trace)) else None))
      .toDF("n", "dim", "lambda1", "trace", "top_share")
  }

  /**
   * Top TWO spectral components of the embedding covariance — the
   * reading [[embeddingTopComponent]]'s λ₁ alone cannot give: a space
   * can look healthy on λ₁/trace yet have collapsed onto a PLANE
   * (λ₁ ≈ λ₂ ≫ rest — two dominant directions, e.g. two merged
   * sources), and q319's participation ratio pools all directions into
   * one number. λ₂ comes by deflation (B = C − λ₁·v₁v₁ᵀ — covariance
   * is PSD, so the deflated iteration converges to the true second
   * eigenvalue, no sign games), with the same 12dp-decimal exact
   * replay: [[covCells]] verbatim, `iters` rounds for v₁, `iters`
   * deflated rounds from a first-axis indicator (the projection
   * removal is two decimal-summed scalars per round), Rayleigh
   * readouts.
   *
   * Output: one row (n, dim, lambda1, lambda2, trace, top2_share,
   * gap_ratio = λ₂/λ₁) — 6dp; NULLs on a degenerate λ₁ ≤ 0.
   */
  def embeddingTopTwo(df: DataFrame, vecCol: String,
      iters: Int = 8, maxDim: Int = 128): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters in [1,50]")
    val (n, d, cov) = covCells(df, vecCol, maxDim, "embeddingTopTwo")
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def matvec(x: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => decSum12((0 until d).iterator.map(j => cov(i)(j) * x(j))))
    def dot(a: Array[Double], b: Array[Double]): Double =
      decSum12((0 until d).iterator.map(i => a(i) * b(i)))
    var v = Array.fill(d)(r12(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) {
      val w = matvec(v)
      val norm = math.sqrt(decSum12(w.iterator.map(x => x * x)))
      v = w.map(x => r12(x / norm))
    }
    val lam1 = dot(v, matvec(v))
    // deflation start: the axis with the SECOND-largest |v1| component
    // (tie: smallest i) — the first-largest can coincide with v1 and
    // annihilate, and a least-aligned axis can sit in the kernel; the
    // second-largest stays inside the occupied spectrum. A start that
    // still annihilates means the residual space IS the kernel, and
    // the λ2 = 0 readout is then the truth.
    require(d >= 2, "embeddingTopTwo: need dim >= 2")
    val kStart = (0 until d).sortBy(i => (-math.abs(v(i)), i)).apply(1)
    var u = Array.tabulate(d)(i => if (i == kStart) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val t = dot(v, u)
      val au = matvec(u)
      val s = lam1 * t
      val w2 = Array.tabulate(d)(i => au(i) - s * v(i))
      val norm = math.sqrt(decSum12(w2.iterator.map(x => x * x)))
      u = if (norm > 0.0) w2.map(x => r12(x / norm)) else Array.fill(d)(0.0)
    }
    val t2 = dot(v, u)
    val lam2 = dot(u, matvec(u)) - lam1 * t2 * t2
    val trace = decSum12((0 until d).iterator.map(i => cov(i)(i)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = df.sparkSession
    import spark.implicits._
    val ok = lam1 > 0.0
    Seq((n, d.toLong, r6(lam1),
        if (ok) Some(r6(lam2)) else None, r6(trace),
        if (ok && trace > 0) Some(r6((lam1 + lam2) / trace)) else None,
        if (ok) Some(r6(lam2 / lam1)) else None))
      .toDF("n", "dim", "lambda1", "lambda2", "trace", "top2_share",
        "gap_ratio")
  }

  /**
   * Linear CKA (centered kernel alignment, Kornblith et al. 2019)
   * between two embedding columns over the SAME rows — the
   * representation-similarity read the drift shelf lacks:
   * [[embeddingCentroidDrift]] sees the mean move,
   * [[embeddingTopComponent]] sees one space collapse, CKA asks whether
   * two REPRESENTATIONS of the corpus agree as geometries (invariant to
   * rotation and isotropic scale — exactly what "did int8/PQ/re-embed
   * preserve the space" means):
   *
   *   CKA = ‖Xcᵀ·Yc‖²_F / (‖Xcᵀ·Xc‖_F · ‖Ycᵀ·Yc‖_F)
   *
   * Exactness + shape: both vectors quantize to exact 1e-6-unit longs
   * (the [[embeddingTopComponent]] convention); the two arrays CONCAT
   * into one 2d-vector so ALL three Gram blocks (XX, XY, YY) come from
   * ONE n·(2d)² cell aggregation — one pass over rows, cells bounded by
   * the maxDim contract (4d² ≤ 65,536), collected d²-sized, never
   * n-sized. Each centered cell is n·Σzz − Σz·Σz exact decimal,
   * 12dp-normalized; Frobenius sums ride 12dp-rounded decimal terms
   * (order-free, SQL-replayable verbatim). Ragged or mismatched dims
   * refuse loudly (the q366 discipline).
   *
   * Output: one row (n, dim, hsic_xy, hsic_xx, hsic_yy, cka) — hsic at
   * 12dp, cka 6dp; NULL cka on a degenerate (constant) side.
   */
  def embeddingCka(df: DataFrame, xCol: Column, yCol: Column,
      maxDim: Int = 128): DataFrame = {
    def units(c: Column): Column = transform(c,
      v => round(v.cast("double") * lit(1e6), 0).cast("long"))
    val base = df.where(xCol.isNotNull && yCol.isNotNull)
      .select(concat(units(xCol), units(yCol)).as("__z"),
        size(units(xCol)).as("__dx"), size(units(yCol)).as("__dy"))
      .cache()
    // ONE probe job: n + dim bounds, checked BEFORE the moment pass
    val pr = base.agg(count(lit(1)),
      max(col("__dx")), min(col("__dx")),
      max(col("__dy")), min(col("__dy"))).head()
    val n = pr.getLong(0)
    require(n >= 2, "embeddingCka: need at least two vectors")
    val (dxMax, dxMin, dyMax, dyMin) =
      (pr.getInt(1), pr.getInt(2), pr.getInt(3), pr.getInt(4))
    require(dxMax == dxMin && dyMax == dyMin,
      s"embeddingCka: ragged dims x=[$dxMin,$dxMax] y=[$dyMin,$dyMax] — " +
        "mixed dimensionality would zero-fill cells; filter to one dim first")
    require(dxMax == dyMax,
      s"embeddingCka: dim mismatch x=$dxMax vs y=$dyMax — CKA compares " +
        "the same rows, not the same axes, but the cell pass needs " +
        "declared shapes; project or pad deliberately first")
    val d = dxMax
    require(d >= 1 && d <= maxDim,
      s"embeddingCka: dim $d outside [1,$maxDim] — the exact cell pass " +
        s"is n·(2d)² work; raise the bound deliberately")
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // all three Gram blocks' sums and cells in ONE pass over the
    // concatenated 2d vector
    val cov = centeredCells(base, "__z", n, 2 * d)
    base.unpersist(false)
    def decSum(terms: Iterator[Double]): Double =
      terms.foldLeft(BigDecimal(0))((a, t) =>
        a + BigDecimal(t).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .toDouble
    val range = 0 until d
    val hxy = decSum(for (i <- range.iterator; j <- range.iterator)
      yield cov(i)(d + j) * cov(i)(d + j))
    val hxx = decSum(for (i <- range.iterator; j <- range.iterator)
      yield cov(i)(j) * cov(i)(j))
    val hyy = decSum(for (i <- range.iterator; j <- range.iterator)
      yield cov(d + i)(d + j) * cov(d + i)(d + j))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cka = if (hxx > 0 && hyy > 0)
      Some(r6(hxy / math.sqrt(hxx * hyy))) else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, d.toLong, r12(hxy), r12(hxx), r12(hyy), cka))
      .toDF("n", "dim", "hsic_xy", "hsic_xx", "hsic_yy", "cka")
  }

  def embeddingCentroids(df: DataFrame, group: Column, vecCol: String): DataFrame = {
    val perDim = df.select(group.as("grp"),
        posexplode(col(vecCol)).as(Seq("pos", "val")))
      .groupBy(col("grp"), col("pos"))
      .agg(round(avg(col("val").cast("double")), 6).as("m"))
    perDim.groupBy(col("grp")).agg(
      count(lit(1)).as("dim"),
      transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"),
      round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"),
      round(sum(col("m")), 6).as("centroid_sum"))
  }
}
