package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.jaroWinkler

/**
 * Record linkage / entity resolution: find pairs of records whose names
 * are the same real-world entity under typos and transpositions — the
 * source-metadata dedup step (authors, domains, publishers) a curation
 * pipeline runs beside content dedup. Blocking first, similarity second:
 * candidate pairs form ONLY inside a block (first character + exact
 * length here — the classic cheap key), so the quadratic term is bounded
 * by the largest block, never the corpus. The [[graft.expr.JaroWinklerExpr]]
 * kernel scores candidates inside codegen.
 *
 * Shape at scale: one shuffle keyed on the block key; within-block pairs
 * via self-join on the key with `keyCol` ordering (a < b) so each pair
 * scores once. Name-frequency skew is the PPJoin concern (Dedup.scala's
 * posting-cap discipline): a pathological block (every record named
 * "unknown") needs an upstream exact-dup collapse first — `blockCounts`
 * exposes the block histogram so callers can see the skew before paying
 * for it.
 */
object EntityMatch {

  /** Candidate pairs with Jaro-Winkler ≥ `minSim` inside
    * (name-prefix, length) blocks. Output: (a, b, sim) with a < b on
    * `keyCol` and sim rounded to 6dp BEFORE the threshold compare, so an
    * engine-vs-oracle ulp cannot flip a boundary pair.
    *
    * `prefixLen` sets the blocking grain: 1 (default) is the classic
    * (first-char, length) key — cheap, recall-safe for leading-char-
    * preserving typos, but its key space is BOUNDED (≤ ~26·lengths), so
    * block sizes grow linearly with ANY corpus and pair mass goes
    * quadratic at scale. At 100 TB use prefixLen 3-4: on a
    * diversity-growing corpus the key space grows with the data and
    * block density stays constant (the `Rehearse density`-measured linear
    * regime). The recall trade is explicit: a typo INSIDE the prefix
    * escapes the block at any prefixLen > the typo position — the same
    * contract every blocking scheme carries. */
  def nameMatchBlocked(entities: DataFrame, keyCol: String, nameCol: String,
      minSim: Double, prefixLen: Int = 1): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, "minSim must be in (0,1]")
    require(prefixLen >= 1, "prefixLen >= 1")
    val blocked = entities.select(
      col(keyCol), col(nameCol),
      concat_ws("_", substring(lower(col(nameCol)), 1, prefixLen),
        length(col(nameCol)).cast("string")).as("__blk"))
    val a = blocked.select(col("__blk"), col(keyCol).as("a"),
      col(nameCol).as("__na"))
    val b = blocked.select(col("__blk"), col(keyCol).as("b"),
      col(nameCol).as("__nb"))
    a.join(b, Seq("__blk"))
      .where(col("a") < col("b"))
      .withColumn("sim", round(jaroWinkler(col("__na"), col("__nb")), 6))
      .where(col("sim") >= lit(minSim))
      .select(col("a"), col("b"), col("sim"))
  }

  /** Block-size histogram — the skew probe to run before a match pass. */
  def blockCounts(entities: DataFrame, nameCol: String,
      prefixLen: Int = 1): DataFrame =
    entities.groupBy(
        concat_ws("_", substring(lower(col(nameCol)), 1, prefixLen),
          length(col(nameCol)).cast("string")).as("block"))
      .agg(count(lit(1)).as("n"))
}
