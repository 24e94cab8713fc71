package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * The 405-query suite in miniature: a fixed, stratified sample of
 * `SparkEntry.queries` (one query per family, the LLM-data pipeline
 * stages, state-committing and streaming gates). Setup runs the sample
 * once (warm pass) and writes each result as parquet for the DuckDB
 * oracle check; the timed loop then replays whole passes of the sample,
 * order permuted by the seed, into a noop sink.
 */
final class AnalyticsMix(spark: SparkSession, dataDir: String, workDir: String, seed: Long)
    extends Workload {
  import AnalyticsMix._
  private val rng = new scala.util.Random(seed)
  private val sample: Seq[String] = Reads ++ Writes

  private def run(name: String, sink: String, out: Outcome, timed: Boolean): Unit = {
    val module = Modules.getOrElse(name, "query")
    try {
      val (_, ns) = Trace.call(module, name, spark.sparkContext) {
        val w = SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite")
        if (sink == "noop") w.format("noop").save() else w.parquet(sink)
      }
      if (timed) out.sample((if (Writes.contains(name)) "write_ms/" else "read_ms/") + name, ns / 1e6)
      out.check(name, None)
    } catch {
      case NonFatal(e) => out.check(name, Some(e.toString))
    }
  }

  override def setup(out: Outcome): Map[String, Double] = {
    val t0 = System.nanoTime()
    val sqls = sample.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$workDir/oracle_sql.json"),
      Json(sqls).getBytes("UTF-8"))
    val (serial, pooled) = rng.shuffle(sample).partition(Modules.get(_).contains("streaming"))
    def task(n: String) = () => run(n, s"$workDir/out/$n", out, timed = false)
    Parallel.run(serial.map(task), pooled.map(task), width = 3)
    Map("warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  private val amp = new WriteAmp(spark.sparkContext)
  private lazy val inputBytes = WriteAmp.inputBytes(dataDir)

  override def measure(seconds: Double, out: Outcome): Double = {
    val t0 = System.nanoTime()
    val passes = Units.count(seconds, PassSeconds)
    for (_ <- 1 to passes) amp.during(inputBytes * sample.size) {
      val p0 = System.nanoTime()
      rng.shuffle(sample).foreach(run(_, "noop", out, timed = true))
      out.sample("ops_per_s", sample.size / ((System.nanoTime() - p0) / 1e9))
    }
    (System.nanoTime() - t0) / 1e9 / passes
  }

  override def finish(out: Outcome): Unit = out.values("write_amp") = amp.ratio

  override def layers(spans: Seq[Span]): Map[String, Double] =
    StageLayers.map { case (q, layer) => layer -> Layers.wallMs(spans, q) / 1e3 }.toMap
}

object AnalyticsMix {
  /** Read-only queries: one per operator family (relational aggregate
    * and join, upsert merge plan, text, vector, graph, statistics) and the
    * LLM-data pipeline stages (profile, minhash, curate, contamination,
    * exact batch top-k, k-means). q21 builds the merge of `Writes.upsertMerge`
    * but commits nothing. */
  val Reads: Seq[String] = Seq(
    "q07_agg_groupby", "q13_join_multi3", "q21_upsert", "q32_vector_search",
    "q176_pagerank", "q193_ab_test", "q27_text_quality", "q29_dedup_minhash",
    "q110_curate_e2e", "q79_contamination", "q255_rank_eval", "q301_kmeans")
  /** Gates that commit state: a warehouse write, an index build and
    * Structured Streaming micro-batches. */
  val Writes: Seq[String] = Seq(
    "q57_bulk_ingest", "q196_bm25_indexed", "q84_stream_quality", "q154_stream_join")
  /** Nominal wall of one pass on 4 cores. */
  val PassSeconds = 12.0
  /** The module each query's span is attributed to. */
  val Modules: Map[String, String] = Map(
    "q27_text_quality" -> "pipeline", "q29_dedup_minhash" -> "pipeline",
    "q110_curate_e2e" -> "pipeline", "q79_contamination" -> "pipeline",
    "q196_bm25_indexed" -> "pipeline", "q32_vector_search" -> "vector",
    "q255_rank_eval" -> "vector", "q176_pagerank" -> "operators",
    "q193_ab_test" -> "operators", "q301_kmeans" -> "operators",
    "q21_upsert" -> "write", "q57_bulk_ingest" -> "write",
    "q84_stream_quality" -> "streaming", "q154_stream_join" -> "streaming")
  /** Per-stage wall layers of the pipeline and operator stages (s). */
  val StageLayers: Seq[(String, String)] = Seq(
    "q27_text_quality" -> "pipeline.profile_s", "q29_dedup_minhash" -> "pipeline.minhash_s",
    "q110_curate_e2e" -> "pipeline.curate_s", "q79_contamination" -> "pipeline.contamination_s",
    "q196_bm25_indexed" -> "pipeline.bm25_s", "q255_rank_eval" -> "vector.batch_s",
    "q301_kmeans" -> "operators.kmeans_s")
}
