package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Graft
import graft.schema._

/** Zipf(s) sampler over `n` keys, ranks shuffled by the seed so hot keys
  * differ per seed. */
final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
  private val cdf = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val perm = rng.shuffle((0 until n).toVector)
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    perm(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
}

/**
 * tostore's embedded-DB traffic: a seeded, Zipf-keyed closed loop of
 * about 70% facade reads and 30% facade writes from one client thread,
 * against a warehouse seeded from the generated tables. Every call is
 * checked against an in-memory model of the rows and KV values it
 * should see; one standing watch on `accounts` re-runs inside every
 * write to that table and is checked too.
 */
final class AppOps(spark: SparkSession, dataDir: String, workDir: String, seed: Long)
    extends Workload {
  private val rng = new scala.util.Random(seed)
  private val sc = spark.sparkContext
  private val hub = new graft.streaming.WatchHub
  private lazy val engine = Graft.withWarehouse(spark, dataDir, s"$workDir/warehouse").watched(hub)

  private case class Account(name: String, nation: Long, balance: Double, segment: String)
  private case class Order(cust: String, total: Double)
  private val accounts = mutable.Map.empty[String, Account]
  private val orders = mutable.Map.empty[String, Order]
  private val kv = mutable.Map.empty[String, String]
  private var vectors: Array[(String, Array[Double])] = Array.empty
  private lazy val accountKeys = accounts.keys.toVector.sorted
  private lazy val kvKeys = kv.keys.toVector.sorted
  private lazy val hotAccount = new Zipf(accountKeys.size, AppOps.ZipfS, rng)
  private lazy val hotKey = new Zipf(kvKeys.size, AppOps.ZipfS, rng)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val WatchSegment = "BUILDING"
  @volatile private var watchRows: Seq[Row] = Nil
  private val watchNs = mutable.ArrayBuffer.empty[Double]
  private var inserted = 0
  private var submittedBytes = 0L
  private val amp = new WriteAmp(sc)

  override def setup(out: Outcome): Map[String, Double] = {
    val t0 = System.nanoTime()
    engine.createTable(TableSchema("accounts", PrimaryKeyConfig("id", PkStrategy.None), Seq(
      FieldSchema("name", GType.GText), FieldSchema("nation", GType.GInteger),
      FieldSchema("balance", GType.GDouble), FieldSchema("segment", GType.GText))))
    engine.createTable(TableSchema("orders", PrimaryKeyConfig("id", PkStrategy.None), Seq(
      FieldSchema("cust", GType.GText), FieldSchema("total", GType.GDouble),
      FieldSchema("status", GType.GText), FieldSchema("priority", GType.GText))))
    engine.createTable(TableSchema("vecs", PrimaryKeyConfig("id", PkStrategy.None), Seq(
      FieldSchema("embedding", GType.GVector, vectorConfig = Some(VectorFieldConfig(64))),
      FieldSchema("label", GType.GInteger))))
    val read = (t: String) => spark.read.parquet(s"$dataDir/$t.parquet")
    val acc = read("customer").select(col("c_custkey").cast("string").as("id"),
      col("c_name").as("name"), col("c_nationkey").cast("long").as("nation"),
      col("c_acctbal").as("balance"), col("c_mktsegment").as("segment"))
    val ord = read("orders").select(col("o_orderkey").cast("string").as("id"),
      col("o_custkey").cast("string").as("cust"), col("o_totalprice").as("total"),
      col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
    val vec = read("embeddings").select(col("vec_id").cast("string").as("id"),
      col("embedding"), col("label").cast("long").as("label"))
    (0 until AppOps.KvKeys).foreach(i => kv(f"key$i%04d") = s"v$i-${rng.nextInt(1000000)}")
    // the four tables are independent: seed them side by side
    Parallel.run(Nil, Seq(
      () => { engine.insertFrom("accounts", acc); () },
      () => { engine.insertFrom("orders", ord); () },
      () => { engine.insertFrom("vecs", vec); () },
      () => engine.kv.setMany(kv.toSeq.sortBy(_._1))), width = 4)
    acc.collect().foreach(r => accounts(r.getString(0)) =
      Account(r.getString(1), r.getLong(2), r.getDouble(3), r.getString(4)))
    ord.collect().foreach(r => orders(r.getString(0)) = Order(r.getString(1), r.getDouble(2)))
    vectors = vec.collect().map(r => r.getString(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    hub.watchCompute("accounts", () => {
      val t = System.nanoTime()
      val rows = engine.query("accounts").whereEqual("segment", WatchSegment)
        .noDefaultLimit.run().data
      if (Trace.enabled) watchNs += (System.nanoTime() - t).toDouble
      rows
    })(rows => watchRows = rows)
    val seeded = (System.nanoTime() - t0) / 1e9
    // warm-up: one deck (checked, not timed)
    val t1 = System.nanoTime()
    rng.shuffle(Deck).foreach(runOp(_, out, timed = false))
    Map("seed_s" -> seeded, "warm_s" -> (System.nanoTime() - t1) / 1e9)
  }

  private sealed abstract class Op(val name: String, val module: String,
      val weight: Int, val write: Boolean)
  private case object Get extends Op("query.run", "query", 5, false)
  private case object GetCached extends Op("query.run_cached", "query", 2, false)
  private case object OrdersOf extends Op("query.orders", "query", 3, false)
  private case object KvGet extends Op("kv.get", "kv", 2, false)
  private case object Vec extends Op("vector.search", "vector", 2, false)
  private case object KvSet extends Op("kv.set", "kv", 2, true)
  private case object Update extends Op("write.update", "write", 2, true)
  private case object Insert extends Op("write.insert", "write", 1, true)
  private case object Upsert extends Op("write.upsert", "write", 1, true)
  private val Ops = Seq(Get, GetCached, OrdersOf, KvGet, Vec, KvSet, Update, Insert, Upsert)

  /** Ops are dealt in shuffled decks holding each kind `weight` times
    * (14 reads, 6 writes; the per-kind weights are assumed, see
    * perfbench/README.md): every seed and every run times the same 70/30
    * mix; only the order and the keys change. */
  private val Deck = Ops.flatMap(op => Seq.fill(op.weight)(op))
  /** Nominal wall of one deck on 4 cores. */
  private val DeckSeconds = 5.0

  private def rowBytes(vs: Seq[Any]): Long = vs.map {
    case s: String => s.getBytes("UTF-8").length.toLong
    case _ => 8L
  }.sum

  private def same(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  private def checkAccount(k: String, rows: Seq[Row]): Option[String] = {
    val a = accounts(k)
    rows match {
      case Seq(r) if r.getAs[String]("name") == a.name && r.getAs[Long]("nation") == a.nation &&
          same(r.getAs[Double]("balance"), a.balance) && r.getAs[String]("segment") == a.segment => None
      case _ => Some(s"account $k: got ${rows.mkString(";")}, want $a")
    }
  }

  private def checkWatch(): Option[String] = {
    val want = accounts.filter(_._2.segment == WatchSegment)
    val got = watchRows.map(r => r.getAs[String]("id") -> r.getAs[Double]("balance")).toMap
    if (got.size == want.size && want.forall { case (k, a) => got.get(k).exists(same(_, a.balance)) })
      None
    else Some(s"watch rows ${got.size} vs model ${want.size}")
  }

  /** Exact cosine distances to every vector, nearest first. */
  private def ranked(q: Array[Double]): Seq[(String, Double)] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    vectors.toSeq.map { case (id, v) =>
      val dot = v.indices.map(i => v(i) * q(i)).sum
      id -> (1.0 - dot / (math.sqrt(v.map(x => x * x).sum) * qn))
    }.sortBy(t => (t._2, t._1))
  }

  /** Run one op: time the facade call, then check it (untimed). */
  private def runOp(op: Op, out: Outcome, timed: Boolean): Unit = {
    var verdict: () => Option[String] = () => None
    val body: () => Unit = op match {
      case Get | GetCached =>
        val k = accountKeys(hotAccount.next())
        () => {
          val q0 = engine.query("accounts").whereEqual("id", k)
          val rows = (if (op == GetCached) q0.useQueryCache() else q0).run().data
          verdict = () => checkAccount(k, rows)
        }
      case OrdersOf =>
        val k = accountKeys(hotAccount.next())
        () => {
          val rows = engine.query("orders").whereEqual("cust", k).orderByDesc("total")
            .limit(5).run().data
          verdict = () => {
            val want = orders.values.filter(_.cust == k).map(_.total).toSeq.sorted.reverse.take(5)
            val got = rows.map(_.getAs[Double]("total"))
            if (got.size == want.size && got.zip(want).forall(t => same(t._1, t._2))) None
            else Some(s"orders of $k: $got vs $want")
          }
        }
      case KvGet =>
        val k = kvKeys(hotKey.next())
        () => {
          val v = engine.kv.get(k)
          verdict = () => if (v == kv.get(k)) None else Some(s"kv $k: $v vs ${kv.get(k)}")
        }
      case Vec =>
        val q = vectors(rng.nextInt(vectors.length))._2.map(_ + rng.nextGaussian() * 0.05)
        () => {
          val rows = engine.vectorSearch("vecs", "embedding", q.toSeq, topK = 10).collect()
          verdict = () => {
            // distances are rounded to 6 places by the engine: a hit is
            // right when its distance matches and ties the exact top-10
            val all = ranked(q)
            val cutoff = all(9)._2
            val dist = all.toMap
            val ok = rows.length == 10 && rows.forall(r => dist.get(r.getString(0))
              .exists(d => math.abs(r.getDouble(1) - d) < 2e-6 && d <= cutoff + 2e-6))
            if (ok) None
            else Some(s"top-10 ${rows.map(_.getString(0)).mkString(",")} vs ${all.take(10).map(_._1).mkString(",")}")
          }
        }
      case KvSet =>
        val k = kvKeys(hotKey.next()); val v = s"w${rng.nextInt(1000000)}"
        submittedBytes += rowBytes(Seq(k, v))
        () => { engine.kv.set(k, v); kv(k) = v; verdict = () => None }
      case Update =>
        val k = accountKeys(hotAccount.next()); val b = math.rint(rng.nextDouble() * 1e6) / 100
        submittedBytes += rowBytes(Seq(k, b))
        () => {
          engine.update("accounts").set("balance", b).where("id", "=", k).apply()
          accounts(k) = accounts(k).copy(balance = b)
          verdict = () => checkWatch()
        }
      case Insert =>
        inserted += 1
        val id = s"n$seed-$inserted"; val cust = accountKeys(hotAccount.next())
        val total = math.rint(rng.nextDouble() * 5e7) / 100
        val row = Map[String, Any]("id" -> id, "cust" -> cust, "total" -> total,
          "status" -> "O", "priority" -> "3-MEDIUM")
        submittedBytes += rowBytes(row.values.toSeq)
        () => { engine.insert("orders", row); orders(id) = Order(cust, total); verdict = () => None }
      case Upsert =>
        val rows = (0 until AppOps.UpsertRows).map { _ =>
          val k = accountKeys(hotAccount.next())
          val a = accounts(k).copy(balance = math.rint(rng.nextDouble() * 1e6) / 100,
            segment = Segments(rng.nextInt(Segments.size)))
          k -> a
        }
        rows.foreach { case (k, a) => submittedBytes += rowBytes(Seq(k, a.name, a.nation, a.balance, a.segment)) }
        () => {
          val rep = engine.batchUpsert("accounts", rows.map { case (k, a) =>
            Map[String, Any]("id" -> k, "name" -> a.name, "nation" -> a.nation,
              "balance" -> a.balance, "segment" -> a.segment) })
          rows.foreach { case (k, a) => accounts(k) = a }
          verdict = () =>
            if (rep.failedCount != 0) Some(s"upsert rejected ${rep.failedCount} rows")
            else checkWatch()
        }
    }
    try {
      val (_, ns) = Trace.call(op.module, op.name, sc)(body())
      if (timed) out.sample((if (op.write) "write_ms/" else "read_ms/") + op.name, ns / 1e6)
      out.check(op.name, verdict())
    } catch {
      case NonFatal(e) => out.check(op.name, Some(e.toString))
    }
  }

  override def measure(seconds: Double, out: Outcome): Double = {
    val t0 = System.nanoTime()
    val decks = Units.count(seconds, DeckSeconds)
    val submitted0 = submittedBytes
    amp.during(submittedBytes - submitted0) {
      for (_ <- 1 to decks) {
        val d0 = System.nanoTime()
        rng.shuffle(Deck).foreach(runOp(_, out, timed = true))
        out.sample("ops_per_s", Deck.size / ((System.nanoTime() - d0) / 1e9))
      }
    }
    (System.nanoTime() - t0) / 1e9 / (decks * Deck.size)
  }

  override def finish(out: Outcome): Unit = out.values("write_amp") = amp.ratio

  override def layers(spans: Seq[Span]): Map[String, Double] = {
    val (_, _, hits, misses) = engine.queryCache.stats
    val writes = spans.filter(s => s.module == "write" || s.name == "kv.set")
    val files = {
      val root = new java.io.File(s"$workDir/warehouse")
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root).toDouble
    }
    Map(
      "query.run_ms" -> Layers.wallMs(spans, "query.run"),
      "query.jobs_per_call" -> Layers.perCall(spans, "query", "spark.jobs"),
      "query.cache_hit_ratio" -> hits.toDouble / math.max(1L, hits + misses),
      "query.cache_lookups" -> (hits + misses).toDouble,
      "kv.get_ms" -> Layers.wallMs(spans, "kv.get"),
      "vector.search_ms" -> Layers.wallMs(spans, "vector.search"),
      "kv.set_ms" -> Layers.wallMs(spans, "kv.set"),
      "write.insert_ms" -> Layers.wallMs(spans, "write.insert"),
      "write.upsert_ms" -> Layers.wallMs(spans, "write.upsert"),
      "write.update_ms" -> Layers.wallMs(spans, "write.update"),
      "write.jobs_per_call" -> Layers.mean(writes.map(_.counts("spark.jobs"))),
      "write.bytes" -> Layers.mean(writes.map(_.counts("write.bytes"))),
      "write.files_live" -> files,
      "streaming.watch_rerun_ms" -> Layers.median(watchNs.map(_ / 1e6).toSeq))
  }
}

/** Traffic parameters; the sources are in perfbench/README.md. */
object AppOps {
  /** YCSB's zipfian constant (`ZipfianGenerator.ZIPFIAN_CONSTANT`). */
  val ZipfS = 0.99
  /** YCSB's core workloads load 1,000 records (`recordcount=1000`). */
  val KvKeys = 1000
  /** Rows per `batchUpsert` call. */
  val UpsertRows = 50
}
