package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.SchemaRegistry
import graft.query.QueryBuilder
import graft.schema.TableSchema

/**
 * Engine facade — the role of the reference's `ToStore` entry object
 * (/root/reference/lib/tostore.dart). Holds a SparkSession, a schema
 * registry, a read-only data directory (driver TESTDATA parquet) and an
 * optional managed warehouse for write operations.
 *
 * Resolution order for `table(name)`: managed warehouse table (current
 * space, then global) → `$dataDir/$name.parquet`.
 *
 * Spaces (lib/tostore.dart:529-532): isolated namespaces; global tables are
 * visible from every space. In Spark a space is a path prefix in the
 * warehouse; `switchSpace` returns a cheap engine copy.
 */
final class Graft(
    val spark: SparkSession,
    val dataDir: String,
    val warehouse: Option[String] = None,
    val space: String = "default",
    val registry: SchemaRegistry = new SchemaRegistry,
    val defaultQueryLimit: Int = 1000, // data_store_config.dart:208
    val maxQueryOffset: Int = 10000, // data_store_config.dart:209
    val hub: Option[graft.streaming.WatchHub] = None,
    /** Opt-in query-RESULT cache (reference TreeCache, 50 MB budget —
      * query_executor.dart:42-49); shared across `switchSpace`/`watched`
      * copies like the registry, keys carry the space. */
    val queryCache: graft.query.QueryCache = new graft.query.QueryCache()) {

  def switchSpace(name: String): Graft =
    new Graft(spark, dataDir, warehouse, name, registry, defaultQueryLimit,
      maxQueryOffset, hub, queryCache)

  /** Engine copy whose WRITES notify `h`: every append/overwrite (insert,
    * update, delete, upsert, clear, migration, FK action) publishes a
    * ChangeEvent, so `h.watch(query)` re-runs on engine writes — the
    * reference's automatic watch notification (notification_manager.dart:9;
    * writes publish, watches on the table re-execute). */
  def watched(h: graft.streaming.WatchHub): Graft =
    new Graft(spark, dataDir, warehouse, space, registry, defaultQueryLimit,
      maxQueryOffset, Some(h), queryCache)

  private[graft] def notifyWrite(op: String, table: String): Unit = {
    queryCache.invalidate(table) // BEFORE watchers re-read
    hub.foreach(_.publish(graft.streaming.ChangeEvent(op, table, None, None,
      new java.sql.Timestamp(System.currentTimeMillis()))))
  }

  /** TTL without an explicit sourceField falls back to the engine-managed
    * ingest timestamp (reference: hidden _system_ingest_ts_ms column,
    * table_schema.dart:18-19) — added to the declared schema; batchInsert
    * fills it. Applied by BOTH createTable and migrateTable so a migration
    * never drops the column a TTL filter depends on. */
  private def withSystemColumns(schema0: TableSchema): TableSchema =
    if (schema0.ttl.exists(_.sourceField.isEmpty) &&
        !schema0.fields.exists(_.name == Graft.IngestTsCol))
      schema0.copy(fields = schema0.fields :+
        graft.schema.FieldSchema(Graft.IngestTsCol, graft.schema.GType.GDateTime,
          nullable = false, defaultCurrentTimestamp = true))
    else schema0

  /** Registers the schema; the physical directory materializes on first
    * write (a registered-but-never-written table reads as empty straight
    * from the declared schema — `table()` — so creating N tables costs
    * zero Spark jobs and zero files, exactly like the reference's lazy
    * file creation, data_store_impl.dart table init). */
  def createTable(schema0: TableSchema): Unit =
    registry.register(space, withSystemColumns(schema0))

  def createTables(schemas: TableSchema*): Unit = schemas.foreach(createTable)

  private[graft] def managedPath(name: String, global: Boolean = false): String = {
    val w = warehouse.getOrElse(
      throw new IllegalStateException("engine has no warehouse configured for writes"))
    val sp = if (global || registry.get(space, name).exists(_.isGlobal)) "global" else space
    s"$w/$sp/$name"
  }

  /** Key for IdGen's in-process sequence state: scoped by PHYSICAL
    * location (same resolution as `managedPath` — global tables live under
    * `global/` and must share one sequence across every space that writes
    * them) so same-named tables in different warehouses/spaces never share
    * a sequence, while concurrent batches on ONE physical table always do. */
  private def idScope(name: String): String = {
    val sp = if (registry.get(space, name).exists(_.isGlobal)) "global" else space
    s"${warehouse.getOrElse(dataDir)}/$sp/$name"
  }

  private def managedExists(name: String): Boolean =
    warehouse.exists { w =>
      Files.exists(Paths.get(s"$w/$space/$name")) ||
        Files.exists(Paths.get(s"$w/global/$name"))
    }

  /** Read a table as a DataFrame. TTL tables get the reference's standing
    * expiry filter at scan time (table_schema.dart:1804-1885). */
  def table(name: String): DataFrame = {
    val df =
      if (managedExists(name)) {
        val w = warehouse.get
        val local = s"$w/$space/$name"
        val p = if (Files.exists(Paths.get(local))) local else s"$w/global/$name"
        graft.sources.ParquetNanos.read(spark, p)
      } else registry.get(space, name) match {
        // registered but never written: empty frame straight from the
        // declared schema (createTable defers the physical directory to
        // the first write — and a registered table must SHADOW a
        // same-named dataDir parquet, as the managed read above does)
        case Some(s) if warehouse.isDefined =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.sparkSchema)
        case _ => graft.sources.ParquetNanos.read(spark, s"$dataDir/$name.parquet")
      }
    registry.get(space, name).flatMap(_.ttl) match {
      case Some(ttl) =>
        val src = ttl.sourceField.getOrElse(Graft.IngestTsCol)
        import org.apache.spark.sql.functions._
        // millisecond interval: integer-second truncation would zero out
        // sub-second TTLs
        df.where(col(src) >= (current_timestamp() - expr(s"INTERVAL ${ttl.ttlMs} MILLISECOND")))
      case None => df
    }
  }

  def query(name: String): QueryBuilder = QueryBuilder(this, name)

  /** ANSI SQL over the engine's tables (Spark superset — the reference has
    * NO SQL parser, SURVEY.md §intro; the chain API is its only language).
    * Referenced table names are resolved through `table()` (managed space
    * → global → dataDir) and registered as temp views on demand. */
  def sql(query: String): DataFrame = {
    // resolve referenced relations through the real SQL parser (a regex
    // over query text misses quoted identifiers and false-positives on
    // names inside string literals): collect UnresolvedRelation across the
    // plan INCLUDING expression subqueries, then register the known ones
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    // CTE definitions are NOT plan children at parse time
    // (UnresolvedWith.cteRelations) — recurse into them explicitly
    def rels(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
      p.collectWithSubqueries {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          Seq(r.multipartIdentifier.last.toLowerCase)
        case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
          w.cteRelations.flatMap { case (_, rel, _) => rels(rel) }
      }.flatten
    val referenced = rels(plan).toSet
    val known = (registry.tables(space) ++ dataDirTables).distinct
    known.filter(t => referenced.contains(t.toLowerCase))
      .foreach(t => table(t).createOrReplaceTempView(t))
    spark.sql(query)
  }

  private def dataDirTables: Seq[String] = {
    val d = new java.io.File(dataDir)
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq.map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
  }

  // ---------- write surface (lib/tostore.dart:332-686) ----------

  /** update(table).set(...).where(...) — fluent chain; `.preview` or
    * `.apply()` (atomic overwrite). */
  def update(name: String): graft.write.UpdateBuilder =
    graft.write.UpdateBuilder(this, name)

  /** delete(table).where(...) — anti-filter chain. */
  def delete(name: String): graft.write.DeleteBuilder =
    graft.write.DeleteBuilder(this, name)

  /** Single-row insert (schema-validated append). */
  def insert(name: String, row: Map[String, Any]): Unit = batchInsert(name, Seq(row))

  /** Bulk insert. With `allowPartialErrors` invalid rows are skipped and
    * reported instead of failing the batch (tostore.dart:586-597). */
  def batchInsert(name: String, rows: Seq[Map[String, Any]],
      allowPartialErrors: Boolean = false): graft.write.WriteReport =
    ingestStaged(name, stageRows(name, rows), allowPartialErrors)

  /** Batch upsert of loosely-typed rows (reference batchUpsert,
    * tostore.dart:637-648): coercion/constraint failures split into the
    * report (`allowPartialErrors` defaults TRUE, as the reference); valid
    * rows merge update-or-insert by the registered unique key. Duplicate
    * keys within the batch: the LAST occurrence wins (write order). */
  def batchUpsert(name: String, rows: Seq[Map[String, Any]],
      allowPartialErrors: Boolean = true): graft.write.WriteReport =
    // whole flow under the table's write stripe (reentrant with the inner
    // overwrite): the update/insert split and the secondary-unique probe
    // READ the table — concurrent upserts must see each other's writes
    graft.write.Writes.singleTableFlow(managedPath(name)) {
      batchUpsertLocked(name, rows, allowPartialErrors)
    }

  private def batchUpsertLocked(name: String, rows: Seq[Map[String, Any]],
      allowPartialErrors: Boolean): graft.write.WriteReport = {
    import org.apache.spark.sql.functions.{col => c, row_number}
    import org.apache.spark.sql.expressions.Window
    val staged = stageRows(name, rows)
    val regSchema = registry.get(space, name)
    val ks = regSchema.map(_.uniqueKeySets.head).getOrElse(
      throw new IllegalArgumentException(
        "batchUpsert needs a registered schema with a unique key (tostore.dart:637)"))
    val schema = regSchema.map(_.sparkSchema).getOrElse(table(name).schema)
    val notNull = schema.fields.filterNot(_.nullable).map(_.name).toSeq
    val carriers = Seq("__parse_ok", "__row_idx")
    // parse/constraint checks apply to every row; NULLABILITY applies to
    // INSERT rows only — a partial update row stages its absent fields as
    // null and upsertMerge coalesces them to the existing values
    val checks = c("__parse_ok") +:
      regSchema.map(s => graft.write.Writes.constraintChecks(s.fields)).getOrElse(Nil)
    val (parseGood, parseBad) = graft.write.Writes.validateRows(staged, Nil, checks)
    lazy val existingNonEmpty = managedExists(name) && !table(name).isEmpty
    val (updates, inserts) =
      if (existingNonEmpty) {
        val existKeys = table(name).select(ks.map(c): _*)
        (parseGood.join(existKeys, ks, "left_semi"),
          parseGood.join(existKeys, ks, "left_anti"))
      } else (parseGood.limit(0), parseGood)
    val (insGood, insBad) = graft.write.Writes.validateRows(inserts, notNull)
    var good = updates.unionByName(insGood)
    var bads = List(parseBad, insBad)
    // SECONDARY unique key sets (beyond the merge key) stay enforced, with
    // the reference's sequential-apply semantics: within a batch the FIRST
    // occurrence claims the secondary key, and a later row is a collision
    // only when its MERGE key differs (a row re-updating the same record
    // with the same email is a supersede, not a violation — it stays in
    // the batch and the last-wins merge dedup below picks it). A collision
    // with an EXISTING row under a DIFFERENT merge key is rejected (same
    // merge key IS the row being updated — not a collision).
    //
    // KNOWN DIVERGENCE (set-based vs truly sequential): a secondary key
    // FREED mid-batch (its owner re-keyed by an earlier row) is not
    // reclaimable by a later row in the SAME batch — the window sees the
    // original owner and rejects the claim the reference would accept.
    // Split such flows into two batches. (Same family as the loose-join
    // divergence documented in COVERAGE.md.)
    regSchema.toSeq.flatMap(_.uniqueKeySets.distinct).filterNot(_ == ks).foreach { uks =>
      if (uks.forall(staged.columns.contains)) {
        import org.apache.spark.sql.functions.first
        val keyNotNull = uks.map(c(_).isNotNull).reduce(_ && _)
        val w = Window.partitionBy(uks.map(c): _*).orderBy(c("__row_idx"))
        val marked = ks.foldLeft(good.withColumn("__rn", row_number().over(w))) {
          (df, k) => df.withColumn("__fk_" + k, first(c(k)).over(w))
        }
        val sameMergeAsFirst = ks.map(k => c(k) <=> c("__fk_" + k)).reduce(_ && _)
        val helpers = "__rn" +: ks.map("__fk_" + _)
        bads ::= marked.where(keyNotNull && c("__rn") > 1 && !sameMergeAsFirst)
          .drop(helpers: _*)
        good = marked.where(!keyNotNull || c("__rn") === 1 || sameMergeAsFirst)
          .drop(helpers: _*)
        if (existingNonEmpty) {
          val exCols = (uks ++ ks).distinct
          val existing = table(name).select(exCols.map(c): _*)
            .toDF(exCols.map("__ex_" + _): _*)
          val on = uks.map(k => c(k) <=> c("__ex_" + k)).reduce(_ && _) &&
            keyNotNull && ks.map(k => !(c(k) <=> c("__ex_" + k))).reduce(_ || _)
          bads ::= good.join(existing, on, "left_semi")
          good = good.join(existing, on, "left_anti")
        }
      }
    }
    val failedSnap = bads.reduce(_ unionByName _).dropDuplicates("__row_idx")
      .drop(carriers: _*).localCheckpoint(true)
    val failedCount = failedSnap.count()
    if (!allowPartialErrors && failedCount > 0)
      throw new IllegalArgumentException(
        s"batchUpsert: $failedCount invalid row(s); pass allowPartialErrors to skip them")
    val successCount = rows.size.toLong - failedCount
    // an all-rejected batch must not rewrite the table or publish a phantom
    // upsert ChangeEvent (mirrors the ingestStaged successCount guard)
    if (successCount > 0) {
      // within-batch duplicate MERGE keys: the last occurrence wins
      val w2 = Window.partitionBy(ks.map(c): _*).orderBy(c("__row_idx").desc)
      val deduped = good.withColumn("__rn", row_number().over(w2))
        .where(c("__rn") === 1).drop("__rn").drop(carriers: _*)
      graft.write.Writes.overwrite(this, name,
        graft.write.Writes.upsertMerge(table(name), deduped, ks), op = "upsert")
    }
    graft.write.WriteReport(successCount, failedCount, failedSnap)
  }

  /** Shared staging of loosely-typed map rows: PK generation + per-value
    * coercion to the declared schema, flagged (never thrown) failures,
    * batch row ordinal. Output carries `__parse_ok` + `__row_idx`. */
  private def stageRows(name: String, rows: Seq[Map[String, Any]]): DataFrame = {
    val schema = registry.get(space, name).map(_.sparkSchema)
      .getOrElse(table(name).schema)
    // loose typing (FieldSchema.convertValue, table_schema.dart:1356-1446):
    // values are coerced to the declared column type before encoding
    import org.apache.spark.sql.types._
    def jvm(v: Any, t: DataType): Any = (v, t) match {
      case (null, _)                   => null
      case (x, StringType)             => x.toString
      case (n: Number, LongType)       => n.longValue()
      case (s: String, LongType)       => s.trim.toLong
      case (n: Number, IntegerType)    => n.intValue()
      case (s: String, IntegerType)    => s.trim.toInt
      case (n: Number, DoubleType)     => n.doubleValue()
      case (s: String, DoubleType)     => s.trim.toDouble
      case (b: Boolean, BooleanType)   => b
      case (s: String, BooleanType)    => s.trim.toBoolean
      case (ts: java.sql.Timestamp, TimestampType) => ts
      case (s: String, TimestampType)  => java.sql.Timestamp.valueOf(s)
      case (x, _)                      => x
    }
    val defaultNow = registry.get(space, name).map(_.fields).getOrElse(Nil)
      .filter(_.defaultCurrentTimestamp).map(_.name).toSet
    // PK generation for rows that don't carry one (reference: generator
    // strategies sequential/timestampBased/datePrefixed/shortCode,
    // id_generator.dart; wired at insert, data_store_impl.dart:1527)
    val rowsWithPk: Seq[Map[String, Any]] = registry.get(space, name) match {
      case Some(s) if s.primaryKey.strategy != graft.schema.PkStrategy.None =>
        val pk = s.primaryKey.name
        val missing = rows.zipWithIndex.collect {
          case (m, i) if m.get(pk).forall(_ == null) => i
        }
        if (missing.isEmpty) rows
        else {
          val existingMax =
            if (s.primaryKey.strategy == graft.schema.PkStrategy.Sequential && managedExists(name)) {
              import org.apache.spark.sql.functions.{col => c, max => smax}
              Option(table(name).agg(smax(c(pk).cast("long"))).head.get(0))
                .map(_.asInstanceOf[Long]).getOrElse(0L)
            } else 0L
          val ids = graft.schema.IdGen.generateFor(idScope(name), s.primaryKey.strategy,
            missing.size, existingMax)
          val patch = missing.zip(ids).toMap
          rows.zipWithIndex.map { case (m, i) =>
            patch.get(i).fold(m)(id => m + (pk -> id))
          }
        }
      case _ => rows
    }
    // coercion failures don't throw: the row is flagged and lands in the
    // failed split (the allowPartialErrors contract covers bad values, not
    // just nulls)
    val data = rowsWithPk.zipWithIndex.map { case (m, idx) =>
      var ok = true
      val vs = schema.fields.map { f =>
        val raw =
          if (defaultNow.contains(f.name) && !m.contains(f.name))
            new java.sql.Timestamp(System.currentTimeMillis())
          else m.get(f.name).orNull
        try jvm(raw, f.dataType)
        catch { case _: RuntimeException => ok = false; null }
      }
      org.apache.spark.sql.Row(vs ++ Seq(ok, idx.toLong): _*)
    }
    // stage all-nullable so invalid rows survive encoding long enough to be
    // split out by the validation pass (instead of crashing the encoder)
    val stagingSchema = StructType(schema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("__parse_ok", BooleanType, nullable = false),
      StructField("__row_idx", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, rows.size / 10000)), stagingSchema)
  }

  /** Shared tail of the two ingest paths (`batchInsert`, `insertFrom`):
    * `staged` carries the all-nullable target columns plus `__parse_ok`
    * and `__row_idx`. Splits on nullability + declared constraints +
    * uniqueness, appends the good rows, reports the bad ones.
    *
    * @param provablyUnique key sets whose within-batch uniqueness is
    *        guaranteed by construction (e.g. a PK generated for EVERY row
    *        from a reserved id block + distinct row indexes) — the
    *        within-batch window check is skipped for them (a 10M-row
    *        ingest must not shuffle on a key that cannot collide); the
    *        existing-table anti-join still runs. */
  private def ingestStaged(name: String, staged: DataFrame,
      allowPartialErrors: Boolean,
      provablyUnique: Set[Seq[String]] = Set.empty): graft.write.WriteReport =
    // whole flow under the table's write stripe (reentrant with the inner
    // append/overwrite): the unique-constraint probe READS the table, so
    // two concurrent batches carrying the same key would otherwise both
    // pass the check and both land
    graft.write.Writes.singleTableFlow(managedPath(name)) {
      ingestStagedLocked(name, staged, allowPartialErrors, provablyUnique)
    }

  private def ingestStagedLocked(name: String, staged: DataFrame,
      allowPartialErrors: Boolean,
      provablyUnique: Set[Seq[String]]): graft.write.WriteReport = {
    val schema = registry.get(space, name).map(_.sparkSchema)
      .getOrElse(table(name).schema)
    val notNull = schema.fields.filterNot(_.nullable).map(_.name).toSeq
    // declared constraints (maxLength/minLength/minValue/maxValue) join the
    // parse check — the reference enforces them at insert time
    // (table_schema.dart:1177-1216)
    val regSchema = registry.get(space, name)
    val checks = org.apache.spark.sql.functions.col("__parse_ok") +:
      regSchema.map(s => graft.write.Writes.constraintChecks(s.fields)).getOrElse(Nil)
    val (good0, bad0) = graft.write.Writes.validateRows(staged, notNull, checks)
    // uniqueness (PK + unique indexes/fields, data_store_impl.dart:1527→2229):
    // within-batch first occurrence wins; rows colliding with the existing
    // table are rejected via anti-join (no driver-side key lists)
    import org.apache.spark.sql.functions.{col => c, row_number}
    var good = good0
    var bads = List(bad0)
    // one limit-1 probe decides whether the per-keyset existing-table
    // anti/semi joins run at all — a bulk load into a fresh table must not
    // shuffle the whole batch against an empty scan per unique key set
    lazy val existingNonEmpty = managedExists(name) && !table(name).isEmpty
    regSchema.toSeq.flatMap(_.uniqueKeySets.distinct).foreach { ks =>
      if (ks.forall(staged.columns.contains)) {
        // NULL keys never collide (SQL-standard unique): rows with any null
        // key column bypass both the within-batch and existing-table checks
        val keyNotNull = ks.map(c(_).isNotNull).reduce(_ && _)
        if (!provablyUnique.contains(ks)) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(ks.map(c): _*).orderBy(c("__row_idx"))
          val marked = good.withColumn("__rn", row_number().over(w))
          bads ::= marked.where(keyNotNull && c("__rn") > 1).drop("__rn")
          good = marked.where(!keyNotNull || c("__rn") === 1).drop("__rn")
        }
        if (existingNonEmpty) {
          val existing = table(name).select(ks.map(c): _*)
          bads ::= good.join(existing, ks, "left_semi")
          good = good.join(existing, ks, "left_anti")
        }
      }
    }
    // a row can trip several checks (e.g. two unique key sets, or parse +
    // collision) — dedupe by ordinal so failedCount counts ROWS, not reasons
    val bad = bads.reduce(_ unionByName _).dropDuplicates("__row_idx")
    val carriers = Seq("__parse_ok", "__row_idx")
    // ONE materialization job snapshots BOTH splits (each insert pays fixed
    // per-action overhead, and this path runs per batch): flag, union,
    // localCheckpoint — severing the file-listing lineage a later atomic
    // swap would invalidate — then the report frames, the invalid-rows
    // check, the key collects and the append all read the pinned result
    // instead of re-running the validation pipeline (window dedup +
    // anti-joins) once per action
    val flagged = good.withColumn("__ok", org.apache.spark.sql.functions.lit(true))
      .unionByName(bad.withColumn("__ok", org.apache.spark.sql.functions.lit(false)))
      .localCheckpoint(true)
    val goodSnap = flagged.where(c("__ok")).drop("__ok")
    val failedSnap = flagged.where(!c("__ok")).drop("__ok").drop(carriers: _*)
    val pkOpt = regSchema.map(_.primaryKey.name).filter(staged.columns.contains)
    def keysOf(df: DataFrame): Seq[String] = pkOpt.map(pk =>
      df.select(c(pk).cast("string")).limit(graft.write.WriteReport.KeyListCap)
        .collect().map(_.getString(0)).toSeq).getOrElse(Nil)
    // when the bounded key collect came back under its cap it IS the exact
    // row count — skip the separate count job (these report counts run on
    // every insert; at gate grain the job overhead dominates the data)
    def countVia(keys: Seq[String], df: DataFrame): Long =
      if (pkOpt.isDefined && keys.size < graft.write.WriteReport.KeyListCap)
        keys.size.toLong
      else df.count()
    val failedKeys = keysOf(failedSnap)
    val failedCount = countVia(failedKeys, failedSnap)
    if (!allowPartialErrors && failedCount > 0)
      throw new IllegalArgumentException(
        s"batchInsert: $failedCount invalid row(s); pass allowPartialErrors to skip them")
    val goodKeys = keysOf(goodSnap)
    val successCount = countVia(goodKeys, goodSnap)
    // an all-rejected batch appends nothing — and must not publish a
    // phantom "insert" ChangeEvent to watchers
    if (successCount > 0)
      graft.write.Writes.append(this, name, goodSnap.drop(carriers: _*))
    graft.write.WriteReport(successCount, failedCount, failedSnap,
      goodKeys, failedKeys)
  }

  /**
   * Bulk ingest from a DataFrame — the scale path `batchInsert` is not:
   * rows never materialize on the driver. Loose-typing coercion happens as
   * `try_cast` columns (a failed parse lands the row in the failed split,
   * same contract as batchInsert), defaults fill, and missing primary keys
   * are assigned EXECUTOR-SIDE: one driver-side block reservation
   * (IdGen.reserveFor — the reference's ID-pool role, id_generator.dart:
   * 313-321), then id = encode(base + __row_idx) as a pure Column over the
   * partition-offset row index (one tiny per-partition count job; the
   * index itself is codegen — no RDD round-trip, no collect).
   * A 10M-row frame costs one source pass (indexed + materialized on the
   * executors via localCheckpoint), the validation/unique passes over that
   * checkpoint, and zero driver memory.
   *
   * Note: the full id block (one per input row) is reserved even when some
   * rows already carry a PK — reserved-but-unused ids are gaps, exactly
   * like the reference's discarded pool ids.
   */
  def insertFrom(name: String, src: DataFrame,
      allowPartialErrors: Boolean = false): graft.write.WriteReport = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val reg = registry.get(space, name)
    val schema = reg.map(_.sparkSchema).getOrElse(table(name).schema)
    val defaultNow = reg.map(_.fields).getOrElse(Nil)
      .filter(_.defaultCurrentTimestamp).map(_.name).toSet
    // executor-side global row index (partition offsets; Spark runs one
    // lightweight count job to compute them). MATERIALIZED via
    // localCheckpoint: the validation splits, unique anti-joins, append and
    // report counts all act on this frame, and (a) recomputing the source
    // lineage per action would multiply the ingest cost, (b) a
    // nondeterministic source (round-robin repartition, unstable ordering)
    // could re-index differently between the rows validated and the rows
    // appended — the checkpoint pins one assignment.
    val (idxed, totalRows) = {
      // partition-offset row index WITHOUT an RDD round-trip (zipWithIndex
      // would deserialize every row to a Row object and back, breaking
      // codegen and double-serializing a 10M-row ingest): pos-in-partition
      // is monotonically_increasing_id's low 33 bits, partition offsets
      // come from the same tiny per-partition count job zipWithIndex runs
      // checkpoint BEFORE the partition-count probe: with a nondeterministic
      // source (round-robin repartition, unstable ordering) a probe job and
      // a later materialization job could see different row-to-partition
      // distributions — offsets computed from one, ids assigned from the
      // other (colliding / gapped __row_idx, under-sized reserveFor block).
      // Pinning (__pid, __mid) first makes both passes observe one layout.
      val withMid = src.withColumn("__pid", spark_partition_id())
        .withColumn("__mid", monotonically_increasing_id())
        .localCheckpoint(true)
      // per-partition counts straight off the pinned RDD: one shuffle-free
      // runJob over InternalRow iterators (reads only the __pid int) — the
      // groupBy(__pid).count() alternative costs a shuffle plus AQE stage
      // jobs, pure overhead at per-batch grain
      val pidIdx = withMid.schema.fieldIndex("__pid")
      val counts = withMid.queryExecution.toRdd.mapPartitions { it =>
        var pid = -1; var n = 0L
        it.foreach { r => if (pid < 0) pid = r.getInt(pidIdx); n += 1 }
        if (n == 0) Iterator.empty else Iterator(pid -> n)
      }.collect().sortBy(_._1)
      // O(1) per-row lookup: a dense pid-indexed offset ARRAY (element_at
      // over a literal MAP is a linear key scan per row — 2B comparisons
      // on a 10M-row × 200-partition ingest). Gaps (empty partitions)
      // never look up, any fill value works.
      val countByPid = counts.toMap
      var acc = 0L
      val offByPid = (0 to counts.lastOption.map(_._1).getOrElse(-1)).map { pid =>
        val o = acc; acc += countByPid.getOrElse(pid, 0L); o
      }
      val offCol =
        if (offByPid.isEmpty) lit(0L)
        else element_at(array(offByPid.map(lit): _*), col("__pid") + 1)
      val pos = col("__mid").bitwiseAND(lit((1L << 33) - 1))
      // no second checkpoint needed: the index projection over the pinned
      // (__pid, __mid) columns is deterministic
      val df = withMid
        .withColumn("__row_idx", (offCol + pos).cast(LongType))
        .drop("__pid", "__mid")
      (df, acc)
    }
    // PK assignment (sequential | timestampBased | datePrefixed | shortCode)
    var pkProvablyUnique = Set.empty[Seq[String]]
    val withPk = reg match {
      case Some(s) if s.primaryKey.strategy != graft.schema.PkStrategy.None =>
        import graft.schema.PkStrategy
        val pk = s.primaryKey.name
        val hasCol = idxed.columns.contains(pk)
        val existingMax =
          if (s.primaryKey.strategy == PkStrategy.Sequential && managedExists(name))
            Option(table(name).agg(max(col(pk).cast("long"))).head.get(0))
              .map(_.asInstanceOf[Long]).getOrElse(0L)
          else 0L
        // every strategy (including Sequential, which advances seqState so
        // concurrent reservations never overlap) needs the block size —
        // already known from the partition-count job, no extra action
        val start = graft.schema.IdGen.reserveFor(idScope(name), s.primaryKey.strategy,
          totalRows, existingMax)
        val gen: org.apache.spark.sql.Column = s.primaryKey.strategy match {
          case PkStrategy.ShortCode =>
            // Base62 needs a scalar fn; everything else stays codegen
            val b62 = udf((i: Long) => graft.schema.IdGen.Base62.encode(BigInt(i)))
            b62(lit(start.toLong) + col("__row_idx"))
          case _ => (lit(start.toLong) + col("__row_idx")).cast("string")
        }
        if (hasCol) idxed.withColumn(pk, coalesce(col(pk).cast("string"), gen))
        else {
          // every PK generated from (reserved block + distinct row index):
          // within-batch uniqueness holds by construction, skip its shuffle
          pkProvablyUnique = Set(Seq(pk))
          idxed.withColumn(pk, gen)
        }
      case _ => idxed
    }
    // coercion to the declared schema: try_cast per column (parse failures
    // flag the row instead of failing the job — ANSI-safe), defaults fill
    val casted = schema.fields.toSeq.map { f =>
      if (withPk.columns.contains(f.name))
        expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
      else if (defaultNow.contains(f.name)) current_timestamp().as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val parseOk = schema.fields.toSeq.flatMap { f =>
      if (withPk.columns.contains(f.name))
        Some(col(f.name).isNull || expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").isNotNull)
      else None
    }.reduceOption(_ && _).getOrElse(lit(true))
    val staged = withPk.select(casted ++ Seq(
      parseOk.as("__parse_ok"), col("__row_idx")): _*)
    ingestStaged(name, staged, allowPartialErrors, pkProvablyUnique)
  }

  /**
   * Import a file-based dataset into a managed table — a Spark-native
   * superset (the reference has NO import surface, SURVEY §2.1 "File
   * formats: none"): any `spark.read` format (csv/json/parquet/orc/...)
   * flows through `insertFrom`, so declared-schema coercion (try_cast),
   * constraint/unique splits and executor-side PK assignment all apply.
   * CSV defaults to header=true; pass reader options for the rest.
   */
  def importFrom(name: String, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty,
      allowPartialErrors: Boolean = false): graft.write.WriteReport = {
    val base = spark.read.options(options)
    val reader =
      if (Graft.csvNeedsHeaderDefault(format, options)) base.option("header", "true")
      else base
    insertFrom(name, reader.format(format).load(path), allowPartialErrors)
  }

  /** Export a table (TTL-filtered view, i.e. what queries see) to any
    * `spark.write` format — the symmetric superset of `importFrom`. */
  def exportTo(name: String, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit = {
    val base = table(name).write.options(options).mode("overwrite")
    val writer =
      if (Graft.csvNeedsHeaderDefault(format, options)) base.option("header", "true")
      else base
    writer.format(format).save(path)
  }

  /** batchUpdate: partial per-field update of rows located by PK
    * (tostore.dart:675-686); unknown PKs are ignored (no insert). */
  def batchUpdate(name: String, staged: DataFrame, keys: Seq[String] = Nil): Unit = {
    val ks =
      if (keys.nonEmpty) keys
      else registry.get(space, name).map(s => Seq(s.primaryKey.name)).getOrElse(
        throw new IllegalArgumentException("batchUpdate needs key columns or a registered schema"))
    graft.write.Writes.overwrite(this, name,
      graft.write.Writes.batchUpdateMerge(table(name), staged, ks))
  }

  /** Upsert staged rows by PK / unique key (data_store_impl.dart:2229). */
  def upsert(name: String, staged: DataFrame, keys: Seq[String] = Nil): Unit = {
    val ks =
      if (keys.nonEmpty) keys
      else registry.get(space, name).map(_.uniqueKeySets.head).getOrElse(
        throw new IllegalArgumentException(
          s"upsert needs key columns or a registered schema with a unique key (tostore.dart:605)"))
    graft.write.Writes.overwrite(this, name,
      graft.write.Writes.upsertMerge(table(name), staged, ks), op = "upsert")
  }

  /**
   * Schema auto-migration (reference "Instance Schema Auto Upgrade" —
   * schemas are declared in code; on upgrade the engine reconciles
   * storage): added fields materialize with their default (or null),
   * removed fields are dropped, type changes are cast. The rewrite is an
   * atomic overwrite; at scale prefer running it as a one-off job per
   * table.
   */
  def migrateTable(newSchema0: TableSchema): Unit = {
    val newSchema = withSystemColumns(newSchema0) // keep TTL ingest column alive
    graft.write.Writes.overwrite(this, newSchema.name,
      migrateSelect(table(newSchema.name), newSchema), op = "migrate")
    registry.register(space, newSchema)
  }

  /** Reconcile a frame to a declared schema: matching columns cast, added
    * columns fill their default (or current_timestamp, or null), absent
    * declared-order columns drop. Shared by `migrateTable` and
    * `updateSchema`. */
  private def migrateSelect(current: DataFrame, target: TableSchema): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, current_timestamp}
    val have = current.schema.fieldNames.toSet
    val cols = target.sparkSchema.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else {
        val fieldDef = target.fields.find(_.name == f.name)
        val default = fieldDef.flatMap(_.defaultValue).map(lit)
          .orElse(fieldDef.filter(_.defaultCurrentTimestamp).map(_ => current_timestamp()))
          .getOrElse(lit(null))
        default.cast(f.dataType).as(f.name)
      }
    }
    current.select(cols: _*)
  }

  /** updateSchema(table) chain (tostore.dart:1083-1102) — entry point. */
  def updateSchema(name: String): graft.schema.SchemaUpdateBuilder =
    graft.schema.SchemaUpdateBuilder(this, name)

  /** Reference parity for `queryMigrationTaskStatus(taskId)`
    * (tostore.dart:1104-1124): status of a task started by
    * `updateSchema(...).applyAsync()`, None for an unknown id — exactly
    * the reference's null. Tasks here are completed by the time the id
    * is returned (each space's migration is one atomic Spark rewrite;
    * see [[graft.schema.MigrationStatus]]), so the status always reads
    * 100% with the real per-space record counts. */
  def queryMigrationTaskStatus(taskId: String): Option[graft.schema.MigrationStatus] =
    registry.migrationTask(taskId)

  /** Multi-space form of [[applySchemaUpdate]] (the reference's
    * background-migration shape, tostore.dart:1083-1119): applies the
    * SAME schema update in every space where `table` is registered —
    * current space first, then the others in sorted order — recording a
    * migration task with per-space record counts. Returns the task id.
    * Global tables have exactly one copy, so their task has one space. */
  private[graft] def applySchemaUpdateAllSpaces(
      b: graft.schema.SchemaUpdateBuilder): String = {
    val t0 = System.currentTimeMillis()
    val isGlobal = registry.get(space, b.table).exists(_.isGlobal)
    val others =
      if (isGlobal) Nil
      else registry.allSpaces.sorted
        .filter(sp => sp != space && sp != "global")
        .filter(sp => registry.get(sp, b.table).exists(!_.isGlobal))
    val spaces = space +: others
    val taskId = registry.newMigrationTaskId(b.table)
    def publish(done: Seq[String], records: Long, completed: Boolean): Unit = {
      val elapsed = math.max(1L, System.currentTimeMillis() - t0)
      registry.putMigrationTask(graft.schema.MigrationStatus(
        taskId = taskId, isCompleted = completed, createTimeMs = t0,
        pendingSpaces = spaces.diff(done),
        processedSpacesCount = done.size, totalSpacesCount = spaces.size,
        totalRecordsProcessed = records,
        currentSpaceProgress = if (completed) 1.0 else 0.0,
        throughput = records.toDouble * 1000.0 / elapsed))
    }
    publish(Nil, 0L, completed = false)
    var records = 0L
    var done = Vector.empty[String]
    spaces.foreach { sp =>
      val eng = if (sp == space) this else switchSpace(sp)
      records += eng.table(b.table).count()
      eng.applySchemaUpdate(b)
      done :+= sp
      publish(done, records, completed = done.size == spaces.size)
    }
    taskId
  }

  private[graft] def applySchemaUpdate(b: graft.schema.SchemaUpdateBuilder): Unit =
      graft.write.Writes.exclusiveFlow {
    val cur = registry.get(space, b.table).getOrElse(
      throw new IllegalArgumentException(
        s"updateSchema: no registered schema for '${b.table}'"))
    // a PK-config name change is a column rename (data preserved)
    val pkRename = b.pkConfig.map(_.name).filter(_ != cur.primaryKey.name)
      .map(cur.primaryKey.name -> _).toSeq
    val allRenames = b.renames ++ pkRename
    val renameMap = allRenames.toMap
    def rn(n: String) = renameMap.getOrElse(n, n)
    var fields = cur.fields
      .filterNot(f => b.removes.contains(f.name))
      .map(f => f.copy(name = rn(f.name)))
    b.mods.foreach { case (n, f) =>
      require(fields.exists(_.name == n), s"updateSchema: no field '$n' to modify")
      fields = fields.map(fs => if (fs.name == n) f(fs) else fs)
    }
    fields = fields ++ b.adds
    // collision validation here beats a downstream "duplicate column"
    // analysis error: renames and adds must land on free names
    val finalPkName = b.pkConfig.map(_.name).getOrElse(rn(cur.primaryKey.name))
    val allNames = finalPkName +: fields.map(_.name)
    require(allNames.distinct.size == allNames.size,
      s"updateSchema: duplicate column name(s) after add/rename: " +
        allNames.diff(allNames.distinct).distinct.mkString(", "))
    var indexes = cur.indexes.map(ix => ix.copy(fields = ix.fields.map(rn)))
      .filterNot(ix => b.indexRemoves.contains(ix.fields)) ++ b.indexAdds
    var fks = cur.foreignKeys.map(fk => fk.copy(fields = fk.fields.map(rn)))
      .filterNot(fk => b.fkRemoves.contains(fk.fields))
    b.fkMods.foreach { case (fs, f) =>
      fks = fks.map(fk => if (fk.fields == fs) f(fk) else fk)
    }
    fks = fks ++ b.fkAdds
    val finalName = b.newName.getOrElse(b.table)
    val target = withSystemColumns(cur.copy(
      name = finalName,
      fields = fields,
      primaryKey = b.pkConfig.getOrElse(cur.primaryKey.copy(name = rn(cur.primaryKey.name))),
      indexes = indexes,
      foreignKeys = fks,
      ttl = b.ttlSet.fold(cur.ttl)(identity)))
    // ALL table-rename validation runs BEFORE the physical rewrite: if a
    // require threw after Writes.overwrite, the data would already reflect
    // the target schema while the registry still held the old one —
    // breaking subsequent reads and the promised one-atomic-rewrite
    if (finalName != b.table) {
      // refuse a collision instead of silently destroying the target —
      // renameTable is a move, not an overwrite
      require(registry.get(space, finalName).isEmpty,
        s"updateSchema: cannot rename '${b.table}' to '$finalName' — a table with that name is registered")
      warehouse.foreach { w =>
        val sp = if (target.isGlobal) "global" else space
        val fs = new org.apache.hadoop.fs.Path(w)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val to = new org.apache.hadoop.fs.Path(s"$w/$sp/$finalName")
        require(!fs.exists(to),
          s"updateSchema: cannot rename '${b.table}' to '$finalName' — destination data exists")
      }
    }
    // physical: rename columns first so the by-name reconcile keeps the
    // data, write to the CURRENT path, then move the directory on a table
    // rename
    val renamed = allRenames.foldLeft(table(b.table)) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    }
    graft.write.Writes.overwrite(this, b.table, migrateSelect(renamed, target),
      op = "migrate")
    if (finalName != b.table) {
      warehouse.foreach { w =>
        val sp = if (target.isGlobal) "global" else space
        val fs = new org.apache.hadoop.fs.Path(w)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val from = new org.apache.hadoop.fs.Path(s"$w/$sp/${b.table}")
        val to = new org.apache.hadoop.fs.Path(s"$w/$sp/$finalName")
        if (fs.exists(from)) fs.rename(from, to)
      }
      // the sequence moves with the data: a same-second insert after the
      // rename must not reserve an already-used id block
      graft.schema.IdGen.renameScope(idScope(b.table), {
        val sp = if (target.isGlobal) "global" else space
        s"${warehouse.getOrElse(dataDir)}/$sp/$finalName"
      })
      registry.drop(space, b.table)
      if (cur.isGlobal) registry.drop("global", b.table)
    }
    registry.register(space, target)
  }

  /**
   * Delete with foreign-key enforcement (reference
   * foreign_key_manager.dart; actions table_schema.dart:2756-2786): for
   * every registered table with an enabled FK referencing `name`,
   * onDelete ∈ restrict (refuse when referencing rows exist) | cascade
   * (delete them, recursively) | setNull (null the FK fields) | setDefault
   * | noAction. Runs as a sequence of read→overwrite jobs.
   *
   * Ordering guarantee: EVERY Restrict constraint (transitively, through
   * cascades) is checked BEFORE any destructive action runs — a late
   * restrict never aborts a half-applied delete. Cascade cycles are cut at
   * the first repeated table. Victim keys flow as DataFrames end-to-end
   * (no driver collect, no literal IN lists).
   */
  def deleteEnforced(name: String, cond: graft.expr.Cond,
      allowDeleteAll: Boolean = false): Unit = graft.write.Writes.exclusiveFlow {
    import org.apache.spark.sql.functions.col
    if (cond == graft.expr.Cond.True && !allowDeleteAll)
      throw new IllegalArgumentException(
        "condition-less delete requires allowDeleteAll (delete_builder.dart:4-39)")
    val victims = table(name).where(
      cond.toColumn(col, table(name).schema.fields.map(f => f.name -> f.dataType).toMap.get))
    // phase 1: walk the FK graph checking every Restrict before touching data
    checkRestrict(name, victims, Set(name))
    // phase 2: apply cascades / set-actions, then delete the root victims.
    // victim sets are MATERIALIZED (localCheckpoint severs file lineage):
    // a lazy plan captured before an overwrite would re-scan swapped-out
    // files mid-cascade
    applyFkActions(name, victims.localCheckpoint(true), Set(name))
    graft.write.Writes.overwrite(this, name,
      graft.write.Writes.deletePreview(table(name), cond, allowDeleteAll = true),
      op = "delete")
  }

  /**
   * Update with foreign-key enforcement — the onUpdate mirror of
   * `deleteEnforced` (reference enforces BOTH onDelete and onUpdate,
   * table_schema.dart:2814-2886, foreign_key_manager.dart). Applies when
   * the update rewrites a referenced key field: for every enabled FK whose
   * referencedFields intersect the SET list, onUpdate ∈ restrict (refuse
   * while referencing rows exist) | cascade (rewrite the child FK columns
   * to the new key values) | setNull | setDefault | noAction.
   *
   * Child FK columns are data, not keys-of-keys — a cascaded key rewrite
   * does not change the child's own PK, so one level of enforcement
   * suffices (no recursion, unlike delete cascades). Restrict checks all
   * run BEFORE any mutation.
   */
  def updateEnforced(name: String, sets: Seq[(String, graft.expr.UExpr)],
      cond: graft.expr.Cond, allowUpdateAll: Boolean = false): Unit =
      graft.write.Writes.exclusiveFlow {
    import org.apache.spark.sql.functions.{col, lit, when => sqlWhen}
    import graft.schema.FkAction
    if (cond == graft.expr.Cond.True && !allowUpdateAll)
      throw new IllegalArgumentException(
        "condition-less update requires allowUpdateAll (update_builder.dart:215-219)")
    val parent = table(name)
    val types = parent.schema.fields.map(f => f.name -> f.dataType).toMap
    val pred = cond.toColumn(col, types.get)
    val setMap = sets.toMap
    val changed = setMap.keySet
    val affected = referencingFks(name)
      .filter { case (_, fk) => fk.referencedFields.exists(changed) }

    /** (old key cols as __old_*, new key cols as __new_*) of rows whose
      * referenced key value actually changes under the SET list. */
    def keyMapping(fk: graft.schema.ForeignKeySchema) = {
      val olds = fk.referencedFields.map(f => col(f).as(s"__old_$f"))
      val news = fk.referencedFields.map { f =>
        setMap.get(f)
          .map(e => e.toColumn(col, lit(true)).cast(types(f)))
          .getOrElse(col(f)).as(s"__new_$f")
      }
      parent.where(pred).select(olds ++ news: _*)
        .where(fk.referencedFields
          .map(f => !(col(s"__old_$f") <=> col(s"__new_$f"))).reduce(_ || _))
        // one mapping row per old key — a duplicate would multiply child
        // rows through the rewrite join
        .dropDuplicates(fk.referencedFields.map(f => s"__old_$f"))
    }
    def hits(child: DataFrame, fk: graft.schema.ForeignKeySchema, mapping: DataFrame) = {
      val on = fk.fields.zip(fk.referencedFields)
        .map { case (cf, rf) => child(cf) === mapping(s"__old_$rf") }.reduce(_ && _)
      (on, child.join(mapping, on, "left_semi"))
    }

    // phase 1: every Restrict verified before anything is rewritten
    affected.foreach { case (childSchema, fk) =>
      if (fk.onUpdate == FkAction.Restrict) {
        val (_, hit) = hits(table(childSchema.name), fk, keyMapping(fk))
        val nHits = hit.count()
        if (nHits > 0) throw new IllegalStateException(
          s"update restricted: $nHits row(s) in ${childSchema.name} reference $name " +
            s"(onUpdate=restrict, table_schema.dart:2814-2886)")
      }
    }
    // phase 2: child rewrites (materialized mappings — the parent overwrite
    // below swaps the files a lazy plan would re-scan)
    affected.foreach { case (childSchema, fk) =>
      val child = table(childSchema.name)
      val mapping = keyMapping(fk).localCheckpoint(true)
      fk.onUpdate match {
        case FkAction.Cascade =>
          if (!mapping.isEmpty) {
            val on = fk.fields.zip(fk.referencedFields)
              .map { case (cf, rf) => child(cf) === mapping(s"__old_$rf") }.reduce(_ && _)
            val joined = child.join(mapping, on, "left")
            val matched = fk.referencedFields
              .map(rf => mapping(s"__old_$rf").isNotNull).reduce(_ && _)
            val out = childSchema.fieldNames.map { f =>
              fk.fields.indexOf(f) match {
                case -1 => child(f).as(f)
                case i  =>
                  val rf = fk.referencedFields(i)
                  sqlWhen(matched, mapping(s"__new_$rf")).otherwise(child(f)).as(f)
              }
            }
            graft.write.Writes.overwrite(this, childSchema.name, joined.select(out: _*))
          }
        case FkAction.SetNull | FkAction.SetDefault =>
          if (!mapping.isEmpty) {
            val on = fk.fields.zip(fk.referencedFields)
              .map { case (cf, rf) => child(cf) === mapping(s"__old_$rf") }.reduce(_ && _)
            val marked = child.join(mapping, on, "left")
            val defaults = childSchema.fields.map(f => f.name -> f.defaultValue).toMap
            val matched = fk.referencedFields
              .map(rf => mapping(s"__old_$rf").isNotNull).reduce(_ && _)
            val out = childSchema.fieldNames.map { f =>
              if (fk.fields.contains(f)) {
                val repl =
                  if (fk.onUpdate == FkAction.SetDefault)
                    defaults.getOrElse(f, None).map(lit).getOrElse(lit(null))
                  else lit(null)
                sqlWhen(matched, repl).otherwise(child(f)).as(f)
              } else child(f).as(f)
            }
            graft.write.Writes.overwrite(this, childSchema.name, marked.select(out: _*))
          }
        case _ => () // Restrict verified in phase 1; NoAction
      }
    }
    // finally the parent update itself — re-read the table rather than
    // reusing the `parent` plan: a self-referential FK's child rewrite
    // above swapped this table's files, and the old plan's file listing
    // would point at deleted parts
    graft.write.Writes.overwrite(this, name,
      graft.write.Writes.updatePreview(table(name), sets, cond, allowUpdateAll = true))
  }

  private def referencingFks(name: String): Seq[(TableSchema, graft.schema.ForeignKeySchema)] =
    registry.tables(space).flatMap { t =>
      registry.get(space, t).toSeq.flatMap(s =>
        s.foreignKeys.filter(fk => fk.enabled && fk.referencedTable == name)
          .map(fk => (s, fk)))
    }

  /** Rows of `child` referencing any victim key (collision-safe join). */
  private def fkHits(child: DataFrame, victims: DataFrame,
      fk: graft.schema.ForeignKeySchema): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keys = victims.select(fk.referencedFields.map(col): _*).distinct()
      .toDF(fk.referencedFields.map("__ref_" + _): _*)
    val joinCond = fk.fields.zip(fk.referencedFields)
      .map { case (cf, rf) => child(cf) === keys("__ref_" + rf) }.reduce(_ && _)
    child.join(keys, joinCond, "left_semi")
  }

  private def checkRestrict(name: String, victims: DataFrame, visited: Set[String]): Unit = {
    import graft.schema.FkAction
    referencingFks(name).foreach { case (childSchema, fk) =>
      lazy val hit = fkHits(table(childSchema.name), victims, fk)
      fk.onDelete match {
        case FkAction.Restrict =>
          val n = hit.count()
          if (n > 0) throw new IllegalStateException(
            s"delete restricted: $n row(s) in ${childSchema.name} reference $name " +
              s"(onDelete=restrict, table_schema.dart:2756-2786)")
        case FkAction.Cascade if !visited.contains(childSchema.name) =>
          checkRestrict(childSchema.name, hit, visited + childSchema.name)
        case _ => ()
      }
    }
  }

  private def applyFkActions(name: String, victims: DataFrame, visited: Set[String]): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when => sqlWhen}
    import graft.schema.FkAction
    referencingFks(name).foreach { case (childSchema, fk) =>
      val child = table(childSchema.name)
      val hit = fkHits(child, victims, fk).localCheckpoint(true)
      fk.onDelete match {
        case FkAction.Restrict => () // verified empty in phase 1
        case FkAction.Cascade =>
          if (!hit.isEmpty) {
            // recurse first (cycle-cut at repeated tables) so grandchildren
            // honor THEIR actions before the child rows disappear
            if (!visited.contains(childSchema.name))
              applyFkActions(childSchema.name, hit, visited + childSchema.name)
            val pk = childSchema.primaryKey.name
            val keep = child.join(hit.select(col(pk).as("__del_pk")),
              child(pk) === col("__del_pk"), "left_anti")
            graft.write.Writes.overwrite(this, childSchema.name, keep, op = "delete")
          }
        case FkAction.SetNull | FkAction.SetDefault =>
          if (!hit.isEmpty) {
            val pk = childSchema.primaryKey.name
            val marked = child.join(hit.select(col(pk).as("__hit_pk")),
              child(pk) === col("__hit_pk"), "left")
            val defaults = childSchema.fields.map(f => f.name -> f.defaultValue).toMap
            val out = childSchema.fieldNames.map { f =>
              if (fk.fields.contains(f)) {
                val repl =
                  if (fk.onDelete == FkAction.SetDefault)
                    defaults.getOrElse(f, None).map(lit).getOrElse(lit(null))
                  else lit(null)
                sqlWhen(col("__hit_pk").isNotNull, repl).otherwise(col(f)).as(f)
              } else col(f)
            }
            graft.write.Writes.overwrite(this, childSchema.name, marked.select(out: _*))
          }
        case FkAction.NoAction => ()
      }
    }
  }

  /** Truncate (keep schema) — tostore.dart:332-358. */
  def clear(name: String): Unit = {
    graft.write.Writes.overwrite(this, name, table(name).limit(0), op = "clear")
    graft.schema.IdGen.reset(idScope(name)) // truncate restarts the sequence
  }

  /** Drop table + schema (global tables live under the "global" space and
    * registry key — both locations are cleared). */
  def dropTable(name: String): Unit = {
    val wasGlobal = registry.get(space, name).exists(_.isGlobal)
    queryCache.invalidate(name) // file delete bypasses notifyWrite
    graft.schema.IdGen.reset(idScope(name)) // before the registration goes
    registry.drop(space, name)
    if (wasGlobal) registry.drop("global", name)
    warehouse.foreach { w =>
      val fs = new org.apache.hadoop.fs.Path(w)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(s"$w/$space/$name", s"$w/global/$name").foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        if ((wasGlobal || !p.contains("/global/")) && fs.exists(hp)) fs.delete(hp, true)
      }
    }
  }

  // ---------- instance / space diagnostics (lib/tostore.dart:905-1160) ----------

  /** Whether a table is resolvable: registered schema, managed data, or a
    * dataDir parquet (tostore.dart:944). */
  def tableExists(name: String): Boolean =
    registry.get(space, name).isDefined || managedExists(name) ||
      Files.exists(Paths.get(s"$dataDir/$name.parquet"))

  /** Declared schema of a table, if registered (tostore.dart:956). */
  def getTableSchema(name: String): Option[TableSchema] = registry.get(space, name)

  /** Row count + storage bytes + declared schema (reference TableInfo,
    * lib/src/model/table_info.dart). Counting is a Spark job — at scale
    * call sparingly or on pruned tables. */
  def getTableInfo(name: String): Graft.TableInfo = {
    val bytes = warehouse.map(_ => managedPath(name)).filter(p => Files.exists(Paths.get(p)))
      .orElse(Some(s"$dataDir/$name.parquet").filter(p => Files.exists(Paths.get(p))))
      .map(dirSize).getOrElse(0L)
    Graft.TableInfo(name, table(name).count(), bytes, registry.get(space, name))
  }

  /** Current space summary (reference SpaceInfo,
    * lib/src/model/space_info.dart): the space's OWN tables (global tables
    * are a visibility scope, not space contents — counting them here would
    * double-book their rows into every space). */
  def getSpaceInfo: Graft.SpaceInfo = {
    val tables = registry.ownTables(space)
    val infos = tables.map(getTableInfo)
    Graft.SpaceInfo(space, tables.size, infos.map(_.totalRecords).sum,
      infos.map(_.fileSizeInBytes).sum, tables)
  }

  /** All space names present in the warehouse, 'default' always included,
    * 'global' excluded (it is a visibility scope, not a space —
    * tostore.dart:1158). Hadoop FS so non-local warehouses list too. */
  def listSpaces: Seq[String] = {
    val found = warehouse.toSeq.flatMap { w =>
      val p = new org.apache.hadoop.fs.Path(w)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
    }.filterNot(_ == "global")
    ("default" +: found).distinct.sorted
  }

  /** Delete a space's data + registered schemas. Refuses the default and
    * the currently active space (tostore.dart:1138-1146). */
  def deleteSpace(name: String): Boolean = {
    if (name == "default" || name == space) false
    else {
      queryCache.clear() // space-wide file delete bypasses notifyWrite
      registry.ownTables(name).foreach(t => registry.drop(name, t))
      graft.schema.IdGen.resetPrefix(s"${warehouse.getOrElse(dataDir)}/$name/")
      warehouse.foreach { w =>
        val p = new org.apache.hadoop.fs.Path(s"$w/$name")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      true
    }
  }

  /** User-maintained version number, persisted in the space's KV namespace
    * (tostore.dart:1005-1027: "not involved in any database internal
    * logic"). */
  def getVersion: Long = kv.getInt(Graft.VersionKey).getOrElse(0L)
  def setVersion(v: Long): Unit = kv.set(Graft.VersionKey, v.toString)

  /** Flush pending writes (tostore.dart:1029-1037). Every write here is an
    * atomic staging-dir swap that completes before returning — there is no
    * write buffer to drain, so this is a documented no-op kept for API
    * compatibility. */
  def flush(): Unit = ()

  /** Release the engine (tostore.dart close()). The SparkSession is shared
    * ownership — stop it only when this engine owns the process. */
  def close(stopSpark: Boolean = false): Unit = if (stopSpark) spark.stop()

  /** Drop the ENTIRE warehouse (every space incl. global) + ALL registered
    * schemas in every space — the reference's deleteDatabase. dataDir
    * (read-only TESTDATA) is never touched. */
  def deleteDatabase(): Unit = {
    queryCache.clear()
    registry.clearAll()
    graft.schema.IdGen.resetPrefix(s"${warehouse.getOrElse(dataDir)}/")
    warehouse.foreach { w =>
      val p = new org.apache.hadoop.fs.Path(w)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  private def dirSize(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength
  }

  // ---------- KV / vector / streaming surface ----------

  /** db-level KV sugar (reference setValue/getValue/removeValue,
    * tostore.dart:706-803): the current space's namespace, or the global
    * one with `isGlobal` — identical to going through `kv`/`kvGlobal`. */
  def setValue(key: String, value: Any, ttlMs: Option[Long] = None,
      isGlobal: Boolean = false): Unit =
    (if (isGlobal) kvGlobal else kv).set(key,
      if (value == null) null else value.toString, ttlMs) // null stays null, not "null"
  def getValue(key: String, isGlobal: Boolean = false): Option[String] =
    (if (isGlobal) kvGlobal else kv).get(key)
  def removeValue(key: String, isGlobal: Boolean = false): Unit =
    (if (isGlobal) kvGlobal else kv).remove(key)

  /** KV namespace of the current space (db.kv — kv_store.dart:9-44). */
  def kv: graft.kv.KvStore = new graft.kv.KvStore(this)
  /** Global KV namespace shared across spaces. */
  def kvGlobal: graft.kv.KvStore = new graft.kv.KvStore(this, global = true)
  /** KV with reactive watchValue support (watch events flow through hub). */
  def kvWatched(hub: graft.streaming.WatchHub): graft.kv.KvStore =
    new graft.kv.KvStore(this, global = false, hub = Some(hub))

  /** Physically drop TTL-expired rows (the reference's background sweeper,
    * ttl_cleanup_manager.dart:40-60 — here an explicit compaction job;
    * `table()` already applies the expiry filter at scan time). */
  def compactTtl(name: String): Unit =
    graft.write.Writes.overwrite(this, name, table(name), op = "compact")

  /** vectorSearch(table, field, queryVector, topK, metric,
    * distanceThreshold) → (pk, distance, score) — tostore.dart:493-511. */
  def vectorSearch(
      name: String,
      fieldName: String,
      queryVector: Seq[Double],
      topK: Int = 10,
      metric: String = "cosine",
      distanceThreshold: Option[Double] = None,
      pkField: String = "id"): DataFrame =
    graft.vector.VectorSearch.exact(
      table(name), pkField, fieldName, queryVector, topK, metric, distanceThreshold)

  /** One-shot record stream of a query (streamQuery,
    * stream_query_builder.dart:26-140): server-side cursors via
    * toLocalIterator — partitions stream to the driver one at a time. */
  def streamQuery(qb: QueryBuilder): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    qb.toDF.toLocalIterator().asScala
  }

  /** Server-side batch callback (queryEachBatch,
    * query_executor.dart:3393) — runs on executors, nothing collects. */
  def queryEachBatch(qb: QueryBuilder)(f: Iterator[org.apache.spark.sql.Row] => Unit): Unit =
    qb.toDF.foreachPartition(f)

  // ---------- backup / restore (tostore.dart:817-839) ----------

  /** Snapshot the current space (+ global) of the warehouse to `dest`. */
  def backup(dest: String): Unit = warehouse.foreach { w =>
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(w).getFileSystem(conf)
    Seq(space, "global").foreach { sp =>
      val src = new org.apache.hadoop.fs.Path(s"$w/$sp")
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(s"$dest/$sp"), false, conf)
    }
  }

  /** Restore a backup into the warehouse (overwrites the space dirs). */
  def restore(src: String): Unit = warehouse.foreach { w =>
    queryCache.clear() // whole-warehouse replacement: every entry is stale
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(w).getFileSystem(conf)
    Seq(space, "global").foreach { sp =>
      val s = new org.apache.hadoop.fs.Path(s"$src/$sp")
      val d = new org.apache.hadoop.fs.Path(s"$w/$sp")
      if (fs.exists(s)) {
        if (fs.exists(d)) fs.delete(d, true)
        org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, d, false, conf)
      }
    }
  }
}

object Graft {
  /** Engine-managed ingest timestamp column backing default TTLs. */
  val IngestTsCol = "_system_ingest_ts_ms"
  /** KV key backing the user-maintained version number. */
  val VersionKey = "_db_version"

  /** header=true default applies to csv unless the caller set it — both
    * checks case-insensitive, matching Spark's own format/option lookup
    * (format="CSV" or options("Header") must not sneak past). */
  private[graft] def csvNeedsHeaderDefault(format: String,
      options: Map[String, String]): Boolean =
    format.equalsIgnoreCase("csv") && !options.keys.exists(_.equalsIgnoreCase("header"))

  /** Reference TableInfo (lib/src/model/table_info.dart): count + bytes +
    * declared schema. Index/lastModified fields have no Spark analog. */
  final case class TableInfo(
      tableName: String,
      totalRecords: Long,
      fileSizeInBytes: Long,
      schema: Option[TableSchema])

  /** Reference SpaceInfo (lib/src/model/space_info.dart). */
  final case class SpaceInfo(
      spaceName: String,
      tableCount: Int,
      recordCount: Long,
      dataSizeBytes: Long,
      tables: Seq[String])
  /** Engine over the driver TESTDATA layout: `$sfDir/<table>.parquet`. */
  def apply(spark: SparkSession, sfDir: String): Graft = new Graft(spark, sfDir)

  def withWarehouse(spark: SparkSession, sfDir: String, warehouseDir: String): Graft =
    new Graft(spark, sfDir, Some(warehouseDir))

  /** Ephemeral engine — the reference's `ToStore.memory()`
    * (tostore.dart:191-197: no recovery, no persistence, for tests and
    * session stores). The JVM has no tmpfs guarantee, so the honest Spark
    * equivalent is a throwaway temp warehouse deleted on JVM exit and by
    * `deleteDatabase`; durability is explicitly NOT promised. Schemas can
    * be pre-created like the reference's `schemas:` parameter. */
  def memory(spark: SparkSession,
      schemas: Seq[graft.schema.TableSchema] = Nil): Graft = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mem")
    // deleteOnExit would silently no-op on a non-empty directory — a
    // shutdown hook deleting the TREE is the real ephemeral contract
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
    val e = new Graft(spark, dir.toString, Some(dir.toString))
    schemas.foreach(e.createTable)
    e
  }

  /** Local core count: `SPARK_GRAFT_CPUS`, else 32. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)

  /** The one session builder every main uses, tuned per the build notes:
    * `cores` threads, as many shuffle partitions (not 200), AQE on for
    * runtime re-planning/skew handling. */
  def localSession(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.install)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // codegen class cache: the default 100 entries thrashes under a
      // 405-query suite (every query recompiles its generated code each
      // pass — janino compilation, not query work); any production
      // deployment with a diverse query mix raises this the same way.
      // Static conf: must be set at FIRST session build.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
