package graft.dv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's background-worker loop composed end to end
  * (controller/bgw_init.rs registers the workers; bgw_source_objects.rs
  * re-scans the catalog into SCD2 source_objects; bgw_transformer_client.rs
  * classifies columns without a current response; dv_loader.rs loads the
  * vault) — here as ONE micro-batch hook: every arriving batch of source
  * rows re-scans its schema, SCD2-merges the catalog when that schema
  * moved, classifies ONLY the columns without a current response, and runs the
  * schema-driven incremental vault load. No manual steps between "source changed" and "vault rows
  * landed".
  *
  * Steady state: when the catalog and responses dirs both exist, the
  * table's current catalog rows equal the batch's live (column_name,
  * ordinal, data_type) set, none has deleted_flag = 'Y' and none has
  * valid_from = scanTs, the turn runs no merge, no classifier and no
  * rewrite — it is the vault load and the erasure purge. The catalog and
  * response files are left untouched, holding the rows the full turn
  * would have written back.
  *
  * Schema drift reaches a running pipeline as a REDEPLOYED query (a Spark
  * streaming query's source schema is fixed at start), so the hook takes
  * whatever schema each batch carries; [[sink]] wires it to a live
  * foreachBatch trigger for the steady-state case.
  *
  * Catalog and response state are parquet directories of METADATA rows
  * (one per source column — the auto_dw.source_objects /
  * transformer_responses scale). Where the reference rewrites them with
  * transactional UPDATEs, every rewrite here is a
  * [[DvMaintenance.swap]] (stage beside, move in, lease-guarded) and every
  * turn [[DvMaintenance.restore]]s both dirs first, so a crash at any step
  * of a turn is repaired by replaying it. The vault data itself only ever
  * APPENDS through the bucketed-aware loader.
  */
object ContinuousPipeline {

  final case class State(catalogDir: String, responsesDir: String, repoDir: String,
                         classifier: Classifier = RulesClassifier,
                         erasureDir: Option[String] = None)

  /** The erasure processed log `<ed>/processed`, read with the schema
    * [[purgeAndMark]] writes: loop state is graft-written, so its reads
    * skip the parquet-footer job of schema inference.
    */
  private[dv] def readProcessed(s: SparkSession, ed: String): DataFrame =
    s.read.schema("obj STRING, hk BINARY, purged_ts STRING").parquet(s"$ed/processed")

  /** A batch's live schema as catalog (column_name, ordinal, data_type) rows. */
  private def liveColumns(batch: DataFrame): Seq[(String, Int, String)] =
    batch.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      (f.name, i + 1, Catalog.typeName(f.dataType))
    }

  /** Catalog snapshot of one batch's live schema. */
  def schemaSnapshot(s: SparkSession, table: String, batch: DataFrame): DataFrame = {
    import s.implicits._
    liveColumns(batch).map { case (c, o, t) => (table, c, o, t) }
      .toDF("table_name", "column_name", "ordinal", "data_type")
  }

  /** catalogProfile-shaped frame computed from the LIVE batch (one agg
    * pass: distinct/non-null counts), with name signals derived from the
    * arriving schema — classification needs no registry entry for the
    * table, the same property the plan derivation has.
    */
  def profileFromBatch(s: SparkSession, table: String, batch: DataFrame): DataFrame = {
    import s.implicits._
    val cols = batch.schema.fields.map(f => Col(f.name, Catalog.typeName(f.dataType))).toSeq
    val sigs = Classify.signalsFor("source", table, cols)
    val atomic = cols.filterNot(SourceSchemas.isComplex)
    // exact distinct counting only where a rule will consult it (the
    // static profiler's needsUniq gate) — this runs on the per-batch hot
    // path, and name-signal columns never read their uniqueness
    def needsUniq(c: Col) = sigs.find(_.column.name == c.name).exists(_.needsUniq)
    val aggs = atomic.flatMap { c =>
      val nd =
        if (needsUniq(c)) countDistinct(col(c.name)).as(s"nd_${c.name}")
        else lit(0L).as(s"nd_${c.name}")
      Seq(nd, count(col(c.name)).as(s"nn_${c.name}"))
    } :+ count(lit(1)).as("n_rows")
    val one = batch.agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${atomic.size}, " +
      atomic.map(c => s"'${c.name}', nd_${c.name}, nn_${c.name}").mkString(", ") +
      ") as (column_name, n_distinct, n_nonnull)"
    val stats = one.select(lit(table).as("table_name"), col("n_rows"), expr(stackExpr))
    val complexRows = cols.filter(SourceSchemas.isComplex).map(c =>
      one.select(lit(table).as("table_name"), col("n_rows"),
        lit(c.name).as("column_name"), lit(0L).as("n_distinct"), lit(0L).as("n_nonnull")))
    val allStats = complexRows.foldLeft(stats)(_ unionByName _)
    val sigDf = sigs.map(g =>
      (g.schema, g.table, g.column.name, g.ordinal, g.column.typeName,
        g.nameBk, g.nameSens, g.nameLabel, g.complexT, g.uniqOkType,
        None: Option[String], None: Option[Double], None: Option[String]))
      .toDF("schema_name", "table_name", "column_name", "ordinal", "data_type",
        "name_bk", "name_sens", "name_label", "complex_t", "uniq_ok_type",
        "ov_category", "ov_confidence", "ov_reason")
    allStats.join(sigDf, Seq("table_name", "column_name"))
  }

  /** Conform a batch to the vault's declared column types (the repo is
    * the contract: a drifted upstream export must not rewrite the vault's
    * schema — values cast into the declared types, and the (hk, hd)
    * anti-join then dedups re-deliveries exactly as before the drift).
    */
  private def conformToRepo(schema: DvLoader.DvSchemaRef, batch: DataFrame,
                            table: String): DataFrame = {
    val declared: Map[String, String] =
      (schema.hubs.filter(_.sourceTable == table).flatMap(_.bkParts) ++
        schema.sats.filter(_.sourceTable == table).flatMap(t => t.bkParts ++ t.descriptors) ++
        schema.links.filter(_.sourceTable == table)
          .flatMap(l => l.members.flatMap(_.parts) ++ l.degenerate))
        .map(c => c.name -> c.typeName).toMap
    val sparkType = Map("bigint" -> "bigint", "int" -> "int", "double" -> "double",
      "varchar" -> "string", "timestamp" -> "timestamp")
    batch.select(batch.columns.map { c =>
      declared.get(c).flatMap(sparkType.get)
        .map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }: _*)
  }

  /** True when re-scanning `batch` at `scanTs` would leave the loop state
    * as it is: the catalog and responses dirs both exist, this table's
    * current catalog rows equal the live (column_name, ordinal, data_type)
    * set, none of them has deleted_flag = 'Y' (the merge would clear it)
    * and none has valid_from = scanTs (a replay of the turn that opened
    * it, whose classification may not have landed). Then the SCD2 merge
    * writes back the rows it read, no column is opened, and the response
    * rewrite writes back the responses it read. One small job: the slice
    * is one row per column of this table.
    */
  private def loopStateCurrent(s: SparkSession, st: State, table: String, batch: DataFrame,
                               scanTs: String): Boolean =
    DvLoader.pathExists(s, st.catalogDir) && DvLoader.pathExists(s, st.responsesDir) && {
      // typed as CatalogScd2 writes them; valid_to is not needed here
      val slice = s.read.schema("table_name STRING, column_name STRING, ordinal INT, " +
          "data_type STRING, valid_from STRING, current_flag STRING, deleted_flag STRING")
        .parquet(st.catalogDir)
        .filter(col("table_name") === table && col("current_flag") === "Y")
        .select(col("column_name"), col("ordinal"), col("data_type"),
          col("deleted_flag"), col("valid_from"))
        .collect()
      val live = liveColumns(batch)
      slice.forall(r => r.getString(3) == "N" && r.getString(4) != scanTs) &&
        slice.length == live.size &&
        slice.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet == live.toSet
    }

  /** Steps 1-2 of a turn whose schema moved: re-scan + SCD2 merge of this
    * table's catalog slice, then classification of every current column
    * of this table that has no current response: the columns the merge
    * opened, and any column a lost responses dir no longer answers. Both
    * rewrites are [[DvMaintenance.swap]]s, so a crash at any step leaves
    * state a replay of the turn repairs.
    */
  private def refreshLoopState(s: SparkSession, st: State, table: String, batch: DataFrame,
                               scanTs: String): Unit = {
    val keys = Seq("table_name", "column_name")
    // 1. catalog re-scan + SCD2 merge (bgw_source_objects.rs); the stage
    //    is written beside the live dir, so the merge reads the live copy
    val snap = schemaSnapshot(s, table, batch)
    DvMaintenance.swap(st.catalogDir) { stage =>
      // the catalog is SHARED across tables (auto_dw.source_objects is
      // global): merge this table's slice only — a whole-catalog merge
      // against a one-table snapshot would flag every OTHER table's
      // columns as vanished
      val mergedState =
        if (DvLoader.pathExists(s, st.catalogDir)) {
          val prev = s.read.parquet(st.catalogDir)
          CatalogScd2.merge(prev.filter(col("table_name") === table), snap, scanTs)
            .unionByName(prev.filter(col("table_name") =!= table))
        } else CatalogScd2.init(snap, scanTs)
      mergedState.coalesce(1).write.parquet(stage)
    }
    // 2. classify the current columns of THIS table that lack a current
    //    response (bgw_transformer_client processes columns without a
    //    current response): the ones this scan opened (new or drifted),
    //    plus any the responses dir does not hold. Prior responses of
    //    every other column carry forward untouched. Scoped to THIS
    //    table: two sinks can stamp the same scanTs, and another table's
    //    same-stamp rows must not be anti-joined out of the responses.
    val prior = Option.when(DvLoader.pathExists(s, st.responsesDir))(
      s.read.parquet(st.responsesDir))
    val current = s.read.parquet(st.catalogDir)
      .filter(col("table_name") === table &&
        col("current_flag") === "Y" && col("deleted_flag") === "N")
    val opened = prior.fold(current)(p =>
        current.join(p.select(keys.map(col) :+ lit(true).as("answered"): _*), keys, "left_outer")
          .filter(col("valid_from") === scanTs || col("answered").isNull))
      .select(keys.map(col): _*)
    val respCols = Seq("table_name", "column_name", "category", "confidence", "reason")
    val fresh = st.classifier.respond(profileFromBatch(s, table, batch))
      .join(opened, keys, "left_semi")
      .select(respCols.map(col): _*)
      .withColumn("classified_at", lit(scanTs))
    DvMaintenance.swap(st.responsesDir)(stage =>
      prior.fold(fresh)(_.join(opened, keys, "left_anti").unionByName(fresh))
        .coalesce(1).write.parquet(stage))
  }

  /** One loop turn: re-scan → SCD2 merge → classify opened columns →
    * schema-driven incremental load → erasure purge. `scanTs` stamps the
    * catalog/response versions (injected — wall-clock is not
    * reproducible); `loadTs` stamps the vault rows.
    *
    * When [[loopStateCurrent]] holds (both state dirs exist; this table's
    * current catalog rows equal the live (column_name, ordinal, data_type)
    * set, none flagged deleted and none opened at this `scanTs`), the
    * merge, the classifier call and both rewrites are skipped: a turn with
    * an unchanged schema runs no classifier and rewrites no loop state.
    * Any other batch takes the full path. `dv_schema.json` is parsed once
    * per turn and shared by the conform, the load and the purge.
    */
  def onBatch(s: SparkSession, st: State, table: String, batch: DataFrame,
              scanTs: String, loadTs: String): Unit = {
    DvMaintenance.restore(st.catalogDir)
    DvMaintenance.restore(st.responsesDir)
    if (!loopStateCurrent(s, st, table, batch, scanTs))
      refreshLoopState(s, st, table, batch, scanTs)
    val schema = DvLoader.readSchema(s, st.repoDir)
    // 3. schema-driven incremental vault load, batch conformed to the
    //    vault's declared types (dv_loader.rs); the erasure processed log
    //    rides along as the sensitive-satellite suppression list, so a
    //    replayed feed still carrying purged victims resurrects nothing
    DvLoader.streamTableLoadBatch(s, schema, conformToRepo(schema, batch, table),
      table, st.repoDir, loadTs, st.erasureDir)
    // 4. physical erasure between loads (r12 verdict #7)
    st.erasureDir.foreach(ed => purgeAndMark(s, st, pendingErasures(s, ed), loadTs, schema))
  }

  /** Pending erasure requests → physical purge BETWEEN micro-batches (r12
    * verdict #7 — the GDPR path working while loads run): the micro-batch
    * hook IS the single-writer window `DvMaintenance.purgeSensitive`
    * documents (no load runs concurrently with it by construction; the
    * repo lease in DvMaintenance makes a violating concurrent writer fail
    * loudly instead of corrupting — see [[sink]]'s one-sink-per-repo
    * note). The feed is request-scale parquet: `<erasureDir>/requests`
    * rows (obj, hk) — obj a `sat_*_sensitive` object, hk the victim's
    * BINARY hash key. Processed requests land on `<erasureDir>/processed`
    * stamped with the purging batch's loadTs, so a REPLAYED batch purges
    * nothing twice, and the processed log doubles as the STANDING
    * SUPPRESSION LIST the loads anti-join sensitive novel rows against
    * (r13 ADVICE: a redelivered batch still carrying a victim's source
    * rows must not resurrect them after the purge). A request naming a
    * non-sensitive object fails the batch LOUDLY (purgeSensitive's
    * structural guard) — a malformed erasure request must never be
    * silently dropped. Returns (obj, rows_before, rows_after) per purged
    * object.
    *
    * TOCTOU (r13 ADVICE): the pending set is MATERIALIZED driver-side
    * once ([[pendingErasures]] — request-scale by construction) BEFORE
    * any purge runs, and exactly those materialized rows are appended to
    * the processed log — a request appended concurrently during the
    * purge window is neither purged nor stamped, so the next hook turn
    * picks it up instead of silently dropping it forever.
    */
  def processErasures(s: SparkSession, st: State, purgedTs: String): Seq[(String, Long, Long)] =
    st.erasureDir.toSeq.flatMap(ed =>
      purgeAndMark(s, st, pendingErasures(s, ed), purgedTs, DvLoader.readSchema(s, st.repoDir)))

  /** One materialized pending erasure request. */
  final case class Erasure(obj: String, hk: Array[Byte])

  /** The pending set, materialized driver-side in one snapshot (the
    * request feed is metadata-scale: one row per erasure request): the
    * distinct requests minus the processed log, diffed on the driver.
    * Deterministically ordered by (obj, hk hex). The requests are caller
    * input, so their schema is read from the files (a malformed feed fails
    * here, loudly); the processed log is graft's own.
    */
  private[graft] def pendingErasures(s: SparkSession, ed: String): Seq[Erasure] =
    if (!DvLoader.pathExists(s, s"$ed/requests")) Nil
    else {
      def keyed(df: DataFrame): Seq[((String, String), Erasure)] =
        df.select("obj", "hk").collect().toSeq.map { r =>
          val e = Erasure(r.getString(0), r.getAs[Array[Byte]](1))
          (e.obj, e.hk.map(b => f"$b%02x").mkString) -> e
        }
      val done =
        if (DvLoader.pathExists(s, s"$ed/processed")) keyed(readProcessed(s, ed)).map(_._1).toSet
        else Set.empty[(String, String)]
      keyed(s.read.parquet(s"$ed/requests")).toMap.removedAll(done)
        .toSeq.sortBy(_._1).map(_._2)
    }

  /** Purge exactly `pending` and stamp exactly `pending` processed —
    * the snapshot the caller took is the single source of truth for both
    * halves (see [[processErasures]]'s TOCTOU note).
    */
  private[graft] def purgeAndMark(s: SparkSession, st: State, pending: Seq[Erasure],
                                  purgedTs: String,
                                  schema: DvLoader.DvSchemaRef): Seq[(String, Long, Long)] =
    if (pending.isEmpty) Nil
    else {
      import s.implicits._
      val ed = st.erasureDir.getOrElse(sys.error("purgeAndMark without an erasureDir"))
      val results = pending.groupBy(_.obj).toSeq.sortBy(_._1).map { case (obj, es) =>
        val hkCol = DvLoader.schemaKeys(schema, obj).head
        val victims = es.map(_.hk).toDF(hkCol)
        val (b, a) = DvMaintenance.purgeSensitive(s, st.repoDir, obj, victims, hkCol)
        (obj, b, a)
      }
      pending.map(e => (e.obj, e.hk)).toDF("obj", "hk")
        .withColumn("purged_ts", lit(purgedTs))
        .write.mode("append").parquet(s"$ed/processed")
      results
    }

  /** Wire the loop onto a live streaming source — the bgw_init analogue:
    * a continuously-running trigger that per micro-batch re-scans,
    * re-classifies and loads. Batch ids stamp the versions, so replays of
    * a failed batch are idempotent end to end (same scanTs → same merge;
    * the vault load anti-joins).
    *
    * ONE SINK PER REPO (r13 ADVICE): the "micro-batch hook IS the
    * single-writer window" claim holds for a single attached sink. Two
    * per-table sinks sharing one State are independent streaming queries
    * whose hooks can overlap — attach at most one `sink` per `State`
    * (fan multiple source tables in through one stream union, or run
    * separate States over separate repos). The constraint is now ALSO
    * enforced structurally: every stage-and-swap rewrite and bucketed
    * append claims the per-object repo lease (DvMaintenance), so an
    * overlapping second writer FAILS LOUDLY instead of corrupting the
    * bucket layout or double-appending the processed log.
    */
  private val ScanFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def sink(rows: DataFrame, table: String, st: State, checkpoint: String) =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch id -> a real timestamp (seconds carry into minutes/hours),
        // so SCD2 validity stays parseable and lexicographically ordered
        // for any batch count
        val scanTs = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
          .plusSeconds(batchId).format(ScanFmt)
        onBatch(batch.sparkSession, st, table, batch, scanTs, loadTs = s"batch_$batchId")
      }
}
