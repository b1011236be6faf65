package graft.dv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Data-vault builders: each returns the DataFrame a loader would append.
  *
  * Re-expresses the reference's generated INSERT DML
  * (extension/src/controller/dv_loader.rs) as declarative Spark plans:
  * hub = distinct business keys + ghost records; sat = distinct
  * (hash-key, hash-diff) attribute versions; link = distinct member-key
  * combinations. Incremental loads are left-anti joins on the hash key —
  * at warehouse scale both sides hash-partition on _hk, so the anti-join
  * is a single co-partitioned shuffle (and AQE broadcasts the small side).
  */
object DvBuild {
  import DvDefaults._

  private def canonAs(c: Col, alias: String): Column = canon(col(c.name), c.typeName).as(alias)

  /** Ghost records: reference inserts hk=hash('-1'|'-2') rows on first load
    * (dv_loader.rs:110-135). graft hashes the ','-joined per-part ghosts so
    * composite keys stay consistent with the main hash shape.
    */
  def ghostRows(s: SparkSession, spec: HubSpec): DataFrame = {
    import s.implicits._
    Seq("-1", "-2").map { g =>
      (g, spec.bkParts.map(_ => g))
    }.toDF("ghost", "parts")
      .select(
        (unhex(sha2(concat_ws(",", col("parts")), 256)).as(spec.hkName) +:
          lit(GhostTs).as("load_ts") +:
          lit(GhostSource).as("record_source") +:
          spec.bkParts.map(p => col("ghost").as(s"${p.name}_bk"))): _*)
  }

  /** Hub load: distinct canonical business keys, hash key, ghosts.
    *
    * `ordered = false` (r14, guide §2.4 "an orderBy used only to make
    * output deterministic"): the trailing global sort exists for the
    * DECLARED query faces; a write/aggregate/join consumer gets the same
    * rows without the range-exchange+sort pass. Sorts below joins and
    * aggregates are optimizer-eliminated anyway — the flag matters for
    * frames written straight to parquet (go(), loadFromRepo seeds), where
    * the sort would otherwise execute.
    */
  def hub(s: SparkSession, dir: String, spec: HubSpec, loadTs: String = LoadTs,
          ordered: Boolean = true): DataFrame =
    hubFrom(s, Tables.load(s, dir, spec.sourceTable), spec, loadTs, ordered)

  /** Hub frame from an arbitrary source slice (a streaming micro-batch or
    * a filtered subset) — the dir-based form delegates here.
    */
  def hubFrom(s: SparkSession, src: DataFrame, spec: HubSpec, loadTs: String = LoadTs,
              ordered: Boolean = true): DataFrame = {
    val keys = src.select(spec.bkParts.map(p => canonAs(p, s"${p.name}_bk")): _*).distinct()
    val hk = dvHash(spec.bkParts.map(p => col(s"${p.name}_bk"))).as(spec.hkName)
    val main = keys.select(
      (hk +: lit(loadTs).as("load_ts") +: lit(recordSource(spec.sourceTable)).as("record_source") +:
        spec.bkParts.map(p => col(s"${p.name}_bk"))): _*)
    val all = ghostRows(s, spec).unionByName(main)
    if (ordered) all.orderBy(spec.hkName) else all
  }

  /** Multi-source (consolidated) hub load: every carrying table inserts the
    * keys earlier sources have not already delivered, each with its own
    * record_source — the reference's per-source hub INSERTs against one
    * `hub_<bk_name>` (dv_loader.rs:166-199, WHERE hub_hk IS NULL). Source
    * order is load order: the home table's column names define the `_bk`
    * columns, later sources map their parts positionally. Each cross-source
    * anti-join shuffles both sides on the hash key (AQE broadcasts the
    * accumulated side while it is small).
    */
  def hubMultiFrom(s: SparkSession, spec: HubSpec,
                   sources: Seq[(String, DataFrame, Seq[Col])],
                   loadTs: String = LoadTs, ordered: Boolean = true): DataFrame = {
    require(sources.nonEmpty, s"hub ${spec.name} has no load sources")
    val perSource = sources.map { case (table, src, parts) =>
      require(parts.size == spec.bkParts.size,
        s"source $table delivers ${parts.size} key parts to ${spec.bkParts.size}-part hub ${spec.name}")
      val keys = src.select(parts.zip(spec.bkParts).map { case (p, b) =>
        canonAs(p, s"${b.name}_bk")
      }: _*).distinct()
      val hk = dvHash(spec.bkParts.map(p => col(s"${p.name}_bk"))).as(spec.hkName)
      keys.select(
        (hk +: lit(loadTs).as("load_ts") +: lit(recordSource(table)).as("record_source") +:
          spec.bkParts.map(p => col(s"${p.name}_bk"))): _*)
    }
    val folded = perSource.reduceLeft { (acc, next) =>
      acc.unionByName(next.join(acc.select(spec.hkName), Seq(spec.hkName), "left_anti"))
    }
    val all = ghostRows(s, spec).unionByName(folded)
    if (ordered) all.orderBy(spec.hkName) else all
  }

  /** Satellite load: hash key + hash-diff over canonical descriptors, with
    * raw descriptor columns carried (dv_loader.rs:325-357). Insert-only
    * SCD2: one row per distinct (hk, hd).
    */
  def sat(s: SparkSession, dir: String, spec: SatSpec, loadTs: String = LoadTs,
          ordered: Boolean = true): DataFrame =
    satFrom(Tables.load(s, dir, spec.sourceTable), spec, loadTs, ordered)

  /** Satellite frame from an arbitrary source slice. */
  def satFrom(src: DataFrame, spec: SatSpec, loadTs: String = LoadTs,
              ordered: Boolean = true): DataFrame = {
    val hk = dvHash(spec.bkParts.map(p => canon(col(p.name), p.typeName))).as(spec.hkName)
    val hd = dvHash(spec.descriptors.map(d => canon(col(d.name), d.typeName))).as(spec.hdName)
    val rows = src.select((hk +: hd +: spec.descriptors.map(d => col(d.name))): _*)
      .distinct()
      .select(
        (col(spec.hkName) +: lit(loadTs).as("load_ts") +:
          lit(recordSource(spec.sourceTable)).as("record_source") +: col(spec.hdName) +:
          spec.descriptors.map(d => col(d.name))): _*)
    if (ordered) rows.orderBy(spec.hkName, spec.hdName) else rows
  }

  /** Link load: distinct combinations of member hub keys (+ degenerate
    * columns), with the link hash over all parts and per-member hub hashes.
    */
  def link(s: SparkSession, dir: String, spec: LinkSpec, loadTs: String = LoadTs,
           ordered: Boolean = true): DataFrame =
    linkFrom(Tables.load(s, dir, spec.sourceTable), spec, loadTs, ordered)

  /** Link rows from an arbitrary source slice (streaming micro-batches use
    * this; `link` is the whole-table form).
    */
  def linkFrom(src: DataFrame, spec: LinkSpec, loadTs: String = LoadTs,
               ordered: Boolean = true): DataFrame = {
    val allParts = spec.members.flatMap(_.parts) ++ spec.degenerate
    val distinctKeys = src.select(allParts.map(p => canonAs(p, s"${p.name}_bk")): _*).distinct()
    val linkHk = dvHash(allParts.map(p => col(s"${p.name}_bk"))).as(spec.hkName)
    val memberHks = spec.members.map(m =>
      dvHash(m.parts.map(p => col(s"${p.name}_bk"))).as(s"hub_${m.hubName}_hk"))
    val rows = distinctKeys.select(
      (linkHk +: lit(loadTs).as("load_ts") +: lit(recordSource(spec.sourceTable)).as("record_source") +:
        (memberHks ++ allParts.map(p => col(s"${p.name}_bk")))): _*)
    if (ordered) rows.orderBy(spec.hkName) else rows
  }

  /** Incremental hub load: rows of `batch` whose hash key is absent from
    * `existing` (the WHERE hub_hk IS NULL anti-join of dv_loader.rs:177-181).
    */
  def hubIncrement(existing: DataFrame, batch: DataFrame, hkName: String): DataFrame =
    batch.join(existing.select(hkName), Seq(hkName), "left_anti")

  /** Incremental satellite load: only (hash key, hash-diff) pairs absent
    * from the existing satellite insert — the reference's sat anti-join on
    * (hk, hd) (dv_loader.rs:339-346). Same co-partitioned-shuffle shape as
    * hubIncrement.
    */
  def satIncrement(existing: DataFrame, batch: DataFrame, hkName: String, hdName: String): DataFrame =
    batch.join(existing.select(hkName, hdName), Seq(hkName, hdName), "left_anti")

  /** SCD2 satellite from an event feed: one row per distinct (key, hash-diff)
    * with first-seen time and observation count.
    */
  def scd2FromEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEvents(s, dir)
    ev.groupBy(col("user_id"), col("props"))
      .agg(min("tms").as("first_seen_ms"), count(lit(1)).as("n_obs"))
      .select(
        dvHash(Seq(col("user_id").cast("string"))).as("hub_user_hk"),
        col("user_id").cast("string").as("user_id_bk"),
        dvHash(Seq(col("props"))).as("sat_user_hd"),
        col("props"), col("first_seen_ms"), col("n_obs"))
      .orderBy("hub_user_hk", "sat_user_hd")
  }

  /** Point-in-time table: for each as-of date, the latest satellite version
    * per hub key (reference leaves PIT to "future refreshes"; standard DV
    * practice). Dates broadcast; the latest version per (user, date) comes
    * from a max(struct(tms, event_id, props)) aggregation — partial-agg
    * (map-side combine) halves the shuffle vs a row_number window and
    * needs no per-partition sort. event_id is unique per user, so the
    * struct ordering never reaches the props field — deterministic.
    */
  val PitDates: Seq[String] = Seq("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")

  def pit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.loadEvents(s, dir)
      .select(col("user_id"), col("tms"), col("event_id"), col("props"))
    val dates = PitDates.toDF("asof_date")
      .withColumn("asof_ms", unix_millis(col("asof_date").cast("timestamp")))
    ev.join(broadcast(dates), col("tms") <= col("asof_ms"))
      .groupBy("user_id", "asof_date")
      .agg(max(struct(col("tms"), col("event_id"), col("props"))).as("m"))
      .select(
        col("asof_date"),
        dvHash(Seq(col("user_id").cast("string"))).as("hub_user_hk"),
        col("user_id"),
        dvHash(Seq(col("m.props"))).as("sat_user_hd"),
        col("m.tms").as("version_ms"))
      .orderBy("asof_date", "user_id")
  }

  /** Incremental PIT maintenance (round-6 verdict item 9): production
    * never rebuilds a point-in-time table from history — it folds each
    * sat-append micro-batch into the existing PIT state. The fold is the
    * same `max(struct(tms, event_id, props))` aggregate the rebuild uses,
    * which is ASSOCIATIVE: merging the stored per-(key, asof) version
    * structs with the batch's own aggregate is union → keyed max, so
    * state-plus-delta provably equals the from-scratch rebuild — and the
    * oracle twin IS the rebuild SQL (the hash-match is the equivalence
    * proof at every gate SF).
    *
    * Cost shape: per micro-batch, one scan of the batch (not history), a
    * batch-keys×dates aggregate, and a merge shuffle keyed (user, asof)
    * against PIT-sized state — at 100 TB the state side lives bucketed on
    * the merge key, making the stored side exchange-free (DataVaultSpec
    * pins that plan with a CLUSTERED BY state table).
    */
  val PitIncrCuts: Seq[String] = Seq("2024-01-12", "2024-01-20")

  /** Per-(user, asof) version structs for one slice of the feed. */
  def pitVersionAgg(dates: DataFrame)(ev: DataFrame): DataFrame =
    ev.join(broadcast(dates), col("tms") <= col("asof_ms"))
      .groupBy("user_id", "asof_date")
      .agg(max(struct(col("tms"), col("event_id"), col("props"))).as("m"))

  /** Fold a batch aggregate into PIT state: FULL OUTER equi-join on the
    * state key + greatest of the version structs (greatest skips nulls,
    * so new keys and untouched keys both fall out of the same
    * expression). A join — not union+re-aggregate — because a union
    * destroys the stored side's physical distribution: with state
    * bucketed on (user_id, asof_date) the join reads it EXCHANGE-FREE
    * and only the batch-sized delta shuffles, which is the whole point
    * of incremental maintenance at 100 TB.
    */
  def pitMerge(state: DataFrame, delta: DataFrame): DataFrame =
    state.select(col("user_id"), col("asof_date"), col("m").as("m_state"))
      .join(delta.select(col("user_id"), col("asof_date"), col("m").as("m_delta")),
        Seq("user_id", "asof_date"), "full_outer")
      .select(col("user_id"), col("asof_date"),
        greatest(col("m_state"), col("m_delta")).as("m"))

  /** Project internal (user, asof, struct) state to the public PIT shape. */
  def pitProject(state: DataFrame): DataFrame =
    state.select(
      col("asof_date"),
      dvHash(Seq(col("user_id").cast("string"))).as("hub_user_hk"),
      col("user_id"),
      dvHash(Seq(col("m.props"))).as("sat_user_hd"),
      col("m.tms").as("version_ms"))
      .orderBy("asof_date", "user_id")

  def pitIncr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.loadEvents(s, dir)
      .select(col("user_id"), col("tms"), col("event_id"), col("props"))
    val dates = PitDates.toDF("asof_date")
      .withColumn("asof_ms", unix_millis(col("asof_date").cast("timestamp")))
    val Seq(c1, c2) = PitIncrCuts.map(d =>
      java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val agg = pitVersionAgg(dates) _
    // initial load, then two micro-batches folded into the state
    val state0 = agg(ev.filter(col("tms") < c1))
    val state1 = pitMerge(state0, agg(ev.filter(col("tms") >= c1 && col("tms") < c2)))
    val state2 = pitMerge(state1, agg(ev.filter(col("tms") >= c2)))
    pitProject(state2)
  }

  /** Bitemporal PIT (DV 2.0's two-clock reconstruction): state per key
    * as-of a VALID time V under the knowledge available at TRANSACTION
    * time T. Valid time = the event's tms; transaction time = a
    * deterministic synthetic arrival, next midnight plus an md5-derived
    * 0-2 day ingestion lag (late-arriving data — the reason the two
    * clocks differ; no RNG, engine-identical). For each (V, T) grid cell
    * — T = V ("what we knew then") and T = V+3d ("what we know now") —
    * the per-user version is the max (tms, event_id) among events with
    * tms <= V AND arrival <= T, so a late event appears only once T
    * passes its arrival: the same V can answer differently under the two
    * knowledge dates, which is exactly the audit question bitemporal
    * vaults exist for. One scan, a constant 4-row grid broadcast, one
    * keyed aggregation.
    */
  val BiPitGrid: Seq[(String, String)] = Seq(
    ("2024-01-08", "2024-01-08"), ("2024-01-08", "2024-01-11"),
    ("2024-01-22", "2024-01-22"), ("2024-01-22", "2024-01-25"))

  def pitBitemporal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.loadEvents(s, dir)
      .select(col("user_id"), col("tms"), col("event_id"), col("props"))
      // arrival = next midnight after the event + md5 lag of 0-2 days
      // (integer day arithmetic — div, not double division)
      .withColumn("arrival_ms", expr(
        "(tms div 86400000 + 1 + pmod(cast(conv(substring(md5(concat('lag_', " +
          "cast(event_id as string))), 1, 15), 16, 10) as bigint), 3)) * 86400000"))
    val grid = BiPitGrid.toDF("asof_date", "knowledge_date")
      .withColumn("asof_ms", unix_millis(col("asof_date").cast("timestamp")) + 86399999L)
      .withColumn("k_ms", unix_millis(col("knowledge_date").cast("timestamp")) + 86399999L)
    ev.join(broadcast(grid), col("tms") <= col("asof_ms") && col("arrival_ms") <= col("k_ms"))
      .groupBy("user_id", "asof_date", "knowledge_date")
      .agg(max(struct(col("tms"), col("event_id"), col("props"))).as("m"),
        count(lit(1)).as("n_known"))
      .select(col("asof_date"), col("knowledge_date"),
        dvHash(Seq(col("user_id").cast("string"))).as("hub_user_hk"),
        col("user_id"),
        dvHash(Seq(col("m.props"))).as("sat_user_hd"),
        col("m.tms").as("version_ms"), col("n_known"))
      .orderBy("asof_date", "knowledge_date", "user_id")
  }

  /** Current view: latest satellite version per key (max ts, tie event_id),
    * via the same single-shuffle max(struct(...)) aggregation as pit.
    */
  def currentView(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEvents(s, dir)
    ev.groupBy("user_id")
      .agg(max(struct(col("tms"), col("event_id"), col("props"))).as("m"))
      .select(
        dvHash(Seq(col("user_id").cast("string"))).as("hub_user_hk"),
        col("user_id"), col("m.props").as("current_props"), col("m.tms").as("version_ms"))
      .orderBy("user_id")
  }
}
