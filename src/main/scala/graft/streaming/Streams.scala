package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY.md §2.D — Structured Streaming twins of the batch operators.
  *
  * The same transforms run on readStream sources in production; specs drive
  * them with MemoryStream. The reference's background-worker refresh loop
  * (extension/src/controller/bgw_*.rs) maps to exactly this: a continuous
  * incremental load instead of a polled batch rebuild.
  */
object Streams {

  final case class Ev(event_id: Long, tms: Long, user_id: Long, event_type: String, value: Double)

  /** #38: watermarked tumbling-day aggregation (streaming twin of
    * events_tumbling). Works on both batch and streaming DataFrames.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_millis(col("tms")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_micros"))
      .select(col("w.start").cast("date").cast("string").as("day"),
        col("event_type"), col("n_events"), col("sum_value_micros"))

  /** Ev + the event-time column the watermark rides on. */
  final case class EvT(event_id: Long, tms: Long, user_id: Long, event_type: String,
                       value: Double, ets: java.sql.Timestamp)

  final case class SessionState(start: Long, last: Long, n: Int, sessions: Int)
  final case class SessionUpdate(user_id: Long, session_no: Int, start_ms: Long, end_ms: Long, n_events: Int)

  val GapMs: Long = 30 * 60 * 1000
  val SessionWatermark = "10 minutes"
  /** How long a closed-session tombstone keeps the per-user session
    * counter alive before state is dropped (counter continuity vs state
    * size: a returning user within the grace window continues numbering).
    */
  val TombstoneGraceMs: Long = 24 * 60 * 60 * 1000

  /** #39: stateful sessionization via flatMapGroupsWithState with
    * EventTimeTimeout — a closed session is emitted when a 30-minute gap
    * shows up in the data OR when the watermark passes the open session's
    * gap deadline with no further events for that user (the timeout path).
    * A timed-out session leaves an n=0 tombstone carrying the session
    * counter for a grace window (then expires), so session numbering stays
    * monotone per user while state size tracks open sessions plus
    * recently-active tombstones — bounded on an unbounded stream (the
    * NoTimeout version kept every user's state forever; StreamingSpec
    * asserts the bound and the numbering continuity).
    */
  def sessionize(events: DataFrame): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val wm = events
      .withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", SessionWatermark)
      .as[EvT]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, _, state: GroupState[SessionState]) if state.hasTimedOut =>
          val st = state.get
          if (st.n == 0) {
            // idle tombstone reached its grace deadline: drop the counter
            state.remove()
            Iterator.empty
          } else {
            // Close the open session but KEEP a tombstone carrying the
            // session counter (n = 0) for a grace period — removing state
            // outright restarted a returning user at session_no 1,
            // emitting duplicate (user_id, session_no) keys. The tombstone
            // is one tiny row per recently-active user and expires via the
            // grace timeout, so state stays bounded.
            state.update(st.copy(n = 0, sessions = st.sessions + 1))
            state.setTimeoutTimestamp(math.max(
              st.last + TombstoneGraceMs, state.getCurrentWatermarkMs() + 1))
            Iterator(SessionUpdate(uid, st.sessions, st.start, st.last, st.n))
          }
        case (uid, evs, state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tms, e.event_id))
          var st = state.getOption.getOrElse(SessionState(sorted.head.tms, sorted.head.tms, 0, 1))
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
          sorted.foreach { e =>
            if (st.n > 0 && e.tms - st.last > GapMs) {
              closed += SessionUpdate(uid, st.sessions, st.start, st.last, st.n)
              st = SessionState(e.tms, e.tms, 1, st.sessions + 1)
            } else {
              st = st.copy(last = e.tms, n = st.n + 1,
                start = if (st.n == 0) e.tms else st.start)
            }
          }
          state.update(st)
          // close via timeout once the watermark passes the gap deadline
          state.setTimeoutTimestamp(math.max(st.last + GapMs, state.getCurrentWatermarkMs() + 1))
          closed.iterator
      }
  }

  /** #41: watermarked stream-stream join — each purchase enriched with
    * ALL of the same user's prior signup-side events within 1 hour (a
    * purchase with several in-window signups emits one row per signup;
    * most-recent selection is a downstream aggregation). Both sides carry
    * watermarks so state is bounded; the time-range predicate makes the
    * join eligible for streaming execution.
    */
  def purchaseEnrich(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val p = purchases.withColumn("p_ts", timestamp_millis(col("tms")))
      .withWatermark("p_ts", "1 hour")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("p_ts"))
    val sg = signups.withColumn("s_ts", timestamp_millis(col("tms")))
      .withWatermark("s_ts", "1 hour")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"), col("s_ts"))
    p.join(sg,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
  }

  /** #46: streaming anomaly detection — the streaming twin of the batch
    * events_anomaly. Per event type, keep the exact integer running stats
    * (n, S=Σc, Q=Σc²) over completed daily counts in state and flag each
    * arriving day whose count fails the integer z-test
    * (n·c − S)² > 4·(n·Q − S²) against the history SO FAR. All-integer
    * state (no running double mean), so results are replay-stable; state
    * is three longs per event type — bounded by type cardinality.
    */
  final case class DayCount(event_type: String, day: String, cnt: Long)
  final case class TypeStats(n: Long, s: Long, qStr: String)
  final case class AnomalyFlag(event_type: String, day: String, cnt: Long, anomaly: Boolean)

  def anomalyStream(dailyCounts: Dataset[DayCount]): Dataset[AnomalyFlag] = {
    import dailyCounts.sparkSession.implicits._
    dailyCounts.groupByKey(_.event_type)
      .flatMapGroupsWithState[TypeStats, AnomalyFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, days, state: GroupState[TypeStats]) =>
          var st = state.getOption.getOrElse(TypeStats(0L, 0L, "0"))
          var q = BigInt(st.qStr) // Q=Σc² overflows int64 near c~1e9, so the
          // state carries it as a BigInt string (the batch twin widens to
          // DECIMAL(38,0)/HUGEINT for the same reason); n and S=Σc stay
          // comfortably inside int64
          val out = days.toSeq.sortBy(_.day).map { d =>
            val flagged = st.n >= 2 && {
              val dev = BigInt(st.n) * d.cnt - st.s
              dev * dev > 4 * (BigInt(st.n) * q - BigInt(st.s) * st.s)
            }
            q += BigInt(d.cnt) * BigInt(d.cnt)
            st = TypeStats(st.n + 1, st.s + d.cnt, q.toString)
            AnomalyFlag(d.event_type, d.day, d.cnt, flagged)
          }
          state.update(st)
          out.iterator
      }
  }

  /** #43: streaming exact dedup — at-least-once event feeds collapse to
    * exactly-once by event_id. dropDuplicatesWithinWatermark keeps dedup
    * state only until the watermark passes the event's time, so state is
    * bounded on an unbounded stream (plain dropDuplicates would keep every
    * key forever — the streaming twin of dedup_exact's hash-groupBy).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** #49: streaming near-dup gate — the continuous-ingestion twin of
    * dedup_minhash_lsh: is an arriving document a near-copy of anything
    * already in the corpus? Each row computes its OWN minhash band
    * signatures scan-locally (Dedup.rowBandStructsExpr — array HOFs, no
    * shuffle, bit-identical constants to the batch index); candidates come
    * from a stream-static equi-join on (band, sig) against the corpus band
    * index, then exact shingle-set Jaccard against the static per-doc
    * shingle sets decides. Stateless — streaming state never grows with
    * corpus size; the corpus side is static frames re-resolved per
    * micro-batch, at scale a bucketed band-keyed table. A pair matching in
    * >1 band emits duplicate candidate rows (at-least-once); the sink
    * collapses them with the same keyed anti-join append every vault load
    * uses (exactly-once pairs).
    */
  def nearDupStream(docs: DataFrame, corpusBands: DataFrame,
                    corpusShingles: DataFrame): DataFrame = {
    val sigged = docs
      .withColumn("toks", expr(graft.queries.Docs.toksSpark))
      .withColumn("shingles", expr(graft.queries.Dedup.RowShinglesExpr))
      .filter(size(col("shingles")) > 0)
      .withColumn("h32s", expr(graft.queries.Dedup.RowH32sExpr))
      .select(col("doc_id").as("in_doc"), col("shingles"),
        explode(expr(graft.queries.Dedup.rowBandStructsExpr)).as("bs"))
      .select(col("in_doc"), col("shingles"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    sigged
      .join(corpusBands.withColumnRenamed("doc_id", "corpus_doc"), Seq("band", "sig"))
      .filter(col("in_doc") =!= col("corpus_doc"))
      .join(corpusShingles
        .withColumnRenamed("doc_id", "corpus_doc")
        .withColumnRenamed("shingles", "corpus_shingles"), Seq("corpus_doc"))
      .withColumn("n_common", size(array_intersect(col("shingles"), col("corpus_shingles"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("shingles")) + size(col("corpus_shingles")) - col("n_common")))
      .filter(col("jaccard") >= graft.queries.Dedup.MinhashThreshold)
      .select(col("in_doc"), col("corpus_doc"), col("jaccard"))
  }

  /** Exactly-once sink for [[nearDupStream]]: per micro-batch, distinct
    * (in_doc, corpus_doc) pairs anti-joined against the flagged-pairs
    * store — redelivered or multi-band-matched pairs never double-land.
    * The stored side is a [[graft.dv.SinkRepo]] keyed by the anti-join
    * keys, so its anti-join needs no Exchange (swept in
    * StreamPlanSweepSpec) and compaction covers the append debris.
    */
  private[graft] val NearDupKeys = Seq("in_doc", "corpus_doc")

  def nearDupBatch(spark: SparkSession, batch: DataFrame, outPath: String): Unit =
    graft.dv.SinkRepo.load(spark, outPath, NearDupKeys, batch.dropDuplicates(NearDupKeys))

  /** The sink-side micro-batch PLAN of #49, exposed unwritten so the
    * streaming plan sweep audits the exact frame every batch executes.
    */
  def nearDupSinkPlan(spark: SparkSession, batch: DataFrame, outPath: String): DataFrame =
    graft.dv.SinkRepo.novel(spark, outPath, NearDupKeys, batch.dropDuplicates(NearDupKeys))

  def nearDupSink(docs: DataFrame, corpusBands: DataFrame, corpusShingles: DataFrame,
                  outPath: String, checkpoint: String) =
    nearDupStream(docs, corpusBands, corpusShingles)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, _: Long) => nearDupBatch(b.sparkSession, b, outPath))

  /** How long a user's last-event state survives inactivity before the
    * transition chain forgets them (state bound vs chain continuity: a
    * user returning within the window still pairs against their last
    * event; past it the chain restarts — the same trade the session
    * tombstone grace makes).
    */
  val TransitionIdleMs: Long = 24 * 60 * 60 * 1000

  /** #48: stateful per-user transition extraction — the streaming twin of
    * events_transitions' lag window. State is ONE last-event tuple per
    * RECENTLY ACTIVE user: EventTimeTimeout drops a user's state once the
    * watermark passes their last event + [[TransitionIdleMs]], so state
    * tracks active users, not all-time cardinality (the NoTimeout shape
    * the sessionizer was hardened against). Each micro-batch sorts its
    * per-user slice by (tms, event_id) — the batch twin's exact order —
    * and emits one (prev → next) pair per event, chaining across
    * micro-batch boundaries through the state. Assumes per-user in-order
    * delivery across batches (the usual partitioned-log contract); a late
    * event would pair against the newer state, which the replayable batch
    * twin corrects.
    */
  final case class LastEv(tms: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, prev_type: String, next_type: String)

  def transitionsStream(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    val wm = events
      .withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", "1 hour")
      .as[EvT]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[LastEv]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case (uid, evs, state: GroupState[LastEv]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tms, e.event_id))
          var prev = state.getOption
          val out = sorted.flatMap { e =>
            val t = prev.map(p => Transition(uid, p.event_type, e.event_type))
            prev = Some(LastEv(e.tms, e.event_id, e.event_type))
            t
          }
          prev.foreach { p =>
            state.update(p)
            state.setTimeoutTimestamp(math.max(
              p.tms + TransitionIdleMs, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** #50: streaming curation admission gate — the continuous twin of
    * pipeline_curate: should an arriving document enter the corpus?
    * Quality and language verdicts are computed scan-locally with the
    * EXACT batch gate expressions (Text.withQualityCols /
    * Text.withLangCols — shared column builders, not copies, so those two
    * stream verdicts are bit-identical to batch by construction; the spec
    * pins the parity). The PII gate shares only the regex CONSTANTS
    * (Text.EmailRe/PhoneRe) — here they run over the raw lowercased text,
    * while pipeline_curate_full's pii_clean counts over piiScrub's
    * injected, non-lowercased column, so those verdicts can differ on
    * uppercase emails (stream-only hit) or injected PII (batch-only).
    * Novelty is a stream-static left join against the corpus norm-hash set
    * (Text.normHashes — at scale a bucketed hash-keyed table the batch
    * dedup pass maintains). STATELESS: no watermark state, corpus side
    * re-resolved per micro-batch. keep = the conjunction of all gates,
    * the same shape pipeline_curate_full reports in batch.
    */
  def curateGateStream(docs: DataFrame, corpusHashes: DataFrame): DataFrame = {
    import graft.queries.{Curate, Docs, Text}
    val scored = Text.withLangCols(Text.withQualityCols(
        docs.withColumn("toks", expr(Docs.toksSpark))
          .withColumn("norm", expr(Docs.normSpark))))
      .withColumn("norm_sha256", expr("sha2(norm, 256)"))
      .withColumn("n_pii",
        regexp_count(lower(col("text")), lit(Text.EmailRe)).cast("long") +
          regexp_count(lower(col("text")), lit(Text.PhoneRe)).cast("long"))
    scored
      .join(corpusHashes.withColumn("dup_hit", lit(1L)), Seq("norm_sha256"), "left")
      .select(col("doc_id"),
        when(col("n_words") >= Curate.MinWords &&
          col("quality_score") >= Curate.MinQuality, 1L).otherwise(0L).as("pass_quality"),
        when(col("predicted_lang") =!= "unknown", 1L).otherwise(0L).as("pass_lang"),
        when(col("n_pii") === 0L, 1L).otherwise(0L).as("pass_pii"),
        when(col("dup_hit").isNull, 1L).otherwise(0L).as("pass_novel"))
      .withColumn("keep",
        col("pass_quality") * col("pass_lang") * col("pass_pii") * col("pass_novel"))
  }

  /** #51: stateful streaming last-touch attribution — the continuous twin
    * of events_attribution: credit each purchase to the user's most
    * recent click/view within the 30-minute window, as it happens. State
    * is ONE last-touch tuple per RECENTLY ACTIVE user (the transitions
    * shape); the EventTimeTimeout equals the attribution window, so
    * expiring idle state can only drop touches that would have failed
    * the window test anyway — the bound is correctness-free by
    * construction, and state tracks active users, not all-time
    * cardinality. Per-batch slices sort by (tms, event_id) — the batch
    * twin's exact ROWS order — and chains cross micro-batch boundaries
    * through the state, so replaying the whole log in one batch
    * reproduces events_attribution row for row (StreamingSpec pins it).
    *
    * Out-of-order limits (single-tuple state): a purchase must credit a
    * STRICTLY PRECEDING touch — (t.tms, t.event_id) < (e.tms, e.event_id),
    * the batch twin's ROWS ... 1 PRECEDING frame — so a late-arriving
    * purchase (allowed by the 1-hour watermark) never credits a future
    * touch already in state; it falls back to 'none'. That fallback is
    * the honest answer the bounded state can give: the historically
    * correct touch may already have been overwritten by a newer one, and
    * recovering it would require keeping the full touch log per user.
    */
  val AttribWindowMs: Long = 1800000L

  /** State schema of the attribution stream. UPGRADE NOTE (round-6
    * advice): event_id was added to this tuple in round 6, which changed
    * the flatMapGroupsWithState state encoding — a checkpoint written by
    * the pre-round-6 stream cannot restore against this class (state
    * schema incompatibility). Operators upgrading a live attribution
    * stream must reset its checkpoint (and replay the log for continuity);
    * the same applies to ANY future field change here. Also recorded in
    * DEPLOYMENT.md's streaming-upgrade section.
    */
  final case class LastTouch(tms: Long, event_id: Long, event_type: String)
  final case class Attribution(event_id: Long, user_id: Long, tms: Long,
                               touch_type: String, touch_tms: Long, latency_ms: Long)

  def attributionStream(events: DataFrame): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val wm = events
      .withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", "1 hour")
      .as[EvT]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, Attribution](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[LastTouch]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case (uid, evs, state: GroupState[LastTouch]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tms, e.event_id))
          var touch = state.getOption
          val out = sorted.flatMap { e =>
            val res = if (e.event_type == "purchase") {
              // window test AND strictly-preceding test (see docstring):
              // a late purchase must not credit a future touch in state
              val hit = touch.filter(t => t.tms >= e.tms - AttribWindowMs &&
                (t.tms < e.tms || (t.tms == e.tms && t.event_id < e.event_id)))
              Some(hit.map(t => Attribution(e.event_id, uid, e.tms, t.event_type, t.tms, e.tms - t.tms))
                .getOrElse(Attribution(e.event_id, uid, e.tms, "none", -1L, -1L)))
            } else None
            // monotone last-touch: a late-arriving OLDER touch must not
            // overwrite a newer one already in state
            if ((e.event_type == "click" || e.event_type == "view") &&
                touch.forall(t => t.tms < e.tms || (t.tms == e.tms && t.event_id < e.event_id)))
              touch = Some(LastTouch(e.tms, e.event_id, e.event_type))
            res
          }
          touch match {
            case Some(t) =>
              state.update(t)
              state.setTimeoutTimestamp(math.max(
                t.tms + AttribWindowMs, state.getCurrentWatermarkMs() + 1))
            case None => // no touch yet: nothing worth keeping
          }
          out.iterator
      }
  }

  /** #53: streaming effectivity satellite (r6) — the continuous twin of
    * dv_eff_sat: per DRIVING key (part), supplier assignments become
    * effective at their first-seen shipment, as shipments arrive. State is
    * the SET of supplier bks already effective for the part — bounded by
    * the per-part supplier cardinality (a domain constant, the
    * stream_anomaly type-space shape), NOT by event volume; re-delivered
    * shipments of a known assignment emit nothing. Per-batch slices sort
    * by (ship_day, supplier bk) — the batch twin's exact window order —
    * so replaying the whole shipment log in event order reproduces
    * dv_eff_sat's (part, supplier, eff_from) rows exactly (validity-window
    * closure stays a query-time LEAD, as in the batch object; an
    * insert-only stream cannot revise emitted rows, so an out-of-order
    * earlier shipment for an ALREADY-effective assignment cannot move its
    * eff_from back — the attribution-stream honesty rule).
    */
  final case class EffIn(part: Long, supp: Long, ship_day: String)
  final case class EffAssign(p_partkey_bk: String, s_suppkey_bk: String, eff_from: String)

  def effSatStream(assignments: DataFrame): Dataset[EffAssign] = {
    import assignments.sparkSession.implicits._
    assignments.as[EffIn]
      .groupByKey(_.part)
      .flatMapGroupsWithState[Set[String], EffAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (part, evs, state: GroupState[Set[String]]) =>
          var seen = state.getOption.getOrElse(Set.empty[String])
          val sorted = evs.toSeq.sortBy(e => (e.ship_day, e.supp.toString))
          val out = sorted.flatMap { e =>
            val bk = e.supp.toString
            if (!seen(bk)) {
              seen += bk
              Some(EffAssign(part.toString, bk, e.ship_day))
            } else None
          }
          state.update(seen)
          out.iterator
      }
  }

  /** #55: streaming source data-quality gate (r6) — the continuous twin
    * of dv_quality_checks: every arriving order row is checked
    * scan-locally against the scalar rules (price positivity) and
    * against the customer dimension by a STATELESS stream-static left
    * join (the FK probe); rows violating any rule land on the quarantine
    * stream with per-rule verdicts, clean rows pass through silently.
    * No state, no watermark — the corpus side re-resolves per
    * micro-batch (the curate-gate shape); at scale the dimension side is
    * the broadcast customer hub.
    */
  def qualityGateStream(orders: DataFrame, customers: DataFrame): DataFrame =
    orders
      .withColumn("bad_price", when(col("o_totalprice") <= 0, 1L).otherwise(0L))
      .join(customers.select(col("c_custkey").as("o_custkey"))
        .withColumn("fk_hit", lit(1L)), Seq("o_custkey"), "left")
      .withColumn("dangling_custkey", when(col("fk_hit").isNull, 1L).otherwise(0L))
      .filter(col("bad_price") + col("dangling_custkey") > 0L)
      .select("o_orderkey", "o_custkey", "bad_price", "dangling_custkey")

  /** #54: streaming BUSINESS-vault computed satellite (r6) — the
    * continuous twin of dv_computed_sat: per customer, the computed
    * attributes (order count, lifetime cents, last-order ms) update as
    * order rows arrive, and every CHANGE emits a new insert-only
    * satellite version with its own hash-diff — the streaming SCD2 shape
    * (a re-delivered identical batch changes nothing, so it emits
    * nothing... but note a re-delivered ORDER ROW is indistinguishable
    * from a new order at this state size; exactly-once ingestion is the
    * upstream dedup gate's job, stream_dedup_exact). State is one
    * 3-number tuple per customer — bounded by customer cardinality, the
    * stream_anomaly shape. Replaying the whole orders log yields, per
    * customer, a version chain whose LAST row equals dv_computed_sat's
    * row for that customer (StreamingSpec pins it).
    */
  final case class OrderEv(o_orderkey: Long, o_custkey: Long, total_cents: Long, order_ms: Long)
  final case class BvState(order_cnt: Long, total_cents: Long, last_order_ms: Long)
  final case class BvVersion(o_custkey: Long, order_cnt: Long, total_cents: Long,
                             last_order_ms: Long, hd: String)

  def computedSatStream(orders: DataFrame): Dataset[BvVersion] = {
    import orders.sparkSession.implicits._
    orders.as[OrderEv]
      .groupByKey(_.o_custkey)
      .flatMapGroupsWithState[BvState, BvVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (ck, evs, state: GroupState[BvState]) =>
          var st = state.getOption.getOrElse(BvState(0L, 0L, Long.MinValue))
          // deterministic per-batch order: (order_ms, o_orderkey) — ties
          // and replays sequence identically on every run
          val sorted = evs.toSeq.sortBy(e => (e.order_ms, e.o_orderkey))
          val out = sorted.map { e =>
            st = BvState(st.order_cnt + 1L, st.total_cents + e.total_cents,
              math.max(st.last_order_ms, e.order_ms))
            val hd = java.security.MessageDigest.getInstance("SHA-256")
              .digest(s"${st.order_cnt},${st.total_cents},${st.last_order_ms}"
                .getBytes("UTF-8")).map(b => f"$b%02x").mkString
            BvVersion(ck, st.order_cnt, st.total_cents, st.last_order_ms, hd)
          }
          state.update(st)
          out.iterator
      }
  }

  /** #52: streaming SEMANTIC dedup gate — the embedding twin of
    * stream_near_dup: is an arriving vector a near-duplicate of anything
    * already indexed?
    *
    * r12 (r11 verdict #1): the asymmetric form of the batch blocked-EXACT
    * kernel, the `dedup_incremental` new×old discipline applied to
    * `dedup_embed_cosine`'s blocks. Each arriving vector explodes to B
    * probe rows and equi-joins the bucketed corpus block table (B
    * metadata-scale rows of ~n/B vectors each — the batch kernel's
    * layout, shared via Similarity.embedBlocksTable); each joined row
    * runs the probe kernel: index-ordered exact dots against one block,
    * emitting only pairs ≥ τ. Per-arrival cost is EXACTLY n dot products
    * with a ~1 constant and recall 1.0 structural — at τ=0.4, where a
    * random pair's cosine sits near the decision band, no banded index
    * prunes honestly (the replaced 32-band × 2-bit index passed a random
    * pair with p ≈ 1−0.75³² ≈ 0.9999, i.e. ~8n candidate rows per
    * arrival — a corpus scan with an 8× constant). STATELESS — no
    * watermark state; at 100 TB the block table is a bucketed parquet
    * maintained by the batch indexer and the per-arrival Ω(n) is the
    * exactness contract's price, paid once per vector with the kernel's
    * unit constant. Emits each (arrival, corpus) pair exactly once —
    * sink with the keyed anti-join append like nearDupBatch for
    * exactly-once across re-delivery.
    */
  def semanticDedupStream(vecs: DataFrame, corpusBlocks: DataFrame,
                          nBlocks: Int): DataFrame = {
    import graft.queries.Similarity
    val s = vecs.sparkSession
    import s.implicits._
    semanticDedupJoined(vecs, corpusBlocks, nBlocks)
      .select(col("in_vec"), col("embedding"), col("items"))
      .as[(Long, Seq[Float], Seq[(Long, Seq[Float])])]
      .flatMap { case (inVec, e, items) =>
        Similarity.probeBlockKernel(inVec, e, items, Similarity.DedupTau)
      }
      .toDF("in_vec", "corpus_vec", "cosine")
  }

  /** The pre-kernel probe join of [[semanticDedupStream]] — exposed so
    * StreamingSpec can pin the per-arrival candidate volume structurally:
    * exactly nBlocks joined rows per arriving vector, whose item lists
    * sum to exactly the corpus size (every corpus vector touched once).
    */
  private[graft] def semanticDedupJoined(vecs: DataFrame, corpusBlocks: DataFrame,
                                         nBlocks: Int): DataFrame =
    vecs.select(col("vec_id").as("in_vec"), col("embedding"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"))
      .join(corpusBlocks, Seq("blk"))

  /** #59: PRODUCTION-threshold streaming semantic gate (r12 verdict #3) —
    * the streaming twin of `dedup_embed_cosine_prod`, giving users a
    * SUB-CORPUS-SCAN admission path when their threshold allows honest
    * pruning (τ = 0.8; the exact #52 gate stays the recall-1.0 option and
    * pays Ω(n) per arrival by contract — at τ=0.4 no banding prunes
    * honestly). Each arriving vector computes its ProdBands corpus-derived
    * hyperplane band signatures SCAN-LOCALLY (the stream_near_dup
    * discipline: the graftHyperplaneSigs codegen kernel, bit-identical
    * constants to the batch index — same md5-derived coefficients at the
    * same flat band·planes+plane index), equi-joins the corpus
    * (band, sig) index built from prodSigs, and exact-verifies ONLY the
    * banded candidates. Expected per-arrival candidates ≤ Bands·occupancy
    * (the batch op's 160·n/n discipline applied per arrival: occupancy ≤
    * ProdTargetBucket by min-k derivation, measured skew slack included in
    * the spec's pin) — independent of corpus size at fixed occupancy,
    * because `planes` GROWS with the corpus. STATELESS — corpus side is a
    * static frame re-resolved per micro-batch, at 100 TB a bucketed
    * (band, sig)-keyed table maintained by the batch indexer. Emits one
    * row per (arrival, corpus, matching band) (at-least-once, like
    * stream_near_dup's multi-band rows); the sink collapses to
    * exactly-once pairs with the keyed anti-join append
    * ([[semanticProdSinkPlan]]). `planes` is passed by the caller — it is
    * a property of the INDEX (derived from corpus size at build time via
    * prodPlanesFor), not of the stream.
    */
  def semanticDedupProdStream(vecs: DataFrame, corpusBands: DataFrame,
                              corpusVecs: DataFrame, planes: Int,
                              tau: Double = graft.queries.Similarity.ProdTau): DataFrame = {
    import graft.queries.Similarity
    semanticDedupProdJoined(vecs, corpusBands, planes)
      .join(corpusVecs.select(col("vec_id").as("corpus_vec"),
        col("embedding").as("corpus_emb")), Seq("corpus_vec"))
      .withColumn("cosine", graft.functions.GraftColumns.graftCosine(
        col("embedding"), col("corpus_emb")))
      .filter(col("cosine") >= tau)
      .select(col("in_vec"), col("corpus_vec"), col("cosine"))
  }

  /** The pre-verification candidate join of [[semanticDedupProdStream]] —
    * exposed so StreamingSpec can pin the per-arrival candidate volume
    * (≤ Bands·occupancy·skew per arriving vector, the batch 160·n pin's
    * per-arrival form). One row per (arrival, corpus vector, matching
    * band); self-matches dropped.
    */
  private[graft] def semanticDedupProdJoined(vecs: DataFrame, corpusBands: DataFrame,
                                             planes: Int): DataFrame = {
    import graft.queries.Similarity
    vecs.select(col("vec_id").as("in_vec"), col("embedding"),
        posexplode(graft.functions.GraftColumns.graftHyperplaneSigs(
          col("embedding"), Similarity.prodCoefs(planes), planes)).as(Seq("band", "sig")))
      .join(corpusBands.withColumnRenamed("vec_id", "corpus_vec"), Seq("band", "sig"))
      .filter(col("in_vec") =!= col("corpus_vec"))
  }

  /** Exactly-once sink plan for #59 (the [[nearDupSinkPlan]] discipline on
    * (in_vec, corpus_vec)): multi-band matches and redelivered batches
    * collapse to one stored row per pair. Stored side bucketed through the
    * catalog (r14 — see [[nearDupSinkPlan]]).
    */
  private[graft] val SemanticProdKeys = Seq("in_vec", "corpus_vec")

  def semanticProdSinkPlan(spark: SparkSession, batch: DataFrame, outPath: String): DataFrame =
    graft.dv.SinkRepo.novel(spark, outPath, SemanticProdKeys,
      batch.dropDuplicates(SemanticProdKeys))

  def semanticProdBatch(spark: SparkSession, batch: DataFrame, outPath: String): Unit =
    graft.dv.SinkRepo.load(spark, outPath, SemanticProdKeys,
      batch.dropDuplicates(SemanticProdKeys))

  /** #56: streaming INCREMENTAL IVF index maintenance — the streaming
    * form of `ann_ivf_incr` (§2.C 36b''), closing the loop between
    * continuous vector arrival (stream_semantic_dedup admits them) and
    * the train-once IVF index. Per micro-batch:
    *
    *   1. each arriving vector is quantized and assigned to the
    *      STORED-trained coarse centroids SCAN-LOCALLY (the literal-argmax
    *      codegen projection — no join, no shuffle, no retrain), and
    *   2. only never-seen vec_ids append to the repo's bucketed
    *      cell-assignment index (IvfIndexRepo.appendAssigned, so a
    *      re-delivered batch appends nothing), while
    *   3. the batch's per-cell drift evidence — the exact-integer
    *      displacement report of the batch kernel — lands on a drift log
    *      keyed by batch_id, joined against a PRECOMPUTED index-scale
    *      stored-side aggregate (cells × Dim rows; the stream-static join
    *      is never corpus-scale). Drift is a per-batch time series and is
    *      deliberately computed on the batch AS DELIVERED (a re-delivered
    *      batch reports its drift again — honest monitoring), while the
    *      INDEX stays exactly-once via the anti-join.
    *
    * The index and the stored agg live in a graft.dv.IvfIndexRepo, and
    * the stored agg refreshes with each retrain; the reference analogue
    * is the bgw refresh loop's incremental discipline
    * (extension/src/controller/dv_loader.rs:5-66). [[ivfIncrRepoSink]]
    * wires it; this is its per-batch drift report: the batch side folds
    * through the same ivfDimAgg the batch op uses, against the caller's
    * precomputed stored-side aggregate.
    */
  def ivfDriftPlan(batch: DataFrame, cents: Seq[(Long, Seq[Long])],
                   storedAgg: DataFrame): DataFrame = {
    import graft.queries.Similarity
    Similarity.ivfIncrFromAggs(storedAgg,
      Similarity.ivfDimAgg(
        Similarity.withQuantized(batch.select(col("vec_id"), col("embedding"))),
        cents, "a_d", "n_a"))
  }

  /** The stored-side (cell, pos) aggregate #56 joins every batch against —
    * computed ONCE per index generation (index-scale output: cells × Dim
    * rows), not per micro-batch.
    */
  def ivfStoredAgg(stored: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import graft.queries.Similarity
    Similarity.ivfDimAgg(
      Similarity.withQuantized(stored.select(col("vec_id"), col("embedding"))),
      cents, "s_d", "n_s")
  }

  /** #57: streaming token-budget admission gate — the continuous form of
    * corpus_token_budget (§2.C 36i''), KEYED PER SOURCE (r12, the r11
    * verdict #7 seam): documents arrive with their source, token count and
    * exact-integer quality score (the shared builders compute both
    * scan-locally, the curateGateStream discipline) and the gate marks
    * each against its SOURCE's inclusive running token total using the
    * batch op's exact comparison, cum·1000 ≤ sourceTotal·permille — no
    * division, both sides BIGINT. State = one BIGINT counter per source,
    * sharded across the cluster by the group key, so no single task
    * funnels the corpus (the r11 registered form keyed globally — the
    * single-group bottleneck is gone from the registered surface; global
    * gating is the degenerate one-source call: source = lit("all")).
    * Source budgets arrive as a metadata-scale Map (one entry per source,
    * closure-serialized like the IVF centroids). Within a (micro-batch,
    * source) cell, docs sequence deterministically by (q_int desc,
    * doc_id) — the batch op's rank order, bounded by batch size — so a
    * quality-ordered replay reproduces a per-source corpus_token_budget
    * run row for row across any batch boundaries (the spec pins it);
    * out-of-rank arrival degrades gracefully to arrival-order gating, the
    * only semantics a stream can offer. Rejected docs still accrue to
    * their source's counter (the batch op's monotone prefix semantics):
    * the gate MARKS, the sink filters. A source missing from the budget
    * map gets budget 0 — every arrival marked rejected, never dropped.
    */
  final case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long, q_int: Long)
  final case class BudgetState(cum: Long)
  final case class BudgetVerdict(source: String, doc_id: Long, q_int: Long,
                                 n_tokens: Long, cum_tokens: Long, selected: Long)

  def tokenBudgetGateStream(docs: DataFrame, sourceTotals: Map[String, Long],
                            permille: Long): Dataset[BudgetVerdict] = {
    import docs.sparkSession.implicits._
    docs.as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, BudgetVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (src, evs, state: GroupState[BudgetState]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val budget = sourceTotals.getOrElse(src, 0L) * permille
          val out = evs.toSeq.sortBy(d => (-d.q_int, d.doc_id)).map { d =>
            cum += d.n_tokens
            BudgetVerdict(src, d.doc_id, d.q_int, d.n_tokens, cum,
              if (cum * 1000L <= budget) 1L else 0L)
          }
          state.update(BudgetState(cum))
          out.iterator
      }
  }

  /** #58: streaming packed-sequence writer — the continuous form of
    * corpus_pack_write (§2.C 36i''''''), KEYED PER SOURCE: each source's
    * token stream packs independently into fixed SeqLen-token windows
    * (doc-contiguous, split-allowed), which is exactly how a production
    * pipeline shards packing anyway — one packer per shard/source, no
    * global token order across the cluster. The funnel is PER-SOURCE, not
    * eliminated: each (micro-batch × source) cell still assembles in one
    * task (evs.toSeq below), so a single hot source pushes its whole
    * micro-batch through one task — bounded by micro-batch admission
    * (maxOffsetsPerTrigger-style source rate limits are the operational
    * bound), never by corpus size.
    * State per source = the TAIL: the < SeqLen (doc_id, token) slots that
    * haven't filled a window yet, plus the next sequence id — bounded by
    * construction, never corpus-scale. Within a (micro-batch, source)
    * cell, docs sequence by the batch writer's deterministic hash order
    * (h = md5Long64(doc_id), computed SCAN-LOCALLY in the input plan, not
    * in the state lambda), so a hash-ordered replay reproduces the batch
    * writer's windows row for row across ANY batch split — the spec pins
    * full-window parity with corpus_pack_write under a split stream.
    * Out-of-rank arrival degrades to PER-BATCH hash-order packing: each
    * (batch, source) cell re-sorts into bucket-major hash order before
    * packing, so a late doc packs in its own batch's hash order after
    * already-emitted windows — neither global hash order nor raw arrival
    * order (same disclosure class as #57).
    * Emitted rows are COMPLETED windows only — (source, seq_id, n_docs,
    * n_tokens, sha256 of the space-joined window), the writer's exact
    * oracle-comparable reduction; the sha is computed per emitted window
    * inside the state op (window-scale, SeqLen tokens), bit-identical to
    * Spark's sha2(concat_ws(' ', tokens), 256). The exactly-once sink
    * appends through the (source, seq_id) anti-join (packSinkPlan — the
    * nearDupSinkPlan discipline), so checkpoint replay never double-lands
    * a window.
    */
  final case class PackDoc(source: String, doc_id: Long, h: Long, toks: Seq[String])
  final case class TokSlot(doc_id: Long, tok: String)
  final case class PackState(nextSeq: Long, tail: Seq[TokSlot])
  final case class PackedSeq(source: String, seq_id: Long, n_docs: Long,
                             n_tokens: Long, seq_sha: String)

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  def packWriteStream(docs: DataFrame,
                      seqLen: Int = graft.queries.Curate.SeqLen.toInt): Dataset[PackedSeq] = {
    import docs.sparkSession.implicits._
    val L = seqLen
    docs.as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[PackState, PackedSeq](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (src, evs, state: GroupState[PackState]) =>
          val st = state.getOption.getOrElse(PackState(0L, Nil))
          val B = graft.queries.Curate.PrefixBuckets
          // the batch writer's exact global order is BUCKET-major:
          // (h % PrefixBuckets, h, doc_id) — tokenStarts' two-phase
          // prefix-sum key — so the in-cell sort mirrors it for the
          // replay-parity pin to hold
          val incoming = evs.toSeq.sortBy(d => (d.h % B, d.h, d.doc_id))
            .iterator.flatMap(d => d.toks.iterator.map(t => TokSlot(d.doc_id, t)))
          val buf = (st.tail.iterator ++ incoming).toArray
          val nWin = buf.length / L
          val out = (0 until nWin).map { w =>
            val win = java.util.Arrays.copyOfRange(buf, w * L, (w + 1) * L)
            PackedSeq(src, st.nextSeq + w,
              win.iterator.map(_.doc_id).toSet.size.toLong, L.toLong,
              sha256Hex(win.iterator.map(_.tok).mkString(" ")))
          }
          state.update(PackState(st.nextSeq + nWin,
            buf.drop(nWin * L).toSeq))
          out.iterator
      }
  }

  /** The sink-side micro-batch PLAN of #58 (see [[nearDupSinkPlan]]):
    * distinct (source, seq_id) windows anti-joined against the packed
    * store — a replayed micro-batch appends nothing twice. Stored side
    * bucketed through the catalog (r14 — see [[nearDupSinkPlan]]).
    */
  private[graft] val PackKeys = Seq("source", "seq_id")

  def packSinkPlan(spark: SparkSession, batch: DataFrame, outPath: String): DataFrame =
    graft.dv.SinkRepo.novel(spark, outPath, PackKeys, batch.dropDuplicates(PackKeys))

  def packSinkBatch(spark: SparkSession, batch: DataFrame, outPath: String): Unit =
    graft.dv.SinkRepo.load(spark, outPath, PackKeys, batch.dropDuplicates(PackKeys))

  /** Wire #56 onto a streaming vector DataFrame via foreachBatch, against
    * the VAULT-DISCIPLINED index repo (r12 verdict #5): centroids and the
    * bucket spec come from the repo's own metadata
    * (graft.dv.IvfIndexRepo), the exactly-once append goes THROUGH the
    * session catalog (never plain parquet into a bucketed layout), so
    * batch loads (IvfIndexRepo.appendBatch) and this stream maintain THE
    * SAME index, and DvMaintenance.rewriteObject compacts it like any
    * vault object. Per micro-batch the K-scale centroid read
    * refreshes from the repo — a retrain that rewrites `ivf_centroids`
    * flows into subsequent batches without restarting the stream.
    *
    * BOTH appends are idempotent under same-batch_id checkpoint replay
    * (r12 ADVICE): the index anti-joins on vec_id (never-seen vectors
    * only), and the drift log — a [[graft.dv.SinkRepo]] at `driftPath`,
    * read back through `SinkRepo.read` — anti-joins on batch_id: a crash between
    * the two appends and the stream commit re-runs the batch but appends
    * nothing twice, so the spec-pinned per-cell arrival-sum parity holds
    * across replays. "Honest monitoring" (drift recomputed per DELIVERED
    * batch) still applies to upstream re-delivery, which arrives under a
    * NEW batch_id. The seen-batch_ids side is metadata-scale (one id per
    * micro-batch ever run) — AQE broadcasts the anti-join.
    */
  def ivfIncrRepoSink(vecs: DataFrame, storedAgg: DataFrame, repoDir: String,
                      driftPath: String, checkpoint: String) =
    vecs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        import graft.queries.Similarity
        val cents = graft.dv.IvfIndexRepo.centroids(s, repoDir)
        val assigned = Similarity.assignCells(
            Similarity.withQuantized(batch.select(col("vec_id"), col("embedding"))), cents)
          .select(col("vec_id"), col("cell"), lit(s"batch_$batchId").as("load_ts"))
        graft.dv.IvfIndexRepo.appendAssigned(s, repoDir, assigned)
        // drift baseline: prefer the repo's own (retrainIvf refreshes it to
        // the live quantizer generation); the caller's frame is the
        // pre-first-retrain fallback
        val agg = graft.dv.IvfIndexRepo.storedAgg(s, repoDir).getOrElse(storedAgg)
        graft.dv.SinkRepo.load(s, driftPath, Seq("batch_id"),
          ivfDriftPlan(batch, cents, agg).withColumn("batch_id", lit(batchId)))
        ()
      }
}
