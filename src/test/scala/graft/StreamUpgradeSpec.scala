package graft

import java.nio.file.Files

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryException}

/** The streaming state-store upgrade drill (round-7 verdict item 8):
  * DEPLOYMENT.md's stateful-op upgrade rule says a changed state case
  * class cannot restore an old checkpoint and prescribes checkpoint
  * reset + log replay. This spec PROVES all three sides of that rule on
  * `stream_computed_sat`:
  *
  *  1. restoring a live checkpoint under an upgraded state class (an
  *     appended Option field — the gentlest possible change) fails
  *     LOUDLY at the state-schema check, it never restores garbage;
  *  2. the failure is non-destructive: the ORIGINAL class resumes the
  *     same checkpoint and finishes the log with batch-twin parity;
  *  3. the prescribed migration — reset + full replay under the new
  *     class — converges to the batch twin with the new field filled.
  */
object StreamUpgradeSpec {
  // ---- the "upgraded" operator's types: BvState + first_order_ms ----
  // (top-level so Spark can derive encoders without an outer scope)
  final case class BvStateV2(order_cnt: Long, total_cents: Long,
                             last_order_ms: Long, first_order_ms: Option[Long])
  final case class BvVersionV2(o_custkey: Long, order_cnt: Long, total_cents: Long,
                               last_order_ms: Long, first_order_ms: Option[Long], hd: String)

  // ---- upgraded attribution (r9, verdict #7): LastTouch + n_touches ----
  final case class LastTouchV2(tms: Long, event_id: Long, event_type: String,
                               n_touches: Option[Long])
  final case class AttributionV2(event_id: Long, user_id: Long, tms: Long,
                                 touch_type: String, touch_tms: Long, latency_ms: Long,
                                 n_touches: Option[Long])

  // ---- upgraded sessionize (r9): SessionState + max_gap_ms ----
  final case class SessionStateV2(start: Long, last: Long, n: Int, sessions: Int,
                                  max_gap_ms: Option[Long])
  final case class SessionUpdateV2(user_id: Long, session_no: Int, start_ms: Long,
                                   end_ms: Long, n_events: Int, max_gap_ms: Option[Long])

  // ---- upgraded transitions (r10, verdict #7): LastEv + n_seen ----
  final case class LastEvV2(tms: Long, event_id: Long, event_type: String,
                            n_seen: Option[Long])
  final case class TransitionV2(user_id: Long, prev_type: String, next_type: String,
                                gap_ms: Option[Long])

  // ---- upgraded eff_sat (r10): Set[String] state -> struct ----
  final case class EffStateV2(seen: Seq[String], n_total: Option[Long])
  final case class EffAssignV2(p_partkey_bk: String, s_suppkey_bk: String,
                               eff_from: String, nth_supplier: Option[Long])

  // ---- upgraded anomaly (r10): TypeStats + max_cnt ----
  final case class TypeStatsV2(n: Long, s: Long, qStr: String, max_cnt: Option[Long])
  final case class AnomalyFlagV2(event_type: String, day: String, cnt: Long,
                                 anomaly: Boolean, max_seen: Option[Long])
}

class StreamUpgradeSpec extends SparkSpec {
  import StreamUpgradeSpec._

  private def computedSatStreamV2(orders: DataFrame): Dataset[BvVersionV2] = {
    import orders.sparkSession.implicits._
    orders.as[Streams.OrderEv]
      .groupByKey(_.o_custkey)
      .flatMapGroupsWithState[BvStateV2, BvVersionV2](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (ck, evs, state: GroupState[BvStateV2]) =>
          var st = state.getOption.getOrElse(BvStateV2(0L, 0L, Long.MinValue, None))
          val sorted = evs.toSeq.sortBy(e => (e.order_ms, e.o_orderkey))
          val out = sorted.map { e =>
            st = BvStateV2(st.order_cnt + 1L, st.total_cents + e.total_cents,
              math.max(st.last_order_ms, e.order_ms),
              Some(st.first_order_ms.fold(e.order_ms)(math.min(_, e.order_ms))))
            // hd stays the V1 recipe — the upgrade adds an attribute, it
            // must not rewrite history's hash-diffs
            val hd = java.security.MessageDigest.getInstance("SHA-256")
              .digest(s"${st.order_cnt},${st.total_cents},${st.last_order_ms}"
                .getBytes("UTF-8")).map(b => f"$b%02x").mkString
            BvVersionV2(ck, st.order_cnt, st.total_cents, st.last_order_ms,
              st.first_order_ms, hd)
          }
          state.update(st)
          out.iterator
      }
  }

  private def orderLog(): Array[Streams.OrderEv] = {
    import spark.implicits._
    Tables.load(spark, sfDir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long").as("total_cents"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"))
      .as[Streams.OrderEv].collect().sortBy(e => (e.order_ms, e.o_orderkey))
  }

  private def batchTwin(): Map[String, (Long, Long, Long, String)] =
    SparkEntry.queries("dv_computed_sat")(spark, sfDir).collect()
      .map(r => r.getAs[String]("hub_customer_hk") ->
        (r.getAs[Long]("order_cnt"), r.getAs[Long]("total_cents"),
          r.getAs[Long]("last_order_ms"), r.getAs[String]("sat_customer_bv_hd"))).toMap

  private val sha = (s: String) => java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("upgraded state class cannot restore a live checkpoint; old class resumes it to parity") {
    import spark.implicits._
    withTempVault("graft_upgrade") { tmp =>
      val src = s"$tmp/incoming"; val ckpt = s"$tmp/ckpt"
      val outV1 = s"$tmp/out_v1"; val outV2 = s"$tmp/out_v2"
      val ords = orderLog()
      val (b1, b2) = ords.splitAt(ords.length / 2)
      b1.toSeq.toDS().write.mode("append").parquet(src)
      def fileStream = spark.readStream
        .schema(b1.toSeq.toDS().schema).parquet(src)

      // phase 1: pre-upgrade stream consumes slice A against the checkpoint
      // (foreachBatch parquet sink — the recoverable-sink shape the vault
      // loaders use; memory sinks cannot restore a checkpoint at all)
      val q1 = Streams.computedSatStream(fileStream).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[Streams.BvVersion], _: Long) =>
          b.write.mode("append").parquet(outV1))
        .outputMode("append").start()
      q1.processAllAvailable(); q1.stop()
      assert(spark.read.parquet(outV1).count() == b1.length)

      // slice B lands while the operator is being "upgraded"
      b2.toSeq.toDS().write.mode("append").parquet(src)

      // phase 2: the upgraded class against the SAME checkpoint — the
      // state-schema check must reject the restore loudly
      val q2 = computedSatStreamV2(fileStream).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[BvVersionV2], _: Long) =>
          b.write.mode("append").parquet(outV2))
        .outputMode("append").start()
      val ex = intercept[StreamingQueryException] { q2.processAllAvailable() }
      q2.stop()
      val msg = Option(ex.getCause).map(_.toString).getOrElse(ex.toString).toLowerCase
      assert(msg.contains("schema") || msg.contains("compatible"),
        s"restore failed for an unexpected reason: $msg")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outV2)) ||
        spark.read.parquet(outV2).isEmpty, "rejected restore still emitted rows")

      // phase 3: non-destructive — the ORIGINAL class resumes the same
      // checkpoint, consumes slice B, and the combined chain matches the
      // batch twin exactly
      val q3 = Streams.computedSatStream(fileStream).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[Streams.BvVersion], _: Long) =>
          b.write.mode("append").parquet(outV1))
        .outputMode("append").start()
      q3.processAllAvailable(); q3.stop()
      val all = spark.read.parquet(outV1).as[Streams.BvVersion].collect()
      assert(all.length == ords.length,
        s"resume re-emitted or dropped versions: ${all.length} for ${ords.length} orders")
      val last = all.groupBy(_.o_custkey)
        .map { case (ck, vs) => ck -> vs.maxBy(_.order_cnt) }
      val batch = batchTwin()
      assert(last.nonEmpty)
      last.foreach { case (ck, v) =>
        val b = batch(sha(ck.toString))
        assert((v.order_cnt, v.total_cents, v.last_order_ms, v.hd) == b,
          s"customer $ck diverges from dv_computed_sat after resume: $v vs $b")
      }
    }
  }

  // ------------------------------------------------------------------
  // r9 (verdict #7): the drill parameterized over the two largest-state
  // stateful streams. One helper proves sides 1 and 2 of the upgrade rule
  // (upgraded class cannot restore; original class resumes the same
  // checkpoint non-destructively) and returns the combined V1 rows plus a
  // reset-and-replay migration under V2; each op's test then asserts its
  // own parity (side 3) against the batch twin.
  // ------------------------------------------------------------------

  private def upgradeDrill[E: org.apache.spark.sql.Encoder,
                           V1: org.apache.spark.sql.Encoder, V2: org.apache.spark.sql.Encoder](
      tag: String, log: Seq[E],
      v1: DataFrame => Dataset[V1], v2: DataFrame => Dataset[V2]): (Seq[V1], Seq[V1], Seq[V2]) = {
    import spark.implicits._
    withTempVault(s"graft_upgrade_$tag") { tmp =>
      val src = s"$tmp/incoming"; val ckpt = s"$tmp/ckpt"
      val outV1 = s"$tmp/out_v1"; val outV2 = s"$tmp/out_v2"
      val (a, b) = log.splitAt(log.length / 2)
      a.toDS().write.mode("append").parquet(src)
      def fileStream = spark.readStream.schema(a.toDS().schema).parquet(src)
      // phase 1: V1 consumes slice A against the checkpoint
      val q1 = v1(fileStream).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((batch: Dataset[V1], _: Long) => batch.write.mode("append").parquet(outV1))
        .outputMode("append").start()
      q1.processAllAvailable(); q1.stop()
      val phase1 = if (java.nio.file.Files.exists(java.nio.file.Paths.get(outV1)))
        spark.read.parquet(outV1).as[V1].collect().toSeq else Seq.empty[V1]
      b.toDS().write.mode("append").parquet(src)
      // phase 2: upgraded class against the SAME checkpoint — loud rejection
      val q2 = v2(fileStream).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((batch: Dataset[V2], _: Long) => batch.write.mode("append").parquet(outV2))
        .outputMode("append").start()
      val ex = intercept[StreamingQueryException] { q2.processAllAvailable() }
      q2.stop()
      val msg = Option(ex.getCause).map(_.toString).getOrElse(ex.toString).toLowerCase
      assert(msg.contains("schema") || msg.contains("compatible"),
        s"$tag: restore failed for an unexpected reason: $msg")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outV2)) ||
        spark.read.parquet(outV2).isEmpty, s"$tag: rejected restore still emitted rows")
      // phase 3: the ORIGINAL class resumes the same checkpoint over slice B
      val q3 = v1(fileStream).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((batch: Dataset[V1], _: Long) => batch.write.mode("append").parquet(outV1))
        .outputMode("append").start()
      q3.processAllAvailable(); q3.stop()
      val combined = spark.read.parquet(outV1).as[V1].collect().toSeq
      // prescribed migration: checkpoint reset + one-shot full replay under V2
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[E]
      val qm = v2(mem.toDF()).writeStream
        .format("memory").queryName(s"up_${tag}_v2").outputMode("append").start()
      mem.addData(log.toIndexedSeq: _*); qm.processAllAvailable(); qm.stop()
      val migrated = spark.table(s"up_${tag}_v2").as[V2].collect().toSeq
      (phase1, combined, migrated)
    }
  }

  private def attributionStreamV2(events: DataFrame): Dataset[AttributionV2] = {
    import events.sparkSession.implicits._
    val wm = events.withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", "1 hour").as[Streams.EvT]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouchV2, AttributionV2](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[LastTouchV2]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (uid, evs, state: GroupState[LastTouchV2]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tms, e.event_id))
          var touch = state.getOption
          val out = sorted.flatMap { e =>
            val res = if (e.event_type == "purchase") {
              val hit = touch.filter(t => t.tms >= e.tms - Streams.AttribWindowMs &&
                (t.tms < e.tms || (t.tms == e.tms && t.event_id < e.event_id)))
              Some(hit.map(t => AttributionV2(e.event_id, uid, e.tms, t.event_type, t.tms,
                  e.tms - t.tms, Some(t.n_touches.getOrElse(0L))))
                .getOrElse(AttributionV2(e.event_id, uid, e.tms, "none", -1L, -1L,
                  Some(touch.flatMap(_.n_touches).getOrElse(0L)))))
            } else None
            if ((e.event_type == "click" || e.event_type == "view") &&
                touch.forall(t => t.tms < e.tms || (t.tms == e.tms && t.event_id < e.event_id)))
              touch = Some(LastTouchV2(e.tms, e.event_id, e.event_type,
                Some(touch.flatMap(_.n_touches).getOrElse(0L) + 1L)))
            res
          }
          touch match {
            case Some(t) =>
              state.update(t)
              state.setTimeoutTimestamp(math.max(
                t.tms + Streams.AttribWindowMs, state.getCurrentWatermarkMs() + 1))
            case None => ()
          }
          out.iterator
      }
  }

  private def sessionizeV2(events: DataFrame): Dataset[SessionUpdateV2] = {
    import events.sparkSession.implicits._
    val wm = events.withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", Streams.SessionWatermark).as[Streams.EvT]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStateV2, SessionUpdateV2](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, _, state: GroupState[SessionStateV2]) if state.hasTimedOut =>
          val st = state.get
          if (st.n == 0) { state.remove(); Iterator.empty }
          else {
            state.update(st.copy(n = 0, sessions = st.sessions + 1))
            state.setTimeoutTimestamp(math.max(
              st.last + Streams.TombstoneGraceMs, state.getCurrentWatermarkMs() + 1))
            Iterator(SessionUpdateV2(uid, st.sessions, st.start, st.last, st.n, st.max_gap_ms))
          }
        case (uid, evs, state: GroupState[SessionStateV2]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tms, e.event_id))
          var st = state.getOption.getOrElse(
            SessionStateV2(sorted.head.tms, sorted.head.tms, 0, 1, Some(0L)))
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdateV2]
          sorted.foreach { e =>
            if (st.n > 0 && e.tms - st.last > Streams.GapMs) {
              closed += SessionUpdateV2(uid, st.sessions, st.start, st.last, st.n, st.max_gap_ms)
              st = SessionStateV2(e.tms, e.tms, 1, st.sessions + 1, Some(0L))
            } else {
              val g = if (st.n == 0) Some(0L)
                else Some(math.max(st.max_gap_ms.getOrElse(0L), e.tms - st.last))
              st = st.copy(last = e.tms, n = st.n + 1,
                start = if (st.n == 0) e.tms else st.start, max_gap_ms = g)
            }
          }
          state.update(st)
          state.setTimeoutTimestamp(math.max(
            st.last + Streams.GapMs, state.getCurrentWatermarkMs() + 1))
          closed.iterator
      }
  }

  private def eventLog(): Seq[Streams.Ev] = {
    import spark.implicits._
    Tables.loadEvents(spark, sfDir)
      .select("event_id", "tms", "user_id", "event_type").collect()
      .map(r => Streams.Ev(r.getAs[Long]("event_id"), r.getAs[Long]("tms"),
        r.getAs[Long]("user_id"), r.getAs[String]("event_type"), 0.0))
      .sortBy(e => (e.tms, e.event_id)).toSeq
  }

  test("attribution: upgraded state rejected loudly, V1 resumes to full parity, migration computes the new field") {
    import spark.implicits._
    val log = eventLog()
    val (phase1, combined, migrated) = upgradeDrill[Streams.Ev, Streams.Attribution, AttributionV2](
      "attrib", log, Streams.attributionStream, attributionStreamV2)
    // non-destructive: nothing from phase 1 lost
    assert(phase1.nonEmpty && phase1.toSet.subsetOf(combined.toSet))
    // attribution emits in-band per purchase, so the resumed two-slice
    // chain must reproduce the batch operator EXACTLY
    val batch = SparkEntry.queries("events_attribution")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[Long]("tms"),
        r.getAs[String]("touch_type"), r.getAs[Long]("touch_tms"), r.getAs[Long]("latency_ms"))).toSet
    val combinedT = combined
      .map(a => (a.event_id, a.user_id, a.tms, a.touch_type, a.touch_tms, a.latency_ms)).toSet
    assert(combinedT == batch, "resumed chain diverges from events_attribution")
    // migration: V1 projection identical, new field exactly recomputable —
    // n_touches = accepted (monotone) click/view touches preceding the
    // purchase in (tms, event_id) order, per user
    val migratedT = migrated
      .map(a => (a.event_id, a.user_id, a.tms, a.touch_type, a.touch_tms, a.latency_ms)).toSet
    assert(migratedT == batch, "migrated replay diverges from events_attribution")
    val byUser = log.groupBy(_.user_id)
    migrated.foreach { a =>
      val expected = byUser(a.user_id).count(e =>
        (e.event_type == "click" || e.event_type == "view") &&
          (e.tms < a.tms || (e.tms == a.tms && e.event_id < a.event_id)))
      assert(a.n_touches.contains(expected.toLong),
        s"purchase ${a.event_id}: n_touches ${a.n_touches} != $expected")
    }
  }

  test("sessionize: upgraded state rejected loudly, V1 resumes non-destructively, migration computes the new field") {
    import spark.implicits._
    val log = eventLog()
    val (phase1, combined, migrated) = upgradeDrill[Streams.Ev, Streams.SessionUpdate, SessionUpdateV2](
      "sess", log, Streams.sessionize, sessionizeV2)
    assert(phase1.toSet.subsetOf(combined.toSet), "resume lost phase-1 sessions")
    // parity against the batch twin: every EMITTED session matches its
    // batch row exactly; emission of a user's LAST session depends on
    // whether the event-time timeout fired before the stream ended, so the
    // deterministic contract is: all non-last sessions emitted, nothing
    // emitted that the batch twin doesn't have, keys unique.
    val batch = SparkEntry.queries("events_sessionize")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms"))).toMap
    val lastSession = batch.keySet.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).max }
    def check(tag: String, rows: Seq[(Long, Int, Long, Long, Int)]): Unit = {
      val keys = rows.map(r => (r._1, r._2.toLong))
      assert(keys.distinct.length == keys.length, s"$tag: duplicate (user, session_no)")
      rows.foreach { case (u, sn, st, en, n) =>
        val b = batch.get((u, sn.toLong))
        assert(b.contains((n.toLong, st, en)),
          s"$tag: session ($u, $sn) = ($n, $st, $en) vs batch $b")
      }
      val nonLast = batch.keySet.filter { case (u, sn) => sn < lastSession(u) }
      assert(nonLast.subsetOf(keys.toSet), s"$tag: non-last sessions missing: ${nonLast -- keys.toSet}")
    }
    check("combined", combined.map(s => (s.user_id, s.session_no, s.start_ms, s.end_ms, s.n_events)))
    check("migrated", migrated.map(s => (s.user_id, s.session_no, s.start_ms, s.end_ms, s.n_events)))
    // the upgraded attribute is genuinely computed: max intra-session gap
    val byUser = log.groupBy(_.user_id)
    migrated.foreach { s =>
      val inSession = byUser(s.user_id).filter(e => e.tms >= s.start_ms && e.tms <= s.end_ms)
        .map(_.tms).sorted
      val expected = if (inSession.length < 2) 0L
        else inSession.sliding(2).map(p => p(1) - p(0)).max
      assert(s.max_gap_ms.contains(expected),
        s"session (${s.user_id}, ${s.session_no}): max_gap ${s.max_gap_ms} != $expected")
    }
  }

  // ------------------------------------------------------------------
  // r10 (verdict #7): the drill extended to the remaining three stateful
  // streams — transitions, eff_sat, anomaly — closing the checkpoint-
  // schema risk on all six.
  // ------------------------------------------------------------------

  private def transitionsStreamV2(events: DataFrame): Dataset[TransitionV2] = {
    import events.sparkSession.implicits._
    val wm = events.withColumn("ets", timestamp_millis(col("tms")))
      .withWatermark("ets", "1 hour").as[Streams.EvT]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvV2, TransitionV2](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[LastEvV2]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (uid, evs, state: GroupState[LastEvV2]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tms, e.event_id))
          var prev = state.getOption
          val out = sorted.flatMap { e =>
            val t = prev.map(p => TransitionV2(uid, p.event_type, e.event_type,
              Some(e.tms - p.tms)))
            prev = Some(LastEvV2(e.tms, e.event_id, e.event_type,
              Some(prev.flatMap(_.n_seen).getOrElse(0L) + 1L)))
            t
          }
          prev.foreach { p =>
            state.update(p)
            state.setTimeoutTimestamp(math.max(
              p.tms + Streams.TransitionIdleMs, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  private def effSatStreamV2(assignments: DataFrame): Dataset[EffAssignV2] = {
    import assignments.sparkSession.implicits._
    assignments.as[Streams.EffIn]
      .groupByKey(_.part)
      .flatMapGroupsWithState[EffStateV2, EffAssignV2](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (part, evs, state: GroupState[EffStateV2]) =>
          var st = state.getOption.getOrElse(EffStateV2(Seq.empty, Some(0L)))
          var seen = st.seen.toSet
          val sorted = evs.toSeq.sortBy(e => (e.ship_day, e.supp.toString))
          val out = sorted.flatMap { e =>
            val bk = e.supp.toString
            if (!seen(bk)) {
              seen += bk
              st = EffStateV2(st.seen :+ bk, Some(st.n_total.getOrElse(0L) + 1L))
              Some(EffAssignV2(part.toString, bk, e.ship_day, st.n_total))
            } else None
          }
          state.update(st)
          out.iterator
      }
  }

  private def anomalyStreamV2(dailyCounts: DataFrame): Dataset[AnomalyFlagV2] = {
    import dailyCounts.sparkSession.implicits._
    dailyCounts.as[Streams.DayCount].groupByKey(_.event_type)
      .flatMapGroupsWithState[TypeStatsV2, AnomalyFlagV2](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, days, state: GroupState[TypeStatsV2]) =>
          var st = state.getOption.getOrElse(TypeStatsV2(0L, 0L, "0", Some(0L)))
          var q = BigInt(st.qStr)
          val out = days.toSeq.sortBy(_.day).map { d =>
            val flagged = st.n >= 2 && {
              val dev = BigInt(st.n) * d.cnt - st.s
              dev * dev > 4 * (BigInt(st.n) * q - BigInt(st.s) * st.s)
            }
            q += BigInt(d.cnt) * BigInt(d.cnt)
            st = TypeStatsV2(st.n + 1, st.s + d.cnt, q.toString,
              Some(math.max(st.max_cnt.getOrElse(0L), d.cnt)))
            AnomalyFlagV2(d.event_type, d.day, d.cnt, flagged, st.max_cnt)
          }
          state.update(st)
          out.iterator
      }
  }

  test("transitions: upgraded state rejected loudly, V1 resumes non-destructively, migration hits lag-twin parity") {
    import spark.implicits._
    val log = eventLog()
    val (phase1, combined, migrated) = upgradeDrill[Streams.Ev, Streams.Transition, TransitionV2](
      "trans", log, ev => Streams.transitionsStream(ev), transitionsStreamV2)
    def multiset[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    // the exact lag-window twin, driver-side (the one-batch replay's truth)
    val lagPairs = log.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e.tms, e.event_id)).sliding(2).collect {
        case Seq(a, b) => (u, a.event_type, b.event_type, b.tms - a.tms)
      }
    }
    val migT = migrated.map(t => (t.user_id, t.prev_type, t.next_type, t.gap_ms.getOrElse(-1L)))
    assert(multiset(migT) == multiset(lagPairs),
      "one-batch V2 replay diverges from the exact lag twin (incl. the new gap_ms field)")
    // the resumed two-slice chain may legitimately MISS pairs whose idle
    // gap crossed TransitionIdleMs between slices (state expiry is the
    // operator's documented behavior) but must never invent one
    val migV1 = multiset(migrated.map(t => (t.user_id, t.prev_type, t.next_type)))
    val comb = multiset(combined.map(t => (t.user_id, t.prev_type, t.next_type)))
    assert(comb.forall { case (k, n) => migV1.getOrElse(k, 0) >= n },
      "resumed chain emitted a transition the full replay does not have")
    assert(phase1.nonEmpty && multiset(phase1.map(t => (t.user_id, t.prev_type, t.next_type)))
      .forall { case (k, n) => comb.getOrElse(k, 0) >= n }, "resume lost phase-1 transitions")
  }

  test("eff_sat: upgraded state rejected loudly, V1 resumes to dv_eff_sat parity, migration computes the new field") {
    import spark.implicits._
    // global (ship_day, supp) order so first-seen == min ship_day per pair
    // across the slice boundary (the operator's insert-only honesty rule)
    val log = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"),
        to_date(col("l_shipdate")).cast("string").as("ship_day"))
      .as[Streams.EffIn].collect().sortBy(e => (e.ship_day, e.supp.toString, e.part)).toSeq
    val (phase1, combined, migrated) = upgradeDrill[Streams.EffIn, Streams.EffAssign, EffAssignV2](
      "effsat", log, ev => Streams.effSatStream(ev), effSatStreamV2)
    val batch = SparkEntry.queries("dv_eff_sat")(spark, sfDir)
      .select("p_partkey_bk", "s_suppkey_bk", "eff_from").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val combT = combined.map(a => (a.p_partkey_bk, a.s_suppkey_bk, a.eff_from)).toSet
    assert(combT == batch, "resumed two-slice chain diverges from dv_eff_sat")
    assert(phase1.nonEmpty && phase1.toSet.subsetOf(combined.toSet), "resume lost phase-1 assignments")
    val migT = migrated.map(a => (a.p_partkey_bk, a.s_suppkey_bk, a.eff_from)).toSet
    assert(migT == batch, "migrated replay diverges from dv_eff_sat")
    // nth_supplier is genuinely computed: dense 1..n per part in eff order
    migrated.groupBy(_.p_partkey_bk).foreach { case (p, as) =>
      val ns = as.sortBy(a => (a.eff_from, a.s_suppkey_bk)).map(_.nth_supplier.getOrElse(-1L))
      assert(ns == (1L to as.length.toLong), s"part $p nth_supplier not dense: $ns")
    }
  }

  test("anomaly: upgraded state rejected loudly, V1 resumes to expanding-window parity, migration computes the new field") {
    import spark.implicits._
    val log = Tables.loadEvents(spark, sfDir)
      .withColumn("day", expr("cast(cast(timestamp_millis(tms) as date) as string)"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .as[Streams.DayCount].collect().sortBy(d => (d.day, d.event_type)).toSeq
    val (phase1, combined, migrated) = upgradeDrill[Streams.DayCount, Streams.AnomalyFlag, AnomalyFlagV2](
      "anom", log, ev => Streams.anomalyStream(ev.as[Streams.DayCount]), anomalyStreamV2)
    // the stream's truth is the EXPANDING-window z-test (history so far),
    // replayed driver-side — not the batch op's global-stats test
    val expected = log.groupBy(_.event_type).toSeq.flatMap { case (t, ds) =>
      var (n, s, q) = (0L, BigInt(0), BigInt(0))
      var mx = 0L
      ds.sortBy(_.day).map { d =>
        val dev = BigInt(n) * d.cnt - s
        val flagged = n >= 2 && dev * dev > 4 * (BigInt(n) * q - s * s)
        n += 1; s += d.cnt; q += BigInt(d.cnt) * BigInt(d.cnt)
        mx = math.max(mx, d.cnt)
        (t, d.day, d.cnt, flagged, mx)
      }
    }.toSet
    val migT = migrated.map(a => (a.event_type, a.day, a.cnt, a.anomaly, a.max_seen.getOrElse(-1L))).toSet
    assert(migT == expected, "V2 replay diverges from the driver-side expanding-window replay")
    val combT = combined.map(a => (a.event_type, a.day, a.cnt, a.anomaly)).toSet
    assert(combT == expected.map(e => (e._1, e._2, e._3, e._4)),
      "resumed two-slice chain diverges from the expanding-window truth")
    assert(phase1.nonEmpty && phase1.toSet.subsetOf(combined.toSet), "resume lost phase-1 flags")
  }

  test("prescribed migration: checkpoint reset + replay under the upgraded class hits batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ords = orderLog()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Streams.OrderEv]
    val q = computedSatStreamV2(mem.toDF()).writeStream
      .format("memory").queryName("up_v2_replay").outputMode("append").start()
    val (b1, b2) = ords.splitAt(ords.length / 2)
    mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val versions = spark.table("up_v2_replay").as[BvVersionV2].collect()
    assert(versions.length == ords.length)
    val batch = batchTwin()
    val firstMs = ords.groupBy(_.o_custkey)
      .map { case (ck, es) => ck -> es.map(_.order_ms).min }
    versions.groupBy(_.o_custkey).foreach { case (ck, vs) =>
      val v = vs.maxBy(_.order_cnt)
      val b = batch(sha(ck.toString))
      assert((v.order_cnt, v.total_cents, v.last_order_ms, v.hd) == b,
        s"customer $ck diverges from dv_computed_sat under V2: $v vs $b")
      // the upgraded attribute is genuinely computed, not a dead field
      assert(v.first_order_ms.contains(firstMs(ck)),
        s"customer $ck first_order_ms ${v.first_order_ms} != ${firstMs(ck)}")
    }
  }
}
