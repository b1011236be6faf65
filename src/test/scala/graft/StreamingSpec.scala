package graft

import graft.dv.{ContinuousPipeline, SinkRepo}
import graft.streaming.Streams
import graft.streaming.Streams.{Ev, SessionUpdate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** A customer source row carrying hub_customer's key and sat_customer's
  * descriptors.
  */
final case class CustRow(c_custkey: Long, c_nationkey: Int, c_mktsegment: String)

/** An orders source row carrying link_orders' member keys. */
final case class OrdRow(o_orderkey: Long, o_custkey: Long)

class StreamingSpec extends SparkSpec {

  private def day(d: Int, h: Int = 0, m: Int = 0): Long =
    1704067200000L + d * 86400000L + h * 3600000L + m * 60000L // 2024-01-01 + d days

  /** The vault load (#44, [[ContinuousPipeline.sink]]) of `table` rows into
    * an empty bucketed vault of `scope` under `dir`; returns the vault dir.
    */
  private def vaultSink(dir: String, rows: DataFrame, table: String,
                        scope: Set[String]) = {
    val st = ContinuousPipeline.State(s"$dir/catalog", s"$dir/responses",
      emptyVault(s"$dir/repo", "streaming", scope))
    st.repoDir -> ContinuousPipeline.sink(rows, table, st, s"$dir/ckpt").start()
  }

  test("stream tumbling agg matches batch on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      Ev(1, day(0, 1), 1, "click", 1.5), Ev(2, day(0, 2), 1, "click", 2.0),
      Ev(3, day(0, 3), 2, "view", 0.25), Ev(4, day(1, 1), 1, "click", 1.0))
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_out").outputMode("complete").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("tumbling_out")
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    val batch = Streams.tumblingCounts(rows.toDF())
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    q.stop()
    assert(streamed == batch)
    assert(streamed.map(_.head.toString).contains("2024-01-01"))
  }

  test("sessionization closes on gap, closes via event-time timeout, and bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionize(mem.toDF())
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    // open session for user 7 — nothing closed yet
    mem.addData(Ev(1, day(0, 1, 0), 7, "click", 1.0), Ev(2, day(0, 1, 10), 7, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() == 0)
    // a >30-min gap closes session 1 in-band
    mem.addData(Ev(3, day(0, 3, 0), 7, "click", 1.0))
    q.processAllAvailable()
    val s1 = spark.table("sess_out").as[SessionUpdate].collect()
    assert(s1.length == 1 && s1.head.session_no == 1 && s1.head.n_events == 2)
    // no further user-7 events: another user advances the watermark past
    // user 7's gap deadline -> session 2 closes via EventTimeTimeout
    mem.addData(Ev(4, day(0, 6, 0), 8, "view", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(5, day(0, 6, 1), 8, "view", 1.0)) // extra trigger so the timeout fires
    q.processAllAvailable()
    val s2 = spark.table("sess_out").as[SessionUpdate].collect().filter(_.user_id == 7L)
    assert(s2.exists(u => u.session_no == 2 && u.n_events == 1))
    // the timeout left a tombstone carrying user 7's session counter, so
    // state holds exactly that tombstone + user 8's open session
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows == 2, s"expected tombstone + open session, got $stateRows")
    // a returning user 7 continues numbering at session 3 (no duplicate
    // (user_id, session_no) keys), proven by gap-closing the new session
    mem.addData(Ev(6, day(0, 8, 0), 7, "click", 1.0))
    mem.addData(Ev(7, day(0, 10, 0), 7, "click", 1.0)) // >30-min gap closes session 3
    q.processAllAvailable()
    q.stop()
    val s3 = spark.table("sess_out").as[SessionUpdate].collect().filter(_.user_id == 7L)
    assert(s3.exists(u => u.session_no == 3 && u.n_events == 1))
    assert(s3.map(_.session_no).distinct.length == s3.length) // unique keys
  }

  test("streaming sat load appends only changed attribute versions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempVault("graft_sat") { dir =>
      val mem = MemoryStream[CustRow]
      val (repo, q) = vaultSink(dir, mem.toDF(), "customer", Set("hub_customer", "sat_customer"))
      mem.addData(CustRow(1, 5, "a"), CustRow(1, 5, "a"))
      q.processAllAvailable()
      mem.addData(CustRow(1, 5, "a")) // same customer, same attrs -> no insert
      mem.addData(CustRow(1, 5, "b")) // changed attribute -> one new version
      q.processAllAvailable()
      q.stop()
      val sat = spark.read.parquet(s"$repo/sat_customer")
      assert(sat.count() == 2) // two (hk, hd) versions despite four rows
    }
  }

  test("stream-stream join enriches purchases with in-window signups only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val signups = MemoryStream[Ev]
    val q = Streams.purchaseEnrich(purchases.toDF(), signups.toDF())
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    signups.addData(Ev(100, day(0, 1, 0), 5, "signup", 0))    // in window
    signups.addData(Ev(101, day(0, 10, 0), 6, "signup", 0))   // wrong time for user 6 purchase
    purchases.addData(Ev(200, day(0, 1, 30), 5, "purchase", 9.99))
    purchases.addData(Ev(201, day(0, 1, 30), 6, "purchase", 5.00))
    q.processAllAvailable()
    val rows = spark.table("enrich_out").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("purchase_id")).toSet == Set(200L))
    assert(rows.head.getAs[Long]("signup_id") == 100L)
  }

  test("streaming dedup drops duplicate event_ids and expires state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    // duplicate delivery of event 1 within one batch and across batches
    mem.addData(Ev(1, day(0, 1), 1, "click", 1.0), Ev(1, day(0, 1), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(1, day(0, 1), 1, "click", 1.0), Ev(2, day(0, 1, 5), 1, "view", 2.0))
    q.processAllAvailable()
    assert(spark.table("dedup_out").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // events far past the watermark horizon expire the earlier state
    mem.addData(Ev(3, day(2), 2, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(4, day(2, 1), 2, "view", 1.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    // ids 1 and 2 (day 0) are beyond the 1h watermark once day-2 events
    // arrive; only the recent ids remain in state
    assert(stateRows <= 2, s"dedup state not bounded: $stateRows rows")
  }

  test("file-based streaming source drives the hub load (real source, not MemoryStream)") {
    import spark.implicits._
    withTempVault("graft_filesrc") { dir =>
      val src = s"$dir/incoming"
      // batch 1 lands before the stream starts
      Seq(CustRow(1, 1, "a"), CustRow(2, 1, "a")).toDF()
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CustRow].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      val (repo, q) = vaultSink(dir, stream, "customer", Set("hub_customer"))
      q.processAllAvailable()
      // batch 2 arrives as a new file while the stream runs; customer 2 repeats
      Seq(CustRow(2, 1, "a"), CustRow(3, 1, "a")).toDF()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      q.stop()
      val hub = spark.read.parquet(s"$repo/hub_customer").filter(col("record_source") =!= "SYSTEM")
      assert(hub.count() == 3 && hub.select("hub_customer_hk").distinct().count() == 3)
    }
  }

  test("streaming anomaly flags a spike against running integer stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streams.DayCount
    val mem = MemoryStream[DayCount]
    val q = Streams.anomalyStream(mem.toDS()).writeStream
      .format("memory").queryName("anomaly_out").outputMode("append").start()
    mem.addData((1 to 4).map(i => DayCount("a", f"2024-01-0$i", 10)): _*)
    q.processAllAvailable()
    mem.addData(DayCount("a", "2024-01-05", 100), DayCount("a", "2024-01-06", 10))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("anomaly_out").as[Streams.AnomalyFlag].collect()
      .map(f => f.day -> f.anomaly).toMap
    assert(!out("2024-01-01") && !out("2024-01-02")) // n<2 guard: no baseline yet
    assert(!out("2024-01-04")) // stable history, stable day
    assert(out("2024-01-05"))  // 10x spike vs zero-variance history
    assert(!out("2024-01-06")) // post-spike variance absorbs a normal day
  }

  test("streaming link load appends only novel relationships across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempVault("graft_link") { dir =>
      val mem = MemoryStream[OrdRow]
      // relationship = (order, customer); re-delivered pairs must not double-insert
      val (repo, q) = vaultSink(dir, mem.toDF(), "orders", Set("link_orders"))
      mem.addData(OrdRow(1, 1), OrdRow(2, 1))
      q.processAllAvailable()
      mem.addData(OrdRow(1, 1), OrdRow(3, 2)) // (1,1) repeats
      q.processAllAvailable()
      q.stop()
      val link = spark.read.parquet(s"$repo/link_orders")
      assert(link.count() == 3)
      assert(link.select("link_orders_hk").distinct().count() == 3)
      // member hub hks and bk payload ride along
      assert(link.columns.toSet == Set("link_orders_hk", "load_ts", "record_source",
        "hub_order_hk", "hub_customer_hk", "o_orderkey_bk", "o_custkey_bk"))
    }
  }

  test("streaming hub load appends only novel keys across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempVault("graft_hub") { dir =>
      val mem = MemoryStream[CustRow]
      val (repo, q) = vaultSink(dir, mem.toDF(), "customer", Set("hub_customer"))
      mem.addData(CustRow(1, 1, "a"), CustRow(2, 1, "a"))
      q.processAllAvailable()
      mem.addData(CustRow(2, 1, "a"), CustRow(3, 1, "a")) // customer 2 repeats
      q.processAllAvailable()
      q.stop()
      val hub = spark.read.parquet(s"$repo/hub_customer").filter(col("record_source") =!= "SYSTEM")
      assert(hub.count() == 3)
      assert(hub.select("hub_customer_hk").distinct().count() == 3)
    }
  }

  test("stateful transitions chain across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.transitionsStream(mem.toDF()).writeStream
      .format("memory").queryName("transitions_out").outputMode("append").start()
    // batch 1: user 1 does a→b, user 2 does a (no pair yet)
    mem.addData(Ev(1, day(0, 1), 1, "a", 0), Ev(2, day(0, 2), 1, "b", 0),
      Ev(3, day(0, 1), 2, "a", 0))
    q.processAllAvailable()
    val afterB1 = spark.table("transitions_out").as[Streams.Transition].collect()
    assert(afterB1.toSet == Set(Streams.Transition(1, "a", "b")))
    // batch 2: user 1 continues with c (pairs against the STATE's b),
    // user 2 delivers b then a in one batch (sorted by time, two pairs)
    mem.addData(Ev(4, day(1, 1), 1, "c", 0),
      Ev(6, day(1, 2), 2, "a", 0), Ev(5, day(1, 1), 2, "b", 0))
    q.processAllAvailable()
    val out = spark.table("transitions_out").as[Streams.Transition].collect()
    assert(out.toSet == Set(
      Streams.Transition(1, "a", "b"), Streams.Transition(1, "b", "c"),
      Streams.Transition(2, "a", "b"), Streams.Transition(2, "b", "a")))
    // batch 3 advances the watermark past every chain's idle deadline
    // (day 5 >> day 1 + 24h); batch 4 then finds user 1's state expired —
    // the chain RESTARTS (no c→d pair) instead of keeping state forever
    mem.addData(Ev(7, day(5, 1), 3, "x", 0))
    q.processAllAvailable()
    mem.addData(Ev(8, day(5, 2), 1, "d", 0))
    q.processAllAvailable()
    q.stop()
    val afterExpiry = spark.table("transitions_out").as[Streams.Transition].collect()
    assert(afterExpiry.toSet == out.toSet,
      "an expired chain must not emit a pair for the returning user")
    // parity with the batch lag-window twin over the same rows
    val rows = Seq((1L, day(0, 1), 1L, "a"), (1L, day(0, 2), 2L, "b"),
      (2L, day(0, 1), 3L, "a"), (1L, day(1, 1), 4L, "c"),
      (2L, day(1, 1), 5L, "b"), (2L, day(1, 2), 6L, "a"))
      .toDF("user_id", "tms", "event_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tms", "event_id")
    val batchPairs = rows.withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select("user_id", "prev_type", "event_type").collect()
      .map(r => Streams.Transition(r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out.toSet == batchPairs)
  }

  final case class Doc(doc_id: Long, text: String)

  test("row-local minhash signatures are bit-identical to the batch band index") {
    // the streaming gate's whole correctness rests on this parity: the
    // same (doc_id, band, sig) set must fall out of the scan-local HOF
    // path as out of the batch explode+groupBy path
    val rowSide = graft.queries.Docs.enriched(spark, sfDir)
      .withColumn("shingles", expr(graft.queries.Dedup.RowShinglesExpr))
      .filter(size(col("shingles")) > 0)
      .withColumn("h32s", expr(graft.queries.Dedup.RowH32sExpr))
      .select(col("doc_id"), explode(expr(graft.queries.Dedup.rowBandStructsExpr)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .collect().map(_.toSeq).toSet
    val batchSide = graft.queries.Dedup.bandIndex(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(rowSide == batchSide)
  }

  test("streaming near-dup gate flags a corpus copy exactly once, passes clean docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val src = docs.filter(length(col("text")) > 100)
      .orderBy("doc_id").select("doc_id", "text").head()
    val (srcId, srcText) = (src.getLong(0), src.getString(1))
    val dir = Files.createTempDirectory("graft_neardup").toString
    val mem = MemoryStream[Doc]
    val q = Streams.nearDupSink(mem.toDF(),
      graft.queries.Dedup.bandIndex(spark, sfDir),
      graft.queries.Dedup.shingleSets(spark, sfDir),
      s"$dir/pairs", s"$dir/ckpt").start()
    // a verbatim copy of a corpus doc + a clean gibberish doc
    mem.addData(Doc(900001L, srcText),
      Doc(900002L, "zq wv xk jn qp zr fz kv bn mq lx wz qy vt pk jx"))
    q.processAllAvailable()
    // content face of the bucketed sink repo (r14): rows live under
    // <outPath>/rows, appended through the session catalog
    val flagged = graft.dv.SinkRepo.read(spark, s"$dir/pairs")
    val first = flagged.collect()
    // the copy matches its source at jaccard 1.0; the clean doc never lands
    assert(first.exists(r => r.getAs[Long]("in_doc") == 900001L &&
      r.getAs[Long]("corpus_doc") == srcId && r.getAs[Double]("jaccard") == 1.0))
    assert(!first.exists(_.getAs[Long]("in_doc") == 900002L))
    // a 4-band match and any corpus-internal near-dups still land as ONE
    // row per (in_doc, corpus_doc)
    assert(flagged.count() == flagged.dropDuplicates("in_doc", "corpus_doc").count())
    // redelivery: the same doc again must not double-land (exactly-once sink)
    mem.addData(Doc(900001L, srcText))
    q.processAllAvailable()
    q.stop()
    assert(graft.dv.SinkRepo.read(spark, s"$dir/pairs").count() == first.length)
  }

  test("streaming curation gate: planted verdicts correct, batch parity on quality/lang") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.load(spark, sfDir, "documents")
    val srcText = corpus.filter(length(col("text")) > 100)
      .orderBy("doc_id").select("text").head().getString(0)
    val good = ("the cat is on the mat and it is good that the day is long " +
      "and the sun is warm for all of the people in the town today").toLowerCase
    val mem = MemoryStream[Doc]
    val outName = "curate_gate_out"
    val q = Streams.curateGateStream(mem.toDF(),
        graft.queries.Text.normHashes(spark, sfDir))
      .writeStream.format("memory").queryName(outName).outputMode("append").start()
    mem.addData(
      Doc(900101L, srcText),                      // corpus copy: fails novelty only
      Doc(900102L, good),                         // clean keeper
      Doc(900103L, good + " contact me at bob@example.com please"), // PII
      Doc(900104L, "zq wv xk jn"))                // short gibberish: quality+lang fail
    q.processAllAvailable()
    q.stop()
    val out = spark.table(outName).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pass_quality"), r.getAs[Long]("pass_lang"),
          r.getAs[Long]("pass_pii"), r.getAs[Long]("pass_novel"), r.getAs[Long]("keep"))).toMap
    assert(out(900101L)._4 == 0L && out(900101L)._5 == 0L) // copy rejected as non-novel
    assert(out(900102L) == ((1L, 1L, 1L, 1L, 1L)))         // keeper passes every gate
    assert(out(900103L)._3 == 0L && out(900103L)._5 == 0L) // pii rejected
    assert(out(900104L)._1 == 0L && out(900104L)._2 == 0L && out(900104L)._5 == 0L)
    // batch parity: the same function over the batch corpus must reproduce
    // pipeline_curate_full's quality/lang verdicts exactly (shared builders)
    val viaGate = Streams.curateGateStream(
        corpus.select("doc_id", "text"), graft.queries.Text.normHashes(spark, sfDir))
      .select("doc_id", "pass_quality", "pass_lang").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaBatch = SparkEntry.queries("pipeline_curate_full")(spark, sfDir)
      .select("doc_id", "pass_quality", "pass_lang").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaGate == viaBatch)
  }

  test("streaming attribution: cross-batch state, window expiry, full-log batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.attributionStream(mem.toDF()).writeStream
      .format("memory").queryName("attrib_out").outputMode("append").start()
    // batch 1: user 1 click then purchase one minute later (attributed);
    // user 2 bare purchase
    val t0 = day(0, 1)
    def m(k: Long) = t0 + k * 60000L
    mem.addData(Ev(1, m(0), 1, "click", 0), Ev(2, m(1), 1, "purchase", 0),
      Ev(3, m(0), 2, "purchase", 0))
    q.processAllAvailable()
    val b1 = spark.table("attrib_out").as[Streams.Attribution].collect()
    assert(b1.toSet == Set(
      Streams.Attribution(2, 1, m(1), "click", m(0), 60000L),
      Streams.Attribution(3, 2, m(0), "none", -1L, -1L)))
    // batch 2: user 1 purchases again shortly after — credits the STATE's
    // click from batch 1 (cross-boundary); then a view re-touches and a
    // third purchase credits the view, not the old click
    mem.addData(Ev(4, m(2), 1, "purchase", 0),
      Ev(5, m(3), 1, "view", 0), Ev(6, m(4), 1, "purchase", 0))
    q.processAllAvailable()
    val b2 = spark.table("attrib_out").as[Streams.Attribution].collect()
    assert(b2.toSet.contains(Streams.Attribution(4, 1, m(2), "click", m(0), 120000L)))
    assert(b2.toSet.contains(Streams.Attribution(6, 1, m(4), "view", m(3), 60000L)))
    // a purchase 31+ minutes after the last touch gets none (window test)
    mem.addData(Ev(7, m(4 + 31), 1, "purchase", 0))
    q.processAllAvailable()
    assert(spark.table("attrib_out").as[Streams.Attribution].collect().toSet
      .contains(Streams.Attribution(7, 1, m(4 + 31), "none", -1L, -1L)))
    q.stop()
    // full-log parity: the ENTIRE sf events log in one batch reproduces
    // the batch operator row for row
    val evs = Tables.loadEvents(spark, sfDir)
      .select("event_id", "tms", "user_id", "event_type").collect()
      .map(r => Ev(r.getAs[Long]("event_id"), r.getAs[Long]("tms"),
        r.getAs[Long]("user_id"), r.getAs[String]("event_type"), 0.0))
    val mem2 = MemoryStream[Ev]
    val q2 = Streams.attributionStream(mem2.toDF()).writeStream
      .format("memory").queryName("attrib_out2").outputMode("append").start()
    mem2.addData(evs.toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val streamed = spark.table("attrib_out2").as[Streams.Attribution].collect()
      .map(a => (a.event_id, a.user_id, a.tms, a.touch_type, a.touch_tms, a.latency_ms)).toSet
    val batch = SparkEntry.queries("events_attribution")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[Long]("tms"),
        r.getAs[String]("touch_type"), r.getAs[Long]("touch_tms"), r.getAs[Long]("latency_ms"))).toSet
    assert(streamed == batch, "stream replay diverges from the batch attribution")
  }

  test("streaming attribution: out-of-order purchase never credits a future touch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.attributionStream(mem.toDF()).writeStream
      .format("memory").queryName("attrib_ooo").outputMode("append").start()
    val t0 = day(0, 1)
    def m(k: Long) = t0 + k * 60000L
    // batch 1: a click at m(10) lands in state
    mem.addData(Ev(1, m(10), 1, "click", 0))
    q.processAllAvailable()
    // batch 2: a purchase arrives LATE with tms m(5) — inside the 1-hour
    // watermark, inside the 30-min window of the state's touch, but the
    // touch is in its FUTURE: must fall back to 'none', never emit
    // negative latency (ADVICE r5)
    mem.addData(Ev(2, m(5), 1, "purchase", 0))
    q.processAllAvailable()
    val b2 = spark.table("attrib_ooo").as[Streams.Attribution].collect().toSet
    assert(b2 == Set(Streams.Attribution(2, 1, m(5), "none", -1L, -1L)), b2.toString)
    // batch 3: a late OLDER view (m(8)) must not overwrite the newer click
    // in state; the next purchase still credits the m(10) click
    mem.addData(Ev(3, m(8), 1, "view", 0))
    q.processAllAvailable()
    mem.addData(Ev(4, m(12), 1, "purchase", 0))
    q.processAllAvailable()
    assert(spark.table("attrib_ooo").as[Streams.Attribution].collect().toSet
      .contains(Streams.Attribution(4, 1, m(12), "click", m(10), 120000L)))
    q.stop()
  }

  test("streaming effectivity sat: batch parity on replay, no re-insert across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // cross-batch behavior on a hand-built chain
    val mem = MemoryStream[Streams.EffIn]
    val q = Streams.effSatStream(mem.toDF()).writeStream
      .format("memory").queryName("eff_out").outputMode("append").start()
    mem.addData(Streams.EffIn(1, 10, "1996-01-05"), Streams.EffIn(1, 10, "1996-01-09"))
    q.processAllAvailable()
    val b1 = spark.table("eff_out").as[Streams.EffAssign].collect().toSet
    assert(b1 == Set(Streams.EffAssign("1", "10", "1996-01-05")),
      s"first assignment wrong: $b1")
    // batch 2: new supplier opens; re-delivered supplier 10 emits nothing
    mem.addData(Streams.EffIn(1, 7, "1996-02-01"), Streams.EffIn(1, 10, "1996-03-01"))
    q.processAllAvailable()
    val b2 = spark.table("eff_out").as[Streams.EffAssign].collect().toSet
    assert(b2 == Set(
      Streams.EffAssign("1", "10", "1996-01-05"),
      Streams.EffAssign("1", "7", "1996-02-01")), s"cross-batch chain wrong: $b2")
    q.stop()
    // full-log parity: the entire lineitem shipment log in one batch
    // reproduces dv_eff_sat's (part, supplier, eff_from) rows exactly
    val ships = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"),
        to_date(col("l_shipdate")).cast("string").as("ship_day"))
      .as[Streams.EffIn].collect()
    val mem2 = MemoryStream[Streams.EffIn]
    val q2 = Streams.effSatStream(mem2.toDF()).writeStream
      .format("memory").queryName("eff_out2").outputMode("append").start()
    mem2.addData(ships.toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val streamed = spark.table("eff_out2").as[Streams.EffAssign].collect()
      .map(a => (a.p_partkey_bk, a.s_suppkey_bk, a.eff_from)).toSet
    val batch = SparkEntry.queries("dv_eff_sat")(spark, sfDir)
      .select("p_partkey_bk", "s_suppkey_bk", "eff_from").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(streamed == batch, "stream replay diverges from dv_eff_sat")
  }

  test("streaming computed sat: one version per order, last version equals dv_computed_sat") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ords = Tables.load(spark, sfDir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long").as("total_cents"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"))
      .as[Streams.OrderEv].collect().sortBy(e => (e.order_ms, e.o_orderkey))
    val mem = MemoryStream[Streams.OrderEv]
    val q = Streams.computedSatStream(mem.toDF()).writeStream
      .format("memory").queryName("bv_out").outputMode("append").start()
    // two micro-batches split mid-log: version chains cross the boundary
    val (b1, b2) = ords.splitAt(ords.length / 2)
    mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val versions = spark.table("bv_out").as[Streams.BvVersion].collect()
    // every order emitted exactly one version
    assert(versions.length == ords.length, s"${versions.length} versions for ${ords.length} orders")
    // per customer the version chain is strictly increasing in order_cnt
    versions.groupBy(_.o_custkey).foreach { case (_, vs) =>
      assert(vs.map(_.order_cnt).sorted.toSeq == (1L to vs.length.toLong))
    }
    // the LAST version per customer equals the batch business-vault row
    val last = versions.groupBy(_.o_custkey).map { case (ck, vs) => ck -> vs.maxBy(_.order_cnt) }
    val sha = (s: String) => java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val batch = SparkEntry.queries("dv_computed_sat")(spark, sfDir).collect()
      .map(r => r.getAs[String]("hub_customer_hk") ->
        (r.getAs[Long]("order_cnt"), r.getAs[Long]("total_cents"),
          r.getAs[Long]("last_order_ms"), r.getAs[String]("sat_customer_bv_hd"))).toMap
    assert(last.nonEmpty)
    last.foreach { case (ck, v) =>
      val b = batch(sha(ck.toString))
      assert((v.order_cnt, v.total_cents, v.last_order_ms, v.hd) == b,
        s"customer $ck diverges from dv_computed_sat: $v vs $b")
    }
  }

  final case class QOrder(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)

  test("streaming quality gate: planted violations quarantined with correct verdicts, clean rows pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val customers = Tables.load(spark, sfDir, "customer")
    val someCust = customers.select("c_custkey").limit(1).collect()(0).getLong(0)
    val mem = MemoryStream[QOrder]
    val q = Streams.qualityGateStream(mem.toDF(), customers).writeStream
      .format("memory").queryName("dq_out").outputMode("append").start()
    mem.addData(
      QOrder(1, someCust, 100.0),       // clean
      QOrder(2, someCust, -5.0),        // bad price
      QOrder(3, 888888888L, 50.0),      // dangling FK
      QOrder(4, 888888888L, 0.0))       // both
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dq_out").collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[Long]("bad_price"), r.getAs[Long]("dangling_custkey"))).toMap
    assert(!out.contains(1L), "clean row quarantined")
    assert(out(2L) == ((1L, 0L)))
    assert(out(3L) == ((0L, 1L)))
    assert(out(4L) == ((1L, 1L)))
    assert(out.size == 3)
  }

  final case class SVec(vec_id: Long, embedding: Seq[Float])

  test("streaming semantic dedup: batch parity with dedup_embed_cosine, copy flagged at 1.0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val blocks = graft.queries.Similarity.embedBlocksTable(spark, sfDir)
    val nBlocks = graft.queries.Similarity.dedupBlockCount(spark, sfDir)
    // BATCH parity: replaying the whole corpus through the stream function
    // reproduces the batch op's verified pair set exactly (the stream emits
    // both directions on a full replay; restrict to compare). With the
    // asymmetric exact kernel the parity is structural, not statistical.
    val streamed = Streams.semanticDedupStream(
        Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding"),
        blocks, nBlocks)
      .filter(col("in_vec") < col("corpus_vec"))
      .select(col("in_vec"), col("corpus_vec")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("dedup_embed_cosine")(spark, sfDir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "stream replay diverges from the batch blocked dedup")
    // PER-ARRIVAL CANDIDATE VOLUME (r11 verdict #1's missing pin): one
    // arriving vector joins EXACTLY nBlocks block rows whose item lists
    // sum to EXACTLY the corpus size — ~n candidates with a 1.0 constant,
    // not the old band index's ~8n. Recall alone cannot catch a
    // non-pruning index; this does.
    val n = Tables.load(spark, sfDir, "embeddings").count()
    val oneArrival = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").limit(1)
    val joined = Streams.semanticDedupJoined(oneArrival, blocks, nBlocks).cache()
    assert(joined.count() == nBlocks.toLong,
      s"per-arrival joined rows ${joined.count()} != block count $nBlocks")
    val touched = joined.agg(sum(size(col("items")))).collect()(0).getLong(0)
    assert(touched == n, s"per-arrival candidate volume $touched != corpus size $n")
    joined.unpersist()
    // LIVE: a verbatim copy of a corpus vector must flag its source at 1.0
    val srcRow = Tables.load(spark, sfDir, "embeddings")
      .orderBy("vec_id").select("vec_id", "embedding").head()
    val (srcId, srcEmb) =
      (srcRow.getLong(0), srcRow.getAs[scala.collection.Seq[Float]](1).toSeq)
    val mem = MemoryStream[SVec]
    val q = Streams.semanticDedupStream(mem.toDF(), blocks, nBlocks).writeStream
      .format("memory").queryName("semdedup_out").outputMode("append").start()
    mem.addData(SVec(900001L, srcEmb))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("semdedup_out").collect()
      .map(r => (r.getAs[Long]("in_vec"), r.getAs[Long]("corpus_vec"), r.getAs[Double]("cosine")))
    assert(out.exists(t => t._1 == 900001L && t._2 == srcId && t._3 >= 0.9999),
      s"copy did not flag its source: ${out.take(5).toSeq}")
    out.foreach(t => assert(t._3 >= 0.4))
    // exactly-once per pair from the gate itself (the old banded gate
    // emitted once per matching band): no duplicate (in, corpus) rows
    assert(out.map(t => (t._1, t._2)).distinct.length == out.length)
  }

  test("streaming PROD semantic gate: per-arrival candidates bounded, batch-prod parity, copy flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Similarity
    val planes = Similarity.prodPlanes(spark, sfDir)
    val bands = Similarity.prodBandIndex(spark, sfDir)
    val vecs = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val n = vecs.count()
    // PER-ARRIVAL CANDIDATE VOLUME (the r12 verdict #3 pin): replaying the
    // whole corpus as arrivals, banded candidate rows stay ≤ 160 per
    // arrival — the batch op's 160·n bound (Bands·occupancy·skew) in
    // per-arrival form. This is the sub-corpus-scan property the exact
    // τ=0.4 gate cannot offer (its per-arrival volume is exactly n).
    val joined = Streams.semanticDedupProdJoined(vecs, bands, planes).cache()
    val candRows = joined.count()
    assert(candRows <= 160L * n,
      s"candidate volume $candRows exceeds the 160·n pin (n=$n)")
    // BATCH PARITY: the replayed candidate PAIR SET equals the batch banded
    // candidate set recomputed from the SAME prodSigs index (bit-identical
    // signatures by construction — one kernel builds both sides)…
    val streamPairs = joined
      .select(least(col("in_vec"), col("corpus_vec")).as("vec_a"),
        greatest(col("in_vec"), col("corpus_vec")).as("vec_b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = bands.as("a")
      .join(bands.withColumnRenamed("vec_id", "vb").as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vb"))
      .select(col("a.vec_id"), col("b.vb")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs,
      "full replay's banded candidate pairs diverge from the batch index self-join")
    // …and the registered batch op's totals agree with the replay's counts
    // (candidates AND τ=0.8-verified dups — the op's two output columns).
    val opTotals = SparkEntry.queries("dedup_embed_cosine_prod")(spark, sfDir)
      .agg(coalesce(sum("n_candidates"), lit(0L)), coalesce(sum("n_dups"), lit(0L)))
      .collect()(0)
    assert(streamPairs.size.toLong == opTotals.getLong(0),
      s"stream candidate pairs ${streamPairs.size} != batch op total ${opTotals.getLong(0)}")
    val verifiedPairs = Streams.semanticDedupProdStream(vecs, bands, vecs, planes)
      .filter(col("in_vec") < col("corpus_vec"))
      .select("in_vec", "corpus_vec").distinct().count()
    assert(verifiedPairs == opTotals.getLong(1),
      s"stream verified dups $verifiedPairs != batch op total ${opTotals.getLong(1)}")
    joined.unpersist()
    // LIVE: a verbatim copy of a corpus vector matches its source in ALL
    // ProdBands bands (identical sigs), passes exact verification at ~1.0
    // ≥ τ=0.8, and the sink plan collapses the multi-band rows to ONE pair.
    val srcRow = vecs.orderBy("vec_id").head()
    val (srcId, srcEmb) =
      (srcRow.getLong(0), srcRow.getAs[scala.collection.Seq[Float]](1).toSeq)
    val mem = MemoryStream[SVec]
    val q = Streams.semanticDedupProdStream(mem.toDF(), bands, vecs, planes).writeStream
      .format("memory").queryName("semdedup_prod_out").outputMode("append").start()
    mem.addData(SVec(900002L, srcEmb))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("semdedup_prod_out").collect()
      .map(r => (r.getAs[Long]("in_vec"), r.getAs[Long]("corpus_vec"), r.getAs[Double]("cosine")))
    assert(out.count(t => t._1 == 900002L && t._2 == srcId && t._3 >= 0.9999)
      == Similarity.ProdBands,
      s"copy should match its source once per band: ${out.take(12).toSeq}")
    out.foreach(t => assert(t._3 >= Similarity.ProdTau))
    val collapsed = Streams.semanticProdSinkPlan(spark,
      spark.table("semdedup_prod_out"),
      java.nio.file.Files.createTempDirectory("graft_semprod").toString + "/none")
    assert(collapsed.count() == out.map(t => (t._1, t._2)).distinct.length.toLong)
    assert(collapsed.count() == 1L)
  }

  test("streaming IVF maintenance: exactly-once index appends, drift parity with ann_ivf_incr") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Similarity
    import graft.dv.IvfIndexRepo
    val vecs = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val stored = vecs.filter(col("vec_id") % Similarity.IncrMod =!= Similarity.IncrRes)
    val arriving = vecs.filter(col("vec_id") % Similarity.IncrMod === Similarity.IncrRes)
    val cents = Similarity.ivfStoredCentroids(spark, sfDir)
    val storedAgg = Streams.ivfStoredAgg(stored, cents)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_incr_stream").toString
    val prefix = graft.dv.DvLoader.tablePrefix(dir)
    val driftPath = s"$dir/drift"
    val rows = arriving.collect().map(r =>
      SVec(r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    val (b1, b2) = rows.partition(_.vec_id % 20 == Similarity.IncrRes) // two micro-batches
    assert(b1.nonEmpty && b2.nonEmpty, "batch split degenerate")
    try {
      IvfIndexRepo.init(spark, dir, cents, buckets = 4)
      val mem = MemoryStream[SVec]
      val q = Streams.ivfIncrRepoSink(mem.toDF(), storedAgg, dir, driftPath,
        s"$dir/ckpt").start()
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      q.stop()
      // the index holds each arriving vector exactly once, with the batch
      // kernel's exact cell assignment (bit-identical argmax)
      val index = IvfIndexRepo.storedIndex(spark, dir)
      assert(index.count() == rows.length)
      assert(index.select("vec_id").distinct().count() == rows.length)
      val expected = Similarity.assignCells(Similarity.withQuantized(arriving), cents)
      assert(index.select("vec_id", "cell").exceptAll(expected).count() == 0)
      assert(expected.exceptAll(index.select("vec_id", "cell")).count() == 0)
      // re-delivery: batch 1 arrives again — the anti-join appends NOTHING
      // (the batch-1 predicate re-applied to the source frame: inner case
      // classes can't instantiate through toDF's outer-scope encoder here)
      val redelivered = IvfIndexRepo.appendPlan(spark, dir,
        Similarity.assignCells(Similarity.withQuantized(
          arriving.filter(col("vec_id") % 20 === Similarity.IncrRes)), cents)
          .select(col("vec_id"), col("cell"), lit("redo").as("load_ts")))
      assert(redelivered.count() == 0, "re-delivered batch leaked into the index")
      // drift log: per-cell arrivals across the two batches sum to the
      // registered batch op's n_arrived
      val batchOp = SparkEntry.queries("ann_ivf_incr")(spark, sfDir)
      val streamedArrivals = SinkRepo.read(spark, driftPath)
        .groupBy("cell").agg(sum("n_arrived").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      batchOp.select("cell", "n_arrived").collect().foreach { r =>
        assert(streamedArrivals.getOrElse(r.getLong(0), 0L) == r.getLong(1),
          s"cell ${r.getLong(0)}: streamed arrivals diverge from the batch op")
      }
      // full-replay parity: ONE batch carrying every arrival reproduces the
      // registered op bit for bit (same kernel, same stored agg)
      val oneShot = Streams.ivfDriftPlan(arriving, cents, storedAgg).collect().toSeq
      assert(oneShot == batchOp.collect().toSeq,
        "one-batch drift replay diverges from ann_ivf_incr")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}${IvfIndexRepo.IndexObj}")
      graft.dv.DvLoader.deletePath(java.nio.file.Paths.get(dir))
    }
  }

  test("IVF index repo: batch and stream maintain ONE bucketed index through the catalog; compaction covers it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Similarity
    import graft.dv.IvfIndexRepo
    val vecs = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val stored = vecs.filter(col("vec_id") % Similarity.IncrMod =!= Similarity.IncrRes)
    val arriving = vecs.filter(col("vec_id") % Similarity.IncrMod === Similarity.IncrRes)
    val cents = Similarity.ivfStoredCentroids(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_repo").toString
    val prefix = graft.dv.DvLoader.tablePrefix(dir)
    IvfIndexRepo.init(spark, dir, cents, buckets = 4)
    // the stored quantizer round-trips in the kernel's exact literal form
    assert(IvfIndexRepo.centroids(spark, dir) == cents)
    // BATCH face: load the first arrival slice, then re-deliver it —
    // exactly-once through the catalog anti-join
    val b1 = arriving.filter(col("vec_id") % 20 === Similarity.IncrRes)
    val b2rows = arriving.filter(col("vec_id") % 20 =!= Similarity.IncrRes).collect()
      .map(r => SVec(r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    assert(b1.count() > 0 && b2rows.nonEmpty, "batch split degenerate")
    assert(IvfIndexRepo.appendBatch(spark, dir, b1, "t0") == b1.count())
    assert(IvfIndexRepo.appendBatch(spark, dir, b1, "t1") == 0L,
      "re-delivered batch leaked into the index")
    // STREAM face: the rest arrives through ivfIncrRepoSink, with an
    // upstream re-delivery — the SAME index object absorbs both faces
    val mem = MemoryStream[SVec]
    val q = Streams.ivfIncrRepoSink(mem.toDF(), Streams.ivfStoredAgg(stored, cents),
      dir, s"$dir/drift", s"$dir/ckpt").start()
    mem.addData(b2rows.toSeq: _*); q.processAllAvailable()
    mem.addData(b2rows.toSeq: _*); q.processAllAvailable()
    q.stop()
    val index = IvfIndexRepo.storedIndex(spark, dir)
    val nArr = arriving.count()
    assert(index.count() == nArr)
    assert(index.select("vec_id").distinct().count() == nArr)
    // assignments bit-identical to the batch kernel, across both faces
    val expected = Similarity.assignCells(Similarity.withQuantized(arriving), cents)
    assert(index.select("vec_id", "cell").exceptAll(expected).count() == 0)
    assert(expected.exceptAll(index.select("vec_id", "cell")).count() == 0)
    // reads go THROUGH the session catalog with the pinned bucket spec
    assert(spark.catalog.tableExists(s"${prefix}${IvfIndexRepo.IndexObj}"))
    // COMPACTION (the vault stage-and-swap on a non-schema object): the
    // incremental appends left >buckets files; one file per bucket after,
    // contents untouched, and the table still reads through the catalog
    val pre = index.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (filesBefore, filesAfter) = IvfIndexRepo.compact(spark, dir)
    assert(filesBefore > 4 && filesAfter == 4L, s"files $filesBefore -> $filesAfter")
    val post = IvfIndexRepo.storedIndex(spark, dir).select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(post == pre, "compaction changed the index contents")
    // and post-compaction appends still land exactly-once
    assert(IvfIndexRepo.appendBatch(spark, dir, b1, "t2") == 0L)
  }

  // r13 verdict #1: the RETRAIN half of the index lifecycle, driven end to
  // end — drift evidence fires the trigger, maintenance retrains
  // (deterministic Lloyd over stored+arrived, crash-safe centroid swap,
  // bucketed assignment rewrite), and a maintainer that was RUNNING before
  // the retrain assigns its next micro-batch with the NEW quantizer
  // without restart (the per-batch centroid-read seam).
  test("IVF retrain loop: drift trigger → retrain → running stream continues on the new quantizer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Similarity
    import graft.dv.IvfIndexRepo
    val vecs = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val stored = vecs.filter(col("vec_id") % Similarity.IncrMod =!= Similarity.IncrRes)
    val cents = Similarity.ivfStoredCentroids(spark, sfDir) // the stale, pre-drift quantizer
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_retrain_loop").toString
    val prefix = graft.dv.DvLoader.tablePrefix(dir)
    try {
      IvfIndexRepo.init(spark, dir, cents, buckets = 4)
      assert(IvfIndexRepo.appendBatch(spark, dir, stored, "t0") == stored.count())
      val storedAgg = Streams.ivfStoredAgg(stored, cents)
      // a calm re-delivery-shaped batch (== stored): drift is EXACTLY zero
      // per cell, so maintenance must NOT retrain
      val calm = Streams.ivfDriftPlan(stored, cents, storedAgg)
      assert(calm.filter(col("retrain_flag") === 1).count() == 0, "calm batch fired the trigger")
      assert(!IvfIndexRepo.maintainIfDrifted(spark, dir, calm, stored, "e0"))
      assert(IvfIndexRepo.centroids(spark, dir) == cents, "no-drift maintenance retrained")
      // a genuinely DRIFTED arrival slice (+0.5 embedding units — the
      // ann_ivf_incr spec's shifted-batch precedent) fires the trigger
      val drifted = vecs.filter(col("vec_id") % Similarity.IncrMod === Similarity.IncrRes)
        .withColumn("embedding", expr("transform(embedding, e -> cast(e + 0.5 as float))"))
      val drift = Streams.ivfDriftPlan(drifted, cents, storedAgg)
      assert(drift.filter(col("retrain_flag") === 1).count() > 0, "drifted batch failed to fire")
      assert(IvfIndexRepo.appendBatch(spark, dir, drifted, "t1") == drifted.count())
      val corpus = stored.unionByName(drifted)
      assert(IvfIndexRepo.maintainIfDrifted(spark, dir, drift, corpus, "e1"))
      // retrained quantizer AND index are BIT-IDENTICAL to a
      // train-from-scratch build over the same stored+arrived corpus —
      // the ann_ivf_retrain oracle's claim, pinned here on the drifted path
      val fromScratch = Similarity.trainCentroidsFrom(Similarity.withQuantized(corpus))
      val newCents = IvfIndexRepo.centroids(spark, dir)
      assert(newCents == fromScratch, "retrain diverged from the from-scratch quantizer")
      assert(newCents != cents, "retrain left the stale quantizer in place")
      val expected = Similarity.assignCells(Similarity.withQuantized(corpus), fromScratch)
      val idx = IvfIndexRepo.storedIndex(spark, dir).select("vec_id", "cell")
      assert(idx.exceptAll(expected).count() == 0 && expected.exceptAll(idx).count() == 0,
        "retrained index diverges from the from-scratch assignment")
      // the rewrite's frame is scan-local argmax + ONE vec_id equi-join —
      // never cartesian/BNLJ (the ScaleSpec discipline for the plan the
      // eager lifecycle op hides behind its localCheckpoint surface)
      val reassignPlan = IvfIndexRepo.reassignFrame(
        IvfIndexRepo.storedIndex(spark, dir), Similarity.withQuantized(corpus), newCents)
        .queryExecution.executedPlan.toString
      assert(!reassignPlan.contains("CartesianProduct") &&
        !reassignPlan.contains("BroadcastNestedLoopJoin"),
        "retrain reassignment frame degraded to a non-equi join")
      // recall evidence: one row per maintenance event, labeled (r13 #7)
      val log = spark.read.parquet(s"$dir/recall_log")
      assert(log.count() == 2)
      assert(log.filter(col("event") === "retrain").count() == 1 &&
        log.filter(col("event") === "append").count() == 1)
      assert(log.filter(col("recall_micro") < 0 || col("recall_micro") > 1000000L).count() == 0)
      // STREAM CONTINUATION: a maintainer started BEFORE a retrain picks
      // up the next quantizer generation on its next micro-batch. Start
      // the stream, land a batch under the CURRENT centroids, retrain
      // (new generation), then land a second batch — its index rows must
      // carry the NEW generation's assignments, without a restart.
      val b1rows = vecs.filter(col("vec_id") < 20).collect().map(r =>
        SVec(r.getLong(0) + 1000000L, r.getAs[scala.collection.Seq[Float]](1).toSeq))
      val b2rows = vecs.filter(col("vec_id") >= 20 && col("vec_id") < 40).collect().map(r =>
        SVec(r.getLong(0) + 2000000L, r.getAs[scala.collection.Seq[Float]](1).toSeq))
      val mem = MemoryStream[SVec]
      val q = Streams.ivfIncrRepoSink(mem.toDF(), storedAgg, dir, s"$dir/drift",
        s"$dir/ckpt").start()
      try {
        mem.addData(b1rows.toSeq: _*); q.processAllAvailable()
        // second retrain generation while the stream RUNS (between batches
        // — the micro-batch hook is the single-writer window)
        IvfIndexRepo.retrainIvf(spark, dir, corpus.unionByName(
          b1rows.toSeq.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding")))
        val gen2 = IvfIndexRepo.centroids(spark, dir)
        assert(gen2 != newCents, "second retrain produced the same quantizer")
        mem.addData(b2rows.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val b2df = b2rows.toSeq.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding")
      val wantB2 = Similarity.assignCells(Similarity.withQuantized(b2df),
        IvfIndexRepo.centroids(spark, dir))
      val gotB2 = IvfIndexRepo.storedIndex(spark, dir)
        .filter(col("vec_id") >= 2000000L).select("vec_id", "cell")
      assert(gotB2.count() == b2rows.length)
      assert(gotB2.exceptAll(wantB2).count() == 0 && wantB2.exceptAll(gotB2).count() == 0,
        "the running maintainer did not pick up the retrained quantizer")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}${IvfIndexRepo.IndexObj}")
      graft.dv.DvLoader.deletePath(java.nio.file.Paths.get(dir))
    }
  }

  test("streaming token-budget gate: per-source state, rank-ordered replay matches per-source batch runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val permille = graft.queries.Curate.BudgetPermille
    val srcOf = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = SparkEntry.queries("corpus_token_budget")(spark, sfDir)
      .select("doc_id", "q_int", "n_tokens").collect()
      .map(r => (srcOf(r.getLong(0)), r.getLong(0), r.getLong(1), r.getLong(2)))
    val srcTotals = batch.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._4).sum }
    assert(srcTotals.size > 1, "single-source corpus — the per-key sweep is vacuous")
    // per-source expectation: the batch op's greedy prefix discipline
    // applied within each source against that source's own budget
    val expected = batch.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      var cum = 0L
      rs.toSeq.sortBy(r => (-r._3, r._2)).map { case (_, id, q, nt) =>
        cum += nt
        (src, id, q, nt, cum, if (cum * 1000L <= srcTotals(src) * permille) 1L else 0L)
      }
    }.toSet
    // feed in GLOBAL rank order (sources interleaved), split across two
    // micro-batches at an arbitrary boundary — restricted to any source,
    // global rank order IS that source's rank order, so per-source parity
    // must hold across the batch cut
    val ranked = batch.sortBy(r => (-r._3, r._2))
      .map { case (src, id, q, nt) => Streams.BudgetDoc(src, id, nt, q) }
    val (b1, b2) = ranked.splitAt(ranked.length / 3)
    val mem = MemoryStream[Streams.BudgetDoc]
    val q = Streams.tokenBudgetGateStream(mem.toDF(), srcTotals, permille)
      .toDF().writeStream.format("memory").queryName("budget_out")
      .outputMode("append").start()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("budget_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed == expected,
      "streamed per-source verdicts diverge from the per-source batch runs")
    // non-vacuous: the budget binds INSIDE sources — some source carries
    // both verdicts (not only all-in/all-out sources)
    val bySrc = streamed.groupBy(_._1)
    assert(bySrc.exists { case (_, vs) =>
      vs.exists(_._6 == 1L) && vs.exists(_._6 == 0L) })
    // an unbudgeted source is marked rejected, never dropped
    val mem2 = MemoryStream[Streams.BudgetDoc]
    val q2 = Streams.tokenBudgetGateStream(mem2.toDF(), srcTotals, permille)
      .toDF().writeStream.format("memory").queryName("budget_out2")
      .outputMode("append").start()
    mem2.addData(Streams.BudgetDoc("never_cataloged", 999999L, 10L, 500000L))
    q2.processAllAvailable()
    q2.stop()
    val orphan = spark.table("budget_out2").collect()
    assert(orphan.length == 1 && orphan(0).getLong(5) == 0L)
  }

  test("streaming pack writer: hash-ordered replay reproduces corpus_pack_write's full windows across a batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val L = graft.queries.Curate.SeqLen
    val docs = graft.queries.Docs.enriched(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5Long64(col("doc_id").cast("string")).as("h"),
        col("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2)))
      .sortBy(r => (r._2 % graft.queries.Curate.PrefixBuckets, r._2, r._1))
    // one source, the batch writer's exact bucket-major hash order, split
    // across two micro-batches at an arbitrary boundary: the tail carries
    // the cut, so the emitted full windows must reproduce the batch
    // writer's reduction exactly
    val ranked = docs.map { case (id, h, toks) => Streams.PackDoc("all", id, h, toks) }
    val (b1, b2) = ranked.splitAt(ranked.length / 3)
    val mem = MemoryStream[Streams.PackDoc]
    val q = Streams.packWriteStream(mem.toDF()).toDF()
      .writeStream.format("memory").queryName("pack_out").outputMode("append").start()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pack_out").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val batch = SparkEntry.queries("corpus_pack_write")(spark, sfDir).collect()
    val full = batch.filter(_.getAs[Long]("n_tokens") == L)
      .map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("seq_sha"))).toSet
    assert(streamed == full,
      "streamed full windows diverge from corpus_pack_write's reduction")
    assert(streamed.nonEmpty)
    // the tail never emits: windows stop exactly at floor(tokens / L)
    val totalToks = docs.map(_._3.length.toLong).sum
    assert(streamed.size.toLong == totalToks / L)
  }

  test("streaming pack writer: sources pack independently, each matching its own driver-side packing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a smaller window than the registered 2048 keeps every source
    // non-vacuous at the spec SF (the window length is a production knob;
    // the default-L parity with corpus_pack_write is the previous test)
    val L = 256
    val docs = graft.queries.Docs.enriched(spark, sfDir)
      .select(col("doc_id"), col("source"),
        graft.functions.GraftFunctions.md5Long64(col("doc_id").cast("string")).as("h"),
        col("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getSeq[String](3)))
    assert(docs.map(_._2).distinct.length > 1, "single-source corpus — the per-key sweep is vacuous")
    // feed every source interleaved in global hash order, one batch
    val ranked = docs.sortBy(r => (r._3, r._1))
      .map { case (id, src, h, toks) => Streams.PackDoc(src, id, h, toks) }
    val mem = MemoryStream[Streams.PackDoc]
    val q = Streams.packWriteStream(mem.toDF(), seqLen = L).toDF()
      .writeStream.format("memory").queryName("pack_src_out").outputMode("append").start()
    mem.addData(ranked.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pack_src_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    // independent driver-side re-derivation: per source, concat tokens in
    // (h, doc_id) order, chunk into L-token windows, sha the full ones
    val sha = (toks: Seq[String]) => {
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(toks.mkString(" ").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    }
    val B = graft.queries.Curate.PrefixBuckets
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, rs) =>
      val slots = rs.sortBy(r => (r._3 % B, r._3, r._1)).flatMap(r => r._4.map(t => (r._1, t)))
      slots.grouped(L).zipWithIndex.collect {
        case (win, i) if win.length == L =>
          (src, i.toLong, win.map(_._1).distinct.length.toLong, L.toLong, sha(win.map(_._2)))
      }
    }.toSet
    assert(streamed == expected,
      "per-source streamed windows diverge from independent per-source packing")
    assert(expected.map(_._1).size > 1)
  }

  test("streaming token-budget gate: one-source degenerate call reproduces corpus_token_budget globally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("corpus_token_budget")(spark, sfDir)
      .select("doc_id", "q_int", "n_tokens", "cum_tokens", "selected").collect()
    val total = batch.map(_.getAs[Long]("n_tokens")).sum
    val ranked = batch.sortBy(r => (-r.getAs[Long]("q_int"), r.getAs[Long]("doc_id")))
      .map(r => Streams.BudgetDoc("all", r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("q_int")))
    val (b1, b2) = ranked.splitAt(ranked.length / 3)
    val mem = MemoryStream[Streams.BudgetDoc]
    val q = Streams.tokenBudgetGateStream(mem.toDF(), Map("all" -> total),
        graft.queries.Curate.BudgetPermille)
      .toDF().writeStream.format("memory").queryName("budget_all_out")
      .outputMode("append").start()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    mem.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("budget_all_out").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val expected = batch.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("q_int"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"), r.getAs[Long]("selected"))).toSet
    assert(streamed == expected,
      "one-source replay diverges from the global batch op")
    assert(streamed.exists(_._5 == 1L) && streamed.exists(_._5 == 0L))
  }
}
