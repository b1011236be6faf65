package graft

import graft.dv._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The composed background loop (bgw_init analogue): source change →
  * CatalogScd2 merge → re-classify only what drifted → schema-driven
  * incremental vault load, with NO manual steps. Two micro-batches, the
  * second carrying a mid-stream schema drift (c_acctbal re-typed varchar).
  */
class PipelineSpec extends SparkSpec {

  test("continuous pipeline: two micro-batches with a schema drift land correct vault rows") {
    val tmp = Files.createTempDirectory("graft_pipeline").toString
    val st = ContinuousPipeline.State(s"$tmp/catalog", s"$tmp/responses", s"$tmp/repo")
    Files.createDirectories(Paths.get(st.repoDir))
    val scope = Set("hub_customer", "sat_customer", "sat_customer_sensitive")
    Files.writeString(Paths.get(s"${st.repoDir}/dv_schema.json"),
      DvGo.planJson(DvPlanner.literalPlan, "pipeline", scope))

    val cust = Tables.load(spark, sfDir, "customer")
    val evens = cust.filter(col("c_custkey") % 2 === 0)

    // ---- batch 0 rides a LIVE streaming trigger
    val src = s"$tmp/incoming"
    evens.write.mode("append").parquet(src)
    val stream = spark.readStream.schema(cust.schema).parquet(src)
    val q = ContinuousPipeline.sink(stream, "customer", st, s"$tmp/ckpt").start()
    q.processAllAvailable()
    q.stop()

    val t0 = "2024-01-01 00:00:00"
    val cat0 = spark.read.parquet(st.catalogDir)
    assert(cat0.filter(col("current_flag") === "Y").count() == 5)
    assert(cat0.filter(col("valid_from") =!= t0).count() == 0)
    val resp0 = spark.read.parquet(st.responsesDir)
    assert(resp0.count() == 5 && resp0.filter(col("classified_at") =!= t0).count() == 0)
    val nEvens = evens.select("c_custkey").distinct().count()
    assert(spark.read.parquet(s"${st.repoDir}/hub_customer").count() == nEvens + 2)
    assert(spark.read.parquet(s"${st.repoDir}/sat_customer").count() == nEvens)

    // ---- batch 1: full feed, c_acctbal re-typed varchar (schema drift —
    // reaches a pipeline as a redeployed query, so it drives the same hook)
    val t1 = "2024-02-01 00:00:00"
    val drifted = cust.withColumn("c_acctbal", col("c_acctbal").cast("string"))
    ContinuousPipeline.onBatch(spark, st, "customer", drifted, t1, "drift_1")

    val cat1 = spark.read.parquet(st.catalogDir)
    val acct = cat1.filter(col("column_name") === "c_acctbal").collect()
    assert(acct.length == 2) // closed double version + current varchar version
    val current = acct.find(_.getAs[String]("current_flag") == "Y").get
    assert(current.getAs[String]("data_type") == "varchar" &&
      current.getAs[String]("valid_from") == t1)
    assert(acct.find(_.getAs[String]("current_flag") == "N").get.getAs[String]("valid_to") == t1)
    // every other column kept its first version
    assert(cat1.filter(col("column_name") =!= "c_acctbal" && col("valid_from") === t0)
      .count() == 4)
    // ONLY the drifted column re-entered the classifier
    val resp1 = spark.read.parquet(st.responsesDir)
    assert(resp1.filter(col("classified_at") === t1).collect()
      .map(_.getAs[String]("column_name")).toSeq == Seq("c_acctbal"))
    assert(resp1.filter(col("classified_at") === t0).count() == 4)
    // the vault grew by exactly the odd keys, and the drifted values were
    // conformed to the vault's declared double type
    val nAll = cust.select("c_custkey").distinct().count()
    assert(spark.read.parquet(s"${st.repoDir}/hub_customer").count() == nAll + 2)
    val sens = spark.read.parquet(s"${st.repoDir}/sat_customer_sensitive")
    assert(sens.schema("c_acctbal").dataType == org.apache.spark.sql.types.DoubleType)
    assert(sens.count() == nAll)
    val cat1Count = cat1.count() // before the replay rewrites the directory

    // ---- replay of the drifted feed: no drift, no reclassification, no growth
    ContinuousPipeline.onBatch(spark, st, "customer", drifted, "2024-03-01 00:00:00", "drift_2")
    assert(spark.read.parquet(st.catalogDir).count() == cat1Count)
    assert(spark.read.parquet(st.responsesDir)
      .filter(col("classified_at") === "2024-03-01 00:00:00").count() == 0)
    assert(spark.read.parquet(s"${st.repoDir}/hub_customer").count() == nAll + 2)
    assert(spark.read.parquet(s"${st.repoDir}/sat_customer_sensitive").count() == nAll)

    DvLoader.deletePath(Paths.get(tmp))
  }

  test("continuous pipeline: erasure requests purge sensitive rows between micro-batches") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_pipeline_purge").toString
    val prefix = s"plpurge${System.nanoTime()}_"
    val st = ContinuousPipeline.State(s"$tmp/catalog", s"$tmp/responses", s"$tmp/repo",
      erasureDir = Some(s"$tmp/erasure"))
    Files.createDirectories(Paths.get(st.repoDir))
    val scope = Set("hub_customer", "sat_customer", "sat_customer_sensitive")
    Files.writeString(Paths.get(s"${st.repoDir}/dv_schema.json"),
      DvGo.planJson(DvPlanner.literalPlan, "pipeline_purge", scope, Some((prefix, 4))))
    val obj = "sat_customer_sensitive"
    val hk = "hub_customer_hk"
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      val evens = cust.filter(col("c_custkey") % 2 === 0)
      // ---- batch 0: ordinary load, no erasure requests pending
      ContinuousPipeline.onBatch(spark, st, "customer", evens, "2024-01-01 00:00:00", "b0")
      val nEvens = evens.select("c_custkey").distinct().count()
      assert(spark.read.parquet(s"${st.repoDir}/$obj").count() == nEvens)
      // ---- erasure requests arrive: 5 customers exercise their right —
      // victims named by their vault hash keys (resolved through the hub)
      val victimKeys = evens.select("c_custkey").orderBy("c_custkey").limit(5)
        .collect().map(_.getLong(0)).toSeq
      val victimHexes = spark.read.parquet(s"${st.repoDir}/hub_customer")
        .filter(col("c_custkey_bk").isin(victimKeys: _*))
        .select(lower(hex(col(hk))).as("hkx")).distinct()
        .collect().map(_.getString(0)).toSeq
      assert(victimHexes.size == 5)
      victimHexes.toDF("hkx").select(lit(obj).as("obj"), unhex(col("hkx")).as("hk"))
        .write.mode("append").parquet(s"${st.erasureDir.get}/requests")
      // ---- batch 1: the GDPR-compliant upstream (victims already erased
      // at the source) delivers the rest — ONE hook turn runs the load AND
      // the purge inside the same single-writer window
      val feed1 = cust.filter(!col("c_custkey").isin(victimKeys: _*))
      ContinuousPipeline.onBatch(spark, st, "customer", feed1, "2024-02-01 00:00:00", "b1")
      val nAll = cust.select("c_custkey").distinct().count()
      def isVictim = lower(hex(col(hk))).isin(victimHexes: _*)
      val sat = spark.read.parquet(s"${st.repoDir}/$obj")
      // victims physically gone; every other row still present
      assert(sat.filter(isVictim).count() == 0, "victim rows survived the purge")
      assert(sat.count() == nAll - 5)
      // the hub skeleton is untouched (pseudonymous keys stay — only the
      // sensitive descriptors are erased), incl. the victims' keys
      val hub = spark.read.parquet(s"${st.repoDir}/hub_customer")
      assert(hub.filter(col("record_source") =!= "SYSTEM").count() == nAll)
      assert(hub.filter(isVictim).count() == 5)
      // bucketed layout intact: the purge rewrite left one file per bucket
      import scala.jdk.CollectionConverters._
      val files = scala.util.Using.resource(Files.walk(Paths.get(s"${st.repoDir}/$obj"))) { w =>
        w.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
      }
      assert(files == 4, s"expected one file per bucket post-purge, files=$files")
      // ---- batch 2: replay of the same feed — anti-join appends nothing
      // through the catalog, the processed log makes the purge idempotent
      ContinuousPipeline.onBatch(spark, st, "customer", feed1, "2024-03-01 00:00:00", "b2")
      val sat2 = spark.read.parquet(s"${st.repoDir}/$obj")
      assert(sat2.count() == nAll - 5)
      assert(sat2.filter(isVictim).count() == 0)
      assert(ContinuousPipeline.processErasures(spark, st, "manual") == Nil)
    } finally {
      Seq(s"$prefix$obj", s"${prefix}hub_customer", s"${prefix}sat_customer")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      DvLoader.deletePath(Paths.get(tmp))
    }
  }

  // r13 ADVICE (high): a replayed/redelivered batch that STILL CONTAINS a
  // purged victim's source rows must not resurrect them — the processed
  // log is a standing suppression list at load time, not just purge-once
  // idempotency. The r13 replay test fed a victim-free stream, which
  // masked exactly this hole.
  test("continuous pipeline: redelivered victim rows do not resurrect erased data") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_pipeline_resurrect").toString
    val prefix = s"plres${System.nanoTime()}_"
    val st = ContinuousPipeline.State(s"$tmp/catalog", s"$tmp/responses", s"$tmp/repo",
      erasureDir = Some(s"$tmp/erasure"))
    Files.createDirectories(Paths.get(st.repoDir))
    val scope = Set("hub_customer", "sat_customer", "sat_customer_sensitive")
    Files.writeString(Paths.get(s"${st.repoDir}/dv_schema.json"),
      DvGo.planJson(DvPlanner.literalPlan, "pipeline_resurrect", scope, Some((prefix, 4))))
    val obj = "sat_customer_sensitive"
    val hk = "hub_customer_hk"
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-01-01 00:00:00", "b0")
      val nAll = cust.select("c_custkey").distinct().count()
      val victimKeys = cust.select("c_custkey").orderBy("c_custkey").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val victimHexes = spark.read.parquet(s"${st.repoDir}/hub_customer")
        .filter(col("c_custkey_bk").isin(victimKeys: _*))
        .select(lower(hex(col(hk))).as("hkx")).distinct()
        .collect().map(_.getString(0)).toSeq
      victimHexes.toDF("hkx").select(lit(obj).as("obj"), unhex(col("hkx")).as("hk"))
        .write.mode("append").parquet(s"${st.erasureDir.get}/requests")
      def isVictim = lower(hex(col(hk))).isin(victimHexes: _*)
      // batch 1: the purge runs; the NON-compliant upstream replays the
      // FULL feed — victims included — on this and every later batch
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-02-01 00:00:00", "b1")
      val sat1 = spark.read.parquet(s"${st.repoDir}/$obj")
      assert(sat1.filter(isVictim).count() == 0, "victims survived the purge batch")
      // batch 2: redelivery STILL carrying the victims' source rows — the
      // suppression anti-join must drop them at load time (pre-fix they
      // re-landed: gone from the stored side, they pass the (hk, hd)
      // novelty anti-join)
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-03-01 00:00:00", "b2")
      val sat2 = spark.read.parquet(s"${st.repoDir}/$obj")
      assert(sat2.filter(isVictim).count() == 0, "redelivered victim rows were resurrected")
      assert(sat2.count() == nAll - 3)
      // non-victim rows are untouched by the suppression (no over-reach),
      // and the hub skeleton still carries the victims' pseudonymous keys
      val hub = spark.read.parquet(s"${st.repoDir}/hub_customer")
      assert(hub.filter(isVictim).count() == 3)
      // and a FUTURE erasure request for the same key stays satisfiable:
      // pending is empty (nothing to purge — the key never resurfaced)
      assert(ContinuousPipeline.pendingErasures(spark, st.erasureDir.get).isEmpty)
    } finally {
      Seq(s"$prefix$obj", s"${prefix}hub_customer", s"${prefix}sat_customer")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      DvLoader.deletePath(Paths.get(tmp))
    }
  }

  // r13 ADVICE (medium): processErasures' pending set is MATERIALIZED
  // before any purge runs — a request arriving during the purge window is
  // neither purged nor stamped processed, so the next turn picks it up
  // (pre-fix the lazy plan re-evaluated at processed-append time stamped
  // the late request processed WITHOUT purging it, dropping it forever).
  test("continuous pipeline: an erasure request arriving mid-purge is not lost") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_pipeline_toctou").toString
    val prefix = s"pltoc${System.nanoTime()}_"
    val st = ContinuousPipeline.State(s"$tmp/catalog", s"$tmp/responses", s"$tmp/repo",
      erasureDir = Some(s"$tmp/erasure"))
    Files.createDirectories(Paths.get(st.repoDir))
    val scope = Set("hub_customer", "sat_customer", "sat_customer_sensitive")
    Files.writeString(Paths.get(s"${st.repoDir}/dv_schema.json"),
      DvGo.planJson(DvPlanner.literalPlan, "pipeline_toctou", scope, Some((prefix, 4))))
    val obj = "sat_customer_sensitive"
    val hk = "hub_customer_hk"
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-01-01 00:00:00", "b0")
      val hexes = spark.read.parquet(s"${st.repoDir}/hub_customer")
        .filter(col("record_source") =!= "SYSTEM")
        .select(lower(hex(col(hk))).as("hkx")).orderBy("hkx").limit(2)
        .collect().map(_.getString(0)).toSeq
      def reqDf(hx: String) =
        Seq(hx).toDF("hkx").select(lit(obj).as("obj"), unhex(col("hkx")).as("hk"))
      reqDf(hexes(0)).write.mode("append").parquet(s"${st.erasureDir.get}/requests")
      // the purge turn takes its snapshot…
      val snapshot = ContinuousPipeline.pendingErasures(spark, st.erasureDir.get)
      assert(snapshot.map(_.obj) == Seq(obj))
      // …request B lands DURING the purge window…
      reqDf(hexes(1)).write.mode("append").parquet(s"${st.erasureDir.get}/requests")
      // …and the turn purges+stamps exactly the snapshot
      val res = ContinuousPipeline.purgeAndMark(spark, st, snapshot, "t_purge",
        DvLoader.readSchema(spark, st.repoDir))
      assert(res.map(_._1) == Seq(obj) && res.head._2 - res.head._3 == 1)
      val processed = spark.read.parquet(s"${st.erasureDir.get}/processed")
        .select(lower(hex(col("hk")))).as[String].collect().toSeq
      assert(processed == Seq(hexes(0)), "a mid-purge request was stamped processed unpurged")
      // request B is still pending and the NEXT turn purges it
      val late = ContinuousPipeline.pendingErasures(spark, st.erasureDir.get)
      assert(late.map(e => e.hk.map(b => f"$b%02x").mkString) == Seq(hexes(1)))
      val res2 = ContinuousPipeline.processErasures(spark, st, "t_next")
      assert(res2.map(_._1) == Seq(obj) && res2.head._2 - res2.head._3 == 1)
      assert(ContinuousPipeline.pendingErasures(spark, st.erasureDir.get).isEmpty)
    } finally {
      Seq(s"$prefix$obj", s"${prefix}hub_customer", s"${prefix}sat_customer")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      DvLoader.deletePath(Paths.get(tmp))
    }
  }

  /** RulesClassifier, counting its respond calls (one per full-path turn). */
  private final class CountingClassifier extends Classifier {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val name: String = RulesClassifier.name
    def respond(df: DataFrame): DataFrame = { calls.incrementAndGet(); RulesClassifier.respond(df) }
  }

  /** A fresh loop state over an unbucketed repo holding `scope`. */
  private def loopState(tag: String, scope: Set[String],
                        cl: Classifier): (String, ContinuousPipeline.State) = {
    val tmp = Files.createTempDirectory(tag).toString
    val st = ContinuousPipeline.State(s"$tmp/catalog", s"$tmp/responses", s"$tmp/repo", cl)
    Files.createDirectories(Paths.get(st.repoDir))
    Files.writeString(Paths.get(s"${st.repoDir}/dv_schema.json"),
      DvGo.planJson(DvPlanner.literalPlan, tag, scope))
    (tmp, st)
  }

  private def files(dir: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(dir)))(_.iterator().asScala.toList)
      .filter(Files.isRegularFile(_))

  /** (name, size, mtime) of every file under `dir`. */
  private def listing(dir: String): Set[(String, Long, Long)] =
    files(dir).map(f => (Paths.get(dir).relativize(f).toString, Files.size(f),
      Files.getLastModifiedTime(f).toMillis)).toSet

  private def copyDir(from: String, to: String): Unit =
    files(from).foreach { f =>
      val dst = Paths.get(to).resolve(Paths.get(from).relativize(f))
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst)
    }

  private def catalogRow(st: ContinuousPipeline.State, column: String) =
    spark.read.parquet(st.catalogDir)
      .filter(col("column_name") === column && col("current_flag") === "Y").collect().toSeq

  test("continuous pipeline: a turn with an unchanged schema runs no classifier and rewrites no loop state") {
    val cl = new CountingClassifier
    val (tmp, st) = loopState("graft_pipeline_steady", Set("hub_customer", "sat_customer"), cl)
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      ContinuousPipeline.onBatch(spark, st, "customer", cust.filter(col("c_custkey") % 2 === 0),
        "2024-01-01 00:00:00", "b0")
      assert(cl.calls.get == 1)
      val (cat0, resp0) = (listing(st.catalogDir), listing(st.responsesDir))
      // same schema, new scanTs, the full feed
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-02-01 00:00:00", "b1")
      assert(cl.calls.get == 1, "a steady-state turn called the classifier")
      assert(listing(st.catalogDir) == cat0, "a steady-state turn rewrote the catalog")
      assert(listing(st.responsesDir) == resp0, "a steady-state turn rewrote the responses")
      // the vault still got everything the two turns delivered
      val nAll = cust.select("c_custkey").distinct().count()
      assert(spark.read.parquet(s"${st.repoDir}/hub_customer").count() == nAll + 2)
      assert(spark.read.parquet(s"${st.repoDir}/sat_customer").count() == nAll)
    } finally DvLoader.deletePath(Paths.get(tmp))
  }

  test("continuous pipeline: a replay after a crash between the two rewrites re-classifies the opened column") {
    val cl = new CountingClassifier
    val scope = Set("hub_customer", "sat_customer", "sat_customer_sensitive")
    val (tmp, st) = loopState("graft_pipeline_replay", scope, cl)
    try {
      val (t0, t1) = ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
      val cust = Tables.load(spark, sfDir, "customer")
      ContinuousPipeline.onBatch(spark, st, "customer", cust, t0, "b0")
      copyDir(st.responsesDir, s"$tmp/responses_before")
      val drifted = cust.withColumn("c_acctbal", col("c_acctbal").cast("string"))
      ContinuousPipeline.onBatch(spark, st, "customer", drifted, t1, "drift")
      assert(cl.calls.get == 2)
      // the crash: the catalog rewrite landed, the response rewrite did not
      DvLoader.deletePath(Paths.get(st.responsesDir))
      copyDir(s"$tmp/responses_before", st.responsesDir)
      def acctbal = spark.read.parquet(st.responsesDir)
        .filter(col("column_name") === "c_acctbal").collect().toSeq
      assert(acctbal.map(_.getAs[String]("classified_at")) == Seq(t0))
      // the replay stamps the same scanTs: c_acctbal's slice row was opened
      // at t1, so the turn takes the full path
      ContinuousPipeline.onBatch(spark, st, "customer", drifted, t1, "drift")
      assert(cl.calls.get == 3, "a replay of the opening turn took the fast path")
      assert(acctbal.map(_.getAs[String]("classified_at")) == Seq(t1))
    } finally DvLoader.deletePath(Paths.get(tmp))
  }

  test("continuous pipeline: a column flagged deleted forces the full path, which clears the flag") {
    val cl = new CountingClassifier
    val (tmp, st) = loopState("graft_pipeline_deleted", Set("hub_customer"), cl)
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      val last = cust.columns.last
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-01-01 00:00:00", "b0")
      ContinuousPipeline.onBatch(spark, st, "customer", cust.drop(last), "2024-02-01 00:00:00", "b1")
      assert(cl.calls.get == 2)
      assert(catalogRow(st, last).map(_.getAs[String]("deleted_flag")) == Seq("Y"))
      // the column is back: only the full path's merge clears the flag
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-03-01 00:00:00", "b2")
      assert(cl.calls.get == 3, "a deleted slice row took the fast path")
      assert(catalogRow(st, last).map(_.getAs[String]("deleted_flag")) == Seq("N"))
      // and with the flag cleared, the next same-schema turn is steady
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-04-01 00:00:00", "b3")
      assert(cl.calls.get == 3)
    } finally DvLoader.deletePath(Paths.get(tmp))
  }

  test("continuous pipeline: a catalog without a responses dir takes the full path") {
    val cl = new CountingClassifier
    val (tmp, st) = loopState("graft_pipeline_noresp", Set("hub_customer"), cl)
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-01-01 00:00:00", "b0")
      DvLoader.deletePath(Paths.get(st.responsesDir))
      ContinuousPipeline.onBatch(spark, st, "customer", cust, "2024-02-01 00:00:00", "b1")
      assert(cl.calls.get == 2, "a turn without a responses dir took the fast path")
      assert(Files.exists(Paths.get(st.responsesDir)))
    } finally DvLoader.deletePath(Paths.get(tmp))
  }
}
