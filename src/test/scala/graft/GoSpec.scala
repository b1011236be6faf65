package graft

import graft.dv._
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class GoSpec extends SparkSpec {

  test("update_context flips auto-SKIPped tables to RTD") {
    val ts = Classify.sourceTableStatus(spark, sfDir, Classify.demoContext).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[String]("status_code")).toMap
    assert(ts("documents") == "RTD")
    assert(ts("embeddings") == "RTD")
    assert(ts.values.forall(_ == "RTD")) // whole catalog deployable with context
  }

  test("source select applies include and exclude regexes") {
    val cat = Catalog.select(spark, sfDir, "^(customer|orders|lineitem)$", ".*", ".*", ".*acctbal$")
      .collect()
    val tables = cat.map(_.getAs[String]("table_name")).toSet
    assert(tables == Set("customer", "orders", "lineitem"))
    assert(!cat.exists(_.getAs[String]("column_name").endsWith("acctbal")))
  }

  test("go() materializes the vault and registers the schema") {
    val out = Files.createTempDirectory("graft_go_test").toString
    val res = DvGo.go(spark, sfDir, out)
    // the default plan is DERIVED from classification: the 8 literal
    // objects plus the sat_part / sat_orders / sat_lineitem satellites
    assert(res.objects.size == 11)
    assert(Files.exists(Paths.get(s"$out/dv_schema.json")))
    val hub = spark.read.parquet(s"$out/hub_customer")
    assert(hub.filter(col("record_source") === "SYSTEM").count() == 2)
    val sat = spark.read.parquet(s"$out/sat_customer_sensitive")
    assert(sat.columns.contains("c_name")) // sensitive split carries PII cols
    val schemaJson = Files.readString(Paths.get(s"$out/dv_schema.json"))
    assert(schemaJson.contains("\"build_id\"") && schemaJson.contains("hub"))
    val ddl = Files.readString(Paths.get(s"$out/dv_schema.sql"))
    assert(ddl.contains("CREATE TABLE hub_customer") && ddl.contains("CREATE TABLE sat_customer_sensitive")
      && ddl.contains("CREATE TABLE link_lineitem"))
  }

  test("two sequential go() calls produce two queryable build rows") {
    val tmp = Files.createTempDirectory("graft_go_hist_spec").toString
    val hist = s"$tmp/dv_builds"
    val scope = Set("hub_customer")
    val (res1, seq1) = DvGo.goWithHistory(spark, sfDir, s"$tmp/b1", hist, "2024-01-01 00:00:00", scope)
    val (res2, seq2) = DvGo.goWithHistory(spark, sfDir, s"$tmp/b2", hist, "2024-01-02 00:00:00", scope)
    assert(seq1 == 1 && seq2 == 2)
    assert(res1.buildId != res2.buildId) // distinct builds in the repo
    val h = spark.read.parquet(hist)
    assert(h.select("build_seq").distinct().count() == 2)
    assert(h.select("build_id").distinct().count() == 2)
    // "what did build 2 deploy" is answerable
    val b2 = h.filter(col("build_seq") === 2).select("object").collect().map(_.getString(0))
    assert(b2.sameElements(Array("hub_customer")))
    // build-status semantics (the reference's build_flag/build_status):
    // acceptance confidence is data-derived (min source-column confidence)
    // and judged against the threshold in force
    val rows = h.collect()
    assert(rows.forall(_.getAs[Double]("threshold") == 0.80))
    assert(rows.forall(_.getAs[String]("build_status") == "Deployed"))
    assert(rows.forall(r => r.getAs[Double]("min_confidence") >= 0.80))
    // a stricter threshold flips the status to Held for the same build
    val (_, seq3) = DvGo.goWithHistory(spark, sfDir, s"$tmp/b3", hist,
      "2024-01-03 00:00:00", scope, threshold = Some(0.90))
    val held = spark.read.parquet(hist).filter(col("build_seq") === seq3).collect()
    assert(held.nonEmpty && held.forall(_.getAs[String]("build_status") == "Held"))
  }

  test("goWithHistory fails on a history it cannot read and appends nothing to it") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_go_hist_bad").toString
    val hist = s"$tmp/dv_builds"
    // a history written without build_seq: it exists, so it is not "no builds yet"
    Seq(("b0", "hub_customer")).toDF("build_id", "object").write.parquet(hist)
    val e = intercept[Exception] {
      DvGo.goWithHistory(spark, sfDir, s"$tmp/b1", hist, "2024-01-01 00:00:00", Set("hub_customer"))
    }
    assert(e.getMessage.contains("build_seq"))
    assert(spark.read.parquet(hist).count() == 1)
    assert(!Files.exists(Paths.get(s"$tmp/b1")), "the build ran before the history was read")
    DvLoader.deletePath(Paths.get(tmp))
  }

  test("dv_schema.json round-trips to the typed specs") {
    withTempVault("graft_schema_rt") { out =>
      Files.writeString(Paths.get(s"$out/dv_schema.json"),
        DvGo.planJson(DvPlanner.literalPlan, "rt", bucketing = (DvLoader.tablePrefix(out), 4)))
      val ref = DvLoader.readSchema(spark, out)
      assert(ref.hubs.toSet == DvPlanner.hubs.toSet)
      assert(ref.sats.map(t => (t.name, t.sourceTable, t.bkParts, t.descriptors)).toSet ==
        Set(DvPlanner.satCustomer, DvPlanner.satCustomerSensitive)
          .map(t => (t.name, t.sourceTable, t.bkParts, t.descriptors)))
      assert(ref.links.toSet == Set(DvPlanner.linkOrders, DvPlanner.linkLineitem))
    }
  }

  test("schema-driven incremental load appends the missing keys, then is idempotent") {
    val counts = DvLoader.loadFromRepo(spark, sfDir).collect()
      .map(r => r.getAs[String]("object") -> r.getAs[Long]("n_new")).toMap
    assert(counts("hub_customer") > 0 && counts("sat_customer") > 0)
    // a second pass over an up-to-date repo appends nothing: seed a full
    // repo of the literal objects, then load from the same source
    withTempVault("graft_repo_idem") { repo =>
      val scope = Set("hub_customer", "sat_customer", "link_orders")
      DvGo.go(spark, sfDir, repo, include = scope, buckets = 4, plan = Some(DvPlanner.literalPlan))
      val again = DvLoader.incrementalLoad(spark, sfDir, repo, scope = scope).toMap
      assert(again.keySet == Set("hub_customer", "sat_customer", "link_orders"))
      assert(again.values.forall(_ == 0L), s"second load not idempotent: $again")
    }
  }

  test("bucketed go(): repo-driven increment runs shuffle-free on the stored side") {
    val out = Files.createTempDirectory("graft_go_bucketed").toString
    val scope = Set("hub_customer", "sat_customer")
    val res = DvGo.go(spark, sfDir, out, include = scope, bucketed = true, buckets = 8)
    assert(res.objects.size == 2)
    val schema = DvLoader.readSchema(spark, out)
    assert(schema.bucketing.nonEmpty && schema.bucketing.get.buckets == 8)
    val prefix = schema.bucketing.get.tablePrefix
    try {
      // r6: the initial bucketed build pre-repartitions by the bucket
      // keys, so each object starts at ONE file per bucket (no
      // tasks-x-buckets fragmentation; compaction is for post-append
      // debris only)
      Seq("hub_customer", "sat_customer").foreach { obj =>
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$out/$obj"))
          .filter(p => p.getFileName.toString.startsWith("part-")).count()
        assert(files <= 8, s"$obj: initial build wrote $files files for 8 buckets")
      }
      // end-to-end plan audit: the loader's own anti-join against the
      // stored side must have no Exchange there (only the batch side may
      // shuffle into the bucketing) — the reference's indexed insert-only
      // load shape (dv_loader.rs:166-199)
      val stored = spark.table(s"${prefix}hub_customer")
      val batch = DvBuild.hub(spark, sfDir, DvPlanner.hubCustomer)
      val inc = DvBuild.hubIncrement(stored.select("hub_customer_hk"), batch, "hub_customer_hk")
      val physical = inc.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(physical).size
      assert(exchanges <= 1, s"stored side shuffled:\n$physical")
      // the sat side buckets on BOTH anti-join keys
      val satInc = DvBuild.satIncrement(
        spark.table(s"${prefix}sat_customer").select("hub_customer_hk", "sat_customer_hd"),
        DvBuild.sat(spark, sfDir, DvPlanner.satCustomer), "hub_customer_hk", "sat_customer_hd")
      val satExchanges = "Exchange hashpartitioning".r
        .findAllIn(satInc.queryExecution.executedPlan.toString).size
      assert(satExchanges <= 1, "sat stored side shuffled")
      // a full loader round trip over the same source appends nothing and
      // keeps the bucketed layout (append goes through the catalog table)
      val counts = DvLoader.incrementalLoad(spark, sfDir, out, scope = scope).toMap
      assert(counts.values.forall(_ == 0L), s"bucketed load not idempotent: $counts")
      // fresh-session path: drop the catalog entries (the files stay — the
      // tables are external) and load again; the loader must re-register
      // the bucketed tables from the repo marker and stay idempotent
      spark.sql(s"DROP TABLE ${prefix}hub_customer")
      spark.sql(s"DROP TABLE ${prefix}sat_customer")
      val again = DvLoader.incrementalLoad(spark, sfDir, out, scope = scope).toMap
      assert(again.values.forall(_ == 0L), s"re-registered load not idempotent: $again")
      val reReg = spark.table(s"${prefix}hub_customer")
      val incReReg = DvBuild.hubIncrement(reReg.select("hub_customer_hk"), batch, "hub_customer_hk")
      val reExchanges = "Exchange hashpartitioning".r
        .findAllIn(incReReg.queryExecution.executedPlan.toString).size
      assert(reExchanges <= 1, "re-registered stored side shuffled")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}hub_customer")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}sat_customer")
      DvLoader.deletePath(Paths.get(out))
    }
  }

  test("streaming load into a bucketed repo preserves the bucket layout") {
    val out = Files.createTempDirectory("graft_stream_bucketed").toString
    val scope = Set("hub_customer")
    DvGo.go(spark, sfDir, out, include = scope, bucketed = true, buckets = 8)
    val prefix = DvLoader.readSchema(spark, out).bucketing.get.tablePrefix
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      val base = spark.table(s"${prefix}hub_customer").count()
      // novel rows arrive on the stream: appended THROUGH the catalog so
      // the bucketed layout survives (a plain parquet append would leave
      // files the bucketed reader rejects)
      val novel = cust.withColumn("c_custkey", col("c_custkey") + 1000000L)
      DvLoader.streamTableLoadBatch(spark, novel, "customer", out, "batch_1")
      val grown = spark.table(s"${prefix}hub_customer").count()
      assert(grown == base + cust.select("c_custkey").distinct().count())
      // redelivery of the same batch must anti-join against the GROWN
      // bucketed table (mixed original + streamed files) and append nothing
      DvLoader.streamTableLoadBatch(spark, novel, "customer", out, "batch_1_redelivered")
      assert(spark.table(s"${prefix}hub_customer").count() == grown)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}hub_customer")
      DvLoader.deletePath(Paths.get(out))
    }
  }

  test("compaction rewrites a fragmented bucketed object to one file per bucket") {
    val out = Files.createTempDirectory("graft_compact").toString
    val scope = Set("hub_customer")
    DvGo.go(spark, sfDir, out, include = scope, bucketed = true, buckets = 4)
    val prefix = DvLoader.readSchema(spark, out).bucketing.get.tablePrefix
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      // two micro-batches of novel rows fragment every bucket
      DvLoader.streamTableLoadBatch(spark,
        cust.withColumn("c_custkey", col("c_custkey") + 1000000L), "customer", out, "b1")
      DvLoader.streamTableLoadBatch(spark,
        cust.withColumn("c_custkey", col("c_custkey") + 2000000L), "customer", out, "b2")
      val rowsBefore = spark.table(s"${prefix}hub_customer").count()
      val (before, after) = DvMaintenance.compactBucketed(spark, out, "hub_customer")
      assert(before > 4, s"expected a fragmented object, files=$before")
      assert(after == 4, s"expected one file per bucket, files=$after")
      // nothing lost, layout intact: same rows, stored side still
      // shuffle-free, reload still idempotent
      assert(spark.table(s"${prefix}hub_customer").count() == rowsBefore)
      val batch = DvBuild.hub(spark, sfDir, DvPlanner.hubCustomer)
      val inc = DvBuild.hubIncrement(
        spark.table(s"${prefix}hub_customer").select("hub_customer_hk"),
        batch, "hub_customer_hk")
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(inc.queryExecution.executedPlan.toString).size
      assert(exchanges <= 1, "compacted stored side shuffled")
      assert(inc.count() == 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}hub_customer")
      DvLoader.deletePath(Paths.get(out))
    }
  }

  test("streaming continuous load converges to the batch build (bgw loop)") {
    withTempVault("graft_stream_repo") { tmp =>
      val repo = emptyVault(s"$tmp/repo", "stream")
      val st = ContinuousPipeline.State(s"$tmp/catalog", s"$tmp/responses", repo)
      // customer rows arrive as two file chunks on a streaming source
      val cust = Tables.load(spark, sfDir, "customer")
      val src = s"$tmp/incoming"
      cust.filter(col("c_custkey") % 2 === 0).write.mode("append").parquet(src)
      val stream = spark.readStream.schema(cust.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = ContinuousPipeline.sink(stream, "customer", st, s"$tmp/ckpt").start()
      q.processAllAvailable()
      cust.filter(col("c_custkey") % 2 === 1).write.mode("append").parquet(src)
      q.processAllAvailable()
      q.stop()
      // the streamed vault equals the one-shot batch build, rows and all
      val streamedHub = spark.read.parquet(s"$repo/hub_customer")
      val batchHub = DvBuild.hub(spark, sfDir, DvPlanner.hubCustomer)
      assert(streamedHub.count() == batchHub.count())
      val diff = streamedHub.select("hub_customer_hk", "c_custkey_bk")
        .exceptAll(batchHub.select("hub_customer_hk", "c_custkey_bk")).count()
      assert(diff == 0)
      val streamedSat = spark.read.parquet(s"$repo/sat_customer")
      val batchSat = DvBuild.sat(spark, sfDir, DvPlanner.satCustomer)
      assert(streamedSat.count() == batchSat.count())
    }
  }

  test("a default go() vault can be compacted and purged") {
    import graft.functions.GraftFunctions.{canon, dvHash}
    val out = Files.createTempDirectory("graft_go_default_maint").toString
    val spec = DvPlanner.satCustomerSensitive
    val obj = s"sat_${spec.name}"
    DvGo.go(spark, sfDir, out, include = Set("hub_customer", obj))
    val prefix = DvLoader.readSchema(spark, out).repo.layout.tablePrefix
    try {
      val cust = Tables.load(spark, sfDir, "customer")
      // one appended micro-batch leaves a second file set in the buckets
      DvLoader.streamTableLoadBatch(spark,
        cust.withColumn("c_custkey", col("c_custkey") + 1000000L), "customer", out, "b1")
      val rows = spark.table(s"$prefix$obj").count()
      val (before, after) = DvMaintenance.compactBucketed(spark, out, obj)
      assert(after < before, s"compaction left $after of $before files")
      assert(spark.table(s"$prefix$obj").count() == rows)
      val victims = cust.filter(col("c_custkey") % 7 === 3)
        .select(dvHash(spec.bkParts.map(p => canon(col(p.name), p.typeName))).as(spec.hkName))
      val hit = spark.table(s"$prefix$obj").join(victims, spec.hkName).count()
      val (n0, n1) = DvMaintenance.purgeSensitive(spark, out, obj, victims, spec.hkName)
      assert(hit > 0 && n0 == rows && n1 == rows - hit)
      assert(spark.table(s"$prefix$obj").join(victims, spec.hkName).count() == 0)
    } finally {
      Seq("hub_customer", obj).foreach(o => spark.sql(s"DROP TABLE IF EXISTS $prefix$o"))
      DvLoader.deletePath(Paths.get(out))
    }
  }

  test("goSummary leaves the session's table list as it found it") {
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    assert(DvGo.goSummary(spark, sfDir).count() == 11)
    assert(tables() == before)
  }
}
