package graft

import graft.streaming.Streams
import graft.dv.DvLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** r10 verdict #8: the batch ScaleSpec sweep never sees the frames the
  * streaming ops execute — they run through foreachBatch bodies and
  * IncrementalExecution, invisible to a registry walk. This sweep replays
  * a representative micro-batch plan for EVERY §2.D streaming op and
  * applies the same discipline: no CartesianProduct anywhere,
  * BroadcastNestedLoopJoin only on an explicit exemption list (empty
  * today), and the registry itself is stale-checked against SURVEY §2.D —
  * a future streaming op cannot land unswept without failing here.
  *
  * Replay mechanics: the foreachBatch loaders expose their exact
  * micro-batch frames via *Plan twins (nearDupSinkPlan,
  * DvLoader.streamTableLoadPlans etc. — the write wrapper appends the
  * same frame), seeded against a real stored side so
  * the anti-join IS in the swept plan; the stateful/stream-static
  * transforms are applied to batch frames of the same schema (the
  * analyzer strips the watermark and plans the identical join topology a
  * micro-batch gets); dropDuplicatesWithinWatermark exists only in
  * streaming execution, so stream_dedup_exact's plan is captured from a
  * real one-batch MemoryStream run's IncrementalExecution.
  */
class StreamPlanSweepSpec extends SparkSpec {

  private lazy val ev = Tables.loadEvents(spark, sfDir)
  private lazy val cust = Tables.load(spark, sfDir, "customer")
  private lazy val ords = Tables.load(spark, sfDir, "orders")
  private lazy val docs = Tables.load(spark, sfDir, "documents")

  /** Seeded sink paths: one real load first, so the stored side exists
    * and the second plan carries the anti-join (a missing path would
    * sweep only the projection).
    */
  private var swept: Option[String] = None
  override def afterAll(): Unit = swept.foreach(disposeVault)

  private lazy val tmp: String = {
    val dir = Files.createTempDirectory("graft_plan_sweep").toString
    swept = Some(dir)
    locally {
      import spark.implicits._
      Streams.nearDupBatch(spark, Seq((1L, 2L, 1.0)).toDF("in_doc", "corpus_doc", "jaccard"),
        s"$dir/pairs")
    }
    locally {
      import spark.implicits._
      Streams.packSinkBatch(spark,
        Seq(("all", 0L, 1L, 2048L, "seed")).toDF("source", "seq_id", "n_docs", "n_tokens", "seq_sha"),
        s"$dir/packed")
    }
    locally {
      val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
      val cents = graft.queries.Similarity.ivfStoredCentroids(spark, sfDir)
      // seed one real index append so the swept repo plan carries the
      // catalog-read anti-join
      graft.dv.IvfIndexRepo.init(spark, s"$dir/ivfrepo", cents, 4)
      graft.dv.IvfIndexRepo.appendBatch(spark, s"$dir/ivfrepo", emb.limit(20), "t0")
    }
    locally {
      import spark.implicits._
      Streams.semanticProdBatch(spark,
        Seq((1L, 2L, 1.0)).toDF("in_vec", "corpus_vec", "cosine"), s"$dir/prodpairs")
    }
    emptyVault(s"$dir/repo", "sweep", Set("hub_customer", "sat_customer", "sat_customer_sensitive"))
    DvLoader.streamTableLoadBatch(spark, cust.limit(200), "customer", s"$dir/repo", "t0")
    dir
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** stream_dedup_exact's operator is streaming-only — capture the plan
    * the micro-batch ACTUALLY executed from a one-batch MemoryStream run.
    */
  private def dedupExactReplayedPlan(): String = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Streams.EvT]
    val q = Streams.dedupStream(mem.toDF()).writeStream
      .format("memory").queryName("plan_sweep_dedup").outputMode("append").start()
    try {
      mem.addData(
        Streams.EvT(1L, 1000L, 1L, "click", 1.0, new java.sql.Timestamp(1000L)),
        Streams.EvT(1L, 1000L, 1L, "click", 1.0, new java.sql.Timestamp(1000L)))
      q.processAllAvailable()
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
    } finally q.stop()
  }

  /** One representative micro-batch plan set per §2.D op. */
  private lazy val opPlans: Map[String, () => Seq[String]] = {
    import spark.implicits._
    val dayCounts = () => ev
      .groupBy(col("event_type"),
        expr("cast(cast(timestamp_millis(tms) as date) as string)").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .as[Streams.DayCount]
    val orderEvs = () => ords.select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long").as("total_cents"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"))
    val effIns = () => Tables.load(spark, sfDir, "lineitem").select(
      col("l_partkey").as("part"), col("l_suppkey").as("supp"),
      col("l_shipdate").cast("date").cast("string").as("ship_day"))
    Map(
      "stream_events_tumbling" -> (() => Seq(plan(Streams.tumblingCounts(ev)))),
      "stream_sessionize_state" -> (() => Seq(plan(Streams.sessionize(ev).toDF()))),
      "stream_stream_join" -> (() => Seq(plan(Streams.purchaseEnrich(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))))),
      "stream_dedup_exact" -> (() => Seq(dedupExactReplayedPlan())),
      "stream_dv_schema_load" -> (() => DvLoader.streamTableLoadPlans(
        spark, cust, "customer", s"$tmp/repo", "t1").map(p => plan(p._2))),
      "stream_anomaly" -> (() => Seq(plan(Streams.anomalyStream(dayCounts()).toDF()))),
      "stream_transitions" -> (() => Seq(plan(Streams.transitionsStream(ev).toDF()))),
      // the near-dup op = the gate join chain PLUS its exactly-once sink plan
      "stream_near_dup" -> { () =>
        val gate = Streams.nearDupStream(docs.select("doc_id", "text"),
          graft.queries.Dedup.bandIndex(spark, sfDir),
          graft.queries.Dedup.shingleSets(spark, sfDir))
        val sink = Streams.nearDupSinkPlan(spark,
          gate.select(col("in_doc"), col("corpus_doc"), col("jaccard")), s"$tmp/pairs")
        Seq(plan(gate), plan(sink))
      },
      "stream_curate_gate" -> (() => Seq(plan(Streams.curateGateStream(
        docs, graft.queries.Text.normHashes(spark, sfDir))))),
      "stream_attribution" -> (() => Seq(plan(Streams.attributionStream(ev).toDF()))),
      "stream_eff_sat" -> (() => Seq(plan(Streams.effSatStream(effIns()).toDF()))),
      "stream_quality_gate" -> (() => Seq(plan(Streams.qualityGateStream(ords, cust)))),
      "stream_semantic_dedup" -> (() => Seq(plan(Streams.semanticDedupStream(
        Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding"),
        graft.queries.Similarity.embedBlocksTable(spark, sfDir),
        graft.queries.Similarity.dedupBlockCount(spark, sfDir))))),
      // the PROD semantic gate = scan-local sig explode → (band,sig)
      // equi-join → candidate-only verify join, PLUS its exactly-once
      // pair sink (seeded so the anti-join is in the swept plan)
      "stream_semantic_dedup_prod" -> { () =>
        val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
        val planes = graft.queries.Similarity.prodPlanes(spark, sfDir)
        val bands = graft.queries.Similarity.prodBandIndex(spark, sfDir)
        val gate = Streams.semanticDedupProdStream(emb, bands, emb, planes)
        Seq(plan(gate), plan(Streams.semanticProdSinkPlan(spark, gate, s"$tmp/prodpairs")))
      },
      "stream_computed_sat" -> (() =>
        Seq(plan(Streams.computedSatStream(orderEvs()).toDF()))),
      // the IVF maintenance op = ivfIncrRepoSink's seeded exactly-once
      // index append plan (catalog-read anti-join IN the plan) PLUS the
      // per-batch drift report against a precomputed stored-side aggregate
      "stream_ivf_incr" -> { () =>
        val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
        val cents = graft.queries.Similarity.ivfStoredCentroids(spark, sfDir)
        import graft.queries.Similarity
        val assigned = Similarity.assignCells(Similarity.withQuantized(emb), cents)
          .select(col("vec_id"), col("cell"), lit("t1").as("load_ts"))
        Seq(plan(Streams.ivfDriftPlan(emb, cents, Streams.ivfStoredAgg(emb, cents))),
          plan(graft.dv.IvfIndexRepo.appendPlan(spark, s"$tmp/ivfrepo", assigned)))
      },
      // the budget gate plan: scan-local inputs into one source-keyed state
      // op — the topology is input-schema-driven, so literal stand-in
      // columns sweep the same plan the production quality columns get
      "stream_token_budget_gate" -> (() => Seq(plan(Streams.tokenBudgetGateStream(
        docs.select(col("source"), col("doc_id"),
          length(col("text")).cast("long").as("n_tokens"),
          lit(500000L).as("q_int")), Map("src0" -> 1000000L), 300L).toDF()))),
      // the pack writer = the source-keyed state op (hash key computed
      // scan-locally in the input plan) PLUS its exactly-once sink plan
      "stream_pack_write" -> { () =>
        val in = docs.select(col("source"), col("doc_id"),
          graft.functions.GraftFunctions.md5Long64(col("doc_id").cast("string")).as("h"),
          expr(graft.queries.Docs.toksSpark).as("toks"))
        Seq(plan(Streams.packWriteStream(in).toDF()),
          plan(Streams.packSinkPlan(spark, Seq(("all", 0L, 1L, 2048L, "x"))
            .toDF("source", "seq_id", "n_docs", "n_tokens", "seq_sha"), s"$tmp/packed")))
      }
    )
  }

  // BNLJ exemptions — same contract as ScaleSpec's list, with the same
  // stale-check. Empty today: every streaming join is an equi-join
  // (band/sig, hash-key anti-joins, FK probes) or broadcast-equi.
  private val bnljExempt = Map.empty[String, String]

  test("EVERY §2.D streaming op's replayed micro-batch plan is cartesian/BNLJ-free") {
    val plans = opPlans.toSeq.sortBy(_._1).map { case (n, b) => n -> b() }
    val failures = plans.flatMap { case (name, ps) =>
      ps.zipWithIndex.flatMap { case (p, i) =>
        val cart = if (p.contains("CartesianProduct"))
          Seq(s"$name[$i]: CartesianProduct") else Nil
        val bnlj = if (p.contains("BroadcastNestedLoopJoin") && !bnljExempt.contains(name))
          Seq(s"$name[$i]: BroadcastNestedLoopJoin") else Nil
        cart ++ bnlj
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // exemption stale-check (ScaleSpec discipline): every listed op must
    // actually exhibit the BNLJ it is excused for
    val byName = plans.toMap
    val stale = bnljExempt.keySet.filterNot(n =>
      byName.get(n).exists(_.exists(_.contains("BroadcastNestedLoopJoin"))))
    assert(stale.isEmpty, s"stale BNLJ exemptions: ${stale.mkString(", ")}")
    // the sweep is not vacuous: the joining ops' join topology is present
    val joining = plans.count(_._2.exists(p => "Join".r.findAllIn(p).nonEmpty))
    assert(joining >= 8, s"only $joining swept ops contain joins — seeding broke?")
    // and the anti-join sinks really swept their stored side (seeded paths)
    Seq("stream_dv_schema_load", "stream_ivf_incr",
        "stream_near_dup", "stream_semantic_dedup_prod", "stream_pack_write").foreach { n =>
      assert(byName(n).exists(_.contains("LeftAnti")),
        s"$n plan lost its stored-side anti-join — the sweep is auditing a first-batch projection")
    }
  }

  test("pair/window sinks' exactly-once anti-join is Exchange-free on the bucketed stored side") {
    import spark.implicits._
    // r14 (VERDICT r13 #2): the three sinks' stored sides moved from plain
    // parquet to SinkRepo's bucketed catalog objects. Force the shuffle
    // join path (no auto-broadcast) and pin that ONLY the batch side
    // exchanges — the stored side's bucket spec satisfies the anti-join's
    // required distribution, so at corpus-pair scale nothing reshuffles
    // the store per micro-batch (the GoSpec loader pin, sink edition).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(
        ("near_dup", Streams.nearDupSinkPlan(spark,
          Seq((3L, 4L, 0.9)).toDF("in_doc", "corpus_doc", "jaccard"), s"$tmp/pairs")),
        ("semantic_prod", Streams.semanticProdSinkPlan(spark,
          Seq((3L, 4L, 0.9)).toDF("in_vec", "corpus_vec", "cosine"), s"$tmp/prodpairs")),
        ("pack", Streams.packSinkPlan(spark,
          Seq(("all", 9L, 1L, 2048L, "y")).toDF("source", "seq_id", "n_docs", "n_tokens", "seq_sha"),
          s"$tmp/packed"))
      ).foreach { case (name, df) =>
        val p = plan(df)
        assert(p.contains("LeftAnti"), s"$name sink plan lost its anti-join:\n$p")
        // the stored side must read through the bucketed catalog table …
        assert(p.contains("Bucketed: true") && p.contains("SelectedBucketsCount"),
          s"$name sink stored side is not a bucketed scan:\n$p")
        // … and both remaining exchanges are BATCH-side (the dropDuplicates
        // agg + its alignment to the bucket count). The plain-parquet
        // predecessor planned a THIRD exchange — on the stored side — which
        // at corpus-pair scale reshuffled the whole store per micro-batch.
        val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
        assert(exchanges <= 2, s"$name sink stored side shuffled ($exchanges exchanges):\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sweep registry covers exactly the SURVEY §2.D streaming surface") {
    val surveyed = scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines()
      .flatMap(l => "^\\|\\s*\\d+[a-z]?\\s*\\|\\s*`(stream_\\w+)`".r
        .findFirstMatchIn(l).map(_.group(1)))
      .toSet
    assert(surveyed.nonEmpty, "SURVEY §2.D parse found no streaming rows")
    assert(opPlans.keySet == surveyed,
      s"sweep/SURVEY drift — missing: ${(surveyed -- opPlans.keySet).toSeq.sorted.mkString(", ")}; " +
        s"extra: ${(opPlans.keySet -- surveyed).toSeq.sorted.mkString(", ")}")
  }
}
