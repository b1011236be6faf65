package graft.dv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's `go()` — one-click data-warehouse build (lib.rs:16-37):
  * take every RTD source object, build the DV tables, register the schema
  * in a repo, load the data. Here: materialize every hub/sat/link to
  * parquet under `outDir`, write the plan as dv_schema.json (the dv_repo
  * analogue, model/dv_schema.rs), and return a build summary.
  *
  * At warehouse scale the writers bucket by hash key (`bucketBy` on _hk)
  * so downstream incremental loads anti-join shuffle-free on the big side.
  */
object DvGo {
  import DvPlanner._

  final case class BuildResult(buildId: String, outDir: String, objects: Seq[(String, Long)])

  /** Source-parquet bytes past which the bucketed build goes fully
    * object-sequential (~= sf2 of the gate tables on this testdata).
    */
  private val SeqThresholdBytes = 256L << 20

  private def dirBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** The derived plan go() builds by default: classification over the demo
    * scope with the dependent-child user context (the reference's
    * RTD-responses → dv_builder pipeline). Memoized per (session, dir),
    * keyed on the session OBJECT (an identity-hash key could collide with
    * a GC'd session's hash) and evicted when the context ends, the same
    * lifecycle every other per-session memo shares.
    */
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DvPlan]

  def derivedPlan(s: SparkSession, dir: String): DvPlan = {
    graft.queries.SessionCache.onSessionEnd(s, "dv_derived_plan") {
      planCache.keys.filter(_._1 eq s).foreach(planCache.remove)
    }
    planCache.getOrElseUpdate((s, dir),
      DvPlanner.planFromClassification(s, dir, GoScope, goContext))
  }

  /** Bucket keys per vault object: hubs and links anti-join on their hash
    * key; satellites anti-join on (hash key, hash diff), so they bucket on
    * both — a sat bucketed on hk alone would still shuffle for the
    * (hk, hd) join.
    */
  private[dv] def bucketKeys(plan: DvPlan, obj: String): Seq[String] = {
    val hub = plan.hubs.find(h => s"hub_${h.spec.name}" == obj).map(h => Seq(h.spec.hkName))
    val sat = plan.sats.find(t => s"sat_${t.name}" == obj).map(t => Seq(t.hkName, t.hdName))
    val link = plan.links.find(l => s"link_${l.name}" == obj).map(l => Seq(l.hkName))
    hub.orElse(sat).orElse(link)
      .getOrElse(sys.error(s"no bucket keys for unknown vault object $obj"))
  }

  /** Catalog table prefix for a bucketed build: derived from the output dir
    * so two builds into different dirs never collide in the session
    * catalog, and a re-build into the same dir overwrites its own tables.
    */
  private[dv] def tablePrefix(outDir: String): String = {
    // normalize before hashing: "/x/v", "/x/v/" and a relative spelling of
    // the same directory must yield ONE prefix, or a re-build would
    // register a second table set over the first build's files
    val canonical = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize.toString
    "graft_dv_" + java.util.UUID.nameUUIDFromBytes(canonical.getBytes).toString
      .replace("-", "").take(12) + "_"
  }

  /** One column-pruned persist per source table, shared by every object
    * built from that table (the r9 share-the-scan fix, factored out so
    * goDerivedParity's 22 frames share it too). Deliberately NOT
    * repartitioned before the persist: an interleaved A/B at sf0.1 showed
    * balancing the cached projection — a win when objects write
    * SEQUENTIALLY (sat_lineitem 3.36→2.05 s) — consistently LOSES under
    * go()'s real concurrent writes (dv_go_build 4.6/5.7 s raw vs
    * 6.3/7.2 s balanced; bucketed likewise), because the in-flight objects
    * already saturate the cores and the extra exchanges are pure added
    * work. Callers unpersist the values when done.
    */
  private def sharedSources(s: SparkSession, dir: String, wantHub: Seq[DerivedHub],
                            wantSat: Seq[SatSpec], wantLink: Seq[LinkSpec]): Map[String, DataFrame] = {
    val neededCols: Map[String, Seq[String]] =
      (wantHub.flatMap(h => h.sources.map(src => src.table -> src.parts.map(_.name))) ++
        wantSat.map(t => t.sourceTable -> (t.bkParts ++ t.descriptors).map(_.name)) ++
        wantLink.map(l => l.sourceTable -> (l.members.flatMap(_.parts) ++ l.degenerate).map(_.name)))
        .groupBy(_._1).map { case (t, cs) => t -> cs.flatMap(_._2).distinct.toSeq }
    neededCols.map { case (t, cs) =>
      t -> Tables.load(s, dir, t).select(cs.map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** One-click build. With `bucketed = true` every vault object is written
    * bucketed+sorted by its anti-join keys (Scale.writeBucketed's layout,
    * registered as external tables over `outDir`) — the layout that makes
    * every subsequent incremental load shuffle-free on the stored side,
    * the Spark analogue of the reference's insert-into-indexed-table loads
    * (controller/dv_loader.rs:166-199).
    */
  def go(s: SparkSession, dir: String, outDir: String, loadTs: String = DvDefaults.LoadTs,
         include: String => Boolean = _ => true,
         bucketed: Boolean = false, buckets: Int = 64,
         plan: Option[DvPlan] = None): BuildResult = {
    val buildId = java.util.UUID.nameUUIDFromBytes(s"graft:$dir:$loadTs".getBytes).toString
    val p = plan.getOrElse(derivedPlan(s, dir))
    // SHARE the classified-source scan across the object materializations
    // (r9 verdict #5: at sf10 the build re-read/re-shuffled every source
    // table once per object family — lineitem three times, orders three
    // times — and the build's 100x ratio drifted to 36.7x). One
    // column-PRUNED persist per source table (only the union of the bk /
    // descriptor / member columns the plan's objects actually reference,
    // so the cache holds a projection, not the table) feeds every hub,
    // sat and link built from that table; unpersisted before returning.
    val wantHub = p.hubs.filter(h => include(s"hub_${h.spec.name}"))
    val wantSat = p.sats.filter(t => include(s"sat_${t.name}"))
    val wantLink = p.links.filter(l => include(s"link_${l.name}"))
    val shared: Map[String, DataFrame] = sharedSources(s, dir, wantHub, wantSat, wantLink)
    // ordered = false (r14): these frames go straight to parquet/bucketed
    // writes — the builders' trailing global sort would otherwise execute
    // as a range-exchange + sort per object before every write (guide
    // §2.4); row order in the stored vault is meaningless (bucketed reads
    // carry their own sortBy, and every query face re-orders its output)
    val builds: Seq[(String, DataFrame)] =
      wantHub.map(h => s"hub_${h.spec.name}" -> DvBuild.hubMultiFrom(s, h.spec,
        h.sources.map(src => (src.table, shared(src.table), src.parts)), loadTs,
        ordered = false)) ++
        wantSat.map(t => s"sat_${t.name}" ->
          DvBuild.satFrom(shared(t.sourceTable), t, loadTs, ordered = false)) ++
        wantLink.map(l => s"link_${l.name}" ->
          DvBuild.linkFrom(shared(l.sourceTable), l, loadTs, ordered = false))
    // The eight objects are independent — submit their jobs concurrently
    // (Spark's scheduler interleaves them; order of the summary is
    // preserved). Row counts ride on the write pass itself via observe()
    // metrics instead of a second read of every written object.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val prefix = tablePrefix(outDir)
    def writeOne(name: String, df: DataFrame): (String, Long) = {
      val obs = org.apache.spark.sql.Observation(s"go_${name}_${System.nanoTime()}")
      val observed = df.observe(obs, count(lit(1)).as("n"))
      if (bucketed) {
        val keys = bucketKeys(p, name)
        // repartition by the bucket keys first: repartition's hash IS
        // the bucket-id hash (both HashPartitioning over the same
        // columns), so each task owns exactly one bucket and the writer
        // emits ONE file per bucket. Without it every input task fans
        // out into `buckets` files (tasks x buckets small files per
        // object — measured 2x build wall-time at sf0.1) and the first
        // compaction pays the same shuffle anyway.
        observed.repartition(buckets, keys.map(col): _*)
          .write.mode("overwrite").format("parquet")
          .bucketBy(buckets, keys.head, keys.tail: _*)
          .sortBy(keys.head, keys.tail: _*)
          .option("path", s"$outDir/$name")
          .saveAsTable(s"$prefix$name")
      } else {
        observed.write.mode("overwrite").parquet(s"$outDir/$name")
      }
      name -> obs.get("n").asInstanceOf[Long]
    }
    val counts = try {
      if (bucketed) {
        // ADAPTIVELY STAGED bucketed writes (r9 verdict #4): the bucketed
        // path pays a distinct shuffle AND a bucket repartition shuffle
        // per object, and with all 11 objects in flight their shuffle
        // files coexist — measured > 69 GB transient /tmp at sf10 on one
        // node, the reason the r9 sf10 ratio run failed. Past
        // SeqThresholdBytes of source parquet the writes go fully
        // OBJECT-sequential with a ContextCleaner nudge per object, so
        // peak transient disk is bounded by the largest single object
        // (measured: sf3 peak 30.4 -> 14.4 GB with zstd; sf10 completes
        // at 52 GB peak). Below the threshold the original fully-
        // concurrent shape stands — a cluster deployment sizes the
        // threshold by executor-local disk instead.
        val srcBytes = shared.keys.map(t => dirBytes(s, Tables.path(dir, t))).sum
        if (srcBytes <= SeqThresholdBytes) {
          // small sources: transient disk is nowhere near the node budget —
          // keep the fully-concurrent shape (staging + GC nudges measured
          // +8 s on the sf0.1 bucketed E2E for zero benefit there)
          Await.result(
            Future.sequence(builds.map { case (name, df) => Future(writeOne(name, df)) }),
            Duration.Inf)
        } else {
          // past the threshold: fully OBJECT-sequential with a cleaner
          // nudge per object, bounding peak transient disk by the largest
          // single object (group order preserved for the summary)
          val groups = builds.groupBy { case (name, _) => objectSourceTable(p, name) }
          val groupOrder = builds.map { case (name, _) => objectSourceTable(p, name) }.distinct
          val got = groupOrder.flatMap { t =>
            groups(t).map { case (name, df) =>
              val r = writeOne(name, df)
              System.gc() // release finished shuffle refs -> ContextCleaner deletes files
              r
            }
          }.toMap
          builds.map { case (name, _) => name -> got(name) }
        }
      } else {
        // non-bucketed: one distinct-shuffle per object, all concurrent
        Await.result(
          Future.sequence(builds.map { case (name, df) => Future(writeOne(name, df)) }),
          Duration.Inf)
      }
    } finally shared.values.foreach(_.unpersist())
    val schemaJson = planJson(p, buildId, include,
      bucketing = if (bucketed) Some((prefix, buckets)) else None)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/dv_schema.json"), schemaJson)
    // DDL scoped to what this build wrote (sat_orders_link, for example, is
    // a standalone operator, not a go() object — it must not be advertised)
    val built = builds.map(_._1).toSet
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/dv_schema.sql"), DvSqlGen.allDdl(p, built))
    BuildResult(buildId, outDir, counts)
  }

  /** dv_repo JSON: the serialized plan (hand-rolled; no JSON lib on the CP).
    * `include` scopes the serialized schema to the objects the build
    * actually materialized — a scoped go() must not register a repo that
    * advertises objects it never wrote (the schema-driven loader trusts
    * the repo and would crash on the missing paths).
    */
  def planJson(plan: DvPlan, buildId: String, include: String => Boolean = _ => true,
               bucketing: Option[(String, Int)] = None): String = {
    def q(x: String) = "\"" + x + "\""
    def colJ(c: Col) = s"""{"name": ${q(c.name)}, "type": ${q(c.typeName)}}"""
    // hub "source" stays the home table (sources.head) — the schema-driven
    // loader's per-table increments key off it; consolidation sources are
    // a build-time behavior of go() itself
    val hubsJ = plan.hubs.map(_.spec).filter(h => include(s"hub_${h.name}")).map(h =>
      s"""{"name": ${q(h.name)}, "source": ${q(h.sourceTable)}, "bk_parts": [${h.bkParts.map(colJ).mkString(", ")}]}""")
    val satsJ = plan.sats.filter(t => include(s"sat_${t.name}")).map { t =>
      // link-orbiting satellites override the hash-key column — without it
      // in the repo, the loader would reconstruct the default hub_<x>_hk
      // name and anti-join on a column the stored sat does not have
      val hkJ = t.hkColumn.map(h => s""", "hk_column": ${q(h)}""").getOrElse("")
      s"""{"name": ${q(t.name)}, "source": ${q(t.sourceTable)}, "hub": ${q(t.hubName)}, "sensitive": ${t.sensitive}$hkJ, "bk_parts": [${t.bkParts.map(colJ).mkString(", ")}], "descriptors": [${t.descriptors.map(colJ).mkString(", ")}]}"""
    }
    val linksJ = plan.links.filter(l => include(s"link_${l.name}")).map { l =>
      val membersJ = l.members.map(m =>
        s"""{"hub": ${q(m.hubName)}, "parts": [${m.parts.map(colJ).mkString(", ")}]}""")
      s"""{"name": ${q(l.name)}, "source": ${q(l.sourceTable)}, "members": [${membersJ.mkString(", ")}], "degenerate": [${l.degenerate.map(colJ).mkString(", ")}]}"""
    }
    val bucketJ = bucketing.map { case (prefix, n) =>
      s"""  "bucketing": {"table_prefix": ${q(prefix)}, "buckets": $n},\n"""
    }.getOrElse("")
    s"""{
       |  "build_id": ${q(buildId)},
       |  "dw_schema": "graft_dv",
       |$bucketJ  "hubs": [${hubsJ.mkString(",\n    ")}],
       |  "satellites": [${satsJ.mkString(",\n    ")}],
       |  "links": [${linksJ.mkString(",\n    ")}]
       |}""".stripMargin
  }

  /** The source table a vault object is built from (for per-object build
    * status: the object's acceptance derives from its source columns'
    * classification confidence).
    */
  private[dv] def objectSourceTable(plan: DvPlan, obj: String): String =
    plan.hubs.find(h => s"hub_${h.spec.name}" == obj).map(_.spec.sourceTable)
      .orElse(plan.sats.find(t => s"sat_${t.name}" == obj).map(_.sourceTable))
      .orElse(plan.links.find(l => s"link_${l.name}" == obj).map(_.sourceTable))
      .getOrElse(sys.error(s"no source table for unknown vault object $obj"))

  /** Build-history repo: every go() appends one row per built object to a
    * `dv_builds` parquet — the reference's auto_dw.build_call insert
    * (lib.rs:29-35 insert_into_build_call; the dv_repo keyed by build_id,
    * model/dv_schema.rs:84). Returns the result plus the assigned sequence.
    *
    * PRECONDITION: single writer per `historyPath`. `build_seq` is assigned
    * read-max-then-append, which is not atomic — the reference relies on a
    * database sequence here, and a parquet directory has no equivalent.
    * Concurrent builds against one history would race the sequence; the
    * globally-unique `build_id` (also stored) disambiguates rows if that
    * contract is ever violated, but sequences are only meaningful under a
    * single writer.
    *
    * Only a MISSING history is "no builds yet" (sequence 1), the rule
    * [[DvLoader.appendNovel]] follows: a history that exists but whose
    * `build_seq` cannot be read (the column is missing, the files are not
    * parquet) fails before the build runs, and nothing is appended to it.
    */
  def goWithHistory(s: SparkSession, dir: String, outDir: String, historyPath: String,
                    loadTs: String = DvDefaults.LoadTs,
                    include: String => Boolean = _ => true,
                    threshold: Option[Double] = None,
                    classifier: Option[Classifier] = None): (BuildResult, Long) = {
    import s.implicits._
    val prevSeq =
      if (!DvLoader.pathExists(s, historyPath)) 0L
      else s.read.parquet(historyPath).agg(coalesce(max("build_seq"), lit(0L))).collect()(0).getLong(0)
    val seq = prevSeq + 1
    val res = go(s, dir, outDir, loadTs, include)
    // Per-accepted-object status (the reference's build_call records
    // build_flag/build_status per response, model/queries.rs:325-333):
    // an object's acceptance confidence is the weakest classification among
    // its source table's columns, judged against the threshold in force.
    // Defaults resolve through DvConfig so the recorded build_status agrees
    // with whatever classifier/threshold the session's status views run —
    // a history that contradicts source_column() would be worse than none.
    // Tiny driver-side map — one row per source table.
    val g = threshold.getOrElse(DvConfig.threshold(s))
    val cl = classifier.getOrElse(DvConfig.classifier(s))
    val minConf = cl.respond(Classify.catalogProfile(s, dir))
      .groupBy("table_name").agg(min("confidence").as("min_conf")).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Double]("min_conf")).toMap
    val plan = derivedPlan(s, dir)
    res.objects.map { case (o, n) =>
      val mc = minConf(objectSourceTable(plan, o))
      (seq, res.buildId, loadTs, o, n, mc, g,
        if (mc >= g) "Deployed" else "Held")
    }.toDF("build_seq", "build_id", "load_ts", "object", "row_count",
      "min_confidence", "threshold", "build_status")
      .write.mode("append").parquet(historyPath)
    (res, seq)
  }

  /** dv_build_history: two sequential scoped go() calls (customer hub+sat,
    * two load dates), then the queryable history — "what did build N
    * deploy". build_id stays in the stored table but out of the checked
    * projection (it hashes the sf-dir path, which the static oracle SQL
    * cannot know).
    */
  def buildHistory(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_go_hist_").toString
    val hist = s"$tmp/dv_builds"
    val scope = Set("hub_customer", "sat_customer")
    // the oracle (buildHistorySql) is STATIC rules-at-default-threshold
    // SQL, so this checked op pins those explicitly — resolving them from
    // session conf would silently diverge from the oracle whenever a
    // non-default DvConfig is set
    goWithHistory(s, dir, s"$tmp/b1", hist, "2024-01-01 00:00:00", scope,
      threshold = Some(Classify.Threshold), classifier = Some(RulesClassifier))
    goWithHistory(s, dir, s"$tmp/b2", hist, "2024-01-02 00:00:00", scope,
      threshold = Some(Classify.Threshold), classifier = Some(RulesClassifier))
    val stored = s.read.parquet(hist)
      .select(col("build_seq"), col("load_ts"), col("object"), col("row_count"),
        col("min_confidence"), col("threshold"), col("build_status"))
      .orderBy("build_seq", "object")
    // The history rows are tiny (objects x builds): materialize them
    // driver-side so the temp vault+history dir can be deleted now instead
    // of leaking a build tree per invocation (same policy as
    // DvLoader.loadFromRepo).
    val out = s.createDataFrame(
      java.util.Arrays.asList(stored.collect(): _*), stored.schema)
    // quiet: the history rows are already materialized driver-side — a
    // cleanup failure must not discard them (ADVICE r9 audit)
    DvLoader.deletePathQuietly(java.nio.file.Paths.get(tmp), "buildHistory temp vault")
    out
  }

  private def hubCountSql(h: HubSpec) = {
    val parts = h.bkParts.map(_.name).mkString(", ")
    s"SELECT 'hub_${h.name}' AS object, CAST(count(*) + 2 AS BIGINT) AS row_count FROM (SELECT DISTINCT $parts FROM ${h.sourceTable}) t"
  }

  private def satCountSql(t: SatSpec) = {
    val cols = (t.bkParts ++ t.descriptors).map(_.name).mkString(", ")
    s"SELECT 'sat_${t.name}' AS object, CAST(count(*) AS BIGINT) AS row_count FROM (SELECT DISTINCT $cols FROM ${t.sourceTable}) t"
  }

  private def linkCountSql(l: LinkSpec) = {
    val cols = (l.members.flatMap(_.parts) ++ l.degenerate).map(_.name).mkString(", ")
    s"SELECT 'link_${l.name}' AS object, CAST(count(*) AS BIGINT) AS row_count FROM (SELECT DISTINCT $cols FROM ${l.sourceTable}) t"
  }

  /** Oracle twin of buildHistory: the two builds' counts from source
    * cardinality (hub/sat counts are load-date-invariant), with the
    * build-status columns recomputed from the same classification CTEs the
    * status views use — min source-column confidence vs the threshold.
    */
  def buildHistorySql: String = {
    val perBuild = Seq(("1", "2024-01-01 00:00:00"), ("2", "2024-01-02 00:00:00")).map {
      case (seq, ts) =>
        Seq(hubCountSql(hubCustomer), satCountSql(satCustomer)).map { q =>
          s"SELECT CAST($seq AS BIGINT) AS build_seq, '$ts' AS load_ts, object, row_count FROM ($q) b$seq"
        }.mkString("\nUNION ALL\n")
    }
    val base = perBuild.mkString("\nUNION ALL\n")
    val g = Classify.Threshold
    s"""WITH stats AS (
       |${Classify.statsSql(Map.empty)}
       |), classified AS (
       |${Classify.classifiedRulesSql}
       |), conf AS (
       |  SELECT min(confidence) AS min_conf FROM classified WHERE table_name = 'customer'
       |), base AS (
       |$base
       |)
       |SELECT build_seq, load_ts, object, row_count,
       |  c.min_conf AS min_confidence, CAST($g AS DOUBLE) AS threshold,
       |  CASE WHEN c.min_conf >= $g THEN 'Deployed' ELSE 'Held' END AS build_status
       |FROM base CROSS JOIN conf c
       |ORDER BY build_seq, object""".stripMargin
  }

  /** dv_go_derived: the derivation-parity probe. Builds every object of the
    * literal (hand-written) plan AND its derived-plan twin, and emits one
    * row per object with the derived row count and a `matches_literal` flag
    * computed by ACTUAL DataFrame comparison (schema + both exceptAll
    * directions) — the oracle pins the flag TRUE and recomputes the counts
    * from source cardinality, so any derivation drift fails the hash check
    * (the events_approx_stats in-band-flag pattern).
    */
  def goDerivedParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val derived = derivedPlan(s, dir)
    val literal = DvPlanner.literalPlan
    // ONE column-pruned persist per source table feeds BOTH plans' 22
    // frames (r14 — previously every frame re-scanned and re-hashed its
    // source: 22 scans each with its own canon+sha pass; now the canon+sha
    // runs once over each shared cache; sharedSources deliberately does
    // NOT balance/repartition — see its doc)
    val shared = sharedSources(s, dir,
      derived.hubs ++ literal.hubs, derived.sats ++ literal.sats,
      derived.links ++ literal.links)
    // ordered = false: each frame feeds ONE 1-row signature aggregate —
    // the optimizer eliminates sorts below aggregates anyway; the flag
    // keeps the logical plans honest about not needing order
    def frames(p: DvPlan): Map[String, DataFrame] =
      (p.hubs.map(h => s"hub_${h.spec.name}" -> DvBuild.hubMultiFrom(s, h.spec,
        h.sources.map(src => (src.table, shared(src.table), src.parts)),
        ordered = false)) ++
        p.sats.map(t => s"sat_${t.name}" ->
          DvBuild.satFrom(shared(t.sourceTable), t, ordered = false)) ++
        p.links.map(l => s"link_${l.name}" ->
          DvBuild.linkFrom(shared(l.sourceTable), l, ordered = false))).toMap
    val derivedFrames = frames(derived)
    val literalFrames = frames(literal)
    // Content equality via an order-independent signature: (row count,
    // XOR of per-row xxhash64) in ONE 1-row aggregate per frame — both
    // builder outputs are duplicate-free by construction (distinct /
    // groupBy), so count + row-hash XOR + schema equality decides
    // equality without the shuffle-heavy exceptAll passes. The eight
    // object comparisons run concurrently like go()'s writes.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr(s"bit_xor(xxhash64(struct(${df.columns.mkString(", ")})))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    val rows = try {
      Await.result(Future.sequence(
        literalFrames.toSeq.sortBy(_._1).map { case (name, litDf) =>
          Future {
            val drv = derivedFrames(name)
            val (drvN, drvSig) = sig(drv)
            // r15: when the analyzer can PROVE the derived and literal
            // frames compute the same result (sameResult — the
            // CacheManager's own plan-equivalence test, expression-id
            // normalized), the literal side's content aggregate is
            // redundant: same plan ⟹ same rows ⟹ parity, by
            // construction. That halves the op's corpus passes (22 → 11)
            // in the no-drift steady state; ANY derivation drift makes
            // sameResult false and the full content-signature compare
            // runs exactly as before — the check never weakens, it just
            // stops re-proving what the plan already proves.
            val parity = drv.schema == litDf.schema && {
              drv.queryExecution.analyzed.sameResult(litDf.queryExecution.analyzed) ||
                (drvN, drvSig) == sig(litDf)
            }
            (name, drvN, parity)
          }
        }), Duration.Inf)
    } finally shared.values.foreach(_.unpersist())
    rows.toDF("object", "row_count", "matches_literal").orderBy("object")
  }

  /** Oracle twin of goDerivedParity: literal-object counts from source
    * cardinality, parity flags pinned TRUE.
    */
  def goDerivedSql: String = {
    val counts = (hubs.map(hubCountSql) ++
      Seq(satCountSql(satCustomer), satCountSql(satCustomerSensitive),
        linkCountSql(linkOrders), linkCountSql(linkLineitem))).mkString("\nUNION ALL\n")
    s"""SELECT object, row_count, TRUE AS matches_literal FROM (
       |$counts
       |) ORDER BY object""".stripMargin
  }

  /** Query-shaped wrapper: runs the full build into a temp dir and returns
    * the (object, row_count) summary — the driver-checkable face of go().
    */
  def goSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_go_").toString
    val res = go(s, dir, out)
    // the summary lives in res.objects (driver-side counts from observe()),
    // so the materialized temp vault can be deleted immediately — same
    // no-leak policy as buildHistory / loadFromRepo
    DvLoader.deletePathQuietly(java.nio.file.Paths.get(out), "goSummary temp vault")
    res.objects.toDF("object", "row_count").orderBy("object")
  }

  /** Oracle twin of goSummary: row counts straight from source cardinality
    * for every object the DERIVED plan builds (the static sat expectation
    * constants mirror the derivation — DeriveSpec pins the equality).
    */
  def goSummarySql: String =
    (hubs.map(hubCountSql) ++
      Seq(satCustomer, satCustomerSensitive, satPart, satOrders, satLineitem).map(satCountSql) ++
      Seq(linkCountSql(linkOrders), linkCountSql(linkLineitem))).mkString("\nUNION ALL\n") +
      "\nORDER BY object"

  // -------------------------------------------- dv_go_build_bucketed
  /** The bucketed vault's FULL production lifecycle under oracle check
    * (VERDICT r5 #5 — previously only spec-verified, never timed):
    *
    *  1. go(bucketed): every object written bucketed+sorted by its
    *     anti-join keys and registered as an external table — the layout
    *     that makes incremental loads shuffle-free on the stored side.
    *  2. Two streaming micro-batches of customer rows with SHIFTED keys:
    *     the first delivers genuinely novel keys (appended through the
    *     catalog so the bucket layout survives), the second re-delivers
    *     the same rows and must append NOTHING (insert-only idempotence
    *     across the bucketed anti-join).
    *  3. Compaction of the three fragmented customer objects back to one
    *     file per bucket (DvMaintenance.compactBucketed).
    *  4. Re-query THROUGH the compacted bucketed catalog tables — final
    *     per-object row counts, which the DuckDB oracle recomputes from
    *     source cardinality (customer-fed objects doubled by the shifted
    *     delivery; ghost records +2 on hubs).
    *
    * The key shift (1e8) is far above any testdata key range, so shifted
    * keys collide with nothing at any SF.
    */
  private val BucketKeyShift = 100000000L

  def goBucketedE2E(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_go_bkt_").toString
    val prefix = tablePrefix(out)
    // try/finally (round-6 advice): a failure anywhere in the lifecycle
    // must not leak the temp vault directory or its graft_dv_* session
    // catalog tables for the rest of the session
    try {
      val res = go(s, dir, out, bucketed = true, buckets = 16)
      val shifted = Tables.load(s, dir, "customer")
        .withColumn("c_custkey", col("c_custkey") + lit(BucketKeyShift))
      DvLoader.streamTableLoadBatch(s, shifted, "customer", out, "2024-02-01 00:00:00")
      // idempotence under the bucketed layout: zero novel rows
      DvLoader.streamTableLoadBatch(s, shifted, "customer", out, "2024-02-02 00:00:00")
      // the three fragmented objects are independent — compact concurrently
      // (each uses its own staging table/dir; the scheduler interleaves)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val customerObjs = Seq("hub_customer", "sat_customer", "sat_customer_sensitive")
      Await.result(
        Future.sequence(customerObjs.map(o => Future(DvMaintenance.compactBucketed(s, out, o)))),
        Duration.Inf)
      // final counts read through the bucketed catalog tables (proving the
      // compacted swap still reads), submitted concurrently and collected
      // driver-side (objects-scale) so the temp vault and its catalog
      // entries can be dropped immediately
      val counts = Await.result(Future.sequence(res.objects.map(_._1).sorted.map { obj =>
        Future(obj -> s.table(s"$prefix$obj").count())
      }), Duration.Inf)
      counts.toDF("object", "row_count").orderBy("object")
    } finally {
      // drop whatever subset of the vault's tables got registered before
      // any failure, then the directory itself — NON-masking (r9): a
      // cleanup throw here would replace the primary exception (it did at
      // sf10, where a disk-full job abort surfaced as the finally's
      // DirectoryNotEmptyException and hid the real cause)
      try {
        s.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(prefix))
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[dv] goBucketedE2E catalog cleanup failed (NON-masking): $e")
      }
      DvLoader.deletePathQuietly(java.nio.file.Paths.get(out), "goBucketedE2E vault")
    }
  }

  /** Oracle twin of goBucketedE2E: goSummary's source-cardinality counts
    * with every customer-fed object doubled by the shifted delivery (the
    * second, identical micro-batch contributes nothing — idempotence is
    * what the hash check pins).
    */
  def goBucketedSql: String = {
    def hubShifted(h: HubSpec) = {
      val parts = h.bkParts.map(_.name).mkString(", ")
      s"SELECT 'hub_${h.name}' AS object, CAST(count(*) * 2 + 2 AS BIGINT) AS row_count FROM (SELECT DISTINCT $parts FROM ${h.sourceTable}) t"
    }
    def satShifted(t: SatSpec) = {
      val cols = (t.bkParts ++ t.descriptors).map(_.name).mkString(", ")
      s"SELECT 'sat_${t.name}' AS object, CAST(count(*) * 2 AS BIGINT) AS row_count FROM (SELECT DISTINCT $cols FROM ${t.sourceTable}) t"
    }
    (Seq(hubShifted(hubCustomer)) ++ Seq(hubPart, hubOrder, hubLineitem).map(hubCountSql) ++
      Seq(satCustomer, satCustomerSensitive).map(satShifted) ++
      Seq(satPart, satOrders, satLineitem).map(satCountSql) ++
      Seq(linkCountSql(linkOrders), linkCountSql(linkLineitem))).mkString("\nUNION ALL\n") +
      "\nORDER BY object"
  }

  /** Deterministic erasure-request predicate for the purge query face:
    * every 7th customer (offset 3) files a right-to-erasure request —
    * non-empty at every SF, never the whole table.
    */
  private[dv] val PurgeMod = 7L
  private[dv] val PurgeRes = 3L

  /** Query face of the sensitive-satellite purge (r11 verdict #8): build a
    * customer-scoped BUCKETED vault, physically purge the victim set from
    * sat_customer_sensitive via the stage-and-swap rewrite
    * (DvMaintenance.purgeSensitive), and return the post-purge satellite
    * read through the bucketed catalog table. The oracle rebuilds the
    * satellite from the source filtered to survivors — the hash match
    * proves the purge dropped EXACTLY the victims' rows and nothing else.
    * The hub (the key skeleton, ghosts included) is deliberately NOT
    * rewritten: erasure removes descriptors, not history structure — the
    * reference's sensitive-descriptor split (dv_builder.rs:149-170) exists
    * precisely so this rewrite stays satellite-local. The result frame is
    * materialized outside the temp vault (embedPairsTable discipline) so
    * the vault and its catalog entries drop eagerly.
    */
  def satPurgeE2E(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{canon, dvHash}
    val spec = satCustomerSensitive
    val obj = s"sat_${spec.name}"
    val out = java.nio.file.Files.createTempDirectory("graft_dv_purge_").toString
    val prefix = tablePrefix(out)
    try {
      go(s, dir, out, bucketed = true, buckets = 8,
        include = Set("hub_customer", obj))
      val victims = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") % PurgeMod === PurgeRes)
        .select(dvHash(spec.bkParts.map(p => canon(col(p.name), p.typeName)))
          .as(spec.hkName))
      DvMaintenance.purgeSensitive(s, out, obj, victims, spec.hkName)
      val resPath = s"${s.conf.get("spark.sql.warehouse.dir")}/graft_purge_res_" +
        java.util.UUID.randomUUID().toString.take(8)
      graft.queries.SessionCache.onSessionEnd(s, s"purge_res_dir_$resPath") {
        val hp = new org.apache.hadoop.fs.Path(resPath)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      s.table(s"$prefix$obj")
        .select((Seq(col(spec.hkName), col("load_ts"), col("record_source"),
          col(spec.hdName)) ++ spec.descriptors.map(d => col(d.name))): _*)
        .write.mode("overwrite").parquet(resPath)
      s.read.parquet(resPath).orderBy(spec.hkName, spec.hdName)
    } finally {
      try {
        s.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(prefix))
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[dv] satPurgeE2E catalog cleanup failed (NON-masking): $e")
      }
      DvLoader.deletePathQuietly(java.nio.file.Paths.get(out), "satPurgeE2E vault")
    }
  }

  /** Oracle twin of satPurgeE2E: the satellite rebuild restricted to
    * surviving customers — identical hash/canon arithmetic to
    * DvSqlGen.satSql with the victim predicate pushed into the source.
    */
  def satPurgeSql: String = {
    import graft.functions.GraftFunctions.{canonSql, dvHashSql}
    val spec = satCustomerSensitive
    val hk = dvHashSql(spec.bkParts.map(p => canonSql(p.name, p.typeName)))
    val hd = dvHashSql(spec.descriptors.map(d => canonSql(d.name, d.typeName)))
    val descNames = spec.descriptors.map(_.name).mkString(", ")
    s"""WITH versions AS (
       |  SELECT DISTINCT $hk AS ${spec.hkName}, $hd AS ${spec.hdName}, $descNames
       |  FROM ${spec.sourceTable}
       |  WHERE c_custkey % $PurgeMod <> $PurgeRes)
       |SELECT ${spec.hkName}, '${DvDefaults.LoadTs}' AS load_ts,
       |  '${DvDefaults.recordSource(spec.sourceTable)}' AS record_source, ${spec.hdName}, $descNames
       |FROM versions
       |ORDER BY ${spec.hkName}, ${spec.hdName}""".stripMargin
  }
}
