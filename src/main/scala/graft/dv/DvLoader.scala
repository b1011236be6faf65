package graft.dv

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-driven incremental loading — the reference's continuous-load path:
  * `dv_load_schema_from_build_id` deserializes the DVSchema a `go()` stored
  * in the repo and `dv_data_loader` generates the hub/sat DML from it
  * (controller/dv_loader.rs:5-66). Here: parse `dv_schema.json` back into
  * typed specs and drive the (hk) / (hk, hd) anti-join increments against
  * the stored objects through [[appendNovel]] — the one insert-only append
  * path, which the streaming sinks and the IVF index share.
  *
  * At scale this is the steady-state pipeline: build once, then every
  * arriving batch is an anti-join append driven by the stored schema — the
  * stored side stays bucketed on the hash key, so no shuffle on the big side.
  */
object DvLoader {

  /** The bucket spec every repo pins (dv_schema.json's `bucketing` block,
    * `sink_meta.json`, `ivf_meta.json`): objects live as catalog tables
    * `<tablePrefix><object>` bucketed by their anti-join keys, so loads
    * read and append through the catalog — reading the parquet path
    * directly would drop the bucket metadata and reintroduce the
    * stored-side shuffle. A session whose catalog lacks a table
    * re-registers it from the repo path and this spec ([[registerBucketed]]).
    */
  final case class Bucketing(tablePrefix: String, buckets: Int)

  /** A parsed repo schema. Every repo is bucketed: `layout` is its
    * `bucketing` block.
    */
  final case class DvSchemaRef(hubs: Seq[HubSpec], sats: Seq[SatSpec], links: Seq[LinkSpec],
                               layout: Bucketing) {
    /** [[layout]] as an Option, for callers that `.get` it; never None. */
    def bucketing: Option[Bucketing] = Some(layout)
  }

  /** Parse the repo's dv_schema.json back into typed specs.
    *
    * DRIVER-SIDE parse (r14): metadata must never cost a cluster job. The
    * repo schema is a few-KB JSON document; Jackson (on Spark's own
    * classpath) parses it in microseconds, through the session's Hadoop
    * FS so non-local repo URIs keep working. The `bucketing` block shares
    * its parser with the sink and index repos' meta files; a schema
    * without one fails, naming the file and the field.
    */
  def readSchema(s: SparkSession, repoDir: String): DvSchemaRef = {
    import scala.jdk.CollectionConverters._
    val path = s"$repoDir/dv_schema.json"
    val root = readJson(s, path)
    def arr(n: JsonNode, field: String) =
      Option(n.get(field)).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    def cols(n: JsonNode, field: String): Seq[Col] =
      arr(n, field).map(c => Col(c.get("name").asText(), c.get("type").asText()))
    def optText(n: JsonNode, field: String): Option[String] =
      Option(n.get(field)).filterNot(_.isNull).map(_.asText())
    val layout = bucketingOf(Option(root.get("bucketing")).filterNot(_.isNull)
      .getOrElse(sys.error(s"$path lacks bucketing")), s"$path bucketing")
    val hubs = arr(root, "hubs").map(h =>
      HubSpec(h.get("name").asText(), h.get("source").asText(), cols(h, "bk_parts")))
    val sats = arr(root, "satellites").map(t =>
      SatSpec(t.get("name").asText(), t.get("source").asText(), t.get("hub").asText(),
        cols(t, "bk_parts"), cols(t, "descriptors"), t.get("sensitive").asBoolean(),
        // hk_column is optional in the repo (only link-orbiting satellites carry it)
        optText(t, "hk_column")))
    val links = arr(root, "links").map(l =>
      LinkSpec(l.get("name").asText(), l.get("source").asText(),
        arr(l, "members").map(m =>
          LinkMember(m.get("hub").asText(), cols(m, "parts"))),
        cols(l, "degenerate")))
    DvSchemaRef(hubs, sats, links, layout)
  }

  /** One graft-authored JSON document, parsed driver-side through the
    * session's Hadoop FS.
    */
  private def readJson(s: SparkSession, path: String): JsonNode = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Using.resource(p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p)) { in =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    }
  }

  /** A `{table_prefix, buckets}` block; a missing field fails naming
    * `where` and the field.
    */
  private def bucketingOf(n: JsonNode, where: String): Bucketing = {
    def field(k: String): JsonNode =
      Option(n.get(k)).filterNot(_.isNull).getOrElse(sys.error(s"$where lacks $k"))
    Bucketing(field("table_prefix").asText(), field("buckets").asInt())
  }

  /** The bucket spec pinned in a repo meta file (`sink_meta.json`,
    * `ivf_meta.json`) — None when the file does not exist.
    */
  private[graft] def readBucketing(s: SparkSession, metaPath: String): Option[Bucketing] =
    Option.when(pathExists(s, metaPath))(bucketingOf(readJson(s, metaPath), metaPath))

  /** Pin `{table_prefix, buckets}` in the meta file `<dir>/<name>` unless
    * it exists, then return the pinned spec: `buckets` only applies to the
    * creating call. Creation is write-temp + rename through the session's
    * Hadoop FS: rename does not overwrite, so two sessions racing a fresh
    * repo both end up reading ONE winner's spec instead of interleaving a
    * partial write.
    */
  private[graft] def pinBucketing(s: SparkSession, dir: String, name: String,
                                  buckets: Int): Bucketing = {
    val mp = new org.apache.hadoop.fs.Path(dir, name)
    val fs = mp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s".$name.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      scala.util.Using.resource(fs.create(tmp, false)) { out =>
        out.write(s"""{"table_prefix": "${tablePrefix(dir)}", "buckets": $buckets}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      // the loser of a creation race cleans up its temp and reads the
      // winner's pinned spec
      if (!fs.rename(tmp, mp)) fs.delete(tmp, false)
    }
    readBucketing(s, mp.toString).get
  }

  /** Catalog table prefix of a bucketed repo (vault, sink or IVF index),
    * derived from its dir: two repos in different dirs never collide in
    * the session catalog, and a re-opened or re-built repo reuses its
    * entries. Normalized before hashing, so "/x/v", "/x/v/" and a relative
    * spelling of the same dir yield ONE prefix.
    */
  private[graft] def tablePrefix(dir: String): String = {
    val canonical = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
    "graft_dv_" + java.util.UUID.nameUUIDFromBytes(canonical.getBytes).toString
      .replace("-", "").take(12) + "_"
  }

  /** Anti-join keys per schema object, derived from the PARSED schema (not
    * the static plan registry — a hand-authored dv_schema.json must load
    * with its own keys): hash key for hubs/links, (hash key, hash diff)
    * for satellites.
    */
  private[dv] def schemaKeys(schema: DvSchemaRef, obj: String): Seq[String] =
    schema.hubs.find(h => s"hub_${h.name}" == obj).map(h => Seq(h.hkName))
      .orElse(schema.sats.find(t => s"sat_${t.name}" == obj).map(t => Seq(t.hkName, t.hdName)))
      .orElse(schema.links.find(l => s"link_${l.name}" == obj).map(l => Seq(l.hkName)))
      .getOrElse(sys.error(s"object $obj not in the repo schema"))

  /** Generic bucketed-object READ: through the session catalog
    * (re-registered if this session lacks the entry) so the table read
    * carries the bucket spec and keyed anti-joins need no Exchange on
    * this side.
    */
  private[graft] def storedObject(s: SparkSession, repoDir: String, obj: String,
                                  keys: Seq[String], b: Bucketing): DataFrame = {
    val table = s"${b.tablePrefix}$obj"
    if (!s.catalog.tableExists(table))
      registerBucketed(s, repoDir, obj, keys, b)
    s.table(table)
  }

  /** The one bucketed OVERWRITE writer (the build's objects and every
    * rewrite's stage): repartition by the bucket keys, then coalesce to
    * at most `defaultParallelism` tasks. Repartition's hash IS the
    * bucket-id hash (both HashPartitioning over the same columns), and
    * coalescing only merges whole partitions, so every bucket is written
    * by exactly one task and the writer emits ONE file per bucket from at
    * most nproc tasks. When `df` is already partitioned by bucket (a
    * rewrite's bucketed catalog scan), the planner drops the repartition
    * and no shuffle runs; otherwise (the build) it shuffles once. The
    * caller names the table in `saveAsTable`, so the write's job carries
    * the caller's call site. Appends go through [[appendObject]] instead:
    * they must not repartition.
    */
  private[dv] def bucketedWriter(df: DataFrame, keys: Seq[String], buckets: Int,
                                 path: String): DataFrameWriter[Row] =
    df.repartition(buckets, keys.map(col): _*)
      .coalesce(math.min(buckets, df.sparkSession.sparkContext.defaultParallelism))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)

  /** Generic bucketed-object APPEND (see [[storedObject]]): through the
    * catalog under the object's bucket spec, creating the external table
    * over the repo path on the first write.
    */
  private[graft] def appendObject(s: SparkSession, repoDir: String, obj: String,
                                  keys: Seq[String], b: Bucketing,
                                  novel: DataFrame): Unit =
    // Lease (r13 verdict #3): an append overlapping a stage-and-swap
    // rewrite (or another append to the SAME object) fails loudly
    // instead of racing the swap's file moves. Distinct objects append
    // concurrently as before — the lease is per object.
    DvMaintenance.withLease(repoDir, obj, "append") {
      val table = s"${b.tablePrefix}$obj"
      val w = novel.write.mode("append").format("parquet")
        .bucketBy(b.buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
      (if (s.catalog.tableExists(table)) w
       else w.option("path", s"$repoDir/$obj")).saveAsTable(table)
    }

  /** The insert-only load step shared by every vault object, sink and
    * index (dv_loader.rs:166-199, 325-357): the `rows` whose `keys` are
    * absent from the bucketed object stored at `path` — the unwritten
    * plan [[appendNovel]] appends, exposed for the plan sweeps.
    *
    * ONLY a missing path means "nothing stored yet" (full insert), and
    * only after [[DvMaintenance.restore]] put back a copy a crashed swap
    * left set aside — otherwise that copy's rows would re-insert. A
    * stored object that cannot be read with its keys (schema drift, a
    * renamed hash-key column) fails the load loudly, or every batch would
    * silently degrade to a full duplicate insert. The stored side reads
    * through the catalog, so the anti-join needs no Exchange on that side.
    */
  private[graft] def novelRows(s: SparkSession, rows: DataFrame, path: String,
                               keys: Seq[String], b: Bucketing): DataFrame = {
    DvMaintenance.restore(path)
    if (!pathExists(s, path)) rows
    else {
      val (dir, obj) = splitObject(path)
      rows.join(storedObject(s, dir, obj, keys, b).select(keys.head, keys.tail: _*),
        keys, "left_anti")
    }
  }

  /** Append [[novelRows]] to `path` through the catalog under its bucket
    * spec and writer lease ([[appendObject]]; a plain parquet append would
    * corrupt the layout) and return how many landed. The count rides on
    * the write pass via an Observation: one action, no cache.
    */
  private[graft] def appendNovel(s: SparkSession, rows: DataFrame, path: String,
                                 keys: Seq[String], b: Bucketing): Long = {
    val obs = org.apache.spark.sql.Observation()
    val (dir, obj) = splitObject(path)
    appendObject(s, dir, obj, keys, b,
      novelRows(s, rows, path, keys, b).observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** `<repoDir>/<obj>` -> (repoDir, obj), the catalog-object coordinates. */
  private[dv] def splitObject(path: String): (String, String) = {
    val i = path.lastIndexOf('/')
    (path.take(i), path.drop(i + 1))
  }

  /** One schema object's load: its name, anti-join keys and shaped rows. */
  private final case class ObjectLoad(obj: String, keys: Seq[String], rows: DataFrame)

  /** The shaped rows of every schema object `tableName` feeds, from one
    * slice of that table (a micro-batch, or the whole source table).
    * `ordered = false`: these frames feed anti-joins and appends, never
    * an ordered consumer (r14, guide §2.4).
    *
    * Standing erasure suppression (r13 ADVICE — erased data must not be
    * resurrectable): a SENSITIVE satellite's rows anti-join the erasure
    * processed log (obj, hk), so a replayed/redelivered batch that still
    * carries a purged victim's source rows appends nothing for that key,
    * ever. Request-scale right side → broadcast; hubs, links and ordinary
    * sats are untouched: erasure rewrites descriptors, never the
    * pseudonymous skeleton.
    */
  private def tableLoads(s: SparkSession, schema: DvSchemaRef, batch: DataFrame,
                         tableName: String, loadTs: String,
                         suppressDir: Option[String]): Seq[ObjectLoad] = {
    def suppress(obj: String, hkName: String, rows: DataFrame): DataFrame =
      suppressDir.filter(ed => obj.endsWith("_sensitive") && pathExists(s, s"$ed/processed"))
        .map { ed =>
          rows.join(broadcast(ContinuousPipeline.readProcessed(s, ed)
              .filter(col("obj") === obj).select(col("hk").as(hkName))),
            Seq(hkName), "left_anti")
        }.getOrElse(rows)
    schema.hubs.filter(_.sourceTable == tableName).map(h =>
      ObjectLoad(s"hub_${h.name}", Seq(h.hkName),
        DvBuild.hubFrom(s, batch, h, loadTs, ordered = false))) ++
    schema.sats.filter(_.sourceTable == tableName).map(t =>
      ObjectLoad(s"sat_${t.name}", Seq(t.hkName, t.hdName),
        suppress(s"sat_${t.name}", t.hkName, DvBuild.satFrom(batch, t, loadTs, ordered = false)))) ++
    schema.links.filter(_.sourceTable == tableName).map(l =>
      ObjectLoad(s"link_${l.name}", Seq(l.hkName),
        DvBuild.linkFrom(batch, l, loadTs, ordered = false)))
  }

  /** Append every load concurrently (distinct objects, shared read-only
    * batch — the scheduler interleaves their jobs, like DvGo.go's builds).
    * Returns (object, n_appended).
    */
  private def appendLoads(s: SparkSession, repoDir: String, schema: DvSchemaRef,
                          loads: Seq[ObjectLoad]): Seq[(String, Long)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(loads.map(l => Future(
      l.obj -> appendNovel(s, l.rows, s"$repoDir/${l.obj}", l.keys, schema.layout)))),
      Duration.Inf)
  }

  /** One incremental load pass over every schema object in `scope`: each
    * source table that feeds an in-scope object loads through the same
    * per-object plans as a micro-batch. Returns (object, n_appended).
    */
  def incrementalLoad(s: SparkSession, dir: String, repoDir: String,
                      loadTs: String = DvDefaults.LoadTs,
                      scope: String => Boolean = _ => true): Seq[(String, Long)] = {
    val schema = readSchema(s, repoDir)
    val fed = (schema.hubs.map(h => s"hub_${h.name}" -> h.sourceTable) ++
      schema.sats.map(t => s"sat_${t.name}" -> t.sourceTable) ++
      schema.links.map(l => s"link_${l.name}" -> l.sourceTable))
      .collect { case (obj, table) if scope(obj) => table }.distinct
    fed.flatMap(t => appendLoads(s, repoDir, schema,
      tableLoads(s, schema, graft.Tables.load(s, dir, t), t, loadTs, None).filter(l => scope(l.obj))))
  }

  /** Streaming continuous load — the reference's background-worker refresh
    * loop (controller/bgw_init.rs) re-expressed: every micro-batch of
    * `tableName` source rows runs the schema-driven increments for each
    * vault object that table feeds. Ghost records insert on the first
    * batch and are anti-joined away afterwards, exactly like the batch
    * path.
    */
  def streamTableLoadBatch(s: SparkSession, batch: DataFrame, tableName: String,
                           repoDir: String, loadTs: String,
                           suppressDir: Option[String] = None): Unit =
    streamTableLoadBatch(s, readSchema(s, repoDir), batch, tableName, repoDir, loadTs, suppressDir)

  /** [[streamTableLoadBatch]] against a repo schema the caller already
    * parsed (the micro-batch turn parses `dv_schema.json` once and shares
    * it with its conform and purge steps).
    */
  def streamTableLoadBatch(s: SparkSession, schema: DvSchemaRef, batch: DataFrame,
                           tableName: String, repoDir: String, loadTs: String,
                           suppressDir: Option[String]): Unit =
    appendLoads(s, repoDir, schema, tableLoads(s, schema, batch, tableName, loadTs, suppressDir))

  /** The per-object micro-batch PLANS of the schema-driven streaming load
    * — (object name, novel-rows frame) pairs, exposed unwritten so the
    * streaming plan sweep (r10 verdict #8) audits the exact frames every
    * micro-batch executes; [[streamTableLoadBatch]] appends them.
    */
  def streamTableLoadPlans(s: SparkSession, batch: DataFrame, tableName: String,
                           repoDir: String, loadTs: String,
                           suppressDir: Option[String] = None): Seq[(String, DataFrame)] = {
    val schema = readSchema(s, repoDir)
    tableLoads(s, schema, batch, tableName, loadTs, suppressDir).map(l =>
      l.obj -> novelRows(s, l.rows, s"$repoDir/${l.obj}", l.keys, schema.layout))
  }

  /** Re-register a bucketed vault table over its existing repo files —
    * the fresh-session path: the files carry Spark's bucketed naming, so
    * an external CLUSTERED BY table with the identical spec reads them
    * shuffle-free exactly like the building session's catalog entry did.
    */
  private[dv] def registerBucketed(s: SparkSession, repoDir: String, obj: String,
                                   keys: Seq[String], b: Bucketing): Unit = {
    val ddlSchema = s.read.parquet(s"$repoDir/$obj").schema.toDDL
    val keyList = keys.mkString(", ")
    // single quotes in the path are legal POSIX — escape them or the
    // generated LOCATION literal breaks for such repos
    val loc = s"$repoDir/$obj".replace("'", "''")
    // IF NOT EXISTS: two sessions racing the re-registration on a shared
    // metastore must both proceed, not crash the loser's load
    s.sql(s"""CREATE TABLE IF NOT EXISTS ${b.tablePrefix}$obj ($ddlSchema) USING parquet
             |CLUSTERED BY ($keyList) SORTED BY ($keyList) INTO ${b.buckets} BUCKETS
             |LOCATION '$loc'""".stripMargin)
  }

  /** Existence probe through the session's Hadoop FS (works for any
    * supported filesystem URI, unlike java.nio).
    */
  private[graft] def pathExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Query face: seed a bucketed repo with a partial build (customers
    * with custkey % 5 != 0), then run the schema-driven load from the full
    * source — the appended counts are exactly the % 5 == 0 remainder, which
    * the oracle derives from source cardinality.
    */
  def loadFromRepo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import DvPlanner.{hubCustomer, satCustomer}
    val repo = java.nio.file.Files.createTempDirectory("graft_dv_repo_").toString
    val b = Bucketing(tablePrefix(repo), 8)
    val keep = expr("cast(c_custkey_bk as bigint) % 5 != 0") // ghosts (-1,-2) stay
    try {
      // ordered = false: seed frames are written, never read ordered (r14)
      val hub0 = DvBuild.hub(s, dir, hubCustomer, ordered = false).filter(keep)
      bucketedWriter(hub0, Seq(hubCustomer.hkName), b.buckets, s"$repo/hub_customer")
        .saveAsTable(s"${b.tablePrefix}hub_customer")
      bucketedWriter(DvBuild.sat(s, dir, satCustomer, ordered = false)
          .join(hub0.select(satCustomer.hkName), Seq(satCustomer.hkName), "left_semi"),
        Seq(satCustomer.hkName, satCustomer.hdName), b.buckets, s"$repo/sat_customer")
        .saveAsTable(s"${b.tablePrefix}sat_customer")
      val scope = Set("hub_customer", "sat_customer")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$repo/dv_schema.json"),
        DvGo.planJson(DvPlanner.literalPlan, "repo-load-demo", scope, (b.tablePrefix, b.buckets)))
      // the counts are driver-side, so the seeded repo can go right away
      incrementalLoad(s, dir, repo, scope = scope).toDF("object", "n_new").orderBy("object")
    } finally DvGo.disposeTempVault(s, repo)
  }

  /** Depth-first recursive delete; the Files.walk stream is closed (it
    * holds open directory descriptors until then).
    */
  private[graft] def deletePath(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    def sweep(): Unit =
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { walk =>
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    if (java.nio.file.Files.exists(p)) {
      try sweep()
      catch {
        // A racing writer — executor tasks of an ABORTING job still
        // flushing into the vault dir — can create files between the walk
        // and the reverse delete (observed at sf10: DirectoryNotEmptyException
        // from goBucketedE2E's finally while a disk-full abort was still
        // unwinding, which then MASKED the real failure). Settle briefly
        // and re-walk once; cleanup callers treat a second failure as
        // non-masking (logged, not thrown over the primary exception).
        case _: java.io.IOException =>
          Thread.sleep(500); sweep()
      }
    }
  }

  /** deletePath for `finally` blocks: never throws — a cleanup failure
    * must not REPLACE the primary exception (Scala semantics: a throw in
    * finally discards the in-flight one). Logs the leak loudly instead.
    */
  private[graft] def deletePathQuietly(p: java.nio.file.Path, what: String): Unit =
    try deletePath(p)
    catch {
      case e: Throwable =>
        System.err.println(s"[graft] $what cleanup failed (leaked $p, NON-masking): $e")
    }

  /** Oracle twin: the appended counts from source cardinality. */
  def loadFromRepoSql: String =
    """SELECT 'hub_customer' AS object, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_new
      |FROM customer WHERE c_custkey % 5 = 0
      |UNION ALL
      |SELECT 'sat_customer' AS object, CAST(count(*) AS BIGINT) AS n_new
      |FROM (SELECT DISTINCT c_custkey, c_nationkey, c_mktsegment
      |      FROM customer WHERE c_custkey % 5 = 0) t
      |ORDER BY object""".stripMargin
}
