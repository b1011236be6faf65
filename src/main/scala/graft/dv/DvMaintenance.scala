package graft.dv

import org.apache.spark.sql.SparkSession

/** Vault maintenance — the autovacuum/OPTIMIZE analogue graft must provide
  * itself (the reference's vault lives in Postgres tables, so compaction
  * comes for free from the database; a parquet vault does not get it).
  *
  * Insert-only incremental loading writes one file set per micro-batch:
  * after N loads every bucket of a vault object holds N small files, and
  * scan fan-in (open cost, footer reads, row-group fragmentation) degrades
  * even though the bucketed layout is still correct. Compaction rewrites
  * the object to exactly one file per bucket without a shuffle: the
  * rewrite reads the object through its bucketed catalog table, whose
  * scan is already hash-partitioned by the bucket keys (one partition
  * per bucket, every append's file of that bucket in it), so the
  * planner drops the writer's repartition and each of at most nproc
  * tasks merges whole buckets ([[DvLoader.bucketedWriter]]). That holds
  * only while `spark.sql.sources.bucketing.autoBucketedScan.enabled` is
  * false (a [[graft.Tables.sessionConfs]] default): with it on, Spark
  * turns the bucketed scan off once the repartition is gone and buckets
  * scatter across tasks, which [[rewriteObject]] refuses before its swap.
  *
  * Every persistent REWRITE in graft goes through one primitive here,
  * [[swap]] (stage beside, move live aside, move stage in, under the
  * per-object lease): vault compaction and erasure, sink and IVF index
  * compaction ([[rewriteObject]]), the IVF centroid and drift-baseline
  * refresh, and the micro-batch loop's catalog and responses. The
  * protocol (lease, set-aside copy, stage) is known only to this object:
  * a reader of a swapped dir asks [[liveExists]], which first puts back a
  * copy a crashed swap left set aside. Appends stay in
  * [[DvLoader.Repo.append]].
  */
object DvMaintenance {

  // ------------------------------------------------------------------
  // Per-object repo writer lease (r13 verdict #3): the single-writer
  // window protecting compaction/purge/append used to be convention —
  // a second concurrent writer corrupted silently. Now it is structural:
  // every stage-and-swap rewrite and every bucketed append
  // checks-and-claims `<object path>__lease` first, so an overlapping
  // writer FAILS LOUDLY instead of interleaving file moves.
  //
  // Claim protocol: write the holder's token to a private temp file, then
  // hard-link it as the lease (`Files.createLink`). link(2) fails with
  // EEXIST when the lease exists, so exactly one claimer wins and the
  // lease appears with its full token in it; the losers read the token
  // (a move is not exclusive: rename(2) replaces an existing lease). A
  // token registered in this JVM's live set is a real
  // concurrent writer → refuse. A token NOT in the live set is a stale
  // lease from a crashed writer → reclaimed automatically, so the
  // compaction crash ladder's "re-running repairs every interrupted
  // state" contract still holds (failure-injected in DvMaintenanceSpec).
  // Cross-JVM stale detection has no liveness oracle; a second DRIVER's
  // lease is treated as stale here — the multi-driver case needs an
  // external lock service, which this sandbox cannot model.
  private val liveLeases = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def leasePath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"${path}__lease")

  /** Claim the writer lease of the object at `path`; returns the token. */
  private[graft] def claimLease(path: String, who: String): String = {
    import java.nio.file.{Files, Paths}
    val lease = leasePath(path)
    val token = s"$who@${java.util.UUID.randomUUID()}"
    val tmp = Paths.get(s"${path}__lease.claim.${token.hashCode.toHexString}${System.nanoTime()}")
    def holder(): String = try Files.readString(lease) catch { case _: java.io.IOException => "" }
    def link(): Boolean =
      try { Files.createLink(lease, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    liveLeases.add(token)
    try {
      Files.createDirectories(lease.getParent)
      Files.write(tmp, token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (!link()) {
        val seen = holder()
        if (liveLeases.contains(seen)) throw new IllegalStateException(
          s"repo writer lease on $path is HELD by a live writer ($seen) — " +
            "a second concurrent compaction/purge/append on the same object " +
            "violates the single-writer window; serialize the writers")
        // stale lease from a crashed writer: reclaim (the crash ladder's
        // re-run-repairs contract), but only the one observed holder —
        // reclaims are serialized in this JVM, and losing a reclaim race
        // to ANOTHER claimer must still refuse
        val reclaimed = liveLeases.synchronized {
          holder() == seen && { if (seen.nonEmpty) Files.deleteIfExists(lease); link() }
        }
        if (!reclaimed) throw new IllegalStateException(
          s"repo writer lease on $path was re-claimed concurrently while " +
            "reclaiming a stale lease — a live writer holds the object")
      }
      token
    } catch {
      case e: Throwable => liveLeases.remove(token); throw e
    } finally Files.deleteIfExists(tmp)
  }

  /** The file goes before the token leaves the live set, so a claimer
    * never takes a lease its holder is still releasing for a stale one. */
  private[graft] def releaseLease(path: String, token: String): Unit = {
    java.nio.file.Files.deleteIfExists(leasePath(path))
    liveLeases.remove(token)
  }

  /** Run `body` under the writer lease of the object stored at `path`. */
  private[graft] def withLease[A](path: String, who: String)(body: => A): A = {
    val token = claimLease(path, who)
    try body finally releaseLease(path, token)
  }

  /** The one crash-safe stage-and-swap every persistent rewrite goes
    * through: vault objects, sink and IVF repos, and the loop's catalog
    * and responses. Under the per-object writer lease it [[restore]]s a
    * set-aside copy first, clears stale debris, lets `writeStage` write
    * the replacement to `<path>__compact` (beside the live dir, so the
    * writer may read the live copy), moves the live dir aside to
    * `<path>__old`, moves the stage in and deletes the aside copy. The
    * old data survives on disk until the new copy is in place.
    *
    * Crash safety (failure-injected in DvMaintenanceSpec and PipelineSpec):
    * every state an interrupted swap leaves is repaired by running the
    * same rewrite again —
    *  - crash after the stage write: the retry deletes the stale stage
    *    and re-stages;
    *  - crash BETWEEN the two moves (live dir aside, stage not yet in):
    *    the retry restores the aside copy before any cleanup. The restore
    *    must run first — deleting `<path>__old` first would destroy the
    *    only surviving copy;
    *  - crash after the swap, before the aside delete: the retry discards
    *    the stale aside copy and rewrites the already-swapped dir.
    */
  def swap[A](path: String)(writeStage: String => A): A = {
    import java.nio.file.{Files, Paths}
    withLease(path, "swap") {
      val (live, stage, aside) =
        (Paths.get(path), Paths.get(s"${path}__compact"), Paths.get(s"${path}__old"))
      restore(path)
      // the aside copy is stale HERE: the restore above already ran, so
      // if it still exists, the live dir does too
      DvLoader.deletePath(stage)
      DvLoader.deletePath(aside)
      val r = writeStage(stage.toString)
      if (Files.exists(live)) Files.move(live, aside)
      Files.move(stage, live)
      DvLoader.deletePathQuietly(aside, s"swap aside copy of $path")
      r
    }
  }

  /** Whether the live copy of a swapped dir exists. Every reader of a
    * swapped dir asks this before it reads the dir: if a crash between
    * [[swap]]'s two moves left only the set-aside copy, it is moved back
    * first, so a reader never takes a crashed swap for a missing dir.
    */
  def liveExists(s: SparkSession, path: String): Boolean = {
    restore(path)
    DvLoader.pathExists(s, path)
  }

  /** Mid-swap recovery: if a crash between [[swap]]'s two moves left only
    * `<path>__old`, move it back.
    */
  private def restore(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val (live, aside) = (Paths.get(path), Paths.get(s"${path}__old"))
    if (!Files.exists(live) && Files.exists(aside)) Files.move(aside, live)
  }

  /** Rewrite a bucketed vault object to one file per bucket. Returns the
    * (files_before, files_after) pair. PRECONDITION: single maintenance
    * writer per object, no concurrent loads during the swap (the same
    * single-writer window any table-rewriting OPTIMIZE needs; the lease
    * makes a violation fail loudly). Crash safety is [[swap]]'s:
    * re-running repairs every interrupted state.
    */
  def compactBucketed(s: SparkSession, repoDir: String, obj: String): (Long, Long) = {
    val schema = DvLoader.readSchema(s, repoDir)
    rewriteObject(s, schema.repo, obj, schema.keys(obj), identity)
  }

  /** Physical erasure for sensitive satellites (r11 verdict #8 — GDPR
    * right-to-erasure): rewrite `sat_*_sensitive` DROPPING every row whose
    * hash key appears in `victims` (one `hkCol` column, metadata-scale: one
    * row per erasure request), while PRESERVING the bucketed layout — the
    * same [[rewriteObject]] as compaction, so the post-purge object is
    * also one file per bucket and subsequent incremental loads stay
    * shuffle-free. The vault's ordinary delete story stays LOGICAL
    * (`dv_sat_status`); THIS is the physical hop for data the law says
    * must not exist anymore — which is exactly why the reference splits
    * sensitive descriptors into their own satellite
    * (extension/src/model/dv_builder.rs:149-170): erasure rewrites only
    * the sensitive rows, never the hub skeleton or the non-sensitive
    * history.
    *
    * Guards: the object must be a `_sensitive` satellite (refuse to purge
    * structural objects), and ghost rows (record_source = SYSTEM) survive
    * unconditionally even if a victim hk collides with one. The purge is
    * ONE pass that keeps the bucket partitioning: a broadcast anti-join
    * against the victims (request-scale, never corpus-scale) whose
    * condition exempts ghosts, so the rewrite stays shuffle-free like
    * compaction. Returns (rows_before, rows_after), observed on that
    * pass. Crash safety: [[swap]]'s, like compaction.
    */
  def purgeSensitive(s: SparkSession, repoDir: String, obj: String,
                     victims: org.apache.spark.sql.DataFrame,
                     hkCol: String): (Long, Long) = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    require(obj.endsWith("_sensitive"),
      s"purgeSensitive: $obj is not a sensitive satellite — logical deletes (dv_sat_status) cover it")
    val (obsBefore, obsAfter) = (Observation(), Observation())
    val schema = DvLoader.readSchema(s, repoDir)
    rewriteObject(s, schema.repo, obj, schema.keys(obj), df =>
      df.observe(obsBefore, count(lit(1)).as("n"))
        .join(broadcast(victims.select(col(hkCol).as("victim_hk"))),
          col(hkCol) === col("victim_hk") && col("record_source") =!= lit(DvDefaults.GhostSource),
          "left_anti")
        .observe(obsAfter, count(lit(1)).as("n")))
    (obsBefore.get("n").asInstanceOf[Long], obsAfter.get("n").asInstanceOf[Long])
  }

  /** [[swap]] the bucketed object `obj` of `repo`, keyed by `keys`, to
    * `transform` of its rows, one file per bucket: compaction
    * (`identity`), erasure, the IVF retrain's cell reassignment. Returns
    * (files_before, files_after).
    *
    * The stage reads the live object through its catalog table (listing
    * refreshed first, registered if this session lacks it), so a
    * `transform` that keeps the bucket partitioning writes each bucket
    * from one task with no shuffle, and one that moves it (a join that
    * repartitions) keeps the writer's repartition. Before the swap the
    * stage must hold at most one data file per bucket id; otherwise the
    * rewrite fails, leaving the live object untouched. Only the staging
    * table's catalog entry is dropped; the live table keeps its entry
    * (the transforms keep the schema) and is refreshed after the swap.
    */
  def rewriteObject(s: SparkSession, repo: DvLoader.Repo, obj: String, keys: Seq[String],
                    transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (Long, Long) = {
    val (table, path) = (repo.table(obj), repo.path(obj))
    val counts = swap(path) { stage =>
      val staging = s"${table}__compact"
      s.sql(s"DROP TABLE IF EXISTS $staging")
      val before = dataFiles(s, path).size
      // a listing cached before another session appended would hide rows
      if (s.catalog.tableExists(table)) s.catalog.refreshTable(table)
      try DvLoader.bucketedWriter(transform(repo.read(s, obj, keys)),
          keys, repo.layout.buckets, stage).saveAsTable(staging)
      finally s.sql(s"DROP TABLE IF EXISTS $staging")
      val staged = dataFiles(s, stage)
      val split = staged.groupBy(org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId)
        .collect { case (id, fs) if fs.size > 1 => id.fold("none")(_.toString) }
      if (split.nonEmpty) throw new IllegalStateException(
        s"rewrite of $path staged more than one file for bucket(s) ${split.toSeq.sorted.mkString(", ")} " +
          "— the bucketed scan was turned off; run with " +
          "spark.sql.sources.bucketing.autoBucketedScan.enabled=false (graft.Tables.sessionConfs)")
      (before.toLong, staged.size.toLong)
    }
    s.catalog.refreshTable(table)
    counts
  }

  /** Names of the data files (`part-*`) under `dir`, listed through the
    * session's Hadoop FS.
    */
  private def dataFiles(s: SparkSession, dir: String): List[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.getName)
      .filter(_.startsWith("part-")).toList
  }
}
