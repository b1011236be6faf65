package graft.dv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vault-disciplined persistent home for the incremental IVF index (r12
  * verdict #5): the index gets the same treatment as a vault object.
  *
  *  - `ivf_centroids` — the stored-trained coarse quantizer, K × Dim exact
  *    integer rows. Metadata-scale, stored as plain parquet (bucketing a
  *    K-row object buys nothing); refreshed wholesale on retrain through
  *    [[DvMaintenance.swap]], and read only once
  *    [[DvMaintenance.liveExists]] says it is there.
  *  - `ivf_index` — the cell-assignment index (vec_id, cell, load_ts),
  *    BUCKETED BY vec_id and appended ONLY through
  *    [[DvLoader.Repo.append]] (the bucketed-repo invariant: plain
  *    parquet appends would corrupt the bucket layout), so the
  *    exactly-once anti-join carries the bucket spec on its stored side
  *    and needs no Exchange there.
  *  - `ivf_meta.json` — (table_prefix, buckets), pinned create-once at
  *    init ([[DvLoader.Repo.pin]], the `sink_meta.json` writer) so every
  *    batch and streaming session opens the SAME repo (the dv_schema.json
  *    discipline applied to the index).
  *
  * Batch loads ([[appendBatch]]) and the streaming maintainer
  * (`Streams.ivfIncrRepoSink`) maintain THE SAME index through these
  * entry points, and [[compact]] (= [[DvMaintenance.rewriteObject]], the
  * one stage-and-swap rewrite with its crash-safety ladder) rewrites it to
  * one file per bucket after N incremental loads. Every persistent
  * rewrite here — centroids, index, drift baseline — goes through
  * [[DvMaintenance.swap]]. Reference
  * analogue: the bgw refresh loop's incremental discipline
  * (extension/src/controller/dv_loader.rs:5-66) applied to an ANN index
  * instead of a vault object.
  */
object IvfIndexRepo {

  val IndexObj = "ivf_index"
  val CentObj = "ivf_centroids"
  /** The exactly-once key: bucketing follows the anti-join key, exactly
    * like the vault loaders' hash keys.
    */
  val Keys: Seq[String] = Seq("vec_id")

  private val MetaName = "ivf_meta.json"

  /** Create the repo: pin `ivf_meta.json` create-once (its table prefix
    * derived from `repoDir`, [[DvLoader.Repo.pin]]) and write the initial
    * quantizer.
    */
  def init(s: SparkSession, repoDir: String, cents: Seq[(Long, Seq[Long])],
           buckets: Int = 8): Unit = {
    import s.implicits._
    val repo = DvLoader.Repo.pin(s, repoDir, MetaName, buckets)
    cents.toDF("cell", "q").coalesce(1)
      .write.mode("overwrite").parquet(repo.path(CentObj))
  }

  /** The repo [[init]] created, opened from `ivf_meta.json` (driver-side
    * parse: metadata never costs a cluster job).
    */
  def open(s: SparkSession, repoDir: String): DvLoader.Repo =
    DvLoader.Repo.open(s, repoDir, MetaName)
      .getOrElse(sys.error(s"$repoDir has no $MetaName (IvfIndexRepo.init writes it)"))

  /** The stored-trained quantizer, read back in the exact literal form the
    * assignment kernel takes (K-scale collect — the coarse codebook is
    * metadata, never corpus). Read once [[DvMaintenance.liveExists]] has
    * put back a copy a crashed centroid swap set aside.
    */
  def centroids(s: SparkSession, repoDir: String): Seq[(Long, Seq[Long])] = {
    val path = open(s, repoDir).path(CentObj)
    if (!DvMaintenance.liveExists(s, path)) sys.error(s"$repoDir has no $CentObj")
    s.read.parquet(path).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toSeq)).toSeq
  }

  /** Close the drift loop (r13 verdict #1 — the retrain half the trigger
    * lacked): deterministic Lloyd retrain over `vecs` — the STORED +
    * ARRIVED corpus; the caller owns the corpus frame because the index
    * stores assignments, not embeddings — then three
    * [[DvMaintenance.swap]]s: the K-scale centroids (plain parquet), the
    * assignment index re-derived against the new quantizer
    * ([[DvMaintenance.rewriteObject]]; load_ts lineage kept) and the
    * drift baseline. Every swap rides the crash ladder + writer lease, so
    * re-running the retrain repairs a crash at any step, and because the
    * per-batch centroid read seam re-reads the repo ([[centroids]]), a
    * RUNNING streaming maintainer picks the new quantizer up on its next
    * micro-batch without restart (pinned in StreamingSpec). The Lloyd
    * kernel is a deterministic function of (corpus, seed), and the seed
    * is the K lowest vec_ids of the corpus — so a retrain over
    * stored+arrived is BIT-IDENTICAL to the train-from-scratch index over
    * the same corpus, which is exactly the oracle `ann_ivf_retrain`
    * hash-checks. Reference analogue: the bgw refresh loop re-running its
    * pipeline when inputs change (extension/src/controller/dv_loader.rs:5-66).
    * Returns the retrained K.
    */
  def retrainIvf(s: SparkSession, repoDir: String, vecs: DataFrame): Int = {
    import graft.queries.Similarity
    // The lifecycle makes IvfIters + 2 full passes over the quantized
    // corpus (training rounds, the reassignment rewrite, the drift
    // baseline). Reuse a caller-supplied `q` column when present (the
    // registered op passes the session-memoized qVecs cache — guide §1.2:
    // don't recompute what a sibling pass materialized); otherwise
    // quantize once and persist the NARROW (vec_id, q) projection for the
    // duration (guide §5: cache exactly the reused frame), dropping it
    // before returning. Quantization is the shared qExpr either way, so
    // assignments stay bit-identical.
    val (q, ephemeral) =
      if (vecs.columns.contains("q")) (vecs.select(col("vec_id"), col("q")), None)
      else {
        val p = Similarity.withQuantized(vecs.select(col("vec_id"), col("embedding")))
          .select(col("vec_id"), col("q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (p, Some(p))
      }
    try {
      val newCents = Similarity.trainCentroidsFrom(q)
      import s.implicits._
      val repo = open(s, repoDir)
      DvMaintenance.swap(repo.path(CentObj))(stage =>
        newCents.toDF("cell", "q").coalesce(1).write.parquet(stage))
      DvMaintenance.rewriteObject(s, repo, IndexObj, Keys,
        stored => reassignFrame(stored, q, newCents))
      // refresh the stored-side drift baseline to the NEW quantizer
      // (index-scale: cells × Dim rows) so a running maintainer's drift
      // evidence tracks the retrained generation (Streams.ivfIncrRepoSink
      // prefers this over its caller-supplied fallback)
      DvMaintenance.swap(repo.path(StoredAggObj))(stage =>
        Similarity.ivfDimAgg(q, newCents, "s_d", "n_s").write.parquet(stage))
      newCents.size
    } finally ephemeral.foreach(_.unpersist())
  }

  /** The retrain assignment-rewrite frame (every indexed vec_id
    * re-derived against the new quantizer; load_ts lineage kept) —
    * package-visible so the retrain-loop spec sweeps the exact frame the
    * bucketed rewrite writes (scan-local argmax + one vec_id equi-join;
    * never cartesian/BNLJ).
    */
  private[graft] def reassignFrame(stored: DataFrame, q: DataFrame,
                                   cents: Seq[(Long, Seq[Long])]): DataFrame =
    stored.select(col("vec_id"), col("load_ts"))
      .join(graft.queries.Similarity.assignCells(q, cents), Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("load_ts"))

  /** The stored-side (cell, pos) drift baseline's repo home — written by
    * [[retrainIvf]], preferred by the streaming maintainer when present.
    */
  val StoredAggObj = "ivf_stored_agg"

  def storedAgg(s: SparkSession, repoDir: String): Option[DataFrame] = {
    val path = open(s, repoDir).path(StoredAggObj)
    Option.when(DvMaintenance.liveExists(s, path))(s.read.parquet(path))
  }

  /** The maintenance DECISION (drift evidence → action): retrain iff the
    * drift report flags any cell (`retrain_flag` — orphaned cell or mean
    * displacement past the measured trigger), then append one recall row
    * per maintenance event (r13 verdict #7 — retrain decisions carry
    * recall evidence, not just drift micro-units: the constant-query
    * probe is cheap by construction). Returns whether a retrain ran.
    */
  def maintainIfDrifted(s: SparkSession, repoDir: String, drift: DataFrame,
                        corpus: DataFrame, eventTs: String,
                        logRecall: Boolean = true): Boolean = {
    // index-scale: the drift report is one row per cell
    val fired = drift.filter(col("retrain_flag") === 1L).limit(1).count() > 0
    if (fired) retrainIvf(s, repoDir, corpus)
    if (logRecall)
      appendRecall(s, repoDir, corpus, eventTs, if (fired) "retrain" else "append")
    fired
  }

  /** One recall row against the LIVE repo index (probe through the stored
    * centroids + stored assignments, scored on the exact brute-force
    * ground truth over the same corpus — the knn_recall_report
    * discipline), appended to `<repoDir>/recall_log` stamped with the
    * maintenance event that triggered it.
    */
  def appendRecall(s: SparkSession, repoDir: String, corpus: DataFrame,
                   eventTs: String, event: String): Unit =
    graft.queries.Similarity.repoIvfRecall(s, repoDir, corpus)
      .withColumn("event", lit(event))
      .withColumn("event_ts", lit(eventTs))
      .write.mode("append").parquet(open(s, repoDir).path("recall_log"))

  /** The index through the session catalog — carries the bucket spec. */
  def storedIndex(s: SparkSession, repoDir: String): DataFrame =
    open(s, repoDir).read(s, IndexObj, Keys)

  /** The micro-batch append PLAN: distinct arriving vec_ids not yet in
    * the index ([[DvLoader.Repo.novel]]) — exposed so StreamPlanSweepSpec
    * sweeps the exact frame [[appendAssigned]] writes.
    */
  def appendPlan(s: SparkSession, repoDir: String, assigned: DataFrame): DataFrame =
    open(s, repoDir).novel(s, IndexObj, Keys, assigned.dropDuplicates("vec_id"))

  /** Append only never-seen vec_ids from an assigned frame
    * (vec_id, cell, load_ts) through [[DvLoader.Repo.append]]. Returns rows
    * appended.
    */
  def appendAssigned(s: SparkSession, repoDir: String, assigned: DataFrame): Long =
    open(s, repoDir).append(s, IndexObj, Keys, assigned.dropDuplicates("vec_id"))

  /** Batch face: assign a vector batch to the repo's stored centroids
    * (scan-local literal argmax — no retrain) and append exactly-once.
    */
  def appendBatch(s: SparkSession, repoDir: String, vecs: DataFrame,
                  loadTs: String): Long = {
    import graft.queries.Similarity
    // reuse a pre-quantized `q` column when the caller has one (the
    // registered retrain op passes the session-memoized qVecs cache);
    // the quantization expression is identical either way
    val qf =
      if (vecs.columns.contains("q")) vecs.select(col("vec_id"), col("q"))
      else Similarity.withQuantized(vecs.select(col("vec_id"), col("embedding")))
    val assigned = Similarity.assignCells(qf, centroids(s, repoDir))
      .select(col("vec_id"), col("cell"), lit(loadTs).as("load_ts"))
    appendAssigned(s, repoDir, assigned)
  }

  /** One-file-per-bucket rewrite — [[DvMaintenance.rewriteObject]] (the
    * vault compaction's stage-and-swap, crash-safe) applied to the index
    * object.
    */
  def compact(s: SparkSession, repoDir: String): (Long, Long) =
    DvMaintenance.rewriteObject(s, open(s, repoDir), IndexObj, Keys, identity)
}
