package graft.dv

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-catalog home for a streaming sink's exactly-once stored side —
  * the IvfIndexRepo discipline generalized to the pair/window sinks (r13
  * verdict #2): `nearDupSinkPlan`, `semanticProdSinkPlan` and
  * `packSinkPlan` used to re-read a PLAIN-parquet stored side per
  * micro-batch — an unbucketed anti-join right side at corpus-pair scale,
  * reshuffled on every batch, forever. Here the stored rows live as ONE
  * bucketed object keyed by the sink's anti-join keys, read AND appended
  * and appended only through [[DvLoader.appendNovel]] (the bucketed-repo
  * invariant: plain parquet appends would corrupt the bucket layout), so
  * the anti-join's stored side carries its bucket spec and needs no
  * Exchange.
  * `sink_meta.json` pins (table_prefix, buckets) exactly like
  * `ivf_meta.json` / dv_schema.json's bucketing block, so any session
  * resolves the same spec; compaction is the ordinary
  * [[DvMaintenance.compactBucketedObject]] stage-and-swap, and the
  * per-object writer lease covers appends like every vault object.
  *
  * Single writer per sink dir: the sink's foreachBatch hook IS the
  * single-writer window (the ContinuousPipeline contract); the lease makes
  * a violation fail loudly instead of corrupting.
  */
object SinkRepo {

  /** The one stored object per sink repo. */
  val Obj = "rows"

  // Meta IO through the session's Hadoop FS (r15 ADVICE: java.nio worked
  // for local paths only, while the data layer underneath already handles
  // any supported filesystem URI — a sink on hdfs://s3 would have failed
  // at the META read, the confusing place).
  private def metaPath(dir: String) = s"$dir/sink_meta.json"

  /** Unique, rebuild-stable catalog prefix per sink dir (the
    * DvGo.tablePrefix derivation): normalized-path hash, so two sinks in
    * different dirs never collide and a re-opened sink reuses its entry.
    */
  private def tablePrefix(dir: String): String = {
    val canonical = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
    "graft_sink_" + java.util.UUID.nameUUIDFromBytes(canonical.getBytes).toString
      .replace("-", "").take(12) + "_"
  }

  /** The sink's bucket spec, creating the meta on first call. Idempotent;
    * `buckets` only applies to the creating call (later calls read the
    * pinned spec — the dv_schema.json discipline).
    *
    * Guards (r15 ADVICE): a dir that already holds top-level part-* files
    * but no sink_meta.json is a PRE-SinkRepo plain-parquet sink — its rows
    * live outside `rows/`, so adopting it silently would make every stored
    * row invisible to the anti-join (a resumed checkpoint would re-append
    * previously flagged pairs). Fail loudly instead of violating
    * exactly-once. Meta creation is write-temp + rename: rename does not
    * overwrite, so two sessions racing a fresh sink both end up reading
    * ONE winner's spec instead of interleaving a partial write.
    */
  def ensure(s: SparkSession, dir: String, buckets: Int = 8): DvLoader.Bucketing = {
    val mp = new org.apache.hadoop.fs.Path(metaPath(dir))
    val fs = mp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) {
      val dirP = new org.apache.hadoop.fs.Path(dir)
      if (fs.exists(dirP)) {
        val legacy = fs.listStatus(dirP).exists(st =>
          st.isFile && st.getPath.getName.startsWith("part-"))
        require(!legacy,
          s"$dir holds top-level parquet files but no sink_meta.json — this is a " +
            "pre-SinkRepo plain-parquet sink; migrate its files into " +
            s"$dir/$Obj (and write a sink_meta.json) before reopening, or the " +
            "stored rows would be invisible to the exactly-once anti-join")
      }
      fs.mkdirs(dirP)
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s".sink_meta.json.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      scala.util.Using.resource(fs.create(tmp, false)) { out =>
        out.write(s"""{"table_prefix": "${tablePrefix(dir)}", "buckets": $buckets}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      // rename refuses an existing destination: the loser of a creation
      // race cleans up its temp and reads the winner's pinned spec
      if (!fs.rename(tmp, mp)) fs.delete(tmp, false)
    }
    bucketing(s, dir).get
  }

  /** The pinned bucket spec, None before [[ensure]] created the meta. */
  def bucketing(s: SparkSession, dir: String): Option[DvLoader.Bucketing] =
    DvLoader.readBucketing(s, metaPath(dir))

  /** The exactly-once micro-batch plan: `rows` whose `keys` the sink has
    * not stored yet ([[DvLoader.novelRows]] on the bucketed object).
    */
  def novel(s: SparkSession, dir: String, keys: Seq[String], rows: DataFrame): DataFrame =
    DvLoader.novelRows(s, rows, s"$dir/$Obj", keys, bucketing(s, dir))

  /** Append [[novel]] through the catalog under the pinned spec and the
    * per-object writer lease ([[DvLoader.appendNovel]]), creating the
    * meta on the first batch. Returns rows appended.
    */
  def load(s: SparkSession, dir: String, keys: Seq[String], rows: DataFrame): Long =
    DvLoader.appendNovel(s, rows, s"$dir/$Obj", keys, Some(ensure(s, dir)))

  /** Content face for consumers and parity checks (plain read — row
    * content only; loads read the bucketed stored side through [[novel]]).
    */
  def read(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/$Obj")

  /** One-file-per-bucket rewrite — the vault compaction applied to the
    * sink's stored object (same crash ladder, same lease).
    */
  def compact(s: SparkSession, dir: String, keys: Seq[String]): (Long, Long) =
    DvMaintenance.compactBucketedObject(s, dir, Obj, keys,
      bucketing(s, dir).getOrElse(sys.error(s"sink repo at $dir not initialized")))
}
