package graft.dv

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-catalog home for every insert-only store outside a vault and
  * the IVF index: the streaming pair/window sinks' exactly-once stored
  * sides, the IVF drift log (`Streams.ivfIncrRepoSink`) and the
  * `corpus_pack_write` sequence table. The stored rows live as ONE
  * object of a [[DvLoader.Repo]] keyed by the anti-join keys, so the
  * anti-join's stored side carries its bucket spec and needs no Exchange.
  * `sink_meta.json` pins the repo's layout like `ivf_meta.json` /
  * dv_schema.json's bucketing block; compaction is
  * [[DvMaintenance.rewriteObject]], and the per-object writer lease
  * covers appends like every vault object. What a sink adds: the meta is
  * created on its first load ([[ensure]]), and no meta means nothing stored.
  *
  * Single writer per sink dir: the sink's foreachBatch hook IS the
  * single-writer window (the ContinuousPipeline contract); the lease makes
  * a violation fail loudly instead of corrupting.
  */
object SinkRepo {

  /** The one stored object per sink repo. */
  val Obj = "rows"

  private val MetaName = "sink_meta.json"

  /** The sink's repo, creating the meta on first call. Idempotent;
    * `buckets` only applies to the creating call (later calls read the
    * pinned spec — the dv_schema.json discipline).
    *
    * Guards (r15 ADVICE): a dir that already holds top-level part-* files
    * but no sink_meta.json is a PRE-SinkRepo plain-parquet sink — its rows
    * live outside `rows/`, so adopting it silently would make every stored
    * row invisible to the anti-join (a resumed checkpoint would re-append
    * previously flagged pairs). Fail loudly instead of violating
    * exactly-once. The meta is pinned create-once ([[DvLoader.Repo.pin]]).
    */
  def ensure(s: SparkSession, dir: String, buckets: Int = 8): DvLoader.Repo = {
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, MetaName)) && fs.exists(dirP)) {
      val legacy = fs.listStatus(dirP).exists(st =>
        st.isFile && st.getPath.getName.startsWith("part-"))
      require(!legacy,
        s"$dir holds top-level parquet files but no $MetaName — this is a " +
          s"pre-SinkRepo plain-parquet sink; migrate its files into its '$Obj' " +
          s"dir (and write a $MetaName) before reopening, or the " +
          "stored rows would be invisible to the exactly-once anti-join")
    }
    DvLoader.Repo.pin(s, dir, MetaName, buckets)
  }

  /** The sink's repo, None before [[ensure]] created the meta. */
  def open(s: SparkSession, dir: String): Option[DvLoader.Repo] =
    DvLoader.Repo.open(s, dir, MetaName)

  /** The exactly-once micro-batch plan: `rows` whose `keys` the sink has
    * not stored yet ([[DvLoader.Repo.novel]]). A sink without meta has
    * stored nothing ([[load]] pins the meta before its first append), so
    * all of `rows` is novel.
    */
  def novel(s: SparkSession, dir: String, keys: Seq[String], rows: DataFrame): DataFrame =
    open(s, dir).fold(rows)(_.novel(s, Obj, keys, rows))

  /** Append [[novel]] through the sink's repo ([[DvLoader.Repo.append]]),
    * creating the meta on the first batch. Returns rows appended.
    */
  def load(s: SparkSession, dir: String, keys: Seq[String], rows: DataFrame): Long =
    ensure(s, dir).append(s, Obj, keys, rows)

  /** Content face for consumers and parity checks (plain read — row
    * content only; loads read the bucketed stored side through [[novel]]).
    */
  def read(s: SparkSession, dir: String): DataFrame = s.read.parquet(initialized(s, dir).path(Obj))

  /** One-file-per-bucket rewrite — [[DvMaintenance.rewriteObject]] (the
    * vault compaction's stage-and-swap, lease and crash ladder) applied to
    * the sink's stored object.
    */
  def compact(s: SparkSession, dir: String, keys: Seq[String]): (Long, Long) =
    DvMaintenance.rewriteObject(s, initialized(s, dir), Obj, keys, identity)

  private def initialized(s: SparkSession, dir: String): DvLoader.Repo =
    open(s, dir).getOrElse(sys.error(s"sink repo at $dir not initialized"))
}
