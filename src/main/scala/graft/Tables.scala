package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Registry of the driver-generated source tables (TESTDATA.md).
  *
  * These play the role of pg_auto_dw's "operational source schema"
  * (reference: extension/src/model/queries.rs:65 builds the source-object
  * catalog from pg_catalog; here the catalog derives from parquet footers).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Scale-adaptive scan balancing — EXPLICIT call sites only (r14 second
    * measurement pass). The gate tables are single-file, SINGLE-ROW-GROUP
    * parquet, so a scan is ONE partition no matter what
    * `spark.sql.files.maxPartitionBytes` says (byte-range splits can't cut
    * inside a row group) and any per-row map before the first exchange
    * runs single-threaded. Batch 1 balanced EVERY load; the full-registry
    * re-measure showed that regresses the tail: the extra exchange costs
    * +0.3..1.6 s per op across ~100 light ops (A/B at sf0.1:
    * dedup_cluster +1.37, asof_join +1.47, dv_link_lineitem +1.63,
    * q10 +1.00 …) because the expensive derived frames (Docs.enriched
    * tokens, qVecs quantization) are session-CACHED — their serialized map
    * cost is paid once per session, while a blanket balance taxes every
    * scan of every op. Balancing now happens only where a caller declares
    * heavy UNCACHED scan-local per-row work (text_char_diversity's
    * run-length kernel: 5.53 s raw vs 0.86 s balanced — the one measured
    * case where the win is real and recurring).
    *
    * Scale-adaptive as before: fires only when the scan's partition count
    * is below the session parallelism (a no-op at cluster scale — nothing
    * here shuffles a 100 TB corpus), skips sub-[[BalanceMinBytes]]
    * broadcast-scale dims, hash-distributes on ONE key-named column (NOT
    * round-robin — keyless repartition(n) locally sorts its single input
    * partition first, guide §2.5; NOT a whole-row hash — that would defeat
    * column pruning). `GRAFT_BALANCE_SCANS=off` restores raw scans.
    * Row order is free to change: every operator is order-insensitive by
    * construction (SURVEY §5; the full gate re-proves it at every SF).
    */
  val BalanceMinBytes: Long = 256L * 1024
  private val balanceCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Boolean]

  private def balanced(spark: SparkSession, df: DataFrame, p: String): DataFrame = {
    val want = balanceCache.getOrElseUpdate((spark, p), {
      graft.queries.SessionCache.onSessionEnd(spark, "balance_cache") {
        balanceCache.keys.filter(_._1 eq spark).foreach(balanceCache.remove)
      }
      !sys.env.get("GRAFT_BALANCE_SCANS").contains("off") &&
        dirBytes(p) >= BalanceMinBytes &&
        df.rdd.getNumPartitions < spark.sparkContext.defaultParallelism
    })
    (want, balanceKey(df)) match {
      case (false, _) | (_, None) => df
      case (true, Some(k)) =>
        df.repartition(spark.sparkContext.defaultParallelism, xxhash64(col(k)))
    }
  }

  /** The first key-named primitive column — the balance partition key. */
  private def balanceKey(df: DataFrame): Option[String] =
    df.schema.fields.collectFirst {
      case f if f.name.matches(".*(key|id)$") &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] => f.name
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  /** Size-gated forced-broadcast hint for SF-SCALING dimension sides
    * (r14 verdict #5): part/supplier/customer-derived frames were hinted
    * `broadcast(...)` unconditionally — correct at the gate SFs (the
    * filtered side is KBs) but a forced driver/executor OOM at 100 TB,
    * where those tables scale with SF (the pagerank PrBroadcastableNodes
    * discipline, applied to the TPC-H dimension hints). The gate is the
    * SOURCE table's on-disk bytes — a conservative upper bound on any
    * frame derived from it, measured driver-side with zero Spark jobs.
    * Above the threshold (or when the size is unknowable: remote URI,
    * missing path → dirBytes 0) the hint is DROPPED, leaving the join
    * strategy to the planner/AQE, which still picks broadcast when the
    * runtime stats justify it. `graft.bcast.max.bytes` (sys prop, for the
    * ScaleSpec fallback pin) / `GRAFT_BCAST_MAX_BYTES` (env, deployment)
    * override the default, which matches the session's
    * autoBroadcastJoinThreshold.
    */
  val ForcedBroadcastMaxBytes: Long = 64L * 1024 * 1024

  private def bcastMaxBytes: Long =
    sys.props.get("graft.bcast.max.bytes").map(_.toLong)
      .orElse(sys.env.get("GRAFT_BCAST_MAX_BYTES").map(_.toLong))
      .getOrElse(ForcedBroadcastMaxBytes)

  def broadcastDim(spark: SparkSession, dir: String, table: String, df: DataFrame): DataFrame = {
    val bytes = dirBytes(path(dir, table))
    if (bytes > 0 && bytes <= bcastMaxBytes) broadcast(df) else df
  }

  /** [[load]] + the scale-adaptive balance — for callers whose plan runs
    * heavy per-row work scan-locally (before any exchange) on a frame that
    * is NOT session-cached. See the balancing note above for why this is
    * opt-in per call site rather than blanket.
    */
  def loadBalanced(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    balanced(spark, spark.read.parquet(p), p)
  }

  /** Format-dispatching loader for landing-zone data — the reference's
    * catalog is storage-agnostic (pg_catalog lists every table however it
    * is stored, model/queries.rs:65-321); graft's equivalent is one loader
    * covering the common landing formats. CSV reads header + schema
    * inference; JSON is JSON-lines with inference (inferred fields come
    * back alphabetically ordered — Spark's JSON contract).
    */
  /** Canonical `tms` (epoch-millis BIGINT) from whatever physical type the
    * driver shipped `ts` as. The testdata generator has already re-exported
    * events.ts as parquet TIMESTAMP(NANOS) (read as epoch-nanos LONG under
    * nanosAsLong) and later TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) — the
    * reference never hard-codes source types either, it derives everything
    * from the live catalog (extension/src/model/queries.rs:65-321), so graft
    * branches on the observed Spark type:
    *   - LongType          → epoch-nanos, `ts div 1e6` (exact for t > 0)
    *   - Timestamp[NTZ]    → `unix_millis(cast(ts as timestamp))`. The NTZ
    *     wall clock is interpreted via the session zone; every graft
    *     entrypoint pins spark.sql.session.timeZone=UTC (Tables.sessionConfs),
    *     which matches DuckDB's `epoch_ms(ts)` on the same naive value. The
    *     cast is a no-op for LTZ input.
    * Anything else is a drift shape we have not reasoned about — fail loudly
    * by name rather than mis-time every downstream event op.
    */
  def tmsFromTs(dt: DataType): Column = dt match {
    case LongType                          => expr("ts div 1000000")
    case TimestampType | TimestampNTZType  => expr("unix_millis(cast(ts as timestamp))")
    case other => throw new IllegalStateException(
      s"events.ts arrived as unsupported physical type $other — extend Tables.tmsFromTs")
  }

  /** THE events reader: every batch consumer of the event feed goes through
    * here and sees the canonical `tms` instead of the drift-prone raw `ts`
    * (which is dropped so no downstream expression can re-bind to it).
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.withColumn("tms", tmsFromTs(raw.schema("ts").dataType)).drop("ts")
  }

  def loadAs(spark: SparkSession, path: String, format: String): DataFrame = format match {
    case "parquet" => spark.read.parquet(path)
    case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    case "json" => spark.read.json(path)
    case other => throw new IllegalArgumentException(s"unsupported landing format: $other")
  }

  /** Session defaults applied by every entrypoint (Verify/Bench/tests).
    * nanosAsLong: kept DELIBERATELY even though current testdata ships
    * TIMESTAMP(MICROS) — parquet TIMESTAMP(NANOS) (which earlier testdata
    * exports used) is otherwise rejected outright by Spark's reader
    * ("Illegal Parquet type"), so this conf is the only path that keeps a
    * nanos re-export readable at all. It is a no-op for micros/LTZ data,
    * and loadEvents normalizes whichever shape arrives (LONG when this conf
    * fires on nanos, TIMESTAMP_NTZ for micros) into the same `tms`.
    * timeZone=UTC is load-bearing for that normalization — see tmsFromTs.
    */
  def sessionConfs(dataDirs: Seq[String] = Nil): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // load-bearing for bucketed rewrites (DvMaintenance.rewriteObject): a
    // rewrite reads its object's bucketed scan so the planner can drop the
    // writer's repartition, and with auto bucketed scan on Spark then turns
    // that scan off (no operator left needs its partitioning), scattering
    // each bucket over several tasks and files; the rewrite refuses that
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    "spark.io.compression.codec" -> ioCodecFor(dataDirs),
    // local-mode resilience: the executor IS the driver, so a heartbeat
    // timeout can only be a false positive (a long GC pause or a host-level
    // CPU-steal stall — observed 140 s on this VM killing a healthy 100x
    // dry-run mid-op). 600 s rides out any plausible stall; on a real
    // cluster this would be tuned per-site, and lost-executor handling is
    // the scheduler's job, not a session default.
    "spark.network.timeout" -> "600s"
  )

  /** ADAPTIVE shuffle/spill codec (r10 verdict #4 introduced zstd; r11
    * verdict #2 makes it scale-gated like DvGo's staging threshold —
    * the precedent this constant mirrors). The DV build's shuffle
    * payload is hash-hex-string-heavy (two 64-char digests per sat/link
    * row) where zstd compresses ~1.5-2x better than lz4: at sf3+/sf10
    * the single-node transient-disk budget is the binding constraint
    * (lz4 peaked 30.4 GB at sf3; zstd is part of why sf10 fits in
    * 52 GB), and on a real cluster shuffle bytes ARE the network bill.
    * But below the threshold the disk budget never binds and zstd's CPU
    * tax is a pure loss (~6-11% on the sf0.1 bench, r10 verdict #3) —
    * so sessions over small data keep lz4. The switch is per-SESSION
    * (spark.io.* is a core conf, fixed at context construction), decided
    * on the total on-disk bytes of the data dirs the entrypoint is about
    * to process; a session given no dirs defaults to lz4 (every dir-less
    * entrypoint here is gate-scale). GRAFT_IO_CODEC still overrides both
    * ways for deployments that know their disk/CPU balance.
    */
  val IoCodecThresholdBytes: Long = 256L * 1024 * 1024

  private[graft] def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  /** The bytes-based form for entrypoints that know their effective scale
    * better than their input dir shows (Sf1Gen's output is Copies x its
    * input; a cluster deployment would pass its table-catalog size).
    */
  def ioCodecForBytes(bytes: Long): String =
    sys.env.getOrElse("GRAFT_IO_CODEC",
      if (bytes > IoCodecThresholdBytes) "zstd" else "lz4")

  def ioCodecFor(dataDirs: Seq[String]): String =
    ioCodecForBytes(dataDirs.map(dirBytes).sum)

  def applyConfs(b: SparkSession.Builder, dataDirs: String*): SparkSession.Builder =
    sessionConfs(dataDirs).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
