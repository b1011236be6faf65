package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.dv.{ContinuousPipeline, DvGo, DvLoader, DvMaintenance, DvPlanner}
import graft.queries.SessionCache

/** The JVM half of the benchmark: runs one workload against graft's public
  * entry points in one Spark session, one caller thread, closed loop, and
  * writes raw timings, counts to check and (traced) per-layer figures as
  * JSON. `perfbench/run.py` generates the inputs, checks the outputs and
  * reduces the figures.
  *
  *   PerfBench --workload W --seconds S --trace 0|1
  *             --src DIR --work DIR --plan FILE --out FILE
  *
  * Nothing this class measures is ever passed to graft: the program only
  * sees the generated parquet inputs.
  */
object PerfBench {
  /** `sessionS`: JVM entry to a ready session, the first part of set-up. */
  final class Ctx(val s: SparkSession, val args: Map[String, String], val sessionS: Double) {
    val src: String = args("src")
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val cores: Int = s.sparkContext.defaultParallelism
    val plan: com.fasterxml.jackson.databind.JsonNode = Json.read(args("plan"))
    val spans = new Spans
    val recorder: Option[Recorder] = if (traced) Some(new Recorder) else None
    /** Traced micro-batch runs alternate: odd batches run with the
      * recorder attached, even ones without, so overhead = p50(odd) -
      * p50(even).
      */
    def recorded(op: Int): Option[Recorder] = recorder.filter(_ => op % 2 == 1)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val s = Tables.applyConfs(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse"), args("src"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // a trivial job: the session is not ready until the scheduler has run one
    s.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val c = new Ctx(s, args, sessionS)
    args("workload") match {
      case "microbatch_load" => MicrobatchLoad.run(c)
      case "query_mix" => QueryMix.run(c)
      case w => sys.error(s"unknown workload $w")
    }
    c.out("spans") = c.spans.all.map { sp =>
      val base = Map[String, Any]("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op,
        "name" -> sp.name, "t0" -> sp.t0, "t1" -> sp.t1)
      // a traced span's wall, split into job time and driver time, and
      // its job time by module
      c.recorder.map(Window.of(_, sp)).filter(_.jobs.nonEmpty).fold(base) { w =>
        base ++ Map("jobs" -> w.jobs.size, "job_s" -> w.jobS, "driver_s" -> w.driverS,
          "busy_s" -> w.jobs.map(_.module).distinct.map(m => m -> w.busyS(m)).toMap)
      }
    }.toSeq
    c.out("layers") = c.layers.toMap
    c.out("rss_hwm_kb") = rssHwmKb()
    Files.writeString(Paths.get(args("out")), Json(c.out.toMap))
    s.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def rssHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def dirBytes(p: String): Long = files(p).map(Files.size).sum

  def dataFiles(p: String): Int = files(p).count(_.getFileName.toString.startsWith("part-"))

  private def files(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.filter(Files.isRegularFile(_)).toList)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-operation averages of the generic window figures, under `prefix`,
    * plus the busy seconds per operation of every module that ran a job.
    */
  def windowFigures(c: Ctx, prefix: String, ws: Seq[Window]): Unit = {
    if (ws.nonEmpty) {
      val n = ws.size.toDouble
      c.layers(s"$prefix.jobs") = ws.map(_.jobs.size).sum / n
      c.layers(s"$prefix.tasks") = ws.map(_.tasks.size).sum / n
      c.layers(s"$prefix.core_util") = mean(ws.map(_.coreUtil(c.cores)))
      c.layers(s"$prefix.input_mb") = ws.map(_.inputB).sum / n / 1e6
      c.layers(s"$prefix.shuffle_read_mb") = ws.map(_.shuffleReadB).sum / n / 1e6
      c.layers(s"$prefix.shuffle_write_mb") = ws.map(_.shuffleWriteB).sum / n / 1e6
      c.layers(s"$prefix.spill_mb") = ws.map(_.spillB).sum / n / 1e6
      c.layers(s"$prefix.gc_s") = ws.map(_.gcS).sum / n
      c.layers(s"$prefix.failed_tasks") = ws.map(_.failedTasks).sum / n
      c.layers(s"$prefix.job_s") = median(ws.map(_.jobS))
      c.layers("spark.driver_s") = median(ws.map(_.driverS))
      ws.flatMap(_.jobs.map(_.module)).distinct.foreach(m =>
        c.layers(s"$m.busy_s") = ws.map(_.busyS(m)).sum / n)
    }
  }

  /** Traced-minus-untraced median batch wall (see Ctx.recorded). */
  def overhead(c: Ctx, opWalls: Seq[(Int, Double)]): Unit = if (c.traced) {
    val (on, off) = opWalls.partition(_._1 % 2 == 1)
    c.layers("trace.overhead_s") = median(on.map(_._2)) - median(off.map(_._2))
  }
}

/** The one-click build: derivedPlan, then the bucketed go() into a fresh
  * vault.
  */
object VaultBuild {
  import PerfBench._
  /** Buckets per vault object, goBucketedE2E's count: go()'s default of
    * 64 splits these few-MB vaults into 704 files of a few KB each.
    */
  val Buckets = 16

  /** The timed build of `dir` into `vault`, with the figures the output
    * check and the traced run need.
    */
  def build(c: Ctx, dir: String, vault: String): Map[String, Any] = {
    val s = c.s
    val (res, wall) = Recorder.during(s.sparkContext, c.recorder) {
      timed(c.spans("build", -1) {
        val plan = c.spans("DvGo.derivedPlan", -1)(DvGo.derivedPlan(s, dir))
        c.spans("DvGo.go", -1)(DvGo.go(s, dir, vault, bucketed = true, buckets = Buckets,
          plan = Some(plan)))
      })
    }
    Map[String, Any]("dir" -> dir, "wall_s" -> wall,
      "counts" -> res.objects.toMap, "vault_bytes" -> dirBytes(vault),
      "vault_files" -> dataFiles(vault),
      "source_bytes" -> DvPlanner.GoScope.map(t => dirBytes(Tables.path(dir, t))).sum,
      "classify_stats_s" -> SessionCache.buildLog(s)
        .collect { case (tag, t) if tag == s"classify_stats@$dir" => t }.sum)
  }

  /** The traced figures of the build's spans. */
  def layers(c: Ctx, b: Map[String, Any]): Unit = c.recorder.foreach { rec =>
    def w(name: String) = Window.of(rec, c.spans.named(name).head)
    val go = w("DvGo.go")
    val all = w("build")
    c.layers("dv.DvPlanner.plan_s") = w("DvGo.derivedPlan").wallS
    c.layers("queries.SessionCache.classify_stats_s") = b("classify_stats_s").asInstanceOf[Double]
    c.layers("dv.DvGo.write_s") = go.wallS
    c.layers("dv.DvGo.jobs") = go.jobs.size
    c.layers("dv.DvGo.tasks") = go.tasks.size
    c.layers("dv.DvGo.core_util") = go.coreUtil(c.cores)
    c.layers("dv.DvGo.shuffle_write_mb") = go.shuffleWriteB / 1e6
    c.layers("dv.DvGo.spill_mb") = go.spillB / 1e6
    c.layers("dv.DvGo.gc_s") = go.gcS
    c.layers("dv.DvGo.failed_tasks") = go.failedTasks
    c.layers("dv.DvGo.files_written") = b("vault_files").asInstanceOf[Int]
    c.layers("dv.DvGo.vault_mb") = b("vault_bytes").asInstanceOf[Long] / 1e6
    c.layers("Tables.scan_amp") = all.inputB.toDouble / b("source_bytes").asInstanceOf[Long]
    // the build's job time by module, as windowFigures does per operation
    all.jobs.map(_.module).distinct.foreach(m => c.layers(s"$m.build_busy_s") = all.busyS(m))
  }
}

/** The background loop in steady state: a bucketed vault bootstrapped by
  * go(), then constant-size batches (rotating customer, orders, lineitem)
  * through ContinuousPipeline.onBatch, with erasure requests on a fixed
  * cadence and compaction of the fed objects after every rotation. The
  * timed unit is the rotation: one batch of each table, so a run's
  * figures do not depend on which table's batch lands in the middle.
  */
object MicrobatchLoad {
  import PerfBench._
  val Fed: Map[String, Seq[String]] = Map(
    "customer" -> Seq("hub_customer", "sat_customer", "sat_customer_sensitive"),
    "orders" -> Seq("hub_order", "sat_orders", "link_orders"),
    "lineitem" -> Seq("hub_lineitem", "sat_lineitem", "link_lineitem"))

  private def vaultCounts(s: SparkSession, vault: String, objs: Seq[String]): Map[String, Long] = {
    val prefix = DvLoader.readSchema(s, vault).bucketing.get.tablePrefix
    objs.map(o => o -> s.table(s"$prefix$o").count()).toMap
  }

  def run(c: Ctx): Unit = {
    val s = c.s
    // set-up: the cold one-click build of the seeded sources into the
    // vault the feed loads
    val vault = s"${c.work}/vault"
    val build = VaultBuild.build(c, c.src, vault)
    c.out("build") = build
    val boot = build("counts").asInstanceOf[Map[String, Long]]
    val objs = boot.keys.toSeq.sorted
    val st = ContinuousPipeline.State(s"${c.work}/catalog", s"${c.work}/responses", vault,
      erasureDir = Some(s"${c.work}/erasure"))
    val sensitive = DvLoader.readSchema(s, vault).sats.find(_.sensitive).get
    val batches = c.plan.get("batches").elements().asScala.toSeq
    val warm = c.plan.get("warmup").asInt()

    def fileErasures(b: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val keys = b.get("erase").elements().asScala.map(_.asLong()).toSeq
      if (keys.nonEmpty) {
        import graft.functions.GraftFunctions.{canon, dvHash}
        import s.implicits._
        keys.toDF("c_custkey")
          .select(lit(s"sat_${sensitive.name}").as("obj"),
            dvHash(sensitive.bkParts.map(p => canon(col(p.name), p.typeName))).as("hk"))
          .write.mode("append").parquet(s"${c.work}/erasure/requests")
      }
    }
    def deliver(i: Int, op: Int): Double = {
      val b = batches(i)
      fileErasures(b)
      val df = s.read.parquet(b.get("path").asText())
      val table = b.get("table").asText()
      val scanTs = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusSeconds(i)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      timed(c.spans("ContinuousPipeline.onBatch", op)(
        ContinuousPipeline.onBatch(s, st, table, df, scanTs, loadTs = s"batch_$i")))._2
    }
    // compaction of every fed object, concurrently like goBucketedE2E's;
    // returns the summed (files before, files after)
    def compact(op: Int): (Long, Long) = c.spans("DvMaintenance.compactBucketed", op) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val r = Await.result(Future.sequence(Fed.values.flatten.toSeq.map(o =>
        Future(DvMaintenance.compactBucketed(s, vault, o)))), Duration.Inf)
      (r.map(_._1).sum, r.map(_._2).sum)
    }
    // warm-up rotation: the first batch of each table initializes its
    // catalog slice and classifies every column — set-up, not steady state
    val (_, warmS) = timed((0 until warm).foreach(i =>
      Recorder.during(s.sparkContext, c.recorder)(deliver(i, -1 - i))))
    c.out("setup_s") = c.sessionS + build("wall_s").asInstanceOf[Double] + warmS

    val walls = mutable.ArrayBuffer.empty[(Int, Double)]
    // per rotation, its mean batch wall
    val rounds = mutable.ArrayBuffer.empty[Double]
    val compactions = mutable.ArrayBuffer.empty[Map[String, Any]]
    val filesAdded = mutable.ArrayBuffer.empty[Int]
    var failed = 0
    var i = warm
    val t0 = System.nanoTime()
    // whole rotations only, so every run loads the same table mix; a
    // traced run takes two, so that every table has a batch with and one
    // without the recorder
    val minBatches = if (c.traced) 2 * Fed.size else Fed.size
    def more: Boolean = {
      val done = i - warm
      done < minBatches || done % Fed.size != 0 || (System.nanoTime() - t0) / 1e9 < c.seconds
    }
    while (i < batches.size && more) {
      val op = i - warm
      val rec = c.recorded(op)
      val f0 = dataFiles(vault)
      try walls += op -> Recorder.during(s.sparkContext, rec)(deliver(i, op))
      catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] batch $i failed: $e") }
      filesAdded += dataFiles(vault) - f0
      i += 1
      if ((i - warm) % Fed.size == 0) {
        val rw = walls.collect { case (o, w) if o > op - Fed.size => w }
        if (rw.nonEmpty) rounds += rw.sum / rw.size
        val bytes = Fed.values.flatten.map(o => dirBytes(s"$vault/$o")).sum
        val ((fb, fa), t) = Recorder.during(s.sparkContext, c.recorder)(timed(compact(op)))
        compactions += Map("s" -> t, "bytes" -> bytes, "files_before" -> fb, "files_after" -> fa)
      }
    }
    val measured = (System.nanoTime() - t0) / 1e9
    val delivered = i
    val after = vaultCounts(s, vault, objs)
    c.out("measured_s") = measured
    c.out("attempted") = delivered - warm
    c.out("failed") = failed
    c.out("op_walls") = walls.map(_._2).toSeq
    c.out("rounds") = rounds.toSeq
    c.out("delivered") = delivered
    c.out("final_counts") = after
    c.out("vault_bytes") = dirBytes(vault)
    c.out("oracle_sql") = DvGo.goSummarySql
    c.out("compactions") = compactions.toSeq
    if (c.traced) {
      VaultBuild.layers(c, build)
      val rec = c.recorder.get
      val tracedOps = walls.map(_._1).filter(_ % 2 == 1).toSet
      val batchSpans = c.spans.named("ContinuousPipeline.onBatch").filter(sp => tracedOps(sp.op))
      val ws = batchSpans.map(Window.of(rec, _))
      windowFigures(c, "microbatch_load", ws)
      c.layers("dv.ContinuousPipeline.jobs_per_batch") = mean(ws.map(_.jobs.size.toDouble))
      val novel = batchSpans.map(sp => batches(sp.op + warm).get("novel").asDouble()).sum
      c.layers("dv.DvLoader.read_bytes_per_novel_row") =
        if (novel > 0) ws.map(_.inputB).sum / novel else 0.0
      c.layers("dv.DvLoader.files_per_batch") = mean(filesAdded.map(_.toDouble).toSeq)
      c.layers("dv.DvMaintenance.compact_s") = median(compactions.map(_("s").asInstanceOf[Double]).toSeq)
      c.layers("dv.DvMaintenance.compact_mb_rewritten") =
        mean(compactions.map(_("bytes").asInstanceOf[Long] / 1e6).toSeq)
      c.layers("dv.DvMaintenance.files_before") =
        mean(compactions.map(_("files_before").asInstanceOf[Long].toDouble).toSeq)
      c.layers("dv.DvMaintenance.files_after") =
        mean(compactions.map(_("files_after").asInstanceOf[Long].toDouble).toSeq)
      val erasing = batchSpans.zip(ws).filter { case (sp, _) =>
        batches(sp.op + warm).get("erase").size() > 0 }
      c.layers("dv.DvMaintenance.purge_s") =
        mean(erasing.map(_._2.busyS("dv.DvMaintenance")).toSeq)
      c.layers("microbatch_load.vault_files") = dataFiles(vault).toDouble
    }
    overhead(c, walls.toSeq)
  }
}

/** Analyst and corpus-curation reads on a memo-warm session: a fixed set
  * of SparkEntry.queries, each run through the `noop` sink so every
  * column is computed, cycled in the seeded order the plan gives. The
  * timed unit is the round, one pass over every query, as MicrobatchLoad's
  * is the rotation.
  */
object QueryMix {
  import PerfBench._

  def run(c: Ctx): Unit = {
    val s = c.s
    val names = c.plan.get("queries").elements().asScala.map(_.asText()).toSeq
    val order = c.plan.get("order").elements().asScala.map(_.asText()).toSeq
    val moduleOf: Map[String, String] = SparkEntry.modules.flatMap(m =>
      m.defs.map(d => d.name -> ("queries." + m.getClass.getSimpleName.stripSuffix("$")))).toMap
    val q = SparkEntry.queries
    def runOne(name: String, op: Int, suffix: String = ""): Double =
      timed(c.spans(s"query.$name$suffix", op)(
        q(name)(s, c.src).write.format("noop").mode("overwrite").save()))._2
    // set-up: one pass over every query builds the session memos; this
    // pass writes each full result out for the output check
    val dump = s"${c.work}/results"
    val (_, warmS) = timed(names.zipWithIndex.foreach { case (n, j) =>
      c.spans(s"query.$n", -1 - j)(q(n)(s, c.src).write.mode("overwrite").parquet(s"$dump/$n"))
    })
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json(names.map(n => n -> oracle(n)).toMap))
    c.out("results_dir") = dump
    c.out("setup_s") = c.sessionS + warmS
    val memoAfterSetup = SessionCache.buildLog(s)
    val cachedB = s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    val walls = mutable.ArrayBuffer.empty[(Int, String, Double)]
    // per round, its mean query wall
    val rounds = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var op = 0
    val t0 = System.nanoTime()
    // whole rounds only, so every run times the same query multiset, and
    // at least two: a round takes about 10 s on 4 cores, and one round's
    // mean moves with the host more than two rounds' median does
    def more: Boolean =
      op < 2 * names.size || op % names.size != 0 || (System.nanoTime() - t0) / 1e9 < c.seconds
    while (op < order.size && more) {
      val name = order(op)
      // a traced run times each query twice back to back, without and
      // with the recorder, alternating which goes first: the difference
      // is the tracing overhead
      try {
        val first = op % 2 == 0
        if (c.traced && first) untraced += runOne(name, op, ".untraced")
        walls += ((op, name, Recorder.during(s.sparkContext, c.recorder)(runOne(name, op))))
        if (c.traced && !first) untraced += runOne(name, op, ".untraced")
      } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] $name failed: $e") }
      op += 1
      if (op % names.size == 0) {
        val rw = walls.collect { case (o, _, w) if o >= op - names.size => w }
        if (rw.nonEmpty) rounds += rw.sum / rw.size
      }
    }
    c.out("measured_s") = (System.nanoTime() - t0) / 1e9
    c.out("attempted") = op
    c.out("failed") = failed
    c.out("op_walls") = walls.map(_._3).toSeq
    c.out("op_names") = walls.map(_._2).toSeq
    c.out("rounds") = rounds.toSeq
    val memoTimed = SessionCache.buildLog(s).size - memoAfterSetup.size
    if (c.traced) {
      val rec = c.recorder.get
      val ws = walls.map { case (o, n, _) =>
        Window.of(rec, c.spans.named(s"query.$n").find(_.op == o).get) }.toSeq
      windowFigures(c, "query_mix", ws)
      walls.groupBy(w => moduleOf(w._2)).foreach { case (m, xs) =>
        c.layers(s"$m.p50_s") = median(xs.map(_._3).toSeq) }
      c.layers("queries.SessionCache.memo_build_s") = memoAfterSetup.map(_._2).sum
      c.layers("queries.SessionCache.memo_builds") = memoAfterSetup.size.toDouble
      c.layers("queries.SessionCache.memo_builds_timed") = memoTimed.toDouble
      c.layers("queries.SessionCache.cached_mb") = cachedB / 1e6
      c.layers("trace.overhead_s") = median(walls.map(_._3).toSeq) - median(untraced.toSeq)
    }
  }
}

/** JSON in and out, through the Jackson Spark ships with. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
