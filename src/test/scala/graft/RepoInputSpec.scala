package graft

import graft.dv.{DvBuild, DvGo, DvLoader, DvPlanner, SinkRepo}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Bad repo input fails loudly and names itself. The insert-only append
  * path treats ONLY a missing stored object as "nothing stored yet"; a
  * malformed meta file, a pre-SinkRepo sink dir, a repo schema without its
  * bucket spec, or a stored object that lost its hash-key column must fail
  * the load instead of silently degrading it to a full (duplicate) insert.
  */
class RepoInputSpec extends SparkSpec {

  private lazy val cust = Tables.load(spark, sfDir, "customer").limit(50)

  test("a sink_meta.json without buckets fails, naming the file and the field") {
    val dir = Files.createTempDirectory("graft_bad_meta").toString
    try {
      Files.writeString(Paths.get(s"$dir/sink_meta.json"), """{"table_prefix": "bad_meta_"}""")
      val e = intercept[RuntimeException](SinkRepo.bucketing(spark, dir))
      assert(e.getMessage.contains(s"$dir/sink_meta.json") && e.getMessage.contains("buckets"),
        e.getMessage)
      // a load through the sink fails the same way and lands nothing
      val e2 = intercept[RuntimeException](SinkRepo.load(spark, dir, Seq("c_custkey"), cust))
      assert(e2.getMessage.contains("sink_meta.json") && e2.getMessage.contains("buckets"))
      assert(!Files.exists(Paths.get(s"$dir/${SinkRepo.Obj}")))
    } finally DvLoader.deletePath(Paths.get(dir))
  }

  test("SinkRepo.ensure refuses a pre-SinkRepo dir of top-level part files") {
    val dir = Files.createTempDirectory("graft_legacy_sink").toString
    try {
      cust.select("c_custkey").write.mode("overwrite").parquet(dir)
      val e = intercept[IllegalArgumentException](SinkRepo.ensure(spark, dir))
      assert(e.getMessage.contains(dir) && e.getMessage.contains("sink_meta.json"), e.getMessage)
      assert(!Files.exists(Paths.get(s"$dir/sink_meta.json")), "guard still adopted the dir")
    } finally DvLoader.deletePath(Paths.get(dir))
  }

  test("only a missing vault object means fresh: a stored object without its hash key fails the load") {
    val fresh = Files.createTempDirectory("graft_fresh_repo").toString
    val broken = Files.createTempDirectory("graft_broken_repo").toString
    try {
      Seq(fresh, broken).foreach(r => emptyVault(r, "repo-input", Set("hub_customer")))
      // missing object: the first batch is a full insert (keys + 2 ghosts)
      DvLoader.streamTableLoadBatch(spark, cust, "customer", fresh, "t0")
      assert(spark.read.parquet(s"$fresh/hub_customer").count() ==
        cust.select("c_custkey").distinct().count() + 2)
      // stored object present but its hash-key column renamed: the load
      // throws and appends nothing
      DvBuild.hub(spark, sfDir, DvPlanner.hubCustomer, ordered = false)
        .withColumnRenamed("hub_customer_hk", "renamed_hk")
        .write.mode("overwrite").parquet(s"$broken/hub_customer")
      val before = spark.read.parquet(s"$broken/hub_customer").count()
      intercept[org.apache.spark.sql.AnalysisException](
        DvLoader.streamTableLoadBatch(spark, cust.withColumn("c_custkey",
          col("c_custkey") + 1000000L), "customer", broken, "t1"))
      assert(spark.read.parquet(s"$broken/hub_customer").count() == before)
    } finally {
      DvLoader.deletePath(Paths.get(fresh))
      DvLoader.deletePath(Paths.get(broken))
    }
  }

  test("a dv_schema.json without bucketing fails the load, naming the file and the field") {
    val repo = Files.createTempDirectory("graft_unbucketed_repo").toString
    try {
      val json = DvGo.planJson(DvPlanner.literalPlan, "repo-input", Set("hub_customer"),
        (DvLoader.tablePrefix(repo), 4))
      Files.writeString(Paths.get(s"$repo/dv_schema.json"),
        json.linesIterator.filterNot(_.contains("\"bucketing\"")).mkString("\n"))
      val e = intercept[RuntimeException](
        DvLoader.streamTableLoadBatch(spark, cust, "customer", repo, "t0"))
      assert(e.getMessage.contains(s"$repo/dv_schema.json") && e.getMessage.contains("bucketing"),
        e.getMessage)
      assert(!Files.exists(Paths.get(s"$repo/hub_customer")), "the load appended rows")
    } finally DvLoader.deletePath(Paths.get(repo))
  }

  test("go(bucketed = false) fails, naming the removed layout") {
    val out = Files.createTempDirectory("graft_unbucketed_go").toString
    try {
      val e = intercept[IllegalArgumentException](
        DvGo.go(spark, sfDir, out, include = Set("hub_customer"), bucketed = false))
      assert(e.getMessage.contains("unbucketed vault layout was removed"), e.getMessage)
      assert(!Files.exists(Paths.get(s"$out/hub_customer")), "the build wrote an object")
    } finally DvLoader.deletePath(Paths.get(out))
  }
}
