package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (sf0.001 for speed). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, leave running

  /** An empty bucketed vault at `repo`: a dv_schema.json of the literal
    * plan's `scope` objects, 4 buckets, nothing stored yet. Returns `repo`.
    */
  def emptyVault(repo: String, tag: String, scope: String => Boolean = _ => true): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(repo))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$repo/dv_schema.json"),
      graft.dv.DvGo.planJson(graft.dv.DvPlanner.literalPlan, tag, scope,
        (graft.dv.DvLoader.tablePrefix(repo), 4)))
    repo
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.applyConfs(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", java.nio.file.Files.createTempDirectory("graft_wh").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
