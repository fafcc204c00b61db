package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `graft.tools.Profile` prints one JSON line per catalog query: a cold and
  * a steady pass, each with its phase timings, the jobs each phase ran, the
  * executed plan's node count and the query's row count. */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = Profile.DefaultSfDir
  private val haveData = new java.io.File(s"$sfDir/lineitem.parquet").exists()

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-profile-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("Profile: two passes, execute-phase jobs, the query's own row count " +
      "and a formatted plan file") {
    assume(haveData, s"$sfDir not present; skipping")
    val query = "a1_tpch_q1"
    val planOut = java.io.File.createTempFile("graft-profile", ".txt")
    planOut.deleteOnExit()
    val line = Profile.run(spark, query, sfDir, Some(planOut.getPath))
    assert(!line.contains("\n"), "one JSON line")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("query").asText == query)

    val passes = json.get("passes").elements.asScala.toSeq
    assert(passes.map(_.get("pass").asText) == Seq("cold", "steady"))
    val expectedRows = QueryCatalog.all.find(_.name == query).get
      .fn(spark, sfDir).count()
    passes.foreach { p =>
      assert(p.get("phases").fieldNames.asScala.toSeq ==
        Seq("build", "analyze", "optimize", "physical_plan", "execute"))
      val jobs = p.get("jobs").elements.asScala.toSeq
      val executed = jobs.filter(_.get("phase").asText == "execute")
      assert(executed.nonEmpty, s"no execute-phase job in $p")
      assert(executed.forall(j => j.get("tasks").asInt > 0 &&
        j.get("stages").asInt > 0 && j.get("seconds").asDouble >= 0))
      assert(p.get("plan_nodes").asInt > 1)
      assert(p.get("rows").asLong == expectedRows)
    }
    assert(expectedRows > 0)

    val plan = new String(java.nio.file.Files.readAllBytes(planOut.toPath),
      "UTF-8")
    assert(plan.contains("== Physical Plan =="), plan.take(500))
  }
}
