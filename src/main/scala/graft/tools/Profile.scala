package graft.tools

import scala.collection.mutable

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Profiles one catalog query (`QueryCatalog.all ++ entryOps`): a cold pass
  * and a steady pass, each split into Catalyst phases (build → analyze →
  * optimize → physical plan → execute) with the Spark jobs each phase ran,
  * the executed plan's node count and the row count, printed as one JSON
  * line. With `planOut`, the steady pass's executed plan is written there
  * in `explain("formatted")` form. A Dataset is analyzed when it is built,
  * so `build` includes analysis and `analyze` reads about zero.
  *
  *   sbt "runMain graft.tools.Profile <query> [sfDir] [planOut]"
  *
  * `SPARK_GRAFT_CPUS` sets the local core count (default: all cores). */
object Profile extends AdaptiveSparkPlanHelper {

  val DefaultSfDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [sfDir] [planOut]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, args(0), args.lift(1).getOrElse(DefaultSfDir), args.lift(2)))
    finally spark.stop()
  }

  /** The JSON line for `query` over `sfDir`. Each phase runs under a job
    * group named after it, so every job is attributed to the phase that
    * started it (a query may run jobs while it is built). */
  def run(spark: SparkSession, query: String, sfDir: String,
      planOut: Option[String]): String = {
    val fn = (graft.QueryCatalog.all ++ graft.QueryCatalog.entryOps)
      .find(_.name == query).getOrElse(sys.error(s"no catalog query $query")).fn
    val sc = spark.sparkContext
    val timeline = new JobTimeline
    sc.addSparkListener(timeline)
    try {
      val passes = Seq("cold", "steady").map { pass =>
        val seconds = mutable.LinkedHashMap.empty[String, Double]
        def phase[T](name: String)(f: => T): T = {
          sc.setJobGroup(name, null)
          val t0 = System.nanoTime()
          try f finally {
            seconds(name) = math.round((System.nanoTime() - t0) / 1e6) / 1e3
            sc.clearJobGroup()
          }
        }
        val qe = phase("build")(fn(spark, sfDir)).queryExecution
        phase("analyze")(qe.analyzed)
        phase("optimize")(qe.optimizedPlan)
        phase("physical_plan")(qe.executedPlan)
        // the query's own plan, as an action runs it (not a count() plan)
        val rows = phase("execute")(
          SQLExecution.withNewExecutionId(qe)(qe.toRdd.count()))
        if (pass == "steady")
          planOut.foreach(p => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(p), qe.explainString(FormattedMode)))
        s"""{"pass":"$pass","phases":{""" +
          seconds.map { case (k, v) => s""""$k":$v""" }.mkString(",") +
          s"""},"jobs":[${timeline.drain(sc).map(_.json).mkString(",")}],""" +
          s""""plan_nodes":${mapPlans(qe.executedPlan)(identity).size},"rows":$rows}"""
      }
      s"""{"query":${str(query)},"sf_dir":${str(sfDir)},""" +
        s""""passes":[${passes.mkString(",")}]}"""
    } finally sc.removeSparkListener(timeline)
  }

  private def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  private final case class Job(id: Int, phase: String, description: String,
      startMs: Long, endMs: Option[Long] = None, stages: Int = 0, tasks: Int = 0) {
    def json: String = s"""{"job":$id,"phase":${str(phase)},""" +
      s""""seconds":${endMs.fold(0.0)(e => (e - startMs) / 1e3)},""" +
      s""""stages":$stages,"tasks":$tasks,"description":${str(description)}}"""
  }

  /** Jobs as the listener bus reports them, with the stages and tasks each
    * one ran (a stage counts for the first job that lists it; later jobs
    * skip it). */
  private final class JobTimeline extends SparkListener {
    private val Marker = "profile-drain"
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val jobOfStage = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.job.description")
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse(""), e.time)
      e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        jobOfStage.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(j => jobs(j.id) =
          j.copy(stages = j.stages + 1, tasks = j.tasks + e.stageInfo.numTasks))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(endMs = Some(e.time)))
      notifyAll()
    }

    /** The jobs since the last drain, once all their events have arrived:
      * the bus is ordered, so a marker job's end comes after them. */
    def drain(sc: SparkContext): Seq[Job] = {
      sc.setJobGroup(Marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      synchronized {
        while (!jobs.values.exists(j => j.phase == Marker && j.endMs.isDefined)
            && System.nanoTime() < deadline) wait(100)
        try jobs.values.filter(_.phase != Marker).toSeq finally jobs.clear()
      }
    }
  }
}
