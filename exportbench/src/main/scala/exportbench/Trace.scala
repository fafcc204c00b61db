package exportbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run: spans are taken only around
  * the benchmark's own calls into each layer and written out as JSON once,
  * when the run ends. */
final class Tracer(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  /** Runs `body` inside a span; returns its result and the span's seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, t0, t1)
      (out, (t1 - t0) / 1e9)
    } finally open = open.tail
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L; var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(file: Path, extra: Map[String, String]): Unit = {
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    def num(d: Double) = f"$d%.6f"
    val spanJson = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run_id":"$runId","start_s":${num((s.startNs - base) / 1e9)},""" +
        s""""end_s":${num((s.endNs - base) / 1e9)},""" +
        s""""self_s":${num(selfSeconds(s))}}"""
    }
    val ext = extra.map { case (k, v) => s""""$k":$v""" }
    Files.createDirectories(file.getParent)
    Files.write(file, (s"""{"run_id":"$runId","spans":[""" +
      spanJson.mkString(",\n") + "]" + ext.map(",\n" + _).mkString + "}\n")
      .getBytes(UTF_8))
  }
}

/** Spark counters for the jobs of one job group, collected by a listener
  * the benchmark registers. Events arrive asynchronously; [[drain]] runs a
  * marker job and waits for its end event, after which every earlier
  * event of the group has been delivered. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Totals

  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Totals]
  private val ended = mutable.Set.empty[String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def bump(g: String)(f: Totals => Totals): Unit =
    totals(g) = f(totals.getOrElse(g, Totals(0, 0, 0L, 0.0, 0L, 0L)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    groupOfJob(e.jobId) = g
    e.stageIds.foreach(groupOfStage(_) = g)
    bump(g)(t => t.copy(jobs = t.jobs + 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groupOfJob.get(e.jobId).foreach(ended += _)
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      groupOfStage.get(e.stageInfo.stageId)
        .foreach(bump(_)(t => t.copy(stages = t.stages + 1)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    groupOfStage.get(e.stageId).foreach { g =>
      val m = Option(e.taskMetrics)
      bump(g)(t => t.copy(
        tasks = t.tasks + 1,
        taskRunS = t.taskRunS + m.map(_.executorRunTime).getOrElse(0L) / 1e3,
        shuffleWriteBytes = t.shuffleWriteBytes +
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        spillBytes = t.spillBytes +
          m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
    }
  }

  private var markers = 0

  /** Totals of `group`, once all of its events have been delivered. */
  def drain(sc: SparkContext, group: String): Totals = {
    markers += 1
    val marker = s"marker-$markers"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    synchronized {
      while (!ended(marker) && System.nanoTime() < deadline) wait(100)
      totals.getOrElse(group, Totals(0, 0, 0L, 0.0, 0L, 0L))
    }
  }
}

object SparkCounters {
  final case class Totals(jobs: Int, stages: Int, tasks: Long,
      taskRunS: Double, shuffleWriteBytes: Long, spillBytes: Long)
}

object Jvm {
  /** Wall seconds the JVM's collectors have spent so far. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set size of this process, from /proc (0 elsewhere). */
  def peakRssMb: Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
  }
}
