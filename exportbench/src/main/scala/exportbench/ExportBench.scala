package exportbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.cli.Export
import graft.model.LedgerModel.LedgerRow
import graft.operators.{SorobanStateTables, StellarTransforms}
import graft.sources.LcmBatchFiles

/** The export benchmark: a seeded datastore tree goes through the
  * reference's export commands (`graft.cli.Export.run`) to written files.
  *
  * Untraced (`--trace 0`): set-up, untimed warm-up exports, then timed
  * exports of the whole range for `--seconds`, each output checked against
  * the generator's counts. Traced (`--trace 1`): set-up and warm-ups, then
  * one export with Spark counters and each layer timed from outside through
  * its public functions.
  *
  * The last stdout line is one JSON object: correct, attempted, failed and
  * the metrics of the chosen mode.
  */
object ExportBench {

  sealed trait Tree
  case object Classic extends Tree
  case object Soroban extends Tree

  /** One export command over one tree kind. */
  final case class Workload(name: String, command: String, format: String,
      tree: Tree, extraArgs: Seq[String])

  val BatchSize = 64L

  val Workloads: Seq[Workload] = Seq(
    // one row per ledger: wall time is almost all read, zstd and XDR decode
    Workload("ledgers_parquet", "export_ledgers", "parquet", Classic, Nil),
    // about 3 rows per tx with details JSON: transform, sink and planning
    Workload("operations_ndjson", "export_operations", "ndjson", Classic, Nil),
    // persisted rows read by four resources, a shuffle by batch id, one
    // file per batch per resource, the soroban decode arms
    Workload("soroban_changes_parquet", "export_ledger_entry_changes",
      "parquet", Soroban, Seq("--batch-size", BatchSize.toString)))

  def workload(name: String): Workload = Workloads.find(_.name == name)
    .getOrElse(sys.error(s"unknown workload $name; one of " +
      Workloads.map(_.name).mkString(", ")))

  /** Untimed exports between set-up and the timed ones: consecutive exports
    * in one JVM keep getting faster for a while, and these take the timed
    * ones past the steep part (see the README). */
  val Warmups = 3

  /** Fewest timed exports in an untraced run, whatever `--seconds` says, so
    * that the median always leaves out the slowest. */
  val MinTimed = 3

  /** A run over the tree that [[TreeGen.write]] put in `work`. */
  final case class Opts(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: Path, warmups: Int = Warmups)

  final case class Metric(value: Double, unit: String, integral: Boolean = false)

  final case class Result(attempted: Int, failed: Int,
      metrics: Seq[(String, Metric)]) {
    def correct: Boolean = failed == 0
    def apply(name: String): Double = metrics.find(_._1 == name).get._2.value
    def json: String = {
      val ms = metrics.map { case (k, m) =>
        val v = if (m.integral) m.value.toLong.toString
          else if (m.value.isNaN || m.value.isInfinite) "0.0"
          else m.value.toString
        s""""$k":{"value":$v,"unit":"${m.unit}"}"""
      }
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${ms.mkString(",")}}}"""
    }
  }

  /** What one export wrote and whether it matched the generator. */
  final case class Checked(rows: Long, bytes: Long, files: Long,
      problems: Seq[String])

  // ---- set-up ----------------------------------------------------------------

  def exportArgs(w: Workload, tree: Path, out: Path,
      e: TreeGen.Expected): Export.Args =
    Export.parse(Array(w.command, "--start", e.start.toString,
      "--end", e.end.toString, "--batch-input", tree.toString,
      "--output", out.toString, "--format", w.format) ++ w.extraArgs)

  /** Runs one export; returns its wall seconds and the lines it printed. */
  def runExport(spark: SparkSession, a: Export.Args): (Double, Seq[String]) = {
    deleteTree(Paths.get(a.output))
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val t0 = System.nanoTime()
    Console.withOut(ps)(Export.run(spark, a))
    val secs = (System.nanoTime() - t0) / 1e9
    ps.flush()
    (secs, buf.toString("UTF-8").split('\n').toSeq.filter(_.nonEmpty))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Data files under `dir` (hidden and `_`-prefixed files excluded). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.filter { p =>
        Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }
      } finally s.close()
    }

  // ---- output check ------------------------------------------------------------

  private val K5 = """\{"attempted":(\d+),"failed":(\d+),"successful":(\d+)\}""".r
  private val BatchLine =
    """\{"resource":"([a-z_]+)","batches":(\d+),"nonEmpty":(\d+)\}""".r

  def check(spark: SparkSession, w: Workload, e: TreeGen.Expected,
      out: Path, lines: Seq[String]): Checked = {
    val files = dataFiles(out)
    val bytes = files.map(Files.size).sum
    val problems = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"$what: got $got, want $want"
    def k5Rows: Long = lines.collect { case K5(a, f, s) => (a.toLong, f.toLong, s.toLong) } match {
      case Seq((a, f, s)) =>
        expect("K5 failed", f, 0L); expect("K5 successful", s, a); a
      case other => problems += s"want one K5 stats line, got ${other.size}"; -1L
    }
    val rows = w.command match {
      case "export_ledgers" =>
        val n = k5Rows
        expect("ledger rows", n, e.ledgers)
        val r = spark.read.parquet(out.toString).agg(count(lit(1)),
          countDistinct(col("sequence")), min(col("sequence")),
          max(col("sequence")), sum(col("transaction_count")),
          sum(col("operation_count"))).head()
        expect("ledger rows read", r.getLong(0), e.ledgers)
        expect("distinct ledgers", r.getLong(1), e.ledgers)
        expect("first ledger", r.getLong(2), e.start)
        expect("last ledger", r.getLong(3), e.end)
        expect("transactions", r.getLong(4), e.txs)
        expect("operations", r.getLong(5), e.ops)
        n
      case "export_operations" =>
        val n = k5Rows
        expect("operation rows", n, e.ops)
        n
      case "export_ledger_entry_changes" =>
        val nBatches = (e.end - e.start) / BatchSize + 1
        val printed = lines.collect { case BatchLine(r, b, ne) =>
          r -> (b.toLong, ne.toLong) }.toMap
        TreeGen.SorobanResources.map { res =>
          expect(s"$res batch line", printed.get(res),
            Some((nBatches, nBatches)))
          val batchFiles = (0L until nBatches).map { b =>
            val bs = e.start + b * BatchSize
            out.resolve(s"$bs-${math.min(bs + BatchSize - 1, e.end)}-$res.parquet")
          }
          val missing = batchFiles.filterNot(Files.exists(_))
          if (missing.nonEmpty) { problems += s"$res: missing $missing"; 0L }
          else {
            val r = spark.read.parquet(batchFiles.map(_.toString): _*)
              .agg(count(lit(1)), countDistinct(col("ledger_sequence"))).head()
            expect(s"$res rows", r.getLong(0), e.txs)
            expect(s"$res distinct ledgers", r.getLong(1), e.ledgers)
            r.getLong(0)
          }
        }.sum
    }
    Checked(rows, bytes, files.size.toLong, problems.result())
  }

  // ---- the run ---------------------------------------------------------------------

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def run(o: Opts): Result = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = o.workload
    val e = TreeGen.Expected.read(TreeGen.expectedFile(o.work))
    val tree = TreeGen.treeDir(o.work)
    val out = o.work.resolve("out")
    val args = exportArgs(w, tree, out, e)

    // set-up: from JVM start (the tree was generated by another process)
    // through the CLI's session start and a first export of the whole range
    val spark = Export.session()
    spark.sparkContext.setLogLevel("WARN")
    runExport(spark, args)
    spark.catalog.clearCache()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    def clearCache(): Unit = spark.catalog.clearCache()

    // each export below starts from a collected heap, so garbage left by an
    // earlier one is not billed to the next
    val warmS = (0 until o.warmups).map { _ =>
      System.gc()
      val secs = runExport(spark, args)._1
      clearCache(); secs
    }

    var attempted = 0; var failed = 0
    /** One checked export; its seconds unless it threw. */
    def attempt(group: String): (Option[Double], Checked) = {
      attempted += 1
      sc.setJobGroup(group, s"${w.name} $group")
      val (secs, c) = Try {
        try runExport(spark, args) finally sc.clearJobGroup()
      }.map { case (secs, lines) =>
        (Option(secs), check(spark, w, e, out, lines))
      }.recover { case t: Throwable =>
        (None, Checked(0L, 0L, 0L, Seq(s"export threw $t")))
      }.get
      if (c.problems.nonEmpty) {
        failed += 1
        System.err.println(s"[exportbench] $group failed: ${c.problems.mkString("; ")}")
      }
      (secs, c)
    }

    // timed exports of the whole range for `seconds`, at least MinTimed; the
    // traced run makes one, the untraced baseline of its traced export
    val reps = Seq.newBuilder[(Option[Double], Checked)]
    val tLoop = System.nanoTime()
    var i = 0
    def more = if (o.trace) i < 1
      else i < MinTimed || (System.nanoTime() - tLoop) / 1e9 < o.seconds
    while (more) {
      System.gc()
      reps += attempt(s"timed-$i"); clearCache(); i += 1
    }
    // an export that threw has no time and no output to count
    val timed = reps.result().collect { case (Some(secs), c) => (secs, c) }
    val exportS = median(timed.map(_._1))
    val rowsOut = median(timed.map(_._2.rows.toDouble))
    val bytesPerRow = median(timed.map(c => c._2.bytes.toDouble / math.max(1L, c._2.rows)))
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    val taskS = (0 until i).map(k => counters.drain(sc, s"timed-$k").taskRunS)
    System.err.println(f"[exportbench] ${w.name} seed=${o.seed} " +
      f"setup_s=$setupS%.2f warmup_s=${list(warmS)} " +
      s"export_s=${list(timed.map(_._1))} task_s=${list(taskS)} generate_s=${e.generateS}")

    val metrics =
      if (!o.trace) Seq(
        "export_s" -> Metric(exportS, "s"),
        "ledgers_per_s" -> Metric(e.ledgers / exportS, "ledgers/s"),
        "tx_per_s" -> Metric(e.txs / exportS, "tx/s"),
        "ops_per_s" -> Metric(e.ops / exportS, "ops/s"),
        "rows_out_per_s" -> Metric(rowsOut / exportS, "rows/s"),
        "bytes_out_per_row" -> Metric(bytesPerRow, "bytes/row"),
        "setup_s" -> Metric(setupS, "s"))
      else new Layers(spark, counters, o, w, e, tree, out, args, cores,
        attempt, clearCache, exportS)
          .measure(() => failed.toDouble / attempted)
    spark.stop()
    deleteTree(out)
    Result(attempted, failed, metrics)
  }

  // ---- the traced run: each layer timed from outside ------------------------------

  final class Layers(spark: SparkSession, counters: SparkCounters,
      o: Opts, w: Workload, e: TreeGen.Expected, tree: Path, out: Path,
      args: Export.Args, cores: Int,
      attempt: String => (Option[Double], Checked), clearCache: () => Unit,
      untracedExportS: Double) {

    private val sc = spark.sparkContext
    private val tracer = new Tracer(s"${w.name}-seed${o.seed}-${System.currentTimeMillis()}")
    private val paths = e.sequences.map(s => tree.resolve(LcmBatchFiles.objectKey(s)))
    private def span[T](name: String)(body: => T) = tracer.span(name)(body)

    private def inGroup[T](group: String)(body: => T): (T, SparkCounters.Totals) = {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      (r, counters.drain(sc, group))
    }

    private def rows: Dataset[LedgerRow] =
      LcmBatchFiles.ledgerRowsForRange(spark, tree.toString, e.start, e.end,
        args.networkId)

    /** The command's transform: one frame per output resource. */
    private def transform(ledgers: Dataset[LedgerRow]): Seq[(String, DataFrame)] = {
      val inRange = ledgers.where(col("sequence").between(e.start, e.end))
      w.command match {
        case "export_ledgers" => Seq("ledgers" -> StellarTransforms.historyLedgers(inRange))
        case "export_operations" =>
          Seq("operations" -> StellarTransforms.historyOperations(inRange))
        case "export_ledger_entry_changes" => Seq(
          "contract_data" -> SorobanStateTables.contractDataFromLedgers(ledgers, args.passphrase),
          "contract_code" -> SorobanStateTables.contractCodeFromLedgers(ledgers),
          "config_settings" -> SorobanStateTables.configSettingsFromLedgers(ledgers),
          "ttl" -> SorobanStateTables.ttlFromLedgers(ledgers))
      }
    }

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def planNodes(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case other => 1 + other.children.map(planNodes).sum +
        other.subqueries.map(planNodes).sum
    }

    def measure(failedRatio: () => Double): Seq[(String, Metric)] = {
      def s(v: Double) = Metric(v, "s")
      def n(v: Double, unit: String = "count") = Metric(v, unit, integral = true)

      System.gc()
      val (((tracedS, checked), cacheBytes, gcS), totals) = span("export") {
        inGroup("traced") {
          val gc0 = Jvm.gcSeconds
          // `attempt` clears nothing: the persisted rows of
          // export_ledger_entry_changes are still registered here
          val (secs, c) = attempt("traced")
          val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          ((secs.getOrElse(Double.NaN), c), cached, Jvm.gcSeconds - gc0)
        }
      }._1
      clearCache()
      // one more untraced export after the traced one: the overhead is
      // taken against the mean of the exports on either side of it, so a
      // warm-up trend cancels
      System.gc()
      val untracedAfterS = attempt("untraced-after")._1.getOrElse(Double.NaN)
      clearCache()

      // codec: single thread over a quarter (at least 8) of the objects
      val (codec, _) = span("codec") {
        val raw = span("codec.read") {
          paths.filter(Files.exists(_)).map(Files.readAllBytes)
        }._1
        val sample = raw.take(math.max(8, raw.size / 4))
        val (plain, zstdS) = span("codec.zstd") {
          sample.map { b =>
            val in = new com.github.luben.zstd.ZstdInputStream(
              new java.io.ByteArrayInputStream(b))
            try in.readAllBytes() finally in.close()
          }
        }
        val (counted, decodeS) = span("codec.decode") {
          plain.map { p =>
            val ls = graft.codec.StellarXdr.decodeLedgerCloseMetaBatch(p, args.networkId)
            (ls.map(_.transactions.size.toLong).sum,
              ls.map(_.transactions.map(_.operations.size.toLong).sum).sum)
          }
        }
        val txs = counted.map(_._1).sum; val ops = counted.map(_._2).sum
        Seq(
          "codec.decode_us_per_tx" -> Metric(decodeS * 1e6 / math.max(1L, txs), "us"),
          "codec.decode_us_per_op" -> Metric(decodeS * 1e6 / math.max(1L, ops), "us"),
          "codec.zstd_mb_per_s" -> Metric(plain.map(_.length.toLong).sum / 1e6 / zstdS, "MB/s"))
      }

      // sources: the export read path, decode alone in tasks, the connector
      val (sources, _) = span("sources") {
        val rowsS = span("sources.rows") {
          inGroup("sources.rows")(noop(rows.toDF()))
        }._2
        val nid = args.networkId
        val (counts, decodeTasksS) = span("sources.decode_tasks") {
          inGroup("sources.decode_tasks") {
            sc.parallelize(paths.map(_.toString), math.max(1, math.min(paths.size, cores)))
              .map { p =>
                val f = Paths.get(p)
                if (!Files.exists(f)) (0L, 1L, 0L, 0L)
                else {
                  val b = Files.readAllBytes(f)
                  val ok = Try(LcmBatchFiles.decodeObject(b, nid)).isSuccess
                  (1L, 0L, b.length.toLong, if (ok) 0L else 1L)
                }
              }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
          }._1
        }
        val ((_, readTotals), readS) = span("sources.read") {
          inGroup("sources.read") {
            spark.read.format("graft-lcm-datastore").load(tree.toString)
              .where(col("end_sequence") >= e.start && col("start_sequence") <= e.end)
              .agg(sum(length(col("content")))).head()
          }
        }
        Seq(
          "sources.rows_s" -> s(rowsS),
          "sources.decode_tasks_s" -> s(decodeTasksS),
          "sources.serialize_s" -> s(rowsS - decodeTasksS),
          "sources.read_s" -> s(readS),
          "sources.read_tasks" -> n(readTotals.tasks.toDouble),
          "sources.objects" -> n(counts._1.toDouble),
          "sources.objects_missing" -> n(counts._2.toDouble),
          "sources.bytes_read" -> n(counts._3.toDouble, "bytes"),
          "codec.decode_errors" -> n(counts._4.toDouble))
      }

      // operators: the command's transform over rows held in Spark's
      // columnar cache (not as Java objects), written to noop
      val (operators, _) = span("operators") {
        val cached = span("prep.cache_rows") {
          val c = rows.persist(); c.count(); c
        }._1
        // each frame counts its own rows as it is written
        val frames = transform(cached).map { case (r, df) =>
          val o = Observation(r)
          (o, df.observe(o, count(lit(1)).as("rows")))
        }
        val transformS = span("operators.transform") {
          frames.foreach { case (_, df) => noop(df) }
        }._2
        val rowsOut = frames.map(_._1.get("rows").asInstanceOf[Long]).sum
        clearCache()
        Seq("operators.transform_s" -> s(transformS),
          "operators.rows_out" -> n(rowsOut.toDouble))
      }

      // cli: persisted output written with the command's own format, and
      // the K5 re-read of the traced export's output
      val (cli, _) = span("cli") {
        val frames = span("prep.persist_output") {
          transform(rows).map { case (r, df) =>
            val c = (if (w.command == "export_ledger_entry_changes")
              df.withColumn("__batch",
                floor((col("ledger_sequence") - e.start) / BatchSize).cast("long"))
            else df).persist()
            c.count(); r -> c
          }
        }._1
        val dir = o.work.resolve("cli")
        val writeS = span("cli.write") {
          frames.foreach { case (r, df) =>
            val target = dir.resolve(r).toString
            if (w.command == "export_ledger_entry_changes")
              df.repartition(col("__batch")).write.mode("overwrite")
                .partitionBy("__batch").parquet(target)
            else if (w.format == "ndjson") df.write.mode("overwrite").json(target)
            else df.write.mode("overwrite").parquet(target)
          }
        }._2
        clearCache(); deleteTree(dir)
        // export_ledger_entry_changes prints no K5 line, so it re-reads nothing
        val rereadS =
          if (w.command == "export_ledger_entry_changes") 0.0
          else span("cli.stats_reread") {
            spark.read.format(if (w.format == "ndjson") "json" else w.format)
              .load(out.toString).count()
          }._2
        Seq("cli.write_s" -> s(writeS),
          "cli.bytes_written" -> n(checked.bytes.toDouble, "bytes"),
          "cli.files_written" -> n(checked.files.toDouble),
          "cli.stats_reread_s" -> s(rereadS))
      }

      // driver: building the command's plan and forcing the physical plan
      val (driver, _) = span("driver") {
        val (nodes, planS) = span("driver.plan") {
          transform(rows).map(_._2.queryExecution.executedPlan).map(planNodes).sum
        }
        Seq("driver.plan_s" -> s(planS), "driver.plan_nodes" -> n(nodes.toDouble))
      }

      val spk = Seq(
        "spark.jobs" -> n(totals.jobs.toDouble),
        "spark.stages" -> n(totals.stages.toDouble),
        "spark.tasks" -> n(totals.tasks.toDouble),
        "spark.busy_ratio" -> Metric(totals.taskRunS / (tracedS * cores), "ratio"),
        "spark.gc_s" -> s(gcS),
        "spark.shuffle_write_bytes" -> n(totals.shuffleWriteBytes.toDouble, "bytes"),
        "spark.spill_bytes" -> n(totals.spillBytes.toDouble, "bytes"),
        "spark.cache_bytes" -> n(cacheBytes.toDouble, "bytes"))

      def v(k: String) = (sources ++ operators ++ cli ++ driver).find(_._1 == k).get._2.value
      // each layer's own share of an export: sources without the codec
      // work inside its read path, cli as write plus K5 re-read
      val layerSelf = Seq(
        "codec" -> v("sources.decode_tasks_s"),
        "sources" -> v("sources.serialize_s"),
        "operators" -> v("operators.transform_s"),
        "cli" -> (v("cli.write_s") + v("cli.stats_reread_s")),
        "driver" -> v("driver.plan_s")).sortBy(-_._2)
      val untracedS = (untracedExportS + untracedAfterS) / 2
      val bench = Seq(
        "bench.generate_s" -> s(e.generateS),
        "bench.traced_export_s" -> s(tracedS),
        "bench.layer_sum_s" -> s(layerSelf.map(_._2).sum),
        "bench.trace_overhead_s" -> s(tracedS - untracedS),
        "jvm.peak_rss_mb" -> Metric(Jvm.peakRssMb, "MB"),
        "failed_ratio" -> Metric(failedRatio(), "ratio"))

      val all = codec ++ sources ++ operators ++ cli ++ driver ++ spk ++ bench
      val file = o.work.getParent.resolve("traces").resolve(s"${w.name}-seed${o.seed}.json")
      tracer.write(file, Map(
        "workload" -> s""""${w.name}"""",
        "untraced_export_s" -> untracedS.toString,
        "layer_self_s" -> layerSelf.map { case (l, x) => s""""$l":$x""" }
          .mkString("{", ",", "}"),
        "metrics" -> all.map { case (k, m) => s""""$k":${m.value}""" }
          .mkString("{", ",", "}")))
      System.err.println(s"[exportbench] trace written to $file; layer self time: " +
        layerSelf.map { case (l, x) => f"$l=$x%.2fs" }.mkString(" "))
      all
    }
  }

  // ---- command line ------------------------------------------------------------------

  /** `ExportBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
    * --work <dir>`, where `dir` holds the tree [[TreeGen.main]] wrote. */
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val r = run(Opts(workload(need("--workload")), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      Paths.get(need("--work")).toAbsolutePath))
    println(r.json)
  }
}
