package graft.cli

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.model.LedgerModel.LedgerRow
import graft.operators._
import graft.sources.LcmBatchFiles
import graft.sources.LcmBatchFiles.ObjectDecodeResult

/** Thin command layer mirroring the reference CLI (`cmd/export_*.go`): same
  * command names and flag vocabulary, Spark underneath.
  *
  *   runMain graft.cli.Export export_transactions \
  *     --start 1000 --end 1099 --output /tmp/out \
  *     --batch-input <datastore tree of zstd LedgerCloseMetaBatch objects>
  *     [--permissive] [--format ndjson|parquet] [--limit N]
  *     [--extra-fields k=v,k2=v2]
  *
  * `--batch-input` is required and is the one ledger input: the
  * reference's datastore layout, read through the `graft-lcm-datastore`
  * connector. Every `export_*` command and `get_ledger_range_from_times`
  * fails without it, before anything is read.
  *
  * `--end` must be at least `--start`. The one exception is `--end 0` on
  * `export_ledger_entry_changes`: the continuous mode, which tails the
  * datastore tree from `--start` (see [[streamEntryChanges]]).
  *
  * Commands: export_ledgers, export_transactions, export_operations,
  * export_effects, export_trades, export_assets, export_token_transfers,
  * export_ledger_transaction, export_contract_events,
  * export_ledger_entry_changes (--export-type all (default) or a comma-list
  * of contract_data,contract_code,config_setting,ttl; --batch-size N;
  * --strict-export is accepted as the reference's spelling of the default,
  * fail-fast mode), get_ledger_range_from_times (--start-time/--end-time
  * ISO), version.
  * `upload_to_gcs --gcs-bucket <uri|bucket> --path <local>` is the
  * reference's upload-verify-delete contract over the Hadoop FileSystem
  * for the bucket URI, and every export honors the
  * `--cloud-provider`/`--cloud-storage-bucket` MaybeUpload hook
  * (gs://… works wherever the connector is on the classpath; --output
  * also takes any Hadoop filesystem URI directly).
  *
  * The reference accumulates the whole range in RAM then loops row-by-row
  * (`input/transactions.go:31-70`); here every command is one lazy plan:
  * scan → explode/project → sink, partition-parallel, spillable. */
object Export {

  case class Args(
      command: String = "",
      // end defaults to -1 = "not given": a bounded export with no --end
      // fails fast instead of silently entering the unbounded streaming
      // arm; ONLY an explicit `--end 0` means continuous, and only for
      // export_ledger_entry_changes (the reference's endNum=0
      // semantics, `cmd/export_ledger_entry_changes.go:26-28,72-89` — every
      // other command there requires a bounded range)
      start: Long = 0, end: Long = -1,
      output: String = "",
      batchInput: String = "",
      permissive: Boolean = false,
      format: String = "ndjson",
      limit: Long = -1,
      extraFields: Map[String, String] = Map.empty,
      exportType: String = "all",
      batchSize: Long = 64,
      startTime: String = "", endTime: String = "",
      bucket: String = "", path: String = "",
      cloudProvider: String = "",
      testnet: Boolean = false, futurenet: Boolean = false) {

    /** The reference's `GetEnvironmentDetails` precedence
      * (`internal/utils/main.go:866-895`): testnet wins over futurenet,
      * default mainnet. */
    def network: String =
      if (testnet) "testnet" else if (futurenet) "futurenet" else "pubnet"
    def networkId: Array[Byte] = graft.codec.Network.id(network)
    def passphrase: String = graft.codec.Network.passphrase(network)
  }

  /** Every subcommand `run` dispatches. CliExportSpec audits this set
    * against the reference's cobra `Use:` strings (the `cmd` package) so a
    * renamed or newly-spelled reference command can't drift past us —
    * `export_token_transfer` (singular, the reference's registered Use)
    * normalizes to the plural in [[parse]]. The audit direction is
    * reference ⊆ KnownCommands; one entry is a REPO-SPECIFIC extension
    * with no reference cobra registration: `upload_to_gcs` (the reference
    * has the `cmd/upload_to_gcs.go` helper but never registers it as a
    * subcommand — this repo exposes it directly). */
  val KnownCommands: Set[String] = Set(
    "export_ledgers", "export_transactions", "export_operations",
    "export_effects", "export_trades", "export_assets",
    "export_token_transfers", "export_ledger_transaction",
    "export_contract_events", "export_ledger_entry_changes",
    "get_ledger_range_from_times", "version", "upload_to_gcs")

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--start" :: v :: t => loop(a.copy(start = v.toLong), t)
      case "--end" :: v :: t => loop(a.copy(end = v.toLong), t)
      case ("--output" | "-o") :: v :: t => loop(a.copy(output = v), t)
      case "--batch-input" :: v :: t => loop(a.copy(batchInput = v), t)
      case "--permissive" :: t => loop(a.copy(permissive = true), t)
      case "--format" :: v :: t => loop(a.copy(format = v), t)
      // a negative limit means every row, as in the reference; above
      // Int.MaxValue Spark's limit cannot hold it
      case ("--limit" | "-l") :: v :: t =>
        val n = v.toLong
        if (n > Int.MaxValue) sys.error(
          s"--limit $n is above the largest supported limit, ${Int.MaxValue}")
        loop(a.copy(limit = n), t)
      case "--export-type" :: v :: t => loop(a.copy(exportType = v), t)
      case ("--batch-size" | "-b") :: v :: t => loop(a.copy(batchSize = v.toLong), t)
      case "--start-time" :: v :: t => loop(a.copy(startTime = v), t)
      case "--end-time" :: v :: t => loop(a.copy(endTime = v), t)
      case ("--gcs-bucket" | "--bucket" | "--cloud-storage-bucket") :: v :: t =>
        loop(a.copy(bucket = v), t)
      case "--path" :: v :: t => loop(a.copy(path = v), t)
      case "--cloud-provider" :: v :: t => loop(a.copy(cloudProvider = v), t)
      // the reference's opt-in fail-fast mode is graft's only mode
      case "--strict-export" :: t => loop(a, t)
      // network selection (`AddCommonFlags`, `internal/utils/main.go:234-235`):
      // the passphrase domain-separates tx hashes and SAC contract ids
      case "--testnet" :: t => loop(a.copy(testnet = true), t)
      case "--futurenet" :: t => loop(a.copy(futurenet = true), t)
      case "--extra-fields" :: v :: t =>
        loop(a.copy(extraFields = v.split(',').filter(_.contains("="))
          .map { kv => val Array(k, x) = kv.split("=", 2); k -> x }.toMap), t)
      // the reference registers the SINGULAR spelling as the command name
      // (`cmd/export_token_transfers.go:14` — `Use: "export_token_transfer"`);
      // accept both so a pasted reference invocation runs unchanged
      case "export_token_transfer" :: t if a.command.isEmpty =>
        loop(a.copy(command = "export_token_transfers"), t)
      case cmd :: t if a.command.isEmpty => loop(a.copy(command = cmd), t)
      case other :: _ => sys.error(s"unknown flag: $other")
    }
    loop(Args(), argv.toList)
  }

  def session(): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
    .appName("graft-export")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** K1 extra fields: constant columns appended to every record
    * (`cmd/command_utils.go:69-71`). */
  private def withExtras(df: DataFrame, extras: Map[String, String]): DataFrame =
    extras.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }

  /** The frame [[sink]] writes: `--limit`, then `--extra-fields`, with the
    * K5 row count riding the write query as `rows` on `written`. */
  private[graft] def toWrite(df0: DataFrame, a: Args,
      written: Observation): DataFrame = {
    val limited = if (a.limit >= 0) df0.limit(a.limit.toInt) else df0
    withExtras(limited, a.extraFields)
      .observe(written, count(lit(1)).as("rows"))
  }

  /** K1/K2 sinks + K5 stats line + the MaybeUpload hook. K5 counts the rows
    * as the write query emits them, so no second job reads the output
    * back. An empty output may carry no metric (adaptive execution can
    * replace an empty stage with an empty relation): that is 0 rows. */
  private def sink(df0: DataFrame, a: Args): Unit = {
    val written = Observation("graft_rows_written")
    val df = toWrite(df0, a, written)
    a.format match {
      case "ndjson" => df.write.mode("overwrite").json(a.output)
      case "parquet" => df.write.mode("overwrite").parquet(a.output)
      case other => sys.error(s"unknown format: $other")
    }
    val n = written.get.getOrElse("rows", 0L)
    // PrintTransformStats parity (`cmd/command_utils.go:90-103`)
    println(s"""{"attempted":$n,"failed":0,"successful":$n}""")
    maybeUpload(df.sparkSession, a, a.output)
  }

  /** K3 — `MaybeUpload` (`cmd/command_utils.go:123-145`): no provider ⇒
    * skip silently; a provider with no bucket ⇒ fatal; otherwise
    * upload-verify-delete the output. */
  private def maybeUpload(spark: SparkSession, a: Args, path: String): Unit =
    if (a.cloudProvider.nonEmpty) {
      require(a.bucket.nonEmpty, "No bucket specified")
      uploadVerifyDelete(spark, a.cloudProvider, a.bucket, path)
    }

  /** K3 — the reference's upload contract (`cmd/upload_to_gcs.go:25-74`):
    * copy the local file (or export directory) to `<bucket>/<path>` with
    * the LOCAL PATH AS THE OBJECT KEY (the reference passes `path`
    * verbatim to `Object(path)`), re-read the uploaded object's
    * attributes to verify it exists and carries every byte, and only then
    * delete the local copy (`deleteLocalFiles` = RemoveAll). The cloud
    * client is the Hadoop `FileSystem` for the bucket URI — `gs://…`
    * works wherever the GCS connector is on the classpath, `s3a://…`/
    * `file:…` likewise, so the sandboxed spec drives the identical code
    * path against `file:` and a production run just changes the URI.
    * Returns the verified byte count. */
  def uploadVerifyDelete(spark: SparkSession, provider: String,
      bucket: String, path: String): Long = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    // "gcp" with a bare bucket name renders the reference's gs:// location
    val bucketUri =
      if (bucket.contains(":")) bucket
      else if (provider == "gcp") s"gs://$bucket"
      else bucket
    val conf = spark.sessionState.newHadoopConf()
    val src = new HPath(new java.io.File(path).getAbsoluteFile.toURI)
    val srcFs = src.getFileSystem(conf)
    require(srcFs.exists(src), s"failed to open file $path")
    val destRoot = new HPath(bucketUri)
    val destFs = destRoot.getFileSystem(conf)
    val dest = new HPath(destRoot,
      path.stripPrefix("/").stripSuffix("/"))
    val written = srcFs.getContentSummary(src).getLength
    println(s"Uploading $path to $bucketUri/$path")
    if (!FileUtil.copy(srcFs, src, destFs, dest,
        /* deleteSource = */ false, /* overwrite = */ true, conf))
      sys.error(s"unable to copy $path to $dest")
    // the reference's possibly-redundant readback: the object must exist
    // and be readable after the writer closes; byte-count equality is the
    // strongest attribute both sides expose
    val attrs = destFs.getContentSummary(dest)
    require(attrs.getLength == written,
      s"uploaded file does not exist or is short: " +
        s"${attrs.getLength} of $written bytes at $dest")
    println(s"Successfully uploaded $written bytes to $bucketUri/$path")
    srcFs.delete(src, true) // deleteLocalFiles
    written
  }

  /** The command's ledgers, exactly `[start, end]`, from the `--batch-input`
    * datastore tree: zstd LedgerCloseMetaBatch objects (1 ledger/file) read
    * through the graft-lcm-datastore connector. Each reader trims its own
    * range, so no row-level filter sits between the transform and the
    * source's serializer. */
  private def ledgerSource(spark: SparkSession, a: Args): Dataset[LedgerRow] =
    if (a.permissive)
      reportPoisoned(LcmBatchFiles.objectsPermissive(
          spark, a.batchInput, a.start, a.end, a.networkId), a)
        .flatMap(_.rows)(LcmBatchFiles.ledgerRowEnc)
    else
      LcmBatchFiles.ledgerRowsForRange(
        spark, a.batchInput, a.start, a.end, a.networkId)

  /** --permissive: poison datastore objects become REPORTED error rows —
    * counted in a stats line and dumped beside the output with the object
    * `path` that identifies them — never silently dropped. One job counts
    * the persisted result; the export then reads the same cache. */
  private def reportPoisoned(decoded: Dataset[ObjectDecodeResult],
      a: Args): Dataset[ObjectDecodeResult] = {
    val res = decoded.persist()
    val c = res.agg(count(lit(1)), count_if(col("error").isNull),
      count_if(col("error").isNotNull)).head()
    println(s"""{"xdr_frames":${c.getLong(0)},"xdr_decoded":${c.getLong(1)},""" +
      s""""xdr_poisoned":${c.getLong(2)}}""")
    if (c.getLong(2) > 0) {
      val errPath = a.output.stripSuffix("/") + "_decode_errors"
      res.filter(col("error").isNotNull).select(col("error"), col("path"))
        .write.mode("overwrite").json(errPath)
      println(s"""{"xdr_poisoned":${c.getLong(2)},"errors_path":"$errPath"}""")
    }
    res
  }

  /** Runs `write` over the command's ledgers ([[ledgerSource]]). An
    * unlimited export then prints ledgers expected against ledgers read, so
    * a hole in the datastore tree shows without failing the export. Not
    * under `--limit`: the sink's limit stops the read early, so the count
    * would show a hole that is not there (and `--limit 0` prunes the read
    * away entirely). A one-pass export counts with an observe() riding its
    * own query (no extra job). `persisted` caches the ledgers for an export
    * that reads them more than once, and counts the cache in one job after
    * the writes: an observe() there would ride writes whose frames may be
    * empty, and adaptive execution replaces an empty stage with an empty
    * relation, dropping the observed metric from the executed plan. */
  private def withLedgers(spark: SparkSession, a: Args,
      persisted: Boolean = false)(write: Dataset[LedgerRow] => Unit): Unit = {
    val src = ledgerSource(spark, a)
    def report(read: Any): Unit =
      println(s"""{"ledgers_expected":${a.end - a.start + 1},""" +
        s""""ledgers_read":$read}""")
    if (persisted) {
      val ledgers = src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      write(ledgers)
      if (a.limit < 0) report(ledgers.count())
    } else if (a.limit >= 0) write(src)
    else {
      val read = Observation("graft_ledgers_read")
      write(countedLedgers(src, read))
      report(read.get.getOrElse("ledgers", 0L))
    }
  }

  /** The command's ledgers with the ledgers-read count riding the export's
    * own query as `ledgers` on `read`. */
  private[graft] def countedLedgers(src: Dataset[LedgerRow],
      read: Observation): Dataset[LedgerRow] =
    src.observe(read, count(lit(1)).as("ledgers"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, a)
    spark.stop()
  }

  /** Command dispatch, separated from `main` so tests can drive commands on
    * a shared session without `spark.stop()` tearing it down. */
  def run(spark: SparkSession, a: Args): Unit = {
    // fail fast on a missing or impossible range, or a missing ledger
    // input, for every export command; the one continuous mode is
    // export_ledger_entry_changes with an EXPLICIT --end 0
    if (a.command.startsWith("export_")) {
      if (a.end < 0L) sys.error(
        s"${a.command} requires --end (use --end 0 on " +
          "export_ledger_entry_changes for the unbounded streaming mode)")
      if (a.end == 0L) {
        if (a.command != "export_ledger_entry_changes")
          sys.error("--end 0 (continuous/unbounded) only applies to " +
            "export_ledger_entry_changes; pass a bounded --end")
        if (a.permissive) sys.error(
          "--end 0 streams the datastore and --permissive is batch-only; " +
            "pass a bounded --end")
      } else if (a.end < a.start) sys.error(
        s"--end ${a.end} is below --start ${a.start}")
    }
    if ((a.command.startsWith("export_") ||
        a.command == "get_ledger_range_from_times") && a.batchInput.isEmpty)
      sys.error(s"${a.command} requires --batch-input <datastore tree>")

    a.command match {
      case "export_ledgers" =>
        withLedgers(spark, a)(l => sink(StellarTransforms.historyLedgers(l), a))

      case "export_transactions" =>
        withLedgers(spark, a)(l =>
          sink(StellarTransforms.historyTransactions(l), a))

      case "export_operations" =>
        withLedgers(spark, a)(l =>
          sink(StellarTransforms.historyOperations(l), a))

      case "export_effects" =>
        withLedgers(spark, a)(l =>
          sink(StellarTradesEffects.historyEffects(l), a))

      case "export_trades" =>
        withLedgers(spark, a)(l =>
          sink(StellarTradesEffects.historyTrades(l), a))

      case "export_token_transfers" =>
        withLedgers(spark, a)(l =>
          sink(TokenTransfers.fromLedgers(l, a.passphrase), a))

      case "export_assets" =>
        withLedgers(spark, a)(l => sink(StellarTransforms.historyAssets(l), a))

      case "export_ledger_transaction" =>
        withLedgers(spark, a)(l =>
          sink(StellarTransforms.ledgerTransactions(l.toDF()), a))

      case "export_contract_events" =>
        // the full diagnostic grain: tx meta v3 SorobanMeta → TxModel.diag_events
        withLedgers(spark, a)(l =>
          sink(SorobanStateTables.contractEventsFromLedgers(l), a))

      case "version" =>
        println(s"graft 0.4.0 (spark ${spark.version})")

      case "upload_to_gcs" =>
        // standalone upload-verify-delete (`cmd/upload_to_gcs.go`):
        // --gcs-bucket (any Hadoop FS URI or a bare gs bucket name) and
        // --path <local file or directory>
        require(a.path.nonEmpty, "upload_to_gcs requires --path")
        require(a.bucket.nonEmpty, "No bucket specified")
        uploadVerifyDelete(spark,
          if (a.cloudProvider.nonEmpty) a.cloudProvider else "gcp",
          a.bucket, a.path)

      case "export_ledger_entry_changes" =>
        exportEntryChanges(spark, a)

      case "get_ledger_range_from_times" =>
        // SURVEY §3.3: once ledgers are a table this is a min/max scan, not
        // an archive binary search. The scan honors --start/--end and only
        // defaults to a 5000-ledger window, anchored at --start so a bare
        // high start still yields a non-empty range, when no end was given.
        val src = ledgerSource(spark,
          a.copy(end = if (a.end > 0) a.end else a.start + 5000L))
        val ledgers = StellarTransforms.historyLedgers(src)
          .withColumnRenamed("sequence", "ledger_sequence")
        HistoryOps.ledgerRangeForTimes(ledgers,
            to_timestamp(lit(a.startTime)), to_timestamp(lit(a.endTime)))
          .collect().headOption match {
          case Some(r) => println(s"""{"start":${r.get(1)},"end":${r.get(2)}}""")
          // empty window: keep the old global-agg contract (nulls, not a crash)
          case None => println("""{"start":null,"end":null}""")
        }

      case "" | "help" =>
        println("commands: export_ledgers export_transactions export_operations " +
          "export_effects export_trades export_assets export_token_transfers " +
          "export_ledger_transaction export_contract_events " +
          "export_ledger_entry_changes get_ledger_range_from_times version " +
          "(--batch-input <datastore tree> is required by every export and " +
          "by get_ledger_range_from_times; --output accepts any Hadoop FS " +
          "URI — the upload_to_gcs analog; " +
          "--testnet/--futurenet select the network passphrase that " +
          "domain-separates tx hashes and SAC contract ids)")

      case other => sys.error(s"unknown command: $other")
    }
  }

  /** The four `export_ledger_entry_changes` entry types the datastore
    * carries at the change grain, flag name → output resource name — the
    * reference's `transformedOutputs` keys
    * (`cmd/export_ledger_entry_changes.go:102-113`). The classic families
    * (account, signer, offer, trustline, claimable_balance, pool) are not
    * exported. */
  val EntryTypes: Seq[(String, String)] = Seq(
    "contract_data" -> "contract_data",
    "contract_code" -> "contract_code",
    "config_setting" -> "config_settings",
    "ttl" -> "ttl")

  /** The per-batch fan-out of `cmd/export_ledger_entry_changes.go:95-270`:
    * every `--batch-size` ledgers produce one file per entry type, named
    * `{batchStart}-{batchEnd}-{resource}.txt` (`exportFilename`,
    * `command_utils.go:105-107`). `--export-type` narrows to a comma-list;
    * unset ⇒ all four, the reference's "no flags set ⇒ export everything"
    * default. Each type projects the decoded datastore ledgers at the
    * change grain, batched by the ledger the change occurred in.
    *
    * Spark shape: the reference loops batches sequentially on one thread;
    * here each resource is ONE distributed job — the batch id is a column,
    * `repartition(__batch)` + `partitionBy(__batch)` writes every batch
    * file concurrently, and a driver rename pass stamps the reference
    * filenames (FS metadata only, no data movement). At 100 TB the batch
    * count, not the driver, is the parallelism bound. */
  private def exportEntryChanges(spark: SparkSession, a: Args): Unit = {
    require(a.batchSize > 0, s"batch-size (${a.batchSize}) must be greater than 0")
    val wanted: Seq[(String, String)] =
      if (a.exportType == "all") EntryTypes
      else a.exportType.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        .map(t => EntryTypes.find(_._1 == t).getOrElse(sys.error(
          s"--batch-input exports the soroban state types " +
            s"(${EntryTypes.map(_._1).mkString(", ")}), not $t")))
    require(wanted.nonEmpty, s"no entry type in --export-type '${a.exportType}'")

    def frame(t: String, ledgers: Dataset[LedgerRow]): DataFrame = t match {
      case "contract_data" =>
        SorobanStateTables.contractDataFromLedgers(ledgers, a.passphrase)
      case "contract_code" => SorobanStateTables.contractCodeFromLedgers(ledgers)
      case "config_setting" => SorobanStateTables.configSettingsFromLedgers(ledgers)
      case "ttl" => SorobanStateTables.ttlFromLedgers(ledgers)
    }

    if (a.end == 0L) {
      val ledgers = LcmBatchFiles.ledgerRowsStream(spark, a.batchInput,
        Some(a.start), networkId = a.networkId)
      streamEntryChanges(spark, a,
        wanted.map { case (t, resource) => resource -> frame(t, ledgers) })
    } else
      // persisted once: all four state resources project the SAME decoded
      // rows — without this each resource re-reads and re-decodes the tree
      // (4× read amplification on a real backfill)
      withLedgers(spark, a, persisted = true) { ledgers =>
        wanted.foreach { case (t, resource) =>
          writeBatchFiles(spark, frame(t, ledgers), resource, a)
        }
      }
  }

  /** `--end 0` ⇒ UNBOUNDED export — the reference's continuous mode
    * (`cmd/export_ledger_entry_changes.go:72-89`: endNum 0 becomes
    * MaxInt32 and the change stream BLOCKS on new ledgers). Here the
    * frames are micro-batch streams over the datastore tree: objects
    * landing in it after the start become micro-batches, each projected by
    * the SAME state-table transforms as the bounded `--batch-input` export
    * (so bounded and unbounded runs agree row-for-row). Each resource gets
    * its own streaming sink at `{output}/{resource}` with its own
    * checkpoint at `{output}_ckpt/{resource}`, partitioned by `batch_id`,
    * the bounded run's [[batchOf]] — the reference's every-batchSize-ledgers
    * file grouping counted from `--start` (`changes.go:85-160`) as a
    * partition column, so each batch lands in its own directory and holds
    * the rows of the bounded run's file of the same index.
    *
    * Blocks like the reference; the `graft.stream.once` system property /
    * SPARK_GRAFT_STREAM_ONCE env (test hook) drains what is available,
    * stops, and prints one stats line per resource. */
  private def streamEntryChanges(spark: SparkSession, a: Args,
      frames: Seq[(String, DataFrame)]): Unit = {
    val fmt = a.format match {
      case "ndjson" => "json"
      case "parquet" => "parquet"
      case other => sys.error(s"unknown format: $other")
    }
    val out = a.output.stripSuffix("/")
    val sinks = frames.map { case (resource, frame) =>
      val df = withExtras(frame, a.extraFields)
        .withColumn("batch_id", batchOf(col("ledger_sequence"), a))
      val q = df.writeStream.format(fmt)
        .option("checkpointLocation", s"${out}_ckpt/$resource")
        .option("path", s"$out/$resource")
        .partitionBy("batch_id")
        .start()
      (resource, df.schema, q)
    }
    if (sys.props.contains("graft.stream.once") ||
        sys.env.contains("SPARK_GRAFT_STREAM_ONCE")) {
      sinks.foreach { case (resource, schema, q) =>
        q.processAllAvailable()
        q.stop()
        // the sink's own log lists the committed files; the schema is given
        // so a resource that has received no rows yet still reads as empty
        val n = spark.read.schema(schema).format(fmt).load(s"$out/$resource")
          .count()
        println(s"""{"resource":"$resource","attempted":$n,"failed":0,""" +
          s""""successful":$n}""")
      }
    } else spark.streams.awaitAnyTermination()
  }

  /** The batch a ledger falls in: batches of `--batch-size` ledgers
    * numbered from `--start`, the reference's export loop. */
  private def batchOf(seq: Column, a: Args): Column =
    floor((seq - a.start) / a.batchSize).cast("long")

  /** Distributed per-batch file writer: one shuffle on the batch id, one
    * part file per batch (repartition on the partition column ⇒ each batch
    * lands in exactly one task), then driver-side renames to the
    * reference-shaped `{bs}-{be}-{resource}.{txt|parquet}` names. Batches
    * with no rows still get an empty `.txt` (reference `MustOutFile` always
    * creates the file); empty parquet placeholders are skipped — a 0-byte
    * file is not valid parquet. A batch directory with more than one part
    * breaks that one-task law and fails the export rather than dropping
    * or splicing rows. */
  private def writeBatchFiles(spark: SparkSession, df0: DataFrame,
      resource: String, a: Args): Unit = {
    import org.apache.hadoop.fs.Path
    val ext = a.format match {
      case "ndjson" => "txt"
      case "parquet" => "parquet"
      case other => sys.error(s"unknown format: $other")
    }
    val df = withExtras(df0, a.extraFields)
      .where(col("ledger_sequence").between(a.start, a.end))
      .withColumn("__batch", batchOf(col("ledger_sequence"), a))
    val tmp = new Path(a.output, s".tmp-$resource")
    val writer = df.repartition(col("__batch"))
      .write.mode("overwrite").partitionBy("__batch")
    if (ext == "txt") writer.json(tmp.toString) else writer.parquet(tmp.toString)

    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    val nBatches = (a.end - a.start) / a.batchSize + 1
    var written = 0L
    (0L until nBatches).foreach { b =>
      val bs = a.start + b * a.batchSize
      val be = math.min(bs + a.batchSize - 1, a.end)
      val target = new Path(a.output, s"$bs-$be-$resource.$ext")
      fs.delete(target, false)
      val dir = new Path(tmp, s"__batch=$b")
      val parts =
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        else Array.empty[Path]
      parts.length match {
        case 0 => if (ext == "txt") fs.create(target, true).close()
        case 1 =>
          fs.rename(parts.head, target)
          written += 1
        case n => sys.error(
          s"$resource batch $bs-$be: $n part files, expected at most one")
      }
    }
    fs.delete(tmp, true)
    println(s"""{"resource":"$resource","batches":$nBatches,"nonEmpty":$written}""")
  }
}
