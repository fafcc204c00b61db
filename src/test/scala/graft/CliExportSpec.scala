package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cli.Export
import scala.jdk.CollectionConverters._

/** E2e for the export CLI over `RealXdrFixture` datastore trees (the
  * CLI's one ledger input): per-batch `export_ledger_entry_changes` files
  * with reference filenames (`{batchStart}-{batchEnd}-{resource}.txt`,
  * `cmd/command_utils.go:105-107`), range and flag checks, uploads and the
  * stats lines. */
class CliExportSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-cli-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-cli-$tag").toString

  private def ndjsonLines(path: java.nio.file.Path): Seq[String] =
    Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty)

  private def listed(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet

  private def ledgerSequences(lines: Seq[String]): Seq[Long] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.map(l => om.readTree(l).get("ledger_sequence").asLong())
  }

  test("all four soroban entry types export per-batch files with reference filenames") {
    val tree = batchTree(100, 227)
    val out = tmpDir("all")
    Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes",
      "--start", "100", "--end", "227", "--batch-size", "64",
      "--batch-input", tree, "--output", out)))

    val resources = Export.EntryTypes.map(_._2)
    assert(resources ==
      Seq("contract_data", "contract_code", "config_settings", "ttl"))
    val batches = Seq((100, 163), (164, 227))
    val expected = for ((bs, be) <- batches; r <- resources)
      yield s"$bs-$be-$r.txt"
    expected.foreach { name =>
      assert(Files.exists(Paths.get(out, name)), s"missing batch file $name")
    }
    // exactly the 8 batch files, no temp residue
    assert(listed(out) == expected.toSet)

    // every ledger carries one change per soroban family, so every batch is
    // non-empty, and ledger_sequence stays in the batch
    for ((bs, be) <- batches; r <- resources) {
      val lines = ndjsonLines(Paths.get(out, s"$bs-$be-$r.txt"))
      assert(lines.nonEmpty, s"$bs-$be-$r.txt is empty")
      assert(ledgerSequences(lines).forall(s => s >= bs && s <= be),
        s"$r rows leaked outside batch [$bs,$be]")
    }
  }

  test("single-type and comma-list export narrows the output") {
    val tree = batchTree(1000, 1063)
    def exported(exportType: String): Set[String] = {
      val out = tmpDir("narrow")
      Export.run(spark, Export.parse(Array(
        "export_ledger_entry_changes",
        "--start", "1000", "--end", "1063", "--batch-size", "64",
        "--export-type", exportType, "--batch-input", tree, "--output", out)))
      listed(out)
    }
    assert(exported("contract_data,ttl") ==
      Set("1000-1063-contract_data.txt", "1000-1063-ttl.txt"))
    assert(exported("config_setting") == Set("1000-1063-config_settings.txt"))
  }

  test("short final batch is clipped to --end") {
    // the tree runs past --end, so the clip is the range's, not the tree's
    val tree = batchTree(1000, 1110)
    val out = tmpDir("clip")
    Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes",
      "--start", "1000", "--end", "1100", "--batch-size", "64",
      "--export-type", "contract_code", "--batch-input", tree,
      "--output", out)))
    assert(listed(out) ==
      Set("1000-1063-contract_code.txt", "1064-1100-contract_code.txt"))
    val seqs = ledgerSequences(
      ndjsonLines(Paths.get(out, "1064-1100-contract_code.txt")))
    assert(seqs.nonEmpty)
    assert(seqs.toSet == (1064L to 1100L).toSet)
  }

  test("the reference's singular export_token_transfer spelling runs " +
    "end-to-end, and every reference Use: string dispatches") {
    // `cmd/export_token_transfers.go:14` registers `Use:
    // "export_token_transfer"` (singular) — a pasted reference invocation
    // must run unchanged
    assert(Export.parse(Array("export_token_transfer")).command ==
      "export_token_transfers")
    val out = tmpDir("singular") + "/tt"
    Export.run(spark, Export.parse(Array(
      "export_token_transfer", "--start", "1000", "--end", "1063",
      "--batch-input", batchTree(1000, 1063),
      "--output", out, "--format", "ndjson")))
    assert(Files.list(Paths.get(out)).iterator().asScala
      .exists(_.toString.endsWith(".json")), "singular spelling wrote no output")
    // CLI-name audit: every command the reference registers (the cobra
    // `Use:` strings across `cmd/*.go`; upload_to_gcs ships as a plain
    // function there, kept here as a subcommand) must dispatch
    val referenceUse = Seq("export_assets", "export_contract_events",
      "export_effects", "export_ledger_entry_changes",
      "export_ledger_transaction", "export_ledgers", "export_operations",
      "export_token_transfer", "export_trades", "export_transactions",
      "get_ledger_range_from_times", "version")
    referenceUse.foreach { u =>
      assert(Export.KnownCommands.contains(Export.parse(Array(u)).command),
        s"reference command $u does not dispatch")
    }
  }

  /** A tree spanning ledgers 150-350 for the time-window lookups. */
  private lazy val rangeTree = batchTree(150, 350)

  test("get_ledger_range_from_times resolves the bracketing sequences") {
    // fixture cadence: closed_at = 1700000000s + 5s * sequence, so the
    // window [1700000000+200*5, 1700000000+300*5] must resolve to [200,300]
    val out = printed("get_ledger_range_from_times",
      "--start", "150", "--end", "350", "--batch-input", rangeTree,
      "--start-time", "2023-11-14 22:30:00",
      "--end-time", "2023-11-14 22:38:20")
    assert(out.trim == """{"start":200,"end":300}""")
  }

  test("get_ledger_range_from_times with an empty window reports nulls") {
    val out = printed("get_ledger_range_from_times",
      "--start", "150", "--end", "350", "--batch-input", rangeTree,
      "--start-time", "1999-01-01 00:00:00",
      "--end-time", "1999-01-02 00:00:00")
    assert(out.trim == """{"start":null,"end":null}""")
  }

  test("upload_to_gcs: upload-verify-delete over the Hadoop FS abstraction") {
    // the reference's K3 contract (upload_to_gcs.go:25-74): copy to the
    // bucket with the LOCAL PATH as the object key, verify the uploaded
    // object readback, delete the local copy only on success. file: here,
    // gs:// in production — same code path.
    val bucket = tmpDir("bucket")
    val local = Files.createTempDirectory("graft-upload-src")
    Files.writeString(local.resolve("batch.txt"), "line1\nline2\n")

    val file = local.resolve("batch.txt").toString
    Export.run(spark, Export.parse(Array(
      "upload_to_gcs", "--gcs-bucket", s"file:$bucket", "--path", file)))
    // object key = the local path, rooted under the bucket
    val uploaded = Paths.get(bucket, file)
    assert(Files.exists(uploaded), s"missing $uploaded")
    assert(Files.readString(uploaded) == "line1\nline2\n")
    assert(!Files.exists(Paths.get(file)), "local file must be deleted")

    // a whole export directory uploads recursively (MaybeUpload on a sink)
    val tree = batchTree(100, 103)
    val outDir = tmpDir("upload-export")
    Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100", "--end", "103",
      "--batch-input", tree, "--output", outDir,
      "--cloud-provider", "gcp", "--cloud-storage-bucket", s"file:$bucket")))
    val destDir = Paths.get(bucket, outDir)
    assert(Files.isDirectory(destDir))
    assert(Files.list(destDir).iterator().asScala.nonEmpty)
    assert(!Files.exists(Paths.get(outDir)), "local export must be deleted")

    // no provider ⇒ the hook is silent and the output stays local
    val outStay = tmpDir("upload-stays")
    Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100", "--end", "103",
      "--batch-input", tree, "--output", outStay)))
    assert(Files.exists(Paths.get(outStay)))

    // provider without bucket ⇒ fatal (command_utils.go:129-131)
    intercept[IllegalArgumentException] {
      Export.run(spark, Export.parse(Array(
        "export_ledgers", "--start", "100", "--end", "103",
        "--batch-input", tree, "--output", tmpDir("upload-nobkt"),
        "--cloud-provider", "gcp")))
    }
  }

  test("the datastore tree is the one ledger input: --xdr-input and --input " +
      "are unknown flags") {
    for (flag <- Seq("--xdr-input", "--input", "--table-dir")) {
      val e = intercept[RuntimeException](Export.parse(Array(
        "export_ledgers", "--start", "1", "--end", "2", flag, "/tmp/x")))
      assert(e.getMessage == s"unknown flag: $flag", e.getMessage)
    }
  }

  test("missing --end fails fast; --end 0 is rejected off the changes command") {
    // omitting --end must not silently enter the unbounded streaming arm
    // (pre-r12 regression: Args.end defaulted to 0 and blocked forever)
    val e1 = intercept[RuntimeException](Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100",
      "--output", tmpDir("noend"), "--format", "parquet"))))
    assert(e1.getMessage.contains("requires --end"))
    // the reference's endNum=0 continuous semantics exist ONLY on
    // export_ledger_entry_changes
    val e2 = intercept[RuntimeException](Export.run(spark, Export.parse(Array(
      "export_transactions", "--start", "100", "--end", "0",
      "--output", tmpDir("noend2"), "--format", "parquet"))))
    assert(e2.getMessage.contains("only applies to"))
  }

  test("--testnet re-domains the tx hash and the SAC contract-data " +
      "self-check (GetEnvironmentDetails passphrase law)") {
    import graft.codec.{Hashes, Network, SacContractId, ScVal, StellarXdr,
      Strkey, XdrEncode}
    val srcKey = Hashes.sha256("net-src".getBytes("UTF-8"))
    val destKey = Hashes.sha256("net-dst".getBytes("UTF-8"))
    val issuer = Hashes.sha256("net-iss".getBytes("UTF-8"))

    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = srcKey, fee = 100L, seqNum = 7L,
      ops = Seq(XdrEncode.createAccountOp(destKey, 5000000L))))
    val result = XdrEncode.txResult(100L, 0, Seq(XdrEncode.OpResultSpec(0, 0)))
    val header = XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(77001L, 1719600000L))

    // instance entry whose contract id derives from the TESTNET
    // passphrase: the SAC asset walk recovers the asset only when the
    // export runs with the matching network
    val cdKey = ScVal.encode(ScVal.LedgerKeyContractInstance)
    val cdVal = ScVal.encode(ScVal.ContractInstance(None, Seq(
      ScVal.Vec(Seq(ScVal.Sym("AssetInfo"))) ->
        ScVal.Vec(Seq(ScVal.Sym("AlphaNum4"), ScVal.M(Seq(
          ScVal.Sym("asset_code") -> ScVal.Str("TSTX"),
          ScVal.Sym("issuer") -> ScVal.Bytes(issuer))))))))
    val testnetSacId = SacContractId.contractId(
      "credit_alphanum4", "TSTX", issuer, Network.TestnetPassphrase)
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
      opChanges = Seq(Seq(XdrEncode.change(0, XdrEncode.ledgerEntry(77001L,
        XdrEncode.contractDataEntry(testnetSacId, cdKey, 1, cdVal)))))))
    val feeMeta = XdrEncode.feeMetaPair(srcKey, 1000000L, 999900L)
    val lcmTx = XdrEncode.LcmTx(env, result, meta, feeMeta)
    // one datastore tree per network: the same tx bytes, with the
    // result-pair hash each network's core would embed
    def tree(networkId: Array[Byte]): String = {
      val dir = tmpDir("net-tree")
      graft.sources.LcmBatchFiles.writeTree(dir,
        Seq((header, Seq(lcmTx))), networkId)
      dir
    }
    val trees = Seq("pubnet", "testnet", "futurenet")
      .map(n => n -> tree(Network.id(n))).toMap
    val om = new com.fasterxml.jackson.databind.ObjectMapper()

    // --- tx hash: same bytes, different domain ---
    def exportedHash(tree: String, flags: String*): String = {
      val out = tmpDir("net-txs") + "/txs"
      Export.run(spark, Export.parse(Array(
        "export_transactions", "--start", "77001", "--end", "77001",
        "--batch-input", tree, "--output", out,
        "--format", "ndjson") ++ flags))
      val rows = jsonRows(out)
      assert(rows.size == 1)
      om.readTree(rows.head).get("transaction_hash").asText()
    }
    val mainnetHash = exportedHash(trees("pubnet"))
    val testnetHash = exportedHash(trees("testnet"), "--testnet")
    assert(mainnetHash != testnetHash)
    // the testnet hash IS sha256(testnetNetworkId ‖ ENVELOPE_TYPE_TX ‖ tx)
    assert(testnetHash == Hashes.hex(
      StellarXdr.decodeTxEnvelope(env, Network.id("testnet")).hash))
    assert(mainnetHash == Hashes.hex(StellarXdr.decodeTxEnvelope(env).hash))
    // futurenet is a THIRD domain; testnet wins when both flags are set
    // (the reference's GetEnvironmentDetails checks IsTest first)
    val futurenetHash = exportedHash(trees("futurenet"), "--futurenet")
    assert(futurenetHash != testnetHash && futurenetHash != mainnetHash)
    assert(exportedHash(trees("testnet"), "--testnet", "--futurenet") ==
      testnetHash)

    // --- SAC asset walk over the TESTNET-written datastore tree ---
    def exportedContractData(tree: String, flags: String*): String = {
      val out = tmpDir("net-cd")
      Export.run(spark, Export.parse(Array(
        "export_ledger_entry_changes", "--start", "77001", "--end", "77001",
        "--batch-input", tree, "--export-type", "contract_data",
        "--batch-size", "64", "--output", out,
        "--format", "ndjson") ++ flags))
      val rows = ndjsonLines(Paths.get(out, "77001-77001-contract_data.txt"))
      assert(rows.size == 1)
      rows.head
    }
    val testnetTree = trees("testnet")
    val tn = om.readTree(exportedContractData(testnetTree, "--testnet"))
    assert(tn.get("contract_id").asText() ==
      Strkey.encodeContract(testnetSacId))
    assert(tn.get("asset_code").asText() == "TSTX")
    assert(tn.get("asset_type").asText() == "credit_alphanum4")
    assert(tn.get("asset_issuer").asText() == Strkey.encodeAccountId(issuer))
    // the same entry on a MAINNET tree under the mainnet default: the
    // self-check derives the mainnet SAC id, which cannot match the
    // testnet-derived contract id — impostor rejected, fields empty
    val mn = om.readTree(exportedContractData(trees("pubnet")))
    assert(mn.get("asset_code").asText() == "" &&
      mn.get("asset_type").asText() == "")
    // cross-network decode fails LOUDLY: a testnet tree read as mainnet
    // trips the embedded result-pair hash consistency check
    val err = intercept[org.apache.spark.SparkException] {
      exportedContractData(testnetTree)
    }
    assert(err.getMessage.contains("not in tx set"))

    // token transfers derive network-correct SAC contract ids: the native
    // asset's C-address differs by network (create_account emits a
    // transfer event whose contract_id is the native SAC)
    def transferContractIds(tree: String, flags: String*): Set[String] = {
      val out = tmpDir("net-tt") + "/tt"
      Export.run(spark, Export.parse(Array(
        "export_token_transfers", "--start", "77001", "--end", "77001",
        "--batch-input", tree, "--output", out,
        "--format", "ndjson") ++ flags))
      jsonRows(out).map(l => om.readTree(l).get("contract_id").asText()).toSet
    }
    val nativeTestnet = SacContractId.contractAddress("native", "",
      Array.emptyByteArray, Network.TestnetPassphrase)
    val nativeMainnet = SacContractId.contractAddress("native", "",
      Array.emptyByteArray)
    assert(nativeTestnet != nativeMainnet)
    assert(transferContractIds(trees("testnet"), "--testnet") ==
      Set(nativeTestnet))
    assert(transferContractIds(trees("pubnet")) == Set(nativeMainnet))
  }

  // ---- --batch-input: the datastore tree through the connector ---------------

  /** A RealXdrFixture datastore tree over [start, end]; `poisoned` objects
    * are truncated to half their zstd frame, `deleted` ones removed. */
  private def batchTree(start: Long, end: Long, poisoned: Seq[Long] = Nil,
      deleted: Seq[Long] = Nil): String = {
    val dir = tmpDir("batch-tree")
    graft.sources.RealXdrFixture.writeBatchTree(dir, start, end)
    def obj(seq: Long) =
      Paths.get(dir, graft.sources.LcmBatchFiles.objectKey(seq))
    poisoned.foreach { seq =>
      val bytes = Files.readAllBytes(obj(seq))
      Files.write(obj(seq), java.util.Arrays.copyOf(bytes, bytes.length / 2))
    }
    deleted.foreach(seq => Files.delete(obj(seq)))
    dir
  }

  /** Runs one export; returns what it printed. */
  private def printed(args: String*): String = {
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
      Export.run(spark, Export.parse(args.toArray))
    }
    stdout.toString("UTF-8")
  }

  private def jsonRows(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".json")).flatMap(ndjsonLines(_)).toSeq

  test("--permissive reaches export_ledger_entry_changes --batch-input: the " +
      "poison object is reported and the good batches still export") {
    val tree = batchTree(9100, 9107, poisoned = Seq(9105))
    val out = tmpDir("changes-permissive") + "/changes"
    val log = printed("export_ledger_entry_changes", "--start", "9100",
      "--end", "9107", "--batch-size", "4", "--export-type", "contract_data",
      "--batch-input", tree, "--permissive", "--output", out)
    assert(log.contains(
      """{"xdr_frames":8,"xdr_decoded":7,"xdr_poisoned":1}"""), log)
    assert(log.contains(""""xdr_poisoned":1,"errors_path""""), log)
    assert(log.contains(""""ledgers_expected":8,"ledgers_read":7"""), log)
    assert(Files.exists(Paths.get(out + "_decode_errors")))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val seqs = Seq("9100-9103", "9104-9107").map { b =>
      ndjsonLines(Paths.get(out, s"$b-contract_data.txt"))
        .map(l => om.readTree(l).get("ledger_sequence").asLong()).toSet
    }
    assert(seqs(0) == Set(9100L, 9101L, 9102L, 9103L))
    assert(seqs(1) == Set(9104L, 9106L, 9107L))
  }

  test("--permissive --batch-input reads only the range: a poison object " +
      "outside [start, end] is never decoded") {
    val tree = batchTree(9200, 9204, poisoned = Seq(9204))
    val out = tmpDir("range-permissive") + "/txs"
    val log = printed("export_transactions", "--start", "9200", "--end",
      "9203", "--batch-input", tree, "--permissive", "--output", out)
    assert(log.contains(
      """{"xdr_frames":4,"xdr_decoded":4,"xdr_poisoned":0}"""), log)
    assert(!log.contains(""""xdr_poisoned":1"""), log)
    assert(!Files.exists(Paths.get(out + "_decode_errors")))
    assert(jsonRows(out).size == (9200L to 9203L).map(_ % 3 + 1).sum)
  }

  test("--batch-input reports ledgers read against ledgers expected: a " +
      "missing object shows as one ledger short, without failing") {
    val tree = batchTree(9300, 9307, deleted = Seq(9303))
    val out = tmpDir("hole") + "/ledgers"
    val log = printed("export_ledgers", "--start", "9300", "--end", "9307",
      "--batch-input", tree, "--output", out)
    assert(log.contains("""{"ledgers_expected":8,"ledgers_read":7}"""), log)
    assert(jsonRows(out).size == 7)
  }

  test("export_ledger_entry_changes counts the ledgers it read when no " +
      "ledger carries a soroban change, for NDJSON and Parquet") {
    // every state resource is empty over a classic-only tree, so the count
    // cannot ride the resource writes: a count of 0 here is a false hole
    val tree = tmpDir("classic-tree")
    graft.sources.RealXdrFixture.writeClassicBatchTree(tree, 3000, 3063)
    for (format <- Seq("ndjson", "parquet")) {
      val out = tmpDir(s"no-soroban-$format") + "/changes"
      val log = printed("export_ledger_entry_changes", "--start", "3005",
        "--end", "3063", "--batch-size", "50", "--format", format,
        "--batch-input", tree, "--output", out)
      assert(log.contains("""{"ledgers_expected":59,"ledgers_read":59}"""),
        s"$format: $log")
      assert(log.contains(""""resource":"ttl","batches":2,"nonEmpty":0"""),
        s"$format: $log")
    }
  }

  test("--batch-input --limit: the export finishes and prints no ledgers " +
      "read line, which a limited read would show as a false hole") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val tree = batchTree(9400, 9405)
    def limited(n: Int): (String, Seq[String]) = {
      val out = tmpDir(s"limit-$n") + "/ledgers"
      val log = Await.result(Future(printed("export_ledgers", "--start",
        "9400", "--end", "9405", "--limit", n.toString, "--batch-input", tree,
        "--output", out)), 3.minutes)
      (log, if (Files.exists(Paths.get(out))) jsonRows(out) else Nil)
    }
    val (log0, rows0) = limited(0)
    assert(!log0.contains("ledgers_read"), log0)
    assert(rows0.isEmpty)
    val (log1, rows1) = limited(1)
    assert(!log1.contains("ledgers_read"), log1)
    assert(rows1.size == 1)
  }

  /** The rows an export wrote, read back from its files: NDJSON lines, or
    * the Parquet files' row count (0 when the write left none). */
  private def rowsOnDisk(out: String, format: String): Long = format match {
    case "ndjson" => jsonRows(out).size.toLong
    case "parquet" =>
      if (Files.list(Paths.get(out)).iterator().asScala
          .exists(_.toString.endsWith(".parquet")))
        spark.read.parquet(out).count()
      else 0L
  }

  private def k5(n: Long): String =
    s"""{"attempted":$n,"failed":0,"successful":$n}"""

  test("the K5 stats line counts the rows written, for NDJSON and Parquet " +
      "alike, under --limit and --extra-fields") {
    val tree = batchTree(9500, 9503)
    for (format <- Seq("ndjson", "parquet"); limit <- Seq(3L, 0L)) {
      val out = tmpDir(s"k5-$format-$limit") + "/ops"
      val log = printed("export_operations", "--start", "9500", "--end",
        "9503", "--batch-input", tree, "--format", format, "--limit",
        limit.toString, "--extra-fields", "batch=k5", "--output", out)
      assert(rowsOnDisk(out, format) == limit, s"$format --limit $limit")
      if (limit > 0) {
        val back = format match {
          case "ndjson" => spark.read.json(out)
          case "parquet" => spark.read.parquet(out)
        }
        assert(back.where(org.apache.spark.sql.functions.col("batch") === "k5")
          .count() == limit, format)
      }
      assert(log.contains(k5(limit)), s"$format --limit $limit: $log")
    }
  }

  test("the K5 line equals a re-read of the output: export_ledgers and " +
      "export_operations, NDJSON and Parquet") {
    val tree = batchTree(9600, 9607)
    for (cmd <- Seq("export_ledgers", "export_operations");
         format <- Seq("ndjson", "parquet")) {
      val out = tmpDir(s"k5-$cmd-$format") + "/out"
      val log = printed(cmd, "--start", "9600", "--end", "9607",
        "--batch-input", tree, "--format", format, "--output", out)
      val n = rowsOnDisk(out, format)
      assert(n >= 8, s"$cmd $format")
      assert(log.contains(k5(n)), s"$cmd $format: $log")
    }
  }

  test("an export whose output is empty prints a K5 count of 0 and returns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the classic LP/CB tree holds no offers, so it has no trades
    val tree = tmpDir("classic-no-trades")
    graft.sources.RealXdrFixture.writeClassicBatchTree(tree, 3000, 3007)
    for (format <- Seq("ndjson", "parquet")) {
      val out = tmpDir(s"k5-empty-$format") + "/trades"
      val log = Await.result(Future(printed("export_trades", "--start",
        "3000", "--end", "3007", "--batch-input", tree, "--format", format,
        "--output", out)), 3.minutes)
      assert(log.contains(k5(0)), s"$format: $log")
      assert(rowsOnDisk(out, format) == 0L, format)
    }
  }

  test("--limit above Int.MaxValue is rejected naming the flag; a negative " +
      "limit means every row") {
    val err = intercept[RuntimeException](
      Export.parse(Array("export_ledgers", "--limit", "3000000000")))
    assert(err.getMessage.contains("--limit"), err.getMessage)
    assert(Export.parse(Array("export_ledgers", "-l", "2147483647")).limit ==
      Int.MaxValue)
    val tree = batchTree(9800, 9802)
    val out = tmpDir("negative-limit") + "/ledgers"
    val log = printed("export_ledgers", "--start", "9800", "--end", "9802",
      "--batch-input", tree, "--limit", "-5", "--output", out)
    assert(log.contains(k5(3)), log)
    assert(jsonRows(out).size == 3)
  }

  test("impossible ranges fail before anything is read or written: --end " +
      "below --start, --end 0 off export_ledger_entry_changes " +
      "--batch-input, and --end 0 with --permissive") {
    val tree = batchTree(9600, 9601)
    def failure(args: String*): (String, String) = {
      val out = tmpDir("bad-range") + "/out"
      val e = intercept[RuntimeException](
        Export.run(spark, Export.parse((args ++ Seq("--output", out)).toArray)))
      assert(!Files.exists(Paths.get(out)), args.mkString(" "))
      (e.getMessage, out)
    }
    val (reversed, _) = failure("export_ledgers", "--start", "200", "--end",
      "100", "--batch-input", tree)
    assert(reversed.contains("--end 100 is below --start 200"), reversed)
    assert(failure("export_transactions", "--start", "9601", "--end", "9600")
      ._1.contains("below --start"))
    // continuous mode exists only over the datastore tree
    val (noTree, _) = failure("export_ledger_entry_changes", "--start", "100",
      "--end", "0")
    assert(noTree.contains("requires --batch-input"), noTree)
    assert(failure("export_ledgers", "--start", "9600", "--end", "0",
      "--batch-input", tree)._1.contains("only applies to"))
    // the permissive reader is batch-only
    val (permissive, out) = failure("export_ledger_entry_changes", "--start",
      "9600", "--end", "0", "--batch-input", tree, "--permissive")
    assert(permissive.contains("--permissive is batch-only"), permissive)
    assert(!Files.exists(Paths.get(out + "_ckpt")))
  }

  test("--end 0 streams export_ledger_entry_changes off the datastore " +
      "tree: a re-run on the same checkpoints drains only new objects, and " +
      "each soroban resource equals the bounded --batch-input export") {
    import org.apache.spark.sql.functions.{col, floor}
    // the reference's continuous mode (export_ledger_entry_changes.go:72-89,
    // endNum 0 ⇒ MaxInt32 + blocking change stream); ledgers before
    // --start are in the tree but never stream
    val tree = batchTree(6000, 6063)
    val out = tmpDir("stream-changes") + "/changes"
    val resources = Seq("contract_data", "contract_code", "config_settings",
      "ttl")
    def stream(): String = {
      sys.props("graft.stream.once") = "1"
      try printed("export_ledger_entry_changes", "--start", "6010", "--end",
        "0", "--batch-size", "64", "--batch-input", tree, "--output", out,
        "--format", "parquet")
      finally sys.props.remove("graft.stream.once")
    }
    def dataFiles(resource: String): Set[java.nio.file.Path] =
      Files.walk(Paths.get(out, resource)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toSet
    stream()
    val firstFiles = resources.map(r => r -> dataFiles(r)).toMap
    // sixty-four more objects land; a fresh run on the same checkpoints
    // resumes where the first stopped
    graft.sources.RealXdrFixture.writeBatchTree(tree, 6064, 6127)
    val log = stream()

    val boundedOut = tmpDir("stream-bounded") + "/changes"
    Export.run(spark, Export.parse(Array("export_ledger_entry_changes",
      "--start", "6010", "--end", "6127", "--batch-size", "64",
      "--batch-input", tree, "--output", boundedOut, "--format", "parquet")))

    resources.foreach { r =>
      assert(firstFiles(r).nonEmpty, r)
      val streamed = spark.read.parquet(s"$out/$r")
      // the re-run wrote only the new objects' ledgers
      val newFiles = (dataFiles(r) -- firstFiles(r)).toSeq.map(_.toString)
      assert(newFiles.nonEmpty, r)
      val newSeqs = spark.read.option("basePath", s"$out/$r")
        .parquet(newFiles: _*).select("ledger_sequence").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(newSeqs == (6064L to 6127L).toSet, r)
      val bounded = spark.read.parquet(s"$boundedOut/*-$r.parquet")
      val rows = streamed.drop("batch_id").collect().map(_.toSeq)
      assert(rows.length == bounded.count(), r)
      assert(rows.toSet == bounded.collect().map(_.toSeq).toSet, r)
      assert(rows.map(_(streamed.columns.indexOf("ledger_sequence")))
        .toSet == (6010L to 6127L).toSet, r)
      // one batch law with the bounded run: batches of --batch-size ledgers
      // counted from --start (6010 is not a multiple of 64), so batch b
      // holds exactly the rows of the bounded run's b-th file
      assert(streamed.where(col("batch_id") =!=
        floor((col("ledger_sequence") - 6010) / 64)).isEmpty, r)
      assert(streamed.select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet == Set(0L, 1L), r)
      Seq(0L -> "6010-6073", 1L -> "6074-6127").foreach { case (b, file) =>
        val batch = streamed.where(col("batch_id") === b).drop("batch_id")
          .collect().map(_.toSeq).toSet
        assert(batch == spark.read.parquet(s"$boundedOut/$file-$r.parquet")
          .collect().map(_.toSeq).toSet, s"$r batch $b")
      }
      assert(log.contains(s"""{"resource":"$r","attempted":${rows.length},""" +
        s""""failed":0,"successful":${rows.length}}"""), log)
    }
  }

  test("export_effects --format ndjson writes the VARIANT details as a raw " +
      "JSON object with null keys dropped") {
    // the classic LP/CB tree: pool, claimable-balance and account effects
    // (trade effects are checked at the transform, EffectsDetailsSpec)
    val tree = tmpDir("classic-tree")
    graft.sources.RealXdrFixture.writeClassicBatchTree(tree, 2000, 2039)
    val out = tmpDir("effects-ndjson") + "/effects"
    Export.run(spark, Export.parse(Array("export_effects", "--start", "2000",
      "--end", "2039", "--batch-input", tree, "--output", out,
      "--format", "ndjson")))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = jsonRows(out).map(om.readTree)
    assert(rows.nonEmpty)
    rows.foreach { n =>
      val d = n.get("details")
      assert(d.isObject, s"details must be a raw object: $n")
      assert(!d.elements().asScala.exists(_.isNull), s"null key kept: $n")
    }
  }

  test("an export without --batch-input fails naming the flag, before " +
      "anything is written") {
    val out = tmpDir("no-input") + "/ledgers"
    val e = intercept[RuntimeException](Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100", "--end", "103", "--output", out))))
    assert(e.getMessage.contains("--batch-input"), e.getMessage)
    assert(!Files.exists(Paths.get(out)))
    val range = intercept[RuntimeException](Export.run(spark, Export.parse(
      Array("get_ledger_range_from_times", "--start", "100",
        "--start-time", "2023-11-14 22:30:00",
        "--end-time", "2023-11-14 22:38:20"))))
    assert(range.getMessage.contains("--batch-input"), range.getMessage)
  }

  test("export_ledger_entry_changes --batch-input rejects a classic " +
      "--export-type") {
    val tree = batchTree(9700, 9701)
    val out = tmpDir("classic-type") + "/changes"
    val e = intercept[RuntimeException](Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes", "--start", "9700", "--end", "9701",
      "--export-type", "account", "--batch-input", tree, "--output", out))))
    assert(e.getMessage.contains("soroban state types"), e.getMessage)
    assert(e.getMessage.endsWith("not account"), e.getMessage)
    assert(!Files.exists(Paths.get(out)))
    // --strict-export is the reference's spelling of the default mode
    assert(Export.parse(Array("export_ledger_entry_changes",
      "--strict-export")) == Export.parse(Array("export_ledger_entry_changes")))
  }
}
