package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Hashes, ScVal, StellarXdr, Strkey, XdrEncode}
import graft.model.LedgerModel._
import graft.operators.{SorobanStateTables, StellarTransforms}
import graft.sources.LcmBatchFiles

/** End-to-end Soroban TRANSACTION vectors through the real-XDR path: the
  * classic-era golden corpus has no type-24/25/26 operations, so these
  * synthesize post-protocol-20 envelopes/results/v3-meta with [[XdrEncode]]
  * (real wire layout), decode with the production [[StellarXdr]], and assert
  * the reference's laws on the UNCHANGED transforms — soroban fee
  * decomposition (`transaction.go:131-191`), invoke/extend/restore details
  * (`operation.go:1063-1163`), footprint-derived hashes
  * (`operation.go:1797-1885`), SAC asset_balance_changes
  * (`operation.go:1942-1998`), and the contract-events fan-out.
  *
  * Also proves the datastore batch-file path ([[LcmBatchFiles]]): write a
  * `LedgerCloseMetaBatch` tree (1 ledger/file), read it back through the
  * datastore connector + executor decode, and match the direct decode.
  */
class SorobanTxReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val om = new ObjectMapper()

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-soroban-tx-replay")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def key(s: String): Array[Byte] =
    Hashes.sha256(s.getBytes("UTF-8"))

  private val srcKey = key("src")
  private val contractId = key("contract")
  private val codeHash = key("code")
  private val dataKey = ScVal.encode(ScVal.Sym("K"))

  private def sorobanData = XdrEncode.SorobanData(
    resourceFee = 40000L, instructions = 1000000L,
    readBytes = 5000L, writeBytes = 2000L,
    readOnlyKeys = Seq(XdrEncode.contractCodeLedgerKey(codeHash)),
    readWriteKeys = Seq(
      XdrEncode.contractDataLedgerKey(contractId, dataKey, 1)))

  /** A SAC transfer event + a junk contract event + a diagnostic-only
    * fn_call event (filtered out of asset_balance_changes, kept in the
    * contract_events table). */
  private def metaEvents: Seq[Array[Byte]] = {
    import ScVal._
    val transfer = XdrEncode.contractEvent(Some(contractId), 1,
      Seq(encode(Sym("transfer")), encode(AddrAccount(srcKey)),
        encode(AddrContract(contractId)), encode(Str("native"))),
      encode(I128(0L, 5000000L)))
    val junk = XdrEncode.contractEvent(Some(contractId), 1,
      Seq(encode(Sym("custom_event"))), encode(Sym("not_an_amount")))
    val fnCall = XdrEncode.contractEvent(None, 2,
      Seq(encode(Sym("fn_call"))), encode(Void))
    Seq(
      XdrEncode.diagnosticEvent(inSuccessful = true, transfer),
      XdrEncode.diagnosticEvent(inSuccessful = true, junk),
      XdrEncode.diagnosticEvent(inSuccessful = false, fnCall))
  }

  private def sorobanMetaSpec = XdrEncode.SorobanMetaSpec(
    nonRefundable = 25000L, refundable = 5000L, rent = 1500L,
    diagnosticEvents = metaEvents)

  /** Build one soroban tx (envelope/result/meta/feeMeta) around an op. */
  private def sorobanTx(op: XdrEncode.OpBody,
      opResult: XdrEncode.OpResultSpec): XdrEncode.LcmTx = {
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = srcKey, fee = 140000L, seqNum = 42L, ops = Seq(op),
      memoText = Some("sorotest"), soroban = Some(sorobanData)))
    val result = XdrEncode.txResult(120000L, 0, Seq(opResult))
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
      opChanges = Seq(Seq(
        XdrEncode.change(0, XdrEncode.ledgerEntry(900L,
          XdrEncode.ttlEntry(key("ttlkey"), 99999L))))),
      txChangesAfter = Seq(
        XdrEncode.change(3, XdrEncode.ledgerEntry(1L,
          XdrEncode.accountEntry(srcKey, 500000000L))),
        XdrEncode.change(1, XdrEncode.ledgerEntry(1L,
          XdrEncode.accountEntry(srcKey, 500010000L)))),
      soroban = Some(sorobanMetaSpec)))
    val feeMeta = XdrEncode.feeMetaPair(srcKey, 1000000000L, 1000000000L - 130000L)
    XdrEncode.LcmTx(env, result, meta, feeMeta)
  }

  private def ledgerRowOf(tx: XdrEncode.LcmTx, seq: Long = 55555L): LedgerRow = {
    val header = XdrEncode.ledgerHeader(
      XdrEncode.HeaderSpec(seq = seq, closeTime = 1719250210L))
    def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
    StellarXdr.decodeLedgerRow(b64(header), Seq(StellarXdr.TxInput(
      b64(tx.envelope), b64(tx.result), b64(tx.meta), b64(tx.feeMeta))))
  }

  private def toDs(rows: Seq[LedgerRow]) = {
    val s = spark; import s.implicits._
    rows.toDS()
  }

  private def invokeTx = sorobanTx(
    XdrEncode.invokeContractOp(contractId, "swap",
      Seq(ScVal.encode(ScVal.U64(77L)), ScVal.encode(ScVal.I32(-5)))),
    XdrEncode.invokeSuccess(key("retval")))

  // ---- soroban fee decomposition ---------------------------------------------

  test("soroban fees: the full decomposition law on a synthetic invoke tx") {
    val out = StellarTransforms.historyTransactions(toDs(Seq(ledgerRowOf(invokeTx))))
      .collect().head
    def g(c: String): Long = out.getAs[Long](c)
    assert(g("resource_fee") == 40000L)
    assert(g("soroban_resources_instructions") == 1000000L)
    assert(g("soroban_resources_read_bytes") == 5000L)
    assert(g("soroban_resources_write_bytes") == 2000L)
    assert(g("max_fee") == 140000L)
    assert(g("fee_charged") == 120000L)
    assert(g("inclusion_fee_bid") == 100000L) // max_fee - resource_fee
    // fee-meta diff 130000 - resource_fee
    assert(g("inclusion_fee_charged") == 90000L)
    assert(g("resource_fee_refund") == 10000L) // txChangesAfter balance diff
    assert(g("non_refundable_resource_fee_charged") == 25000L)
    assert(g("refundable_resource_fee_charged") == 5000L)
    assert(g("rent_fee_charged") == 1500L)
    // the hash law still holds with the soroban ext in the envelope bytes
    assert(out.getAs[String]("transaction_hash") ==
      StellarXdr.txHashHex(out.getAs[String]("tx_envelope")))
  }

  // ---- invoke details ---------------------------------------------------------

  private def opDetails(tx: XdrEncode.LcmTx): com.fasterxml.jackson.databind.JsonNode = {
    val row = StellarTransforms.historyOperations(toDs(Seq(ledgerRowOf(tx))))
      .selectExpr("type_string", "cast(details_json as string) as dj")
      .collect().head
    om.readTree(row.getAs[String]("dj"))
  }

  test("invoke_contract details: reference key law on real wire bytes") {
    val d = opDetails(invokeTx)
    assert(d.get("function").asText() ==
      "HostFunctionTypeHostFunctionTypeInvokeContract")
    assert(d.get("type").asText() == "invoke_contract")
    assert(d.get("contract_id").asText() == Strkey.encodeContract(contractId))
    assert(d.get("contract_code_hash").asText() == Hashes.hex(codeHash))
    // ledger_key_hash: sha256 of each footprint key, read-only first
    val expectedHashes = Seq(
      Hashes.sha256Hex(XdrEncode.contractCodeLedgerKey(codeHash)),
      Hashes.sha256Hex(XdrEncode.contractDataLedgerKey(contractId, dataKey, 1)))
    val gotSeq = d.get("ledger_key_hash").elements().asScala
      .map(_.asText()).toSeq
    assert(gotSeq == expectedHashes)
    // parameters: [address, symbol, arg...] — the reference PREPENDS the
    // target and function name (operation.go:1068-1075)
    val params = d.get("parameters").elements().asScala
      .map(_.asText()).toSeq
    assert(params == Seq(
      java.util.Base64.getEncoder.encodeToString(
        ScVal.encode(ScVal.AddrContract(contractId))),
      java.util.Base64.getEncoder.encodeToString(
        ScVal.encode(ScVal.Sym("swap"))),
      java.util.Base64.getEncoder.encodeToString(ScVal.encode(ScVal.U64(77L))),
      java.util.Base64.getEncoder.encodeToString(ScVal.encode(ScVal.I32(-5)))))
    // parameters_decoded: array elements ride as JSON strings in our typed
    // details (the whole-array form the soroban catalog oracle re-derives)
    val decoded = d.get("parameters_decoded")
    assert(om.readTree(decoded.get(1).asText()).toString ==
      """{"symbol":"swap"}""")
    assert(om.readTree(decoded.get(2).asText()).toString == """{"u64":77}""")
    // asset_balance_changes: the SAC transfer only (junk + diagnostic
    // events filtered out)
    val abc = d.get("asset_balance_changes")
    assert(abc.size() == 1, abc.toString)
    val t0 = abc.get(0)
    assert(t0.get("type").asText() == "transfer")
    assert(t0.get("from").asText() == Strkey.encodeAccountId(srcKey))
    assert(t0.get("to").asText() == Strkey.encodeContract(contractId))
    assert(t0.get("amount").asText() == "0.5000000")
    assert(t0.get("asset_type").asText() == "native")
  }

  test("create_contract details: account + contract deployer arms, " +
      "footprint-derived contract id") {
    val accountArm = sorobanTx(
      XdrEncode.createContractOp(0, key("deployer"), key("salt"), codeHash),
      XdrEncode.invokeSuccess(key("r2")))
    val d = opDetails(accountArm)
    assert(d.get("type").asText() == "create_contract")
    assert(d.get("from").asText() == "address")
    assert(d.get("address").asText() == Strkey.encodeAccountId(key("deployer")))
    // contract id comes from the FOOTPRINT, not the preimage
    assert(d.get("contract_id").asText() == Strkey.encodeContract(contractId))
    assert(d.get("contract_code_hash").asText() == Hashes.hex(codeHash))
    assert(d.get("parameters") == null)

    val contractArm = sorobanTx(
      XdrEncode.createContractOp(1, key("factory"), key("salt2"), codeHash,
        v2 = true, ctorArgs = Seq(ScVal.encode(ScVal.U32(9)))),
      XdrEncode.invokeSuccess(key("r3")))
    val d2 = opDetails(contractArm)
    assert(d2.get("type").asText() == "create_contract_v2")
    assert(d2.get("address").asText() == Strkey.encodeContract(key("factory")))
    assert(om.readTree(d2.get("parameters_decoded").get(0).asText())
      .toString == """{"u32":9}""")
  }

  test("upload_wasm / extend_footprint_ttl / restore_footprint details") {
    val up = opDetails(sorobanTx(
      XdrEncode.uploadWasmOp(Array[Byte](0, 97, 115, 109)),
      XdrEncode.invokeSuccess(key("r4"))))
    assert(up.get("type").asText() == "upload_wasm")
    assert(up.get("contract_id") == null) // upload has no contract id
    assert(up.get("contract_code_hash").asText() == Hashes.hex(codeHash))

    val ext = opDetails(sorobanTx(XdrEncode.extendTtlOp(123456L),
      XdrEncode.OpResultSpec(25, 0)))
    assert(ext.get("type").asText() == "extend_footprint_ttl")
    assert(ext.get("extend_to").asLong() == 123456L)
    // footprint-derived id + hashes on the TTL ops too (operation.go:1144-1163)
    assert(ext.get("contract_id").asText() == Strkey.encodeContract(contractId))
    assert(ext.get("contract_code_hash").asText() == Hashes.hex(codeHash))
    assert(ext.get("ledger_key_hash").size() == 2)

    val rst = opDetails(sorobanTx(XdrEncode.restoreFootprintOp(),
      XdrEncode.OpResultSpec(26, 0)))
    assert(rst.get("type").asText() == "restore_footprint")
    assert(rst.get("contract_id").asText() == Strkey.encodeContract(contractId))
    assert(rst.get("ledger_key_hash").size() == 2)
  }

  test("operation codes: the three soroban result arms name correctly") {
    def trace(opType: Int, code: Int, payload: XdrEncode.W => Unit = _ => ()) = {
      val res = StellarXdr.decodeTransactionResult(XdrEncode.txResult(
        100L, 0, Seq(XdrEncode.OpResultSpec(opType, code, payload))))
      res.opResults.head.traceCode
    }
    assert(trace(24, 0, _.raw(key("h"))) ==
      "InvokeHostFunctionResultCodeInvokeHostFunctionSuccess")
    assert(trace(24, -2) ==
      "InvokeHostFunctionResultCodeInvokeHostFunctionTrapped")
    assert(trace(24, -4) ==
      "InvokeHostFunctionResultCodeInvokeHostFunctionEntryArchived")
    assert(trace(25, -3) ==
      "ExtendFootprintTtlResultCodeExtendFootprintTtlInsufficientRefundableFee")
    assert(trace(26, -1) ==
      "RestoreFootprintResultCodeRestoreFootprintMalformed")
  }

  // ---- contract events off the decoded ledger row ----------------------------

  test("contract_events table: the tx meta fan-out matches the planted events") {
    val out = SorobanStateTables.contractEventsFromLedgers(
      toDs(Seq(ledgerRowOf(invokeTx)))).collect()
    assert(out.length == 3)
    val byType = out.groupBy(_.getAs[String]("type_string"))
    assert(byType("ContractEventTypeContract").length == 2)
    assert(byType("ContractEventTypeDiagnostic").length == 1)
    val diag = byType("ContractEventTypeDiagnostic").head
    assert(!diag.getAs[Boolean]("in_successful_contract_call"))
    assert(diag.getAs[String]("contract_id") == "")
    val transfer = out.find(r =>
      r.getAs[String]("data_decoded").contains("i128")).get
    assert(transfer.getAs[String]("contract_id") ==
      Strkey.encodeContract(contractId))
    assert(transfer.getAs[Long]("transaction_id") ==
      graft.codec.Toid.transactionId(55555L, 1L))
    // passthrough bytes are the exact DiagnosticEvent slices
    val expected = metaEvents.map(
      java.util.Base64.getEncoder.encodeToString).toSet
    assert(out.map(_.getAs[String]("contract_event_xdr")).toSet == expected)
  }

  // ---- soroban effects off real wire bytes ----------------------------------

  test("soroban effects: SAC transfer events and TTL changes decoded from " +
      "real bytes drive contract_credited/debited and extend effects") {
    val s = spark
    val effects = graft.operators.StellarTradesEffects.historyEffects(
      toDs(Seq(ledgerRowOf(invokeTx))))
      .selectExpr("type_string", "address", "to_json(details) as dj")
      .collect()
    val byType = effects.groupBy(_.getAs[String]("type_string"))
    // the planted transfer: G→C native 0.5 — the account side debits
    // addressed to itself; the contract side credits addressed to the OP
    // SOURCE with the C-address under the `contract` detail key
    // (effects.go:1319-1430)
    assert(byType.contains("contract_credited"), byType.keySet)
    val cc = byType("contract_credited").head
    assert(cc.getAs[String]("address") == Strkey.encodeAccountId(srcKey))
    assert(om.readTree(cc.getAs[String]("dj")).get("contract").asText() ==
      Strkey.encodeContract(contractId))
    assert(byType.contains("account_debited"))
    assert(byType("account_debited")
      .exists(_.getAs[String]("address") == Strkey.encodeAccountId(srcKey)))

    // extend op: the ttl change decoded from real meta v3 keys the
    // extend_footprint_ttl effect (effects.go:1432-1474)
    val extEffects = graft.operators.StellarTradesEffects.historyEffects(
      toDs(Seq(ledgerRowOf(sorobanTx(XdrEncode.extendTtlOp(123456L),
        XdrEncode.OpResultSpec(25, 0)), 55556L))))
      .selectExpr("type_string", "to_json(details) as dj")
      .collect()
    val ext = extEffects.filter(_.getString(0) == "extend_footprint_ttl")
    assert(ext.nonEmpty, extEffects.map(_.getString(0)).mkString(","))
    val dj = om.readTree(ext.head.getString(1))
    assert(dj.get("extend_to").asLong() == 123456L)
    // the entry key rides as base64 TTL LedgerKey XDR built from the
    // decoded change's key hash
    val entries = dj.get("entries")
    assert(entries != null && entries.size() == 1)
    assert(java.util.Base64.getDecoder.decode(entries.get(0).asText())
      .take(4).toSeq == Seq[Byte](0, 0, 0, 9))
  }

  // ---- plain-events conversion (SorobanMeta.events, no diagnostics) ---------

  test("SorobanMeta.events (no diagnosticEvents) convert with " +
      "inSuccessfulContractCall=true — the Go SDK GetDiagnosticEvents law") {
    import ScVal._
    val ev = XdrEncode.contractEvent(Some(contractId), 1,
      Seq(encode(Sym("mint")), encode(AddrAccount(srcKey)),
        encode(Str("native"))), encode(I128(0L, 42L)))
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
      opChanges = Seq(Nil),
      soroban = Some(XdrEncode.SorobanMetaSpec(0L, 0L, 0L,
        events = Seq(ev)))))
    val decoded = StellarXdr.decodeTxMeta(meta)
    val got = decoded.sorobanMeta.get.events
    assert(got.length == 1 && got.head.inSuccessfulCall)
    // converted rendering: bool(1) prepended to the event bytes
    assert(java.util.Arrays.equals(got.head.rawDiagXdr,
      XdrEncode.diagnosticEvent(inSuccessful = true, ev)))
  }

  // ---- SCP history entries (consumed, dropped) --------------------------------

  test("scpInfo: validator-attached LCM files decode — SCP messages are " +
      "consumed and dropped, the reference's own law") {
    val header = XdrEncode.ledgerHeader(
      XdrEncode.HeaderSpec(96001L, 1719600000L))
    val scp = XdrEncode.scpHistoryEntry(key("node"), 96001L,
      Seq(key("val1"), key("val2")))
    val lcm = XdrEncode.ledgerCloseMetaV1(header, Seq(invokeTx),
      scpInfo = Seq(scp))
    val row = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(lcm))
    assert(row.sequence == 96001L && row.transactions.size == 1)
    assert(row.transactions.head.soroban.get.resource_fee == 40000L)
    // truncations inside the SCP block still fail loudly
    val bare = XdrEncode.ledgerCloseMetaV1(header, Nil)
    val cut = lcm.length - 40 // inside the SCP envelope
    val e = intercept[Exception](StellarXdr.decodeLedgerCloseMeta(
      new StellarXdr.Reader(java.util.Arrays.copyOf(lcm, cut))))
    assert(e.isInstanceOf[StellarXdr.XdrError])
    assert(StellarXdr.decodeLedgerCloseMeta(
      new StellarXdr.Reader(bare)).sequence == 96001L)
  }

  // ---- LedgerCloseMeta v0 (classic archives) ---------------------------------

  test("LedgerCloseMeta v0: the classic-archive arm decodes to the same " +
      "rows the v1 layout yields") {
    val classic = {
      val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
        sourceKey = key("v0src"), fee = 300L, seqNum = 11L,
        ops = Seq(XdrEncode.paymentOp(key("v0dst"),
          AssetRef("native", "", ""), 1234567L))))
      XdrEncode.LcmTx(env,
        XdrEncode.txResult(100L, 0, Seq(XdrEncode.OpResultSpec(1, 0))),
        XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = Seq(Nil))),
        XdrEncode.feeMetaPair(key("v0src"), 9999999L, 9999899L))
    }
    val header = XdrEncode.ledgerHeader(
      XdrEncode.HeaderSpec(95001L, 1600000000L, protocolVersion = 17L))
    val v0 = XdrEncode.ledgerCloseMetaV0(header, Seq(classic))
    val v1 = XdrEncode.ledgerCloseMetaV1(header, Seq(classic))
    val r0 = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(v0))
    val r1 = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(v1))
    assert(r0.sequence == 95001L && r0.transactions.size == 1)
    assert(r0.transactions.head.hash_hex == r1.transactions.head.hash_hex)
    assert(r0.transactions.head.fee_charged == 100L)
    assert(java.util.Arrays.equals(r0.ledger_hash, r1.ledger_hash))
  }

  // ---- LedgerCloseMeta v2 (protocol 23) ---------------------------------------

  test("LedgerCloseMeta v2: TransactionResultMetaV1 entries, " +
      "sorobanFeeWrite1KB ext, live-state size and evictedKeys decode — " +
      "the post-apply fee refund surfaces in changes_after") {
    val header = XdrEncode.ledgerHeader(
      XdrEncode.HeaderSpec(97001L, 1719700000L))
    // postTxApplyFeeProcessing: the v2 home of the fee refund
    val refund = XdrEncode.changes(Seq(
      XdrEncode.change(3, XdrEncode.ledgerEntry(97001L,
        XdrEncode.accountEntry(srcKey, 900L))),
      XdrEncode.change(1, XdrEncode.ledgerEntry(97001L,
        XdrEncode.accountEntry(srcKey, 950L)))))
    val v2 = XdrEncode.ledgerCloseMetaV2(header, Seq(invokeTx),
      sorobanFeeWrite1kb = 11800L, liveSorobanStateSize = 123456789L,
      postFees = Seq(refund),
      evictedKeys = Seq(XdrEncode.ttlLedgerKey(
        Hashes.sha256("evicted".getBytes("UTF-8")))))
    val row = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(v2))
    assert(row.sequence == 97001L && row.transactions.size == 1)
    assert(row.soroban_fee_write_1kb == 11800L)
    assert(row.bucket_list_size == 123456789L)

    // same tx rows as the v1 layout, plus the refund pair appended where
    // pre-v2 protocols carried it (the meta's txChangesAfter)
    val r1 = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(
      XdrEncode.ledgerCloseMetaV1(header, Seq(invokeTx))))
    val tx2 = row.transactions.head
    val tx1 = r1.transactions.head
    assert(tx2.hash_hex == tx1.hash_hex)
    assert(tx2.soroban.get.resource_fee == tx1.soroban.get.resource_fee)
    val extra = tx2.changes_after.drop(tx1.changes_after.size)
    assert(extra.size == 1)
    assert(extra.head.balance_before == 900L &&
      extra.head.balance_after == 950L)

    // the v1 layout accepts the same ext arm (LedgerCloseMetaExt is shared)
    val v1e = XdrEncode.ledgerCloseMetaV1(header, Seq(invokeTx),
      sorobanFeeWrite1kb = 7700L)
    assert(StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(v1e))
      .soroban_fee_write_1kb == 7700L)

    // every truncation of the v2 envelope fails loudly — no silent partials
    for (n <- 0 until v2.length) {
      val e = intercept[Exception](StellarXdr.decodeLedgerCloseMeta(
        new StellarXdr.Reader(java.util.Arrays.copyOf(v2, n))))
      assert(e.isInstanceOf[StellarXdr.XdrError], s"v2 prefix $n threw $e")
    }
    // unknown future versions stay loud
    val v3 = v2.clone(); v3(3) = 3
    val e3 = intercept[Exception](StellarXdr.decodeLedgerCloseMeta(
      new StellarXdr.Reader(v3)))
    assert(e3.getMessage.contains("unsupported LedgerCloseMeta v3"))
  }

  // ---- permissive batch decode -----------------------------------------------

  test("permissive batch decode: a corrupted datastore object is reported " +
      "and the rest of the tree still exports") {
    val dir = java.nio.file.Files.createTempDirectory("poison-batch").toString
    LcmBatchFiles.writeTree(dir, Seq(
      (XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(91001L, 1719500000L)),
        Seq(invokeTx)),
      (XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(91002L, 1719500005L)),
        Nil)))
    // corrupt the second object: truncate half the zstd frame
    val victim = java.nio.file.Paths.get(dir,
      LcmBatchFiles.objectKey(91002L))
    val bytes = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim,
      java.util.Arrays.copyOf(bytes, bytes.length / 2))

    val out = java.nio.file.Files.createTempDirectory("poison-out")
      .toString + "/txs"
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(stdout)) {
      graft.cli.Export.run(spark, graft.cli.Export.parse(Array(
        "export_transactions", "--start", "91001", "--end", "91002",
        "--batch-input", dir, "--permissive",
        "--output", out, "--format", "ndjson")))
    }
    assert(stdout.toString("UTF-8").contains(""""xdr_poisoned":1"""))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out + "_decode_errors")))
    assert(spark.read.json(out).count() == 1) // the good ledger exported
    // fail-fast default still throws on the poisoned tree
    intercept[org.apache.spark.SparkException] {
      graft.cli.Export.run(spark, graft.cli.Export.parse(Array(
        "export_transactions", "--start", "91001", "--end", "91002",
        "--batch-input", dir, "--output",
        java.nio.file.Files.createTempDirectory("poison-strict").toString
          + "/x", "--format", "ndjson")))
    }
  }

  // ---- fee-bump + soroban interaction ----------------------------------------

  test("fee-bump soroban tx: fee laws key off the FEE-BUMP account, and the " +
      "pre-21 P20 recompute law fires on old protocols") {
    val bumper = key("bumper")
    val inner = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = srcKey, fee = 140000L, seqNum = 45L,
      ops = Seq(XdrEncode.invokeContractOp(contractId, "bump", Nil)),
      soroban = Some(sorobanData)))
    val innerHash = StellarXdr.decodeTxEnvelope(inner).hash
    val env = XdrEncode.txEnvelopeFeeBump(bumper, 280000L, inner,
      feeSourceMuxId = Some(4242L))
    val result = XdrEncode.txResultFeeBump(150000L, innerHash, 150000L,
      Seq(XdrEncode.invokeSuccess(key("rb"))))
    // fee meta charges the BUMPER; the refund credits the bumper too
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
      opChanges = Seq(Nil),
      txChangesAfter = Seq(
        XdrEncode.change(3, XdrEncode.ledgerEntry(1L,
          XdrEncode.accountEntry(bumper, 700000L))),
        XdrEncode.change(1, XdrEncode.ledgerEntry(1L,
          XdrEncode.accountEntry(bumper, 706000L)))), // refund 6000
      soroban = Some(XdrEncode.SorobanMetaSpec(26000L, 5500L, 1600L))))
    val feeMeta = XdrEncode.feeMetaPair(bumper, 5000000L, 5000000L - 170000L)
    val tx = XdrEncode.LcmTx(env, result, meta, feeMeta)

    def txRow(protocol: Long) = {
      val header = XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(
        seq = 90001L, closeTime = 1719400000L, protocolVersion = protocol))
      def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
      val row = StellarXdr.decodeLedgerRow(b64(header),
        Seq(StellarXdr.TxInput(b64(tx.envelope), b64(tx.result),
          b64(tx.meta), b64(tx.feeMeta))))
      StellarTransforms.historyTransactions(toDs(Seq(row))).collect().head
    }
    val p21 = txRow(21L)
    def g(r: org.apache.spark.sql.Row, c: String) = r.getAs[Long](c)
    assert(p21.getAs[String]("fee_account") == Strkey.encodeAccountId(bumper))
    assert(p21.getAs[String]("inner_transaction_hash") ==
      Hashes.hex(innerHash))
    assert(g(p21, "new_max_fee") == 280000L)
    assert(g(p21, "fee_charged") == 150000L)
    assert(g(p21, "resource_fee") == 40000L)
    // inclusion fees read the BUMPER's fee-meta diff (170000), not the
    // inner source's (transaction.go:152-160 feeAccountAddress)
    assert(g(p21, "inclusion_fee_charged") == 170000L - 40000L)
    assert(g(p21, "resource_fee_refund") == 6000L)
    assert(g(p21, "non_refundable_resource_fee_charged") == 26000L)
    // the inner envelope hash law: the tx hash is the FEE-BUMP payload
    assert(p21.getAs[String]("transaction_hash") ==
      StellarXdr.txHashHex(p21.getAs[String]("tx_envelope")))
    assert(p21.getAs[String]("transaction_hash") != Hashes.hex(innerHash))

    // protocol 20: core#4188 — fee_charged recomputed as
    // resource_fee - refund for soroban fee bumps
    val p20 = txRow(20L)
    assert(g(p20, "fee_charged") == 40000L - 6000L)
  }

  // ---- state tables off the full tx pipeline ---------------------------------

  test("state tables end-to-end: REAL golden contract-data bytes ride a tx " +
      "meta through the batch tree and export_ledger_entry_changes") {
    // a REAL mainnet ContractDataEntry from the reference's golden corpus
    val goldenPath = "/root/reference/testdata/changes/contract_data.golden"
    assume(new java.io.File(goldenPath).isFile, s"golden missing: $goldenPath")
    val goldenRow = scala.io.Source.fromFile(goldenPath).getLines()
      .filter(_.trim.nonEmpty).take(1).toSeq.head
    val g = om.readTree(goldenRow)
    val realBody = java.util.Base64.getDecoder.decode(
      g.get("contract_data_xdr").asText())
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
      opChanges = Seq(Seq(
        XdrEncode.change(0, XdrEncode.ledgerEntry(777L,
          new XdrEncode.W().i32(6).raw(realBody).bytes)), // CONTRACT_DATA arm
        XdrEncode.change(0, XdrEncode.ledgerEntry(778L,
          new XdrEncode.W().i32(7).i32(0) // contract code, ext v0
            .raw(key("codehash")).opaqueVar(Array.emptyByteArray).bytes)),
        // a TTL state+removed pair: the pre entry rides out deleted
        XdrEncode.change(3, XdrEncode.ledgerEntry(779L,
          XdrEncode.ttlEntry(key("ttl-gone"), 4242L))),
        XdrEncode.change(2, new XdrEncode.W().i32(9)
          .raw(key("ttl-gone")).bytes))),
      soroban = Some(XdrEncode.SorobanMetaSpec(0L, 0L, 0L))))
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = srcKey, fee = 140000L, seqNum = 44L,
      ops = Seq(XdrEncode.invokeContractOp(contractId, "put", Nil)),
      soroban = Some(sorobanData)))
    val tx = XdrEncode.LcmTx(env,
      XdrEncode.txResult(120000L, 0, Seq(XdrEncode.invokeSuccess(key("r9")))),
      meta, XdrEncode.feeMetaPair(srcKey, 1000000L, 900000L))
    val dir = java.nio.file.Files.createTempDirectory("state-batch").toString
    LcmBatchFiles.writeTree(dir, Seq(
      (XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(80001L, 1719300000L)),
        Seq(tx))))

    val out = java.nio.file.Files.createTempDirectory("state-out").toString
    graft.cli.Export.run(spark, graft.cli.Export.parse(Array(
      "export_ledger_entry_changes", "--start", "80001", "--end", "80001",
      "--batch-size", "64", "--batch-input", dir, "--output", out)))
    def rows(resource: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
      scala.io.Source.fromFile(s"$out/80001-80001-$resource.txt")
        .getLines().filter(_.trim.nonEmpty).map(om.readTree).toSeq
    val cd = rows("contract_data")
    assert(cd.size == 1)
    // the REAL bytes round-tripped the whole pipeline: strkey id, decoded
    // key tree and the sha256 LedgerKey law all match the golden
    assert(cd.head.get("contract_id").asText() ==
      g.get("contract_id").asText())
    assert(cd.head.get("ledger_key_hash").asText() ==
      g.get("ledger_key_hash").asText())
    assert(om.readTree(cd.head.get("key_decoded").asText()) ==
      g.get("key_decoded"))
    assert(cd.head.get("ledger_sequence").asLong() == 80001L)
    assert(cd.head.get("last_modified_ledger").asLong() == 777L)
    val cc = rows("contract_code")
    assert(cc.size == 1 &&
      cc.head.get("contract_code_hash").asText() ==
        graft.codec.Hashes.hex(key("codehash")))
    val ttls = rows("ttl")
    assert(ttls.size == 1 && ttls.head.get("deleted").asBoolean() &&
      ttls.head.get("key_hash").asText() ==
        graft.codec.Hashes.hex(key("ttl-gone")) &&
      ttls.head.get("live_until_ledger_seq").asLong() == 4242L)
    assert(rows("config_settings").isEmpty)
  }

  // ---- TransactionMeta v4 (protocol 23, unified events) ----------------------

  test("meta v4: op-grain events + SorobanTransactionMetaV2 fees decode to " +
      "the same model the v3 path fills") {
    import ScVal._
    val transfer = XdrEncode.contractEvent(Some(contractId), 1,
      Seq(encode(Sym("transfer")), encode(AddrAccount(srcKey)),
        encode(AddrContract(contractId)), encode(Str("native"))),
      encode(I128(0L, 7000000L)))
    val feeEvent = XdrEncode.contractEvent(None, 1,
      Seq(encode(Sym("fee"))), encode(I64(100L)))
    val diag = XdrEncode.diagnosticEvent(inSuccessful = false,
      XdrEncode.contractEvent(None, 2, Seq(encode(Sym("fn_call"))),
        encode(Void)))
    val metaV4 = XdrEncode.txMetaV4(XdrEncode.TxMetaV4Spec(
      opMetas = Seq((Seq(XdrEncode.change(0, XdrEncode.ledgerEntry(900L,
        XdrEncode.ttlEntry(key("t4"), 88888L)))), Seq(transfer))),
      txChangesAfter = Seq(
        XdrEncode.change(3, XdrEncode.ledgerEntry(1L,
          XdrEncode.accountEntry(srcKey, 100000L))),
        XdrEncode.change(1, XdrEncode.ledgerEntry(1L,
          XdrEncode.accountEntry(srcKey, 104000L)))),
      sorobanFees = Some((31000L, 6000L, 777L)),
      returnValue = Some(encode(U32(5))),
      txEvents = Seq((1, feeEvent)), // AFTER_TX fee event: consumed
      diagnosticEvents = Seq(diag)))
    val m = StellarXdr.decodeTxMeta(metaV4)
    assert(m.sorobanMeta.isDefined)
    val sm = m.sorobanMeta.get
    assert((sm.nonRefundableFee, sm.refundableFee, sm.rentFee) ==
      ((31000L, 6000L, 777L)))
    // surfaced stream = op events (inSuccessful=true) ++ diagnosticEvents;
    // the tx-level fee event is consumed, not surfaced
    assert(sm.events.length == 2)
    assert(sm.events.head.inSuccessfulCall && sm.events.head.eventType == 1)
    assert(!sm.events.last.inSuccessfulCall && sm.events.last.eventType == 2)
    assert(m.opChanges.length == 1 &&
      m.opChanges.head.head._2.family == "ttl")
    // refund law still reads txChangesAfter
    assert(StellarXdr.balanceChanges(m.txChangesAfter)
      .head.balance_after == 104000L)

    // end-to-end: an invoke tx whose meta is v4 — fees + events flow
    // through decodeTx exactly like v3
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = srcKey, fee = 140000L, seqNum = 43L,
      ops = Seq(XdrEncode.invokeContractOp(contractId, "go", Nil)),
      soroban = Some(sorobanData)))
    def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
    val tx = StellarXdr.decodeTx(StellarXdr.TxInput(
      b64(env), b64(XdrEncode.txResult(120000L, 0,
        Seq(XdrEncode.invokeSuccess(key("rv"))))),
      b64(metaV4),
      b64(XdrEncode.feeMetaPair(srcKey, 1000000000L, 999870000L))))
    assert(tx.soroban.get.non_refundable_fee == 31000L)
    assert(tx.diag_events.length == 2)
    assert(tx.operations.head.sac_events.length == 1) // the transfer only
    assert(tx.operations.head.changes.exists(_.entry_type == "ttl"))

    // every truncation of the v4 meta fails loudly — no silent partials
    for (n <- 0 until metaV4.length) {
      val e = intercept[Exception](StellarXdr.decodeTxMeta(
        java.util.Arrays.copyOf(metaV4, n)))
      assert(e.isInstanceOf[StellarXdr.XdrError], s"v4 prefix $n threw $e")
    }
  }

  // ---- datastore batch files --------------------------------------------------

  test("datastore batch files: write the tree, read through the connector + " +
      "executor decode, match the direct path") {
    val dir = java.nio.file.Files.createTempDirectory("lcm-batch").toString
    val classicTx = {
      val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
        sourceKey = key("alice"), fee = 200L, seqNum = 7L,
        ops = Seq(XdrEncode.paymentOp(key("bob"),
          AssetRef("native", "", ""), 2500000L))))
      XdrEncode.LcmTx(env,
        XdrEncode.txResult(100L, 0, Seq(XdrEncode.OpResultSpec(1, 0))),
        XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = Seq(Nil))),
        XdrEncode.feeMetaPair(key("alice"), 99999999L, 99999899L))
    }
    val headers = Seq(70001L, 70002L, 70003L).map(seq =>
      XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(seq, 1719250000L + seq)))
    LcmBatchFiles.writeTree(dir, Seq(
      (headers(0), Seq(classicTx)),
      (headers(1), Seq(invokeTx)),
      (headers(2), Nil)))
    // the naming law: hex-inverted partition + file prefixes
    assert(LcmBatchFiles.objectKey(2) == "ffffffff--0-63999/fffffffd--2.xdr.zstd")
    assert(LcmBatchFiles.objectKey(70001L) ==
      "ffff05ff--64000-127999/fffeee8e--70001.xdr.zstd")

    val rows = LcmBatchFiles.ledgerRowsForRange(spark, dir, 70001, 70003)
    val txsOut = StellarTransforms.historyTransactions(rows)
      .select("ledger_sequence", "transaction_hash", "fee_charged",
        "resource_fee", "account")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val direct = StellarTransforms.historyTransactions(toDs(Seq(
        ledgerRowOf(classicTx, 70001L), ledgerRowOf(invokeTx, 70002L))))
      .select("ledger_sequence", "transaction_hash", "fee_charged",
        "resource_fee", "account")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(txsOut == direct && txsOut.size == 2)
    // ledger grain: all three ledgers decode, incl. the empty one
    assert(rows.collect().map(_.sequence).sorted.toSeq ==
      Seq(70001L, 70002L, 70003L))
    // range pruning: the two-ledger slice lists only its own objects
    val pruned = LcmBatchFiles.ledgerRowsForRange(spark, dir, 70002L, 70003L)
    assert(pruned.collect().map(_.sequence).sorted.toSeq ==
      Seq(70002L, 70003L))

    // CLI end-to-end off the datastore tree: export_transactions and
    // export_contract_events with --batch-input — the full backfill shape
    // (files → executor decode → tables → sink) through the binary surface
    val outTx = java.nio.file.Files.createTempDirectory("batch-cli").toString
    graft.cli.Export.run(spark, graft.cli.Export.parse(Array(
      "export_transactions", "--start", "70001", "--end", "70003",
      "--batch-input", dir, "--output", outTx + "/txs",
      "--format", "ndjson")))
    val cliTxs = spark.read.json(outTx + "/txs")
    assert(cliTxs.count() == 2)
    assert(cliTxs.where(org.apache.spark.sql.functions
      .col("resource_fee") === 40000L).count() == 1)
    graft.cli.Export.run(spark, graft.cli.Export.parse(Array(
      "export_contract_events", "--start", "70001", "--end", "70003",
      "--batch-input", dir, "--output", outTx + "/events",
      "--format", "ndjson")))
    val cliEvents = spark.read.json(outTx + "/events")
    assert(cliEvents.count() == 3) // the invoke tx's three diagnostic events
    assert(cliEvents.where(org.apache.spark.sql.functions
      .col("type_string") === "ContractEventTypeContract").count() == 2)
  }
}
