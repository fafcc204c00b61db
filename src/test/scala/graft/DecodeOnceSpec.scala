package graft

import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Hashes, ScVal, StellarXdr, Strkey, XdrEncode}
import graft.codec.XdrEncode.{LcmTx, OpResultSpec}
import graft.model.LedgerModel.{AssetRef, LedgerRow}
import graft.sources.RealXdrFixture

/** The datastore decode (`decodeLedgerCloseMeta`) decodes each structure
  * once, where it lies in the object; the per-blob entry (`decodeLedgerRow`
  * over base64 `TxInput`s) parses the same bytes again from their own
  * buffers. Both must give the same `LedgerRow`, field for field, on every
  * arm `XdrEncode` writes. */
class DecodeOnceSpec extends AnyFunSuite {

  /** First difference between two model values, by content: case classes
    * field by field, sequences element by element, byte arrays by their
    * bytes (case-class `==` compares arrays by reference). */
  private def diff(a: Any, b: Any, path: String = "row"): Option[String] =
    (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) =>
        if (java.util.Arrays.equals(x, y)) None
        else Some(s"$path: ${Hashes.hex(x)} != ${Hashes.hex(y)}")
      case (x: Seq[_], y: Seq[_]) =>
        if (x.size != y.size) Some(s"$path: ${x.size} != ${y.size} elements")
        else x.indices.iterator.flatMap(i => diff(x(i), y(i), s"$path($i)"))
          .nextOption()
      case (x: Product, y: Product) if !x.isInstanceOf[java.sql.Timestamp] =>
        if (x.getClass != y.getClass || x.productArity != y.productArity)
          Some(s"$path: $x != $y")
        else (0 until x.productArity).iterator.flatMap { i =>
          diff(x.productElement(i), y.productElement(i),
            s"$path.${x.productElementName(i)}")
        }.nextOption()
      case _ => if (a == b) None else Some(s"$path: $a != $b")
    }

  private def key(s: String): Array[Byte] = Hashes.sha256(s.getBytes("UTF-8"))
  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)

  private val native = AssetRef("native", "", "")
  private val usd = AssetRef("credit_alphanum4", "USD",
    Strkey.encodeAccountId(key("issuer")))
  private val long12 = AssetRef("credit_alphanum12", "LONGASSET12",
    Strkey.encodeAccountId(key("issuer12")))

  /** Every op body `XdrEncode` writes, with the success result the decoder
    * reads for it. */
  private def opCases(seq: Long): Seq[(XdrEncode.OpBody, OpResultSpec)] = {
    def ok(op: XdrEncode.OpBody) = op -> OpResultSpec(op.opType, 0)
    val cid = key(s"contract-$seq")
    val sym = ScVal.encode(ScVal.Sym("k"))
    Seq(
      ok(XdrEncode.paymentOp(key("dest-1"), native, 10L)),
      ok(XdrEncode.paymentOp(key("dest-2"), usd, 20L)),
      ok(XdrEncode.createAccountOp(key("new-1"), 30L)),
      XdrEncode.accountMergeOp(key("dest-3"), Some(42L)) ->
        OpResultSpec(8, 0, _.i64(555L)),
      ok(XdrEncode.claimClaimableBalanceOp(key("cb-1"))),
      XdrEncode.createClaimableBalanceOp(long12, 40L,
        Seq(key("claimant-1"), key("claimant-2"))) ->
        XdrEncode.createCbSuccess(key("cb-2")),
      ok(XdrEncode.lpDepositOp(key("pool"), 1L, 2L, 1, 2, 3, 4)),
      ok(XdrEncode.lpWithdrawOp(key("pool"), 5L, 1L, 2L)),
      ok(XdrEncode.beginSponsoringOp(key("sponsored"))),
      ok(XdrEncode.setOptionsSignerOp(key("signer"), 3L)),
      ok(XdrEncode.revokeLedgerKeyOp(XdrEncode.accountLedgerKey(key("a")))),
      ok(XdrEncode.revokeLedgerKeyOp(
        XdrEncode.trustlineLedgerKey(key("a"), usd))),
      ok(XdrEncode.revokeLedgerKeyOp(
        XdrEncode.trustlinePoolShareLedgerKey(key("a"), key("pool")))),
      ok(XdrEncode.revokeLedgerKeyOp(XdrEncode.offerLedgerKey(key("a"), 9L))),
      ok(XdrEncode.revokeLedgerKeyOp(XdrEncode.dataLedgerKey(key("a"), "d"))),
      ok(XdrEncode.revokeLedgerKeyOp(
        XdrEncode.claimableBalanceLedgerKey(key("cb-1")))),
      ok(XdrEncode.revokeLedgerKeyOp(
        XdrEncode.liquidityPoolLedgerKey(key("pool")))),
      XdrEncode.invokeContractOp(cid, "transfer",
        Seq(ScVal.encode(ScVal.U64(7L)), sym)) ->
        XdrEncode.invokeSuccess(key("rv")),
      XdrEncode.createContractOp(0, key("deployer"), key("salt"),
        key("wasm")) -> XdrEncode.invokeSuccess(key("rv-1")),
      XdrEncode.createContractOp(1, cid, key("salt"), key("wasm"),
        v2 = true, ctorArgs = Seq(sym)) -> XdrEncode.invokeSuccess(key("rv-3")),
      XdrEncode.uploadWasmOp("wasm".getBytes("UTF-8")) ->
        XdrEncode.invokeSuccess(key("rv-2")),
      ok(XdrEncode.extendTtlOp(12345L)),
      ok(XdrEncode.restoreFootprintOp()))
  }

  private def entry(seq: Long, body: Array[Byte]) =
    XdrEncode.ledgerEntry(seq, body)

  /** Per-op change vectors over every entry family the fixtures write. */
  private def opChanges(seq: Long, n: Int): Seq[Seq[Array[Byte]]] = {
    val families = Seq(
      XdrEncode.accountEntry(key("dest-1"), 1000L),
      XdrEncode.accountEntryWithSigners(key("a"), 2000L,
        Seq(key("s1") -> Some(key("sp")), key("s2") -> None)),
      XdrEncode.liquidityPoolEntry(key("pool"), native, usd, 30, 1L, 2L, 3L,
        4L),
      XdrEncode.claimableBalanceEntry(key("cb-1"), Seq(key("claimant-1")),
        usd, 40L, clawbackEnabled = true),
      XdrEncode.dataEntry(key("a"), "d", Array[Byte](1, 2, 3)),
      XdrEncode.ttlEntry(key("ttl"), 99L),
      XdrEncode.contractDataEntry(key("c"), ScVal.encode(ScVal.Sym("k")), 1,
        ScVal.encode(ScVal.U64(3L))),
      XdrEncode.contractCodeEntry(key("code"), Array[Byte](0, 97, 115, 109),
        Some((1L to 10L).map(_ * 100))),
      XdrEncode.configSettingEntry(3, 4000L))
    (0 until n).map { i =>
      val e = families(i % families.size)
      if (i % 3 == 0) Seq(XdrEncode.change(0, entry(seq, e)))
      else if (i % 3 == 1) Seq(XdrEncode.change(3, entry(seq, e)),
        XdrEncode.change(1, XdrEncode.ledgerEntrySponsored(seq, e, key("sp"))))
      else Seq(XdrEncode.change(3, entry(seq, e)),
        XdrEncode.change(2, XdrEncode.accountLedgerKey(key("gone"))))
    }
  }

  /** A classic-and-soroban tx mix: every op body in one successful tx, the
    * same ops failed, one fee-bump tx, and the soroban and LP/CB fixture
    * txs. */
  private def txs(seq: Long): Seq[LcmTx] = {
    val cases = opCases(seq)
    val src = key(s"src-$seq")
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(sourceKey = src,
      fee = 5000L, seqNum = 7L, ops = cases.map(_._1),
      memoText = Some("all arms"), sourceMuxedId = Some(11L)))
    val allOps = LcmTx(env, XdrEncode.txResult(321L, 0, cases.map(_._2)),
      XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
        txChangesBefore = Seq(XdrEncode.change(3,
          entry(seq, XdrEncode.accountEntry(src, 10L)))),
        opChanges = opChanges(seq, cases.size),
        txChangesAfter = Seq(XdrEncode.change(1,
          entry(seq, XdrEncode.accountEntry(src, 9L)))))),
      XdrEncode.feeMetaPair(src, 100000L, 99679L))
    val failedSrc = key(s"failed-$seq")
    val failed = LcmTx(
      XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(sourceKey = failedSrc,
        fee = 300L, seqNum = 8L, ops = cases.take(3).map(_._1))),
      XdrEncode.txResult(300L, -1, Seq(OpResultSpec(1, -2),
        OpResultSpec(1, -9), OpResultSpec(0, -4))),
      XdrEncode.txMetaV4(XdrEncode.TxMetaV4Spec(
        opMetas = Seq.fill(3)((Nil, Nil)))),
      XdrEncode.feeMetaPair(failedSrc, 1000L, 700L))
    val inner = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = key(s"inner-$seq"), fee = 200L, seqNum = 9L,
      ops = Seq(XdrEncode.paymentOp(key("dest-fb"), usd, 5L))))
    val innerHash = StellarXdr.decodeTxEnvelope(inner).hash
    val feeBump = LcmTx(
      XdrEncode.txEnvelopeFeeBump(key(s"fb-$seq"), 900L, inner,
        feeSourceMuxId = Some(3L)),
      XdrEncode.txResultFeeBump(800L, innerHash, 150L,
        Seq(OpResultSpec(1, 0))),
      XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = Seq(Nil))),
      XdrEncode.feeMetaPair(key(s"fb-$seq"), 5000L, 4200L))
    Seq(allOps, failed, feeBump) ++
      (0L to 2L).map(RealXdrFixture.tx(seq, _)) ++
      (0L to 1L).map(RealXdrFixture.classicTx(seq, _))
  }

  private def header(seq: Long): Array[Byte] =
    XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(seq = seq,
      closeTime = 1700000000L + 5 * seq, protocolVersion = 23L,
      prevHash = key(s"prev-$seq")))

  private def perBlob(seq: Long, in: Seq[LcmTx],
      postFees: Seq[Array[Byte]] = Nil): LedgerRow =
    StellarXdr.decodeLedgerRow(b64(header(seq)), in.zipWithIndex.map {
      case (t, i) => StellarXdr.TxInput(b64(t.envelope), b64(t.result),
        b64(t.meta), b64(t.feeMeta), postFees.lift(i).map(b64).getOrElse(""))
    })

  private def assertSame(lcm: Array[Byte], expected: LedgerRow,
      feeWrite1kb: Long, bucketListSize: Long): LedgerRow = {
    val row = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(lcm))
    assert(row.soroban_fee_write_1kb == feeWrite1kb)
    assert(row.bucket_list_size == bucketListSize)
    assert(diff(row.copy(soroban_fee_write_1kb = 0L, bucket_list_size = 0L),
      expected).isEmpty, diff(row, expected))
    row
  }

  test("the deep comparison sees a byte that differs inside a nested array") {
    val row = perBlob(500L, txs(500L))
    val again = perBlob(500L, txs(500L))
    assert(diff(row, again).isEmpty)
    val op = again.transactions(0).operations(1)
    val flipped = op.destination_key.get.clone()
    flipped(31) = (flipped(31) ^ 1).toByte
    val changed = again.copy(transactions = again.transactions.updated(0,
      again.transactions(0).copy(operations = again.transactions(0)
        .operations.updated(1, op.copy(destination_key = Some(flipped))))))
    assert(diff(row, changed).exists(
      _.startsWith("row.transactions(0).operations(1).destination_key")))
  }

  test("LedgerCloseMeta v1 decodes once to the per-blob row: every op body " +
      "XdrEncode writes, failed ops, fee-bump, soroban and LP/CB txs") {
    val seq = 501L
    val in = txs(seq)
    val scp = Seq(XdrEncode.scpHistoryEntry(key("node"), seq,
      Seq(key("v1"), key("v2"))))
    val row = assertSame(
      XdrEncode.ledgerCloseMetaV1(header(seq), in, scpInfo = scp,
        sorobanFeeWrite1kb = 3500L),
      perBlob(seq, in), 3500L, 777L)
    // the ledger carries what the cases planted, so the comparison is not
    // over empty rows
    assert(row.transactions.size == 8)
    assert(row.transactions.head.operations.map(_.op_type).toSet ==
      opCases(seq).map(_._1.opType).toSet)
    assert(row.transactions(2).is_fee_bump)
    assert(row.transactions.exists(_.soroban.isDefined))
    assert(row.transactions.flatMap(_.operations).exists(_.changes.nonEmpty))
  }

  test("LedgerCloseMeta v0 and v2 decode once to the per-blob row; v2's " +
      "post-apply fee changes land in changes_after") {
    val seq = 502L
    val in = txs(seq)
    assertSame(XdrEncode.ledgerCloseMetaV0(header(seq), in),
      perBlob(seq, in), 0L, 0L)
    val postFees = in.zipWithIndex.map { case (_, i) =>
      XdrEncode.feeMetaPair(key(s"refund-$i"), 100L, 100L + i) }
    val row = assertSame(XdrEncode.ledgerCloseMetaV2(header(seq), in,
        sorobanFeeWrite1kb = 1200L, liveSorobanStateSize = 4096L,
        postFees = postFees,
        evictedKeys = Seq(XdrEncode.ttlLedgerKey(key("evicted")))),
      perBlob(seq, in, postFees), 1200L, 4096L)
    row.transactions.zipWithIndex.foreach { case (tx, i) =>
      assert(tx.changes_after.exists(c =>
        java.util.Arrays.equals(c.account_key, key(s"refund-$i")) &&
          c.balance_after == 100L + i), i)
    }
  }

  test("Hashes.hex is %02x per byte on all 256 byte values") {
    val all = (0 until 256).map(_.toByte).toArray
    assert(Hashes.hex(all) == all.map(b => f"${b & 0xff}%02x").mkString)
    assert(Hashes.hex(Array.emptyByteArray) == "")
  }

  test("a ledger header with trailing bytes is an XdrError") {
    val h = header(77L)
    val padded = h ++ new Array[Byte](4)
    val e = intercept[StellarXdr.XdrError](StellarXdr.decodeLedgerHeader(padded))
    assert(e.getMessage.contains("LedgerHeader: 4 trailing bytes"), e.getMessage)
    intercept[StellarXdr.XdrError](StellarXdr.decodeLedgerRow(b64(padded), Nil))
    // the unpadded header still decodes, and the row hashes the header
    assert(StellarXdr.decodeLedgerHeader(h).ledgerSeq == 77L)
    assert(java.util.Arrays.equals(
      StellarXdr.decodeLedgerRow(b64(h), Nil).ledger_hash, Hashes.sha256(h)))
  }
}
