package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.model.LedgerModel._
import graft.operators.StellarTradesEffects

/** The effects-details vocabulary audit — the effects-side mirror of
  * `OperationDetailsSpec`'s op-details key-union audit.
  *
  * The reference's `effects.go` (1513 LoC of case law) builds every effect's
  * `details` payload from bare `details["k"]` assignments, map literals and
  * a handful of helper expansions. This spec:
  *   1. enumerates the FULL top-level key union those paths can emit, with
  *      citations;
  *   2. sweeps the reference source for both emission syntaxes and asserts
  *      the sweep is covered by the enumeration — so a reference version
  *      drift (new keys) fails the test by name;
  *   3. asserts our renderer (`StellarTradesEffects`) knows every
  *      enumerated key minus documented deviations, by scanning the
  *      renderer source for the key literals (the details payload is a
  *      built JSON string, so the vocabulary lives in string literals —
  *      both plain `"k"` and escaped `\"k\"` builder forms);
  *   4. exercises the keys the published golden corpus never reaches
  *      (muxed trade counterparties, LP trustline counts, CB clawback
  *      flags) on hand-built model rows.
  */
class EffectsDetailsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-effects-details-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- the enumerated union ------------------------------------------------

  /** Bare `details["k"]` assignments across effects.go (sponsorship
    * families :225-368, manage data :757-797, soroban events :1319-1474,
    * CB flag :826-831, trustline sponsorship entry keys :337-357). */
  private val bare = Set(
    "amount", "asset", "asset_type", "balance_id",
    "claimable_balance_clawback_enabled_flag", "contract",
    "contract_event_type", "data_name", "former_sponsor", "liquidity_pool_id",
    "new_sponsor", "signer", "sponsor", "value")

  /** Map-literal keys (`"k": v` inside `map[string]interface{}` builders):
    * account created :401-428, trades :1226-1246, LP families :1014-1032 /
    * :1142-1224 / :1248-1290 / :1292-1315, set options :520-636, change /
    * allow trust :637-728, account merge :730-744, inflation :745-756,
    * manage data :757-797, bump sequence :798-825, claimable balances
    * :833-963, clawback :1033-1060, footprint ops :1434-1513. */
  private val literal = Set(
    "amount", "asset", "asset_type", "balance_id", "bought", "bought_amount",
    "claimable_balance_id", "entries", "extend_to", "fee_bp", "home_domain",
    "id", "inflation_destination", "limit", "liquidity_pool",
    "liquidity_pool_id", "name", "new_seq", "offer_id", "predicate",
    "public_key", "reserves", "reserves_deposited", "reserves_received",
    "reserves_revoked", "seller", "shares_received", "shares_redeemed",
    "shares_revoked", "sold", "sold_amount", "starting_balance",
    "total_shares", "total_trustlines", "trustor", "type", "weight")

  /** Helper expansions: `addAssetDetails` with prefixes "", "bought_",
    * "sold_" (operation.go:2001-2021; call sites effects.go:433-1332);
    * `addAccountAndMuxedAccountDetails(sd, buyer, "seller")`
    * (operation.go:423-438, effects.go:1241); `setAuthFlagDetails`
    * (:1211-1224); `setTrustLineFlagDetails` (:1124-1134);
    * `setClaimableBalanceFlagDetails` (:826-831);
    * `addLiquidityPoolAssetDetails` (operation.go:389-407, effects.go:683);
    * threshold keys (:532-546). */
  private val helperKeys = Set(
    "asset_code", "asset_issuer",
    "bought_asset_type", "bought_asset_code", "bought_asset_issuer",
    "sold_asset_type", "sold_asset_code", "sold_asset_issuer",
    "seller_muxed", "seller_muxed_id",
    "auth_required_flag", "auth_revocable_flag", "auth_immutable_flag",
    "auth_clawback_enabled_flag",
    "authorized_flag", "authorized_to_maintain_liabilites",
    "clawback_enabled_flag",
    "liquidity_pool_id_strkey",
    "low_threshold", "med_threshold", "high_threshold")

  private val union = bare ++ literal ++ helperKeys

  private def readFile(p: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(p))

  test("reference sweep: every emission site in effects.go is enumerated") {
    val refSrc = "/root/reference/internal/transform/effects.go"
    assume(new java.io.File(refSrc).isFile, s"reference source missing: $refSrc")
    val src = readFile(refSrc)
    val assigned = """details\["([a-z][a-z0-9_]*)"\]""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val mapped = """"([a-z][a-z0-9_]*)":\s""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val swept = assigned ++ mapped
    assert(swept.subsetOf(union),
      s"reference enumeration drift — new detail keys: ${swept -- union}")
  }

  test("renderer vocabulary: every enumerated key minus documented " +
      "deviations appears in the effects renderer") {
    // the renderer builds details as JSON strings; its vocabulary is the
    // set of key literals, in either plain or escaped-quote builder form
    val src = readFile(
      "src/main/scala/graft/operators/StellarTradesEffects.scala")
    def literalPresent(k: String): Boolean =
      src.contains("\"" + k + "\"") || src.contains("\\\"" + k + "\\\"")
    // prefix-composed keys (`assetKvs(asset, "sold_")` mirrors the
    // reference's addAssetDetails prefixing) count when both the prefix
    // literal and the suffix literal are present
    def knownToRenderer(k: String): Boolean = literalPresent(k) ||
      Seq("sold_", "bought_").exists(p => k.startsWith(p) &&
        literalPresent(p) && literalPresent(k.stripPrefix(p)))

    // no documented deviations: the renderer covers the full union
    val deviations = Set.empty[String]

    val missing = union.filterNot(knownToRenderer) -- deviations
    assert(missing.isEmpty,
      s"reference effect-detail keys unknown to the renderer: " +
        s"${missing.toSeq.sorted}")
  }

  // ---- the rare-key emissions on hand-built model rows ---------------------

  private def k32(b: Int): Array[Byte] = Array.fill[Byte](32)(b.toByte)

  private def mkOp(opType: Int): OpModel = OpModel(
    op_type = opType, source_key = None, source_muxed_id = None,
    amount_stroops = 0L, result_code = "OperationResultCodeOpInner",
    trace_code = "success")

  private def ledgerWith(op: OpModel, muxedSource: Option[Long] = None)
      : Seq[EffectRowOut] = {
    import spark.implicits._
    val tx = TxModel(
      hash_hex = "ab" * 32, source_key = k32(1),
      source_muxed_id = muxedSource,
      account_sequence = 1L, max_fee = 100L, fee_charged = 100L,
      successful = true, result_code = "TransactionResultCodeTxSuccess",
      memo_type = "none", memo_text = None, memo_id = None, memo_hash = None,
      time_min = None, time_max = None, ledger_min = None, ledger_max = None,
      envelope_b64 = "", result_b64 = "", meta_b64 = "", fee_meta_b64 = "",
      signers = Nil, operations = Seq(op))
    val row = LedgerRow(
      sequence = 5000L, ledger_hash = k32(2), previous_ledger_hash = k32(3),
      header_b64 = "",
      closed_at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      total_coins = 0L, fee_pool = 0L, base_fee = 100L,
      base_reserve = 5000000L, max_tx_set_size = 100L, protocol_version = 21L,
      soroban_fee_write_1kb = 0L, node_id_key = k32(4), signature = k32(5),
      bucket_list_size = 0L, transactions = Seq(tx),
      tx_counts = TxCounts.of(Seq(tx)))
    StellarTradesEffects.historyEffects(Seq(row).toDS())
      .selectExpr("type", "to_json(details) AS details")
      .collect().map(r => EffectRowOut(r.getInt(0), r.getString(1))).toSeq
  }
  case class EffectRowOut(tpe: Int, details: String)

  test("trade seller-details carry seller_muxed(+id) iff the buyer acted " +
      "muxed") {
    val atom = ClaimAtom(atom_type = "offer", seller_key = Some(k32(9)),
      offer_id = Some(77L), pool_id = None,
      amount_sold_stroops = 500L, amount_bought_stroops = 400L,
      asset_sold = AssetRef("native", "", ""),
      asset_bought = AssetRef("credit_alphanum4", "USD",
        graft.codec.Strkey.encodeAccountId(k32(3))))
    val op = mkOp(3).copy(claim_atoms = Seq(atom))

    val muxed = ledgerWith(op, muxedSource = Some(42L))
      .filter(_.tpe == 33).map(_.details)
    assert(muxed.exists(d => d.contains("\"seller_muxed\"") &&
      d.contains("\"seller_muxed_id\":42")), muxed.mkString("\n"))
    // buyer-side details never carry the muxed pair
    assert(muxed.exists(d => !d.contains("seller_muxed")))

    val unmuxed = ledgerWith(op).filter(_.tpe == 33).map(_.details)
    assert(unmuxed.nonEmpty && unmuxed.forall(!_.contains("seller_muxed")))
  }

  test("op-level muxed source wins: seller_muxed(+id) and address_muxed " +
      "come from the op's OWN M-address, not the tx source") {
    import spark.implicits._
    val atom = ClaimAtom(atom_type = "offer", seller_key = Some(k32(9)),
      offer_id = Some(77L), pool_id = None,
      amount_sold_stroops = 500L, amount_bought_stroops = 400L,
      asset_sold = AssetRef("native", "", ""),
      asset_bought = AssetRef("credit_alphanum4", "USD",
        graft.codec.Strkey.encodeAccountId(k32(3))))
    // the op carries an EXPLICIT source that is itself an M-address —
    // the reference's operation.SourceAccount() is this op-level muxed
    // account, and the tx-level pair (id 42) must NOT leak through
    val op = mkOp(3).copy(claim_atoms = Seq(atom),
      source_key = Some(k32(7)), source_muxed_id = Some(99L))
    val opM = graft.codec.Strkey.encodeMuxed(k32(7), 99L)

    val rows = {
      val tx = TxModel(
        hash_hex = "ab" * 32, source_key = k32(1),
        source_muxed_id = Some(42L),
        account_sequence = 1L, max_fee = 100L, fee_charged = 100L,
        successful = true, result_code = "TransactionResultCodeTxSuccess",
        memo_type = "none", memo_text = None, memo_id = None, memo_hash = None,
        time_min = None, time_max = None, ledger_min = None, ledger_max = None,
        envelope_b64 = "", result_b64 = "", meta_b64 = "", fee_meta_b64 = "",
        signers = Nil, operations = Seq(op))
      val l = LedgerRow(
        sequence = 5000L, ledger_hash = k32(2), previous_ledger_hash = k32(3),
        header_b64 = "",
        closed_at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        total_coins = 0L, fee_pool = 0L, base_fee = 100L,
        base_reserve = 5000000L, max_tx_set_size = 100L, protocol_version = 21L,
        soroban_fee_write_1kb = 0L, node_id_key = k32(4), signature = k32(5),
        bucket_list_size = 0L, transactions = Seq(tx),
        tx_counts = TxCounts.of(Seq(tx)))
      StellarTradesEffects.historyEffects(Seq(l).toDS())
        .selectExpr("type", "address", "address_muxed",
          "to_json(details) AS details")
        .collect().map(r => (r.getInt(0), r.getString(1),
          Option(r.getString(2)), r.getString(3)))
    }
    val trades = rows.filter(_._1 == 33)
    // the row addressed to the ATOM's seller labels its counterparty (the
    // op source) "seller" and must carry the op-level muxed pair
    val sellerSide = trades.filter(_._4.contains("seller_muxed"))
    assert(sellerSide.nonEmpty, trades.mkString("\n"))
    sellerSide.foreach { case (_, addr, addrMuxed, d) =>
      assert(d.contains("\"seller_muxed\":\"" + opM + "\""), d)
      assert(d.contains("\"seller_muxed_id\":99"), d)
      assert(addr == graft.codec.Strkey.encodeAccountId(k32(9)))
      assert(addrMuxed.isEmpty, s"atom seller is unmuxed, got $addrMuxed")
    }
    // every effect addressed to the op source carries the op-level
    // M-address as address_muxed (the addMuxed arm)
    val srcAddressed = rows.filter(_._2 ==
      graft.codec.Strkey.encodeAccountId(k32(7)))
    assert(srcAddressed.nonEmpty, rows.mkString("\n"))
    srcAddressed.foreach { case (_, _, addrMuxed, _) =>
      assert(addrMuxed.contains(opM), s"address_muxed=$addrMuxed")
    }
    // nothing anywhere renders the tx-level pair
    val txM = graft.codec.Strkey.encodeMuxed(k32(1), 42L)
    assert(rows.forall { case (_, _, am, d) =>
      !d.contains(txM) && !d.contains("\"seller_muxed_id\":42") &&
        !am.contains(txM)
    }, rows.mkString("\n"))
  }

  test("liquidity_pool details carry total_trustlines when the change has " +
      "the pool entry's count") {
    val op = mkOp(22).copy(pool_id = Some(k32(7)), changes = Seq(
      OpChange("liquidity_pool", None, None, Some(k32(7)), None, None,
        pre_pool_fee = Some(30L),
        pre_reserve_a = Some(100L), post_reserve_a = Some(150L),
        pre_reserve_b = Some(200L), post_reserve_b = Some(260L),
        pre_total_shares = Some(1000L), post_total_shares = Some(1100L),
        post_trustline_count = Some(17L),
        pool_asset_a = Some(AssetRef("native", "", "")),
        pool_asset_b = Some(AssetRef("credit_alphanum4", "USD",
          graft.codec.Strkey.encodeAccountId(k32(3)))))))
    val d = ledgerWith(op).filter(_.tpe == 90).map(_.details)
    assert(d.exists(_.contains("\"total_trustlines\":\"17\"")),
      d.mkString("\n"))
  }

  test("CB created/claimed details carry the clawback flag iff the entry " +
      "has it set") {
    val flagged = OpChange("claimable_balance", None, None, None, None, None,
      None, change_kind = Some(0), cb_clawback_enabled = Some(true))
    val opCreate = mkOp(14).copy(balance_id = Some(k32(8)),
      cb_asset = Some(AssetRef("native", "", "")),
      cb_amount_stroops = Some(123L), changes = Seq(flagged))
    val created = ledgerWith(opCreate).filter(_.tpe == 50).map(_.details)
    assert(created.exists(_.contains(
      "\"claimable_balance_clawback_enabled_flag\":true")),
      created.mkString("\n"))

    val opCreatePlain = opCreate.copy(changes = Seq(
      flagged.copy(cb_clawback_enabled = Some(false))))
    val plain = ledgerWith(opCreatePlain).filter(_.tpe == 50).map(_.details)
    assert(plain.nonEmpty &&
      plain.forall(!_.contains("claimable_balance_clawback_enabled_flag")))

    val opClaim = mkOp(15).copy(balance_id = Some(k32(8)),
      cb_asset = Some(AssetRef("native", "", "")),
      cb_amount_stroops = Some(123L), changes = Seq(
        flagged.copy(change_kind = Some(2))))
    val claimed = ledgerWith(opClaim).filter(_.tpe == 52).map(_.details)
    assert(claimed.exists(_.contains(
      "\"claimable_balance_clawback_enabled_flag\":true")),
      claimed.mkString("\n"))
  }

  test("pool-share change_trust details carry the " +
      "addLiquidityPoolAssetDetails triple") {
    val op = mkOp(6).copy(trust_pool_id = Some(k32(5)),
      trust_limit_stroops = Some(10L), changes = Seq(
        OpChange("trustline", None, None, None, None, None, None,
          change_kind = Some(0), tl_asset_type = Some("pool_share"))))
    val d = ledgerWith(op).filter(_.tpe == 20).map(_.details)
    assert(d.exists(x => x.contains("\"asset_type\":\"liquidity_pool_shares\"")
      && x.contains("\"liquidity_pool_id\"")
      && x.contains("\"liquidity_pool_id_strkey\":\"L")), d.mkString("\n"))
  }

  test("trade effects written as NDJSON carry seller and offer_id in their " +
      "raw details object") {
    // the export sink's NDJSON write over generated ledgers whose offer ops
    // cross the book (StellarFixture 2000-2039)
    val out = java.nio.file.Files.createTempDirectory("graft-effects-trades")
      .resolve("effects").toString
    StellarTradesEffects.historyEffects(
        graft.sources.StellarFixture.ledgers(spark, 2000, 2039))
      .write.mode("overwrite").json(out)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val trades = spark.read.text(out).collect().map(_.getString(0))
      .map(om.readTree).filter(_.get("type_string").asText == "trade")
    assert(trades.nonEmpty)
    trades.foreach { n =>
      val d = n.get("details")
      assert(d.isObject, s"details must be a raw object: $n")
      assert(d.get("seller") != null && d.get("offer_id") != null, n.toString)
    }
  }
}
