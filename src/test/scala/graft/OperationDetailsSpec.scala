package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.codec.{ClaimPredicate, Hashes, ScVal, Strkey}
import graft.operators.StellarTransforms
import graft.model.LedgerModel.TxCounts
import graft.sources.StellarFixture

/** Golden-row assertions for the per-type `history_operations.details` case
  * law (`operation.go:584-1173`): for each op type, pick a fixture
  * coordinate (l, t=1, o=1) — successful tx, op source set — and assert the
  * rendered JSON verbatim. Values are hand-derived from the fixture
  * formulas; addresses via the codecs (golden-tested in CodecSpec). */
class OperationDetailsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-opdetails")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def keyOf(label: String): Array[Byte] =
    Hashes.sha256(label.getBytes("UTF-8"))
  private def g(label: String): String = Strkey.encodeAccountId(keyOf(label))
  /** FarmHash64 asset id — the `{prefix}asset_id` keys the reference embeds
    * in operation details (`addAssetDetails`). */
  private def aid(code: String, issuer: String, ty: String): Long =
    Hashes.farmHash64(code + issuer + ty)

  /** Fixture coordinate with t=1, o=1 whose op type is `ty` and whose ledger
    * has ≥2 txs (l%5 ≥ 1): ty = (l + 2) % 27. */
  private def ledgerFor(ty: Int): Long =
    (2700L to 2840L).find(l => (l + 2) % 27 == ty && l % 5 >= 1).get

  private def detailsAt(l: Long, t: Int, o: Int): String = {
    val df = StellarTransforms.historyOperations(
      StellarFixture.ledgers(spark, l, l))
    val opId = graft.codec.Toid.pack(l, t + 1, o + 1)
    df.where(col("id") === opId).select(to_json(col("details"), java.util.Map.of("ignoreNullFields", "true"))).head().getString(0)
  }

  private def check(ty: Int)(expected: (Long, String, String) => String): Unit = {
    val l = ledgerFor(ty)
    val src = g(s"op-$l-1-1") // o=1 → op source key set
    assert(detailsAt(l, 1, 1) == expected(l, src, g(s"dest-$l-1-1")),
      s"details mismatch for op type $ty at ledger $l")
  }

  test("create_account (0)") {
    check(0)((l, src, dest) =>
      s"""{"funder":"$src","account":"$dest","starting_balance":3.5}""")
  }

  test("payment (1)") {
    val l = ledgerFor(1)
    val src = g(s"op-$l-1-1")
    // o=1 odd: non-native TK1/ISS1; dest = issuer key on even ledgers
    val destLabel = if (l % 2 == 0) "issuer-ISS1" else s"dest-$l-1-1"
    val dest = g(destLabel)
    val destMuxed = Strkey.encodeMuxed(keyOf(destLabel), 4201L)
    assert(detailsAt(l, 1, 1) ==
      s"""{"from":"$src","to":"$dest","to_muxed":"$destMuxed","to_muxed_id":4201,""" +
      s""""amount":0.2000001,"asset_type":"credit_alphanum4","asset_code":"TK1",""" +
      s""""asset_issuer":"ISS1","asset_id":${aid("TK1", "ISS1", "credit_alphanum4")}}""")
  }

  test("path_payment_strict_receive (2) carries result source_amount and path") {
    val l = ledgerFor(2)
    val src = g(s"op-$l-1-1")
    val dest = g(s"dest-$l-1-1")
    // o=1: dest asset credit DST1, no path (o odd), atoms exist (trade type)
    val d = detailsAt(l, 1, 1)
    assert(d.startsWith(
      s"""{"from":"$src","to":"$dest","amount":0.2000001,""" +
      s""""source_amount":0.18,"source_max":0.24,""" +
      s""""asset_type":"credit_alphanum4","asset_code":"DST1","asset_issuer":"ISS1",""" +
      s""""asset_id":${aid("DST1", "ISS1", "credit_alphanum4")},""" +
      s""""source_asset_type":"credit_alphanum4","source_asset_code":"SRC1",""" +
      s""""source_asset_issuer":"ISS2",""" +
      s""""source_asset_id":${aid("SRC1", "ISS2", "credit_alphanum4")}"""), d)
  }

  test("manage_sell_offer (3)") {
    check(3)((l, src, dest) =>
      s"""{"amount":0.2000001,"offer_id":6001,"price":0.25,""" +
      s""""price_r":{"n":2,"d":8},""" +
      s""""buying_asset_type":"credit_alphanum4","buying_asset_code":"BY1",""" +
      s""""buying_asset_issuer":"ISS2",""" +
      s""""buying_asset_id":${aid("BY1", "ISS2", "credit_alphanum4")},""" +
      s""""selling_asset_type":"credit_alphanum4","selling_asset_code":"SL1",""" +
      s""""selling_asset_issuer":"ISS1",""" +
      s""""selling_asset_id":${aid("SL1", "ISS1", "credit_alphanum4")}}""")
  }

  test("create_passive_sell_offer (4) has no offer_id") {
    check(4)((l, src, dest) =>
      s"""{"amount":0.2000001,"price":0.25,"price_r":{"n":2,"d":8},""" +
      s""""buying_asset_type":"credit_alphanum4","buying_asset_code":"BY1",""" +
      s""""buying_asset_issuer":"ISS2",""" +
      s""""buying_asset_id":${aid("BY1", "ISS2", "credit_alphanum4")},""" +
      s""""selling_asset_type":"credit_alphanum4",""" +
      s""""selling_asset_code":"SL1","selling_asset_issuer":"ISS1",""" +
      s""""selling_asset_id":${aid("SL1", "ISS1", "credit_alphanum4")}}""")
  }

  test("set_options (5): clear flags, thresholds, home domain") {
    check(5)((l, src, dest) =>
      s"""{"clear_flags":[2],"clear_flags_s":["auth_revocable"],""" +
      s""""master_key_weight":1,"low_threshold":1,"med_threshold":3,""" +
      s""""high_threshold":4,"home_domain":"dom1.example"}""")
  }

  test("change_trust (6)") {
    check(6)((l, src, dest) => {
      // the fixture zeroes the limit on its trustline-removal slice
      val limit = if ((l + 1) % 4 == 1) 0.0 else 100.0
      s"""{"asset_type":"credit_alphanum4","asset_code":"TR1",""" +
      s""""asset_issuer":"ISS1",""" +
      s""""asset_id":${aid("TR1", "ISS1", "credit_alphanum4")},""" +
      s""""limit":$limit,"trustee":"ISS1","trustor":"$src"}"""
    })
  }

  test("allow_trust (7): authorize-to-maintain-liabilities arm") {
    val l = ledgerFor(7)
    val src = g(s"op-$l-1-1")
    val trustor = g(s"trustor-$l-1-1")
    // o=1 → authorize_flags = 2: authorize=false, maintain-liabilities=true
    assert(detailsAt(l, 1, 1) ==
      s"""{"asset_type":"credit_alphanum4","asset_code":"AL1",""" +
      s""""asset_issuer":"ISS1",""" +
      s""""asset_id":${aid("AL1", "ISS1", "credit_alphanum4")},""" +
      s""""trustee":"$src","trustor":"$trustor",""" +
      s""""authorize":false,"authorize_to_maintain_liabilities":true}""")
  }

  test("account_merge (8)") {
    check(8)((l, src, dest) =>
      s"""{"account":"$src","into":"$dest"}""")
  }

  test("manage_data (10): odd o has no value") {
    check(10)((l, src, dest) => s"""{"name":"cfg-1"}""")
  }

  test("bump_sequence (11)") {
    check(11)((l, src, dest) =>
      s"""{"bump_to":"${l * 1000000L + 101L}"}""")
  }

  test("create_claimable_balance (14): claimants with recursive predicates") {
    val l = ledgerFor(14)
    val c0 = g(s"claimant-$l-1-1-0")
    val c1 = g(s"claimant-$l-1-1-1")
    val pred1 = ClaimPredicate.toJson(ClaimPredicate.And(Seq(
      ClaimPredicate.AbsBefore(1700000001L),
      ClaimPredicate.Not(Some(ClaimPredicate.RelBefore(3601L))))))
    assert(detailsAt(l, 1, 1) ==
      s"""{"amount":6.0,"asset":"CB1:ISS1","claimants":[""" +
      s"""{"destination":"$c0","predicate":"{\\"unconditional\\":true}"},""" +
      s"""{"destination":"$c1","predicate":"${pred1.replace("\"", "\\\"")}"}]}""")
  }

  test("claim_claimable_balance (15): hex + strkey balance id") {
    val l = ledgerFor(15)
    val src = g(s"op-$l-1-1")
    val cb = keyOf(s"cb-$l-1-1")
    assert(detailsAt(l, 1, 1) ==
      s"""{"balance_id":"00000000${Hashes.hex(cb)}",""" +
      s""""balance_id_strkey":"${Strkey.encodeClaimableBalance(cb)}",""" +
      s""""claimant":"$src"}""")
  }

  test("begin_sponsoring_future_reserves (16)") {
    val l = ledgerFor(16)
    assert(detailsAt(l, 1, 1) ==
      s"""{"sponsored_id":"${g(s"sponsoree-$l-1-1")}"}""")
  }

  test("revoke_sponsorship (18): signer arm at even o, account arm at odd") {
    val l = ledgerFor(18)
    // o=1 → revoke_account_id arm
    assert(detailsAt(l, 1, 1) ==
      s"""{"account_id":"${g(s"racct-$l-1-1")}"}""")
  }

  test("clawback (19)") {
    val l = ledgerFor(19)
    val from = g(s"dest-$l-1-1")
    assert(detailsAt(l, 1, 1) ==
      s"""{"from":"$from","amount":0.2000001,"asset_type":"credit_alphanum4",""" +
      s""""asset_code":"TK1","asset_issuer":"ISS1",""" +
      s""""asset_id":${aid("TK1", "ISS1", "credit_alphanum4")}}""")
  }

  test("clawback_claimable_balance (20)") {
    val l = ledgerFor(20)
    val cb = keyOf(s"cb-$l-1-1")
    assert(detailsAt(l, 1, 1) ==
      s"""{"balance_id":"00000000${Hashes.hex(cb)}",""" +
      s""""balance_id_strkey":"${Strkey.encodeClaimableBalance(cb)}"}""")
  }

  test("set_trust_line_flags (21): clear arm at odd o") {
    val l = ledgerFor(21)
    val trustor = g(s"trustor-$l-1-1")
    assert(detailsAt(l, 1, 1) ==
      s"""{"asset_type":"credit_alphanum4","asset_code":"TF1",""" +
      s""""asset_issuer":"ISS1",""" +
      s""""asset_id":${aid("TF1", "ISS1", "credit_alphanum4")},""" +
      s""""trustor":"$trustor",""" +
      s""""tl_clear_flags":[2,4],""" +
      s""""tl_clear_flags_s":["authorized_to_maintain_liabilities","clawback_enabled"]}""")
  }

  test("liquidity_pool_deposit (22): deltas from pre/post pool state") {
    val l = ledgerFor(22)
    val pool = keyOf(s"pool-$l")
    assert(detailsAt(l, 1, 1) ==
      s"""{"liquidity_pool_id":"${Hashes.hex(pool)}",""" +
      s""""liquidity_pool_id_strkey":"${Strkey.encodeLiquidityPool(pool)}",""" +
      s""""reserve_a_asset_type":"native",""" +
      s""""reserve_a_asset_id":${aid("", "", "native")},""" +
      s""""reserve_b_asset_type":"credit_alphanum4",""" +
      s""""reserve_b_asset_code":"PL${l % 4}",""" +
      s""""reserve_b_asset_issuer":"ISS${l % 3}",""" +
      s""""reserve_b_asset_id":${aid(s"PL${l % 4}", s"ISS${l % 3}",
        "credit_alphanum4")},""" +
      s""""reserve_a_max_amount":4.0000001,"reserve_b_max_amount":5.0000001,""" +
      s""""reserve_a_deposit_amount":3.0000001,""" +
      s""""reserve_b_deposit_amount":1.5000001,""" +
      s""""min_price":0.5,"min_price_r":{"n":1,"d":2},""" +
      s""""max_price":3.0,"max_price_r":{"n":3,"d":1},""" +
      s""""shares_received":0.5000001}""")
  }

  test("liquidity_pool_withdraw (23): negated deltas") {
    val l = ledgerFor(23)
    val pool = keyOf(s"pool-$l")
    assert(detailsAt(l, 1, 1) ==
      s"""{"liquidity_pool_id":"${Hashes.hex(pool)}",""" +
      s""""liquidity_pool_id_strkey":"${Strkey.encodeLiquidityPool(pool)}",""" +
      s""""reserve_a_asset_type":"native",""" +
      s""""reserve_a_asset_id":${aid("", "", "native")},""" +
      s""""reserve_b_asset_type":"credit_alphanum4",""" +
      s""""reserve_b_asset_code":"PL${l % 4}",""" +
      s""""reserve_b_asset_issuer":"ISS${l % 3}",""" +
      s""""reserve_b_asset_id":${aid(s"PL${l % 4}", s"ISS${l % 3}",
        "credit_alphanum4")},""" +
      s""""reserve_a_min_amount":0.1000001,"reserve_b_min_amount":0.2000001,""" +
      s""""reserve_a_withdraw_amount":3.0000001,""" +
      s""""reserve_b_withdraw_amount":1.5000001,""" +
      s""""shares":0.7000001}""")
  }

  test("invoke_host_function (24): create_contract arm at o=1") {
    val l = ledgerFor(24)
    // o=1 → fn = create_contract: contract id + from-address preimage
    val cid = Strkey.encodeContract(keyOf(s"contract-$l-1-1"))
    val deployer = g(s"deployer-$l-1-1")
    assert(detailsAt(l, 1, 1) ==
      s"""{"from":"address",""" +
      s""""function":"HostFunctionTypeHostFunctionTypeCreateContract",""" +
      s""""type":"create_contract","contract_id":"$cid",""" +
      s""""address":"$deployer"}""")
  }

  test("invoke_host_function (24): invoke arm carries ScVal parameters") {
    // need the invoke_contract arm (o % 4 == 0) on a successful tx: use
    // (t=2, o=0), which requires (l+2) % 27 == 24 and a ledger with ≥3 txs
    val l = (2700L to 2900L).find(x => (x + 2) % 27 == 24 && x % 5 >= 2).get
    val d = StellarTransforms.historyOperations(
      StellarFixture.ledgers(spark, l, l))
      .where(col("id") === graft.codec.Toid.pack(l, 3, 1))
      .select(to_json(col("details"), java.util.Map.of("ignoreNullFields", "true"))).head().getString(0)
    val cidKey = keyOf(s"contract-$l-2-0")
    val cid = Strkey.encodeContract(cidKey)
    val p0 = GraftTestB64.b64(ScVal.encode(ScVal.AddrContract(cidKey)))
    val p1 = GraftTestB64.b64(ScVal.encode(ScVal.Sym("transfer")))
    val p2 = GraftTestB64.b64(ScVal.encode(ScVal.U64(100L)))
    val acct = Strkey.encodeAccountId(keyOf(s"acct-$l-2"))
    // footprint hashes, derived independently: sha256 over the raw XDR
    // ledger keys, and the hash embedded in the CONTRACT_CODE (type 7) key
    def sha256Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(b).map("%02x".format(_)).mkString
    val fpTtl = Array[Byte](0, 0, 0, 9) ++ keyOf(s"fpkey-$l-2")
    val fpCode = Array[Byte](0, 0, 0, 7) ++ keyOf(s"code-$l-2")
    val codeHash = keyOf(s"code-$l-2").map("%02x".format(_)).mkString
    assert(d ==
      s"""{"function":"HostFunctionTypeHostFunctionTypeInvokeContract",""" +
      s""""type":"invoke_contract","contract_id":"$cid",""" +
      s""""ledger_key_hash":["${sha256Hex(fpTtl)}","${sha256Hex(fpCode)}"],""" +
      s""""contract_code_hash":"$codeHash",""" +
      s""""parameters":["$p0","$p1","$p2"],""" +
      s""""parameters_decoded":["{\\"address\\":\\"$cid\\"}",""" +
      s""""{\\"symbol\\":\\"transfer\\"}","{\\"u64\\":100}"],""" +
      // SAC balance changes: the junk third event is dropped by the parser
      s""""asset_balance_changes":[{"from":"$acct","to":"$cid",""" +
      // non-zero 7th decimal digit: guards the decimal(38,7)-before-divide
      // scaling (a (38,0)/(20,0) divide would render "0.5000000")
      s""""type":"transfer","amount":"0.5000001","asset_type":"credit_alphanum4",""" +
      s""""asset_code":"TK0","asset_issuer":"ISS0"},""" +
      s"""{"from":"$acct","type":"burn","amount":"0.0700003",""" +
      s""""asset_type":"native"}]}""")
  }

  test("extend_footprint_ttl (25)") {
    val l = ledgerFor(25)
    val cid = Strkey.encodeContract(keyOf(s"contract-$l-1-1"))
    assert(detailsAt(l, 1, 1) ==
      s"""{"type":"extend_footprint_ttl","extend_to":10001}""")
  }

  test("end_sponsoring_future_reserves (17): empty without matching begin") {
    val l = ledgerFor(17)
    assert(detailsAt(l, 1, 1) == "{}")
  }

  test("end_sponsoring (17): begin_sponsor found by reverse sandwich scan") {
    import graft.model.LedgerModel._
    import spark.implicits._
    val sponsoree = keyOf("ward")
    val sponsorTx = keyOf("sponsor-tx")
    // begin(sponsored=ward) … decoy begin(other) … end(source=ward):
    // the scan must take the LAST begin before the end that names ward
    val blank = StellarFixture.op(1, 1, 0)
      .copy(claim_atoms = Seq.empty, changes = Seq.empty)
    val ops = Seq(
      blank.copy(op_type = 16, source_key = Some(keyOf("sponsor-op")),
        sponsored_id_key = Some(sponsoree)),
      blank.copy(op_type = 16, source_key = None,
        sponsored_id_key = Some(keyOf("other"))),
      blank.copy(op_type = 17, source_key = Some(sponsoree),
        sponsored_id_key = None))
    val tx = StellarFixture.tx(1, 1).copy(source_key = sponsorTx, operations = ops)
    val ledger = StellarFixture.ledger(1).copy(transactions = Seq(tx),
      tx_counts = TxCounts.of(Seq(tx)))
    val d = StellarTransforms.historyOperations(spark.createDataset(Seq(ledger)))
      .where(col("type") === 17).select(to_json(col("details"), java.util.Map.of("ignoreNullFields", "true"))).head().getString(0)
    assert(d == s"""{"begin_sponsor":"${Strkey.encodeAccountId(keyOf("sponsor-op"))}"}""")
  }

  /** The details-vocabulary audit: the FULL key union the reference's
    * `extractOperationDetails` can emit (operation.go:584-1173 plus the
    * helper expansions it calls) is enumerated here with citations, swept
    * against the reference source to catch enumeration drift, and checked
    * against our renderer's struct schema — so rare op paths that never
    * appear in the published golden corpus are still covered by name. */
  test("details vocabulary: the full extractOperationDetails key union " +
      "is known to the renderer") {
    val refSrc = "/root/reference/internal/transform/operation.go"
    assume(new java.io.File(refSrc).isFile, s"reference source missing: $refSrc")
    // bare details["…"] assignments, operation.go:584-1173
    val bare = Set(
      "account", "amount", "asset", "asset_balance_changes", "asset_issuer",
      "authorize", "authorize_to_maintain_liabilities", "balance_id",
      "balance_id_strkey", "bump_to", "claimants", "clawback_enabled",
      "contract_code_hash", "contract_id", "destination_min", "extend_to",
      "function", "high_threshold", "home_domain", "inflation_dest",
      "ledger_key_hash", "limit", "liquidity_pool_id",
      "liquidity_pool_id_strkey", "low_threshold", "master_key_weight",
      "med_threshold", "name", "offer_id", "parameters",
      "parameters_decoded", "parameters_json", "parameters_json_decoded",
      "path", "reserve_a_deposit_amount", "reserve_a_max_amount",
      "reserve_a_min_amount", "reserve_a_withdraw_amount",
      "reserve_b_deposit_amount", "reserve_b_max_amount",
      "reserve_b_min_amount", "reserve_b_withdraw_amount", "shares",
      "shares_received", "signer_account_id", "signer_key", "signer_weight",
      "source_amount", "source_max", "sponsor", "sponsored_id",
      "starting_balance", "trustee", "trustor", "type", "value")
    // addAssetDetailsToOperationDetails expansions (operation.go:371-385)
    // over the prefixes called in 584-1173: "", buying, selling, source,
    // reserve_a, reserve_b
    val assetKeys = Seq("", "buying_", "selling_", "source_", "reserve_a_",
      "reserve_b_").flatMap(p =>
      Seq("asset_type", "asset_code", "asset_issuer", "asset_id").map(p + _))
    // addAccountAndMuxedAccountDetails expansions (operation.go:339-359)
    // over the prefixes called in 584-1173
    val acctKeys = Seq("account", "begin_sponsor", "claimant", "from",
      "funder", "into", "to", "trustee", "trustor").flatMap(p =>
      Seq(p, s"${p}_muxed", s"${p}_muxed_id"))
    // addPriceDetails expansions ("", min, max)
    val priceKeys = Seq("price", "price_r", "min_price", "min_price_r",
      "max_price", "max_price_r")
    // addLedgerKeyToDetails (revoke_sponsorship ledger-key arms)
    val ledgerKeyKeys = Set("account_id", "claimable_balance_id",
      "claimable_balance_id_strkey", "data_account_id", "data_name",
      "offer_id", "trustline_account_id", "trustline_asset",
      "trustline_liquidity_pool_id", "trustline_liquidity_pool_id_strkey",
      "liquidity_pool_id", "liquidity_pool_id_strkey")
    // flag-detail expansions (addFlagDetails / addTrustLineFlagDetails:
    // {set,clear}_flags ‖ _s, tl variants) — note the reference reuses
    // set_flags/clear_flags for BOTH account and trustline flags; the
    // typed struct splits the trustline pair under tl_ to keep one type
    // per field, with the reference spelling kept in details_json? No —
    // both spellings are covered below as a documented split.
    val flagKeys = Set("set_flags", "set_flags_s", "clear_flags",
      "clear_flags_s")

    val union = bare ++ assetKeys ++ acctKeys ++ priceKeys ++
      ledgerKeyKeys ++ flagKeys

    // sweep the reference source: every bare key in 584-1173 must be in
    // the enumeration (catches drift if the golden corpus or reference
    // version moves under us)
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(refSrc))
      .split("\n").slice(583, 1173).mkString("\n")
    val swept = """details\["([a-z0-9_]+)"\]""".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    assert(swept.subsetOf(bare), s"enumeration drift: ${swept -- bare}")

    // our renderer's schema (the typed struct the details_json renders)
    val schema = StellarTransforms.historyOperations(
        StellarFixture.ledgers(spark, 2700, 2700))
      .select("details.*").schema.fieldNames.toSet

    // deliberate deviations, each with its rationale:
    val deviations = Set(
      // the reference assigns the SAME serializations twice
      // (operation.go:1087-1090 parameters/parameters_json pairs); the
      // typed struct carries one copy
      "parameters_json", "parameters_json_decoded",
      // account/trustline flag splits: the reference reuses
      // set_flags/clear_flags for trustline flags on op 21; the typed
      // struct needs one type per field, so op-21 rides tl_set_flags /
      // tl_clear_flags (pinned in the op-21 test above)
      )
    val missing = union -- schema -- deviations --
      // trustline flags covered under the tl_ split (see above)
      Set.empty
    assert(missing.isEmpty,
      s"reference detail keys unknown to the renderer: ${missing.toSeq.sorted}")
  }

  /** The details kernels and the Column-law JSON chain (`to_json` →
    * `regexp_replace` → `parse_json`) in a frame's optimised plan. */
  private def kernels(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: graft.plans.OperationDetailsExpression => k
    })).size
  private def jsonChain(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StructsToJson}
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: StructsToJson => e
      case e: RegExpReplace => e
    })).size
  }

  test("details kernel: one plan node, no JSON chain") {
    val model = StellarTransforms.historyOperations(
      StellarFixture.ledgers(spark, 2700, 2700))
    assert(kernels(model) == 1)
    assert(jsonChain(model) == 0)
    // the same transform over ledgers decoded from a datastore tree
    val dir = java.nio.file.Files.createTempDirectory("graft-ds-law").toString
    graft.sources.RealXdrFixture.writeBatchTree(dir, 3000, 3003)
    val datastore = StellarTransforms.historyOperations(
      graft.sources.LcmBatchFiles.ledgerRowsForRange(spark, dir, 3000, 3003))
    assert(kernels(datastore) == 1)
    assert(jsonChain(datastore) == 0)
    // a consumer of both columns still plans one kernel, and one that reads
    // neither plans none
    assert(kernels(model.select(to_json(col("details")),
      col("details_json"))) == 1)
    assert(kernels(model.select("id", "type")) == 0)
  }

  /** The NDJSON export of `df`: `write.json`, every part file's lines,
    * sorted. */
  private def ndjson(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-ops-golden")
      .resolve("out")
    df.write.json(dir.toString)
    val parts = java.nio.file.Files.list(dir)
    try parts.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala).sorted
    finally parts.close()
  }

  private def assertGolden(lines: Seq[String], name: String): Unit = {
    val golden = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/test/resources/golden", name)).toArray.toSeq
    assert(lines.size == golden.size, s"$name: ${lines.size} lines vs ${golden.size}")
    lines.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"$name line $i:\n  got      $a\n  expected $b")
    }
  }

  /** Ledgers of the fixture lattice whose ops cover all 27 types, each in a
    * successful and in a failed tx, plus two five-tx ledgers (muxed tx
    * source, fee bump, soroban footprints). */
  private val allTypesLedgers = Seq(2700, 2701, 2702, 2704, 2705, 2706, 2707,
    2710, 2711, 2712, 2715, 2716, 2717, 2719, 2720, 2721, 2722, 2725, 2726,
    2730, 2731, 2735, 2736, 2740, 2741, 2745, 2746, 2750, 2751).map(_.toLong)

  test("history_operations NDJSON is byte-identical to its golden") {
    val ops = StellarTransforms.historyOperations(
      StellarFixture.ledgers(spark, 2700, 2751)
        .where(col("sequence").isin(allTypesLedgers: _*)))
    val schema = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/test/resources/golden/history_operations_schema.json")).trim
    assert(ops.schema.json == schema)
    val lines = ndjson(ops)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(lines.map(l => om.readTree(l).get("type").asInt).toSet ==
      (0 to 26).toSet)
    assertGolden(lines, "history_operations_all_types.golden")
    // genuine wire bytes: soroban invokes with SAC events and footprints,
    // LP deposit/withdraw and CB create/claim with their entry changes
    val tmp = java.nio.file.Files.createTempDirectory("graft-ops-real")
    val soroban = tmp.resolve("soroban").toString
    val classic = tmp.resolve("classic").toString
    graft.sources.RealXdrFixture.writeBatchTree(soroban, 3000, 3002)
    graft.sources.RealXdrFixture.writeClassicBatchTree(classic, 3000, 3003)
    def realOps(dir: String, end: Long) = StellarTransforms.historyOperations(
      graft.sources.LcmBatchFiles.ledgerRowsForRange(spark, dir, 3000, end))
    assertGolden(
      (ndjson(realOps(soroban, 3002)) ++ ndjson(realOps(classic, 3003))).sorted,
      "history_operations_real_xdr.golden")
  }

  test("details_json is details with null keys dropped, except a failed " +
      "strict-receive path payment's string source_amount") {
    val ops = StellarTransforms.historyOperations(
      StellarFixture.ledgers(spark, 2700, 2740))
    // the fixture fails tx t when t % 3 == 0; t is the TOID's tx field - 1
    val txIndex = shiftright(col("id"), 12).bitwiseAND(0xFFFFFL) - 1
    val failedPp = col("type") === 2 && txIndex % 3 === 0
    val failed = ops.where(failedPp)
      .select(col("id"), col("details.source_amount"),
        col("details_json").cast("string"))
      .collect()
    // (2702, t = 0, o = 0): a one-op failed tx whose type is 2702 % 27 = 2
    assert(failed.map(_.getLong(0)).contains(
      graft.codec.Toid.pack(2702L, 1, 1)))
    failed.foreach { r =>
      assert(r.getDouble(1) == 0.0)
      assert(r.getString(2).contains("\"source_amount\":\"0.0000000\""),
        r.getString(2))
    }
    // every other row: the JSON is the struct's own rendering (both sides
    // through parse_json, which orders keys the same way)
    val others = ops.where(!failedPp)
    val struct = to_json(parse_json(to_json(col("details"),
      java.util.Map.of("ignoreNullFields", "true"))))
    assert(others.count() > 100)
    val differ = others.where(!(to_json(col("details_json")) <=> struct))
      .select(col("id"), to_json(col("details_json"))).collect()
    assert(differ.isEmpty, differ.take(3).mkString("; "))
  }
}

private object GraftTestB64 {
  def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
}
