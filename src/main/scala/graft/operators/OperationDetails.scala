package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** The `history_operations.details` law, bound by its one caller,
  * [[StellarTransforms.historyOperations]], through [[DetailInputs]].
  *
  * The reference computes one per-type sparse details map and assigns it
  * to both the struct field and the JSON rendering
  * (`internal/transform/operation.go:97,584-1173`): [[struct]] builds the
  * map as one wide nullable struct and [[json]] renders that same column,
  * so the two fields cannot drift apart. Keys a type does not carry are
  * null and drop out of the JSON via `ignoreNullFields`. */
object OperationDetails {

  /** Every Column the details law reads, named by role. */
  case class DetailInputs(
      ty: Column,
      successful: Column,
      sourceAddr: Column,
      destAddr: Column,
      fromMuxed: Column,
      fromMuxedId: Column,
      toMuxed: Column,
      toMuxedId: Column,
      startingBalanceStroops: Column,
      amountStroops: Column,
      cbAmountStroops: Column,
      sourceAmountStroops: Column,
      sourceMaxStroops: Column,
      destMinStroops: Column,
      path: Column,
      assetType: Column,
      assetCode: Column,
      assetIssuer: Column,
      // farmhash64 asset ids embedded in the details maps
      // (`addAssetDetails` appends `{prefix}asset_id`, the goldens carry
      // them on payment/trust/offer ops)
      assetId: Column,
      trustAssetId: Column,
      sourceAssetId: Column,
      buyingAssetId: Column,
      sellingAssetId: Column,
      trustAssetType: Column,
      trustAssetCode: Column,
      trustAssetIssuer: Column,
      trustPoolIdHex: Column,
      trustPoolIdStrkey: Column,
      trustLimitStroops: Column,
      sourceAssetType: Column,
      sourceAssetCode: Column,
      sourceAssetIssuer: Column,
      offerId: Column,
      priceN: Column,
      priceD: Column,
      buyingAssetType: Column,
      buyingAssetCode: Column,
      buyingAssetIssuer: Column,
      sellingAssetType: Column,
      sellingAssetCode: Column,
      sellingAssetIssuer: Column,
      inflationDestAddr: Column,
      setFlags: Column,
      clearFlags: Column,
      masterWeight: Column,
      lowThreshold: Column,
      medThreshold: Column,
      highThreshold: Column,
      homeDomain: Column,
      signerAddr: Column,
      revokeSignerAddr: Column,
      signerWeight: Column,
      authorizeFlags: Column,
      tlSetFlags: Column,
      tlClearFlags: Column,
      trustorAddr: Column,
      dataName: Column,
      dataValueB64: Column,
      bumpTo: Column,
      cbAssetCanon: Column,
      claimants: Column,
      balanceIdHex: Column,
      balanceIdStrkey: Column,
      sponsoredIdAddr: Column,
      beginSponsorAddr: Column,
      revokeSignerAccountAddr: Column,
      revokeAccountIdAddr: Column,
      revokeOfferId: Column,
      // revoke-sponsorship ledger-key arms (`addLedgerKeyToDetails`):
      // per-family key payloads, sparse — exactly one family per revoke
      revokeTrustlineAccountAddr: Column,
      revokeTrustlineAssetCanon: Column,
      revokeTrustlinePoolIdHex: Column,
      revokeTrustlinePoolIdStrkey: Column,
      revokeDataAccountAddr: Column,
      revokeDataName: Column,
      revokeCbIdHex: Column,
      revokeCbIdStrkey: Column,
      revokeLpIdHex: Column,
      revokeLpIdStrkey: Column,
      // begin-sponsor muxed pair (`addAccountAndMuxedAccountDetails` with
      // the initiating begin op's source)
      beginSponsorMuxed: Column,
      beginSponsorMuxedId: Column,
      // the op-level `sponsor` key (`getSponsor`, operation.go:1164-1170 +
      // 1251-1290): the sponsor of entries/signers this op created
      sponsorAddr: Column,
      lpPoolIdHex: Column,
      lpPoolIdStrkey: Column,
      reserveAAssetType: Column,
      reserveAAssetCode: Column,
      reserveAAssetIssuer: Column,
      reserveAAssetId: Column,
      reserveBAssetType: Column,
      reserveBAssetCode: Column,
      reserveBAssetIssuer: Column,
      reserveBAssetId: Column,
      maxAmountA: Column,
      maxAmountB: Column,
      deltaReserveA: Column,
      deltaReserveB: Column,
      deltaShares: Column,
      minPriceN: Column,
      minPriceD: Column,
      maxPriceN: Column,
      maxPriceD: Column,
      minAmountA: Column,
      minAmountB: Column,
      lpSharesStroops: Column,
      hostFnTypeName: Column,
      sorobanContractAddr: Column,
      ledgerKeyHashArr: Column,
      contractCodeHash: Column,
      parametersB64: Column,
      parametersJson: Column,
      assetBalanceChanges: Column,
      extendTo: Column,
      preimageTag: Column,
      preimageAddress: Column,
      preimageAssetCanon: Column)

  /** Go's account-flag decode: ints + names (`operation.go:555-582`). */
  def accountFlagArrays(v: Column): (Column, Column) = {
    val names = typedLit(Map(1 -> "auth_required", 2 -> "auth_revocable",
      4 -> "auth_immutable", 8 -> "auth_clawback_enabled"))
    val ints = filter(typedLit(Seq(1, 2, 4, 8)), b => v.bitwiseAND(b) =!= 0)
    (ints, transform(ints, i => element_at(names, i)))
  }

  /** Trust-line flag decode (`operation.go:2024-2079`). */
  def trustlineFlagArrays(v: Column): (Column, Column) = {
    val names = typedLit(Map(1 -> "authorized",
      2 -> "authorized_to_maintain_liabilities", 4 -> "clawback_enabled"))
    val ints = filter(typedLit(Seq(1, 2, 4)), b => v.bitwiseAND(b) =!= 0)
    (ints, transform(ints, i => element_at(names, i)))
  }

  /** The wide nullable details struct (SURVEY §1.2 option (a)): every
    * expression is the reference's per-type case law
    * (`operation.go:584-1173`) over the bound inputs. Asset codes/issuers
    * gate on a NULL-SAFE non-native test, so an untyped asset still emits
    * its code. */
  def struct(in: DetailInputs): Column = {
    val ty = in.ty
    val successful = in.successful
    val sourceAddr = in.sourceAddr
    val destAddr = in.destAddr
    val (setFlagsI, setFlagsS) = accountFlagArrays(in.setFlags)
    val (clearFlagsI, clearFlagsS) = accountFlagArrays(in.clearFlags)
    val (tlSetI, tlSetS) = trustlineFlagArrays(in.tlSetFlags)
    val (tlClearI, tlClearS) = trustlineFlagArrays(in.tlClearFlags)
    // null-safe "not native": null asset_type keeps the code
    def nonNative(t: Column): Column = !(t <=> lit("native"))
    val isPayment = ty.isin(1, 2, 13)

    org.apache.spark.sql.functions.struct(
      // ---- accounts & amounts (create_account / payments / merge / clawback)
      when(ty === 0, sourceAddr).as("funder"),
      // `account` is SHARED: create_account's destination and
      // account_merge's (muxed-able) source ride the same reference key
      when(ty === 0, destAddr).when(ty === 8, sourceAddr).as("account"),
      when(ty === 0, stroopsToXlm(in.startingBalanceStroops))
        .as("starting_balance"),
      when(isPayment, sourceAddr)
        .when(ty === 19, destAddr) // clawback: From account
        // create-contract preimage tag (`operation.go:2285,2288`)
        .when(ty === 24, in.preimageTag)
        .as("from"),
      when(isPayment, destAddr).as("to"),
      when(isPayment, in.fromMuxed).as("from_muxed"),
      when(isPayment, in.fromMuxedId).as("from_muxed_id"),
      in.toMuxed.as("to_muxed"),
      in.toMuxedId.as("to_muxed_id"),
      // every muxed-able account prefix gets its _muxed pair when the
      // acting account is an M-address (`addAccountAndMuxedAccountDetails`
      // call sites: funder ty 0, account/into ty 8, trustee ty 7,
      // claimant ty 15, begin_sponsor ty 17)
      when(ty === 0, in.fromMuxed).as("funder_muxed"),
      when(ty === 0, in.fromMuxedId).as("funder_muxed_id"),
      when(ty === 8, in.fromMuxed).as("account_muxed"),
      when(ty === 8, in.fromMuxedId).as("account_muxed_id"),
      when(ty === 8, in.toMuxed).as("into_muxed"),
      when(ty === 8, in.toMuxedId).as("into_muxed_id"),
      when(ty === 7, in.fromMuxed).as("trustee_muxed"),
      when(ty === 7, in.fromMuxedId).as("trustee_muxed_id"),
      when(ty === 15, in.fromMuxed).as("claimant_muxed"),
      when(ty === 15, in.fromMuxedId).as("claimant_muxed_id"),
      when(ty === 17 && successful, in.beginSponsorMuxed)
        .as("begin_sponsor_muxed"),
      when(ty === 17 && successful, in.beginSponsorMuxedId)
        .as("begin_sponsor_muxed_id"),
      // amount: payments/offers/clawback op body; strict-send actual from
      // result when successful, 0 otherwise (`operation.go:687-696`)
      when(ty === 13,
          when(successful, stroopsToXlm(in.amountStroops)).otherwise(lit(0.0)))
        .when(ty.isin(1, 2, 3, 4, 12, 19), stroopsToXlm(in.amountStroops))
        .when(ty === 14, stroopsToXlm(in.cbAmountStroops))
        .as("amount"),
      // ---- path payments (2 strict-receive / 13 strict-send)
      when(ty === 2,
          when(successful, stroopsToXlm(in.sourceAmountStroops))
            .otherwise(lit(0.0)))
        .when(ty === 13, stroopsToXlm(in.sourceAmountStroops))
        .as("source_amount"),
      when(ty === 2, stroopsToXlm(in.sourceMaxStroops)).as("source_max"),
      when(ty === 13, stroopsToXlm(in.destMinStroops)).as("destination_min"),
      when(ty.isin(2, 13), in.path).as("path"),
      // ---- asset triple: payment/path dest asset, trust-line ops' line,
      // clawback asset (`addAssetDetailsToOperationDetails` with "" prefix)
      when(ty.isin(1, 2, 13, 19), in.assetType)
        .when(ty.isin(6, 7, 21), in.trustAssetType)
        .as("asset_type"),
      when(ty.isin(1, 2, 13, 19) && nonNative(in.assetType), in.assetCode)
        .when(ty.isin(6, 7, 21), in.trustAssetCode).as("asset_code"),
      when(ty.isin(1, 2, 13, 19) && nonNative(in.assetType), in.assetIssuer)
        .when(ty.isin(6, 7, 21), in.trustAssetIssuer)
        .as("asset_issuer"),
      when(ty.isin(1, 2, 13, 19), in.assetId)
        .when(ty.isin(6, 7, 21), in.trustAssetId).as("asset_id"),
      when(ty.isin(2, 13), in.sourceAssetType).as("source_asset_type"),
      when(ty.isin(2, 13) && nonNative(in.sourceAssetType),
        in.sourceAssetCode).as("source_asset_code"),
      when(ty.isin(2, 13) && nonNative(in.sourceAssetType),
        in.sourceAssetIssuer).as("source_asset_issuer"),
      when(ty.isin(2, 13), in.sourceAssetId).as("source_asset_id"),
      // ---- offers (3 manage_sell / 4 passive_sell / 12 manage_buy)
      when(ty.isin(3, 12), in.offerId)
        .when(ty === 18, in.revokeOfferId).as("offer_id"),
      when(ty.isin(3, 4, 12), pricePoint7(in.priceN, in.priceD)).as("price"),
      when(ty.isin(3, 4, 12), org.apache.spark.sql.functions.struct(
        in.priceN.as("n"), in.priceD.as("d"))).as("price_r"),
      when(ty.isin(3, 4, 12), in.buyingAssetType).as("buying_asset_type"),
      when(ty.isin(3, 4, 12) && nonNative(in.buyingAssetType),
        in.buyingAssetCode).as("buying_asset_code"),
      when(ty.isin(3, 4, 12) && nonNative(in.buyingAssetType),
        in.buyingAssetIssuer).as("buying_asset_issuer"),
      when(ty.isin(3, 4, 12), in.buyingAssetId).as("buying_asset_id"),
      when(ty.isin(3, 4, 12), in.sellingAssetType).as("selling_asset_type"),
      when(ty.isin(3, 4, 12) && nonNative(in.sellingAssetType),
        in.sellingAssetCode).as("selling_asset_code"),
      when(ty.isin(3, 4, 12) && nonNative(in.sellingAssetType),
        in.sellingAssetIssuer).as("selling_asset_issuer"),
      when(ty.isin(3, 4, 12), in.sellingAssetId).as("selling_asset_id"),
      // ---- set_options (5)
      when(ty === 5, in.inflationDestAddr).as("inflation_dest"),
      when(ty === 5 && in.setFlags.isNotNull, setFlagsI).as("set_flags"),
      when(ty === 5 && in.setFlags.isNotNull, setFlagsS).as("set_flags_s"),
      when(ty === 5 && in.clearFlags.isNotNull, clearFlagsI)
        .as("clear_flags"),
      when(ty === 5 && in.clearFlags.isNotNull, clearFlagsS)
        .as("clear_flags_s"),
      when(ty === 5, in.masterWeight).as("master_key_weight"),
      when(ty === 5, in.lowThreshold).as("low_threshold"),
      when(ty === 5, in.medThreshold).as("med_threshold"),
      when(ty === 5, in.highThreshold).as("high_threshold"),
      when(ty === 5, in.homeDomain).as("home_domain"),
      when(ty === 5, in.signerAddr)
        .when(ty === 18, in.revokeSignerAddr)
        .as("signer_key"),
      when(ty === 5, in.signerWeight).as("signer_weight"),
      // ---- trust lines (6 change_trust / 7 allow_trust / 21 set_tl_flags)
      // liquidity_pool_id is SHARED across the pool-touching families the
      // reference emits it for: change_trust pool lines
      // (addLiquidityPoolAssetDetails), LP deposit/withdraw, LP-key revokes
      when(ty === 6, in.trustPoolIdHex)
        .when(ty.isin(22, 23), in.lpPoolIdHex)
        .when(ty === 18, in.revokeLpIdHex).as("liquidity_pool_id"),
      when(ty === 6, stroopsToXlm(in.trustLimitStroops)).as("limit"),
      when(ty === 6, in.trustAssetIssuer)
        .when(ty === 7, sourceAddr).as("trustee"),
      when(ty === 6, sourceAddr)
        .when(ty.isin(7, 21), in.trustorAddr).as("trustor"),
      // change_trust's trustor is the (muxed-able) acting source
      when(ty === 6, in.fromMuxed).as("trustor_muxed"),
      when(ty === 6, in.fromMuxedId).as("trustor_muxed_id"),
      when(ty === 7, in.authorizeFlags.bitwiseAND(1) =!= 0).as("authorize"),
      when(ty === 7 && in.authorizeFlags.bitwiseAND(2) =!= 0, lit(true))
        .as("authorize_to_maintain_liabilities"),
      when(ty === 7 && in.authorizeFlags.bitwiseAND(4) =!= 0, lit(true))
        .as("clawback_enabled"),
      when(ty === 21 && in.tlSetFlags.isNotNull, tlSetI).as("tl_set_flags"),
      when(ty === 21 && in.tlSetFlags.isNotNull, tlSetS)
        .as("tl_set_flags_s"),
      when(ty === 21 && in.tlClearFlags.isNotNull, tlClearI)
        .as("tl_clear_flags"),
      when(ty === 21 && in.tlClearFlags.isNotNull, tlClearS)
        .as("tl_clear_flags_s"),
      // ---- account_merge (8)
      when(ty === 8, destAddr).as("into"),
      // ---- manage_data (10) / bump_sequence (11)
      when(ty === 10, in.dataName).as("name"),
      when(ty === 10, in.dataValueB64).as("value"),
      when(ty === 11, in.bumpTo.cast("string")).as("bump_to"),
      // ---- claimable balances (14 create / 15 claim / 20 clawback)
      when(ty === 14, in.cbAssetCanon)
        .when(ty === 24, in.preimageAssetCanon).as("asset"),
      when(ty === 14, in.claimants).as("claimants"),
      when(ty.isin(15, 20), in.balanceIdHex).as("balance_id"),
      when(ty.isin(15, 20), in.balanceIdStrkey).as("balance_id_strkey"),
      when(ty === 15, sourceAddr).as("claimant"),
      // ---- sponsorship (16 begin / 17 end / 18 revoke)
      when(ty === 16, in.sponsoredIdAddr).as("sponsored_id"),
      when(ty === 17 && successful, in.beginSponsorAddr).as("begin_sponsor"),
      when(ty === 18, in.revokeSignerAccountAddr).as("signer_account_id"),
      // ledger-key revokes, one family per op (`addLedgerKeyToDetails`):
      // the account arm alone carries `account_id`; trustline/data arms
      // carry their prefixed key payloads; offer merges into `offer_id`
      // above; CB/LP arms get the dedicated id pairs
      when(ty === 18, in.revokeAccountIdAddr).as("account_id"),
      when(ty === 18, in.revokeTrustlineAccountAddr)
        .as("trustline_account_id"),
      when(ty === 18, in.revokeTrustlineAssetCanon).as("trustline_asset"),
      when(ty === 18, in.revokeTrustlinePoolIdHex)
        .as("trustline_liquidity_pool_id"),
      when(ty === 18, in.revokeTrustlinePoolIdStrkey)
        .as("trustline_liquidity_pool_id_strkey"),
      when(ty === 18, in.revokeDataAccountAddr).as("data_account_id"),
      when(ty === 18, in.revokeDataName).as("data_name"),
      when(ty === 18, in.revokeCbIdHex).as("claimable_balance_id"),
      when(ty === 18, in.revokeCbIdStrkey).as("claimable_balance_id_strkey"),
      // ---- liquidity pools (22 deposit / 23 withdraw)
      when(ty === 6, in.trustPoolIdStrkey)
        .when(ty.isin(22, 23), in.lpPoolIdStrkey)
        .when(ty === 18, in.revokeLpIdStrkey)
        .as("liquidity_pool_id_strkey"),
      when(ty.isin(22, 23) && successful, in.reserveAAssetType)
        .as("reserve_a_asset_type"),
      when(ty.isin(22, 23) && successful && nonNative(in.reserveAAssetType),
        in.reserveAAssetCode).as("reserve_a_asset_code"),
      when(ty.isin(22, 23) && successful && nonNative(in.reserveAAssetType),
        in.reserveAAssetIssuer).as("reserve_a_asset_issuer"),
      when(ty.isin(22, 23) && successful, in.reserveAAssetId)
        .as("reserve_a_asset_id"),
      when(ty.isin(22, 23) && successful, in.reserveBAssetType)
        .as("reserve_b_asset_type"),
      when(ty.isin(22, 23) && successful && nonNative(in.reserveBAssetType),
        in.reserveBAssetCode).as("reserve_b_asset_code"),
      when(ty.isin(22, 23) && successful && nonNative(in.reserveBAssetType),
        in.reserveBAssetIssuer).as("reserve_b_asset_issuer"),
      when(ty.isin(22, 23) && successful, in.reserveBAssetId)
        .as("reserve_b_asset_id"),
      when(ty === 22, stroopsToXlm(in.maxAmountA)).as("reserve_a_max_amount"),
      when(ty === 22, stroopsToXlm(in.maxAmountB)).as("reserve_b_max_amount"),
      when(ty === 22, stroopsToXlm(in.deltaReserveA))
        .as("reserve_a_deposit_amount"),
      when(ty === 22, stroopsToXlm(in.deltaReserveB))
        .as("reserve_b_deposit_amount"),
      when(ty === 22, pricePoint7(in.minPriceN, in.minPriceD)).as("min_price"),
      when(ty === 22, org.apache.spark.sql.functions.struct(
        in.minPriceN.as("n"), in.minPriceD.as("d"))).as("min_price_r"),
      when(ty === 22, pricePoint7(in.maxPriceN, in.maxPriceD)).as("max_price"),
      when(ty === 22, org.apache.spark.sql.functions.struct(
        in.maxPriceN.as("n"), in.maxPriceD.as("d"))).as("max_price_r"),
      when(ty === 22, stroopsToXlm(in.deltaShares)).as("shares_received"),
      when(ty === 23, stroopsToXlm(in.minAmountA)).as("reserve_a_min_amount"),
      when(ty === 23, stroopsToXlm(in.minAmountB)).as("reserve_b_min_amount"),
      when(ty === 23, stroopsToXlm(-in.deltaReserveA))
        .as("reserve_a_withdraw_amount"),
      when(ty === 23, stroopsToXlm(-in.deltaReserveB))
        .as("reserve_b_withdraw_amount"),
      when(ty === 23, stroopsToXlm(in.lpSharesStroops)).as("shares"),
      // ---- soroban (24 invoke / 25 extend_ttl / 26 restore)
      when(ty === 24, concat(lit("HostFunctionTypeHostFunctionType"),
          element_at(typedLit(Map("invoke_contract" -> "InvokeContract",
            "create_contract" -> "CreateContract",
            "upload_wasm" -> "UploadContractWasm",
            "create_contract_v2" -> "CreateContractV2")),
            in.hostFnTypeName)))
        .as("function"),
      when(ty === 24, in.hostFnTypeName)
        .when(ty === 25, lit("extend_footprint_ttl"))
        .when(ty === 26, lit("restore_footprint")).as("type"),
      when(ty.isin(24, 25, 26), in.sorobanContractAddr).as("contract_id"),
      // footprint-derived hashes (`ledgerKeyHashFromTxEnvelope` /
      // `contractCodeHashFromTxEnvelope`, operation.go:1841-1874; emitted
      // for all three soroban op types, operation.go:1083-1163)
      when(ty.isin(24, 25, 26), in.ledgerKeyHashArr).as("ledger_key_hash"),
      when(ty.isin(24, 25, 26), in.contractCodeHash).as("contract_code_hash"),
      when(ty === 24, in.parametersB64).as("parameters"),
      when(ty === 24, in.parametersJson).as("parameters_decoded"),
      // SAC balance changes from the op's contract events
      // (`parseAssetBalanceChangesFromContractEvents`, operation.go:1942-1998)
      when(ty === 24, in.assetBalanceChanges).as("asset_balance_changes"),
      when(ty === 25, in.extendTo).as("extend_to"),
      // create-contract id preimage payload (`switchContractIdPreimageType`,
      // operation.go:2275-2295)
      when(ty === 24, in.preimageAddress).as("address"),
      // appended for ANY op whose changes show a created entry/signer with
      // a sponsor (`details["sponsor"]`, operation.go:1164-1170)
      in.sponsorAddr.as("sponsor"))
  }

  /** The `details_json` rendering: the computed
    * `details` column ([[struct]]) with null keys dropped, as a VARIANT so
    * it lands as a raw JSON object. Like the reference (`operation.go:97`
    * assigns one map to both fields) it renders the struct the row already
    * carries; building the case law a second time would double every plan
    * that emits both columns.
    *
    * One mixed-type quirk the typed struct cannot carry: a FAILED
    * strict-receive path payment's `source_amount` is the STRING
    * `"0.0000000"` (`operation.go:632` seeds `amount.String(0)` and only
    * the success arm overwrites it with a float) — real goldens show the
    * string on every failed pp op. The struct keeps the typed double 0;
    * the JSON rendering patches that one token to the reference's exact
    * shape, keyed on the op type `ty` and the tx's `successful` flag. */
  def json(details: Column, ty: Column, successful: Column): Column = {
    val base = to_json(details, Map("ignoreNullFields" -> "true"))
    parse_json(
      when(ty === 2 && !successful,
        regexp_replace(base, "\"source_amount\":0\\.0([,}])",
          "\"source_amount\":\"0.0000000\"$1"))
        .otherwise(base))
  }

  /** `ops` with `details_json` ([[json]] of its `details` column) projected
    * right after `details`, reading the op type from `type` and the tx
    * outcome from the `successful` column. The rendering sits in its own
    * projection over the one that computes `details`: that projection
    * reads `details` twice, so `CollapseProject` leaves the two apart and
    * the plan carries the case law once. */
  def withJson(ops: DataFrame, successful: String): DataFrame =
    ops.select(ops.columns.toSeq.flatMap {
      case "details" => Seq(col("details"),
        json(col("details"), col("type"), col(successful)).as("details_json"))
      case c => Seq(col(c))
    }: _*)
}
