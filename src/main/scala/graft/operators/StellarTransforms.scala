package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.model.LedgerModel.LedgerRow

/** The real history-table transforms over the decoded ledger model
  * (`Dataset[LedgerRow]`) — P1/P2/P3 with the reference's exact output
  * columns (`transform/{ledger,transaction,operation}.go`). Everything is
  * column algebra over the nested structs: counts are intra-row higher-order
  * functions, ids are bit expressions, address rendering is the native strkey
  * expression; the only explode is the grain change itself. */
object StellarTransforms {

  /** Go's `xdr.MemoType.String()` names (`transaction.go:74-89`). */
  private val memoTypeName = typedLit(Map(
    "none" -> "MemoTypeMemoNone", "text" -> "MemoTypeMemoText",
    "id" -> "MemoTypeMemoId", "hash" -> "MemoTypeMemoHash",
    "return" -> "MemoTypeMemoReturn"))

  /** The 26-way operation type map (`operation.go:103-166`). */
  val operationTypeNames: Map[Int, String] = Map(
    0 -> "create_account", 1 -> "payment", 2 -> "path_payment_strict_receive",
    3 -> "manage_sell_offer", 4 -> "create_passive_sell_offer",
    5 -> "set_options", 6 -> "change_trust", 7 -> "allow_trust",
    8 -> "account_merge", 9 -> "inflation", 10 -> "manage_data",
    11 -> "bump_sequence", 12 -> "manage_buy_offer",
    13 -> "path_payment_strict_send", 14 -> "create_claimable_balance",
    15 -> "claim_claimable_balance", 16 -> "begin_sponsoring_future_reserves",
    17 -> "end_sponsoring_future_reserves", 18 -> "revoke_sponsorship",
    19 -> "clawback", 20 -> "clawback_claimable_balance",
    21 -> "set_trust_line_flags", 22 -> "liquidity_pool_deposit",
    23 -> "liquidity_pool_withdraw", 24 -> "invoke_host_function",
    25 -> "extend_footprint_ttl", 26 -> "restore_footprint")
  private val opTypeNameCol = typedLit(operationTypeNames)

  /** P1 — `history_ledgers` with the reference's exact columns. */
  def historyLedgers(ledgers: Dataset[LedgerRow]): DataFrame =
    ledgers.select(
      col("sequence"),
      lower(hex(col("ledger_hash"))).as("ledger_hash"),
      lower(hex(col("previous_ledger_hash"))).as("previous_ledger_hash"),
      col("header_b64").as("ledger_header"),
      // successful only: txCount - failedTxCount (`ledger.go:149`; golden
      // single_ledger has transaction_count 46 with 11 failed)
      size(filter(col("transactions"), t => t("successful")))
        .as("transaction_count"),
      aggregate(filter(col("transactions"), t => t("successful")),
        lit(0), (acc, t) => acc + size(t("operations"))).as("operation_count"),
      size(filter(col("transactions"), t => t("successful")))
        .as("successful_transaction_count"),
      size(filter(col("transactions"), t => !t("successful")))
        .as("failed_transaction_count"),
      aggregate(col("transactions"), lit(0), (acc, t) => acc + size(t("operations")))
        .cast("string").as("tx_set_operation_count"),
      col("closed_at"),
      col("total_coins"), col("fee_pool"), col("base_fee"), col("base_reserve"),
      col("max_tx_set_size"), col("protocol_version"),
      ledgerToid(col("sequence")).as("id"),
      col("soroban_fee_write_1kb"),
      // unsigned SCP values render as "" not null (Go zero-value strings,
      // no omitempty — golden ledgers rows carry node_id:"", signature:"")
      coalesce(strkeyAccount(col("node_id_key")), lit("")).as("node_id"),
      coalesce(base64NoWrap(col("signature")), lit("")).as("signature"),
      col("bucket_list_size").as("total_byte_size_of_bucket_list"))

  /** P1 straight off the LCM wire source (`graft-lcm` DSv2): the
    * `history_ledgers` columns derivable from the frame alone — tx/op
    * counts from the nested array, the LedgerHeader subset from the v0/v1
    * ledger arms (`transform/ledger.go:41-70`). Columns the wire subset
    * does not carry (self hash, header base64, SCP node id/signature) are
    * omitted rather than faked. Operation counts sum the per-tx op arrays
    * intra-row — `operation_count` over successful envelopes only,
    * `tx_set_operation_count` over all, the reference's two laws
    * (`transform/ledger.go:29-39`). Legacy header-less frames surface
    * nulls in the header columns. */
  def historyLedgersFromLcm(lcm: DataFrame): DataFrame =
    lcm.select(
      col("sequence"),
      col("prev_ledger_hash_hex").as("previous_ledger_hash"),
      ledgerToid(col("sequence")).as("id"),
      // same successful-only law as the model path (`ledger.go:149`)
      size(filter(col("transactions"), t => t("successful")))
        .as("transaction_count"),
      size(filter(col("transactions"), t => t("successful")))
        .as("successful_transaction_count"),
      size(filter(col("transactions"), t => !t("successful")))
        .as("failed_transaction_count"),
      aggregate(filter(col("transactions"), t => t("successful")),
        lit(0), (acc, t) => acc + size(t("operations")))
        .as("operation_count"),
      aggregate(col("transactions"), lit(0),
        (acc, t) => acc + size(t("operations")))
        .cast("string").as("tx_set_operation_count"),
      col("total_coins"), col("fee_pool"), col("base_fee"),
      col("base_reserve"), col("max_tx_set_size"), col("protocol_version"),
      col("soroban_fee_write1000").as("soroban_fee_write_1kb"),
      col("bucket_list_size_bytes").as("total_byte_size_of_bucket_list"))

  /** P2 straight off the LCM wire source (`graft-lcm` DSv2): the
    * `history_transactions` columns derivable from the decoded
    * Stellar-transaction.x union arms alone — TOID ids, memo demux to the
    * Go type names with the coalesce rendering law, the time/ledger bounds
    * interval strings (MaxTime==0 blanked, `transaction.go`), the
    * PreconditionsV2 lattice (min seq num/age/gap + extraSigners rendered
    * as a JSON hex-key list), the fee-bump shell, and the Soroban fee
    * triple, and the source-account strkey pair (G-address always,
    * M-address on the muxed arm). Columns the wire subset does not carry
    * (tx hash, envelope/result/meta base64, signers, max_fee) are omitted
    * rather than faked — same contract as [[historyLedgersFromLcm]]. The
    * reference's pipeline feeds every history table from exactly this
    * substrate (`internal/input/transactions.go:23-71`). Sequence-range
    * predicates push down to `.lcmb` file pruning through the explode
    * (ExplainAudit-asserted). */
  def historyTransactionsFromLcm(lcm: DataFrame): DataFrame = {
    val exploded = lcm.select(
      col("sequence"), col("closed_at"),
      posexplode(col("transactions")).as(Seq("pos", "tx")))
    def bounds(minC: String, maxC: String, blankZeroMax: Boolean): Column =
      when(col(minC).isNull && col(maxC).isNull, lit(""))
        .otherwise(GraftFunctions.intervalString(
          col(minC),
          if (blankZeroMax)
            when(col(maxC) === 0L, lit(null).cast("long")).otherwise(col(maxC))
          else col(maxC)))
    exploded.select(
      transactionToid(col("sequence"), col("pos") + 1).as("id"),
      col("sequence").as("ledger_sequence"),
      (col("pos") + 1).cast("int").as("application_order"),
      col("closed_at").as("created_at"),
      col("tx.fee_charged").as("fee_charged"),
      col("tx.successful").as("successful"),
      col("tx.result_code").as("transaction_result_code"),
      // the envelope source account rendered to the reference's strkey
      // shape (`transaction.go:61-77`, `utils/main.go:49-53`): `account`
      // is always the G-address of the underlying ed25519 key,
      // `account_muxed` the M-address only on the muxed arm. Native
      // codegen'd expressions, so the rendering stays in-stage.
      GraftFunctions.strkeyAccount(unhex(col("tx.source_account_hex")))
        .as("account"),
      GraftFunctions.strkeyMuxed(unhex(col("tx.source_account_hex")),
        col("tx.source_muxed_id")).as("account_muxed"),
      col("tx.source_muxed_id").as("account_muxed_id"),
      element_at(memoTypeName, col("tx.memo_type")).as("memo_type"),
      coalesce(
        col("tx.memo_text"),
        col("tx.memo_id").cast("string"),
        base64NoWrap(unhex(col("tx.memo_hash_hex"))),
        lit("")).as("memo"),
      bounds("tx.time_bound_min", "tx.time_bound_max", blankZeroMax = true)
        .as("time_bounds"),
      bounds("tx.ledger_bound_min", "tx.ledger_bound_max",
        blankZeroMax = false).as("ledger_bounds"),
      col("tx.min_seq_num").as("min_account_sequence"),
      col("tx.min_seq_age").as("min_account_sequence_age"),
      col("tx.min_seq_ledger_gap").as("min_account_sequence_ledger_gap"),
      to_json(col("tx.extra_signer_keys_hex")).as("extra_signers"),
      col("tx.fee_bump_fee").isNotNull.as("is_fee_bump"),
      col("tx.fee_bump_fee").as("new_max_fee"),
      // fee-bump outer source as its G-address (`transaction.go` fee
      // account rendering; null-intolerant → null when no fee-bump shell)
      GraftFunctions.strkeyAccount(unhex(col("tx.fee_bump_source_hex")))
        .as("fee_account"),
      coalesce(col("tx.soroban_fee_nonrefundable"), lit(0L))
        .as("non_refundable_resource_fee_charged"),
      coalesce(col("tx.soroban_fee_refundable"), lit(0L))
        .as("refundable_resource_fee_charged"),
      coalesce(col("tx.soroban_fee_rent"), lit(0L)).as("rent_fee_charged"))
  }

  /** P3 straight off the LCM wire source: the `history_operations` grain
    * composed on `graft-lcm` — one row per `(tx, op-index)` of the FULL
    * operation array (the reference's op grain,
    * `internal/input/operations.go:58-65`), operation TOIDs carrying the
    * real op index (op-index+1, `operation.go:32`; TOID reserves 12 bits
    * for it, `toid/main.go:37-47`), `application_order` = op position + 1,
    * the 27-way type-name map, and the typed detail columns the wire
    * union carries (destinations, path-payment bounds and result-carried
    * actuals, offer rationals with the float64 price the reference
    * renders, trust limits, data entries, bump targets). Two stacked
    * posexplodes keep the transform map-only; zero-op transactions
    * contribute no operation rows — the same exclusion the reference's
    * op loop makes. Detail columns for types outside the typed union
    * surface as null, exactly the sparse-slice shape of the full P3
    * wide struct. */
  def historyOperationsFromLcm(lcm: DataFrame,
      withDetails: Boolean = true): DataFrame = {
    // `withDetails = false` plans WITHOUT the shared details struct/JSON
    // (a dropped column would still be computed — CollapseProject declines
    // on the duplicated non-trivial struct); the gated catalog queries and
    // asset-mention reuse opt out at plan-build time
    // SAC `asset_balance_changes`
    // (`parseAssetBalanceChangesFromContractEvents`,
    // `operation.go:1942-1999`): the op's own contract events whose
    // leading topic is a transfer-family symbol render as a JSON array of
    // {type, amount, to, contract} — the amount/to extraction follows the
    // SAC event data layout (amount leads the map). Intra-row: the event
    // vector rides the same tx row, so no join.
    def dataJson(e: Column): Column = GraftFunctions.scvalJson(e("data_xdr"))
    val sacEvs = filter(col("tx.contract_events"), e =>
      e("op_index") === col("op_pos") &&
        get_json_object(
          GraftFunctions.scvalJson(element_at(e("topics_xdr"), 1)),
          "$.symbol").isin("transfer", "mint", "burn", "clawback"))
    // i128 amounts ride as xdrjson {hi,lo} parts; the reference's
    // asset_balance_changes amount is the combined decimal string
    // (amount.String128Raw) — hi signed · 2^64 + lo unsigned, exact in
    // decimal(38,0) for every amount below 10^38
    def i128Dec(j: Column, path: String): Column =
      (get_json_object(j, s"$path.hi").cast("decimal(38,0)") *
        lit(java.math.BigDecimal.valueOf(2).pow(64)) +
        get_json_object(j, s"$path.lo").cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string")
    val sacBalanceChanges =
      when(col("op.op_type") === 24 && size(sacEvs) > 0,
        concat(lit("["), array_join(transform(sacEvs, e => concat(
          lit("{\"type\":\""),
          get_json_object(
            GraftFunctions.scvalJson(element_at(e("topics_xdr"), 1)),
            "$.symbol"),
          lit("\",\"amount\":\""),
          i128Dec(dataJson(e), "$.map[0].val.i128"),
          lit("\",\"to\":\""),
          get_json_object(dataJson(e), "$.map[1].val.u64"),
          lit("\",\"contract\":\""),
          GraftFunctions.strkeyContract(unhex(e("contract_id_hex"))),
          lit("\"}"))), ","), lit("]")))
    // the shared details renderer, bound to the wire columns: keys the
    // wire cannot determine (asset issuers/types, paths, footprints,
    // predicates) stay null and drop from the JSON — the output is the
    // wire-determined key subset of the model path's details, with
    // identical key names and value laws (one renderer, no drift)
    val wTy = col("op.op_type")
    val actingHex = coalesce(col("op.op_source_hex"),
      col("tx.source_account_hex"))
    val wBeginOps = filter(
      zip_with(col("tx.operations"),
        sequence(lit(0), size(col("tx.operations")) - 1),
        (o, i) => struct(o.as("op"), i.as("i"))),
      x => x("i") < col("op_pos") && x("op")("op_type") === 16 &&
        x("op")("op_sponsored_id_hex") === actingHex)
    val wBeginOp = get(wBeginOps, size(wBeginOps) - 1)("op")
    val wLpChs = filter(col("tx.changes"), c =>
      c("op_index") === col("op_pos") && c("entry_type") === 5)
    val wLpCh = when(size(wLpChs) > 0, element_at(wLpChs, 1))
    def wLpDelta(pre: String, post: String): Column =
      when(col("tx.successful") && wLpCh.isNotNull,
        wLpCh(post) - wLpCh(pre)).otherwise(lit(0L))
    val wParams = col("op.op_host_fn_params_xdr")
    val wireDetailInputs = OperationDetails.DetailInputs(
      ty = wTy,
      successful = col("tx.successful"),
      sourceAddr = GraftFunctions.strkeyAccount(unhex(actingHex)),
      destAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_destination_hex"))),
      fromMuxed = when(col("op.op_source_hex").isNull &&
          col("tx.source_muxed_id").isNotNull,
        GraftFunctions.strkeyMuxed(unhex(col("tx.source_account_hex")),
          col("tx.source_muxed_id"))),
      fromMuxedId = when(col("op.op_source_hex").isNull,
        col("tx.source_muxed_id")),
      startingBalanceStroops = col("op.amount"),
      amountStroops = when(wTy === 13, col("op.op_result_amount"))
        .otherwise(col("op.amount")),
      cbAmountStroops = col("op.amount"),
      sourceAmountStroops = when(wTy === 2, col("op.op_result_amount"))
        .otherwise(col("op.amount")),
      sourceMaxStroops = col("op.op_send_max"),
      destMinStroops = col("op.op_dest_min"),
      assetCode = when(wTy.isin(2, 13), col("op.op_dest_asset_code"))
        .otherwise(col("op.op_asset_code")),
      trustAssetCode = col("op.op_asset_code"),
      trustLimitStroops = col("op.op_limit"),
      sourceAssetCode = col("op.op_send_asset_code"),
      offerId = col("op.op_offer_id"),
      priceN = col("op.op_price_n"),
      priceD = col("op.op_price_d"),
      buyingAssetCode = col("op.op_buying_code"),
      sellingAssetCode = col("op.op_selling_code"),
      inflationDestAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_inflation_dest_hex"))),
      setFlags = col("op.op_set_flags"),
      clearFlags = col("op.op_clear_flags"),
      masterWeight = col("op.op_master_weight"),
      lowThreshold = col("op.op_low_threshold"),
      medThreshold = col("op.op_med_threshold"),
      highThreshold = col("op.op_high_threshold"),
      homeDomain = col("op.op_home_domain"),
      signerAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_signer_key_hex"))),
      revokeSignerAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_signer_key_hex"))),
      signerWeight = col("op.op_signer_weight"),
      authorizeFlags = col("op.op_authorize"),
      tlSetFlags = col("op.op_set_flags"),
      tlClearFlags = col("op.op_clear_flags"),
      trustorAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_trustor_hex"))),
      dataName = col("op.op_data_name"),
      dataValueB64 = when(col("op.op_data_value_hex").isNotNull,
        GraftFunctions.base64NoWrap(unhex(col("op.op_data_value_hex")))),
      bumpTo = col("op.op_bump_to"),
      cbAssetCanon = when(wTy === 14, col("op.op_asset_code")),
      claimants = transform(col("op.op_claimants_hex"), c => struct(
        GraftFunctions.strkeyAccount(unhex(c)).as("destination"),
        lit(null).cast("string").as("predicate"))),
      balanceIdHex = when(col("op.op_balance_id_hex").isNotNull,
        concat(lit("00000000"), col("op.op_balance_id_hex"))),
      balanceIdStrkey = when(col("op.op_balance_id_hex").isNotNull,
        GraftFunctions.strkeyBalance(unhex(col("op.op_balance_id_hex")))),
      sponsoredIdAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_sponsored_id_hex"))),
      beginSponsorAddr = when(wBeginOp.isNotNull,
        GraftFunctions.strkeyAccount(unhex(
          coalesce(wBeginOp("op_source_hex"),
            col("tx.source_account_hex"))))),
      revokeSignerAccountAddr = GraftFunctions.strkeyAccount(
        unhex(col("op.op_signer_account_hex"))),
      // the wire twin of the `sponsor` law over the tx-grain change rows
      sponsorAddr = {
        val cands = transform(
          filter(col("tx.changes"), c => c("op_index") === col("op_pos")),
          c => {
            val postSigner = get(filter(c("post_signer_sponsors"), s =>
              s("signer_hex") <=> col("op.op_signer_key_hex")),
              lit(0))("sponsor_hex")
            val preSigner = get(filter(c("pre_signer_sponsors"), s =>
              s("signer_hex") <=> col("op.op_signer_key_hex")),
              lit(0))("sponsor_hex")
            coalesce(
              when(col("op.op_signer_key_hex").isNotNull &&
                postSigner.isNotNull && !(preSigner <=> postSigner),
                postSigner),
              when(c("pre_sponsor_hex").isNull, c("post_sponsor_hex")))
          })
        val k = get(filter(cands, x => x.isNotNull), lit(0))
        when(k.isNotNull, GraftFunctions.strkeyAccount(unhex(k)))
      },
      lpPoolIdHex = col("op.op_pool_id_hex"),
      lpPoolIdStrkey = GraftFunctions.strkeyPool(
        unhex(col("op.op_pool_id_hex"))),
      maxAmountA = col("op.op_max_amount_a"),
      maxAmountB = col("op.op_max_amount_b"),
      deltaReserveA = wLpDelta("pre_reserve_a", "post_reserve_a"),
      deltaReserveB = wLpDelta("pre_reserve_b", "post_reserve_b"),
      deltaShares = wLpDelta("pre_shares", "post_shares"),
      minPriceN = col("op.op_min_price_n"),
      minPriceD = col("op.op_min_price_d"),
      maxPriceN = col("op.op_max_price_n"),
      maxPriceD = col("op.op_max_price_d"),
      minAmountA = col("op.op_min_amount_a"),
      minAmountB = col("op.op_min_amount_b"),
      lpSharesStroops = col("op.amount"),
      hostFnTypeName = element_at(typedLit(Map(
        0 -> "invoke_contract", 1 -> "create_contract",
        2 -> "upload_wasm", 3 -> "create_contract_v2")),
        col("op.op_host_fn_type")),
      sorobanContractAddr = GraftFunctions.strkeyContract(
        unhex(col("op.op_contract_id_hex"))),
      parametersB64 = when(wParams.isNotNull,
        transform(wParams, p => GraftFunctions.base64NoWrap(p))),
      parametersJson = when(wParams.isNotNull,
        transform(wParams, p => GraftFunctions.scvalJson(p))),
      extendTo = col("op.op_extend_to"))
    // the SHARED details contract (one renderer with the model path):
    // wide struct + its null-dropped JSON, wire-determined keys only
    val detailCols =
      if (!withDetails) Seq.empty[Column]
      else Seq(OperationDetails.struct(wireDetailInputs).as("details"))
    val ops = lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .select(col("sequence"), col("pos"), col("tx"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
      .select(Seq(
        operationToid(col("sequence"), col("pos") + 1, col("op_pos"))
          .as("id"),
        transactionToid(col("sequence"), col("pos") + 1).as("transaction_id"),
        col("sequence").as("ledger_sequence"),
        (col("op_pos") + 1).cast("int").as("application_order"),
        col("op.op_type").as("type"),
        element_at(opTypeNameCol, col("op.op_type")).as("type_string"),
        // acting source: the op's own source account when set, else the
        // envelope source (`operation.go` sourceAccount law)
        GraftFunctions.strkeyAccount(unhex(
          coalesce(col("op.op_source_hex"), col("tx.source_account_hex"))))
          .as("source_account"),
        col("tx.successful").as("transaction_successful"),
        col("op.amount").as("amount"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_destination_hex")))
          .as("destination"),
        col("op.op_asset_code").as("asset_code"),
        col("op.op_send_asset_code").as("send_asset_code"),
        col("op.op_dest_asset_code").as("dest_asset_code"),
        col("op.op_send_max").as("source_max"),
        col("op.op_dest_min").as("destination_min"),
        col("op.op_result_amount").as("result_amount"),
        col("op.op_offer_id").as("offer_id"),
        col("op.op_selling_code").as("selling_asset_code"),
        col("op.op_buying_code").as("buying_asset_code"),
        col("op.op_price_n").as("price_n"),
        col("op.op_price_d").as("price_d"),
        when(col("op.op_price_n").isNotNull,
          GraftFunctions.pricePoint7(col("op.op_price_n"), col("op.op_price_d")))
          .as("price"),
        col("op.op_limit").as("trust_limit"),
        col("op.op_data_name").as("data_name"),
        col("op.op_data_value_hex").as("data_value_hex"),
        col("op.op_bump_to").as("bump_to"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_inflation_dest_hex")))
          .as("inflation_dest"),
        col("op.op_clear_flags").as("clear_flags"),
        col("op.op_set_flags").as("set_flags"),
        col("op.op_master_weight").as("master_key_weight"),
        col("op.op_low_threshold").as("low_threshold"),
        col("op.op_med_threshold").as("med_threshold"),
        col("op.op_high_threshold").as("high_threshold"),
        col("op.op_home_domain").as("home_domain"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_signer_key_hex")))
          .as("signer_key"),
        col("op.op_signer_weight").as("signer_weight"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_trustor_hex")))
          .as("trustor"),
        col("op.op_authorize").as("authorize"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_from_hex")))
          .as("from_account"),
        // the round-9 arm growth: claimable balances (claimants rendered
        // to_json — the p15 array-gate pattern), sponsorship begin/revoke,
        // liquidity pools, and the soroban host arms
        to_json(transform(col("op.op_claimants_hex"),
          c => GraftFunctions.strkeyAccount(unhex(c)))).as("claimants_json"),
        col("op.op_balance_id_hex").as("balance_id_hex"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_sponsored_id_hex")))
          .as("sponsored_id"),
        col("op.op_revoke_type").as("revoke_type"),
        col("op.op_ledger_entry_type").as("ledger_entry_type"),
        col("op.op_ledger_key_hex").as("ledger_key_hex"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_signer_account_hex")))
          .as("signer_account"),
        col("op.op_pool_id_hex").as("pool_id_hex"),
        GraftFunctions.strkeyPool(unhex(col("op.op_pool_id_hex")))
          .as("liquidity_pool_id_strkey"),
        col("op.op_max_amount_a").as("max_amount_a"),
        col("op.op_max_amount_b").as("max_amount_b"),
        col("op.op_min_amount_a").as("min_amount_a"),
        col("op.op_min_amount_b").as("min_amount_b"),
        col("op.op_min_price_n").as("min_price_n"),
        col("op.op_min_price_d").as("min_price_d"),
        col("op.op_max_price_n").as("max_price_n"),
        col("op.op_max_price_d").as("max_price_d"),
        col("op.op_host_fn_type").as("host_fn_type"),
        GraftFunctions.strkeyContract(unhex(col("op.op_contract_id_hex")))
          .as("contract_id"),
        // invoke-host-function parameter serialization
        // (`serializeParameters`, `operation.go:584-660`): the raw ScVal
        // argument vector both as base64 XDR and decoded JSON, in-plan
        // via the codegen'd codec expressions
        when(col("op.op_host_fn_params_xdr").isNotNull,
          to_json(transform(col("op.op_host_fn_params_xdr"),
            p => GraftFunctions.base64NoWrap(p)))).as("parameters"),
        when(col("op.op_host_fn_params_xdr").isNotNull,
          concat(lit("["),
            array_join(transform(col("op.op_host_fn_params_xdr"),
              p => GraftFunctions.scvalJson(p)), ","),
            lit("]"))).as("parameters_decoded"),
        sacBalanceChanges.as("asset_balance_changes"),
        col("op.op_extend_to").as("extend_to")) ++ detailCols: _*)
    if (withDetails) OperationDetails.withJson(ops, "transaction_successful")
    else ops
  }

  /** P6/A2 composed over the wire source: every asset mentioned by a
    * typed asset-bearing `Operation.body` arm (payment/trust/clawback
    * codes, path-payment send+dest pairs, the offer selling+buying pairs),
    * deduped to its first-seen operation TOID — the same
    * keep-lowest-order law as the fixture-path P6
    * (`internal/input/assets.go:42`, `cmd/export_assets.go:39-58`).
    * Stack-the-columns + explode keeps the mention extraction map-only;
    * the dedup is one min_by hash aggregate (map-side combinable). */
  def historyAssetsFromLcm(lcm: DataFrame): DataFrame = {
    val mentions = historyOperationsFromLcm(lcm, withDetails = false)
      .select(col("id"),
        explode(array(
          col("asset_code"), col("send_asset_code"),
          col("dest_asset_code"), col("selling_asset_code"),
          col("buying_asset_code"))).as("asset_code"))
      .where(col("asset_code").isNotNull)
      .select(col("asset_code"), col("id"))
    HistoryOps.dedupFirstSeen(mentions, idCol = "asset_code",
        orderCol = "id")
      .withColumnRenamed("id", "first_seen_id")
  }

  /** P19-shaped transfer events composed over the wire source: the
    * payment family (CREATE_ACCOUNT starting balances, PAYMENT, both
    * path-payment arms) of successful transactions, from the envelope
    * source account to the op destination. The delivered amount follows
    * the reference's law: strict-send delivers the RESULT amount, the
    * others the envelope amount (`token_transfer` payment events;
    * strict-receive fixes destAmount so the envelope amount IS the
    * delivery). A null asset_code is native XLM. Map-only. */
  def tokenTransfersFromLcm(lcm: DataFrame): DataFrame =
    lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .where(col("tx.successful"))
      .select(col("sequence"), col("pos"),
        col("tx.source_account_hex").as("tx_src"),
        col("tx.source_muxed_id").as("tx_muxed_id"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
      .where(col("op.op_type").isin(0, 1, 2, 13))
      .select(
        operationToid(col("sequence"), col("pos") + 1, col("op_pos"))
          .as("operation_id"),
        col("sequence").as("ledger_sequence"),
        element_at(opTypeNameCol, col("op.op_type")).as("transfer_type"),
        // "from" is the acting source; the muxed sub-id only applies when
        // the envelope source acts (an op-source override carries no mux)
        GraftFunctions.strkeyAccount(unhex(
          coalesce(col("op.op_source_hex"), col("tx_src"))))
          .as("from_account"),
        when(col("op.op_source_hex").isNull, col("tx_muxed_id"))
          .as("from_muxed_id"),
        GraftFunctions.strkeyAccount(unhex(col("op.op_destination_hex")))
          .as("to_account"),
        when(col("op.op_type") === 1, col("op.op_asset_code"))
          .when(col("op.op_type").isin(2, 13), col("op.op_dest_asset_code"))
          .as("asset_code"),
        when(col("op.op_type") === 13, col("op.op_result_amount"))
          .otherwise(col("op.amount")).as("amount_stroops"))

  private val effectTypeNameCol =
    typedLit(StellarTradesEffects.EffectNames)

  /** P4-shaped effects composed over the wire source — every effect
    * family the wire grain determines (`internal/transform/effects.go:
    * 23-166`), successful transactions only:
    *
    *   - account family: CREATE_ACCOUNT → created/debited/signer-created,
    *     the payment family → credited+debited (strict-send delivers and
    *     strict-receive pays the RESULT amounts), ACCOUNT_MERGE →
    *     debited/credited/removed, CLAWBACK → credited/debited;
    *   - SET_OPTIONS → thresholds/home-domain/flags/inflation-dest/signer
    *     effects, each gated on its optional (`effects.go:498-588`);
    *   - trustline CRUD: CHANGE_TRUST classified by the op's trustline
    *     change kind (limit-sign fallback, `addChangeTrustEffects`),
    *     ALLOW_TRUST's dual emission + SET_TRUST_LINE_FLAGS → type 26;
    *   - data CRUD (value-presence law) and BUMP_SEQUENCE;
    *   - claimable-balance lifecycle: created + per-claimant
    *     claimant-created + the funding debit, claimed + credit,
    *     clawed-back + credit;
    *   - trades: per orderbook atom the (source, seller) pair for types
    *     33/32/31 (+30 off path payments — `addClaimTradeEffects`,
    *     `effects.go:986-1010`); LP atoms → one liquidity_pool_trade;
    *   - LP deposit/withdraw (share delta off the op's LP change) and the
    *     entry-change loop's created(93)/removed(94);
    *   - sponsorship families 60-74: entry-level effects classified on
    *     each change's PRE/POST SponsoringID pair (`effects.go:287-368`)
    *     — created (pre ∅, post set), removed (pre set, post ∅), updated
    *     (both, different); the unchanged pair emits nothing — then the
    *     signer-sponsorship diffs (72-74) of the same change's pre/post
    *     signer→sponsor maps, per signer in strkey order
    *     (`effects.go:225-285`). At wire fidelity the effect's `account`
    *     carries the sponsor itself (the entry owner rides only the
    *     fixture model) and `signer` the diffed signer's G-address.
    *
    * Families are ordered the reference's way — op-arm effects, then the
    * change-scan sponsorship loop, then the LP entry loop — and the
    * effect index IS the position in that concatenated per-op array (one
    * posexplode), so the numbering never needs a window. Everything is
    * intra-row: atoms and changes ride the same tx row as the op vector,
    * so the whole transform is one map-only scan. */
  def historyEffectsFromLcm(lcm: DataFrame,
      withDetails: Boolean = true): DataFrame = {
    // `withDetails = false` plans WITHOUT the details payload — generator
    // output does not column-prune, so a downstream drop would still pay
    // the per-effect string/strkey construction; the gated catalog query
    // (typed columns only) opts out at plan-build time instead
    val ops = lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .where(col("tx.successful"))
      .select(col("sequence"), col("pos"),
        col("tx.source_account_hex").as("tx_src"),
        col("tx.changes").as("changes"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
    val ty = col("op.op_type")
    val src = coalesce(col("op.op_source_hex"), col("tx_src"))
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    def eff(t: Column, account: Column, asset: Column,
        amount: Column, offer: Column, detail: Column = nullS,
        details: Column = nullS): Column =
      struct(t.as("type"), account.as("account_hex"),
        asset.as("asset_code"), amount.as("amount"), offer.as("offer_id"),
        detail.as("detail"),
        (if (withDetails) details else nullS).as("details"))
    def effT(t: Int, account: Column, asset: Column = nullS,
        amount: Column = nullL, offer: Column = nullL,
        details: Column = nullS): Column =
      eff(lit(t), account, asset, amount, offer, details = details)
    // details builders — the reference's per-type payload keys
    // (`effects.go` details maps) at wire fidelity: conditional keys drop
    // via concat_ws null-skip; amounts render `amount.String`-style %.7f
    // (the fixture path's law); addresses strkey at build time
    def obj(parts: Column*): Column =
      concat(lit("{"), concat_ws(",", parts: _*), lit("}"))
    def escJson(v: Column): Column =
      regexp_replace(regexp_replace(v, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    def kv(k: String, v: Column): Column =
      when(v.isNotNull, concat(lit("\"" + k + "\":\""), escJson(v),
        lit("\"")))
    def kvRaw(k: String, v: Column): Column =
      when(v.isNotNull, concat(lit("\"" + k + "\":"), v))
    def amtS(c: Column): Column =
      format_string("%.7f", GraftFunctions.stroopsToXlm(c))
    def gAddr(hexC: Column): Column =
      GraftFunctions.strkeyAccount(unhex(hexC))
    val recvAsset = when(ty === 1, col("op.op_asset_code"))
      .when(ty.isin(2, 13), col("op.op_dest_asset_code"))
    val sendAsset = when(ty === 1, col("op.op_asset_code"))
      .when(ty.isin(2, 13), col("op.op_send_asset_code"))
    val delivered = when(ty === 13, col("op.op_result_amount"))
      .otherwise(col("op.amount"))
    val paid = when(ty === 2, col("op.op_result_amount"))
      .otherwise(col("op.amount"))
    // a typed empty effect array (filter-to-false keeps the struct type)
    val noEff = filter(array(effT(0, nullS)), _ => lit(false))
    def gated(pairs: (Column, Column)*): Column =
      filter(array(pairs.map { case (gate, e) => when(gate, e) }: _*),
        e => e.isNotNull)

    // the op's own changes, in change-vector order (intra-row)
    val opChanges = filter(col("changes"), c =>
      c("op_index") === col("op_pos"))
    def lastOf(entryType: Int): Column = {
      val m = filter(opChanges, c => c("entry_type") === entryType)
      when(size(m) > 0, element_at(m, size(m)))
    }
    val tlCh = lastOf(1)
    val dtCh = lastOf(3)
    val lpCh = lastOf(5)

    // ---- op-arm effects (`operationEffects` case law) -------------------
    val amount = col("op.amount")
    val opAsset = col("op.op_asset_code")
    val createAccount = array(
      effT(0, col("op.op_destination_hex"), amount = amount,
        details = obj(kv("starting_balance", amtS(amount)))),
      effT(3, src, amount = amount,
        details = obj(kv("amount", amtS(amount)),
          kv("asset_type", lit("native")))),
      effT(10, col("op.op_destination_hex"), amount = lit(1L),
        details = obj(
          kv("public_key", gAddr(col("op.op_destination_hex"))),
          kvRaw("weight", lit(1)))))
    val payment = array(
      effT(2, col("op.op_destination_hex"), recvAsset, delivered,
        details = obj(kv("amount", amtS(delivered)),
          kv("asset_code", recvAsset))),
      effT(3, src, sendAsset, paid,
        details = obj(kv("amount", amtS(paid)),
          kv("asset_code", sendAsset))))
    val mergeAmt = obj(kv("amount", amtS(amount)),
      kv("asset_type", lit("native")))
    val accountMerge = array(
      effT(3, src, amount = amount, details = mergeAmt),
      effT(2, col("op.op_destination_hex"), amount = amount,
        details = mergeAmt),
      effT(1, src, details = lit("{}")))
    // account_flags_updated: all four arms (`effects.go:1211-1224`)
    val acctFlagKvs = Seq(
      1 -> "auth_required_flag", 2 -> "auth_revocable_flag",
      4 -> "auth_immutable_flag", 8 -> "auth_clawback_enabled_flag")
      .map { case (bit, key) =>
        kvRaw(key,
          when(col("op.op_set_flags").bitwiseAND(bit) =!= 0, lit("true"))
            .when(col("op.op_clear_flags").bitwiseAND(bit) =!= 0,
              lit("false")))
      }
    val setOptions = gated(
      (col("op.op_low_threshold").isNotNull ||
        col("op.op_med_threshold").isNotNull ||
        col("op.op_high_threshold").isNotNull) -> effT(4, src,
        details = obj(
          kvRaw("low_threshold", col("op.op_low_threshold")),
          kvRaw("med_threshold", col("op.op_med_threshold")),
          kvRaw("high_threshold", col("op.op_high_threshold")))),
      col("op.op_home_domain").isNotNull -> effT(5, src,
        details = obj(kv("home_domain", col("op.op_home_domain")))),
      (col("op.op_set_flags").isNotNull ||
        col("op.op_clear_flags").isNotNull) -> effT(6, src,
        details = obj(acctFlagKvs: _*)),
      col("op.op_inflation_dest_hex").isNotNull -> effT(7, src,
        details = obj(kv("inflation_destination",
          gAddr(col("op.op_inflation_dest_hex"))))),
      (col("op.op_signer_key_hex").isNotNull &&
        col("op.op_signer_weight") === 0) -> effT(11, src,
        details = obj(kv("public_key",
          gAddr(col("op.op_signer_key_hex"))))),
      (col("op.op_signer_key_hex").isNotNull &&
        col("op.op_signer_weight") =!= 0) ->
        effT(10, src, amount = col("op.op_signer_weight").cast("long"),
          details = obj(
            kv("public_key", gAddr(col("op.op_signer_key_hex"))),
            kvRaw("weight", col("op.op_signer_weight")))))
    // change_trust: classified by the op's trustline change kind;
    // limit-sign fallback when the op carries no trustline change
    val tlKindType = when(tlCh.isNotNull,
      when(tlCh("kind") === 0, 20).when(tlCh("kind") === 2, 21)
        .otherwise(22))
      .otherwise(when(col("op.op_limit") > 0, 20).otherwise(21))
    val changeTrust = array(eff(tlKindType, src, opAsset,
      col("op.op_limit"), nullL,
      details = obj(kv("limit", amtS(col("op.op_limit"))),
        kv("asset_code", opAsset))))
    // allow_trust dual emission: legacy flag-free details, then the
    // forward-compat flag rendering off the authorize enum
    val trustorKvs = Seq(
      kv("trustor", gAddr(col("op.op_trustor_hex"))),
      kv("asset_code", opAsset))
    val af = coalesce(col("op.op_authorize"), lit(0))
    val allowTrust = array(
      effT(26, src, opAsset, details = obj(trustorKvs: _*)),
      effT(26, src, opAsset, details = obj(trustorKvs ++ Seq(
        kvRaw("authorized_flag",
          when(af.bitwiseAND(1) =!= 0, lit("true"))
            .when(af.bitwiseAND(2) === 0, lit("false"))),
        kvRaw("authorized_to_maintain_liabilites",
          when(af.bitwiseAND(1) =!= 0, nullS)
            .when(af.bitwiseAND(2) =!= 0, lit("true"))
            .otherwise(lit("false")))): _*)))
    // set_trust_line_flags: flags render true from set, false from clear
    val tlFlags = array(effT(26, src, opAsset,
      details = obj(trustorKvs ++ Seq(
        1 -> "authorized_flag",
        2 -> "authorized_to_maintain_liabilites",
        4 -> "clawback_enabled_flag").map { case (bit, key) =>
        kvRaw(key,
          when(coalesce(col("op.op_clear_flags"), lit(0))
              .bitwiseAND(bit) =!= 0, lit("false"))
            .when(coalesce(col("op.op_set_flags"), lit(0))
              .bitwiseAND(bit) =!= 0, lit("true")))
      }: _*)))
    val dataName = kv("name", col("op.op_data_name"))
    // created vs updated classifies on the op's DATA entry change kind
    // (`addManageDataEffects`); value nil → removed, no change → created
    val manageData = array(
      when(col("op.op_data_value_hex").isNotNull, eff(
        when(dtCh.isNotNull && dtCh("kind") === 1, 42).otherwise(40),
        src, nullS, nullL, nullL,
        details = obj(dataName, kv("value", GraftFunctions.base64NoWrap(
          unhex(col("op.op_data_value_hex")))))))
        .otherwise(effT(41, src, details = obj(dataName))))
    val bumpSequence = array(effT(43, src, amount = col("op.op_bump_to"),
      details = obj(kv("new_seq", col("op.op_bump_to").cast("string")))))
    val cbAmountKvs = Seq(kv("amount", amtS(amount)), kv("asset", opAsset))
    val createCb = concat(
      array(effT(50, src, opAsset, amount, details = obj(cbAmountKvs: _*))),
      transform(col("op.op_claimants_hex"),
        c => eff(lit(51), c, opAsset, amount, nullL,
          details = obj(cbAmountKvs :+
            kv("destination", gAddr(c)): _*))),
      array(effT(3, src, opAsset, amount,
        details = obj(kv("amount", amtS(amount)),
          kv("asset_code", opAsset)))))
    val balanceIdHex = when(col("op.op_balance_id_hex").isNotNull,
      concat(lit("00000000"), col("op.op_balance_id_hex")))
    val claimCb = array(
      effT(52, src, amount = amount, details = obj(
        kv("amount", amtS(amount)), kv("balance_id", balanceIdHex))),
      effT(2, src, amount = amount,
        details = obj(kv("amount", amtS(amount)))))
    val clawback = array(
      effT(2, src, opAsset, amount, details = obj(
        kv("amount", amtS(amount)), kv("asset_code", opAsset))),
      effT(3, col("op.op_from_hex"), opAsset, amount, details = obj(
        kv("amount", amtS(amount)), kv("asset_code", opAsset))))
    val clawbackCb = array(
      effT(80, src, amount = amount,
        details = obj(kv("balance_id", balanceIdHex))),
      effT(2, src, amount = amount,
        details = obj(kv("amount", amtS(amount)))))
    val lpDeposit = array(effT(90, src,
      amount = lpCh("post_shares") - lpCh("pre_shares"),
      details = obj(kv("shares_received",
        amtS(lpCh("post_shares") - lpCh("pre_shares"))))))
    val lpWithdraw = array(effT(91, src,
      amount = lpCh("pre_shares") - lpCh("post_shares"),
      details = obj(kv("shares_redeemed",
        amtS(lpCh("pre_shares") - lpCh("post_shares"))))))

    // trades: (source, seller) per type 33/32/31(/30); LP atoms → 92;
    // both-zero atoms emit nothing (`addIngestTradeEffects`). Trade
    // details follow `addClaimTradeEffects`: each side's sold_* is what
    // THAT party gave up, seller names the counterparty
    val atomEffects = flatten(transform(
      filter(col("op.claim_atoms"), a =>
        a("sold_amount") =!= 0 || a("bought_amount") =!= 0), a => {
      val srcDetails = obj(
        kv("seller", gAddr(a("seller_or_pool_hex"))),
        kvRaw("offer_id", a("offer_id")),
        kv("sold_amount", amtS(a("bought_amount"))),
        kv("sold_asset_code", a("bought_code")),
        kv("bought_amount", amtS(a("sold_amount"))),
        kv("bought_asset_code", a("sold_code")))
      val sellerDetails = obj(
        kv("seller", gAddr(src)),
        kvRaw("offer_id", a("offer_id")),
        kv("sold_amount", amtS(a("sold_amount"))),
        kv("sold_asset_code", a("sold_code")),
        kv("bought_amount", amtS(a("bought_amount"))),
        kv("bought_asset_code", a("bought_code")))
      val pair = (t: Int) => Seq(
        eff(lit(t), src, a("bought_code"), a("bought_amount"),
          a("offer_id"), details = srcDetails),
        eff(lit(t), a("seller_or_pool_hex"), a("sold_code"),
          a("sold_amount"), a("offer_id"), details = sellerDetails))
      val offerTypes = Seq(33, 32, 31)
      when(a("is_pool"),
        array(eff(lit(92), src, a("sold_code"), a("sold_amount"), nullL,
          details = obj(
            kvRaw("liquidity_pool",
              obj(kv("id", a("seller_or_pool_hex")))),
            kvRaw("sold", obj(kv("asset_code", a("sold_code")),
              kv("amount", amtS(a("sold_amount"))))),
            kvRaw("bought", obj(kv("asset_code", a("bought_code")),
              kv("amount", amtS(a("bought_amount")))))))))
        .when(ty.isin(2, 13), array(offerTypes.flatMap(pair): _*))
        .otherwise(array((offerTypes :+ 30).flatMap(pair): _*))
    }))

    val baseArr =
      when(ty === 0, createAccount)
        .when(ty === 1, payment)
        .when(ty.isin(2, 13), concat(payment, atomEffects))
        .when(ty.isin(3, 4, 12), atomEffects)
        .when(ty === 5, setOptions)
        .when(ty === 6, changeTrust)
        .when(ty === 7, allowTrust)
        .when(ty === 8, accountMerge)
        .when(ty === 10, manageData)
        .when(ty === 11, bumpSequence)
        .when(ty === 14, createCb)
        .when(ty === 15, claimCb)
        .when(ty === 19, clawback)
        .when(ty === 20, clawbackCb)
        .when(ty === 21, tlFlags)
        .when(ty === 22, lpDeposit)
        .when(ty === 23, lpWithdraw)
        .otherwise(noEff)

    // ---- change-scan loops, the reference's order -----------------------
    // sponsorship families: the entry-level effect (entry type → base id;
    // offers/LP emit none) THEN the signer-sponsorship diffs of the same
    // change, per signer in strkey order (`effects.go:141-151,225-285`) —
    // the effect's account carries the sponsor, `detail` the signer
    val spBase = typedLit(Map(0 -> 60, 1 -> 63, 3 -> 66, 4 -> 69))
    val sponsorshipEffects = flatten(transform(opChanges, c => {
      val base = try_element_at(spBase, c("entry_type"))
      val pre = c("pre_sponsor_hex")
      val post = c("post_sponsor_hex")
      val entryEff =
        when(base.isNotNull && pre.isNull && post.isNotNull,
          eff(base, post, nullS, nullL, nullL,
            details = obj(kv("sponsor", gAddr(post)))))
          .when(base.isNotNull && pre.isNotNull && post.isNull,
            eff(base + 2, pre, nullS, nullL, nullL,
              details = obj(kv("former_sponsor", gAddr(pre)))))
          .when(base.isNotNull && pre.isNotNull && post.isNotNull &&
              pre =!= post,
            eff(base + 1, post, nullS, nullL, nullL,
              details = obj(kv("new_sponsor", gAddr(post)),
                kv("former_sponsor", gAddr(pre)))))
      def sigMap(arr: Column): Column = map_from_entries(
        transform(coalesce(arr, array().cast(
            "array<struct<signer_hex:string,sponsor_hex:string>>")),
          s => struct(
            GraftFunctions.strkeyAccount(unhex(s("signer_hex"))).as("k"),
            s("sponsor_hex").as("v"))))
      val preM = sigMap(c("pre_signer_sponsors"))
      val postM = sigMap(c("post_signer_sponsors"))
      val signerEffs = transform(
        array_sort(array_union(map_keys(preM), map_keys(postM))), k => {
          val pv = try_element_at(preM, k)
          val nv = try_element_at(postM, k)
          when(pv.isNull && nv.isNotNull,
            eff(lit(72), nv, nullS, nullL, nullL, k,
              obj(kv("sponsor", gAddr(nv)), kv("signer", k))))
            .when(pv.isNotNull && nv.isNull,
              eff(lit(74), pv, nullS, nullL, nullL, k,
                obj(kv("former_sponsor", gAddr(pv)), kv("signer", k))))
            .when(pv.isNotNull && nv.isNotNull && pv =!= nv,
              eff(lit(73), nv, nullS, nullL, nullL, k,
                obj(kv("former_sponsor", gAddr(pv)),
                  kv("new_sponsor", gAddr(nv)), kv("signer", k))))
        })
      filter(concat(array(entryEff), signerEffs), e => e.isNotNull)
    }))
    val lpEntryEffects = filter(transform(opChanges, c =>
      when(c("entry_type") === 5 && c("kind") === 0,
        eff(lit(93), src, nullS, c("post_shares"), nullL,
          details = obj(kvRaw("liquidity_pool", obj(
            kv("id", c("pool_id_hex")),
            kv("total_shares", amtS(c("post_shares"))))))))
        .when(c("entry_type") === 5 && c("kind") === 2,
          eff(lit(94), src, nullS, nullL, nullL,
            details = obj(kv("liquidity_pool_id", c("pool_id_hex")))))),
      e => e.isNotNull)

    val allEffects = concat(baseArr, sponsorshipEffects, lpEntryEffects)
    val baseCols = Seq(
        operationToid(col("sequence"), col("pos") + 1, col("op_pos"))
          .as("operation_id"),
        col("sequence").as("ledger_sequence"),
        col("eff_pos").cast("int").as("effect_index"),
        col("e.type").as("type"),
        element_at(effectTypeNameCol, col("e.type")).as("type_string"),
        GraftFunctions.strkeyAccount(unhex(col("e.account_hex")))
          .as("account"),
        col("e.asset_code").as("asset_code"),
        col("e.amount").as("amount"),
        col("e.offer_id").as("offer_id"),
        // the signer G-address on signer-sponsorship effects (72-74);
        // null on every other type
        col("e.detail").as("signer"))
    val cols =
      if (!withDetails) baseCols
      else baseCols :+
        // the reference-shaped per-type details payload (wire-determined
        // keys; `effects.go` key names, %.7f amounts) — a VARIANT like
        // the fixture path's `details`; spec-checked, excluded from the
        // oracle gate like the op-grain details
        parse_json(coalesce(col("e.details"), lit("{}"))).as("details")
    ops
      .select(col("sequence"), col("pos"), col("op_pos"),
        posexplode(allEffects).as(Seq("eff_pos", "e")))
      .select(cols: _*)
  }

  /** P5 composed over the wire source at claim-atom grain: trades come
    * from the per-op RESULT ClaimAtoms the wire carries
    * (`internal/transform/trade.go:44-84`), successful transactions only
    * (F3).
    *
    * PRICING follows `findTradeSellPrice` (`trade.go:264-279`): an
    * orderbook atom is priced by the PRE-state `Price.N/D` of the crossed
    * offer's last matching change in the owning op's change vector (the
    * reference's reverse scan, here `element_at(matching, size)` over the
    * intra-row filtered array — the wire change record carries offer
    * pre-state since round 11). An orderbook atom with NO pre-state
    * offer change in scope is an input inconsistency: the reference
    * ERRORS the op's whole trade transform (`trade.go:273-278`) and the
    * exporter drops all of that op's trades, counting a failure
    * (`export_trades.go:38-45`). We replay that exactly — the owning
    * op's atoms are dropped and the op is counted in the
    * `wire_trades`/`dropped_ops` observe metric. LP atoms are priced
    * bought/sold by definition (`trade.go:265-266`).
    * `price_n`/`price_d` carry the exact integer components, `price` the
    * IEEE quotient. LP atoms additionally carry `liquidity_pool_fee` —
    * the pre-state fee bps of the pool's own change, matched by pool id
    * (`findPoolFee`, `trade.go:306-317`), null when the op's change
    * vector has no change for that pool. Everything stays map-only: two
    * stacked posexplodes + intra-row array algebra — the pre-state
    * "joins" never shuffle because the change vector rides the same tx
    * row. */
  def historyTradesFromLcm(lcm: DataFrame): DataFrame = {
    // the reverse scan: LAST change of this op with entry_type OFFER, a
    // pre state, and the atom's offer id (`findLatestOperationChange`)
    val matching = filter(col("changes"), c =>
      c("entry_type") === 2 && c("op_index") === col("op_pos") &&
        c("offer_id") === col("a.offer_id") && c("pre_price_d").isNotNull)
    val pre = element_at(matching, size(matching))
    // findPoolFee: LAST LIQUIDITY_POOL change of this op for the atom's
    // pool id → pre-state fee bps
    val poolMatching = filter(col("changes"), c =>
      c("entry_type") === 5 && c("op_index") === col("op_pos") &&
        c("pool_id_hex") === col("a.seller_or_pool_hex"))
    val poolPre = element_at(poolMatching, size(poolMatching))
    // surviving orderbook atoms always have a pre-state match (the
    // inconsistent ops are dropped below), so the price is the pre-state
    // components directly — no silent ratio fallback
    val priceN = when(col("a.is_pool"), col("a.bought_amount"))
      .otherwise(pre("pre_price_n").cast("long"))
    val priceD = when(col("a.is_pool"), col("a.sold_amount"))
      .otherwise(pre("pre_price_d").cast("long"))
    lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .where(col("tx.successful"))
      .select(col("sequence"), col("pos"),
        col("tx.source_account_hex").as("tx_source_hex"),
        col("tx.changes").as("changes"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
      .select(col("sequence"), col("pos"), col("op_pos"), col("changes"),
        col("op.op_source_hex").as("op_source_hex"),
        col("op.op_type").as("op_type"),
        col("op.op_result_offer_id").as("op_result_offer_id"),
        col("tx_source_hex"),
        col("op.claim_atoms").as("claim_atoms"))
      // findTradeSellPrice error law: ANY orderbook atom without a
      // pre-state change for its crossed offer fails the op's transform;
      // all its atoms drop and the op counts as a failure
      // (`trade.go:273-278`, `export_trades.go:38-45`)
      .withColumn("op_inconsistent",
        exists(col("claim_atoms"), a =>
          !a("is_pool") && !exists(col("changes"), c =>
            c("entry_type") === 2 && c("op_index") === col("op_pos") &&
              c("offer_id") === a("offer_id") &&
              c("pre_price_d").isNotNull)))
      .observe("wire_trades",
        sum(when(col("op_inconsistent"), 1L).otherwise(0L))
          .as("dropped_ops"))
      .where(!col("op_inconsistent"))
      .select(col("sequence"), col("pos"), col("op_pos"), col("changes"),
        col("op_source_hex"), col("op_type"), col("op_result_offer_id"),
        col("tx_source_hex"),
        posexplode(col("claim_atoms")).as(Seq("atom_pos", "a")))
      .select(
        operationToid(col("sequence"), col("pos") + 1, col("op_pos"))
          .as("operation_id"),
        col("atom_pos").cast("int").as("order"),
        col("sequence").as("ledger_sequence"),
        when(col("a.is_pool"), 2).otherwise(1).as("trade_type"),
        // taker = op source when set, else tx source (`trade.go:123-129`)
        GraftFunctions.strkeyAccount(unhex(
          coalesce(col("op_source_hex"), col("tx_source_hex")))).as("taker"),
        // the seller arm splits by atom kind like the reference's trades
        // table: orderbook atoms carry the seller account G-address, LP
        // atoms the pool's L-address (`trade.go:130-160`)
        GraftFunctions.strkeyAccount(unhex(
          when(!col("a.is_pool"), col("a.seller_or_pool_hex"))))
          .as("selling_account"),
        GraftFunctions.strkeyPool(unhex(
          when(col("a.is_pool"), col("a.seller_or_pool_hex"))))
          .as("selling_liquidity_pool_id_strkey"),
        when(!col("a.is_pool"), col("a.offer_id")).as("offer_id"),
        // buying side: the op's ManageOfferSuccessResult offer id when the
        // taker's offer survived, else the synthetic op_id|bit62 id
        // minted for fully-consumed offers and path payments
        // (`trade.go:116-120`, `synt_offer_id.go:28-34`)
        coalesce(col("op_result_offer_id"),
          GraftFunctions.syntheticOfferId(col("sequence"), col("pos") + 1,
            col("op_pos"))).as("buying_offer_id"),
        // strict-receive (2) fixes the bought side exactly, strict-send
        // (13) the sold side; null for the offer arms (`trade.go:225-255`)
        when(col("op_type").isin(2, 13), col("op_type") === 2)
          .as("seller_is_exact"),
        col("a.sold_code").as("selling_asset_code"),
        col("a.sold_amount").as("selling_amount"),
        col("a.bought_code").as("buying_asset_code"),
        col("a.bought_amount").as("buying_amount"),
        priceN.as("price_n"),
        priceD.as("price_d"),
        (priceN.cast("double") / priceD).as("price"),
        when(col("a.is_pool") && size(poolMatching) > 0,
          poolPre("pool_fee")).as("liquidity_pool_fee"))
  }

  /** The 10-arm `LedgerEntryType` enum, XDR discriminant order
    * (`Stellar-ledger-entries.x`). */
  val ledgerEntryTypeNames: Map[Int, String] = Map(
    0 -> "account", 1 -> "trustline", 2 -> "offer", 3 -> "data",
    4 -> "claimable_balance", 5 -> "liquidity_pool", 6 -> "contract_data",
    7 -> "contract_code", 8 -> "config_setting", 9 -> "ttl")
  private val entryTypeNameCol = typedLit(ledgerEntryTypeNames)
  private val changeKindNameCol =
    typedLit(Map(0 -> "created", 1 -> "updated", 2 -> "removed"))

  /** Change grain composed over the wire source: one row per ledger-entry
    * change, the substrate the reference's `export_ledger_entry_changes`
    * pipeline reads off LedgerCloseMeta (`internal/input/changes.go:20-30`).
    * Two stacked posexplodes (tx array, then the per-tx change vector) keep
    * the transform map-only — the sequence-range predicate is consumed by
    * the scan's file pruning and never re-evaluated. */
  def ledgerChangesFromLcm(lcm: DataFrame): DataFrame =
    lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .select(col("sequence"), col("pos"),
        posexplode(col("tx.changes")).as(Seq("ci", "c")))
      .select(
        col("sequence").as("ledger_sequence"),
        (col("pos") + 1).cast("int").as("tx_order"),
        col("ci").cast("int").as("change_index"),
        col("c.op_index").as("op_index"),
        col("c.kind").as("kind"),
        element_at(changeKindNameCol, col("c.kind")).as("kind_string"),
        col("c.entry_type").as("entry_type"),
        element_at(entryTypeNameCol, col("c.entry_type"))
          .as("entry_type_string"),
        col("c.key_hash_hex").as("key_hash_hex"),
        col("c.last_modified").as("last_modified"),
        col("c.balance").as("balance"),
        // entry-type-discriminated pre/post arms (null where not applicable)
        col("c.offer_id").as("offer_id"),
        col("c.pre_price_n").as("pre_price_n"),
        col("c.pre_price_d").as("pre_price_d"),
        col("c.pre_reserve_a").as("pre_reserve_a"),
        col("c.pre_reserve_b").as("pre_reserve_b"),
        col("c.pre_shares").as("pre_shares"),
        col("c.post_reserve_a").as("post_reserve_a"),
        col("c.post_reserve_b").as("post_reserve_b"),
        col("c.post_shares").as("post_shares"),
        col("c.pool_fee").as("pool_fee"),
        col("c.pool_id_hex").as("pool_id_hex"),
        col("c.pre_sponsor_hex").as("pre_sponsor_hex"),
        col("c.post_sponsor_hex").as("post_sponsor_hex"),
        // signer→sponsor maps rendered to JSON (the p15 array-gate
        // pattern — raw array cells break the gate's pandas hash)
        to_json(col("c.pre_signer_sponsors")).as("pre_signer_sponsors"),
        to_json(col("c.post_signer_sponsors")).as("post_signer_sponsors"))

  private val contractEventTypeNameCol =
    typedLit(Map(0 -> "system", 1 -> "contract", 2 -> "diagnostic"))

  /** P17 composed over the wire source — Soroban contract events off the
    * tx meta the wire carries (`internal/transform/contract_events.go:
    * 20-104`): one row per event, the emitting contract as a C-address,
    * topics and data both raw (base64 XDR) and decoded (ScVal→JSON via
    * the codegen'd codec expressions), and the reference's
    * `successful`-derived in_successful_contract_call flag (failed calls
    * keep their diagnostic events, so NO success filter here — unlike
    * the history exports). Map-only: two stacked posexplodes, decode
    * in-plan, range consumed by the scan. Topics join to one `|` string
    * for the gate (raw array cells break the driver's pandas hash); the
    * typed arrays stay available on the source schema. */
  def contractEventsFromLcm(lcm: DataFrame): DataFrame =
    lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .select(col("sequence"), col("pos"),
        col("tx.successful").as("successful"),
        posexplode(col("tx.contract_events")).as(Seq("ev_pos", "ev")))
      .select(
        operationToid(col("sequence"), col("pos") + 1, col("ev.op_index"))
          .as("operation_id"),
        col("ev_pos").cast("int").as("event_index"),
        col("sequence").as("ledger_sequence"),
        col("ev.event_type").as("event_type"),
        element_at(contractEventTypeNameCol, col("ev.event_type"))
          .as("event_type_string"),
        GraftFunctions.strkeyContract(unhex(col("ev.contract_id_hex")))
          .as("contract_id"),
        array_join(transform(col("ev.topics_xdr"),
          t => GraftFunctions.base64NoWrap(t)), "|").as("topics_joined"),
        array_join(transform(col("ev.topics_xdr"),
          t => GraftFunctions.scvalJson(t)), "|").as("topics_decoded"),
        GraftFunctions.base64NoWrap(col("ev.data_xdr")).as("data"),
        GraftFunctions.scvalJson(col("ev.data_xdr")).as("data_decoded"),
        col("successful").as("in_successful_contract_call"))

  /** Change-DERIVED operation details composed over the wire source — the
    * two detail families the reference computes by scanning the op's own
    * change vector rather than the envelope:
    *
    *   - LIQUIDITY-POOL DELTA (`getLiquidityPoolAndProductDelta`,
    *     `operation.go:238-285`): the first LIQUIDITY_POOL change of the
    *     op yields post−pre reserve/share deltas (LP deposit details
    *     report deposited `amount_a`/`amount_b` as exactly these deltas,
    *     withdraw the negation) plus the pre-state pool fee bps
    *     (`findPoolFee`, `trade.go:306-317`).
    *   - SPONSOR (`getSponsor`, `operation.go:296-326`): the first
    *     CREATED change of the op whose post state carries a
    *     `SponsoringID` names the op's sponsor, rendered as a G-address.
    *
    * Both scans are intra-row `filter`/`element_at` over the tx's change
    * array — no shuffle, no join: the change vector rides the same row as
    * the op array, so the whole op grain stays one map-only pass. Columns
    * are null when the op has no matching change (the reference errors on
    * LP ops without an LP change; fixtures don't guarantee alignment, so
    * absence is surfaced as null rather than a throw). */
  def opChangeDetailsFromLcm(lcm: DataFrame): DataFrame = {
    val opChanges = filter(col("changes"), c =>
      c("op_index") === col("op_pos"))
    val lpCh = filter(opChanges, c => c("entry_type") === 5)
    val lp = when(size(lpCh) > 0, element_at(lpCh, 1))
    val spCh = filter(opChanges, c =>
      c("kind") === 0 && c("post_sponsor_hex").isNotNull)
    val sp = when(size(spCh) > 0, element_at(spCh, 1))
    lcm.select(col("sequence"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .where(col("tx.successful"))
      .select(col("sequence"), col("pos"),
        col("tx.changes").as("changes"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
      .select(
        operationToid(col("sequence"), col("pos") + 1, col("op_pos"))
          .as("operation_id"),
        col("sequence").as("ledger_sequence"),
        col("op.op_type").as("op_type"),
        (lp("post_reserve_a") - lp("pre_reserve_a")).as("delta_reserve_a"),
        (lp("post_reserve_b") - lp("pre_reserve_b")).as("delta_reserve_b"),
        (lp("post_shares") - lp("pre_shares")).as("delta_shares"),
        lp("pool_fee").as("pool_fee"),
        GraftFunctions.strkeyAccount(unhex(sp("post_sponsor_hex")))
          .as("sponsor"))
  }

  /** S6-style batch compaction composed over the wire source: the LAST
    * change per ledger key across the range wins (the reference's
    * per-batch latest-state law, `export_ledger_entry_changes.go` batch
    * dedup). One map-side-combinable hash aggregate — `max` over a struct
    * whose leading (sequence, tx_order, change_index) triple is the unique
    * recency key — so the plan is scan → partial_max → one exchange →
    * final max: no window, no sort, no join. At 100 TB the combine runs
    * per input partition and only (key, 56-byte struct) rows shuffle. */
  def compactedChangesFromLcm(lcm: DataFrame): DataFrame =
    compactChangeRows(ledgerChangesFromLcm(lcm))

  /** Latest-per-key over an already-exploded change grain
    * ([[ledgerChangesFromLcm]]'s column contract). Split out because the
    * max-over-struct law is ASSOCIATIVE: per-shard (or per-micro-batch)
    * winners re-compacted through this same function equal the global
    * winner — the merge-tree shape an unbounded stream compaction uses,
    * and the reason the batch plan gets a map-side partial combine for
    * free. To re-compact winners, rename `last_sequence`/`last_tx_order`/
    * `last_change_index`/`final_kind` back to the change-grain names
    * (StreamingSpec does exactly this). */
  def compactChangeRows(changes: DataFrame): DataFrame =
    changes
      .groupBy(col("key_hash_hex"))
      .agg(max(struct(
        col("ledger_sequence"), col("tx_order"), col("change_index"),
        col("kind"), col("entry_type"), col("balance"))).as("last"))
      .select(
        col("key_hash_hex"),
        col("last.ledger_sequence").as("last_sequence"),
        col("last.tx_order").as("last_tx_order"),
        col("last.change_index").as("last_change_index"),
        col("last.kind").as("final_kind"),
        (col("last.kind") === 2).as("deleted"),
        col("last.entry_type").as("entry_type"),
        col("last.balance").as("balance"))

  /** P2 — `history_transactions`: explode + memo demux, bounds intervals,
    * muxed addresses, TOID ids, and the Soroban fee decomposition
    * (`transaction.go:131-191`): inclusion fee bid = envelope fee − resource
    * fee; inclusion fee charged from the fee-account balance diff in fee meta
    * (J4, intra-row lookup); refund from TxChangesAfter; rent/refundable
    * split from SorobanMeta; P20 fee-bump bug workaround for protocol < 21
    * (`transaction.go:186-190`). */
  def historyTransactions(ledgers: Dataset[LedgerRow]): DataFrame = {
    val exploded = ledgers.select(
      col("sequence"), col("closed_at"), col("protocol_version"),
      posexplode(col("transactions")).as(Seq("pos", "tx")))

    // max==0 → open interval applies ONLY to time bounds (`transaction.go`
    // blanks MaxTime==0); ledger bounds render "[n,0)" verbatim
    def bounds(minC: String, maxC: String, blankZeroMax: Boolean): org.apache.spark.sql.Column =
      when(col(minC).isNull && col(maxC).isNull, lit(""))
        .otherwise(GraftFunctions.intervalString(
          col(minC),
          if (blankZeroMax)
            when(col(maxC) === 0L, lit(null).cast("long")).otherwise(col(maxC))
          else col(maxC)))

    // J4: first fee-meta balance change of the fee account (intra-row)
    val feeKey = coalesce(col("tx.fee_bump_account_key"), col("tx.source_key"))
    def balanceOf(changesCol: String): Column =
      get(filter(col(changesCol), c => c("account_key") === feeKey), lit(0))
    val feeChange = balanceOf("tx.fee_changes")
    val afterChange = balanceOf("tx.changes_after")
    val resourceFee = coalesce(col("tx.soroban.resource_fee"), lit(0L))
    val initialFeeCharged =
      coalesce(feeChange("balance_before") - feeChange("balance_after"), lit(0L))
    val refund = coalesce(
      afterChange("balance_after") - afterChange("balance_before"), lit(0L))
    // P20 fee-bump bug (core#4188): recompute feeCharged for pre-21 bumps
    val feeCharged =
      when(col("protocol_version") < 21 && col("tx.is_fee_bump") &&
        col("tx.soroban").isNotNull, resourceFee - refund)
        .otherwise(col("tx.fee_charged"))

    exploded.select(
      col("tx.hash_hex").as("transaction_hash"),
      col("sequence").as("ledger_sequence"),
      strkeyAccount(col("tx.source_key")).as("account"),
      when(col("tx.source_muxed_id").isNotNull,
        strkeyMuxed(col("tx.source_key"), col("tx.source_muxed_id")))
        .as("account_muxed"),
      col("tx.account_sequence").as("account_sequence"),
      col("tx.max_fee").as("max_fee"),
      feeCharged.as("fee_charged"),
      size(col("tx.operations")).as("operation_count"),
      col("tx.envelope_b64").as("tx_envelope"),
      col("tx.result_b64").as("tx_result"),
      col("tx.meta_b64").as("tx_meta"),
      col("tx.fee_meta_b64").as("tx_fee_meta"),
      col("closed_at").as("created_at"),
      element_at(memoTypeName, col("tx.memo_type")).as("memo_type"),
      coalesce(
        col("tx.memo_text"),
        col("tx.memo_id").cast("string"),
        base64NoWrap(col("tx.memo_hash")),
        lit("")).as("memo"),
      bounds("tx.time_min", "tx.time_max", blankZeroMax = true).as("time_bounds"),
      col("tx.successful").as("successful"),
      transactionToid(col("sequence"), col("pos") + 1).as("id"),
      when(col("tx.is_fee_bump"), strkeyAccount(feeKey)).as("fee_account"),
      col("tx.inner_hash_hex").as("inner_transaction_hash"),
      col("tx.new_max_fee").as("new_max_fee"),
      bounds("tx.ledger_min", "tx.ledger_max", blankZeroMax = false)
        .as("ledger_bounds"),
      col("closed_at"),
      resourceFee.as("resource_fee"),
      coalesce(col("tx.soroban.instructions"), lit(0L))
        .as("soroban_resources_instructions"),
      coalesce(col("tx.soroban.read_bytes"), lit(0L))
        .as("soroban_resources_read_bytes"),
      coalesce(col("tx.soroban.write_bytes"), lit(0L))
        .as("soroban_resources_write_bytes"),
      col("tx.result_code").as("transaction_result_code"),
      when(col("tx.soroban").isNotNull, col("tx.max_fee") - resourceFee)
        .otherwise(lit(0L)).as("inclusion_fee_bid"),
      when(col("tx.soroban").isNotNull, initialFeeCharged - resourceFee)
        .otherwise(lit(0L)).as("inclusion_fee_charged"),
      when(col("tx.soroban").isNotNull, refund).otherwise(lit(0L))
        .as("resource_fee_refund"),
      coalesce(col("tx.soroban.non_refundable_fee"), lit(0L))
        .as("non_refundable_resource_fee_charged"),
      coalesce(col("tx.soroban.refundable_fee"), lit(0L))
        .as("refundable_resource_fee_charged"),
      coalesce(col("tx.soroban.rent_fee"), lit(0L)).as("rent_fee_charged"),
      // PreconditionsV2 (`schema.go:62-65`): null.Int columns, null when the
      // envelope has no cond-v2; extra_signers is a string array that
      // marshals null when absent (pq.StringArray nil)
      col("tx.min_seq_num").as("min_account_sequence"),
      col("tx.min_seq_age").as("min_account_sequence_age"),
      col("tx.min_seq_ledger_gap").as("min_account_sequence_ledger_gap"),
      when(size(col("tx.extra_signer_keys")) > 0,
        transform(col("tx.extra_signer_keys"), k => strkeyAccount(k)))
        .as("extra_signers"),
      transform(col("tx.signers"), k => strkeyAccount(k)).as("tx_signers"))
  }

  /** P3 — `history_operations`: op grain with source fallback, type names,
    * op-index+1 TOIDs. The `details` union is a WIDE NULLABLE STRUCT
    * (SURVEY §1.2 option (a), BigQuery's own shape) — queryable columns,
    * prunable by Parquet. `details_json` is that same column rendered to
    * JSON, for parity with the reference's map-typed field.
    *
    * The per-type case law follows `operation.go:584-1173`: 25 op types
    * populate their own sparse slice of the struct; everything below is
    * intra-row column algebra (no joins, no UDF in the per-row path except
    * the cold strkey variants). Divergences from the reference, by
    * environment necessity: claimant predicates are JSON strings inside the
    * claimants array (the reference nests raw JSON); `ledger_key_hash` /
    * `contract_code_hash` need envelope internals the decoded model does not
    * carry. */
  def historyOperations(ledgers: Dataset[LedgerRow]): DataFrame = {
    val ty = col("op.op_type")
    val successful = col("tx.successful")
    val sourceKey = coalesce(col("op.source_key"), col("tx.source_key"))
    val sourceAddr = strkeyAccount(sourceKey)
    val destAddr = when(col("op.destination_key").isNotNull,
      strkeyAccount(col("op.destination_key")))

    def assetFields(a: Column, prefix: String): Seq[Column] = {
      val p = if (prefix.isEmpty) "" else prefix + "_"
      Seq(
        a("asset_type").as(s"${p}asset_type"),
        when(a("asset_type") =!= "native", a("asset_code")).as(s"${p}asset_code"),
        when(a("asset_type") =!= "native", a("asset_issuer")).as(s"${p}asset_issuer"))
    }
    def assetCanon(a: Column): Column = GraftFunctions.assetCodeIssuer(a)

    val lpChange =
      GraftFunctions.lastPoolChange(col("op.changes"), col("op.pool_id"))
    def lpDelta(pre: String, post: String): Column =
      when(successful && lpChange.isNotNull,
        lpChange(post) - lpChange(pre)).otherwise(lit(0L))

    // end_sponsoring: reverse scan for the initiating begin op whose
    // sponsored id is this op's source (`findInitatingBeginSponsoringOp`)
    val beginOps = filter(
      zip_with(col("tx.operations"),
        sequence(lit(0), size(col("tx.operations")) - 1),
        (op, i) => struct(op.as("op"), i.as("i"))),
      x => x("i") < col("op_pos") && x("op")("op_type") === 16 &&
        x("op")("sponsored_id_key") === sourceKey)
    val beginOp = get(beginOps, size(beginOps) - 1)("op")
    val beginSponsorKey =
      coalesce(beginOp("source_key"), col("tx.source_key"))

    // CB balance id: xdr.MarshalHex(BalanceId) = v0 discriminant + hash;
    // strkey B-address over the 33-byte (type ‖ hash) payload
    val balanceIdHex = when(col("op.balance_id").isNotNull,
      concat(lit("00000000"), lower(hex(col("op.balance_id")))))
    val balanceIdStrkey = when(col("op.balance_id").isNotNull,
      strkeyBalance(col("op.balance_id")))

    val detailInputs =
      (OperationDetails.DetailInputs(
        ty = ty,
        successful = successful,
        sourceAddr = sourceAddr,
        destAddr = destAddr,
        // the acting source's muxed pair: the op's own muxed id when the op
        // carries an explicit source, else the tx source's (the reference's
        // SourceAccount() law — muxed-ness follows the acting account)
        fromMuxed = {
          val actingMuxedId = when(col("op.source_key").isNotNull,
            col("op.source_muxed_id")).otherwise(col("tx.source_muxed_id"))
          when(actingMuxedId.isNotNull,
            strkeyMuxed(sourceKey, actingMuxedId))
        },
        fromMuxedId = when(col("op.source_key").isNotNull,
          col("op.source_muxed_id")).otherwise(col("tx.source_muxed_id")),
        toMuxed = when(col("op.destination_muxed_id").isNotNull,
          strkeyMuxed(col("op.destination_key"),
            col("op.destination_muxed_id"))),
        toMuxedId = col("op.destination_muxed_id"),
        startingBalanceStroops = col("op.starting_balance_stroops"),
        amountStroops = col("op.amount_stroops"),
        cbAmountStroops = col("op.cb_amount_stroops"),
        sourceAmountStroops = col("op.source_amount_stroops"),
        sourceMaxStroops = col("op.source_max_stroops"),
        destMinStroops = col("op.destination_min_stroops"),
        path = when(size(col("op.path")) > 0, col("op.path")),
        assetType = col("op.asset.asset_type"),
        assetCode = col("op.asset.asset_code"),
        assetIssuer = col("op.asset.asset_issuer"),
        assetId = when(col("op.asset").isNotNull,
          farmHashAssetId(col("op.asset.asset_code"),
            col("op.asset.asset_issuer"), col("op.asset.asset_type"))),
        trustAssetId = when(col("op.trust_asset").isNotNull,
          farmHashAssetId(col("op.trust_asset.asset_code"),
            col("op.trust_asset.asset_issuer"),
            col("op.trust_asset.asset_type"))),
        sourceAssetId = when(col("op.source_asset").isNotNull,
          farmHashAssetId(col("op.source_asset.asset_code"),
            col("op.source_asset.asset_issuer"),
            col("op.source_asset.asset_type"))),
        buyingAssetId = when(col("op.buying_asset").isNotNull,
          farmHashAssetId(col("op.buying_asset.asset_code"),
            col("op.buying_asset.asset_issuer"),
            col("op.buying_asset.asset_type"))),
        sellingAssetId = when(col("op.selling_asset").isNotNull,
          farmHashAssetId(col("op.selling_asset.asset_code"),
            col("op.selling_asset.asset_issuer"),
            col("op.selling_asset.asset_type"))),
        trustAssetType = coalesce(col("op.trust_asset.asset_type"),
          lit("liquidity_pool_shares")),
        trustAssetCode = col("op.trust_asset.asset_code"),
        trustAssetIssuer = col("op.trust_asset.asset_issuer"),
        trustPoolIdHex = when(col("op.trust_pool_id").isNotNull,
          lower(hex(col("op.trust_pool_id")))),
        trustLimitStroops = col("op.trust_limit_stroops"),
        sourceAssetType = col("op.source_asset.asset_type"),
        sourceAssetCode = col("op.source_asset.asset_code"),
        sourceAssetIssuer = col("op.source_asset.asset_issuer"),
        offerId = col("op.offer_id"),
        priceN = col("op.price_n"),
        priceD = col("op.price_d"),
        buyingAssetType = col("op.buying_asset.asset_type"),
        buyingAssetCode = col("op.buying_asset.asset_code"),
        buyingAssetIssuer = col("op.buying_asset.asset_issuer"),
        sellingAssetType = col("op.selling_asset.asset_type"),
        sellingAssetCode = col("op.selling_asset.asset_code"),
        sellingAssetIssuer = col("op.selling_asset.asset_issuer"),
        inflationDestAddr = when(col("op.inflation_dest_key").isNotNull,
          strkeyAccount(col("op.inflation_dest_key"))),
        setFlags = col("op.set_flags"),
        clearFlags = col("op.clear_flags"),
        masterWeight = col("op.master_weight"),
        lowThreshold = col("op.low_threshold"),
        medThreshold = col("op.med_threshold"),
        highThreshold = col("op.high_threshold"),
        homeDomain = col("op.home_domain"),
        signerAddr = when(col("op.signer_key").isNotNull,
          strkeyAccount(col("op.signer_key"))),
        revokeSignerAddr = strkeyAccount(col("op.revoke_signer_key")),
        signerWeight = col("op.signer_weight"),
        authorizeFlags = col("op.authorize_flags"),
        tlSetFlags = col("op.tl_set_flags"),
        tlClearFlags = col("op.tl_clear_flags"),
        trustorAddr = strkeyAccount(col("op.trustor_key")),
        dataName = col("op.data_name"),
        dataValueB64 = when(col("op.data_value").isNotNull,
          base64NoWrap(col("op.data_value"))),
        bumpTo = col("op.bump_to"),
        cbAssetCanon = assetCanon(col("op.cb_asset")),
        claimants = transform(col("op.claimants"), c => struct(
          strkeyAccount(c("destination_key")).as("destination"),
          claimPredicateJson(c("predicate_xdr")).as("predicate"))),
        balanceIdHex = balanceIdHex,
        balanceIdStrkey = balanceIdStrkey,
        sponsoredIdAddr = strkeyAccount(col("op.sponsored_id_key")),
        beginSponsorAddr = when(beginOp.isNotNull,
          strkeyAccount(beginSponsorKey)),
        revokeSignerAccountAddr =
          when(col("op.revoke_signer_account_key").isNotNull,
            strkeyAccount(col("op.revoke_signer_account_key"))),
        // one ledger-key family per revoke (`addLedgerKeyToDetails`):
        // `account_id` belongs to the ACCOUNT arm alone — trustline/data
        // arms re-key the account under their own prefixes
        revokeAccountIdAddr =
          when(col("op.revoke_account_id_key").isNotNull &&
              col("op.revoke_offer_id").isNull &&
              col("op.data_name").isNull &&
              col("op.revoke_trustline_asset").isNull &&
              col("op.revoke_trustline_pool_id").isNull,
            strkeyAccount(col("op.revoke_account_id_key"))),
        revokeOfferId = col("op.revoke_offer_id"),
        revokeTrustlineAccountAddr =
          when(col("op.revoke_trustline_asset").isNotNull ||
              col("op.revoke_trustline_pool_id").isNotNull,
            strkeyAccount(col("op.revoke_account_id_key"))),
        revokeTrustlineAssetCanon = when(
          col("op.revoke_trustline_asset").isNotNull,
          assetCanon(col("op.revoke_trustline_asset"))),
        revokeTrustlinePoolIdHex =
          lower(hex(col("op.revoke_trustline_pool_id"))),
        revokeTrustlinePoolIdStrkey =
          strkeyPool(col("op.revoke_trustline_pool_id")),
        revokeDataAccountAddr = when(col("op.data_name").isNotNull,
          strkeyAccount(col("op.revoke_account_id_key"))),
        revokeDataName = col("op.data_name"),
        revokeCbIdHex = balanceIdHex,
        revokeCbIdStrkey = balanceIdStrkey,
        revokeLpIdHex = lower(hex(col("op.pool_id"))),
        revokeLpIdStrkey = strkeyPool(col("op.pool_id")),
        trustPoolIdStrkey = strkeyPool(col("op.trust_pool_id")),
        beginSponsorMuxed = {
          val bsMuxedId = when(beginOp("source_key").isNotNull,
            beginOp("source_muxed_id")).otherwise(col("tx.source_muxed_id"))
          when(beginOp.isNotNull && bsMuxedId.isNotNull,
            strkeyMuxed(beginSponsorKey, bsMuxedId))
        },
        beginSponsorMuxedId = when(beginOp.isNotNull,
          when(beginOp("source_key").isNotNull, beginOp("source_muxed_id"))
            .otherwise(col("tx.source_muxed_id"))),
        // `sponsor` (getSponsor law): per change in order — the set-options
        // signer's NEW sponsor if it changed, else a created entry's
        // sponsor (pre absent, post set); first hit wins
        sponsorAddr = {
          val cands = transform(
            filter(col("op.changes"), c => c("sponsorship").isNotNull),
            c => {
              val sp = c("sponsorship")
              val postSigner = get(filter(sp("post_signer_sponsors"), s =>
                s("signer_key") <=> col("op.signer_key")),
                lit(0))("sponsor_key")
              val preSigner = get(filter(sp("pre_signer_sponsors"), s =>
                s("signer_key") <=> col("op.signer_key")),
                lit(0))("sponsor_key")
              coalesce(
                when(col("op.signer_key").isNotNull &&
                  postSigner.isNotNull && !(preSigner <=> postSigner),
                  postSigner),
                when(sp("pre_sponsor_key").isNull,
                  sp("post_sponsor_key")))
            })
          val k = get(filter(cands, x => x.isNotNull), lit(0))
          when(k.isNotNull, strkeyAccount(k))
        },
        lpPoolIdHex = lower(hex(col("op.pool_id"))),
        lpPoolIdStrkey = strkeyPool(col("op.pool_id")),
        reserveAAssetType = when(lpChange.isNotNull,
          lpChange("pool_asset_a")("asset_type")),
        reserveAAssetCode = lpChange("pool_asset_a")("asset_code"),
        reserveAAssetIssuer = lpChange("pool_asset_a")("asset_issuer"),
        reserveAAssetId = when(lpChange.isNotNull,
          farmHashAssetId(lpChange("pool_asset_a")("asset_code"),
            lpChange("pool_asset_a")("asset_issuer"),
            lpChange("pool_asset_a")("asset_type"))),
        reserveBAssetType = when(lpChange.isNotNull,
          lpChange("pool_asset_b")("asset_type")),
        reserveBAssetCode = lpChange("pool_asset_b")("asset_code"),
        reserveBAssetIssuer = lpChange("pool_asset_b")("asset_issuer"),
        reserveBAssetId = when(lpChange.isNotNull,
          farmHashAssetId(lpChange("pool_asset_b")("asset_code"),
            lpChange("pool_asset_b")("asset_issuer"),
            lpChange("pool_asset_b")("asset_type"))),
        maxAmountA = col("op.max_amount_a"),
        maxAmountB = col("op.max_amount_b"),
        deltaReserveA = lpDelta("pre_reserve_a", "post_reserve_a"),
        deltaReserveB = lpDelta("pre_reserve_b", "post_reserve_b"),
        deltaShares = lpDelta("pre_total_shares", "post_total_shares"),
        minPriceN = col("op.min_price_n"),
        minPriceD = col("op.min_price_d"),
        maxPriceN = col("op.max_price_n"),
        maxPriceD = col("op.max_price_d"),
        minAmountA = col("op.min_amount_a"),
        minAmountB = col("op.min_amount_b"),
        lpSharesStroops = col("op.lp_shares_stroops"),
        hostFnTypeName = col("op.host_fn_type"),
        sorobanContractAddr = when(col("op.soroban_contract_id").isNotNull,
          strkeyContract(col("op.soroban_contract_id"))),
        // footprint-derived hashes (`ledgerKeyHashFromTxEnvelope` /
        // `contractCodeHashFromTxEnvelope`, operation.go:1841-1874)
        ledgerKeyHashArr = when(col("tx.soroban").isNotNull &&
            size(col("tx.soroban.footprint_keys_xdr")) > 0,
          transform(col("tx.soroban.footprint_keys_xdr"), k => sha2(k, 256))),
        contractCodeHash = when(col("tx.soroban").isNotNull, {
          val codeKey = get(filter(col("tx.soroban.footprint_keys_xdr"), k =>
            substring(k, 1, 4) === lit(Array[Byte](0, 0, 0, 7))), lit(0))
          when(codeKey.isNotNull, lower(hex(substring(codeKey, 5, 32))))
        }),
        parametersB64 = when(size(col("op.parameters_xdr")) > 0,
          transform(col("op.parameters_xdr"), p => base64NoWrap(p))),
        parametersJson = when(size(col("op.parameters_xdr")) > 0,
          transform(col("op.parameters_xdr"), p => scvalJson(p))),
        // amount.String128 scaling: decimal(38,7) holds all but the last
        // digit of the i128 range without long overflow; 39-digit outliers
        // keep the raw integer string rather than throwing under ANSI.
        // Cast to (38,7) BEFORE dividing: (38,7)/(20,0) re-adjusts to
        // (38,7) under precision-loss rules, while (38,0)/(20,0) lands
        // on (38,6) and silently zeroes the 7th decimal digit.
        assetBalanceChanges = when(size(col("op.sac_events")) > 0,
          transform(sacEventsParse(col("op.sac_events")), e => struct(
            e("from").as("from"), e("to").as("to"),
            e("event_type").as("type"),
            when(length(e("amount")) <= 31,
              (e("amount").cast("decimal(38,7)") /
                lit(graft.codec.Amounts.StroopsPerLumen))
                .cast("decimal(38,7)").cast("string"))
              .otherwise(e("amount")).as("amount"),
            e("asset_type").as("asset_type"),
            e("asset_code").as("asset_code"),
            e("asset_issuer").as("asset_issuer")))),
        extendTo = col("op.extend_to"),
        // create-contract id preimage (`switchContractIdPreimageType`,
        // operation.go:2275-2295): the "from" tag rides the shared `from`
        // field and the asset the shared `asset` field
        preimageTag = when(col("op.preimage_from_address_key").isNotNull
            || col("op.preimage_from_contract_id").isNotNull,
            lit("address"))
          .when(col("op.preimage_from_asset").isNotNull, lit("asset")),
        preimageAddress = when(col("op.preimage_from_address_key").isNotNull,
            strkeyAccount(col("op.preimage_from_address_key")))
          .when(col("op.preimage_from_contract_id").isNotNull,
            GraftFunctions.strkeyContract(col("op.preimage_from_contract_id"))),
        preimageAssetCanon = when(col("op.preimage_from_asset").isNotNull,
          assetCanon(col("op.preimage_from_asset")))))
    val detailsStruct = OperationDetails.struct(detailInputs)

    val ops = ledgers
      .select(col("sequence"), col("closed_at"),
        posexplode(col("transactions")).as(Seq("tx_pos", "tx")))
      .select(col("sequence"), col("closed_at"), col("tx_pos"), col("tx"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
      .select(
        strkeyAccount(coalesce(col("op.source_key"), col("tx.source_key")))
          .as("source_account"),
        when(col("op.source_key").isNull &&
            col("tx.source_muxed_id").isNotNull,
          strkeyMuxed(col("tx.source_key"), col("tx.source_muxed_id")))
          .as("source_account_muxed"),
        col("op.op_type").as("type"),
        element_at(opTypeNameCol, col("op.op_type")).as("type_string"),
        // `details` is the typed wide struct — the reference's sparse
        // per-type map (`schema.go:137`): null fields drop out of NDJSON
        // via the writer's ignoreNullFields, so the rendered object
        // carries only the keys the op type populates. `details_json`
        // (added by `OperationDetails.withJson`) renders this SAME
        // column (`operation.go:97` assigns outputDetails to both).
        detailsStruct.as("details"),
        transactionToid(col("sequence"), col("tx_pos") + 1)
          .as("transaction_id"),
        operationToid(col("sequence"), col("tx_pos") + 1, col("op_pos"))
          .as("id"),
        col("closed_at"),
        col("op.result_code").as("operation_result_code"),
        col("op.trace_code").as("operation_trace_code"),
        col("sequence").as("ledger_sequence"),
        successful.as("tx_successful"))
    OperationDetails.withJson(ops, "tx_successful").drop("tx_successful")
  }

  /** P6/A2 model path — `history_assets`: payment + manage-sell-offer issued
    * assets deduped on the (code, issuer, type) triple keeping the
    * EARLIEST op (`asset.go:14-61`, `cmd/export_assets.go:39-58`) — a
    * map-side-combinable `min_by`, no window, one shuffle. */
  def historyAssets(ledgers: Dataset[LedgerRow]): DataFrame = {
    import graft.functions.GraftFunctions.{farmHashAssetId, operationToid}
    val ops = ledgers
      .select(col("sequence"), col("closed_at"),
        posexplode(col("transactions")).as(Seq("tx_pos", "tx")))
      .select(col("sequence"), col("closed_at"), col("tx_pos"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
    ops
      .select(col("sequence"), col("closed_at"), col("tx_pos"), col("op_pos"),
        when(col("op.op_type") === 1, col("op.asset"))
          .when(col("op.op_type") === 3, col("op.selling_asset")).as("a"))
      .where(col("a").isNotNull)
      .groupBy(col("a.asset_code").as("asset_code"),
        col("a.asset_issuer").as("asset_issuer"),
        col("a.asset_type").as("asset_type"))
      .agg(min_by(
        struct(col("closed_at").as("closed_at"),
          col("sequence").as("ledger_sequence")),
        operationToid(col("sequence"), col("tx_pos") + 1, col("op_pos")))
        .as("f"))
      .select(col("asset_code"), col("asset_issuer"), col("asset_type"),
        farmHashAssetId(col("asset_code"), col("asset_issuer"),
          col("asset_type")).as("asset_id"),
        col("f.closed_at").as("closed_at"),
        col("f.ledger_sequence").as("ledger_sequence"))
  }

  /** Raw per-tx envelope passthrough — `ledger_transactions` at the
    * reference's `LedgerTransactionOutput` key set (`schema.go:81-89`,
    * `ledger_transaction.go:13-58`): the four XDR blobs, the header XDR as
    * `tx_ledger_history`, and the ledger coordinates. Map-only. */
  def ledgerTransactions(ledgers: DataFrame): DataFrame =
    ledgers
      .select(col("sequence"), col("closed_at"), col("header_b64"),
        explode(col("transactions")).as("tx"))
      .select(col("sequence").cast("long").as("ledger_sequence"),
        col("tx.envelope_b64").as("tx_envelope"),
        // the RESULT PAIR, not the bare result: `transaction.Result` here is
        // TransactionResultPair = tx hash (32) ‖ TransactionResult — the
        // real ledger_transactions golden decodes exactly so
        GraftFunctions.base64NoWrap(concat(unhex(col("tx.hash_hex")),
          unbase64(col("tx.result_b64")))).as("tx_result"),
        col("tx.meta_b64").as("tx_meta"),
        col("tx.fee_meta_b64").as("tx_fee_meta"),
        col("header_b64").as("tx_ledger_history"),
        col("closed_at"))

  /** Model-path `contract_events` at the reference's `ContractEventOutput`
    * key set (`schema.go:622-637`, `contract_events.go:20-104,128-169`):
    * one row per contract event in the tx meta, topics/data as
    * base64(ScVal XDR) beside their recursively-decoded VARIANTs, plus the
    * whole-event XDR (`contract_event_xdr` — the REAL DiagnosticEvent
    * layout the reference persists, byte-verified against its golden
    * blobs in ReferenceGoldenSpec). Map-only fan-out; no shuffle. */
  def contractEvents(ledgers: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    val evs = ledgers
      .select(col("sequence"), col("closed_at"),
        posexplode(col("transactions")).as(Seq("tx_pos", "tx")))
      .select(col("sequence"), col("closed_at"),
        col("tx.hash_hex").as("transaction_hash"),
        transactionToid(col("sequence"), col("tx_pos") + 1)
          .as("transaction_id"),
        col("tx.successful").as("successful"),
        explode(col("tx.operations")).as("op"))
      .select(col("sequence"), col("closed_at"), col("transaction_hash"),
        col("transaction_id"), col("successful"),
        explode(col("op.sac_events")).as("ev"))
    // the REAL persisted layout — a DiagnosticEvent wrapper around the
    // ContractEvent, byte-verified against all 189 blobs in the
    // reference's contract_events golden: inSuccessfulContractCall bool ‖
    // ext(0) ‖ optional contractID ‖ type (CONTRACT = 1) ‖ body v0 ‖
    // topics<ScVal> ‖ data ScVal
    val eventXdr = concat(
      int32be(col("successful").cast("int")), // DiagnosticEvent flag
      unhex(lit("00000000")), // ContractEvent ext v0
      unhex(lit("00000001")), col("ev.contract_id"), // optional id, present
      unhex(lit("00000001")), // ContractEventType CONTRACT = 1
      unhex(lit("00000000")), // body v0
      int32be(size(col("ev.topics_xdr"))),
      concat_binary(col("ev.topics_xdr")),
      col("ev.data_xdr"))
    evs.select(
      col("transaction_hash"), col("transaction_id"), col("successful"),
      col("sequence").cast("long").as("ledger_sequence"), col("closed_at"),
      col("successful").as("in_successful_contract_call"),
      strkeyContract(col("ev.contract_id")).as("contract_id"),
      lit(1).as("type"), // ContractEventType: 0 system, 1 CONTRACT, 2 diag
      lit("ContractEventTypeContract").as("type_string"),
      transform(col("ev.topics_xdr"), t => base64NoWrap(t)).as("topics"),
      transform(col("ev.topics_xdr"), t => parse_json(scvalJson(t)))
        .as("topics_decoded"),
      base64NoWrap(col("ev.data_xdr")).as("data"),
      parse_json(scvalJson(col("ev.data_xdr"))).as("data_decoded"),
      base64NoWrap(eventXdr).as("contract_event_xdr"))
  }

  /** Big-endian uint32 as 4 binary bytes (XDR scalar layout). */
  private def int32be(c: Column): Column =
    unhex(lpad(hex(c.cast("int")), 8, "0"))

  /** Binary concat of an array<binary> column (XDR vector body). */
  private def concat_binary(c: Column): Column =
    aggregate(c, lit(Array.emptyByteArray), (acc, x) => concat(acc, x))
}
