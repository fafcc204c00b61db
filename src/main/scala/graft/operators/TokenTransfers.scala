package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.model.LedgerModel.LedgerRow

/** P19 — `token_transfers`: the unified transfer/mint/burn/clawback/fee event
  * stream (`transform/token_transfer.go:14-151` + the stellar/go
  * EventsProcessor semantics), derived per ledger for every value-moving op:
  *
  *   - one `fee` event per transaction (fee account pays the network);
  *   - `transfer` from create_account (funder → new account, native),
  *     payments, account merges, path payments (final leg source→dest);
  *   - two swap legs per claim atom of trades and path payments — taker
  *     pays the bought asset to the atom seller, seller pays the sold asset
  *     to the taker; LP atoms use the pool's L-address as counterparty;
  *   - claimable balances move value to/from the balance's B-address
  *     (create = deposit into the CB, claim = withdrawal from it);
  *   - LP deposit/withdraw move both reserve assets between the op source
  *     and the pool's L-address, amounts from the pre/post product delta;
  *   - `mint`/`burn` when a payment-leg counterparty is the asset issuer
  *     (issuer pays out = mint, issuer receives = burn);
  *   - one `mint` per inflation payout (op 9): the protocol creates new
  *     lumens, so the legs have no `from` party;
  *   - `clawback` from clawback ops (from = clawed account, value burned)
  *     and CB clawbacks (from = the B-address).
  *
  * Asset rendered canonically `type:code:issuer` / `"native"`
  * (`token_transfer.go:132-151`); amounts emitted both as raw stroop strings
  * and XLM floats. [[verify]] is the `VerifyEvents` consistency check. */
object TokenTransfers {

  // amount rides as a decimal STRING: SAC event amounts are i128 and can
  // exceed long range; classic-op longs stringify losslessly
  private val evType = "struct<event_topic:string,from:string,to:string," +
    "asset:string,amount_str:string,to_muxed:string,to_muxed_id:string>"

  def fromLedgers(ledgers: Dataset[LedgerRow],
      passphrase: String = graft.codec.SacContractId.PublicPassphrase): DataFrame = {
    val txGrain = ledgers.select(
      col("sequence"), col("closed_at"),
      posexplode(col("transactions")).as(Seq("tx_pos", "tx")))

    // fee events: tx grain
    val fees = txGrain.select(
      col("tx.hash_hex").as("transaction_hash"),
      transactionToid(col("sequence"), col("tx_pos") + 1).as("transaction_id"),
      lit(null).cast("long").as("operation_id"),
      lit("fee").as("event_topic"),
      strkeyAccount(coalesce(col("tx.fee_bump_account_key"), col("tx.source_key")))
        .as("from"),
      lit(null).cast("string").as("to"),
      lit("native").as("asset"),
      lit("native").as("asset_type"),
      lit(null).cast("string").as("asset_code"),
      lit(null).cast("string").as("asset_issuer"),
      stroopsToXlm(col("tx.fee_charged")).as("amount"),
      col("tx.fee_charged").cast("string").as("amount_raw"),
      sacContractOf(lit("native"), lit(null).cast("string"),
        lit(null).cast("string"), passphrase).as("contract_id"),
      col("sequence").as("ledger_sequence"),
      col("closed_at"),
      lit(null).cast("string").as("to_muxed"),
      lit(null).cast("string").as("to_muxed_id"))

    val ops = txGrain
      .where(col("tx.successful"))
      .select(col("sequence"), col("closed_at"), col("tx_pos"), col("tx"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))

    val ty = col("op.op_type")
    val fromKey = coalesce(col("op.source_key"), col("tx.source_key"))
    val fromAddr = strkeyAccount(fromKey)
    val toAddr = when(col("op.destination_key").isNotNull,
      strkeyAccount(col("op.destination_key")))
    val cbAddr = when(col("op.balance_id").isNotNull,
      strkeyBalance(col("op.balance_id")))
    val poolAddr = when(col("op.pool_id").isNotNull,
      strkeyPool(col("op.pool_id")))

    def ev(topic: Column, from: Column, to: Column, asset: Column,
        amount: Column, toMuxedId: Column = lit(null).cast("string"),
        toMuxed: Column = lit(null).cast("string")): Column =
      struct(topic.as("event_topic"), from.as("from"), to.as("to"),
        asset.as("asset"), amount.cast("string").as("amount_str"),
        toMuxed.as("to_muxed"), toMuxedId.as("to_muxed_id"))

    def canonOf(a: Column): Column =
      assetCanonical(coalesce(a("asset_type"), lit("native")),
        a("asset_code"), a("asset_issuer"))

    // issuer account key convention: sha256("issuer-" ‖ issuer name) — a leg
    // FROM the issuer mints the asset, a leg TO the issuer burns it
    def issuerKeyOf(a: Column): Column = when(a("asset_type") =!= "native",
      unhex(sha2(concat(lit("issuer-"), a("asset_issuer")), 256)))
    def payTopic(a: Column, from: Column, to: Column): Column = {
      val issuer = issuerKeyOf(a)
      when(issuer.isNotNull && from === issuer, "mint")
        .when(issuer.isNotNull && to === issuer, "burn")
        .otherwise("transfer")
    }

    val noEv = array().cast(s"array<$evType>")
    val opAsset = col("op.asset")

    val createAccount = array(ev(lit("transfer"), fromAddr, toAddr,
      lit("native"), col("op.starting_balance_stroops")))
    // destination muxing: an envelope-muxed destination keeps its id; a
    // plain destination picks up the TX MEMO as muxed info — MEMO_ID
    // attaches the id, any other present memo attaches id 0 (the
    // token-transfer processor's memo law, verified against the real
    // 10_ledgers/one_ledger transfer goldens: MemoId 1755922 → id 1755922,
    // MemoText rows → id 0, MemoNone rows → unmuxed)
    val memoMuxId = when(col("tx.memo_type") === "id", col("tx.memo_id"))
      .when(col("tx.memo_type").isin("text", "hash", "return"), lit(0L))
    val payMuxId = coalesce(col("op.destination_muxed_id"), memoMuxId)
    val payment = array(ev(
      payTopic(opAsset, fromKey, col("op.destination_key")),
      fromAddr, toAddr, canonOf(opAsset), col("op.amount_stroops"),
      payMuxId.cast("string"),
      when(payMuxId.isNotNull,
        strkeyMuxed(col("op.destination_key"), payMuxId))))
    val accountMerge = array(ev(lit("transfer"), fromAddr, toAddr,
      lit("native"), col("op.amount_stroops")))
    val clawback = array(ev(lit("clawback"), toAddr,
      lit(null).cast("string"), canonOf(opAsset), col("op.amount_stroops")))
    val clawbackCb = array(ev(lit("clawback"), cbAddr,
      lit(null).cast("string"), canonOf(col("op.cb_asset")),
      col("op.cb_amount_stroops")))
    val createCb = array(ev(lit("transfer"), fromAddr, cbAddr,
      canonOf(col("op.cb_asset")), col("op.cb_amount_stroops")))
    val claimCb = array(ev(lit("transfer"), cbAddr, fromAddr,
      canonOf(col("op.cb_asset")), col("op.cb_amount_stroops")))

    // swap legs per claim atom (both directions); LP atoms trade against the
    // pool's L-address
    val tradeLegs = flatten(transform(col("op.claim_atoms"), a => {
      val seller = when(a("atom_type") === "liquidity_pool",
        strkeyPool(a("pool_id"))).otherwise(strkeyAccount(a("seller_key")))
      array(
        ev(lit("transfer"), seller, fromAddr, canonOf(a("asset_sold")),
          a("amount_sold_stroops")),
        ev(lit("transfer"), fromAddr, seller, canonOf(a("asset_bought")),
          a("amount_bought_stroops")))
    }))
    // path payments append the final delivery leg source→destination
    val pathPayment = concat(tradeLegs, array(ev(
      payTopic(opAsset, fromKey, col("op.destination_key")),
      fromAddr, toAddr, canonOf(opAsset), col("op.amount_stroops"))))

    // LP deposit/withdraw: both reserve assets move between source and pool,
    // amounts from the product delta (`getLiquidityPoolAndProductDelta`)
    val lpChange = lastPoolChange(col("op.changes"), col("op.pool_id"))
    def lpLegs(deposit: Boolean): Column = {
      def delta(pre: String, post: String): Column =
        if (deposit) lpChange(post) - lpChange(pre)
        else lpChange(pre) - lpChange(post)
      val (legFrom, legTo) =
        if (deposit) (fromAddr, poolAddr) else (poolAddr, fromAddr)
      when(lpChange.isNotNull, array(
        ev(lit("transfer"), legFrom, legTo, canonOf(lpChange("pool_asset_a")),
          delta("pre_reserve_a", "post_reserve_a")),
        ev(lit("transfer"), legFrom, legTo, canonOf(lpChange("pool_asset_b")),
          delta("pre_reserve_b", "post_reserve_b")))).otherwise(noEv)
    }

    // inflation payouts (op 9): the protocol mints new lumens, one `mint`
    // event per payout result — native asset, no `from` party (the
    // EventsProcessor inflation branch behind `token_transfer.go:14-151`)
    val inflationLegs = transform(col("op.inflation_payouts"), p =>
      ev(lit("mint"), lit(null).cast("string"),
        strkeyAccount(p("destination_key")), lit("native"),
        p("amount_stroops")))

    // SAC events from invoke-host-function ops become first-class legs with
    // their own topics (transfer/mint/burn/clawback) — the processor's SAC
    // branch (`token_transfer.go` + stellar/go EventsProcessor)
    val sacLegs = transform(sacEventsParse(col("op.sac_events")), e =>
      ev(e("event_type"), e("from"), e("to"),
        when(e("asset_type") === "native", lit("native"))
          .otherwise(concat_ws(":", e("asset_type"), e("asset_code"),
            e("asset_issuer"))),
        e("amount")))

    val eventsArr =
      when(ty === 0, createAccount)
        .when(ty === 1, payment)
        .when(ty.isin(2, 13), pathPayment)
        .when(ty.isin(3, 4, 12), tradeLegs)
        .when(ty === 8, accountMerge)
        .when(ty === 9, inflationLegs)
        .when(ty === 14, createCb)
        .when(ty === 15, claimCb)
        .when(ty === 19, clawback)
        .when(ty === 20, clawbackCb)
        .when(ty === 22, lpLegs(deposit = true))
        .when(ty === 23, lpLegs(deposit = false))
        .when(ty === 24, sacLegs)
        .otherwise(noEv)

    val transfers = ops
      .select(col("sequence"), col("closed_at"), col("tx_pos"), col("op_pos"),
        col("tx.hash_hex").as("transaction_hash"),
        posexplode(eventsArr).as(Seq("ev_pos", "e")))
      .select(
        col("transaction_hash"),
        transactionToid(col("sequence"), col("tx_pos") + 1).as("transaction_id"),
        operationToid(col("sequence"), col("tx_pos") + 1, col("op_pos"))
          .as("operation_id"),
        col("e.event_topic").as("event_topic"),
        col("e.from").as("from"),
        col("e.to").as("to"),
        col("e.asset").as("asset"),
        // the canonical string is `type:code:issuer` (or `native`) — split
        // it back into the typed triple (`TokenTransferOutput`,
        // schema.go:645-648: code/issuer are null for native)
        coalesce(split_part(col("e.asset"), lit(":"), lit(1)), lit("native"))
          .as("asset_type"),
        when(col("e.asset") =!= "native",
          split_part(col("e.asset"), lit(":"), lit(2))).as("asset_code"),
        when(col("e.asset") =!= "native",
          split_part(col("e.asset"), lit(":"), lit(3))).as("asset_issuer"),
        // float view: the reference's golden rows carry raw × 1e-7 under
        // DOUBLE MULTIPLICATION (600 → 5.9999999999999995e-05), one ulp off
        // from exact division — reproduce the multiply, not a decimal path
        (col("e.amount_str").cast("double") * 1e-7).as("amount"),
        col("e.amount_str").as("amount_raw"),
        sacContractOf(
          split_part(col("e.asset"), lit(":"), lit(1)),
          when(col("e.asset") =!= "native",
            split_part(col("e.asset"), lit(":"), lit(2))),
          when(col("e.asset") =!= "native",
            split_part(col("e.asset"), lit(":"), lit(3))), passphrase)
          .as("contract_id"),
        col("sequence").as("ledger_sequence"),
        col("closed_at"),
        col("e.to_muxed").as("to_muxed"),
        col("e.to_muxed_id").as("to_muxed_id"))

    fees.unionAll(transfers)
  }

  /** The SAC contract C-address of an asset (`TokenTransferOutput.
    * ContractID`, token_transfer.go:121): the real preimage-hash codec
    * (`SacContractId.contractId`) over the asset triple; the fixture's
    * short issuer names stand in for issuer keys via sha-256. */
  private def sacContractOf(assetType: Column, code: Column,
      issuer: Column, passphrase: String): Column =
    strkeyContract(sacContractIdBytesFor(passphrase)(
      coalesce(assetType, lit("native")),
      coalesce(code, lit("")),
      when(coalesce(assetType, lit("native")) =!= "native",
        // real issuers decode to their ed25519 key (golden-verified SAC
        // ids); fixture pseudo-issuers are not strkeys and keep the
        // deterministic stand-in key their oracles replay
        coalesce(strkeyAccountKey(issuer),
          unhex(sha2(concat(lit("issuer-"), coalesce(issuer, lit(""))), 256))))
        .otherwise(lit(Array.emptyByteArray))))

  /** `VerifyEvents` analog (`token_transfer.go:15-24`): per transaction the
    * fee event total must reconcile with the charged fee, and per value-
    * moving op the emitted leg count must match the model (2 per claim atom,
    * +1 delivery leg for path payments, 2 for LP ops, 1 otherwise). Returns
    * violating transaction/operation ids (empty = consistent). */
  def verify(events: DataFrame, ledgers: Dataset[LedgerRow]): DataFrame = {
    val txGrain = ledgers
      .select(col("sequence"), posexplode(col("transactions")).as(Seq("tx_pos", "tx")))
    val feeExpected = txGrain.select(
      transactionToid(col("sequence"), col("tx_pos") + 1).as("transaction_id"),
      col("tx.fee_charged").as("expected_fee"))
    val feeViolations = events.where(col("event_topic") === "fee")
      .groupBy("transaction_id")
      .agg(sum(col("amount_raw").cast("long")).as("fee_total"))
      .join(feeExpected, Seq("transaction_id"))
      .where(col("fee_total") =!= col("expected_fee"))
      .select(col("transaction_id"), col("fee_total").as("actual"),
        col("expected_fee").as("expected"))

    val legExpected = txGrain
      .where(col("tx.successful"))
      .select(col("sequence"), col("tx_pos"),
        posexplode(col("tx.operations")).as(Seq("op_pos", "op")))
      .select(
        operationToid(col("sequence"), col("tx_pos") + 1, col("op_pos"))
          .as("transaction_id"), // op-grain id, reusing the column name
        when(col("op.op_type").isin(2, 13),
            size(col("op.claim_atoms")) * 2 + 1)
          .when(col("op.op_type").isin(3, 4, 12), size(col("op.claim_atoms")) * 2)
          .when(col("op.op_type").isin(22, 23), lit(2))
          .when(col("op.op_type") === 9, size(col("op.inflation_payouts")))
          .when(col("op.op_type") === 24,
            size(sacEventsParse(col("op.sac_events"))))
          .when(col("op.op_type").isin(0, 1, 8, 14, 15, 19, 20), lit(1))
          .otherwise(lit(0)).cast("long").as("expected"))
      .where(col("expected") > 0)
    val legViolations = events.where(col("operation_id").isNotNull)
      .groupBy(col("operation_id").as("transaction_id"))
      .agg(count(lit(1)).as("actual"))
      .join(legExpected, Seq("transaction_id"), "full_outer")
      .where(coalesce(col("actual"), lit(0L)) =!= coalesce(col("expected"), lit(0L)))
      .select("transaction_id", "actual", "expected")

    feeViolations.unionAll(legViolations)
  }
}
