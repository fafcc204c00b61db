package graft.model

import java.sql.Timestamp

/** The decoded source grain: one row per ledger with nested transactions and
  * operations — what the XDR decode layer emits at the source boundary
  * (SURVEY §7.1: decode ONCE into nested columnar structs, then stay
  * declarative). Mirrors the information content of `LedgerCloseMeta` that the
  * reference's transforms consume (`internal/input/ledgers.go:25`,
  * `transactions.go:16-20`).
  *
  * Byte-typed fields hold raw key material (ed25519 keys, hashes); strkey /
  * hex / base64 rendering happens in the transforms, not the decoder. */
object LedgerModel {

  /** An asset reference inside envelopes/results. */
  case class AssetRef(asset_type: String, asset_code: String, asset_issuer: String)

  /** One claimed offer (claim atom) from a trade-producing op's result
    * (`trade.go:164-262`). Offer-type atoms always carry the claimed offer's
    * real on-chain `offer_id` (`trade.go:111` reads `claimOffer.OfferId()`
    * unconditionally); only LP atoms leave it None. */
  case class ClaimAtom(
      atom_type: String, // "offer" | "liquidity_pool"
      seller_key: Option[Array[Byte]],
      offer_id: Option[Long],
      pool_id: Option[Array[Byte]],
      amount_sold_stroops: Long,
      amount_bought_stroops: Long,
      asset_sold: AssetRef,
      asset_bought: AssetRef)

  /** One entry-change recorded under the op (application order preserved) —
    * the pre-state source for trade prices / pool fees (`trade.go:264-317`)
    * and the pre/post delta source for LP deposit/withdraw details
    * (`operation.go:238-285` getLiquidityPoolAndProductDelta). */
  case class OpChange(
      entry_type: String, // "offer" | "liquidity_pool" | ...
      seller_key: Option[Array[Byte]],
      offer_id: Option[Long],
      pool_id: Option[Array[Byte]],
      pre_price_n: Option[Int], pre_price_d: Option[Int],
      pre_pool_fee: Option[Long],
      pre_reserves_deposited: Option[Long] = None,
      pre_reserves_disbursed: Option[Long] = None,
      // LP pre/post product state (reserves A/B + shares) and pool assets
      pre_reserve_a: Option[Long] = None, pre_reserve_b: Option[Long] = None,
      post_reserve_a: Option[Long] = None, post_reserve_b: Option[Long] = None,
      pre_total_shares: Option[Long] = None, post_total_shares: Option[Long] = None,
      pool_asset_a: Option[AssetRef] = None, pool_asset_b: Option[AssetRef] = None,
      // the pool entry's share-trustline count (post state), rendered as
      // the nested liquidity_pool "total_trustlines" string
      // (`liquidityPoolDetails`, effects.go:1248-1266)
      post_trustline_count: Option[Long] = None,
      // ClaimableBalanceEntry ext-v1 clawback flag of a created/removed CB
      // entry change — CB created/claimed effects emit it as
      // claimable_balance_clawback_enabled_flag
      // (`setClaimableBalanceFlagDetails`, effects.go:826-831)
      cb_clawback_enabled: Option[Boolean] = None,
      // trustline changes: the ledger-entry change kind (0 created / 1
      // updated / 2 removed) and the line's asset type, which change_trust
      // effect derivation matches against the op line
      // (`addChangeTrustEffects`, effects.go:637-695)
      change_kind: Option[Int] = None,
      tl_asset_type: Option[String] = None,
      // entry + signer sponsorship transition payload, when this change
      // carries one (`addLedgerEntrySponsorshipEffects` /
      // `addSignerSponsorshipEffects`, effects.go:225-368)
      sponsorship: Option[SponsorshipChange] = None,
      // claimable balance created by an LP-share revocation
      // (`addLiquidityPoolRevokedEffect`, effects.go:1160-1224)
      cb_revocation: Option[RevokedCb] = None,
      // TTL entry key hash: extend/restore footprint effects render the
      // affected entries as base64 XDR TTL ledger keys
      // (`addExtendFootprintTtlEffect`, effects.go:1434-1474)
      ttl_key_hash: Option[Array[Byte]] = None)

  /** One claimable balance created while revoking liquidity-pool shares:
    * the reference matches created CB entries to the pool's reserve assets
    * and fans out CB-created effects plus one liquidity_pool_revoked. */
  case class RevokedCb(
      balance_id: Array[Byte], amount_stroops: Long, asset: AssetRef,
      claimant_key: Array[Byte], claimant_predicate_xdr: Array[Byte])

  /** One sponsored signer of an account entry state (the reference's
    * `SponsorPerSigner` map entries, effects.go:232-240). */
  case class SignerSponsor(signer_key: Array[Byte], sponsor_key: Array[Byte])

  /** Pre/post sponsorship state of one ledger-entry change. The effect
    * family derives from the entry type; created/updated/removed derive
    * from pre/post sponsor presence — NOT from the entry change kind
    * (effects.go:296-317). */
  case class SponsorshipChange(
      pre_sponsor_key: Option[Array[Byte]],
      post_sponsor_key: Option[Array[Byte]],
      // owning account for account/trustline entries (the effect subject;
      // data/claimable-balance effects address the op source instead)
      subject_key: Option[Array[Byte]],
      data_name: Option[String],
      cb_id: Option[Array[Byte]],
      tl_asset: Option[AssetRef],
      tl_pool_id: Option[Array[Byte]],
      pre_signer_sponsors: Seq[SignerSponsor] = Seq.empty,
      post_signer_sponsors: Seq[SignerSponsor] = Seq.empty)

  /** One claimable-balance claimant; the recursive predicate travels as XDR
    * bytes (Spark encoders cannot hold a recursive case class) and is
    * rendered by `graft.codec.ClaimPredicate` (`schema.go:166-170`). */
  case class Claimant(destination_key: Array[Byte], predicate_xdr: Array[Byte])

  /** One inflation payout from the op result (`effects.go:745-755`). */
  case class InflationPayout(destination_key: Array[Byte], amount_stroops: Long)

  /** One Soroban contract event as emitted in tx meta: topics + data ride as
    * raw ScVal XDR; `graft.codec.SacEvents` recognizes the SAC shapes
    * (`operation.go:1942-1975`, `effects.go:1319-1430`). */
  case class SacEventRaw(contract_id: Array[Byte],
      topics_xdr: Seq[Array[Byte]], data_xdr: Array[Byte])

  /** One operation inside a transaction envelope. The per-type fields below
    * are the inputs of `history_operations.details` / `details_json`, which
    * `plans.OperationDetailsExpression` renders from them by field name. */
  case class OpModel(
      op_type: Int,
      source_key: Option[Array[Byte]], // None → falls back to tx source
      source_muxed_id: Option[Long],
      amount_stroops: Long,
      result_code: String,
      trace_code: String,
      claim_atoms: Seq[ClaimAtom] = Seq.empty,
      changes: Seq[OpChange] = Seq.empty,
      /** The taker's own offer id from this op's ManageOfferSuccess result
        * (`trade.go:188-224` BuyingOffer); None ⇔ no result offer survived
        * (fully-consumed offer, or a path payment) → synthetic id downstream. */
      result_offer_id: Option[Long] = None,
      destination_key: Option[Array[Byte]] = None,
      destination_muxed_id: Option[Long] = None,
      asset: Option[AssetRef] = None,
      // ---- per-type envelope/result payloads for the details case law
      // (`operation.go:584-1173`); sparse — only the owning op type fills them
      starting_balance_stroops: Option[Long] = None, // create_account
      path: Seq[AssetRef] = Seq.empty, // path payments: intermediate hops
      source_asset: Option[AssetRef] = None,
      source_amount_stroops: Option[Long] = None, // actual from result
      source_max_stroops: Option[Long] = None, // strict-receive SendMax
      destination_min_stroops: Option[Long] = None, // strict-send DestMin
      offer_id: Option[Long] = None, // manage offers: op body offer id
      buying_asset: Option[AssetRef] = None,
      selling_asset: Option[AssetRef] = None,
      price_n: Option[Int] = None, price_d: Option[Int] = None,
      // set_options
      inflation_dest_key: Option[Array[Byte]] = None,
      set_flags: Option[Int] = None, clear_flags: Option[Int] = None,
      master_weight: Option[Int] = None,
      low_threshold: Option[Int] = None, med_threshold: Option[Int] = None,
      high_threshold: Option[Int] = None,
      home_domain: Option[String] = None,
      signer_key: Option[Array[Byte]] = None, signer_weight: Option[Int] = None,
      // change_trust / allow_trust / set_trust_line_flags
      trust_asset: Option[AssetRef] = None,
      trust_pool_id: Option[Array[Byte]] = None, // pool-share trust line
      trust_limit_stroops: Option[Long] = None,
      trustor_key: Option[Array[Byte]] = None,
      authorize_flags: Option[Int] = None, // allow_trust Authorize value
      tl_set_flags: Option[Int] = None, tl_clear_flags: Option[Int] = None,
      // manage_data / bump_sequence
      data_name: Option[String] = None, data_value: Option[Array[Byte]] = None,
      bump_to: Option[Long] = None,
      // claimable balances
      cb_asset: Option[AssetRef] = None,
      cb_amount_stroops: Option[Long] = None,
      claimants: Seq[Claimant] = Seq.empty,
      balance_id: Option[Array[Byte]] = None, // 32-byte v0 hash
      // sponsorship
      sponsored_id_key: Option[Array[Byte]] = None,
      revoke_signer_account_key: Option[Array[Byte]] = None,
      revoke_signer_key: Option[Array[Byte]] = None,
      revoke_account_id_key: Option[Array[Byte]] = None, // ledger-key revokes
      revoke_offer_id: Option[Long] = None,
      // trustline-key revokes carry the line's asset (classic arm) or the
      // pool id (pool-share arm) — `addLedgerKeyToDetails`,
      // operation.go trustline case (trustline_asset /
      // trustline_liquidity_pool_id keys)
      revoke_trustline_asset: Option[AssetRef] = None,
      revoke_trustline_pool_id: Option[Array[Byte]] = None,
      // liquidity pools
      pool_id: Option[Array[Byte]] = None,
      max_amount_a: Option[Long] = None, max_amount_b: Option[Long] = None,
      min_amount_a: Option[Long] = None, min_amount_b: Option[Long] = None,
      min_price_n: Option[Int] = None, min_price_d: Option[Int] = None,
      max_price_n: Option[Int] = None, max_price_d: Option[Int] = None,
      lp_shares_stroops: Option[Long] = None, // withdraw op.Amount
      // soroban
      host_fn_type: Option[String] = None,
      soroban_contract_id: Option[Array[Byte]] = None,
      parameters_xdr: Seq[Array[Byte]] = Seq.empty, // ScVal binaries
      extend_to: Option[Long] = None,
      sac_events: Seq[SacEventRaw] = Seq.empty,
      inflation_payouts: Seq[InflationPayout] = Seq.empty,
      // create-contract id preimage (`operation.go:2275-2295`); the
      // address arm may be an account (G…) or a contract (C…) deployer —
      // split so the transform can pick the right strkey version byte
      preimage_from_address_key: Option[Array[Byte]] = None,
      preimage_from_contract_id: Option[Array[Byte]] = None,
      preimage_from_asset: Option[AssetRef] = None)

  /** One diagnostic-grain contract event from tx meta — the
    * `contract_events` table grain (`contract_events.go:20-104`): the
    * diagnostic flag, the optional emitting contract, the event type enum,
    * topics/data as raw ScVal XDR, and the DiagnosticEvent bytes the
    * reference passes through as `contract_event_xdr`. */
  case class DiagEventModel(
      in_successful_call: Boolean,
      contract_id: Option[Array[Byte]],
      event_type: Int, // 0 system / 1 contract / 2 diagnostic
      topics_xdr: Seq[Array[Byte]],
      data_xdr: Array[Byte],
      diag_xdr: Array[Byte])

  /** Fee-account balance change from fee meta / TxChangesAfter — the J4
    * lookup source (`transaction.go:277-305`). */
  case class BalanceChange(
      account_key: Array[Byte], balance_before: Long, balance_after: Long)

  /** One Soroban-family ledger-entry change at the state-table grain
    * (`utils.ExtractEntryFromChange` semantics): the FULL LedgerEntry XDR
    * (the pre entry for removals), the change kind, and the deleted flag. */
  case class StateChangeModel(
      entry_xdr: Array[Byte], change_kind: Int, deleted: Boolean)

  /** Soroban transaction data (envelope ext + SorobanMeta ext V1). */
  case class SorobanModel(
      resource_fee: Long, instructions: Long, read_bytes: Long,
      write_bytes: Long, non_refundable_fee: Long, refundable_fee: Long,
      rent_fee: Long,
      // raw XDR footprint ledger keys (read-only ++ read-write) — the
      // invoke details derive ledger_key_hash / contract_code_hash from
      // these (`ledgerKeyHashFromTxEnvelope`, operation.go:1841-1874)
      footprint_keys_xdr: Seq[Array[Byte]] = Seq.empty)

  /** One transaction: envelope + result + meta essentials. */
  case class TxModel(
      hash_hex: String,
      source_key: Array[Byte],
      source_muxed_id: Option[Long], // Some → account_muxed M-address emitted
      account_sequence: Long,
      max_fee: Long,
      fee_charged: Long,
      successful: Boolean,
      result_code: String,
      memo_type: String, // none | text | id | hash | return
      memo_text: Option[String],
      memo_id: Option[Long],
      memo_hash: Option[Array[Byte]],
      time_min: Option[Long], time_max: Option[Long],
      ledger_min: Option[Long], ledger_max: Option[Long],
      envelope_b64: String, result_b64: String, meta_b64: String,
      fee_meta_b64: String,
      signers: Seq[Array[Byte]],
      operations: Seq[OpModel],
      soroban: Option[SorobanModel] = None,
      fee_changes: Seq[BalanceChange] = Seq.empty,
      changes_after: Seq[BalanceChange] = Seq.empty,
      is_fee_bump: Boolean = false,
      fee_bump_account_key: Option[Array[Byte]] = None,
      inner_hash_hex: Option[String] = None,
      new_max_fee: Option[Long] = None,
      // PreconditionsV2 (CAP-21): null unless the envelope carries cond v2
      // (`transaction.go` MinSeqNum/MinSeqAge/MinSeqLedgerGap/ExtraSigners)
      min_seq_num: Option[Long] = None,
      min_seq_age: Option[Long] = None,
      min_seq_ledger_gap: Option[Long] = None,
      extra_signer_keys: Seq[Array[Byte]] = Seq.empty,
      // diagnostic-grain contract events (tx meta v3 SorobanMeta) — the
      // contract_events table reads these; empty off classic meta
      diag_events: Seq[DiagEventModel] = Seq.empty,
      // soroban-family entry changes (contract data/code, config, ttl)
      // across the tx's whole meta — the P13-P16 state-table grain
      state_changes: Seq[StateChangeModel] = Seq.empty)

  /** The tx-set counts `history_ledgers` reports (`transform/ledger.go`):
    * txs that succeeded and failed, ops in the successful txs, and ops in
    * the whole tx set. Carried as decoded scalars so the ledgers export
    * reads no `transactions` array; every `LedgerRow` takes them from
    * [[TxCounts.of]] over its own transactions. */
  case class TxCounts(
      successful_txs: Int, failed_txs: Int,
      successful_ops: Int, tx_set_ops: Int)

  object TxCounts {
    def of(txs: Seq[TxModel]): TxCounts = {
      val (ok, failed) = txs.partition(_.successful)
      TxCounts(ok.size, failed.size, ok.map(_.operations.size).sum,
        txs.map(_.operations.size).sum)
    }
  }

  /** One closed ledger. `tx_counts` is `TxCounts.of(transactions)`. */
  case class LedgerRow(
      sequence: Long,
      ledger_hash: Array[Byte],
      previous_ledger_hash: Array[Byte],
      header_b64: String,
      closed_at: Timestamp,
      total_coins: Long,
      fee_pool: Long,
      base_fee: Long,
      base_reserve: Long,
      max_tx_set_size: Long,
      protocol_version: Long,
      soroban_fee_write_1kb: Long,
      node_id_key: Array[Byte],
      signature: Array[Byte],
      bucket_list_size: Long,
      transactions: Seq[TxModel],
      tx_counts: TxCounts)
}
