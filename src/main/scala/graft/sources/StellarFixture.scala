package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.LedgerModel._

/** Deterministic in-memory generator of decoded ledgers (the shape the XDR
  * decode layer would emit). Used by specs and demos; all byte material is
  * derived from SHA-256 of labeled indices, so every run is identical. */
object StellarFixture {

  private def keyOf(label: String): Array[Byte] =
    graft.codec.Hashes.sha256(label.getBytes("UTF-8"))

  def op(l: Long, t: Int, o: Int): OpModel = {
    val ty = (l.toInt + t + o) % 27
    val isTrade = Seq(2, 3, 4, 12, 13).contains(ty)
    val nAtoms = if (isTrade) (o % 2) + 1 else 0
    val atoms = (0 until nAtoms).map { a =>
      val lp = ty == 2 && a == 0 // some path-payment atoms cross an LP
      ClaimAtom(
        atom_type = if (lp) "liquidity_pool" else "offer",
        seller_key = if (lp) None else Some(keyOf(s"seller-$l-$t-$o-$a")),
        offer_id = if (lp) None else Some(5000L + a),
        pool_id = if (lp) Some(keyOf(s"pool-$l")) else None,
        amount_sold_stroops = 2000000L * (a + 1),
        amount_bought_stroops = 1500000L * (a + 1),
        asset_sold = AssetRef("credit_alphanum4", s"SL$a", s"IS${a % 2}"),
        asset_bought = AssetRef("native", "", ""))
    }
    // change list: a decoy early change + the authoritative last pre-state
    val changes = atoms.flatMap { a =>
      if (a.atom_type == "offer" && a.offer_id.isDefined) Seq(
        OpChange("offer", a.seller_key, a.offer_id, None,
          Some(1), Some(99), None), // stale state: must NOT win
        OpChange("offer", a.seller_key, a.offer_id, None,
          Some(7), Some(2), None)) // pre-state: reverse scan finds this
      else if (a.atom_type == "liquidity_pool") Seq(
        OpChange("liquidity_pool", None, None, a.pool_id,
          None, None, Some(30L),
          pre_reserves_deposited = Some(5000000000L),
          pre_reserves_disbursed = Some(3000000000L)))
      else Seq.empty
    }
    val base = OpModel(
      op_type = ty,
      source_key = if (o % 3 == 0) None else Some(keyOf(s"op-$l-$t-$o")),
      source_muxed_id = None,
      amount_stroops = 1000000L * (o + 1) + t,
      result_code = "OperationResultCodeOpInner",
      trace_code = "success",
      claim_atoms = atoms,
      changes = changes,
      // manage-offer ops keep a result offer when not fully consumed (o even);
      // path payments never carry one → synthetic buying id downstream
      result_offer_id =
        if (Seq(3, 4, 12).contains(ty) && o % 2 == 0) Some(7000L + o) else None,
      destination_key =
        // non-native payments (o odd) on even ledgers pay the issuer → burn
        if (ty == 1 && o % 2 == 1 && l % 2 == 0) Some(keyOf(s"issuer-ISS${o % 3}"))
        else if (ty == 1 || ty == 8 || ty == 19) Some(keyOf(s"dest-$l-$t-$o"))
        else None,
      destination_muxed_id = if (ty == 1 && o % 2 == 1) Some(4200L + o) else None,
      asset = if (ty == 1 || ty == 19)
        Some(AssetRef(if (o % 2 == 0) "native" else "credit_alphanum4",
          if (o % 2 == 0) "" else s"TK$o",
          if (o % 2 == 0) "" else s"ISS${o % 3}")) else None)
    withTypePayload(base, l, t, o)
  }

  /** Per-type envelope/result payloads mirroring the reference's details
    * inputs (`operation.go:584-1173`) — deterministic from (l, t, o). One
    * method per arm keeps each under HotSpot's 8 000-byte HugeMethodLimit,
    * so the generator is JIT-compiled (`MethodSizeSpec`). */
  private def withTypePayload(base: OpModel, l: Long, t: Int, o: Int): OpModel = {
    base.op_type match {
      case 0 => createAccountPayload(base, l, t, o)
      case 2 | 13 => pathPaymentPayload(base, l, t, o)
      case 3 | 4 | 12 => offerPayload(base, l, t, o)
      case 5 => setOptionsPayload(base, l, t, o)
      case 6 => changeTrustPayload(base, l, t, o)
      case 7 => allowTrustPayload(base, l, t, o)
      case 8 => base.copy(destination_key = Some(keyOf(s"dest-$l-$t-$o")))
      case 9 => inflationPayload(base, l, t, o)
      case 10 => manageDataPayload(base, l, t, o)
      case 11 => base.copy(bump_to = Some(l * 1000000L + t * 100L + o))
      case 14 => createClaimableBalancePayload(base, l, t, o)
      case 15 | 20 => claimedBalancePayload(base, l, t, o)
      case 16 => beginSponsoringPayload(base, l, t, o)
      case 17 => base.copy(changes = base.changes :+ sponsorshipChange(l, t, o))
      case 18 => revokeSponsorshipPayload(base, l, t, o)
      case 21 => setTrustLineFlagsPayload(base, l, t, o)
      case 22 => lpDepositPayload(base, l, t, o)
      case 23 => lpWithdrawPayload(base, l, t, o)
      case 24 => invokeHostFunctionPayload(base, l, t, o)
      case 25 => extendTtlPayload(base, l, t, o)
      case 26 => restoreFootprintPayload(base, l, t, o)
      case _ => base // 1/19 carry no extra envelope payload here
    }
  }

  private def createAccountPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      starting_balance_stroops = Some(25000000L + o * 10000000L),
      destination_key = Some(keyOf(s"dest-$l-$t-$o")))

  private def pathPaymentPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel = {
    val ty = base.op_type
    base.copy(
      destination_key = Some(keyOf(s"dest-$l-$t-$o")),
      asset = Some(if (o % 2 == 0) AssetRef("native", "", "")
        else cred(s"DST$o", o % 3)),
      source_asset = Some(cred(s"SRC$o", (o + 1) % 3)),
      path = if (o % 2 == 0) Seq(cred(s"HOP$o", o % 3), AssetRef("native", "", ""))
        else Seq.empty,
      source_amount_stroops = Some(900000L * (o + 1)),
      source_max_stroops = if (ty == 2) Some(1200000L * (o + 1)) else None,
      destination_min_stroops = if (ty == 13) Some(800000L * (o + 1)) else None)
  }

  private def offerPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel = {
    val ty = base.op_type
    base.copy(
      offer_id = if (ty == 4) None else Some(if (o % 3 == 0) 0L else 6000L + o),
      selling_asset = Some(cred(s"SL$o", o % 3)),
      // alternate native / credit buying lines so the non-native
      // buying_asset_code/issuer detail keys (present on the
      // reference's golden offer rows) ride the fixtures too
      buying_asset = Some(if (o % 2 == 0) AssetRef("native", "", "")
        else cred(s"BY$o", (o + 1) % 3)),
      price_n = Some(1 + o), price_d = Some(7 + t % 3))
  }

  private def setOptionsPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      inflation_dest_key = if (o % 2 == 0) Some(keyOf(s"infl-$l-$t")) else None,
      set_flags = if (o % 2 == 0) Some(5) else None, // required|immutable
      clear_flags = if (o % 2 == 1) Some(2) else None, // revocable
      master_weight = Some(o % 256),
      low_threshold = Some(1), med_threshold = Some(2 + o % 3),
      high_threshold = Some(3 + o % 3),
      home_domain = if (o % 3 != 2) Some(s"dom$o.example") else None,
      signer_key = if (o % 2 == 0) Some(keyOf(s"signer-$l-$t-$o")) else None,
      signer_weight = if (o % 2 == 0) Some(10 - o % 5) else None)

  private def changeTrustPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel = {
    // plant the trustline ledger-entry change the reference's effect
    // derivation reads (created/updated/removed from pre/post presence,
    // effects.go:637-695); pool-share lines get no change entry so the
    // limit-heuristic fallback path stays exercised
    val removed = (l + t) % 4 == 1
    val lineIsPool = o % 3 == 2
    base.copy(
      trust_asset = if (!lineIsPool) Some(cred(s"TR$o", o % 3)) else None,
      trust_pool_id = if (lineIsPool) Some(keyOf(s"pool-$l")) else None,
      trust_limit_stroops = Some(if (removed) 0L else 500000000L * (o + 1)),
      changes = if (!lineIsPool)
        base.changes :+ OpChange("trustline",
          None, None, None, None, None, None,
          change_kind = Some(
            if (removed) 2 else if ((l + t + o) % 2 == 0) 0 else 1),
          tl_asset_type = Some("credit_alphanum4"))
      else
        // pool-share lines create/remove the pool entry itself:
        // kind 0 → liquidity_pool_created (93), 2 → removed (94),
        // 1 (update) → no LP effect (`addLedgerEntryLiquidityPoolEffects`)
        base.changes :+ OpChange("liquidity_pool",
          None, None, Some(keyOf(s"pool-$l")), None, None, Some(30L),
          post_reserve_a = Some(7000000L + o),
          post_reserve_b = Some(3000000L + o),
          post_total_shares = Some(5000000L + o),
          pool_asset_a = Some(AssetRef("native", "", "")),
          pool_asset_b = Some(cred(s"PL${l % 4}", (l % 3).toInt)),
          change_kind = Some(
            if (removed) 2 else if ((l + t + o) % 2 == 0) 0 else 1)))
  }

  private def allowTrustPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      trust_asset = Some(cred(s"AL$o", o % 3)),
      trustor_key = Some(keyOf(s"trustor-$l-$t-$o")),
      authorize_flags = Some(Seq(1, 2, 4)(o % 3)))

  private def inflationPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(inflation_payouts = Seq(
      InflationPayout(keyOf(s"infl-$l-$t-$o-0"), 8000000L + o),
      InflationPayout(keyOf(s"infl-$l-$t-$o-1"), 16000000L + o)))

  private def manageDataPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      data_name = Some(s"cfg-$o"),
      data_value = if (o % 2 == 0) Some(keyOf(s"val-$l-$t-$o").take(8)) else None,
      // the entry change that classifies created-vs-updated
      // (`addManageDataEffects` wraps the DATA entry change kind);
      // half the value-bearing ops carry no change → the created
      // fallback arm stays on the model too
      changes =
        if (o % 2 == 0 && (l + t) % 2 == 0)
          base.changes :+ graft.model.LedgerModel.OpChange(
            entry_type = "data", seller_key = None, offer_id = None,
            pool_id = None, pre_price_n = None, pre_price_d = None,
            pre_pool_fee = None,
            change_kind = Some(((l + o) % 2).toInt))
        else base.changes)

  private def createClaimableBalancePayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      cb_asset = Some(if (o % 2 == 0) AssetRef("native", "", "")
        else cred(s"CB$o", o % 3)),
      cb_amount_stroops = Some(30000000L * (o + 1)),
      balance_id = Some(keyOf(s"cb-$l-$t-$o")),
      claimants = Seq(
        Claimant(keyOf(s"claimant-$l-$t-$o-0"),
          graft.codec.ClaimPredicate.encode(
            graft.codec.ClaimPredicate.Unconditional)),
        Claimant(keyOf(s"claimant-$l-$t-$o-1"),
          graft.codec.ClaimPredicate.encode(
            graft.codec.ClaimPredicate.And(Seq(
              graft.codec.ClaimPredicate.AbsBefore(1700000000L + o),
              graft.codec.ClaimPredicate.Not(Some(
                graft.codec.ClaimPredicate.RelBefore(3600L + o)))))))))

  private def claimedBalancePayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      balance_id = Some(keyOf(s"cb-$l-$t-$o")),
      // claimed/clawed balance entry pre-state (amount + asset)
      cb_asset = Some(cred(s"CB$o", o % 3)),
      cb_amount_stroops = Some(20000000L * (o + 1)))

  private def beginSponsoringPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      sponsored_id_key = Some(keyOf(s"sponsoree-$l-$t-$o")),
      changes = base.changes :+ sponsorshipChange(l, t, o))

  private def revokeSponsorshipPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel = {
    val withSp = base.copy(
      changes = base.changes :+ sponsorshipChange(l, t, o))
    if (o % 2 == 0) withSp.copy(
      revoke_signer_account_key = Some(keyOf(s"racct-$l-$t-$o")),
      revoke_signer_key = Some(keyOf(s"rsigner-$l-$t-$o")))
    else if (o % 4 == 1) withSp.copy(
      revoke_account_id_key = Some(keyOf(s"racct-$l-$t-$o")))
    else withSp.copy(revoke_offer_id = Some(8000L + o))
  }

  private def setTrustLineFlagsPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel = {
    // clear-flags ops on even ledgers additionally revoke LP shares:
    // an LP product-delta change plus one created claimable balance
    // reclaiming reserve asset A (`addLiquidityPoolRevokedEffect`)
    val revoke = o % 2 == 1 && l % 2 == 0
    base.copy(
      trust_asset = Some(cred(s"TF$o", o % 3)),
      trustor_key = Some(keyOf(s"trustor-$l-$t-$o")),
      tl_set_flags = if (o % 2 == 0) Some(1) else None, // authorized
      tl_clear_flags = if (o % 2 == 1) Some(6) else None, // maintain|clawback
      changes = if (revoke) base.changes ++ Seq(
        OpChange("liquidity_pool", None, None, Some(keyOf(s"pool-$l")),
          None, None, Some(30L),
          pre_reserve_a = Some(900000000L + o),
          post_reserve_a = Some(600000000L + o),
          pre_reserve_b = Some(400000000L), post_reserve_b = Some(250000000L),
          pre_total_shares = Some(80000000L),
          post_total_shares = Some(50000000L),
          pool_asset_a = Some(cred(s"RV$o", o % 3)),
          pool_asset_b = Some(AssetRef("native", "", ""))),
        // TWO created balances, planted in NON-sorted order (alphanum4
        // reserve A first, native reserve B second): the effect emitter
        // must sort by asset — native first — before fanning out, or the
        // effect indices diverge from the reference (effects.go:1176)
        OpChange("claimable_balance", None, None, None, None, None, None,
          cb_revocation = Some(RevokedCb(
            keyOf(s"cb-rev-$l-$t-$o"), 300000000L - o,
            cred(s"RV$o", o % 3), keyOf(s"trustor-$l-$t-$o"),
            graft.codec.ClaimPredicate.encode(
              graft.codec.ClaimPredicate.Unconditional)))),
        OpChange("claimable_balance", None, None, None, None, None, None,
          cb_revocation = Some(RevokedCb(
            keyOf(s"cb-revb-$l-$t-$o"), 150000000L,
            AssetRef("native", "", ""), keyOf(s"trustor-$l-$t-$o"),
            graft.codec.ClaimPredicate.encode(
              graft.codec.ClaimPredicate.Unconditional)))))
      else base.changes)
  }

  private def lpDepositPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      pool_id = Some(keyOf(s"pool-$l")),
      max_amount_a = Some(40000000L + o), max_amount_b = Some(50000000L + o),
      min_price_n = Some(1), min_price_d = Some(2),
      max_price_n = Some(3), max_price_d = Some(1),
      changes = base.changes :+ lpDepositChange(l, deposit = true, o))

  private def lpWithdrawPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      pool_id = Some(keyOf(s"pool-$l")),
      min_amount_a = Some(1000000L + o), min_amount_b = Some(2000000L + o),
      lp_shares_stroops = Some(7000000L + o),
      changes = base.changes :+ lpDepositChange(l, deposit = false, o))

  private def invokeHostFunctionPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel = {
    val fn = Seq("invoke_contract", "create_contract", "upload_wasm",
      "create_contract_v2")(o % 4)
    base.copy(
      host_fn_type = Some(fn),
      soroban_contract_id =
        if (fn != "upload_wasm") Some(keyOf(s"contract-$l-$t-$o")) else None,
      preimage_from_address_key =
        if (fn == "create_contract") Some(keyOf(s"deployer-$l-$t-$o")) else None,
      preimage_from_asset =
        if (fn == "create_contract_v2")
          Some(AssetRef("credit_alphanum4", s"WR$o", s"ISS${o % 3}"))
        else None,
      parameters_xdr = if (fn == "invoke_contract") Seq(
        graft.codec.ScVal.encode(graft.codec.ScVal.AddrContract(
          keyOf(s"contract-$l-$t-$o"))),
        graft.codec.ScVal.encode(graft.codec.ScVal.Sym("transfer")),
        graft.codec.ScVal.encode(graft.codec.ScVal.U64(100L + o)))
      else Seq.empty,
      // SAC events in the meta: a transfer + a burn, plus one junk event
      // the parser must skip (`NewStellarAssetContractEvent` err branch)
      sac_events = if (fn == "invoke_contract") {
        import graft.codec.ScVal._
        val cid = keyOf(s"contract-$l-$t-$o")
        Seq(
          SacEventRaw(cid,
            Seq(encode(Sym("transfer")),
              encode(AddrAccount(keyOf(s"acct-$l-$t"))),
              encode(AddrContract(cid)),
              encode(Str(s"TK$o:ISS${o % 3}"))),
            encode(I128(0L, 5000001L + o))),
          SacEventRaw(cid,
            Seq(encode(Sym("burn")),
              encode(AddrAccount(keyOf(s"acct-$l-$t"))),
              encode(Str("native"))),
            encode(I128(0L, 700003L + o))),
          SacEventRaw(cid,
            Seq(encode(Sym("custom_event")), encode(U32(1))),
            encode(Sym("not_an_amount"))))
      } else Seq.empty)
  }

  private def extendTtlPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      extend_to = Some(10000L + o),
      changes = base.changes ++ (0 to o % 2).map(k =>
        OpChange("ttl", None, None, None, None, None, None,
          ttl_key_hash = Some(keyOf(s"ttlkey-$l-$t-$o-$k")))))

  private def restoreFootprintPayload(base: OpModel, l: Long, t: Int,
      o: Int): OpModel =
    base.copy(
      changes = base.changes :+ OpChange("ttl",
        None, None, None, None, None, None,
        ttl_key_hash = Some(keyOf(s"ttlkey-$l-$t-$o-0"))))

  private def cred(code: String, iss: Int): AssetRef =
    AssetRef("credit_alphanum4", code, s"ISS$iss")

  /** One planted sponsorship transition for the sponsorship ops (16/17/18):
    * entry family from (l+o)%4 over account/trustline/data/claimable-balance,
    * transition from (l+t)%4 over created/updated/removed/unchanged (the
    * unchanged arm proves the same-sponsor skip, effects.go:305-310), and an
    * independent sponsored-signer transition lattice on account entries
    * ((t+o)%4, with a same-sponsor decoy signer on odd o that must emit
    * nothing). */
  private def sponsorshipChange(l: Long, t: Int, o: Int): OpChange = {
    val fam = ((l + o) % 4).toInt
    val trans = ((l + t) % 4).toInt
    val entryType =
      Seq("account", "trustline", "data", "claimable_balance")(fam)
    val spOld = keyOf(s"sp-old-$l-$t-$o")
    val spNew = keyOf(s"sp-new-$l-$t-$o")
    val spSame = keyOf(s"sp-same-$l-$t-$o")
    val (pre, post) = trans match {
      case 0 => (None, Some(spNew))
      case 1 => (Some(spOld), Some(spNew))
      case 2 => (Some(spOld), None)
      case _ => (Some(spSame), Some(spSame)) // unchanged → no effect
    }
    val sigA = keyOf(s"spsig-$l-$t-$o")
    val (preSig, postSig) = ((t + o) % 4) match {
      case 0 => (Seq.empty[SignerSponsor],
        Seq(SignerSponsor(sigA, keyOf(s"ssp-new-$l-$t-$o"))))
      case 1 => (Seq(SignerSponsor(sigA, keyOf(s"ssp-old-$l-$t-$o"))),
        Seq.empty[SignerSponsor])
      case 2 => (Seq(SignerSponsor(sigA, keyOf(s"ssp-old-$l-$t-$o"))),
        Seq(SignerSponsor(sigA, keyOf(s"ssp-new-$l-$t-$o"))))
      case _ => (Seq.empty[SignerSponsor], Seq.empty[SignerSponsor])
    }
    val decoy = SignerSponsor(keyOf(s"spsig-same-$l-$t-$o"),
      keyOf(s"ssp-same-$l-$t-$o"))
    val (preS, postS) =
      if (fam == 0 && o % 2 == 1) (preSig :+ decoy, postSig :+ decoy)
      else (preSig, postSig)
    OpChange(entryType, None, None, None, None, None, None,
      sponsorship = Some(SponsorshipChange(
        pre_sponsor_key = pre,
        post_sponsor_key = post,
        subject_key =
          if (fam <= 1) Some(keyOf(s"spsub-$l-$t-$o")) else None,
        data_name = if (fam == 2) Some(s"spdata-$o") else None,
        cb_id = if (fam == 3) Some(keyOf(s"spcb-$l-$t-$o")) else None,
        tl_asset = if (fam == 1 && o % 3 != 2)
          Some(AssetRef("credit_alphanum4", s"SP$o", s"ISS${o % 3}")) else None,
        tl_pool_id =
          if (fam == 1 && o % 3 == 2) Some(keyOf(s"pool-$l")) else None,
        pre_signer_sponsors = if (fam == 0) preS else Seq.empty,
        post_signer_sponsors = if (fam == 0) postS else Seq.empty)))
  }

  /** LP pre/post product state for deposit (reserves grow) or withdraw
    * (reserves shrink), with pool assets — the
    * `getLiquidityPoolAndProductDelta` input (`operation.go:238-285`). */
  private def lpDepositChange(l: Long, deposit: Boolean, o: Int): OpChange = {
    val (preA, preB, preS) = (9000000000L + l, 4000000000L + l, 1000000000L)
    val dA = 30000000L + o; val dB = 15000000L + o; val dS = 5000000L + o
    OpChange("liquidity_pool", None, None, Some(keyOf(s"pool-$l")),
      None, None, Some(30L),
      pre_reserve_a = Some(preA), pre_reserve_b = Some(preB),
      post_reserve_a = Some(if (deposit) preA + dA else preA - dA),
      post_reserve_b = Some(if (deposit) preB + dB else preB - dB),
      pre_total_shares = Some(preS),
      post_total_shares = Some(if (deposit) preS + dS else preS - dS),
      pool_asset_a = Some(AssetRef("native", "", "")),
      pool_asset_b = Some(AssetRef("credit_alphanum4", s"PL${l % 4}",
        s"ISS${l % 3}")))
  }

  def tx(l: Long, t: Int): TxModel = {
    val memoKind = Seq("none", "text", "id", "hash", "return")(t % 5)
    TxModel(
      hash_hex = graft.codec.Hashes.sha256Hex(s"tx-$l-$t".getBytes("UTF-8")),
      source_key = keyOf(s"acct-$l-$t"),
      source_muxed_id = if (t % 4 == 0) Some(10000L + t) else None,
      account_sequence = l * 100 + t,
      max_fee = 5000L + t,
      fee_charged = 100L * (t + 1),
      successful = t % 3 != 0,
      result_code = if (t % 3 != 0) "TransactionResultCodeTxSuccess"
        else "TransactionResultCodeTxFailed",
      memo_type = memoKind,
      memo_text = if (memoKind == "text") Some(s"memo-$l-$t") else None,
      memo_id = if (memoKind == "id") Some(77000L + t) else None,
      memo_hash = if (memoKind == "hash" || memoKind == "return")
        Some(keyOf(s"memo-$l-$t")) else None,
      time_min = if (t % 2 == 0) Some(1700000000L + t) else None,
      time_max = if (t % 2 == 0) Some(if (t % 4 == 0) 0L else 1800000000L + t) else None,
      ledger_min = None, ledger_max = None,
      envelope_b64 = s"ENV-$l-$t", result_b64 = s"RES-$l-$t",
      meta_b64 = s"META-$l-$t", fee_meta_b64 = s"FEE-$l-$t",
      signers = (0 to t % 3).map(i => keyOf(s"signer-$l-$t-$i")),
      operations = (0 until (t % 4) + 1).map(o => op(l, t, o)),
      soroban = if (t % 5 == 2 || t % 5 == 4) Some(SorobanModel(
        resource_fee = 40000L + t, instructions = 1000000L + t,
        read_bytes = 5000, write_bytes = 2000,
        non_refundable_fee = 30000L + t, refundable_fee = 8000L,
        rent_fee = 1200L,
        // footprint: one TTL key (type 9) + one contract-code key (type 7)
        footprint_keys_xdr = Seq(
          Array[Byte](0, 0, 0, 9) ++ keyOf(s"fpkey-$l-$t"),
          Array[Byte](0, 0, 0, 7) ++ keyOf(s"code-$l-$t")))) else None,
      fee_changes =
        if (t % 5 == 2) Seq(BalanceChange(keyOf(s"acct-$l-$t"), 900000000L, 900000000L - (45000L + t)))
        else if (t % 5 == 4) Seq(BalanceChange(keyOf(s"bump-$l-$t"), 700000000L, 700000000L - (52000L + t)))
        else Seq.empty,
      changes_after =
        if (t % 5 == 2 || t % 5 == 4)
          Seq(BalanceChange(keyOf(if (t % 5 == 4) s"bump-$l-$t" else s"acct-$l-$t"),
            100L, 100L + 6000L))
        else Seq.empty,
      is_fee_bump = t % 5 == 4,
      fee_bump_account_key = if (t % 5 == 4) Some(keyOf(s"bump-$l-$t")) else None,
      inner_hash_hex = if (t % 5 == 4)
        Some(graft.codec.Hashes.sha256Hex(s"inner-$l-$t".getBytes("UTF-8"))) else None,
      new_max_fee = if (t % 5 == 4) Some(10000L + t) else None,
      // PreconditionsV2 on the t%5==3 txs only — the others keep the
      // reference's absent-cond ⇒ null rendering
      min_seq_num = if (t % 5 == 3) Some(l * 10 + t) else None,
      min_seq_age = if (t % 5 == 3) Some(3600L + t) else None,
      min_seq_ledger_gap = if (t % 5 == 3) Some(10L + t) else None,
      extra_signer_keys =
        if (t % 5 == 3) Seq(keyOf(s"extra-$l-$t")) else Seq.empty)
  }

  def ledger(seq: Long): LedgerRow = {
    val txs = (0 until ((seq % 5) + 1).toInt).map(t => tx(seq, t))
    LedgerRow(
      sequence = seq,
      ledger_hash = keyOf(s"ledger-$seq"),
      previous_ledger_hash = keyOf(s"ledger-${seq - 1}"),
      header_b64 = s"HDR-$seq",
      closed_at = new Timestamp(1700000000000L + seq * 5000L),
      total_coins = 105443902087310000L,
      fee_pool = 18244660537L + seq,
      base_fee = 100, base_reserve = 5000000, max_tx_set_size = 1000,
      protocol_version = if (seq % 3 == 0) 20 else 21,
      soroban_fee_write_1kb = 11800L,
      node_id_key = keyOf(s"node-${seq % 5}"),
      signature = keyOf(s"sig-$seq").take(16),
      bucket_list_size = 20_000_000_000L + seq,
      transactions = txs,
      tx_counts = TxCounts.of(txs))
  }

  /** Session-scoped decode-once memo, same architecture as
    * `LedgerFixtures.ledgers`: building a ledger row is pure CPU (sha-256
    * key material, XDR encoding of predicates/events) and the driver would
    * otherwise re-serialize the whole range for every action of every
    * query; the first caller persists, later actions reuse cached blocks. */
  private val ledgerCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Long, Long), Dataset[LedgerRow]]()

  def ledgers(spark: SparkSession, start: Long, end: Long): Dataset[LedgerRow] =
    ledgerCache.computeIfAbsent((spark, start, end), _ => {
      import spark.implicits._
      spark.createDataset((start to end).map(ledger))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  // ---- change-grain fixture -------------------------------------------------

  import graft.model.ChangeModel._

  def accountChange(seq: Long, i: Int): ChangeRow = {
    val deleted = i % 7 == 6
    ChangeRow(
      ledger_sequence = seq,
      closed_at = new Timestamp(1700000000000L + seq * 5000L),
      change_order = i.toLong,
      ledger_entry_change = if (deleted) 2L else if (i % 3 == 0) 0L else 1L,
      entry_type = "account",
      deleted = deleted,
      last_modified_ledger = seq,
      account = Some(AccountState(
        account_key = keyOf(s"acct-${i % 9}"),
        balance_stroops = 10000000L * (i + 1) + seq,
        buying_liabilities_stroops = 500000L * i,
        selling_liabilities_stroops = 300000L * i,
        sequence_number = seq * 4096 + i,
        sequence_ledger = if (i % 2 == 0) Some(seq) else None,
        sequence_time = None,
        num_subentries = i % 5,
        inflation_destination_key = None,
        flags = i % 16, home_domain = s"home$i.example",
        master_weight = 1 + i % 3, threshold_low = 1, threshold_medium = 2,
        threshold_high = 3,
        sponsor_key = if (i % 4 == 0) Some(keyOf(s"sponsor-$i")) else None,
        num_sponsored = 0, num_sponsoring = 0,
        signers = (0 to i % 3).map(k =>
          SignerState(keyOf(s"sig-$i-$k"), 10 - k, None)))),
      offer = None, trustline = None,
      // pre-state sponsor lattice: i%8==1 → removed (post unsponsored),
      // i%8==4 → updated when the post sponsor differs, or removed when the
      // entry itself is deleted; only rows with a pre image may carry one
      pre_sponsor_key =
        if ((deleted || i % 3 != 0) && (i % 8 == 1 || i % 8 == 4))
          Some(keyOf(s"sponsor-pre-$i"))
        else None)
  }

  def offerChange(seq: Long, i: Int): ChangeRow =
    ChangeRow(
      ledger_sequence = seq,
      closed_at = new Timestamp(1700000000000L + seq * 5000L),
      change_order = 100L + i,
      ledger_entry_change = 1L,
      entry_type = "offer",
      deleted = i % 5 == 4,
      last_modified_ledger = seq,
      account = None,
      offer = Some(OfferState(
        seller_key = keyOf(s"seller-${i % 6}"),
        offer_id = 9000L + i,
        selling_asset = AssetRef("credit_alphanum4", s"AS${i % 4}", s"ISS${i % 3}"),
        buying_asset = AssetRef("native", "", ""),
        amount_stroops = 25000000L + i,
        price_n = 1 + i % 9, price_d = 1 + i % 7, flags = i % 4,
        sponsor_key = None)),
      trustline = None)

  def trustlineChange(seq: Long, i: Int): ChangeRow =
    ChangeRow(
      ledger_sequence = seq,
      closed_at = new Timestamp(1700000000000L + seq * 5000L),
      change_order = 200L + i,
      ledger_entry_change = if (i % 6 == 5) 2L else if (i % 3 == 0) 0L else 1L,
      entry_type = "trustline",
      deleted = i % 6 == 5,
      last_modified_ledger = seq,
      account = None, offer = None,
      trustline = Some(TrustlineState(
        account_key = keyOf(s"acct-${i % 9}"),
        asset =
          if (i % 4 == 3) AssetRef("liquidity_pool_shares", "", "")
          else AssetRef("credit_alphanum4", s"TL${i % 5}", s"ISS${i % 3}"),
        balance_stroops = 5000000L * (i + 1) + seq,
        limit_stroops = 90000000L + i,
        buying_liabilities_stroops = 200000L * i,
        selling_liabilities_stroops = 100000L * i,
        flags = i % 4,
        sponsor_key = if (i % 5 == 2) Some(keyOf(s"sponsor-$i")) else None,
        liquidity_pool_id =
          if (i % 4 == 3) Some(keyOf(s"pool-${i % 3}")) else None)))

  /** `includeTrustlines` is opt-in so the account+offer-only stream the
    * oracle catalog fixes on stays byte-stable; the reference-golden
    * parity spec turns it on to give `ChangeTransforms.trustlines` rows.
    * No export command reads this stream. */
  def changes(spark: SparkSession, start: Long, end: Long,
      perLedger: Int = 8, includeTrustlines: Boolean = false): Dataset[ChangeRow] = {
    import spark.implicits._
    spark.createDataset(for {
      seq <- start to end
      i <- 0 until perLedger
      row <- Seq(accountChange(seq, i), offerChange(seq, i)) ++
        (if (includeTrustlines) Seq(trustlineChange(seq, i)) else Nil)
    } yield row)
  }
}
