package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** P8/P10–P12 — the classic `export_ledger_entry_changes` output
  * projections over TPC-H fixture rows (reference `transform/{account_signer,
  * trustline,liquidity_pool,claimable_balance}.go`), plus the P18 raw-XDR
  * passthrough and the J3 sponsor lookup. No datastore transform exists yet
  * for these tables; the soroban state tables and contract events have
  * exactly one, [[SorobanStateTables]], the one the export CLI runs.
  *
  * All are O(1)-per-row column projections that stay entirely inside
  * whole-stage codegen. The fixture input contracts are documented per
  * function. */
object EntryProjections {

  /** P8 — account signers: signer rows ranked by weight desc within account
    * (reference sorts signers by weight, `account_signer.go:53`). */
  def signersRanked(signers: DataFrame, accountCol: String, signerCol: String,
      weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(accountCol)
      .orderBy(col(weightCol).desc, col(signerCol).asc)
    signers.withColumn("signer_rank", row_number().over(w).cast("long"))
  }

  /** P10 — trust lines: balances, liabilities, and the base64 ledger key
    * (`trustline.go:93-107`). */
  def trustlines(txGrain: DataFrame): DataFrame =
    txGrain.select(
      col("source_account_key").as("account_id"),
      concat(lit("AST"), expr("part_key % 5").cast("string")).as("asset"),
      col("amount").as("balance"),
      (col("amount") / 2).as("buying_liabilities"),
      (col("amount") / 4).as("selling_liabilities"),
      GraftFunctions.base64NoWrap(concat(lit("TL|"),
        col("source_account_key").cast("string"),
        lit("|AST"), expr("part_key % 5").cast("string")).cast("binary"))
        .as("ledger_key_b64"),
      col("successful").as("authorized"))

  /** P11 — liquidity pools at the reference's full `PoolOutput` width
    * (`schema.go:198-220`, `liquidity_pool.go:13-90`): constant-product
    * params, per-asset type/code/issuer/amount/farmhash-id, trustline and
    * share counts, change metadata, strkey L-address. */
  def liquidityPools(parts: DataFrame): DataFrame = {
    val k = col("p_partkey").cast("long")
    val poolIdHex = sha2(col("p_name"), 256)
    val bCode = concat(lit("TK"), (k % 50).cast("string"))
    val bIssuer = concat(lit("ISS"), (k % 3).cast("string"))
    parts.select(
      poolIdHex.as("liquidity_pool_id"),
      lit("constant_product").as("type"),
      lit(30L).as("fee"),
      (k % 50 + 1).as("trustline_count"),
      GraftFunctions.stroopsToXlm(k * 10000001).as("pool_share_count"),
      lit("native").as("asset_a_type"),
      lit(null).cast("string").as("asset_a_code"),
      lit(null).cast("string").as("asset_a_issuer"),
      GraftFunctions.stroopsToXlm(lit(5000000000L) + k).as("asset_a_amount"),
      GraftFunctions.farmHashAssetId(lit(""), lit(""), lit("native"))
        .as("asset_a_id"),
      lit("credit_alphanum4").as("asset_b_type"),
      bCode.as("asset_b_code"),
      bIssuer.as("asset_b_issuer"),
      GraftFunctions.stroopsToXlm(lit(2500000000L) + k).as("asset_b_amount"),
      GraftFunctions.farmHashAssetId(bCode, bIssuer, lit("credit_alphanum4"))
        .as("asset_b_id"),
      k.as("last_modified_ledger"),
      (k % 3).as("ledger_entry_change"),
      (k % 7 === 6).as("deleted"),
      timestamp_millis(lit(1700000000000L) + (k + 100) * 5000L)
        .as("closed_at"),
      (k + 100).as("ledger_sequence"),
      GraftFunctions.strkeyPool(unhex(poolIdHex))
        .as("liquidity_pool_id_strkey"))
  }

  /** P12/L3 — claimable balances at BALANCE grain, the reference's
    * `ClaimableBalanceOutput` key set exactly (`schema.go:148-164`):
    * hex-marshalled v0 balance id (8-hex discriminant ‖ 64-hex hash) plus
    * its B-strkey, the claimants array of {destination, predicate} with the
    * recursive predicate tree rendered as a raw JSON object
    * (`claimable_balance.go:11-60`), the asset quadruple, and the change
    * metadata. Claimants are ordered by destination (L3,
    * `effects.go:1138-1140`). */
  def claimableBalances(custGrain: DataFrame): DataFrame = {
    val k = col("c_custkey").cast("long")
    val balanceHash = sha2(col("c_custkey").cast("string"), 256)
    val aCode = concat(lit("CB"), (k % 40).cast("string"))
    val aIssuer = GraftFunctions.strkeyAccount(
      unhex(sha2(concat(lit("cb-issuer|"), (k % 5).cast("string")), 256)))
    // 1 + k%3 claimants, sorted by destination inside the row (no shuffle).
    // VARIANT is not orderable, so sort the (destination, i) pairs first and
    // attach the predicate variant afterwards.
    val destIdx = sort_array(transform(
      sequence(lit(0), (k % 3).cast("int")),
      i => struct(
        GraftFunctions.strkeyAccount(unhex(sha2(
          concat(lit("claimant|"), col("c_custkey").cast("string"),
            lit("|"), i.cast("string")), 256))).as("destination"),
        i.as("i"))))
    val claimants = transform(destIdx, d => struct(
      d("destination").as("destination"),
      parse_json(GraftFunctions.claimPredicateJson(
        GraftFunctions.claimPredicateFixture(k + d("i").cast("long"))))
        .as("predicate")))
    custGrain.select(
      concat(lit("00000000"), balanceHash).as("balance_id"),
      claimants.as("claimants"),
      when(k % 9 =!= 0, aCode).otherwise(lit("")).as("asset_code"),
      when(k % 9 =!= 0, aIssuer).otherwise(lit("")).as("asset_issuer"),
      when(k % 9 =!= 0, lit("credit_alphanum4")).otherwise(lit("native"))
        .as("asset_type"),
      GraftFunctions.farmHashAssetId(
        when(k % 9 =!= 0, aCode).otherwise(lit("")),
        when(k % 9 =!= 0, aIssuer).otherwise(lit("")),
        when(k % 9 =!= 0, lit("credit_alphanum4")).otherwise(lit("native")))
        .as("asset_id"),
      GraftFunctions.stroopsToXlm(round(col("c_acctbal") * 100).cast("long"))
        .as("asset_amount"),
      when(k % 4 === 0, GraftFunctions.strkeyAccount(
        unhex(sha2(concat(lit("cb-sponsor|"), (k % 11).cast("string")), 256))))
        .as("sponsor"),
      (k % 2).cast("long").as("flags"),
      k.as("last_modified_ledger"),
      (k % 3).as("ledger_entry_change"),
      (k % 7 === 6).as("deleted"),
      timestamp_millis(lit(1700000000000L) + (k + 100) * 5000L)
        .as("closed_at"),
      (k + 100).as("ledger_sequence"),
      GraftFunctions.strkeyBalance(unhex(balanceHash)).as("balance_id_strkey"))
  }

  /** P18 — raw XDR passthrough table: base64 envelope columns
    * (`ledger_transaction.go:13-58`). */
  def rawBase64(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      GraftFunctions.base64NoWrap(col("text").cast("binary")).as("envelope_b64"),
      length(col("text")).cast("long").as("envelope_len"))

  /** J3 — sponsor lookup: first sponsoring op (op_type 6) in the same ledger,
    * found intra-row in the nested tx array — no join, no shuffle
    * (`operation.go:296-326`). */
  def withSponsor(nestedLedgers: DataFrame): DataFrame =
    nestedLedgers
      .select(col("ledger_sequence"),
        // get() is null-safe on the empty array (ANSI element_at would throw)
        get(filter(col("transactions"), t => t("op_type") === 6), lit(0))("supp_key")
          .as("sponsor"),
        posexplode(col("transactions")).as(Seq("pos", "tx")))
      .select(
        col("ledger_sequence"),
        (col("pos") + 1).cast("long").as("tx_order"),
        col("tx.supp_key").as("source_account_key"),
        col("sponsor"))
}
