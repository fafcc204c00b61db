package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.model.ChangeModel.ChangeRow

/** P7/P8/P9/P10 over the decoded change grain — the real `accounts`,
  * `account_signers`, `offers`, `trust_lines` projections with the
  * reference's exact columns (`transform/{account,account_signer,offer,
  * trustline}.go`). Compose with [[ChangeCompaction]] for snapshot semantics
  * and `partitionBy(batch_id)` for the batch-file sink.
  *
  * All stroop amounts render as correctly-rounded XLM float64; addresses are
  * strkey; asset surrogate ids are FarmHash64 — each a codegen'd expression. */
object ChangeTransforms {

  private val changeMeta: Seq[org.apache.spark.sql.Column] = Seq(
    col("last_modified_ledger"),
    col("ledger_entry_change"),
    col("deleted"),
    col("closed_at"),
    col("ledger_sequence"))

  /** P7 — `accounts`. */
  def accounts(changes: Dataset[ChangeRow]): DataFrame = {
    val df = changes.where(col("entry_type") === "account")
    df.select(Seq(
      strkeyAccount(col("account.account_key")).as("account_id"),
      stroopsToXlm(col("account.balance_stroops")).as("balance"),
      stroopsToXlm(col("account.buying_liabilities_stroops")).as("buying_liabilities"),
      stroopsToXlm(col("account.selling_liabilities_stroops")).as("selling_liabilities"),
      col("account.sequence_number").as("sequence_number"),
      col("account.sequence_ledger").as("sequence_ledger"),
      col("account.sequence_time").as("sequence_time"),
      col("account.num_subentries").as("num_subentries"),
      when(col("account.inflation_destination_key").isNotNull,
        strkeyAccount(col("account.inflation_destination_key")))
        .otherwise(lit("")).as("inflation_destination"),
      col("account.flags").as("flags"),
      col("account.home_domain").as("home_domain"),
      col("account.master_weight").as("master_weight"),
      col("account.threshold_low").as("threshold_low"),
      col("account.threshold_medium").as("threshold_medium"),
      col("account.threshold_high").as("threshold_high"),
      when(col("account.sponsor_key").isNotNull,
        strkeyAccount(col("account.sponsor_key"))).as("sponsor"),
      col("account.num_sponsored").as("num_sponsored"),
      col("account.num_sponsoring").as("num_sponsoring")) ++ changeMeta: _*)
  }

  /** P8 — `account_signers`: explode the signer list, sorted by weight desc
    * (reference sorts within each account, `account_signer.go:53`). */
  def accountSigners(changes: Dataset[ChangeRow]): DataFrame = {
    val df = changes.where(col("entry_type") === "account")
    // weight-desc sort INSIDE the row: sort_array asc on (-weight, key) —
    // no window, no shuffle
    val sorted = reverse(sort_array(transform(col("account.signers"),
      s => struct(s("weight").as("weight"), s("signer_key").as("signer_key"),
        s("sponsor_key").as("sponsor_key")))))
    df.select(Seq(
        strkeyAccount(col("account.account_key")).as("account_id"),
        explode(sorted).as("s")) ++ changeMeta: _*)
      .select(
        col("account_id"),
        strkeyAccount(col("s.signer_key")).as("signer"),
        col("s.weight").as("weight"),
        when(col("s.sponsor_key").isNotNull,
          strkeyAccount(col("s.sponsor_key"))).as("sponsor"),
        col("last_modified_ledger"), col("ledger_entry_change"),
        col("deleted"), col("closed_at"), col("ledger_sequence"))
  }

  /** P9 — `offers`, with the reference's negative-amount/price invariants
    * surfaced as a filter the caller can assert on. */
  def offers(changes: Dataset[ChangeRow]): DataFrame = {
    val df = changes.where(col("entry_type") === "offer")
    df.select(
      strkeyAccount(col("offer.seller_key")).as("seller_id"),
      col("offer.offer_id").as("offer_id"),
      col("offer.selling_asset.asset_type").as("selling_asset_type"),
      col("offer.selling_asset.asset_code").as("selling_asset_code"),
      col("offer.selling_asset.asset_issuer").as("selling_asset_issuer"),
      farmHashAssetId(col("offer.selling_asset.asset_code"),
        col("offer.selling_asset.asset_issuer"),
        col("offer.selling_asset.asset_type")).as("selling_asset_id"),
      col("offer.buying_asset.asset_type").as("buying_asset_type"),
      col("offer.buying_asset.asset_code").as("buying_asset_code"),
      col("offer.buying_asset.asset_issuer").as("buying_asset_issuer"),
      farmHashAssetId(col("offer.buying_asset.asset_code"),
        col("offer.buying_asset.asset_issuer"),
        col("offer.buying_asset.asset_type")).as("buying_asset_id"),
      stroopsToXlm(col("offer.amount_stroops")).as("amount"),
      col("offer.price_n").as("pricen"),
      col("offer.price_d").as("priced"),
      priceRatio(col("offer.price_n"), col("offer.price_d")).as("price"),
      col("offer.flags").as("flags"),
      col("last_modified_ledger"), col("ledger_entry_change"), col("deleted"),
      when(col("offer.sponsor_key").isNotNull,
        strkeyAccount(col("offer.sponsor_key"))).as("sponsor"),
      col("closed_at"), col("ledger_sequence"))
  }

  /** Invariant check (reference errors on negative amounts/prices,
    * `offer.go:35-60`): rows violating it. */
  def invalidOffers(offersDf: DataFrame): DataFrame =
    offersDf.where(col("amount") < 0 || col("pricen") < 0 || col("priced") < 0)

  /** P10 — `trust_lines`, incl. the base64 ledger key and pool-share arm. */
  def trustlines(changes: Dataset[ChangeRow]): DataFrame = {
    val df = changes.where(col("entry_type") === "trustline")
    df.select(
      base64NoWrap(concat(
        col("trustline.account_key"),
        col("trustline.asset.asset_type").cast("binary"),
        col("trustline.asset.asset_code").cast("binary"),
        col("trustline.asset.asset_issuer").cast("binary"))).as("ledger_key"),
      strkeyAccount(col("trustline.account_key")).as("account_id"),
      col("trustline.asset.asset_code").as("asset_code"),
      col("trustline.asset.asset_issuer").as("asset_issuer"),
      col("trustline.asset.asset_type").as("asset_type"),
      farmHashAssetId(col("trustline.asset.asset_code"),
        col("trustline.asset.asset_issuer"),
        col("trustline.asset.asset_type")).as("asset_id"),
      stroopsToXlm(col("trustline.balance_stroops")).as("balance"),
      col("trustline.limit_stroops").as("trust_line_limit"),
      when(col("trustline.liquidity_pool_id").isNotNull,
        hexLower(col("trustline.liquidity_pool_id")))
        .otherwise(lit("")).as("liquidity_pool_id"),
      stroopsToXlm(col("trustline.buying_liabilities_stroops")).as("buying_liabilities"),
      stroopsToXlm(col("trustline.selling_liabilities_stroops")).as("selling_liabilities"),
      col("trustline.flags").as("flags"),
      col("last_modified_ledger"), col("ledger_entry_change"),
      when(col("trustline.sponsor_key").isNotNull,
        strkeyAccount(col("trustline.sponsor_key"))).as("sponsor"),
      col("deleted"), col("closed_at"), col("ledger_sequence"),
      when(col("trustline.liquidity_pool_id").isNotNull,
        strkeyPool(col("trustline.liquidity_pool_id")))
        .otherwise(lit("")).as("liquidity_pool_id_strkey"))
  }

  /** The full change-export pipeline: per-batch compaction (A4) then the
    * per-type projection — the Spark shape of
    * `cmd/export_ledger_entry_changes.go:95-259`. */
  def exportSnapshot(
      changes: Dataset[ChangeRow],
      entryType: String,
      keyCols: Seq[String],
      batchSize: Int = 64): DataFrame = {
    import changes.sparkSession.implicits._
    val typed = changes.where(col("entry_type") === entryType)
    ChangeCompaction.compactBatches(
      typed.toDF(), keyCols, "ledger_sequence",
      Seq("ledger_sequence", "change_order"), batchSize)
  }
}
