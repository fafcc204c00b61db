package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.JsonBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{Amounts, ClaimPredicate, Hashes, SacEvents, ScVal, Strkey}

/** `history_operations.details` and `details_json` of one exploded op, in
  * one compiled pass: the reference's `extractOperationDetails` case law
  * (`operation.go:584-1173`) over the `op` struct, its `tx` struct and
  * the op's index `op_pos` in the tx. Returns
  * `struct<details, details_json>`; the caller projects both fields from
  * one evaluation. See [[OperationDetailsKernel]] for the law. */
case class OperationDetailsExpression(op: Expression, tx: Expression,
    opPos: Expression) extends TernaryExpression {
  override def first: Expression = op
  override def second: Expression = tx
  override def third: Expression = opPos
  override def dataType: DataType = OperationDetailsKernel.ResultType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    (op.dataType, tx.dataType, opPos.dataType) match {
      case (o: StructType, t: StructType, IntegerType)
          if o.fieldNames.contains("op_type") &&
            t.fieldNames.contains("operations") =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (op struct, tx struct, int), got $other")
    }

  @transient private lazy val kernel = new OperationDetailsKernel(
    op.dataType.asInstanceOf[StructType], tx.dataType.asInstanceOf[StructType])

  override def eval(input: InternalRow): Any = {
    val p = opPos.eval(input)
    kernel.eval(op.eval(input).asInstanceOf[InternalRow],
      tx.eval(input).asInstanceOf[InternalRow],
      if (p == null) -1 else p.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("opDetails", kernel,
      classOf[OperationDetailsKernel].getName)
    val o = op.genCode(ctx)
    val t = tx.genCode(ctx)
    val p = opPos.genCode(ctx)
    ev.copy(code = code"""
      ${o.code}
      ${t.code}
      ${p.code}
      final ${CodeGenerator.javaType(dataType)} ${ev.value} = $k.eval(
        ${o.isNull} ? null : ${o.value}, ${t.isNull} ? null : ${t.value},
        ${p.isNull} ? -1 : ${p.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): OperationDetailsExpression =
    copy(op = newFirst, tx = newSecond, opPos = newThird)
  override def prettyName: String = "operation_details"
}

/** The details schema: one nullable field per key any op type can carry,
  * in the order the rendered objects list them. Each constant is its
  * field's ordinal. */
object OperationDetailsKernel {
  private val fields = ArrayBuffer.empty[StructField]
  private def field(name: String, t: DataType): Int = {
    fields += StructField(name, t)
    fields.size - 1
  }
  private val S = StringType
  private val AssetRefType = StructType(Seq("asset_type", "asset_code",
    "asset_issuer").map(StructField(_, StringType)))
  private val PriceRType = StructType(Seq(
    StructField("n", IntegerType), StructField("d", IntegerType)))
  private val FlagInts = ArrayType(IntegerType, containsNull = false)
  private val FlagNames = ArrayType(StringType, containsNull = true)
  private val Strings = ArrayType(StringType, containsNull = true)

  val Funder = field("funder", S)
  val Account = field("account", S)
  val StartingBalance = field("starting_balance", DoubleType)
  val From = field("from", S)
  val To = field("to", S)
  val FromMuxed = field("from_muxed", S)
  val FromMuxedId = field("from_muxed_id", LongType)
  val ToMuxed = field("to_muxed", S)
  val ToMuxedId = field("to_muxed_id", LongType)
  val FunderMuxed = field("funder_muxed", S)
  val FunderMuxedId = field("funder_muxed_id", LongType)
  val AccountMuxed = field("account_muxed", S)
  val AccountMuxedId = field("account_muxed_id", LongType)
  val IntoMuxed = field("into_muxed", S)
  val IntoMuxedId = field("into_muxed_id", LongType)
  val TrusteeMuxed = field("trustee_muxed", S)
  val TrusteeMuxedId = field("trustee_muxed_id", LongType)
  val ClaimantMuxed = field("claimant_muxed", S)
  val ClaimantMuxedId = field("claimant_muxed_id", LongType)
  val BeginSponsorMuxed = field("begin_sponsor_muxed", S)
  val BeginSponsorMuxedId = field("begin_sponsor_muxed_id", LongType)
  val Amount = field("amount", DoubleType)
  val SourceAmount = field("source_amount", DoubleType)
  val SourceMax = field("source_max", DoubleType)
  val DestinationMin = field("destination_min", DoubleType)
  val Path = field("path", ArrayType(AssetRefType, containsNull = true))
  val AssetType = field("asset_type", S)
  val AssetCode = field("asset_code", S)
  val AssetIssuer = field("asset_issuer", S)
  val AssetId = field("asset_id", LongType)
  val SourceAssetType = field("source_asset_type", S)
  val SourceAssetCode = field("source_asset_code", S)
  val SourceAssetIssuer = field("source_asset_issuer", S)
  val SourceAssetId = field("source_asset_id", LongType)
  val OfferId = field("offer_id", LongType)
  val Price = field("price", DoubleType)
  val PriceR = field("price_r", PriceRType)
  val BuyingAssetType = field("buying_asset_type", S)
  val BuyingAssetCode = field("buying_asset_code", S)
  val BuyingAssetIssuer = field("buying_asset_issuer", S)
  val BuyingAssetId = field("buying_asset_id", LongType)
  val SellingAssetType = field("selling_asset_type", S)
  val SellingAssetCode = field("selling_asset_code", S)
  val SellingAssetIssuer = field("selling_asset_issuer", S)
  val SellingAssetId = field("selling_asset_id", LongType)
  val InflationDest = field("inflation_dest", S)
  val SetFlags = field("set_flags", FlagInts)
  val SetFlagsS = field("set_flags_s", FlagNames)
  val ClearFlags = field("clear_flags", FlagInts)
  val ClearFlagsS = field("clear_flags_s", FlagNames)
  val MasterKeyWeight = field("master_key_weight", IntegerType)
  val LowThreshold = field("low_threshold", IntegerType)
  val MedThreshold = field("med_threshold", IntegerType)
  val HighThreshold = field("high_threshold", IntegerType)
  val HomeDomain = field("home_domain", S)
  val SignerKey = field("signer_key", S)
  val SignerWeight = field("signer_weight", IntegerType)
  val LiquidityPoolId = field("liquidity_pool_id", S)
  val Limit = field("limit", DoubleType)
  val Trustee = field("trustee", S)
  val Trustor = field("trustor", S)
  val TrustorMuxed = field("trustor_muxed", S)
  val TrustorMuxedId = field("trustor_muxed_id", LongType)
  val Authorize = field("authorize", BooleanType)
  val AuthorizeToMaintainLiabilities =
    field("authorize_to_maintain_liabilities", BooleanType)
  val ClawbackEnabled = field("clawback_enabled", BooleanType)
  val TlSetFlags = field("tl_set_flags", FlagInts)
  val TlSetFlagsS = field("tl_set_flags_s", FlagNames)
  val TlClearFlags = field("tl_clear_flags", FlagInts)
  val TlClearFlagsS = field("tl_clear_flags_s", FlagNames)
  val Into = field("into", S)
  val Name = field("name", S)
  val Value = field("value", S)
  val BumpTo = field("bump_to", S)
  val Asset = field("asset", S)
  val Claimants = field("claimants", ArrayType(StructType(Seq(
    StructField("destination", S), StructField("predicate", S))),
    containsNull = false))
  val BalanceId = field("balance_id", S)
  val BalanceIdStrkey = field("balance_id_strkey", S)
  val Claimant = field("claimant", S)
  val SponsoredId = field("sponsored_id", S)
  val BeginSponsor = field("begin_sponsor", S)
  val SignerAccountId = field("signer_account_id", S)
  val AccountId = field("account_id", S)
  val TrustlineAccountId = field("trustline_account_id", S)
  val TrustlineAsset = field("trustline_asset", S)
  val TrustlineLiquidityPoolId = field("trustline_liquidity_pool_id", S)
  val TrustlineLiquidityPoolIdStrkey =
    field("trustline_liquidity_pool_id_strkey", S)
  val DataAccountId = field("data_account_id", S)
  val DataName = field("data_name", S)
  val ClaimableBalanceId = field("claimable_balance_id", S)
  val ClaimableBalanceIdStrkey = field("claimable_balance_id_strkey", S)
  val LiquidityPoolIdStrkey = field("liquidity_pool_id_strkey", S)
  val ReserveAAssetType = field("reserve_a_asset_type", S)
  val ReserveAAssetCode = field("reserve_a_asset_code", S)
  val ReserveAAssetIssuer = field("reserve_a_asset_issuer", S)
  val ReserveAAssetId = field("reserve_a_asset_id", LongType)
  val ReserveBAssetType = field("reserve_b_asset_type", S)
  val ReserveBAssetCode = field("reserve_b_asset_code", S)
  val ReserveBAssetIssuer = field("reserve_b_asset_issuer", S)
  val ReserveBAssetId = field("reserve_b_asset_id", LongType)
  val ReserveAMaxAmount = field("reserve_a_max_amount", DoubleType)
  val ReserveBMaxAmount = field("reserve_b_max_amount", DoubleType)
  val ReserveADepositAmount = field("reserve_a_deposit_amount", DoubleType)
  val ReserveBDepositAmount = field("reserve_b_deposit_amount", DoubleType)
  val MinPrice = field("min_price", DoubleType)
  val MinPriceR = field("min_price_r", PriceRType)
  val MaxPrice = field("max_price", DoubleType)
  val MaxPriceR = field("max_price_r", PriceRType)
  val SharesReceived = field("shares_received", DoubleType)
  val ReserveAMinAmount = field("reserve_a_min_amount", DoubleType)
  val ReserveBMinAmount = field("reserve_b_min_amount", DoubleType)
  val ReserveAWithdrawAmount = field("reserve_a_withdraw_amount", DoubleType)
  val ReserveBWithdrawAmount = field("reserve_b_withdraw_amount", DoubleType)
  val Shares = field("shares", DoubleType)
  val FunctionName = field("function", S)
  val TypeName = field("type", S)
  val ContractId = field("contract_id", S)
  val LedgerKeyHash = field("ledger_key_hash", Strings)
  val ContractCodeHash = field("contract_code_hash", S)
  val Parameters = field("parameters", Strings)
  val ParametersDecoded = field("parameters_decoded", Strings)
  val AssetBalanceChanges = field("asset_balance_changes", ArrayType(
    StructType(Seq("from", "to", "type", "amount", "asset_type", "asset_code",
      "asset_issuer").map(StructField(_, S))), containsNull = false))
  val ExtendTo = field("extend_to", LongType)
  val Address = field("address", S)
  val Sponsor = field("sponsor", S)

  val DetailsType: StructType = StructType(fields.toSeq)
  val ResultType: StructType = StructType(Seq(
    StructField("details", DetailsType, nullable = false),
    StructField("details_json", VariantType)))

  /** A FAILED strict-receive path payment's `source_amount` renders as the
    * string `"0.0000000"` (`operation.go:632` seeds `amount.String(0)` and
    * only the success arm overwrites it); the typed struct keeps 0.0. */
  private val FailedStrictReceiveJsonType: StructType =
    StructType(DetailsType.fields.updated(SourceAmount,
      StructField("source_amount", StringType)))
  private val FailedSourceAmount = UTF8String.fromString("0.0000000")

  private val AccountFlagNames = Seq(1 -> "auth_required",
    2 -> "auth_revocable", 4 -> "auth_immutable", 8 -> "auth_clawback_enabled")
  private val TrustlineFlagNames = Seq(1 -> "authorized",
    2 -> "authorized_to_maintain_liabilities", 4 -> "clawback_enabled")
  private val HostFunctionNames = Map(
    "invoke_contract" -> "InvokeContract",
    "create_contract" -> "CreateContract",
    "upload_wasm" -> "UploadContractWasm",
    "create_contract_v2" -> "CreateContractV2")
    .map { case (k, v) => UTF8String.fromString(k) ->
      UTF8String.fromString("HostFunctionTypeHostFunctionType" + v) }
  private val ExtendFootprintTtl = UTF8String.fromString("extend_footprint_ttl")
  private val RestoreFootprint = UTF8String.fromString("restore_footprint")
  private val LiquidityPool = UTF8String.fromString("liquidity_pool")
  private val LiquidityPoolShares = UTF8String.fromString("liquidity_pool_shares")
  private val Native = UTF8String.fromString("native")
  private val AddressTag = UTF8String.fromString("address")
  private val AssetTag = UTF8String.fromString("asset")
  private val Colon = UTF8String.fromString(":")
  private val ContractCodeKeyTag = Array[Byte](0, 0, 0, 7)

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** The set bits of `v` among `names`, as (ints, names) arrays — Go's flag
    * decode (`operation.go:555-582`, `2024-2079`). */
  private def flagArrays(v: Int, names: Seq[(Int, String)]): (ArrayData, ArrayData) = {
    val set = names.filter { case (b, _) => (v & b) != 0 }
    (new GenericArrayData(set.map(_._1: Any).toArray),
      new GenericArrayData(set.map(p => UTF8String.fromString(p._2): Any).toArray))
  }

  /** stroops → XLM: the exact decimal quotient, correctly rounded to a
    * double (`utils/main.go:84-87`). */
  private def xlm(stroops: Any): Any =
    if (stroops == null) null
    else Amounts.stroopsToXlm(stroops.asInstanceOf[Long])

  /** The details-map price law (`operation.go:409-421`): n/d rounded
    * HALF-UP to 7 decimals, parsed back to a double. The steps are Spark's
    * decimal(19,0) / decimal(19,0): a quotient at scale 39, stored at the
    * result type's scale 19, then rounded to 7. */
  private def price(n: Any, d: Any): Any =
    if (n == null || d == null || d.asInstanceOf[Int] == 0) null
    else new JBigDecimal(n.asInstanceOf[Int])
      .divide(new JBigDecimal(d.asInstanceOf[Int]), 39, RoundingMode.HALF_UP)
      .setScale(19, RoundingMode.HALF_UP)
      .setScale(7, RoundingMode.HALF_UP).doubleValue()

  /** SAC amount (`amount.String128`): the i128 string scaled by 10^-7 at 7
    * decimals; a 32-character or longer string is past decimal(38,7) and
    * stays the raw integer. */
  private def sacAmount(s: String): UTF8String =
    UTF8String.fromString(
      if (s.length <= 31) new JBigDecimal(new BigInteger(s), 7).toPlainString
      else s)

  private def account(key: Array[Byte]): UTF8String =
    if (key == null) null else UTF8String.fromString(Strkey.encodeAccountId(key))
  private def contract(id: Array[Byte]): UTF8String =
    if (id == null) null else UTF8String.fromString(Strkey.encodeContract(id))
  private def pool(id: Array[Byte]): UTF8String =
    if (id == null) null else UTF8String.fromString(Strkey.encodeLiquidityPool(id))
  private def hex(b: Array[Byte]): UTF8String =
    if (b == null) null else UTF8String.fromString(Hashes.hex(b))
  private def muxed(key: Array[Byte], id: Any): UTF8String =
    if (key == null || id == null) null
    else UTF8String.fromString(Strkey.encodeMuxed(key, id.asInstanceOf[Long]))
  /** `xdr.MarshalHex(BalanceId)`: the v0 discriminant then the hash. */
  private def balanceIdHex(id: Array[Byte]): UTF8String =
    if (id == null) null else UTF8String.fromString("00000000" + Hashes.hex(id))
  /** B-address over the 33-byte (type 0x00 ‖ hash) payload. */
  private def balanceIdStrkey(id: Array[Byte]): UTF8String =
    if (id == null) null else UTF8String.fromString(Strkey.encode(
      Strkey.Version.ClaimableBalance, Array[Byte](0) ++ id))
  private def base64(b: Array[Byte]): UTF8String =
    if (b == null) null
    else UTF8String.fromString(java.util.Base64.getEncoder.encodeToString(b))
  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean =
    java.util.Arrays.equals(a, b)
}

/** The per-type law, reading the `OpModel` and `TxModel` structs by
  * ordinals resolved once from their schemas. `eval` dispatches on the op
  * type to one method per arm; each arm writes only its own keys, and
  * every other field stays null. */
final class OperationDetailsKernel(opSchema: StructType, txSchema: StructType)
    extends Serializable {
  import OperationDetailsKernel._

  private def structOf(t: StructType, name: String): StructType =
    t(name).dataType.asInstanceOf[StructType]
  private def elementOf(t: StructType, name: String): StructType =
    t(name).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** Ordinals of an `AssetRef` struct. */
  private final class AssetOrd(t: StructType) extends Serializable {
    val n: Int = t.length
    val tpe: Int = t.fieldIndex("asset_type")
    val code: Int = t.fieldIndex("asset_code")
    val issuer: Int = t.fieldIndex("asset_issuer")
  }

  private object O extends Serializable {
    private def i(name: String) = opSchema.fieldIndex(name)
    val opType = i("op_type"); val sourceKey = i("source_key")
    val sourceMuxedId = i("source_muxed_id"); val amount = i("amount_stroops")
    val changes = i("changes"); val destKey = i("destination_key")
    val destMuxedId = i("destination_muxed_id"); val asset = i("asset")
    val startingBalance = i("starting_balance_stroops"); val path = i("path")
    val sourceAsset = i("source_asset")
    val sourceAmount = i("source_amount_stroops")
    val sourceMax = i("source_max_stroops")
    val destMin = i("destination_min_stroops"); val offerId = i("offer_id")
    val buyingAsset = i("buying_asset"); val sellingAsset = i("selling_asset")
    val priceN = i("price_n"); val priceD = i("price_d")
    val inflationDest = i("inflation_dest_key"); val setFlags = i("set_flags")
    val clearFlags = i("clear_flags"); val masterWeight = i("master_weight")
    val lowThreshold = i("low_threshold"); val medThreshold = i("med_threshold")
    val highThreshold = i("high_threshold"); val homeDomain = i("home_domain")
    val signerKey = i("signer_key"); val signerWeight = i("signer_weight")
    val trustAsset = i("trust_asset"); val trustPoolId = i("trust_pool_id")
    val trustLimit = i("trust_limit_stroops"); val trustorKey = i("trustor_key")
    val authorizeFlags = i("authorize_flags")
    val tlSetFlags = i("tl_set_flags"); val tlClearFlags = i("tl_clear_flags")
    val dataName = i("data_name"); val dataValue = i("data_value")
    val bumpTo = i("bump_to"); val cbAsset = i("cb_asset")
    val cbAmount = i("cb_amount_stroops"); val claimants = i("claimants")
    val balanceId = i("balance_id"); val sponsoredId = i("sponsored_id_key")
    val revokeSignerAccount = i("revoke_signer_account_key")
    val revokeSignerKey = i("revoke_signer_key")
    val revokeAccountId = i("revoke_account_id_key")
    val revokeOfferId = i("revoke_offer_id")
    val revokeTrustlineAsset = i("revoke_trustline_asset")
    val revokeTrustlinePoolId = i("revoke_trustline_pool_id")
    val poolId = i("pool_id")
    val maxAmountA = i("max_amount_a"); val maxAmountB = i("max_amount_b")
    val minAmountA = i("min_amount_a"); val minAmountB = i("min_amount_b")
    val minPriceN = i("min_price_n"); val minPriceD = i("min_price_d")
    val maxPriceN = i("max_price_n"); val maxPriceD = i("max_price_d")
    val lpShares = i("lp_shares_stroops"); val hostFnType = i("host_fn_type")
    val sorobanContractId = i("soroban_contract_id")
    val parameters = i("parameters_xdr"); val extendTo = i("extend_to")
    val sacEvents = i("sac_events")
    val preimageAddress = i("preimage_from_address_key")
    val preimageContract = i("preimage_from_contract_id")
    val preimageAsset = i("preimage_from_asset")
  }

  private object T extends Serializable {
    val sourceKey = txSchema.fieldIndex("source_key")
    val sourceMuxedId = txSchema.fieldIndex("source_muxed_id")
    val successful = txSchema.fieldIndex("successful")
    val operations = txSchema.fieldIndex("operations")
    val soroban = txSchema.fieldIndex("soroban")
    val sorobanN = structOf(txSchema, "soroban").length
    val footprint = structOf(txSchema, "soroban").fieldIndex("footprint_keys_xdr")
  }

  private val opN = opSchema.length
  private val assetOrd = new AssetOrd(structOf(opSchema, "asset"))
  private val pathOrd = new AssetOrd(elementOf(opSchema, "path"))

  private object Ch extends Serializable {
    private val t = elementOf(opSchema, "changes")
    val n = t.length
    val entryType = t.fieldIndex("entry_type"); val poolId = t.fieldIndex("pool_id")
    val preA = t.fieldIndex("pre_reserve_a"); val preB = t.fieldIndex("pre_reserve_b")
    val postA = t.fieldIndex("post_reserve_a"); val postB = t.fieldIndex("post_reserve_b")
    val preShares = t.fieldIndex("pre_total_shares")
    val postShares = t.fieldIndex("post_total_shares")
    val poolAssetA = t.fieldIndex("pool_asset_a")
    val poolAssetB = t.fieldIndex("pool_asset_b")
    val sponsorship = t.fieldIndex("sponsorship")
    private val sp = structOf(t, "sponsorship")
    val spN = sp.length
    val preSponsor = sp.fieldIndex("pre_sponsor_key")
    val postSponsor = sp.fieldIndex("post_sponsor_key")
    val preSigners = sp.fieldIndex("pre_signer_sponsors")
    val postSigners = sp.fieldIndex("post_signer_sponsors")
    private val ss = elementOf(sp, "post_signer_sponsors")
    val ssN = ss.length
    val ssSigner = ss.fieldIndex("signer_key")
    val ssSponsor = ss.fieldIndex("sponsor_key")
  }
  private val poolAssetOrd = new AssetOrd(structOf(elementOf(opSchema, "changes"), "pool_asset_a"))

  private object Cl extends Serializable {
    private val t = elementOf(opSchema, "claimants")
    val n = t.length
    val dest = t.fieldIndex("destination_key")
    val predicate = t.fieldIndex("predicate_xdr")
  }

  private object Ev extends Serializable {
    private val t = elementOf(opSchema, "sac_events")
    val n = t.length
    val topics = t.fieldIndex("topics_xdr")
    val data = t.fieldIndex("data_xdr")
  }

  @transient private lazy val json =
    new JsonBridge.StructJson(DetailsType, Map("ignoreNullFields" -> "true"))
  @transient private lazy val failedStrictReceiveJson = new JsonBridge.StructJson(
    FailedStrictReceiveJsonType, Map("ignoreNullFields" -> "true"))

  // ---- null-aware field reads ------------------------------------------------

  private def bin(r: InternalRow, i: Int): Array[Byte] =
    if (r == null || r.isNullAt(i)) null else r.getBinary(i)
  private def str(r: InternalRow, i: Int): UTF8String =
    if (r == null || r.isNullAt(i)) null else r.getUTF8String(i)
  private def long(r: InternalRow, i: Int): Any =
    if (r == null || r.isNullAt(i)) null else r.getLong(i)
  private def int(r: InternalRow, i: Int): Any =
    if (r == null || r.isNullAt(i)) null else r.getInt(i)
  private def struct(r: InternalRow, i: Int, n: Int): InternalRow =
    if (r == null || r.isNullAt(i)) null else r.getStruct(i, n)
  private def array(r: InternalRow, i: Int): ArrayData =
    if (r == null || r.isNullAt(i)) null else r.getArray(i)
  private def nonEmpty(a: ArrayData): Boolean = a != null && a.numElements() > 0

  // ---- the op being rendered -------------------------------------------------

  /** One op and its tx, with the values several arms share. */
  private final class Op(val op: InternalRow, val tx: InternalRow,
      val opPos: Int) {
    val ty: Int = op.getInt(O.opType)
    val successful: Boolean = tx.getBoolean(T.successful)
    /** The acting account: the op source, else the tx source. */
    val sourceKey: Array[Byte] =
      if (op.isNullAt(O.sourceKey)) bin(tx, T.sourceKey) else op.getBinary(O.sourceKey)
    /** Muxed-ness follows the acting account (the reference's
      * SourceAccount() law). */
    val fromMuxedId: Any =
      if (op.isNullAt(O.sourceKey)) long(tx, T.sourceMuxedId)
      else long(op, O.sourceMuxedId)
    def sourceAddr: UTF8String = account(sourceKey)
    def destAddr: UTF8String = account(bin(op, O.destKey))
    def fromMuxed: UTF8String = muxed(sourceKey, fromMuxedId)
    def toMuxed: UTF8String =
      muxed(bin(op, O.destKey), long(op, O.destMuxedId))
  }

  /** `details` and `details_json` of one op. A null op or tx (never
    * produced by the decoder) renders an empty object. */
  def eval(op: InternalRow, tx: InternalRow, opPos: Int): InternalRow = {
    val d = new Array[Any](DetailsType.length)
    var failedStrictReceive = false
    if (op != null && tx != null) {
      val o = new Op(op, tx, opPos)
      arm(o, d)
      d(ToMuxed) = o.toMuxed
      d(ToMuxedId) = long(op, O.destMuxedId)
      d(Sponsor) = sponsor(op)
      failedStrictReceive = o.ty == 2 && !o.successful
    }
    val details = new GenericInternalRow(d)
    val text =
      if (failedStrictReceive) {
        val patched = d.clone()
        patched(SourceAmount) = FailedSourceAmount
        failedStrictReceiveJson(new GenericInternalRow(patched))
      } else json(details)
    new GenericInternalRow(Array[Any](details, JsonBridge.parseJson(text)))
  }

  private def arm(o: Op, d: Array[Any]): Unit = o.ty match {
    case 0 => createAccount(o, d)
    case 1 => payment(o, d)
    case 2 => pathPaymentStrictReceive(o, d)
    case 3 | 12 => manageOffer(o, d); d(OfferId) = long(o.op, O.offerId)
    case 4 => manageOffer(o, d)
    case 5 => setOptions(o, d)
    case 6 => changeTrust(o, d)
    case 7 => allowTrust(o, d)
    case 8 => accountMerge(o, d)
    case 10 => manageData(o, d)
    case 11 => d(BumpTo) = utf8(Option(long(o.op, O.bumpTo)).map(_.toString).orNull)
    case 13 => pathPaymentStrictSend(o, d)
    case 14 => createClaimableBalance(o, d)
    case 15 => claimClaimableBalance(o, d)
    case 16 => d(SponsoredId) = account(bin(o.op, O.sponsoredId))
    case 17 => if (o.successful) endSponsoring(o, d)
    case 18 => revokeSponsorship(o, d)
    case 19 => clawback(o, d)
    case 20 =>
      d(BalanceId) = balanceIdHex(bin(o.op, O.balanceId))
      d(BalanceIdStrkey) = balanceIdStrkey(bin(o.op, O.balanceId))
    case 21 => setTrustLineFlags(o, d)
    case 22 => liquidityPoolDeposit(o, d)
    case 23 => liquidityPoolWithdraw(o, d)
    case 24 => invokeHostFunction(o, d)
    case 25 =>
      d(TypeName) = ExtendFootprintTtl
      sorobanFootprint(o, d)
      d(ExtendTo) = long(o.op, O.extendTo)
    case 26 =>
      d(TypeName) = RestoreFootprint
      sorobanFootprint(o, d)
    case _ => // inflation (9) carries no type-specific keys
  }

  // ---- shared renderings -----------------------------------------------------

  /** `{prefix}asset_type/code/issuer/id` of an asset struct; code and
    * issuer only off a non-native (or untyped) asset. */
  private def assetKeys(a: InternalRow, ord: AssetOrd, d: Array[Any],
      tpe: Int, code: Int, issuer: Int, id: Int): Unit = {
    val t = str(a, ord.tpe)
    d(tpe) = t
    if (t != Native) {
      d(code) = str(a, ord.code)
      d(issuer) = str(a, ord.issuer)
    }
    d(id) = assetId(a, ord)
  }

  /** FarmHash asset id (`asset.go:72-77`) over code ‖ issuer ‖ type. */
  private def assetId(a: InternalRow, ord: AssetOrd): Any =
    if (a == null || a.isNullAt(ord.tpe)) null
    else {
      def s(i: Int) = if (a.isNullAt(i)) "" else a.getUTF8String(i).toString
      Hashes.farmHash64(s(ord.code) + s(ord.issuer) + s(ord.tpe))
    }

  /** `asset.StringCanonical`: "native", else "CODE:ISSUER". */
  private def assetCanon(a: InternalRow, ord: AssetOrd): UTF8String =
    if (a == null) null
    else if (str(a, ord.tpe) == Native) Native
    else {
      val code = str(a, ord.code)
      val issuer = str(a, ord.issuer)
      if (code == null || issuer == null) null
      else UTF8String.concat(code, Colon, issuer)
    }

  private def opAsset(o: Op, i: Int): InternalRow = struct(o.op, i, assetOrd.n)

  /** The payment-family `from`/`to` pair and the acting source's muxed pair. */
  private def paymentParties(o: Op, d: Array[Any]): Unit = {
    d(From) = o.sourceAddr
    d(To) = o.destAddr
    d(FromMuxed) = o.fromMuxed
    d(FromMuxedId) = o.fromMuxedId
  }

  /** Trust-line ops: the line's asset triple (a pool-share line has no
    * asset type of its own) and its asset id. */
  private def trustLineAsset(o: Op, d: Array[Any]): Unit = {
    val a = opAsset(o, O.trustAsset)
    val t = str(a, assetOrd.tpe)
    d(AssetType) = if (t == null) LiquidityPoolShares else t
    d(AssetCode) = str(a, assetOrd.code)
    d(AssetIssuer) = str(a, assetOrd.issuer)
    d(AssetId) = assetId(a, assetOrd)
  }

  private def priceR(n: Any, dn: Any): InternalRow =
    new GenericInternalRow(Array[Any](n, dn))

  // ---- one method per arm ----------------------------------------------------

  private def createAccount(o: Op, d: Array[Any]): Unit = {
    d(Funder) = o.sourceAddr
    d(Account) = o.destAddr
    d(StartingBalance) = xlm(long(o.op, O.startingBalance))
    d(FunderMuxed) = o.fromMuxed
    d(FunderMuxedId) = o.fromMuxedId
  }

  private def payment(o: Op, d: Array[Any]): Unit = {
    paymentParties(o, d)
    d(Amount) = xlm(long(o.op, O.amount))
    assetKeys(opAsset(o, O.asset), assetOrd, d,
      AssetType, AssetCode, AssetIssuer, AssetId)
  }

  /** Path payments: hops, the source asset, and the dest asset. */
  private def pathPayment(o: Op, d: Array[Any]): Unit = {
    paymentParties(o, d)
    val hops = array(o.op, O.path)
    if (nonEmpty(hops)) d(Path) = new GenericArrayData(
      Array.tabulate[Any](hops.numElements()) { i =>
        if (hops.isNullAt(i)) null
        else {
          val h = hops.getStruct(i, pathOrd.n)
          new GenericInternalRow(Array[Any](str(h, pathOrd.tpe),
            str(h, pathOrd.code), str(h, pathOrd.issuer)))
        }
      })
    assetKeys(opAsset(o, O.asset), assetOrd, d,
      AssetType, AssetCode, AssetIssuer, AssetId)
    assetKeys(opAsset(o, O.sourceAsset), assetOrd, d, SourceAssetType,
      SourceAssetCode, SourceAssetIssuer, SourceAssetId)
  }

  /** Strict receive: the actual source amount from the result when the tx
    * succeeded, 0 otherwise (`operation.go:628-660`). */
  private def pathPaymentStrictReceive(o: Op, d: Array[Any]): Unit = {
    pathPayment(o, d)
    d(Amount) = xlm(long(o.op, O.amount))
    d(SourceAmount) =
      if (o.successful) xlm(long(o.op, O.sourceAmount)) else 0.0
    d(SourceMax) = xlm(long(o.op, O.sourceMax))
  }

  /** Strict send: the actual destination amount from the result when the
    * tx succeeded, 0 otherwise (`operation.go:687-696`). */
  private def pathPaymentStrictSend(o: Op, d: Array[Any]): Unit = {
    pathPayment(o, d)
    d(Amount) = if (o.successful) xlm(long(o.op, O.amount)) else 0.0
    d(SourceAmount) = xlm(long(o.op, O.sourceAmount))
    d(DestinationMin) = xlm(long(o.op, O.destMin))
  }

  /** Manage sell/buy and passive offers; the caller adds `offer_id`. */
  private def manageOffer(o: Op, d: Array[Any]): Unit = {
    d(Amount) = xlm(long(o.op, O.amount))
    val n = int(o.op, O.priceN)
    val dn = int(o.op, O.priceD)
    d(Price) = price(n, dn)
    d(PriceR) = priceR(n, dn)
    assetKeys(opAsset(o, O.buyingAsset), assetOrd, d, BuyingAssetType,
      BuyingAssetCode, BuyingAssetIssuer, BuyingAssetId)
    assetKeys(opAsset(o, O.sellingAsset), assetOrd, d, SellingAssetType,
      SellingAssetCode, SellingAssetIssuer, SellingAssetId)
  }

  private def setOptions(o: Op, d: Array[Any]): Unit = {
    d(InflationDest) = account(bin(o.op, O.inflationDest))
    if (!o.op.isNullAt(O.setFlags)) {
      val (ints, names) = flagArrays(o.op.getInt(O.setFlags), AccountFlagNames)
      d(SetFlags) = ints
      d(SetFlagsS) = names
    }
    if (!o.op.isNullAt(O.clearFlags)) {
      val (ints, names) = flagArrays(o.op.getInt(O.clearFlags), AccountFlagNames)
      d(ClearFlags) = ints
      d(ClearFlagsS) = names
    }
    d(MasterKeyWeight) = int(o.op, O.masterWeight)
    d(LowThreshold) = int(o.op, O.lowThreshold)
    d(MedThreshold) = int(o.op, O.medThreshold)
    d(HighThreshold) = int(o.op, O.highThreshold)
    d(HomeDomain) = str(o.op, O.homeDomain)
    d(SignerKey) = account(bin(o.op, O.signerKey))
    d(SignerWeight) = int(o.op, O.signerWeight)
  }

  private def changeTrust(o: Op, d: Array[Any]): Unit = {
    trustLineAsset(o, d)
    val poolId = bin(o.op, O.trustPoolId)
    d(LiquidityPoolId) = hex(poolId)
    d(LiquidityPoolIdStrkey) = pool(poolId)
    d(Limit) = xlm(long(o.op, O.trustLimit))
    d(Trustee) = str(opAsset(o, O.trustAsset), assetOrd.issuer)
    d(Trustor) = o.sourceAddr
    d(TrustorMuxed) = o.fromMuxed
    d(TrustorMuxedId) = o.fromMuxedId
  }

  private def allowTrust(o: Op, d: Array[Any]): Unit = {
    trustLineAsset(o, d)
    d(Trustee) = o.sourceAddr
    d(Trustor) = account(bin(o.op, O.trustorKey))
    d(TrusteeMuxed) = o.fromMuxed
    d(TrusteeMuxedId) = o.fromMuxedId
    if (!o.op.isNullAt(O.authorizeFlags)) {
      val f = o.op.getInt(O.authorizeFlags)
      d(Authorize) = (f & 1) != 0
      if ((f & 2) != 0) d(AuthorizeToMaintainLiabilities) = true
      if ((f & 4) != 0) d(ClawbackEnabled) = true
    }
  }

  private def accountMerge(o: Op, d: Array[Any]): Unit = {
    d(Account) = o.sourceAddr
    d(AccountMuxed) = o.fromMuxed
    d(AccountMuxedId) = o.fromMuxedId
    d(Into) = o.destAddr
    d(IntoMuxed) = o.toMuxed
    d(IntoMuxedId) = long(o.op, O.destMuxedId)
  }

  private def manageData(o: Op, d: Array[Any]): Unit = {
    d(Name) = str(o.op, O.dataName)
    d(Value) = base64(bin(o.op, O.dataValue))
  }

  private def createClaimableBalance(o: Op, d: Array[Any]): Unit = {
    d(Amount) = xlm(long(o.op, O.cbAmount))
    d(Asset) = assetCanon(opAsset(o, O.cbAsset), assetOrd)
    val cs = array(o.op, O.claimants)
    if (cs != null) d(Claimants) = new GenericArrayData(
      Array.tabulate[Any](cs.numElements()) { i =>
        val c = if (cs.isNullAt(i)) null else cs.getStruct(i, Cl.n)
        val pred = bin(c, Cl.predicate)
        new GenericInternalRow(Array[Any](account(bin(c, Cl.dest)),
          if (pred == null) null
          else UTF8String.fromString(ClaimPredicate.jsonFromBinary(pred))))
      })
  }

  private def claimClaimableBalance(o: Op, d: Array[Any]): Unit = {
    val id = bin(o.op, O.balanceId)
    d(BalanceId) = balanceIdHex(id)
    d(BalanceIdStrkey) = balanceIdStrkey(id)
    d(Claimant) = o.sourceAddr
    d(ClaimantMuxed) = o.fromMuxed
    d(ClaimantMuxedId) = o.fromMuxedId
  }

  /** End sponsoring: the latest earlier begin op in the tx whose sponsored
    * id is this op's source (`findInitatingBeginSponsoringOp`). */
  private def endSponsoring(o: Op, d: Array[Any]): Unit = {
    val ops = array(o.tx, T.operations)
    var i = math.min(o.opPos, ops.numElements()) - 1
    var begin: InternalRow = null
    while (begin == null && i >= 0) {
      if (!ops.isNullAt(i)) {
        val b = ops.getStruct(i, opN)
        val sponsored = bin(b, O.sponsoredId)
        if (b.getInt(O.opType) == 16 && sponsored != null &&
            o.sourceKey != null && sameBytes(sponsored, o.sourceKey)) begin = b
      }
      i -= 1
    }
    if (begin != null) {
      val own = !begin.isNullAt(O.sourceKey)
      val key = if (own) begin.getBinary(O.sourceKey) else bin(o.tx, T.sourceKey)
      val muxedId =
        if (own) long(begin, O.sourceMuxedId) else long(o.tx, T.sourceMuxedId)
      d(BeginSponsor) = account(key)
      d(BeginSponsorMuxed) = muxed(key, muxedId)
      d(BeginSponsorMuxedId) = muxedId
    }
  }

  /** Revoke sponsorship: the signer arm, or one ledger-key family per op
    * (`addLedgerKeyToDetails`). `account_id` belongs to the account arm
    * alone; trustline and data arms re-key the account under their own
    * prefixes. */
  private def revokeSponsorship(o: Op, d: Array[Any]): Unit = {
    val op = o.op
    d(OfferId) = long(op, O.revokeOfferId)
    d(SignerKey) = account(bin(op, O.revokeSignerKey))
    d(SignerAccountId) = account(bin(op, O.revokeSignerAccount))
    val accountKey = bin(op, O.revokeAccountId)
    val tlPool = bin(op, O.revokeTrustlinePoolId)
    val tlAsset = opAsset(o, O.revokeTrustlineAsset)
    val dataName = str(op, O.dataName)
    if (op.isNullAt(O.revokeOfferId) && dataName == null && tlAsset == null &&
        tlPool == null) d(AccountId) = account(accountKey)
    if (tlAsset != null || tlPool != null)
      d(TrustlineAccountId) = account(accountKey)
    d(TrustlineAsset) = assetCanon(tlAsset, assetOrd)
    d(TrustlineLiquidityPoolId) = hex(tlPool)
    d(TrustlineLiquidityPoolIdStrkey) = pool(tlPool)
    if (dataName != null) d(DataAccountId) = account(accountKey)
    d(DataName) = dataName
    val cb = bin(op, O.balanceId)
    d(ClaimableBalanceId) = balanceIdHex(cb)
    d(ClaimableBalanceIdStrkey) = balanceIdStrkey(cb)
    val lp = bin(op, O.poolId)
    d(LiquidityPoolId) = hex(lp)
    d(LiquidityPoolIdStrkey) = pool(lp)
  }

  private def clawback(o: Op, d: Array[Any]): Unit = {
    d(From) = o.destAddr
    d(Amount) = xlm(long(o.op, O.amount))
    assetKeys(opAsset(o, O.asset), assetOrd, d,
      AssetType, AssetCode, AssetIssuer, AssetId)
  }

  private def setTrustLineFlags(o: Op, d: Array[Any]): Unit = {
    trustLineAsset(o, d)
    d(Trustor) = account(bin(o.op, O.trustorKey))
    if (!o.op.isNullAt(O.tlSetFlags)) {
      val (ints, names) = flagArrays(o.op.getInt(O.tlSetFlags), TrustlineFlagNames)
      d(TlSetFlags) = ints
      d(TlSetFlagsS) = names
    }
    if (!o.op.isNullAt(O.tlClearFlags)) {
      val (ints, names) = flagArrays(o.op.getInt(O.tlClearFlags), TrustlineFlagNames)
      d(TlClearFlags) = ints
      d(TlClearFlagsS) = names
    }
  }

  // ---- liquidity pools (22 deposit / 23 withdraw) ----------------------------

  /** The op's last change to its own pool: the pre/post product state
    * (`getLiquidityPoolAndProductDelta`, `operation.go:238-285`). */
  private def lastPoolChange(op: InternalRow): InternalRow = {
    val changes = array(op, O.changes)
    val poolId = bin(op, O.poolId)
    if (changes == null || poolId == null) return null
    var i = changes.numElements() - 1
    while (i >= 0) {
      if (!changes.isNullAt(i)) {
        val c = changes.getStruct(i, Ch.n)
        val cPool = bin(c, Ch.poolId)
        if (str(c, Ch.entryType) == LiquidityPool && cPool != null &&
            sameBytes(cPool, poolId)) return c
      }
      i -= 1
    }
    null
  }

  /** post − pre of a pool field when the tx succeeded and the pool
    * changed, else 0. */
  private def poolDelta(o: Op, lp: InternalRow, pre: Int, post: Int): Any =
    if (!o.successful || lp == null) 0L
    else if (lp.isNullAt(pre) || lp.isNullAt(post)) null
    else lp.getLong(post) - lp.getLong(pre)

  private def poolCommon(o: Op, lp: InternalRow, d: Array[Any]): Unit = {
    val poolId = bin(o.op, O.poolId)
    d(LiquidityPoolId) = hex(poolId)
    d(LiquidityPoolIdStrkey) = pool(poolId)
    if (o.successful) {
      val a = struct(lp, Ch.poolAssetA, poolAssetOrd.n)
      val b = struct(lp, Ch.poolAssetB, poolAssetOrd.n)
      assetKeys(a, poolAssetOrd, d, ReserveAAssetType, ReserveAAssetCode,
        ReserveAAssetIssuer, ReserveAAssetId)
      assetKeys(b, poolAssetOrd, d, ReserveBAssetType, ReserveBAssetCode,
        ReserveBAssetIssuer, ReserveBAssetId)
    }
  }

  private def liquidityPoolDeposit(o: Op, d: Array[Any]): Unit = {
    val lp = lastPoolChange(o.op)
    poolCommon(o, lp, d)
    d(ReserveAMaxAmount) = xlm(long(o.op, O.maxAmountA))
    d(ReserveBMaxAmount) = xlm(long(o.op, O.maxAmountB))
    d(ReserveADepositAmount) = xlm(poolDelta(o, lp, Ch.preA, Ch.postA))
    d(ReserveBDepositAmount) = xlm(poolDelta(o, lp, Ch.preB, Ch.postB))
    val (minN, minD) = (int(o.op, O.minPriceN), int(o.op, O.minPriceD))
    val (maxN, maxD) = (int(o.op, O.maxPriceN), int(o.op, O.maxPriceD))
    d(MinPrice) = price(minN, minD)
    d(MinPriceR) = priceR(minN, minD)
    d(MaxPrice) = price(maxN, maxD)
    d(MaxPriceR) = priceR(maxN, maxD)
    d(SharesReceived) = xlm(poolDelta(o, lp, Ch.preShares, Ch.postShares))
  }

  private def liquidityPoolWithdraw(o: Op, d: Array[Any]): Unit = {
    val lp = lastPoolChange(o.op)
    poolCommon(o, lp, d)
    def negated(v: Any): Any = if (v == null) null else -v.asInstanceOf[Long]
    d(ReserveAMinAmount) = xlm(long(o.op, O.minAmountA))
    d(ReserveBMinAmount) = xlm(long(o.op, O.minAmountB))
    d(ReserveAWithdrawAmount) = xlm(negated(poolDelta(o, lp, Ch.preA, Ch.postA)))
    d(ReserveBWithdrawAmount) = xlm(negated(poolDelta(o, lp, Ch.preB, Ch.postB)))
    d(Shares) = xlm(long(o.op, O.lpShares))
  }

  // ---- soroban (24 invoke / 25 extend_ttl / 26 restore) ----------------------

  /** Keys all three soroban op types carry: the contract and the
    * footprint-derived hashes (`ledgerKeyHashFromTxEnvelope` /
    * `contractCodeHashFromTxEnvelope`, `operation.go:1841-1874`). */
  private def sorobanFootprint(o: Op, d: Array[Any]): Unit = {
    d(ContractId) = contract(bin(o.op, O.sorobanContractId))
    val soroban = struct(o.tx, T.soroban, T.sorobanN)
    if (soroban != null) {
      val keys = array(soroban, T.footprint)
      if (nonEmpty(keys)) d(LedgerKeyHash) = new GenericArrayData(
        Array.tabulate[Any](keys.numElements()) { i =>
          if (keys.isNullAt(i)) null
          else UTF8String.fromString(Hashes.sha256Hex(keys.getBinary(i)))
        })
      d(ContractCodeHash) = contractCodeHash(keys)
    }
  }

  /** Hex of the first contract-code footprint key's 32-byte hash. */
  private def contractCodeHash(keys: ArrayData): UTF8String = {
    if (keys == null) return null
    var i = 0
    while (i < keys.numElements()) {
      if (!keys.isNullAt(i)) {
        val k = keys.getBinary(i)
        if (k.length >= 4 && java.util.Arrays.equals(k, 0, 4,
            ContractCodeKeyTag, 0, 4))
          return hex(java.util.Arrays.copyOfRange(k, 4, math.min(k.length, 36)))
      }
      i += 1
    }
    null
  }

  private def invokeHostFunction(o: Op, d: Array[Any]): Unit = {
    val op = o.op
    val fn = str(op, O.hostFnType)
    d(FunctionName) = if (fn == null) null else HostFunctionNames.getOrElse(fn, null)
    d(TypeName) = fn
    sorobanFootprint(o, d)
    val params = array(op, O.parameters)
    if (nonEmpty(params)) {
      d(Parameters) = new GenericArrayData(Array.tabulate[Any](
        params.numElements()) { i =>
        if (params.isNullAt(i)) null else base64(params.getBinary(i))
      })
      d(ParametersDecoded) = new GenericArrayData(Array.tabulate[Any](
        params.numElements()) { i =>
        if (params.isNullAt(i)) null
        else UTF8String.fromString(ScVal.jsonFromBinary(params.getBinary(i)))
      })
    }
    val events = array(op, O.sacEvents)
    if (nonEmpty(events)) d(AssetBalanceChanges) = assetBalanceChanges(events)
    // the create-contract id preimage (`switchContractIdPreimageType`,
    // `operation.go:2275-2295`): the tag rides the shared `from` key and
    // the asset the shared `asset` key
    val fromAddress = bin(op, O.preimageAddress)
    val fromContract = bin(op, O.preimageContract)
    val fromAsset = opAsset(o, O.preimageAsset)
    d(From) =
      if (fromAddress != null || fromContract != null) AddressTag
      else if (fromAsset != null) AssetTag else null
    d(Address) =
      if (fromAddress != null) account(fromAddress) else contract(fromContract)
    d(Asset) = assetCanon(fromAsset, assetOrd)
  }

  /** SAC balance changes from the op's contract events
    * (`parseAssetBalanceChangesFromContractEvents`, `operation.go:1942-1998`);
    * events that are not SAC-shaped drop out. */
  private def assetBalanceChanges(events: ArrayData): ArrayData = {
    val out = ArrayBuffer.empty[Any]
    var i = 0
    while (i < events.numElements()) {
      if (!events.isNullAt(i)) {
        val e = events.getStruct(i, Ev.n)
        val ts = array(e, Ev.topics)
        val topics = if (ts == null) Seq.empty[Array[Byte]]
          else (0 until ts.numElements()).map(j =>
            if (ts.isNullAt(j)) null else ts.getBinary(j))
        SacEvents.parse(topics, bin(e, Ev.data)).foreach { s =>
          val native = s.assetType == "native"
          out += new GenericInternalRow(Array[Any](
            utf8(s.from.orNull), utf8(s.to.orNull), utf8(s.eventType),
            sacAmount(s.amountString), utf8(s.assetType),
            if (native) null else utf8(s.code),
            if (native) null else utf8(s.issuer)))
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  // ---- sponsor (every op type) -------------------------------------------------

  /** The `sponsor` key (`getSponsor`, `operation.go:1164-1170`,
    * `1251-1290`): per change in order, the set-options signer's new
    * sponsor if it changed, else a created entry's sponsor (pre absent,
    * post set); the first hit wins. */
  private def sponsor(op: InternalRow): UTF8String = {
    val changes = array(op, O.changes)
    if (changes == null) return null
    val signer = bin(op, O.signerKey)
    var i = 0
    while (i < changes.numElements()) {
      val sp =
        if (changes.isNullAt(i)) null
        else struct(changes.getStruct(i, Ch.n), Ch.sponsorship, Ch.spN)
      if (sp != null) {
        val post = signerSponsor(array(sp, Ch.postSigners), signer)
        val pre = signerSponsor(array(sp, Ch.preSigners), signer)
        val hit =
          if (signer != null && post != null && !sameBytes(pre, post)) post
          else if (sp.isNullAt(Ch.preSponsor)) bin(sp, Ch.postSponsor)
          else null
        if (hit != null) return account(hit)
      }
      i += 1
    }
    null
  }

  /** The sponsor key of the first signer entry whose key is `signer`
    * (null-safe match). */
  private def signerSponsor(signers: ArrayData, signer: Array[Byte]): Array[Byte] = {
    if (signers == null) return null
    var i = 0
    while (i < signers.numElements()) {
      val s = if (signers.isNullAt(i)) null else signers.getStruct(i, Ch.ssN)
      if (sameBytes(bin(s, Ch.ssSigner), signer)) return bin(s, Ch.ssSponsor)
      i += 1
    }
    null
  }
}
