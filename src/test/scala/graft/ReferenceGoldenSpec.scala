package graft

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.codec.{Hashes, Strkey}
import graft.operators._
import graft.sources.{LcmBatchFiles, LedgerFixtures, RealXdrFixture, StellarFixture}

/** Parity against the reference's OWN published output: the golden NDJSON
  * under `/root/reference/testdata` (real-mainnet rows for 17 table
  * families). Two kinds of assertion:
  *
  *  1. SCHEMA PARITY — per family, the golden key set + JSON types must be
  *     emitted by our corresponding DataFrame with compatible Spark types.
  *     Families whose goldens match the CURRENT reference structs
  *     (schema.go) are compared exactly (modulo the struct's `omitempty`
  *     keys, absent from golden rows whose value was never set). The four
  *     bucket-list families (accounts/signers/offers/trustlines) ship
  *     goldens that PREDATE the current structs — there the golden keys
  *     must be a SUBSET of ours under the reference's own renames
  *     (`selling_asset` → `selling_asset_id`, …).
  *
  *  2. SCALAR LAWS — our codecs replayed over the golden VALUES: TOID bit
  *     algebra on real ids, farmhash64 asset ids, FNV-64a orderbook dims,
  *     strkey round-trips (G/B/L/C incl. the 33-byte balance-id payload),
  *     effect id/index composition, and the op/effect type-name tables.
  *     These check the implementations against real-network outputs, not
  *     against our own fixtures.
  */
class ReferenceGoldenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val root = new File("/root/reference/testdata")
  private val om = new ObjectMapper()

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-reference-golden")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- golden loading ------------------------------------------------------

  private def goldenRows(family: String, fileGlob: String = ""): Seq[JsonNode] = {
    val dir = new File(root, family)
    assume(dir.isDirectory, s"reference testdata missing: $dir")
    dir.listFiles().filter(_.getName.endsWith(".golden"))
      .filter(f => fileGlob.isEmpty || f.getName == fileGlob)
      .toSeq.sortBy(_.getName)
      .flatMap { f =>
        scala.io.Source.fromFile(f).getLines()
          .filter(_.trim.nonEmpty).map(om.readTree).toSeq
      }
  }

  /** JSON type tag per golden value. */
  private def jtype(n: JsonNode): String =
    if (n.isNull) "null"
    else if (n.isBoolean) "bool"
    else if (n.isNumber) "num"
    else if (n.isTextual) "str"
    else if (n.isArray) "arr"
    else "obj"

  private def keyTypes(rows: Seq[JsonNode]): Map[String, Set[String]] =
    rows.flatMap(r => r.fields().asScala.map(e => e.getKey -> jtype(e.getValue)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }

  /** Golden JSON type vs our Spark type. Null-only golden columns accept any
    * nullable type; VARIANT renders as whatever JSON it holds. */
  private def compatible(golden: Set[String], dt: DataType): Boolean = {
    val concrete = golden - "null"
    if (concrete.isEmpty) return true
    concrete.forall {
      case "bool" => dt == BooleanType
      case "num" => dt.isInstanceOf[NumericType] || dt == VariantType
      case "str" => dt == StringType || dt == TimestampType ||
        dt == DateType || dt == VariantType
      case "arr" => dt.isInstanceOf[ArrayType] || dt == VariantType
      case "obj" => dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType] ||
        dt == VariantType
      case _ => false
    }
  }

  /** mode Exact: golden keys == our columns (minus `optional` on either
    * side). mode Subset: every golden key (after `renames`) must exist in
    * our columns. Types always checked for matched keys (minus
    * `typeExempt`). */
  private def assertParity(df: DataFrame, rows: Seq[JsonNode],
      exact: Boolean, optional: Set[String] = Set.empty,
      renames: Map[String, String] = Map.empty,
      typeExempt: Set[String] = Set.empty): Unit = {
    val golden = keyTypes(rows)
    val ours = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val goldenMapped = golden.map { case (k, t) => renames.getOrElse(k, k) -> t }
    val missing = goldenMapped.keySet -- ours.keySet -- optional
    assert(missing.isEmpty, s"golden keys missing from our schema: $missing")
    if (exact) {
      val extra = ours.keySet -- goldenMapped.keySet -- optional
      assert(extra.isEmpty, s"our columns not in the reference golden: $extra")
    }
    val badTypes = goldenMapped.collect {
      case (k, t) if ours.contains(k) && !typeExempt.contains(k) &&
        !compatible(t, ours(k)) => s"$k: golden $t vs ours ${ours(k)}"
    }
    assert(badTypes.isEmpty, s"type mismatches: $badTypes")
  }

  // ---- frames under test (same constructions as the CLI export paths) ------
  // The classic entry tables, which no export writes yet, use their catalog
  // stand-ins.

  private lazy val fx = StellarFixture.ledgers(spark, 1000, 1004)
  /** The CLI's ledger input for the soroban tables: a datastore tree read
    * back through the range scan `--batch-input` runs. */
  private lazy val sorobanLedgers = {
    val tree = java.nio.file.Files.createTempDirectory("graft-golden-xdr").toString
    RealXdrFixture.writeBatchTree(tree, 3000, 3003)
    LcmBatchFiles.ledgerRowsForRange(spark, tree, 3000, 3003)
  }
  private lazy val changes =
    StellarFixture.changes(spark, 1000, 1004, includeTrustlines = true)
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    "/root/testdata/sf0.001")
  private def tbl(n: String) = LedgerFixtures.table(spark, sfDir, n)

  // ---- 1. schema parity ----------------------------------------------------

  test("ledgers: exact key/type parity") {
    assertParity(StellarTransforms.historyLedgers(fx), goldenRows("ledgers"),
      exact = true)
  }

  test("transactions: parity modulo omitempty precondition/fee-bump keys") {
    // TransactionOutput's omitempty tags (schema.go:42,57-60) plus
    // fee_account_muxed, which neither side emits for non-muxed fee bumps
    assertParity(StellarTransforms.historyTransactions(fx),
      goldenRows("transactions"), exact = true,
      optional = Set("account_muxed", "fee_account", "fee_account_muxed",
        "inner_transaction_hash", "new_max_fee"))
  }

  test("operations: parity modulo omitempty source_account_muxed") {
    assertParity(StellarTransforms.historyOperations(fx),
      goldenRows("operations"), exact = true,
      optional = Set("source_account_muxed"))
  }

  test("effects: exact key/type parity") {
    assertParity(StellarTradesEffects.historyEffects(fx),
      goldenRows("effects"), exact = true)
  }

  test("trades: exact key/type parity") {
    assertParity(StellarTradesEffects.historyTrades(fx),
      goldenRows("trades"), exact = true)
  }

  test("assets: exact key/type parity") {
    assertParity(StellarTransforms.historyAssets(fx), goldenRows("assets"),
      exact = true)
  }

  test("token_transfers: exact key/type parity") {
    assertParity(TokenTransfers.fromLedgers(fx),
      goldenRows("token_transfers"), exact = true)
  }

  test("contract_events: exact key/type parity") {
    val rows = goldenRows("contract_events")
    assertParity(SorobanStateTables.contractEventsFromLedgers(sorobanLedgers),
      rows, exact = true)
  }

  test("ledger_transactions: exact key/type parity") {
    assertParity(StellarTransforms.ledgerTransactions(fx.toDF()),
      goldenRows("ledger_transactions"), exact = true)
  }

  test("accounts: stale bucket-list golden is a subset of the current struct") {
    assertParity(ChangeTransforms.accounts(changes), goldenRows("accounts"),
      exact = false)
  }

  test("signers: stale bucket-list golden is a subset of the current struct") {
    assertParity(ChangeTransforms.accountSigners(changes),
      goldenRows("signers"), exact = false)
  }

  test("offers: stale golden subset under the reference's own renames") {
    // the old schema carried the hashed ids as selling_asset/buying_asset;
    // schema.go:259-266 renamed them *_id and added type/code/issuer
    assertParity(ChangeTransforms.offers(changes), goldenRows("offers"),
      exact = false,
      renames = Map("selling_asset" -> "selling_asset_id",
        "buying_asset" -> "buying_asset_id"))
  }

  test("trustlines: stale golden subset (old int-enum asset_type)") {
    assertParity(ChangeTransforms.trustlines(changes),
      goldenRows("trustlines"), exact = false,
      typeExempt = Set("asset_type")) // pre-rename goldens carry the enum int
  }

  test("claimable_balances: bucket golden subset; changes golden exact") {
    val df = EntryProjections.claimableBalances(tbl("customer"))
    assertParity(df, goldenRows("claimable_balances"), exact = false)
    assertParity(df, goldenRows("changes", "claimable_balances.golden"),
      exact = true)
  }

  test("changes: per-entry-type exact parity (pools, contract data/code, config)") {
    assertParity(EntryProjections.liquidityPools(tbl("part")),
      goldenRows("changes", "pools.golden"), exact = true)
    assertParity(SorobanStateTables.contractDataFromLedgers(sorobanLedgers),
      goldenRows("changes", "contract_data.golden"), exact = true)
    assertParity(SorobanStateTables.contractCodeFromLedgers(sorobanLedgers),
      goldenRows("changes", "contract_code.golden"), exact = true)
    assertParity(SorobanStateTables.configSettingsFromLedgers(sorobanLedgers),
      goldenRows("changes", "config_setting.golden"), exact = true)
  }

  test("orderbooks: all four star shapes match the normalized structs") {
    val offers = ChangeTransforms.offers(changes)
    val rows = goldenRows("orderbooks")
    def shape(keys: Set[String]) =
      rows.filter(r => r.fieldNames().asScala.toSet == keys)
    val acct = shape(Set("account_id", "address"))
    val market = shape(Set("market_id", "base_code", "base_issuer",
      "counter_code", "counter_issuer"))
    val offer = shape(Set("horizon_offer_id", "dim_offer_id", "market_id",
      "maker_id", "action", "base_amount", "counter_amount", "price"))
    val fact = shape(Set("ledger_id", "offer_instance_id"))
    assert(acct.nonEmpty && market.nonEmpty && offer.nonEmpty && fact.nonEmpty)
    assert(acct.size + market.size + offer.size + fact.size == rows.size,
      "unrecognized orderbook row shape in the golden data")
    assertParity(OrderbookStar.dimAccount(offers), acct, exact = true)
    assertParity(OrderbookStar.dimMarket(offers), market, exact = true)
    assertParity(OrderbookStar.dimOffer(offers), offer, exact = true)
    assertParity(OrderbookStar.factOfferEvents(offers), fact, exact = true)
  }

  test("ranges: {start, end} rows, ordered") {
    val rows = goldenRows("ranges")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.fieldNames().asScala.toSet == Set("start", "end"))
      assert(r.get("start").asLong <= r.get("end").asLong)
    }
  }

  // ---- 2. scalar laws over golden values -----------------------------------

  private val hex64 = "^[0-9a-f]{64}$".r

  test("ledgers laws: TOID id, hex hashes, string op count (incl. the documented row)") {
    val rows = goldenRows("ledgers")
    rows.foreach { r =>
      assert(r.get("id").asLong == (r.get("sequence").asLong << 32),
        s"ledger TOID law broken at seq ${r.get("sequence")}")
      assert(hex64.matches(r.get("ledger_hash").asText))
      assert(hex64.matches(r.get("previous_ledger_hash").asText))
      assert(r.get("tx_set_operation_count").isTextual)
    }
    // the spot row: testdata/ledgers/single_ledger.golden:1
    val single = goldenRows("ledgers", "single_ledger.golden").head
    assert(single.get("sequence").asLong == 30822015L)
    assert(single.get("id").asLong == 132379546421821440L)
    assert(graft.codec.Toid.pack(30822015L, 0, 0) == 132379546421821440L)
    assert(single.get("tx_set_operation_count").asText == "175")
  }

  test("transactions laws: TOID bits, strkey account, time_bounds format") {
    goldenRows("transactions").foreach { r =>
      val id = r.get("id").asLong
      assert(id >> 32 == r.get("ledger_sequence").asLong)
      assert((id & 0xfffL) == 0L, "tx TOID must have a zero op index")
      assert(hex64.matches(r.get("transaction_hash").asText))
      val acct = r.get("account").asText
      // strkey G round-trip through OUR codec on real addresses
      assert(Strkey.encodeAccountId(Strkey.decodeAccountId(acct)) == acct)
      // an unset upper bound renders as `[lo,)` (the blank-zero-max law our
      // transform implements)
      val tb = r.get("time_bounds").asText
      assert(tb.isEmpty || tb.matches("^\\[\\d+,\\d*\\)$"), s"time_bounds: $tb")
    }
  }

  test("operations laws: TOID composition and the 26-way type-name table") {
    goldenRows("operations").foreach { r =>
      val id = r.get("id").asLong
      val txId = r.get("transaction_id").asLong
      assert(id >> 32 == r.get("ledger_sequence").asLong)
      assert((id & ~0xfffL) == txId, "op id must extend its transaction id")
      assert((id & 0xfffL) >= 1, "op index is 1-based")
      val ty = r.get("type").asInt
      assert(StellarTransforms.operationTypeNames(ty) ==
        r.get("type_string").asText,
        s"type_string mismatch for op type $ty")
    }
  }

  test("effects laws: id = operation_id-index and the effect-name table") {
    goldenRows("effects").foreach { r =>
      val opId = r.get("operation_id").asLong
      assert(opId >> 32 == r.get("ledger_sequence").asLong)
      assert(r.get("id").asText ==
        s"$opId-${r.get("index").asInt}")
      val ty = r.get("type").asInt
      assert(StellarTradesEffects.EffectNames.get(ty)
        .contains(r.get("type_string").asText),
        s"effect name mismatch for type $ty: ${r.get("type_string")}")
    }
  }

  test("trades laws: farmhash asset ids and the synthetic bit-62 offer id") {
    goldenRows("trades").foreach { r =>
      def fh(prefix: String): Long = Hashes.farmHash64(
        r.get(s"${prefix}_asset_code").asText +
          r.get(s"${prefix}_asset_issuer").asText +
          r.get(s"${prefix}_asset_type").asText)
      assert(fh("selling") == r.get("selling_asset_id").asLong,
        "selling farmhash id mismatch on a real golden row")
      assert(fh("buying") == r.get("buying_asset_id").asLong)
      val opId = r.get("history_operation_id").asLong
      Seq("buying_offer_id", "selling_offer_id").foreach { k =>
        val v = r.get(k)
        if (!v.isNull && (v.asLong >> 62) == 1L)
          assert(v.asLong == (opId | (1L << 62)),
            s"synthetic $k must be history_operation_id with bit 62 set")
      }
    }
  }

  test("assets laws: farmhash64 ids reproduce on all real golden rows") {
    val rows = goldenRows("assets")
    assert(rows.size > 50)
    rows.foreach { r =>
      val expect = Hashes.farmHash64(
        r.get("asset_code").asText + r.get("asset_issuer").asText +
          r.get("asset_type").asText)
      assert(expect == r.get("asset_id").asLong,
        s"farmhash mismatch for ${r.get("asset_code")}")
      assert(r.get("id") == null)
    }
  }

  test("orderbooks laws: FNV-64a account, market and offer-instance hashes") {
    val rows = goldenRows("orderbooks")
    def assetStr(code: String, issuer: String): String =
      if (code == "native" && issuer.isEmpty) "native:" else s"$code:$issuer"
    var accts, markets, offs = 0
    rows.foreach { r =>
      val keys = r.fieldNames().asScala.toSet
      if (keys == Set("account_id", "address")) {
        accts += 1
        assert(Hashes.fnv64a(r.get("address").asText) ==
          r.get("account_id").bigIntegerValue.longValue,
          s"fnv64a(address) mismatch for ${r.get("address")}")
      } else if (keys.contains("base_code")) {
        markets += 1
        val joined = assetStr(r.get("base_code").asText,
          r.get("base_issuer").asText) + "/" +
          assetStr(r.get("counter_code").asText,
            r.get("counter_issuer").asText)
        assert(Hashes.fnv64a(joined) ==
          r.get("market_id").bigIntegerValue.longValue,
          s"market fnv mismatch for $joined")
      } else if (keys.contains("dim_offer_id")) {
        offs += 1
        // the goldens predate the stroop conversion: their hash input was
        // %d/%d/%f over the RAW int amount (today's extractDimOffer,
        // offer_normalized.go:141, formats the converted amount %f —
        // OrderbookStar implements that); either way this pins our FNV-64a
        // against real ids
        val input = "%d/%d/%f".formatLocal(java.util.Locale.ROOT,
          r.get("horizon_offer_id").asLong,
          r.get("base_amount").asLong, r.get("price").asDouble)
        assert(Hashes.fnv64a(input) ==
          r.get("dim_offer_id").bigIntegerValue.longValue,
          s"dim_offer fnv mismatch for $input")
        assert(math.abs(r.get("counter_amount").asDouble -
          r.get("base_amount").asDouble * r.get("price").asDouble) <=
          1e-6 * math.max(1.0, math.abs(r.get("counter_amount").asDouble)))
      }
    }
    assert(accts > 100 && markets > 100 && offs > 100)
  }

  test("changes laws: strkey L/B/C renderings reproduce from the hex ids") {
    goldenRows("changes", "pools.golden").foreach { r =>
      val idHex = r.get("liquidity_pool_id").asText
      assert(Strkey.encodeLiquidityPool(hexBytes(idHex)) ==
        r.get("liquidity_pool_id_strkey").asText)
      assert(Hashes.farmHash64(
        r.get("asset_a_code").asText + r.get("asset_a_issuer").asText +
          r.get("asset_a_type").asText) == r.get("asset_a_id").asLong)
    }
    goldenRows("changes", "claimable_balances.golden").foreach { r =>
      val bid = r.get("balance_id").asText
      assert(bid.length == 72 && bid.startsWith("00000000"))
      // the strkey payload is the 1-byte type + 32-byte hash, NOT the
      // 4-byte-type XDR marshal the hex id carries
      assert(Strkey.encodeClaimableBalance(hexBytes(bid.drop(8))) ==
        r.get("balance_id_strkey").asText)
      assert(Hashes.farmHash64(
        r.get("asset_code").asText + r.get("asset_issuer").asText +
          r.get("asset_type").asText) == r.get("asset_id").asLong)
    }
    goldenRows("changes", "contract_data.golden").foreach { r =>
      val cid = r.get("contract_id").asText
      if (cid.nonEmpty) {
        assert(cid.head == 'C')
        assert(Strkey.encode(16.toByte, Strkey.decode(16.toByte, cid)) == cid)
      }
    }
  }

  test("signer/account/trustline laws: G-strkey round-trips on real addresses") {
    (goldenRows("signers").flatMap(r =>
        Seq(r.get("account_id").asText, r.get("signer").asText)) ++
      goldenRows("accounts").map(_.get("account_id").asText) ++
      goldenRows("trustlines").map(_.get("account_id").asText))
      .foreach { a =>
        assert(Strkey.encodeAccountId(Strkey.decodeAccountId(a)) == a)
      }
    // trustline ledger_key layout: 4-byte TRUSTLINE type ‖ 32-byte account
    // key ‖ asset — the embedded key must match the row's account_id
    goldenRows("trustlines").foreach { r =>
      val lk = java.util.Base64.getDecoder.decode(r.get("ledger_key").asText)
      assert(lk.take(4).toSeq == Seq[Byte](0, 0, 0, 1))
      // skip the 4-byte account-id discriminant inside the AccountID union
      assert(lk.slice(8, 40).toSeq ==
        Strkey.decodeAccountId(r.get("account_id").asText).toSeq)
    }
  }

  test("token_transfers laws: TOIDs, fee rows, amount scaling, C-strkey") {
    goldenRows("token_transfers").foreach { r =>
      assert(r.get("transaction_id").asLong >> 32 ==
        r.get("ledger_sequence").asLong)
      if (r.get("event_topic").asText == "fee")
        assert(r.get("operation_id").isNull)
      else
        assert(r.get("operation_id").asLong >> 32 ==
          r.get("ledger_sequence").asLong)
      val cid = r.get("contract_id").asText
      assert(Strkey.encode(16.toByte, Strkey.decode(16.toByte, cid)) == cid)
      // amount = float64(raw) × 1e-7 — a double MULTIPLY by the inexact
      // 1e-7, one ulp below exact division for e.g. 600 stroops
      // (5.9999999999999995e-05, as the golden rows show)
      val raw = BigDecimal(r.get("amount_raw").asText)
      assert(r.get("amount").asDouble == raw.toDouble * 1e-7)
    }
  }

  test("contract_events laws: TOIDs, decoded arity, id rendering") {
    goldenRows("contract_events").foreach { r =>
      assert(r.get("transaction_id").asLong >> 32 ==
        r.get("ledger_sequence").asLong)
      assert(hex64.matches(r.get("transaction_hash").asText))
      assert(r.get("topics").size == r.get("topics_decoded").size)
      assert(Set("ContractEventTypeContract", "ContractEventTypeDiagnostic")
        .contains(r.get("type_string").asText))
      val cid = r.get("contract_id").asText
      if (cid.nonEmpty)
        assert(Strkey.encode(16.toByte, Strkey.decode(16.toByte, cid)) == cid)
    }
  }

  test("contract_events: REAL ScVal XDR decodes to the reference's JSON") {
    // the golden rows carry both the raw base64 ScVal XDR and the
    // reference's recursive decode — our codec must reproduce the decoded
    // trees on genuine soroban-era mainnet values (189 events)
    var checked = 0
    goldenRows("contract_events").foreach { r =>
      val topics = r.get("topics"); val dec = r.get("topics_decoded")
      if (topics != null && topics.isArray) (0 until topics.size).foreach { i =>
        val bytes = java.util.Base64.getDecoder.decode(topics.get(i).asText)
        val ours = om.readTree(graft.codec.ScVal.jsonFromBinary(bytes))
        assert(ours == dec.get(i), s"topic $i: ours=$ours golden=${dec.get(i)}")
        checked += 1
      }
      val data = r.get("data")
      if (data != null && data.isTextual && data.asText.nonEmpty) {
        val ours = om.readTree(graft.codec.ScVal.jsonFromBinary(
          java.util.Base64.getDecoder.decode(data.asText)))
        assert(ours == r.get("data_decoded"),
          s"data: ours=$ours golden=${r.get("data_decoded")}")
        checked += 1
      }
    }
    assert(checked > 300, s"only $checked ScVal values checked")
  }

  test("effects details vocabulary: golden payload keys are all emitted") {
    // per effect type present in the golden rows, every details key the
    // reference emitted on real mainnet must be a key OUR fixture-path
    // renderer emits for that type — a drift catcher for key spellings
    // (this is what exposed the missing data_updated classification)
    val goldenKeys: Map[String, Set[String]] = goldenRows("effects")
      .filter(r => r.get("details") != null && r.get("details").isObject)
      .groupBy(_.get("type_string").asText)
      .map { case (t, rows) =>
        t -> rows.flatMap(_.get("details").fieldNames().asScala).toSet
      }
    assert(goldenKeys.nonEmpty)
    val ours = StellarTradesEffects.historyEffects(
        StellarFixture.ledgers(spark, 2000, 2099))
      .select(col("type_string"), to_json(col("details")).as("dj"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.flatMap(r =>
          om.readTree(r.getString(1)).fieldNames().asScala).toSet
      }
    goldenKeys.foreach { case (t, gks) =>
      assert(ours.contains(t),
        s"golden effect type '$t' never emitted by the fixture path")
      val missing = gks -- ours(t)
      assert(missing.isEmpty,
        s"effect '$t': golden details keys $missing never emitted")
    }
  }

  test("operations details vocabulary: golden payload keys are all emitted") {
    // same drift catcher at the op grain: every details key the reference
    // emitted per op type on real mainnet must be in our renderer's
    // vocabulary for that type (this exposed the missing farmhash
    // `{prefix}asset_id` keys)
    val goldenKeys: Map[String, Set[String]] = goldenRows("operations")
      .filter(r => r.get("details") != null && r.get("details").isObject)
      .groupBy(_.get("type_string").asText)
      .map { case (t, rows) =>
        t -> rows.flatMap(_.get("details").fieldNames().asScala).toSet
      }
    assert(goldenKeys.nonEmpty)
    val ours = StellarTransforms.historyOperations(
        StellarFixture.ledgers(spark, 2700, 2799))
      .select(col("type_string"),
        to_json(col("details"),
          java.util.Map.of("ignoreNullFields", "true")).as("dj"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.flatMap(r =>
          om.readTree(r.getString(1)).fieldNames().asScala).toSet
      }
    goldenKeys.foreach { case (t, gks) =>
      assert(ours.contains(t),
        s"golden op type '$t' never emitted by the fixture path")
      val missing = gks -- ours(t)
      assert(missing.isEmpty,
        s"operation '$t': golden details keys $missing never emitted")
    }
  }

  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
