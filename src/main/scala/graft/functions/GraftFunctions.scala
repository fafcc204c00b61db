package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{Amounts, Hashes, SacContractId, ScVal, Strkey, Toid}

/** Column-level function library.
  *
  * Everything that can be a pure Catalyst expression IS one (bit ops, modular
  * arithmetic, string formatting) so it stays inside whole-stage codegen and
  * remains pushdown-safe. The hot opaque codecs (FarmHash64, FNV-64a, strkey)
  * are native codegen expressions ([[graft.plans.CodecExpressions]]); the cold
  * ones are deterministic Scala UDFs Catalyst may still reorder around.
  *
  * Reference semantics: `/root/reference/internal/toid/main.go`,
  * `internal/utils/main.go:33-87,809-854`, `internal/transform/asset.go:72-77`,
  * `offer_normalized.go:102-183`.
  */
object GraftFunctions {

  // ---- TOID (pure bit expressions; codegen'd) -------------------------------

  /** `(ledger:32 ‖ txOrder:20 ‖ opIndex:12)` total-order id. */
  def toid(ledgerSeq: Column, txOrder: Column, opIndex: Column): Column =
    shiftleft(ledgerSeq.cast("long"), Toid.LedgerShift)
      .bitwiseOR(shiftleft(txOrder.cast("long"), Toid.TransactionShift))
      .bitwiseOR(opIndex.cast("long"))

  def ledgerToid(ledgerSeq: Column): Column = shiftleft(ledgerSeq.cast("long"), 32)

  def transactionToid(ledgerSeq: Column, txOrder: Column): Column =
    toid(ledgerSeq, txOrder, lit(0L))

  /** Operation TOID uses op-index+1 (reference `operation.go:32`). */
  def operationToid(ledgerSeq: Column, txOrder: Column, opIndex0: Column): Column =
    toid(ledgerSeq, txOrder, opIndex0 + lit(1L))

  def toidLedger(t: Column): Column = shiftright(t, 32).bitwiseAND(lit(Toid.LedgerMask))
  def toidTxOrder(t: Column): Column = shiftright(t, 12).bitwiseAND(lit(Toid.TransactionMask))
  def toidOpIndex(t: Column): Column = t.bitwiseAND(lit(Toid.OperationMask))

  /** Synthetic offer id: the emitted history operation id with bit 62 set.
    * The reference mints `EncodeOfferId(operationID+1)` where `operationID`
    * is a toid with a 0-BASED op index (`input/trades.go:69`,
    * `transform/trade.go:119`, `toid/synt_offer_id.go:28-34`); since
    * [[operationToid]] already 1-bases the op index, that `+1` is ALREADY
    * applied here — the law is `operationToid | bit62`, i.e.
    * `history_operation_id | (1 << 62)`. */
  def syntheticOfferId(ledgerSeq: Column, txOrder: Column, opIndex0: Column): Column =
    operationToid(ledgerSeq, txOrder, opIndex0)
      .bitwiseOR(lit(Toid.SyntheticOfferBit))

  // ---- checkpoint math (`utils/main.go:809-854`) ----------------------------

  /** True on checkpoint ledgers: seq ≡ 63 (mod 64). */
  def isCheckpoint(seq: Column): Column = (seq + 1) % 64 === 0

  /** Most recent checkpoint sequence at-or-before seq. */
  def latestCheckpoint(seq: Column): Column = (seq + 1) - ((seq + 1) % 64) - 1

  /** 64-ledger batch id (change-export batching, `changes.go:85-160`). */
  def batchId(seq: Column, batchSize: Int = 64): Column = floor(seq / batchSize)

  // ---- amounts --------------------------------------------------------------

  /** stroops → XLM float64 with correct rounding across the full int64 range
    * (matches Go big.Rat→Float64, `utils/main.go:84-87`): decimal(27,0) /
    * decimal(8,0) yields an exact decimal(36,9) quotient (10^7 divides 10^9),
    * and the single decimal→double cast rounds correctly. A plain
    * `cast(double)/1e7` would pre-round inputs above 2^53. */
  def stroopsToXlm(stroops: Column): Column =
    (stroops.cast("decimal(27,0)") / lit(Amounts.StroopsPerLumen).cast("decimal(8,0)"))
      .cast("double")

  /** Offer price ratio n/d as float64. */
  def priceRatio(n: Column, d: Column): Column = n.cast("double") / d.cast("double")

  // ---- flag decoding (`operation.go:555-582`) -------------------------------

  def flagSet(flags: Column, bit: Long): Column = flags.bitwiseAND(lit(bit)) =!= 0

  // ---- string formats -------------------------------------------------------

  /** Interval string `"[min,max)"`, `"[min,)"` when max missing
    * (`transaction.go:92-111`). */
  def intervalString(min: Column, max: Column): Column =
    concat(lit("["), coalesce(min.cast("string"), lit("")), lit(","),
      coalesce(max.cast("string"), lit("")), lit(")"))

  /** Canonical asset string `type:code:issuer`, `"native"` bare
    * (`token_transfer.go:132-151`). */
  def assetCanonical(assetType: Column, code: Column, issuer: Column): Column =
    when(assetType === "native", lit("native"))
      .otherwise(concat_ws(":", assetType, code, issuer))

  /** Unchunked base64: Spark's `base64` is MIME-style (CRLF every 76 chars);
    * the reference emits single-line RFC 4648 (Go encoding/base64). */
  def base64NoWrap(bytes: Column): Column =
    regexp_replace(base64(bytes), "[\\r\\n]", "")

  // ---- opaque codecs --------------------------------------------------------
  // Hot ones are native Catalyst expressions (graft.plans.CodecExpressions):
  // codegen'd static calls, no UDF serialization fence. Cold ones stay UDFs.

  private def nativeCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  def farmHash64(c: Column): Column =
    nativeCol(graft.plans.FarmHash64Expression(exprOf(c)))
  def fnv64a(c: Column): Column =
    nativeCol(graft.plans.Fnv64aExpression(exprOf(c)))
  def rollingHash64(c: Column): Column =
    nativeCol(graft.plans.RollingHash64Expression(exprOf(c)))
  def strkeyAccount(c: Column): Column =
    nativeCol(graft.plans.StrkeyAccountExpression(exprOf(c)))
  /** Lower-case hex of a binary column: `lower(hex(c))` without ICU. */
  def hexLower(c: Column): Column =
    nativeCol(graft.plans.HexLowerExpression(exprOf(c)))
  def hyperplaneBuckets(c: Column, bits: Int, tables: Int): Column =
    nativeCol(graft.plans.HyperplaneBucketsExpression(exprOf(c), bits, tables))
  def longDot(a: Column, b: Column): Column =
    nativeCol(graft.plans.LongDotExpression(exprOf(a), exprOf(b)))
  def longNorm2(c: Column): Column =
    nativeCol(graft.plans.LongNorm2Expression(exprOf(c)))
  def pqAdcDist(codes: Column, lut: Column): Column =
    nativeCol(graft.plans.PqAdcDistExpression(exprOf(codes), exprOf(lut)))
  def kmvMinHashes(c: Column, k: Int): Column =
    nativeCol(graft.plans.KmvMinHashesAggregate(exprOf(c), k)
      .toAggregateExpression(isDistinct = false))
  /** Intra-row Σ tf·w[bucket] of a (bucket, tf) struct-array against a
    * driver-held dense weight vector — the map-only margin law of the
    * driver-resident classifier rounds. */
  def sparseDot(fv: Column, w: Array[Long]): Column =
    nativeCol(graft.plans.SparseDotExpression(exprOf(fv), w))
  /** Dense element-wise `buffer[bucket] += factor·tf` aggregate over
    * (bucket, tf) struct-array rows — one vector-sum job replaces an
    * explode + bucket-grain groupBy exchange. */
  def vecSum(fv: Column, factor: Column, dims: Int): Column =
    nativeCol(graft.plans.VecSumAggregate(exprOf(fv), exprOf(factor), dims)
      .toAggregateExpression(isDistinct = false))
  def longL2Argmin(c: Column, centFlat: Array[Long], nCells: Int): Column =
    nativeCol(graft.plans.LongL2ArgminExpression(exprOf(c), centFlat, nCells))
  def pqEncode(c: Column, cbFlat: Array[Long], m: Int, codewords: Int): Column =
    nativeCol(graft.plans.PqEncodeExpression(exprOf(c), cbFlat, m, codewords))
  def pqLut(c: Column, cbFlat: Array[Long], m: Int, codewords: Int): Column =
    nativeCol(graft.plans.PqLutExpression(exprOf(c), cbFlat, m, codewords))
  def l2ProbeCells(c: Column, centFlat: Array[Long], nCells: Int, nprobe: Int): Column =
    nativeCol(graft.plans.L2ProbeCellsExpression(exprOf(c), centFlat, nCells, nprobe))
  def ngramShingles(c: Column, n: Int): Column =
    nativeCol(graft.plans.NgramShinglesExpression(exprOf(c), n))
  def simHash64Native(c: Column): Column =
    nativeCol(graft.plans.SimHash64Expression(exprOf(c)))
  def nfcNormalize(c: Column): Column =
    nativeCol(graft.plans.NfcNormalizeExpression(exprOf(c)))
  def winnowFingerprintsNative(c: Column, n: Int, w: Int): Column =
    nativeCol(graft.plans.WinnowFingerprintsExpression(exprOf(c), n, w))
  /** Hashed char-n-gram feature buckets (array<long>) — the fused
    * language-ID feature law (lower → codepoint grams → sha256 → mod). */
  def charGramBuckets(c: Column, n: Int, dims: Int): Column =
    nativeCol(graft.plans.CharGramBucketsExpression(exprOf(c), n, dims))
  /** Per-doc char-n-gram (bucket, tf) rows — the counting form of
    * [[charGramBuckets]] (array<struct<bucket, tf>>, ascending bucket). */
  def charGramBucketCounts(c: Column, n: Int, dims: Int): Column =
    nativeCol(graft.plans.CharGramBucketCountsExpression(exprOf(c), n, dims))
  /** Per-doc word-token (bucket, tf) rows — the counting form of the
    * perceptron `docFeatures` pass. */
  def tokenBucketCounts(c: Column, dims: Int): Column =
    nativeCol(graft.plans.TokenBucketCountsExpression(exprOf(c), dims))
  /** Per-doc DSIR-gram (bucket, tf) rows — unigrams ∪ adjacent bigrams. */
  def dsirGramBucketCounts(c: Column, dims: Int): Column =
    nativeCol(graft.plans.DsirGramBucketCountsExpression(exprOf(c), dims))
  /** 13-slot Gopher repetition millifraction profile (array<long>). */
  def gopherRepetition(c: Column): Column =
    nativeCol(graft.plans.GopherRepetitionExpression(exprOf(c)))
  /** 8-slot Gopher word/line-rule raw counts (array<long>) — the fused
    * counting pass under [[graft.operators.TextAnalysis.gopherRules]];
    * thresholds/divisions stay columnar. */
  def gopherCounts(c: Column, stopwords: Seq[String]): Column =
    nativeCol(graft.plans.GopherCountsExpression(exprOf(c), stopwords))
  /** Fused word n-gram array — the LM occurrence law (tokenize → lower →
    * join n consecutive tokens with ' ') in one compiled pass. */
  def wordGrams(c: Column, n: Int): Column =
    nativeCol(graft.plans.WordGramsExpression(exprOf(c), n))
  /** Salted 63-bit sha hash — the MinHash/KMV/line-dedup hash law
    * ([[graft.operators.Dedup.sha63]]) as one compiled memoized digest. */
  def sha63(x: Column, seed: Column): Column =
    nativeCol(graft.plans.Sha63Expression(exprOf(x), exprOf(seed)))
  /** Fused stopword-lexicon language ID — the predicted-language string
    * under [[graft.operators.TextAnalysis.langId]]'s exact argmax/tie
    * law, one compiled pass per document. */
  def stopwordLangId(c: Column, lexicon: Seq[(String, Seq[String])]): Column =
    nativeCol(graft.plans.StopwordLangIdExpression(exprOf(c),
      lexicon.map(_._1), lexicon.map(_._2)))
  /** Fused HTML→text extraction result struct — the compiled pass under
    * [[graft.operators.Web.htmlExtract]]. */
  def htmlTextExtract(c: Column, minTextLen: Int, linkNum: Int,
      linkDen: Int): Column =
    nativeCol(graft.plans.HtmlExtractExpression(exprOf(c), minTextLen,
      linkNum, linkDen))
  /** Fused URL canonicalization result struct — the compiled pass under
    * [[graft.operators.Web.urlCanonicalize]]. */
  def urlCanon(c: Column, tracking: Seq[String]): Column =
    nativeCol(graft.plans.UrlCanonExpression(exprOf(c), tracking))
  /** robots.txt verdict string: `A|<rule>` / `D|<rule>` / `A|`. */
  def robotsDecision(robots: Column, agent: Column, path: Column): Column =
    nativeCol(graft.plans.RobotsDecisionExpression(
      exprOf(robots), exprOf(agent), exprOf(path)))
  def ngramWindows(c: Column, n: Int): Column =
    nativeCol(graft.plans.NgramWindowsExpression(exprOf(c), n))
  /** Fused BPE apply: `rules` is the flattened rank-ordered pair list. */
  def bpeSegment(c: Column, rules: Array[String]): Column =
    nativeCol(graft.plans.BpeSegmentExpression(exprOf(c), rules))
  /** WARC/1.0 record split: array<struct> of records + error arms. */
  def warcRecords(c: Column, maxRecords: Int): Column =
    nativeCol(graft.plans.WarcRecordsExpression(exprOf(c), maxRecords))
  def bloomMightContain(c: Column, bloomBytes: Array[Byte]): Column =
    nativeCol(graft.plans.BloomMightContainExpression(exprOf(c), bloomBytes))
  def strkeyContract(c: Column): Column =
    nativeCol(graft.plans.StrkeyEncodeExpression(exprOf(c), Strkey.Version.Contract))
  /** G-address → raw 32-byte key; null when the string is not a strkey. */
  def strkeyAccountKey(c: Column): Column =
    nativeCol(graft.plans.StrkeyAccountKeyExpression(exprOf(c)))
  def strkeyPool(c: Column): Column =
    nativeCol(graft.plans.StrkeyEncodeExpression(exprOf(c), Strkey.Version.LiquidityPool))
  /** B-address payload is the 33-byte v0 balance id: type byte 0x00 ‖ the
    * 32-byte hash (verified against the reference's golden
    * `balance_id_strkey` rows in ReferenceGoldenSpec). */
  def strkeyBalance(c: Column): Column =
    nativeCol(graft.plans.StrkeyEncodeExpression(
      exprOf(concat(lit(Array[Byte](0)), c)), Strkey.Version.ClaimableBalance))
  def strkeyMuxed(key: Column, id: Column): Column =
    nativeCol(graft.plans.StrkeyMuxedExpression(exprOf(key), exprOf(id)))
  val int128String = udf((hi: Long, lo: Long) => Amounts.int128String(hi, lo))

  /** ScVal XDR binary → tagged JSON (native, codegen'd). */
  def scvalJson(c: Column): Column =
    nativeCol(graft.plans.ScValJsonExpression(exprOf(c)))

  /** ClaimPredicate XDR binary → recursive JSON (native, codegen'd). */
  def claimPredicateJson(c: Column): Column =
    nativeCol(graft.plans.ClaimPredicateJsonExpression(exprOf(c)))

  /** Fixture predicate builder: four deterministic shapes (unconditional /
    * abs-before / or / and-not) keyed by id — exercises every recursive arm
    * of the codec with a DuckDB-reconstructible JSON. */
  val claimPredicateFixture = udf((k: Long) => {
    import graft.codec.ClaimPredicate._
    val p = (k % 4) match {
      case 0 => Unconditional
      case 1 => AbsBefore(1700000000L + k)
      case 2 => Or(Seq(AbsBefore(1700000000L + k), RelBefore(k)))
      case _ => And(Seq(Not(Some(RelBefore(86400L + k))), Unconditional))
    }
    encode(p)
  })

  // ---- SAC storage walk (`contract_data.go:191-379`) -----------------------

  case class SacAssetOut(asset_type: String, asset_code: String,
      issuer_hex: String, asset_issuer: String)
  case class SacBalanceOut(holder_hex: String, amount: String,
      authorized: Boolean, clawback: Boolean)

  /** `AssetFromContractData`: nullable struct of the recovered asset. */
  val sacAssetFromContractData =
    udf((key: Array[Byte], value: Array[Byte], contractId: Array[Byte]) =>
      graft.codec.SacStorage.assetFromContractData(key, value, contractId)
        .map(a => SacAssetOut(a.assetType, a.code, Hashes.hex(a.issuerKey),
          if (a.issuerKey.isEmpty) "" else Strkey.encodeAccountId(a.issuerKey))))

  /** `ContractBalanceFromContractData`: nullable struct of the balance. */
  val sacBalanceFromContractData =
    udf((key: Array[Byte], value: Array[Byte]) =>
      graft.codec.SacStorage.contractBalanceFromContractData(key, value)
        .map(b => SacBalanceOut(Hashes.hex(b.holder), b.amountString,
          b.authorized, b.clawback)))

  /** Fixture encoders for SAC-shaped contract-data entries. */
  val sacInstanceKeyBytes: Array[Byte] =
    ScVal.encode(ScVal.LedgerKeyContractInstance)
  val sacInstanceValBytes = udf((code: String, issuer: Array[Byte]) =>
    ScVal.encode(ScVal.ContractInstance(None, Seq(
      ScVal.Vec(Seq(ScVal.Sym("AssetInfo"))) ->
        ScVal.Vec(Seq(ScVal.Sym("AlphaNum4"), ScVal.M(Seq(
          ScVal.Sym("asset_code") -> ScVal.Str(code),
          ScVal.Sym("issuer") -> ScVal.Bytes(issuer)))))))))
  val sacBalanceKeyBytes = udf((holder: Array[Byte]) =>
    ScVal.encode(ScVal.Vec(Seq(ScVal.Sym("Balance"),
      ScVal.AddrContract(holder)))))
  val sacBalanceValBytes = udf((lo: Long, auth: Boolean, claw: Boolean) =>
    ScVal.encode(ScVal.M(Seq(
      ScVal.Sym("amount") -> ScVal.I128(0L, lo),
      ScVal.Sym("authorized") -> ScVal.B(auth),
      ScVal.Sym("clawback") -> ScVal.B(claw)))))
  /** [[sacContractIdBytes]] for a specific network passphrase — the SAC id
    * preimage is network-domain-separated (`--testnet`/`--futurenet`). */
  def sacContractIdBytesFor(passphrase: String) =
    udf((t: String, code: String, issuer: Array[Byte]) =>
      SacContractId.contractId(t, code, issuer, passphrase))
  val sacContractIdBytes = sacContractIdBytesFor(SacContractId.PublicPassphrase)

  /** Parsed SAC event row (nullable per-field: mint has no from, burn no to). */
  case class SacEventOut(event_type: String, from: String, to: String,
      asset_type: String, asset_code: String, asset_issuer: String,
      amount: String)

  /** Parse an op's raw contract events into the SAC model; unrecognized
    * events drop out (`NewStellarAssetContractEvent` err branch). One UDF
    * call per op row over the whole array — no per-event lambda UDF. */
  val sacEventsParse =
    udf((events: Seq[graft.model.LedgerModel.SacEventRaw]) =>
      Option(events).getOrElse(Seq.empty) // null column (schema evolution) → no events
        .flatMap(e => graft.codec.SacEvents.parse(e.topics_xdr, e.data_xdr))
        .map(e => SacEventOut(e.eventType, e.from.orNull, e.to.orNull,
          e.assetType,
          if (e.assetType == "native") null else e.code,
          if (e.assetType == "native") null else e.issuer,
          e.amountString)))

  /** Last liquidity-pool change for a pool in an op's change list — the
    * shared pre/post product-delta source (`getLiquidityPoolAndProductDelta`,
    * `operation.go:238-285`) used by details, effects and token transfers. */
  def lastPoolChange(changes: Column, poolId: Column): Column = {
    val ms = filter(changes, c =>
      c("entry_type") === "liquidity_pool" && c("pool_id") === poolId)
    get(ms, size(ms) - 1)
  }

  /** FarmHash asset id (`asset.go:72-77`): farmhash64(code ‖ issuer ‖ type). */
  def farmHashAssetId(code: Column, issuer: Column, assetType: Column): Column =
    farmHash64(concat(coalesce(code, lit("")), coalesce(issuer, lit("")), assetType))

  /** SAC contract id as lowercase hex (`contract_data.go:191-297`,
    * `graft.codec.SacContractId`): sha256 of the CONTRACT_ID HashIDPreimage. */
  val sacContractIdHex = udf(
    (assetType: String, code: String, issuerKey: Array[Byte]) =>
      if (assetType == null) null
      else Hashes.hex(SacContractId.contractId(assetType,
        Option(code).getOrElse(""),
        Option(issuerKey).getOrElse(Array.emptyByteArray))))

  /** SAC `C…` strkey address for an asset (public network). */
  val sacContractAddress = udf(
    (assetType: String, code: String, issuerKey: Array[Byte]) =>
      if (assetType == null) null
      else SacContractId.contractAddress(assetType,
        Option(code).getOrElse(""),
        Option(issuerKey).getOrElse(Array.emptyByteArray)))

  /** Register SQL-callable names on a session (for spark.sql users). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("farm_hash64", (s: String) => Hashes.farmHash64(s))
    spark.udf.register("fnv64a", (s: String) => Hashes.fnv64a(s))
    spark.udf.register("rolling_hash64", (s: String) => Hashes.rollingHash64(s))
    spark.udf.register("strkey_account", (b: Array[Byte]) => Strkey.encodeAccountId(b))
    spark.udf.register("int128_string", (hi: Long, lo: Long) => Amounts.int128String(hi, lo))
  }
}
