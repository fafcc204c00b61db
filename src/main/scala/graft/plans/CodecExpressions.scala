package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, BinaryType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot opaque codecs.
  *
  * A Scala UDF forces (1) a serialization fence in the plan and (2) an
  * InternalRow→Row conversion per call; a native `Expression` with
  * `doGenCode` emitting a static call stays inside whole-stage codegen and
  * remains pushdown/reorder-safe (deterministic, null-intolerant). These are
  * the per-row-hot functions: asset ids (FarmHash64, P6 — executed once per
  * operation row) and orderbook dim keys (FNV-64a, P20). */
abstract class CodecUnaryExpression extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  protected def expectedInputType: DataType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == expectedInputType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects $expectedInputType, got " + child.dataType)
}

/** Fused SimHash-64 fingerprint ([[graft.codec.SimHashCodec]]) — one
  * compiled normalize→hash→vote→fold pass per document, replacing the
  * O(64·T)-interpreted-lambda HOF formulation. */
case class SimHash64Expression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = LongType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.SimHashCodec.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.SimHashCodec$$.MODULE$$.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Fused winnowing fingerprint selection ([[graft.codec.SimHashCodec
  * .winnowFingerprints]]) — the MOSS window-minima law in one compiled
  * pass, returning the distinct minima as array<long>. */
case class WinnowFingerprintsExpression(child: Expression, n: Int, w: Int)
    extends CodecUnaryExpression {
  require(n >= 1 && w >= 1, "n and w must be positive")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.SimHashCodec.winnowFingerprints(
      input.asInstanceOf[UTF8String], n, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.SimHashCodec$$.MODULE$$.winnowFingerprints($c, $n, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprintsExpression =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

/** Fused hashed char-n-gram feature buckets ([[graft.codec.CharGrams]])
  * — the language-ID feature extractor as one compiled
  * lower→gram→sha256→bucket pass per document, replacing a HOF chain
  * that allocated a hex string + substring + conv per gram (and, naively
  * composed, re-lowered the document once per gram). */
case class CharGramBucketsExpression(child: Expression, n: Int, dims: Int)
    extends CodecUnaryExpression {
  require(n >= 1 && n <= 8, s"char n-gram order $n out of range")
  require(dims > 0, s"dims $dims must be positive")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.CharGrams.buckets(input.asInstanceOf[UTF8String], n, dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.CharGrams$$.MODULE$$.buckets($c, $n, $dims)")
  override protected def withNewChildInternal(newChild: Expression): CharGramBucketsExpression =
    copy(child = newChild)
  override def prettyName: String = "char_gram_buckets"
}

/** Fused per-document feature-bucket COUNTING ([[graft.codec.BucketCounts]])
  * — array<struct<bucket, tf>> per doc, the map-only replacement for the
  * feature passes' `explode(grams) → groupBy(id, bucket).count()` (one
  * generated row per gram plus a corpus-wide exchange; tf is a
  * per-document quantity, so the count law is intra-row). Rows emitted in
  * ascending bucket order; identical (bucket, tf) multiset to the
  * aggregate form (ExpressionSpec pins all three laws). */
abstract class BucketCountsExpression extends CodecUnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("tf", LongType,
          nullable = false))), containsNull = false)
  override protected def expectedInputType: DataType = StringType
}

/** Char-n-gram counting form of [[CharGramBucketsExpression]]. */
case class CharGramBucketCountsExpression(child: Expression, n: Int, dims: Int)
    extends BucketCountsExpression {
  require(n >= 1 && n <= 8, s"char n-gram order $n out of range")
  require(dims > 0, s"dims $dims must be positive")
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.BucketCounts.charGramCounts(
      input.asInstanceOf[UTF8String], n, dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.BucketCounts$$.MODULE$$.charGramCounts($c, $n, $dims)")
  override protected def withNewChildInternal(newChild: Expression): CharGramBucketCountsExpression =
    copy(child = newChild)
  override def prettyName: String = "char_gram_bucket_counts"
}

/** Word-token counting form of the `docFeatures` feature pass. */
case class TokenBucketCountsExpression(child: Expression, dims: Int)
    extends BucketCountsExpression {
  require(dims > 0, s"dims $dims must be positive")
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.BucketCounts.tokenCounts(input.asInstanceOf[UTF8String], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.BucketCounts$$.MODULE$$.tokenCounts($c, $dims)")
  override protected def withNewChildInternal(newChild: Expression): TokenBucketCountsExpression =
    copy(child = newChild)
  override def prettyName: String = "token_bucket_counts"
}

/** Unigram ∪ adjacent-bigram counting form of the DSIR gram law. */
case class DsirGramBucketCountsExpression(child: Expression, dims: Int)
    extends BucketCountsExpression {
  require(dims > 0, s"dims $dims must be positive")
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.BucketCounts.dsirGramCounts(
      input.asInstanceOf[UTF8String], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.BucketCounts$$.MODULE$$.dsirGramCounts($c, $dims)")
  override protected def withNewChildInternal(newChild: Expression): DsirGramBucketCountsExpression =
    copy(child = newChild)
  override def prettyName: String = "dsir_gram_bucket_counts"
}

/** Fused Gopher repetition profile ([[graft.codec.Repetition]]) — all 13
  * duplicate-line/paragraph/n-gram millifractions in one compiled pass per
  * document (13 HOF formulations would each re-split and re-count; the
  * r16/r17 fused-native lesson applies 13-fold here). */
case class GopherRepetitionExpression(child: Expression)
    extends CodecUnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Repetition.profile(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Repetition$$.MODULE$$.profile($c)")
  override protected def withNewChildInternal(newChild: Expression): GopherRepetitionExpression =
    copy(child = newChild)
  override def prettyName: String = "gopher_repetition"
}

/** Fused Gopher word/line-rule COUNTING ([[graft.codec.GopherCounts]]) —
  * the 8 raw counts of the gopherRules feature family in one compiled
  * pass per document (the HOF formulation ran eight interpreted lambda
  * chains and re-lowered the token array once per stopword); all
  * millifraction arithmetic and thresholds stay columnar downstream, so
  * the integer-division law is untouched. The stopword list is a
  * constructor literal (deterministic, bounded — the Gopher rule's 8
  * required words). */
case class GopherCountsExpression(child: Expression, stopwords: Seq[String])
    extends CodecUnaryExpression {
  require(stopwords.nonEmpty && stopwords.size <= 1024,
    "stopword list must be non-empty and bounded")
  private lazy val stopArr = stopwords.toArray
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.GopherCounts.counts(input.asInstanceOf[UTF8String], stopArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherStopwords", stopArr,
      "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.GopherCounts$$.MODULE$$.counts($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): GopherCountsExpression =
    copy(child = newChild)
  override def prettyName: String = "gopher_counts"
}

/** Fused word n-gram builder ([[graft.codec.WordGrams]]) — the LM
  * occurrence law (tokenize → lower → join n consecutive tokens) as one
  * compiled pass, replacing the interpreted zip_with/concat column chain
  * (ExpressionSpec pins gram-for-gram equality). */
case class WordGramsExpression(child: Expression, n: Int)
    extends CodecUnaryExpression {
  require(n >= 1 && n <= 8, s"word n-gram order $n out of range")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.WordGrams.grams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.WordGrams$$.MODULE$$.grams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordGramsExpression =
    copy(child = newChild)
  override def prettyName: String = "word_grams"
}

/** Fused stopword-lexicon language ID ([[graft.codec.StopwordLangIdKernel]])
  * — predicted-language string in one compiled tokenize→lower→hash-lookup
  * pass per document; the HOF formulation ran |langs| interpreted
  * `filter(toks, isin(words…))` lambdas. Same argmax/tie law (shared
  * denominator ⇒ count argmax ≡ score argmax; ExpressionSpec pins). */
case class StopwordLangIdExpression(child: Expression,
    langs: Seq[String], lists: Seq[Seq[String]])
    extends CodecUnaryExpression {
  require(langs.nonEmpty && langs.size == lists.size && langs.size <= 30,
    "langs/lists must be non-empty, aligned and bounded")
  private lazy val kernel = new graft.codec.StopwordLangIdKernel(
    langs.toArray, lists.map(_.toArray).toArray)
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    kernel.predict(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdKernel", kernel,
      classOf[graft.codec.StopwordLangIdKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.predict($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): StopwordLangIdExpression =
    copy(child = newChild)
  override def prettyName: String = "stopword_langid"
}

/** Fused HTML→text extraction ([[graft.codec.HtmlText]]) — the whole
  * strip/unescape/density law as one compiled pass per document; the
  * column formulation ran interpreted HOF lambdas per LINE. Returns the
  * result struct; [[graft.operators.Web.htmlExtract]] projects its
  * fields (subexpression elimination collapses the references). */
case class HtmlExtractExpression(child: Expression, minTextLen: Int,
    linkNum: Int, linkDen: Int) extends CodecUnaryExpression {
  require(minTextLen >= 1 && linkNum >= 1 && linkDen >= 1,
    "htmlExtract thresholds must be positive")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("extract_ok",
      org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("error", StringType),
    org.apache.spark.sql.types.StructField("text", StringType),
    org.apache.spark.sql.types.StructField("n_lines", LongType),
    org.apache.spark.sql.types.StructField("n_lines_kept", LongType),
    org.apache.spark.sql.types.StructField("n_chars", LongType)))
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.HtmlText.extract(input.asInstanceOf[UTF8String],
      minTextLen, linkNum, linkDen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.HtmlText$$.MODULE$$.extract($c, $minTextLen, $linkNum, $linkDen)")
  override protected def withNewChildInternal(newChild: Expression): HtmlExtractExpression =
    copy(child = newChild)
  override def prettyName: String = "html_text_extract"
}

/** Fused URL canonicalization ([[graft.codec.UrlCanon]]) — the whole
  * fragment/scheme/userinfo/port/path/tracking-param law as one compiled
  * pass and ONE plan node; the column formulation's derived regex
  * subtrees grew the expression tree combinatorially (driver
  * plan-compile latency) and re-evaluated per reference. Returns
  * struct(url_valid, canonical_url, host); invalid rows yield
  * (false, null, null) exactly like the when(url_valid, …) masks. */
case class UrlCanonExpression(child: Expression, tracking: Seq[String])
    extends CodecUnaryExpression {
  require(tracking.nonEmpty && tracking.size <= 1024,
    "tracking-param list must be non-empty and bounded")
  private lazy val trackArr = tracking.toArray
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url_valid",
      org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("canonical_url", StringType),
    org.apache.spark.sql.types.StructField("host", StringType)))
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.UrlCanon.canon(input.asInstanceOf[UTF8String], trackArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trackingParams", trackArr,
      "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.UrlCanon$$.MODULE$$.canon($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): UrlCanonExpression =
    copy(child = newChild)
  override def prettyName: String = "url_canon"
}

/** Unicode NFC normalization ([[graft.codec.UnicodeNorm]]) — canonical
  * composition with an isNormalized fast-path, inside whole-stage codegen
  * (a UDF here would fence the scan→normalize→hash pipeline every
  * text-cleaning pass runs). */
case class NfcNormalizeExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.UnicodeNorm.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.UnicodeNorm$$.MODULE$$.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpression =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** FarmHash Fingerprint64 over UTF-8 bytes (`asset.go:72-77`). */
case class FarmHash64Expression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = LongType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Hashes.farmHash64(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Hashes$$.MODULE$$.farmHash64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): FarmHash64Expression =
    copy(child = newChild)
  override def prettyName: String = "farm_hash64"
}

/** FNV-1a 64-bit over UTF-8 bytes (`offer_normalized.go:108-178`). */
case class Fnv64aExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = LongType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Hashes.fnv64a(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Hashes$$.MODULE$$.fnv64a($c.getBytes())")
  override protected def withNewChildInternal(newChild: Expression): Fnv64aExpression =
    copy(child = newChild)
  override def prettyName: String = "fnv64a"
}

/** Rolling polynomial hash (base 31, wrapping mod 2^64) over normalized
  * text — the rolling-window near-dup primitive. Native so the per-char
  * fold wraps like Java `long` instead of tripping ANSI overflow, and so
  * it runs as one compiled pass instead of a split + interpreted HOF. */
case class RollingHash64Expression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = LongType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Hashes.rollingHash64(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Hashes$$.MODULE$$.rollingHash64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): RollingHash64Expression =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash64"
}

/** Lower-case hex of a binary value ([[graft.codec.Hashes.hex]]) — what
  * `lower(hex(x))` spells, without Spark 4's collation-aware `lower`,
  * whose first call initialises ICU's case-mapping and break-iterator
  * data. */
case class HexLowerExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.codec.Hashes.hex(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.Hashes$$.MODULE$$.hex($c))")
  override protected def withNewChildInternal(newChild: Expression): HexLowerExpression =
    copy(child = newChild)
  override def prettyName: String = "hex_lower"
}

/** Strkey account-id encoding of a 32-byte ed25519 key (G… address). */
case class StrkeyAccountExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.codec.Strkey.encodeAccountId(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.Strkey$$.MODULE$$.encodeAccountId($c))")
  override protected def withNewChildInternal(newChild: Expression): StrkeyAccountExpression =
    copy(child = newChild)
  override def prettyName: String = "strkey_account"
}

/** Inverse of [[StrkeyAccountExpression]]: G-address → 32-byte ed25519 key,
  * null (not an error) when the string is not a valid account strkey — the
  * SAC contract-id derivation needs the raw issuer key and must coexist
  * with fixture pseudo-issuers that are not strkeys at all. */
case class StrkeyAccountKeyExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Strkey.tryDecodeAccount(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.codec.Strkey$$.MODULE$$.tryDecodeAccount($c.toString());
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  override protected def withNewChildInternal(newChild: Expression): StrkeyAccountKeyExpression =
    copy(child = newChild)
  override def prettyName: String = "strkey_account_key"
}

/** Network-id transaction hash from a base64 TransactionEnvelope — the
  * public TransactionSignaturePayload law (sha256 over network id ‖
  * envelope-type word ‖ tx bytes), the same computation RealXdrReplaySpec
  * verifies against 650 real mainnet hashes. A full envelope decode per
  * row: a deserialization boundary, not a hot codec. */
case class StellarTxHashExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.codec.StellarXdr.txHashHex(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.StellarXdr$$.MODULE$$.txHashHex($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): StellarTxHashExpression =
    copy(child = newChild)
  override def prettyName: String = "stellar_tx_hash"
}

/** Ledger self-hash: sha256 of the base64 LedgerHeader XDR. */
case class StellarLedgerHashExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.codec.StellarXdr.ledgerHashHex(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.StellarXdr$$.MODULE$$.ledgerHashHex($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): StellarLedgerHashExpression =
    copy(child = newChild)
  override def prettyName: String = "stellar_ledger_hash"
}

/** Strkey encoding under an arbitrary version byte — the C…/L…/B… address
  * families the reference renders next to G (`transform/operation.go:401-405`,
  * `utils/main.go:33-53`). Same codegen rationale as
  * [[StrkeyAccountExpression]]: per-row hot on the history tables. */
case class StrkeyEncodeExpression(child: Expression, version: Byte)
    extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.codec.Strkey.encode(version, input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.Strkey$$.MODULE$$.encode((byte) $version, $c))")
  override protected def withNewChildInternal(newChild: Expression): StrkeyEncodeExpression =
    copy(child = newChild)
  override def prettyName: String = "strkey_encode"
}

/** robots.txt decision ([[graft.codec.Robots]]): group selection + rule
  * matching in one compiled pass, rendered as `A|<rule>` / `D|<rule>` /
  * `A|` so one string carries the verdict, the prevailing rule and the
  * default arm for hashing and SQL replay. */
case class RobotsDecisionExpression(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == StringType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, string, string), got " +
        children.map(_.dataType).mkString(", "))
  override protected def nullSafeEval(robots: Any, agent: Any,
      path: Any): Any =
    graft.codec.Robots.decision(robots.asInstanceOf[UTF8String],
      agent.asInstanceOf[UTF8String], path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, a, p) =>
      s"graft.codec.Robots$$.MODULE$$.decision($r, $a, $p)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): RobotsDecisionExpression =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "robots_decision"
}

/** Muxed-account M-address: ed25519 key ‖ big-endian uint64 id under the
  * med25519 version byte (`transaction.go:61-77` account_muxed). */
case class StrkeyMuxedExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary, bigint), got " +
        s"(${left.dataType}, ${right.dataType})")
  override protected def nullSafeEval(key: Any, id: Any): Any =
    UTF8String.fromString(graft.codec.Strkey.encodeMuxed(
      key.asInstanceOf[Array[Byte]], id.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, i) =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.Strkey$$.MODULE$$.encodeMuxed($k, $i))")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StrkeyMuxedExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "strkey_muxed"
}

/** ScVal XDR → tagged JSON (`contract_events.go:128-169` serializeScVal's
  * decoded half). Per-row hot on the Soroban tables, so codegen'd. */
case class ScValJsonExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.codec.ScVal.jsonFromBinary(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.ScVal$$.MODULE$$.jsonFromBinary($c))")
  override protected def withNewChildInternal(newChild: Expression): ScValJsonExpression =
    copy(child = newChild)
  override def prettyName: String = "scval_json"
}

/** All hyperplane-LSH bucket ids of a quantized vector in one pass
  * (array<long> of length `tables`, bit p of bucket t = sign(<v, plane(t,p)>),
  * planes from [[graft.codec.Hyperplane]]'s sha-parity contract). Replaces a
  * tables×bits fan of interpreted higher-order `aggregate(zip_with(...))`
  * trees with a single codegen'd fused loop — the per-row hot path of the
  * embedding dedup and LSH ANN operators. */
case class HyperplaneBucketsExpression(child: Expression, bits: Int, tables: Int)
    extends CodecUnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def expectedInputType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got " + other)
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Hyperplane.buckets(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      bits, tables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Hyperplane$$.MODULE$$.buckets($c, $bits, $tables)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketsExpression =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_buckets"
}

/** Exact integer dot product of two quantized vectors (array<long>) — the
  * candidate-scoring hot loop of the embedding dedup/ANN family
  * ([[graft.codec.LongVec.dot]]). The `aggregate(zip_with(...))` HOF tree it
  * replaces ran interpreted (lambdas break whole-stage codegen) and
  * dominated the LSH dedup wall-clock at ~130 k candidates. */
/** Salted 63-bit sha hash ([[graft.codec.Sha63]]) — the MinHash/KMV/
  * line-dedup hash law as one compiled digest with a bounded per-thread
  * type memo, replacing the hex-render → substring ×2 → base-16 re-parse
  * ×2 column chain evaluated once per (shingle occurrence × seed). */
case class Sha63Expression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
        (right.dataType == LongType ||
         right.dataType == org.apache.spark.sql.types.IntegerType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, int|bigint), got " +
        s"(${left.dataType}, ${right.dataType})")
  override protected def nullSafeEval(x: Any, seed: Any): Any =
    graft.codec.Sha63.hash(x.asInstanceOf[UTF8String],
      seed.asInstanceOf[Number].longValue)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, s) =>
      s"graft.codec.Sha63$$.MODULE$$.hash($x, (long) $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sha63Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sha63"
}

case class LongDotExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  private def isLongArray(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType}, ${right.dataType})")
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.codec.LongVec.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.codec.LongVec$$.MODULE$$.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "long_dot"
}

/** PQ asymmetric-distance sweep — Σ_s lut[s][codes[s]] over a neighbor's
  * code array (array<int>) and a query's per-subspace distance LUT
  * (array<array<bigint>>) ([[graft.codec.LongVec.adcDist]]). The
  * `zip_with → element_at → aggregate` HOF tree it replaces ran interpreted
  * per (neighbor, query) pair and dominated the ADC sweep wall-clock; the
  * fused native loop is m lookups + adds inside whole-stage codegen. */
case class PqAdcDistExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, _),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ArrayType(LongType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int>, array<array<bigint>>), got ($l, $r)")
  }
  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    graft.codec.LongVec.adcDist(
      codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lut.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) =>
      s"graft.codec.LongVec$$.MODULE$$.adcDist($c, $l)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDistExpression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc_dist"
}

/** IVF cell assignment — strict-< earliest-wins argmin of exact integer L2
  * distance to `nCells` flattened centroids ([[graft.codec.LongVec.l2Argmin]]).
  * Runs once per corpus row in the index build; the centroid table rides as
  * a codegen reference object (bounded: nCells × dim longs). */
case class LongL2ArgminExpression(child: Expression, centFlat: Array[Long],
    nCells: Int) extends CodecUnaryExpression {
  override def dataType: DataType = LongType
  override protected def expectedInputType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got " + other)
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.LongVec.l2Argmin(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centFlat, nCells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centFlat", centFlat, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.LongVec$$.MODULE$$.l2Argmin($c, $ref, $nCells)")
  }
  override protected def withNewChildInternal(newChild: Expression): LongL2ArgminExpression =
    copy(child = newChild)
  override def prettyName: String = "long_l2_argmin"
}

/** PQ encode — the m per-subspace code argmins of a quantized vector in ONE
  * compiled pass ([[graft.codec.LongVec.pqEncode]]). The m × codewords
  * interpreted `aggregate(zip_with(slice(...)))` folds it replaces were the
  * dominant cost of the PQ index build (they run over the WHOLE corpus);
  * the flattened codebooks ride as a codegen reference object (bounded:
  * m × codewords × dsub longs). */
case class PqEncodeExpression(child: Expression, cbFlat: Array[Long],
    m: Int, codewords: Int) extends CodecUnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override protected def expectedInputType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got " + other)
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.LongVec.pqEncode(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cbFlat, m, codewords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cbFlat", cbFlat, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.LongVec$$.MODULE$$.pqEncode($c, $ref, $m, $codewords)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpression =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** A query's full PQ ADC lookup table (array<array<bigint>>) in one node
  * ([[graft.codec.LongVec.pqLut]]). Replaces an m × codewords fan of
  * interpreted HOF folds whose dominant cost was Catalyst plan latency. */
case class PqLutExpression(child: Expression, cbFlat: Array[Long],
    m: Int, codewords: Int) extends CodecUnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false),
      containsNull = false)
  override protected def expectedInputType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got " + other)
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.LongVec.pqLut(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cbFlat, m, codewords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cbFlat", cbFlat, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.LongVec$$.MODULE$$.pqLut($c, $ref, $m, $codewords)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLutExpression =
    copy(child = newChild)
  override def prettyName: String = "pq_lut"
}

/** The nprobe nearest IVF cells of a query vector, ordered by (exact L2,
  * cell id) ([[graft.codec.LongVec.l2ProbeCells]]) — one node instead of
  * the nCells-wide sort_array(struct...) fan. */
case class L2ProbeCellsExpression(child: Expression, centFlat: Array[Long],
    nCells: Int, nprobe: Int) extends CodecUnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def expectedInputType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got " + other)
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.LongVec.l2ProbeCells(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centFlat, nCells, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centFlat", centFlat, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.LongVec$$.MODULE$$.l2ProbeCells($c, $ref, $nCells, $nprobe)")
  }
  override protected def withNewChildInternal(newChild: Expression): L2ProbeCellsExpression =
    copy(child = newChild)
  override def prettyName: String = "l2_probe_cells"
}

/** Σv² of a quantized vector ([[graft.codec.LongVec.norm2]]) — same
  * codegen rationale as [[LongDotExpression]]. */
case class LongNorm2Expression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = LongType
  override protected def expectedInputType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got " + other)
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.LongVec.norm2(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.LongVec$$.MODULE$$.norm2($c)")
  override protected def withNewChildInternal(newChild: Expression): LongNorm2Expression =
    copy(child = newChild)
  override def prettyName: String = "long_norm2"
}

/** Distinct word n-gram shingles of a document in one fused pass
  * (normalize → split → windows → ordered distinct, [[graft.codec.Shingles]]).
  * The per-document hot path of the Jaccard/MinHash dedup family. */
case class NgramShinglesExpression(child: Expression, n: Int)
    extends CodecUnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Shingles.ngrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Shingles$$.MODULE$$.ngrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): NgramShinglesExpression =
    copy(child = newChild)
  override def prettyName: String = "ngram_shingles"
}

/** WARC/1.0 record splitting ([[graft.codec.WarcCodec.parse]]): one
  * compiled offset-walk per crawl file returning array<struct> — the
  * Content-Length-driven sequential scan is inherently stateful, so a
  * HOF formulation would be an interpreted accumulate over a struct
  * state; the fused expression keeps it inside whole-stage codegen. */
case class WarcRecordsExpression(child: Expression, maxRecords: Int)
    extends CodecUnaryExpression {
  require(maxRecords >= 1, "maxRecords must be positive")
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rec_idx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("warc_type", StringType),
      org.apache.spark.sql.types.StructField("target_uri", StringType),
      org.apache.spark.sql.types.StructField("content_length", LongType),
      org.apache.spark.sql.types.StructField("payload", StringType),
      org.apache.spark.sql.types.StructField("rec_ok",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("error", StringType))),
    containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.WarcCodec.parse(input.asInstanceOf[UTF8String], maxRecords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.WarcCodec$$.MODULE$$.parse($c, $maxRecords)")
  override protected def withNewChildInternal(newChild: Expression): WarcRecordsExpression =
    copy(child = newChild)
  override def prettyName: String = "warc_records"
}

/** Fused BPE apply ([[graft.codec.BpeCodec.segmentWord]]): the FULL
  * ordered merge list in one compiled pass per word. The DataFrame
  * formulation chains one projection per rule — a K-deep plan Catalyst
  * re-analyzes per consumer, the measured plan-latency blowup class at
  * K=1000+; here K=32k rides one reference object and the plan is one
  * node. `rules` is the flattened rank-ordered pair list [a0,b0,a1,b1,…]. */
case class BpeSegmentExpression(child: Expression, rules: Array[String])
    extends CodecUnaryExpression {
  require(rules.length % 2 == 0, "rules must be (a, b) pairs flattened")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.BpeCodec.segmentWord(input.asInstanceOf[UTF8String], rules)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRules", rules, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.BpeCodec$$.MODULE$$.segmentWord($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeSegmentExpression =
    copy(child = newChild)
  override def prettyName: String = "bpe_segment"
}

/** POSITIONAL word n-gram windows (no dedup): element i is the n-gram at
  * word offset i, so `posexplode` yields true offsets. Drives the
  * substring-duplication span finder ([[graft.operators.Dedup.substringSpans]]). */
case class NgramWindowsExpression(child: Expression, n: Int)
    extends CodecUnaryExpression {
  require(n >= 1, "window size must be >= 1")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def expectedInputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    graft.codec.Shingles.ngramWindows(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.codec.Shingles$$.MODULE$$.ngramWindows($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): NgramWindowsExpression =
    copy(child = newChild)
  override def prettyName: String = "ngram_windows"
}

/** Membership probe against a serialized [[org.apache.spark.util.sketch.BloomFilter]]
  * — the candidate gate of the bloom-pruned decontamination path
  * ([[graft.operators.Dedup.decontaminateBloom]]). The filter deserializes
  * once per executor (transient lazy + codegen reference object) and the
  * probe stays inside whole-stage codegen; false positives are allowed
  * (pruning only — an exact verify join follows), false negatives are not
  * (put and probe both hash the UTF-8 bytes). */
case class BloomMightContainExpression(child: Expression, bloomBytes: Array[Byte])
    extends CodecUnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override protected def expectedInputType: DataType = StringType
  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))
  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpression =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

/** ClaimPredicate XDR → JSON (`claimable_balance.go:11-21`, recursive tree). */
case class ClaimPredicateJsonExpression(child: Expression) extends CodecUnaryExpression {
  override def dataType: DataType = StringType
  override protected def expectedInputType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.codec.ClaimPredicate.jsonFromBinary(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.ClaimPredicate$$.MODULE$$.jsonFromBinary($c))")
  override protected def withNewChildInternal(newChild: Expression): ClaimPredicateJsonExpression =
    copy(child = newChild)
  override def prettyName: String = "claim_predicate_json"
}
