package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec._
import scala.util.Random

class CodecSpec extends AnyFunSuite {
  private def rnd = new Random(42)

  // ---- TOID ----------------------------------------------------------------

  test("toid pack/unpack roundtrip (property)") {
    val r = rnd
    for (_ <- 1 to 500) {
      val l = r.nextLong(Toid.MaxLedger + 1)
      val t = r.nextLong(Toid.MaxTxOrder + 1)
      val o = r.nextLong(Toid.MaxOpIndex + 1)
      assert(Toid.unpack(Toid.pack(l, t, o)) == ((l, t, o)))
    }
  }

  // ---- SAC contract id -----------------------------------------------------

  test("SAC contract id: native XLM on pubnet is the documented C-address") {
    // external vector: the Stellar Asset Contract for native XLM on the
    // public network, as published in Stellar's asset documentation
    assert(SacContractId.contractAddress("native", "", Array.emptyByteArray) ==
      "CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA")
  }

  test("SAC contract id: sensitive to code, issuer, network, and type") {
    val issuerA = Hashes.sha256("issuer-a".getBytes("UTF-8"))
    val issuerB = Hashes.sha256("issuer-b".getBytes("UTF-8"))
    val base = SacContractId.contractId("credit_alphanum4", "USDC", issuerA)
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum4", "USDX", issuerA)))
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum4", "USDC", issuerB)))
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum4", "USDC", issuerA,
      SacContractId.TestnetPassphrase)))
    // a 4-char code in the alphanum12 arm pads differently -> different id
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum12", "USDC", issuerA)))
    // deterministic
    assert(base.sameElements(SacContractId.contractId("credit_alphanum4", "USDC", issuerA)))
    assert(SacContractId.contractAddress("credit_alphanum4", "USDC", issuerA).startsWith("C"))
  }

  test("toid ordering matches (ledger, tx, op) lexicographic order") {
    assert(Toid.pack(5, 0, 0) > Toid.pack(4, Toid.MaxTxOrder, Toid.MaxOpIndex))
    assert(Toid.pack(5, 2, 0) > Toid.pack(5, 1, Toid.MaxOpIndex))
    assert(Toid.pack(5, 2, 2) > Toid.pack(5, 2, 1))
  }

  test("synthetic offer id sets bit 62 on (toid+1) and is recognizable") {
    val id = Toid.syntheticOfferId(123, 45, 6)
    assert(Toid.isSynthetic(id))
    assert(!Toid.isSynthetic(Toid.pack(123, 45, 6)))
    assert((id & ~Toid.SyntheticOfferBit) == Toid.pack(123, 45, 6) + 1)
    // equivalently: the 1-based-op history operation id with bit 62 set
    assert(id == (Toid.operationId(123, 45, 7) | Toid.SyntheticOfferBit))
    assert(Toid.ledgerOf(id & ~Toid.SyntheticOfferBit) == 123)
  }

  test("toid rejects out-of-range components") {
    intercept[IllegalArgumentException](Toid.pack(-1, 0, 0))
    intercept[IllegalArgumentException](Toid.pack(0, Toid.MaxTxOrder + 1, 0))
    intercept[IllegalArgumentException](Toid.pack(0, 0, Toid.MaxOpIndex + 1))
  }

  // ---- CRC16 / strkey ------------------------------------------------------

  test("crc16-xmodem known vector") {
    // public check value for CRC-16/XMODEM
    assert(Crc16.checksum("123456789".getBytes("ASCII")) == 0x31c3)
    assert(Crc16.checksum(Array.emptyByteArray) == 0x0000)
  }

  test("strkey encode/decode roundtrip (property)") {
    val r = rnd
    for (_ <- 1 to 200) {
      val p = Array.fill[Byte](32)(0); r.nextBytes(p)
      val s = Strkey.encodeAccountId(p)
      assert(s.head == 'G')
      assert(s.length == 56)
      assert(Strkey.decodeAccountId(s).toSeq == p.toSeq)
    }
  }

  test("strkey version prefixes") {
    val p = Array.fill[Byte](32)(7)
    assert(Strkey.encode(Strkey.Version.Contract, p).head == 'C')
    assert(Strkey.encode(Strkey.Version.LiquidityPool, p).head == 'L')
    assert(Strkey.encode(Strkey.Version.ClaimableBalance, p).head == 'B')
    assert(Strkey.encodeMuxed(p, 42L).head == 'M')
  }

  test("strkey rejects corrupted checksum") {
    val s = Strkey.encodeAccountId(Array.fill[Byte](32)(1))
    val corrupted = s.updated(10, if (s(10) == 'A') 'B' else 'A')
    intercept[IllegalArgumentException](Strkey.decodeAccountId(corrupted))
  }

  test("base32 roundtrip (property)") {
    val r = rnd
    for (n <- 0 to 100) {
      val arr = Array.fill[Byte](n)(0); r.nextBytes(arr)
      // decode ignores padding-less tail bits; roundtrip must preserve bytes
      assert(Strkey.base32Decode(Strkey.base32Encode(arr)).toSeq == arr.toSeq)
    }
  }

  // ---- hashes --------------------------------------------------------------

  test("fnv64a known vectors") {
    // public FNV-1a 64-bit test vectors
    assert(Hashes.fnv64a("") == 0xcbf29ce484222325L)
    assert(Hashes.fnv64a("a") == 0xaf63dc4c8601ec8cL)
    assert(Hashes.fnv64a("foobar") == 0x85944171f73967e8L)
  }

  test("farmhash64 is deterministic and spreads") {
    val h1 = Hashes.farmHash64("USDCGA...issuer...credit_alphanum4")
    assert(h1 == Hashes.farmHash64("USDCGA...issuer...credit_alphanum4"))
    assert(Hashes.farmHash64("a") != Hashes.farmHash64("b"))
  }

  test("farmhash64 cross-engine vectors (independent python replay)") {
    // tools/golden_codecs.py — a from-scratch implementation of the public
    // FarmHash Fingerprint64 spec — must agree with Guava; the 0-16 branch
    // via "" and "abc", the >64 branch via an 80-char input (the golden
    // VALUES fixture sweeps 17-32 and 33-64 as well)
    assert(Hashes.farmHash64("") == -7286425919675154353L)
    assert(Hashes.farmHash64("abc") == 2640714258260161385L)
    assert(Hashes.farmHash64("x" * 80) == -8348814050750645742L)
  }

  test("rollingHash64: normalization, wrapping fold, replay vectors") {
    // law: lowercase, collapse whitespace runs, trim, then acc*31 + char
    // in WRAPPING int64 arithmetic (no ANSI overflow)
    assert(Hashes.rollingHash64("") == 0L)
    assert(Hashes.rollingHash64("a") == 97L)
    assert(Hashes.rollingHash64("A") == 97L)
    assert(Hashes.rollingHash64("  a\t\n b ") == Hashes.rollingHash64("a b"))
    // vectors from the independent python replay (tools/golden_codecs.py)
    assert(Hashes.rollingHash64("Graft  Codec\t 9 ") == -8125586579939303757L)
    assert(Hashes.rollingHash64("zQ7#xY9w") == 3458437457122L)
    assert(Hashes.rollingHash64("x" * 40) == -6539604125590443008L)
  }

  test("sha256 hex known vector") {
    assert(Hashes.sha256Hex("abc".getBytes("ASCII")) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  // ---- amounts -------------------------------------------------------------

  test("stroops → XLM is correctly rounded") {
    assert(Amounts.stroopsToXlm(10000000L) == 1.0)
    assert(Amounts.stroopsToXlm(1L) == 1e-7)
    assert(Amounts.stroopsToXlm(123456789L) == 12.3456789)
    // correctly-rounded parity: equals BigDecimal exact division → double
    val r = rnd
    for (_ <- 1 to 500) {
      val v = r.nextLong(Long.MaxValue / 2)
      val exact = (BigDecimal(v) / BigDecimal(10000000L)).toDouble
      assert(Amounts.stroopsToXlm(v) == exact)
    }
  }

  test("int128 string handles unsigned low word and negatives") {
    assert(Amounts.int128String(0L, 5L) == "5")
    assert(Amounts.int128String(0L, -1L) == "18446744073709551615")
    assert(Amounts.int128String(1L, 0L) == "18446744073709551616")
    assert(Amounts.int128String(-1L, -1L) == "-1")
  }

  // ---- ScVal XDR + JSON ----------------------------------------------------

  private def hexStr(b: Array[Byte]): String = Hashes.hex(b)

  test("scval golden vectors: XDR layout pinned byte-for-byte") {
    import ScVal._
    // hand-derived from the XDR rules (RFC 4506) + SCValType discriminants:
    // every multi-byte scalar big-endian, opaques length-prefixed + padded
    assert(hexStr(encode(B(true))) == "0000000000000001")
    assert(hexStr(encode(Void)) == "00000001")
    assert(hexStr(encode(U32(7))) == "0000000300000007")
    assert(hexStr(encode(I32(-1))) == "00000004ffffffff")
    assert(hexStr(encode(U64(655L))) == "00000005000000000000028f")
    assert(hexStr(encode(I64(-2L))) == "00000006fffffffffffffffe")
    assert(hexStr(encode(I128(0L, 655L))) ==
      "0000000a0000000000000000000000000000028f")
    assert(hexStr(encode(Sym("error"))) == "0000000f000000056572726f72000000")
    assert(hexStr(encode(Str("key"))) == "0000000e000000036b657900")
    assert(hexStr(encode(Bytes(Array[Byte](1, 2, 3)))) ==
      "0000000d0000000301020300")
    assert(hexStr(encode(Vec(Seq(U32(1), U32(2))))) ==
      "0000001000000001000000020000000300000001" + "0000000300000002")
    assert(hexStr(encode(M(Seq(Sym("k") -> U32(9))))) ==
      "000000110000000100000001" + "0000000f000000016b000000" +
        "0000000300000009")
    val key = Array.fill[Byte](32)(0x11)
    assert(hexStr(encode(AddrAccount(key))) ==
      "00000012" + "00000000" + "00000000" + "11" * 32)
    assert(hexStr(encode(AddrContract(key))) ==
      "00000012" + "00000001" + "11" * 32)
  }

  test("scval decode inverts encode on nested values") {
    import ScVal._
    val v = M(Seq(
      Sym("amount") -> I128(1L, -1L),
      Sym("who") -> AddrAccount(Array.fill[Byte](32)(0x22)),
      Sym("path") -> Vec(Seq(Str("a\nb"), Bytes(Array[Byte](0, 127)), Void)),
      Sym("ts") -> Timepoint(123456789L),
      Sym("dur") -> Duration(-1L),
      Sym("flag") -> B(false),
      Sym("big") -> U128(-1L, -1L)))
    val back = decode(encode(v))
    // Array[Byte] breaks case-class equality; compare via JSON + re-encode
    assert(hexStr(encode(back)) == hexStr(encode(v)))
    assert(toJson(back) == toJson(v))
  }

  test("scval json: xdrjson shapes — numeric 64-bit ints, {hi,lo} parts") {
    import ScVal._
    // the Go SDK xdrjson rendering the reference emits
    // (contract_events.go:144) — verified against its real-mainnet
    // contract_events goldens in ReferenceGoldenSpec
    assert(toJson(U64(-1L)) == """{"u64":18446744073709551615}""")
    assert(toJson(I64(-1L)) == """{"i64":-1}""")
    assert(toJson(U128(-1L, -1L)) ==
      """{"u128":{"hi":18446744073709551615,"lo":18446744073709551615}}""")
    assert(toJson(I128(-1L, -1L)) ==
      """{"i128":{"hi":-1,"lo":18446744073709551615}}""")
    assert(toJson(Str("a\"b\\c\nd")) == """{"string":"a\"b\\c\nd"}""".stripMargin)
    assert(toJson(M(Seq(Sym("k") -> Vec(Seq(U32(1), Void))))) ==
      """{"map":[{"key":{"symbol":"k"},"val":{"vec":[{"u32":1},"void"]}}]}""")
    val acct = Array.fill[Byte](32)(0x33)
    assert(toJson(AddrAccount(acct)) ==
      s"""{"address":"${Strkey.encodeAccountId(acct)}"}""")
    assert(ScVal.jsonFromBinary(encode(Sym("transfer"))) ==
      """{"symbol":"transfer"}""")
    // a contract-event map: symbol keys over i128 / symbol / u64 values,
    // byte layout and binary decode, and unchanged through Spark's VARIANT
    // parse and render (what `parse_json` + `to_json` run)
    val event = encode(M(Seq(Sym("amount") -> I128(0L, 12345L),
      Sym("event") -> Sym("mint"), Sym("user") -> U64(-1L))))
    assert(hexStr(event) == "000000110000000100000003" +
      "0000000f00000006616d6f756e740000" +
      "0000000a" + "0000000000000000" + "0000000000003039" +
      "0000000f000000056576656e74000000" + "0000000f000000046d696e74" +
      "0000000f0000000475736572" + "00000005ffffffffffffffff")
    val eventJson =
      """{"map":[{"key":{"symbol":"amount"},"val":{"i128":{"hi":0,"lo":12345}}},""" +
      """{"key":{"symbol":"event"},"val":{"symbol":"mint"}},""" +
      """{"key":{"symbol":"user"},"val":{"u64":18446744073709551615}}]}"""
    assert(ScVal.jsonFromBinary(event) == eventJson)
    assert(org.apache.spark.types.variant.VariantBuilder
      .parseJson(eventJson, false).toJson(java.time.ZoneOffset.UTC) == eventJson)
  }

  test("scval full arm coverage: error, u256/i256, nonce keys") {
    import ScVal._
    assert(hexStr(encode(Err(0, 7))) == "000000020000000000000007")
    assert(toJson(decode(encode(Err(5, -1)))) ==
      """{"error":{"type":5,"code":4294967295}}""")
    assert(hexStr(encode(LedgerKeyNonce(9L))) ==
      "000000150000000000000009")
    assert(toJson(decode(encode(LedgerKeyNonce(-1L)))) ==
      """{"ledger_key_nonce":"-1"}""")
    // 256-bit ints as their four XDR parts (hi_hi signed, rest unsigned)
    assert(toJson(U256(-1L, -1L, -1L, -1L)) ==
      """{"u256":{"hi_hi":18446744073709551615,"hi_lo":18446744073709551615,""" +
        """"lo_hi":18446744073709551615,"lo_lo":18446744073709551615}}""")
    assert(toJson(I256(-1L, -1L, -1L, -1L)) ==
      """{"i256":{"hi_hi":-1,"hi_lo":18446744073709551615,""" +
        """"lo_hi":18446744073709551615,"lo_lo":18446744073709551615}}""")
    assert(toJson(decode(encode(U256(0L, 1L, 0L, 0L)))) ==
      """{"u256":{"hi_hi":0,"hi_lo":1,"lo_hi":0,"lo_lo":0}}""")
    assert(toJson(decode(encode(I256(Long.MinValue, 0L, 0L, 0L)))) ==
      s"""{"i256":{"hi_hi":${Long.MinValue},"hi_lo":0,"lo_hi":0,"lo_lo":0}}""")
  }

  // ---- SAC storage walk ----------------------------------------------------

  test("sac storage walk: asset recovery with contract-id self-check") {
    import ScVal._
    val issuer = Hashes.sha256("iss".getBytes("UTF-8"))
    val key = encode(LedgerKeyContractInstance)
    val value = encode(ContractInstance(None, Seq(
      Vec(Seq(Sym("AssetInfo"))) -> Vec(Seq(Sym("AlphaNum4"), M(Seq(
        Sym("asset_code") -> Str("USDX"),
        Sym("issuer") -> Bytes(issuer))))))))
    val rightId = SacContractId.contractId("credit_alphanum4", "USDX", issuer)
    val got = SacStorage.assetFromContractData(key, value, rightId)
    assert(got.exists(a => a.assetType == "credit_alphanum4" &&
      a.code == "USDX" && java.util.Arrays.equals(a.issuerKey, issuer)))
    // wrong contract id → rejected by the self-check
    assert(SacStorage.assetFromContractData(key, value,
      Hashes.sha256("other".getBytes("UTF-8"))).isEmpty)
    // instance roundtrips through decode and renders as tagged JSON
    assert(decode(value).isInstanceOf[ContractInstance])
    assert(toJson(decode(value)).startsWith(
      """{"contract_instance":{"executable":"stellar_asset""""))
    // non-instance key → no asset
    assert(SacStorage.assetFromContractData(encode(Sym("junk")), value, rightId).isEmpty)
  }

  test("sac storage walk: balance entry shape") {
    import ScVal._
    val holder = Hashes.sha256("holder".getBytes("UTF-8"))
    val key = encode(Vec(Seq(Sym("Balance"), AddrContract(holder))))
    val value = encode(M(Seq(
      Sym("amount") -> I128(0L, 123456L),
      Sym("authorized") -> B(true),
      Sym("clawback") -> B(false))))
    val got = SacStorage.contractBalanceFromContractData(key, value)
    assert(got.exists(b => java.util.Arrays.equals(b.holder, holder) &&
      b.amountString == "123456" && b.authorized && !b.clawback))
    // negative amount hi → rejected (balance invariant)
    val neg = encode(M(Seq(
      Sym("amount") -> I128(-1L, 0L),
      Sym("authorized") -> B(true),
      Sym("clawback") -> B(false))))
    assert(SacStorage.contractBalanceFromContractData(key, neg).isEmpty)
    // malformed bytes never throw
    assert(SacStorage.contractBalanceFromContractData(Array[Byte](1, 2), value).isEmpty)
  }

  test("hyperplane plane-sign golden vectors (the cross-engine LSH contract)") {
    // sha-256("t:p:d") high-nibble parity — independently computed; a
    // format drift here silently re-buckets every LSH oracle, so the exact
    // signs are pinned
    val golden = Seq(
      ((0, 0, 0), 1L), ((0, 0, 1), -1L), ((0, 5, 63), 1L),
      ((3, 2, 17), -1L), ((1, 4, 40), 1L), ((2, 1, 7), -1L))
    golden.foreach { case ((t, p, d), s) =>
      assert(Hyperplane.planeSign(t, p, d) == s, s"($t,$p,$d)")
    }
    // the memoized sign table agrees with the scalar law
    val st = Hyperplane.signTable(dim = 64, bits = 6, tables = 4)
    for (t <- 0 until 4; p <- 0 until 6; d <- 0 until 64)
      assert(st(t * 6 + p)(d) == Hyperplane.planeSign(t, p, d))
  }

  test("shingle extraction golden vectors (normalization, windows, distinct)") {
    def sh(text: String, n: Int): Seq[String] = {
      val arr = Shingles.ngrams(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), n)
      (0 until arr.numElements()).map(i =>
        arr.getUTF8String(i).toString)
    }
    assert(sh("The  Quick\tbrown\nfox", 2) ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(sh("a b a b a", 2) == Seq("a b", "b a"))      // ordered distinct
    assert(sh("one two", 3) == Seq("one two"))            // short doc: whole
    assert(sh("", 2) == Seq(""))                          // empty-doc law
    assert(sh("Straße ÅNGSTRÖM", 1) == Seq("straße", "ångström"))
  }
}
