package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.codec._

/** ScalaCheck property suites for the parity-critical codecs (SURVEY §5).
  *
  * The initial seed is PINNED (override with -Dgraft.codec.seed=N) and
  * printed at load, so every run is deterministic and any failure is
  * replayable — a one-off unreproducible failure under suite-level load in
  * round 3 could not be diagnosed because the seed was lost. */
object CodecProps extends Properties("codec") {

  private val seedValue: Long =
    sys.props.get("graft.codec.seed").map(_.toLong).getOrElse(20260812L)
  println(s"CodecProps pinned seed: $seedValue")

  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(seedValue))
      .withMinSuccessfulTests(300)

  val toidGen: Gen[(Long, Long, Long)] = for {
    l <- Gen.chooseNum(0L, Toid.MaxLedger)
    t <- Gen.chooseNum(0L, Toid.MaxTxOrder)
    o <- Gen.chooseNum(0L, Toid.MaxOpIndex)
  } yield (l, t, o)

  // synthetic ids live below the bit-62 collision point (see Toid.MaxLedger doc)
  val synToidGen: Gen[(Long, Long, Long)] = for {
    l <- Gen.chooseNum(0L, (1L << 30) - 1)
    t <- Gen.chooseNum(0L, Toid.MaxTxOrder)
    o <- Gen.chooseNum(0L, Toid.MaxOpIndex)
  } yield (l, t, o)

  property("toid.roundtrip") = forAll(toidGen) { case (l, t, o) =>
    Toid.unpack(Toid.pack(l, t, o)) == ((l, t, o))
  }

  property("toid.order-isomorphic") = forAll(toidGen, toidGen) { (a, b) =>
    val cmp = implicitly[Ordering[(Long, Long, Long)]].compare(a, b).sign
    java.lang.Long.compare(
      Toid.pack(a._1, a._2, a._3), Toid.pack(b._1, b._2, b._3)).sign == cmp
  }

  property("toid.synthetic-bit-reversible") = forAll(synToidGen) { case (l, t, o) =>
    // the single corner (2^30-1, maxT, maxO) has pack+1 == 2^62: the +1
    // carry aliases the synthetic bit itself — an edge the reference's
    // identical `operationID+1 | bit62` arithmetic shares (trade.go:119),
    // so reversibility is only claimed strictly below it. (This precondition
    // is what round 3's unlogged-seed flake was missing.)
    (Toid.pack(l, t, o) + 1 < Toid.SyntheticOfferBit) ==> {
      val s = Toid.syntheticOfferId(l, t, o)
      Toid.isSynthetic(s) &&
        (s & ~Toid.SyntheticOfferBit) == Toid.pack(l, t, o) + 1 // trade.go:119
    }
  }

  property("toid.synthetic-equals-operation-id-or-bit62") =
    forAll(synToidGen) { case (l, t, o0) =>
      // ADVICE r11: the synthetic id must equal the emitted (1-based-op)
      // history operation id with bit 62 set — EncodeOfferId(operationID+1)
      // where operationID 0-bases the op index (input/trades.go:69,
      // trade.go:119). Guard o0 < max so the 1-based pack stays in range.
      (o0 < Toid.MaxOpIndex) ==> {
        Toid.syntheticOfferId(l, t, o0) ==
          (Toid.operationId(l, t, o0 + 1) | Toid.SyntheticOfferBit)
      }
    }

  val bytes32: Gen[Array[Byte]] =
    Gen.containerOfN[Array, Byte](32, Gen.chooseNum(-128, 127).map(_.toByte))

  property("strkey.roundtrip") = forAll(bytes32) { p =>
    Strkey.decodeAccountId(Strkey.encodeAccountId(p)).sameElements(p)
  }

  property("strkey.single-char-corruption-detected") =
    forAll(bytes32, Gen.chooseNum(0, 55)) { (p, pos) =>
      val s = Strkey.encodeAccountId(p)
      val replacement = if (s(pos) == 'A') 'B' else 'A'
      val corrupted = s.updated(pos, replacement)
      Prop.throws(classOf[Exception])(Strkey.decodeAccountId(corrupted))
    }

  property("base32.roundtrip-any-length") =
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte))) { a =>
      Strkey.base32Decode(Strkey.base32Encode(a)).sameElements(a)
    }

  property("stroops.correctly-rounded") =
    forAll(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)) { v =>
      Amounts.stroopsToXlm(v) == (BigDecimal(v) / BigDecimal(10000000L)).toDouble
    }

  property("stroops.monotone") =
    forAll(Gen.chooseNum(-1000000000L, 1000000000L),
      Gen.chooseNum(0L, 1000000L)) { (v, d) =>
      Amounts.stroopsToXlm(v) <= Amounts.stroopsToXlm(v + d)
    }

  property("int128.matches-bigint") =
    forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.chooseNum(Long.MinValue, Long.MaxValue)) { (hi, lo) =>
      val expect = (BigInt(hi) << 64) + (BigInt(lo) & ((BigInt(1) << 64) - 1))
      Amounts.int128String(hi, lo) == expect.toString
    }

  property("fnv64a.incremental-consistency") =
    forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a, b) =>
      // hashing the concatenation == continuing the fold from a's hash
      val whole = Hashes.fnv64a(a + b)
      val cont = b.getBytes("UTF-8").foldLeft(Hashes.fnv64a(a)) { (h, x) =>
        (h ^ (x & 0xff).toLong) * Hashes.FnvPrime
      }
      whole == cont
    }

  // ---- robots.txt rule matching vs an independent regex rewrite --------
  // The engine's two-pointer greedy-with-backtrack matcher must accept
  // EXACTLY the language of the oracle's regex rewrite ('*' -> '.*',
  // trailing-$ anchor, everything else literal, prefix semantics) — the
  // equivalence the x_robots_filter hash gate rests on. Driven through
  // the full decision() parse so the field/group laws are exercised too.
  private val robotsChar = Gen.oneOf('/', 'a', 'b', '*', '$', '.', 'é')
  private val ruleGen: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(k => Gen.listOfN(k, robotsChar)).map(_.mkString)
  private val pathGen: Gen[String] =
    Gen.chooseNum(0, 10).flatMap(k => Gen.listOfN(k, robotsChar)).map(_.mkString)

  property("robots.rule-match-equals-regex-rewrite") =
    forAll(ruleGen, pathGen) { (rule, path) =>
      import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
      val verdict = Robots.decision(
        u8("User-agent: gbot" + "\n" + "Disallow: " + rule),
        u8("gbot"), u8(path))
        .toString
      val engineMatches = verdict.startsWith("D|")
      val refMatches = if (rule.isEmpty) false else {
        val anchored = rule.last == '$'
        val core = if (anchored) rule.dropRight(1) else rule
        val re = core.split("\\*", -1)
          .map(p => if (p.isEmpty) "" else java.util.regex.Pattern.quote(p))
          .mkString(".*")
        val m = java.util.regex.Pattern.compile(re).matcher(path)
        if (anchored) m.matches() else m.lookingAt()
      }
      // a rule whose value the field parser TRIMS differently (leading/
      // trailing spaces can't appear — the alphabet has none) always
      // parses back verbatim, so the comparison is pure matcher-law
      engineMatches == refMatches
    }

  property("crc16.linear-in-zero-extension") = forAll(Gen.alphaNumStr) { s =>
    // appending the big-endian CRC then re-checksumming yields 0 (XModem law)
    val data = s.getBytes("ASCII")
    val c = Crc16.checksum(data)
    val extended = data ++ Array(((c >> 8) & 0xff).toByte, (c & 0xff).toByte)
    Crc16.checksum(extended) == 0
  }
}
