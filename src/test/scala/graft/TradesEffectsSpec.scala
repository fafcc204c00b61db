package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.StellarTradesEffects
import graft.sources.StellarFixture

class TradesEffectsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-trades-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  lazy val fixture = StellarFixture.ledgers(spark, 2000, 2039)

  test("trades: pre-state price via reverse change scan beats stale change") {
    val trades = StellarTradesEffects.historyTrades(fixture)
    val offerTrades = trades.where(col("trade_type") === 1 &&
      col("selling_offer_id").isNotNull).collect()
    assert(offerTrades.nonEmpty)
    // fixture plants a stale (1/99) change before the authoritative (7/2):
    // the reverse scan must pick 7/2
    offerTrades.foreach { r =>
      assert(r.getAs[Long]("price_n") == 7L)
      assert(r.getAs[Long]("price_d") == 2L)
    }
  }

  test("trades: LP atoms carry pool fee, hex id, strkey L-address, type 2") {
    val lp = StellarTradesEffects.historyTrades(fixture)
      .where(col("trade_type") === 2).collect()
    assert(lp.nonEmpty)
    lp.foreach { r =>
      assert(r.getAs[Long]("liquidity_pool_fee") == 30L)
      assert(r.getAs[String]("selling_liquidity_pool_id").matches("[0-9a-f]{64}"))
      assert(r.getAs[String]("selling_liquidity_pool_id_strkey").startsWith("L"))
      assert(r.isNullAt(r.fieldIndex("selling_offer_id")))
      // LP atom has no on-chain offer → synthetic bit-62 buying id
      assert((r.getAs[Long]("buying_offer_id") & (1L << 62)) != 0)
    }
  }

  // fixture law: op_type = (ledger + txIdx + opIdx) % 27; recover the
  // producing op from the TOID to assert exact per-type expectations
  private def opTypeOf(operationId: Long): Int = {
    val (l, t1, o1) = graft.codec.Toid.unpack(operationId)
    ((l + (t1 - 1) + (o1 - 1)) % 27).toInt
  }

  test("trades: seller_is_exact is exactly receive→true / send→false / else null") {
    val rows = StellarTradesEffects.historyTrades(fixture).collect()
    assert(rows.nonEmpty)
    var sawReceive, sawSend, sawOffer = false
    rows.foreach { r =>
      val ty = opTypeOf(r.getAs[Long]("history_operation_id"))
      val i = r.fieldIndex("seller_is_exact")
      ty match {
        case 2  => assert(!r.isNullAt(i) && r.getBoolean(i)); sawReceive = true
        case 13 => assert(!r.isNullAt(i) && !r.getBoolean(i)); sawSend = true
        case _  => assert(r.isNullAt(i)); sawOffer = true
      }
    }
    assert(sawReceive && sawSend && sawOffer)
  }

  test("trades: buying_offer_id is the result offer when present, else op_id|bit62") {
    val rows = StellarTradesEffects.historyTrades(fixture).collect()
    rows.foreach { r =>
      val opId = r.getAs[Long]("history_operation_id")
      val ty = opTypeOf(opId)
      val o = graft.codec.Toid.opIndexOf(opId) - 1 // 0-based fixture op index
      val buying = r.getAs[Long]("buying_offer_id")
      if (Seq(3, 4, 12).contains(ty) && o % 2 == 0)
        assert(buying == 7000L + o) // ManageOfferSuccess result offer
      else
        // reference law: EncodeOfferId(0-based-toid + 1) == history op id
        // with bit 62 set (trade.go:119, input/trades.go:69)
        assert(buying == (opId | (1L << 62)))
      // offer-type atoms always carry the CLAIMED offer id (trade.go:111),
      // including path payments; never the taker's
      if (r.getAs[Int]("trade_type") == 1)
        assert(r.getAs[Long]("selling_offer_id") >= 5000L &&
          r.getAs[Long]("selling_offer_id") < 7000L)
    }
  }

  test("trades: buyer address prefers the op source account over the tx source") {
    val rows = StellarTradesEffects.historyTrades(fixture).collect()
    // fixture: op source set unless opIdx%3==0 → both branches must occur,
    // and every address must be a valid strkey G-address
    val addrs = rows.map { r =>
      val opId = r.getAs[Long]("history_operation_id")
      val (l, t1, o1) = graft.codec.Toid.unpack(opId)
      val expectedKey =
        if ((o1 - 1) % 3 == 0) graft.codec.Hashes.sha256(s"acct-$l-${t1 - 1}".getBytes("UTF-8"))
        else graft.codec.Hashes.sha256(s"op-$l-${t1 - 1}-${o1 - 1}".getBytes("UTF-8"))
      (r.getAs[String]("buying_account_address"),
        graft.codec.Strkey.encodeAccountId(expectedKey))
    }
    assert(addrs.nonEmpty)
    addrs.foreach { case (actual, expected) => assert(actual == expected) }
  }

  test("LP revocation emits created CBs sorted by asset, native first") {
    // ledger 2044 tx 1 op 1 is a revoking set_trust_line_flags: the fixture
    // plants the alphanum4 CB BEFORE the native one, so index order proves
    // the emitter sorts by asset (effects.go:1139,1176) instead of echoing
    // op-change order
    val effs = StellarTradesEffects.historyEffects(
        StellarFixture.ledgers(spark, 2044, 2044))
      .where(col("operation_id") === graft.codec.Toid.pack(2044, 2, 2))
      .orderBy("index")
      .select(col("index"), col("type"), to_json(col("details")).as("details"))
      .collect()
    assert(effs.map(_.getInt(1)).toSeq == Seq(26, 50, 51, 50, 51, 95))
    val d1 = effs(1).getString(2) // first CB-created (index 1)
    val d3 = effs(3).getString(2) // second CB-created (index 3)
    assert(d1.contains("\"asset\":\"native\""), d1)
    assert(d3.contains("\"asset\":\"RV1:"), d3)
  }

  test("effects: per-op-type effect sets match the case law exactly") {
    val effects = StellarTradesEffects.historyEffects(fixture).cache()
    // join effect rows back to their op type via the TOID
    val ops = graft.operators.StellarTransforms.historyOperations(fixture)
      .where(col("operation_result_code").isNotNull) // all rows
      .select(col("id").as("operation_id"), col("type").as("op_type"),
        col("details"))
    val byOp = effects.join(ops, "operation_id")
      .groupBy("operation_id", "op_type")
      .agg(sort_array(collect_list(col("type"))).as("types"))
      .collect()
      .map(r => (r.getAs[Long]("operation_id"), r.getAs[Int]("op_type"),
        r.getAs[scala.collection.Seq[Int]]("types").toSeq))

    // exact expected multiset of effect types per op type (fixture-specific:
    // atoms per trade op = 1 or 2 → trades are 2 or 4 offer-side effects,
    // or 1 LP-trade + 2 for the lp atom variant)
    byOp.foreach { case (opId, opTy, types) =>
      // decode the fixture lattice coordinates from the TOID
      val l = opId >>> 32
      val t = ((opId >> 12) & 0xFFFFF) - 1
      val o = (opId & 0xFFF) - 1
      opTy match {
        case 0 => assert(types == Seq(0, 3, 10), s"create_account: $types")
        case 1 => assert(types == Seq(2, 3), s"payment: $types")
        case 2 => // strict receive: credited+debited + per-atom trade
          // families INCLUDING offer_created — isPathPayment only gates
          // strict-send (effects.go:471 vs :488; real-golden verified)
          assert(types.take(2) == Seq(2, 3), s"path: $types")
          assert(types.drop(2).forall(t => Seq(30, 31, 32, 33, 92).contains(t)),
            s"path: $types")
          assert(types.size >= 3, s"path: $types")
        case 13 => // strict send: offer_created skipped (effects.go:995-997)
          assert(types.take(2) == Seq(2, 3), s"path: $types")
          assert(types.drop(2).forall(t => Seq(31, 32, 33, 92).contains(t)),
            s"path: $types")
          assert(types.size >= 3, s"path: $types")
        case 3 | 4 | 12 =>
          // per offer atom: trade + offer_updated/removed/created, both
          // parties → 8 effects per atom
          assert(types.nonEmpty && types.size % 8 == 0 &&
            types.forall(Seq(30, 31, 32, 33).contains(_)), s"offer: $types")
          assert(types.count(_ == 33) == types.count(_ == 30), s"offer: $types")
        case 5 => assert(types.nonEmpty &&
          types.forall(Seq(4, 5, 6, 7, 10, 11).contains(_)), s"setopts: $types")
        case 6 =>
          // created/updated from the planted change entry; removed when the
          // fixture zeroes the limit; pool lines (o%3==2) hit the limit
          // fallback and additionally emit the LP entry effect (93/94)
          val removed = (l + t) % 4 == 1
          val base =
            if (removed) 21
            else if (o % 3 != 2 && (l + t + o) % 2 == 1) 22
            else 20
          val lp =
            if (o % 3 == 2 && (removed || (l + t + o) % 2 == 0))
              Seq(if (removed) 94 else 93)
            else Seq.empty
          assert(types == (Seq(base) ++ lp).sorted,
            s"change_trust($l,$t,$o): $types")
        case 7 => assert(types == Seq(26, 26), s"allow_trust: $types")
        case 21 =>
          // clear-flags ops on even ledgers revoke LP shares: CB-created
          // fan-out then liquidity_pool_revoked
          val expect = if (o % 2 == 1 && l % 2 == 0) Seq(26, 50, 50, 51, 51, 95)
            else Seq(26)
          assert(types == expect, s"set_tl_flags($l,$t,$o): $types")
        case 8 => assert(types == Seq(1, 2, 3), s"merge: $types")
        case 9 => assert(types == Seq(2, 2), s"inflation: $types")
        case 10 => assert(types == Seq(40) || types == Seq(41) ||
          types == Seq(42), s"data: $types")
        case 11 => assert(types == Seq(43), s"bump: $types")
        case 14 => assert(types == Seq(3, 50, 51, 51), s"create_cb: $types")
        case 15 => assert(types == Seq(2, 52), s"claim_cb: $types")
        case 19 => assert(types == Seq(2, 3), s"clawback: $types")
        case 20 => assert(types == Seq(2, 80), s"clawback_cb: $types")
        case 22 => assert(types == Seq(90), s"lp_deposit: $types")
        case 23 => assert(types == Seq(91), s"lp_withdraw: $types")
        case 24 => // invoke: transfer → debited(G)+credited(C); burn → debited(G)
          assert(types == Seq(3, 3, 96), s"invoke: $types")
        case 25 => assert(types == Seq(98), s"extend_ttl: $types")
        case 26 => assert(types == Seq(99), s"restore: $types")
        case 16 | 17 | 18 =>
          // change-derived sponsorship lattice: family from (l+o)%4,
          // transition from (l+t)%4, signer transition from (t+o)%4
          val fam = ((l + o) % 4).toInt
          val trans = ((l + t) % 4).toInt
          val entry =
            if (trans == 3) Seq.empty
            else Seq(Seq(60, 63, 66, 69)(fam) + Seq(0, 1, 2)(trans))
          val signer =
            if (fam != 0) Seq.empty
            else ((t + o) % 4).toInt match {
              case 0 => Seq(72); case 1 => Seq(74)
              case 2 => Seq(73); case _ => Seq.empty
            }
          val expect = (entry ++ signer).sorted
          assert(types == expect, s"sponsorship($l,$t,$o): $types vs $expect")
        case other => fail(s"unexpected effects $types for op type $other")
      }
    }
    // coverage: the fixture must have produced ≥20 distinct op types and
    // ≥25 distinct effect types end-to-end
    assert(byOp.map(_._2).distinct.size >= 20)
    val distinctEffects = effects.select("type").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(distinctEffects.size >= 24, s"only ${distinctEffects.size} effect types")
    // ids are {opId}-{1-based index}
    val ids = effects.select("operation_id", "index", "id").collect()
    ids.foreach { r =>
      assert(r.getAs[String]("id") ==
        s"${r.getAs[Long]("operation_id")}-${r.getAs[Long]("index")}")
    }
    // every effect row names a subject address except none (all present here)
    assert(effects.where(col("address").isNull).count() == 0)
    effects.unpersist()
  }

  test("effects: detail payloads are valid JSON with expected keys") {
    val effects = StellarTradesEffects.historyEffects(fixture)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val byType = effects.select(col("type"), to_json(col("details")).as("details")).collect()
      .groupBy(_.getInt(0)).map { case (t, rows) => t -> rows.head.getString(1) }
    byType.foreach { case (t, d) =>
      val node = om.readTree(d) // throws on malformed JSON
      t match {
        case 0 => assert(node.has("starting_balance"))
        case 10 => assert(node.has("public_key"))
        case 20 | 21 | 22 => assert(node.has("limit"))
        case 26 => assert(node.has("trustor"))
        case 33 => assert(node.has("sold_amount") && node.has("bought_amount") &&
          node.has("sold_asset_type") && node.has("bought_asset_type") &&
          !node.has("sold_asset") && !node.has("bought_asset"))
        case 50 | 52 | 80 => assert(node.has("balance_id"))
        case 51 => assert(node.has("predicate") &&
          !node.get("predicate").isTextual) // nested JSON, not a string
        case 96 | 97 => assert(node.has("amount") && node.has("asset_type") &&
          node.has("contract") && node.has("contract_event_type"))
        case 60 | 63 | 66 | 69 => assert(node.has("sponsor"))
        case 62 | 65 | 68 | 71 => assert(node.has("former_sponsor"))
        case 61 | 64 | 67 | 70 =>
          assert(node.has("new_sponsor") && node.has("former_sponsor"))
        case 72 => assert(node.has("sponsor") && node.has("signer"))
        case 73 => assert(node.has("former_sponsor") &&
          node.has("new_sponsor") && node.has("signer"))
        case 74 => assert(node.has("former_sponsor") && node.has("signer"))
        case 90 => assert(node.has("liquidity_pool") &&
          node.get("liquidity_pool").has("reserves") &&
          node.has("reserves_deposited") && node.has("shares_received"))
        case 91 => assert(node.has("reserves_received") && node.has("shares_redeemed"))
        case 92 => assert(node.has("sold") && node.has("bought") &&
          node.has("liquidity_pool") && node.get("liquidity_pool").has("id"))
        case 43 => assert(node.has("new_seq"))
        case 98 => assert(node.has("entries") && node.get("entries").isArray &&
          node.get("entries").size() > 0 && node.has("extend_to"))
        case 99 => assert(node.has("entries") && node.get("entries").isArray &&
          node.get("entries").size() == 1)
        case _ => ()
      }
    }
  }

  test("LP path-payment trades carry exact-rational rounding slippage") {
    val lp = StellarTradesEffects.historyTrades(fixture)
      .where(col("trade_type") === 2).collect()
    assert(lp.nonEmpty)
    lp.foreach { r =>
      val slippage = r.getAs[Long]("rounding_slippage")
      val amount = (r.getAs[Double]("selling_amount") * 1e7).round
      val expect = graft.codec.AmmMath
        .roundingSlippageBips(5000000000L, 3000000000L, amount, 30L)
      assert(expect.contains(slippage))
      assert(slippage >= 0 && slippage < 10000)
    }
    // scalar math sanity: floor-loss of a tiny payout is large in bips
    val (payout, slip) = graft.codec.AmmMath.poolPayout(1000000L, 7L, 500000L, 30L).get
    assert(payout >= 1 && slip >= 0)
  }

  test("plan stays shuffle-free up to the explode (intra-row pre-state)") {
    val plan = StellarTradesEffects.historyTrades(fixture)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(plan.contains("Generate"))
  }
}
