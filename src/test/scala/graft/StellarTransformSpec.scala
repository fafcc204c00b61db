package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.StellarTransforms
import graft.sources.StellarFixture

/** Semantics of the real history-table transforms over the decoded model. */
class StellarTransformSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-stellar-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  lazy val fixture = StellarFixture.ledgers(spark, 1000, 1019)

  test("history_ledgers: counts, toid id, strkey node id, hex hashes") {
    val out = StellarTransforms.historyLedgers(fixture)
      .orderBy("sequence").collect()
    assert(out.length == 20)
    val l = out.head // sequence 1000: (1000%5)+1 = 1 tx, t=0 → 1 op, failed (t%3==0)
    assert(l.getAs[Long]("id") == (1000L << 32))
    assert(l.getAs[Int]("transaction_count") == 0) // excludes the failed tx
    assert(l.getAs[Int]("failed_transaction_count") == 1)
    assert(l.getAs[Int]("operation_count") == 0) // only successful txs counted
    assert(l.getAs[String]("tx_set_operation_count") == "1") // all txs counted
    assert(l.getAs[String]("node_id").startsWith("G"))
    assert(l.getAs[String]("node_id").length == 56)
    assert(l.getAs[String]("ledger_hash").matches("[0-9a-f]{64}"))
    // counts are intra-row: no exchange in the plan
    assert(!StellarTransforms.historyLedgers(fixture)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("history_transactions: memo demux, bounds strings, muxed account") {
    val txs = StellarTransforms.historyTransactions(fixture)
      .where(col("ledger_sequence") === 1004) // 5 txs, t = 0..4
      .orderBy("id").collect()
    assert(txs.length == 5)
    assert(txs.map(_.getAs[String]("memo_type")).toSeq == Seq(
      "MemoTypeMemoNone", "MemoTypeMemoText", "MemoTypeMemoId",
      "MemoTypeMemoHash", "MemoTypeMemoReturn"))
    assert(txs(0).getAs[String]("memo") == "")
    assert(txs(1).getAs[String]("memo") == "memo-1004-1")
    assert(txs(2).getAs[String]("memo") == "77002")
    assert(txs(3).getAs[String]("memo").endsWith("=") ||
      txs(3).getAs[String]("memo").length == 44) // base64 of 32 bytes
    // t=0: muxed id present → M-address; others G only
    assert(txs(0).getAs[String]("account_muxed").startsWith("M"))
    assert(txs(1).isNullAt(txs(1).fieldIndex("account_muxed")))
    // t=0: time bounds with max=0 → "[min,)"
    assert(txs(0).getAs[String]("time_bounds") == "[1700000000,)")
    assert(txs(2).getAs[String]("time_bounds") == "[1700000002,1800000002)")
    assert(txs(1).getAs[String]("time_bounds") == "")
    // toid id encodes (ledger, order)
    assert(txs(0).getAs[Long]("id") == ((1004L << 32) | (1L << 12)))
    // signers array rendered as strkeys
    assert(txs(0).getAs[Seq[String]]("tx_signers").forall(_.startsWith("G")))
  }

  test("history_operations: source fallback, type names, op-index+1 toid") {
    val ops = StellarTransforms.historyOperations(fixture)
      .where(col("ledger_sequence") === 1004)
      .orderBy("id").collect()
    // tx t has (t%4)+1 ops → 1+2+3+4+1 = 11
    assert(ops.length == 11)
    val first = ops.head
    assert(first.getAs[Long]("id") == ((1004L << 32) | (1L << 12) | 1L))
    // op o=0 has no op-level source → falls back to tx source (G-address)
    assert(first.getAs[String]("source_account").startsWith("G"))
    // type_string matches the 26-way map
    ops.foreach { r =>
      assert(StellarTransforms.operationTypeNames(r.getAs[Int]("type")) ==
        r.getAs[String]("type_string"))
    }
    assert(ops.forall(r => r.getAs[org.apache.spark.sql.Row]("details") != null))
  }

  test("output columns match the reference schema surface") {
    val ledgerCols = StellarTransforms.historyLedgers(fixture).columns.toSet
    assert(Set("sequence", "ledger_hash", "previous_ledger_hash", "ledger_header",
      "transaction_count", "operation_count", "successful_transaction_count",
      "failed_transaction_count", "tx_set_operation_count", "closed_at",
      "total_coins", "fee_pool", "base_fee", "base_reserve", "max_tx_set_size",
      "protocol_version", "id", "soroban_fee_write_1kb", "node_id", "signature",
      "total_byte_size_of_bucket_list").subsetOf(ledgerCols))
    val txCols = StellarTransforms.historyTransactions(fixture).columns.toSet
    assert(Set("transaction_hash", "ledger_sequence", "account", "account_muxed",
      "account_sequence", "max_fee", "fee_charged", "operation_count",
      "tx_envelope", "tx_result", "tx_meta", "tx_fee_meta", "created_at",
      "memo_type", "memo", "time_bounds", "successful", "id",
      "transaction_result_code", "tx_signers").subsetOf(txCols))
    val opCols = StellarTransforms.historyOperations(fixture).columns.toSet
    assert(Set("source_account", "source_account_muxed", "type", "type_string",
      "details", "transaction_id", "id", "closed_at", "operation_result_code",
      "operation_trace_code", "ledger_sequence", "details_json")
      .subsetOf(opCols))
  }

  test("history_assets: earliest payment / manage-sell-offer op per " +
      "(code, issuer, type) triple, re-derived in plain Scala") {
    val range = StellarFixture.ledgers(spark, 2000, 2199)
    // the expected rows straight off the collected ledgers: every payment
    // asset and manage-sell-offer selling asset, keyed by the op's TOID
    val mentions = for {
      l <- range.collect().toSeq
      (tx, t) <- l.transactions.zipWithIndex
      (op, o) <- tx.operations.zipWithIndex
      a <- (op.op_type match {
        case 1 => op.asset
        case 3 => op.selling_asset
        case _ => None
      }).toSeq
    } yield ((a.asset_code, a.asset_issuer, a.asset_type), op.op_type,
      (graft.codec.Toid.pack(l.sequence, t + 1, o + 1), l.closed_at,
        l.sequence))
    assert(mentions.map(_._2).toSet == Set(1, 3))
    val expected = mentions.groupBy(_._1).map { case ((c, i, ty), ms) =>
      val (_, closedAt, seq) = ms.map(_._3).minBy(_._1)
      def orEmpty(x: String) = Option(x).getOrElse("")
      (c, i, ty, graft.codec.Hashes.farmHash64(orEmpty(c) + orEmpty(i) + ty),
        closedAt, seq)
    }.toSet
    // the dedup is exercised: assets recur across ledgers
    assert(expected.size > 1 && expected.size < mentions.size)

    val out = StellarTransforms.historyAssets(range)
    assert(out.columns.toSeq == Seq("asset_code", "asset_issuer",
      "asset_type", "asset_id", "closed_at", "ledger_sequence"))
    val got = out.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getLong(3), r.getTimestamp(4), r.getLong(5)))
    assert(got.length == expected.size)
    assert(got.toSet == expected)
  }

  test("lowercase hex stays off ICU: no Lower in the ledgers/ops/trades plans") {
    import org.apache.spark.sql.catalyst.expressions.Lower
    def lowers(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case l: Lower => l })).size
    val ledgers = StellarTransforms.historyLedgers(fixture)
    val trades = graft.operators.StellarTradesEffects.historyTrades(fixture)
    assert(lowers(ledgers) == 0)
    assert(lowers(StellarTransforms.historyOperations(fixture)) == 0)
    assert(lowers(trades) == 0)
    // the native rendering is the text lower(hex(...)) gave
    val expected = fixture.select(col("sequence"),
      lower(hex(col("ledger_hash"))).as("h"),
      lower(hex(col("previous_ledger_hash"))).as("p"))
    val got = ledgers.select(col("sequence"), col("ledger_hash").as("h"),
      col("previous_ledger_hash").as("p"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // pool trades: the fixture's LP atoms (path payments of successful txs)
    val pools = graft.operators.StellarTradesEffects.historyTrades(
        StellarFixture.ledgers(spark, 2000, 2099))
      .where(col("selling_liquidity_pool_id").isNotNull)
      .select("selling_liquidity_pool_id").collect().map(_.getString(0))
    assert(pools.nonEmpty && pools.forall(_.matches("[0-9a-f]{64}")))
    val bytes = spark.createDataFrame(Seq(Tuple1(Array.emptyByteArray),
        Tuple1((0 until 256).map(_.toByte).toArray), Tuple1(null: Array[Byte])))
      .toDF("b")
    val diff = bytes.where(!(graft.functions.GraftFunctions.hexLower(col("b"))
      <=> lower(hex(col("b"))))).count()
    assert(diff == 0)
  }
}
