package graft

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.Export
import graft.codec.{Hashes, XdrEncode}
import graft.model.LedgerModel.{AssetRef, LedgerRow, TxCounts}
import graft.operators.StellarTransforms
import graft.sources.{LcmBatchFiles, RealXdrFixture, StellarFixture}

/** The `history_ledgers` counts are decoded scalars (`LedgerRow.tx_counts`):
  * they equal the law over each row's own `transactions`, failed txs
  * included, and the CLI's ledgers export serializes the header only. */
class LedgerCountsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ledger-counts-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def key(s: String): Array[Byte] = Hashes.sha256(s.getBytes("UTF-8"))

  /** Two payments under a txFAILED (-1) result: the first op failed
    * underfunded (-2), so the tx's ops count in the tx set only. */
  private def failedTx(seq: Long): XdrEncode.LcmTx = {
    val src = key(s"failacct-$seq")
    val dest = key(s"faildest-$seq")
    val native = AssetRef("native", "", "")
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = src, fee = 300L + seq, seqNum = 10 * seq + 5,
      ops = Seq(XdrEncode.paymentOp(dest, native, 10L),
        XdrEncode.paymentOp(dest, native, 20L)),
      signatureSeed = (seq % 120).toByte))
    val result = XdrEncode.txResult(100L, -1,
      Seq(XdrEncode.OpResultSpec(1, -2), XdrEncode.OpResultSpec(1, 0)))
    XdrEncode.LcmTx(env, result, XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec()),
      XdrEncode.feeMetaPair(src, 1000000000L, 1000000000L - 100L))
  }

  /** `RealXdrFixture`'s classic LP/CB ledgers with a failed tx between the
    * two successful ones on even ledgers. */
  private def failedTxTree(start: Long, end: Long): String = {
    val dir = Files.createTempDirectory("graft-failed-tx").toString
    LcmBatchFiles.writeTree(dir, (start to end).map { seq =>
      val (header, txs) = RealXdrFixture.classicLedger(seq)
      (header, if (seq % 2 == 0) txs.head +: failedTx(seq) +: txs.tail else txs)
    })
    dir
  }

  /** Per ledger: the decoded counts, and the same four counts derived from
    * the `transactions` array with Spark's higher-order functions. */
  private def countsBothWays(
      l: Dataset[LedgerRow]): Seq[(Long, TxCounts, TxCounts)] = {
    val ok = filter(col("transactions"), t => t("successful"))
    def ops(txs: org.apache.spark.sql.Column) =
      aggregate(txs, lit(0), (acc, t) => acc + size(t("operations")))
    l.select(col("sequence"),
        col("tx_counts.successful_txs"), col("tx_counts.failed_txs"),
        col("tx_counts.successful_ops"), col("tx_counts.tx_set_ops"),
        size(ok), size(filter(col("transactions"), t => !t("successful"))),
        ops(ok), ops(col("transactions")))
      .collect().toSeq.map { r =>
        (r.getLong(0), TxCounts(r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4)), TxCounts(r.getInt(5), r.getInt(6), r.getInt(7),
          r.getInt(8)))
      }
  }

  private def assertLaw(rows: Seq[(Long, TxCounts, TxCounts)]): Unit = {
    assert(rows.nonEmpty)
    rows.foreach { case (seq, decoded, derived) =>
      assert(decoded == derived, s"ledger $seq")
    }
    // the inputs tell "successful" from "all"
    assert(rows.exists(_._2.failed_txs > 0))
    assert(rows.exists(r => r._2.successful_ops < r._2.tx_set_ops))
  }

  test("decoded counts equal the array law on a tree with failed txs") {
    val tree = failedTxTree(5000, 5005)
    val rows = countsBothWays(
      LcmBatchFiles.ledgerRowsForRange(spark, tree, 5000, 5005))
    assertLaw(rows)
    val bySeq = rows.map(r => r._1 -> r._2).toMap
    // even ledgers: LP (1 op) + failed (2 ops) + CB (1 op)
    assert(bySeq(5000) == TxCounts(2, 1, 2, 4))
    assert(bySeq(5001) == TxCounts(2, 0, 2, 2))
  }

  test("fixture rows carry the same law") {
    assertLaw(countsBothWays(StellarFixture.ledgers(spark, 1000, 1099)))
  }

  test("history_ledgers keeps its count columns' types and nullability") {
    val tree = failedTxTree(5100, 5101)
    val out = StellarTransforms.historyLedgers(
      LcmBatchFiles.ledgerRowsForRange(spark, tree, 5100, 5101))
    val fields = out.schema.fields.map(f => f.name -> f).toMap
    Seq("transaction_count", "operation_count", "successful_transaction_count",
        "failed_transaction_count").foreach { c =>
      assert(fields(c) == StructField(c, IntegerType, nullable = true))
    }
    assert(fields("tx_set_operation_count") ==
      StructField("tx_set_operation_count", StringType, nullable = true))
    val r = out.where(col("sequence") === 5100L).head()
    assert((r.getAs[Int]("transaction_count"), r.getAs[Int]("operation_count"),
      r.getAs[Int]("failed_transaction_count"),
      r.getAs[String]("tx_set_operation_count")) == (2, 2, 1, "4"))
  }

  test("the CLI's export_ledgers frame serializes the ledger header only") {
    val tree = Files.createTempDirectory("graft-plan-tree").toString
    RealXdrFixture.writeBatchTree(tree, 4000, 4007)
    val a = Export.parse(Array("export_ledgers", "--start", "4000", "--end",
      "4007", "--batch-input", tree, "--output", tree + "-out"))
    val src = LcmBatchFiles.ledgerRowsForRange(spark, tree, 4000, 4007)
    val frame = Export.toWrite(StellarTransforms.historyLedgers(
        Export.countedLedgers(src, Observation("graft_ledgers_read"))),
      a, Observation("graft_rows_written"))
    val serializers = frame.queryExecution.optimizedPlan.collect {
      case s: SerializeFromObject => s
    }
    assert(serializers.size == 1, frame.queryExecution.optimizedPlan)
    val fields = serializers.head.serializer.map(_.name)
    assert(!fields.contains("transactions"), fields)
    val nodes = serializers.head.serializer.map(_.collect { case e => e }.size).sum
    assert(nodes < 200, s"$nodes serializer expression nodes: $fields")
  }
}
