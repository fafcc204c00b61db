package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath, RawLocalFileSystem}

import graft.sources.{LcmBatchFiles, RealXdrFixture}

/** Local filesystem under a `graftcount:` scheme that counts listStatus /
  * getFileStatus calls — turns the connector's "bounded scans never list the
  * tree" claim into an asserted invariant instead of a timing guess. */
class CountingFs extends RawLocalFileSystem {
  import CountingFs.outer
  override def getScheme: String = "graftcount"
  override def getUri: URI = URI.create("graftcount:///")
  override def listStatus(p: HPath): Array[FileStatus] = outer({
    CountingFs.lists.incrementAndGet()
    if (p.toUri.getPath == CountingFs.watchedRoot)
      CountingFs.rootLists.incrementAndGet()
  })(super.listStatus(p))
  override def getFileStatus(p: HPath): FileStatus =
    outer(CountingFs.stats.incrementAndGet())(super.getFileStatus(p))
  // Hadoop 3.4 overrides exists() directly (no getFileStatus delegation)
  override def exists(p: HPath): Boolean =
    outer(CountingFs.stats.incrementAndGet())(super.exists(p))
  override def open(p: HPath, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    outer(CountingFs.opens.incrementAndGet())(super.open(p, bufferSize))
}

object CountingFs {
  val lists = new AtomicLong(0)
  val rootLists = new AtomicLong(0)
  val stats = new AtomicLong(0)
  val opens = new AtomicLong(0)
  @volatile var watchedRoot: String = ""
  // count only CALLER-initiated filesystem calls: the local FS implements
  // e.g. open() via internal getFileStatus probes that a real object-store
  // client performs inside ONE RPC — nested self-calls don't model RPCs
  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  def outer[T](count: => Unit)(body: => T): T =
    if (inCall.get) body // re-entrant: the outer call already counted
    else {
      inCall.set(true)
      try { count; body } finally inCall.set(false)
    }
  def reset(root: String): Unit = {
    watchedRoot = root; lists.set(0); rootLists.set(0); stats.set(0)
    opens.set(0)
  }
}

/** E2e for the `graft-lcm-datastore` DSv2 connector over the reference's
  * REAL datastore object layout: key-law range pruning across partition
  * prefixes, metadata-only column-pruned scans, batch parity with a
  * driver-side decode of each object, packing into one partition per core,
  * and micro-batch tailing of a live tree. */
class LcmDatastoreSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-lcm-datastore-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("batch scan: key-law pruning across a partition-prefix boundary, " +
      "parity with a driver-side decode of each object") {
    // 63996..64010 spans TWO partition prefixes (partition size 64000)
    val dir = tmp("graft-ds-batch")
    RealXdrFixture.writeBatchTree(dir, 63996, 64010)
    assert(Files.list(Paths.get(dir)).count() == 2, "two prefix dirs")

    def key(r: graft.model.LedgerModel.LedgerRow) =
      (r.sequence, r.ledger_hash.toSeq, r.transactions.map(_.hash_hex))
    val viaConnector = LcmBatchFiles.ledgerRowsForRange(spark, dir, 63996, 64010)
      .collect().map(key).sortBy(_._1).toSeq
    val objectFiles = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    val direct = objectFiles
      .flatMap(f => LcmBatchFiles.decodeObject(Files.readAllBytes(f)))
      .map(key).sortBy(_._1)
    assert(objectFiles.size == 15)
    assert(viaConnector.map(_._1) == (63996L to 64010L))
    assert(viaConnector == direct)

    // a bounded subrange straddling the boundary returns exactly it, and
    // the plan carries the connector + its pushed range
    val sub = LcmBatchFiles.ledgerRowsForRange(spark, dir, 63999, 64002)
    assert(sub.select("sequence").collect().map(_.getLong(0)).sorted.toSeq ==
      (63999L to 64002L))
    val objects = spark.read.format("graft-lcm-datastore").load(dir)
      .where(col("start_sequence") >= 63999 && col("end_sequence") <= 64002)
    val plan = objects.queryExecution.executedPlan.toString
    assert(plan.contains("graft-lcm-datastore"), plan.take(500))
    assert(objects.count() == 4)
  }

  test("column pruning: a metadata-only scan never opens the objects") {
    val dir = tmp("graft-ds-meta")
    RealXdrFixture.writeBatchTree(dir, 5000, 5003)
    // plant a POISON object (invalid zstd) at the next key
    val poison = Paths.get(dir, LcmBatchFiles.objectKey(5004))
    Files.createDirectories(poison.getParent)
    Files.write(poison, "not zstd at all".getBytes("UTF-8"))

    // key-only projection: succeeds and SEES the poison object's range —
    // its bytes are never read
    val keys = spark.read.format("graft-lcm-datastore").load(dir)
      .select("start_sequence", "end_sequence")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(keys == (5000L to 5004L).map(s => (s, s)))

    // the decode path over the same range fails loudly on the poison bytes
    val ex = intercept[org.apache.spark.SparkException] {
      LcmBatchFiles.ledgerRowsForRange(spark, dir, 5000, 5004).count()
    }
    assert(ex.getMessage != null)
  }

  test("micro-batch tail: objects arriving mid-stream, batch parity, " +
      "restart no-dup") {
    val dir = tmp("graft-ds-stream")
    val out = tmp("graft-ds-stream-out")
    val ckpt = tmp("graft-ds-stream-ckpt")
    RealXdrFixture.writeBatchTree(dir, 7000, 7031)

    def startQuery() = graft.operators.StellarTransforms
      .historyTransactions(LcmBatchFiles.ledgerRowsStream(spark, dir))
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .start()

    val q = startQuery()
    q.processAllAvailable()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0)

    // sixteen more objects land mid-stream (later sequences, new prefix keys)
    RealXdrFixture.writeBatchTree(dir, 7032, 7047)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(out)
    val batch = graft.operators.StellarTransforms.historyTransactions(
      LcmBatchFiles.ledgerRowsForRange(spark, dir, 7000, 7047))
    assert(streamed.count() == batch.count())
    assert(streamed.select("id").distinct().count() == streamed.count())
    assert(streamed.select("id", "account", "fee_charged").collect()
      .map(_.toSeq).toSet ==
      batch.select("id", "account", "fee_charged").collect()
        .map(_.toSeq).toSet)

    // restart on the same checkpoint with no new objects: nothing re-ingests
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(out).count() == batch.count())
  }

  test("listing invariant: a bounded scan's filesystem work is independent " +
      "of tree width (no root listing); the stream probe is O(new objects)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFs].getName)
    // a WIDE tree: 64 partition prefixes (4.1M-ledger span), each with one
    // validly-named object; only prefix 5 holds the target range
    val dir = tmp("graft-ds-width")
    val pSize = LcmBatchFiles.FilesPerPartition // 64000, 1 ledger/file
    for (p <- 0L until 64L) {
      val seq = p * pSize + 10
      val f = Paths.get(dir, LcmBatchFiles.objectKey(seq))
      Files.createDirectories(f.getParent)
      Files.write(f, Array[Byte](0)) // key-only tests: bytes never opened
    }
    val root = s"graftcount:$dir"

    // bounded scan inside prefix 5: candidate prefixes come from the naming
    // law, so exactly ONE directory is listed and the root is never listed —
    // the same scan against a 200M-ledger tree does the same work
    CountingFs.reset(dir)
    val bounded = spark.read.format("graft-lcm-datastore").load(root)
      .where(col("start_sequence") >= 5 * pSize &&
        col("end_sequence") <= 5 * pSize + 20)
      .select("start_sequence").collect()
    assert(bounded.map(_.getLong(0)).toSeq == Seq(5 * pSize + 10))
    assert(CountingFs.rootLists.get() == 0, "bounded scan listed the root")
    assert(CountingFs.lists.get() == 1,
      s"bounded scan listed ${CountingFs.lists.get()} dirs, want 1")
    assert(CountingFs.stats.get() <= 8, // root probe + candidate prefixes
      s"bounded scan stat'd ${CountingFs.stats.get()} paths")

    // the unbounded scan DOES pay width (root + every prefix dir) — the
    // contrast that makes the bounded numbers meaningful
    CountingFs.reset(dir)
    assert(spark.read.format("graft-lcm-datastore").load(root)
      .select("start_sequence").count() == 64)
    assert(CountingFs.rootLists.get() == 1)
    assert(CountingFs.lists.get() == 65)

    // micro-batch tail: once caught up, a trigger with nothing new issues
    // exactly ONE probe (the next missing key) — no listing, O(new objects)
    val stream = new graft.sources.LcmDatastoreMicroBatchStream(root,
      graft.sources.LcmDatastoreSource.Schema, 5 * pSize, Long.MaxValue,
      1L, pSize, new graft.sources.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration))
    stream.initialOffset()
    stream.latestOffset() // key 5*pSize not exported yet → 1 probe, stays put
    CountingFs.reset(dir)
    stream.latestOffset()
    assert(CountingFs.lists.get() == 0)
    assert(CountingFs.stats.get() == 1,
      s"idle trigger probed ${CountingFs.stats.get()} keys, want 1")
  }

  test("content read budget: one open per object, no per-object stat, one " +
      "allocation sized by the listing") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFs].getName)
    val dir = tmp("graft-ds-open-budget")
    RealXdrFixture.writeBatchTree(dir, 7100, 7115)
    val root = s"graftcount:$dir"

    // metadata-only scan: zero opens (column pruning skips the object)
    CountingFs.reset(dir)
    assert(spark.read.format("graft-lcm-datastore").load(root)
      .where(col("start_sequence").between(7100, 7107))
      .select("start_sequence").count() == 8)
    assert(CountingFs.opens.get() == 0,
      s"metadata-only scan opened ${CountingFs.opens.get()} objects")

    // content scan: exactly one open per surviving object and no
    // per-object stat — a bounded content scan plans its keys from the
    // naming law and reads each object to EOF
    CountingFs.reset(dir)
    val sizes = spark.read.format("graft-lcm-datastore").load(root)
      .where(col("start_sequence").between(7100, 7107))
      .select(col("path"), length(col("content")).as("len")).collect()
    assert(sizes.length == 8 && sizes.forall(_.getInt(1) > 0))
    assert(CountingFs.opens.get() == 8,
      s"content scan opened ${CountingFs.opens.get()} objects, want 8")
    assert(CountingFs.stats.get() <= 8,
      s"content scan stat'd ${CountingFs.stats.get()} paths (planning only)")
    // the bytes really are the whole object: decode parity on the range
    val viaConnector = LcmBatchFiles.ledgerRowsForRange(
      spark, root, 7100, 7107).collect().map(_.sequence).sorted
    assert(viaConnector.toSeq == (7100L to 7107L))
  }

  test("packing: a bounded scan plans min(objects, defaultParallelism) " +
      "contiguous partitions and still opens each object once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFs].getName)
    val dir = tmp("graft-ds-pack")
    RealXdrFixture.writeBatchTree(dir, 7200, 7215)
    val root = s"graftcount:$dir"
    def objects() = spark.read.format("graft-lcm-datastore").load(root)
      .where(col("start_sequence").between(7200, 7215))

    // one task per core, each a contiguous run of keys in key order
    val slots = spark.sparkContext.defaultParallelism
    assert(slots < 16)
    val perPartition = objects().select("start_sequence").rdd
      .mapPartitions(rows => Iterator(rows.map(_.getLong(0)).toSeq))
      .collect().toSeq
    assert(perPartition.size == slots)
    assert(perPartition.flatten == (7200L to 7215L))
    assert(perPartition.map(_.size).max - perPartition.map(_.size).min <= 1)

    CountingFs.reset(dir)
    assert(objects().select(length(col("content"))).collect()
      .forall(_.getInt(0) > 0))
    assert(CountingFs.opens.get() == 16,
      s"packed scan opened ${CountingFs.opens.get()} objects, want 16")
    // the keys come from the naming law: nothing is listed or stat'd
    assert(CountingFs.lists.get() == 0 && CountingFs.stats.get() == 0,
      s"content scan listed ${CountingFs.lists.get()} dirs, " +
        s"stat'd ${CountingFs.stats.get()} paths")

    // a hole is skipped at read time: one failed open, one row fewer
    Files.delete(Paths.get(dir, LcmBatchFiles.objectKey(7207)))
    CountingFs.reset(dir)
    assert(objects().select("start_sequence", "content").collect()
      .map(_.getLong(0)).sorted.toSeq == (7200L to 7215L).filter(_ != 7207L))
    assert(CountingFs.opens.get() == 16)
  }

  test("multi-ledger batch objects (ledgersPerFile=2): key law, bounded " +
      "batch read, decode parity, tail with a mid-file lower bound") {
    val dir = tmp("graft-ds-lpf2")
    def writeRange(a: Long, b: Long): Unit = LcmBatchFiles.writeTree(
      dir, (a to b).map(RealXdrFixture.ledger), ledgersPerFile = 2)
    writeRange(9000, 9007) // four 2-ledger objects

    def read() = spark.read.format("graft-lcm-datastore")
      .option("ledgersPerFile", "2").load(dir)

    // object grain: one row per 2-ledger object, start-end from the key
    assert(read().select("start_sequence", "end_sequence").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((9000L, 9001L), (9002L, 9003L), (9004L, 9005L), (9006L, 9007L)))

    // bounded read + decode parity: both ledgers of each surviving object
    val mid = LcmBatchFiles.ledgerRowsFromObjects(
      read().where(col("start_sequence") >= 9002 &&
        col("end_sequence") <= 9005))
    assert(mid.collect().map(_.sequence).sorted.toSeq ==
      Seq(9002L, 9003L, 9004L, 9005L))

    // intent-level helper: LEDGER bounds that straddle object boundaries —
    // overlap pushdown keeps the straddling objects, row filter trims
    val lpfOpts = Map("ledgersPerFile" -> "2")
    assert(LcmBatchFiles
      .ledgerRowsForRange(spark, dir, 9003, 9006, options = lpfOpts)
      .collect().map(_.sequence).sorted.toSeq ==
      Seq(9003L, 9004L, 9005L, 9006L))

    // micro-batch tail with a MID-FILE lower bound (9003 splits the
    // 9002-9003 object): batch semantics say that object's row fails the
    // start_sequence >= 9003 re-check, so the stream starts at 9004 — and
    // the aligned probe cursor must never plan an object twice
    val out = tmp("graft-ds-lpf2-out")
    val ckpt = tmp("graft-ds-lpf2-ckpt")
    def startQuery() = LcmBatchFiles.ledgerRowsFromObjects(
        spark.readStream.format("graft-lcm-datastore")
          .option("ledgersPerFile", "2").load(dir)
          .where(col("start_sequence") >= 9003))
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .start()

    val q = startQuery()
    q.processAllAvailable()
    writeRange(9008, 9011) // two more objects land mid-stream
    q.processAllAvailable()
    q.stop()

    // restart on the same checkpoint: nothing re-ingests
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val seqs = spark.read.parquet(out).select("sequence")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (9004L to 9011L))

    // intent-level stream bound: a mid-file startSeq keeps the straddling
    // object's in-range ledger (floor aligns down; the overhang is trimmed)
    val out2 = tmp("graft-ds-lpf2-out2")
    val ckpt2 = tmp("graft-ds-lpf2-ckpt2")
    val q3 = LcmBatchFiles.ledgerRowsStream(spark, dir, Some(9003L), lpfOpts)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt2).option("path", out2)
      .start()
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(out2).select("sequence")
      .collect().map(_.getLong(0)).sorted.toSeq == (9003L to 9011L))
  }

  test("custom filesPerPartition: key-law pruning with a non-default " +
      "partition size") {
    val dir = tmp("graft-ds-fpp10")
    val root = java.nio.file.Paths.get(dir)
    // 25 single-ledger objects across partition prefixes of size 10
    for (seq <- 4000L to 4024L) {
      val (header, txs) = RealXdrFixture.ledger(seq)
      LcmBatchFiles.writeObject(root, seq, seq,
        Seq(graft.codec.XdrEncode.ledgerCloseMetaV1(header, txs)),
        ledgersPerFile = 1, filesPerPartition = 10)
    }
    // three prefix dirs (4000-4009, 4010-4019, 4020-4029)
    assert(Files.list(root).count() == 3)

    def read() = spark.read.format("graft-lcm-datastore")
      .option("filesPerPartition", "10").load(dir)
    assert(read().count() == 25)

    // bounded scan straddling a prefix boundary: prefixes from the naming
    // law with the CONFIGURED partition size, exact object survival
    val bounded = read()
      .where(col("start_sequence") >= 4008 && col("end_sequence") <= 4013)
    assert(bounded.select("start_sequence").collect()
      .map(_.getLong(0)).sorted.toSeq == (4008L to 4013L))
    // decode parity through the helper with the schema options
    assert(LcmBatchFiles.ledgerRowsForRange(spark, dir, 4018, 4022,
        options = Map("filesPerPartition" -> "10"))
      .collect().map(_.sequence).sorted.toSeq == (4018L to 4022L))
  }

  test("LedgerCloseMeta v2 objects in the tree: a mixed v1/v2 range reads " +
      "through the connector with the v2-only columns threaded") {
    val dir = tmp("graft-ds-v2")
    val root = Paths.get(dir)
    for (seq <- 5000L to 5009L) {
      val (header, txs) = RealXdrFixture.ledger(seq)
      val lcm =
        if (seq % 2 == 0)
          graft.codec.XdrEncode.ledgerCloseMetaV2(header, txs,
            sorobanFeeWrite1kb = 10000L + seq,
            liveSorobanStateSize = seq * 1000L)
        else graft.codec.XdrEncode.ledgerCloseMetaV1(header, txs)
      LcmBatchFiles.writeObject(root, seq, seq, Seq(lcm))
    }
    val rows = LcmBatchFiles.ledgerRowsForRange(spark, dir, 5000L, 5009L)
      .collect().sortBy(_.sequence)
    assert(rows.map(_.sequence).toSeq == (5000L to 5009L))
    // v2 arms thread the ext fee + live-state size; v1 (ext v0) stays 0
    val v2row = rows.find(_.sequence == 5004L).get
    assert(v2row.soroban_fee_write_1kb == 15004L)
    assert(v2row.bucket_list_size == 5004000L)
    assert(rows.find(_.sequence == 5005L).get.soroban_fee_write_1kb == 0L)
    // tx decode parity across envelope versions: the v2 ledger's txs match
    // a direct v1-layout decode of the same fixture ledger
    val (h4, t4) = RealXdrFixture.ledger(5004L)
    val direct = graft.codec.StellarXdr.decodeLedgerCloseMeta(
      new graft.codec.StellarXdr.Reader(
        graft.codec.XdrEncode.ledgerCloseMetaV1(h4, t4)))
    assert(v2row.transactions.map(_.hash_hex) ==
      direct.transactions.map(_.hash_hex))
    assert(v2row.transactions.map(_.fee_charged) ==
      direct.transactions.map(_.fee_charged))
  }

  test("stream respects a pushed lower bound") {
    val dir = tmp("graft-ds-stream-lo")
    val out = tmp("graft-ds-stream-lo-out")
    val ckpt = tmp("graft-ds-stream-lo-ckpt")
    RealXdrFixture.writeBatchTree(dir, 7100, 7115)

    val q = LcmBatchFiles.ledgerRowsStream(spark, dir, startSeq = Some(7108))
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .start()
    q.processAllAvailable()
    q.stop()
    val seqs = spark.read.parquet(out).select("sequence")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (7108L to 7115L))
  }

  /** The full table fan-out per micro-batch — the foreachBatch a production
    * incremental backfill runs (effects, trades and token transfers off the
    * decoded rows) — multiset-equal to the batch path over the same tree. */
  test("streaming: full fan-out (effects/trades/transfers) in foreachBatch " +
      "matches the batch path") {
    import graft.model.LedgerModel.LedgerRow
    import graft.operators.{StellarTradesEffects, TokenTransfers}
    import org.apache.spark.sql.{DataFrame, Dataset}
    val dir = tmp("graft-ds-fanout")
    val ckpt = tmp("graft-ds-fanout-ckpt")
    def fanOut(ledgers: Dataset[LedgerRow]): Seq[(String, DataFrame)] = Seq(
      "effects" -> StellarTradesEffects.historyEffects(ledgers),
      "trades" -> StellarTradesEffects.historyTrades(ledgers),
      "transfers" -> TokenTransfers.fromLedgers(ledgers))

    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val batchIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    RealXdrFixture.writeBatchTree(dir, 7200, 7211)
    val q = LcmBatchFiles.ledgerRowsStream(spark, dir).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[LedgerRow], id: Long) =>
        val b = batch.persist()
        if (!b.isEmpty) batchIds.add(id)
        fanOut(b).foreach { case (table, df) =>
          df.toJSON.collect().foreach(j => acc.add(table -> j))
        }
        b.unpersist(); ()
      }
      .start()
    q.processAllAvailable()
    // the classic LP/claimable-balance corpus lands mid-stream
    RealXdrFixture.writeClassicBatchTree(dir, 7212, 7223)
    q.processAllAvailable()
    q.stop()
    assert(batchIds.size >= 2, s"non-empty micro-batches: $batchIds")

    def multiset(xs: Iterable[(String, String)]) =
      xs.groupBy(identity).view.mapValues(_.size).toMap
    val batch = fanOut(LcmBatchFiles.ledgerRowsForRange(spark, dir, 7200, 7223))
      .flatMap { case (table, df) => df.toJSON.collect().map(table -> _) }
    assert(multiset(acc.asScala) == multiset(batch))
    // neither fixture carries an offer-book trade, so trades are empty on
    // both paths; effects and transfers must not be
    val perTable = acc.asScala.groupBy(_._1).view.mapValues(_.size).toMap
    assert(!perTable.contains("trades"), perTable)
    assert(perTable.getOrElse("effects", 0) > 0, perTable)
    assert(perTable.getOrElse("transfers", 0) > 0, perTable)
  }
}
