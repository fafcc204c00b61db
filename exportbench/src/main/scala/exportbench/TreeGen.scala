package exportbench

import java.nio.file.{Files, Path, Paths}
import java.util.{Properties, SplittableRandom}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import graft.codec.{Hashes, Strkey, XdrEncode}
import graft.model.LedgerModel.AssetRef
import graft.sources.{LcmBatchFiles, RealXdrFixture}

/** Seeded Stellar datastore trees: one zstd `LedgerCloseMetaBatch` object
  * per ledger under `LcmBatchFiles.objectKey`, the layout the export
  * commands read with `--batch-input`.
  *
  * Every count the benchmark checks comes from the generator's own laws,
  * never from the program's output:
  *   - classic: `txsPerLedger` txs per ledger, each with 1–5 ops drawn from
  *     the ledger's seeded stream; ops are payment native (1/2), payment
  *     credit (3/10) or create_account (1/5), all successful;
  *   - soroban: 20–40 `RealXdrFixture.tx` invoke txs per ledger, one op each.
  *     Each tx plants exactly one change of each soroban state family
  *     (contract_data, contract_code, config_setting, ttl), so every
  *     resource of `export_ledger_entry_changes` has one row per tx.
  */
object TreeGen {

  /** What a tree holds, stated by the generator, and how long it took. */
  final case class Expected(start: Long, end: Long, ledgers: Long,
      txs: Long, ops: Long, generateS: Double = 0.0) {
    def sequences: Seq[Long] = start to end

    def write(file: Path): Unit = {
      val p = new Properties()
      Seq("start" -> start, "end" -> end, "ledgers" -> ledgers, "txs" -> txs,
        "ops" -> ops, "generate_s" -> generateS).foreach { case (k, v) =>
        p.setProperty(k, v.toString) }
      val out = Files.newOutputStream(file)
      try p.store(out, null) finally out.close()
    }
  }

  object Expected {
    def read(file: Path): Expected = {
      val p = new Properties()
      val in = Files.newInputStream(file)
      try p.load(in) finally in.close()
      def l(k: String) = p.getProperty(k).toLong
      Expected(l("start"), l("end"), l("ledgers"), l("txs"), l("ops"),
        p.getProperty("generate_s").toDouble)
    }
  }

  /** Tree sizes: classic ledgers × txs per ledger, soroban ledgers. The
    * classic default, 19 200 txs and about 58 000 ops, is the largest whose
    * runs fit the benchmark's time budget (see the README). */
  final case class Sizes(classicLedgers: Int = 192, classicTxs: Int = 100,
      sorobanLedgers: Int = 256)

  /** The tree of a work directory and the file stating its counts. */
  def treeDir(work: Path): Path = work.resolve("tree")
  def expectedFile(work: Path): Path = work.resolve("expected.properties")

  val SorobanResources: Seq[String] =
    Seq("contract_data", "contract_code", "config_settings", "ttl")

  private val usd = AssetRef("credit_alphanum4", "USD",
    Strkey.encodeAccountId(key("bench-issuer")))
  private val native = AssetRef("native", "", "")

  private def key(s: String): Array[Byte] = Hashes.sha256(s.getBytes("UTF-8"))

  /** One stream per (seed, ledger), so ledgers generate in any order. */
  private def rng(seed: Long, seq: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ seq * 0xC2B2AE3D27D4EB4FL)

  /** First ledger of a tree: seed-dependent so each seed gets other
    * sequences, hashes and keys. */
  def startSeq(seed: Long): Long = 1000000L + Math.floorMod(seed, 100000L) * 64L

  private def classicTx(seed: Long, seq: Long, t: Int,
      r: SplittableRandom): (XdrEncode.LcmTx, Int) = {
    val src = key(s"src-$seed-$seq-$t")
    val nOps = 1 + r.nextInt(5)
    val planted = (0 until nOps).map { i =>
      val dest = key(s"dst-$seed-$seq-$t-$i")
      val amount = 1000000L + r.nextInt(1000000)
      val pick = r.nextInt(10)
      if (pick < 5) (XdrEncode.paymentOp(dest, native, amount),
        XdrEncode.OpResultSpec(1, 0), dest, amount, false)
      else if (pick < 8) (XdrEncode.paymentOp(dest, usd, amount),
        XdrEncode.OpResultSpec(1, 0), dest, amount, false)
      else (XdrEncode.createAccountOp(dest, amount),
        XdrEncode.OpResultSpec(0, 0), dest, amount, true)
    }
    val fee = 100L * nOps
    val charged = 100L + r.nextInt(100)
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = src, fee = fee + 1000, seqNum = 100L * seq + t,
      ops = planted.map(_._1),
      memoText = if (t % 4 == 0) Some(s"m-$seq-$t") else None,
      signatureSeed = (t % 120).toByte))
    val result = XdrEncode.txResult(charged, 0, planted.map(_._2))
    // per op: the destination account's entry — created for
    // create_account, a state/updated pair for a payment
    val opChanges = planted.map { case (_, _, dest, amount, created) =>
      if (created) Seq(XdrEncode.change(0,
        XdrEncode.ledgerEntry(seq, XdrEncode.accountEntry(dest, amount))))
      else Seq(
        XdrEncode.change(3,
          XdrEncode.ledgerEntry(seq, XdrEncode.accountEntry(dest, 5000000L))),
        XdrEncode.change(1, XdrEncode.ledgerEntry(seq,
          XdrEncode.accountEntry(dest, 5000000L + amount))))
    }
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = opChanges))
    val feeMeta = XdrEncode.feeMetaPair(src, 1000000000L, 1000000000L - charged)
    (XdrEncode.LcmTx(env, result, meta, feeMeta), nOps)
  }

  private def header(seq: Long): Array[Byte] =
    XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(
      seq = seq, closeTime = 1700000000L + 5 * seq))

  /** Writes one ledger object; returns (txs, ops) planted in it. */
  private def writeLedger(root: Path, seq: Long,
      txs: Seq[XdrEncode.LcmTx], ops: Long): (Long, Long) = {
    val lcm = XdrEncode.ledgerCloseMetaV1(header(seq), txs)
    LcmBatchFiles.writeObject(root, seq, seq, Seq(lcm))
    (txs.size.toLong, ops)
  }

  private def generate(root: Path, start: Long, nLedgers: Int, threads: Int)(
      ledger: Long => (Long, Long)): Expected = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val jobs = (0 until nLedgers).map { i =>
        new Callable[(Long, Long)] { def call() = ledger(start + i) }
      }
      val counts = pool.invokeAll(jobs.asJava).asScala.map(_.get())
      Expected(start, start + nLedgers - 1, nLedgers,
        counts.map(_._1).sum, counts.map(_._2).sum)
    } finally pool.shutdown()
  }

  /** Generates the tree `w` reads into `work`, with its expected counts. */
  def write(w: ExportBench.Workload, seed: Long, work: Path,
      sizes: Sizes = Sizes()): Expected = {
    val threads = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val e = w.tree match {
      case ExportBench.Classic => classic(treeDir(work), seed,
        sizes.classicLedgers, sizes.classicTxs, threads)
      case ExportBench.Soroban => soroban(treeDir(work), seed,
        sizes.sorobanLedgers, threads)
    }
    val out = e.copy(generateS = (System.nanoTime() - t0) / 1e9)
    out.write(expectedFile(work))
    out
  }

  /** `TreeGen --workload <name> --seed <n> --work <dir>`: runs in its own
    * process, before the benchmark's, so that the benchmark's set-up time
    * starts from a JVM that has done nothing yet. */
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    write(ExportBench.workload(need("--workload")), need("--seed").toLong,
      Paths.get(need("--work")).toAbsolutePath)
  }

  def classic(root: Path, seed: Long, nLedgers: Int, txsPerLedger: Int,
      threads: Int): Expected =
    generate(root, startSeq(seed), nLedgers, threads) { seq =>
      val r = rng(seed, seq)
      val txs = (0 until txsPerLedger).map(t => classicTx(seed, seq, t, r))
      writeLedger(root, seq, txs.map(_._1), txs.map(_._2.toLong).sum)
    }

  def soroban(root: Path, seed: Long, nLedgers: Int, threads: Int): Expected =
    generate(root, startSeq(seed), nLedgers, threads) { seq =>
      val n = 20 + rng(seed, seq).nextInt(21)
      writeLedger(root, seq, (0L until n).map(RealXdrFixture.tx(seq, _)), n)
    }
}
