package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{StellarXdr, XdrEncode}
import graft.model.LedgerModel.LedgerRow

/** The reference's DATASTORE file layout as a Spark input format: zstd-framed
  * `LedgerCloseMetaBatch` XDR objects, one ledger per file, 64 000 files per
  * partition prefix (`/root/reference/internal/utils/main.go:972-1019`; the
  * naming scheme is the public stellar-go `datastore` package's
  * `GetObjectKeyFromSequenceNumber` — hex-INVERTED zero-padded prefixes so
  * lexicographic listing descends by sequence and object names spread evenly
  * across bucket index ranges).
  *
  * Read side: the `graft-lcm-datastore` DSv2 connector
  * ([[LcmDatastoreSource]]) derives the range's object keys from the naming
  * law, then ONE executor-side flatMap at the deserialization boundary —
  * decompress, decode, emit LedgerRows. Map-only: a 100 TB backfill
  * spreads over its objects like the reference's BufferedStorageBackend
  * workers.
  */
object LcmBatchFiles {

  val LedgersPerFile = 1L
  val FilesPerPartition = 64000L

  /** Cached ExpressionEncoders (r21): deriving the deeply nested
    * `LedgerRow` encoder walks the full Seq[TxModel] tree via runtime
    * reflection — measured 35-100 ms per derivation even JIT-warm — and
    * `import spark.implicits._` re-derived it on EVERY query build, i.e.
    * once per bench rep for each of the ten real-XDR queries. Encoders
    * are immutable schema descriptors (Dataset ops resolve-and-bind their
    * own copies), so one module val is bit-identical and session-safe.
    * Pure metadata — no data or results are cached. */
  private[graft] lazy val ledgerRowEnc: org.apache.spark.sql.Encoder[LedgerRow] =
    org.apache.spark.sql.Encoders.product[LedgerRow]
  private lazy val binEnc: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  private lazy val pathBinEnc: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
  private lazy val objResEnc: org.apache.spark.sql.Encoder[ObjectDecodeResult] =
    org.apache.spark.sql.Encoders.product[ObjectDecodeResult]

  /** The datastore object key for a ledger sequence (public naming law). */
  def objectKey(seq: Long, ledgersPerFile: Long = LedgersPerFile,
      filesPerPartition: Long = FilesPerPartition): String = {
    val partitionSize = ledgersPerFile * filesPerPartition
    val fileStart = (seq / ledgersPerFile) * ledgersPerFile
    val fileEnd = fileStart + ledgersPerFile - 1
    val partitionStart = (seq / partitionSize) * partitionSize
    val partitionEnd = partitionStart + partitionSize - 1
    val partitionPrefix =
      f"${0xffffffffL - partitionStart}%08x--$partitionStart-$partitionEnd"
    val fileName =
      if (ledgersPerFile == 1) f"${0xffffffffL - fileStart}%08x--$fileStart"
      else f"${0xffffffffL - fileStart}%08x--$fileStart-$fileEnd"
    s"$partitionPrefix/$fileName.xdr.zstd"
  }

  /** Write one batch object (zstd-framed LedgerCloseMetaBatch). The object
    * key is derived from the schema's `ledgersPerFile`, so a multi-ledger
    * batch gets the `start-end` file-name form the naming law prescribes. */
  def writeObject(root: Path, startSeq: Long, endSeq: Long,
      lcms: Seq[Array[Byte]],
      ledgersPerFile: Long = LedgersPerFile,
      filesPerPartition: Long = FilesPerPartition): Path = {
    val rel = objectKey(startSeq, ledgersPerFile, filesPerPartition)
    val target = root.resolve(rel)
    Files.createDirectories(target.getParent)
    val out = new ZstdOutputStream(
      new BufferedOutputStream(new FileOutputStream(target.toFile)))
    try out.write(XdrEncode.ledgerCloseMetaBatch(startSeq, endSeq, lcms))
    finally out.close()
    target
  }

  /** Generate a batch-file tree from encoded (header, txs) ledgers —
    * the test/ingest-staging writer (1 ledger per file, like the
    * reference's exporter). */
  def writeTree(rootDir: String,
      ledgers: Seq[(Array[Byte], Seq[XdrEncode.LcmTx])],
      networkId: Array[Byte]): Unit = {
    val root = Paths.get(rootDir)
    ledgers.foreach { case (header, txs) =>
      val row = StellarXdr.decodeLedgerHeader(header)
      val lcm = XdrEncode.ledgerCloseMetaV1(header, txs,
        networkId = networkId)
      writeObject(root, row.ledgerSeq, row.ledgerSeq, Seq(lcm))
    }
  }

  def writeTree(rootDir: String,
      ledgers: Seq[(Array[Byte], Seq[XdrEncode.LcmTx])]): Unit =
    writeTree(rootDir, ledgers, StellarXdr.PublicNetworkId)

  /** Multi-ledger-batch tree writer: ledgers grouped into fixed
    * `ledgersPerFile` spans, one object per span (the datastore schema's
    * `ledgers_per_file > 1` configuration). */
  def writeTree(rootDir: String,
      ledgers: Seq[(Array[Byte], Seq[XdrEncode.LcmTx])],
      ledgersPerFile: Long): Unit = {
    val root = Paths.get(rootDir)
    ledgers.map { case (header, txs) =>
      val seq = StellarXdr.decodeLedgerHeader(header).ledgerSeq
      (seq, XdrEncode.ledgerCloseMetaV1(header, txs))
    }.groupBy { case (seq, _) => Math.floorDiv(seq, ledgersPerFile) }
      .foreach { case (_, grp) =>
        val sorted = grp.sortBy(_._1)
        writeObject(root, sorted.head._1, sorted.last._1,
          sorted.map(_._2), ledgersPerFile)
      }
  }

  private def decompress(bytes: Array[Byte]): Array[Byte] = {
    val in = new ZstdInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Decode one object's bytes (executor-side). `networkId` selects the
    * passphrase domain-separating the tx hashes (the reference's
    * `--testnet`/`--futurenet` flags, `internal/utils/main.go:866-895`). */
  def decodeObject(bytes: Array[Byte],
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Seq[LedgerRow] =
    StellarXdr.decodeLedgerCloseMetaBatch(decompress(bytes), networkId)

  /** Permissive-mode result: one row per OBJECT file — either its decoded
    * ledgers or the error (poison objects must be reported, never dropped;
    * the caller splits on `error`, as `graft.cli.Export`'s `--permissive`
    * counts and dumps them). */
  final case class ObjectDecodeResult(path: String, rows: Seq[LedgerRow],
      error: Option[String])

  /** The connector scan bounded to the objects of a ledger range. The
    * object-level predicate is range OVERLAP (not containment), so a
    * multi-ledger object straddling a bound still contributes its in-range
    * ledgers; callers trim the overhang row-level. Pushed sequence bounds
    * become the object keys BY NAME (visible as PushedFilters in the
    * plan); an absent object is skipped at read time. `options` passes the
    * datastore schema config (`ledgersPerFile`, `filesPerPartition`)
    * through. */
  private def objectsInRange(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long, options: Map[String, String]): DataFrame =
    spark.read.format("graft-lcm-datastore").options(options).load(rootDir)
      .where(col("end_sequence") >= startSeq && col("start_sequence") <= endSeq)

  /** The backfill read: the bounded connector scan, then ONE executor-side
    * decode flatMap per object (fail-fast: a corrupt object fails the job).
    * Planning lists nothing and each task opens its own objects — no
    * listing job, no per-object driver stat. A full-history job should
    * still chunk its range into per-job slices, exactly as the reference's
    * batch loop does. */
  def ledgerRowsForRange(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId,
      options: Map[String, String] = Map.empty): Dataset[LedgerRow] =
    ledgerRowsFromObjects(
      objectsInRange(spark, rootDir, startSeq, endSeq, options), networkId)
      .filter(r => r.sequence >= startSeq && r.sequence <= endSeq)

  /** The same bounded scan in permissive mode: a poison object becomes an
    * error row instead of failing the job; decoded rows are trimmed to the
    * range. */
  def objectsPermissive(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Dataset[ObjectDecodeResult] =
    objectsInRange(spark, rootDir, startSeq, endSeq, Map.empty)
      .select(col("path"), col("content"))
      .as(pathBinEnc)
      .map { case (path, bytes) =>
        try ObjectDecodeResult(path, decodeObject(bytes, networkId)
            .filter(r => r.sequence >= startSeq && r.sequence <= endSeq), None)
        catch {
          case e: Exception => ObjectDecodeResult(path, Nil,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }(objResEnc)

  /** Object→ledger decode over the DSv2 connector's object grain — shared
    * by batch reads and micro-batch `foreachBatch` bodies. */
  def ledgerRowsFromObjects(objects: DataFrame,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Dataset[LedgerRow] =
    objects.select(col("content")).as(binEnc)
      .flatMap(decodeObject(_, networkId))(ledgerRowEnc)

  /** Tail a LIVE datastore tree: micro-batch stream at the object grain
    * (probe-based advance, no per-trigger listing) → executor decode.
    * `startSeq` is a LEDGER bound: with a multi-ledger schema the object
    * straddling it still streams (overlap pushdown) and the overhang is
    * trimmed row-level. `networkId` as in [[ledgerRowsForRange]]. */
  def ledgerRowsStream(spark: SparkSession, rootDir: String,
      startSeq: Option[Long] = None,
      options: Map[String, String] = Map.empty,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Dataset[LedgerRow] = {
    val objects = spark.readStream.format("graft-lcm-datastore")
      .options(options).load(rootDir)
    val rows = ledgerRowsFromObjects(
      startSeq.map(s => objects.where(col("end_sequence") >= s))
        .getOrElse(objects), networkId)
    startSeq.map(s => rows.filter(_.sequence >= s)).getOrElse(rows)
  }
}
