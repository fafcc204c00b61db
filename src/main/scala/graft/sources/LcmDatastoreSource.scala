package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's REAL datastore object tree
  * (zstd-framed `LedgerCloseMetaBatch`, one object per fixed ledger range,
  * hex-inverted partition prefixes — the public stellar-go `datastore`
  * naming law, `/root/reference/internal/utils/main.go:972-1019`), at the
  * OBJECT grain: `(start_sequence, end_sequence, path, content)`.
  *
  * The only batch reader of a datastore tree ([[LcmBatchFiles]] builds
  * every range read on it). The decode boundary stays a typed `flatMap`
  * ([[LcmBatchFiles.decodeObject]]) so the connector never hand-marshals the
  * nested LedgerRow model; the connector itself supplies:
  *
  *   - pushed `start_sequence`/`end_sequence` range predicates prune by the
  *     object-key NAMING LAW. A bounded scan that reads `content` lists
  *     nothing: it derives every candidate key from the range and each task
  *     opens its own objects, skipping an absent one. A bounded key-only
  *     scan lists just the range's candidate partition prefixes (a
  *     1M-ledger slice of a 200M-ledger datastore touches ~16 prefix dirs,
  *     never the full tree);
  *   - required-column pruning skips opening the object entirely when
  *     `content` isn't requested (a COUNT or key audit reads zero bytes);
  *   - the surviving objects are packed in key order into
  *     `min(objects, defaultParallelism)` contiguous input partitions, one
  *     task per core rather than one per object;
  *   - MICRO_BATCH_READ tails a LIVE tree by PROBING the next object key —
  *     the exporter writes sequences in order, so the next key appearing IS
  *     the advance signal; no per-trigger tree listing
  *     (`latestOffset` costs O(new objects), the reference's continuous
  *     `end=0` mode over GCS).
  *
  * Options: `ledgersPerFile` (default 1) and `filesPerPartition` (default
  * 64000) mirror the reference's datastore schema config.
  */
class LcmDatastoreSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-lcm-datastore"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LcmDatastoreSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // properties arrive case-SENSITIVE (asCaseSensitiveMap), so normalize
    // before option lookup or `ledgersPerFile` silently falls back to 1
    val opts = new CaseInsensitiveStringMap(properties)
    new LcmDatastoreTable(opts.get("path"),
      Option(opts.get("ledgersperfile")).map(_.toLong)
        .getOrElse(LcmBatchFiles.LedgersPerFile),
      Option(opts.get("filesperpartition")).map(_.toLong)
        .getOrElse(LcmBatchFiles.FilesPerPartition))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object LcmDatastoreSource {
  val Schema: StructType = StructType(Seq(
    StructField("start_sequence", LongType, nullable = false),
    StructField("end_sequence", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  /** Parse `{hex-inverted}--start[-end].xdr.zstd` back to its range. */
  private val FileRe = """^[0-9a-f]{8}--(\d+)(?:-(\d+))?\.xdr\.zstd$""".r
  def rangeOf(fileName: String): Option[(Long, Long)] = fileName match {
    case FileRe(s, e) =>
      val start = s.toLong
      Some((start, Option(e).map(_.toLong).getOrElse(start)))
    case _ => None
  }

  /** Parse a partition prefix `{hex-inverted}--pstart-pend`. */
  private val DirRe = """^[0-9a-f]{8}--(\d+)-(\d+)$""".r
  def dirRangeOf(dirName: String): Option[(Long, Long)] = dirName match {
    case DirRe(s, e) => Some((s.toLong, e.toLong))
    case _ => None
  }
}

class LcmDatastoreTable(path: String, ledgersPerFile: Long,
    filesPerPartition: Long) extends Table with SupportsRead {
  override def name(): String = s"graft-lcm-datastore:$path"
  override def schema(): StructType = LcmDatastoreSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LcmDatastoreScanBuilder(path, ledgersPerFile, filesPerPartition)
}

/** Pushdown surface: column pruning + sequence-range filters on EITHER
  * boundary column (an object survives when its range overlaps [lo, hi]). */
class LcmDatastoreScanBuilder(path: String, ledgersPerFile: Long,
    filesPerPartition: Long) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var requiredSchema: StructType = LcmDatastoreSource.Schema
  private var lo = Long.MinValue
  private var hi = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val seqCols = Set("start_sequence", "end_sequence")
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual(c, _: java.lang.Number) => seqCols(c)
      case GreaterThan(c, _: java.lang.Number) => seqCols(c)
      case LessThanOrEqual(c, _: java.lang.Number) => seqCols(c)
      case LessThan(c, _: java.lang.Number) => seqCols(c)
      case EqualTo(c, _: java.lang.Number) => seqCols(c)
      case _ => false
    }
    accepted.foreach {
      case GreaterThanOrEqual(_, v: java.lang.Number) => lo = lo max v.longValue
      case GreaterThan(_, v: java.lang.Number) => lo = lo max (v.longValue + 1)
      case LessThanOrEqual(_, v: java.lang.Number) => hi = hi min v.longValue
      case LessThan(_, v: java.lang.Number) => hi = hi min (v.longValue - 1)
      case EqualTo(_, v: java.lang.Number) =>
        lo = lo max v.longValue; hi = hi min v.longValue
      case _ =>
    }
    pushed = accepted
    // boundary-column comparisons against the FILE's own range are exact at
    // the file level, but a >= on start_sequence is NOT the same predicate
    // as range overlap for multi-ledger objects — let Spark re-check rows
    accepted ++ rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new LcmDatastoreScan(path, requiredSchema, lo, hi, ledgersPerFile,
      filesPerPartition)
}

class LcmDatastoreScan(path: String, requiredSchema: StructType,
    lo: Long, hi: Long, ledgersPerFile: Long, filesPerPartition: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  // surface the pushed range in explain output so plan audits can pin it
  override def description(): String = {
    val loS = if (lo == Long.MinValue) "-inf" else lo.toString
    val hiS = if (hi == Long.MaxValue) "+inf" else hi.toString
    s"graft-lcm-datastore $path PushedFilters: sequence in [$loS, $hiS]"
  }

  private def hadoopConf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  // memoized: AQE re-instantiates the exec node around the SAME Scan, and
  // against an object store a second listing is a second round of RPCs.
  // A bounded content read needs no listing: the reader opens each key and
  // skips an absent one. A key-only scan has nothing to open, so it lists
  // to learn which objects exist.
  private lazy val partitions: Array[InputPartition] = LcmDatastoreFiles.pack(
    if (lo != Long.MinValue && hi != Long.MaxValue &&
        requiredSchema.fieldNames.contains("content"))
      LcmDatastoreFiles.keyed(path, lo, hi, ledgersPerFile, filesPerPartition)
    else LcmDatastoreFiles.list(path, lo, hi, ledgersPerFile,
      filesPerPartition, hadoopConf))

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new LcmDatastoreReaderFactory(requiredSchema,
      new SerializableHadoopConf(hadoopConf))

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LcmDatastoreMicroBatchStream(path, requiredSchema, lo, hi,
      ledgersPerFile, filesPerPartition,
      new SerializableHadoopConf(hadoopConf))
}

/** One planned datastore object: path, its key-law ledger range, and its
  * byte length when a listing supplied it (the reader then sizes its single
  * content allocation from it, no per-object stat RPC). A key derived from
  * the naming law has `length = -1`: it may be absent, and the reader reads
  * it to EOF or skips it. */
case class DatastoreObject(path: String, startSeq: Long, endSeq: Long,
    length: Long)

/** Driver-side object discovery shared by batch and stream planning. */
object LcmDatastoreFiles {
  /** List surviving objects, range-pruned.
    *
    * With a bounded range the partition PREFIXES are enumerated from the
    * naming law and only those directories listed; unbounded scans fall
    * back to one level of root listing (partition dirs are range-named, so
    * even that prunes before touching files). */
  def list(root: String, lo: Long, hi: Long, ledgersPerFile: Long,
      filesPerPartition: Long,
      conf: org.apache.hadoop.conf.Configuration): Seq[DatastoreObject] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) return Seq.empty
    val partitionSize = ledgersPerFile * filesPerPartition
    val dirs: Seq[org.apache.hadoop.fs.Path] =
      if (lo != Long.MinValue && hi != Long.MaxValue && hi >= lo) {
        val first = (lo / partitionSize) * partitionSize
        (first to hi by partitionSize).map { pStart =>
          val pEnd = pStart + partitionSize - 1
          new org.apache.hadoop.fs.Path(rootPath,
            f"${0xffffffffL - pStart}%08x--$pStart-$pEnd")
        }.filter(fs.exists)
      } else {
        fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
          .filter(d => LcmDatastoreSource.dirRangeOf(d.getPath.getName)
            .forall { case (s, e) => e >= lo && s <= hi })
          .map(_.getPath)
      }
    dirs.flatMap { d =>
      fs.listStatus(d).toSeq.filter(_.isFile)
        .flatMap(f => LcmDatastoreSource.rangeOf(f.getPath.getName)
          .map { case (s, e) =>
            DatastoreObject(f.getPath.toString, s, e, f.getLen) })
        .filter(o => o.endSeq >= lo && o.startSeq <= hi)
    }.sortBy(_.startSeq)
  }

  /** The candidate objects of `[lo, hi]` from the naming law alone — no
    * filesystem call. Sequences are non-negative, so `lo` clamps to 0. */
  def keyed(root: String, lo: Long, hi: Long, ledgersPerFile: Long,
      filesPerPartition: Long): Seq[DatastoreObject] =
    (Math.floorDiv(math.max(lo, 0L), ledgersPerFile) * ledgersPerFile to hi
        by ledgersPerFile).map { start =>
      DatastoreObject(new org.apache.hadoop.fs.Path(root,
        LcmBatchFiles.objectKey(start, ledgersPerFile, filesPerPartition))
        .toString, start, start + ledgersPerFile - 1, -1L)
    }

  /** Pack key-ordered objects into `min(objects, defaultParallelism)`
    * contiguous partitions, sliced evenly like an RDD over a local Seq:
    * a per-object task would cost more to schedule than its decode, and one
    * output file per object would follow it to the sink. */
  def pack(objects: Seq[DatastoreObject]): Array[InputPartition] = {
    val n = math.min(objects.size, org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism)
    Array.tabulate[InputPartition](n) { i =>
      LcmDatastorePartition(objects.slice(
        (i.toLong * objects.size / n).toInt,
        ((i + 1L) * objects.size / n).toInt))
    }
  }
}

/** A contiguous run of objects, read by one task. */
case class LcmDatastorePartition(objects: Seq[DatastoreObject])
    extends InputPartition

class LcmDatastoreReaderFactory(requiredSchema: StructType,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new LcmDatastoreReader(partition.asInstanceOf[LcmDatastorePartition],
      requiredSchema, conf)
}

/** One row per object of the partition, in key order. An object is opened
  * ONLY when `content` is in the required schema — a pruned scan is
  * metadata-only. A content read skips an object that is not there. */
class LcmDatastoreReader(p: LcmDatastorePartition,
    requiredSchema: StructType, conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {
  private val objects = p.objects.iterator
  private val wantsContent = requiredSchema.fieldNames.contains("content")
  private var current: InternalRow = _

  override def next(): Boolean = {
    current = null
    while (current == null && objects.hasNext) {
      val o = objects.next()
      val content = if (wantsContent) read(o) else Some(null)
      content.foreach { bytes =>
        current = new GenericInternalRow(requiredSchema.fields.map(_.name match {
          case "start_sequence" => o.startSeq: Any
          case "end_sequence" => o.endSeq: Any
          case "path" => UTF8String.fromString(o.path)
          case "content" => bytes
          case other => throw new IllegalArgumentException(s"unknown col $other")
        }))
      }
    }
    current != null
  }

  /** One open RPC, one read. A listed object's length sizes the buffer
    * (objects are immutable under the datastore law; a length drift
    * surfaces loudly, never as silent truncation); a key-derived object is
    * read to EOF, and `None` when it does not exist. */
  private def read(o: DatastoreObject): Option[Array[Byte]] = {
    if (o.length > Int.MaxValue - 8)
      throw new IllegalStateException(
        s"datastore object too large for one row: ${o.path} (${o.length} bytes)")
    val fsPath = new org.apache.hadoop.fs.Path(o.path)
    try {
      val in = fsPath.getFileSystem(conf.value).open(fsPath)
      try {
        if (o.length < 0) Some(in.readAllBytes())
        else {
          val buf = new Array[Byte](o.length.toInt)
          in.readFully(buf) // stream-relative: cursor lands at EOF
          if (in.read() != -1)
            throw new IllegalStateException(
              s"datastore object grew after listing: ${o.path}")
          Some(buf)
        }
      } finally in.close()
    } catch {
      // an object store may defer the not-found error to the first read
      case _: java.io.FileNotFoundException => None
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Streaming offset = the highest ledger sequence fully ingested (the same
  * monotone cursor as the reference's unbounded export,
  * `cmd/export_ledger_entry_changes.go:72-89`). */
case class LcmDatastoreOffset(endSeq: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"endSeq":$endSeq}"""
}

object LcmDatastoreOffset {
  private val JsonRe = """\{"endSeq":(-?\d+)\}""".r
  def fromJson(json: String): LcmDatastoreOffset = json match {
    case JsonRe(v) => LcmDatastoreOffset(v.toLong)
    case _ => throw new IllegalArgumentException(
      s"bad LcmDatastoreOffset json: $json")
  }
}

/** Micro-batch tail of a LIVE datastore tree. The exporter writes object
  * keys in sequence order, so `latestOffset` PROBES forward from the cursor
  * — one `exists` per not-yet-seen object, capped at 4096 objects per
  * trigger — instead of listing the tree. The initial cursor comes from the
  * pushed lower bound when present; otherwise from the one-time listing of
  * the (range-named) partition dirs. A gap in the key space means "not
  * exported yet" and cleanly bounds the batch. */
class LcmDatastoreMicroBatchStream(path: String, requiredSchema: StructType,
    lo: Long, hi: Long, ledgersPerFile: Long, filesPerPartition: Long,
    conf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val maxObjectsPerTrigger = 4096L

  private def fs = {
    val rootPath = new org.apache.hadoop.fs.Path(path)
    rootPath.getFileSystem(conf.value)
  }

  private def objectPathFor(seq: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path,
      LcmBatchFiles.objectKey(seq, ledgersPerFile, filesPerPartition))

  // aligned DOWN to the containing file's start so a mid-file lower bound
  // still plans the straddling object (its row then stands or falls on the
  // pushed predicate re-check, same as the batch scan); identity at lpf=1
  private lazy val floor: Long =
    if (lo != Long.MinValue)
      Math.floorDiv(lo, ledgersPerFile) * ledgersPerFile - 1
    else {
      val all = LcmDatastoreFiles.list(path, Long.MinValue, Long.MaxValue,
        ledgersPerFile, filesPerPartition, conf.value)
      if (all.isEmpty) -1L else all.head.startSeq - 1
    }

  override def initialOffset(): Offset = LcmDatastoreOffset(floor)

  /** First file START strictly after `after`. Objects are atomic at this
    * grain, so a mid-file cursor (a non-aligned pushed lower bound) treats
    * the containing file as consumed — matching the batch scan, where that
    * object's row fails the `start_sequence >= lo` re-check anyway. Keeps
    * every offset this stream emits a file-END, so no object can be planned
    * by two batches. Identity (`after + 1`) when ledgersPerFile is 1. */
  private def nextFileStart(after: Long): Long =
    (Math.floorDiv(after, ledgersPerFile) + 1) * ledgersPerFile

  // last sequence this instance has probed through — keeps each trigger
  // O(newly-arrived objects); a restart re-probes from the floor once and
  // the committed start offset still bounds what actually re-plans
  private var probedThrough: Long = Long.MinValue

  override def latestOffset(): Offset = {
    // probe forward object by object; stop at the first missing key, the
    // per-trigger cap, or the pushed upper bound
    var cursor = math.max(probedThrough, floor)
    var probes = 0L
    // a file whose START is in bound streams even if it straddles hi — the
    // pushed-predicate re-check decides its row, mirroring the batch scan
    var next = nextFileStart(cursor)
    while (next <= hi && probes < maxObjectsPerTrigger &&
        fs.exists(objectPathFor(next))) {
      cursor = next + ledgersPerFile - 1
      next = cursor + 1
      probes += 1
    }
    probedThrough = cursor
    LcmDatastoreOffset(cursor)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LcmDatastoreOffset].endSeq
    val e = end.asInstanceOf[LcmDatastoreOffset].endSeq
    if (e <= s) return Array.empty
    // every key up to `e` was probed present, so plan by the naming law
    // with no stat; a content read skips one deleted since
    LcmDatastoreFiles.pack(LcmDatastoreFiles.keyed(path, nextFileStart(s), e,
      ledgersPerFile, filesPerPartition))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LcmDatastoreReaderFactory(requiredSchema, conf)

  override def deserializeOffset(json: String): Offset =
    LcmDatastoreOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
