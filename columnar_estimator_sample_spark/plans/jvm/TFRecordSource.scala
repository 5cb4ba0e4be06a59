/* TFRecord / tf.Example source and sink (S2), registered as the
 * DataSource V2 short name `tfrecord_example`.
 *
 * The reference reads gzipped TFRecord files of tf.Example protos with a
 * fixed schema and per-column defaults (trainer.py:185-208, feature spec
 * 120-163). Both formats are small public specifications:
 *
 *   - TFRecord framing, per record: uint64 length | uint32
 *     masked-crc32c(length) | payload | uint32 masked-crc32c(payload),
 *     where masked(crc) = rotr15(crc) + 0xa282ead8, all little-endian;
 *   - Example{1: Features{1: map<string, Feature>}}, with Feature a oneof
 *     of BytesList / FloatList / Int64List (fields 1 / 2 / 3), each a
 *     repeated `value` field 1 (floats and ints packed).
 *
 * Faces:
 *   - batch read: one input partition per shard. A directory path reads
 *     every regular file whose name does not start with `.` or `_`;
 *     any other path is a glob whose wildcards match no name starting
 *     with `.` (the staging directories below). Gzip is detected by its
 *     magic bytes, a bad CRC raises, and a feature the record lacks reads
 *     as its column's default (0, 0.0, "" or empty bytes; an empty array).
 *   - write (append or overwrite, `option("compression", "gzip")`): tasks
 *     write `part-NNNNN-<job>.tfrecord[.gz]` into a hidden sibling
 *     `.<name>.<job>`; the driver-side commit publishes it with one
 *     rename (abort removes it), so a reader never lists a half-done
 *     write and an overwrite leaves no old shard behind.
 *   - micro-batch stream: offsets are exactly {"files": [...]}, the seen
 *     file list of Spark's FileStreamSource design. latestOffset never
 *     drops a file it offered, and a batch reads the files of its end
 *     offset that its start offset lacks, so it replays exactly.
 *
 * Supported column types: bigint, int, smallint, float, double, string,
 * binary and arrays of them. Compiled OFFLINE with the Scala compiler
 * PySpark ships: python tools/build_jvm_extension.py
 */
package sparkgraft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException, IOException, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystems, Files, NoSuchFileException, NotDirectoryException, Path, Paths, StandardCopyOption}
import java.util
import java.util.UUID
import java.util.zip.{CRC32C, Deflater, GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.catalog.TableCapability._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

class TFRecordSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tfrecord_example"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "tfrecord_example requires an explicit schema " +
        "(the reference's parse spec, trainer.py:120-163)")

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    schema.fields.foreach(f => TFRecord.checkType(f.dataType))
    new TFRecordTable(schema)
  }
}

class TFRecordTable(tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "tfrecord_example"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(BATCH_READ, MICRO_BATCH_READ, BATCH_WRITE, TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new TFRecordScan(tableSchema, TFRecord.requirePath(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new ShardPublish(
          info.schema(), TFRecord.requirePath(info.options()),
          info.options().get("compression") == "gzip", overwrite)
      }
    }
}

class TFRecordScan(schema: StructType, path: String) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val files = new ShardGlob(path).list()
    if (files.isEmpty) throw new FileNotFoundException(path)
    files.map(ShardPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ShardReaderFactory(schema)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TFRecordStream(schema, path)
}

case class ShardPartition(path: String) extends InputPartition

case class ShardReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[ShardPartition].path
    val records = TFRecord.records(path)
    val decode = new ExampleDecoder(schema)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = records.hasNext && {
        row = decode(records.next()); true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** The seen-file-list offset, {"files": [...]}, files sorted. */
class FilesOffset(val files: Seq[String]) extends Offset {
  override def json(): String =
    FilesOffset.mapper.writeValueAsString(util.Map.of("files", files.asJava))
}

object FilesOffset {
  private val mapper = new ObjectMapper()

  /** Any form other than {"files": [<path>, ...]} is refused, never guessed
    * at: only a checkpoint on disk can hold one. */
  def parse(json: String): FilesOffset = {
    val files = mapper.readTree(json).get("files")
    if (files == null || !files.isArray || !files.elements.asScala.forall(_.isTextual))
      throw new IllegalArgumentException(
        "tfrecord stream offset must have the form " +
          s"""{"files": [<path>, ...]}, got $json""")
    new FilesOffset(files.elements.asScala.map(_.asText).toSeq)
  }
}

class TFRecordStream(schema: StructType, path: String) extends MicroBatchStream {
  private val glob = new ShardGlob(path)
  private val seen = mutable.TreeSet.empty[String]

  override def initialOffset(): Offset = new FilesOffset(Nil)

  // never drop a file already offered (FileStreamSource's seen-files
  // rule): a shrunken offset differs from the committed one, so a live
  // query would plan a batch for it and write its offset into a
  // checkpoint that may be gone with the source
  override def latestOffset(): Offset = synchronized {
    seen ++= glob.list()
    new FilesOffset(seen.toSeq)
  }

  override def deserializeOffset(json: String): Offset = FilesOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val done = start.asInstanceOf[FilesOffset].files.toSet
    end.asInstanceOf[FilesOffset].files.filterNot(done).map(ShardPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ShardReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The driver side of a write: tasks write into `staging`; commit makes
  * it the path with one rename (or moves each shard in, for an append
  * into an existing path). Shard names carry the job id, so appended
  * shards never collide with earlier ones. */
class ShardPublish(schema: StructType, path: String, gzip: Boolean,
                   overwrite: Boolean) extends BatchWrite {
  private val job = UUID.randomUUID().toString.replace("-", "")
  private val target = Paths.get(path).toAbsolutePath
  private val staging = target.resolveSibling(s".${target.getFileName}.$job")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ShardWriterFactory(schema, staging.toString, job, gzip)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // a write of zero partitions ran no task: publish an empty directory
    Files.createDirectories(staging)
    if (!Files.exists(target)) {
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    } else if (overwrite) {
      val old = staging.resolveSibling(s"${staging.getFileName}.old")
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      TFRecord.deleteRecursively(old)
    } else {
      TFRecord.children(staging).foreach { f =>
        Files.move(f, target.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      Files.delete(staging)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TFRecord.deleteRecursively(staging)
}

case object ShardWritten extends WriterCommitMessage

case class ShardWriterFactory(schema: StructType, staging: String, job: String,
                              gzip: Boolean) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val dir = Files.createDirectories(Paths.get(staging))
    val file = dir.resolve(
      f"part-$partitionId%05d-$job.tfrecord" + (if (gzip) ".gz" else ""))
    val raw = Files.newOutputStream(file)
    val out: OutputStream =
      if (gzip) new GZIPOutputStream(raw, 1 << 16) { `def`.setLevel(Deflater.BEST_COMPRESSION) }
      else new java.io.BufferedOutputStream(raw, 1 << 16)
    val encode = new ExampleEncoder(schema)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = TFRecord.writeRecord(out, encode(row))
      override def commit(): WriterCommitMessage = { out.close(); ShardWritten }
      override def abort(): Unit = { out.close(); Files.deleteIfExists(file) }
      override def close(): Unit = out.close()
    }
  }
}

/** The shards at a path, sorted: a directory's non-hidden regular files,
  * or a glob's matching regular files (java.nio glob syntax per path
  * component; a wildcard never matches a name starting with `.`). */
class ShardGlob(pattern: String) {
  private val isMagic = (c: String) => c.exists("*?[{".contains(_))
  private val parts = pattern.split("/", -1).toSeq
  private val (literal, wild) = parts.span(c => !isMagic(c))
  private val base = Paths.get(if (literal == Seq("")) "/" else literal.mkString("/"))
  private val matchers = wild.map { c =>
    if (isMagic(c)) Some(FileSystems.getDefault.getPathMatcher("glob:" + c)) else None
  }

  def list(): Seq[String] = {
    val found =
      if (wild.isEmpty && Files.isDirectory(base))
        entries(base).filter(p => !"._".contains(p.getFileName.toString.head))
      else
        wild.zip(matchers).foldLeft(Seq(base)) {
          case (dirs, (c, None)) => dirs.map(_.resolve(c)).filter(Files.exists(_))
          case (dirs, (c, Some(m))) =>
            dirs.flatMap(entries).filter { p =>
              val name = p.getFileName
              m.matches(name) && (c.startsWith(".") || !name.toString.startsWith("."))
            }
        }
    found.filter(Files.isRegularFile(_)).map(_.toString).sorted
  }

  /** A directory's entries; none for a file or a directory removed while
    * it is listed (a finished segment's source, deleted under its
    * still-live stream). */
  private def entries(dir: Path): Seq[Path] =
    try TFRecord.children(dir)
    catch { case _: NoSuchFileException | _: NotDirectoryException => Nil }
}

object TFRecord {
  def requirePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException("tfrecord_example requires a path"))

  def checkType(dt: DataType): Unit = dt match {
    case ArrayType(elem, _) if !elem.isInstanceOf[ArrayType] => checkType(elem)
    case LongType | IntegerType | ShortType | FloatType | DoubleType | StringType |
         BinaryType =>
    case other => throw new IllegalArgumentException(
      s"unsupported tfrecord type ${other.simpleString}")
  }

  def children(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator.asScala.toVector)

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) children(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C()
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  def writeRecord(out: OutputStream, payload: Array[Byte]): Unit = {
    val buf = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(payload.length.toLong)
    buf.putInt(maskedCrc(buf.array, 0, 8))
    out.write(buf.array)
    out.write(payload)
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(maskedCrc(payload, 0, payload.length)).array)
  }

  /** One shard's record payloads; CRCs verified as they are reached. */
  def records(path: String): Iterator[Array[Byte]] = {
    val raw = Files.readAllBytes(Paths.get(path))
    val data =
      if (raw.length >= 2 && raw(0) == 0x1f.toByte && raw(1) == 0x8b.toByte)
        Using.resource(new GZIPInputStream(new ByteArrayInputStream(raw)))(_.readAllBytes())
      else raw
    val le = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 0
    new Iterator[Array[Byte]] {
      override def hasNext: Boolean = pos < data.length
      override def next(): Array[Byte] = {
        if (data.length - pos < 12)
          throw new IOException(s"truncated record at offset $pos in $path")
        val length = le.getLong(pos)
        if (maskedCrc(data, pos, 8) != le.getInt(pos + 8))
          throw new IOException(s"bad length crc at offset $pos in $path")
        if (length < 0 || length > data.length - pos - 16)
          throw new IOException(s"truncated record at offset $pos in $path")
        val start = pos + 12
        val end = start + length.toInt
        if (maskedCrc(data, start, length.toInt) != le.getInt(end))
          throw new IOException(s"bad payload crc at offset $pos in $path")
        pos = end + 4
        util.Arrays.copyOfRange(data, start, end)
      }
    }
  }
}

/** Protobuf wire reading over one byte array. */
private final class Wire(val buf: Array[Byte], var pos: Int, val end: Int) {
  def more: Boolean = pos < end

  def varint(): Long = {
    var result = 0L
    var shift = 0
    var b = 0
    while ({ b = buf(pos); pos += 1; result |= (b & 0x7fL) << shift; shift += 7
             (b & 0x80) != 0 }) ()
    result
  }

  /** The next length-delimited field as a sub-reader. */
  def sub(): Wire = {
    val len = varint().toInt
    val w = new Wire(buf, pos, pos + len)
    pos += len
    w
  }

  def skip(wireType: Int): Unit = wireType match {
    case 0 => varint()
    case 1 => pos += 8
    case 2 => pos += varint().toInt
    case 5 => pos += 4
    case t => throw new IOException(s"unsupported protobuf wire type $t")
  }
}

/** tf.Example payload -> row in schema order. */
final class ExampleDecoder(schema: StructType) extends (Array[Byte] => InternalRow) {
  private val types = schema.fields.map(_.dataType)
  private val ordinal: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap

  override def apply(payload: Array[Byte]): InternalRow = {
    val values = new Array[Any](types.length)
    val ex = new Wire(payload, 0, payload.length)
    while (ex.more) {
      val tag = ex.varint().toInt
      if (tag == (1 << 3 | 2)) { // Example.features
        val features = ex.sub()
        while (features.more) {
          features.varint() // Features.feature map entry, field 1
          val entry = features.sub()
          var name: String = null
          var feature: Wire = null
          while (entry.more) {
            val t = entry.varint().toInt
            val body = entry.sub()
            if (t >>> 3 == 1) name = new String(body.buf, body.pos, body.end - body.pos, UTF_8)
            else feature = body
          }
          ordinal.get(name).foreach { i =>
            values(i) = convert(name, if (feature == null) Nil else decodeFeature(feature), types(i))
          }
        }
      } else ex.skip(tag & 7)
    }
    for (i <- values.indices if values(i) == null) values(i) = convert("", Nil, types(i))
    new GenericInternalRow(values)
  }

  /** A Feature's values: Array[Byte] for a BytesList, Float for a
    * FloatList, Long for an Int64List (packed or not). */
  private def decodeFeature(feature: Wire): Seq[Any] = {
    val out = mutable.ArrayBuffer.empty[Any]
    while (feature.more) {
      val kind = feature.varint().toInt >>> 3
      val list = feature.sub()
      while (list.more) {
        val wire = list.varint().toInt & 7
        kind match {
          case 1 =>
            val v = list.sub()
            out += util.Arrays.copyOfRange(v.buf, v.pos, v.end)
          case 2 if wire == 2 =>
            val v = list.sub()
            val le = ByteBuffer.wrap(v.buf).order(ByteOrder.LITTLE_ENDIAN)
            for (o <- v.pos until v.end by 4) out += le.getFloat(o)
          case 2 =>
            out += ByteBuffer.wrap(list.buf).order(ByteOrder.LITTLE_ENDIAN).getFloat(list.pos)
            list.pos += 4
          case _ if wire == 2 =>
            val v = list.sub()
            while (v.more) out += v.varint()
          case _ => out += list.varint()
        }
      }
    }
    out.toSeq
  }

  /** The column value of one feature; a missing feature (no values)
    * reads as the column's default. */
  private def convert(name: String, values: Seq[Any], dt: DataType): Any = dt match {
    case ArrayType(elem, _) =>
      new GenericArrayData(values.map(v => scalar(name, v, elem)).toArray)
    case _ if values.isEmpty => dt match {
      case LongType => 0L
      case IntegerType => 0
      case ShortType => 0.toShort
      case FloatType => 0f
      case DoubleType => 0d
      case StringType => UTF8String.EMPTY_UTF8
      case _ => Array.emptyByteArray
    }
    case _ => scalar(name, values.head, dt)
  }

  private def scalar(name: String, v: Any, dt: DataType): Any = (v, dt) match {
    case (n: Long, LongType) => n
    case (n: Long, IntegerType) => n.toInt
    case (n: Long, ShortType) => n.toShort
    case (n: Long, FloatType) => n.toFloat
    case (n: Long, DoubleType) => n.toDouble
    case (n: Long, StringType) => UTF8String.fromString(n.toString)
    case (f: Float, LongType) => f.toLong
    case (f: Float, IntegerType) => f.toInt
    case (f: Float, ShortType) => f.toInt.toShort
    case (f: Float, FloatType) => f
    case (f: Float, DoubleType) => f.toDouble
    case (f: Float, StringType) => UTF8String.fromString(f.toDouble.toString)
    case (b: Array[Byte], StringType) => UTF8String.fromBytes(b)
    case (b: Array[Byte], BinaryType) => b
    case _ => throw new IOException(
      s"tfrecord feature '$name' holds ${v.getClass.getSimpleName} values, " +
        s"not readable as ${dt.simpleString}")
  }
}

/** Row -> tf.Example payload, byte for byte what the Python reference
  * codec's encode_example writes for the same values: features in schema
  * order, a null column left out, ints and floats packed, an empty array
  * as an empty Int64List. */
final class ExampleEncoder(schema: StructType) extends (InternalRow => Array[Byte]) {
  private val names = schema.fieldNames.map(_.getBytes(UTF_8))
  private val types = schema.fields.map(_.dataType)

  private final class Buf extends ByteArrayOutputStream {
    def varint(n: Long): Unit = {
      var v = n
      while ((v & ~0x7fL) != 0) { write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      write(v.toInt)
    }
    def field(number: Int, payload: Array[Byte]): Unit = {
      varint(number << 3 | 2)
      varint(payload.length)
      write(payload)
    }
  }

  private def message(fill: Buf => Unit): Array[Byte] = {
    val b = new Buf
    fill(b)
    b.toByteArray
  }

  override def apply(row: InternalRow): Array[Byte] = message { example =>
    example.field(1, message { features =>
      for (i <- types.indices if !row.isNullAt(i)) {
        features.field(1, message { entry =>
          entry.field(1, names(i))
          entry.field(2, feature(row, i))
        })
      }
    })
  }

  private def feature(row: InternalRow, i: Int): Array[Byte] = types(i) match {
    case ArrayType(elem, _) =>
      val arr = row.getArray(i)
      if (arr.numElements == 0) list(3, message(_ => ()), packed = true)
      else {
        if ((0 until arr.numElements).exists(arr.isNullAt))
          throw new IllegalArgumentException(
            s"tfrecord column '${schema(i).name}' holds a null array element")
        values(elem, arr.numElements, j => arr.get(j, elem))
      }
    case dt => values(dt, 1, _ => row.get(i, dt))
  }

  private def values(dt: DataType, n: Int, at: Int => Any): Array[Byte] = dt match {
    case LongType | IntegerType | ShortType =>
      list(3, message(b => (0 until n).foreach(j => b.varint(at(j) match {
        case v: Long => v
        case v: Int => v.toLong
        case v: Short => v.toLong
      }))), packed = true)
    case FloatType | DoubleType =>
      val le = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(j => le.putFloat(at(j) match {
        case v: Float => v
        case v: Double => v.toFloat
      }))
      list(2, le.array, packed = true)
    case _ =>
      list(1, message(b => (0 until n).foreach(j => b.field(1, at(j) match {
        case s: UTF8String => s.getBytes
        case bytes: Array[Byte] => bytes
      }))), packed = false)
  }

  /** Feature{kind: XList{1: values}}: packed values are one field 1. */
  private def list(kind: Int, body: Array[Byte], packed: Boolean): Array[Byte] =
    message(_.field(kind, if (packed) message(_.field(1, body)) else body))
}
