package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A file-backed, Kafka-shaped topic log as a full DataSource V2
  * connector — the ingress/egress transport for environments without a
  * Kafka broker or connector jar on the classpath (this one), faithful
  * to the semantics the reference relies on:
  *
  *  - fixed partition count per topic; records route by
  *    hash(key) % partitions, so per-key ordering holds within a
  *    partition exactly like the reference's keyed producer
  *    (`/root/reference/mqttToKafka.js:100-106`);
  *  - monotonic contiguous offsets per partition; consumers resume from
  *    a committed offset (`/root/reference/kafkaConsumer.js:359-374`);
  *  - `startingOffsets` earliest/latest on the streaming reader
  *    (`TelematicsViolationDeriverJob.java:51-56` uses latest);
  *  - reader schema = the Kafka connector's:
  *    (key, value, topic, partition, offset, timestamp).
  *
  * Durability/atomicity design (what a broker's commit log provides):
  * writer tasks stage records into hidden temp files; the DRIVER commit
  * assigns each temp file a contiguous base offset and publishes it via
  * atomic rename to `seg-<base>-<count>` — so readers never observe a
  * torn or uncommitted batch, and offsets are assigned exactly once (a
  * transactional-producer analogue). Streaming epochs are recorded in
  * `_epochs/` markers: a replayed epoch after a crash is skipped, making
  * the streaming sink effectively-once per epoch.
  *
  * Scale notes: this transport is for tests and single-host pipelines —
  * the production swap-in is `format("kafka")` with the same
  * key/value/topic record shape ([[graft.sink.KafkaEventSink]] builds
  * exactly that shape). The read path is still partition-parallel:
  * one InputPartition per topic-partition, segment files streamed, no
  * driver materialization.
  */
class FileLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "filelog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileLog.ReadSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new FileLogTable(new CaseInsensitiveStringMap(properties))
}

object FileLog {
  val ReadSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType)))

  val SegmentPrefix = "seg-"

  /** Segment stream buffer: `readInt`/`writeInt` on a bare file stream
    * cost one syscall per byte. */
  val IoBufferBytes: Int = 64 * 1024

  def topicDir(root: String, topic: String) = new File(root, topic)
  def partDir(root: String, topic: String, p: Int) =
    new File(topicDir(root, topic), s"p$p")

  /** Segments in a partition dir as (baseOffset, count, file), sorted. */
  def segments(dir: File): Seq[(Long, Long, File)] = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[File])
    fs.filter(_.getName.startsWith(SegmentPrefix)).flatMap { f =>
      f.getName.stripPrefix(SegmentPrefix).split("-") match {
        case Array(b, c) => Some((b.toLong, c.toLong, f))
        case _ => None
      }
    }.sortBy(_._1).toSeq
  }

  def endOffset(dir: File): Long =
    segments(dir).lastOption.map { case (b, c, _) => b + c }.getOrElse(0L)

  /** Deterministic non-negative key → partition route (null key → 0). */
  def route(key: Array[Byte], numPartitions: Int): Int =
    if (key == null) 0
    else (java.util.Arrays.hashCode(key) & Int.MaxValue) % numPartitions

  /** Driver-side producer client (single writer per topic): appends one
    * committed segment per routed partition per call — the send+flush of
    * a Kafka producer. It stages and publishes through the DSv2 write
    * path, so routing and per-key ordering are the same for both. */
  def produce(root: String, topic: String,
              records: Seq[(Array[Byte], Array[Byte])],
              numPartitions: Int = 4): Unit = {
    val spec = FileLogWriteSpec(root, topic, numPartitions, keyIdx = 0,
      keyIsString = false, valIdx = 1, valIsString = false, tsIdx = 2)
    val writer = new FileLogDataWriter(spec)
    val nowMicros = System.currentTimeMillis() * 1000L
    records.foreach { case (k, v) =>
      writer.write(new GenericInternalRow(Array[Any](k, v, nowMicros))) }
    FileLogCommit.publish(spec, Array(writer.commit()))
  }

  /** Options helper: topic is required; partitions has a default. */
  def topicOf(o: CaseInsensitiveStringMap): String = {
    require(o.containsKey("topic"), "filelog requires option 'topic'")
    o.get("topic")
  }
  def rootOf(o: CaseInsensitiveStringMap): String = {
    require(o.containsKey("path"), "filelog requires option 'path'")
    o.get("path")
  }
  def partitionsOf(o: CaseInsensitiveStringMap): Int =
    Option(o.get("numPartitions")).map(_.toInt).getOrElse(4)
}

/** Offset = end position per partition, JSON as {"0":12,"1":3}. */
case class FileLogOffset(parts: Map[Int, Long]) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

object FileLogOffset {
  def parse(json: String): FileLogOffset = FileLogOffset(
    json.trim.stripPrefix("{").stripSuffix("}").split(",").toSeq
      .filter(_.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split(":")
        k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
      }.toMap)

  def current(root: String, topic: String, n: Int): FileLogOffset =
    FileLogOffset((0 until n).map(p =>
      p -> FileLog.endOffset(FileLog.partDir(root, topic, p))).toMap)
}

class FileLogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  FileLog.rootOf(options) // fails a load() without a 'path' option up front
  private val topic = FileLog.topicOf(options)

  override def name(): String = s"filelog:$topic"
  override def schema(): StructType = FileLog.ReadSchema
  override def capabilities(): java.util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: write schema is the producer's (key/value as
    // string or binary, optional timestamp), validated in FileLogWrite —
    // same approach as the Kafka connector's relaxed write surface.
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ o.asScala).asJava)
    () => new FileLogScan(merged)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ info.options().asScala).asJava)
    new WriteBuilder {
      override def build(): Write =
        new FileLogWrite(merged, info.schema(), info.queryId())
    }
  }
}

// ---------------------------------------------------------------- read

class FileLogScan(options: CaseInsensitiveStringMap) extends Scan {
  private val root  = FileLog.rootOf(options)
  private val topic = FileLog.topicOf(options)
  private val n     = FileLog.partitionsOf(options)

  override def readSchema(): StructType = FileLog.ReadSchema
  override def description(): String = s"filelog:$topic"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val end = FileLogOffset.current(root, topic, n)
      (0 until n).map(p =>
        FileLogInputPartition(root, topic, p, 0L, end.parts(p))
          : InputPartition).toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new FileLogReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileLogMicroBatchStream(root, topic, n,
      Option(options.get("startingOffsets")).getOrElse("latest"),
      Option(options.get("maxOffsetsPerTrigger")).map(_.toLong))
}

/** `maxOffsetsPerTrigger` mirrors the Kafka source's admission control:
  * each micro-batch admits at most that many records, distributed
  * proportionally to each partition's backlog — the backpressure knob
  * that keeps a catch-up read from planning one giant batch. */
class FileLogMicroBatchStream(root: String, topic: String, n: Int,
                              startingOffsets: String,
                              maxOffsetsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  override def initialOffset(): Offset = startingOffsets match {
    case "earliest" => FileLogOffset((0 until n).map(_ -> 0L).toMap)
    case _          => FileLogOffset.current(root, topic, n)
  }

  override def latestOffset(): Offset = FileLogOffset.current(root, topic, n)

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[FileLogOffset]
    val avail = FileLogOffset.current(root, topic, n)
    limit match {
      case r: ReadMaxRows =>
        val backlog = (0 until n).map(p =>
          p -> (avail.parts.getOrElse(p, 0L) - start.parts.getOrElse(p, 0L)))
        val total = backlog.map(_._2).sum
        if (total <= r.maxRows()) avail
        else {
          // proportional split of the admission budget across backlogs;
          // floors can under-admit, so hand out the remainder
          // deterministically by partition index
          val admitted = scala.collection.mutable.Map(
            backlog.map { case (p, b) =>
              p -> (b * r.maxRows() / total) }: _*)
          var left = r.maxRows() - admitted.values.sum
          backlog.foreach { case (p, b) =>
            if (left > 0 && admitted(p) < b) {
              val extra = math.min(left, b - admitted(p))
              admitted(p) += extra; left -= extra
            }
          }
          FileLogOffset((0 until n).map(p =>
            p -> (start.parts.getOrElse(p, 0L) + admitted(p))).toMap)
        }
      case _ => avail
    }
  }

  override def deserializeOffset(json: String): Offset =
    FileLogOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileLogOffset]
    val e = end.asInstanceOf[FileLogOffset]
    (0 until n).flatMap { p =>
      val from = s.parts.getOrElse(p, 0L)
      val to   = e.parts.getOrElse(p, 0L)
      if (to > from) Some(FileLogInputPartition(root, topic, p, from, to)
        : InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FileLogReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class FileLogInputPartition(root: String, topic: String, partition: Int,
                                 from: Long, to: Long) extends InputPartition

class FileLogReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FileLogPartitionReader(p.asInstanceOf[FileLogInputPartition])
}

/** Streams the partition's segment files, emitting offsets [from, to). */
class FileLogPartitionReader(p: FileLogInputPartition)
    extends PartitionReader[InternalRow] {
  private val segs = FileLog.segments(
    FileLog.partDir(p.root, p.topic, p.partition))
    .filter { case (b, c, _) => b + c > p.from && b < p.to }.iterator
  private val topicUtf8 = UTF8String.fromString(p.topic)

  private var in: DataInputStream = _
  private var segBase = 0L
  private var segCount = 0L
  private var idx = 0L // next record index within the segment
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (in == null) {
        if (!segs.hasNext) return false
        val (b, c, f) = segs.next()
        segBase = b; segCount = c; idx = 0
        in = new DataInputStream(
          new BufferedInputStream(new FileInputStream(f), FileLog.IoBufferBytes))
      }
      if (idx >= segCount || segBase + idx >= p.to) {
        in.close(); in = null
      } else {
        val off = segBase + idx
        idx += 1
        val keep = off >= p.from
        val key = blob(keep)
        val value = blob(keep)
        val tsMicros = in.readLong()
        if (keep) {
          row = new GenericInternalRow(Array[Any](
            key, value, topicUtf8, p.partition, off, tsMicros))
          return true
        }
      }
    }
    false
  }

  /** Next length-prefixed blob; a record before `from` is skipped, not
    * allocated. */
  private def blob(keep: Boolean): Array[Byte] = {
    val len = in.readInt()
    if (len < 0) null
    else if (!keep) { in.skipBytes(len); null }
    else { val a = new Array[Byte](len); in.readFully(a); a }
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (in != null) in.close()
}

// --------------------------------------------------------------- write

/** Input rows need `key` and `value` (string or binary); `timestamp`
  * (timestamp) is optional — absent means ingestion time, like a broker
  * stamping records at append. */
class FileLogWrite(options: CaseInsensitiveStringMap, schema: StructType,
                   queryId: String) extends Write {
  private val root  = FileLog.rootOf(options)
  private val topic = FileLog.topicOf(options)
  private val n     = FileLog.partitionsOf(options)

  private def col(name: String): Int = schema.fieldIndex(name)
  private def isString(i: Int) = schema(i).dataType == StringType
  private val spec = FileLogWriteSpec(
    root, topic, n,
    col("key"), isString(col("key")),
    col("value"), isString(col("value")),
    schema.fieldNames.indexOf("timestamp"))

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
      new FileLogWriterFactory(spec)
    override def commit(msgs: Array[WriterCommitMessage]): Unit =
      FileLogCommit.publish(spec, msgs)
    override def abort(msgs: Array[WriterCommitMessage]): Unit =
      FileLogCommit.discard(msgs)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(i: PhysicalWriteInfo): StreamingDataWriterFactory =
      new FileLogWriterFactory(spec)
    override def commit(epochId: Long, msgs: Array[WriterCommitMessage]): Unit = {
      // effectively-once: a replayed epoch is skipped wholesale
      val marker = new File(new File(FileLog.topicDir(spec.root, spec.topic),
        "_epochs"), s"$queryId-$epochId")
      if (marker.exists()) FileLogCommit.discard(msgs)
      else {
        FileLogCommit.publish(spec, msgs)
        marker.getParentFile.mkdirs()
        marker.createNewFile()
      }
    }
    override def abort(epochId: Long, msgs: Array[WriterCommitMessage]): Unit =
      FileLogCommit.discard(msgs)
  }
}

case class FileLogWriteSpec(root: String, topic: String, numPartitions: Int,
                            keyIdx: Int, keyIsString: Boolean,
                            valIdx: Int, valIsString: Boolean,
                            tsIdx: Int)

case class FileLogCommitMessage(parts: Seq[(Int, String, Long)])
    extends WriterCommitMessage // (partition, tmpPath, recordCount)

/** One staging writer per task, for batch writes and streaming epochs. */
class FileLogWriterFactory(spec: FileLogWriteSpec)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FileLogDataWriter(spec)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new FileLogDataWriter(spec)
}

/** Stages records into one hidden tmp file per routed partition; the
  * driver-side commit assigns offsets and publishes via atomic rename. */
class FileLogDataWriter(spec: FileLogWriteSpec)
    extends DataWriter[InternalRow] {
  private final class Staged(val file: File) {
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(file), FileLog.IoBufferBytes))
    var count = 0L
  }
  private val tmp = new Array[Staged](spec.numPartitions)

  private def bytes(row: InternalRow, idx: Int, isString: Boolean): Array[Byte] =
    if (row.isNullAt(idx)) null
    else if (isString) row.getUTF8String(idx).getBytes
    else row.getBinary(idx)

  override def write(row: InternalRow): Unit = {
    val key = bytes(row, spec.keyIdx, spec.keyIsString)
    val value = bytes(row, spec.valIdx, spec.valIsString)
    val ts =
      if (spec.tsIdx >= 0 && !row.isNullAt(spec.tsIdx)) row.getLong(spec.tsIdx)
      else System.currentTimeMillis() * 1000L
    val p = FileLog.route(key, spec.numPartitions)
    if (tmp(p) == null) {
      val dir = FileLog.partDir(spec.root, spec.topic, p)
      dir.mkdirs()
      tmp(p) = new Staged(new File(dir, s".tmp-${UUID.randomUUID()}"))
    }
    val s = tmp(p)
    def blob(b: Array[Byte]): Unit =
      if (b == null) s.out.writeInt(-1)
      else { s.out.writeInt(b.length); s.out.write(b) }
    blob(key); blob(value); s.out.writeLong(ts)
    s.count += 1
  }

  private def staged = tmp.zipWithIndex.filter(_._1 != null).toSeq

  override def commit(): WriterCommitMessage = {
    staged.foreach(_._1.out.close())
    FileLogCommitMessage(
      staged.map { case (s, p) => (p, s.file.getAbsolutePath, s.count) })
  }

  override def abort(): Unit =
    staged.foreach { case (s, _) => s.out.close(); s.file.delete() }

  override def close(): Unit = ()
}

object FileLogCommit {
  /** Driver-side publish: per partition, assign contiguous bases from
    * the current end offset and atomically rename each staged file to
    * `seg-<base>-<count>`. Offsets are therefore assigned exactly once,
    * in one place, and a reader can never observe a torn batch. */
  def publish(spec: FileLogWriteSpec, msgs: Array[WriterCommitMessage]): Unit =
    msgs.flatMap {
        case FileLogCommitMessage(parts) => parts
        case _ => Seq.empty
      }
      .groupBy(_._1)
      .foreach { case (p, staged) =>
        val dir = FileLog.partDir(spec.root, spec.topic, p)
        dir.mkdirs()
        var base = FileLog.endOffset(dir)
        // deterministic publish order: by staged path
        staged.sortBy(_._2).foreach { case (_, path, count) =>
          if (count > 0) {
            val dst = new File(dir, f"${FileLog.SegmentPrefix}$base%020d-$count")
            Files.move(Paths.get(path), dst.toPath,
              StandardCopyOption.ATOMIC_MOVE)
            base += count
          } else Files.deleteIfExists(Paths.get(path))
        }
      }

  def discard(msgs: Array[WriterCommitMessage]): Unit =
    msgs.foreach {
      case FileLogCommitMessage(parts) =>
        parts.foreach { case (_, path, _) =>
          Files.deleteIfExists(Paths.get(path)) }
      case _ => ()
    }
}
