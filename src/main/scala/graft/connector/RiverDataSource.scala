package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `river` format: a stream in a [[graft.core.StreamStore]]
  * exposed as a Spark table, batch + micro-batch.
  *
  * Usage:
  * {{{
  *   spark.read.format("river")
  *     .option("root", storeDir).option("stream", name).load()
  *   spark.readStream.format("river")... // micro-batch incremental
  *   df.write.format("river").mode("append")... // single-writer append
  * }}}
  *
  * Table shape = derived columns + user schema, matching the reference
  * ingester's parquet layout (ingester.cpp:727-764): `sample_index
  * long, key string, timestamp_ms long, <user fields...>`.
  *
  * Scale design: one input partition per segment file (the reference
  * chain's analog of Redis keys, SURVEY §3.2) — a long stream reads in
  * parallel, something the reference's single cursor cannot do. Column
  * pruning happens in the reader (packed-row offsets are skipped, not
  * decoded); sample_index range filters prune whole segments.
  */
class RiverDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "river"

  private def store(opts: CaseInsensitiveStringMap) =
    new StreamStore(java.nio.file.Paths.get(
      Option(opts.get("root")).getOrElse(
        throw new IllegalArgumentException("river: missing option 'root'"))))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val name = Option(options.get("stream")).getOrElse(
      throw new IllegalArgumentException("river: missing option 'stream'"))
    RiverTable.fullSchema(store(options).metadata(name).schema)
  }

  /** The write path hands us the dataframe's schema for a stream that
    * does not exist yet (stream DDL = first write).
    */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val name = Option(opts.get("stream")).getOrElse(
      throw new IllegalArgumentException("river: missing option 'stream'"))
    new RiverTable(opts.get("root"), name, Option(schema))
  }
}

object RiverTable {
  val DerivedFields: Seq[StructField] = Seq(
    StructField("sample_index", LongType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("timestamp_ms", LongType, nullable = false))

  def fullSchema(rs: RiverSchema): StructType =
    StructType(DerivedFields ++ rs.toStructType.fields)
}

class RiverTable(rootPath: String, streamName: String,
    externalSchema: Option[StructType] = None)
  extends Table with SupportsRead with SupportsWrite {

  private def store = new StreamStore(java.nio.file.Paths.get(rootPath))
  private def exists = store.streamExists(streamName)
  private lazy val riverSchema = store.metadata(streamName).schema

  override def name(): String = s"river.$streamName"

  /** Existing stream: derived + stored user schema. New stream (write
    * path): the incoming dataframe's schema verbatim.
    */
  override def schema(): StructType =
    if (exists) RiverTable.fullSchema(riverSchema)
    else externalSchema.getOrElse(
      throw new IllegalArgumentException(s"no such stream: $streamName"))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RiverScanBuilder(rootPath, streamName, riverSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // `schemaJson` (reference wire format, RiverSchema.fromJson) lets a
    // writer DECLARE the river types when the Spark schema is
    // ambiguous: BinaryType has no default mapping (FIXED_WIDTH_BYTES
    // needs its size, VARIABLE_WIDTH_BYTES its max), so a binary
    // column is only writable through this option — the PySpark
    // binding's var-width/bytes path. Field names must still match the
    // DataFrame's (the writer resolves each river field by name).
    // When the stream already exists the stored schema governs — but a
    // writer DECLARING a schema that conflicts with it must fail loudly
    // here, not have its data silently reinterpreted under the on-disk
    // types (the single-writer write-once contract, mirrored from the
    // reference's create-or-validate behavior).
    val rs =
      if (exists) {
        Option(info.options.get("schemaJson")).map(RiverSchema.fromJson)
          .foreach { declared =>
            // order-insensitive: the writer resolves river fields BY
            // NAME, so a declaration listing the same name->type set in
            // a different order is the same contract and must keep
            // working (round-16 ADVICE). Only a real conflict — a
            // missing/extra field or a type change — fails.
            if (declared.fields.map(f => f.name -> f.tpe).toMap !=
                riverSchema.fields.map(f => f.name -> f.tpe).toMap)
              throw new IllegalArgumentException(
                s"river.$streamName exists with schema " +
                  s"${riverSchema.toJson}; writer declared conflicting " +
                  s"schemaJson ${declared.toJson}")
          }
        riverSchema
      }
      else Option(info.options.get("schemaJson"))
        .map(RiverSchema.fromJson)
        .getOrElse(RiverSchema.fromStructType(info.schema()))
    new RiverWriteBuilder(rootPath, streamName, rs, info.schema())
  }
}

class RiverScanBuilder(root: String, stream: String, rs: RiverSchema)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = RiverTable.fullSchema(rs)
  private var idxLo: Long = Long.MinValue
  private var idxHi: Long = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept sample_index bounds for segment pruning; everything is also
    * returned as residual so Spark re-evaluates exactly (we only use the
    * bounds to SKIP whole segments, never to claim row-level filtering).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case GreaterThan("sample_index", v: Long) => idxLo = math.max(idxLo, v + 1)
      case GreaterThanOrEqual("sample_index", v: Long) => idxLo = math.max(idxLo, v)
      case LessThan("sample_index", v: Long) => idxHi = math.min(idxHi, v - 1)
      case LessThanOrEqual("sample_index", v: Long) => idxHi = math.min(idxHi, v)
      case EqualTo("sample_index", v: Long) =>
        idxLo = math.max(idxLo, v); idxHi = math.min(idxHi, v)
      case _ =>
    }
    pushed = filters.filter {
      case GreaterThan("sample_index", _) | GreaterThanOrEqual("sample_index", _) |
           LessThan("sample_index", _) | LessThanOrEqual("sample_index", _) |
           EqualTo("sample_index", _) => true
      case _ => false
    }
    filters // all residual: exact row-level evaluation stays with Spark
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new RiverScan(root, stream, rs, required, idxLo, idxHi)
}

/** One unit of parallel work: the byte ranges (segIdx, fromPos, toPos)
  * of consecutive segments, read in order by one task. A batch scan
  * gives a production-sized segment a split of its own and packs SMALL
  * consecutive segments into one (guide §6.1 file-packing applied to
  * the segment chain); a microbatch gives each segment's new bytes
  * their own. */
case class RiverSplit(root: String, stream: String,
    ranges: Seq[(Long, Long, Long)]) extends InputPartition

class RiverScan(
    root: String, stream: String, rs: RiverSchema,
    required: StructType, idxLo: Long, idxHi: Long)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val st = new StreamStore(java.nio.file.Paths.get(root))
    val segs = st.segments(stream)
    // segment-level pruning on sample_index bounds: ONE 37-byte
    // first-frame-header read per segment at plan time (round 14 — the
    // previous readAll peek parsed every frame of every segment on the
    // DRIVER before a single task launched; at scale these bounds live
    // in a manifest, and this is its on-disk stand-in).
    val firstIdx: Map[Long, Long] = segs.flatMap { i =>
      st.segmentStartIndex(stream, i).map(idx => i -> idx)
    }.toMap
    val kept = segs.zipWithIndex.filter { case (seg, pos) =>
      val lo = firstIdx.getOrElse(seg, Long.MaxValue)
      val hi = segs.lift(pos + 1).flatMap(firstIdx.get)
        .map(_ - 1).getOrElse(Long.MaxValue)
      lo <= idxHi && hi >= idxLo
    }.map(_._1)
    // SMALL-SEGMENT PACKING (optimization guide §6.1): one task per
    // segment is right when segments are production-sized (~100 MB+),
    // but a tiny-keysPerSegment chain (r08's fixture: hundreds of
    // KB-sized segments) would launch one near-empty task per segment —
    // pure scheduling overhead. Pack CONSECUTIVE kept segments into
    // splits using the file-source rule verbatim: bin by byte length
    // with spark.sql.files.openCostInBytes charged per segment, closing
    // a bin at spark.sql.files.maxPartitionBytes. At production segment
    // sizes every bin holds one segment and the layout (and the
    // one-partition-per-segment parallel-read scale axis) is unchanged;
    // segment-level pruning above is untouched — only KEPT segments are
    // binned. Consecutive binning preserves per-partition row order.
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.conf
    val maxBytes = math.max(1L, conf.filesMaxPartitionBytes)
    val openCost = math.max(0L, conf.filesOpenCostInBytes)
    val sized = kept.map(i => (i, st.segmentFile(stream, i).length()))
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[Vector[(Long, Long)]]
    var cur = Vector.empty[(Long, Long)]
    var acc = 0L
    sized.foreach { case (i, len) =>
      val cost = len + openCost
      if (cur.nonEmpty && acc + cost > maxBytes) {
        bins += cur; cur = Vector.empty; acc = 0L
      }
      cur = cur :+ (i, len); acc += cost
    }
    if (cur.nonEmpty) bins += cur
    bins.map { b =>
      RiverSplit(root, stream,
        b.map { case (i, len) => (i, 0L, len) }): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RiverReaderFactory(rs, required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RiverMicroBatchStream(root, stream, rs, required)
}

/** Offset = position after the last consumed byte of the last segment. */
case class RiverOffset(segIdx: Long, pos: Long) extends Offset {
  override def json(): String = s"""{"seg":$segIdx,"pos":$pos}"""
}
object RiverOffset {
  def fromJson(j: String): RiverOffset = {
    val seg = """"seg"\s*:\s*(\d+)""".r.findFirstMatchIn(j).get.group(1).toLong
    val pos = """"pos"\s*:\s*(\d+)""".r.findFirstMatchIn(j).get.group(1).toLong
    RiverOffset(seg, pos)
  }
}

class RiverMicroBatchStream(
    root: String, stream: String, rs: RiverSchema, required: StructType)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def store = new StreamStore(java.nio.file.Paths.get(root))

  // frame-aligned read frontier per segment: a live writer's buffered
  // stream can flush MID-frame, so raw file length is not a safe offset
  // (the next batch would start parsing inside a frame). We advance
  // incrementally with readFrames' consumed-end, so each trigger parses
  // only the new tail bytes.
  private val aligned = scala.collection.mutable.Map.empty[Long, Long]

  private def alignedEnd(segIdx: Long): Long = {
    val from = aligned.getOrElse(segIdx, 0L)
    val (_, end) = SegmentCodec.readFrames(
      store.segmentFile(stream, segIdx), from)
    aligned(segIdx) = end
    end
  }

  override def initialOffset(): Offset = RiverOffset(
    store.segments(stream).headOption.getOrElse(0L), 0L)

  override def latestOffset(): Offset = {
    val segs = store.segments(stream)
    if (segs.isEmpty) RiverOffset(0L, 0L)
    else RiverOffset(segs.last, alignedEnd(segs.last))
  }

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) ----
  // The engine calls prepareForTriggerAvailableNow once at query start;
  // we pin the frontier THEN, and every admission-controlled
  // latestOffset(start, limit) returns the pinned frontier — so the run
  // drains exactly what existed at start (a live writer appending
  // mid-run is next run's data), and the engine's no-data-batch
  // machinery can fire afterwards, advancing the watermark so
  // append-mode windows/dedup close. Without this interface Spark falls
  // back to a wrapper that stops at the last DATA batch — event-time
  // closure never happens on a bounded drain.
  private var availableNowEnd: Option[Offset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(latestOffset())

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset =
    availableNowEnd.getOrElse(latestOffset())

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = RiverOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RiverOffset]
    val e = end.asInstanceOf[RiverOffset]
    val st = store
    store.segments(stream)
      .filter(i => i >= s.segIdx && i <= e.segIdx)
      .flatMap { i =>
        val from = if (i == s.segIdx) s.pos else 0L
        val to =
          if (i == e.segIdx) e.pos
          else st.segmentFile(stream, i).length() // closed segment: final
        if (to > from)
          Some(RiverSplit(root, stream, Seq((i, from, to))): InputPartition)
        else None
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RiverReaderFactory(rs, required)

  /** Commit hook: the delete-behind trim lives here in a full deployment
    * (reference I7, ingester.cpp:424-490) — retention is driven by the
    * ingester in this codebase (graft.ingest.Ingester), so the source
    * itself leaves segments in place.
    */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class RiverReaderFactory(rs: RiverSchema, required: StructType)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RiverSplitReader(p.asInstanceOf[RiverSplit], rs, required)
}

/** Decodes a split's byte ranges, in order, into pruned InternalRows. */
class RiverSplitReader(
    p: RiverSplit, rs: RiverSchema, required: StructType)
  extends PartitionReader[InternalRow] {

  private val codec = new RowCodec(rs)
  private val store = new StreamStore(java.nio.file.Paths.get(p.root))
  // parse exactly each range's frame-aligned bytes; a compressed batch
  // frame expands to many logical rows, so bounding by BYTES READ (not
  // entries returned) is what keeps splits disjoint and exact. Ranges
  // are parsed LAZILY: a segment's frames only when its turn comes.
  private val entries = p.ranges.iterator.flatMap { case (i, from, to) =>
    SegmentCodec.readFrames(store.segmentFile(p.stream, i), from, to)._1
  }.filter(_.kind == StreamEntry.Data)
  // column projection plan: for each required field, either a derived
  // column tag or the user-field position
  private val fieldPlan: Array[Either[Int, Int]] = required.fields.map { f =>
    f.name match {
      case "sample_index" => Left(0)
      case "key"          => Left(1)
      case "timestamp_ms" => Left(2)
      case n              => Right(rs.fields.indexWhere(_.name == n))
    }
  }
  private var current: StreamEntry = _

  override def next(): Boolean = {
    if (entries.hasNext) { current = entries.next(); true }
    else false
  }

  override def get(): InternalRow = {
    val vals = codec.unpack(current.payload)
    InternalRow.fromSeq(fieldPlan.toSeq.map {
      case Left(0) => current.sampleIndex
      case Left(1) => UTF8String.fromString(current.key.render)
      case Left(2) => current.key.ms
      case Right(i) if i >= 0 => vals(i) match {
        case s: String => UTF8String.fromString(s)
        case v         => v
      }
      case _ => null
    })
  }

  override def close(): Unit = ()
}

// ---------------------------------------------------------------- write

class RiverWriteBuilder(
    root: String, stream: String, rs: RiverSchema, input: StructType)
  extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new RiverBatchWrite(root, stream, rs, input)
  }
}

/** Single-writer append: river streams have exactly one writer
  * (writer.cpp:55-60), so the physical write is funneled through one
  * task — callers `coalesce(1)` (documented tradeoff, SURVEY §7.5#1).
  * Rows must arrive in user-field order matching the stream schema.
  */
class RiverBatchWrite(
    root: String, stream: String, rs: RiverSchema, input: StructType)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    require(info.numPartitions() == 1,
      s"river sink requires a single partition (single-writer stream); " +
        s"got ${info.numPartitions()}; coalesce(1) before writing")
    new RiverDataWriterFactory(root, stream, rs, input)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class RiverDataWriterFactory(
    root: String, stream: String, rs: RiverSchema, input: StructType)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RiverDataWriter(root, stream, rs, input)
}

class RiverDataWriter(
    root: String, stream: String, rs: RiverSchema, input: StructType)
  extends DataWriter[InternalRow] {

  private val store = new StreamStore(java.nio.file.Paths.get(root))
  private val writer: StreamWriter =
    if (store.streamExists(stream)) {
      // append path: re-open (the facade enforces the single-writer lock)
      sys.error(s"river sink: stream $stream already exists; " +
        "streams are single-writer append-only — write once, or use the facade")
    } else store.createStream(stream, rs)
  private val fieldIdx: Array[Int] =
    rs.fields.map(f => input.fieldIndex(f.name)).toArray
  // Spark stores TimestampType/TimestampNTZType internally as epoch
  // MICROS in a long; river's contract for such fields is epoch NANOS
  // int64 (RiverSchema.fromStructType) — scale at pack time.
  private val microsToNanos: Array[Boolean] =
    fieldIdx.map(i => input.fields(i).dataType match {
      case TimestampType | TimestampNTZType => true
      case _ => false
    })
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]

  override def write(row: InternalRow): Unit = {
    val vals: Seq[Any] = rs.fields.indices.map { k =>
      val f = rs.fields(k); val i = fieldIdx(k)
      f.tpe match {
        case RiverType.Double64           => row.getDouble(i)
        case RiverType.Float32            => row.getFloat(i)
        case RiverType.Int16              => row.getShort(i)
        case RiverType.Int32              => row.getInt(i)
        case RiverType.Int64              =>
          if (microsToNanos(k)) row.getLong(i) * 1000L else row.getLong(i)
        case RiverType.FixedWidthBytes(_) => row.getBinary(i)
        case RiverType.VariableWidthBytes(_) => row.getBinary(i)
      }
    }
    buf += vals
    if (buf.size >= 1536) flush() // reference writer batch_size (writer.h:84)
  }

  private def flush(): Unit = { if (buf.nonEmpty) { writer.write(buf.toSeq); buf.clear() } }

  override def commit(): WriterCommitMessage = {
    flush(); writer.stop()
    new WriterCommitMessage {}
  }
  override def abort(): Unit = { buf.clear() }
  override def close(): Unit = ()
}
