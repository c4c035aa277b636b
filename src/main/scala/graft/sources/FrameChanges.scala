package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Change Data Feed over a framed-Avro segment log (round 14) — the
  * CDC-read rung of the connector: row-level `insert`/`delete` changes
  * between two table versions, with NO per-row change log stored
  * anywhere. The feed is derivable exactly from what the maintenance
  * machinery already keeps:
  *
  *  - every appended segment mints one version and its rows are that
  *    version's `insert` changes;
  *  - every DELETE operation mints one version; a retired segment with
  *    no rewrite replacement contributes ALL its rows as `delete`
  *    changes, and a rewritten segment contributes exactly the rows
  *    the rewrite dropped — recoverable byte-exactly because
  *    [[FrameMaintenance]] rewrites copy surviving RAW frames in
  *    order, so the replacement is an ordered byte-identical
  *    subsequence of the original and a two-pointer walk names the
  *    deleted frames precisely;
  *  - compaction mints no version and emits no changes (it is
  *    semantically invisible — a feed spanning a compaction sees
  *    nothing from it);
  *  - group rewrites (SQL UPDATE / MERGE) surface as the retired
  *    groups' rows deleted plus the republished rows inserted — group
  *    granularity, coarser than a per-row preimage/postimage pair but
  *    exactly consistent: applying the feed always reconstructs the
  *    table state (the q344 oracle proves it end-to-end).
  *
  * Usage — `(startingVersion, endingVersion]`, i.e. "the changes that
  * took the table FROM startingVersion TO endingVersion":
  * {{{
  * spark.read.format("graft.sources.AvroFrameDataSource")
  *   .option("path", dir).option("avroSchema", json).option("schemaId", "7")
  *   .option("changeFeed", "true")
  *   .option("startingVersion", "0")        // exclusive lower bound
  *   .option("endingVersion", "12")         // inclusive; default = current
  *   .load()                                 // data cols + _change_type + _commit_version
  * }}}
  *
  * Scale: one input partition per change unit (segment), so a
  * 1000-executor incremental pipeline reads a day of changes with
  * segment-grain parallelism and cost O(changed bytes), never O(table)
  * — the foundation for incremental materialized views
  * ([[FrameMatView]]). Files resolve live-first then `_history/`;
  * a feed reaching past the expiry horizon fails loudly
  * ([[FrameMaintenance.resolvePhysical]]), never under-reports.
  */
object FrameChanges {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The feed's schema: the table's data columns plus the two change
    * columns. Change columns are ordinary (selectable, prunable)
    * columns of the feed relation, not hidden metadata — an
    * incremental consumer always wants them.
    */
  def changeSchema(data: StructType): StructType =
    StructType(data.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false))

  /** Reader-friendly entry point: the change feed of a log directory
    * as a DataFrame. `to = None` means the current version.
    */
  def read(spark: SparkSession, path: String, avroSchemaJson: String,
           schemaId: Int, fromVersion: Int, toVersion: Option[Int] = None,
           historyJson: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", path)
      .option("avroSchema", avroSchemaJson)
      .option("schemaId", schemaId.toString)
      .option("changeFeed", "true")
      .option("startingVersion", fromVersion.toString)
    toVersion.foreach(v => r.option("endingVersion", v.toString))
    historyJson.foreach(h => r.option("avroSchemaHistory", h))
    r.load()
  }
}

/** Read-only table exposing the change feed ([[FrameChanges]]). The
  * scan universe is versions, not live files, so none of the current
  * table's pushdown machinery applies — only column pruning (Spark
  * filters post-scan; a change feed is consumed whole by definition).
  */
class AvroFrameChangesTable(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"avro_frame_changes(${options.get("path")})"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new AvroFrameChangesScanBuilder(fullSchema, options)
}

class AvroFrameChangesScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = fullSchema
  // planning-time version bounds tightened by pushed _commit_version
  // comparisons (round 16): `SELECT … FROM t.changes WHERE
  // _commit_version > n` must PLAN O(versions since n) change units,
  // not the table's whole history — the incremental-consumer shape.
  private var pushedLo = 0            // exclusive, like startingVersion
  private var pushedHi = Int.MaxValue // inclusive

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Consume NOTHING (Spark keeps every filter post-scan — exactness
    * never depends on the narrowing), but tighten the planned version
    * range from comparisons on the commit-version column. Values
    * arrive at the column's LongType.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def asInt(v: Any): Option[Int] = v match {
      case l: java.lang.Long    => Some(math.min(l.longValue, Int.MaxValue.toLong).toInt)
      case i: java.lang.Integer => Some(i.intValue)
      case _                    => None
    }
    val C = FrameChanges.CommitVersionCol
    filters.foreach {
      case GreaterThan(C, v)        => asInt(v).foreach(x => pushedLo = math.max(pushedLo, x))
      case GreaterThanOrEqual(C, v) => asInt(v).foreach(x => pushedLo = math.max(pushedLo, x - 1))
      case LessThan(C, v)           => asInt(v).foreach(x => pushedHi = math.min(pushedHi, x - 1))
      case LessThanOrEqual(C, v)    => asInt(v).foreach(x => pushedHi = math.min(pushedHi, x))
      case EqualTo(C, v)            => asInt(v).foreach { x =>
        pushedLo = math.max(pushedLo, x - 1); pushedHi = math.min(pushedHi, x) }
      case _ => ()
    }
    filters // all stay post-scan
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def build(): Scan = {
    val path = options.get("path")
    require(path != null, "option `path` is required")
    val dir = new java.io.File(path)
    val total = FrameMaintenance.totalVersions(dir)
    // PUSHED bounds clamp to the table's version range (they are an
    // optimization — an over-range predicate just plans nothing);
    // EXPLICIT reader options stay unclamped so an out-of-range
    // startingVersion/endingVersion still fails loudly downstream
    val from = math.max(
      Option(options.get("startingVersion")).map(_.toInt).getOrElse(0),
      math.min(pushedLo, total))
    val baseTo = Option(options.get("endingVersion")).map(_.toInt).getOrElse(total)
    val to0 =
      if (pushedHi == Int.MaxValue) baseTo // no pushed upper bound: explicit option stays raw
      else math.max(from, math.min(baseTo, math.min(pushedHi, total)))
    // a pushed bound contradicting the explicit range is an EMPTY feed,
    // not an error (the predicate simply matches nothing)
    val to = if (to0 < from && (pushedLo > 0 || pushedHi != Int.MaxValue)) from else to0
    new AvroFrameChangesScan(path, options.get("avroSchema"),
      Option(options.get("schemaId")).map(_.toInt).getOrElse(AvroFrames.DefaultSchemaId),
      required, from, to, options.get("avroSchemaHistory"),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt).getOrElse(0))
  }
}

class AvroFrameChangesScan(path: String, avroSchemaJson: String, schemaId: Int,
                           required: StructType, fromVersion: Int, toVersion: Int,
                           historyJson: String = null, maxVersionsPerTrigger: Int = 0)
    extends Scan with Batch {
  require(avroSchemaJson != null, "option `avroSchema` is required")

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"AvroFrameChangesScan path=$path, versions=($fromVersion,$toVersion], " +
      s"ReadSchema=${required.fieldNames.mkString("[", ",", "]")}"

  /** One split per change unit: insert segments read whole; delete
    * units carry the retired original plus (for rewrites) its
    * replacement for the subsequence walk. Driver work is O(history
    * events) — metadata only, no file opens.
    */
  override def planInputPartitions(): Array[InputPartition] =
    FrameMaintenance.changes(new java.io.File(path), fromVersion, toVersion)
      .map(FrameChangePartition.of).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameChangeReaderFactory(avroSchemaJson, schemaId, required.fieldNames, historyJson)

  /** Streaming CDC: `spark.readStream ... .option("changeFeed","true")`
    * tails the change feed — each micro-batch is the change units of a
    * contiguous VERSION range, so an incremental consumer (a
    * continuously-maintained materialized view via foreachBatch, a CDC
    * mirror) processes every insert AND delete exactly once across
    * restarts. Offsets share [[SegmentOffset]]'s wire format (a bare
    * version integer); `startingVersion` seeds the first offset, and
    * maintenance is transparent for the same reason as the row stream:
    * versions are stable, compaction mints none, and expired history
    * fails loudly instead of under-reporting.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FrameChangesMicroBatchStream(path, avroSchemaJson, schemaId,
      required.fieldNames, fromVersion, historyJson, maxVersionsPerTrigger)
}

/** Streaming CDC source with admission control (round 15): without a
  * cap, the FIRST trigger of a stream over a long-lived table would
  * materialize the table's entire change history as one micro-batch.
  * `maxVersionsPerTrigger` bounds each batch to that many versions —
  * the change-feed analog of the row stream's `maxSegmentsPerTrigger`
  * — so a backfilling CDC consumer drains deep history in bounded
  * slices. Under `Trigger.AvailableNow` the version count is
  * snapshotted once at start and drained up to it in capped batches.
  */
class FrameChangesMicroBatchStream(path: String, avroSchemaJson: String,
                                   schemaId: Int, requiredCols: Array[String],
                                   startVersion: Int, historyJson: String = null,
                                   maxVersionsPerTrigger: Int = 0)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  private def dir = new java.io.File(path)
  private val versions = new FrameVersionClamp(dir)

  override def prepareForTriggerAvailableNow(): Unit = versions.snapshotForAvailableNow()

  override def initialOffset(): Offset = SegmentOffset(startVersion)
  override def deserializeOffset(json: String): Offset = SegmentOffset(json.trim.toInt)

  override def getDefaultReadLimit: ReadLimit =
    if (maxVersionsPerTrigger > 0) ReadLimit.maxFiles(maxVersionsPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SegmentOffset].segments
    val total = versions.latest(from)
    limit match {
      case f: ReadMaxFiles => SegmentOffset(math.min(total, from + f.maxFiles()))
      case _               => SegmentOffset(total)
    }
  }

  override def reportLatestOffset(): Offset =
    SegmentOffset(FrameMaintenance.totalVersions(dir))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SegmentOffset].segments
    val e = end.asInstanceOf[SegmentOffset].segments
    FrameMaintenance.changes(dir, s, e).map(FrameChangePartition.of).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FrameChangeReaderFactory(avroSchemaJson, schemaId, requiredCols, historyJson)

  override def commit(end: Offset): Unit = () // offset log is the source of truth
  override def stop(): Unit = ()
}

case class FrameChangePartition(file: String, replacement: Option[String],
                                isDelete: Boolean, version: Int,
                                priorDv: Option[String] = None,
                                dvFile: Option[String] = None) extends InputPartition

object FrameChangePartition {
  def of(u: FrameMaintenance.ChangeUnit): InputPartition = u match {
    // a restored-with-vector insert (rollback) reuses the priorDv slot:
    // the reader's first branch skips those positions for any unit
    // shape, leaving exactly the live rows as inserts
    case FrameMaintenance.InsertedSegment(f, v, dv) =>
      FrameChangePartition(f, None, isDelete = false, v, dv)
    case FrameMaintenance.DeletedSegment(orig, rep, v, priorDv) =>
      FrameChangePartition(orig, rep, isDelete = true, v, priorDv)
    case FrameMaintenance.DvDeletedSegment(orig, dv, priorDv, v) =>
      FrameChangePartition(orig, None, isDelete = true, v, priorDv, Some(dv))
    // vector removed by rollback: INSERTS at (removed \ restored) —
    // dvFile selects the removed vector's positions, priorDv masks the
    // restored one's
    case FrameMaintenance.DvRestoredSegment(orig, removed, restored, v) =>
      FrameChangePartition(orig, None, isDelete = false, v, restored, Some(removed))
  }
}

class FrameChangeReaderFactory(avroSchemaJson: String, schemaId: Int,
                               requiredCols: Array[String],
                               historyJson: String = null)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FrameChangePartition]
    new FrameChangeReader(p, avroSchemaJson, schemaId, requiredCols, historyJson)
  }
}

/** Per-split change reader.
  *
  *  - insert unit: every well-formed frame of the segment → one
  *    `insert` row;
  *  - delete unit without replacement: every well-formed frame → one
  *    `delete` row;
  *  - delete unit with replacement (rewrite): two-pointer subsequence
  *    walk over RAW frame bytes — a frame byte-equal to the
  *    replacement's next frame survived (skip, advance both); anything
  *    else was deleted (emit). Malformed frames are copied through by
  *    the rewrite, so they match and skip — a change feed never
  *    invents rows the scan would not have produced;
  *  - dv unit (round 15, merge-on-read delete): emit exactly the rows
  *    at the NEW vector's positions — row-exact by construction;
  *  - `priorDv` on any delete-shaped unit: those positions were
  *    deleted by an EARLIER version (vectors are cumulative; rewrites
  *    and retirements drop them too) and are skipped outright — never
  *    re-reported, never walked against the replacement.
  */
class FrameChangeReader(part: FrameChangePartition, avroSchemaJson: String,
                        schemaId: Int, requiredCols: Array[String],
                        historyJson: String = null)
    extends PartitionReader[InternalRow] {

  private val readerSchema = new Schema.Parser().parse(avroSchemaJson)
  private val registry = AvroFrames.schemaHistory(avroSchemaJson, schemaId, historyJson)
  private val dec = new FrameDecoder(part.file, readerSchema, registry)
  private val rep: FrameDecoder =
    part.replacement.map(new FrameDecoder(_, readerSchema, registry)).orNull
  private var repFrame: Array[Byte] = if (rep != null) rep.nextFrameBytes() else null
  private val priorDvCur: FrameDv.Cursor = part.priorDv.map(FrameDv.cursor).orNull
  private val dvCur: FrameDv.Cursor = part.dvFile.map(FrameDv.cursor).orNull

  private val fieldPos: Map[String, Int] =
    readerSchema.getFields.asScala.map(f => f.name() -> f.pos()).toMap
  private val MetaType = -1
  private val MetaVersion = -2
  private val requiredPos: Array[Int] = requiredCols.map {
    case FrameChanges.ChangeTypeCol    => MetaType
    case FrameChanges.CommitVersionCol => MetaVersion
    case c                             => fieldPos(c)
  }
  private val requiredTypes: Array[DataType] = {
    val spark = AvroFrames.sparkSchema(readerSchema)
    requiredCols.map {
      case FrameChanges.ChangeTypeCol    => StringType
      case FrameChanges.CommitVersionCol => LongType
      case c                             => spark(c).dataType
    }
  }
  private val changeType =
    UTF8String.fromString(if (part.isDelete) "delete" else "insert")

  private var current: InternalRow = null

  override def next(): Boolean = {
    while (true) {
      val frame = dec.nextFrameBytes()
      if (frame == null) return false
      val pos = dec.position
      if (priorDvCur != null && priorDvCur.contains(pos)) {
        // deleted by an earlier version: not one of this unit's changes
      } else if (dvCur != null) {
        // dv unit: this version deleted exactly the vector's positions
        if (dvCur.contains(pos) && emit(frame)) return true
      } else {
        val survived = repFrame != null && java.util.Arrays.equals(frame, repFrame)
        if (survived) repFrame = rep.nextFrameBytes()
        else if (emit(frame)) return true
      }
    }
    false
  }

  private def emit(frame: Array[Byte]): Boolean = {
    val rec: GenericRecord = dec.decodeFrame(frame)
    if (rec == null) return false
    val row = new GenericInternalRow(requiredPos.length)
    var i = 0
    while (i < requiredPos.length) {
      val p = requiredPos(i)
      row.update(i,
        if (p == MetaType) changeType
        else if (p == MetaVersion) part.version.toLong
        else AvroFrames.convert(rec.get(p), requiredTypes(i)))
      i += 1
    }
    current = row
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    dec.close()
    if (rep != null) rep.close()
  }
}
