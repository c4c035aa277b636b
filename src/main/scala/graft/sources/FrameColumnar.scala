package graft.sources

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Columnar read path for the frame source (round 15, VERDICT r14
  * item 4): the row reader materializes one boxed
  * `GenericInternalRow` per frame, which every operator above unwraps
  * through virtual `InternalRow` calls; this reader takes the same
  * records from the same [[FrameCursor]] but writes the projected
  * fields straight into reused `OnHeapColumnVector`s and ships 4K-row
  * [[ColumnarBatch]]es. Spark plans a `ColumnarToRow` transition
  * (itself codegen'd, reading primitives out of the vectors with no
  * boxing), so the scan joins the vectorized side of the engine the way
  * the built-in parquet reader does. Decode stays row-at-a-time — Avro
  * binary is sequential by nature — the win is on the MATERIALIZATION
  * side: no per-row allocation, no per-field boxing, monomorphic vector
  * writes.
  *
  * Engaged for plain batch row scans only (single-segment and
  * bucket-chain splits): pushed aggregates emit one summary row, pushed
  * TopN keeps a row heap, and the streaming path feeds micro-batch
  * machinery — all row-shaped, all left on the row reader.
  */
class AvroFrameColumnarReader(members: Seq[FrameMember],
                              avroSchemaJson: String, schemaId: Int,
                              requiredCols: Array[String], pushed: Array[Filter],
                              limit: Int = 0, historyJson: String = null)
    extends PartitionReader[ColumnarBatch] {

  private val BatchRows = 4096

  private val cursor = new FrameCursor(members, avroSchemaJson, schemaId, pushed,
    historyJson, limit)
  private val ordinals = cursor.ordinals(requiredCols)
  private val types = cursor.types(requiredCols)

  private val vectors: Array[OnHeapColumnVector] =
    types.map(t => new OnHeapColumnVector(BatchRows, t))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector).toArray)

  override def next(): Boolean = {
    var n = 0
    while (n < BatchRows) {
      val rec = cursor.next()
      if (rec == null) {
        if (n == 0) return false
        // flush the partial last batch
        batch.setNumRows(n)
        return true
      }
      if (n == 0) vectors.foreach(_.reset())
      var i = 0
      while (i < ordinals.length) {
        val p = ordinals(i)
        val v = vectors(i)
        if (p == FrameCursor.SegmentCol) v.putByteArray(n, cursor.segment.getBytes)
        else if (p == FrameCursor.OffsetCol) v.putLong(n, cursor.position)
        else {
          val value = rec.get(p)
          if (value == null) v.putNull(n)
          else types(i) match {
            case IntegerType => v.putInt(n, value.asInstanceOf[java.lang.Integer].intValue)
            case LongType    => v.putLong(n, value.asInstanceOf[java.lang.Long].longValue)
            case FloatType   => v.putFloat(n, value.asInstanceOf[java.lang.Float].floatValue)
            case DoubleType  => v.putDouble(n, value.asInstanceOf[java.lang.Double].doubleValue)
            case BooleanType => v.putBoolean(n, value.asInstanceOf[java.lang.Boolean].booleanValue)
            case StringType  => value match {
              case u: org.apache.avro.util.Utf8 =>
                // Avro decodes strings as Utf8 (already UTF-8 bytes):
                // copy the exact byte range, no String round-trip
                v.putByteArray(n, u.getBytes, 0, u.getByteLength)
              case s => v.putByteArray(n,
                s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            case BinaryType =>
              val b = value.asInstanceOf[java.nio.ByteBuffer]
              val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
              v.putByteArray(n, arr)
            case other => throw new IllegalStateException(s"uncolumnarizable type $other")
          }
        }
        i += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    cursor.close()
    batch.close()
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    cursor.metrics
}
