package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result: its row count plus
  * the sum of a 64-bit hash of every row. Floating-point values are
  * hashed at 9 significant digits, so the last-bit noise of a
  * reordered floating-point sum does not change the fingerprint.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: String)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null)).otherwise(format_string("%.9g", c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): Fp = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    Fp(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
