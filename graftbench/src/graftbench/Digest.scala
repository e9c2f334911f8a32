package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Order-insensitive digest of a frame over ALL its columns: the schema
 * string plus count, the two 32-bit halves summed and the XOR of a 64-bit
 * hash per row. Doubles are rounded to 6 dp (and -0.0 folded into 0.0)
 * before hashing, so a digest does not move with float summation order.
 * Hashing every column keeps Catalyst from pruning away the work a query
 * does, which a bare `count()` would allow.
 */
object Digest {

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)), bit_xor(col("h")))
      .head()
    val schemaHash = Integer.toHexString(df.schema.simpleString.hashCode)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    f"rows=${l(0)}%d;s=$schemaHash;${l(1)}%x;${l(2)}%x;${l(3)}%x"
  }
}
