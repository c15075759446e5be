package qbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A full-width, order-free fingerprint of a query result.
  *
  * Every output column goes into one `xxhash64` per row (the same work as
  * `graft.Bench.force`: nothing can be pruned), and the rows fold into
  * their count, the sum of the hashes and their XOR. Sum and XOR are
  * commutative, so row order and partitioning do not matter; the count and
  * the sum change when a row is duplicated, which the XOR alone would hide.
  */
object Digest {

  /** The one-row digest query over `df`: columns `rows`, `hsum`, `hxor`. */
  def frame(df: DataFrame): DataFrame = {
    if (df.schema.isEmpty)
      return df.agg(count(lit(1)).as("rows"), lit(BigDecimal(0)).as("hsum"),
        lit(0L).as("hxor"))
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    // hash() rejects maps, so a map (at any depth) is hashed via its JSON
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    df.select(xxhash64(cols: _*).as("__h"))
      // decimal(20,0) holds any long; the sum cannot overflow under ANSI
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(col("__h").cast("decimal(20,0)")), lit(BigDecimal(0))).as("hsum"),
        coalesce(bit_xor(col("__h")), lit(0L)).as("hxor"))
  }

  /** Reads the digest query's single row as `rows:hsum:hxor`. */
  def render(row: org.apache.spark.sql.Row): String =
    s"${row.getLong(0)}:${row.getDecimal(1).toBigInteger}:${row.getLong(2)}"

  def of(df: DataFrame): String = render(frame(df).head())
}
