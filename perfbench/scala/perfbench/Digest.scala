package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** Order-independent result digest: the row count plus `bit_xor` of each
  * row's `xxhash64` over its columns cast to string. Every output column
  * feeds the hash, so nothing upstream can be pruned away, and xor ignores
  * row order and partitioning. Rendered as "<rows>:<hex>". */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => col(s"`$c`").cast("string"))
    df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"))
  }

  def render(r: Row): String =
    s"${r.getLong(0)}:${java.lang.Long.toHexString(
      if (r.isNullAt(1)) 0L else r.getLong(1))}"

  def of(df: DataFrame): String = render(frame(df).collect()(0))
}
