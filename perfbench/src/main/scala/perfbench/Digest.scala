package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content digest of a frame: row count plus two
  * aggregates of a per-row hash over the named columns in sorted order. */
object Digest {
  def apply(df: DataFrame, exclude: Set[String] = Set.empty): Seq[Long] = {
    val cols = df.columns.filterNot(exclude).sorted.map(col)
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(1L << 31))), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
