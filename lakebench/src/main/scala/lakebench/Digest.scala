package lakebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-insensitive digests for comparing a program output with its
  * plain-Spark reference: a row count and the sum of per-row 64-bit
  * hashes (as a decimal, so the sum cannot overflow).
  */
object Digest {

  def hashSum(columns: Seq[String]): Column =
    sum(xxhash64(columns.map(col): _*).cast(DecimalType(38, 0)))

  /** (rows, hash sum) of `df` over `columns`; an empty frame sums to 0. */
  def of(df: DataFrame, columns: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), hashSum(columns)).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Same multiset of rows over the reference's columns, compared at
    * the reference's types.
    */
  def sameRows(got: DataFrame, expected: DataFrame): Boolean = {
    val cols = expected.columns.toSeq
    val typed = got.select(cols.map(c => col(c).cast(expected.schema(c).dataType).as(c)): _*)
    val (g, e) = (of(typed, cols), of(expected, cols))
    if (g != e) Main.log(s"digest mismatch: got $g, expected $e")
    g == e
  }
}
