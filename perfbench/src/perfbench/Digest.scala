package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result, computed by Spark so the
  * whole result is produced and consumed without collecting it.
  *
  * Columns are taken in name order (as the correctness oracle compares
  * them), each row is rendered to one canonical string, and the digest is
  * (row count, sum of row hashes, xor of row hashes). Sum and xor do not
  * depend on row order or partitioning. Floating-point values are
  * rendered with 9 significant digits, so a different summation order in
  * an aggregate does not change the digest. */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      coalesce(format_string("%.9g", c.cast(DoubleType)), lit("\u0000"))
    case BinaryType => coalesce(hex(c), lit("\u0000"))
    case ArrayType(et, _) =>
      coalesce(concat(lit("["), array_join(transform(c, x => canon(x, et)), ","), lit("]")),
        lit("\u0000"))
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) =>
      when(c.isNull, lit("\u0000")).otherwise(concat(lit("{"),
        concat_ws(",", fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType)): _*),
        lit("}")))
    case _ => coalesce(c.cast(StringType), lit("\u0000"))
  }

  /** `df` with one column `r`, each row's canonical string. Columns are
    * renamed by position first, so duplicate output names stay distinct. */
  def rows(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    df.toDF(df.columns.indices.map(i => s"c$i"): _*).select(concat_ws("\u0001",
      fields.toIndexedSeq.map { case (f, i) => canon(col(s"c$i"), f.dataType) }: _*).as("r"))
  }

  /** Runs `df` to completion and returns its digest. */
  def of(df: DataFrame): String = {
    val r = rows(df).select(xxhash64(col("r")).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    if (n == 0) "0" else s"$n:${r.getDecimal(1)}:${java.lang.Long.toHexString(r.getLong(2))}"
  }
}
