package perfbench

import org.apache.spark.sql.functions._

/** Self-check of [[Digest]], run by perfbench/test_stats.py: the digest
  * must not depend on row order, partitioning or column order, must
  * absorb float summation noise, and must see any changed, dropped or
  * duplicated row. Prints "DIGEST OK" or exits non-zero. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(2)
    import spark.implicits._
    try {
      val df = (1 to 500).map(i => (i.toLong, s"k${i % 7}", i * 0.1, Seq(i, i + 1),
        if (i % 11 == 0) None else Some(i.toDouble / 3)))
        .toDF("id", "key", "x", "arr", "maybe")
      val base = Digest.of(df)
      def same(name: String, other: org.apache.spark.sql.DataFrame): Unit =
        require(Digest.of(other) == base, s"$name changed the digest")
      def differs(name: String, other: org.apache.spark.sql.DataFrame): Unit =
        require(Digest.of(other) != base, s"$name did not change the digest")
      same("reversed rows", df.orderBy(col("id").desc))
      same("repartitioned", df.repartition(7, col("key")))
      same("reordered columns", df.select("maybe", "arr", "x", "key", "id"))
      same("float noise", df.withColumn("x", col("x") + lit(1e-13)))
      differs("a changed value", df.withColumn("x", when(col("id") === 3, 0.0).otherwise(col("x"))))
      differs("a dropped row", df.where(col("id") =!= 42))
      differs("a duplicated row", df.union(df.where(col("id") === 42)))
      differs("a null for a value", df.withColumn("maybe",
        when(col("id") === 5, lit(null).cast("double")).otherwise(col("maybe"))))
      println("DIGEST OK")
    } finally spark.stop()
  }
}
