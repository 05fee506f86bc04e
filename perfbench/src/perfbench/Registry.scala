package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.Q

/** Closed loop, one client, over a fixed list of `SparkEntry.registry`
  * keys; the seed shuffles the key order of every pass. Each result is
  * consumed in full as a [[Digest]]; run.py compares the digests with the
  * ones recorded in perfbench/registry_keys.json. */
final class Registry(tables: String, keysFile: String, seed: Long) extends Workload {
  private val keys = scala.io.Source.fromFile(keysFile).getLines().map(_.trim)
    .filter(_.nonEmpty).toVector

  def warmUp(spark: SparkSession): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$tables/$t.parquet").count()
    }
    graft.Tables.events(spark, tables).count()
  }

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val order = (pass: Int) => new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
    val ops = Passes.run(spark, seconds, tracer, order) { name =>
      Registry.consume(spark, SparkEntry.queries(name)(_, tables))
    }
    Map("ops" -> ops.map(_.toMap), "keys" -> keys)
  }
}

object Registry {
  /** Builds through graft's public entry point and consumes the result
    * as a digest inside the build's cache scope; returns the build's end
    * time and the digest. */
  def consume(spark: SparkSession, build: SparkSession => DataFrame): (Double, String) = {
    var built = 0.0
    val d = Q.withCached { val df = build(spark); built = Clock.nowMs; df }(Digest.of)
    (built, d)
  }
}
