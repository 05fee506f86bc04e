package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft entry point and the test suite
  * build: `local[cpus]` with shuffle partitions = cpus, a UTC session
  * zone, a 4096-entry codegen class cache, no UI, WARN logging. */
object GraftSession {
  /** Core count of the entry points: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Tables.events fails loud on any non-UTC session (its
      // TIMESTAMP_NTZ normalization is zone-sensitive), so no entry
      // point may depend on the host JVM's default zone
      .config("spark.sql.session.timeZone", "UTC")
      // A session cycling through many DISTINCT query plans (186 here;
      // any long-lived analytics driver) thrashes the whole-stage-codegen
      // compiled-class cache at its 100-entry default: every pass of every
      // query re-runs Janino on every codegen unit, ~0.1-0.2 s of pure
      // driver compile per query that min-of-N can never amortize because
      // the classes are already evicted again. Sized to hold the full
      // registry's units (~10/query) with headroom; scale-independent
      // (driver-side compile cost, no data-size interaction) — measured
      // −30% on the 142 sub-second keys in an interleaved A/B
      // (plans/r15/ab_codegen_cache_32c.txt). Static conf: must be set
      // before the first session is created.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
