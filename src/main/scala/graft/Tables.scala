package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-typed loaders for the driver-generated parquet fixtures
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md), plus the
  * numeric-determinism helpers shared by every oracle-checked query.
  *
  * Determinism policy (SURVEY.md §2 rules, refined empirically against
  * DuckDB 1.0.0 this session):
  *   - Raw double columns (prices, quantities, balances) are low-entropy
  *     (≤2 decimal places) → casting them to DECIMAL(18,6) is exact and
  *     identical in Spark and DuckDB.
  *   - Products stay within DECIMAL(38,12): (18,6)×(19,6) is exact in both
  *     engines. NEVER exceed precision 38 — DuckDB silently promotes to
  *     DOUBLE on decimal overflow, Spark rounds; both are hash-poison.
  *   - Scale reduction: Spark CAST(decimal AS decimal) rounds HALF_UP,
  *     DuckDB CAST truncates — so the DuckDB oracle must spell
  *     CAST(ROUND(x, 6) AS DECIMAL(38,6)) (ROUND = half-away-from-zero,
  *     which equals HALF_UP for all signs).
  *   - Division: DuckDB promotes any decimal division to DOUBLE → never
  *     divide decimals. Averages are emitted as micro-unit BIGINTs using
  *     exact integer arithmetic: (2*sum_micro + cnt) DIV (2*cnt) (half-up).
  *   - events.ts arrives as ns-or-µs parquet timestamps depending on
  *     fixture generation (see `events` below); both engines normalize
  *     to identical µs values; still prefer second-truncated or epoch
  *     outputs in grouped results.
  */
object Tables {

  /** Memoized per (session, dir, name): `spark.read.parquet` pays
    * ~75 ms of file listing + footer/schema resolution PER CALL
    * (measured in r6) — with ~2 table references
    * per registry query that was ~30% of every sub-0.3 s query's
    * driver-measured cost, pure fixed overhead at any data scale.
    * Reusing the resolved frame is safe: DataFrames are immutable,
    * self-references (df ⋈ df, df ∪ df) go through Spark's normal
    * DeduplicateRelations path — the same shape every query that
    * passes one `documents` frame around already exercises — and the
    * underlying file index is immutable fixture data. The cache holds
    * one entry per (session, sfDir, table): bounded by the handful of
    * fixture dirs a process ever touches. */
  private val readCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readCache.computeIfAbsent((spark, sfDir, name),
      k => k._1.read.parquet(s"${k._2}/${k._3}.parquet"))

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts normalization — the fixture generator has shipped two
    * shapes across rounds, and this loader accepts both so a fixture
    * regeneration never breaks the registry:
    *   - TIMESTAMP(NANOS) (rounds ≤5): Spark 4 refuses to read it as a
    *     timestamp ([PARQUET_TYPE_ILLEGAL]), so we read raw ns BIGINT
    *     (legacy conf) and truncate to µs — exactly what DuckDB's
    *     reader does.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 6+): Spark 4
    *     infers TIMESTAMP_NTZ; we cast to the session-zone TimestampType
    *     (sessions here pin UTC), which preserves the face value DuckDB
    *     reads as naive TIMESTAMP — both engines see identical µs.
    * Either way the output frame has µs TimestampType `ts` plus the raw
    * epoch ns as `ts_ns`, in a pinned column order. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    // The pinned select below fixes column ORDER; it must not also
    // silently TRUNCATE a regenerated fixture that grew new columns —
    // that would mask exactly the schema drift this loader exists to
    // surface (r6 advice). Fail loud instead.
    val known = Set("event_id", "ts", "user_id", "event_type", "value", "props")
    val extra = raw.columns.filterNot(known)
    if (extra.nonEmpty) throw new IllegalStateException(
      s"events fixture grew unexpected columns ${extra.mkString(", ")} — " +
        "extend the pinned select instead of silently dropping them")
    val shaped = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case TimestampNTZType =>
        // This cast is face-value-preserving ONLY in a UTC session
        // (every shipped entry point pins one). Fail loud rather than
        // silently shifting epochs in a user session — and rather than
        // silently REWRITING the caller's session timezone, a global
        // side effect that would flip every other query in the session
        // to UTC semantics (r6 advice + r7 review). The check runs at
        // plan-build time; the conf is not re-read at execution, so a
        // caller cannot invalidate it between build and materialize
        // without rebuilding the frame.
        // equivalence via ZoneId.normalized(), not string compare (r7
        // advice): "Etc/UTC"/"Z"/"+00:00" are the same instant rules as
        // "UTC" and must not be rejected — while a genuinely shifted
        // zone still fails loud
        val tz = s.conf.get("spark.sql.session.timeZone")
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case scala.util.control.NonFatal(_) => false }
        require(isUtc,
          s"Tables.events requires a UTC session timeZone (got '$tz'): the fixture's " +
            "TIMESTAMP_NTZ ts is normalized through a session-zone cast, and any " +
            "other zone silently shifts unix_micros/window boundaries")
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case TimestampType =>
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported fixture type $other")
    }
    shaped.select("event_id", "ts_ns", "user_id", "event_type", "value",
      "props", "ts")
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact cast of a low-entropy raw double column to working decimal. */
  def d6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Canonical output decimal type for aggregates — matches DuckDB's
    * SUM(DECIMAL(18,6)) result type DECIMAL(38,6) so the driver's schema
    * compare sees identical types. Exact (widening) in Spark. */
  def out6(c: Column): Column = c.cast(DecimalType(38, 6))

  /** Exact micro-units (×1e6) of a ≤2-decimal double column, as BIGINT.
    * All-decimal path — no double rounding anywhere. */
  def micro(c: Column): Column =
    (c.cast(DecimalType(18, 6)) * lit(1000000L)).cast(LongType)

  /** Half-up integer average of micro-units: (2*sum + n) DIV (2*n), by
    * column name (SQL `div` = integral division; `/` would go through
    * DOUBLE and lose exactness past 2^53). Exact and engine-identical for
    * positive sums; DuckDB twin: `(2*sum + n) // (2*n)`. */
  def avgMicroExpr(sumMicroCol: String, cntCol: String): Column =
    expr(s"(2*$sumMicroCol + $cntCol) div (2*$cntCol)")
}
