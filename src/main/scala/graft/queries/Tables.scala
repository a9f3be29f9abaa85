package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, TimestampNTZType, TimestampType}

/** Table loaders + oracle-parity numeric helpers shared by all query
  * modules. Correctness contract: every value we emit must hash-equal
  * what DuckDB computes from the same parquet, so floating-point
  * aggregation must be association-proof (see [[dsum]]).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    scaleProbe(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** The per-scale suffix of persisted catalog tables' names (one JVM
    * serves several scale factors). */
  def indexTag(sfDir: String): String = java.lang.Integer.toHexString(sfDir.hashCode)

  /** OPT-IN parallelism probe (r17 verdict: at sf0.1 the whole suite is
    * scheduling-overhead-bound — c8 ≈ c32 — so the bench cannot see a
    * change that serializes a hot path). SPARK_GRAFT_BENCH_SCALE=N
    * (N ≥ 2) replicates every loaded row N× in-plan (explode of a
    * sequence, before any kernel), inflating compute so c8 vs c32
    * separates on kernel-bound queries. Diagnostics only: replicated
    * ids change join/group cardinalities, so results are NOT the
    * declared query results — never set it for an oracle or reported
    * bench run ([[graft.Bench]] refuses to write bench_result.json
    * under it, [[graft.Verify]] refuses to start). Unset, this is
    * byte-identical to a plain parquet read. */
  def scaleProbe(df: DataFrame): DataFrame =
    graft.Harness.knobs.benchScale.filter(_ >= 2) match {
      case Some(n) =>
        df.withColumn("_graft_scale_rep", explode(sequence(lit(1), lit(n))))
          .drop("_graft_scale_rep")
      case None => df
    }

  /** Events loader with a canonical `ts`: nanos-since-epoch BIGINT,
    * whatever the parquet physically stores. The generator has shipped
    * two spellings across rounds — TIMESTAMP(NANOS) (read as BIGINT
    * nanos under spark.sql.legacy.parquet.nanosAsLong) and
    * timestamp[us] (read as TIMESTAMP_NTZ) — and every downstream
    * query/stream does integer `ts div …` arithmetic, so the loader is
    * the ONE place that absorbs the physical type. Schema-drift
    * tolerance at the source is the 100 TB posture anyway: a lake scan
    * spans files written by different producer versions.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))

  /** Rewrite `ts` to nanos-since-epoch BIGINT. TIMESTAMP_NTZ casts to
    * TIMESTAMP via the session zone — the UTC pin is ASSERTED here (not
    * left to entry-point convention) because a non-UTC session would
    * silently shift every instant. Any physical type outside the two
    * known generator spellings (bigint-nanos, timestamp[us/ntz]) throws:
    * a numeric cast would be misread as seconds, so drift must fail
    * loudly at load time, not produce wrong nanos. Works on batch and
    * streaming DataFrames (pure projection).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // already nanos
      case TimestampType | TimestampNTZType =>
        require(
          df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          "normalizeEventTs requires spark.sql.session.timeZone=UTC: " +
            "the NTZ wall time must map to the same instant DuckDB's epoch_us reads")
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other; expected " +
          "BIGINT (nanos) or TIMESTAMP[_NTZ]. Refusing to guess the epoch unit.")
    }

  /** Association-proof sum of a double column: accumulate as
    * DECIMAL(38,6) (exact, order-independent — safe under any Spark
    * partial-aggregation/shuffle order AND equal to DuckDB's serial
    * sum), then surface as double. The initial double→decimal cast
    * rounds each input identically in both engines (same IEEE double in,
    * same decimal out), so the aggregate is bit-reproducible at any
    * parallelism — this is the 100 TB-safe way to sum doubles.
    * DuckDB oracle spelling: CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE).
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)

  /** Exact integer-moment sum surfaced as double: accumulate BIGINT
    * inputs as DECIMAL(38,0) (no overflow at warehouse scale, no
    * rounding ever) and cast the total once — the one correctly-rounded
    * conversion both engines share. Use for sufficient statistics of
    * integer-grid data (cents, counts): unlike [[dsum]] there is no
    * per-row double→decimal rounding for the engines to disagree on.
    * DuckDB oracle spelling: CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE).
    */
  def isum(c: Column): Column = sum(c.cast(DecimalType(38, 0))).cast(DoubleType)

  /** Association-proof mean: exact decimal sum cast to double, divided
    * by the count in double — one deterministic IEEE division.
    * DuckDB: CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*).
    */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Association-proof windowed sum (running totals): same decimal
    * trick — DuckDB computes window sums with a segment tree (pairwise
    * association), Spark left-to-right; decimal makes both exact. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(c.cast(DecimalType(38, 6))).over(w).cast(DoubleType)
}
