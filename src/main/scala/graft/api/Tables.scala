package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a runtime argument so the
  * same plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench).
  * At cluster scale the same code reads a partitioned table directory; no
  * driver-side materialization happens anywhere in this package.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else parquet(spark, s"$dir/$name.parquet")

  /** A parquet read with its schema given. The footer schema is inferred
    * once per session and file set (the [[graft.Artifacts.inputs]]
    * fingerprint: a rewritten table is inferred again), so only the first
    * load of a table pays Spark's one-task inference job. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.Artifacts.cached(spark, "parquet-schema", path)(
      spark.read.parquet(path).schema)).parquet(path)

  /** `events.ts` arrives in one of three parquet shapes depending on the
    * generator vintage: TIMESTAMP(NANOS) (vanilla Spark rejects it —
    * PARQUET_TYPE_ILLEGAL — so with `nanosAsLong`, a default of
    * [[Wireduck.setup]], it reads as raw-nanos
    * LongType, as do MakeSf1's replicas), TIMESTAMP(MICROS) isAdjustedToUTC
    * (TimestampType), or TIMESTAMP_NTZ micros. All three normalize to a
    * microsecond TimestampType: nanos via exact integer division (`div` —
    * nanos ≈ 1.7e18 is beyond double precision, so no float division),
    * NTZ via a cast that is value-preserving under the UTC session zone.
    * Matches DuckDB's `CAST(ts AS TIMESTAMP)` on the same file. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = parquet(spark, s"$dir/events.parquet")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val ts = raw.schema("ts").dataType match {
      case LongType      => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case _             => col("ts").cast(TimestampType) // TIMESTAMP_NTZ, UTC session
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Register every table as a temp view so shared-ANSI-SQL queries can run
    * verbatim through spark.sql. Idempotent per session. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
