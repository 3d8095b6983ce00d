package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1+ (bench).
  * Reads are plain parquet scans — Catalyst pushes filters and prunes
  * columns into the scan, which is what keeps this viable at 100 TB.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") loadEvents(spark, s"$sfDir/$name.parquet")
    else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Testdata generations have stored `events.ts` two ways:
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *     readable only as raw longs via the legacy `nanosAsLong` conf,
    *     then converted to a microsecond timestamp (same truncation DuckDB
    *     applies casting TIMESTAMP_NS to TIMESTAMP).
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): read natively
    *     as TIMESTAMP_NTZ.
    * Branch on the type that actually loaded so both generations yield the
    * same TimestampType column (the session timezone is pinned to UTC, so
    * the NTZ cast is value-identical).
    */
  private def loadEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev    = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "true")
    val df = spark.read.parquet(path)
    df.schema("ts").dataType match {
      case LongType =>
        // Nanos file: the conf must stay set for the (lazy) scan itself,
        // so deliberately leave it in place on this branch.
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other =>
        // Micros/NTZ file: the conf was a no-op; restore the prior value.
        prev.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        if (other == TimestampType) df
        else df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
