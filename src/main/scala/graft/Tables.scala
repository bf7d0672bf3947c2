package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  * Every query receives the scale-factor directory at call time, so the same
  * code runs at sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench) — and, on a
  * real cluster, against a 100 TB dataset directory: nothing here assumes
  * data fits on the driver.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // ts contract (DIALECT.md "Timestamps"): the driver fixtures store
    // events.ts as parquet timestamp[us] with isAdjustedToUTC=false, which
    // Spark reads as TimestampNTZType (≙ DuckDB's naive TIMESTAMP) — that
    // passes through unchanged. The branch below is DEFENSIVE, for a
    // TIMESTAMP(NANOS) fixture: Spark reads that as LongType under
    // spark.sql.legacy.parquet.nanosAsLong (set by LocalSpark), and we
    // normalize to a microsecond TimestampType, FLOORING like DuckDB's
    // TIMESTAMP_NS cast does: `ts div 1000` alone truncates toward zero,
    // which disagrees by 1µs for pre-1970 sub-µs timestamps.
    // (ts - pmod(ts, 1000)) is an exact multiple of 1000, so the division
    // is precision-free — a double floor() would not be: ns epochs
    // exceed 2^53.
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions
          .expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
    else df
  }
}
