package graft

import org.apache.spark.sql.SparkSession

/** The one local session graft's entry points run ([[Bench]], [[Verify]],
  * `graft.tools.PlanCensus`, `graft.tools.ScaleCurve` and the `graft`
  * CLI), so a census or scale row measures the session Bench times:
  * `local[SPARK_GRAFT_CPUS]` (default: every core) with as many shuffle
  * partitions, AQE on, UTC session time, nanosecond parquet timestamps
  * read as longs (normalized by [[Tables.load]]), no UI, and graft's
  * native SQL functions registered. `conf` adds settings (the CLI's
  * warehouse).
  */
object LocalSpark {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(conf.toMap)
      .getOrCreate()
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
