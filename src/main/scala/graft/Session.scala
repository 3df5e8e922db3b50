package graft

import org.apache.spark.sql.SparkSession

/** The engine's local Spark session, built one way for every entry point
  * (Bench, Verify, Explain, Time, Soak and the test suites): `cores`
  * worker threads and as many shuffle partitions, UTC session time, no
  * UI. Callers set their own log level afterwards. */
object Session {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // events.ts is parquet TIMESTAMP(NANOS); see graft.Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // applied AT CONTEXT INIT (unlike a later setLogLevel, which only
    // takes effect once the session exists): kills the ~15 Executor/
    // BlockManager startup INFO lines that would otherwise share Bench's
    // bounded output tail with its JSON line
    .config("spark.log.level", "ERROR")
    .getOrCreate()
}
