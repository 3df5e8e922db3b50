package graft

import org.apache.spark.sql.SparkSession

/** The engine's local Spark session, built one way for every entry point
  * (Bench, Verify, Explain, Time, Soak and the test suites): `cores`
  * worker threads and as many shuffle partitions, UTC session time, no
  * UI, and the RocksDB state store. Callers set their own log level
  * afterwards.
  *
  * Every keyed streaming operator in `graft.streaming` is a
  * `transformWithState` processor, which Spark runs only on the RocksDB
  * state store provider; it is also the store unbounded keyed state
  * (latest state over all documents, fingerprint indexes) needs. A
  * consumer that builds its own session must set
  * `spark.sql.streaming.stateStore.providerClass` to the same provider. */
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
    // a static conf: Spark's default keeps 100 generated classes, fewer
    // than one warm ingest pass compiles (~110, AQE included), so every
    // pass recompiled; `graft.Time` prints the compiles per run
    .config("spark.sql.codegen.cache.maxEntries", 1000L)
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()
}
