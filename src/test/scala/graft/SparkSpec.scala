package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites. One JVM-wide session (getOrCreate) keeps
  * the whole `sbt test` run on a single Spark context.
  *
  * Suite teardown clears the cache: the engine's persisted relations
  * (Dedup probes, Similarity.vecBase, …) are deliberately never
  * unpersisted inside a query, and Bench/Verify isolate per query with
  * clearCache() — without the same isolation here, the full `sbt test`
  * JVM accumulates resident MEMORY_AND_DISK blocks across ~20 suites,
  * the exact cross-query cache-pressure failure r5's bench exhibited.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  override def afterAll(): Unit = {
    try { graft.Caches.release(); spark.catalog.clearCache() }
    finally super.afterAll()
  }
  lazy val spark: SparkSession = Session(8)
  spark.sparkContext.setLogLevel("WARN")

  lazy val sf: String = "/root/testdata/sf0.001"
}
