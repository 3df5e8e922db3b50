package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver passes exactly (sfDir, outDir); a third arg is a local-dev
    // name filter — comma-separated substrings, match-any — so iterating
    // on one query (or smoking a hand-picked heavy set at a big SF)
    // doesn't re-dump all.
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) {
        val subs = args(2).split(',').filter(_.nonEmpty)
        (n: String) => subs.exists(n.contains)
      } else (_: String) => true
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Every query that fails to EXECUTE must leave a machine-readable
    // record, not just a stderr line: a downstream report that only sees
    // the parquet dirs would otherwise silently omit the failures and
    // overstate coverage (the round-9 unix_micros regression hid exactly
    // this way). Collected here, written as errors.json below.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // same per-query isolation as Bench: 120+ queries in one JVM would
      // otherwise accumulate every persisted relation as resident blocks.
      // Caches.release() is the library-consumer hook (unpersists exactly
      // the engine's registered relations); the clearCache
      // keeps the harness's original belt-and-suspenders behavior.
      Caches.release()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when clean) so "no errors.json" can
    // never be confused with "errors not recorded".
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED to execute: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
