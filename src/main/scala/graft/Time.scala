package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev timing tool (sibling of [[Explain]]): run one or more registered
  * queries (comma-separated in args(0); optional sfDir in args(1)) with
  * one warm-up then min-of-3, printing seconds per query — the same
  * min-of-n convention Bench reports, without paying the whole suite to
  * A/B one rewrite. Each run is a `noop` write (every row built) followed
  * by a release, and also reports the Spark jobs it launched — eager
  * checkpoints and broadcasts included — so a job-chain rewrite shows as
  * a count, not only as seconds.
  */
object Time {
  def main(args: Array[String]): Unit = {
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def jobsSoFar(): Long = { ListenerDrain(spark.sparkContext); jobs.get }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    for (q <- args(0).split(",")) {
      def once(): (Double, Long) = {
        val j0 = jobsSoFar()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
        Caches.release(); spark.catalog.clearCache()
        val secs = (System.nanoTime() - t0) / 1e9
        (secs, jobsSoFar() - j0)
      }
      once() // warm-up
      val runs = (1 to 3).map(_ => once())
      val best = runs.map(_._1).min
      println(f"[time] $q%-28s $best%.3f s (min of 3, sf=$sfDir)  runs " +
        runs.map(r => f"${r._1}%.3f").mkString("/") + " s  jobs " + runs.map(_._2).mkString("/"))
    }
    spark.stop()
  }
}
