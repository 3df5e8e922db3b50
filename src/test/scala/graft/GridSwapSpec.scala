package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.streaming.GridSwap

/** Negative-path coverage for the shared sum-merge publish step
  * (VERDICT r16 task 7). The r15 advisor found every twin doing
  * `deleteDirectory(live); tmp.renameTo(live)` and DISCARDING
  * renameTo's boolean — a failed rename after the delete silently
  * reset the maintained grid to empty and the next micro-batch
  * rebuilt from nothing, breaking stream==batch with no error.
  * c3137fc centralized the swap in [[GridSwap]] with a throwing
  * `Files.move`; these tests pin the failure MODE: a swap that cannot
  * complete must surface as an exception (and, inside a streaming
  * twin's foreachBatch, as a failed StreamingQuery), never as a
  * silently-empty live table.
  */
class GridSwapSpec extends SparkSpec {

  test("failed swap throws instead of silently losing the grid") {
    val base = Files.createTempDirectory("gridswap").toString
    val live = s"$base/table"
    Files.createDirectories(Paths.get(live))
    Files.writeString(Paths.get(live, "part-0"), "grid-state")
    // tmp was never written (the exact sequencing a crashed/partial
    // micro-batch produces): the swap must throw, not return having
    // quietly produced an absent/empty live table for the next batch.
    val ex = intercept[java.nio.file.NoSuchFileException] {
      GridSwap.swap(s"$base/table.tmp", live)
    }
    assert(ex.getMessage.contains("table.tmp"))
    // and the failed swap left the previous table live, data intact
    assert(Files.readString(Paths.get(live, "part-0")) == "grid-state")
  }

  test("failed swap inside foreachBatch fails the StreamingQuery loudly") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("gridswap-stream").toString
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 3L)
    val q = ms.toDS.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], _: Long) =>
        batch.count() // drain the batch, then publish via the real swap
        GridSwap.swap(s"$base/never-written.tmp", s"$base/table")
      }
      .start()
    val ex = intercept[StreamingQueryException] { q.awaitTermination() }
    // the cause chain must carry the real filesystem error so the
    // archived driver log names the lost-publish, not a generic abort
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[java.nio.file.NoSuchFileException]),
      s"cause chain was: ${chain(ex).map(_.getClass.getName)}")
  }
}
