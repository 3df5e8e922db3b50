package graft.streaming

import java.io.{File, IOException}
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

/** How a maintained table is published — the one module that knows it
  * ([[DeltaLogSink.maintain]] is its only streaming caller).
  *
  * A batch writes the new table to `<table>.tmp` and stamps it with an
  * empty `_applied.<batchId>` file; the stamp is created last, so a tmp
  * is complete exactly when it carries one. [[swap]] then moves the
  * live directory aside to `<table>.old`, moves tmp to live, and drops
  * `.old`: the live table is never deleted before its replacement is in
  * place. Each move is one directory rename (ATOMIC_MOVE where the
  * filesystem allows it; a plain move still throws on failure), and a
  * failed move restores `.old`, so a swap that cannot complete throws
  * with the previous table still live.
  *
  * A process death can stop the sequence between any two steps;
  * [[recover]], run at the start of every batch, finishes or undoes it.
  * The stamp lives inside the table because Spark's file listing skips
  * `_`-prefixed names, so views keep reading `spark.read.parquet(table)`.
  */
object GridSwap {

  private val Stamp = "_applied."

  /** Write `grid` as the next version of `table`, stamped `batchId`. */
  def publish(grid: DataFrame, table: String, batchId: Long): Unit = {
    val tmp = table + ".tmp"
    grid.write.mode("overwrite").parquet(tmp)
    Files.createFile(Paths.get(tmp, Stamp + batchId))
    swap(tmp, table)
  }

  def swap(tmp: String, table: String): Unit = {
    val (live, old) = (Paths.get(table), Paths.get(table + ".old"))
    if (Files.exists(live)) move(live, old)
    try move(Paths.get(tmp), live)
    catch {
      case e: IOException =>
        if (Files.exists(old)) move(old, live)
        throw e
    }
    FileUtils.deleteDirectory(old.toFile)
  }

  /** Bring `table` back to a published state after an interrupted
    * [[publish]]: a complete tmp replaces a missing live table, else
    * `.old` does; leftover tmp and `.old` are dropped. Returns the batch
    * id the live table was stamped with (-1 for a table written outside
    * this sink), or None when there is no table yet. */
  def recover(table: String): Option[Long] = {
    val (live, old, tmp) =
      (new File(table), new File(table + ".old"), new File(table + ".tmp"))
    if (!live.exists) {
      if (stamp(tmp).isDefined) move(tmp.toPath, live.toPath)
      else if (old.exists) move(old.toPath, live.toPath)
    }
    FileUtils.deleteDirectory(tmp)
    FileUtils.deleteDirectory(old)
    if (live.exists) Some(stamp(live).getOrElse(-1L)) else None
  }

  private def stamp(dir: File): Option[Long] =
    Option(dir.list()).toSeq.flatten
      .collectFirst { case n if n.startsWith(Stamp) => n.stripPrefix(Stamp).toLong }

  private def move(from: Path, to: Path): Unit =
    try Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: AtomicMoveNotSupportedException => Files.move(from, to)
    }
}
