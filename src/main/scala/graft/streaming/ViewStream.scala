package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming twin of the incremental join-view maintenance (q226 /
  * SURVEY B186): the (custkey, seg) revenue view is maintained from a
  * live SIGNED fact-delta stream — the CDC-consumer posture of a real
  * warehouse: order inserts arrive as +1 rows, deletes as −1 rows, each
  * already joined to its dimension attributes (the FK-to-one join makes
  * Δγ(A⋈B) = γ(ΔA⋈B), so the stream carries delta⋈dim rows and the
  * standing corpus is never rescanned — q226's own algebra, applied per
  * micro-batch). Per-batch cost ∝ batch keys:
  *
  *  - View state lives keyed on custkey: `transformWithState` with one
  *    ValueState[(n, cents)] per key (IndexStream topology). A batch
  *    folds its per-key signed contributions locally, then does one
  *    state read + one write per touched key.
  *  - A key whose running n reaches 0 is RETRACTED: state cleared, a
  *    tombstone row emitted — the q226 `filter(n =!= 0)` as an event.
  *  - The sink is a per-epoch `batch=<id>` overwrite (ChunkStream's
  *    idempotent-retry discipline); the read view ([[readView]]) takes
  *    each key's LATEST epoch row and drops tombstones — replayed
  *    epochs rewrite identical partitions.
  *  - Dimension deltas (q226's segment moves) are deliberately OUT of
  *    the stream: reference-data changes arrive as batch refreshes, and
  *    the move is a broadcast re-keying of the READ VIEW (zero state
  *    churn) — exactly where q226 applies it.
  *
  * StreamingSpec streams the q226 fixture's adds and removes and
  * asserts the converged view equals the batch maintenance output at
  * (key, seg) grain.
  */
object ViewStream {

  case class ViewRow(k: Long, seg: String, n: Long, cents: Long, retract: Boolean)

  private implicit val rowEnc: Encoder[ViewRow] = Encoders.product[ViewRow]
  private implicit val stEnc: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  private implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val inEnc: Encoder[(Long, String, Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)

  /** Keyed signed merge: fold the batch's (sgn, sgn·cents) locally, apply
    * to state once, emit the key's new row (or a tombstone at n = 0). */
  class ViewProcessor
      extends StatefulProcessor[Long, (Long, String, Long, Long), ViewRow] {
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("view", stEnc, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String, Long, Long)],
        timers: TimerValues): Iterator[ViewRow] = {
      var dn = 0L; var dc = 0L; var seg = ""
      rows.foreach { r => seg = r._2; dn += r._4; dc += r._4 * r._3 }
      val (n0, c0) = if (st.exists()) st.get() else (0L, 0L)
      val (n1, c1) = (n0 + dn, c0 + dc)
      if (n1 == 0L) {
        st.clear()
        Iterator.single(ViewRow(key, seg, 0L, 0L, retract = true))
      } else {
        st.update((n1, c1))
        Iterator.single(ViewRow(key, seg, n1, c1, retract = false))
      }
    }
  }

  /** Maintain the view at `table` from a signed delta stream carrying
    * `o_custkey`, `seg`, `cents`, `sgn` (∈ {+1, −1}). */
  def maintain(deltas: DataFrame, table: String): StreamingQuery = {
    val grouped = deltas
      .select(col("o_custkey").cast("long"), col("seg"),
        col("cents").cast("long"), col("sgn").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
    DeltaLogSink.maintainKeyed(grouped, new ViewProcessor, table)(
      DeltaLogSink.epochOverwrite[ViewRow])
  }

  /** Current (k, seg, n, cents) view: each key's latest epoch row, minus
    * tombstones. */
  def readView(spark: SparkSession, table: String): DataFrame =
    DeltaLogSink.latestEpochView(spark, table, "k",
      Seq("seg", "n", "cents"), retractCol = Some("retract"))
}
