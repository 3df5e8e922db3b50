package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the SPRT sequential experiment monitor (q267 /
  * SURVEY B227): sequential testing is the ONE experiment design whose
  * streaming form is the point — Wald's test exists so the verdict can
  * be read after every arrival, and a batch recompute per peek is
  * exactly the cost the design was invented to avoid. The twin maintains
  * the (event_type, day, n_d, x_d) trial grid incrementally (associative
  * sum-merge — batch order cannot change the converged grid) and the
  * verdict is NOT reimplemented: run `AuditOps.sprtFromDaily(grid)` —
  * the very closing pass batch q267 executes — after any micro-batch,
  * so stream ≡ batch holds by construction and StreamingSpec asserts
  * full-corpus equality. A monitoring deployment triggers the closing
  * pass per micro-batch and alarms on the first boundary crossing —
  * within one trigger of the evidence arriving, the property q267's
  * scaladoc claims for the design.
  *
  * 100 TB shape: each micro-batch shuffles only its own (type, day)
  * partial sums; the maintained state is the bounded type × day grid,
  * and the closing pass runs entirely on it. A sum-merge twin
  * ([[DeltaLogSink.maintain]]), like CusumStream.
  */
object SprtStream {

  /** Maintain `(event_type, day, n_d, x_d)` at `table` from a raw event
    * stream carrying `ts`, `event_type`, `value`. */
  def maintain(events: DataFrame, table: String): StreamingQuery =
    DeltaLogSink.maintain(events, table, Seq("event_type", "day"),
      Seq(sum("n_d").as("n_d"), sum("x_d").as("x_d")))(
      graft.operators.AuditOps.sprtDailyFrom)
}
