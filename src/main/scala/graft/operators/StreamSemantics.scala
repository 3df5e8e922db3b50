package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch-equivalent forms of the reference's stream semantics
  * (SURVEY.md §2 A10 latest-state, A12 transition detection, A16 event-time
  * sequencing, A17 real-time analytics; §2B B25 tumbling/sliding windows,
  * B26 session windows, B27 watermark late-data drop, B12 approx distinct),
  * exercised over the driver's `events` table. The true Structured Streaming
  * forms of the same semantics live in `graft.streaming` and are verified by
  * ScalaTest against these batch forms.
  *
  * Scale notes (100 TB):
  *  - q26 latest-state uses `max_by` (partial aggregation — the shuffle
  *    carries one pre-reduced row per key per map partition), NOT a
  *    row_number window (which would shuffle+sort every raw event);
  *  - q28/q29 window bucketing is a per-row projection (`window()`), so the
  *    only shuffle is the final agg on (bucket, type) — exactly the
  *    streaming plan shape;
  *  - q30's watermark threshold is one scalar broadcast, not a join;
  *  - session/transition ops (q27/q31) genuinely need per-key time order —
  *    a single hash shuffle on user_id, then in-partition sort, matching
  *    what the `transformWithState` processors do in the streaming form.
  */
object StreamSemantics extends QueryPack {
  import Tables._

  // q26: latest-state materialization per key (A10 batch form). The
  // reference's "synchronize a foreign CMS" semantics: newest full-state
  // record per key wins (/root/reference/docs/user-guide.md:3,17,72).
  private def q26(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.event_id").as("event_id"),
        col("last.ts").as("ts"),
        col("last.event_type").as("event_type"),
        round(col("last.value"), 2).as("value"))
      .orderBy("user_id")

  private val q26Sql =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, round(value,2) AS value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // q27: gap-based sessionization (B26 batch form): a new session starts
  // when the gap to the previous event of the same user exceeds 30 minutes.
  // Epoch-microsecond arithmetic on both sides avoids sub-second truncation
  // disagreements with the oracle.
  private def q27(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) > 1800L * 1000000L, 1)
          .otherwise(when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("session_idx",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("t_start"),
        max(col("ts")).as("t_end"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  private val q27Sql =
    """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
      | CAST(min(ts) AS TIMESTAMP) AS t_start, CAST(max(ts) AS TIMESTAMP) AS t_end,
      | round(sum(value),2) AS sum_value
      |FROM (
      | SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      | FROM (
      |  SELECT *, CASE WHEN epoch_us(ts) - lag(epoch_us(ts),1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                      > 1800000000 THEN 1
      |            WHEN lag(epoch_us(ts),1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
      |            ELSE 0 END AS new_s
      |  FROM events))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  // q28: tumbling-window aggregation (B25/A17 batch form) — the reference's
  // "limited real-time analytics on publishing changes" shape
  // (/root/reference/docs/user-guide.md:3): counts per day per type.
  private def q28(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 day").getField("start").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(avg("value"), 4).as("avg_value"))
      .orderBy("day", "event_type")

  private val q28Sql =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n,
      | round(sum(value),2) AS sum_value, round(avg(value),4) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // q29: sliding-window aggregation (B25): 1-day windows sliding every 12 h —
  // every event lands in exactly two windows. Spark's window() emits the
  // per-row bucket expansion; the oracle reconstructs the same two
  // epoch-aligned starts arithmetically.
  private def q29(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 day", "12 hours").getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("win_start", "event_type")

  private val q29Sql =
    """SELECT CAST(to_timestamp(s) AS TIMESTAMP) AS win_start, event_type,
      | count(*) AS n, round(sum(value),2) AS sum_value
      |FROM (SELECT *, unnest([flr, flr - 43200]) AS s
      |      FROM (SELECT *, CAST(floor(epoch(ts)/43200)*43200 AS BIGINT) AS flr FROM events))
      |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // q30: watermark-equivalent late-data drop (B27 batch form): keep only
  // events within 7 days of the stream's max event time. The threshold is a
  // broadcast scalar — no shuffle of the fact side beyond the final agg.
  private def q30(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val maxTs = e.agg(max(unix_micros(col("ts"))).as("max_us"))
    e.crossJoin(broadcast(maxTs))
      .filter(unix_micros(col("ts")) >= col("max_us") - lit(7L * 86400L * 1000000L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("ts")).as("first_kept"),
        max(col("ts")).as("last_kept"))
      .orderBy("event_type")
  }

  private val q30Sql =
    """SELECT event_type, count(*) AS n_kept,
      | CAST(min(ts) AS TIMESTAMP) AS first_kept, CAST(max(ts) AS TIMESTAMP) AS last_kept
      |FROM events
      |WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events) - 7::BIGINT*86400*1000000
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // q31: per-key state-transition detection (A12 batch form — the
  // reference's publish/unpublish tracking shape,
  // /root/reference/docs/user-guide.md:141-143): count (prev → curr)
  // event-type transitions per user timeline.
  private def q31(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("prev_type", "event_type")
  }

  private val q31Sql =
    """SELECT prev_type, event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM (SELECT user_id, event_type,
      |        lag(event_type,1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |      FROM events)
      |WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type
      |ORDER BY prev_type, event_type""".stripMargin

  // q32: HyperLogLog approximate distinct (B12). The raw HLL estimate is
  // engine-specific (Spark's HLL++ vs DuckDB's HLL disagree by design), so
  // the hash-compared output carries the exact count plus the 5%-bound
  // VERDICT of the estimate — deterministic (Spark's sketch is hash-based
  // and merge-order-independent) and oracle-expressible as literal TRUE.
  // PipelineOpsSpec still exercises the estimate end-to-end.
  private def q32(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05).as("within_5pct"))
      .orderBy("event_type")

  private val q32Sql =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users, count(*) AS n,
      | TRUE AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q62: multiset (ALL) set operations — union/intersectAll/exceptAll
  // preserve duplicates (SURVEY B17's bag semantics half).
  private def q62(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val high = o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("k"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
    high.union(urgent).withColumn("src", lit("union_all"))
      .unionByName(high.intersectAll(urgent).withColumn("src", lit("intersect_all")))
      .unionByName(high.exceptAll(urgent).withColumn("src", lit("except_all")))
      .groupBy("src", "k").agg(count(lit(1)).as("n"))
      .orderBy("src", "k")
  }

  private val q62Sql =
    """WITH high AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000),
      |urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
      |tagged AS (
      | SELECT 'union_all' AS src, k FROM (SELECT k FROM high UNION ALL SELECT k FROM urgent)
      | UNION ALL
      | SELECT 'intersect_all' AS src, k FROM (SELECT k FROM high INTERSECT ALL SELECT k FROM urgent)
      | UNION ALL
      | SELECT 'except_all' AS src, k FROM (SELECT k FROM high EXCEPT ALL SELECT k FROM urgent))
      |SELECT src, k, count(*) AS n FROM tagged GROUP BY 1, 2 ORDER BY src, k""".stripMargin

  // q63: pivot — per-day event counts spread across one column per type
  // (explicit value list keeps the schema static and plannable).
  private def q63(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("day")

  private val q63Sql =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      | count(*) FILTER (WHERE event_type = 'view') AS "view",
      | count(*) FILTER (WHERE event_type = 'click') AS "click",
      | count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
      | count(*) FILTER (WHERE event_type = 'signup') AS "signup",
      | count(*) FILTER (WHERE event_type = 'error') AS "error"
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // q64: salted two-phase aggregation — the skew pattern from SCALE.md as
  // a runnable operator: hot keys are split across 16 salt buckets for the
  // partial phase, then combined. Result ≡ plain groupBy (the oracle), so
  // the rewrite is provably semantics-preserving.
  private def q64(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
      .groupBy(col("event_type"))
      .agg(sum("pn").as("n"), round(sum("pv"), 2).as("sum_value"))
      .orderBy("event_type")

  private val q64Sql =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** B26's STREAMING half: gap sessionization as a watermarked
    * `session_window` aggregation — the one Spark operator whose window
    * boundaries are data-driven (sessions merge as events arrive, state
    * closes when the watermark passes gap after the last event). Works on
    * a streaming frame (StreamingSpec drives it through writeStream and
    * proves convergence to this same function over the static frame); the
    * aggregation is partial (map-side session pre-merge) and the only
    * shuffle is on `user_id` — the identical plan shape at any scale.
    * Expects columns `(user_id, ts timestamp, value)`. */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("t_start"),
        col("session_window.end").as("t_end"),
        col("n_events"), col("sum_value"))
  }

  // q86: FUNNEL analysis — ordered event-path matching (view → click →
  // purchase, each step strictly after the previous, per user): the
  // sequential-pattern operator every product-analytics engine ships.
  // Three per-user aggregation passes, each shuffling on the SAME
  // user_id key (the exchanges reuse the partitioning); no window over
  // the raw event stream, no self-join pair blow-up — state per user is
  // three timestamps. Output is step counts (integers, engine-exact).
  private def q86(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    s1.agg(count(lit(1)).as("n_view"))
      .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(s3.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  private val q86Sql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
      |SELECT (SELECT count(*) FROM s1) AS n_view,
      |       (SELECT count(*) FROM s2) AS n_view_click,
      |       (SELECT count(*) FROM s3) AS n_view_click_purchase""".stripMargin

  // q87: RETENTION COHORTS — users grouped by first-activity week, counted
  // in each later week they return: the engagement matrix behind every
  // "retention curve". Week arithmetic is integer (epoch seconds div
  // 604800 against a fixed origin) so cohort and offset are engine-exact;
  // the whole query is two hash aggregations on user-grain keys — the
  // per-(user, week) distinct pre-aggregates map-side, and no window or
  // self-join touches the raw events.
  private def q87(s: SparkSession, d: String): DataFrame = {
    val epoch0 = 1704067200L // 2024-01-01 00:00:00 UTC
    // FLOOR division, not `div`: `div` truncates toward zero, so an event
    // before epoch0 (negative offset) would collide with week 0 on the
    // Spark side while DuckDB's `//` floors it to week -1. Subtracting the
    // (always non-negative) pmod makes the numerator an exact multiple, so
    // truncation equals floor for any sign.
    val uw = events(s, d)
      .withColumn("secs", expr(s"unix_timestamp(ts) - $epoch0"))
      .select(col("user_id"),
        expr("(secs - pmod(secs, 604800)) div 604800").as("wk"))
      .distinct()
    val cohorts = uw.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    uw.join(cohorts, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "offset_wk")
  }

  private val q87Sql =
    """WITH uw AS (SELECT DISTINCT user_id,
      |  CAST((CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) // 604800 AS BIGINT) AS wk
      | FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1)
      |SELECT cohort_wk, wk - cohort_wk AS offset_wk, count(DISTINCT uw.user_id) AS n_users
      |FROM uw JOIN c ON uw.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_wk, offset_wk""".stripMargin

  // q108: EXPAND-FREE multi-distinct — the two-stage rewrite of
  // `count(DISTINCT user_id), count(DISTINCT props), sum(...)` per
  // group. Spark's built-in plan for MULTIPLE distinct aggregates goes
  // through Expand: every input row is REPLICATED once per distinct
  // family before the first shuffle — at 100 TB that shuffle carries 2×
  // the corpus. (A single distinct column needs no Expand — Spark
  // already two-phases it — which is exactly why this operator exists
  // for the multi-distinct case.) The manual form runs one narrow
  // pre-aggregation per distinct column — each partial-agg'd, each
  // scanning ONLY its two columns off parquet — and joins the per-group
  // scalars at group granularity (5 rows here; group-cardinality-sized
  // generally, broadcast when small). Same answer, no row replication,
  // and each heavy shuffle keys on its HIGH-cardinality (group, value)
  // pair, so a hot group cannot skew a reducer (the q64 salting
  // rationale derived from key structure instead of a synthetic salt).
  // The value checksum uses floor(value·1000) BEFORE summing: integer
  // addition is associative, so engine summation order cannot move the
  // hash. AuditOpsSpec pins both claims: result ≡ built-in, and only
  // the built-in plan Expands.
  private def q108(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    // SQL semantics, made explicit in the rewrite: count(DISTINCT c)
    // IGNORES null c (so each distinct branch filters its key), while
    // sum(v) runs over ALL rows regardless of any key's nullness (so the
    // sum gets its own ungated branch and anchors the join — a group
    // whose keys are all null still reports n=0, not a dropped row).
    def distinctCount(key: String, as: String) = ev
      .select(col("event_type"), col(key))
      .filter(col(key).isNotNull)
      .distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as(as))
    val vals = ev
      .withColumn("vm", floor(col("value") * 1000).cast("long"))
      .groupBy("event_type")
      .agg(sum("vm").as("value_milli"))
    // <=> not = : GROUP BY treats NULL as a real group (count(DISTINCT c)
    // still counts that group's non-null c), so the join-back must match
    // the null group too — a null-unsafe key would coalesce its counts to
    // 0 and silently diverge from both the built-in aggregate and the
    // oracle (r7 ADVICE; fixture has no null event_type, so only a
    // non-fixture consumer would have hit it).
    vals.alias("v")
      .join(distinctCount("user_id", "n_users").alias("du"),
        col("v.event_type") <=> col("du.event_type"), "left")
      .join(distinctCount("props", "n_props").alias("dp"),
        col("v.event_type") <=> col("dp.event_type"), "left")
      .select(col("v.event_type").as("event_type"),
        coalesce(col("du.n_users"), lit(0L)).as("n_users"),
        coalesce(col("dp.n_props"), lit(0L)).as("n_props"),
        col("v.value_milli").as("value_milli"))
      .orderBy("event_type")
  }

  private val q108Sql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      | count(DISTINCT props) AS n_props,
      | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q109: FORWARD FILL (last observation carried forward) — sparse
  // sensor/metric densification: planted nulls (event_id % 3, the
  // deterministic-decoration precedent) are filled from the latest
  // preceding non-null value in the same user's (ts, event_id) order.
  // The window partitions by user_id — per-key frames, never a global
  // sort (the q77/q78 lesson); `last(v, ignoreNulls=true)` over
  // unbounded-preceding..current is Spark's native LOCF and DuckDB's
  // `last_value(v IGNORE NULLS)` is its exact twin. A user whose FIRST
  // events are null stays null (n_unfilled) — the honest report, not a
  // backfill. Checksum on floor(filled·1000) partials: integer-exact.
  private def q109(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("v",
        when(col("event_id") % 3 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy("event_type")
      .agg(
        sum(when(col("v").isNull && col("filled").isNotNull, 1L).otherwise(0L))
          .as("n_filled"),
        sum(when(col("filled").isNull, 1L).otherwise(0L)).as("n_unfilled"),
        sum(when(col("filled").isNotNull,
          floor(col("filled") * 1000).cast("long")).otherwise(0L))
          .as("checksum_milli"))
      .orderBy("event_type")
  }

  private val q109Sql =
    """WITH p AS (SELECT event_type, event_id, user_id, ts,
      |  CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v FROM events),
      |f AS (SELECT event_type, v,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      | FROM p)
      |SELECT event_type,
      | CAST(sum(CASE WHEN v IS NULL AND filled IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_filled,
      | CAST(sum(CASE WHEN filled IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unfilled,
      | CAST(sum(CASE WHEN filled IS NOT NULL
      |   THEN CAST(floor(filled * 1000) AS BIGINT) ELSE 0 END) AS BIGINT)
      |   AS checksum_milli
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // q114: ROLLING 7-DAY DISTINCT ACTIVES (trailing WAU) — the sliding-
  // window DISTINCT problem: a naive per-day self-join over a 7-day range
  // rescans the corpus once per window, and a sliding `window()` can
  // bucket but not DEDUPLICATE users across a window's days. The
  // scale-safe decomposition: (1) collapse the corpus to distinct
  // (day, user) pairs — partial-agg'd, the only pass over raw events;
  // (2) explode each pair to the ≤ 7 window-end days it contributes to —
  // a BOUNDED ×7 generator on the already-collapsed pairs, not the
  // corpus; (3) distinct again on (window_end, user) — a user active on
  // 5 days of one window still counts once — and count per window end.
  // Every shuffle keys on a high-cardinality (day, user) pair; nothing
  // ever holds a per-window user set in memory (the q107 no-unbounded-
  // collect rule). Restricted to `purchase` so the trailing count
  // actually moves (every user fires SOME event daily in the fixture).
  // Window ends are kept to days present in the data — the report spans
  // observed time, not 6 phantom days past the horizon.
  private def q114(s: SparkSession, d: String): DataFrame = {
    val du = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"),
        col("user_id"))
      .distinct()
    val windows = du
      .select(explode(expr("sequence(day, day + 6)")).as("window_end"), col("user_id"))
      .distinct()
    // broadcast the PRESENT-DAYS side explicitly: it is calendar-bounded
    // (≤ a few thousand rows at any corpus size), while `windows` is
    // (days × users)-sized — without the hint, local stats broadcast the
    // wrong (unbounded) side
    windows
      .join(broadcast(du.select("day").distinct()), col("window_end") === col("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("day")
  }

  private val q114Sql =
    """WITH du AS (SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |  user_id FROM events WHERE event_type = 'purchase'),
      |tgt AS (SELECT DISTINCT day + o AS window_end, user_id
      |        FROM du, unnest(range(0, 7)) AS t(o)),
      |present AS (SELECT DISTINCT day FROM du)
      |SELECT p.day, CAST(count(*) AS BIGINT) AS n_active
      |FROM tgt JOIN present p ON tgt.window_end = p.day
      |GROUP BY p.day ORDER BY p.day""".stripMargin

  // q124: CONVERSION LATENCY — the funnel's missing axis: q86 counts who
  // converts, this measures HOW LONG conversion takes (first view →
  // first purchase per user), reported as exact quartiles of the gap in
  // whole seconds. Shape: ONE user-keyed aggregation pass (two
  // conditional min's — no self-join of the event stream, no window),
  // then a global percentile over the per-user gaps — the reduced
  // relation is one row per converting user, orders of magnitude
  // smaller than the event stream, and exact percentiles at that grain
  // are the q13 precedent (at 100 TB swap in approx_percentile exactly
  // as q76 certifies). Gap in integer seconds via unix_micros div — the
  // sub-second truncation rule both engines share (q27 precedent).
  /** The per-converting-user gap relation q124 aggregates — exposed so
    * StreamingSpec can prove MetricStream.conversions (the fMGWS
    * streaming twin) converges to exactly this set. */
  private[graft] def q124Gaps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      .filter(col("t_view").isNotNull && col("t_buy").isNotNull &&
        col("t_buy") >= col("t_view"))
      .withColumn("gap_s",
        expr("(unix_micros(t_buy) - unix_micros(t_view)) div 1000000"))

  private def q124(s: SparkSession, d: String): DataFrame =
    q124Gaps(s, d)
      .agg(
        count(lit(1)).as("n_converted"),
        round(expr("percentile(gap_s, 0.25)"), 2).as("p25_s"),
        round(expr("percentile(gap_s, 0.50)"), 2).as("p50_s"),
        round(expr("percentile(gap_s, 0.75)"), 2).as("p75_s"),
        max("gap_s").as("max_s"))

  private val q124Sql =
    """WITH f AS (SELECT user_id,
      |  min(CASE WHEN event_type='view' THEN ts END) AS t_view,
      |  min(CASE WHEN event_type='purchase' THEN ts END) AS t_buy
      | FROM events GROUP BY 1),
      |g AS (SELECT (epoch_us(t_buy) - epoch_us(t_view)) // 1000000 AS gap_s
      | FROM f WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view)
      |SELECT CAST(count(*) AS BIGINT) AS n_converted,
      | round(quantile_cont(gap_s, 0.25), 2) AS p25_s,
      | round(quantile_cont(gap_s, 0.50), 2) AS p50_s,
      | round(quantile_cont(gap_s, 0.75), 2) AS p75_s,
      | CAST(max(gap_s) AS BIGINT) AS max_s
      |FROM g""".stripMargin

  // q125: DAY-OF-WEEK SEASONALITY DRIFT — the temporal twin of q121's
  // stratum drift: how far each event type's day-of-week profile sits
  // from uniform, as the cross-multiplied integer L1 Σ_dow |7·n_td −
  // n_t| (0 = perfectly uniform, 12·n_t = all mass on one day). A
  // scheduling change, bot burst, or ingestion gap shows up here before
  // any absolute-volume alarm fires. Day-of-week by EPOCH arithmetic
  // ((epochday + 4) mod 7, 0 = Sunday) — zone-free on both engines (the
  // MetricStream lesson); the 7-day grid is densified from a generator
  // so an empty weekday still contributes its |7·0 − n_t| term. Cost:
  // one partial-agg'd pass to the (type × ≤7) grid; everything after is
  // arithmetic on that metadata-sized frame.
  private def q125(s: SparkSession, d: String): DataFrame = {
    // persisted (the q110 one-scan lesson): b feeds both the per-type
    // totals and the join side — uncached, each lineage re-scans the
    // event table; cached, the corpus is read ONCE and everything after
    // runs on the (types × ≤7)-row grid
    val b = graft.Caches.persist(events(s, d)
      .withColumn("dow",
        (floor(unix_timestamp(col("ts")) / 86400).cast("long") + 4) % 7)
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n")))
    val t = b.groupBy("event_type").agg(sum("n").as("nt"))
    t.select(col("event_type"), col("nt"),
        explode(expr("sequence(0L, 6L)")).as("dow"))
      .join(b, Seq("event_type", "dow"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy("event_type")
      .agg(min("nt").as("n_events"),
        sum(abs(lit(7L) * col("n") - col("nt"))).as("dow_l1x7"))
      .orderBy("event_type")
  }

  private val q125Sql =
    """WITH b AS (SELECT event_type,
      |  (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
      |  count(*) AS n FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, sum(n) AS nt FROM b GROUP BY 1),
      |g AS (SELECT t.event_type, t.nt, r.range AS dow FROM t CROSS JOIN range(7) r)
      |SELECT g.event_type, CAST(min(g.nt) AS BIGINT) AS n_events,
      | CAST(sum(abs(7 * coalesce(b.n, 0) - g.nt)) AS BIGINT) AS dow_l1x7
      |FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.dow = b.dow
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q130: BEHAVIORAL CENTRALITY — integer-exact PageRank over the user-
  // journey transition graph. The distributed work is the graph
  // EXTRACTION: one lead() pass per user (the q31 transition machinery)
  // reduces the event log to a (src → dst, weight) edge list whose size
  // is bounded by |event_type|² — metadata, not data. The 2 fixed
  // power-iteration rounds then run as joins on that tiny frame (the
  // q125 shape: corpus-sized scan once, arithmetic on metadata after).
  // Exactness: ranks are scaled integers (S = 1e12), transition
  // probabilities are pre-normalized integers p = (w·1e6) div wout —
  // which also caps every product at rank·p ≤ 1e12·1e6 = 1e18 < Long.Max
  // REGARDLESS of corpus size (raw rank·w would overflow past ~1e6
  // events per edge) — and damping 0.85 is the integer pair (85, 100).
  // Every division truncates identically on both engines; dangling-node
  // mass is dropped (standard simplification), absent incoming edges
  // coalesce to 0. Fixed iteration count keeps lineage bounded (the q126
  // precedent; contrast q73's data-dependent CC loop).
  /** The 2-iteration integer power iteration over an explicit weighted
    * edge list `(src, dst, ew)` and node set `(node)` — shared by batch
    * q130 (edges from one lead() pass) and the streaming twin
    * (streaming.EdgeStream maintains the same edge counts per
    * micro-batch; StreamingSpec proves rank equality). */
  private[graft] def rankFromEdges(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val outw = edges.groupBy("src").agg(sum("ew").as("wout"))
    val p = graft.Caches.pin(edges.join(outw, "src")
      .select(col("src"), col("dst"), expr("(ew * 1000000) div wout").as("p")))
    val nn = graft.Caches.pin(
      nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n")))))
    def iter(r: DataFrame): DataFrame = {
      val contrib = p.join(r.select(col("node").as("src"), col("rank")), "src")
        .withColumn("c", expr("(rank * p) div 1000000"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("contrib"))
      nn.join(contrib, Seq("node"), "left")
        .withColumn("rank",
          expr("(15 * (1000000000000 div n)) div 100 + (85 * coalesce(contrib, 0L)) div 100"))
        .select("node", "n", "rank")
    }
    val r0 = nn.withColumn("rank", expr("1000000000000 div n"))
    iter(iter(r0))
      .select(col("node").as("event_type"), col("rank"))
  }

  private def q130(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "ts", "event_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val edges = ev.withColumn("dst", lead("event_type", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("ew"))
    val nodes = ev.select(col("event_type").as("node")).distinct()
    rankFromEdges(edges, nodes).orderBy("event_type")
  }

  private val q130Sql =
    """WITH tr AS (SELECT event_type AS src,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      | FROM events),
      |edges AS (SELECT src, dst, count(*) AS ew FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
      |outw AS (SELECT src, sum(ew) AS wout FROM edges GROUP BY 1),
      |p AS (SELECT src, dst, (ew * 1000000) // wout AS p FROM edges JOIN outw USING (src)),
      |nodes AS (SELECT DISTINCT event_type AS node FROM events),
      |nn AS (SELECT node, (SELECT count(*) FROM nodes) AS n FROM nodes),
      |r0 AS (SELECT node, n, 1000000000000 // n AS rank FROM nn),
      |c1 AS (SELECT dst AS node, sum((r0.rank * p.p) // 1000000) AS contrib
      | FROM p JOIN r0 ON r0.node = p.src GROUP BY 1),
      |r1 AS (SELECT nn.node, nn.n,
      |  (15 * (1000000000000 // nn.n)) // 100 + (85 * coalesce(c1.contrib, 0)) // 100 AS rank
      | FROM nn LEFT JOIN c1 USING (node)),
      |c2 AS (SELECT dst AS node, sum((r1.rank * p.p) // 1000000) AS contrib
      | FROM p JOIN r1 ON r1.node = p.src GROUP BY 1),
      |r2 AS (SELECT nn.node, nn.n,
      |  (15 * (1000000000000 // nn.n)) // 100 + (85 * coalesce(c2.contrib, 0)) // 100 AS rank
      | FROM nn LEFT JOIN c2 USING (node))
      |SELECT node AS event_type, CAST(rank AS BIGINT) AS rank FROM r2
      |ORDER BY event_type""".stripMargin

  // q142: JOURNEY PATH MINING — the sequence-level complement of q130:
  // PageRank scores node importance from 1-step transitions; this mines
  // the top 3-step PATHS (the funnel-discovery primitive — "which
  // concrete journeys dominate", feeding funnel definitions like q86's
  // instead of assuming them). One user-partitioned window pass extracts
  // both lookaheads (the SAME shuffle q130's single lead pays — Spark
  // computes lead(1) and lead(2) in one window frame), then the path key
  // shuffle is Zipf-small (≤ |types|³ keys) and the top-32 fuses to
  // TakeOrderedAndProject. n_users (distinct) rides the same aggregate.
  // Ties on count break lexicographically by path — deterministic.
  private def q142(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d).select("user_id", "ts", "event_id", "event_type")
      .withColumn("s2", lead("event_type", 1).over(w))
      .withColumn("s3", lead("event_type", 2).over(w))
      .filter(col("s3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n_paths"), col("s1"), col("s2"), col("s3"))
      .limit(32)
  }

  private val q142Sql =
    """WITH p AS (SELECT user_id, event_type AS s1,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
      |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
      | FROM events)
      |SELECT s1, s2, s3, count(*) AS n_paths,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM p WHERE s3 IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY n_paths DESC, s1, s2, s3 LIMIT 32""".stripMargin

  // q147: CHURN HAZARD TABLE — discrete-time survival analysis over the
  // event log, the retention family's missing statistical form: q87
  // counts cohort survivors, this estimates the hazard — P(churn at
  // lifetime day d | survived to d) — with right-censoring handled the
  // way a longitudinal analysis must (users still active in the final 7
  // days are censored, not churned; a naive "lifetime histogram" would
  // systematically overstate churn near the window edge). Everything
  // reduces at user grain in ONE aggregation pass (first/last epoch-day,
  // the q114 UTC-free floor(unix_timestamp/86400) idiom); the corpus
  // last day rides the broadcast crossJoin; the dense duration grid and
  // the reverse-cumulative n_at_risk live entirely at GRID grain —
  // bounded by the observation window in days, never by users or events
  // — so the single-partition window (q77 pmod idiom) is by choice.
  // Hazard in integer bp; n_at_risk ≥ 1 on every grid row by
  // construction (the max-duration user is at risk everywhere).
  /** The hazard derivation over a `(user_id, f, l)` first/last-day table —
    * shared verbatim by batch q147 and the streaming twin
    * (`streaming/LifetimeStream` maintains the table incrementally via the
    * associative min/max merge and runs THIS function on it, so stream ≡
    * batch is exact by construction). The corpus last day is max(l) —
    * a pure function of the table. */
  private[graft] def hazardFromLifetimes(users: DataFrame): DataFrame = {
    val u = users.crossJoin(broadcast(users.agg(max("l").as("corpus_last"))))
      .withColumn("duration", col("l") - col("f"))
      .withColumn("censored", (col("corpus_last") - col("l")) < 7)
    val perD = u.groupBy("duration").agg(
      sum(when(col("censored"), 0L).otherwise(1L)).as("n_churned"),
      sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val grid = u.agg(max("duration").as("md"))
      .select(explode(expr("sequence(0L, md)")).as("duration"))
    val w = Window.partitionBy(pmod(col("duration"), lit(1L)))
      .orderBy(desc("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perD, Seq("duration"), "left")
      .na.fill(0L, Seq("n_churned", "n_censored"))
      .withColumn("n_at_risk", sum(col("n_churned") + col("n_censored")).over(w))
      .withColumn("hazard_bp", expr("(n_churned * 10000) div n_at_risk"))
      .select("duration", "n_at_risk", "n_churned", "n_censored", "hazard_bp")
      .orderBy("duration")
  }

  private def q147(s: SparkSession, d: String): DataFrame =
    hazardFromLifetimes(events(s, d)
      .select(col("user_id"), expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("day"))
      .groupBy("user_id").agg(min("day").as("f"), max("day").as("l")))

  private val q147Sql =
    """WITH e AS (SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events),
      |u0 AS (SELECT user_id, min(day) AS f, max(day) AS l FROM e GROUP BY 1),
      |cl AS (SELECT max(day) AS corpus_last FROM e),
      |u AS (SELECT user_id, l - f AS duration,
      |   (corpus_last - l) < 7 AS censored FROM u0 CROSS JOIN cl),
      |pd AS (SELECT duration,
      |   CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_churned,
      |   CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
      |  FROM u GROUP BY 1),
      |g AS (SELECT unnest(range(0, (SELECT max(duration) FROM u) + 1)) AS duration),
      |j AS (SELECT g.duration AS duration, coalesce(n_churned, 0) AS n_churned,
      |   coalesce(n_censored, 0) AS n_censored
      |  FROM g LEFT JOIN pd USING (duration)),
      |r AS (SELECT *, CAST(sum(n_churned + n_censored)
      |   OVER (ORDER BY duration DESC) AS BIGINT) AS n_at_risk FROM j)
      |SELECT CAST(duration AS BIGINT) AS duration, n_at_risk, n_churned, n_censored,
      | (n_churned * 10000) // n_at_risk AS hazard_bp
      |FROM r ORDER BY duration""".stripMargin

  // q156: TIME-CONSTRAINED FUNNEL — q86 counts who ever completes the
  // steps; this requires each hop to land within ONE HOUR of the prior
  // step (view → click ≤ 1h → purchase ≤ 1h), the form a conversion SLA
  // is actually written in. Exact without a self-join of the event
  // stream against itself: two stacked RANGE windows over epoch seconds
  // (-3600 to -1, strict — same-second ties never self-satisfy) on ONE
  // user-keyed shuffle: the first marks events preceded by a view
  // within the hour, the second marks purchases preceded by such a
  // TIMELY click — the click's own qualification composes through the
  // window stack, so the three-step chain needs no 3-way join. Output is
  // three distinct-user stage counts: monotone non-increasing by
  // construction, asserted in the spec.
  private def q156(s: SparkSession, d: String): DataFrame = {
    val wv = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600L, -1L)
    events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("CAST(unix_timestamp(ts) AS BIGINT)").as("sec"))
      .withColumn("had_view",
        max(when(col("event_type") === "view", 1L)).over(wv))
      .withColumn("is_tclick",
        when(col("event_type") === "click" && col("had_view") === 1L, 1L).otherwise(0L))
      .withColumn("had_tclick", max(col("is_tclick")).over(wv))
      .agg(
        countDistinct(when(col("event_type") === "view", col("user_id"))).as("n_view_users"),
        countDistinct(when(col("is_tclick") === 1L, col("user_id"))).as("n_timely_click_users"),
        countDistinct(when(col("event_type") === "purchase" && col("had_tclick") === 1L,
          col("user_id"))).as("n_timely_purchase_users"))
  }

  private val q156Sql =
    """WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |v AS (SELECT *, max(CASE WHEN event_type = 'view' THEN 1 END)
      |   OVER (PARTITION BY user_id ORDER BY sec
      |         RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS had_view
      |  FROM e),
      |c AS (SELECT *, CASE WHEN event_type = 'click' AND had_view = 1
      |     THEN 1 ELSE 0 END AS is_tclick FROM v),
      |p AS (SELECT *, max(is_tclick)
      |   OVER (PARTITION BY user_id ORDER BY sec
      |         RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS had_tclick
      |  FROM c)
      |SELECT CAST(count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT)
      |   AS n_view_users,
      | CAST(count(DISTINCT CASE WHEN is_tclick = 1 THEN user_id END) AS BIGINT)
      |   AS n_timely_click_users,
      | CAST(count(DISTINCT CASE WHEN event_type = 'purchase' AND had_tclick = 1
      |   THEN user_id END) AS BIGINT) AS n_timely_purchase_users
      |FROM p""".stripMargin

  // q157: LEADERBOARD RANK CHURN — trend detection at the grain a
  // dashboard actually shows: each day's event-type leaderboard (rank by
  // volume) compared to yesterday's, emitting the rank delta and total
  // churn per day. The stream collapses to the (day, type) grid in one
  // partial-agg'd count; BOTH windows then run over that grid — rank
  // partitions by day (≤ |types| rows), the day-over-day lag partitions
  // by type (≤ window days) — so no window ever sees an event row. A
  // type absent yesterday gets prev_rank 0 (a new entrant, its |delta|
  // counts its full rank), keeping the output null-free for the hash.
  /** q157's churn report over a feed-day grid (ScaleOps.feedDayGrid /
    * GridStream's maintained table — shared with q151's freshness). */
  private[graft] def churnFromGrid(grid: DataFrame): DataFrame = {
    val wr = Window.partitionBy("day").orderBy(desc("n"), col("event_type"))
    val wl = Window.partitionBy("event_type").orderBy("day")
    grid
      .withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("prev_day", lag("day", 1).over(wl))
      .withColumn("prev_rank",
        when(col("prev_day") === col("day") - 1, lag("rank", 1).over(wl)).otherwise(0L))
      .withColumn("rank_delta", abs(col("rank") - col("prev_rank")))
      .select("day", "event_type", "n", "rank", "prev_rank", "rank_delta")
      .orderBy("day", "rank")
  }

  private def q157(s: SparkSession, d: String): DataFrame =
    churnFromGrid(ScaleOps.feedDayGrid(s, d))

  private val q157Sql =
    """WITH g AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, event_type,
      |   count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS BIGINT) AS rank
      |  FROM g),
      |l AS (SELECT *, lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
      |   lag(rank) OVER (PARTITION BY event_type ORDER BY day) AS lrank
      |  FROM r),
      |p AS (SELECT day, event_type, n, rank,
      |   CASE WHEN prev_day = day - 1 THEN lrank ELSE 0 END AS prev_rank FROM l)
      |SELECT day, event_type, n, rank, prev_rank, abs(rank - prev_rank) AS rank_delta
      |FROM p ORDER BY day, rank""".stripMargin

  // q158: RECENCY-WEIGHTED ENGAGEMENT — the scoring rule behind "active
  // value" metrics: an event's contribution halves every 7 days of age,
  // implemented EXACTLY in integers — weight divisor 2^(age div 7) via a
  // bit shift, value scaled to milli before the truncating div — so the
  // decayed score is reproducible bit-for-bit on any partitioning and in
  // both engines (a float exp() form would hash-diverge). The exponent is
  // clamped to 62: beyond ~62 weeks the milli-scaled weight is already 0,
  // and an unclamped shift is engine-divergent (Java wraps shifts mod 64,
  // DuckDB throws Out of Range at << 63) — the clamp keeps the "any feed
  // horizon, any engine" contract honest. One user-keyed aggregation over
  // row-local projections; the corpus clock rides the broadcast
  // crossJoin; top-20 head fuses to TakeOrderedAndProject.
  private def q158(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("value"),
      expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("day"))
    ev.crossJoin(broadcast(ev.agg(max("day").as("ref"))))
      .withColumn("w_milli",
        expr("CAST(floor(value * 1000) AS BIGINT) div shiftleft(1L, CAST(least((ref - day) div 7, 62) AS INT))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("w_milli").as("score_milli"))
      .orderBy(desc("score_milli"), col("user_id"))
      .limit(20)
  }

  private val q158Sql =
    """WITH e AS (SELECT user_id, value, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      |  FROM events),
      |r AS (SELECT max(day) AS ref FROM e),
      |w AS (SELECT user_id,
      |   CAST(floor(value * 1000) AS BIGINT) // (CAST(1 AS BIGINT) << CAST(least((ref - day) // 7, 62) AS INT)) AS w_milli
      |  FROM e CROSS JOIN r)
      |SELECT user_id, count(*) AS n_events, CAST(sum(w_milli) AS BIGINT) AS score_milli
      |FROM w GROUP BY 1 ORDER BY score_milli DESC, user_id LIMIT 20""".stripMargin

  // q166: EVENT-TIME DISORDER AUDIT — the measurement BEHIND B27's
  // watermark: `withWatermark("ts", delay)` is a guess unless something
  // measures how out-of-order the feed actually arrives. Per feed, using
  // the ingest sequence (event_id) as arrival order: how many events
  // arrive with an event time BEHIND the high-water mark, by how much at
  // worst, and what delay would have admitted 95% of the stragglers —
  // the number an operator types into the watermark. The running hwm is
  // the scale problem: a per-feed window over raw events is a
  // single-task sort per feed at 100 TB. Runs-compose trick (q78/q165):
  // per 8192-id block, the block max and a BLOCK-BOUNDED running max;
  // the cross-block prefix max runs on the block GRID (8192× smaller,
  // metadata-scale), and each row's hwm = max(prior-blocks prefix,
  // within-block running max). Epochs are µs integers throughout; the
  // p95 pick is rank-based ((n*95+99) div 100 — no float quantile), on
  // the LATE subset only (the audit's premise: stragglers ≪ feed; a
  // feed where most events are late has no usable watermark to tune).
  /** Shared lag frame for the q166/q170 watermark pair: per event, how
    * far behind its feed's arrival-order high-water mark its event time
    * sits (`(event_type, event_id, lag_us)`), via the two-phase block
    * decomposition described at [[q166]]. Persisted — q166 reads it three
    * times, and a session running both audits reuses one materialization. */
  private def arrivalLags(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("b", expr("event_id div 8192"))
    val bmax = e.groupBy("event_type", "b").agg(max("us").as("bm"))
    val wb = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bpre = bmax.withColumn("pm", coalesce(max("bm").over(wb), lit(-1L)))
      .select("event_type", "b", "pm")
    val ww = Window.partitionBy("event_type", "b").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lagged = e.join(bpre, Seq("event_type", "b"))
      .withColumn("hwm", greatest(col("pm"), coalesce(max("us").over(ww), lit(-1L))))
      .withColumn("lag_us",
        when(col("hwm") > col("us"), col("hwm") - col("us")).otherwise(0L))
      .select("event_type", "event_id", "lag_us")
    graft.Caches.persist(lagged)
  }

  private def q166(s: SparkSession, d: String): DataFrame = {
    val lagged = arrivalLags(s, d)
    val tot = lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), max("lag_us").as("mx"))
    val late = lagged.filter(col("lag_us") > 0)
    val nl = late.groupBy("event_type").agg(count(lit(1)).as("n_late"))
    val wr = Window.partitionBy("event_type").orderBy(col("lag_us"), col("event_id"))
    val p95 = late.withColumn("rn", row_number().over(wr))
      .join(nl, "event_type")
      .filter(col("rn") === expr("(n_late * 95 + 99) div 100"))
      .select(col("event_type"), col("lag_us").as("p95_us"))
    tot.join(nl, Seq("event_type"), "left").join(p95, Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        expr("coalesce(n_late, 0L) * 1000000 div n_events").as("late_ppm"),
        expr("mx div 1000").as("max_lag_ms"),
        expr("coalesce(p95_us, 0L) div 1000").as("p95_lag_ms"))
      .orderBy("event_type")
  }

  private val q166Sql =
    """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
      |   event_id // 8192 AS b FROM events),
      |bm AS (SELECT event_type, b, max(us) AS bm FROM e GROUP BY 1, 2),
      |bp AS (SELECT event_type, b, coalesce(max(bm) OVER (PARTITION BY event_type
      |   ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS pm
      |  FROM bm),
      |h AS (SELECT e.event_type, e.event_id, e.us,
      |   greatest(bp.pm, coalesce(max(e.us) OVER (PARTITION BY e.event_type, e.b
      |     ORDER BY e.event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)) AS hwm
      |  FROM e JOIN bp USING (event_type, b)),
      |l AS (SELECT event_type, event_id,
      |   CASE WHEN hwm > us THEN hwm - us ELSE 0 END AS lag_us FROM h),
      |tot AS (SELECT event_type, count(*) AS n_events, max(lag_us) AS mx
      |  FROM l GROUP BY 1),
      |late AS (SELECT event_type, event_id, lag_us,
      |   row_number() OVER (PARTITION BY event_type ORDER BY lag_us, event_id) AS rn
      |  FROM l WHERE lag_us > 0),
      |nl AS (SELECT event_type, count(*) AS n_late FROM late GROUP BY 1),
      |p95 AS (SELECT late.event_type, lag_us AS p95_us
      |  FROM late JOIN nl USING (event_type)
      |  WHERE rn = (n_late * 95 + 99) // 100)
      |SELECT t.event_type, CAST(t.n_events AS BIGINT) AS n_events,
      | CAST(coalesce(n.n_late, 0) AS BIGINT) AS n_late,
      | CAST(coalesce(n.n_late, 0) * 1000000 // t.n_events AS BIGINT) AS late_ppm,
      | CAST(t.mx // 1000 AS BIGINT) AS max_lag_ms,
      | CAST(coalesce(p.p95_us, 0) // 1000 AS BIGINT) AS p95_lag_ms
      |FROM tot t LEFT JOIN nl n USING (event_type) LEFT JOIN p95 p USING (event_type)
      |ORDER BY event_type""".stripMargin

  // q170: WATERMARK-COMPLETENESS TRADEOFF — q166 measures disorder,
  // this DECIDES on it (the measure→plan pairing q138 set for skew):
  // for each candidate watermark delay on the 1/5/15/60-minute grid,
  // exactly how many events per feed would arrive behind the mark and
  // be dropped. An event with arrival lag L survives delay t iff L ≤ t,
  // so the whole curve is four conditional sums over the SAME persisted
  // lag frame q166 built — running both audits costs one materialization
  // — unpivoted per feed from the 1-row-per-feed aggregate (the q168
  // curve idiom, keyed). The operator's reading: pick the smallest
  // delay whose dropped_ppm meets the SLA, then type it into
  // withWatermark — q166's p95 says what's typical, this says what any
  // specific choice costs.
  private def q170(s: SparkSession, d: String): DataFrame = {
    val mins = Seq(1L, 5L, 15L, 60L)
    val aggd = arrivalLags(s, d).groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      mins.map(m => sum(when(col("lag_us") > m * 60L * 1000000L, 1L).otherwise(0L))
        .as(s"d$m")): _*)
    aggd.select(col("event_type"), explode(array(mins.map(m => struct(
        lit(m).as("delay_min"),
        col(s"d$m").as("n_dropped"),
        expr(s"d$m * 1000000 div n_events").as("dropped_ppm"))): _*)).as("row"))
      .select(col("event_type"), col("row.delay_min"), col("row.n_dropped"),
        col("row.dropped_ppm"))
      .orderBy("event_type", "delay_min")
  }

  private val q170Sql =
    """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
      |   event_id // 8192 AS b FROM events),
      |bm AS (SELECT event_type, b, max(us) AS bm FROM e GROUP BY 1, 2),
      |bp AS (SELECT event_type, b, coalesce(max(bm) OVER (PARTITION BY event_type
      |   ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS pm
      |  FROM bm),
      |l AS (SELECT e.event_type,
      |   CASE WHEN greatest(bp.pm, coalesce(max(e.us) OVER (PARTITION BY e.event_type,
      |     e.b ORDER BY e.event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1))
      |     > e.us
      |   THEN greatest(bp.pm, coalesce(max(e.us) OVER (PARTITION BY e.event_type, e.b
      |     ORDER BY e.event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)) - e.us
      |   ELSE 0 END AS lag_us
      |  FROM e JOIN bp USING (event_type, b)),
      |a AS (SELECT event_type, count(*) AS n_events,
      |   sum(CASE WHEN lag_us > 1::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS d1,
      |   sum(CASE WHEN lag_us > 5::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS d5,
      |   sum(CASE WHEN lag_us > 15::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS d15,
      |   sum(CASE WHEN lag_us > 60::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS d60
      |  FROM l GROUP BY 1)
      |SELECT event_type, CAST(t.delay_min AS BIGINT) AS delay_min,
      | CAST(t.nd AS BIGINT) AS n_dropped,
      | CAST(t.nd * 1000000 // a.n_events AS BIGINT) AS dropped_ppm
      |FROM a CROSS JOIN LATERAL (VALUES (1, d1), (5, d5), (15, d15), (60, d60))
      |  AS t(delay_min, nd)
      |ORDER BY event_type, delay_min""".stripMargin

  // q168: SESSION-GAP CALIBRATION — the parameter-tuning companion to
  // q27 (which sessionizes at ONE 30-minute gap) in the q140/q166 audit
  // family (calibrate the knob, don't guess it): total session count as
  // a function of the inactivity threshold, for the 5/30/60/120-minute
  // grid, in ONE pass. The identity that makes it one pass: sessions(t)
  // = n_users + |gaps > t| — a session boundary IS an inter-event gap
  // above t, so the whole curve falls out of one user-keyed lag window
  // (q27's exact shuffle) followed by four conditional sums in a single
  // partial-agg'd aggregate. The 4-row curve is unpivoted from the
  // 1-row aggregate via an inline array — no per-threshold re-scan, no
  // gap-row × threshold explosion through the shuffle.
  private def q168(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gaps = events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
    val mins = Seq(5L, 30L, 60L, 120L)
    val aggd = gaps.agg(
      countDistinct("user_id").as("n_users"),
      mins.map(m => sum(when(col("gap_us") > m * 60L * 1000000L, 1L).otherwise(0L))
        .as(s"over$m")): _*)
    aggd.select(explode(array(mins.map(m => struct(
        lit(m).as("threshold_min"),
        col(s"over$m").as("n_gaps_over"),
        (col("n_users") + col(s"over$m")).as("n_sessions"),
        expr(s"(n_users + over$m) * 1000 div n_users").as("sessions_per_user_milli"))): _*))
        .as("row"))
      .select("row.*")
      .orderBy("threshold_min")
  }

  private val q168Sql =
    """WITH g AS (SELECT user_id,
      |   epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |     ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events),
      |a AS (SELECT count(DISTINCT user_id) AS n_users,
      |   sum(CASE WHEN gap_us > 5::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS over5,
      |   sum(CASE WHEN gap_us > 30::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS over30,
      |   sum(CASE WHEN gap_us > 60::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS over60,
      |   sum(CASE WHEN gap_us > 120::BIGINT*60*1000000 THEN 1 ELSE 0 END) AS over120
      |  FROM g)
      |SELECT CAST(t.threshold_min AS BIGINT) AS threshold_min,
      | CAST(t.o AS BIGINT) AS n_gaps_over,
      | CAST(a.n_users + t.o AS BIGINT) AS n_sessions,
      | CAST((a.n_users + t.o) * 1000 // a.n_users AS BIGINT) AS sessions_per_user_milli
      |FROM a CROSS JOIN LATERAL (VALUES (5, over5), (30, over30), (60, over60),
      |  (120, over120)) AS t(threshold_min, o)
      |ORDER BY threshold_min""".stripMargin

  // q195: MULTI-TOUCH ATTRIBUTION LAG PROFILE — the credit-assignment
  // member of the conversion family (q86 counts funnel stages, q124
  // times first-view→purchase, q156 bounds the whole path; this answers
  // "WHICH prior touches get credit, and how old are they"): linear
  // attribution, each purchase splitting 1000 milli equally over every
  // click by the same user in the preceding 7 days (credit per touch =
  // 1000 div n_touch — floor division, so a purchase's credits sum to
  // ≤ 1000 with the remainder dropped, documented), rolled up by
  // TOUCH AGE in whole days; purchases with no touch in window surface
  // as the explicit gap_days = -1 row (never silently vanish into an
  // inner join). Shape: one user-keyed equi join builds the touch pairs
  // (the q08 as-of shuffle topology, many-to-many inside the bounded
  // 7-day window — per-user event counts are the skew bound, q138's
  // salting applies if a bot user explodes), pair frame persists once
  // and feeds the per-purchase touch count, the gap rollup, and the
  // anti-join completeness row; epoch arithmetic throughout (the
  // MetricStream zone-free lesson).
  private def q195(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("us"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("c_us"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"), col("event_id").as("pid"))
    graft.Caches.persist(buys)
    val pairs = buys.join(clicks, Seq("user_id"))
      .filter(col("p_us") >= col("c_us") &&
        col("p_us") - col("c_us") <= 7L * 86400000000L)
      .select(col("pid"), expr("(p_us - c_us) div 86400000000").as("gap_days"))
    graft.Caches.persist(pairs)
    val touch = pairs.groupBy("pid").agg(count(lit(1)).as("n_touch"))
    val credited = pairs.join(touch, "pid")
      .groupBy("gap_days")
      .agg(count(lit(1)).as("n_touches"),
        sum(expr("1000 div n_touch")).as("credit_milli"),
        countDistinct("pid").as("n_purchases"))
      .select("gap_days", "n_touches", "credit_milli", "n_purchases")
    val untouched = buys
      .join(pairs.select("pid").distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(-1L).as("gap_days"), lit(0L).as("n_touches"),
        lit(0L).as("credit_milli"), col("n").as("n_purchases"))
    credited.unionByName(untouched).orderBy("gap_days")
  }

  private val q195Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events),
      |c AS (SELECT user_id, us AS c_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, us AS p_us, event_id AS pid FROM e
      |  WHERE event_type = 'purchase'),
      |pr AS (SELECT pid, (p_us - c_us) // 86400000000 AS gap_days
      |  FROM p JOIN c USING (user_id)
      |  WHERE p_us >= c_us AND p_us - c_us <= 604800000000),
      |t AS (SELECT pid, count(*) AS n_touch FROM pr GROUP BY pid),
      |cr AS (SELECT gap_days, count(*) AS n_touches,
      |   sum(1000 // n_touch) AS credit_milli,
      |   count(DISTINCT pid) AS n_purchases
      |  FROM pr JOIN t USING (pid) GROUP BY gap_days),
      |un AS (SELECT -1 AS gap_days, 0 AS n_touches, 0 AS credit_milli,
      |   count(*) AS n_purchases
      |  FROM p WHERE pid NOT IN (SELECT pid FROM pr))
      |SELECT CAST(gap_days AS BIGINT) AS gap_days,
      | CAST(n_touches AS BIGINT) AS n_touches,
      | CAST(credit_milli AS BIGINT) AS credit_milli,
      | CAST(n_purchases AS BIGINT) AS n_purchases
      |FROM (SELECT * FROM cr UNION ALL SELECT * FROM un)
      |ORDER BY gap_days""".stripMargin

  // q207: INTER-ARRIVAL BURSTINESS — classifies each feed's arrival
  // PROCESS, the number q166/q170 presuppose (they measure lateness
  // against the event-time axis; this asks what the axis itself looks
  // like): the index of dispersion CoV² = n·Σg²/S² − 1 over inter-event
  // gaps — reported as burstiness_milli = CoV²·1000: deterministic/
  // periodic feeds ≈ 0, Poisson ≈ 1000 (the yardstick), bursty feeds
  // above it — capacity planning's first number, in its
  // cross-multiplied integer form (n·Q·1000 div S² − 1000 on DECIMAL(38),
  // the q141/q148 overflow idiom; no division-order trap, nothing
  // transcendental). Same-second collisions surface as zero_permille.
  // SCALE SHAPE — the q14-funnel trap avoided the q166 way: event_type
  // is LOW-cardinality, so a per-type global sort funnels the corpus
  // through |types| tasks. Gaps decompose instead: hour blocks (blk =
  // us div 3600e6 — monotone in the sort key, so blocks PARTITION the
  // per-type event-time order), within-block lag under a (type, blk)
  // window bounded by hourly density, and the block-boundary gaps
  // recovered on the bounded (type, blk) grid from per-block first/last
  // — the gap MULTISET is identical to the naive single-window form
  // (spec asserts equality), but no task ever sees more than one
  // hour-block of one type.
  private def q207(s: SparkSession, d: String): DataFrame = {
    val wB = Window.partitionBy("event_type", "blk").orderBy(col("us"), col("event_id"))
    val base = events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("blk", expr("us div 3600000000"))
      .withColumn("pus", lag(col("us"), 1).over(wB))
      .withColumn("gap", expr("(us - pus) div 1000000"))
    val inner = base.groupBy("event_type", "blk")
      .agg(sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_in"),
        sum(coalesce(col("gap"), lit(0L))).as("s_in"),
        sum(expr("CAST(coalesce(gap, 0) AS DECIMAL(38,0)) * coalesce(gap, 0)")).as("q_in"),
        max(coalesce(col("gap"), lit(-1L))).as("mx_in"),
        sum(when(col("gap") === 0, 1L).otherwise(0L)).as("z_in"),
        min("us").as("first_us"), max("us").as("last_us"))
    val wG = Window.partitionBy("event_type").orderBy("blk")
    val grid = inner
      .withColumn("prev_last", lag(col("last_us"), 1).over(wG))
      .withColumn("bgap", expr("(first_us - prev_last) div 1000000"))
    grid.groupBy("event_type")
      .agg((sum("n_in") + sum(when(col("bgap").isNotNull, 1L).otherwise(0L))).as("n"),
        (sum("s_in") + sum(coalesce(col("bgap"), lit(0L)))).as("s"),
        (sum("q_in") + sum(expr("CAST(coalesce(bgap, 0) AS DECIMAL(38,0)) * coalesce(bgap, 0)")))
          .as("q"),
        greatest(max("mx_in"), max(coalesce(col("bgap"), lit(-1L)))).as("mx"),
        (sum("z_in") + sum(when(col("bgap") === 0, 1L).otherwise(0L))).as("nz"))
      .filter(col("n") > 0)
      .select(col("event_type"), col("n").as("n_gaps"),
        col("s").as("sum_gap_s"), expr("s div n").as("mean_gap_s"),
        col("mx").as("max_gap_s"),
        expr("nz * 1000 div n").as("zero_permille"),
        expr("""CASE WHEN s > 0 THEN
          | CAST((CAST(n AS DECIMAL(38,0)) * q * 1000) div (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT) - 1000
          |END""".stripMargin).as("burstiness_milli"))
      .orderBy("event_type")
  }

  private val q207Sql =
    """WITH o AS (SELECT event_type, epoch_us(ts) AS us, event_id FROM events),
      |g AS (SELECT event_type,
      |   (us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id)) // 1000000 AS gap
      |  FROM o),
      |gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
      |a AS (SELECT event_type, count(*) AS n, sum(gap) AS s,
      |   sum(gap::HUGEINT * gap) AS q, max(gap) AS mx,
      |   sum(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS nz
      |  FROM gg GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n_gaps, CAST(s AS BIGINT) AS sum_gap_s,
      | CAST(s // n AS BIGINT) AS mean_gap_s, CAST(mx AS BIGINT) AS max_gap_s,
      | CAST(nz * 1000 // n AS BIGINT) AS zero_permille,
      | CASE WHEN s > 0 THEN CAST((n::HUGEINT * q * 1000) // (s::HUGEINT * s) AS BIGINT) - 1000
      | END AS burstiness_milli
      |FROM a WHERE n > 0 ORDER BY event_type""".stripMargin

  // q208: TIME-WEIGHTED DAILY AVERAGE — the sampling-bias fix the metric
  // family needs: q28's tumbling mean weights every OBSERVATION equally,
  // so a feed that reports more often when the value is high biases the
  // day's number (the classic monitoring-gauge mistake); TWA weights each
  // reading by its HOLD TIME instead — q109's LOCF fill discipline turned
  // into a weight: a value holds from its event to the next event, the
  // day's last reading holds to midnight. Exact integers end to end:
  // milli values × micro durations accumulate in DECIMAL(38) (the q141
  // overflow idiom), twa_milli = Σ(vm·dur) div Σdur (all non-negative —
  // no truncation-sign trap), the observation-count mean alongside for
  // the bias delta, and coverage_permille = observed fraction of the day
  // (uncovered head of the day = no LOCF source, excluded not imputed).
  // SCALE SHAPE — q207's stitch, reused: durations need each event's
  // SUCCESSOR, so the naive form is a per-(type, day) window (the q14
  // funnel when a type's day is huge); hour blocks partition the in-day
  // order, lead() runs within (type, blk) bounded by hourly density, and
  // each block's LAST event takes the next nonempty same-day block's
  // first timestamp (bounded grid, broadcast back) or midnight. The
  // daily aggregate partial-aggregates; nothing corpus-scale sorts.
  private def q208(s: SparkSession, d: String): DataFrame = {
    val wB = Window.partitionBy("event_type", "blk").orderBy(col("us"), col("event_id"))
    val base = events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vm"))
      .withColumn("blk", expr("us div 3600000000"))
      .withColumn("nus", lead(col("us"), 1).over(wB))
    val wG = Window.partitionBy("event_type").orderBy("blk")
    val nextFirst = base.groupBy("event_type", "blk").agg(min("us").as("first_us"))
      .withColumn("day", expr("blk div 24"))
      .withColumn("nblk_first", lead(col("first_us"), 1).over(wG))
      .withColumn("nblk_day", lead(col("day"), 1).over(wG))
      .select(col("event_type"), col("blk"),
        when(col("nblk_day") === col("day"), col("nblk_first")).as("next_in_day"))
    base.join(broadcast(nextFirst), Seq("event_type", "blk"))
      .withColumn("day", expr("blk div 24"))
      .withColumn("dur",
        coalesce(col("nus"), col("next_in_day"), expr("(day + 1) * 86400000000")) - col("us"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(vm AS DECIMAL(38,0)) * dur")).as("wsum"),
        sum("dur").as("dsum"), sum("vm").as("vsum"))
      .select(col("event_type"), col("day"), col("n_events"),
        expr("CAST(wsum div dsum AS BIGINT)").as("twa_milli"),
        expr("vsum div n_events").as("mean_milli"),
        expr("dsum * 1000 div 86400000000").as("coverage_permille"))
      .orderBy("event_type", "day")
  }

  private val q208Sql =
    """WITH o AS (SELECT event_type, epoch_us(ts) AS us, event_id,
      |   CAST(round(value * 1000) AS BIGINT) AS vm,
      |   epoch_us(ts) // 86400000000 AS day FROM events),
      |g AS (SELECT *, lead(us) OVER (PARTITION BY event_type, day ORDER BY us, event_id) AS nus
      |  FROM o),
      |dd AS (SELECT event_type, day, vm,
      |   coalesce(nus, (day + 1) * 86400000000) - us AS dur FROM g)
      |SELECT event_type, day, count(*) AS n_events,
      | CAST(sum(vm::HUGEINT * dur) // sum(dur) AS BIGINT) AS twa_milli,
      | CAST(sum(vm) // count(*) AS BIGINT) AS mean_milli,
      | CAST(sum(dur) * 1000 // 86400000000 AS BIGINT) AS coverage_permille
      |FROM dd GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // q215: INTERVAL-UNION ACTIVE TIME (gaps-and-islands) — the interval-
  // algebra primitive the duration family approximates from one side
  // each: q27 sessionizes by GAP (end = last event), q208 time-weights
  // by LOCF hold (end = next event), but neither answers "how much
  // wall-clock was this key actually active?" when each event opens a
  // fixed-horizon window [ts, ts+10min) and windows OVERLAP. Summing
  // per-event horizons double-counts exactly where activity clusters —
  // the union of intervals is the honest number (billing meters,
  // crawler politeness windows, GPU-reservation overlap, dedup-scan
  // dispatch all hit this). Classic island detection, one user_id
  // shuffle end-to-end: an island starts when the event's open instant
  // has reached every preceding interval's end (running MAX of end over
  // the preceding frame — a plain cumulative max, because ends are
  // monotone under equal horizons, but written frame-general so a
  // per-row horizon column drops in unchanged); island id = running sum
  // of starts; both follow-up groupBys key on supersets of user_id, so
  // EnsureRequirements reuses the window's hash partitioning and no
  // second shuffle exists. Touching intervals (us == prev end,
  // half-open semantics) start a NEW island — union length is
  // unchanged either way but island counts aren't, so the tie rule is
  // explicit and oracle-mirrored (`>=`). overlap_pct_milli = the
  // double-count share a naive sum(horizon) would have inflated by.
  private def q215(s: SparkSession, d: String): DataFrame = {
    val h = 600000000L // 10-minute horizon, µs
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_end", max(col("us") + lit(h)).over(wPrev))
      .withColumn("starts",
        when(col("prev_end").isNull || col("us") >= col("prev_end"), 1L).otherwise(0L))
      .withColumn("island", sum("starts").over(w))
      .groupBy("user_id", "island")
      .agg(min("us").as("s_us"), (max("us") + lit(h)).as("e_us"), count(lit(1)).as("n_ev"))
      .groupBy("user_id")
      .agg(sum("n_ev").as("n_events"), count(lit(1)).as("islands"),
        sum(expr("e_us - s_us")).as("active_us"))
      .withColumn("naive_us", col("n_events") * lit(h))
      .withColumn("overlap_pct_milli",
        expr("(naive_us - active_us) * 1000 div naive_us"))
      .select("user_id", "n_events", "islands", "active_us", "naive_us",
        "overlap_pct_milli")
      .orderBy("user_id")
  }

  private val q215Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |f AS (SELECT user_id, event_id, us,
      |   max(us + 600000000) OVER (PARTITION BY user_id ORDER BY us, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM e),
      |i AS (SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end
      |     THEN 1 ELSE 0 END AS starts FROM f),
      |i2 AS (SELECT *, sum(starts) OVER (PARTITION BY user_id
      |     ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
      |     CURRENT ROW) AS island FROM i),
      |m AS (SELECT user_id, island, min(us) AS s_us,
      |   max(us) + 600000000 AS e_us, count(*) AS n_ev
      |  FROM i2 GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
      | CAST(count(*) AS BIGINT) AS islands,
      | CAST(sum(e_us - s_us) AS BIGINT) AS active_us,
      | CAST(sum(n_ev) * 600000000 AS BIGINT) AS naive_us,
      | CAST((sum(n_ev) * 600000000 - sum(e_us - s_us)) * 1000
      |      // (sum(n_ev) * 600000000) AS BIGINT) AS overlap_pct_milli
      |FROM m GROUP BY 1 ORDER BY user_id""".stripMargin

  // q219: PEAK SLIDING-WINDOW RATE (burst audit) — the rate-limiter /
  // capacity-sizing number the arrival family doesn't produce: q207
  // scores dispersion (is the process bursty AT ALL), q28/q29 count
  // epoch-ALIGNED buckets — but a rate limit of "N per hour" is violated
  // by the worst UNALIGNED hour, and an aligned-bucket max underestimates
  // it by up to 2× (a burst straddling a bucket boundary splits).
  // Per key: the max over events of |events in [ts, ts+1h)| — every
  // burst's worst window starts AT an event, so evaluating only
  // event-anchored windows is exact, and a RANGE frame (value-based,
  // CURRENT ROW .. +1h−1µs FOLLOWING) computes all of them in one
  // ordered pass. One user_id shuffle; the per-key max/argmin groupBy
  // reuses the window's hash partitioning. at_us = earliest window
  // start achieving the peak (oracle-stable argmax rule); mean rate
  // alongside so the report reads burst-over-baseline directly.
  private def q219(s: SparkSession, d: String): DataFrame = {
    val h = 3600000000L
    val wr = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(0, h - 1)
    // Two window passes over the SAME user_id partitioning (one shuffle:
    // the byUser pass and the final groupBy both reuse wr's hash exchange),
    // mirroring the oracle's CTE `m`: burst is materialized per row BEFORE
    // the aggregate so min(when(...)) never nests a window function.
    val byUser = Window.partitionBy("user_id")
    events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("cnt", count(lit(1)).over(wr))
      .withColumn("burst", max("cnt").over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("burst").as("burst"),
        min(when(col("cnt") === col("burst"), col("us"))).as("at_us"))
      .withColumn("over_mean_milli",
        expr("burst * 1000 div greatest(n_events, 1)"))
      .select("user_id", "n_events", "burst", "at_us", "over_mean_milli")
      .orderBy("user_id")
  }

  private val q219Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |c AS (SELECT user_id, us, count(*) OVER (PARTITION BY user_id ORDER BY us
      |   RANGE BETWEEN CURRENT ROW AND 3599999999 FOLLOWING) AS cnt FROM e),
      |m AS (SELECT *, max(cnt) OVER (PARTITION BY user_id) AS burst FROM c)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(max(burst) AS BIGINT) AS burst,
      | CAST(min(CASE WHEN cnt = burst THEN us END) AS BIGINT) AS at_us,
      | CAST(max(burst) * 1000 // greatest(count(*), 1) AS BIGINT) AS over_mean_milli
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // q229: ARRIVAL RUN-LENGTH (GAPS-AND-ISLANDS) AUDIT — the interleaving
  // statistic the arrival family reads SIDEWAYS: q207 scores WHEN events
  // cluster (inter-arrival dispersion), this scores HOW the global intake
  // sequence interleaves across types — per type, the maximal runs of
  // consecutive event_ids all of that type (Tabibitosan islands). Long
  // runs mean the upstream producer BATCHES one partition's traffic
  // (hot-partition flushes, compaction storms — the pattern that turns a
  // balanced consumer into a serially-stalling one); runs ≈ 1 mean fine
  // interleaving. Per type: events, runs, max run, mean run in millis.
  // SCALE SHAPE — islands need the global id order, and a per-type
  // window is the q207 funnel (|types| tasks see everything); the q207
  // stitch applies: id-BLOCKS (blk = id div 4096, monotone in the sort
  // key, so blocks partition the id order) bound every window to one
  // block of one type; runs that TOUCH a block edge (≤ 2 per block — a
  // metadata-grain set by construction) are chain-merged on that grid by
  // id-contiguity (merge iff prev.last_id + 1 = next.first_id, same
  // type), interior runs pass through untouched. The oracle computes the
  // SAME runs with the naive single-window Tabibitosan — equality proves
  // the stitch loses and invents nothing.
  private def q229(s: SparkSession, d: String): DataFrame = {
    val B = 4096L
    val base = events(s, d)
      .select(col("event_id").as("id"), col("event_type").as("t"))
      .withColumn("blk", expr(s"id div $B"))
    val w = Window.partitionBy("t", "blk").orderBy("id")
    val runs0 = base
      .withColumn("grp", col("id") - row_number().over(w))
      .groupBy("t", "blk", "grp")
      .agg(count(lit(1)).as("len"), min("id").as("first_id"), max("id").as("last_id"))
    val isEdge = expr(s"first_id % $B = 0 OR last_id % $B = ${B - 1}")
    val wg = Window.orderBy("first_id")
    val chains = runs0.filter(isEdge)
      .withColumn("pt", lag("t", 1).over(wg))
      .withColumn("pl", lag("last_id", 1).over(wg))
      .withColumn("brk", when(col("pt").isNull || col("pt") =!= col("t")
          || col("pl") + 1 =!= col("first_id"), 1L).otherwise(0L))
      .withColumn("chain", sum("brk").over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("t", "chain").agg(sum("len").as("len"))
      .select("t", "len")
    runs0.filter(!isEdge).select("t", "len")
      .unionByName(chains)
      .groupBy("t")
      .agg(sum("len").as("n_events"), count(lit(1)).as("n_runs"),
        max("len").as("max_run"))
      .withColumn("mean_run_milli", expr("n_events * 1000 div n_runs"))
      .select(col("t").as("event_type"), col("n_events"), col("n_runs"),
        col("max_run"), col("mean_run_milli"))
      .orderBy("event_type")
  }

  private val q229Sql =
    """WITH e AS (SELECT event_id AS id, event_type AS t FROM events),
      |r AS (SELECT t, id,
      |   id - row_number() OVER (PARTITION BY t ORDER BY id) AS grp FROM e),
      |runs AS (SELECT t, count(*) AS len FROM r GROUP BY t, grp)
      |SELECT t AS event_type, CAST(sum(len) AS BIGINT) AS n_events,
      | count(*) AS n_runs, CAST(max(len) AS BIGINT) AS max_run,
      | CAST(sum(len) * 1000 // count(*) AS BIGINT) AS mean_run_milli
      |FROM runs GROUP BY t ORDER BY event_type""".stripMargin

  // q230: INTER-ARRIVAL REGULARITY (BOT) AUDIT — the per-ACTOR lens the
  // burstiness family lacks: q207 scores a whole type's process, q219
  // sizes peak load, but abuse detection asks about ONE user's clock —
  // scripted actors fire on fixed timers (one dominant inter-arrival
  // bin ⇒ near-zero entropy), humans spread across the spectrum. Per
  // user: inter-arrival gaps (seconds, per-user lag — user-keyed
  // windows, the hash-distributed kind), each gap binned into its
  // power-of-two octave (len(bin(gap+1)) − 1, the q218 no-float-log
  // idiom), Shannon entropy of the bin distribution in EXACT fixed-point
  // milli-bits via the q223 log2: H = log2(n) − (Σ c·log2(c))/n, every
  // log2 as 1000·⌊log2⌋ + linear intra-octave interpolation — integer
  // end to end, so the oracle hashes bit-for-bit. Report: the 25 most
  // regular high-volume users (n ≥ 20), entropy ascending — the triage
  // queue an abuse reviewer works. One user-keyed lag + a (user, bin)
  // partial-agg + a user rollup; the spectrum is octave-bounded (~40
  // bins), never a per-user sort beyond the keyed window.
  private def q230(s: SparkSession, d: String): DataFrame = {
    import FixedPoint.log2milli
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("pus", lag("us", 1).over(w))
      .filter(col("pus").isNotNull)
      .withColumn("gap_s", expr("(us - pus) div 1000000"))
      .withColumn("bin", expr("length(bin(gap_s + 1)) - 1"))
    val binned = gaps.groupBy("user_id", "bin")
      .agg(count(lit(1)).as("c"))
      .withColumn("clog", log2milli("c"))
    binned.groupBy("user_id")
      .agg(sum("c").as("n_gaps"), count(lit(1)).as("n_bins"),
        sum(expr("c * clog")).as("sum_clog"))
      .filter(col("n_gaps") >= 20)
      .withColumn("h_milli", log2milli("n_gaps") - expr("sum_clog div n_gaps"))
      .select("user_id", "n_gaps", "n_bins", "h_milli")
      .orderBy(col("h_milli"), col("user_id"))
      .limit(25)
  }

  private val q230Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
      |g AS (SELECT user_id,
      |   (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) // 1000000 AS gap_s
      |  FROM e),
      |b AS (SELECT user_id, CAST(length(bin(gap_s + 1)) - 1 AS BIGINT) AS bin
      |  FROM g WHERE gap_s IS NOT NULL),
      |c AS (SELECT user_id, bin, count(*) AS c FROM b GROUP BY 1, 2),
      |cl AS (SELECT user_id, c,
      |   1000 * (length(bin(c)) - 1)
      |   + (c - (CAST(1 AS BIGINT) << (length(bin(c)) - 1))) * 1000
      |     // (CAST(1 AS BIGINT) << (length(bin(c)) - 1)) AS clog
      |  FROM c),
      |u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_gaps,
      |   count(*) AS n_bins, CAST(sum(c * clog) AS BIGINT) AS sum_clog
      |  FROM cl GROUP BY user_id)
      |SELECT user_id, n_gaps, n_bins,
      | CAST(1000 * (length(bin(n_gaps)) - 1)
      |  + (n_gaps - (CAST(1 AS BIGINT) << (length(bin(n_gaps)) - 1))) * 1000
      |    // (CAST(1 AS BIGINT) << (length(bin(n_gaps)) - 1))
      |  - sum_clog // n_gaps AS BIGINT) AS h_milli
      |FROM u WHERE n_gaps >= 20
      |ORDER BY h_milli, user_id LIMIT 25""".stripMargin

  // q232: SEASONAL-NAIVE BACKTEST (MASE) — the VALIDATION step the trend
  // family stops short of: q117 fits a slope, q125 detects dow drift,
  // but capacity planning needs to know whether last-week-same-day
  // actually PREDICTS tomorrow better than yesterday does — the MASE
  // discipline (forecast error scaled by the naive baseline's error,
  // the standard scale-free backtest metric). Per event type, over the
  // (type, day) count grid: seasonal forecast ŷ_d = y_{d−7}, naive
  // baseline ŷ_d = y_{d−1}, evaluated on every day where both exist;
  // mase_milli = 1000·Σ|y−y_{d−7}| div Σ|y−y_{d−1}| — < 1000 means
  // weekly seasonality beats persistence and the q125 profile is real
  // signal, ≥ 1000 means it isn't and a dow-aware autoscaler would
  // overfit. Integer end to end (counts, absolute differences, one
  // scaled division). Corpus-scale work is ONE (type, day) partial-agg
  // shuffle; both lags are windows over the bounded type×day grid —
  // metadata grain, the q206/q125 posture.
  private def q232(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), expr("CAST(to_date(ts) AS STRING)").as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("y7", lag("y", 7).over(w))
      .withColumn("y1", lag("y", 1).over(w))
      .filter(col("y7").isNotNull && col("y1").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("y") - col("y7"))).as("seasonal_abs_err"),
        sum(abs(col("y") - col("y1"))).as("naive_abs_err"))
      .withColumn("mase_milli",
        expr("seasonal_abs_err * 1000 div greatest(naive_abs_err, 1)"))
      .withColumn("seasonal_wins", col("mase_milli") < 1000)
      .select("event_type", "n_days", "seasonal_abs_err", "naive_abs_err",
        "mase_milli", "seasonal_wins")
      .orderBy("event_type")
  }

  private val q232Sql =
    """WITH daily AS (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |   count(*) AS y FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, y,
      |   lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7,
      |   lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1
      |  FROM daily)
      |SELECT event_type, count(*) AS n_days,
      | CAST(sum(abs(y - y7)) AS BIGINT) AS seasonal_abs_err,
      | CAST(sum(abs(y - y1)) AS BIGINT) AS naive_abs_err,
      | CAST(sum(abs(y - y7)) * 1000 // greatest(sum(abs(y - y1)), 1) AS BIGINT) AS mase_milli,
      | sum(abs(y - y7)) * 1000 // greatest(sum(abs(y - y1)), 1) < 1000 AS seasonal_wins
      |FROM l WHERE y7 IS NOT NULL AND y1 IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // q261: RANK-BIASED OVERLAP (RBO) LEADERBOARD AGREEMENT — the ranking
  // family's COMPARISON member (q157 tracks ONE leaderboard's churn over
  // time; q131 FUSES two rankings; nothing measures whether two rankings
  // agree — the "are engagement and monetization leaderboards telling
  // the same story" question, and the standard metric for it is
  // Webber's RBO, top-weighted where Kendall/Spearman are not). Per
  // event type, the count-ranked and value-ranked user top-10s are
  // compared: truncated RBO = Σ_d (1−p)p^(d−1)·|A_d∩B_d|/d with p=0.9,
  // computed in EXACT integer ppm — the weights (1−p)p^(d−1) are
  // PRECOMPUTED literals injected identically into both engines (a
  // runtime 0.9^d would re-derive them through float pow and diverge in
  // the last digit), and |A_d∩B_d| needs no per-depth explode: a user
  // in both top-10s contributes to every depth ≥ max(rA, rB), so the
  // agreement curve is one groupBy over max-rank. Shape at 100 TB: two
  // rankings of the SAME keyed aggregate (one shuffle), top-10 via
  // bounded per-type windows (the q16/q242 escape applies), the RBO
  // fold runs on a ≤ types×10 grid.
  private def q261(s: SparkSession, d: String): DataFrame = {
    val wts = Seq(10000L, 9000L, 8100L, 7290L, 6561L, 5905L, 5314L, 4783L, 4305L, 3874L)
    val agg = events(s, d).groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"), sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("vm"))
    val ranked = agg
      .withColumn("ra", row_number().over(
        Window.partitionBy("event_type").orderBy(desc("n"), col("user_id"))))
      .withColumn("rb", row_number().over(
        Window.partitionBy("event_type").orderBy(desc("vm"), col("user_id"))))
      .filter(col("ra") <= 10 && col("rb") <= 10)
      .withColumn("dmin", greatest(col("ra"), col("rb")))
    val wlit = wts.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN ${w}L" }.mkString(" ")
    ranked.groupBy("event_type", "dmin").agg(count(lit(1)).as("joins"))
      .withColumn("cum", sum("joins").over(
        Window.partitionBy("event_type").orderBy("dmin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // contribution of depth d (= dmin row) .. 10 is folded by joining
      // the weight ladder: each depth d weights the CUMULATIVE agreement
      .select(col("event_type"), col("dmin"), col("cum"))
      .join(broadcast(
        s.range(1, 11).toDF("depth")), col("dmin") <= col("depth"))
      .groupBy("event_type", "depth")
      .agg(max("cum").as("agree_at_depth"))
      .withColumn("w", expr(s"CASE depth $wlit END"))
      .groupBy("event_type")
      .agg(sum(expr("w * agree_at_depth div depth")).as("rbo_ppm"),
        max(when(col("depth") === 10, col("agree_at_depth"))).as("agree_at_10"))
      .orderBy("event_type")
  }

  private val q261Sql = {
    val wts = Seq(10000L, 9000L, 8100L, 7290L, 6561L, 5905L, 5314L, 4783L, 4305L, 3874L)
    val wlit = wts.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN ${w}" }.mkString(" ")
    s"""WITH a AS (SELECT event_type, user_id, count(*) AS n,
       |   CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vm
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, user_id,
       |   row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS ra,
       |   row_number() OVER (PARTITION BY event_type ORDER BY vm DESC, user_id) AS rb
       |  FROM a),
       |bt AS (SELECT event_type, greatest(ra, rb) AS dmin FROM r
       |  WHERE ra <= 10 AND rb <= 10),
       |g AS (SELECT event_type, dmin, count(*) AS joins FROM bt GROUP BY 1, 2),
       |c AS (SELECT event_type, dmin,
       |   sum(joins) OVER (PARTITION BY event_type ORDER BY dmin) AS cum FROM g),
       |ad AS (SELECT event_type, depth, max(cum) AS agree_at_depth
       |  FROM c JOIN (SELECT unnest(range(1, 11)) AS depth) dd ON dmin <= depth
       |  GROUP BY 1, 2)
       |SELECT event_type,
       | CAST(sum((CASE depth $wlit END) * agree_at_depth // depth) AS BIGINT) AS rbo_ppm,
       | CAST(max(CASE WHEN depth = 10 THEN agree_at_depth END) AS BIGINT) AS agree_at_10
       |FROM ad GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q261_rbo_agreement" -> (q261 _),
    "q229_arrival_runs" -> (q229 _),
    "q230_arrival_entropy" -> (q230 _),
    "q232_seasonal_backtest" -> (q232 _),
    "q219_burst_windows" -> (q219 _),
    "q215_active_spans" -> (q215 _),
    "q208_time_weighted_avg" -> (q208 _),
    "q207_arrival_burstiness" -> (q207 _),
    "q195_attribution_lag" -> (q195 _),
    "q170_watermark_tradeoff" -> (q170 _),
    "q168_session_calibration" -> (q168 _),
    "q166_disorder_audit" -> (q166 _),
    "q157_rank_churn" -> (q157 _),
    "q158_decayed_engagement" -> (q158 _),
    "q156_timed_funnel" -> (q156 _),
    "q147_churn_hazard" -> (q147 _),
    "q142_journey_paths" -> (q142 _),
    "q130_journey_pagerank" -> (q130 _),
    "q124_conversion_latency" -> (q124 _),
    "q125_dow_seasonality" -> (q125 _),
    "q114_rolling_actives" -> (q114 _),
    "q108_twostage_distinct" -> (q108 _),
    "q109_forward_fill" -> (q109 _),
    "q86_funnel" -> (q86 _),
    "q87_retention_cohorts" -> (q87 _),
    "q62_setops_all" -> (q62 _),
    "q63_pivot" -> (q63 _),
    "q64_salted_agg" -> (q64 _),
    "q26_latest_state" -> (q26 _),
    "q27_sessionization" -> (q27 _),
    "q28_tumbling_window" -> (q28 _),
    "q29_sliding_window" -> (q29 _),
    "q30_late_data_filter" -> (q30 _),
    "q31_event_transitions" -> (q31 _),
    "q32_approx_distinct" -> (q32 _))

  override val oracles: Map[String, String] = Map(
    "q261_rbo_agreement" -> q261Sql,
    "q229_arrival_runs" -> q229Sql,
    "q230_arrival_entropy" -> q230Sql,
    "q232_seasonal_backtest" -> q232Sql,
    "q219_burst_windows" -> q219Sql,
    "q215_active_spans" -> q215Sql,
    "q208_time_weighted_avg" -> q208Sql,
    "q207_arrival_burstiness" -> q207Sql,
    "q195_attribution_lag" -> q195Sql,
    "q170_watermark_tradeoff" -> q170Sql,
    "q168_session_calibration" -> q168Sql,
    "q166_disorder_audit" -> q166Sql,
    "q157_rank_churn" -> q157Sql,
    "q158_decayed_engagement" -> q158Sql,
    "q156_timed_funnel" -> q156Sql,
    "q147_churn_hazard" -> q147Sql,
    "q142_journey_paths" -> q142Sql,
    "q130_journey_pagerank" -> q130Sql,
    "q124_conversion_latency" -> q124Sql,
    "q125_dow_seasonality" -> q125Sql,
    "q114_rolling_actives" -> q114Sql,
    "q108_twostage_distinct" -> q108Sql,
    "q109_forward_fill" -> q109Sql,
    "q86_funnel" -> q86Sql,
    "q87_retention_cohorts" -> q87Sql,
    "q62_setops_all" -> q62Sql,
    "q63_pivot" -> q63Sql,
    "q64_salted_agg" -> q64Sql,
    "q26_latest_state" -> q26Sql,
    "q27_sessionization" -> q27Sql,
    "q28_tumbling_window" -> q28Sql,
    "q29_sliding_window" -> q29Sql,
    "q30_late_data_filter" -> q30Sql,
    "q31_event_transitions" -> q31Sql,
    "q32_approx_distinct" -> q32Sql)
}
