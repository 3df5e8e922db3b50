package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Operators that exist specifically for the 100 TB regime (SURVEY.md §2B
  * B10/B12 sketch family + the training-pipeline mandate): sketch-bounded
  * aggregates whose exact twins stop being computable at scale, bloom-
  * pruned joins that avoid shuffling a fact table, and the two-phase
  * prefix sum that replaces a single-partition global window.
  *
  * The oracle pattern for the sketch queries follows q32 (approx distinct):
  * the raw estimate is engine- or merge-order-specific, so the
  * hash-compared output carries the EXACT values plus an in-query verdict
  * that the estimate honors its published error bound — deterministic on
  * both engines, while the sketch itself still executes end-to-end.
  */
object ScaleOps extends QueryPack {
  import Tables._

  /** q78's phase-1 bound: the unpartitioned bucket-offset window may see
    * at most this many rows (one per bucket), regardless of corpus size. */
  private[graft] val TargetBuckets = 16384L

  /** q78's bucket width, maxId div TargetBuckets + 1 (the overflow-free
    * form of ceil((maxId+1)/TargetBuckets)): doc ids 0..maxId map to
    * bucket ids 0..(maxId div width) ⊆ [0, TargetBuckets), so the bucket
    * count is ≤ TargetBuckets for every maxId ≥ 0 up to Long.MaxValue —
    * the width grows with the corpus while the phase-1 frame stays
    * constant-bounded. (The additive form `(maxId + TargetBuckets) /
    * TargetBuckets` computes the same value but wraps negative within
    * TargetBuckets of Long.MaxValue, silently voiding the bound.) */
  private[graft] def packWidth(maxId: Long): Long =
    math.max(0L, maxId) / TargetBuckets + 1

  // q76: percentile SKETCH with a rank-error verdict (the scale twin of
  // q13's exact percentiles). approx_percentile runs Greenwald-Khanna
  // with accuracy 500 → rank error ε ≤ 1/500; the GK merge keeps the
  // bound under any partitioning, so the verdict "approx value lies
  // between the exact quantiles at p ∓ 2ε" is TRUE regardless of merge
  // order even though the approx VALUE itself is not deterministic. At
  // 100 TB the exact percentile needs a full sort of every group while
  // the sketch is one pass + constant memory — this query certifies the
  // trade stays within its contract.
  private def q76(s: SparkSession, d: String): DataFrame = {
    val margin = 0.004 // 2ε for accuracy 500, covering interpolation edges
    val ps = Seq(0.25, 0.50, 0.75)
    val approx = expr(s"approx_percentile(l_extendedprice, array(${ps.mkString(", ")}), 500)")
    val exact = (p: Double) => expr(s"percentile(l_extendedprice, $p)")
    val aggs = Seq(approx.as("ap"),
      exact(0.25).as("e25"), exact(0.50).as("e50"), exact(0.75).as("e75")) ++
      ps.zipWithIndex.map { case (p, i) => exact(p - margin).as(s"lo$i") } ++
      ps.zipWithIndex.map { case (p, i) => exact(p + margin).as(s"hi$i") }
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("l_returnflag"),
        round(col("e25"), 4).as("p25"),
        round(col("e50"), 4).as("p50"),
        round(col("e75"), 4).as("p75"),
        (0 until 3).map(i =>
          col("ap").getItem(i).between(col(s"lo$i"), col(s"hi$i")))
          .reduce(_ && _).as("within_rank_bound"))
      .orderBy("l_returnflag")
  }

  private val q76Sql =
    """SELECT l_returnflag,
      | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      | round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
      | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      | TRUE AS within_rank_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q77: heavy hitters through a count-min sketch. The sketch is built by
  // the codegen'd count_min_sketch aggregate (one pass, merge-order-
  // independent: CMS merge is counter addition, and the fixed seed fixes
  // the hash family, so the estimate is deterministic for a dataset); the
  // top-20 candidates by exact count are then probed against it and the
  // output carries the CMS contract as the verdict: exact ≤ estimate ≤
  // exact + ε·N. Probing goes through a small UDF over the broadcast-sized
  // sketch — there is no builtin probe expression, and the UDF touches only
  // the 20 candidate rows, never the fact table. At 100 TB the sketch (a
  // few KB) replaces the exact per-key aggregate for monitoring-grade
  // counts; the exact side here is the certification harness.
  //
  // The top-20 selection is orderBy+limit, which Spark fuses into
  // TakeOrderedAndProject: every task keeps its local top 20 and only
  // those 20-row heaps reach the driver-side merge. The r5 form ranked
  // with a PARTITIONLESS row_number window over the per-user aggregate —
  // one task sorting O(distinct users) rows, the exact single-partition
  // plan this query exists to avoid. rank is derived afterwards on the
  // bounded 20-row frame (an explicit single-partition window over ≤ 20
  // rows, constant at any corpus size).
  private def q77(s: SparkSession, d: String): DataFrame = {
    val eps = 0.005
    val head = events(s, d)
      .selectExpr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42) AS sk", "count(*) AS n")
      .head()
    val total = head.getLong(1)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(head.getAs[Array[Byte]]("sk")))
    val probe = udf((u: Long) => cms.estimateCount(u))
    val slack = math.ceil(eps * total).toLong
    val top20 = events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(desc("exact_n"), col("user_id"))
      .limit(20)
    // single-partition BY CHOICE over the 20-row frame; the partition key
    // must be non-foldable (pmod(user_id, 1) ≡ 0) — a lit(1) is stripped
    // by the optimizer's foldable-partition elimination, which would turn
    // this back into a partitionless window (and its WindowExec warning)
    val w20 = Window.partitionBy(pmod(col("user_id"), lit(1L)))
      .orderBy(desc("exact_n"), col("user_id"))
    top20
      .withColumn("rank", row_number().over(w20))
      .withColumn("est", probe(col("user_id")))
      .select(col("rank"), col("user_id"), col("exact_n"),
        (col("est") >= col("exact_n") &&
          col("est") <= col("exact_n") + lit(slack)).as("within_eps"))
      .orderBy("rank")
  }

  private val q77Sql =
    """SELECT rank, user_id, exact_n, TRUE AS within_eps FROM (
      | SELECT user_id, count(*) AS exact_n,
      |  row_number() OVER (ORDER BY count(*) DESC, user_id) AS rank
      | FROM events GROUP BY user_id)
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  // q78: token-budget shard packing — the sequence-packing step of a
  // training-data pipeline: documents in deterministic corpus order are
  // laid out into fixed 16384-token shards (shard id + offset of each
  // doc). The global running sum is computed as a TWO-PHASE prefix sum:
  // per-range-bucket partial sums first (a tiny frame, one row per
  // bucket), their exclusive running total broadcast back, then a
  // window WITHIN each bucket — so no stage ever runs a global window
  // over the data rows. A naive `Window.orderBy(doc_id)` with no
  // partitioning pulls the entire corpus through ONE task; the two-phase
  // form keeps every stage parallel at any scale. The bucket width is
  // derived from the corpus (max doc_id, one column-pruned pass) so the
  // bucket-offset frame — the ONLY unpartitioned window, running over the
  // per-bucket aggregate — is ≤ TargetBuckets rows at ANY corpus size.
  // (The r5 form used a CONSTANT width of 100, so that frame grew as
  // O(corpus/100): one task eventually sorting 1% of the corpus.)
  // Integer token counts make the layout engine-exact.
  private def q78(s: SparkSession, d: String): DataFrame = {
    val budget = 16384L
    // max() over zero rows is NULL → width 1 and an empty layout, not an NPE
    val maxIdRow = documents(s, d).agg(max(col("doc_id")).cast("long")).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val bucketWidth = packWidth(maxId)
    // the narrow (doc_id, n_tokens, bkt) projection feeds BOTH phases
    // (bucket sums and the row layout); persisting it keeps the corpus
    // scan + tokenization to one pass — at cluster scale this is a
    // staged table, like Dedup.shingled / Similarity.vecBase
    val docs = documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("bkt", expr(s"doc_id div $bucketWidth"))
    graft.Caches.persist(docs)
    // single-partition BY CHOICE: this frame is ≤ TargetBuckets rows (one
    // per bucket) at any corpus size, and the non-foldable pmod(bkt, 1)
    // partition key states that explicitly instead of tripping WindowExec's
    // partitionless warning (a lit would be optimizer-stripped, see q77)
    val bucketOffsets = docs.groupBy("bkt")
      .agg(sum("n_tokens").as("bsum"))
      .withColumn("boff", coalesce(
        sum("bsum").over(Window.partitionBy(pmod(col("bkt"), lit(1L))).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "boff")
    val wIn = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(bucketOffsets), "bkt")
      .withColumn("cum_excl", col("boff") + coalesce(sum("n_tokens").over(wIn), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_excl div $budget").as("shard_id"),
        (col("cum_excl") % budget).as("shard_offset"))
      .orderBy("doc_id")
  }

  private val q78Sql =
    """SELECT doc_id, n_tokens,
      | cum_excl // 16384 AS shard_id, cum_excl % 16384 AS shard_offset
      |FROM (SELECT doc_id, n_tokens,
      |        coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_excl
      |      FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents))
      |ORDER BY doc_id""".stripMargin

  // q79: bloom-pruned fact-dim join — monthly revenue of URGENT orders.
  // The dim side (filtered orders) builds a bloom filter over its join
  // key (distributed treeAggregate; the sketch that reaches the driver is
  // KB-MB sized — the same footprint class as a broadcast dim), and the
  // fact table is pre-filtered ROW-LOCALLY with mightContain before the
  // shuffle: at 100 TB only the ~selectivity fraction of lineitem that
  // can possibly match ever enters the exchange, which is Spark's own
  // runtime row-level-filter optimization made explicit. Bloom filters
  // have no false negatives and the exact join runs after the pre-filter,
  // so the OUTPUT is provably identical to the unpruned join — which is
  // exactly what the oracle states (plain join SQL, no bloom). DECIMAL
  // revenue keeps the sum engine-exact.
  //
  // Sketch sizing is a FIXED budget — 8M bits, the creation-size default
  // of Spark's own runtime bloom-filter join optimization — instead of
  // the r5 exact `count()` pass: one job over orders before the join,
  // not two, and the driver-resident sketch is 1 MB no matter how large
  // the dim side grows. The trade is explicit: at the 1M-key expectation
  // (8 bits/key, 5 hashes) fpp ≈ 2%; an over-full dim side degrades fpp
  // (more fact rows survive the pre-filter, less pruning) but can never
  // lose a match — false negatives are impossible and the exact join
  // still runs after the pre-filter. SCALE.md §dim-side sketch sizing.
  private def q79(s: SparkSession, d: String): DataFrame = {
    val urgent = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val bf = urgent.stat.bloomFilter("o_orderkey",
      expectedNumItems = 1000000L, numBits = 8L * 1024 * 1024)
    val mightContain = udf((k: Long) => bf.mightContain(k))
    val pruned = lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .filter(mightContain(col("l_orderkey")))
    pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"))
          .as("rev_dec"))
      .select(col("month"), col("n_items"),
        col("rev_dec").cast("double").as("revenue"))
      .orderBy("month")
  }

  private val q79Sql =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      | count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY month""".stripMargin

  // q81: one-pass data profiling — the ingest-gate health check every
  // pipeline runs before training on a new drop: per numeric column,
  // count / null count / distinct / min / max / mean in ONE scan of the
  // fact table (a single aggregate row, unpivoted afterwards — the
  // unpivot touches a 1-row frame, so at 100 TB this is exactly one pass
  // + one tiny stage regardless of column count). Mean as exact sum ÷
  // count keeps the double engine-exact; distinct counts are exact here,
  // with q32/q77's sketches as the drop-in at monitoring scale.
  private def q81(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n"),
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        // DECIMAL sum: a double sum's low bits depend on partial-agg merge
        // order; the exact decimal sum divides deterministically
        round(expr(s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)") / count(col(c)), 4)
          .as(s"${c}__mean"))
    }
    val one = lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"${c}__n").as("n_rows"),
        col(s"${c}__nulls").as("n_nulls"), col(s"${c}__distinct").as("n_distinct"),
        round(col(s"${c}__min"), 4).as("min_v"), round(col(s"${c}__max"), 4).as("max_v"),
        col(s"${c}__mean").as("mean_v"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy("col_name")
  }

  private val q81Sql = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    .map(c =>
      s"""SELECT '$c' AS col_name, count($c) AS n_rows,
         | count(*) - count($c) AS n_nulls,
         | count(DISTINCT $c) AS n_distinct,
         | round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
         | round(CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / count($c), 4) AS mean_v
         |FROM lineitem""".stripMargin)
    .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // q85: Z-ORDER layout assignment — the data-layout optimization for
  // multi-dimension skipping: interleaving the bits of two pruning keys
  // gives a 1-D sort order in which any contiguous file of rows spans a
  // BOUNDED range of BOTH dimensions, so min/max row-group stats prune
  // scans for predicates on either column (a linear sort bounds only its
  // leading column). The query lays events out into 16 z-ordered files
  // and reports each file's span in both dimensions — the measurable
  // claim behind the layout: every 4096-wide z-range fixes the top two
  // bits of BOTH keys, so u_span and v_span are each ≤ 63 per file where
  // the unordered table spans 0..255. Bit interleaving and the file
  // assignment (zkey div 4096) are pure row-local integer arithmetic —
  // no global sort or window anywhere; a sorted-write deployment adds
  // the usual range partitioning on zkey.
  /** q85/q134's row-local bit interleave of (ux, vb) into the z-key. */
  private val ZExpr =
    """aggregate(sequence(0, 7), 0L, (acc, i) ->
      |  acc + (shiftleft((shiftright(ux, i) & 1), 2*i)
      |       + shiftleft((shiftright(vb, i) & 1), 2*i + 1)))""".stripMargin

  /** The (ux, vb, event_id, zkey) projection q85 and q134 share. */
  private def zProjected(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        (col("user_id") % 256).cast("long").as("ux"),
        // explicit floor: DuckDB's double→BIGINT cast rounds, Spark's
        // truncates — floor-then-cast is identical on both engines
        (floor(abs(col("value"))).cast("long") % 256).as("vb"),
        col("event_id"))
      .withColumn("zkey", expr(ZExpr))

  private def q85(s: SparkSession, d: String): DataFrame =
    zProjected(s, d)
      .withColumn("file_id", expr("zkey div 4096"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        (max("ux") - min("ux")).as("u_span"),
        (max("vb") - min("vb")).as("v_span"))
      .orderBy("file_id")

  private val q85Sql =
    """WITH k AS (SELECT event_id,
      |  CAST(user_id % 256 AS BIGINT) AS ux,
      |  CAST(floor(abs(value)) AS BIGINT) % 256 AS vb
      | FROM events),
      |z AS (SELECT *,
      |  list_aggregate(list_transform(range(0, 8), i ->
      |    (((ux >> CAST(i AS INT)) & 1) << CAST(2*i AS INT))
      |    + (((vb >> CAST(i AS INT)) & 1) << CAST(2*i + 1 AS INT))), 'sum') AS zkey
      | FROM k)
      |SELECT CAST(zkey // 4096 AS BIGINT) AS file_id, count(*) AS n_rows,
      | max(ux) - min(ux) AS u_span, max(vb) - min(vb) AS v_span
      |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin

  // q88: robust outlier detection — median/MAD, the data-quality gate that
  // (unlike mean/stddev) a few bad rows cannot drag: per event type, an
  // event is anomalous when |value − median| > 3·MAD. Two aggregation
  // passes on the same event_type key (median, then the deviation median)
  // with the tiny per-type stats broadcast back — the fact table is
  // scanned, never shuffled, and both exact medians match DuckDB's
  // quantile_cont interpolation (the q13-proven equivalence).
  private def q88(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("event_type", "value")
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(first("med"), 4).as("med"),
        round(first("mad"), 4).as("mad"),
        count(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  private val q88Sql =
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      | FROM events GROUP BY 1),
      |mad AS (SELECT e.event_type, quantile_cont(abs(value - med), 0.5) AS mad
      | FROM events e JOIN med ON e.event_type = med.event_type GROUP BY 1)
      |SELECT e.event_type AS event_type, count(*) AS n,
      | round(any_value(med.med), 4) AS med, round(any_value(mad.mad), 4) AS mad,
      | count(*) FILTER (abs(value - med.med) > 3.0 * mad.mad) AS n_outliers
      |FROM events e JOIN med ON e.event_type = med.event_type
      | JOIN mad ON e.event_type = mad.event_type
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  // q89: equi-width histograms — the distribution profile behind every
  // drift monitor: 10 bins per event type between the GLOBAL min/max
  // (one broadcast stats row), bin assignment row-local. The engines
  // compute bin = floor((value−min)/w) on identical doubles through an
  // identical expression tree, so the boundary floor is engine-exact;
  // the top edge clamps into the last bin, and a degenerate range
  // (hi == lo: constant column, or a single row) puts everything in bin
  // 0 instead of NULL-binning on a division by zero (oracle-mirrored).
  private[graft] def equiWidthHistogram(ev: DataFrame): DataFrame = {
    val stats = ev.agg(min("value").as("lo"), max("value").as("hi"))
    ev.crossJoin(broadcast(stats))
      .withColumn("bin", when(col("hi") > col("lo"), least(
        floor((col("value") - col("lo")) * 10.0 / (col("hi") - col("lo"))).cast("long"),
        lit(9L))).otherwise(0L))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")
  }

  private def q89(s: SparkSession, d: String): DataFrame =
    equiWidthHistogram(events(s, d).select("event_type", "value"))

  // q95: EQUI-DEPTH range-split layout — the write-side twin of q89's
  // equi-width histogram and the exact form of what
  // `repartitionByRange` does by sampling: compute the 7 octile
  // boundaries of the layout key in ONE aggregate pass (a 7-double
  // driver row — broadcast-class, same license as q77's sketch), then
  // assign each row its range bucket by counting boundaries strictly
  // below the key — row-local, no shuffle of data rows until the final
  // 8-row summary. Skewed keys land ~N/8 rows per bucket REGARDLESS of
  // the value distribution (q89's equi-width bins collapse under skew —
  // that is the difference between the two layouts, and why range
  // layout is what sizes balanced output files at 100 TB). Boundaries
  // are rounded to 4 decimals THROUGH THE SAME round() in both engines
  // (the q13 parity precedent) so the integer-vs-boundary comparisons
  // are engine-exact; min/max per bucket prove the ranges are disjoint
  // and ordered.
  private def q95(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
    val qs = Seq("0.125", "0.25", "0.375", "0.5", "0.625", "0.75", "0.875")
    val bRow = docs.agg(
      round(expr(s"percentile(n_chars, ${qs.head})"), 4).as("b0"),
      qs.tail.zipWithIndex.map { case (p, i) =>
        round(expr(s"percentile(n_chars, $p)"), 4).as(s"b${i + 1}") }: _*).head()
    // percentile() over ZERO rows returns NULL (the q78 empty-table
    // lesson): degrade to a single bucket 0 — docs is empty, so the
    // boundary values never reach a comparison anyway.
    val bs =
      if (bRow.isNullAt(0)) Seq.fill(7)(0.0) else (0 until 7).map(bRow.getDouble)
    val bucketCol = bs.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col("n_chars") > lit(b), 1L).otherwise(0L)
    }
    docs.withColumn("bucket", bucketCol)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("bucket")
  }

  private val q95Sql =
    """WITH b AS (SELECT
      | round(quantile_cont(n_chars, 0.125),4) AS b0, round(quantile_cont(n_chars, 0.25),4) AS b1,
      | round(quantile_cont(n_chars, 0.375),4) AS b2, round(quantile_cont(n_chars, 0.5),4) AS b3,
      | round(quantile_cont(n_chars, 0.625),4) AS b4, round(quantile_cont(n_chars, 0.75),4) AS b5,
      | round(quantile_cont(n_chars, 0.875),4) AS b6 FROM documents)
      |SELECT (CASE WHEN n_chars > b0 THEN 1 ELSE 0 END + CASE WHEN n_chars > b1 THEN 1 ELSE 0 END
      | + CASE WHEN n_chars > b2 THEN 1 ELSE 0 END + CASE WHEN n_chars > b3 THEN 1 ELSE 0 END
      | + CASE WHEN n_chars > b4 THEN 1 ELSE 0 END + CASE WHEN n_chars > b5 THEN 1 ELSE 0 END
      | + CASE WHEN n_chars > b6 THEN 1 ELSE 0 END) AS bucket, count(*) AS n,
      | min(n_chars) AS lo, max(n_chars) AS hi
      |FROM documents CROSS JOIN b GROUP BY 1 ORDER BY bucket""".stripMargin

  private val q89Sql =
    """WITH st AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
      |SELECT event_type,
      | CASE WHEN hi > lo
      |  THEN least(CAST(floor((value - lo) * 10.0 / (hi - lo)) AS BIGINT), 9)
      |  ELSE 0 END AS bin,
      | count(*) AS n
      |FROM events CROSS JOIN st
      |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  // q113: ROLLING ANOMALY FLAG — q88's robust-outlier verdict is global
  // (one broadcast median/MAD per type); this is its per-entity rolling
  // twin: each event is scored against ITS USER'S own trailing 20
  // observations (|x − μ| > 2σ over the frame), which is how per-device /
  // per-account drift detection actually runs. The frame is ROWS BETWEEN
  // 20 PRECEDING AND 1 PRECEDING — bounded and partitioned by user_id, so
  // the window never sees more than 20 rows per entity and never sorts
  // more than one user's events in a task (the q77/q78 partitionless-
  // window lesson, inverted: HERE the window is the right tool). The
  // σ test is INTEGER-EXACT via cross-multiplied moment sums on
  // floor(value·1000): (n·x − s1)² > 4·(n·s2 − s1²) ⟺ (x−μ)² > 4σ²,
  // with n ≤ 20 bounding every product far below Long range — no float
  // variance near the decision boundary, so the flag cannot flip between
  // engines (the q92/q108 precedent, extended to second moments).
  // A row is scored only once its frame has ≥ 10 observations: a 2σ
  // test against fewer is noise, and the report says so honestly.
  private def q113(s: SparkSession, d: String): DataFrame = {
    val fr = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    events(s, d)
      .withColumn("vm", floor(col("value") * 1000).cast("long"))
      .withColumn("n", count(col("vm")).over(fr))
      .withColumn("s1", sum("vm").over(fr))
      .withColumn("s2", sum(col("vm") * col("vm")).over(fr))
      .withColumn("scored", when(col("n") >= 10, 1L).otherwise(0L))
      .withColumn("anom", when(col("n") >= 10 &&
        (col("n") * col("vm") - col("s1")) * (col("n") * col("vm") - col("s1"))
          > lit(4L) * (col("n") * col("s2") - col("s1") * col("s1")), 1L)
        .otherwise(0L))
      .groupBy("event_type")
      .agg(sum("scored").as("n_scored"),
        sum("anom").as("n_anomalies"),
        sum(when(col("anom") === 1, col("event_id")).otherwise(0L)).as("id_checksum"))
      .orderBy("event_type")
  }

  private val q113Sql =
    """WITH p AS (SELECT event_type, event_id, user_id, ts,
      |  CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
      |w AS (SELECT event_type, event_id, vm,
      |  count(vm) OVER fr AS n, sum(vm) OVER fr AS s1, sum(vm * vm) OVER fr AS s2
      | FROM p WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |f AS (SELECT event_type, event_id,
      |  CASE WHEN n >= 10 THEN 1 ELSE 0 END AS scored,
      |  CASE WHEN n >= 10 AND (n * vm - s1) * (n * vm - s1) > 4 * (n * s2 - s1 * s1)
      |       THEN 1 ELSE 0 END AS anom
      | FROM w)
      |SELECT event_type, CAST(sum(scored) AS BIGINT) AS n_scored,
      | CAST(sum(anom) AS BIGINT) AS n_anomalies,
      | CAST(sum(CASE WHEN anom = 1 THEN event_id ELSE 0 END) AS BIGINT) AS id_checksum
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // q117: PER-GROUP TREND SLOPE via sufficient statistics — regression at
  // corpus scale is not "fit a model", it is ONE partial-aggregated pass
  // collecting (n, Σx, Σy, Σxy, Σx²) per group; the OLS slope is pure
  // arithmetic on the five scalars. The sums are integer-exact (x =
  // whole seconds since the q87 epoch, y = floor-milli value), so the
  // shuffle carries five scalars per group per map task and engine
  // summation order cannot move a bit. The second-moment sums (Σxy, Σx²)
  // and the closing cross-products (n·Σxy − Σx·Σy etc.) exceed Long
  // range at year-of-data × large-group scale (x² ≈ 9.7e14 at one year
  // of seconds; ~10⁴ rows overflow a Long sum), so BOTH accumulate in
  // DECIMAL(38) (DuckDB mirrors with HUGEINT — exact integer arithmetic
  // either way), and only the final division is floating point, rounded
  // like every float surface in this engine (q13/q95 precedent). Slope
  // is reported in milli-value per DAY — the drift number an operator
  // actually reads.
  private def q117(s: SparkSession, d: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    events(s, d)
      .withColumn("x", unix_timestamp(col("ts")) - lit(1704067200L))
      .withColumn("y", floor(col("value") * 1000).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .withColumn("num",
        (dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("den",
        (dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double"))
      // a group whose events share one timestamp has den = 0: slope is
      // undefined — report NULL explicitly (DuckDB's x/0 is NULL; Spark's
      // double behavior must not be left to ANSI-mode chance)
      .select(col("event_type"), col("n"),
        when(col("den") === 0d, lit(null).cast("double"))
          .otherwise(round(col("num") / col("den") * 86400, 6))
          .as("slope_milli_per_day"))
      .orderBy("event_type")
  }

  private val q117Sql =
    """WITH p AS (SELECT event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
      |  CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
      |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |  sum(x*y) AS sxy, sum(x*x) AS sxx FROM p GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      | round(CAST(n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT AS DOUBLE) /
      |       CAST(n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT AS DOUBLE)
      |       * 86400, 6) AS slope_milli_per_day
      |FROM s ORDER BY event_type""".stripMargin

  // q118: RE-AGGREGATABLE DISTINCT via HLL SKETCH MERGE — the property
  // q32's one-shot approx_count_distinct does not exercise: daily
  // per-group sketches are built ONCE (hll_sketch_agg), persisted at
  // day grain, and any rollup (weekly, monthly, all-time) is a UNION of
  // sketches (hll_union_agg) — never a rescan of raw events. That
  // re-aggregation is the entire reason sketches exist at 100 TB: exact
  // distinct cannot roll up (a user active on 30 days must not count 30
  // times), so every new window would rescan the corpus. The sketch
  // estimate is engine-specific, so it must NOT sit in a hash-compared
  // column: r7 shipped a `within_5pct` column whose oracle hardcoded
  // TRUE — any fixture where the estimate drifted past 5% would have
  // failed the hash for a reason unrelated to query correctness (r7
  // ADVICE). The verdict now rides the non-hashed channel instead: an
  // `observe()` metric counts groups outside the 5% bound (which also
  // pins the sketch path into the plan — column pruning cannot remove an
  // expression a CollectMetrics node references), the hashed output
  // carries only the deterministic columns, and AuditOpsSpec asserts the
  // tight bound directly on the estimates. (q32 keeps its verdict-column
  // contract deliberately: there the verdict IS the operator under test;
  // here the operator is sketch mergeability.)
  private def q118(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val merged = ev
      .withColumn("day", floor(unix_timestamp(col("ts")) / 86400).cast("long"))
      .groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .observe("q118_sketch_bound",
        sum(when(abs(col("est") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05, 0L).otherwise(1L))
          .as("n_outside_5pct"))
      .select(col("event_type"), col("n_days"), col("exact_users"))
      .orderBy("event_type")
  }

  private val q118Sql =
    """SELECT event_type,
      | count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS n_days,
      | count(DISTINCT user_id) AS exact_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q134: ZONE-MAP SKIP-RATE AUDIT — makes q85's layout claim MEASURABLE:
  // build min/max zone maps for the same 16-file budget under two
  // layouts (arrival = event_id ranges; z-order = q85's zkey ranges),
  // replay a fixed 16-predicate range workload per dimension against
  // the maps, and report the fraction of (file, predicate) cells a
  // scanner skips (file skipped ⇔ max < lo ∨ min > hi — exactly the
  // row-group pruning rule). Expected shape, now oracle-pinned instead
  // of asserted in prose: arrival order is uncorrelated with both keys
  // (skip ≈ 0), z-order bounds BOTH dimensions per file (skip high in u
  // AND v). Cost: ONE scan builds both layouts' zone maps from a shared
  // persisted projection (the q110 one-scan lesson); everything after
  // runs on 2×16 map rows × 16 predicates — metadata. The arrival file
  // width derives from max(event_id) in-plan (broadcast aggregate row,
  // the q129 stats pattern), so no driver-side scalar at all.
  private def q134(s: SparkSession, d: String): DataFrame = {
    val withMax = zProjected(s, d)
      .crossJoin(broadcast(events(s, d).agg(max("event_id").as("mid"))))
    val base = graft.Caches.persist(withMax
      .withColumn("file_z", expr("zkey div 4096"))
      .withColumn("file_a", expr("event_id div (mid div 16 + 1)")))
    def zones(fileCol: String, layout: String): DataFrame =
      base.groupBy(col(fileCol).as("file_id"))
        .agg(min("ux").as("umin"), max("ux").as("umax"),
          min("vb").as("vmin"), max("vb").as("vmax"))
        .withColumn("layout", lit(layout))
    val z = zones("file_z", "zorder").unionByName(zones("file_a", "arrival"))
    val preds = s.range(16).select((col("id") * 16).as("lo"), (col("id") * 16 + 15).as("hi"))
    val joined = z.crossJoin(broadcast(preds))
    val cells = joined.select(col("layout"), lit("u").as("dim"),
        when(col("umax") < col("lo") || col("umin") > col("hi"), 1L).otherwise(0L).as("skip"))
      .unionByName(joined.select(col("layout"), lit("v").as("dim"),
        when(col("vmax") < col("lo") || col("vmin") > col("hi"), 1L).otherwise(0L).as("skip")))
    cells.groupBy("layout", "dim")
      .agg(count(lit(1)).as("n_cells"), sum("skip").as("n_skipped"))
      .withColumn("skip_pct", expr("(n_skipped * 100) div n_cells"))
      .orderBy("layout", "dim")
  }

  private val q134Sql =
    """WITH k AS (SELECT event_id,
      |  CAST(user_id % 256 AS BIGINT) AS ux,
      |  CAST(floor(abs(value)) AS BIGINT) % 256 AS vb
      | FROM events),
      |z AS (SELECT *,
      |  list_aggregate(list_transform(range(0, 8), i ->
      |    (((ux >> CAST(i AS INT)) & 1) << CAST(2*i AS INT))
      |    + (((vb >> CAST(i AS INT)) & 1) << CAST(2*i + 1 AS INT))), 'sum') AS zkey
      | FROM k),
      |m AS (SELECT max(event_id) AS mid FROM events),
      |f AS (SELECT ux, vb, zkey // 4096 AS file_z,
      |  event_id // (mid // 16 + 1) AS file_a FROM z CROSS JOIN m),
      |zn AS (SELECT 'zorder' AS layout, file_z AS file_id,
      |   min(ux) AS umin, max(ux) AS umax, min(vb) AS vmin, max(vb) AS vmax
      |  FROM f GROUP BY 2
      | UNION ALL
      | SELECT 'arrival' AS layout, file_a AS file_id,
      |   min(ux), max(ux), min(vb), max(vb)
      |  FROM f GROUP BY 2),
      |preds AS (SELECT r.range * 16 AS lo, r.range * 16 + 15 AS hi FROM range(16) r),
      |cells AS (
      | SELECT layout, 'u' AS dim,
      |  CASE WHEN umax < lo OR umin > hi THEN 1 ELSE 0 END AS skp
      | FROM zn CROSS JOIN preds
      | UNION ALL
      | SELECT layout, 'v' AS dim,
      |  CASE WHEN vmax < lo OR vmin > hi THEN 1 ELSE 0 END AS skp
      | FROM zn CROSS JOIN preds)
      |SELECT layout, dim, count(*) AS n_cells,
      | CAST(sum(skp) AS BIGINT) AS n_skipped,
      | (CAST(sum(skp) AS BIGINT) * 100) // count(*) AS skip_pct
      |FROM cells GROUP BY 1, 2 ORDER BY layout, dim""".stripMargin

  /** q138's per-task row target: a hot key is one whose row count exceeds
    * this, and its salt count is ceil(freq / target) capped at the shuffle
    * parallelism (32 here, matching spark.sql.shuffle.partitions). */
  private[graft] val SaltTarget = 50L

  // q138: ADAPTIVE SALT PLANNER — the planning step whose output q64's
  // salted aggregation hardcodes: q64 salts EVERY key with a fixed salt
  // count, which wastes combine passes on cold keys and under-splits the
  // truly hot ones; this query derives the per-key salt count from the
  // data. One partial-agg'd pass produces per-key row counts (map-side
  // combine means the shuffle carries |keys| rows, never data rows); keys
  // with freq > SaltTarget are hot, each gets salt_n = min(ceil(freq /
  // SaltTarget), 32) — the sub-task fan-out for its rows — and max_slice
  // = ceil(freq / salt_n), the post-salting worst task, which the spec
  // proves never exceeds SaltTarget while salt_n stays uncapped.
  // share_bp contextualizes each key against the corpus via the 1-row
  // total joined with q134's crossJoin(broadcast(agg)) idiom (never a
  // .collect()). Output is hot-key-grain: skew MEANS few hot keys, so at
  // 100 TB the plan is metadata-sized and ships to q64 as a broadcast.
  // All-integer arithmetic: ceil(a/b) as (a + b - 1) div b.
  /** The plan derivation itself, over a `(user_id, freq)` count table —
    * shared verbatim by batch q138 and the streaming twin
    * (`streaming/SaltStream` maintains the counts incrementally and runs
    * THIS function on the maintained table, so stream ≡ batch is exact by
    * construction once the counts converge). Total rows come from the
    * count table (Σ freq ≡ corpus row count), keeping the derivation a
    * pure function of the counts. */
  private[graft] def saltPlanFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum("freq").as("total"))
    counts
      .filter(col("freq") > SaltTarget)
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("(freq * 10000) div total"))
      .withColumn("salt_n",
        least(expr(s"(freq + ${SaltTarget - 1}L) div ${SaltTarget}L"), lit(32L)))
      .withColumn("max_slice", expr("(freq + salt_n - 1) div salt_n"))
      .select("user_id", "freq", "share_bp", "salt_n", "max_slice")
      .orderBy(desc("freq"), col("user_id"))
  }

  // user_id IS NOT NULL: beyond the count semantics, a null HOT key
  // would order differently in the output (Spark sorts nulls first,
  // DuckDB last) — excluded on both sides rather than left to the
  // fixture's non-null contract.
  private def q138(s: SparkSession, d: String): DataFrame =
    saltPlanFromCounts(graft.Caches.persist(
      events(s, d).filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("freq"))))

  private val q138Sql =
    s"""WITH c AS (SELECT user_id, count(*) AS freq FROM events
      |  WHERE user_id IS NOT NULL GROUP BY 1),
      |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM c),
      |p AS (SELECT user_id, freq, (freq * 10000) // total AS share_bp,
      |   least((freq + ${SaltTarget - 1}) // $SaltTarget, 32) AS salt_n
      |  FROM c CROSS JOIN t WHERE freq > $SaltTarget)
      |SELECT user_id, CAST(freq AS BIGINT) AS freq, share_bp, salt_n,
      | (freq + salt_n - 1) // salt_n AS max_slice
      |FROM p ORDER BY freq DESC, user_id""".stripMargin

  /** q150's compaction target: merged groups aim for ≤ this many rows. */
  private[graft] val CompactTarget = 500L

  // q150: SMALL-FILE COMPACTION PLANNER — the maintenance operator every
  // long-lived table needs: per-feed-per-day ingest files (the realistic
  // small-file generator — (event_type, day) partitions of wildly varying
  // size) are planned into merge groups near CompactTarget rows WITHOUT
  // breaking feed/time locality: groups only ever combine CONSECUTIVE
  // days of ONE feed, so the compacted layout keeps the (type, day)
  // clustering that q134-style zone maps prune on. Mechanically it is
  // q78's prefix-sum packing per stratum: file sizes from one grouped
  // count (file grain = |types|·days — metadata), running row sum via a
  // window partitioned by feed over the day-bounded frame, group id =
  // (cum − n) div target — a file joins the open group while its
  // PREDECESSORS haven't filled it yet. Files are never split (an
  // oversized file lands whole and overflows its group), so a group's
  // rows exceed the target only by less than its own final file, and
  // group ids per feed are non-decreasing in day order — both asserted
  // in the spec.
  private def q150(s: SparkSession, d: String): DataFrame = {
    val files = events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum("n_rows").over(w))
      .withColumn("grp", expr(s"(cum - n_rows) div ${CompactTarget}L"))
      .groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        min("day").as("day_from"), max("day").as("day_to"))
      .orderBy("event_type", "grp")
  }

  private val q150Sql =
    s"""WITH f AS (SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |   count(*) AS n_rows
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT *, CAST(sum(n_rows) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum
      |  FROM f),
      |g AS (SELECT event_type, (cum - n_rows) // $CompactTarget AS grp, n_rows, day FROM c)
      |SELECT event_type, grp, count(*) AS n_files, CAST(sum(n_rows) AS BIGINT) AS n_rows,
      | min(day) AS day_from, max(day) AS day_to
      |FROM g GROUP BY 1, 2 ORDER BY event_type, grp""".stripMargin

  // q151: FEED FRESHNESS AUDIT — is each feed still arriving, and how
  // bursty is it? Complementary to q121 (distribution drift) and q113
  // (value anomalies): this one is about PRESENCE — last-seen lag against
  // the corpus clock, the largest silent gap in the feed's active-day
  // sequence (a lag window over the per-feed day list — bounded by the
  // observation window in days), active-day count, and mean events per
  // active day in milli. One grouped count collapses the stream to
  // (feed, day) grain; everything downstream is metadata arithmetic.
  /** The (event_type, day, n) grid both q151 and q157 reduce the stream
    * to — and the table `streaming/GridStream` maintains incrementally:
    * the derivations below are pure functions of this grid, so each
    * batch query and its streaming form share one implementation. */
  private[graft] def feedDayGrid(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))

  /** q151's report over a feed-day grid. */
  private[graft] def freshnessFromGrid(days: DataFrame): DataFrame = {
    val wl = Window.partitionBy("event_type").orderBy("day")
    days
      .withColumn("gap", col("day") - lag("day", 1).over(wl))
      .groupBy("event_type")
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_days_active"),
        max("day").as("last_day"), max(coalesce(col("gap"), lit(0L))).as("max_gap_days"))
      .crossJoin(broadcast(days.agg(max("day").as("corpus_last"))))
      .withColumn("lag_days", col("corpus_last") - col("last_day"))
      .withColumn("events_per_day_milli", expr("(n_events * 1000) div n_days_active"))
      .select("event_type", "n_events", "n_days_active", "lag_days",
        "max_gap_days", "events_per_day_milli")
      .orderBy("event_type")
  }

  private def q151(s: SparkSession, d: String): DataFrame =
    freshnessFromGrid(feedDayGrid(s, d))

  private val q151Sql =
    """WITH d AS (SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |   count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT *, day - lag(day) OVER (PARTITION BY event_type ORDER BY day) AS gap FROM d),
      |a AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      |   count(*) AS n_days_active, max(day) AS last_day,
      |   max(coalesce(gap, 0)) AS max_gap_days
      |  FROM g GROUP BY 1),
      |cl AS (SELECT max(day) AS corpus_last FROM d)
      |SELECT event_type, n_events, n_days_active, corpus_last - last_day AS lag_days,
      | max_gap_days, (n_events * 1000) // n_days_active AS events_per_day_milli
      |FROM a CROSS JOIN cl ORDER BY event_type""".stripMargin

  // q165: COLUMN-ENCODING ADVISOR — the storage-layout toolkit's missing
  // member (q85 orders, q95 partitions, q134 measures skipping, q150
  // packs files; this one picks ENCODINGS): per (source, column), the
  // exact inputs a parquet/ORC writer weighs — cardinality, run count in
  // arrival order, run count after sorting (= cardinality) — and the
  // payload-bit arithmetic for plain vs dictionary vs RLE, with the
  // winning encoding named. The run count is the scale lesson: runs are
  // inherently sequential, but they COMPOSE — per 8192-row block, count
  // internal value changes (a block-bounded window, never a data-grain
  // one) plus first/last values; a block-grid pass then subtracts one
  // run wherever a block's first value equals its predecessor's last
  // (the q78 two-phase prefix idiom applied to run-length encoding).
  // Bit widths are integer-exact via length(bin(nd-1)) — no float log2
  // to hash-diverge on. All arithmetic BIGINT; verdict CASE order
  // mirrored in the oracle.
  private def q165(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("source"), col("doc_id"),
        explode(map(
          lit("lang"), col("lang"),
          lit("len_bucket"), expr("CAST(n_chars div 100 AS STRING)"))))
      .select(col("source"), col("doc_id"), col("key").as("cname"), col("value").as("v"))
      .withColumn("b", expr("doc_id div 8192"))
    // read twice (run-length path + distinct-count path) — one scan, the
    // q98/vecBase persistence contract
    graft.Caches.persist(base)
    val wIn = Window.partitionBy("source", "cname", "b").orderBy("doc_id")
    val blk = base
      .withColumn("prev", lag("v", 1).over(wIn))
      .groupBy("source", "cname", "b")
      .agg(count(lit(1)).as("bn"),
        sum(when(col("prev").isNull || col("prev") =!= col("v"), 1L).otherwise(0L))
          .as("internal_runs"),
        min_by(col("v"), col("doc_id")).as("first_v"),
        max_by(col("v"), col("doc_id")).as("last_v"),
        sum(length(col("v")).cast("long")).as("chars_b"))
    val wB = Window.partitionBy("source", "cname").orderBy("b")
    val runs = blk
      .withColumn("prev_last", lag("last_v", 1).over(wB))
      .withColumn("adj",
        when(col("prev_last").isNotNull && col("prev_last") === col("first_v"), -1L)
          .otherwise(0L))
      .groupBy("source", "cname")
      .agg(sum("bn").as("n"),
        (sum("internal_runs") + sum("adj")).as("n_runs"),
        sum("chars_b").as("plain_chars"))
    val nd = base.groupBy("source", "cname").agg(countDistinct("v").as("n_distinct"))
    runs.join(nd, Seq("source", "cname"))
      .withColumn("width", length(bin(col("n_distinct") - 1)).cast("long"))
      .withColumn("plain_bits", col("plain_chars") * 8)
      .withColumn("dict_bits", col("n") * col("width"))
      .withColumn("rle_bits", col("n_runs") * (col("width") + 32))
      .withColumn("rle_sorted_bits", col("n_distinct") * (col("width") + 32))
      .withColumn("best",
        when(col("dict_bits") <= col("rle_bits") && col("dict_bits") <= col("plain_bits"), "dict")
          .when(col("rle_bits") <= col("plain_bits"), "rle")
          .otherwise("plain"))
      .select(col("source"), col("cname"), col("n"), col("n_distinct"), col("n_runs"),
        col("plain_bits"), col("dict_bits"), col("rle_bits"), col("rle_sorted_bits"),
        col("best"))
      .orderBy("source", "cname")
  }

  private val q165Sql =
    """WITH base AS (
      |  SELECT source, doc_id, 'lang' AS cname, lang AS v, doc_id // 8192 AS b
      |   FROM documents
      |  UNION ALL
      |  SELECT source, doc_id, 'len_bucket', CAST(n_chars // 100 AS VARCHAR), doc_id // 8192
      |   FROM documents),
      |lg AS (SELECT *, lag(v) OVER (PARTITION BY source, cname, b ORDER BY doc_id) AS prev
      |  FROM base),
      |blk AS (SELECT source, cname, b, count(*) AS bn,
      |   sum(CASE WHEN prev IS NULL OR prev <> v THEN 1 ELSE 0 END) AS internal_runs,
      |   arg_min(v, doc_id) AS first_v, arg_max(v, doc_id) AS last_v,
      |   sum(length(v)) AS chars_b
      |  FROM lg GROUP BY 1, 2, 3),
      |bl AS (SELECT *, lag(last_v) OVER (PARTITION BY source, cname ORDER BY b) AS prev_last
      |  FROM blk),
      |runs AS (SELECT source, cname, CAST(sum(bn) AS BIGINT) AS n,
      |   CAST(sum(internal_runs) + sum(CASE WHEN prev_last IS NOT NULL
      |     AND prev_last = first_v THEN -1 ELSE 0 END) AS BIGINT) AS n_runs,
      |   CAST(sum(chars_b) AS BIGINT) AS plain_chars
      |  FROM bl GROUP BY 1, 2),
      |nd AS (SELECT source, cname, count(DISTINCT v) AS n_distinct FROM base GROUP BY 1, 2),
      |j AS (SELECT r.*, nd.n_distinct,
      |   CAST(length(bin(nd.n_distinct - 1)) AS BIGINT) AS width
      |  FROM runs r JOIN nd USING (source, cname))
      |SELECT source, cname, n, CAST(n_distinct AS BIGINT) AS n_distinct, n_runs,
      | plain_chars * 8 AS plain_bits, n * width AS dict_bits,
      | n_runs * (width + 32) AS rle_bits,
      | CAST(n_distinct * (width + 32) AS BIGINT) AS rle_sorted_bits,
      | CASE WHEN n * width <= n_runs * (width + 32)
      |       AND n * width <= plain_chars * 8 THEN 'dict'
      |      WHEN n_runs * (width + 32) <= plain_chars * 8 THEN 'rle'
      |      ELSE 'plain' END AS best
      |FROM j ORDER BY source, cname""".stripMargin

  // q172: FEATURE-CORRELATION AUDIT — q117's sufficient-stats discipline
  // extended from slope to DEPENDENCE: per feed, Pearson r between the
  // metric value and two calendar features (hour-of-day, day-of-week),
  // each from ONE partial-agg'd pass collecting integer moment sums in
  // DECIMAL(38). Calendar features are epoch arithmetic ((epoch div
  // 3600) mod 24; (epoch div 86400 + 4) mod 7), NEVER hour()/dayofweek()
  // — the zone-dependent builtins are exactly what the q125/MetricStream
  // lesson banned. The closing r = num/√(d1·d2) runs in doubles: casts
  // of exact DECIMALs round identically, and IEEE sqrt (unlike exp/log)
  // is exactly rounded on both engines, so round(…, 6) is hash-stable —
  // the q117 closing-division precedent. Zero-variance groups report
  // NULL explicitly. Why an audit at all: a strong value×hour dependence
  // means q113's anomaly baseline and q121's drift strata are
  // confounded by time-of-day and need the q125 seasonal profile as a
  // covariate — this is the check that says whether they do.
  private def q172(s: SparkSession, d: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val base = events(s, d)
      .withColumn("ep", unix_timestamp(col("ts")))
      .withColumn("h", expr("(ep div 3600) % 24"))
      .withColumn("w", expr("(ep div 86400 + 4) % 7"))
      .withColumn("y", floor(col("value") * 1000).cast("long"))
    def corrCol(sxy: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        sxx: org.apache.spark.sql.Column) = {
      val num = (dec(col("n")) * sxy - sx * col("sy")).cast("double")
      val d1 = (dec(col("n")) * sxx - sx * sx).cast("double")
      val d2 = (dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")
      when(d1 === 0d || d2 === 0d, lit(null).cast("double"))
        .otherwise(round(num / sqrt(d1 * d2), 6))
    }
    base.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("y"))).as("sy"), sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("h"))).as("sh"), sum(dec(col("h")) * dec(col("h"))).as("shh"),
        sum(dec(col("h")) * dec(col("y"))).as("shy"),
        sum(dec(col("w"))).as("sw"), sum(dec(col("w")) * dec(col("w"))).as("sww"),
        sum(dec(col("w")) * dec(col("y"))).as("swy"))
      .select(col("event_type"), col("n"),
        corrCol(col("shy"), col("sh"), col("shh")).as("corr_value_hour"),
        corrCol(col("swy"), col("sw"), col("sww")).as("corr_value_dow"))
      .orderBy("event_type")
  }

  private val q172Sql =
    """WITH p AS (SELECT event_type,
      |  (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS h,
      |  (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS w,
      |  CAST(floor(value * 1000) AS BIGINT) AS y FROM events),
      |s AS (SELECT event_type, count(*) AS n,
      |  sum(y) AS sy, sum(y*y) AS syy,
      |  sum(h) AS sh, sum(h*h) AS shh, sum(h*y) AS shy,
      |  sum(w) AS sw, sum(w*w) AS sww, sum(w*y) AS swy
      | FROM p GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      | CASE WHEN CAST(n*shh - sh*sh AS DOUBLE) = 0 OR CAST(n*syy - sy*sy AS DOUBLE) = 0
      |      THEN NULL
      |      ELSE round(CAST(n*shy - sh*sy AS DOUBLE)
      |        / sqrt(CAST(n*shh - sh*sh AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
      | END AS corr_value_hour,
      | CASE WHEN CAST(n*sww - sw*sw AS DOUBLE) = 0 OR CAST(n*syy - sy*sy AS DOUBLE) = 0
      |      THEN NULL
      |      ELSE round(CAST(n*swy - sw*sy AS DOUBLE)
      |        / sqrt(CAST(n*sww - sw*sw AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
      | END AS corr_value_dow
      |FROM s ORDER BY event_type""".stripMargin

  // q175: SHARD REBALANCE PLANNER — the consumer-scaling decision the
  // reference feed forces on every operator (a Kinesis consumer fleet
  // must map shards to workers; /root/reference/docs/user-guide.md:11-13
  // names the shard-fanned stream): given observed per-shard byte
  // throughput, produce a deterministic shard→worker assignment and its
  // imbalance report. Assignment is boustrophedon ("snake") over shards
  // sorted by load: rank shards desc, then worker = pos for even passes
  // and W-1-pos for odd passes — the classic deterministic near-LPT
  // schedule that needs NO sequential greedy loop, so it is pure window
  // arithmetic over the shard grid. Shape at 100 TB: the only
  // corpus-scale work is the per-shard load aggregate (partial-agg'd,
  // |shards| keys); the planner itself runs on the |shards|-row metadata
  // grid — the same bounded-grid single-partition idiom as q78/q138 —
  // and emits one row per worker. All integer arithmetic; hash-exact.
  private def q175(s: SparkSession, d: String): DataFrame =
    rebalanceFromLoads(events(s, d)
      .withColumn("shard", col("user_id") % 32)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_events"), sum(length(col("props"))).as("load")))

  /** q175's planner core over any `(shard, n_events, load)` table —
    * separated (the q138 `saltPlanFromCounts` precedent) so the
    * streaming twin (`streaming/ShardStream`) can run the IDENTICAL
    * plan over its incrementally-maintained load table: stream ≡ batch
    * holds by construction, and specs plant known load staircases. */
  def rebalanceFromLoads(loads: DataFrame): DataFrame = {
    val W = 4
    val wRank = Window.orderBy(desc("load"), col("shard"))
    val planned = loads
      .withColumn("rn", row_number().over(wRank) - 1)
      .withColumn("worker",
        when(expr(s"(rn div $W) % 2 = 0"), col("rn") % W)
          .otherwise(lit(W - 1) - col("rn") % W))
    planned
      .groupBy("worker")
      .agg(count(lit(1)).as("n_shards"),
        sum(col("n_events")).as("n_events"),
        sum(col("load")).as("load"))
      .crossJoin(broadcast(planned.agg(sum(col("load")).as("total"))))
      .select(col("worker"), col("n_shards"), col("n_events"), col("load"),
        expr("load * 1000 div total").as("share_permille"),
        expr(s"load * $W * 1000 div total").as("vs_ideal_permille"))
      .orderBy("worker")
  }

  private val q175Sql =
    """WITH l AS (SELECT user_id % 32 AS shard, count(*) AS n_events,
      |  sum(length(props)) AS load FROM events GROUP BY 1),
      |r AS (SELECT *, row_number() OVER (ORDER BY load DESC, shard) - 1 AS rn FROM l),
      |p AS (SELECT *, CASE WHEN (rn // 4) % 2 = 0 THEN rn % 4 ELSE 3 - rn % 4 END AS worker
      |  FROM r),
      |w AS (SELECT worker, count(*) AS n_shards, sum(n_events) AS n_events,
      |  sum(load) AS load FROM p GROUP BY 1),
      |t AS (SELECT sum(load) AS total FROM p)
      |SELECT CAST(worker AS BIGINT) AS worker, n_shards,
      | CAST(n_events AS BIGINT) AS n_events, CAST(load AS BIGINT) AS load,
      | CAST(load * 1000 // total AS BIGINT) AS share_permille,
      | CAST(load * 4 * 1000 // total AS BIGINT) AS vs_ideal_permille
      |FROM w CROSS JOIN t ORDER BY worker""".stripMargin

  /** Two-phase dense global rank — the q78 prefix-sum idiom packaged as
    * the engine's "row_number() over a global ORDER BY" replacement.
    * `bucket` MUST be a prefix of the global sort order (rows sort by
    * (bucket, orderCols...)): phase 1 collapses the corpus to per-bucket
    * counts and prefix-sums them on the bounded bucket grid (the
    * single-partition-BY-CHOICE window, stated via the non-foldable
    * pmod key q78/q77 use); phase 2 is a within-bucket row_number —
    * every window in the plan is partitioned, nothing ever funnels the
    * raw rows through one task. Returns the input plus `ordinal`
    * (1-based). The caller picks bucket granularity: a hash prefix for
    * uniform spread (q188), an id range for locality (q187). */
  private[operators] def denseOrdinal(
      df: DataFrame, bucket: org.apache.spark.sql.Column,
      orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val t = df.withColumn("__bkt", bucket)
    val offs = t.groupBy("__bkt").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum("__n").over(Window.partitionBy(pmod(crc32(col("__bkt").cast("string")), lit(1L)))
          .orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bkt", "__off")
    val wIn = Window.partitionBy("__bkt").orderBy(orderCols: _*)
    t.join(broadcast(offs), "__bkt")
      .withColumn("ordinal", col("__off") + row_number().over(wIn))
      .drop("__bkt", "__off")
  }

  // q193: RENDEZVOUS-HASH RESCALE CHURN — q175 plans shard→worker
  // placement from LOADS; this certifies the PLACEMENT FUNCTION's churn
  // contract when the fleet elastically rescales. Highest-random-weight
  // (HRW) assignment — worker = argmax_w md5(key ':' w) — guarantees
  // that growing W→W+1 moves exactly the keys whose new-worker hash wins
  // (expectation 1/(W+1)); every other key stays put, which is the whole
  // reason HRW beats mod-W (mod moves ~W/(W+1) of all keys: a state
  // migration storm). The audit computes both assignments ROW-LOCALLY
  // (one 5-hash array per key, argmax by hex compare — md5 hex is
  // fixed-width lowercase so string order IS 128-bit numeric order, the
  // q74 split convention) and reports per-source moved counts against
  // the 200‰ expectation. ONE partial-agg'd shuffle on source; nothing
  // else leaves the scan. The spec pins the HRW identity itself:
  // moved ⇔ the new worker won.
  private def q193(s: SparkSession, d: String): DataFrame = {
    val hs = "transform(sequence(0, 4), w -> md5(concat(cast(doc_id as string), ':', cast(w as string))))"
    documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("h", expr(hs))
      .withColumn("a_old", expr("array_position(slice(h, 1, 4), array_max(slice(h, 1, 4))) - 1"))
      .withColumn("a_new", expr("array_position(h, array_max(h)) - 1"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a_old") =!= col("a_new"), 1L).otherwise(0L)).as("n_moved"))
      .select(col("source"), col("n_docs"), col("n_moved"),
        expr("n_moved * 1000 div n_docs").as("moved_permille"))
      .orderBy("source")
  }

  private val q193Sql =
    """WITH h AS (SELECT source, doc_id,
      |  list_transform(range(0, 5),
      |    w -> md5(doc_id::VARCHAR || ':' || w::VARCHAR)) AS hs
      | FROM documents),
      |a AS (SELECT source,
      |  list_position(hs[1:4], list_aggregate(hs[1:4], 'max')) - 1 AS a_old,
      |  list_position(hs, list_aggregate(hs, 'max')) - 1 AS a_new
      | FROM h),
      |g AS (SELECT source, count(*) AS n_docs,
      |  sum(CASE WHEN a_old <> a_new THEN 1 ELSE 0 END) AS n_moved
      | FROM a GROUP BY source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      | CAST(n_moved AS BIGINT) AS n_moved,
      | CAST(n_moved * 1000 // n_docs AS BIGINT) AS moved_permille
      |FROM g ORDER BY source""".stripMargin

  // q187: GLOBAL ORDINAL — contiguous 1..N row numbering by a global sort
  // key, the operator behind every "give each example a stable position"
  // step (curriculum order, resumable sharding, stable example ids), and
  // the one naive plans get wrong: row_number() over a partitionless
  // ORDER BY funnels the corpus through ONE task (the q14 funnel, but
  // avoidable here because dense numbering is associative). This is
  // denseOrdinal on the (source, doc_id) sort with the id-range bucket
  // (source, doc_id div packWidth): counts prefix-sum on the bounded
  // bucket grid, numbering is per-bucket — the exact plan a 1000-executor
  // run needs. Output samples every 97th ordinal (bounded, hash-exact);
  // the spec proves equality with the naive global window row by row.
  private def q187(s: SparkSession, d: String): DataFrame = {
    val maxIdRow = documents(s, d).agg(max(col("doc_id")).cast("long")).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val w = packWidth(maxId)
    val docs = documents(s, d).select(col("source"), col("doc_id"))
    denseOrdinal(docs,
        concat_ws(" ", col("source"), lpad(expr(s"doc_id div $w"), 19, "0")),
        Seq(col("doc_id")))
      .filter(pmod(col("ordinal"), lit(97L)) === 1L)
      .select(col("ordinal").cast("long").as("ordinal"), col("source"), col("doc_id"))
      .orderBy("ordinal")
  }

  private val q187Sql =
    """SELECT CAST(ordinal AS BIGINT) AS ordinal, source, doc_id FROM (
      | SELECT row_number() OVER (ORDER BY source, doc_id) AS ordinal,
      |        source, doc_id FROM documents)
      |WHERE ordinal % 97 = 1 ORDER BY ordinal""".stripMargin

  // q185: FREQUENT CO-OCCURRING PAIRS (market-basket mining) — the
  // co-occurrence family's relational member: q103 mines text bigrams by
  // integer lift, this mines part-pairs from order baskets, the apriori
  // way. Two structural guards make it 100 TB-shaped:
  //  - APRIORI PRUNE: a part in < 2 baskets cannot appear in a pair with
  //    support ≥ 2, so singletons are pruned BEFORE the pair self-join —
  //    the frequent-singleton dim is Zipf-small and broadcast, and the
  //    pruned basket frame is what shuffles on the basket key (the
  //    classic Agrawal-Srikant candidate-generation step, as a join
  //    topology choice);
  //  - MEGA-BASKET GUARD: a basket of w items emits C(w,2) pairs, so
  //    baskets wider than 64 items are dropped whole (Guards.capBuckets,
  //    oracle-mirrored HAVING) — the market-basket twin of the LSH
  //    hot-bucket cap; TPC-H baskets are ≤ 7 wide, so on this data the
  //    guard is pure insurance.
  // Pair counts partial-aggregate on (p1, p2); the report is top-20 by
  // (support, p1, p2) via TakeOrderedAndProject with integer lift_milli =
  // support·N·1000 div (s1·s2) (support·N·1000 needs the q172 DECIMAL
  // escape hatch past ~10⁹ baskets; documented, Long-exact here).
  private def q185(s: SparkSession, d: String): DataFrame = {
    val baskets = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // persist AFTER the width cap, not before: `bounded` is the frame
    // read 4× below (singles, n_orders, both self-join sides), so caching
    // it computes the distinct + capBuckets semi-join exactly once instead
    // of re-running the cap per consumer (r13 verdict finding).
    val bounded = Guards.capBuckets(baskets, "l_orderkey", 64L)
    graft.Caches.persist(bounded)
    val singles = bounded.groupBy("l_partkey").agg(count(lit(1)).as("c1"))
      .filter(col("c1") >= 2)
    val pruned = bounded.join(broadcast(singles), Seq("l_partkey"))
    val nOrders = bounded.agg(countDistinct("l_orderkey").as("n_orders"))
    pruned.alias("x").join(pruned.alias("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("p1"), col("y.l_partkey").as("p2"))
      .agg(count(lit(1)).as("support"), max("x.c1").as("s1"), max("y.c1").as("s2"))
      .filter(col("support") >= 2)
      .crossJoin(broadcast(nOrders))
      .select(col("p1").cast("long").as("p1"), col("p2").cast("long").as("p2"),
        col("support"), col("s1"), col("s2"),
        expr("support * n_orders * 1000 div (s1 * s2)").as("lift_milli"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(20)
  }

  private val q185Sql =
    """WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |b AS (SELECT * FROM b0 WHERE l_orderkey IN
      |  (SELECT l_orderkey FROM b0 GROUP BY l_orderkey HAVING count(*) <= 64)),
      |s AS (SELECT l_partkey, count(*) AS c1 FROM b GROUP BY l_partkey
      |  HAVING count(*) >= 2),
      |p AS (SELECT x.l_partkey AS p1, y.l_partkey AS p2, count(*) AS support,
      |   max(sx.c1) AS s1, max(sy.c1) AS s2
      |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
      |    AND x.l_partkey < y.l_partkey
      |  JOIN s sx ON sx.l_partkey = x.l_partkey
      |  JOIN s sy ON sy.l_partkey = y.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b)
      |SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
      | CAST(support AS BIGINT) AS support, CAST(s1 AS BIGINT) AS s1,
      | CAST(s2 AS BIGINT) AS s2,
      | CAST(support * n_orders * 1000 // (s1 * s2) AS BIGINT) AS lift_milli
      |FROM p CROSS JOIN n
      |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin

  // q198: BLOOM BLOCK-SKIP AUDIT — the POINT-LOOKUP complement of q134's
  // range pruning. Zone maps skip a block on a range predicate only when
  // the layout clusters the key; on a key UNCORRELATED with layout
  // (o_custkey inside o_orderkey-ordered blocks — the common case for
  // every secondary key) min/max spans the whole domain and skips
  // nothing. Per-block Bloom filters are the standard fix (parquet
  // bloom_filter_enabled, Delta/Iceberg file skipping), and this audit
  // prices them EMPIRICALLY instead of by the e^{-kn/m} formula (which
  // the SCALE.md transcendental rule keeps out of hashed columns): one
  // 63-bit word per block, k=2 md5-derived bit positions per key, and a
  // probe workload of every-100th custkey replayed against the words.
  // maybe ⇔ (word & mask) = mask; a block truly containing the key is
  // maybe BY CONSTRUCTION (its bits were OR'd in — false negatives
  // impossible, spec-pinned), so scanned = true hits + false positives,
  // and skip_permille is what the filter actually saves. Plan: the ONE
  // corpus-scale shuffle is the per-block bit_or partial-agg (16 rows
  // out); probes/truth filter to the sampled keys at the scan (pushed
  // predicate) and reduce to bounded distinct sets; the probe×block
  // replay is a broadcast cross join on the 16-row bloom grid. At 100 TB
  // with real row-groups the same plan reads footers, not data. The
  // word is 63 bits, not 64: bit index h mod 63 never reaches the sign
  // bit, so 1<<bit stays positive and identical in both engines' BIGINT.
  /** q198's k=2 bloom mask of a key column: 60-bit md5-derived h, bits
    * h mod 63 and (h div 63) mod 63 of ONE 63-bit word. Shared with
    * `streaming/BloomStream` (which maintains the per-block words
    * incrementally) so the bit scheme cannot drift between the batch
    * audit and the maintained index; both mirrored by the q198 oracle. */
  private[graft] def bloomMaskExpr(keyCol: String): org.apache.spark.sql.Column = {
    val h = s"CAST(conv(substring(md5(CAST($keyCol AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    expr(s"shiftleft(CAST(1 AS BIGINT), CAST($h % 63 AS INT)) | " +
      s"shiftleft(CAST(1 AS BIGINT), CAST(($h div 63) % 63 AS INT))")
  }

  /** Per-block bloom words for a FIXED block width — the batch form of
    * the table BloomStream maintains (q198 derives its width in-plan
    * from max(o_orderkey) instead; same mask, same bit_or reduction). */
  private[graft] def bloomWordsFrom(ordersDf: DataFrame, width: Long): DataFrame =
    ordersDf
      .withColumn("block_id", expr(s"o_orderkey div $width"))
      .withColumn("mask", bloomMaskExpr("o_custkey"))
      .groupBy("block_id").agg(expr("bit_or(mask)").as("word"))

  private def q198(s: SparkSession, d: String): DataFrame = {
    val base0 = orders(s, d)
      .crossJoin(broadcast(orders(s, d).agg(max("o_orderkey").as("mk"))))
      .withColumn("block_id", expr("o_orderkey div (mk div 16 + 1)"))
      .withColumn("mask", bloomMaskExpr("o_custkey"))
      .select(col("block_id"), col("o_custkey"), col("mask"))
    // read 3× (bloom agg + probe set + truth set); narrow 24-byte rows
    val base = graft.Caches.persist(base0)
    val blooms = base.groupBy("block_id").agg(expr("bit_or(mask)").as("word"))
    val probes = base.filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").as("probe_key"), col("mask")).distinct()
    val truth = base.filter(col("o_custkey") % 100 === 0)
      .select(col("block_id"), col("o_custkey").as("probe_key")).distinct()
      .withColumn("hit", lit(1L))
    blooms.crossJoin(broadcast(probes))
      .join(truth, Seq("block_id", "probe_key"), "left")
      .withColumn("maybe",
        when(col("word").bitwiseAND(col("mask")) === col("mask"), 1L).otherwise(0L))
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .groupBy("probe_key")
      .agg(count(lit(1)).as("n_blocks"), sum("hit").as("true_blocks"),
        sum("maybe").as("maybe_blocks"))
      .select(col("probe_key"), col("n_blocks"), col("true_blocks"),
        col("maybe_blocks"),
        (col("maybe_blocks") - col("true_blocks")).as("false_pos"),
        expr("(n_blocks - maybe_blocks) * 1000 div n_blocks").as("skip_permille"))
      .orderBy("probe_key")
  }

  private val q198Sql =
    """WITH m AS (SELECT max(o_orderkey) AS mk FROM orders),
      |b AS (SELECT o_orderkey // (mk // 16 + 1) AS block_id, o_custkey,
      |   ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM orders CROSS JOIN m),
      |k AS (SELECT block_id, o_custkey,
      |   (1::BIGINT << CAST(h % 63 AS INT))
      |   | (1::BIGINT << CAST((h // 63) % 63 AS INT)) AS mask FROM b),
      |bl AS (SELECT block_id, bit_or(mask) AS word FROM k GROUP BY 1),
      |pr AS (SELECT DISTINCT o_custkey AS probe_key, mask FROM k WHERE o_custkey % 100 = 0),
      |tr AS (SELECT DISTINCT block_id, o_custkey AS probe_key FROM k WHERE o_custkey % 100 = 0),
      |g AS (SELECT pr.probe_key, bl.block_id,
      |   CASE WHEN (word & mask) = mask THEN 1 ELSE 0 END AS maybe,
      |   CASE WHEN tr.probe_key IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM bl CROSS JOIN pr
      |  LEFT JOIN tr ON tr.block_id = bl.block_id AND tr.probe_key = pr.probe_key)
      |SELECT probe_key, count(*) AS n_blocks,
      | CAST(sum(hit) AS BIGINT) AS true_blocks,
      | CAST(sum(maybe) AS BIGINT) AS maybe_blocks,
      | CAST(sum(maybe) - sum(hit) AS BIGINT) AS false_pos,
      | CAST((count(*) - sum(maybe)) * 1000 // count(*) AS BIGINT) AS skip_permille
      |FROM g GROUP BY 1 ORDER BY probe_key""".stripMargin

  // q206: CUSUM CHANGE-POINT LOCALIZATION — the time-series family's
  // missing WHERE: q113 flags that a day is anomalous against a rolling
  // window, q121/q125 score that a distribution drifted, q117 fits the
  // overall slope — none names the day the level SHIFTED. The classic
  // CUSUM split statistic does, and it has an all-integer form: with
  // daily milli sums sᵢ, prefix Cₖ and total S over n days, the mean-
  // difference statistic |Cₖ/k − (S−Cₖ)/(n−k)| maximizes at the same k
  // as |n·Cₖ − k·S| (cross-multiplied — no division, no truncation-sign
  // trap on negative sums, nothing transcendental), so argmax + peak are
  // hash-exact. Per event_type: change day = argmax (lowest-day
  // tiebreak), with the before/after day and sum splits reported as raw
  // integers (the reader divides). Plan: ONE corpus-scale shuffle (the
  // (type, day) daily collapse, partial-agg'd); the prefix window, the
  // totals join, and the argmax max_by all run on the bounded type×day
  // grid — every window partitioned by event_type.
  /** q206's corpus-scale stage: collapse raw events to the (type, day)
    * daily milli-sum grid. Shared with `streaming/CusumStream`, which
    * maintains this grid incrementally (associative sum merge). */
  private[graft] def dailyGridFrom(eventsDf: DataFrame): DataFrame =
    eventsDf
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("vm", expr("CAST(round(value * 1000) AS BIGINT)"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum("vm").as("sv"))

  /** q206's closing pass over the bounded daily grid — also run verbatim
    * by the streaming twin against its maintained grid, so stream ≡
    * batch holds by construction. */
  private[graft] def cusumFromDaily(daily: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val g = daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("ck", sum("sv").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = daily.groupBy("event_type")
      .agg(sum("sv").as("stot"), count(lit(1)).as("nd"))
    g.join(tot, "event_type")
      .withColumn("stat", abs(col("nd") * col("ck") - col("k") * col("stot")))
      .groupBy("event_type")
      .agg(max("nd").as("n_days"), max("stot").as("stot"),
        expr("max_by(struct(day, k, ck, stat), struct(stat, -day))").as("w"))
      .select(col("event_type"), col("n_days"),
        col("w.day").as("change_day"), col("w.k").as("days_before"),
        col("w.ck").as("sum_before"),
        (col("n_days") - col("w.k")).as("days_after"),
        (col("stot") - col("w.ck")).as("sum_after"),
        col("w.stat").as("peak_stat"))
      .orderBy("event_type")
  }

  private def q206(s: SparkSession, d: String): DataFrame =
    cusumFromDaily(dailyGridFrom(events(s, d)))

  private val q206Sql =
    """WITH dd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
      |daily AS (SELECT event_type, day, sum(vm) AS sv FROM dd GROUP BY 1, 2),
      |g AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
      |   sum(sv) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS ck
      |  FROM daily),
      |t AS (SELECT event_type, sum(sv) AS stot, count(*) AS nd FROM daily GROUP BY 1),
      |x AS (SELECT g.event_type, g.day, g.k, g.ck, t.stot, t.nd,
      |   abs(t.nd * g.ck - g.k * t.stot) AS stat
      |  FROM g JOIN t USING (event_type)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY stat DESC, day) AS rn
      |  FROM x)
      |SELECT event_type, CAST(nd AS BIGINT) AS n_days, day AS change_day,
      | CAST(k AS BIGINT) AS days_before, CAST(ck AS BIGINT) AS sum_before,
      | CAST(nd - k AS BIGINT) AS days_after, CAST(stot - ck AS BIGINT) AS sum_after,
      | CAST(stat AS BIGINT) AS peak_stat
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  // q218: LOG-BUCKETED MERGEABLE HISTOGRAM + QUANTILE BOUND AUDIT — the
  // HdrHistogram idea as a relational operator, and the MERGEABLE
  // complement of the sketch family: q76's rank sketch needs a sketch
  // library semantics, q13's exact percentiles need a full sort; a
  // power-of-two bucket histogram needs only (key, bucket) counts —
  // associative, mergeable across shards/days/checkpoints by plain SUM,
  // the structure a 1000-executor fleet can maintain incrementally
  // forever. The price is resolution: a quantile lands in a bucket
  // [2^(b−1), 2^b), a ≤2× relative error bound. This audit pays the
  // exact arm ONCE to certify the bound: per (type, q ∈ {500,900,990}‰)
  // the bucket-estimated range vs the exact discrete quantile, with
  // `within` the verdict column. Integer-exact throughout: vm =
  // floor(value·1000)+1 (shifted ≥1 so bin() is defined), bucket =
  // length(bin(vm)) — floor(log2)+1 with ZERO floating point (a
  // floor(log2(x)) would round-trip through doubles and mis-bucket
  // exact powers of two; string length of the binary form cannot).
  // Corpus-scale work is ONE (type, vm, bucket) partial-agg shuffle;
  // CDFs, the q-grid join, and both argmins live on the bounded
  // type×distinct-vm grid (milli resolution bounds the domain).
  private def q218(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .withColumn("vm", expr("greatest(CAST(floor(value * 1000) AS DOUBLE), 0.0)"))
      .withColumn("vm", expr("CAST(vm AS BIGINT) + 1"))
      .withColumn("bucket", length(bin(col("vm"))).cast("long"))
      .groupBy("event_type", "vm", "bucket").agg(count(lit(1)).as("c"))
    graft.Caches.persist(cells) // bounded: types × distinct milli-values
    val wv = Window.partitionBy("event_type").orderBy("vm")
    val cdf = cells.withColumn("cum", sum("c").over(wv))
      .withColumn("n", max("cum").over(Window.partitionBy("event_type")))
    val qs = s.range(0, 3).select(
      when(col("id") === 0, 500L).when(col("id") === 1, 900L).otherwise(990L)
        .as("q_permille"))
    val qgrid = cdf.select("event_type", "n").distinct().crossJoin(broadcast(qs))
      .withColumn("pos", expr("(n * q_permille + 999) div 1000"))
    val exact = qgrid.join(cdf.select("event_type", "vm", "cum"), Seq("event_type"))
      .filter(col("cum") >= col("pos"))
      .groupBy("event_type", "q_permille", "n", "pos")
      .agg(min("vm").as("exact_vm"))
    val bcdf = cells.groupBy("event_type", "bucket").agg(sum("c").as("bc"))
      .withColumn("bcum", sum("bc").over(
        Window.partitionBy("event_type").orderBy("bucket")))
    val est = qgrid.join(bcdf.select("event_type", "bucket", "bcum"), Seq("event_type"))
      .filter(col("bcum") >= col("pos"))
      .groupBy("event_type", "q_permille")
      .agg(min("bucket").as("bucket"))
      .withColumn("vm_lo", expr("CAST(power(2, bucket - 1) AS BIGINT)"))
      .withColumn("vm_hi", expr("CAST(power(2, bucket) AS BIGINT) - 1"))
    exact.join(est, Seq("event_type", "q_permille"))
      .select(col("event_type"), col("q_permille"), col("n"), col("pos"),
        col("bucket"), col("vm_lo"), col("vm_hi"), col("exact_vm"),
        when(col("exact_vm") >= col("vm_lo") && col("exact_vm") <= col("vm_hi"), 1L)
          .otherwise(0L).as("within"))
      .orderBy("event_type", "q_permille")
  }

  private val q218Sql =
    """WITH b AS (SELECT event_type,
      |   CAST(greatest(floor(value * 1000), 0) AS BIGINT) + 1 AS vm FROM events),
      |cells AS (SELECT event_type, vm, length(bin(vm)) AS bucket, count(*) AS c
      |  FROM b GROUP BY 1, 2, 3),
      |cdf AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY vm) AS cum
      |  FROM cells),
      |nn AS (SELECT event_type, sum(c) AS n FROM cells GROUP BY 1),
      |qg AS (SELECT event_type, n, q_permille, (n * q_permille + 999) // 1000 AS pos
      |  FROM nn CROSS JOIN (VALUES (500),(900),(990)) AS q(q_permille)),
      |ex AS (SELECT qg.event_type, qg.q_permille, qg.n, qg.pos,
      |   min(cdf.vm) AS exact_vm
      |  FROM qg JOIN cdf ON cdf.event_type = qg.event_type AND cdf.cum >= qg.pos
      |  GROUP BY 1, 2, 3, 4),
      |bc AS (SELECT event_type, bucket, sum(c) AS bc FROM cells GROUP BY 1, 2),
      |bcdf AS (SELECT *, sum(bc) OVER (PARTITION BY event_type ORDER BY bucket) AS bcum
      |  FROM bc),
      |es AS (SELECT qg.event_type, qg.q_permille, min(bcdf.bucket) AS bucket
      |  FROM qg JOIN bcdf ON bcdf.event_type = qg.event_type AND bcdf.bcum >= qg.pos
      |  GROUP BY 1, 2)
      |SELECT ex.event_type, CAST(ex.q_permille AS BIGINT) AS q_permille,
      | CAST(ex.n AS BIGINT) AS n, CAST(ex.pos AS BIGINT) AS pos,
      | CAST(es.bucket AS BIGINT) AS bucket,
      | CAST(2 ** (es.bucket - 1) AS BIGINT) AS vm_lo,
      | CAST(2 ** es.bucket AS BIGINT) - 1 AS vm_hi,
      | CAST(ex.exact_vm AS BIGINT) AS exact_vm,
      | CAST(CASE WHEN ex.exact_vm BETWEEN 2 ** (es.bucket - 1) AND 2 ** es.bucket - 1
      |      THEN 1 ELSE 0 END AS BIGINT) AS within
      |FROM ex JOIN es ON es.event_type = ex.event_type
      |  AND es.q_permille = ex.q_permille
      |ORDER BY ex.event_type, ex.q_permille""".stripMargin

  // q233: PARTITION-KEY ENTROPY AUDIT — the PRICING step ahead of q138's
  // salt planner: q138 fixes skew once a hot key is known; this says, for
  // each candidate shuffle key of the fact table, HOW SKEWED the key
  // distribution is overall — the number a layout reviewer reads before
  // choosing a bucketing/co-partition key for a 100 TB join graph (q146
  // catalogs the edges; this scores their balance). Per candidate key
  // column of lineitem (orderkey / partkey / suppkey — the three keys a
  // planner might co-partition on): rows, distinct keys, top-1 key share
  // in ppm, Shannon entropy of the key distribution in exact milli-bits
  // (H = log2(N) − Σ c·log2(c)/N, FixedPoint.log2milli — integer end to
  // end), the maximum possible entropy log2(D), and balance_permille =
  // 1000·H/Hmax — 1000 means uniform (hash partitioning divides evenly),
  // low values mean a few keys carry the table and ANY partition count
  // leaves stragglers (the q138 case). Shape per candidate: one
  // key-grain partial-agg groupBy (Zipf-small), entropy terms on the
  // key-count relation, a 1-row rollup; three candidates union on the
  // bounded 3-row grid. Key counts stay BIGINT; Σ c·clog reaches
  // n·1000·log2(n) ≈ 1e17 at 1e12 rows — inside BIGINT with headroom.
  private def q233(s: SparkSession, d: String): DataFrame = {
    import FixedPoint.log2milli
    def audit(keyCol: String): DataFrame = {
      val counts = lineitem(s, d).groupBy(col(keyCol).as("k"))
        .agg(count(lit(1)).as("c"))
        .withColumn("clog", log2milli("c"))
      counts
        .agg(sum("c").as("n"), count(lit(1)).as("d"),
          max("c").as("top_c"), sum(expr("c * clog")).as("sum_clog"))
        .withColumn("key_col", lit(keyCol))
        .withColumn("top_share_ppm", expr("top_c * 1000000 div n"))
        .withColumn("h_milli", log2milli("n") - expr("sum_clog div n"))
        .withColumn("hmax_milli", log2milli("d"))
        .withColumn("balance_permille",
          expr("CASE WHEN hmax_milli > 0 THEN h_milli * 1000 div hmax_milli END"))
        .select("key_col", "n", "d", "top_share_ppm", "h_milli",
          "hmax_milli", "balance_permille")
    }
    audit("l_orderkey").unionByName(audit("l_partkey")).unionByName(audit("l_suppkey"))
      .orderBy("key_col")
  }

  private val q233Sql = {
    def one(keyCol: String) =
      s"""SELECT '$keyCol' AS key_col, n, d, top_share_ppm, h_milli, hmax_milli,
         | CASE WHEN hmax_milli > 0 THEN h_milli * 1000 // hmax_milli END AS balance_permille
         |FROM (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS d,
         |   CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_ppm,
         |   CAST(1000 * (length(bin(CAST(sum(c) AS BIGINT))) - 1)
         |    + (CAST(sum(c) AS BIGINT) - (CAST(1 AS BIGINT) << (length(bin(CAST(sum(c) AS BIGINT))) - 1))) * 1000
         |      // (CAST(1 AS BIGINT) << (length(bin(CAST(sum(c) AS BIGINT))) - 1))
         |    - sum(c * clog) // sum(c) AS BIGINT) AS h_milli,
         |   CAST(1000 * (length(bin(count(*))) - 1)
         |    + (count(*) - (CAST(1 AS BIGINT) << (length(bin(count(*))) - 1))) * 1000
         |      // (CAST(1 AS BIGINT) << (length(bin(count(*))) - 1)) AS BIGINT) AS hmax_milli
         |  FROM (SELECT c,
         |     1000 * (length(bin(c)) - 1)
         |     + (c - (CAST(1 AS BIGINT) << (length(bin(c)) - 1))) * 1000
         |       // (CAST(1 AS BIGINT) << (length(bin(c)) - 1)) AS clog
         |    FROM (SELECT $keyCol AS k, count(*) AS c FROM lineitem GROUP BY 1)))""".stripMargin
    Seq("l_orderkey", "l_partkey", "l_suppkey").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
  }

  // q236: PARTITION OCCUPANCY PLANNER — q233's entropy score made
  // CONCRETE: entropy says whether a key is balanced in the abstract;
  // an operator still has to pick spark.sql.shuffle.partitions, and the
  // straggler it gets depends on P. This sweeps P ∈ {8, 32, 128} for the
  // q233 candidate key l_partkey under the engine-portable md5-prefix
  // hash (`Tables.hashBucket` — Spark's Murmur3 has no DuckDB twin; a
  // uniform universal hash prices occupancy for any decent partitioner):
  // per P, occupied buckets, the heaviest bucket's rows, and skew_milli
  // = max·P·1000 div n (1000 = perfectly even; the wall-clock multiplier
  // a reducer stage pays at that P). Read next to q138 (which salts the
  // keys this report shows no P can fix). Shape: ONE key-grain
  // partial-agg count (Zipf-small), then every P evaluated on the
  // key-count relation — the corpus is scanned once for the whole sweep.
  private def q236(s: SparkSession, d: String): DataFrame = {
    val keys = graft.Caches.persist(
      lineitem(s, d).groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c")))
    Seq(8, 32, 128).map { p =>
      keys.withColumn("bucket", Tables.hashBucket(col("k"), p))
        .groupBy("bucket").agg(sum("c").as("rows"))
        .agg(count(lit(1)).as("n_occupied"), sum("rows").as("n"),
          max("rows").as("max_rows"))
        .withColumn("p", lit(p.toLong))
    }.reduce(_ unionByName _)
      .withColumn("skew_milli", expr("max_rows * p * 1000 div n"))
      .select("p", "n", "n_occupied", "max_rows", "skew_milli")
      .orderBy("p")
  }

  private val q236Sql = {
    def one(p: Int) =
      s"""SELECT CAST($p AS BIGINT) AS p, n, n_occupied, max_rows,
         | max_rows * $p * 1000 // n AS skew_milli
         |FROM (SELECT count(*) AS n_occupied, CAST(sum(bc) AS BIGINT) AS n,
         |   CAST(max(bc) AS BIGINT) AS max_rows
         |  FROM (SELECT bucket, sum(c) AS bc
         |   FROM (SELECT ('0x' || substr(md5(k::VARCHAR), 1, 8))::BIGINT % $p AS bucket, c
         |    FROM (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1))
         |   GROUP BY bucket))""".stripMargin
    Seq(8, 32, 128).map(one).mkString("", "\nUNION ALL\n", "\nORDER BY p")
  }

  // q240: SCAN-BOUNDED EXACT SELECTION — the EXACT order statistic at
  // 100 TB without a global sort (the family's third posture: q13 sorts
  // — exact but a full-sort job; q76/q218 sketch — mergeable but
  // approximate; this is exact AND scan-bounded, the classic two-pass
  // selection): pass 1 histograms values into ≤ 4097 equi-width bins
  // (width derived from the data's range, so the bin table is metadata-
  // grain for ANY corpus size) and locates each target rank's bin via a
  // cumulative sum over that bounded table; pass 2 ranks ONLY the rows
  // of the located bins (~n/4096 each) with a per-target window. Bins
  // partition the value domain, so every row in an earlier bin is
  // strictly smaller — global rank k ≡ in-bin rank k − cum_prev, and
  // the value at a fixed rank is deterministic under ties regardless of
  // tie order. Targets: p50/p90/p99 of lineitem price in cents (k =
  // ⌈q·n⌉, all-integer). The oracle computes the SAME ranks by direct
  // global sort (row_number over ORDER BY v), so the hash match proves
  // the two-pass decomposition selects the exact element. At 100 TB:
  // two scans + a 4k-row driver-side-free cumulative vs a corpus-wide
  // sort — the difference between a report and a shuffle the cluster
  // remembers. Skew caveat: a value so hot it floods one bin bounds
  // pass 2 at that value's multiplicity, the same degeneracy an exact
  // selection cannot avoid (the sketch twins are the escape).
  private def q240(s: SparkSession, d: String): DataFrame = {
    val cents = graft.Caches.persist(lineitem(s, d)
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v")))
    val ext = cents.agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .withColumn("w", expr("(mx - mn) div 4096 + 1"))
    val hist = cents.crossJoin(broadcast(ext))
      .groupBy(expr("(v - mn) div w").as("bin"))
      .agg(count(lit(1)).as("c"))
    // ≤ 4097 occupied bins: the unpartitioned window is metadata-grain
    // by construction (the q78 phase-1 discipline).
    val wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum("c").over(wcum))
      .withColumn("prev", col("cum") - col("c"))
    val targets = ext
      .select(col("n"), col("mn"), col("w"),
        explode(array(lit(500L), lit(900L), lit(990L))).as("q_milli"))
      .withColumn("k", expr("(n * q_milli + 999) div 1000"))
    val chosen = targets.join(cum,
        col("prev") < col("k") && col("k") <= col("cum"))
      .withColumn("off", col("k") - col("prev"))
      .select("q_milli", "n", "k", "bin", "off")
    val wv = Window.partitionBy("q_milli").orderBy("v")
    cents.crossJoin(broadcast(ext.select("mn", "w")))
      .withColumn("bin", expr("(v - mn) div w"))
      .join(broadcast(chosen), "bin")
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === col("off"))
      .select(col("q_milli"), col("n"), col("k"), col("v").as("exact_cents"))
      .orderBy("q_milli")
  }

  private val q240Sql =
    """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem),
      |t AS (SELECT count(*) AS n FROM c),
      |k AS (SELECT CAST(q_milli AS BIGINT) AS q_milli, CAST(n AS BIGINT) AS n,
      |   (n * q_milli + 999) // 1000 AS k
      |  FROM (SELECT unnest([500, 900, 990]) AS q_milli), t),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c)
      |SELECT q_milli, n, CAST(k AS BIGINT) AS k, r.v AS exact_cents
      |FROM k JOIN r ON r.rn = k.k ORDER BY q_milli""".stripMargin

  // q245: THEIL–SEN ROBUST TREND — the trend family's outlier-immune
  // member (q117 fits least squares, which one corrupted day can tilt
  // arbitrarily; q232 validates seasonality; this is the slope a SINGLE
  // bad day cannot move — breakdown point 29%): the median of all
  // pairwise day-slopes on the (type, day) grid. The statistic is
  // PAIRWISE — quadratic in days — which is exactly why it runs on the
  // bounded METADATA grid (days × types from one partial-agg'd
  // collapse; the pair frame is ≤ C(days,2)·types rows — hundreds —
  // never the corpus). All-integer: per-pair slope in milli with the
  // sign split out (sign·(1000·|Δy| div Δd) — Spark's `div` truncates
  // toward zero while DuckDB's `//` floors, so a NEGATIVE numerator
  // must never reach either operator), the statistic DEFINED as the
  // lower median of those integers (rank ⌈np/2⌉, ties broken (d1,d2)),
  // reported next to the same grid's least-squares slope in the same
  // units — theil ≈ lsq says the trend is real, a gap names outlier
  // days. Windows only over the bounded pair frame.
  private def q245(s: SparkSession, d: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min("day").as("d0"))
    val grid = graft.Caches.persist(daily.crossJoin(broadcast(d0))
      .select(col("event_type"), datediff(col("day"), col("d0")).cast("long").as("d"),
        col("y")))
    val a = grid.select(col("event_type"), col("d").as("d1"), col("y").as("y1"))
    val b = grid.select(col("event_type"), col("d").as("d2"), col("y").as("y2"))
    val pairs = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .withColumn("dy", col("y2") - col("y1"))
      .withColumn("dx", col("d2") - col("d1"))
      .withColumn("sm", expr(
        "CASE WHEN dy < 0 THEN -((1000 * -dy) div dx) ELSE (1000 * dy) div dx END"))
    val w = Window.partitionBy("event_type").orderBy("sm", "d1", "d2")
    val theil = pairs.withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("np").as("n_pairs"),
        max(when(col("rn") === expr("(np + 1) div 2"), col("sm")))
          .as("theil_milli"))
    val lsq = grid.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("d"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("d")) * dec(col("y"))).as("sxy"),
        sum(dec(col("d")) * dec(col("d"))).as("sxx"))
      .withColumn("num", dec(col("n_days")) * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", dec(col("n_days")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("lsq_milli", expr(
        "CAST(CASE WHEN num < 0 THEN -((1000 * -num) div den)" +
          " ELSE (1000 * num) div den END AS BIGINT)"))
      .select("event_type", "n_days", "lsq_milli")
    theil.join(lsq, "event_type")
      .withColumn("divergence_milli", col("theil_milli") - col("lsq_milli"))
      .select("event_type", "n_days", "n_pairs", "theil_milli", "lsq_milli",
        "divergence_milli")
      .orderBy("event_type")
  }

  private val q245Sql =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT min(day) AS d0 FROM daily),
      |g AS (SELECT event_type, CAST(date_diff('day', d0, day) AS BIGINT) AS d, y
      |  FROM daily, m),
      |p AS (SELECT a.event_type, a.d AS d1, b.d AS d2,
      |   b.y - a.y AS dy, b.d - a.d AS dx
      |  FROM g a JOIN g b ON a.event_type = b.event_type AND a.d < b.d),
      |sm AS (SELECT event_type, d1, d2,
      |   CASE WHEN dy < 0 THEN -((1000 * -dy) // dx)
      |        ELSE (1000 * dy) // dx END AS sm
      |  FROM p),
      |rk AS (SELECT event_type, sm,
      |   row_number() OVER (PARTITION BY event_type ORDER BY sm, d1, d2) AS rn,
      |   count(*) OVER (PARTITION BY event_type) AS np
      |  FROM sm),
      |th AS (SELECT event_type, CAST(max(np) AS BIGINT) AS n_pairs,
      |   CAST(max(CASE WHEN rn = (np + 1) // 2 THEN sm END) AS BIGINT)
      |     AS theil_milli
      |  FROM rk GROUP BY event_type),
      |ls AS (SELECT event_type, count(*) AS n_days,
      |   CAST(count(*) AS HUGEINT) * sum(d * y) - sum(d) * sum(y) AS num,
      |   CAST(count(*) AS HUGEINT) * sum(d * d) - sum(d) * sum(d) AS den
      |  FROM g GROUP BY event_type),
      |lq AS (SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |   CAST(CASE WHEN num < 0 THEN -((1000 * -num) // den)
      |        ELSE (1000 * num) // den END AS BIGINT) AS lsq_milli
      |  FROM ls)
      |SELECT th.event_type, n_days, n_pairs, theil_milli, lsq_milli,
      | theil_milli - lsq_milli AS divergence_milli
      |FROM th JOIN lq USING (event_type) ORDER BY event_type""".stripMargin

  // q246: CARDINALITY-SKETCH SIZING LADDER — the sizing decision behind
  // every q32/q77/q118-style sketch deployment, answered with data
  // instead of folklore: ONE scan computes the exact distinct plus the
  // HLL++ estimate at five rsd rungs (0.20 → 0.01), and each rung
  // reports its register budget (m ≈ (1.04/rsd)², the published HLL
  // constant, integer milli arithmetic) next to a verdict that the
  // estimate honors 5·rsd — the q32 oracle pattern (the raw estimate is
  // merge-order-specific and never hashed; the exact values and the
  // bound verdict are). Read it as a table: the 0.02 rung costs 2704
  // registers and is already inside the bound — a 100 TB distinct-user
  // rollup does not need the 0.01 rung's 4× memory. All five sketches
  // ride one aggregation (no Expand: approx_count_distinct is not a
  // distinct-rewrite aggregate), so the ladder costs one pass.
  private def q246(s: SparkSession, d: String): DataFrame = {
    val rungs = Seq(200, 100, 50, 20, 10)
    val aggs = rungs.map(r =>
      approx_count_distinct(col("user_id"), r / 1000.0).as(s"a$r"))
    val base = events(s, d).agg(
      countDistinct(col("user_id")).as("exact"),
      (count(lit(1)).as("n") +: aggs): _*)
    base.select(explode(array(rungs.map(r =>
        struct(lit(r.toLong).as("rsd_milli"), col(s"a$r").as("approx"))): _*))
        .as("x"), col("exact"), col("n"))
      .select(col("x.rsd_milli").as("rsd_milli"),
        expr("1081600 div (x.rsd_milli * x.rsd_milli)").as("registers_est"),
        col("exact"), col("n"),
        (abs(col("x.approx") - col("exact")).cast("double") <=
          col("exact").cast("double") * col("x.rsd_milli") * 5 / 1000d)
          .as("within_bound"))
      .orderBy("rsd_milli")
  }

  private val q246Sql =
    """WITH t AS (SELECT count(DISTINCT user_id) AS exact, count(*) AS n
      |  FROM events),
      |r AS (SELECT CAST(unnest([200, 100, 50, 20, 10]) AS BIGINT) AS rsd_milli)
      |SELECT rsd_milli, 1081600 // (rsd_milli * rsd_milli) AS registers_est,
      | CAST(exact AS BIGINT) AS exact, CAST(n AS BIGINT) AS n,
      | TRUE AS within_bound
      |FROM r, t ORDER BY rsd_milli""".stripMargin

  // q250: SKETCHED SET-INTERSECTION OVERLAP — the audience-overlap
  // question every sketch family answers LAST (q32 sizes one set, q118
  // proves union mergeability, q246 prices the rsd; none gives |A∩B|,
  // which has NO mergeable sketch of its own): inclusion–exclusion over
  // three HLL estimates, d̂A + d̂B − d̂A∪B, per event-type pair. The
  // estimator's error COMPOUNDS (three independent ±rsd terms, and the
  // difference can be small where the inputs are large — the documented
  // failure mode when |A∩B| ≪ |A∪B|), so the verdict bound is
  // 5·rsd·(|A| + |B| + |A∪B|) — per-term 5-sigma, summed, the honest
  // version of the q32/q246 pattern. Raw estimates never hashed; the
  // exact sides, exact intersection, exact-jaccard milli and the bound
  // verdict are. Shape at 100 TB: the pair grid is type²-bounded; rows
  // shuffle once to (pair, user) grain for the per-user flag collapse,
  // then once to the ≤|pairs| report — and in production d̂A∪B comes
  // from MERGING the per-type sketches (q118's path), so the pairwise
  // union needs no re-scan of the raw events at all.
  private def q250(s: SparkSession, d: String): DataFrame = {
    val rsd = 0.02
    // pinned ([[graft.Caches.pin]]): du is read by THREE sibling
    // subtrees (both sides of the pair grid's self-product and the flag
    // collapse)
    val du = graft.Caches.pin(events(s, d).select(col("event_type").as("et"), col("user_id"))
      .distinct())
    val types = du.select(col("et")).distinct()
    val pairs = types.select(col("et").as("t1"))
      .crossJoin(types.select(col("et").as("t2")))
      .filter(col("t1") < col("t2"))
    val flags = du
      .join(broadcast(pairs), col("et") === col("t1") || col("et") === col("t2"))
      .groupBy("t1", "t2", "user_id")
      .agg(max(when(col("et") === col("t1"), 1L).otherwise(0L)).as("in1"),
        max(when(col("et") === col("t2"), 1L).otherwise(0L)).as("in2"))
    flags.groupBy("t1", "t2")
      .agg(sum("in1").as("exact_a"), sum("in2").as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(expr("in1 * in2")).as("exact_inter"),
        approx_count_distinct(when(col("in1") === 1L, col("user_id")), rsd).as("aa"),
        approx_count_distinct(when(col("in2") === 1L, col("user_id")), rsd).as("ab"),
        approx_count_distinct(col("user_id"), rsd).as("au"))
      .withColumn("jaccard_milli", expr("exact_inter * 1000 div exact_union"))
      .withColumn("within_bound",
        abs(col("aa") + col("ab") - col("au") - col("exact_inter")).cast("double") <=
          (col("exact_a") + col("exact_b") + col("exact_union")).cast("double") * rsd * 5)
      .select("t1", "t2", "exact_a", "exact_b", "exact_union", "exact_inter",
        "jaccard_milli", "within_bound")
      .orderBy("t1", "t2")
  }

  private val q250Sql =
    """WITH du AS (SELECT DISTINCT event_type AS et, user_id FROM events),
      |ty AS (SELECT DISTINCT et FROM du),
      |pr AS (SELECT a.et AS t1, b.et AS t2 FROM ty a, ty b WHERE a.et < b.et),
      |fl AS (SELECT t1, t2, user_id,
      |   max(CASE WHEN et = t1 THEN 1 ELSE 0 END) AS in1,
      |   max(CASE WHEN et = t2 THEN 1 ELSE 0 END) AS in2
      |  FROM du JOIN pr ON et = t1 OR et = t2
      |  GROUP BY 1, 2, 3)
      |SELECT t1, t2, CAST(sum(in1) AS BIGINT) AS exact_a,
      | CAST(sum(in2) AS BIGINT) AS exact_b,
      | count(*) AS exact_union,
      | CAST(sum(in1 * in2) AS BIGINT) AS exact_inter,
      | CAST(sum(in1 * in2) AS BIGINT) * 1000 // count(*) AS jaccard_milli,
      | TRUE AS within_bound
      |FROM fl GROUP BY 1, 2 ORDER BY t1, t2""".stripMargin

  // q255: AMS (TUG-OF-WAR) JOIN-SIZE SKETCH — the sketch-path answer to
  // the question q122 forecasts from grouped counts: |A ⋈ B| on a key =
  // Σ_u cntA(u)·cntB(u), which q122 computes by SHUFFLING both frequency
  // vectors together; the Alon–Matias–Szegedy estimator compresses each
  // side to m signed scalars S_j = Σ_u cnt(u)·sign_j(u) (sign_j = parity
  // of md5(u ':' j) — four-wise-independent enough in practice and
  // IDENTICAL on both engines, so unlike q32's HLL the whole estimate is
  // integer-reproducible and hash-checked RAW, no verdict indirection
  // needed), with E[S_Aj·S_Bj] = |A ⋈ B| exactly; the reported estimate
  // is the median of m = 9 products (order-statistic form — LIMIT 1
  // OFFSET 4 — both engines agree; no float median). The 5σ single-
  // sketch Chebyshev bound (est − J)² ≤ 25·F₂(A)·F₂(B) rides along as
  // an integer verdict. Why it matters at 100 TB: the per-side sketch
  // is a PARTIAL-AGGREGABLE sum (m counters per partition, merged by
  // +), so each side's S-vector costs one scan with no key shuffle at
  // all — the join-size estimate of two 100 TB relations moves 2·m
  // longs to the driver of the planning job. Exact J and the F₂s are
  // computed here too (the fixture's truth); production reads only the
  // sketches.
  private def q255(s: SparkSession, d: String): DataFrame = {
    val m = 9
    val e = events(s, d)
    def side(name: String, types: Seq[String]) =
      e.filter(col("event_type").isin(types: _*))
        .groupBy("user_id").agg(count(lit(1)).as(s"c$name"))
    val a = side("a", Seq("view", "click"))
    val b = side("b", Seq("purchase", "signup"))
    val joined = a.join(b, Seq("user_id"), "full")
      .select(col("user_id"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    graft.Caches.persist(joined)
    val exact = joined.agg(sum(expr("ca * cb")).as("exact_join"),
      sum(expr("ca * ca")).as("f2_a"), sum(expr("cb * cb")).as("f2_b"))
    val sketches = joined
      .select(col("user_id"), col("ca"), col("cb"),
        explode(array((1 to m).map(lit): _*)).as("j"))
      .withColumn("sign", expr(
        "1 - 2 * (CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':', CAST(j AS STRING))), 1, 1), 16, 10) AS BIGINT) % 2)"))
      .groupBy("j")
      .agg(sum(expr("ca * sign")).as("s_a"), sum(expr("cb * sign")).as("s_b"))
      .withColumn("est", expr("s_a * s_b"))
    val med = sketches.orderBy("est").limit(5).orderBy(desc("est")).limit(1)
      .select(col("est").as("median_est"))
    med.crossJoin(broadcast(exact))
      .select(col("exact_join"), col("f2_a"), col("f2_b"), col("median_est"),
        ((col("median_est") - col("exact_join")) * (col("median_est") - col("exact_join"))
          <= col("f2_a") * col("f2_b") * 25).cast("long").as("within_bound"))
  }

  private val q255Sql =
    """WITH a AS (SELECT user_id, count(*) AS ca FROM events
      |  WHERE event_type IN ('view', 'click') GROUP BY 1),
      |b AS (SELECT user_id, count(*) AS cb FROM events
      |  WHERE event_type IN ('purchase', 'signup') GROUP BY 1),
      |j AS (SELECT COALESCE(a.user_id, b.user_id) AS user_id,
      |   COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      |  FROM a FULL JOIN b ON a.user_id = b.user_id),
      |ex AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_join,
      |   CAST(sum(ca * ca) AS BIGINT) AS f2_a,
      |   CAST(sum(cb * cb) AS BIGINT) AS f2_b FROM j),
      |sk AS (SELECT s.j,
      |   CAST(sum(ca * (1 - 2 * (('0x' || substr(md5(user_id::VARCHAR || ':' || s.j::VARCHAR), 1, 1))::BIGINT % 2))) AS BIGINT) AS s_a,
      |   CAST(sum(cb * (1 - 2 * (('0x' || substr(md5(user_id::VARCHAR || ':' || s.j::VARCHAR), 1, 1))::BIGINT % 2))) AS BIGINT) AS s_b
      |  FROM j CROSS JOIN (SELECT unnest(range(1, 10)) AS j) s
      |  GROUP BY 1),
      |md AS (SELECT s_a * s_b AS median_est FROM sk
      |  ORDER BY s_a * s_b LIMIT 1 OFFSET 4)
      |SELECT exact_join, f2_a, f2_b, median_est,
      | CAST((median_est - exact_join) * (median_est - exact_join)
      |   <= f2_a * f2_b * 25 AS BIGINT) AS within_bound
      |FROM md CROSS JOIN ex""".stripMargin

  // q259: HILBERT vs Z-ORDER LAYOUT A/B — the layout family's missing
  // decision (q85 lays out in z-order and measures spans; q134 prices
  // the z-layout's zone-map skips; neither asks whether z was the right
  // CURVE): the Hilbert curve visits grid cells so that consecutive
  // positions are always ADJACENT — no high-bit teleports — so an
  // equal-size Hilbert file range bounds both dimensions tighter than
  // the same-size z range, and tighter per-file min/max IS the thing
  // zone-map pruning prices. Both keys are row-local integer kernels on
  // the SAME (ux, vb) projection (z = the q85 interleave expr; hilbert
  // = the new codegen `HilbertIndex`, 8 rounds of quadrant+rotation
  // INLINED into whole-stage codegen), both partitioned into the same
  // UNALIGNED 3500-cell files, reported side-by-side per file. The file
  // size is the point: at 4^k-ALIGNED boundaries (4096) every file of
  // either curve is exactly one 64×64 subsquare and the two layouts tie
  // (measured — identical span tables); real compaction targets are
  // row/byte budgets, never curve-aligned, and there the z-curve's
  // high-bit teleports stretch straddling files to near-full-grid spans
  // (127 vs Hilbert's 95 max here) while Hilbert's adjacency keeps them
  // local. That asymmetry-under-misalignment IS the reason engines
  // offer Hilbert clustering at all. The oracle
  // unrolls the identical 8 Hilbert rounds as chained CTE column
  // rewrites — integer-identical by construction. At 100 TB this query
  // IS the layout decision: run it on a day's sample, read which curve
  // spans less, sort-write with that key.
  private def q259(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    val base = zProjected(s, d)
      .withColumn("hkey", GraftColumn(graft.functions.HilbertIndex(
        GraftColumn.expr(col("ux")), GraftColumn.expr(col("vb")))))
    def arm(name: String, key: String) =
      base.withColumn("file_id", expr(s"$key div 3500"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          (max("ux") - min("ux")).as("u_span"),
          (max("vb") - min("vb")).as("v_span"))
        .withColumn("layout", lit(name))
    arm("1_zorder", "zkey").unionByName(arm("2_hilbert", "hkey"))
      .select("layout", "file_id", "n_rows", "u_span", "v_span")
      .orderBy("layout", "file_id")
  }

  private val q259Sql = {
    val steps = Seq(128, 64, 32, 16, 8, 4, 2, 1).zipWithIndex.map {
      case (s, k) =>
        s"""h${k + 1} AS (SELECT event_id, ux, vb,
           |   d + $s * $s * xor(3 * rx, ry) AS d,
           |   CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - y ELSE y END
           |        ELSE x END AS x,
           |   CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - x ELSE x END
           |        ELSE y END AS y
           |  FROM (SELECT *,
           |     CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
           |     CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$k))"""
          .stripMargin
    }.mkString(",\n")
    s"""WITH k AS (SELECT event_id,
       |  CAST(user_id % 256 AS BIGINT) AS ux,
       |  CAST(floor(abs(value)) AS BIGINT) % 256 AS vb
       | FROM events),
       |z AS (SELECT *,
       |  list_aggregate(list_transform(range(0, 8), i ->
       |    (((ux >> CAST(i AS INT)) & 1) << CAST(2*i AS INT))
       |    + (((vb >> CAST(i AS INT)) & 1) << CAST(2*i + 1 AS INT))), 'sum') AS zkey
       | FROM k),
       |h0 AS (SELECT event_id, ux, vb, CAST(0 AS BIGINT) AS d, ux AS x, vb AS y
       |  FROM k),
       |$steps,
       |arms AS (
       | SELECT '1_zorder' AS layout, CAST(zkey // 3500 AS BIGINT) AS file_id,
       |   ux, vb FROM z
       | UNION ALL
       | SELECT '2_hilbert', CAST(d // 3500 AS BIGINT), ux, vb FROM h8)
       |SELECT layout, file_id, count(*) AS n_rows,
       | max(ux) - min(ux) AS u_span, max(vb) - min(vb) AS v_span
       |FROM arms GROUP BY 1, 2 ORDER BY layout, file_id""".stripMargin
  }

  // q262: UNIVERSE (CORRELATED) JOIN SAMPLING — the sampling technique
  // the planning family's estimators lean on and no row demonstrated:
  // independent Bernoulli samples of two tables DESTROY their join
  // (P(both sides of a matching pair survive) = θ², and the surviving
  // pairs cluster on high-degree keys), which is why join-cardinality
  // work samples the KEY UNIVERSE instead — hash the JOIN KEY, keep
  // every row whose key lands under θ on BOTH sides, and the sample's
  // join IS the true join restricted to sampled keys: an unbiased
  // (est = n/θ) Horvitz–Thompson estimate whose within-key structure is
  // EXACT. Both arms are built here per customer segment: the universe
  // arm (md5(custkey) first hex in 0..1, θ = 1/8 — the q74 hex-order
  // convention) scaled ×8, and the naive independent arm (orders side
  // hashed on o_orderkey instead) scaled ×64, against the exact join —
  // the report makes the failure visible in one table: universe error
  // is segment-level sampling noise; independent error is catastrophic
  // (θ² survival ⇒ ~1/8 the evidence, and it extrapolates variance,
  // not structure). At 100 TB the universe arm is how you join-sample
  // two tables you cannot afford to join: one row-local hash filter on
  // each side, the tiny sample shuffles, the estimate divides.
  private def q262(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"))
    def inU(k: String) = expr(s"substring(md5(CAST($k AS STRING)), 1, 1) IN ('0', '1')")
    val exact = c.join(o, col("c_custkey") === col("o_custkey"))
      .groupBy("seg").agg(count(lit(1)).as("exact_n"))
    val uni = c.filter(inU("c_custkey"))
      .join(o.filter(inU("o_custkey")), col("c_custkey") === col("o_custkey"))
      .groupBy("seg").agg(count(lit(1)).as("uni_n"))
    val ind = c.filter(inU("c_custkey"))
      .join(o.filter(inU("o_orderkey")), col("c_custkey") === col("o_custkey"))
      .groupBy("seg").agg(count(lit(1)).as("ind_n"))
    exact.join(uni, Seq("seg"), "left").join(ind, Seq("seg"), "left")
      .select(col("seg"), col("exact_n"),
        coalesce(col("uni_n"), lit(0L)).as("uni_n"),
        (coalesce(col("uni_n"), lit(0L)) * 8).as("uni_est"),
        expr("abs(coalesce(uni_n, 0) * 8 - exact_n) * 1000 div exact_n").as("uni_err_milli"),
        coalesce(col("ind_n"), lit(0L)).as("ind_n"),
        (coalesce(col("ind_n"), lit(0L)) * 64).as("ind_est"),
        expr("abs(coalesce(ind_n, 0) * 64 - exact_n) * 1000 div exact_n").as("ind_err_milli"))
      .orderBy("seg")
  }

  private val q262Sql =
    """WITH c AS (SELECT c_custkey, c_mktsegment AS seg FROM customer),
      |o AS (SELECT o_custkey, o_orderkey FROM orders),
      |ex AS (SELECT seg, count(*) AS exact_n FROM c JOIN o ON c_custkey = o_custkey
      |  GROUP BY 1),
      |un AS (SELECT seg, count(*) AS uni_n FROM c JOIN o ON c_custkey = o_custkey
      |  WHERE substr(md5(c_custkey::VARCHAR), 1, 1) IN ('0', '1')
      |    AND substr(md5(o_custkey::VARCHAR), 1, 1) IN ('0', '1')
      |  GROUP BY 1),
      |ind AS (SELECT seg, count(*) AS ind_n FROM c JOIN o ON c_custkey = o_custkey
      |  WHERE substr(md5(c_custkey::VARCHAR), 1, 1) IN ('0', '1')
      |    AND substr(md5(o_orderkey::VARCHAR), 1, 1) IN ('0', '1')
      |  GROUP BY 1)
      |SELECT seg, exact_n,
      | COALESCE(uni_n, 0) AS uni_n, COALESCE(uni_n, 0) * 8 AS uni_est,
      | abs(COALESCE(uni_n, 0) * 8 - exact_n) * 1000 // exact_n AS uni_err_milli,
      | COALESCE(ind_n, 0) AS ind_n, COALESCE(ind_n, 0) * 64 AS ind_est,
      | abs(COALESCE(ind_n, 0) * 64 - exact_n) * 1000 // exact_n AS ind_err_milli
      |FROM ex LEFT JOIN un USING (seg) LEFT JOIN ind USING (seg)
      |ORDER BY seg""".stripMargin

  // q264: ONE-PASS POISSON BOOTSTRAP — the uncertainty attachment for
  // aggregate metrics at a scale where resampling is impossible: a
  // classical bootstrap redraws the dataset B times (B full shuffles of
  // 100 TB — unthinkable); the Poisson bootstrap (Chamandy et al.'s
  // large-scale formulation) replaces "row appears k times in replica r"
  // multinomial draws with independent Poisson(1) weights, so ALL 32
  // replicas are computed in ONE scan: each row explodes to (replica,
  // weight) with the weight drawn deterministically from
  // md5(event_id, replica) through the precomputed Poisson(1)
  // inverse-CDF thresholds (integer literals at 2^24 scale, injected
  // identically into both engines — the hash IS the randomness, the q74/
  // q90/q260 convention, so both engines draw the IDENTICAL replicas and
  // the oracle hash-checks the draw). The 32× row expansion never
  // reaches the exchange: partial aggregation collapses it map-side to
  // (event_type × 32) sufficient stats. The CI is read off the replica
  // estimates by exact order statistics on the bounded grid (2nd
  // smallest / 2nd largest of 32 ≈ a 93% interval), tiebroken on replica
  // id — no percentile interpolation, no floats, hash-exact.
  private def q264(s: SparkSession, d: String): DataFrame = {
    val ts = Seq(6171992L, 12343985L, 15429982L, 16458647L, 16715813L,
      16767247L, 16775819L, 16777044L, 16777197L)
    val wExpr = ts.map(t => s"IF(u >= ${t}L, 1L, 0L)").mkString(" + ")
    // r17: the single-file events scan is ONE task, which serialized the
    // 32× explode + md5 map stage below on one core; the scale-adaptive
    // fanout spreads it across the session (identity on real multi-split
    // inputs). Integer sums downstream — row placement cannot change
    // results.
    val ev = Tables.fanout(
      Tables.events(s, d).select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vm")),
      col("event_id"))
    val point = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), expr("sum(vm) div count(*)").as("mean_milli"))
    // One md5 per (row, replica), computed INSIDE the post-explode
    // whole-stage codegen. The "obvious" optimization — one md5 yielding
    // five disjoint 24-bit draws, materialized as a nested-array column
    // before the explode (7 hashes/row instead of 32) — was MEASURED AND
    // REJECTED: 6.23 s vs 2.30 s warm in the same suite (the q132/q185
    // law again: array construction + flatten + slice allocations cost
    // ~3× more than the 25 extra codegen'd hashes they save).
    val reps = ev
      .select(col("event_id"), col("event_type"), col("vm"),
        explode(expr("sequence(1, 32)")).as("r"))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), '_', CAST(r AS STRING))), 1, 6), 16, 10) AS BIGINT)"))
      .withColumn("w", expr(wExpr))
      .groupBy("event_type", "r")
      .agg(sum("w").as("wsum"), sum(expr("w * vm")).as("wvsum"))
      .filter(col("wsum") > 0)
      .withColumn("est", expr("wvsum div wsum"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("est"), col("r"))))
      .withColumn("nr", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max(when(col("rk") === 2, col("est"))).as("boot_lo_milli"),
        max(when(col("rk") === col("nr") - 1, col("est"))).as("boot_hi_milli"))
    point.join(reps, Seq("event_type"))
      .select(col("event_type"), col("n"), col("mean_milli"),
        col("boot_lo_milli"), col("boot_hi_milli"),
        expr("boot_hi_milli - boot_lo_milli").as("ci_width_milli"))
      .orderBy("event_type")
  }

  private val q264Sql = {
    val ts = Seq(6171992L, 12343985L, 15429982L, 16458647L, 16715813L,
      16767247L, 16775819L, 16777044L, 16777197L)
    val wExpr = ts.map(t => s"CASE WHEN u >= ${t} THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ev AS (SELECT event_id, event_type,
       |   CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
       |pt AS (SELECT event_type, count(*) AS n,
       |   CAST(sum(vm) // count(*) AS BIGINT) AS mean_milli
       |  FROM ev GROUP BY 1),
       |x AS (SELECT event_type, r, vm,
       |   ('0x' || substr(md5(event_id::VARCHAR || '_' || r::VARCHAR), 1, 6))::BIGINT AS u
       |  FROM ev CROSS JOIN (SELECT unnest(range(1, 33)) AS r) rr),
       |w AS (SELECT event_type, r, vm, CAST($wExpr AS BIGINT) AS w FROM x),
       |re AS (SELECT event_type, r, sum(w) AS wsum, sum(w * vm) AS wvsum
       |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
       |es AS (SELECT event_type, r, CAST(wvsum // wsum AS BIGINT) AS est,
       |   row_number() OVER (PARTITION BY event_type ORDER BY wvsum // wsum, r) AS rk,
       |   count(*) OVER (PARTITION BY event_type) AS nr
       |  FROM re),
       |ci AS (SELECT event_type,
       |   max(CASE WHEN rk = 2 THEN est END) AS boot_lo_milli,
       |   max(CASE WHEN rk = nr - 1 THEN est END) AS boot_hi_milli
       |  FROM es GROUP BY 1)
       |SELECT event_type, n, mean_milli, boot_lo_milli, boot_hi_milli,
       | boot_hi_milli - boot_lo_milli AS ci_width_milli
       |FROM pt JOIN ci USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  // q271: BOTTOM-K (KMV) MERGEABLE SAMPLE — the UNIFORM mergeable member
  // of the sampling family (q260's A-ES keys are weighted; q90/q91
  // sample by stratum/size; none is SNAPSHOT-STABLE): keep the k rows
  // with the globally smallest hash values and you get three properties
  // no rate-based sample has, each demonstrated in-query: (1) membership
  // is a pure function of the row — two snapshots, two replicas, or two
  // engines draw the SAME sample; (2) the sample MERGES — bottom-k of
  // the union of per-source bottom-ks EQUALS the corpus bottom-k
  // (merge_agree pins k/k agreement; the pigeonhole argument: any row in
  // the global bottom-k is in its own source's bottom-k), which is why
  // the sketch maintains distributed with no global sort — each Spark
  // arm here is a TakeOrderedAndProject, per-partition partial top-k
  // then a k-row merge on the driver-sized result; (3) the k-th smallest
  // hash IS a distinct-count estimator (KMV: N̂ = (k−1)·2^40/h₍ₖ₎),
  // reported with its error vs the enumerable truth. 40-bit hashes (10
  // hex chars — the q260 overflow bound), doc_id tiebreak for exactness.
  private def q271(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val hashed = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 10), 16, 10) AS BIGINT)"))
    val global = hashed.orderBy("h", "doc_id").limit(k).select(col("doc_id"), col("h"))
    val perSrc = hashed.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")))
      .filter(col("rn") <= k)
    val merged = perSrc.orderBy("h", "doc_id").limit(k)
      .select(col("doc_id").as("doc_id2"))
    val agree = global.join(merged, col("doc_id") === col("doc_id2"))
      .agg(count(lit(1)).as("merge_agree"))
    val kth = global.agg(max("h").as("kth_hash"), count(lit(1)).as("k"))
    val n = hashed.agg(count(lit(1)).as("n_true"))
    n.crossJoin(broadcast(kth)).crossJoin(broadcast(agree))
      .withColumn("est_n", expr("(k - 1) * 1099511627776L div kth_hash"))
      .withColumn("est_err_milli", expr("abs(est_n - n_true) * 1000 div n_true"))
      .select(col("n_true"), col("k"), col("kth_hash"), col("est_n"),
        col("est_err_milli"), col("merge_agree"))
  }

  private val q271Sql =
    """WITH h AS (SELECT doc_id, source,
      |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 10))::BIGINT AS h
      |  FROM documents),
      |g AS (SELECT doc_id, h FROM h ORDER BY h, doc_id LIMIT 64),
      |ps AS (SELECT doc_id, h FROM (SELECT doc_id, h,
      |   row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
      |  FROM h) r WHERE rn <= 64),
      |m AS (SELECT doc_id FROM ps ORDER BY h, doc_id LIMIT 64),
      |ag AS (SELECT count(*) AS merge_agree FROM g JOIN m USING (doc_id)),
      |kt AS (SELECT max(h) AS kth_hash, count(*) AS k FROM g),
      |n AS (SELECT count(*) AS n_true FROM documents)
      |SELECT n_true, k, kth_hash,
      | (k - 1) * 1099511627776 // kth_hash AS est_n,
      | abs((k - 1) * 1099511627776 // kth_hash - n_true) * 1000 // n_true AS est_err_milli,
      | merge_agree
      |FROM n CROSS JOIN kt CROSS JOIN ag""".stripMargin

  // q277: DISTRIBUTION-FREE MEDIAN CI (order-statistic band) — the
  // uncertainty family's third member, closing a triangle: q264 attaches
  // a CI to the MEAN by Poisson bootstrap (replicas), q246 prices sketch
  // error by budget (rsd), and this attaches a CI to the MEDIAN with NO
  // replicas, NO sketch, and NO distributional assumption — the
  // binomial order-statistic band every robust-statistics text gives:
  // ranks n/2 ∓ z·√n/2 cover the true median at ~95% whatever the
  // distribution, because rank coverage is a coin-flip count. The three
  // ranks (lo, median, hi) are all-integer (z = 1.96 as 980 milli-half,
  // √n by the exact integer sqrt), and the VALUES at those ranks are
  // selected by the q240 two-pass discipline — equi-width histogram to a
  // ≤ 4097-bin metadata table, locate each rank's bin by cumulative sum,
  // rank only the located bins' rows — so the whole CI costs two scans
  // and no global sort at any corpus size. The oracle selects the same
  // ranks by direct global sort; the hash match proves the two-pass
  // selection AND the rank arithmetic.
  private def q277(s: SparkSession, d: String): DataFrame = {
    val vals = graft.Caches.persist(Tables.events(s, d)
      .select(expr("CAST(round(value * 1000) AS BIGINT)").as("v")))
    val ext = vals.agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .withColumn("w", expr("(mx - mn) div 4096 + 1"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
      .withColumn("s1", expr("s0 + IF((s0 + 1) * (s0 + 1) <= n, 1L, 0L)"))
      .withColumn("sqn", expr("s1 - IF(s1 * s1 > n, 1L, 0L)"))
    val hist = vals.crossJoin(broadcast(ext.select("mn", "w")))
      .groupBy(expr("(v - mn) div w").as("bin"))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum("c").over(wcum))
      .withColumn("prev", col("cum") - col("c"))
    val targets = ext.select(col("n"), col("mn"), col("w"),
        explode(expr(
          """array(
            |  struct('lo' AS kind, (n div 2) - (980 * sqn div 1000) AS k),
            |  struct('med' AS kind, (n + 1) div 2 AS k),
            |  struct('hi' AS kind, (n div 2) + 1 + (980 * sqn div 1000) AS k))"""
            .stripMargin)).as("t"))
      .select(col("n"), col("mn"), col("w"), col("t.kind").as("kind"),
        expr("greatest(least(t.k, n), 1L)").as("k"))
    val chosen = targets.join(cum,
        col("prev") < col("k") && col("k") <= col("cum"))
      .withColumn("off", col("k") - col("prev"))
      .select("kind", "n", "k", "bin", "off")
    val wv = Window.partitionBy("kind").orderBy("v")
    vals.crossJoin(broadcast(ext.select("mn", "w")))
      .withColumn("bin", expr("(v - mn) div w"))
      .join(broadcast(chosen), "bin")
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === col("off"))
      .select(col("kind"), col("n"), col("k"), col("v").as("value_milli"))
      .orderBy("kind")
  }

  private val q277Sql =
    """WITH c AS (SELECT CAST(round(value * 1000) AS BIGINT) AS v FROM events),
      |t AS (SELECT count(*) AS n FROM c),
      |sq AS (SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM t),
      |s1t AS (SELECT n, s0 + CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END AS s1 FROM sq),
      |sn AS (SELECT n, s1 - CASE WHEN s1 * s1 > n THEN 1 ELSE 0 END AS sqn FROM s1t),
      |k AS (SELECT kind, CAST(n AS BIGINT) AS n,
      |   greatest(least(CASE kind
      |     WHEN 'lo' THEN (n // 2) - (980 * sqn // 1000)
      |     WHEN 'med' THEN (n + 1) // 2
      |     ELSE (n // 2) + 1 + (980 * sqn // 1000) END, n), 1) AS k
      |  FROM (SELECT unnest(['lo', 'med', 'hi']) AS kind), sn),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c)
      |SELECT kind, n, CAST(k AS BIGINT) AS k, r.v AS value_milli
      |FROM k JOIN r ON r.rn = k.k ORDER BY kind""".stripMargin

  // q323: SAMPLED AGGREGATION WITH A DESIGN-BASED ERROR AUDIT (AQP) —
  // the approximate-query-processing contract stated end to end: a 10%
  // Bernoulli-style sample (md5 row-key bucket < 10 — the q90
  // reproducible-membership primitive, so "the sample" is a stable set,
  // not an RNG draw), the Horvitz–Thompson scale-up (×10), and the
  // design-based variance check that PRICES the estimate: with
  // inclusion probability q, V̂(est) = Σ_{i∈S} c_i²·(1−q)/q², so the
  // ±2σ coverage test is (est − exact)² ≤ 4·90·Σ_S c_i², exact in
  // DECIMAL(38)/HUGEINT with no sqrt. Both the estimate and the truth
  // come from ONE scan (conditional sums — the audit would be
  // pointless at 100 TB if it cost a second pass); at serving time the
  // sample IS the stored stratum (bucket pruning pushes the 10× saving
  // to the scan, q90's posture) and the exact arm is the offline gate.
  private def q323(s: SparkSession, d: String): DataFrame = {
    val rowBucket = Tables.hashBucket(
      concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")), 100)
    lineitem(s, d)
      .withColumn("c", expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
      .withColumn("ins", (rowBucket < 10).cast("long"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("exact_rows"), sum("c").as("exact_cents"),
        sum("ins").as("sample_rows"),
        sum(expr("ins * c")).as("sample_cents"),
        sum(expr("CAST(ins * c AS DECIMAL(38,0)) * c")).as("ss"))
      .withColumn("est_cents", expr("sample_cents * 10"))
      .withColumn("err_permille", expr(
        "abs(est_cents - exact_cents) * 1000 div exact_cents"))
      .withColumn("ci2_covers", expr(
        """CAST(CAST(est_cents - exact_cents AS DECIMAL(38,0))
          |  * (est_cents - exact_cents) <= 360 * ss AS BIGINT)""".stripMargin))
      .select("l_returnflag", "exact_rows", "exact_cents", "sample_rows",
        "est_cents", "err_permille", "ci2_covers")
      .orderBy("l_returnflag")
  }

  private val q323Sql =
    """WITH b AS (SELECT l_returnflag,
      |   CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS c,
      |   CASE WHEN ('0x' || substr(md5(l_orderkey::VARCHAR || '-' ||
      |     l_linenumber::VARCHAR), 1, 8))::BIGINT % 100 < 10
      |    THEN 1 ELSE 0 END AS ins
      |  FROM lineitem),
      |g AS (SELECT l_returnflag, count(*) AS exact_rows,
      |   sum(c) AS exact_cents, sum(ins) AS sample_rows,
      |   sum(ins * c) AS sample_cents,
      |   sum(CAST(ins * c AS HUGEINT) * c) AS ss
      |  FROM b GROUP BY 1)
      |SELECT l_returnflag, CAST(exact_rows AS BIGINT) AS exact_rows,
      | CAST(exact_cents AS BIGINT) AS exact_cents,
      | CAST(sample_rows AS BIGINT) AS sample_rows,
      | CAST(sample_cents * 10 AS BIGINT) AS est_cents,
      | CAST(abs(sample_cents * 10 - exact_cents) * 1000 // exact_cents
      |   AS BIGINT) AS err_permille,
      | CAST(CAST(sample_cents * 10 - exact_cents AS HUGEINT)
      |   * (sample_cents * 10 - exact_cents) <= 360 * ss AS BIGINT) AS ci2_covers
      |FROM g ORDER BY l_returnflag""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q323_aqp_ht_audit" -> (q323 _),
    "q277_median_ci" -> (q277 _),
    "q271_bottomk_sample" -> (q271 _),
    "q264_poisson_bootstrap" -> (q264 _),
    "q262_universe_sampling" -> (q262 _),
    "q259_hilbert_layout" -> (q259 _),
    "q255_ams_join_size" -> (q255 _),
    "q250_sketch_overlap" -> (q250 _),
    "q246_hll_sizing_ladder" -> (q246 _),
    "q245_theil_sen_trend" -> (q245 _),
    "q240_twopass_selection" -> (q240 _),
    "q236_partition_occupancy" -> (q236 _),
    "q233_key_entropy" -> (q233 _),
    "q218_hdr_quantiles" -> (q218 _),
    "q206_cusum_changepoint" -> (q206 _),
    "q185_frequent_pairs" -> (q185 _),
    "q198_bloom_skip_audit" -> (q198 _),
    "q187_global_ordinal" -> (q187 _),
    "q193_rescale_churn" -> (q193 _),
    "q175_shard_rebalance" -> (q175 _),
    "q172_correlation_audit" -> (q172 _),
    "q165_encoding_advisor" -> (q165 _),
    "q150_compaction_plan" -> (q150 _),
    "q151_feed_freshness" -> (q151 _),
    "q138_salt_plan" -> (q138 _),
    "q134_zonemap_audit" -> (q134 _),
    "q117_trend_slope" -> (q117 _),
    "q118_hll_merge" -> (q118 _),
    "q113_rolling_anomaly" -> (q113 _),
    "q88_outliers_mad" -> (q88 _),
    "q89_histogram" -> (q89 _),
    "q95_equidepth_layout" -> (q95 _),
    "q85_zorder_layout" -> (q85 _),
    "q81_data_profile" -> (q81 _),
    "q76_percentile_sketch" -> (q76 _),
    "q77_heavy_hitters_cms" -> (q77 _),
    "q78_pack_shards" -> (q78 _),
    "q79_bloom_pruned_join" -> (q79 _))

  override val oracles: Map[String, String] = Map(
    "q323_aqp_ht_audit" -> q323Sql,
    "q277_median_ci" -> q277Sql,
    "q271_bottomk_sample" -> q271Sql,
    "q264_poisson_bootstrap" -> q264Sql,
    "q262_universe_sampling" -> q262Sql,
    "q259_hilbert_layout" -> q259Sql,
    "q255_ams_join_size" -> q255Sql,
    "q250_sketch_overlap" -> q250Sql,
    "q246_hll_sizing_ladder" -> q246Sql,
    "q245_theil_sen_trend" -> q245Sql,
    "q240_twopass_selection" -> q240Sql,
    "q236_partition_occupancy" -> q236Sql,
    "q233_key_entropy" -> q233Sql,
    "q218_hdr_quantiles" -> q218Sql,
    "q206_cusum_changepoint" -> q206Sql,
    "q185_frequent_pairs" -> q185Sql,
    "q198_bloom_skip_audit" -> q198Sql,
    "q187_global_ordinal" -> q187Sql,
    "q193_rescale_churn" -> q193Sql,
    "q175_shard_rebalance" -> q175Sql,
    "q172_correlation_audit" -> q172Sql,
    "q165_encoding_advisor" -> q165Sql,
    "q150_compaction_plan" -> q150Sql,
    "q151_feed_freshness" -> q151Sql,
    "q138_salt_plan" -> q138Sql,
    "q134_zonemap_audit" -> q134Sql,
    "q117_trend_slope" -> q117Sql,
    "q118_hll_merge" -> q118Sql,
    "q113_rolling_anomaly" -> q113Sql,
    "q88_outliers_mad" -> q88Sql,
    "q89_histogram" -> q89Sql,
    "q95_equidepth_layout" -> q95Sql,
    "q85_zorder_layout" -> q85Sql,
    "q81_data_profile" -> q81Sql,
    "q76_percentile_sketch" -> q76Sql,
    "q77_heavy_hitters_cms" -> q77Sql,
    "q78_pack_shards" -> q78Sql,
    "q79_bloom_pruned_join" -> q79Sql)
}
