package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{DoubleDot, DoubleNormSq, HyperplaneBucket, LongDot, LongNormSq, SnapGrid}
import org.apache.spark.sql.{Column, DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Similarity search over the 64-d `embeddings` table (SURVEY.md §2B B32 +
  * driver mandate): brute-force cosine top-k as the correctness baseline,
  * random-hyperplane LSH bucketing as the scale path, and label-centroid
  * similarity as the distributed vector-aggregation pattern.
  *
  * Scale design:
  *  - q46 broadcasts the (small) query side; the base table is scanned once,
  *    never shuffled — per-query top-k via window over the broadcast-join
  *    output. At 100 TB the base side stays partition-local.
  *  - q47 replaces the quadratic scan with an 8-hyperplane LSH bucket join:
  *    both sides compute a row-local integer bucket (signs of dot products
  *    against md5-derived hyperplanes), and only bucket-cohabitants are
  *    scored. Bucketing math is INTEGER (embedding snapped to a 1e-3 grid),
  *    so the bucket assignment is exactly reproducible on any engine —
  *    no float-summation-order hazard in the partition key.
  *  - q48 computes per-label centroids via exact integer sums on a 1e-6
  *    grid: sums commute, so partial aggregation over any partitioning is
  *    bit-exact; only the final cosine division is floating point.
  */
object Similarity extends QueryPack {
  import Tables._

  /** Deterministic hyperplane weights: first 8 hex chars of md5("j,k") as
    * unsigned int, mapped to [-500, 499]. Mirrors the oracle's
    * ('0x'||substr(md5(j||','||k),1,8))::BIGINT % 1000 - 500. */
  private def hpWeight(j: Int, k: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$j,$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1000L - 500L
  }

  /** The vector kernels as Columns: native codegen expressions
    * (graft.functions.VecExprs) replacing the r2 interpreted
    * `aggregate`/`zip_with` lambdas. Same element-order fold, so the IEEE
    * doubles are bit-identical to the lambda forms (PropertySpec proves
    * it); ~20× the per-row throughput. */
  private def ddot(a: Column, b: Column): Column =
    GraftColumn(DoubleDot(GraftColumn.expr(a), GraftColumn.expr(b)))
  private def ldot(a: Column, b: Column): Column =
    GraftColumn(LongDot(GraftColumn.expr(a), GraftColumn.expr(b)))
  private def lnorm2(a: Column): Column =
    GraftColumn(LongNormSq(GraftColumn.expr(a)))

  /** The one-scan vector relation every similarity query starts from:
    * `vec_id, label, vd (double[]), nrm (L2 norm), vi (1e-6 integer
    * grid)` — all row-local codegen work on top of a single column-pruned
    * parquet scan, persisted MEMORY_AND_DISK because each query uses it
    * 2–4 times (query side, base side, centroid derivation). The r3 plans
    * rebuilt this relation in 3–5 separate lineages, re-scanning parquet
    * per lineage (VERDICT r3 wrong #2); the session CacheManager dedupes
    * the identical plan, so all four queries share one materialization and
    * the physical plan shows ONE parquet scan (asserted in PlanSpec). At
    * cluster scale the same role is played by a staged/bucketed vector
    * table; MEMORY_AND_DISK spills rather than OOMs under executor
    * pressure. */
  private def vecBase(s: SparkSession, d: String): DataFrame = {
    val df = embeddings(s, d)
      .withColumn("vd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", sqrt(GraftColumn(DoubleNormSq(GraftColumn.expr(col("vd"))))))
      // a zero vector has no direction: every cosine against it is 0/0 =
      // NaN, and NaN ordering differs between window (`desc` sorts NaN
      // first) and min_by (never NaN) formulations — excluding zero-norm
      // rows here makes the NaN path unreachable by construction in every
      // similarity query (the oracle CTEs mirror the filter).
      .filter(col("nrm") > 0d)
      .withColumn("vi", GraftColumn(SnapGrid(GraftColumn.expr(col("vd")), 1000000L)))
      .select("vec_id", "label", "vd", "nrm", "vi")
    graft.Caches.persist(df)
  }

  /** Per-label centroid component sums on the 1e-6 integer grid, as a
    * 10-row broadcastable table `(label, svec long[64], s2)`. 64 parallel
    * `sum(element_at(vi, k))` aggregates — partial-aggregated map-side, no
    * explode: the r3 formulation posexploded the vector relation (64× row
    * inflation into the shuffle) to compute the same sums. */
  private def centroids(base: DataFrame): DataFrame = {
    val sums = (0 until 64).map(k => sum(element_at(col("vi"), k + 1)).as(s"s$k"))
    base.groupBy("label").agg(sums.head, sums.tail: _*)
      .select(col("label"), array((0 until 64).map(k => col(s"s$k")): _*).as("svec"))
      .withColumn("s2", lnorm2(col("svec")))
  }

  // q46: brute-force cosine top-5 for every 100th vector as query. The
  // folds run in element order on both engines, so the doubles agree
  // bit-for-bit before rounding.
  private def q46(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "vd", "nrm")
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "rn", "vec_id", "cosine")
      .orderBy("qid", "rn")
  }

  /** Oracle mirror of vecBase's zero-norm exclusion (see [[vecBase]]). */
  private val NonZeroNorm =
    "list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum') > 0"

  private val q46Sql =
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT q.vec_id AS qid, b.vec_id AS vec_id,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id)
      |SELECT qid, rn, vec_id, cosine FROM (
      | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM p)
      |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // q47: approximate nearest neighbors via random-hyperplane LSH. Bucket =
  // 8 sign bits of integer dot products against deterministic hyperplanes;
  // candidates = bucket-equal pairs; scoring = exact cosine; top-3 per
  // query among candidates (recall < 1 by construction — the scale/recall
  // trade the LSH path buys).
  private def q47(s: SparkSession, d: String): DataFrame = {
    val hp: Seq[Seq[Long]] = (0 until 8).map(j => (1 to 64).map(k => hpWeight(j, k)))
    val base = vecBase(s, d)
      .withColumn("bucket",
        GraftColumn(HyperplaneBucket(GraftColumn.expr(col("vd")), hp)))
      .select(col("vec_id"), col("vd"), col("nrm"), col("bucket"))
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    broadcast(q).join(base, col("qbucket") === col("bucket") && col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("qid", "rn", "vec_id", "cosine")
      .orderBy("qid", "rn")
  }

  private val q47Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |bk AS (SELECT vec_id, v, nrm,
      |  CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
      | FROM (SELECT vec_id, v, nrm, j,
      |    list_aggregate(list_transform(range(1, 65), k -> vi[CAST(k AS INT)] *
      |      (('0x' || substr(md5(j::VARCHAR || ',' || k::VARCHAR), 1, 8))::BIGINT % 1000 - 500)), 'sum') AS dot
      |   FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj)
      | GROUP BY 1, 2, 3),
      |p AS (SELECT q.vec_id AS qid, b.vec_id AS vec_id,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM bk q JOIN bk b ON q.vec_id % 100 = 0 AND q.bucket = b.bucket AND b.vec_id <> q.vec_id)
      |SELECT qid, rn, vec_id, cosine FROM (
      | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM p)
      |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  // q48: cosine of every vector to its label centroid. Centroid components
  // are exact integer sums on a 1e-6 grid (the 1/count normalization
  // cancels inside the cosine), so partial aggregation order cannot
  // perturb the result; the 10-row centroid table broadcasts back and the
  // per-row dot/norm are single-pass LongDot/LongNormSq kernels — no
  // explode anywhere in the query.
  private def q48(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vi")
    val cent = centroids(base)
    base.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        round(ldot(col("vi"), col("svec")) / (sqrt(lnorm2(col("vi"))) * sqrt(col("s2"))), 6)
          .as("cos_centroid"))
      .orderBy("vec_id")
  }

  private val q48Sql =
    s"""WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |ex AS (SELECT vec_id, label, k, vi[CAST(k AS INT) + 1] AS x
      | FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS k) kk),
      |cent AS (SELECT label, k, sum(x) AS sx FROM ex GROUP BY 1, 2),
      |sn AS (SELECT label, sum(sx*sx) AS s2 FROM cent GROUP BY 1),
      |vn AS (SELECT vec_id, sum(x*x) AS v2 FROM ex GROUP BY 1),
      |dots AS (SELECT ex.vec_id, ex.label, sum(x*sx) AS dot
      | FROM ex JOIN cent ON ex.label = cent.label AND ex.k = cent.k GROUP BY 1, 2)
      |SELECT vec_id, label, round(dot / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))), 6) AS cos_centroid
      |FROM dots JOIN vn USING (vec_id) JOIN sn USING (label)
      |ORDER BY vec_id""".stripMargin

  // q49: IVF-style ANN — the other scale path next to LSH (q47). Coarse
  // cells = the 10 label centroids (exact integer partial sums, as q48);
  // every vector is assigned to its nearest centroid (argmax over the
  // N×10 cosine matrix, label tiebreak); queries probe ONE cell and rank
  // candidates by exact cosine. Recall < 1 by construction; at 100 TB the
  // cell assignment is a bounded broadcast-join + argmax, and the search
  // join keys on the cell id.
  private def q49(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d)
    val cent = centroids(base.select(col("label"), col("vi")))
      .select(col("label").as("clabel"), col("svec"), col("s2"))
    // every vector scores against all 10 centroids row-locally (broadcast
    // of a 10-row side, one LongDot per pair), then the cell argmax
    // collapses to one row per vec_id in a partial-aggregated min_by —
    // replacing the r3 explode → shuffle → window assignment. vd/nrm ride
    // through the aggregation via first() (identical within a vec_id
    // group), so no second join against the base relation is needed.
    val cells = base.crossJoin(broadcast(cent))
      .withColumn("ccos",
        ldot(col("vi"), col("svec")) / (sqrt(lnorm2(col("vi"))) * sqrt(col("s2"))))
      .groupBy("vec_id")
      .agg(min_by(col("clabel"), struct(-col("ccos"), col("clabel"))).as("cell"),
        first(col("vd")).as("vd"), first(col("nrm")).as("nrm"))
    val q = cells.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("nrm").as("qnrm"), col("cell").as("qcell"))
    val wTop = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    broadcast(q).join(cells, col("qcell") === col("cell") && col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select("qid", "rn", "vec_id", "cosine")
      .orderBy("qid", "rn")
  }

  private val q49Sql =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |ex AS (SELECT vec_id, label, k, vi[CAST(k AS INT) + 1] AS x
      | FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS k) kk),
      |cent AS (SELECT label, k, sum(x) AS sx FROM ex GROUP BY 1, 2),
      |sn AS (SELECT label, sum(sx*sx) AS s2 FROM cent GROUP BY 1),
      |vn AS (SELECT vec_id, sum(x*x) AS v2 FROM ex GROUP BY 1),
      |mat AS (SELECT ex.vec_id, cent.label, sum(x*sx) AS dot
      | FROM ex JOIN cent ON ex.k = cent.k GROUP BY 1, 2),
      |cosmat AS (SELECT vec_id, label,
      |  dot / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))) AS ccos
      | FROM mat JOIN vn USING (vec_id) JOIN sn USING (label)),
      |cells AS (SELECT vec_id, label AS cell FROM (
      |  SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
      |  FROM cosmat) WHERE rn = 1),
      |base AS (SELECT e.vec_id, e.v, e.nrm, cells.cell FROM e JOIN cells ON e.vec_id = cells.vec_id),
      |p AS (SELECT q.vec_id AS qid, b.vec_id AS vec_id,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM base q JOIN base b ON q.vec_id % 100 = 0 AND q.cell = b.cell AND b.vec_id <> q.vec_id)
      |SELECT qid, rn, vec_id, cosine FROM (
      | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM p)
      |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  // q72: embedding-cosine NEAR-DUP PAIRS (the fifth dedup modality of the
  // driver mandate, next to exact/Jaccard/MinHash/SimHash): hyperplane-LSH
  // bucket join generates candidates (row-local integer bucket, identical
  // to q47's), exact cosine verifies at >= 0.3, emitting the canonical
  // (a < b) near-dup pair list. Recall < 1 by construction — only pairs
  // agreeing on all 8 hyperplane signs meet, the same trade as q43/q45.
  // Scale: candidates are bucket-bounded and the join runs behind
  // Guards.capBuckets (cap oracle-mirrored; singleton buckets pruned for
  // free); at corpus scale the hyperplane count grows ~log2(N/cell) so
  // buckets stay bounded — 8 planes/256 buckets fit the tested SFs.
  private def q72(s: SparkSession, d: String): DataFrame = {
    val hp: Seq[Seq[Long]] = (0 until 8).map(j => (1 to 64).map(k => hpWeight(j, k)))
    val base0 = vecBase(s, d)
      .withColumn("bucket",
        GraftColumn(HyperplaneBucket(GraftColumn.expr(col("vd")), hp)))
      .select(col("vec_id"), col("vd"), col("nrm"), col("bucket"))
    val base = Guards.capBuckets(base0, "bucket", Dedup.MaxBucket, minFreq = 2L)
    base.alias("x").join(base.alias("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cosine",
        round(ddot(col("x.vd"), col("y.vd")) / (col("x.nrm") * col("y.nrm")), 6))
      .filter(col("cosine") >= 0.3)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), col("cosine"))
      .orderBy("a", "b")
  }

  private val q72Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |bk0 AS (SELECT vec_id, v, nrm,
      |  CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
      | FROM (SELECT vec_id, v, nrm, j,
      |    list_aggregate(list_transform(range(1, 65), k -> vi[CAST(k AS INT)] *
      |      (('0x' || substr(md5(j::VARCHAR || ',' || k::VARCHAR), 1, 8))::BIGINT % 1000 - 500)), 'sum') AS dot
      |   FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj)
      | GROUP BY 1, 2, 3),
      |bk AS (SELECT * FROM bk0
      | WHERE bucket IN (SELECT bucket FROM bk0 GROUP BY bucket HAVING count(*) <= ${Dedup.MaxBucket})),
      |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
      |  round(list_aggregate(list_transform(list_zip(x.v, y.v), z -> z[1]*z[2]), 'sum') / (x.nrm * y.nrm), 6) AS cosine
      | FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
      |SELECT a, b, cosine FROM p WHERE cosine >= 0.3 ORDER BY a, b""".stripMargin

  // q116: LABEL-NOISE AUDIT via centroid confusion — the embedding-space
  // data-quality op: a vector whose NEAREST label centroid is not its own
  // label is a mislabel candidate (or sits in a genuinely overlapping
  // region); the per-label confusion counts + exact-membership checksum
  // are the report a curation pipeline acts on (route to re-annotation,
  // or down-weight). Reuses q49's cell machinery — 10-row centroid
  // broadcast, row-local integer-dot cosines, partial-agg'd min_by argmax
  // with the (−cos, label) tiebreak — so the audit costs ONE pass over
  // the vector relation at any corpus size; no join is ever keyed on
  // anything wider than vec_id. Cosines divide integer dot products, so
  // both engines see identical doubles (the q48/q49 parity precedent).
  private def q116(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d)
    val cent = centroids(base.select(col("label"), col("vi")))
      .select(col("label").as("clabel"), col("svec"), col("s2"))
    base.select("vec_id", "label", "vi").crossJoin(broadcast(cent))
      .withColumn("ccos",
        ldot(col("vi"), col("svec")) / (sqrt(lnorm2(col("vi"))) * sqrt(col("s2"))))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"),
        min_by(col("clabel"), struct(-col("ccos"), col("clabel"))).as("nearest"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nearest") =!= col("label"), 1L).otherwise(0L)).as("n_confused"),
        sum(when(col("nearest") =!= col("label"), col("vec_id")).otherwise(0L))
          .as("id_checksum"))
      .orderBy("label")
  }

  private val q116Sql =
    s"""WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |ex AS (SELECT vec_id, label, k, vi[CAST(k AS INT) + 1] AS x
      | FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS k) kk),
      |cent AS (SELECT label, k, sum(x) AS sx FROM ex GROUP BY 1, 2),
      |sn AS (SELECT label, sum(sx*sx) AS s2 FROM cent GROUP BY 1),
      |vn AS (SELECT vec_id, sum(x*x) AS v2 FROM ex GROUP BY 1),
      |mat AS (SELECT ex.vec_id, cent.label, sum(x*sx) AS dot
      | FROM ex JOIN cent ON ex.k = cent.k GROUP BY 1, 2),
      |cosmat AS (SELECT vec_id, label,
      |  dot / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))) AS ccos
      | FROM mat JOIN vn USING (vec_id) JOIN sn USING (label)),
      |cells AS (SELECT vec_id, label AS nearest FROM (
      |  SELECT vec_id, label,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
      |  FROM cosmat) WHERE rn = 1)
      |SELECT e.label, count(*) AS n_vecs,
      | CAST(sum(CASE WHEN nearest <> e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_confused,
      | CAST(sum(CASE WHEN nearest <> e.label THEN e.vec_id ELSE 0 END) AS BIGINT)
      |   AS id_checksum
      |FROM e JOIN cells ON e.vec_id = cells.vec_id
      |GROUP BY e.label ORDER BY e.label""".stripMargin

  // q126: SEMANTIC CLUSTERING — k-means (k=8, 2 Lloyd iterations) on the
  // 1e-6 integer grid: the SemDeDup-style curation primitive (cluster the
  // corpus in embedding space, then dedup/prune/balance WITHIN clusters).
  // Every arithmetic step is exact integer math, so the assignment is
  // bit-reproducible on any engine and any partitioning:
  //  - distances use |u−c|² = |u|² + |c|² − 2·u·c over the LongDot /
  //    LongNormSq codegen kernels (grid values ≤ ~4e5 ⇒ dist² ≤ ~4e13,
  //    no Long overflow);
  //  - argmin = min(struct(dist2, cid)) — partial-aggregable, tie-broken
  //    by centroid id;
  //  - centroid update = per-dimension integer sums (64 parallel partial
  //    aggs, no explode) with truncating division `div` — DuckDB's `//`
  //    truncates identically, so the iteration-2 centroids match exactly.
  // Scale: each Lloyd pass is ONE scan of the vector relation against a
  // k-row broadcast; the centroid update shuffles k×64 longs. Iteration
  // count is FIXED (2) — the driver never loops on data-dependent state,
  // so lineage stays bounded (contrast q73's guarded CC loop). Seeds =
  // the first k vectors by id; an empty cluster simply drops out of the
  // next round on both engines.
  /** The iteration-2 k-means assignment `(vec_id, ui, cluster, dist2)`
    * shared by q126 (reports it) and q127 (prunes within it). Persisted so
    * the two queries' identical lineages share one materialization (the
    * vecBase precedent). */
  private def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select(col("vec_id"), col("vi").as("ui"))
    val seeds = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("ui").as("cvec"))
    def assign(cent: DataFrame): DataFrame = {
      val c = broadcast(cent.withColumn("c2", lnorm2(col("cvec"))))
      base.crossJoin(c)
        .withColumn("dist2",
          lnorm2(col("ui")) + col("c2") - lit(2L) * ldot(col("ui"), col("cvec")))
        .groupBy("vec_id")
        .agg(first(col("ui")).as("ui"),
          min(struct(col("dist2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("ui"),
          col("m.cid").as("cluster"), col("m.dist2").as("dist2"))
    }
    val a1 = assign(seeds)
    val sums = (0 until 64).map(k => sum(element_at(col("ui"), k + 1)).as(s"s$k"))
    val c1 = a1.groupBy("cluster")
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .select(col("cluster").as("cid"),
        array((0 until 64).map(k => expr(s"s$k div cnt")): _*).as("cvec"))
    graft.Caches.persist(assign(c1))
  }

  private def q126(s: SparkSession, d: String): DataFrame =
    kmeansAssign(s, d).select("vec_id", "cluster", "dist2").orderBy("vec_id")

  /** Shared oracle CTE chain ending in `a2` = the iteration-2 assignment
    * (vec_id, cluster, dist2); mirror of [[kmeansAssign]]. */
  private val KmeansCte =
    s"""WITH e AS (SELECT vec_id,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS ui
      | FROM embeddings WHERE $NonZeroNorm),
      |c0 AS (SELECT vec_id AS cid, ui AS cvec FROM e WHERE vec_id < 8),
      |d1 AS (SELECT e.vec_id, c0.cid,
      |   list_aggregate(list_transform(list_zip(e.ui, c0.cvec), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS dist2
      |  FROM e CROSS JOIN c0),
      |a1 AS (SELECT vec_id, cid AS cluster FROM (
      |   SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d1)
      |  WHERE rn = 1),
      |m1 AS (SELECT a1.cluster, k, sum(e.ui[CAST(k AS INT)]) // count(*) AS c
      |  FROM a1 JOIN e USING (vec_id) CROSS JOIN (SELECT unnest(range(1, 65)) AS k) kk
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cluster AS cid, list(c ORDER BY k) AS cvec FROM m1 GROUP BY 1),
      |d2 AS (SELECT e.vec_id, c1.cid,
      |   list_aggregate(list_transform(list_zip(e.ui, c1.cvec), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS dist2
      |  FROM e CROSS JOIN c1),
      |a2 AS (SELECT vec_id, cid AS cluster, dist2 FROM (
      |  SELECT vec_id, cid, dist2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d2)
      |WHERE rn = 1)""".stripMargin

  private val q126Sql =
    s"""$KmeansCte
      |SELECT vec_id, cluster, CAST(dist2 AS BIGINT) AS dist2 FROM a2
      |ORDER BY vec_id""".stripMargin

  // q127: SEMDEDUP PRUNE — semantic dedup WITHIN the q126 clusters
  // (Abbas et al's SemDeDup shape: cluster first, then compare only
  // cluster-cohabitants). Keep-lowest-id rule: a vector is dropped iff a
  // lower-id vector in the SAME cluster has cosine ≥ 2/5 with it — a
  // deterministic, iteration-free rule (no cascade: droppers are judged
  // on id, not on their own kept status, so the kept set is unique).
  // The threshold test is exact integer arithmetic, no sqrt/division:
  //   cos(u,v) ≥ 2/5  ⇔  u·v > 0  ∧  25·(u·v)² ≥ 4·|u|²·|v|²
  // with the squares lifted to DECIMAL(38,0) (≈1e27 > Long.Max; DuckDB
  // mirrors in HUGEINT), so both engines agree bit-for-bit.
  // Scale: pairs are generated per-cluster only — C(size,2) per cluster,
  // the SemDeDup contract being that k grows with the corpus to hold
  // cluster sizes bounded (k=8 here mirrors the oracle; a production run
  // sizes k ≈ N/target_cluster_size). The join is cluster-keyed, so each
  // cluster's pair block is partition-local after one shuffle.
  private def q127(s: SparkSession, d: String): DataFrame = {
    val a = kmeansAssign(s, d).select("vec_id", "ui", "cluster")
    val l = a.select(col("cluster"), col("vec_id").as("a_id"), col("ui").as("ua"))
    val r = a.select(col("cluster"), col("vec_id").as("b_id"), col("ui").as("ub"))
    val dropped = l.join(r, Seq("cluster")).filter(col("a_id") < col("b_id"))
      .withColumn("dot", ldot(col("ua"), col("ub")))
      .filter(col("dot") > 0L)
      .filter(col("dot").cast("decimal(38,0)") * col("dot") * lit(25L) >=
        lnorm2(col("ua")).cast("decimal(38,0)") * lnorm2(col("ub")) * lit(4L))
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("hit", lit(0L))
    a.select("vec_id", "cluster").join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("hit"), lit(1L)).as("kept"))
      .orderBy("vec_id")
  }

  private val q127Sql =
    s"""$KmeansCte,
      |pairs AS (SELECT ya.vec_id AS a_id, yb.vec_id AS b_id,
      |   list_aggregate(list_transform(list_zip(ea.ui, eb.ui), z -> z[1]*z[2]), 'sum') AS dot,
      |   list_aggregate(list_transform(ea.ui, x -> x*x), 'sum') AS na,
      |   list_aggregate(list_transform(eb.ui, x -> x*x), 'sum') AS nb
      |  FROM a2 ya JOIN a2 yb ON ya.cluster = yb.cluster AND ya.vec_id < yb.vec_id
      |  JOIN e ea ON ea.vec_id = ya.vec_id JOIN e eb ON eb.vec_id = yb.vec_id),
      |drp AS (SELECT DISTINCT b_id FROM pairs
      |  WHERE dot > 0 AND CAST(dot AS HUGEINT)*dot*25 >= CAST(na AS HUGEINT)*nb*4)
      |SELECT a2.vec_id, a2.cluster,
      |  CAST(CASE WHEN drp.b_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM a2 LEFT JOIN drp ON a2.vec_id = drp.b_id
      |ORDER BY vec_id""".stripMargin

  // q129: SCALAR-QUANTIZED ANN + RECALL AUDIT — the embedding-compression
  // scale play: per-dimension 8-bit scalar quantization (the int8-SQ
  // standard in FAISS-style stacks) shrinks each vector from 64×8 B grid
  // longs to 64 codes in [0,255], and the audit measures what that buys
  // and costs: for every probe (each 100th vector), overlap between the
  // quantized top-5 and the exact top-5.
  // Everything stays integer-exact on both engines:
  //  - per-dim (min, range) come from ONE aggregation over the vector
  //    relation (64 min + 64 max partial aggs, one 1-row broadcast);
  //  - code_d = ((x_d − mn_d)·255) div max(rng_d, 1) — non-negative, so
  //    truncation is floor on both engines;
  //  - both rankings (exact grid L2, quantized L2) run over the SAME
  //    broadcast-join output with two row_number windows sharing one
  //    qid-partitioned shuffle; ties break on vec_id.
  // At 100 TB: the probe side broadcasts (q46's pattern), the base side
  // is scanned once and never shuffled; the quantized scan reads 1/8th
  // the bytes of the grid scan, which is the actual production win (the
  // exact arm here is the audit yardstick, not the serving path). The
  // id-sum checksums pin exact top-5 MEMBERSHIP, not just overlap count.
  private def q129(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select(col("vec_id"), col("vi"))
    val mns = (0 until 64).map(k => min(element_at(col("vi"), k + 1)).as(s"mn$k"))
    val mxs = (0 until 64).map(k => max(element_at(col("vi"), k + 1)).as(s"mx$k"))
    val stats = base.agg((mns ++ mxs).head, (mns ++ mxs).drop(1): _*)
      .select(array((0 until 64).map(k => col(s"mn$k")): _*).as("mn"),
        array((0 until 64).map(k => greatest(col(s"mx$k") - col(s"mn$k"), lit(1L))): _*)
          .as("rng"))
    val coded = graft.Caches.persist(
      base.crossJoin(broadcast(stats))
        .withColumn("cd",
          expr("zip_with(zip_with(vi, mn, (x, m) -> x - m), rng, (t, r) -> (t * 255) div r)"))
        .select("vec_id", "vi", "cd"))
    val q = coded.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vi").as("qvi"), col("cd").as("qcd"))
    val joined = broadcast(q).join(coded, col("qid") =!= col("vec_id"))
      .withColumn("edist",
        lnorm2(col("qvi")) + lnorm2(col("vi")) - lit(2L) * ldot(col("qvi"), col("vi")))
      .withColumn("qdist",
        lnorm2(col("qcd")) + lnorm2(col("cd")) - lit(2L) * ldot(col("qcd"), col("cd")))
    val we = Window.partitionBy("qid").orderBy(col("edist"), col("vec_id"))
    val wq = Window.partitionBy("qid").orderBy(col("qdist"), col("vec_id"))
    joined
      .withColumn("re", row_number().over(we))
      .withColumn("rq", row_number().over(wq))
      .filter(col("re") <= 5 || col("rq") <= 5)
      .groupBy("qid")
      .agg(sum(when(col("re") <= 5 && col("rq") <= 5, 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("re") <= 5, col("vec_id")).otherwise(0L)).as("exact_ids_sum"),
        sum(when(col("rq") <= 5, col("vec_id")).otherwise(0L)).as("quant_ids_sum"))
      .orderBy("qid")
  }

  private val q129Sql =
    s"""WITH e AS (SELECT vec_id,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS ui
      | FROM embeddings WHERE $NonZeroNorm),
      |ex AS (SELECT vec_id, k, ui[CAST(k AS INT)] AS x
      | FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS k) kk),
      |st AS (SELECT k, min(x) AS mn, greatest(max(x) - min(x), 1) AS rng
      | FROM ex GROUP BY k),
      |codes AS (SELECT vec_id, list(((x - mn) * 255) // rng ORDER BY k) AS cd
      | FROM ex JOIN st USING (k) GROUP BY vec_id),
      |qs AS (SELECT e.vec_id AS qid, e.ui AS qvi, codes.cd AS qcd
      | FROM e JOIN codes USING (vec_id) WHERE e.vec_id % 100 = 0),
      |pairs AS (SELECT qid, e.vec_id,
      |  list_aggregate(list_transform(list_zip(qvi, e.ui), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS edist,
      |  list_aggregate(list_transform(list_zip(qcd, codes.cd), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS qdist
      | FROM qs CROSS JOIN e JOIN codes ON codes.vec_id = e.vec_id
      | WHERE e.vec_id <> qid),
      |rk AS (SELECT qid, vec_id,
      |  row_number() OVER (PARTITION BY qid ORDER BY edist, vec_id) AS re,
      |  row_number() OVER (PARTITION BY qid ORDER BY qdist, vec_id) AS rq
      | FROM pairs)
      |SELECT qid, CAST(sum(CASE WHEN re <= 5 AND rq <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      | CAST(sum(CASE WHEN re <= 5 THEN vec_id ELSE 0 END) AS BIGINT) AS exact_ids_sum,
      | CAST(sum(CASE WHEN rq <= 5 THEN vec_id ELSE 0 END) AS BIGINT) AS quant_ids_sum
      |FROM rk WHERE re <= 5 OR rq <= 5
      |GROUP BY qid ORDER BY qid""".stripMargin

  // q131: HYBRID RETRIEVAL FUSION (RRF) — the RAG-serving composition:
  // one lexical arm (the q84 BM25-family scorer, terms "key table row")
  // and one semantic arm (cosine against the vec_id-0 probe, the q46
  // kernel), each reduced to its top-20 BEFORE fusion (both plan as
  // TakeOrderedAndProject — no global sort ever materializes), then
  // fused by reciprocal-rank: rrf = Σ_arms 1e12 div (60 + rank). RRF is
  // used verbatim from the literature because it is rank-only: the two
  // arms' scores live on incomparable scales (rational BM25 vs cosine),
  // and rank-space fusion is what makes the integer-exact contract
  // possible — 1e12 div (60+r) is exact on both engines, so the fused
  // ordering carries no float at all. Ranks inside each 20-row arm come
  // from the q77 bounded-window idiom (pmod partition key, never a
  // partitionless window). At 100 TB each arm is the already-proven
  // scale shape (q84's one-stats-row broadcast scan; q46's broadcast
  // probe × one base scan); the fusion join touches ≤ 40 rows.
  private def q131(s: SparkSession, d: String): DataFrame = {
    import graft.Tables.documents
    val terms = Seq("key", "table", "row")
    val toks = documents(s, d).withColumn("toks", split(col("text"), " "))
      .withColumn("nt", size(col("toks")).cast("double"))
    val statAggs = Seq(count(lit(1)).cast("double").as("nn"),
      sum(size(col("toks"))).cast("double").as("sumnt")) ++
      terms.map(t => count(when(array_contains(col("toks"), t), 1))
        .cast("double").as(s"df_$t"))
    val stats = toks.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.map { t =>
      val tf = expr(s"CAST(size(filter(toks, x -> x = '$t')) AS DOUBLE)")
      val idf = (col("nn") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5))
      idf * ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("nt") / (col("sumnt") / col("nn")))))
    }.reduce(_ + _)
    val lex20 = toks.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(20)
    val wl = Window.partitionBy(pmod(col("doc_id"), lit(1L)))
      .orderBy(desc("bm25"), col("doc_id"))
    val lex = lex20.withColumn("lex_rank", row_number().over(wl).cast("long"))
      .select(col("doc_id").as("id"), col("lex_rank"))
    val base = vecBase(s, d).select("vec_id", "vd", "nrm")
    val probe = base.filter(col("vec_id") === 0)
      .select(col("vd").as("qv"), col("nrm").as("qnrm"))
    val sem20 = base.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id")).limit(20)
    val ws = Window.partitionBy(pmod(col("vec_id"), lit(1L)))
      .orderBy(desc("cosine"), col("vec_id"))
    val sem = sem20.withColumn("sem_rank", row_number().over(ws).cast("long"))
      .select(col("vec_id").as("id"), col("sem_rank"))
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0L)).as("sem_rank"),
        (when(col("lex_rank").isNotNull,
          expr("1000000000000 div (60 + lex_rank)")).otherwise(0L) +
          when(col("sem_rank").isNotNull,
            expr("1000000000000 div (60 + sem_rank)")).otherwise(0L)).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id")).limit(10)
  }

  private val q131Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
      |  CAST(sum(len(tk)) AS DOUBLE) AS sumnt,
      |  CAST(sum(CASE WHEN list_contains(tk, 'key') THEN 1 ELSE 0 END) AS DOUBLE) AS df_key,
      |  CAST(sum(CASE WHEN list_contains(tk, 'table') THEN 1 ELSE 0 END) AS DOUBLE) AS df_table,
      |  CAST(sum(CASE WHEN list_contains(tk, 'row') THEN 1 ELSE 0 END) AS DOUBLE) AS df_row
      | FROM toks),
      |sc AS (SELECT doc_id, round(
      |   ((nn - df_key + 0.5) / (df_key + 0.5)) * ((tf_key * 2.2) /
      |     (tf_key + 1.2 * (0.25 + 0.75 * nt / (sumnt / nn))))
      | + ((nn - df_table + 0.5) / (df_table + 0.5)) * ((tf_table * 2.2) /
      |     (tf_table + 1.2 * (0.25 + 0.75 * nt / (sumnt / nn))))
      | + ((nn - df_row + 0.5) / (df_row + 0.5)) * ((tf_row * 2.2) /
      |     (tf_row + 1.2 * (0.25 + 0.75 * nt / (sumnt / nn)))), 4) AS bm25
      | FROM (SELECT doc_id,
      |    CAST(len(tk) AS DOUBLE) AS nt,
      |    CAST(len(list_filter(tk, x -> x = 'key')) AS DOUBLE) AS tf_key,
      |    CAST(len(list_filter(tk, x -> x = 'table')) AS DOUBLE) AS tf_table,
      |    CAST(len(list_filter(tk, x -> x = 'row')) AS DOUBLE) AS tf_row
      |   FROM toks) CROSS JOIN st),
      |lex AS (SELECT doc_id AS id,
      |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      | FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS vd,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |q AS (SELECT vd AS qv, nrm AS qnrm FROM e WHERE vec_id = 0),
      |cs AS (SELECT vec_id, round(
      |   list_aggregate(list_transform(list_zip(qv, vd), z -> z[1]*z[2]), 'sum')
      |     / (qnrm * nrm), 6) AS cosine
      | FROM e CROSS JOIN q WHERE vec_id <> 0),
      |sem AS (SELECT vec_id AS id,
      |  row_number() OVER (ORDER BY cosine DESC, vec_id) AS sem_rank
      | FROM cs ORDER BY cosine DESC, vec_id LIMIT 20)
      |SELECT coalesce(lex.id, sem.id) AS doc_id,
      | CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
      | CAST(coalesce(sem_rank, 0) AS BIGINT) AS sem_rank,
      | CAST(coalesce(1000000000000 // (60 + lex_rank), 0)
      |   + coalesce(1000000000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf
      |FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
      |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // q153: SIMILARITY-SCORE CALIBRATION CURVE — what does a cosine of 0.x
  // MEAN on this corpus? For every probe-candidate pair (q46's exact
  // frame: broadcast 1%-probe sample × the vector relation, the same
  // join shape the top-k query already pays) the pair lands in a
  // 0.1-wide cosine bucket and the bucket's empirical precision is the
  // share of pairs whose LABELS agree — the curve that turns a raw
  // similarity threshold into an expected-precision contract (the
  // retrieval-side analogue of q140's MinHash calibration). Bucket =
  // floor(cosine·10) on the identically-rounded double, so both engines
  // bucket identically; precision in integer bp; output is ≤ 20 buckets
  // at any corpus size.
  private def q153(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vd", "nrm")
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("vd").as("qv"), col("nrm").as("qnrm"))
    broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("bucket", expr("CAST(floor(cosine * 10) AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("qlabel") === col("label"), 1L).otherwise(0L)).as("n_same_label"))
      .withColumn("precision_bp", expr("(n_same_label * 10000) div n_pairs"))
      .orderBy("bucket")
  }

  private val q153Sql =
    s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT q.label AS qlabel, b.label AS label,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
      |bk AS (SELECT CAST(floor(cosine * 10) AS BIGINT) AS bucket,
      |  CASE WHEN qlabel = label THEN 1 ELSE 0 END AS same FROM p)
      |SELECT bucket, count(*) AS n_pairs, CAST(sum(same) AS BIGINT) AS n_same_label,
      | (CAST(sum(same) AS BIGINT) * 10000) // count(*) AS precision_bp
      |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin

  // q154: HUBNESS AUDIT — the high-dimensional pathology check for the
  // ANN family (q47/q49/q129): a "hub" vector appears in a
  // disproportionate share of other points' nearest-neighbor lists and
  // silently dominates retrieval results. Counted exactly over q46's
  // probe top-5 lists (same broadcast-probe join, same rounded-cosine
  // window with the vec_id tiebreak), then one Zipf-small aggregation at
  // neighbor grain and a top-20 head that fuses to
  // TakeOrderedAndProject. hub_count's ceiling is the probe count, so
  // the audit's output is bounded by min(20, |probes|·5) rows anywhere.
  private def q154(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vd", "nrm")
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("hub_count"))
      .orderBy(desc("hub_count"), col("vec_id"))
      .limit(20)
  }

  private val q154Sql =
    s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT q.vec_id AS qid, b.vec_id AS vec_id, b.label AS label,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
      |tk AS (SELECT vec_id, label FROM (
      | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM p)
      | WHERE rn <= 5)
      |SELECT vec_id, label, count(*) AS hub_count
      |FROM tk GROUP BY 1, 2 ORDER BY hub_count DESC, vec_id LIMIT 20""".stripMargin

  // q159: DIVERSITY-CONSTRAINED TOP-K — the re-rank every production
  // retrieval stack applies after raw similarity: the plain top-k can be
  // k near-copies of one cluster (exactly the q154 hub failure); this
  // returns the best representative of each of the top-3 DISTINCT
  // labels instead. MMR without the sequential greedy loop: a
  // per-(probe, label) window keeps only each label's champion, then a
  // per-probe window ranks champions — the second frame is bounded by
  // |labels|, and the first is the same per-probe partitioning the
  // plain top-k (q46) already sorts, so the diversity constraint costs
  // one extra bounded window, not a quadratic penalty matrix. Rounded
  // cosines + vec_id tiebreaks keep every rank engine-deterministic.
  private def q159(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vd", "nrm")
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qnrm"))
    val wLabel = Window.partitionBy("qid", "label").orderBy(desc("cosine"), col("vec_id"))
    val wQ = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rl", row_number().over(wLabel))
      .filter(col("rl") === 1)
      .withColumn("div_rank", row_number().over(wQ).cast("long"))
      .filter(col("div_rank") <= 3)
      .select("qid", "div_rank", "vec_id", "label", "cosine")
      .orderBy("qid", "div_rank")
  }

  private val q159Sql =
    s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT q.vec_id AS qid, b.vec_id AS vec_id, b.label AS label,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
      |c AS (SELECT * FROM (SELECT *,
      |   row_number() OVER (PARTITION BY qid, label ORDER BY cosine DESC, vec_id) AS rl FROM p)
      |  WHERE rl = 1)
      |SELECT qid, div_rank, vec_id, label, cosine FROM (
      | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS div_rank
      | FROM c)
      |WHERE div_rank <= 3 ORDER BY qid, div_rank""".stripMargin

  // q164: MATRYOSHKA (truncated-dimension) RECALL AUDIT — the q129
  // pattern applied to the other lossy-retrieval axis modern embedding
  // stacks expose: MRL-trained models let a serving tier keep only the
  // FIRST d' dims of each vector (¼ here: 16 of 64) to cut index memory
  // and dot-product cost 4×, betting that prefix-dim neighborhoods
  // approximate full-dim ones. This op measures that bet on the corpus
  // itself: per probe, exact top-5 by full 64-dim L2 vs top-5 by 16-dim
  // prefix L2, overlap + order-free id checksums per arm. Everything
  // rides the 1e-6 integer grid (vi) — squared L2 from integer dot/norm
  // kernels, so both engines rank identical integers and the audit is
  // hash-exact (the q129 contract). Shape at 100 TB: same as q46/q129 —
  // probes broadcast, one scan of the shared vecBase materialization,
  // per-probe bounded windows; the truncated arm is the one a serving
  // index would actually run, and this query is its offline recall gate.
  private def q164(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select(col("vec_id"), col("vi"))
      .withColumn("vt", expr("slice(vi, 1, 16)"))
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vi").as("qvi"), col("vt").as("qvt"))
    val joined = broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("edist",
        lnorm2(col("qvi")) + lnorm2(col("vi")) - lit(2L) * ldot(col("qvi"), col("vi")))
      .withColumn("tdist",
        lnorm2(col("qvt")) + lnorm2(col("vt")) - lit(2L) * ldot(col("qvt"), col("vt")))
    val we = Window.partitionBy("qid").orderBy(col("edist"), col("vec_id"))
    val wt = Window.partitionBy("qid").orderBy(col("tdist"), col("vec_id"))
    joined
      .withColumn("re", row_number().over(we))
      .withColumn("rt", row_number().over(wt))
      .filter(col("re") <= 5 || col("rt") <= 5)
      .groupBy("qid")
      .agg(sum(when(col("re") <= 5 && col("rt") <= 5, 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("re") <= 5, col("vec_id")).otherwise(0L)).as("exact_ids_sum"),
        sum(when(col("rt") <= 5, col("vec_id")).otherwise(0L)).as("trunc_ids_sum"))
      .orderBy("qid")
  }

  private val q164Sql =
    s"""WITH e AS (SELECT vec_id,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS ui
      | FROM embeddings WHERE $NonZeroNorm),
      |t AS (SELECT vec_id, ui, list_slice(ui, 1, 16) AS ut FROM e),
      |qs AS (SELECT vec_id AS qid, ui AS qvi, ut AS qvt FROM t WHERE vec_id % 100 = 0),
      |pairs AS (SELECT qid, t.vec_id,
      |  list_aggregate(list_transform(list_zip(qvi, t.ui), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS edist,
      |  list_aggregate(list_transform(list_zip(qvt, t.ut), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS tdist
      | FROM qs CROSS JOIN t WHERE t.vec_id <> qid),
      |rk AS (SELECT qid, vec_id,
      |  row_number() OVER (PARTITION BY qid ORDER BY edist, vec_id) AS re,
      |  row_number() OVER (PARTITION BY qid ORDER BY tdist, vec_id) AS rt
      | FROM pairs)
      |SELECT qid, CAST(sum(CASE WHEN re <= 5 AND rt <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      | CAST(sum(CASE WHEN re <= 5 THEN vec_id ELSE 0 END) AS BIGINT) AS exact_ids_sum,
      | CAST(sum(CASE WHEN rt <= 5 THEN vec_id ELSE 0 END) AS BIGINT) AS trunc_ids_sum
      |FROM rk WHERE re <= 5 OR rt <= 5
      |GROUP BY qid ORDER BY qid""".stripMargin

  // q174: IVF nprobe RECALL CURVE — the missing calibration knob for the
  // q49 index, in the q168/q140 "measure the curve, don't guess the knob"
  // family: IVF recall is controlled by how many coarse cells a query
  // probes, and this derives recall@5 for the whole nprobe grid
  // {1,2,4,8} in ONE pass instead of re-running the search per setting.
  // The identity that collapses the grid: an exact top-5 neighbor is
  // found at nprobe=p iff the RANK of its assigned cell in the probe's
  // centroid ordering is <= p — so one join of the exact top-5 against
  // (cell assignment, probe's cell ranking) yields every curve point as
  // a conditional sum. Cell cosines ride the q49 integer-grid kernels
  // (exact integer dots, label tiebreaks), the exact arm is q46's
  // rounded-cosine window, so every rank is engine-deterministic and the
  // curve is hash-exact. Shape at 100 TB: cell assignment is the q49
  // broadcast argmax (one scan), the probe×centroid ranking is
  // |probes|×|cells| metadata, and the exact arm is the bounded audit
  // sample every ANN deployment runs offline anyway — the curve costs
  // one scan more than the q49 search it tunes.
  private def q174(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d)
    val cent = centroids(base.select(col("label"), col("vi")))
      .select(col("label").as("clabel"), col("svec"), col("s2"))
    // every vector's nearest cell — q49's broadcast argmax, plus the
    // integer-grid vector riding along for the probe-side cell ranking
    val cells = base.crossJoin(broadcast(cent))
      .withColumn("ccos",
        ldot(col("vi"), col("svec")) / (sqrt(lnorm2(col("vi"))) * sqrt(col("s2"))))
      .groupBy("vec_id")
      .agg(min_by(col("clabel"), struct(-col("ccos"), col("clabel"))).as("cell"),
        first(col("vd")).as("vd"), first(col("nrm")).as("nrm"),
        first(col("vi")).as("vi"))
    val q = cells.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qnrm"),
        col("vi").as("qvi"))
    // probe-side centroid ranking: |probes| × 10 rows of metadata, on the
    // same integer-grid cosine the assignment uses (identical doubles on
    // both engines — exact integer dot and norm under one double division)
    val wCell = Window.partitionBy("qid").orderBy(desc("qcos"), col("clabel"))
    val cellRank = broadcast(q.select("qid", "qvi")).crossJoin(broadcast(cent))
      .withColumn("qcos",
        ldot(col("qvi"), col("svec")) / (sqrt(lnorm2(col("qvi"))) * sqrt(col("s2"))))
      .withColumn("crank", row_number().over(wCell))
      .select(col("qid").as("rqid"), col("clabel"), col("crank"))
    // exact top-5 per probe (q46's arm), then each hit's cell rank
    val wTop = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    val exact = broadcast(q.drop("qvi")).join(cells.drop("vi"), col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
      .select("qid", "vec_id", "cell")
    val probes = Seq(1, 2, 4, 8)
    val aggd = exact
      .join(broadcast(cellRank), col("qid") === col("rqid") && col("cell") === col("clabel"))
      .agg(count(lit(1)).as("n_exact"),
        probes.map(p => sum(when(col("crank") <= p, 1L).otherwise(0L)).as(s"hit$p")): _*)
    aggd.select(explode(array(probes.map(p => struct(
        lit(p.toLong).as("nprobe"),
        col(s"hit$p").as("n_found"),
        col("n_exact"),
        expr(s"hit$p * 1000 div n_exact").as("recall_permille"))): _*)).as("row"))
      .select("row.*")
      .orderBy("nprobe")
  }

  private val q174Sql =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |ex AS (SELECT vec_id, label, k, vi[CAST(k AS INT) + 1] AS x
      | FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS k) kk),
      |cent AS (SELECT label, k, sum(x) AS sx FROM ex GROUP BY 1, 2),
      |sn AS (SELECT label, sum(sx*sx) AS s2 FROM cent GROUP BY 1),
      |vn AS (SELECT vec_id, sum(x*x) AS v2 FROM ex GROUP BY 1),
      |mat AS (SELECT ex.vec_id, cent.label, sum(x*sx) AS dot
      | FROM ex JOIN cent ON ex.k = cent.k GROUP BY 1, 2),
      |cosmat AS (SELECT vec_id, label,
      |  dot / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(s2 AS DOUBLE))) AS ccos
      | FROM mat JOIN vn USING (vec_id) JOIN sn USING (label)),
      |cells AS (SELECT vec_id, label AS cell FROM (
      |  SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
      |  FROM cosmat) WHERE rn = 1),
      |crank AS (SELECT vec_id AS rqid, label AS clabel,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS crank
      | FROM cosmat WHERE vec_id % 100 = 0),
      |p AS (SELECT q.vec_id AS qid, b.vec_id AS vec_id,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM e q JOIN e b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
      |tk AS (SELECT qid, vec_id FROM (
      | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM p)
      | WHERE rn <= 5),
      |h AS (SELECT crank FROM tk JOIN cells USING (vec_id)
      | JOIN crank ON tk.qid = crank.rqid AND cells.cell = crank.clabel),
      |a AS (SELECT count(*) AS n_exact,
      |  sum(CASE WHEN crank <= 1 THEN 1 ELSE 0 END) AS h1,
      |  sum(CASE WHEN crank <= 2 THEN 1 ELSE 0 END) AS h2,
      |  sum(CASE WHEN crank <= 4 THEN 1 ELSE 0 END) AS h4,
      |  sum(CASE WHEN crank <= 8 THEN 1 ELSE 0 END) AS h8
      | FROM h)
      |SELECT CAST(t.nprobe AS BIGINT) AS nprobe, CAST(t.h AS BIGINT) AS n_found,
      | CAST(a.n_exact AS BIGINT) AS n_exact,
      | CAST(t.h * 1000 // a.n_exact AS BIGINT) AS recall_permille
      |FROM a CROSS JOIN LATERAL (VALUES (1, h1), (2, h2), (4, h4), (8, h8)) AS t(nprobe, h)
      |ORDER BY nprobe""".stripMargin

  // q180: RETRIEVAL-QUALITY EVAL — the offline judgment pass every
  // retrieval stack (q46/q47/q49/q131) needs before its knobs mean
  // anything: hit rate and precision at k ∈ {1, 5, 10} for the exact
  // cosine arm, judged against label-match relevance (the corpus's own
  // ground truth, as q48/q116 use it). Per probe: does the top-k contain
  // ANY same-label neighbor (hit@k), and how many of its k slots are
  // same-label (precision@k) — aggregated over probes as integer
  // permilles via one pass of conditional sums and the q168 curve
  // unpivot. Every rank is the q46 rounded-cosine + vec_id ordering, so
  // the whole table is hash-exact. Shape at 100 TB: the probe set is the
  // audit sample (broadcast), one scan of the shared vecBase, per-probe
  // bounded windows — the eval costs exactly one q46, and prices every
  // cheaper arm's recall loss in metric terms.
  private def q180(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vd", "nrm")
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("vd").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    val ks = Seq(1, 5, 10)
    val perProbe = broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("cosine", round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
      .groupBy("qid")
      .agg(sum(when(col("rn") <= 1, col("rel")).otherwise(0L)).as("rel1"),
        ks.tail.map(k =>
          sum(when(col("rn") <= k, col("rel")).otherwise(0L)).as(s"rel$k")): _*)
    val aggd = perProbe.agg(
      count(lit(1)).as("n_probes"),
      ks.flatMap(k => Seq(
        sum(when(col(s"rel$k") > 0, 1L).otherwise(0L)).as(s"hit$k"),
        sum(col(s"rel$k")).as(s"sum$k"))): _*)
    aggd.select(explode(array(ks.map(k => struct(
        lit(k.toLong).as("k"),
        col("n_probes"),
        col(s"hit$k").as("n_hit_probes"),
        expr(s"hit$k * 1000 div n_probes").as("hit_rate_permille"),
        col(s"sum$k").as("n_relevant_retrieved"),
        expr(s"sum$k * 1000 div (n_probes * $k)").as("precision_permille"))): _*))
        .as("row"))
      .select("row.*")
      .orderBy("k")
  }

  private val q180Sql =
    s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT q.vec_id AS qid, q.label AS qlabel, b.vec_id AS vec_id, b.label AS label,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
      |tk AS (SELECT qid, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel, rn FROM (
      | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM p)
      | WHERE rn <= 10),
      |pp AS (SELECT qid,
      |  sum(CASE WHEN rn <= 1 THEN rel ELSE 0 END) AS rel1,
      |  sum(CASE WHEN rn <= 5 THEN rel ELSE 0 END) AS rel5,
      |  sum(CASE WHEN rn <= 10 THEN rel ELSE 0 END) AS rel10
      | FROM tk GROUP BY qid),
      |a AS (SELECT count(*) AS n_probes,
      |  sum(CASE WHEN rel1 > 0 THEN 1 ELSE 0 END) AS hit1, sum(rel1) AS sum1,
      |  sum(CASE WHEN rel5 > 0 THEN 1 ELSE 0 END) AS hit5, sum(rel5) AS sum5,
      |  sum(CASE WHEN rel10 > 0 THEN 1 ELSE 0 END) AS hit10, sum(rel10) AS sum10
      | FROM pp)
      |SELECT CAST(t.k AS BIGINT) AS k, CAST(a.n_probes AS BIGINT) AS n_probes,
      | CAST(t.h AS BIGINT) AS n_hit_probes,
      | CAST(t.h * 1000 // a.n_probes AS BIGINT) AS hit_rate_permille,
      | CAST(t.s AS BIGINT) AS n_relevant_retrieved,
      | CAST(t.s * 1000 // (a.n_probes * t.k) AS BIGINT) AS precision_permille
      |FROM a CROSS JOIN LATERAL (VALUES (1, hit1, sum1), (5, hit5, sum5),
      |  (10, hit10, sum10)) AS t(k, h, s)
      |ORDER BY k""".stripMargin

  // q194: EMBEDDING INTEGRITY GATE — the QA pass that must run before
  // any index build, priced as ONE corpus scan: q182 checks the vector
  // table AGAINST the corpus (coverage), this checks the vectors
  // THEMSELVES. Five defect classes as exact counts: dimension drift
  // (vs the MODAL dim — data-derived, q167's de-facto-schema
  // convention), NaN components (poison every distance they touch),
  // infinities, zero vectors (no direction — the very rows vecBase must
  // exclude: this is where that exclusion stops being silent and
  // becomes a reported number), and exact duplicates on the 1e-6 grid
  // (the SnapGrid key all integer-exact similarity queries share —
  // wasted index slots + self-neighbor pollution). Shape: flags are
  // row-local higher-order predicates inside the scan; the modal dim
  // is a bounded grouped count; the dup key is one md5 per CLEAN vector
  // partial-agg'd on the key; everything closes onto a single row via
  // 1-row broadcast crossJoins (the q141 idiom).
  private def q194(s: SparkSession, d: String): DataFrame = {
    val vecs = embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .withColumn("dims", size(col("embedding")).cast("long"))
      .withColumn("has_nan", expr("exists(embedding, x -> isnan(x))"))
      .withColumn("has_inf",
        expr("exists(embedding, x -> abs(cast(x as double)) = cast('Infinity' as double))"))
      .withColumn("is_zero", expr("forall(embedding, x -> cast(x as double) = 0.0d)"))
    graft.Caches.persist(vecs)
    val modal = vecs.groupBy("dims").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("dims")).limit(1)
      .select(col("dims").as("modal_dims"))
    val clean = vecs.filter(!col("has_nan") && !col("has_inf"))
      .withColumn("vd", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("vi", GraftColumn(SnapGrid(GraftColumn.expr(col("vd")), 1000000L)))
      .withColumn("gk", md5(expr("array_join(transform(vi, x -> cast(x as string)), ',')")))
    val dups = clean.groupBy("gk").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .agg(coalesce(sum("n"), lit(0L)).as("n_dup_vectors"),
        count(lit(1)).as("n_dup_groups"))
    vecs.crossJoin(broadcast(modal))
      .agg(count(lit(1)).as("n_vecs"),
        max("modal_dims").as("modal_dims"),
        sum(when(col("dims") =!= col("modal_dims"), 1L).otherwise(0L)).as("n_dim_mismatch"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_with_nan"),
        sum(when(col("has_inf"), 1L).otherwise(0L)).as("n_with_inf"),
        sum(when(col("is_zero"), 1L).otherwise(0L)).as("n_zero_vectors"))
      .crossJoin(broadcast(dups))
      .select(col("n_vecs"), col("modal_dims"), col("n_dim_mismatch"),
        col("n_with_nan"), col("n_with_inf"), col("n_zero_vectors"),
        col("n_dup_vectors"), col("n_dup_groups"))
  }

  private val q194Sql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |s AS (SELECT vec_id, len(e) AS dims,
      |  coalesce(list_aggregate(list_transform(e,
      |    x -> CASE WHEN isnan(x) THEN 1 ELSE 0 END), 'max'), 0) = 1 AS has_nan,
      |  coalesce(list_aggregate(list_transform(e,
      |    x -> CASE WHEN isinf(x) THEN 1 ELSE 0 END), 'max'), 0) = 1 AS has_inf,
      |  coalesce(list_aggregate(list_transform(e,
      |    x -> CASE WHEN x = 0 THEN 0 ELSE 1 END), 'max'), 0) = 0 AS is_zero
      | FROM v),
      |m AS (SELECT dims AS modal_dims FROM
      |  (SELECT dims, count(*) AS c FROM s GROUP BY dims
      |   ORDER BY c DESC, dims LIMIT 1)),
      |cl AS (SELECT md5(array_to_string(list_transform(e,
      |    x -> CAST(round(x * 1000000) AS BIGINT)), ',')) AS gk
      |  FROM v JOIN s USING (vec_id) WHERE NOT has_nan AND NOT has_inf),
      |dg AS (SELECT coalesce(sum(n), 0) AS n_dup_vectors,
      |   count(*) AS n_dup_groups FROM
      |  (SELECT gk, count(*) AS n FROM cl GROUP BY gk HAVING count(*) >= 2)),
      |st AS (SELECT count(*) AS n_vecs, max(modal_dims) AS modal_dims,
      |  sum(CASE WHEN dims <> modal_dims THEN 1 ELSE 0 END) AS n_dim_mismatch,
      |  sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS n_with_nan,
      |  sum(CASE WHEN has_inf THEN 1 ELSE 0 END) AS n_with_inf,
      |  sum(CASE WHEN is_zero THEN 1 ELSE 0 END) AS n_zero_vectors
      | FROM s CROSS JOIN m)
      |SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
      | CAST(modal_dims AS BIGINT) AS modal_dims,
      | CAST(n_dim_mismatch AS BIGINT) AS n_dim_mismatch,
      | CAST(n_with_nan AS BIGINT) AS n_with_nan,
      | CAST(n_with_inf AS BIGINT) AS n_with_inf,
      | CAST(n_zero_vectors AS BIGINT) AS n_zero_vectors,
      | CAST(n_dup_vectors AS BIGINT) AS n_dup_vectors,
      | CAST(n_dup_groups AS BIGINT) AS n_dup_groups
      |FROM st CROSS JOIN dg""".stripMargin

  // q190: TRIPLET MINING for contrastive training — the operator that
  // turns the labeled vector table into (anchor, positive, negative)
  // training triplets, FaceNet-style: per sampled anchor (q46's every-
  // 100th convention), the nearest SAME-label vector (positive), the
  // nearest CROSS-label vector (hardest negative — cosine may exceed the
  // positive's: margin < 0 is exactly the "violating triplet" the loss
  // trains on), and the SEMI-HARD negative (hardest cross-label vector
  // still below the positive's cosine — the selection FaceNet found
  // stablest; NULL when every negative outranks the positive, which is
  // itself a signal the label is collapsing). Shape: one broadcast of
  // the sampled anchors against the shared vecBase relation (q46's exact
  // arm — no index, this is the offline miner), the scored frame persists
  // once and feeds all three window-ranked selections, each partitioned
  // by anchor; margins on round-6 doubles (q46's bit-agreement contract).
  private def q190(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vd", "nrm")
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("vd").as("qv"), col("nrm").as("qnrm"))
    val scored = broadcast(q).join(base, col("qid") =!= col("vec_id"))
      .withColumn("cosine",
        round(ddot(col("qv"), col("vd")) / (col("qnrm") * col("nrm")), 6))
      .select("qid", "qlabel", "vec_id", "label", "cosine")
    graft.Caches.persist(scored)
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("vec_id"))
    def top1(df: DataFrame, idName: String, cosName: String): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as(idName), col("cosine").as(cosName))
    val pos = top1(scored.filter(col("qlabel") === col("label")), "pos_id", "pos_cos")
    val neg = top1(scored.filter(col("qlabel") =!= col("label")), "neg_id", "neg_cos")
    val semi = top1(
      scored.filter(col("qlabel") =!= col("label"))
        .join(broadcast(pos.select(col("qid"), col("pos_cos"))), "qid")
        .filter(col("cosine") < col("pos_cos")),
      "semi_id", "semi_cos")
    pos.join(neg, "qid").join(semi, Seq("qid"), "left")
      .select(col("qid"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"),
        col("semi_id"), col("semi_cos"))
      .orderBy("qid")
  }

  private val q190Sql =
    s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT q.vec_id AS qid, q.label AS qlabel, b.vec_id AS vec_id, b.label AS label,
      |  round(list_aggregate(list_transform(list_zip(q.v, b.v), z -> z[1]*z[2]), 'sum') / (q.nrm * b.nrm), 6) AS cosine
      | FROM n q JOIN n b ON q.vec_id % 100 = 0 AND b.vec_id <> q.vec_id),
      |pos AS (SELECT qid, vec_id AS pos_id, cosine AS pos_cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
      |  FROM p WHERE label = qlabel) WHERE rn = 1),
      |neg AS (SELECT qid, vec_id AS neg_id, cosine AS neg_cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
      |  FROM p WHERE label <> qlabel) WHERE rn = 1),
      |sh AS (SELECT qid, vec_id AS semi_id, cosine AS semi_cos FROM (
      |  SELECT p.*, row_number() OVER (PARTITION BY p.qid ORDER BY cosine DESC, vec_id) AS rn
      |  FROM p JOIN pos ON p.qid = pos.qid
      |  WHERE p.label <> p.qlabel AND p.cosine < pos.pos_cos) WHERE rn = 1)
      |SELECT pos.qid AS qid, pos_id, pos_cos, neg_id, neg_cos,
      | round(pos_cos - neg_cos, 6) AS margin, semi_id, semi_cos
      |FROM pos JOIN neg ON pos.qid = neg.qid
      | LEFT JOIN sh ON pos.qid = sh.qid
      |ORDER BY qid""".stripMargin

  // q201: EMBEDDING CENTROID DRIFT — the VECTOR-space member of the drift
  // family (q121 scores scalar stratum drift, q125 seasonality drift;
  // this asks whether each label's REGION of embedding space moved
  // between two generations of the table). Generations are the pctBucket
  // halves of vec_id (the q74 membership convention — row-local, no
  // epoch column needed); per (label, epoch) the centroid rides q48's
  // exact-integer machinery (64 componentwise Long sums on the 1e-6
  // grid — partial-agg'd, order-immune), so the ONLY floating point is
  // the final per-label arithmetic on the 10-row joined grid: drift =
  // ‖Σa/nₐ − Σb/n_b‖ (fixed-order fold over the two sum arrays, the q46
  // bit-agreement contract) and the centroid cosine (n cancels — sum
  // vectors suffice), both round-6. Read together they separate
  // magnitude from direction: high drift + cos≈1 is a norm/scale shift
  // (re-normalization fixes it), low cos is a real semantic rotation
  // (retrain the index, re-run q126/q127 downstream). Labels missing an
  // epoch are undefined (inner join) — q194's integrity gate is where
  // absence is the finding. One corpus-scale shuffle (the 20-key
  // centroid agg); everything after is the label grid.
  private def q201(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vi")
      .withColumn("epoch", when(Tables.pctBucket(col("vec_id")) < 50, "a").otherwise("b"))
    val sums = (0 until 64).map(k => sum(element_at(col("vi"), k + 1)).as(s"s$k"))
    val agg = base.groupBy("label", "epoch")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("label"), col("epoch"), col("n"),
        array((0 until 64).map(k => col(s"s$k")): _*).as("svec"))
    val a = agg.filter(col("epoch") === "a")
      .select(col("label"), col("n").as("n_a"), col("svec").as("sa"))
    val b = agg.filter(col("epoch") === "b")
      .select(col("label"), col("n").as("n_b"), col("svec").as("sb"))
    a.join(b, Seq("label"))
      .withColumn("ss", expr(
        """aggregate(zip_with(sa, sb, (x, y) -> CAST(x AS DOUBLE)/n_a - CAST(y AS DOUBLE)/n_b),
          | 0D, (acc, v) -> acc + v*v)""".stripMargin))
      .withColumn("dt", expr(
        "aggregate(zip_with(sa, sb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"))
      .withColumn("n2a", expr(
        "aggregate(sa, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE))"))
      .withColumn("n2b", expr(
        "aggregate(sb, 0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE))"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(sqrt(col("ss")) / 1000000d, 6).as("centroid_drift"),
        round(col("dt") / (sqrt(col("n2a")) * sqrt(col("n2b"))), 6).as("centroid_cos"))
      .orderBy("label")
  }

  private val q201Sql =
    s"""WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vi
      | FROM embeddings WHERE $NonZeroNorm),
      |ep AS (SELECT vec_id, label, vi,
      |  CASE WHEN ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 100 < 50
      |       THEN 'a' ELSE 'b' END AS epoch FROM e),
      |cnt AS (SELECT label, epoch, count(*) AS n FROM ep GROUP BY 1, 2),
      |ex AS (SELECT label, epoch, k, vi[CAST(k AS INT) + 1] AS x
      | FROM ep CROSS JOIN (SELECT unnest(range(0, 64)) AS k) kk),
      |cent AS (SELECT label, epoch, k, sum(x) AS sx FROM ex GROUP BY 1, 2, 3),
      |cl AS (SELECT label, epoch, list(sx ORDER BY k) AS svec FROM cent GROUP BY 1, 2),
      |j AS (SELECT a.label, ca.n AS n_a, cb.n AS n_b, a.svec AS sa, b.svec AS sb
      | FROM cl a JOIN cl b ON a.label = b.label AND a.epoch = 'a' AND b.epoch = 'b'
      | JOIN cnt ca ON ca.label = a.label AND ca.epoch = 'a'
      | JOIN cnt cb ON cb.label = a.label AND cb.epoch = 'b'),
      |sc AS (SELECT label, n_a, n_b,
      |  list_aggregate(list_transform(range(0, 64), k ->
      |    (sa[CAST(k AS INT)+1]::DOUBLE/n_a - sb[CAST(k AS INT)+1]::DOUBLE/n_b)
      |    * (sa[CAST(k AS INT)+1]::DOUBLE/n_a - sb[CAST(k AS INT)+1]::DOUBLE/n_b)), 'sum') AS ss,
      |  list_aggregate(list_transform(range(0, 64), k ->
      |    sa[CAST(k AS INT)+1]::DOUBLE * sb[CAST(k AS INT)+1]::DOUBLE), 'sum') AS dt,
      |  list_aggregate(list_transform(sa, x -> x::DOUBLE * x::DOUBLE), 'sum') AS n2a,
      |  list_aggregate(list_transform(sb, x -> x::DOUBLE * x::DOUBLE), 'sum') AS n2b
      | FROM j)
      |SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      | round(sqrt(ss) / 1000000, 6) AS centroid_drift,
      | round(dt / (sqrt(n2a) * sqrt(n2b)), 6) AS centroid_cos
      |FROM sc ORDER BY label""".stripMargin

  // q204: PRODUCT-QUANTIZATION RECALL AUDIT — the THIRD lossy-compression
  // axis, completing the set (q129 scalar-quantizes each DIMENSION, q164
  // truncates the dim COUNT; PQ replaces each 16-dim SUBSPACE with a
  // 2-bit code — the Jégou et al. IVF-PQ memory standard: 64×8B grid
  // longs → 4 codes = 1 byte/vector at m=4, k=4). Everything before the
  // final ranking is exact integers on the 1e-6 grid:
  //  - codebook = the subvectors of seed rows vec_id < 4 (q126's seed
  //    convention — a deterministic stand-in for per-subspace k-means,
  //    which q126 already demonstrates separately), broadcast as ONE
  //    pivoted row;
  //  - assignment: per subspace j, argmin over the 4 codes of the exact
  //    integer L2² on dims 16j+1..16j+16, ties to the lowest code id
  //    (array_position of array_min — both engines);
  //  - reconstruction: concatenation of the assigned codes' subvectors;
  //  - the audit ranks ADC-style (exact probe vs reconstructed base, the
  //    asymmetric-distance choice real PQ serving makes) against the
  //    exact arm, sharing ONE qid-partitioned shuffle for both windows
  //    (q129's shape), with id-sum checksums pinning membership.
  // At 100 TB the PQ scan reads 1/64th the bytes of the grid scan — the
  // production win being priced; codes/probes broadcast, base scanned
  // once, never shuffled.
  private def q204(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select(col("vec_id"), col("vi"))
    val cbRow = base.filter(col("vec_id") < 4).groupBy().agg(
      max(when(col("vec_id") === 0, col("vi"))).as("cb0"),
      max(when(col("vec_id") === 1, col("vi"))).as("cb1"),
      max(when(col("vec_id") === 2, col("vi"))).as("cb2"),
      max(when(col("vec_id") === 3, col("vi"))).as("cb3"))
    def subDist(cb: String, j: Int): String =
      s"""aggregate(sequence(1, 16), CAST(0 AS BIGINT), (acc, dd) ->
         | acc + (element_at(vi, 16*$j+dd) - element_at($cb, 16*$j+dd))
         |     * (element_at(vi, 16*$j+dd) - element_at($cb, 16*$j+dd)))""".stripMargin
    val asgExpr = (0 until 4).map { j =>
      val dists = (0 until 4).map(sid => subDist(s"cb$sid", j)).mkString(", ")
      s"(array_position(array($dists), array_min(array($dists))) - 1)"
    }.mkString("array(", ", ", ")")
    val coded = graft.Caches.persist(
      base.crossJoin(broadcast(cbRow))
        .withColumn("asg", expr(asgExpr))
        .withColumn("recon", expr(
          """flatten(transform(sequence(0, 3), j ->
            | slice(element_at(array(cb0, cb1, cb2, cb3),
            |   CAST(element_at(asg, j+1) + 1 AS INT)), 16*j+1, 16)))""".stripMargin))
        .select("vec_id", "vi", "recon"))
    val q = coded.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("vi").as("qvi"))
    val joined = broadcast(q).join(coded, col("qid") =!= col("vec_id"))
      .withColumn("edist",
        lnorm2(col("qvi")) + lnorm2(col("vi")) - lit(2L) * ldot(col("qvi"), col("vi")))
      .withColumn("pdist",
        lnorm2(col("qvi")) + lnorm2(col("recon")) - lit(2L) * ldot(col("qvi"), col("recon")))
    val we = Window.partitionBy("qid").orderBy(col("edist"), col("vec_id"))
    val wp = Window.partitionBy("qid").orderBy(col("pdist"), col("vec_id"))
    joined
      .withColumn("re", row_number().over(we))
      .withColumn("rp", row_number().over(wp))
      .filter(col("re") <= 5 || col("rp") <= 5)
      .groupBy("qid")
      .agg(sum(when(col("re") <= 5 && col("rp") <= 5, 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("re") <= 5, col("vec_id")).otherwise(0L)).as("exact_ids_sum"),
        sum(when(col("rp") <= 5, col("vec_id")).otherwise(0L)).as("pq_ids_sum"))
      .orderBy("qid")
  }

  private val q204Sql =
    s"""WITH e AS (SELECT vec_id,
      |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS ui
      | FROM embeddings WHERE $NonZeroNorm),
      |cb AS (SELECT vec_id AS cid, ui AS cu FROM e WHERE vec_id < 4),
      |sd AS (SELECT e.vec_id, j.j, cb.cid,
      |   list_aggregate(list_transform(range(1, 17), dd ->
      |     (e.ui[CAST(16*j.j+dd AS INT)] - cb.cu[CAST(16*j.j+dd AS INT)])
      |     * (e.ui[CAST(16*j.j+dd AS INT)] - cb.cu[CAST(16*j.j+dd AS INT)])), 'sum') AS dist
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j CROSS JOIN cb),
      |asg AS (SELECT vec_id, j, cid FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn FROM sd)
      | WHERE rn = 1),
      |rc AS (SELECT asg.vec_id, asg.j,
      |   cb.cu[CAST(16*asg.j+1 AS INT):CAST(16*asg.j+16 AS INT)] AS sub
      |  FROM asg JOIN cb ON cb.cid = asg.cid),
      |recon AS (SELECT vec_id, flatten(list(sub ORDER BY j)) AS rv FROM rc GROUP BY vec_id),
      |qs AS (SELECT vec_id AS qid, ui AS qvi FROM e WHERE vec_id % 100 = 0),
      |pairs AS (SELECT qid, e.vec_id,
      |  list_aggregate(list_transform(list_zip(qvi, e.ui), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS edist,
      |  list_aggregate(list_transform(list_zip(qvi, recon.rv), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum') AS pdist
      | FROM qs CROSS JOIN e JOIN recon ON recon.vec_id = e.vec_id
      | WHERE e.vec_id <> qid),
      |rk AS (SELECT qid, vec_id,
      |  row_number() OVER (PARTITION BY qid ORDER BY edist, vec_id) AS re,
      |  row_number() OVER (PARTITION BY qid ORDER BY pdist, vec_id) AS rp
      | FROM pairs)
      |SELECT qid, CAST(sum(CASE WHEN re <= 5 AND rp <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      | CAST(sum(CASE WHEN re <= 5 THEN vec_id ELSE 0 END) AS BIGINT) AS exact_ids_sum,
      | CAST(sum(CASE WHEN rp <= 5 THEN vec_id ELSE 0 END) AS BIGINT) AS pq_ids_sum
      |FROM rk WHERE re <= 5 OR rp <= 5
      |GROUP BY qid ORDER BY qid""".stripMargin

  // q225: RECIPROCAL BEST MATCH (mutual-NN) CROSS-CORPUS ALIGNMENT — the
  // bitext-mining / cross-source linking primitive the top-k family
  // doesn't provide: q46 answers "what is near x" but alignment needs
  // "which pairs CHOSE EACH OTHER" — a ⊆ of best-match pairs where a is
  // b's nearest AND b is a's nearest, the standard high-precision filter
  // (LASER/CCMatrix-style mining rides exactly this plus the margin
  // criterion). Sides: label 0-4 vs label 5-9. The scored pair frame is
  // computed ONCE (q46's broadcast shape — the smaller side broadcasts,
  // the base side never shuffles pre-scoring); per-side argmax and the
  // per-a runner-up margin come from TWO row_number windows over that one
  // frame, and the mutual filter is a self-equi-join of the two 1-row-per-
  // key best tables. margin_micro = (best − runner-up) on the 1e-6
  // rounded-cosine grid — integer-exact since the rounded cosines are
  // bit-identical across engines (the q46 fold-order contract). The
  // probe side is the every-10th SAMPLE of the left corpus (q46's
  // every-100th precedent): the exact arm is the per-probe AUDIT
  // baseline, and sampling bounds its pair frame at |A|/10 · |B| — the
  // r11 sf1 smoke measured the unsampled frame quadratic (135 s at 10×,
  // 100M pairs), exactly the growth the sample caps. The mutual filter
  // itself is candidate-generator-agnostic ALGEBRA: at 100 TB the
  // identical windows+join pipeline runs over IVF-pruned candidates
  // (q49's cells) for the full corpus, with this sampled exact arm as
  // its recall audit (the q129/q174 discipline).
  private def q225(s: SparkSession, d: String): DataFrame = {
    val base = vecBase(s, d).select("vec_id", "label", "vd", "nrm")
    val a = base.filter(col("label") <= 4 && col("vec_id") % 10 === 0)
      .select(col("vec_id").as("aid"), col("vd").as("av"), col("nrm").as("an"))
    val b = base.filter(col("label") >= 5)
      .select(col("vec_id").as("bid"), col("vd").as("bv"), col("nrm").as("bn"))
    val scored = graft.Caches.persist(
      broadcast(a).join(b)
        .withColumn("cosine", round(ddot(col("av"), col("bv")) / (col("an") * col("bn")), 6))
        .select("aid", "bid", "cosine"))
    val wa = Window.partitionBy("aid").orderBy(desc("cosine"), col("bid"))
    val bestA = scored.withColumn("rn", row_number().over(wa)).filter(col("rn") <= 2)
    val a1 = bestA.filter(col("rn") === 1)
      .select(col("aid"), col("bid"), col("cosine"))
    val a2 = bestA.filter(col("rn") === 2)
      .select(col("aid"), col("cosine").as("cos2"))
    val wb = Window.partitionBy("bid").orderBy(desc("cosine"), col("aid"))
    val b1 = scored.withColumn("rn", row_number().over(wb)).filter(col("rn") === 1)
      .select(col("bid").as("bid2"), col("aid").as("aid2"))
    a1.join(b1, col("aid") === col("aid2") && col("bid") === col("bid2"))
      .join(a2, Seq("aid"), "left")
      .withColumn("margin_micro",
        expr("CAST(round((cosine - coalesce(cos2, CAST(-1.0 AS DOUBLE))) * 1000000, 0) AS BIGINT)"))
      .select("aid", "bid", "cosine", "margin_micro")
      .orderBy("aid")
  }

  private val q225Sql =
    s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS nrm
      | FROM embeddings WHERE $NonZeroNorm),
      |p AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
      |  round(list_aggregate(list_transform(list_zip(a.v, b.v), z -> z[1]*z[2]), 'sum') / (a.nrm * b.nrm), 6) AS cosine
      | FROM n a JOIN n b ON a.label <= 4 AND a.vec_id % 10 = 0 AND b.label >= 5),
      |ra AS (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY cosine DESC, bid) AS rn FROM p),
      |a1 AS (SELECT aid, bid, cosine FROM ra WHERE rn = 1),
      |a2 AS (SELECT aid, cosine AS cos2 FROM ra WHERE rn = 2),
      |b1 AS (SELECT bid, aid FROM (
      |  SELECT *, row_number() OVER (PARTITION BY bid ORDER BY cosine DESC, aid) AS rn FROM p)
      | WHERE rn = 1)
      |SELECT a1.aid, a1.bid, a1.cosine,
      | CAST(round((a1.cosine - coalesce(a2.cos2, -1.0)) * 1000000) AS BIGINT) AS margin_micro
      |FROM a1 JOIN b1 ON a1.aid = b1.aid AND a1.bid = b1.bid
      |LEFT JOIN a2 ON a2.aid = a1.aid
      |ORDER BY a1.aid""".stripMargin

  // q241: EMBEDDING-COLLAPSE AUDIT (dominant direction via integer
  // power iteration) — the family's missing SPECTRAL lens (q201 tracks
  // centroid drift = the mean; q154 scores hubness = the neighbor
  // graph; neither answers "did the embedding space COLLAPSE toward one
  // direction?", the classic representation-collapse failure a
  // contrastive run produces and the single most load-bearing health
  // check before ANN indexes are built over a new embedding version).
  // Mechanism: int8-quantize (the q129 discipline), mean-center at
  // integer exactness by working with z = n·cd − Σcd (scaled centering
  // — no inexact mean division), then 5 rounds of power iteration
  // v ← C·v with C = ΣzzT never materialized: each round is one
  // vec-grain dot (z·v) and one dim-grain sum (z·dot), i.e. TWO
  // aggregations over the corpus, v rescaled to int8 range by its max
  // component (integer div — deterministic, no float norm). Per round:
  // the Rayleigh share λ/trace in milli (Σdot²·1000 div (‖v‖²·Σ‖z‖²),
  // DECIMAL(38) for the 1e25-grade sums — the q141/q235 overflow idiom)
  // and the dominant dimension. share_milli climbing toward 1000 =
  // rank-1 collapse; 64 balanced dims would read ~16. Everything is
  // integer end to end, so the oracle replays the identical five rounds
  // (unrolled CTEs, HUGEINT) and the hash match pins every multiply.
  // At 100 TB: 10 scans of the (sampled) embedding table, shuffles
  // carry vec-grain dots and 64-row dim sums — never pairs.
  private def q241(s: SparkSession, d: String): DataFrame = {
    val ex = vecBase(s, d)
      .select(col("vec_id"), posexplode(col("vi")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).as("k"), col("x"))
    val st = ex.groupBy("k").agg(min("x").as("mn"),
      greatest(max("x") - min("x"), lit(1L)).as("rng"))
    val cd = ex.join(broadcast(st), "k")
      .withColumn("cd", expr("((x - mn) * 255) div rng"))
      .select("vec_id", "k", "cd")
    val sk = cd.groupBy("k").agg(sum("cd").as("sk"), count(lit(1)).as("nn"))
    // every per-round frame is pinned ([[graft.Caches.pin]]) — the
    // oracle's MATERIALIZED hint in DuckDB: round t's report row, the
    // next round, and the Rayleigh aggregates all re-enter dots/v
    val z = graft.Caches.pin(cd.join(broadcast(sk), "k")
      .withColumn("z", expr("nn * cd - sk")).select("vec_id", "k", "z"))
    val tr = graft.Caches.pin(z.agg(
      sum(expr("CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))")).as("trace")))
    var v: DataFrame = graft.Caches.pin(st.select(col("k"), lit(1L).as("v")))
    val rounds = (1 to 5).map { t =>
      val vn = v.agg(sum(expr("v * v")).as("vnorm"))
      val dots = graft.Caches.pin(z.join(broadcast(v), "k")
        .groupBy("vec_id").agg(sum(expr("z * v")).as("dot")))
      val w = z.join(dots, "vec_id")
        .groupBy("k")
        .agg(sum(expr("CAST(z AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))"))
          .as("wk"))
      val m = w.agg(max(abs(col("wk"))).as("m"))
      val vNext = graft.Caches.pin(w.crossJoin(broadcast(m))
        .select(col("k"), expr("CAST((wk * 127) div m AS BIGINT)").as("v")))
      val top = vNext.orderBy(abs(col("v")).desc, col("k")).limit(1)
        .select(col("k").as("top_dim"))
      val sd = dots.agg(
        sum(expr("CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))")).as("sd"))
      val row = sd.crossJoin(vn).crossJoin(tr).crossJoin(top)
        .select(lit(t.toLong).as("iter"), col("top_dim"),
          expr("CAST((sd * 1000) div (CAST(vnorm AS DECIMAL(38,0)) * trace) AS BIGINT)")
            .as("share_milli"))
      v = vNext
      row
    }
    rounds.reduce(_ unionByName _).orderBy("iter")
  }

  /** Round CTEs are MATERIALIZED: DuckDB inlines multiply-referenced
    * CTEs by default, and the round-(t) → round-(t−1) reference chain
    * re-evaluates exponentially without the hint (measured: >180 s
    * inlined vs 0.5 s materialized at sf0.01). */
  private val q241Sql = {
    def round(t: Int, prev: String) =
      s"""d$t AS MATERIALIZED (SELECT vec_id, sum(z * v) AS dot
         |  FROM z JOIN $prev USING (k) GROUP BY vec_id),
         |w$t AS MATERIALIZED (SELECT k, sum(CAST(z AS HUGEINT) * dot) AS wk
         |  FROM z JOIN d$t USING (vec_id) GROUP BY k),
         |v$t AS MATERIALIZED (SELECT k, CAST((wk * 127) // (SELECT max(abs(wk)) FROM w$t)
         |    AS BIGINT) AS v FROM w$t),
         |s$t AS (SELECT CAST($t AS BIGINT) AS iter,
         |  (SELECT k FROM v$t ORDER BY abs(v) DESC, k LIMIT 1) AS top_dim,
         |  CAST((SELECT sum(CAST(dot AS HUGEINT) * dot) FROM d$t) * 1000
         |    // ((SELECT sum(v * v) FROM $prev) * (SELECT trace FROM tr))
         |    AS BIGINT) AS share_milli)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS ui
       | FROM embeddings WHERE $NonZeroNorm),
       |ex AS (SELECT vec_id, k, ui[CAST(k AS INT)] AS x
       | FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS k) kk),
       |st AS (SELECT k, min(x) AS mn, greatest(max(x) - min(x), 1) AS rng
       | FROM ex GROUP BY k),
       |cd AS (SELECT vec_id, k, ((x - mn) * 255) // rng AS cd
       | FROM ex JOIN st USING (k)),
       |sk AS (SELECT k, sum(cd) AS s, count(*) AS nn FROM cd GROUP BY k),
       |z AS MATERIALIZED (SELECT vec_id, cd.k, nn * cd.cd - s AS z FROM cd JOIN sk USING (k)),
       |tr AS MATERIALIZED (SELECT sum(CAST(z AS HUGEINT) * z) AS trace FROM z),
       |v0 AS MATERIALIZED (SELECT k, CAST(1 AS BIGINT) AS v FROM st),
       |${(1 to 5).map(t => round(t, s"v${t - 1}")).mkString(",\n")}
       |SELECT iter, top_dim, share_milli FROM (
       | ${(1 to 5).map(t => s"FROM s$t").mkString(" UNION ALL ")})
       |ORDER BY iter""".stripMargin
  }

  // q254: K-CENTER GREEDY CORESET (Gonzalez) — the COVERAGE member of
  // the selection family: k-means (q126) minimizes MEAN distortion, so
  // its centers crowd the dense regions and a training-data curator who
  // samples near them re-buys redundancy; k-center minimizes the MAX
  // point-to-center distance — farthest-point traversal covers the
  // space, which is what a diverse coreset / eval-probe selection wants.
  // Gonzalez's greedy is a proven 2-approximation and is EXACTLY
  // representable relationally: seed = min vec_id; each of K rounds is
  // (a) argmax of the running min-distance (TakeOrdered(1) — a 1-row
  // "collect" in the PLAN, no driver loop), (b) one broadcast of that
  // single center row, (c) a least() update of the running min-distance
  // — one cached-scan per round, K scans total (each round's frame is
  // persisted so the chain is linear, not triangular). All arithmetic is
  // exact integer on the 1e-6 grid: d² = |a|² + |c|² − 2·a·c via the
  // codegen LongNormSq/LongDot kernels — identical to the oracle's
  // Σ(aᵢ−cᵢ)² by the binomial identity, so the radii hash bit-for-bit.
  // The output is the decision curve: per round, the chosen center and
  // the cover radius² AFTER adding it — where the curve flattens is the
  // coreset budget. 100 TB: per-round cost = one scan + a 1-row
  // broadcast; K is small by construction (it is a BUDGET).
  private def q254(s: SparkSession, d: String): DataFrame = {
    val K = 6
    val base = vecBase(s, d).select("vec_id", "vi")
    def dist2(c: Column): Column =
      lnorm2(col("vi")) + lnorm2(c) - lit(2L) * ldot(col("vi"), c)
    // each round's frame is pinned ([[graft.Caches.pin]]): the argmax,
    // the radius aggregate and the next round all re-enter it
    val c1 = graft.Caches.pin(base.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cid"), col("vi").as("cvi")))
    var cur = graft.Caches.pin(base.crossJoin(broadcast(c1))
      .select(col("vec_id"), col("vi"), dist2(col("cvi")).as("dmin")))
    def reportRow(round: Int, center: DataFrame, frame: DataFrame) =
      center.select("cid").crossJoin(broadcast(frame.agg(max("dmin").as("radius_sq"))))
        .select(lit(round.toLong).as("round"), col("cid").as("center_id"),
          col("radius_sq"))
    var rows = reportRow(1, c1, cur)
    for (r <- 2 to K) {
      val next = graft.Caches.pin(cur.orderBy(desc("dmin"), col("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("vi").as("cvi")))
      cur = graft.Caches.pin(cur.crossJoin(broadcast(next))
        .select(col("vec_id"), col("vi"),
          least(col("dmin"), dist2(col("cvi"))).as("dmin")))
      rows = rows.unionByName(reportRow(r, next, cur))
    }
    rows.orderBy("round")
  }

  private val q254Sql = {
    val dist2 = (a: String, c: String) =>
      s"list_aggregate(list_transform(list_zip($a, $c), z -> (z[1]-z[2])*(z[1]-z[2])), 'sum')"
    val rounds = (2 to 6).map { r =>
      s"""m$r AS (SELECT vec_id AS cid, vi AS cvi FROM d${r - 1}
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         |d$r AS (SELECT d.vec_id, d.vi, least(d.dmin, ${dist2("d.vi", "m.cvi")}) AS dmin
         |  FROM d${r - 1} d CROSS JOIN m$r m)""".stripMargin
    }.mkString(",\n")
    val report = (1 to 6).map { r =>
      val c = if (r == 1) "c1" else s"m$r"
      s"""SELECT CAST($r AS BIGINT) AS round, (SELECT cid FROM $c) AS center_id,
         | (SELECT CAST(max(dmin) AS BIGINT) FROM d$r) AS radius_sq""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS vi
       | FROM embeddings WHERE $NonZeroNorm),
       |c1 AS (SELECT vec_id AS cid, vi AS cvi FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT e.vec_id, e.vi, ${dist2("e.vi", "c.cvi")} AS dmin
       |  FROM e CROSS JOIN c1 c),
       |$rounds
       |$report
       |ORDER BY round""".stripMargin
  }

  // q327: CALINSKI–HARABASZ CLUSTER-QUALITY INDEX — the number that says
  // whether q126's partition is WORTH USING (q126 assigns, q127 prunes
  // within clusters, q201 tracks centroid drift; nothing scores the
  // partition itself): CH = [B/(k−1)]/[W/(n−k)], the variance-ratio
  // criterion (Caliński & Harabasz 1974), the default k-selection score
  // in practice. Exactness trick: neither W nor B needs per-point
  // centroid distances — the vector identity W_j = Σ|x|² − |Σx|²/n_j
  // collapses each cluster to (count, Σ|x|², per-dim sums), the same
  // sufficient statistics the k-means update itself aggregates, so the
  // index costs ONE more pass over the cached assignment. Staging rule
  // learned from this query's own sf1 probe: milli-scaled SS TOTALS are
  // corpus-sized and overflow the LONG that Spark's `div` returns, so
  // every division happens at the PER-VECTOR mean grain — bounded by
  // vector geometry (≤ 64·10¹²·10³), never by corpus size — and totals
  // are rebuilt as DECIMAL(38) products n_j·w̄_j with no further
  // division until the final bounded ratios. B clamped at 0 (truncation
  // can leave a −1 ulp when B ≈ 0). Reported per-cluster (n_vecs, mean
  // within-SS) with the global ratio repeated — the grid a capacity
  // planner reads. 100 TB: the corpus pass is the q126 assignment
  // (already bounded); this adds cluster-grain algebra.
  private def q327(s: SparkSession, d: String): DataFrame = {
    val a = kmeansAssign(s, d)
    val dimSums = (0 until 64).map(k => sum(element_at(col("ui"), k + 1)).as(s"s$k"))
    def s2Of(c: String) = expr(
      s"aggregate($c, CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + CAST(x AS DECIMAL(38,0)) * x)")
    val baseAggs = Seq(count(lit(1)).as("nj"),
      sum(lnorm2(col("ui")).cast("decimal(38,0)")).as("qj")) ++ dimSums
    val cl = a.groupBy("cluster").agg(baseAggs.head, baseAggs.tail: _*)
      .withColumn("sv", array((0 until 64).map(k => col(s"s$k")): _*))
      .withColumn("s2j", s2Of("sv"))
      .withColumn("w_mean_milli", expr(
        "(nj * qj - s2j) * 1000 div (CAST(nj AS DECIMAL(38,0)) * nj)"))
      .select("cluster", "nj", "w_mean_milli")
    val tot = a.agg(baseAggs.head, baseAggs.tail: _*)
      .withColumnRenamed("nj", "n").withColumnRenamed("qj", "q")
      .withColumn("sv", array((0 until 64).map(k => col(s"s$k")): _*))
      .withColumn("s2t", s2Of("sv"))
      .withColumn("t_mean_milli", expr(
        "(n * q - s2t) * 1000 div (CAST(n AS DECIMAL(38,0)) * n)"))
      .select("n", "t_mean_milli")
    val summary = cl
      .agg(sum(expr("CAST(nj AS DECIMAL(38,0)) * w_mean_milli")).as("w_milli"),
        count(lit(1)).as("k"))
      .crossJoin(tot)
      .withColumn("b_milli", expr(
        """greatest(CAST(n AS DECIMAL(38,0)) * t_mean_milli - w_milli,
          |  CAST(0 AS DECIMAL(38,0)))""".stripMargin))
      .withColumn("bw_ratio_milli", expr(
        "CASE WHEN w_milli > 0 THEN b_milli * 1000 div w_milli ELSE 0L END"))
      .withColumn("ch_milli", expr(
        "CASE WHEN k > 1 THEN bw_ratio_milli * (n - k) div (k - 1) ELSE 0L END"))
      .select(col("n").as("n_total"), col("bw_ratio_milli"), col("ch_milli"))
    cl.crossJoin(broadcast(summary))
      .select(col("cluster"), col("nj").as("n_vecs"), col("w_mean_milli"),
        col("n_total"), col("bw_ratio_milli"), col("ch_milli"))
      .orderBy("cluster")
  }

  private val q327Sql =
    s"""$KmeansCte,
       |j AS (SELECT a2.cluster, e.ui FROM a2 JOIN e USING (vec_id)),
       |cl AS (SELECT cluster, count(*) AS nj,
       |   sum(CAST(list_aggregate(list_transform(ui, x -> x*x), 'sum')
       |     AS HUGEINT)) AS qj
       |  FROM j GROUP BY 1),
       |m AS (SELECT cluster, k, sum(ui[CAST(k AS INT)]) AS sk
       |  FROM j CROSS JOIN (SELECT unnest(range(1, 65)) AS k) kk GROUP BY 1, 2),
       |s2 AS (SELECT cluster, sum(CAST(sk AS HUGEINT) * sk) AS s2j
       |  FROM m GROUP BY 1),
       |clw AS (SELECT cl.cluster, nj,
       |   (nj * qj - s2j) * 1000 // (CAST(nj AS HUGEINT) * nj) AS w_mean_milli
       |  FROM cl JOIN s2 USING (cluster)),
       |tot AS (SELECT sum(nj) AS n, sum(qj) AS q FROM cl),
       |ts AS (SELECT sum(CAST(s AS HUGEINT) * s) AS s2t FROM
       |   (SELECT sum(sk) AS s FROM m GROUP BY k)),
       |tt AS (SELECT n, (n * q - s2t) * 1000 // (CAST(n AS HUGEINT) * n)
       |   AS t_mean_milli
       |  FROM tot CROSS JOIN ts),
       |ws AS (SELECT sum(CAST(nj AS HUGEINT) * w_mean_milli) AS w_milli,
       |   count(*) AS k FROM clw),
       |sm AS (SELECT n, k,
       |   CASE WHEN w_milli > 0 THEN
       |    CAST(greatest(CAST(n AS HUGEINT) * t_mean_milli - w_milli, 0)
       |      * 1000 // w_milli AS BIGINT)
       |   ELSE 0 END AS bw_ratio_milli
       |  FROM tt CROSS JOIN ws)
       |SELECT clw.cluster, CAST(clw.nj AS BIGINT) AS n_vecs,
       | CAST(clw.w_mean_milli AS BIGINT) AS w_mean_milli,
       | CAST(sm.n AS BIGINT) AS n_total, sm.bw_ratio_milli,
       | CASE WHEN sm.k > 1
       |  THEN CAST(sm.bw_ratio_milli * (sm.n - sm.k) // (sm.k - 1) AS BIGINT)
       |  ELSE 0 END AS ch_milli
       |FROM clw CROSS JOIN sm ORDER BY clw.cluster""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q327_calinski_harabasz" -> (q327 _),
    "q254_kcenter_coreset" -> (q254 _),
    "q241_collapse_audit" -> (q241 _),
    "q225_mutual_nn" -> (q225 _),
    "q204_pq_recall" -> (q204 _),
    "q201_centroid_drift" -> (q201 _),
    "q190_triplet_mining" -> (q190 _),
    "q194_embedding_gate" -> (q194 _),
    "q180_retrieval_eval" -> (q180 _),
    "q174_ivf_nprobe_curve" -> (q174 _),
    "q164_matryoshka_recall" -> (q164 _),
    "q159_diverse_topk" -> (q159 _),
    "q153_score_calibration" -> (q153 _),
    "q154_hubness_audit" -> (q154 _),
    "q116_label_confusion" -> (q116 _),
    "q126_kmeans_clusters" -> (q126 _),
    "q127_semdedup_prune" -> (q127 _),
    "q129_sq_ann_recall" -> (q129 _),
    "q131_rrf_fusion" -> (q131 _),
    "q49_ann_ivf" -> (q49 _),
    "q46_cosine_topk" -> (q46 _),
    "q47_ann_lsh" -> (q47 _),
    "q48_label_centroid" -> (q48 _),
    "q72_embed_neardup" -> (q72 _))

  override val oracles: Map[String, String] = Map(
    "q327_calinski_harabasz" -> q327Sql,
    "q254_kcenter_coreset" -> q254Sql,
    "q241_collapse_audit" -> q241Sql,
    "q225_mutual_nn" -> q225Sql,
    "q204_pq_recall" -> q204Sql,
    "q201_centroid_drift" -> q201Sql,
    "q190_triplet_mining" -> q190Sql,
    "q194_embedding_gate" -> q194Sql,
    "q180_retrieval_eval" -> q180Sql,
    "q174_ivf_nprobe_curve" -> q174Sql,
    "q164_matryoshka_recall" -> q164Sql,
    "q159_diverse_topk" -> q159Sql,
    "q153_score_calibration" -> q153Sql,
    "q154_hubness_audit" -> q154Sql,
    "q116_label_confusion" -> q116Sql,
    "q126_kmeans_clusters" -> q126Sql,
    "q127_semdedup_prune" -> q127Sql,
    "q129_sq_ann_recall" -> q129Sql,
    "q131_rrf_fusion" -> q131Sql,
    "q49_ann_ivf" -> q49Sql,
    "q46_cosine_topk" -> q46Sql,
    "q47_ann_lsh" -> q47Sql,
    "q48_label_centroid" -> q48Sql,
    "q72_embed_neardup" -> q72Sql)
}
