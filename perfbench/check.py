"""Correctness checks of a run's kept outputs, made in DuckDB from the
generator's sidecar and never from the code under test.

The sidecar (feed/sidecar) holds each wire record's expected envelope
fields and its `kind`: inline or indirect records must come out, broken
and alien ones must be dropped. `body_fp` stands in for the body bytes:
equal iff the bodies are byte-identical.
"""
import duckdb

ENVELOPE_COLS = ("seq, shard, organization_id, operation, date, id, branch, published, created, "
                 "trg_type, trg_id, referent_update, priority, app_name, headline, word_count")

# Independent SQL for the five keyed analytics over the expected envelope
# `ops` (kept sidecar rows). Column names match the engine's outputs.
ANALYTICS = {
    "storage_mode": """
        WITH k AS (SELECT branch, published, id, count(*) AS versions FROM ops GROUP BY ALL),
        c AS (SELECT branch, published, count(*) AS n_keys, sum(versions) AS n_ops,
                     max(versions) AS max_versions FROM k GROUP BY ALL)
        SELECT branch, published, n_keys, n_ops, max_versions,
               n_ops * 1000 // n_keys AS updates_per_key_milli,
               CASE WHEN n_ops * 1000 // n_keys <= 1500 THEN 'copy-on-write'
                    ELSE 'merge-on-read' END AS advice
        FROM c""",
    "stale_arrivals": """
        WITH h AS (SELECT branch, published, id, epoch_us(date) AS us,
                     max(epoch_us(date)) OVER (PARTITION BY id, branch, published ORDER BY seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM ops),
        f AS (SELECT *, coalesce(hwm > us, false) AS stale FROM h)
        SELECT branch, published, count(*) AS n_ops,
               sum(CASE WHEN stale THEN 1 ELSE 0 END) AS n_stale,
               count(DISTINCT CASE WHEN stale THEN id END) AS n_keys_affected,
               coalesce(max(CASE WHEN stale THEN (hwm - us) // 1000 END), 0) AS max_regression_ms
        FROM f GROUP BY ALL""",
    "noop_audit": """
        WITH v AS (SELECT id, branch, published, body_fp,
                     lag(body_fp) OVER (PARTITION BY id, branch, published
                                        ORDER BY date, seq) AS prev_fp
                   FROM ops WHERE operation LIKE 'insert-%'),
        k AS (SELECT branch, published, id, count(*) AS np,
                     sum(CASE WHEN body_fp = prev_fp THEN 1 ELSE 0 END) AS nn
              FROM v WHERE prev_fp IS NOT NULL GROUP BY ALL),
        r AS (SELECT *, row_number() OVER (PARTITION BY branch, published
                                           ORDER BY nn DESC, id DESC) AS rn FROM k)
        SELECT branch, published, sum(np) AS n_pairs, sum(nn) AS n_noop,
               sum(nn) * 1000 // sum(np) AS noop_permille,
               max(CASE WHEN rn = 1 THEN id END) AS worst_id,
               max(CASE WHEN rn = 1 THEN nn END) AS worst_noops
        FROM r GROUP BY ALL""",
    "resurrection_audit": """
        WITH v AS (SELECT id, branch, published, split_part(operation, '-', 1) AS kind,
                     epoch_us(date) AS us,
                     lag(split_part(operation, '-', 1)) OVER w AS prev_kind,
                     lag(epoch_us(date)) OVER w AS prev_us
                   FROM ops WINDOW w AS (PARTITION BY id, branch, published ORDER BY date, seq)),
        k AS (SELECT branch, published, id,
                     max(CASE WHEN kind = 'delete' THEN 1 ELSE 0 END) AS has_delete,
                     sum(CASE WHEN kind = 'insert' AND prev_kind = 'delete' THEN 1 ELSE 0 END)
                       AS n_res,
                     max(CASE WHEN kind = 'insert' AND prev_kind = 'delete'
                              THEN (us - prev_us) // 1000000 END) AS max_gap_s
              FROM v GROUP BY ALL),
        r AS (SELECT *, row_number() OVER (PARTITION BY branch, published
                                           ORDER BY n_res DESC, id DESC) AS rn FROM k)
        SELECT branch, published, count(*) AS n_keys, sum(has_delete) AS n_deleted_keys,
               sum(CASE WHEN n_res > 0 THEN 1 ELSE 0 END) AS n_resurrected_keys,
               sum(n_res) AS n_resurrections, max(max_gap_s) AS worst_gap_s,
               CASE WHEN sum(n_res) > 0 THEN max(CASE WHEN rn = 1 THEN id END) END AS worst_id
        FROM r GROUP BY ALL""",
    "publish_analytics": """
        SELECT date_trunc('hour', date) AS hour, split_part(operation, '-', 2) AS ctype,
               count(*) AS n_published
        FROM ops WHERE published AND created AND operation LIKE 'insert-%' GROUP BY ALL""",
}


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    return [names[i] for i in order], sorted(rows, key=repr)


def _same(con, got_sql, want_sql):
    return _rows(con, got_sql) == _rows(con, want_sql)


def _connect(work, feeds=("feed",)):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    globs = ", ".join(f"'{work}/{f}/sidecar/*.parquet'" for f in feeds)
    con.execute(f"CREATE VIEW sidecar AS SELECT * FROM read_parquet([{globs}])")
    con.execute("CREATE VIEW ops AS SELECT * FROM sidecar WHERE kind IN ('inline', 'indirect')")
    return con


def check_ingest(work):
    con = _connect(work)
    con.execute(f"CREATE VIEW env AS SELECT * FROM read_parquet('{work}/check/envelope/*.parquet')")
    out = {}
    diff = (f"SELECT count(*) FROM (SELECT {ENVELOPE_COLS} FROM {{}} "
            f"EXCEPT ALL SELECT {ENVELOPE_COLS} FROM {{}})")
    out["envelope_rows"] = (
        con.execute(diff.format("ops", "env")).fetchone()[0] == 0
        and con.execute(diff.format("env", "ops")).fetchone()[0] == 0)
    # byte-identical bodies exactly where the generator says so
    fp, md, pair = con.execute(
        "SELECT count(DISTINCT body_fp), count(DISTINCT body_md5), "
        "count(DISTINCT (body_fp, body_md5)) FROM env JOIN ops USING (seq)").fetchone()
    out["envelope_bodies"] = fp == md == pair
    for name, sql in ANALYTICS.items():
        got = f"SELECT * FROM read_parquet('{work}/check/{name}/*.parquet')"
        out[f"keyed_{name}"] = _same(con, got, sql)
    return out


def check_stream(work):
    # the state is built from the prefill feed, then the delta feed on top
    con = _connect(work, ("feed/prefill", "feed/delta"))
    latest = """
        SELECT id, branch, published, {seq} AS seq, {date} AS date, headline,
               {wc} AS word_count, {deleted} AS deleted
        FROM (SELECT *, row_number() OVER (PARTITION BY id, branch, published
                                           ORDER BY {order}) AS rn FROM {src})
        WHERE rn = 1"""
    got = latest.format(seq="lastSeq", date="lastDate", wc="wordCount", deleted="deleted",
                        order="batch DESC",
                        src=f"read_parquet('{work}/check/state/*.parquet')")
    want = latest.format(seq="seq", date="date", wc="word_count",
                         deleted="operation LIKE 'delete-%'", order="date DESC, seq DESC",
                         src="ops")
    return {"stream_final_state": _same(con, got, want)}


def run(workload, work):
    if workload == "ingest_batch":
        return check_ingest(work)
    if workload == "stream_state":
        return check_stream(work)
    return {}
