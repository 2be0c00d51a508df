"""Independent expected results, computed by DuckDB from the generated
parquet files alone (never from anything the program wrote, except the
results under test). All checks run off the clock."""

from __future__ import annotations

import duckdb


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def pit_mismatches(con, feature_sql: str, probes_path: str, got_path: str,
                   ttl_s: int) -> tuple[int, int]:
    """Point-in-time join oracle: for each probe, the feature row with the
    greatest ``event_timestamp <= probe ts`` — among rows sharing that
    timestamp, the greatest ``created`` — NULLed when older than the TTL.
    Built as a dedup + DuckDB ``ASOF LEFT JOIN`` over ``feature_sql``
    (a query yielding the feature table's rows). Returns (mismatching
    probes, probes with a NULL expected feature)."""
    return con.execute(f"""
        WITH feat AS (
            SELECT user_id, event_timestamp, created, clicks, spend
            FROM ({feature_sql})
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_timestamp ORDER BY created DESC
            ) = 1
        ),
        expect AS (
            SELECT p.probe_id,
                   CASE WHEN f.event_timestamp >= p.event_timestamp
                             - INTERVAL ({ttl_s}) SECOND
                        THEN f.clicks END AS clicks,
                   CASE WHEN f.event_timestamp >= p.event_timestamp
                             - INTERVAL ({ttl_s}) SECOND
                        THEN f.spend END AS spend
            FROM read_parquet('{probes_path}') p
            ASOF LEFT JOIN feat f
              ON p.user_id = f.user_id
             AND p.event_timestamp >= f.event_timestamp
        ),
        got AS (SELECT probe_id, clicks, spend FROM read_parquet('{got_path}'))
        SELECT
            count(*) FILTER (
                WHERE e.probe_id IS NULL OR g.probe_id IS NULL
                   OR e.clicks IS DISTINCT FROM g.clicks
                   OR e.spend IS DISTINCT FROM g.spend),
            count(*) FILTER (WHERE e.clicks IS NULL)
        FROM expect e FULL OUTER JOIN got g USING (probe_id)
    """).fetchone()


def gold_sql(raw_path: str) -> str:
    """One hour of raw events as feature-table rows: per user, the event
    count and the amount sum in currency units, stamped with the hour and
    created at the hour's end."""
    return f"""
        SELECT user_id, date_trunc('hour', ts) AS event_timestamp,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS created,
               count(event_id) AS clicks,
               sum(amount)::DOUBLE / 100.0::DOUBLE AS spend
        FROM read_parquet('{raw_path}') GROUP BY ALL"""


def write_gold(con, raw_path: str, out_path: str) -> None:
    """Write the hour's gold rows as one parquet file: the reference size
    of a committed batch (written by DuckDB, so no change to the program
    can move it)."""
    con.execute(f"COPY ({gold_sql(raw_path)}) TO '{out_path}' (FORMAT parquet)")


def hourly_gold(con, raw_path: str) -> dict[int, tuple[int, float]]:
    """Expected gold row per user for one hour of raw events:
    user_id -> (clicks, spend)."""
    rows = con.execute(
        f"SELECT user_id, clicks, spend FROM ({gold_sql(raw_path)})"
    ).fetchall()
    return {u: (c, s) for u, c, s in rows}


def neardup_wrong(con, labels_path: str, accepted_glob: str,
                  batch_docs: int, n_docs: int) -> dict[int, int]:
    """Per input batch (doc_id // batch_docs), the number of documents
    whose accept decision is wrong among the first ``n_docs``: a planted
    near-duplicate that was accepted or an original that was dropped."""
    rows = con.execute(f"""
        WITH acc AS (
            SELECT DISTINCT doc_id FROM read_parquet('{accepted_glob}')
        )
        SELECT l.doc_id // {batch_docs} AS b,
               count(*) FILTER (WHERE l.is_dup = (a.doc_id IS NOT NULL))
        FROM read_parquet('{labels_path}') l
        LEFT JOIN acc a USING (doc_id)
        WHERE l.doc_id < {n_docs}
        GROUP BY ALL
    """).fetchall()
    extra = con.execute(f"""
        SELECT count(*) FROM read_parquet('{accepted_glob}')
        WHERE doc_id >= {n_docs}
    """).fetchone()[0]
    out = {int(b): int(w) for b, w in rows}
    if extra:
        out[-1] = int(extra)
    return out
