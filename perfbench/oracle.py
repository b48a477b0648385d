"""DuckDB oracle for the graft benchmark.

Runs a registry query's oracle SQL (from `SparkEntry.oracleSql`, dumped at
build time) over the generated input and reduces its rows to the same
order-independent digest `graft.perfbench.Digest` computes on the Spark
side: row count plus the exact sum of the first 64 bits of md5 over each
row, rendered as its columns in name order joined by U+0001.
"""
import hashlib
import os

import duckdb

TABLES = ("events", "documents", "embeddings")
SEP = "\u0001"


def connect(input_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def render(v):
    return "\\N" if v is None else str(v)


def digest_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = SEP.join(render(r[i]) for i in order)
        total += int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)
    return f"{len(rows)}:{total}"


def oracle_digest(con, sql, manifest=False):
    """Digest of the oracle's rows; `manifest` appends the manifest line
    count the snapshot sink must write (one line per record)."""
    rel = con.sql(sql)
    columns = [d[0] for d in rel.description]
    rows = rel.fetchall()
    d = digest_rows(columns, rows)
    return f"{d}:manifest={len(rows)}" if manifest else d


def largest_band_bucket(con, dedup_sql):
    """Largest LSH band bucket of the dedup oracle's `bands` relation."""
    head, sep, _ = dedup_sql.rpartition("\nSELECT a.doc_id AS doc_a")
    if not sep:
        raise ValueError("dedup oracle SQL no longer ends in the band self-join")
    q = head + "\nSELECT max(n) FROM (SELECT count(*) AS n FROM bands GROUP BY band, band_key)"
    return int(con.sql(q).fetchone()[0])
