"""DuckDB oracle: the expected validation and drift results, computed from
the same stored parquet by independent SQL.

The SQL follows the shapes of ``__spark_entry__.oracle_sql()``: per-check
violation counts, pass-1 failures masked from the uniqueness and FK steps,
and first-writer-wins counted as (holders of a key - 1). Which document is
blamed for a duplicate is not compared, since streaming blames by arrival.
"""

from __future__ import annotations

import os

import duckdb

LANGS = ["en", "de", "es", "fr", "it", "pt", "nl", "pl"]


def connect(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 2")
    return con


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def _pages_view(con, path: str) -> None:
    langs = ", ".join(f"'{x}'" for x in LANGS)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW pages_checked AS
        SELECT source, ord, url, text, lang,
               url IS NULL AS "required:url",
               warc_ts IS NULL AS "required:warc_ts",
               url IS NOT NULL AND NOT regexp_matches(url, '^https?://') AS "pattern:url",
               lang IS NOT NULL AND lang NOT IN ({langs}) AS "enum:lang",
               text IS NOT NULL AND length(text) < 1 AS "minLength:text"
        FROM read_parquet('{_glob(path)}')""")
    con.execute("""
        CREATE OR REPLACE TEMP VIEW pages_flags AS
        SELECT *, "required:url" OR "required:warc_ts" OR "pattern:url"
                  OR "enum:lang" OR "minLength:text" AS schema_fail
        FROM pages_checked""")


PAGES_CHECKS = ["required:url", "required:warc_ts", "pattern:url", "enum:lang", "minLength:text"]


def pages_expected(con, path: str) -> dict:
    _pages_view(con, path)
    sums = ", ".join(f'SUM(CAST("{c}" AS BIGINT))' for c in PAGES_CHECKS)
    row = con.execute(
        f"SELECT COUNT(*), SUM(CAST(schema_fail AS BIGINT)), {sums} FROM pages_flags"
    ).fetchone()
    docs, schema_failed = row[0], row[1]
    per_check = {c: n for c, n in zip(PAGES_CHECKS, row[2:]) if n}
    dups = con.execute("""
        SELECT COALESCE(SUM(n - 1), 0) FROM (
          SELECT url, COUNT(*) n FROM pages_flags
          WHERE NOT schema_fail AND url IS NOT NULL GROUP BY url)""").fetchone()[0]
    if dups:
        per_check["pk"] = dups
    return {
        "docs": docs, "failed_docs": schema_failed + dups, "ignored_docs": 0,
        "violations": sum(per_check.values()), "per_check": per_check,
    }


def routed_expected(con, path: str) -> dict:
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW routed AS
        SELECT * FROM read_parquet('{_glob(path)}')""")
    con.execute("""
        CREATE OR REPLACE TEMP VIEW users_ok AS
        SELECT * FROM routed WHERE schema_id = 'users/1.0'
          AND (balance IS NULL OR balance >= 0)""")
    q = {
        "orphan": """SELECT COUNT(*) FROM routed
                     WHERE schema_id IS NULL OR schema_id NOT IN ('users/1.0', 'events/1.0')""",
        "minimum:balance": """SELECT COUNT(*) FROM routed WHERE schema_id = 'users/1.0'
                              AND balance IS NOT NULL AND balance < 0""",
        "pk": """SELECT COALESCE(SUM(n - 1), 0) FROM (
                   SELECT user_key, COUNT(*) n FROM users_ok
                   WHERE user_key IS NOT NULL GROUP BY user_key)""",
        "maximum:value": """SELECT COUNT(*) FROM routed WHERE schema_id = 'events/1.0'
                            AND value IS NOT NULL AND value > 400""",
        "fk:.:0": """SELECT COUNT(*) FROM routed e WHERE schema_id = 'events/1.0'
                     AND (value IS NULL OR value <= 400) AND user_id IS NOT NULL
                     AND user_id NOT IN (SELECT user_key FROM users_ok
                                         WHERE user_key IS NOT NULL)""",
        "fk_probe_rows": """SELECT COUNT(*) FROM routed WHERE schema_id = 'events/1.0'
                            AND (value IS NULL OR value <= 400) AND user_id IS NOT NULL""",
        "docs": "SELECT COUNT(*) FROM routed",
    }
    got = {k: con.execute(sql).fetchone()[0] for k, sql in q.items()}
    per_check = {
        k: got[k] for k in ("orphan", "minimum:balance", "pk", "maximum:value", "fk:.:0")
        if got[k]
    }
    # every non-orphan violation is on a distinct document: users fail either
    # minimum or pk (pk is checked on survivors only), events either maximum
    # or fk (fk is probed on survivors only)
    failed = sum(v for k, v in per_check.items() if k != "orphan")
    return {
        "docs": got["docs"], "failed_docs": failed, "ignored_docs": got["orphan"],
        "violations": sum(per_check.values()), "per_check": per_check,
        "fk_probe_rows": got["fk_probe_rows"],
    }


def routed_written(con, out_dir: str) -> dict:
    """Counts read back from the parquet the routed sink wrote."""
    t = f"read_parquet('{_glob(out_dir)}')"
    status = dict(con.execute(f"SELECT status, COUNT(*) FROM {t} GROUP BY status").fetchall())
    per_check = dict(con.execute(f"""
        SELECT v.check_id, COUNT(*) FROM (SELECT unnest(violations) AS v FROM {t})
        GROUP BY 1""").fetchall())
    return {
        "docs": sum(status.values()), "failed_docs": status.get("failed", 0),
        "ignored_docs": status.get("ignored", 0),
        "violations": sum(per_check.values()), "per_check": per_check,
    }


def drift_expected(con, workload: str, path: str) -> dict:
    """Exact quantiles, exact two-sample KS and PSI of the drift calls."""
    if workload == "pages_validate":
        src = (f"SELECT CAST(length(text) AS DOUBLE) AS v, lang AS g "
               f"FROM read_parquet('{_glob(path)}')")
        a, b = "en", "de"
    else:
        src = (f"SELECT CAST(value AS DOUBLE) AS v, event_type AS g "
               f"FROM read_parquet('{_glob(path)}') WHERE schema_id = 'events/1.0'")
        a, b = "click", "view"
    con.execute(f"CREATE OR REPLACE TEMP VIEW drift_src AS {src}")
    quantiles = con.execute(
        "SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.9]) FROM drift_src WHERE v IS NOT NULL"
    ).fetchone()[0]
    ks = con.execute(f"""
        WITH s AS (SELECT v, CASE WHEN g = '{a}' THEN 1 ELSE 0 END ia FROM drift_src
                   WHERE g IN ('{a}', '{b}') AND v IS NOT NULL),
        pv AS (SELECT v, SUM(ia) ca, SUM(1 - ia) cb FROM s GROUP BY v),
        c AS (SELECT SUM(ca) OVER (ORDER BY v) cum_a, SUM(cb) OVER (ORDER BY v) cum_b FROM pv),
        t AS (SELECT SUM(ia) na, SUM(1 - ia) nb FROM s)
        SELECT na::BIGINT, nb::BIGINT,
               MAX(ABS(cum_a::DOUBLE / na - cum_b::DOUBLE / nb)) FROM c, t GROUP BY na, nb
    """).fetchone()
    psi = con.execute(f"""
        WITH s AS (
          SELECT CASE WHEN v < 0.0 THEN 0 WHEN v >= 500.0 THEN 11
                      ELSE CAST(FLOOR((v - 0.0) / 500.0 * 10) + 1 AS INT) END AS bucket,
                 (g = '{a}') AS is_obs
          FROM drift_src WHERE g IN ('{a}', '{b}') AND v IS NOT NULL),
        cells AS (SELECT bucket, SUM(CASE WHEN is_obs THEN 0 ELSE 1 END) AS c_ref,
                         SUM(CASE WHEN is_obs THEN 1 ELSE 0 END) AS c_obs
                  FROM s GROUP BY bucket),
        t AS (SELECT SUM(c_ref) AS n_ref, SUM(c_obs) AS n_obs FROM cells)
        SELECT SUM((GREATEST(c_obs::DOUBLE / n_obs, 0.000001)
                    - GREATEST(c_ref::DOUBLE / n_ref, 0.000001))
                   * LN(GREATEST(c_obs::DOUBLE / n_obs, 0.000001)
                        / GREATEST(c_ref::DOUBLE / n_ref, 0.000001)))
        FROM cells, t""").fetchone()[0]
    return {"quantiles": quantiles, "n_a": ks[0], "n_b": ks[1], "ks": ks[2], "psi": psi}


def stream_written(con, out: str, pages_path: str) -> dict:
    """Per-check counts of the stream's violations, the registry size, and
    the symmetric difference between its schema-failed documents and the
    oracle's."""
    viol = f"read_parquet('{out}/violations/*/*.parquet')"
    per_check = dict(con.execute(f"SELECT check_id, COUNT(*) FROM {viol} GROUP BY 1").fetchall())
    registry_rows = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{out}/registry/*/*.parquet')"
    ).fetchone()[0]
    _pages_view(con, pages_path)
    diff = con.execute(f"""
        WITH s AS (SELECT DISTINCT source, ord FROM {viol} WHERE reason = 'schema'),
        o AS (SELECT source, ord FROM pages_flags WHERE schema_fail)
        SELECT (SELECT COUNT(*) FROM (SELECT * FROM s EXCEPT SELECT * FROM o))
             + (SELECT COUNT(*) FROM (SELECT * FROM o EXCEPT SELECT * FROM s))""").fetchone()[0]
    return {"per_check": per_check, "registry_rows": registry_rows, "schema_doc_diff": diff}
