"""Seeded benchmark inputs, stored once as parquet and cached.

The validator only ever sees the stored tables: generation runs before any
timed step and is cached by (workload, rows, seed) under the work directory.

- ``pages_validate``: ``sources.pages.pages(rows, seed)`` written by Spark as
  ``PAGES_FILES`` files, with ``source`` = url and ``ord`` = page_id. The
  file count also fixes the micro-batch count of the traced stream call.
- ``corpus_routed``: one table with a ``schema_id`` discriminator, written
  here with NumPy so no Spark process is needed for it. 10% ``users/1.0``
  rows (primary key ``user_key`` with 1% reused keys, ``minimum`` on
  ``balance``), 0.1% orphans of an unregistered schema, the rest
  ``events/1.0`` rows (Zipf-like ``user_id`` with 1% dangling references,
  ``maximum`` on ``value``, ``event_type`` click/view).
"""

from __future__ import annotations

import json
import os
import shutil
import time

PAGES_FILES = 12
ROUTED_FILES = 4

WORKLOADS = {
    "pages_validate": {"rows": 200_000, "smoke_rows": 20_000},
    "corpus_routed": {"rows": 200_000, "smoke_rows": 20_000},
}

# cache entries kept per workload; older ones are deleted
KEEP_CACHED = 6


def input_dir(work: str, workload: str, rows: int, seed: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-{rows}-{seed}")


def cached_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, name))
    return total / (1024.0 * 1024.0)


def publish(tmp: str, path: str, gen_s: float) -> dict:
    """Record the generation time and move the finished table into place."""
    meta = {"gen_s": gen_s, "input_mb": dir_mb(tmp)}
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return meta


def prune(work: str, workload: str, keep_path: str) -> None:
    root = os.path.join(work, "inputs")
    entries = [
        os.path.join(root, e) for e in os.listdir(root)
        if e.startswith(workload + "-") and not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for p in entries[KEEP_CACHED:]:
        if p != keep_path:
            shutil.rmtree(p, ignore_errors=True)


def write_pages(spark, tmp: str, rows: int, seed: int) -> None:
    """Spark side of the pages input (runs in its own process)."""
    from pyspark.sql import functions as F

    from fairtracks_validator_spark.sources.pages import pages

    (
        pages(spark, rows, seed, partitions=PAGES_FILES)
        .withColumn("source", F.col("url"))
        .withColumn("ord", F.col("page_id"))
        .write.mode("overwrite").parquet(tmp)
    )


def write_routed(tmp: str, rows: int, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    ids = np.arange(rows, dtype=np.int64)
    u = rng.random(rows)
    is_user = u < 0.10
    is_orphan = u >= 0.999
    is_event = ~is_user & ~is_orphan
    n_users = int(is_user.sum())

    schema_id = np.where(is_user, "users/1.0", np.where(is_event, "events/1.0", "orders/1.0"))

    # users: key = arrival index among users; 1% reuse an earlier user's key
    user_idx = np.cumsum(is_user) - 1
    user_key = user_idx.copy()
    reuse = is_user & (rng.random(rows) < 0.01) & (user_idx > 0)
    user_key[reuse] = (rng.random(int(reuse.sum())) * user_idx[reuse]).astype(np.int64)
    balance = np.round(rng.normal(600.0, 300.0, rows), 2)

    # events: Zipf-like references into the user key space, 1% dangling
    user_id = np.floor(max(n_users, 1) * rng.random(rows) ** 2.5).astype(np.int64)
    dangling = rng.random(rows) < 0.01
    user_id[dangling] = n_users + rng.integers(0, max(n_users, 1), int(dangling.sum()))
    is_click = rng.random(rows) < 0.30
    value = np.round(
        np.where(is_click, rng.gamma(4.0, 55.0, rows), rng.gamma(4.0, 50.0, rows)), 2
    )

    table = pa.table({
        "source": pa.array([f"d{i}" for i in range(rows)]),
        "ord": pa.array(ids),
        "schema_id": pa.array(schema_id),
        "user_key": pa.array(user_key, mask=~is_user),
        "balance": pa.array(balance, mask=~is_user),
        "user_id": pa.array(user_id, mask=~is_event),
        "event_type": pa.array(np.where(is_click, "click", "view"), mask=~is_event),
        "value": pa.array(value, mask=~is_event),
    })
    os.makedirs(tmp, exist_ok=True)
    step = -(-rows // ROUTED_FILES)
    for i in range(ROUTED_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet")
        )


def ensure_routed(work: str, rows: int, seed: int) -> tuple[str, dict]:
    path = input_dir(work, "corpus_routed", rows, seed)
    meta = cached_meta(path)
    if meta is None:
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        write_routed(tmp, rows, seed)
        meta = publish(tmp, path, time.perf_counter() - t0)
    return path, meta
