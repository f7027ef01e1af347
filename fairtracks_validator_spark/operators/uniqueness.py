"""Uniqueness / primary-key constraint as a distributed aggregation.

Reference semantics (``ValidatedJSONSchema.java:373-392``): documents are
processed in directory-walk order; each key string is probed against a
per-schema hash map. A hit raises "Duplicate PK in <first-file> and
<this-file>" (``SchemaDuplicatedPrimaryKeyException.java:26``) and the
colliding document's keys are NOT recorded (first-writer-wins, lines 386-391)
— so later FK probes still succeed against the *first* holder's key.

Spark shape: stamp a deterministic total-order column ``ord`` (never rely on
partition order — SURVEY §2.6), explode key strings, and resolve
first-writer-wins with one ``min(struct(ord, source))`` window per key
(a key-only window, sorted on a 64-bit key hash and then the key; see
``FirstWriter``). This is a single hash shuffle on the key string;
near-unique keys (e.g. ``url`` at web scale) are naturally balanced, and
AQE handles residual skew.

Exactness: when no key member fans out over arrays (``has_array_fanout`` is
False — one key per row, the 100 TB web-pages path), the single-pass plan
reproduces the sequential reference exactly. With multi-valued members a
collision removes ALL keys of the colliding doc from the registry, which can
transitively un-collide later docs; we reproduce that with a bounded
alternating fixpoint (``cascade_rounds``) that converges in (chain depth)
rounds — each round is one extra shuffle, so it only runs when fan-out exists.

Prior holders: a registry frozen before this run (an earlier micro-batch's
or a checkpointed global run's ``(key_str, first_source, first_ord)`` rows)
holds its keys ahead of every document of this run — the reference's
registry grows within a run, and a later run only sees an earlier run's keys.
A keyed document whose key a prior holder records under a DIFFERENT
``(source, ord)`` identity is blamed on that holder; a document re-delivered
with the holder's own identity is neither blamed nor recorded again. Only
total keys take part (a missing component records no key), so one null-key
policy serves batch runs, stream batches and checkpoint resumes alike.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.keys import (
    flat_key_string,
    has_array_fanout,
    is_flat_members,
    key_strings,
)


@dataclass(frozen=True)
class UniquenessResult:
    violations: DataFrame  # source, ord, schema_id, check_id, key_str, reason, description
    pk: DataFrame  # schema_id, check_id, key_str, first_source — the recorded registry
    # relations the cascade path cached; the caller registers them for
    # release (code-review r4 — they previously outlived release())
    persisted: tuple = ()


def _doc_keys(
    df: DataFrame,
    check_id: str,
    members: list[str],
    source_col: str,
    ord_col: str,
) -> DataFrame:
    """(source, ord, key_str) — one row per generated key; docs with no key
    (empty member value list, ValidatedJSONSchema.java:108-114) produce no rows.

    Flat scalar members (the web-scale path) skip the Cartesian array
    machinery entirely: one codegen'd ``to_json(array(...))`` + null filter,
    no explode, no per-row array allocation.
    """
    if is_flat_members(members):
        return df.select(
            F.col(source_col).alias("source"),
            F.col(ord_col).cast("long").alias("ord"),
            flat_key_string(members).alias("key_str"),
        ).where(F.col("key_str").isNotNull())
    return df.select(
        F.col(source_col).alias("source"),
        F.col(ord_col).cast("long").alias("ord"),
        F.explode(key_strings(members)).alias("key_str"),
    )


def uniqueness_check(
    df: DataFrame,
    check_id: str,
    members: list[str],
    schema_id: str,
    source_col: str = "source",
    ord_col: str = "ord",
    cascade_rounds: int = 6,
    prior: DataFrame | None = None,
) -> UniquenessResult:
    """Evaluate one uniqueness/PK constraint.

    Returns duplicate-key violations plus the recorded PK registry (keys of
    non-colliding docs) for downstream FK probing (``Validator.java:156-163``).
    ``prior``: frozen ``(key_str, first_source, first_ord)`` holders that
    precede every document of ``df`` (module docstring); the returned
    registry holds only the keys this run adds to them.
    """
    keys = _doc_keys(df, check_id, members, source_col, ord_col)

    multi_key = has_array_fanout(members)
    cached: tuple = ()
    if not multi_key:
        colliding, pk_keys = _resolve_single_pass(keys, prior)
    else:
        colliding, pk_keys, cached = _resolve_cascade(keys, cascade_rounds, prior)

    violations = colliding.select(
        "source",
        "ord",
        F.lit(schema_id).alias("schema_id"),
        F.lit(check_id).alias("check_id"),
        "key_str",
        F.lit("dup_pk").alias("reason"),
        F.format_string(
            "Duplicate PK in %s and %s", F.col("first_source"), F.col("source")
        ).alias("description"),
    )
    pk = pk_keys.select(
        F.lit(schema_id).alias("schema_id"),
        F.lit(check_id).alias("check_id"),
        "key_str",
        F.col("source").alias("first_source"),
        # the first holder's full identity (source, ord): required so a
        # checkpointed registry can flag duplicates that SHARE the first
        # holder's source value (e.g. url-keyed corpora where source==url,
        # ValidatedJSONSchema.java:378-383 flags same-file duplicates too)
        F.col("ord").cast("long").alias("first_ord"),
    )
    return UniquenessResult(violations=violations, pk=pk, persisted=cached)


class FirstWriter:
    """First-writer-wins over one key column, with or without prior
    holders: ``rank`` binds ``_mn``, the first holder's identity of each
    row's key, over ONE key-only window. ``later`` is true for a row that
    is not its key's first holder, and ``held`` for a row whose key a prior
    holder records under this very identity (constant false without prior
    holders, which the optimizer folds away). Its Columns are built once
    and reusable across runs (the kernel keeps one per compiled plan,
    ``runner._KernelTemplate``; the two-pass path builds one per run).

    Rows carry their identity as ONE column, ``_id`` = ``identity``
    (``struct(o=ord, s=source)``), and rank by ``min(_id)`` over a
    KEY-ONLY window: the identity crosses the window's exchange once, and
    the window orders nothing within a key, where a ``row_number`` would
    sort by (ord, source) too (half the comparator work, measured on the
    40M-row scaling bench). The first-holder choice does not lean on
    intra-key sort stability: identical (ord, source) identities tie as
    first instead of one being arbitrarily blamed.

    The window leads with ``xxhash64(key)``: the reduce-stage sort compares
    an 8-byte prefix of its first key before it touches the value, and key
    strings share their first bytes (every pages key starts
    ``["https://``), so a string-first sort fell back to a full byte
    compare on almost every comparison. A long hash decides nearly all of
    them from the prefix. The grouping stays exact because the key itself
    is still in the partition spec: a hash collision only puts two keys in
    one sort run, never in one group. The hash rides the exchange (8 bytes
    a row).

    ``prior`` rows ride the same shuffle as pseudo-rows ranked ahead of
    every real row (``_id.p`` = 0 against 1), so the window's ``min``
    reduces them to one holder per key with no extra exchange; they are
    dropped after it.
    """

    def __init__(
        self,
        key: str,
        with_prior: bool,
        order: Column | None = None,
        source: Column | None = None,
    ):
        """``order`` and ``source`` build the identity (default: the
        ``ord`` and ``source`` columns)."""
        self.with_prior = with_prior
        ident = [
            (F.col("ord") if order is None else order).alias("o"),
            (F.col("source") if source is None else source).alias("s"),
        ]
        row, first = F.col("_id"), F.col("_mn")
        # bind the window aggregate ONCE (withColumn) — two inline
        # F.min(...).over(w) expressions each get their own aggregate
        # processor in WindowExec, doubling the reduce-stage work
        self.mn = F.min(row).over(Window.partitionBy(F.xxhash64(key), key))
        if not with_prior:
            self.identity = F.struct(*ident)
            self.later = row > first
            self.held = F.lit(False)
            return
        self.identity = F.struct(F.lit(1).alias("p"), *ident)
        self.holders = [
            F.col("key_str").alias(key),
            F.struct(
                F.lit(0).alias("p"),
                F.col("first_ord").cast("long").alias("o"),
                F.col("first_source").alias("s"),
            ).alias("_id"),
        ]
        self.is_doc = F.col("_id.p") == 1
        self.held = (
            (F.col("_mn.p") == 0)
            & F.col("_id.o").eqNullSafe(F.col("_mn.o"))
            & F.col("_id.s").eqNullSafe(F.col("_mn.s"))
        )
        self.later = (row > first) & ~self.held

    def rank(self, rows: DataFrame, prior: DataFrame | None = None) -> DataFrame:
        """``rows`` (with ``_id``) with ``_mn`` bound; ``prior`` is required
        exactly when this writer was built ``with_prior``."""
        if not self.with_prior:
            return rows.withColumn("_mn", self.mn)
        return (
            rows.unionByName(prior.select(*self.holders), allowMissingColumns=True)
            .withColumn("_mn", self.mn)
            .where(self.is_doc)
        )


def _resolve_single_pass(
    keys: DataFrame, prior: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Exact when each doc contributes ≤1 key. One shuffle on key_str.

    Deliberately NOT persisted: the ranked keys are corpus-sized, and
    MemoryStore unroll contention makes large-cache materialization
    anti-scale with executor threads (measured: a persist-free pipeline
    scales ~2x from N to 4N threads; with the persist it gets *slower*).
    Consumers that re-read the registry repeatedly (FK probes) persist the
    small ``pk`` projection instead, and at cluster scale the registry is
    checkpointed to parquet (checkpoint.py).
    """
    fw = FirstWriter("key_str", prior is not None)
    ranked = fw.rank(keys.select("key_str", fw.identity.alias("_id")), prior)
    source, ord_ = F.col("_id.s").alias("source"), F.col("_id.o").alias("ord")
    colliding = ranked.where(fw.later).select(
        source, ord_, "key_str", F.col("_mn.s").alias("first_source")
    )
    pk_keys = ranked.where(~fw.later & ~fw.held).select(source, ord_, "key_str")
    return colliding, pk_keys


def _resolve_cascade(
    keys: DataFrame, max_rounds: int, prior: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, tuple]:
    """Alternating fixpoint for multi-key docs (array fan-out).

    colliding(d) ⟺ ∃k∈keys(d) recorded by an earlier non-colliding doc.
    Start optimistic (everyone recorded), alternate until the colliding-doc
    set is stable. Chain depths beyond ``max_rounds`` are vanishingly rare;
    we stop at the cap (conservative over-report, documented deviation).

    With ``prior``, docs holding a key that a prior holder records under
    another identity collide up front and leave the fixpoint — they record
    nothing, which frees their other keys exactly like the reference — and
    every key a prior holder records is blamed on that holder.
    """
    # keys and the FINAL round's colliding set stay cached (the returned
    # lazy plans reference both) and are handed back to the caller for
    # release() (code-review r4); each superseded round's cache is released
    # immediately — pure leak otherwise (code-review r3).
    # doc id = struct(ord, source): ord is the total order, and struct
    # equality is null-safe, so a null-source doc still matches itself
    doc = F.col("_doc")
    keys = keys.withColumn("_doc", F.struct("ord", "source")).cache()
    cached: tuple = (keys,)
    eligible = keys  # keys of docs that may record
    if prior is not None:
        held = prior.groupBy("key_str").agg(
            F.min(F.struct(
                F.col("first_ord").cast("long").alias("ord"),
                F.col("first_source").alias("source"),
            )).alias("_first")
        )
        blocked = (
            keys.join(held, "key_str").where(doc != F.col("_first"))
            .select("_doc").distinct().cache()
        )
        cached += (blocked,)
        eligible = keys.join(blocked, "_doc", "left_anti")
    active = eligible  # keys of docs currently assumed recorded
    colliding_docs = None
    prev_count = -1
    for _ in range(max_rounds):
        # a doc collides if any of its keys has an earlier recorded holder
        # (blame attribution needs no window here — the final pass below
        # recomputes firsts for it; code-review r4 dropped a dead window)
        firsts = active.groupBy("key_str").agg(F.min(doc).alias("_first"))
        probe = eligible.join(firsts, "key_str", "inner").where(doc > F.col("_first"))
        new_cd = probe.select("_doc").distinct().cache()
        n = new_cd.count()
        if colliding_docs is not None:
            colliding_docs.unpersist()
        colliding_docs = new_cd
        if n == prev_count:
            break
        prev_count = n
        active = eligible.join(colliding_docs, "_doc", "left_anti")

    # final pass with the converged registry for blame attribution
    registry = eligible.join(colliding_docs, "_doc", "left_anti")
    firsts = registry.groupBy("key_str").agg(F.min(doc).alias("_first"))
    later = doc > F.col("_first")
    blamed = colliding_docs
    if prior is not None:
        # a prior holder owns its key ahead of any doc of this run; a key it
        # holds is recorded here only by that very doc, re-delivered
        firsts = held.withColumn("_prior", F.lit(True)).unionByName(
            firsts.join(held, "key_str", "left_anti")
            .withColumn("_prior", F.lit(False))
        )
        later = F.when(F.col("_prior"), doc != F.col("_first")).otherwise(later)
        blamed = colliding_docs.unionByName(blocked)
        registry = registry.join(held, "key_str", "left_anti")
    colliding = (
        keys.join(blamed, "_doc", "left_semi")
        .join(firsts, "key_str", "inner")
        .where(later)
        .select("source", "ord", "key_str", F.col("_first.source").alias("first_source"))
    )
    return colliding, registry, cached + (colliding_docs,)
