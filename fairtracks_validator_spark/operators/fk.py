"""Foreign-key / referential-integrity checks as anti joins.

Reference (``Validator.java:128-179``): pass 2 generates each document's FK
key strings (same ``GenKeyStrings`` Cartesian machinery as PKs) and probes the
target schema's in-memory PK hash map. Exact message formats:

- key miss      → "Unmatching FK (%s) in %s to schema %s"
                  (``SchemaMissingForeignKeyException.java:23``)
- empty PK set  → "No available documents from %s schema, required by %s"
                  (``SchemaMissingForeignKeyNoDocumentsException.java:21``)
- missing schema→ "No available schema %s , required by %s"
                  (``SchemaMissingForeignKeySchemaException.java:28``)

Null/absent tuples are skipped — ``fkStrings`` empty ⇒ no check at all
(``Validator.java:145-163``).

Spark shape: the hash-map probe IS a hash join — we run
``fk_keys LEFT ANTI JOIN pk_keys ON key_str``. The broadcast decision is
size-gated: an explicit ``F.broadcast()`` hint overrides
``autoBroadcastJoinThreshold`` unconditionally, so hinting a registry of
unknown size would force-broadcast billions of keys and OOM the driver.
Callers that KNOW the registry is small (the runner's two-pass path counts
it once while settling J3 emptiness) pass ``broadcast_pk=True``; the default
(``None``) adds no hint and lets AQE pick broadcast at runtime from the
registry's actual shuffle-map size. The runner's single-plan kernel probes
with an in-plan left join instead and shares the row builder
(``fk_violation``), so both paths emit identical violation rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.keys import is_flat_members


VIOLATION_COLS = ["source", "ord", "schema_id", "check_id", "key_str", "reason", "description"]


def fk_keys(
    df: DataFrame,
    members: list[str],
    source_col: str = "source",
    ord_col: str = "ord",
) -> DataFrame:
    """(source, ord, key_str) — one row per generated FK key string.

    Delegates to ``uniqueness._doc_keys``: key generation is the identical
    job on both sides of the probe, and its flat-member fast path (pure
    codegen ``to_json``, no explode) is exactly the web-scale FK shape —
    duplicating only the HOF path here made every flat probe pay the array
    machinery (code-review r3)."""
    from .uniqueness import _doc_keys

    return _doc_keys(df, "fk", members, source_col, ord_col)


# reason → reference message (module docstring); fk_violation() fills the
# slots with (key, source, target) for fk_missing, else (target, source)
_FK_MESSAGES = {
    "fk_missing": "Unmatching FK (%s) in %s to schema %s",
    "fk_no_docs": "No available documents from %s schema, required by %s",
    "fk_no_schema": "No available schema %s , required by %s",
}


def fk_violation(
    reason: str,
    check_id: str,
    target_schema_id: str,
    key_str: Column | None,
    source: Column,
) -> list[Column]:
    """``check_id, key_str, reason, description`` columns of one FK
    violation — shared by ``fk_check`` and the runner's in-plan probes so
    both paths emit byte-identical rows. Only ``fk_missing`` names a key;
    J2/J3 rows carry a null ``key_str``."""
    target = F.lit(target_schema_id)
    if reason == "fk_missing":
        args = [key_str, source, target]
    else:
        key_str = F.lit(None).cast("string")
        args = [target, source]
    return [
        F.lit(check_id).alias("check_id"),
        key_str.alias("key_str"),
        F.lit(reason).alias("reason"),
        F.format_string(_FK_MESSAGES[reason], *args).alias("description"),
    ]


def fk_check(
    df: DataFrame,
    check_id: str,
    members: list[str],
    schema_id: str,
    target_schema_id: str,
    pk: DataFrame | None,
    source_col: str = "source",
    ord_col: str = "ord",
    broadcast_pk: bool | None = None,
    pk_known_empty: bool | None = None,
) -> DataFrame:
    """Violations for one FK declaration.

    ``pk``: the target schema's recorded registry (``UniquenessResult.pk`` —
    columns must include ``key_str``), or None when the target schema is not
    registered at all (J2, ``Validator.java:168-171``).

    ``pk_known_empty``: pass the precomputed emptiness verdict (J3,
    ``Validator.java:164-167``) to avoid re-counting; None ⇒ computed here
    (triggers the upstream job — cache ``pk`` first).

    ``broadcast_pk``: True ⇒ hint broadcast (caller verified the registry is
    small); False/None ⇒ no hint, AQE decides from runtime size.
    """
    probes = fk_keys(df, members, source_col, ord_col)

    def per_doc(reason: str) -> DataFrame:
        # J2/J3: one violation per document with ≥1 key. Flat members give
        # at most one key per row, so the probe rows already are the
        # documents — only fan-out keys need the distinct (and its shuffle).
        docs = probes.select("source", "ord")
        if not is_flat_members(members):
            docs = docs.distinct()
        return docs.select(
            "source", "ord", F.lit(schema_id).alias("schema_id"),
            *fk_violation(reason, check_id, target_schema_id, None, F.col("source")),
        )

    if pk is None:
        # J2: FK decl to an unregistered schema — every doc with ≥1 key fails.
        return per_doc("fk_no_schema")

    if pk_known_empty is None:
        pk_known_empty = pk.limit(1).count() == 0

    if pk_known_empty:
        # J3: target loaded but produced no keys — per-doc constant violation.
        return per_doc("fk_no_docs")

    pk_side = pk.select("key_str").distinct()
    if broadcast_pk:
        pk_side = F.broadcast(pk_side)

    # When the PK side exceeds the broadcast gate this becomes a shuffle
    # anti-join; Spark's optimizer-injected runtime bloom filter
    # (spark.sql.optimizer.runtime.bloomFilter.enabled, on by default)
    # pre-filters the probe side map-side, so only likely-missing keys pay
    # the shuffle — the bloom-prefilter pattern without hand-rolled sketches.
    return probes.join(pk_side, "key_str", "left_anti").select(
        "source", "ord", F.lit(schema_id).alias("schema_id"),
        *fk_violation(
            "fk_missing", check_id, target_schema_id,
            F.col("key_str"), F.col("source"),
        ),
    )
