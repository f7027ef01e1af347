"""Property-based foundations (hypothesis): the cross-engine invariants that
everything else rests on.

1. Key serialization: Spark's ``to_json(array<string>)`` must equal Python's
   ``json.dumps(list, separators=(",", ":"), ensure_ascii=False)`` — this is
   what makes corpus keys, seed keys, and DuckDB oracle keys collide
   correctly (≙ ``new JSONArray(list).toString()``).
2. md5 parity: Spark md5 hex == hashlib md5 hex (the dedup-oracle basis).
3. Affine MinHash arithmetic stays in int64 (no overflow) for any 31-bit x.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fairtracks_validator_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
)

# Strings incl. unicode, quotes, backslashes — but no control characters:
# Spark/Jackson escape them as uppercase \\u000F while Python json uses
# lowercase \\u000f (pinned below). Key equality is unaffected (both engines
# serialize consistently with THEMSELVES); only byte-level cross-language
# comparison of keys containing control chars would diverge.
_STR = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), min_size=0, max_size=40
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(_STR, _STR), min_size=1, max_size=20))
def test_key_serialization_matches_python_json(spark, pairs):
    df = spark.createDataFrame(pairs, "a STRING, b STRING")
    got = [
        r["k"]
        for r in df.select(F.to_json(F.array("a", "b")).alias("k")).collect()
    ]
    expected = [
        json.dumps([a, b], separators=(",", ":"), ensure_ascii=False)
        for a, b in pairs
    ]
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(st.lists(_STR.filter(lambda s: s == s.strip() and s), min_size=1, max_size=10))
def test_md5_parity_with_hashlib(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v STRING")
    got = {r["v"]: r["h"] for r in df.select("v", F.md5("v").alias("h")).collect()}
    for v in values:
        assert got[v] == hashlib.md5(v.encode("utf-8")).hexdigest()


def test_control_char_escaping_divergence_pinned(spark):
    """Pin the one known serialization divergence: control chars escape as
    uppercase hex in Spark/Jackson, lowercase in Python json. Documented
    caveat for keys containing raw control characters."""
    got = spark.range(1).select(
        F.to_json(F.array(F.lit("\x0f"))).alias("k")
    ).collect()[0]["k"]
    assert got == '["\\u000F"]'
    assert json.dumps(["\x0f"], separators=(",", ":")) == '["\\u000f"]'


@given(st.integers(min_value=0, max_value=MINHASH_P - 1))
@settings(max_examples=200, deadline=None)
def test_minhash_affine_no_overflow(x):
    for a, b in zip(MINHASH_A, MINHASH_B):
        prod = a * x + b
        assert prod < 2**63  # fits signed int64 in both Spark and DuckDB
        assert 0 <= prod % MINHASH_P < MINHASH_P


# ---- kernel ⇔ two-pass parity on routed multi-schema corpora -------------
#
# Every plan below fits the single-plan kernel (≤1 flat uniqueness
# constraint per schema, flat FK members), so validate_routed takes it; the
# two-pass path called directly on the same routed corpus is the reference.
# The events schema exercises a dangling FK, a self-FK, a foreignProperty
# target, a seed-only target (probe, J3 when the seed is empty, J2 when it
# is absent), an unregistered target (J2) and a registered target without
# that constraint (J3); dropping every users row empties its registry (J3).
_PARITY_SCHEMAS = [
    {"$id": "users/1", "primary_key": ["user_key"],
     "properties": {"balance": {"minimum": 0}}},
    {"$id": "tags/1", "properties": {"handle": {"type": "string", "unique": True}}},
    {"$id": "events/1", "primary_key": ["eid"],
     "properties": {"value": {"maximum": 400},
                    "tag": {"type": "string", "foreignProperty": "tags/1#handle"}},
     "foreign_keys": [
         {"schema_id": "users/1", "members": ["uid"]},
         {"schema_id": "events/1", "members": ["parent"]},
         {"schema_id": "ext/1", "members": ["ext"]},
         {"schema_id": "ghost/1", "members": ["uid"]},
         {"schema_id": "tags/1", "members": ["uid"]},
     ]},
]
_PARITY_DDL = (
    "source string, ord long, schema_id string, user_key string, "
    "balance double, handle string, eid string, uid string, parent string, "
    "tag string, ext string, value double"
)
_PKEY = st.sampled_from(["k1", "k2", "k3", None])
_PROW = st.fixed_dictionaries({
    "source": st.sampled_from(["a", "b", None]),
    "ord": st.integers(0, 3),
    "schema_id": st.sampled_from(["users/1", "events/1", "tags/1", "nope/1", None]),
    "user_key": _PKEY, "balance": st.sampled_from([-1.0, 1.0, None]),
    "handle": _PKEY, "eid": _PKEY,
    "uid": st.sampled_from(["k1", "k2", "dangling", None]),
    "parent": _PKEY, "tag": st.sampled_from(["k1", "k2", "nohandle", None]),
    "ext": _PKEY, "value": st.sampled_from([1.0, 500.0, None]),
})


def _prow(source, ord_, schema_id, **cols) -> dict:
    row = {c.split()[0]: None for c in _PARITY_DDL.split(", ")}
    return {**row, "source": source, "ord": ord_, "schema_id": schema_id, **cols}


# pinned corpus: a null-source dup user, a schema-failed user whose key is
# never recorded, a dup event with a dangling FK (masked from every probe),
# an event missing on every FK kind, a schema-failed event, a tied
# identity (the repeated events row) and orphans with and without a schema id
_PARITY_EXAMPLE = [
    _prow("a", 0, "users/1", user_key="k1", balance=1.0),
    _prow(None, 1, "users/1", user_key="k1", balance=1.0),
    _prow("b", 2, "users/1", user_key="k2", balance=-1.0),
    _prow("a", 3, "tags/1", handle="k1"),
    _prow("a", 1, "events/1", eid="k1", uid="k1", parent="k1", tag="k1",
          ext="k1", value=1.0),
    _prow(None, 2, "events/1", eid="k1", uid="dangling", tag="nohandle",
          ext="k2", value=1.0),
    _prow("b", 3, "events/1", eid="k2", uid="k2", parent="k3", tag="nohandle",
          ext="k2", value=1.0),
    _prow("b", 3, "events/1"),
    _prow("a", 4, "events/1", eid="k3", uid="dangling", value=500.0),
    _prow("a", 9, "nope/1"),
    _prow(None, 9, None),
]


def _parity_rows(rows: list[dict], drop_users: bool) -> list[tuple]:
    """Rows sharing a (schema_id, source, ord) identity become exact copies
    of the first one — tied identities are the same document read twice, so
    per-row and per-identity semantics agree on them."""
    first: dict = {}
    out = []
    for r in rows:
        if drop_users and r["schema_id"] == "users/1":
            continue
        r = first.setdefault((r["schema_id"], r["source"], r["ord"]), r)
        out.append(tuple(r[c.split()[0]] for c in _PARITY_DDL.split(", ")))
    return out


def _seed(spark, sid: str, keys: list[str]):
    return spark.createDataFrame(
        [(sid, "pk", f'["{k}"]', "seed", -1) for k in keys],
        "schema_id string, check_id string, key_str string, "
        "first_source string, first_ord long",
    )


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(_PROW, min_size=0, max_size=14),
    drop_users=st.booleans(),
    user_seed=st.none() | st.lists(st.sampled_from(["k1", "k3"]), max_size=2),
    ext_seed=st.none() | st.lists(st.sampled_from(["k1", "k2"]), max_size=2),
)
@example(rows=_PARITY_EXAMPLE, drop_users=False, user_seed=["k3"], ext_seed=["k1"])
@example(rows=_PARITY_EXAMPLE, drop_users=True, user_seed=None, ext_seed=[])
def test_routed_kernel_matches_two_pass(spark, rows, drop_users, user_seed, ext_seed):
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import (
        VIOLATION_SCHEMA, _validate_two_pass, validate_routed,
    )
    from fairtracks_validator_spark.sources.catalog import (
        orphan_verdicts, route_corpus,
    )

    plans = {s["$id"]: compile_schema(s) for s in _PARITY_SCHEMAS}
    df = spark.createDataFrame(_parity_rows(rows, drop_users), _PARITY_DDL)
    seeds = {}
    if user_seed is not None:
        seeds[("users/1", "pk")] = _seed(spark, "users/1", user_seed)
    if ext_seed is not None:
        seeds[("ext/1", "pk")] = _seed(spark, "ext/1", ext_seed)

    kernel = validate_routed(df, plans, seed_registries=seeds)
    assert kernel.wide is not None  # the kernel path is the one under test
    corpus, orphans = route_corpus(df, plans)
    ref = _validate_two_pass(corpus, seed_registries=seeds)
    ref_verdicts = ref.verdicts.unionByName(orphan_verdicts(orphans))
    ref_violations = ref.violations.unionByName(
        orphans.select(*[c.split()[0] for c in VIOLATION_SCHEMA.split(", ")])
    )

    def rows_of(d):
        return sorted(map(tuple, d.collect()), key=repr)

    assert rows_of(kernel.verdicts) == rows_of(ref_verdicts)
    assert rows_of(kernel.violations) == rows_of(ref_violations)
    ref.release()


def test_routed_violations_share_the_wide_plan(spark):
    """The flat violations are an explode of ``wide``: on the pinned 5-FK
    corpus their plan plans the same exchanges plus one Generate, and
    their first action runs no more Spark jobs than ``wide``'s. AQE reuses
    or re-runs one exchange of the in-memory seeds depending on which
    stage finishes first (22 or 23 jobs on either output), so the job
    counts are compared over up to five pairs of fresh runs; separately
    planned flat branches ran 35 jobs on every run."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_routed

    plans = {s["$id"]: compile_schema(s) for s in _PARITY_SCHEMAS}
    df = spark.createDataFrame(_parity_rows(_PARITY_EXAMPLE, False), _PARITY_DDL)
    seeds = {("users/1", "pk"): _seed(spark, "users/1", ["k3"]),
             ("ext/1", "pk"): _seed(spark, "ext/1", ["k1"])}
    sc = spark.sparkContext

    def initial(out):
        return out._jdf.queryExecution().executedPlan().toString()

    res = validate_routed(df, plans, seed_registries=seeds)
    assert initial(res.violations).count("Exchange ") == initial(
        res.wide
    ).count("Exchange ")
    assert initial(res.violations).count("Generate ") == 1

    def first_action_jobs(output: str) -> int:
        out = getattr(validate_routed(df, plans, seed_registries=seeds), output)
        group = f"first-{output}-action"
        sc.setJobGroup(group, group)
        try:
            out.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    pairs = []
    for _ in range(5):
        pairs.append((first_action_jobs("violations"), first_action_jobs("wide")))
        if pairs[-1][0] <= pairs[-1][1]:
            break
    assert pairs[-1][0] <= pairs[-1][1], pairs


# ---- prior holders on the kernel path ------------------------------------
#
# Prior holders (registry rows frozen before a run) take part in uniqueness
# only: a document whose key a prior holder records under another identity
# is a dup_pk blamed on the holder, one whose key it records under this very
# identity is held (neither a duplicate nor recorded again), and no FK
# probe ever hits a prior key unless it is also seeded. Holders are drawn
# from the corpus's own identity space, so both cases occur.
_PRIOR = st.none() | st.dictionaries(
    st.sampled_from(["k1", "k2", "k3"]),
    st.tuples(st.sampled_from(["a", "b", None]), st.integers(0, 4)),
    max_size=3,
)
# pinned: (1) users k1 is held by its own document (a, 0) and duplicated by
# the null-source user, so the event (a, 1) that references it is
# fk_missing; users k2 is a prior key only. (2) events k1 is held elsewhere
# (both k1 events are dups) and events k2 by (b, 3) itself, so the events
# registry this run adds is empty and the self-FK reads J3.
_PRIOR_EXAMPLES = [
    ({"k1": ("a", 0), "k2": (None, 2)}, {"k2": ("b", 3)}),
    (None, {"k1": ("z", 0), "k2": ("b", 3)}),
]


def _prior(spark, sid: str, check_id: str, holders: dict):
    return spark.createDataFrame(
        [(sid, check_id, f'["{k}"]', s, o) for k, (s, o) in sorted(holders.items())],
        "schema_id string, check_id string, key_str string, "
        "first_source string, first_ord long",
    )


def _prior_corpus(spark, rows, user_prior, event_prior):
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.sources.catalog import route_corpus

    plans = {s["$id"]: compile_schema(s) for s in _PARITY_SCHEMAS}
    df = spark.createDataFrame(_parity_rows(rows, False), _PARITY_DDL)
    corpus, _ = route_corpus(df, plans)
    prior = {}
    for sid, holders in (("users/1", user_prior), ("events/1", event_prior)):
        if holders is not None:
            check_id = plans[sid].uniques[0].check_id
            prior[(sid, check_id)] = _prior(spark, sid, check_id, holders)
    return corpus, prior


@settings(max_examples=2, deadline=None)
@given(
    rows=st.lists(_PROW, min_size=0, max_size=14),
    user_prior=_PRIOR,
    event_prior=_PRIOR,
    user_seed=st.none() | st.lists(st.sampled_from(["k1", "k3"]), max_size=2),
)
@example(rows=_PARITY_EXAMPLE, user_prior=_PRIOR_EXAMPLES[0][0],
         event_prior=_PRIOR_EXAMPLES[0][1], user_seed=["k3"])
@example(rows=_PARITY_EXAMPLE, user_prior=_PRIOR_EXAMPLES[1][0],
         event_prior=_PRIOR_EXAMPLES[1][1], user_seed=None)
def test_kernel_prior_holders_match_two_pass(
    spark, rows, user_prior, event_prior, user_seed
):
    from fairtracks_validator_spark.runner import _validate_two_pass, validate_corpus

    corpus, prior = _prior_corpus(spark, rows, user_prior, event_prior)
    seeds = {("ext/1", "pk"): _seed(spark, "ext/1", ["k1"])}
    if user_seed is not None:
        seeds[("users/1", "pk")] = _seed(spark, "users/1", user_seed)

    kernel = validate_corpus(corpus, seed_registries=seeds, prior_registries=prior)
    assert kernel.wide is not None  # the kernel path is the one under test
    ref = _validate_two_pass(corpus, seed_registries=seeds, prior_registries=prior)

    def rows_of(d):
        return sorted(map(tuple, d.collect()), key=repr)

    assert rows_of(kernel.verdicts) == rows_of(ref.verdicts)
    assert rows_of(kernel.violations) == rows_of(ref.violations)
    registry = ["key_str", "first_source", "first_ord"]
    assert set(kernel.pk_registries) == set(ref.pk_registries)
    for rkey, reg in kernel.pk_registries.items():
        assert rows_of(reg.select(*registry)) == rows_of(
            ref.pk_registries[rkey].select(*registry)
        ), rkey
    ref.release()


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(_PROW, min_size=0, max_size=14),
    user_prior=_PRIOR,
    event_prior=_PRIOR,
)
@example(rows=_PARITY_EXAMPLE, user_prior=None, event_prior=None)
@example(rows=_PARITY_EXAMPLE, user_prior=_PRIOR_EXAMPLES[0][0],
         event_prior=_PRIOR_EXAMPLES[0][1])
def test_probe_key_set_is_the_recorded_key_set(spark, rows, user_prior, event_prior):
    """The windowless key set an FK probe joins holds exactly the keys of
    the registry rows the first-writer window records (tied identities,
    null sources, schema-failed first holders, null keys, prior holders)."""
    from fairtracks_validator_spark.runner import _KernelTemplate, validate_corpus

    corpus, prior = _prior_corpus(spark, rows, user_prior, event_prior)
    res = validate_corpus(corpus, prior_registries=prior)
    assert res.wide is not None
    for sid, (plan, df) in corpus.items():
        if not plan.uniques:
            continue
        rkey = (sid, plan.uniques[0].check_id)
        tpl = _KernelTemplate(
            plan, sid, "source", "ord", rkey in prior, ("no_schema",) * len(plan.fks)
        )
        keys = [r.key_str for r in tpl.probe_keys(df, prior.get(rkey)).collect()]
        assert None not in keys
        assert set(keys) == {
            r.key_str for r in res.pk_registries[rkey].collect()
        }, rkey


# ---- stream of k micro-batches ⇔ one batch run ---------------------------
#
# A corpus split by ord into contiguous micro-batches, each run through
# process_batch against the registry of the batches before it, yields the
# batch run's violations (descriptions included) and registry rows, FKs
# dropped. The second plan (a fan-out primary key plus a flat unique)
# takes the two-pass path, i.e. the cascade and the single-pass window, on
# both sides.
_STREAM_SCHEMAS = {
    "kernel": {"$id": "sb/1", "primary_key": ["k"],
               "properties": {"v": {"minimum": 0}},
               "foreign_keys": [{"schema_id": "sb/1", "members": ["j"]}]},
    "two_pass": {"$id": "sb/1", "primary_key": ["ks[]"],
                 "properties": {"v": {"minimum": 0},
                                "ks": {"items": {"type": "string"}},
                                "k": {"type": "string", "unique": True}},
                 "foreign_keys": [{"schema_id": "sb/1", "members": ["j"]}]},
}
_STREAM_DDL = "source string, ord long, k string, j string, ks array<string>, v long"
_SKEY = st.sampled_from(["k1", "k2", "k3", None])
_SROW = st.tuples(
    st.sampled_from(["a", "b", None]), st.integers(0, 5), _SKEY, _SKEY,
    st.sampled_from([None, [], ["k1"], ["k1", "k2"], ["k2", "k3"], ["k3", None]]),
    st.sampled_from([-1, 1]),
)
# pinned (cuts [1, 3]): a tied identity, a null-source holder, a
# schema-failed first row of a key, null keys, and fan-out docs that
# collide with a prior holder on one key and an in-batch holder on another
_STREAM_EXAMPLE = [
    ("a", 0, "k1", "k1", ["k1"], 1), ("a", 0, "k1", "k1", ["k1"], 1),
    (None, 1, "k2", "k1", ["k2"], 1), ("b", 1, "k2", None, None, 1),
    ("a", 2, "k3", "k2", ["k3"], -1), ("b", 3, "k3", "k2", ["k3"], 1),
    ("a", 4, "k1", None, ["k1", "k3"], 1), (None, 4, None, "k3", ["k2", "k3"], 1),
    ("b", 5, "k2", "k1", ["k3", None], 1),
]


@pytest.mark.parametrize("shape", sorted(_STREAM_SCHEMAS))
@settings(max_examples=2, deadline=None)
@given(rows=st.lists(_SROW, min_size=1, max_size=12),
       cuts=st.lists(st.integers(1, 5), min_size=1, max_size=2, unique=True))
@example(rows=_STREAM_EXAMPLE, cuts=[1, 3])
def test_stream_batches_match_batch_run(spark, tmp_path_factory, shape, rows, cuts):
    import dataclasses

    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import VIOLATION_SCHEMA, validate_corpus
    from fairtracks_validator_spark.streaming.validate_stream import (
        REGISTRY_COLUMNS, process_batch,
    )

    plan = compile_schema(_STREAM_SCHEMAS[shape])
    df = spark.createDataFrame(rows, _STREAM_DDL)
    out = str(tmp_path_factory.mktemp("stream_vs_batch"))
    bounds = [0, *sorted(cuts), 6]
    for batch_id, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        process_batch(
            df.where((F.col("ord") >= lo) & (F.col("ord") < hi)), batch_id, plan, out
        )
    batch = validate_corpus(
        {plan.schema_id: (dataclasses.replace(plan, fks=[]), df)}
    )

    def rows_of(d, cols):
        return sorted(map(tuple, d.select(*cols).collect()), key=repr)

    viol_cols = [c.split()[0] for c in VIOLATION_SCHEMA.split(", ")]
    assert rows_of(spark.read.parquet(f"{out}/violations"), viol_cols) == rows_of(
        batch.violations, viol_cols
    )
    registry = [
        r.select(*REGISTRY_COLUMNS) for r in batch.pk_registries.values()
    ]
    want = sorted(
        (t for r in registry for t in map(tuple, r.collect())), key=repr
    )
    assert rows_of(spark.read.parquet(f"{out}/registry"), REGISTRY_COLUMNS) == want
    batch.release()
