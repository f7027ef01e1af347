"""Single-action observed sink: wide verdicts + nested violations.

The production sink writes verdicts AND violations in ONE Spark action with
the run counts as ``observe()`` accumulators (``runner.sink_observed``) —
the fix for the N→4N serial-residue (5 jobs / 9 stages of separate count
actions per run, BENCH/BASELINE.md r4). These tests pin:

- wide ↔ flat parity: exploding ``wide_verdicts().violations`` reproduces
  the flat violations relation exactly, on both the kernel path (wide
  built inside the existing plan) and the two-pass path (join fallback);
- observed counts equal the per-output counts;
- the parquet sink round-trips (explode of the written table = violations);
- the job count of the observed sink stays at the AQE minimum.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import validate_corpus, sink_observed

from conftest import rows_set

_DOCS_SCHEMA = {
    "$id": "t/1.0",
    "required": ["name"],
    "properties": {
        "name": {"type": "string", "minLength": 2},
        "n": {"type": "integer", "minimum": 0},
    },
    "primary_key": ["name"],
}


def _corpus(spark):
    rows = [
        ("a", "alice", 1),
        ("b", "bo", -1),      # minimum violation
        ("c", None, 2),       # required violation
        ("d", "alice", 3),    # dup PK
        ("e", "x", 4),        # minLength violation
    ]
    df = spark.createDataFrame(rows, "source string, name string, n int")
    return df.withColumn("ord", F.monotonically_increasing_id())


def _explode_wide(wide):
    return wide.select(
        "source", "ord", "schema_id", F.explode("violations").alias("v")
    ).select(
        "source", "ord", "schema_id",
        "v.check_id", "v.key_str", "v.reason", "v.description",
    )


def test_fused_wide_parity_and_counts(spark, tmp_path):
    plan = compile_schema(_DOCS_SCHEMA)
    df = _corpus(spark)
    res = validate_corpus({"t/1.0": (plan, df)})
    assert res.wide is not None  # fused path built it in-plan

    flat = res.violations
    assert rows_set(_explode_wide(res.wide_verdicts())) == rows_set(flat)

    # observed counts == per-output counts, via the parquet sink round-trip
    out = str(tmp_path / "verdicts")
    m = sink_observed(res, path=out)
    assert m["docs"] == df.count() == 5
    assert m["violations"] == flat.count()
    assert m["failed_docs"] == res.verdicts.where(~F.col("validated")).count()

    written = spark.read.parquet(out)
    assert rows_set(_explode_wide(written)) == rows_set(flat)
    # every doc present exactly once, ok docs carry an EMPTY (not null) array
    assert written.count() == 5
    assert written.where(F.col("violations").isNull()).count() == 0
    assert (
        written.where(F.col("validated") & (F.size("violations") > 0)).count()
        == 0
    )


def test_general_path_wide_join_fallback(spark):
    """Multi-schema corpus exercises the two-pass path (wide is None →
    group+join reconstruction); two uniqueness constraints on u/1.0 keep it
    off the single-plan kernel."""
    plan_a = compile_schema(_DOCS_SCHEMA)
    plan_b = compile_schema(
        {
            "$id": "u/1.0",
            "primary_key": ["v"],
            "unique": ["ref"],
            "properties": {"v": {"type": "integer", "maximum": 10}},
            "foreign_keys": [
                {"schema_id": "t/1.0", "members": ["ref"]}
            ],
        }
    )
    docs_b = spark.createDataFrame(
        [("x", 5, "alice"), ("y", 99, "nobody")],
        "source string, v int, ref string",
    ).withColumn("ord", F.monotonically_increasing_id())
    res = validate_corpus(
        {"t/1.0": (plan_a, _corpus(spark)), "u/1.0": (plan_b, docs_b)}
    )
    assert res.wide is None
    wide = res.wide_verdicts()
    assert rows_set(_explode_wide(wide)) == rows_set(res.violations)
    m = sink_observed(res)  # noop sink: computation only
    assert m["docs"] == res.verdicts.count() == 7
    assert m["violations"] == res.violations.count()
    res.release()


def test_observed_sink_job_count(spark):
    """The fused observed sink runs at the AQE minimum (map job + final
    job) — not one job per output, which was the scaling residue."""
    plan = compile_schema(_DOCS_SCHEMA)
    res = validate_corpus({"t/1.0": (plan, _corpus(spark))})
    sc = spark.sparkContext
    sc.setJobGroup("sink-jobs", "observed sink job-count probe")
    try:
        sink_observed(res)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("sink-jobs")
    assert 1 <= len(jobs) <= 3, f"expected one observed action, saw {jobs}"


def test_routed_kernel_job_shape(spark):
    """A flat-key users/events corpus runs as one lazy plan: validate_routed
    submits no Spark job at all (no eager registry count, no persist), the
    sink writes the in-plan wide relation directly, and nothing stays
    cached afterwards."""
    from fairtracks_validator_spark.runner import validate_routed

    users = compile_schema({
        "$id": "users/1.0", "primary_key": ["user_key"],
        "properties": {"balance": {"minimum": 0}},
    })
    events = compile_schema({
        "$id": "events/1.0", "properties": {"value": {"maximum": 400}},
        "foreign_keys": [{"schema_id": "users/1.0", "members": ["user_id"]}],
    })
    df = spark.createDataFrame(
        [
            ("u1", 1, "users/1.0", "a", 5.0, None, None),
            ("u2", 2, "users/1.0", "a", 5.0, None, None),   # dup_pk
            ("u3", 3, "users/1.0", "b", -1.0, None, None),  # minimum, no key
            ("e1", 4, "events/1.0", None, None, "a", 1.0),
            ("e2", 5, "events/1.0", None, None, "b", 1.0),  # fk_missing
            ("e3", 6, "events/1.0", None, None, "a", 900.0),  # maximum
            ("o1", 7, "ghost/1.0", None, None, None, None),  # orphan
        ],
        "source string, ord long, schema_id string, user_key string, "
        "balance double, user_id string, value double",
    )
    sc = spark.sparkContext
    cached = lambda: {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}  # noqa: E731
    before = cached()
    sc.setJobGroup("routed-validate", "routed validate job-count probe")
    try:
        res = validate_routed(df, {"users/1.0": users, "events/1.0": events})
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("routed-validate")) == []
    assert res.wide is not None and res._persisted == []
    m = sink_observed(res)
    assert m == {"docs": 7, "failed_docs": 4, "ignored_docs": 1, "violations": 5}
    assert cached() == before
    assert rows_set(_explode_wide(res.wide_verdicts())) == rows_set(res.violations)


def test_observed_counts_exclude_ignored_from_failed(spark):
    """Orphan (status='ignored') docs carry validated=False but must NOT
    count as failed_docs — sink_observed counts them as ignored_docs
    (code-review r5: the sink previously summed ~validated, double-counting
    orphans)."""
    from fairtracks_validator_spark.runner import validate_routed

    plan = compile_schema(_DOCS_SCHEMA)
    df = spark.createDataFrame(
        [
            ("a", "t/1.0", "alice", 1),
            ("b", "t/1.0", "x", 2),       # minLength violation -> failed
            ("c", "ghost/9", "bob", 3),   # orphan -> ignored
            ("d", "ghost/9", "eve", 4),   # orphan -> ignored
        ],
        "source string, schema_id string, name string, n int",
    ).withColumn("ord", F.monotonically_increasing_id())
    res = validate_routed(df, {"t/1.0": plan})
    m = sink_observed(res)
    assert m["docs"] == 4
    assert m["failed_docs"] == 1
    assert m["ignored_docs"] == 2
    res.release()

