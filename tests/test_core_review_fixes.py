"""Regression tests for the round-3 core code-review findings."""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
import pytest

from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import validate_corpus


def _docs(spark, rows, ddl):
    df = spark.createDataFrame(rows, ddl)
    return df.withColumn("source", F.col("id").cast("string")).withColumn(
        "ord", F.col("id").cast("long")
    )


def test_required_without_properties_enforced(spark):
    """`{"required": ["a"]}` with no properties dict must still compile the
    required check (was silently dropped)."""
    plan = compile_schema({"$id": "s/1", "type": "object", "required": ["a"]})
    assert any("required" in c.check_id for c in plan.checks)
    docs = _docs(spark, [(1, "x"), (2, None)], "id long, a string")
    res = validate_corpus({"s/1": (plan, docs)})
    bad = {r["source"] for r in res.violations.collect()}
    assert bad == {"2"}


def test_pk_only_plan_runs_fused(spark):
    """A plan with a primary key and zero row checks must not crash the
    fused path (F.filter over array<void>)."""
    plan = compile_schema({"$id": "s/2", "primary_key": ["k"], "properties": {}})
    docs = _docs(spark, [(1, "a"), (2, "a"), (3, "b")], "id long, k string")
    res = validate_corpus({"s/2": (plan, docs)})
    dup = [r for r in res.violations.collect()]
    assert len(dup) == 1 and dup[0]["source"] == "2"


def test_absent_root_with_nested_paths_pads_struct(spark):
    """Absent root column referenced at both 'a' and 'a.b' must pad as a
    struct deep enough for the nested path (was padded as string -> crash)."""
    plan = compile_schema(
        {"$id": "s/3", "properties": {"a": {"properties": {"b": {"type": "string"}}, "required": ["b"]}},
         "required": ["a"]}
    )
    docs = _docs(spark, [(1, "t")], "id long, other string")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = validate_corpus({"s/3": (plan, docs)})
        checks = {r["check_id"] for r in res.violations.collect()}
    assert "required:a" in checks  # absent column = required violation


def test_combinator_only_path_survives_drift(spark):
    """Paths referenced only inside anyOf branches must reach plan.jpaths
    so drift alignment can pad them (was FIELD_NOT_FOUND)."""
    plan = compile_schema(
        {
            "$id": "s/4",
            "properties": {
                "p": {"anyOf": [
                    {"properties": {"x": {"const": "1"}}, "required": ["x"]},
                    {"properties": {"y": {"const": "2"}}, "required": ["y"]},
                ]}
            },
        }
    )
    assert any(p.startswith("p.") for p in plan.jpaths)
    docs = spark.createDataFrame([(1, ("1",))], "id long, p struct<x: string>")
    docs = docs.withColumn("source", F.col("id").cast("string")).withColumn(
        "ord", F.col("id").cast("long")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        res = validate_corpus({"s/4": (plan, docs)})
        # p.x='1' satisfies the first branch; must not crash on missing p.y
        assert res.violations.count() == 0


def test_schema_id_column_non_struct_parent(spark):
    from fairtracks_validator_spark.sources.catalog import schema_id_column

    df = spark.createDataFrame(
        [("yes", "s/1")], "fair_tracks string, `@schema` string"
    )
    got = df.select(schema_id_column(df).alias("sid")).collect()[0]["sid"]
    assert got == "s/1"  # falls through to the top-level key, no crash


def test_checkpoint_empty_partitions_complete(spark, tmp_path):
    """Every todo partition (including 0-row ones) gets a lineage row, so
    resumable max_partitions runs always make progress (was a livelock)."""
    from fairtracks_validator_spark.checkpoint import CheckpointedValidation

    plan = compile_schema({"$id": "p/1", "properties": {"v": {"type": "string"}}})
    docs = (
        spark.createDataFrame(
            [(f"u{i}", f"t{i}") for i in range(3)], "url string, v string"
        )
        .withColumn("source", F.col("url"))
        .withColumn("ord", F.monotonically_increasing_id())
    )
    cv = CheckpointedValidation(out_dir=str(tmp_path / "cp"), n_partitions=8)
    seen: list = []
    for _ in range(4):  # 8 partitions / 2 per batch
        out = cv.run(docs, plan, key_col="url", ord_col="ord", max_partitions=2)
        assert out["processed"], f"no progress: {out} after {seen}"
        seen += out["processed"]
    assert sorted(seen) == list(range(8))
    assert cv.run(docs, plan, key_col="url", ord_col="ord")["processed"] == []


def test_release_unpersists_caches(spark):
    # a second uniqueness constraint keeps this on the two-pass path, the
    # one that persists (the kernel caches nothing)
    plan = compile_schema(
        {"$id": "r/1", "properties": {"v": {"type": "string", "unique": True}},
         "foreign_keys": [{"schema_id": "r/1", "members": ["v"]}],
         "primary_key": ["v"]}
    )
    docs = _docs(spark, [(1, "a"), (2, "b")], "id long, v string")
    res = validate_corpus({"r/1": (plan, docs)})
    res.violations.count()
    assert res._persisted  # the run cached something
    res.release()
    assert not res._persisted


def test_numeric_checks_flag_non_numeric_without_crash(spark):
    """ANSI mode: 'abc' at a minimum/multipleOf path is a violation, not a
    CAST_INVALID_INPUT job crash; decimal multipleOf accepts 0.3 % 0.1."""
    from fairtracks_validator_spark.operators.checks import (
        apply_checks,
        maximum_check,
        minimum_check,
        multiple_of_check,
    )

    df = _docs(
        spark,
        [(1, "abc"), (2, "7"), (3, "0.3"), (4, None)],
        "id long, v string",
    )
    out = apply_checks(
        df,
        [minimum_check("v", 5), maximum_check("v", 100), multiple_of_check("v", 0.1)],
        [], "s",
    )
    got = sorted((r["source"], r["check_id"]) for r in out.collect())
    assert got == [
        ("1", "maximum:v"), ("1", "minimum:v"), ("1", "multipleOf:v"),
        ("3", "minimum:v"),
    ]


def test_psi_timeseries_ignores_null_ts(spark):
    from fairtracks_validator_spark.operators.stats import psi_timeseries

    rows = [(None, 5.0)] * 50 + [
        ("2026-01-01 10:00:00", 1.0)
    ] * 20 + [("2026-01-01 11:00:00", 1.0)] * 20
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = psi_timeseries(df, "value", "ts", lo=0.0, hi=10.0, buckets=5).collect()
    # first real hour omitted (no predecessor); null-ts rows form no window
    assert [r["window_start"] for r in out] == ["2026-01-01 11:00:00"]
    assert out[0]["psi"] == 0.0  # identical distributions


def test_chi_square_vs_reference_surfaces_novel_buckets(spark):
    from fairtracks_validator_spark.operators.drift import chi_square_vs_reference

    obs = spark.createDataFrame(
        [("a",)] * 50 + [("c",)] * 50, "lang string"
    )
    ref = spark.createDataFrame([("a", 0.5), ("b", 0.5)], "lang string, p double")
    r = chi_square_vs_reference(obs, ref, "lang").collect()[0]
    assert r["novel_n"] == 50 and r["novel_buckets"] == 1
    assert r["dof"] == 1  # reference buckets only
    # chi2 over reference cells: a has e=50,o=50 -> 0; b has e=50,o=0 -> 50
    assert r["chi2"] == pytest.approx(50.0)


def test_streaming_colliding_doc_records_no_keys(spark, tmp_path):
    """First-writer-wins in streaming: a doc that collided on one key must
    not register its other keys (no false dup blame for later batches)."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.streaming.validate_stream import process_batch

    plan = compile_schema(
        {"$id": "st/1", "properties": {"ks": {"type": "array"}},
         "primary_key": ["ks[]"]}
    )
    out = str(tmp_path / "stream_fw")
    # batch 0: doc A owns X. batch 1: doc B carries {X, Y} -> collides on X,
    # so Y must NOT be recorded. batch 2: doc C carries {Y} -> no violation.
    mk = lambda rows: spark.createDataFrame(rows, "source string, ord long, ks array<string>")
    process_batch(mk([("A", 1, ["X"])]), 0, plan, out)
    process_batch(mk([("B", 2, ["X", "Y"])]), 1, plan, out)
    process_batch(mk([("C", 3, ["Y"])]), 2, plan, out)
    viol = spark.read.parquet(f"{out}/violations")
    rows = {(r["source"], r["key_str"]) for r in viol.collect()}
    assert ("B", '["X"]') in rows
    assert all(s != "C" for s, _ in rows), rows  # Y was never registered


def test_null_source_doc_fails_verdict_and_skips_probes(spark):
    """code-review r4: a null-source doc that fails a check must read
    validated=False (null-safe verdict join) — in both the generic and the
    fused paths — and null-source all-ok docs must not collapse into one
    surrogate bucket as false dup_pks."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_corpus

    df = spark.createDataFrame(
        [(None, 1, None), (None, 2, "k2"), (None, 3, "k3"), ("s4", 4, None)],
        "source string, ord long, k string",
    )
    # fused path (single schema, one flat PK, no FKs): ord1 fails required,
    # ords 2/3 are ok distinct keys, ords with null k get unique surrogates
    plan = compile_schema({
        "$id": "ns/1", "required": ["k"], "primary_key": ["k"],
        "properties": {"k": {"minLength": 1}},
    })
    res = validate_corpus({"ns/1": (plan, df)})
    v = {r["ord"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {1: False, 2: True, 3: True, 4: False}
    kinds = [r["check_id"] for r in res.violations.collect()]
    assert sorted(kinds) == ["required:k", "required:k"]  # no dup_pk rows

    # kernel with an in-plan FK probe, then the two-pass path (a second
    # uniqueness constraint forces it): same verdict expectation
    for extra in ({}, {"unique": True}):
        plan2 = compile_schema({
            "$id": "ns/2", "required": ["k"], "primary_key": ["k"],
            "properties": {"k": {"minLength": 1, **extra}},
            "foreign_keys": [{"schema_id": "ns/2", "members": ["k"]}],
        })
        res2 = validate_corpus({"ns/2": (plan2, df)})
        assert (res2.wide is None) == bool(extra)  # the path under test
        v2 = {r["ord"]: r["validated"] for r in res2.verdicts.collect()}
        assert v2[1] is False and v2[4] is False and v2[2] and v2[3]
        res2.release()


def test_multischema_shared_identity_does_not_cross_flip(spark):
    """code-review r4: two schemas whose tables share a (source, ord) pair
    — a violation in one must not fail the other's doc."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_corpus

    bad = spark.createDataFrame([("s", 1, None)], "source string, ord long, a string")
    good = spark.createDataFrame([("s", 1, "ok")], "source string, ord long, b string")
    pa = compile_schema({"$id": "x/a", "required": ["a"],
                         "foreign_keys": [{"schema_id": "x/a", "members": []}]})
    pb = compile_schema({"$id": "x/b", "required": ["b"],
                         "foreign_keys": [{"schema_id": "x/b", "members": []}]})
    res = validate_corpus({"x/a": (pa, bad), "x/b": (pb, good)})
    got = {(r["schema_id"], r["validated"]) for r in res.verdicts.collect()}
    assert got == {("x/a", False), ("x/b", True)}
    res.release()


def test_routed_result_carries_persisted(spark):
    """code-review r4: release() on a routed result must drop the inner
    run's caches (they were silently discarded before)."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_routed

    df = spark.createDataFrame(
        [("a", 1, "x/a", "k1"), ("b", 2, "x/a", "k1")],
        "source string, ord long, schema_id string, k string",
    )
    # a second uniqueness constraint keeps this on the two-pass path
    plan = compile_schema({
        "$id": "x/a", "primary_key": ["k"],
        "properties": {"k": {"minLength": 1, "unique": True}},
        "foreign_keys": [{"schema_id": "x/a", "members": ["k"]}],
    })
    res = validate_routed(df, {"x/a": plan})
    res.violations.count()
    assert res._persisted  # FK-touched registry etc. are registered
    res.release()
    assert not res._persisted


def test_routed_kernel_persists_nothing(spark):
    """The flat-key FK corpus takes the single-plan kernel: nothing is
    cached, release() is a no-op, and the outputs stay readable after it."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_routed

    df = spark.createDataFrame(
        [("a", 1, "x/a", "k1"), ("b", 2, "x/a", "k1")],
        "source string, ord long, schema_id string, k string",
    )
    plan = compile_schema({
        "$id": "x/a", "primary_key": ["k"],
        "properties": {"k": {"minLength": 1}},
        "foreign_keys": [{"schema_id": "x/a", "members": ["k"]}],
    })
    res = validate_routed(df, {"x/a": plan})
    assert res.wide is not None and res._persisted == []
    before = sorted(map(tuple, res.violations.collect()))
    res.release()
    assert res._persisted == []
    assert sorted(map(tuple, res.violations.collect())) == before
    assert [r[5] for r in before] == ["dup_pk"]  # the reason column


@pytest.mark.parametrize("two_pass", [False, True], ids=["kernel", "two_pass"])
@pytest.mark.parametrize("dup_source", ["x2", None], ids=["source", "null_source"])
def test_dup_failed_doc_skips_fk_probe(spark, two_pass, dup_source):
    """A doc that fails pass 1 on a duplicate key is masked out of the FK
    probes — also when its source is null (the two-pass masks used to be
    plain equi-joins, which never match a null)."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_corpus

    users = spark.createDataFrame([("u1", 1, "a")], "source string, ord long, k string")
    events = spark.createDataFrame(
        [("x1", 2, "e", "a"), (dup_source, 3, "e", "dangling")],
        "source string, ord long, eid string, uid string",
    )
    pu = compile_schema({"$id": "u/1", "primary_key": ["k"]})
    pe = compile_schema({
        "$id": "e/1", "primary_key": ["eid"],
        "properties": {"uid": {"unique": True}} if two_pass else {},
        "foreign_keys": [{"schema_id": "u/1", "members": ["uid"]}],
    })
    res = validate_corpus({"u/1": (pu, users), "e/1": (pe, events)})
    assert (res.wide is None) == two_pass  # the path under test
    got = sorted((r["ord"], r["check_id"], r["reason"]) for r in res.violations.collect())
    assert got == [(3, "pk", "dup_pk")]
    v = {r["ord"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {1: True, 2: True, 3: False}
    res.release()


def test_cascade_uniqueness_caches_released(spark):
    """code-review r4: the fan-out cascade's cached relations ride the
    result and release() drops them."""
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_corpus

    df = spark.createDataFrame(
        [("a", 1, ["k1", "k2"]), ("b", 2, ["k2", "k3"]), ("c", 3, ["k3"])],
        "source string, ord long, ks array<string>",
    )
    plan = compile_schema({
        "$id": "casc/1", "primary_key": ["ks[]"],  # [] = array fan-out keys
        "properties": {"ks": {"items": {"type": "string"}}},
        # the fan-out key forces the two-pass path, where the cascade runs
        "foreign_keys": [{"schema_id": "casc/1", "members": []}],
    })
    from fairtracks_validator_spark.functions.keys import has_array_fanout

    assert has_array_fanout(plan.uniques[0].members)  # cascade path engaged
    res = validate_corpus({"casc/1": (plan, df)})
    res.violations.count()
    # cascade keys + final colliding set ride the release list (plus the
    # generic path's own persists)
    assert len(res._persisted) >= 3
    res.release()


def test_checkpoint_self_referential_fk(spark, tmp_path):
    """code-review r4: an FK targeting the table's own PK must probe the
    frozen registry — not flag every doc with 'no available schema'."""
    from fairtracks_validator_spark.checkpoint import CheckpointedValidation
    from fairtracks_validator_spark.plans.schema_compile import compile_schema

    df = spark.createDataFrame(
        [("u1", 1, "u1", None), ("u2", 2, "u2", "u1"),
         ("u3", 3, "u3", "u1"), ("u4", 4, "u4", "zzz-missing")],
        "url string, ord long, source string, parent_url string",
    )
    plan = compile_schema({
        "$id": "pages/sr", "primary_key": ["url"],
        "properties": {"url": {"minLength": 1},
                       "parent_url": {"minLength": 1}},
        "foreign_keys": [{"schema_id": "pages/sr", "members": ["parent_url"]}],
    })
    cp = CheckpointedValidation(out_dir=str(tmp_path / "cp"), n_partitions=4)
    out = cp.run(df, plan, key_col="url")
    assert len(out["processed"]) == 4
    viol = spark.read.parquet(cp.violations_dir)
    rows = {(r["source"], r["reason"]) for r in viol.collect()}
    # only u4's dangling parent_url fails — and as a missing-key FK
    # violation, not fk_no_schema
    assert all(r[1] != "fk_no_schema" for r in rows)
    assert ("u4", "fk_missing") in rows or any(s == "u4" for s, _ in rows)
    assert not any(s in ("u1", "u2", "u3") for s, _ in rows)


def test_checkpoint_matches_seeded_fresh_run(spark, tmp_path):
    """A checkpointed run, resumed over two calls, writes the verdicts and
    violations of one fresh ``validate_corpus`` run seeded with the same
    external registries: a self-referential FK, a dimension FK with
    misses, and a foreignProperty into a registered dimension that has no
    such constraint (J3, ``fk_no_docs``, not ``fk_no_schema``)."""
    from fairtracks_validator_spark.checkpoint import CheckpointedValidation
    from fairtracks_validator_spark.plans.schema_compile import compile_schema
    from fairtracks_validator_spark.runner import validate_corpus

    df = spark.createDataFrame(
        [("u1", 1, "s1", None, "A", "A"),
         ("u2", 2, "s2", "u1", "B", None),
         ("u3", 3, "s3", "zzz", "Z", None),   # dangling parent, missing code
         ("u2", 4, "s4", None, "A", None),    # dup url
         ("", 5, "s5", "u1", "A", "B"),       # minLength: no probe
         (None, 6, None, "u2", "A", None),    # no key of its own
         ("u7", 7, "s7", "u4", None, "B")],   # dangling parent
        "url string, ord long, source string, parent_url string, "
        "code string, tag string",
    )
    plan = compile_schema({
        "$id": "pages/cp", "primary_key": ["url"],
        "properties": {"url": {"minLength": 1},
                       "tag": {"type": "string", "foreignProperty": "dim/1#code"}},
        "foreign_keys": [{"schema_id": "pages/cp", "members": ["parent_url"]},
                         {"schema_id": "dim/1", "members": ["code"]}],
    })
    extra = {("dim/1", "pk"): spark.createDataFrame(
        [("dim/1", "pk", k, "dim", 0) for k in ('["A"]', '["B"]')],
        "schema_id string, check_id string, key_str string, "
        "first_source string, first_ord long",
    )}
    cp = CheckpointedValidation(out_dir=str(tmp_path / "cp"), n_partitions=4)
    first = cp.run(df, plan, key_col="url", max_partitions=2, extra_registries=extra)
    rest = cp.run(df, plan, key_col="url", extra_registries=extra)
    assert sorted(first["processed"] + rest["processed"]) == [0, 1, 2, 3]

    fresh = validate_corpus({"pages/cp": (plan, df)}, seed_registries=extra)

    def rows_of(d):
        return sorted(map(tuple, d.collect()), key=repr)

    got = spark.read.parquet(cp.violations_dir).drop("part_id")
    assert rows_of(got.select(*fresh.violations.columns)) == rows_of(
        fresh.violations
    )
    got = spark.read.parquet(cp.verdicts_dir).drop("part_id")
    assert rows_of(got.select(*fresh.verdicts.columns)) == rows_of(fresh.verdicts)
    reasons = {(r["source"], r["reason"]) for r in fresh.violations.collect()}
    assert {("s3", "fk_missing"), ("s7", "fk_missing"), ("s4", "dup_pk"),
            ("s1", "fk_no_docs"), ("s5", "schema")} <= reasons
    assert all(reason != "fk_no_schema" for _, reason in reasons)


def test_checkpoint_restores_overwrite_mode(spark, tmp_path):
    """code-review r4: run() must not leave partitionOverwriteMode flipped."""
    from fairtracks_validator_spark.checkpoint import CheckpointedValidation
    from fairtracks_validator_spark.plans.schema_compile import compile_schema

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    df = spark.createDataFrame(
        [("u1", 1, "u1")], "url string, ord long, source string")
    plan = compile_schema({"$id": "pg/m", "primary_key": ["url"],
                           "properties": {"url": {"minLength": 1}}})
    CheckpointedValidation(out_dir=str(tmp_path / "cpm"), n_partitions=2).run(
        df, plan, key_col="url")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_checkpoint_resume_on_uri_out_dir(spark, tmp_path, scheme):
    """A resume finds the completed partitions and the frozen registry
    through the out_dir's Hadoop FileSystem, so a file:// (or hdfs://,
    s3a://) out_dir resumes like a plain path instead of redoing every
    partition and losing every dup_pk."""
    from fairtracks_validator_spark.checkpoint import CheckpointedValidation

    plan = compile_schema({"$id": "pg/uri", "primary_key": ["url"],
                           "properties": {"url": {"minLength": 1}}})
    # 50 distinct urls, then 10 rows re-using earlier ones
    urls = [f"u{i}" for i in range(50)] + [f"u{i}" for i in range(0, 50, 5)]
    df = spark.createDataFrame(
        [(u, i, f"s{i}") for i, u in enumerate(urls)],
        "url string, ord long, source string",
    )
    cp = CheckpointedValidation(out_dir=scheme + str(tmp_path / "cp"), n_partitions=4)
    assert cp.run(df, plan, key_col="url", max_partitions=2)["processed"] == [0, 1]
    out = cp.run(df, plan, key_col="url")
    assert (out["processed"], out["skipped"]) == ([2, 3], [0, 1])
    assert cp.completed_partitions(spark) == [0, 1, 2, 3]
    viol = spark.read.parquet(cp.violations_dir)
    assert viol.where(F.col("reason") == "dup_pk").count() == 10
