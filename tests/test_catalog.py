"""S1-S4 sources: schema dir scan, JSON corpus read, routing, PK seeds,
additionalProperties (P6) — against the reference's own test-data files."""

from __future__ import annotations

import json
import warnings

import pytest
from pyspark.sql import functions as F

from fairtracks_validator_spark.operators.checks import additional_properties_check
from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import validate_corpus
from fairtracks_validator_spark.sources.catalog import (
    load_schemas,
    read_json_corpus,
    route_corpus,
    schema_id_column,
    seed_pk_registry,
)

from conftest import rows_set

REF_TD = "/root/reference/test-data"


def test_load_schemas_from_reference_testdata():
    schemas = load_schemas(f"{REF_TD}/unique_simple", f"{REF_TD}/compound_pk")
    assert "unique_example/0.1" in json.dumps(list(schemas)) or len(schemas) >= 2
    # every loaded schema has an id and parses
    for sid, s in schemas.items():
        assert (s.get("$id") or s.get("id")) == sid


def test_load_schemas_duplicate_id_warns(tmp_path):
    (tmp_path / "a.json").write_text(json.dumps({"$id": "x/1", "properties": {}}))
    (tmp_path / "b.json").write_text(json.dumps({"$id": "x/1", "properties": {"q": {}}}))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        schemas = load_schemas(str(tmp_path))
    assert len(schemas) == 1 and any("repeated schema id" in str(x.message) for x in w)


def test_read_json_corpus_from_reference(spark):
    df = read_json_corpus(spark, f"{REF_TD}/unique_simple/good_validation")
    rows = df.collect()
    assert len(rows) == 3
    assert all(r["source"].endswith(".json") for r in rows)
    assert sorted(r["ord"] for r in rows) == [1, 2, 3]
    # discriminator extraction (the docs carry _schema)
    ids = {r[0] for r in df.select(schema_id_column(df)).collect()}
    assert len(ids) == 1 and "unique" in next(iter(ids))


def test_load_schemas_meta_validation_skips_invalid(tmp_path):
    """Invalid schemas are warned about and not registered (≙ the reference
    load stats: UnsupportedSchemaException / ValidationException at
    ValidatedJSONSchema.java:250-262)."""
    import json
    import warnings

    (tmp_path / "bad_draft.json").write_text(json.dumps(
        {"$id": "bd/1", "$schema": "http://json-schema.org/draft-99/schema#"}))
    (tmp_path / "bad_type.json").write_text(json.dumps(
        {"$id": "bt/1", "properties": {"v": {"type": 123}}}))
    (tmp_path / "ok.json").write_text(json.dumps(
        {"$id": "ok/1", "$schema": "http://json-schema.org/draft-07/schema#",
         "properties": {"v": {"type": "string"}}}))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        schemas = load_schemas(str(tmp_path))
    assert set(schemas) == {"ok/1"}
    msgs = [str(x.message) for x in w]
    assert sum("meta-schema validation" in m for m in msgs) == 2
    assert any("unsupported meta-schema" in m for m in msgs)


def test_read_json_corpus_jsonl_ord_deterministic(spark, tmp_path):
    """JSON-lines corpora get a dense deterministic ord: files in
    lexicographic order, rows in file order (ADVICE r1: ties on source used
    to be nondeterministic)."""
    (tmp_path / "b.jsonl.json").write_text('{"x": 10}\n{"x": 20}\n')
    (tmp_path / "a.jsonl.json").write_text('{"x": 1}\n{"x": 2}\n{"x": 3}\n')
    df = read_json_corpus(spark, str(tmp_path), multiline=False)
    got = [(r["source"].split("/")[-1], r["x"]) for r in df.orderBy("ord").collect()]
    assert got == [
        ("a.jsonl.json", 1), ("a.jsonl.json", 2), ("a.jsonl.json", 3),
        ("b.jsonl.json", 10), ("b.jsonl.json", 20),
    ]
    assert [r["ord"] for r in df.orderBy("ord").collect()] == [1, 2, 3, 4, 5]
    # stable across re-reads
    df2 = read_json_corpus(spark, str(tmp_path), multiline=False)
    assert df.orderBy("ord").collect() == df2.orderBy("ord").collect()


def test_read_json_corpus_no_global_window(spark, tmp_path):
    """Corpus ingestion must not funnel the corpus through one partition:
    no single-partition exchange anywhere in the plan (VERDICT r1 item 8)."""
    (tmp_path / "a.json").write_text('{"x": 1}')
    (tmp_path / "b.json").write_text('{"x": 2}')
    df = read_json_corpus(spark, str(tmp_path))
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in txt, txt


def test_read_json_corpus_corrupt_record(spark, tmp_path):
    (tmp_path / "ok.json").write_text('{"a": 1}')
    (tmp_path / "bad.json").write_text('{"a": ')
    df = read_json_corpus(spark, str(tmp_path), schema_ddl="a INT")
    got = {r["source"].split("/")[-1]: r["_corrupt_record"] for r in df.collect()}
    assert got["ok.json"] is None and got["bad.json"] is not None


def test_route_corpus_with_orphans(spark):
    df = spark.createDataFrame(
        [("s1", 1, "known/1", "x"), ("s2", 2, "unknown/9", "y"), ("s3", 3, None, "z")],
        "source STRING, ord INT, schema_id STRING, v STRING",
    )
    plan = compile_schema({"$id": "known/1", "properties": {"v": {"type": "string"}}})
    corpus, orphans = route_corpus(df, {"known/1": plan})
    assert corpus["known/1"][1].count() == 1
    got = rows_set(orphans, ["source", "description"])
    assert got == {
        ("s2", "Skipping schema validation (schema with URI unknown/9 not found)"),
        ("s3", "Skipping schema validation (schema with URI null not found)"),
    }


def test_validate_routed_orphans_in_verdicts(spark):
    """Orphan docs must appear in the verdicts relation with
    status='ignored' so the run counts (sink_observed) count every document
    (FairGTrackValidatorCli.java:227-233; VERDICT r1 missing #4/#5)."""
    from fairtracks_validator_spark.runner import sink_observed, validate_routed

    df = spark.createDataFrame(
        [("s1", 1, "known/1", "x"), ("s2", 2, "unknown/9", "y"),
         ("s3", 3, None, "z"), ("s4", 4, "known/1", None)],
        "source STRING, ord INT, schema_id STRING, v STRING",
    )
    plan = compile_schema({"$id": "known/1", "required": ["v"],
                           "properties": {"v": {"type": "string"}}})
    res = validate_routed(df, {"known/1": plan})
    got = {(r["source"], r["validated"], r["status"]) for r in res.verdicts.collect()}
    assert got == {
        ("s1", True, "ok"),
        ("s2", False, "ignored"),
        ("s3", False, "ignored"),
        ("s4", False, "failed"),
    }
    s = sink_observed(res)
    assert s == {"docs": 4, "failed_docs": 1, "ignored_docs": 2, "violations": 3}


def test_seed_pk_registry_union(spark, tmp_path):
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("# comment\nuno\nseeded_key\n\n")
    seed = seed_pk_registry(spark, str(seeds), "unique_example/1.0", "u_local_id")

    target_schema = {"$id": "unique_example/1.0",
                     "properties": {"local_id": {"type": "string", "unique": True}}}
    ref_schema = {"$id": "fp/1.0", "properties": {
        "r": {"type": "string", "foreignProperty": "unique_example/1.0#local_id"}}}
    docs = spark.createDataFrame([("uno", 1, "uno")], "source STRING, ord INT, local_id STRING")
    refs = spark.createDataFrame(
        [("r1", 1, "uno"), ("r2", 2, "seeded_key"), ("r3", 3, "missing")],
        "source STRING, ord INT, r STRING")
    res = validate_corpus(
        {"unique_example/1.0": (compile_schema(target_schema), docs),
         "fp/1.0": (compile_schema(ref_schema), refs)},
        seed_registries={("unique_example/1.0", "u_local_id"): seed},
    )
    viol = rows_set(res.violations, ["source", "key_str"])
    # r2 matches the SEEDED key; only r3 fails
    assert viol == {("r3", '["missing"]')}


def test_additional_properties_map_encoding(spark):
    df = spark.createDataFrame(
        [("ok", 1, {"a": "1", "b": "2"}), ("bad", 2, {"a": "1", "zz": "3"})],
        "source STRING, ord INT, extra MAP<STRING,STRING>",
    )
    chk = additional_properties_check("extra", ["a", "b"])
    out = df.select("source", chk.ok.alias("ok"), chk.message.alias("msg")).collect()
    got = {r["source"]: (r["ok"], r["msg"]) for r in out}
    assert got["ok"][0] is True
    assert got["bad"][0] is False and "zz" in got["bad"][1]

    # compile path: x-encoding map marker
    plan = compile_schema({"$id": "m/1", "properties": {
        "extra": {"type": "object", "additionalProperties": False,
                  "x-encoding": "map", "properties": {"a": {}, "b": {}}}}})
    res = validate_corpus({"m/1": (plan, df)})
    assert rows_set(res.violations, ["source", "check_id"]) == {
        ("bad", "additionalProperties:extra")}


def test_load_schemas_non_object_json_skipped(tmp_path):
    """code-review r4: '[]' is valid JSON but not a schema object — warn
    and continue, don't AttributeError the whole scan."""
    import json as _json

    (tmp_path / "stray.json").write_text("[1, 2, 3]")
    (tmp_path / "good.json").write_text(_json.dumps({"$id": "g/1"}))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        schemas = load_schemas(str(tmp_path))
    assert set(schemas) == {"g/1"}
    assert any("not a JSON object" in str(x.message) for x in w)


def test_dims_empty_overrides_stay_empty(spark):
    """code-review r4: an explicitly empty snapshot/row list models an
    empty registry/ontology — it must not fall back to the fixture."""
    from fairtracks_validator_spark.sources.dims import (
        ancestors_dim,
        namespaces_dim,
        terms_dim,
    )

    assert namespaces_dim(spark, {}).count() == 0
    assert terms_dim(spark, []).count() == 0
    assert ancestors_dim(spark, []).count() == 0
    assert namespaces_dim(spark).count() > 0  # default fixture intact
