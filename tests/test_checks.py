"""F7 — scalar keyword checks + curie/term formats (FIXTURES.md F7).

The good/bad fairtracks_simple examples differ in exactly two fields
(reference diff, examples lines 15/37): an invalid ORCID curie and a term IRI
outside NCIT.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from fairtracks_validator_spark.operators import checks as C
from fairtracks_validator_spark.plans.schema_compile import Dims, compile_schema
from fairtracks_validator_spark.runner import validate_corpus
from fairtracks_validator_spark.sources.dims import (
    NAMESPACES_SNAPSHOT,
    ancestors_dim,
    terms_dim,
)

from conftest import rows_set

ORCID_OK = "orcid:0000-0002-9103-1077"
NCIT_OK = "http://purl.obolibrary.org/obo/NCIT_C48660"
NCIT_BAD = "https://ncim.nci.nih.gov/ncimbrowser/ConceptReport.jsp?code=C1272460"


def _schema(dims):
    return compile_schema(
        {
            "$id": "fairtracks_simple/1.0",
            "type": "object",
            "required": ["contact_orcid_id"],
            "properties": {
                "contact_orcid_id": {
                    "type": "string",
                    "format": "curie",
                    "matchType": "canonical",
                    "namespace": "orcid",
                },
                "disease_url": {
                    "type": "string",
                    "format": "term",
                    "matchType": "exact",
                    "ontology": "ncit",
                },
                "exp_metadata_version": {"type": "string", "pattern": "^v[0-9]+$"},
            },
        },
        dims=dims,
    )


@pytest.fixture(scope="module")
def dims(spark):
    return Dims(
        namespaces=NAMESPACES_SNAPSHOT,
        terms=terms_dim(spark),
        ancestors=ancestors_dim(spark),
    )


F7_SCHEMA_DDL = (
    "source STRING, ord INT, contact_orcid_id STRING, disease_url STRING, "
    "exp_metadata_version STRING"
)


def test_f7_good_vs_bad(spark, dims):
    rows = [
        ("works", 1, ORCID_OK, NCIT_OK, "v1"),
        ("fails", 2, "This is not an ORCID", NCIT_BAD, "v1"),
    ]
    plan = _schema(dims)
    res = validate_corpus({"fairtracks_simple/1.0": (plan, spark.createDataFrame(rows, F7_SCHEMA_DDL))})
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {
        ("fails", "format:curie:contact_orcid_id"),
        ("fails", "format:term:disease_url"),
    }
    verdicts = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert verdicts == {"works": True, "fails": False}


def test_curie_matchtype_matrix(spark, dims):
    """CurieFormat.java:127-205 branch matrix."""
    plan_loose = compile_schema(
        {"$id": "m/1", "properties": {"v": {"format": "curie", "matchType": "loose",
                                            "namespace": "orcid"}}}, dims)
    rows = [
        ("bare_ok", 1, "0000-0002-9103-1077"),      # loose: bare value matches pattern
        ("bare_bad", 2, "not-an-orcid"),            # loose: no match
        ("promoted_ok", 3, ORCID_OK),               # scheme ⇒ promoted to canonical
        ("promoted_bad", 4, "pubmed:123"),          # promoted; ns not in declared list
    ]
    df = spark.createDataFrame(rows, "source STRING, ord INT, v STRING")
    res = validate_corpus({"m/1": (plan_loose, df)})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {"bare_ok": True, "bare_bad": False, "promoted_ok": True, "promoted_bad": False}


def test_curie_basic_and_canonical(spark, dims):
    plan_basic = compile_schema(
        {"$id": "b/1", "properties": {"v": {"format": "curie", "matchType": "basic",
                                            "namespace": ["orcid", "pubmed"]}}}, dims)
    rows = [("ok", 1, "orcid:anything-goes"), ("bad", 2, "doi:10.1000/x")]
    res = validate_corpus({"b/1": (plan_basic, spark.createDataFrame(
        rows, "source STRING, ord INT, v STRING"))})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    # basic: prefix-in-list only, no pattern check (CurieFormat.java:142-149)
    assert v == {"ok": True, "bad": False}

    plan_canon = compile_schema(
        {"$id": "c/1", "properties": {"v": {"format": "curie", "matchType": "canonical",
                                            "namespace": "orcid"}}}, dims)
    rows = [
        ("no_prefix", 1, "0000-0002-9103-1077"),  # canonical requires prefix
        ("ok", 2, ORCID_OK),
        ("bad_suffix", 3, "orcid:12345"),
    ]
    res = validate_corpus({"c/1": (plan_canon, spark.createDataFrame(
        rows, "source STRING, ord INT, v STRING"))})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {"no_prefix": False, "ok": True, "bad_suffix": False}


def test_term_label_and_ancestors(spark, dims):
    plan = compile_schema(
        {"$id": "t/1", "properties": {
            "lbl": {"format": "term", "matchType": "label", "ontology": "ncit"},
            "anc": {"format": "term", "matchType": "exact", "ontology": "ncit",
                    "ancestors": "http://purl.obolibrary.org/obo/NCIT_C18000"},
        }}, dims)
    rows = [
        ("ok", 1, "Grade 2", NCIT_OK),              # label hit; C48660 under C18000
        ("bad_lbl", 2, "Grade 99", NCIT_OK),        # label miss
        ("bad_anc", 3, "Grade 1",                    # Neoplasm not under Grading
         "http://purl.obolibrary.org/obo/NCIT_C3262"),
    ]
    res = validate_corpus({"t/1": (plan, spark.createDataFrame(
        rows, "source STRING, ord INT, lbl STRING, anc STRING"))})
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {
        ("bad_lbl", "format:term:lbl"),
        ("bad_anc", "format:term:anc"),
    }


def test_term_suffix(spark, dims):
    plan = compile_schema(
        {"$id": "s/1", "properties": {
            "v": {"format": "term", "matchType": "suffix", "ontology": "ncit"}}}, dims)
    rows = [("ok", 1, "NCIT_C48660"), ("bad", 2, "NCIT_C99999")]
    res = validate_corpus({"s/1": (plan, spark.createDataFrame(
        rows, "source STRING, ord INT, v STRING"))})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {"ok": True, "bad": False}


def test_term_join_path_matches_folded(spark, dims):
    """The broadcast-join form (big-dim fallback) must agree with the folded
    form on every matchType; fold is forced off via Dims.fold_term_dims."""
    from dataclasses import replace

    join_dims = replace(dims, fold_term_dims=False)
    schema = {"$id": "t2/1", "properties": {
        "ex": {"format": "term", "matchType": "exact", "ontology": "ncit"},
        "lbl": {"format": "term", "matchType": "label", "ontology": "ncit"},
        "sfx": {"format": "term", "matchType": "suffix", "ontology": "ncit"},
    }}
    rows = [
        ("r1", 1, NCIT_OK, "Grade 2", "NCIT_C48660"),
        ("r2", 2, NCIT_BAD, "Grade 99", "NCIT_C99999"),
        ("r3", 3, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "source STRING, ord INT, ex STRING, lbl STRING, sfx STRING")

    folded_plan = compile_schema(schema, dims)
    join_plan = compile_schema(schema, join_dims)
    assert not folded_plan.join_checks and len(folded_plan.checks) >= 3
    assert len(join_plan.join_checks) == 3

    v_folded = rows_set(
        validate_corpus({"t2/1": (folded_plan, df)}).violations,
        ["source", "check_id"])
    v_join = rows_set(
        validate_corpus({"t2/1": (join_plan, df)}).violations,
        ["source", "check_id"])
    assert v_folded == v_join == {
        ("r2", "format:term:ex"),
        ("r2", "format:term:lbl"),
        ("r2", "format:term:sfx"),
    }


def test_term_folded_zero_shuffles(spark, dims):
    """Folded term checks add ZERO shuffles: the whole violations plan for a
    term-bearing schema is exchange-free (VERDICT r1 item 3)."""
    plan = _schema(dims)
    assert not plan.join_checks  # both formats folded to pure expressions
    rows = [("works", 1, ORCID_OK, NCIT_OK, "v1")]
    res = validate_corpus({"fairtracks_simple/1.0": (
        plan, spark.createDataFrame(rows, F7_SCHEMA_DDL))})
    txt = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in txt, txt


def test_curie_lookup_by_mir_id(spark, dims):
    """CurieCache.get matches namespace OR id (CurieCache.java:108-115): a
    schema declaring its namespace as a MIR id must resolve the pattern."""
    from dataclasses import replace

    from fairtracks_validator_spark.sources.dims import namespace_mir_ids

    mir_dims = replace(dims, namespace_ids=namespace_mir_ids())
    # MIR:00000000 is the orcid row in the snapshot
    plan = compile_schema(
        {"$id": "mir/1", "properties": {"v": {"format": "curie", "matchType": "loose",
                                              "namespace": "MIR:00000000"}}}, mir_dims)
    rows = [("ok", 1, "0000-0002-9103-1077"), ("bad", 2, "not-an-orcid")]
    res = validate_corpus({"mir/1": (plan, spark.createDataFrame(
        rows, "source STRING, ord INT, v STRING"))})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {"ok": True, "bad": False}

    # without namespace_ids the same schema finds nothing in the registry
    plan_no_ids = compile_schema(
        {"$id": "mir/2", "properties": {"v": {"format": "curie", "matchType": "loose",
                                              "namespace": "MIR:00000000"}}}, dims)
    res2 = validate_corpus({"mir/2": (plan_no_ids, spark.createDataFrame(
        rows, "source STRING, ord INT, v STRING"))})
    v2 = {r["source"]: r["validated"] for r in res2.verdicts.collect()}
    assert v2 == {"ok": False, "bad": False}


def test_join_checks_with_custom_source_col(spark, dims):
    """Non-default source/ord column names through the join-check masking
    path (regression: pass-1 anti-join used to raise AnalysisException)."""
    from dataclasses import replace

    join_dims = replace(dims, fold_term_dims=False)
    plan = compile_schema(
        {"$id": "cs/1", "primary_key": ["v"], "properties": {
            "v": {"format": "term", "matchType": "exact", "ontology": "ncit"}}},
        join_dims)
    assert plan.join_checks
    rows = [("u1", 1, NCIT_OK), ("u2", 2, NCIT_BAD), ("u3", 3, NCIT_OK)]
    df = spark.createDataFrame(rows, "url STRING, page_id INT, v STRING")
    res = validate_corpus({"cs/1": (plan, df)}, source_col="url", ord_col="page_id")
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {("u2", "format:term:v"), ("u3", "pk")}


def test_draft7_keywords(spark):
    """$ref / anyOf / oneOf / allOf / not / multipleOf / min-max-uniqueItems
    (everit handles these in the reference via the draft-07 meta-schema,
    ValidatedJSONSchema.java:318-329)."""
    schema = {
        "$id": "d7/1",
        "definitions": {"small": {"maximum": 10}},
        "properties": {
            "n": {"multipleOf": 3},
            "m": {"anyOf": [{"maximum": 5}, {"minimum": 100}]},
            "o": {"oneOf": [{"multipleOf": 2}, {"multipleOf": 3}]},
            "x": {"not": {"const": "bad"}},
            "r": {"$ref": "#/definitions/small"},
            "tags": {"uniqueItems": True, "minItems": 2, "maxItems": 3},
        },
    }
    plan = compile_schema(schema)
    rows = [
        # source, ord, n, m, o, x, r, tags
        ("ok", 1, 9, 3, 4, "good", 5, ["a", "b"]),
        ("bad_multiple", 2, 10, 150, 9, "good", 5, ["a", "b"]),
        ("bad_anyof", 3, 9, 50, 4, "good", 5, ["a", "b"]),
        ("bad_oneof_both", 4, 9, 3, 6, "good", 5, ["a", "b"]),
        ("bad_oneof_neither", 5, 9, 3, 5, "good", 5, ["a", "b"]),
        ("bad_not", 6, 9, 3, 4, "bad", 5, ["a", "b"]),
        ("bad_ref", 7, 9, 3, 4, "good", 20, ["a", "b"]),
        ("bad_unique_items", 8, 9, 3, 4, "good", 5, ["a", "a"]),
        ("bad_min_items", 9, 9, 3, 4, "good", 5, ["a"]),
        ("bad_max_items", 10, 9, 3, 4, "good", 5, ["a", "b", "c", "d"]),
        ("ok_nulls", 11, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "source STRING, ord INT, n LONG, m LONG, o LONG, x STRING, r LONG, "
        "tags ARRAY<STRING>",
    )
    res = validate_corpus({"d7/1": (plan, df)})
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {
        ("bad_multiple", "multipleOf:n"),
        ("bad_anyof", "anyOf:m"),
        ("bad_oneof_both", "oneOf:o"),
        ("bad_oneof_neither", "oneOf:o"),
        ("bad_not", "not:x"),
        ("bad_ref", "maximum:r"),
        ("bad_unique_items", "uniqueItems:tags"),
        ("bad_min_items", "minItems:tags"),
        ("bad_max_items", "maxItems:tags"),
    }
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v["ok"] and v["ok_nulls"] and not v["bad_ref"]


def test_ref_cycle_and_unknown_keyword_warn(spark):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        compile_schema({
            "$id": "warnme/1",
            "definitions": {"loop": {"$ref": "#/definitions/loop"}},
            "properties": {
                "a": {"$ref": "#/definitions/loop"},
                "b": {"$ref": "#/definitions/missing"},
                "c": {"type": "string", "patternProperties": {"^x": {}}},
            },
        })
    msgs = [str(x.message) for x in w]
    assert any("cyclic $ref" in m for m in msgs)
    assert any("unresolvable $ref" in m for m in msgs)
    assert any("patternProperties" in m and "not enforced" in m for m in msgs)


def test_cross_document_ref(spark):
    """Cross-document $ref through the loaded-schema registry (r4): absolute
    id#pointer refs, relative document refs (RFC 3986 join against the
    referrer's $id), whole-document refs, and internal refs INSIDE the
    referenced document that must keep resolving against their owner."""
    common = {
        "$id": "https://x.org/schemas/common.json",
        "definitions": {
            "shortname": {"$ref": "#/definitions/name"},  # internal hop
            "name": {"minLength": 3, "maxLength": 8},
        },
        "properties": {"code": {"pattern": "^C"}},
    }
    main = {
        "$id": "https://x.org/schemas/main.json",
        "properties": {
            # absolute cross-document ref, with an internal hop inside common
            "a": {"$ref": "https://x.org/schemas/common.json#/definitions/shortname"},
            # relative document ref, resolved against main's $id
            "b": {"$ref": "common.json#/definitions/name"},
            # whole-document ref: common's properties apply under obj
            "obj": {"$ref": "common.json"},
        },
    }
    registry = {s["$id"]: s for s in (common, main)}
    plan = compile_schema(main, registry=registry)
    rows = [
        ("ok", 1, "abc", "abcd", ("C1",)),
        ("bad_a", 2, "ab", "abcd", ("C1",)),
        ("bad_b", 3, "abc", "toolongname", ("C1",)),
        ("bad_obj", 4, "abc", "abcd", ("X1",)),
        ("ok_nulls", 5, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "source STRING, ord INT, a STRING, b STRING, obj STRUCT<code:STRING>"
    )
    res = validate_corpus({main["$id"]: (plan, df)})
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {
        ("bad_a", "minLength:a"),
        ("bad_b", "maxLength:b"),
        ("bad_obj", "pattern:obj.code"),
    }


def test_cross_document_ref_without_registry_warns(spark):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        plan = compile_schema({
            "$id": "lonely/1",
            "properties": {"a": {"$ref": "https://elsewhere/s.json#/definitions/x"}},
        })
    assert any("unresolvable $ref" in str(x.message) for x in w)
    assert plan.checks == []


def test_if_then_else_and_contains(spark):
    plan = compile_schema({
        "$id": "cond/1",
        "properties": {
            # if the value starts with 'e', it must be exactly 'en'
            "lang": {"if": {"pattern": "^e"}, "then": {"const": "en"},
                     "else": {"minLength": 2}},
            # at least one tag must start with 't'
            "tags": {"contains": {"pattern": "^t"}},
        },
    })
    rows = [
        ("ok_then", 1, "en", ["two", "x"]),
        ("bad_then", 2, "es", ["two", "x"]),
        ("ok_else", 3, "fr", ["two", "x"]),
        ("bad_else", 4, "f", ["two", "x"]),
        ("bad_contains", 5, "en", ["no", "match"]),
        ("ok_nulls", 6, None, None),
    ]
    df = spark.createDataFrame(
        rows, "source STRING, ord INT, lang STRING, tags ARRAY<STRING>")
    res = validate_corpus({"cond/1": (plan, df)})
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {
        ("bad_then", "ifThenElse:lang"),
        ("bad_else", "ifThenElse:lang"),
        ("bad_contains", "contains:tags"),
    }

    # contains with non-scalar subschema warns instead of mis-compiling
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        compile_schema({"$id": "cond/2", "properties": {
            "tags": {"contains": {"properties": {"x": {}}}}}})
    assert any("beyond the scalar set" in str(x.message) for x in w)


def test_exclusive_bounds_both_draft_forms(spark):
    """draft-04 boolean exclusiveMinimum/Maximum (modifier) and draft-06+
    numeric form both compile."""
    plan = compile_schema({"$id": "ex/1", "properties": {
        "v": {"minimum": 5, "exclusiveMinimum": True},
        "w": {"maximum": 10, "exclusiveMaximum": True},
        "x": {"exclusiveMinimum": 5},
    }})
    rows = [
        ("ok", 1, 6, 9, 6),
        ("at_min", 2, 5, 9, 6),     # v == 5 fails (exclusive)
        ("at_max", 3, 6, 10, 6),    # w == 10 fails (exclusive)
        ("x_at", 4, 6, 9, 5),       # x == 5 fails (numeric exclusive form)
    ]
    df = spark.createDataFrame(rows, "source STRING, ord INT, v LONG, w LONG, x LONG")
    res = validate_corpus({"ex/1": (plan, df)})
    viol = rows_set(res.violations, ["source", "check_id"])
    assert viol == {
        ("at_min", "minimum:v"),
        ("at_max", "maximum:w"),
        ("x_at", "minimum:x"),
    }


def test_compile_schema_rejects_invalid_meta():
    from fairtracks_validator_spark.plans.schema_compile import SchemaValidationError

    with pytest.raises(SchemaValidationError, match="pattern"):
        compile_schema({"$id": "x/1", "properties": {"v": {"pattern": "("}}})
    with pytest.raises(SchemaValidationError, match="meta-schema"):
        compile_schema({"$id": "x/2",
                        "$schema": "http://json-schema.org/draft-99/schema#"})
    with pytest.raises(SchemaValidationError, match="type"):
        compile_schema({"$id": "x/3", "properties": {"v": {"type": 123}}})


def test_core_keywords(spark):
    plan = compile_schema({
        "$id": "k/1",
        "required": ["name"],
        "properties": {
            "name": {"type": "string", "minLength": 2, "maxLength": 5},
            "status": {"enum": ["on", "off"]},
            "version": {"const": "1.0"},
            "n": {"type": "integer", "minimum": 0, "maximum": 10},
            "web": {"format": "uri"},
            "code": {"pattern": "[A-Z]{3}"},
        },
    })
    ddl = ("source STRING, ord INT, name STRING, status STRING, version STRING, "
           "n INT, web STRING, code STRING")
    rows = [
        ("ok", 1, "abc", "on", "1.0", 5, "https://x.org/a", "xxABCyy"),
        ("bad_req", 2, None, "on", "1.0", 5, "https://x.org", "ABC"),
        ("bad_enum", 3, "abc", "ON", "1.0", 5, "https://x.org", "ABC"),
        ("bad_const", 4, "abc", "on", "2.0", 5, "https://x.org", "ABC"),
        ("bad_range", 5, "abc", "on", "1.0", 11, "https://x.org", "ABC"),
        ("bad_uri", 6, "abc", "on", "1.0", 5, "not a uri", "ABC"),
        ("bad_pat", 7, "abc", "on", "1.0", 5, "https://x.org", "abc"),
        ("bad_len", 8, "toolongname", "on", "1.0", 5, "https://x.org", "ABC"),
    ]
    res = validate_corpus({"k/1": (plan, plan_df(rows, ddl))})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v["ok"] is True
    for s in ["bad_req", "bad_enum", "bad_const", "bad_range", "bad_uri", "bad_pat", "bad_len"]:
        assert v[s] is False, s
    checks = rows_set(res.violations, ["source", "check_id"])
    assert ("bad_req", "required:name") in checks
    assert ("bad_pat", "pattern:code") in checks


def plan_df(rows, ddl):
    from fairtracks_validator_spark.session import get_spark
    return get_spark().createDataFrame(rows, ddl)


def test_malformed_unique_warns(spark):
    """unique: 18 / unique: ["a",42,"c"] ignored with a warning
    (unique_schema_wrong.json:15,20; ValidatedJSONSchema.java:280-291)."""
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        plan = compile_schema({
            "$id": "w/1",
            "unique": ["a", 42, "c"],
            "properties": {"x": {"unique": 18}},
        })
    assert plan.uniques == []
    assert len(w) == 2


def test_curie_mir_id_declaration_with_prefixed_values(spark, dims):
    """code-review r4: a MIR-id namespace declaration must accept PREFIXED
    values in canonical mode — the extracted prefix is 'orcid', never the
    MIR id itself."""
    from dataclasses import replace

    from fairtracks_validator_spark.sources.dims import namespace_mir_ids

    mir_dims = replace(dims, namespace_ids=namespace_mir_ids())
    plan = compile_schema(
        {"$id": "mir/3", "properties": {"v": {
            "format": "curie", "matchType": "canonical",
            "namespace": "MIR:00000000"}}}, mir_dims)
    rows = [("ok", 1, "orcid:0000-0002-9103-1077"),
            ("bad_ns", 2, "pubmed:123"),
            ("bad_val", 3, "orcid:nope")]
    res = validate_corpus({"mir/3": (plan, spark.createDataFrame(
        rows, "source STRING, ord INT, v STRING"))})
    v = {r["source"]: r["validated"] for r in res.verdicts.collect()}
    assert v == {"ok": True, "bad_ns": False, "bad_val": False}


def test_combinators_at_fanout_paths_apply_per_element(spark):
    """code-review r4: anyOf/oneOf at a[].x validate EACH element against
    the combinator — a heterogeneous array where every element matches some
    branch is valid (the old whole-array branch fold false-failed it)."""
    df = spark.createDataFrame(
        [(1, [("1",), ("abc",)]), (2, [("!!",), ("3",)]), (3, None), (4, [])],
        "ord long, a array<struct<x:string>>",
    ).withColumn("source", F.col("ord").cast("string"))
    p = compile_schema({"$id": "fo/1", "properties": {"a": {"items": {
        "properties": {"x": {"anyOf": [{"type": "integer"},
                                       {"pattern": "^[a-z]+$"}]}}}}}})
    ok = C.checks_pass_predicate(p.checks)
    got = {r["ord"]: r["ok"] for r in df.select("ord", ok.alias("ok")).collect()}
    assert got == {1: True, 2: False, 3: True, 4: True}

    # oneOf: an element matching BOTH branches fails exactly-one
    p2 = compile_schema({"$id": "fo/2", "properties": {"a": {"items": {
        "properties": {"x": {"oneOf": [{"pattern": "^[0-9]+$"},
                                       {"pattern": "^1"}]}}}}}})
    ok2 = C.checks_pass_predicate(p2.checks)
    df2 = spark.createDataFrame(
        [(1, [("23",)]), (2, [("1",)])], "ord long, a array<struct<x:string>>")
    got2 = {r["ord"]: r["ok"] for r in df2.select("ord", ok2.alias("ok")).collect()}
    assert got2 == {1: True, 2: False}

    # non-scalar branches at fan-out warn instead of mis-checking
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        compile_schema({"$id": "fo/3", "properties": {"a": {"items": {
            "properties": {"x": {"anyOf": [{"required": ["y"]}]}}}}}})
    assert any("beyond the scalar set" in str(x.message) for x in w)


def test_element_pred_ansi_and_decimal(spark):
    """code-review r4: contains/items element predicates use try_cast (no
    ANSI crash on non-numeric) and exact decimal multipleOf."""
    df = spark.createDataFrame(
        [(1, ["abc", "7"]), (2, ["9"]), (3, ["0.3"])],
        "ord long, a array<string>",
    )
    p1 = compile_schema({"$id": "ep/1", "properties": {"a": {"contains": {"minimum": 8}}}})
    ok = C.checks_pass_predicate(p1.checks)
    got = {r["ord"]: r["ok"] for r in df.select("ord", ok.alias("ok")).collect()}
    assert got == {1: False, 2: True, 3: False}
    p2 = compile_schema({"$id": "ep/2", "properties": {"a": {"contains": {"multipleOf": 0.1}}}})
    ok2 = C.checks_pass_predicate(p2.checks)
    got2 = {r["ord"]: r["ok"] for r in df.select("ord", ok2.alias("ok")).collect()}
    assert got2 == {1: True, 2: True, 3: True}


def test_percent_in_schema_values_does_not_crash_messages(spark):
    """code-review r4: '%' in patterns/const/enum/namespaces must render in
    violation messages, not throw UnknownFormatConversionException."""
    p = compile_schema({"$id": "pct/1", "properties": {
        "s": {"pattern": "^%[0-9A-F]{2}", "enum": ["%4A", "%FF"],
              "const": "%4A"}}})
    df = spark.createDataFrame(
        [("a", 1, "%4A"), ("b", 2, "nope")],
        "source string, ord long, s string")
    res = validate_corpus({"pct/1": (p, df)})
    descs = [r["description"] for r in res.violations.collect()]
    assert descs and all("%" in d for d in descs)


# values for the byte-bounded length helpers: lengths 0..13 of 1-, 2-, 3- and
# 4-byte characters, mixes, and invalid UTF-8 (a binary cast to string),
# where Spark counts an invalid first byte as one character
_UTF8_CHARS = ["61", "C3A9", "E4B8AD", "F09F9880"]  # a, é, 中, 😀
_INVALID = ["C3", "80", "C0", "ED", "F0", "F4", *[f"{b:02X}" for b in range(0xF5, 0x100)]]
_LENGTH_HEX = (
    [None, ""]
    + [c * k for c in _UTF8_CHARS + _INVALID for k in range(0, 14)]
    + ["".join(_UTF8_CHARS) * k for k in range(1, 5)]
    + ["F0" + "61" * k for k in range(0, 5)]
    + ["C3" + "F09F9880" * k + "80" for k in range(0, 5)]
)


@pytest.fixture(scope="module")
def length_values(spark):
    """(i, v, a, b): v = one value; a = v in a three-element array with a
    null and an ASCII neighbour (helpers inside a HOF lambda); b = v with a
    null (checks at a nested-array path, where v alone decides)."""
    v = F.unhex("h").cast("string")
    return spark.createDataFrame(
        list(enumerate(_LENGTH_HEX)), "i int, h string"
    ).select(
        "i", v.alias("v"),
        F.array(v, F.lit(None).cast("string"), F.lit("ab")).alias("a"),
        F.array(v, F.lit(None).cast("string")).alias("b"),
    )


def test_char_length_helpers_match_length(spark, length_values):
    """char_length_at_least/at_most equal length(v) >= n / <= n, nulls
    included, for n in 0..12 on a flat column and inside a HOF lambda."""
    # every lambda is called while its Column is built, inside the loop, so
    # it reads this iteration's n (a default argument would change the
    # lambda's arity for F.transform)
    for n in range(13):
        cols = ["i"]
        for name, helper, ref in (
            ("ge", C.char_length_at_least, lambda x: F.length(x) >= n),
            ("le", C.char_length_at_most, lambda x: F.length(x) <= n),
        ):
            cols += [
                helper(F.col("v"), n).alias(f"{name}_flat"),
                ref(F.col("v")).alias(f"{name}_flat_ref"),
                F.transform("a", lambda x: helper(x, n)).alias(f"{name}_hof"),
                F.transform("a", ref).alias(f"{name}_hof_ref"),
            ]
        for r in length_values.select(*cols).collect():
            for name in ("ge", "le"):
                for path in ("flat", "hof"):
                    got, want = r[f"{name}_{path}"], r[f"{name}_{path}_ref"]
                    assert got == want, (n, name, path, _LENGTH_HEX[r["i"]], got, want)


def test_length_checks_match_length(spark, length_values):
    """The compiled checks that route through the helpers (minLength and
    maxLength on a flat column and at b[], and inside ``contains``) agree
    with the same checks written with length()."""
    arr = F.filter("b", lambda x: x.isNotNull())
    v = F.col("v")
    for n in range(13):
        def ge(x):
            return F.length(x) >= n

        def le(x):
            return F.length(x) <= n

        contains = compile_schema({"$id": f"len/{n}", "properties": {"b": {
            "contains": {"minLength": n, "maxLength": n + 1}}}})
        pairs = [
            (C.min_length_check("v", n).ok, v.isNull() | F.coalesce(ge(v), F.lit(False))),
            (C.max_length_check("v", n).ok, v.isNull() | F.coalesce(le(v), F.lit(False))),
            (C.min_length_check("b[]", n).ok, F.forall(arr, ge)),
            (C.max_length_check("b[]", n).ok, F.forall(arr, le)),
            (
                C.checks_pass_predicate(contains.checks),
                F.exists(arr, lambda x: ge(x) & (F.length(x) <= n + 1)),
            ),
        ]
        cols = [F.col("i")]
        for j, (got, want) in enumerate(pairs):
            cols += [got.alias(f"g{j}"), want.alias(f"w{j}")]
        for r in length_values.select(*cols).collect():
            for j in range(len(pairs)):
                assert r[f"g{j}"] == r[f"w{j}"], (n, j, _LENGTH_HEX[r["i"]])
