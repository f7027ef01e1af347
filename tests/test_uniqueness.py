"""F1-F4 golden scenarios (FIXTURES.md) — uniqueness / compound PK.

Mirrors /root/reference/test-data/{unique_simple,multiple_unique,
compound_unique,compound_pk} good/bad corpora.
"""

from __future__ import annotations

from fairtracks_validator_spark.operators.uniqueness import uniqueness_check

from conftest import rows_set


def _df(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


# ---------- F1 unique_simple ----------

F1_SCHEMA = "source STRING, ord INT, local_id STRING"
F1_GOOD = [("uno", 1, "uno"), ("dos", 2, "dos"), ("tres", 3, "tres")]
F1_BAD = F1_GOOD + [("cuatro", 4, "uno"), ("cinco", 5, "dos")]


def test_f1_good(spark):
    res = uniqueness_check(_df(spark, F1_SCHEMA, F1_GOOD), "u_local_id", ["local_id"], "unique_example/1.0")
    assert res.violations.count() == 0
    assert rows_set(res.pk, ["key_str", "first_source"]) == {
        ('["uno"]', "uno"), ('["dos"]', "dos"), ('["tres"]', "tres"),
    }


def test_f1_bad(spark):
    res = uniqueness_check(_df(spark, F1_SCHEMA, F1_BAD), "u_local_id", ["local_id"], "unique_example/1.0")
    assert rows_set(res.violations, ["source", "key_str", "description"]) == {
        ("cuatro", '["uno"]', "Duplicate PK in uno and cuatro"),
        ("cinco", '["dos"]', "Duplicate PK in dos and cinco"),
    }
    # first-writer-wins: registry keeps the first holders only
    assert rows_set(res.pk, ["key_str", "first_source"]) == {
        ('["uno"]', "uno"), ('["dos"]', "dos"), ('["tres"]', "tres"),
    }


# ---------- F2 multiple_unique (two independent constraints) ----------

F2_SCHEMA = "source STRING, ord INT, local_id STRING, other_id STRING"
F2_BAD = [
    ("uno", 1, "uno", "cincuenta"),
    ("dos", 2, "dos", "veinte"),
    ("dosdos", 3, "dosdos", "veinte"),
    ("tres", 4, "tres", "treinta"),
    ("trestres", 5, "tres", "treinta"),
    ("cinco", 6, "uno", "diez"),
]


def test_f2_bad(spark):
    df = _df(spark, F2_SCHEMA, F2_BAD)
    r1 = uniqueness_check(df, "u_local_id", ["local_id"], "multi/1.0")
    r2 = uniqueness_check(df, "u_other_id", ["other_id"], "multi/1.0")
    assert rows_set(r1.violations, ["source", "key_str"]) == {
        ("trestres", '["tres"]'), ("cinco", '["uno"]'),
    }
    assert rows_set(r2.violations, ["source", "key_str"]) == {
        ("dosdos", '["veinte"]'), ("trestres", '["treinta"]'),
    }


# ---------- F3/F4 compound unique / compound pk ----------

F3_BAD = F2_BAD


def test_f3_compound_bad(spark):
    df = _df(spark, F2_SCHEMA, F3_BAD)
    res = uniqueness_check(df, "pk", ["local_id", "other_id"], "compound_pk_example/1.0")
    # only the full tuple ("tres","treinta") repeats
    assert rows_set(res.violations, ["source", "key_str", "description"]) == {
        ("trestres", '["tres","treinta"]', "Duplicate PK in tres and trestres"),
    }
    # recorded PK set = first occurrences incl. ["tres","treinta"] (F4 note)
    assert ('["tres","treinta"]', "tres") in rows_set(res.pk, ["key_str", "first_source"])
    assert res.pk.count() == 5


def test_f3_compound_good(spark):
    rows = [("uno", 1, "uno", "diez"), ("dos", 2, "dos", "veinte"), ("tres", 3, "tres", "treinta")]
    res = uniqueness_check(_df(spark, F2_SCHEMA, rows), "pk", ["local_id", "other_id"], "x/1.0")
    assert res.violations.count() == 0


# ---------- edge: absent component ⇒ no key (not a null key) ----------

def test_absent_component_skips_key(spark):
    rows = [("a", 1, None, "x"), ("b", 2, None, "y")]
    res = uniqueness_check(_df(spark, F2_SCHEMA, rows), "pk", ["local_id", "other_id"], "x/1.0")
    assert res.violations.count() == 0  # no keys at all — not colliding null keys
    assert res.pk.count() == 0


# ---------- stringly-typed keys: 2 vs "2" collide after stringification ----------

def test_string_typed_key_collision(spark):
    df = spark.createDataFrame(
        [("a", 1, 2), ("b", 2, 2)], "source STRING, ord INT, k INT"
    )
    res = uniqueness_check(df, "u_k", ["k"], "x/1.0")
    assert rows_set(res.violations, ["source", "key_str"]) == {("b", '["2"]')}


# ---------- array fan-out: Cartesian keys + cascade semantics ----------

def test_fanout_cartesian_keys(spark):
    df = spark.createDataFrame(
        [("a", 1, ["x", "y"], "1")],
        "source STRING, ord INT, tags ARRAY<STRING>, v STRING",
    )
    res = uniqueness_check(df, "pk", ["tags[]", "v"], "x/1.0")
    assert rows_set(res.pk, ["key_str"]) == {('["x","1"]',), ('["y","1"]',)}


def test_fanout_cascade_unblocks_chain(spark):
    # A(ord1) holds K. B(ord2) has {K, L}: collides on K so L is NOT recorded
    # (ValidatedJSONSchema.java:386-391). C(ord3) has {L}: passes.
    df = spark.createDataFrame(
        [("A", 1, ["K"]), ("B", 2, ["K", "L"]), ("C", 3, ["L"])],
        "source STRING, ord INT, ks ARRAY<STRING>",
    )
    res = uniqueness_check(df, "pk", ["ks[]"], "x/1.0")
    assert rows_set(res.violations, ["source", "key_str", "description"]) == {
        ("B", '["K"]', "Duplicate PK in A and B"),
    }
    assert rows_set(res.pk, ["key_str", "first_source"]) == {
        ('["K"]', "A"), ('["L"]', "C"),
    }


def test_fanout_cascade_null_source_duplicate_blamed(spark):
    # documents are (source, ord) identities matched null-safely: a
    # null-source later holder of a fan-out key is blamed, and its other
    # key is not recorded
    df = spark.createDataFrame(
        [(None, 1, ["K"]), (None, 2, ["K", "L"]), ("C", 3, ["L"])],
        "source STRING, ord INT, ks ARRAY<STRING>",
    )
    res = uniqueness_check(df, "pk", ["ks[]"], "x/1.0")
    assert rows_set(res.violations, ["ord", "key_str"]) == {(2, '["K"]')}
    assert rows_set(res.pk, ["key_str", "first_source"]) == {
        ('["K"]', None), ('["L"]', "C"),
    }
