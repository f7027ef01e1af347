"""Physical-plan quality gates — the properties that make 100 TB feasible.

These assert on .explain output so a regression that silently de-optimizes
(drops column pruning, un-broadcasts the FK probe, adds a shuffle) fails CI.
"""

from __future__ import annotations

import os
import re
import warnings

import pytest
from pyspark.sql import functions as F

from fairtracks_validator_spark.operators.fk import fk_check
from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import validate_corpus
from fairtracks_validator_spark.sources.pages import pages, pages_schema_dict


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    pages(spark, 5000).write.parquet(path)
    return path


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_html_never_read(spark, pages_parquet):
    """Validation touches url/warc_ts/text/lang — the html BINARY column
    (the bulk of the bytes) must not reach the scan."""
    tbl = (spark.read.parquet(pages_parquet)
           .withColumn("source", F.col("url")).withColumn("ord", F.col("page_id")))
    plan = compile_schema(pages_schema_dict())
    res = validate_corpus({"pages/1.0": (plan, tbl)})
    txt = _plan_str(res.violations)
    assert "ReadSchema" in txt
    read_schema = [ln for ln in txt.splitlines() if "ReadSchema" in ln]
    assert all("html" not in ln for ln in read_schema), read_schema


def test_predicate_pushdown_to_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).where(F.col("lang") == "de").select("url")
    txt = _plan_str(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,de)]" in txt, txt


def test_fk_probe_broadcasts_small_pk(spark):
    events = spark.createDataFrame(
        [(i, i, i % 50) for i in range(1000)], "source LONG, ord LONG, user_id LONG"
    ).withColumn("source", F.col("source").cast("string"))
    pk = spark.createDataFrame(
        [("s", "pk", f'["{i}"]', "x") for i in range(40)],
        "schema_id string, check_id string, key_str string, first_source string",
    )
    # the runner passes broadcast_pk=True after COUNTING the registry small;
    # the hint must then produce a broadcast join
    viol = fk_check(events, "fk0", ["user_id"], "e/1", "s", pk,
                    broadcast_pk=True, pk_known_empty=False)
    assert "BroadcastHashJoin" in _plan_str(viol)
    # without the size-verified hint there must be NO forced broadcast in the
    # initial plan (a huge registry would OOM) — AQE may still pick one at
    # runtime from actual sizes
    unhinted = fk_check(events, "fk0", ["user_id"], "e/1", "s", pk,
                        pk_known_empty=False)
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()


def test_runner_gates_fk_broadcast_by_count(spark):
    """The two-pass path counts each registry once and only then hints; the
    kernel hints nothing and AQE broadcasts the small registry at runtime."""
    import fairtracks_validator_spark.runner as R

    # a second uniqueness constraint on a/1 keeps this on the two-pass path
    schema_a = {"$id": "a/1", "primary_key": ["k"], "unique": ["k"],
                "properties": {"k": {"type": "string"}}}
    schema_b = {
        "$id": "b/1",
        "properties": {"r": {"type": "string"}},
        "foreign_keys": [{"schema_id": "a/1", "members": ["r"]}],
    }
    a = spark.createDataFrame([(str(i), i, str(i)) for i in range(10)],
                              "source string, ord long, k string")
    b = spark.createDataFrame([(f"b{i}", i, str(i % 12)) for i in range(20)],
                              "source string, ord long, r string")
    corpus = {"a/1": (compile_schema(schema_a), a), "b/1": (compile_schema(schema_b), b)}

    res = validate_corpus(corpus)
    missing = {r["key_str"] for r in
               res.violations.where(F.col("reason") == "fk_missing").collect()}
    assert missing == {'["10"]', '["11"]'}
    # small registry (10 keys < threshold) ⇒ the FK probe is a broadcast join
    assert "BroadcastHashJoin" in _plan_str(
        res.violations.where(F.col("reason") == "fk_missing")
    )
    assert R.BROADCAST_MAX_PK_KEYS >= 10

    del schema_a["unique"]
    corpus["a/1"] = (compile_schema(schema_a), a)
    probe = validate_corpus(corpus).violations.where(F.col("reason") == "fk_missing")
    assert {r["key_str"] for r in probe.collect()} == {'["10"]', '["11"]'}
    assert "isFinalPlan=true" in _plan_str(probe)  # AQE's runtime choice
    assert "BroadcastHashJoin" in _plan_str(probe)


def test_fused_path_single_shuffle(spark, pages_parquet):
    """The fused verdict plan must contain exactly ONE data shuffle (the
    uniqueness key exchange) — scan-side work is all mapper-side."""
    tbl = (spark.read.parquet(pages_parquet)
           .withColumn("source", F.col("url")).withColumn("ord", F.col("page_id")))
    plan = compile_schema(pages_schema_dict())
    res = validate_corpus({"pages/1.0": (plan, tbl)})
    txt = _plan_str(res.verdicts)
    n_exchanges = txt.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, found {n_exchanges}:\n{txt[:2000]}"


def test_pages_wide_plan_sorts_on_key_hash(spark, pages_parquet):
    """The pages ``wide`` plan keeps one shuffle; its window sort leads with
    the bigint xxhash64 of the key (a fixed-width sort prefix), and the map
    side decides ``minLength`` on ``text`` from its byte length."""
    tbl = (spark.read.parquet(pages_parquet)
           .withColumn("source", F.col("url")).withColumn("ord", F.col("page_id")))
    plan = compile_schema(pages_schema_dict())
    txt = _plan_str(validate_corpus({"pages/1.0": (plan, tbl)}).wide)
    assert txt.count("Exchange hashpartitioning") == 1, txt
    sort = next(ln for ln in txt.splitlines() if ln.lstrip("+- :").startswith("Sort ["))
    first = sort.split("Sort [", 1)[1].split(" ASC", 1)[0]
    assert first.endswith("L"), sort  # a bigint attribute
    assert re.search(r"xxhash64\(_k2#\d+, 42\) AS " + re.escape(first), txt), txt
    map_side = txt.split("Exchange hashpartitioning", 1)[1]
    assert "octet_length(text" in map_side, map_side


def _node_lines(txt: str) -> list[tuple[int, str]]:
    """(depth, node) per line of a plan tree string, without the
    whole-stage codegen prefix ``*(n)``."""
    out = []
    for ln in txt.splitlines():
        node = ln.lstrip(" :+-")
        out.append((len(ln) - len(node), re.sub(r"^\*\(\d+\) ", "", node)))
    return out


def _subtree(nodes, i) -> list[str]:
    """The node at ``i`` and its descendants; a ``ReusedExchange`` brings
    the subtree of the exchange it reuses."""
    depth, out = nodes[i][0], [nodes[i][1]]
    for d, node in nodes[i + 1:]:
        if d <= depth:
            break
        out.append(node)
    for node in list(out):
        if node.startswith("ReusedExchange"):
            pid = _plan_id(node)
            out += _subtree(nodes, next(
                k for k, (_, n) in enumerate(nodes)
                if n.startswith("Exchange") and _plan_id(n) == pid
            ))
    return out


def _plan_id(node: str) -> str | None:
    m = re.search(r"\[plan_id=\d+\]", node)
    return m and m.group(0)


def _children(nodes, i) -> list[int]:
    depth = nodes[i][0]
    kids, k = [], i + 1
    while k < len(nodes) and nodes[k][0] > depth:
        if nodes[k][0] == depth + 3:
            kids.append(k)
        k += 1
    return kids


def test_routed_wide_plan_ranks_each_schema_once(spark, tmp_path):
    """The routed users/events ``wide`` plan ranks the users rows through
    the first-writer window once, in the output branch. The FK probe's
    build side is the windowless key set (no Sort, no Window, no identity
    columns read), and the J3 has-documents count aggregates the same
    distinct relation, so it reads the probe's exchange again instead of a
    scan and shuffle of its own."""
    from fairtracks_validator_spark.runner import sink_observed, validate_routed

    # the benchmark's routed shape: 10% users with a primary key (some keys
    # reused, a `minimum` check), events with a `maximum` check and an FK
    # into the users (some dangling), a few orphans
    path = str(tmp_path / "routed")
    n = F.col("id")
    user_key = F.when(n % 70 == 0, n - 10).otherwise(n)
    (
        spark.range(4000, numPartitions=2)
        .select(
            F.concat(F.lit("d"), n.cast("string")).alias("source"),
            n.alias("ord"),
            F.when(n % 10 == 0, "users/1.0")
            .when(n % 997 == 1, "orders/1.0")
            .otherwise("events/1.0").alias("schema_id"),
            F.when(n % 10 == 0, user_key).alias("user_key"),
            F.when(n % 10 == 0, (n % 53 - 1).cast("double")).alias("balance"),
            F.when(n % 10 != 0, n * 7 % 4100 - n * 7 % 10).alias("user_id"),
            F.when(n % 10 != 0, (n % 450).cast("double")).alias("value"),
        )
        .write.parquet(path)
    )
    plans = {
        "users/1.0": compile_schema({
            "$id": "users/1.0", "primary_key": ["user_key"],
            "properties": {"balance": {"minimum": 0}},
        }),
        "events/1.0": compile_schema({
            "$id": "events/1.0", "properties": {"value": {"maximum": 400}},
            "foreign_keys": [{"schema_id": "users/1.0", "members": ["user_id"]}],
        }),
    }
    res = validate_routed(spark.read.parquet(path), plans)
    m = sink_observed(res)
    assert m["docs"] == 4000 and m["ignored_docs"] == 5 and m["violations"] > 0
    res.wide.collect()  # settles the AQE final plan of `wide` itself
    txt = _plan_str(res.wide)
    assert "isFinalPlan=true" in txt
    final = txt.split("== Initial Plan ==", 1)[0]
    nodes = _node_lines(final)

    assert sum(node.startswith("Window [") for _, node in nodes) == 1, final

    join = next(i for i, (_, node) in enumerate(nodes)
                if "HashJoin" in node and "LeftOuter" in node)
    build = _subtree(nodes, _children(nodes, join)[1])
    assert not [x for x in build if x.startswith(("Sort [", "Window ["))], build
    scans = [x for x in build if x.startswith("FileScan")]
    assert scans, build
    for scan in scans:
        read = scan.split("ReadSchema: ", 1)[1]
        assert "source:" not in read and "ord:" not in read, scan

    # the key set filters on the checks and the members' presence, so each
    # key is serialized once, in the projection above the scan's filter
    to_json = [x for x in build if "StructsToJson" in x]
    assert len(to_json) == 1 and to_json[0].startswith("Project"), build

    j3 = _subtree(nodes, next(
        i for i, (_, node) in enumerate(nodes)
        if "keys=[], functions=[count(1)]" in node
    ))

    def key_exchanges(lines):
        return {_plan_id(x) for x in lines if "hashpartitioning(key_str" in x}

    assert len(key_exchanges(build)) == 1, build
    assert key_exchanges(j3) == key_exchanges(build), final
    assert any(x.startswith("ReusedExchange") for x in j3 + build), final


def test_entry_module_compiles_without_warnings():
    """``__spark_entry__.py`` compiles with warnings turned into errors: an
    invalid escape such as ``'\\s'`` in a plain string literal warns
    (DeprecationWarning, SyntaxWarning from Python 3.12) and is slated to
    become an error."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "__spark_entry__.py")
    with open(path, encoding="utf-8") as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, path, "exec")


def test_every_query_has_an_oracle():
    """Each declared query has a DuckDB oracle and each oracle a query:
    a retired query takes its oracle with it. ``pack_bfd_documents`` is
    row-only by contract: best-fit-decreasing packing has no SQL twin."""
    import __spark_entry__ as entrymod

    queries, oracles = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert oracles <= queries, oracles - queries
    assert queries - oracles == {"pack_bfd_documents"}


def test_whole_stage_codegen_covers_checks(spark, pages_parquet):
    """Flat-column checks must stay inside WholeStageCodegen spans."""
    tbl = (spark.read.parquet(pages_parquet)
           .withColumn("source", F.col("url")).withColumn("ord", F.col("page_id")))
    plan = compile_schema(pages_schema_dict())
    from fairtracks_validator_spark.operators.checks import checks_pass_predicate

    survivors = tbl.where(checks_pass_predicate(plan.checks)).select("url")
    txt = _plan_str(survivors)
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact plan string
    assert "*(1)" in txt
    # no Generate/explode, no BatchEvalPython in the predicate path
    assert "Generate" not in txt and "EvalPython" not in txt


def test_formats_query_prunes_to_one_column(spark):
    """The formats oracle query derives six checked columns from doc_id —
    column pruning must reach the scan (ReadSchema = doc_id only) and the
    regex checks must stay out of Python."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["validate_documents_formats"](
        spark, "/root/testdata/sf0.001"
    )
    txt = _plan_str(df)
    assert "ReadSchema: struct<doc_id:bigint>" in txt
    assert "EvalPython" not in txt


def test_quantile_profile_bounded_scans(spark):
    """quantile_profile scans the input a BOUNDED number of times — one
    shared pass for all approx sketches plus one count-by-value pass per
    column (the r6 ranked-quantile shape; exact values bit-checked by
    test_ranked_quantiles_bit_identical_to_percentile) — never once per
    quantile fraction (12 fractions/column here), and the only joins are
    cross joins of single-row aggregates."""
    from fairtracks_validator_spark.operators.stats import quantile_profile

    cols = ["o_totalprice", "o_custkey"]
    df = quantile_profile(
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet"), cols
    )
    txt = _plan_str(df)
    assert txt.count("Scan parquet") == 1 + len(cols)
    # no value-dependent join strategy: combining 1-row aggregates plans as
    # broadcast nested-loop cross joins only
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_repetition_and_gopher_zero_shuffle(spark):
    """The per-row quality/repetition kernels must not shuffle row data:
    the only Exchange allowed is the final orderBy's range partitioning,
    and nothing may fall back to Python."""
    import __spark_entry__ as entrymod

    for name in ("gopher_quality_documents", "repetition_documents"):
        df = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
        txt = _plan_str(df)
        body = txt.split("rangepartitioning")[0]  # everything below the sort
        assert "Exchange hashpartitioning" not in body, (name, txt)
        assert "EvalPython" not in txt, name


def test_top_k_per_group_partial_aggregation(spark):
    """Tree top-k: the count stage must partial-aggregate map-side (two
    HashAggregate levels around one exchange) so hot tokens collapse before
    the shuffle; no more than 3 hash exchanges total (count + two windows)."""
    from fairtracks_validator_spark.operators.stats import top_k_per_group

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from fairtracks_validator_spark.functions.text import tokens

    toks = docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    df = top_k_per_group(toks, "lang", "token", 5)
    txt = _plan_str(df)
    assert txt.count("HashAggregate") >= 2
    assert txt.count("Exchange hashpartitioning") <= 3, txt
    assert "EvalPython" not in txt


def test_sampling_is_map_only(spark):
    """hash_sample/train_val_split: pure filter/project over the scan —
    no Exchange of any kind, no Python."""
    from fairtracks_validator_spark.operators.sampling import (
        hash_sample,
        train_val_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (
        hash_sample(docs, "doc_id", 0.25, seed="p"),
        train_val_split(docs, "doc_id", 0.1),
    ):
        txt = _plan_str(df)
        assert "Exchange" not in txt, txt
        assert "EvalPython" not in txt
