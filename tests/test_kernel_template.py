"""Kernel templates: a compiled plan's Columns are built once and reused,
and a kernel run builds only the outputs it reads (runner._KernelTemplate)."""

from __future__ import annotations

import gc
import threading

import py4j.clientserver as clientserver
import pytest

from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import (
    sink_observed, validate_corpus, validate_routed,
)

PAGES = {
    "$id": "pages/1.0",
    "primary_key": ["url"],
    "required": ["url"],
    "properties": {
        "url": {"type": "string", "pattern": "^https?://"},
        "lang": {"enum": ["en", "de"]},
        "n": {"type": "integer", "minimum": 0},
    },
}
PAGES_DDL = "source string, ord long, url string, lang string, n long"
NODES = {
    "$id": "nodes/1.0",
    "primary_key": ["id"],
    "properties": {"v": {"minimum": 0}},
    "foreign_keys": [{"schema_id": "nodes/1.0", "members": ["parent"]}],
}
NODES_DDL = "source string, ord long, schema_id string, id long, parent long, v long"


def _pages(spark, rows):
    return spark.createDataFrame(rows, PAGES_DDL)


PAGES_A = [
    ("a", 1, "http://x", "en", 1),
    ("b", 2, "http://x", "de", 2),    # dup of a
    ("c", 3, "ftp://y", "en", 3),     # pattern
    ("d", 4, "http://z", "fr", -1),   # enum + minimum
    ("e", 5, None, "en", 1),          # required
    ("f", 6, "http://w", None, None),
]
PAGES_B = [
    ("p", 10, "http://q", "de", 0),
    ("q", 11, "http://q", "en", 0),   # dup of p
    ("r", 12, "http://r", "xx", 5),   # enum
    (None, 13, "http://s", "en", 1),
    ("s", 14, "https://r", "en", -7),  # minimum
]
NODES_ROWS = [
    ("n1", 1, "nodes/1.0", 1, None, 1),
    ("n2", 2, "nodes/1.0", 2, 1, 1),
    ("n3", 3, "nodes/1.0", 3, 9, 1),     # dangling parent
    ("n4", 4, "nodes/1.0", 2, 1, 1),     # dup id
    ("n5", 5, "nodes/1.0", 5, 2, -1),    # minimum: records no key
    ("n6", 6, "nodes/1.0", 6, 5, 1),     # parent failed its checks
    ("o1", 7, "other/1.0", None, None, None),  # orphan
]


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _outputs(res) -> dict:
    return {
        "verdicts": _rows(res.verdicts),
        "violations": _rows(res.violations),
        "registries": {k: _rows(v) for k, v in res.pk_registries.items()},
        "wide": _rows(res.wide_verdicts()),
    }


def _unbuilt(res) -> set[str]:
    return {name for name, out in res._outputs.items() if callable(out)}


class _Commands:
    """Counts the commands this thread sends to the JVM. py4j's finalizer
    thread sends the deletes of earlier garbage on its own schedule, so its
    commands are not the counted call's."""

    def __enter__(self):
        self.n = 0
        self._orig = orig = clientserver.ClientServerConnection.send_command
        caller = threading.get_ident()

        def counted(conn, command):
            self.n += threading.get_ident() == caller
            return orig(conn, command)

        clientserver.ClientServerConnection.send_command = counted
        return self

    def __exit__(self, *exc):
        clientserver.ClientServerConnection.send_command = self._orig


def test_repeated_run_sends_few_commands(spark):
    plan = compile_schema(PAGES)
    df = _pages(spark, PAGES_A)
    first = validate_corpus({"pages/1.0": (plan, df)})
    assert first.wide is not None  # the kernel path is the one under test
    gc.collect()
    with _Commands() as cmds:
        validate_corpus({"pages/1.0": (plan, df)})
    assert cmds.n <= 100, cmds.n


def test_observed_sink_builds_only_wide(spark):
    plan = compile_schema(PAGES)
    res = validate_corpus({"pages/1.0": (plan, _pages(spark, PAGES_A))})
    counts = sink_observed(res)
    assert counts == {"docs": 6, "failed_docs": 4, "ignored_docs": 0, "violations": 5}
    assert _unbuilt(res) == {"verdicts", "violations", "pk_registries"}
    assert res.violations.count() == 5
    assert _unbuilt(res) == {"verdicts", "pk_registries"}


def test_template_reused_over_other_dataframes(spark):
    plan = compile_schema(PAGES)
    for rows in (PAGES_A, PAGES_B, PAGES_A):
        df = _pages(spark, rows)
        got = _outputs(validate_corpus({"pages/1.0": (plan, df)}))
        fresh = compile_schema(PAGES)
        assert got == _outputs(validate_corpus({"pages/1.0": (fresh, df)}))
    assert sum(1 for k in plan._cache if k[0] == "kernel") == 1


def test_template_per_schema_id(spark):
    # one plan object validating two schemas of a corpus: each gets its own
    # template, so each schema's outputs carry its own schema id
    plan = compile_schema(PAGES)
    corpus = {
        "pages/1.0": (plan, _pages(spark, PAGES_A)),
        "pages/2.0": (plan, _pages(spark, PAGES_B)),
    }
    for _ in range(2):
        got = _outputs(validate_corpus(corpus))
        fresh = {
            sid: (compile_schema(PAGES), df) for sid, (_, df) in corpus.items()
        }
        assert got == _outputs(validate_corpus(fresh))
    assert {r[2] for r in validate_corpus(corpus).verdicts.collect()} == {
        "pages/1.0", "pages/2.0",
    }


@pytest.mark.parametrize("rows", [NODES_ROWS, NODES_ROWS[:3] + NODES_ROWS[4:]])
def test_self_fk_routed_matches_fresh_plan(spark, rows):
    plans = {"nodes/1.0": compile_schema(NODES)}
    df = spark.createDataFrame(rows, NODES_DDL)
    for _ in range(2):
        res = validate_routed(df, plans)
        assert res.wide is not None
        got = _outputs(res)
        fresh = validate_routed(df, {"nodes/1.0": compile_schema(NODES)})
        assert got == _outputs(fresh)
    reasons = {
        (r["source"], r["reason"]) for r in res.violations.collect()
    }
    assert ("n3", "fk_missing") in reasons and ("n6", "fk_missing") in reasons
    assert ("o1", "orphan") in reasons
