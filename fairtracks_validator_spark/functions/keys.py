"""jPath addressing and key-tuple generation — pure Column expressions.

Reference semantics reproduced here (see /root/reference):

- jPath: dot-separated steps with ``name[]`` (fan out over every element) and
  ``name[i]`` (single index) array steps — ``ValidableDoc.java:33,94-164``
  (``jStepPat``). ``materializeJPath`` returns the **list** of all matching
  atomic values, stringified (line 161).
- Key tuples: the Cartesian product of per-member value lists, each tuple
  serialized as a JSON array string (``new JSONArray(...).toString()``,
  ``ValidatedJSONSchema.java:102-132``). An empty member list yields **no**
  key at all — missing components skip the key, they do not null it
  (lines 108-114).
- Components are stringly typed: every value is ``.toString()``-ed before
  comparison (``ValidableDoc.java:161``), so numeric 2 and string "2" collide
  intentionally. We therefore cast every component to STRING before
  serialization, and ``F.to_json`` of ``array<string>`` matches
  ``JSONArray.toString()`` byte-for-byte for JSON-safe strings.

Everything below is a composition of built-in higher-order functions
(``transform`` / ``flatten`` / ``filter``) — JVM-side, whole-stage-codegen
eligible; no Python UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ``name``, ``name[]`` or ``name[3]`` — mirrors jStepPat (ValidableDoc.java:33)
_STEP_PAT = re.compile(r"^(?P<name>[^\[\]]+)(?:\[(?P<idx>\d*)\])?$")


def _parse_jpath(jpath: str) -> list[tuple[str, str | None]]:
    """Split ``a.b[].c[2]`` into [(a,None),(b,''),(c,'2')]."""
    steps: list[tuple[str, str | None]] = []
    for raw in jpath.split("."):
        m = _STEP_PAT.match(raw)
        if not m:
            raise ValueError(f"bad jPath step {raw!r} in {jpath!r}")
        steps.append((m.group("name"), m.group("idx")))
    return steps


def jpath_values(jpath: str) -> Column:
    """All atomic values at ``jpath``, as ``array<string>`` (never null).

    Fan-out over ``[]`` steps mirrors ``materializeJPath``
    (``ValidableDoc.java:137-147``); nulls encountered along the path are
    dropped (absent property ⇒ contributes no values). Works on flat columns,
    struct fields, and array-of-struct fields.
    """
    steps = _parse_jpath(jpath)
    name0, idx0 = steps[0]
    # `nodes` is always an array of current candidate nodes.
    col0 = F.col(name0)
    if idx0 is None:
        nodes = F.array(col0)
    elif idx0 == "":
        nodes = F.coalesce(col0, F.array())
    else:
        # F.get, not getItem: 0-based AND null (not ANSI
        # INVALID_ARRAY_INDEX) when the array is shorter than the index —
        # a short array means the element is absent, same as a null path.
        nodes = F.array(F.get(col0, int(idx0)))
    nodes = F.filter(nodes, lambda x: x.isNotNull())

    # NB: Spark counts a Python lambda's parameters (defaults included) to
    # decide the lambda-variable arity, so closures must capture via factory
    # functions, never default args.
    def _get_field(n):
        return lambda x: x.getField(n)

    def _get_item(n, i):
        return lambda x: F.get(x.getField(n), i)

    for name, idx in steps[1:]:
        if idx is None:
            nodes = F.transform(nodes, _get_field(name))
        elif idx == "":
            # fan out: each node's field is an array; drop null arrays, concat
            nodes = F.flatten(
                F.filter(
                    F.transform(nodes, _get_field(name)),
                    lambda a: a.isNotNull(),
                )
            )
        else:
            nodes = F.transform(nodes, _get_item(name, int(idx)))
        nodes = F.filter(nodes, lambda x: x.isNotNull())

    return F.filter(
        F.transform(nodes, lambda x: x.cast("string")), lambda s: s.isNotNull()
    )


def key_tuples(member_jpaths: list[str]) -> Column:
    """Cartesian product of member value lists → ``array<array<string>>``.

    Mirrors ``GenKeyStrings`` (``ValidatedJSONSchema.java:102-132``): any
    member with zero values collapses the product to zero tuples (lines
    108-114) — rows with an absent key component generate no key — and an
    EMPTY member list generates no keys at all (numPKcols==0 branch, lines
    104-106; exercised by fairtracks_simple's ``"primary_key": []``).
    """
    if not member_jpaths:
        return F.array().cast("array<array<string>>")

    from .expr import let_

    def _extend(vals):
        def outer(t):
            def inner(x):
                return F.concat(t, F.array(x))

            return F.transform(vals, inner)

        return outer

    tuples = F.array(F.array().cast("array<string>"))  # [[]]
    for jp in member_jpaths:
        # let_-bind the member's value extraction: a Column captured inside
        # a HOF lambda re-evaluates once PER ELEMENT of the outer array, so
        # member k's whole jPath subtree would otherwise run once per
        # accumulated tuple (code-review r4; the shingles() lesson)
        tuples = F.flatten(
            let_(jpath_values(jp), lambda vals: F.transform(tuples, _extend(vals)))
        )
    return tuples


def key_strings(member_jpaths: list[str]) -> Column:
    """``array<string>`` of serialized key tuples.

    ``to_json(array<string>)`` renders ``["uno","diez"]`` — byte-compatible
    with ``new JSONArray(list).toString()`` (``ValidatedJSONSchema.java:131``)
    for JSON-safe strings.
    """
    return F.transform(key_tuples(member_jpaths), lambda t: F.to_json(t))


def is_flat_members(member_jpaths: list[str]) -> bool:
    """All members are plain top-level scalar columns — the hot path at web
    scale (e.g. ``primary_key: [url]``)."""
    return all("." not in jp and "[" not in jp for jp in member_jpaths)


def flat_key_parts(member_jpaths: list[str]) -> tuple[Column, Column]:
    """``(present, key)`` for flat scalar members: whether every member is
    present, and the key string of a row where they all are. Keeping them
    apart lets a relation of keyed rows filter on the members and serialize
    each key once (``flat_key_string`` gates ``key`` by ``present``)."""
    cols = [F.col(jp).cast("string") for jp in member_jpaths]
    if not cols:
        # numPKcols==0 ⇒ no key at all (ValidatedJSONSchema.java:104-106)
        return F.lit(False), F.lit(None).cast("string")
    present = cols[0].isNotNull()
    for c in cols[1:]:
        present = present & c.isNotNull()
    return present, F.to_json(F.array(*cols))


def flat_key_string(member_jpaths: list[str]) -> Column:
    """Single ``key_str`` for flat scalar members — pure codegen, no
    higher-order functions. NULL when any member is null (≙ empty member
    value list ⇒ no key, ``ValidatedJSONSchema.java:108-114``); callers drop
    null keys. Byte-identical to the general path."""
    present, key = flat_key_parts(member_jpaths)
    return F.when(present, key)


def has_array_fanout(member_jpaths: list[str]) -> bool:
    """True if any member can yield >1 value per row (``[]`` step present).

    Used at compile time to pick the exact single-pass uniqueness plan
    (one key per row) vs the iterative cascade plan (multi-key rows).
    """
    return any("[]" in jp for jp in member_jpaths)
