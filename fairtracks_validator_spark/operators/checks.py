"""Row-level constraint checks compiled to vectorized Column expressions.

Reference: every JSON-Schema keyword is dispatched per-document through the
everit library (``ValidatedJSONSchema.java:329,370``); custom formats plug in
via ``ContextualFormatValidator`` (``extensions/CurieFormat.java:66``,
``extensions/TermFormat.java:70``). Here each keyword becomes one boolean
``Column`` over the whole corpus — JVM-side, whole-stage-codegen eligible, no
per-row Python (north rule).

Two check kinds:

- :class:`Check` — pure expression (ok Column + message Column). Built once at
  plan-compile time; constants (enum lists, regex patterns, CURIE namespace
  patterns from the registry snapshot) are folded into the expression.
- :class:`JoinCheck` — needs a dimension join (ontology ``format: term``
  checks, ``extensions/TermFormat.java:91-112``). Applied as a broadcast
  left join that adds a boolean flag column; the flag then feeds the same
  violation machinery.

Semantics notes (validated against the reference source):

- JSON-Schema ``pattern`` uses *find* semantics (unanchored) — Spark ``rlike``
  matches that. CURIE registry patterns use ``Matcher.matches()`` (anchored,
  ``extensions/Curie.java:25-33``) — we wrap them ``^(?:...)$``.
- Keywords other than ``required`` do not apply to absent values: an empty
  jPath value list passes (``F.forall`` over an empty array is true).
- String-length bounds (``minLength``/``maxLength``, the hostname cap) are
  decided from the byte length where it suffices
  (:func:`char_length_at_least`/:func:`char_length_at_most`): Spark's
  ``length`` walks every byte of the value, ``octet_length`` does not.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.keys import jpath_values


@dataclass(frozen=True)
class Check:
    check_id: str
    ok: Column
    message: Column


@dataclass(frozen=True)
class JoinCheck:
    """A check that requires joining a dimension table.

    ``apply(df, flag)`` returns ``df`` with boolean column ``flag`` (true=ok);
    ``message`` builds the violation text from the original row.
    """

    check_id: str
    apply: Callable[[DataFrame, str], DataFrame] = field(repr=False)
    message: Column = field(repr=False, default=None)


def _vals(jpath: str) -> Column:
    return jpath_values(jpath)


def _is_flat(jpath: str) -> bool:
    return "." not in jpath and "[" not in jpath


def _forall(jpath: str, pred: Callable[[Column], Column]) -> Column:
    """All values at jpath satisfy pred; absent ⇒ ok (keyword not applicable).

    Flat scalar columns take a direct null-guarded predicate — whole-stage
    codegen, no higher-order functions (the hot path at web scale; nested
    jPaths fall back to the array machinery).
    """
    if _is_flat(jpath):
        c = F.col(jpath).cast("string")
        return c.isNull() | F.coalesce(pred(c), F.lit(False))
    return F.forall(_vals(jpath), pred)


def _first_bad(jpath: str, pred: Callable[[Column], Column]) -> Column:
    if _is_flat(jpath):
        c = F.col(jpath).cast("string")
        return F.when(
            c.isNotNull() & ~F.coalesce(pred(c), F.lit(False)), c
        )
    bad = F.filter(_vals(jpath), lambda v: ~F.coalesce(pred(v), F.lit(False)))
    return F.try_element_at(bad, F.lit(1))


# ---------------------------------------------------------------- P2 required
def required_check(jpath: str) -> Check:
    ok = (
        F.col(jpath).isNotNull()
        if _is_flat(jpath)
        else F.size(_vals(jpath)) > 0
    )
    return Check(
        check_id=f"required:{jpath}",
        ok=ok,
        message=F.lit(f"required key [{jpath.split('.')[-1]}] not found"),
    )


# ---------------------------------------------------------------- P1 type
_SPARK_TYPE = {
    "string": "string",
    "number": "double",
    "integer": "long",
    "boolean": "boolean",
}


def type_check(jpath: str, json_type: str) -> Check:
    """Dynamic type probe for string-encoded values (typed columns enforce
    types at parse — ``from_json`` nulls mismatches, SURVEY P1)."""
    t = _SPARK_TYPE.get(json_type)
    if t is None:  # object/array handled structurally by the encoding
        return Check(f"type:{jpath}", F.lit(True), F.lit(""))

    def pred(v: Column) -> Column:
        casted = v.try_cast(t)
        if json_type == "integer":
            # "2.5" try_casts to null for long — good; "2" ok
            return casted.isNotNull()
        return casted.isNotNull()

    return Check(
        check_id=f"type:{jpath}",
        ok=_forall(jpath, pred),
        message=F.format_string(
            f"expected type: {json_type}, found incompatible value %s",
            _first_bad(jpath, pred),
        ),
    )



def _pct(text: str) -> str:
    """Escape '%' for use in a format_string LITERAL: schema-derived text
    (patterns, const/enum values, namespaces, property paths) may contain
    printf metacharacters, and an unescaped '%[' kills the whole job with
    UnknownFormatConversionException at runtime (code-review r4)."""
    return text.replace("%", "%%")


# ---------------------------------------------------------------- P3 const
def const_check(jpath: str, value) -> Check:
    sval = _json_scalar_str(value)
    pred = lambda v: v == F.lit(sval)  # noqa: E731
    return Check(
        check_id=f"const:{jpath}",
        ok=_forall(jpath, pred),
        message=F.format_string(
            _pct(f"expected const {value!r}, found ") + "%s",
            _first_bad(jpath, pred),
        ),
    )


# ---------------------------------------------------------------- P5 enum
def enum_check(jpath: str, values: list) -> Check:
    svals = [_json_scalar_str(v) for v in values]
    pred = lambda v: v.isin(svals)  # noqa: E731
    return Check(
        check_id=f"enum:{jpath}",
        ok=_forall(jpath, pred),
        message=F.format_string(
            "%s" + _pct(f" is not a valid enum value of {svals}"),
            _first_bad(jpath, pred),
        ),
    )


def _json_scalar_str(value) -> str:
    # key components & comparisons are stringly typed (ValidableDoc.java:161)
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


# ---------------------------------------------------------------- P4 pattern
def pattern_check(jpath: str, pattern: str) -> Check:
    """JSON-Schema ``pattern``: unanchored find semantics (everit/Java both)."""
    pred = lambda v: v.rlike(pattern)  # noqa: E731
    return Check(
        check_id=f"pattern:{jpath}",
        ok=_forall(jpath, pred),
        message=F.format_string(
            "string %s does not match pattern " + _pct(pattern),
            _first_bad(jpath, pred),
        ),
    )


# ------------------------------------------------- P7 ranges / lengths
def minimum_check(jpath: str, lo, exclusive: bool = False) -> Check:
    # try_cast, not cast: under default ANSI mode a non-numeric value at a
    # numeric-keyword path must become a VIOLATION (null pred -> coalesce
    # False in _forall), not a CAST_INVALID_INPUT crash of the whole job
    pred = (lambda v: v.try_cast("double") > F.lit(float(lo))) if exclusive else (
        lambda v: v.try_cast("double") >= F.lit(float(lo))
    )
    return Check(
        f"minimum:{jpath}", _forall(jpath, pred),
        F.format_string(f"%s is below the minimum {lo}", _first_bad(jpath, pred)),
    )


def maximum_check(jpath: str, hi, exclusive: bool = False) -> Check:
    pred = (lambda v: v.try_cast("double") < F.lit(float(hi))) if exclusive else (
        lambda v: v.try_cast("double") <= F.lit(float(hi))
    )
    return Check(
        f"maximum:{jpath}", _forall(jpath, pred),
        F.format_string(f"%s is above the maximum {hi}", _first_bad(jpath, pred)),
    )


# String lengths are bounded by the byte length first. Spark's ``length``
# walks every byte of the value to count characters, while ``octet_length``
# reads the stored size. A character takes 1 to 4 bytes (an invalid first
# byte counts as one character of one byte), so b bytes hold between
# ceil(b/4) and b characters: outside the band from n to 4n bytes the
# byte length alone decides the bound, and codegen's short-circuit OR/AND
# runs ``length`` only inside it. The result, nulls included, equals the plain
# ``length(v) >= n`` / ``<= n``.
def char_length_at_least(v: Column, n: int) -> Column:
    """``length(v) >= n``, with ``length`` run only for n <= bytes < 4n."""
    b = F.octet_length(v)
    return (b >= 4 * n) | ((b >= n) & (F.length(v) >= n))


def char_length_at_most(v: Column, n: int) -> Column:
    """``length(v) <= n``, with ``length`` run only for n < bytes <= 4n."""
    b = F.octet_length(v)
    return (b <= n) | ((b <= 4 * n) & (F.length(v) <= n))


def min_length_check(jpath: str, n: int) -> Check:
    pred = lambda v: char_length_at_least(v, n)  # noqa: E731
    return Check(
        f"minLength:{jpath}", _forall(jpath, pred),
        F.format_string(f"%s is shorter than minLength {n}", _first_bad(jpath, pred)),
    )


def max_length_check(jpath: str, n: int) -> Check:
    pred = lambda v: char_length_at_most(v, n)  # noqa: E731
    return Check(
        f"maxLength:{jpath}", _forall(jpath, pred),
        F.format_string(f"%s is longer than maxLength {n}", _first_bad(jpath, pred)),
    )


# -------------------------------------------- draft-07 numeric/array keywords
def multiple_of_check(jpath: str, k) -> Check:
    # decimal arithmetic, not double: pmod(0.3D, 0.1D) is 0.0999... so valid
    # decimal multiples false-failed; decimal(38,12) pmod is exact for any
    # terminating-decimal divisor (mirrors everit's BigDecimal remainder).
    # try_cast: non-numeric (or out-of-range) values violate, never crash.
    kd = F.lit(str(k)).cast("decimal(38,12)")
    pred = lambda v: F.pmod(v.try_cast("decimal(38,12)"), kd) == 0  # noqa: E731
    return Check(
        f"multipleOf:{jpath}", _forall(jpath, pred),
        F.format_string(f"%s is not a multiple of {k}", _first_bad(jpath, pred)),
    )


def _array_col(jpath: str) -> Column:
    """The array value at a (possibly dotted, non-fanned) jpath. ``[]`` steps
    would address the ELEMENTS rather than the array itself, so array-cardinality
    keywords reject them at compile time."""
    if "[" in jpath:
        raise ValueError(
            f"array keywords need the array itself, not a fan-out path: {jpath!r}"
        )
    return F.col(jpath)


def min_items_check(jpath: str, n: int) -> Check:
    c = _array_col(jpath)
    return Check(
        f"minItems:{jpath}",
        c.isNull() | (F.size(c) >= int(n)),
        F.format_string(f"array of size %s has fewer than {n} items", F.size(c)),
    )


def max_items_check(jpath: str, n: int) -> Check:
    c = _array_col(jpath)
    return Check(
        f"maxItems:{jpath}",
        c.isNull() | (F.size(c) <= int(n)),
        F.format_string(f"array of size %s has more than {n} items", F.size(c)),
    )


def unique_items_check(jpath: str) -> Check:
    c = _array_col(jpath)
    return Check(
        f"uniqueItems:{jpath}",
        c.isNull() | (F.size(F.array_distinct(c)) == F.size(c)),
        F.lit("array items are not unique"),
    )


# ------------------------------------------- draft-07 combinators + presence
def presence(jpath: str) -> Column:
    """True when the instance value exists at jpath — combinators only apply
    to present values (absent ⇒ vacuously valid, like every other keyword
    except ``required``)."""
    if _is_flat(jpath):
        return F.col(jpath).isNotNull()
    return F.size(_vals(jpath)) > 0


def any_of_check(jpath: str, preds: list[Column]) -> Check:
    ok = F.lit(False)
    for p in preds:
        ok = ok | F.coalesce(p, F.lit(False))
    return Check(
        f"anyOf:{jpath}",
        ~presence(jpath) | ok,
        F.lit(f"value at {jpath} matches none of the anyOf subschemas"),
    )


def all_of_check(jpath: str, preds: list[Column]) -> Check:
    ok = F.lit(True)
    for p in preds:
        ok = ok & F.coalesce(p, F.lit(False))
    return Check(
        f"allOf:{jpath}",
        ~presence(jpath) | ok,
        F.lit(f"value at {jpath} fails one of the allOf subschemas"),
    )


def one_of_check(jpath: str, preds: list[Column]) -> Check:
    n = F.lit(0)
    for p in preds:
        n = n + F.coalesce(p, F.lit(False)).cast("int")
    return Check(
        f"oneOf:{jpath}",
        ~presence(jpath) | (n == 1),
        F.format_string(
            "value at " + _pct(jpath)
            + " matches %s oneOf subschemas instead of exactly 1", n
        ),
    )


def elementwise_combinator_check(kw: str, jpath: str, elem_preds) -> Check:
    """anyOf/oneOf at a FAN-OUT path apply PER ELEMENT — draft-07 validates
    each instance against the combinator, so a heterogeneous array where
    every element matches SOME branch is valid even though no single branch
    matches all elements (code-review r4: folding each branch with forall
    over the whole value set produced false violations there)."""

    def elem_ok(v: Column) -> Column:
        n = F.lit(0)
        for p in elem_preds:
            n = n + F.coalesce(p(v), F.lit(False)).cast("int")
        return (n >= 1) if kw == "anyOf" else (n == 1)

    ok = F.forall(_vals(jpath), elem_ok)
    return Check(
        f"{kw}:{jpath}", ok,
        F.lit(f"an element at {jpath} fails the {kw} combinator"),
    )


def if_then_else_check(
    jpath: str, if_pred: Column, then_pred: Column, else_pred: Column
) -> Check:
    """draft-07 conditional: when the value matches ``if``, it must match
    ``then``; otherwise it must match ``else`` (either may be vacuous)."""
    ok = F.when(
        F.coalesce(if_pred, F.lit(False)), F.coalesce(then_pred, F.lit(False))
    ).otherwise(F.coalesce(else_pred, F.lit(False)))
    return Check(
        f"ifThenElse:{jpath}",
        ~presence(jpath) | ok,
        F.lit(f"value at {jpath} fails the if/then/else conditional"),
    )


def contains_check(jpath: str, pred) -> Check:
    """draft-07 ``contains``: at least one array element matches the
    subschema (elementwise predicate built by the compiler for scalar
    subschemas)."""
    c = _array_col(jpath)
    ok = c.isNull() | F.exists(
        c, lambda v: F.coalesce(pred(v.cast("string")), F.lit(False))
    )
    return Check(
        f"contains:{jpath}",
        ok,
        F.lit(f"no element at {jpath} matches the 'contains' subschema"),
    )


def tuple_item_check(jpath: str, idx: int, pred) -> Check:
    """draft-07 tuple-form ``items``: the element at position ``idx`` (if
    present) must satisfy the positional subschema — the reference walks
    items[] per position (``J/ValidatedJSONSchema.java:166-173``).
    ``pred`` is an elementwise predicate from the compiler's scalar set."""
    if "[" in jpath:
        raise ValueError(
            f"tuple-form items needs the array itself, not a fan-out path: {jpath!r}"
        )
    arr = F.col(jpath)
    v = F.try_element_at(arr, F.lit(idx + 1)).cast("string")
    ok = (
        arr.isNull()
        | (F.size(arr) <= idx)
        | v.isNull()
        | F.coalesce(pred(v), F.lit(False))
    )
    return Check(
        check_id=f"items:{jpath}[{idx}]",
        ok=ok,
        message=F.format_string(
            "element %s at " + _pct(f"{jpath}[{idx}]")
            + " violates the positional subschema", v
        ),
    )


def tuple_item_forbidden_check(jpath: str, idx: int) -> Check:
    """tuple-form ``items`` position declared ``false``: the array must not
    have an element at that position (draft-06+ boolean subschema)."""
    if "[" in jpath:
        raise ValueError(
            f"tuple-form items needs the array itself, not a fan-out path: {jpath!r}"
        )
    arr = F.col(jpath)
    return Check(
        check_id=f"items:{jpath}[{idx}]",
        ok=arr.isNull() | (F.size(arr) <= idx),
        message=F.lit(f"array at {jpath} must not have an element at position {idx}"),
    )


def not_check(jpath: str, pred: Column) -> Check:
    return Check(
        f"not:{jpath}",
        ~presence(jpath) | ~F.coalesce(pred, F.lit(False)),
        F.lit(f"value at {jpath} matches the forbidden 'not' subschema"),
    )


# ---------------------------------------------------------------- P8 format: uri
# RFC-3986-shaped probe: scheme ":" hier-part, no spaces/illegal chars.
_URI_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:[^\s<>\"{}|\\^`]*$"


def format_uri_check(jpath: str) -> Check:
    pred = lambda v: v.rlike(_URI_RE)  # noqa: E731
    return Check(
        f"format:uri:{jpath}", _forall(jpath, pred),
        F.format_string("[%s] is not a valid URI", _first_bad(jpath, pred)),
    )


# ----------------------------------------------- draft-07 standard formats
# The reference enforces these via everit's format validators wired in at
# schema load (``J/ValidatedJSONSchema.java:318-329``, draft-07 meta-schema
# formats). Here each format is one anchored regex — pure Column, codegen,
# and (deliberately) expressible in RE2 as well as java.util.regex so the
# DuckDB oracles run the byte-identical pattern. Approximation notes:
# calendar-impossible dates (2024-02-30) pass the regex (everit's strict
# parser rejects them); hostnames are additionally length-capped at 253.
_DATE_RE = r"\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
_TIME_RE = (
    r"([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?"
    r"([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)"
)
_HOST_LABEL = r"[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
_IPV4_OCT = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IPV6_RE = (
    r"(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,7}:"
    r"|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
    r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
    r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:(:[0-9A-Fa-f]{1,4}){1,6}"
    r"|:((:[0-9A-Fa-f]{1,4}){1,7}|:))"
)

FORMAT_PATTERNS: dict[str, str] = {
    "date": f"^{_DATE_RE}$",
    "time": f"^{_TIME_RE}$",
    "date-time": f"^{_DATE_RE}[Tt]{_TIME_RE}$",
    "email": (
        r"^[A-Za-z0-9.!#$%&'*+/=?^_`{|}~-]+@"
        + _HOST_LABEL + r"(\." + _HOST_LABEL + r")*$"
    ),
    "hostname": f"^{_HOST_LABEL}(\\.{_HOST_LABEL})*$",
    "ipv4": f"^{_IPV4_OCT}(\\.{_IPV4_OCT}){{3}}$",
    "ipv6": f"^{_IPV6_RE}$",
    "uri-reference": r"^[^\s<>\"{}|\\^`]*$",
    "json-pointer": r"^(/([^/~]|~[01])*)*$",
    "uuid": (
        r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
    ),
}


def format_pattern_check(jpath: str, fmt: str) -> Check:
    """One of the regex-expressible draft-07 formats (FORMAT_PATTERNS)."""
    pattern = FORMAT_PATTERNS[fmt]
    if fmt == "hostname":
        pred = lambda v: char_length_at_most(v, 253) & v.rlike(pattern)  # noqa: E731
    else:
        pred = lambda v: v.rlike(pattern)  # noqa: E731
    return Check(
        check_id=f"format:{fmt}:{jpath}",
        ok=_forall(jpath, pred),
        message=F.format_string(
            f"[%s] is not a valid {fmt}", _first_bad(jpath, pred)
        ),
    )


def format_regex_check(jpath: str) -> Check:
    """``format: regex`` — the value must itself compile as a regex.

    Regex-grammar validity is not expressible as a Column, so this is the
    one format backed by an Arrow-batched pandas UDF (re.compile per distinct
    value inside the batch — Python's re is a superset of ECMA-262, the
    dialect everit checks). Flat paths only: Python UDFs cannot run inside
    higher-order-function lambdas, so fan-out paths warn at compile time.
    """
    if not _is_flat(jpath):
        raise ValueError(
            f"format: regex at fan-out path {jpath!r} is not supported "
            "(Python UDFs cannot run inside HOF lambdas)"
        )
    from pyspark.sql.functions import pandas_udf

    def _valid(s):
        import re as _re

        import pandas as pd

        cache: dict[str, bool] = {}

        def one(x):
            if x is None:
                return True  # absent ⇒ keyword not applicable
            hit = cache.get(x)
            if hit is None:
                try:
                    _re.compile(x)
                    hit = True
                except _re.error:
                    hit = False
                cache[x] = hit
            return hit

        return pd.Series([one(x) for x in s], dtype="boolean")

    valid = pandas_udf(_valid, "boolean")
    c = F.col(jpath).cast("string")
    return Check(
        check_id=f"format:regex:{jpath}",
        ok=c.isNull() | F.coalesce(valid(c), F.lit(False)),
        message=F.format_string("[%s] is not a valid regex", c),
    )


# -------------------------------------------------- P6 additionalProperties
def additional_properties_check(
    jpath: str, allowed: list[str], allowed_patterns: list[str] | None = None
) -> Check:
    """``additionalProperties: false`` for open-object (MapType) encodings.

    Fixed-layout objects are ``StructType`` and closed at parse time (SURVEY
    P6); this check covers columns kept as ``map<string,...>``. Violation
    when any undeclared key is present (``unique_schema.json:21``). Keys
    matching a ``patternProperties`` pattern are NOT additional (draft-07
    §6.5.6), so the caller passes those patterns through."""
    m = F.col(jpath)

    def is_extra(k, v):
        e = ~k.isin(allowed) if allowed else F.lit(True)
        for p in allowed_patterns or []:
            e = e & ~F.coalesce(k.rlike(p), F.lit(False))
        return e

    extra = F.map_filter(m, is_extra)
    ok = m.isNull() | (F.size(F.map_keys(extra)) == 0)
    return Check(
        check_id=f"additionalProperties:{jpath}",
        ok=ok,
        message=F.format_string(
            "extraneous key %s is not permitted",
            F.try_element_at(F.map_keys(extra), F.lit(1)),
        ),
    )


# ------------------------------------- draft-07 object-shape keywords (maps)
# everit enforces these for any object (draft-07 meta-schema); here they
# apply to the open-object (MapType) encoding — fixed-layout objects are
# StructType and these shapes are decided at parse time.
def min_properties_check(jpath: str, n: int) -> Check:
    m = F.col(jpath)
    return Check(
        f"minProperties:{jpath}",
        m.isNull() | (F.size(m) >= int(n)),
        F.format_string(f"object with %s properties has fewer than {n}", F.size(m)),
    )


def max_properties_check(jpath: str, n: int) -> Check:
    m = F.col(jpath)
    return Check(
        f"maxProperties:{jpath}",
        m.isNull() | (F.size(m) <= int(n)),
        F.format_string(f"object with %s properties has more than {n}", F.size(m)),
    )


def property_names_check(jpath: str, pred) -> Check:
    """draft-07 ``propertyNames``: every key satisfies the (scalar) subschema."""
    m = F.col(jpath)
    keys = F.map_keys(m)
    ok = m.isNull() | F.forall(keys, lambda k: F.coalesce(pred(k), F.lit(False)))
    bad = F.try_element_at(
        F.filter(keys, lambda k: ~F.coalesce(pred(k), F.lit(False))), F.lit(1)
    )
    return Check(
        f"propertyNames:{jpath}",
        ok,
        F.format_string("property name %s violates propertyNames", bad),
    )


def pattern_properties_check(jpath: str, pattern: str, pred) -> Check:
    """draft-07 ``patternProperties``: values of keys matching ``pattern``
    (find semantics, like ``pattern``) satisfy the (scalar) subschema."""
    m = F.col(jpath)
    ents = F.map_entries(m)

    def key_match(e):
        return F.coalesce(e.getField("key").rlike(pattern), F.lit(False))

    def val_ok(e):
        return F.coalesce(pred(e.getField("value").cast("string")), F.lit(False))

    ok = m.isNull() | F.forall(ents, lambda e: ~key_match(e) | val_ok(e))
    bad = F.try_element_at(
        F.filter(ents, lambda e: key_match(e) & ~val_ok(e)), F.lit(1)
    )
    return Check(
        f"patternProperties:{jpath}:{pattern}",
        ok,
        F.format_string(
            "value %s of key %s fails the patternProperties subschema for "
            + _pct(pattern),
            bad.getField("value").cast("string"),
            bad.getField("key"),
        ),
    )


def map_dependencies_check(jpath: str, prop: str, deps: list[str]) -> Check:
    """draft-07 property ``dependencies`` (array form) on a map column:
    if key ``prop`` is present, all of ``deps`` must be present."""
    m = F.col(jpath)

    def has(k: str):
        return F.coalesce(F.map_contains_key(m, F.lit(k)), F.lit(False))

    need = F.lit(True)
    for d in deps:
        need = need & has(d)
    return Check(
        f"dependencies:{jpath}.{prop}",
        m.isNull() | ~has(prop) | need,
        F.lit(f"key {prop} at {jpath} requires keys {', '.join(deps)}"),
    )


def schema_dependency_check(jpath: str, pred: Column) -> Check:
    """Schema-form ``dependencies`` (draft-07, r4): when a value exists at
    ``jpath``, the containing object must match the dependent subschema —
    already folded to ``pred`` by the compiler (everit enforces this form
    via the draft-07 meta-schema,
    ``java/src/main/resources/org/json-schema/draft-07/schema``)."""
    return Check(
        f"dependencies:{jpath}",
        ~presence(jpath) | F.coalesce(pred, F.lit(False)),
        F.lit(f"presence of {jpath} requires the dependent schema to hold"),
    )


def presence_dependency_check(jpath: str, dep_jpaths: list[str]) -> Check:
    """Property ``dependencies`` (array form) over struct/flat columns: if a
    value exists at ``jpath``, values must exist at every dependent path."""
    need = F.lit(True)
    for d in dep_jpaths:
        need = need & presence(d)
    return Check(
        f"dependencies:{jpath}",
        ~presence(jpath) | need,
        F.lit(f"property {jpath} requires properties {', '.join(dep_jpaths)}"),
    )


# ------------------------------------------------------------ P9-P11 curie
# A value "looks like a URI" when it parses: approximate java.net.URI's
# acceptance with an illegal-char probe (spaces etc. throw URISyntaxException).
_URI_PARSEABLE = r"^[^\s<>\"{}|\\^`]+$"
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*):"


def _scheme(v: Column) -> Column:
    s = F.regexp_extract(v, _SCHEME_RE, 1)
    return F.when(s == "", F.lit(None)).otherwise(s)


def _anchor(pattern: str) -> str:
    """Registry patterns are matched with Matcher.matches() — full-match
    (extensions/Curie.java:25-33); Spark rlike is find, so anchor."""
    return f"^(?:{pattern})$"


def curie_check(
    jpath: str,
    match_type: str,
    namespaces: list[str],
    registry: dict[str, str],
) -> Check:
    """``format: curie`` — exact branch structure of
    ``extensions/CurieFormat.java:115-205``, folded into one expression.

    ``registry``: namespace → identifiers.org pattern (the MIRIAM snapshot
    dimension, SURVEY S5 — tiny, folded driver-side into the plan instead of
    a runtime join).
    """
    ns_in_registry = [ns for ns in namespaces if ns in registry]

    def per_value(v: Column) -> tuple[Column, Column]:
        parseable = v.rlike(_URI_PARSEABLE)
        prefix = _scheme(v)
        ssp = F.regexp_replace(v, _SCHEME_RE, "")

        # canonical-mode match result for this value (also loose-promoted)
        if namespaces:
            ns_ok = prefix.isin(namespaces)
        else:
            ns_ok = F.lit(True)  # empty list accepts any registered prefix
        canon_match = F.lit(False)
        known_prefix = F.lit(False)
        for ns, pat in registry.items():
            hit = prefix == F.lit(ns)
            known_prefix = known_prefix | hit
            canon_match = F.when(
                hit, F.coalesce(ssp.rlike(_anchor(pat)), F.lit(False))
                | F.coalesce(v.rlike(_anchor(pat)), F.lit(False)),
            ).otherwise(canon_match)

        canonical_ok = parseable & prefix.isNotNull() & ns_ok & known_prefix & canon_match
        canonical_msg = (
            F.when(~parseable, F.format_string(
                "Incorrect URI '%s' (only acceptable in loose match type)", v))
            .when(prefix.isNull(), F.lit(
                "In 'canonical' mode, the value must be prefixed by the namespace"))
            .when(~ns_ok, F.format_string(
                "The namespace %s is not in the list of the accepted ones: "
                + _pct(", ".join(namespaces)), prefix))
            .when(~known_prefix, F.format_string(
                "The namespace %s was not found in identifiers.org cache", prefix))
            .otherwise(F.format_string("Match failed for CURIE %s", v))
        )

        if match_type == "basic":
            ok = parseable & prefix.isin(namespaces)
            msg = F.when(~parseable, F.format_string(
                "Incorrect URI '%s' (only acceptable in loose match type)", v)
            ).otherwise(F.format_string(
                "The namespace %s is not in the list of the accepted ones: "
                + _pct(", ".join(namespaces)), prefix))
            return ok, msg

        if match_type == "canonical":
            return canonical_ok, canonical_msg

        # loose: value WITH a scheme auto-promotes to canonical
        # (CurieFormat.java:127-139)
        loose_match = F.lit(False)
        for ns in ns_in_registry:
            loose_match = loose_match | F.coalesce(
                v.rlike(_anchor(registry[ns])), F.lit(False)
            )
        if not namespaces:
            loose_ok, loose_msg = F.lit(False), F.lit(
                "In 'loose' mode, at least one namespace must be declared")
        elif not ns_in_registry:
            loose_ok, loose_msg = F.lit(False), F.lit(
                f"No namespace from '{', '.join(namespaces)}' was found in "
                "identifiers.org cache")
        else:
            loose_ok, loose_msg = loose_match, F.format_string(
                "Match failed for CURIE %s", v)

        promoted = parseable & prefix.isNotNull()
        ok = F.when(promoted, canonical_ok).otherwise(loose_ok)
        msg = F.when(promoted, canonical_msg).otherwise(loose_msg)
        return ok, msg

    vals = _vals(jpath)
    ok = F.forall(vals, lambda v: per_value(v)[0])
    first_bad = F.try_element_at(
        F.filter(vals, lambda v: ~F.coalesce(per_value(v)[0], F.lit(False))), F.lit(1)
    )
    # message for the first offending value
    msg = F.when(first_bad.isNotNull(), per_value(first_bad)[1]).otherwise(F.lit(""))
    return Check(check_id=f"format:curie:{jpath}", ok=ok, message=msg)


# ------------------------------------------------------------ P12-P15 term
# Dimensions at or below these row counts are folded driver-side into pure
# Column expressions (like the CURIE registry) — zero shuffles, zero joins.
# Vendored ontology snapshots are always far below these; a full live
# ontology would take the broadcast-join path instead.
TERM_FOLD_MAX = 100_000
TERM_FOLD_MAX_SUFFIX = 10_000


def _filtered_terms(
    ontologies: list[str],
    terms: DataFrame,
    ancestors: DataFrame | None,
    required_ancestors: list[str] | None,
) -> DataFrame:
    """Ontology-scoped terms dim after the ancestors-closure filter — the
    SINGLE definition shared by the folded and broadcast-join term forms,
    so a closure-semantics fix cannot silently apply to one path only
    (code-review r4)."""
    flagged = terms.where(F.col("ontology").isin(ontologies))
    if required_ancestors:
        if ancestors is None:
            raise ValueError("ancestors dimension required when 'ancestors' attr set")
        anc_ok = (
            ancestors.where(F.col("ontology").isin(ontologies))
            .where(F.col("ancestor_iri").isin(required_ancestors))
            .select("iri")
            .distinct()
        )
        flagged = flagged.join(anc_ok, "iri", "left_semi")
    return flagged


def _term_candidate_values(
    match_type: str,
    ontologies: list[str],
    terms: DataFrame,
    ancestors: DataFrame | None,
    required_ancestors: list[str] | None,
) -> DataFrame:
    """Distinct dimension values a document value must hit (IRIs, or labels
    for matchType=label), after the ontology + ancestors-closure filters
    (``extensions/TermFormat.java:91-112, 264-267``)."""
    flagged = _filtered_terms(ontologies, terms, ancestors, required_ancestors)
    col = "label" if match_type == "label" else "iri"
    return flagged.select(F.col(col).alias("v")).where(F.col("v").isNotNull()).distinct()


def fold_term_check(
    jpath: str,
    match_type: str,
    ontologies: list[str],
    terms: DataFrame,
    ancestors: DataFrame | None = None,
    required_ancestors: list[str] | None = None,
) -> Check | None:
    """``format: term`` folded to a pure expression when the filtered dim fits
    the driver — the shuffle-free twin of :func:`term_check` (same folding the
    CURIE registry gets). Returns None when the dim exceeds the fold cap (the
    caller falls back to the broadcast-join form).

    exact/label ⇒ ``isin`` over the collected value set (hash-set probe in
    codegen); suffix ⇒ ``exists(iris, i -> endswith(i, v))``, gated by the
    smaller cap because it is O(|dim|) per value.
    """
    cap = TERM_FOLD_MAX_SUFFIX if match_type == "suffix" else TERM_FOLD_MAX
    if match_type not in ("exact", "label", "suffix"):
        raise ValueError(f"unknown term matchType {match_type!r}")
    cand = _term_candidate_values(
        match_type, ontologies, terms, ancestors, required_ancestors
    )
    rows = cand.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    values = sorted(r["v"] for r in rows)

    if not values:
        pred = lambda v: F.lit(False)  # noqa: E731
    elif match_type == "suffix":
        lit_vals = F.lit(values)
        pred = lambda v: F.exists(lit_vals, lambda i: i.endswith(v))  # noqa: E731
    else:
        pred = lambda v: v.isin(values)  # noqa: E731

    return Check(
        check_id=f"format:term:{jpath}",
        ok=_forall(jpath, pred),
        message=F.format_string(
            "Term %s not found in ontologies "
            + _pct(", ".join(ontologies))
            + (
                " under ancestors " + _pct(", ".join(required_ancestors))
                if required_ancestors
                else ""
            ),
            _first_bad(jpath, pred),
        ),
    )


def term_check(
    jpath: str,
    match_type: str,
    ontologies: list[str],
    terms: DataFrame,
    ancestors: DataFrame | None = None,
    required_ancestors: list[str] | None = None,
) -> JoinCheck:
    """``format: term`` — broadcast semi-join against the terms dimension
    (``extensions/TermFormat.java:91-112``; ancestors via the precomputed
    ``rdfs:subClassOf*`` closure, lines 264-267).

    matchType: ``exact`` (value == class IRI), ``suffix``
    (``FILTER strends(str(?iri), value)``), ``label`` (value == rdfs:label).
    """
    check_id = f"format:term:{jpath}"
    flagged_terms = _filtered_terms(
        ontologies, terms, ancestors, required_ancestors
    )

    def apply(df: DataFrame, flag: str) -> DataFrame:
        vals = _vals(jpath)
        exploded = df.select(
            F.col("_row_id").alias("_tc_row_id"),
            F.explode_outer(vals).alias("_term_val"),
        )
        t = F.broadcast(flagged_terms)
        if match_type == "exact":
            m = exploded.join(
                t.select(F.col("iri").alias("_term_hit")).distinct(),
                exploded["_term_val"] == F.col("_term_hit"),
                "left",
            )
        elif match_type == "label":
            m = exploded.join(
                t.select(F.col("label").alias("_term_hit")).distinct(),
                exploded["_term_val"] == F.col("_term_hit"),
                "left",
            )
        elif match_type == "suffix":
            m = exploded.join(
                t.select(F.col("iri").alias("_term_hit")),
                F.col("_term_hit").endswith(exploded["_term_val"]),
                "left",
            )
        else:
            raise ValueError(f"unknown term matchType {match_type!r}")
        per_row = m.groupBy("_tc_row_id").agg(
            F.min(
                F.when(F.col("_term_val").isNull(), F.lit(True)).otherwise(
                    F.col("_term_hit").isNotNull()
                )
            ).alias(flag)
        )
        return df.join(
            per_row.withColumnRenamed("_tc_row_id", "_row_id"), "_row_id", "left"
        ).withColumn(flag, F.coalesce(F.col(flag), F.lit(True)))

    msg = F.format_string(
        "Term %s not found in ontologies " + _pct(", ".join(ontologies))
        + (" under ancestors " + _pct(", ".join(required_ancestors))
           if required_ancestors else ""),
        F.try_element_at(_vals(jpath), F.lit(1)),
    )
    return JoinCheck(check_id=check_id, apply=apply, message=msg)


# -------------------------------------------------- violation materialization
def checks_pass_predicate(
    checks: list[Check], flag_cols: list[str] | None = None
) -> Column:
    """Null-safe conjunction of all row-check ok columns (+ join-check flags).

    Pure codegen — used both as the violation pre-filter and as the pass-1
    survivor mask in the runner (replaces an anti-join + distinct shuffle)."""
    out = F.lit(True)
    for c in checks:
        out = out & F.coalesce(c.ok, F.lit(False))
    for fc in flag_cols or []:
        out = out & F.coalesce(F.col(fc), F.lit(True))
    return out


def check_entries(
    checks: list[Check], join_flags: dict[str, str] | None = None
) -> list[Column]:
    """(check_id, ok, message) structs for every check — the raw material of
    both apply_checks and the runner's single-scan kernel.

    ``message`` is gated on ¬ok (r6): passing entries never format their
    violation string — consumers only read messages of failing entries, and
    ungated messages both cost per-row format_string work and ride every
    shuffle of the entry array."""
    out = [
        F.struct(
            F.lit(c.check_id).alias("check_id"),
            F.coalesce(c.ok, F.lit(False)).alias("ok"),
            F.when(
                ~F.coalesce(c.ok, F.lit(False)),
                F.coalesce(c.message, F.lit("")),
            ).alias("message"),
        )
        for c in checks
    ]
    for jc_id, flag in (join_flags or {}).items():
        out.append(
            F.struct(
                F.lit(jc_id).alias("check_id"),
                F.coalesce(F.col(flag), F.lit(True)).alias("ok"),
                F.lit("").alias("message"),
            )
        )
    return out


def apply_checks(
    df: DataFrame,
    checks: list[Check],
    join_checks: list[JoinCheck],
    schema_id: str,
    source_col: str = "source",
    ord_col: str = "ord",
) -> DataFrame:
    """Evaluate all checks in ONE projection; return violation rows.

    Violations: (source, ord, schema_id, check_id, key_str=null, reason,
    description). A single array-of-structs → filter(¬ok) → explode keeps the
    whole pass inside one whole-stage-codegen span regardless of check count.
    """
    # composite row identity for join-check round-trips: the FULL (source,
    # ord) struct, never a 64-bit hash — at 10^12 rows xxhash64 birthday
    # collisions would cross-contaminate flags between distinct documents.
    work = df.withColumn(
        "_row_id",
        F.struct(F.col(source_col).alias("s"), F.col(ord_col).cast("long").alias("o")),
    )
    flag_cols: dict[str, str] = {}
    for i, jc in enumerate(join_checks):
        flag = f"_jc_ok_{i}"
        work = jc.apply(work, flag)
        flag_cols[jc.check_id] = flag

    entries = check_entries(checks) + [
        F.struct(
            F.lit(jc.check_id).alias("check_id"),
            F.coalesce(F.col(flag_cols[jc.check_id]), F.lit(True)).alias("ok"),
            F.when(
                ~F.coalesce(F.col(flag_cols[jc.check_id]), F.lit(True)),
                F.coalesce(jc.message, F.lit("")),
            ).alias("message"),
        )
        for jc in join_checks
    ]
    if not entries:
        return df.sparkSession.createDataFrame(
            [],
            "source string, ord long, schema_id string, check_id string, "
            "key_str string, reason string, description string",
        )

    # Cheap all-ok conjunction FIRST (pure codegen, no arrays): the struct
    # array with its format_string messages is only built for failing rows —
    # at web scale that is ~1% of the corpus instead of 100%.
    all_ok = checks_pass_predicate(checks, [flag_cols[jc.check_id] for jc in join_checks])
    # explode the UNFILTERED entry array and drop passing entries AFTER the
    # Generate (r6): F.filter is a CodegenFallback higher-order function, so
    # wrapping the array in it forced the whole entry subtree — every check
    # expression and message format — to re-evaluate INTERPRETED per failing
    # row. Explode is codegen'd; the post-explode ¬ok predicate is a cheap
    # column test on materialized structs. Same rows in the same order.
    # The ¬all_ok row gate lives INSIDE the explode (null array for passing
    # rows → explode emits nothing): a separate `where(~all_ok)` would
    # alias-inline the full check predicate and push it below any rebalance
    # exchange into the (possibly single-task) scan stage, evaluating every
    # check twice.
    return (
        work.select(
            F.col(source_col).alias("source"),
            F.col(ord_col).cast("long").alias("ord"),
            F.explode(F.when(~all_ok, F.array(*entries))).alias("_f"),
        )
        .where(~F.col("_f.ok"))
        .select(
            "source",
            "ord",
            F.lit(schema_id).alias("schema_id"),
            F.col("_f.check_id").alias("check_id"),
            F.lit(None).cast("string").alias("key_str"),
            F.lit("schema").alias("reason"),
            F.col("_f.message").alias("description"),
        )
    )
