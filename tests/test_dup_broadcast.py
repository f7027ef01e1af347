"""First-writer duplicate resolution on adversarial corners: the kernel's
key-only window must equal the two-pass reference on verdicts, violations
and the primary-key registry.

The corners: a schema-FAILED row holding the earliest ord of a duplicated
key (must NOT be recorded as first — ``ValidatedJSONSchema.java:360-392``),
keys whose every holder fails, lone-ok-holder keys, and null source / ord
identities.
"""

from __future__ import annotations

from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import (
    _kernel_fits, _validate_two_pass, validate_corpus,
)

from conftest import rows_set


SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "$id": "bc/1.0",
    "type": "object",
    "properties": {
        "url": {"type": "string", "minLength": 5},
        "n": {"type": "integer", "minimum": 0},
    },
    "required": ["url"],
    "primary_key": ["url"],
}

ROWS = [
    # (source, ord, url, n)
    ("a", 1, "http://x/1", 1),      # unique ok
    ("b", 2, "http://dup/a", 1),    # dup key, first OK holder
    ("c", 3, "http://dup/a", 2),    # dup violation (first=b)
    ("d", 4, "http://dup/a", -1),   # fails checks (n<0): no dup_pk, schema fail
    ("e", 5, "http://dup/b", -2),   # EARLIEST holder of dup/b FAILS checks...
    ("f", 6, "http://dup/b", 0),    # ...so f is the true first (validated)
    ("g", 7, "http://dup/b", 3),    # dup violation (first=f, NOT e)
    ("h", 8, "http://lone", -1),    # dup key where ONLY i passes → i rank 1
    ("i", 9, "http://lone", 4),
    ("j", 10, "bad", 5),            # fails minLength; unique key anyway
    ("k", 11, None, 6),             # required fails; no key
    (None, 12, "http://nullsrc", 7),   # null source identity
    ("m", None, "http://nullord", 8),  # null ord identity
    ("n", 13, "http://allfail", -3),   # every holder of allfail fails
    ("o", 14, "http://allfail", -4),
]


def test_failed_first_holder_not_recorded(spark):
    """The kernel's first-writer window against the two-pass reference on
    the adversarial corners: a schema-failed earliest holder is never
    recorded (``ValidatedJSONSchema.java:360-392``), a lone passing holder
    is rank 1, an all-failing key records nothing, and null source / ord
    identities hold their keys."""
    plan = compile_schema(SCHEMA)
    assert _kernel_fits(plan)
    corpus = {"bc/1.0": (plan, spark.createDataFrame(
        ROWS, "source string, ord long, url string, n long"
    ))}

    def outputs(res):
        out = (
            rows_set(res.verdicts, ["source", "ord", "validated", "status"]),
            rows_set(res.violations, [
                "source", "ord", "check_id", "key_str", "reason", "description",
            ]),
            rows_set(next(iter(res.pk_registries.values())),
                     ["key_str", "first_source", "first_ord"]),
        )
        res.release()
        return out

    kernel = outputs(validate_corpus(corpus))
    assert kernel == outputs(_validate_two_pass(corpus))

    verdicts, violations, pk = kernel
    assert pk == {
        ('["http://dup/a"]', "b", 2), ('["http://dup/b"]', "f", 6),
        ('["http://lone"]', "i", 9), ('["http://nullord"]', "m", None),
        ('["http://nullsrc"]', None, 12), ('["http://x/1"]', "a", 1),
    }
    # e fails checks; f is the recorded first of dup/b, g the duplicate
    assert ("f", 6, True, "ok") in verdicts
    assert any(
        v[0] == "g" and v[4] == "dup_pk" and "f and g" in v[5]
        for v in violations
    )
    # lone passing holder of a shared key is rank 1
    assert ("i", 9, True, "ok") in verdicts
    # all-failing key records nothing, raises no dup_pk
    assert not any(v[4] == "dup_pk" and v[0] in ("n", "o") for v in violations)
