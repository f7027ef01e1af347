"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship validation run on /root/testdata/sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
training-data ops); each callable takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (tables region nation
customer supplier part orders lineitem events documents embeddings are
pre-registered views). Every computed column is aliased identically on both
sides. Hash-stable tricks: md5 hex strings are byte-identical across engines;
floats are rounded; orderings are fully keyed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fairtracks_validator_spark.functions.text import (
    bpe_token_count,
    doc_fingerprint,
    dup_token_frac,
    gopher_metrics,
    gopher_pass,
    langid,
    quality_score,
    token_count,
    tokens as text_tokens,
    top_gram_frac,
)
from fairtracks_validator_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    verify_jaccard,
)
from fairtracks_validator_spark.operators.drift import (
    chi_square,
    ks_2samp_exact,
    ks_2samp_quantile,
)
from fairtracks_validator_spark.operators.similarity import cosine_topk, ivf_topk
from fairtracks_validator_spark.functions.pii import pii_counts, redact_pii
from fairtracks_validator_spark.operators.sampling import (
    stratified_sample,
    train_val_split,
)
from fairtracks_validator_spark.operators.stats import column_profile, top_k_per_group
from fairtracks_validator_spark.operators.uniqueness import uniqueness_check
from fairtracks_validator_spark.plans.schema_compile import compile_schema
from fairtracks_validator_spark.runner import validate_corpus

DOC_LANGS = ["en", "de", "es", "fr"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(df: DataFrame) -> DataFrame:
    """Decouple per-row compute parallelism from the input split count.

    The local testdata parquet is a single ~MB split, which would serialize
    the md5/shingle/stopword-heavy kernels onto one or two tasks no matter
    how many cores the session has. One round-robin shuffle of the narrow
    input relation spreads the CPU work across all cores; at cluster scale
    the input arrives in thousands of splits and the same call is a cheap
    rebalance (or can be dropped entirely)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _sorted_out(df: DataFrame, *keys: str) -> DataFrame:
    """Materialize an output-sized relation once, THEN globally sort it.

    A final ``orderBy`` plans a range exchange whose partitioner SAMPLES its
    child — a separate job that re-executes the whole lineage. For a
    map-only pipeline (scan → regex/UDF/HOF kernels → sort) that doubles
    the query: measured 15.4 s vs 5.3 s unsorted on the sf1.0 WARC probe
    and 5.3 s vs ~0.6 s on pii_redact. ``localCheckpoint(eager)`` runs the
    expensive part exactly once; the sampling pass then reads the
    checkpointed blocks. Output-sized relations only (violations, per-doc
    scores) — never a corpus-sized intermediate."""
    return df.localCheckpoint(eager=True).orderBy(*keys)


# --------------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full two-pass validation of the documents corpus."""
    return q_validate_documents(spark, "/root/testdata/sf0.001")


# ----------------------------------------------------------------- validation
def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("ord", F.col("doc_id")).withColumn(
        "source", F.col("doc_id").cast("string")
    )
    plan = compile_schema(
        {
            "$id": "documents/1.0",
            "required": ["text"],
            "primary_key": ["doc_id"],
            "properties": {
                "lang": {"enum": DOC_LANGS},
                "n_chars": {"type": "integer", "minimum": 1, "maximum": 100000},
            },
        }
    )
    res = validate_corpus({"documents/1.0": (plan, docs)})
    return _sorted_out(res.violations.select("source", "check_id"),
                       "source", "check_id")


_VALIDATE_DOCUMENTS_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS source, 'enum:lang' AS check_id
FROM documents
WHERE lang IS NOT NULL AND lang NOT IN ('en','de','es','fr')
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS source, 'required:text' AS check_id
FROM documents WHERE text IS NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS source, 'minimum:n_chars' AS check_id
FROM documents WHERE n_chars IS NOT NULL AND n_chars < 1
UNION ALL
SELECT CAST(doc_id AS VARCHAR) AS source, 'maximum:n_chars' AS check_id
FROM documents WHERE n_chars IS NOT NULL AND n_chars > 100000
UNION ALL
SELECT s2.source, 'pk' AS check_id FROM (
  SELECT CAST(doc_id AS VARCHAR) AS source,
         row_number() OVER (PARTITION BY doc_id ORDER BY doc_id) rn
  FROM documents WHERE text IS NOT NULL
        AND (lang IS NULL OR lang IN ('en','de','es','fr'))
        -- a doc failing ANY check records no key (code-review r4: the
        -- runner gates the key on the all-checks predicate, n_chars incl.)
        AND (n_chars IS NULL OR (n_chars >= 1 AND n_chars <= 100000))
) s2 WHERE rn > 1
ORDER BY source, check_id
"""


def q_validate_documents_draft7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draft-07 keyword surface end-to-end: $ref, anyOf, oneOf, allOf, not,
    multipleOf, uniqueItems, minItems, maxItems, array- and schema-form
    dependencies over the documents table."""
    docs = (
        _par(_t(spark, sf_dir, "documents"))
        .withColumn("ord", F.col("doc_id"))
        .withColumn("src", F.col("source"))
        .withColumn("source", F.col("doc_id").cast("string"))
        .withColumn(
            "tags", F.slice(F.split(F.coalesce(F.col("text"), F.lit("")), " "), 1, 5)
        )
    )
    plan = compile_schema(
        {
            "$id": "documents_draft7/1.0",
            "$schema": "http://json-schema.org/draft-07/schema#",
            "definitions": {"nonempty": {"minLength": 10}},
            # array-form property dependencies: a lang implies a text;
            # schema-form (r4): an n_chars implies lang present and en|de
            "dependencies": {
                "lang": ["text"],
                "n_chars": {
                    "required": ["lang"],
                    "properties": {"lang": {"pattern": "^(en|de)$"}},
                },
            },
            "properties": {
                "doc_id": {"oneOf": [{"multipleOf": 2}, {"multipleOf": 3}]},
                "n_chars": {"anyOf": [{"maximum": 150}, {"minimum": 250}]},
                "lang": {
                    "not": {"const": "de"},
                    # draft-07 conditional: langs starting with 'e' must be 'en'
                    "if": {"pattern": "^e"},
                    "then": {"const": "en"},
                },
                "src": {"allOf": [{"pattern": "^src"}, {"maxLength": 4}]},
                "text": {"$ref": "#/definitions/nonempty"},
                "tags": {
                    "uniqueItems": True, "minItems": 2, "maxItems": 4,
                    "contains": {"pattern": "^t"},
                    # tuple-form items: first word at least 2 chars
                    "items": [{"minLength": 2}],
                },
            },
        }
    )
    res = validate_corpus({"documents_draft7/1.0": (plan, docs)})
    return _sorted_out(res.violations.select("source", "check_id"),
                       "source", "check_id")


_VALIDATE_DRAFT7_SQL = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS src_id, doc_id, n_chars, lang, text,
         source AS src,
         (string_split(coalesce(text, ''), ' '))[1:5] AS tags
  FROM documents
)
SELECT src_id AS source, 'oneOf:doc_id' AS check_id FROM d
WHERE doc_id IS NOT NULL
  AND (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
       + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) <> 1
UNION ALL
SELECT src_id, 'anyOf:n_chars' FROM d
WHERE n_chars IS NOT NULL AND NOT (n_chars <= 150 OR n_chars >= 250)
UNION ALL
SELECT src_id, 'not:lang' FROM d WHERE lang IS NOT NULL AND lang = 'de'
UNION ALL
SELECT src_id, 'allOf:src' FROM d
WHERE src IS NOT NULL AND NOT (regexp_matches(src, '^src') AND length(src) <= 4)
UNION ALL
SELECT src_id, 'minLength:text' FROM d WHERE text IS NOT NULL AND length(text) < 10
UNION ALL
SELECT src_id, 'uniqueItems:tags' FROM d
WHERE tags IS NOT NULL AND len(list_distinct(tags)) <> len(tags)
UNION ALL
SELECT src_id, 'minItems:tags' FROM d WHERE tags IS NOT NULL AND len(tags) < 2
UNION ALL
SELECT src_id, 'maxItems:tags' FROM d WHERE tags IS NOT NULL AND len(tags) > 4
UNION ALL
SELECT src_id, 'ifThenElse:lang' FROM d
WHERE lang IS NOT NULL AND regexp_matches(lang, '^e') AND lang <> 'en'
UNION ALL
SELECT src_id, 'contains:tags' FROM d
WHERE tags IS NOT NULL
  AND len(list_filter(tags, t -> regexp_matches(t, '^t'))) = 0
UNION ALL
SELECT src_id, 'dependencies:lang' FROM d
WHERE lang IS NOT NULL AND text IS NULL
UNION ALL
SELECT src_id, 'dependencies:n_chars' FROM d
WHERE n_chars IS NOT NULL
  AND NOT (lang IS NOT NULL AND regexp_matches(lang, '^(en|de)$'))
UNION ALL
SELECT src_id, 'items:tags[0]' FROM d
WHERE tags IS NOT NULL AND len(tags) >= 1
  AND tags[1] IS NOT NULL AND length(tags[1]) < 2
ORDER BY source, check_id
"""


def q_validate_documents_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draft-07 ``format`` enforcement (date/date-time/email/hostname/ipv4/
    ipv6) over columns derived deterministically from doc_id — the identical
    derivation runs in DuckDB, and the identical anchored regexes run in both
    engines (RE2-compatible by construction)."""
    d = _par(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    docs = d.select(
        did.alias("ord"),
        did.cast("string").alias("source"),
        F.concat(
            F.lit("2024-"),
            F.lpad(((did % 14) + 1).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(((did % 33) + 1).cast("string"), 2, "0"),
        ).alias("date_s"),
        F.concat(
            F.lit("2024-03-0"), ((did % 9) + 1).cast("string"),
            F.when(did % 6 == 0, F.lit(" ")).otherwise(F.lit("T")),
            F.lit("12:34:5"), (did % 10).cast("string"), F.lit("Z"),
        ).alias("dt_s"),
        F.concat(
            F.lit("user"), did.cast("string"),
            F.when(did % 5 == 0, F.lit("@@example.com")).otherwise(
                F.lit("@example.com")
            ),
        ).alias("email_s"),
        F.concat(
            F.when(did % 4 == 0, F.lit("host_")).otherwise(F.lit("host-")),
            did.cast("string"), F.lit(".example.org"),
        ).alias("host_s"),
        F.concat(
            ((did * 7) % 300).cast("string"), F.lit(".10.0."),
            (did % 256).cast("string"),
        ).alias("ip_s"),
        F.when(did % 3 == 0, F.lit("2001:db8:::5")).otherwise(
            F.concat(F.lit("2001:db8::"), (did % 9999).cast("string"))
        ).alias("ip6_s"),
    )
    plan = compile_schema(
        {
            "$id": "documents_formats/1.0",
            "properties": {
                "date_s": {"format": "date"},
                "dt_s": {"format": "date-time"},
                "email_s": {"format": "email"},
                "host_s": {"format": "hostname"},
                "ip_s": {"format": "ipv4"},
                "ip6_s": {"format": "ipv6"},
            },
        }
    )
    res = validate_corpus({"documents_formats/1.0": (plan, docs)})
    # plain orderBy (no _sorted_out): the fused formats plan is the pruning
    # test's witness (ReadSchema must show the doc_id-only scan), and the
    # range-sample recompute is parallel post-_par and cheap here
    return res.violations.select("source", "check_id").orderBy(
        "source", "check_id"
    )


def _validate_formats_sql() -> str:
    from fairtracks_validator_spark.operators.checks import FORMAT_PATTERNS

    def p(fmt: str) -> str:
        return FORMAT_PATTERNS[fmt].replace("'", "''")

    return f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS source,
    '2024-' || lpad(CAST(doc_id % 14 + 1 AS VARCHAR), 2, '0') || '-'
            || lpad(CAST(doc_id % 33 + 1 AS VARCHAR), 2, '0') AS date_s,
    '2024-03-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
            || (CASE WHEN doc_id % 6 = 0 THEN ' ' ELSE 'T' END)
            || '12:34:5' || CAST(doc_id % 10 AS VARCHAR) || 'Z' AS dt_s,
    'user' || CAST(doc_id AS VARCHAR)
            || (CASE WHEN doc_id % 5 = 0 THEN '@@example.com'
                     ELSE '@example.com' END) AS email_s,
    (CASE WHEN doc_id % 4 = 0 THEN 'host_' ELSE 'host-' END)
            || CAST(doc_id AS VARCHAR) || '.example.org' AS host_s,
    CAST((doc_id * 7) % 300 AS VARCHAR) || '.10.0.'
            || CAST(doc_id % 256 AS VARCHAR) AS ip_s,
    (CASE WHEN doc_id % 3 = 0 THEN '2001:db8:::5'
          ELSE '2001:db8::' || CAST(doc_id % 9999 AS VARCHAR) END) AS ip6_s
  FROM documents
)
SELECT source, 'format:date:date_s' AS check_id FROM d
WHERE NOT regexp_matches(date_s, '{p("date")}')
UNION ALL
SELECT source, 'format:date-time:dt_s' FROM d
WHERE NOT regexp_matches(dt_s, '{p("date-time")}')
UNION ALL
SELECT source, 'format:email:email_s' FROM d
WHERE NOT regexp_matches(email_s, '{p("email")}')
UNION ALL
SELECT source, 'format:hostname:host_s' FROM d
WHERE NOT (length(host_s) <= 253 AND regexp_matches(host_s, '{p("hostname")}'))
UNION ALL
SELECT source, 'format:ipv4:ip_s' FROM d
WHERE NOT regexp_matches(ip_s, '{p("ipv4")}')
UNION ALL
SELECT source, 'format:ipv6:ip6_s' FROM d
WHERE NOT regexp_matches(ip6_s, '{p("ipv6")}')
ORDER BY source, check_id
"""


def q_pk_dup_orders_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness operator under heavy duplication: treat o_custkey as a PK
    of orders — every repeat order blames the customer's first order."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("source"),
        F.col("o_orderkey").alias("ord"),
        "o_custkey",
    )
    res = uniqueness_check(orders, "pk", ["o_custkey"], "orders/1.0")
    return res.violations.select("source", "key_str", "description")


_PK_DUP_ORDERS_SQL = """
WITH k AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS source, o_orderkey AS ord,
         '["' || CAST(o_custkey AS VARCHAR) || '"]' AS key_str
  FROM orders WHERE o_custkey IS NOT NULL
), r AS (
  SELECT source, key_str,
         row_number() OVER (PARTITION BY key_str ORDER BY ord, source) rn,
         first_value(source) OVER (PARTITION BY key_str ORDER BY ord, source) fs
  FROM k
)
SELECT source, key_str,
       'Duplicate PK in ' || fs || ' and ' || source AS description
FROM r WHERE rn > 1
"""


def q_fk_missing_events_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK anti-join: events.user_id → customer.c_custkey restricted to
    c_custkey < 100 (so the violation set is non-trivial)."""
    from fairtracks_validator_spark.operators.fk import fk_check

    events = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("source"),
        F.col("event_id").alias("ord"),
        "user_id",
    )
    pk = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select(
            F.lit("customer/1.0").alias("schema_id"),
            F.lit("pk").alias("check_id"),
            F.concat(F.lit('["'), F.col("c_custkey").cast("string"), F.lit('"]')).alias("key_str"),
            F.lit("seed").alias("first_source"),
        )
    )
    viol = fk_check(events, "fk0", ["user_id"], "events/1.0", "customer/1.0",
                    pk, pk_known_empty=False)
    return viol.select("source", "key_str")


_FK_MISSING_EVENTS_SQL = """
SELECT CAST(event_id AS VARCHAR) AS source,
       '["' || CAST(user_id AS VARCHAR) || '"]' AS key_str
FROM events
WHERE user_id IS NOT NULL
  AND '["' || CAST(user_id AS VARCHAR) || '"]' NOT IN (
    SELECT '["' || CAST(c_custkey AS VARCHAR) || '"]'
    FROM customer WHERE c_custkey < 100
  )
"""


def q_validate_multischema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-schema PK→FK lifecycle on the runner's single-plan kernel (flat
    keys, one uniqueness constraint per schema): customers failing their
    own schema check never record PK keys (ValidatedJSONSchema.java:360-392),
    so events referencing them FK-fail; events failing pass 1 are masked out
    of pass 2 (FairGTrackValidatorCli.java:276-315)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("u"), F.col("c_custkey").cast("string")).alias("source"),
        F.col("c_custkey").alias("ord"), "c_custkey", "c_acctbal",
    )
    ev = _par(_t(spark, sf_dir, "events")).select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("source"),
        F.col("event_id").alias("ord"), "user_id", "value",
    )
    users_plan = compile_schema({
        "$id": "users/1.0", "primary_key": ["c_custkey"],
        "properties": {"c_acctbal": {"minimum": 0}},
    })
    events_plan = compile_schema({
        "$id": "events/1.0",
        "properties": {"value": {"maximum": 400}},
        "foreign_keys": [{"schema_id": "users/1.0", "members": ["user_id"]}],
    })
    res = validate_corpus(
        {"users/1.0": (users_plan, cust), "events/1.0": (events_plan, ev)}
    )
    return _sorted_out(res.violations.select("source", "check_id", "key_str"),
        "source", "check_id", "key_str"
    )


_VALIDATE_MULTISCHEMA_SQL = """
WITH recorded AS (
  -- pass-1 survivors record their PK; schema-failed customers do NOT
  SELECT '["' || CAST(c_custkey AS VARCHAR) || '"]' AS key_str
  FROM customer WHERE c_acctbal IS NULL OR c_acctbal >= 0
)
SELECT 'u' || CAST(c_custkey AS VARCHAR) AS source,
       'minimum:c_acctbal' AS check_id, CAST(NULL AS VARCHAR) AS key_str
FROM customer WHERE c_acctbal IS NOT NULL AND c_acctbal < 0
UNION ALL
SELECT 'e' || CAST(event_id AS VARCHAR), 'maximum:value', CAST(NULL AS VARCHAR)
FROM events WHERE value IS NOT NULL AND value > 400
UNION ALL
SELECT 'e' || CAST(event_id AS VARCHAR), 'fk:.:0',
       '["' || CAST(user_id AS VARCHAR) || '"]'
FROM events
WHERE (value IS NULL OR value <= 400)  -- pass-1 failures masked from pass 2
  AND user_id IS NOT NULL
  AND '["' || CAST(user_id AS VARCHAR) || '"]' NOT IN (SELECT key_str FROM recorded)
ORDER BY source, check_id, key_str
"""


# --------------------------------------------------------------------- stats
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return column_profile(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_totalprice", "o_orderdate"],
        exact_distinct=True,
    )


def _profile_sql(table: str, cols: list[str]) -> str:
    parts = [
        f"""SELECT '{c}' AS column, COUNT(*)::BIGINT AS n_rows,
        SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        ROUND(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 1.0
              / GREATEST(COUNT(*), 1), 6) AS null_rate,
        CAST(MIN({c}) AS VARCHAR) AS min_str, CAST(MAX({c}) AS VARCHAR) AS max_str,
        COUNT(DISTINCT {c})::BIGINT AS n_distinct FROM {table}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return column_profile(
        _t(spark, sf_dir, "documents"), ["lang", "n_chars", "source"],
        exact_distinct=True,
    )


def q_quantile_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + sketch quantiles in one scan; the oracle checks the exact
    values and the sketch's rank-error verdict (numeric-bound pattern)."""
    from fairtracks_validator_spark.operators.stats import quantile_profile

    return quantile_profile(
        _t(spark, sf_dir, "orders"), ["o_totalprice", "o_custkey"]
    ).orderBy("column", "q")


def _quantile_profile_sql() -> str:
    arms = []
    for c in ("o_custkey", "o_totalprice"):
        for q in (0.25, 0.5, 0.75, 0.9):
            arms.append(
                f"SELECT '{c}' AS \"column\", CAST({q} AS DOUBLE) AS q, "
                f"ROUND(quantile_cont(CAST({c} AS DOUBLE), {q}), 6) AS exact_q, "
                f"TRUE AS within_tol FROM orders"
            )
    return " UNION ALL ".join(arms) + ' ORDER BY "column", q'


def q_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-safe count(DISTINCT user) per event_type: the heavy shuffle is
    keyed by (group, value) — the value is the built-in salt."""
    from fairtracks_validator_spark.operators.stats import distinct_count_per_group

    return distinct_count_per_group(
        _t(spark, sf_dir, "events"), "event_type", "user_id"
    ).orderBy("event_type")


_DISTINCT_USERS_SQL = """
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_distinct
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_histogram_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fairtracks_validator_spark.operators.stats import histogram

    return histogram(_t(spark, sf_dir, "events"), "value", 0.0, 500.0, buckets=20)


_HISTOGRAM_EVENTS_SQL = """
WITH b AS (
  SELECT CASE WHEN CAST(value AS DOUBLE) < 0.0 THEN 0
              WHEN CAST(value AS DOUBLE) >= 500.0 THEN 21
              ELSE CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 500.0 * 20) + 1 AS INT)
         END AS bucket
  FROM events WHERE value IS NOT NULL
)
SELECT bucket::INT AS bucket,
       ROUND(0.0::DOUBLE + (bucket - 1) * 25.0::DOUBLE, 6) AS lo_edge,
       ROUND(0.0::DOUBLE + bucket * 25.0::DOUBLE, 6) AS hi_edge,
       COUNT(*)::BIGINT AS n
FROM b GROUP BY bucket ORDER BY bucket
"""


def q_psi_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index: value distribution drift of clicks
    (observed) vs views (reference)."""
    from fairtracks_validator_spark.operators.stats import psi

    return psi(_t(spark, sf_dir, "events"), "value", "event_type",
               "view", "click", lo=0.0, hi=500.0, buckets=10)


_PSI_EVENTS_SQL = """
WITH s AS (
  SELECT CASE WHEN v < 0.0 THEN 0 WHEN v >= 500.0 THEN 11
              ELSE CAST(FLOOR((v - 0.0) / 500.0 * 10) + 1 AS INT) END AS bucket,
         (event_type = 'click') AS is_obs
  FROM (SELECT CAST(value AS DOUBLE) AS v, event_type FROM events
        WHERE event_type IN ('view', 'click') AND value IS NOT NULL)
),
cells AS (
  SELECT bucket,
         SUM(CASE WHEN is_obs THEN 0 ELSE 1 END) AS c_ref,
         SUM(CASE WHEN is_obs THEN 1 ELSE 0 END) AS c_obs
  FROM s GROUP BY bucket
),
t AS (SELECT SUM(c_ref) AS n_ref, SUM(c_obs) AS n_obs FROM cells)
SELECT n_ref::BIGINT AS n_ref, n_obs::BIGINT AS n_obs,
       ROUND(SUM(
         (GREATEST(c_obs * 1.0 / n_obs, 0.000001)
          - GREATEST(c_ref * 1.0 / n_ref, 0.000001))
         * LN(GREATEST(c_obs * 1.0 / n_obs, 0.000001)
              / GREATEST(c_ref * 1.0 / n_ref, 0.000001))
       ), 6) AS psi
FROM cells, t GROUP BY n_ref, n_obs
"""


def q_psi_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitor: PSI of each hour's value distribution vs
    the previous observed hour (windowed twin of psi_events_value)."""
    from fairtracks_validator_spark.operators.stats import psi_timeseries

    return psi_timeseries(_t(spark, sf_dir, "events"), "value", "ts",
                          lo=0.0, hi=500.0, buckets=10)


_PSI_HOURLY_SQL = """
WITH s AS (
  SELECT date_trunc('hour', ts) AS w,
         CASE WHEN CAST(value AS DOUBLE) < 0.0 THEN 0
              WHEN CAST(value AS DOUBLE) >= 500.0 THEN 11
              ELSE CAST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 500.0 * 10) + 1 AS INT)
         END AS b
  FROM events WHERE value IS NOT NULL
),
cells AS (SELECT w, b, COUNT(*)::BIGINT AS n FROM s GROUP BY w, b),
wins AS (SELECT DISTINCT w FROM cells),
grid AS (SELECT w, gb.b FROM wins, (SELECT unnest(range(0, 12)) AS b) gb),
full_t AS (
  SELECT g.w, g.b, COALESCE(c.n, 0) AS n
  FROM grid g LEFT JOIN cells c ON c.w = g.w AND c.b = g.b
),
sh AS (
  SELECT w, b, n * 1.0 / SUM(n) OVER (PARTITION BY w) AS share FROM full_t
),
pl AS (
  SELECT w, b, share,
         lag(share) OVER (PARTITION BY b ORDER BY w) AS prev
  FROM sh
)
SELECT CAST(w AS VARCHAR) AS window_start,
       ROUND(SUM((GREATEST(share, 0.000001) - GREATEST(prev, 0.000001))
                 * LN(GREATEST(share, 0.000001) / GREATEST(prev, 0.000001))),
             6) AS psi
FROM pl WHERE prev IS NOT NULL
GROUP BY w ORDER BY window_start
"""


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch cardinalities with a numeric-bound oracle: the sketch
    registers are engine-specific, so the oracled columns are the EXACT
    distinct counts plus booleans asserting |approx − exact| ≤ 3·rsd·exact
    (the documented accuracy contract — VERDICT r2 #7; previously a
    rows-only check)."""
    li = _t(spark, sf_dir, "lineitem")
    rsd = 0.02
    # one agg per aggregate FAMILY, combined by 1-row cross joins, instead of
    # mixing two countDistinct with the sketches in a single agg: the mixed
    # form plans as Expand ×3 (18M rows at sf1.0) with partial HLL sketch
    # buffers (2×410 longs) carried PER DISTINCT KEY GROUP — ~54 s at sf1.0,
    # almost all of it building/merging millions of dead sketch buffers.
    # Split, the sketches partial-aggregate map-side (2 buffers total) and
    # each exact count is a plain two-stage distinct — same single-row
    # result (oracle-verified), ~20x faster.
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd).alias("ao"),
        F.approx_count_distinct("l_partkey", rsd).alias("ap"),
    )
    exact_o = (
        li.select("l_orderkey").where(F.col("l_orderkey").isNotNull())
        .distinct().agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    exact_p = (
        li.select("l_partkey").where(F.col("l_partkey").isNotNull())
        .distinct().agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    agg = approx.crossJoin(exact_o).crossJoin(exact_p)
    return agg.select(
        "exact_orders",
        "exact_parts",
        (F.abs(F.col("ao") - F.col("exact_orders"))
         <= 3 * rsd * F.col("exact_orders")).alias("orders_within_3rsd"),
        (F.abs(F.col("ap") - F.col("exact_parts"))
         <= 3 * rsd * F.col("exact_parts")).alias("parts_within_3rsd"),
    )


_HLL_CARDINALITY_SQL = """
SELECT COUNT(DISTINCT l_orderkey)::BIGINT AS exact_orders,
       COUNT(DISTINCT l_partkey)::BIGINT AS exact_parts,
       TRUE AS orders_within_3rsd,
       TRUE AS parts_within_3rsd
FROM lineitem
"""


# --------------------------------------------------------------------- drift
def q_ks_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ks_2samp_exact(_t(spark, sf_dir, "events"), "value", "event_type",
                          "click", "view")


_KS_EVENTS_SQL = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END ia
  FROM events WHERE event_type IN ('click','view') AND value IS NOT NULL
), pv AS (
  SELECT v, SUM(ia) ca, SUM(1 - ia) cb FROM s GROUP BY v
), c AS (
  SELECT v, SUM(ca) OVER (ORDER BY v) cum_a, SUM(cb) OVER (ORDER BY v) cum_b
  FROM pv
), t AS (SELECT SUM(ia) na, SUM(1 - ia) nb FROM s)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(MAX(ABS(cum_a * 1.0 / na - cum_b * 1.0 / nb)), 6) AS ks_stat
FROM c, t GROUP BY na, nb
"""


def q_ks_per_lang_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KS via applyInPandas (grouped pandas UDAF, SURVEY §2.10):
    text-length drift per lang between even/odd doc halves."""
    from fairtracks_validator_spark.operators.drift import ks_per_group_pandas

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("double").alias("v"),
        F.when(F.col("doc_id") % 2 == 0, "h0").otherwise("h1").alias("half"),
    )
    return _sorted_out(ks_per_group_pandas(docs, "v", "lang", "half"), "lang")


_KS_PER_LANG_SQL = """
WITH s AS (
  SELECT lang, CAST(n_chars AS DOUBLE) v,
         CASE WHEN doc_id % 2 = 0 THEN 'h0' ELSE 'h1' END h
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
pv AS (
  SELECT lang, v,
         SUM(CASE WHEN h = 'h0' THEN 1 ELSE 0 END) ca,
         SUM(CASE WHEN h = 'h1' THEN 1 ELSE 0 END) cb
  FROM s GROUP BY lang, v
),
c AS (
  SELECT lang,
         SUM(ca) OVER (PARTITION BY lang ORDER BY v) cum_a,
         SUM(cb) OVER (PARTITION BY lang ORDER BY v) cum_b
  FROM pv
),
t AS (
  SELECT lang,
         SUM(CASE WHEN h = 'h0' THEN 1 ELSE 0 END) na,
         SUM(CASE WHEN h = 'h1' THEN 1 ELSE 0 END) nb
  FROM s GROUP BY lang
)
SELECT t.lang AS lang, na::BIGINT AS n_a, nb::BIGINT AS n_b,
       ROUND(MAX(ABS(cum_a * 1.0 / na - cum_b * 1.0 / nb)), 6) AS ks_stat
FROM c JOIN t USING (lang) GROUP BY t.lang, na, nb ORDER BY lang
"""


def q_chi_square_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "grp", (F.col("user_id") % 2).cast("string")
    )
    return chi_square(ev, "event_type", "grp")


_CHI_SQUARE_EVENTS_SQL = """
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) b, CAST(user_id % 2 AS VARCHAR) g
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
), cells AS (SELECT b, g, COUNT(*)::BIGINT o FROM base GROUP BY b, g),
rt AS (SELECT b, SUM(o) row_n FROM cells GROUP BY b),
ct AS (SELECT g, SUM(o) col_n FROM cells GROUP BY g),
n AS (SELECT SUM(o) n FROM cells),
full_t AS (
  SELECT rt.b, ct.g, COALESCE(cells.o, 0) o, rt.row_n, ct.col_n, n.n,
         rt.row_n * ct.col_n * 1.0 / n.n e
  FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.b = rt.b AND cells.g = ct.g
  CROSS JOIN n
)
SELECT MIN(n)::BIGINT AS n,
       ((COUNT(DISTINCT b) - 1) * (COUNT(DISTINCT g) - 1))::BIGINT AS dof,
       ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2
FROM full_t
"""


def q_ks_quantile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based KS (the 10^12-row path) with a numeric-bound oracle:
    the approximate statistic must sit within sketch-accuracy + 1/B of the
    exact KS (VERDICT r2 #7 — previously a rows-only check). Oracled
    columns: exact group sizes + the tolerance verdict."""
    ev = _t(spark, sf_dir, "events")
    approx = ks_2samp_quantile(ev, "value", "event_type", "click", "view",
                               buckets=256)
    exact = ks_2samp_exact(ev, "value", "event_type", "click", "view")
    tol = 1.0 / 256 + 1.0 / 10000 + 1e-6  # 1/B + percentile_approx rank err
    return approx.crossJoin(
        exact.select(F.col("ks_stat").alias("ks_exact"))
    ).select(
        "n_a",
        "n_b",
        (F.abs(F.col("ks_stat") - F.col("ks_exact")) <= tol).alias("within_tol"),
    )


_KS_QUANTILE_SQL = """
SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_a,
       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_b,
       TRUE AS within_tol
FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
"""


def q_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) over the events stream."""
    from fairtracks_validator_spark.operators.sessions import session_stats

    return _sorted_out(
        session_stats(
            _t(spark, sf_dir, "events"), "user_id", "ts",
            order_tiebreak="event_id", gap_seconds=1800,
        ),
        "user_id", "session_id",
    )


# FLOOR(epoch(...)) replicates Spark's unix_timestamp second-truncation
_SESSIONS_EVENTS_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR FLOOR(epoch(ts)) - FLOOR(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
assigned AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id::BIGINT AS user_id, session_id::BIGINT AS session_id,
       COUNT(*)::BIGINT AS n_events,
       MIN(FLOOR(epoch(ts)))::BIGINT AS start_epoch,
       MAX(FLOOR(epoch(ts)))::BIGINT AS end_epoch,
       (MAX(FLOOR(epoch(ts))) - MIN(FLOOR(epoch(ts))))::BIGINT AS duration_s
FROM assigned GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# --------------------------------------------------- windowed aggregation
def q_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the streaming op)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("window_start", "event_type")
    )


_EVENTS_HOURLY_SQL = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start, event_type,
       COUNT(*)::BIGINT AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------- dedup
def _docs_with_clones(
    spark: SparkSession, sf_dir: str, suffix: str = "", par: bool = True
) -> DataFrame:
    """documents ∪ clones of doc_id<20 (id+1000000), optionally perturbed.

    ``par=True`` round-robins the narrow input across all cores — worth it
    for md5/shingle/HOF-heavy kernels, a net loss for the cheap exact-dedup
    digest (VERDICT r2 regression), so that caller opts out."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        (F.concat(F.col("text"), F.lit(suffix)) if suffix else F.col("text")).alias("text"),
    )
    out = docs.unionByName(clones)
    return _par(out) if par else out


_DOCS_CLONES_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text {SUFFIX} AS text
  FROM documents WHERE doc_id < 20
"""


def q_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(
        _docs_with_clones(spark, sf_dir, par=False), "doc_id", "text"
    )


_EXACT_DEDUP_SQL = f"""
WITH corpus AS ({_DOCS_CLONES_SQL.replace('{SUFFIX}', '')}),
h AS (SELECT doc_id AS id, md5(text) AS content_hash FROM corpus WHERE text IS NOT NULL),
g AS (SELECT content_hash, MIN(id) canonical_id, COUNT(*) n FROM h GROUP BY content_hash)
SELECT h.id::BIGINT AS dup_id, g.canonical_id::BIGINT AS canonical_id, h.content_hash
FROM h JOIN g USING (content_hash)
WHERE g.n > 1 AND h.id <> g.canonical_id
"""

# DuckDB replication of tokens→shingles→minhash→bands (md5-parity with Spark)
_SQL_TOKENS = "list_filter(string_split(regexp_replace(coalesce(text,''), '\\s+', ' ', 'g'), ' '), x -> x <> '')"
_SQL_SHINGLES = (
    "list_distinct([ words[i] || ' ' || words[i+1] || ' ' || words[i+2] "
    "for i in range(1, greatest(len(words) - 1, 1)) ])"
)


def q_minhash_lsh_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_candidates(
        _docs_with_clones(spark, sf_dir, suffix=" extra extra"),
        "doc_id", "text", num_hashes=8, bands=4,
    ).orderBy("id_a", "id_b")


def _minhash_cand_cte(suffix_sql: str = "|| ' extra extra'") -> str:
    """DuckDB CTE chain replicating tokens→shingles→affine-minhash→bands→
    candidate pairs (md5-parity with the Spark expressions); reused by the
    LSH-candidates oracle and the LSH→verify pipeline oracles."""
    from fairtracks_validator_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    a = "[" + ", ".join(str(x) for x in MINHASH_A) + "]"
    b = "[" + ", ".join(str(x) for x in MINHASH_B) + "]"
    return f"""
corpus AS ({_DOCS_CLONES_SQL.replace("{SUFFIX}", suffix_sql)}),
tok AS (SELECT doc_id AS id, {_SQL_TOKENS} AS words FROM corpus),
sh AS (SELECT id, {_SQL_SHINGLES} AS shingles FROM tok WHERE len(words) >= 3),
hx AS (
  SELECT id, [ ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}
               for s in shingles ] AS xs
  FROM sh WHERE len(shingles) > 0
),
sig AS (
  SELECT id, [ list_min([ ({a}[i+1] * x + {b}[i+1]) % {MINHASH_P} for x in xs ])
               for i in range(0, 8) ] AS sg
  FROM hx
),
banded AS (
  SELECT id, b AS band, md5(array_to_string(sg[b*2+1 : b*2+2], '|')) AS band_key
  FROM sig, (SELECT unnest(range(0, 4)) b)
),
cand AS (
  SELECT l.id AS ia, r.id AS ib, COUNT(*) AS shared_bands
  FROM banded l JOIN banded r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.id < r.id
  GROUP BY l.id, r.id
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_cand_cte()}
SELECT ia::BIGINT AS id_a, ib::BIGINT AS id_b, shared_bands::BIGINT AS shared_bands
FROM cand ORDER BY id_a, id_b
"""


def q_minhash_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for n-gram dedup: LSH candidates → exact Jaccard
    verification restricted to those pairs (no corpus self-join)."""
    docs = _docs_with_clones(spark, sf_dir, suffix=" extra extra")
    cands = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=8, bands=4)
    return verify_jaccard(cands, docs, "doc_id", "text", n=3, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def _minhash_verified_sql() -> str:
    return f"""
WITH {_minhash_cand_cte()},
sets AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0)
SELECT c.ia::BIGINT AS id_a, c.ib::BIGINT AS id_b,
       ROUND(len(list_intersect(x.shingles, y.shingles)) * 1.0
             / (len(x.shingles) + len(y.shingles)
                - len(list_intersect(x.shingles, y.shingles))), 6) AS jaccard
FROM cand c JOIN sets x ON x.id = c.ia JOIN sets y ON y.id = c.ib
WHERE ROUND(len(list_intersect(x.shingles, y.shingles)) * 1.0
            / (len(x.shingles) + len(y.shingles)
               - len(list_intersect(x.shingles, y.shingles))), 6) >= 0.5
ORDER BY id_a, id_b
"""




_PAD_SUFFIX = (" pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8"
               " pad9 pad10 pad11 pad12")


def q_containment_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-metric verification (|A∩B| / min(|A|,|B|)): clones padded
    with 12 boilerplate words stay containment≈1.0 while their Jaccard is
    diluted — the subset-duplication detector for page ⊂ page+chrome."""
    docs = _docs_with_clones(spark, sf_dir, suffix=_PAD_SUFFIX)
    cands = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=8, bands=4)
    return verify_jaccard(
        cands, docs, "doc_id", "text", n=3, threshold=0.8,
        metric="containment",
    ).orderBy("id_a", "id_b")


def _containment_verified_sql() -> str:
    cte = _minhash_cand_cte(suffix_sql=f"|| '{_PAD_SUFFIX}'")
    cm = ("len(list_intersect(x.shingles, y.shingles)) * 1.0"
          " / least(len(x.shingles), len(y.shingles))")
    return f"""
WITH {cte},
sets AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0)
SELECT c.ia::BIGINT AS id_a, c.ib::BIGINT AS id_b,
       ROUND({cm}, 6) AS containment
FROM cand c JOIN sets x ON x.id = c.ia JOIN sets y ON y.id = c.ib
WHERE ROUND({cm}, 6) >= 0.8
ORDER BY id_a, id_b
"""


def q_dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline tail: LSH candidates → exact Jaccard verify →
    connected components → (id, cluster_rep) keep/drop assignments."""
    from fairtracks_validator_spark.operators.dedup import dedup_components

    docs = _docs_with_clones(spark, sf_dir, suffix=" extra extra")
    cands = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=8, bands=4)
    pairs = verify_jaccard(cands, docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup_components(pairs).orderBy("id")


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_cand_cte()},
sets AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0),
vp AS (
  SELECT c.ia AS id_a, c.ib AS id_b
  FROM cand c JOIN sets x ON x.id = c.ia JOIN sets y ON y.id = c.ib
  WHERE ROUND(len(list_intersect(x.shingles, y.shingles)) * 1.0
              / (len(x.shingles) + len(y.shingles)
                 - len(list_intersect(x.shingles, y.shingles))), 6) >= 0.5
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION
  SELECT id_b AS s, id_a AS d FROM vp
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s::BIGINT AS id, LEAST(s, MIN(d))::BIGINT AS cluster_rep
FROM reach GROUP BY s ORDER BY id
"""


def q_dedup_keep_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection: dedup clusters × quality scores → per-member
    keep/drop verdict (argmax quality, min id on ties — originals beat
    their suffixed clones only via the tie-break when quality rounds
    equal, so the tie path is genuinely exercised)."""
    from fairtracks_validator_spark.operators.dedup import (
        dedup_components,
        resolve_keepers,
    )

    docs = _docs_with_clones(spark, sf_dir, suffix=" extra extra")
    cands = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=8, bands=4)
    pairs = verify_jaccard(cands, docs, "doc_id", "text", n=3, threshold=0.5)
    comps = dedup_components(pairs)
    scores = docs.select(
        F.col("doc_id").alias("id"), quality_score(F.col("text")).alias("q")
    )
    out = resolve_keepers(comps, scores, id_col="id", score_col="q")
    return _sorted_out(
        out.select(
            F.col("id").alias("doc_id"), "cluster_rep",
            F.col("q").alias("quality"), "keep",
        ),
        "doc_id",
    )


def _dedup_keep_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_cand_cte()},
sets AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0),
vp AS (
  SELECT c.ia AS id_a, c.ib AS id_b
  FROM cand c JOIN sets x ON x.id = c.ia JOIN sets y ON y.id = c.ib
  WHERE ROUND(len(list_intersect(x.shingles, y.shingles)) * 1.0
              / (len(x.shingles) + len(y.shingles)
                 - len(list_intersect(x.shingles, y.shingles))), 6) >= 0.5
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION
  SELECT id_b AS s, id_a AS d FROM vp
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
clusters AS (
  SELECT s AS id, LEAST(s, MIN(d)) AS cluster_rep FROM reach GROUP BY s
),
qm AS (
  SELECT doc_id, coalesce(text, '') AS t, {_SQL_TOKENS} AS words FROM corpus
),
qs AS (
  SELECT doc_id,
    ROUND(
      0.4 * least(len(words) / 20.0, 1.0)
      + 0.4 * (CASE WHEN len(words) > 0
               THEN len(list_filter(words, x -> regexp_matches(x, '^[A-Za-z]+$'))) * 1.0 / len(words)
               ELSE 0.0 END)
      + 0.2 * (1.0 - least((CASE WHEN length(t) > 0
                            THEN len(regexp_extract_all(t, '[^\\sA-Za-z0-9_]')) * 1.0 / length(t)
                            ELSE 1.0 END) * 4, 1.0)), 6) AS q
  FROM qm
),
ranked AS (
  SELECT c.id, c.cluster_rep, qs.q,
         row_number() OVER (PARTITION BY c.cluster_rep
                            ORDER BY qs.q DESC, c.id ASC) AS rn
  FROM clusters c JOIN qs ON qs.doc_id = c.id
)
SELECT id::BIGINT AS doc_id, cluster_rep::BIGINT AS cluster_rep,
       q AS quality, (rn = 1) AS keep
FROM ranked ORDER BY doc_id
"""


def q_unigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM scoring (mean token log-probability)."""
    from fairtracks_validator_spark.operators.scoring import unigram_logprob

    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(unigram_logprob(docs, "doc_id", "text"), "doc_id")


_UNIGRAM_LOGPROB_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, unnest({_SQL_TOKENS}) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt)::DOUBLE AS total FROM vocab)
SELECT t.id::BIGINT AS doc_id,
       round(avg(ln(v.cnt / tot.total)), 4) AS logprob,
       count(*)::BIGINT AS n_tokens
FROM tok t JOIN vocab v USING (token), tot
GROUP BY t.id ORDER BY doc_id
"""


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par(_t(spark, sf_dir, "documents").where(F.col("doc_id") < 100))
    return docs.select(
        F.col("doc_id").alias("doc_id"), simhash(F.col("text")).alias("simhash")
    ).orderBy("doc_id")


_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKENS} AS words FROM documents WHERE doc_id < 100
),
th AS (
  SELECT doc_id,
         [ ('0x' || substr(md5(t), 1, 15))::BIGINT for t in words ] AS hashes
  FROM tok
),
votes AS (
  SELECT doc_id,
         [ list_sum([ ((h >> i) & 1) * 2 - 1 for h in hashes ])
           for i in range(0, 60) ] AS v
  FROM th
)
SELECT doc_id::BIGINT AS doc_id,
       list_sum([ CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END
                  for i in range(0, 60) ])::BIGINT AS simhash
FROM votes ORDER BY doc_id
"""


def q_simhash_neardup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-blocked near-dup pairs with exact Hamming verify."""
    from fairtracks_validator_spark.operators.dedup import simhash_candidates

    docs = _docs_with_clones(spark, sf_dir)  # exact clones -> hamming 0
    return _sorted_out(
        simhash_candidates(docs, "doc_id", "text", max_hamming=3, bands=4),
        "id_a", "id_b",
    )


_SIMHASH_NEARDUP_SQL = f"""
WITH corpus AS ({_DOCS_CLONES_SQL.replace("{SUFFIX}", "")}),
tok AS (SELECT doc_id AS id, {_SQL_TOKENS} AS words FROM corpus),
th AS (
  SELECT id, [ ('0x' || substr(md5(t), 1, 15))::BIGINT for t in words ] AS hashes
  FROM tok
),
votes AS (
  SELECT id, [ list_sum([ ((h >> i) & 1) * 2 - 1 for h in hashes ])
               for i in range(0, 60) ] AS v
  FROM th
),
sh AS (
  SELECT id, list_sum([ CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END
                        for i in range(0, 60) ])::BIGINT AS s
  FROM votes
),
blocked AS (
  SELECT id, s, b AS band, (s >> (b * 15)) & 32767 AS chunk
  FROM sh, (SELECT unnest(range(0, 4)) b)
)
SELECT DISTINCT l.id::BIGINT AS id_a, r.id::BIGINT AS id_b,
       bit_count(xor(l.s, r.s))::INT AS hamming
FROM blocked l JOIN blocked r ON l.band = r.band AND l.chunk = r.chunk
WHERE l.id < r.id AND bit_count(xor(l.s, r.s)) <= 3
ORDER BY id_a, id_b
"""


def q_ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _docs_with_clones(spark, sf_dir, suffix=" extra extra"),
        "doc_id", "text", n=3, threshold=0.5,
    ).orderBy("id_a", "id_b")


_NGRAM_JACCARD_SQL = f"""
WITH corpus AS ({_DOCS_CLONES_SQL.replace("{SUFFIX}", "|| ' extra extra'")}),
tok AS (SELECT doc_id AS id, {_SQL_TOKENS} AS words FROM corpus),
sh AS (
  SELECT id, unnest({_SQL_SHINGLES}) AS shingle
  FROM tok WHERE len(words) >= 3
),
sizes AS (SELECT id, COUNT(*) sz FROM sh GROUP BY id),
inter AS (
  SELECT l.id id_a, r.id id_b, COUNT(*) inter
  FROM sh l JOIN sh r USING (shingle) WHERE l.id < r.id GROUP BY l.id, r.id
)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
       ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE sa.sz * 0.5 <= sb.sz AND sb.sz * 0.5 <= sa.sz
  AND ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.5
ORDER BY id_a, id_b
"""


# ----------------------------------------------------------------- similarity
def q_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk(emb, "vec_id", "embedding", qv, k=10, exclude_id=0)


_COSINE_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS id,
         list_sum([ e.embedding[i+1]::DOUBLE * q.qv[i+1]::DOUBLE
                    for i in range(0, len(e.embedding)) ])
         / ( sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in e.embedding ]))
           * sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in q.qv ])) ) AS raw
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT id::BIGINT AS id, ROUND(raw, 6) AS score
FROM scored ORDER BY ROUND(raw, 6) DESC, id ASC LIMIT 10
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-blocked near-dup pairs (the default/scale path); the oracle
    rebuilds the identical md5-derived planes in SQL."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    return _sorted_out(
        embedding_neardup_pairs(
            emb.unionByName(clones), "vec_id", "embedding", threshold=0.999,
            block_planes=4,
        ),
        "id_a", "id_b",
    )


# block key in SQL: bit p (MSB-first over 4 planes) = 1 iff
# sum_i vec[i] * w(p,i) > 0, with w(p,i) = +1 iff first md5 hex digit of
# 'p|i' is even — byte-identical to dedup.plane_weights.
_EMBEDDING_NEARDUP_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 900000, embedding FROM embeddings WHERE vec_id < 5
),
v AS (
  SELECT vec_id AS id, embedding AS vec,
         sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in embedding ])) AS nrm
  FROM corpus
  WHERE sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in embedding ])) > 0
),
keyed AS (
  SELECT id, vec, nrm,
         list_sum([
           CASE WHEN list_sum([
             vec[i+1]::DOUBLE *
             (CASE WHEN ('0x' || substr(md5(p::VARCHAR || '|' || i::VARCHAR), 1, 1))::BIGINT % 2 = 0
                   THEN 1.0 ELSE -1.0 END)
             for i in range(0, len(vec)) ]) > 0
           THEN (1::BIGINT << (3 - p)) ELSE 0 END
           for p in range(0, 4) ]) AS blk
  FROM v
)
SELECT l.id::BIGINT AS id_a, r.id::BIGINT AS id_b,
       ROUND(list_sum([ l.vec[i+1]::DOUBLE * r.vec[i+1]::DOUBLE
                        for i in range(0, len(l.vec)) ]) / (l.nrm * r.nrm), 6)
       AS cosine
FROM keyed l JOIN keyed r ON l.blk = r.blk
WHERE l.id < r.id
  AND ROUND(list_sum([ l.vec[i+1]::DOUBLE * r.vec[i+1]::DOUBLE
                 for i in range(0, len(l.vec)) ]) / (l.nrm * r.nrm), 6) >= 0.999
ORDER BY id_a, id_b
"""


def q_ivf_ann_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a seeded-k-means codebook — approximate vs exact ANN by
    design, but the PIPELINE is deterministic (stride sample → rank-spaced
    init → 2 Lloyd rounds with 6dp-rounded means → cosine argmax assignment
    → top-4 probe), so DuckDB replicates it step for step: full value
    oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_topk(emb, "vec_id", "embedding", qv, k=10, n_clusters=16,
                    n_probe=4, exclude_id=0)


_IVF_INDEX_CACHE: dict = {}


def _ivf_pretrained_index(spark: SparkSession, sf_dir: str):
    """Build the IVF index ONCE per (session, table): seeded k-means train +
    nearest-centroid assignment, persisted and materialized so later probes
    never re-run the training lineage. At cluster scale this relation would
    be written bucketed-by-cluster (sources.tables) so probes prune files;
    in-session the persisted cache plays that role.

    The cache holds the SparkSession object itself and hits only on
    identity — an ``id(spark)`` key could alias a new session after the old
    one is garbage-collected (code-review r4) and would serve a DataFrame
    bound to a stopped context. A superseded entry's persist is released
    best-effort (its session may already be gone)."""
    hit = _IVF_INDEX_CACHE.get(sf_dir)
    if hit is not None and hit[0] is spark:
        return hit[1], hit[2]
    from fairtracks_validator_spark.operators.similarity import ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_index(emb, "vec_id", "embedding", n_clusters=16)
    assigned = assigned.persist()
    assigned.count()
    if hit is not None:
        try:
            hit[1].unpersist()
        except Exception:
            pass  # stopped session — its executors are gone anyway
    _IVF_INDEX_CACHE[sf_dir] = (spark, assigned, centroids)
    return assigned, centroids


def q_ivf_ann_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF shape (VERDICT r3 #3): train the codebook and
    assignment ONCE (:func:`ivf_index`), then every query only ranks the
    codebook driver-side and scans its n_probe clusters — probe cost is
    n_probe/n_clusters of a brute-force scan, zero training FLOPs. Same
    deterministic pipeline and result as q_ivf_ann_embeddings, so the same
    full value oracle applies (training CTEs hoisted into the index build
    here; recomputed inline by the SQL engine)."""
    assigned, centroids = _ivf_pretrained_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_topk(emb, "vec_id", "embedding", qv, k=10, n_probe=4,
                    exclude_id=0, assigned=assigned, centroids=centroids)


def _ivf_ann_sql(k: int = 16, iters: int = 2, max_sample: int = 100_000,
                 n_probe: int = 4, topk: int = 10) -> str:
    """DuckDB replica of kmeans_fit (stride sample, rank-spaced init, Lloyd
    rounds with round(avg, 6) updates, empty clusters keep their centroid)
    + the IVF probe/score tail."""
    dot = ("list_sum([ {a}[j+1]::DOUBLE * {b}[j+1]::DOUBLE "
           "for j in range(0, len({a})) ])")
    nrm = "sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in {a} ]))"
    parts = [f"""
WITH v AS (
  SELECT vec_id AS id, embedding AS vec,
         {nrm.format(a='embedding')} AS vn
  FROM embeddings
),
par AS (SELECT greatest(1, count(*) // {max_sample}) AS stride FROM v),
samp AS (
  SELECT *, row_number() OVER (ORDER BY id) AS rn FROM (
    SELECT v.* FROM v, par WHERE v.id % par.stride = 0
  )
),
msz AS (SELECT greatest(1, count(*) // {k}) AS step FROM samp),
c0 AS (
  SELECT CAST((rn - 1) // step AS INT) AS cidx, vec AS cvec
  FROM samp, msz
  WHERE (rn - 1) % step = 0 AND (rn - 1) // step < {k}
)"""]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(f""",
cn{i} AS (SELECT cidx, cvec, {nrm.format(a='cvec')} AS cn FROM {prev}),
asg{i} AS (
  SELECT id, vec, cidx FROM (
    SELECT s.id, s.vec, c.cidx,
           row_number() OVER (PARTITION BY s.id ORDER BY
             {dot.format(a='s.vec', b='c.cvec')} / (s.vn * c.cn) DESC,
             c.cidx ASC) AS rn2
    FROM samp s CROSS JOIN cn{i} c
  ) WHERE rn2 = 1
),
upd{i} AS (
  SELECT cidx, list(mv ORDER BY pos) AS cvec
  FROM (
    SELECT a.cidx, u.pos AS pos, round(avg(a.vec[u.pos + 1]), 6) AS mv
    FROM asg{i} a, unnest(range(0, len(a.vec))) AS u(pos)
    GROUP BY a.cidx, u.pos
  ) GROUP BY cidx
),
c{i} AS (
  SELECT p.cidx, coalesce(u.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN upd{i} u ON u.cidx = p.cidx
)""")
    parts.append(f""",
cent AS (SELECT cidx, cvec, {nrm.format(a='cvec')} AS cn FROM c{iters}),
q AS (
  SELECT embedding AS qv, {nrm.format(a='embedding')} AS qn
  FROM embeddings WHERE vec_id = 0
),
fin AS (
  SELECT id, vec, vn, cidx FROM (
    SELECT v.id, v.vec, v.vn, cent.cidx,
           row_number() OVER (PARTITION BY v.id ORDER BY
             {dot.format(a='v.vec', b='cent.cvec')} / (v.vn * cent.cn) DESC,
             cent.cidx ASC) AS rn
    FROM v CROSS JOIN cent
  ) WHERE rn = 1
),
probe AS (
  SELECT cent.cidx FROM cent, q
  ORDER BY {dot.format(a='cent.cvec', b='q.qv')} / (cent.cn * q.qn) DESC,
           cent.cidx ASC
  LIMIT {n_probe}
)
SELECT a.id::BIGINT AS id,
       ROUND({dot.format(a='a.vec', b='q.qv')} / (a.vn * q.qn), 6) AS score
FROM fin a, q
WHERE a.cidx IN (SELECT cidx FROM probe) AND a.id <> 0
ORDER BY score DESC, id ASC LIMIT {topk}
""")
    return "".join(parts)


def q_url_canonical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain over messy URLs derived
    deterministically from doc_id (mixed case, default/explicit ports,
    tracking params, fragments, co.uk suffixes) — the pre-dedup key
    normalization of a Common-Crawl pipeline; replicated verbatim in SQL."""
    from fairtracks_validator_spark.functions.url import (
        canonical_url,
        registered_domain,
        url_host,
    )

    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Site"), (did % 50).cast("string"),
        F.when(did % 4 == 0, F.lit(".CO.UK")).otherwise(F.lit(".Example.COM")),
        F.when(did % 3 == 0, F.lit(":80"))
         .when(did % 3 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), (did % 7).cast("string"))
        ),
        F.when(did % 2 == 0, F.concat(
            F.lit("?utm_source=x&b="), (did % 9).cast("string"), F.lit("&a=1")
        )).when(did % 6 == 1, F.lit("?z=1")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return _sorted_out(
        _par(_t(spark, sf_dir, "documents").select(did.alias("doc_id")))
        .select("doc_id", url.alias("u"))
        .select(
            "doc_id",
            canonical_url(F.col("u")).alias("canon"),
            registered_domain(url_host(F.col("u"))).alias("domain"),
        ),
        "doc_id",
    )


def _url_canonical_sql() -> str:
    from fairtracks_validator_spark.functions.url import TWO_LEVEL_SUFFIXES

    sufs = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)
    return rf"""
WITH d AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://WWW.Site' || CAST(doc_id % 50 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '.CO.UK' ELSE '.Example.COM' END)
    || (CASE WHEN doc_id % 3 = 0 THEN ':80'
             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ''
             ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END)
    || (CASE WHEN doc_id % 2 = 0
             THEN '?utm_source=x&b=' || CAST(doc_id % 9 AS VARCHAR) || '&a=1'
             WHEN doc_id % 6 = 1 THEN '?z=1' ELSE '' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS u0
  FROM documents
),
p AS (
  SELECT doc_id,
    regexp_replace(trim(u0), '#.*$', '') AS u
  FROM d
),
x AS (
  SELECT doc_id, u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?@]*@)?([^/?@]*)', 1)) AS host0,
    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*', '') AS rest
  FROM p
),
y AS (
  SELECT doc_id, u, scheme,
    (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
          WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
          ELSE host0 END) AS host,
    (CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
          ELSE regexp_extract(rest, '^([^?]*)', 1) END) AS pth,
    coalesce(array_to_string(list_sort(list_filter(
      string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
      q -> q <> '' AND NOT regexp_matches(q, '^(utm_|gclid(=|$)|fbclid(=|$))')
    )), '&'), '') AS q2,
    string_split(regexp_replace(host0, ':[0-9]+$', ''), '.') AS parts,
    regexp_replace(host0, ':[0-9]+$', '') AS h
  FROM x
)
SELECT doc_id::BIGINT AS doc_id,
  (CASE WHEN scheme <> ''
        THEN scheme || '://' || host || pth
             || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
        ELSE u END) AS canon,
  (CASE WHEN len(parts) >= 3
             AND concat_ws('.', parts[-2], parts[-1]) IN ({sufs})
        THEN concat_ws('.', parts[-3], parts[-2], parts[-1])
        WHEN len(parts) >= 2 THEN concat_ws('.', parts[-2], parts[-1])
        ELSE h END) AS domain
FROM y ORDER BY doc_id
"""


# ------------------------------------------------------------------ text ops
def q_langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(
        docs.select(F.col("doc_id"), langid(F.col("text")).alias("pred_lang")),
        "doc_id",
    )


def _sql_stopword_score(lang_words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lang_words)
    return (f"len(list_filter(words, t -> lower(t) IN ({inlist}))) * 1.0"
            " / greatest(len(words), 1)")


def _langid_sql() -> str:
    from fairtracks_validator_spark.functions.text import STOPWORDS

    s = {lang: _sql_stopword_score(ws) for lang, ws in STOPWORDS.items()}
    # tie-break mirrors Spark: max score, ties to lexicographically smallest
    return f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS words FROM documents),
sc AS (
  SELECT doc_id, {s['de']} AS s_de, {s['en']} AS s_en,
         {s['es']} AS s_es, {s['fr']} AS s_fr
  FROM tok
)
SELECT doc_id::BIGINT AS doc_id,
  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       WHEN s_es >= s_fr THEN 'es'
       ELSE 'fr' END AS pred_lang
FROM sc ORDER BY doc_id
"""


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(
        docs.select(F.col("doc_id"), quality_score(F.col("text")).alias("q")),
        "doc_id",
    )


_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, {_SQL_TOKENS} AS words FROM documents
),
m AS (
  SELECT doc_id, len(words) AS n_tok, length(t) AS n_char,
         len(regexp_extract_all(t, '[^\\sA-Za-z0-9_]')) AS n_punct,
         len(list_filter(words, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS n_alpha
  FROM base
)
SELECT doc_id::BIGINT AS doc_id,
  ROUND(
    0.4 * least(n_tok / 20.0, 1.0)
    + 0.4 * (CASE WHEN n_tok > 0 THEN n_alpha * 1.0 / n_tok ELSE 0.0 END)
    + 0.2 * (1.0 - least((CASE WHEN n_char > 0 THEN n_punct * 1.0 / n_char
                          ELSE 1.0 END) * 4, 1.0)), 6) AS q
FROM m ORDER BY doc_id
"""


def q_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(
        docs.select(
            F.col("doc_id"),
            token_count(F.col("text")).alias("n_tokens"),
            bpe_token_count(F.col("text")).alias("n_bpe"),
        ),
        "doc_id",
    )


_TOKEN_COUNTS_SQL = f"""
SELECT doc_id::BIGINT AS doc_id,
       len({_SQL_TOKENS})::INT AS n_tokens,
       len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]'))::INT AS n_bpe
FROM documents ORDER BY doc_id
"""


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(
        docs.select(
            F.col("doc_id"), doc_fingerprint(F.col("text")).alias("fingerprint")
        ),
        "doc_id",
    )


_FINGERPRINT_SQL = """
SELECT doc_id::BIGINT AS doc_id,
       md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')))
       AS fingerprint
FROM documents ORDER BY doc_id
"""


def q_gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021) — per-doc metrics + verdict.

    The metrics struct is materialized through an ``explode(array(...))``
    plan barrier: a plain two-step select would CollapseProject the struct
    into all six field extractions and re-tokenize per field."""
    docs = _par(_t(spark, sf_dir, "documents"))
    g = docs.select(
        "doc_id", F.explode(F.array(gopher_metrics(F.col("text")))).alias("g")
    )
    out = g.select(
        "doc_id",
        F.col("g.n_words").alias("n_words"),
        F.col("g.mean_word_len").alias("mean_word_len"),
        F.col("g.symbol_ratio").alias("symbol_ratio"),
        F.col("g.frac_alpha_words").alias("frac_alpha_words"),
        F.col("g.stop_hits").alias("stop_hits"),
        gopher_pass(F.col("g"), min_words=25).alias("passes"),
    )
    return _sorted_out(out, "doc_id")


_GOPHER_STOPWORDS_SQL = "['the','and','of','to','a','in','is','it','that','was','for','on','with','as','at']"

_GOPHER_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, {_SQL_TOKENS} AS words FROM documents
),
m AS (
  SELECT doc_id,
    len(words) AS n_words,
    greatest(len(words), 1)::DOUBLE AS nf,
    coalesce(list_aggregate(list_transform(words, x -> length(x)), 'sum'), 0) AS total_len,
    len(regexp_extract_all(t, '#|\\.\\.\\.|…')) AS n_sym,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    len(list_filter(words, x -> list_contains({_GOPHER_STOPWORDS_SQL}, lower(x)))) AS n_stop
  FROM base
)
SELECT doc_id::BIGINT AS doc_id,
  n_words::INT AS n_words,
  round(total_len / nf, 6) AS mean_word_len,
  round(n_sym / nf, 6) AS symbol_ratio,
  round(n_alpha / nf, 6) AS frac_alpha_words,
  n_stop::INT AS stop_hits,
  (n_words BETWEEN 25 AND 100000
   AND round(total_len / nf, 6) BETWEEN 3.0 AND 10.0
   AND round(n_sym / nf, 6) <= 0.1
   AND round(n_alpha / nf, 6) >= 0.8
   AND n_stop >= 2) AS passes
FROM m ORDER BY doc_id
"""


def q_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters: duplicate-token fraction + most-frequent-bigram
    mass. Zero-shuffle per-row JVM scans (sorted-array run-length, no
    explode→groupBy of the corpus token stream)."""
    docs = _par(_t(spark, sf_dir, "documents"))
    r = docs.select(
        "doc_id",
        dup_token_frac(F.col("text")).alias("dup_token_frac"),
        F.explode(F.array(top_gram_frac(F.col("text"), 2))).alias("tg"),
    )
    return _sorted_out(
        r.select(
            "doc_id",
            "dup_token_frac",
            F.col("tg.top_gram").alias("top_bigram"),
            F.col("tg.top_count").alias("top_bigram_count"),
            F.col("tg.n_grams").alias("n_bigrams"),
            F.col("tg.frac").alias("top_bigram_frac"),
        ),
        "doc_id",
    )


_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS words FROM documents
),
d AS (
  SELECT doc_id,
    CASE WHEN len(words) > 0
         THEN round(1.0 - len(list_distinct(words))::DOUBLE / len(words), 6)
         ELSE 0.0 END AS dup_token_frac,
    CASE WHEN len(words) >= 2
         THEN list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
         ELSE []::VARCHAR[] END AS grams
  FROM base
),
c AS (
  SELECT doc_id, gram, count(*) AS cnt
  FROM (SELECT doc_id, unnest(grams) AS gram FROM d) GROUP BY 1, 2
),
top AS (
  SELECT doc_id, gram, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
  FROM c
)
SELECT d.doc_id::BIGINT AS doc_id,
  d.dup_token_frac,
  t.gram AS top_bigram,
  coalesce(t.cnt, 0)::BIGINT AS top_bigram_count,
  len(d.grams)::INT AS n_bigrams,
  CASE WHEN len(d.grams) > 0 THEN round(t.cnt::DOUBLE / len(d.grams), 6)
       ELSE 0.0 END AS top_bigram_frac
FROM d LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)
ORDER BY doc_id
"""


def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token heavy hitters (vocabulary head) via the
    skew-safe tree top-k (local top-k per fragment, then final rank)."""
    docs = _par(_t(spark, sf_dir, "documents"))
    toks = docs.select("lang", F.explode(text_tokens(F.col("text"))).alias("token"))
    return top_k_per_group(toks, "lang", "token", 5).orderBy("lang", "rank")


_TOP_TOKENS_SQL = f"""
WITH tok AS (
  SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
),
c AS (
  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2
),
r AS (
  SELECT lang, token, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rank
  FROM c
)
SELECT lang, token, cnt::BIGINT AS cnt, rank::INT AS rank
FROM r WHERE rank <= 5 ORDER BY lang, rank
"""


def q_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang downsampling (head language 50%, de 25%,
    es kept whole, tail 10%) — map-only, zero shuffle, exact SQL oracle."""
    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "doc_id", "lang",
        rates={"en": 0.5, "de": 0.25, "es": 1.0},
        default_rate=0.1, seed="s1",
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id::BIGINT AS doc_id, lang FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR || '|s1'), 1, 15))::BIGINT % 1000000 <
  CASE lang WHEN 'de' THEN 250000 WHEN 'en' THEN 500000 WHEN 'es' THEN 1000000
       ELSE 100000 END
ORDER BY doc_id
"""


def q_train_val_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-stable train/val/test assignment by key hash (10% val,
    10% test) — reproducible across runs, partitionings, and resumes."""
    docs = _t(spark, sf_dir, "documents")
    out = train_val_split(docs, "doc_id", val_frac=0.1, test_frac=0.1, seed="s2")
    return out.select("doc_id", "split").orderBy("doc_id")


_TRAIN_VAL_SPLIT_SQL = """
SELECT doc_id::BIGINT AS doc_id,
  CASE WHEN b < 100000 THEN 'val'
       WHEN b < 200000 THEN 'test'
       ELSE 'train' END AS split
FROM (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR || '|s2'), 1, 15))::BIGINT % 1000000 AS b
  FROM documents
)
ORDER BY doc_id
"""


def q_pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: plant synthetic emails/IPs/phones into every 25th doc
    (the corpus itself is clean — a 0-count result would prove nothing),
    then count and redact. Output carries md5(redacted) so the oracle
    byte-compares the full redacted text without shipping it."""
    docs = _par(_t(spark, sf_dir, "documents"))
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org or +4915123456789 at 192.168.0."),
                (F.col("doc_id") % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    t = docs.select("doc_id", planted.alias("t"))
    c = pii_counts(F.col("t"))
    out = t.select(
        "doc_id",
        c["n_email"].alias("n_email"),
        c["n_ipv4"].alias("n_ipv4"),
        c["n_phone"].alias("n_phone"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_hash"),
    )
    return _sorted_out(out, "doc_id")


_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE_RE = r"\+\d{7,15}\b"

_PII_REDACT_SQL = f"""
WITH corpus AS (
  SELECT doc_id,
    coalesce(text, '') ||
    CASE WHEN doc_id % 25 = 0
         THEN ' reach user' || doc_id::VARCHAR ||
              '@example.org or +4915123456789 at 192.168.0.' ||
              (doc_id % 250)::VARCHAR
         ELSE '' END AS t
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
  len(regexp_extract_all(t, '{_PII_EMAIL_RE}'))::INT AS n_email,
  len(regexp_extract_all(regexp_replace(t,
      '{_PII_EMAIL_RE}', '<PII>', 'g'), '{_PII_IPV4_RE}'))::INT AS n_ipv4,
  len(regexp_extract_all(regexp_replace(regexp_replace(t,
      '{_PII_EMAIL_RE}', '<PII>', 'g'),
      '{_PII_IPV4_RE}', '<PII>', 'g'), '{_PII_PHONE_RE}'))::INT AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
      '{_PII_EMAIL_RE}', '<PII>', 'g'),
      '{_PII_IPV4_RE}', '<PII>', 'g'),
      '{_PII_PHONE_RE}', '<PII>', 'g')) AS redacted_hash
FROM corpus ORDER BY doc_id
"""


def q_training_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep pipeline: Gopher gate → exact dedup →
    50% hash sample → 20% val split. One shuffle end-to-end."""
    from fairtracks_validator_spark.operators.pipeline import (
        prepare_training_corpus,
    )

    docs = _par(_t(spark, sf_dir, "documents"))
    out = prepare_training_corpus(docs, "doc_id", "text")
    return _sorted_out(out.select("doc_id", "lang", "split"), "doc_id")


_TRAINING_PIPELINE_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, coalesce(text, '') AS t, {_SQL_TOKENS} AS words
  FROM documents
),
m AS (
  SELECT doc_id,
    len(words) AS n_words,
    greatest(len(words), 1)::DOUBLE AS nf,
    coalesce(list_aggregate(list_transform(words, x -> length(x)), 'sum'), 0) AS total_len,
    len(regexp_extract_all(t, '#|\\.\\.\\.|…')) AS n_sym,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    len(list_filter(words, x -> list_contains({_GOPHER_STOPWORDS_SQL}, lower(x)))) AS n_stop
  FROM base
),
passed AS (
  SELECT b.doc_id, b.lang, b.t
  FROM base b JOIN m USING (doc_id)
  WHERE m.n_words BETWEEN 25 AND 100000
    AND round(m.total_len / m.nf, 6) BETWEEN 3.0 AND 10.0
    AND round(m.n_sym / m.nf, 6) <= 0.1
    AND round(m.n_alpha / m.nf, 6) >= 0.8
    AND m.n_stop >= 2
),
kept AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
    FROM passed
  ) WHERE rn = 1
),
sampled AS (
  SELECT doc_id, lang FROM kept
  WHERE ('0x' || substr(md5(doc_id::VARCHAR || '|pipe'), 1, 15))::BIGINT % 1000000
        < 500000
)
SELECT doc_id::BIGINT AS doc_id, lang,
  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '|pipe-split'), 1, 15))::BIGINT
            % 1000000 < 200000
       THEN 'val' ELSE 'train' END AS split
FROM sampled ORDER BY doc_id
"""


def q_pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split sequence packing (seq_len=512, 8 buckets): every
    doc gets a deterministic (bucket, seq_id, seq_offset) slot."""
    from fairtracks_validator_spark.operators.pipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return pack_sequences(
        docs, "doc_id", "n_tok", seq_len=512, buckets=8, seed="pk"
    ).orderBy("doc_id")


_PACK_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_SQL_TOKENS}) AS n_tok,
    ((('0x' || substr(md5(doc_id::VARCHAR || '|pk'), 1, 15))::BIGINT % 1000000) % 8)
      AS bucket
  FROM documents
),
c AS (
  SELECT doc_id, bucket, n_tok,
    coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS s
  FROM t
)
SELECT doc_id::BIGINT AS doc_id, bucket::INT AS bucket,
       (s // 512)::BIGINT AS seq_id, (s % 512)::INT AS seq_offset,
       n_tok::INT AS n_tokens
FROM c ORDER BY doc_id
"""


def q_split_balance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split QA: chi-square independence of lang × split after the hash
    split — statistical evidence the entity-stable split is representative
    (composition of train_val_split and the drift machinery)."""
    docs = _t(spark, sf_dir, "documents")
    split = train_val_split(docs, "doc_id", val_frac=0.2, seed="s2")
    return chi_square(split, "lang", "split")


_SPLIT_BALANCE_SQL = """
WITH base AS (
  SELECT CAST(lang AS VARCHAR) b,
    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '|s2'), 1, 15))::BIGINT
              % 1000000 < 200000
         THEN 'val' ELSE 'train' END AS g
  FROM documents WHERE lang IS NOT NULL
), cells AS (SELECT b, g, COUNT(*)::BIGINT o FROM base GROUP BY b, g),
rt AS (SELECT b, SUM(o) row_n FROM cells GROUP BY b),
ct AS (SELECT g, SUM(o) col_n FROM cells GROUP BY g),
n AS (SELECT SUM(o) n FROM cells),
full_t AS (
  SELECT rt.b, ct.g, COALESCE(cells.o, 0) o, rt.row_n, ct.col_n, n.n,
         rt.row_n * ct.col_n * 1.0 / n.n e
  FROM rt CROSS JOIN ct LEFT JOIN cells ON cells.b = rt.b AND cells.g = ct.g
  CROSS JOIN n
)
SELECT MIN(n)::BIGINT AS n,
       ((COUNT(DISTINCT b) - 1) * (COUNT(DISTINCT g) - 1))::BIGINT AS dof,
       ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2
FROM full_t
"""


def q_validate_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured validation: the events.props JSON string column is
    parsed IN-PLAN (from_json — no Python, corrupt payloads become absent
    properties) and validated like any table. Violations are planted:
    every 97th event gets k=-5 (range), every 89th gets non-JSON
    (required)."""
    ev = _par(_t(spark, sf_dir, "events"))
    props2 = (
        F.when(F.col("event_id") % 97 == 0, F.lit('{"k": -5}'))
        .when(F.col("event_id") % 89 == 0, F.lit("not json"))
        .otherwise(F.col("props"))
    )
    parsed = ev.select(
        F.col("event_id").cast("string").alias("source"),
        F.col("event_id").cast("long").alias("ord"),
        F.from_json(props2, "k int").getField("k").alias("k"),
    )
    plan = compile_schema(
        {
            "$id": "props/1.0",
            "required": ["k"],
            "properties": {"k": {"type": "integer", "minimum": 0}},
        }
    )
    res = validate_corpus({"props/1.0": (plan, parsed)})
    return _sorted_out(res.violations.select("source", "check_id"),
                       "source", "check_id")


_VALIDATE_EVENTS_PROPS_SQL = """
WITH p AS (
  SELECT event_id,
    CASE WHEN event_id % 97 = 0 THEN -5
         WHEN event_id % 89 = 0 THEN NULL
         ELSE (props->>'$.k')::INT END AS k
  FROM events
)
SELECT CAST(event_id AS VARCHAR) AS source, 'required:k' AS check_id
FROM p WHERE k IS NULL
UNION ALL
SELECT CAST(event_id AS VARCHAR) AS source, 'minimum:k' AS check_id
FROM p WHERE k IS NOT NULL AND k < 0
ORDER BY source, check_id
"""


# ----------------------------------------------------------------------- warc
# 32 archives (was 8): the fixture bucketing is layout only — every page row
# is independent of which archive holds it — but one binaryFile task per
# archive is the ingest parallelism (member-gzip archives are not
# offset-splittable), so 8 files pinned the whole parse to a quarter of the
# cores (guide §2.5 input skew). Result rows are identical.
_WARC_FIXTURE_FILES = 32


def _build_warc_fixture(docs_pdf, out_dir: str) -> None:
    """Deterministic WARC archives from (doc_id, text) rows — independent
    byte assembly per ISO 28500 (same layout the WARC unit tests build);
    odd-numbered archives are per-record-gzip-member files (the Common-Crawl
    layout), written with ``mtime=0`` so bytes are build-time-invariant."""
    import gzip
    import io
    import os
    from datetime import datetime, timezone

    os.makedirs(out_dir, exist_ok=True)
    buckets: dict[int, list[bytes]] = {
        i: [] for i in range(_WARC_FIXTURE_FILES)
    }
    from html import escape as _esc

    for doc_id, text in docs_pdf.itertuples(index=False):
        doc_id = int(doc_id)
        # escape & < > — extract_text unescapes on ingestion, so the
        # text_md5 round trip holds for ANY document text, not just the
        # entity-free current testdata
        html = (
            '<html><head><meta charset="utf-8"/></head><body><p>'
            + _esc(text, quote=False) + "</p></body></html>"
        ).encode()
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
            b"\r\n\r\n" + html
        )
        ts = datetime.fromtimestamp(
            1700000000 + doc_id, tz=timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%SZ")
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: https://warc.example/doc/{doc_id}\r\n"
            f"WARC-Date: {ts}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n"
            "\r\n"
        ).encode()
        buckets[doc_id % _WARC_FIXTURE_FILES].append(hdr + http + b"\r\n\r\n")
    for i, recs in buckets.items():
        if i % 2:
            buf = io.BytesIO()
            for r in recs:  # one gzip member per record, Common-Crawl style
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                    g.write(r)
            data, name = buf.getvalue(), f"part-{i}.warc.gz"
        else:
            data, name = b"".join(recs), f"part-{i}.warc"
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)


def q_warc_pages_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion cross-checked end-to-end (VERDICT r4 #4): documents
    rows are serialized into real WARC archives (plain + member-gzip),
    ingested back through ``warc_to_pages`` (``sources/warc.py:143-197``),
    and the resulting north-star pages relation — url, parsed warc_ts,
    byte-identical extracted text (as md5), langid — is compared against a
    DuckDB replica computed directly from the documents table."""
    import hashlib
    import os

    from fairtracks_validator_spark.sources.warc import warc_to_pages

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # fixture cache key from a 2-scalar aggregate — the old probe pulled the
    # FULL (doc_id, text) corpus to the driver on every call just to key the
    # cache; the texts are only needed when the fixture is actually built
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("s")
    ).first()
    key = hashlib.md5(
        # v3: 32-archive layout (v2 was 8); builder escapes & < > into the
        # HTML (paired with the entity-unescaping extractor 1.1.0)
        f"v3:{sf_dir}:{int(stats['n'])}:{int(stats['s'] or 0)}".encode()
    ).hexdigest()[:12]
    d = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".data",
        f"warc_fixture_{key}",
    )
    if not os.path.exists(os.path.join(d, "_DONE")):
        _build_warc_fixture(docs.orderBy("doc_id").toPandas(), d)
        open(os.path.join(d, "_DONE"), "w").close()
    pages_df = warc_to_pages(spark, os.path.join(d, "part-*.warc*"))
    return _sorted_out(
        pages_df.select(
            "url",
            # epoch seconds: proves to_timestamp parsed the WARC-Date and
            # stays session-timezone-independent in the cross-engine compare
            F.unix_timestamp("warc_ts").alias("warc_epoch"),
            F.md5(F.col("text")).alias("text_md5"),
            "lang",
        ),
        "url",
    )


def _warc_pages_sql() -> str:
    from fairtracks_validator_spark.functions.text import STOPWORDS

    s = {lang: _sql_stopword_score(ws) for lang, ws in STOPWORDS.items()}
    return f"""
WITH x AS (
  SELECT doc_id,
         trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS xt
  FROM documents WHERE text IS NOT NULL
),
tok AS (
  SELECT doc_id, xt,
         list_filter(string_split(xt, ' '), t -> t <> '') AS words
  FROM x
),
sc AS (
  SELECT doc_id, xt, {s['de']} AS s_de, {s['en']} AS s_en,
         {s['es']} AS s_es, {s['fr']} AS s_fr
  FROM tok
)
SELECT 'https://warc.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
  1700000000 + doc_id AS warc_epoch,
  md5(xt) AS text_md5,
  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       WHEN s_es >= s_fr THEN 'es'
       ELSE 'fr' END AS lang
FROM sc ORDER BY url
"""


# ----------------------------------------------------- decontamination (r5)
def q_decontam_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing 8-grams with an eval set.

    Fixture: doc_id < 20 acts as the held-out benchmark; the scored corpus
    is everything else plus perturbed clones of the benchmark docs (text +
    ' extra extra', id + 1e6) — the clones MUST be flagged with near-1.0
    containment, the rest only by (deterministic) chance overlaps."""
    from fairtracks_validator_spark.operators.decontam import (
        benchmark_ngrams,
        contamination_report,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(F.col("doc_id") >= 20).unionByName(
        bench.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra extra")).alias("text"),
        )
    )
    bg = benchmark_ngrams(bench, "text", n=8)
    return contamination_report(_par(corpus), bg, "doc_id", "text", n=8)


_DECONTAM_SQL_T = """
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 20
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' extra extra' AS text FROM bench
),
btok AS (SELECT {TOKENS} AS words FROM bench),
bg AS (
  SELECT DISTINCT array_to_string(words[i:i+7], ' ') AS gram
  FROM btok, LATERAL (
    SELECT unnest(range(1, greatest(len(words) - 6, 1))) AS i
  ) s
  WHERE len(words) >= 8
),
dtok AS (SELECT doc_id, {TOKENS} AS words FROM corpus),
dg AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+7], ' ')
                        for i in range(1, greatest(len(words) - 6, 1))]) AS grams
  FROM dtok
)
SELECT e.doc_id,
       CAST(len(e.grams) AS INT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS overlap_grams,
       round(COUNT(*)::DOUBLE / len(e.grams), 6) AS overlap_frac
FROM (SELECT doc_id, grams, unnest(grams) AS gram FROM dg) e
JOIN bg USING (gram)
GROUP BY e.doc_id, len(e.grams)
"""


def _decontam_sql() -> str:
    return _DECONTAM_SQL_T.replace("{TOKENS}", _SQL_TOKENS)


# ------------------------------------------------------- line-level dedup (r5)
def _chunk_lines(col, k: int = 8):
    """Deterministic pseudo-lines: k-word chunks of the (newline-free)
    synthetic text, mirroring the SQL ``range(1, len+1, k)`` starts."""
    from fairtracks_validator_spark.functions.expr import let_

    return let_(
        text_tokens(col),
        lambda t: F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(F.lit(1), F.size(t), F.lit(k)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def q_line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide duplicated-line removal, first-writer keep.

    Fixture: exact clones of doc_id < 20 (id + 1e6) duplicate every line of
    their originals — the originals keep all lines (first writer by
    (doc_id, pos) total order), the clones lose all of theirs; everyone
    else only loses (deterministic) chance-repeated 8-word chunks."""
    from fairtracks_validator_spark.operators.lines import line_dedup

    docs = _docs_with_clones(spark, sf_dir)
    lines = docs.select("doc_id", _chunk_lines(F.col("text")).alias("_lines"))
    out = line_dedup(lines, "doc_id", "_lines", min_count=2, keep="first")
    return out.select(
        "doc_id",
        F.concat_ws("\n", "lines_kept").alias("text_kept"),
        "n_lines",
        "n_kept",
        "n_dropped",
    )


_LINE_DEDUP_SQL_T = """
WITH corpus AS ({CLONES}),
tok AS (SELECT doc_id, {TOKENS} AS words FROM corpus),
lin AS (
  SELECT t.doc_id,
         CAST((s.i - 1) / 8 AS INT) AS pos,
         array_to_string(t.words[s.i:s.i+7], ' ') AS line
  FROM tok t
  LEFT JOIN LATERAL (
    SELECT unnest(range(1, len(t.words) + 1, 8)) AS i
  ) s ON TRUE
),
marked AS (
  SELECT doc_id, pos, line,
         CASE WHEN trim(line) <> '' THEN md5(trim(line)) END AS h
  FROM lin
),
flagged AS (
  SELECT doc_id, pos, line, h,
         COUNT(*) OVER (PARTITION BY h) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM marked
),
kept AS (
  SELECT doc_id, pos, line,
         (h IS NULL OR cnt < 2 OR rn = 1) AS keep
  FROM flagged
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
    AS text_kept,
  CAST(COUNT(line) AS INT) AS n_lines,
  CAST(COUNT(CASE WHEN keep THEN 1 END) AS INT) AS n_kept,
  CAST(COUNT(line) - COUNT(CASE WHEN keep THEN 1 END) AS INT) AS n_dropped
FROM kept GROUP BY doc_id
"""


def _line_dedup_sql() -> str:
    return _LINE_DEDUP_SQL_T.replace(
        "{CLONES}", _DOCS_CLONES_SQL.replace("{SUFFIX}", "")
    ).replace("{TOKENS}", _SQL_TOKENS)


# ------------------------------------------------------ expectations (r5)
def q_expectations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative table-expectations suite — 10 rules, ONE aggregation
    pass (dbt-tests / Great-Expectations shape). Two rules fail by
    construction — the planted mean bound (mean n_chars ≤ 10) and the
    accepted-values rule (the lang column has a long tail beyond
    en/de/es/fr) — so the report carries both verdict polarities."""
    from fairtracks_validator_spark.operators import expectations as X

    docs = _t(spark, sf_dir, "documents")
    rules = [
        X.row_count(lo=1),
        X.null_rate("text", 0.05),
        X.min_value("n_chars", lo=1),
        X.max_value("n_chars", hi=100000),
        X.mean_value("n_chars", lo=1, hi=10000),
        X.quantile_value("n_chars", 0.5, lo=1, hi=10000),
        X.accepted_values("lang", DOC_LANGS, min_rate=1.0),
        X.match_rate("lang", "[a-z]{2}", min_rate=1.0),
        X.distinct_count("lang", lo=1, hi=10, approx=False),
        # failing rule under a distinct id (mean:n_chars is already used)
        X.Rule("mean_low:n_chars", "mean", "n_chars", None, 10.0),
    ]
    return X.run_expectations(docs, rules)


_EXPECTATIONS_SQL = """
WITH m AS (
  SELECT count(*)::DOUBLE AS row_count,
         avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END) AS nr_text,
         min(n_chars)::DOUBLE AS min_nc,
         max(n_chars)::DOUBLE AS max_nc,
         avg(n_chars::DOUBLE) AS mean_nc,
         quantile_cont(n_chars::DOUBLE, 0.5) AS med_nc,
         avg(CASE WHEN lang IS NOT NULL THEN
               CASE WHEN lang IN ('en','de','es','fr') THEN 1.0 ELSE 0.0 END
             END) AS acc_lang,
         avg(CASE WHEN lang IS NOT NULL THEN
               CASE WHEN regexp_full_match(lang, '[a-z]{2}') THEN 1.0 ELSE 0.0 END
             END) AS mr_lang,
         count(DISTINCT lang)::DOUBLE AS d_lang
  FROM documents
)
SELECT * FROM (
  SELECT 'row_count' AS rule_id, CAST(NULL AS VARCHAR) AS "column",
         round(row_count, 6) AS metric, CAST(1.0 AS DOUBLE) AS lo,
         CAST(NULL AS DOUBLE) AS hi, row_count >= 1.0 AS passed FROM m
  UNION ALL SELECT 'null_rate:text', 'text', round(nr_text, 6),
         NULL, CAST(0.05 AS DOUBLE), nr_text <= 0.05 FROM m
  UNION ALL SELECT 'min:n_chars', 'n_chars', round(min_nc, 6),
         CAST(1.0 AS DOUBLE), NULL, min_nc >= 1.0 FROM m
  UNION ALL SELECT 'max:n_chars', 'n_chars', round(max_nc, 6),
         NULL, CAST(100000.0 AS DOUBLE), max_nc <= 100000.0 FROM m
  UNION ALL SELECT 'mean:n_chars', 'n_chars', round(mean_nc, 6),
         CAST(1.0 AS DOUBLE), CAST(10000.0 AS DOUBLE), mean_nc BETWEEN 1.0 AND 10000.0 FROM m
  UNION ALL SELECT 'q0.5:n_chars', 'n_chars', round(med_nc, 6),
         CAST(1.0 AS DOUBLE), CAST(10000.0 AS DOUBLE), med_nc BETWEEN 1.0 AND 10000.0 FROM m
  UNION ALL SELECT 'accepted:lang', 'lang', round(acc_lang, 6),
         CAST(1.0 AS DOUBLE), NULL, acc_lang >= 1.0 FROM m
  UNION ALL SELECT 'match:lang', 'lang', round(mr_lang, 6),
         CAST(1.0 AS DOUBLE), NULL, mr_lang >= 1.0 FROM m
  UNION ALL SELECT 'distinct:lang', 'lang', round(d_lang, 6),
         CAST(1.0 AS DOUBLE), CAST(10.0 AS DOUBLE), d_lang BETWEEN 1.0 AND 10.0 FROM m
  UNION ALL SELECT 'mean_low:n_chars', 'n_chars', round(mean_nc, 6),
         NULL, CAST(10.0 AS DOUBLE), mean_nc <= 10.0 FROM m
)
"""


# --------------------------------------------------- span trimming (r5)
def q_trim_contam_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: contaminated n-gram windows are CUT,
    clean text passes through byte-identical (single-space corpus, so
    token-rejoin is the identity). Clones prefixed with 'zz yy' must
    reduce to exactly that prefix — every original token is covered."""
    from fairtracks_validator_spark.operators.decontam import (
        benchmark_ngrams,
        trim_contaminated,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(F.col("doc_id") >= 20).unionByName(
        bench.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.lit("zz yy "), F.col("text")).alias("text"),
        )
    )
    bg = benchmark_ngrams(bench, "text", n=8)
    return trim_contaminated(_par(corpus), bg, "doc_id", "text", n=8)


_TRIM_CONTAM_SQL_T = """
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 20
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'zz yy ' || text AS text FROM bench
),
btok AS (SELECT {TOKENS} AS words FROM bench),
bg AS (
  SELECT DISTINCT array_to_string(words[i:i+7], ' ') AS gram
  FROM btok, LATERAL (
    SELECT unnest(range(1, greatest(len(words) - 6, 1))) AS i
  ) s
  WHERE len(words) >= 8
),
dtok AS (SELECT doc_id, {TOKENS} AS w FROM corpus),
hit AS (
  SELECT t.doc_id, s.i AS start
  FROM dtok t, LATERAL (
    SELECT unnest(range(1, greatest(len(t.w) - 6, 1))) AS i
  ) s
  WHERE array_to_string(t.w[s.i:s.i+7], ' ') IN (SELECT gram FROM bg)
),
st AS (SELECT doc_id, list_sort(list(start)) AS starts FROM hit GROUP BY doc_id)
SELECT d.doc_id,
  array_to_string(
    list_filter(d.w, (t, j) -> len(list_filter(
      coalesce(s.starts, CAST([] AS BIGINT[])),
      x -> x <= j AND j < x + 8)) = 0),
    ' ') AS text,
  CAST(len(d.w) AS INT) AS n_tokens,
  CAST(len(d.w) - len(
    list_filter(d.w, (t, j) -> len(list_filter(
      coalesce(s.starts, CAST([] AS BIGINT[])),
      x -> x <= j AND j < x + 8)) = 0)
  ) AS INT) AS n_tokens_removed
FROM dtok d LEFT JOIN st s USING (doc_id)
"""


def _trim_contam_sql() -> str:
    return _TRIM_CONTAM_SQL_T.replace("{TOKENS}", _SQL_TOKENS)


# ------------------------------------------- winnowing fingerprints (r5)
def q_winnow_passages_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-passage pairs via winnowing fingerprints (Schleimer et al.
    2003): clones of the first 30 docs (clean 'qq rr' prefix) must pair
    with their originals — every (orig, clone) passage is ≥ w+k-1 tokens,
    so the winnowing guarantee fires. Boilerplate fingerprints present in
    >64 docs are dropped identically on both sides."""
    from fairtracks_validator_spark.operators.winnow import shared_passage_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.lit("qq rr "), F.col("text")).alias("text"),
        )
    )
    return shared_passage_pairs(
        _par(corpus), "doc_id", "text",
        k=5, w=4, min_shared=2, max_docs_per_fp=64,
    )


_WINNOW_SQL_T = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, 'qq rr ' || text AS text
  FROM documents WHERE doc_id < 30
),
dtok AS (SELECT doc_id, {TOKENS} AS w FROM corpus),
gr AS (
  SELECT doc_id,
    [md5(array_to_string(w[i:i+4], ' ')) for i in range(1, len(w) - 3)] AS h
  FROM dtok WHERE len(w) >= 5
),
sel AS (
  SELECT g.doc_id,
    list_sort(list_transform(
      g.h[s.i:least(s.i + 3, len(g.h))],
      (x, j) -> {'fp': x, 'negpos': -(s.i + j - 1)}
    ))[1]['fp'] AS fp
  FROM gr g, LATERAL (
    SELECT unnest(range(1, greatest(len(g.h) - 3, 1) + 1)) AS i
  ) s
),
keyed AS (SELECT DISTINCT doc_id, fp FROM sel),
good AS (SELECT fp FROM keyed GROUP BY fp HAVING count(*) BETWEEN 2 AND 64)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM keyed a JOIN good g ON a.fp = g.fp JOIN keyed b ON b.fp = a.fp
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def _winnow_sql() -> str:
    return _WINNOW_SQL_T.replace("{TOKENS}", _SQL_TOKENS)


# ---------------------------------------------- importance sampling (r5)
def q_importance_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style weighted sampling: keep probability ∝ token count,
    expected keep rate 25%. Map-only hash decision; the normalization mean
    is exact in both engines (integer weights sum exactly in doubles), and
    the (w·rate)/mean association order is pinned on both sides."""
    from fairtracks_validator_spark.functions.text import token_count
    from fairtracks_validator_spark.operators.sampling import importance_sample

    docs = _par(_t(spark, sf_dir, "documents")).withColumn(
        "w", token_count("text")
    )
    out = importance_sample(docs, "doc_id", "w", 0.25, seed="dsir")
    return _sorted_out(
        out.select("doc_id", F.col("w").cast("long").alias("n_tokens")),
        "doc_id",
    )


_IMPORTANCE_SAMPLE_SQL_T = """
WITH wt AS (
  SELECT doc_id, len({TOKENS}) AS w FROM documents
),
m AS (SELECT avg(w) AS mw FROM wt)
SELECT doc_id::BIGINT AS doc_id, w::BIGINT AS n_tokens
FROM wt, m
WHERE ('0x' || substr(md5(doc_id::VARCHAR || '|dsir'), 1, 15))::BIGINT % 1000000 <
      floor(least(w::DOUBLE * 0.25 / mw, 1.0) * 1000000)::BIGINT
ORDER BY doc_id
"""


def _importance_sample_sql() -> str:
    return _IMPORTANCE_SAMPLE_SQL_T.replace("{TOKENS}", _SQL_TOKENS)


# ------------------------------------------------- multi-histogram (r5)
def q_multi_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histograms of two numeric columns in ONE scan (the `profile`
    subcommand's baseline shape): value on [0,500)x20 and user_id on
    [0,50000)x10, emitted from a single explode + aggregation."""
    from fairtracks_validator_spark.operators.stats import multi_histogram

    ev = _t(spark, sf_dir, "events")
    return multi_histogram(
        ev, [("value", 0.0, 500.0, 20), ("user_id", 0.0, 50000.0, 10)]
    )


def _multi_histogram_sql() -> str:
    def cell(col: str, lo: float, hi: float, b: int) -> str:
        width = (hi - lo) / b
        return f"""
  SELECT '{col}' AS "column", CAST({lo} AS DOUBLE) AS lo,
         CAST({hi} AS DOUBLE) AS hi, {b} AS buckets,
         CASE WHEN v < {lo} THEN 0
              WHEN v >= {hi} THEN {b + 1}
              ELSE CAST(floor((v - {lo}) / {hi - lo} * {b}) + 1 AS INT)
         END AS bucket
  FROM (SELECT CAST({col} AS DOUBLE) AS v FROM events WHERE {col} IS NOT NULL)
"""
    cells = " UNION ALL ".join(
        [cell("value", 0.0, 500.0, 20), cell("user_id", 0.0, 50000.0, 10)]
    )
    return f"""
WITH cells AS ({cells})
SELECT "column", lo, hi, buckets, bucket,
       round(lo + (bucket - 1) * (hi - lo) / buckets, 6) AS lo_edge,
       round(lo + bucket * (hi - lo) / buckets, 6) AS hi_edge,
       CAST(COUNT(*) AS BIGINT) AS n
FROM cells
GROUP BY "column", lo, hi, buckets, bucket
"""


def q_bigram_logprob_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with stupid backoff (Brants et al. 2007), capped-model
    broadcast shape (top-500 unigrams / top-2000 bigrams) so the backoff
    branch is actually exercised — self-trained exact mode never backs off."""
    from fairtracks_validator_spark.operators.scoring import bigram_logprob

    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(
        bigram_logprob(docs, "doc_id", "text", max_vocab=500, max_bigrams=2000),
        "doc_id",
    )


_BIGRAM_LOGPROB_SQL = f"""
WITH tok AS (SELECT doc_id AS id, {_SQL_TOKENS} AS ts FROM documents),
pos AS (
  SELECT id, unnest([ {{'prev': CASE WHEN i > 1 THEN ts[i-1] END, 'cur': ts[i]}}
                      for i in range(1, len(ts)+1) ]) AS p
  FROM tok
),
st AS (SELECT id, p.prev AS prev, p.cur AS cur FROM pos),
uni_all AS (SELECT cur, count(*) AS c_cur FROM st GROUP BY 1),
tot AS (SELECT sum(c_cur)::DOUBLE AS total FROM uni_all),
uni AS (SELECT cur, c_cur FROM uni_all ORDER BY c_cur DESC, cur ASC LIMIT 500),
big AS (SELECT prev, cur, count(*) AS c_big FROM st WHERE prev IS NOT NULL
        GROUP BY 1, 2 ORDER BY count(*) DESC, prev ASC, cur ASC LIMIT 2000),
scored AS (
  SELECT st.id,
    CASE WHEN st.prev IS NULL
         THEN coalesce(ln(u.c_cur / tot.total), ln(1.0 / tot.total))
         WHEN b.c_big IS NOT NULL AND up.c_prev IS NOT NULL
         THEN ln(b.c_big / up.c_prev)
         ELSE ln(0.4) + coalesce(ln(u.c_cur / tot.total), ln(1.0 / tot.total))
    END AS lp
  FROM st
  LEFT JOIN uni u ON u.cur = st.cur
  LEFT JOIN (SELECT cur AS prev, c_cur AS c_prev FROM uni) up ON up.prev = st.prev
  LEFT JOIN big b ON b.prev = st.prev AND b.cur = st.cur
  CROSS JOIN tot
)
SELECT id::BIGINT AS doc_id, round(avg(lp), 4) AS logprob,
       count(*)::BIGINT AS n_tokens
FROM scored GROUP BY id ORDER BY doc_id
"""


def q_ccnet_buckets_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail terciles per language over the unigram-LM
    score — the Wenzek et al. 2019 §4.3 filtering split."""
    from fairtracks_validator_spark.operators.scoring import (
        ccnet_buckets,
        unigram_logprob,
    )

    docs = _par(_t(spark, sf_dir, "documents"))
    scored = unigram_logprob(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return _sorted_out(
        ccnet_buckets(scored, "doc_id", "logprob", "lang"), "doc_id"
    )


_CCNET_BUCKETS_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, unnest({_SQL_TOKENS}) AS token FROM documents
),
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt)::DOUBLE AS total FROM vocab),
scored AS (
  SELECT t.id AS doc_id, round(avg(ln(v.cnt / tot.total)), 4) AS logprob
  FROM tok t JOIN vocab v USING (token), tot
  GROUP BY t.id
),
sl AS (SELECT s.doc_id, d.lang, s.logprob
       FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
cut AS (
  SELECT lang,
         round(quantile_cont(logprob, 1.0/3.0), 6) AS c_lo,
         round(quantile_cont(logprob, 2.0/3.0), 6) AS c_hi
  FROM sl GROUP BY 1
)
SELECT sl.doc_id::BIGINT AS doc_id, sl.lang, sl.logprob,
       CASE WHEN sl.logprob >= cut.c_hi THEN 'head'
            WHEN sl.logprob >= cut.c_lo THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sl JOIN cut USING (lang) ORDER BY doc_id
"""


def q_classifier_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashed linear quality classifier (Joulin et al.
    2016): word uni+bigrams hashed into 256 buckets × a deterministic
    pseudo-trained weight vector, sigmoid of the mean — folded-array
    zero-shuffle path."""
    from fairtracks_validator_spark.operators.scoring import (
        hashed_linear_score,
        make_hash_weights,
    )

    docs = _par(_t(spark, sf_dir, "documents"))
    return _sorted_out(
        hashed_linear_score(docs, "doc_id", "text", make_hash_weights(256, "w")),
        "doc_id",
    )


_CLASSIFIER_SCORE_SQL = f"""
WITH w AS (
  SELECT list(((('0x' || substr(md5('w|' || b), 1, 15))::BIGINT % 2001) - 1000)
              / 1000.0 ORDER BY b) AS wl
  FROM range(256) t(b)
),
tok AS (SELECT doc_id AS id, {_SQL_TOKENS} AS ts FROM documents),
feats AS (
  SELECT id, ts || [ ts[i-1] || ' ' || ts[i] for i in range(2, len(ts)+1) ] AS fs
  FROM tok WHERE len(ts) > 0
),
sc AS (
  SELECT id, len(fs) AS n,
         list_sum([ w.wl[(('0x' || substr(md5(f), 1, 15))::BIGINT % 256) + 1]
                    for f in fs ]) AS s
  FROM feats, w
)
SELECT id::BIGINT AS doc_id,
       round(1.0 / (1.0 + exp(-(s / n))), 4) AS score,
       n::BIGINT AS n_features
FROM sc ORDER BY doc_id
"""


def q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, prune cosine>=t
    pairs within clusters, keeping the lowest-centroid-sim member. Planted
    exact clones (vec_id<5 -> +900000) must be the dropped rows. Pretrained
    codebook shape: centroids = embeddings of vec_id 0..7 (deterministic,
    SQL-replicable), the same train-once pattern as ivf_ann_pretrained."""
    from fairtracks_validator_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]
    return _sorted_out(
        semantic_dedup(
            emb.unionByName(clones), "vec_id", "embedding", cents,
            threshold=0.95,
        ),
        "id",
    )


_SEMANTIC_DEDUP_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 900000, embedding FROM embeddings WHERE vec_id < 5
),
v AS (
  SELECT vec_id AS id, embedding AS vec,
         sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in embedding ])) AS vn
  FROM corpus
  WHERE sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in embedding ])) > 0
),
cent AS (
  SELECT vec_id::INT AS cluster, embedding AS cvec,
         sqrt(list_sum([ x::DOUBLE * x::DOUBLE for x in embedding ])) AS cn
  FROM embeddings WHERE vec_id < 8
),
asg AS (
  SELECT id, vec, vn, cluster, centroid_sim FROM (
    SELECT v.id, v.vec, v.vn, c.cluster,
           round(list_sum([ v.vec[j+1]::DOUBLE * c.cvec[j+1]::DOUBLE
                            for j in range(0, len(v.vec)) ]) / (v.vn * c.cn), 6)
             AS centroid_sim,
           row_number() OVER (PARTITION BY v.id ORDER BY
             list_sum([ v.vec[j+1]::DOUBLE * c.cvec[j+1]::DOUBLE
                        for j in range(0, len(v.vec)) ]) / (v.vn * c.cn) DESC,
             c.cluster ASC) AS rn
    FROM v CROSS JOIN cent c
  ) WHERE rn = 1
),
drp AS (
  SELECT DISTINCT r.id
  FROM asg l JOIN asg r ON l.cluster = r.cluster
   AND (l.centroid_sim < r.centroid_sim
        OR (l.centroid_sim = r.centroid_sim AND l.id < r.id))
  WHERE round(list_sum([ l.vec[j+1]::DOUBLE * r.vec[j+1]::DOUBLE
                         for j in range(0, len(l.vec)) ]) / (l.vn * r.vn), 6)
        >= 0.95
)
SELECT a.id::BIGINT AS id, a.cluster::INT AS cluster, a.centroid_sim,
       (d.id IS NULL) AS keep, FALSE AS capped
FROM asg a LEFT JOIN drp d ON d.id = a.id
ORDER BY a.id
"""


def q_gopher_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 within-doc repetition: duplicate line/paragraph
    fractions (count + character mass). The synthetic corpus is single-line,
    so repeated-line and repeated-paragraph docs are planted (text doubled
    with \\n / \\n\\n joints)."""
    from fairtracks_validator_spark.functions.text import gopher_repetition

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lines_planted = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.concat("text", F.lit("\n"), "text").alias("text"),
    )
    paras_planted = docs.where(
        (F.col("doc_id") >= 20) & (F.col("doc_id") < 40)
    ).select(
        (F.col("doc_id") + 810000).alias("doc_id"),
        F.concat("text", F.lit("\n\n"), "text").alias("text"),
    )
    corpus = _par(docs.unionByName(lines_planted).unionByName(paras_planted))
    return _sorted_out(
        corpus.select("doc_id", gopher_repetition("text").alias("m"))
        .select("doc_id", "m.*"),
        "doc_id",
    )


_GOPHER_REPETITION_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 800000, text || chr(10) || text
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 810000, text || chr(10) || chr(10) || text
  FROM documents WHERE doc_id >= 20 AND doc_id < 40
),
base AS (SELECT doc_id, coalesce(text, '') AS t FROM corpus),
el AS (
  SELECT doc_id, greatest(len(t), 1)::DOUBLE AS total,
         list_sort(list_filter(string_split(t, chr(10)),
                               x -> NOT regexp_matches(x, '^\\s*$'))) AS sl,
         list_sort(list_filter(string_split(t, chr(10) || chr(10)),
                               x -> NOT regexp_matches(x, '^\\s*$'))) AS sp
  FROM base
),
d AS (
  SELECT doc_id, total, len(sl) AS nl, len(sp) AS np,
         list_filter([CASE WHEN i > 1 AND sl[i] = sl[i-1] THEN len(sl[i]) END
                      for i in range(1, len(sl) + 1)],
                     x -> x IS NOT NULL) AS rl,
         list_filter([CASE WHEN i > 1 AND sp[i] = sp[i-1] THEN len(sp[i]) END
                      for i in range(1, len(sp) + 1)],
                     x -> x IS NOT NULL) AS rp
  FROM el
)
SELECT doc_id::BIGINT AS doc_id,
       nl::BIGINT AS n_lines, np::BIGINT AS n_paras,
       round(len(rl) / greatest(nl, 1), 6) AS dup_line_frac,
       round(coalesce(list_sum(rl), 0) / total, 6) AS dup_line_char_frac,
       round(len(rp) / greatest(np, 1), 6) AS dup_para_frac,
       round(coalesce(list_sum(rp), 0) / total, 6) AS dup_para_char_frac
FROM d ORDER BY doc_id
"""


def q_cap_per_group_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-group quota: at most 50 docs per lang, chosen
    by deterministic md5 priority; under-quota groups skip the rank window
    (skew-aware two-phase plan)."""
    from fairtracks_validator_spark.operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        cap_per_group(docs, "lang", "doc_id", cap=50, seed="cap")
        .select("doc_id", "lang", "keep")
        .orderBy("doc_id")
    )


_CAP_PER_GROUP_SQL = """
WITH sizes AS (SELECT lang, count(*) AS g FROM documents GROUP BY 1),
r AS (
  SELECT d.doc_id, d.lang, s.g,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY md5(d.doc_id::VARCHAR || '|cap') ASC, d.doc_id ASC
         ) AS rn
  FROM documents d JOIN sizes s USING (lang)
)
SELECT doc_id::BIGINT AS doc_id, lang, (g <= 50 OR rn <= 50) AS keep
FROM r ORDER BY doc_id
"""


def q_url_blocklist_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb URL blocklist pre-filter over the same deterministic
    messy-URL family as url_canonical: one eTLD+1 entry blocks every
    subdomain ('domain'), one exact-host entry blocks a single subdomain
    ('host'); everything else keeps."""
    from fairtracks_validator_spark.operators.urlfilter import (
        url_blocklist_filter,
    )

    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Site"), (did % 50).cast("string"),
        F.when(did % 4 == 0, F.lit(".CO.UK")).otherwise(F.lit(".Example.COM")),
        F.when(did % 3 == 0, F.lit(":80"))
         .when(did % 3 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), (did % 7).cast("string"))
        ),
        F.when(did % 2 == 0, F.concat(
            F.lit("?utm_source=x&b="), (did % 9).cast("string"), F.lit("&a=1")
        )).when(did % 6 == 1, F.lit("?z=1")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    df = _par(_t(spark, sf_dir, "documents").select(did.alias("doc_id"))).select(
        "doc_id", url.alias("url")
    )
    out = url_blocklist_filter(
        df, "url",
        ["site4.co.uk", "site28.co.uk", "www.site13.example.com"],
    )
    return _sorted_out(out.select("doc_id", "blocked_by", "keep"), "doc_id")


def _url_blocklist_sql() -> str:
    from fairtracks_validator_spark.functions.url import TWO_LEVEL_SUFFIXES

    sufs = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)
    return rf"""
WITH d AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://WWW.Site' || CAST(doc_id % 50 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '.CO.UK' ELSE '.Example.COM' END)
    || (CASE WHEN doc_id % 3 = 0 THEN ':80'
             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ''
             ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END)
    || (CASE WHEN doc_id % 2 = 0
             THEN '?utm_source=x&b=' || CAST(doc_id % 9 AS VARCHAR) || '&a=1'
             WHEN doc_id % 6 = 1 THEN '?z=1' ELSE '' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS u0
  FROM documents
),
x AS (
  SELECT doc_id,
    regexp_replace(
      lower(regexp_extract(regexp_replace(trim(u0), '#.*$', ''),
        '^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?@]*@)?([^/?@]*)', 1)),
      ':[0-9]+$', '') AS h
  FROM d
),
y AS (
  SELECT doc_id, h, string_split(h, '.') AS parts FROM x
),
z AS (
  SELECT doc_id, h,
    (CASE WHEN len(parts) >= 3
               AND concat_ws('.', parts[-2], parts[-1]) IN ({sufs})
          THEN concat_ws('.', parts[-3], parts[-2], parts[-1])
          WHEN len(parts) >= 2 THEN concat_ws('.', parts[-2], parts[-1])
          ELSE h END) AS dom
  FROM y
)
SELECT doc_id::BIGINT AS doc_id,
  (CASE WHEN h IN ('site4.co.uk', 'site28.co.uk', 'www.site13.example.com')
        THEN 'host'
        WHEN dom IN ('site4.co.uk', 'site28.co.uk', 'www.site13.example.com')
        THEN 'domain' END) AS blocked_by,
  (CASE WHEN h IN ('site4.co.uk', 'site28.co.uk', 'www.site13.example.com')
             OR dom IN ('site4.co.uk', 'site28.co.uk',
                        'www.site13.example.com')
        THEN FALSE ELSE TRUE END) AS keep
FROM z ORDER BY doc_id
"""


def q_ccnet_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet end-to-end (Wenzek et al. 2019): language-ID -> corpus-trained
    LM score -> per-language perplexity terciles -> keep head+middle. Every
    stage is an existing oracled operator; this row pins the COMPOSITION."""
    from fairtracks_validator_spark.functions.text import langid
    from fairtracks_validator_spark.operators.scoring import (
        ccnet_buckets,
        unigram_logprob,
    )

    docs = _par(_t(spark, sf_dir, "documents"))
    lid = docs.select("doc_id", langid(F.col("text")).alias("pred_lang"))
    scored = unigram_logprob(docs, "doc_id", "text").join(lid, "doc_id")
    b = ccnet_buckets(scored, "doc_id", "logprob", "pred_lang")
    return _sorted_out(
        b.withColumn("keep", F.col("bucket") != F.lit("tail")), "doc_id"
    )


def _ccnet_pipeline_sql() -> str:
    from fairtracks_validator_spark.functions.text import STOPWORDS

    s = {lang: _sql_stopword_score(ws) for lang, ws in STOPWORDS.items()}
    return f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS words FROM documents),
sc AS (
  SELECT doc_id, {s['de']} AS s_de, {s['en']} AS s_en,
         {s['es']} AS s_es, {s['fr']} AS s_fr
  FROM tok
),
lid AS (
  SELECT doc_id,
    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr' END AS pred_lang
  FROM sc
),
tok2 AS (SELECT doc_id AS id, unnest(words) AS token FROM tok),
vocab AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY 1),
tot AS (SELECT sum(cnt)::DOUBLE AS total FROM vocab),
scored AS (
  SELECT t.id AS doc_id, round(avg(ln(v.cnt / tot.total)), 4) AS logprob
  FROM tok2 t JOIN vocab v USING (token), tot
  GROUP BY t.id
),
sl AS (SELECT s.doc_id, l.pred_lang, s.logprob
       FROM scored s JOIN lid l USING (doc_id)),
cut AS (
  SELECT pred_lang,
         round(quantile_cont(logprob, 1.0/3.0), 6) AS c_lo,
         round(quantile_cont(logprob, 2.0/3.0), 6) AS c_hi
  FROM sl GROUP BY 1
),
b AS (
  SELECT sl.doc_id, sl.pred_lang, sl.logprob,
         CASE WHEN sl.logprob >= cut.c_hi THEN 'head'
              WHEN sl.logprob >= cut.c_lo THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM sl JOIN cut USING (pred_lang)
)
SELECT doc_id::BIGINT AS doc_id, pred_lang, logprob, bucket,
       (bucket <> 'tail') AS keep
FROM b ORDER BY doc_id
"""


def q_pack_bfd_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing whole-document packing (bins of 256 tokens).
    BFD is order-sequential greedy — no SQL twin exists, so this entry
    carries the driver's rows-only check; exact-output parity against an
    independent pure-Python BFD lives in test_scoring_properties."""
    from fairtracks_validator_spark.functions.text import token_count
    from fairtracks_validator_spark.operators.pipeline import (
        pack_sequences_bfd,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return pack_sequences_bfd(
        docs, "doc_id", "n_tok", seq_len=256, buckets=16
    ).orderBy("id")


def q_c4_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2) over planted
    multi-line pages: terminal-punctuation + min-words + javascript line
    filters, '{' / 'lorem ipsum' page gates, >=3-sentence rule. clean_hash
    pins the rejoined clean text byte-for-byte."""
    from fairtracks_validator_spark.functions.text import c4_metrics, c4_pass

    did = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("short line."),
        F.lit("this javascript line has many words here."),
        F.lit("a perfectly fine sentence with enough words."),
        F.when(did % 7 == 0, F.lit("code { block")),
        F.when(did % 11 == 0, F.lit("Lorem Ipsum filler here.")),
    )
    pg = _par(
        _t(spark, sf_dir, "documents").select(did.alias("doc_id"), "text")
    ).select("doc_id", page.alias("t"))
    d2 = pg.select("doc_id", c4_metrics(F.col("t")).alias("m"))
    out = d2.select(
        "doc_id",
        F.col("m.n_lines_kept").alias("n_lines_kept"),
        F.col("m.n_lines_dropped").alias("n_lines_dropped"),
        F.col("m.n_sentences").alias("n_sentences"),
        F.col("m.has_brace").alias("has_brace"),
        F.col("m.has_lorem").alias("has_lorem"),
        c4_pass(F.col("m")).alias("keep"),
        F.md5(F.col("m.clean_text")).alias("clean_hash"),
    )
    return _sorted_out(out, "doc_id")


_C4_CLEAN_SQL = r"""
WITH pg AS (
  SELECT doc_id, concat_ws(chr(10), text,
    'short line.',
    'this javascript line has many words here.',
    'a perfectly fine sentence with enough words.',
    CASE WHEN doc_id % 7 = 0 THEN 'code { block' END,
    CASE WHEN doc_id % 11 = 0 THEN 'Lorem Ipsum filler here.' END) AS t
  FROM documents
),
l AS (
  SELECT doc_id, t,
    list_filter(string_split(t, chr(10)),
                x -> NOT regexp_matches(x, '^\s*$')) AS lines
  FROM pg
),
k AS (
  SELECT doc_id, t, lines,
    list_filter(lines, x -> regexp_matches(trim(x), '[.!?"]$')
      AND len(list_filter(
            string_split(regexp_replace(x, '\s+', ' ', 'g'), ' '),
            w -> w <> '')) >= 5
      AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l
),
c AS (
  SELECT doc_id, t, lines, kept,
         array_to_string(kept, chr(10)) AS clean
  FROM k
)
SELECT doc_id::BIGINT AS doc_id,
  len(kept)::BIGINT AS n_lines_kept,
  (len(lines) - len(kept))::BIGINT AS n_lines_dropped,
  len(regexp_extract_all(clean, '[.!?]'))::BIGINT AS n_sentences,
  contains(t, '{') AS has_brace,
  contains(lower(t), 'lorem ipsum') AS has_lorem,
  (len(regexp_extract_all(clean, '[.!?]')) >= 3
   AND NOT contains(t, '{')
   AND NOT contains(lower(t), 'lorem ipsum')) AS keep,
  md5(clean) AS clean_hash
FROM c ORDER BY doc_id
"""


# ------------------------------------------------------------------ registry
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_documents": q_validate_documents,
        "validate_documents_draft7": q_validate_documents_draft7,
        "validate_multischema": q_validate_multischema,
        "validate_documents_formats": q_validate_documents_formats,
        "validate_events_props": q_validate_events_props,
        "pk_dup_orders_custkey": q_pk_dup_orders_custkey,
        "fk_missing_events_user": q_fk_missing_events_user,
        "profile_orders": q_profile_orders,
        "profile_documents": q_profile_documents,
        "quantile_profile_orders": q_quantile_profile_orders,
        "distinct_users_events": q_distinct_users_events,
        "histogram_events_value": q_histogram_events_value,
        "psi_events_value": q_psi_events_value,
        "psi_hourly_events": q_psi_hourly_events,
        "hll_cardinality": q_hll_cardinality,
        "ks_events_value": q_ks_events_value,
        "ks_quantile_events": q_ks_quantile_events,
        "ks_per_lang_documents": q_ks_per_lang_documents,
        "chi_square_events": q_chi_square_events,
        "events_hourly_window": q_events_hourly_window,
        "sessions_events": q_sessions_events,
        "exact_dedup_documents": q_exact_dedup_documents,
        "minhash_lsh_documents": q_minhash_lsh_documents,
        "minhash_verified_dups": q_minhash_verified_dups,
        "containment_verified_dups": q_containment_verified_dups,
        "dedup_clusters_documents": q_dedup_clusters_documents,
        "dedup_keep_documents": q_dedup_keep_documents,
        "unigram_logprob_documents": q_unigram_logprob_documents,
        "simhash_documents": q_simhash_documents,
        "simhash_neardup_documents": q_simhash_neardup_documents,
        "ngram_jaccard_documents": q_ngram_jaccard_documents,
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "embedding_neardup": q_embedding_neardup,
        "ivf_ann_embeddings": q_ivf_ann_embeddings,
        "ivf_ann_pretrained": q_ivf_ann_pretrained,
        "url_canonical_documents": q_url_canonical_documents,
        "langid_documents": q_langid_documents,
        "quality_documents": q_quality_documents,
        "gopher_quality_documents": q_gopher_quality_documents,
        "repetition_documents": q_repetition_documents,
        "top_tokens_per_lang": q_top_tokens_per_lang,
        "token_counts_documents": q_token_counts_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "stratified_sample_documents": q_stratified_sample_documents,
        "train_val_split_documents": q_train_val_split_documents,
        "pii_redact_documents": q_pii_redact_documents,
        "training_pipeline_documents": q_training_pipeline_documents,
        "pack_sequences_documents": q_pack_sequences_documents,
        "split_balance_documents": q_split_balance_documents,
        "warc_pages_documents": q_warc_pages_documents,
        "decontam_documents": q_decontam_documents,
        "line_dedup_documents": q_line_dedup_documents,
        "expectations_documents": q_expectations_documents,
        "multi_histogram_events": q_multi_histogram_events,
        "trim_contam_documents": q_trim_contam_documents,
        "winnow_passages_documents": q_winnow_passages_documents,
        "importance_sample_documents": q_importance_sample_documents,
        "bigram_logprob_documents": q_bigram_logprob_documents,
        "ccnet_buckets_documents": q_ccnet_buckets_documents,
        "classifier_score_documents": q_classifier_score_documents,
        "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
        "gopher_repetition_documents": q_gopher_repetition_documents,
        "cap_per_group_documents": q_cap_per_group_documents,
        "url_blocklist_documents": q_url_blocklist_documents,
        "ccnet_pipeline_documents": q_ccnet_pipeline_documents,
        "pack_bfd_documents": q_pack_bfd_documents,
        "c4_clean_documents": q_c4_clean_documents,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "validate_documents": _VALIDATE_DOCUMENTS_SQL,
        "validate_documents_draft7": _VALIDATE_DRAFT7_SQL,
        "validate_multischema": _VALIDATE_MULTISCHEMA_SQL,
        "validate_documents_formats": _validate_formats_sql(),
        "validate_events_props": _VALIDATE_EVENTS_PROPS_SQL,
        "pk_dup_orders_custkey": _PK_DUP_ORDERS_SQL,
        "fk_missing_events_user": _FK_MISSING_EVENTS_SQL,
        "profile_orders": _profile_sql("orders", ["o_custkey", "o_totalprice", "o_orderdate"]),
        "profile_documents": _profile_sql("documents", ["lang", "n_chars", "source"]),
        "quantile_profile_orders": _quantile_profile_sql(),
        "distinct_users_events": _DISTINCT_USERS_SQL,
        "histogram_events_value": _HISTOGRAM_EVENTS_SQL,
        "psi_events_value": _PSI_EVENTS_SQL,
        "psi_hourly_events": _PSI_HOURLY_SQL,
        # sketch-based queries carry numeric-BOUND oracles: exact counts +
        # tolerance verdict columns (the sketch internals stay engine-local)
        "hll_cardinality": _HLL_CARDINALITY_SQL,
        "ks_quantile_events": _KS_QUANTILE_SQL,
        "ks_events_value": _KS_EVENTS_SQL,
        "ks_per_lang_documents": _KS_PER_LANG_SQL,
        "chi_square_events": _CHI_SQUARE_EVENTS_SQL,
        "events_hourly_window": _EVENTS_HOURLY_SQL,
        "sessions_events": _SESSIONS_EVENTS_SQL,
        "exact_dedup_documents": _EXACT_DEDUP_SQL,
        "minhash_lsh_documents": _minhash_sql(),
        "minhash_verified_dups": _minhash_verified_sql(),
        "containment_verified_dups": _containment_verified_sql(),
        "dedup_clusters_documents": _dedup_clusters_sql(),
        "dedup_keep_documents": _dedup_keep_sql(),
        "unigram_logprob_documents": _UNIGRAM_LOGPROB_SQL,
        "simhash_documents": _SIMHASH_SQL,
        "simhash_neardup_documents": _SIMHASH_NEARDUP_SQL,
        "ngram_jaccard_documents": _NGRAM_JACCARD_SQL,
        "cosine_topk_embeddings": _COSINE_TOPK_SQL,
        "embedding_neardup": _EMBEDDING_NEARDUP_SQL,
        "ivf_ann_embeddings": _ivf_ann_sql(),
        "ivf_ann_pretrained": _ivf_ann_sql(),
        "url_canonical_documents": _url_canonical_sql(),
        "langid_documents": _langid_sql(),
        "quality_documents": _QUALITY_SQL,
        "gopher_quality_documents": _GOPHER_QUALITY_SQL,
        "repetition_documents": _REPETITION_SQL,
        "top_tokens_per_lang": _TOP_TOKENS_SQL,
        "token_counts_documents": _TOKEN_COUNTS_SQL,
        "fingerprint_documents": _FINGERPRINT_SQL,
        "stratified_sample_documents": _STRATIFIED_SAMPLE_SQL,
        "train_val_split_documents": _TRAIN_VAL_SPLIT_SQL,
        "pii_redact_documents": _PII_REDACT_SQL,
        "training_pipeline_documents": _TRAINING_PIPELINE_SQL,
        "pack_sequences_documents": _PACK_SEQUENCES_SQL,
        "split_balance_documents": _SPLIT_BALANCE_SQL,
        "warc_pages_documents": _warc_pages_sql(),
        "decontam_documents": _decontam_sql(),
        "line_dedup_documents": _line_dedup_sql(),
        "expectations_documents": _EXPECTATIONS_SQL,
        "multi_histogram_events": _multi_histogram_sql(),
        "trim_contam_documents": _trim_contam_sql(),
        "winnow_passages_documents": _winnow_sql(),
        "importance_sample_documents": _importance_sample_sql(),
        "bigram_logprob_documents": _BIGRAM_LOGPROB_SQL,
        "ccnet_buckets_documents": _CCNET_BUCKETS_SQL,
        "classifier_score_documents": _CLASSIFIER_SCORE_SQL,
        "semantic_dedup_embeddings": _SEMANTIC_DEDUP_SQL,
        "gopher_repetition_documents": _GOPHER_REPETITION_SQL,
        "cap_per_group_documents": _CAP_PER_GROUP_SQL,
        "url_blocklist_documents": _url_blocklist_sql(),
        "ccnet_pipeline_documents": _ccnet_pipeline_sql(),
        "c4_clean_documents": _C4_CLEAN_SQL,
    }
