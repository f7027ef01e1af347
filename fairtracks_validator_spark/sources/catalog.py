"""Sources: schema catalogs, JSON document corpora, schema routing, PK seeds.

Covers SURVEY §2.1/S1-S4 and §2.2/P17:

- S1 schema directory scan: recursive walk, dotfiles skipped, ``*.json*``
  taken, duplicate ``$id`` skipped with a warning
  (``FairGTrackValidatorCli.java:63-137``, ``SchemaRepeatedIdException``).
- S2/S3 document corpus: one DataFrame row per JSON document via Spark's
  vectorized JSON source; corrupt records land in ``_corrupt_record``
  instead of aborting (≙ per-file parse failure handling,
  ``ValidableDoc.java:68-80``).
- P17 schema routing: the document declares its schema via
  ``@schema``/``_schema``/``$schema`` (checked in that order), optionally
  nested under a ``fair_tracks`` parent (``ValidableDoc.java:24-66``).
  Unknown ids → orphan verdicts ("Skipping schema validation ...",
  ``OrphanValidableDocException.java:15``; ``Validator.java:120-122``).
- A4 pre-populated PK sets: seed key values fetched as ``text/uri-list``
  (root ``README.md:25-35``) → unioned into the registry before FK probes.
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expr import context_memo

ALT_SCHEMA_KEYS = ["@schema", "_schema", "$schema"]  # ValidableDoc.java:25-31
PARENT_SCHEMA_KEY = "fair_tracks"


def load_schemas(*dirs: str) -> dict[str, dict]:
    """S1: recursive schema-directory scan → ``{schema_id: schema_dict}``.

    Driver-side on purpose: schemas are small and compilation is a driver
    concern. Skips dotfiles, takes ``*.json*``, keeps the FIRST file that
    declares each ``$id`` (duplicates warn and are skipped,
    ``FairGTrackValidatorCli.java:111-118``).
    """
    out: dict[str, dict] = {}
    stack = list(dirs)
    while stack:
        d = stack.pop(0)
        for name in sorted(os.listdir(d)):
            if name.startswith("."):
                continue
            p = os.path.join(d, name)
            if os.path.isdir(p):
                stack.append(p)  # BFS like the reference's in-loop append
            elif ".json" in name:
                try:
                    with open(p) as f:
                        schema = json.load(f)
                except (json.JSONDecodeError, OSError) as e:
                    warnings.warn(f"skipping unparseable schema {p}: {e}", stacklevel=2)
                    continue
                if not isinstance(schema, dict):
                    # '[]' or '"x"' is valid JSON but not a schema object —
                    # warn-and-skip like every other malformed-schema path
                    # instead of AttributeError-ing the whole scan
                    # (code-review r4)
                    warnings.warn(
                        f"schema {p} is not a JSON object, skipping",
                        stacklevel=2,
                    )
                    continue
                sid = schema.get("$id") or schema.get("id")
                if not sid:
                    warnings.warn(f"schema {p} has no $id/id, skipping", stacklevel=2)
                    continue
                if sid in out:
                    warnings.warn(
                        f"repeated schema id {sid} in {p}, keeping first", stacklevel=2
                    )
                    continue
                # meta-schema validation at load: invalid schemas are warned
                # about and NOT registered (≙ the reference's load stats —
                # ValidatedJSONSchema.java:250-262, UnsupportedSchemaException)
                from ..plans.schema_compile import validate_schema_document

                errs = validate_schema_document(schema)
                if errs:
                    warnings.warn(
                        f"schema {p} failed meta-schema validation "
                        f"({errs[0]}{' …' if len(errs) > 1 else ''}), skipping",
                        stacklevel=2,
                    )
                    continue
                out[sid] = schema
    return out


def read_json_corpus(
    spark: SparkSession,
    path: str,
    schema_ddl: str | None = None,
    multiline: bool = True,
) -> DataFrame:
    """S2/S3: directory of JSON documents → DataFrame.

    One row per document (``multiLine=true`` matches the reference's
    one-object-per-file layout), ``source`` = file path, ``ord`` = a
    deterministic total order (lexicographic file path ≙ directory-walk
    order), corrupt documents kept in ``_corrupt_record``.
    """
    reader = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json*")
        .option("multiLine", str(multiline).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if schema_ddl:
        reader = reader.schema(schema_ddl + ", _corrupt_record STRING")
    df = reader.json(path)
    # Capture physical position hints at the SCAN (before any join): rows of
    # one file block are read sequentially by one task, so (file_block_start,
    # monotonically_increasing_id) orders rows exactly as they appear in the
    # file regardless of where split boundaries fall or how many executors
    # read — the ingredients of a deterministic total order.
    df = (
        df.withColumn("source", F.input_file_name())
        .withColumn("_bstart", F.col("_metadata.file_block_start"))
        .withColumn("_mono", F.monotonically_increasing_id())
    )
    return _stamp_ord(df)


def _stamp_ord(df: DataFrame, file_col: str = "source") -> DataFrame:
    """Deterministic dense ``ord`` = directory-walk order (file path
    lexicographic, then position within file) with NO global window.

    Per-file row counts are aggregated (one map-combined shuffle keyed by
    file), cumulative offsets are computed driver-side — bounded by the file
    COUNT, the same O(#files) the driver's own FileIndex already holds — and
    broadcast back; within-file ranks come from a window partitioned BY FILE
    (parallel across files; ties broken by physical position, so JSON-lines
    corpora get a stable order too — ADVICE r1). The old form ranked the
    whole corpus through one single-partition window.

    ``file_col`` names the column holding the originating file path
    (``source`` for the JSON catalog; the CLI passes a scratch ``_file``
    column when ``source`` is a document key instead).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    counts = df.groupBy(file_col).agg(F.count(F.lit(1)).alias("_n")).collect()
    acc = 0
    offsets = []
    for r in sorted(counts, key=lambda r: r[file_col]):
        offsets.append((r[file_col], acc))
        acc += r["_n"]
    if not offsets:
        return df.withColumn("ord", F.lit(None).cast("long")).drop("_bstart", "_mono")
    off_df = spark.createDataFrame(offsets, f"{file_col} string, _off long")

    w = Window.partitionBy(file_col).orderBy("_bstart", "_mono")
    return (
        df.join(F.broadcast(off_df), file_col)
        .withColumn("ord", (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_bstart", "_mono", "_off")
    )


def schema_id_column(df: DataFrame, parent: str | None = PARENT_SCHEMA_KEY):
    """P17: discriminator Column — ``coalesce(fair_tracks.@schema, @schema,
    _schema, $schema)`` with the reference's key priority, restricted to the
    columns that actually exist in ``df`` (JSON inference only materializes
    keys that occur)."""
    from pyspark.sql import types as T

    cols = set(df.columns)
    candidates = []
    if parent and parent in cols:
        parent_type = df.schema[parent].dataType
        # a non-struct parent (corpus where fair_tracks inferred as a
        # scalar) carries no discriminator — fall through to the top-level
        # keys instead of AttributeError (code-review r3)
        if isinstance(parent_type, T.StructType):
            parent_fields = {f.name for f in parent_type.fields}
            for k in ALT_SCHEMA_KEYS:
                if k in parent_fields:
                    candidates.append(F.col(f"`{parent}`.`{k}`"))
    for k in ALT_SCHEMA_KEYS:
        if k in cols:
            candidates.append(F.col(f"`{k}`"))
    if not candidates:
        return F.lit(None).cast("string")
    return F.coalesce(*candidates)


def route_corpus(
    df: DataFrame,
    plans: dict[str, object],
    schema_id_col: str = "schema_id",
) -> tuple[dict[str, tuple[object, DataFrame]], DataFrame]:
    """Split a heterogeneous corpus by its discriminator column.

    Returns (corpus dict for ``validate_corpus``, orphan violation rows for
    documents whose schema id is not registered —
    ``OrphanValidableDocException.java:15``).
    """
    routes, orphan_where, orphan_cols = context_memo(
        _ROUTES, (schema_id_col, tuple(plans)), df.sparkSession.sparkContext,
        lambda: _route_columns(list(plans), schema_id_col),
    )
    corpus = {sid: (plan, df.where(routes[sid])) for sid, plan in plans.items()}
    return corpus, df.where(orphan_where).select(*orphan_cols)


# route_corpus's Columns per (discriminator, schema ids), built once
_ROUTES: dict = {}


def _route_columns(schema_ids: list[str], schema_id_col: str):
    sid_col = F.col(schema_id_col)
    return (
        {sid: sid_col == sid for sid in schema_ids},
        ~sid_col.isin(schema_ids) | sid_col.isNull(),
        [
            F.col("source"),
            F.col("ord").cast("long").alias("ord"),
            sid_col.alias("schema_id"),
            F.lit("orphan").alias("check_id"),
            F.lit(None).cast("string").alias("key_str"),
            F.lit("orphan").alias("reason"),
            F.format_string(
                "Skipping schema validation (schema with URI %s not found)",
                F.coalesce(sid_col, F.lit("null")),
            ).alias("description"),
        ],
    )


def orphan_verdicts(orphans: DataFrame) -> DataFrame:
    """Verdict rows for orphan documents: ``status='ignored'`` — the
    reference counts them in run stats as ignored instead of dropping them
    (``FairGTrackValidatorCli.java:227-233``)."""
    return orphans.select(
        "source",
        F.col("ord").cast("long").alias("ord"),
        "schema_id",
        F.lit(False).alias("validated"),
        F.lit("ignored").alias("status"),
    )


def seed_pk_registry(
    spark: SparkSession,
    path: str,
    schema_id: str,
    check_id: str = "pk",
) -> DataFrame:
    """A4: pre-populated PK values from a ``text/uri-list`` file (one key per
    line, ``#`` comments ignored) → registry-shaped DataFrame. Single-member
    keys are serialized exactly like corpus keys (``["value"]``)."""
    lines = spark.read.text(path).select(F.trim(F.col("value")).alias("v"))
    return (
        lines.where((F.col("v") != "") & ~F.col("v").startswith("#"))
        .select(
            F.lit(schema_id).alias("schema_id"),
            F.lit(check_id).alias("check_id"),
            F.to_json(F.array(F.col("v"))).alias("key_str"),
            F.lit(f"seed:{path}").alias("first_source"),
            # seeds precede every corpus doc in the total order
            F.lit(-1).cast("long").alias("first_ord"),
        )
        .distinct()
    )
