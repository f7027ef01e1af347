"""Structured-Streaming incremental validation.

The reference is strictly batch (two passes over a closed corpus,
``FairGTrackValidatorCli.java:236-359``); its PK registry is incremental
*within* a run (``ValidatedJSONSchema.java:373-392``) and seedable across
runs (A4, ``README.md:25-35``). This module generalizes that to an unbounded
stream: each micro-batch is a batch run of ``runner`` whose uniqueness
constraints take the accumulated registry (parquet dir ≙ the reference's
in-memory hash map, seeded exactly like A4) as prior holders; the batch's
first-writer keys are then appended to it. Stream and batch therefore share
one first-writer-wins implementation: splitting a corpus by ``ord`` into
contiguous micro-batches yields the batch run's violations and registry.

``foreachBatch`` is the right primitive: uniqueness is a cross-batch global
constraint, not a windowed aggregate, so the state lives in a (at deployment:
Iceberg) table rather than in streaming state-store — which also makes it
inspectable and seedable. Watermarked tumbling-window aggregation is provided
separately for rate-style monitoring (``windowed_event_counts``).

Idempotency: each batch writes its outputs under ``batch_id=<n>`` directories
with overwrite, so foreachBatch retries do not double-count; the registry
append is guarded the same way.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.schema_compile import ValidationPlan

REGISTRY_SCHEMA = "check_id string, key_str string, first_source string, first_ord long"
REGISTRY_COLUMNS = [c.split()[0] for c in REGISTRY_SCHEMA.split(", ")]


def _registry_path(out_dir: str) -> str:
    return os.path.join(out_dir, "registry")


def _load_registry(spark, out_dir: str, before_batch_id: int) -> DataFrame:
    """Registry accumulated by batches STRICTLY BEFORE ``before_batch_id`` —
    a foreachBatch retry must not see its own previous (partial) attempt.

    Listed through Spark's reader (``batch_id`` is a partition column), NOT
    ``os.listdir`` — the out_dir may be hdfs://, s3a://, or any Hadoop FS
    the driver's local filesystem cannot see; a local listing there would
    silently return an empty registry and disable cross-batch dedup
    (code-review r3). Partition pruning keeps the read to prior batches.
    """
    from pyspark.errors import AnalysisException

    from ..session import path_exists

    path = _registry_path(out_dir)
    if not path_exists(spark, path):
        # no registry yet (first batch): nothing to probe against. Asked of
        # the path's FileSystem first — a failed read is logged as an error
        # with a stack trace by Spark's execution listener bus
        return spark.createDataFrame([], REGISTRY_SCHEMA)
    try:
        df = spark.read.option("basePath", path).parquet(path)
    except AnalysisException as e:
        cond = (
            e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        ) or ""
        if "PATH_NOT_FOUND" not in cond:
            # transient storage/permission/corrupt-footer errors must
            # PROPAGATE so the micro-batch retries — swallowing them would
            # silently validate against an empty registry (advice r4)
            raise
        # removed between the check and the read
        return spark.createDataFrame([], REGISTRY_SCHEMA)
    if "batch_id" not in df.columns:
        return spark.createDataFrame([], REGISTRY_SCHEMA)
    return df.where(F.col("batch_id") < before_batch_id).select(*REGISTRY_COLUMNS)


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    plan: ValidationPlan,
    out_dir: str,
    source_col: str = "source",
    ord_col: str = "ord",
) -> None:
    """One micro-batch of incremental validation (also callable directly for
    tests / backfills): a batch run over the micro-batch whose uniqueness
    constraints see every earlier batch's registry as prior holders. FK
    probes stay out of the stream."""
    from ..runner import (
        _kernel_fits, _template, align_to_plan, flat_violations, validate_corpus,
    )

    plan = plan.without_fks()
    sid = plan.schema_id
    prior = {}
    if plan.uniques:
        registry = _load_registry(batch_df.sparkSession, out_dir, batch_id)
        prior = {
            (sid, uq.check_id): registry.where(F.col("check_id") == uq.check_id)
            for uq in plan.uniques
        }
    res = None
    if _kernel_fits(plan):
        # the violations write and the registry write are separate actions:
        # lazily checkpoint the one stage both read, so the first write
        # materializes it and the second reads its blocks — each micro-batch
        # is scanned and its checks evaluated once
        held = next(iter(prior.values()), None)
        tpl = _template(
            plan, sid, source_col, ord_col, held is not None, (),
            batch_df.sparkSession.sparkContext,
        )
        stage = tpl.stage(align_to_plan(batch_df, plan), held)
        stage = stage.localCheckpoint(eager=False)
        violations = flat_violations(tpl.wide(stage))
        recorded = [tpl.recorded(stage)] if plan.uniques else []
    else:
        res = validate_corpus(
            {sid: (plan, batch_df)}, source_col, ord_col, prior_registries=prior
        )
        violations, recorded = res.violations, list(res.pk_registries.values())
    try:
        violations.write.mode("overwrite").parquet(
            os.path.join(out_dir, "violations", f"batch_id={batch_id}")
        )
        if recorded:
            reduce(DataFrame.unionByName, recorded).select(
                *REGISTRY_COLUMNS
            ).write.mode("overwrite").parquet(
                os.path.join(_registry_path(out_dir), f"batch_id={batch_id}")
            )
    finally:
        if res is not None:
            res.release()


def validate_stream(
    stream_df: DataFrame,
    plan: ValidationPlan,
    out_dir: str,
    source_col: str = "source",
    ord_col: str = "ord",
    trigger_available_now: bool = True,
):
    """Attach incremental validation to a streaming DataFrame.

    Returns the started StreamingQuery. Outputs land under
    ``out_dir/violations/batch_id=*`` and ``out_dir/registry/batch_id=*``.
    """
    writer = stream_df.writeStream.foreachBatch(
        lambda bdf, bid: process_batch(bdf, bid, plan, out_dir, source_col, ord_col)
    ).option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def expectations_stream(
    stream_df: DataFrame,
    rules,
    out_dir: str,
    trigger_available_now: bool = True,
):
    """Per-micro-batch table expectations — the streaming twin of
    ``operators.expectations.run_expectations``.

    Each batch's rule report (one row per rule, plus ``batch_id``) appends
    under ``out_dir/reports/batch_id=<n>`` with overwrite-idempotent
    directories, same retry discipline as :func:`process_batch`. This is
    the continuous form of the CI gate: a monitoring job tails the report
    table and alarms on ``passed = false`` rows — per BATCH verdicts (a
    rule like ``row_count`` means "per micro-batch" here, not global).

    Returns the started StreamingQuery."""
    from ..operators.expectations import run_expectations

    def _one_batch(bdf: DataFrame, batch_id: int) -> None:
        # empty batches report too: row_count 0 / null metrics FAIL their
        # rules, which is exactly the alarm the monitoring contract
        # promises — skipping would permanently hide a no-data condition
        # behind a committed batch id (code-review r5)
        report = run_expectations(bdf, rules).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        report.write.mode("overwrite").parquet(
            os.path.join(out_dir, "reports", f"batch_id={batch_id}")
        )

    writer = stream_df.writeStream.foreachBatch(_one_batch).option(
        "checkpointLocation", os.path.join(out_dir, "_expect_checkpoint")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of the batch
    ``events_hourly_window`` query; late rows beyond the watermark drop."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            F.col("n"),
        )
    )
