"""Resumable validation runs: per-partition lineage + checkpointed registry.

North rule: validation runs over 10^12 rows must be resumable from
per-partition checkpoints recorded in a lineage/metrics table (rows scanned,
violations, wall-time per partition). Design:

- **Deterministic partitioning**: every row is assigned
  ``part_id = pmod(xxhash64(url), n_partitions)`` — a pure function of the
  data, independent of cluster size or task scheduling, so a resumed run on a
  different cluster processes the same partition sets.
- **Stage checkpoint 1 — the PK registry**: uniqueness is a *global*
  aggregate; it is computed once over the full input and persisted
  (parquet + ``_SUCCESS``). Resumes reuse it instead of re-shuffling 100 TB.
- **Stage checkpoint 2 — per-partition outputs**: the todo partitions run
  through ``validate_corpus`` with the frozen global registry as prior
  holders, so a document is a duplicate exactly when the registry's first
  holder of its key is another document — the fresh run's verdict. The
  same registry, with any external ones (``extra_registries``), seeds the
  run's FK probes, so a partition's verdicts are those of a fresh run
  seeded with the external registries. Verdicts + violations are
  written partitioned by ``part_id`` with dynamic partition overwrite
  (idempotent per partition); a lineage row ``(part_id, rows_scanned,
  violations, wall_time_s, run_id, status)`` is appended only after the
  partition's data is committed. Resume = anti-join the todo set against
  completed lineage rows. A crash between data-write and lineage-append
  re-does that partition; the overwrite makes it exactly-once.

Sinks are plain parquet directories here; on a real deployment the same
layout maps 1:1 onto Iceberg tables (``writeTo(...).overwritePartitions()``)
— the catalog is injectable via ``format``.
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.schema_compile import ValidationPlan
from .runner import flat_violations, validate_corpus
from .session import path_exists

LINEAGE_SCHEMA = (
    "part_id int, rows_scanned long, violations long, wall_time_s double, "
    "run_id string, status string"
)


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a committed write (its ``_SUCCESS`` marker),
    asked of the path's Hadoop FileSystem: on a file://, hdfs:// or s3a://
    out_dir a local check would read every checkpoint as missing and a
    resume would redo everything."""
    return path_exists(spark, path, "_SUCCESS")


@dataclasses.dataclass
class CheckpointedValidation:
    """Orchestrates a resumable single-table validation run."""

    out_dir: str
    n_partitions: int = 64

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.out_dir, "lineage")

    @property
    def registry_dir(self) -> str:
        return os.path.join(self.out_dir, "registry")

    @property
    def verdicts_dir(self) -> str:
        return os.path.join(self.out_dir, "verdicts")

    @property
    def violations_dir(self) -> str:
        return os.path.join(self.out_dir, "violations")

    # ------------------------------------------------------------------ api
    def completed_partitions(self, spark: SparkSession) -> list[int]:
        if not _exists(spark, self.lineage_dir):
            return []
        rows = (
            spark.read.parquet(self.lineage_dir)
            .where(F.col("status") == "ok")
            .select("part_id")
            .distinct()
            .collect()
        )
        return sorted(r["part_id"] for r in rows)

    def run(
        self,
        df: DataFrame,
        plan: ValidationPlan,
        key_col: str = "url",
        source_col: str = "source",
        ord_col: str = "ord",
        max_partitions: int | None = None,
        run_id: str = "run",
        extra_registries: dict[tuple[str, str], DataFrame] | None = None,
    ) -> dict:
        """Validate ``df``; process at most ``max_partitions`` incomplete
        partitions (None = all). Returns a summary dict. Call again to resume.
        """
        spark = df.sparkSession
        work = df.withColumn(
            "part_id", F.pmod(F.xxhash64(key_col), F.lit(self.n_partitions)).cast("int")
        )

        # ---- stage 1: global registry checkpoint (uniqueness is global)
        corpus = {plan.schema_id: (plan, work)}
        if plan.uniques and not _exists(spark, self.registry_dir):
            res = validate_corpus(corpus, source_col, ord_col)
            regs = []
            for (schema_id, check_id), pk in res.pk_registries.items():
                regs.append(pk)
            reg_all = regs[0]
            for r in regs[1:]:
                reg_all = reg_all.unionByName(r)
            reg_all.write.mode("overwrite").parquet(self.registry_dir)
            res.release()  # registry committed; drop the run's caches

        # ---- todo partitions
        done = set(self.completed_partitions(spark))
        todo = [p for p in range(self.n_partitions) if p not in done]
        if max_partitions is not None:
            todo = todo[:max_partitions]
        if not todo:
            return {"processed": [], "skipped": sorted(done)}

        t0 = time.time()
        subset = work.where(F.col("part_id").isin(todo))

        # per-partition-safe checks: schema checks are row-local, and every
        # key's first holder is the frozen global registry's — a prior
        # holder of THIS subset's run. The registry also seeds the FK
        # probes, with any external registries, so a probe of it sees the
        # whole run's keys. Semantics equal a fresh global run seeded with
        # ``extra_registries`` because the registry is global and frozen.
        prior = {}
        if plan.uniques:
            reg = spark.read.parquet(self.registry_dir)
            prior = {
                (plan.schema_id, uq.check_id): reg.where(
                    (F.col("schema_id") == plan.schema_id)
                    & (F.col("check_id") == uq.check_id)
                )
                for uq in plan.uniques
            }
        seeds = dict(extra_registries or {})
        for rkey, held in prior.items():
            seeds[rkey] = held if rkey not in seeds else held.unionByName(seeds[rkey])
        res = validate_corpus(
            {plan.schema_id: (plan, subset)}, source_col, ord_col,
            seed_registries=seeds, prior_registries=prior,
        )

        # part_id rides along by identity, joined once onto the wide
        # relation both writes read (persisted, so the validation runs once
        # per batch). Null-safe on source: a null key row (null url) must
        # still carry its part_id — a plain equi join drops it, parking its
        # rows in a part_id=-1 blob that dynamic overwrite clobbers per
        # batch (code-review r3). ord is positionally stamped non-null and
        # unique, so eqNullSafe on source cannot fan out.
        part_of = subset.select(
            F.col(source_col).alias("_psrc"), F.col(ord_col).cast("long").alias("_pord"),
            "part_id",
        )
        wide = res.wide_verdicts()
        wide = (
            wide.join(
                part_of,
                wide["source"].eqNullSafe(part_of["_psrc"])
                & (wide["ord"] == part_of["_pord"]),
                "left",
            )
            .drop("_psrc", "_pord")
            .persist()
        )

        # dynamic overwrite scoped to OUR writes and restored after — this
        # is session-global config, and leaving it flipped silently changes
        # overwrite semantics for unrelated writers (code-review r4)
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            wide.drop("violations").write.mode("overwrite").partitionBy(
                "part_id"
            ).parquet(self.verdicts_dir)
            flat_violations(wide, "part_id").write.mode("overwrite").partitionBy(
                "part_id"
            ).parquet(self.violations_dir)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )

        # ---- lineage append (only after data committed)
        # stats come from READING BACK the just-committed parquet (output-
        # sized), not from re-running the validation DAG, which ran once
        # (persisted).
        wall = time.time() - t0
        # explicit schemas: a processed batch may legitimately contain zero
        # violations (or zero rows under max_partitions), leaving a dir with
        # no data files — schema inference would fail there
        verdict_ddl = (
            "source string, ord long, schema_id string, validated boolean, "
            "status string, part_id int"
        )
        viol_ddl = (
            "source string, ord long, schema_id string, check_id string, "
            "key_str string, reason string, description string, part_id int"
        )
        done_verdicts = spark.read.schema(verdict_ddl).parquet(
            self.verdicts_dir
        ).where(F.col("part_id").isin(todo))
        done_viol = spark.read.schema(viol_ddl).parquet(
            self.violations_dir
        ).where(F.col("part_id").isin(todo))
        # EVERY todo partition gets a lineage row — a 0-row partition is
        # legitimately complete; deriving lineage from verdict rows alone
        # left empty partitions eternally "incomplete" and livelocked
        # resumable max_partitions runs (code-review r3)
        todo_df = spark.createDataFrame([(int(p),) for p in todo], "part_id int")
        stats = (
            todo_df.join(
                done_verdicts.groupBy("part_id")
                .agg(F.count(F.lit(1)).alias("rows_scanned")),
                "part_id", "left",
            )
            .join(
                done_viol.groupBy("part_id").agg(F.count(F.lit(1)).alias("violations")),
                "part_id", "left",
            )
            .na.fill({"rows_scanned": 0, "violations": 0})
            .select(
                "part_id", "rows_scanned", "violations",
                F.lit(wall / max(len(todo), 1)).alias("wall_time_s"),
                F.lit(run_id).alias("run_id"),
                F.lit("ok").alias("status"),
            )
        )
        stats.write.mode("append").parquet(self.lineage_dir)
        wide.unpersist()
        res.release()  # outputs committed; drop this batch's caches
        return {"processed": todo, "skipped": sorted(done), "wall_time_s": wall}
