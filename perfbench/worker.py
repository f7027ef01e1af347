"""Spark side of one benchmark run; ``run.py`` starts it in a fresh process.

Modes:
- ``gen``: write the seeded pages input with ``sources.pages``.
- ``run``: set up (fresh process -> session up, stored inputs opened,
  schemas compiled), run the workload's job once cold, warm up on the same job
  for ``--warm-seconds``, then time steady jobs for ``--seconds``. With
  ``--trace 1`` steady jobs alternate untraced/traced, and isolated calls
  into the layers follow.

Every call into the validator goes through a ``Tracer`` span; the result is
one JSON file that ``run.py`` checks against the DuckDB oracle.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from spans import Tracer, merge_work  # noqa: E402

# warm-up after the cold job: at least this many jobs and --warm-seconds;
# pages walls still fall for ~8 jobs at 200k rows, routed ones for ~3
WARM_MIN_JOBS = 2
MIN_STEADY = 3  # steady jobs per run even if --seconds is already spent
MIN_TRACED = 2  # traced runs: at least this many untraced and traced jobs each

PAGES_SCHEMA_ID = "pages/1.0"
USERS = {
    "$id": "users/1.0", "primary_key": ["user_key"],
    "properties": {"balance": {"minimum": 0}},
}
EVENTS = {
    "$id": "events/1.0",
    "properties": {"value": {"maximum": 400}},
    "foreign_keys": [{"schema_id": "users/1.0", "members": ["user_id"]}],
}
# the drift/stats calls: (value expression name, group column, group a, group b)
DRIFT = {
    "pages_validate": ("n_chars", "lang", "en", "de"),
    "corpus_routed": ("value", "event_type", "click", "view"),
}
PSI_RANGE = (0.0, 500.0, 10)


def start_session(work: str):
    from fairtracks_validator_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap: G1 does not resize it, so peak RSS follows the
            # heap the program touches instead of the collector's sizing
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


class Workload:
    """Opened inputs, compiled plans and the job of one workload."""

    def __init__(self, spark, name: str, input_path: str, out_dir: str):
        from fairtracks_validator_spark.plans.schema_compile import compile_schema
        from fairtracks_validator_spark.sources.pages import pages_schema_dict

        self.spark, self.name, self.input_path = spark, name, input_path
        self.out_dir = out_dir
        t0 = time.perf_counter()
        self.df = spark.read.parquet(input_path)
        t1 = time.perf_counter()
        if name == "pages_validate":
            self.plans = {PAGES_SCHEMA_ID: compile_schema(pages_schema_dict())}
        else:
            self.plans = {
                "users/1.0": compile_schema(USERS),
                "events/1.0": compile_schema(EVENTS),
            }
        self.open_s = t1 - t0
        self.compile_s = time.perf_counter() - t1
        self.n_checks = sum(
            len(p.checks) + len(p.join_checks) + len(p.uniques) + len(p.fks)
            for p in self.plans.values()
        )

    def docs(self, schema_id: str):
        from pyspark.sql import functions as F

        if self.name == "pages_validate":
            return self.df
        return self.df.where(F.col("schema_id") == schema_id)

    def job(self, tracer: Tracer):
        """One validation run: validate, then the observed sink. Returns the
        sink's counts and the result, which the caller releases."""
        from fairtracks_validator_spark.runner import (
            sink_observed, validate_corpus, validate_routed,
        )

        with tracer.span("runner.validate"):
            if self.name == "pages_validate":
                res = validate_corpus({PAGES_SCHEMA_ID: (self.plans[PAGES_SCHEMA_ID], self.df)})
            else:
                res = validate_routed(self.df, self.plans)
        try:
            with tracer.span("runner.sink"):
                if self.name == "pages_validate":
                    counts = sink_observed(res)
                else:
                    counts = sink_observed(res, path=self.out_dir)
        except Exception:
            res.release()
            raise
        return counts, res

    def per_check(self) -> dict:
        """Violation counts per check_id of one more run (pages; the routed
        output is read back from its parquet sink by the oracle instead)."""
        from fairtracks_validator_spark.runner import validate_corpus

        res = validate_corpus({PAGES_SCHEMA_ID: (self.plans[PAGES_SCHEMA_ID], self.df)})
        rows = res.violations.groupBy("check_id").count().collect()
        return {r["check_id"]: r["count"] for r in rows}


class Run:
    """Counts the calls a run attempts and the ones that raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, fn, *a):
        """Run one call into the validator; a raise counts as a failed job."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:  # the run goes on and reports the failure
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return None


def noop_count(df) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def isolated_calls(run: Run, wl: Workload, tracer: Tracer, reps: int) -> dict:
    """Each layer's public function called alone, ``reps`` times; spans carry
    the Spark work, the result keeps every repetition."""
    from pyspark.sql import functions as F

    from fairtracks_validator_spark.operators import drift, stats
    from fairtracks_validator_spark.operators.checks import (
        apply_checks, checks_pass_predicate,
    )
    from fairtracks_validator_spark.operators.fk import fk_check
    from fairtracks_validator_spark.operators.uniqueness import uniqueness_check

    out: dict = {}

    def rec(key, sp, value):
        out.setdefault(key, []).append(
            {"s": sp["end"] - sp["start"], "work": sp.get("work"), "value": value}
        )

    def checks_alone():
        n = 0
        with tracer.span("checks.apply_checks") as sp:
            for sid, plan in wl.plans.items():
                n += noop_count(apply_checks(
                    wl.docs(sid), plan.checks, plan.join_checks, sid
                ))
        rec("checks", sp, n)

    def uniqueness_alone():
        n = 0
        with tracer.span("uniqueness.uniqueness_check") as sp:
            for sid, plan in wl.plans.items():
                survivors = wl.docs(sid).where(checks_pass_predicate(plan.checks))
                for uq in plan.uniques:
                    res = uniqueness_check(survivors, uq.check_id, uq.members, sid)
                    n += noop_count(res.violations)
        rec("uniqueness", sp, n)

    for _ in range(reps):
        run.call(checks_alone)
        run.call(uniqueness_alone)

    if wl.name == "corpus_routed":
        users, events = wl.plans["users/1.0"], wl.plans["events/1.0"]
        fk = events.fks[0]
        uq = users.uniques[0]

        def fk_alone():
            with tracer.span("uniqueness.registry"):
                reg = uniqueness_check(
                    wl.docs("users/1.0").where(checks_pass_predicate(users.checks)),
                    uq.check_id, uq.members, "users/1.0",
                ).pk.localCheckpoint(eager=True)
            probes = wl.docs("events/1.0").where(checks_pass_predicate(events.checks))
            with tracer.span("fk.fk_check") as sp:
                res = fk_check(
                    probes, fk.check_id, fk.members, "events/1.0",
                    fk.target_schema_id, reg, pk_known_empty=False,
                )
                missing = len(res.collect())
            plan = res._jdf.queryExecution().executedPlan().toString()
            rec("fk", sp, {"missing_rows": missing,
                           "broadcast": int("BroadcastHashJoin" in plan)})

        for _ in range(reps):
            run.call(fk_alone)

    col, grp, a, b = DRIFT[wl.name]
    if wl.name == "pages_validate":
        src = wl.df.withColumn(col, F.length("text"))
    else:
        src = wl.docs("events/1.0")
    lo, hi, buckets = PSI_RANGE

    def stat_call(key, span_name, fn):
        def go():
            with tracer.span(span_name) as sp:
                rows = [r.asDict() for r in fn().collect()]
            rec(key, sp, rows)
        return go

    calls = [
        ("quantile", "stats.quantile_profile", lambda: stats.quantile_profile(src, [col])),
        ("psi", "stats.psi", lambda: stats.psi(src, col, grp, b, a, lo, hi, buckets)),
        ("ks_exact", "drift.ks_2samp_exact", lambda: drift.ks_2samp_exact(src, col, grp, a, b)),
        ("ks_sketch", "drift.ks_2samp_quantile", lambda: drift.ks_2samp_quantile(src, col, grp, a, b)),
    ]
    for _ in range(reps):
        for key, span_name, fn in calls:
            run.call(stat_call(key, span_name, fn))

    if wl.name == "pages_validate":
        run.call(lambda: out.update(stream=stream_alone(wl, tracer)))
    return out


def stream_alone(wl: Workload, tracer: Tracer) -> dict:
    """``validate_stream`` over the stored pages files, one file per
    micro-batch, caught up with ``availableNow``."""
    from fairtracks_validator_spark.streaming.validate_stream import validate_stream

    out = os.path.join(wl.out_dir, "stream")
    shutil.rmtree(out, ignore_errors=True)
    stream_df = (
        wl.spark.readStream.schema(wl.df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(wl.input_path)
    )
    holder: dict = {}
    with tracer.span(
        "streaming.validate_stream",
        extra_groups=lambda: [str(holder["q"].runId)] if "q" in holder else [],
    ) as sp:
        holder["q"] = q = validate_stream(stream_df, wl.plans[PAGES_SCHEMA_ID], out)
        q.awaitTermination()
    batches = [
        {
            "rows": p["numInputRows"],
            **{k: v / 1000.0 for k, v in p["durationMs"].items()},
        }
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    return {"s": sp["end"] - sp["start"], "work": sp.get("work"),
            "batches": batches, "out": out}


def do_setup(args) -> tuple:
    t0 = time.time()
    spark, cores = start_session(args.work)
    t1 = time.time()
    wl = Workload(spark, args.workload, args.input, os.path.join(args.work, "out", args.workload))
    ready = time.time()
    setup = {
        "setup_s": ready - args.spawn_ts,
        "session_start_s": t1 - t0,
        "open_s": wl.open_s,
        "compile_s": wl.compile_s,
        "checks": wl.n_checks,
        "import_s": t0 - T_START,
    }
    return spark, cores, wl, setup


def do_run(args, spark, cores, wl, setup) -> dict:
    run = Run()
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=False)

    def one_job():
        with tracer.span("job") as sp:
            counts, res = wl.job(tracer)
        try:
            if tracer.enabled:
                infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
                counts["cached_mb"] = sum(
                    r.memSize() + r.diskSize() for r in infos
                ) / (1024.0 * 1024.0)
        finally:
            res.release()
        return sp, counts

    jobs = []  # every validation job: wall, counts, phase, traced

    def timed(phase):
        r = run.call(one_job)
        if r is None:
            jobs.append({"phase": phase, "s": None, "counts": None})
            return None
        sp, counts = r
        jobs.append({"phase": phase, "s": sp["end"] - sp["start"], "counts": counts,
                     "traced": tracer.enabled, "span": sp["id"]})
        return jobs[-1]["s"]

    cold = timed("cold")
    warm: list[float] = []
    while len(warm) < WARM_MIN_JOBS or sum(warm) < args.warm_seconds:
        s = timed("warm")
        if s is None:
            break
        warm.append(s)

    t_end = time.time() + args.seconds
    i = 0
    while time.time() < t_end or i < (2 * MIN_TRACED if args.trace else MIN_STEADY):
        tracer.enabled = bool(args.trace) and i % 2 == 1
        timed("steady")
        i += 1
    tracer.enabled = False

    result = {"setup": setup, "cores": cores, "cold_job_s": cold, "warm": warm, "jobs": jobs}
    if wl.name == "pages_validate":
        result["per_check"] = run.call(wl.per_check)
    if args.trace:
        tracer.enabled = True
        result["isolated"] = isolated_calls(run, wl, tracer, args.reps)
        tracer.enabled = False
        result["spans"] = [
            {k: sp.get(k) for k in ("id", "name", "parent", "start", "end", "work")}
            for sp in tracer.spans
        ]
        runner_work = {}
        for sp in tracer.spans:
            if sp["name"] in ("runner.validate", "runner.sink") and "work" in sp:
                runner_work.setdefault(sp["parent"], {})[sp["name"]] = sp["work"]
        result["runner_work"] = {
            k: {"validate": v.get("runner.validate"),
                "all": merge_work([w for w in v.values() if w])}
            for k, v in runner_work.items()
        }
        result["trace_file"] = os.path.join(args.work, "reports", f"{tracer.run_id}-spans.json")
        os.makedirs(os.path.dirname(result["trace_file"]), exist_ok=True)
        tracer.dump(result["trace_file"], {"workload": wl.name, "seed": args.seed})
    result.update(attempted=run.attempted, failed=run.failed, errors=run.errors)
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["gen", "run"], required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--warm-seconds", type=float, default=8.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-ts", type=float, default=T_START)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    if args.mode == "gen":
        spark, _ = start_session(args.work)
        tmp = args.input + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        inputs.write_pages(spark, tmp, args.rows, args.seed)
        result = inputs.publish(tmp, args.input, time.perf_counter() - t0)
    else:
        result = do_run(args, *do_setup(args))
    with open(args.result, "w") as f:
        json.dump(result, f)
    sys.stdout.flush()
    # the JVM exits when this process closes its stdin; run.py reaps the rest
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
