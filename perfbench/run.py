"""Validation-engine benchmark: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload pages_validate --seed 1 --seconds 10 --trace 0

Run from the repository root. A run generates (or reuses) its seeded input,
measures set-up in fresh processes, runs the workload's job in a fresh
``local[nproc]`` Spark session with a single client, checks every output
against DuckDB, prints every metric by name and unit, and prints one JSON
object as its last line. ``--trace 1`` reports the per-layer metrics of a
traced run instead of the end-to-end ones. ``--smoke`` runs a small input
with short loops to check names, units and oracles quickly. Workloads,
metrics and policies are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

RUN_LIMIT_S = 170.0  # the whole run, all processes included
RSS_POLL_S = 0.2


# ------------------------------------------------------------ processes
def _pgid_members(pgid: int) -> list[int]:
    out = []
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":  # a zombie has ended
            out.append(int(e))
    return out


def _rss_mb(pids: list[int]) -> float:
    """Resident memory of the processes, pages they share counted once: the
    sum of their proportional set sizes. Summed plain RSS counted a JVM
    twice while it forked a helper process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class Worker:
    """One ``worker.py`` process in its own process group. Its JVM and any
    Python workers join that group, so ending the group ends them all."""

    def __init__(self, mode: str, args: list[str], log: str, deadline: float,
                 sample_rss: bool = False):
        self.result = os.path.join(WORK, "tmp", f"{mode}-{os.getpid()}-{time.time_ns()}.json")
        env = dict(os.environ)
        env.update(
            TMPDIR=os.path.join(WORK, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            # no /tmp/hsperfdata files; JVM temp files stay in the checkout
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        )
        self.deadline = deadline
        self.peak_rss_mb = 0.0
        self._log = open(log, "ab")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
               "--work", WORK, "--result", self.result,
               "--spawn-ts", repr(time.time())] + args
        self.proc = subprocess.Popen(
            cmd, stdout=self._log, stderr=subprocess.STDOUT, env=env,
            cwd=ROOT, start_new_session=True,
        )
        self._stop = threading.Event()
        self._sampler = None
        if sample_rss:
            self._sampler = threading.Thread(target=self._sample, daemon=True)
            self._sampler.start()

    def _sample(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.is_set():
            if time.time() - listed > 1.0:  # new processes are rare; /proc scans are not free
                pids, listed = _pgid_members(self.proc.pid), time.time()
            self.peak_rss_mb = max(self.peak_rss_mb, _rss_mb(pids))
            self._stop.wait(RSS_POLL_S)

    def wait(self) -> dict:
        try:
            self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            self._stop.set()
            if self._sampler is not None:
                self._sampler.join()
            self.reap()
            self._log.close()
        if self.proc.returncode != 0 or not os.path.exists(self.result):
            raise RuntimeError(f"worker exited with {self.proc.returncode}")
        with open(self.result) as f:
            out = json.load(f)
        os.remove(self.result)
        return out

    def reap(self) -> None:
        """End every process of the group and wait until none is left. The
        worker has written its result by then, so nothing needs a clean
        shutdown."""
        pgid = self.proc.pid
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        while _pgid_members(pgid):
            time.sleep(0.05)


# ------------------------------------------------------------ contention
def procs_running(samples: int = 5, interval: float = 0.1) -> int:
    """Peak runnable threads machine-wide, other than this one."""
    peak = 0
    for i in range(samples):
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("procs_running"):
                    peak = max(peak, int(line.split()[1]) - 1)
        if i + 1 < samples:
            time.sleep(interval)
    return peak


def busy_rate(n: int = 1_000_000) -> float:
    """Single-thread busy-loop iterations per second (best of two)."""
    best = 0.0
    for _ in range(2):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        best = max(best, n / (time.perf_counter() - t0))
    return best


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def sentinel() -> dict:
    return {"procs_running": procs_running(), "busy_rate": busy_rate(),
            "cpu_ticks": cpu_ticks()}


# ------------------------------------------------------------ metrics
def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(gen: dict, res: dict) -> dict:
    """Per-layer metrics of a traced run (see README for the layer map)."""
    steady = [j for j in res["jobs"] if j["phase"] == "steady" and j["s"] is not None]
    traced = [j for j in steady if j["traced"]]
    untraced = [j for j in steady if not j["traced"]]
    rw = [res["runner_work"][j["span"]] for j in traced if j["span"] in res["runner_work"]]
    cores = res["cores"]

    def med(fn):
        return median([fn(x) for x in rw])

    def span_s(job, name):
        for s in res["spans"]:
            if s["parent"] == job["span"] and s["name"] == name:
                return s["end"] - s["start"]
        return 0.0

    iso = res.get("isolated", {})

    def iso_med(key, fn):
        return median([fn(c) for c in iso.get(key, []) if c is not None])

    def share(c):
        return c["work"]["max_task_s"] / c["s"] if c["s"] > 0 else 0.0

    m = {
        "session.start_s": (res["setup"]["session_start_s"], "s"),
        "plans.compile_s": (res["setup"]["compile_s"], "s"),
        "plans.checks": (res["setup"]["checks"], "count"),
        "sources.gen_s": (gen["gen_s"], "s"),
        "sources.input_mb": (gen["input_mb"], "MB"),
        "runner.plan_s": (median([span_s(j, "runner.validate") for j in traced]), "s"),
        "runner.eager_jobs": (med(lambda x: x["validate"]["jobs"]), "count"),
        "runner.sink_s": (median([span_s(j, "runner.sink") for j in traced]), "s"),
        "runner.jobs": (med(lambda x: x["all"]["jobs"]), "count"),
        "runner.stages": (med(lambda x: x["all"]["stages"]), "count"),
        "runner.tasks": (med(lambda x: x["all"]["tasks"]), "count"),
        "runner.task_s": (med(lambda x: x["all"]["task_s"]), "s"),
        "runner.core_util": (median([
            res["runner_work"][j["span"]]["all"]["task_s"] / (j["s"] * cores)
            for j in traced if j["span"] in res["runner_work"]
        ]), "ratio"),
        "runner.task_skew": (med(lambda x: x["all"]["task_skew"]), "ratio"),
        "runner.shuffle_write_mb": (med(lambda x: x["all"]["shuffle_write_mb"]), "MB"),
        "runner.shuffle_read_mb": (med(lambda x: x["all"]["shuffle_read_mb"]), "MB"),
        "runner.spill_mb": (med(lambda x: x["all"]["spill_mb"]), "MB"),
        "runner.gc_s": (med(lambda x: x["all"]["gc_s"]), "s"),
        "runner.cached_mb": (median([j["counts"].get("cached_mb", 0.0) for j in traced]), "MB"),
        "checks.s": (iso_med("checks", lambda c: c["s"]), "s"),
        "checks.task_s": (iso_med("checks", lambda c: c["work"]["task_s"]), "s"),
        "checks.fail_rows": (iso_med("checks", lambda c: c["value"]), "count"),
        "uniqueness.s": (iso_med("uniqueness", lambda c: c["s"]), "s"),
        "uniqueness.shuffle_write_mb": (iso_med("uniqueness", lambda c: c["work"]["shuffle_write_mb"]), "MB"),
        "uniqueness.task_skew": (iso_med("uniqueness", lambda c: c["work"]["task_skew"]), "ratio"),
        "uniqueness.dup_rows": (iso_med("uniqueness", lambda c: c["value"]), "count"),
        "stats.quantile_s": (iso_med("quantile", lambda c: c["s"]), "s"),
        "stats.psi_s": (iso_med("psi", lambda c: c["s"]), "s"),
        "drift.ks_exact_s": (iso_med("ks_exact", lambda c: c["s"]), "s"),
        "drift.ks_sketch_s": (iso_med("ks_sketch", lambda c: c["s"]), "s"),
        "stats.max_task_share": (max(
            [share(c) for k in ("quantile", "psi") for c in iso.get(k, [])] or [0.0]), "ratio"),
        "drift.max_task_share": (max(
            [share(c) for k in ("ks_exact", "ks_sketch") for c in iso.get(k, [])] or [0.0]), "ratio"),
        "trace.overhead_frac": (
            median([j["s"] for j in untraced]) / median([j["s"] for j in traced]) - 1.0
            if traced and untraced else 0.0, "ratio"),
    }
    return m


def extra_layer_metrics(res: dict, expected: dict, stream_check: dict | None) -> dict:
    """Layer metrics of the layers that run on one workload only: the FK
    probe (corpus_routed) and the stream catch-up (pages_validate)."""
    iso = res.get("isolated", {})
    m = {}
    if iso.get("fk"):
        fk = iso["fk"]
        m.update({
            "fk.s": (median([c["s"] for c in fk]), "s"),
            "fk.probe_rows": (expected["fk_probe_rows"], "count"),
            "fk.missing_rows": (median([c["value"]["missing_rows"] for c in fk]), "count"),
            "fk.broadcast": (max(c["value"]["broadcast"] for c in fk), "count"),
            "fk.task_skew": (median([c["work"]["task_skew"] for c in fk]), "ratio"),
        })
    st = iso.get("stream")
    if st:
        b = st["batches"]
        trig = [x["triggerExecution"] for x in b]
        k = max(1, min(10, len(trig) // 2))
        rows = sum(x["rows"] for x in b)
        m.update({
            "stream.docs_per_s": (rows / st["s"], "docs/s"),
            "stream.batches": (len(b), "count"),
            "stream.trigger_s_p50": (median(trig), "s"),
            "stream.add_batch_s_p50": (median([x.get("addBatch", 0.0) for x in b]), "s"),
            "stream.planning_s_p50": (median([x.get("queryPlanning", 0.0) for x in b]), "s"),
            "stream.commit_s_p50": (median([x.get("commitOffsets", 0.0) for x in b]), "s"),
            "stream.jobs_per_batch": (st["work"]["jobs"] / max(1, len(b)), "count"),
            "stream.registry_rows": (stream_check["registry_rows"] if stream_check else 0, "count"),
            "stream.batch_growth": (median(trig[-k:]) / median(trig[:k]), "ratio"),
        })
    return m


# ------------------------------------------------------------ checking
def compare_counts(got: dict, exp: dict, keys=("docs", "failed_docs", "ignored_docs", "violations")) -> list[str]:
    return [f"{k}: got {got.get(k)} expected {exp.get(k)}" for k in keys if got.get(k) != exp.get(k)]


def compare_drift(iso: dict, exp: dict) -> list[str]:
    bad = []
    tol = 1e-6
    for c in iso.get("quantile", []):
        rows = sorted(c["value"], key=lambda r: r["q"])
        for r, q in zip(rows, exp["quantiles"]):
            if abs(r["exact_q"] - round(q, 6)) > tol * max(1.0, abs(q)):
                bad.append(f"quantile {r['q']}: got {r['exact_q']} expected {q}")
            if not r["within_tol"]:
                bad.append(f"quantile {r['q']}: sketch outside its rank bound")
    for c in iso.get("ks_exact", []):
        r = c["value"][0]
        if (r["n_a"], r["n_b"]) != (exp["n_a"], exp["n_b"]) or abs(r["ks_stat"] - exp["ks"]) > tol:
            bad.append(f"ks_exact: got {r} expected {exp['n_a']}, {exp['n_b']}, {exp['ks']}")
    for c in iso.get("ks_sketch", []):
        r = c["value"][0]
        if (r["n_a"], r["n_b"]) != (exp["n_a"], exp["n_b"]):
            bad.append(f"ks_sketch: got n {r['n_a']}, {r['n_b']}")
    for c in iso.get("psi", []):
        r = c["value"][0]
        if abs(r["psi"] - exp["psi"]) > tol:
            bad.append(f"psi: got {r['psi']} expected {exp['psi']}")
    return bad


def check_outputs(workload: str, res: dict, expected: dict, con, inp: str) -> tuple[int, list[str], dict | None]:
    """Oracle failures (counted as failed jobs) and their descriptions."""
    import oracle

    failed, notes = 0, []
    for j in res["jobs"]:
        if j["counts"] is None:
            continue
        bad = compare_counts(j["counts"], expected)
        if bad:
            failed += 1
            notes.append(f"{j['phase']} job: " + "; ".join(bad))
    if workload == "pages_validate":
        if res.get("per_check") is not None and res["per_check"] != expected["per_check"]:
            failed += 1
            notes.append(f"per-check: got {res['per_check']} expected {expected['per_check']}")
    else:
        written = oracle.routed_written(con, os.path.join(WORK, "out", workload))
        bad = compare_counts(written, expected, ("docs", "failed_docs", "ignored_docs", "violations", "per_check"))
        if bad:
            failed += 1
            notes.append("written output: " + "; ".join(bad))
    stream_check = None
    iso = res.get("isolated")
    if iso:
        drift_exp = oracle.drift_expected(con, workload, inp)
        bad = compare_drift(iso, drift_exp)
        failed += len(bad)
        notes += bad
        per_check_total = sum(expected["per_check"].values())
        for c in iso.get("checks", []):
            want = per_check_total - expected["per_check"].get("pk", 0) - expected["per_check"].get("orphan", 0) - expected["per_check"].get("fk:.:0", 0)
            if c["value"] != want:
                failed += 1
                notes.append(f"apply_checks rows: got {c['value']} expected {want}")
        for c in iso.get("uniqueness", []):
            if c["value"] != expected["per_check"].get("pk", 0):
                failed += 1
                notes.append(f"uniqueness rows: got {c['value']} expected {expected['per_check'].get('pk', 0)}")
        for c in iso.get("fk", []):
            if c["value"]["missing_rows"] != expected["per_check"].get("fk:.:0", 0):
                failed += 1
                notes.append(f"fk missing rows: got {c['value']['missing_rows']}")
        if iso.get("stream"):
            stream_check = oracle.stream_written(con, iso["stream"]["out"], inp)
            if stream_check["per_check"] != expected["per_check"] or stream_check["schema_doc_diff"]:
                failed += 1
                notes.append(f"stream: per-check {stream_check['per_check']} expected "
                             f"{expected['per_check']}, schema-failed docs differing: "
                             f"{stream_check['schema_doc_diff']}")
    return failed, notes, stream_check


# ------------------------------------------------------------ run
def prepare_input(workload: str, rows: int, seed: int, log: str, deadline: float) -> tuple[str, dict]:
    import inputs

    if workload == "corpus_routed":
        path, meta = inputs.ensure_routed(WORK, rows, seed)
    else:
        path = inputs.input_dir(WORK, workload, rows, seed)
        meta = inputs.cached_meta(path)
        if meta is None:
            meta = Worker("gen", ["--workload", workload, "--input", path,
                                  "--rows", str(rows), "--seed", str(seed)],
                          log, deadline).wait()
    inputs.prune(WORK, workload, path)
    return path, meta


def main() -> int:
    import inputs

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated run still ends its worker processes (Worker.wait reaps)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "fairtracks_validator_spark")):
        print("perfbench: the fairtracks_validator_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2

    t_begin = time.time()
    deadline = t_begin + RUN_LIMIT_S
    for d in ("tmp", "spark-local", "logs", "out", "inputs", "reports"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    spec = inputs.WORKLOADS[args.workload]
    rows = spec["smoke_rows"] if args.smoke else spec["rows"]
    seconds = min(args.seconds, 2.0) if args.smoke else args.seconds
    log = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-trace{args.trace}.log")
    if os.path.exists(log):
        os.remove(log)

    try:
        inp, gen = prepare_input(args.workload, rows, args.seed, log, deadline)
        before = sentinel()
        common = ["--workload", args.workload, "--input", inp, "--seed", str(args.seed)]
        main_w = Worker("run", common + [
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--reps", "1" if args.smoke else "2",
            "--warm-seconds", "2" if args.smoke else "8",
        ], log, deadline, sample_rss=True)
        res = main_w.wait()
        after = sentinel()
    except (RuntimeError, OSError) as e:
        print(f"perfbench: run failed: {e}; log: {log}", file=sys.stderr)
        try:
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        except OSError:
            pass
        return 1

    import oracle

    con = oracle.connect(WORK)
    expected = (oracle.pages_expected(con, inp) if args.workload == "pages_validate"
                else oracle.routed_expected(con, inp))
    oracle_failed, notes, stream_check = check_outputs(args.workload, res, expected, con, inp)
    con.close()
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + oracle_failed)

    steady = [j["s"] for j in res["jobs"] if j["phase"] == "steady" and j["s"] is not None
              and not j.get("traced")]
    e2e = {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "cold_job_s": (res["cold_job_s"] or 0.0, "s"),
        "docs_per_s": (rows / median(steady) if steady else 0.0, "docs/s"),
        "peak_rss_mb": (main_w.peak_rss_mb, "MB"),
    }
    info = {
        "failed_frac": (failed / attempted, "ratio"),
        "steady_jobs": (len(steady), "count"),
        "job_s_p50": (median(steady), "s"),
        "job_s_max": (max(steady) if steady else 0.0, "s"),
        "warmup_jobs": (len(res["warm"]), "count"),
        "input_rows": (rows, "count"),
        "cores": (res["cores"], "count"),
        "contention.procs_running_before": (before["procs_running"], "count"),
        "contention.procs_running_after": (after["procs_running"], "count"),
        "contention.busy_rate_before": (before["busy_rate"], "1/s"),
        "contention.busy_rate_after": (after["busy_rate"], "1/s"),
        "contention.busy_ratio": (min(before["busy_rate"], after["busy_rate"])
                                  / max(before["busy_rate"], after["busy_rate"]), "ratio"),
        # CPU time the hypervisor gave to other guests while the run measured
        "contention.steal_frac": (
            (after["cpu_ticks"][7] - before["cpu_ticks"][7])
            / max(1, sum(after["cpu_ticks"]) - sum(before["cpu_ticks"])), "ratio"),
        "run_wall_s": (time.time() - t_begin, "s"),
    }
    layers = {}
    if args.trace:
        layers = layer_metrics(gen, res)
        info.update(extra_layer_metrics(res, expected, stream_check))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"rows={rows} seconds={seconds}")
    for title, group in (("end-to-end", e2e), ("per-layer", layers), ("run", info)):
        if group:
            print(f"[{title}]")
            for name, (value, unit) in group.items():
                print(f"  {name:34s} {value:>16.6g} {unit}")
    print(f"[oracle] expected per check: {json.dumps(expected['per_check'], sort_keys=True)}")
    for n in notes + res["errors"]:
        print(f"[oracle] FAILED: {n}")
    report = os.path.join(WORK, "reports", f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(report, "w") as f:
        json.dump({"args": vars(args), "expected": expected, "notes": notes,
                   "metrics": {k: v for g in (e2e, layers, info) for k, v in g.items()},
                   "worker": res}, f, indent=1)
    print(f"[report] {os.path.relpath(report, ROOT)}")

    chosen = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0 and not notes,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
