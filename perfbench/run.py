"""Benchmark entry point: one run of one workload, results as JSON.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The workload runs in
a fresh Python process with its own local Spark session (``worker.py``,
closed loop: one driver thread, one op in flight). Every figure is
printed by name with its unit, and the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its per-query
breakdown and spans under ``perfbench/.cache/trace/``.

Inputs, scratch files, Spark's local directories and the event log all
live under ``perfbench/.cache/``; the run's own scratch directory is
removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORKLOADS = ("corpus_curation", "medallion_batches")
RUN_LIMIT_S = 170.0

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_s_p50": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_s": "s", "catalog.load_jobs": "count", "catalog.load_calls": "count",
    "workload.build_s": "s", "workload.build_jobs": "count", "workload.eager_job_share": "ratio",
    "catalyst.plan_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_ratio": "ratio",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "python.run_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.sent_mb": "MB", "python.recv_mb": "MB",
    "pipeline.incremental_s": "s", "pipeline.staging_s": "s", "pipeline.star_s": "s",
    "pipeline.dashboard_s": "s", "pipeline.rows_in": "count", "pipeline.rows_out": "count",
    "pipeline.batch_s_p50": "s",
    "sources.write_mb": "MB", "sources.write_amp": "ratio",
    "trace.pass_s": "s", "inputs.gen_s": "s", "mem.peak_rss_mb": "MB",
}


def submit_args(work: str, trace: bool) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work}/eventlog",
                     "spark.eventLog.compress": "false"})
    return " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's session and wait for
    them: SIGTERM first, SIGKILL after ten seconds."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(args, work: str, budget_s: float) -> dict:
    env = dict(os.environ)
    env.update({
        "PYSPARK_SUBMIT_ARGS": submit_args(work, args.trace),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WORK_DIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": os.path.join(work, "tmp"),
        # Spark's Python workers import engine functions pickled by reference
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out, "--cache", CACHE]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        reason = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"worker {reason}; last lines of its log:\n" + "".join(tail))
    with open(out) as f:
        return json.load(f)


def report(args, res: dict) -> dict:
    e2e = res["end_to_end"]
    n = res["attempted"]
    print(f"workload {args.workload}  seed {args.seed}  cores {res['cores']}  trace {args.trace}  "
          f"passes (1 cold + {res['passes'] - 1} steady): "
          + " ".join(f"{s:.3f}" for s in res["pass_s_all"]) + " s")
    for name, unit in END_TO_END.items():
        note = f"  ({res['query_samples']} query executions)" if name == "query_s_p50" else ""
        print(f"  {name:<24} {e2e[name]:12.4f} {unit}{note}")
    print(f"  {'query_s_tail':<24} {res['query_s_tail']:12.4f} s  "
          f"(p{res['query_tail_pct']:g} of {res['query_samples']} query executions)")
    print(f"  {'batch_s_p50':<24} {res['batch_s_p50']:12.4f} s")
    print(f"  {'peak_rss_mb':<24} {res['peak_rss_mb']:12.4f} MB  (driver JVM + Python VmHWM)")
    print(f"  {'fail_ratio':<24} {res['failed'] / n:12.4f} ratio  ({res['failed']} of {n} ops)")
    print(f"  {'inputs.gen_s':<24} {res['gen_s']:12.4f} s  (input generation, outside setup_s)")
    print(f"  {'check_s':<24} {res['check_s']:12.4f} s  (output checks, untimed)")
    for line in res["errors"] + res["problems"]:
        print(f"  FAILED {line}")
    if args.trace:
        for name, unit in PER_LAYER.items():
            print(f"  {name:<24} {res['per_layer'][name]:12.4f} {unit}")
        names, units = res["per_layer"], PER_LAYER
    else:
        names, units = e2e, END_TO_END
    return {name: {"value": names[name], "unit": unit} for name, unit in units.items()}


def write_sidecar(args, res: dict) -> str:
    out = os.path.join(CACHE, "trace", f"{args.workload}-seed{args.seed}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "breakdown.json"), "w") as f:
        json.dump({"per_layer": res["per_layer"], "end_to_end": res["end_to_end"],
                   "cores": res["cores"], **res["breakdown"]}, f, indent=1)
    with open(os.path.join(out, "spans.json"), "w") as f:
        json.dump(res["spans"], f)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    missing = [p for p in ("batchprocessingetl_spark", os.path.join("tools", "check_oracle.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine sources are missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    from medallion_gen import ensure_batches

    if args.workload == "medallion_batches":
        ensure_batches(os.path.join(CACHE, "inputs"), args.seed)  # generated before, and apart from, the timed run
    work = os.path.join(CACHE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    try:
        res = run_worker(args, work, RUN_LIMIT_S - (time.monotonic() - started))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = report(args, res)
    if args.trace:
        print(f"  breakdown: {write_sidecar(args, res)}")
    print(json.dumps({"correct": res["failed"] == 0 and not res["problems"],
                      "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
