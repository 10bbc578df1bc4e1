"""One benchmark run of one workload in a fresh Python process and JVM.

Started by ``run.py``, which sets the Spark submit arguments and the
scratch directories through the environment. Writes one JSON document
to ``--out``: the end-to-end figures, the op outcomes and, when traced,
the per-layer figures and the sidecar files of the breakdown.

    python3 perfbench/worker.py --workload corpus_curation --seed 1 \
        --seconds 20 --trace 0 --work DIR --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import defaultdict

import workloads
from medallion_gen import ensure_batches
from tracing import Tracer, median, parse_event_log, seconds, span_of_group, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_STEADY_PASSES = 1


class Run:
    """State of one run, handed to the workload."""

    def __init__(self, spark, tracer, seed: int, data_dir: str, work_dir: str, cache_dir: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.data_dir, self.work_dir, self.cache_dir = data_dir, work_dir, cache_dir
        self.pass_no = 0
        self.ops: list[dict] = []
        self.samples: list[tuple[int, float]] = []  # (pass, seconds) per query execution
        self.problems: list[str] = []


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    pids = [os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cache", required=True, help="directory of cached inputs and oracle answers")
    args = ap.parse_args()

    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from batchprocessingetl_spark.session import get_spark

    tracer = Tracer()
    with tracer.span("session.get_spark") as setup_span:
        spark = get_spark("perfbench")
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    run = Run(spark, tracer, args.seed, os.path.join(HERE, "data", "sf0.01"),
              os.path.join(args.work, "work"), args.cache)
    manifest = None
    if args.workload == "corpus_curation":
        wl = workloads.Corpus(run)
    else:
        manifest = ensure_batches(os.path.join(args.cache, "inputs"), args.seed)
        wl = workloads.Medallion(run, manifest)
    if args.trace:
        trace_engine_calls(tracer, spark)

    pass_s = []
    while len(pass_s) < 1 + MIN_STEADY_PASSES or sum(pass_s[1:]) < args.seconds:
        run.pass_no = len(pass_s)
        with tracer.span("pass", what=run.pass_no) as ps:
            wl.run_pass()
        pass_s.append(ps["end"] - ps["start"])
    rss = peak_rss_mb(spark)
    cores = spark.sparkContext.defaultParallelism

    t_check = time.perf_counter()
    wl.check()
    spark.stop()
    check_s = time.perf_counter() - t_check

    steady = [s for p, s in run.samples if p > 0]
    tail_p, tail_s = tail(steady)
    failed = sum(op["error"] is not None for op in run.ops)
    result = {
        "workload": args.workload,
        "cores": cores,
        "passes": len(pass_s),
        "pass_s_all": pass_s,
        "attempted": len(run.ops),
        "failed": failed,
        "errors": [f"pass {op['pass']} {op['name']}: {op['error']}" for op in run.ops if op["error"]][:20],
        "problems": run.problems,
        "query_samples": len(steady),
        "query_tail_pct": tail_p,
        "end_to_end": {
            "setup_s": setup_s,
            "cold_pass_s": pass_s[0],
            "pass_s": median(pass_s[1:]),
            "query_s_p50": median(steady),
        },
        "query_s_tail": tail_s,
        "peak_rss_mb": rss,
        "batch_s_p50": median(op["result"]["s"] for op in run.ops
                              if op["kind"] == "batch" and op["pass"] > 0 and op["result"]),
        "gen_s": manifest["gen_s"] if manifest else 0.0,
        "check_s": check_s,
    }
    if args.trace:
        log = parse_event_log(os.path.join(args.work, "eventlog"))
        result["per_layer"], breakdown = layer_metrics(
            tracer, log, cores, manifest, setup_span, result)
        result["breakdown"] = breakdown
        result["spans"] = tracer.spans
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


def trace_engine_calls(tracer, spark) -> None:
    """Record every ``catalog.load_table`` call the query factories make
    as a span of its own, by rebinding the name in the engine modules
    that imported it. Tracing runs only."""
    from batchprocessingetl_spark import catalog

    original = catalog.load_table

    def traced(spark, sf_dir, name):
        with tracer.span("catalog.load_table", what=name):
            return original(spark, sf_dir, name)

    tracer.sc = spark.sparkContext
    for name, mod in list(sys.modules.items()):
        if name.startswith("batchprocessingetl_spark") and getattr(mod, "load_table", None) is original:
            mod.load_table = traced


LAYER_SPANS = {  # per-layer metric -> span name whose seconds it sums
    "workload.build_s": "workload.build",
    "catalyst.plan_s": "catalyst.plan",
    "exec.action_s": "exec.action",
    "pipeline.incremental_s": "pipeline.incremental",
    "pipeline.staging_s": "pipeline.staging",
    "pipeline.star_s": "pipeline.star",
    "pipeline.dashboard_s": "pipeline.dashboard",
}
EXEC_FIELDS = {  # per-layer metric -> event-log field summed over the pass
    "exec.stages": "stages", "exec.tasks": "tasks", "exec.task_s": "task_s",
    "exec.cpu_s": "cpu_s", "exec.gc_s": "gc_s", "exec.input_mb": "input_mb",
    "exec.shuffle_write_mb": "shuffle_write_mb", "exec.shuffle_read_mb": "shuffle_read_mb",
    "exec.spill_mb": "spill_mb", "python.run_s": "python.run_s",
    "python.boot_s": "python.boot_s", "python.init_s": "python.init_s",
    "python.sent_mb": "python.sent_mb", "python.recv_mb": "python.recv_mb",
}


def layer_metrics(tracer, log: dict, cores: int, manifest: dict | None, setup_span: dict,
                  result: dict) -> tuple[dict, dict]:
    """Per-layer figures: each is summed over a steady pass, then the
    median over steady passes is taken, except the per-call catalog
    figures. Returns ``(metrics, per-query and per-table breakdown)``."""
    spans = tracer.spans
    group_stats = {span_of_group(g): rec for g, rec in log["groups"].items() if span_of_group(g) is not None}
    pass_of: dict[int, int] = {}
    children = defaultdict(list)
    for s in spans:  # a span is opened, so listed, after its parent
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
        pass_of[s["id"]] = s["attrs"]["what"] if s["name"] == "pass" else pass_of.get(s["parent"])
    steady = sorted({p for p in pass_of.values() if p})
    per_pass = {p: defaultdict(float) for p in steady}
    for s in spans:
        acc = per_pass.get(pass_of[s["id"]])
        if acc is None:
            continue
        acc[s["name"] + ".s"] += seconds(s)
        acc[s["name"] + ".n"] += 1
        acc[s["name"] + ".jobs"] += len(s["all_jobs"])
        stats = group_stats.get(s["id"], {})
        for field in set(EXEC_FIELDS.values()):
            acc["ev." + field] += stats.get(field, 0.0)
        if s["name"] == "pass":
            acc["pass.all_jobs"] = len(s["all_jobs"])
        if s["name"] == "sources.write_parquet":
            acc["write_mb"] += stats.get("output_mb", 0.0)
            if os.path.basename(s["attrs"]["what"].rstrip("/")) == "fact_sales":
                acc["rows_out"] += stats.get("output_rows", 0.0)

    def pp(key: str) -> float:
        return median(per_pass[p][key] for p in steady)

    loads = [s for s in spans if s["name"] == "catalog.load_table" and pass_of[s["id"]]]
    csv_rows = sum(manifest["rows"]) if manifest else 0
    csv_mb = sum(manifest["bytes"]) / 2**20 if manifest else 0.0
    m = {
        "session.get_spark_s": seconds(setup_span),
        "catalog.load_s": sum(map(seconds, loads)) / len(loads) if loads else 0.0,
        "catalog.load_jobs": sum(len(s["all_jobs"]) for s in loads) / len(loads) if loads else 0.0,
        "catalog.load_calls": len(loads) / len(steady),
        "workload.build_jobs": pp("workload.build.jobs"),
        "workload.eager_job_share": median(
            per_pass[p]["workload.build.jobs"] / per_pass[p]["pass.all_jobs"] for p in steady
            if per_pass[p]["pass.all_jobs"]),
        "exec.jobs": pp("pass.all_jobs"),
        "exec.busy_ratio": median(
            per_pass[p]["ev.task_s"] / (per_pass[p]["pass.s"] * cores) for p in steady),
        "pipeline.rows_in": float(csv_rows),
        "pipeline.rows_out": pp("rows_out"),
        "pipeline.batch_s_p50": result["batch_s_p50"],
        "sources.write_mb": pp("write_mb"),
        "sources.write_amp": pp("write_mb") / csv_mb if csv_mb else 0.0,
        "trace.pass_s": result["end_to_end"]["pass_s"],
        "inputs.gen_s": result["gen_s"],
        "mem.peak_rss_mb": result["peak_rss_mb"],
    }
    m.update({name: pp(span + ".s") for name, span in LAYER_SPANS.items()})
    m.update({name: pp("ev." + field) for name, field in EXEC_FIELDS.items()})
    return m, breakdown(spans, children, pass_of, group_stats, log["stage_names"], steady)


def breakdown(spans, children, pass_of, group_stats, stage_names, steady) -> dict:
    """Per query (medians over steady passes): build, plan and exec
    seconds, jobs, and the stage with the most task time; per table:
    catalog loads."""
    def subtree(sid):
        out = [sid]
        for c in children[sid]:
            out.extend(subtree(c))
        return out

    rows = defaultdict(lambda: defaultdict(list))
    for s in spans:
        if s["name"] != "query" or not pass_of[s["id"]]:
            continue
        row = rows[s["attrs"]["what"]]
        row["total_s"].append(seconds(s))
        for c in children[s["id"]]:
            kid = spans[c]
            phase = kid["name"].split(".")[-1]  # build / plan / action
            row[phase + "_s"].append(seconds(kid))
            row[phase + "_jobs"].append(len(kid["all_jobs"]))
        stage_s = defaultdict(float)
        for sid in subtree(s["id"]):
            for stage, t in group_stats.get(sid, {}).get("stage_task_s", {}).items():
                stage_s[stage] += t
        top = max(stage_s.items(), key=lambda kv: kv[1], default=(None, 0.0))
        row["top_stage_task_s"].append(top[1])
        row.setdefault("top_stage", []).append(f"{top[0]} {stage_names.get(top[0], '')}")
    queries = {q: {k: (v if k == "top_stage" else median(v)) for k, v in row.items()}
               for q, row in rows.items()}
    tables = defaultdict(lambda: {"calls": 0, "s": 0.0, "jobs": 0})
    for s in spans:
        if s["name"] == "catalog.load_table" and pass_of[s["id"]]:
            t = tables[s["attrs"]["what"]]
            t["calls"] += 1
            t["s"] += seconds(s)
            t["jobs"] += len(s["all_jobs"])
    return {"steady_passes": steady, "queries": queries, "catalog_tables": dict(tables)}


if __name__ == "__main__":
    sys.exit(main())
