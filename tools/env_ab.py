"""Interleaved env-var A/B over full bench.py runs.

Usage: python tools/env_ab.py <rounds> KEY=VAL[,KEY=VAL...] KEY=VAL[,...]
Arm A gets the first env spec, arm B the second ("-" = no overrides).
Runs A,B,A,B,... one fresh bench.py subprocess each, and prints
per-query normalized medians per arm plus the B/A ratio — the
protocol that separates a config effect from host drift (VERDICT r14
#2/#6: a config-level change needs an interleaved same-host A/B, not
two separate sessions).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(overrides: dict[str, str]) -> dict:
    env = dict(os.environ)
    env.update(overrides)
    # REPO=<dir> pseudo-key: run that tree's bench.py instead of this
    # repo's — the code-level A/B arm (old tree vs new tree), same
    # interleaving discipline as the env-var arms
    repo = env.pop("REPO", HERE)
    fd, artifact = tempfile.mkstemp(prefix="env_ab_", suffix=".json")
    os.close(fd)
    env["SPARK_GRAFT_BENCH_FULL"] = artifact
    try:
        subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py")],
            capture_output=True,
            text=True,
            env=env,
            check=True,
        )
        with open(artifact) as fh:
            return json.load(fh)
    finally:
        try:
            os.unlink(artifact)
        except OSError:
            pass


def parse_spec(spec: str) -> dict[str, str]:
    if spec == "-":
        return {}
    return dict(kv.split("=", 1) for kv in spec.split(","))


def main() -> None:
    rounds = int(sys.argv[1])
    arm_a, arm_b = parse_spec(sys.argv[2]), parse_spec(sys.argv[3])
    docs: dict[str, list[dict]] = {"A": [], "B": []}
    failed = None
    for i in range(rounds):
        for arm, ov in (("A", arm_a), ("B", arm_b)):
            try:
                doc = run_once(ov)
            except subprocess.CalledProcessError as exc:
                print(exc.stderr, file=sys.stderr)
                failed = f"arm {arm} run {i+1}: bench.py exited {exc.returncode}"
                break
            docs[arm].append(doc)
            print(
                f"# {arm} run {i+1}: total {doc['value']} cal {doc['calibration']}"
                f" norm {doc['value_normalized']}",
                file=sys.stderr,
            )
        if failed:
            # keep the completed rounds: report them, then exit non-zero
            print(f"# stopped: {failed}", file=sys.stderr)
            docs = {arm: ds[:i] for arm, ds in docs.items()}
            break
    if not docs["A"]:
        sys.exit(f"no completed round ({failed})")
    queries = list(docs["A"][0]["queries"])
    med = {
        arm: {
            q: statistics.median(d["queries"][q] / d["calibration"] for d in ds)
            for q in queries
        }
        for arm, ds in docs.items()
    }
    out = {
        "arms": {"A": arm_a, "B": arm_b},
        "totals_norm": {
            arm: [d["value_normalized"] for d in ds] for arm, ds in docs.items()
        },
        "per_query_norm_median": med,
        "b_over_a": {
            q: round(med["B"][q] / med["A"][q], 3) for q in queries if med["A"][q]
        },
    }
    if failed:
        out["failed"] = failed
    print(json.dumps(out))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
