"""Smoke test of the benchmark at tiny input sizes (about 8 minutes on 4 cores).

    python3 perfbench/smoke.py [workload ...]

For each workload it runs run.py with the benchmark's command line and asserts:
  * every end_to_end metric of BENCHMARK.json is emitted with its unit, the
    output check passes and nothing fails, for two different seeds, which
    emit the same metric set;
  * a traced run emits every per_layer metric with its unit, attributes
    every Spark job to a tag, and its per-tag task time adds up to the
    event-log total;
  * with one output triple (one query row) dropped before the check, every
    operation fails, so the check is not vacuous.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {' '.join(cmd)}: exit {proc.returncode}")
    *_, ctx_line, result_line = proc.stdout.strip().splitlines()
    return json.loads(ctx_line)["context"], json.loads(result_line)


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}", flush=True)


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    expect(got == want, f"{what}: metric set and units match BENCHMARK.json")
    expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
           f"{what}: every value is a number")


def main(workloads: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in workloads or [w["name"] for w in bench["workloads"]]:
        names = []
        for seed in (1, 2):
            ctx, res = run(w, seed, 0)
            check_metrics(res, bench["end_to_end"], f"{w} seed {seed}")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} seed {seed}: output check passes")
            expect(ctx["seed"] == seed, f"{w} seed {seed}: seed recorded")
            names.append(sorted(res["metrics"]))
        expect(names[0] == names[1], f"{w}: both seeds emit the same metric set")

        ctx, res = run(w, 1, 1)
        check_metrics(res, bench["per_layer"], f"{w} traced")
        expect(res["correct"], f"{w} traced: output check passes")
        expect(res["metrics"]["spark.untagged.jobs"]["value"] == 0,
               f"{w} traced: every Spark job is attributed to a tag")
        tasks = ctx["task_run_s_attributed"]
        expect(abs(tasks["tags"] - tasks["event_log_total"]) < 1e-6,
               f"{w} traced: per-tag task time sums to the event-log total")

        _ctx, res = run(w, 1, 0, "--drop-triple")
        expect(not res["correct"] and res["failed"] == res["attempted"],
               f"{w}: dropping one output row fails the check")
    print("smoke test passed")


if __name__ == "__main__":
    main(sys.argv[1:])
