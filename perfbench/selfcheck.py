"""Self-check and baseline recorder for the benchmark.

    python3 perfbench/selfcheck.py              # quick check, small inputs
    python3 perfbench/selfcheck.py --baseline 10

The quick check runs every workload on the ``sf0.001`` tables with a
one-second window, untraced and traced, and asserts that each declared
metric is present, finite and has its unit, that every output matched
its reference, that each operator module named in ``build.<module>.*``
is reached by some workload, that the traced per-query build and exec
times agree with the untraced ones, and that a deliberately corrupted
expected result is caught and named. ``--baseline N`` runs each workload
on the ``sf0.01`` tables on seeds 1..N and writes each end-to-end
metric's median, quartiles and spread (IQR / median), with each run's
host fingerprint and wall time, to ``perfbench/baseline.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = ("--sf", "sf0.001")
# traced q.<query>.build_s / exec_s sums may differ from the untraced
# best-pass sums by the tracing overhead plus this share of the
# untraced reference pass (single-pass jitter against a best-of)
TRACE_TOLERANCE = 0.25


def bench(workload: str, seed: int, seconds: int, trace: int,
          *extra: str) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n"
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-1]), lines


def check_result(result: dict, declared: dict, label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] and result["failed"] == 0, (label, result)
    assert set(result["metrics"]) == set(declared), (
        label, set(result["metrics"]) ^ set(declared))
    for name, m in result["metrics"].items():
        v = m["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), (label, name)
        assert m["unit"] == declared[name], (label, name, m["unit"])


def check_trace(metrics: dict, label: str) -> None:
    """Traced per-query build/exec sums against the untraced ones."""
    v = {k: m["value"] for k, m in metrics.items()}
    slack = abs(v["trace.overhead_s"]) \
        + TRACE_TOLERANCE * v["trace.untraced_pass_s"]
    for phase in ("build", "exec"):
        assert abs(v[f"trace.{phase}_residual_s"]) <= slack, (
            label, phase, v[f"trace.{phase}_residual_s"], slack)


def quick(spec: dict) -> None:
    from tracing import BUILD_MODULES

    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    calls = dict.fromkeys(BUILD_MODULES, 0)
    for w in (w["name"] for w in spec["workloads"]):
        result, lines = bench(w, 1, 1, 0, *SMALL)
        check_result(result, e2e, f"{w} untraced")
        assert all(m["value"] > 0 for m in result["metrics"].values()), w
        assert lines[-2].startswith("perfbench summary"), w
        assert len("\n".join(lines[-2:])) < 2000, w
        result, _ = bench(w, 1, 1, 1, *SMALL)
        check_result(result, layers, f"{w} traced")
        check_trace(result["metrics"], f"{w} traced")
        for mod in calls:
            calls[mod] += result["metrics"][f"build.{mod}.calls"]["value"]
        result, lines = bench(w, 1, 1, 0, *SMALL, "--corrupt-expected")
        assert not result["correct"] and result["failed"] >= 1, w
        assert any(line.startswith(f"perfbench error {w}:")
                   for line in lines), w
        assert all(m["value"] is None for k, m in result["metrics"].items()
                   if k != "setup_s"), w
        print(f"selfcheck {w}: ok", flush=True)
    assert all(calls.values()), f"modules no workload reaches: {calls}"
    print(f"selfcheck build.<module>.calls: {calls}", flush=True)


def baseline(spec: dict, n: int) -> None:
    out: dict = {"seeds": list(range(1, n + 1)),
                 "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        runs, hosts = [], []
        for seed in out["seeds"]:
            t0 = time.monotonic()
            result, lines = bench(w, seed, spec["run_seconds"], 0)
            assert result["correct"], (w, seed, lines[-3:])
            runs.append({k: m["value"] for k, m in result["metrics"].items()})
            # the host's load and steal during each run, and its wall time
            hosts.append(f"{lines[-2].split(' | host ')[1]} "
                         f"wall_s={time.monotonic() - t0:.1f}")
            print(f"baseline {w} seed {seed}: {runs[-1]} {hosts[-1]}",
                  flush=True)
        out.setdefault("hosts", {})[w] = hosts
        stats = {}
        for metric in runs[0]:
            vals = [r[metric] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            stats[metric] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "values": vals}
        out["workloads"][w] = stats
        with open(os.path.join(HERE, "baseline.json"), "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--baseline", type=int, default=0, metavar="N")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    if args.baseline:
        baseline(spec, args.baseline)
    else:
        quick(spec)


if __name__ == "__main__":
    main()
