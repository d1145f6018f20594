"""Repo benchmark: one workload per invocation, one JSON result line last.

    python3 perfbench/run.py --workload star_exec --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine under
``travel_data_pipeline_spark`` runs on ``local[<nproc>]`` over the fixed
test tables in ``perfbench/data/<sf>``; ``--seed`` sets the item order of
every steady pass and the micro-batch boundaries of the streaming
backlog. Work files go to ``.perfbench_work/`` (removed on exit). Workloads,
metric names and units are declared in ``BENCHMARK.json``; ``--trace 0``
reports its end-to-end metrics, ``--trace 1`` its per-layer metrics
from a separately traced pass. Stdout ends with a labelled one-line
summary and then the result object::

    {"correct": true, "attempted": 57, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("star_exec", "curation_build")
STREAM_ONLY = ("stream.", "state.", "versioned.", "retry.")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="steady-pass window; a per-workload minimum of passes always runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.01",
                    choices=sorted(os.listdir(os.path.join(HERE, "data"))),
                    help="input tables under perfbench/data")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-check: spoil one expected result")
    return ap.parse_args(argv)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def fingerprint(spark, load_1min: float) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2 ** 20, 1),
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "load_1min": load_1min}


def process_age_s() -> float:
    """Seconds since this process started (start read from ``/proc`` in
    clock ticks, now from the boot-time clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def set_up(session) -> tuple[object, dict]:
    """Start the JVM and session with ``get_spark`` and run one warm-up
    job. Returns the session and the set-up times."""
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, {"session.get_spark_s": t1 - t0,
                   "session.warmup_job_s": t2 - t1,
                   # process start -> session ready + one warm-up job
                   "setup_s": process_age_s()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def marked_pids(marker: str) -> list[int]:
    """Processes other than this one whose environment carries ``marker``:
    the JVM this run launched and the Python workers it forked."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if marker.encode() in fh.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:
            continue
    return [p for p in pids if p != os.getpid()]


def reap(marker: str, timeout: float = 30.0) -> None:
    """Wait for every marked process to end; kill what is left after
    ``timeout``."""
    deadline = time.monotonic() + timeout
    while (left := marked_pids(marker)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def applies(workload: str, name: str) -> bool:
    """Whether a per-layer metric is produced by this workload."""
    from workloads import EWMA, WORKLOADS

    if name.startswith("q."):
        return name.split(".")[1] in WORKLOADS[workload]
    if name.startswith(STREAM_ONLY):
        return EWMA in WORKLOADS[workload]
    return True


def summary_line(workload: str, e2e: dict, extra: dict, units: dict,
                 fp: dict, attempted: int, failed: int) -> str:
    def fmt(v):
        return "null" if v is None else f"{v:.4g}"

    parts = [f"{workload}.{k}={fmt(v)} {units.get(k, 's')}"
             for k, v in {**e2e, **extra}.items()]
    parts.append(f"{workload}.failed_frac={failed / attempted:.4g} "
                 f"({failed}/{attempted})")
    fps = " ".join(f"{k}={v}" for k, v in fp.items())
    return "perfbench summary | " + " | ".join(parts) + " | host " + fps


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    load_1min = round(os.getloadavg()[0], 2)
    steal0 = cpu_ticks()
    e2e_units, layer_units = declared_metrics()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(HERE, "data", args.sf)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_ORACLE_SF": data_dir,
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM's scratch files stay in the work dir; -UsePerfData
        # stops it writing /tmp/hsperfdata_<user>
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", f"spark.local.dir={work}/tmp",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "pyspark-shell"]),
    })
    marker = f"TMPDIR={os.environ['TMPDIR']}"
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        import tracing
        import workloads as W

        tracer = tracing.Tracer() if args.trace else None
        try:
            t0 = time.perf_counter()
            if tracer is not None:
                tracer.install()   # before registry imports the queries
            from travel_data_pipeline_spark import registry, session
            import_s = time.perf_counter() - t0
        except ImportError as exc:
            print(f"perfbench: engine not importable from {ROOT}: {exc}",
                  file=sys.stderr)
            return 2

        spark, setup = set_up(session)
        setup["session.import_s"] = import_s
        fp = fingerprint(spark, load_1min)
        ctx = W.Context(spark=spark, registry=registry, data_dir=data_dir,
                        work_dir=work, seed=args.seed, seconds=args.seconds,
                        tracer=tracer, corrupt=args.corrupt_expected,
                        metrics=(tracing.SparkMetrics(spark) if tracer
                                 else None))
        res = W.run_workload(ctx, args.workload)
    finally:
        if spark is not None:
            stop_spark(spark)
        reap(marker)
        shutil.rmtree(work, ignore_errors=True)

    # CPU time the hypervisor gave to other guests while this run wanted it
    steal1 = cpu_ticks()
    fp["steal_frac"] = round((steal1[0] - steal0[0])
                             / max(1, steal1[1] - steal0[1]), 3)
    res.e2e["setup_s"] = setup.pop("setup_s")
    res.layers.update({**setup,
                       "failed_frac": res.failed / max(1, res.attempted),
                       "host.steal_frac": fp["steal_frac"]})
    if args.trace:
        values, units = {}, layer_units
        for name in layer_units:
            if name in res.layers:
                values[name] = res.layers[name]
            elif not applies(args.workload, name) or res.failed:
                values[name] = 0.0
            else:
                raise KeyError(f"per-layer metric {name} was not produced")
    else:
        values, units = {k: res.e2e[k] for k in e2e_units}, e2e_units
    metrics = {k: {"value": (None if v is None or not math.isfinite(v)
                             else float(v)), "unit": units[k]}
               for k, v in values.items()}

    print("perfbench detail " + json.dumps(
        {"workload": args.workload, "seed": args.seed, "trace": args.trace,
         "setup_s": res.e2e["setup_s"], **setup, "errors": res.errors,
         **res.detail}))
    for err in res.errors:
        print(f"perfbench error {args.workload}: {err}")
    extra = {k: v for k, v in res.detail.items() if k.startswith("stream.")}
    print(summary_line(args.workload, {k: res.e2e[k] for k in e2e_units},
                       extra, {**e2e_units, **layer_units}, fp,
                       max(1, res.attempted), res.failed))
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
