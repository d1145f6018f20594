"""Scaling-arm bench over a 12-query headline subset (r15).

The missing suite-level parallelism evidence (VERDICT r14 #6): run a
diverse headline subset at a LARGER SF (tools/gen_scaled_sf.py) at two
core counts in the same calibration window and compare per-query
ratios. Builder-side companion to bench.py — same methodology (3x
build + noop exec, min per query, calib probe), same env contract
($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS), NO sidecar writes: results
are recorded in ROADMAP/OPTIMIZATION notes, not the bench record.

    SPARK_GRAFT_SF_DIR=/tmp/sfscale/sf1.0 SPARK_GRAFT_CPUS=32 \
        python tools/bench_scale.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# one per operator family, biased to shuffle/join/window-heavy shapes
# where core-count scaling can actually show up
SUBSET = [
    "flight_value_w2_j4",            # join + two window passes
    "a3_pricing_summary",            # decimal aggregation
    "tpch_q5_local_supplier_volume",  # 5-way join
    "w2_top3_orders_per_customer",   # per-key top-k window
    "sessionize_events",             # session windows over events
    "asof_last_order",               # ordered as-of windows
    "dedup_minhash_lsh",             # explode + banded agg
    "simhash_near_pairs",            # checkpointed band self-join
    "embedding_cosine_topk",         # vector brute-force + rank
    "text_quality_scores",           # linear corpus pass
    "abc_pareto_classes",            # two-phase global order
    "hits_supplier_part",            # iterative checkpointed graph
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sfscale/sf1.0")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    cpus = os.environ["SPARK_GRAFT_CPUS"]

    from travel_data_pipeline_spark import registry
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("tdp-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def calib() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 600_000_000, 1, 32).selectExpr(
                "sum(id * id % 97)").collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    c0 = calib()
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    errors: dict[str, str] = {}
    missing = [name for name in SUBSET if name not in registry.QUERIES]
    for name in missing:
        print(f"bench_scale: {name} is not registered", file=sys.stderr)
    for name in SUBSET:
        if name in missing:
            continue
        best = float("inf")
        try:
            for _ in range(3):
                tb = time.perf_counter()
                df = registry.QUERIES[name](spark, sf_dir)
                build = time.perf_counter() - tb
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                builds[name] = round(min(builds.get(name, build),
                                         build), 3)
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"bench_scale: {name} failed: {errors[name]}",
                  file=sys.stderr)
    # a missing or failed query nulls the totals: a partial sum would
    # read as a faster subset
    incomplete = bool(errors or missing)
    payload = {
        "metric": "scale-subset-wall-sec",
        "value": None if incomplete else round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "build_sec": builds,
        "build_total_sec": (None if incomplete
                            else round(sum(builds.values()), 3)),
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "calib_sec": c0,
        "calib_end": calib(),
    }
    if errors:
        payload["errors"] = errors
    if missing:
        payload["missing"] = missing
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
