"""The two workloads and the pass loop that measures them.

Every workload runs in one process, one client, closed loop: the next
item starts only after the previous one returns. An *item* is either a
registered batch query (build the DataFrame, then execute it) or one of
the two streaming jobs draining the whole event backlog from empty
state. A *pass* runs every item of the workload once. The first pass
runs in the declared order; later ones in seeded orders. The first pass
is cold and also delivers results to the client
(``toPandas`` / a memory sink); they are checked against a reference
after the pass, outside the timed window. Later passes use a noop sink.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

ROLLUP = "stream.rollup_maintenance_stream"
EWMA = "stream.ewma_stateful"
WORKLOADS = {
    # exec-dominated relational and travel-pipeline queries
    "star_exec": [
        "flight_value_w2_j4", "exchange_pipeline_scores", "j2_dim_fanout",
        "tpch_q5_local_supplier_volume", "a3_pricing_summary",
        "w2_top3_orders_per_customer", "asof_last_order",
    ],
    # construction and fixed-overhead dominated: connected components
    # (graph; jobs and pins at build), Arrow mapInPandas fingerprints
    # (multimodal), shard token audit (text), IVF search with int8
    # re-ranking (similarity, ml), and the backlog replay through the
    # versioned rollup MERGE and the stateful EWMA
    "curation_build": ["dedup_cluster_components", "image_ahash_neardup",
                       "shard_balance_audit", "ivf_quantized_rerank",
                       ROLLUP, EWMA],
}
# steady passes still run while the JIT warms up after the cold pass;
# the steady figures take each item's best pass over at least this many
MIN_STEADY_PASSES = 2
PASS_METRICS = ("first_pass_s", "steady_pass_s", "build_s", "exec_s")
STREAM_BATCHES = 2
EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
ROLLUP_SCHEMA = ("day string, hour_bucket string, event_type string, "
                 "n long, total_value decimal(18,2)")


@dataclass
class Context:
    spark: object
    registry: object
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    tracer: object | None = None      # tracing.Tracer in a traced run
    metrics: object | None = None     # tracing.SparkMetrics in a traced run
    corrupt: bool = False             # self-check: spoil one expected result
    feed: str = ""                    # micro-batch files of the backlog
    runs: int = 0                     # drains started, names their dirs


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}" \
        if str(exc) else type(exc).__name__


def clear_pins(spark) -> None:
    """Drop cached and checkpointed blocks left by the previous item."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def frames_match(got, want) -> bool:
    """Column names, row count and order-insensitive canonical values,
    as the repo's DuckDB-oracle harness compares them."""
    from tests.oracle_harness import canonical_frame

    return (sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and canonical_frame(got) == canonical_frame(want))


def _spoil(pdf):
    """A copy of ``pdf`` with one value changed (or one row dropped)."""
    pdf = pdf.copy()
    if len(pdf) == 0:
        return pdf.iloc[0:0]
    col = sorted(pdf.columns)[0]
    pdf[col] = pdf[col].astype(str)
    pdf.iloc[0, pdf.columns.get_loc(col)] = "<corrupted>"
    return pdf


# ---------------------------------------------------------------------------
# streaming items
# ---------------------------------------------------------------------------

def write_backlog(data_dir: str, feed_dir: str, seed: int,
                  n_batches: int = STREAM_BATCHES) -> tuple[int, int]:
    """Split the events table, in time order, into ``n_batches`` files at
    seeded boundaries. All files land before a stream starts; mtimes are
    spaced so the file source replays them in order. Returns (rows, bytes)."""
    import numpy as np
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    events = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = events.num_rows
    rng = np.random.default_rng(seed)
    # each batch keeps at least half an even share of the rows
    floor = n // (2 * n_batches)
    spare = n - floor * n_batches
    cuts = np.sort(rng.integers(0, spare + 1, n_batches - 1))
    sizes = np.diff(np.concatenate([[0], cuts, [spare]])) + floor
    os.makedirs(feed_dir, exist_ok=True)
    t0, offset, nbytes = time.time() - 3600, 0, 0
    for i, size in enumerate(sizes):
        path = os.path.join(feed_dir, f"batch-{i:04d}.parquet")
        pq.write_table(events.slice(offset, int(size)), path,
                       coerce_timestamps="us")
        os.utime(path, (t0 + i, t0 + i))
        offset += int(size)
        nbytes += os.path.getsize(path)
    return n, nbytes


def _drain(ctx: Context, item: str, deliver: bool) -> dict:
    """Drain the backlog through one streaming job from empty state.
    ``deliver`` sends the EWMA rows to a memory sink instead of noop."""
    from travel_data_pipeline_spark.sources.versioned import write_table
    from travel_data_pipeline_spark.streaming import jobs

    spark = ctx.spark
    ctx.runs += 1
    root = os.path.join(ctx.work_dir, f"drain-{ctx.runs}")
    source = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(ctx.feed))
    out = {"root": root, "rollup": os.path.join(root, "rollup"),
           "table": f"ewma_{ctx.runs}"}
    t0 = time.perf_counter()
    if item == ROLLUP:
        write_table(spark.createDataFrame([], ROLLUP_SCHEMA), out["rollup"],
                    partition_col="day")
        q = jobs.rollup_maintenance_stream(source, out["rollup"],
                                           os.path.join(root, "ckpt"))
    else:
        writer = jobs.ewma_stateful(source).writeStream.outputMode("append")
        writer = (writer.format("memory").queryName(out["table"]) if deliver
                  else writer.format("noop"))
        q = (writer.option("checkpointLocation", os.path.join(root, "ckpt"))
             .trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"{item} failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    add = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
    out.update(progress=progress, group=str(q.runId), wall=wall,
               build=wall - add, exec=add)
    return out


@functools.lru_cache(maxsize=1)
def _reference_rollup_and_ewma(data_dir: str, alpha: float = 0.3):
    """Batch recompute of the hourly rollup and the EWMA fold over the
    events in arrival order, independently of Spark."""
    from decimal import Decimal

    import pandas as pd

    ev = pd.read_parquet(os.path.join(data_dir, "events.parquet"))
    ev = ev.sort_values(["ts", "event_id"], kind="stable")
    hour = ev["ts"].dt.floor("h")
    cents = Decimal("0.01")
    rollup = (pd.DataFrame({
        "day": hour.dt.strftime("%Y-%m-%d"),
        "hour_bucket": hour.dt.strftime("%Y-%m-%d %H:00"),
        "event_type": ev["event_type"],
        "value": [Decimal(repr(float(v))).quantize(cents)
                  for v in ev["value"]]})
        .groupby(["day", "hour_bucket", "event_type"], as_index=False)
        .agg(n=("value", "size"), total_value=("value", "sum")))
    ewma, last = {}, {}
    for uid, eid, v in zip(ev["user_id"], ev["event_id"], ev["value"]):
        prev = last.get(uid)
        cur = float(v) if prev is None else alpha * float(v) \
            + (1.0 - alpha) * prev
        last[uid] = ewma[(int(uid), int(eid))] = cur
    return rollup, ewma


def _check_drain(ctx: Context, item: str, d: dict) -> str | None:
    """Rollup == batch recompute; streamed EWMA == batch fold."""
    from travel_data_pipeline_spark.sources.versioned import read_table

    want, folded = _reference_rollup_and_ewma(ctx.data_dir)
    if item == ROLLUP:
        got = read_table(ctx.spark, d["rollup"]).toPandas()
        if ctx.corrupt:
            want = _spoil(want)
        return None if frames_match(got, want) else \
            "rollup differs from batch recompute"
    streamed = {(r.user_id, r.event_id): r.ewma
                for r in ctx.spark.table(d["table"]).collect()}
    ctx.spark.catalog.dropTempView(d["table"])
    if streamed.keys() != folded.keys():
        return (f"{len(streamed.keys() ^ folded.keys())} (user, event) "
                "keys differ from batch fold")
    if any(abs(streamed[k] - v) > 1e-9 * max(1.0, abs(v))
           for k, v in folded.items()):
        return "streamed EWMA differs from batch fold"
    return None


def _versioned_stats(roll: str, input_bytes: int) -> dict:
    from travel_data_pipeline_spark.sources.versioned import history

    log = history(roll)
    written = sum(os.path.getsize(os.path.join(dp, f))
                  for dp, _, files in os.walk(roll) for f in files
                  if f.endswith(".parquet"))
    return {"versioned.commits": len(log),
            "versioned.partitions_rewritten": sum(
                len(h["touched"]) for h in log if h["op"] == "merge"),
            "versioned.write_amp": written / max(1, input_bytes)}


# ---------------------------------------------------------------------------
# the pass loop
# ---------------------------------------------------------------------------

def _run_item(ctx: Context, item: str) -> tuple[float, float, dict | None]:
    """One steady run of an item with a noop sink: (build_s, exec_s,
    drain details or None)."""
    if item.startswith("stream."):
        d = _drain(ctx, item, deliver=False)
        shutil.rmtree(d["root"], ignore_errors=True)
        return d["build"], d["exec"], d
    t0 = time.perf_counter()
    df = ctx.registry.QUERIES[item](ctx.spark, ctx.data_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    clear_pins(ctx.spark)
    return t1 - t0, t2 - t1, None


def run_workload(ctx: Context, workload: str) -> Result:
    from tests.oracle_harness import duck_connection

    res = Result()
    reg = ctx.registry
    items = WORKLOADS[workload]
    rng = random.Random(ctx.seed)
    queries = [i for i in items if not i.startswith("stream.")]
    for q in queries:
        if q not in reg.QUERIES or q not in reg.ORACLES:
            res.attempted += 1
            res.fail(f"{q}: not registered" if q not in reg.QUERIES
                     else f"{q}: no oracle")
    items = [i for i in items if i.startswith("stream.")
             or (i in reg.QUERIES and i in reg.ORACLES)]
    rows = in_bytes = 0
    if len(items) > len(queries):
        ctx.feed = os.path.join(ctx.work_dir, "feed")
        rows, in_bytes = write_backlog(ctx.data_dir, ctx.feed, ctx.seed)

    # cold pass, in the declared order as a scheduled pipeline runs it
    # (which item pays the JIT warm-up moves this sum by a fifth): build
    # + execute + deliver every item, then check
    first: dict[str, float] = {}
    delivered = {}
    for item in items:
        res.attempted += 1
        try:
            if item.startswith("stream."):
                d = _drain(ctx, item, deliver=True)
                first[item], delivered[item] = d["wall"], d
            else:
                t0 = time.perf_counter()
                pdf = reg.QUERIES[item](ctx.spark, ctx.data_dir).toPandas()
                first[item] = time.perf_counter() - t0
                delivered[item] = pdf
                clear_pins(ctx.spark)
        except Exception as exc:  # noqa: BLE001 - named and counted
            res.fail(f"{item}: {_err(exc)}")
    oracles = reg.resolved_oracles()
    con = duck_connection(ctx.data_dir)
    spoiled = min(delivered) if ctx.corrupt and delivered else None
    for item, got in delivered.items():
        try:
            if item.startswith("stream."):
                problem = _check_drain(ctx, item, got)
                shutil.rmtree(got["root"], ignore_errors=True)
            else:
                want = con.execute(oracles[item]).df()
                if item == spoiled:
                    want = _spoil(want)
                problem = None if frames_match(got, want) else \
                    "result differs from oracle"
        except Exception as exc:  # noqa: BLE001
            problem = f"check {_err(exc)}"
        if problem:
            res.fail(f"{item}: {problem}")
    con.close()

    # steady passes in seeded orders, until the window is used; a traced
    # run makes one, the untraced reference for its traced pass
    order = items[:]
    builds = {i: [] for i in items}
    execs = {i: [] for i in items}
    drains = {i: [] for i in items if i.startswith("stream.")}
    walls = []
    window0 = time.perf_counter()
    while True:
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for item in order:
            res.attempted += 1
            try:
                b, e, d = _run_item(ctx, item)
            except Exception as exc:  # noqa: BLE001
                res.fail(f"{item}: {_err(exc)}")
                continue
            builds[item].append(b)
            execs[item].append(e)
            if d is not None:
                drains[item].append(d)
        walls.append(time.perf_counter() - t_pass)
        used = time.perf_counter() - window0
        if ctx.tracer is not None or (
                len(walls) >= MIN_STEADY_PASSES
                and used + walls[-1] > ctx.seconds):
            break

    # each item's best steady pass (lowest build + exec); build_s and
    # exec_s are that same pass's split
    best = {i: min(zip(builds[i], execs[i]), key=sum)
            for i in items if builds[i]}
    res.detail = {"passes": len(walls), "items": len(items),
                  "pass_walls_s": walls,
                  "steady_pass_p50_s": statistics.median(walls),
                  "item_first_s": first,
                  "item_best_build_s": {i: b for i, (b, _) in best.items()},
                  "item_best_exec_s": {i: e for i, (_, e) in best.items()}}
    stream = {}
    if drains and all(drains.values()):
        fastest = {i: min(v, key=lambda d: d["wall"])
                   for i, v in drains.items()}
        stream = {
            "stream.drain_rows_per_s": rows / sum(d["wall"]
                                                  for d in fastest.values()),
            "stream.merge_batch_p50_s": _p50_trigger(fastest[ROLLUP]),
            "stream.state_batch_p50_s": _p50_trigger(fastest[EWMA]),
        }
        res.detail.update(stream)
    res.e2e = dict.fromkeys(PASS_METRICS)
    if res.failed:
        return res
    res.e2e = {
        "first_pass_s": sum(first.values()),
        "steady_pass_s": sum(b + e for b, e in best.values()),
        "build_s": sum(b for b, _ in best.values()),
        "exec_s": sum(e for _, e in best.values()),
    }
    if ctx.tracer is not None:
        # the untraced reference is the steady pass just before the
        # traced one, in the same order, so both are equally warm
        res.layers = {**_traced_pass(ctx, order, res, in_bytes), **stream,
                      "trace.untraced_pass_s": walls[-1]}
        res.layers["trace.overhead_s"] = (res.layers["trace.steady_pass_s"]
                                          - walls[-1])
        # traced per-query build and exec times against the reference
        # pass's own split for the same queries
        for phase, ref in (("build", builds), ("exec", execs)):
            traced = sum(v for n, v in res.layers.items()
                         if n.startswith("q.") and n.endswith(f".{phase}_s"))
            untraced = sum(ref[i][-1] for i in items
                           if not i.startswith("stream."))
            res.layers[f"trace.{phase}_residual_s"] = traced - untraced
    return res


def _p50_trigger(d: dict) -> float:
    return statistics.median(p["durationMs"]["triggerExecution"]
                             for p in d["progress"]) / 1e3


def _traced_pass(ctx: Context, order: list[str], res: Result,
                 in_bytes: int) -> dict:
    """One more steady pass with spans, job groups and SQL metrics on."""
    from tracing import SQL_KEYS

    tracer, sm, sc = ctx.tracer, ctx.metrics, ctx.spark.sparkContext
    layers: dict[str, float] = dict.fromkeys(SQL_KEYS, 0.0)
    layers.update({"spark.jobs_build": 0, "spark.jobs_exec": 0,
                   "spark.stages": 0, "spark.tasks": 0})
    sm.drain()
    sm.skip()                         # executions of earlier passes
    first_span = len(tracer.spans)
    peak = sm.storage_bytes()
    drains = {}
    t_pass = time.perf_counter()
    for i, item in enumerate(order):
        tracer.qid = item
        tracer.enabled = True
        try:
            if item.startswith("stream."):
                drains[item] = _drain(ctx, item, deliver=False)
            else:
                sc.setJobGroup(f"t{i}:{item}:build", f"{item}:build")
                t0 = time.perf_counter()
                df = ctx.registry.QUERIES[item](ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"t{i}:{item}:exec", f"{item}:exec")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001
            res.fail(f"{item}: traced {_err(exc)}")
            continue
        finally:
            tracer.enabled = False
            sc.setJobGroup("perfbench", "perfbench")
        peak = max(peak, sm.storage_bytes())
        sm.drain()
        if item.startswith("stream."):
            counts = {"exec": sm.jobs(drains[item]["group"])}
        else:
            layers[f"q.{item}.build_s"] = t1 - t0
            layers[f"q.{item}.exec_s"] = t2 - t1
            counts = {p: sm.jobs(f"t{i}:{item}:{p}") for p in ("build", "exec")}
            clear_pins(ctx.spark)
        for phase, c in counts.items():
            layers[f"spark.jobs_{phase}"] += c["jobs"]
            layers["spark.stages"] += c["stages"]
            layers["spark.tasks"] += c["tasks"]
        for k, v in sm.sql().items():
            layers[k] += v
    wall = time.perf_counter() - t_pass   # spans and metric reads included
    spans = tracer.spans[first_span:]
    layers.update(tracer.layer_report(spans))
    res.detail["query_layer_self_s"] = tracer.query_layers(spans)
    layers["pin.peak_bytes"] = peak
    layers["trace.steady_pass_s"] = wall
    if drains:
        layers.update(_stream_layers(drains, spans, in_bytes, tracer))
    return layers


def _stream_layers(drains: dict, spans: list, in_bytes: int,
                   tracer) -> dict:
    every = [p for d in drains.values() for p in d["progress"]]

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in every) / 1e3

    ops = [op for p in drains[EWMA]["progress"]
           for op in p.get("stateOperators", [])]
    out = {
        "stream.batches": len(every),
        "stream.add_batch_s": dur("addBatch"),
        "stream.query_planning_s": dur("queryPlanning"),
        "stream.wal_commit_s": dur("walCommit"),
        "stream.commit_offsets_s": dur("commitOffsets"),
        "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
        "state.memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "state.commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1e3,
        "versioned.merge_s": sum(s.end - s.start for s in spans
                                 if s.name == "versioned.merge_into"),
        "versioned.read_s": sum(s.end - s.start for s in spans
                                if s.name == "versioned.read_table"),
        "retry.attempts": tracer.retry_attempts,
        "retry.retries": tracer.retry_attempts - tracer.retry_calls,
    }
    out.update(_versioned_stats(drains[ROLLUP]["rollup"], in_bytes))
    for d in drains.values():
        shutil.rmtree(d["root"], ignore_errors=True)
    return out
