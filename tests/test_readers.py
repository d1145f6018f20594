"""Ingest-robustness tests: F3 malformed-row handling via PERMISSIVE
corrupt-record ingest, CSV/JSON-dim typed readers, J8 null audit, and
load_table's per-table schema cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from travel_data_pipeline_spark import schemas
from travel_data_pipeline_spark.operators.joins import broadcast_left, null_audit
from travel_data_pipeline_spark.sources import readers


def test_permissive_json_ingest_flags_corrupt_rows(spark, tmp_path):
    """F3 — the reference skips HTML rows with missing cells and logs
    (exchage_rate_crawler.py:190-197); the engine lands them in
    _corrupt_record instead of silently dropping."""
    p = tmp_path / "raw.jsonl"
    p.write_text("\n".join([
        '{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7,'
        ' "event_type": "view", "value": 1.5, "props": "{}"}',
        'not json at all',
        '{"event_id": 2, "ts": "2024-01-01T01:00:00", "user_id": 8,'
        ' "event_type": "click", "value": 2.0, "props": "{}"}',
    ]))
    # Spark disallows querying only the corrupt-record column of a raw
    # scan — cache first (documented in read_json_events)
    df = readers.read_json_events(spark, str(p), schemas.EVENTS).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert bad.first()._corrupt_record == "not json at all"


def test_csv_reader_with_schema(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text("code,name\nUSA,United States\nJPN,Japan\n")
    schema = T.StructType([
        T.StructField("code", T.StringType()),
        T.StructField("name", T.StringType()),
    ])
    df = readers.read_csv(spark, str(p), schema)
    assert df.count() == 2
    assert df.schema == schema


def test_json_dim_reader_multiline(spark, tmp_path):
    p = tmp_path / "master.json"
    p.write_text("""[
      {"country_code_3": "USA", "country_code_2": "US",
       "country_name_eng": "United States", "country_name_kor": "미국",
       "currency_code": "USD", "is_euro_zone": false,
       "google_trend_keyword_kor": "미국 여행"},
      {"country_code_3": "DEU", "country_code_2": "DE",
       "country_name_eng": "Germany", "country_name_kor": "독일",
       "currency_code": "EUR", "is_euro_zone": true,
       "google_trend_keyword_kor": null}
    ]""")
    df = readers.read_json_dim(spark, str(p), schemas.COUNTRY_MASTER)
    rows = {r.country_code_3: r for r in df.collect()}
    assert rows["DEU"].is_euro_zone is True
    assert rows["DEU"].google_trend_keyword_kor is None


def test_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across landed batches: a later batch adds a
    column; mergeSchema unifies, old rows read NULL. At 100 TB, raw
    layers accrete columns over months — this is the contract that
    keeps old partitions readable."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string") \
         .write.mode("append").parquet(p)
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, name string, score double") \
         .write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert set(merged.columns) == {"id", "name", "score"}


def test_null_audit_surfaces_uncovered_rows(spark, sf_smoke):
    """J8 — rows the dimension fails to cover stay queryable instead of
    being silently inner-joined away."""
    e = readers.load_table(spark, sf_smoke, "events")
    # a deliberately partial dim: only even custkeys
    c = (readers.load_table(spark, sf_smoke, "customer")
         .filter(F.col("c_custkey") % 2 == 0)
         .select(F.col("c_custkey").alias("user_id"), "c_name"))
    joined = broadcast_left(e, c, "user_id", "left")
    audit = null_audit(joined, "c_name")
    covered = joined.filter(F.col("c_name").isNotNull())
    assert audit.count() + covered.count() == e.count()
    assert audit.count() > 0
    # every audited row has an odd (uncovered) user_id
    assert audit.filter(F.col("user_id") % 2 == 0).count() == 0


# ---------------------------------------------------------------------------
# load_table schema cache: the first read of a table infers its schema
# (a one-task footer job); later reads of the unchanged file under the
# same parquet settings reuse it and launch no job.
# ---------------------------------------------------------------------------

NANOS_KNOB = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_launched(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _write_table(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_load_table_second_read_launches_no_job(spark, tmp_path):
    import pyarrow as pa

    _write_table(tmp_path / "t.parquet",
                 k=pa.array([3, 1, 2], pa.int64()),
                 s=pa.array(["c", "a", "b"]))
    first, n1 = _jobs_launched(
        spark, "readers-first",
        lambda: readers.load_table(spark, str(tmp_path), "t"))
    second, n2 = _jobs_launched(
        spark, "readers-second",
        lambda: readers.load_table(spark, str(tmp_path), "t"))
    assert n1 >= 1   # footer inference
    assert n2 == 0
    assert second.dtypes == first.dtypes == [("k", "bigint"), ("s", "string")]
    assert _rows(second) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]


def test_load_table_reinfers_rewritten_file(spark, tmp_path):
    import pyarrow as pa

    _write_table(tmp_path / "t.parquet", k=pa.array([1, 2], pa.int64()))
    before = readers.load_table(spark, str(tmp_path), "t")
    assert before.dtypes == [("k", "bigint")]
    _write_table(tmp_path / "t.parquet",
                 k=pa.array(["x", "y", "z"]), v=pa.array([1.5, 2.5, 3.5]))
    after, n = _jobs_launched(
        spark, "readers-rewritten",
        lambda: readers.load_table(spark, str(tmp_path), "t"))
    assert n >= 1
    assert after.dtypes == [("k", "string"), ("v", "double")]
    assert _rows(after) == [("x", 1.5), ("y", 2.5), ("z", 3.5)]


def test_load_table_follows_nanos_knob(spark, tmp_path):
    """A kept schema is per parquet setting: flipping nanosAsLong between
    loads of a TIMESTAMP(NANOS) file behaves exactly as an uncached read
    would under each value. Spark 4 rejects TIMESTAMP(NANOS) outright
    without the knob; a kept nanosAsLong schema would silently read the
    raw longs instead."""
    import pyarrow as pa
    from pyspark.errors import AnalysisException

    nanos = [1_700_000_000_123_456_789, 1_700_000_100_000_000_001, 0]
    _write_table(tmp_path / "events.parquet",
                 event_id=pa.array([1, 2, 3], pa.int64()),
                 ts=pa.array(nanos, pa.timestamp("ns")))
    path = str(tmp_path / "events.parquet")
    old = spark.conf.get(NANOS_KNOB, "false")
    try:
        spark.conf.set(NANOS_KNOB, "true")
        first = readers.load_table(spark, str(tmp_path), "events")
        assert dict(first.dtypes)["ts"] == "timestamp"
        want = _rows(first)
        assert [r[1].microsecond for r in want] == [123456, 0, 0]

        spark.conf.set(NANOS_KNOB, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            readers.load_table(spark, str(tmp_path), "events").collect()

        spark.conf.set(NANOS_KNOB, "true")
        again, n = _jobs_launched(
            spark, "readers-nanos-again",
            lambda: readers.load_table(spark, str(tmp_path), "events"))
        assert n == 0
        assert dict(again.dtypes)["ts"] == "timestamp"
        assert _rows(again) == want
    finally:
        spark.conf.set(NANOS_KNOB, old)


def test_load_table_directory_table(spark, tmp_path):
    """A multi-file directory table (as tools/gen_scaled_sf.py writes):
    reused while its listing is unchanged, re-inferred once it changes."""
    path = str(tmp_path / "t.parquet")
    spark.range(0, 30, 1, 3).selectExpr("id", "id % 7 AS m") \
         .write.parquet(path)
    first = readers.load_table(spark, str(tmp_path), "t")
    second, n = _jobs_launched(
        spark, "readers-dir-second",
        lambda: readers.load_table(spark, str(tmp_path), "t"))
    assert n == 0
    assert second.dtypes == first.dtypes == [("id", "bigint"), ("m", "bigint")]
    assert _rows(second) == _rows(first)
    assert second.inputFiles() == first.inputFiles()
    assert len(first.inputFiles()) == 3

    spark.range(30, 40, 1, 1).selectExpr("id", "id % 7 AS m") \
         .write.mode("append").parquet(path)
    grown, n = _jobs_launched(
        spark, "readers-dir-grown",
        lambda: readers.load_table(spark, str(tmp_path), "t"))
    assert n >= 1
    assert grown.count() == 40


def test_load_table_schema_cache_threads(spark, tmp_path):
    """Concurrent loads share the bounded cache: more threads than cores,
    a short switch interval, and more distinct tables than the cache
    holds; every load sees its own table's schema and the cache never
    grows past its bound."""
    import sys
    import threading

    import pyarrow as pa

    n_tables = readers._SCHEMA_CACHE_SIZE + 8
    for i in range(n_tables):
        _write_table(tmp_path / f"t{i}.parquet",
                     **{f"c{i}": pa.array([i], pa.int64())})
    errors, sizes = [], []

    def worker(w):
        try:
            for j in range(12):
                i = (w * 12 + j) % n_tables
                df = readers.load_table(spark, str(tmp_path), f"t{i}")
                if df.columns != [f"c{i}"]:
                    errors.append((i, df.columns))
                sizes.append(len(readers._schemas))
        except Exception as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(sizes) == 8 * 12
    assert max(sizes) <= readers._SCHEMA_CACHE_SIZE


def test_load_table_cached_scan_plans_like_inference(spark, sf_smoke):
    """A kept schema plans the same parquet scan as inference: same
    PushedFilters, ReadSchema and DataFilters."""
    import os
    import re

    def scan(df):
        plan = (df.filter((F.col("o_totalprice") > 1000.0)
                          & (F.col("o_orderstatus") == "F"))
                .select("o_orderkey", "o_totalprice")
                ._jdf.queryExecution().executedPlan().toString())
        return {k: re.sub(r"#\d+", "", v) for k, v in re.findall(
            r"(PushedFilters|ReadSchema|DataFilters): (\[[^\]]*\]|\S+)",
            plan)}

    readers.load_table(spark, sf_smoke, "orders")     # keep the schema
    cached, n = _jobs_launched(
        spark, "readers-plan",
        lambda: readers.load_table(spark, sf_smoke, "orders"))
    assert n == 0
    inferred = spark.read.parquet(os.path.join(sf_smoke, "orders.parquet"))
    knob = "spark.sql.maxMetadataStringLength"   # untruncated scan metadata
    old = spark.conf.get(knob)
    spark.conf.set(knob, "10000")
    try:
        got, want = scan(cached), scan(inferred)
    finally:
        spark.conf.set(knob, old)
    assert set(want) == {"PushedFilters", "ReadSchema", "DataFilters"}
    assert "GreaterThan(o_totalprice,1000.0)" in want["PushedFilters"]
    assert got == want
