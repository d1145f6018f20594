"""K5 — versioned table on plain parquet: MERGE, time travel, SCD2.

The reference's gold layer is Delta + Unity Catalog (README.md:86-87,
109-112 [prose-only]). Delta jars are not on this container's
classpath, so this module provides the same *semantics* Spark-first on
parquet + a JSON manifest — and becomes a thin shim the day
``format("delta")`` loads:

- **Snapshot isolation / atomic commit**: data files land first, the
  manifest for the new version lands second, and a tiny ``_latest``
  pointer is swapped last via an atomic rename. A crash at any point
  leaves readers on the previous version (orphan files are invisible).
- **Partition replace**: a merge commit is copy-on-write at PARTITION
  granularity — the touched partitions are read by path from the
  manifest, rewritten as the new version, and the untouched ones
  carried forward by manifest reference, so a streaming sink costs
  O(touched partitions) per micro-batch, not O(table). ``merge_into``
  (Delta ``MERGE INTO``: key match, update, insert, delete) and
  ``maintain_hourly_rollup`` (a sum fold, one pass per batch) both
  commit this way through one write+commit helper.
- **Idempotent writes**: a commit may carry a ``(app id, epoch)`` pair,
  Delta's ``txnAppId``/``txnVersion``; the manifest keeps the last
  epoch per app id, and a writer skips an epoch already committed.
- **Time travel**: every version's manifest is retained;
  ``read_table(..., version=N)`` reads the table as of N.

Layout::

    table/
      _latest                # text: current version (atomic swap)
      _manifests/v00003.json # {"version","op","partitions":{pval:ver},
                             #  "txn":{app_id:epoch}}
      data/tdpv=3/<part=...> # snapshot data, hive-partitioned

Scale notes: the manifest maps partition-value -> version, so its size
is O(partitions), not O(files) — the operational knob is partition
granularity, exactly as with any lakehouse table. Reads pass explicit
partition dirs with a shared basePath, so Spark restores partition
columns and still prunes/pushes down within each dir.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

VERSION_DIR_COL = "tdpv"  # internal hive key for snapshot dirs
_NO_PART = "__all__"
# Spark/Hive's directory name for a NULL partition value — what
# partitionBy() writes and what the post-write listing records in the
# manifest, so the merge path must speak the same name.
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:05d}.json")


def _latest_path(path: str) -> str:
    return os.path.join(path, "_latest")


def current_version(path: str) -> int:
    """0 if the table does not exist yet."""
    try:
        with open(_latest_path(path), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version), encoding="utf-8") as fh:
        return json.load(fh)


def _commit(path: str, manifest: dict) -> int:
    """Write manifest, then atomically swap the _latest pointer —
    the commit point. Everything before is invisible to readers."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    version = manifest["version"]
    with open(_manifest_path(path, version), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    fd, tmp = tempfile.mkstemp(dir=path, prefix="_latest")
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, _latest_path(path))  # atomic on POSIX
    return version


def _write_snapshot(df: DataFrame, path: str, version: int,
                    partition_col: str | None) -> list[str]:
    """Write df under data/tdpv=<version>/, hive-partitioned if asked.
    Returns the partition values written."""
    out = os.path.join(_data_dir(path), f"{VERSION_DIR_COL}={version}")
    writer = df.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(out)
    if partition_col:
        # Learn the written partitions from the committed directory
        # layout — one filesystem metadata listing, O(partitions).
        # The previous distinct().collect() re-ran df's ENTIRE lineage
        # a second time just to learn these values (2x every versioned
        # write); the post-write listing is how real commit protocols
        # (Delta, Hive dynamic-partition overwrite) learn them too.
        # (Hive-escaping of exotic partition values is out of scope:
        # this table's partition values are dates/plain strings.)
        prefix = f"{partition_col}="
        parts = sorted(d[len(prefix):] for d in os.listdir(out)
                       if d.startswith(prefix))
    else:
        parts = [_NO_PART]
    return [str(p) for p in parts]


def write_table(df: DataFrame, path: str,
                partition_col: str | None = None) -> int:
    """Create or fully overwrite: a complete new snapshot."""
    version = current_version(path) + 1
    parts = _write_snapshot(df, path, version, partition_col)
    return _commit(path, {
        "version": version, "op": "overwrite" if version > 1 else "create",
        "partition_col": partition_col,
        "partitions": {p: version for p in parts},
    })


def _partition_dirs(path: str, man: dict,
                    pvals: list[str] | None = None) -> list[str]:
    """Snapshot dirs of partitions ``pvals`` (default: all) in the
    version that manifest ``man`` describes. A NULL partition value is
    spelled ``_NULL_PART``, as the manifest records it."""
    pcol, base = man["partition_col"], _data_dir(path)
    parts = man["partitions"]
    pvals = list(parts) if pvals is None else pvals
    if pcol is None:
        return sorted({os.path.join(base, f"{VERSION_DIR_COL}={parts[p]}")
                       for p in pvals})
    return sorted(os.path.join(base, f"{VERSION_DIR_COL}={parts[p]}",
                               f"{pcol}={p}") for p in pvals)


def _read_partitions(spark: SparkSession, path: str, man: dict,
                     pvals: list[str]) -> DataFrame:
    """The current rows of partitions ``pvals``, read by path."""
    return (spark.read.option("basePath", _data_dir(path))
            .parquet(*_partition_dirs(path, man, pvals))
            .drop(VERSION_DIR_COL))


def _replace_partitions(df: DataFrame, path: str, man: dict,
                        touched: list[str],
                        txn: tuple[str, int] | None = None) -> int:
    """Write ``df`` as the next version of partitions ``touched`` and
    commit it as a ``merge``. ``df`` holds every row those partitions
    keep: a touched partition it no longer fills leaves the manifest,
    and untouched partitions carry forward by reference. ``txn`` is an
    ``(app id, epoch)`` pair recorded for idempotent replays."""
    version, pcol = man["version"] + 1, man["partition_col"]
    written = _write_snapshot(df, path, version, pcol)
    partitions = dict(man["partitions"])
    for p in touched:
        partitions.pop(p, None)
    for p in written:
        partitions[p] = version
    txns = dict(man.get("txn", {}))
    if txn is not None:
        txns[txn[0]] = txn[1]
    return _commit(path, {
        "version": version, "op": "merge", "partition_col": pcol,
        "partitions": partitions, "txn": txns,
    })


def read_table(spark: SparkSession, path: str,
               version: int | None = None) -> DataFrame:
    """The table as of ``version`` (default: latest). Partition dirs
    are passed explicitly with a shared basePath, so partition columns
    come back and scans prune per-dir."""
    v = version if version is not None else current_version(path)
    if v < 1:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _read_manifest(path, v)
    # mergeSchema: snapshots written before an additive schema change
    # surface the new columns as NULL
    return (spark.read.option("basePath", _data_dir(path))
            .option("mergeSchema", "true").parquet(*_partition_dirs(path, man))
            .drop(VERSION_DIR_COL))


def merge_into(source: DataFrame, path: str, keys: list[str],
               delete_condition: str | None = None,
               merge_schema: bool = False) -> int:
    """Delta ``MERGE INTO`` semantics: matched target rows are replaced
    by source rows, unmatched source rows are inserted; rows matching
    ``delete_condition`` (SQL over the merged relation) are dropped.

    Copy-on-write at partition granularity: only partitions that occur
    in ``source`` are rewritten; the rest carry forward by reference.
    The touched-partition list is collected driver-side — it is
    O(partition values in the batch), the same listing cost every
    lakehouse MERGE pays.

    ``merge_schema=True`` allows additive schema evolution: new source
    columns are kept (old rows read them as NULL via parquet
    mergeSchema); by default unknown columns are dropped, matching
    Delta's strict-schema default.
    """
    base_version = current_version(path)
    if base_version < 1:
        raise FileNotFoundError(
            f"merge_into target {path} does not exist; write_table first")
    man = _read_manifest(path, base_version)
    pcol = man["partition_col"]

    if pcol is None:
        touched = [_NO_PART]
    else:
        # The manifest is keyed by partition value, so the commit needs
        # the touched set driver-side — the same O(touched-partitions)
        # metadata every lakehouse MERGE commit carries. One single-row
        # action (set aggregated executor-side), not a row collect.
        from pyspark.sql import functions as F

        row = source.agg(
            F.collect_set(F.col(pcol).cast("string")).alias("vals"),
            # collect_set drops NULLs — probe the null bucket explicitly
            # in the SAME single-row action, or null-partition source
            # rows bypass the existing-partition dedup read below and
            # duplicate their keys
            F.max(F.col(pcol).isNull()).alias("has_null")).first()
        touched = sorted(str(v) for v in row["vals"])
        if row["has_null"]:
            touched.append(_NULL_PART)
    existing = [p for p in touched if p in man["partitions"]]
    current = (_read_partitions(source.sparkSession, path, man, existing)
               if existing else source.limit(0))

    kept = current.join(source.select(*keys).distinct(), keys, "left_anti")
    if merge_schema:
        merged = kept.unionByName(source, allowMissingColumns=True)
    else:
        merged = kept.unionByName(source.select(*current.columns))
    if delete_condition:
        merged = merged.filter(f"NOT ({delete_condition})")
    return _replace_partitions(merged, path, man, touched)


def history(path: str) -> list[dict]:
    """Commit log, oldest first: version, op, partitions touched."""
    out = []
    for v in range(1, current_version(path) + 1):
        man = _read_manifest(path, v)
        out.append({"version": man["version"], "op": man["op"],
                    "touched": [p for p, sv in man["partitions"].items()
                                if sv == man["version"]]})
    return out


def maintain_hourly_rollup(batch: DataFrame, path: str,
                           txn: tuple[str, int] | None = None) -> int:
    """Incremental continuous-aggregate maintenance (the hypertable /
    materialized-rollup pattern): fold an event batch into the rollup
    at (day, hour_bucket, event_type) grain, in one pass per batch.

    1. Collect the batch's distinct days — one small action over the
       batch only. An empty batch commits nothing.
    2. Read exactly those day partitions by path from the manifest
       (a NULL ``ts`` gives a NULL day, the ``_NULL_PART`` dir).
    3. Union them with the batch's grain sums and re-aggregate, so each
       touched day holds every grain it had plus the batch's.
    4. Write the result as the new version of those partitions and
       commit; every other day carries forward by reference.

    Cost per batch is O(rows of the touched days), not O(table): no
    other partition is listed, read or written, and no MERGE key match
    runs, because the re-aggregated days replace the old ones whole.
    Counts and DECIMAL sums are exact, so incremental == full recompute
    bit-for-bit (asserted in tests/test_versioned.py).

    ``txn`` is an ``(app id, epoch)`` pair, Delta's txnAppId/txnVersion:
    the manifest keeps the last epoch committed per app id, and an epoch
    at or below it is skipped (returns the current version), so an
    at-least-once redelivery of a batch is folded once.

    First call may target an empty table created via
    ``write_table(empty_rollup, path, partition_col='day')``.
    """
    from pyspark.sql import functions as F

    man = _read_manifest(path, current_version(path))
    if txn is not None and man.get("txn", {}).get(txn[0], -1) >= txn[1]:
        return man["version"]
    hour = F.date_trunc("hour", "ts")
    day = F.date_format(hour, "yyyy-MM-dd").alias("day")
    days = [r.day for r in batch.select(day).distinct().collect()]
    if not days:
        return man["version"]
    touched = sorted(_NULL_PART if d is None else d for d in days)
    delta = (batch.groupBy(
                day,
                F.date_format(hour, "yyyy-MM-dd HH:00").alias("hour_bucket"),
                "event_type")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                   .alias("total_value")))
    rows = delta
    existing = [p for p in touched if p in man["partitions"]]
    if existing:
        # partition inference reads `day` back as DATE; the delta and
        # the dir names spell it yyyy-MM-dd
        rows = (_read_partitions(batch.sparkSession, path, man, existing)
                .withColumn("day", F.col("day").cast("string"))
                .unionByName(delta))
    combined = (rows.groupBy("day", "hour_bucket", "event_type")
                .agg(F.sum("n").cast("long").alias("n"),
                     F.sum("total_value").cast("decimal(18,2)")
                      .alias("total_value")))
    return _replace_partitions(combined, path, man, touched, txn)
