"""Query surface: each module exposes ``(spark, sf_dir) -> DataFrame``
callables plus matching DuckDB oracle SQL, registered in
``__spark_entry__.py`` for the driver's correctness gate."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


#: Plan-METADATA memos (r15 optimization) — never query results. The
#: fixture tables are immutable per path, yet every ``spark.read
#: .parquet`` re-sniffs the footer for the schema (~100 ms of driver
#: time per call on local[32]) and every ``load_balanced`` re-probes the
#: scan's partition count through an RDD conversion (~40 ms). Across a
#: 60-query bench run that is seconds of pure driver-side planning.
#: Caching the SCHEMA per path and the PROBE per (path, parallelism) is
#: exactly what a manifest-backed catalog gives a production reader for
#: free (LakeTable carries schema_json; Iceberg scans plan from
#: manifests, not footers) — every byte of data is still computed from
#: parquet on every run. Each memo stores ``(fingerprint, value)`` and
#: is replaced when the fingerprint moves, so a regenerated fixture
#: leaves no stale entry behind.
_SCHEMA_CACHE: dict = {}
_SCAN_PARTS_CACHE: dict = {}


def _fingerprint(path: str):
    """(mtime_ns, size) of the fixture file/dir — the memo invalidation
    key (ADVICE r15): a fixture regenerated in-process at the same path
    must re-sniff its schema instead of silently reading with the stale
    one. Directories fingerprint the dir mtime (any file add/replace
    bumps it on POSIX renames into the dir)."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    fp = _fingerprint(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is None or hit[0] != fp:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (fp, df.schema)
        return df
    return spark.read.schema(hit[1]).parquet(path)


def load_balanced(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` + scan-parallelism floor for compute-heavy per-row work
    (shingle md5, embedding dot products, decode UDFs).

    A small table often arrives as ONE parquet split (single file, single
    row group), so everything before the first shuffle runs on one core —
    at sf0.1 the 600 KB ``documents`` scan serializes ~1 M downstream md5
    evaluations. When the scan yields fewer than half the cluster's slots
    we round-robin repartition up to the default parallelism: the shuffle
    moves only the small scan output, then the expensive expressions run
    wide. At production scale the scan already yields >= cluster-slots
    splits and this is a no-op — the probe keeps big scans shuffle-free.
    """
    df = load(spark, sf_dir, name)
    try:
        target = spark.sparkContext.defaultParallelism
        path = f"{sf_dir}/{name}.parquet"
        fp = _fingerprint(path)
        hit = _SCAN_PARTS_CACHE.get((path, target))
        if hit is None or hit[0] != fp:
            hit = (fp, df.rdd.getNumPartitions())
            _SCAN_PARTS_CACHE[(path, target)] = hit
        current = hit[1]
    except Exception:  # Spark Connect: no RDD probe; leave the scan as-is
        return df
    if current < max(2, target // 2):
        return df.repartition(target)
    return df
