"""Versioned lakehouse tables over plain Parquet.

The reference delegates table semantics to Apache Iceberg (v2 tables,
snapshots, MERGE/DELETE/UPDATE, maintenance procedures — see
``src/utils/iceberg.py:37-96``, ``src/utils/cdc_pipeline.py:221-251``,
``src/utils/maintenance.py``). No Iceberg runtime ships in this
environment, so :class:`LakeTable` re-implements the load-bearing subset
directly on Parquet + a tiny JSON snapshot log:

- **Snapshots & time travel** — every commit writes an immutable
  ``metadata/v{N}.json`` manifest listing the live data directories;
  ``_current`` is flipped via atomic rename. Readers pin a manifest, so
  they see a consistent snapshot while writers commit.
- **Bucketed copy-on-write DML** — table data is hash-bucketed on the
  merge key (``pmod(xxhash64(keys), n_buckets)``) into per-bucket
  directories. ``merge`` / ``delete_keys`` rewrite *only the buckets
  containing source keys*: at 100 TB with 1024 buckets, a CDC batch
  touching 0.1% of keys rewrites ~a handful of buckets instead of the
  table. This is the same physical idea as Iceberg's hidden bucket
  partitioning, which the reference left latent
  (``src/utils/iceberg.py:92``).
- **Optimistic concurrency** — manifests are created with ``O_EXCL``;
  losers rebase and retry (bounded, mirroring Iceberg's
  ``commit.retry.num-retries=20`` / ``min-wait-ms=200`` at
  ``src/utils/watermark.py:59-60``). Append commits rebase
  automatically, so concurrent watermark appenders never conflict —
  the reference's append-only-ledger design.
- **Maintenance** — ``rewrite_data_files`` (bin-pack compaction),
  ``expire_snapshots``, ``remove_orphan_files`` mirror the Iceberg
  procedures the reference calls (``src/utils/maintenance.py:87,151,266``).

All data movement is Spark DataFrame jobs (distributed, codegen'd);
only manifest bookkeeping happens on the driver.
"""

from __future__ import annotations

import functools
import json
import os
import re
import struct
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from datetime import datetime, timezone
from itertools import accumulate
from statistics import median
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_iceberg_spark.fs import DEFAULT_FS

COMMIT_RETRIES = 20
COMMIT_RETRY_WAIT_S = 0.2
DEFAULT_BUCKETS = 16
#: bucket sizing targets for the data-size-aware default: one bucket per
#: ~this many input bytes, clamped to [DEFAULT_BUCKETS, MAX_AUTO_BUCKETS]
TARGET_BUCKET_BYTES = 512 * 1024 * 1024
MAX_AUTO_BUCKETS = 1024
#: sub-split a bucket's write when its slice would exceed ~this many
#: bytes per task — bounds file sizes AND lifts write parallelism past
#: n_buckets on big writes, while small CDC merges stay 1 task/bucket
TARGET_WRITE_BYTES = 128 * 1024 * 1024
MAX_WRITE_SPLITS = 16
#: rows per task for a CoW merge's union leg (the batch side, read
#: from cache): sized so CDC batches take 1-2 tasks while RTAS-scale
#: sources keep full core fan-out
UNION_LEG_ROWS_PER_TASK = 100_000
#: merge sources whose Catalyst size estimate exceeds this skip the
#: commit-scoped persist: past ~1 GiB re-running the source (a scan —
#: or a pipeline whose estimate, usually an overestimate for joins,
#: says it produces table-scale output) beats serializing it into the
#: executor cache and spilling
MERGE_PERSIST_MAX_BYTES = 8 * TARGET_WRITE_BYTES
#: marks the delete-key rows of a copy-on-write keyed rewrite's batch
_DELETE_FLAG = "__keyed_delete"
# above this many distinct keys a lookup stays a distributed semi-join
# (strategy left to AQE) — an IN-list that size stops being a "point"
# lookup and bloats the plan
MAX_PUSHED_LOOKUP_KEYS = 1024
#: in-flight-writer grace shared by orphan GC (``remove_orphan_files``
#: ``older_than_s``; Iceberg's ``older_than``) and the PUBLISH-side age
#: gate in ``_commit``: a commit whose data dirs are older than this
#: refuses to publish, because a concurrent GC with the default grace
#: may legitimately have reclaimed them. Together the two sides make the
#: grace a real bound for every commit kind — plain append/merge
#: included, which the reserved-manifest gate alone never covered (it
#: only bounds reserve-to-publish, and plain commits reserve at the END)
GC_GRACE_S = 3600.0
#: broadcast a MoR delete era's key set only below this on-disk size —
#: hot-path CDC eras are KBs–MBs and broadcast; a bulk delete's keys can
#: be GBs at scale, where the anti-join strategy is left to AQE
DELETE_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _utcnow() -> str:
    return datetime.now(timezone.utc).isoformat()


def _md5_hex(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def _parse_iso_utc(ts: str) -> datetime:
    """ISO-8601 → aware UTC datetime; naive inputs are taken as UTC.
    Accepts the 'Z' suffix (pre-3.11 fromisoformat doesn't)."""
    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def _norm_filters(filters) -> list[tuple]:
    """Normalize the scan/update filter vocabulary ONCE per call:
    2-tuples gain a None value slot, temporal values convert to the
    isoformat strings the footer stats store — so the per-dir pruning
    loop does plain comparisons, not O(dirs x values) conversions."""
    out = []
    for f in filters:
        col, op, value = f if len(f) == 3 else (f[0], f[1], None)
        if op == "in":
            value = [
                x.isoformat() if hasattr(x, "isoformat") else x
                for x in value
            ]
        elif hasattr(value, "isoformat"):
            value = value.isoformat()
        out.append((col, op, value))
    return out


_FILTER_OPS = {
    ">": lambda c, v: c > v, ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v, "<=": lambda c, v: c <= v,
    "=": lambda c, v: c == v, "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v, "<>": lambda c, v: c != v,
}


def _filter_expr(filters):
    """The exact Spark predicate for a normalized filter conjunction —
    ONE translation shared by scan() and update_where() so the operator
    vocabulary can never drift between the two."""
    cond = None
    for col, op, value in filters:
        if op == "is_null":
            term = F.col(col).isNull()
        elif op == "is_not_null":
            term = F.col(col).isNotNull()
        elif op == "in":
            term = F.col(col).isin(list(value))
        else:
            term = _FILTER_OPS[op](F.col(col), F.lit(value))
        cond = term if cond is None else cond & term
    return cond


def _is_filter_triple(f) -> bool:
    """A single ``(col, op[, value])`` filter — distinguishes a triple
    from a DNF branch (a list OF triples) by the leading column name."""
    return (
        isinstance(f, (tuple, list))
        and len(f) in (2, 3)
        and isinstance(f[0], str)
    )


def _norm_dnf(filters) -> list[list[tuple]]:
    """Canonicalize the filter vocabulary to OR-of-AND form (r12).

    - ``[(col, op, v), ...]`` — the classic conjunction — becomes one
      branch: ``[[...]]``.
    - ``[[(col, op, v), ...], [...]]`` — a list of conjunctions — is a
      DISJUNCTION of those branches (DNF), letting retention predicates
      like ``source = 'a' OR (lang = 'b' AND score < c)`` keep
      dir-level skipping: a dir is read only when SOME branch's stats
      ranges can match, which is exactly the zone-map rule for OR.

    - ``{"or": [branch, ...]}`` / ``{"and": [triple, ...]}`` — EXPLICIT
      markers (r13). The list forms are ambiguous at one corner:
      ``[["a","=",1],["b","=",2]]`` parses as a CONJUNCTION (each
      element is a valid triple) even when the caller meant an OR of
      two single-triple branches — easy to hit via ``catalog_admin
      --filters`` JSON, silently turning a disjunctive purge into an
      intersection. The ``or`` marker says it outright; its branches
      may be bare triples (``{"or": [["a","=",1], ["b","=",2]]}``) or
      conjunctions of triples.

    Mixed forms raise — silently AND-ing what the caller meant as OR
    (or vice versa) is the one outcome worse than an error."""
    if isinstance(filters, dict):
        if set(filters) == {"or"}:
            branches = []
            for br in filters["or"] or []:
                if _is_filter_triple(br):
                    branches.append(_norm_filters([br]))
                elif isinstance(br, (tuple, list)) and br and all(
                    _is_filter_triple(f) for f in br
                ):
                    branches.append(_norm_filters(list(br)))
                else:
                    raise ValueError(
                        '{"or": ...} branch must be a (col, op, value) triple '
                        f"or a non-empty list of them, got {br!r}"
                    )
            if not branches:
                raise ValueError('{"or": ...} needs at least one branch')
            return branches
        if set(filters) == {"and"}:
            return [_norm_filters(list(filters["and"]))]
        raise ValueError(
            'filter dict must be exactly {"or": [...]} or {"and": [...]}, '
            f"got keys {sorted(filters)!r}"
        )
    if not isinstance(filters, list) or not filters:
        raise ValueError(
            "filters must be a non-empty list of (col, op, value) tuples "
            "or a non-empty list of such conjunctions (OR of ANDs)"
        )
    if all(_is_filter_triple(f) for f in filters):
        return [_norm_filters(filters)]
    if all(
        isinstance(br, (tuple, list)) and not _is_filter_triple(br) for br in filters
    ):
        branches = []
        for br in filters:
            if not br or not all(_is_filter_triple(f) for f in br):
                raise ValueError(
                    f"DNF branch must be a non-empty list of (col, op, value) "
                    f"tuples, got {br!r}"
                )
            branches.append(_norm_filters(list(br)))
        return branches
    raise ValueError(
        "mixed filter forms: pass either one conjunction of (col, op, value) "
        "tuples or a list of such conjunctions (OR of ANDs), not both shapes "
        f"in one list: {filters!r}"
    )


def _dnf_expr(dnf: list[list[tuple]]):
    """Spark predicate for a ``_norm_dnf`` result: OR over the branches'
    ``_filter_expr`` conjunctions (single-branch == the classic path)."""
    cond = None
    for branch in dnf:
        term = _filter_expr(branch)
        cond = term if cond is None else cond | term
    return cond


def _upsert_rows(batch: DataFrame) -> DataFrame:
    """The upsert side of a ``_DELETE_FLAG``-tagged keyed-rewrite batch."""
    return batch.where(~F.col(_DELETE_FLAG)).drop(_DELETE_FLAG)


def _commit_dir_of(rel_dir: str) -> str:
    """Commit-level prefix of a data/delete dir: strips the per-bucket
    ``_bucket=k`` leaf that ``_write_bucketed`` appends, leaving the
    ``data/c-<hex>`` commit dir (or the clone's absolute foreign commit
    dir). A dir with no ``_bucket=`` leaf (single-bucket writes) is
    returned unchanged — it already IS commit-granular."""
    head, _, tail = rel_dir.rpartition("/")
    return head if tail.startswith("_bucket=") else rel_dir


#: ``bucket_expr``'s stand-in for a NULL key column
_NULL_KEY = "\x00null"


def bucket_expr(keys: list[str], n_buckets: int):
    """Deterministic bucket id for a key tuple.

    ``xxhash64`` is a Spark built-in (JVM-side, codegen) — no Python UDF
    on the hot path. Null-safe via coalesce-to-sentinel string.
    ``_bucket_of`` computes the same id on the driver for key values
    already in hand; ``tests/test_lookup_routing.py`` pins the two
    together, so a change here must change both.
    """
    cols = [F.coalesce(F.col(k).cast("string"), F.lit(_NULL_KEY)) for k in keys]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


#: key column types whose Python ``str()`` equals Spark's string cast —
#: only these route on the driver; the rest (double, decimal, date,
#: timestamp, boolean, binary, ...) keep ``bucket_expr``'s Spark job
_ROUTABLE_KEY_TYPES = (
    T.StringType(), T.LongType(), T.IntegerType(), T.ShortType(), T.ByteType(),
)
_M64 = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XXP2) & _M64, 31) * _XXP1) & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit), as Spark's ``XXH64``
    computes it over a string's UTF-8 bytes: little-endian lanes, 32-byte
    stripes, then 8-, 4- and 1-byte tails and the final avalanche."""
    n, i = len(data), 0
    seed &= _M64
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2 = _xxh64_round(v1, a), _xxh64_round(v2, b)
            v3, v4 = _xxh64_round(v3, c), _xxh64_round(v4, d)
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh64_round(0, v)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl64(h ^ _xxh64_round(0, lane), 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ ((lane * _XXP1) & _M64), 23) * _XXP2 + _XXP3) & _M64
        i += 4
    for byte in data[i:]:
        h = (_rotl64(h ^ ((byte * _XXP5) & _M64), 11) * _XXP1) & _M64
    h = ((h ^ (h >> 33)) * _XXP2) & _M64
    h = ((h ^ (h >> 29)) * _XXP3) & _M64
    return h ^ (h >> 32)


def _bucket_of(values: tuple, n_buckets: int) -> int:
    """``bucket_expr`` of one key tuple, computed on the driver: Spark's
    ``xxhash64`` chained column by column from seed 42 over the UTF-8
    bytes of each value's string cast (``_NULL_KEY`` for None), then
    ``pmod``. Exact only for ``_ROUTABLE_KEY_TYPES`` values."""
    h = 42
    for v in values:
        h = _xxh64((_NULL_KEY if v is None else str(v)).encode("utf-8"), h)
    # the chained hash is a signed Java long; Python's % is already pmod
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def _murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of one IntegerType column (the hash
    behind ``df.repartition(n, col)``): Murmur3 x86_32 ``hashInt`` with
    Spark's fixed seed 42. Pure-Python replica, pinned against
    ``F.hash`` by ``tests/test_write_balance.py`` so a Spark hash
    change breaks one obvious test."""
    k1 = value & 0xFFFFFFFF
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed & 0xFFFFFFFF) ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # fmix: total input length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@functools.lru_cache(maxsize=64)
def exact_shuffle_tokens(nparts: int) -> tuple[int, ...]:
    """``tokens[p]`` is the smallest non-negative int whose Spark hash
    lands shuffle partition ``p`` of ``nparts`` — repartitioning on a
    token COLUMN therefore places rows on EXACTLY the partition the
    writer intends, where hashing the (bucket, split) tuple itself is
    balls-into-bins: with C combos into C partitions ~37% of tasks sit
    empty while others carry 2-3 combos (measured 3.5-3.9x max/median
    task skew on the sf1 merge write — the r14 capture finding).
    Expected search cost is n·H(n) murmur evaluations (~10 µs each),
    cached per nparts for the process lifetime."""
    tokens: list[int | None] = [None] * nparts
    found, t = 0, 0
    while found < nparts:
        p = _murmur3_hash_int(t) % nparts
        if tokens[p] is None:
            tokens[p] = t
            found += 1
        t += 1
    return tuple(tokens)  # type: ignore[arg-type]


def _exact_partition_col(combo, nparts: int):
    """Int column that routes ``combo`` (any non-negative int
    expression) to shuffle partition ``combo % nparts`` exactly, via
    the pre-imaged tokens above."""
    tokens = exact_shuffle_tokens(nparts)
    lut = F.array(*[F.lit(t) for t in tokens])
    return F.element_at(lut, F.pmod(combo, F.lit(nparts)).cast("int") + 1)


def _split_combo(keys: list[str], splits: list[int]):
    """Int column: each row's dense (bucket, sub-split) combo id for
    :func:`_exact_partition_col`. Bucket ``b`` owns the ``splits[b]`` ids
    from ``Σ splits[:b]``; a row takes the one its split hash picks. The
    split hash is the KEY hash under a seed of its own: deterministic for
    task retries (not random), and de-correlated from the bucket id (the
    bucket hash mod would put a bucket's rows in one split). When no
    bucket splits, no split hash is computed."""
    b = F.col("_bucket").cast("int")

    def lut(vals):
        return F.element_at(F.array(*[F.lit(v) for v in vals]), b + 1)

    offsets = list(accumulate([0] + splits[:-1]))
    off = b if offsets == list(range(len(splits))) else lut(offsets)
    if max(splits) <= 1:
        return off
    # a bucket without splits gets modulus 1: a stray row lands on its
    # offset instead of a null pmod crashing the write
    sb = lut(max(1, s) for s in splits)
    key_cols = [F.coalesce(F.col(k).cast("string"), F.lit(_NULL_KEY)) for k in keys]
    return off + F.pmod(F.xxhash64(F.lit("_split_seed"), *key_cols), sb).cast("int")


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan, or None when
    unknown (the optimizer returns its max-sentinel for plans it can't
    size). Used only for WRITE-TIME heuristics — never correctness."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — py4j/connect-mode differences
        return None
    # Catalyst uses ~Long.MaxValue when it has no estimate
    return size if 0 < size < (1 << 60) else None


def target_write_bytes(props: dict[str, str]) -> int:
    """Per-task, hence per-output-file, byte target of a bucketed write:
    the table's ``write.target-file-size-bytes`` when it is a positive
    integer, else ``TARGET_WRITE_BYTES``. The bytes are ENCODED bytes,
    Iceberg's output-file-size meaning, compared against Catalyst's size
    estimate of the input (the on-disk size for a parquet scan), not
    against raw row width."""
    try:
        declared = int(props.get("write.target-file-size-bytes", 0))
    except (ValueError, TypeError):
        return TARGET_WRITE_BYTES  # malformed -> default, never a failed write
    return declared if declared > 0 else TARGET_WRITE_BYTES


def auto_bucket_count(df: DataFrame) -> int:
    """Data-size-aware bucket default: one bucket per
    ``TARGET_BUCKET_BYTES`` of estimated input, rounded up to a power of
    two (powers of two re-split evenly if the table is later re-bucketed
    2×), clamped to [DEFAULT_BUCKETS, MAX_AUTO_BUCKETS]. Falls back to
    ``DEFAULT_BUCKETS`` when Catalyst can't size the plan."""
    size = plan_size_bytes(df)
    if size is None:
        return DEFAULT_BUCKETS
    want = max(1, -(-size // TARGET_BUCKET_BYTES))  # ceil div
    n = DEFAULT_BUCKETS
    while n < want and n < MAX_AUTO_BUCKETS:
        n *= 2
    return n


#: commits touching at most this many files read footers on the driver
#: (a Spark job's fixed latency would dominate); bigger commits fan out.
#: The threshold is latency-scaled: on an object store a footer read is
#: a ~10-50 ms round trip, so fan out early; on a local filesystem it's
#: ~50 µs (measured: 1024 footers in 0.05 s serial), so the driver path
#: wins up to thousands of files and skips ~3 s of python-worker spawn
#: + import overhead per commit.
DRIVER_STATS_MAX_FILES = 64
LOCAL_DRIVER_STATS_MAX_FILES = 4096

#: distributed footer harvest: files per task. Each task pays a python
#: worker spawn + pyarrow import (~0.5 s under concurrent-import
#: contention) against ~50 µs-50 ms per footer — fat slices keep the
#: overhead amortized at any cluster size.
STATS_FILES_PER_TASK = 256


def _footer_num_rows(path: str) -> int:
    """Parquet footer row count of one file. Module-level so the
    distributed inventory path (``LakeTable.files``) ships it without
    capturing table state; -1 signals an unreadable footer (the
    inventory reports rather than fails)."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — inventory is best-effort
        return -1


def _footer_null_count(path: str, column: str) -> int | None:
    """Total null count of one column from one parquet file's footer;
    None when any row-group chunk lacks a valid null-count statistic
    (callers then fall back to an exact scan of the dir)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        total = 0
        seen = False
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema != column:
                    continue
                st = col.statistics
                if st is None or not st.has_null_count or st.null_count is None:
                    return None
                total += st.null_count
                seen = True
        return total if seen else None
    except Exception:  # noqa: BLE001 — unreadable footer -> scan fallback
        return None


#: pseudo-column under which each dir's TOTAL footer row count is
#: harvested into the snapshot stats (stored as [n, n], summed across a
#: dir's files). `#` keeps it out of any real column's namespace; data
#: skipping looks stats up by predicate column name, so the entry is
#: invisible to `_dir_may_match`. Powers `row_count()` — Iceberg's
#: manifest record-count analogue.
ROWS_STAT = "#rows"
#: pseudo-column for a dir's TOTAL parquet bytes (summed like `#rows`),
#: harvested at commit time. Lets read-path size decisions — the MoR
#: delete-era broadcast gate — run as pure manifest math instead of a
#: per-query filesystem LIST + per-file HEAD of every delete dir (on an
#: object store that was O(delete dirs + files) round trips per read).
BYTES_STAT = "#bytes"
#: per-column null-count pseudo-stats: ``#nulls:<physical col>`` -> the
#: dir's total null count for that column (summed like `#rows`). Powers
#: metadata-only COUNT(col) / null-ratio DQ audits (`null_count()`) —
#: the fourth member of the Iceberg manifest-stat quartet
#: (record count / bytes / bounds / null counts).
NULLS_STAT_PREFIX = "#nulls:"
#: where per-column NDV sketch sidecars live, relative to the table
#: location (the Iceberg Puffin-file analogue: sketches are too big for
#: the JSON manifest — one HLL sketch is ~KBs per dir — so the manifest
#: holds only a POINTER per analyzed column and the sketches themselves
#: are a tiny parquet file of (dir, sketch) rows).
NDV_SIDECAR_DIR = "metadata/ndv"
#: Datasketches HLL lgConfigK for `analyze_ndv` — 2^12 registers,
#: ~1.6% relative standard error, ~4 KB per sketch.
NDV_DEFAULT_LG_K = 12
#: column types hll_sketch_agg accepts natively; everything else is
#: sketched through an injective CAST to string (dates, timestamps,
#: decimals, and float/double via Java's shortest-round-trip repr all
#: preserve distinctness, so the NDV is unchanged).
_NDV_NATIVE_TYPES = {"int", "bigint", "string", "binary"}


def _footer_stats_one(rel_dir: str, path: str) -> list[tuple[str, str, Any, Any]]:
    """Footer min/max of one parquet file → (rel_dir, column, min, max)
    rows, plus the file's total row count under ``ROWS_STAT``.
    Module-level so the distributed path ships it without capturing any
    table state."""
    import pyarrow.parquet as pq

    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    nulls_ok: dict[str, bool] = {}
    seen: set[str] = set()
    mm_bad: set[str] = set()
    md = pq.ParquetFile(path).metadata
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:
                continue
            seen.add(name)
            # null counts are valid even where min/max are not (all-null
            # or bytes-typed chunks); a single chunk without the stat
            # invalidates the column's count for this file
            if st is not None and st.has_null_count and st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
                nulls_ok.setdefault(name, True)
            else:
                nulls_ok[name] = False
            if st is None or not st.has_min_max:
                # an ALL-NULL chunk legitimately has no min/max and
                # contributes no values — it must not invalidate the
                # column's bounds; any other statless/bytes-typed chunk
                # might hold values outside the other chunks' range, so
                # the whole column's bounds are unusable for this file
                all_null = (
                    st is not None and st.has_null_count
                    and st.null_count == g.num_rows
                )
                if not all_null:
                    mm_bad.add(name)
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                mm_bad.add(name)
                continue
            if hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    # a (None, None) row is a VALID no-values contribution (all-null
    # file): the dir-level merge needs it to prove every file was
    # accounted for before trusting the dir's bounds
    out = [
        (rel_dir, c, mins.get(c), maxs.get(c))
        for c in sorted(seen - mm_bad)
    ]
    out.extend(
        (rel_dir, NULLS_STAT_PREFIX + c, n, n)
        for c, n in nulls.items() if nulls_ok.get(c)
    )
    out.append((rel_dir, ROWS_STAT, md.num_rows, md.num_rows))
    try:
        size = os.path.getsize(path)
        out.append((rel_dir, BYTES_STAT, size, size))
    except OSError:
        pass  # non-local path: no bytes stat -> callers fall back to listing
    return out


def _footer_stats_job(
    spark: SparkSession, files: list[tuple[str, str]]
) -> list[tuple[str, str, Any, Any]]:
    """Distributed parquet-footer harvest: ``(rel_dir, path)`` pairs in,
    ``(rel_dir, column, min, max)`` rows out. Runs as one Spark job over
    slices of the file list; each task opens only footers (no data
    pages). Values are reduced per-file and per-dir by the caller."""

    def _part(it):
        for rel_dir, path in it:
            yield from _footer_stats_one(rel_dir, path)

    sc = spark.sparkContext
    want = -(-len(files) // STATS_FILES_PER_TASK)  # ceil div
    slices = max(1, min(want, sc.defaultParallelism * 4))
    return sc.parallelize(files, slices).mapPartitions(_part).collect()


@dataclass
class Snapshot:
    version: int
    parent: int | None
    timestamp: str
    operation: str
    schema_json: str
    key: list[str] | None
    n_buckets: int
    buckets: dict[str, list[str]]  # bucket id (str) -> relative data dirs
    properties: dict[str, str]
    summary: dict[str, Any]
    # per-dir column stats for data skipping (dir -> col -> [min, max]),
    # harvested from parquet footers at commit time (Iceberg-manifest
    # analogue). Older manifests without stats load fine (empty = no
    # skipping for those dirs).
    stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # merge-on-read equality-delete files: bucket -> list of
    # {"dir": <delete-key parquet dir>, "covers": [data dirs it applies
    # to]} — ``covers`` is the Iceberg sequence-number analogue: a
    # delete applies ONLY to data dirs that existed when it committed,
    # so re-inserting a deleted key later is unaffected. Entries whose
    # covered dirs are all rewritten away are dropped automatically.
    deletes: dict[str, list[dict]] = field(default_factory=dict)
    # metadata-only schema evolution (Iceberg field-id analogue): for
    # dirs written BEFORE a rename/add, logical column -> physical
    # column name inside the files. Absent dir or absent column =
    # identity. ``add_column`` maps the new name to a nonexistent
    # sentinel on pre-existing dirs, so a drop + re-add can never
    # resurrect old values (Iceberg's no-resurrection rule, which it
    # gets from fresh field ids).
    renames: dict[str, dict[str, str]] = field(default_factory=dict)
    # per-column NDV sketch pointers (Iceberg Puffin analogue):
    # logical column -> relative path of a parquet sidecar holding
    # (dir, HLL sketch) rows for the dirs covered by the last
    # ``analyze_ndv``. Dirs are immutable, so a dir's sketch stays
    # valid until the dir is rewritten; staleness is computed at read
    # time (covered ⊆ live), never stored. Old manifests load fine
    # (empty = nothing analyzed).
    ndv: dict[str, str] = field(default_factory=dict)
    # ancestor commit log ([[version, iso-timestamp], ...], oldest
    # first, self last; Iceberg's ``snapshot-log``): lets
    # ``version_as_of`` answer from ONE small root read instead of
    # parsing every manifest ever written. Capped by the
    # ``commit.history-max-entries`` table property (default
    # HISTORY_MAX_ENTRIES); entries for expired versions are harmless —
    # the reader verifies the chosen manifest still exists. Legacy
    # manifests without the field fall back to the directory scan.
    history: list = field(default_factory=list)

    def to_json(self) -> str:
        # private attrs (the loader's ``_segment_refs`` stash) are
        # runtime bookkeeping, never serialized
        return json.dumps(
            {k: v for k, v in self.__dict__.items() if not k.startswith("_")},
            indent=1, sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        return Snapshot(**json.loads(s))

    def all_dirs(self) -> list[str]:
        return [d for dirs in self.buckets.values() for d in dirs]

    def all_delete_dirs(self) -> list[str]:
        return [e["dir"] for entries in self.deletes.values() for e in entries]


def _successor(parent: Snapshot, operation: str, **changes) -> Snapshot:
    """The commit after ``parent``: its schema, layout, properties,
    delete eras and renames carry over unless ``changes`` replaces
    them. Stats, NDV pointers and history stay empty here —
    ``_finalize_snapshot`` derives them from the parent."""
    fields = dict(
        schema_json=parent.schema_json, key=parent.key,
        n_buckets=parent.n_buckets, buckets=parent.buckets,
        properties=parent.properties, summary={},
        deletes=parent.deletes, renames=parent.renames,
    )
    fields.update(changes)
    return Snapshot(version=parent.version + 1, parent=parent.version,
                    timestamp=_utcnow(), operation=operation, **fields)


def _content_of(snap: Snapshot) -> dict[str, Any]:
    """A deep copy of ``snap``'s table content (schema, layout,
    properties, delete eras, renames) for a commit that adopts it
    (rollback, fork, fast_forward) or edits it in place (DDL)."""
    return dict(
        schema_json=snap.schema_json, key=snap.key, n_buckets=snap.n_buckets,
        buckets={b: list(d) for b, d in snap.buckets.items()},
        properties=dict(snap.properties),
        deletes={
            b: [{"dir": e["dir"], "covers": list(e["covers"])} for e in es]
            for b, es in snap.deletes.items()
        },
        renames={d: dict(m) for d, m in snap.renames.items()},
    )


class _AlreadyApplied(Exception):
    """Internal: a transactional write (txn_app, txn_version) was
    already committed — carry the snapshot that proves it."""

    def __init__(self, snap):
        self.snap = snap


def _txn_wrap(build_snapshot, txn_app: str | None, txn_version: int | None):
    """Wrap a commit builder with exactly-once write semantics (the
    Delta ``txnAppId``/``txnVersion`` and Iceberg WAP-id idea): when the
    parent snapshot already records ``txn.{app} >= version``, the write
    was applied by an earlier attempt — raise ``_AlreadyApplied`` so the
    commit becomes a no-op. The check runs INSIDE the builder, i.e.
    against the CURRENT parent on every optimistic retry, so two racing
    replays of the same micro-batch cannot both land: the loser rebases,
    sees the winner's marker, and skips."""
    if txn_app is None:
        return build_snapshot
    if txn_version is None:
        raise ValueError("txn_app requires txn_version")
    prop = f"txn.{txn_app}"

    def wrapped(parent):
        if parent is not None and txn_version <= int(parent.properties.get(prop, -1)):
            raise _AlreadyApplied(parent)
        snap = build_snapshot(parent)
        snap.properties = {**snap.properties, prop: str(txn_version)}
        return snap

    return wrapped


class CommitConflict(Exception):
    pass


def _prune_deletes(
    deletes: dict[str, list[dict]], live_buckets: dict[str, list[str]]
) -> dict[str, list[dict]]:
    """Drop merge-on-read delete entries whose covered data dirs no
    longer exist (the dirs were compacted/rewritten with the delete
    applied), and narrow surviving entries' covers to live dirs."""
    out: dict[str, list[dict]] = {}
    for b, entries in deletes.items():
        live = set(live_buckets.get(b, []))
        kept = []
        for e in entries:
            cov = [d for d in e["covers"] if d in live]
            if cov:
                kept.append({"dir": e["dir"], "covers": cov})
        if kept:
            out[b] = kept
    return out


# --------------------------------------------------------------------------
# Segmented manifests (format v2) — the Iceberg manifest-list analogue.
#
# A single ``v{N}.json`` holding every dir + per-dir stats of every bucket
# is rewritten whole on every commit and re-parsed whole on every
# ``snapshot()`` — microseconds at bench scale, but at the 100 TB design
# point (~200k dirs × ~20 stat entries) it is tens of MB of JSON
# serialized per commit and parsed per read ON THE DRIVER: the
# coordinator bottleneck Iceberg's manifest-list + per-manifest reuse
# exists to avoid (the reference inherits that from the Iceberg runtime,
# ``src/utils/iceberg.py:68-95``). Format v2 splits the bulk out:
#
# - ``metadata/segments/seg-{md5}.json`` — one content-addressed,
#   immutable file per BUCKET holding that bucket's dir list, MoR delete
#   entries, per-dir stats and rename maps. Identical content ⇒ identical
#   file name, so concurrent identical writes are benign and unchanged
#   buckets are never rewritten.
# - ``v{N}.json`` (the root) — everything else (schema, properties,
#   summary, ndv pointers, history) plus ``{"segments": {bucket: file}}``
#   references. Small (~O(n_buckets)) regardless of table size.
#
# A commit serializes and writes ONLY the buckets whose payload differs
# from the parent's (an in-memory ``==`` against the parent's cached
# segment payloads — no JSON, no IO for untouched buckets) and re-links
# the rest, so commit metadata cost is ∝ touched buckets. Reads go
# through a per-filesystem LRU cache of parsed roots and segments;
# published manifests (version ≤ ``_current``) are immutable by protocol
# — ``_write_manifest``/txn publish flip ``_current`` only to
# exclusively-created manifests and expiry only ever deletes — so cache
# entries never go stale. Reserved manifests ABOVE ``_current`` can be
# reclaimed and re-reserved with different content, so those are never
# cached. Legacy inline (v1) manifests load transparently; the first
# commit on an old table migrates it to v2 (or set the
# ``commit.manifest-format = inline`` table property to stay on v1).
# Unreferenced segments (lost commit races, aborted transactions,
# expired snapshots) are swept by ``expire_snapshots`` under the same
# in-flight GC grace as data dirs.
# --------------------------------------------------------------------------

MANIFEST_FORMAT = 2
SEGMENTS_DIRNAME = "segments"
HISTORY_MAX_ENTRIES = 10_000
_BULK_FIELDS = ("buckets", "deletes", "stats", "renames")
#: cache budgets are BYTES of source JSON, not entry counts — a legacy
#: inline root or a giant single-bucket segment can be MBs, and a
#: count-based cap would let 256 of those pin GBs on the driver
_ROOT_CACHE_BYTES = 64 * 1024 * 1024
_SEGMENT_CACHE_BYTES = 256 * 1024 * 1024


def _meta_cache(fs) -> dict:
    """Per-filesystem manifest cache ``{"roots": OrderedDict[(meta_dir,
    version) -> (parsed root doc, nbytes)], "segments":
    OrderedDict[(meta_dir, fname) -> (parsed payload, nbytes)]}`` plus
    per-kind running byte totals. Hanging it off the fs instance gives
    test doubles their own isolated cache for free and scopes the
    shared one to ``DEFAULT_FS``'s lifetime. Cached values are treated
    as IMMUTABLE by every consumer (the loader hands out fresh outer
    dicts; commit builders copy inner lists before extending them —
    the existing copy-on-write discipline of the builder closures)."""
    cache = getattr(fs, "_manifest_cache", None)
    if cache is None:
        cache = {"roots": OrderedDict(), "segments": OrderedDict(),
                 "roots_bytes": 0, "segments_bytes": 0}
        try:
            fs._manifest_cache = cache
        except AttributeError:  # slotted/frozen fs double: no caching
            pass
    return cache


def _cache_put(cache: dict, kind: str, key, val, nbytes: int, cap: int) -> None:
    od = cache[kind]
    old = od.pop(key, None)
    if old is not None:
        cache[f"{kind}_bytes"] -= old[1]
    od[key] = (val, nbytes)
    cache[f"{kind}_bytes"] += nbytes
    while cache[f"{kind}_bytes"] > cap and len(od) > 1:
        _k, (_v, nb) = od.popitem(last=False)
        cache[f"{kind}_bytes"] -= nb


def _cache_get(cache: dict, kind: str, key):
    hit = cache[kind].get(key)
    if hit is None:
        return None
    cache[kind].move_to_end(key)
    return hit[0]


def evict_meta_cache(fs, path_prefix: str) -> None:
    """Drop every cached root/segment whose meta_dir is ``path_prefix``
    or sits under it — called whenever a metadata namespace is deleted
    or moved (snapshot expiry, ``drop_branch``, DROP TABLE, RENAME):
    a namespace recreated at the same path restarts its version numbers,
    so a later read must fail or re-read like a cold process would."""
    prefix = path_prefix.rstrip("/") + "/"
    cache = _meta_cache(fs)
    for kind in ("roots", "segments"):
        for key in [
            k for k in cache[kind]
            if k[0] == path_prefix or k[0].startswith(prefix)
        ]:
            cache[f"{kind}_bytes"] -= cache[kind].pop(key)[1]


def _load_root_doc(fs, meta_dir: str, version: int, cacheable: bool = True) -> dict:
    """Parsed ``v{version}.json`` (segmented root or legacy inline)."""
    cache = _meta_cache(fs)
    key = (meta_dir, version)
    hit = _cache_get(cache, "roots", key)
    if hit is not None:
        return hit
    text = fs.read_text(fs.join(meta_dir, f"v{version}.json"))
    doc = json.loads(text)
    if cacheable:
        _cache_put(cache, "roots", key, doc, len(text), _ROOT_CACHE_BYTES)
    return doc


def _load_segment(fs, meta_dir: str, fname: str) -> dict:
    """Parsed segment payload — content-addressed, so always cacheable."""
    cache = _meta_cache(fs)
    key = (meta_dir, fname)
    hit = _cache_get(cache, "segments", key)
    if hit is not None:
        return hit
    text = fs.read_text(fs.join(meta_dir, SEGMENTS_DIRNAME, fname))
    pay = json.loads(text)
    _cache_put(cache, "segments", key, pay, len(text), _SEGMENT_CACHE_BYTES)
    return pay


def _snapshot_from_doc(fs, meta_dir: str, doc: dict) -> Snapshot:
    """Materialize a :class:`Snapshot` from a parsed root doc, resolving
    segment references. Outer dicts are FRESH per call (builders may
    rebind/del keys); inner lists/dicts are shared with the cache and
    must not be mutated in place — the invariant every commit builder
    already keeps (``list(dirs)`` / ``dict(m)`` copies before edits)."""
    doc = dict(doc)
    fmt = doc.pop("format", 1)
    refs = doc.pop("segments", None)
    if refs is None or fmt < MANIFEST_FORMAT:
        snap = Snapshot(**doc)
        snap.buckets = dict(snap.buckets)
        snap.deletes = dict(snap.deletes)
        snap.stats = dict(snap.stats)
        snap.renames = dict(snap.renames)
        return snap
    # bulk keys present IN a segmented root (hand-edited manifests)
    # overlay the segment-assembled maps rather than erroring
    over = {k: doc.pop(k) for k in _BULK_FIELDS if k in doc}
    buckets: dict[str, list[str]] = {}
    deletes: dict[str, list[dict]] = {}
    stats: dict[str, dict] = {}
    renames: dict[str, dict] = {}
    for b, fname in refs.items():
        pay = _load_segment(fs, meta_dir, fname)
        if pay.get("dirs") is not None:
            buckets[b] = pay["dirs"]
        if pay.get("deletes") is not None:
            deletes[b] = pay["deletes"]
        stats.update(pay.get("stats") or {})
        renames.update(pay.get("renames") or {})
    buckets.update(over.get("buckets") or {})
    deletes.update(over.get("deletes") or {})
    stats.update(over.get("stats") or {})
    renames.update(over.get("renames") or {})
    snap = Snapshot(
        **doc, buckets=buckets, deletes=deletes, stats=stats, renames=renames
    )
    snap._segment_refs = dict(refs)
    return snap


def _meta_current(fs, meta_dir: str) -> int:
    """``_current`` of a metadata namespace, or -1 when absent — the
    cacheability bound (only published manifests are immutable)."""
    try:
        return int(fs.read_text(fs.join(meta_dir, "_current")).strip())
    except (FileNotFoundError, ValueError):
        return -1


def load_manifest(fs, meta_dir: str, version: int,
                  cacheable: bool | None = None) -> Snapshot:
    """Load one manifest version from ``meta_dir`` (root + segments).
    ``cacheable=None`` (default) derives it from the namespace's
    ``_current`` — reserved manifests above it may be reclaimed and
    re-reserved with different content, so they are never cached."""
    if cacheable is None:
        cacheable = version <= _meta_current(fs, meta_dir)
    return _snapshot_from_doc(
        fs, meta_dir, _load_root_doc(fs, meta_dir, version, cacheable=cacheable)
    )


def _segment_payloads(snap: Snapshot) -> dict[str, dict]:
    """Split a snapshot's bulk into per-bucket segment payloads. ``None``
    marks "this bucket has no entry in that map" so reassembly is exact
    (an empty dir list is a real state on MoR tables). Stats/renames for
    dirs no bucket owns (snapshots written outside ``_finalize_snapshot``,
    e.g. clone manifests before their first commit) land in a catch-all
    ``"_"`` group rather than being dropped."""
    out: dict[str, dict] = {}
    owned_all: set[str] = set()
    for b in set(snap.buckets) | set(snap.deletes):
        dirs = snap.buckets.get(b)
        dels = snap.deletes.get(b)
        owned = list(dirs or []) + [e["dir"] for e in (dels or [])]
        owned_all.update(owned)
        out[b] = {
            "dirs": dirs,
            "deletes": dels,
            "stats": {d: snap.stats[d] for d in owned if d in snap.stats},
            "renames": {d: snap.renames[d] for d in owned if d in snap.renames},
        }
    left_stats = {d: v for d, v in snap.stats.items() if d not in owned_all}
    left_ren = {d: v for d, v in snap.renames.items() if d not in owned_all}
    if left_stats or left_ren:
        out["_"] = {"dirs": None, "deletes": None,
                    "stats": left_stats, "renames": left_ren}
    return out


def manifest_text_for(fs, meta_dir: str, snap: Snapshot,
                      parent: Snapshot | None = None) -> str:
    """Serialize ``snap`` for publication at ``meta_dir``: write the
    segment files it needs (only buckets whose payload differs from
    ``parent``'s — unchanged buckets re-link the parent's segment with
    zero serialization) and return the ROOT manifest text the caller
    ``write_exclusive``s as the commit arbiter. Shared by the direct
    commit path and the multi-table transaction reserve step. Segments
    written for a commit that then loses its race are reclaimed by the
    ``expire_snapshots`` segment sweep."""
    if snap.properties.get("commit.manifest-format", "segmented") == "inline":
        return snap.to_json()
    seg_root = fs.join(meta_dir, SEGMENTS_DIRNAME)
    fs.makedirs(seg_root)
    cache = _meta_cache(fs)
    parent_refs = getattr(parent, "_segment_refs", None) or {}
    refs: dict[str, str] = {}
    for b, pay in _segment_payloads(snap).items():
        pref = parent_refs.get(b)
        if pref is not None:
            try:
                if _load_segment(fs, meta_dir, pref) == pay:
                    refs[b] = pref
                    continue
            except FileNotFoundError:
                pass  # parent segment swept concurrently — write fresh
        text = json.dumps(pay, sort_keys=True, separators=(",", ":"))
        fname = f"seg-{_md5_hex(text)}.json"
        path = fs.join(seg_root, fname)
        if not fs.exists(path):
            try:
                fs.write_exclusive(path, text)
            except FileExistsError:
                pass  # concurrent identical write: same content by name
        _cache_put(cache, "segments", (meta_dir, fname), pay, len(text),
                   _SEGMENT_CACHE_BYTES)
        refs[b] = fname
    root = {k: v for k, v in snap.__dict__.items()
            if k not in _BULK_FIELDS and not k.startswith("_")}
    root["format"] = MANIFEST_FORMAT
    root["segments"] = refs
    snap._segment_refs = refs  # committed snap is the next commit's parent
    return json.dumps(root, indent=1, sort_keys=True)


class LakeTable:
    """One versioned table rooted at ``location``."""

    def __init__(self, spark: SparkSession, location: str, fs=None):
        self.spark = spark
        self.fs = fs or DEFAULT_FS
        self.location = location.rstrip("/")
        self.meta_dir = self.fs.join(self.location, "metadata")
        self.data_dir = self.fs.join(self.location, "data")
        # rel_dir -> {col: [min, max]} harvested by _write_bucketed,
        # attached to the snapshot by _commit
        self._pending_stats: dict[str, dict[str, list]] = {}
        # properties of an in-flight create_or_replace, visible to the
        # write path before the snapshot that carries them exists
        self._pending_props: dict[str, str] | None = None
        # commit dir -> creation time, for the publish-side GC-grace
        # gate in _commit (keys are uuid-unique, so concurrent writers
        # sharing an instance can't collide)
        self._commit_dir_birth: dict[str, float] = {}

    # ------------------------------------------------------------------ meta
    def exists(self) -> bool:
        return self.fs.exists(self.fs.join(self.meta_dir, "_current"))

    def current_version(self) -> int:
        return int(self.fs.read_text(self.fs.join(self.meta_dir, "_current")).strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            v = cur = self.current_version()
        else:
            v = version
            try:
                cur = self.current_version()
            except FileNotFoundError:
                cur = -1
        try:
            # published manifests (v ≤ _current) are immutable → cacheable;
            # reserved manifests above _current can be reclaimed/rewritten
            doc = _load_root_doc(self.fs, self.meta_dir, v, cacheable=(v <= cur))
        except FileNotFoundError:
            raise ValueError(
                f"{self.location}: no snapshot v{v} "
                f"(current version is {self.current_version()})"
            ) from None
        return _snapshot_from_doc(self.fs, self.meta_dir, doc)

    def version_as_of(self, timestamp: str) -> int:
        """Latest committed version at or before an ISO-8601 UTC
        ``timestamp`` (Iceberg ``TIMESTAMP AS OF`` travel; the version
        form is ``VERSION AS OF``). Raises if the table didn't exist
        yet. Both sides are parsed to aware datetimes — raw string
        comparison would misorder mixed ISO spellings ('Z' suffix vs
        '+00:00', with/without microseconds).

        Fast path: the current snapshot's ``history`` (the Iceberg
        snapshot-log analogue) answers in ONE root read when it reaches
        back to or past the cutoff — O(1) instead of parsing every
        manifest ever written. Falls back to the directory scan when
        the cutoff predates the oldest history entry (pre-history
        ancestors, legacy manifests) or the chosen manifest was expired
        (the scan only ever sees manifests that still exist)."""
        cutoff = _parse_iso_utc(timestamp)
        cur = self.current_version()
        hist = _load_root_doc(self.fs, self.meta_dir, cur).get("history") or []
        if hist and _parse_iso_utc(hist[0][1]) <= cutoff:
            best = max(
                (int(v) for v, ts in hist if _parse_iso_utc(ts) <= cutoff),
                default=None,
            )
            if best is not None and self.fs.exists(
                self.fs.join(self.meta_dir, f"v{best}.json")
            ):
                return best
        best = None
        for name in self.fs.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                v = int(name[1:-5])
                doc = _load_root_doc(self.fs, self.meta_dir, v, cacheable=(v <= cur))
                if _parse_iso_utc(doc["timestamp"]) <= cutoff and (
                    best is None or v > best
                ):
                    best = v
        if best is None:
            raise ValueError(f"no snapshot of {self.location} at or before {timestamp}")
        return best

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.snapshot().schema_json))

    def _masked_buckets(
        self, snap: Snapshot
    ) -> tuple[set[str], dict[str, list[str]]]:
        """Era-COVERED live dirs and the bucket map restricted to them —
        the shared core of every hybrid metadata aggregate (row_count /
        column_bounds / null_count): covered dirs take the real masked
        read, everything else stays manifest math."""
        covered: set[str] = set()
        if snap.deletes:
            live_set = set(snap.all_dirs())
            for entries in snap.deletes.values():
                for e in entries:
                    covered.update(set(e["covers"]) & live_set)
        if not covered:
            return covered, {}
        masked = {
            b: [d for d in ds if d in covered]
            for b, ds in snap.buckets.items()
        }
        return covered, {b: ds for b, ds in masked.items() if ds}

    def _gc_grace(self) -> float:
        """The in-flight-writer grace BOTH sides of the GC contract use
        (orphan GC keeps younger dirs; publish refuses older ones).
        Table property ``commit.gc-grace-seconds`` overrides the 1h
        default — a deployment whose bulk writes legitimately run
        longer than an hour raises it (toward Iceberg's 3-day
        ``older_than``) on the TABLE, so writers and GC can never
        disagree about the bound."""
        try:
            declared = float(
                self._write_props().get("commit.gc-grace-seconds", 0)
            )
            if declared > 0:
                return declared
        except (ValueError, TypeError):
            pass  # malformed property -> default
        return GC_GRACE_S

    def _write_manifest(self, snap: Snapshot, parent: Snapshot | None = None) -> None:
        """Exclusive-create the manifest, then flip ``_current`` atomically.
        ``write_exclusive`` raising on an existing path is the commit
        race arbiter (S3 adapter: conditional PUT). ``parent`` enables
        segment reuse: only buckets whose payload changed are written
        (see the segmented-manifest notes above :data:`MANIFEST_FORMAT`).

        The reservation is re-verified immediately before the flip: a
        process stalled past the reserved-manifest GC age gate
        (``txn.reclaim_reserved_manifests`` ``older_than_s``, which is
        therefore a hard upper bound on any commit's reserve-to-publish
        duration) may find its ``v{N}.json`` reclaimed, and flipping
        ``_current`` to a deleted manifest would leave the table
        unreadable at its current version. A reclaimed reservation
        surfaces as ``FileExistsError`` so ``_commit`` rebuilds and
        retries like any lost race."""
        self.fs.makedirs(self.meta_dir)
        mpath = self.fs.join(self.meta_dir, f"v{snap.version}.json")
        self.fs.write_exclusive(
            mpath, manifest_text_for(self.fs, self.meta_dir, snap, parent)
        )
        if not self.fs.exists(mpath):
            raise FileExistsError(
                f"reserved manifest {mpath} was reclaimed before publish "
                "(commit exceeded the reserved-manifest GC age gate)"
            )
        self.fs.replace_atomic(self.fs.join(self.meta_dir, "_current"), str(snap.version))

    def _finalize_snapshot(self, snap: Snapshot, parent: Snapshot | None) -> Snapshot:
        """Post-build snapshot fixup shared by direct commits and staged
        transactional commits (``txn.CatalogTransaction``): attach
        per-dir column stats and prune rename mappings. Leaves
        ``_pending_stats`` in place — the caller clears it only once a
        manifest actually publishes."""
        # carry forward / attach per-dir column stats for the dirs
        # that survive into this snapshot (data-skipping manifests)
        inherited = dict(parent.stats) if parent else {}
        inherited.update(self._pending_stats)
        # delete dirs keep their stats too: the MoR read path's
        # broadcast gate answers from the manifest (#bytes) instead of
        # listing delete dirs on every query
        snap.stats = {
            d: inherited[d]
            for d in snap.all_dirs() + snap.all_delete_dirs()
            if d in inherited
        }
        # prune rename mappings to live dirs. Builders carry the
        # parent's mappings forward explicitly (like ``deletes``) —
        # merging here would resurrect entries a rename-back DDL
        # deliberately deleted. Dirs (re)written this commit use
        # current logical names, so they simply have no entry.
        live = set(snap.all_dirs()) | set(snap.all_delete_dirs())
        snap.renames = {
            d: dict(m) for d, m in snap.renames.items() if d in live and m
        }
        # carry NDV sidecar pointers forward (an analyze commit sets its
        # own entry; every other commit inherits the parent's). Entries
        # for columns no longer in the schema are dropped — a rename or
        # drop DDL invalidates the pointer (the sketches were keyed to
        # the old logical name; re-analyze after a rename). Dir-level
        # staleness is NOT checked here: it is recomputed at read time
        # against the live dir set, so a compaction that rewrites dirs
        # simply makes those sketch rows unreachable.
        cols = set(
            T.StructType.fromJson(json.loads(snap.schema_json)).fieldNames()
        )
        parent_ndv = parent.ndv if parent else {}
        snap.ndv = {
            c: p for c, p in {**parent_ndv, **snap.ndv}.items() if c in cols
        }
        # append self to the ancestor commit log (see Snapshot.history).
        # A legacy parent without the field seeds it with the parent
        # itself — version_as_of falls back to the scan for anything
        # older. Capped so the root stays small at any commit count
        # (entries for since-expired versions age out with the cap).
        if parent is None:
            hist = []
        elif parent.history:
            hist = list(parent.history)
        else:
            hist = [[parent.version, parent.timestamp]]
        try:
            cap = int(snap.properties.get(
                "commit.history-max-entries", HISTORY_MAX_ENTRIES))
        except (TypeError, ValueError):
            cap = HISTORY_MAX_ENTRIES
        snap.history = (hist + [[snap.version, snap.timestamp]])[-max(cap, 1):]
        return snap

    def _commit(
        self, build_snapshot, operation: str,
        txn_app: str | None = None, txn_version: int | None = None,
    ) -> Snapshot:
        """Optimistic-retry commit: ``build_snapshot(parent) -> Snapshot``.
        ``txn_app``/``txn_version`` make the write idempotent (exactly-
        once under foreachBatch replay) — see :func:`_txn_wrap`."""
        build_snapshot = _txn_wrap(build_snapshot, txn_app, txn_version)
        for attempt in range(COMMIT_RETRIES + 1):
            parent = self.snapshot() if self.exists() else None
            try:
                snap = self._finalize_snapshot(build_snapshot(parent), parent)
            except _AlreadyApplied as done:
                return done.snap
            # Publish-side GC-grace gate: a commit whose freshly-written
            # data dirs have aged past GC_GRACE_S must NOT publish — a
            # concurrent remove_orphan_files (default grace) may have
            # reclaimed them, and flipping _current to a manifest over
            # deleted data bricks the table. This is the plain-commit
            # analogue of the reserved-manifest reclaim re-check in
            # _write_manifest (which only bounds STAGED/txn commits:
            # plain writes reserve their manifest at the END). Dirs with
            # no recorded birth (rollback targets, staged publishes,
            # another process's dirs) pass — they are referenced by
            # older manifests or staged docs and were never GC-eligible.
            parent_dirs = (
                set(parent.all_dirs()) | set(parent.all_delete_dirs())
                if parent else set()
            )
            fresh_dirs = {
                _commit_dir_of(d)
                for d in (set(snap.all_dirs()) | set(snap.all_delete_dirs()))
                - parent_dirs
                if not d.startswith("/")
            }
            now = time.time()
            grace = self._gc_grace()
            aged = sorted(
                c for c in fresh_dirs
                if now - self._commit_dir_birth.get(c, now) > grace
            )
            if aged:
                raise CommitConflict(
                    f"{operation} on {self.location}: data write exceeded the "
                    f"{grace:.0f}s in-flight GC grace (dirs {aged}); a "
                    "concurrent remove_orphan_files may have reclaimed the "
                    "files — re-run, or raise the table's "
                    "commit.gc-grace-seconds property for long writes"
                )
            try:
                self._write_manifest(snap, parent)
                self._pending_stats = {}
                for c in fresh_dirs:
                    self._commit_dir_birth.pop(c, None)
                return snap
            except FileExistsError:
                if attempt == COMMIT_RETRIES:
                    raise CommitConflict(
                        f"{operation} on {self.location}: lost {COMMIT_RETRIES} commit races"
                    )
                time.sleep(COMMIT_RETRY_WAIT_S)

    def _txn_applied(self, txn_app: str | None, txn_version: int | None):
        """Fast path for idempotent writes: the snapshot proving the
        (app, version) write already landed, else None. Checking BEFORE
        the data write avoids re-writing files a replayed micro-batch
        would only orphan; the authoritative race-window check is the
        in-builder one (:func:`_txn_wrap`)."""
        if txn_app is None:
            return None
        if txn_version is None:
            raise ValueError("txn_app requires txn_version")
        if self.exists():
            snap = self.snapshot()
            if txn_version <= int(snap.properties.get(f"txn.{txn_app}", -1)):
                return snap
        return None

    # ------------------------------------------------------------------ io
    def _new_commit_dir(self) -> str:
        rel = f"data/c-{uuid.uuid4().hex[:12]}"
        self.fs.makedirs(self.fs.join(self.location, rel))
        self._commit_dir_birth[rel] = time.time()
        return rel

    def _write_props(self) -> dict[str, str]:
        """The properties a write follows: those an in-flight RTAS is
        declaring, else the current snapshot's (none before the first
        commit)."""
        if self._pending_props is not None:
            return self._pending_props
        return self.snapshot().properties if self.exists() else {}

    def _cores(self) -> int | None:
        """The session's default parallelism, or None under Spark Connect
        (no SparkContext handle); each caller picks its own fallback."""
        try:
            return self.spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: no SparkContext handle
            return None

    def _write_parallelism(
        self, size: int | None, n_buckets: int, target: int
    ) -> int:
        """Sub-splits per bucket, sized by DATA VOLUME: enough splits that
        each write task, hence each output file, carries ~``target``
        bytes, capped at ``MAX_WRITE_SPLITS``. ``size`` is the input's
        ENCODED bytes — Catalyst's estimate (:func:`plan_size_bytes`),
        which for a parquet scan is the on-disk size — so a bucket whose
        input is under the target is never split: a small CDC merge, or
        a highly compressible one, stays one task per bucket
        (sub-splitting it would only fragment files below the target and
        widen the shuffle); a full-table RTAS fans out to
        ``n_buckets × splits`` tasks. Falls back to core-count/buckets
        when Catalyst can't size the plan.

        ``target`` is :func:`target_write_bytes` of the table's
        properties: ``write.target-file-size-bytes`` (Iceberg's output-
        file-bytes property of the same name) when declared, else
        ``TARGET_WRITE_BYTES``. A scan-heavy analytics table wants
        fewer, larger files than a lookup-heavy CDC target, and that
        choice belongs to the TABLE, not the writing code path."""
        if size is None:
            cores = self._cores() or 1
            return max(1, min(MAX_WRITE_SPLITS, -(-cores // max(1, n_buckets))))
        per_bucket = size // max(1, n_buckets)
        return max(1, min(MAX_WRITE_SPLITS, -(-per_bucket // target)))

    def _write_bucketed(
        self,
        df: DataFrame,
        keys: list[str] | None,
        n_buckets: int,
        sort_by: list[str] | None = None,
        drop_after_sort: list[str] | None = None,
        bucket_weights: dict[int, int] | None = None,
    ) -> dict[str, list[str]]:
        """Write df into per-bucket dirs under a fresh commit dir.

        Returns bucket -> [relative dir]. The bucket id is derived from the
        key hash; it lives in the directory name only (``_bucket=k``), never
        in the data files — readers don't pay for it, and rewrites re-derive
        it from the manifest. An unkeyed or one-bucket table writes one
        flat dir, reported as bucket ``"0"``.

        Every keyed write is one staging plan over a SPLIT VECTOR: bucket
        ``b`` gets ``splits[b]`` sub-splits, so a 16-bucket table still
        writes with every core (several files per bucket dir).

        - Default: every bucket gets :meth:`_write_parallelism` splits,
          sized from the input's ENCODED bytes against the table's byte
          target (:func:`target_write_bytes`, Iceberg's meaning of
          ``write.target-file-size-bytes``: Catalyst's size estimate of the
          input, the on-disk size for a parquet scan). Input under the
          target is never split.
        - ``bucket_weights`` (bucket id -> manifest #bytes of that
          bucket's input): a bucket heavier than the median gets
          ceil(weight/median) splits, so every task carries ~one median
          bucket of bytes, and buckets without a weight get none. A
          rewrite of a skewed SUBSET of buckets (the merge-on-read fold)
          otherwise runs one task per bucket with task weight = bucket
          content — the measured 3.5-3.7x max/median skew. The task
          count still follows the rule below: a 4x-cores first cut
          measured 2x slower on a 1024-bucket fold from task-launch
          overhead alone.

        The task count is ``min(Σ splits, max(cores, ⌈bytes/target⌉))``
        under the same target, so a table that declares a small target
        gets its ``Σ splits`` files even past the core count, while a
        small delta into many buckets (150 CDC keys into 1024 buckets)
        shuffles into ~cores tasks, not near-empty ones: the
        bucket-partitioned writer lets one task emit many bucket dirs.

        Rows reach tasks by ONE exchange. With ``sort_by``, when the write
        splits or is capped, it is a RANGE split on (``_bucket``, sort
        keys), so each task holds a contiguous slice and files keep
        pairwise-disjoint extents per bucket (a hash split would scatter
        adjacent sort keys across files and void row-group pruning).
        Otherwise each row's dense (bucket, split) combo (:func:`_split_combo`)
        is placed on task ``combo % tasks`` exactly, so residual spread is
        intra-bucket only.

        ``sort_by`` then clusters rows within each task's slice
        (``sortWithinPartitions``) so parquet row groups get tight,
        mostly-disjoint min/max ranges — the scan-side payoff is row-group
        pruning for pushed-down range predicates. ``drop_after_sort``
        removes synthetic sort keys (e.g. a z-value) after ordering, before
        the write — a projection after sort keeps row order.

        The write itself is :meth:`_write_dirs`, the one tail of every
        bucket-dir write, so the table's ``write.parquet.*`` options apply
        to all of them.
        """
        props = self._write_props()
        bucketed = bool(keys) and n_buckets > 1
        if bucketed:
            target = target_write_bytes(props)
            if bucket_weights:
                med = max(1, int(median(bucket_weights.values())))
                splits = [
                    max(1, min(MAX_WRITE_SPLITS, -(-bucket_weights[b] // med)))
                    if b in bucket_weights else 0
                    for b in range(n_buckets)
                ]
                size = sum(bucket_weights.values())
            else:
                size = plan_size_bytes(df)
                splits = [self._write_parallelism(size, n_buckets, target)] * n_buckets
            want = sum(splits) or 1
            cores = self._cores() or want
            need = cores if size is None else max(cores, -(-size // target))
            nparts = max(1, min(want, need))
            df = df.withColumn("_bucket", bucket_expr(keys, n_buckets))
            if sort_by and (max(splits) > 1 or nparts < want):
                df = df.repartitionByRange(nparts, "_bucket", *sort_by)
            else:
                df = df.withColumn(
                    "_pt", _exact_partition_col(_split_combo(keys, splits), nparts)
                ).repartition(nparts, "_pt").drop("_pt")
        if sort_by:
            df = df.sortWithinPartitions(*(["_bucket"] if bucketed else []), *sort_by)
        if drop_after_sort:
            df = df.drop(*drop_after_sort)
        return self._write_dirs(df, bucketed, props)

    def _write_dirs(
        self, df: DataFrame, bucketed: bool = True,
        props: dict[str, str] | None = None,
    ) -> dict[str, list[str]]:
        """The one tail of every Spark data-dir write: a fresh commit dir, the
        table's ``write.parquet.*`` options (:meth:`_writer_options`), a
        parquet write partitioned by the ``_bucket`` column (or, not
        ``bucketed``, one flat dir reported as bucket ``"0"``), then the
        new dirs' footer stats. Returns bucket -> [relative dir]."""
        rel = self._new_commit_dir()
        abs_dir = self.fs.join(self.location, rel)
        writer = df.write.mode("overwrite").options(**self._writer_options(props))
        if bucketed:
            writer.partitionBy("_bucket").parquet(abs_dir)
            out = {
                e.split("=", 1)[1]: [f"{rel}/{e}"]
                for e in sorted(self.fs.listdir(abs_dir))
                if e.startswith("_bucket=")
            }
        else:
            writer.parquet(abs_dir)
            out = {"0": [rel]}
        self._harvest_stats([d for dirs in out.values() for d in dirs])
        return out

    def _writer_options(
        self, props: dict[str, str] | None = None
    ) -> dict[str, str]:
        """Parquet writer options derived from table properties (the
        Iceberg ``write.parquet.*`` property family), applied to every
        data write — DML, compaction, staging — so layout choices follow
        the TABLE, not the code path that happened to write:

        - ``write.parquet.compression-codec``: zstd / snappy / gzip /
          lz4 / uncompressed (Spark's default stays when unset). At
          100 TB the codec choice is a double-digit-% storage and
          scan-throughput lever, so it belongs in table metadata.
        - ``write.parquet.bloom-filter-columns`` (+ ``...-ndv``): bloom
          filters give point lookups row-group skipping on
          HIGH-CARDINALITY columns where min/max footer stats can't
          discriminate (a surrogate key spread uniformly across the
          table makes every row group's range overlap every probe).
          Opt-in because they cost write time + file bytes; the ndv
          property sizes the filter per row group (default 100k
          ≈ 120 KB at 1% fpp).

        ``props`` defaults to :meth:`_write_props`; a caller that already
        holds them passes them in."""
        if props is None:
            props = self._write_props()
        opts: dict[str, str] = {}
        codec = props.get("write.parquet.compression-codec", "").strip()
        if codec:
            opts["compression"] = codec
        raw = props.get("write.parquet.bloom-filter-columns", "")
        cols = [c.strip() for c in raw.split(",") if c.strip()]
        ndv = props.get("write.parquet.bloom-filter-ndv", "100000")
        for c in cols:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = ndv
        return opts

    def _harvest_stats(self, rel_dirs: list[str]) -> None:
        """Per-column min/max for each data dir, from parquet FOOTERS only
        (the Iceberg manifest-stats analogue). Above the per-FS driver
        cap (``LOCAL_DRIVER_STATS_MAX_FILES`` locally,
        ``DRIVER_STATS_MAX_FILES`` on object stores — footer round-trip
        latency differs ~1000×), footer parsing runs as a SPARK
        JOB — one task per slice of files — so commit metadata cost
        scales with the cluster, not the driver (the round-1 design had a
        driver-side pyarrow loop unconditionally: a bottleneck and an
        object-store correctness hazard at 100 TB). Small commits (a
        CDC merge touching a few buckets) stay driver-side where a Spark
        job's fixed latency would dominate reading a handful of footers.
        The driver only lists file names (which it already holds from
        the write) and merges per-file results — O(files) names, not
        O(files) footer reads. Only JSON-portable scalar types are kept;
        any error degrades to no-stats (= no skipping), never a failed
        commit."""
        try:
            files: list[tuple[str, str]] = []
            for rel_dir in rel_dirs:
                abs_dir = self.fs.join(self.location, rel_dir)
                for fname in self.fs.listdir(abs_dir):
                    if fname.endswith(".parquet"):
                        files.append((rel_dir, self.fs.join(abs_dir, fname)))
            if not files:
                return
            cap = (
                LOCAL_DRIVER_STATS_MAX_FILES
                if getattr(self.fs, "is_local", False)
                else DRIVER_STATS_MAX_FILES
            )
            if len(files) <= cap:
                file_stats = [r for pair in files for r in _footer_stats_one(*pair)]
            else:
                file_stats = _footer_stats_job(self.spark, files)
            nfiles: dict[str, int] = {}
            for rel_dir, _ in files:
                nfiles[rel_dir] = nfiles.get(rel_dir, 0) + 1
            contrib: dict[tuple, int] = {}
            merged: dict[str, dict[str, list]] = {}
            for rel_dir, col, lo, hi in file_stats:
                contrib[(rel_dir, col)] = contrib.get((rel_dir, col), 0) + 1
                cur = merged.setdefault(rel_dir, {}).get(col)
                if col.startswith("#"):  # pseudo-stats SUM across files
                    if cur is None:
                        merged[rel_dir][col] = [lo, hi]
                    else:
                        cur[0] = cur[1] = cur[0] + lo
                    continue
                if lo is None:  # valid all-null contribution: no values
                    if cur is None:
                        merged[rel_dir][col] = [None, None]
                    continue
                if cur is None or cur[0] is None:
                    merged[rel_dir][col] = [lo, hi]
                else:
                    cur[0] = min(cur[0], lo)
                    cur[1] = max(cur[1], hi)
            # a dir-level stat is trustworthy ONLY when every file of
            # the dir contributed: a single file whose footer lacked the
            # stat could hold values/nulls/bytes outside the partial sum
            # or range — silently wrong bounds, null counts, byte gates
            for rel_dir, cols in merged.items():
                for col in list(cols):
                    if (contrib.get((rel_dir, col), 0) < nfiles.get(rel_dir, 0)
                            or cols[col][0] is None):
                        del cols[col]
            self._pending_stats.update(merged)
        except Exception:  # noqa: BLE001 — stats are best-effort
            pass

    def _read_mapped(
        self, rel_dirs: list[str], schema: T.StructType,
        renames: dict[str, dict[str, str]],
        tag_col: str | None = None,
    ) -> DataFrame:
        """Read dirs under a logical ``schema``, translating per-dir
        physical column names (schema evolution). Dirs are grouped by
        their mapping signature — a never-evolved table is one identity
        group and reads exactly as a plain ``spark.read.parquet``; after
        a rename the plan holds one scan branch per distinct historical
        naming (≤ number of rename DDLs), never one per dir. A mapped
        physical name absent from the files (the ``add_column``
        sentinel, or a column added after the dir was written) reads as
        NULL via the explicit-schema projection.

        ``tag_col`` additionally attaches each row's REL DIR (manifest
        key form: relative to the table location, or the absolute dir
        for a clone's foreign refs) derived from ``input_file_name()``
        — a per-row expression inside the scan stage, NOT one plan
        branch per dir, so per-dir aggregations (NDV sketches) stay one
        scan regardless of dir count."""
        if not rel_dirs:
            df = self.spark.createDataFrame([], schema)
            if tag_col is not None:
                df = df.withColumn(tag_col, F.lit(""))
            return df
        groups: dict[frozenset, list[str]] = {}
        for d in rel_dirs:
            rel = {k: v for k, v in renames.get(d, {}).items() if k in schema.fieldNames()}
            groups.setdefault(frozenset(rel.items()), []).append(d)
        pieces: list[DataFrame] = []
        for sig, dirs in sorted(groups.items(), key=lambda kv: kv[1]):
            m = dict(sig)
            paths = [self.fs.join(self.location, d) for d in dirs]
            if not m:
                pieces.append(self.spark.read.schema(schema).parquet(*paths))
                continue
            phys = T.StructType(
                [T.StructField(m.get(f.name, f.name), f.dataType, True, f.metadata)
                 for f in schema.fields]
            )
            pieces.append(
                self.spark.read.schema(phys).parquet(*paths).select(
                    [F.col(m.get(f.name, f.name)).alias(f.name) for f in schema.fields]
                )
            )
        if tag_col is not None:
            # file URI -> manifest dir key: strip the filename, the URI
            # scheme, then the table-location prefix (foreign absolute
            # refs keep their absolute form, matching their manifest key)
            rel = F.regexp_replace(F.input_file_name(), "/[^/]*$", "")
            rel = F.regexp_replace(rel, "^[A-Za-z][A-Za-z0-9+.-]*:(//)?", "")
            rel = F.regexp_replace(
                rel, "^" + re.escape(self.location.rstrip("/")) + "/", ""
            )
            pieces = [p.withColumn(tag_col, rel) for p in pieces]
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _read_dirs(self, rel_dirs: list[str], snap: Snapshot | None = None) -> DataFrame:
        if snap is None:
            snap = self.snapshot()
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        return self._read_mapped(rel_dirs, schema, snap.renames)

    def _read_delete_keys(self, snap: Snapshot, rel_dirs: list[str]) -> DataFrame:
        """Key tuples from merge-on-read delete files (distinct)."""
        key_schema = T.StructType(
            [f for f in T.StructType.fromJson(json.loads(snap.schema_json)).fields
             if f.name in (snap.key or [])]
        )
        return self._read_mapped(rel_dirs, key_schema, snap.renames).distinct()

    def _dirs_bytes(self, rel_dirs, stats: dict | None = None) -> int:
        """Total parquet bytes under the given dirs (relative to this
        table, or absolute for a clone's foreign refs). Answered from
        the snapshot's commit-time ``#bytes`` stat when present — pure
        manifest math, zero IO — and only dirs without the stat (pre-
        stat manifests, non-local harvest) fall back to a filesystem
        listing, mirroring how ``#rows`` keeps ``row_count`` off the
        read path."""
        total = 0
        stats = stats or {}
        for rel in rel_dirs:
            ent = stats.get(rel, {}).get(BYTES_STAT)
            if ent is not None:
                total += int(ent[0])
                continue
            d = rel if rel.startswith("/") else self.fs.join(self.location, rel)
            try:
                for f in self.fs.listdir(d):
                    if f.endswith(".parquet"):
                        total += self.fs.size(self.fs.join(d, f))
            except FileNotFoundError:
                continue
        return total

    def _read_with_deletes(self, snap: Snapshot, bucket_dirs: dict[str, list[str]]) -> DataFrame:
        """Read the given per-bucket data dirs applying any merge-on-read
        delete files. Dirs are grouped by their covering delete-COMMIT
        signature ACROSS buckets, so the plan holds one scan + anti-join
        per era segment (≤ delete commits + 1), never one per bucket — a
        1024-bucket table with one MoR delete reads as 1 anti-join, not
        1024 union branches. Cross-bucket pooling of delete keys is safe
        because delete files are bucketed by the same key hash and
        n_buckets as the data, so a key in bucket X's delete file cannot
        match a row outside bucket X; and within one commit every delete
        dir of a bucket carries identical ``covers`` (see
        ``_keyed_mor``), so the commit-level signature is exact.
        Dirs no delete covers take the plain fast path. Every piece keeps
        the table's column order (a USING anti-join alone moves the key
        columns first), whichever dirs an era covers.

        The one read exit: reads, DML and compaction plan their dirs
        with ``_split_dirs`` (metadata aggregates with
        ``_masked_buckets``) and read them here."""
        plain: list[str] = []
        groups: dict[frozenset, tuple[list[str], set[str]]] = {}
        for b, dirs in bucket_dirs.items():
            entries = snap.deletes.get(b, [])
            if not entries:
                plain.extend(dirs)
                continue
            covers = [set(e["covers"]) for e in entries]
            for d in dirs:
                idx = tuple(i for i, cov in enumerate(covers) if d in cov)
                if not idx:
                    plain.append(d)
                    continue
                # group key = the delete COMMIT dirs (the per-bucket
                # ``_bucket=k`` leaf stripped), so every bucket touched by
                # the same set of delete commits lands in ONE group — one
                # scan + one anti-join per era, not per bucket. Non-bucketed
                # dirs (n_buckets == 1 writes have no ``_bucket=`` leaf) are
                # kept whole: collapsing them would merge distinct delete
                # commits and wrongly delete rows re-inserted between them.
                # Clones' absolute foreign refs keep their table-root prefix
                # after the strip, so cross-table collisions can't happen.
                sig = frozenset(_commit_dir_of(entries[i]["dir"]) for i in idx)
                data_dirs, del_dirs = groups.setdefault(sig, ([], set()))
                data_dirs.append(d)
                del_dirs.update(entries[i]["dir"] for i in idx)
        pieces: list[DataFrame] = []
        for data_dirs, del_dirs in groups.values():
            dkeys = self._read_delete_keys(snap, sorted(del_dirs))
            # broadcast the era's delete keys only when their on-disk
            # bytes say it's safe (hot-path CDC eras are KBs–MBs); a
            # bulk MoR delete's key set can be GBs at 100 TB, where a
            # FORCED broadcast (r1-r10 behavior) would pin the driver
            # and every executor — past the gate, leave the anti-join
            # strategy to AQE, which sees the distinct's actual output
            # size at runtime
            if self._dirs_bytes(del_dirs, snap.stats) <= DELETE_BROADCAST_MAX_BYTES:
                dkeys = F.broadcast(dkeys)
            data = self._read_dirs(data_dirs, snap)
            pieces.append(
                data.join(dkeys, on=snap.key, how="left_anti").select(*data.columns)
            )
        if plain or not pieces:
            pieces.insert(0, self._read_dirs(plain, snap))
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------ reads
    def read(self, version: int | None = None, as_of: str | None = None,
             tag: str | None = None, branch: str | None = None) -> DataFrame:
        """Snapshot read; ``version=N`` is VERSION AS OF, ``as_of=iso_ts``
        is TIMESTAMP AS OF (latest snapshot committed ≤ the timestamp),
        ``tag=name`` reads the version a named ref pins. ``branch=name``
        reads from a branch instead of main and COMPOSES with the other
        selectors, which then resolve in the branch's own version chain.
        Merge-on-read delete files, if any, are applied as anti-joins."""
        if branch is not None:
            return self.branch(branch).read(version=version, as_of=as_of, tag=tag)
        if sum(x is not None for x in (version, as_of, tag)) > 1:
            raise ValueError("pass at most one of version / as_of / tag")
        if tag is not None:
            version = self._resolve_tag(tag)
        if as_of is not None:
            version = self.version_as_of(as_of)
        snap = self.snapshot(version)
        return self._read_with_deletes(snap, self._split_dirs(snap)[0])

    def _fsck_segments(self) -> list[dict]:
        """Segmented-manifest layer audit: every segment referenced by
        any retained root must exist, parse, and hash to its
        content-addressed name. Reads raw segment BYTES (bypassing the
        parsed cache — tamper/corruption detection needs the disk
        truth); each distinct segment file verifies once no matter how
        many versions reference it."""
        out: list[dict] = []
        if not self.fs.isdir(self.meta_dir):
            return out
        try:
            cur = self.current_version()
        except (FileNotFoundError, ValueError):
            return out
        checked: set[str] = set()
        for name in sorted(self.fs.listdir(self.meta_dir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            v = int(name[1:-5])
            try:
                refs = _load_root_doc(
                    self.fs, self.meta_dir, v, cacheable=(v <= cur)
                ).get("segments") or {}
            except (FileNotFoundError, ValueError):
                out.append({"version": v, "issue": "unreadable_root"})
                continue
            for bucket, fname in sorted(refs.items()):
                if fname in checked:
                    continue
                checked.add(fname)
                path = self.fs.join(self.meta_dir, SEGMENTS_DIRNAME, fname)
                try:
                    text = self.fs.read_text(path)
                except FileNotFoundError:
                    out.append({"version": v, "bucket": bucket,
                                "segment": fname, "issue": "missing_segment"})
                    continue
                if fname != f"seg-{_md5_hex(text)}.json":
                    out.append({"version": v, "bucket": bucket,
                                "segment": fname, "issue": "content_hash_mismatch"})
                    continue
                try:
                    json.loads(text)
                except ValueError:
                    out.append({"version": v, "bucket": bucket,
                                "segment": fname, "issue": "unparseable_segment"})
        return out

    def fsck(self, deep: bool = False) -> dict:
        """Manifest↔disk integrity audit (the lakehouse ``fsck``;
        Iceberg ships the same idea as metadata validation in its
        maintenance suite). Read-only — reports, never repairs:

        - ``missing_dirs`` — current-snapshot data/delete dirs (incl. a
          clone's absolute foreign refs) absent on disk: unreadable
          table, usually an external delete or a botched GC;
        - ``empty_dirs`` — referenced dirs with zero parquet files;
        - ``dangling_covers`` — MoR delete entries covering dirs no
          longer in the snapshot (the commit path prunes these; any
          survivor indicates manifest corruption);
        - ``stale_stats`` — stats keys for dirs not live (cosmetic:
          wasted manifest bytes, never wrong results);
        - ``staged_missing`` — WAP-staged docs referencing missing dirs
          (an audit-gated publish would fail);
        - ``segment_issues`` — segmented-manifest (format v2) layer
          faults across ALL retained versions: a root referencing a
          missing/unparseable segment file, or a segment whose content
          no longer hashes to its content-addressed name (bit rot or
          in-place tamper). Root-level reads only — O(retained
          manifests × segments), zero data IO;
        - with ``deep=True``: ``row_drift`` — dirs whose ``ROWS_STAT``
          disagrees with a fresh footer recount (O(files) footer reads,
          no data scan) — and ``unreadable_footers`` — files whose
          footer cannot be parsed (reported as their own issue, never
          folded into the recount where a -1 could cancel real drift) —
          and ``bytes_drift``: dirs whose on-disk parquet bytes disagree
          with the commit-time ``#bytes`` stat (truncation / in-place
          rewrite that preserved row metadata).

        ``ok`` is True when nothing but ``stale_stats`` was found.
        Branch manifests are covered by running fsck per branch (each
        branch is its own chain sharing main's data dirs)."""
        snap = self.snapshot()
        issues: dict[str, list] = {
            "missing_dirs": [], "empty_dirs": [], "dangling_covers": [],
            "stale_stats": [], "staged_missing": [],
            "segment_issues": self._fsck_segments(),
        }

        def _abs(d: str) -> str:
            return d if d.startswith("/") else self.fs.join(self.location, d)

        def _parquets(d: str) -> list[str] | None:
            try:
                return [f for f in self.fs.listdir(_abs(d))
                        if f.endswith(".parquet")]
            except FileNotFoundError:
                return None

        live = set(snap.all_dirs())
        for d in sorted(live | set(snap.all_delete_dirs())):
            files = _parquets(d)
            if files is None:
                issues["missing_dirs"].append(d)
            elif not files:
                issues["empty_dirs"].append(d)
        for b, entries in snap.deletes.items():
            for e in entries:
                gone = sorted(set(e["covers"]) - live)
                if gone:
                    issues["dangling_covers"].append(
                        {"bucket": b, "delete_dir": e["dir"], "covers": gone}
                    )
        issues["stale_stats"] = sorted(
            set(snap.stats) - live - set(snap.all_delete_dirs())
        )
        for wap_id in self.staged_ids():
            doc = self._load_staged(wap_id)
            for dirs in doc["buckets"].values():
                for d in dirs:
                    if _parquets(d) is None:
                        issues["staged_missing"].append(
                            {"wap_id": wap_id, "dir": d}
                        )
        if deep:
            drift = []
            bdrift = []
            unreadable = []
            for d in sorted(live | set(snap.all_delete_dirs())):
                ent = snap.stats.get(d, {}).get(ROWS_STAT)
                files = _parquets(d)
                if ent is None or files is None:
                    continue
                counts = {
                    f: _footer_num_rows(self.fs.join(_abs(d), f))
                    for f in files
                }
                bad = sorted(f for f, n in counts.items() if n < 0)
                if bad:
                    # an unreadable footer is its own finding — folding
                    # its -1 into the sum could cancel a genuine drift
                    # (manifest=10, files=[11, unreadable] -> 10)
                    unreadable.append({"dir": d, "files": bad})
                    continue
                actual = sum(counts.values())
                if actual != int(ent[0]):
                    drift.append({"dir": d, "manifest": int(ent[0]),
                                  "footers": actual})
                # bytes drift: a rewrite-in-place / truncation that kept
                # row metadata still changes on-disk size vs #bytes
                bent = snap.stats.get(d, {}).get(BYTES_STAT)
                if bent is not None:
                    size = sum(
                        self.fs.size(self.fs.join(_abs(d), f)) for f in files
                    )
                    if size != int(bent[0]):
                        bdrift.append({"dir": d, "manifest": int(bent[0]),
                                       "on_disk": size})
            issues["row_drift"] = drift
            issues["bytes_drift"] = bdrift
            issues["unreadable_footers"] = unreadable
        # NDV pointers whose sidecar vanished: cosmetic like
        # stale_stats — approx_ndv degrades to recompute, never to a
        # wrong answer — but a vanished sidecar usually means an
        # external delete or botched GC, so it is worth surfacing
        issues["missing_ndv_sidecars"] = sorted(
            c for c, rel in snap.ndv.items()
            if not self.fs.isdir(self.fs.join(self.location, rel))
        )
        ok = not any(
            v for k, v in issues.items()
            if k not in ("stale_stats", "missing_ndv_sidecars")
        )
        return {"ok": ok, "version": snap.version, **issues}

    def row_count(self, version: int | None = None) -> int:
        """``COUNT(*)`` without a data scan (Iceberg answers this from
        manifest record counts; at 100 TB the difference is metadata
        math vs reading the table). Resolution ladder:

        1. **Manifest**: sum the per-dir ``ROWS_STAT`` entries harvested
           from parquet footers at commit time — pure snapshot math,
           zero IO beyond the already-loaded manifest.
        2. **Footer fallback** for dirs committed before the stat
           existed (or whose harvest degraded): read ONLY those dirs'
           parquet footers — O(files) metadata round-trips, no data.
        3. **Hybrid scan under live MoR delete eras**: masked rows make
           footer counts an upper bound, but ONLY for the dirs an era
           actually ``covers`` — those take the real anti-joined read;
           every uncovered dir keeps the metadata path. Count cost is
           ∝ masked dirs, not table size (a 100 TB table with one hot
           MoR partition counts at the cost of that partition; the
           scheduled ``rewrite_position_delete_files`` fold restores
           pure metadata math).

        Exactness is a hard contract: a missing dir raises
        ``FileNotFoundError`` (``read()`` on the same snapshot would
        fail too) and an unreadable parquet footer falls back to a
        Spark count of ONLY that dir — never a silently-wrong total.
        """
        return self._exact_count(self.snapshot(version))

    def _exact_count(self, snap: Snapshot, column: str | None = None) -> int:
        """The exact-count ladder shared by ``row_count`` (``column``
        None: every row) and ``null_count`` (rows where ``column`` IS
        NULL): era-covered dirs count from their masked read; every
        other dir from its manifest stat, else from its parquet
        footers, else — a footer pyarrow cannot read — from a Spark
        count of that dir alone."""
        covered, masked_buckets = self._masked_buckets(snap)

        def spark_count(df: DataFrame) -> int:
            return (df if column is None else df.where(F.col(column).isNull())).count()

        total = spark_count(self._read_with_deletes(snap, masked_buckets)) if covered else 0
        for d in snap.all_dirs():
            if d in covered:
                continue
            # renames: a dir written under an old physical name keeps
            # its stats and footers under that name
            phys = snap.renames.get(d, {}).get(column, column)
            stat = ROWS_STAT if column is None else NULLS_STAT_PREFIX + phys
            ent = snap.stats.get(d, {}).get(stat)
            if ent is not None:
                total += int(ent[0])
                continue
            abs_dir = d if d.startswith("/") else self.fs.join(self.location, d)
            # a vanished dir is manifest<->disk corruption: listdir
            # raises, never skip (a silent continue is a wrong answer)
            counts = [
                _footer_num_rows(p) if column is None else _footer_null_count(p, phys)
                for p in (self.fs.join(abs_dir, f)
                          for f in self.fs.listdir(abs_dir) if f.endswith(".parquet"))
            ]
            if any(c is None or c < 0 for c in counts):
                # never fold the -1 / None sentinel into the total
                total += spark_count(self._read_dirs([d], snap))
            else:
                total += sum(counts)
        return total

    def column_bounds(
        self, column: str, version: int | None = None
    ) -> tuple[Any, Any] | None:
        """``MIN(col), MAX(col)`` from the per-dir footer stats — the
        companion to :meth:`row_count`, with the same hybrid resolution
        under live MoR delete eras (r12): a masked row may hold the
        extremum, so era-COVERED dirs take the real anti-joined read
        (cost ∝ masked dirs) while every uncovered dir stays pure
        manifest math — uncovered dirs keep all their rows, so their
        footer min/max are exact. Returns ``None`` when the answer
        cannot be EXACT, rather than degrading silently:

        - a dir without harvested stats for the column (bytes-typed
          min/max, pre-stat manifest, harvest degraded) leaves a gap;
        - footer min/max are value bounds, exact for the types the
          harvest keeps (it drops bytes/truncated stats already).

        Callers fall back to ``read().agg(min, max)`` on ``None`` — the
        explicit contract beats an approximate answer that is silently
        wrong at the 100 TB audit."""
        snap = self.snapshot(version)
        dirs = snap.all_dirs()
        if not dirs:
            return None
        covered, masked_buckets = self._masked_buckets(snap)
        lo = hi = None
        for d in dirs:
            if d in covered:
                continue
            # renames: a dir written under an old physical name keeps
            # stats under that name — map the logical column back
            phys = snap.renames.get(d, {}).get(column, column)
            ent = snap.stats.get(d, {}).get(phys)
            if ent is None:
                return None  # gap -> metadata path can't answer exactly
            dlo, dhi = ent[0], ent[1]
            if lo is None or dlo < lo:
                lo = dlo
            if hi is None or dhi > hi:
                hi = dhi
        if covered:
            row = (
                self._read_with_deletes(snap, masked_buckets)
                .agg(F.min(column).alias("lo"), F.max(column).alias("hi"))
                .first()
            )
            slo, shi = row["lo"], row["hi"]
            if slo is not None:
                # stats store timestamps as isoformat strings (ordering-
                # preserving); normalize the scan side the same way
                if hasattr(slo, "isoformat"):
                    slo, shi = slo.isoformat(), shi.isoformat()
                if lo is None or slo < lo:
                    lo = slo
                if hi is None or shi > hi:
                    hi = shi
        if lo is None:
            return None  # every surviving row was masked away
        return (lo, hi)

    def null_count(self, column: str, version: int | None = None) -> int:
        """Exact ``COUNT(*) WHERE col IS NULL`` without a data scan —
        the fourth metadata aggregate (Iceberg manifests carry
        ``null_value_counts`` for the same reason: null-ratio DQ audits
        at 100 TB should be manifest math, not table reads). It runs
        :meth:`row_count`'s ladder (``_exact_count``) on the per-dir
        ``#nulls:<col>`` pseudo-stats and footer null counts, under the
        dir's physical column name; a footer without a valid null count
        takes the per-dir scan — never a silently-wrong total.
        """
        snap = self.snapshot(version)
        fields = T.StructType.fromJson(json.loads(snap.schema_json)).fields
        if column not in {f.name for f in fields}:
            raise ValueError(f"no column {column!r} on {self.location}")
        return self._exact_count(snap, column)

    # ------------------------------------------------------- NDV sketches
    def _ndv_expr(self, snap: Snapshot, column: str):
        """The column expression ``hll_sketch_agg`` accepts: native for
        int/bigint/string/binary, else an injective CAST to string
        (dates, timestamps, decimals, float/double via shortest-round-
        trip formatting — distinctness is preserved, so the NDV is
        unchanged). Raises on unknown columns."""
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        by_name = {f.name: f for f in schema.fields}
        if column not in by_name:
            raise ValueError(f"no column {column!r} on {self.location}")
        if by_name[column].dataType.simpleString() in _NDV_NATIVE_TYPES:
            return F.col(column)
        return F.col(column).cast("string")

    def _read_ndv_sidecar(self, snap: Snapshot, column: str) -> DataFrame | None:
        """(dir, sketch) rows of the column's committed sidecar, or None
        when the column was never analyzed (or the sidecar vanished —
        treated as never-analyzed: sketches are a cache over immutable
        dirs, so a lost sidecar degrades to recompute, never to a wrong
        answer)."""
        rel = snap.ndv.get(column)
        if rel is None:
            return None
        path = self.fs.join(self.location, rel)
        if not self.fs.isdir(path):
            return None
        return self.spark.read.schema("dir string, sketch binary").parquet(path)

    def _ndv_fresh_sketches(
        self, snap: Snapshot, dirs: list[str], columns: list[str],
        lg_k: int,
    ) -> DataFrame:
        """One scan of ``dirs`` producing per-dir HLL sketches for every
        requested column at once: rows ``(__ndv_dir, __sk0..__skN)``
        with one binary sketch column per analyzed column, POSITIONAL
        names so a data column called ``dir`` or ``sketch`` can never
        collide (the reserved-name hazard the partial-merge and
        update_where helpers already guard against). The dir tag is a
        per-row expression inside the scan stage (``_read_mapped``
        ``tag_col``), so this is a single pass + one partial-aggregated
        groupBy regardless of dir count — never one job per dir."""
        tag = f"__ndv_dir_{uuid.uuid4().hex[:8]}"
        tagged = self._read_mapped(
            dirs,
            T.StructType.fromJson(json.loads(snap.schema_json)),
            snap.renames,
            tag_col=tag,
        )
        return tagged.groupBy(F.col(tag).alias("__ndv_dir")).agg(
            *[
                F.hll_sketch_agg(self._ndv_expr(snap, c), lg_k)
                .alias(f"__sk{i}")
                for i, c in enumerate(columns)
            ]
        )

    def analyze_ndv(
        self, columns: list[str], lg_k: int = NDV_DEFAULT_LG_K
    ) -> Snapshot:
        """Compute and commit per-dir HLL NDV sketches for ``columns``
        (Iceberg's ``compute_table_stats`` writing Puffin theta/HLL
        blobs; Spark's own ``hll_sketch_agg`` — Datasketches HLL — does
        the math). INCREMENTAL over immutable dirs: a dir's sketch
        never changes once written, so an analyze after N new commits
        scans ONLY the dirs without a cached sketch — cost ∝ data added
        since the last analyze, not table size. At 100 TB that is the
        difference between a nightly stats job that reads the day's
        ingest and one that reads the lake.

        Era-covered dirs (live merge-on-read delete masks) are SKIPPED,
        not sketched: a raw-dir sketch cannot subtract masked rows, and
        the fold rewrite renames those dirs anyway — they get sketched
        by the first analyze after the fold. ``approx_ndv`` answers
        exactly-masked in the meantime via its hybrid path.

        The sketches land in a parquet SIDECAR under ``metadata/ndv/``
        — one (dir, sketch) file per column, ~4 KB per dir at the
        default ``lg_k`` — and the manifest carries only the pointer
        (the JSON manifest must stay O(dirs), not O(dirs × sketch
        bytes)). Sidecars are versioned, never mutated in place (time
        travel keeps working), and swept by ``remove_orphan_files``
        once no remaining manifest references them. Mixed ``lg_k``
        across analyzes is fine: unions downgrade to the smaller k.
        """
        snap = self.snapshot()
        for c in columns:
            self._ndv_expr(snap, c)  # validate names/types up front
        live = snap.all_dirs()
        covered, _ = self._masked_buckets(snap)
        usable = [d for d in live if d not in covered]
        # per-column cached rows (live, unmasked dirs only) + delta set
        cached: dict[str, DataFrame | None] = {}
        deltas: dict[str, list[str]] = {}
        for c in columns:
            side = self._read_ndv_sidecar(snap, c)
            if side is None:
                cached[c] = None
                deltas[c] = list(usable)
                continue
            have = {
                r["dir"]
                for r in side.select("dir").collect()  # bounded: O(dirs)
            }
            cached[c] = side
            deltas[c] = [d for d in usable if d not in have]
        union_delta = sorted({d for ds in deltas.values() for d in ds})
        fresh = None
        if union_delta:
            fresh = self._ndv_fresh_sketches(
                snap, union_delta, columns, lg_k
            ).persist()
        new_paths: dict[str, str] = {}
        scanned = {c: len(ds) for c, ds in deltas.items()}
        try:
            for c in columns:
                pieces = []
                if cached[c] is not None:
                    keep = self.spark.createDataFrame(
                        [(d,) for d in usable], "dir string"
                    )
                    pieces.append(
                        cached[c].join(F.broadcast(keep), "dir", "left_semi")
                    )
                if fresh is not None and deltas[c]:
                    want = self.spark.createDataFrame(
                        [(d,) for d in deltas[c]], "dir string"
                    )
                    pieces.append(
                        fresh.select(
                            F.col("__ndv_dir").alias("dir"),
                            F.col(f"__sk{columns.index(c)}").alias("sketch"),
                        ).join(F.broadcast(want), "dir", "left_semi")
                    )
                if not pieces:
                    pieces.append(
                        self.spark.createDataFrame(
                            [], "dir string, sketch binary"
                        )
                    )
                out = pieces[0]
                for p in pieces[1:]:
                    out = out.unionByName(p)
                rel = self.fs.join(
                    NDV_SIDECAR_DIR,
                    f"v{snap.version + 1}-{c}-{uuid.uuid4().hex[:8]}",
                )
                out.coalesce(1).write.parquet(
                    self.fs.join(self.location, rel)
                )
                new_paths[c] = rel
        finally:
            if fresh is not None:
                fresh.unpersist()

        def mutate(s):
            s.ndv.update(new_paths)
            s.summary = {
                "analyzed_columns": sorted(new_paths),
                "scanned_dirs": scanned,
                "skipped_masked_dirs": len(covered),
            }

        return self._commit_metadata(mutate, "analyze")

    def approx_ndv(self, column: str, version: int | None = None) -> int:
        """Approximate ``COUNT(DISTINCT column)`` (non-null values, the
        SQL semantics) from the committed NDV sketches — Datasketches
        HLL, ~1.6% RSE at the default ``analyze_ndv`` lg_k. Resolution
        is hybrid, mirroring the other metadata aggregates:

        - dirs with a cached sketch: read the tiny sidecar, zero data IO;
        - dirs added since the last analyze: sketched fresh in the same
          job (one pass over ONLY those dirs — the un-analyzed delta);
        - era-covered dirs (live MoR delete masks): sketched from the
          real anti-joined read, because a raw-dir sketch cannot
          subtract masked rows — cost ∝ masked dirs, and the scheduled
          fold restores the pure-sidecar path.

        Everything assembles into ONE Spark job: union(cached sidecar
        scan, delta sketch agg, masked sketch agg) →
        ``hll_union_agg`` → ``hll_sketch_estimate``. Never collects
        sketches on the driver. A never-analyzed column degrades to a
        single full-scan sketch pass (still cheaper than an exact
        distinct: map-side partial HLL merge, no key shuffle) — run
        ``analyze_ndv`` to make repeat calls O(new data)."""
        snap = self.snapshot(version)
        self._ndv_expr(snap, column)
        live = snap.all_dirs()
        if not live:
            return 0
        covered, masked_buckets = self._masked_buckets(snap)
        usable = [d for d in live if d not in covered]
        side = self._read_ndv_sidecar(snap, column)
        pieces: list[DataFrame] = []
        delta = usable
        if side is not None:
            have = {r["dir"] for r in side.select("dir").collect()}
            hit = [d for d in usable if d in have]
            delta = [d for d in usable if d not in have]
            if hit:
                keep = self.spark.createDataFrame(
                    [(d,) for d in hit], "dir string"
                )
                pieces.append(
                    side.join(F.broadcast(keep), "dir", "left_semi")
                    .select("sketch")
                )
        if delta:
            pieces.append(
                self._ndv_fresh_sketches(
                    snap, delta, [column], NDV_DEFAULT_LG_K
                ).select(F.col("__sk0").alias("sketch"))
            )
        if covered:
            pieces.append(
                self._read_with_deletes(snap, masked_buckets).agg(
                    F.hll_sketch_agg(
                        self._ndv_expr(snap, column), NDV_DEFAULT_LG_K
                    ).alias("sketch")
                )
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        row = out.where(F.col("sketch").isNotNull()).agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch", True)
            ).alias("ndv")
        ).first()
        return int(row["ndv"]) if row["ndv"] is not None else 0

    def read_changes(
        self, from_version: int, to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Incremental changes between two snapshots (the Iceberg
        incremental-scan / Delta change-data-feed analogue; the
        reference exposes this only implicitly through Iceberg's
        ``VERSION AS OF`` diffing). Output: the table's columns plus
        ``_change_type`` ∈ {'insert', 'update_postimage', 'delete'}
        (deletes carry the pre-image row). With
        ``include_preimages=True`` every update additionally emits its
        OLD row as ``'update_preimage'`` (Delta CDF's four-type feed) —
        what a downstream incremental aggregation needs to SUBTRACT the
        update's previous contribution. Free on the diff path: the
        full-outer join already holds both sides of every update.

        Fast path: when every commit in (from, to] is an ``append``,
        the changes are exactly the rows of the NEW data dirs — read
        only those, no join. This is the streaming-ingest common case
        and costs O(new data) regardless of table size.

        General path (keyed tables): full-outer join of the two
        snapshot reads on the key, classifying rows by presence and
        full-row hash inequality — one shuffle on the key, the same
        cost shape as a MERGE at the same scale.

        Bucket pruning on the general path: data dirs are immutable, so
        when both endpoints share a bucket count, a bucket whose dir
        list AND merge-on-read delete entries are identical in both
        snapshots cannot contain a change — the diff reads ONLY the
        buckets that differ, making keyed-diff cost ∝ changed buckets,
        not table size (a compaction-only commit re-points dirs, so its
        buckets are re-read and diff to nothing — correct, just
        unpruned). A rebucket in the range changes the bucket count and
        falls back to the full two-snapshot diff.
        """
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        to_snap = self.snapshot(to_v)
        if from_version == to_v:
            return self._read_dirs([], to_snap).withColumn(
                "_change_type", F.lit("insert")
            ).limit(0)

        ops = [
            self.snapshot(v).operation for v in range(from_version + 1, to_v + 1)
        ]
        if all(op == "append" for op in ops):
            from_dirs = set(self.snapshot(from_version).all_dirs())
            new_dirs = [d for d in to_snap.all_dirs() if d not in from_dirs]
            return self._read_dirs(new_dirs, to_snap).withColumn(
                "_change_type", F.lit("insert")
            )

        key = to_snap.key
        if not key:
            raise ValueError(
                "read_changes on an unkeyed table supports only append-only "
                f"ranges; range ({from_version}, {to_v}] contains {set(ops)}"
            )
        # column list comes from the TO snapshot (not the current one —
        # DDL after to_version must not leak into the diff), and both
        # endpoint reads must agree on logical names: a rename inside
        # the range makes presence/equality on that column undefined.
        cols = [
            f.name
            for f in T.StructType.fromJson(json.loads(to_snap.schema_json)).fields
        ]
        a_snap = self.snapshot(from_version)
        if a_snap.n_buckets == to_snap.n_buckets:
            # changed-bucket pruning: immutable dirs + identical delete
            # entries ⇒ identical bucket content, skip it on both sides
            all_b = set(a_snap.buckets) | set(to_snap.buckets)
            changed = sorted(
                int(b)
                for b in all_b
                if a_snap.buckets.get(b, []) != to_snap.buckets.get(b, [])
                or a_snap.deletes.get(b, []) != to_snap.deletes.get(b, [])
            )
            a_df = self.read_buckets(changed, version=from_version)
            b_df = self.read_buckets(changed, version=to_v)
        else:
            a_df, b_df = self.read(version=from_version), self.read(version=to_v)
        if sorted(a_df.columns) != sorted(cols):
            raise ValueError(
                f"read_changes range ({from_version}, {to_v}] spans a schema "
                f"change ({sorted(a_df.columns)} vs {sorted(cols)}); diff the "
                "sub-ranges on either side of the DDL commit instead"
            )
        non_key = [c for c in cols if c not in key]
        # NULL-ness hashes as an explicit per-column flag: a bare string
        # sentinel would make a real value equal to the sentinel collide
        # with NULL and drop that update from the CDC output. Values hash
        # RAW (xxhash64 consumes native binary representations) — the
        # earlier cast-to-string built N short-lived strings per row,
        # which bench health flagged as GC pressure on the wide diff.
        row_hash = F.xxhash64(
            *[
                part
                for c in cols
                for part in (F.col(c).isNull().cast("int"), F.col(c))
            ]
        )
        a = a_df.withColumn("__h_a", row_hash)
        b = b_df.withColumn("__h_b", row_hash)
        for c in non_key:
            a = a.withColumnRenamed(c, f"__a_{c}")
            b = b.withColumnRenamed(c, f"__b_{c}")
        j = a.join(b, on=key, how="full_outer")
        change = (
            F.when(F.col("__h_a").isNull(), F.lit("insert"))
            .when(F.col("__h_b").isNull(), F.lit("delete"))
            .when(F.col("__h_a") != F.col("__h_b"), F.lit("update_postimage"))
        )
        out_cols = [F.col(k) for k in key] + [
            # deletes carry the pre-image; inserts/updates the post-image
            F.when(F.col("__h_b").isNull(), F.col(f"__a_{c}"))
            .otherwise(F.col(f"__b_{c}"))
            .alias(c)
            for c in non_key
        ]
        classified = j.withColumn("_change_type", change)
        out = classified.filter(F.col("_change_type").isNotNull()).select(
            *out_cols, "_change_type"
        )
        if include_preimages:
            pre = classified.filter(
                F.col("_change_type") == "update_postimage"
            ).select(
                *([F.col(k) for k in key]
                  + [F.col(f"__a_{c}").alias(c) for c in non_key]),
                F.lit("update_preimage").alias("_change_type"),
            )
            out = out.unionByName(pre)
        return out

    @staticmethod
    def _dir_may_match(
        dstats: dict[str, list], filters, mapping: dict[str, str] | None = None
    ) -> bool:
        # expects _norm_filters-normalized filters (callers normalize
        # ONCE per scan/update, never per dir); tolerates raw 2-tuples
        for f in filters:
            col, op, value = f if len(f) == 3 else (f[0], f[1], None)
            # footer stats are keyed by the PHYSICAL column name the dir
            # was written with; translate renamed logical names
            col = (mapping or {}).get(col, col)
            if op in ("is_null", "is_not_null"):
                # null-count skipping (#nulls harvested at commit):
                # IS NULL prunes dirs with zero nulls; IS NOT NULL
                # prunes all-null dirs (#nulls == #rows)
                ent = dstats.get(NULLS_STAT_PREFIX + col)
                if ent is None:
                    continue  # no null stat -> can't prune
                nulls = int(ent[0])
                if op == "is_null" and nulls == 0:
                    return False
                rows = dstats.get(ROWS_STAT)
                if (op == "is_not_null" and rows is not None
                        and nulls >= int(rows[0])):
                    return False
                continue
            if col not in dstats:
                continue
            lo, hi = dstats[col]
            if op == "in":
                try:
                    if not any(lo <= x <= hi for x in value):
                        return False
                except TypeError:
                    pass  # incomparable -> can't prune
                continue
            v = value
            try:
                if op in (">", ">=") and (hi < v or (op == ">" and hi <= v)):
                    return False
                if op in ("<", "<=") and (lo > v or (op == "<" and lo >= v)):
                    return False
                if op in ("=", "==") and (v < lo or v > hi):
                    return False
                # != prunes only a constant dir: every row equals v
                if op in ("!=", "<>") and lo == hi == v:
                    return False
            except TypeError:
                continue  # incomparable types → can't prune
        return True

    @classmethod
    def _dir_may_match_dnf(
        cls, dstats: dict[str, list], dnf: list[list[tuple]],
        mapping: dict[str, str] | None = None,
    ) -> bool:
        """Zone-map rule for OR: a dir can serve a disjunction iff SOME
        branch's conjunction can match its stats."""
        return any(cls._dir_may_match(dstats, br, mapping) for br in dnf)

    def candidate_dirs(self, filters, version: int | None = None) -> list[str]:
        """Data-skipping: dirs whose footer min/max could satisfy the
        ``(col, op, value)`` conjunction — or, for a list of
        conjunctions, their disjunction (see ``_norm_dnf``)."""
        snap = self.snapshot(version)
        read, _ = self._split_dirs(snap, dict.fromkeys(snap.buckets, _norm_dnf(filters)))
        return [d for ds in read.values() for d in ds]

    def scan(self, filters, version: int | None = None) -> DataFrame:
        """Filtered scan with manifest-level data skipping: directories
        whose column stats can't satisfy the predicate are never listed
        (on top of parquet's own row-group pruning). ``filters`` is a
        conjunction of ``(col, op, value)``, op ∈ {<, <=, >, >=, =},
        plus ``(col, "in", [v, ...])`` (dir kept only when some value
        falls inside its min/max range) and unary
        ``(col, "is_null")`` / ``(col, "is_not_null")``
        pruned via the commit-time ``#nulls`` stats (a dir with zero
        nulls never serves IS NULL; an all-null dir never serves
        IS NOT NULL). A LIST of such conjunctions is their
        DISJUNCTION (OR of ANDs, see ``_norm_dnf``) — a dir is read
        only when some branch can match its stats. The exact predicate
        is re-applied on the surviving data."""
        snap = self.snapshot(version)
        dnf = _norm_dnf(filters)
        read, _ = self._split_dirs(snap, dict.fromkeys(snap.buckets, dnf))
        df = self._read_with_deletes(snap, read)
        cond = _dnf_expr(dnf)
        return df.filter(cond) if cond is not None else df

    def scan_report(self, filters, version: int | None = None) -> dict:
        """EXPLAIN for manifest-level data skipping: which dirs a
        ``scan(filters)`` would read vs prune, and why pruning could
        not apply (no stats harvested, or bounds overlap). O(manifest),
        no data IO — run it before a 100 TB scan to check the predicate
        actually hits the clustered/bucketed layout (a report showing
        0 pruned on a time filter means the table needs a sort-order
        declaration + compaction, not a bigger cluster). The counts
        come from the same ``_split_dirs`` plan that ``scan`` reads."""
        snap = self.snapshot(version)
        dnf = _norm_dnf(filters)
        read, pruned = self._split_dirs(snap, dict.fromkeys(snap.buckets, dnf))
        n_read = sum(map(len, read.values()))
        n_pruned = sum(map(len, pruned.values()))

        def _keys(d: str) -> list[str]:
            # the stat a filter prunes on, under the dir's PHYSICAL
            # column names (renamed tables keep old-name stats):
            # #nulls:<col> for unary null filters, min/max otherwise
            m = snap.renames.get(d, {})
            out = []
            for f in (f for br in dnf for f in br):
                phys = m.get(f[0], f[0])
                out.append(
                    (NULLS_STAT_PREFIX + phys)
                    if f[1] in ("is_null", "is_not_null") else phys
                )
            return out

        no_stats = [
            d for ds in read.values() for d in ds
            if not any(k in snap.stats.get(d, {}) for k in _keys(d))
        ]
        return {
            "filters": (
                [list(f) for f in filters]
                if all(_is_filter_triple(f) for f in filters)
                else [[list(f) for f in br] for br in filters]
            ),
            "total_dirs": n_read + n_pruned,
            "read_dirs": n_read,
            "pruned_dirs": n_pruned,
            "kept_without_stats": len(no_stats),
            "pruned_pct": round(100.0 * n_pruned / max(1, n_read + n_pruned), 1),
        }

    def read_buckets(self, bucket_ids: list[int], version: int | None = None) -> DataFrame:
        """Bucket-pruned scan — the point-lookup / merge-target path.
        Applies each bucket's merge-on-read deletes, so DML that reads
        through here (merge/delete) always sees post-delete state."""
        snap = self.snapshot(version)
        read, _ = self._split_dirs(snap, dict.fromkeys(str(b) for b in bucket_ids))
        return self._read_with_deletes(snap, read)

    def snapshots(self) -> DataFrame:
        """Metadata table, like Iceberg's ``table.snapshots``."""
        rows = []
        cur = self.current_version()
        for name in sorted(self.fs.listdir(self.meta_dir)):
            if name.startswith("v") and name.endswith(".json"):
                v = int(name[1:-5])
                # root-only read: version/parent/timestamp/operation/
                # summary all live in the root, so segments never load
                d = _load_root_doc(self.fs, self.meta_dir, v, cacheable=(v <= cur))
                rows.append(
                    (d["version"], d["parent"], d["timestamp"], d["operation"],
                     json.dumps(d["summary"]))
                )
        return self.spark.createDataFrame(
            rows, "version INT, parent INT, committed_at STRING, operation STRING, summary STRING"
        )

    def history(self) -> DataFrame:
        return self.snapshots().select("version", "committed_at", "operation")

    def files(self, version: int | None = None) -> DataFrame:
        """Metadata table, like Iceberg's ``table.files``: one row per
        live file of the snapshot — bucket, commit dir, file name, size,
        footer row count, its role (``content``, like Iceberg's
        content field: ``'data'`` or ``'equality-deletes'``), and the
        dir's harvested column bounds (the data-skipping stats, as
        JSON). The inventory every storage audit starts from:
        small-file histograms, per-bucket volume skew, stats coverage,
        outstanding MoR delete debt.

        ``num_rows`` is the raw parquet FOOTER count — physical rows
        before any merge-on-read equality deletes are applied. For the
        logical row count read the table; for delete debt count the
        ``'equality-deletes'`` rows (on a MoR table the same physical
        file can appear under both roles: a MoR merge batch is data AND
        its key set masks older dirs).

        Cost: O(files) name listings + footer row-count reads, the same
        driver/Spark-job split as the stats harvest — above the per-FS
        cap the footer reads fan out as a Spark job, so the inventory of
        a 100 TB table costs a metadata scan, never a data scan."""
        snap = self.snapshot(version)
        # bucket, dir, file, size, content
        listed: list[tuple[int, str, str, int, str]] = []
        for b, dirs in sorted(snap.buckets.items(), key=lambda kv: int(kv[0])):
            for rel in dirs:
                abs_dir = self.fs.join(self.location, rel)
                for fname in sorted(self.fs.listdir(abs_dir)):
                    if fname.endswith(".parquet"):
                        p = self.fs.join(abs_dir, fname)
                        listed.append((int(b), rel, fname, self.fs.size(p), "data"))
        for b, entries in sorted(snap.deletes.items(), key=lambda kv: int(kv[0])):
            for entry in entries:
                rel = entry["dir"]
                abs_dir = self.fs.join(self.location, rel)
                for fname in sorted(self.fs.listdir(abs_dir)):
                    if fname.endswith(".parquet"):
                        p = self.fs.join(abs_dir, fname)
                        listed.append(
                            (int(b), rel, fname, self.fs.size(p), "equality-deletes")
                        )
        cap = (
            LOCAL_DRIVER_STATS_MAX_FILES
            if getattr(self.fs, "is_local", False)
            else DRIVER_STATS_MAX_FILES
        )
        paths = [self.fs.join(self.location, rel, f) for _, rel, f, _, _ in listed]
        if len(paths) <= cap:
            counts = [_footer_num_rows(p) for p in paths]
        else:
            pairs = self.spark.sparkContext.parallelize(
                paths, max(1, len(paths) // 64)
            ).map(_footer_num_rows).collect()
            counts = list(pairs)
        rows = [
            (
                b, rel, f, size, n, content,
                json.dumps(snap.stats.get(rel))
                if content == "data" and snap.stats.get(rel)
                else None,
            )
            for (b, rel, f, size, content), n in zip(listed, counts)
        ]
        return self.spark.createDataFrame(
            rows,
            "bucket INT, dir STRING, file STRING, size_bytes BIGINT, "
            "num_rows BIGINT, content STRING, dir_stats STRING",
        )

    # ------------------------------------------------------------------ refs
    def _refs_path(self) -> str:
        return self.fs.join(self.meta_dir, "refs.json")

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tag analogue): name -> pinned
        version. Tagged versions are retained by ``expire_snapshots``
        (and therefore by ``remove_orphan_files``) until the tag is
        dropped — Iceberg's ref-aware snapshot retention."""
        try:
            return json.loads(self.fs.read_text(self._refs_path()))
        except FileNotFoundError:
            return {}

    def create_tag(self, name: str, version: int | None = None,
                   replace: bool = False) -> int:
        """Pin ``name`` to a snapshot version (current when omitted).
        Refs are control-plane metadata updated with a read-modify-write
        ``replace_atomic`` — like Iceberg's refs, tag DDL is expected to
        come from one administrative writer, not the data plane."""
        v = self.current_version() if version is None else version
        self.snapshot(v)  # raises if the version doesn't exist / expired
        refs = self.refs()
        if name in refs and not replace:
            raise ValueError(f"tag {name!r} already exists (-> v{refs[name]}); "
                             f"pass replace=True to move it")
        refs[name] = v
        self.fs.replace_atomic(self._refs_path(), json.dumps(refs, sort_keys=True))
        return v

    def drop_tag(self, name: str) -> None:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"no tag {name!r} on {self.location}")
        del refs[name]
        self.fs.replace_atomic(self._refs_path(), json.dumps(refs, sort_keys=True))

    def _resolve_tag(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"no tag {name!r} on {self.location} "
                             f"(tags: {sorted(refs)})")
        return refs[name]

    def rollback_to(self, version: int) -> Snapshot:
        """Roll the table back to an earlier snapshot's state (Iceberg
        ``rollback_to_snapshot``). Commits a NEW version whose content is
        a metadata-level copy of the target — zero data movement, history
        preserved, time travel to the in-between versions still works.
        Rollback declares the whole table state, so unlike DML it does
        not rebase over concurrent commits — last rollback wins."""
        target = self.snapshot(version)
        # re-attach the target's data-skipping stats: its dirs may have
        # left the CURRENT snapshot, so stats inheritance alone (which
        # carries parent stats) would drop them
        self._pending_stats.update(target.stats)

        def build(parent):
            return _successor(parent, "rollback", summary={"rolled_back_to": version},
                              **_content_of(target))

        return self._commit(build, "rollback")

    # --------------------------------------------------- write-audit-publish
    def _staged_dir(self) -> str:
        return self.fs.join(self.meta_dir, "staged")

    def _staged_path(self, wap_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", wap_id):
            raise ValueError(f"wap_id must be [A-Za-z0-9._-]+, got {wap_id!r}")
        return self.fs.join(self._staged_dir(), f"{wap_id}.json")

    def stage_append(self, df: DataFrame, wap_id: str) -> dict:
        """Write-audit-publish, stage step (Iceberg's ``wap.id`` staged
        commit): write the data files NOW under a staged ref that is
        invisible to readers, audit via ``read_staged``, then
        ``publish_staged`` (metadata-only, zero data movement) or
        ``abort_staged``. The heavy lifting — shuffle, bucketed write,
        footer-stats harvest — happens at stage time, so the publish gate
        adds no write amplification however large the batch."""
        path = self._staged_path(wap_id)
        cur = self.snapshot()
        new = self._write_bucketed(self._align(df), cur.key, cur.n_buckets)
        new_dirs = [d for dirs in new.values() for d in dirs]
        stats = {d: self._pending_stats.pop(d) for d in new_dirs
                 if d in self._pending_stats}
        doc = {
            "wap_id": wap_id,
            "base_version": cur.version,
            "schema_json": cur.schema_json,
            "key": cur.key,
            "n_buckets": cur.n_buckets,
            "timestamp": _utcnow(),
            "buckets": new,
            "stats": stats,
        }
        # same publish-side grace gate as _commit: a staged dir only
        # becomes GC-protected once this doc lands — a data write that
        # outlived the grace may already have been reclaimed
        now = time.time()
        grace = self._gc_grace()
        aged = sorted(
            c for c in {_commit_dir_of(d) for d in new_dirs}
            if now - self._commit_dir_birth.get(c, now) > grace
        )
        if aged:
            raise CommitConflict(
                f"stage_append on {self.location}: staged data write "
                f"exceeded the {grace:.0f}s in-flight GC grace "
                f"(dirs {aged}) — re-run the stage, or raise the table's "
                "commit.gc-grace-seconds property for long writes"
            )
        self.fs.makedirs(self._staged_dir())
        self.fs.write_exclusive(path, json.dumps(doc, indent=1, sort_keys=True))
        # the staged doc now GC-protects these dirs (remove_orphan_files
        # walks staged refs), so they leave the birth registry — a
        # publish_staged hours later must NOT trip the plain-commit age
        # gate: WAP's whole point is stage now, audit, publish later
        for d in new_dirs:
            self._commit_dir_birth.pop(_commit_dir_of(d), None)
        return doc

    def staged_ids(self) -> list[str]:
        d = self._staged_dir()
        if not self.fs.isdir(d):
            return []
        return sorted(n[:-5] for n in self.fs.listdir(d) if n.endswith(".json"))

    def _load_staged(self, wap_id: str) -> dict:
        try:
            return json.loads(self.fs.read_text(self._staged_path(wap_id)))
        except FileNotFoundError:
            raise ValueError(
                f"no staged write {wap_id!r} on {self.location} "
                f"(staged: {self.staged_ids()})"
            ) from None

    def _check_staged_layout(self, doc: dict, snap: Snapshot) -> None:
        if (snap.schema_json != doc["schema_json"] or snap.key != doc["key"]
                or snap.n_buckets != doc["n_buckets"]):
            raise CommitConflict(
                f"staged write {doc['wap_id']!r} was staged against v"
                f"{doc['base_version']} and the table's schema or bucket "
                f"layout changed since — abort and re-stage"
            )

    def read_staged(self, wap_id: str) -> DataFrame:
        """Audit view: the current table plus the staged (unpublished)
        rows — what the table WILL be after ``publish_staged``."""
        doc = self._load_staged(wap_id)
        snap = self.snapshot()
        self._check_staged_layout(doc, snap)
        staged_dirs = [d for dirs in doc["buckets"].values() for d in dirs]
        return self.read().unionByName(self._read_dirs(staged_dirs, snap))

    def publish_staged(self, wap_id: str) -> Snapshot:
        """Publish a staged append: merge its (already-written) dirs into
        the current snapshot — a metadata-only commit that rebases over
        concurrent appends like ``append`` does, but refuses (raising
        ``CommitConflict``) if the schema or bucket layout changed since
        staging, since that would invalidate the staged files' bucket
        assignment."""
        doc = self._load_staged(wap_id)
        self._pending_stats.update(doc["stats"])

        def build(parent):
            self._check_staged_layout(doc, parent)
            merged = {b: list(dirs) for b, dirs in parent.buckets.items()}
            for b, dirs in doc["buckets"].items():
                merged.setdefault(b, []).extend(dirs)
            return _successor(
                parent, "publish", buckets=merged,
                summary={"wap_id": wap_id, "base_version": doc["base_version"]},
            )

        snap = self._commit(build, "publish")
        self.fs.remove(self._staged_path(wap_id))
        return snap

    def abort_staged(self, wap_id: str) -> None:
        """Drop a staged write: its data dirs and the staged ref."""
        doc = self._load_staged(wap_id)
        commits = {d.split("/")[1] for dirs in doc["buckets"].values() for d in dirs}
        for c in sorted(commits):
            p = self.fs.join(self.data_dir, c)
            if self.fs.isdir(p):
                self.fs.rmtree(p)
        self.fs.remove(self._staged_path(wap_id))

    # ------------------------------------------------------------------ branches
    def _branches_dir(self) -> str:
        return self.fs.join(self.meta_dir, "branches")

    def branches(self) -> list[str]:
        """Names of the writeable branches forked off this table."""
        if not self.fs.isdir(self._branches_dir()):
            return []
        return sorted(self.fs.listdir(self._branches_dir()))

    def create_branch(self, name: str, version: int | None = None) -> "LakeBranch":
        """Fork a WRITEABLE branch (Iceberg branch ref; tags are the
        read-only counterpart). Metadata-only: the branch's v0 manifest
        points at the same data dirs as the forked snapshot — zero bytes
        move at any table size. The branch then takes the full DML/DDL
        surface (append/merge/delete/compact/schema evolution) with its
        own branch-local version chain, invisible to main readers, and
        can be promoted back with :meth:`fast_forward` or discarded with
        :meth:`drop_branch`. Data dirs are shared with main; dirs only a
        dropped branch referenced are reclaimed by the MAIN table's
        ``remove_orphan_files``."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"branch name must be [A-Za-z0-9._-]+, got {name!r}")
        v = self.current_version() if version is None else version
        base = self.snapshot(v)
        br = LakeBranch(self, name)
        if br.exists():
            raise ValueError(f"branch {name!r} already exists on {self.location}")
        br._pending_stats.update(base.stats)

        def build(parent):
            return Snapshot(version=0, parent=None, timestamp=_utcnow(),
                            operation="fork", summary={"forked_from": v},
                            **_content_of(base))

        br._commit(build, "fork")
        # fork base lives in its own file (not the v0 summary) so
        # fast_forward still has it after branch-local expire_snapshots
        self.fs.replace_atomic(
            self.fs.join(br.meta_dir, "fork.json"), json.dumps({"forked_from": v})
        )
        return br

    def branch(self, name: str) -> "LakeBranch":
        br = LakeBranch(self, name)
        if not br.exists():
            raise ValueError(f"no branch {name!r} on {self.location} "
                             f"(branches: {self.branches()})")
        return br

    def drop_branch(self, name: str) -> None:
        """Remove a branch's metadata. Its data dirs stay on disk until
        the main table's ``remove_orphan_files`` confirms nothing else
        references them — same two-phase reclaim as expire_snapshots."""
        br = LakeBranch(self, name)
        if not br.exists():
            raise ValueError(f"no branch {name!r} on {self.location}")
        self.fs.rmtree(br.meta_dir)
        # a re-created branch of the same name restarts at v0 — cached
        # manifests of the dead namespace must not shadow it
        evict_meta_cache(self.fs, br.meta_dir)

    def fast_forward(self, name: str) -> Snapshot:
        """Advance MAIN to a branch's head (Iceberg ``fast_forward``).
        Allowed only while main still sits at the branch's fork base —
        i.e. main is an ancestor of the branch, so the promotion is a
        true fast-forward, never a silent overwrite of concurrent main
        commits (those raise ``CommitConflict``; re-fork to rebase).
        Metadata-only: commits one new main snapshot that adopts the
        branch head's content — schema, buckets, deletes, renames —
        without touching a data file."""
        br = self.branch(name)
        head = br.snapshot()
        fork_base = json.loads(
            self.fs.read_text(self.fs.join(br.meta_dir, "fork.json"))
        )["forked_from"]
        self._pending_stats.update(head.stats)

        def build(parent):
            if parent.version != fork_base:
                raise CommitConflict(
                    f"fast_forward {name!r}: main is at v{parent.version}, "
                    f"branch forked from v{fork_base} — re-fork to pick up "
                    f"the intervening main commits"
                )
            return _successor(
                parent, "fast_forward",
                summary={"fast_forward_from": name, "branch_head": head.version},
                **_content_of(head),
            )

        return self._commit(build, "fast_forward")

    # ------------------------------------------------------------------ DDL/DML
    def create_or_replace(
        self,
        df: DataFrame,
        key: list[str] | None = None,
        n_buckets: int | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Atomic replace-table-as-select (the reference's RTAS writer,
        ``src/utils/iceberg.py:37-96``). Bucketed by ``key`` when given;
        the default bucket count is data-size-aware (one bucket per
        ~``TARGET_BUCKET_BYTES`` of input, power of two) so a 100 TB RTAS
        doesn't land in 16 giant buckets."""
        nb = n_buckets or (auto_bucket_count(df) if key else 1)
        self._pending_props = properties
        try:
            buckets = self._write_bucketed(df, key, nb)
        finally:
            self._pending_props = None

        def build(parent):
            return Snapshot(
                version=(parent.version + 1) if parent else 0,
                parent=parent.version if parent else None,
                timestamp=_utcnow(),
                operation="create_or_replace",
                schema_json=df.schema.json(),
                key=key,
                n_buckets=nb,
                buckets=buckets,
                properties=properties or (parent.properties if parent else {}),
                summary={},
            )

        return self._commit(build, "create_or_replace")

    def append(self, df: DataFrame, txn_app: str | None = None,
               txn_version: int | None = None) -> Snapshot:
        """Append-only commit (watermark-ledger path — conflict-free under
        concurrency because rebase just re-unions directory lists).
        ``txn_app``/``txn_version`` make the append exactly-once under
        replay (Delta txnAppId/txnVersion analogue)."""
        done = self._txn_applied(txn_app, txn_version)
        if done is not None:
            return done
        self._enforce_constraints(df, "append")
        cur = self.snapshot()
        new = self._write_bucketed(df, cur.key, cur.n_buckets)
        return self._commit_appended(new, txn_app, txn_version)

    def append_rows(self, rows: list[dict]) -> Snapshot:
        """Append a few Python rows (dicts keyed by column name; a
        missing column is NULL) without a Spark job: the driver writes
        one snappy parquet file into a fresh commit dir and commits it
        exactly as :meth:`append` does. This is the ops ledger's write
        path, where a one-row Spark write would cost a job, a task and
        an empty second file for a few hundred bytes.

        Values pass the same type verification and ``toInternal``
        conversion ``createDataFrame`` applies, so a naive datetime is
        read in the process timezone and an aware one keeps its
        instant, as on the Spark path. Columns are written as the
        session writes them: string, int64, float64 and
        ``TIMESTAMP_MICROS`` adjusted to UTC.

        A table this path cannot write exactly as Spark would takes
        ``append(createDataFrame(rows, schema))`` instead: a keyed table
        (rows need the bucket hash), one with CHECK constraints or
        parquet writer properties, or a schema with a column type
        outside string/long/double/timestamp."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = self.schema()
        arrow_of = {
            T.StringType: pa.string(),
            T.LongType: pa.int64(),
            T.DoubleType: pa.float64(),
            T.TimestampType: pa.timestamp("us", tz="UTC"),
        }
        if (
            self.snapshot().key
            or self.constraints()
            or self._writer_options()
            or any(type(f.dataType) not in arrow_of for f in schema.fields)
        ):
            return self.append(self.spark.createDataFrame(rows, schema))
        verify = T._make_type_verifier(schema)
        for row in rows:
            verify(row)
        fields = [
            pa.field(f.name, arrow_of[type(f.dataType)], f.nullable)
            for f in schema.fields
        ]
        columns = list(zip(*(schema.toInternal(r) for r in rows))) or [()] * len(fields)
        table = pa.Table.from_arrays(
            [pa.array(c, fld.type) for c, fld in zip(columns, fields)],
            schema=pa.schema(fields),
        )
        rel = self._new_commit_dir()
        path = self.fs.join(self.location, rel, f"part-00000-{uuid.uuid4()}.parquet")
        with self.fs.open_output(path) as out:
            pq.write_table(table, out, compression="snappy", store_schema=False)
        self._harvest_stats([rel])
        return self._commit_appended({"0": [rel]})

    def _commit_appended(
        self, new: dict[str, list[str]], txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> Snapshot:
        """Commit freshly written dirs (bucket -> dirs) as an append:
        conflict-free under concurrency, because a rebase just re-unions
        the dir lists."""

        def build(parent):
            merged = {b: list(dirs) for b, dirs in parent.buckets.items()}
            for b, dirs in new.items():
                merged.setdefault(b, []).extend(dirs)
            # appended dirs are NOT covered by existing deletes (covers
            # pins them to their commit era), so the eras carry as-is
            return _successor(parent, "append", buckets=merged)

        return self._commit(build, "append", txn_app=txn_app, txn_version=txn_version)

    def _partial_update_source(
        self, source: DataFrame, update_columns: list[str]
    ) -> DataFrame:
        """Effective source for a partial-column MERGE: matched keys
        take ``update_columns`` from the batch and every other column
        from the CURRENT row (one bucket-pruned ``lookup`` of exactly
        the batch's keys); unmatched keys pass through in full. The
        result is a full-width upsert batch the ordinary merge paths
        (CoW and MoR) consume unchanged."""
        snap = self.snapshot()
        if not snap.key:
            raise ValueError("merge requires a keyed table")
        names = [f.name for f in self.schema().fields]
        bad = sorted(set(update_columns) - set(names))
        if bad:
            raise ValueError(f"update_columns not in table schema: {bad}")
        keyed = sorted(set(update_columns) & set(snap.key))
        if keyed:
            raise ValueError(
                f"update_columns may not include key columns: {keyed}"
            )
        # ONE left join against the bucket-pruned target resolves both
        # branches: matched rows (flag set) take non-updated columns
        # from the current row, unmatched rows keep the batch's. The
        # r11 first cut routed through ``lookup`` (point-lookup path:
        # driver-collected IN-list / forced broadcast of the batch's
        # keys) and then split matched/inserts with two more joins —
        # 3.5 s vs 0.97 s for the same 1% batch as a full merge at
        # sf0.1, and the forced broadcast would OOM on a 100 TB-scale
        # merge batch. Here the join strategy is AQE's choice (small
        # batch → it broadcasts the flagged side on its own; huge batch
        # → shuffle join), the pruned buckets are read once, and MoR
        # delete masks apply via ``read_buckets`` (a deleted key is
        # UNMATCHED and inserts in full — pinned by
        # tests/test_mor_merge.py).
        affected = self._affected_buckets(source.select(*snap.key), snap)
        target = self.read_buckets(affected, snap.version)
        upd = set(update_columns)
        carried = [n for n in names if n not in snap.key and n not in upd]
        # helper-column names carry a per-call unique tag so a table
        # whose schema legitimately contains a "__matched"/"__t_*"
        # column can never make the post-join references ambiguous
        tag = uuid.uuid4().hex[:8]
        matched_col = f"__matched_{tag}"
        t_col = {n: f"__t_{tag}_{n}" for n in carried}
        flagged = target.select(
            *snap.key,
            *[F.col(n).alias(t_col[n]) for n in carried],
            F.lit(True).alias(matched_col),
        )
        eff = source.join(flagged, on=snap.key, how="left")
        cols = [
            F.when(F.col(matched_col), F.col(t_col[n]))
            .otherwise(F.col(n)).alias(n)
            if n in carried else F.col(n)
            for n in names
        ]
        return eff.select(*cols)

    def _align(self, df: DataFrame) -> DataFrame:
        """Cast/order source columns to the table schema (the reference casts
        incoming CDC columns to the catalog schema field-by-field,
        ``src/utils/cdc_pipeline.py:185-197``; schema evolution is off)."""
        schema = self.schema()
        missing = [f.name for f in schema.fields if f.name not in set(df.columns)]
        if missing:
            raise ValueError(
                f"source is missing target columns {missing}; schema evolution is "
                f"disabled (write.spark.accept-any-schema=false parity) — supply "
                f"every target column"
            )
        return df.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])

    def lookup(self, keys_df: DataFrame, version: int | None = None) -> DataFrame:
        """Point lookup: rows matching the given key tuples, scanning
        ONLY the key-hash buckets those tuples map to — the read-side
        payoff of the bucket layout (at 1000 buckets, a 10-key lookup
        reads ≤ 10/1000 of the table; same pruning Iceberg gets from
        hidden bucket partitioning). Falls back to a full-scan semi-join
        on unkeyed tables.

        Routing: when every key column of ``keys_df`` is string, long,
        int, short or byte (``_ROUTABLE_KEY_TYPES``: Python's ``str()``
        equals Spark's string cast only for these), one capped probe
        collects at most ``MAX_PUSHED_LOOKUP_KEYS`` + 1 key rows and,
        at or under the cap, ``_bucket_of`` computes their buckets on
        the driver, like any client of Iceberg's bucket transform — no
        ``distinct`` or bucket job runs before the read. Over the cap,
        and for any other key type, the buckets come from a Spark job
        (``_affected_buckets``) and the probe side stays distributed.
        A single-column key with its values in hand reads through an
        IN-list; every other case is a semi-join against ``keys_df``."""
        snap = self.snapshot(version)
        # a USING semi-join moves the key columns first: both semi-join
        # returns project the table's column order back
        if not snap.key:
            full = self.read(snap.version)
            return full.join(
                keys_df.distinct(), on=list(keys_df.columns), how="left_semi"
            ).select(*full.columns)
        probe = keys_df.select(*snap.key)
        rows = None
        if all(f.dataType in _ROUTABLE_KEY_TYPES for f in probe.schema.fields):
            rows = probe.limit(MAX_PUSHED_LOOKUP_KEYS + 1).collect()
        probe = probe.distinct()
        if rows is not None and len(rows) <= MAX_PUSHED_LOOKUP_KEYS:
            affected = sorted({_bucket_of(tuple(r), snap.n_buckets) for r in rows})
        else:
            affected = self._affected_buckets(probe, snap)
        pruned = self.read_buckets(affected, snap.version)
        if len(snap.key) == 1:
            # single-column key: the lookup IS an IN-list predicate, and
            # expressing it as one pushes it into the parquet scan where
            # row groups are skipped by dictionary/bloom-filter checks
            # (enable via the write.parquet.bloom-filter-columns table
            # property for high-cardinality keys whose min/max ranges
            # overlap every probe). The probe set is caller-supplied and
            # can be O(batch) (SignatureIndex band hashes, rollup touched
            # groups), so collect AT MOST cap+1 rows to decide — never
            # the whole set — and past the cap fall through to a
            # distributed semi-join.
            if rows is None:
                rows = probe.limit(MAX_PUSHED_LOOKUP_KEYS + 1).collect()
            if len(rows) <= MAX_PUSHED_LOOKUP_KEYS:
                vals = list(dict.fromkeys(r[0] for r in rows))
                return pruned.where(F.col(snap.key[0]).isin(vals))
        # over-cap / composite-key path: no forced broadcast — the probe
        # side's size is unknown and can be GBs at 100 TB scale, where a
        # forced broadcast pins the driver and every executor. AQE sees
        # the distinct's actual output size at runtime and picks
        # broadcast vs shuffle itself (same reasoning as the
        # DELETE_BROADCAST_MAX_BYTES gate on the MoR read path; Iceberg
        # likewise leaves read-side join strategy to the engine).
        return pruned.join(probe, on=snap.key, how="left_semi").select(*pruned.columns)

    def _affected_buckets(self, source: DataFrame, snap: Snapshot) -> list[int]:
        if snap.n_buckets <= 1:
            return [0]
        rows = (
            source.select(bucket_expr(snap.key, snap.n_buckets).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(r.b for r in rows)

    def _replace_buckets(
        self, snap_before: Snapshot, per_bucket: dict[str, list[str]],
        affected: list[int], operation: str, summary: dict[str, Any],
        txn_app: str | None = None, txn_version: int | None = None,
    ) -> Snapshot:
        affected_s = {str(b) for b in affected}

        def build(parent):
            if {str(b): parent.buckets.get(str(b), []) for b in affected} != {
                str(b): snap_before.buckets.get(str(b), []) for b in affected
            }:
                raise CommitConflict(
                    f"{operation} on {self.location}: concurrent writer touched "
                    f"the same buckets; re-run the operation"
                )
            # Snapshot isolation vs concurrent MoR eras (r13, the CoW
            # side of _check_new_delete_eras): this rewrite's content
            # was computed from snap_before's delete mask. An era added
            # to an affected bucket after the scan would be silently
            # DROPPED below (_prune_deletes sees its covers replaced) —
            # resurrecting the concurrently-deleted rows; an era folded
            # away would double-apply. Any delete-entry drift on the
            # affected buckets fails the commit instead.
            if {str(b): parent.deletes.get(str(b), []) for b in affected} != {
                str(b): snap_before.deletes.get(str(b), []) for b in affected
            }:
                raise CommitConflict(
                    f"{operation} on {self.location}: a concurrent "
                    "merge-on-read commit changed delete eras on the "
                    "rewritten buckets; re-run the operation"
                )
            merged = {b: dirs for b, dirs in parent.buckets.items() if b not in affected_s}
            for b, dirs in per_bucket.items():
                merged[b] = dirs
            return _successor(
                parent, operation, buckets=merged, summary=summary,
                # CoW rewrites replace the covered dirs, so delete
                # entries whose covers vanished are dropped here
                deletes=_prune_deletes(parent.deletes, merged),
            )

        return self._commit(build, operation, txn_app=txn_app, txn_version=txn_version)

    def merge(
        self,
        source: DataFrame,
        assert_unique_key: bool = True,
        mode: str = "copy-on-write",
        txn_app: str | None = None,
        txn_version: int | None = None,
        update_columns: list[str] | None = None,
        deletes: DataFrame | None = None,
    ) -> Snapshot:
        """Keyed upsert: WHEN MATCHED UPDATE SET all / WHEN NOT MATCHED INSERT all.

        Semantics of the reference's ``MERGE INTO`` (``src/utils/
        cdc_pipeline.py:221-237``): every matched target row is replaced by
        its source row, unmatched source rows are inserted. With
        update-all/insert-all semantics the merged state of an affected
        bucket is simply ``target ⟕anti source  ∪  source`` — one anti
        join + union, no full-outer join, and only affected buckets are
        read & rewritten (manifest-level partition pruning), and within
        them only the dirs whose key range can intersect the batch.

        ``deletes=`` (a frame carrying the key columns; other columns are
        ignored) adds Delta's ``WHEN MATCHED … THEN DELETE`` clause: the
        batch's upserts and deletes apply as ONE keyed rewrite and ONE
        commit (one txn marker), ``target ⟕anti (source keys ∪ delete
        keys) ∪ source``. A key present in both ``deletes`` and ``source``
        is upserted — the source wins, in both modes. The CDC pipeline
        applies every micro-batch this way (``cdc.apply_cdc_changes``).
        A batch whose both sides are empty makes no commit and returns
        the current snapshot.

        ``mode="merge-on-read"`` (Iceberg's ``write.merge.mode``
        choice): the batch appends as new data dirs and its key set
        doubles as an equality-delete era covering only the PRE-commit
        dirs — matched target rows are masked at read, every source row
        lands, and commit cost is O(batch) regardless of how big the
        touched buckets are. Delete keys are written as delete-only
        dirs of the same era (same ``covers``), so a read applies a
        batch's upserts and deletes as one anti-join. Reads pay one
        anti-join per era until ``rewrite_position_delete_files`` folds
        them in; the hot-ingest pattern is MoR merges + a scheduled fold.

        ``update_columns=[...]`` gives the Iceberg/Delta partial-update
        clause — ``WHEN MATCHED THEN UPDATE SET only these columns
        (from source) / WHEN NOT MATCHED THEN INSERT *``: matched rows
        keep their other columns' CURRENT values; unmatched source rows
        insert in full (so the source must still carry every column).
        Implemented as an effective-source rewrite — one extra
        bucket-pruned read of the matched target rows — after which the
        CoW and MoR paths run unchanged.

        Like Iceberg, duplicate keys in ``source`` are an error — callers
        dedup first (see ``cdc.pipeline.dedup_latest``).
        """
        done = self._txn_applied(txn_app, txn_version)
        if done is not None:
            return done
        if update_columns is not None:
            # the effective source embeds a join against the pruned
            # target read; the recursive merge call below persists its
            # (aligned) source for the commit's duration, so the
            # join+read computes once in the cache-build pass — a
            # second persist here would just double-cache the batch
            eff = self._partial_update_source(
                self._align(source), update_columns
            )
            return self.merge(
                eff, assert_unique_key=assert_unique_key, mode=mode,
                txn_app=txn_app, txn_version=txn_version, deletes=deletes,
            )
        return self._keyed_rewrite(source, deletes, mode, assert_unique_key,
                                   "merge", txn_app, txn_version)

    def _persist_batch(self, df: DataFrame):
        """(df', handle) — persist ``df`` at MEMORY_AND_DISK for a
        multi-consumer DML commit, unless Catalyst's size estimate
        exceeds ``MERGE_PERSIST_MAX_BYTES``: past that, serializing the
        batch into the executor cache (and spilling it) costs more than
        the consumers' re-computation, and cache pressure evicts other
        resident data. Catalyst estimates flow through most plan shapes
        (scans exactly, aggregates/joins heuristically — join products
        overestimate, which errs toward NOT caching table-scale
        sources, the safe side); only the unknown sentinel maps to None
        and persists unconditionally. ``handle`` is None when not
        persisted."""
        from pyspark import StorageLevel

        size = plan_size_bytes(df)
        if size is not None and size > MERGE_PERSIST_MAX_BYTES:
            return df, None
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df, df

    def _keyed_rewrite(
        self,
        source: DataFrame | None,
        deletes: DataFrame | None,
        mode: str,
        assert_unique_key: bool,
        operation: str,
        txn_app: str | None,
        txn_version: int | None,
    ) -> Snapshot:
        """The one keyed-DML primitive behind ``merge`` and
        ``delete_keys``: upsert ``source`` rows and delete ``deletes``
        keys (either side may be None) in a single commit.

        The batch feeds several consumers in one commit — the probe,
        the anti-join build side and the union leg (CoW), or the dup
        probe and the write (MoR) — so it is persisted batch-sized for
        the commit's duration (size-gated, see ``_persist_batch``) and
        the caller's upstream pipeline runs once. For CoW, both sides
        are persisted as ONE frame tagged by ``_DELETE_FLAG``, so the
        pipeline behind them (a CDC batch's dedup) is evaluated in one
        cache-building job, not once per consumer and side."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown {operation} mode {mode!r}")
        snap = self.snapshot()
        if not snap.key:
            raise ValueError(f"{operation} requires a keyed table")
        if source is not None:
            source = self._align(source)
        if deletes is not None:
            deletes = deletes.select(*snap.key)
        if mode == "merge-on-read":
            batch = source
        else:
            legs = []
            if source is not None:
                legs.append(source.withColumn(_DELETE_FLAG, F.lit(False)))
            if deletes is not None:
                legs.append(deletes.select(
                    *[(F.col(f.name) if f.name in snap.key else F.lit(None))
                      .cast(f.dataType).alias(f.name) for f in self.schema().fields],
                    F.lit(True).alias(_DELETE_FLAG),
                ))
            batch = functools.reduce(DataFrame.unionByName, legs)
        cached = None
        if batch is not None and (mode == "copy-on-write" or assert_unique_key):
            batch, cached = self._persist_batch(batch)
        try:
            if source is not None:
                self._enforce_constraints(
                    batch if mode == "merge-on-read" else _upsert_rows(batch), operation
                )
            if mode == "merge-on-read":
                return self._keyed_mor(snap, batch, deletes, assert_unique_key,
                                       operation, txn_app, txn_version)
            return self._keyed_cow(snap, batch, assert_unique_key, operation,
                                   txn_app, txn_version)
        finally:
            if cached is not None:
                cached.unpersist()

    def _keyed_cow(
        self,
        snap: Snapshot,
        batch: DataFrame,
        assert_unique_key: bool,
        operation: str,
        txn_app: str | None,
        txn_version: int | None,
    ) -> Snapshot:
        """Copy-on-write keyed rewrite of ``batch`` (upsert rows and
        ``_DELETE_FLAG``-tagged delete keys): one probe, then the shared
        CoW tail (``_cow_rewrite``) with ``target ⟕anti batch keys ∪
        upserts`` as its row transform."""
        # one probe job serves the duplicate-key guard, bucket pruning,
        # dir pruning AND the union leg's sizing: per-key upsert counts
        # roll up to a per-bucket max, row count and LEADING-key-column
        # bounds (≤ n_buckets rows collected). For a composite key the
        # leading column alone still prunes soundly — a matched row
        # must equal the batch on EVERY key column, so a dir whose
        # leading-column range misses the batch's cannot match (the
        # reference's TB_COMPOSITE_KEY tables get era pruning this way
        # when the leading column is the time-ordered one).
        bucket = (
            bucket_expr(snap.key, snap.n_buckets)
            if snap.n_buckets > 1
            else F.lit(0)
        )
        rows = batch.select(*snap.key, (~F.col(_DELETE_FLAG)).cast("long").alias("up"))
        if assert_unique_key:
            rows = rows.groupBy(*snap.key).agg(F.sum("up").alias("up"))
        probe = (
            rows.groupBy(bucket.alias("b"))
            .agg(
                F.max("up").alias("max_dup"),
                F.sum("up").alias("n_up"),
                F.min(snap.key[0]).alias("kmin"),
                F.max(snap.key[0]).alias("kmax"),
            )
            .collect()
        )
        if assert_unique_key and any(r.max_dup > 1 for r in probe):
            raise ValueError(
                "MERGE source has duplicate keys; dedup-latest before merging"
            )
        if not probe:
            return snap  # empty batch: nothing to commit
        # On a time-ordered key (the CDC common case: recent keys churn,
        # old keys are cold) the per-bucket key-range predicate turns a
        # bucket-wide rewrite into one proportional to the hot dirs. A
        # bucket whose batch keys are all NULL has no bounds: every dir
        # is touched (the pre-pruning, full-bucket rewrite).
        kcol = snap.key[0]
        touched, kept = self._split_dirs(snap, {
            str(r.b): None if r.kmin is None or r.kmax is None
            else [_norm_filters([(kcol, ">=", r.kmin), (kcol, "<=", r.kmax)])]
            for r in sorted(probe, key=lambda r: r.b)
        })
        n_up = sum(r.n_up for r in probe)

        def upsert(target: DataFrame) -> DataFrame:
            merged = target.join(batch.select(*snap.key), on=snap.key, how="left_anti")
            if not n_up:
                return merged
            # Right-size the union leg to the batch's actual volume (the
            # probe counted it): coalesce merges cached blocks without a
            # shuffle. A CDC-sized batch otherwise fans its union leg out
            # to scan-parallelism task counts — dozens of near-empty task
            # launches that also bimodalize the write's map stage (half
            # heavy rewrite tasks, half trivial batch tasks — the
            # residual "skew" reading of the r14 sf1 merge capture).
            k = max(1, min(self._cores() or 32, -(-n_up // UNION_LEG_ROWS_PER_TASK)))
            return merged.unionByName(_upsert_rows(batch).coalesce(k))

        return self._cow_rewrite(snap, touched, kept, upsert, operation, {},
                                 txn_app, txn_version)

    def _split_dirs(
        self, snap: Snapshot, preds: dict[str, list[list[tuple]] | None] | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, list[str]]]:
        """The one dir planner of every read and DML (the Iceberg scan
        planner's file-level min/max pruning analogue): split the dirs
        of each bucket in ``preds`` into ``(touched, kept)`` — dirs to
        read and dirs pruned. A dir is touched when its harvested footer
        stats may satisfy the bucket's normalized DNF predicate (``None``
        touches every dir; ``preds=None`` every dir of every bucket); a
        kept dir cannot hold a matching row, so a scan never lists it and
        DML carries it into the new snapshot unread — a narrow DML costs
        ∝ the dirs it can touch, not the history a bucket has
        accumulated. Conservative by construction: missing footer stats
        or incomparable types mean "touched"."""
        if preds is None:
            preds = dict.fromkeys(snap.buckets)
        touched: dict[str, list[str]] = {}
        kept: dict[str, list[str]] = {}
        for bs, dnf in preds.items():
            touched[bs], kept[bs] = [], []
            for d in snap.buckets.get(bs, []):
                hit = dnf is None or self._dir_may_match_dnf(
                    snap.stats.get(d, {}), dnf, snap.renames.get(d)
                )
                (touched if hit else kept)[bs].append(d)
        return touched, kept

    def _cow_rewrite(
        self,
        snap: Snapshot,
        touched: dict[str, list[str]],
        kept: dict[str, list[str]],
        transform,
        operation: str,
        summary: dict[str, Any],
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> Snapshot:
        """The copy-on-write tail of every DML: read the ``touched`` dirs
        (live delete eras applied), ``transform`` the rows, write them
        bucketed, and replace each affected bucket with its ``kept``
        dirs plus the new ones. Affected = touched ∪ written buckets: a
        bucket that receives rows without being touched (an UPDATE that
        moves a key across buckets) keeps all of its dirs. ``kept`` has
        exactly the buckets of ``touched``; nothing touched commits a
        no-op version."""
        new_dirs = (
            self._write_bucketed(
                transform(self._read_with_deletes(snap, touched)),
                snap.key, snap.n_buckets,
            )
            if touched else {}
        )
        affected = sorted({int(b) for b in touched} | {int(b) for b in new_dirs})
        per_bucket = {
            str(b): kept.get(str(b), snap.buckets.get(str(b), []))
            + new_dirs.get(str(b), [])
            for b in affected
        }
        return self._replace_buckets(
            snap,
            per_bucket,
            affected,
            operation,
            {
                **summary,
                "affected_buckets": affected,
                "pruned_dirs": sum(len(v) for v in kept.values()),
                "rewritten_dirs": sum(len(v) for v in touched.values()),
            },
            txn_app=txn_app,
            txn_version=txn_version,
        )

    def delete_keys(self, keys_df: DataFrame, mode: str = "copy-on-write",
                    txn_app: str | None = None,
                    txn_version: int | None = None) -> Snapshot:
        """DELETE WHERE EXISTS (semi-join delete set) — the reference's CDC
        delete path (``src/utils/cdc_pipeline.py:239-251``).

        ``mode="copy-on-write"`` (default): left-anti join + rewrite of
        the affected buckets. ``mode="merge-on-read"``: write an
        equality-delete file per affected bucket instead — O(delete set)
        commit cost regardless of bucket sizes, with reads applying the
        deletes as anti-joins until ``rewrite_position_delete_files``
        folds them in (Iceberg's ``write.delete.mode`` choice; the
        reference schedules the fold via ``position_delete_interval``,
        ``src/utils/cdc_pipeline.py:421-425``). Both are ``merge`` with
        an empty upsert side; an empty key set makes no commit."""
        done = self._txn_applied(txn_app, txn_version)
        if done is not None:
            return done
        return self._keyed_rewrite(None, keys_df, mode, False, "delete",
                                   txn_app, txn_version)

    def _keyed_mor(
        self,
        snap: Snapshot,
        source: DataFrame | None,
        deletes: DataFrame | None,
        assert_unique_key: bool,
        operation: str,
        txn_app: str | None,
        txn_version: int | None,
    ) -> Snapshot:
        """Merge-on-read keyed DML: write the upserts once as new data
        dirs and the delete keys as bucket-partitioned equality-delete
        dirs, then ONE era commit in which every new delete entry — the
        upsert dirs double as the key source of their own era, the
        delete reader projects just the key columns — covers exactly the
        parent's live dirs of its bucket, so the batch's own rows are
        never masked (hence the source wins over a delete of the same
        key). Concurrent commits rebase: a dir appended between snapshot
        and commit is covered too (newest-key-wins)."""
        new_dirs: dict[str, list[str]] = {}
        if source is not None:
            if assert_unique_key:
                dup = (
                    source.groupBy(*snap.key)
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
                if dup:
                    raise ValueError(
                        "MERGE source has duplicate keys; dedup-latest before merging"
                    )
            new_dirs = self._write_bucketed(source, snap.key, snap.n_buckets)
        del_dirs = (
            self._write_bucketed(deletes, snap.key, snap.n_buckets)
            if deletes is not None else {}
        )
        if not new_dirs and not del_dirs:
            return snap  # empty batch: nothing to commit
        return self._era_commit(
            new_dirs, del_dirs, lambda parent: parent.buckets,
            f"{operation}-mor", {"mode": "merge-on-read"}, txn_app, txn_version,
        )

    def _era_commit(
        self,
        new_data: dict[str, list[str]],
        new_deletes: dict[str, list[str]],
        covers,
        operation: str,
        summary: dict[str, Any],
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> Snapshot:
        """The merge-on-read commit of every DML: append the ``new_data``
        dirs to their buckets, and register each new data or delete-only
        dir of a bucket as an equality-delete entry whose ``covers`` is
        ``covers(parent)[bucket]`` — the dirs whose older rows its keys
        mask. ``covers`` runs against the parent of every commit
        attempt, so it may also validate that parent (raising
        ``CommitConflict``). A bucket with nothing covered gets no
        entry: there are no rows for it to mask."""

        def build(parent):
            cover = covers(parent)
            eras = {b: list(entries) for b, entries in parent.deletes.items()}
            buckets = {b: list(d) for b, d in parent.buckets.items()}
            affected = set()
            for b in set(new_data) | set(new_deletes):
                cov = list(cover.get(b, []))
                if cov:
                    for d in new_data.get(b, []) + new_deletes.get(b, []):
                        eras.setdefault(b, []).append({"dir": d, "covers": cov})
                    affected.add(int(b))
                if b in new_data:
                    buckets[b] = buckets.get(b, []) + new_data[b]
                    affected.add(int(b))
            return _successor(
                parent, operation, buckets=buckets, deletes=eras,
                summary={**summary, "affected_buckets": sorted(affected)},
            )

        return self._commit(build, operation, txn_app=txn_app,
                            txn_version=txn_version)

    def delete_where(self, condition, mode: str = "copy-on-write") -> Snapshot:
        """Predicate DELETE (the reference's retention purge shape,
        ``src/utils/watermark.py:421-438``): remove the rows where
        ``condition`` IS TRUE. A row where it evaluates NULL survives.

        Predicate DML semantics (shared with ``update_where``):

        - ``condition`` is a list of ``(col, op, value)`` tuples (the
          ``scan()`` filter vocabulary, AND-ed), a list of such
          conjunctions (their DISJUNCTION, OR of ANDs, ``_norm_dnf``),
          or an explicit ``{"or": [...]}`` / ``{"and": [...]}`` marker.
          These forms get dir-level data skipping: dirs whose footer
          stats cannot satisfy the predicate are carried forward
          untouched, and buckets with no matching dir stay out of the
          commit, so a narrow DML costs ∝ the dirs it can touch, not
          table size (at 100 TB a retention purge on a time-clustered
          table rewrites only the expiring dirs). A SQL string or a
          Column is an arbitrary predicate that stats cannot reason
          about, so every dir is touched.
        - ``mode="copy-on-write"`` (default): the touched dirs are read
          (live MoR masks applied) and rewritten. ``mode="merge-on-read"``
          (keyed tables; Iceberg's ``write.delete.mode`` /
          ``write.update.mode``): no rewrite — the matched rows' keys
          commit as an equality-delete era whose ``covers`` is exactly
          the touched dirs, so the cost is the pruned scan + O(matched
          rows), and reads apply the era on covered dirs only until
          ``rewrite_position_delete_files`` folds it.
        - MoR concurrency is as-of-snapshot: a concurrent rewrite of a
          touched dir, or a concurrent MoR delete era over one, raises
          ``CommitConflict`` rather than masking rows that may no
          longer match. Concurrent appends are NOT covered, unlike
          ``delete_keys``'s newest-key-wins stance, because the
          predicate was never evaluated on them.
        - Every call commits one version, a no-op one when nothing
          matches (unlike an empty ``merge``, which commits nothing).
          The summary carries ``pruned_dirs``, ``touched_dirs``,
          ``rewritten_dirs``, ``affected_buckets`` and ``mode``; the
          operation is ``delete`` / ``update``, or ``delete-mor`` /
          ``update-mor`` in merge-on-read mode."""
        return self._predicate_rewrite(condition, mode, "delete")

    def update_where(self, condition, assignments: dict[str, Any],
                     mode: str = "copy-on-write") -> Snapshot:
        """Bulk ``UPDATE ... SET`` (reference:
        ``scripts/migrate_v2_naming.sql:43-49``) of the rows where
        ``condition`` IS TRUE; a row where it evaluates NULL is left
        as is. Condition forms, modes, concurrency and commit summary
        are those of ``delete_where``.

        ``assignments`` values follow SQL ``SET col = expr``: a string
        is parsed as a SQL EXPRESSION (quote string literals:
        ``{"v": "'fixed'"}``; reference columns directly: ``{"v":
        "upper(v)"}``); any non-string becomes a literal. CHECK
        constraints gate exactly the rows the update changes.

        Copy-on-write may assign key columns: a row whose new key
        hashes to another bucket lands there, and that bucket joins the
        commit with all of its dirs kept. In merge-on-read mode only
        the MATCHED rows are written, as new data dirs that double as
        the era's key source (the ``_keyed_mor`` layout), so key
        columns cannot be assigned — the mask is keyed on the NEW
        row's key and would leave the old row unmasked."""
        return self._predicate_rewrite(condition, mode, "update", assignments)

    def _predicate_rewrite(
        self, condition, mode: str, operation: str,
        assignments: dict[str, Any] | None = None,
    ) -> Snapshot:
        """The one predicate-DML primitive behind ``delete_where``
        (``assignments`` None) and ``update_where``: split the dirs by
        the predicate, then the shared CoW tail (``_cow_rewrite``) or
        the shared MoR era commit (``_era_commit``) over exactly the
        touched dirs. See ``delete_where`` for semantics."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown {operation} mode {mode!r}")
        api = f"{operation}_where"
        mor = mode == "merge-on-read"
        snap = self.snapshot()
        if mor and not snap.key:
            raise ValueError(f"merge-on-read {api} requires a keyed table")
        bad = sorted(set(assignments or ()) & set(snap.key or ()))
        if mor and bad:
            raise ValueError(
                f"merge-on-read {api} cannot assign key columns {bad}: "
                "the mask is keyed on the new row's key, so a key change "
                "would leave the old row unmasked — use copy-on-write"
            )
        # dict = the explicit {"or"}/{"and"} markers — same tuple
        # vocabulary as the list forms, same dir pruning
        if isinstance(condition, (list, dict)):
            dnf = _norm_dnf(condition)  # once, not per dir
            cond = _dnf_expr(dnf)
        else:
            dnf = None
            cond = F.expr(condition) if isinstance(condition, str) else condition
        touched, kept = self._split_dirs(snap, dict.fromkeys(snap.buckets, dnf))
        kept = {b: kept[b] for b, t in touched.items() if t}
        touched = {b: touched[b] for b in kept}
        summary = {"touched_dirs": sum(len(v) for v in touched.values()), "mode": mode}

        def assign(df: DataFrame, where) -> DataFrame:
            for col, val in assignments.items():
                expr = F.expr(val) if isinstance(val, str) else F.lit(val)
                df = df.withColumn(
                    col, expr if where is None
                    else F.when(where, expr).otherwise(F.col(col)),
                )
            return df

        if not mor:
            def rewrite(df: DataFrame) -> DataFrame:
                if assignments is None:
                    # SQL DELETE semantics: remove rows where cond IS
                    # TRUE — a row where the predicate evaluates NULL
                    # survives (~NULL is NULL, filter() would drop it)
                    return df.filter(~cond | cond.isNull())
                # per-call unique helper name — same collision-proofing
                # as the partial-merge __matched/__t_* columns (a table
                # may legitimately contain a column named "__upd")
                upd_col = f"__upd_{uuid.uuid4().hex[:8]}"
                df = assign(df.withColumn(upd_col, cond), F.col(upd_col))
                # CHECK constraints gate the rows this UPDATE actually
                # changed (untouched rows predate the constraint's
                # validate decision)
                self._enforce_constraints(df.where(F.col(upd_col)), api)
                return self._align(df.drop(upd_col))

            return self._cow_rewrite(snap, touched, kept, rewrite, operation, summary)

        new_data: dict[str, list[str]] = {}
        new_deletes: dict[str, list[str]] = {}
        if touched:
            matched = self._read_with_deletes(snap, touched).filter(cond)
            if assignments is None:
                # no distinct: the delete reader distincts the keys
                new_deletes = self._write_bucketed(
                    matched.select(*snap.key), snap.key, snap.n_buckets
                )
            else:
                matched = assign(matched, None)
                self._enforce_constraints(matched, api)
                new_data = self._write_bucketed(
                    self._align(matched), snap.key, snap.n_buckets
                )

        def covers(parent):
            for b, t_dirs in touched.items():
                if not set(t_dirs) <= set(parent.buckets.get(b, [])):
                    # a touched dir was rewritten under us — its rows
                    # may no longer match the predicate we evaluated
                    raise CommitConflict(
                        f"{api} on {self.location}: concurrent writer "
                        f"rewrote a predicate-matched dir; re-run the {operation}"
                    )
            # a concurrent MoR delete era on a touched dir: an update
            # would resurrect the keys it deleted with the new values
            self._check_new_delete_eras(snap, parent, touched, api)
            return touched

        return self._era_commit(
            new_data, new_deletes, covers, f"{operation}-mor",
            {**summary, "pruned_dirs": sum(len(v) for v in kept.values()),
             "rewritten_dirs": 0},
        )

    def _check_new_delete_eras(
        self, snap: Snapshot, parent: Snapshot,
        touched: dict[str, list[str]], operation: str,
    ) -> None:
        """Snapshot-isolation validation for MoR predicate DML (the
        Iceberg ``validateNoConflictingDeleteFiles`` analogue): a delete
        era committed AFTER the predicate scan whose ``covers``
        intersect the touched dirs may have removed rows this operation
        matched — an update would re-insert them as fresh rows no era
        masks (resurrection), a delete would silently double-apply on a
        changed base. Fail the commit instead; the caller re-runs
        against the new snapshot."""
        for b, t_dirs in touched.items():
            scanned = {e["dir"] for e in snap.deletes.get(b, [])}
            tset = set(t_dirs)
            for e in parent.deletes.get(b, []):
                if e["dir"] not in scanned and tset & set(e["covers"]):
                    raise CommitConflict(
                        f"{operation} on {self.location}: a concurrent "
                        "merge-on-read delete committed an era covering "
                        "predicate-matched dirs after the scan; re-run "
                        "against the current snapshot"
                    )

    # ------------------------------------------------------------------ maintenance
    def rebucket(self, new_n_buckets: int) -> Snapshot:
        """Bucket-count evolution (the Iceberg partition-evolution
        analogue — beyond the reference, which pins bucket counts at
        CREATE). Three cost tiers, picked automatically:

        - **Shrink by an integer factor** (``old % new == 0``):
          METADATA-ONLY. ``hash % old == b`` implies ``hash % new ==
          b % new``, so new bucket ``b`` is exactly the union of old
          buckets ``{b, b+new, b+2·new, …}`` — the commit re-points
          directory lists and remaps merge-on-read delete entries; not
          one data byte moves. O(buckets) at any table size.
        - **Grow by an integer factor** (``new % old == 0``):
          SHUFFLE-FREE rewrite. Rows of old bucket ``b`` can only land
          in ``{b, b+old, …, b+(k-1)·old}``, so each scan task splits
          its own bucket locally and the dynamic-partition writer fans
          out — at 100 TB every byte moves once through local disks,
          never across the network. MoR deletes fold in via the read.
          It writes through :meth:`_write_dirs`, the tail every
          bucket-dir write shares, so the table's ``write.parquet.*``
          options apply here as everywhere.
        - **Arbitrary count**: full shuffled bucketed write (same path
          as RTAS).

        Readers, ``lookup`` and DML prune on the committed snapshot's
        ``n_buckets``, so they follow the new layout immediately.
        """
        snap = self.snapshot()
        if not snap.key:
            raise ValueError("rebucket requires a keyed table")
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        if new_n_buckets == snap.n_buckets:
            raise ValueError(f"table already has {new_n_buckets} buckets")

        if snap.n_buckets % new_n_buckets == 0:
            # metadata-only coalesce: re-point dirs, remap deletes
            buckets: dict[str, list[str]] = {}
            for b, dirs in snap.buckets.items():
                nb = str(int(b) % new_n_buckets)
                buckets.setdefault(nb, []).extend(dirs)
            deletes: dict[str, list[dict]] = {}
            for b, entries in snap.deletes.items():
                nb = str(int(b) % new_n_buckets)
                deletes.setdefault(nb, []).extend(entries)
            renames = {d: dict(m) for d, m in snap.renames.items()}
        else:
            df = self.read(snap.version)  # folds MoR deletes, applies renames
            if new_n_buckets % snap.n_buckets == 0:
                # local split: NO repartition before the write — each
                # input task holds one old bucket and writes its k new
                # sub-buckets via dynamic partitioning (no exchange)
                buckets = self._write_dirs(
                    df.withColumn("_bucket", bucket_expr(snap.key, new_n_buckets))
                )
            else:
                buckets = self._write_bucketed(df, snap.key, new_n_buckets)
            deletes = {}  # folded into the rewrite by the read
            renames = {}  # rewritten dirs carry current logical names

        def build(parent):
            # rebucket replaces the WHOLE table layout from the snapshot
            # captured above; any intervening commit (append/merge/...)
            # would be silently dropped if we rebased. Detect and refuse,
            # matching the _replace_buckets conflict pattern.
            if parent is None or parent.version != snap.version:
                raise CommitConflict(
                    f"rebucket on {self.location}: table advanced from "
                    f"v{snap.version} to v{parent.version if parent else None} "
                    "during the rewrite; re-run rebucket"
                )
            return _successor(
                parent, "rebucket", n_buckets=new_n_buckets, buckets=buckets,
                summary={"from_buckets": snap.n_buckets, "to_buckets": new_n_buckets},
                deletes=deletes, renames=renames,
            )

        return self._commit(build, "rebucket")

    def rewrite_data_files(
        self,
        min_input_dirs: int = 2,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Bin-pack compaction per bucket (Iceberg ``rewrite_data_files``,
        reference call at ``src/utils/maintenance.py:87``). Buckets whose
        dir count < ``min_input_dirs`` are left untouched — unless a
        clustering is requested, which re-clusters every bucket:

        - ``sort_by``: lexicographic sort (the Iceberg sort strategy) —
          row-group min/max become tight on the LEADING column.
        - ``zorder_by``: Morton-curve sort over ≥2 numeric columns
          (Iceberg ``zorder(...)`` / Delta ``ZORDER BY`` analogue) —
          every clustered column's extent shrinks per row group, so
          range predicates on ANY of them prune. Column ranges for bit
          scaling come from one min/max agg over the rewritten data
          (maintenance-time job, not a read-path cost).

        When neither argument is given, the TABLE's declared clustering
        applies — properties ``write.sort-order`` / ``write.zorder-by``
        (comma-separated columns, Iceberg's table-level SortOrder
        metadata analogue) — so every scheduled compaction re-clusters
        the way the table owner declared, not the way the caller
        remembered to ask."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        snap = self.snapshot()
        # an EXPLICIT clustering request re-clusters every bucket; the
        # declared table order only shapes buckets compaction was going
        # to rewrite anyway (scheduled runs stay O(fragmented buckets))
        explicit_cluster = bool(sort_by or zorder_by)
        if not explicit_cluster:
            declared_sort = snap.properties.get("write.sort-order", "").strip()
            declared_z = snap.properties.get("write.zorder-by", "").strip()
            if declared_sort and declared_z:
                raise ValueError(
                    "table declares both write.sort-order and write.zorder-by; "
                    "keep one"
                )
            if declared_sort:
                sort_by = [c.strip() for c in declared_sort.split(",") if c.strip()]
            elif declared_z:
                zorder_by = [c.strip() for c in declared_z.split(",") if c.strip()]
        min_dirs = 1 if explicit_cluster else min_input_dirs
        # buckets carrying merge-on-read delete files always qualify:
        # compaction is what folds the deletes in
        todo = [
            b for b, dirs in snap.buckets.items()
            if len(dirs) >= min_dirs or snap.deletes.get(b)
        ]
        if not todo:
            return {"rewritten_buckets": 0, "rewritten_dirs": 0}
        union = self._read_with_deletes(snap, self._split_dirs(snap, dict.fromkeys(todo))[0])
        drop_after = None
        if zorder_by:
            from datalake_iceberg_spark.functions.zorder import zvalue

            # temporal columns scale via an integer epoch (the module
            # docstring's contract); raw date/timestamp min/max would
            # hand non-floats to _scale
            fields = {f.name: f.dataType for f in union.schema.fields}
            numeric_exprs = []
            for c in zorder_by:
                dt = fields.get(c)
                if dt is None:
                    raise ValueError(f"zorder_by column {c!r} not in table schema")
                if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                    numeric_exprs.append(F.unix_micros(F.col(c)))
                elif isinstance(dt, T.DateType):
                    numeric_exprs.append(F.datediff(F.col(c), F.lit("1970-01-01").cast("date")))
                else:
                    numeric_exprs.append(F.col(c))
            bounds = union.agg(
                *[F.min(e).cast("double").alias(f"lo_{c}")
                  for c, e in zip(zorder_by, numeric_exprs)],
                *[F.max(e).cast("double").alias(f"hi_{c}")
                  for c, e in zip(zorder_by, numeric_exprs)],
            ).collect()[0]
            ranges = []
            for c in zorder_by:
                lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
                if lo is None or hi is None:
                    raise ValueError(
                        f"zorder_by column {c!r} has no non-NULL values; "
                        "cannot derive scaling bounds"
                    )
                ranges.append((lo, hi))
            union = union.withColumn("__z", zvalue(numeric_exprs, ranges))
            sort_by, drop_after = ["__z"], ["__z"]
        per_bucket = self._write_bucketed(
            union, snap.key, snap.n_buckets,
            sort_by=sort_by, drop_after_sort=drop_after,
        )
        per_bucket = {b: per_bucket.get(b, []) for b in todo}
        self._replace_buckets(
            snap, per_bucket, [int(b) for b in todo], "rewrite_data_files",
            {"rewritten_dirs": sum(len(snap.buckets[b]) for b in todo)},
        )
        return {
            "rewritten_buckets": len(todo),
            "rewritten_dirs": sum(len(snap.buckets[b]) for b in todo),
        }

    # ------------------------------------------------------------------ DDL (metadata-only)
    def _commit_metadata(self, mutate, operation: str) -> Snapshot:
        """Metadata-only commit: copy the parent snapshot, let ``mutate``
        edit it in place (properties / schema metadata), commit. Data
        dirs are untouched, so this is O(manifest) at any table size."""

        def build(parent):
            if parent is None:
                raise ValueError(f"table {self.location} does not exist")
            snap = _successor(parent, operation, **_content_of(parent))
            mutate(snap)
            return snap

        return self._commit(build, operation)

    # ------------------------------------------------------------ constraints
    CONSTRAINT_PREFIX = "constraint."

    def constraints(self) -> dict[str, str]:
        """Declared CHECK constraints: name -> boolean SQL expression."""
        p = self.CONSTRAINT_PREFIX
        return {
            k[len(p):]: v
            for k, v in self.snapshot().properties.items()
            if k.startswith(p)
        }

    def add_constraint(self, name: str, expr: str, validate: bool = True) -> Snapshot:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (the Delta CHECK
        analogue): every subsequent append/merge/update must satisfy
        ``expr`` or the write raises before any commit. With
        ``validate=True`` (the Delta contract) existing rows are
        checked first — one full-scan aggregation; pass False to adopt
        the constraint forward-only on a table too large to re-scan."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"constraint name must be [A-Za-z0-9_]+, got {name!r}")
        if validate and self.exists():
            # same NULL semantics as the write gate (_enforce_constraints)
            # and quarantine_invalid: a NULL evaluation COUNTS as a
            # violation. Plain ~expr is NULL for NULL, which where()
            # drops — a table would then validate clean while identical
            # rows get rejected on the very next write.
            bad = (
                self.read()
                .where(~F.coalesce(F.expr(expr), F.lit(False)))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"existing rows violate constraint {name!r} ({expr}); "
                    "fix the data or add with validate=False"
                )

        def mutate(snap):
            snap.properties[self.CONSTRAINT_PREFIX + name] = expr
            snap.summary = {"add_constraint": name}

        return self._commit_metadata(mutate, "add_constraint")

    def drop_constraint(self, name: str) -> Snapshot:
        def mutate(snap):
            if snap.properties.pop(self.CONSTRAINT_PREFIX + name, None) is None:
                raise ValueError(f"no such constraint {name!r}")
            snap.summary = {"drop_constraint": name}

        return self._commit_metadata(mutate, "drop_constraint")

    def _enforce_constraints(self, df: DataFrame, operation: str) -> None:
        """Reject a write whose NEW rows violate any declared CHECK
        constraint. All constraints evaluate in ONE aggregation pass
        over the batch (CDC batches are small; the pass is map-only);
        NULL evaluations count as violations, as in SQL CHECK applied
        to ingestion gates."""
        checks = self.constraints() if self.exists() else {}
        if not checks:
            return
        names = list(checks)
        row = df.agg(
            *[
                F.sum(
                    F.when(F.expr(checks[n]), 0).otherwise(1)
                ).alias(f"__c{i}")
                for i, n in enumerate(names)
            ]
        ).collect()[0]
        for i, n in enumerate(names):
            bad = row[f"__c{i}"] or 0
            if bad:
                raise ValueError(
                    f"{operation} violates constraint {n!r} "
                    f"({checks[n]}): {bad} row(s)"
                )

    def set_properties(self, props: dict[str, str]) -> Snapshot:
        """ALTER TABLE SET TBLPROPERTIES (reference uses it for the table
        comment sync, ``src/schema_validate.py:198-203``)."""

        def mutate(snap):
            snap.properties.update(props)
            snap.summary = {"set_properties": sorted(props)}

        return self._commit_metadata(mutate, "set_properties")

    def set_table_comment(self, comment: str) -> Snapshot:
        return self.set_properties({"comment": comment})

    def table_comment(self) -> str | None:
        return self.snapshot().properties.get("comment")

    def set_column_comment(self, col: str, comment: str) -> Snapshot:
        """ALTER COLUMN ... COMMENT — stored in the field's metadata
        (where Spark's DESCRIBE surfaces it), committed as a new schema
        version so travel reads see era-correct comments."""

        def mutate(snap):
            schema = T.StructType.fromJson(json.loads(snap.schema_json))
            if col not in schema.fieldNames():
                raise ValueError(f"no such column {col!r}")
            out = []
            for f in schema.fields:
                if f.name == col:
                    md = dict(f.metadata or {})
                    md["comment"] = comment
                    f = T.StructField(f.name, f.dataType, f.nullable, md)
                out.append(f)
            snap.schema_json = T.StructType(out).json()
            snap.summary = {"column_comment": col}

        return self._commit_metadata(mutate, "alter_column_comment")

    def column_comments(self) -> dict[str, str]:
        """Column → comment for columns that have one."""
        return {
            f.name: f.metadata["comment"]
            for f in self.schema().fields
            if f.metadata and "comment" in f.metadata
        }

    # ------------------------------------------------------- schema evolution
    def _resolve_type(self, dtype) -> T.DataType:
        if isinstance(dtype, T.DataType):
            return dtype
        # DDL-string types ("bigint", "array<double>", "decimal(10,2)")
        # resolved through Catalyst — no private parser API
        return self.spark.range(1).select(F.lit(None).cast(dtype)).schema[0].dataType

    def add_column(self, name: str, dtype, comment: str | None = None) -> Snapshot:
        """ALTER TABLE ADD COLUMN — metadata-only at any table size
        (Iceberg schema evolution; the reference leans on Iceberg's
        ``UpdateSchema``). Existing rows read NULL. Every pre-existing
        dir maps the new logical name to a nonexistent physical
        sentinel, so if an earlier ``drop_column`` left a same-named
        column in old files the values can NOT be resurrected — the
        guarantee Iceberg derives from fresh field ids."""
        dt = self._resolve_type(dtype)

        def mutate(snap):
            schema = T.StructType.fromJson(json.loads(snap.schema_json))
            if name in schema.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            md = {"comment": comment} if comment else {}
            snap.schema_json = T.StructType(
                schema.fields + [T.StructField(name, dt, True, md)]
            ).json()
            sentinel = f"__absent__{name}"
            for d in snap.all_dirs():
                snap.renames.setdefault(d, {})[name] = sentinel
            snap.summary = {"add_column": name, "type": dt.simpleString()}

        return self._commit_metadata(mutate, "add_column")

    def rename_column(self, old: str, new: str) -> Snapshot:
        """ALTER TABLE RENAME COLUMN — metadata-only: existing files keep
        their physical name, the per-dir mapping redirects reads. Key
        columns rename cleanly (bucket assignment hashes values, not
        names); merge-on-read delete files follow the same mapping."""

        def mutate(snap):
            schema = T.StructType.fromJson(json.loads(snap.schema_json))
            if old not in schema.fieldNames():
                raise ValueError(f"no such column {old!r}")
            if new in schema.fieldNames():
                raise ValueError(f"column {new!r} already exists")
            snap.schema_json = T.StructType(
                [T.StructField(new if f.name == old else f.name,
                               f.dataType, f.nullable, f.metadata)
                 for f in schema.fields]
            ).json()
            if snap.key and old in snap.key:
                snap.key = [new if k == old else k for k in snap.key]
            for d in snap.all_dirs() + snap.all_delete_dirs():
                m = snap.renames.setdefault(d, {})
                m[new] = m.pop(old, old)
                if m[new] == new:  # rename cycle landed back on itself
                    del m[new]
                if not m:
                    del snap.renames[d]
            snap.summary = {"rename_column": [old, new]}

        return self._commit_metadata(mutate, "rename_column")

    #: safe widening promotions (Iceberg ``updateColumn`` type promotion;
    #: Spark 4's parquet readers — vectorized and row-based — upcast the
    #: narrower physical type on read, so no file is rewritten)
    _TYPE_PROMOTIONS = {
        "tinyint": {"smallint", "int", "bigint", "double"},
        "smallint": {"int", "bigint", "double"},
        "int": {"bigint", "double"},
        "bigint": set(),
        "float": {"double"},
    }

    def alter_column_type(self, name: str, new_type) -> Snapshot:
        """ALTER COLUMN ... TYPE — metadata-only type WIDENING (Iceberg
        type promotion): int → bigint/double, tinyint/smallint up the
        integral chain, float → double. Existing dirs keep their narrow
        physical type; every read requests the widened logical schema
        and Spark's parquet readers upcast in the scan. Narrowing or
        cross-family changes are rejected — they would need a rewrite
        and can silently corrupt (Iceberg rejects them too).

        Key columns may widen: bucket assignment hashes the STRING form
        of the key (``bucket_expr``), which is value-stable across
        integral widths, so existing bucket layouts remain valid."""
        dt = self._resolve_type(new_type)

        def mutate(snap):
            schema = T.StructType.fromJson(json.loads(snap.schema_json))
            if name not in schema.fieldNames():
                raise ValueError(f"no such column {name!r}")
            old_dt = schema[name].dataType
            old_s, new_s = old_dt.simpleString(), dt.simpleString()
            if new_s == old_s:
                raise ValueError(f"column {name!r} is already {new_s}")
            if new_s not in self._TYPE_PROMOTIONS.get(old_s, set()):
                raise ValueError(
                    f"cannot alter {name!r} from {old_s} to {new_s}: only "
                    f"widening promotions are metadata-safe "
                    f"({', '.join(f'{k} -> {sorted(v)}' for k, v in self._TYPE_PROMOTIONS.items() if v)})"
                )
            snap.schema_json = T.StructType(
                [T.StructField(f.name, dt if f.name == name else f.dataType,
                               f.nullable, f.metadata)
                 for f in schema.fields]
            ).json()
            snap.summary = {"alter_column_type": [name, old_s, new_s]}

        return self._commit_metadata(mutate, "alter_column_type")

    def drop_column(self, name: str) -> Snapshot:
        """ALTER TABLE DROP COLUMN — metadata-only: the column leaves the
        logical schema; parquet column pruning means the dead bytes are
        never read again (reclaimed on the next compaction rewrite)."""

        def mutate(snap):
            schema = T.StructType.fromJson(json.loads(snap.schema_json))
            if name not in schema.fieldNames():
                raise ValueError(f"no such column {name!r}")
            if snap.key and name in snap.key:
                raise ValueError(f"cannot drop key column {name!r}")
            snap.schema_json = T.StructType(
                [f for f in schema.fields if f.name != name]
            ).json()
            for d, m in list(snap.renames.items()):
                m.pop(name, None)
                if not m:
                    del snap.renames[d]
            snap.summary = {"drop_column": name}

        return self._commit_metadata(mutate, "drop_column")

    def rewrite_position_delete_files(self) -> dict[str, int]:
        """Fold merge-on-read delete files into the data (Iceberg's
        ``rewrite_position_delete_files`` procedure, which the reference
        schedules on ``position_delete_interval``,
        ``src/utils/maintenance.py:189-246``): rewrite exactly the
        delete-bearing buckets with their deletes applied; the covers
        pruning drops the dead delete entries at commit. No-op when the
        table has no delete files."""
        snap = self.snapshot()
        todo = sorted(b for b, entries in snap.deletes.items() if entries)
        if not todo:
            return {"rewritten_buckets": 0, "removed_delete_files": 0}
        n_delete_files = sum(len(snap.deletes[b]) for b in todo)
        folded = self._read_with_deletes(snap, self._split_dirs(snap, dict.fromkeys(todo))[0])
        # per-bucket input weights from manifest #bytes (pure snapshot
        # math): the fold rewrites a delete-bearing SUBSET whose content
        # the workload made uneven, so the write sub-splits heavy
        # buckets to ~median-bucket tasks (r16 skew fix; see
        # _write_bucketed). Any dir without harvested bytes degrades to
        # the uniform path — never a failed fold.
        weights: dict[int, int] | None = {}
        for b in todo:
            w = 0
            for d in snap.buckets[b]:
                st = snap.stats.get(d, {}).get(BYTES_STAT)
                if st is None:
                    weights = None
                    break
                w += int(st[0])
            if weights is None:
                break
            weights[int(b)] = w
        per_bucket = self._write_bucketed(
            folded, snap.key, snap.n_buckets, bucket_weights=weights
        )
        per_bucket = {b: per_bucket.get(b, []) for b in todo}
        self._replace_buckets(
            snap, per_bucket, [int(b) for b in todo], "rewrite_position_deletes",
            {"removed_delete_files": n_delete_files},
        )
        return {"rewritten_buckets": len(todo), "removed_delete_files": n_delete_files}

    def expire_snapshots(self, keep_last: int = 1,
                         older_than: str | None = None) -> dict[str, int]:
        """Drop old manifests (Iceberg ``expire_snapshots``,
        ``src/utils/maintenance.py:151``). Tagged versions are retained
        until their tag is dropped (Iceberg ref-aware retention), and
        the current version is never expired. ``older_than`` (ISO-8601
        UTC) additionally restricts expiry to snapshots COMMITTED before
        that instant — Iceberg's timestamp-based retention; combined
        with ``keep_last`` both conditions must hold. Data dirs are
        only reclaimed by ``remove_orphan_files``."""
        cur = self.current_version()
        pinned = set(self.refs().values())
        cutoff = _parse_iso_utc(older_than) if older_than else None
        removed = 0
        cache = _meta_cache(self.fs)
        for name in self.fs.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                v = int(name[1:-5])
                if v > cur - keep_last or v in pinned:
                    continue
                if cutoff is not None:
                    doc = _load_root_doc(self.fs, self.meta_dir, v)
                    if _parse_iso_utc(doc["timestamp"]) >= cutoff:
                        continue
                self.fs.remove(self.fs.join(self.meta_dir, name))
                gone_r = cache["roots"].pop((self.meta_dir, v), None)
                if gone_r is not None:
                    cache["roots_bytes"] -= gone_r[1]
                removed += 1
        # the sweep runs UNCONDITIONALLY: orphaned segments also come
        # from aborted transactions and lost commit races, which remove
        # no snapshot — gating on `removed` would let metadata/segments/
        # grow without bound on tables whose snapshots never expire
        swept = self._sweep_segments()
        return {"expired_snapshots": removed, "expired_segments": swept}

    def _sweep_segments(self) -> int:
        """Delete segment files no remaining manifest (published OR
        reserved — both exist as ``v{N}.json``) references, age-gated by
        the same in-flight GC grace as data dirs: a concurrent commit
        writes its segments moments before its root, so fresh
        unreferenced segments are an in-flight commit, not garbage.
        Root-only reads — O(retained manifests), zero segment parses."""
        seg_root = self.fs.join(self.meta_dir, SEGMENTS_DIRNAME)
        if not self.fs.isdir(seg_root):
            return 0
        cur = self.current_version()
        referenced: set[str] = set()
        for name in self.fs.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                v = int(name[1:-5])
                doc = _load_root_doc(self.fs, self.meta_dir, v, cacheable=(v <= cur))
                referenced.update((doc.get("segments") or {}).values())
        grace = self._gc_grace()
        now = time.time()
        cache = _meta_cache(self.fs)
        swept = 0
        for fname in self.fs.listdir(seg_root):
            if fname in referenced:
                continue
            path = self.fs.join(seg_root, fname)
            try:
                if now - self.fs.mtime(path) <= grace:
                    continue
                self.fs.remove(path)
            except FileNotFoundError:
                continue  # vanished concurrently
            gone = cache["segments"].pop((self.meta_dir, fname), None)
            if gone is not None:
                cache["segments_bytes"] -= gone[1]
            swept += 1
        return swept

    # -------------------------------------------------- shallow clones
    def _clones_meta_dir(self) -> str:
        return self.fs.join(self.meta_dir, "clones")

    def clone_markers(self) -> list[dict]:
        """Live clone markers on THIS table: ``{"clone": location}``
        records dropped under ``metadata/clones/`` by
        :meth:`LakeCatalog.clone_table` for every table whose manifests
        reference data dirs under this location. GC, DROP and RENAME
        consult them; stale markers (clone dropped or fully localized)
        self-heal in :meth:`remove_orphan_files`."""
        cd = self._clones_meta_dir()
        out = []
        if self.fs.isdir(cd):
            for name in sorted(self.fs.listdir(cd)):
                if not name.endswith(".json"):
                    continue
                try:
                    rec = json.loads(self.fs.read_text(self.fs.join(cd, name)))
                except (FileNotFoundError, ValueError):
                    continue
                rec["_marker"] = self.fs.join(cd, name)
                out.append(rec)
        return out

    def _foreign_roots(self) -> set[str]:
        """Table roots of every ABSOLUTE data/delete dir referenced by
        any of this table's manifests (main + branches) that lives
        outside this table — the sources a shallow clone still leans
        on. O(manifests); empty for ordinary tables and for clones
        whose history has been fully compacted+expired local."""
        roots: set[str] = set()
        own = self.location.rstrip("/") + "/"

        def _scan(meta_dir):
            if not self.fs.isdir(meta_dir):
                return
            for name in self.fs.listdir(meta_dir):
                if name.startswith("v") and name.endswith(".json"):
                    snap = load_manifest(
                        self.fs, meta_dir, int(name[1:-5])
                    )
                    for d in snap.all_dirs() + snap.all_delete_dirs():
                        if d.startswith("/") and not d.startswith(own):
                            roots.add(d.rsplit("/data/", 1)[0])

        _scan(self.meta_dir)
        for br_name in self.branches():
            _scan(self.fs.join(self.meta_dir, "branches", br_name))
        return roots

    def remove_orphan_files(
        self, dry_run: bool = False, older_than_s: float | None = None
    ) -> dict:
        """Delete data dirs unreferenced by any remaining manifest
        (Iceberg ``remove_orphan_files``, ``src/utils/maintenance.py:266-271``).
        Staged-but-unpublished WAP writes count as referenced — their
        data must survive until ``publish_staged`` / ``abort_staged`` —
        and so does everything any live BRANCH manifest references
        (branches share main's data dirs), and everything any live
        SHALLOW CLONE's manifests reference (clones hold absolute refs
        into this table's data dirs and drop a marker here at clone
        time — the Delta-shallow-clone "vacuum breaks clones" hazard,
        closed by construction). Markers whose clone is gone or no
        longer references this table are pruned. ``dry_run=True``
        reports the dirs that WOULD be deleted without touching them
        (the look-before-you-GC audit every irreversible delete
        deserves).

        ``older_than_s`` is the in-flight-writer grace (Iceberg's
        ``older_than``, default 3 days, exists for the same reason): a
        commit writes its ``data/c-*`` dir FIRST and publishes the
        manifest referencing it only after the write finishes, so a
        concurrent GC sees every in-flight commit as an orphan — at
        100 TB a bucketed write runs for minutes, plenty of window to
        delete data out from under it. Orphan dirs younger than the
        grace are therefore KEPT (reported as ``orphan_dirs_protected``)
        and reclaimed by a later run. The default (``GC_GRACE_S``) is a
        REAL bound for every commit kind because publish enforces the
        other side: ``_commit`` refuses to flip ``_current`` when any of
        the commit's freshly-written dirs has aged past the same grace
        (plain append/merge included — the reserved-manifest reclaim
        gate only bounds STAGED/txn commits' reserve-to-publish window,
        and a plain commit reserves its manifest at the END of the data
        write). Note the dir-mtime clock here measures write START
        (files land in nested ``_bucket=`` subdirs, so the commit dir's
        POSIX mtime freezes at creation) — the same clock the publish
        gate uses, so the two sides agree. Callers passing a SMALLER
        grace (tests use 0.0 on quiesced tables) opt out of in-flight
        protection and must know no write is running. Clone-marker
        pruning is metadata staleness and is not age-gated.

        ``older_than_s=None`` (default) follows the table's
        ``commit.gc-grace-seconds`` property (else ``GC_GRACE_S``) —
        the same value the publish gate enforces."""
        if older_than_s is None:
            older_than_s = self._gc_grace()
        live: set[str] = set()
        ndv_live: set[str] = set()
        own_prefix = self.data_dir.rstrip("/") + "/"

        def _keep(d: str, owner_location: str) -> None:
            # resolve against the MANIFEST OWNER's location, then keep
            # only dirs that land under OUR data dir (a clone's local
            # dirs are its own GC's business)
            abs_d = d if d.startswith("/") else self.fs.join(owner_location, d)
            if abs_d.startswith(own_prefix):
                live.add(abs_d[len(own_prefix):].split("/")[0])

        def _walk_meta(meta_dir, table):
            cur = _meta_current(self.fs, meta_dir)
            for name in self.fs.listdir(meta_dir):
                if name.startswith("v") and name.endswith(".json"):
                    v = int(name[1:-5])
                    snap = load_manifest(
                        self.fs, meta_dir, v, cacheable=(v <= cur)
                    )
                    for d in snap.all_dirs() + snap.all_delete_dirs():
                        _keep(d, table.location)
                    # NDV sidecar pointers are location-relative: only
                    # manifests of THIS location (main + its branches)
                    # can reference sidecars under our metadata/ndv
                    if table.location == self.location:
                        ndv_live.update(snap.ndv.values())
            for wap_id in table.staged_ids():
                doc = table._load_staged(wap_id)
                for dirs in doc["buckets"].values():
                    for d in dirs:
                        _keep(d, table.location)

        _walk_meta(self.meta_dir, self)
        for br_name in self.branches():
            br = self.branch(br_name)
            _walk_meta(br.meta_dir, br)
        stale_markers: list[str] = []
        for rec in self.clone_markers():
            clone = LakeTable(self.spark, rec["clone"], fs=self.fs)
            if not clone.exists():
                stale_markers.append(rec["_marker"])
                continue
            # Stale ONLY when no clone manifest references this table any
            # more (fully localized: compacted + expired). A live-set
            # DELTA is the wrong predicate: a fresh clone references
            # exactly the source's current-snapshot dirs — already in
            # `live` from the source's own manifests — so it would add
            # nothing NEW while being fully dependent, and pruning its
            # marker lets a later compact+expire+GC delete dirs the clone
            # still reads.
            #
            # Localized-clone short-circuit: the predicate runs FIRST —
            # a localized clone's manifests cannot contribute anything
            # under our data dir (``_keep`` filters on own_prefix, and
            # WAP-staged docs only ever hold freshly-written RELATIVE
            # dirs, see ``stage_append``), so walking them is pure cost.
            # With K clones of which L are localized, GC parses
            # (K-L)·2 + L manifest sets instead of K·2 — the
            # ``gc_with_clones`` bench tier pins this cost model.
            if self.location.rstrip("/") not in clone._foreign_roots():
                stale_markers.append(rec["_marker"])
                continue
            _walk_meta(clone.meta_dir, clone)
            for br_name in clone.branches():
                br = clone.branch(br_name)
                _walk_meta(br.meta_dir, br)
        orphans, protected = [], []
        now = time.time()
        if self.fs.isdir(self.data_dir):
            for entry in self.fs.listdir(self.data_dir):
                if entry in live:
                    continue
                try:
                    fresh = now - self.fs.mtime(
                        self.fs.join(self.data_dir, entry)
                    ) < older_than_s
                except FileNotFoundError:
                    continue  # vanished concurrently — nothing to do
                (protected if fresh else orphans).append(entry)
        # NDV sidecars: swept by the same referenced-set logic — an
        # entry under metadata/ndv no remaining manifest points at is
        # an orphan (expired analyze versions, failed analyze commits).
        # The age gate is the SAME in-flight grace: an analyze writes
        # its sidecar files BEFORE its metadata commit, exactly like a
        # data write.
        ndv_orphans: list[str] = []
        ndv_root = self.fs.join(self.location, NDV_SIDECAR_DIR)
        if self.fs.isdir(ndv_root):
            for entry in self.fs.listdir(ndv_root):
                rel = self.fs.join(NDV_SIDECAR_DIR, entry)
                if rel in ndv_live:
                    continue
                try:
                    fresh = now - self.fs.mtime(
                        self.fs.join(ndv_root, entry)
                    ) < older_than_s
                except FileNotFoundError:
                    continue
                if not fresh:
                    ndv_orphans.append(entry)
        if dry_run:
            return {
                "orphan_dirs_removed": 0,
                "orphan_dirs_found": sorted(orphans),
                "orphan_dirs_protected": sorted(protected),
                "orphan_ndv_sidecars_found": sorted(ndv_orphans),
            }
        for mpath in stale_markers:
            try:
                self.fs.remove(mpath)
            except FileNotFoundError:
                pass
        for entry in orphans:
            self.fs.rmtree(self.fs.join(self.data_dir, entry))
        for entry in ndv_orphans:
            self.fs.rmtree(self.fs.join(ndv_root, entry))
        return {
            "orphan_dirs_removed": len(orphans),
            "orphan_dirs_protected": len(protected),
            "orphan_ndv_sidecars_removed": len(ndv_orphans),
        }


class LakeBranch(LakeTable):
    """A writeable branch of a :class:`LakeTable` (Iceberg branch ref).

    Same table location — data dirs are SHARED with main — but its own
    metadata namespace (``metadata/branches/<name>/``) with a
    branch-local version chain, so every inherited operation (reads,
    time travel, full DML, compaction, schema evolution, WAP staging)
    works unchanged and stays invisible to main until
    :meth:`LakeTable.fast_forward` promotes the branch head.
    """

    def __init__(self, main: LakeTable, name: str):
        super().__init__(main.spark, main.location, fs=main.fs)
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"branch name must be [A-Za-z0-9._-]+, got {name!r}")
        self.branch_name = name
        self.main_meta_dir = self.meta_dir
        self.meta_dir = self.fs.join(self.meta_dir, "branches", name)

    # one level of branching only — a branch of a branch has no
    # fast-forward story and would nest metadata namespaces unboundedly
    def create_branch(self, name, version=None):
        raise ValueError("nested branches are not supported; fork from main")

    def branch(self, name):
        raise ValueError("nested branches are not supported; use the main table")

    def fast_forward(self, name):
        raise ValueError("fast_forward runs on the MAIN table")

    def remove_orphan_files(self, dry_run: bool = False,
                            older_than_s: float | None = None):
        # a branch-scoped walk would miss main's manifests and delete
        # dirs main still references — GC is a whole-table operation
        raise ValueError("remove_orphan_files runs on the MAIN table "
                         "(it walks every branch's manifests)")


class LakeCatalog:
    """Filesystem catalog: ``{warehouse}/{schema}/{table}`` (the reference's
    Glue/Polaris catalogs resolve 3-part names the same way,
    ``src/utils/cdc_pipeline.py:262``)."""

    def __init__(self, spark: SparkSession, warehouse: str, fs=None):
        self.spark = spark
        self.fs = fs or DEFAULT_FS
        self.warehouse = warehouse.rstrip("/")

    def _loc(self, name: str) -> str:
        schema, _, table = name.rpartition(".")
        return self.fs.join(self.warehouse, schema or "default", table)

    def table(self, name: str) -> LakeTable:
        return LakeTable(self.spark, self._loc(name), fs=self.fs)

    def create_or_replace(self, name: str, df: DataFrame, **kw) -> LakeTable:
        t = self.table(name)
        t.create_or_replace(df, **kw)
        return t

    def clone_table(self, name: str, target_name: str) -> LakeTable:
        """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW
        CLONE`` / Iceberg snapshot-ref analogue): the target's v0
        manifest references the source's CURRENT data dirs by absolute
        path — no data moves, clone cost is one manifest write
        regardless of table size. The clone is fully independent from
        then on: DML, compaction, branches, WAP and time travel all
        work, and every write lands under the clone's own location
        (compaction progressively localizes it).

        GC protocol (the part Delta documents as a footgun and this
        catalog closes by construction): the clone drops a marker under
        each source's ``metadata/clones/``, and the source's
        ``remove_orphan_files`` keeps every dir any live clone manifest
        still references. DROP and RENAME of a source with live clones
        are refused; dropping the clone removes its markers; renaming a
        clone re-keys them."""
        src = self.table(name)
        if not src.exists():
            raise ValueError(f"no such table {name!r}")
        dst = self.table(target_name)
        if dst.exists():
            raise ValueError(f"target table {target_name!r} already exists")
        snap = src.snapshot()

        def absd(d: str) -> str:
            return d if d.startswith("/") else self.fs.join(src.location, d)

        buckets = {b: [absd(d) for d in dirs] for b, dirs in snap.buckets.items()}
        deletes = {
            b: [{"dir": absd(e["dir"]), "covers": [absd(c) for c in e["covers"]]}
                for e in entries]
            for b, entries in snap.deletes.items()
        }
        stats = {absd(d): dict(v) for d, v in snap.stats.items()}
        renames = {absd(d): dict(m) for d, m in snap.renames.items()}
        roots = sorted({
            d.rsplit("/data/", 1)[0]
            for dirs in buckets.values() for d in dirs
        } | {
            e["dir"].rsplit("/data/", 1)[0]
            for entries in deletes.values() for e in entries
        })
        # markers FIRST: a marker without a clone self-heals at the next
        # source GC; a clone without a marker would be exposed to it
        for root in roots:
            cd = self.fs.join(root, "metadata", "clones")
            self.fs.makedirs(cd)
            marker = self.fs.join(cd, f"clone-{_md5_hex(dst.location)}.json")
            if not self.fs.exists(marker):
                self.fs.write_exclusive(marker, json.dumps({"clone": dst.location}))
        clone_snap = Snapshot(
            version=0,
            parent=None,
            timestamp=_utcnow(),
            operation="clone",
            schema_json=snap.schema_json,
            key=snap.key,
            n_buckets=snap.n_buckets,
            buckets=buckets,
            properties={**snap.properties},
            summary={"cloned-from": src.location,
                     "source-version": snap.version},
            stats=stats,
            deletes=deletes,
            renames=renames,
        )
        dst._write_manifest(clone_snap)
        return dst

    def drop(self, name: str, purge: bool = True) -> None:
        """DROP TABLE. ``purge=True`` (default) destroys the table:
        refused while a live shallow clone still references its data
        (the rename guard's predicate), and withdraws this table's own
        markers from its clone sources before removing the directory.
        ``purge=False`` is the soft drop (Delta's unmanaged-table DROP
        shape: files stay): the location — data, metadata, ``_current``
        — is left untouched and re-openable via :meth:`table`, and its
        markers on source tables REMAIN, because a readable table must
        keep its GC protection (withdrawing them here was the round-10
        clone-breaking bug)."""
        loc = self._loc(name)
        t = LakeTable(self.spark, loc, fs=self.fs)
        if self.fs.isdir(loc):
            if purge:
                holders = [
                    rec["clone"] for rec in t.clone_markers()
                    if LakeTable(self.spark, rec["clone"], fs=self.fs).exists()
                    and self.location_referenced_by(rec["clone"], loc)
                ]
                if holders:
                    raise ValueError(
                        f"table {name!r} has live shallow clones referencing "
                        f"its data: {holders}; drop or compact+expire them "
                        "first"
                    )
            if purge:
                # withdraw this table's own markers from its sources —
                # ONLY when the data goes away with it. A keep-data drop
                # (purge=False) leaves `_current` in place and the table
                # readable, so its sources must keep protecting the dirs
                # it references.
                for root in t._foreign_roots():
                    marker = self.fs.join(
                        root, "metadata", "clones",
                        f"clone-{_md5_hex(loc)}.json",
                    )
                    try:
                        self.fs.remove(marker)
                    except FileNotFoundError:
                        pass
        if purge and self.fs.isdir(loc):
            self.fs.rmtree(loc)
            evict_meta_cache(self.fs, loc)

    def location_referenced_by(self, clone_loc: str, source_loc: str) -> bool:
        """True when any manifest of the table at ``clone_loc`` (main or
        branch) references a dir under ``source_loc`` — O(manifests)."""
        t = LakeTable(self.spark, clone_loc, fs=self.fs)
        return source_loc.rstrip("/") in t._foreign_roots()

    def rename_table(self, name: str, new_name: str) -> LakeTable:
        """ALTER TABLE RENAME. Identity in this catalog IS the directory
        path, so a rename is one atomic directory move — snapshots,
        branches, tags and staged WAP writes all travel with it because
        every manifest reference is location-relative. Readers holding
        the old handle fail on next access (same contract as Iceberg's
        catalog rename)."""
        src, dst = self._loc(name), self._loc(new_name)
        if not self.fs.exists(self.fs.join(src, "metadata", "_current")):
            raise ValueError(f"no such table {name!r}")
        if self.fs.isdir(dst):
            raise ValueError(f"target table {new_name!r} already exists")
        # a shallow clone's absolute refs into this location would dangle
        src_t = LakeTable(self.spark, src, fs=self.fs)
        holders = [
            rec["clone"] for rec in src_t.clone_markers()
            if LakeTable(self.spark, rec["clone"], fs=self.fs).exists()
            and self.location_referenced_by(rec["clone"], src)
        ]
        if holders:
            raise ValueError(
                f"table {name!r} has live shallow clones referencing its "
                f"data: {holders}; drop or compact+expire them first"
            )
        clone_roots = src_t._foreign_roots()
        # an interrupted multi-table transaction may still hold an
        # intent-log flip for this location; moving the directory out
        # from under it would make the flip permanently unresolvable
        # (records hold absolute locations)
        txn_dir = self.fs.join(self.warehouse, "_txn")
        if self.fs.isdir(txn_dir):
            for rec_name in self.fs.listdir(txn_dir):
                if not (rec_name.startswith("txn-") and rec_name.endswith(".json")):
                    continue
                try:
                    rec = json.loads(
                        self.fs.read_text(self.fs.join(txn_dir, rec_name))
                    )
                except FileNotFoundError:
                    continue
                except ValueError:
                    continue  # torn record names nothing (see txn.py)
                if any(f["location"] == src for f in rec.get("flips", [])):
                    raise ValueError(
                        f"table {name!r} is referenced by pending transaction "
                        f"record {rec_name}; run recover_transactions() first"
                    )
        parent = dst.rsplit("/", 1)[0]
        self.fs.makedirs(parent)
        self.fs.move(src, dst)
        evict_meta_cache(self.fs, src)
        evict_meta_cache(self.fs, dst)
        # a renamed CLONE re-keys its markers so source GC keeps honoring
        # them (markers are keyed by the clone's location hash)
        for root in clone_roots:
            cd = self.fs.join(root, "metadata", "clones")
            old = self.fs.join(cd, f"clone-{_md5_hex(src)}.json")
            new = self.fs.join(cd, f"clone-{_md5_hex(dst)}.json")
            self.fs.makedirs(cd)
            if not self.fs.exists(new):
                self.fs.write_exclusive(new, json.dumps({"clone": dst}))
            try:
                self.fs.remove(old)
            except FileNotFoundError:
                pass
        return LakeTable(self.spark, dst, fs=self.fs)

    def transaction(self):
        """Multi-table atomic commit scope — see
        :class:`datalake_iceberg_spark.txn.CatalogTransaction`."""
        from datalake_iceberg_spark.txn import CatalogTransaction

        return CatalogTransaction(self)

    def recover_transactions(
        self, reclaim_reserved_after_s: float | None = 3600.0
    ) -> list[dict]:
        """Roll forward transactions interrupted mid-publish — see
        :func:`datalake_iceberg_spark.txn.recover_transactions`."""
        from datalake_iceberg_spark.txn import recover_transactions

        return recover_transactions(
            self, reclaim_reserved_after_s=reclaim_reserved_after_s
        )

    def reclaim_reserved_manifests(
        self, older_than_s: float = 3600.0, dry_run: bool = False
    ) -> list[str]:
        """GC reserved manifests leaked by pre-commit-point crashes —
        see :func:`datalake_iceberg_spark.txn.reclaim_reserved_manifests`."""
        from datalake_iceberg_spark.txn import reclaim_reserved_manifests

        return reclaim_reserved_manifests(
            self, older_than_s=older_than_s, dry_run=dry_run
        )

    def storage_report(self, schema: str = "default") -> list[dict]:
        """Per-table storage accounting for one schema — the capacity
        question every warehouse owner asks before GC: how many bytes
        are on disk, how many are LIVE at the current version, how much
        would compaction + expiry + orphan GC reclaim, and who depends
        on whom (clone markers / clone sources), so GC isn't run blind
        against a table other tables still lean on.

        Driver-side metadata walk: O(manifests + file entries) listing,
        no data reads (on an object store the listing fans out through
        the fs seam the same way the stats harvest does). Bytes are
        physical parquet bytes; ``reclaimable_bytes`` counts on-disk
        commit dirs referenced by NO retained manifest, staged write,
        branch or live clone (what ``remove_orphan_files`` would free
        right now)."""
        out = []
        for name in self.list_tables(schema):
            t = self.table(name)
            snap = t.snapshot()
            live_now = set(snap.all_dirs() + snap.all_delete_dirs())
            own_prefix = t.data_dir.rstrip("/") + "/"
            # accounting asks "unreferenced by anything?", a pure
            # reference question — the in-flight-writer grace is an
            # operational delay, so audit with it disabled (a fresh
            # orphan is still reclaimable bytes, just not yet)
            would_free = t.remove_orphan_files(
                dry_run=True, older_than_s=0.0
            )["orphan_dirs_found"]
            cur_components = set()
            for d in live_now:
                abs_d = d if d.startswith("/") else self.fs.join(t.location, d)
                if abs_d.startswith(own_prefix):
                    cur_components.add(abs_d[len(own_prefix):].split("/")[0])

            def _du(path: str) -> int:
                if not self.fs.isdir(path):
                    return 0
                total = 0
                for entry in self.fs.listdir(path):
                    p = self.fs.join(path, entry)
                    total += _du(p) if self.fs.isdir(p) else self.fs.size(p)
                return total

            on_disk = live_bytes = reclaim = 0
            if self.fs.isdir(t.data_dir):
                for entry in self.fs.listdir(t.data_dir):
                    b = _du(self.fs.join(t.data_dir, entry))
                    on_disk += b
                    if entry in cur_components:
                        live_bytes += b
                    if entry in would_free:
                        reclaim += b
            out.append({
                "table": name,
                "current_version": snap.version,
                "retained_manifests": len([
                    n for n in self.fs.listdir(t.meta_dir)
                    if n.startswith("v") and n.endswith(".json")
                ]),
                "data_bytes_on_disk": on_disk,
                "live_bytes": live_bytes,
                "reclaimable_bytes": reclaim,
                "clones": sorted(m["clone"] for m in t.clone_markers()),
                "clone_of": sorted(t._foreign_roots()),
            })
        return out

    def list_tables(self, schema: str = "default") -> list[str]:
        d = self.fs.join(self.warehouse, schema)
        if not self.fs.isdir(d):
            return []
        return sorted(
            f"{schema}.{t}" for t in self.fs.listdir(d)
            if self.fs.exists(self.fs.join(d, t, "metadata", "_current"))
        )


def copy_table(
    source: LakeCatalog,
    target: LakeCatalog,
    name: str,
    target_name: str | None = None,
    version: int | None = None,
) -> LakeTable:
    """Catalog-to-catalog table copy (the reference's dual-catalog
    migration flow, ``tests/00.session_multi_catalog.ipynb``: prod →
    qa with independent credentials per catalog). Copies one snapshot's
    data through a full scan + RTAS, preserving key/bucket layout."""
    src = source.table(name)
    snap = src.snapshot(version)
    df = src.read(version)
    dst = target.table(target_name or name)
    dst.create_or_replace(df, key=snap.key, n_buckets=snap.n_buckets,
                          properties=dict(snap.properties))
    return dst
