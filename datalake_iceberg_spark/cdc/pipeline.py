"""CDC apply pipeline: envelope → flatten → cast → dedup-latest → MERGE+DELETE.

Rebuilds the semantics of the reference's ``src/utils/cdc_pipeline.py``
batch processor as composable DataFrame transforms:

1. ``flatten_envelope`` — project ``after.*`` (falling back to ``before.*``
   for deletes, whose ``after`` is null) plus ``__op`` / ``__offset`` /
   event-ts metadata (reference ``cdc_pipeline.py:175-181``).
2. ``surrogate key`` — ``id_iceberg = md5(concat_ws('|', pk...))`` from the
   *decoded key fields* (``cdc_pipeline.py:171-174``).
3. ``cast to target schema`` — column-by-column cast to the catalog
   table's types; target schema is authoritative, evolution is off
   (``cdc_pipeline.py:185-197``, ``iceberg.py:75-78``).
4. ``dedup_latest`` — the load-bearing window idiom (``row_number() OVER
   (PARTITION BY id_iceberg ORDER BY __offset DESC) = 1``,
   ``cdc_pipeline.py:199-204``): collapse multiple events per PK within a
   batch to the final state. MERGE forbids duplicate source keys, so this
   must run before every merge.
5. ``split_upserts_deletes`` — op-code split (``cdc_pipeline.py:206-207``).
6. ``apply_cdc_changes`` — MERGE the upserts and DELETE the delete-set
   (``cdc_pipeline.py:221-251``) against a :class:`LakeTable` as one
   keyed rewrite: one probe, one write and one commit carrying one
   ``txn.<app>`` marker per micro-batch.

Scale notes: steps 1-3 and 5 are stateless projections/filters (codegen,
no shuffle). Step 4 shuffles once on ``id_iceberg`` — the same shuffle the
MERGE join needs, so AQE can reuse the exchange. The merge rewrites only
key-hash buckets touched by the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalake_iceberg_spark.functions.keys import (
    AUDIT_COL,
    SURROGATE_KEY_COL,
    surrogate_key_expr,
)
from datalake_iceberg_spark.tables import LakeTable

OP_COL = "__op"
OFFSET_COL = "__offset"
META_COLS = (OP_COL, OFFSET_COL)


def flatten_envelope(
    df: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    after_col: str = "after",
    before_col: str = "before",
    offset_col: str = "offset",
    ts_ms_col: str = "ts_ms",
) -> DataFrame:
    """Debezium envelope → flat change rows.

    For ``op='d'`` the payload lives in ``before``; for c/u/r in ``after``.
    The surrogate key is computed from the payload PK columns so deletes
    and upserts key identically.
    """
    payload = F.when(F.col(op_col) == "d", F.col(before_col)).otherwise(F.col(after_col))
    df = df.withColumn("__payload", payload)
    key_exprs = [F.col(f"__payload.{k}") for k in key_cols]
    return df.select(
        F.col("__payload.*"),
        F.col(op_col).alias(OP_COL),
        F.col(offset_col).cast("long").alias(OFFSET_COL),
        F.timestamp_millis(F.col(ts_ms_col).cast("long")).alias(AUDIT_COL),
    ).withColumn(SURROGATE_KEY_COL, surrogate_key_expr(key_cols))


def cast_to_target_schema(df: DataFrame, table: LakeTable) -> DataFrame:
    """Cast payload columns to the target table's types, keep CDC meta."""
    target = table.schema()
    target_names = {f.name for f in target.fields}
    casted = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in target.fields
        if f.name in set(df.columns)
    ]
    meta = [F.col(c) for c in df.columns if c in META_COLS and c not in target_names]
    return df.select(*casted, *meta)


def dedup_latest(
    df: DataFrame, key: str | list[str] = SURROGATE_KEY_COL, order_col: str = OFFSET_COL
) -> DataFrame:
    """Keep only the last event per key within the batch (WF1).

    Computed as a ``max_by`` aggregation rather than the reference's
    rank window (r15 optimization): the window shuffles and sorts every
    change row, while max_by partial-aggregates map-side so one row per
    key crosses the exchange — on a CDC batch that is shuffling the
    distinct keys instead of the whole change stream. Same row wins
    (max ``order_col``; ties were window-arbitrary before and are
    max_by-arbitrary now — offsets are unique per key in practice)."""
    keys = [key] if isinstance(key, str) else list(key)
    others = [c for c in df.columns if c not in keys]
    # order_col coalesced to -1 inside the max_by key (ADVICE r15):
    # max_by skips NULL-ordered rows, so a key whose offsets were all
    # NULL would otherwise yield NULL payload columns where the
    # reference's window (desc = nulls last) kept a complete real row.
    agg = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*others), F.coalesce(F.col(order_col), F.lit(-1))
        ).alias("__b")
    )
    # re-project in the input's exact column order
    return agg.select(
        *[
            F.col(c) if c in keys else F.col(f"__b.{c}").alias(c)
            for c in df.columns
        ]
    )


def split_upserts_deletes(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    upserts = df.filter(F.col(OP_COL) != "d").drop(*META_COLS)
    deletes = df.filter(F.col(OP_COL) == "d").drop(*META_COLS)
    return upserts, deletes


def transform_and_dedup(
    envelope_df: DataFrame, table: LakeTable, key_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Envelope → (upserts, deletes), deduped to final-state-per-key."""
    flat = flatten_envelope(envelope_df, key_cols)
    casted = cast_to_target_schema(flat, table)
    deduped = dedup_latest(casted)
    return split_upserts_deletes(deduped)


def apply_cdc_changes(
    table: LakeTable,
    upserts: DataFrame,
    deletes: DataFrame,
    mode: str = "copy-on-write",
    txn_app: str | None = None,
    txn_version: int | None = None,
):
    """Apply one deduplicated micro-batch — upserts and the delete-set —
    as ONE keyed rewrite and ONE commit: ``LakeTable.merge(upserts,
    deletes=...)``, the reference's ``MERGE INTO`` + ``DELETE``
    (``cdc_pipeline.py:221-251``) fused the way Delta runs a MERGE with
    a ``WHEN MATCHED … THEN DELETE`` clause. Dedup already guarantees
    unique, disjoint keys, so the fused result equals MERGE-then-DELETE.
    A batch with no rows on either side makes no commit. Returns the
    committed snapshot (the current one when nothing was committed).

    ``mode`` selects the write strategy — ``"copy-on-write"``
    (read-optimized, the reference's default) or ``"merge-on-read"``
    (O(batch) commits for hot high-frequency streams; schedule
    ``rewrite_position_delete_files`` to fold the accumulated eras, as
    the reference does via ``position_delete_interval``).

    ``txn_app``/``txn_version`` make the apply exactly-once under
    replay: the commit records the single ``txn.<app>`` marker, and a
    batch at or below it is skipped. Batches committed by the earlier
    two-commit scheme carry ``txn.<app>:upsert`` and ``txn.<app>:delete``
    markers instead; a batch at or below BOTH is skipped, and any other
    legacy state re-applies the whole batch, which converges because
    applying a final-state-per-key batch is idempotent."""
    if txn_app is not None and txn_version is not None and table.exists():
        snap = table.snapshot()
        legacy = [snap.properties.get(f"txn.{txn_app}:{side}")
                  for side in ("upsert", "delete")]
        if all(m is not None and txn_version <= int(m) for m in legacy):
            return snap
    return table.merge(upserts, deletes=deletes, assert_unique_key=False, mode=mode,
                       txn_app=txn_app, txn_version=txn_version)


def batch_stats(df: DataFrame, ts_col: str = AUDIT_COL, offset_col: str = OFFSET_COL):
    """One-pass batch metrics for the watermark ledger
    (reference ``cdc_pipeline.py:317-322``)."""
    return df.agg(
        F.count("*").alias("event_count"),
        F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("max_event_ts"),
        F.min(offset_col).alias("min_offset"),
        F.max(offset_col).alias("max_offset"),
    ).first()


def quarantine_invalid(
    source: DataFrame,
    table: LakeTable,
    dlq: LakeTable | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split for a CDC batch against the target table's
    CHECK constraints: returns ``(clean, invalid)`` where ``invalid``
    carries a ``__violations`` column naming every failed constraint —
    the operational alternative to failing the whole micro-batch (the
    write-path gate, ``LakeTable._enforce_constraints``, raises; a
    24/7 stream wants the batch's GOOD rows applied and the bad ones
    parked for triage). When ``dlq`` is given, invalid rows append to
    it (serialized to JSON strings + reason, so one DLQ table serves
    any source schema).

    Both halves are filters over one projection (the constraint
    expressions evaluate once per row in codegen); nothing shuffles
    here. NULL evaluations quarantine, matching the gate's semantics.
    """
    checks = table.constraints() if table.exists() else {}
    if not checks:
        return source, source.limit(0).withColumn(
            "__violations", F.lit(None).cast("string")
        )
    names = sorted(checks)
    viol = F.concat_ws(
        ",",
        *[
            F.when(F.expr(checks[n]), F.lit(None)).otherwise(F.lit(n))
            for n in names
        ],
    )
    tagged = source.withColumn("__violations", viol)
    clean = tagged.where(F.col("__violations") == "").drop("__violations")
    invalid = tagged.where(F.col("__violations") != "")
    if dlq is not None:
        dlq.append(
            invalid.select(
                F.to_json(F.struct(*[c for c in source.columns])).alias("row_json"),
                F.col("__violations").alias("violations"),
                F.current_timestamp().alias("quarantined_at"),
            )
        )
    return clean, invalid
