"""Operational watermark ledger.

Rebuilds the reference's two progress-ledger tables
(``src/utils/watermark.py``): ``cdc_watermark`` (per-batch ingest
metrics, F3) and ``maintenance_watermark`` (procedure history, F4).
NOT Spark's event-time watermark — this is an append-only ops log.

How rows are written: each append is one row through
``LakeTable.append_rows`` — the driver writes one small parquet file
into a fresh commit dir and commits it, with no Spark job (the runner
and the maintenance service append several rows per micro-batch, and a
Spark write job per row was a large share of the batch's fixed cost).
The ledgers are unkeyed and declare no constraints or writer
properties, so they always take that driver path.

Design decisions carried over from the reference:
- **append-only under concurrency** (``watermark.py:175-180``): every
  topic/thread appends its own rows; conflict-free because each append
  writes only its own new dir, and a commit that loses a race rebases
  by re-unioning the directory lists onto the new parent (the moral
  equivalent of Iceberg's ``commit.retry`` on AppendFiles).
- **merge variant reserved for single-writer** (``watermark.py:212-216``).
- **purge with keep-latest** (``watermark.py:408-458``): delete rows
  older than a retention interval *except* the latest row per key, so
  the "last success" map never loses data.
- **last-completed map** (``watermark.py:364-390``): groupBy-max over
  (schema, table[, procedure]) for interval-gated scheduling.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_iceberg_spark.tables import LakeCatalog, LakeTable

CDC_WATERMARK_SCHEMA = T.StructType([
    T.StructField("dag_id", T.StringType()),
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("scheduled_at", T.TimestampType()),
    T.StructField("max_event_ts", T.TimestampType()),
    T.StructField("processed_at", T.TimestampType()),
    T.StructField("min_offset", T.LongType()),
    T.StructField("max_offset", T.LongType()),
    T.StructField("event_count", T.LongType()),
    T.StructField("processing_duration_sec", T.DoubleType()),
    T.StructField("batch_id", T.LongType()),
])

MAINT_WATERMARK_SCHEMA = T.StructType([
    T.StructField("dag_id", T.StringType()),
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("procedure_type", T.StringType()),
    T.StructField("started_at", T.TimestampType()),
    T.StructField("completed_at", T.TimestampType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("status", T.StringType()),
    T.StructField("error_message", T.StringType()),
    T.StructField("rewritten_files_count", T.LongType()),
    T.StructField("added_files_count", T.LongType()),
    T.StructField("batch_id", T.LongType()),
])

CDC_TABLE = "di_ops.cdc_watermark"
MAINT_TABLE = "di_ops.maintenance_watermark"


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class WatermarkStore:
    def __init__(self, catalog: LakeCatalog):
        self.catalog = catalog
        self.spark = catalog.spark

    # ------------------------------------------------------------- DDL
    def ensure_tables(self) -> None:
        """CREATE IF NOT EXISTS both ledgers (reference ``watermark.py:24-98``).
        Unkeyed (n_buckets=1): the ledger is small and append-heavy."""
        for name, schema in ((CDC_TABLE, CDC_WATERMARK_SCHEMA), (MAINT_TABLE, MAINT_WATERMARK_SCHEMA)):
            t = self.catalog.table(name)
            if not t.exists():
                t.create_or_replace(self.spark.createDataFrame([], schema))

    def cdc(self) -> LakeTable:
        return self.catalog.table(CDC_TABLE)

    def maintenance(self) -> LakeTable:
        return self.catalog.table(MAINT_TABLE)

    # ------------------------------------------------------------- append
    def append_cdc(
        self, dag_id: str, schema_name: str, table_name: str, *,
        scheduled_at: datetime | None = None, max_event_ts: datetime | None = None,
        min_offset: int | None = None, max_offset: int | None = None,
        event_count: int = 0, processing_duration_sec: float = 0.0,
        batch_id: int | None = None,
    ) -> None:
        """Append one ingest-progress row (reference ``watermark.py:161-195``);
        safe under concurrent writers."""
        row = dict(
            dag_id=dag_id, schema_name=schema_name, table_name=table_name,
            scheduled_at=scheduled_at, max_event_ts=max_event_ts,
            processed_at=_utcnow(),
            min_offset=min_offset, max_offset=max_offset,
            event_count=event_count,
            processing_duration_sec=processing_duration_sec, batch_id=batch_id,
        )
        self.cdc().append_rows([row])

    def append_maintenance(
        self, dag_id: str, schema_name: str, table_name: str, procedure_type: str, *,
        started_at: datetime, status: str, error_message: str | None = None,
        rewritten_files_count: int = 0, added_files_count: int = 0,
        batch_id: int | None = None,
    ) -> None:
        """Append one procedure-history row (reference ``watermark.py:317-356``)."""
        completed = _utcnow()
        row = dict(
            dag_id=dag_id, schema_name=schema_name, table_name=table_name,
            procedure_type=procedure_type, started_at=started_at,
            completed_at=completed,
            duration_sec=(completed - started_at).total_seconds(),
            status=status, error_message=error_message,
            rewritten_files_count=rewritten_files_count,
            added_files_count=added_files_count, batch_id=batch_id,
        )
        self.maintenance().append_rows([row])

    # ------------------------------------------------------------- reads
    def last_completed_map(
        self, procedure_type: str, dag_id: str | None = None
    ) -> dict[tuple[str, str], datetime]:
        """Bulk last-success per (schema, table) for one procedure
        (reference ``watermark.py:364-390``) — one groupBy-max job instead
        of a query per table."""
        df = self.maintenance().read().filter(
            (F.col("procedure_type") == procedure_type) & (F.col("status") == "success")
        )
        if dag_id:
            df = df.filter(F.col("dag_id") == dag_id)
        rows = (
            df.groupBy("schema_name", "table_name")
            .agg(F.max("completed_at").alias("last_completed"))
            .collect()
        )
        return {(r.schema_name, r.table_name): r.last_completed for r in rows}

    @staticmethod
    def should_run(last_completed: datetime | None, interval_sec: int) -> bool:
        """Interval gate (reference ``watermark.py:393-400``)."""
        if interval_sec <= 0:
            return False
        if last_completed is None:
            return True
        return _utcnow() - last_completed >= timedelta(seconds=interval_sec)

    # ------------------------------------------------------------- purge
    def _purge(self, table: LakeTable, key_cols: list[str], ts_col: str, retention_days: int) -> int:
        """DELETE older than retention except each key's latest row
        (reference ``watermark.py:421-458``) — expressed as a window
        filter over the ledger and a full-snapshot rewrite (ledgers are
        small; the big-table path would use ``delete_keys``)."""
        df = table.read()
        w = Window.partitionBy(*key_cols).orderBy(F.desc(ts_col))
        cutoff = F.lit(_utcnow() - timedelta(days=retention_days)).cast("timestamp")
        keep = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col(ts_col) >= cutoff) | (F.col("__rn") == 1))
            .drop("__rn")
        )
        before = df.count()
        table.create_or_replace(keep)
        return before - table.read().count()

    def purge_cdc(self, retention_days: int = 14) -> int:
        return self._purge(
            self.cdc(), ["dag_id", "schema_name", "table_name"], "processed_at", retention_days
        )

    def purge_maintenance(self, retention_days: int = 14) -> int:
        return self._purge(
            self.maintenance(),
            ["dag_id", "schema_name", "table_name", "procedure_type"],
            "completed_at", retention_days,
        )
