"""Streaming CDC runner.

Rebuilds the reference's CDC streaming topology
(``src/utils/cdc_pipeline.py:347-439``, ``src/kafka_to_iceberg.py``):

  source stream → foreachBatch( transform_and_dedup → MERGE/DELETE →
  watermark append ) with per-source checkpoints, ``availableNow``
  drain-and-stop or ``processingTime`` continuous triggers, heartbeat
  watermark when no batch fired, stop-signal file polling, and
  multi-source thread parallelism with a concurrency semaphore.

The Kafka connector jar isn't available in this environment, so the
source seam is a *directory stream* of Debezium-envelope files (the
``readStream.format("json"/"parquet")`` source) — the micro-batch side
(everything after ``foreachBatch``) is identical to what a Kafka source
would feed. Swapping in Kafka is a source-options change
(``format("kafka").option("subscribe", ...)``, rate-capped via
``maxOffsetsPerTrigger`` — reference ``cdc_pipeline.py:384-395``), not
an engine change.

Exactly-once contract (reference ``src/README.md`` checkpoint section):
one checkpoint dir per source, never shared; replayed batches converge
because MERGE on ``id_iceberg`` is idempotent.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datalake_iceberg_spark.cdc.pipeline import (
    apply_cdc_changes,
    batch_stats,
    cast_to_target_schema,
    dedup_latest,
    flatten_envelope,
    split_upserts_deletes,
)
from datalake_iceberg_spark.ops.watermark import WatermarkStore
from datalake_iceberg_spark.tables import LakeTable


@dataclass
class SourceConfig:
    """One CDC source (the analogue of one Kafka topic)."""

    name: str                     # topic/source identifier
    path: str                     # directory the stream reads
    format: str = "json"          # json | parquet
    schema: T.StructType | str | None = None  # envelope schema (required for json)
    key_cols: list[str] = field(default_factory=list)
    max_files_per_trigger: int | None = None  # rate cap (maxOffsetsPerTrigger analogue)
    options: dict = field(default_factory=dict)  # extra reader options
    # wire-decode seam applied to the stream before the CDC pipeline —
    # e.g. cdc.debezium.parse_json_envelope for raw Debezium bytes, or
    # from_avro when the spark-avro jar is deployed (the analogue of the
    # reference's in-stream Confluent decode, cdc_pipeline.py:406-410)
    pre_transform: "object | None" = None
    # per-BATCH decode seam applied inside foreachBatch, for transforms
    # that need an action — e.g. cdc.schema_registry.
    # registry_avro_batch_decoder, whose schema-id resolution collects
    # the batch's distinct wire ids before decoding (the reference does
    # exactly this inside its batch handler, cdc_pipeline.py:269-294).
    # Runs on the PERSISTED batch, after the emptiness check.
    batch_pre_transform: "object | None" = None
    # write strategy for the per-batch MERGE/DELETE apply:
    # "copy-on-write" (read-optimized default) or "merge-on-read"
    # (O(batch) commits for hot topics; pair with the maintenance
    # service's position-delete fold, as the reference schedules via
    # position_delete_interval)
    write_mode: str = "copy-on-write"


class StopSignal:
    """Graceful-shutdown file signal (reference ``src/utils/signal.py:24-52``:
    an S3 object; here a local file — same contract: exists => stop)."""

    def __init__(self, path: str):
        self.path = path

    def is_set(self) -> bool:
        return os.path.exists(self.path)

    def set(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            f.write(str(time.time()))

    def clear(self) -> None:
        if os.path.exists(self.path):
            os.remove(self.path)


class BatchProgressListener:
    """StreamingQueryListener analogue: logs progress and stops all
    active queries when the stop signal appears (reference
    ``signal.py:60-113``). Implemented as a poller thread — the Python
    StreamingQueryListener API needs a Spark listener bus round-trip and
    this behaves identically for the local seam."""

    def __init__(self, spark: SparkSession, signal: StopSignal, poll_sec: float = 1.0):
        self.spark = spark
        self.signal = signal
        self.poll_sec = poll_sec
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.signal.is_set():
                for q in self.spark.streams.active:
                    q.stop()
                return
            time.sleep(self.poll_sec)

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)


def _parse_event_ts(text: str | None, session_tz: str) -> datetime | None:
    """``batch_stats`` formats the batch's newest event time as text in
    the session timezone; parse it back to an aware datetime, so the
    ledger stores the same instant under any process timezone."""
    if text is None:
        return None
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    try:
        return datetime.strptime(text, fmt).replace(tzinfo=ZoneInfo(session_tz))
    except (ValueError, ZoneInfoNotFoundError):  # an offset id, e.g. "+01:00"
        return datetime.strptime(f"{text} {session_tz}", f"{fmt} %z")


class CdcStreamRunner:
    def __init__(
        self,
        spark: SparkSession,
        store: WatermarkStore | None = None,
        checkpoint_root: str = "/tmp/datalake_iceberg_spark/checkpoints",
        dag_id: str = "cdc",
    ):
        self.spark = spark
        self.store = store
        self.checkpoint_root = checkpoint_root
        self.dag_id = dag_id

    @classmethod
    def from_settings(cls, spark: SparkSession, settings=None, store=None) -> "CdcStreamRunner":
        """Construct from the env-driven settings layer — runner
        checkpoint root / dag id come from ``RUNNER__*`` env vars
        (reference deployments configure this through their Settings
        object, ``src/utils/settings.py``)."""
        if settings is None:
            from datalake_iceberg_spark.settings import Settings

            settings = Settings.load()
        return cls(
            spark,
            store=store,
            checkpoint_root=settings.runner.checkpoint_root,
            dag_id=settings.runner.dag_id,
        )

    # ------------------------------------------------------------- source
    def _read_stream(self, source: SourceConfig) -> DataFrame:
        """File-backed sources take ``path``; ``format="kafka"`` takes
        broker/subscribe via ``options`` instead (the reference's source,
        ``cdc_pipeline.py:384-395`` — ``subscribe``,
        ``kafka.bootstrap.servers``, ``maxOffsetsPerTrigger``,
        ``startingOffsets``, ``failOnDataLoss``) and the wire decode
        plugs in through ``pre_transform``."""
        reader = self.spark.readStream.format(source.format)
        if source.format != "kafka" and source.schema is not None:
            schema = source.schema
            if isinstance(schema, str):
                schema = T.StructType.fromDDL(schema)
            reader = reader.schema(schema)
        if source.max_files_per_trigger:
            cap = "maxOffsetsPerTrigger" if source.format == "kafka" else "maxFilesPerTrigger"
            reader = reader.option(cap, source.max_files_per_trigger)
        for k, v in source.options.items():
            reader = reader.option(k, v)
        stream = reader.load() if source.format == "kafka" else reader.load(source.path)
        if source.pre_transform is not None:
            stream = source.pre_transform(stream)
        return stream

    # ------------------------------------------------------------- batch
    def _process_batch(
        self, batch_df: DataFrame, batch_id: int, source: SourceConfig, target: LakeTable
    ) -> None:
        """The foreachBatch body (reference ``cdc_pipeline.py:254-339``):
        persist → transform+dedup → apply → stats → watermark append."""
        from pyspark import StorageLevel

        t0 = time.time()
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if batch_df.isEmpty():
                return
            decoded = batch_df
            if source.batch_pre_transform is not None:
                decoded = source.batch_pre_transform(batch_df)
            flat = flatten_envelope(decoded, source.key_cols)
            casted = cast_to_target_schema(flat, target)
            deduped = dedup_latest(casted)
            upserts, deletes = split_upserts_deletes(deduped)
            # exactly-once under foreachBatch replay: Structured
            # Streaming re-delivers a micro-batch with the SAME batch_id
            # after a crash-before-checkpoint; the table-side txn marker
            # (Delta txnAppId/txnVersion analogue) turns the re-apply
            # into a no-op commit instead of a double-write. The marker
            # protects SAME-CHECKPOINT re-delivery only — deleting the
            # checkpoint restarts batch ids at 0 with possibly different
            # batch composition, so a checkpoint reset must pair with a
            # fresh source name / txn_app (the standard txnAppId
            # contract).
            apply_cdc_changes(target, upserts, deletes, mode=source.write_mode,
                              txn_app=f"cdc:{source.name}", txn_version=batch_id)
            if self.store:
                stats = batch_stats(flat)
                schema_name, _, table_name = source.name.rpartition(".")
                self.store.append_cdc(
                    self.dag_id, schema_name or "default", table_name,
                    max_event_ts=_parse_event_ts(
                        stats.max_event_ts,
                        self.spark.conf.get("spark.sql.session.timeZone"),
                    ),
                    event_count=stats.event_count,
                    min_offset=stats.min_offset, max_offset=stats.max_offset,
                    processing_duration_sec=time.time() - t0, batch_id=batch_id,
                )
        finally:
            batch_df.unpersist()

    # ------------------------------------------------------------- query
    def run_source(
        self,
        source: SourceConfig,
        target: LakeTable,
        available_now: bool = True,
        processing_time: str | None = None,
        timeout_sec: float | None = None,
    ) -> None:
        """Run one source to its target table. ``available_now=True``
        drains and stops (reference trigger at ``cdc_pipeline.py:415``);
        otherwise continuous with ``processing_time``."""
        stream = self._read_stream(source)
        checkpoint = os.path.join(self.checkpoint_root, self.dag_id, source.name)
        writer = (
            stream.writeStream.foreachBatch(
                lambda df, bid: self._process_batch(df, bid, source, target)
            )
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time or "10 seconds")
        query = writer.start()
        had_batch = query.lastProgress is not None
        query.awaitTermination(timeout_sec) if timeout_sec else query.awaitTermination()
        if not available_now:
            query.stop()
        # heartbeat watermark if nothing fired (reference cdc_pipeline.py:427-439)
        if self.store and not had_batch and query.lastProgress is None:
            schema_name, _, table_name = source.name.rpartition(".")
            self.store.append_cdc(self.dag_id, schema_name or "default", table_name)

    def run_sources(
        self,
        sources: list[tuple[SourceConfig, LakeTable]],
        concurrency: int = 3,
        signal: StopSignal | None = None,
    ) -> dict[str, str | None]:
        """Multi-source thread parallelism with a semaphore (reference
        ``kafka_to_iceberg.py:128-167``). One shared SparkSession; each
        source keeps its own checkpoint + failure domain: one source
        failing doesn't stop the others (errors are collected)."""
        sem = threading.Semaphore(concurrency)
        errors: dict[str, str | None] = {s.name: None for s, _ in sources}
        listener = BatchProgressListener(self.spark, signal) if signal else None
        if listener:
            listener.start()

        def work(source: SourceConfig, target: LakeTable) -> None:
            with sem:
                if signal and signal.is_set():
                    errors[source.name] = "skipped: stop signal"
                    return
                try:
                    self.run_source(source, target)
                except Exception as e:  # noqa: BLE001 — per-topic failure domain
                    errors[source.name] = str(e)

        threads = [
            threading.Thread(target=work, args=(s, t), name=f"cdc-{s.name}")
            for s, t in sources
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if listener:
            listener.stop()
        return errors


def run_rounds(
    runner: CdcStreamRunner,
    sources: list[tuple[SourceConfig, LakeTable]],
    signal: StopSignal,
    round_interval_sec: float = 300.0,
    max_rounds: int | None = None,
    max_consecutive_failures: int = 3,
) -> int:
    """Always-on drain→sleep→repeat loop (reference
    ``kafka_to_iceberg_stream.py:225-314``): exits 0 on stop signal,
    1 after ``max_consecutive_failures`` failed rounds."""
    consecutive = 0
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        if signal.is_set():
            return 0
        started = time.time()
        errors = runner.run_sources(sources, signal=signal)
        failed = [n for n, e in errors.items() if e and not e.startswith("skipped")]
        consecutive = consecutive + 1 if failed else 0
        if consecutive >= max_consecutive_failures:
            return 1
        rounds += 1
        # interruptible sleep (reference kafka_to_iceberg_stream.py:112-119)
        remaining = round_interval_sec - (time.time() - started)
        while remaining > 0 and not signal.is_set():
            step = min(1.0, remaining)
            time.sleep(step)
            remaining -= step
    return 0
