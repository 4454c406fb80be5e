"""Watermark ledger, maintenance service, and streaming CDC runner."""

import json
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datalake_iceberg_spark.functions.keys import SURROGATE_KEY_COL, surrogate_key
from datalake_iceberg_spark.ops.maintenance import MaintenanceService
from datalake_iceberg_spark.ops.watermark import WatermarkStore
from datalake_iceberg_spark.streaming.runner import (
    CdcStreamRunner,
    SourceConfig,
    StopSignal,
    run_rounds,
)
from datalake_iceberg_spark.tables import LakeCatalog

ENVELOPE_DDL = (
    "op STRING, after STRUCT<id BIGINT, v STRING>, "
    "before STRUCT<id BIGINT, v STRING>, offset BIGINT, ts_ms BIGINT"
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def store(catalog):
    s = WatermarkStore(catalog)
    s.ensure_tables()
    return s


def test_watermark_append_and_last_completed(store):
    now = datetime.utcnow()
    store.append_cdc("dag1", "db", "t1", event_count=10, min_offset=1, max_offset=10)
    store.append_cdc("dag1", "db", "t1", event_count=5, min_offset=11, max_offset=15)
    assert store.cdc().read().count() == 2
    store.append_maintenance("dag1", "db", "t1", "rewrite_data_files",
                             started_at=now, status="success")
    store.append_maintenance("dag1", "db", "t2", "rewrite_data_files",
                             started_at=now, status="failed")
    m = store.last_completed_map("rewrite_data_files")
    assert ("db", "t1") in m and ("db", "t2") not in m


def test_should_run_gating():
    assert WatermarkStore.should_run(None, 60)
    assert not WatermarkStore.should_run(datetime.utcnow(), 3600)
    old = datetime.utcnow() - timedelta(hours=2)
    assert WatermarkStore.should_run(old, 3600)
    assert not WatermarkStore.should_run(None, 0)  # 0 = disabled


def test_purge_keeps_latest_per_key(store, spark):
    from datalake_iceberg_spark.ops.watermark import CDC_WATERMARK_SCHEMA
    old_ts = datetime.utcnow() - timedelta(days=30)
    rows = [
        Row(dag_id="d", schema_name="s", table_name="t", scheduled_at=None,
            max_event_ts=None, processed_at=old_ts - timedelta(hours=i),
            min_offset=None, max_offset=None, event_count=i,
            processing_duration_sec=0.0, batch_id=None)
        for i in range(3)
    ]
    store.cdc().append(spark.createDataFrame(rows, CDC_WATERMARK_SCHEMA))
    removed = store.purge_cdc(retention_days=14)
    assert removed == 2  # keeps only the latest old row for the key
    assert store.cdc().read().count() == 1


def test_maintenance_service_records_and_gates(catalog, store, spark):
    t = catalog.create_or_replace(
        "default.mt", spark.createDataFrame([Row(id=1, v="a")]), key=["id"], n_buckets=2
    )
    t.append(spark.createDataFrame([Row(id=2, v="b")]))
    svc = MaintenanceService(catalog, store)
    res = svc.run_compaction("default.mt", interval_sec=60, last_completed=None,
                             min_input_dirs=1)
    assert res["status"] == "success"
    recent = svc.run_compaction("default.mt", interval_sec=3600,
                                last_completed=datetime.utcnow())
    assert recent["status"] == "skipped"
    statuses = {r.procedure_type: r.status for r in store.maintenance().read().collect()}
    assert statuses["rewrite_data_files"] in ("success", "skipped")


def _write_envelopes(path, events, part):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"part-{part}.json"), "w") as f:
        for op, id_, v, offset, ts in events:
            body = {"id": id_, "v": v}
            f.write(json.dumps({
                "op": op,
                "after": None if op == "d" else body,
                "before": body if op == "d" else None,
                "offset": offset,
                "ts_ms": ts,
            }) + "\n")


def test_streaming_cdc_end_to_end(spark, catalog, store, tmp_path):
    """File-stream source → foreachBatch CDC apply → watermark rows.
    Second run with new files resumes from the checkpoint (no reapply)."""
    base = surrogate_key(
        spark.createDataFrame([Row(id=i, v=f"base{i}") for i in range(5)]), ["id"]
    )
    target = catalog.create_or_replace("db.stream_t", base, key=[SURROGATE_KEY_COL], n_buckets=2)
    src_dir = str(tmp_path / "cdc_in")
    _write_envelopes(src_dir, [
        ("u", 1, "u1-old", 1, 1000), ("u", 1, "u1-new", 2, 2000), ("d", 2, "x", 3, 3000),
        ("c", 100, "ins", 4, 4000),
    ], part=0)
    runner = CdcStreamRunner(spark, store, checkpoint_root=str(tmp_path / "ckpt"))
    source = SourceConfig(name="db.stream_t", path=src_dir, schema=ENVELOPE_DDL,
                          key_cols=["id"])
    runner.run_source(source, target)
    got = {r.id: r.v for r in target.read().collect()}
    assert got[1] == "u1-new" and 2 not in got and got[100] == "ins"
    v1 = target.current_version()
    # second batch: only the new file is processed (checkpoint offsets)
    _write_envelopes(src_dir, [("u", 100, "upd", 5, 5000)], part=1)
    runner.run_source(source, target)
    got = {r.id: r.v for r in target.read().collect()}
    assert got[100] == "upd"
    assert target.current_version() > v1
    wm = store.cdc().read()
    assert wm.filter(F.col("event_count") > 0).count() >= 2


def test_multi_source_threads_and_signal(spark, catalog, store, tmp_path):
    srcs = []
    for i in range(3):
        base = surrogate_key(
            spark.createDataFrame([Row(id=1, v="b")]), ["id"]
        )
        t = catalog.create_or_replace(f"db.ms{i}", base, key=[SURROGATE_KEY_COL])
        d = str(tmp_path / f"in{i}")
        _write_envelopes(d, [("c", 10 + i, f"v{i}", 1, 1000)], part=0)
        srcs.append((SourceConfig(name=f"db.ms{i}", path=d, schema=ENVELOPE_DDL,
                                  key_cols=["id"]), t))
    runner = CdcStreamRunner(spark, store, checkpoint_root=str(tmp_path / "ck"))
    errors = runner.run_sources(srcs, concurrency=2)
    assert all(e is None for e in errors.values()), errors
    for i in range(3):
        assert catalog.table(f"db.ms{i}").read().count() == 2

    sig = StopSignal(str(tmp_path / "stop_signal"))
    sig.set()
    rc = run_rounds(runner, srcs, sig, round_interval_sec=0.1, max_rounds=5)
    assert rc == 0  # stop signal honored


def test_failure_domain_isolation(spark, catalog, store, tmp_path):
    """A broken source fails alone; healthy sources still apply."""
    ok_base = surrogate_key(spark.createDataFrame([Row(id=1, v="b")]), ["id"])
    ok_t = catalog.create_or_replace("db.ok", ok_base, key=[SURROGATE_KEY_COL])
    ok_dir = str(tmp_path / "ok_in")
    _write_envelopes(ok_dir, [("c", 2, "fine", 1, 1000)], part=0)
    bad_t = catalog.create_or_replace("db.bad", ok_base, key=[SURROGATE_KEY_COL])
    runner = CdcStreamRunner(spark, store, checkpoint_root=str(tmp_path / "ck2"))
    srcs = [
        (SourceConfig(name="db.ok", path=ok_dir, schema=ENVELOPE_DDL, key_cols=["id"]), ok_t),
        (SourceConfig(name="db.bad", path=str(tmp_path / "missing_dir"),
                      schema=ENVELOPE_DDL, key_cols=["id"]), bad_t),
    ]
    errors = runner.run_sources(srcs, concurrency=2)
    assert errors["db.ok"] is None
    assert errors["db.bad"] is not None
    assert ok_t.read().count() == 2


def test_runner_records_max_event_ts(spark, catalog, store, tmp_path):
    """The CDC ledger row carries the batch's newest event time."""
    base = surrogate_key(spark.createDataFrame([Row(id=1, v="a")]), ["id"])
    target = catalog.create_or_replace("db.evts", base, key=[SURROGATE_KEY_COL], n_buckets=2)
    src_dir = str(tmp_path / "evts_in")
    newest_ms = 1_700_000_123_456
    _write_envelopes(src_dir, [
        ("u", 1, "x", 1, newest_ms - 60_000), ("c", 2, "y", 2, newest_ms),
        ("u", 1, "z", 3, newest_ms - 1),
    ], part=0)
    runner = CdcStreamRunner(spark, store, checkpoint_root=str(tmp_path / "ckpt"))
    runner.run_source(SourceConfig(name="db.evts", path=src_dir, schema=ENVELOPE_DDL,
                                   key_cols=["id"]), target)
    (row,) = (store.cdc().read().filter(F.col("event_count") > 0)
              .select(F.unix_micros("max_event_ts").alias("us")).collect())
    assert row.us == newest_ms * 1000


class _FlakyLedgerStore(WatermarkStore):
    """A store whose maintenance-ledger append raises ``failures`` times."""

    def __init__(self, catalog, failures):
        super().__init__(catalog)
        self.failures = failures

    def append_maintenance(self, *args, **kwargs):
        if self.failures:
            self.failures -= 1
            raise OSError("ledger unavailable")
        return super().append_maintenance(*args, **kwargs)


def test_ledger_failure_does_not_fail_the_procedure(catalog, spark, caplog):
    t = catalog.create_or_replace(
        "default.lf", spark.createDataFrame([Row(id=1, v="a")]), key=["id"], n_buckets=2
    )
    t.append(spark.createDataFrame([Row(id=2, v="b")]))
    store = _FlakyLedgerStore(catalog, failures=1)
    store.ensure_tables()
    svc = MaintenanceService(catalog, store)
    with caplog.at_level("WARNING", logger="datalake_iceberg_spark.ops.maintenance"):
        res = svc.run_compaction("default.lf", interval_sec=60, min_input_dirs=1)
    # compaction succeeded; its lost ledger row must not skip expiry
    assert res["status"] == "success"
    rows = {(r.procedure_type, r.status) for r in store.maintenance().read().collect()}
    assert rows == {("expire_snapshots", "success")}
    (rec,) = caplog.records
    assert rec.levelname == "WARNING"
    assert "rewrite_data_files" in rec.getMessage() and "default.lf" in rec.getMessage()
    assert "ledger unavailable" in rec.getMessage()


def test_failed_procedure_with_failing_ledger_never_raises(catalog, caplog):
    svc = MaintenanceService(catalog, _FlakyLedgerStore(catalog, failures=2))

    def boom():
        raise RuntimeError("compaction exploded")

    with caplog.at_level("WARNING", logger="datalake_iceberg_spark.ops.maintenance"):
        res = svc._run_recorded("default.gone", "rewrite_data_files", boom)
    assert res == {"status": "failed", "error": "compaction exploded"}
    messages = [r.getMessage() for r in caplog.records]
    assert len(messages) == 2
    assert all("rewrite_data_files" in m and "default.gone" in m for m in messages)
    assert "compaction exploded" in messages[0] and "ledger unavailable" in messages[1]
