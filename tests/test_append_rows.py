"""Driver-side appends (``LakeTable.append_rows``): the ops ledger's
write path, which must store exactly what a Spark append stores while
running no Spark job."""

import os
import sys
import threading
import time
import uuid
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_iceberg_spark.ops.watermark import (
    CDC_WATERMARK_SCHEMA,
    CDC_TABLE,
    WatermarkStore,
)
from datalake_iceberg_spark.tables import LakeCatalog, bucket_expr

LEDGER_ROW = dict(
    dag_id="dag", schema_name="db", table_name="orders",
    scheduled_at=datetime(2024, 3, 10, 1, 30, 0, 123456),
    max_event_ts=datetime(2024, 3, 10, 6, 0, 0, 1, tzinfo=timezone.utc),
    processed_at=datetime(2024, 3, 10, 7, 45, 12, 999999),
    min_offset=-5, max_offset=2**40, event_count=3,
    processing_duration_sec=0.25, batch_id=None,
)
TS_COLS = ["scheduled_at", "max_event_ts", "processed_at"]


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def store(catalog):
    s = WatermarkStore(catalog)
    s.ensure_tables()
    return s


@pytest.fixture(params=["UTC", "Asia/Kolkata"])
def process_tz(request):
    """Run the test under one process timezone, restored afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


def _empty_ledger(catalog, spark, name):
    return catalog.create_or_replace(name, spark.createDataFrame([], CDC_WATERMARK_SCHEMA))


def _parquets(t, rel_dir):
    d = os.path.join(t.location, rel_dir)
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _new_dir(t, before):
    (rel,) = set(t.snapshot().all_dirs()) - set(before.all_dirs())
    return rel


def test_append_rows_stores_what_spark_append_stores(catalog, spark, process_tz):
    via_spark = _empty_ledger(catalog, spark, "db.via_spark")
    via_rows = _empty_ledger(catalog, spark, "db.via_rows")
    via_spark.append(spark.createDataFrame([LEDGER_ROW], CDC_WATERMARK_SCHEMA))
    via_rows.append_rows([LEDGER_ROW])

    assert via_rows.read().collect() == via_spark.read().collect()
    instants = [F.col(c).cast("long").alias(c) for c in TS_COLS] + [
        F.unix_micros(c).alias(f"{c}_us") for c in TS_COLS
    ]
    assert (via_rows.read().select(instants).collect()
            == via_spark.read().select(instants).collect())
    # the aware value keeps its instant whatever the process timezone
    (row,) = via_rows.read().select(F.unix_micros("max_event_ts").alias("us")).collect()
    assert row.us == int(LEDGER_ROW["max_event_ts"].timestamp()) * 1_000_000 + 1


def test_append_rows_writes_spark_logical_types(catalog, spark):
    via_spark = _empty_ledger(catalog, spark, "db.types_spark")
    via_rows = _empty_ledger(catalog, spark, "db.types_rows")
    before = via_spark.snapshot()
    via_spark.append(spark.createDataFrame([LEDGER_ROW], CDC_WATERMARK_SCHEMA))
    spark_file = _parquets(via_spark, _new_dir(via_spark, before))[0]
    before = via_rows.snapshot()
    via_rows.append_rows([LEDGER_ROW])
    (rows_file,) = _parquets(via_rows, _new_dir(via_rows, before))

    def types(path):
        return [(c.name, c.physical_type, str(c.logical_type), c.max_definition_level)
                for c in pq.ParquetFile(path).schema]

    assert types(rows_file) == types(spark_file)
    md = pq.ParquetFile(rows_file).metadata
    assert md.row_group(0).column(0).compression == "SNAPPY"


def test_ledger_append_writes_one_file_with_stats(store):
    t = store.cdc()
    before = t.snapshot()
    store.append_cdc("dag", "db", "orders", event_count=7, min_offset=3, max_offset=9,
                     batch_id=4)
    snap = t.snapshot()
    rel = _new_dir(t, before)
    assert len(_parquets(t, rel)) == 1
    stats = snap.stats[rel]
    assert stats["event_count"] == [7, 7]
    assert stats["min_offset"] == [3, 3] and stats["batch_id"] == [4, 4]
    assert stats["#rows"] == [1, 1]
    assert stats["#bytes"][0] == os.path.getsize(_parquets(t, rel)[0])
    assert snap.operation == "append"


def test_ledger_append_runs_no_spark_job(store, spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in_group(fn):
        group = f"append-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "ledger append")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    # the group does catch the jobs of a Spark-path append
    assert jobs_in_group(lambda: store.cdc().append(
        spark.createDataFrame([LEDGER_ROW], CDC_WATERMARK_SCHEMA)))
    assert jobs_in_group(lambda: store.append_cdc("dag", "db", "orders")) == []
    assert jobs_in_group(lambda: store.append_maintenance(
        "dag", "db", "orders", "rewrite_data_files",
        started_at=datetime(2024, 3, 10), status="success")) == []
    assert store.cdc().read().count() == 2


def test_append_rows_falls_back_to_spark_append(catalog, spark):
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    checked = catalog.create_or_replace("db.checked", spark.createDataFrame([], schema))
    checked.add_constraint("positive_id", "id > 0")
    with pytest.raises(ValueError, match="positive_id"):
        checked.append_rows([{"id": -1, "v": "bad"}])
    checked.append_rows([{"id": 1, "v": "ok"}])
    assert [(r.id, r.v) for r in checked.read().collect()] == [(1, "ok")]

    keyed = catalog.create_or_replace(
        "db.keyed", spark.createDataFrame([(100, "seed")], schema), key=["id"], n_buckets=4
    )
    keyed.append_rows([{"id": i, "v": f"r{i}"} for i in range(12)])
    assert sorted(r.id for r in keyed.read().collect()) == list(range(12)) + [100]
    for b in range(4):
        got = {r.b for r in keyed.read_buckets([b]).select(
            bucket_expr(["id"], 4).alias("b")).collect()}
        assert got <= {b}

    zstd = catalog.create_or_replace("db.zstd", spark.createDataFrame([], schema))
    zstd.set_properties({"write.parquet.compression-codec": "zstd"})
    before = zstd.snapshot()
    zstd.append_rows([{"id": 5}])
    files = _parquets(zstd, _new_dir(zstd, before))
    assert {pq.ParquetFile(f).metadata.row_group(0).column(0).compression
            for f in files if pq.ParquetFile(f).metadata.num_rows} == {"ZSTD"}
    assert [(r.id, r.v) for r in zstd.read().collect()] == [(5, None)]


def test_append_rows_verifies_types(catalog, spark):
    t = _empty_ledger(catalog, spark, "db.typed")
    with pytest.raises(TypeError):
        t.append_rows([{**LEDGER_ROW, "event_count": "three"}])
    assert t.read().count() == 0


def test_concurrent_ledger_appends_keep_every_row(store):
    """More writers than cores, with frequent thread switches: every
    append's commit race ends in a rebase, never a lost row."""
    n_threads, per_thread = 6, 4

    def work(w):
        for i in range(per_thread):
            store.append_cdc("dag", "db", f"t{w}", event_count=1, batch_id=w * 100 + i)

    threads = [threading.Thread(target=work, args=(w,)) for w in range(n_threads)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(th.is_alive() for th in threads)
    got = sorted(r.batch_id for r in store.cdc().read().collect())
    assert got == sorted(w * 100 + i for w in range(n_threads) for i in range(per_thread))
    assert store.catalog.table(CDC_TABLE).snapshot().version == n_threads * per_thread
