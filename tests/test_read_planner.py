"""Every read plans its dirs with ``LakeTable._split_dirs`` and reads them
through ``LakeTable._read_with_deletes``. These tests pin what that one
path promises to callers: the table's column order in every table state,
and one pooled read (not one per bucket) for compaction."""

import re

import pytest
from pyspark.sql import functions as F

import datalake_iceberg_spark.tables as tables_mod
from datalake_iceberg_spark.tables import LakeCatalog, LakeTable, _bucket_of, _commit_dir_of

N_BUCKETS = 4


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _assert_table_order(t, keys_df, want_ids):
    want = t.schema().fieldNames()
    assert t.read().columns == want
    assert t.scan([("id", ">=", 0)]).columns == want
    for b in range(N_BUCKETS):
        assert t.read_buckets([b]).columns == want, b
    out = t.lookup(keys_df)
    assert out.columns == want
    assert sorted(r["id"] for r in out.collect()) == want_ids


@pytest.mark.parametrize("key", [["id"], ["id", "a"]], ids=["single", "composite"])
def test_reads_keep_table_column_order(catalog, spark, monkeypatch, key):
    """``read``, ``scan``, ``read_buckets`` and ``lookup`` return the
    table's column order under copy-on-write, with some dirs covered by
    a merge-on-read era, with every dir covered, and for a probe over
    ``MAX_PUSHED_LOOKUP_KEYS`` (the semi-join path)."""
    rows = [(i % 3, f"v{i}", i) for i in range(40)]
    # the key columns trail the table's column order, so a USING join
    # that moves them first shows in ``columns``
    t = catalog.create_or_replace(
        f"db.order_{len(key)}", spark.createDataFrame(rows, "a int, v string, id long"),
        key=key, n_buckets=N_BUCKETS)
    key_schema = ", ".join(f"{c} {'long' if c == 'id' else 'int'}" for c in key)
    by_bucket = {}
    for a, _, i in rows:
        k = (i, a)[:len(key)]
        by_bucket.setdefault(_bucket_of(k, N_BUCKETS), []).append(k)
    assert sorted(by_bucket) == list(range(N_BUCKETS))
    assert all(len(ks) >= 3 for ks in by_bucket.values())
    probe = spark.createDataFrame([ks[-1] for ks in by_bucket.values()], key_schema)
    probe_ids = sorted(ks[-1][0] for ks in by_bucket.values())

    _assert_table_order(t, probe, probe_ids)  # copy-on-write

    t.delete_keys(spark.createDataFrame([by_bucket[0][0]], key_schema), mode="merge-on-read")
    assert set(t.snapshot().deletes) == {"0"}
    _assert_table_order(t, probe, probe_ids)  # some dirs covered

    t.delete_keys(spark.createDataFrame([ks[1] for ks in by_bucket.values()], key_schema),
                  mode="merge-on-read")
    snap = t.snapshot()
    assert {d for es in snap.deletes.values() for e in es for d in e["covers"]} >= set(
        snap.all_dirs())
    _assert_table_order(t, probe, probe_ids)  # every dir covered

    monkeypatch.setattr(tables_mod, "MAX_PUSHED_LOOKUP_KEYS", 2)
    _assert_table_order(t, probe, probe_ids)  # over-cap semi-join


def _parquet_relations(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"\bRelation \[[^\]]*\] parquet", plan))


def test_compaction_reads_every_bucket_in_one_pooled_plan(catalog, spark, monkeypatch):
    """``rewrite_data_files`` on a 16-bucket table with a live era in
    every bucket hands ``_write_bucketed`` one pooled read — a scan plus
    an anti-join per era — never one read per bucket."""
    base = spark.range(256).select(
        F.col("id"), (F.col("id") % 5).cast("int").alias("a"), F.col("id").cast("string").alias("v"))
    t = catalog.create_or_replace("db.pooled", base, key=["id"], n_buckets=16)
    t.merge(base.where("id % 4 = 0").withColumn("v", F.lit("new")), mode="merge-on-read")
    snap = t.snapshot()
    assert set(snap.deletes) == set(snap.buckets) and len(snap.buckets) == 16
    eras = {_commit_dir_of(e["dir"]) for es in snap.deletes.values() for e in es}
    before = sorted(t.read().collect(), key=lambda r: r["id"])

    seen = []
    orig = LakeTable._write_bucketed

    def spy(self, df, *args, **kwargs):
        seen.append(_parquet_relations(df))
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_bucketed", spy)
    assert t.rewrite_data_files()["rewritten_buckets"] == 16
    assert len(seen) == 1 and seen[0] <= (len(eras) + 1) * 2, seen
    assert t.snapshot().deletes == {}
    after = sorted(t.read().collect(), key=lambda r: r["id"])
    assert [r.asDict() for r in after] == [r.asDict() for r in before]
