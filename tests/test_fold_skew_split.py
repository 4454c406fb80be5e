"""r16 skew fix: the MoR fold sub-splits heavy delete-bearing buckets
by manifest byte weight so no write task carries a whole outlier
bucket (the dml:mor_fold_fill 3.5-3.7x max/median band finding)."""

import os

import pytest
from pyspark.sql import functions as F

from datalake_iceberg_spark.tables import LakeCatalog, bucket_expr


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _mk_uneven_table(spark, catalog, n_buckets=4):
    """One bucket ~10x the others: keep every row of bucket 0, a thin
    slice of the rest."""
    base = spark.range(6000).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    b = bucket_expr(["k"], n_buckets)
    uneven = base.where((b == 0) | (F.col("id") % 12 == 0))
    t = catalog.create_or_replace("t.uneven", uneven, key=["k"],
                                  n_buckets=n_buckets)
    return t, uneven


def test_fold_subsplits_heavy_bucket_and_keeps_rows(spark, catalog):
    t, uneven = _mk_uneven_table(spark, catalog)
    n0 = uneven.count()
    # MoR-delete a slice touching every bucket -> all buckets fold
    dels = uneven.filter(F.col("v") % 30 == 0).select("k")
    n_del = dels.count()
    assert n_del > 0
    t.delete_keys(dels, mode="merge-on-read")
    out = t.rewrite_position_delete_files()
    assert out["rewritten_buckets"] >= 1
    # exactness first: fold result == eager delete result
    assert t.read().count() == n0 - n_del
    assert t.row_count() == n0 - n_del
    # the heavy bucket's fold dir carries >1 part-file (weight-aware
    # sub-split), light buckets stay single-file
    snap = t.snapshot()
    n_files = {}
    for b, dirs in snap.buckets.items():
        cnt = 0
        for rel in dirs:
            d = os.path.join(t.location, rel)
            cnt += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        n_files[int(b)] = cnt
    assert n_files[0] > 1, n_files
    light = [n for b, n in n_files.items() if b != 0]
    assert light and max(light) <= n_files[0]


def test_fold_without_byte_stats_degrades_to_uniform(spark, catalog, monkeypatch):
    """A manifest dir missing #bytes must take the r15 uniform path, not
    fail the fold."""
    t, uneven = _mk_uneven_table(spark, catalog)
    n0 = uneven.count()
    dels = uneven.filter(F.col("v") % 30 == 0).select("k")
    n_del = dels.count()
    t.delete_keys(dels, mode="merge-on-read")
    snap = t.snapshot()
    # simulate a pre-#bytes-era dir by blanking the stat in the cached
    # snapshot the fold will read
    for d in list(snap.stats):
        snap.stats[d].pop("#bytes", None)
    monkeypatch.setattr(t, "snapshot", lambda version=None: snap)
    out = t.rewrite_position_delete_files()
    assert out["rewritten_buckets"] >= 1
    assert t.read().count() == n0 - n_del


def test_weighted_write_drops_after_sort_columns(spark, catalog):
    """The weight-aware write path honours ``drop_after_sort`` like the
    uniform one: synthetic columns never reach the data files."""
    t, _ = _mk_uneven_table(spark, catalog)
    staged = t.read().withColumn("_z", F.col("v") * 2)
    out = t._write_bucketed(staged, ["k"], 4, drop_after_sort=["_z"],
                            bucket_weights={0: 1000, 1: 100, 2: 100, 3: 100})
    assert out
    for dirs in out.values():
        for rel in dirs:
            assert spark.read.parquet(os.path.join(t.location, rel)).columns == ["k", "v"]
