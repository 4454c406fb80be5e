"""Bucket-count evolution (LakeTable.rebucket) — three cost tiers.

Checks the layout invariants that make each tier safe:
- shrink by an integer factor is metadata-only (same physical dirs);
- grow by an integer factor splits each old bucket into exactly the
  k derivable new buckets (hash % old == b  =>  hash % k·old ∈
  {b, b+old, …}), shuffle-free;
- arbitrary counts fall back to the shuffled bucketed write;
and that reads, point lookups, and DML all follow the new layout.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from datalake_iceberg_spark.tables import LakeCatalog


@pytest.fixture()
def orders_table(spark, sf_dir, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    table = cat.create_or_replace(
        "rb.orders", orders, key=["o_orderkey"], n_buckets=8
    )
    return table, orders


def _content_hash(df):
    # xor-fold of per-row hashes: order-independent, no ANSI overflow
    return (
        df.select(F.xxhash64(*sorted(df.columns)).alias("rh"))
        .agg(F.expr("bit_xor(rh)").alias("h"))
        .collect()[0]["h"]
    )


def test_grow_multiple_is_local_split(orders_table, spark):
    table, orders = orders_table
    before_rows = table.read().count()
    before_hash = _content_hash(table.read())
    # shuffle-free: every job the grow runs is one stage (an exchange
    # would add a map stage, skipped or not, to the writing job)
    sc = spark.sparkContext
    group = f"grow-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "rebucket grow")
    try:
        table.rebucket(32)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1] * len(jobs)
    snap = table.snapshot()
    assert snap.n_buckets == 32
    assert snap.operation == "rebucket"
    assert table.read().count() == before_rows
    assert _content_hash(table.read()) == before_hash
    # every new bucket dir holds only rows whose key hashes to it
    from datalake_iceberg_spark.tables import bucket_expr

    for b in list(snap.buckets)[:4]:
        part = table.read_buckets([int(b)])
        bad = part.filter(bucket_expr(["o_orderkey"], 32) != int(b)).count()
        assert bad == 0


def test_shrink_multiple_is_metadata_only(orders_table):
    table, orders = orders_table
    dirs_before = set(table.snapshot().all_dirs())
    before_hash = _content_hash(table.read())
    table.rebucket(2)
    snap = table.snapshot()
    assert snap.n_buckets == 2
    # not one data byte moved: the new manifest points at the same dirs
    assert set(snap.all_dirs()) == dirs_before
    assert _content_hash(table.read()) == before_hash
    # stats carried with the dirs -> data skipping still works
    assert set(snap.stats) == set(dirs_before.intersection(snap.stats) or snap.stats)


def test_shrink_carries_remapped_deletes(orders_table):
    table, orders = orders_table
    keys = orders.select("o_orderkey").limit(40)
    table.delete_keys(keys, mode="merge-on-read")
    visible = table.read().count()
    table.rebucket(4)
    assert table.snapshot().n_buckets == 4
    assert table.read().count() == visible  # deletes still applied
    # delete entries live under remapped bucket ids
    assert all(int(b) < 4 for b in table.snapshot().deletes)


def test_grow_folds_mor_deletes(orders_table):
    table, orders = orders_table
    table.delete_keys(orders.select("o_orderkey").limit(40), mode="merge-on-read")
    visible = table.read().count()
    table.rebucket(16)
    snap = table.snapshot()
    assert snap.deletes == {}  # folded by the rewrite
    assert table.read().count() == visible


def test_arbitrary_count_falls_back(orders_table):
    table, orders = orders_table
    before_hash = _content_hash(table.read())
    table.rebucket(6)  # neither multiple nor divisor of 8
    snap = table.snapshot()
    assert snap.n_buckets == 6
    assert _content_hash(table.read()) == before_hash


def test_dml_follows_new_layout(orders_table):
    table, orders = orders_table
    table.rebucket(16)
    n = table.read().count()
    upd = orders.limit(25).withColumn("o_orderstatus", F.lit("R"))
    table.merge(upd)
    assert table.read().count() == n
    assert table.read().filter(F.col("o_orderstatus") == "R").count() >= 25
    looked = table.lookup(orders.select("o_orderkey").limit(5))
    assert looked.count() == 5


def test_rebucket_validations(orders_table):
    table, _ = orders_table
    with pytest.raises(ValueError):
        table.rebucket(8)  # same count
    with pytest.raises(ValueError):
        table.rebucket(0)


def test_rebucket_detects_concurrent_commit(orders_table):
    """A commit landing between rebucket's snapshot capture and its
    commit must raise CommitConflict, not silently drop the concurrent
    writer's data (rebucket replaces the whole table layout)."""
    from datalake_iceberg_spark.tables import CommitConflict

    table, orders = orders_table
    extra = orders.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )
    real_commit = table._commit
    raced = {"done": False}

    def commit_with_race(build, operation):
        if not raced["done"]:
            raced["done"] = True
            table._commit = real_commit  # the racing append commits cleanly
            table.append(extra)
        return real_commit(build, operation)

    table._commit = commit_with_race
    with pytest.raises(CommitConflict):
        table.rebucket(4)  # metadata-only shrink path still must conflict
    # the concurrent append survived, and a clean re-run succeeds
    assert table.read().filter(F.col("o_orderkey") >= 900_000_000).count() == 3
    table.rebucket(4)
    assert table.snapshot().n_buckets == 4
    assert table.read().filter(F.col("o_orderkey") >= 900_000_000).count() == 3


def test_rebucket_requires_key(spark, sf_dir, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh2"))
    t = cat.create_or_replace(
        "rb.nokey", spark.read.parquet(f"{sf_dir}/region.parquet")
    )
    with pytest.raises(ValueError):
        t.rebucket(4)
