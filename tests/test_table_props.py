"""Table-property-driven writer options and maintenance ergonomics:
``write.parquet.compression-codec``, ``expire_snapshots(older_than=)``,
``remove_orphan_files(dry_run=)``.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from datalake_iceberg_spark.tables import LakeCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _mk(catalog, spark, name, props=None, n=200):
    df = spark.createDataFrame([Row(id=i, v=f"x{i}") for i in range(n)])
    return catalog.create_or_replace(
        name, df, key=["id"], n_buckets=4, properties=props
    )


def _codecs(table):
    out = set()
    for f in glob.glob(f"{table.location}/data/*/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            out.add(md.row_group(g).column(0).compression)
    return out


def test_compression_codec_property_applies_to_all_writes(catalog, spark):
    t = _mk(catalog, spark, "db.z",
            props={"write.parquet.compression-codec": "zstd"})
    t.append(spark.createDataFrame([Row(id=1000, v="a")]))
    t.merge(spark.createDataFrame([Row(id=0, v="patched")]))
    t.rewrite_data_files()
    t.expire_snapshots()
    t.remove_orphan_files(older_than_s=0.0)
    t.rebucket(8)  # a 4 -> 8 grow: the shuffle-free local split
    assert _codecs(t) == {"ZSTD"}
    assert {r["v"] for r in t.lookup(
        spark.createDataFrame([Row(id=0)])).collect()} == {"patched"}


def test_default_codec_unchanged(catalog, spark):
    t = _mk(catalog, spark, "db.s")
    assert "ZSTD" not in _codecs(t)


def test_expire_older_than_keeps_recent(catalog, spark):
    t = _mk(catalog, spark, "db.e")
    for i in range(3):
        t.append(spark.createDataFrame([Row(id=1000 + i, v="a")]))
    # cutoff before any commit: nothing expires even with keep_last=1
    out = t.expire_snapshots(keep_last=1, older_than="1990-01-01T00:00:00")
    assert out["expired_snapshots"] == 0
    assert t.read(version=0).count() == 200  # still travelable
    # cutoff in the far future: falls back to keep_last semantics
    out = t.expire_snapshots(keep_last=1, older_than="9999-01-01T00:00:00")
    assert out["expired_snapshots"] == 3
    with pytest.raises(ValueError, match="no snapshot"):
        t.snapshot(0)


def test_orphan_dry_run_reports_without_deleting(catalog, spark):
    t = _mk(catalog, spark, "db.g")
    _mk(catalog, spark, "db.g")  # replace: the first commit dir dies
    t.expire_snapshots(keep_last=1)
    dry = t.remove_orphan_files(dry_run=True, older_than_s=0.0)
    assert dry["orphan_dirs_removed"] == 0
    assert len(dry["orphan_dirs_found"]) >= 1
    # nothing was touched: a real pass still finds the same dirs
    real = t.remove_orphan_files(older_than_s=0.0)
    assert real["orphan_dirs_removed"] == len(dry["orphan_dirs_found"])
    assert t.read().count() == 200


def _rg_ranges(table, col_idx=0):
    """(min, max) per row group for the given column across data files."""
    out = []
    for f in glob.glob(f"{table.location}/data/*/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col_idx).statistics
            out.append((st.min, st.max))
    return out


def test_declared_sort_order_applies_on_compaction(spark, catalog):
    import random
    rng = random.Random(7)
    ids = list(range(4000))
    rng.shuffle(ids)
    df = spark.createDataFrame([Row(id=i, v=i % 97) for i in ids])
    t = catalog.create_or_replace(
        "db.sorted", df, key=["id"], n_buckets=2,
        properties={"write.sort-order": "v"},
    )
    t.append(spark.createDataFrame([Row(id=10_000 + i, v=i % 97) for i in range(500)]))
    out = t.rewrite_data_files()  # no args: declared order applies
    assert out["rewritten_buckets"] == 2
    t.expire_snapshots()
    t.remove_orphan_files(older_than_s=0.0)  # drop pre-compaction files before globbing
    # every rewritten file is v-sorted (the fixture fits one row group
    # per file, so order — not min/max extents — is the observable)
    files = glob.glob(f"{t.location}/data/*/**/*.parquet", recursive=True)
    assert files
    for f in files:
        vs = pq.read_table(f, columns=["v"])["v"].to_pylist()
        assert vs == sorted(vs), f
    assert t.read().count() == 4500


def test_declared_order_does_not_force_recluster(spark, catalog):
    df = spark.createDataFrame([Row(id=i, v=i) for i in range(100)])
    t = catalog.create_or_replace(
        "db.nofrc", df, key=["id"], n_buckets=2,
        properties={"write.sort-order": "v"},
    )
    # single dir per bucket, nothing fragmented: scheduled run is a no-op
    assert t.rewrite_data_files() == {"rewritten_buckets": 0, "rewritten_dirs": 0}
    # explicit request still re-clusters everything
    assert t.rewrite_data_files(sort_by=["v"])["rewritten_buckets"] == 2


def test_conflicting_declared_orders_rejected(spark, catalog):
    df = spark.createDataFrame([Row(id=i, v=i) for i in range(10)])
    t = catalog.create_or_replace(
        "db.conflict", df, key=["id"], n_buckets=2,
        properties={"write.sort-order": "v", "write.zorder-by": "id,v"},
    )
    with pytest.raises(ValueError, match="keep one"):
        t.rewrite_data_files()


def _files_per_bucket(table):
    return {
        b: sum(
            len(glob.glob(f"{table.location}/{rel}/*.parquet")) for rel in dirs
        )
        for b, dirs in table.snapshot().buckets.items()
    }


def test_target_file_size_property_fans_out_writes(spark, catalog, tmp_path):
    """``write.target-file-size-bytes`` is Iceberg's output-file size in
    ENCODED bytes: a bucket's input splits into
    ``min(MAX_WRITE_SPLITS, ceil(per-bucket input bytes / target))``
    files, the input bytes being the parquet size Catalyst estimates."""
    import math
    import os
    import random

    from datalake_iceberg_spark.tables import MAX_WRITE_SPLITS

    target, n_buckets = 65536, 2

    def rtas(rows, name):
        # parquet-backed input: Catalyst can SIZE the plan, so the per-task
        # byte target actually drives the split count (in-memory relations
        # fall back to core-count sizing where the property is moot)
        path = str(tmp_path / name)
        spark.createDataFrame(rows).write.parquet(path)
        in_bytes = sum(
            os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet")
        )
        df = spark.read.parquet(path)
        t = catalog.create_or_replace(
            f"db.{name}_small_files", df, key=["id"], n_buckets=n_buckets,
            properties={"write.target-file-size-bytes": str(target)},
        )
        t2 = catalog.create_or_replace(
            f"db.{name}_big_files", df, key=["id"], n_buckets=n_buckets
        )
        assert t.read().count() == t2.read().count() == 3000
        return in_bytes, _files_per_bucket(t), _files_per_bucket(t2)

    # one repeated string: parquet dictionary-encodes it, so ~50 KB of
    # encoded input sits under the 64 KB target and is never split
    in_bytes, many, few = rtas(
        [Row(id=i, v="x" * 2000) for i in range(3000)], "dict"
    )
    assert in_bytes // n_buckets < target
    assert many == few == {str(b): 1 for b in range(n_buckets)}

    # incompressible strings: ~6 MB of encoded input, well past the target,
    # so every bucket fans out (even past the core count)
    rnd = random.Random(7)
    in_bytes, many, few = rtas(
        [Row(id=i, v=rnd.randbytes(1000).hex()) for i in range(3000)], "rand"
    )
    splits = min(MAX_WRITE_SPLITS, math.ceil(in_bytes // n_buckets / target))
    assert splits > 1
    assert many == {str(b): splits for b in range(n_buckets)}
    assert sum(many.values()) > sum(few.values()) >= 2


# ------------------------------------------------------ CHECK constraints


def test_check_constraint_gates_every_write_path(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=i, amount=float(i + 1)) for i in range(6)])
    t = cat.create_or_replace("db.c", df, key=["id"], n_buckets=2)
    t.add_constraint("amount_positive", "amount > 0")
    assert t.constraints() == {"amount_positive": "amount > 0"}

    bad = spark.createDataFrame([Row(id=100, amount=-1.0)])
    good = spark.createDataFrame([Row(id=100, amount=1.0)])
    with _pytest.raises(ValueError, match="amount_positive"):
        t.append(bad)
    with _pytest.raises(ValueError, match="amount_positive"):
        t.merge(bad)
    with _pytest.raises(ValueError, match="amount_positive"):
        t.merge(bad, mode="merge-on-read")
    with _pytest.raises(ValueError, match="amount_positive"):
        t.update_where([("id", "=", 1)], {"amount": -5.0})
    # nothing landed
    assert t.read().where("amount <= 0").count() == 0
    # compliant writes proceed
    t.merge(good)
    assert t.read().where("id = 100").count() == 1
    # NULL evaluations are violations (ingestion-gate semantics)
    with _pytest.raises(ValueError, match="amount_positive"):
        t.append(spark.createDataFrame([Row(id=101, amount=None)],
                                       "id long, amount double"))


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=1, amount=-3.0), Row(id=2, amount=2.0)])
    t = cat.create_or_replace("db.v", df, key=["id"], n_buckets=2)
    with _pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "amount > 0")
    t.add_constraint("pos", "amount > 0", validate=False)  # adopt forward-only
    with _pytest.raises(ValueError, match="pos"):
        t.append(spark.createDataFrame([Row(id=3, amount=-1.0)]))
    # untouched pre-existing violations survive an unrelated update
    t.update_where([("id", "=", 2)], {"amount": 5.0})
    assert t.read().where("id = 1").collect()[0].amount == -3.0


def test_drop_constraint(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace(
        "db.dc", spark.createDataFrame([Row(id=1, amount=1.0)]), key=["id"]
    )
    t.add_constraint("pos", "amount > 0")
    t.drop_constraint("pos")
    t.append(spark.createDataFrame([Row(id=2, amount=-1.0)]))  # no gate now
    with _pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("pos")


def test_rename_table_moves_everything(spark, tmp_path):
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(8)])
    t = cat.create_or_replace("db.old_name", df, key=["id"], n_buckets=2)
    t.merge(spark.createDataFrame([Row(id=1, v=9.0)]))
    t.create_tag("release")
    renamed = cat.rename_table("db.old_name", "db.new_name")
    assert renamed.read().count() == 8
    assert renamed.read(tag="release").count() == 8
    assert renamed.read(version=0).count() == 8  # time travel travels too
    assert "db.new_name" in cat.list_tables("db")
    assert "db.old_name" not in cat.list_tables("db")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no such table"):
        cat.rename_table("db.old_name", "db.x")


def test_add_constraint_validate_counts_null_as_violation(spark, tmp_path):
    """validate=True must use the same NULL semantics as the write gate:
    a row where the expression evaluates NULL fails validation — else a
    table validates clean while identical rows are rejected on the very
    next write."""
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [Row(id=1, amount=None), Row(id=2, amount=2.0)],
        "id long, amount double",
    )
    t = cat.create_or_replace("db.nullv", df, key=["id"], n_buckets=2)
    with _pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "amount > 0")
