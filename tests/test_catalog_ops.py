"""Catalog semantics the reference pins: case-sensitive table identity
(tb_lower vs TB_UPPER are distinct tables), and dual-catalog migration."""

from pyspark.sql import functions as F

from datalake_iceberg_spark.tables import LakeCatalog, copy_table


def _df(spark, tag, n=10):
    return spark.range(n).select(
        F.col("id").alias("pk"), F.lit(tag).alias("src")
    )


def test_case_sensitive_table_identity(spark, tmp_path):
    """The reference runs spark.sql.caseSensitive=true because source
    schemas carry tb_lower / TB_UPPER / TB_COMPOSITE_KEY side by side
    (submit-command/kafka_to_iceberg.sh:21)."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    cat.create_or_replace("store.tb_lower", _df(spark, "lower"), key=["pk"])
    cat.create_or_replace("store.TB_UPPER", _df(spark, "UPPER", n=5), key=["pk"])
    assert cat.table("store.tb_lower").read().count() == 10
    assert cat.table("store.TB_UPPER").read().count() == 5
    assert {r.src for r in cat.table("store.TB_UPPER").read().collect()} == {"UPPER"}
    assert sorted(cat.list_tables("store")) == ["store.TB_UPPER", "store.tb_lower"]
    # case-sensitive column identity survives round-trip
    both = spark.createDataFrame([(1, "a", "b")], "pk long, col string, COL string")
    t = cat.create_or_replace("store.TB_COMPOSITE_KEY", both, key=["pk"])
    assert [c for c in t.read().columns] == ["pk", "col", "COL"]


def test_dual_catalog_migration(spark, tmp_path):
    prod = LakeCatalog(spark, str(tmp_path / "prod"))
    qa = LakeCatalog(spark, str(tmp_path / "qa"))
    t = prod.create_or_replace("db.users", _df(spark, "v0"), key=["pk"], n_buckets=4)
    t.merge(_df(spark, "v1", n=3))  # version 1 modifies 3 rows

    # copy current version
    dst = copy_table(prod, qa, "db.users")
    assert dst.read().count() == 10
    assert dst.read().filter(F.col("src") == "v1").count() == 3
    # layout preserved
    assert dst.snapshot().key == ["pk"] and dst.snapshot().n_buckets == 4

    # copy a historical version under a new name
    dst0 = copy_table(prod, qa, "db.users", target_name="db.users_v0", version=0)
    assert dst0.read().filter(F.col("src") == "v1").count() == 0
    assert sorted(qa.list_tables("db")) == ["db.users", "db.users_v0"]


def test_point_lookup_prunes_buckets(spark, tmp_path):
    from datalake_iceberg_spark.tables import _bucket_of, bucket_expr

    cat = LakeCatalog(spark, str(tmp_path / "wh_lookup"))
    df = spark.range(1000).select(
        F.col("id").alias("pk"), (F.col("id") * 2).alias("v")
    )
    t = cat.create_or_replace("db.pts", df, key=["pk"], n_buckets=16)

    keys = spark.createDataFrame([(7,), (423,), (999,)], "pk long")
    out = t.lookup(keys).collect()
    assert {(r.pk, r.v) for r in out} == {(7, 14), (423, 846), (999, 1998)}

    # pruning is real: the affected-bucket set is smaller than the table
    affected = t._affected_buckets(keys, t.snapshot())
    assert 1 <= len(affected) <= 3 < 16
    # lookup routes these keys on the driver; the Spark bucket job that
    # still serves over-cap probes must name the same buckets
    assert sorted({_bucket_of((k,), 16) for k in (7, 423, 999)}) == affected

    # lookup of an absent key returns nothing
    assert t.lookup(spark.createDataFrame([(123456,)], "pk long")).count() == 0

    # time-travel lookup sees the old value
    t.update_where("pk = 7", {"v": 0})
    assert t.lookup(keys).filter(F.col("pk") == 7).first().v == 0
    assert t.lookup(keys, version=0).filter(F.col("pk") == 7).first().v == 14


def test_comment_sync(spark, tmp_path):
    """Reference schema_validate comment semantics: apply only differing
    comments, skip empties and unknown columns, report-only dry run,
    metadata-only commits (no data rewrite)."""
    from datalake_iceberg_spark.ops.schema_validate import sync_comments

    cat = LakeCatalog(spark, str(tmp_path / "wc"))
    df = spark.range(0, 10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t = cat.create_or_replace("db.cmt", df, key=["id"], n_buckets=2)
    v_before = t.current_version()

    # dry run: report drift, commit nothing
    rep = sync_comments(
        t, table_comment="orders mirror",
        column_comments={"id": "pk", "v": "value", "ghost": "x", "empty": ""},
        report_only=True,
    )
    assert rep["table_comment"] == (None, "orders mirror")
    assert rep["columns"] == {"id": (None, "pk"), "v": (None, "value")}
    assert rep["skipped"] == ["ghost"]
    assert t.current_version() == v_before

    # apply
    rep = sync_comments(
        t, table_comment="orders mirror",
        column_comments={"id": "pk", "v": "value", "ghost": "x"},
    )
    assert rep["applied"]
    assert t.table_comment() == "orders mirror"
    assert t.column_comments() == {"id": "pk", "v": "value"}
    assert t.read().count() == 10  # data untouched
    # metadata-only commits: data dirs identical to the RTAS snapshot
    assert t.snapshot().all_dirs() == t.snapshot(v_before).all_dirs()

    # converged: second sync is a no-op, no new version
    v_now = t.current_version()
    rep = sync_comments(
        t, table_comment="orders mirror", column_comments={"id": "pk", "v": "value"}
    )
    assert rep["columns"] == {} and rep["table_comment"] is None
    assert t.current_version() == v_now

    # seeded mismatch: only the drifted column re-syncs
    t.set_column_comment("v", "stale")
    rep = sync_comments(
        t, table_comment="orders mirror", column_comments={"id": "pk", "v": "value"}
    )
    assert rep["columns"] == {"v": ("stale", "value")}
    assert t.column_comments()["v"] == "value"


def test_files_metadata_table(spark, tmp_path):
    from pyspark.sql import Row

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=i, v=f"x{i}") for i in range(20)])
    t = cat.create_or_replace("db.files_meta", df, key=["id"], n_buckets=4)
    t.append(spark.createDataFrame([Row(id=100, v="y")]))
    inv = t.files().collect()
    assert all(r["content"] == "data" for r in inv)  # no MoR debt yet
    assert sum(r["num_rows"] for r in inv) == 21
    assert all(r["size_bytes"] > 0 for r in inv)
    assert {r["bucket"] for r in inv} <= {0, 1, 2, 3}
    # dir-level stats ride along for live dirs that have them
    assert any(r["dir_stats"] for r in inv)
    # time travel: v0's inventory has only the RTAS rows
    assert sum(r["num_rows"] for r in t.files(version=0).collect()) == 20
    # merge-on-read: outstanding equality-delete files are inventoried
    # (Iceberg files-table content field), and data num_rows stays the
    # PHYSICAL footer count — the docstring's documented contract
    t.merge(spark.createDataFrame([Row(id=0, v="mor")]), mode="merge-on-read")
    inv2 = t.files().collect()
    dels = [r for r in inv2 if r["content"] == "equality-deletes"]
    assert dels and sum(r["num_rows"] for r in dels) == 1
    physical = sum(r["num_rows"] for r in inv2 if r["content"] == "data")
    assert physical == 22  # 21 + masked-row rewrite appended, none removed
    assert t.read().count() == 21  # logical count applies the delete
