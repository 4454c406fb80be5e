"""Manifest-level data skipping: parquet-footer min/max stats harvested
at commit time prune whole directories from filtered scans."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from datalake_iceberg_spark.tables import LakeCatalog


def _batch(spark, lo, hi, day):
    return spark.range(lo, hi).select(
        F.col("id").alias("pk"),
        F.col("id").cast("double").alias("v"),
        F.lit(datetime(2024, 1, day, tzinfo=timezone.utc)).alias("ts"),
    )


def test_scan_skips_disjoint_dirs(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.facts", _batch(spark, 0, 100, 1))
    t.append(_batch(spark, 100, 200, 2))
    t.append(_batch(spark, 200, 300, 3))
    snap = t.snapshot()
    assert len(snap.all_dirs()) == 3
    # stats recorded for every dir
    assert set(snap.stats) == set(snap.all_dirs())
    assert all("pk" in s and "v" in s for s in snap.stats.values())

    # range filter on pk prunes to one dir
    cands = t.candidate_dirs([("pk", ">=", 120), ("pk", "<", 180)])
    assert len(cands) == 1
    out = t.scan([("pk", ">=", 120), ("pk", "<", 180)])
    assert out.count() == 60
    assert out.agg(F.min("pk"), F.max("pk")).first() == (120, 179)

    # equality filter
    assert len(t.candidate_dirs([("pk", "=", 250)])) == 1
    assert t.scan([("pk", "=", 250)]).count() == 1

    # timestamp filter prunes by day
    cands_ts = t.candidate_dirs([("ts", ">=", datetime(2024, 1, 3))])
    assert len(cands_ts) == 1
    assert t.scan([("ts", ">=", datetime(2024, 1, 3))]).count() == 100

    # unprunable filter (no stats column) keeps everything and still
    # returns the right answer
    assert t.scan([("v", "<", 50.0)]).count() == 50


def test_skipping_survives_dml(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh2"))
    t = cat.create_or_replace("db.keyed", _batch(spark, 0, 100, 1), key=["pk"], n_buckets=4)
    t.append(_batch(spark, 100, 200, 2))
    snap = t.snapshot()
    # bucketed dirs carry stats too
    assert set(snap.stats) == set(snap.all_dirs())
    # merge rewrites some buckets; stats follow the surviving dirs
    t.merge(_batch(spark, 0, 10, 5))
    snap2 = t.snapshot()
    assert set(snap2.stats) == set(snap2.all_dirs())
    total = t.scan([("pk", "<", 1000)]).count()
    assert total == 200


def test_scan_report_explains_pruning(spark, tmp_path):
    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    t = cat.create_or_replace("db.sr", df.where("id < 50"), key=["id"], n_buckets=2)
    t.append(df.where("id >= 50"))
    rep = t.scan_report([("id", ">=", 90)])
    assert rep["total_dirs"] == rep["read_dirs"] + rep["pruned_dirs"]
    assert rep["pruned_dirs"] >= 1  # the id<50 commit can't match
    assert rep["pruned_pct"] > 0
    # matching rows still come back from the real scan
    assert t.scan([("id", ">=", 90)]).count() == 10
    # a filter on an unstated column prunes nothing and says why
    rep2 = t.scan_report([("nonexistent_col", ">=", 1)])
    assert rep2["pruned_dirs"] == 0
    assert rep2["kept_without_stats"] == rep2["total_dirs"]


def test_null_filter_skipping(spark, tmp_path):
    from datalake_iceberg_spark.tables import LakeCatalog

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    """IS NULL / IS NOT NULL dir skipping via the commit-time #nulls
    stats: a dir with zero nulls never serves IS NULL; an all-null dir
    never serves IS NOT NULL; values stay exact either way."""
    from pyspark.sql import Row

    # bucket by id so null-free and all-null rows land in known dirs:
    # two separate appends give per-commit dirs with distinct profiles
    df_nonull = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, v string"
    )
    t = catalog.create_or_replace("db.nskip", df_nonull, key=["id"], n_buckets=2)
    t.append(spark.createDataFrame(
        [(100 + i, None) for i in range(10)], "id long, v string"
    ))

    snap = t.snapshot()
    all_dirs = set(snap.all_dirs())
    null_dirs = set(t.candidate_dirs([("v", "is_null")]))
    notnull_dirs = set(t.candidate_dirs([("v", "is_not_null")]))
    # the no-null commit's dirs are pruned for IS NULL, and vice versa
    assert null_dirs < all_dirs and notnull_dirs < all_dirs
    assert null_dirs | notnull_dirs == all_dirs
    assert null_dirs.isdisjoint(notnull_dirs)

    assert t.scan([("v", "is_null")]).count() == 10
    assert t.scan([("v", "is_not_null")]).count() == 20
    # composes with range filters (3-tuples and 2-tuples mixed)
    assert t.scan([("v", "is_null"), ("id", ">=", 105)]).count() == 5
    rep = t.scan_report([("v", "is_null")])
    assert rep["pruned_dirs"] >= 1 and rep["read_dirs"] == len(null_dirs)


def test_update_where_null_filter(spark, tmp_path):
    from datalake_iceberg_spark.tables import LakeCatalog

    catalog = LakeCatalog(spark, str(tmp_path / "wh2"))
    """update_where accepts unary null filters with the same dir-level
    skipping, e.g. backfilling a NULL column."""
    t_df = spark.createDataFrame(
        [(i, None if i % 4 == 0 else f"v{i}") for i in range(16)],
        "id long, v string",
    )
    t = catalog.create_or_replace("db.nupd", t_df, key=["id"], n_buckets=2)
    t.update_where([("v", "is_null")], {"v": "'backfilled'"})
    got = {r.id: r.v for r in t.read().collect()}
    assert all(got[i] == "backfilled" for i in range(0, 16, 4))
    assert got[1] == "v1" and got[15] == "v15"


def test_in_filter_skipping(spark, tmp_path):
    """(col, 'in', [...]) prunes dirs whose min/max range contains none
    of the probe values, and the exact predicate is re-applied."""
    from datalake_iceberg_spark.tables import LakeCatalog

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    t = catalog.create_or_replace(
        "db.inskip",
        spark.createDataFrame([(i, f"v{i}") for i in range(100)],
                              "id long, v string"),
        key=["id"], n_buckets=1,
    )
    # three disjoint-range commits -> three dirs with tight id bounds
    t.append(spark.createDataFrame(
        [(1000 + i, "a") for i in range(50)], "id long, v string"))
    t.append(spark.createDataFrame(
        [(2000 + i, "b") for i in range(50)], "id long, v string"))

    kept = t.candidate_dirs([("id", "in", [1005, 1007])])
    assert len(kept) < len(t.snapshot().all_dirs())
    got = {r.id for r in t.scan([("id", "in", [1005, 1007, 999999])]).collect()}
    assert got == {1005, 1007}
    # composes with range filters; update_where accepts it too
    t.update_where([("id", "in", [3, 2049])], {"v": "'picked'"})
    vals = {r.id: r.v for r in t.read().where("id in (3, 2049)").collect()}
    assert vals == {3: "picked", 2049: "picked"}


# ------------------------------------------------------------------- DNF (OR)


def test_dnf_scan_prunes_per_branch(spark, tmp_path):
    """OR of two disjoint ranges keeps exactly the union of each
    branch's candidate dirs — the zone-map rule for disjunctions."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf", _batch(spark, 0, 100, 1))
    t.append(_batch(spark, 100, 200, 2))
    t.append(_batch(spark, 200, 300, 3))
    dnf = [[("pk", "<", 50)], [("pk", ">=", 250)]]
    cands = t.candidate_dirs(dnf)
    assert len(cands) == 2  # middle dir pruned
    out = t.scan(dnf)
    assert out.count() == 100
    assert out.agg(F.min("pk"), F.max("pk")).first() == (0, 299)


def test_dnf_branch_with_conjunction(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf2", _batch(spark, 0, 100, 1))
    t.append(_batch(spark, 100, 200, 2))
    # (pk >= 20 AND pk < 30) OR (ts >= day2)
    dnf = [
        [("pk", ">=", 20), ("pk", "<", 30)],
        [("ts", ">=", datetime(2024, 1, 2, tzinfo=timezone.utc))],
    ]
    assert t.scan(dnf).count() == 110
    assert len(t.candidate_dirs(dnf)) == 2  # both dirs can match a branch


def test_dnf_single_branch_equals_conjunction(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf3", _batch(spark, 0, 100, 1))
    t.append(_batch(spark, 100, 200, 2))
    conj = [("pk", ">=", 150)]
    assert t.scan([conj]).count() == t.scan(conj).count() == 50
    assert t.candidate_dirs([conj]) == t.candidate_dirs(conj)


def test_dnf_scan_report_shapes(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf4", _batch(spark, 0, 100, 1))
    t.append(_batch(spark, 100, 200, 2))
    t.append(_batch(spark, 200, 300, 3))
    rep = t.scan_report([[("pk", "<", 50)], [("pk", ">=", 250)]])
    assert rep["read_dirs"] == 2 and rep["pruned_dirs"] == 1
    assert rep["filters"] == [[["pk", "<", 50]], [["pk", ">=", 250]]]
    # conjunction report shape unchanged
    rep2 = t.scan_report([("pk", "<", 50)])
    assert rep2["filters"] == [["pk", "<", 50]]


def test_dnf_mixed_forms_raise(spark, tmp_path):
    import pytest

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf5", _batch(spark, 0, 100, 1))
    with pytest.raises(ValueError, match="mixed filter forms"):
        t.scan([("pk", "<", 50), [("pk", ">=", 250)]])
    with pytest.raises(ValueError, match="non-empty"):
        t.scan([])
    with pytest.raises(ValueError, match="branch"):
        t.scan([[("pk", "<", 50)], []])


def test_dnf_update_where(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf6", _batch(spark, 0, 100, 1), key=["pk"])
    t.append(_batch(spark, 100, 200, 2))
    t.append(_batch(spark, 200, 300, 3))
    snap = t.update_where(
        [[("pk", "<", 50)], [("pk", ">=", 250)]], {"v": "-1.0"}
    )
    assert snap.summary["pruned_dirs"] > 0
    got = t.read().filter(F.col("v") == -1.0).count()
    assert got == 100
    assert t.read().filter(F.col("v") >= 0).count() == 200


def test_dnf_delete_where_both_modes(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnf7", _batch(spark, 0, 100, 1), key=["pk"])
    t.append(_batch(spark, 100, 200, 2))
    t.append(_batch(spark, 200, 300, 3))
    snap = t.delete_where([[("pk", "<", 50)], [("pk", ">=", 250)]])
    assert snap.summary["pruned_dirs"] > 0
    assert t.read().count() == 200
    assert t.read().agg(F.min("pk"), F.max("pk")).first() == (50, 249)
    snap = t.delete_where(
        [[("pk", "<", 80)], [("pk", ">=", 220)]], mode="merge-on-read"
    )
    assert snap.deletes
    assert t.read().count() == 140
    assert t.read().agg(F.min("pk"), F.max("pk")).first() == (80, 219)


def test_neq_filter_prunes_constant_dirs(spark, tmp_path):
    """!= prunes only dirs whose min == max == value (a constant dir);
    NULL rows never match != in SQL, so null-bearing constant dirs
    still prune soundly."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace(
        "db.neq",
        spark.range(0, 50).select(F.col("id").alias("pk"), F.lit(7).alias("v")),
    )
    t.append(spark.range(50, 100).select(F.col("id").alias("pk"), F.lit(9).alias("v")))
    t.append(
        spark.range(100, 150).select(
            F.col("id").alias("pk"),
            F.when(F.col("id") % 2 == 0, 7).alias("v"),  # 7s + NULLs
        )
    )
    assert len(t.candidate_dirs([("v", "!=", 7)])) == 1  # only the 9-dir
    assert t.scan([("v", "!=", 7)]).count() == 50
    assert t.scan([("v", "<>", 9)]).count() == 75  # 50 sevens + 25 sevens
    assert len(t.candidate_dirs([("v", "!=", 5)])) == 3  # nothing prunable


def test_dnf_explicit_or_and_markers(spark, tmp_path):
    """r12 advice: {"or": ...} / {"and": ...} markers disambiguate the
    one corner where a list of 2-3 triples parses as a conjunction
    even when the caller meant OR-of-singles. Marker results must
    equal the equivalent list forms, including pruning."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.dnfm", _batch(spark, 0, 100, 1))
    t.append(_batch(spark, 100, 200, 2))
    t.append(_batch(spark, 200, 300, 3))
    # OR of two bare triples — the shape the list form CANNOT express
    out = t.scan({"or": [("pk", "<", 50), ("pk", ">=", 250)]})
    assert out.count() == 100
    assert len(t.candidate_dirs({"or": [("pk", "<", 50), ("pk", ">=", 250)]})) == 2
    # OR of conjunction branches == the list-of-branches form
    dnf = [[("pk", ">=", 20), ("pk", "<", 30)], [("pk", ">=", 250)]]
    marked = {"or": dnf}
    assert t.scan(marked).count() == t.scan(dnf).count() == 60
    # AND marker == the classic conjunction list
    assert (
        t.scan({"and": [("pk", ">=", 20), ("pk", "<", 30)]}).count()
        == t.scan([("pk", ">=", 20), ("pk", "<", 30)]).count()
        == 10
    )
    # malformed markers raise, never silently AND/OR
    import pytest

    with pytest.raises(ValueError, match="at least one branch"):
        t.scan({"or": []})
    with pytest.raises(ValueError, match='"or"'):
        t.scan({"or": [("pk", "<", 5)], "and": [("pk", ">", 1)]})


def test_scan_report_counts_the_dirs_scan_reads(spark, tmp_path, monkeypatch):
    """``scan_report``'s ``read_dirs``/``pruned_dirs`` are the dirs
    ``scan`` hands the read path, under a live merge-on-read era and
    after a rename (stats stay under the old physical name), for the
    conjunction, DNF, ``in`` and ``is_null`` filters of the tests above."""
    from datalake_iceberg_spark.tables import LakeTable

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace("db.agree", _batch(spark, 0, 100, 1), key=["pk"], n_buckets=2)
    t.append(_batch(spark, 100, 200, 2))
    t.rename_column("pk", "k")
    t.append(_batch(spark, 200, 300, 3).withColumnRenamed("pk", "k")
             .withColumn("v", F.lit(None).cast("double")))
    t.delete_keys(spark.createDataFrame([(5,), (150,), (250,)], "k long"),
                  mode="merge-on-read")
    snap = t.snapshot()
    assert snap.deletes and snap.renames
    live = set(snap.all_dirs())

    seen = []
    orig = LakeTable._read_with_deletes

    def spy(self, s, bucket_dirs):
        seen.append(bucket_dirs)
        return orig(self, s, bucket_dirs)

    monkeypatch.setattr(LakeTable, "_read_with_deletes", spy)
    for filters, rows in (
        ([("k", ">=", 120), ("k", "<", 180)], 59),
        ([[("k", "<", 50)], [("k", ">=", 250)]], 98),
        ([("k", "in", [1005, 105])], 1),
        ([("v", "is_null")], 99),
    ):
        seen.clear()
        assert t.scan(filters).count() == rows, filters
        read = {d for ds in seen[0].values() for d in ds}
        rep = t.scan_report(filters)
        assert (rep["read_dirs"], rep["pruned_dirs"]) == (len(read), len(live - read)), filters
        assert rep["pruned_dirs"] > 0, filters
