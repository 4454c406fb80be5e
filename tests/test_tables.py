"""LakeTable: snapshots, RTAS, append, merge, delete, update, maintenance."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datalake_iceberg_spark.tables import LakeCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_rtas_and_read(catalog, spark):
    df = spark.createDataFrame([Row(id=i, v=f"x{i}") for i in range(10)])
    t = catalog.create_or_replace("db.t", df, key=["id"], n_buckets=4)
    assert t.read().count() == 10
    assert t.snapshot().operation == "create_or_replace"
    # replace
    df2 = spark.createDataFrame([Row(id=1, v="only")])
    t.create_or_replace(df2, key=["id"], n_buckets=4)
    assert _rows(t.read()) == {(1, "only")}
    # time travel back to v0
    assert t.read(version=0).count() == 10


def test_time_travel_to_missing_version_is_a_clear_error(catalog, spark):
    df = spark.createDataFrame([Row(id=1, v="a")])
    t = catalog.create_or_replace("db.tt_missing", df, key=["id"], n_buckets=2)
    with pytest.raises(ValueError, match="no snapshot v999"):
        t.read(version=999)


def test_append_and_compact(catalog, spark):
    df = spark.createDataFrame([Row(id=i, v=i * 1.0) for i in range(5)])
    t = catalog.create_or_replace("db.a", df, key=["id"], n_buckets=2)
    for _ in range(3):
        t.append(spark.createDataFrame([Row(id=99, v=9.9)]))
    assert t.read().count() == 8
    res = t.rewrite_data_files(min_input_dirs=2)
    assert res["rewritten_buckets"] >= 1
    assert t.read().count() == 8
    t.expire_snapshots(keep_last=1)
    removed = t.remove_orphan_files(older_than_s=0.0)
    assert removed["orphan_dirs_removed"] >= 1
    assert t.read().count() == 8


def test_stale_bucket_writer_conflicts(catalog, spark):
    """Two writers from the same base snapshot touching the same bucket:
    the second rebases onto the first's commit, sees its bucket list
    changed, and must raise CommitConflict (never silently clobber)."""
    from datalake_iceberg_spark.tables import CommitConflict

    base = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(20)])
    t = catalog.create_or_replace("db.cc", base, key=["id"], n_buckets=2)
    stale = t.snapshot()
    upd = spark.createDataFrame([Row(id=1, v="w1")])
    t.merge(upd)  # writer 1 wins bucket B
    # writer 2, still holding the stale snapshot, tries to replace the
    # same bucket
    bucket = t._affected_buckets(upd.select("id"), stale)[0]
    with pytest.raises(CommitConflict, match="concurrent writer"):
        t._replace_buckets(stale, {str(bucket): []}, [bucket], "merge", {})
    # a disjoint-bucket append from the same era still lands (rebase)
    t.append(spark.createDataFrame([Row(id=2, v="w2")]))
    assert t.read().filter(F.col("v") == "w1").count() == 1


def test_timestamp_time_travel(catalog, spark):
    df = spark.createDataFrame([Row(id=1, v="a")])
    t = catalog.create_or_replace("db.tt", df, key=["id"], n_buckets=2)
    ts_after_v0 = t.snapshot().timestamp
    t.append(spark.createDataFrame([Row(id=2, v="b")]))
    # as-of the v0 commit instant -> v0 state
    assert t.read(as_of=ts_after_v0).count() == 1
    # as-of far future -> current state
    assert t.read(as_of="9999-01-01T00:00:00").count() == 2
    # before the table existed -> error
    with pytest.raises(ValueError, match="no snapshot"):
        t.read(as_of="1990-01-01T00:00:00")
    with pytest.raises(ValueError, match="at most one"):
        t.read(version=0, as_of=ts_after_v0)


def test_timestamp_travel_mixed_iso_forms(catalog, spark):
    """'Z' suffix and second-precision inputs must compare
    chronologically, not lexically (snapshot stamps carry
    microseconds + '+00:00')."""
    from datetime import datetime, timedelta, timezone

    df = spark.createDataFrame([Row(id=1, v="a")])
    t = catalog.create_or_replace("db.ttz", df, key=["id"], n_buckets=2)
    v0_ts = datetime.fromisoformat(t.snapshot().timestamp)
    t.append(spark.createDataFrame([Row(id=2, v="b")]))
    # a 'Z'-suffix instant one second AFTER v0: lexically '...Z' sorts
    # before '...+00:00' spellings, chronologically it must see v0
    z_form = (v0_ts + timedelta(seconds=1)).astimezone(timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )
    assert t.version_as_of(z_form) >= 0
    # naive (no-offset) form is treated as UTC
    naive = (v0_ts + timedelta(seconds=1)).strftime("%Y-%m-%dT%H:%M:%S")
    assert t.version_as_of(naive) == t.version_as_of(z_form)


def test_sorted_rewrite_clusters_row_groups(catalog, spark):
    """sort_by compaction must preserve data exactly AND cluster each
    bucket's file on the sort column: row groups (and files) end up with
    tight, non-overlapping [min, max] ranges, which is what lets pushed
    range predicates skip row groups at scan time."""
    import os

    import pyarrow.parquet as pq

    # interleaved appends -> every dir spans nearly the full ts range
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 7919 % 4000).alias("ts")
    )
    t = catalog.create_or_replace("db.sorted", df, key=["k"], n_buckets=2)
    t.append(
        spark.range(4000, 6000).select(
            F.col("id").alias("k"), (F.col("id") * 104729 % 4000).alias("ts")
        )
    )
    before = _rows(t.read())
    res = t.rewrite_data_files(sort_by=["ts"])
    assert res["rewritten_buckets"] == 2
    assert _rows(t.read()) == before  # clustering never changes content

    # every rewritten file is internally sorted: row-group ranges are
    # non-overlapping in row-group order
    snap = t.snapshot()
    for dirs in snap.buckets.values():
        for rel in dirs:
            abs_dir = os.path.join(t.location, rel)
            for fname in os.listdir(abs_dir):
                if not fname.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(abs_dir, fname)).metadata
                ts_idx = next(
                    i for i in range(md.row_group(0).num_columns)
                    if md.row_group(0).column(i).path_in_schema == "ts"
                )
                prev_max = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ts_idx).statistics
                    if prev_max is not None:
                        assert st.min >= prev_max, "row groups overlap after sort"
                    prev_max = st.max


def test_merge_upsert(catalog, spark):
    base = spark.createDataFrame([Row(id=i, v=f"old{i}") for i in range(100)])
    t = catalog.create_or_replace("db.m", base, key=["id"], n_buckets=8)
    src = spark.createDataFrame(
        [Row(id=5, v="new5"), Row(id=50, v="new50"), Row(id=1000, v="ins")]
    )
    snap = t.merge(src)
    # only buckets containing ids 5/50/1000 were rewritten
    assert len(snap.summary["affected_buckets"]) <= 3
    got = dict((r.id, r.v) for r in t.read().collect())
    assert got[5] == "new5" and got[50] == "new50" and got[1000] == "ins"
    assert got[7] == "old7"
    assert len(got) == 101


def test_merge_rejects_duplicate_keys(catalog, spark):
    t = catalog.create_or_replace(
        "db.dup", spark.createDataFrame([Row(id=1, v="a")]), key=["id"]
    )
    src = spark.createDataFrame([Row(id=2, v="x"), Row(id=2, v="y")])
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(src)


def test_delete_keys_and_where(catalog, spark):
    base = spark.createDataFrame([Row(id=i, v=i) for i in range(20)])
    t = catalog.create_or_replace("db.d", base, key=["id"], n_buckets=4)
    t.delete_keys(spark.createDataFrame([Row(id=3), Row(id=4)]))
    assert t.read().count() == 18
    t.delete_where(F.col("v") >= 15)
    assert t.read().count() == 13
    assert t.read().filter("id in (3,4) or v >= 15").count() == 0


def test_update_where(catalog, spark):
    base = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(5)])
    t = catalog.create_or_replace("db.u", base, key=["id"])
    t.update_where("id >= 3", {"v": "'patched'"})
    got = dict((r.id, r.v) for r in t.read().collect())
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "patched", 4: "patched"}


def test_concurrent_appends(catalog, spark):
    """Append-only ledger pattern: parallel appends must all land."""
    import threading

    t = catalog.create_or_replace(
        "db.c", spark.createDataFrame([Row(id=0, v=0)]), key=None
    )
    errs = []

    def add(i):
        try:
            t.append(spark.createDataFrame([Row(id=i, v=i)]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=add, args=(i,)) for i in range(1, 7)]
    [th.start() for th in threads]
    [th.join() for th in threads]
    assert not errs
    assert t.read().count() == 7


def test_schema_alignment_on_merge(catalog, spark):
    """Source columns are cast to target types (SimplifyCasts pin parity)."""
    base = spark.createDataFrame([Row(id=1, amount=1.5)])
    t = catalog.create_or_replace("db.s", base, key=["id"])
    src = spark.createDataFrame([Row(id="2", amount="2.5")])  # strings in
    t.merge(src)
    got = {(r.id, r.amount) for r in t.read().collect()}
    assert got == {(1, 1.5), (2, 2.5)}


def test_write_parallelism_exceeds_bucket_count(catalog, spark, monkeypatch):
    """A keyed write sub-splits each bucket across tasks — multiple files
    per bucket dir once a bucket's slice exceeds the per-task byte
    target — while bucket-dir pruning (read_buckets / lookup) stays
    exact. The byte target is shrunk so a test-sized df triggers the
    same path a 100 TB RTAS takes."""
    import os

    from datalake_iceberg_spark import tables as tables_mod

    monkeypatch.setattr(tables_mod, "TARGET_WRITE_BYTES", 4 * 1024)
    df = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t = catalog.create_or_replace("db.par", df, key=["k"], n_buckets=2)
    snap = t.snapshot()
    per_dir_files = []
    for dirs in snap.buckets.values():
        for rel in dirs:
            files = [
                f for f in os.listdir(os.path.join(t.location, rel))
                if f.endswith(".parquet")
            ]
            per_dir_files.append(len(files))
    assert max(per_dir_files) > 1, "bucket writes did not sub-split"
    assert t.read().count() == 20000
    # pruned read still returns exactly the right rows
    keys = spark.createDataFrame([(7,), (19999,)], "k LONG")
    got = {r.k for r in t.lookup(keys).collect()}
    assert got == {7, 19999}


def test_concurrent_disjoint_bucket_merges_both_land(catalog, spark):
    """Two writers merging keys that hash to DISJOINT bucket sets must
    both commit (the second rebases over the first — bucket lists are
    per-bucket, so non-overlapping rewrites compose), with no lost
    update in either direction."""
    import threading

    from pyspark.sql import functions as F

    from datalake_iceberg_spark.tables import bucket_expr

    n_buckets = 8
    base = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(64)])
    t = catalog.create_or_replace("db.cc", base, key=["id"], n_buckets=n_buckets)
    # split keys into two bucket-disjoint groups, driver-side
    rows = base.select("id", bucket_expr(["id"], n_buckets).alias("b")).collect()
    group_a = [r.id for r in rows if r.b < n_buckets // 2][:5]
    group_b = [r.id for r in rows if r.b >= n_buckets // 2][:5]
    assert group_a and group_b
    errs = []

    def merge(keys, tag):
        try:
            t.merge(spark.createDataFrame([Row(id=k, v=tag) for k in keys]))
        except Exception as e:  # pragma: no cover - must not happen
            errs.append((tag, e))

    th1 = threading.Thread(target=merge, args=(group_a, "A"))
    th2 = threading.Thread(target=merge, args=(group_b, "B"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs, errs
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 64
    assert all(got[k] == "A" for k in group_a)
    assert all(got[k] == "B" for k in group_b)


def test_concurrent_same_key_merges_linearizable(catalog, spark):
    """Two writers racing on the SAME key: at least one commits; a loser
    surfaces CommitConflict (never silent loss); the final state is one
    of the writers' values and no base row is lost either way."""
    import threading

    from datalake_iceberg_spark.tables import CommitConflict

    base = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(16)])
    t = catalog.create_or_replace("db.race2", base, key=["id"], n_buckets=2)
    outcomes = {}

    def merge(tag):
        try:
            t.merge(spark.createDataFrame([Row(id=7, v=tag)]))
            outcomes[tag] = "ok"
        except CommitConflict:
            outcomes[tag] = "conflict"

    th1 = threading.Thread(target=merge, args=("A",))
    th2 = threading.Thread(target=merge, args=("B",))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert "ok" in outcomes.values(), outcomes
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 16  # no lost base rows
    winners = {tag for tag, s in outcomes.items() if s == "ok"}
    assert got[7] in winners  # final value belongs to a SUCCESSFUL writer


def _commit_after_first_load(monkeypatch, table, concurrent):
    """Run ``concurrent()`` (a commit through another handle) right after
    ``table``'s first snapshot load, so any second load inside the same
    call sees the newer version."""
    from datalake_iceberg_spark.tables import LakeTable

    orig = LakeTable.snapshot
    fired = []

    def snapshot(self, version=None):
        snap = orig(self, version)
        if self is table and not fired:
            fired.append(snap.version)
            concurrent()
        return snap

    monkeypatch.setattr(LakeTable, "snapshot", snapshot)
    return fired


def test_scan_plans_from_one_snapshot(catalog, spark, monkeypatch):
    """A scan resolves its dirs and delete eras from the snapshot it
    loaded: a copy-on-write merge committing mid-plan must not drop the
    rewritten bucket's rows from the scan."""
    df = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(200)])
    t = catalog.create_or_replace("db.scan_race", df, key=["k"], n_buckets=4)
    t.delete_keys(spark.createDataFrame([Row(k=i) for i in range(0, 200, 20)]),
                  mode="merge-on-read")  # a live delete era
    expected = _rows(t.read())
    assert len(expected) == 190
    other = catalog.table("db.scan_race")
    fired = _commit_after_first_load(monkeypatch, t, lambda: other.merge(
        spark.createDataFrame([Row(k=5, v="new")])))
    got = _rows(t.scan([("k", ">=", 0)]))
    assert fired and other.current_version() == fired[0] + 1
    assert got == expected


def test_lookup_plans_from_one_snapshot(catalog, spark, monkeypatch):
    """A lookup reads the buckets it computed from the snapshot it
    loaded: a rebucket committing mid-plan must not make it read the
    same bucket ids under the new layout."""
    df = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(200)])
    t = catalog.create_or_replace("db.lookup_race", df, key=["k"], n_buckets=4)
    other = catalog.table("db.lookup_race")
    fired = _commit_after_first_load(monkeypatch, t, lambda: other.rebucket(8))
    keys = spark.createDataFrame([Row(k=i) for i in range(0, 200, 10)])
    got = _rows(t.lookup(keys))
    assert fired and other.snapshot().n_buckets == 8
    assert got == {(i, f"v{i}") for i in range(0, 200, 10)}


def test_gc_grace_protects_inflight_writer_dirs(catalog, spark):
    """The in-flight-writer window (r11): a commit writes its data/c-*
    dir BEFORE publishing the manifest that references it, so a
    concurrent GC sees every in-flight commit as an orphan. With the
    default grace (aligned to the reserved-manifest reclaim gate,
    3600 s), fresh unreferenced dirs are PROTECTED and reported; only
    dirs older than the grace are reclaimed. Age is backdated via
    os.utime to simulate a long-dead write."""
    import os

    from pyspark.sql import Row

    df = spark.createDataFrame([Row(id=i, v=i * 1.0) for i in range(5)])
    t = catalog.create_or_replace("db.grace", df, key=["id"], n_buckets=2)
    # simulate an in-flight writer: a staged commit dir with a part file,
    # not referenced by any manifest yet
    rel = t._new_commit_dir()
    staged_dir = catalog.fs.join(t.location, rel)
    with open(os.path.join(staged_dir, "part-0.parquet"), "wb") as f:
        f.write(b"inflight")

    # default grace: the fresh dir survives, is reported protected
    rep = t.remove_orphan_files()
    assert rep["orphan_dirs_removed"] == 0
    assert rep["orphan_dirs_protected"] == 1
    assert catalog.fs.isdir(staged_dir)
    # dry_run classifies the same way
    audit = t.remove_orphan_files(dry_run=True)
    assert audit["orphan_dirs_found"] == []
    assert audit["orphan_dirs_protected"] == [rel.split("/", 1)[1]]

    # the writer died an hour+ ago: backdate and reclaim
    old = 4000.0
    os.utime(staged_dir, (os.path.getatime(staged_dir) - old,
                          os.path.getmtime(staged_dir) - old))
    audit = t.remove_orphan_files(dry_run=True)
    assert audit["orphan_dirs_found"] == [rel.split("/", 1)[1]]
    rep = t.remove_orphan_files()
    assert rep["orphan_dirs_removed"] == 1
    assert not catalog.fs.isdir(staged_dir)
    # table state untouched throughout
    assert t.read().count() == 5


def test_publish_gate_refuses_commit_past_gc_grace(catalog, spark):
    """The publish side of the grace contract: a commit whose data dirs
    have aged past GC_GRACE_S must refuse to flip _current (a concurrent
    GC with the default grace may have reclaimed them) — this is what
    makes the 1h grace a REAL bound for plain append/merge commits,
    which reserve their manifest only at the END of the data write.
    Simulated by backdating the commit-dir birth stamps mid-write."""
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import GC_GRACE_S, CommitConflict

    df = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(8)])
    t = catalog.create_or_replace("db.pubgate", df, key=["id"], n_buckets=2)
    v0 = t.current_version()

    orig = type(t)._write_bucketed

    def slow_write(self, *a, **kw):
        out = orig(self, *a, **kw)
        # the write "took" longer than the grace
        for k in list(self._commit_dir_birth):
            self._commit_dir_birth[k] -= GC_GRACE_S + 1
        return out

    import unittest.mock as mock

    with mock.patch.object(type(t), "_write_bucketed", slow_write):
        with pytest.raises(CommitConflict, match="GC grace"):
            t.append(spark.createDataFrame([Row(id=100, v="late")]))
        with pytest.raises(CommitConflict, match="GC grace"):
            t.stage_append(
                spark.createDataFrame([Row(id=101, v="late")]), "w-late"
            )
    # table unharmed, and a normal-speed commit still publishes
    assert t.current_version() == v0
    assert "w-late" not in t.staged_ids()
    t.append(spark.createDataFrame([Row(id=102, v="ontime")]))
    assert t.read().where("id = 102").count() == 1


def test_staged_publish_not_gated_after_long_audit(catalog, spark):
    """WAP contract: once stage_append's doc lands, the staged dirs are
    GC-protected via the staged refs — a publish hours later must NOT
    trip the plain-commit age gate. Simulated by backdating every birth
    stamp after staging."""
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import GC_GRACE_S

    df = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(6)])
    t = catalog.create_or_replace("db.wapgate", df, key=["id"], n_buckets=2)
    t.stage_append(spark.createDataFrame([Row(id=50, v="staged")]), "w1")
    # the audit takes "two hours"
    for k in list(t._commit_dir_birth):
        t._commit_dir_birth[k] -= GC_GRACE_S * 2
    t.publish_staged("w1")  # must not raise
    assert t.read().where("id = 50").count() == 1


def test_gc_grace_property_raises_the_bound(catalog, spark):
    """commit.gc-grace-seconds widens BOTH sides: a slow write inside
    the declared grace publishes, and default-grace GC protects orphans
    up to the same declared age."""
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import GC_GRACE_S

    df = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(6)])
    t = catalog.create_or_replace(
        "db.gracep", df, key=["id"], n_buckets=2,
        properties={"commit.gc-grace-seconds": str(GC_GRACE_S * 48)},
    )
    orig = type(t)._write_bucketed

    def slow_write(self, *a, **kw):
        out = orig(self, *a, **kw)
        for k in list(self._commit_dir_birth):
            self._commit_dir_birth[k] -= GC_GRACE_S * 2  # 2h write
        return out

    import unittest.mock as mock

    with mock.patch.object(type(t), "_write_bucketed", slow_write):
        t.append(spark.createDataFrame([Row(id=100, v="slow-but-ok")]))
    assert t.read().where("id = 100").count() == 1
    # GC default follows the property: a 2h-old orphan is still protected
    import os

    rel = t._new_commit_dir()
    staged = catalog.fs.join(t.location, rel)
    with open(os.path.join(staged, "p.parquet"), "wb") as f:
        f.write(b"x")
    os.utime(staged, (os.path.getatime(staged) - 7200,
                      os.path.getmtime(staged) - 7200))
    rep = t.remove_orphan_files()
    assert rep["orphan_dirs_removed"] == 0 and rep["orphan_dirs_protected"] == 1


def test_update_where_with_reserved_looking_column(catalog, spark):
    """A table legitimately containing a '__upd' column must survive
    update_where unscathed — helper names carry a per-call tag."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id=i, __upd=f"keep{i}", v=f"v{i}") for i in range(8)]
    )
    t = catalog.create_or_replace("db.updres", df, key=["id"], n_buckets=2)
    t.update_where([("id", "<=", 3)], {"v": "'u'"})
    got = {r["id"]: (r["__upd"], r["v"]) for r in t.read().collect()}
    assert got[2] == ("keep2", "u")
    assert got[7] == ("keep7", "v7")  # user column fully preserved
