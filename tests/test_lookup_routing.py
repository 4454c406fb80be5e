"""Driver-side bucket routing for point lookups.

``LakeTable.lookup`` computes the buckets of caller-held keys on the
driver with ``_bucket_of``, a pure-Python replica of ``bucket_expr``
(Spark's ``xxhash64`` over the string-cast keys, seed 42, chained per
column, ``"\\x00null"`` for NULL, then ``pmod``). A replica that drifts
from ``bucket_expr`` by one bucket silently drops rows, so this file
pins the two together, then checks the lookup contract (the result of a
full-read semi-join) and the job budget that the routing buys.
"""

import hashlib
import random
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import datalake_iceberg_spark.tables as tables_mod
from datalake_iceberg_spark.functions.keys import surrogate_key
from datalake_iceberg_spark.tables import LakeCatalog, LakeTable, _bucket_of, bucket_expr

BUCKET_COUNTS = (1, 4, 16, 64, 1000)
LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1
INT_MIN, INT_MAX = -(1 << 31), (1 << 31) - 1


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


# ------------------------------------------------------------ the router
def _router_rows():
    rng = random.Random(11)
    alphabet = "abcXYZ019 |-_"
    unicode_bits = ["é", "ß", "中文", "日本語", "🦆", "Ωmega", " ", "\x00"]
    rows = []
    for n in range(41):  # lengths 0-40 cross the 32-byte stripe
        rows.append("".join(rng.choice(alphabet) for _ in range(n)))
    for _ in range(60):
        rows.append("".join(rng.choice(unicode_bits + list(alphabet))
                            for _ in range(rng.randint(1, 24))))
    # perfbench keys on md5(concat_ws('|', pk...)): exactly one 32-byte stripe
    rows += [hashlib.md5(f"{i}|{i % 7}".encode()).hexdigest() for i in range(40)]
    longs = [0, 1, -1, LONG_MIN, LONG_MAX, LONG_MIN + 1, LONG_MAX - 1,
             INT_MIN, INT_MAX, -(1 << 40)] + [
        rng.randint(LONG_MIN, LONG_MAX) for _ in range(120)]
    ints = [0, -1, INT_MIN, INT_MAX] + [rng.randint(INT_MIN, INT_MAX) for _ in range(80)]
    shorts = [-32768, 32767, 0, -1] + [rng.randint(-32768, 32767) for _ in range(40)]
    out = []
    for i in range(max(len(rows), len(longs), len(ints), 256)):
        out.append((
            longs[i % len(longs)],
            ints[i % len(ints)],
            shorts[i % len(shorts)],
            i % 256 - 128,  # every byte value
            rows[i % len(rows)],
        ))
    # NULL in every key position, alone and beside a non-NULL partner
    out += [
        (None, 5, None, None, None),
        (7, None, 3, 4, None),
        (None, None, None, None, "x"),
        (LONG_MAX, INT_MIN, -32768, -128, None),
    ]
    return out


KEY_SETS = {
    "long": ["l"], "int": ["i"], "short": ["s"], "byte": ["b"],
    "string": ["str"], "long_int": ["l", "i"], "int_string": ["i", "str"],
}


def test_bucket_of_matches_bucket_expr(spark):
    df = spark.createDataFrame(
        _router_rows(), "l long, i int, s short, b byte, str string")
    cols = [bucket_expr(keys, n).alias(f"{name}_{n}")
            for name, keys in KEY_SETS.items() for n in BUCKET_COUNTS]
    got = df.select("l", "i", "s", "b", "str", *cols).collect()
    assert len(got) >= 256
    mismatches = []
    for row in got:
        for name, keys in KEY_SETS.items():
            values = tuple(row[k] for k in keys)
            for n in BUCKET_COUNTS:
                if _bucket_of(values, n) != row[f"{name}_{n}"]:
                    mismatches.append((name, n, values, row[f"{name}_{n}"]))
    assert mismatches == []


# ------------------------------------------------------ the lookup contract
def _rows(t, df):
    """Sorted row tuples in the table's column order (a USING join
    moves the key columns first)."""
    return sorted(tuple(r) for r in df.select(*t.schema().names).collect())


def _expected(t, probe, version=None):
    key = t.snapshot(version).key
    return _rows(t, t.read(version).join(
        probe.select(*key).distinct(), on=key, how="left_semi"))


def _got(t, probe, version=None):
    return _rows(t, t.lookup(probe, version=version))


def _probe_sets(rng, present, absent, size):
    """Random probe key lists: present keys with duplicates, absent keys
    and a NULL mixed in."""
    for _ in range(3):
        keys = rng.sample(present, size) + rng.sample(present, 3) + rng.sample(absent, 3)
        rng.shuffle(keys)
        yield keys + [None]


def _spy_affected(monkeypatch):
    calls = []
    orig = LakeTable._affected_buckets

    def spy(self, source, snap):
        calls.append(snap.version)
        return orig(self, source, snap)

    monkeypatch.setattr(LakeTable, "_affected_buckets", spy)
    return calls


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_lookup_equals_full_read_semi_join(catalog, spark, monkeypatch, mode):
    rows = [Row(k=i, v=f"v{i}") for i in range(0, 600, 3)]
    t = catalog.create_or_replace(f"db.lk_{mode[0]}", spark.createDataFrame(rows),
                                  key=["k"], n_buckets=16)
    t.merge(spark.createDataFrame([Row(k=i, v=f"w{i}") for i in range(0, 60, 3)]),
            mode=mode)
    deleted = list(range(300, 330, 3))
    t.delete_keys(spark.createDataFrame([Row(k=i) for i in deleted]), mode=mode)
    if mode == "merge-on-read":
        assert any(t.snapshot().deletes.values())  # a live delete era
    calls = _spy_affected(monkeypatch)
    rng = random.Random(3)
    present = list(range(0, 600, 3))
    absent = [i for i in range(600, 700)] + [1, 2, 4]
    for keys in _probe_sets(rng, present, absent, 12):
        probe = spark.createDataFrame([(k,) for k in keys + deleted[:2]], "k long")
        got = _got(t, probe)
        assert got == _expected(t, probe)
        assert not {r[0] for r in got} & set(deleted)
    assert calls == []  # every probe was routed on the driver


def test_lookup_md5_surrogate_and_composite_keys(catalog, spark, monkeypatch):
    base = spark.createDataFrame([(i, i % 5, f"v{i}") for i in range(400)],
                                 "a long, b int, v string")
    comp = catalog.create_or_replace("db.lk_comp", base, key=["a", "b"], n_buckets=16)
    md5 = catalog.create_or_replace("db.lk_md5", surrogate_key(base, ["a", "b"]),
                                    key=["id_iceberg"], n_buckets=16)
    calls = _spy_affected(monkeypatch)
    rng = random.Random(5)
    present = [(i, i % 5) for i in range(400)]
    absent = [(i, (i % 5) + 1) for i in range(400)] + [(i, i % 5) for i in range(400, 420)]
    for keys in _probe_sets(rng, present, absent, 10):
        tuples = [k if k is not None else (None, 2) for k in keys] + [(3, None)]
        probe = spark.createDataFrame(tuples, "a long, b int")
        assert _got(comp, probe) == _expected(comp, probe)
        probe_md5 = surrogate_key(probe, ["a", "b"])  # what perfbench sends
        assert _got(md5, probe_md5) == _expected(md5, probe_md5)
        assert len(_got(md5, probe_md5)) == len({k for k in tuples if k in set(present)})
    assert calls == []


def test_over_cap_lookup_takes_the_spark_path(catalog, spark, monkeypatch):
    monkeypatch.setattr(tables_mod, "MAX_PUSHED_LOOKUP_KEYS", 8)
    df = spark.createDataFrame([Row(a=i, b=i % 3, v=f"v{i}") for i in range(200)])
    single = catalog.create_or_replace("db.cap1", df.select("a", "v"), key=["a"], n_buckets=8)
    comp = catalog.create_or_replace("db.cap2", df, key=["a", "b"], n_buckets=8)
    calls = _spy_affected(monkeypatch)
    probe = spark.createDataFrame([(i, i % 3) for i in range(0, 60, 3)] + [(999, 0)],
                                  "a long, b int")
    assert _got(single, probe.select("a")) == _expected(single, probe.select("a"))
    assert _got(comp, probe) == _expected(comp, probe)
    assert len(calls) == 2  # one bucket job per over-cap lookup
    # duplicates count against the cap: nine rows of one key go over it
    dup = spark.createDataFrame([(6,)] * 9, "a long")
    assert _got(single, dup) == [(6, "v6")]
    assert len(calls) == 3
    # at the cap the probe still routes
    at_cap = spark.createDataFrame([(i,) for i in range(8)], "a long")
    assert _got(single, at_cap) == _expected(single, at_cap)
    assert len(calls) == 3


def test_lookup_time_travel_routes_on_the_old_layout(catalog, spark):
    df = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(120)])
    t = catalog.create_or_replace("db.lk_tt", df, key=["k"], n_buckets=4)
    v0 = t.current_version()
    t.update_where("k < 40", {"v": "'new'"})
    t.rebucket(16)
    probe = spark.createDataFrame([(i,) for i in range(0, 120, 7)] + [(500,)], "k long")
    old = _got(t, probe, version=v0)
    assert old == _expected(t, probe, version=v0)
    assert all(v.startswith("v") for _, v in old)
    new = _got(t, probe)
    assert new == _expected(t, probe)
    assert {v for k, v in new if k < 40} == {"new"}


def test_double_probe_of_long_key_keeps_the_spark_path(catalog, spark, monkeypatch):
    """A double's string cast ("7.0") is not a long's ("7"), so a double
    probe is not routed: it keeps the Spark bucket job and reads the
    buckets ``bucket_expr`` gives the double values."""
    df = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(200)])
    t = catalog.create_or_replace("db.lk_dbl", df, key=["k"], n_buckets=8)
    calls = _spy_affected(monkeypatch)
    vals = [float(i) for i in range(0, 200, 9)] + [7.5, 1e9]
    probe = spark.createDataFrame([(v,) for v in vals], "k double")
    got = _got(t, probe)
    assert len(calls) == 1
    probe_buckets = {r.b for r in probe.select(bucket_expr(["k"], 8).alias("b")).collect()}
    want = sorted((k, f"v{k}") for k in range(200)
                  if float(k) in vals and _bucket_of((k,), 8) in probe_buckets)
    assert got == want


# -------------------------------------------------------- the job budget
def test_routed_lookup_runs_no_job_before_the_read(catalog, spark, monkeypatch):
    """Building a 16-key lookup's DataFrame runs only the capped key
    probe: Spark's incremental ``take`` scans the first of the probe's
    two partitions, then the other. No ``distinct`` or bucket job runs
    before the read."""
    base = surrogate_key(
        spark.createDataFrame([(i, i % 4) for i in range(2000)], "a long, b int"),
        ["a", "b"])
    t = catalog.create_or_replace("db.lk_jobs", base, key=["id_iceberg"], n_buckets=16)
    keys = [(i, i % 4) for i in range(0, 1600, 100)]
    kf = surrogate_key(spark.createDataFrame(
        spark.sparkContext.parallelize(keys, 2), "a long, b int"), ["a", "b"])
    calls = _spy_affected(monkeypatch)
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "routed lookup")
    try:
        out = t.lookup(kf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert calls == []
    assert out.count() == 16
    assert {r.a for r in out.select("a").collect()} == {a for a, _ in keys}
    assert out.where(F.col("id_iceberg").isNull()).count() == 0
