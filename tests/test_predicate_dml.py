"""Predicate DML (``delete_where`` / ``update_where``) in both write modes.

Every condition form against a Python model of the table, including rows
where the predicate evaluates NULL (they neither match a DELETE nor an
UPDATE), plus the commit contract: one version per call, a no-op one
when nothing matches, with the operation name and pruning summary.
"""

import pytest
from pyspark.sql import functions as F

from datalake_iceberg_spark.tables import LakeCatalog, bucket_expr

MODES = ["copy-on-write", "merge-on-read"]


def _x(i):
    return None if i % 7 == 0 else i


# condition (built lazily: a Column needs a live session) -> the
# model's "predicate IS TRUE" for a row (id, x)
FORMS = {
    "tuple": (lambda: [("x", ">=", 30)], lambda i, x: x is not None and x >= 30),
    "dnf": (
        lambda: [[("x", ">=", 30)], [("id", "<", 3)]],
        lambda i, x: (x is not None and x >= 30) or i < 3,
    ),
    "dict": (
        lambda: {"or": [("x", "<", 10), ("id", "=", 33)]},
        lambda i, x: (x is not None and x < 10) or i == 33,
    ),
    "sql": (lambda: "x % 3 = 0", lambda i, x: x is not None and x % 3 == 0),
    "column": (lambda: F.col("x") > 25, lambda i, x: x is not None and x > 25),
}


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _df(spark, ids):
    return spark.createDataFrame(
        [(i, _x(i), f"v{i}") for i in ids], "id long, x long, v string"
    )


def _rows(t):
    return {r["id"]: (r["x"], r["v"]) for r in t.read().collect()}


@pytest.mark.parametrize("form", sorted(FORMS))
@pytest.mark.parametrize("mode", MODES)
def test_predicate_dml_matches_model(catalog, spark, mode, form):
    make_cond, match = FORMS[form]
    cond = make_cond()
    # two dirs per bucket with disjoint id/x ranges, so the tuple forms prune
    t = catalog.create_or_replace("db.pdml", _df(spark, range(20)),
                                  key=["id"], n_buckets=4)
    t.append(_df(spark, range(20, 40)))
    model = {i: (_x(i), f"v{i}") for i in range(40)}
    mor = mode == "merge-on-read"

    def check(snap, op, version):
        assert snap.version == version
        assert snap.operation == (f"{op}-mor" if mor else op)
        assert {"pruned_dirs", "touched_dirs", "rewritten_dirs"} <= set(snap.summary)
        assert snap.summary["mode"] == mode
        assert _rows(t) == model

    v = t.current_version()
    snap = t.update_where(cond, {"v": "concat(v, '-u')"}, mode=mode)
    model = {i: (x, v_ + "-u" if match(i, x) else v_) for i, (x, v_) in model.items()}
    check(snap, "update", v + 1)
    assert any(v_.endswith("-u") for _, v_ in model.values())
    assert any(x is None for x, _ in model.values())  # NULL rows kept as is

    snap = t.delete_where(cond, mode=mode)
    model = {i: r for i, r in model.items() if not match(i, r[0])}
    check(snap, "delete", v + 2)
    if form in ("tuple", "dnf", "dict") and not mor:
        assert snap.summary["rewritten_dirs"] == snap.summary["touched_dirs"]
    if mor:
        assert snap.summary["rewritten_dirs"] == 0

    # nothing matches any more: still one (no-op) commit
    snap = t.update_where(cond, {"v": "'never'"}, mode=mode)
    check(snap, "update", v + 3)


@pytest.mark.parametrize("cond", [
    [("id", "=", 0)],
    [[("id", "=", 0)], [("id", "=", 1)]],
], ids=["tuple", "dnf"])
def test_cow_update_where_moves_key_across_buckets(catalog, spark, cond):
    """A copy-on-write UPDATE that assigns the key under a prunable
    condition writes the row into the bucket its NEW key hashes to; that
    bucket joins the commit, keeping every dir it already had."""
    n = 216
    t = catalog.create_or_replace("db.keymove", _df(spark, range(n)),
                                  key=["id"], n_buckets=4)
    n_hit = 1 if isinstance(cond[0], tuple) else 2

    def buckets(lo):
        return {r.b for r in spark.range(lo, lo + n_hit)
                .select(bucket_expr(["id"], 4).alias("b")).collect()}

    assert buckets(100001) - buckets(0), "a new key must land in an untouched bucket"
    snap = t.update_where(cond, {"id": "id + 100001"})
    assert snap.operation == "update"
    ids = {r["id"] for r in t.read().collect()}
    assert len(ids) == n
    assert ids == set(range(n_hit, n)) | {i + 100001 for i in range(n_hit)}
