"""CDC semantics: envelope flatten, dedup-latest, MERGE/DELETE apply,
idempotent convergence under shuffled/duplicated event streams
(BASELINE.md "CDC convergence" target)."""

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datalake_iceberg_spark.cdc.pipeline import (
    apply_cdc_changes,
    batch_stats,
    dedup_latest,
    transform_and_dedup,
)
from datalake_iceberg_spark.functions.keys import SURROGATE_KEY_COL, surrogate_key
from datalake_iceberg_spark.tables import LakeCatalog


ENVELOPE_SCHEMA = (
    "op STRING, after STRUCT<id BIGINT, v STRING>, "
    "before STRUCT<id BIGINT, v STRING>, offset BIGINT, ts_ms BIGINT"
)


def envelope_rows(events):
    """events: list of (op, id, payload_val, offset, ts_ms)."""
    rows = []
    for op, id_, val, offset, ts in events:
        body = Row(id=id_, v=val)
        rows.append(
            Row(
                op=op,
                after=None if op == "d" else body,
                before=body if op == "d" else None,
                offset=offset,
                ts_ms=ts,
            )
        )
    return rows


def make_env(spark, events):
    return spark.createDataFrame(envelope_rows(events), ENVELOPE_SCHEMA)


@pytest.fixture()
def target(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    base = surrogate_key(
        spark.createDataFrame([Row(id=i, v=f"base{i}") for i in range(10)]), ["id"]
    ).withColumn("last_applied_date", F.current_timestamp())
    return cat.create_or_replace(
        "db.cdc_target", base, key=[SURROGATE_KEY_COL], n_buckets=4
    )


def test_dedup_latest_keeps_final_state(spark):
    df = spark.createDataFrame(
        [Row(id_iceberg="k1", v=1, __offset=10),
         Row(id_iceberg="k1", v=2, __offset=20),
         Row(id_iceberg="k2", v=9, __offset=5)]
    )
    out = {(r.id_iceberg, r.v) for r in dedup_latest(df).collect()}
    assert out == {("k1", 2), ("k2", 9)}


def test_transform_and_apply(spark, target):
    events = [
        ("c", 100, "ins100", 1, 1700000000000),
        ("u", 1, "upd1-a", 2, 1700000001000),
        ("u", 1, "upd1-b", 3, 1700000002000),  # same PK, later offset wins
        ("d", 2, "del2", 4, 1700000003000),
    ]
    env = make_env(spark, events)
    upserts, deletes = transform_and_dedup(env, target, ["id"])
    apply_cdc_changes(target, upserts, deletes)
    got = {r.id: r.v for r in target.read().collect()}
    assert got[100] == "ins100"
    assert got[1] == "upd1-b"
    assert 2 not in got
    assert len(got) == 10  # 10 base - 1 delete + 1 insert


def test_delete_then_reinsert(spark, target):
    """FIXTURES.md F6: delete-then-reinsert across batches → reinserted row."""
    b1 = make_env(spark, [("d", 5, "x", 1, 1)])
    u, d = transform_and_dedup(b1, target, ["id"])
    apply_cdc_changes(target, u, d)
    assert target.read().filter("id = 5").count() == 0
    b2 = make_env(spark, [("c", 5, "reborn", 2, 2)])
    u, d = transform_and_dedup(b2, target, ["id"])
    apply_cdc_changes(target, u, d)
    assert [r.v for r in target.read().filter("id = 5").collect()] == ["reborn"]


def test_convergence_random_workload(spark, target):
    """60/20/20 I/U/D random stream, any batch partitioning + in-batch
    duplicates → same final state as a sequential reference apply."""
    rng = random.Random(42)
    events, offset = [], 0
    live = set(range(10))
    expected = {i: f"base{i}" for i in range(10)}
    for _ in range(200):
        offset += 1
        roll = rng.random()
        if roll < 0.6 or not live:
            id_ = rng.randrange(1000)
            val = f"v{offset}"
            events.append(("c", id_, val, offset, offset * 1000))
            expected[id_] = val
            live.add(id_)
        elif roll < 0.8:
            id_ = rng.choice(sorted(live))
            val = f"u{offset}"
            events.append(("u", id_, val, offset, offset * 1000))
            expected[id_] = val
        else:
            id_ = rng.choice(sorted(live))
            events.append(("d", id_, "x", offset, offset * 1000))
            expected.pop(id_, None)
            live.discard(id_)
    # arbitrary batch boundaries (ordered within, as Kafka partitions give)
    cuts = sorted(rng.sample(range(1, len(events)), 5))
    batches = [events[a:b] for a, b in zip([0] + cuts, cuts + [len(events)])]
    for batch in batches:
        env = make_env(spark, batch)
        u, d = transform_and_dedup(env, target, ["id"])
        apply_cdc_changes(target, u, d)
    got = {r.id: r.v for r in target.read().collect()}
    assert got == expected


def test_batch_stats(spark):
    df = spark.createDataFrame(
        [Row(last_applied_date=None, __offset=7), Row(last_applied_date=None, __offset=3)],
        "last_applied_date TIMESTAMP, __offset BIGINT",
    )
    s = batch_stats(df)
    assert s.event_count == 2 and s.min_offset == 3 and s.max_offset == 7


# One batch per case: (op, id, value, offset, ts_ms) events against the
# ten base rows id 0..9 of the ``target`` fixture.
PARITY_BATCHES = {
    "mixed": [
        ("c", 100, "ins100", 1, 1),
        ("u", 1, "upd1-a", 2, 2),
        ("u", 1, "upd1-b", 3, 3),
        ("d", 2, "x", 4, 4),
        ("c", 101, "ins101", 5, 5),
        ("d", 101, "x", 6, 6),  # inserted then deleted in the same batch
        ("u", 3, "upd3", 7, 7),
        ("d", 4, "x", 8, 8),
    ],
    "delete_absent": [("d", 500, "x", 1, 1), ("u", 5, "upd5", 2, 2)],
    "upserts_only": [("c", 102, "ins102", 1, 1), ("u", 6, "upd6", 2, 2)],
    "deletes_only": [("d", 7, "x", 1, 1), ("d", 8, "x", 2, 2)],
    "empty": [],
}


def _merge_then_delete(state: dict, events) -> dict:
    """The two-commit order, replayed in Python: dedup-latest per key,
    MERGE the upserts, then DELETE the delete-set."""
    latest = {}
    for op, id_, val, _, _ in sorted(events, key=lambda e: e[3]):
        latest[id_] = (op, val)
    state = dict(state)
    state.update({i: v for i, (op, v) in latest.items() if op != "d"})
    for i, (op, _) in latest.items():
        if op == "d":
            state.pop(i, None)
    return state


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
@pytest.mark.parametrize("case", sorted(PARITY_BATCHES))
def test_fused_apply_matches_merge_then_delete(spark, target, mode, case):
    """The one-commit apply equals MERGE-then-DELETE; an empty batch
    makes no commit."""
    events = PARITY_BATCHES[case]
    before = {r.id: r.v for r in target.read().collect()}
    v0 = target.current_version()
    u, d = transform_and_dedup(make_env(spark, events), target, ["id"])
    apply_cdc_changes(target, u, d, mode=mode)
    assert {r.id: r.v for r in target.read().collect()} == _merge_then_delete(before, events)
    assert target.current_version() == v0 + (1 if events else 0)


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_with_deletes_source_wins(spark, target, mode):
    """A key both upserted and deleted in one ``merge`` is upserted."""
    src = target.read().where("id IN (1, 2)").withColumn("v", F.lit("new"))
    dels = target.read().where("id IN (2, 3)").select(SURROGATE_KEY_COL)
    target.merge(src, deletes=dels, mode=mode)
    got = {r.id: r.v for r in target.read().collect()}
    assert got[1] == got[2] == "new"
    assert 3 not in got and len(got) == 9


def test_mor_batch_delete_entries_share_covers(spark, tmp_path):
    """A merge-on-read batch's upsert and delete entries cover the same
    pre-commit dirs, so reads apply the batch as one anti-join."""
    from datalake_iceberg_spark.tables import bucket_expr

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace(
        "db.shared", spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(40)]),
        key=["id"], n_buckets=4,
    )
    # one upserted and one deleted key in every bucket
    by_bucket: dict[int, list[int]] = {}
    for r in t.read().select("id", bucket_expr(["id"], 4).alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.id)
    ups = [sorted(ids)[0] for ids in by_bucket.values()]
    dels = [sorted(ids)[1] for ids in by_bucket.values()]
    before = t.snapshot()
    t.merge(
        spark.createDataFrame([Row(id=i, v="new") for i in ups]),
        deletes=spark.createDataFrame([Row(id=i) for i in dels]),
        mode="merge-on-read",
    )
    snap = t.snapshot()
    assert snap.version == before.version + 1
    for b, entries in snap.deletes.items():
        new = [e for e in entries if e not in before.deletes.get(b, [])]
        assert len(new) == 2
        assert all(e["covers"] == before.buckets[b] for e in new)
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == 1
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {i: ("new" if i in ups else f"v{i}") for i in range(40) if i not in dels}
