"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, workloads  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    def envelopes(seed: int, out: str) -> list[bytes]:
        s = datagen.lineitem_stream(5_000, 400, 50, seed)
        s.generate(3, 1_000)
        paths = []
        for i in range(3):
            paths.append(os.path.join(out, f"{i}.parquet"))
            s.write_envelope(i, paths[-1])
        return [_bytes(p) for p in paths]

    for d in ("a", "b", "c"):
        os.makedirs(tmp_path / d)
    assert envelopes(7, str(tmp_path / "a")) == envelopes(7, str(tmp_path / "b"))
    assert envelopes(7, str(tmp_path / "a")) != envelopes(8, str(tmp_path / "c"))

    scale = datagen.Scale(orders=500, customers=50, suppliers=10, parts=40, events=300, users=20)
    first = datagen.write_lake_tables(str(tmp_path / "t1"), scale, 3)
    second = datagen.write_lake_tables(str(tmp_path / "t2"), scale, 3)
    assert {k: _bytes(p) for k, p in first.items()} == {k: _bytes(p) for k, p in second.items()}


def test_stream_shape():
    s = datagen.orders_stream(2_000, 100, seed=1)
    s.generate(4, 1_000)
    live_before = np.ones(2_000, dtype=bool)
    for i, b in enumerate(s.batches):
        n_rep = round(1_000 * datagen.REPEAT_FRAC)
        first_ops = b["op"][: 1_000 - n_rep]
        assert (first_ops == "c").sum() == round((1_000 - n_rep) * 0.6)
        # updates and deletes on first touch hit keys live before the batch
        touched = b["key"][: 1_000 - n_rep][first_ops != "c"]
        assert live_before[touched].all()
        assert len(np.unique(b["key"])) == b["distinct_keys"] == 1_000 - n_rep
        assert np.all(np.diff(b["offset"]) == 1)
        # skew: half the targets sit in the newest quarter (uniform: half)
        newest = b["key"][b["op"] == "c"].min() - 1
        assert np.median(newest - touched) < 0.25 * newest
        live_before = s.replay(i + 1).alive


def test_envelope_matches_engine_shape():
    s = datagen.orders_stream(100, 10, seed=2)
    s.generate(1, 50)
    t = s.envelope_table(0)
    assert t.column_names == ["before", "after", "op", "ts_ms", "offset"]
    assert t.schema.field("after").type == pa.struct(list(datagen.ORDERS_SCHEMA))
    rows = t.to_pylist()
    for r in rows:
        payload = r["before"] if r["op"] == "d" else r["after"]
        other = r["after"] if r["op"] == "d" else r["before"]
        assert payload is not None and other is None


def test_replay_agrees_with_hand_built_case():
    base = {"k": np.array([0, 1, 2]), "v": np.array([10.0, 11.0, 12.0])}
    replay = datagen.Replay(base)
    #        offset: 0    1    2    3    4    5    6    7    8    9
    ops = np.array(["u", "d", "c", "u", "c", "d", "u", "c", "d", "u"])
    keys = np.array([0, 1, 3, 3, 4, 4, 2, 5, 2, 1])
    vals = np.array([20., 21., 23., 33., 24., 34., 22., 25., 32., 41.])
    distinct = replay.apply({"op": ops, "key": keys, "offset": np.arange(10),
                             "rows": {"k": keys, "v": vals}})
    # last event per key: 0 u20, 1 u41 (re-upserted after its delete),
    # 2 deleted, 3 u33, 4 deleted, 5 c25
    assert distinct == 6
    assert replay.rows()["k"].tolist() == [0, 1, 3, 5]
    assert replay.rows()["v"].tolist() == [20.0, 41.0, 33.0, 25.0]
    assert replay.rows(np.array([5, 2, 9]))["k"].tolist() == [5]


def test_printed_metric_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert dict(workloads.E2E_UNITS) == declared_e2e
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)

    bench = workloads.Bench("/nonexistent", 0)
    res = {"dedup": {"events_in": 0, "rows_after_dedup": 0}, "loop_s": 1.0, "e2e": {}}
    printed = layers.metrics(Tracer(), bench, res)
    assert {k: u for k, (_v, u) in printed.items()} == declared_layer


def test_self_time_subtracts_union_of_children():
    t = Tracer()
    # parent 0..10 with overlapping children 1..4 and 3..6 on other threads
    t.spans = [(1, None, 1, "a:x", 0.0, 10.0, 1), (2, 1, 1, "b:y", 1.0, 4.0, 2),
               (3, 1, 1, "b:y", 3.0, 6.0, 3)]
    assert t.self_times() == {"a:x": 5.0, "b:y": 6.0}
    assert t.layer_table()["a"] == {"self_s": 5.0, "calls": 1}
