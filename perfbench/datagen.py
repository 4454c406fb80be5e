"""Seeded, vectorized input generator for the benchmark.

Everything here is NumPy + pyarrow (no Spark), so inputs are ready before
the engine is touched and the same ``seed`` always yields byte-identical
parquet files.

* :func:`write_lake_tables` writes a small TPC-H-shaped table set plus an
  ``events`` clickstream, with the column names, types and value domains
  the engine's query mix filters on.
* :class:`CdcStream` produces Debezium-envelope micro-batches against one
  keyed table (60/20/20 insert/update/delete on first touch, updates and
  deletes Zipf-skewed toward recently inserted keys, ~15 % in-batch key
  repeats) and keeps the replay oracle: the expected final row per key.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: epoch of the generated order dates (TPC-H-like 1995 .. 2001 range)
DATE_BASE = np.datetime64("1995-01-01T00:00:00", "us")
DATE_SPAN_DAYS = 2400
EVENTS_BASE = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_S = 30 * 86_400

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_WORDS = np.array(["blue", "green", "hot", "large", "red", "ring", "bolt", "nut"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["F", "O"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_NATIONS = 25

#: lineitem rows are laid out as LINES_PER_ORDER consecutive line numbers
#: per order, so one integer key ``k`` maps to (k // 7, k % 7 + 1)
LINES_PER_ORDER = 7

OP_MIX = (0.6, 0.2, 0.2)  # insert / update / delete, on a key's first touch
REPEAT_FRAC = 0.15        # events that re-touch a key already in the batch
ZIPF_A = 1.1              # skew of update/delete targets toward recent keys
TS_MS_BASE = 1_700_000_000_000


def _ts_days(days: np.ndarray) -> np.ndarray:
    return DATE_BASE + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- tables
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
])


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated table set."""

    orders: int
    customers: int
    suppliers: int
    parts: int
    events: int
    users: int

    @property
    def lineitems(self) -> int:
        return self.orders * LINES_PER_ORDER


def orders_rows(keys: np.ndarray, rng: np.random.Generator, n_customers: int) -> dict:
    """Payload columns for the given order keys (fresh random values)."""
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_customers, n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, len(STATUSES), n)],
        "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n), 2),
        "o_orderdate": _ts_days(rng.integers(0, DATE_SPAN_DAYS, n)),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
    }


def lineitem_rows(keys: np.ndarray, rng: np.random.Generator, n_parts: int,
                  n_suppliers: int) -> dict:
    """Payload columns for lineitem integer keys (see LINES_PER_ORDER)."""
    n = len(keys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": (keys // LINES_PER_ORDER).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n, dtype=np.int64),
        "l_linenumber": (keys % LINES_PER_ORDER + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURN_FLAGS[rng.integers(0, len(RETURN_FLAGS), n)],
        "l_linestatus": LINE_STATUS[rng.integers(0, len(LINE_STATUS), n)],
        "l_shipdate": _ts_days(rng.integers(1, DATE_SPAN_DAYS + 120, n)),
    }


def write_lake_tables(out_dir: str, scale: Scale, seed: int) -> dict[str, str]:
    """Write the query mix's source tables as ``{out_dir}/{name}.parquet``
    and return ``{name: path}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    nation_keys = np.arange(N_NATIONS, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": nation_keys,
            "n_name": [f"NATION_{i}" for i in nation_keys],
            "n_regionkey": (nation_keys % len(REGIONS)).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(scale.customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(scale.customers)],
            "c_nationkey": rng.integers(0, N_NATIONS, scale.customers, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, scale.customers), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), scale.customers)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(scale.suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(scale.suppliers)],
            "s_nationkey": rng.integers(0, N_NATIONS, scale.suppliers, dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, scale.suppliers), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(scale.parts, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(P_WORDS[rng.integers(0, len(P_WORDS), scale.parts)], " "),
                P_WORDS[rng.integers(0, len(P_WORDS), scale.parts)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(10, 35, scale.parts).astype(str)),
            "p_type": P_TYPES[rng.integers(0, len(P_TYPES), scale.parts)],
            "p_size": rng.integers(1, 51, scale.parts, dtype=np.int32),
            "p_retailprice": np.round(900.0 + np.arange(scale.parts) % 1000 / 10.0, 2),
        }),
        "orders": pa.table(
            orders_rows(np.arange(scale.orders), rng, scale.customers), schema=ORDERS_SCHEMA
        ),
        "lineitem": pa.table(
            lineitem_rows(np.arange(scale.lineitems), rng, scale.parts, scale.suppliers),
            schema=LINEITEM_SCHEMA,
        ),
    }
    offsets_us = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, scale.events))
    tables["events"] = pa.table({
        "event_id": np.arange(scale.events, dtype=np.int64),
        "ts": EVENTS_BASE + offsets_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, scale.users, scale.events, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), scale.events)],
        "value": np.round(rng.exponential(60.0, scale.events), 2),
        "props": np.char.add('{"k": ', np.char.add(
            rng.integers(0, 100, scale.events).astype(str), "}")),
    })
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return paths


# ------------------------------------------------------------------- CDC
class Replay:
    """Replay oracle: the current row of every key, as columns over the
    dense key space, with ``alive`` marking the keys that exist."""

    def __init__(self, base: dict):
        self.alive = np.ones(len(next(iter(base.values()))), dtype=bool)
        self.cols = {c: np.array(v, copy=True) for c, v in base.items()}

    def apply(self, batch: dict) -> int:
        """Apply one batch; the last event (highest offset) per key wins,
        as ``cdc.pipeline.dedup_latest`` decides. Returns the number of
        distinct keys, i.e. the rows left after in-batch dedup."""
        keys = batch["key"]
        uniq, rev_pos = np.unique(keys[::-1], return_index=True)
        last = len(keys) - 1 - rev_pos
        if uniq[-1] >= len(self.alive):
            grow = uniq[-1] + 1 - len(self.alive)
            self.alive = np.concatenate([self.alive, np.zeros(grow, dtype=bool)])
            for c, v in self.cols.items():
                self.cols[c] = np.concatenate([v, np.zeros(grow, dtype=v.dtype)])
        is_del = batch["op"][last] == "d"
        self.alive[uniq] = ~is_del
        up_keys, up_pos = uniq[~is_del], last[~is_del]
        for c in self.cols:
            self.cols[c][up_keys] = batch["rows"][c][up_pos]
        return len(uniq)

    def rows(self, keys: np.ndarray | None = None) -> dict:
        """Live rows in key order, restricted to ``keys`` when given."""
        idx = np.flatnonzero(self.alive)
        if keys is not None:
            keys = np.unique(keys)
            keys = keys[keys < len(self.alive)]
            idx = keys[self.alive[keys]]
        return {c: v[idx] for c, v in self.cols.items()}


class CdcStream:
    """Debezium-envelope micro-batches over one keyed table.

    Keys are dense integers: the base snapshot holds ``0 .. n_base-1`` and
    every insert takes the next unused key, so "recent" means "large".
    ``make_rows(keys, rng)`` returns the payload columns for ``keys``;
    ``schema`` is their arrow schema. Generation tracks which keys are
    live, so updates and deletes always hit existing rows.
    """

    def __init__(self, schema: pa.Schema, key_cols: list[str], make_rows,
                 n_base: int, seed: int, stream_id: int = 0):
        self.schema = schema
        self.key_cols = key_cols
        self.make_rows = make_rows
        self.rng = np.random.default_rng([seed, 2, stream_id])
        self.next_key = n_base
        self.next_offset = 0
        self.base = make_rows(np.arange(n_base), np.random.default_rng([seed, 3, stream_id]))
        self.alive = np.ones(n_base, dtype=bool)
        self.batches: list[dict] = []

    def _recent_targets(self, n: int) -> np.ndarray:
        """``n`` distinct live keys, Zipf-skewed toward the newest: the
        key of recency rank ``r`` (0 = newest) is drawn with weight
        ``1 / (r + 1) ** ZIPF_A``, without replacement."""
        live = np.flatnonzero(self.alive)
        if n > len(live):
            raise ValueError("not enough live keys for the batch")
        weights = 1.0 / np.arange(1, len(live) + 1) ** ZIPF_A
        ranks = self.rng.choice(len(live), n, replace=False, p=weights / weights.sum())
        return live[len(live) - 1 - ranks]

    def _gen(self, n_events: int) -> dict:
        rng = self.rng
        n_rep = int(round(n_events * REPEAT_FRAC))
        n_first = n_events - n_rep
        n_ins = int(round(n_first * OP_MIX[0]))
        n_upd = int(round(n_first * OP_MIX[1]))
        n_del = n_first - n_ins - n_upd
        ins_keys = np.arange(self.next_key, self.next_key + n_ins)
        self.next_key += n_ins
        first_keys = np.concatenate([ins_keys, self._recent_targets(n_upd + n_del)])
        first_ops = np.array(["c"] * n_ins + ["u"] * n_upd + ["d"] * n_del)
        order = rng.permutation(n_first)
        first_keys, first_ops = first_keys[order], first_ops[order]
        # repeats re-touch keys the batch already upserted, after them
        rep_idx = np.sort(rng.choice(np.flatnonzero(first_ops != "d"), n_rep))
        rep_ops = np.where(rng.random(n_rep) < 0.75, "u", "d")
        keys = np.concatenate([first_keys, first_keys[rep_idx]])
        ops = np.concatenate([first_ops, rep_ops])
        offsets = np.arange(self.next_offset, self.next_offset + n_events, dtype=np.int64)
        self.next_offset += n_events
        return {"op": ops, "key": keys, "offset": offsets, "rows": self.make_rows(keys, rng)}

    def generate(self, n_batches: int, n_events: int) -> None:
        """Append ``n_batches`` batches of ``n_events`` events each; each
        batch records its event count and distinct-key count."""
        for _ in range(n_batches):
            batch = self._gen(n_events)
            live = self.alive
            if self.next_key > len(live):
                live = np.concatenate([live, np.zeros(self.next_key - len(live), dtype=bool)])
            uniq, rev_pos = np.unique(batch["key"][::-1], return_index=True)
            last_op = batch["op"][len(batch["key"]) - 1 - rev_pos]
            live[uniq] = last_op != "d"
            self.alive = live
            self.batches.append({**batch, "events": n_events, "distinct_keys": len(uniq)})

    def replay(self, n_batches: int) -> Replay:
        """The oracle after the first ``n_batches`` batches."""
        r = Replay(self.base)
        for b in self.batches[:n_batches]:
            r.apply(b)
        return r

    def envelope_table(self, i: int) -> pa.Table:
        """Batch ``i`` as a Debezium envelope (``before``/``after``/``op``/
        ``ts_ms``/``offset``), the shape ``testing.datagen.envelope_df``
        builds: deletes carry the row in ``before``, other ops in
        ``after``."""
        b = self.batches[i]
        fields = list(self.schema)
        cols = [pa.array(b["rows"][f.name], type=f.type) for f in fields]
        is_del = b["op"] == "d"
        return pa.table({
            "before": pa.StructArray.from_arrays(cols, fields=fields, mask=pa.array(~is_del)),
            "after": pa.StructArray.from_arrays(cols, fields=fields, mask=pa.array(is_del)),
            "op": pa.array(b["op"], type=pa.string()),
            "ts_ms": pa.array(TS_MS_BASE + b["offset"], type=pa.int64()),
            "offset": pa.array(b["offset"], type=pa.int64()),
        })

    def write_envelope(self, i: int, path: str) -> None:
        _write(self.envelope_table(i), path)


def orders_stream(n_base: int, n_customers: int, seed: int, stream_id: int = 0) -> CdcStream:
    return CdcStream(
        ORDERS_SCHEMA, ["o_orderkey"],
        lambda keys, rng: orders_rows(keys, rng, n_customers),
        n_base, seed, stream_id,
    )


def lineitem_stream(n_base: int, n_parts: int, n_suppliers: int, seed: int,
                    stream_id: int = 1) -> CdcStream:
    return CdcStream(
        LINEITEM_SCHEMA, ["l_orderkey", "l_linenumber"],
        lambda keys, rng: lineitem_rows(keys, rng, n_parts, n_suppliers),
        n_base, seed, stream_id,
    )
