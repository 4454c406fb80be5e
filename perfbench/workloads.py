"""The benchmark's workloads, run against the engine's public API.

Each workload is a closed loop with one client. ``Bench`` owns the Spark
session, the scratch directory, the per-op latency and CPU log and the
correctness checks. A workload prepares its tables ``SETUPS`` times
(``setup_s`` is the median preparation CPU time), then runs whole rounds
of its operations until the requested seconds have passed, and verifies
the final state against the replay oracle.

There is no separate warm-up: on a four-core host one round of Spark
operations takes 15-25 s, so a run is one round, and the first
preparation pays the session's cold start. Each operation in the loop
is the first of its kind in the process, so its cost includes the code
generation its plan needs.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import datalake_iceberg_spark.session as session_mod
from datalake_iceberg_spark.cdc import pipeline as cdc
from datalake_iceberg_spark.functions.keys import surrogate_key
from datalake_iceberg_spark.ingest import batch as ingest
from datalake_iceberg_spark.ops import maintenance as maint
from datalake_iceberg_spark.ops.watermark import WatermarkStore
from datalake_iceberg_spark.streaming.runner import CdcStreamRunner, SourceConfig
from datalake_iceberg_spark.tables import LakeCatalog

from perfbench import checks, datagen

SETUPS = 3  # set-ups per run; setup_s is their median

#: ``cdc_upsert`` sizes: base rows and events per micro-batch
CDC_LINEITEMS = 30_000
CDC_EVENTS = 4_000

#: ``hot_table_mor`` sizes
HOT_ORDERS = 30_000
HOT_EVENTS = 500
LOOKUP_KEYS = 16
WRITE_AHEAD = 2       # envelope files written during set-up, per stream
QUERY_SCALE = datagen.Scale(
    orders=30_000, customers=3_000, suppliers=200, parts=4_000, events=20_000, users=500
)

#: the analysts' query mix, in the order the hot loop rotates through it
QUERY_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "q9_nation_profit", "q10_returned_items", "q13_order_distribution",
    "q18_large_volume", "q21_waiting_suppliers", "dedup_latest_events",
    "sessionize_events", "hourly_rollup_events",
)

#: the end-to-end metrics every workload reports, with their units. The
#: timings are CPU seconds of this process plus the driver JVM: on a shared
#: host wall time tracks the neighbours' load (whole ten-run medians moved
#: by over a third between sets), CPU time much less
E2E_UNITS = {
    "setup_s": "s", "events_per_cpu_s": "1/cpu_s", "write_cpu_s": "cpu_s",
    "read_cpu_s": "cpu_s", "maintenance_cpu_s": "cpu_s", "space_amp": "ratio",
    "peak_mem_mb": "MB",
}

_DDL_TYPES = {"int64": "BIGINT", "int32": "INT", "string": "STRING",
              "double": "DOUBLE", "timestamp[us]": "TIMESTAMP"}


def envelope_ddl(schema) -> str:
    payload = ", ".join(f"`{f.name}`: {_DDL_TYPES[str(f.type)]}" for f in schema)
    return (f"`before` STRUCT<{payload}>, `after` STRUCT<{payload}>, "
            "`op` STRING, `ts_ms` BIGINT, `offset` BIGINT")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Bench:
    """One benchmark run: session, scratch space, op log, checks."""

    def __init__(self, work: str, seed: int, tracer=None):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.lat: dict[str, list[float]] = {"write": [], "read": [], "maint": []}
        self.cpu: dict[str, list[float]] = {"write": [], "read": [], "maint": []}
        self.query_lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks = 0
        self.check_failures: list[str] = []
        self.rtas_rows = 0
        self.events_applied = 0
        self.jobs: dict[str, list[tuple[int, int, int]]] = {}
        self._dirs: dict[str, str] = {}
        self._store: WatermarkStore | None = None
        self._n_dirs = 0
        self._jvm_stat: str | None = None

    # -- session -----------------------------------------------------------
    def start_session(self):
        """(Re)start the engine session; the JVM is launched once."""
        if self.spark is not None:
            self.spark.stop()
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        # the whole heap up front and the serial collector: peak RSS then
        # does not depend on when the collector grows the heap, and no GC
        # threads compete with Spark's task threads on a small host. A run
        # lives about a minute: the optimising JIT compiler (C2) would burn
        # ~30 CPU-seconds of it compiling code that never pays back, so
        # compilation stops at C1 (loop CPU time less than halved)
        java_opts = (f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                     f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+UseSerialGC "
                     "-XX:TieredStopAtLevel=1")
        self.spark = session_mod.create_spark_session(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self._jvm_stat = f"/proc/{pid}/stat"
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by this process and the
        driver JVM, which runs every Spark task thread in local mode."""
        import resource

        ru = resource.getrusage(resource.RUSAGE_SELF)
        jvm_ticks = 0  # before the first session there is no JVM yet
        if self._jvm_stat is not None:
            with open(self._jvm_stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            jvm_ticks = int(fields[11]) + int(fields[12])  # utime, stime
        return ru.ru_utime + ru.ru_stime + jvm_ticks / os.sysconf("SC_CLK_TCK")

    def ledger(self) -> WatermarkStore:
        """The watermark ledgers, in an ops warehouse created once per run
        and shared by every set-up: the ledger is long-lived deployment
        state, not part of the tables a set-up (re)loads."""
        if self._store is None:
            self._store = WatermarkStore(
                LakeCatalog(self.spark, os.path.join(self.work, "ops-wh")))
            self._store.ensure_tables()
        else:  # the session was restarted: rebind
            self._store = WatermarkStore(LakeCatalog(self.spark, self._store.catalog.warehouse))
        return self._store

    def fresh_dir(self, name: str) -> str:
        """A new empty directory for ``name``, replacing the previous one.
        Each gets a new path: the engine caches manifests by path."""
        old = self._dirs.get(name)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        self._n_dirs += 1
        path = self._dirs[name] = os.path.join(self.work, f"{name}-{self._n_dirs}")
        os.makedirs(path)
        return path

    # -- ops and checks ------------------------------------------------------
    def op(self, kind: str, fn, *args, label: str | None = None, **kwargs):
        """Run one timed operation of ``kind`` (write/read/maint); an
        exception counts as a failed op and returns None."""
        self.attempted += 1
        group = None
        if self.tracer is not None:
            group = f"{kind}-{self.attempted}"
            self.spark.sparkContext.setJobGroup(group, label or kind)
        c0, t0 = self.cpu_s(), time.perf_counter()
        try:
            if self.tracer is not None:
                result = self.tracer.span(f"op:{label or kind}", fn, *args, **kwargs)
            else:
                result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed op is a measured outcome
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.lat[kind].append(time.perf_counter() - t0)
        self.cpu[kind].append(self.cpu_s() - c0)
        if group is not None:
            self.record_jobs(kind, group)
        return result

    def record_jobs(self, kind: str, group: str) -> None:
        """Spark jobs / tasks / failed tasks run under ``group``."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        self.jobs.setdefault(kind, []).append((jobs, tasks, failed))

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    # -- end-to-end metrics --------------------------------------------------
    def peak_mem_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        import resource

        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        print(f"peak rss: python {py_kb // 1024} MB, jvm {jvm_kb // 1024} MB", file=sys.stderr)
        return (py_kb + jvm_kb) / 1024.0

    def space_amp(self, tables: dict, finals: dict) -> float:
        """Bytes the tables' current snapshots reference (data and delete
        dirs) over the bytes of their live rows (``finals``, read back as
        pandas frames) written once as one snappy parquet file each."""
        import pyarrow as pa

        referenced = compact = 0
        out = self.fresh_dir("compact")
        for name, t in tables.items():
            snap = t.snapshot()
            for d in snap.all_dirs() + snap.all_delete_dirs():
                referenced += dir_bytes(os.path.join(t.location, d))
            path = os.path.join(out, f"{name}.parquet")
            pq.write_table(pa.Table.from_pandas(finals[name], preserve_index=False), path,
                           compression="snappy")
            compact += os.path.getsize(path)
        return referenced / compact

    def pause_trace(self, paused: bool) -> None:
        """Stop (or resume) recording spans, e.g. around the final checks,
        which are not part of the measured loop."""
        if self.tracer is not None:
            self.tracer.paused = paused

    def prepare(self, setup) -> tuple:
        """Run ``setup`` SETUPS times; return the last result and the CPU
        time of each (the first includes the JVM's start)."""
        times = []
        for _ in range(SETUPS):
            c0, t0 = self.cpu_s(), time.perf_counter()
            result = setup()
            times.append(self.cpu_s() - c0)
            print(f"prep wall={time.perf_counter() - t0:.2f} cpu={times[-1]:.2f}",
                  file=sys.stderr)
        return result, times

    def e2e(self, prep_cpu, loop_s, loop_cpu, tables, finals) -> dict:
        """End-to-end metrics; ``setup_s`` is the median preparation CPU
        time. Per-op figures are means: a one-round run has one sample of
        each write and maintenance op and one to five unlike reads, and
        the median of five unlike reads jumps between op kinds. Wall-time
        figures go to standard error only."""
        ops = sum(len(v) for v in self.lat.values())
        print(f"loop wall={loop_s:.2f} cpu={loop_cpu:.2f} "
              f"events_per_s={self.events_applied / loop_s:.2f} ops_per_s={ops / loop_s:.4f}",
              file=sys.stderr)
        values = {"setup_s": statistics.median(prep_cpu),
                  "events_per_cpu_s": self.events_applied / loop_cpu}
        for kind, name in (("write", "write"), ("read", "read"), ("maint", "maintenance")):
            vals, cpu = self.lat[kind], self.cpu[kind]
            values[f"{name}_cpu_s"] = statistics.fmean(cpu) if cpu else 0.0
            print(f"{kind}: n={len(vals)} wall={[round(v, 3) for v in vals]} "
                  f"cpu={[round(v, 3) for v in cpu]}", file=sys.stderr)
        values["space_amp"] = self.space_amp(tables, finals)
        values["peak_mem_mb"] = self.peak_mem_mb()
        return {name: (values[name], unit) for name, unit in E2E_UNITS.items()}


# ------------------------------------------------------------------ helpers
def keys_frame(spark, stream: datagen.CdcStream, keys: np.ndarray):
    """A DataFrame of the key columns (+ surrogate key) for int keys."""
    rows = stream.make_rows(keys, np.random.default_rng(0))
    cols = stream.key_cols
    data = list(zip(*[rows[c].tolist() for c in cols]))
    types = {"o_orderkey": "bigint", "l_orderkey": "bigint", "l_linenumber": "int"}
    ddl = ", ".join(f"{c} {types[c]}" for c in cols)
    return surrogate_key(spark.createDataFrame(data, ddl), cols)


def rtas(bench: Bench, catalog, name: str, base: dict, schema, key_cols: list[str]):
    import pyarrow as pa

    path = os.path.join(bench.work, "data", f"{name}_base.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(base, schema=schema), path)
    df = bench.spark.read.parquet(path)
    bench.rtas_rows += len(next(iter(base.values())))
    return ingest.snapshot_to_table(catalog, f"default.{name}", df, key_cols)


def payload_cols(stream: datagen.CdcStream) -> list[str]:
    return [f.name for f in stream.schema]


# --------------------------------------------------------------- cdc_upsert
def table_services(service, name: str) -> None:
    """The maintenance pass the CDC loop schedules after each drain round:
    compaction then snapshot expiry, then orphan cleanup, each recorded
    in the maintenance ledger."""
    service.run_compaction(name, last_completed=None)
    service.run_orphan_cleanup(name)


class TimedRunner(CdcStreamRunner):
    """Runner that logs each micro-batch's wall and CPU time: from the
    start of its foreachBatch body to its commit and ledger append."""

    def __init__(self, bench: Bench, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.bench = bench
        self.batches: list[float] = []
        self.batch_cpu: list[float] = []

    def _process_batch(self, batch_df, batch_id, source, target):
        tracer = self.bench.tracer
        group = f"batch-{source.name}-{batch_id}"
        if tracer is not None:
            self.spark.sparkContext.setJobGroup(group, "cdc batch")
        c0, t0 = self.bench.cpu_s(), time.perf_counter()
        if tracer is not None:
            tracer.span("streaming.runner:process_batch", super()._process_batch,
                        batch_df, batch_id, source, target,
                        adopt=tracer.adopt(f"run_source:{source.name}"))
        else:
            super()._process_batch(batch_df, batch_id, source, target)
        self.batches.append(time.perf_counter() - t0)
        self.batch_cpu.append(self.bench.cpu_s() - c0)
        if tracer is not None:
            self.bench.record_jobs("write", group)


class Backlog:
    """Envelope files of one stream, written ahead into ``directory`` and
    landed one by one into the stream's source directory. Batches past
    the pre-written ones are generated on demand, so a fast engine never
    runs dry."""

    def __init__(self, stream: datagen.CdcStream, n_events: int, directory: str,
                 ahead: int):
        self.stream, self.n_events, self.dir = stream, n_events, directory
        self.written = 0
        self.landed = 0
        self.write_ahead(ahead)

    def path(self, i: int) -> str:
        return os.path.join(self.dir, f"b{i:05d}.parquet")

    def write_ahead(self, upto: int) -> None:
        if len(self.stream.batches) < upto:
            self.stream.generate(upto - len(self.stream.batches), self.n_events)
        for i in range(self.written, upto):
            self.stream.write_envelope(i, self.path(i))
        self.written = max(self.written, upto)

    def land(self, landing: str) -> None:
        """Move the next file into ``landing``; mtimes one second apart
        keep the file source's processing order."""
        i = self.landed
        self.write_ahead(i + 1)
        dst = os.path.join(landing, os.path.basename(self.path(i)))
        os.rename(self.path(i), dst)
        mtime = time.time() - 86_400 + i
        os.utime(dst, (mtime, mtime))
        self.landed += 1


def cdc_upsert(bench: Bench, seconds: float) -> dict:
    """Copy-on-write CDC drain of ``lineitem`` through the streaming
    runner, with a watermark ledger, a freshness lookup and a
    table-services pass after every micro-batch."""
    s = datagen.lineitem_stream(CDC_LINEITEMS, QUERY_SCALE.parts, QUERY_SCALE.suppliers,
                                bench.seed)

    def setup():
        bench.start_session()
        catalog = LakeCatalog(bench.spark, bench.fresh_dir("wh"))
        backlog = Backlog(s, CDC_EVENTS, bench.fresh_dir("backlog"), WRITE_AHEAD)
        table = rtas(bench, catalog, "lineitem", s.base, s.schema, s.key_cols)
        source = SourceConfig(
            name="default.lineitem", path=bench.fresh_dir("landing"), format="parquet",
            schema=envelope_ddl(s.schema), key_cols=s.key_cols, max_files_per_trigger=1,
            write_mode="copy-on-write",
        )
        store = bench.ledger()
        runner = TimedRunner(bench, bench.spark, store=store,
                             checkpoint_root=bench.fresh_dir("ckpt"), dag_id="cdc")
        return catalog, table, source, backlog, store, runner

    (catalog, table, source, backlog, store, runner), prep_times = bench.prepare(setup)
    service = maint.MaintenanceService(catalog, store)
    replay = s.replay(0)

    def drain_round():
        """Land one micro-batch, drain it, then read its newest upserted
        keys back (the freshness read)."""
        backlog.land(source.path)
        n_before = len(runner.batches)
        bench.attempted += 1
        for name, err in runner.run_sources([(source, table)], concurrency=1).items():
            bench.check(err is None, f"runner source {name}: {err}")
        done = runner.batches[n_before:]
        bench.failed += 1 - len(done)
        bench.lat["write"].extend(done)
        bench.cpu["write"].extend(runner.batch_cpu[n_before:])
        batch = s.batches[backlog.landed - 1]
        replay.apply(batch)
        bench.events_applied += batch["events"]
        keys = batch["key"][batch["op"] != "d"][-LOOKUP_KEYS:]
        got = bench.op("read", lambda: table.lookup(
            keys_frame(bench.spark, s, keys)).toPandas(), label="lookup")
        if got is not None:
            bench.check(checks.frame_matches(got, replay.rows(keys), s.key_cols),
                        f"lookup after batch {backlog.landed}")

    c_start, t_start = bench.cpu_s(), time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        drain_round()
        bench.op("maint", table_services, service, "default.lineitem", label="maintenance")
    loop_s = time.perf_counter() - t_start
    loop_cpu = bench.cpu_s() - c_start
    bench.pause_trace(True)

    # final state: the table equals the replay oracle, and the ledger
    # accounts for every event landed
    final = table.read().toPandas()
    bench.check(checks.frame_matches(final[payload_cols(s)], replay.rows(), s.key_cols),
                "lineitem final table equals replay oracle")
    ledger = store.cdc().read().where("table_name = 'lineitem'").toPandas()
    applied = s.batches[: backlog.landed]
    want = sum(b["events"] for b in applied)
    got_events = int(ledger["event_count"].sum())
    bench.check(got_events == want, f"ledger events {got_events} != {want}")
    dedup = {"events_in": want, "rows_after_dedup": sum(b["distinct_keys"] for b in applied)}
    return {"e2e": bench.e2e(prep_times, loop_s, loop_cpu, {"lineitem": table}, {"lineitem": final}),
            "loop_s": loop_s, "dedup": dedup}


# ------------------------------------------------------------ hot_table_mor
def hot_table_mor(bench: Bench, seconds: float) -> dict:
    """Merge-on-read CDC writes on one ``orders`` table beside lookups,
    range scans, full reads, counts and the analysts' query mix, with an
    advised maintenance pass after every write."""
    import __spark_entry__ as entry

    stream = datagen.orders_stream(HOT_ORDERS, QUERY_SCALE.customers, bench.seed)
    queries = entry.queries()

    def setup():
        bench.start_session()
        catalog = LakeCatalog(bench.spark, bench.fresh_dir("wh"))
        sf_dir = bench.fresh_dir("sf")
        datagen.write_lake_tables(sf_dir, QUERY_SCALE, bench.seed)
        backlog = Backlog(stream, HOT_EVENTS, bench.fresh_dir("backlog"), WRITE_AHEAD)
        table = rtas(bench, catalog, "orders", stream.base, stream.schema, stream.key_cols)
        store = bench.ledger()
        return catalog, table, store, sf_dir, backlog

    (catalog, table, store, sf_dir, backlog), prep_times = bench.prepare(setup)
    service = maint.MaintenanceService(catalog, store)
    replay = stream.replay(0)
    first_results: dict[str, list] = {}
    scans: list[tuple] = []
    rng = np.random.default_rng([bench.seed, 9])
    landing = bench.fresh_dir("landing")

    def write():
        backlog.land(landing)
        path = os.path.join(landing, os.path.basename(backlog.path(backlog.landed - 1)))
        ups, dels = cdc.transform_and_dedup(bench.spark.read.parquet(path), table,
                                            stream.key_cols)
        return cdc.apply_cdc_changes(table, ups, dels, mode="merge-on-read")

    def scan():
        day = int(rng.integers(0, datagen.DATE_SPAN_DAYS - 60))
        lo = datagen.DATE_BASE + np.timedelta64(day, "D")
        hi = lo + np.timedelta64(60, "D")
        filters = [("o_orderdate", ">=", lo.item()), ("o_orderdate", "<", hi.item())]
        row = bench.op("read", lambda: table.scan(filters).agg(
            {"o_totalprice": "sum", "*": "count"}).collect()[0], label="scan")
        if row is not None:
            alive = replay.rows()
            sel = (alive["o_orderdate"] >= lo) & (alive["o_orderdate"] < hi)
            bench.check(row["count(1)"] == int(sel.sum()) and math.isclose(
                row["sum(o_totalprice)"] or 0.0, float(alive["o_totalprice"][sel].sum()),
                rel_tol=1e-9, abs_tol=1e-6), f"scan {lo}..{hi}")
        if bench.tracer is not None:
            rep = table.scan_report(filters)
            bench.tracer.sample("scan_dirs_frac", rep["read_dirs"] / max(1, rep["total_dirs"]))

    def full_read():
        grouped = bench.op("read", lambda: table.read().groupBy("o_orderstatus")
                           .count().collect(), label="read")
        if grouped is not None:
            st, cnt = np.unique(replay.rows()["o_orderstatus"], return_counts=True)
            bench.check({r[0]: r[1] for r in grouped} == dict(zip(st.tolist(), cnt.tolist())),
                        "full read group-by")

    def count():
        n = bench.op("read", table.row_count, label="row_count")
        bench.check(n == int(replay.alive.sum()), f"row_count {n}")

    def query(qname):
        t_q = time.perf_counter()
        rows = bench.op("read", lambda: queries[qname](bench.spark, sf_dir).collect(),
                        label=f"query:{qname}")
        if rows is not None:
            bench.query_lat.setdefault(qname, []).append(time.perf_counter() - t_q)
            first_results.setdefault(qname, rows)

    def cycle(k: int) -> bool:
        """One write, the lookup of its newest keys, one read of each other
        kind (the query mix advances one query per cycle), then an advised
        maintenance pass."""
        if bench.op("write", write, label="cdc_mor") is None:
            return False
        batch = stream.batches[backlog.landed - 1]
        replay.apply(batch)
        bench.events_applied += batch["events"]
        if bench.tracer is not None:
            from perfbench import layers

            layers.after_mor_write(bench.tracer, table)
        keys = batch["key"][batch["op"] != "d"][-LOOKUP_KEYS:]
        got = bench.op("read", lambda: table.lookup(
            keys_frame(bench.spark, stream, keys)).toPandas(), label="lookup")
        if got is not None:
            bench.check(checks.frame_matches(got[payload_cols(stream)], replay.rows(keys),
                                             stream.key_cols),
                        f"lookup after write {backlog.landed}")
        scan()
        full_read()
        count()
        query(QUERY_MIX[k % len(QUERY_MIX)])
        bench.op("maint", maint.run_advised, service, "default.orders", label="run_advised")
        return True

    c_start, t_start = bench.cpu_s(), time.perf_counter()
    cycles = 0
    while time.perf_counter() - t_start < seconds:
        if not cycle(cycles):
            break
        cycles += 1
    loop_s = time.perf_counter() - t_start
    loop_cpu = bench.cpu_s() - c_start

    if bench.tracer is not None:  # per-query timings: the whole mix once
        for qname in QUERY_MIX:
            t_q = time.perf_counter()
            rows = queries[qname](bench.spark, sf_dir).collect()
            bench.query_lat.setdefault(qname, []).append(time.perf_counter() - t_q)
            first_results.setdefault(qname, rows)
    bench.pause_trace(True)
    expected = replay.rows()
    before = table.row_count()
    table.rewrite_position_delete_files()
    after = table.row_count()
    bench.check(before == after == len(expected["o_orderkey"]),
                f"row_count before/after fold {before}/{after}")
    final = table.read().toPandas()
    bench.check(checks.frame_matches(final[payload_cols(stream)], expected, stream.key_cols),
                "orders final table equals replay oracle")
    for qname, rows in first_results.items():
        ok, detail = checks.matches_oracle(rows, sf_dir, entry.oracle_sql()[qname])
        bench.check(ok, f"query {qname} vs DuckDB oracle: {detail}")
    applied = stream.batches[:backlog.landed]
    return {"e2e": bench.e2e(prep_times, loop_s, loop_cpu, {"orders": table},
                             {"orders": final}),
            "loop_s": loop_s,
            "dedup": {"events_in": sum(b["events"] for b in applied),
                      "rows_after_dedup": sum(b["distinct_keys"] for b in applied)}}


WORKLOADS = {"cdc_upsert": cdc_upsert, "hot_table_mor": hot_table_mor}
