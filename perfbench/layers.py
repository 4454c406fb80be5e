"""Per-layer instrumentation for the traced run.

:func:`install` wraps the public entry points of each engine layer the
benchmark drives; :func:`metrics` turns the recorded spans and counts
into the per-layer metrics named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
import statistics
import sys

import datalake_iceberg_spark.session as session_mod
from datalake_iceberg_spark import tables as tables_mod
from datalake_iceberg_spark.cdc import pipeline as cdc
from datalake_iceberg_spark.ingest import batch as ingest
from datalake_iceberg_spark.ops import maintenance as maint
from datalake_iceberg_spark.ops.watermark import WatermarkStore
from datalake_iceberg_spark.streaming import runner as runner_mod
from datalake_iceberg_spark.tables import LakeTable

from perfbench.workloads import QUERY_MIX, dir_bytes

#: span-name prefixes (the layers) whose self time is reported as ``self.<layer>_s``
LAYERS = ("session", "ingest.batch", "streaming.runner", "cdc.pipeline", "tables",
          "ops.maintenance", "ops.watermark", "queries", "op")


def _snapshot_dirs(table) -> tuple[dict, set]:
    snap = _ORIGINAL_SNAPSHOT(table)
    return ({b: tuple(ds) for b, ds in snap.buckets.items()},
            set(snap.all_dirs()) | set(snap.all_delete_dirs()))


def _written(table, before) -> tuple[int, int]:
    """(buckets whose dir list changed, bytes of dirs new since ``before``)."""
    buckets, dirs = _snapshot_dirs(table)
    changed = sum(1 for b, ds in buckets.items() if before[0].get(b) != ds)
    new_bytes = sum(dir_bytes(os.path.join(table.location, d)) for d in dirs - before[1])
    return changed, new_bytes


_ORIGINAL_SNAPSHOT = LakeTable.snapshot


def install(tracer) -> None:
    """Wrap each layer's public calls; spans are named ``layer:call``."""
    w = tracer.wrap
    w(session_mod, "create_spark_session", "session:create_spark_session")
    w(ingest, "snapshot_to_table", "ingest.batch:snapshot_to_table")
    # the runner fans sources out to threads and batches to the stream's
    # callback thread: link those spans to the call that caused them
    w(runner_mod.CdcStreamRunner, "run_sources", "streaming.runner:run_sources",
      key_of=lambda a, k: "run_sources")
    w(runner_mod.CdcStreamRunner, "run_source", "streaming.runner:run_source",
      adopt=lambda a, k: tracer.adopt("run_sources"),
      key_of=lambda a, k: f"run_source:{a[1].name}")
    # the runner imported these names, so patch both namespaces
    for mod in (cdc, runner_mod):
        w(mod, "apply_cdc_changes", "cdc.pipeline:apply_cdc_changes")
    w(runner_mod, "batch_stats", "cdc.pipeline:batch_stats")
    w(cdc, "transform_and_dedup", "cdc.pipeline:transform_and_dedup")
    w(WatermarkStore, "append_cdc", "ops.watermark:append_cdc")
    w(WatermarkStore, "append_maintenance", "ops.watermark:append_maintenance")
    w(maint, "advise", "ops.maintenance:advise")
    w(maint, "run_advised", "ops.maintenance:run_advised")
    import __spark_entry__ as entry

    for name, fn in entry.queries().items():
        if name in QUERY_MIX:  # patch where queries() looks the function up
            w(sys.modules[fn.__module__], fn.__name__, f"queries:{name}")

    def commit_before(args, kwargs):
        return _snapshot_dirs(args[0])

    def commit_after(result, args, kwargs, before):
        changed, nbytes = _written(args[0], before)
        mode = kwargs.get("mode", "copy-on-write")
        tracer.sample("buckets_rewritten", changed)
        tracer.count("bytes_written_" + ("mor" if mode == "merge-on-read" else "cow"), nbytes)

    def by_mode(call):
        def name_of(args, kwargs):
            mor = kwargs.get("mode") == "merge-on-read"
            return f"tables:{call}_mor" if mor else f"tables:{call}"
        return name_of

    for call in ("merge", "delete_keys"):
        w(LakeTable, call, f"tables:{call}", before=commit_before,
          after=commit_after, name_of=by_mode(call))

    def rewrite_after(result, args, kwargs, before):
        tracer.count("maint_bytes_rewritten", _written(args[0], before)[1])

    for call in ("rewrite_position_delete_files", "rewrite_data_files"):
        w(LakeTable, call, f"tables:{call}", before=commit_before, after=rewrite_after)
    for call in ("snapshot", "read", "scan", "lookup", "row_count", "append",
                 "expire_snapshots", "create_or_replace", "scan_report"):
        w(LakeTable, call, f"tables:{call}")

    def lookup_buckets(args, kwargs):
        table, bucket_ids = args[0], args[1]
        n = _ORIGINAL_SNAPSHOT(table).n_buckets
        tracer.sample("lookup_buckets_frac", len(bucket_ids) / max(1, n))

    w(LakeTable, "read_buckets", "tables:read_buckets", before=lookup_buckets)


def after_mor_write(tracer, table) -> None:
    """Sample the merge-on-read layout after a hot-table write."""
    snap = _ORIGINAL_SNAPSHOT(table)
    eras = {tables_mod._commit_dir_of(e["dir"]) for es in snap.deletes.values() for e in es}
    tracer.sample("live_delete_eras", len(eras))
    tracer.sample("dirs_per_bucket", len(snap.all_dirs()) / max(1, len(snap.buckets)))


def _mean(v: list[float]) -> float:
    return statistics.fmean(v) if v else 0.0


def metrics(tracer, bench, res) -> dict:
    """The per-layer metrics of one traced run, as ``{name: (value, unit)}``."""
    med = tracer.median
    out: dict[str, tuple[float, str]] = {}
    out["session.start_s"] = (med("session:create_spark_session"), "s")
    rtas = tracer.durations("ingest.batch:snapshot_to_table")
    out["ingest.rtas_s"] = (statistics.median(rtas) if rtas else 0.0, "s")
    out["ingest.rtas_rows_per_s"] = (
        bench.rtas_rows / sum(rtas) if rtas else 0.0, "rows/s")

    # batch overhead: runner batch span minus its apply_cdc_changes child
    by_id = {s[0]: s for s in tracer.spans}
    apply_in: dict[int, float] = {}
    for s in tracer.spans:
        if s[3] == "cdc.pipeline:apply_cdc_changes" and s[1] in by_id:
            apply_in[s[1]] = apply_in.get(s[1], 0.0) + s[5] - s[4]
    overhead = [s[5] - s[4] - apply_in.get(s[0], 0.0) for s in tracer.spans
                if s[3] == "streaming.runner:process_batch"]
    out["runner.batch_overhead_s"] = (statistics.median(overhead) if overhead else 0.0, "s")
    out["watermark.append_s"] = (med("ops.watermark:append_cdc"), "s")

    events_in = res["dedup"]["events_in"]
    after = res["dedup"]["rows_after_dedup"]
    out["cdc.events_in"] = (float(events_in), "count")
    out["cdc.rows_after_dedup"] = (float(after), "count")
    out["cdc.dedup_ratio"] = (after / events_in if events_in else 0.0, "ratio")
    out["cdc.apply_s"] = (med("cdc.pipeline:apply_cdc_changes"), "s")

    for name, span in (("merge_s", "merge"), ("delete_keys_s", "delete_keys"),
                       ("merge_mor_s", "merge_mor"), ("delete_mor_s", "delete_keys_mor"),
                       ("snapshot_s", "snapshot"), ("read_s", "read"), ("scan_s", "scan"),
                       ("lookup_s", "lookup"), ("row_count_s", "row_count")):
        out[f"tables.{name}"] = (med(f"tables:{span}"), "s")
    written = tracer.counts.get("bytes_written_cow", 0.0) + tracer.counts.get(
        "bytes_written_mor", 0.0)
    out["tables.buckets_rewritten_per_commit"] = (_mean(tracer.samples["buckets_rewritten"]),
                                                  "count")
    out["tables.bytes_written_per_event"] = (written / events_in if events_in else 0.0,
                                             "bytes")
    out["tables.commit_conflicts"] = (tracer.counts.get("exc:CommitConflict", 0.0), "count")
    out["tables.live_delete_eras"] = (_mean(tracer.samples["live_delete_eras"]), "count")
    out["tables.dirs_per_bucket"] = (_mean(tracer.samples["dirs_per_bucket"]), "count")
    out["tables.scan_dirs_read_frac"] = (_mean(tracer.samples["scan_dirs_frac"]), "ratio")
    out["tables.lookup_buckets_read_frac"] = (_mean(tracer.samples["lookup_buckets_frac"]),
                                              "ratio")

    out["maint.advise_s"] = (med("ops.maintenance:advise"), "s")
    out["maint.fold_s"] = (med("tables:rewrite_position_delete_files"), "s")
    out["maint.compact_s"] = (med("tables:rewrite_data_files"), "s")
    out["maint.expire_s"] = (med("tables:expire_snapshots"), "s")
    out["maint.bytes_rewritten"] = (tracer.counts.get("maint_bytes_rewritten", 0.0), "bytes")

    for q in QUERY_MIX:
        lat = bench.query_lat.get(q, [])
        out[f"query.{q}_s"] = (statistics.median(lat) if lat else 0.0, "s")

    for kind in ("write", "read"):
        rows = bench.jobs.get(kind, [])
        out[f"spark.jobs_per_{kind}"] = (_mean([r[0] for r in rows]), "count")
        out[f"spark.tasks_per_{kind}"] = (_mean([r[1] for r in rows]), "count")
    out["spark.failed_tasks"] = (
        float(sum(r[2] for rows in bench.jobs.values() for r in rows)), "count")

    table = tracer.layer_table()
    for layer in LAYERS:
        out[f"self.{layer}_s"] = (table.get(layer, {}).get("self_s", 0.0), "s")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    ops = sum(len(v) for v in bench.lat.values())
    out["trace.ops_per_s"] = (ops / res["loop_s"] if res["loop_s"] else 0.0, "1/s")
    return out
