"""Table-maintenance service.

Rebuilds the reference's maintenance driver (``src/utils/maintenance.py``
+ ``src/iceberg_maintenance.py``): compaction, snapshot expiry, orphan
cleanup — interval-gated via the maintenance watermark, every run
recorded success/failed/skipped, exceptions never propagate (the
reference swallows and records, ``maintenance.py:66-304``).

The Iceberg procedures map onto LakeTable maintenance:
- ``rewrite_data_files``             -> ``LakeTable.rewrite_data_files`` (M1)
- ``expire_snapshots``               -> ``LakeTable.expire_snapshots`` (M2)
- ``rewrite_position_delete_files``  -> ``LakeTable.rewrite_position_delete_files`` (M3)
  (folds merge-on-read equality-delete files into the data; the
  reference runs it on ``position_delete_interval``,
  ``src/utils/cdc_pipeline.py:421-425`` / ``maintenance.py:189-246``)
- ``remove_orphan_files``            -> ``LakeTable.remove_orphan_files`` (M4)
"""

from __future__ import annotations

import logging
import re
from datetime import datetime, timezone

from datalake_iceberg_spark.ops.watermark import WatermarkStore
from datalake_iceberg_spark.tables import LakeCatalog

COMPACTION = "rewrite_data_files"
EXPIRE = "expire_snapshots"
ORPHANS = "remove_orphan_files"
POSITION_DELETES = "rewrite_position_delete_files"
ROLLUP_REFRESH = "rollup_refresh"
ANALYZE = "analyze_ndv"

logger = logging.getLogger(__name__)


class ProcessedTableTracker:
    """Tracks tables modified during a run so the compaction phase only
    visits them (reference ``maintenance.py:24-42``)."""

    def __init__(self):
        self._tables: set[str] = set()

    def mark(self, name: str) -> None:
        self._tables.add(name)

    def modified(self) -> list[str]:
        return sorted(self._tables)


class MaintenanceService:
    def __init__(self, catalog: LakeCatalog, store: WatermarkStore, dag_id: str = "maintenance"):
        self.catalog = catalog
        self.store = store
        self.dag_id = dag_id

    def _run_recorded(self, table_name: str, procedure: str, fn) -> dict:
        """Run one procedure; record success/failed; never raise
        (reference policy at ``maintenance.py:66-304``). The status is
        the procedure's alone: a ledger append that fails afterwards is
        logged, and does not turn a success into a failure."""
        started = datetime.now(timezone.utc).replace(tzinfo=None)
        try:
            result = fn() or {}
        except Exception as e:  # noqa: BLE001 — record, don't propagate
            logger.warning("maintenance %s on %s failed: %s", procedure, table_name, e,
                           exc_info=True)
            self._record(table_name, procedure, started, "failed",
                         error_message=str(e)[:500])
            return {"status": "failed", "error": str(e)}
        self._record(
            table_name, procedure, started, "success",
            rewritten_files_count=result.get("rewritten_dirs", 0),
            added_files_count=result.get("rewritten_buckets", 0),
        )
        return {"status": "success", **result}

    def _record_skipped(self, table_name: str, procedure: str) -> dict:
        started = datetime.now(timezone.utc).replace(tzinfo=None)
        self._record(table_name, procedure, started, "skipped")
        return {"status": "skipped"}

    def _record(
        self, table_name: str, procedure: str, started: datetime, status: str, **fields
    ) -> None:
        """Append one procedure-history row; a failed append is logged,
        never raised."""
        schema, _, tbl = table_name.rpartition(".")
        try:
            self.store.append_maintenance(
                self.dag_id, schema or "default", tbl, procedure,
                started_at=started, status=status, **fields,
            )
        except Exception as e:  # noqa: BLE001 — the ledger must not break the run
            logger.warning(
                "maintenance ledger append (%s %s) on %s failed: %s",
                procedure, status, table_name, e, exc_info=True,
            )

    def run_compaction(
        self, table_name: str, interval_sec: int = 14_400,
        last_completed: datetime | None = None, min_input_dirs: int = 2,
        expire_keep_last: int = 5,
        sort_by: list[str] | None = None, zorder_by: list[str] | None = None,
    ) -> dict:
        """Compaction then snapshot expiry, interval-gated. Expiry is
        skipped when compaction failed (reference ``maintenance.py:131-147``).
        ``sort_by``/``zorder_by`` select the clustered strategies (Iceberg
        sort / zorder rewrite options) instead of bin-pack."""
        if not WatermarkStore.should_run(last_completed, interval_sec):
            return self._record_skipped(table_name, COMPACTION)
        t = self.catalog.table(table_name)
        res = self._run_recorded(
            table_name, COMPACTION,
            lambda: t.rewrite_data_files(
                min_input_dirs, sort_by=sort_by, zorder_by=zorder_by
            ),
        )
        if res["status"] == "success":
            self._run_recorded(
                table_name, EXPIRE, lambda: t.expire_snapshots(keep_last=expire_keep_last)
            )
        else:
            self._record_skipped(table_name, EXPIRE)
        return res

    def run_orphan_cleanup(self, table_name: str) -> dict:
        t = self.catalog.table(table_name)
        return self._run_recorded(table_name, ORPHANS, t.remove_orphan_files)

    def run_position_delete_compaction(
        self, table_name: str, interval_sec: int = 0,
        last_completed: datetime | None = None,
    ) -> dict:
        """Fold merge-on-read delete files, interval-gated like the
        reference's ``run_position_delete_compaction``
        (``src/utils/maintenance.py:189-246``; scheduled from the CDC
        loop at ``cdc_pipeline.py:421-425``)."""
        if interval_sec and not WatermarkStore.should_run(last_completed, interval_sec):
            return self._record_skipped(table_name, POSITION_DELETES)
        t = self.catalog.table(table_name)
        return self._run_recorded(
            table_name, POSITION_DELETES, t.rewrite_position_delete_files
        )

    def run_rollup_refresh(
        self, rollup, interval_sec: int = 0,
        last_completed: datetime | None = None,
    ) -> dict:
        """Refresh a :class:`~datalake_iceberg_spark.ops.rollup.
        MaterializedRollup` under the same interval gate + recorded-run
        policy as the other procedures — gold tables are maintained
        artifacts like compacted files, not ad-hoc jobs. The ledger row
        lands against the TARGET table (that's what the refresh
        mutates)."""
        name = rollup.target.location.rsplit("/", 1)[-1]
        schema = rollup.target.location.rsplit("/", 2)[-2]
        table_name = f"{schema}.{name}"
        if interval_sec and not WatermarkStore.should_run(last_completed, interval_sec):
            return self._record_skipped(table_name, ROLLUP_REFRESH)
        return self._run_recorded(table_name, ROLLUP_REFRESH, rollup.refresh)

    def run_all(
        self, schema: str = "default", compaction_interval_sec: int = 14_400
    ) -> dict[str, dict]:
        """The maintenance driver's 3-step flow
        (``src/iceberg_maintenance.py:65-92``): purge watermarks →
        compaction per tracked table → orphan cleanup per discovered table."""
        out: dict[str, dict] = {}
        self.store.purge_cdc()
        self.store.purge_maintenance()
        last_map = self.store.last_completed_map(COMPACTION)
        for name in self.catalog.list_tables(schema):
            sch, _, tbl = name.rpartition(".")
            last = last_map.get((sch or "default", tbl))
            out[name] = self.run_compaction(
                name, interval_sec=compaction_interval_sec, last_completed=last
            )
            self.run_orphan_cleanup(name)
        return out


# ---------------------------------------------------------------- advisor

#: buckets averaging at least this many data dirs warrant a bin-pack
ADVISE_DIRS_PER_BUCKET = 3
#: MoR delete commits outstanding before a fold is recommended
ADVISE_DELETE_ERAS = 2
#: retained snapshots before expiry is recommended
ADVISE_SNAPSHOTS = 20
#: fraction of live (unmasked) dirs without an NDV sketch before a
#: re-analyze is recommended for that column
ADVISE_NDV_STALE_FRACTION = 0.3


def advise(table) -> list[dict]:
    """Manifest-derived maintenance recommendations — the decision layer
    the reference leaves to fixed cron intervals. Reads ONLY snapshot
    metadata (O(manifest), zero data IO, no file listings), so it can
    run on every commit of a 100 TB table:

    - **bin-pack**: accumulated small commits — avg dirs/bucket ≥
      ``ADVISE_DIRS_PER_BUCKET`` (each dir is ≥1 file; dir count is the
      manifest's own fragmentation measure).
    - **re-cluster**: the table declares ``write.sort-order`` /
      ``write.zorder-by`` but commits landed after the last rewrite,
      so recent dirs are unclustered and data-skipping decays.
    - **fold deletes**: merge-on-read delete entries spanning ≥
      ``ADVISE_DELETE_ERAS`` distinct commits tax every read with
      anti-joins.
    - **expire**: ≥ ``ADVISE_SNAPSHOTS`` retained snapshots (time
      travel keeps every era's dirs alive; expiry unblocks orphan GC).

    Returns ``[{procedure, reason, severity}]``, most urgent first.
    Feed to :meth:`MaintenanceService.run_advised` to execute through
    the recorded-run policy.
    """
    snap = table.snapshot()
    recs: list[dict] = []
    n_buckets = max(1, len(snap.buckets) or snap.n_buckets)
    n_dirs = sum(len(d) for d in snap.buckets.values())
    dirs_per_bucket = n_dirs / n_buckets
    if dirs_per_bucket >= ADVISE_DIRS_PER_BUCKET:
        recs.append({
            "procedure": COMPACTION,
            "reason": f"avg {dirs_per_bucket:.1f} dirs/bucket over "
                      f"{n_buckets} buckets — bin-pack small commits",
            "severity": "high" if dirs_per_bucket >= 2 * ADVISE_DIRS_PER_BUCKET
                        else "medium",
        })
    declared = snap.properties.get("write.sort-order") or snap.properties.get(
        "write.zorder-by"
    )
    if declared and not recs:
        # find the latest rewrite commit; any data commit after it left
        # unclustered dirs behind
        latest_rewrite = -1
        dirty_after = False
        for v in range(snap.version, -1, -1):
            try:
                s = table.snapshot(v)
            except ValueError:
                break
            if s.operation == "rewrite_data_files":
                latest_rewrite = v
                break
            if s.operation in ("append", "merge", "delete", "update"):
                dirty_after = True
        if dirty_after and latest_rewrite < snap.version:
            recs.append({
                "procedure": COMPACTION,
                "reason": f"declared clustering {declared!r} but data "
                          "commits landed since the last rewrite",
                "severity": "medium",
            })
    from datalake_iceberg_spark.tables import _commit_dir_of

    # same commit-granular key the read path groups eras by (handles a
    # clone's absolute foreign delete dirs, which have no fixed prefix)
    delete_eras = {
        _commit_dir_of(e["dir"])
        for entries in snap.deletes.values()
        for e in entries
    }
    if len(delete_eras) >= ADVISE_DELETE_ERAS:
        recs.append({
            "procedure": POSITION_DELETES,
            "reason": f"{len(delete_eras)} merge-on-read delete commits "
                      "outstanding — every read pays their anti-joins",
            "severity": "high",
        })
    # count actually-RETAINED manifests, not snap.version + 1: version
    # numbers never reset after expire_snapshots, so the lifetime
    # counter would fire the expire recommendation permanently once a
    # table crosses the threshold — even right after an expiry
    n_snaps = sum(
        1
        for name in table.fs.listdir(table.meta_dir)
        if re.fullmatch(r"v\d+\.json", name)
    )
    if n_snaps >= ADVISE_SNAPSHOTS:
        recs.append({
            "procedure": EXPIRE,
            "reason": f"{n_snaps} snapshots retained — old eras pin "
                      "rewritten dirs against GC",
            "severity": "medium",
        })
    # re-analyze: NDV sidecar drift (r12 stretch). A column's sketches
    # cover the dirs that existed at its last ``analyze_ndv``; commits
    # since then add/rewrite dirs the sidecar misses, so ``approx_ndv``
    # degrades toward a fresh scan. Coverage comes from the sidecar's
    # own ``dir`` column read driver-side with pyarrow — sidecars are
    # metadata-sized (one row per dir), so this stays manifest+sidecar
    # math with zero data IO and no Spark job.
    stale_cols: list[tuple[str, float]] = []
    live_unmasked = _ndv_live_dirs(table, snap) if snap.ndv else set()
    for col, rel in sorted(snap.ndv.items()):
        if not live_unmasked:
            continue
        covered = _ndv_sidecar_dirs(table, rel)
        if covered is None:
            continue  # sidecar directory GONE (swept) — skip, not advise
        frac = 1.0 - len(covered & live_unmasked) / len(live_unmasked)
        if frac >= ADVISE_NDV_STALE_FRACTION:
            stale_cols.append((col, frac))
    if stale_cols:
        worst = max(f for _c, f in stale_cols)
        names = ", ".join(c for c, _f in stale_cols)
        recs.append({
            "procedure": ANALYZE,
            "reason": f"NDV sketches stale for {names} — "
                      f"{worst:.0%} of live dirs uncovered since the "
                      "last analyze_ndv",
            "severity": "low",
        })
    order = {"high": 0, "medium": 1, "low": 2}
    recs.sort(key=lambda r: order[r["severity"]])
    return recs


def _ndv_live_dirs(table, snap) -> set[str]:
    """Live dirs an analyze WOULD sketch (era-covered dirs are skipped
    by ``analyze_ndv``, so they don't count as uncovered)."""
    covered, _ = table._masked_buckets(snap)
    return {d for d in snap.all_dirs() if d not in covered}


def _ndv_sidecar_dirs(table, rel: str) -> set[str] | None:
    """The ``dir`` column of an NDV sidecar, read driver-side (pyarrow
    over the table's fs seam — ``open_input`` works on any adapter, so
    the advisory is not local-filesystem-only; no Spark job). ``None``
    ONLY when the sidecar directory itself is gone (swept — nothing to
    advise about). Unreadable/corrupt part files are SKIPPED, which
    shrinks the covered set and fails TOWARD recommending a re-analyze
    — the safe direction — instead of silently disabling the signal."""
    import pyarrow.parquet as pq

    path = table.fs.join(table.location, rel)
    if not table.fs.isdir(path):
        return None
    covered: set[str] = set()
    for fname in table.fs.listdir(path):
        if not fname.endswith(".parquet"):
            continue
        try:
            with table.fs.open_input(table.fs.join(path, fname)) as f:
                covered.update(
                    pq.read_table(f, columns=["dir"]).column("dir").to_pylist()
                )
        except Exception:  # noqa: BLE001 — corrupt part: see docstring
            continue
    return covered


def _advised_runner(service: "MaintenanceService"):
    """Bind advisor procedures to MaintenanceService runners."""
    return {
        # interval 1 + last_completed None: the ADVISOR is the gate here
        # (it already decided the work is due), not the wall clock
        COMPACTION: lambda name: service.run_compaction(
            name, interval_sec=1, last_completed=None
        ),
        POSITION_DELETES: lambda name: service.run_position_delete_compaction(name),
        EXPIRE: lambda name: service._run_recorded(
            name, EXPIRE, lambda: service.catalog.table(name).expire_snapshots()
        ),
        # analyze_ndv returns a Snapshot; _run_recorded's ledger row
        # wants a result dict
        ANALYZE: lambda name: service._run_recorded(
            name, ANALYZE, lambda: (
                lambda t: {"version": t.analyze_ndv(sorted(t.snapshot().ndv)).version}
            )(service.catalog.table(name))
        ),
    }


def run_advised(service: MaintenanceService, table_name: str) -> list[dict]:
    """Execute exactly the procedures :func:`advise` recommends for the
    table, through the recorded-run (never-raise) policy. Returns the
    recommendations annotated with each run's status."""
    t = service.catalog.table(table_name)
    recs = advise(t)
    runners = _advised_runner(service)
    out = []
    for rec in recs:
        res = runners[rec["procedure"]](table_name)
        out.append({**rec, "run": res.get("status", "unknown")})
    return out
