"""Paired benchmark comparison of two checkouts.

    python3 tools/perf_pairs.py --parent ../parent --change . \\
        --seeds 101-110 --out pairs.jsonl

Runs ``perfbench/run.py`` from two local checkouts of the repository,
the parent and the change (for example two ``git worktree``s or
``git archive`` exports), on each seed and workload. The order
alternates from one pair to the next (parent first on even pairs,
change first on odd ones), so a host that drifts slower or faster
during the comparison weighs on both sides alike.

For every workload and end-to-end metric declared in ``BENCHMARK.json``
it prints each side's median and quartiles, how many pairs the change
won, the change in the median, and the check against the metric's
bound: ``ok``; ``WORSE`` when the change's median is worse than the
parent's by more than the bound; ``unresolved`` when the parent's
interquartile range exceeds the bound and the change's runs do not all
beat the parent's. A metric the change improved in at least nine of
ten pairs, by more than the parent's interquartile range, is marked
``gain``. Runs that report ``correct: false`` or a failed
operation are listed. Traced runs (``--trace 1``) report the
``per_layer`` metrics instead; those get a second table with each
side's median and quartiles and the change in the median, without a
verdict, since per-layer figures are not gated.

Each run's JSON line is appended to ``--out`` as it finishes;
``--report`` prints the tables from such a file without running
anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    """``"101-110"`` or ``"3,5,8"`` (or a mix) -> list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_one(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; its last stdout line, parsed (or an error record)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 0, "failed": 1, "metrics": {},
                "error": f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def summarize(pairs: list[tuple[float, float]]) -> tuple[tuple, tuple, float, str]:
    """Each side's quartiles over (parent, change) pairs, the relative
    change in the median, and the three table cells showing them."""
    par = quartiles([p for p, _ in pairs])
    chg = quartiles([c for _, c in pairs])
    rel = (chg[1] - par[1]) / par[1] if par[1] else 0.0
    cells = (f"{par[1]:.4g} [{par[0]:.4g}, {par[2]:.4g}] | "
             f"{chg[1]:.4g} [{chg[0]:.4g}, {chg[2]:.4g}] | {rel:+.1%}")
    return par, chg, rel, cells


def report(records: list[dict], spec: dict) -> None:
    """Print the per-workload tables for paired run records."""
    for wl in sorted({r["workload"] for r in records}):
        runs: dict[tuple[int, str], dict] = {
            (r["seed"], r["side"]): r["result"] for r in records if r["workload"] == wl
        }
        seeds = sorted(s for s, side in runs if side == "change" and (s, "parent") in runs)
        print(f"\n## {wl} ({len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]})" if seeds
              else f"\n## {wl} (no complete pairs)")
        bad = [f"{side} seed {s}" for (s, side), res in sorted(runs.items())
               if not res.get("correct") or res.get("failed")]
        if bad:
            print("runs not correct or with failed operations: " + ", ".join(bad))
        if not seeds:
            continue

        def pairs_of(name: str) -> list[tuple[float, float]]:
            pairs = [(runs[(s, "parent")]["metrics"].get(name, {}).get("value"),
                      runs[(s, "change")]["metrics"].get(name, {}).get("value"))
                     for s in seeds]
            return [(p, c) for p, c in pairs if p is not None and c is not None]

        gated = []
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pairs = pairs_of(name)
            if not pairs:
                continue
            par, chg, rel, cells = summarize(pairs)
            wins = sum((c < p) if lower else (c > p) for p, c in pairs)
            worse = rel > m["bound"] if lower else -rel > m["bound"]
            gained = (wins * 10 >= 9 * len(pairs)
                      and abs(chg[1] - par[1]) > par[2] - par[0])
            # a parent spread wider than the bound cannot show "no worse"
            # unless every change run beats every parent run
            c_vals, p_vals = [c for _, c in pairs], [p for p, _ in pairs]
            sweep = (max(c_vals) < min(p_vals)) if lower else (min(c_vals) > max(p_vals))
            wide = par[1] and (par[2] - par[0]) / abs(par[1]) > m["bound"]
            if worse:
                verdict = "WORSE"
            elif wide and not sweep:
                verdict = "unresolved (spread > bound)"
            else:
                verdict = "ok, gain" if gained else "ok"
            gated.append(f"| {name} | {cells} | {wins}/{len(pairs)} | {m['bound']} | "
                         f"{verdict} |")
        if gated:
            print("| metric | parent median [q1, q3] | change median [q1, q3] | "
                  "change | wins | bound | verdict |")
            print("|---|---|---|---|---|---|---|")
            print("\n".join(gated))
        # traced runs (--trace 1) report per-layer figures; these are
        # not gated, so they get no wins count and no verdict
        layers = []
        for m in spec.get("per_layer", []):
            pairs = pairs_of(m["name"])
            if not pairs:
                continue
            layers.append(f"| {m['name']} | {summarize(pairs)[3]} |")
        if layers:
            print("\nper-layer (traced runs, not gated)\n")
            print("| metric | parent median [q1, q3] | change median [q1, q3] | change |")
            print("|---|---|---|---|")
            print("\n".join(layers))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--seeds", default="101-110", help="e.g. 101-110 or 3,5,8")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all in BENCHMARK.json)")
    ap.add_argument("--seconds", type=float, default=None,
                    help="loop seconds (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="JSON-lines file of run records")
    ap.add_argument("--report", action="store_true",
                    help="only print the tables for the records in --out")
    args = ap.parse_args(argv)

    spec_root = args.change or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(spec_root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not args.report:
        if not (args.parent and args.change):
            ap.error("--parent and --change are required unless --report")
        seconds = args.seconds or spec["run_seconds"]
        workloads = args.workload or [w["name"] for w in spec["workloads"]]
        sides = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for wl in workloads:
                for side in order:
                    res = run_one(sides[side], wl, seed, seconds, args.trace)
                    rec = {"workload": wl, "seed": seed, "side": side, "result": res}
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(f"{wl} seed {seed} {side}: correct={res.get('correct')} "
                          f"failed={res.get('failed')}", file=sys.stderr, flush=True)
    with open(args.out) as f:
        records = [json.loads(line) for line in f if line.strip()]
    report(records, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
