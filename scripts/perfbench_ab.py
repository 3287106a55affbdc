"""Interleaved A/B of the repository benchmark between two checkouts.

    python3 scripts/perfbench_ab.py --parent DIR --workload snapshot_dml --seeds 1101-1110

Each seed is one pair: the parent checkout and this one each run
``perfbench/run.py`` from their own tree (fresh JVM per run, untraced,
``run_seconds`` from ``BENCHMARK.json``), and the side that runs first
alternates from pair to pair. Every run's end-to-end metrics are printed
as it finishes; the summary gives, for each end-to-end metric in
``BENCHMARK.json``, the parent median [Q1-Q3] -> the change median, the
relative change, and the pairs the change won (direction from the
metric's ``better``; ties count for neither side), then failed/attempted
ops per side. The benchmark's own files are only read, never changed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(spec: str) -> list[int]:
    """``"1101-1110,1201"`` -> [1101, ..., 1110, 1201]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise ValueError(f"no seeds in {spec!r}")
    return seeds


def run_once(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``tree``; its result line, or a
    ``{"error": ...}`` dict when the run produced none."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"error": f"exit {proc.returncode}: " + " | ".join(tail)}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics: list[dict], runs: dict) -> list[str]:
    """Summary lines for paired ``runs`` ({seed: {side: result}})."""
    ok = [s for s, r in runs.items() if all("metrics" in r[k] for k in ("parent", "change"))]
    out = [f"pairs with both runs: {len(ok)}/{len(runs)}"]
    for m in metrics if ok else ():
        name = m["name"]
        par = [runs[s]["parent"]["metrics"][name]["value"] for s in ok]
        chg = [runs[s]["change"]["metrics"][name]["value"] for s in ok]
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
        q1, pm, q3 = quartiles(par)
        cm = statistics.median(chg)
        pct = (cm - pm) / pm * 100 if pm else float("nan")
        out.append(
            f"{name} [{m['unit']}, {m['better']} is better, bound {m['bound']:.0%}]: "
            f"{pm:.4g} [{q1:.4g}-{q3:.4g}] -> {cm:.4g} ({pct:+.1f}%), "
            f"change wins {wins}/{len(ok)}"
        )
    for side in ("parent", "change"):
        res = [r[side] for r in runs.values()]
        failed = sum(r.get("failed", 0) for r in res)
        attempted = sum(r.get("attempted", 0) for r in res)
        broken = sum("error" in r for r in res)
        out.append(
            f"{side}: failed {failed}/{attempted} ops, {broken} run(s) without a result"
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path, help="parent checkout")
    ap.add_argument("--change", type=Path, default=ROOT, help="default: this checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1101-1110 or 1,5,9")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    trees = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    for side, tree in trees.items():
        if not (tree / "perfbench" / "run.py").is_file():
            ap.error(f"{side} checkout {tree} has no perfbench/run.py")
    metrics = bench["end_to_end"]
    runs: dict = {}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        runs[seed] = {}
        for side in order:
            res = run_once(trees[side], args.workload, seed, bench["run_seconds"])
            runs[seed][side] = res
            if "error" in res:
                detail = res["error"]
            else:
                detail = " ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics
                ) + f" failed={res['failed']}/{res['attempted']}"
            print(f"seed {seed} {side}: {detail}", flush=True)
    print("\n".join(summarize(metrics, runs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
