#!/usr/bin/env python
"""Interleaved A/B of the benchmark of record (`perfbench/run.py`) on
two trees: a parent and a change.

Usage:
    python scripts/ab_bench.py PARENT CHANGE --workload W [--workload W ...]
        --seeds 80-84

PARENT and CHANGE are each a directory holding a checkout, or a git ref
of this repository; a ref is exported with `git archive` into a
temporary directory, so only committed files run, as in the benchmark's
own runs. Each pair runs, once per side and in that side's directory,

    python3 perfbench/run.py --workload W --seed S --seconds 5 --trace 0

and the side that runs first alternates from pair to pair, so host drift
falls on both sides alike. Every run prints its `correct` and `failed`
as it ends. The summary gives, per workload and per end-to-end metric of
the change's BENCHMARK.json: both medians, the change in percent, the
parent's quartiles and IQR, the pairs in which the change is better, and
whether the median stays within the metric's bound. Only pairs in which
both runs are correct with 0 failed operations enter the summary; each
summary line counts the pairs dropped for that reason. The last line is
the whole record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(side: str, tmp: str, name: str) -> str:
    """A checkout directory as given, or a ref exported into `tmp`."""
    if os.path.isdir(side):
        return os.path.abspath(side)
    out = os.path.join(tmp, name)
    os.makedirs(out)
    archive = subprocess.run(
        ["git", "archive", side], cwd=REPO, capture_output=True, check=False
    )
    if archive.returncode != 0:
        sys.exit(f"git archive {side} failed: {archive.stderr.decode()}")
    subprocess.run(["tar", "-x", "-C", out], input=archive.stdout, check=True)
    return out


def run_once(tree: str, workload: str, seed: int) -> dict:
    """One benchmark run; its result JSON, or correct=False on no result."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "5", "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True,
                           timeout=900, check=False)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if lines:
            return json.loads(lines[-1])
        sys.stderr.write(f"no result from {tree} {workload} {seed}:\n{p.stderr[-2000:]}\n")
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"timeout in {tree} {workload} {seed}\n")
    return {"correct": False, "failed": None, "metrics": {}}


def value(result: dict, metric: str) -> float | None:
    return result.get("metrics", {}).get(metric, {}).get("value")


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def clean(result: dict) -> bool:
    return result.get("correct") is True and result.get("failed") == 0


def summarize(runs: list[dict], metrics: list[dict]) -> list[dict]:
    """Per metric, over the pairs whose two runs are both clean: medians,
    parent quartiles, change wins, bound check."""
    ok = [r for r in runs if clean(r["parent"]) and clean(r["change"])]
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(value(r["parent"], name), value(r["change"], name)) for r in ok]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            rows.append({"metric": name, "pairs": 0})
            continue
        par, chg = [p for p, _ in pairs], [c for _, c in pairs]
        mp, mc = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(par)
        delta = (mc - mp) / mp if mp else 0.0
        worse = delta if lower else -delta
        rows.append({
            "metric": name, "pairs": len(pairs), "parent_median": mp, "change_median": mc,
            "delta_pct": round(100 * delta, 2), "parent_q1": q1, "parent_q3": q3,
            "parent_iqr": q3 - q1,
            "change_wins": sum((c < p) if lower else (c > p) for p, c in pairs),
            "bound": m.get("bound"),
            "within_bound": m.get("bound") is None or worse <= m["bound"],
        })
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 80-84")
    args = ap.parse_args()
    first, _, last = args.seeds.partition("-")
    seeds = list(range(int(first), int(last or first) + 1))

    tmp = tempfile.mkdtemp(prefix="ab_bench_")
    try:
        trees = {"parent": export(args.parent, tmp, "parent"),
                 "change": export(args.change, tmp, "change")}
        with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
            metrics = json.load(fh)["end_to_end"]
        record: dict = {}
        for workload in args.workload:
            runs = []
            for i, seed in enumerate(seeds):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    res = run_once(trees[side], workload, seed)
                    pair[side] = res
                    vals = {k: v["value"] for k, v in res.get("metrics", {}).items()}
                    print(f"{workload} seed {seed} {side}: correct={res.get('correct')} "
                          f"failed={res.get('failed')} {json.dumps(vals)}", flush=True)
                runs.append(pair)
            rows = summarize(runs, metrics)
            dropped = sum(not (clean(r["parent"]) and clean(r["change"])) for r in runs)
            print(f"== {workload}: {len(runs)} pairs, {dropped} dropped "
                  f"(a run not correct or with failed operations)")
            for r in rows:
                if not r["pairs"]:
                    print(f"  {r['metric']}: no complete pairs")
                    continue
                print(f"  {r['metric']}: parent {r['parent_median']:.3f} change "
                      f"{r['change_median']:.3f} ({r['delta_pct']:+.2f}%), parent quartiles "
                      f"{r['parent_q1']:.3f}-{r['parent_q3']:.3f} (IQR {r['parent_iqr']:.3f}), "
                      f"change better in {r['change_wins']}/{r['pairs']}, "
                      f"within bound {r['bound']}: {r['within_bound']}")
            record[workload] = {"runs": runs, "summary": rows}
        print(json.dumps({"parent": args.parent, "change": args.change, "seeds": seeds,
                          "workloads": record}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
