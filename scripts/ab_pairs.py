"""Alternating parent/change benchmark pairs, and the evidence tables built
from them.

    python scripts/ab_pairs.py run PARENT CHANGE WORKLOAD OUT.jsonl [--trace] SEED...
    python scripts/ab_pairs.py table OUT.jsonl WORKLOAD [--trace] [METRIC...]
    python scripts/ab_pairs.py isolate BEFORE.jsonl AFTER.jsonl [BEFORE2 AFTER2 ...]

`run` runs `perfbench/run.py --seconds 3` once per seed in each of two
checkouts (PARENT, CHANGE), alternating which side goes first, and appends
one JSON line per run to OUT.jsonl: side, seed, the run's drift record and
its result. `table` prints the markdown pair table of the runs of one
workload (end-to-end metrics, or the per-layer ones with --trace): each
side's median with quartiles, the change in the median, and the pairs the
change won. `isolate` prints the per-query table of before/after pairs of
`scripts/bench_isolate.py` outputs, one "/"-separated value per pair.
Wall-clock: run alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for kind in ("end_to_end", "per_layer")
            for m in spec[kind]}


def _run_once(checkout: str, workload: str, seed: int, trace: bool) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", str(int(trace))],
        cwd=checkout, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return {"drift": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def run(parent: str, change: str, workload: str, out_path: str,
        trace: bool, seeds: list[int]) -> None:
    for i, seed in enumerate(seeds):
        sides = [("parent", parent), ("change", change)]
        for side, checkout in sides if i % 2 == 0 else sides[::-1]:
            rec = {"workload": workload, "trace": trace, "side": side,
                   "seed": seed, **_run_once(checkout, workload, seed, trace)}
            with open(out_path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            res = rec["result"]
            print(f"{workload} seed {seed} {side}: correct={res['correct']} "
                  f"failed={res['failed']}", file=sys.stderr, flush=True)


def _fmt(x: float) -> str:
    return f"{x:,.0f}" if abs(x) >= 1e4 else f"{x:.4g}"


def _stat(xs: list[float]) -> str:
    q1, med, q3 = np.percentile(xs, [25, 50, 75])
    return f"{_fmt(med)} [{_fmt(q1)}, {_fmt(q3)}]"


def table(path: str, workload: str, trace: bool, names: list[str]) -> str:
    spec = _spec()
    runs: dict[str, dict[int, dict]] = {"parent": {}, "change": {}}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["workload"] == workload and rec["trace"] == trace:
                runs[rec["side"]][rec["seed"]] = rec["result"]
    seeds = sorted(set(runs["parent"]) & set(runs["change"]))
    bad = [(side, s) for side in runs for s in seeds
           if not runs[side][s]["correct"] or runs[side][s]["failed"]]
    if bad:
        raise SystemExit(f"incorrect or failed runs: {bad}")
    names = names or list(runs["parent"][seeds[0]]["metrics"])
    rows = [f"{workload}: {len(seeds)} pairs, seeds {seeds}, every run "
            "correct with 0 failed", "",
            "| metric | parent | change | median change | pairs won |",
            "|---|---|---|---:|---:|"]
    for name in names:
        par = [runs["parent"][s]["metrics"][name]["value"] for s in seeds]
        chg = [runs["change"][s]["metrics"][name]["value"] for s in seeds]
        sign = 1 if spec[name]["better"] == "higher" else -1
        won = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
        mp, mc = np.median(par), np.median(chg)
        delta = f"{(mc - mp) / mp:+.1%}" if mp else "n/a"
        rows.append(f"| `{name}` | {_stat(par)} | {_stat(chg)} | {delta} "
                    f"| {won}/{len(seeds)} |")
    return "\n".join(rows)


def isolate(paths: list[str]) -> str:
    def load(path):
        with open(path) as f:
            return {r["query"]: r for r in map(json.loads, f)}

    rounds = [(load(b), load(a)) for b, a in zip(paths[::2], paths[1::2])]
    rows = ["| query | best before (s) | best after (s) | after/before |",
            "|---|---:|---:|---:|"]
    for q in rounds[0][0]:
        bests = [(b[q]["best"], a[q]["best"]) for b, a in rounds]
        before = " / ".join(f"{x:.3f}" for x, _ in bests)
        after = " / ".join(f"{y:.3f}" for _, y in bests)
        ratio = " / ".join(f"{y / x:.2f}" for x, y in bests)
        rows.append(f"| {q} | {before} | {after} | {ratio} |")
    return "\n".join(rows)


def main() -> None:
    mode, args = sys.argv[1], sys.argv[2:]
    trace = "--trace" in args
    args = [a for a in args if a != "--trace"]
    if mode == "run":
        parent, change, workload, out = args[:4]
        run(os.path.abspath(parent), os.path.abspath(change), workload, out,
            trace, [int(s) for s in args[4:]])
    elif mode == "table":
        print(table(args[0], args[1], trace, args[2:]))
    elif mode == "isolate":
        print(isolate(args))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
