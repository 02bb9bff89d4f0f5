#!/usr/bin/env python3
"""Paired comparison of the warehouse benchmark between two checkouts.

Record alternating pairs (A then B on odd seeds, B then A on even ones),
with the host probes from ``bench.py`` read before and after every run and
the CPU steal time during it, so host weather is visible next to the
numbers:

    python3 perfbench/compare.py run --a ../parent --b . \\
        --workload chain_build --seeds 1-10 --out pairs.jsonl

Report, per workload and end-to-end metric, each side's median and
quartiles, the share of pairs B won (ties count for neither side) and a
verdict against the metric's bound in BENCHMARK.json:

    python3 perfbench/compare.py report pairs.jsonl

- improved: B wins at least 9 of 10 pairs and the medians differ by more
  than A's own quartile distance;
- worse: B's median is worse than A's by more than the bound;
- unresolved: A's quartile distance, as a share of its median, is wider
  than the bound, unless every B run beats every A run or loses to it;
- unchanged: otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _probes() -> dict[str, float]:
    sys.path.insert(0, ROOT)
    from bench import host_probe, host_probe_multi

    return {"single": host_probe(), "multi": host_probe_multi()}


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs (the ``steal`` column of /proc/stat); 0 where absent."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _one(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    pre = _probes()
    steal, t0 = _steal_s(), time.perf_counter()
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall, steal = time.perf_counter() - t0, _steal_s() - steal
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    return {"exit": proc.returncode, "wall_s": wall, "steal_s": steal, "result": result,
            "probe": {"pre": pre, "post": _probes()}}


def cmd_run(args) -> int:
    seconds = json.load(open(BENCHMARK))["run_seconds"]
    sides = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    with open(args.out, "a") as out:
        for seed in _seeds(args.seeds):
            for workload in args.workload:
                order = ("a", "b") if seed % 2 else ("b", "a")
                for side in order:
                    rec = _one(sides[side], workload, seed, seconds)
                    rec.update(side=side, checkout=sides[side], workload=workload,
                               seed=seed)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"{workload} seed={seed} {side}: exit={rec['exit']} "
                          f"wall={rec['wall_s']:.1f}s", flush=True)
    return 0


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(a: list[float], b: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float) -> tuple[str, float]:
    """(verdict, share of pairs B won) for one metric; see module doc."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(sign * (x - y) > 0 for x, y in pairs)
    share = wins / len(pairs) if pairs else 0.0
    q1, ma, q3 = _quartiles(a)
    mb = statistics.median(b)
    worse_by = sign * (mb - ma) / ma
    if share >= 0.9 and abs(mb - ma) > q3 - q1 and worse_by < 0:
        return "improved", share
    if worse_by > bound:
        return "worse", share
    separated = (max(b) < min(a) or min(b) > max(a))
    if (q3 - q1) / ma > bound and not separated:
        return "unresolved", share
    return "unchanged", share


def cmd_report(args) -> int:
    bench = json.load(open(BENCHMARK))
    recs = [json.loads(line) for line in open(args.pairs) if line.strip()]
    bad = [r for r in recs if r["exit"] != 0 or not r["result"]]
    for r in bad:
        print(f"run failed: {r['workload']} seed={r['seed']} side={r['side']} "
              f"exit={r['exit']}")
    recs = [r for r in recs if r not in bad]
    for workload in sorted({r["workload"] for r in recs}):
        mine = [r for r in recs if r["workload"] == workload]
        print(f"\n## {workload}")
        for side in ("a", "b"):
            pre = [r["probe"]["pre"]["multi"] for r in mine if r["side"] == side]
            post = [r["probe"]["post"]["multi"] for r in mine if r["side"] == side]
            steal = [r["steal_s"] for r in mine if r["side"] == side]
            if pre:
                print(f"host_probe_multi {side}: pre median {statistics.median(pre):.3f}s"
                      f", post median {statistics.median(post):.3f}s; CPU steal per run "
                      f"median {statistics.median(steal):.1f}s, max {max(steal):.1f}s")
        print("| metric | A q1 / median / q3 | B q1 / median / q3 | B won | verdict |")
        print("|---|---|---|---|---|")
        for m in bench["end_to_end"]:
            name = m["name"]
            by_seed = {s: {r["side"]: r["result"]["metrics"][name]["value"]
                           for r in mine if r["seed"] == s
                           and name in r["result"]["metrics"]}
                       for s in {r["seed"] for r in mine}}
            pairs = [(v["a"], v["b"]) for v in by_seed.values() if len(v) == 2]
            a = [v["a"] for v in by_seed.values() if "a" in v]
            b = [v["b"] for v in by_seed.values() if "b" in v]
            if not a or not b:
                continue
            v, share = verdict(a, b, pairs, m["better"], m["bound"])
            qa, qb = _quartiles(a), _quartiles(b)
            print(f"| {name} ({m['unit']}) | {qa[0]:.4g} / {qa[1]:.4g} / {qa[2]:.4g} "
                  f"| {qb[0]:.4g} / {qb[1]:.4g} / {qb[2]:.4g} | "
                  f"{share:.0%} of {len(pairs)} | {v} (bound {m['bound']:.0%}) |")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="record alternating A/B runs")
    r.add_argument("--a", required=True, help="checkout of the parent commit")
    r.add_argument("--b", required=True, help="checkout of the change")
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="summarize recorded pairs")
    p.add_argument("pairs")
    args = ap.parse_args(argv)
    return cmd_run(args) if args.cmd == "run" else cmd_report(args)


if __name__ == "__main__":
    sys.exit(main())
