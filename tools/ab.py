#!/usr/bin/env python3
"""Paired A/B runs of perfbench: a base checkout against a candidate.

Host speed drifts by up to ~30% within minutes, so two separate sets of
runs cannot resolve a 25% bound. This tool runs ``perfbench/run.py`` in the
two checkouts as interleaved pairs on the same seed, alternating which side
goes first (B C, C B, B C, ...). The two runs of a pair see nearly the same
host speed, so the drift cancels in their ratio.

Usage::

    # base = a git worktree of HEAD~1, candidate = this checkout
    python3 tools/ab.py --base HEAD~1 --workloads fresh --seeds 21-30

    # explicit checkouts (an A/A noise floor: the same tree on both sides)
    python3 tools/ab.py --base-dir ../parent --cand-dir ../parent --seeds 1-4

    # summarise recorded runs again without running anything
    python3 tools/ab.py --report ab.jsonl

Every run appends one JSON line to ``--out`` (default ``.bench_work/ab.jsonl``
in the candidate), so an interrupted session keeps what it measured. The
summary gives, per workload and metric: each side's median and quartiles,
the ratio of the medians and the median of the per-pair ratios (candidate
/ base), the pairs the candidate won, and a verdict:

- ``gain``: the candidate won at least 90% of the pairs run (ties count for
  neither) and its median beats the base's by more than the base's
  interquartile spread;
- ``worse``: the ratio of the medians is past the metric's bound in
  BENCHMARK.json;
- ``unresolved``: either side's interquartile spread, relative to its
  median, is wider than the bound, and not every candidate run beats every
  base run;
- ``inside bound``: none of these.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = (proc.stderr or proc.stdout)[-2000:]
        raise RuntimeError(f"{checkout}: run failed ({proc.returncode}):\n{tail}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarise(records: list[dict], bench: dict) -> str:
    specs = {m["name"]: m for m in bench["end_to_end"] + bench.get("per_layer", [])}
    pairs: dict[tuple[str, int], dict[str, dict]] = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    out = []
    for workload in sorted({w for w, _ in pairs}):
        done = [p for (w, _), p in sorted(pairs.items()) if w == workload and len(p) == 2]
        ok = [p for p in done if p["base"]["correct"] and p["cand"]["correct"]]
        failed = sum(p[s]["failed"] for p in done for s in p)
        out.append(f"== {workload}: {len(done)} pairs, {len(ok)} correct on both sides, "
                   f"{failed} failed requests")
        out.append(f"{'metric':40s} {'base median [q1-q3]':28s} {'cand median [q1-q3]':28s}"
                   f" {'ratio':>6s} {'paired':>6s} {'wins':>6s}  verdict")
        names = [n for n in specs if all(n in p[s]["metrics"] for p in ok for s in p)]
        for name in names:
            spec = specs[name]
            base = [p["base"]["metrics"][name]["value"] for p in ok]
            cand = [p["cand"]["metrics"][name]["value"] for p in ok]
            if not base:
                continue
            lower = spec["better"] == "lower"
            ratios = [c / b for b, c in zip(base, cand) if b]
            wins = sum((c < b) if lower else (c > b) for b, c in zip(base, cand))
            bq, cq = quartiles(base), quartiles(cand)
            ratio = cq[1] / bq[1] if bq[1] else float("nan")
            paired = statistics.median(ratios) if ratios else float("nan")
            gap = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
            spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (bq, cq))
            all_better = (max(cand) < min(base)) if lower else (min(cand) > max(base))
            bound = spec.get("bound")
            if wins >= 0.9 * len(done) and gap > bq[2] - bq[0]:
                verdict = "gain"
            elif bound is None:
                verdict = "-"
            elif ratio > 1 + bound if lower else ratio < 1 - bound:
                verdict = "worse"
            elif spread > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "inside bound"
            out.append(f"{name:40s} " + f"{bq[1]:.4g} [{bq[0]:.4g}-{bq[2]:.4g}]".ljust(28)
                       + " " + f"{cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}]".ljust(28)
                       + f" {ratio:6.3f} {paired:6.3f} {wins:2d}/{len(done):<3d}  {verdict}")
            out.append("    paired ratios: " + " ".join(f"{x:.2f}" for x in ratios))
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    side = ap.add_mutually_exclusive_group()
    side.add_argument("--base", default="HEAD~1", help="git revision for a temporary worktree")
    side.add_argument("--base-dir", help="an existing checkout to use as the base")
    ap.add_argument("--cand-dir", default=ROOT, help="candidate checkout (default: this one)")
    ap.add_argument("--workloads", default="fresh,browse")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("21-30"))
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="JSON-lines record of every run")
    ap.add_argument("--report", help="summarise this record and exit")
    args = ap.parse_args(argv)

    with open(os.path.join(args.cand_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.report:
        with open(args.report) as f:
            print(summarise([json.loads(ln) for ln in f if ln.strip()], bench))
        return 0

    out_path = args.out or os.path.join(args.cand_dir, ".bench_work", "ab.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    worktree = None
    base_dir = args.base_dir
    if base_dir is None:
        worktree = tempfile.mkdtemp(prefix="ab-base-")
        subprocess.run(["git", "-C", args.cand_dir, "worktree", "add", "--detach", worktree,
                        args.base], check=True, capture_output=True)
        base_dir = worktree
    dirs = {"base": base_dir, "cand": args.cand_dir}
    records = []
    try:
        for i, seed in enumerate(args.seeds):
            for j, workload in enumerate(args.workloads.split(",")):
                # each workload alternates its first side from seed to seed
                order = ("base", "cand") if (i + j) % 2 == 0 else ("cand", "base")
                for s in order:
                    res = run_once(dirs[s], workload, seed, args.seconds, args.trace)
                    rec = {"workload": workload, "seed": seed, "side": s, "first": order[0],
                           "correct": res["correct"], "failed": res["failed"],
                           "metrics": res["metrics"]}
                    records.append(rec)
                    with open(out_path, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(f"{workload} seed {seed} {s}: correct={res['correct']} "
                          f"failed={res['failed']}", file=sys.stderr, flush=True)
    finally:
        if worktree is not None:
            subprocess.run(["git", "-C", args.cand_dir, "worktree", "remove", "--force", worktree],
                           capture_output=True)
    print(summarise(records, bench))
    return 0


if __name__ == "__main__":
    sys.exit(main())
