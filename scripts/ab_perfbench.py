#!/usr/bin/env python
"""A/B two commits on one perfbench workload with alternating untraced pairs.

    python scripts/ab_perfbench.py PARENT CHANGE --workload cdc_merge_sink --seeds 21-30

PARENT and CHANGE are git revisions of this repository, each exported
with ``git archive`` into a temporary directory outside the repository
and deleted at the end. For every seed the script runs
``python3 perfbench/run.py --workload W --seed N --seconds S --trace 0``
(``S`` is ``run_seconds`` from ``BENCHMARK.json``) once in each
checkout, one after the other, alternating which side goes first, and
prints:

- each pair's end-to-end metrics;
- each side's median and quartiles per metric, and the change's win
  count (ties count for neither side);
- per metric, whether the change's median is worse than the parent's by
  more than the bound ``BENCHMARK.json`` fixes;
- per metric, the gain verdict: at least ten pairs run, nine tenths of
  them won (a dropped pair is not a win), and a median gap larger than
  the parent's quartile spread.

The last line of standard output is the same summary as one JSON
object. Each run writes only into the exported tree it runs in (its
``.perfbench_work/`` and ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", help="git revision")
    p.add_argument("change", help="git revision")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range A-B")
    return p.parse_args(argv)


def seed_range(spec: str) -> list[int]:
    a, _, b = spec.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise SystemExit(f"--seeds {spec}: empty range")
    return list(range(lo, hi + 1))


def checkout(ref: str, workdir: str, label: str) -> str:
    """``git archive`` of the revision into ``workdir/label``."""
    dest = os.path.join(workdir, label)
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", ref], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def bench_digest(root: str) -> str:
    """Hash of the benchmark code and declaration, to refuse comparing
    two checkouts that measure differently."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "BENCHMARK.json")]
    for dirpath, dirs, files in os.walk(os.path.join(root, "perfbench")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths += [os.path.join(dirpath, f) for f in sorted(files)
                  if f.endswith((".py", ".md"))]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict | None:
    """The run's end-to-end metrics, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    out = json.loads(lines[-1])
    if proc.returncode != 0 or not out.get("correct", False):
        print(f"  run failed: exit {proc.returncode}, "
              f"{out.get('failed')}/{out.get('attempted')} checks failed")
        return None
    return {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def summarize(pairs: list[tuple[dict, dict]], runs: int, decl: dict) -> dict:
    """Per end-to-end metric: each side's median and quartiles, the
    change's wins, its bound check and the gain verdict over all
    ``runs`` pairs run."""
    summary = {}
    for spec in decl["end_to_end"]:
        name, sign = spec["name"], 1 if spec["better"] == "lower" else -1
        ps = [p[name] for p, _ in pairs]
        cs = [c[name] for _, c in pairs]
        pq, cq = quartiles(ps), quartiles(cs)
        change = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        gap, spread = sign * (pq[1] - cq[1]), pq[2] - pq[0]
        wins = sum(sign * (p - c) > 0 for p, c in zip(ps, cs))
        summary[name] = {
            "parent": {"median": pq[1], "q1": pq[0], "q3": pq[2]},
            "change": {"median": cq[1], "q1": cq[0], "q3": cq[2]},
            "relative_change": change,
            "wins": wins,
            "pairs": runs,
            "worse_than_bound": sign * change > spec["bound"],
            "median_gap": gap,
            "parent_spread": spread,
            "gain": runs >= 10 and 10 * wins >= 9 * runs and gap > spread,
        }
    return summary


def main(argv=None) -> int:
    args = parse_args(argv)
    seeds = seed_range(args.seeds)
    workdir = tempfile.mkdtemp(prefix="ab_perfbench_")
    try:
        roots = {
            "parent": checkout(args.parent, workdir, "parent"),
            "change": checkout(args.change, workdir, "change"),
        }
        if bench_digest(roots["parent"]) != bench_digest(roots["change"]):
            print("the two checkouts differ under perfbench/ or in"
                  " BENCHMARK.json; compare with identical benchmark code",
                  file=sys.stderr)
            return 2
        with open(os.path.join(roots["parent"], "BENCHMARK.json")) as f:
            decl = json.load(f)
        names = [m["name"] for m in decl["end_to_end"]]

        pairs, failed = [], []
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_once(roots[side], args.workload, seed,
                                     decl["run_seconds"])
            if got["parent"] is None or got["change"] is None:
                failed.append(seed)
                print(f"seed {seed}: dropped (a run failed)")
                continue
            pairs.append((got["parent"], got["change"]))
            cells = "  ".join(
                f"{n} {got['parent'][n]:.3f} -> {got['change'][n]:.3f}" for n in names
            )
            print(f"seed {seed} ({order[0]} first): {cells}", flush=True)

        if not pairs:
            print("no complete pair", file=sys.stderr)
            return 1
        summary = summarize(pairs, len(seeds), decl)
        print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seeds}"
              f" ({len(failed)} dropped)")
        print(f"{'metric':16s} {'parent median [q1, q3]':>28s} "
              f"{'change median [q1, q3]':>28s} {'change':>8s} {'wins':>6s}")
        for n, s in summary.items():
            p, c = s["parent"], s["change"]
            flag = "  WORSE THAN BOUND" if s["worse_than_bound"] else ""
            print(f"{n:16s} {p['median']:10.3f} [{p['q1']:6.3f}, {p['q3']:6.3f}] "
                  f"{c['median']:10.3f} [{c['q1']:6.3f}, {c['q3']:6.3f}] "
                  f"{s['relative_change']:+8.1%} {s['wins']:>3d}/{s['pairs']:<2d}{flag}")
        for n, s in summary.items():
            print(f"verdict on {n}: {'GAIN' if s['gain'] else 'no gain'}"
                  f" (wins {s['wins']}/{s['pairs']}, need >= 9/10 of >= 10 pairs;"
                  f" median gap {s['median_gap']:.3f} vs parent quartile"
                  f" spread {s['parent_spread']:.3f})")
        print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                          "dropped_seeds": failed, "summary": summary}))
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
