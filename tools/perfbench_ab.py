"""Interleaved A/B of the repository benchmark: a git ref against the working tree.

    python3 tools/perfbench_ab.py --ref HEAD --workload daily_load --seeds 11 12 13

Run from the repository root. The ref is exported with ``git archive`` into
a temporary directory (under ``--workdir`` if given), so the repository
gains no worktree metadata. Per seed, ``perfbench/run.py`` runs once on the
ref (A) and once on the working tree (B), interleaved with the first side
alternating by seed (A B, B A, A B, ...). Run length and workload names
are the benchmark's own. Per end-to-end metric it
prints each side's median, spread (IQR / median) and runs with their
``steal_pct``, and the B/A ratio of medians. Stdlib only.
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


def run(cwd: str, args, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--trace", "0"] + (["--sf", str(args.sf)] if args.sf is not None else [])
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if not p.stdout.strip():
        sys.exit(f"perfbench_ab: no result from {cwd} (exit {p.returncode}):\n{p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    rec = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench: run ")]
    host = json.loads(rec[-1].removeprefix("perfbench: run "))["host"] if rec else {}
    out["steal_pct"] = host.get("steal_pct")
    return out


def spread(vals: list[float]) -> float:
    if len(vals) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return (q3 - q1) / statistics.median(vals)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", required=True, help="git ref of side A")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--sf", type=float, default=None, help="input scale factor (default: run.py's)")
    ap.add_argument("--workdir", default=None, help="where the ref is exported")
    args = ap.parse_args()
    tree = os.getcwd()
    ref_dir = tempfile.mkdtemp(prefix="perfbench-ab-", dir=args.workdir)
    try:
        archive = subprocess.run(["git", "archive", args.ref], check=True, capture_output=True)
        subprocess.run(["tar", "-x", "-C", ref_dir], input=archive.stdout, check=True)
        runs: dict[str, list[dict]] = {"A": [], "B": []}
        for i, seed in enumerate(args.seeds):
            for side, cwd in (("A", ref_dir), ("B", tree))[::1 if i % 2 == 0 else -1]:
                r = run(cwd, args, seed)
                runs[side].append(r)
                print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']} "
                      f"steal={r['steal_pct']} "
                      + " ".join(f"{k}={v['value']}" for k, v in r["metrics"].items()), flush=True)
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)
    print(f"\n{args.workload} sf={args.sf or 'default'}  A={args.ref}  B=working tree  seeds={args.seeds}")
    for metric in runs["A"][0]["metrics"]:
        med = {}
        for side in ("A", "B"):
            vals = [r["metrics"][metric]["value"] for r in runs[side]]
            med[side] = statistics.median(vals)
            print(f"{metric:12s} {side}: median {med[side]:8.2f}  spread {spread(vals):.3f}  "
                  f"runs {vals}  steal {[r['steal_pct'] for r in runs[side]]}")
        print(f"{metric:12s} B/A {med['B'] / med['A']:.3f}")


if __name__ == "__main__":
    main()
