"""Same-session A/B of the benchmark: a git ref against the working tree.

    python3 tools/perfbench_ab.py --ref HEAD --workload stream_upsert \
        --seeds 41 42 43 [--seconds 15] [--trace 0]

Exports ``--ref`` with ``git archive`` into one temporary directory and
copies the working tree's files (tracked and untracked, not ignored, as
they are on disk) into another, so both sides run from a fresh directory.
Then runs ``perfbench/run.py`` once per seed in each, alternating which
side runs first (the ref on even-numbered pairs, the working tree on odd),
so a host that speeds up or slows down during the session weighs on both
sides alike.  Prints every run as it ends, then per metric: each side's
median, the ref's interquartile range, and in how many pairs the working
tree was better (ties count for neither side).  The direction of "better"
comes from ``BENCHMARK.json``.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_ref(ref: str, dest: str) -> None:
    """Write the tree of ``ref`` into ``dest`` (no .git, no worktree)."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", ref],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def copy_tree(dest: str) -> None:
    """Copy the working tree's non-ignored files into ``dest``."""
    files = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others",
         "--exclude-standard"],
        check=True, capture_output=True,
    ).stdout.decode().split("\0")
    for rel in filter(None, files):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):  # tracked files deleted on disk are skipped
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One ``perfbench/run.py`` run; its last stdout line as a dict."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(
            f"perfbench/run.py failed in {checkout} (seed {seed}, "
            f"exit {proc.returncode})")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(runs: dict[str, list[dict]], better: dict[str, str]) -> None:
    names = list(runs["ref"][0]["metrics"])
    print(f"\n{'metric':44} {'ref p50':>12} {'tree p50':>12} "
          f"{'ref IQR':>10} {'tree better':>11}")
    for name in names:
        a = [r["metrics"][name]["value"] for r in runs["ref"]]
        b = [r["metrics"][name]["value"] for r in runs["tree"]]
        lo, hi = quartiles(a)
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        print(f"{name:44} {statistics.median(a):12.4g} "
              f"{statistics.median(b):12.4g} {hi - lo:10.3g} "
              f"{wins:>6}/{len(a)}")
    for side, rs in runs.items():
        bad = sum(1 for r in rs if not r["correct"])
        failed = sum(r["failed"] for r in rs)
        attempted = sum(r["attempted"] for r in rs)
        print(f"{side}: {bad} incorrect run(s), {failed}/{attempted} "
              "operations failed")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", default="HEAD",
                    help="git ref to compare the working tree against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}
    better.update({f"traced.{m['name']}": m["better"]
                   for m in bench["end_to_end"]})

    tmp = tempfile.mkdtemp(prefix="perfbench-ab-")
    try:
        sides = {"ref": os.path.join(tmp, "ref"),
                 "tree": os.path.join(tmp, "tree")}
        for d in sides.values():
            os.makedirs(d)
        export_ref(a.ref, sides["ref"])
        copy_tree(sides["tree"])
        runs: dict[str, list[dict]] = {"ref": [], "tree": []}
        for i, seed in enumerate(a.seeds):
            order = ("ref", "tree") if i % 2 == 0 else ("tree", "ref")
            for side in order:
                res = run_once(sides[side], a.workload, seed, seconds, a.trace)
                runs[side].append(res)
                shown = {k: round(v["value"], 4)
                         for k, v in res["metrics"].items()}
                print(json.dumps({"side": side, "seed": seed,
                                  "correct": res["correct"],
                                  "metrics": shown}), flush=True)
        summarize(runs, better)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
