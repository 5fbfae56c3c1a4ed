#!/usr/bin/env python3
"""Interleaved A/B runs of perfbench between two trees.

    python3 tools/ab.py PARENT CHANGE --work DIR [--pairs 10]
    python3 tools/ab.py PARENT --aa --work DIR [--pairs 10]

PARENT and CHANGE are each a git revision of this repository (exported
with `git archive`) or a checkout directory (its tracked and untracked,
not ignored files are copied). Both trees are copied fresh into a new
directory under DIR. The workloads and the run length are those of
BENCHMARK.json in the parent tree, the same on both sides. Each tree first
does one untimed run, whose result is discarded, so that perfbench builds
it before any pair. For each workload the runner then does N pairs: pair
i runs `perfbench/run.py --seed i --trace 0` once in each tree, the
parent first in pairs 1, 3, 5, ... and the change first in pairs 2, 4,
6, ..., so slow drift of the host load falls on both sides alike. `--aa`
runs the parent against a second fresh copy of itself: the spread the
host alone gives.

Every run is printed as it ends. A run that exits non-zero or reports
`correct: false` (any failed operation) is a bad run: it gives no value,
and its pair is lost by its side (a tie when both sides are bad). Per
workload the runner prints each side's bad runs and failed operations
over those attempted. Per end-to-end metric it prints both medians, the
change of the median, the pairs the change won out of all pairs run, the
parent's interquartile range over its median, a two-sided sign-test
p-value, and a verdict:
  worse       the change has more bad runs, or a larger share of failed
              operations, than the parent; or its median is worse by more
              than the metric's bound
  better      won at least 9 of 10 pairs (the same share of N) and the
              median gap exceeds the parent's IQR
  unresolved  the parent's IQR over its median exceeds the bound, and not
              every change run beat every parent run
  same        none of these: within the bound
The metric names, directions and bounds come from the same BENCHMARK.json.
The runner only reads perfbench's output; it changes nothing in either
tree but its build directory.
"""
import argparse
import json
import math
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3), linearly interpolated between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def sign_test(wins, losses):
    """Two-sided exact binomial p-value of `wins` against `losses` at 1/2."""
    n = wins + losses
    if n == 0:
        return 1.0
    k = min(wins, losses)
    tail = sum(math.comb(n, i) for i in range(k + 1)) / 2 ** n
    return min(1.0, 2 * tail)


def first_side(pair):
    """Which tree runs first in pair `pair` (0-based)."""
    return "parent" if pair % 2 == 0 else "change"


def good(run):
    """A run that completed and reported every operation correct."""
    return run is not None and run["correct"]


def failures(runs):
    """(bad runs, failed operations, attempted operations) of one side."""
    done = [r for r in runs if r is not None]
    return (sum(1 for r in runs if not good(r)),
            sum(r["failed"] for r in done), sum(r["attempted"] for r in done))


def fails_more(parent, change):
    """Whether the change has more bad runs or a larger failed share."""
    (p_bad, p_failed, p_att), (c_bad, c_failed, c_att) = parent, change
    share = lambda failed, att: failed / att if att else 0.0
    return c_bad > p_bad or share(c_failed, c_att) > share(p_failed, p_att)


def summarize(parent, change, better, bound, change_fails_more=False):
    """Statistics of one metric over all pairs run; `better` is lower/higher.

    `parent` and `change` hold one value per pair, None for a bad run.
    """
    assert len(parent) == len(change) and parent, "need paired runs"
    sign = 1 if better == "higher" else -1

    def beats(a, b):
        if a is None or b is None:
            return a is not None and b is None
        return sign * (a - b) > 0

    pairs = len(parent)
    wins = sum(1 for p, c in zip(parent, change) if beats(c, p))
    losses = sum(1 for p, c in zip(parent, change) if beats(p, c))
    p_vals = [p for p in parent if p is not None]
    c_vals = [c for c in change if c is not None]
    s = {"wins": wins, "losses": losses, "pairs": pairs,
         "sign_p": sign_test(wins, losses), "parent_median": None,
         "change_median": None, "delta": None, "parent_iqr": None,
         "parent_rel_iqr": None}
    if not p_vals or not c_vals:
        s["verdict"] = "worse" if change_fails_more else "unresolved"
        return s
    q1, p_med, q3 = quartiles(p_vals)
    c_med = statistics.median(c_vals)
    iqr = q3 - q1
    rel_iqr = iqr / abs(p_med) if p_med else math.inf
    delta = (c_med - p_med) / abs(p_med) if p_med else math.inf
    all_better = len(c_vals) == pairs and all(
        beats(c, p) for c in c_vals for p in p_vals)
    if change_fails_more or -sign * delta > bound:
        verdict = "worse"
    elif wins >= math.ceil(WIN_SHARE * pairs) and sign * (c_med - p_med) > iqr:
        verdict = "better"
    elif rel_iqr > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "same"
    s.update(parent_median=p_med, change_median=c_med, delta=delta,
             parent_iqr=iqr, parent_rel_iqr=rel_iqr, verdict=verdict)
    return s


def export_tree(source, dest):
    """Copy a revision or a checkout directory to `dest`."""
    dest.mkdir(parents=True)
    if Path(source).is_dir():
        files = subprocess.run(
            ["git", "-C", source, "ls-files", "-z", "-co", "--exclude-standard"],
            check=True, capture_output=True).stdout.split(b"\0")
        for rel in filter(None, (f.decode() for f in files)):
            src = Path(source) / rel
            if src.is_file():
                (dest / rel).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / rel)
    else:
        archive = subprocess.run(["git", "-C", str(REPO), "archive", source],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run_once(tree, workload, seed, seconds):
    """One perfbench run; its last stdout line parsed, or None on failure."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def benchmark(tree):
    """(workload names, run seconds, end-to-end metric specs) of a tree."""
    spec = json.loads((tree / "BENCHMARK.json").read_text())
    return ([w["name"] for w in spec["workloads"]], spec["run_seconds"],
            [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]])


def cell(x, width, spec):
    """`x` formatted by `spec`, or a dash where a side had no good run."""
    return f"{'-' if x is None else format(x, spec):>{width}}"


def report(workload, runs, specs):
    """Print the per-metric statistics of one workload."""
    fails = {side: failures(runs[side]) for side in ("parent", "change")}
    worse_failures = fails_more(fails["parent"], fails["change"])
    print(f"\n{workload}: {len(runs['parent'])} pairs")
    for side, (bad, failed, attempted) in fails.items():
        print(f"  {side}: {bad} bad runs, {failed}/{attempted} operations failed")
    print(f"  {'metric':<18}{'parent':>11}{'change':>11}{'delta':>9}"
          f"{'won':>7}{'p.IQR':>8}{'sign p':>8}  verdict")
    for name, better, bound in specs:
        value = lambda r: r["metrics"][name]["value"] if good(r) else None
        s = summarize([value(r) for r in runs["parent"]],
                      [value(r) for r in runs["change"]], better, bound,
                      worse_failures)
        print(f"  {name:<18}{cell(s['parent_median'], 11, '.4g')}"
              f"{cell(s['change_median'], 11, '.4g')}{cell(s['delta'], 9, '+.1%')}"
              f"{s['wins']:>4}/{s['pairs']:<2}{cell(s['parent_rel_iqr'], 8, '.1%')}"
              f"{s['sign_p']:>8.3f}  {s['verdict']}")


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change", nargs="?")
    p.add_argument("--aa", action="store_true", help="run the parent against itself")
    p.add_argument("--work", required=True, type=Path,
                   help="directory to copy the two trees into")
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)
    if args.aa == (args.change is not None):
        p.error("give CHANGE or --aa, not both or neither")
    if args.pairs < 1:
        p.error("--pairs must be at least 1")

    args.work.mkdir(parents=True, exist_ok=True)
    base = Path(tempfile.mkdtemp(prefix="ab-", dir=args.work))
    change_src = args.parent if args.aa else args.change
    trees = {"parent": base / "parent", "change": base / "change"}
    export_tree(args.parent, trees["parent"])
    export_tree(change_src, trees["change"])
    workloads, seconds, specs = benchmark(trees["parent"])
    print(f"ab: parent={args.parent} change={'(A/A) ' if args.aa else ''}{change_src} "
          f"trees under {base}, {seconds} s runs", flush=True)
    for side, tree in trees.items():
        out = run_once(tree, workloads[0], 0, seconds)
        print(f"untimed first run, {side}: {'FAILED' if out is None else 'done'}",
              flush=True)

    for workload in workloads:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            first = first_side(i)
            for side in (first, "change" if first == "parent" else "parent"):
                out = run_once(trees[side], workload, i + 1, seconds)
                runs[side].append(out)
                shown = "FAILED" if out is None else " ".join(
                    f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()) + \
                    f" correct={out['correct']} failed={out['failed']}" \
                    f"/{out['attempted']}"
                print(f"{workload} pair {i + 1:>2} seed {i + 1:>2} {side:<6} {shown}",
                      flush=True)
        report(workload, runs, specs)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
