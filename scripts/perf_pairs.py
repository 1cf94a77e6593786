#!/usr/bin/env python3
"""Compare a parent revision with the working tree on one perfbench workload.

Run from anywhere inside the repository:

    python3 scripts/perf_pairs.py --parent HEAD~1 --workload crawl_batch --seeds 401-410

The parent revision is checked out with `git worktree add` into a fresh
directory under the system temp dir (`TMPDIR`, default /tmp) and removed
at the end. For every seed the script runs

    python3 perfbench/run.py --workload <w> --seed <s> --seconds 16 --trace 0

once on each side, alternating which side runs first, so that a host
whose speed drifts during the comparison moves both sides alike. Each
side builds from its own sources. Then, per end-to-end metric, it prints
the parent's median and quartiles, the change's median, the relative
change, how many pairs the change won, and whether the gain rule holds:
there are at least 10 pairs, the change wins at least 9 of 10 of them, the
gap between the medians is larger than the parent's interquartile range,
and the change has no larger share of failed operations (a run that failed
to run counts as all of its operations failed). Last come the correct and
failed-operation counts of each side.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def git(root, *args):
    return subprocess.run(["git", "-C", root] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError("seed range %s is empty" % text)
    return list(range(lo, hi + 1))


def run_side(root, workload, seed, seconds):
    """One perfbench run; returns its result JSON, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def value(run, name):
    """A metric's number: perfbench prints each as {"value", "unit"}."""
    return run["metrics"][name]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def failed_share(runs):
    """Failed over attempted operations; a run that failed to run counts as 1."""
    shares = [r["failed"] / r["attempted"] if r and r.get("attempted") else 1.0 for r in runs]
    return sum(shares) / len(shares) if shares else 0.0


def report(pairs, directions):
    ok = [(p, c) for p, c in pairs if p is not None and c is not None]
    names = sorted({k for p, c in ok for k in p["metrics"]} & {k for p, c in ok for k in c["metrics"]})
    more_failures = failed_share([c for _, c in pairs]) > failed_share([p for p, _ in pairs])
    print("%-22s %10s %21s %10s %8s %6s %s" % ("metric", "parent", "parent IQR", "change", "rel", "wins", "rule"))
    for name in names:
        both = [(value(p, name), value(c, name)) for p, c in ok
                if name in p["metrics"] and name in c["metrics"]]
        lower = directions.get(name, "lower") == "lower"
        par = [p for p, _ in both]
        chg = [c for _, c in both]
        q1, med_p, q3 = quartiles(par)
        med_c = statistics.median(chg)
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        gap = (med_p - med_c) if lower else (med_c - med_p)
        holds = (len(both) >= 10 and wins >= 0.9 * len(both) and gap > q3 - q1
                 and not more_failures)
        rel = (med_c / med_p - 1.0) if med_p else float("nan")
        print("%-22s %10.4g %10.4g-%-10.4g %10.4g %+7.1f%% %3d/%-2d %s" % (
            name, med_p, q1, q3, med_c, 100.0 * rel, wins, len(both), "holds" if holds else "no"))
    for side, idx in (("parent", 0), ("change", 1)):
        runs = [pc[idx] for pc in pairs]
        done = [r for r in runs if r is not None]
        print("%s: %d runs, %d correct, %d failed to run, failed operations %d of %d" % (
            side, len(runs), sum(1 for r in done if r.get("correct")), len(runs) - len(done),
            sum(r.get("failed", 0) for r in done), sum(r.get("attempted", 0) for r in done)))
    if more_failures:
        print("the change has a larger share of failed operations: the rule holds for no metric")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True, help="perfbench workload, e.g. crawl_batch")
    ap.add_argument("--seeds", required=True, type=seed_range, help="inclusive range a-b")
    ap.add_argument("--seconds", type=int, default=16)
    args = ap.parse_args()

    root = git(os.getcwd(), "rev-parse", "--show-toplevel")
    rev = git(root, "rev-parse", "--verify", args.parent + "^{commit}")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        directions = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    tree = tempfile.mkdtemp(prefix="perf_pairs-")
    git(root, "worktree", "add", "--detach", tree, rev)
    pairs = []
    try:
        for i, seed in enumerate(args.seeds):
            sides = {"parent": tree, "change": root}
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {s: run_side(sides[s], args.workload, seed, args.seconds) for s in order}
            pairs.append((got["parent"], got["change"]))
            print("seed %d (%s first): %s" % (seed, order[0], ", ".join(
                "%s pass_s=%s" % (s, value(got[s], "pass_s") if got[s] else "failed")
                for s in ("parent", "change"))), flush=True)
    finally:
        git(root, "worktree", "remove", "--force", tree)
        git(root, "worktree", "prune")
    print("%s vs working tree, workload %s, %d pairs" % (rev[:12], args.workload, len(pairs)))
    report(pairs, directions)


if __name__ == "__main__":
    main()
