#!/usr/bin/env python3
"""Interleaved A/B of two revisions on the perfbench benchmark.

Run from the root of a graft checkout:

    python3 tools/perfbench_ab.py --a HEAD~1 --b WORKTREE --pairs 10 \\
        --workloads extract_many_plans,query_mix --seeds 3,5,7,11 \\
        --scratch /tmp/ab --out /tmp/ab/result.json

Each revision is exported with `git archive` into its own directory under
`--scratch` (`WORKTREE` names the working tree's tracked files, staged new
files included, through `git stash create`). Both exports are built and
warmed up by one discarded run per workload. Then, for each of N pairs, both
sides run `perfbench/run.py` once per workload with the pair's seed; the side
that runs first alternates from pair to pair, and the pairs cycle through the
seeds.

For every end-to-end metric BENCHMARK.json declares, and every workload, the
report gives each side's median and quartiles, the distance between A's
quartiles, and how many pairs B won (ties count for neither side). B's gain
is claimed only when B wins at least nine tenths of the pairs and the
medians differ by more than A's quartile distance. The raw run results go to
`--out` as JSON.

Each metric also gets a no-regression verdict against its BENCHMARK.json
`bound` (a fraction of A's median):
  regressed   B's median is worse than A's by more than the bound;
  unresolved  A's quartile distance exceeds the bound times A's median, so
              the runs spread too widely to tell, unless every B run beats
              every A run;
  ok          otherwise.
The script exits with status 1 when any metric regressed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

WORKTREE = "WORKTREE"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True, text=True).stdout.strip()


def resolve(rev):
    """The commit that `rev` names; WORKTREE is the working tree's tracked state."""
    if rev == WORKTREE:
        return git("stash", "create") or git("rev-parse", "HEAD")
    return git("rev-parse", "--verify", f"{rev}^{{commit}}")


def export(commit, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", commit], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {commit} failed")


def run_once(checkout, workload, seed, seconds, log):
    """One `perfbench/run.py` run; its final JSON line, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1500)
    with open(log, "a") as fh:
        fh.write(f"== {' '.join(cmd)} (exit {r.returncode}, {time.time() - t0:.0f} s)\n")
        fh.write(r.stdout)
        fh.write(r.stderr[-4000:])
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(xa, xb, qa, qb, sign, bound):
    """regressed / unresolved / ok for one metric (see the module docstring)."""
    if sign * (qb[1] - qa[1]) > bound * qa[1]:
        return "regressed"
    b_beats_all = all(sign * (x - y) > 0 for x in xa for y in xb)
    if qa[2] - qa[0] > bound * qa[1] and not b_beats_all:
        return "unresolved"
    return "ok"


def report(pairs, metrics, workloads):
    out = []
    for wl in workloads:
        for name, better, bound in metrics:
            a = [p["a"][wl]["metrics"][name]["value"] if p["a"].get(wl) else None for p in pairs]
            b = [p["b"][wl]["metrics"][name]["value"] if p["b"].get(wl) else None for p in pairs]
            both = [(x, y) for x, y in zip(a, b) if x is not None and y is not None]
            if not both:
                continue
            xa = [x for x, _ in both]
            xb = [y for _, y in both]
            sign = 1 if better == "lower" else -1
            wins = sum(1 for x, y in both if sign * (x - y) > 0)
            losses = sum(1 for x, y in both if sign * (y - x) > 0)
            qa, qb = quartiles(xa), quartiles(xb)
            iqr_a = qa[2] - qa[0]
            gain = wins >= 0.9 * len(both) and sign * (qa[1] - qb[1]) > iqr_a
            out.append(dict(workload=wl, metric=name, n=len(both), a_q=qa, b_q=qb, a_iqr=iqr_a,
                            b_wins=wins, b_losses=losses, claim=gain,
                            change=(qb[1] - qa[1]) / qa[1] if qa[1] else float("nan"),
                            bound=bound, verdict=verdict(xa, xb, qa, qb, sign, bound)))
    print(f"{'workload':<20} {'metric':<8} {'A q1/median/q3':>26} {'B q1/median/q3':>26} "
          f"{'A iqr':>7} {'change':>7} {'B wins':>7} claim verdict")
    for r in out:
        fa = "/".join(f"{v:.3f}" for v in r["a_q"])
        fb = "/".join(f"{v:.3f}" for v in r["b_q"])
        print(f"{r['workload']:<20} {r['metric']:<8} {fa:>26} {fb:>26} {r['a_iqr']:>7.3f} "
              f"{r['change']:>+7.1%} {r['b_wins']:>3}/{r['n']:<3} {'yes' if r['claim'] else 'no ':<5} "
              f"{r['verdict']}")
    for wl in workloads:
        for side in ("a", "b"):
            runs = [p[side].get(wl) for p in pairs]
            ok = [r for r in runs if r]
            print(f"{wl:<20} {side.upper()}: {len(ok)}/{len(runs)} runs finished, "
                  f"{sum(1 for r in ok if r['correct'])} correct, "
                  f"failed operations {sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--a", required=True, help="parent revision")
    ap.add_argument("--b", required=True, help=f"changed revision, or {WORKTREE}")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="extract_many_plans,query_mix")
    ap.add_argument("--seeds", default="3,5,7,11")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--scratch", required=True, help="directory for the exports and run logs")
    ap.add_argument("--out", help="write the raw results here as JSON")
    a = ap.parse_args()

    workloads = a.workloads.split(",")
    seeds = [int(s) for s in a.seeds.split(",")]
    sides = {"a": resolve(a.a), "b": resolve(a.b)}
    os.makedirs(a.scratch, exist_ok=True)
    log = os.path.join(a.scratch, "runs.log")
    dirs = {}
    for side, commit in sides.items():
        dirs[side] = os.path.join(a.scratch, side)
        export(commit, dirs[side])
        print(f"{side.upper()} = {commit} in {dirs[side]}", flush=True)
    with open(os.path.join(dirs["a"], "BENCHMARK.json")) as fh:
        metrics = [(m["name"], m["better"], m["bound"]) for m in json.load(fh)["end_to_end"]]

    for side in sides:  # build + fixtures + first-run effects, discarded
        for wl in workloads:
            if run_once(dirs[side], wl, seeds[0], a.seconds, log) is None:
                sys.exit(f"warm-up run of {side.upper()} on {wl} failed; see {log}")

    pairs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        pair = {"seed": seed, "first": order[0], "a": {}, "b": {}}
        for wl in workloads:
            for side in order:
                pair[side][wl] = run_once(dirs[side], wl, seed, a.seconds, log)
        pairs.append(pair)
        print(f"pair {i + 1}/{a.pairs} seed {seed} done", flush=True)

    summary = report(pairs, metrics, workloads)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"a": sides["a"], "b": sides["b"], "pairs": pairs, "summary": summary}, fh, indent=1)
    if any(r["verdict"] == "regressed" for r in summary):
        sys.exit(1)


if __name__ == "__main__":
    main()
