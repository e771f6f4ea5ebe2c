#!/usr/bin/env python3
"""A/B the perfbench end-to-end metrics of this checkout against a base revision.

    python3 tools/perfab.py --base HEAD~1 --workload snapshot_mutate --seeds 201-210

Checks <base> out into a temporary `git worktree` (removed afterwards) and runs
`perfbench/run.py --trace 0` once per seed on each side, ABAB: both sides run
the same seed, and the side that runs first alternates from pair to pair. Each
side runs its own checkout's run.py, which builds that checkout's engine in
that checkout's own target/, so alternating never recompiles either engine.
The run length is BENCHMARK.json's `run_seconds`.

For every end-to-end metric of BENCHMARK.json it prints each side's median
[q1, q3], the pairs the change won (ties count for neither side), the base's
IQR, the gain verdict (the change wins at least 9 of 10 pairs and the medians
differ by more than the base's IQR) and the bound check: `regressed` when the
change's median is worse than the base's by more than the metric's bound,
`unresolved` when the base's IQR is wider than the bound (unless every change
run beats every base run), else `ok`. Runs that fail or report incorrect
output are counted, never dropped: a pair with a side missing a value is a
pair the change did not win. Exits 1 on any failed or incorrect run or any
regressed metric. Reads BENCHMARK.json and perfbench/, changes neither.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 840 + 165 + 60  # run.py's own build and run limits, plus slack


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    return q(0.25), q(0.5), q(0.75)


def run_side(checkout, workload, seed, seconds):
    """One run.py invocation: (status, result dict or None)."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return "failed", None
    res = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                res = json.loads(line)
            except ValueError:
                pass
            break
    if res is None:
        sys.stderr.write(p.stderr[-2000:])
        return "failed", None
    return ("ok" if p.returncode == 0 and res.get("correct") else "incorrect"), res


def fmt(v):
    return "%.4g" % v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B, or one seed")
    args = ap.parse_args()

    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    seconds = spec["run_seconds"]

    base_rev = subprocess.run(["git", "rev-parse", "--verify", args.base + "^{commit}"],
                              cwd=ROOT, capture_output=True, text=True, check=True).stdout.strip()
    tmp = tempfile.mkdtemp(prefix="perfab-")
    tree = os.path.join(tmp, "base")
    subprocess.run(["git", "worktree", "add", "--detach", tree, base_rev], cwd=ROOT,
                   check=True, stdout=subprocess.DEVNULL)
    sides = {"base": tree, "change": ROOT}
    runs = {"base": [], "change": []}  # per pair: (status, result)
    try:
        for i, seed in enumerate(seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                status, res = run_side(sides[side], args.workload, seed, seconds)
                runs[side].append((status, res))
                vals = " ".join("%s=%s" % (m["name"], fmt(res["metrics"][m["name"]]["value"]))
                                for m in metrics if res and m["name"] in res["metrics"])
                print("pair %d seed %d %-6s %-9s %s" % (i + 1, seed, side, status, vals),
                      flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=ROOT,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT)
        shutil.rmtree(tmp, ignore_errors=True)

    print("\n%s, base %s vs change (working tree), %d pairs, seeds %s, %s s runs"
          % (args.workload, base_rev[:10], len(seeds), args.seeds, seconds))
    bad = 0
    for side in ("base", "change"):
        st = [s for s, _ in runs[side]]
        att = sum(r["attempted"] for _, r in runs[side] if r)
        fl = sum(r["failed"] for _, r in runs[side] if r)
        bad += st.count("failed") + st.count("incorrect")
        print("%-6s runs ok %d, incorrect %d, failed %d; ops failed %d of %d"
              % (side, st.count("ok"), st.count("incorrect"), st.count("failed"), fl, att))

    def value(side, i, name):
        res = runs[side][i][1]
        m = res["metrics"].get(name) if res else None
        return m["value"] if m else None

    regressed = 0
    print("%-12s %-28s %-28s %7s %7s %-16s %-5s %s" % (
        "metric", "base median [q1, q3]", "change median [q1, q3]", "delta", "won",
        "base IQR", "gain", "bound"))
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        b = [v for v in (value("base", i, name) for i in range(len(seeds))) if v is not None]
        c = [v for v in (value("change", i, name) for i in range(len(seeds))) if v is not None]
        if not b or not c:
            print("%-12s no values on %s" % (name, "base" if not b else "change"))
            regressed += 1
            continue
        bq1, bmed, bq3 = quartiles(b)
        cq1, cmed, cq3 = quartiles(c)
        won = 0
        for i in range(len(seeds)):
            bv, cv = value("base", i, name), value("change", i, name)
            if bv is not None and cv is not None and (cv < bv if lower else cv > bv):
                won += 1
        iqr = bq3 - bq1
        better_by = (bmed - cmed) if lower else (cmed - bmed)
        gain = won * 10 >= 9 * len(seeds) and better_by > iqr
        worse_frac = -better_by / bmed if bmed else 0.0
        all_better = all((x < min(b) if lower else x > max(b)) for x in c)
        if worse_frac > bound:
            verdict = "regressed (%+.1f%% > %.0f%%)" % (100 * worse_frac, 100 * bound)
            regressed += 1
        elif bmed and iqr / bmed > bound and not all_better:
            verdict = "unresolved (base IQR %.0f%% > %.0f%%)" % (100 * iqr / bmed, 100 * bound)
        else:
            verdict = "ok"
        delta = 100 * (cmed - bmed) / bmed if bmed else 0.0
        print("%-12s %-28s %-28s %+6.1f%% %3d/%-3d %-16s %-5s %s" % (
            name, "%s [%s, %s]" % (fmt(bmed), fmt(bq1), fmt(bq3)),
            "%s [%s, %s]" % (fmt(cmed), fmt(cq1), fmt(cq3)), delta, won, len(seeds),
            "%s (%.0f%%)" % (fmt(iqr), 100 * iqr / bmed if bmed else 0.0),
            "yes" if gain else "no", verdict))
    sys.exit(1 if bad or regressed else 0)


if __name__ == "__main__":
    main()
