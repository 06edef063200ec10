#!/usr/bin/env python3
"""Two-revision A/B benchmark: alternating perfbench runs of a base and a
changed revision.

    python3 scripts/ab_bench.py --base <rev> --change <rev> \\
        --workload <mirror_skew|small_batches> --seeds 41-50 [--seconds 10] \\
        [--trace 0|1] [--work DIR] [--log FILE]

Run from the repository root. Each revision is any git tree-ish; the name
WORKTREE stands for the current checkout (tracked files as they are on disk
plus untracked, non-ignored ones), exported through a temporary index so
neither refs nor the real index change. Both revisions are exported with
`git archive` into DIR/base and DIR/change, and every seed runs
`python3 perfbench/run.py` once in each; odd pairs run the base first,
even pairs the change first, so a slow host window hits both sides alike.

Prints one line per run and, at the end, for every metric of BENCHMARK.json
present in the results: each side's median and interquartile range, the
change/base ratio of the medians, and in how many pairs the change was
better, worse or equal. The summary line also names the seeds whose two
runs report a different `attempted` count: a workload that repeats its
program call for --seconds (small_batches runs the next batch each time)
then took its medians over different work on the two sides. With --log,
every run's result JSON is appended to FILE as one line {"side", "seed",
"order", "code", "result"}.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def git(*args, env=None, capture=True):
    r = subprocess.run(["git", *args], cwd=ROOT, env=env, check=True,
                       stdout=subprocess.PIPE if capture else None, text=True)
    return r.stdout.strip() if capture else ""


def tree_of(rev, scratch):
    """A tree-ish for `rev`; WORKTREE writes the checkout into a tree object."""
    if rev != "WORKTREE":
        return git("rev-parse", "--verify", rev + "^{tree}")
    env = dict(os.environ, GIT_INDEX_FILE=os.path.join(scratch, "worktree.index"))
    git("read-tree", "HEAD", env=env)
    git("add", "-A", ".", env=env)
    return git("write-tree", env=env)


def export(rev, dest, scratch):
    tree = tree_of(rev, scratch)
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", tree], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_bench: git archive {rev} failed")
    return tree


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(side_dir, a, seed, log_dir, tag):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    out_path = os.path.join(log_dir, f"{tag}-seed{seed}.log")
    with open(out_path, "w") as out:
        p = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, stderr=out, text=True)
        out.write(p.stdout)
    last = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(last[-1]) if last else None
    return p.returncode, result


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-50 or 1,3,7-9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", help="export and log dir (default: a new temp dir)")
    ap.add_argument("--log", help="append each run's result JSON to this file")
    a = ap.parse_args()

    work = os.path.abspath(a.work or tempfile.mkdtemp(prefix="ab_bench-"))
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)
    sides = {"base": os.path.join(work, "base"), "change": os.path.join(work, "change")}
    for side, rev in (("base", a.base), ("change", a.change)):
        tree = export(rev, sides[side], work)
        print(f"[ab] {side}: {rev} (tree {tree[:12]}) -> {sides[side]}", flush=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    order_names = [m["name"] for m in bench["end_to_end"] + bench.get("per_layer", [])]

    results = {"base": {}, "change": {}}
    attempted = {"base": {}, "change": {}}
    failed = 0
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            code, res = run_once(sides[side], a, seed, logs, side)
            ok = code == 0 and res is not None and res.get("correct")
            failed += 0 if ok else 1
            metrics = {k: v["value"] for k, v in (res or {}).get("metrics", {}).items()}
            results[side][seed] = metrics if ok else None
            attempted[side][seed] = (res or {}).get("attempted")
            shown = " ".join(f"{k}={metrics[k]:.4g}" for k in
                             [m["name"] for m in bench["end_to_end"]] if k in metrics)
            shown = shown or f"({len(metrics)} metrics)"
            print(f"[ab] seed {seed} {side:6s} {'ok ' if ok else 'FAIL'} exit={code} {shown}",
                  flush=True)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "order": order.index(side),
                                        "code": code, "result": res}) + "\n")

    pairs = [s for s in results["base"]
             if results["base"][s] is not None and results["change"].get(s) is not None]
    unequal = [p for p in pairs if attempted["base"][p] != attempted["change"][p]]
    print(f"\n[ab] {a.workload}: {len(pairs)} complete pairs, {failed} failed runs, "
          f"{len(unequal)} pairs with unequal attempted"
          + (f" (seeds {','.join(map(str, unequal))})" if unequal else "")
          + f" (--seconds {a.seconds:g}, --trace {a.trace})")
    print(f"{'metric':34s} {'better':6s} {'base median':>12s} {'IQR':>9s} "
          f"{'change median':>14s} {'IQR':>9s} {'ratio':>7s}  change better/worse/equal")
    for name in order_names:
        if not pairs or any(name not in results[s][p] for s in results for p in pairs):
            continue
        b = [results["base"][p][name] for p in pairs]
        c = [results["change"][p][name] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        sign = 1 if better[name] == "higher" else -1
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
        losses = sum(1 for x, y in zip(b, c) if sign * (y - x) < 0)
        ratio = f"{cq[1] / bq[1]:.3f}" if bq[1] else "-"
        print(f"{name:34s} {better[name]:6s} {bq[1]:12.4g} {bq[2] - bq[0]:9.3g} "
              f"{cq[1]:14.4g} {cq[2] - cq[0]:9.3g} {ratio:>7s}  "
              f"{wins}/{losses}/{len(pairs) - wins - losses}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
