#!/usr/bin/env python3
"""Interleaved A/B of the end-to-end benchmark between two commits.

    python3 tools/perfbench_ab.py --parent HEAD~1 --change HEAD \\
        --workload lr_catchup --seeds 101,102,103 --pairs 10 [--trace]

Run it from the repository root. Each side is checked out into its own
`git worktree` in a temporary directory; pair i runs `perfbench/run.py`
(untraced, for the `run_seconds` of the parent's BENCHMARK.json) once on
each side with seed seeds[i % len(seeds)], the parent first in even
pairs and the change first in odd ones. Each side keeps its own
.bench_build cache, so the first pair also builds both jars.

Per end-to-end metric (from the parent's BENCHMARK.json) it prints the
per-pair values, each side's median and quartiles, how many pairs the
change won (ties count for neither side), and whether the gain rule
holds: the change wins at least nine tenths of the pairs and its median
beats the parent's by more than the parent's interquartile range. A run
that exits non-zero or reports `correct: false` is listed, and its pair
counts for neither side, so it still weighs against the nine tenths.

With --trace each run is traced (`--trace 1`), so both sides pay the
same tracing cost and the pairs compare like with like; a traced run
reports the `per_layer` metrics, which are then summarized under the
same rule. Metrics that no run reported are left out of the summary.

The worktrees are removed at the end, also when a run fails or the tool
is interrupted, and no benchmark process is left running. A change that
exists only in the working tree can be measured through a commit object
that does not move HEAD: `git add -A && git stash create`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


class Run:
    """One `perfbench/run.py` child; terminate() stops it and waits."""
    current = None

    @staticmethod
    def once(tree, workload, seed, seconds, trace=False):
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "1" if trace else "0"]
        proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
        Run.current = proc
        out, _ = proc.communicate()
        Run.current = None
        lines = [l for l in out.splitlines() if l.startswith("{")]
        result = json.loads(lines[-1]) if lines else None
        ok = proc.returncode == 0 and result is not None and result.get("correct") is True
        metrics = {k: v["value"] for k, v in result["metrics"].items()} if result else {}
        return {"seed": seed, "exit": proc.returncode, "ok": ok, "metrics": metrics}

    @staticmethod
    def terminate():
        p = Run.current
        if p is not None and p.poll() is None:
            # run.py stops its JVM on SIGTERM (killing it after 20 s)
            p.terminate()
            try:
                p.wait(timeout=40)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def summarize(metric, better, pairs):
    """pairs: [(parent run, change run)] -> summary dict for one metric."""
    rows, wins, losses = [], 0, 0
    for p, c in pairs:
        a, b = p["metrics"].get(metric), c["metrics"].get(metric)
        rows.append((a, b))
        if not (p["ok"] and c["ok"]) or a is None or b is None:
            continue
        if a != b:
            if (b < a) == (better == "lower"):
                wins += 1
            else:
                losses += 1
    pv = [a for (a, _), (p, _) in zip(rows, pairs) if a is not None and p["ok"]]
    cv = [b for (_, b), (_, c) in zip(rows, pairs) if b is not None and c["ok"]]
    out = {"metric": metric, "better": better, "pairs": rows, "wins": wins,
           "losses": losses, "n": len(pairs)}
    if pv and cv:
        pm, cm = statistics.median(pv), statistics.median(cv)
        pq, cq = quartiles(pv), quartiles(cv)
        gain = (cm - pm) if better == "higher" else (pm - cm)
        out.update(parent_median=pm, parent_q=pq, change_median=cm, change_q=cq,
                   gain_rule=wins * 10 >= 9 * len(pairs) and gain > pq[1] - pq[0])
    return out


def summaries(bench, pairs, trace):
    """One summary per metric of `bench` (the parent's BENCHMARK.json) that
    some run reported: the end-to-end metrics, and with `trace` also the
    per-layer ones."""
    metrics = bench["end_to_end"] + (bench["per_layer"] if trace else [])
    reported = {k for pr in pairs for r in pr for k in r["metrics"]}
    return [summarize(m["name"], m["better"], pairs) for m in metrics if m["name"] in reported]


def fmt(x):
    return "-" if x is None else f"{x:.6g}"


def report(title, summary, pairs):
    print(title)
    for s in summary:
        print(f"\n{s['metric']} ({s['better']} is better)")
        print("  pair  parent        change")
        for i, (p, c) in enumerate(s["pairs"]):
            print(f"  {i + 1:>4}  {fmt(p):<12}  {fmt(c)}")
        if "parent_median" in s:
            print(f"  parent median {fmt(s['parent_median'])} "
                  f"[q1 {fmt(s['parent_q'][0])}, q3 {fmt(s['parent_q'][1])}]; "
                  f"change median {fmt(s['change_median'])} "
                  f"[q1 {fmt(s['change_q'][0])}, q3 {fmt(s['change_q'][1])}]")
        print(f"  change won {s['wins']} of {s['n']} pairs, lost {s['losses']}; "
              f"gain rule {'holds' if s.get('gain_rule') else 'does not hold'}")
    failed = [(i + 1, side) for i, pr in enumerate(pairs)
              for side, r in zip(("parent", "change"), pr) if not r["ok"]]
    if failed:
        print(f"\nfailed or incorrect runs (pair, side): {failed}")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="commit-ish of the parent side")
    ap.add_argument("--change", required=True, help="commit-ish of the change side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds, used in turn")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", action="store_true",
                    help="trace every run and summarize the per-layer metrics too")
    a = ap.parse_args(argv)
    seeds = [int(s) for s in a.seeds.split(",") if s]
    repo = git("rev-parse", "--show-toplevel")
    shas = {"parent": git("rev-parse", a.parent + "^{commit}", cwd=repo),
            "change": git("rev-parse", a.change + "^{commit}", cwd=repo)}
    base = tempfile.mkdtemp(prefix="perfbench-ab-")
    trees = {}

    def cleanup(*_):
        Run.terminate()
        for t in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", t], cwd=repo,
                           capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=repo, capture_output=True)
        shutil.rmtree(base, ignore_errors=True)

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        for side, sha in shas.items():
            trees[side] = os.path.join(base, side)
            git("worktree", "add", "--detach", trees[side], sha, cwd=repo)
        with open(os.path.join(trees["parent"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        seconds = bench["run_seconds"]
        pairs = []
        for i in range(a.pairs):
            seed = seeds[i % len(seeds)]
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for side in order:
                got[side] = Run.once(trees[side], a.workload, seed, seconds, a.trace)
                r = got[side]
                shown = "sink.batch_ms_p50" if a.trace else "changes_per_s"
                print(f"pair {i + 1} seed {seed} {side}: exit {r['exit']} ok {r['ok']} "
                      f"{shown} {fmt(r['metrics'].get(shown))}", flush=True)
            pairs.append((got["parent"], got["change"]))
        summary = summaries(bench, pairs, a.trace)
    finally:
        cleanup()

    report(f"\n{a.workload}: parent {shas['parent'][:10]} vs change {shas['change'][:10]}, "
           f"{a.pairs} pairs, {seconds} s runs{', traced' if a.trace else ''}, seeds {a.seeds}",
           summary, pairs)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
