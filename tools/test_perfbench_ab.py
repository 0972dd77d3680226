#!/usr/bin/env python3
"""Self-test for perfbench_ab's summaries over canned run dicts (no
benchmark is run). Run from the repo root: python3 tools/test_perfbench_ab.py"""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_ab as ab  # noqa: E402

BENCH = {
    "end_to_end": [{"name": "changes_per_s", "better": "higher"},
                   {"name": "setup_s", "better": "lower"}],
    "per_layer": [{"name": "sink.jobs_per_batch", "better": "lower"},
                  {"name": "apply.statements_per_s", "better": "higher"},
                  {"name": "state.files_per_batch", "better": "lower"}],
}


def run(ok=True, **metrics):
    return {"seed": 1, "exit": 0 if ok else 1, "ok": ok,
            "metrics": {k.replace("__", "."): v for k, v in metrics.items()}}


def traced_pairs():
    # ten traced pairs: jobs 5 -> 3 in every pair; statements/s wins 8 of
    # 10; the last pair's change run failed, so it counts for neither side
    pairs = []
    for i in range(10):
        parent = run(sink__jobs_per_batch=5.0, apply__statements_per_s=100.0 + i)
        sps = 90.0 if i < 2 else 110.0 + i
        change = run(ok=i != 9, sink__jobs_per_batch=3.0, apply__statements_per_s=sps)
        pairs.append((parent, change))
    return pairs


def main():
    failures = []

    def check(cond, what):
        if not cond:
            failures.append(what)

    pairs = traced_pairs()
    by = {s["metric"]: s for s in ab.summaries(BENCH, pairs, trace=True)}
    check(set(by) == {"sink.jobs_per_batch", "apply.statements_per_s"},
          f"traced summary covers the reported per-layer metrics only: {sorted(by)}")
    jobs = by["sink.jobs_per_batch"]
    check(jobs["wins"] == 9 and jobs["losses"] == 0, f"jobs wins/losses: {jobs}")
    check(jobs["parent_median"] == 5.0 and jobs["change_median"] == 3.0, f"jobs medians: {jobs}")
    check(jobs["gain_rule"], "9 of 10 pairs won by more than the parent's IQR holds")
    sps = by["apply.statements_per_s"]
    check(sps["wins"] == 7 and sps["losses"] == 2, f"statements/s wins/losses: {sps}")
    check(not sps["gain_rule"], "7 of 10 pairs cannot meet the nine-tenths rule")

    check(ab.summaries(BENCH, pairs, trace=False) == [],
          "untraced summary holds no per-layer metric")

    plain = [(run(changes_per_s=100.0, setup_s=8.0), run(changes_per_s=120.0, setup_s=8.0))
             for _ in range(10)]
    by = {s["metric"]: s for s in ab.summaries(BENCH, plain, trace=True)}
    check(set(by) == {"changes_per_s", "setup_s"}, f"untraced runs: {sorted(by)}")
    check(by["changes_per_s"]["gain_rule"], "10 of 10 wins above a zero IQR holds")
    check(by["setup_s"]["wins"] == 0 and by["setup_s"]["losses"] == 0, "ties count for neither")

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        ab.report("title", ab.summaries(BENCH, pairs, trace=True), pairs)
    text = out.getvalue()
    check("sink.jobs_per_batch (lower is better)" in text, "report names the metric")
    check("failed or incorrect runs (pair, side): [(10, 'change')]" in text,
          f"report lists the failed run:\n{text}")

    for f in failures:
        print(f"FAIL: {f}")
    print("ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
