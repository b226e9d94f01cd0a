"""Summarises the runs left under .bench_build/results by perfbench/run.py.

  python3 perfbench/report.py

For each workload: the median of every end-to-end metric over the untraced
runs and over the traced runs, and the tracing overhead (traced median minus
untraced median, also as a share of the untraced median); then, from the
traced runs, each span's calls, median duration, median self time (duration
minus the union of its children's spans) and Spark jobs and tasks per call,
with the median taken over runs.
"""
import json
import statistics
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

END_TO_END = [m["name"] for m in json.loads(
    (build.ROOT / "BENCHMARK.json").read_text())["end_to_end"]]


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    root = build.BUILD / "results"
    if not root.is_dir():
        sys.exit("no runs under .bench_build/results")
    for wdir in sorted(p for p in root.iterdir() if p.is_dir()):
        reports = [json.loads(f.read_text()) for f in sorted(wdir.glob("*/report.json"))]
        plain = [r for r in reports if not r["trace"]]
        traced = [r for r in reports if r["trace"]]
        print(f"== {wdir.name}: {len(plain)} untraced, {len(traced)} traced runs")
        print(f"  {'metric':22s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
        for m in END_TO_END:
            u = med([r["metrics"][m] for r in plain if m in r["metrics"]])
            t = med([r["metrics"][m] for r in traced if m in r["metrics"]])
            share = f"{(t - u) / u:+.1%}" if u == u and t == t and u else ""
            print(f"  {m:22s} {u:12.4g} {t:12.4g} {t - u:+12.4g} {share}")
        layers = {}
        for r in traced:
            for row in r["notes"].get("layers", []):
                layers.setdefault(row["name"], []).append(row)
        if layers:
            print(f"  {'span':30s} {'calls':>7s} {'p50 ms':>9s} {'self p50':>9s} "
                  f"{'jobs/call':>9s} {'tasks/call':>10s}")
        for name, rows in sorted(layers.items()):
            def m(k):
                return med([x[k] for x in rows])
            print(f"  {name:30s} {m('calls'):7.0f} {m('dur_ms_p50'):9.2f} "
                  f"{m('self_ms_p50'):9.2f} {m('jobs_per_call'):9.2f} {m('tasks_per_call'):10.2f}")


if __name__ == "__main__":
    main()
