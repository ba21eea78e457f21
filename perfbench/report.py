"""Renders benchmark result JSON files as a Markdown report.

    python3 perfbench/report.py [result.json ...]

With no arguments it reads every .bench_build/results/*.json (span files
excluded). Runs of the same workload and trace setting are grouped: with
one run each metric is shown as measured; with several, the median, the
first and third quartiles and the quartile spread as a share of the
median (the steadiness figure the benchmark's bounds are checked
against). Every number comes from the result files; none is typed in.
"""

import json
import pathlib
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def load(paths):
    runs = []
    for p in paths:
        r = json.loads(pathlib.Path(p).read_text())
        r["_file"] = pathlib.Path(p).name
        runs.append(r)
    return runs


def fmt(v):
    if v is None:
        return "n/a"
    if v == 0 or 1e-3 <= abs(v) < 1e6:
        return f"{v:.4g}"
    return f"{v:.3e}"


def one_run(r):
    out = [f"### {r['workload']} seed {r['seed']} "
           f"({'traced' if r['trace'] else 'untraced'}, {r['seconds']:g} s, "
           f"{r['clients']} client, local[{r['cores']}])", "",
           f"Ops attempted {r['attempted']}, failed {r['failed']}.", ""]
    out += ["| metric | value | unit | n |", "|---|---:|---|---:|"]
    out += [f"| {k} | {fmt(m['value'])} | {m['unit']} | {m['n']} |"
            for k, m in r["metrics"].items()]
    if r["failures"]:
        out += ["", "Failed ops:", ""]
        out += [f"- `{f['op']}`: {f['detail']}" for f in r["failures"]]
    if r["trace"] and r["self_time_ms"]:
        out += ["", "| layer | self ms | spans |", "|---|---:|---:|"]
        out += [f"| {l} | {fmt(s['self_ms'])} | {s['spans']} |"
                for l, s in sorted(r["self_time_ms"].items())]
    out += ["", "| call | n | median ms | total ms |", "|---|---:|---:|---:|"]
    out += [f"| {c['kind']} | {c['n']} | {fmt(c['median_ms'])} | "
            f"{fmt(c['total_ms'])} |" for c in r["calls"]]
    return out


def many_runs(runs):
    r0 = runs[0]
    seeds = ", ".join(str(r["seed"]) for r in runs)
    failed = sum(r["failed"] for r in runs)
    attempted = sum(r["attempted"] for r in runs)
    out = [f"### {r0['workload']} ({'traced' if r0['trace'] else 'untraced'}), "
           f"{len(runs)} runs, seeds {seeds}", "",
           f"Ops attempted {attempted}, failed {failed}.", "",
           "| metric | unit | median | q1 | q3 | (q3-q1)/median |",
           "|---|---|---:|---:|---:|---:|"]
    for k, m in r0["metrics"].items():
        vals = [r["metrics"][k]["value"] for r in runs
                if r["metrics"].get(k, {}).get("value") is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else None
        out.append(f"| {k} | {m['unit']} | {fmt(med)} | {fmt(q1)} | {fmt(q3)} "
                   f"| {fmt(spread)} |")
    for r in runs:
        out += [f"- seed {r['seed']}: `{f['op']}`: {f['detail']}"
                for f in r["failures"]]
    return out


def main(paths):
    if not paths:
        paths = sorted(p for p in (ROOT / ".bench_build" / "results").glob("*.json")
                       if not p.name.endswith("-spans.json"))
    groups = {}
    for r in load(paths):
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    lines = ["# Benchmark report", ""]
    for key in sorted(groups):
        runs = sorted(groups[key], key=lambda r: r["seed"])
        lines += (one_run(runs[0]) if len(runs) == 1 else many_runs(runs)) + [""]
    print("\n".join(lines))


if __name__ == "__main__":
    main(sys.argv[1:])
