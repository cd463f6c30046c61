"""Summarize recorded runs of the benchmark into a markdown table.

    python3 perfbench/summarize.py <results dir>

The results directory holds one sub-directory per set of runs, each filled
by `run.py --record <dir>` (`<workload>-seed<n>-trace<t>.json`, plus
`.spans.json` for traced runs). For every set of untraced runs it prints
the median and the spread (interquartile range over the runs as a share of
their median, as `statistics.quantiles(values, n=4)` gives it) of each
end-to-end metric, and how far each later set's median lies from the
first set's, in the direction that is worse; also two ungated wall-clock
figures: the throughput, input rows over each run's median op wall time,
and the set-up wall time. For traced runs it prints
the exact counts, the span self times, every non-zero per-layer metric and
the checks.
"""

import glob
import json
import os
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
COUNTS = ["functions.rows", "functions.ok_rows", "ops.candidate_pairs", "ops.verified_pairs",
          "runtime.resume_skipped_shards", "temporal.leaked_rows"]


def load(d):
    return [json.load(open(f)) for f in sorted(glob.glob(os.path.join(d, "*-trace*.json")))
            if not f.endswith(".spans.json")]


def spread(v):
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return (q[2] - q[0]) / statistics.median(v)


def main():
    root = sys.argv[1]
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = {os.path.basename(d): load(d) for d in sorted(glob.glob(os.path.join(root, "*")))
            if os.path.isdir(d)}
    out = []
    first = {}
    for name, recs in sets.items():
        plain = [r for r in recs if r["trace"] == 0]
        if not plain:
            continue
        env = plain[0]["env"]
        out += [f"## Set `{name}`: untraced runs", "",
                f"{env['nproc']} vCPUs ({env['cpu']}), {env['mem_total_gb']} GB, {env['jvm']}, "
                f"heap {env['heap']}, Python {env['python']}.", "",
                "| workload | metric | median | IQR / median | bound | vs first set (worse +) | seeds |",
                "|---|---|---|---|---|---|---|"]
        listed = [x["name"] for x in spec["workloads"]]
        for w in listed + sorted({r["workload"] for r in plain} - set(listed)):
            rs = [r for r in plain if r["workload"] == w]
            if not rs:
                continue
            wall = [{"name": "rows_per_s (wall, ungated)", "unit": "1/s", "better": "higher",
                     "bound": "none"},
                    {"name": "setup wall (ungated)", "unit": "s", "better": "lower",
                     "bound": "none"}]
            for r in rs:
                x = r["extra"]
                r["metrics"][wall[0]["name"]] = {
                    "value": x["rows"] / statistics.median(x["op_wall_s"])}
                r["metrics"][wall[1]["name"]] = {"value": x["setup_wall_s"]}
            for m in spec["end_to_end"] + wall:
                v = [r["metrics"][m["name"]]["value"] for r in rs]
                med = statistics.median(v)
                key = (w, m["name"])
                sign = 1 if m["better"] == "lower" else -1
                drift = f"{sign * (med / first[key] - 1):+.3f}" if key in first else "-"
                first.setdefault(key, med)
                out.append(f"| {w} | {m['name']} ({m['unit']}) | {med:.5g} | {spread(v):.3f} | "
                           f"{m['bound']} | {drift} | {len(rs)} ({min(r['seed'] for r in rs)}-"
                           f"{max(r['seed'] for r in rs)}) |")
        out.append("")
    for name, recs in sets.items():
        for r in [r for r in recs if r["trace"] == 1]:
            x, m = r["extra"], r["metrics"]
            spans = os.path.join(root, name, f"{r['workload']}-seed{r['seed']}-trace1.spans.json")
            ops = [s for s in json.load(open(spans)) if s["name"] == "bench.op"]
            share = statistics.median(s["task_cpu_s"] / s["cpu_s"] for s in ops)
            out += [f"## Set `{name}`: {r['workload']}, seed {r['seed']}, traced", "",
                    f"Untraced op {x['op_wall_s']:.3f} s, traced op {x['traced_op_wall_s']:.3f} s "
                    f"(`trace.overhead_frac` {m['trace.overhead_frac']['value']:.3f}); "
                    f"task CPU is {share:.2f} of the traced op's CPU (median over ops). "
                    "Exact counts: " + (", ".join(
                        f"`{k}` {int(m[k]['value'])}" for k in COUNTS if m[k]["value"] != 0
                        or k == "temporal.leaked_rows" and m["temporal.asof_s"]["value"] > 0)
                        or "none")
                    + ".", "",
                    "Median self time per span: " + ", ".join(
                        f"`{k}` {v:.3f} s" for k, v in sorted(x["span_self_s"].items())) + ".", "",
                    ", ".join(f"`{k}` {v['value']:.4g} {v['unit']}" for k, v in m.items()
                              if v["value"] != 0), "",
                    "Checks: " + ", ".join(f"{c['name']} {'ok' if c['ok'] else 'FAILED'} "
                                           f"({c['detail']})" for c in x["checks"]) + ".", ""]
    print("\n".join(out))


if __name__ == "__main__":
    main()
