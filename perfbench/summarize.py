#!/usr/bin/env python3
"""Summarise the run records `run.py` keeps into `perfbench/results/`.

Usage: python3 perfbench/summarize.py

Reads `perfbench/out/runs/*.json` and writes:
  results/runs.jsonl     one line per untraced run: workload, seed, result
                         line and the per-operation latency series
  results/traced/        each workload's traced run record and span file
  results/summary.json   per workload and end-to-end metric: the values,
                         median, quartiles and spread (quartile distance
                         over median); the tracing overhead; and the trend
                         of the timed per-operation series
"""
import glob
import json
import os
import shutil
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "results")


def slope(xs, ys):
    mx, my = statistics.mean(xs), statistics.mean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


def trend(runs):
    """Least-squares slope of latency, normalised per query name, against
    the operation's position in its run; as the relative change from the
    first to the last position."""
    by_name = {}
    for r in runs:
        for o in r["ops"]:
            if not o.get("compact_s"):
                by_name.setdefault(o["name"], []).append(o["latency_s"])
    med = {k: statistics.median(v) for k, v in by_name.items()}
    xs, ys, span = [], [], 0
    for r in runs:
        ops = [o for o in r["ops"] if not o.get("compact_s")]
        for pos, o in enumerate(ops):
            xs.append(pos)
            ys.append(o["latency_s"] / med[o["name"]])
        span = max(span, len(ops) - 1)
    return {"relative_change_over_positions": slope(xs, ys) * span, "positions": span + 1,
            "samples": len(xs)}


def main():
    recs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(HERE, "out", "runs", "*.json")))]
    os.makedirs(os.path.join(OUT, "traced"), exist_ok=True)
    summary = {}
    with open(os.path.join(OUT, "runs.jsonl"), "w") as f:
        for r in recs:
            if r["trace"]:
                continue
            f.write(json.dumps({
                "workload": r["workload"], "seed": r["seed"], "setup_s": r["setup_s"],
                "result": {k: r[k] for k in ("correct", "attempted", "failed", "metrics")},
                "ops": [[o["name"], round(o["latency_s"], 6)] for o in r["ops"]]}) + "\n")
    for w in sorted({r["workload"] for r in recs}):
        plain = [r for r in recs if r["workload"] == w and not r["trace"]]
        traced = [r for r in recs if r["workload"] == w and r["trace"]]
        s = {"runs": len(plain), "seeds": [r["seed"] for r in plain],
             "correct": all(r["correct"] for r in plain),
             "failed": sum(r["failed"] for r in plain),
             "attempted": sum(r["attempted"] for r in plain), "metrics": {}}
        for m in plain[0]["metrics"] if plain else []:
            vals = [r["metrics"][m]["value"] for r in plain]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            s["metrics"][m] = {"unit": plain[0]["metrics"][m]["unit"], "median": med,
                               "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med,
                               "values": vals}
        if plain:
            s["trend"] = trend(plain)
            s["op_tail_pct"] = sorted({r["op_tail_pct"] for r in plain})
        for t in traced:
            name = f"{w}-s{t['seed']}"
            for c in t["checks"].get("compactions", []):  # snapshot paths, relative to the repo
                for k in ("before", "after"):
                    c[k] = os.path.relpath(c[k], os.path.dirname(HERE))
            with open(os.path.join(OUT, "traced", f"{name}.json"), "w") as f:
                json.dump(t, f, indent=1)
            spans = os.path.join(HERE, "out", "runs", f"{w}-s{t['seed']}-t1.spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(OUT, "traced", f"{name}.spans.jsonl"))
            if plain:
                base = s["metrics"]["op_p50_s"]["median"]
                s["tracing_overhead"] = {
                    "traced_op_p50_s": t["metrics"]["trace.op_p50_s"]["value"],
                    "untraced_median_op_p50_s": base,
                    "relative": t["metrics"]["trace.op_p50_s"]["value"] / base - 1}
        summary[w] = s
    with open(os.path.join(OUT, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for w, s in summary.items():
        print(w, {m: round(v["spread"], 4) for m, v in s["metrics"].items()})


if __name__ == "__main__":
    main()
