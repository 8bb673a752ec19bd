#!/usr/bin/env python3
"""Parent/change A/B runner for perfbench.

    python3 scripts/perfbench_ab.py ab --base REV --change REV --root DIR \
        --workload catalog --seeds 1-10 [--trace-seed 1]
    python3 scripts/perfbench_ab.py spans BASE.spans.jsonl CHANGE.spans.jsonl
    python3 scripts/perfbench_ab.py gc --base REV --change REV --root DIR \
        --workload ingest --seed 1

`ab` exports the two git revisions (any tree-ish: a commit, or the tree of
the index from `git write-tree`) with `git archive` into fresh directories
`DIR/base` and `DIR/change`. Nothing outside the revision is copied: no
`target/`, whose incremental-compiler state holds absolute paths, so a
build in a copied checkout can rewrite the original's classes. Each side is
then built once with `sbt writeClasspath` in its `perfbench/`, so the build
is not charged to `run.py`'s run time limit. Then it runs one pair of
`perfbench/run.py` runs per seed, the side that goes first alternating
from pair to pair, and prints, for every end-to-end metric of the base's
`BENCHMARK.json`, each side's median and Q1-Q3 and the number of pairs the
change won. With `--trace-seed S` it finally runs one `--trace 1` run per
side and keeps both run records and span files in `DIR/traced/`.

Every run's result line is appended to `DIR/runs.jsonl` with the resolved
base and change revisions; a rerun with the same `DIR` and the same two
revisions skips the (side, seed) runs already recorded there, so an
interrupted A/B resumes where it stopped. Records of other revisions are
neither skipped nor reported.

`spans` turns two traced span files into a table, base vs change. For
`catalog` it is per query: `build()` jobs, `build()` ms and action ms
(medians over the query's timed operations). For `ingest` it is per
operation kind (`ingest`, `compact`): the median jobs, stages, tasks and
wall ms of one operation.

`gc` makes one untraced run per side (same export and build as `ab`) with
`JAVA_TOOL_OPTIONS=-Xlog:gc,gc+heap,gc+humongous=debug`; `run.py` passes
its environment on to the benchmark JVM and keeps that JVM's output as
`perfbench/out/runs/<run id>.log`. `gc` copies both logs to `DIR/gc/` and
prints, for every collection of the timed loop (after the reset's
`System.gc()`, up to the last `op` line), the humongous objects left live,
grouped by object size, then per size how many collections it outlived.

Reads perfbench's output only; changes nothing under `perfbench/`.
"""
import argparse
import collections
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")
GC_LOG = "-Xlog:gc,gc+heap,gc+humongous=debug"
HUMONGOUS = re.compile(r"GC\((\d+)\) (Reclaimed )?[Hh]umongous region (\d+) \(object size (\d+) ")


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def export(rev, dest):
    """`git archive` of `rev` into a fresh `dest`."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], cwd=REPO, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def prebuild(side_dir):
    t0 = time.time()
    with open(os.path.join(side_dir, "ab-build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=os.path.join(side_dir, "perfbench"), stdout=out,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.exit(f"build failed in {side_dir}; see {side_dir}/ab-build.log")
    log(f"built {side_dir} in {time.time() - t0:.0f} s")


def run_one(side_dir, workload, seed, seconds, trace, env=None):
    """One run.py run; its result line (or None when it printed none)."""
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       env=env)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return res, time.time() - t0


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q1, q2, q3


def report(records, metrics, workload):
    """Per-metric medians, Q1-Q3 and pairs won, as a markdown table."""
    by = {(r["side"], r["seed"]): r for r in records if r["workload"] == workload}
    seeds = sorted(s for s in {r["seed"] for r in by.values()}
                   if all((side, s) in by for side in SIDES))
    rows = [f"{workload}: {len(seeds)} pairs, seeds {','.join(map(str, seeds))}", "",
            "| metric | base median (Q1-Q3) | change median (Q1-Q3) | change/base | change won |",
            "|---|---|---|---|---|"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [tuple(by[(side, s)]["result"]["metrics"][name]["value"] for side in SIDES)
                 for s in seeds if all(by[(side, s)]["result"] for side in SIDES)]
        if not pairs:
            continue
        qb, qc = (quartiles([p[k] for p in pairs]) for k in (0, 1))
        won = sum(1 for b, c in pairs if (c < b if lower else c > b))  # ties win nothing
        rows.append(f"| {name} | {qb[1]:.4g} ({qb[0]:.4g}-{qb[2]:.4g}) | "
                    f"{qc[1]:.4g} ({qc[0]:.4g}-{qc[2]:.4g}) | {qc[1] / qb[1]:.3f} | "
                    f"{won}/{len(seeds)} |")
    for side in SIDES:
        rs = [by[(side, s)] for s in seeds]
        rows.append("")
        rows.append(f"{side}: {sum(1 for r in rs if r['result'] is None)} runs without a result, "
                    f"failed ops {sum(r['result']['failed'] for r in rs if r['result'])}, "
                    f"correct {sum(1 for r in rs if r['result'] and r['result']['correct'])}"
                    f"/{len(rs)}, run wall median {statistics.median(r['wall_s'] for r in rs):.0f} s")
    return "\n".join(rows)


def prepare(a):
    """Both sides exported and built under `a.root` (again only when the
    revision changed); (root, side dirs, resolved revisions, BENCHMARK.json)."""
    root = os.path.abspath(a.root)
    os.makedirs(root, exist_ok=True)
    dirs = {side: os.path.join(root, side) for side in SIDES}
    revs = {side: subprocess.run(["git", "rev-parse", rev], cwd=REPO, check=True,
                                 capture_output=True, text=True).stdout.strip()
            for side, rev in (("base", a.base), ("change", a.change))}
    for side in SIDES:
        stamp = os.path.join(dirs[side], ".ab-rev")
        if not (os.path.exists(stamp) and open(stamp).read() == revs[side]):
            export(revs[side], dirs[side])
            prebuild(dirs[side])
            with open(stamp, "w") as f:
                f.write(revs[side])
    with open(os.path.join(dirs["base"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    return root, dirs, revs, bench


def ab(a):
    root, dirs, revs, bench = prepare(a)
    runs_path = os.path.join(root, "runs.jsonl")
    done = []
    if os.path.exists(runs_path):
        with open(runs_path) as f:
            done = [r for r in map(json.loads, filter(str.strip, f))
                    if (r.get("base_rev"), r.get("change_rev")) == (revs["base"], revs["change"])]
    have = {(r["workload"], r["side"], r["seed"]) for r in done}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            if (a.workload, side, seed) in have:
                continue
            res, wall = run_one(dirs[side], a.workload, seed, bench["run_seconds"], 0)
            rec = {"workload": a.workload, "side": side, "seed": seed, "pair": i,
                   "first": order[0], "base_rev": revs["base"], "change_rev": revs["change"],
                   "wall_s": round(wall, 1), "result": res}
            done.append(rec)
            with open(runs_path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            log(f"{a.workload} seed {seed} {side}: "
                + (f"op_p50_s {res['metrics']['op_p50_s']['value']:.4f}, failed {res['failed']}"
                   if res else "no result") + f", {wall:.0f} s")
    if a.trace_seed is not None:
        traced = os.path.join(root, "traced")
        os.makedirs(traced, exist_ok=True)
        for side in SIDES:
            res, wall = run_one(dirs[side], a.workload, a.trace_seed, bench["run_seconds"], 1)
            log(f"traced {side}: {'ok' if res else 'no result'}, {wall:.0f} s")
            run_id = f"{a.workload}-s{a.trace_seed}-t1"
            for ext in (".json", ".spans.jsonl"):
                src = os.path.join(dirs[side], "perfbench", "out", "runs", run_id + ext)
                if os.path.exists(src):
                    shutil.copy(src, os.path.join(traced, f"{side}-{run_id}{ext}"))
    print(report(done, bench["end_to_end"], a.workload))


def top_spans(path):
    """All spans of a span file, and its operations' top-level spans by id."""
    with open(path) as f:
        sp = [json.loads(line) for line in f if line.strip()]
    return sp, {s["id"]: s for s in sp if s["parent"] == 0 and s["op"] >= 0}


def spans(a):
    """Catalog: per-query medians of build() jobs, build() ms and action ms.
    Ingest: per-operation-kind medians of jobs, stages, tasks and wall ms."""
    b, c = top_spans(a.base_spans), top_spans(a.change_spans)
    if {s["name"] for s in b[1].values()} <= {"ingest", "compact"}:
        return ingest_spans(b[1], c[1])

    def per_query(sp, tops):
        acc = {}
        for s in sp:
            top = tops.get(s["parent"])
            if top is None or s["name"] not in ("build", "action"):
                continue
            d = acc.setdefault(top["name"], {}).setdefault(top["op"], {})
            d[s["name"] + "_ms"] = (s["end_ns"] - s["start_ns"]) / 1e6
            d[s["name"] + "_jobs"] = s["jobs"]
        return {q: {k: statistics.median(op[k] for op in ops.values())
                    for k in ("build_jobs", "build_ms", "action_ms")}
                for q, ops in acc.items()}
    b, c = per_query(*b), per_query(*c)
    with open(os.path.join(REPO, "perfbench", "catalog.json")) as f:
        heavy = {q["name"] for q in json.load(f)["queries"] if q.get("heavy")}
    print("(heavy: marked `heavy` in perfbench/catalog.json)")
    print()
    print("| query | build jobs base | build jobs change | build ms base | build ms change "
          "| action ms base | action ms change |")
    print("|---|---|---|---|---|---|---|")
    for q in sorted(set(b) & set(c)):
        print(f"| {q}{' (heavy)' if q in heavy else ''} | {b[q]['build_jobs']:g} | {c[q]['build_jobs']:g} | {b[q]['build_ms']:.0f} "
              f"| {c[q]['build_ms']:.0f} | {b[q]['action_ms']:.0f} | {c[q]['action_ms']:.0f} |")


def ingest_spans(b, c):
    """One row per operation kind; each cell `base -> change`."""
    def med(tops, name, value):
        xs = [value(s) for s in tops.values() if s["name"] == name]
        return statistics.median(xs) if xs else float("nan")
    cols = (("jobs", lambda s: s["jobs"]), ("stages", lambda s: s["stages"]),
            ("tasks", lambda s: s["tasks"]),
            ("wall ms", lambda s: (s["end_ns"] - s["start_ns"]) / 1e6))
    print("| op | ops base -> change | " + " | ".join(f"{k} base -> change" for k, _ in cols) + " |")
    print("|---|---|" + "---|" * len(cols))
    for name in ("ingest", "compact"):
        n = [sum(1 for s in t.values() if s["name"] == name) for t in (b, c)]
        print(f"| {name} | {n[0]} -> {n[1]} | " + " | ".join(
            f"{med(b, name, f):.4g} -> {med(c, name, f):.4g}" for _, f in cols) + " |")


def humongous_survivors(jvm_log):
    """{collection id: Counter(object size -> objects)}: the humongous
    objects each collection of the timed loop left live. The loop starts
    after the last `Pause Full (System.gc())` before the first `op` line
    (perfbench's reset) and ends at the last `op` line."""
    with open(jvm_log, errors="replace") as f:
        lines = f.read().splitlines()
    ops = [i for i, line in enumerate(lines) if line.startswith("op ")]
    if not ops:
        return {}
    start = max((i for i in range(ops[0]) if "Pause Full (System.gc())" in lines[i]), default=0)
    listed, reclaimed = {}, {}
    for line in lines[start:ops[-1] + 1]:
        m = HUMONGOUS.search(line)
        if m:
            (reclaimed if m[2] else listed).setdefault(int(m[1]), {})[int(m[3])] = int(m[4])
    return {gc_id: collections.Counter(size for region, size in regions.items()
                                       if region not in reclaimed.get(gc_id, {}))
            for gc_id, regions in sorted(listed.items())}


def gc(a):
    """One run per side with G1's humongous-object log; survivors per collection."""
    root, dirs, _, bench = prepare(a)
    out = os.path.join(root, "gc")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, JAVA_TOOL_OPTIONS=GC_LOG)
    run_id = f"{a.workload}-s{a.seed}-t0"
    for side in SIDES:
        res, _ = run_one(dirs[side], a.workload, a.seed, bench["run_seconds"], 0, env)
        pb_out = os.path.join(dirs[side], "perfbench", "out")
        log_path = os.path.join(pb_out, "runs", run_id + ".log")
        if res is None:  # run.py stopped before keeping the log; it is still in work/
            log_path = os.path.join(pb_out, "work", run_id, "jvm.log")
        kept = os.path.join(out, f"{side}-{run_id}.jvm.log")
        shutil.copy(log_path, kept)
        surv = humongous_survivors(kept)
        heap = f"{res['metrics']['heap_peak_mb']['value']:.0f} MB" if res else "no result"
        print(f"## {side}: heap_peak_mb {heap}, {len(surv)} collections in the timed loop "
              f"({kept})")
        for gc_id, sizes in surv.items():
            print(f"GC({gc_id}): " + (", ".join(f"{n} x {size} B ({size / 1048576:.1f} MiB)"
                                                for size, n in sorted(sizes.items()))
                                      or "none live"))
        for size in sorted({size for sizes in surv.values() for size in sizes}):
            per = [sizes.get(size, 0) for sizes in surv.values()]
            print(f"size {size} B: live after {sum(1 for n in per if n)} of {len(per)} "
                  f"collections, median {statistics.median(per):g}, max {max(per)}")
        print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("ab")
    p.add_argument("--base", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--root", required=True, help="scratch directory for both checkouts")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    p.add_argument("--trace-seed", type=int)
    p.set_defaults(fn=ab)
    p = sub.add_parser("spans")
    p.add_argument("base_spans")
    p.add_argument("change_spans")
    p.set_defaults(fn=spans)
    p = sub.add_parser("gc")
    p.add_argument("--base", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--root", required=True, help="scratch directory for both checkouts")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.set_defaults(fn=gc)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
