#!/usr/bin/env python3
"""Benchmark of the scoring engine: `score`, `catalog` and `ingest`.

Usage (from the repository root):
    python3 perfbench/run.py --workload score --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source with sbt on first
use, generates the workload's inputs from the seed, runs one JVM that
warms up and then drives a closed loop (one client, one operation at a
time) for `--seconds`, checks the outputs untimed, and prints one JSON
line with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The
metric definitions are in README.md beside this file.

Exits non-zero, printing no result, when the engine sources are missing,
the build fails or the run does not finish in time.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# score workload input: 500 k events over 10 k entities
SCORE_EVENTS, SCORE_ENTITIES = 500_000, 10_000
# the catalog workload runs over the engine's sf0.01 test data, kept
# byte-for-byte in data/sf0.01 so that a run reads only its own checkout
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def run_bounded(cmd, cwd, limit_s, log_path, env=None):
    """Run `cmd` to completion or until `limit_s`; a process that overruns
    is killed with its whole process group and waited for."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def classpath():
    """Build with sbt when the classpath is missing or older than a source."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [f for pat in ("src/main/**/*.scala", "build.sbt", "perfbench/src/**/*.scala",
                             "perfbench/build.sbt")
               for f in glob.glob(os.path.join(ROOT, pat), recursive=True)]
    if not os.path.exists(cp_file) or \
            os.path.getmtime(cp_file) < max(os.path.getmtime(f) for f in sources):
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        log("building engine and benchmark program with sbt")
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, BUILD_LIMIT_S, os.path.join(HERE, "out", "build.log"))
        if rc != 0 or not os.path.exists(cp_file):
            fail("build failed; see perfbench/out/build.log", 3)
    with open(cp_file) as f:
        return f.read().strip()


def table_manifest(data_dir):
    """Rows and bytes of each catalogue table, read from its files."""
    import pyarrow.parquet as pq
    tables = {}
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        tables[os.path.basename(p)[:-8]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                                            "bytes": os.path.getsize(p)}
    return {"dir": os.path.relpath(data_dir, ROOT), "tables": tables}


def fingerprint(parquet_dir):
    """Row count and an order-free hash of every row (all columns, in name
    order) of the parquet files in `parquet_dir`."""
    import duckdb
    files = f"'{parquet_dir}/*.parquet'"
    cols = ", ".join(f'"{c}"' for c in sorted(duckdb.sql(f"SELECT * FROM {files}").columns))
    return duckdb.sql(f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {files}").fetchone()


def tail_pct(lat):
    """Highest percentile with at least ten samples beyond it."""
    xs = sorted(lat)
    k = max(0, len(xs) - 11)
    return xs[k], 100.0 * (k + 1) / len(xs)


def oracle_rows(con, co, sql, data_key):
    """The oracle's canonical rows and columns. They are kept per SQL text
    and input files under out/oracle, so that an oracle over unchanged
    inputs (every catalog run) is computed once per checkout."""
    path = os.path.join(HERE, "out", "oracle",
                        hashlib.sha1((sql + data_key).encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            rows, cols = json.load(f)
        return [tuple(r) for r in rows], cols
    rel = con.sql(sql)
    rows, cols = co.table_rows(rel, rel.columns)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump([rows, cols], f)
    os.replace(path + ".tmp", path)
    return rows, cols


def oracle_compare(data_dir, check_dir, oracles, ops):
    """Compare each output under `check_dir` with its DuckDB oracle, using
    the canonicalisation of scripts/check_oracle.py. Returns per-query
    status and row counts."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    data_key = hashlib.sha1()
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
        with open(p, "rb") as f:
            data_key.update(f.read())
    status = {}
    for name in sorted({o["name"] for o in ops}):
        out = f"{check_dir}/{name}"
        if not glob.glob(f"{out}/*.parquet"):
            status[name] = {"status": "no output", "rows": None}
            continue
        srel = con.sql(f"SELECT * FROM '{out}/*.parquet'")
        srows, scols = co.table_rows(srel, srel.columns)
        if name not in oracles:
            status[name] = {"status": "completed (no oracle)", "rows": len(srows)}
            continue
        try:
            orows, ocols = oracle_rows(con, co, oracles[name], data_key.hexdigest())
            same = scols == ocols and srows == orows
            status[name] = {"status": "pass" if same else "FAIL", "rows": len(srows)}
        except Exception as e:  # an oracle that does not run is a failed check
            status[name] = {"status": f"FAIL: oracle error {e}", "rows": len(srows)}
    return status


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["score", "catalog", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found: run from the repository root", 2)
    cp = classpath()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, "out", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "jvm")
    os.makedirs(out)
    t_setup = time.time()
    extra = []
    if a.workload == "score":
        inputs = gen.write_events(data, a.seed, SCORE_EVENTS, SCORE_ENTITIES)
    elif a.workload == "catalog":
        data = CATALOG_DATA
        inputs = table_manifest(data)
        with open(os.path.join(HERE, "catalog.json")) as f:
            catalog = json.load(f)["queries"]
        extra = [os.path.join(work, "queries.txt")]
        with open(extra[0], "w") as f:
            f.write("\n".join(f"{q['name']} {q['family']} {'heavy' if q.get('heavy') else '-'}"
                              for q in catalog))
    else:
        inputs = {"seed": a.seed}  # filings are generated in the JVM from the seed
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    # a fixed heap, so that every run's operations and its heap peak see
    # the same heap size whatever G1 would otherwise grow or shrink it to;
    # a fixed young generation, so that collections come often (every
    # second or so) and the heap peak samples the operations many times,
    # not the two to four times a young generation of G1's own sizing gave
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn256m", "-XX:ReservedCodeCacheSize=512m", *ADD_OPENS,
           "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
           str(a.trace), data, out, *extra]
    t_jvm = time.time()
    rc = run_bounded(cmd, work, RUN_LIMIT_S - (time.time() - t_start),
                     os.path.join(work, "jvm.log"), env)
    if rc != 0:
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
             f"see {work}/jvm.log", 4)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["inputs"] = inputs
    t_check = time.time()

    ops = res["ops"]
    lat = [o["latency_s"] for o in ops]
    bad = {o["i"] for o in ops if not o["ok"]}
    chk = res["checks"]
    # ---- output checks (untimed) -------------------------------------
    if a.workload in ("score", "catalog"):
        status = oracle_compare(data, os.path.join(out, "check"), chk["oracle_outputs"],
                                [{"name": "q_full_scores"}] if a.workload == "score" else ops)
        res["oracle"] = status
        for o in ops:
            name = "q_full_scores" if a.workload == "score" else o["name"]
            st = status[name]
            if not st["status"].startswith(("pass", "completed")) or o.get("rows") != st["rows"]:
                bad.add(o["i"])
        if a.workload == "score" and not chk["leaderboards_agree"]:
            bad |= {o["i"] for o in ops}
        unchecked = sorted(n for n, s in status.items() if s["status"].startswith("completed"))
        if unchecked:
            log(f"checked for completion only (no oracle): {', '.join(unchecked)}")
    else:
        if not chk["store_ok"]:
            bad |= {o["i"] for o in ops}
        for c in chk["compactions"]:
            (c["rows_before"], h0), (c["rows_after"], h1) = map(fingerprint, (c["before"], c["after"]))
            c["hash_kept"] = h0 == h1
            if not c["hash_kept"] or c["rows_before"] != c["rows_after"]:
                bad.add(c["op"])
    kernel_ok = all(res["layers"].get("kernel_checks", {}).values())
    failed = len(bad)
    correct = failed == 0 and kernel_ok

    # wall time of each phase of the run, for the time box
    res["phase_s"] = {"build_and_inputs": t_jvm - t_start, "jvm": t_check - t_jvm,
                      "checks": time.time() - t_check}

    # ---- metrics -------------------------------------------------------
    busy = sum(lat)
    n = len(ops)
    tail, pct = tail_pct(lat)
    res["op_tail_pct"] = pct
    if a.workload == "score":
        recs, in_bytes = inputs["rows"] * n, inputs["bytes"] * n
    elif a.workload == "catalog":
        recs = sum(t["rows"] for t in inputs["tables"].values()) * n
        in_bytes = sum(t["bytes"] for t in inputs["tables"].values()) * n
    else:
        recs = sum(o.get("filings", 0) for o in ops)
        in_bytes = sum(o.get("html_bytes", 0) for o in ops)
    if a.workload == "ingest":  # the whole store over every batch it holds
        stored = chk["store_bytes"] / chk["input_bytes_all_batches"]
    else:
        stored = res["shuffle_write_bytes"] / in_bytes
    setup_s = res["first_op_ms"] / 1000.0 - t_setup
    if a.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            "events_per_s": (recs / busy, "1/s"),
            "queries_per_s": (n / busy, "1/s"),
            "input_mb_per_s": (in_bytes / 1048576.0 / busy, "MB/s"),
            "store_bytes_per_input_byte": (stored, "ratio"),
            "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        }
    else:
        import layers
        metrics = layers.per_layer(a.workload, res, os.path.join(out, "spans.jsonl"),
                                   failed / n, pct, catalog if a.workload == "catalog" else [])
    res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    res.update(correct=correct, attempted=n, failed=failed, setup_s=setup_s)

    # keep the run record and spans; drop inputs, store and check outputs
    keep = os.path.join(HERE, "out", "runs")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{run_id}.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(keep, f"{run_id}.log"))
    if a.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(keep, f"{run_id}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    log(f"{a.workload}: {n} ops, {failed} failed, tail percentile p{pct:.1f}")
    print(json.dumps({"correct": correct, "attempted": n, "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
