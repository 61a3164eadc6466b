"""One benchmark run: build if needed, generate the seeded inputs, run the
workload in a fresh JVM, check its outputs, print one JSON result line.

    python3 perfbench/run.py --workload {trace_convert,curate,serve} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Everything the run writes lives under
.bench_build/ and the per-run directory is deleted at the end; a traced
run keeps its spans in .bench_build/traces/. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. SPARK_GRAFT_CPUS caps the
cores (default: the cores this process may use).
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("trace_convert", "curate", "serve")
DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    n = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS")
    return max(1, min(n, int(want))) if want else n


def run_jvm(cp, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.BenchMain"] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: the JVM ran past {timeout:.0f} s")
    with open(log_path) as f:
        lines = f.readlines()
    if rc != 0:
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit(f"perfbench: the JVM exited with {rc}")
    sys.stderr.write("".join(x for x in lines if x.startswith("[perfbench]")))


def curate_oracle_check(res, oracle_dir):
    """q124's DuckDB oracle SQL over the seeded warm-up corpus, compared
    with the engine's accounting rows by tools/check_oracle.py's compare.
    The recursive cluster-closure CTE reads a materialized `pairs` (the
    oracle's own pairs CTE, run once): DuckDB otherwise re-derives the
    MinHash pairs inside every recursion step and runs out of memory."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, "tools")
    from check_oracle import compare
    sql = res["oracle_sql"]
    head = sql[:sql.index("SELECT * FROM (")]
    con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2,
                                 "temp_directory": os.path.join(oracle_dir, "duckdb_tmp")})
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{oracle_dir}/documents.parquet'")
    con.execute("CREATE TEMP TABLE pairs_m AS " + head + "SELECT doc_a, doc_b FROM pairs")
    m = re.search(r"pairs AS \(.*?\),\n(\s*)edges", sql, re.S)
    sql = sql[:m.start()] + "pairs AS (SELECT * FROM pairs_m),\n" + m.group(1) + "edges" + sql[m.end():]
    want = con.execute(sql).fetchdf()
    got = pd.DataFrame(res["accounting"]).astype(want.dtypes.to_dict())
    return compare("q124_curation_pipeline", got, want)


def summarize(res):
    """Per op kind: count and median ms, on stderr (diagnostics only)."""
    by = {}
    for s in res["samples"]:
        by.setdefault(f'{s["kind"]}.{s["family"]}', []).append(s["ms"])
    parts = [f"{k} n={len(v)} median={statistics.median(v):.0f}ms" for k, v in sorted(by.items())]
    if "setup_s" in res:
        parts.append("setup " + "/".join(f"{x:.2f}" for x in res["setup_s"]) + "s")
    sys.stderr.write("perfbench: " + "; ".join(parts) + "\n")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.time()
    root = os.getcwd()
    cp = build.build(root)
    run_dir = os.path.join(root, build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        gen.generate(a.workload, a.seed, data)
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        out = os.path.join(run_dir, "result.json")
        run_jvm(cp, [a.workload, data, work, str(a.seconds), str(a.trace), str(cores()), out],
                run_dir, DEADLINE_S - (time.time() - t0))
        res = json.load(open(out))
        summarize(res)
        checks = []
        if a.workload == "curate" and a.trace == 0:
            checks.append({"name": "q124_oracle",
                           "ok": curate_oracle_check(res, os.path.join(data, "warm"))})
        attempted, failed = metrics.accounting(res["samples"], checks)
        if a.trace:
            values = metrics.per_layer(res, failed / attempted)
            traces = os.path.join(root, build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.per_op.json"), "w") as f:
                json.dump(res["per_op"], f, indent=1, sort_keys=True)
        else:
            values = metrics.end_to_end(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": values}))


if __name__ == "__main__":
    main()
