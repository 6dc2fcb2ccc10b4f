#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, local[4].

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload <ingest_maintain|query_mix>
                           --seed N --seconds S --trace <0|1>

Builds graft plus the benchmark runner from source (perfbench/build.sbt),
generates the seed's inputs once (perfbench/gen.py, cached under
perfbench/.work/inputs), runs the workload in one JVM, checks every output
(the JVM checks maintained state and probes against rebuilds; this
script checks analytic results and curated export row counts against the
DuckDB oracle, and the ingested table state against a replay of the
generated windows) and prints, as the
last line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics of the traced schedule. The exit code
is 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest_maintain", "query_mix")
E2E_UNITS = {"setup_s": "s", "small_gmean_ms": "ms", "large_gmean_ms": "ms",
             "items_per_s": "1/s", "stored_bytes_per_row": "B",
             "peak_rss_mb": "MB"}
MEASURE_UNITS = {"ms": "ms", "jobs": "count", "driver_ms": "ms",
                 "shuffle_bytes": "B", "spill_bytes": "B"}
COUNTER_UNITS = {"io.bytes_written": "B", "io.files_live": "count"}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            glob.glob(os.path.join(top, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def run_checked(cmd, timeout, **kw):
    """Runs cmd to completion (killing it on timeout) and returns it."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        die(f"{cmd[0]} timed out after {timeout:.0f} s", 3)
    return p.returncode, out, err


def build():
    """Compiles graft and the benchmark runner once per source state;
    returns the runtime classpath."""
    stamp = tree_digest([os.path.join(ROOT, "src", "main"),
                         os.path.join(HERE, "src"),
                         os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project", "build.properties")])
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, f"classpath-{stamp}")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must point at a Spark installation", 4)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    rc, out, err = run_checked(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        800, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    cps = [ln.strip() for ln in out.splitlines()
           if ln.startswith("/") and "scala-library" in ln]
    if rc != 0 or not cps:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die("build failed", 4)
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def inputs_for(seed, workload):
    """The seed's generated inputs for a workload, written once (atomic
    rename)."""
    gen = os.path.join(HERE, "gen.py")
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{tree_digest([gen])}")
    if not os.path.exists(os.path.join(d, "inputs.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        rc, _, err = run_checked([sys.executable, gen, tmp, "--seed", str(seed),
                                  "--workload", workload],
                                 170, stderr=subprocess.PIPE, text=True)
        if rc != 0:
            sys.stderr.write(err)
            die("input generation failed", 4)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# ---------------------------------------------------------------- oracle

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def check_query_mix(run_dir, inp):
    """Compares each analytic result with the DuckDB result of its oracle
    SQL through tools/check.py's comparator (the repo's DuckDB gate). The
    DuckDB frames are computed once per seed and cached."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # noqa: E402  (tools/check.py)
    import pandas as pd
    res = os.path.join(run_dir, "results")
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures, con = [], None
    for key, sql in sorted(oracles.items()):
        if not sql:
            failures.append(f"{key}: no oracle SQL")
            continue
        cache = os.path.join(inp, "oracle", f"{key}.pkl")
        if os.path.exists(cache):
            duck = pd.read_pickle(cache)
        else:
            if con is None:
                import duckdb
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for t in SF_TABLES:
                    p = os.path.join(inp, "sf", f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            duck = con.execute(sql).df()
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            duck.to_pickle(cache + ".tmp")
            os.replace(cache + ".tmp", cache)
        issues = check.cmp_frames(key, pd.read_parquet(os.path.join(res, key)), duck)
        # the rule of check.py's main: only WARN lines are not failures
        hard = [i for i in issues if "WARN" not in i]
        if hard:
            failures.append(f"{key}: {'; '.join(hard)}")
    if con is not None:
        con.close()
    return failures


def check_ingest(report, inp):
    """Replays the applied windows over the generated base tables and
    compares the live state the JVM read back; checks each curated export's
    row count against the curation oracle (oracle.py)."""
    params = json.load(open(os.path.join(inp, "params.json")))
    failures = []
    o = pq.read_table(os.path.join(inp, "sf", "orders.parquet"),
                      columns=["o_orderkey", "o_totalprice"]).to_pandas()
    state = dict(zip(o.o_orderkey.to_numpy(),
                     np.round(o.o_totalprice.to_numpy() * 100).astype(np.int64)))
    live = {
        "docs": set(pq.read_table(os.path.join(inp, "sf", "documents.parquet"),
                                  columns=["doc_id"]).column(0).to_pylist()),
        "emb": set(pq.read_table(os.path.join(inp, "sf", "embeddings.parquet"),
                                 columns=["vec_id"]).column(0).to_pylist())}
    corpus_rows = 0
    for w, applied in zip(params["windows"], report["detail"]["windows"]):
        i, src = applied["window"], w["source"]
        wd = os.path.join(inp, "windows", str(i))
        if src == "orders":
            cdc = pq.read_table(os.path.join(wd, "orders_cdc.parquet"), columns=[
                "o_orderkey", "price_cents", "seq", "op"]).to_pandas()
            latest = cdc.sort_values("seq").groupby("o_orderkey").tail(1)
            for k, c, op in zip(latest.o_orderkey, latest.price_cents, latest.op):
                if op == "d":
                    state.pop(k, None)
                else:
                    state[k] = c
        elif src in live:
            ids = live[src]
            ids.update(pq.read_table(os.path.join(wd, f"{src}_add.parquet")).column(0)
                       .to_pylist())
            if "rewrite_range" in w:
                ids.difference_update(pq.read_table(os.path.join(wd, f"{src}_dv.parquet"))
                                      .column(0).to_pylist())
                lo, hi = w["rewrite_range"]
                ids.difference_update([x for x in ids if lo <= x < hi])
        elif applied["ok"]:
            corpus_rows += w["rows"]
            t = pq.read_table(os.path.join(wd, "corpus.parquet"),
                              columns=["doc_id", "text"]).to_pydict()
            expect = oracle.curated_rows(t["doc_id"], t["text"])
            if applied["exported_rows"] != expect:
                failures.append(f"window {i}: exported {applied['exported_rows']} "
                                f"rows, oracle {expect}")
    expect = {
        "orders": [len(state), int(sum(state.values())), int(sum(state.keys()))],
        "docs": [len(live["docs"]), int(sum(live["docs"]))],
        "emb": [len(live["emb"]), int(sum(live["emb"]))],
        "corpus": corpus_rows}
    got = report["detail"]["state"]
    return failures + [f"{t} live state {got.get(t)} != expected {expect[t]}"
                       for t in expect if got.get(t) != expect[t]]


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to perfbench/ (run from a graft checkout)")

    walls, t0 = {}, time.monotonic()
    classpath = build()
    walls["build_s"] = time.monotonic() - t0
    inp = inputs_for(a.seed, a.workload)
    walls["inputs_s"] = time.monotonic() - t0 - walls["build_s"]
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    report_path = os.path.join(run_dir, "report.json")
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and young generation under the throughput
    # collector: the run's peak RSS then tracks what graft retains, not
    # the collector's heap-resizing decisions
    cmd = (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn600m",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", classpath, "graft.perfbench.Main",
                      "--workload", a.workload, "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--inputs", inp,
                      "--work", run_dir, "--report", report_path])
    try:
        t1 = time.monotonic()
        rc, _, err = run_checked(cmd, 170, stdout=subprocess.DEVNULL,
                                 stderr=subprocess.PIPE, text=True)
        if rc != 0 or not os.path.exists(report_path):
            sys.stderr.write(err[-6000:])
            die(f"benchmark JVM failed (exit {rc})", 5)
        with open(report_path) as f:
            report = json.load(f)
        walls["jvm_s"] = time.monotonic() - t1
        failures = [f"{x['what']}: {x['detail']}" for x in report["failures"]]
        if a.workload == "query_mix":
            failures += check_query_mix(run_dir, inp)
        else:
            failures += check_ingest(report, inp)
            with open(os.path.join(WORK, "e4_oracle.sql"), "w") as f:
                f.write(report["detail"]["curation_oracle"])
        if a.trace:
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(inp, "inputs.json")) as f:
        inputs = json.load(f)
    e2e = report["end_to_end"]
    attempted = int(report["attempted"])
    failed = min(attempted, len(failures))
    if a.trace:
        metrics = {}
        for k, v in sorted(report["per_layer"].items()):
            unit = COUNTER_UNITS.get(k) or MEASURE_UNITS.get(k.rsplit(".", 1)[1], "ratio")
            metrics[k] = {"value": v, "unit": unit}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail = {
        "workload": a.workload, "seed": a.seed,
        "input_digest": inputs["input_digest"],
        "fail_ratio": failed / max(1, attempted),
        "failures": failures[:20],
        "classes": report["classes"],
        "samples": {k: len(v) for k, v in report["samples"].items()},
        "tails": report["tails"],
        "session_s": report["session_s"], "timed_s": report["timed_s"],
        "checks_s": report["checks_s"], "check_ms": report["check_ms"],
        "setup_ms": report["setup_ms"],
        "end_to_end": e2e,
        "walls": {**walls, "total_s": time.monotonic() - t0},
    }
    if a.workload == "ingest_maintain":
        params = json.load(open(os.path.join(inp, "params.json")))
        detail["windows"] = [
            {**{k: w.get(k) for k in ("window", "source", "size", "ms", "refresh",
                                      "cutovers")},
             **({"shares": params["windows"][w["window"]]["shares"]}
                if "shares" in params["windows"][w["window"]] else {})}
            for w in report["detail"]["windows"]]
        detail["cutovers"] = report["detail"]["cutovers"]
    print(json.dumps(detail))
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
