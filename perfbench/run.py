#!/usr/bin/env python3
"""Repo benchmark: the block-LU inverse and the query surface.

Usage (from the repo root):
  python3 perfbench/run.py --workload inverse|queries --seed N \
      --seconds S --trace 0|1

Builds the program from source (build.py), runs one measuring JVM
(perfbench.Main) and prints, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_jvm(classes, work, args):
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["--add-modules=jdk.incubator.vector",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dgraft.index.root=" + os.path.join(work, "index"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data"), "--work", work,
            "--query-set", os.path.join(HERE, "queries.txt")]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_INDEX_ROOT", None)  # the -D index root above must win
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            cwd=work, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except BaseException as e:
        # a timeout, or this process being stopped: the JVM runs in its own
        # session, so it has to be stopped here
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            sys.exit(f"perfbench: {args.workload} did not finish within {JVM_TIMEOUT_S} s")
        raise
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        sys.exit(f"perfbench: measuring JVM exited {proc.returncode} without a result")
    return result


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0
        return repr(round(v, 6))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(df):
    cols = sorted(df.columns)
    h = hashlib.sha256()
    for row in df[cols].itertuples(index=False):
        h.update(("|".join(norm(v) for v in row) + "\n").encode())
    return h.hexdigest(), cols


def oracle_misses(out_dir):
    """DuckDB oracle compare of each Spark result with oracle SQL: row
    count, sorted column names, and a hash of all values in row order."""
    import duckdb
    import pyarrow.parquet as pq
    data = os.path.join(HERE, "data", "sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    misses = []
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            misses.append(f"{name}: no spark output")
            continue
        got = pq.read_table(files[0]).to_pandas()
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 - the oracle's own failure is a miss
            misses.append(f"{name}: oracle SQL error {e}")
            continue
        (gh, gc), (eh, ec) = frame_hash(got), frame_hash(exp)
        if gc != ec or len(got) != len(exp) or gh != eh:
            misses.append(f"{name}: differs from the DuckDB oracle")
    return misses


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["inverse", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(build_dir)
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "index"):
        os.makedirs(os.path.join(work, d))
    try:
        res = run_jvm(classes, work, args)
        failures = res["failures"]
        if args.workload == "queries":
            misses = oracle_misses(os.path.join(work, "oracle"))
            failures += misses
            res["failed"] += len(misses)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    got = res["metrics"]
    if set(got) != {m["name"] for m in wanted}:
        sys.exit("perfbench: the metrics measured differ from BENCHMARK.json's list")
    metrics = {m["name"]: got[m["name"]] for m in wanted}
    for m in wanted:
        v = metrics[m["name"]]
        if v["value"] is None or v["unit"] != m["unit"]:
            sys.exit(f"perfbench: metric {m['name']} has no value or is not in {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
