#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.py), generates the input tables
(perfbench/gen.py) and the DuckDB oracle digests (perfbench/oracle.py)
under `.bench_build/` (or $CARGO_TARGET_DIR); later runs reuse them.
Each run then starts one JVM on local[nproc], runs the workload, checks
its outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_batch", "corpus_scale", "stream_ingest")
SCALE = 0.01          # rows: 10k events, 60k lineitem, 500 documents/embeddings
DATA_SEED = 42        # the tables are fixed; --seed drives the stream split
STREAM_FILES = (4, 100, 100)  # warm-up, scheduled, backlog
DEADLINE_S = 170


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def data_dir(out, scale):
    d = os.path.join(out, "data", f"sf{scale}_s{DATA_SEED}")
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, scale, DATA_SEED)
        open(os.path.join(d, ".ok"), "w").close()
    return d


def stage_stream(data, seed):
    """Splits `events` (ts order) into files at seeded cut points: w* are
    the warm-up files, s* the scheduled ones, b* the backlog; rows.txt
    holds each file's row count."""
    d = os.path.join(os.path.dirname(data), f"stream_{seed}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t = pq.read_table(os.path.join(data, "events.parquet")).sort_by("event_id")
    names = [f"{kind}{i:05d}.parquet" for kind, n in zip("wsb", STREAM_FILES) for i in range(n)]
    rng = np.random.default_rng(seed)
    cuts = np.sort(rng.choice(np.arange(1, t.num_rows), len(names) - 1, replace=False))
    bounds = [0, *cuts.tolist(), t.num_rows]
    with open(os.path.join(d, "rows.txt"), "w") as rows:
        for i, name in enumerate(names):
            n = bounds[i + 1] - bounds[i]
            pq.write_table(t.slice(bounds[i], n), os.path.join(d, name))
            rows.write(f"{name} {n}\n")
    return d


def run_jvm(cmd, cwd, log, deadline):
    """Runs the harness JVM in its own process group; kills the group on
    timeout and always waits for it to end."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch
    # files inside the build directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def oracle_digests(out, jar, archive, data, deadline):
    """DuckDB oracle digests, cached next to the build they belong to."""
    path = os.path.join(os.path.dirname(jar), "oracle.json")
    if os.path.exists(path):
        return path
    sql = os.path.join(os.path.dirname(jar), "oracle_sql.json")
    log = os.path.join(out, "oracle.log")
    rc = run_jvm(build.java(out, jar, archive, ["--dump-oracle-sql", sql]), out, log, deadline)
    if rc != 0:
        fail("dumping oracle SQL failed:\n" + tail(log))
    import oracle
    oracle.main(data, sql, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload or --selftest required")
    started = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    first_run = not glob.glob(os.path.join(out, "build-*", "oracle.json"))
    deadline = started + (880 if first_run else DEADLINE_S)
    small = data_dir(out, 0.001)
    jar, archive = build.build(out, small)

    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.selftest:
        log = os.path.join(out, "selftest.log")
        rc = run_jvm(build.java(out, jar, archive, ["--selftest", "1", "--data", small,
                                                    "--work", work]), work, log, deadline)
        print(tail(log, 20), end="")
        sys.exit(0 if rc == 0 else 1)

    data = data_dir(out, SCALE)
    digests = oracle_digests(out, jar, archive, data, deadline)
    if a.workload == "stream_ingest":
        stage_stream(data, a.seed)
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    res_path = os.path.join(out, "results", f"{a.workload}_s{a.seed}_t{a.trace}.json")
    log = os.path.join(out, f"{a.workload}.log")
    rc = run_jvm(build.java(out, jar, archive, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", res_path,
        "--oracle", digests,
        "--expect", os.path.join(os.path.dirname(jar), f"expect-{os.path.basename(data)}.properties")]),
        work, log, deadline)
    if rc != 0 or not os.path.exists(res_path):
        fail(f"harness exited with {rc}:\n" + tail(log))
    res = json.load(open(res_path))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    for c in res["checks"]:
        print(f"check {'PASS' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}".rstrip())
    for o in res["ops"]:
        if not o["ok"] or not o["correct"]:
            print(f"op FAIL {o['name']}: {o['note']}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "setups_s": res["setups_s"], "named": res["named"],
                      "run_s": round(time.time() - started, 2)}))
    if a.trace:
        print(f"trace artifact: {os.path.relpath(res_path[:-5] + '_trace.json', ROOT)}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
