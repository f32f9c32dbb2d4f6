"""The graft benchmark: one seeded workload, timed from outside, every output
checked. Prints one JSON line last: end-to-end metrics with `--trace 0`,
per-layer metrics (from a second, traced timed region) with `--trace 1`.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads, metrics and bounds are declared in BENCHMARK.json at the root of
the checkout; inputs come from gen.py, the harness from build.py.
"""
import argparse
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

import build  # noqa: E402
import digest  # noqa: E402
import gen  # noqa: E402

TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
# sf0.01 keeps a query_mix lap near 20 s and a heavy_plans lap near 30 s on
# 4 cores (sf0.1 triples the mix); the heavy plans' cost is per-plan driver
# work and eager checkpoint jobs, which barely move with scale
SF_DIR = os.path.join(TESTDATA, "sf0.01")
EVENTS_PER_OP = 250
# Whole laps a run times at --seconds 10; other --seconds scale them (at
# least one). A fixed amount of work, so a faster or slower box never
# changes what is measured.
LAPS = {"etl_batch": 3, "stream_ingest": 2, "query_mix": 1, "heavy_plans": 1}
HARD_LIMIT_S = 170
# a fixed heap and young generation keep G1 from resizing them run to run,
# which is most of the spread in peak RSS
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn512m", "-Duser.timezone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def wait_for(path, proc, deadline):
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"harness exited ({proc.returncode}) before {os.path.basename(path)}")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {os.path.basename(path)}")
        time.sleep(0.02)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # heavy_plans is runnable by hand but kept out of BENCHMARK.json's set:
    # one lap of its eleven plans does not fit the benchmark's time budget
    if a.workload not in gen.WORKLOADS:
        fail(f"unknown workload {a.workload}")
    classpath = build.build()

    t0 = time.time()  # set-up starts here: inputs, JVM, session, warm-up
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "bucket", "raw_data") if a.workload == "etl_batch" \
        else os.path.join(work, "inputs")
    manifest = gen.generate(a.workload, a.seed, inputs)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    spec = dict(manifest, workdir=work, trace=a.trace,
                laps=max(1, round(LAPS[a.workload] * a.seconds / 10)),
                cores=len(os.sched_getaffinity(0)), events_per_op=EVENTS_PER_OP, sf_dir=SF_DIR)
    if a.workload != "etl_batch" and not os.path.isdir(SF_DIR):
        fail(f"fixture directory {SF_DIR} is missing")
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f)

    out_path = os.path.join(work, "out.json")
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(
        ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
                               "perfbench.Harness", os.path.join(work, "spec.json"), out_path],
        stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
    deadline = started + HARD_LIMIT_S
    # a SIGTERM from whoever runs us must not leave the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        wait_for(os.path.join(work, "ready"), proc, deadline)
        # the oracle is the benchmark's own checker: it runs after set-up,
        # while the warm JVM waits, so it neither counts in nor slows set-up
        oracle, o0 = {}, time.time()
        if "ops" in manifest:
            with open(os.path.join(work, "oracle_sql.json")) as f:
                oracle = digest.oracle_digests(spec["sf_dir"], json.load(f))
            sys.stderr.write(f"perfbench: DuckDB oracle {time.time() - o0:.2f}s\n")
        open(os.path.join(work, "go"), "w").close()
        proc.wait(timeout=max(1, deadline - time.time()))
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(open(log.name).read()[-3000:])
        fail(str(e))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0:
        sys.stderr.write(open(log.name).read()[-3000:])
        fail(f"harness exited with {proc.returncode}")
    with open(out_path) as f:
        out = json.load(f)

    regions = [out["plain"]] + ([out["traced"]] if "traced" in out else [])
    ops = [op for r in regions for op in r["ops"]]
    bad = digest.check_ops(a.workload, ops, oracle)
    whole_ok = check_outputs(a.workload, manifest, ops, out["final"], work)
    failed = len(ops) if not whole_ok else sum(bad)
    for op, b in zip(ops, bad):
        if b:
            sys.stderr.write(f"perfbench: wrong output from op {op['i']} ({op['name']})\n")
    if not whole_ok:
        sys.stderr.write("perfbench: the committed warehouse does not match its inputs\n")

    plain = out["plain"]
    lats = [op["lat"] for op in plain["ops"]]
    e2e = {
        "setup_s": out["ready_ms"] / 1000.0 - t0,
        "run_s": plain["wall_s"] / plain["laps"],
        "op_p50_s": statistics.median(lats),
        "rows_per_s": sum(op["rows"] for op in plain["ops"]) / plain["wall_s"],
        "peak_rss_mb": out["peak_rss_mb"],
    }
    kind, values = ("per_layer", out.get("layers", {})) if a.trace else ("end_to_end", e2e)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in bench[kind]}
    print(f"perfbench: {a.workload} seed={a.seed} fail_ratio={failed / len(ops):.4f} "
          f"ops={len(ops)} laps={plain['laps']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def check_outputs(workload, manifest, ops, final, work):
    """Whole-output checks: the warehouse read back holds exactly the rows
    and traffic total the generator put into the files the ops consumed;
    for the stream, it also equals a batch TrafficTransform of them."""
    if workload not in ("etl_batch", "stream_ingest"):
        return True
    by_file = {f["file"]: f for f in manifest["files"]}
    want = (sum(by_file[op["name"]]["rows"] for op in ops),
            sum(by_file[op["name"]]["traffic_sum"] for op in ops))
    if workload == "etl_batch":
        glob = os.path.join(work, "bucket", "warehouse", "*", "*", "*.parquet")
        return digest.totals_match(digest.warehouse_totals(glob), want)
    glob = os.path.join(final["warehouse_dir"], "*.parquet")
    return final["warehouse_digest"] == final["batch_digest"] and \
        digest.totals_match(digest.warehouse_totals(glob), want)


if __name__ == "__main__":
    main()
