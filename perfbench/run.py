#!/usr/bin/env python3
"""graft performance benchmark: one workload, one run.

    python3 perfbench/run.py --workload tick_research --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, offline) and generates the registry tables; later runs
reuse both from `.bench_build/`. The JVM side (`graft.perfbench.PerfMain`)
sets up a `GraftSession`, drives the workload's closed loop and writes
its outputs; this script then checks every output (DuckDB oracle for
registry keys, the lake generator's manifest for lake operations) and
prints the run record followed, as the last stdout line, by the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (spans in `.bench_build/runs/.../trace.jsonl`).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Registry tables: the sf-scaled TPC-H-ish layout at this scale factor.
SCALE = 0.02
WORKLOADS = ("tick_research", "lake_ingest")
JVM_TIMEOUT_S = 150
# Spark task threads (local[N]). The requests are short, stage-overhead
# bound jobs that run as fast on 2 task threads as on 4; leaving cores
# for the JIT, GC and Spark's own threads keeps runs steady on a shared
# 4-core host.
SPARK_CPUS = 2

# metric name -> unit, for both kinds of run
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
E2E = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _spec["per_layer"]}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline); cache the classpath."""
    stamp, cp_file = f"{BUILD}/build.stamp", f"{BUILD}/classpath.txt"
    digest = sources_digest()
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    # the Spark jars the engine compiles against ship with the Spark install
    spark_home = os.environ.get("SPARK_HOME") or (
        shutil.which("spark-submit") and
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    if not spark_home:
        fail("no Spark install: set SPARK_HOME", 1)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def ensure(path, make):
    """Build `path` once (atomically, via a temp sibling)."""
    if not os.path.exists(f"{path}/.done"):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        open(f"{tmp}/.done", "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def pctl(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def ops_per_s(ok):
    """Requests per second of timed wall (CkptGc sweeps included): the
    median over blocks, so one block slowed by other load does not move
    it."""
    rates = []
    for b in sorted({r["block"] for r in ok}):
        rs = [r for r in ok if r["block"] == b]
        rates.append(len(rs) / max(1e-9, sum(r["with_sweep_s"] for r in rs)))
    return pctl(rates, 0.5)


def run_jvm(cp, args, run_dir):
    opens = [x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect",
                         "java.io", "java.net", "java.nio", "java.util",
                         "java.util.concurrent", "java.util.concurrent.atomic",
                         "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                         "sun.util.calendar")
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_STREAM_CKPT=tmp,
               SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    cmd = (["java"] + opens + ["-Xmx3g", "-XX:+UseParallelGC",
                               f"-Djava.io.tmpdir={tmp}",
                               "-Dspark.ui.enabled=false",
                               "-Dspark.sql.session.timeZone=UTC",
                               "-cp", cp, "graft.perfbench.PerfMain"] + args)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft — "
             "run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    sys.path.insert(0, HERE)
    import gen
    import oracle

    cp = build()
    data = ensure(f"{BUILD}/data/tables-{SCALE}", lambda d: gen.tables(d, SCALE))
    cpus = str(min(SPARK_CPUS, os.cpu_count() or 1))
    run_dir = f"{BUILD}/runs/{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", f"{run_dir}/out", "--cpus", cpus]
    if a.workload == "lake_ingest":
        lake = ensure(f"{BUILD}/data/lake-{a.seed}", lambda d: gen.lake(d, a.seed))
        args += ["--lake", lake]
    else:
        with open(f"{HERE}/pools.json") as f:
            args += ["--pool", ",".join(json.load(f)[a.workload]["keys"])]

    t0 = time.time()
    rc = run_jvm(cp, args, run_dir)
    res_file = f"{run_dir}/out/result.json"
    if rc != 0 or not os.path.exists(res_file):
        sys.stderr.write(open(f"{run_dir}/jvm.log").read()[-4000:])
        fail(f"benchmark JVM failed (exit {rc})", 1)
    res = json.load(open(res_file))
    jvm_s = time.time() - t0

    # Output check, outside the clock: DuckDB oracle for every distinct
    # registry key the run sent; lake steps were checked in the JVM.
    sqls = json.load(open(f"{run_dir}/out/oracle_sql.json"))
    sent = sorted({r["key"] for r in res["requests"] if r["kind"] == "registry"})
    bad = oracle.check(data, f"{run_dir}/out/check", sqls, sent)
    reqs = res["requests"]
    failed = [r for r in reqs if r["error"] or r["key"] in bad]
    ok = [r for r in reqs if not (r["error"] or r["key"] in bad)]
    lat = [r["latency_s"] for r in ok]

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "requests": len(reqs), "latency_samples": len(lat),
        "failed_frac": len(failed) / max(1, len(reqs)),
        "oracle_failures": bad,
        "errors": sorted({f"{r['key']}: {r['error']}" for r in reqs if r["error"]})[:10],
        "setup": {k: res[k] for k in ("setup_s", "session_s",
                                      "setup_round_s", "setup_rounds_s", "keys_warm_s",
                                      "fixtures_s")},
        "inputs": res["inputs"], "contention": res["contention"],
        "blocks": res["blocks"], "cpu_s_per_op": res["jvm_cpu_s"] / max(1, len(reqs)),
        "heap": {k: res[k] for k in ("heap_mb", "storage_mb", "ckptgc_pinned_mb")},
        "jvm_wall_s": jvm_s, "scale": SCALE, "cpus": int(cpus),
        "latencies_s": {k: [round(r["latency_s"], 4) for r in ok if r["key"] == k]
                        for k in dict.fromkeys(r["key"] for r in ok)},
    }
    for k in ("bytes_per_user_byte", "ingest_rows_per_s", "catalog_files_live"):
        if k in res:
            record[k] = res[k]
    if a.workload == "lake_ingest":
        record["inputs"]["input_mb"] = record["inputs"]["csv_bytes"] / 2**20
        record["inputs"]["storage_memory_mb"] = res["storage_max_mb"]
    if res.get("stream_rows"):
        record["stream_rows_per_s"] = res["stream_rows"] / max(1e-9, res["stream_trigger_s"])
        record["inputs"]["stream_state_rows"] = res["stream_state_rows_max"]
    if a.trace:
        layers = dict(res["layers"], **{"fixture.build_s": res["setup_round_s"]})
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
        record["layers"] = layers
        record["trace_check"] = res["trace_check"]
        # tracing overhead against this seed's untraced run, when there is one
        untraced = f"{BUILD}/records/{a.workload}-{a.seed}-0.json"
        if os.path.exists(untraced) and lat:
            base = json.load(open(untraced))["metrics"]["latency_p50_s"]
            record["trace_p50_vs_untraced"] = pctl(lat, 0.5) / base - 1
        tc = res["trace_check"]
        if tc["within_5pct"] != tc["requests"]:
            failed.append({"key": "trace span-sum check"})
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "latency_p50_s": pctl(lat, 0.5), "latency_p90_s": pctl(lat, 0.9),
            "ops_per_s": ops_per_s(ok),
            "heap_live_mb": res["heap_live_mb"],
        }
        record["latency_p90_s"] = metrics["latency_p90_s"]
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in E2E.items()}
    record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    os.makedirs(f"{BUILD}/records", exist_ok=True)
    with open(f"{BUILD}/records/{a.workload}-{a.seed}-{a.trace}.json", "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        shutil.copy(f"{run_dir}/out/trace.jsonl",
                    f"{BUILD}/records/{a.workload}-{a.seed}.trace.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(record))
    print(json.dumps({"correct": not failed, "attempted": len(reqs),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
