#!/usr/bin/env python3
"""graft benchmark: builds the engine with the harness, runs one workload
in one JVM, checks every output apart from the program, and prints one
JSON line as the last line of standard output.

    python3 perfbench/run.py --workload e1_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload, one pass, all checks

Run it from the root of a checkout. Build outputs and run directories go
under .bench_build/ there. The inputs are copies of the engine's test
tables in perfbench/data/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

# Per workload: the input scale; the warm passes in set-up, as the scale
# each one reads (or, for serve_explore, a number of request blocks);
# the fewest timed passes; and, for e1_batch, the scale at which traced
# runs also run the graph and index chain once. Smoke runs use sf0.001
# for everything. A cold JVM's first E1 pass costs about 15 s of class
# loading, code generation and JIT whatever the input size, so e1_batch
# pays that on sf0.001. Three E1 passes, or six request blocks, take
# longer than a 10 s run, so every run times the same number of them.
WORKLOADS = {
    "e1_batch": dict(scale="sf0.1", warm=["sf0.001"], min_passes=3, chain="sf0.01"),
    "serve_explore": dict(scale="sf0.1", warm=3, min_passes=6),
    # by hand and in --smoke only: not a BENCHMARK.json workload (README)
    "graph_index": dict(scale="sf0.01", warm=[], min_passes=1),
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "heap_live_mb": "MB"}

PER_LAYER = {
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "executor.spill_bytes": "bytes",
    "scan.bytes_read": "bytes", "scan.rows_read": "rows",
    "sink.write_ms": "ms", "sink.bytes_written": "bytes", "sink.rows_written": "rows",
    "Pipeline.e1Scored_ms": "ms", "Pipeline.e1Features_ms": "ms",
    "GraphBuild.build_ms": "ms", "Chunker.windows": "count", "GraphBuild.nodes": "count",
    "GraphBuild.childrenOf_ms": "ms", "serve.collect_ms": "ms",
    "children_p50_ms": "ms", "movie_p50_ms": "ms",
    "graph.pregel_ms": "ms", "index.build_ms": "ms", "IndexStore.save_ms": "ms",
    "IndexStore.append_ms": "ms", "IndexStore.compact_ms": "ms",
    "IndexStore.read_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "trace.pass_s": "s",
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

RUN_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit(f"[perfbench] no engine sources under {ENGINE_SRC}; "
                 "run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine + harness with sbt")
    # offline, with the resolver list the engine's own build uses
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "/classes" not in lines[-1]:
        sys.stdout.write(p.stdout[-4000:])
        sys.exit("[perfbench] build failed; see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(scale):
    """The test tables at `scale`, after checking them against SHA256SUMS."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        sums = dict(reversed(ln.split()) for ln in f if ln.strip())
    for name, digest in sums.items():
        if name.startswith(scale + "/"):
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    sys.exit(f"[perfbench] {name} differs from SHA256SUMS")
    return os.path.join(DATA, scale)


def run_jvm(cp, workload, data, warm_data, run_dir, seconds, seed, trace, warm,
            min_passes, oracle, graph_data=None):
    """Runs graftbench.Main in its own JVM; returns its result dict."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            "--workload", workload, "--data", data, "--warm-data", warm_data,
            "--out", run_dir,
            "--seconds", str(seconds), "--seed", str(seed), "--trace", str(trace),
            "--warm", str(warm), "--min-passes", str(min_passes),
            "--oracle", str(int(oracle))] +
           (["--graph-data", graph_data] if graph_data else []))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"[perfbench] {workload} did not finish in {RUN_TIMEOUT_S} s")
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.exit(f"[perfbench] {workload} JVM exited {rc}:\n{tail}")
    with open(res_file) as f:
        return json.load(f)


def metrics_of(res, trace):
    if not trace:
        vals = {"setup_s": res["setup_s"], "pass_s": statistics.median(res["pass_s"]),
                "cpu_s": statistics.median(res["cpu_s"]),
                "heap_live_mb": res["heap_live_mb"]}
        return {k: {"value": round(vals[k], 6), "unit": u} for k, u in END_TO_END.items()}
    layers = dict(res["layers"])
    layers["trace.pass_s"] = statistics.median(res["pass_s"])
    for kind in ("children", "movie"):
        lat = res.get("latency", {}).get(kind)
        layers[f"{kind}_p50_ms"] = lat["p50_ms"] if lat else 0.0
    return {k: {"value": round(float(layers.get(k, 0.0)), 6), "unit": u}
            for k, u in PER_LAYER.items()}


def run_one(cp, workload, seed, seconds, trace, size="full"):
    cfg = WORKLOADS[workload]
    smoke = size == "smoke"
    data = inputs("sf0.001" if smoke else cfg["scale"])
    warm = cfg["warm"]
    warm_data = ",".join(inputs(s) for s in warm) if isinstance(warm, list) and warm else data
    n_warm = 0 if smoke else len(warm) if isinstance(warm, list) else warm
    graph_data = inputs(cfg["chain"]) if trace and not smoke and "chain" in cfg else None
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # e1_batch's twin check costs a whole E1 run, so the untraced runs
    # that measure the end-to-end metrics leave it to traced and smoke runs
    res = run_jvm(cp, workload, data, warm_data, run_dir, 0 if smoke else seconds, seed,
                  trace, n_warm, 1 if smoke else cfg["min_passes"],
                  oracle=bool(smoke or trace), graph_data=graph_data)
    errors = checks.check(workload, res, data)
    for e in errors[:20]:
        log(f"CHECK FAILED: {e}")
    log(f"timed passes (s): {res['pass_s']}")
    if res.get("latency"):
        log("latency per request type: " + json.dumps(res["latency"]))
    out = {"correct": not errors, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": metrics_of(res, trace)}
    if trace and os.path.exists(os.path.join(run_dir, "trace.json")):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "trace.json"),
                    os.path.join(BUILD, "traces", f"{workload}-{seed}.json"))
    if not errors:  # a failed run's directory stays for inspection
        shutil.rmtree(run_dir, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one pass, small inputs, all checks; every workload "
                         "unless --workload names one")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke")
    cp = build()
    if a.smoke:
        ok = True
        for w in [a.workload] if a.workload else WORKLOADS:
            t0 = time.time()
            r = run_one(cp, w, a.seed, 0, a.trace, size="smoke")
            log(f"smoke {w}: correct={r['correct']} attempted={r['attempted']} "
                f"failed={r['failed']} ({time.time() - t0:.0f} s)")
            ok = ok and r["correct"] and r["failed"] == 0
        print(json.dumps({"smoke": ok}))
        sys.exit(0 if ok else 1)
    print(json.dumps(run_one(cp, a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
