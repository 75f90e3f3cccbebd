#!/usr/bin/env python3
"""MLOps-loop benchmark: run one workload and print its metrics.

    python3 loopbench/run.py --workload train_pipeline --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (loopbench/build.sbt); later runs reuse the build while
no source changed. Each run works in its own directory under
loopbench/.run/, deleted at exit. The last stdout line is one JSON
object: correct, attempted, failed and metrics (the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
Traced runs also leave their spans in loopbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("train_pipeline", "feedback_loop", "serve_predict",
             "corpus_dedup")
LAYERS = ("io", "ml", "feature", "streaming", "serving", "text")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[loopbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Hash of every build input, so an edited source forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:"
                 f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Build once; return the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        raise SystemExit(f"engine sources not found under {ROOT}; run "
                         "from the root of a repository checkout")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "build.stamp")
    fp = sources_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(fp)
    with open(cp_file) as c:
        return c.read().strip()


def run_jvm(cp, args, run_dir):
    raw_path = os.path.join(run_dir, "raw.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # A fixed-size heap and the parallel collector: under G1's adaptive
    # sizing, peak RSS spread about ten times wider across seeds and
    # feedback_loop's freshness about twice as wide. Fixed generation
    # sizes too: when the collector's size policy grew eden in some runs
    # and not others, serve_predict's peak RSS read ~980 or ~1160 MB.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" +
           os.path.join(HERE, "log4j2.properties")]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "loopbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--dir", run_dir, "--out", raw_path]
    if args.trace:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        cmd += ["--spans", os.path.join(
            out, f"spans-{args.workload}-{args.seed}.json")]
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, cwd=run_dir)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(raw_path):
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(raw_path) as f:
        return json.load(f)


def summary(raw, trace):
    """One human-readable line, in the workload's own metric names (a
    traced run: its layer times)."""
    e, c = stats.end_to_end(raw), stats.cold_and_tail(raw)
    w = raw["workload"]
    if trace:
        # the workload's own layer times, BENCHMARK.json's or not
        named = {k: stats.median(v) for k, v in raw["series"].items()
                 if k.split(".")[0] in LAYERS and k.endswith("_s")}
    elif w == "train_pipeline":
        named = {"pipeline_s": e["latency_ms"] / 1e3,
                 "pipeline_first_s": c["op.first_ms"] / 1e3}
    elif w == "feedback_loop":
        named = {"freshness_s": e["latency_ms"] / 1e3,
                 "freshness_first_s": c["op.first_ms"] / 1e3,
                 "freshness_late_s": c["op.late_ms"] / 1e3}
    elif w == "serve_predict":
        n = len(raw["open_loop"])
        q = stats.tail_quantile(n)
        s, v = raw["series"], raw["values"]
        named = {"predict_p50_ms": e["latency_ms"],
                 f"predict_p{q:g}_ms": c["serving.predict_tail_ms"],
                 "open_loop_samples": n,
                 "samples_beyond_tail": stats.beyond(n, q),
                 "serve_rps": v["serving.capacity_rps"],
                 "capacity_clients": int(v["serving.capacity_clients"]),
                 "load_frac": v["serving.load_frac"],
                 "sweep": "/".join(
                     f"{int(c_)}:{r:.0f}rps,p99={p:.1f}ms"
                     for c_, r, p in zip(s["sweep_clients"], s["sweep_rps"],
                                         s["sweep_p99_ms"])),
                 "keepalive_ms": stats.median(s["serving.keepalive_ms"]),
                 "cold_ms": c["op.first_ms"]}
    else:
        named = {"dedup_s": c["op.first_ms"] / 1e3}
        named.update({k: round(stats.median(v), 3)
                      for k, v in raw["series"].items()
                      if k.startswith("recall.")})
    v = raw["values"]
    named.update(setup_s=e["setup_s"], mem_peak_mb=v["jvm.mem_peak_mb"],
                 calib_cpu_s=v["host.calib_cpu_s"],
                 calib_io_s=v["host.calib_io_s"])
    return " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                    for k, v in named.items())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    run_dir = os.path.join(HERE, ".run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        raw = run_jvm(cp, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for c in raw["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    print(f"[loopbench] {args.workload} seed={args.seed} "
          f"{summary(raw, args.trace)}")
    print(json.dumps(stats.result(raw, args.trace, spec)))


if __name__ == "__main__":
    main()
