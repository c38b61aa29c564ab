#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps:
  1. Build offline (first run only, or when a source changed): sbt
     compiles the repository's main sources and the benchmark code in
     `perfbench/src` and records the runtime classpath. Compilation is
     part of no metric.
  2. Set-up (timed as `setup_s`): generate the workload's inputs from the
     seed, start the JVM and the Spark session, prepare inputs.
  3. The benchmark JVM (`graftbench.Main`) runs a cold pass, then whole passes
     until `--seconds` have passed and at least the workload's
     `minops` ops were timed.
  4. Outside the timed region the checker (`check.py`) compares the
     outputs against DuckDB and the workload's own properties.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the spans go to
`.bench_out/traces/<workload>-s<seed>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ROOT / ".bench_build"
OUT_DIR = ROOT / ".bench_out"
JVM_TIMEOUT_S = 150
JVM_HEAP = "2g"

# Inputs and pass shape per workload; README.md explains each choice.
# `minops` is the least number of ops the timed region holds.
WORKLOADS = {
    # sf0.1 `events` statistics: 1,500 keys, batches of 2,000 events
    # (about 1,100 keys, 1.8 events a key, per batch); fewer batches.
    "flight_tracks": {"events": (18_000, 1_500, 2_000),
                      "args": {"batches": 9, "batchsize": 2_000, "minops": 18}},
    "sql_gates": {"sf": 0.01, "events": (10_000, 150), "args": {"minops": 30}},
    "table_commits": {"sf": 0.01, "args": {"slices": 4, "minops": 34}},
}

END_TO_END = {"ops_per_s": "ops/s", "op_p50_ms": "ms", "op_p90_ms": "ms",
              "cold_pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def layer_unit(name):
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("write_amplification"):
        return "ratio"
    return "count"


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so edits trigger a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_build():
    """Return the runtime classpath, building first if needed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: no graft sources next to perfbench/; "
                         "run from the root of a graft checkout")
    BUILD_DIR.mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file = BUILD_DIR / "classpath.txt"
    stamp_file = BUILD_DIR / "stamp"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_log = BUILD_DIR / "build.log"
    log(f"building (log: {build_log})")
    with open(build_log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        sys.stderr.write(build_log.read_text()[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    cp = (HERE / "target" / "classpath.txt").read_text().strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, workload, data, work, seconds, trace, t0_ms):
    cfg = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    args = {"workload": workload, "data": data, "work": work,
            "seconds": seconds, "trace": trace, "t0ms": t0_ms,
            "cores": cores, **cfg["args"]}
    if "sf" in cfg:
        args["maxkey"] = gen.n_orders(cfg["sf"])
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(jvm_log.read_text()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    sys.stderr.write("".join(l for l in jvm_log.read_text().splitlines(True)
                             if l.startswith("[perfbench]")))
    return json.loads((work / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = ensure_build()

    t0 = time.time()  # set-up starts here: inputs, JVM, session
    run_dir = OUT_DIR / f"{a.workload}-s{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = run_dir / "data", run_dir / "work"
    cfg = WORKLOADS[a.workload]
    gen.generate(data, a.seed, sf=cfg.get("sf"), events=cfg.get("events"))
    try:
        res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace,
                      int(t0 * 1000))
        problems = check.check(a.workload, work / "out", data)
        for p in problems:
            log(f"check: {p}")
        if a.trace:
            traces = OUT_DIR / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "trace.json",
                        traces / f"{a.workload}-s{a.seed}.json")
            log(f"traced end-to-end (not a result): {json.dumps(res['metrics'])}")
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in res["layers"].items()}
        else:
            metrics = {k: {"value": res["metrics"][k], "unit": u}
                       for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
