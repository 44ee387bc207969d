#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <etl_orders|battery_driver|battery_exec>
        --seed N --seconds S --trace 0|1 [--cores 4] [--heap 3g]

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/scala) with the Scala
compiler that ships with the Spark jars named in build.sbt, into
.bench_build/, and writes the battery input tables there. Each run then
gets its own scratch directory under .bench_build/runs/ (java.io.tmpdir,
spark.local.dir, warehouse, every derived-artifact cache), removed when
the run ends.

With --trace 0 the last stdout line is a JSON object whose metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, and the spans are written to .bench_build/traces/.
Wrong outputs make the command exit 1. What each workload runs is in
perfbench/spec.json.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import report  # noqa: E402
import tables  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def load_json(path):
    with open(path) as f:
        return json.load(f)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("build.sbt not found: run from the root of a checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BenchError("no Spark jar directory with a Scala compiler in build.sbt")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def publish(final, make):
    """Build into a private sibling directory, then rename it into place."""
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        make(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def build(jars):
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(os.path.relpath(f, ROOT).encode())
        if f.endswith(".scala"):
            h.update(open(f, "rb").read())

    def compile_to(out):
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", out, "-nowarn",
               "-d", out, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            raise BenchError("compilation failed:\n" + r.stdout[-4000:])

    return publish(os.path.join(BUILD, "classes-" + h.hexdigest()[:16]), compile_to)


def data_dir(sf):
    h = hashlib.sha256(open(os.path.join(HERE, "tables.py"), "rb").read()).hexdigest()[:12]
    return publish(os.path.join(BUILD, "data", f"sf{sf}-{h}"),
                   lambda out: tables.write(sf, out))


def spin_ms():
    """Fixed CPU work timed on this process, a witness of contention."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1000.0


def witness():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "spin_ms": spin_ms()}


def run_jvm(args, spec, classes, jars, run_dir):
    w = spec["workloads"][args.workload]
    jvm_args = [
        "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(args.cores), "--steady-passes", str(w["steady_passes"]),
        "--scratch", os.path.join(run_dir, "scratch"),
        "--out", os.path.join(run_dir, "result.json")]
    if w["kind"] == "etl":
        jvm_args += ["--orders", str(w["orders"]), "--raw-files", str(w["raw_files"])]
    else:
        order = list(w["queries"])
        random.Random(args.seed).shuffle(order)
        jvm_args += ["--data", data_dir(w["sf"]), "--queries", ",".join(order)]
    cmd = (["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", "-Xss8m"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + jvm_args)
    for d in ("tmp", "local", "warehouse", "scratch"):
        os.makedirs(os.path.join(run_dir, d))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        # Spark prefers these over spark.local.dir; the run keeps its own
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        # set-up time runs from here: JVM start is part of it
        cmd += ["--launched-ms", repr(time.time() * 1000.0)]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        tail = open(log_path, errors="replace").read()[-3000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        raise BenchError(f"benchmark JVM {why}; log tail:\n{tail}")
    return load_json(result_path)


def main():
    spec = load_json(os.path.join(HERE, "spec.json"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="3g")
    args = ap.parse_args()

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        before = witness()
        result = run_jvm(args, spec, classes, jars, run_dir)
        after = witness()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    fingerprints = load_json(os.path.join(HERE, "fingerprints.json"))
    w = spec["workloads"][args.workload]
    fps = fingerprints.get(f"sf{w['sf']}", {}) if w["kind"] == "battery" else {}
    attempted, failed = report.failures(result, fps)
    e2e = report.end_to_end(result)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={args.cores} heap={args.heap} passes={len(result['passes'])} "
          f"measured_s={result['measured_s']:.1f}")
    print("witness before: loadavg={loadavg} spin_ms={spin_ms:.1f}".format(**before))
    print("witness after:  loadavg={loadavg} spin_ms={spin_ms:.1f}".format(**after))
    for m in bench["end_to_end"]:
        print(f"  {m['name']} = {e2e[m['name']]:.4f} {m['unit']}")
    for name, first, steady in report.op_table(result):
        print(f"  op {name:<30} first {first:9.1f} ms  steady {steady:9.1f} ms")
    print(f"  fail_frac = {len(failed) / attempted:.4f} ({len(failed)} of {attempted} operations)")
    for pidx, op, why in failed[:20]:
        print(f"  FAILED pass {pidx} {op}: {why}")
    if args.workload == "etl_orders":
        fig = report.etl_figures(result)
        tail = (f"microbatch_p{fig['microbatch_tail_pct']:g}_ms={fig['microbatch_tail_ms']} "
                if fig["microbatch_tail_pct"] else "")
        print(f"  orders={w['orders']} orders_per_s={fig['orders_per_s']:.1f} "
              f"stream_orders_per_s={fig['stream_orders_per_s']:.1f} "
              f"microbatch_p50_ms={fig['microbatch_p50_ms']:.1f} {tail}"
              f"microbatch_samples={fig['microbatch_samples']}")

    if args.trace:
        layers = report.per_layer(result)
        traced = [p["index"] for p in result["passes"] if p["traced"]]
        for idx in traced[:1] + traced[-1:]:
            wall = next(p["wall_ms"] for p in result["passes"] if p["index"] == idx)
            print(f"wall by layer, pass {idx} ({'first' if idx == 0 else 'steady'}), "
                  f"wall {wall:.0f} ms")
            for name, ms, share in report.wall_by_layer(result, idx):
                print(f"  {name:<40} {ms:10.1f} ms {100 * share:6.1f}%")
        print(f"tracing overhead: {layers['trace.overhead_ms']:.1f} ms per steady pass")
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(result["spans"], f)
        values = layers
        wanted = bench["per_layer"]
    else:
        values = e2e
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
