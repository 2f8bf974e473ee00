#!/usr/bin/env python3
"""Importer benchmark: builds the program from source, generates the
workload's inputs from the seed, runs `Pipeline.run` ops in a fresh JVM,
checks every op against an independent answer key, and prints the
metrics as one JSON object on the last line of stdout.

    python3 perfbench/run.py --workload import_bulk --seed 1 --seconds 6 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs the traced JVM
and prints the per-layer metrics. --yardstick runs the reference's own
SQL stages in DuckDB on the same generated files instead (context only,
never a gated metric). Run from the repository root; everything it
builds or writes stays under .bench_build/ there.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"
# a run must end within this many seconds of starting
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s",
              "rows_per_s": "1/s", "peak_rss_mb": "MiB"}

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def run_checked(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def compile_scala(srcs, classpath, out, deadline, logf):
    os.makedirs(out)
    jars = [os.path.join(spark_jars(), f"scala-{n}-{SCALA}.jar")
            for n in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            raise BenchError(f"missing Scala toolchain jar {j}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    if run_checked(cmd, deadline, stdout=logf, stderr=subprocess.STDOUT) != 0:
        logf.flush()
        with open(logf.name, errors="replace") as f:
            sys.stderr.writelines(f.readlines()[-20:])
        raise BenchError(f"compilation failed, see {logf.name}")


def build(deadline):
    """Compile src/main and the benchmark driver once per source state."""
    main_srcs = sources("src/main")
    bench_srcs = sources("perfbench/scala")
    if not main_srcs:
        raise BenchError("no program sources under src/main")
    h = hashlib.sha256()
    for f in main_srcs + bench_srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "classes.stamp")
    main_cls, bench_cls = os.path.join(BUILD, "classes", "main"), os.path.join(BUILD, "classes", "bench")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return main_cls, bench_cls
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the benchmark driver from source")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        spark_cp = os.path.join(spark_jars(), "*")
        compile_scala(main_srcs, spark_cp, main_cls, deadline, logf)
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, main_cls, dirs_exist_ok=True)
        compile_scala(bench_srcs, f"{main_cls}:{spark_cp}", bench_cls, deadline, logf)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return main_cls, bench_cls


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(classpath, work, args, deadline, logf):
    """One benchmark JVM; returns its result.json."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap keeps peak RSS from following the GC's
    # heap-sizing decisions, which vary from run to run
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classpath, "perfbench.Driver", "--work", work, "--cpus", str(cpus())] + args +
           ["--launched", repr(time.time())])
    code = run_checked(cmd, deadline, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
    if code != 0 or not os.path.exists(result):
        raise BenchError(f"benchmark JVM exited with {code}")
    with open(result) as f:
        return json.load(f)


def forward_log(path, tail=0):
    """Copy perfbench.Driver's own lines (failed checks) and, when the JVM
    died, the log's last lines to stderr: the log goes with the work
    directory."""
    with open(path, errors="replace") as f:
        lines = f.readlines()
    sys.stderr.writelines(line for line in lines if line.startswith("[perfbench]"))
    if tail:
        sys.stderr.writelines(lines[-tail:])


def bench(a, deadline):
    main_cls, bench_cls = build(deadline)
    classpath = ":".join([bench_cls, main_cls, os.path.join(spark_jars(), "*")])
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    jvm_log = os.path.join(work, "jvm.log")
    try:
        gen.generate(a.workload, work, a.seed)
        try:
            with open(jvm_log, "w") as logf:
                res = jvm(classpath, work, ["--seconds", str(a.seconds), "--trace", str(a.trace)],
                          deadline, logf)
        except BaseException:
            forward_log(jvm_log, tail=30)
            raise
        forward_log(jvm_log)
        if a.trace:
            with open(os.path.join(BUILD, f"trace-{a.workload}.json"), "w") as f:
                json.dump(res.get("spans", []), f)
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["per_layer"].items()}
        else:
            metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
            log(f"warm round means {res['warm_round_s']}")
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
        print(f"failed_frac {res['failed'] / res['attempted']:.6g} ratio")
        return {"correct": res["failed"] == 0, "attempted": res["attempted"],
                "failed": res["failed"], "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sinks.bytes_written":
        return "bytes"
    if name.endswith(("_frac", "cpu_util")):
        return "ratio"
    return "count"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--yardstick", action="store_true",
                   help="run the reference's SQL stages in DuckDB on the same inputs")
    a = p.parse_args()
    # a terminated run still kills its JVM (run_checked's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    try:
        if a.yardstick:
            import yardstick
            result = yardstick.run(a.workload, a.seed, os.path.join(BUILD, "yardstick"))
        else:
            os.makedirs(BUILD, exist_ok=True)
            # the first run in a checkout builds and may take longer
            first = not os.path.exists(os.path.join(BUILD, "classes.stamp"))
            result = bench(a, start + (880 if first else DEADLINE_S))
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
