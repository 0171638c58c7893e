#!/usr/bin/env python3
"""Run one workload of the graft CDC benchmark and print its result.

    python3 perfbench/run.py --workload trickle_delta --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine sources
(src/main/scala) and the harness (perfbench/scala) with the Scala
compiler that ships with Spark into .bench_build/; later runs reuse the
classes while the sources are unchanged. Each run works in a fresh
directory under .bench_work/ and deletes it afterwards; a traced run
also leaves its spans in .bench_out/.

The last line on stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, as BENCHMARK.json at the repository root names them. The
exit code is 0 only when every operation succeeded, every output matched
its oracle and every metric was recorded.

Needs: java (17+), python3, and SPARK_HOME pointing at a Spark 4
installation whose jars/ holds the Scala 2.13 compiler and library.
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

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170  # a run must end within 180 s

# The workloads, each with the name prefixes of the per-layer metrics of
# layers it does not run: a traced run of that workload reports those as
# 0. Any other per-layer metric it does not record fails the run.
WORKLOADS = {
    "bulk_merge": ("stream.", "sources.", "table.compact", "table.expire_s",
                   "table.vacuum_s", "table.snapshot_read_s"),
    "trickle_delta": ("bulk.", "scaling_eff"),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def sources():
    """Every source file the build compiles, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("no BENCHMARK.json in the working directory: run from the repository root")
    with open(path) as f:
        return json.load(f)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        die("SPARK_HOME must point at a Spark installation with a jars/ directory")
    return jars


def build():
    """Compile engine + harness into BUILD/classes unless already current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no src/main/scala under the working directory: run from the repository root")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    log(f"compiling {len(srcs)} source files")
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-6000:])
        die("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def sweep():
    """Remove run directories that killed runs left behind."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.rsplit("-", 1)[-1]
        alive = False
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
                alive = True
            except OSError:
                alive = False
        if not alive:
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


class Jvm:
    """One benchmark JVM; its stderr goes to a log file in the work dir."""

    def __init__(self, classes, work, tag, heap, args):
        self.log_path = os.path.join(work, f"{args.get('workload')}-{tag}.log")
        tmp = os.path.join(work, f"tmp-{tag}")
        os.makedirs(tmp, exist_ok=True)
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        # a fixed-size heap: peak RSS then tracks the heap the run touches,
        # not when the collector chose to grow it; the JIT compiles hot code
        # at 0.3 of its default invocation counts, so that the warm-up in
        # set-up reaches compiled code
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
                "-XX:CompileThresholdScaling=0.3",
                f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + opens
               + ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
                  "graftbench.Main"]
               + [f"{k}={v}" for k, v in args.items()])
        self.spawned = time.time()
        self.err = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.err, text=True)

    def result(self, deadline):
        try:
            out, _ = self.proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.kill()
            self.tail()
            die("benchmark JVM exceeded the time limit", 3)
        finally:
            self.err.close()
            os.makedirs(OUT, exist_ok=True)
            shutil.copy(self.log_path, os.path.join(OUT, os.path.basename(self.log_path)))
        lines = [ln for ln in out.splitlines() if ln.startswith("@@graftbench ")]
        if self.proc.returncode != 0 or not lines:
            self.tail()
            die(f"benchmark JVM failed (exit {self.proc.returncode})", 3)
        res = json.loads(lines[-1][len("@@graftbench "):])
        for e in res["errors"]:
            log(f"failure: {e}")
        m = res["metrics"]
        # JVM start and Spark session creation belong to set-up
        if "setup_rest_s" in m and "session_ready_ms" in m:
            m["setup_s"] = (m["session_ready_ms"] / 1000.0 - self.spawned) + m["setup_rest_s"]
        return res

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()

    def tail(self):
        with open(self.log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))


def run(args):
    benchmark()
    classes = build()
    sweep()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + DEADLINE_S
    nproc = os.cpu_count() or 1
    base = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "work": work,
            "trace_out": os.path.join(OUT, f"{args.workload}-seed{args.seed}.jsonl")}
    jvms = []
    try:
        main = Jvm(classes, work, "main", "2g", dict(base, cores=nproc))
        jvms.append(main)
        res = main.result(deadline)
        m = res["metrics"]
        if args.workload == "bulk_merge" and args.trace:
            # the single-thread baseline, fresh JVM, same feed, untraced
            one = Jvm(classes, work, "one", "2g",
                      dict(base, cores=1, trace=0, gen=0, feed=os.path.join(work, "feed"),
                           replays=1, warm_replays=1))
            jvms.append(one)
            r1 = one.result(deadline)
            res["attempted"] += r1["attempted"]
            res["failed"] += r1["failed"]
            rate1 = r1["metrics"]["events_per_s"]
            m["bulk.events_per_s_1core"] = rate1
            m["scaling_eff"] = m["events_per_s"] / rate1 / nproc
            bw = m["host.membw_gbs_n"] / m["host.membw_gbs_1"]
            m["scaling_eff_vs_membw"] = (m["events_per_s"] / rate1) / bw
    finally:
        for j in jvms:
            j.kill()
        shutil.rmtree(work, ignore_errors=True)

    bench = benchmark()
    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    bypassed = WORKLOADS[args.workload]
    out, missing = {}, []
    for d in names:
        n = d["name"]
        v = m.get(n)
        if v is None and args.trace and n.startswith(bypassed):
            v = 0.0
        if not isinstance(v, (int, float)) or v != v or (not args.trace and v <= 0):
            missing.append(n)
            continue
        out[n] = {"value": v, "unit": d["unit"]}
    if missing:
        log(f"metrics missing or not positive: {', '.join(missing)}")
    failed = res["failed"] + len(missing)
    attempted = max(1, res["attempted"])
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


def selftest():
    classes = build()
    work = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        j = Jvm(classes, work, "selftest", "1g", {"workload": "selftest"})
        out, _ = j.proc.communicate(timeout=DEADLINE_S)
        j.err.close()
        if j.proc.returncode != 0:
            j.tail()
        sys.stdout.write(out)
        return j.proc.returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated run still stops its JVMs and removes its work dir
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _f: sys.exit(128 + n))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["selftest"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "selftest":
        return selftest()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
