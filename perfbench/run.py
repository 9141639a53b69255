#!/usr/bin/env python3
"""graft benchmark: build graft and the benchmark from source, run one
workload in a fresh JVM, check its outputs and print one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds N --trace 0|1

Run it from the root of a source tree. The build goes to .bench_build/
(reused while the sources are unchanged); each run works in its own
directory under .bench_work/ and removes it at the end; a full record of
every run (host diagnostics, run facts, spans) goes to .bench_runs/.
The last line of standard output is the result:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")
WORKLOADS = ["broker_dashboard", "ingest_compact", "pipeline_dedup"]
RUN_TIMEOUT_S = 170
# Fixed resources, independent of the host: one heap size, one CPU count
# for the JVM's own sizing; Spark runs local[3] inside (Main.scala).
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
    "-XX:ActiveProcessorCount=4", "-Xss4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    if not main:
        fail("no graft sources under src/main/scala; run from the root of a graft source tree")
    if not bench:
        fail(f"no benchmark sources under {BENCH_SRC}")
    return main, res, bench


def spark_jars():
    """The Spark jars graft builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("Spark jars not found: no unmanagedBase in build.sbt and no SPARK_HOME")


def source_key(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build():
    """Compile graft's main sources and the benchmark in one scalac run."""
    main, res, bench = sources()
    jars = spark_jars()
    key = source_key(main + res + bench, jars)
    base = os.path.join(ROOT, ".bench_build")
    out = os.path.join(base, f"graftbench-{key}")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, key, jars
    os.makedirs(base, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    os.remove(argfile)
    res_root = os.path.join(ROOT, "src/main/resources")
    for r in res:
        dst = os.path.join(tmp, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    for old in glob.glob(os.path.join(base, "graftbench-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    with open(os.path.join(out, ".ok"), "w") as f:
        f.write(f"built in {time.time() - t0:.1f}s\n")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return out, key, jars


def cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return [int(x) for x in parts]


def steal_pct(a, b):
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    return 100.0 * (d[7] if len(d) > 7 else 0) / total


class StealSampler(threading.Thread):
    """Samples the host's steal share once a second while the JVM runs."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples = []
        self.done = threading.Event()

    def run(self):
        prev = cpu_times()
        while not self.done.wait(1.0):
            cur = cpu_times()
            self.samples.append([int(time.time() * 1000), round(steal_pct(prev, cur), 2)])
            prev = cur


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def commit(key):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=5)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"sources-{key}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="also write this run's record to this file")
    ap.add_argument("--malformed", type=int, choices=[0, 1], default=0,
                    help="self-check: replace one broker request by one the broker must "
                         "refuse; the run must then report a failure and exit 1")
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        fail("--seconds must be in [1, 60]")

    classes, key, jars = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    flags = JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java"] + flags + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
                              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--work", work, "--malformed", str(a.malformed)]
    cpu0, t0 = cpu_times(), time.time()
    sampler = StealSampler()
    sampler.start()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            cwd=work, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    sampler.done.set()
    sampler.join()
    cpu1 = cpu_times()
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-8000:])
        fail(f"benchmark JVM exited with code {proc.returncode}")
    res = json.loads(lines[-1][len("GRAFTBENCH "):])
    record = res.pop("record", {})
    host = {
        "nproc": os.cpu_count(),
        "steal_pct": steal_pct(cpu0, cpu1),
        "loadavg_1m": loadavg(),
        "jvm_flags": flags,
        "commit": commit(key),
        "wall_s": time.time() - t0,
        "steal_timeline": sampler.samples,
    }
    if a.trace:
        res["metrics"]["host.steal_pct"] = {"value": host["steal_pct"], "unit": "%"}
        res["metrics"]["host.loadavg_1m"] = {"value": host["loadavg_1m"], "unit": "load"}
    runs = os.path.join(ROOT, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json"
    full = {"args": vars(a), "host": host, "record": record, "result": res,
            "stderr_tail": err[-4000:]}
    for path in [os.path.join(runs, name)] + ([a.record] if a.record else []):
        with open(path, "w") as f:
            json.dump(full, f)
    for k, v in res["metrics"].items():
        print(f"{k} = {v['value']} {v['unit']}", file=sys.stderr)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
