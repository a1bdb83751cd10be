#!/usr/bin/env python3
"""Build the engine plus the benchmark from source and run one workload.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles src/main/scala and
perfbench/scala with the Scala compiler that ships in $SPARK_HOME/jars (about
half a minute on 4 cores) into .perfbench/build; later runs reuse it while
the sources are unchanged. Each run writes its inputs, stores, spans and a
full result file under .perfbench/runs/<workload>-s<seed>-t<trace>/.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it is the run's full record:
environment, sizes, per-operation medians, named metrics and spans. The exit
code is non-zero when any output check failed or the run could not start.
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

sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")
RUN_TIMEOUT_S = 170
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Spark on JDK 17 needs these outside spark-submit (the same list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must point at a Spark distribution (its jars/ hold Spark and the Scala compiler)")
    return os.path.join(home, "jars")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        die("no java on PATH and JAVA_HOME unset")
    return found


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Engine.scala")):
        die("engine sources not found: run from the root of a full checkout")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile once per source tree; returns the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    classes = os.path.join(STATE, "build", key)
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, key
    builds = os.path.join(STATE, "build")
    if os.path.isdir(builds):
        shutil.rmtree(builds)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    # no hsperfdata file in the system temp dir: a run writes only inside
    # its checkout
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx3g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        die("compilation failed", 3)
    open(os.path.join(classes, ".done"), "w").close()
    return classes, key


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def validate(line, trace):
    """The result line's shape; returns the parsed object or an error."""
    try:
        res = json.loads(line)
    except ValueError:
        return None, "last line is not JSON"
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None, f"result keys {sorted(res)}"
    if not isinstance(res["attempted"], int) or res["attempted"] < 1 or not isinstance(res["failed"], int):
        return None, "attempted/failed must be whole numbers, attempted >= 1"
    names = list(res["metrics"])
    bad = [n for n in names if not NAME.match(n)]
    if bad:
        return None, f"invalid metric names {bad}"
    want = expected_metrics(trace)
    if sorted(names) != sorted(want):
        return None, f"metrics {sorted(set(names) ^ set(want))} differ from BENCHMARK.json"
    for n, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            return None, f"metric {n} is not a measured number: {m}"
    return res, None


def jvm_cmd(classes, main, args, tmp):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return [java_bin(), "-XX:-UsePerfData", "-Xmx2g", "-Xss4m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}"] + opts + [
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main] + args


def run_jvm(cmd, env, log_path):
    """Run the JVM in its own process group; stop the group on timeout or
    when this script is told to stop, and wait for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, cwd=ROOT,
                             text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, f"run exceeded {RUN_TIMEOUT_S} s and was stopped"
    return (p.returncode, out), None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    classes, key = build()
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env.pop("SPARK_GRAFT_TMPDIR", None)

    if a.selftest:
        tmp = os.path.join(STATE, "selftest")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(jvm_cmd(classes, "perfbench.SelfTest", [], tmp), env=env, cwd=ROOT)
        sys.exit(r.returncode)

    if a.workload is None or a.seed is None or a.seconds is None:
        die("need --workload, --seed and --seconds")
    work = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark scratch stays in the checkout; SPARK_LOCAL_DIRS would override it
    env["SPARK_GRAFT_LOCAL_DIR"] = env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--commit", f"src-{key}"]
    log_path = os.path.join(work, "jvm.log")
    res, err = run_jvm(jvm_cmd(classes, "perfbench.Main", args, tmp), env, log_path)
    # stores and inputs are large; keep the record, the spans and the log
    for d in ("input", "stores", "tmp", "local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if err:
        die(err, 4)
    code, out = res
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"the run printed no result (exit {code}); log: {log_path}", 5)
    parsed, why = validate(lines[-1], a.trace)
    if parsed is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"bad result line ({why}); log: {log_path}", 6)
    if len(lines) > 1:
        print(lines[-2])
    print(lines[-1])
    if code != 0 or not parsed["correct"] or parsed["failed"] > 0:
        sys.exit(1)


if __name__ == "__main__":
    main()
