#!/usr/bin/env python3
"""Run one benchmark workload and print its one-line JSON summary.

    python3 perfbench/run.py --workload annotate_service --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse
the build while no source file has changed. The harness prints
`PERFBENCH_RESULT {...}`; this script checks it against BENCHMARK.json,
attaches units, and prints the summary as the last stdout line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
SUMMARY_KEYS = {"correct", "attempted", "failed", "metrics"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def expected_metrics(spec, trace):
    """name -> unit of the metrics a run with this trace flag reports."""
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def summary_line(result, spec, trace):
    """The one-line summary for a harness result, or BenchError."""
    want = expected_metrics(spec, trace)
    got = result.get("metrics", {})
    if set(got) != set(want):
        raise BenchError("metric names differ from BENCHMARK.json: missing %s, "
                         "extra %s" % (sorted(set(want) - set(got)),
                                       sorted(set(got) - set(want))))
    attempted, failed = result["attempted"], result["failed"]
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": want[k]} for k in sorted(want)},
    }
    line = json.dumps(summary, separators=(",", ":"))
    parse_summary(line, spec, trace)
    return line


def parse_summary(stdout, spec, trace):
    """Strictly parse the summary from the LAST line of `stdout`."""
    lines = stdout.rstrip("\n").split("\n")
    obj = json.loads(lines[-1])
    if not isinstance(obj, dict) or set(obj) != SUMMARY_KEYS:
        raise BenchError("summary keys %s" % sorted(obj) if isinstance(obj, dict)
                         else "summary is not an object")
    if not isinstance(obj["correct"], bool):
        raise BenchError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if type(obj[k]) is not int or obj[k] < 0:
            raise BenchError("%s is not a whole number" % k)
    if obj["attempted"] < 1:
        raise BenchError("nothing attempted")
    if obj["correct"] != (obj["failed"] == 0):
        raise BenchError("correct disagrees with failed")
    want = expected_metrics(spec, trace)
    if set(obj["metrics"]) != set(want):
        raise BenchError("metric names differ from BENCHMARK.json")
    for name, m in obj["metrics"].items():
        if not isinstance(m, dict) or set(m) != {"value", "unit"}:
            raise BenchError("metric %s is not {value, unit}" % name)
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or v != v:
            raise BenchError("metric %s value %r is not a number" % (name, v))
        if m["unit"] != want[name]:
            raise BenchError("metric %s unit %r" % (name, m["unit"]))
    return obj


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size,
                                  st.st_mtime_ns)).encode())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the Spark install behind a spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
        if os.path.isfile(exe) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BenchError("no Spark installation found; set SPARK_HOME")


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or
    when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError("%s timed out after %ds" % (cmd[0], timeout))
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def classpath():
    """Build when sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources src/main/scala/graft not found; "
                         "run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    now = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == now:
                with open(cp_file) as c:
                    return c.read().strip()
    print("[perfbench] building", file=sys.stderr)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=sbt_env(),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise BenchError("build failed")
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        raise BenchError("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(now)
    return cp


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise BenchError("unknown workload %s" % args.workload)
    cp = classpath()
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (args.workload, args.seed,
                                                      args.trace))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    java += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
             "-cp", cp, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--spec", os.path.join(ROOT, "BENCHMARK.json")]
    try:
        code, out = run_bounded(java, RUN_TIMEOUT_S, cwd=ROOT,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True)
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for n in os.listdir(work):
                if n.startswith("spans-"):
                    shutil.move(os.path.join(work, n), os.path.join(traces, n))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not results:
        raise BenchError("harness exited %d without a result" % code)
    line = summary_line(json.loads(results[-1][len("PERFBENCH_RESULT "):]),
                        spec, args.trace)
    for l in out.splitlines():
        if not l.startswith("PERFBENCH_RESULT "):
            print(l)
    print(line)


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BenchError as e:
        print("[perfbench] error: %s" % e, file=sys.stderr)
        sys.exit(2)
