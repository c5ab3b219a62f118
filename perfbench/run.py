#!/usr/bin/env python3
"""Benchmark entry point for the graft search engine.

Run from the repository root:

    python3 perfbench/run.py --workload search|ingest --seed N --seconds S --trace 0|1

It builds the engine and the Scala harness from source (sbt, offline; the
build is reused while no source file changes), runs one workload in one
JVM on local[4], and relays the harness output. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set (see BENCHMARK.json and perfbench/README.md).

Everything it writes stays under the build directory (CARGO_TARGET_DIR if
set, else .bench_build) and perfbench/target.
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

WORKLOADS = ("search", "ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src", "main"),
            os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, out_dir):
    """Compile with sbt and return the runtime classpath (cached by stamp)."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, "build.log")
    cmd = ["sbt", f"-Dsbt.global.base={os.path.join(out_dir, 'sbt-global')}",
           "-Dsbt.server.autostart=false", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "wb") as lf:
        code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                              stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL)
        if out:
            lf.write(out)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}", 3)
    lines = [l for l in out.decode("utf-8", "replace").splitlines()
             if "scala-library" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def heap():
    """Half the machine's memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store the answer digests of the default seed (search)")
    args = ap.parse_args()
    # a terminated run must not leave its JVM behind: turn SIGTERM into an
    # exception, which run_group answers by killing the process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    if not os.path.isfile(os.path.join(root, "perfbench", "build.sbt")):
        fail("perfbench/build.sbt not found; run from the repository root")
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not os.path.isabs(out_dir):
        out_dir = os.path.abspath(out_dir)
    cp = build(root, out_dir)

    # every run starts from empty scratch: indexes are always built, and
    # checked, by the code under test
    work = os.path.join(out_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dperfbench.expected={os.path.join(root, 'perfbench', 'expected')}",
           f"-Dperfbench.record={'true' if args.record else 'false'}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    log = os.path.join(out_dir, "work", f"{args.workload}.log")
    t0 = time.time()
    with open(log, "wb") as lf:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                              stderr=lf, stdin=subprocess.DEVNULL)
    # keep the spans and logs, drop the indexes
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 4)
    text = out.decode("utf-8", "replace")
    sys.stdout.write(text)
    if code != 0:
        fail(f"harness exited {code} after {time.time() - t0:.0f} s; see {log}", 5)
    lines = [l for l in text.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("harness printed no result line", 5)


if __name__ == "__main__":
    main()
