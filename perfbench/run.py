#!/usr/bin/env python3
"""Pipeline benchmark for graft: sustained ingest and mixed search.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library together with the benchmark (sbt, offline) when the
sources changed since the last build, then runs one workload in a fresh
JVM and prints its result object as the last stdout line. Everything the
run writes stays under perfbench/ (.build, .work, .results).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("ingest_stream", "search_mixed")
JVM_TIMEOUT_S = 170
# A fixed heap, so runs differ only in the code they run.
HEAP = "3g"
BUILD_TIMEOUT_S = 880
# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the root build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft sources (src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(BUILD, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dperfbench.sparkJars={spark_jars()}",
           "export Runtime/fullClasspath"]
    print("perfbench: building (sbt) ...", file=sys.stderr)
    out = run_child(cmd, HERE, BUILD_TIMEOUT_S)
    # the exported classpath is the one output line that lists jars
    lines = [ln.strip() for ln in (out or "").splitlines()
             if ".jar" in ln and " " not in ln.strip()]
    if not lines:
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_child(cmd, cwd, timeout):
    """Run `cmd` in its own process group; stderr passes through. Returns
    stdout, or None when it failed or timed out (the whole group is then
    killed and reaped)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print(f"perfbench: {cmd[0]} timed out after {timeout} s",
              file=sys.stderr)
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    if p.returncode != 0:
        sys.stderr.write(out or "")
        return None
    return out


def main():
    # a terminated run still stops its JVM (run_child kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    cp = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    jvm += ["-cp", cp, "graft.perfbench.Main", "--work", work]
    if a.selftest:
        jvm += ["--selftest"]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--results", os.path.join(HERE, ".results")]
    t0 = time.time()
    try:
        out = run_child(jvm, ROOT, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"benchmark JVM failed after {time.time() - t0:.1f} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("the benchmark JVM printed no result line")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0 if a.selftest is False or result.get("ok") else 1


if __name__ == "__main__":
    sys.exit(main())
