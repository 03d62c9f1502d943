#!/usr/bin/env python3
"""Launcher for the graft benchmark.

Run from the repository root:

    python3 graftbench/run.py --workload kafsql_interactive --seed 1 --seconds 20 --trace 0

It builds the benchmark package (graftbench/build.sbt, which compiles the
library sources under src/main/scala with the benchmark's own) whenever the
sources differ from those the classes were built from, then runs one JVM with a fixed heap in a fresh run directory
under graftbench/target/runs that is deleted at exit. The last stdout line
is the result object printed by graftbench.Main.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
HEAP = "2g"
WORKLOADS = ("kafsql_interactive", "ingest_etl", "cdc_upsert")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compiles unless the classes directory was built from these sources;
    returns the runtime classpath. Every build writes the same classes
    directory, so target/built-stamp names the sources it holds: sources
    that go back to an earlier state are rebuilt too."""
    stamp_file = os.path.join(TARGET, "built-stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
        os.remove(stamp_file)  # the classes are about to change
    log("building (the classes are not built from these sources)")
    # sbt's global state, ivy home and temp files stay under target/
    sbt_home = os.path.join(TARGET, "sbt-home")
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.ivy.home={sbt_home}/ivy",
           f"-Djava.io.tmpdir={sbt_home}/tmp", "-Dsbt.boot.lock=false",
           # the boot server's socket would sit under the temp dir, and a
           # deep checkout exceeds the Unix socket path limit: boot without it
           "-Dsbt.server.forcestart=true",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip())
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed (exit {p.returncode})")
        sys.exit(3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("library sources (src/main/scala/graft) not found; run from a full checkout")
        sys.exit(2)

    stamp = source_stamp()
    classpath = build(stamp)
    run_dir = os.path.join(TARGET, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override the per-run scratch
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", os.path.join(run_dir, "data"),
            "--state", os.path.join(TARGET, "state", stamp)]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        stdout, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        log("run timed out")
        sys.exit(4)
    finally:
        if proc.poll() is None:
            stop()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM failed (exit {proc.returncode})")
        sys.exit(5)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
