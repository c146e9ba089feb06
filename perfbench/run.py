#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (one jar
under .bench_build/, keyed by a hash of every source file, plus a
class-data-sharing archive recorded by the first run), then runs the workload in a fresh JVM with a fresh scratch root,
deletes the scratch root afterwards, and saves a copy of the run's
output under .bench_build/results/ for perfbench/compare.py. The last
line of stdout is the result JSON.

Needs a JDK (`java` on PATH or JAVA_HOME) and a Spark 4 distribution
(SPARK_HOME, or `spark-submit` on PATH), whose jars include the Scala
2.13 compiler.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
RUN_LIMIT_S = 175  # one run, after any build
BUILD_LIMIT_S = 700

JVM_OPTS = [
    "-Xmx2g", "-Xss8m",
    "-Xlog:disable", "-Xlog:all=error:stderr",  # JVM log lines stay off stdout
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH and no JAVA_HOME")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        fail(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}; "
             "run from the root of a full checkout")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build(java, jars, srcs):
    """Compile program + benchmark into one jar per source hash."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    jar = BUILD / f"perfbench-{h.hexdigest()[:16]}.jar"
    if jar.exists():
        return jar
    BUILD.mkdir(exist_ok=True)
    for stale in BUILD.glob("perfbench-*.j*"):  # builds of other sources
        stale.unlink()
    tmp = BUILD / f"tmp-{os.getpid()}.jar"
    argfile = BUILD / f"tmp-{os.getpid()}.sources"
    argfile.write_text("\n".join(f'"{f}"' for f in srcs))
    cp = str(jars / "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    try:
        r = subprocess.run([java, "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                           stdout=sys.stderr, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            fail("compilation failed", 3)
        tmp.rename(jar)
    finally:
        argfile.unlink()
        tmp.unlink(missing_ok=True)
    return jar


def class_sharing(jar):
    """JVM options for a class-data-sharing archive of this build.

    The first run of a build records the classes it loads into the archive
    as it exits; later runs map them instead of loading ~20k classes anew,
    which takes seconds off every JVM start. Returns (options, pending
    archive to move into place after a clean exit, or None).
    """
    archive = jar.with_suffix(".jsa")
    if archive.exists():
        return [f"-XX:SharedArchiveFile={archive}"], None
    pending = jar.with_suffix(f".jsa.{os.getpid()}")
    return [f"-XX:ArchiveClassesAtExit={pending}"], pending


def run_jvm(cmd, env, cwd, limit):
    """Run the benchmark JVM, echoing its stdout; kill it at `limit` s."""
    p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    lines = []
    deadline = time.monotonic() + limit
    try:
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            print(lines[-1], flush=True)
            if time.monotonic() > deadline:
                raise subprocess.TimeoutExpired(cmd, limit)
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {limit} s", 4)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    srcs = sources()
    java, jars = java_bin(), spark_jars()
    jar = build(java, jars, srcs)
    cds_opts, pending = class_sharing(jar)

    scratch = BUILD / "scratch" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    env = dict(os.environ, GRAFT_SCRATCH=str(scratch), PERFBENCH_STATE=str(BUILD / "state"))
    cmd = [java, *JVM_OPTS, *cds_opts, f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-cp", f"{jar}{os.pathsep}{jars / '*'}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace]
    code = None
    try:
        code, lines = run_jvm(cmd, env, scratch, RUN_LIMIT_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        if pending is not None:
            if code == 0 and pending.exists():
                pending.rename(jar.with_suffix(".jsa"))
            else:
                pending.unlink(missing_ok=True)

    record = {"workload": a.workload, "seed": a.seed, "trace": int(a.trace)}
    for line in lines:
        for tag in ("hw", "detail"):
            if line.startswith(tag + " "):
                record[tag] = json.loads(line[len(tag) + 1:])
    try:
        record["result"] = json.loads(lines[-1]) if lines else None
    except ValueError:
        record["result"] = None
    if record["result"] is not None:
        saved = BUILD / "results" / a.workload
        saved.mkdir(parents=True, exist_ok=True)
        (saved / f"{time.strftime('%Y%m%dT%H%M%S')}-s{a.seed}-t{a.trace}-{os.getpid()}.json"
         ).write_text(json.dumps(record))
    if code != 0:
        fail(f"workload exited with code {code}" + (" (an output check failed)" if code == 1 else ""),
             code)
    if record["result"] is None:
        fail("no result line", 5)


if __name__ == "__main__":
    main()
