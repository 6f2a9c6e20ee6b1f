#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark harness (`perfbench/harness`) into one jar,
using the Scala compiler that ships in Spark's `jars/`, then records a
class-data-sharing archive of the classes one execution of every
benchmark query loads, so each run's JVM starts without re-loading and
re-verifying them.

The output lives under the build directory (`$CARGO_TARGET_DIR` when
set, else `.bench_build` at the repository root) and is keyed by a hash
of every input, so an unchanged tree is built once.

Usage: python3 perfbench/build.py   (prints the output directory)
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "perfbench" / "harness"
MAIN = ROOT / "src" / "main" / "scala"
HEAP = "2g"
JVM_TIMEOUT_S = 170
# The JDK 17 module openings Spark needs outside spark-submit, as in the
# repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    if not MAIN.is_dir():
        raise SystemExit(f"build: no sources at {MAIN.relative_to(ROOT)}")
    files = sorted(MAIN.rglob("*.scala")) + sorted(HARNESS.rglob("*.scala"))
    return files


def build():
    """Compile and record the archive if needed; return the output directory."""
    files = sources()
    h = hashlib.sha256()
    # the recipe and the archived query list are inputs too
    for f in files + [Path(__file__).resolve(), ROOT / "perfbench" / "workloads.json"]:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    out = build_dir() / "classes" / h.hexdigest()[:16]
    if (out / ".done").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    jars = str(spark_jars() / "*")
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    steps = [
        ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp / "classes"), "-classpath", jars, f"@{argfile}"],
        ["jar", "cf", str(tmp / "app.jar"), "-C", str(tmp / "classes"), "."],
    ]
    for cmd in steps:
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"build: {cmd[0]} failed")
    shutil.rmtree(tmp / "classes")
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    record_archive(out)
    (out / ".done").touch()
    return out


def record_archive(out):
    """Run every benchmark query once with -XX:ArchiveClassesAtExit. A
    JVM whose archive is missing or stale loads its classes from the jars
    instead, so the archive only changes start-up time."""
    workloads = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
    (sf,) = {w["sf"] for w in workloads.values()}
    names = [q for w in workloads.values() for q in w["queries"]]
    print("build: recording the class-data-sharing archive", file=sys.stderr, flush=True)
    work = out / "archive-run"
    try:
        jvm(out, "pin", ["--queries", ",".join(names),
                         "--data", str(ROOT / "perfbench" / "data" / sf)],
            work, out / "archive-run.log", [f"-XX:ArchiveClassesAtExit={out / 'app.jsa'}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def jvm(out, mode, args, run_dir, log, flags=()):
    """Run one `perfbench.PerfBench` JVM on the build `out`, with a fixed
    heap and a fresh, private tmpdir (which also holds the warehouse),
    `spark.local.dir` and working directory under `run_dir`; return its
    result JSON. `run_dir` must not exist yet."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    result = run_dir / "result.json"
    # ParallelGC: on a 4-core box it halved the run-to-run spread of cpu_s
    # against G1, and RSS tracks live data instead of the whole fixed heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC", "-cp", f"{out / 'app.jar'}{os.pathsep}{spark_jars() / '*'}"]
    if (out / "app.jsa").exists():
        cmd.append(f"-XX:SharedArchiveFile={out / 'app.jsa'}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += list(flags) + ["perfbench.PerfBench", mode, "--out", str(result)] + list(args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on KeyboardInterrupt / SystemExit from a signal
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not result.exists():
        tail = Path(log).read_text(errors="replace").splitlines()[-30:]
        raise RuntimeError(f"JVM {mode} failed ({rc}):\n" + "\n".join(tail))
    return json.loads(result.read_text())


if __name__ == "__main__":
    print(build())
