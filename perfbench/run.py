#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in one JVM and prints its result as the last line of standard output.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The program (src/main) and the benchmark (perfbench/src, and its tests in
perfbench/tests) are compiled with the Scala compiler that ships in
Spark's jars, into jars in the build directory ($CARGO_TARGET_DIR, default
.bench_build). Spark's jars are found where build.sbt's unmanagedBase
points (or in $SPARK_HOME/jars), the test data where TESTDATA.md says (or
in $GRAFT_BENCH_TESTDATA). A build is reused while the sources are unchanged.
The first run of a workload after a build records the classes it loads in
a class-data-sharing archive, which later runs of that workload map
instead of loading and verifying each class again.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# Spark on JDK 17 outside spark-submit (matches build.sbt's javaOptions)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources(*dirs):
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def digest(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def declared(file, pattern, what):
    """The first group of `pattern` in the repo's `file`."""
    m = re.search(pattern, (ROOT / file).read_text()) if (ROOT / file).exists() else None
    if m is None:
        raise SystemExit(f"{file} does not name {what}")
    return Path(m.group(1))


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    return declared("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "the Spark jars")


def testdata():
    if "GRAFT_BENCH_TESTDATA" in os.environ:
        return Path(os.environ["GRAFT_BENCH_TESTDATA"])
    return declared("TESTDATA.md", r"`([^`]+)/sf0\.1/?`", "the test data")


def jars_classpath():
    jars = sorted(spark_jars().glob("*.jar"))
    if not jars:
        raise SystemExit(f"no Spark jars under {spark_jars()}")
    return ":".join(str(j) for j in jars)


def compile_scala(files, jar, classpath, stamp):
    """Compile `files` into `jar` unless `stamp` already records them.
    Returns whether it compiled."""
    stamp_file = jar.with_suffix(".stamp")
    if jar.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return False
    tmp = jar.with_suffix(".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = jar.with_suffix(".args")
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars_classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", classpath]
    t0 = time.time()
    subprocess.run(cmd + [f"@{argfile}"], check=True, timeout=BUILD_TIMEOUT_S,
                   stdout=sys.stderr, cwd=ROOT)
    log(f"compiled {len(files)} files into {jar.name} in {time.time() - t0:.1f} s")
    # a jar, not a directory: class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    stamp_file.write_text(stamp)
    return True


def build():
    """Build the program and the benchmark; return the runtime classpath."""
    program = sources(ROOT / "src" / "main")
    if not program:
        raise SystemExit(f"no program sources under {ROOT / 'src' / 'main'}")
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    program_jar = out / "graft.jar"
    built = compile_scala(program, program_jar, None, digest(program))
    bench = sources(BENCH / "src", BENCH / "tests")
    bench_jar = out / "perfbench.jar"
    built |= compile_scala(bench, bench_jar, str(program_jar),
                           digest(bench, digest(program).encode()))
    if built:  # an archive holds the classes of the build it was recorded on
        for a in out.glob("*.jsa"):
            a.unlink()
    return f"{bench_jar}:{program_jar}:{jars_classpath()}"


def run_jvm(classpath, main, args, work, timeout, archive=None):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cds = []
    if archive is not None:
        cds = [f"-XX:SharedArchiveFile={archive}" if archive.exists()
               else f"-XX:ArchiveClassesAtExit={archive}"]
    # JVM log lines go to stderr: standard output ends with the result
    cmd = (["java", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr", *cds,
            f"-Xmx{HEAP}", "-Xss8m", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, main] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{main} did not finish within {timeout:.0f} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("pipeline", "operators"))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classpath = build()
    data = testdata()
    if not (data / "sf0.01").is_dir():
        raise SystemExit(f"test data not found under {data}")
    work = build_dir() / "runs" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            main_class = "perfbench.SelfTest"
            code, out = run_jvm(classpath, main_class, ["--data", str(data), "--work", str(work)],
                                work, 900)
        else:
            main_class = "perfbench.Main"
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--data", str(data), "--work", str(work / "w")]
            code, out = run_jvm(classpath, main_class, args, work, RUN_TIMEOUT_S,
                                build_dir() / f"{a.workload}.jsa")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        raise SystemExit(f"{main_class} exited with {code}")
    if a.selftest:
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
