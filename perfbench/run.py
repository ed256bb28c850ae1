#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt when the sources
changed since the last build (outputs under .bench_build/ and the sbt
target directories), then runs the harness JVM and relays its output.
The last stdout line is the result object; the span trace of the run is
kept in .bench_build/trace/. Exits non-zero when the build, a workload
operation or an output check fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
WORKLOADS = ("cdc_warm", "ingest_gate")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, engine and harness."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """The harness classpath, rebuilding when any source changed."""
    want = fingerprint()
    if CLASSPATH.exists():
        stamp, _, cp = CLASSPATH.read_text().partition("\n")
        if stamp == want:
            return cp.strip()
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        # resolve only from the local toolchain caches
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
        env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                           "compile", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out", 3)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out)
        fail("build printed no classpath", 3)
    BUILD.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(f"{want}\n{lines[-1]}\n")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources beside the benchmark (looked for build.sbt and src/main/scala in {ROOT})")

    cp = classpath()
    work = BUILD / "run" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work)])
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    spans = work / "spans.json"
    if spans.exists():
        (BUILD / "trace").mkdir(exist_ok=True)
        shutil.move(str(spans), BUILD / "trace" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
