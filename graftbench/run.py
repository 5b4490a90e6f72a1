#!/usr/bin/env python3
"""Run one graftbench workload from the root of a graft checkout.

    python3 graftbench/run.py --workload cdc_catchup --seed 1 --seconds 10 --trace 0

The first run in a checkout builds graft and the benchmark from source
with sbt (offline) and caches the resulting classpath under
.bench_build/graftbench; later runs reuse it while the sources are
unchanged. The run's last stdout line is the JSON result
{"correct", "attempted", "failed", "metrics"}; a readable report goes to
stderr and to .bench_build/graftbench/reports/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "graftbench"
RUN_LIMIT_S = 170     # a measuring run must end within this
BUILD_LIMIT_S = 700   # the build of a fresh checkout, on top of the run
HEAP = "4g"           # fixed, so heap resizing does not vary between runs

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally adds (the same list the program's build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src" / "main"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    return env


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group and return its exit code; the
    group is killed past limit_s or when this script is stopped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} exceeded {limit_s}s and was stopped")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath():
    """Build (when the sources changed) and return the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main", HERE / "build.sbt"):
        if not need.exists():
            fail(f"missing {need.relative_to(ROOT)}: run from the root of a graft checkout")
    stamp = sources_stamp()
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    with open(log, "w") as f:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export graftbench/Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {code}); see {log.relative_to(ROOT)}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1], True


def main():
    # a stop request still ends the child process group (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, _ = classpath()
    work = OUT / "work" / f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work)])
    try:
        with open(work / "stdout.txt", "w") as out:
            code = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=out, stdin=subprocess.DEVNULL)
        lines = [l for l in (work / "stdout.txt").read_text().splitlines() if l.strip()]
        reports = OUT / "reports"
        reports.mkdir(exist_ok=True)
        for r in work.glob("report-*.json"):
            shutil.copy(r, reports / r.name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"workload exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
