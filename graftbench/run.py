#!/usr/bin/env python3
"""graft benchmark launcher.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from the checkout's sources on first
use (sbt, offline; outputs under .bench_build/), then runs one workload in
one JVM and prints two JSON lines on stdout: the run's detail (every named
metric with its unit) and, last, the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and the spans are written under
.bench_build/graftbench/traces/.
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

WORKLOADS = ("backup_bootstrap", "incremental_sync", "restore_plan", "corpus_dedup")
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "graftbench"
ARCHIVE = BUILD / "classes.jsa"
# every launched JVM must have exited by then (a run must end within 180 s)
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (same list as the
# library build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


_child = None


def stop_child():
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def run_group(cmd, timeout, what, **kw):
    """Run `cmd` in its own process group; on timeout or on our own
    SIGTERM/SIGINT kill the whole group (sbt's launcher forks a JVM) and
    wait for it. Returns the exit code.
    """
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{what} exceeded {timeout} s")


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(cp, work, *flags):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:+ExitOnOutOfMemoryError",
           f"-Djava.io.tmpdir={work / 'tmp'}", *flags]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", "--work", str(work)]


def build():
    """Compile once per source state, then train the JVM class-data
    archive on tiny instances of every workload (class loading is most
    of a cold Spark JVM's start). Returns the runtime classpath.
    """
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    stamp.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # no JVM of the build (the launcher's version probe included) writes
    # hsperfdata files to the system temp dir. sbt's boot socket stays in
    # that dir: a unix socket path under a deep checkout would exceed the
    # length limit.
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        code = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            500, "build", cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = lines[-1]
    work = BUILD / "runs" / f"train-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        with open(BUILD / "train.log", "w") as out:
            code = run_group(
                java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
                ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "1",
                 "--launch-epoch-s", repr(time.time())],
                230, "class-data training", cwd=work, stdout=out, stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"class-data training run failed (log: {BUILD / 'train.log'})")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "runs" / f"{tag}-{os.getpid()}"
    out = work / "result.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    log = BUILD / "logs" / f"{tag}.log"
    cmd = java_cmd(cp, work, f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:auto") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", str(out),
        "--trace-out", str(BUILD / "traces" / f"{tag}.jsonl")]
    try:
        with open(log, "w") as lf:
            launch = time.time()
            code = run_group(cmd + ["--launch-epoch-s", repr(launch)], RUN_TIMEOUT_S,
                             f"run (log: {log})", cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        if code != 0 or not out.exists():
            sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
            fail(f"benchmark JVM exited with {code} (log: {log})")
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result.pop("detail")))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
