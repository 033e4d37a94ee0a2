#!/usr/bin/env python3
"""dsgrid lifecycle benchmark: one workload, one run.

    python3 perfbench/run.py --workload county_disagg_write --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. The
JVM side (perfbench.Main) prints a detail line and, last, the result
object, which this script passes through as its own last stdout line.
Every file a run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("county_disagg_write", "interactive_cached")
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             root / "perfbench" / "build.sbt", root / "perfbench" / "project" / "build.properties"]
    for d in (root / "src" / "main", root / "perfbench" / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root, out):
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = out / "classpath.txt"
    digest = source_digest(root)
    if stamp.exists():
        saved_digest, _, cp = stamp.read_text().partition("\n")
        if saved_digest == digest and all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep the JVM's hsperfdata file out of the system temp directory
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") + " -XX:-UsePerfData"
    log = out / "build.log"
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=root / "perfbench", env=env, stdout=subprocess.PIPE, stderr=lf,
            text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lf.write(proc.stdout)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"build failed (exit {proc.returncode}); log in {log}")
    stamp.write_text(digest + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.monotonic()
    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{root} is not the repository root: no build.sbt or src/main/scala/graft")
    out = root / ".bench_build" / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    cp = build(root, out)

    work = out / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = out / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--trace-out", str(trace_out)])
    log = out / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    deadline = max(10.0, RUN_DEADLINE_S - (time.monotonic() - started))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=deadline)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {deadline:.0f} s; log in {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM exited {proc.returncode} without a result; log in {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
