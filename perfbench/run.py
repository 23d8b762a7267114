#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload dashboard|corpus|ingest \
      --seed N --seconds S --trace 0|1

Builds the engine and harness if their sources changed (perfbench/build.py),
then starts one JVM with a local[nproc] Spark session that runs the
workload: set-up (timed, three times), warm-up, a timed window of
--seconds, and output checks. The last line of stdout is the result
object {"correct", "attempted", "failed", "metrics"}; --trace 1 reports
per-layer metrics instead of end-to-end ones. See perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dashboard", "corpus", "ingest")
TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir("perfbench/lake"):
        sys.exit("perfbench: run from the repository root (perfbench/lake missing)")
    cp = build.build()

    work = os.path.abspath(os.path.join(".perfbench_work", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--lake", "perfbench/lake", "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"perfbench: {a.workload} failed (exit {proc.returncode})")
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    print(lines[-1])


if __name__ == "__main__":
    main()
