"""Benchmark of the graft engine: the fan-out job and the resumable
Pipeline.run campaign, end to end and layer by layer.

    python3 perfbench/run.py --workload <fanout_job|campaign|campaign_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), then runs one
workload in a fresh JVM. The JVM prints the report (`note`, `check` and
`metric` lines) and, last, one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. Exits non-zero, printing no result,
when the build or the run fails or the run does not finish in time.
All files go under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("fanout_job", "campaign", "campaign_dedup")
# the JVM is stopped past this many seconds, so a run always ends in time
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    works = build.BUILD / "work"
    for old in works.glob("*-*"):  # left by runs that were killed
        if not alive(int(old.name.rsplit("-", 1)[1])):
            shutil.rmtree(old, ignore_errors=True)
    work = works / f"{a.workload}-{a.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
        "-cp", f"{classes}:{build.spark_jars()}/*",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def on_term(*_):
        # no wait() here: the handler may interrupt a wait() that holds
        # Popen's lock; the `finally` below waits once it has unwound
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, on_term)
    start = time.monotonic()
    last = None
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            if time.monotonic() - start > RUN_LIMIT_S:
                print(f"perfbench: run exceeded {RUN_LIMIT_S}s, stopped", file=sys.stderr)
                stop()
                return 1
            if not sel.select(timeout=1.0):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or last is None:
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result", file=sys.stderr)
        return 1
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
