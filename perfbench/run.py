"""ETL benchmark: runs one workload of the website-visits pipeline in its own
JVM and prints its metrics. See perfbench/README.md.

    python3 perfbench/run.py --workload bulk_2day --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The program is built from source first
(perfbench/build.py). The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["bulk_2day", "stream_state"]
JVM_TIMEOUT_S = 165
HEAP = "2g"
# What spark-submit would pass on JDK 17 (Spark's JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that corrupted outputs and thrown calls count as failures")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = build.ROOT / ".bench_build" / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--work", str(work)]
    if a.selftest:
        args += ["--selftest", "1"]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)]
    cmd = ([build.java(), f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    log = work.parent / f"{tag}-{os.getpid()}.log"
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 env=env, cwd=work)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s; log {log}", file=sys.stderr)
                return 3
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    sys.stdout.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
    if p.returncode != 0 or not lines:
        sys.stdout.write(lines[-1] + "\n" if lines else "")
        print(f"perfbench: JVM exited {p.returncode}; log {log}", file=sys.stderr)
        sys.stderr.write(log.read_text()[-4000:])
        return p.returncode or 1
    log.unlink()
    if a.selftest:
        print(lines[-1])
        return 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
