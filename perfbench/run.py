"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <backfill|curation_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), runs
perfbench.Main in one JVM on local[nproc], relays its report lines and ends
stdout with one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (see
perfbench/WORKLOADS.md). Every input is generated inside a fresh scratch
root (PERFBENCH_SCRATCH, default .bench_build/runs/<unique>) that is deleted
when the run ends; the roots that killed runs left behind are deleted when the
next run starts. Spans of a traced run are kept in .bench_build/traces/.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("backfill", "curation_queries")
# the JVM must finish well inside the 180 s a run may take
JVM_TIMEOUT_S = 170
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def remove_stale_roots(parent):
    """Delete the scratch roots of runs whose process is gone (a killed run
    never reaches its own clean-up). A root is named <pid>-<workload>-<seed>-
    <unique>; nothing else in `parent` is touched.
    """
    root_name = re.compile(r"(\d+)-(?:%s)-" % "|".join(WORKLOADS))
    for d in parent.iterdir():
        m = root_name.match(d.name)
        if not (m and d.is_dir()):
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java_bin()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    base = os.environ.get("PERFBENCH_SCRATCH")
    parent = Path(base) if base else build.BUILD_DIR / "runs"
    parent.mkdir(parents=True, exist_ok=True)
    remove_stale_roots(parent)
    scratch = Path(tempfile.mkdtemp(
        prefix=f"{os.getpid()}-{args.workload}-{args.seed}-", dir=parent))
    traces = build.BUILD_DIR / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    (scratch / "tmp").mkdir()

    # a fixed heap: with a growable one, peak RSS followed G1's sizing
    # decisions and spread 20 % between runs
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(scratch), str(traces), str(build.ROOT)]

    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
            return 3
        lines = out.splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 4
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("perfbench: malformed result line", file=sys.stderr)
            return 5
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
