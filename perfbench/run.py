"""graft's workload benchmark: run one workload and print its result.

    python3 perfbench/run.py --workload <daily_ingest|small_dml|sql_mixed> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft and the
benchmark (see build.py). The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full record (every metric, workload, seed, cpus, load average before and
after, source commit). With --trace 1 the metrics are the per-layer ones
and the span trace is summarised in the record.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("daily_ingest", "small_dml", "sql_mixed")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit(tag):
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "src-sha256:" + tag[:16]
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + tag[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        cp, tag = build.build()
    except FileNotFoundError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = min(4, len(os.sched_getaffinity(0)))
    env = dict(os.environ, GRAFT_TMP=work, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ([build.java(), "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dperfbench.commit={commit(tag)}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--cpus", str(cpus),
              "--trace-out", os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.jsonl")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out)
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    record, result = lines[-2], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(record)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
