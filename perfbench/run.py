#!/usr/bin/env python3
"""End-to-end benchmark of graft: the `sweep`, `curate` and `ingest_stream`
workloads (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py                                  # all workloads, untraced
    python3 perfbench/run.py --workload sweep --seed 7        # one workload
    python3 perfbench/run.py --workload curate --trace 1      # per-layer metrics

Each workload runs in its own JVM (`local[N]`, N = number of CPUs). The
human-readable report goes to stdout; the last line of stdout is one JSON
object with the keys `correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the package
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("sweep", "curate")
DEFAULT_SEED = 1
RUN_SECONDS = 20
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
# A fixed young generation: collections then come every JVM_YOUNG of
# allocation rather than at sizes G1 picks from pause times, so a pass sees
# a steady number of them and heap_live_peak_mb, read at each, repeats.
JVM_YOUNG = "512m"
# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def declared_metrics(trace):
    """Names of the metrics BENCHMARK.json declares for this mode."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_workload(classes, workload, seed, trace):
    """Run one workload JVM; return (report lines, result dict)."""
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jars = build.spark_jars_dir()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java_bin(), "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.abspath(classes) + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", str(trace), "--work", work,
            "--trace-out", os.path.abspath(os.path.join(build.BUILD_DIR, "traces"))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"{workload}: no result within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        raise RuntimeError(f"{workload}: JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    declared = declared_metrics(trace)
    missing = [m for m in declared if m not in result["metrics"]]
    if missing:
        raise RuntimeError(f"{workload}: no value for {', '.join(missing)}")
    result["metrics"] = {m: result["metrics"][m] for m in declared}
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    # A run always times one pass of fixed size, so every commit is measured
    # on the same work; BENCHMARK.json's run_seconds states that pass's
    # length. The option is accepted from callers that pass the run length
    # and changes nothing.
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS,
                    help="accepted and ignored: a run times one fixed-size pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        t0 = time.time()
        classes = build.build()
        if time.time() - t0 > 5:
            print(f"[perfbench] build took {time.time() - t0:.1f} s", file=sys.stderr)
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        results = {}
        for name in names:
            lines, res = run_workload(classes, name, args.seed, args.trace)
            print("\n".join(lines), flush=True)
            results[name] = res
    except (build.BuildError, RuntimeError, ValueError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
    if len(results) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    main()
