"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest|tail|pipeline --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
benchmark (perfbench/build.py). Each run starts one JVM with Spark local[N]
(N = min(4, cores)), builds the workload's inputs from the seed, measures for
S seconds and checks the outputs. Every metric is printed as
`name value unit`; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json. With
--trace 1 the workload runs twice, untraced and then traced, and the metrics
are the per-layer metrics of the traced run plus `overhead.<metric>`, the
traced minus the untraced value of each end-to-end metric.

Exit code: 0 when every check passed, 1 when a check failed, 2 when the
benchmark could not run (no sources, build failure, crash, timeout).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "tail", "pipeline")
JVM_HEAP = "3g"
CHILD_TIMEOUT_S = 170  # the whole run must end within 180 s


class RunError(Exception):
    pass


def run_jvm(classpath, workload, seed, seconds, trace, timeout_s):
    """Run one workload in a fresh JVM; return its result object."""
    work = os.path.join(build.OUT_BASE, f"run-{os.getpid()}-{time.monotonic_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss4m", "-XX:-UsePerfData"] + build.JVM_OPENS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--result", result])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its scratch
    # files inside the run directory either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=build.ROOT, env=env)
    try:
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise RunError(f"{workload} did not finish within {timeout_s} s")
        if proc.returncode != 0 or not os.path.isfile(result):
            raise RunError(f"{workload} JVM exited with code {proc.returncode}")
        with open(result) as fh:
            out = json.load(fh)
        if trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(build.OUT_BASE, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{workload}-seed{seed}.jsonl"))
        return out
    finally:
        if proc.poll() is None:  # timed out, or this process is being stopped
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def measure(workload, seed, seconds, trace):
    """Return (untraced result, metrics of the final JSON line)."""
    classpath = build.build()
    timeout = CHILD_TIMEOUT_S // 2 if trace else CHILD_TIMEOUT_S
    res = run_jvm(classpath, workload, seed, seconds, False, timeout)
    if not trace:
        return res, res["end_to_end"]
    traced = run_jvm(classpath, workload, seed, seconds, True, timeout)
    metrics = dict(traced["per_layer"])
    for name, m in traced["end_to_end"].items():
        metrics[f"overhead.{name}"] = {"value": m["value"] - res["end_to_end"][name]["value"],
                                       "unit": m["unit"]}
    res["correct"] = res["correct"] and traced["correct"]
    res["attempted"] += traced["attempted"]
    res["failed"] += traced["failed"]
    return res, metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # stop the JVM on the way out
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        res, metrics = measure(args.workload, args.seed, args.seconds, args.trace == 1)
    except (build.BuildError, RunError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    shown = dict(res["end_to_end"])
    shown.update(res["detail"])
    shown.update(metrics)
    for name in sorted(shown):
        print(f"{name} {shown[name]['value']} {shown[name]['unit']}")
    for check, fails in sorted(res["selftest"].items()):
        print(f"selftest {check} {'fails-on-corruption' if fails else 'PASSES-ON-CORRUPTION'}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
