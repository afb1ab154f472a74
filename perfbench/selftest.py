"""Self-test of the benchmark.

    python3 perfbench/selftest.py        # from the repository root, ~5 minutes

For each workload it runs the benchmark command briefly with a fixed seed,
untraced and traced, and asserts that:
  - the last stdout line parses with json.loads exactly as printed and has
    exactly the keys correct, attempted, failed and metrics;
  - every metric BENCHMARK.json names is present with its unit, and no other;
  - every correctness check passed, and every check fails when it is run
    against a corrupted expectation (one dropped batch, one planted
    duplicate left in, ...), so no check can pass vacuously.
It also asserts that the command fails, without printing a result, in a
directory that holds only BENCHMARK.json and the benchmark's files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SECONDS = 3


def run(cwd, workload, trace):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_run(spec, workload, trace):
    p = run(ROOT, workload, trace)
    lines = p.stdout.splitlines()
    assert lines, f"{workload}: no output; stderr tail:\n{p.stderr[-3000:]}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert p.returncode == 0 and result["correct"] is True, \
        f"{workload}: a check failed\n{p.stderr[-3000:]}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert result["failed"] == 0
    names = spec["per_layer"] if trace else spec["end_to_end"]
    expected = {m["name"]: m["unit"] for m in names}
    assert set(result["metrics"]) == set(expected), \
        f"{workload}: metrics differ: {set(result['metrics']) ^ set(expected)}"
    for name, unit in expected.items():
        m = result["metrics"][name]
        assert m["unit"] == unit, f"{workload}: {name} has unit {m['unit']}, expected {unit}"
        assert isinstance(m["value"], (int, float)), f"{workload}: {name} is not a number"
        if not trace:
            assert m["value"] > 0, f"{workload}: {name} is {m['value']}"
    selftests = [l.split() for l in lines if l.startswith("selftest ")]
    assert selftests, f"{workload}: no checks ran"
    for _, check, verdict in selftests:
        assert verdict == "fails-on-corruption", f"{workload}: {check} passes on a corrupted expectation"
    print(f"ok   {workload} trace={trace}: {len(expected)} metrics, "
          f"{len(selftests)} checks fail on corruption", flush=True)


def check_without_sources():
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    try:
        p = run(bare, "ingest", 0)
        assert p.returncode != 0, "the benchmark ran without the repository's sources"
        assert not p.stdout.strip(), f"a result was printed: {p.stdout[-500:]}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok   without sources: exits non-zero and prints no result", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_without_sources()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    print("selftest passed")


if __name__ == "__main__":
    main()
