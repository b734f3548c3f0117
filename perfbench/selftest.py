"""Checks the benchmark's own correctness gate at the smallest input size.

    python3 perfbench/selftest.py

1. A traced run on clean inputs must pass, and its in-process replay of
   ``extract_batch`` must be byte-identical to the Spark commit's output.
2. With one golden text altered and one url dropped from the golden, a timed
   run must report both urls as mismatches and exit nonzero.
3. Both runs print exactly the metric names that ``BENCHMARK.json``
   declares for their mode.

Exits 0 when all three hold. Uses its own seed and removes its cached inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import workloads  # noqa: E402

WORKLOAD = "crawl_mix"
SEED = 990001
SCALE = 0.01  # 40 pages: two of every page type


def bench(trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", WORKLOAD, "--seed", str(SEED), "--seconds", "1",
            "--trace", str(trace), "--scale", str(SCALE),
        ],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.splitlines()


def facts(lines: list[str]) -> dict:
    return json.loads(next(l for l in lines if l.startswith("facts "))[len("facts "):])


def declared(kind: str) -> set:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def printed(lines: list[str]) -> set:
    return set(json.loads(lines[-1])["metrics"])


def main() -> int:
    import pyarrow.parquet as pq

    inputs = workloads.prepare(
        workloads.WORKLOADS[WORKLOAD], SEED, SCALE, ROOT, os.path.join(ROOT, run.CACHE)
    )
    failures = []
    try:
        rc, lines = bench(trace=1)
        f = facts(lines)
        if rc != 0 or not json.loads(lines[-1])["correct"]:
            failures.append(f"clean traced run failed: rc={rc}")
        if not f["replay_identical"]:
            failures.append("replay output differs from the committed output")
        if printed(lines) != declared("per_layer"):
            failures.append("traced metrics differ from BENCHMARK.json per_layer")

        golden_path = inputs.path("golden.parquet")
        golden = pq.read_table(golden_path).to_pandas()
        golden.loc[0, "expected_text"] += " altered"
        golden = golden.drop(index=1)
        golden.to_parquet(golden_path, index=False)
        rc, lines = bench(trace=0)
        f = facts(lines)
        if rc == 0 or json.loads(lines[-1])["correct"]:
            failures.append(f"corrupted golden passed: rc={rc}")
        if f["mismatched_urls"] != 2:
            failures.append(f"expected 2 mismatched urls, got {f['mismatched_urls']}")
        if printed(lines) != declared("end_to_end"):
            failures.append("timed metrics differ from BENCHMARK.json end_to_end")
    finally:
        shutil.rmtree(inputs.dir, ignore_errors=True)
    for msg in failures:
        print("FAIL", msg)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
