"""Self-test of the benchmark.

    python3 layerbench/selftest.py

Run from the root of a checkout. For each workload, with one seed and
one session, two traced passes must commit identical outputs (every
column, confidences included), both must equal the reference, and the
layer counts that are deterministic must read the same. Then a run
checked against a corrupted reference must exit non-zero, for the span
check of the crawl workloads and the row check of curate_text. Prints one
line per finding and exits 0 only if there is none.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run  # noqa: I001  (puts the benchmark and the checkout on sys.path)

import host
import inputs
import layers
import workloads

SEED = 7
# counts that repeat exactly from pass to pass of one input (the rows
# out of detect are the crops); every UDF, shuffle and job count tried
# so far repeats, so all of them are listed
DETERMINISTIC = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "udf.nodes",
    "lineage.buckets",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "spill.bytes",
)
UDF_COUNTS = ("rows_in", "rows_out", "bytes_in", "bytes_out")


def deterministic(name: str) -> tuple[str, ...]:
    roles = ("", "detect.", "recognize.", layers.OTHER_ROLE[name] + ".")
    return DETERMINISTIC + tuple(f"udf.{role}{field}" for role in roles for field in UDF_COUNTS)


def two_passes(name: str, cache: str) -> list[str]:
    wl = workloads.make(name, cache, SEED)
    slots = host.task_slots()
    tracer = layers.Tracer(slots)
    spark, _times = run.set_up(wl, slots)
    try:
        a = run.timed_pass(spark, wl, "selftest-a", True, tracer)
        b = run.timed_pass(spark, wl, "selftest-b", True, tracer)
    finally:
        host.stop_session()
    problems = []
    for p in (a, b):
        if p["failed"]:
            problems.append(f"{name}: {p['failed']} of {p['attempted']} documents differ from the reference")
    if a["output_sha"] != b["output_sha"]:
        problems.append(f"{name}: two passes committed different outputs")
    for key in deterministic(name):
        va, vb = a["layers"][key][0], b["layers"][key][0]
        if va != vb:
            problems.append(f"{name}: {key} differs between passes: {va} vs {vb}")
    return problems


def corrupted_reference_fails(name: str) -> list[str]:
    cmd = [sys.executable, run.__file__, "--workload", name, "--seed", str(SEED)]
    cmd += ["--seconds", "1", "--corrupt-reference"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if p.returncode == 0 or result.get("correct", True) or not result.get("failed"):
        return [f"{name}: a run against a corrupted reference did not fail (exit {p.returncode})"]
    return []


def main() -> int:
    cache = os.path.join(run.WORK, "cache", inputs.engine_digest(run.ROOT))
    problems = []
    for name in run.WORKLOADS:
        problems += two_passes(name, cache)
    # crawl_encoded shares crawl_rendered's span check
    for name in ("crawl_rendered", "curate_text"):
        problems += corrupted_reference_fails(name)
    for line in problems:
        print(line)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
