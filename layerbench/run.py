"""Benchmark of the extraction engine, end to end and per layer.

    python3 layerbench/run.py --workload crawl_rendered --seed 1 --seconds 18 --trace 0

Workloads: crawl_rendered, crawl_encoded and curate_text (workloads.py).

Run from the root of a checkout. One invocation is a closed loop in one
driver process: one pass at a time, the next starting when the last
has committed. It sets up SESSIONS Spark sessions one after the other,
each a new SparkContext with fresh Python workers, the input loaded
and one excluded warm-up; the first also launches the JVM, which the
later ones reuse. The last session then runs timed passes for
``--seconds``, at least three. A pass is one whole committed run of
the workload. It starts from ``spark.catalog.clearCache()`` with no
persisted RDD left, writes to a fresh directory, and its committed
output is checked against the single-process reference outside the
timed region.

Interference on a shared host only slows a pass down, so docs/s and
CPU per document come from the invocation's fastest plain pass; CPU is
that of the JVM and its Python workers. Peak RSS is the highest over
the passes, and ``setup_s`` the median of the set-ups. With
``--trace 1`` plain and traced passes alternate and the per-layer
metrics of layers.py are printed instead.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. A record of the invocation (host facts, start and end times,
CPU steal over the passes, every set-up and pass) is written under
``.work/records``. The exit code is non-zero if any committed document
differs from the reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
SESSIONS = 3
WORKLOADS = ("crawl_rendered", "crawl_encoded", "curate_text")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402


def warm_workers(spark, slots: int) -> None:
    """Fork one Python worker per slot and import the engine in it."""

    def warm(batches):
        import oar_ocr_spark.pipeline  # noqa: F401

        yield from batches

    spark.range(0, slots * 100, 1, slots).mapInPandas(warm, "id long").count()


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, "out", *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def set_up(wl, slots: int, tracer=None) -> tuple[object, dict]:
    times = {}
    t = host.now()
    spark = host.start_session(ROOT, WORK)
    times["session_s"] = host.now() - t
    if tracer is not None:
        tracer.mark(spark)
    t = host.now()
    warm_workers(spark, slots)
    times["worker_warm_s"] = host.now() - t
    t = host.now()
    wl.load(spark)
    times["input_load_s"] = host.now() - t
    t = host.now()
    wl.warmup(spark, fresh_dir("warmup"))
    times["warmup_s"] = host.now() - t
    times["setup_s"] = sum(times.values())
    if tracer is not None:
        times["udf_boot_s"] = sum(n["boot_s"] for n in tracer.python_nodes(spark))
    return spark, times


def timed_pass(spark, wl, label: str, traced: bool, tracer=None) -> dict:
    freed_by_gc, survivors = host.clear_caches(spark)
    if survivors:
        raise RuntimeError(f"{survivors} persisted RDD(s) survived clearCache() and GC before pass {label}")
    out = fresh_dir(label)
    pid = host.jvm_pid()
    if tracer is not None:
        tracer.before_pass(spark, label)
    host.reset_peak_rss(pid)
    jit0 = host.jvm_jit_cpu_s(pid)
    cpu0, stat0, wall0 = host.tree_cpu_s(pid), host.cpu_times(), time.time()
    t0 = host.now()
    wl.run(spark, out)
    wall = host.now() - t0
    cpu, stat1 = host.tree_cpu_s(pid) - cpu0, host.cpu_times()
    rec = {
        "label": label,
        "traced": traced,
        "start": wall0,
        "wall_s": wall,
        "cpu_s": cpu,
        # compiler threads come and go; one that exited mid-pass is lost
        "jvm_jit_cpu_s": sum(v - jit0.get(t, 0.0) for t, v in host.jvm_jit_cpu_s(pid).items()),
        "peak_rss_mb": host.tree_peak_rss_mb(pid),
        "stat": [stat0, stat1],
        "docs": wl.committed(out),
        "rdds_freed_by_gc": freed_by_gc,
    }
    if tracer is not None:
        rec["layers"] = tracer.after_pass(spark, wl, label, out, wall0, wall)
    rec["attempted"], rec["failed"], rec["output_sha"] = wl.check(out)
    shutil.rmtree(out, ignore_errors=True)
    return rec


def run(workload: str, seed: int, seconds: float, trace: bool, corrupt: bool = False) -> tuple[dict, dict]:
    import inputs
    import workloads

    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "host": host.host_facts()}
    record["start"] = time.time()
    cache = os.path.join(WORK, "cache", inputs.engine_digest(ROOT))
    t = host.now()
    wl = workloads.make(workload, cache, seed)
    record["input_prepare_s"] = host.now() - t
    if corrupt:
        workloads.corrupt(wl)
    slots = host.task_slots()
    tracer = None
    if trace:
        import layers

        tracer = layers.Tracer(slots)
    setups, passes = [], []
    try:
        # Only the last session runs passes: earlier ones would run them on
        # a colder JIT. Its first pass is still the slowest.
        for _ in range(SESSIONS - 1):
            setups.append(set_up(wl, slots, tracer)[1])
            host.stop_session(keep_jvm=True)
        spark, times = set_up(wl, slots, tracer)
        setups.append(times)
        t_end = host.now() + seconds
        while len(passes) < 3 + 2 * trace or host.now() < t_end:
            traced = trace and len(passes) % 2 == 1
            passes.append(timed_pass(spark, wl, f"p{len(passes)}", traced, tracer if traced else None))
        if trace:
            record["curation"] = layers.curation(spark, wl, cache, seed, fresh_dir)
    finally:
        host.stop_session()
    record["setups"], record["passes"] = setups, passes
    record["end"] = time.time()

    plain = [p for p in passes if not p["traced"]]
    stat0 = [sum(v) for v in zip(*(p["stat"][0] for p in passes))]
    stat1 = [sum(v) for v in zip(*(p["stat"][1] for p in passes))]
    record["steal_frac"] = host.steal_frac(stat0, stat1)
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    # interference on a shared host only slows a pass down, so the
    # invocation's sample is its fastest plain pass
    best = max(plain, key=lambda p: p["docs"] / p["wall_s"])
    record["fastest_pass"] = best["label"]
    metrics = {
        "docs_per_s": (best["docs"] / best["wall_s"], "docs/s"),
        "cpu_s_per_kdoc": (best["cpu_s"] / best["docs"] * 1000.0, "s"),
        "peak_rss_mb": (max(p["peak_rss_mb"] for p in passes), "MB"),
        "setup_s": (statistics.median(t["setup_s"] for t in setups), "s"),
        "docs_ok_frac": ((attempted - failed) / attempted, "frac"),
    }
    record["e2e"] = {k: v for k, (v, _u) in metrics.items()}
    if trace:
        metrics = tracer.summarize(wl, record, cache)
        record["layers"] = {k: v for k, (v, _u) in metrics.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-reference",
        action="store_true",
        help="check against a reference with one document altered; the run must fail (a test of the check)",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "oar_ocr_spark")):
        print("run from the root of a checkout: oar_ocr_spark/ not found", file=sys.stderr)
        return 2
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace), args.corrupt_reference)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(record['start'])}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
