"""Per-layer metrics of a traced invocation.

Spark layers are read from Spark's own records of a pass: the SQL
metrics of every Python-boundary node in the final (AQE) plan of each
SQL execution the pass ran, and the status store's job, stage and task
data of the pass's job group. Nothing is added to the engine: a traced
pass differs from a plain one only in its job group and in the reading
done after it, and ``trace.overhead_frac`` compares the two.

The curation layer (functions.text, dedup, similarity, html) runs once
in the last session of every traced invocation, after the passes, each
step timed on its own and its committed result checked against its
DuckDB twin.

Single-process layers (page kernels, codecs, the single-process
baseline) are timed after the Spark sessions have stopped, on the
workload's own pages and payloads; curate_text, which has none, times
the kernels and codecs on a fixed sample of crawl pages so that every
workload reports every metric.

Where a workload has no such boundary (the PDF unpack on
crawl_rendered, detect and recognize on curate_text), the metric is a
count, fraction or ratio and reads 0. Per-boundary times are therefore
given as each boundary's share of the pass's Python time; the seconds
are summed over all boundaries, which every workload has.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import numpy as np

import host
import inputs

PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")
# the Python iterator names of pipeline.detect_crops_from_flat and
# pipeline.recognize_df; any other Python node is
# functions.pdf.pdf_hybrid_unpack_df on a crawl pass and a curation
# step on curate_text
ROLES = {"detect_iter": "detect", "rec_iter": "recognize"}
OTHER_ROLE = {"crawl_rendered": "pdf_unpack", "crawl_encoded": "pdf_unpack", "curate_text": "curate"}
UDF_COUNTS = ("rows_in", "rows_out", "bytes_in", "bytes_out")
UDF_TIMES = ("python_s", "init_s")
# codec timing sample per format where the workload has no payloads of
# its own (crawl_encoded times all of its own)
CODEC_SAMPLE = {"png": 24, "tiff": 24, "jpeg_baseline": 12, "jpeg_progressive": 6, "gif": 3, "jp2": 2}
# rendered pages timed through the kernels on curate_text
KERNEL_SAMPLE = 200

_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """The total of a SQL metric string ("1,000", "46 ms", or
    "total (min, med, max ...)\\n4.7 s (...)") in units, bytes or seconds."""
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def metric_stage(text: str) -> int | None:
    m = re.search(r"\(stage (\d+)\.\d+: task", text)
    return int(m.group(1)) if m else None


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


class Tracer:
    def __init__(self, slots: int):
        self.slots = slots
        self.marker = 0

    def mark(self, spark) -> None:
        """Later python_nodes() calls read executions from here on."""
        self.marker = spark._jsparkSession.sharedState().statusStore().executionsList().size()

    def before_pass(self, spark, label: str) -> None:
        spark.sparkContext.setJobGroup(label, label)
        self.mark(spark)

    def python_nodes(self, spark, other_role: str = "pdf_unpack") -> list[dict]:
        store = spark._jsparkSession.sharedState().statusStore()
        nodes = []
        for e in _seq(store.executionsList())[self.marker :]:
            graph = store.planGraph(e.executionId())
            values = store.executionMetrics(e.executionId())
            by_id = {n.id(): n for n in _seq(graph.allNodes())}
            children: dict[int, list[int]] = {}
            for edge in _seq(graph.edges()):
                children.setdefault(edge.toId(), []).append(edge.fromId())

            def metrics(node) -> dict[str, str]:
                found = {m.name(): values.get(m.accumulatorId()) for m in _seq(node.metrics())}
                return {k: v.get() for k, v in found.items() if v.isDefined()}

            def rows_into(node_id: int) -> float:
                # rows reaching a node: the nearest descendant that counts them
                for _ in range(8):
                    kids = children.get(node_id, [])
                    if len(kids) != 1:
                        return 0.0
                    node_id = kids[0]
                    ms = metrics(by_id[node_id])
                    for key in ("number of output rows", "records read"):
                        if key in ms:
                            return parse_metric(ms[key])
                return 0.0

            for nid, node in by_id.items():
                if node.name() not in PY_NODES:
                    continue
                ms = metrics(node)
                run = ms.get("time to run Python workers", "0")
                fn = node.desc().split(" ")[1].split("(")[0] if " " in node.desc() else ""
                nodes.append(
                    {
                        "role": ROLES.get(fn, other_role),
                        "python_s": parse_metric(run),
                        "boot_s": parse_metric(ms.get("time to start Python workers", "0")),
                        "init_s": parse_metric(ms.get("time to initialize Python workers", "0")),
                        "rows_in": rows_into(nid),
                        "rows_out": parse_metric(ms.get("number of output rows", "0")),
                        "bytes_in": parse_metric(ms.get("data sent to Python workers", "0")),
                        "bytes_out": parse_metric(ms.get("data returned from Python workers", "0")),
                        "stage": metric_stage(run),
                    }
                )
        return nodes

    def after_pass(self, spark, wl, label: str, out: str, start_epoch: float, wall: float) -> dict:
        """Layer metrics of one traced pass: {name: (value, unit)}."""
        store = spark.sparkContext._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        jobs = 0
        for job in _seq(store.jobsList(None)):
            if _opt(job.jobGroup()) == label:
                jobs += 1
                stage_ids.update(_seq(job.stageIds()))
        stages = [store.lastStageAttempt(sid) for sid in sorted(stage_ids)]
        stages = [s for s in stages if s.status().toString() == "COMPLETE"]
        run_s = sum(s.executorRunTime() for s in stages) / 1e3
        m = {
            "spark.jobs": (jobs, "count"),
            "spark.stages": (len(stages), "count"),
            "spark.tasks": (sum(s.numTasks() for s in stages), "count"),
            "stage.run_s": (run_s, "s"),
            "stage.cpu_s": (sum(s.executorCpuTime() for s in stages) / 1e9, "s"),
            "stage.gc_s": (sum(s.jvmGcTime() for s in stages) / 1e3, "s"),
            "stage.slot_busy_frac": (run_s / (self.slots * wall), "frac"),
            "shuffle.write_bytes": (sum(s.shuffleWriteBytes() for s in stages), "B"),
            "shuffle.read_bytes": (sum(s.shuffleReadBytes() for s in stages), "B"),
            "spill.bytes": (sum(s.diskBytesSpilled() for s in stages), "B"),
        }
        # pass wall covered by no stage: driver-side planning, commits, gaps
        t0, t1 = start_epoch * 1e3, (start_epoch + wall) * 1e3
        covered, edge = 0.0, t0
        for a, b in sorted((_opt(s.submissionTime()).getTime(), _opt(s.completionTime()).getTime()) for s in stages):
            a, b = max(a, edge), min(b, t1)
            if b > a:
                covered += b - a
                edge = b
        m["stage.wall_gap_s"] = ((t1 - t0 - covered) / 1e3, "s")

        nodes = self.python_nodes(spark, OTHER_ROLE[wl.name])
        m["udf.nodes"] = (len(nodes), "count")
        for key in UDF_TIMES + UDF_COUNTS:
            m[f"udf.{key}"] = (sum(n[key] for n in nodes), "s" if key in UDF_TIMES else _count_unit(key))
        by_stage = {s.stageId(): s for s in stages}
        total_py = m["udf.python_s"][0]
        for role in ("detect", "recognize", OTHER_ROLE[wl.name]):
            mine = [n for n in nodes if n["role"] == role]
            for key in UDF_COUNTS:
                m[f"udf.{role}.{key}"] = (sum(n[key] for n in mine), _count_unit(key))
            share = sum(n["python_s"] for n in mine) / total_py if total_py else 0.0
            m[f"udf.{role}.python_frac"] = (share, "frac")
            if role not in ("detect", "recognize"):
                continue
            runs = [
                _opt(t.taskMetrics()).executorRunTime()
                for sid in {n["stage"] for n in mine} & set(by_stage)
                for t in _seq(store.taskList(sid, by_stage[sid].attemptId(), 100000))
            ]
            med = statistics.median(runs) if runs else 0
            m[f"stage.{role}.task_skew"] = (max(runs) / med if med else 0.0, "ratio")

        # commit units: run_extraction_job's lineage rows, curate_text's
        # step commits, or crawl_encoded's one write
        if wl.name == "crawl_rendered":
            import workloads

            units = [r["elapsed_ms"] / 1e3 for r in workloads.lineage_rows(out)]
        elif wl.name == "curate_text":
            units = list(wl.step_s.values())
        else:
            units = [wall]
        m["lineage.buckets"] = (len(units), "count")
        m["lineage.bucket_s.p50"] = (statistics.median(units), "s")
        m["lineage.bucket_s.max"] = (max(units), "s")
        return m

    def summarize(self, wl, record: dict, cache: str) -> dict:
        """All per-layer metrics of the invocation in `record`."""
        traced = [p for p in record["passes"] if p["traced"]]
        # layer figures of the median traced pass
        mid = sorted(traced, key=lambda p: p["wall_s"])[(len(traced) - 1) // 2]
        m = {
            f"setup.{k}": (statistics.median(t[k] for t in record["setups"]), "s")
            for k in ("session_s", "worker_warm_s", "input_load_s", "warmup_s")
        }
        # workers start during set-up; passes reuse them, so their boot
        # time is read from the set-up's executions
        m["udf.boot_s"] = (statistics.median(t["udf_boot_s"] for t in record["setups"]), "s")
        m.update({k: tuple(v) for k, v in mid["layers"].items()})
        m.update(record["curation"])
        m.update(single_process(wl, cache, record["seed"]))
        e2e = record["e2e"]
        m["spark.overhead_ratio"] = (e2e["cpu_s_per_kdoc"] / m["baseline.single_process_s_per_kdoc"][0], "ratio")
        m["host.steal_frac"] = (record["steal_frac"], "frac")
        traced_rate = max(p["docs"] / p["wall_s"] for p in traced)
        m["trace.overhead_frac"] = (1.0 - traced_rate / e2e["docs_per_s"], "frac")
        return m


def _count_unit(key: str) -> str:
    return "B" if key.startswith("bytes") else "count"


# --------------------------------------------------------------------------
# curation layer
# --------------------------------------------------------------------------


def curation(spark, wl, cache: str, seed: int, out_dir) -> dict:
    """Run the curation steps, minhash_candidates and ivf_ann once,
    each timed on its own, check them against their DuckDB twins
    (raising on any difference) and measure dedup and ANN usefulness.

    The steps run after the timed passes: minhash_candidates leaves its
    localCheckpoint'ed band table persisted and reachable after the
    query, which the clean-cache check before a timed pass would reject.
    The leak is reported instead, as the persisted RDDs that survive
    clearCache() and GC after the steps."""
    import pyarrow.dataset as ds

    import workloads

    cur = wl if wl.name == "curate_text" else workloads.make("curate_text", cache, seed)
    cur.load(spark)
    out = out_dir("curate")
    steps = inputs.CURATE_STEPS + inputs.LAYER_STEPS
    cur.run_steps(spark, cur.inp.data_dir, out, steps)
    attempted, failed, _sha = cur.check(out, steps)
    if failed:
        raise RuntimeError(f"curation: {failed} of {attempted} result rows differ from the DuckDB twins")
    m = {f"curate.{step}.s": (cur.step_s[step], "s") for step in steps}
    cands = ds.dataset(os.path.join(out, "minhash_candidates"), format="parquet").to_table().to_pylist()
    found = {tuple(sorted((int(c["doc_a"]), int(c["doc_b"])))) for c in cands}
    m["dedup.candidate_pairs"] = (len(found), "count")
    m["dedup.true_pair_frac"] = (len(found & cur.inp.pairs) / len(found) if found else 0.0, "frac")
    ivf = ds.dataset(os.path.join(out, "ivf_ann"), format="parquet").to_table()
    m["ann.recall"] = (ann_recall(cur.inp, ivf), "frac")
    m["curate.leaked_rdds"] = (host.clear_caches(spark)[1], "count")
    return m


def ann_recall(inp, ivf_table) -> float:
    """IVF neighbours against exact cosine top-5 on the same queries."""
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(inp.data_dir, "embeddings.parquet")).to_pydict()
    ids = np.asarray(emb["vec_id"])
    vecs = np.asarray(emb["embedding"], dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    got: dict[int, set] = {}
    for row in ivf_table.to_pylist():
        got.setdefault(int(row["query_id"]), set()).add(int(row["neighbor_id"]))
    hits = total = 0
    for qi in np.flatnonzero(ids % 50 == 0):
        exact = set(ids[np.argsort(-(vecs @ vecs[qi]), kind="stable")[:5]].tolist())
        hits += len(exact & got.get(int(ids[qi]), set()))
        total += len(exact)
    return hits / total


# --------------------------------------------------------------------------
# single-process layers
# --------------------------------------------------------------------------


def page_kernels(pages) -> dict:
    """Times fixtures.render and local_ref's preprocess, detect+crop and
    recognize over [(media_ref, decoded page or None to render)]."""
    from oar_ocr_spark.fixtures.render import render_page
    from oar_ocr_spark.local_ref import ExtractConfig, detect_and_crop, preprocess_page, recognize_crop

    cfg = ExtractConfig()
    acc = dict.fromkeys(("render", "preprocess", "detect_crop", "recognize"), 0.0)
    crops = 0
    for ref, img in pages:
        rendered, dt = _timed(render_page, ref)
        acc["render"] += dt
        (upright, _cls), dt = _timed(preprocess_page, rendered if img is None else img, cfg)
        acc["preprocess"] += dt
        found, dt = _timed(detect_and_crop, upright, cfg)
        acc["detect_crop"] += dt
        for crop, _box in found:
            acc["recognize"] += _timed(recognize_crop, crop, cfg)[1]
        crops += len(found)
    n = len(pages)
    return {
        "kernel.render.ms_per_page": (acc["render"] / n * 1e3, "ms"),
        "kernel.preprocess.ms_per_page": (acc["preprocess"] / n * 1e3, "ms"),
        "kernel.detect_crop.ms_per_page": (acc["detect_crop"] / n * 1e3, "ms"),
        "kernel.recognize.ms_per_crop": (acc["recognize"] / max(crops, 1) * 1e3, "ms"),
        "kernel.crops_per_page": (crops / n, "count"),
    }, acc


def codecs(enc: inputs.CrawlInput, sample: dict | None) -> tuple[dict, float, list]:
    """Times each format's public decode_* on crawl_encoded's payloads
    (all of them, or `sample` pages per format) and the hybrid-PDF
    parse. Returns (metrics, decode seconds, decoded pages)."""
    import pyarrow.parquet as pq

    from oar_ocr_spark.functions import gif, jp2, jpeg, png, tiff
    from oar_ocr_spark.functions.multimodal import _to_grey
    from oar_ocr_spark.functions.pdf import PdfDocument, _split_refs
    from oar_ocr_spark.functions.pdf_text import page_text

    decoders = {
        "png": png.decode_png, "tiff": tiff.decode_tiff, "jpeg_baseline": jpeg.decode_jpeg,
        "jpeg_progressive": jpeg.decode_jpeg, "gif": gif.decode_gif, "jp2": jp2.decode_jp2,
    }
    store = pq.read_table(enc.store_path).to_pydict()
    taken = dict.fromkeys(inputs.FORMATS, 0)
    spent = dict.fromkeys(inputs.FORMATS, 0.0)
    pages = []
    for ref, payload, fmt in zip(store["media_ref"], store["payload"], store["format"]):
        if sample is not None and taken[fmt] >= sample[fmt]:
            continue
        img, dt = _timed(decoders[fmt], payload)
        taken[fmt] += 1
        spent[fmt] += dt
        pages.append((ref, _to_grey(img)))
    m = {f"codec.{f}.ms_per_page": (spent[f] / taken[f] * 1e3, "ms") for f in inputs.FORMATS}
    m["codec.payload_bytes_per_page"] = (float(np.mean([len(p) for p in store["payload"]])), "B")
    payloads = pq.read_table(enc.pdfs_path).column("payload").to_pylist()
    n_pages, pdf_s = 0, 0.0
    for payload in payloads if sample is None else payloads[:4]:
        t = time.perf_counter()
        doc = PdfDocument(bytes(payload))
        for ref, page in zip(_split_refs(doc.info_title()), doc.pages()):
            media_ref = ref.partition(":")[2]
            if media_ref:
                img = doc.page_image(page)
                pages.append((media_ref, img if img.ndim == 2 else img[:, :, 0]))
            else:
                page_text(doc, page)
            n_pages += 1
        pdf_s += time.perf_counter() - t
    m["codec.pdf.ms_per_page"] = (pdf_s / n_pages * 1e3, "ms")
    return m, sum(spent.values()) + pdf_s, pages


def single_process(wl, cache: str, seed: int) -> dict:
    """Kernels, codecs and the single-process baseline.

    crawl_rendered: every page of the input is rendered and run through
    the local_ref kernels, so the baseline covers the whole input; the
    codecs are timed on a sample of the same seed's crawl_encoded
    payloads. crawl_encoded: every payload is decoded, every PDF
    parsed, and every page run through the kernels. curate_text: the
    kernels and codecs are timed on samples of the crawl inputs, and
    the baseline is the DuckDB twins of the curation steps on one
    thread over the same tables."""
    import pyarrow.parquet as pq

    if wl.name == "crawl_encoded":
        m, decode_s, pages = codecs(wl.inp, None)
        kern, acc = page_kernels(pages)
        base_s = decode_s + acc["preprocess"] + acc["detect_crop"] + acc["recognize"]
    elif wl.name == "crawl_rendered":
        m, _s, _pages = codecs(inputs.crawl_encoded(cache, seed), CODEC_SAMPLE)
        refs = [
            s["media_ref"]
            for spans in pq.read_table(wl.inp.docs_path).column("spans").to_pylist()
            for s in spans
            if s["kind"] == "media"
        ]
        kern, acc = page_kernels([(ref, None) for ref in refs])
        base_s = sum(acc.values())
    else:
        m, _s, _pages = codecs(inputs.crawl_encoded(cache, seed), CODEC_SAMPLE)
        kern, _acc = page_kernels([(f"r{k:05d}", None) for k in range(KERNEL_SAMPLE)])
        t = time.perf_counter()
        inputs.oracle_rows(wl.inp.data_dir, inputs.CURATE_STEPS, threads=1)
        base_s = time.perf_counter() - t
    m.update(kern)
    m["baseline.single_process_s_per_kdoc"] = (base_s / wl.n_docs * 1000.0, "s")
    return m
