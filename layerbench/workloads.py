"""The workloads: input load, warm-up, one committed pass, check.

Each workload object is built from its seeded input (inputs.py) and is
driven by run.py: ``load`` and ``warmup`` are part of set-up, ``run``
is one timed pass that commits its output under ``out``, and ``check``
compares that committed output with the single-process reference
outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import inputs

RENDERED_BUCKETS = 2


def _read_spans(path: str) -> list[tuple[str, list]]:
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=["doc_id", "spans"])
    return list(zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()))


def check_spans(reference: dict[str, list], rows: list[tuple[str, list]]) -> tuple[int, int, str]:
    """(attempted, failed, output digest) over documents: missing,
    extra, duplicated and differing documents all fail; spans compare
    on (kind, text, media_ref, order). The digest covers every output
    column, confidences included."""
    seen: Counter = Counter()
    failed = 0
    canon = []
    for doc_id, spans in rows:
        seen[doc_id] += 1
        spans = sorted(spans or [], key=lambda s: s["order"])
        got = [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans]
        want = reference.get(doc_id)
        if want is None or seen[doc_id] > 1 or got != want:
            failed += 1
        canon.append(json.dumps([doc_id, [sorted(s.items()) for s in spans]]))
    failed += sum(1 for doc_id in reference if doc_id not in seen)
    digest = hashlib.sha256("\n".join(sorted(canon)).encode()).hexdigest()
    return len(reference), failed, digest


class CrawlRendered:
    """input_hint documents through lineage.run_extraction_job, the
    bucketed, resumable path tools/submit_extract.py ships; pages come
    from the deterministic renderer."""

    name = "crawl_rendered"

    def __init__(self, inp: inputs.CrawlInput):
        self.inp = inp
        self.n_docs = inp.n_docs

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.inp.docs_path)

    def _job(self, spark, docs, out: str, n_buckets: int) -> None:
        from oar_ocr_spark.lineage import run_extraction_job

        run_extraction_job(
            spark,
            docs,
            results_path=os.path.join(out, "results"),
            lineage_path=os.path.join(out, "lineage"),
            n_buckets=n_buckets,
        )

    def warmup(self, spark, out: str) -> None:
        from pyspark.sql import functions as F

        # one bucket runs the same code as RENDERED_BUCKETS, once
        self._job(spark, self.docs.where(F.col("doc_id").isin(self.inp.warm_ids)), out, 1)

    def run(self, spark, out: str) -> None:
        self._job(spark, self.docs, out, RENDERED_BUCKETS)

    def committed(self, out: str) -> int:
        return sum(rec["n_docs"] for rec in lineage_rows(out))

    def check(self, out: str) -> tuple[int, int, str]:
        return check_spans(self.inp.reference, _read_spans(os.path.join(out, "results")))


def lineage_rows(out: str) -> list[dict]:
    path = os.path.join(out, "lineage")
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("bucket_complete-"):
            with open(os.path.join(path, name)) as f:
                rows.extend(json.loads(line) for line in f)
    return rows


class CrawlEncoded:
    """The same document shape with pages as encoded bytes, through
    pipeline.extract_spans(media_store=...) and one parquet write. A
    slice of documents arrives only as hybrid PDFs, unpacked by
    functions.pdf.pdf_hybrid_unpack_df into text spans and page
    payloads, as the pdf_hybrid_extract query does."""

    name = "crawl_encoded"

    def __init__(self, inp: inputs.CrawlInput):
        self.inp = inp
        self.n_docs = inp.n_docs

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.inp.docs_path)
        self.store = spark.read.parquet(self.inp.store_path).select("media_ref", "payload")
        self.pdfs = spark.read.parquet(self.inp.pdfs_path).select("pdf_ref", "payload")

    def _job(self, spark, docs, pdfs, out: str) -> None:
        from pyspark.sql import functions as F

        from oar_ocr_spark.functions.pdf import pdf_hybrid_unpack_df
        from oar_ocr_spark.pipeline import extract_spans

        unpacked = pdf_hybrid_unpack_df(pdfs)
        pdf_docs = unpacked.groupBy("doc_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "kind", "text", "media_ref"))),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans")
        )
        media = self.store.unionByName(unpacked.where(F.col("kind") == "media").select("media_ref", "payload"))
        out_df = extract_spans(spark, docs.unionByName(pdf_docs), media_store=media)
        out_df.write.mode("overwrite").parquet(os.path.join(out, "results"))

    def warmup(self, spark, out: str) -> None:
        from pyspark.sql import functions as F

        ids = self.inp.warm_ids
        self._job(spark, self.docs.where(F.col("doc_id").isin(ids)), self.pdfs.limit(1), out)

    def run(self, spark, out: str) -> None:
        self._job(spark, self.docs, self.pdfs, out)

    def committed(self, out: str) -> int:
        import pyarrow.dataset as ds

        return ds.dataset(os.path.join(out, "results"), format="parquet").count_rows()

    def check(self, out: str) -> tuple[int, int, str]:
        return check_spans(self.inp.reference, _read_spans(os.path.join(out, "results")))


class CurateText:
    """Seeded documents and embeddings tables with injected duplicates
    through the corpus-curation steps of functions.text, dedup,
    similarity and html (the queries of __spark_entry__), each one
    committed as parquet and checked against its DuckDB twin from
    __spark_entry__.oracle_sql()."""

    name = "curate_text"

    def __init__(self, inp: inputs.CurateInput, warm: inputs.CurateInput):
        self.inp = inp
        self.warm = warm
        self.n_docs = inp.n_docs
        self.step_s: dict[str, float] = {}

    def load(self, spark) -> None:
        import __spark_entry__ as E

        self.queries = E.queries()
        E._register_views(spark, self.inp.data_dir)

    def run_steps(self, spark, data_dir: str, out: str, steps=inputs.CURATE_STEPS) -> None:
        import time

        import __spark_entry__ as E

        E._register_views(spark, data_dir)
        for step in steps:
            t0 = time.perf_counter()
            self.queries[step](spark, data_dir).write.mode("overwrite").parquet(os.path.join(out, step))
            self.step_s[step] = time.perf_counter() - t0

    def warmup(self, spark, out: str) -> None:
        self.run_steps(spark, self.warm.data_dir, out)
        self.load(spark)

    def run(self, spark, out: str) -> None:
        self.run_steps(spark, self.inp.data_dir, out)

    def committed(self, out: str) -> int:
        return self.n_docs if all(os.path.isdir(os.path.join(out, s)) for s in inputs.CURATE_STEPS) else 0

    def check(self, out: str, steps=inputs.CURATE_STEPS) -> tuple[int, int, str]:
        """(attempted, failed, output digest) over result rows of all
        steps: a row missing from or extra to the oracle's multiset
        fails, and wrong column names fail the whole step."""
        import pyarrow.dataset as ds

        attempted = failed = 0
        h = hashlib.sha256()
        for step in steps:
            table = ds.dataset(os.path.join(out, step), format="parquet").to_table()
            rows = inputs.canonical_rows(table)
            h.update("\n".join([step] + sorted(rows)).encode())
            got, want = Counter(rows), self.inp.reference[step]
            n = sum(want.values())
            attempted += n
            if sorted(table.column_names) != self.inp.columns[step]:
                failed += n
            else:
                failed += min(n, sum(((want - got) + (got - want)).values()))
        return attempted, failed, h.hexdigest()


def make(name: str, cache: str, seed: int):
    if name == "crawl_rendered":
        return CrawlRendered(inputs.crawl_rendered(cache, seed))
    if name == "crawl_encoded":
        return CrawlEncoded(inputs.crawl_encoded(cache, seed))
    if name == "curate_text":
        return CurateText(*inputs.curate_text(cache, seed))
    raise ValueError(f"unknown workload {name!r}")


def corrupt(wl) -> None:
    """Alter the reference of one document (crawl) or one result row
    (curate_text) in place."""
    reference = wl.inp.reference
    if wl.name == "curate_text":
        rows = reference[inputs.CURATE_STEPS[0]]
        row = min(rows)
        rows[row] -= 1
        rows[row + " corrupted"] += 1
        return
    doc = min(reference)
    reference[doc] = [["text", "corrupted", None, 0]] + reference[doc][1:]
