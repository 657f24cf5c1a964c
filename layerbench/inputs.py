"""Seeded inputs and their single-process references.

Every workload's input is a fixed multiset that the seed only permutes:
document shapes (text and media span counts, a heavy tail of many-page
documents), the page pool, the format of each encoded page, the PDF
flavours and, for the curation tables, document lengths, languages and
the injected duplicates. The seed decides which document gets which shape,
which page lands in which document and at which offset, the words of
every text span, and the vectors. So two seeds cost the same work and
differ only in arrangement, which keeps the figures steady across seeds.

Inputs and references are cached under ``<work>/cache/<digest>/``,
where the digest covers this file, the engine package (the encoders,
the renderer and the reference pipeline all live there) and the DuckDB
twins of ``__spark_entry__.oracle_sql()``. A changed
generator or engine therefore never reads a stale cache. Seed-free
parts (the page pool, its payloads and per-page references) are shared
by all seeds; per-seed parts sit in ``seed<n>`` directories. Every
cache entry is written to a temporary directory and renamed into place.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np

# crawl shapes: (n_text, n_media) per document; the heavy tail is the
# skew the crop pool and spread() must absorb
RENDERED_DOCS = 480
RENDERED_HEAVY_MEDIA = (16, 32, 48, 80)
ENCODED_DOCS = 60
ENCODED_HEAVY_MEDIA = (16, 32)
PDF_DOCS = 8
# encoded page formats as exact counts; png and tiff take the rest of
# the pool. The costly codecs are few pages each, sized so that no
# single codec is the whole pass.
FORMAT_COUNTS = {"jp2": 2, "gif": 4, "jpeg_progressive": 8, "jpeg_baseline": 30}
FORMATS = ("png", "tiff", "jpeg_baseline", "jpeg_progressive", "gif", "jp2")
PDF_FLAVOURS = (
    ("classic", None),
    ("stream", None),
    ("classic", "rc4-128"),
    ("stream", "aes-128"),
)

# curate_text tables: (documents, exact copies, near copies, vectors,
# vector near-duplicates); the warm-up table is a seed-free miniature
CURATE_SIZE = (2400, 48, 96, 1200, 32)
CURATE_WARM_SIZE = (200, 4, 8, 100, 4)

WORDS = (
    "key agg row scan slow fast table value part hash batch merge spark "
    "line sort window column order small big join query vector group "
    "stream filter data customer index shard"
).split()
LANG_MIX = (("en", 40), ("es", 15), ("de", 15), ("fr", 15), ("zh", 15))


def engine_digest(root: str) -> str:
    """sha256 over this file, the DuckDB twins and their row
    canonicalization, and every .py file of the engine package."""
    h = hashlib.sha256()
    files = [os.path.abspath(__file__)]
    files += [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "tools", "check_oracle_parity.py")]
    pkg = os.path.join(root, "oar_ocr_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        files.extend(os.path.join(dirpath, n) for n in sorted(filenames) if n.endswith(".py"))
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _cached(path: str, build) -> str:
    """Build `path` (a directory) once via build(tmp_dir)."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:  # built concurrently by another process: keep theirs
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


def _load(path: str):
    with open(path) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# crawl documents
# --------------------------------------------------------------------------


def _shapes(n_docs: int, heavy: tuple[int, ...]) -> list[tuple[int, int]]:
    """Fixed multiset of (n_text, n_media) document shapes; the heavy
    tail comes last."""
    shapes = [(2 + (k * 29) % 37, 1 + (k * 13) % 9) for k in range(n_docs)]
    shapes += [(8, m) for m in heavy]
    return shapes


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join("w" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 4)) for _ in range(n))


def _crawl_docs(seed: int, tag: str, shapes, n_heavy: int, pool: list[str]) -> list[dict]:
    """Documents in the input_hint shape over a permuted page pool.

    The heavy-tail documents keep seed-free ids, so the hash bucket and
    partition each lands in (and with it the skew a pass sees) is the
    same for every seed; the seed permutes everything else."""
    rng = np.random.default_rng([seed, zlib_crc(tag)])
    n_plain = len(shapes) - n_heavy
    order = list(rng.permutation(n_plain)) + list(range(n_plain, len(shapes)))
    pages = [pool[i] for i in rng.permutation(len(pool))]
    docs, next_page = [], 0
    for idx, k in enumerate(order):
        n_text, n_media = shapes[k]
        kinds = np.array(["text"] * n_text + ["media"] * n_media)[rng.permutation(n_text + n_media)]
        spans = []
        for off, kind in enumerate(kinds):
            if kind == "media":
                spans.append({"kind": "media", "text": None, "media_ref": pages[next_page], "offset": off})
                next_page += 1
            else:
                spans.append({"kind": "text", "text": _words(rng, int(rng.integers(1, 9))), "media_ref": None, "offset": off})
        doc_id = f"{tag}-heavy{idx - n_plain}" if idx >= n_plain else f"s{seed}-{tag}{idx:04d}"
        docs.append({"doc_id": doc_id, "spans": spans})
    assert next_page == len(pool)
    return docs


def zlib_crc(text: str) -> int:
    import zlib

    return zlib.crc32(text.encode())


def _write_docs(docs: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False), ("spans", pa.list_(span))])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), path)


def _reference(docs: list[dict], page_texts: dict[str, list[str]]) -> dict[str, list[list]]:
    """doc_id -> [(kind, text, media_ref, order)]: pass-through text
    spans interleaved by offset with each page's recognized lines, the
    local_ref.extract_document_spans contract over given page texts."""
    ref = {}
    for d in docs:
        out = []
        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                out.append(["text", s["text"], None])
            else:
                out.extend(["media", t, s["media_ref"]] for t in page_texts[s["media_ref"]])
        ref[d["doc_id"]] = [row + [i] for i, row in enumerate(out)]
    return ref


def _page_texts(pages: dict[str, np.ndarray]) -> dict[str, list[str]]:
    from oar_ocr_spark.local_ref import ExtractConfig, extract_page

    cfg = ExtractConfig()
    return {ref: [t for t, _c in extract_page(img, cfg)] for ref, img in pages.items()}


class CrawlInput:
    """Paths and reference of one crawl workload at one seed."""

    def __init__(self, seed_dir: str, pool_dir: str):
        self.docs_path = os.path.join(seed_dir, "docs.parquet")
        self.pdfs_path = os.path.join(seed_dir, "pdfs.parquet")
        self.store_path = os.path.join(pool_dir, "store.parquet")
        self.reference = _load(os.path.join(seed_dir, "reference.json"))
        self.n_docs = len(self.reference)
        # the warm-up slice: six ordinary documents, none of the heavy tail
        self.warm_ids = [d for d in sorted(self.reference) if "-heavy" not in d][:6]


def crawl_rendered(cache: str, seed: int) -> CrawlInput:
    from oar_ocr_spark.fixtures.render import render_page

    shapes = _shapes(RENDERED_DOCS, RENDERED_HEAVY_MEDIA)
    pool = [f"r{k:05d}" for k in range(sum(m for _t, m in shapes))]

    def build_pool(tmp):
        _dump(_page_texts({ref: render_page(ref) for ref in pool}), os.path.join(tmp, "pages.json"))

    pool_dir = _cached(os.path.join(cache, "crawl_rendered-pool"), build_pool)

    def build_seed(tmp):
        docs = _crawl_docs(seed, "r", shapes, len(RENDERED_HEAVY_MEDIA), pool)
        _write_docs(docs, os.path.join(tmp, "docs.parquet"))
        _dump(_reference(docs, _load(os.path.join(pool_dir, "pages.json"))), os.path.join(tmp, "reference.json"))

    seed_dir = _cached(os.path.join(cache, f"crawl_rendered-seed{seed}"), build_seed)
    return CrawlInput(seed_dir, pool_dir)


def encoded_pool() -> list[tuple[str, str]]:
    """[(media_ref, format)] of the encoded page pool (seed-free)."""
    shapes = _shapes(ENCODED_DOCS, ENCODED_HEAVY_MEDIA)
    n = sum(m for _t, m in shapes)
    fmts: list[str] = []
    for fmt, count in FORMAT_COUNTS.items():
        fmts += [fmt] * count
    rest = n - len(fmts)
    fmts += ["png"] * (rest - rest // 2) + ["tiff"] * (rest // 2)
    return [(f"e{k:05d}", fmt) for k, fmt in enumerate(fmts)]


def encode_page(ref: str, fmt: str) -> bytes:
    """One pool page as `fmt` bytes (the format mix of crawl_encoded)."""
    from oar_ocr_spark.fixtures.render import render_page
    from oar_ocr_spark.functions import gif, jpeg, png, tiff
    from oar_ocr_spark.functions.multimodal import jp2_payload_for_ref

    page = render_page(ref)
    flip = bool(zlib_crc(ref) & 1)
    if fmt == "png":
        return png.encode_png(page)
    if fmt == "tiff":
        return tiff.encode_tiff(page, compression="packbits" if flip else "none")
    if fmt == "jpeg_baseline":
        return jpeg.encode_jpeg(page, 100)
    if fmt == "jpeg_progressive":
        return jpeg.encode_jpeg_progressive(page, 100)
    if fmt == "gif":
        grey = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        return gif.encode_gif(page, grey, interlace=flip)
    if fmt == "jp2":
        return jp2_payload_for_ref(ref, page)
    raise ValueError(fmt)


def decode_page(payload: bytes) -> np.ndarray:
    """The engine's payload decoder (magic-byte dispatch)."""
    from oar_ocr_spark.functions.multimodal import _decode_payload

    return _decode_payload("", "image", payload)


def crawl_encoded(cache: str, seed: int) -> CrawlInput:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oar_ocr_spark.fixtures.render import render_page
    from oar_ocr_spark.functions.pdf import encode_pdf

    pool = encoded_pool()
    pdf_shapes = [(1 + k % 5, 1 + k % 3) for k in range(PDF_DOCS)]
    pdf_pool = [f"f{k:05d}" for k in range(sum(m for _t, m in pdf_shapes))]

    def build_pool(tmp):
        payloads = [encode_page(ref, fmt) for ref, fmt in pool]
        pq.write_table(
            pa.table({"media_ref": [r for r, _f in pool], "payload": payloads, "format": [f for _r, f in pool]}),
            os.path.join(tmp, "store.parquet"),
        )
        # references from the same decoded pages the engine sees (JPEG is lossy)
        pages = {ref: decode_page(p) for (ref, _f), p in zip(pool, payloads)}
        # PDF image pages are lossless: their reference is the rendered page
        pages.update({ref: render_page(ref) for ref in pdf_pool})
        _dump(_page_texts(pages), os.path.join(tmp, "pages.json"))

    pool_dir = _cached(os.path.join(cache, "crawl_encoded-pool"), build_pool)

    def build_seed(tmp):
        docs = _crawl_docs(seed, "e", _shapes(ENCODED_DOCS, ENCODED_HEAVY_MEDIA), len(ENCODED_HEAVY_MEDIA), [r for r, _f in pool])
        pdf_docs = _crawl_docs(seed, "p", pdf_shapes, 0, pdf_pool)
        rng = np.random.default_rng([seed, zlib_crc("pdf-flavour")])
        flavours = [PDF_FLAVOURS[k % len(PDF_FLAVOURS)] for k in rng.permutation(len(pdf_docs))]
        rows = {"pdf_ref": [], "payload": [], "n_pages": []}
        for d, (xref, enc) in zip(pdf_docs, flavours):
            spans = sorted(d["spans"], key=lambda s: s["offset"])
            pages = [render_page(s["media_ref"]) if s["kind"] == "media" else s["text"] for s in spans]
            refs = [f"{s['offset']}:{s['media_ref'] or ''}" for s in spans]
            rows["pdf_ref"].append(d["doc_id"])
            rows["payload"].append(
                encode_pdf(pages, refs, image_format="mix", text_format="mix", xref_format=xref, encrypt=enc)
            )
            rows["n_pages"].append(len(pages))
        _write_docs(docs, os.path.join(tmp, "docs.parquet"))
        pq.write_table(pa.table(rows), os.path.join(tmp, "pdfs.parquet"))
        _dump(_reference(docs + pdf_docs, _load(os.path.join(pool_dir, "pages.json"))), os.path.join(tmp, "reference.json"))

    seed_dir = _cached(os.path.join(cache, f"crawl_encoded-seed{seed}"), build_seed)
    return CrawlInput(seed_dir, pool_dir)


# --------------------------------------------------------------------------
# curation tables
# --------------------------------------------------------------------------

# the timed pass: one committed step per layer, functions.text (with
# exact dedup), dedup (SimHash), similarity (exact kNN) and html, each
# about linear in the tables. Run once per traced invocation instead:
# minhash_candidates, whose band table stays persisted and reachable
# after the query (one leaked RDD per call, which the clean-cache check
# before every pass would reject), and ivf_ann, iterative small jobs.
CURATE_STEPS = ("corpus_clean", "simhash", "knn_bruteforce", "html_extract")
LAYER_STEPS = ("minhash_candidates", "ivf_ann")


def _curate_tables(seed: int, size: tuple[int, ...]) -> tuple[dict, dict, set]:
    """documents and embeddings columns, and the injected duplicate
    doc pairs (source, copy)."""
    from oar_ocr_spark.functions.text import LANG_CUES

    n, n_exact, n_near, m, n_vec_dups = size
    rng = np.random.default_rng([seed, zlib_crc("curate")])
    lengths = [8 + (k * 37) % 90 for k in range(n)]
    langs: list[str] = []
    for lang, pct in LANG_MIX:
        langs += [lang] * (n * pct // 100)
    langs += ["en"] * (n - len(langs))
    lengths = [lengths[i] for i in rng.permutation(n)]
    langs = [langs[i] for i in rng.permutation(n)]
    texts = []
    for length, lang in zip(lengths, langs):
        vocab = WORDS + LANG_CUES[lang] * 2 + ["the", "a", "of"]
        texts.append(" ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), length)))
    # duplicates: copies sit at fixed positions, sources are seed-chosen
    pairs: set[tuple[int, int]] = set()
    copies = rng.permutation(n)[: n_exact + n_near]
    others = [i for i in range(n) if i not in set(copies.tolist())]
    sources = rng.choice(others, size=len(copies), replace=False)
    for j, (dst, src) in enumerate(zip(copies.tolist(), sources.tolist())):
        words = texts[src].split(" ")
        if j >= n_exact:
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[dst] = " ".join(words)
        langs[dst] = langs[src]
        pairs.add((min(src, dst), max(src, dst)))
    documents = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rng.normal(size=(10, 64))
    labels = np.array([k % 10 for k in range(m)], dtype=np.int32)[rng.permutation(m)]
    vecs = centers[labels] + rng.normal(scale=0.6, size=(m, 64))
    dup_dst = rng.permutation(m)[:n_vec_dups]
    dup_src = (dup_dst + 1 + rng.integers(0, m - 1, n_vec_dups)) % m
    vecs[dup_dst] = vecs[dup_src] + rng.normal(scale=1e-3, size=(n_vec_dups, 64))
    labels[dup_dst] = labels[dup_src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels,
    }
    return documents, embeddings, pairs


def _write_curate(tmp: str, documents: dict, embeddings: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table(documents)
    emb = pa.table(
        {
            "vec_id": embeddings["vec_id"],
            "embedding": pa.array(embeddings["embedding"], type=pa.list_(pa.float32())),
            "label": embeddings["label"],
        }
    )
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    pq.write_table(emb, os.path.join(tmp, "embeddings.parquet"))


def canonical_rows(table) -> list[str]:
    """Order-insensitive row canonicalization of the repo's oracle gate
    (tools/check_oracle_parity.py): columns sorted by name, floats
    rounded to 6dp, nulls as NULL."""
    from tools.check_oracle_parity import _canonical_rows

    pdf = table.to_pandas()
    return [] if len(pdf) == 0 else _canonical_rows(pdf).tolist()


class CurateInput:
    def __init__(self, seed_dir: str):
        self.data_dir = os.path.join(seed_dir, "data")
        ref = _load(os.path.join(seed_dir, "reference.json"))
        self.reference = {step: Counter(rows) for step, rows in ref["rows"].items()}
        self.columns = ref["columns"]
        self.pairs = {tuple(p) for p in ref["pairs"]}
        self.n_docs = ref["n_docs"]


def oracle_rows(data_dir: str, steps, threads: int | None = None) -> dict[str, object]:
    """step -> the DuckDB twin's result table over `data_dir`."""
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    if threads:
        con.sql(f"SET threads = {threads}")
    for t in ("documents", "embeddings"):
        con.sql(f"create view {t} as select * from '{os.path.join(data_dir, t + '.parquet')}'")
    oracles = E.oracle_sql()
    out = {step: con.sql(oracles[step]).arrow() for step in steps}
    con.close()
    return out


def _build_curate(seed: int, size: tuple[int, ...], tmp: str) -> None:
    documents, embeddings, pairs = _curate_tables(seed, size)
    data = os.path.join(tmp, "data")
    _write_curate(data, documents, embeddings)
    tables = oracle_rows(data, CURATE_STEPS + LAYER_STEPS)
    _dump(
        {
            "rows": {step: canonical_rows(t) for step, t in tables.items()},
            "columns": {step: sorted(t.column_names) for step, t in tables.items()},
            "pairs": sorted(pairs),
            "n_docs": size[0],
        },
        os.path.join(tmp, "reference.json"),
    )


def curate_text(cache: str, seed: int) -> tuple[CurateInput, CurateInput]:
    """(the seed's input, the seed-free warm-up input)."""
    warm = _cached(os.path.join(cache, "curate_text-warm"), lambda tmp: _build_curate(0, CURATE_WARM_SIZE, tmp))
    main = _cached(os.path.join(cache, f"curate_text-seed{seed}"), lambda tmp: _build_curate(seed, CURATE_SIZE, tmp))
    return CurateInput(main), CurateInput(warm)
