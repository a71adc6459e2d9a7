"""Seeded inputs for the extraction benchmark.

Re-encoding a page as a wild-compression TIFF/PDF costs 60-120 ms of
pure-Python work, about 80 CPU-seconds for a 200-document corpus, so
regenerating a corpus per ``--seed`` would cost more than the run it
feeds. Instead, one fixed *pool* of documents is generated
once per checkout with :func:`ocr_platform_spark.corpus.generate` and
re-encoded with the test suite's own encoders (imported, not copied).
Each ``--seed`` then draws a page-stratified sample from the pool:
pool documents are sorted by page count and cut into ``docs``
consecutive strata, and the seed picks one document per stratum, except
in the ``FIXED_TAIL`` heaviest strata, which always give their middle
document. The heavy tail stays in every sample and its size does not
move with the seed. The encoders rotate over a media's *stratum slot*
(``3 * stratum + position in its document``) rather than over the pool,
so every document of a stratum gets the same codec or tier: decode cost
per page differs up to 8x between the wild-compression variants, and
without this the seed would decide which codec the 200-page documents
use.

The pool also stores the expected output of every document, computed
with :func:`ocr_platform_spark.oracle.extract_document` (the single-node
reference the flagship is pinned to), so each run checks every output
document without re-running the oracle.

Everything lives under ``perfbench/.cache`` of the checkout, keyed by
a hash of the sources it depends on (:func:`source_key`).
"""

from __future__ import annotations

import bz2
import functools
import gc
import glob
import gzip
import hashlib
import json
import lzma
import multiprocessing as mp
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, "perfbench", ".cache")

POOL_SEED = 4242
POOL_DOCS = 600
SAMPLE_DOCS = 200
MAX_PAGES = 200
#: part files per sample table, so every scan splits across cores
PARTS = 8
#: the heaviest strata always contribute their middle document: a seed
#: that swaps an 81-page document for a 156-page one moves a sample's
#: bytes per page by 15% (scanned) to 55% (crawl), see ``Sample``
FIXED_TAIL = 6

#: the 19-tier crawl rotation of ``BENCH/real_codec_bench.py``
#: (``crawl_mix`` arm): tier = rotation slot mod 19, and every 5th payload
#: arrives transport-compressed
CRAWL_TIERS = (
    "real", "tiff", "wild", "text_layer", "html", "docx", "pptx", "xlsx",
    "epub", "odt", "rtf", "txt", "md", "dsv", "xml", "jsonl", "tex", "eml",
    "mbox",
)
_WRAP = (gzip.compress, bz2.compress, lzma.compress)


def _crawl_encoders() -> dict:
    from tests.test_extract_csv import content_dsv
    from tests.test_extract_docx import content_docx
    from tests.test_extract_eml import content_eml, content_mbox
    from tests.test_extract_epub import content_epub
    from tests.test_extract_html import content_html
    from tests.test_extract_json import content_jsonl
    from tests.test_extract_latex import content_tex
    from tests.test_extract_md import content_md
    from tests.test_extract_odt_rtf import content_odt, content_rtf
    from tests.test_extract_office_paged import content_pptx, content_xlsx
    from tests.test_extract_real import reencode_real, reencode_tiff
    from tests.test_extract_text_plain import content_txt
    from tests.test_extract_xml import content_xml

    return {
        "real": reencode_real, "tiff": reencode_tiff, "html": content_html,
        "docx": content_docx, "pptx": content_pptx, "xlsx": content_xlsx,
        "epub": content_epub, "odt": content_odt, "rtf": content_rtf,
        "txt": content_txt, "md": content_md, "dsv": content_dsv,
        "xml": content_xml, "jsonl": content_jsonl, "tex": content_tex,
        "eml": content_eml, "mbox": content_mbox,
    }


def encode_media(args: tuple[int, bytes]) -> tuple[bytes, bytes, bool]:
    """Media in rotation slot ``i`` -> (scanned bytes, crawl bytes, is
    text-layer PDF).

    ``scanned`` is the ``reencode_wild`` rotation (G3/LZW/PackBits/MH
    TIFF, G3+LZW PDF); ``crawl`` is the 19-tier rotation."""
    from tests.test_extract_real import reencode_wild
    from tests.test_extract_text_layer import reencode_text_layer

    i, data = args
    scanned = reencode_wild(data, i)
    tier = CRAWL_TIERS[i % len(CRAWL_TIERS)]
    text_pdf = False
    if tier == "wild":
        crawl = scanned
    elif tier == "text_layer":
        crawl, text_pdf = reencode_text_layer(data)
    else:
        crawl = _crawl_encoders()[tier](data)
    if i % 5 == 4:
        crawl = _WRAP[i % 3](crawl)
    return scanned, crawl, text_pdf


def expected_spans(args: tuple[list[dict], dict[str, bytes]]) -> list[list]:
    """Oracle output ``[kind, text, media_ref, order]`` per document."""
    from ocr_platform_spark import oracle

    docs, media_bytes = args
    return [
        [[s.kind, s.text, s.media_ref, s.order]
         for s in oracle.extract_document(d["spans"], media_bytes)]
        for d in docs
    ]


def _workers() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


@functools.cache
def source_key() -> str:
    """Short hash of every source the cached inputs depend on: the
    engine package (generator, codecs and oracle), the test modules the
    encoders come from, and this file. A checkout whose code differs
    gets caches of its own instead of another commit's corpus and
    expected output."""
    files = sorted(glob.glob(os.path.join(ROOT, "ocr_platform_spark", "**",
                                          "*.py"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "tests", "*.py")))
    files.append(os.path.abspath(__file__))
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def pool_dir(pool_docs: int, docs: int) -> str:
    return os.path.join(
        CACHE, f"pool-{source_key()}-s{POOL_SEED}-d{pool_docs}-p{MAX_PAGES}"
               f"-strata{docs}")


def _doc_refs(docs: list[dict]) -> dict[str, list[str]]:
    return {d["doc_id"]: [s["media_ref"] for s in d["spans"] if s["media_ref"]]
            for d in docs}


def strata(doc_pages: dict[str, int], n: int) -> list[list[str]]:
    """Documents ranked by page count, cut into ``n`` consecutive strata."""
    if n > len(doc_pages):
        raise ValueError(f"{n} strata exceed the pool of {len(doc_pages)} docs")
    ranked = sorted(doc_pages, key=lambda d: (doc_pages[d], d))
    bounds = np.linspace(0, len(ranked), n + 1).astype(int)
    return [ranked[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]


def build_pool(pool_docs: int, docs_per_sample: int) -> str:
    """Generate, re-encode and oracle-check the pool once; return its dir."""
    from ocr_platform_spark import corpus

    out = pool_dir(pool_docs, docs_per_sample)
    if os.path.exists(os.path.join(out, "pool.json")):
        return out
    t0 = time.perf_counter()
    docs, media = corpus.generate(pool_docs, seed=POOL_SEED, max_pages=MAX_PAGES)
    refs = sorted(media)
    mb = {r: media[r]["data"] for r in refs}
    doc_refs = _doc_refs(docs)
    slot = {}
    for s, members in enumerate(strata(
            {d: sum(media[r]["page_count"] for r in rs)
             for d, rs in doc_refs.items()}, docs_per_sample)):
        for d in members:
            for j, r in enumerate(doc_refs[d]):
                slot[r] = 3 * s + j
    # spawn, not fork: the caller may already hold threads
    with mp.get_context("spawn").Pool(_workers()) as pool:
        enc = pool.map(encode_media, [(slot[r], mb[r]) for r in refs],
                       chunksize=4)
        step = 10
        exp_chunks = pool.map(
            expected_spans,
            [(docs[i:i + step],
              {s["media_ref"]: mb[s["media_ref"]]
               for d in docs[i:i + step] for s in d["spans"]
               if s["media_ref"]})
             for i in range(0, len(docs), step)],
        )
    # the spawn pool started multiprocessing's resource tracker, a child
    # that would otherwise outlive the benchmark and count in its
    # process tree; stop it and wait for it to exit, once the pool's
    # semaphores are gone (the tracker unlinks any still registered)
    del pool
    gc.collect()
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    expected = [e for chunk in exp_chunks for e in chunk]
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=corpus.DOCUMENTS_SCHEMA),
                   os.path.join(tmp, "documents.parquet"))
    pq.write_table(pa.table({
        "media_ref": refs,
        "page_count": [media[r]["page_count"] for r in refs],
        "synth": [mb[r] for r in refs],
        "scanned": [e[0] for e in enc],
        "crawl": [e[1] for e in enc],
    }), os.path.join(tmp, "media.parquet"))
    meta = {
        "pool_seed": POOL_SEED,
        "max_pages": MAX_PAGES,
        "expected": {d["doc_id"]: e for d, e in zip(docs, expected)},
        "crawl_tier": {r: CRAWL_TIERS[slot[r] % len(CRAWL_TIERS)]
                       + ("+transport" if slot[r] % 5 == 4 else "")
                       for r in refs},
        "text_pdf_refs": [r for r, e in zip(refs, enc) if e[2]],
    }
    with open(os.path.join(tmp, "pool.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)
    print(f"perfbench: built pool of {pool_docs} docs in "
          f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return out


class Sample:
    """One seeded draw from the pool, written as parquet tables.

    ``synth``/``scanned``/``crawl`` are the three encodings of the same
    media (``media_ref, data``); ``documents`` is the input table."""

    def __init__(self, seed: int, docs: int, pool_docs: int):
        src = build_pool(pool_docs, docs)
        with open(os.path.join(src, "pool.json")) as f:
            meta = json.load(f)
        self.dir = os.path.join(
            CACHE, f"sample-{source_key()}-s{seed}-d{docs}-pool{pool_docs}")
        doc_table = pq.read_table(os.path.join(src, "documents.parquet"))
        media = pq.read_table(os.path.join(src, "media.parquet"))
        pages_of = dict(zip(media["media_ref"].to_pylist(),
                            media["page_count"].to_pylist()))
        doc_refs = _doc_refs(doc_table.select(["doc_id", "spans"]).to_pylist())
        doc_pages = {d: sum(pages_of[r] for r in refs)
                     for d, refs in doc_refs.items()}
        rng = np.random.default_rng(seed)
        cuts = strata(doc_pages, docs)
        picks = [int(rng.integers(len(m))) for m in cuts]
        tail = min(FIXED_TAIL, len(cuts) // 4)
        for i in range(len(cuts) - tail, len(cuts)):
            picks[i] = len(cuts[i]) // 2
        chosen = sorted(m[k] for m, k in zip(cuts, picks))
        self.doc_ids = chosen
        self.refs = sorted(r for d in chosen for r in doc_refs[d])
        self.pages = sum(doc_pages[d] for d in chosen)
        self.expected = {d: [tuple(s) for s in meta["expected"][d]]
                         for d in chosen}
        self.text_pdf_refs = set(meta["text_pdf_refs"]) & set(self.refs)
        self.crawl_tier = {r: meta["crawl_tier"][r] for r in self.refs}
        self.media_pages = {r: pages_of[r] for r in self.refs}
        sel = media.filter(pc.is_in(media["media_ref"],
                                    value_set=pa.array(self.refs)))
        self.payload_bytes = {
            enc: int(pc.sum(pc.binary_length(sel[enc])).as_py() or 0)
            for enc in ("synth", "scanned", "crawl")
        }
        if not os.path.exists(os.path.join(self.dir, "done")):
            os.makedirs(self.dir, exist_ok=True)
            docs_sel = doc_table.filter(
                pc.is_in(doc_table["doc_id"], value_set=pa.array(chosen)))
            _write_parts(docs_sel, os.path.join(self.dir, "documents"))
            for enc in ("synth", "scanned", "crawl"):
                _write_parts(
                    pa.table({"media_ref": sel["media_ref"],
                              "data": sel[enc],
                              "page_count": sel["page_count"]}),
                    os.path.join(self.dir, enc))
            open(os.path.join(self.dir, "done"), "w").close()

    def table(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def tier_mix(self) -> dict[str, int]:
        mix: dict[str, int] = {}
        for t in self.crawl_tier.values():
            mix[t] = mix.get(t, 0) + 1
        return dict(sorted(mix.items()))

    def media_bytes(self, encoding: str) -> dict[str, bytes]:
        t = pq.read_table(self.table(encoding))
        return dict(zip(t["media_ref"].to_pylist(), t["data"].to_pylist()))


def _write_parts(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:02d}.parquet"))
