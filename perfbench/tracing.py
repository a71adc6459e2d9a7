"""The traced run behind ``--trace 1``: a per-layer ledger of one workload.

All spans are recorded here, around calls into the program's public
functions; the program itself is not instrumented. The run has four
parts:

1. One untraced job, the reference for ``trace_overhead_frac``.
2. The staged job: each public stage function of the workload's engine
   is called and its output materialized in turn (persist + count),
   under its own ``setJobGroup``, inside a span. Spark's status store
   then gives each stage's task run time, CPU time and shuffle bytes.
3. Layer samples: a seeded sample of the workload's media runs,
   single-threaded in this process, through the engine's own per-batch
   functions (the bodies of its ``mapInPandas`` stages), with the
   kernel, raster, codec and text-tier functions wrapped in spans
   wherever the engine's modules hold them. Each module's self time
   (its span time minus the wrapped calls it makes into other modules)
   is divided by the synthetic pages of the media that reached it. A
   module the workload's media never reach reads 0.
4. The lineage legs: ``lineage.run_extract_job`` with the workload's
   engine, stopped after half the chunks and resumed.

Spans are kept in memory and written to ``perfbench/.cache/traces``.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import sys
import time

import numpy as np
import pandas as pd

from corpora import CACHE
from collectors import ProcTree, StageLedger
from workloads import CHUNK_BUCKETS, NUM_BUCKETS, RUN_ID

#: layer-sample size: media are drawn until this many synthetic pages
SAMPLE_PAGES = 60
#: media larger than this are left out of the layer sample
SAMPLE_MAX_MEDIA_PAGES = 12

#: module -> public functions wrapped with spans during the layer sample
LAYER_FUNCS = {
    "kernels": ("detect_text_boxes", "predict_batch"),
    "raster": ("render_page",),
    "formats": ("decode_media",),
    "multimodal": ("probe_real_media",),
    "transport": ("maybe_unwrap",),
    # the engine reaches pdfcodec only through pdftext's hybrid path,
    # which rasterizes scanned pages with pdfcodec's per-page renderer
    "pdfcodec": ("_render_page_node",),
    "tiffcodec": ("decode_tiff",),
    "ccittcodec": ("decode_g3", "decode_g4"),
    "pngcodec": ("decode_png",),
    "compression": ("decode_lzw", "decode_packbits"),
    "pdftext": ("extract_hybrid_pages",),
    "htmltext": ("decode_html", "html_parts"),
    "docxtext": ("document_parts",),
    "odttext": ("document_parts",),
    "rtftext": ("document_parts",),
    "plaintext": ("decode_text", "paragraph_blocks"),
    "mdtext": ("markdown_blocks",),
    "latextext": ("latex_blocks",),
    "emltext": ("eml_parts", "mbox_page_parts"),
    "csvtext": ("tabular_blocks",),
    "xmltext": ("xml_blocks",),
    "jsontext": ("json_blocks",),
    "pptxtext": ("slide_parts",),
    "epubtext": ("chapter_parts",),
    "xlsxtext": ("sheet_parts",),
}
CODEC_MODULES = ("pdfcodec", "tiffcodec", "ccittcodec", "pngcodec",
                 "compression")
TIER_MODULES = ("pdftext", "htmltext", "docxtext", "odttext", "rtftext",
                "plaintext", "mdtext", "latextext", "emltext", "csvtext",
                "xmltext", "jsontext", "pptxtext", "epubtext", "xlsxtext")
#: per-media entry layers timed in the probe/decode stages, not in OCR
_ENTRY = ("formats", "multimodal", "transport")


class Tracer:
    """In-memory spans: name, start, end, parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Span duration minus the time its (sequential) children cover."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        own = self.self_times()
        with open(path, "w") as f:
            json.dump([dict(s, self_s=o) for s, o in zip(self.spans, own)], f)


def _bindings(wrappers: dict):
    """Every place the engine's modules hold a function of ``wrappers``
    (keyed by ``id``): a module global (``from .pdfcodec import
    _render_page_node``) or a slot of a registry tuple
    (``extract_real._PAGED_CODECS``). Yields ``(container, key, value)``."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("ocr_platform_spark") or mod is None:
            continue
        for key, val in list(vars(mod).items()):
            if id(val) in wrappers:
                yield mod.__dict__, key, val
            elif isinstance(val, dict):
                for k, v in val.items():
                    if isinstance(v, tuple) and any(id(f) in wrappers
                                                    for f in v):
                        yield val, k, v


@contextlib.contextmanager
def wrapped_layers(tracer: Tracer):
    """Replace each function in ``LAYER_FUNCS``, wherever the engine's
    modules hold it, by a span-recording wrapper for the duration of
    the block (this process only)."""
    wrappers = {}
    for mod_name, names in LAYER_FUNCS.items():
        mod = importlib.import_module(f"ocr_platform_spark.{mod_name}")
        for name in names:
            fn = getattr(mod, name)

            def wrapper(*a, _fn=fn, _label=f"{mod_name}.{name}", **kw):
                with tracer.span(_label, layer=_label.split(".")[0]):
                    return _fn(*a, **kw)

            wrappers[id(fn)] = wrapper
    saved = list(_bindings(wrappers))
    for container, key, val in saved:
        container[key] = (tuple(wrappers.get(id(f), f) for f in val)
                          if isinstance(val, tuple) else wrappers[id(val)])
    try:
        yield
    finally:
        for container, key, val in saved:
            container[key] = val


def _materialize(sc, tracer: Tracer, name: str, make):
    """Persist + count one stage's output inside a span; the span also
    records the CPU seconds of the whole process tree (JVM and Python
    workers: Spark's executorCpuTime misses the Python side)."""
    sc.setJobGroup(name, name)
    tree = ProcTree(os.getpid())
    tree.start()
    with tracer.span(name, kind="stage") as span:
        df = make().persist()
        rows = df.count()
    tree.stop()
    span["cpu_s"] = tree.cpu_s()
    return df, rows


def staged_job(workload, spark, docs, media, tracer: Tracer) -> dict:
    """Materialize each public stage function of the workload's engine."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators import extract, extract_real

    sc = spark.sparkContext
    real = workload.engine == "extract_real"
    rows = {}
    with tracer.span("job", kind="job") as root:
        sp, rows["extract.shared_exploded_spans"] = _materialize(
            sc, tracer, "extract.shared_exploded_spans",
            lambda: extract.shared_exploded_spans(docs))
        if real:
            mid_name, ocr_name = ("extract_real.real_page_buckets",
                                  "extract_real.ocr_real_blocks")
            mid, rows[mid_name] = _materialize(
                sc, tracer, mid_name,
                lambda: extract_real.real_page_buckets(docs, media, spans=sp))
            blocks, rows[ocr_name] = _materialize(
                sc, tracer, ocr_name,
                lambda: extract_real.ocr_real_blocks(mid))
        else:
            mid_name, ocr_name = "extract.decode_pages", "extract.ocr_blocks"
            mid, rows[mid_name] = _materialize(
                sc, tracer, mid_name,
                lambda: extract.decode_pages(docs, media, spans=sp))
            blocks, rows[ocr_name] = _materialize(
                sc, tracer, ocr_name, lambda: extract.ocr_blocks(mid))
        out, rows["extract.assemble_spans"] = _materialize(
            sc, tracer, "extract.assemble_spans",
            lambda: extract.assemble_spans(docs, blocks, spans=sp))
    stats = {"rows": rows, "root": root}
    if real:
        sc.setJobGroup("trace.bucket_stats", "bucket stats")
        agg = mid.agg(
            F.sum((F.col("media_kind") == "error").cast("int")),
            F.avg(F.when(F.col("media_kind") != "error",
                         F.col("sliced").cast("double"))),
            F.sum(F.length("data")),
        ).collect()[0]
        stats["bucket"] = {"quarantined": int(agg[0] or 0),
                           "sliced_frac": float(agg[1] or 0.0),
                           "payload_bytes": int(agg[2] or 0)}
    for df in (out, blocks, mid, sp):
        df.unpersist()
    return stats


def _draw_media(workload, sample, seed: int) -> list[str]:
    """Seeded layer sample; crawl encodings take one media per tier first."""
    rng = np.random.default_rng(seed)
    refs = [r for r in sample.refs
            if sample.media_pages[r] <= SAMPLE_MAX_MEDIA_PAGES]
    refs = [refs[i] for i in rng.permutation(len(refs))]
    if workload.encoding == "crawl":
        first, seen = [], set()
        for r in refs:
            if sample.crawl_tier[r] not in seen:
                seen.add(sample.crawl_tier[r])
                first.append(r)
        refs = first + [r for r in refs if r not in set(first)]
    chosen, pages = [], 0
    for r in refs:
        if pages >= SAMPLE_PAGES:
            break
        chosen.append(r)
        pages += sample.media_pages[r]
    return chosen


def _run_engine(workload, ref: str, payload: bytes) -> bool:
    """One media through the engine's own per-batch functions, as its
    Spark stages call them: decode then OCR (``extract``), or probe +
    bucket then OCR (``extract_real``). True if the media quarantines."""
    from ocr_platform_spark.operators import extract, extract_real

    frame = pd.DataFrame({"doc_id": ["d"], "offset": [0], "media_ref": [ref],
                          "data": [payload]})
    if workload.engine == "extract":
        pages = next(extract._decode_batches(iter([frame])))
        bad = pages["media_kind"] == extract.MEDIA_KIND_ERROR
        next(extract._ocr_batches(iter([pages[~bad]])))
    else:
        buckets = next(extract_real._bucket_batches_fn(
            extract_real.DEFAULT_BUCKET_PAGES, True, True)(iter([frame])))
        bad = buckets["media_kind"] == extract.MEDIA_KIND_ERROR
        next(extract_real._ocr_real_batches_fn(True)(iter([buckets])))
    return bool(bad.any())


def layer_sample(workload, sample, seed: int, tracer: Tracer) -> dict:
    """Per-module self time over a seeded sample of the workload's media."""
    refs = _draw_media(workload, sample, seed)
    data = sample.media_bytes(workload.encoding)
    first = len(tracer.spans)
    reached: dict[str, set[str]] = {}
    counts = {"media": 0, "pages": 0, "quarantined": 0}
    with tracer.span("layer_sample", kind="sample"), wrapped_layers(tracer):
        for ref in refs:
            before = len(tracer.spans)
            with tracer.span("media", ref=ref):
                counts["quarantined"] += _run_engine(workload, ref, data[ref])
            for s in tracer.spans[before:]:
                if "layer" in s:
                    reached.setdefault(s["layer"], set()).add(ref)
            counts["media"] += 1
            counts["pages"] += sample.media_pages[ref]
    own = tracer.self_times()
    self_s: dict[str, float] = {}
    calls: dict[str, int] = {}
    for s, o in zip(tracer.spans[first:], own[first:]):
        if s["name"] in ("media", "layer_sample"):
            continue
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + o
        self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + o
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    # every raster the engine OCRs goes through detect once
    counts["ocr_pages"] = calls.get("kernels.detect_text_boxes", 0)
    counts["render_pages"] = calls.get("raster.render_page", 0)
    layer_pages = {m: sum(sample.media_pages[r] for r in rs)
                   for m, rs in reached.items()}
    kernel_s = sum(v for k, v in self_s.items()
                   if "." not in k and k not in _ENTRY)
    return {"self_s": self_s, "calls": calls, "layer_pages": layer_pages,
            "counts": counts,
            "kernel_ms_per_page": 1e3 * kernel_s / max(1, counts["pages"])}


def _per(total_s: float, n: int) -> float:
    return 1e3 * total_s / n if n else 0.0


def traced_run(workload, env: dict, sample, seed: int) -> tuple[dict, dict]:
    spark, docs, media = env["spark"], env["docs"], env["media"]
    sc = spark.sparkContext
    ledger = StageLedger(spark)
    tracer = Tracer()
    parallelism = sc.defaultParallelism

    t0 = time.perf_counter()
    workload.one_shot(docs, media)
    untraced_s = time.perf_counter() - t0
    staged = staged_job(workload, spark, docs, media, tracer)
    groups = ledger.job_groups()
    stage_spans = {s["name"]: s for s in tracer.spans if s.get("kind") == "stage"}
    own = tracer.self_times()
    root = staged["root"]
    traced_s = root["end"] - root["start"]
    stage_self = sum(own[s["id"]] for s in stage_spans.values())

    layers = layer_sample(workload, sample, seed, tracer)

    lookup_s = []

    def on_leg(leg: str, out: str) -> None:
        if leg == "kill":
            from ocr_platform_spark import lineage

            sc.setJobGroup("lineage.completed_buckets", "lookup")
            with tracer.span("lineage.completed_buckets") as s:
                lineage.completed_buckets(spark, os.path.join(out, "lineage"),
                                          RUN_ID)
            lookup_s.append(s["end"] - s["start"])
            sc.setJobGroup("lineage.run_extract_job", "legs")

    sc.setJobGroup("lineage.run_extract_job", "legs")
    with tracer.span("lineage.run_extract_job"):
        kill, resume = workload.lineage_legs(spark, docs, media,
                                             on_leg=on_leg, tracer=tracer)
    lineage_jobs = ledger.job_groups()["lineage.run_extract_job"]["jobs"]
    tracer.dump(os.path.join(CACHE, "traces",
                             f"{workload.name}-s{seed}-{os.getpid()}.json"))

    def stage(name: str) -> dict:
        if name not in stage_spans:
            return {"run_s": 0.0, "cpu_s": 0.0, "task_skew": 0.0,
                    "shuffle_write_bytes": 0, "shuffle_read_bytes": 0}
        span = stage_spans[name]
        t = ledger.totals(groups.get(name, {}).get("stages", []))
        t["run_s"] = span["end"] - span["start"]
        t["cpu_s"] = span["cpu_s"]
        return t

    all_stages = [i for name in stage_spans
                  for i in groups.get(name, {}).get("stages", [])]
    totals = ledger.totals(all_stages)
    rows = staged["rows"]
    m: dict[str, tuple[float, str]] = {
        "session.get_spark.s": (env["get_spark_s"], "s"),
        "spark.jobs": (sum(groups.get(n, {}).get("jobs", 0)
                           for n in stage_spans), "count"),
        "spark.tasks": (totals["tasks"], "count"),
        "spark.gc_s": (totals["gc_s"], "s"),
        "trace_overhead_frac": (traced_s / untraced_s - 1.0, "ratio"),
        "trace.stage_self_frac": (stage_self / traced_s, "ratio"),
        "trace.untraced_job_s": (untraced_s, "s"),
        "trace.traced_job_s": (traced_s, "s"),
    }
    s = stage("extract.shared_exploded_spans")
    m["extract.shared_exploded_spans.run_s"] = (s["run_s"], "s")
    m["extract.shared_exploded_spans.rows_out"] = (
        rows["extract.shared_exploded_spans"], "count")
    s = stage("extract.decode_pages")
    m["extract.decode_pages.run_s"] = (s["run_s"], "s")
    m["extract.decode_pages.rows_out"] = (rows.get("extract.decode_pages", 0),
                                          "count")
    m["extract.decode_pages.shuffle_write_mb"] = (
        s["shuffle_write_bytes"] / 1e6, "MB")
    kernel_ms = layers["kernel_ms_per_page"]
    for name in ("extract.ocr_blocks", "extract_real.ocr_real_blocks"):
        s = stage(name)
        m[f"{name}.run_s"] = (s["run_s"], "s")
        m[f"{name}.cpu_s"] = (s["cpu_s"], "s")
        m[f"{name}.blocks_out"] = (rows.get(name, 0), "count")
        m[f"{name}.task_skew"] = (s["task_skew"], "ratio")
        m[f"{name}.non_kernel_s"] = (
            (s["run_s"] - kernel_ms * sample.pages / 1e3 / parallelism)
            if name in stage_spans else 0.0, "s")
    s = stage("extract_real.real_page_buckets")
    b = staged.get("bucket", {})
    m["extract_real.real_page_buckets.run_s"] = (s["run_s"], "s")
    m["extract_real.real_page_buckets.rows_out"] = (
        rows.get("extract_real.real_page_buckets", 0), "count")
    m["extract_real.real_page_buckets.quarantined"] = (
        b.get("quarantined", 0), "count")
    m["extract_real.real_page_buckets.sliced_frac"] = (
        b.get("sliced_frac", 0.0), "ratio")
    m["extract_real.real_page_buckets.payload_amplification"] = (
        b.get("payload_bytes", 0) / sample.payload_bytes[workload.encoding]
        if b else 0.0, "ratio")
    s = stage("extract.assemble_spans")
    m["extract.assemble_spans.run_s"] = (s["run_s"], "s")
    m["extract.assemble_spans.shuffle_read_mb"] = (
        s["shuffle_read_bytes"] / 1e6, "MB")
    m["extract.assemble_spans.rows_out"] = (rows["extract.assemble_spans"],
                                            "count")

    self_s, calls, counts = layers["self_s"], layers["calls"], layers["counts"]
    m["kernels.detect_text_boxes.ms_per_page"] = (_per(
        self_s.get("kernels.detect_text_boxes", 0.0), counts["ocr_pages"]),
        "ms/page")
    m["kernels.predict_batch.ms_per_page"] = (_per(
        self_s.get("kernels.predict_batch", 0.0), counts["ocr_pages"]),
        "ms/page")
    m["raster.render_page.ms_per_page"] = (_per(
        self_s.get("raster.render_page", 0.0), counts["render_pages"]),
        "ms/page")
    for name in ("formats.decode_media", "multimodal.probe_real_media",
                 "transport.maybe_unwrap"):
        m[f"{name}.ms_per_media"] = (_per(self_s.get(name, 0.0),
                                          calls.get(name, 0)), "ms/media")
    for mod in CODEC_MODULES + TIER_MODULES:
        m[f"{mod}.ms_per_page"] = (_per(
            self_s.get(mod, 0.0), layers["layer_pages"].get(mod, 0)), "ms/page")

    m["lineage.run_extract_job.kill_leg_s"] = (kill["s"], "s")
    m["lineage.run_extract_job.resume_leg_s"] = (resume["s"], "s")
    m["lineage.run_extract_job.chunks_run"] = (kill["chunks"] + resume["chunks"],
                                               "count")
    m["lineage.run_extract_job.chunks_skipped"] = (
        NUM_BUCKETS // CHUNK_BUCKETS - resume["chunks"], "count")
    m["lineage.run_extract_job.spark_jobs"] = (lineage_jobs, "count")
    m["lineage.completed_buckets.s"] = (lookup_s[0], "s")

    extra = {"untraced_job_s": untraced_s, "traced_job_s": traced_s,
             "stage_self_s": {n: own[s["id"]] for n, s in stage_spans.items()},
             "layer_sample": counts}
    return m, extra
