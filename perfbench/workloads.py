"""The benchmark's workloads and their output checks.

Every workload is a closed loop with one client: the benchmark process
submits one extraction job, waits for it to finish, then submits the
next. Timed
jobs write to Spark's ``noop`` sink; the output check examines the
warm-up job, the same job collected before timing starts.

* ``flagship_ocr`` — the synthetic SPDF1/SIMG1 corpus through
  ``extract.extract_documents``. Render, detect and recognize dominate;
  no codec, probe or text tier is reached.
* ``real_scanned`` — the same documents with every media re-encoded by
  the ``reencode_wild`` rotation, through
  ``extract_real.extract_real_documents``. Same OCR output as the
  flagship, so the gap isolates codec inflate, probe-time slicing and
  the payload-carrying bucket shuffle.
* ``crawl_mix`` — the 19-tier crawl rotation (every 5th payload
  transport-compressed) through ``extract_real_documents``: string, zip
  and XML parsing plus the probe dominate.
* ``resume_commit`` — the ``crawl_mix`` documents through
  ``lineage.run_extract_job`` into a fresh directory, stopped halfway by
  ``max_chunks`` and then resumed: per-chunk jobs, the dynamic-overwrite
  commit, the read-back checksum and the lineage anti-join.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from corpora import CACHE, Sample
from tests.test_extract_real import _spans_by_doc

#: resume_commit geometry: 8 lineage buckets in chunks of 2, the first
#: leg stops after 2 of the 4 chunks
NUM_BUCKETS = 8
CHUNK_BUCKETS = 2
KILL_AFTER = 2
RUN_ID = "perfbench"


def run_legs(spark, docs, media, pipeline, out: str, on_leg=None,
             tracer=None) -> list[dict]:
    """``lineage.run_extract_job`` into a fresh ``out``: a kill leg that
    stops after ``KILL_AFTER`` chunks, then a resume leg to completion."""
    from ocr_platform_spark import lineage

    shutil.rmtree(out, ignore_errors=True)
    legs = []
    for leg, max_chunks in (("kill", KILL_AFTER), ("resume", None)):
        span = (tracer.span(f"lineage.run_extract_job.{leg}") if tracer
                else contextlib.nullcontext())
        t0 = time.perf_counter()
        with span:
            n = lineage.run_extract_job(
                spark, docs, media, out, run_id=RUN_ID,
                num_buckets=NUM_BUCKETS, chunk_buckets=CHUNK_BUCKETS,
                max_chunks=max_chunks, pipeline=pipeline)
        legs.append({"leg": leg, "s": time.perf_counter() - t0, "chunks": n})
        if on_leg is not None:
            on_leg(leg, out)
    return legs


class Workload:
    name = ""
    encoding = "synth"
    engine = "extract_real"  # or "extract"

    def __init__(self):
        self._legs = 0
        self.last_out: str | None = None

    def pipeline_fn(self):
        from ocr_platform_spark.operators import extract, extract_real

        if self.engine == "extract":
            return extract.extract_documents
        return extract_real.extract_real_documents

    def register(self, spark, sample: Sample):
        docs = spark.read.parquet(sample.table("documents"))
        media = spark.read.parquet(sample.table(self.encoding))
        return docs, media

    def output(self, docs, media) -> dict[str, list[tuple]]:
        """One whole job collected to the Spark driver: the check's input."""
        return _spans_by_doc(self.pipeline_fn()(docs, media))

    def one_shot(self, docs, media) -> None:
        """One extraction job of the whole sample into the noop sink."""
        self.pipeline_fn()(docs, media).write.format("noop").mode(
            "overwrite").save()

    def run_job(self, spark, docs, media) -> None:
        self.one_shot(docs, media)

    def lineage_legs(self, spark, docs, media, on_leg=None,
                     tracer=None) -> list[dict]:
        """Kill + resume legs with this workload's engine; the output
        directory stays until the next call or :meth:`close`."""
        self._legs += 1
        out = os.path.join(CACHE, "runs", f"{self.name}-{os.getpid()}-{self._legs}")
        legs = run_legs(spark, docs, media, self.pipeline_fn(), out,
                        on_leg=on_leg, tracer=tracer)
        self.close()
        self.last_out = out
        return legs

    def close(self) -> None:
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = None

    def expected(self, sample: Sample) -> dict[str, list[tuple]]:
        return sample.expected

    def quarantined(self, docs, media) -> dict[str, list[tuple]]:
        """``doc_id -> [(media_ref, error)]`` for media the engine
        quarantines (its probe/decode stage only, run after timing)."""
        from ocr_platform_spark.operators import extract, extract_real

        if self.engine == "extract":
            errors = extract.media_errors(extract.decode_pages(docs, media))
        else:
            errors = extract_real.real_media_errors(
                extract_real.real_page_buckets(docs, media))
        out: dict[str, list[tuple]] = {}
        for r in errors.collect():
            out.setdefault(r["doc_id"], []).append((r["media_ref"], r["error"]))
        return out

    def check(self, spark, output: dict, sample: Sample) -> dict:
        """``mismatched``: documents whose span sequence differs from the
        expectation (or that should not exist); ``ok``: checks that are
        not per document."""
        return {"mismatched": _mismatched(output, self.expected(sample)),
                "ok": True}


class FlagshipOCR(Workload):
    name = "flagship_ocr"
    encoding = "synth"
    engine = "extract"


class RealScanned(Workload):
    name = "real_scanned"
    encoding = "scanned"


class CrawlMix(Workload):
    name = "crawl_mix"
    encoding = "crawl"

    def expected(self, sample: Sample) -> dict[str, list[tuple]]:
        # text-layer PDFs emit one span per line where OCR emits one per
        # strip: the tests/test_extract_mixed_kinds.py expectation
        from tests.test_extract_text_layer import split_pdf_spans

        return {d: split_pdf_spans(s, sample.text_pdf_refs)
                for d, s in sample.expected.items()}


class ResumeCommit(CrawlMix):
    name = "resume_commit"

    def run_job(self, spark, docs, media) -> None:
        self.lineage_legs(spark, docs, media)

    def check(self, spark, output: dict, sample: Sample) -> dict:
        """``read_result`` of the last kill + resume cycle against the
        expectation and against the one-shot ``output``; the lineage
        ``doc_count`` sum against the documents in."""
        from pyspark.sql import functions as F

        from ocr_platform_spark import lineage

        got = _spans_by_doc(lineage.read_result(spark, self.last_out))
        counted = spark.read.parquet(os.path.join(self.last_out, "lineage")) \
            .agg(F.sum("doc_count")).collect()[0][0]
        return {"mismatched": (_mismatched(got, self.expected(sample))
                               | _mismatched(got, output)),
                "ok": counted == len(sample.doc_ids),
                "lineage_doc_count": counted}


def _mismatched(got: dict, want: dict) -> set[str]:
    return {d for d in set(got) | set(want) if got.get(d) != want.get(d)}


WORKLOADS = {w.name: w for w in (FlagshipOCR, RealScanned, CrawlMix, ResumeCommit)}
