"""Distributed OCR over REAL-codec media (scanned PDF, multi-page G4
TIFF, PNG, baseline JPEG) — the end-to-end path a user of the reference
actually runs
(``apps/worker/app/tasks/ocr_tasks.py:34-55`` decodes uploaded
PDF/image bytes with fitz/PIL before detect+recognize).

The synthetic flagship (:func:`..operators.extract.extract_documents`)
exploits that SPDF1/SIMG1 pages are *parametric descriptors*: the page
explode ships ~200-byte JSON rows, so pixels never cross a shuffle.
Real media has no descriptor — the OCR task needs the payload bytes —
so this pipeline uses a different, explicitly skew-bounded shape:

1. **probe** (``mapInPandas`` over spans⋈payloads): header-only page
   count (:func:`pdfcodec.validate_scanned` — xref walk + content-stream
   interpretation, image samples never inflated; images are 1 page) and
   explode into page *buckets* of ``bucket_pages`` pages. Each bucket
   row carries the payload once. Unsupported/corrupt payloads (vector
   PDFs, truncated files, synthetic containers) quarantine HERE as
   ``media_kind=error`` rows — before any payload is duplicated.
2. **repartition** on ``(doc_id, offset, bucket_index)`` — the skew fix:
   a 2,000-page scanned PDF becomes ⌈2000/K⌉ independent tasks instead
   of one straggler. Multi-bucket paged payloads are *sliced* at probe
   time (``slice_payloads=True`` default): each bucket row carries a
   minimal sub-document holding only its own pages (for PDFs only its
   pages' content/image streams, :class:`..pdfcodec._Slicer`), so the
   whole document's bytes cross the bucket shuffle ~once in total — the
   in-DataFrame analog of the byte-range reads a cloud-storage pipeline
   would issue. With ``slice_payloads=False`` the full payload rides on
   every bucket row (amplification ⌈pages/K⌉). ``bucket_pages=None``
   disables bucketing (one task per media, zero duplication) for
   corpora known to have bounded page counts.
3. **OCR** (``mapInPandas``): decode ONLY the bucket's pages through
   the media kind's tier (below) and emit them; raster pages go through
   the *shared* OCR core (:func:`..operators.extract.ocr_rendered_page`)
   — detect, PrepView crops, strip recognition, unicode strip — so the
   real and synthetic paths cannot drift.
4. **assemble**: the same sentinel-based
   :func:`..operators.extract.assemble_spans` re-emits each document's
   interleaved span array.

**The tier table** (``_TIERS``) is the one per-kind dispatch of stages
1 and 3: the probe's media kind maps to ``(slicer_factory | None,
pages(raw, page_indices, text_layer))``. ``slicer_factory(raw)``
(paged containers only) parses a payload once and returns
``page_indices -> sub-document bytes``; ``pages`` decodes one bucket
into a list of pages of three shapes, the shape
:func:`..pdftext.extract_hybrid_pages` already emits:

* ``("text", blocks, w, h)`` — source text with geometry, emitted at
  ``conf=1.0`` with no raster, detect or recognize: a text-layer PDF
  page, the whole document of a reflowable tier (HTML DOM walk, plain
  text, Markdown, LaTeX, subtitles, DSV, XML, JSON), or one paragraph
  of an office/HTML/e-mail part walk;
* ``("image", gray, w, h)`` — a grayscale raster for the OCR core: a
  scanned PDF page, a PNG/JPEG/BMP/TIFF/GIF frame, or a picture
  embedded in a DOCX/ODT/RTF/HTML/e-mail document;
* ``("parts", parts, 0, 0)`` — one page of a paged MIXED container
  (PPTX slide, EPUB chapter, mbox message, XLSX sheet): text parts and
  decoded pictures in shape-tree order (:func:`_emit_mixed_page_parts`).

Page ``i`` of a bucket emits at ``page_index = page_lo + i``. Single-page
tiers always probe as one bucket with ``page_lo = 0``, so an office /
HTML / e-mail part walk becomes a list of one-item pages: the
assembler's global sort key ``(offset, page_index, y1, x1,
block_index)`` then interleaves each picture's OCR blocks (real in-page
geometry, internal reading order intact) exactly between the
paragraphs around it.

PDFs take the HYBRID per-page dispatch under ``text_layer=True`` (the
default): born-digital pages parse their content-stream show operators
(:mod:`..pdftext`) instead of being rasterized and OCR'd, so a mixed
document (a text cover page stapled to scans, or an upstream-OCR'd file
with its invisible text layer) extracts each page the cheap way — a
text page costs microseconds of string parsing instead of ~10 ms of
raster + detect + recognize, and text pages only make buckets cheaper.
``text_layer=False`` keeps the strict scanned-only contract of rounds
1-3.

Equality contract (pinned in tests/test_extract_real.py): a corpus whose
synthetic media are re-encoded as real PNG files / scanned PDFs at
identity scale extracts EXACTLY the same spans through this pipeline as
the synthetic corpus does through ``extract_documents``.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import (bmpcodec, csvtext, docxtext, emltext, epubtext, formats,
                gifcodec, htmltext, jpegcodec, jsontext, latextext, mdtext,
                multimodal, odttext, pdfcodec, pdftext, plaintext, pngcodec,
                pptxtext, rtftext, subtext, tiffcodec, transport, xlsxtext,
                xmltext)
from ..schemas import BLOCK
from .extract import (
    MEDIA_KIND_ERROR,
    _span_refs_fit_broadcast,
    append_block,
    assemble_spans,
    block_columns,
    block_frame,
    exploded_spans,
    ocr_rendered_page,
    shared_exploded_spans,
)

#: pages per OCR task. ⌈pages/K⌉ payload copies cross the bucket shuffle;
#: K pages of raster work bound each task's CPU time.
DEFAULT_BUCKET_PAGES = 8

REAL_BUCKET = (
    "doc_id string, offset int, media_ref string, media_kind string, "
    "bucket_index int, page_lo int, page_hi int, error string, "
    "sliced boolean, data binary"
)
_BUCKET_COLS = [c.split()[0] for c in REAL_BUCKET.split(", ")]


def _raster_pages(raw: bytes, page_indices: list[int] | None = None) -> list:
    """Raster payload -> grayscale pages by its sniffed magic (TIFF/GIF
    frames selected by ``page_indices``, else one PNG/BMP/JPEG page):
    the top-level ``image``/``tiff``/``gif`` tiers and every embedded
    picture. Gray (``mode="L"``) because the OCR kernels are: color
    converts with PIL's exact ``convert("L")`` luma
    (:func:`..pdfcodec.rgb_to_gray`)."""
    kind = formats.sniff_kind(raw)
    if kind == "tiff":
        return tiffcodec.decode_tiff(raw, mode="L", page_indices=page_indices)
    if kind == "gif":
        return gifcodec.decode_gif(raw, mode="L", page_indices=page_indices)
    if kind == "png":
        rgb = pngcodec.decode_png(raw)
    elif kind == "bmp":
        rgb = bmpcodec.decode_bmp(raw)
    else:
        rgb = jpegcodec.decode_jpeg(raw)
    return [pdfcodec.rgb_to_gray(rgb)]


def _image_pages(grays: list) -> list[tuple]:
    return [("image", g, g.shape[1], g.shape[0]) for g in grays]


def _text_page(blocks: list) -> list[tuple]:
    return [("text", blocks, 0, 0)]


def _is_raster(payload: bytes) -> bool:
    """An embedded picture the raster codecs decode; other formats
    (EMF/WMF vectors, nested containers) contribute nothing — the deep
    probe validates exactly this subset
    (:func:`..docxtext.validate_embedded_media`)."""
    return formats.sniff_kind(payload) in docxtext.EMBED_RASTER_KINDS


def _walk_pages(parts: list[tuple]) -> list[tuple]:
    """Part walk (:func:`..docxtext.document_parts` /
    :func:`..odttext.document_parts` / :func:`..rtftext.document_parts`
    / :func:`..htmltext.html_parts` / :func:`..emltext.eml_parts`; the
    text or payload is the LAST tuple element) -> one-item pages in part
    order: a one-paragraph text page per text part, one image page per
    frame of each supported embedded picture."""
    pages: list[tuple] = []
    for part in parts:
        if part[0] == "text":
            pages += _text_page([plaintext.TextParagraph(0, part[-1])])
        elif _is_raster(part[-1]):
            pages += _image_pages(_raster_pages(part[-1]))
    return pages


def _mixed_pages(pages: list[list[tuple]]) -> list[tuple]:
    """Paged MIXED container part lists -> ``("parts", parts, 0, 0)``
    pages: text parts pass through, each supported picture decodes to
    ``("rasters", ordinal, gray_pages)`` here (inside the caller's
    atomic decode), unsupported formats drop."""
    out: list[tuple] = []
    for parts in pages:
        decoded = [p if p[0] == "text"
                   else ("rasters", p[1], _raster_pages(p[-1]))
                   for p in parts if p[0] == "text" or _is_raster(p[-1])]
        out.append(("parts", decoded, 0, 0))
    return out


def _pdf_pages(raw: bytes, page_indices, text_layer: bool) -> list[tuple]:
    """HYBRID per-page dispatch under ``text_layer`` (text-layer pages
    parse, no pixels ever produced; scanned pages raster), else the
    strict scanned-only decode."""
    if text_layer:
        return pdftext.extract_hybrid_pages(raw, page_indices=page_indices,
                                            mode="L")
    return _image_pages(pdfcodec.decode_pdf(raw, page_indices=page_indices,
                                            mode="L"))


def _html_pages(raw: bytes, _page_indices, _text_layer) -> list[tuple]:
    """DOM tier (innermost blocks, link-density boilerplate drop):
    text-only documents are one flat text page; embedded data-URI images
    (the saved-page shape) make it a part walk, OCR'd in place."""
    parts = htmltext.html_parts(htmltext.decode_html(raw))
    if all(p[0] == "text" for p in parts):
        return _text_page([htmltext.ContentBlock(p[1], p[2], 0.0)
                           for p in parts])
    return _walk_pages(parts)


def _raster_tier(raw: bytes, page_indices, _text_layer) -> list[tuple]:
    return _image_pages(_raster_pages(raw, page_indices))


#: media kind (as probed) -> ``(slicer_factory | None, pages)``; see the
#: module docstring. Entries call tier functions through their module
#: attributes, so a function swapped in its module is the one that runs.
_TIERS = {
    "pdf": (lambda raw: pdfcodec._Slicer(raw).slice, _pdf_pages),
    "image": (None, _raster_tier),
    "tiff": (lambda raw: partial(tiffcodec.slice_pages, raw), _raster_tier),
    "gif": (lambda raw: partial(gifcodec.slice_pages, raw), _raster_tier),
    "pptx": (lambda raw: partial(pptxtext.slice_slides, raw),
             lambda raw, idx, _tl: _mixed_pages(
                 pptxtext.slide_parts(raw, page_indices=idx))),
    "epub": (lambda raw: partial(epubtext.slice_chapters, raw),
             lambda raw, idx, _tl: _mixed_pages(
                 epubtext.chapter_parts(raw, page_indices=idx))),
    "mbox": (lambda raw: partial(emltext.slice_messages, raw),
             lambda raw, idx, _tl: _mixed_pages(
                 emltext.mbox_page_parts(raw, page_indices=idx))),
    "xlsx": (lambda raw: partial(xlsxtext.slice_sheets, raw),
             lambda raw, idx, _tl: _mixed_pages(
                 xlsxtext.sheet_parts(raw, page_indices=idx))),
    "html": (None, _html_pages),
    "docx": (None, lambda raw, _i, _tl: _walk_pages(
        docxtext.document_parts(raw))),
    "odt": (None, lambda raw, _i, _tl: _walk_pages(
        odttext.document_parts(raw))),
    "rtf": (None, lambda raw, _i, _tl: _walk_pages(
        rtftext.document_parts(raw))),
    "eml": (None, lambda raw, _i, _tl: _walk_pages(
        emltext.eml_parts(plaintext.decode_text(raw)))),
    "txt": (None, lambda raw, _i, _tl: _text_page(
        plaintext.paragraph_blocks(plaintext.decode_text(raw)))),
    "md": (None, lambda raw, _i, _tl: _text_page(
        mdtext.markdown_blocks(plaintext.decode_text(raw)))),
    "tex": (None, lambda raw, _i, _tl: _text_page(
        latextext.latex_blocks(plaintext.decode_text(raw)))),
    "sub": (None, lambda raw, _i, _tl: _text_page(
        subtext.subtitle_blocks(plaintext.decode_text(raw)))),
    "csv": (None, lambda raw, _i, _tl: _text_page(
        csvtext.tabular_blocks(plaintext.decode_text(raw)))),
    "json": (None, lambda raw, _i, _tl: _text_page(
        jsontext.json_blocks(plaintext.decode_text(raw)))),
    "xml": (None, lambda raw, _i, _tl: _text_page(xmltext.xml_blocks(raw))),
}


def _probe(raw: bytes, text_layer: bool = False) -> tuple[str, int]:
    """Structural pre-flight + ``(kind, n_pages)`` without inflating
    samples — :func:`..multimodal.probe_real_media` with ``deep=True``
    (full scanned-subset walk for PDFs; chunk-CRC / marker-bounds checks
    for PNG/JPEG), so truncated/corrupt payloads quarantine HERE, with a
    triage row, instead of silently dropping at the OCR stage. Residual
    (undetectable-at-probe) corruption is entropy-level only: JPEG
    entropy bits carry no checksum, and a PDF image stream can hold a
    structurally-valid but broken body; those degrade to zero blocks at
    decode (see ``_ocr_real_batches``).

    ``text_layer=True`` validates PDFs under the HYBRID per-page
    contract (:func:`..pdftext.validate_hybrid`): born-digital pages are
    text-layer-validated instead of quarantined as vector content."""
    kind, n_pages, _w, _h = multimodal.probe_real_media(
        raw, deep=True, text_layer=text_layer
    )
    return kind, n_pages


def _bucket_batches_fn(bucket_pages: int | None,
                       slice_payloads: bool = True,
                       text_layer: bool = False):
    def _bucket_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in _BUCKET_COLS}

            def add(*row) -> None:
                for c, v in zip(_BUCKET_COLS, row):
                    out[c].append(v)

            for doc_id, offset, ref, data in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["data"]
            ):
                raw = bytes(data)
                try:
                    # compressed transport wrappers (.html.gz /
                    # .txt.bz2 / .xml.xz) inflate ONCE here, before
                    # probe and slicing, so every downstream feature
                    # (per-page slices, hybrid dispatch, tier
                    # extraction) sees the inner document; corruption /
                    # bombs / over-nesting quarantine like any other
                    # probe failure (..transport module docstring)
                    raw = transport.maybe_unwrap(raw)
                    kind, n_pages = _probe(raw, text_layer)
                except Exception as exc:
                    # quarantine BEFORE the payload is duplicated: one
                    # narrow error row, no data rides along
                    add(doc_id, offset, ref, MEDIA_KIND_ERROR, -1, -1, -1,
                        str(exc)[:200], False, None)
                    continue
                k = bucket_pages or max(1, n_pages)
                n_buckets = max(1, (n_pages + k - 1) // k)
                slicer, slice_fn = _TIERS[kind][0], None
                if slicer is not None and slice_payloads and n_buckets > 1:
                    # parse once per document; each bucket row then
                    # carries a minimal sub-document (only its own
                    # pages' streams) instead of a full-payload copy —
                    # the whole document crosses the bucket shuffle
                    # ~once in total instead of ⌈pages/K⌉ times
                    try:
                        slice_fn = slicer(raw)
                    except ValueError:
                        pass
                for b in range(n_buckets):
                    lo, hi = b * k, min(n_pages, (b + 1) * k)
                    payload, sliced = raw, False
                    if slice_fn is not None:
                        try:
                            payload = slice_fn(range(lo, hi))
                            sliced = True
                        except ValueError:
                            # probe already validated the doc, so this
                            # is near-dead defensive code: fall back to
                            # the full payload rather than quarantine
                            pass
                    add(doc_id, offset, ref, kind, b, lo, hi, None, sliced,
                        payload)
            res = pd.DataFrame(out)
            for c in ("offset", "bucket_index", "page_lo", "page_hi"):
                res[c] = res[c].astype("int32")
            yield res

    return _bucket_batches


def emit_text_blocks(doc_id: str, offset: int, ref: str, page_index: int,
                     blocks: list, page_w: int, page_h: int,
                     out: dict[str, list]) -> None:
    """Text-layer / DOM-tier blocks -> the same ``BLOCK`` rows the OCR
    core emits (:func:`..operators.extract.ocr_rendered_page`): one row
    per block, ``conf=1.0`` (the source text is authoritative — there is
    no recognition uncertainty to score), text under the M11
    unicode-strip contract. ``blocks`` duck-types on
    ``x1/y1/x2/y2/text`` (:class:`..pdftext.TextBlock` or
    :class:`..htmltext.ContentBlock`)."""
    for i, b in enumerate(blocks):
        text = b.text.strip()
        if text:
            append_block(out, doc_id, offset, ref, page_index, i,
                         (b.x1, b.y1, b.x2, b.y2), text, 1.0, page_w, page_h)


def _emit_mixed_page_parts(doc_id: str, offset: int, ref: str,
                           page_index: int, parts: list[tuple],
                           out: dict[str, list]) -> None:
    """One MIXED page (PPTX slide) -> BLOCK rows preserving shape-tree
    order: text parts emit at ``(y1=ordinal, x1=0)``; each embedded
    picture OCRs through the shared core and its blocks re-emit at
    ``(y1=picture ordinal, x1=reading rank)`` — synthetic coordinates
    (the slide has no shared pixel space with its pictures), so the
    per-page sort key ``(y1, x1, block_index)`` interleaves the OCR'd
    text exactly at the picture's slot while keeping the picture's own
    reading order and per-block confidences."""
    bi = 0
    for part in parts:
        if part[0] == "text":
            _k, ordinal, text = part
            text = text.strip()
            if text:
                append_block(out, doc_id, offset, ref, page_index, bi,
                             (0, ordinal, max(1, len(text)), ordinal + 1),
                             text, 1.0, 0, 0)
                bi += 1
            continue
        _k, ordinal, pages = part  # ("rasters", ordinal, gray pages)
        rank = 0
        for page in pages:
            tmp = block_columns()
            ocr_rendered_page(doc_id, offset, ref, 0, page, tmp)
            order = sorted(
                range(len(tmp["text"])),
                key=lambda k: (tmp["y1"][k], tmp["x1"][k],
                               tmp["block_index"][k]),
            )
            for k in order:
                append_block(out, doc_id, offset, ref, page_index, bi,
                             (rank, ordinal, rank + 1, ordinal + 1),
                             tmp["text"][k], tmp["conf"][k], 0, 0)
                bi += 1
                rank += 1


def _ocr_real_batches_fn(text_layer: bool = False):
    # keep the closure's __name__ descriptive: it is what
    # .explain("formatted") prints on the MapInPandas node
    def _ocr_real_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _ocr_real_frame(pdf, text_layer)

    return _ocr_real_batches


def _ocr_real_frame(pdf: pd.DataFrame, text_layer: bool) -> pd.DataFrame:
    out = block_columns()
    for doc_id, offset, ref, kind, lo, hi, sliced, data in zip(
        pdf["doc_id"], pdf["offset"], pdf["media_ref"],
        pdf["media_kind"], pdf["page_lo"], pdf["page_hi"],
        pdf["sliced"], pdf["data"]
    ):
        if kind == MEDIA_KIND_ERROR:
            continue
        # looked up OUTSIDE the try: a kind without a tier is a program
        # error and fails the task instead of extracting to zero blocks
        tier_pages = _TIERS[kind][1]
        # a sliced payload holds ONLY this bucket's pages (local indices
        # 0..hi-lo); global numbering still comes from page_lo below
        idx = None if sliced else list(range(int(lo), int(hi)))
        # Decode inside the try (a decode failure drops the bucket
        # ATOMICALLY — no partial emission), emission outside it (an
        # OCR/kernel failure propagates LOUDLY; swallowing it after
        # some pages' rows were appended would leave a silently
        # part-extracted document).
        try:
            pages = tier_pages(bytes(data), idx, text_layer)
        except Exception:
            # residual corruption past the probe: entropy-level only
            # (JPEG entropy bits carry no checksum; a PDF image
            # stream body can be broken behind a valid structure).
            # Degrade to zero OCR blocks for this bucket — the
            # empty-page-passthrough contract — rather than failing
            # the job; everything structurally detectable already
            # quarantined with a triage row at probe time.
            continue
        for i, (shape, payload, w, h) in enumerate(pages, int(lo)):
            if shape == "text":
                emit_text_blocks(doc_id, int(offset), ref, i, payload, w, h,
                                 out)
            elif shape == "image":
                ocr_rendered_page(doc_id, int(offset), ref, i, payload, out)
            else:
                _emit_mixed_page_parts(doc_id, int(offset), ref, i, payload,
                                       out)
    return block_frame(out)


def real_page_buckets(
    documents: DataFrame,
    media: DataFrame,
    bucket_pages: int | None = DEFAULT_BUCKET_PAGES,
    broadcast_spans: bool | None = None,
    spans: DataFrame | None = None,
    slice_payloads: bool = True,
    text_layer: bool = True,
) -> DataFrame:
    """Stage 1: spans ⋈ payloads -> validated page-bucket rows.

    The join shape mirrors :func:`..operators.extract.decode_pages` (the
    narrow span-ref side broadcasts under the same leaf-stats auto mode;
    payload bytes never move for the join), and a missing-payload
    anti-join surfaces dangling ``media_ref``s as quarantine rows.

    ``spans``: optional pre-exploded frame (pass
    :func:`..operators.extract.shared_exploded_spans` output so the
    documents table is scanned once across this join, the anti-join, and
    span assembly — the flagship's round-3 single-scan shape).

    ``slice_payloads`` (default on): multi-bucket PDFs are re-cut at
    probe time into per-bucket sub-PDFs (:class:`..pdfcodec._Slicer` —
    only the bucket's own page/content/image objects, stream bytes
    verbatim), so the bucket shuffle moves ~size·K/pages bytes per row
    instead of ⌈pages/K⌉ full-payload copies. Decode equality with the
    unsliced path is test-pinned; False restores full-payload rows.
    """
    if spans is None:
        spans = exploded_spans(documents)
    if broadcast_spans is None:
        broadcast_spans = _span_refs_fit_broadcast(documents)
    span_refs = (
        spans.filter(F.col("kind") != "text")
        .select("doc_id", "offset", "media_ref")
    )
    build = F.broadcast(span_refs) if broadcast_spans else span_refs
    media_spans = build.join(media.select("media_ref", "data"), "media_ref")
    buckets = media_spans.mapInPandas(
        _bucket_batches_fn(bucket_pages, slice_payloads, text_layer),
        schema=REAL_BUCKET,
    )
    missing = span_refs.join(
        media.select("media_ref"), "media_ref", "left_anti"
    ).select(
        "doc_id", "offset", "media_ref",
        F.lit(MEDIA_KIND_ERROR).alias("media_kind"),
        F.lit(-1).cast("int").alias("bucket_index"),
        F.lit(-1).cast("int").alias("page_lo"),
        F.lit(-1).cast("int").alias("page_hi"),
        F.lit("missing media payload").alias("error"),
        F.lit(False).alias("sliced"),
        F.lit(None).cast("binary").alias("data"),
    )
    return buckets.unionByName(missing)


def real_media_errors(buckets: DataFrame) -> DataFrame:
    """Quarantine table for the real-codec path (probe-time failures +
    missing payloads); same triage contract as ``media_errors``."""
    return buckets.filter(F.col("media_kind") == MEDIA_KIND_ERROR).select(
        "doc_id", "offset", "media_ref", "error"
    )


def ocr_real_blocks(
    buckets: DataFrame, num_partitions: int | None = None,
    text_layer: bool = True,
) -> DataFrame:
    """Stage 2: bucket rows -> OCR block rows, behind the explicit
    bucket-key repartition (see module docstring item 2).

    ``text_layer`` (default on) enables the per-page HYBRID dispatch for
    PDFs: pages with a text layer are parsed directly
    (:func:`..pdftext.extract_hybrid_pages` — no rasterization, no
    detect/recognize), scanned pages take the raster+OCR path. Must match
    the flag the bucket stage was probed with — a text PDF probed with
    ``text_layer=False`` quarantines there and never reaches this stage.
    """
    if num_partitions is None:
        num_partitions = 3 * buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.filter(F.col("media_kind") != MEDIA_KIND_ERROR)
    buckets = buckets.repartition(
        num_partitions, "doc_id", "offset", "bucket_index"
    )
    return buckets.mapInPandas(_ocr_real_batches_fn(text_layer), schema=BLOCK)


def extract_real_documents(
    documents: DataFrame,
    media: DataFrame,
    bucket_pages: int | None = DEFAULT_BUCKET_PAGES,
    num_partitions: int | None = None,
    broadcast_spans: bool | None = None,
    share_spans: "bool | str" = True,
    slice_payloads: bool = True,
    text_layer: bool = True,
) -> DataFrame:
    """End-to-end OCR extraction over REAL-codec media payloads.

    Same input/output contract as ``extract_documents`` (documents with
    interleaved spans + a media table -> documents_out with the
    extracted span arrays in document-global reading order), but the
    media column holds real scanned-PDF/PNG/JPEG bytes instead of
    synthetic containers. See the module docstring for the plan shape
    and its scale trade-offs.

    ``share_spans`` mirrors the flagship's single-scan shape: one lazily
    ``localCheckpoint``-ed explode of the documents table serves the
    bucket join, the missing-payload anti-join, and span assembly
    (instead of three full scans). Same executor-loss caveat as
    :func:`..operators.extract.extract_documents` — pass False on
    clusters with preemptible executors to trade re-scans for plain
    lineage recompute, or ``"replicated"`` to keep the single-scan plan
    on a replicated, recomputable ``MEMORY_AND_DISK_2`` persist.
    """
    spans = (
        shared_exploded_spans(documents,
                              replicated=share_spans == "replicated")
        if share_spans else None
    )
    buckets = real_page_buckets(
        documents, media, bucket_pages, broadcast_spans, spans=spans,
        slice_payloads=slice_payloads, text_layer=text_layer,
    )
    blocks = ocr_real_blocks(buckets, num_partitions, text_layer=text_layer)
    return assemble_spans(documents, blocks, spans=spans)
