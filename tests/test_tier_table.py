"""The real-codec engine's tier table, without a JVM.

Each payload goes through the engine's own batch functions the way its
two ``mapInPandas`` stages call them: ``_bucket_batches_fn`` (unwrap,
probe, bucket, slice) and then ``_ocr_real_batches_fn`` (tier decode
and page emission). One payload of every media kind the 19-tier mixed
corpus probes must find its table entry and yield blocks; a kind
without an entry must fail loudly instead of extracting to nothing.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_platform_spark import corpus
from ocr_platform_spark.operators import extract_real
from tests.test_dispatch_fuzz import _fixtures
from tests.test_extract_mixed_kinds import N_TIERS, encode_tier
from tests.test_extract_real import reencode_gif_mixed


def real_blocks(payload: bytes,
                bucket_pages: int = 2) -> tuple[str, pd.DataFrame]:
    """``(probed kind, BLOCK rows)`` for one payload through both stages."""
    frame = pd.DataFrame({"doc_id": ["d"], "offset": [0],
                          "media_ref": ["m"], "data": [payload]})
    buckets = next(extract_real._bucket_batches_fn(
        bucket_pages, True, True)(iter([frame])))
    blocks = next(extract_real._ocr_real_batches_fn(True)(iter([buckets])))
    return buckets["media_kind"].iloc[0], blocks


def test_every_probed_kind_has_a_tier_and_yields_blocks():
    _docs, media = corpus.generate(30, seed=4242, max_pages=6)
    refs = sorted(media)
    payloads = [encode_tier(i % N_TIERS, media[r]["data"], i)[0]
                for i, r in enumerate(refs)]
    # the two table kinds the rotation never produces
    payloads += [reencode_gif_mixed(media[r]["data"]) for r in refs[:4]]
    payloads.append(_fixtures()["sub"])
    blocks_by_kind: dict[str, int] = {}
    for payload in payloads:
        kind, blocks = real_blocks(payload)
        if kind == "error":
            continue  # probe quarantine (e.g. an all-blank text page)
        assert kind in extract_real._TIERS, kind
        blocks_by_kind[kind] = max(blocks_by_kind.get(kind, 0), len(blocks))
    # every table entry is reached, and every reached tier extracts
    assert set(blocks_by_kind) == set(extract_real._TIERS)
    assert all(blocks_by_kind.values()), blocks_by_kind


def test_kind_without_a_tier_raises():
    frame = pd.DataFrame({
        "doc_id": ["d"], "offset": [0], "media_ref": ["m"],
        "media_kind": ["wav"], "page_lo": [0], "page_hi": [1],
        "sliced": [False], "data": [_fixtures()["wav"]],
    })
    with pytest.raises(KeyError, match="wav"):
        extract_real._ocr_real_frame(frame, text_layer=True)
    assert "wav" not in extract_real._TIERS
