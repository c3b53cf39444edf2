"""End-to-end native decode path (in-process, no external CV libs).

Exercises the REAL kernel chain — .npy media load → preprocess
(sharpen/contrast/CLAHE/unsharp) → TM_CCOEFF_NORMED template match →
NMS → geometry → span flattening — with only the Tesseract call swapped
for an injected deterministic recognizer (the import-gated external).
This is the code `extract_spans(decoder="native")` runs on executors;
transport (Arrow/shuffle) is identical to the synthetic path already
covered by the x1 gate.
"""

import numpy as np
import pytest

from pdf_parser_spark.plans.extract import extract_document
from pdf_parser_spark.sources import perception as P
from pdf_parser_spark.sources.decoder import decode_doc

SECTIONS = [
    {"section_rank": 0, "section_name": "ALLERGIES", "labels": ["Penicillin", "Latex"]}
]

PAGE_H, PAGE_W = 1200, 1000

# hand-written OCR truth for the synthetic page (the geometry layer
# consumes tokens, not pixels; glyph rendering is not required)
TOKENS = [
    {"tok_seq": 0, "text": "ALLERGIES", "x": 80, "y": 200, "w": 126, "h": 28,
     "block": 1, "par": 1, "line": 1},
    {"tok_seq": 1, "text": "Penicillin", "x": 400, "y": 330, "w": 140, "h": 28,
     "block": 2, "par": 1, "line": 1},
    {"tok_seq": 2, "text": "Latex", "x": 700, "y": 330, "w": 70, "h": 28,
     "block": 2, "par": 1, "line": 1},
]


@pytest.fixture()
def native_bindings():
    def fake_ocr(img):
        if img.shape[:2] == (PAGE_H, PAGE_W):
            return [dict(t) for t in TOKENS]
        return []  # crop re-OCR of a sub-image: nothing recognized

    P.set_native_ocr(fake_ocr, lambda img: "")
    yield fake_ocr
    P.set_native_ocr(P.K.tesseract_image_to_data, P.K.tesseract_yesno)


def _build_page(tmp_path):
    ticked, empty = P.default_templates()
    page = np.full((PAGE_H, PAGE_W, 3), 255, dtype=np.uint8)
    page[330:367, 330:367] = ticked[..., None]  # checkbox left of Penicillin
    page[330:367, 630:667] = empty[..., None]  # checkbox left of Latex
    path = tmp_path / "p1.npy"
    np.save(path, page)
    return str(path)


def _spans(media_ref):
    return [
        {"kind": "text", "text": "intake form", "media_ref": "", "offset": 0},
        {"kind": "pdf_page", "text": "", "media_ref": media_ref, "offset": 1},
    ]


def test_native_decode_doc_and_extract(tmp_path, native_bindings):
    ref = _build_page(tmp_path)
    pages, envs = decode_doc("nat_doc", _spans(ref), decoder="native")

    tokens, matches, highlights = pages[1]
    assert [t["text"] for t in tokens] == ["ALLERGIES", "Penicillin", "Latex"]

    # template match on the PREPROCESSED page must recover both planted
    # boxes near their positions with the right status (correlation is
    # robust to the preprocess chain's intensity transforms)
    def near(ms, x, y, status):
        return [m for m in ms
                if abs(m["x"] - x) <= 2 and abs(m["y"] - y) <= 2 and m["status"] == status]

    assert near(matches, 330, 330, "ticked")
    assert near(matches, 630, 330, "empty")
    assert isinstance(envs[1], P.NativePerception)

    out = extract_document(_spans(ref), pages, SECTIONS, envs)
    kinds_texts = [(k, t) for k, t, _, _ in out]
    assert kinds_texts[0] == ("text", "intake form")
    assert ("section", "ALLERGIES") in kinds_texts
    assert ("checkbox", "Penicillin:ticked") in kinds_texts
    assert ("checkbox", "Latex:empty") in kinds_texts
    # orders are the contiguous running counter
    assert [o for _, _, _, o in out] == list(range(len(out)))


def test_native_paged_payload_roundtrip(tmp_path, native_bindings):
    """The paged-mode decode batch: payload carries media_ref; the Q/A
    layer can rebuild a lazy NativePerception after the shuffle."""
    import pickle

    import pandas as pd

    from pdf_parser_spark.sources.decoder import _decode_batch

    ref = _build_page(tmp_path)
    batch = pd.DataFrame({"doc_id": ["nat_doc"], "page_no": [1], "media_ref": [ref]})
    out = _decode_batch(batch, "native")
    tokens, matches, highlights, media_ref = pickle.loads(bytes(out["payload"][0]))
    assert media_ref == ref and len(tokens) == 3 and len(matches) >= 2

    # extract_document builds the env lazily from the payload ref
    pages = {1: (tokens, matches, highlights, media_ref)}
    spans_out = extract_document(_spans(ref), pages, SECTIONS)
    assert ("checkbox", "Penicillin:ticked") in [(k, t) for k, t, _, _ in spans_out]


def test_native_perception_lazy_crop(tmp_path, native_bindings):
    ref = _build_page(tmp_path)
    seen = []

    def crop_ocr(img):
        seen.append(img.shape)
        return []

    P.set_native_ocr(crop_ocr)
    env = P.NativePerception(media_ref=ref)
    assert env.crop_tokens(10, 20, 110, 70) == []
    assert seen == [(50, 100, 3)]  # crop of the lazily preprocessed page
    assert env._pre is not None and env._pre.shape == (PAGE_H, PAGE_W, 3)
    # out-of-range crop clamps; degenerate crop returns [] without OCR
    assert env.crop_tokens(PAGE_W + 5, 0, PAGE_W + 10, 10) == []
    assert len(seen) == 1


def test_native_requires_explicit_sections():
    from pdf_parser_spark.plans.extract import extract_spans

    with pytest.raises(ValueError):
        extract_spans(docs=None, sections=None, decoder="native")


def test_parse_media_ref_fragment(tmp_path):
    from pdf_parser_spark.sources.perception import parse_media_ref

    assert parse_media_ref("/data/scan.pdf#page=3") == ("/data/scan.pdf", 2)
    assert parse_media_ref("/data/scan.pdf") == ("/data/scan.pdf", 0)
    assert parse_media_ref("/odd#page=x") == ("/odd#page=x", 0)  # bad fragment = literal


def test_native_perception_fragment_selects_page(tmp_path, native_bindings):
    """NativePerception must honor the media_ref page fragment (a
    multi-page PDF referenced one span per page); for .npy single-page
    media the fragment resolves through parse_media_ref."""
    import numpy as np

    from pdf_parser_spark.sources import perception as P

    ref = _build_page(tmp_path)
    env = P.NativePerception(media_ref=ref)  # page_index defaults to fragment
    assert env._page_index is None
    env._page()
    assert env._pre.shape == (PAGE_H, PAGE_W, 3)


def test_load_templates_binding_and_validation(tmp_path):
    import numpy as np
    import pytest as _pytest

    from pdf_parser_spark.sources import perception as P

    t = np.zeros((37, 37), dtype=np.uint8)
    tp, ep = tmp_path / "t.npy", tmp_path / "e.npy"
    np.save(tp, t)
    np.save(ep, 255 - t)
    with _pytest.raises(ValueError, match="BOTH"):
        P.load_templates(str(tp), None)
    # configured paths win over defaults for no-arg load (the
    # --ticked-template job arg path)
    P.configure_native(ticked_template=str(tp), empty_template=str(ep))
    try:
        ticked, empty = P.load_templates()
        assert ticked.max() == 0 and empty.min() == 255
    finally:
        P._binding_specs.pop("ticked_template", None)
        P._binding_specs.pop("empty_template", None)
    ticked, empty = P.load_templates()
    assert ticked.shape == (37, 37) and (ticked != empty).any()  # defaults again


def test_media_ref_zero_based_fragment_raises():
    import pytest as _pytest

    from pdf_parser_spark.sources.perception import parse_media_ref

    with _pytest.raises(ValueError, match="1-based"):
        parse_media_ref("/data/scan.pdf#page=0")


def test_media_bytes_cache_avoids_refetch(tmp_path):
    from pdf_parser_spark.sources import perception as P

    ref = _build_page(tmp_path)
    calls = []
    real = P.default_media_loader

    def counting_loader(path):
        calls.append(path)
        return real(path)

    P.set_media_loader(counting_loader)
    try:
        P._media_bytes_cache.clear()
        P.load_page_rgb(ref)
        P.load_page_rgb(ref)  # second page row of the same file
        assert calls == [ref]  # fetched once
    finally:
        P.set_media_loader(real)
        P._media_bytes_cache.clear()


def test_set_media_loader_invalidates_bytes_cache(tmp_path):
    from pdf_parser_spark.sources import perception as P

    ref = _build_page(tmp_path)
    real = P.default_media_loader
    try:
        P.set_media_loader(real)
        P.load_page_rgb(ref)
        assert ref in P._media_bytes_cache
        P.set_media_loader(lambda p: real(p))  # rebinding clears the memo
        assert P._media_bytes_cache == {}
    finally:
        P.set_media_loader(real)
