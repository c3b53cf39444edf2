"""Engine geometry kernels vs the pure-Python oracle, per operator
(SURVEY.md §5.2.1): NMS dedupe (J1), row clustering (W1), label
matching, section regions, assignment — on both generated fixture pages
and adversarial hand-built cases."""

import random

from pdf_parser_spark import config as C
from pdf_parser_spark.fixtures.generator import form_schema, page_perception
from pdf_parser_spark.oracle import reference_oracle as O
from pdf_parser_spark.oracle import response_oracle as R
from pdf_parser_spark.plans import geometry as G


def _fixture_pages(n_docs=30):
    for i in range(n_docs):
        doc = f"unit_{i:04d}"
        yield page_perception(doc, 1)


def test_nms_parity_on_fixtures():
    for tokens, matches, _ in _fixture_pages():
        a = G.nms_dedupe(matches)
        b = O.deduplicate_matches(matches)
        assert [(m["x"], m["y"], m["status"], m["score"]) for m in a] == [
            (m["x"], m["y"], m["status"], m["score"]) for m in b
        ]


def test_nms_adversarial_ties():
    r = random.Random(7)
    # many near-dup clusters with equal scores → stable order matters
    matches = []
    seq = 0
    for cx in range(0, 200, 10):
        for _ in range(r.randint(1, 4)):
            matches.append(
                {"seq": seq, "x": cx + r.randint(0, 4), "y": 100 + r.randint(0, 4),
                 "w": 37, "h": 37, "status": "ticked", "score": 0.8}
            )
            seq += 1
    a = G.nms_dedupe(matches)
    b = O.deduplicate_matches(matches)
    assert [(m["x"], m["y"]) for m in a] == [(m["x"], m["y"]) for m in b]


def test_cluster_rows_parity():
    r = random.Random(3)
    for _ in range(20):
        boxes = [
            {"x": r.randint(0, 2000), "y": r.choice([100, 120, 145, 200, 260, 261, 400])}
            for _ in range(r.randint(1, 15))
        ]
        row_id, centroids = G.cluster_rows(boxes)
        oracle_rows = O.cluster_rows(boxes)
        assert len(centroids) == len(oracle_rows)
        for rid, orow in enumerate(oracle_rows):
            assert abs(centroids[rid] - orow["y"]) < 1e-9


def test_label_positions_parity_on_fixtures():
    """With no next page and with the doc's page 2 as the next page
    (the cross-page pass runs on the view's shifted head)."""
    schema = form_schema()
    labels = [lbl for s in schema for lbl in (s.get("labels") or [])]
    for i, (tokens, _, _hl) in enumerate(_fixture_pages(20)):
        page = G.PageView(tokens)
        next_tokens = page_perception(f"unit_{i:04d}", 2)[0]
        for nxt in (None, next_tokens):
            got = G.find_label_positions(page, labels, None if nxt is None else G.PageView(nxt))
            exp = O.get_label_positions(tokens, labels, nxt)
            exp = {k: v for k, v in exp.items() if v}
            # oracle collects all exact hits; engine too — compare full lists
            assert {k: list(map(tuple, v)) for k, v in got.items()} == {
                k: list(map(tuple, v)) for k, v in exp.items()
            }


def _line_rows(lines):
    return [(ln["y"], [(w["text"], w["x"], w["y"]) for w in ln["words"]]) for ln in lines]


def test_section_regions_parity_on_fixtures():
    """Page 1, then page 2 after its view served as page 1's next page:
    the shifted head equals both oracles' head lines, and building it
    leaves the view as it was."""
    schema = form_schema()
    for i, (tokens, matches, _) in enumerate(_fixture_pages(20)):
        next_tokens, next_matches, _ = page_perception(f"unit_{i:04d}", 2)
        nxt = G.PageView(next_tokens)
        lines, qlines = G.next_page_head(nxt, C.PAGE_H, C.NEXT_PAGE_HEAD_LINES)
        blank_free = [t for t in next_tokens if t["text"].strip()]
        assert _line_rows(lines) == _line_rows(
            O._next_page_head_lines(blank_free, C.PAGE_H, C.NEXT_PAGE_HEAD_LINES)
        )
        assert _line_rows(qlines) == _line_rows(
            R._next_page_head_qa(next_tokens, C.PAGE_H, C.NEXT_PAGE_HEAD_LINES)
        )
        assert _line_rows(nxt.lines) == _line_rows(G.PageView(next_tokens).lines)
        for toks, ms, page in ((tokens, matches, G.PageView(tokens)), (next_tokens, next_matches, nxt)):
            cbs = O.deduplicate_matches(ms)
            assert G.find_section_regions(page, schema, cbs) == O.detect_section_regions(toks, schema, cbs)


def test_assignment_parity_on_fixtures():
    schema = [s for s in form_schema() if s.get("labels")]
    labels = [lbl for s in schema for lbl in (s.get("labels") or [])]
    for tokens, matches, _ in _fixture_pages(20):
        cbs = O.deduplicate_matches(matches)
        page = G.PageView(tokens)
        positions = G.find_label_positions(page, labels, None)
        regions = G.find_section_regions(page, schema, cbs)
        got = G.assign_checkboxes(cbs, schema, positions, regions)
        exp = O.assign_checkboxes_sectionwise(cbs, schema, positions, regions)
        assert got == exp
