"""Per-document geometry kernel (the grouped-map/UDF half of the engine).

Runs inside ``applyInPandas``/``mapInPandas`` over ONE document's
perception rows and produces its ordered output spans. The algorithms
re-express the reference's geometric passes (SURVEY.md §2.3-§2.7) with
exact greedy/sequential parity — these passes are order-defined
(used-box sets, claimed anchors, stable confidence sorts), so they must
run as deterministic per-group sequential code (SURVEY.md §7.4.1); the
commutative parts (NMS distance tests, row clustering) are vectorized
with numpy. Relational window/join forms of the same operators live in
``pdf_parser_spark.operators`` and serve as the driver's oracle-checked
queries.

Perf posture: tokens are normalized once per page (``PageView``), and
every line built by ``build_lines`` carries two IL1-folded keys of its
tokens (``functions.text.line_key``): ``nkey`` over the F1 forms and
``pkey`` over the F7 forms. The wrapped-label and section-header scans
start only on lines whose key holds the folded first word of the label
or header (``flex_key``). Folding maps 'L' and '1' to 'I' on both
sides, so every F5/F6 match of a token is a substring of the line's key
(the superset invariant in ``functions.text``): a skipped line is one
where the exact matchers would return a run of 0, and the greedy scans
still visit the remaining lines in order.

Reference provenance (behavior, not code):
- NMS match dedupe            /root/reference/extractor.py:155-181
- line construction           /root/reference/extractor.py:303-322
- label position matching     /root/reference/extractor.py:194-532
- section anchor + regions    /root/reference/extractor.py:534-829
- row clustering (y-gap 50)   /root/reference/extractor.py:834-861
- greedy label→box assignment /root/reference/extractor.py:863-945
- cross-page remaining state  /root/reference/extractor.py:978-1056
- span flattening             /root/reference/extractor.py:1118-1122 + SURVEY.md §7.2
"""

from __future__ import annotations

import numpy as np

from pdf_parser_spark import config as C
from pdf_parser_spark.functions.text import (
    clean_label_sequence,
    flex_contains,
    flex_key,
    flex_startswith,
    line_key,
    normalize_text,
    ocr_norm_preserve_punct_upper,
)

# ---------------------------------------------------------------------------
# NMS dedupe — greedy by confidence desc (stable over emission order),
# numpy-vectorized proximity test against the kept set.
# ---------------------------------------------------------------------------


def nms_dedupe(matches: list[dict], max_dist: int = C.DEDUPE_MAX_DIST) -> list[dict]:
    if not matches:
        return []
    ms = sorted(matches, key=lambda m: m["seq"])
    order = np.argsort([-m["score"] for m in ms], kind="stable")
    xs = np.array([m["x"] for m in ms], dtype=np.int64)
    ys = np.array([m["y"] for m in ms], dtype=np.int64)
    kept_idx: list[int] = []
    kx = np.empty(len(ms), dtype=np.int64)
    ky = np.empty(len(ms), dtype=np.int64)
    n_kept = 0
    for i in order:
        if n_kept and bool(
            ((np.abs(kx[:n_kept] - xs[i]) < max_dist) & (np.abs(ky[:n_kept] - ys[i]) < max_dist)).any()
        ):
            continue
        kx[n_kept] = xs[i]
        ky[n_kept] = ys[i]
        n_kept += 1
        kept_idx.append(int(i))
    kept = [ms[i] for i in kept_idx]
    kept.sort(key=lambda m: (m["y"], m["x"]))
    return kept


# ---------------------------------------------------------------------------
# Page view with precomputed normalization (perf: the reference
# re-normalizes every token at every comparison; we normalize once).
# ---------------------------------------------------------------------------


class PageView:
    __slots__ = ("toks", "norm", "lines")

    def __init__(self, tokens: list[dict]):
        # blank-token filter (P6)
        self.toks = [t for t in tokens if str(t["text"]).strip()]
        self.norm = [normalize_text(t["text"]) for t in self.toks]
        self.lines = build_lines(self.toks)


def build_lines(toks: list[dict]) -> list[dict]:
    """Group by (block, par, line) in first-seen order; line y = first
    member's y; stable-sort lines by y. Each line carries its folded
    keys (``functions.text.line_key``): ``nkey`` over the F1 forms for
    the label scans, ``pkey`` over the F7 forms for the section scans."""
    index: dict[tuple, dict] = {}
    lines: list[dict] = []
    for t in toks:
        key = (t["block"], t["par"], t["line"])
        ln = index.get(key)
        if ln is None:
            ln = {"words": [], "y": t["y"]}
            index[key] = ln
            lines.append(ln)
        ln["words"].append(t)
    for ln in lines:
        texts = [t["text"] for t in ln["words"]]
        ln["nkey"] = line_key([normalize_text(s) for s in texts])
        ln["pkey"] = line_key([ocr_norm_preserve_punct_upper(s) for s in texts])
    lines.sort(key=lambda ln: ln["y"])
    return lines


def next_page_head(next_tokens: list[dict], img_h: int, head_lines: int) -> list[dict]:
    """First K distinct-y line groups of the next page, y-shifted by the
    page height (cross-page continuation, J5/W6)."""
    toks = [dict(t, y=t["y"] + img_h) for t in next_tokens if str(t["text"]).strip()]
    if not toks:
        return []
    lines = build_lines(toks)
    kept: list[dict] = []
    groups = 0
    i = 0
    while i < len(lines) and groups < head_lines:
        gy = lines[i]["y"]
        while i < len(lines) and lines[i]["y"] == gy:
            kept.append(lines[i])
            i += 1
        groups += 1
    return kept


# ---------------------------------------------------------------------------
# Label position matching (exact window scan + multiline lookahead)
# ---------------------------------------------------------------------------


def _scan_exact(page: PageView, label: str) -> list[tuple[int, int]]:
    words = label.split()
    first_n, last_n = normalize_text(words[0]), normalize_text(words[-1])
    max_len = len(words)
    toks, norm = page.toks, page.norm
    n = len(toks)
    hits: list[tuple[int, int]] = []
    for i in range(n):
        if first_n not in norm[i]:
            continue
        for j in range(i, min(i + max_len, n)):
            if last_n not in norm[j]:
                continue
            seq_clean = clean_label_sequence([toks[k]["text"] for k in range(i, j + 1)])
            if flex_contains(label, seq_clean):
                hits.append((toks[i]["x"], toks[i]["y"]))
    return hits


def _match_run_in_line(words: list[dict], lbl_words: list[str], start_lbl: int) -> tuple[int | None, int]:
    """Longest consecutive flex-contains run of lbl_words[start_lbl:]
    starting anywhere in the line; returns (best_start_idx, run_len)."""
    best_start, best_run = None, 0
    for si in range(len(words)):
        run = 0
        k = si
        while k < len(words) and start_lbl + run < len(lbl_words):
            if flex_contains(lbl_words[start_lbl + run], normalize_text(words[k]["text"])):
                run += 1
                k += 1
            else:
                break
        if run > best_run:
            best_run, best_start = run, si
        if start_lbl + run == len(lbl_words):
            break
    return best_start, best_run


def _multiline_label(lines: list[dict], lbl_words: list[str]) -> tuple[int, int] | None:
    """Wrapped-label matcher: start run on one line, continue the
    remaining words on up to 5 following lines within a 160px
    x-tolerance (preferred) or anywhere (fallback). A start line must
    hold the label's folded first word in its key."""
    x_tol, max_ahead = C.LABEL_MULTILINE_BASE_X_TOLERANCE, C.LABEL_MULTILINE_MAX_LOOKAHEAD
    first = flex_key(lbl_words[0])
    for i, line in enumerate(lines):
        if first not in line["nkey"]:
            continue
        words = line["words"]
        start_idx, run = _match_run_in_line(words, lbl_words, 0)
        if run == 0 or start_idx is None:
            continue
        start_x, start_y = words[start_idx]["x"], words[start_idx]["y"]
        x_ref, lbl_at, cur = start_x, run, i
        ahead = 0
        while lbl_at < len(lbl_words) and ahead < max_ahead:
            if cur + 1 >= len(lines):
                break
            nxt = lines[cur + 1]["words"]
            if not nxt:
                break
            want = lbl_words[lbl_at]
            cands = [
                k for k, tok in enumerate(nxt)
                if abs(tok["x"] - x_ref) <= x_tol
                and flex_contains(want, normalize_text(tok["text"]))
            ] or [
                k for k, tok in enumerate(nxt)
                if flex_contains(want, normalize_text(tok["text"]))
            ]
            if not cands:
                break
            best_run, best_ci = 0, None
            for ci in cands:
                run2 = 0
                k = ci
                while k < len(nxt) and lbl_at + run2 < len(lbl_words):
                    if flex_contains(lbl_words[lbl_at + run2], normalize_text(nxt[k]["text"])):
                        run2 += 1
                        k += 1
                    else:
                        break
                if run2 > best_run:
                    best_run, best_ci = run2, ci
            if best_run == 0:
                break
            lbl_at += best_run
            cur += 1
            ahead += 1
            x_ref = nxt[best_ci]["x"]
        if lbl_at == len(lbl_words):
            return (start_x, start_y)
    return None


def _multiline_with_skips(lines: list[dict], lbl_words: list[str]) -> tuple[int, int] | None:
    """Leading-word OCR-noise fallback: retry dropping up to 4 leading
    words (reference extractor.py:504-510)."""
    pos = _multiline_label(lines, lbl_words)
    if pos is not None:
        return pos
    for skip in range(1, min(5, len(lbl_words))):
        pos = _multiline_label(lines, lbl_words[skip:])
        if pos is not None:
            return pos
    return None


def find_label_positions(
    page: PageView,
    labels: list[str],
    next_page_tokens: list[dict] | None,
    img_h: int = C.PAGE_H,
) -> dict[str, list[tuple[int, int]]]:
    positions: dict[str, list[tuple[int, int]]] = {}
    for lbl in labels:
        hits = _scan_exact(page, lbl)
        if not hits:
            pos = _multiline_with_skips(page.lines, lbl.split())
            if pos is not None:
                hits = [pos]
        if hits:
            positions[lbl] = hits
    if next_page_tokens is not None:
        pending = [lbl for lbl in labels if not positions.get(lbl)]
        if pending:
            ext = page.lines + next_page_head(next_page_tokens, img_h, C.NEXT_PAGE_HEAD_LINES)
            for lbl in pending:
                pos = _multiline_with_skips(ext, lbl.split())
                if pos is not None:
                    positions[lbl] = [pos]
    return positions


# ---------------------------------------------------------------------------
# Section anchors + regions
# ---------------------------------------------------------------------------


def _section_span_in_line(words: list[dict], name_words: list[str]) -> tuple[int | None, int]:
    """Best (start_idx, matched_count) for a section header in one line:
    a token whose cleaned text starts with the full concatenated header
    counts as a complete match (merged-token OCR); otherwise walk
    word-by-word — first word prefix-flex, rest contains-flex."""
    full = " ".join(name_words)
    best_start, best_matched = None, 0
    for si in range(len(words)):
        tok0 = ocr_norm_preserve_punct_upper(words[si]["text"])
        if flex_startswith(full, tok0):
            return si, len(name_words)
        matched = 0
        k = si
        while k < len(words) and matched < len(name_words):
            tok_c = ocr_norm_preserve_punct_upper(words[k]["text"])
            ok = (
                flex_startswith(name_words[matched], tok_c)
                if matched == 0
                else flex_contains(name_words[matched], tok_c)
            )
            if not ok:
                break
            matched += 1
            k += 1
        if matched > best_matched:
            best_matched, best_start = matched, si
    return best_start, best_matched


def _section_continue(lines: list[dict], i0: int, start_idx: int, name_words: list[str], matched: int) -> int:
    """Continue a partially matched header onto following line groups
    (same-y sibling lines considered together), ≤5 lookaheads, x-tol
    preferred; returns total matched words."""
    x_tol, max_ahead = C.LABEL_MULTILINE_BASE_X_TOLERANCE, C.LABEL_MULTILINE_MAX_LOOKAHEAD
    cur, lbl_at = i0, matched
    x_ref = lines[i0]["words"][start_idx]["x"]
    ahead = 0
    while lbl_at < len(name_words) and ahead < max_ahead:
        j = cur + 1
        cur_y = lines[cur]["y"]
        while j < len(lines) and lines[j]["y"] <= cur_y:
            j += 1
        if j >= len(lines):
            break
        next_y = lines[j]["y"]
        sibs = []
        while j < len(lines) and lines[j]["y"] == next_y:
            sibs.append(j)
            j += 1
        want = name_words[lbl_at]
        best_run, best_li, best_ci = 0, None, None
        for li in sibs:
            toks = lines[li]["words"]
            if not toks:
                continue
            cands = (
                [k for k, t in enumerate(toks)
                 if abs(t["x"] - x_ref) <= x_tol
                 and flex_startswith(want, ocr_norm_preserve_punct_upper(t["text"]))]
                or [k for k, t in enumerate(toks)
                    if flex_startswith(want, ocr_norm_preserve_punct_upper(t["text"]))]
                or [k for k, t in enumerate(toks)
                    if abs(t["x"] - x_ref) <= x_tol
                    and flex_contains(want, ocr_norm_preserve_punct_upper(t["text"]))]
            )
            for ci in cands:
                run = 0
                k = ci
                while k < len(toks) and lbl_at + run < len(name_words):
                    tok_c = ocr_norm_preserve_punct_upper(toks[k]["text"])
                    ok = (
                        flex_startswith(name_words[lbl_at + run], tok_c)
                        if run == 0
                        else flex_contains(name_words[lbl_at + run], tok_c)
                    )
                    if not ok:
                        break
                    run += 1
                    k += 1
                if run > best_run:
                    best_run, best_li, best_ci = run, li, ci
        if not best_run or best_ci is None or best_li is None:
            break
        x_ref = lines[best_li]["words"][best_ci]["x"]
        lbl_at += best_run
        cur = best_li
        ahead += 1
    return lbl_at


def find_section_regions(
    page: PageView,
    sections: list[dict],
    checkboxes: list[dict],
    img_w: int = C.PAGE_W,
) -> dict[str, dict]:
    """Anchor each section header (claimed-anchor priority J8: earlier
    schema rank wins a y) then grow the region down over the checkbox-y
    chain while gaps stay ≤100px (W2), +50px bottom buffer."""
    x_threshold = int(C.ANCHOR_X_FRACTION * img_w)
    cb_ys = np.sort(np.array([cb["y"] for cb in checkboxes], dtype=np.int64))
    regions: dict[str, dict] = {}
    claimed: set[int] = set()

    for sec in sections:
        name_words = [w for w in sec["section_name"].split() if w]
        if not name_words:
            continue
        best = None  # (matched, y, x) — max wins
        first = flex_key(name_words[0])
        for i, line in enumerate(page.lines):
            if first not in line["pkey"]:
                continue
            words = line["words"]
            start_idx, matched = _section_span_in_line(words, name_words)
            if not matched or start_idx is None:
                continue
            sx, sy = int(words[start_idx]["x"]), int(words[start_idx]["y"])
            if sx > x_threshold or sy in claimed:
                continue
            total = _section_continue(page.lines, i, start_idx, name_words, matched)
            cand = (int(total), sy, sx)
            if best is None or cand > best:
                best = cand
            if total >= len(name_words):
                break
        if best is None:
            continue
        min_required = 1 if len(name_words) == 1 else 2
        if best[0] < min_required:
            continue
        anchor_y = best[1]
        claimed.add(anchor_y)

        # region growth: chained gap ≤100 over checkbox ys ≥ anchor
        y2 = anchor_y
        after = cb_ys[cb_ys >= anchor_y]
        if len(after):
            gaps = np.diff(after)
            stop = int(np.argmax(gaps > C.SECTION_CB_MAX_GAP_PX)) if (gaps > C.SECTION_CB_MAX_GAP_PX).any() else len(after) - 1
            y2 = int(after[stop])
        regions[sec["section_name"]] = {
            "x1": C.SECTION_X1,
            "y1": anchor_y,
            "x2": C.SECTION_X2,
            "y2": y2 + C.SECTION_BOTTOM_BUFFER_PX,
        }
    return regions


# ---------------------------------------------------------------------------
# Row clustering (W1, vectorized) + greedy assignment (J3)
# ---------------------------------------------------------------------------


def cluster_rows(boxes: list[dict], gap: int = C.LABEL_ROW_GAP_PX) -> tuple[np.ndarray, np.ndarray]:
    """Sessionize boxes by y-gap>50: returns (row_id per box in y-sorted
    order, row centroid y per row). The lag/cumsum idiom, in numpy."""
    if not boxes:
        return np.empty(0, dtype=np.int64), np.empty(0)
    ys = np.array([b["y"] for b in boxes], dtype=np.int64)
    order = np.argsort(ys, kind="stable")
    sy = ys[order]
    brk = np.zeros(len(sy), dtype=np.int64)
    if len(sy) > 1:
        brk[1:] = (np.abs(np.diff(sy)) > gap).astype(np.int64)
    row_id_sorted = np.cumsum(brk)
    row_id = np.empty(len(sy), dtype=np.int64)
    row_id[order] = row_id_sorted
    n_rows = int(row_id_sorted[-1]) + 1
    centroids = np.array([sy[row_id_sorted == r].mean() for r in range(n_rows)])
    return row_id, centroids


def assign_checkboxes(
    checkboxes: list[dict],
    sections: list[dict],
    label_positions: dict[str, list[tuple[int, int]]],
    regions: dict[str, dict],
) -> list[dict]:
    """Greedy one-to-one label→checkbox assignment per section (J3):
    nearest box by L1 distance, row-centroid Δy ≤ 60 constraint,
    used-box exclusion across sections; unmatched labels → 'missing';
    sections with no real hit are pruned (P9)."""
    out: list[dict] = []
    used: set[int] = set()
    for sec in sections:
        name = sec["section_name"]
        region = regions.get(name)
        if region is None:
            continue
        y1_eff = region["y1"] + C.ANCHOR_OFFSET_PX
        sec_boxes = [
            (bi, b) for bi, b in enumerate(checkboxes) if region["y1"] <= b["y"] <= region["y2"]
        ]
        row_id, centroids = cluster_rows([b for _, b in sec_boxes])
        bx = np.array([b["x"] for _, b in sec_boxes], dtype=np.int64)
        by = np.array([b["y"] for _, b in sec_boxes], dtype=np.int64)
        rows: list[dict] = []
        for lbl in sec.get("labels") or []:
            assigned = None
            for lx, ly in label_positions.get(lbl, []):
                if not (y1_eff <= ly <= region["y2"]):
                    continue
                if not len(bx):
                    continue
                dist = np.abs(by - ly) + np.abs(bx - lx)
                bi_local = int(np.argmin(dist))
                if abs(centroids[row_id[bi_local]] - ly) > C.LABEL_CB_ASSIGN_MAX_DELTA_Y:
                    continue
                gi = sec_boxes[bi_local][0]
                if gi in used:
                    continue
                used.add(gi)
                b = sec_boxes[bi_local][1]
                assigned = {"label": lbl, "status": b["status"], "score": b["score"]}
                break
            rows.append(assigned or {"label": lbl, "status": "missing", "score": 0.0})
        if any(r["status"] != "missing" for r in rows):
            out.append({"section": name, "checkboxes": rows})
    return out
