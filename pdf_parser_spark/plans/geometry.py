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

Perf posture: ``PageView`` is the one page model of the kernel, built
once per page and reused as the previous page's next page. It
normalizes each token once (F1 and F7, kept on the word record) and
groups the lines once, in token order for the label and section scans
and x-sorted for the question scans; the next page's head is a y-shift
of its first line groups, not a rebuild. Every line carries two
IL1-folded keys of its tokens (``functions.text.line_key``): ``nkey``
over the F1 forms and ``pkey`` over the F7 forms. The wrapped-label,
section-header and question scans start only on lines whose key holds
the folded first word of the label, header or question (``flex_key``).
Folding maps 'L' and '1' to 'I' on both sides, so every F5/F6 match of
a token is a substring of the line's key (the superset invariant in
``functions.text``): a skipped line is one where the exact matchers
would return a run of 0, and the greedy scans still visit the remaining
lines in order.

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
    ocr_norm_preserve_punct_upper as pnorm,
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
# The page model: built once per page, reused as the previous page's
# next page (perf: the reference re-normalizes every token at every
# comparison and rebuilds the lines per pass; we do both once).
# ---------------------------------------------------------------------------


class PageView:
    """One page's tokens and lines for every scan of the kernel.

    ``toks``: one word record per non-blank token (P6),
    ``dict(token, n=F1, pn=F7)`` with the raw text kept. ``lines``:
    (block, par, line) groups in first-seen order, y = first member's
    y, stable-sorted by y, words in token order, keys ``nkey`` (F1) and
    ``pkey`` (F7) — the label and section scans. ``qlines``: the same
    lines with x-sorted words — the question scans, keyed by ``pkey``
    (key membership does not depend on word order)."""

    __slots__ = ("toks", "lines", "qlines")

    def __init__(self, tokens: list[dict]):
        self.toks = [
            dict(t, n=normalize_text(t["text"]), pn=pnorm(t["text"]))
            for t in tokens if str(t["text"]).strip()
        ]
        self.lines = _group_lines(self.toks)
        self.qlines = _x_sorted(self.lines)


def _group_lines(toks: list[dict]) -> list[dict]:
    index: dict[tuple, dict] = {}
    lines: list[dict] = []
    for t in toks:
        key = (t["block"], t["par"], t["line"])
        ln = index.get(key)
        if ln is None:
            ln = index[key] = {"words": [], "y": t["y"]}
            lines.append(ln)
        ln["words"].append(t)
    for ln in lines:
        ln["nkey"] = line_key([w["n"] for w in ln["words"]])
        ln["pkey"] = line_key([w["pn"] for w in ln["words"]])
    lines.sort(key=lambda ln: ln["y"])
    return lines


def _x_sorted(lines: list[dict]) -> list[dict]:
    return [dict(ln, words=sorted(ln["words"], key=lambda w: w["x"])) for ln in lines]


def next_page_head(view: PageView, img_h: int, k: int) -> tuple[list[dict], list[dict]]:
    """First k distinct-y line groups of the next page's view, y-shifted
    by the page height (cross-page continuation, J5/W6), as
    ``(lines, qlines)``. A constant shift keeps the stable y-sort, so
    this equals building the lines of the shifted tokens."""
    lines = view.lines
    n = groups = 0
    while n < len(lines) and groups < k:
        gy = lines[n]["y"]
        while n < len(lines) and lines[n]["y"] == gy:
            n += 1
        groups += 1
    head = [
        dict(ln, y=ln["y"] + img_h, words=[dict(w, y=w["y"] + img_h) for w in ln["words"]])
        for ln in lines[:n]
    ]
    return head, _x_sorted(head)


def prefix_run(toks: list[dict], k: int, words: list[str], at: int = 0) -> int:
    """Length of the run of ``words[at:]`` matched by the consecutive
    tokens from ``toks[k]`` on: the first word by F6 prefix, the rest by
    F5 containment, against the tokens' F7 forms."""
    run = 0
    while k + run < len(toks) and at + run < len(words):
        match = flex_contains if run else flex_startswith
        if not match(words[at + run], toks[k + run]["pn"]):
            break
        run += 1
    return run


def continue_lines(lines: list[dict], cur: int, x_ref: int, words: list[str], at: int) -> list[list[dict]]:
    """Sibling-group continuation (W6/J5) of ``words[at:]`` after
    ``lines[cur]``: each lookahead step takes the next distinct-y line
    group (same-y sibling lines considered together) and keeps the
    longest ``prefix_run`` starting at a candidate token — one near
    ``x_ref`` holding the wanted word as a prefix, else any such token,
    else one near ``x_ref`` containing it; first longest wins. At most 5
    steps; returns the matched tokens of each step."""
    x_tol = C.LABEL_MULTILINE_BASE_X_TOLERANCE
    steps: list[list[dict]] = []
    while at < len(words) and len(steps) < C.LABEL_MULTILINE_MAX_LOOKAHEAD:
        j = cur + 1
        while j < len(lines) and lines[j]["y"] <= lines[cur]["y"]:
            j += 1
        if j >= len(lines):
            break
        next_y, want = lines[j]["y"], words[at]
        best_run, best_li, best_ci = 0, None, None
        while j < len(lines) and lines[j]["y"] == next_y:
            toks = lines[j]["words"]
            cands = (
                [k for k, t in enumerate(toks)
                 if abs(t["x"] - x_ref) <= x_tol and flex_startswith(want, t["pn"])]
                or [k for k, t in enumerate(toks) if flex_startswith(want, t["pn"])]
                or [k for k, t in enumerate(toks)
                    if abs(t["x"] - x_ref) <= x_tol and flex_contains(want, t["pn"])]
            )
            for ci in cands:
                run = prefix_run(toks, ci, words, at)
                if run > best_run:
                    best_run, best_li, best_ci = run, j, ci
            j += 1
        if not best_run:
            break
        step = lines[best_li]["words"][best_ci : best_ci + best_run]
        steps.append(step)
        at += best_run
        cur, x_ref = best_li, step[0]["x"]
    return steps


# ---------------------------------------------------------------------------
# Label position matching (exact window scan + multiline lookahead)
# ---------------------------------------------------------------------------


def _scan_exact(page: PageView, label: str) -> list[tuple[int, int]]:
    words = label.split()
    first_n, last_n = normalize_text(words[0]), normalize_text(words[-1])
    max_len = len(words)
    toks = page.toks
    n = len(toks)
    hits: list[tuple[int, int]] = []
    for i in range(n):
        if first_n not in toks[i]["n"]:
            continue
        for j in range(i, min(i + max_len, n)):
            if last_n not in toks[j]["n"]:
                continue
            seq_clean = clean_label_sequence([toks[k]["text"] for k in range(i, j + 1)])
            if flex_contains(label, seq_clean):
                hits.append((toks[i]["x"], toks[i]["y"]))
    return hits


def _contains_run(words: list[dict], k: int, lbl_words: list[str], at: int) -> int:
    """Length of the run of ``lbl_words[at:]`` F5-contained in the F1
    forms of the consecutive words from ``words[k]`` on."""
    run = 0
    while k + run < len(words) and at + run < len(lbl_words):
        if not flex_contains(lbl_words[at + run], words[k + run]["n"]):
            break
        run += 1
    return run


def _match_run_in_line(words: list[dict], lbl_words: list[str]) -> tuple[int | None, int]:
    """Longest consecutive flex-contains run of lbl_words starting
    anywhere in the line; returns (best_start_idx, run_len)."""
    best_start, best_run = None, 0
    for si in range(len(words)):
        run = _contains_run(words, si, lbl_words, 0)
        if run > best_run:
            best_run, best_start = run, si
        if run == len(lbl_words):
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
        start_idx, run = _match_run_in_line(words, lbl_words)
        if run == 0 or start_idx is None:
            continue
        start_x, start_y = words[start_idx]["x"], words[start_idx]["y"]
        x_ref, lbl_at = start_x, run
        for nxt in (ln["words"] for ln in lines[i + 1 : i + 1 + max_ahead]):
            if lbl_at == len(lbl_words):
                break
            want = lbl_words[lbl_at]
            cands = [
                k for k, tok in enumerate(nxt)
                if abs(tok["x"] - x_ref) <= x_tol and flex_contains(want, tok["n"])
            ] or [k for k, tok in enumerate(nxt) if flex_contains(want, tok["n"])]
            best_run, best_ci = 0, None
            for ci in cands:
                run2 = _contains_run(nxt, ci, lbl_words, lbl_at)
                if run2 > best_run:
                    best_run, best_ci = run2, ci
            if best_run == 0:
                break
            lbl_at += best_run
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
    next_page: PageView | None,
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
    if next_page is not None:
        pending = [lbl for lbl in labels if not positions.get(lbl)]
        if pending:
            ext = page.lines + next_page_head(next_page, img_h, C.NEXT_PAGE_HEAD_LINES)[0]
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
    a token whose F7 form starts with the full concatenated header
    counts as a complete match (merged-token OCR); otherwise the longest
    ``prefix_run``. Unlike the question scan it keeps scanning after a
    complete run, so a later merged token wins."""
    full = " ".join(name_words)
    best_start, best_matched = None, 0
    for si in range(len(words)):
        if flex_startswith(full, words[si]["pn"]):
            return si, len(name_words)
        matched = prefix_run(words, si, name_words)
        if matched > best_matched:
            best_matched, best_start = matched, si
    return best_start, best_matched


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
            steps = continue_lines(page.lines, i, words[start_idx]["x"], name_words, matched)
            total = matched + sum(map(len, steps))
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
