"""Per-document question/answer kernel (engine side).

Implements the reference's response layer (SURVEY.md §2: J4 J6 J7 J9,
W7-W9, F9-F16, K5, K6, A3-A5, A8-A9, P3 P4 P8 P10) for the grouped-map
pipeline. Independent implementation checked span-for-span against the
transcription oracle in ``pdf_parser_spark.oracle.response_oracle``;
reference provenance is cited there.

Perf posture: the question scans run on ``geometry.PageView.qlines``,
the page model the label and section scans use too: built once per
page in ``extract_document`` (the next page's view is reused, not
rebuilt), each token normalized once, each line keyed by the
IL1-folded F7 forms of its tokens (``pkey``). A question scan starts
only on lines whose key holds the question's folded first word
(``flex_key``): folding maps 'L' and '1' to 'I' on both sides, so every
F5/F6 match of a token is a substring of the line's key (the superset
invariant in ``functions.text``), a skipped line is one where the exact
matchers would return a run of 0, and the scan still visits the
remaining lines in order. Wrapped questions continue through
``geometry.continue_lines``, the section scan's continuation. Crop
re-OCR views are memoized per crop, the next page's shifted head is
built once per page on first use, and the answer lines only when a
question matched. Per-page cost is what multiplies by 10^12 docs —
this kernel is the throughput hot path after decode.
"""

from __future__ import annotations

import re

from pdf_parser_spark import config as C
from pdf_parser_spark.functions.text import flex_key, flex_startswith
from pdf_parser_spark.plans.geometry import PageView, continue_lines, next_page_head, prefix_run
from pdf_parser_spark.sources.perception import SyntheticPerception

A_COL_GAP = 5
A_RIGHT_MARGIN = 20
A_ROW_TOL = 12
A_LEFT_MARGIN = 30
A_CONT_MIN = 10
A_CONT_MAX = 50
SLIDE_OFFSETS = (4, 8, 12, 16, 20, 24, 28, 32, 36, 40, 44)
PROBE_BANDS = 2
_ZIP_RE = re.compile(r"^\d{5}(-\d{4})?$")


def answer_lines(tokens: list[dict]) -> list[dict]:
    """Answer-phase lines: (block, par, line) groups of all tokens,
    blank ones included, in first-seen order; y and h from the first
    token, h maxed over the words; words in token order with stripped
    text; stable-sorted by y."""
    index: dict[tuple, dict] = {}
    lines: list[dict] = []
    for t in tokens:
        key = (t["block"], t["par"], t["line"])
        ln = index.get(key)
        if ln is None:
            ln = index[key] = {"words": [], "y": int(t["y"]), "h": int(t["h"])}
            lines.append(ln)
        word = str(t["text"]).strip()
        if word:
            ln["words"].append({"text": word, "x": int(t["x"])})
            ln["h"] = max(ln["h"], int(t["h"]))
    lines.sort(key=lambda ln: ln["y"])
    return lines


def _seg(tokens: list[dict], count: int) -> dict:
    return {
        "line_y": int(min(t["y"] for t in tokens)),
        "start_x": tokens[0]["x"],
        "end_x": tokens[-1]["x"] + tokens[-1]["w"],
        "count": count,
        "tokens": [t["text"] for t in tokens],
    }


def _full_matches_in_line(words: list[dict], q_words: list[str], q_full: str) -> list[dict]:
    segs = []
    nq = len(q_words)
    for si in range(len(words)):
        if flex_startswith(q_full, words[si]["pn"]):
            segs.append(_seg([words[si]], nq))
        elif prefix_run(words, si, q_words) == nq:
            segs.append(_seg(words[si : si + nq], nq))
    return segs


def _best_run_in_line(words: list[dict], q_words: list[str], q_full: str):
    """Like ``geometry._section_span_in_line``, but stops at the first
    complete run."""
    best_start, best_run = None, 0
    for si in range(len(words)):
        if flex_startswith(q_full, words[si]["pn"]):
            return si, len(q_words)
        run = prefix_run(words, si, q_words)
        if run > best_run:
            best_run, best_start = run, si
        if run == len(q_words):
            break
    return best_start, best_run


def _multiline_hit(lines: list[dict], starts: list[int], q_words: list[str], q_full: str):
    """First multiline hit starting on one of the lines ``starts``
    (indices into ``lines``, ascending); continuations may use any line.
    Each continuation step becomes one segment."""
    for i in starts:
        words = lines[i]["words"]
        start_idx, run = _best_run_in_line(words, q_words, q_full)
        if run == 0:
            continue
        start = words[start_idx]
        steps = continue_lines(lines, i, start["x"], q_words, run)
        if run + sum(map(len, steps)) == len(q_words):
            segments = [_seg(words[start_idx : start_idx + run], run)]
            segments += [_seg(step, len(step)) for step in steps]
            return {"x": int(start["x"]), "y": int(start["y"]), "segments": segments}
    return None


def find_question_hits(
    lines: list[dict], questions: list[str]
) -> dict[str, list[dict]]:
    """Pass 1 (all same-line full matches, deduped by start) + pass 2
    (one multiline hit) per unique question text. Both passes start only
    on lines whose key holds the question's folded first word: every
    hit (same-line, merged-token, or multiline start) begins at a token
    that flex-startswith that word."""
    results: dict[str, list[dict]] = {}
    seen_q: set[str] = set()
    for q in questions:
        if q in seen_q:
            continue
        seen_q.add(q)
        q_words = [w for w in q.split() if w]
        if not q_words:
            continue
        q_full = " ".join(q_words)
        first = flex_key(q_words[0])
        starts = [i for i, line in enumerate(lines) if first in line["pkey"]]
        if not starts:
            continue
        hits = []
        seen_starts = set()
        for i in starts:
            for seg in _full_matches_in_line(lines[i]["words"], q_words, q_full):
                key = (int(seg["start_x"]), int(seg["line_y"]))
                if key in seen_starts:
                    continue
                seen_starts.add(key)
                hits.append({"x": key[0], "y": key[1], "segments": [seg]})
        ml = _multiline_hit(lines, starts, q_words, q_full)
        if ml is not None and (ml["x"], ml["y"]) not in seen_starts:
            hits.append(ml)
        if hits:
            results[q] = hits
    return results


def _bands_from_regions(sections, regions, img_h):
    anchors = {
        s["section_name"]: regions[s["section_name"]]["y1"]
        for s in sections
        if regions.get(s["section_name"])
    }
    ordered = sorted(anchors.items(), key=lambda t: t[1])
    bands = {}
    for idx, (name, y1) in enumerate(ordered):
        next_b = ordered[idx + 1][1] - 1 if idx + 1 < len(ordered) else img_h
        y2 = regions.get(name, {}).get("y2")
        bands[name] = (y1, min(int(y2), next_b) if isinstance(y2, (int, float)) else next_b)
    return anchors, ordered, bands


def match_question_sections(
    page: PageView,
    sections: list[dict],
    regions: dict,
    next_page: PageView | None,
    env,
    img_w: int = C.PAGE_W,
    img_h: int = C.PAGE_H,
) -> list[dict]:
    anchors, ordered, bands = _bands_from_regions(sections, regions, img_h)
    # crop re-OCR views are deterministic per (y1c, y2c); questions in
    # one section share crop bounds, so memoize the built view
    crop_views: dict[tuple[int, int], list[dict]] = {}

    def crop_view(y1c: int, y2c: int) -> list[dict]:
        key = (y1c, y2c)
        view = crop_views.get(key)
        if view is None:
            view = PageView(env.crop_tokens(0, y1c, img_w, y2c)).qlines
            crop_views[key] = view
        return view

    # this page's lines plus the next page's head, built on first use:
    # it depends only on next_page
    ext_lines: list[dict] | None = None
    out = []
    for sec in sections:
        name = sec["section_name"]
        qs = sec.get("questions") or []
        if not qs:
            continue
        qhits = find_question_hits(page.qlines, qs)
        yband = bands.get(name)
        anchor_y = anchors.get(name)
        min_start = int(anchor_y) + C.ANCHOR_OFFSET_PX if anchor_y is not None else None

        def in_band(h):
            if not yband:
                return True
            return yband[0] <= h["y"] <= yband[1] and (min_start is None or h["y"] >= min_start)

        sec_hits = []
        claimed: dict[str, set] = {}
        for q in qs:
            hits = [h for h in qhits.get(q, []) if in_band(h)]
            if not hits and yband:
                y1c = max(0, max(int(yband[0]), min_start if min_start is not None else 0))
                y2c_primary = max(y1c + 1, int(min(img_h, yband[1])))

                def crop_hits(y2c):
                    found = find_question_hits(crop_view(y1c, y2c), [q]).get(q, [])
                    res = []
                    for h in found:
                        h["y"] += y1c
                        for seg in h["segments"]:
                            seg["line_y"] += y1c
                        if min_start is None or h["y"] >= min_start:
                            res.append(h)
                    return res

                hits = crop_hits(y2c_primary)
                if not hits and name in anchors:
                    idx = next(i for i, (n, _) in enumerate(ordered) if n == name)
                    next_b = ordered[idx + 1][1] - 1 if idx + 1 < len(ordered) else img_h
                    y2c_wide = max(y1c + 1, int(min(img_h, next_b)))
                    if y2c_wide > y2c_primary:
                        hits = crop_hits(y2c_wide)
            if not hits and next_page is not None:
                if ext_lines is None:
                    ext_lines = page.qlines + next_page_head(next_page, img_h, C.NEXT_PAGE_HEAD_LINES)[1]
                hits = [h for h in find_question_hits(ext_lines, [q]).get(q, []) if in_band(h)]
            if not hits:
                continue
            taken = claimed.setdefault(q, set())
            for h in sorted(hits, key=lambda h: (h["y"], h["x"])):
                if (h["x"], h["y"]) in taken:
                    continue
                taken.add((h["x"], h["y"]))
                sec_hits.append(
                    {"question": q, "position": [h["x"], h["y"]], "segments": h["segments"]}
                )
                break
        if sec_hits:
            out.append({"section": name, "anchor_y": anchor_y, "questions": sec_hits})
    return out


def _is_yes_no(q_text: str) -> bool:
    low = (q_text or "").lower()
    return (
        ("would you" in low or "do you" in low or "are you" in low
         or "have you" in low or "yes" in low or "no" in low)
        and low.strip().endswith("?")
    )


def _seg_tokens_lower(q) -> list[str]:
    toks = []
    for seg in q.get("segments") or []:
        toks.extend(t.lower() for t in seg.get("tokens", []))
    return toks


def attach_answers(
    tokens: list[dict],
    matches: list[dict],
    checkboxes: list[dict] | None,
    env,
    img_w: int = C.PAGE_W,
    img_h: int = C.PAGE_H,
) -> list[dict]:
    if not matches:
        return matches
    line_list = answer_lines(tokens)

    def right_bound(qlist, cur):
        cx, cy = cur["position"]
        narrative = (
            "medical" in _seg_tokens_lower(cur) and "conditions" in _seg_tokens_lower(cur)
        )
        cands = [
            q["position"][0]
            for q in qlist
            if q is not cur
            and abs(q["position"][1] - cy) <= A_ROW_TOL
            and q["position"][0] > cx
        ]
        if cands and not narrative:
            return min(cands) - A_COL_GAP
        return img_w - A_RIGHT_MARGIN

    def collect(qx, qy, segs, rx, q_line_set):
        last_seg_y = qy
        if segs:
            seg_ys = [int(s["line_y"]) for s in segs if isinstance(s, dict)]
            if seg_ys:
                last_seg_y = max(seg_ys)
        y_start = last_seg_y + C.ANCHOR_OFFSET_PX
        y_bottom = y_start + C.ANCHOR_OFFSET_PX
        left = max(0, qx - A_LEFT_MARGIN)
        parts, cap_ys = [], []
        for ln in line_list:
            ly = ln["y"]
            if ly <= last_seg_y or ly < y_start or ly > y_bottom:
                continue
            toks = [w["text"] for w in ln["words"] if left <= w["x"] <= rx]
            if toks:
                parts.append(" ".join(toks))
                cap_ys.append(ly)
        if cap_ys:
            base = min(cap_ys)
            for ln2 in line_list:
                ly2 = ln2["y"]
                if ly2 <= base or ly2 <= base + A_CONT_MIN:
                    continue
                if ly2 > base + A_CONT_MAX:
                    break
                if ly2 in cap_ys:
                    continue
                toks2 = [w["text"] for w in ln2["words"] if left <= w["x"] <= rx]
                if not toks2:
                    continue
                if q_line_set and " ".join(toks2).strip().lower() in q_line_set:
                    continue
                parts.append(" ".join(toks2))
                cap_ys.append(ly2)
        if parts:
            cleaned = [" ".join(p.split()) for p in parts if p]
            dedup = []
            for cl in cleaned:
                if not dedup or dedup[-1] != cl:
                    dedup.append(cl)
            if len(dedup) == 2 and dedup[0] == dedup[1]:
                dedup = [dedup[0]]
            text = " ".join(dedup).strip()
        else:
            text = ""
        y_end = y_bottom
        if cap_ys:
            last_y = max(cap_ys)
            if last_y > y_bottom:
                last_ln = next((ln for ln in line_list if ln["y"] == last_y), None)
                y_end = last_y + max(int(last_ln["h"]) if last_ln else 0, 0)
        return text, y_start, y_end

    for sec in matches:
        qlist = sec.get("questions", [])
        q_line_set = set()
        for q in qlist:
            for seg in q.get("segments") or []:
                toks = [t.lower() for t in seg.get("tokens", []) if t]
                if toks:
                    q_line_set.add(" ".join(toks))
        for q in qlist:
            qx, qy = q["position"]
            rb = right_bound(qlist, q)
            text, y1, y2 = collect(qx, qy, q.get("segments"), rb, q_line_set)
            q["answer_window"] = {
                "x_start": max(0, qx - A_LEFT_MARGIN),
                "y_start": int(y1),
                "x_end": int(rb),
                "y_end": int(y2),
            }
            if text:
                q["answer"] = text
        # highlight fallback
        for q in qlist:
            if q.get("answer") or not q.get("answer_window"):
                continue
            if not _is_yes_no(q.get("question", "")):
                continue
            aw = q["answer_window"]
            rec = env.highlight_ocr(aw)
            if rec in ("Yes", "No"):
                q["answer"] = rec
                q["answer_inferred"] = False
                q["answer_method"] = "highlight_fallback"
                continue
            seg_ys = [
                s["line_y"] for s in (q.get("segments") or []) if isinstance(s.get("line_y"), (int, float))
            ]
            last_seg_y = max(seg_ys) if seg_ys else None
            band_h = aw["y_end"] - aw["y_start"]
            if last_seg_y is not None and band_h > 0:
                offs = sorted(set(SLIDE_OFFSETS) | {band_h})
                for off in offs:
                    y1 = int(last_seg_y + off)
                    if y1 + band_h > img_h:
                        break
                    rec = env.highlight_ocr(
                        {"x_start": aw["x_start"], "y_start": y1,
                         "x_end": aw["x_end"], "y_end": y1 + band_h},
                    )
                    if rec in ("Yes", "No"):
                        q["answer"] = rec
                        q["answer_inferred"] = False
                        q["answer_method"] = f"highlight_slide_{off}"
                        break
            if not q.get("answer"):
                for pi in range(1, PROBE_BANDS + 1):
                    rec = env.highlight_ocr(
                        {"x_start": aw["x_start"], "y_start": aw["y_start"] + pi * band_h,
                         "x_end": aw["x_end"], "y_end": aw["y_start"] + (pi + 1) * band_h},
                    )
                    if rec in ("Yes", "No"):
                        q["answer"] = rec
                        q["answer_inferred"] = False
                        q["answer_method"] = f"highlight_probe_{pi}"
                        break
        # in-section x_end trim (row tolerance x2)
        for q in qlist:
            aw = q.get("answer_window")
            if not aw:
                continue
            qx, q_end = aw["x_start"], aw["x_end"]
            qy = q["position"][1]
            min_end = q_end
            for other in qlist:
                if other is q:
                    continue
                ox, oy = other["position"]
                if ox <= qx:
                    continue
                if abs(oy - qy) <= A_ROW_TOL * 2:
                    cand = ox - A_COL_GAP
                    if qx <= cand < min_end:
                        min_end = cand
            if min_end < q_end:
                aw["x_end"] = max(qx, min_end)

    # global row-group x_end trim
    entries = [
        (q, int(q["position"][1]), int(q["answer_window"].get("x_start", q["position"][0])))
        for sec in matches
        for q in sec.get("questions", [])
        if q.get("answer_window") and q.get("position")
    ]
    entries.sort(key=lambda t: t[1])
    groups: list[list[tuple]] = []
    for e in entries:
        for g in groups:
            if abs(g[0][1] - e[1]) <= A_ROW_TOL * 2:
                g.append(e)
                break
        else:
            groups.append([e])
    for g in groups:
        g.sort(key=lambda t: t[2])
        for i in range(len(g) - 1):
            q_curr, _, x_curr = g[i]
            _, _, x_next = g[i + 1]
            aw = q_curr["answer_window"]
            if g[i + 1][0].get("answer_window") is None:
                continue
            if aw["x_end"] >= x_next:
                aw["x_end"] = max(aw.get("x_start", x_curr), x_next - A_COL_GAP)

    # strict pruning via crop re-OCR
    for sec in matches:
        for q in sec.get("questions", []):
            aw, ans = q.get("answer_window"), q.get("answer")
            if not aw or not ans:
                continue
            kept = [
                str(t["text"]).strip()
                for t in env.crop_tokens(
                    int(aw["x_start"]), int(aw["y_start"]),
                    int(aw["x_end"]), int(aw["y_end"]),
                )
                if str(t["text"]).strip()
            ]
            if not kept:
                continue
            removed = [t for t in ans.split() if t not in kept]
            new = " ".join(kept)
            degraded = (
                ("gmail" in ans.lower() and "qmail" in new.lower())
                or ("days" in ans.lower() and "davs" in new.lower())
            )
            if removed and not degraded:
                q["answer"] = new

    # checkbox-pair yes/no inference (reminder question)
    if checkboxes:
        for sec in matches:
            for q in sec.get("questions", []):
                if q.get("answer"):
                    continue
                flat = _seg_tokens_lower(q)
                if not flat:
                    continue
                key_hits = sum(
                    1 for kw in ("reminders", "automatic", "appointment", "messages")
                    if kw in flat
                )
                if key_hits < 2 or not (
                    "reminders" in flat or any(t.startswith("reminder") for t in flat)
                ):
                    continue
                seg_ys = [
                    s["line_y"] for s in (q.get("segments") or []) if s.get("line_y") is not None
                ]
                last_seg_y = max(seg_ys) if seg_ys else q["position"][1]
                nearby = sorted(
                    (cb for cb in checkboxes if last_seg_y - 20 <= cb["y"] <= last_seg_y + 70),
                    key=lambda c: c["x"],
                )
                pair, seen_x = [], []
                for cb in nearby:
                    if all(abs(cb["x"] - ex) >= 5 for ex in seen_x):
                        pair.append(cb)
                        seen_x.append(cb["x"])
                    if len(pair) == 2:
                        break
                if len(pair) != 2:
                    continue
                ticked = [i for i, cb in enumerate(pair) if cb["status"] == "ticked"]
                if len(ticked) == 1:
                    q["answer"] = "Yes" if ticked[0] == 0 else "No"
                    q["answer_inferred"] = True
                    q["answer_source"] = "checkbox"
                elif len(ticked) == 2:
                    q["answer"] = "Yes"
                    q["answer_inferred"] = True
                    q["answer_source"] = "checkbox"

    # follow-up inference
    for sec in matches:
        qs = sec.get("questions", [])
        for i, q in enumerate(qs):
            text = (q.get("question") or "").lower()
            if "appointment" in text and "reminder" in text and not q.get("answer"):
                if i + 1 < len(qs):
                    nq = qs[i + 1]
                    if nq.get("answer") and (nq.get("question") or "").lower().startswith("if yes"):
                        q["answer"] = "Yes"
                        q["answer_inferred"] = True
                        q["answer_source"] = "followup_inference"

    # zip sanitization
    for sec in matches:
        for q in sec.get("questions", []):
            qt = (q.get("question") or "").lower()
            ans = q.get("answer")
            if ans and "zip" in qt and "code" in qt:
                for tok in ans.split():
                    if _ZIP_RE.match(tok):
                        if tok != ans:
                            q["answer"] = tok
                        break
    return matches


def page_responses(
    tokens: list[dict],
    page: PageView,
    question_sections: list[dict],
    regions: dict,
    checkboxes: list[dict] | None = None,
    highlights: list[dict] | None = None,
    next_page: PageView | None = None,
    img_w: int = C.PAGE_W,
    img_h: int = C.PAGE_H,
    env=None,
) -> list[dict]:
    """One page's Q/A layer: ``page`` is the page's view of ``tokens``,
    ``next_page`` the next page's view (cross-page fallback). Both phases
    share one perception environment, the synthetic model over
    ``tokens`` and ``highlights`` when ``env`` is None."""
    if env is None:
        env = SyntheticPerception(tokens, highlights)
    matches = match_question_sections(page, question_sections, regions, next_page, env, img_w, img_h)
    return attach_answers(tokens, matches, checkboxes, env, img_w, img_h)
