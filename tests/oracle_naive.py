"""Independent, deliberately-naive oracle for extraction parity tests.

This is a SECOND implementation of the reference semantics (SURVEY.md §2),
written as straightforward per-char Python loops over dicts — structurally
unlike the vectorized kernel in pdftext_spark/core — so that
kernel-vs-oracle equality is a meaningful check. Every rule cites the
reference file:line it reproduces (reference at /root/reference, read-only;
pdftext itself cannot run here — it needs pypdfium2 + real PDFs).

It imports nothing from pdftext_spark.core: payload parsing (stdlib json)
and the monospace layout synthesized for plain-prose turns are written
here too, although the payload format is this repo's own fixture
contract rather than reference semantics.
"""

from __future__ import annotations

import statistics
import unicodedata

import numpy as np

SPACES = {" ", "￾", "﻿", "\xa0"}
LINE_BREAKS = {"\n", "\r"}
TABS = {"\t"}
KEEP_WS = {"\n", "\r", "\f", "\t", " "}
HYPH = "\x02"
LIGS = [("ﬀ", "ff"), ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬁ", "fi"),
        ("ﬂ", "fl"), ("ﬆ", "st"), ("ﬅ", "st")]


# ---------- tiny box helpers (schema.py:7-126) ----------

def box_merge(a, b):
    return [min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3])]


def box_h(b):
    return b[3] - b[1]


def box_w(b):
    return b[2] - b[0]


def inter_area(a, b):
    return max(0, min(a[2], b[2]) - max(a[0], b[0])) * max(0, min(a[3], b[3]) - max(a[1], b[1]))


def inter_pct(a, b):
    area = box_w(a) * box_h(a)
    if area == 0:
        return 0
    return inter_area(a, b) / area


def box_rotate(b, pw, ph, rotation):
    if rotation == 0:
        return list(b)
    if rotation == 90:
        pts = (ph - b[3], b[0], ph - b[1], b[2])
    elif rotation == 180:
        pts = (pw - b[2], ph - b[3], pw - b[0], ph - b[1])
    elif rotation == 270:
        pts = (b[1], pw - b[2], b[3], pw - b[0])
    else:
        raise ValueError("bad rotation")
    return [min(pts[0], pts[2]), min(pts[1], pts[3]), max(pts[0], pts[2]), max(pts[1], pts[3])]


def nonzero_area(b):
    out = list(b)
    out[2] = max(out[0], out[2] + 1)
    out[3] = max(out[1], out[3] + 1)
    return out


# ---------- decode (S3, chars.py:10-55) ----------

def decode_chars(obj, quote_loosebox=True):
    import math
    pb = obj["page_bbox"]
    pw = math.ceil(abs(pb[2] - pb[0]))
    ph = math.ceil(abs(pb[1] - pb[3]))
    rotation = int(obj.get("rotation", 0))
    text = obj.get("text", "")
    flat = obj.get("bbox", [])
    cr = obj.get("charrot", 0.0)
    fid = obj.get("font_id", 0)
    fonts = obj.get("fonts") or [{"name": "", "flags": 0, "size": 0.0, "weight": 0}]
    tbox = obj.get("tbox") or {}
    chars = []
    for i, ch in enumerate(text):
        rot = cr[i] if isinstance(cr, list) else cr
        b = flat[i * 4:i * 4 + 4]
        loose = (rot == 0) and (ch != "'" or quote_loosebox)
        if not loose and str(i) in tbox:
            b = tbox[str(i)]
        b = [min(b[0], b[2]), min(b[1], b[3]), max(b[0], b[2]), max(b[1], b[3])]
        b = box_rotate(b, pw, ph, rotation)
        f = fonts[fid[i] if isinstance(fid, list) else fid]
        chars.append({
            "char": ch, "bbox": b, "rotation": float(rot),
            "font": {"name": f.get("name"), "flags": f.get("flags"),
                     "size": f.get("size"), "weight": f.get("weight")},
            "char_idx": i,
        })
    return chars, pw, ph, rotation, pb


# ---------- W1 + A6 (chars.py:58-115) ----------

def dedup_chars(chars):
    words = []
    for c in chars:
        brk = not words
        if not brk:
            w = words[-1]
            if w["text"][-1] in ("\n", " ", HYPH):
                brk = True
            elif any(c["font"][k] != w["font"][k] for k in ("name", "flags", "size", "weight")):
                brk = True
            elif c["rotation"] != w["rotation"]:
                brk = True
        if brk:
            words.append({"text": c["char"], "bbox": list(c["bbox"]),
                          "rotation": c["rotation"], "font": c["font"],
                          "chars": [c]})
        else:
            w = words[-1]
            w["text"] += c["char"]
            w["bbox"] = box_merge(w["bbox"], c["bbox"])
            w["chars"].append(c)
    seen = set()
    out = []
    for w in words:
        rb = [round(v, 0) for v in w["bbox"]]
        key = (f"{rb}-{w['text']}-{w['rotation']}-{w['font']['name']}-"
               f"{w['font']['flags']}-{w['font']['size']}-{w['font']['weight']}")
        if key not in seen:
            seen.add(key)
            out.extend(w["chars"])
    return out


# ---------- W2 (pages.py:77-129) ----------

def make_spans(chars, sht=0.7, ldt=0.1):
    spans = []
    for c in chars:
        brk = not spans
        if not brk:
            s = spans[-1]
            if any(c["font"][k] != s["font"][k] for k in ("name", "flags", "size", "weight")):
                brk = True
            elif c["rotation"] != s["rotation"]:
                brk = True
            elif s["text"].endswith(HYPH) or s["text"].endswith("\n"):
                brk = True
            else:
                sb = s["bbox"]
                if (c["bbox"][1] < sb[1] - box_h(sb) * ldt
                        and c["bbox"][3] < box_h(sb) * sht + sb[1]
                        and c["bbox"][0] > sb[2]):
                    brk = True
        if brk:
            spans.append({"bbox": list(c["bbox"]), "text": c["char"],
                          "rotation": c["rotation"], "font": c["font"],
                          "char_start_idx": c["char_idx"], "char_end_idx": c["char_idx"],
                          "chars": [c], "url": ""})
        else:
            s = spans[-1]
            s["text"] += c["char"]
            s["char_end_idx"] = c["char_idx"]
            s["bbox"] = box_merge(s["bbox"], c["bbox"])
            s["chars"].append(c)
    return spans


# ---------- W3 (pages.py:132-164) ----------

def make_lines(spans):
    lines = []
    for s in spans:
        brk = not lines
        if not brk:
            ln = lines[-1]
            last = ln["spans"][-1]["text"]
            if last.endswith("\n") or last.endswith(HYPH):
                brk = True
            elif s["rotation"] != ln["rotation"]:
                brk = True
            elif s["bbox"][1] > ln["bbox"][3]:
                brk = True
        if brk:
            lines.append({"spans": [s], "bbox": list(s["bbox"]), "rotation": s["rotation"]})
        else:
            ln = lines[-1]
            ln["spans"].append(s)
            ln["bbox"] = box_merge(ln["bbox"], s["bbox"])
    return lines


# ---------- W6 (pages.py:22-74) ----------

def _math_sym(ch):
    return len(ch) == 1 and unicodedata.category(ch) == "Sm"


def flag_scripts(lines, height_threshold=0.7, ldt=0.1):
    for ln in lines:
        if len(ln["spans"]) < 2:
            continue
        if box_h(ln["bbox"]) > box_w(ln["bbox"]):
            continue
        prev = None
        spans = ln["spans"]
        for i, s in enumerate(spans):
            first = i == 0 or not prev["text"].strip()
            last = i == len(spans) - 1 or not spans[i + 1]["text"].strip()
            h = box_h(s["bbox"])
            top, bot = s["bbox"][1], s["bbox"][3]
            line_full = h / max(1, box_h(ln["bbox"])) <= height_threshold
            next_full = last or h / max(1, box_h(spans[i + 1]["bbox"])) <= height_threshold
            prev_full = first or h / max(1, box_h(prev["bbox"])) <= height_threshold
            above = any(top < o["bbox"][1] - box_h(o["bbox"]) * ldt
                        for j, o in enumerate(spans) if j != i)
            below = any(bot > o["bbox"][3] + box_h(o["bbox"]) * ldt
                        for j, o in enumerate(spans) if j != i)
            p_above = first or top < prev["bbox"][1]
            n_above = last or top < spans[i + 1]["bbox"][1]
            p_below = first or bot > prev["bbox"][3]
            n_below = last or bot > spans[i + 1]["bbox"][3]
            t = s["text"].strip()
            t_ok = (len(t) == 1 or t.isdigit()) and (t.isalnum() or _math_sym(t))
            if (prev_full or next_full) and (p_above or n_above) and above and line_full and t_ok:
                s["superscript"] = True
            elif (prev_full or next_full) and (p_below or n_below) and below and line_full and t_ok:
                s["subscript"] = True
            prev = s


# ---------- W4 + A4 + W5 (pages.py:167-257) ----------

def make_blocks(lines):
    if not lines:
        return []
    xd, yd = [], []
    for i in range(len(lines) - 1):
        a, b = lines[i]["bbox"], lines[i + 1]["bbox"]
        xd.append(abs((b[0] + b[2]) / 2 - (a[0] + a[2]) / 2))
        yd.append(abs((b[1] + b[3]) / 2 - (a[1] + a[3]) / 2))
    mx = (statistics.median(xd) or 0.1) if xd else 0.1
    my = (statistics.median(yd) or 0.1) if yd else 0.1
    ax, ay = mx * 1.5, my * 1.5

    blocks = []
    for ln in lines:
        if not blocks:
            blocks.append({"lines": [ln], "bbox": list(ln["bbox"]), "rotation": ln["rotation"]})
            continue
        blk = blocks[-1]
        last = blk["lines"][-1]
        lc = ((last["bbox"][0] + last["bbox"][2]) / 2, (last["bbox"][1] + last["bbox"][3]) / 2)
        cc = ((ln["bbox"][0] + ln["bbox"][2]) / 2, (ln["bbox"][1] + ln["bbox"][3]) / 2)
        dx, dy = abs(cc[0] - lc[0]), abs(cc[1] - lc[1])
        if ((dx <= ax and dy <= ay)
                or (len(blk["lines"]) == 1 and last["bbox"][0] > ln["bbox"][0] and dy <= ay)
                or (last["bbox"][2] > ln["bbox"][2] and dy <= ay)
                or (dy < ay * 0.2 and last["bbox"][2] > ln["bbox"][0])
                or inter_pct(blk["bbox"], ln["bbox"]) > 0):
            blk["lines"].append(ln)
            blk["bbox"] = box_merge(blk["bbox"], ln["bbox"])
        else:
            blocks.append({"lines": [ln], "bbox": list(ln["bbox"])})
    merged = []
    for blk in blocks:
        if merged and inter_pct(merged[-1]["bbox"], blk["bbox"]) > 0:
            merged[-1] = {"lines": merged[-1]["lines"] + blk["lines"],
                          "bbox": box_merge(merged[-1]["bbox"], blk["bbox"])}
        else:
            merged.append(blk)
    return merged


# ---------- text postprocess (postprocessing.py) ----------

def pp_text(text):
    text = text.replace("\r\n", "\n")
    out = []
    for ch in text:
        if ch in SPACES:
            out.append(" ")
        elif ch in LINE_BREAKS:
            out.append("\n")
        elif ch in TABS:
            out.append("\t")
        elif unicodedata.category(ch)[0] == "C" and ch != HYPH and ch not in KEEP_WS:
            continue
        else:
            out.append(ch)
    text = "".join(out)
    for a, b in LIGS:
        text = text.replace(a, b)
    return text


def hyphens_text(text, keep):
    if keep:
        return text.replace(HYPH, "-\n")
    if len(text) == 0:
        return text
    new = ""
    found = False
    i = 0
    while i < len(text) - 1:  # final char always dropped (postprocessing.py:39)
        ch = text[i]
        if ch == HYPH:
            found = True
        elif found:
            if ch in LINE_BREAKS:
                pass
            elif ch in SPACES:
                new = new.rstrip() + "\n"
                found = False
            else:
                new += ch
        else:
            new += ch
        i += 1
    return new


def sort_blocks_naive(blocks, tolerance=1.25):
    groups = {}
    for blk in blocks:
        k = round(blk["bbox"][1] / tolerance) * tolerance
        groups.setdefault(k, []).append(blk)
    out = []
    for k in sorted(groups):
        out.extend(sorted(groups[k], key=lambda b: b["bbox"][0]))
    return out


def merge_text_naive(page, sort=False, hyphens=False):
    if sort:
        page["blocks"] = sort_blocks_naive(page["blocks"])
    text = ""
    for blk in page["blocks"]:
        bt = ""
        for ln in blk["lines"]:
            lt = "".join(s["text"] for s in ln["spans"])
            bt += pp_text(lt).rstrip() + "\n"
        text += bt.rstrip() + "\n\n"
    return hyphens_text(text, hyphens)


# ---------- page pipeline (pages.py:260-302) ----------

def _parse_payload_stdlib(text):
    """Independent stdlib-json parse of the payload input contract (the
    implementation may use orjson; the oracle must not share that code
    path so float-parsing differences would surface as mismatches)."""
    import json
    if not text or text[0] != "{":
        return None
    try:
        obj = json.loads(text)
    except ValueError:
        return None
    if isinstance(obj, dict) and obj.get("kind") == "chars":
        return obj
    return None


def prose_to_payload(text, page_width=612.0, page_height=792.0,
                     font_size=11.0, margin=72.0):
    """Plain-prose turn → a payload dict with a deterministic monospace
    layout (SURVEY.md §7.0), one char at a time: a newline char ends its
    row, and a row that reaches max_cols wraps by inserting one."""
    advance = font_size * 0.6
    line_h = font_size * 1.2
    max_cols = max(1, int((page_width - 2 * margin) / advance))
    out_chars: list[str] = []
    out_boxes: list[float] = []
    col = 0
    row = 0
    for ch in text:
        if ch == "\n":
            out_chars.append("\n")
            x = margin + col * advance
            y = margin + row * line_h
            out_boxes.extend([x, y, x, y + line_h])
            col = 0
            row += 1
            continue
        if col >= max_cols:
            out_chars.append("\n")
            x = margin + col * advance
            y = margin + row * line_h
            out_boxes.extend([x, y, x, y + line_h])
            col = 0
            row += 1
        x = margin + col * advance
        y = margin + row * line_h
        out_chars.append(ch)
        out_boxes.extend([x, y, x + advance, y + font_size])
        col += 1
    return {
        "kind": "chars",
        "page_bbox": [0.0, 0.0, page_width, page_height],
        "rotation": 0,
        "text": "".join(out_chars),
        "bbox": out_boxes,
        "charrot": 0.0,
        "fonts": [{"name": "Mono", "flags": 0, "size": font_size, "weight": 400}],
        "font_id": 0,
    }


def build_page(payload_text, page_idx, quote_loosebox=True, sht=0.7, ldt=0.1):
    obj = _parse_payload_stdlib(payload_text)
    if obj is None:
        obj = prose_to_payload(payload_text if payload_text is not None else "")
    chars, pw, ph, rotation, pb = decode_chars(obj, quote_loosebox)
    chars = dedup_chars(chars)
    spans = make_spans(chars, sht, ldt)
    lines = make_lines(spans)
    flag_scripts(lines, sht, ldt)
    blocks = make_blocks(lines)
    return {"page": page_idx, "bbox": list(pb), "width": pw, "height": ph,
            "rotation": rotation, "blocks": blocks,
            "_links": obj.get("links") or [],
            "_tables": obj.get("tables") or [], "_img_size": obj.get("img_size")}


def oracle_plain(payload_texts, sort=False, hyphens=False, page_ids=None):
    """paginated_plain_text_output semantics (extraction.py:75-80)."""
    if page_ids is None:
        page_ids = range(len(payload_texts))
    out = []
    for i, t in zip(page_ids, payload_texts):
        page = build_page(t, i)
        out.append(merge_text_naive(page, sort=sort, hyphens=hyphens).strip())
    return out


# ---------- links + refs (pdf/links.py, schema.py:205-225) ----------

class Registry:
    def __init__(self):
        self.by_page = {}

    def add(self, page, coord):
        refs = self.by_page.setdefault(page, [])
        for r in refs:
            if r["coord"] == coord:
                return r
        r = {"idx": len(refs), "page": page, "coord": coord}
        refs.append(r)
        return r

    def refs_for(self, page):
        return [dict(r, ref=f"page-{r['page']}-{r['idx']}",
                     url=f"#page-{r['page']}-{r['idx']}")
                for r in self.by_page.get(page, [])]


def _scale_link(ln, pw, ph, rotation):
    b = ln["bbox"]
    b = [min(b[0], b[2]), min(b[1], b[3]), max(b[0], b[2]), max(b[1], b[3])]
    b = [round(v, 0) for v in b]
    b = box_rotate(b, pw, ph, rotation)
    dp = ln.get("dest_pos")
    if dp is not None:
        x, y = float(dp[0]), float(dp[1])
        pb = [round(v, 0) for v in (x - 1, y - 1, x + 1, y + 1)]
        pb = box_rotate(pb, pw, ph, rotation)
        dp = [pb[0], pb[1]]
    return {"bbox": b, "dest_page": ln.get("dest_page"), "dest_pos": dp,
            "url": ln.get("url")}


def merge_links_naive(page, registry):
    page_id = page["page"]
    links = [_scale_link(ln, page["width"], page["height"], page["rotation"])
             for ln in page["_links"]]
    spans = [s for b in page["blocks"] for ln in b["lines"] for s in ln["spans"]]
    span_map = {}
    for link in links:
        best, best_area, total = None, 0.0, 0.0
        for si, s in enumerate(spans):
            a = inter_area(link["bbox"], s["bbox"])
            total += a
            if best is None or a > best_area:
                best, best_area = si, a
        if total == 0 or best is None:
            continue
        if link["dest_page"] is not None:
            if link["dest_pos"]:
                pos = link["dest_pos"]
            else:
                if link["dest_page"] == page_id:
                    continue
                pos = [0.0, 0.0]
            r = registry.add(link["dest_page"], pos)
            link["url"] = f"#page-{r['page']}-{r['idx']}"
        span_map.setdefault(best, []).append(link)
    si = 0
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            new_spans = []
            for s in ln["spans"]:
                if si in span_map:
                    new_spans.extend(_split_span(s, span_map[si]))
                else:
                    new_spans.append(s)
                si += 1
            ln["spans"] = new_spans


def _split_span(span, links):
    out = []
    cur = None
    for c in span["chars"]:
        cb = c["bbox"]
        hits = []
        for i, link in enumerate(links):
            probe = cb if box_w(cb) * box_h(cb) > 0 else nonzero_area(cb)
            a = inter_area(link["bbox"], probe)
            if a > 0:
                hits.append((a, i))
        url = ""
        if hits:
            hits.sort(key=lambda t: t[0], reverse=True)
            url = links[hits[0][1]]["url"]
        if cur is None or url != cur["url"]:
            cur = {"bbox": list(cb), "text": c["char"], "rotation": c["rotation"],
                   "font": c["font"], "char_start_idx": c["char_idx"],
                   "char_end_idx": c["char_idx"], "chars": [c], "url": url}
            out.append(cur)
        else:
            cur["text"] += c["char"]
            cur["char_end_idx"] = c["char_idx"]
            cur["bbox"] = box_merge(cur["bbox"], cb)
            cur["chars"].append(c)
    return out


# ---------- dictionary output (extraction.py:93-131) ----------

def oracle_dictionary(payload_texts, sort=False, keep_chars=False,
                      disable_links=False, quote_loosebox=True, page_ids=None):
    if page_ids is None:
        page_ids = range(len(payload_texts))
    pages = [build_page(t, i, quote_loosebox) for i, t in zip(page_ids, payload_texts)]
    if not disable_links:
        reg = Registry()
        for p in pages:
            merge_links_naive(p, reg)
        for p in pages:
            p["refs"] = reg.refs_for(p["page"])
    else:
        for p in pages:
            p["refs"] = []
    for p in pages:
        new_blocks = []
        for blk in p["blocks"]:
            new_lines = []
            for ln in blk["lines"]:
                new_spans = []
                for s in ln["spans"]:
                    d = {"bbox": list(s["bbox"]),
                         "text": hyphens_text(pp_text(s["text"]), True),
                         "font": s["font"],
                         "char_start_idx": s["char_start_idx"],
                         "char_end_idx": s["char_end_idx"],
                         "rotation": s["rotation"], "url": s["url"],
                         "superscript": s.get("superscript", False),
                         "subscript": s.get("subscript", False)}
                    if keep_chars:
                        d["chars"] = s["chars"]
                    new_spans.append(d)
                new_lines.append({"spans": new_spans, "bbox": list(ln["bbox"])})
            new_blocks.append({"lines": new_lines, "bbox": list(blk["bbox"])})
        if sort:
            new_blocks = sort_blocks_naive(new_blocks)
        p["blocks"] = new_blocks
        if p["rotation"] in (90, 270):
            p["width"], p["height"] = p["height"], p["width"]
            p["bbox"] = [p["bbox"][2], p["bbox"][3], p["bbox"][0], p["bbox"][1]]
        p.pop("_links", None)
        p.pop("_tables", None)
        p.pop("_img_size", None)
    return pages


# ---------- tables (tables.py) ----------

def _gap_thresh(page, img_size, default=0.01, min_chars=100):
    dists = []
    rot = page["rotation"]
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for s in ln["spans"]:
                cs = s["chars"]
                for i in range(1, len(cs)):
                    a, b = cs[i - 1]["bbox"], cs[i]["bbox"]
                    if rot == 90:
                        dists.append((b[0] - a[2]) / img_size[0])
                    elif rot == 180:
                        dists.append((b[1] - a[3]) / img_size[1])
                    elif rot == 270:
                        dists.append((a[0] - b[2]) / img_size[0])
                    else:
                        dists.append((a[1] - b[3]) / img_size[1])
    if len(dists) > min_chars:
        return float(np.percentile(dists, 80))
    return default


def _rescale(b, img_size, page):
    ws = img_size[0] / page["width"]
    hs = img_size[1] / page["height"]
    return [b[0] * ws, b[1] * hs, b[2] * ws, b[3] * hs]


def _same_cell(b, cur, img, thr, rot):
    if rot == 90:
        return ((b[0] - cur[0]) / img[0] < thr and abs(b[1] - cur[3]) / img[1] < thr
                and abs(b[0] - cur[0]) / img[0] < thr * 5)
    if rot == 180:
        return ((b[2] - cur[0]) / img[0] < thr and abs(b[1] - cur[1]) / img[1] < thr
                and abs(b[2] - cur[0]) / img[1] < thr * 5)
    if rot == 270:
        return ((b[0] - cur[0]) / img[0] < thr and abs(b[3] - cur[1]) / img[1] < thr
                and abs(b[0] - cur[0]) / img[1] < thr * 5)
    return ((b[0] - cur[2]) / img[0] < thr and abs(b[1] - cur[1]) / img[1] < thr
            and abs(b[0] - cur[2]) / img[1] < thr * 5)


def oracle_tables_for_page(page, tables, img_size, table_thresh=0.8, space_thresh=0.01):
    thr = max(space_thresh, _gap_thresh(page, img_size, space_thresh))
    rot = page["rotation"]
    out = []
    for table in tables:
        cells = []
        for blk in page["blocks"]:
            for ln in blk["lines"]:
                lb = _rescale(ln["bbox"], img_size, page)
                if inter_pct(lb, table) < table_thresh:
                    continue
                cur_text, cur_box = None, None
                for s in ln["spans"]:
                    for c in s["chars"]:
                        b = _rescale(c["bbox"], img_size, page)
                        same = cur_box is not None and _same_cell(b, cur_box, img_size, thr, rot)
                        if cur_text is None:
                            cur_text, cur_box = c["char"], b
                        elif same:
                            cur_text += c["char"]
                            cur_box = box_merge(cur_box, b)
                        else:
                            if cur_text.strip():
                                cells.append({"text": cur_text, "bbox": cur_box})
                            cur_text, cur_box = c["char"], b
                if cur_text is not None and cur_text.strip():
                    cells.append({"text": cur_text, "bbox": cur_box})
        for cell in cells:
            cell["bbox"] = [cell["bbox"][0] - table[0], cell["bbox"][1] - table[1],
                            cell["bbox"][2] - table[0], cell["bbox"][3] - table[1]]
        out.append(sort_blocks_naive(cells))
    return out


def oracle_tables(payload_texts, quote_loosebox=True, page_ids=None):
    """table_output semantics (extraction.py:134-155): dictionary pages with
    keep_chars=True and links enabled, then per-page cell clustering."""
    if page_ids is None:
        page_ids = list(range(len(payload_texts)))
    pages_raw = [build_page(t, i, quote_loosebox) for i, t in zip(page_ids, payload_texts)]
    metas = [(p["_tables"], p["_img_size"]) for p in pages_raw]
    pages = oracle_dictionary(payload_texts, keep_chars=True, quote_loosebox=quote_loosebox, page_ids=page_ids)
    out = []
    for p, (tabs, img) in zip(pages, metas):
        if tabs and img:
            out.append(oracle_tables_for_page(p, tabs, img))
        else:
            out.append([])
    return out
