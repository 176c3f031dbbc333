"""Link ↔ span spatial join and span splitting (J1, J2, W7, S5 analog).

Reference: pdftext/pdf/links.py. Payload links arrive as structs per turn
(fixture contract, FIXTURES.md): bbox in top-left-origin page coordinates,
pre-rotation. Scaling mirrors _rect_to_scaled_bbox (links.py:29-44):
normalize corners, round(x, 0), rotate by page rotation; dest positions
mirror _xy_to_scaled_pos (links.py:47-48): ±1 expand, same transform,
keep [x, y].

Internal-link urls depend on the per-conversation reference registry
(X1, schema.py:205-225) — a CROSS-TURN dependency. Split boundaries do
not: two links produce the same url iff they dedup to the same
(dest_page, dest_pos). So the kernel emits a deterministic placeholder
url `#goto|<turn_idx>|<gid>` with identical equality semantics; the
Spark layer resolves placeholders to final `#page-<page>-<idx>` urls with
one aggregation per (conversation, dest page), one per-turn side table and
one broadcast join (operators/refs.py), keeping the heavy char data out of
every shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np

from pdftext_spark.core.geometry import (
    ensure_nonzero_area,
    intersection_matrix,
    normalize_boxes,
    rotate_boxes,
)
from pdftext_spark.core.segment import Segmentation


def goto_placeholder(turn_idx: int, gid: int) -> str:
    """Placeholder url for an internal link, pending X1 resolution.

    `gid` is the per-turn dedup id over distinct (dest_page, dest_pos)
    values, so placeholder equality within a turn is exactly final-url
    equality (split boundaries, links.py:203, depend only on that), while
    the string itself is integer-only — reproducible bit-for-bit by the
    SQL `concat` that builds the url map in operators/refs.py, with no
    float-formatting hazards.
    """
    return f"#goto|{turn_idx}|{gid}"


def scale_link_geometry(links: list[dict], page_w: int, page_h: int,
                        rotation: int) -> list[dict]:
    """Apply the bbox/dest_pos transforms of links.py:29-48."""
    if not links:
        return []
    # one batched normalize/round/rotate for all link bboxes (and one for
    # all dest positions): elementwise-identical to the old per-link
    # (1, 4) calls, without L rounds of tiny-array overhead
    bb = np.asarray([ln["bbox"] for ln in links],
                    dtype=np.float64).reshape(len(links), 4)
    bbl = rotate_boxes(np.round(normalize_boxes(bb)),
                       page_w, page_h, rotation).tolist()
    dps = [ln.get("dest_pos") for ln in links]
    di = [i for i, d in enumerate(dps) if d is not None]
    if di:
        xy = np.asarray([[float(dps[i][0]), float(dps[i][1])] for i in di],
                        dtype=np.float64)
        pb = np.empty((len(di), 4), dtype=np.float64)
        pb[:, 0] = xy[:, 0] - 1
        pb[:, 1] = xy[:, 1] - 1
        pb[:, 2] = xy[:, 0] + 1
        pb[:, 3] = xy[:, 1] + 1
        pbl = rotate_boxes(np.round(normalize_boxes(pb)),
                           page_w, page_h, rotation).tolist()
    out = []
    k = 0
    for i, ln in enumerate(links):
        dest_pos = None
        if dps[i] is not None:
            dest_pos = pbl[k][:2]
            k += 1
        out.append({
            "bbox": bbl[i],
            "dest_page": ln.get("dest_page"),
            "dest_pos": dest_pos,
            "url": ln.get("url"),
        })
    return out


@dataclass
class TurnLinkResult:
    # span_idx (global SpanTable index) -> list of split override dicts
    span_splits: dict
    # registered internal-link dests, in registration order:
    # (ord, gid, dest_page, x, y) — feeds the X1 per-conversation registry;
    # gid is the per-turn coord-dedup id used in the placeholder url
    registrations: list


def merge_turn_links(seg: Segmentation, turn: int, page_id: int,
                     raw_links: list[dict]) -> Optional[TurnLinkResult]:
    """J1 (link→argmax span) + J2/W7 (char-level url split) for one turn
    (links.py:125-221)."""
    if not raw_links:
        return None
    dt = seg.chars.turns[turn]
    links = scale_link_geometry(raw_links, dt.page_width, dt.page_height, dt.rotation)

    # spans of this turn, flattened in block/line order == creation order
    # (spans.turn is sorted, so the turn's spans are one contiguous range)
    s_lo = int(seg.turn_span_lo[turn])
    s_hi = int(seg.turn_span_hi[turn])
    span_ids = np.arange(s_lo, s_hi)
    span_boxes = seg.spans.bbox[s_lo:s_hi]
    link_boxes = np.asarray([ln["bbox"] for ln in links], dtype=np.float64)
    inter = intersection_matrix(link_boxes, span_boxes)

    span_link_map: dict[int, list[dict]] = {}
    registrations: list[tuple] = []
    gid_of_coord: dict[tuple, int] = {}
    for li, ln in enumerate(links):
        row = inter[li] if len(span_ids) else np.zeros(0)
        if row.sum() == 0:
            continue  # zero-intersection skip (links.py:142-144)
        target = int(np.argmax(row))  # ties -> first (numpy argmax)
        dest_page = ln["dest_page"]
        if dest_page is not None:
            if ln["dest_pos"]:
                dest_pos = ln["dest_pos"]
            else:
                if dest_page == page_id:
                    continue  # self-link without position dropped (links.py:154-157)
                dest_pos = [0.0, 0.0]  # default to top of page (links.py:158)
            coord_key = (int(dest_page), dest_pos[0], dest_pos[1])
            gid = gid_of_coord.setdefault(coord_key, len(gid_of_coord))
            registrations.append((li, gid, int(dest_page), dest_pos[0], dest_pos[1]))
            ln = dict(ln, url=goto_placeholder(page_id, gid))
        span_link_map.setdefault(target, []).append(ln)

    if not span_link_map:
        return TurnLinkResult({}, registrations)

    cb = seg.chars
    span_splits: dict[int, list[dict]] = {}
    for local_idx, span_links in span_link_map.items():
        gsi = int(span_ids[local_idx])
        a, b = int(seg.spans.start[gsi]), int(seg.spans.end[gsi])
        char_boxes = cb.boxes[a:b]
        lb = np.asarray([sl["bbox"] for sl in span_links], dtype=np.float64)
        # degenerate char boxes padded before intersecting (links.py:191-194)
        areas = (char_boxes[:, 2] - char_boxes[:, 0]) * (char_boxes[:, 3] - char_boxes[:, 1])
        padded = char_boxes.copy()
        degen = areas <= 0
        if degen.any():
            padded[degen] = ensure_nonzero_area(char_boxes[degen])
        m = intersection_matrix(padded, lb)  # (chars, links)
        # per char: url of the max-area link among area>0 hits; np.argmax
        # returns the FIRST max, matching the reference's stable
        # descending sort that keeps earlier links on ties
        # (links.py:198-201)
        am = np.argmax(m, axis=1)
        best = m[np.arange(m.shape[0]), am]
        link_urls = [sl["url"] for sl in span_links]
        urls = [link_urls[j] if best[i] > 0 else ""
                for i, j in enumerate(am.tolist())]
        # W7: new sub-span whenever url changes (links.py:203-219)
        overrides = []
        seg_start = 0
        for ci in range(1, b - a):
            if urls[ci] != urls[ci - 1]:
                overrides.append(_override(cb, a + seg_start, a + ci, urls[seg_start]))
                seg_start = ci
        overrides.append(_override(cb, a + seg_start, b, urls[seg_start]))
        span_splits[gsi] = overrides
    return TurnLinkResult(span_splits, registrations)


def resolve_conversation_refs(turn_registrations: list[tuple]) -> tuple[dict, dict]:
    """X1 — the per-conversation reference registry (schema.py:205-225).

    Input: [(turn_idx, ord, gid, dest_page, x, y), ...] in PROCESSING
    order — the reference's Registry.add assigns idx in the order pages
    are processed, so a caller extracting an unsorted page_range (the
    CLI's --pages honors the given order) gets the same idx sequence the
    reference would. Dedup is on VALUE equality of (dest_page, coord)
    with first-arrival-wins in that order; idx is the arrival rank among
    distinct coords of that dest page. Returns (placeholder→final-url
    map, dest_page→[ref dict]).

    operators/refs.py sorts each (conversation, dest_page) group's
    registrations by (turn_idx, ord) and takes `array_distinct` of their
    coords — identical whenever processing order is turn order, which it
    always is for a table (there is no other order). Its struct
    comparison treats -0.0 and 0.0 as one coord, as `==` does here.
    """
    url_map: dict[str, str] = {}
    refs_by_page: dict[int, list[dict]] = {}
    seen: dict[int, list[tuple]] = {}
    for turn_idx, ord_, gid, dest_page, x, y in turn_registrations:
        coords = seen.setdefault(dest_page, [])
        idx = None
        for j, c in enumerate(coords):
            if c == (x, y):
                idx = j
                break
        if idx is None:
            idx = len(coords)
            coords.append((x, y))
            refs_by_page.setdefault(dest_page, []).append(
                {"idx": idx, "page": dest_page, "coord": [x, y],
                 "ref": f"page-{dest_page}-{idx}", "url": f"#page-{dest_page}-{idx}"})
        url_map[goto_placeholder(turn_idx, gid)] = f"#page-{dest_page}-{idx}"
    return url_map, refs_by_page


def rewrite_page_urls(page: dict, url_map: dict, refs_by_page: dict) -> None:
    """Apply resolved urls + refs to one struct page, in place."""
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                url = sp.get("url")
                if url and url in url_map:
                    sp["url"] = url_map[url]
    page["refs"] = refs_by_page.get(page["page"], [])


def _override(cb, start: int, end: int, url) -> dict:
    boxes = cb.boxes[start:end]
    bbox = [float(boxes[:, 0].min()), float(boxes[:, 1].min()),
            float(boxes[:, 2].max()), float(boxes[:, 3].max())]
    return {"start": start, "end": end, "url": url, "bbox": bbox}
