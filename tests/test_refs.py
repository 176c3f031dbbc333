"""X1 link-reference resolution at the edges: operators/refs.resolve_refs
on a hand-built extracted table must equal the plain-Python registry
(core.links.resolve_conversation_refs + rewrite_page_urls), on every
join path it can take."""

import copy
import json
import math

import pytest

from pdftext_spark.core.links import (
    goto_placeholder,
    resolve_conversation_refs,
    rewrite_page_urls,
)
from pdftext_spark.operators.refs import release_persisted, resolve_refs
from pdftext_spark.operators.schema import EXTRACTED

# (conv_id, turn_idx) -> link_dests as (ord, gid, dest_page, x, y)
_REGS = {
    ("a", 0): [(0, 0, 2, 10.0, 20.0), (1, 1, 2, -0.0, 5.0)],
    ("a", 1): [
        (0, 0, 2, 10.0, 20.0),   # registered by turn 0 first: reuses idx 0
        (1, 1, 2, 0.0, 5.0),     # == turn 0's (-0.0, 5.0): reuses idx 1
        (2, 2, 2, 30.0, 40.0),   # new coord: idx 2
        (3, 2, 2, 30.0, 40.0),   # the same gid registered twice in a turn
        (4, 3, 99, 1.0, 1.0),    # dest page with no matching turn
        (5, 4, 3, 7.0, 7.0),     # dest turn without a page (tool turn)
    ],
    # conversation b: same turn ids and coords, its own registry
    ("b", 0): [(0, 0, 1, 30.0, 40.0), (1, 1, 1, 10.0, 20.0)],
    ("b", 1): [(0, 0, 0, 0.0, 0.0)],
}
# (conv_id, turn_idx, has a page); a/2 is a target without links of its
# own, a/4 neither links nor is linked to
_TURNS = [("a", 0, True), ("a", 1, True), ("a", 2, True), ("a", 3, False),
          ("a", 4, True), ("b", 0, True), ("b", 1, True)]


def _span(text, url):
    return {"bbox": [0.0, 0.0, 1.0, 1.0], "text": text,
            "font": {"name": "F", "flags": 0, "size": 10.0, "weight": 400},
            "char_start_idx": 0, "char_end_idx": len(text), "rotation": 0.0,
            "url": url, "superscript": False, "subscript": False,
            "chars": None}


def _row(conv, turn, has_page):
    regs = _REGS.get((conv, turn), [])
    urls = [goto_placeholder(turn, g) for g in sorted({r[1] for r in regs})]
    spans = [_span(f"s{i}", u) for i, u in
             enumerate(urls + ["https://example.com", None])]
    page = None
    if has_page:
        box = [0.0, 0.0, 100.0, 100.0]
        page = {"page": turn, "bbox": box, "width": 100, "height": 100,
                "rotation": 0,
                "blocks": [{"bbox": box, "lines": [
                    {"bbox": box, "spans": spans[:1]},
                    {"bbox": box, "spans": spans[1:]}]}],
                "refs": []}
    dests = [{"ord": o, "gid": g, "dest_page": d, "x": x, "y": y}
             for o, g, d, x, y in regs]
    return {"conv_id": conv, "turn_idx": turn,
            "role": "user" if has_page else "tool", "ts": None,
            "text": "t", "is_html": not has_page, "page": page, "tables": [],
            "link_dests": dests, "error": None, "n_chars": 1,
            "n_spans": len(spans), "n_blocks": 1}


def _expected(rows):
    out = {}
    for conv in sorted({r["conv_id"] for r in rows}):
        regs = [(t, *reg) for (c, t), rs in sorted(_REGS.items())
                if c == conv for reg in rs]
        url_map, refs_by_page = resolve_conversation_refs(regs)
        for r in rows:
            if r["conv_id"] != conv:
                continue
            r = copy.deepcopy(r)
            if r["page"] is not None:
                rewrite_page_urls(r["page"], url_map, refs_by_page)
            out[(conv, r["turn_idx"])] = r
    return out


@pytest.mark.parametrize("kw", [
    {"persist": True},
    {"persist": True, "broadcast_threshold": 0},
    {"persist": False},
], ids=["broadcast", "threshold0", "no_persist"])
def test_resolve_refs_matches_python_registry(spark, kw):
    rows = [_row(*t) for t in _TURNS]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in EXTRACTED.fields) for r in rows], EXTRACTED)
    out = resolve_refs(df, **kw)
    try:
        got = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
               for r in out.collect()}
    finally:
        release_persisted(out)
    exp = _expected(rows)
    assert set(got) == set(exp)
    for key in exp:
        # json keeps -0.0 apart from 0.0, which == would not
        assert json.dumps(got[key], sort_keys=True) == \
            json.dumps(exp[key], sort_keys=True), key

    # the edges above, spelled out
    a1 = [s["url"] for b in got[("a", 1)]["page"]["blocks"]
          for ln in b["lines"] for s in ln["spans"]]
    assert a1 == ["#page-2-0", "#page-2-1", "#page-2-2", "#page-99-0",
                  "#page-3-0", "https://example.com", None]
    refs = got[("a", 2)]["page"]["refs"]
    assert [r["idx"] for r in refs] == [0, 1, 2]
    assert math.copysign(1.0, refs[1]["coord"][0]) < 0  # first arrival kept
    assert got[("a", 3)]["page"] is None
    assert got[("a", 4)]["page"]["refs"] == []
    assert [r["coord"] for r in got[("b", 1)]["page"]["refs"]] == \
        [[30.0, 40.0], [10.0, 20.0]]
