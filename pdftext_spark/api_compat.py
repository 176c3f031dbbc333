"""Drop-in, reference-shaped entry points (extraction.py:70-155 analogs).

A pdftext user calls three functions and a CLI (SURVEY.md §3); this module
exposes the same surface over a *conversation* (list of turn payloads
standing in for a PDF's pages), running the batch kernel locally — no
SparkSession needed. The Spark operators in operators/extract.py are the
cluster-scale form of the same pipeline.

Signature parity: `workers` is accepted and ignored (the reference's
ProcessPoolExecutor fan-out, extraction.py:44-67, is replaced by Spark
executors at scale and is pointless in-process).
"""

from __future__ import annotations

from typing import Optional

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.arrow_out import extract_rows
from pdftext_spark.core.links import resolve_conversation_refs, rewrite_page_urls


def _run(payloads, page_range, cfg, roles=None):
    """EXTRACTED rows (dicts) for the selected pages, links resolved
    across them."""
    if page_range is None:
        page_range = range(len(payloads))
    page_range = list(page_range)
    # Reference CLI bounds check (scripts/extract_text.py:43), verbatim
    # including its inclusive upper bound quirk (`p == doc_len` passes the
    # assert there and only fails later inside pdfium; here it fails on
    # the list index below) — out-of-range pages get the reference's clean
    # assertion message, not a bare IndexError.
    assert all(0 <= p <= len(payloads) for p in page_range), \
        "Invalid page number(s) provided"
    texts = [payloads[i] for i in page_range]
    # roles route tool turns to the HTML main-content path like the Spark
    # operator does; PDF-shaped callers (the reference surface) omit them
    rr = (["user"] * len(texts) if roles is None
          else [roles[i] for i in page_range])
    rows = extract_rows(texts, rr, page_range, cfg)
    if not cfg.disable_links and cfg.emit_struct:
        regs = [(row["turn_idx"], d["ord"], d["gid"], d["dest_page"],
                 d["x"], d["y"]) for row in rows for d in row["link_dests"]]
        url_map, refs_by_page = resolve_conversation_refs(regs)
        for row in rows:
            if row["page"] is not None:
                rewrite_page_urls(row["page"], url_map, refs_by_page)
    return rows


def _reference_page(page):
    """An EXTRACTED page in pdftext's dict shape (SURVEY P2), in place:
    a span has `chars` only with keep_chars, each char carries its span's
    font, and lines/blocks list their children before their bbox."""
    if page is None:
        return None
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                chars = sp.pop("chars")
                if chars is not None:
                    sp["chars"] = [
                        {"bbox": c["bbox"], "char": c["char"],
                         "rotation": c["rotation"], "font": sp["font"],
                         "char_idx": c["char_idx"]} for c in chars]
            ln["bbox"] = ln.pop("bbox")
        blk["bbox"] = blk.pop("bbox")
    return page


def paginated_plain_text_output(payloads: list, sort: bool = False,
                                hyphens: bool = False, page_range=None,
                                flatten_pdf: bool = False,
                                workers: Optional[int] = None,
                                roles: Optional[list] = None) -> list[str]:
    """extraction.py:75-80 — per-page plain text, stripped."""
    cfg = ExtractConfig(sort=sort, hyphens=hyphens, emit_struct=False,
                        emit_tables=False, disable_links=True)
    return [row["text"] for row in _run(payloads, page_range, cfg, roles=roles)]


def plain_text_output(payloads: list, sort: bool = False, hyphens: bool = False,
                      page_range=None, flatten_pdf: bool = False,
                      workers: Optional[int] = None,
                      roles: Optional[list] = None) -> str:
    """extraction.py:70-72 — pages joined with a newline."""
    return "\n".join(paginated_plain_text_output(
        payloads, sort=sort, hyphens=hyphens, page_range=page_range,
        roles=roles))


def dictionary_output(payloads: list, sort: bool = False, page_range=None,
                      keep_chars: bool = False, flatten_pdf: bool = False,
                      quote_loosebox: bool = True, disable_links: bool = False,
                      workers: Optional[int] = None,
                      roles: Optional[list] = None) -> list[dict]:
    """extraction.py:93-131 — nested page dicts with links/refs."""
    cfg = ExtractConfig(sort=sort, keep_chars=keep_chars,
                        quote_loosebox=quote_loosebox,
                        disable_links=disable_links, emit_tables=False)
    return [_reference_page(row["page"])
            for row in _run(payloads, page_range, cfg, roles=roles)]


def table_output(payloads: list, table_inputs: Optional[list] = None,
                 page_range=None, flatten_pdf: bool = False,
                 quote_loosebox: bool = True,
                 workers: Optional[int] = None) -> list[list]:
    """extraction.py:134-155 — table cells per page. Unlike the reference,
    table regions normally travel inside the payload (`tables`/`img_size`);
    an explicit `table_inputs` list (positional, one per page — J5) is
    honored when given."""
    cfg = ExtractConfig(quote_loosebox=quote_loosebox)
    if table_inputs is None:
        return [row["tables"] for row in _run(payloads, page_range, cfg)]
    if page_range is None:
        page_range = range(len(payloads))
    page_range = list(page_range)
    assert len(page_range) == len(table_inputs), \
        "Number of pages and table inputs must match"
    import json

    from pdftext_spark.core.payload import maybe_parse_payload_raw
    patched = []
    for i, ti in zip(page_range, table_inputs):
        obj = maybe_parse_payload_raw((payloads[i] or "").encode()) or {}
        obj["tables"] = ti["tables"]
        obj["img_size"] = ti["img_size"]
        patched.append(json.dumps(obj, ensure_ascii=False))
    return [row["tables"]
            for row in _run(patched, list(range(len(patched))), cfg)]


def parse_range_str(range_str: str) -> list[int]:
    """CLI page-range parser — '0,5-10,12' → sorted deduped list
    (scripts/extract_text.py:10-20, O2)."""
    parts = range_str.split(",")
    out: set[int] = set()
    for part in parts:
        if "-" in part:
            a, b = part.split("-")
            out.update(range(int(a), int(b) + 1))
        else:
            out.add(int(part))
    return sorted(out)
