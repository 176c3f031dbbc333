"""Batch-level extraction API — the function the Spark layer maps over
Arrow batches, also directly callable in tests.

Routing per SURVEY.md §7.0: tool turns (``role='tool'``) carry HTML and go
through the boilerplate-strip/main-content scorer; everything else is a
char-stream payload (or plain prose, which degrades to a synthesized
monospace layout) and goes through the segmentation kernel.

There is one kernel path: `route_batch` reads an Arrow string column and
`core/arrow_out.py` assembles the output columns straight from the
segmentation offsets (no per-span Python dicts, no pandas→Arrow
conversion). Callers holding a Python list go through
`arrow_out.extract_rows`, which wraps the list in an Arrow array first.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.assemble import plain_text_batch
from pdftext_spark.core.html_main import extract_main_text
from pdftext_spark.core.links import merge_turn_links
from pdftext_spark.core.payload import (
    decode_turn,
    maybe_parse_payload_raw,
    prose_to_decoded,
)
from pdftext_spark.core.segment import Segmentation, segment_batch
from pdftext_spark.core.tables import table_cells_turn


@dataclass
class TurnOutput:
    """An HTML or error row's output; doc turns live in the Segmentation."""

    text: str                      # main-content text ("" on error)
    is_html: bool = False
    error: Optional[str] = None


@dataclass
class RoutedBatch:
    """Everything downstream assembly needs, independent of output shape."""

    n: int
    outputs: list                       # TurnOutput for html/error rows, None for doc rows
    doc_pos: list                       # batch row index per doc turn (local order)
    decoded: list                       # DecodedTurn per doc turn
    page_ids: list                      # turn_idx per doc turn
    seg: Optional[Segmentation]
    plains: list                        # plain text per doc turn
    splits_by_local: dict               # local turn -> {global span idx: [override]}
    tables_by_local: dict               # local turn -> list of tables
    regs_by_local: dict                 # local turn -> registrations
    char_counts: Optional[np.ndarray]
    span_counts: Optional[np.ndarray]

    def row_texts(self, plains: Optional[list] = None) -> list:
        """Text per batch row: an HTML/error row's `outputs[i].text`, a doc
        turn's render from `plains` (default: this batch's plain texts)."""
        if plains is None:
            plains = self.plains
        out = [None if o is None else o.text for o in self.outputs]
        for local, i in enumerate(self.doc_pos):
            out[i] = plains[local]
        return out


def _arrow_text_view(texts):
    """(raw_at, str_at) accessors over an Arrow string array.

    raw_at(i) is a ZERO-COPY memoryview of row i's UTF-8 bytes (None for
    nulls) — orjson parses it directly, skipping both the Arrow→str
    decode of the whole batch and orjson's internal str→UTF-8 re-encode
    (~45% of the scan-and-parse cost on a payload corpus). str_at(i)
    decodes a single row on demand for the HTML/prose minority paths;
    it produces exactly `to_pylist()[i]` (same UTF-8 decode). Anything
    but a string/large_string array (a Python list included) raises
    TypeError."""
    import pyarrow as pa

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    # the buffer walk below knows only the offsets+data layout; any other
    # encoding (string_view, dictionary, ...) would be misread silently
    typ = texts.type if isinstance(texts, pa.Array) else type(texts).__name__
    if not isinstance(texts, pa.Array) or not (
            pa.types.is_string(typ) or pa.types.is_large_string(typ)):
        raise TypeError(f"expected a string or large_string array, got {typ}")
    if pa.types.is_large_string(texts.type):
        odtype, owidth = np.int64, 8
    else:
        odtype, owidth = np.int32, 4
    bufs = texts.buffers()
    if bufs[1] is None:
        # the Arrow spec lets a length-0 array omit its offsets buffer
        # (an IPC'd empty batch can arrive this way)
        offs = np.zeros(1, dtype=odtype)
    else:
        offs = np.frombuffer(bufs[1], dtype=odtype, count=len(texts) + 1,
                             offset=texts.offset * owidth)
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    if texts.null_count:
        valid = ~texts.is_null().to_numpy(zero_copy_only=False)
    else:
        valid = None

    def raw_at(i):
        if valid is not None and not valid[i]:
            return None
        return data[offs[i]:offs[i + 1]]

    def str_at(i):
        raw = raw_at(i)
        return None if raw is None else str(raw, "utf-8")

    return raw_at, str_at


def release_zip_importers() -> None:
    """Drop every zipimporter from sys.path_importer_cache.

    pyspark calls importlib.invalidate_caches() before every task, and
    under CPython 3.11 each cached zipimporter then re-reads the central
    directory of its whole archive. A worker's sys.path starts with
    Spark's own archives (pyspark.zip, the py4j zip, the spark-core jar),
    so 16 importers re-read them on every task — 0.14-0.34 s a task,
    more than the kernel takes on a 250-row batch. Called once per kernel
    task, it leaves a reused worker's next invalidate_caches() nothing to
    reload. Safe because Spark never rewrites those archives while a
    worker lives, and a later import rebuilds its importer from
    zipimport's own directory cache without reading the archive again."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path, importer in list(cache.items()):
        if isinstance(importer, zipimport.zipimporter):
            cache.pop(path, None)


def route_batch(texts, roles: list, turn_idxs: list,
                cfg: ExtractConfig = ExtractConfig()) -> RoutedBatch:
    """Route and segment one batch. `texts` is a pyarrow (large_)string
    array (plain or chunked), read zero-copy; payload turns are parsed
    straight from its UTF-8 buffer."""
    n = len(texts)
    outputs: list[Optional[TurnOutput]] = [None] * n
    raw_at, str_at = _arrow_text_view(texts)

    doc_pos: list[int] = []
    decoded = []
    for i in range(n):
        if roles[i] == "tool":
            try:
                main = extract_main_text(str_at(i) or "")
            except Exception as exc:  # defensive: never kill the batch
                outputs[i] = TurnOutput(text="", is_html=True, error=repr(exc))
                continue
            outputs[i] = TurnOutput(text=main, is_html=True)
        else:
            try:
                obj = maybe_parse_payload_raw(raw_at(i))
                dt = (prose_to_decoded(str_at(i) or "") if obj is None
                      else decode_turn(obj, cfg.quote_loosebox))
            except Exception as exc:
                # A bad payload must not kill the whole Arrow batch at scale;
                # route it to the error/lineage channel instead.
                outputs[i] = TurnOutput(text="", error=repr(exc))
                continue
            doc_pos.append(i)
            decoded.append(dt)

    if not decoded:
        return RoutedBatch(n, outputs, doc_pos, decoded, [], None, [], {}, {},
                           {}, None, None)

    seg = segment_batch(
        decoded,
        superscript_height_threshold=cfg.superscript_height_threshold,
        line_distance_threshold=cfg.line_distance_threshold,
        tolerance_factor=cfg.block_tolerance_factor,
        with_scripts=cfg.emit_struct,
        default_median_gap=cfg.block_default_median_gap,
    )
    plains = plain_text_batch(seg, cfg.sort, cfg.hyphens,
                              sort_tolerance=cfg.sort_tolerance) \
        if cfg.emit_plain \
        else [""] * len(decoded)
    span_start_mask = _span_start_mask(seg) if cfg.emit_tables else None
    n_local = len(decoded)
    char_counts = np.bincount(seg.chars.turn_of, minlength=n_local)
    span_counts = np.bincount(seg.spans.turn, minlength=n_local)
    page_ids = [int(turn_idxs[i]) for i in doc_pos]

    splits_by_local: dict = {}
    regs_by_local: dict = {}
    tables_by_local: dict = {}
    for local, i in enumerate(doc_pos):
        dt = decoded[local]
        page_id = page_ids[local]
        if not cfg.disable_links and dt.links:
            res = merge_turn_links(seg, local, page_id, dt.links)
            if res is not None:
                if res.span_splits:
                    splits_by_local[local] = res.span_splits
                    if span_start_mask is not None:
                        for ovs in res.span_splits.values():
                            for ov in ovs:
                                span_start_mask[ov["start"]] = True
                if res.registrations:
                    regs_by_local[local] = res.registrations
        if cfg.emit_tables and dt.tables and dt.img_size:
            tables_by_local[local] = table_cells_turn(
                seg, local, dt.tables, dt.img_size, span_start_mask,
                table_thresh=cfg.table_thresh, space_thresh=cfg.space_thresh,
                min_chars=cfg.table_min_chars)

    return RoutedBatch(n, outputs, doc_pos, decoded, page_ids, seg, plains,
                       splits_by_local, tables_by_local, regs_by_local,
                       char_counts, span_counts)


def _span_start_mask(seg: Segmentation) -> np.ndarray:
    mask = np.zeros(len(seg.chars.cps), dtype=bool)
    mask[seg.spans.start] = True
    return mask
