"""Kernel replay: the extraction kernel's stages timed from outside.

The workload's input is cut into Arrow batches of the row counts Spark
handed the kernel, and `core.api.route_batch` (plus
`arrow_out.assemble_record_batch` for the struct output) runs over each of
them in this process twice, back to back: as it is (only route_batch and
assembly are timed), and with the public stage functions that
`route_batch` calls swapped, at their module-level names, for wrappers
that record a span and a work count per call. The orchestration itself
runs unchanged.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext

import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.core import api, arrow_out
from perfbench.tracing import Tracer, self_time_by_name

# route_batch's stage functions, looked up in core.api's namespace
API_STAGES = ("maybe_parse_payload_raw", "decode_turn", "prose_to_decoded",
              "extract_main_text", "segment_batch", "plain_text_batch",
              "merge_turn_links", "table_cells_turn")

# layer metric -> stages whose self time it sums
LAYER_STAGES = {
    "payload.decode_s": ("maybe_parse_payload_raw", "decode_turn",
                         "prose_to_decoded"),
    "segment.s": ("segment_batch",),
    "assemble.plain_s": ("plain_text_batch",),
    "html_main.s": ("extract_main_text",),
    "links.s": ("merge_turn_links",),
    "tables.s": ("table_cells_turn",),
    "arrow_out.s": ("assemble_record_batch",),
}

REPS = 5  # rounds of plain + wrapped replay

# stage order of the hand-built r6 table (OPTIMIZATION_r06.md), slowest first
R6_ORDER = ("payload.decode_s", "segment.s", "html_main.s", "links.s",
            "tables.s")


def _count(counts: dict, name: str, n: float = 1) -> None:
    counts[name] = counts.get(name, 0) + n


def _observe(name: str, args: tuple, result, counts: dict) -> None:
    """Work counts for one stage call, taken outside its span."""
    if name == "decode_turn":
        _count(counts, "payload.turns")
    elif name == "prose_to_decoded":
        _count(counts, "payload.turns")
        _count(counts, "payload.prose_turns")
    elif name == "extract_main_text":
        _count(counts, "html_main.turns")
        _count(counts, "html_main.bytes", len(args[0].encode("utf-8")))
    elif name == "segment_batch":
        _count(counts, "segment.chars_in", sum(len(d.text) for d in args[0]))
        _count(counts, "segment.chars_kept", len(result.chars.cps))
        _count(counts, "segment.spans", len(result.spans.start))
        _count(counts, "segment.blocks", len(result.blocks.turn))
    elif name == "merge_turn_links" and result is not None:
        _count(counts, "links.registrations", len(result.registrations))
    elif name == "table_cells_turn":
        _count(counts, "tables.cells", sum(len(t) for t in result))
    elif name == "assemble_record_batch":
        _count(counts, "arrow_out.bytes", result.nbytes)


@contextmanager
def wrapped_stages(tracer: Tracer, counts: dict):
    """Swap every stage function for a span-recording wrapper; restore on
    exit."""
    patched = [(api, n) for n in API_STAGES] + \
        [(arrow_out, "assemble_record_batch")]
    originals = [(mod, n, getattr(mod, n)) for mod, n in patched]

    def wrap(name, fn):
        def stage(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            _observe(name, args, result, counts)
            return result
        return stage

    for mod, n, fn in originals:
        setattr(mod, n, wrap(n, fn))
    try:
        yield
    finally:
        for mod, n, fn in originals:
            setattr(mod, n, fn)


def input_batches(path: str, columns: list, batch_rows: list) -> list:
    """The corpus cut into consecutive batches of the given row counts."""
    table = pq.read_table(path, columns=columns).combine_chunks()
    out, at = [], 0
    for n in batch_rows:
        out.extend(table.slice(at, n).to_batches())
        at += n
    if at < table.num_rows:
        out.extend(table.slice(at).to_batches())
    return out


def _one(batch, cfg, target_schema, tracer: Tracer | None):
    """(route_batch seconds, assembly seconds) for one batch."""
    text = batch.column(batch.schema.get_field_index("text"))
    roles = batch.column(batch.schema.get_field_index("role")).to_pylist()
    tids = batch.column(batch.schema.get_field_index("turn_idx")).to_pylist()
    with (tracer.span("kernel_batch", rows=batch.num_rows) if tracer
          else nullcontext()):
        t0 = time.perf_counter()
        with tracer.span("route_batch") if tracer else nullcontext():
            rb = api.route_batch(text, roles, tids, cfg)
        t1 = time.perf_counter()
        if target_schema is not None:
            arrow_out.assemble_record_batch(batch, rb, cfg, target_schema)
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1


def replay(batches: list, cfg, target_schema: pa.Schema | None,
           tracer: Tracer, reps: int = REPS) -> dict:
    """Per-layer kernel metrics over `batches` (target_schema set: the
    struct assembly runs too). Each batch runs as it is and then wrapped,
    back to back, so host noise lands on both sides alike; each figure is
    the median over `reps` rounds."""
    _one(batches[0], cfg, target_schema, None)  # first-call imports
    rounds = []
    for _ in range(reps):
        counts: dict = {}
        route_s = assemble_s = 0.0
        first = len(tracer.spans)
        for batch in batches:
            r, a = _one(batch, cfg, target_schema, None)
            route_s += r
            assemble_s += a
            with wrapped_stages(tracer, counts):
                _one(batch, cfg, target_schema, tracer)
        by_name = self_time_by_name(tracer.spans[first:])
        stages = {k: sum(by_name.get(s, 0.0) for s in names)
                  for k, names in LAYER_STAGES.items()}
        rounds.append((stages, route_s, route_s + assemble_s))
    out = {k: statistics.median(r[0][k] for r in rounds) for k in LAYER_STAGES}
    kept = counts.pop("segment.chars_kept", 0)
    out.update(counts)
    chars_in = counts.get("segment.chars_in", 0)
    out.update({
        "segment.dedup_kept_frac": kept / chars_in if chars_in else 0.0,
        "route_batch.s": statistics.median(r[1] for r in rounds),
        "kernel.coverage": statistics.median(
            sum(r[0].values()) / r[2] for r in rounds),
    })
    return out


def stage_order(metrics: dict) -> dict:
    """Observed order of the r6 stages that did work, against the r6 order
    restricted to the same stages."""
    ran = [k for k in R6_ORDER if metrics.get(k, 0.0) > 0.0]
    observed = sorted(ran, key=lambda k: -metrics[k])
    return {"observed": observed, "r6": ran, "agrees": observed == ran,
            "seconds": {k: metrics[k] for k in observed}}
