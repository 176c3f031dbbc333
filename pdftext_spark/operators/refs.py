"""X1 — per-conversation link-reference resolution (SURVEY.md §2.9).

The reference keeps a PageReference registry that grows across the pages
of one document (schema.py:205-225, pdf/links.py:224-231). Per-turn
extraction emits (a) integer-only placeholder urls `#goto|turn|gid`
inside spans and (b) a tiny `link_dests` side column. This operator is
**100 % JVM-side**, over a table whose size is O(#links), not O(#chars):

1. one aggregation per (conv_id, dest_page) collects that page's
   registrations in arrival order (turn_idx, ord); the registry is the
   `array_distinct` of their coordinates (first arrival wins) and a
   registration's idx is its coordinate's position in it;
2. one group-by on (conv_id, turn_idx) folds the per-source-turn url
   entries (placeholder → `#page-<dest>-<idx>`) and the per-target-turn
   refs arrays into ONE side table;
3. ONE left join brings the side table to the heavy page column, and a
   nested `transform` projection rewrites span urls and attaches refs —
   no second Arrow round-trip for the heavy column (which also dodges a
   pyarrow segfault on arrow→pandas for this depth of nesting). The
   projection is one SQL expression, so building the plan costs a few
   py4j calls rather than one per nested field reference.

At 10^12 turns the registry is usually millions of rows — small enough
to broadcast — but on link-dense corpora the side table is O(linked
turns) and a hard-forced broadcast would OOM the driver instead of
degrading. `resolve_refs` therefore counts the registrations (a
column-pruned scan of the tiny `link_dests` column) and drops the
`F.broadcast` hint above `broadcast_threshold`, letting AQE pick a
broadcast or sort-merge join on (conv_id, turn_idx) at runtime. Either
way the heavy page column meets exactly one join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftext_spark.operators.schema import PAGE


# One side row per registration (its source turn's url entry) plus one per
# dest page (the target turn's refs), so one group-by builds both.
_SIDE_ROWS = """inline(concat(
  transform(regs, r -> named_struct(
    'turn_idx', r.turn_idx,
    'entry', named_struct(
      'k', concat('#goto|', CAST(r.turn_idx AS STRING), '|', CAST(r.gid AS STRING)),
      'v', concat('#page-', CAST(dest_page AS STRING), '-',
                  CAST(array_position(coords, named_struct('x', r.x, 'y', r.y)) - 1
                       AS STRING))),
    'page_refs', CAST(NULL AS ARRAY<STRUCT<idx: INT, x: DOUBLE, y: DOUBLE>>))),
  array(named_struct(
    'turn_idx', dest_page,
    'entry', CAST(NULL AS STRUCT<k: STRING, v: STRING>),
    'page_refs', transform(coords, (c, i) -> named_struct('idx', i, 'x', c.x, 'y', c.y))))))"""

# rewrite_page_urls (core/links.py) as a projection: span urls through the
# turn's url_map, refs from its page_refs; a turn the registry never
# touches keeps its blocks and refs as they are.
_NEW_PAGE = f"""CAST(CASE WHEN page IS NOT NULL THEN named_struct(
  'page', page.page, 'bbox', page.bbox, 'width', page.width,
  'height', page.height, 'rotation', page.rotation,
  'blocks', CASE WHEN size(url_map) > 0 THEN transform(page.blocks, b -> named_struct(
    'bbox', b.bbox,
    'lines', transform(b.lines, ln -> named_struct(
      'bbox', ln.bbox,
      'spans', transform(ln.spans, s -> named_struct(
        'bbox', s.bbox, 'text', s.text, 'font', s.font,
        'char_start_idx', s.char_start_idx, 'char_end_idx', s.char_end_idx,
        'rotation', s.rotation,
        'url', coalesce(element_at(url_map, s.url), s.url),
        'superscript', s.superscript, 'subscript', s.subscript,
        'chars', s.chars))))))
    ELSE page.blocks END,
  'refs', CASE WHEN page_refs IS NOT NULL THEN transform(page_refs, r -> named_struct(
    'idx', r.idx, 'page', page.page, 'coord', array(r.x, r.y),
    'ref', concat('page-', CAST(page.page AS STRING), '-', CAST(r.idx AS STRING)),
    'url', concat('#page-', CAST(page.page AS STRING), '-', CAST(r.idx AS STRING))))
    ELSE page.refs END) END AS {PAGE.simpleString()}) AS page"""


def _side_table(reg_source: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, url_map, page_refs): each turn's placeholder →
    final-url map (empty when it registered nothing) and the refs pointing
    at it (null when nothing does)."""
    return (reg_source.where("size(link_dests) > 0")
            .selectExpr("conv_id", "turn_idx", "inline(link_dests)")
            # per (conv_id, dest_page): `regs` in processing order (turn_idx,
            # ord) — the add_ref order of schema.py:212-225 — and the registry
            # `coords`, first arrival wins. array_distinct and array_position
            # compare structs with SQL ordering, so -0.0 and 0.0 are one
            # coordinate, as under the oracle's tuple `==`.
            .groupBy("conv_id", "dest_page")
            .agg(F.expr("array_sort(collect_list(struct(turn_idx, ord, gid, x, y)))"
                        " AS regs"))
            .selectExpr("conv_id", "dest_page", "regs",
                        "array_distinct(transform(regs, r -> "
                        "named_struct('x', r.x, 'y', r.y))) AS coords")
            .selectExpr("conv_id", _SIDE_ROWS)
            # a gid registered twice in one turn yields its entry twice; the
            # set keeps map_from_entries clear of duplicate keys
            .groupBy("conv_id", "turn_idx")
            .agg(F.expr("map_from_entries(collect_set(entry)) AS url_map"),
                 F.expr("first(page_refs, true) AS page_refs")))


# Above this many registrations the side table stops being "obviously
# driver-safe" (rule of thumb: ~100 bytes/row -> ~500 MB at 5e6, within
# spark.sql.autoBroadcastJoinThreshold territory but not a forced-broadcast
# bet). AQE decides from real runtime sizes beyond it.
DEFAULT_BROADCAST_THRESHOLD = 5_000_000


def resolve_refs(extracted: DataFrame, persist: bool = True,
                 registrations: DataFrame | None = None,
                 broadcast_threshold: int | None = DEFAULT_BROADCAST_THRESHOLD,
                 ) -> DataFrame:
    # The registry needs the link_dests side data. Three supply modes:
    # 1. `registrations` given (operators/extract.py's light pre-pass over
    #    only link-bearing turns) — the heavy output is consumed exactly
    #    once; the small registrations frame is persisted since the
    #    registry build + size gate read it twice;
    # 2. persist=True — registry aggregated from `extracted` itself, which
    #    is persisted so the kernel doesn't re-run per consumer (tests,
    #    ad-hoc use);
    # 3. persist=False — caller already materialized `extracted` to storage
    #    (streaming/incremental.py's staged read-back).
    persisted: list[DataFrame] = []
    if registrations is not None:
        reg_source = registrations.persist()
        persisted.append(reg_source)
    else:
        if persist:
            extracted = extracted.persist()
            persisted.append(extracted)
        reg_source = extracted

    # Broadcast size gate (VERDICT r2): a hard-forced broadcast on a
    # link-dense corpus OOMs the driver instead of degrading. The
    # registration count is a column-pruned scan of the tiny link_dests
    # column — cheap against the already-persisted/staged reg_source
    # (measured ~0.2 s on the 110k-turn tier, interleaved best-of-5).
    do_broadcast = True
    if broadcast_threshold is not None:
        n_regs = (reg_source.select(F.coalesce(F.size("link_dests"), F.lit(0))
                                    .alias("n"))
                  .agg(F.sum("n")).collect()[0][0] or 0)
        do_broadcast = n_regs <= broadcast_threshold

    side = _side_table(reg_source)
    out = extracted.join(F.broadcast(side) if do_broadcast else side,
                         on=["conv_id", "turn_idx"], how="left")

    result = out.selectExpr(*[_NEW_PAGE if c == "page" else f"`{c}`"
                              for c in extracted.columns])
    # handle for cache-eviction seams (queries.unpersist_tier /
    # release_persisted below): the persist above is internal, so callers
    # need this to release storage memory
    result._pdftext_persisted = persisted
    return result


def release_persisted(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist whatever resolve_refs persisted to build `df` — the
    release seam for per-batch callers (notably extract(...,
    links_via='prepass'), which persists a registrations frame per call;
    a long-running service calls this after consuming each batch or its
    storage memory grows without bound). Safe to call at any time: the
    plan stays valid and recomputes if re-executed."""
    n = 0
    for f in getattr(df, "_pdftext_persisted", []):
        try:
            f.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n
