"""The extraction operator: transcripts DataFrame → extracted DataFrame.

Plan shape (SURVEY.md §3.1 "Spark lifecycle equivalent"):

    scan → repartition(hash(conv_id, turn_idx)) → mapInArrow(kernel) →
    [tiny refs aggregation ⨝ broadcast back] → sink

Scale notes (the parts that must survive 1000 executors / 100 TB):
- **Skew**: repartitioning on (conv_id, turn_idx) spreads a million-turn
  conversation across all tasks — the per-turn analog of the reference's
  contiguous page chunking (extraction.py:60-61). No conversation-level
  hotspot survives because no operator below needs whole-conversation
  locality for the heavy data.
- **One heavy shuffle total.** The X1 reference registry (the only
  cross-turn operator, SURVEY.md §2.9) is resolved on a projected
  side-table of link registrations — a few bytes per linked turn — and
  joined back with one broadcast join; the char payloads never shuffle
  again (operators/refs.py).
- **Python boundary**: exactly one Arrow round-trip for the kernel (the
  default links_via="persist" caches it); url/ref rewriting is a pure
  JVM-side columnar projection over the cache.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.schema import EXTRACTED

# sentinel: "use refs.DEFAULT_BROADCAST_THRESHOLD" (None means "no gate")
_USE_DEFAULT = object()

# Shuffle exchanges only — BroadcastExchange does NOT repartition the
# probe side, so a broadcast-join input still deserves the salt.
_SHUFFLE_EXCHANGE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning"
    r"|SinglePartition)")


def _has_shuffle_exchange(plan_text: str) -> bool:
    return _SHUFFLE_EXCHANGE.search(plan_text) is not None


def _routed(batches, cfg: ExtractConfig):
    """The shared preamble of every kernel closure: once per task, release
    the worker's zip importers (core.api.release_zip_importers); then
    yield (batch, col, rb) per Arrow batch, where col(name) is the named
    input column and rb is route_batch over it."""
    from pdftext_spark.core.api import release_zip_importers, route_batch
    release_zip_importers()
    for batch in batches:
        def col(name):
            return batch.column(batch.schema.get_field_index(name))
        yield batch, col, route_batch(col("text"), col("role").to_pylist(),
                                      col("turn_idx").to_pylist(), cfg)


def _arrow_kernel(cfg: ExtractConfig, target_schema):
    """mapInArrow fast path: RecordBatch in → RecordBatch out, nested
    arrays built straight from segmentation offsets (core/arrow_out.py)."""
    def run(batches):
        from pdftext_spark.core.arrow_out import assemble_record_batch
        for batch, _, rb in _routed(batches, cfg):
            yield assemble_record_batch(batch, rb, cfg, target_schema)
    return run


def link_registrations(transcripts: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """OPT-IN light pre-pass producing only (conv_id, turn_idx, link_dests)
    for link-bearing turns (extract(links_via="prepass")). The `'"links"'`
    substring filter is pushed into the parquet scan and selects a superset
    of link-bearing payloads (~20% of rows here), so the X1 registry never
    requires caching the heavy extraction output — at the price of decoding
    link-bearing payloads twice (~15% of the struct pipeline). The default
    path ("persist") runs the kernel once and caches it instead."""
    import dataclasses

    import pyarrow as pa

    from pyspark.sql import types as T

    light_cfg = dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                                    emit_plain=False)
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("link_dests", EXTRACTED["link_dests"].dataType),
    ])
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)

    def run(batches):
        from pdftext_spark.core.arrow_out import LINK_DEST_PA
        for _, col, rb in _routed(batches, light_cfg):
            dests = [[] for _ in range(rb.n)]
            for local, i in enumerate(rb.doc_pos):
                if local in rb.regs_by_local:
                    dests[i] = [
                        {"ord": r[0], "gid": r[1], "dest_page": r[2],
                         "x": r[3], "y": r[4]}
                        for r in rb.regs_by_local[local]]
            yield pa.RecordBatch.from_arrays(
                [col("conv_id"), col("turn_idx"),
                 pa.array(dests, type=LINK_DEST_PA)],
                schema=target)

    cand = (transcripts.select("conv_id", "turn_idx", "role", "text")
            .where(F.col("text").contains('"links"')
                   & ~F.col("role").eqNullSafe("tool")))
    # role filter: tool turns route to HTML extraction and can never
    # register links — without it, tool HTML containing the substring
    # "links" (class names, embedded JSON) would pay a full main-content
    # scoring pass for output this pre-pass discards
    return cand.mapInArrow(run, schema=schema)


def _apply_salt(transcripts: DataFrame, cfg: ExtractConfig, spark) -> DataFrame:
    """Anti-skew salting of the kernel input, shared by every kernel
    entry point (extract, plain_text_variants). Salting defeats
    conversation-clustered inputs (an Iceberg table bucketed by conv_id
    would put a mega-conversation in one task). When the scan already
    yields byte-balanced fine-grained splits — file sources split by
    size, so compute ∝ bytes is balanced by construction — the extra
    full-payload shuffle buys nothing; skip it."""
    if cfg.salt not in ("auto", "always", "never"):
        raise ValueError("ExtractConfig.salt must be 'auto', 'always' or "
                         f"'never', got {cfg.salt!r}")
    n_parts = cfg.partitions or spark.sparkContext.defaultParallelism * 2
    if cfg.salt == "never":
        return transcripts
    if cfg.salt == "always":
        return transcripts.repartition(n_parts, "conv_id", "turn_idx")
    if _has_shuffle_exchange(
            transcripts._jdf.queryExecution().executedPlan().toString()):
        # The input already contains a shuffle (join/aggregate upstream):
        # its output partitioning is shuffle-partition-wide, so the salt
        # buys nothing — and probing toRdd() below would EXECUTE those
        # upstream stages under AQE (AdaptiveSparkPlanExec.doExecute
        # materializes query stages), doing the heavy work twice.
        # executedPlan is the post-EnsureRequirements compile: printing it
        # runs no job (isFinalPlan=false), and unlike sparkPlan it
        # actually CONTAINS the requirement-inserted exchanges —
        # sparkPlan shows none, so probing it missed every join/agg
        # upstream. BroadcastExchange is deliberately not matched: a
        # broadcast join leaves the probe side's partitioning untouched,
        # so such inputs still deserve the salt (and their toRdd() probe
        # below only materializes the small build side).
        return transcripts
    # Pure scan pipeline: JVM-side internal-RDD partition count builds
    # the physical plan once (cached on queryExecution) without the
    # Python-conversion mapPartitions that df.rdd would bolt on. No
    # job runs for a scan (no adaptive stages to materialize).
    n_input = transcripts._jdf.queryExecution().toRdd().getNumPartitions()
    return (transcripts if n_input >= n_parts
            else transcripts.repartition(n_parts, "conv_id", "turn_idx"))


def extract(transcripts: DataFrame, cfg: ExtractConfig = ExtractConfig(),
            resolve_links: bool = True, links_via: str = "persist",
            broadcast_threshold: "int | None | object" = _USE_DEFAULT) -> DataFrame:
    """Run the extraction kernel over a transcript table.

    Input columns: (conv_id, turn_idx, role, text, tool, ts) — the
    BASELINE.json input_hint contract.

    links_via chooses how the X1 registry gets its link_dests side data:
    - "persist" (default): ONE kernel pass, cached MEMORY_AND_DISK; the
      registry aggregates the tiny cached link_dests column (columnar
      cache prunes the heavy page column from that scan) and the rewrite
      joins back against the same cache. The right trade on anything with
      working storage — no payload is ever decoded twice.
    - "prepass": no caching; a second, filtered light kernel pass over the
      `'"links"'` superset supplies registrations (link_registrations).
      For pipelines where caching the extracted output is off the table
      and a ~15% decode tax is cheaper than the storage.

    broadcast_threshold passes through to refs.resolve_refs: the default
    gate counts link registrations EAGERLY at call time (one Spark job;
    in persist mode it also materializes the kernel cache the first
    consumer would have paid for anyway). At or below the threshold the
    one per-turn refs side table is broadcast-hinted; above it the same
    join runs unhinted and AQE picks broadcast or sort-merge. Pass None
    for a fully lazy plan with an unconditionally hinted broadcast —
    appropriate when composing plans for explain()/inspection or when
    the corpus is known not to be link-dense."""
    if links_via not in ("persist", "prepass"):
        raise ValueError("links_via must be 'persist' or 'prepass', "
                         f"got {links_via!r}")
    spark = transcripts.sparkSession
    # Catalyst cannot prune columns INTO the Python kernel, so project the
    # kernel's contract explicitly — extra input columns (e.g. `tool`)
    # would otherwise be scanned and, worse, shuffled by the salt.
    transcripts = transcripts.select("conv_id", "turn_idx", "role", "text", "ts")
    salted = _apply_salt(transcripts, cfg, spark)
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(EXTRACTED)
    out = salted.mapInArrow(_arrow_kernel(cfg, target), schema=EXTRACTED)
    if resolve_links and not cfg.disable_links:
        from pdftext_spark.operators.refs import (
            DEFAULT_BROADCAST_THRESHOLD,
            resolve_refs,
        )
        thr = (DEFAULT_BROADCAST_THRESHOLD
               if broadcast_threshold is _USE_DEFAULT else broadcast_threshold)
        if links_via == "prepass":
            regs = link_registrations(transcripts, cfg)
            out = resolve_refs(out, registrations=regs,
                               broadcast_threshold=thr)
        else:
            out = resolve_refs(out, persist=True, broadcast_threshold=thr)
    return out


def plain_text_variants(transcripts: DataFrame,
                        cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """All three plain-text render modes from ONE kernel pass:
    (conv_id, turn_idx, text, text_sorted, text_keephyphens).

    The expensive work — payload decode + char→word→span→line→block
    segmentation — is shared; the three renders (default, O1
    reading-order sort, F5 keep-hyphens — reference
    postprocessing.py:76-92 and :31-53) are cheap per-turn string
    assemblies over the same Segmentation. One gate row thus verifies
    three SURVEY §2 behaviors (F7, O1, F5) at the cost of one, and a
    production export wanting several render flavors pays one decode.
    HTML/tool turns have no layout, so all three columns agree there."""
    import dataclasses

    import pyarrow as pa

    from pyspark.sql import types as T

    # sort/hyphens reset explicitly: the three output columns are
    # DEFINED as (default render, sorted, keep-hyphens) regardless of
    # the caller's flags — without the reset, cfg.sort=True would make
    # the `text` column silently equal text_sorted
    cfg = dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                              disable_links=True, emit_plain=True,
                              sort=False, hyphens=False)
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("text_sorted", T.StringType()),
        T.StructField("text_keephyphens", T.StringType()),
    ])
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)

    def run(batches):
        from pdftext_spark.core.assemble import plain_text_batch
        for _, col, rb in _routed(batches, cfg):
            plain: list = [None] * rb.n
            srt: list = [None] * rb.n
            hyp: list = [None] * rb.n
            for i, o in enumerate(rb.outputs):
                if o is not None:
                    plain[i] = srt[i] = hyp[i] = o.text
            if rb.seg is not None:
                srt_l = plain_text_batch(rb.seg, sort=True,
                                         sort_tolerance=cfg.sort_tolerance)
                hyp_l = plain_text_batch(rb.seg, hyphens=True)
                for local, i in enumerate(rb.doc_pos):
                    plain[i] = rb.plains[local]
                    srt[i] = srt_l[local]
                    hyp[i] = hyp_l[local]
            yield pa.RecordBatch.from_arrays(
                [col("conv_id"), col("turn_idx"),
                 pa.array(plain, type=pa.string()),
                 pa.array(srt, type=pa.string()),
                 pa.array(hyp, type=pa.string())],
                schema=target)

    pruned = transcripts.select("conv_id", "turn_idx", "role", "text")
    salted = _apply_salt(pruned, cfg, transcripts.sparkSession)
    return salted.mapInArrow(run, schema=schema)


def plain_text(transcripts: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """Flagship projection: (conv_id, turn_idx, text) — the
    paginated_plain_text_output analog (extraction.py:75-80). The kernel
    skips nested page/table assembly (emit_struct/emit_tables off) — the
    Python-side analog of the column pruning Catalyst applies outside
    the UDF — and emits ONLY the three output columns: the old
    full-EXTRACTED assembly built null pages, empty table/dest arrays,
    and count columns per row just for a downstream select to drop
    them, paying per-row Arrow work on both sides of the boundary."""
    import dataclasses

    import pyarrow as pa

    from pyspark.sql import types as T

    cfg = dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                              disable_links=True, emit_plain=True)
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)

    def run(batches):
        for _, col, rb in _routed(batches, cfg):
            out: list = [None] * rb.n
            for i, o in enumerate(rb.outputs):
                if o is not None:
                    out[i] = o.text
            for local, i in enumerate(rb.doc_pos):
                out[i] = rb.plains[local]
            yield pa.RecordBatch.from_arrays(
                [col("conv_id"), col("turn_idx"),
                 pa.array(out, type=pa.string())],
                schema=target)

    pruned = transcripts.select("conv_id", "turn_idx", "role", "text")
    salted = _apply_salt(pruned, cfg, transcripts.sparkSession)
    return salted.mapInArrow(run, schema=schema)
