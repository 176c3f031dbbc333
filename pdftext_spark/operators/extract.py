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
- **Python boundary**: exactly one Arrow round-trip for the kernel
  (extract() caches it for the refs resolution); url/ref rewriting is a
  pure JVM-side columnar projection over the cache.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.schema import EXTRACTED

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


def _apply_salt(transcripts: DataFrame, cfg: ExtractConfig, spark) -> DataFrame:
    """Anti-skew salting of the kernel input, shared by every kernel
    entry point (extract and the plain-text operators). Salting defeats
    conversation-clustered inputs (an Iceberg table bucketed by conv_id
    would put a mega-conversation in one task). When the scan already
    yields byte-balanced fine-grained splits — file sources split by
    size, so compute ∝ bytes is balanced by construction — the extra
    full-payload shuffle buys nothing; skip it."""
    n_parts = cfg.partitions or spark.sparkContext.defaultParallelism * 2
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
            resolve_links: bool = True) -> DataFrame:
    """Run the extraction kernel over a transcript table.

    Input columns: (conv_id, turn_idx, role, text, tool, ts) — the
    BASELINE.json input_hint contract.

    With resolve_links (and links enabled), the X1 registry is built by
    refs.resolve_refs from ONE kernel pass, cached MEMORY_AND_DISK: the
    registry aggregates the tiny cached link_dests column (the columnar
    cache prunes the heavy page column from that scan) and the rewrite
    joins back against the same cache, so no payload is decoded twice.
    Its broadcast-safety gate counts the link registrations EAGERLY at
    call time (one Spark job, which also materializes the kernel cache
    the first consumer would have paid for anyway). At or below
    refs.DEFAULT_BROADCAST_THRESHOLD the one per-turn refs side table is
    broadcast-hinted; above it the same join runs unhinted and AQE picks
    broadcast or sort-merge. Callers that cannot cache the output run
    resolve_links=False, stage it, and call resolve_refs(persist=False)
    over the read-back (streaming/incremental.py)."""
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
        from pdftext_spark.operators.refs import resolve_refs
        out = resolve_refs(out)
    return out


def _text_operator(transcripts: DataFrame, cfg: ExtractConfig,
                   text_columns: list[str], render) -> DataFrame:
    """The shared body of the plain-text operators: one kernel pass over
    the salted (conv_id, turn_idx, role, text) projection, emitting
    (conv_id, turn_idx, *text_columns). render(rb) returns one per-row
    string list per text column."""
    import pyarrow as pa

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType(
        [T.StructField("conv_id", T.StringType()),
         T.StructField("turn_idx", T.IntegerType())]
        + [T.StructField(c, T.StringType()) for c in text_columns])
    target = to_arrow_schema(schema)

    def run(batches):
        for _, col, rb in _routed(batches, cfg):
            yield pa.RecordBatch.from_arrays(
                [col("conv_id"), col("turn_idx")]
                + [pa.array(texts, type=pa.string()) for texts in render(rb)],
                schema=target)

    pruned = transcripts.select("conv_id", "turn_idx", "role", "text")
    salted = _apply_salt(pruned, cfg, transcripts.sparkSession)
    return salted.mapInArrow(run, schema=schema)


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

    # sort/hyphens reset explicitly: the three output columns are
    # DEFINED as (default render, sorted, keep-hyphens) regardless of
    # the caller's flags — without the reset, cfg.sort=True would make
    # the `text` column silently equal text_sorted
    cfg = dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                              disable_links=True, emit_plain=True,
                              sort=False, hyphens=False)

    def render(rb):
        from pdftext_spark.core.assemble import plain_text_batch
        srt = hyp = []  # no doc turns without a segmentation
        if rb.seg is not None:
            srt = plain_text_batch(rb.seg, sort=True,
                                   sort_tolerance=cfg.sort_tolerance)
            hyp = plain_text_batch(rb.seg, hyphens=True)
        return [rb.row_texts(), rb.row_texts(srt), rb.row_texts(hyp)]

    return _text_operator(transcripts, cfg,
                          ["text", "text_sorted", "text_keephyphens"], render)


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

    cfg = dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                              disable_links=True, emit_plain=True)
    return _text_operator(transcripts, cfg, ["text"],
                          lambda rb: [rb.row_texts()])
