"""Resume + metrics tests (FIXTURES.md §4 assertions 7-8)."""

import os

from pyspark.sql import functions as F

from pdftext_spark.config import ExtractConfig
from pdftext_spark.metrics import corpus_metrics, partition_metrics
from pdftext_spark.operators.extract import extract
from pdftext_spark.operators.schema import EXTRACTED
from pdftext_spark.streaming.incremental import (
    read_manifest,
    read_output,
    run_incremental,
)


def _collect_sorted(df):
    """(conv_id, turn_idx, JSON of every EXTRACTED column) per row, so a
    resumed run must equal the one-shot run byte for byte."""
    return sorted(
        tuple(r) for r in df.select(
            "conv_id", "turn_idx",
            F.to_json(F.struct(*EXTRACTED.names))).collect())


def test_resume_equals_clean_run(spark, transcripts, fixture_dir, tmp_path):
    cfg = ExtractConfig(resume_buckets=8)
    inp = os.path.join(fixture_dir, "transcripts.parquet")

    # clean single-shot reference
    clean = extract(spark.read.parquet(inp), cfg)
    expected = _collect_sorted(clean)

    # interrupted run: 3 buckets, then resume to completion
    out_dir = str(tmp_path / "out")
    m1 = run_incremental(spark, inp, out_dir, cfg, max_buckets_per_run=3)
    assert len(m1["completed_buckets"]) == 3
    partial = _collect_sorted(read_output(spark, out_dir))
    assert 0 < len(partial) < len(expected)

    # mid-job: the staging copy must survive (resume re-reads it) and the
    # session conf must already be back to the caller's overwrite mode
    assert os.path.isdir(os.path.join(out_dir, "staging"))
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static") != "dynamic"

    m2 = run_incremental(spark, inp, out_dir, cfg)
    assert len(m2["completed_buckets"]) == 8
    final_df = read_output(spark, out_dir)
    final = _collect_sorted(final_df)
    assert final == expected
    # completion: the phase-1 staging copy (a full second corpus at the
    # 100 TB design point) is deleted
    assert not os.path.exists(os.path.join(out_dir, "staging"))

    # ref resolution happened in the read-back phase: final output has
    # resolved urls and no placeholders
    pages = [r["page"] for r in final_df.collect() if r["page"]]
    urls = [s["url"] for p in pages for b in p["blocks"]
            for l in b["lines"] for s in l["spans"] if s["url"]]
    assert not any(u.startswith("#goto|") for u in urls)
    assert any(u.startswith("#page-") for u in urls)
    assert any(p["refs"] for p in pages)

    # idempotence: another run is a no-op
    m3 = run_incremental(spark, inp, out_dir, cfg)
    assert m3["runs"] == m2["runs"]
    assert _collect_sorted(read_output(spark, out_dir)) == expected
    assert read_manifest(out_dir)["completed_buckets"] == list(range(8))


def test_metrics_consistency(spark, transcripts):
    ext = extract(transcripts, ExtractConfig(), resolve_links=False).persist()
    per_part = partition_metrics(ext).collect()
    total = corpus_metrics(ext).collect()[0]
    assert sum(r["n_turns"] for r in per_part) == total["n_turns"]
    assert sum(r["n_chars"] for r in per_part) == total["n_chars"]
    assert total["n_turns"] == transcripts.count()
    assert total["n_error_turns"] == 0
    ext.unpersist()


def test_bucket_partition_pruning(spark, fixture_dir, tmp_path):
    """The bucket-partitioned sink must partition-prune: a single-bucket
    read shows the bucket predicate under PartitionFilters (pruned at
    planning, never scanned) — at 100 TB this is what makes per-bucket
    reprocessing and downstream bucket-local reads O(bucket), not
    O(corpus)."""
    cfg = ExtractConfig(resume_buckets=4)
    inp = os.path.join(fixture_dir, "transcripts.parquet")
    out_dir = str(tmp_path / "out")
    run_incremental(spark, inp, out_dir, cfg)
    one = read_output(spark, out_dir).where("bucket = 2")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:120]
    # the pushed partition filter must not survive as a post-scan Filter
    assert one.count() > 0
    total = read_output(spark, out_dir).count()
    assert one.count() < total
