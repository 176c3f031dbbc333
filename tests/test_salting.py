"""Skew handling: the anti-skew salt engages exactly when it should."""

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.extract import extract


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_salt_engages_for_coarse_input(spark, transcripts):
    """A conversation-clustered single-partition source must be
    repartitioned on (conv_id, turn_idx) before the kernel."""
    coarse = transcripts.coalesce(1)
    plan = _plan(extract(coarse, ExtractConfig(), resolve_links=False))
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning(conv_id" in plan


def test_salt_skipped_for_fine_input(spark, transcripts):
    """Byte-balanced fine-grained scans skip the full-payload shuffle."""
    fine = transcripts.repartition(64)  # already finer than 2x parallelism
    plan = _plan(extract(fine, ExtractConfig(), resolve_links=False))
    # only the caller's own round-robin repartition appears; no additional
    # hash repartition on (conv_id, turn_idx) feeds the kernel
    assert "hashpartitioning(conv_id, turn_idx" not in plan.replace("#", " ") \
        or plan.count("REPARTITION_BY_NUM") == 1


def test_skew_report_multi_key(spark):
    """Multi-column keys survive the projection (ADVICE r5: the old
    comma-joined selectExpr argument only parsed single-column keys)."""
    from pdftext_spark.operators.skew import recommended_salt, skew_report
    df = spark.createDataFrame(
        [("c1", "u1", 1), ("c1", "u1", 2), ("c1", "u1", 3), ("c2", "u2", 4)],
        "conv_id string, user_id string, v int")
    rows = skew_report(df, ["conv_id", "user_id"], 8).collect()
    assert [(r["conv_id"], r["user_id"], r["n_rows"]) for r in rows] == [
        ("c1", "u1", 3), ("c2", "u2", 1)]
    assert rows[0]["salt_k"] == 6  # ceil(3/4 * 8)
    assert recommended_salt(df, ["conv_id", "user_id"], 8) == 6


def test_salted_repartition_default_spread_prefers_narrow(spark):
    """The default spread set hashes cheap narrow columns, not the text
    payload (ADVICE r5: full-payload xxhash64 in the exchange, and
    exact-duplicate bot rows defeating the salt)."""
    from pdftext_spark.operators.skew import salted_repartition
    df = spark.createDataFrame(
        [("u1", "long text " * 10, 7)], "user_id string, body string, ts long")
    plan = salted_repartition(df, ["user_id"], 4, 8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64(ts" in plan and "body" not in plan.split("xxhash64", 1)[1].split(")")[0]
