"""Spark-level end-to-end tests: full extract() vs the oracle, determinism,
filters, and plan-shape assertions."""

import pytest
from pyspark.sql import functions as F

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.extract import extract, plain_text
from tests.oracle_naive import oracle_dictionary, oracle_plain
from tests.test_core_parity import deep_eq


def _spark_pages(rows):
    rows = list(rows)
    out = {}
    for r in rows:
        out[(r["conv_id"], r["turn_idx"])] = r
    return out


@pytest.fixture(scope="module")
def extracted_rows(spark, transcripts):
    df = extract(transcripts, ExtractConfig(keep_chars=True))
    return [r.asDict(recursive=True) for r in df.collect()]


def _oracle_for_conv(fixture_rows, cid, **kw):
    doc = [t for t in fixture_rows["convs"][cid] if t["role"] != "tool"]
    texts = [t["text"] for t in doc]
    ids = [t["turn_idx"] for t in doc]
    return {i: p for i, p in zip(ids, oracle_dictionary(texts, page_ids=ids, **kw))}


def _normalize_spark_page(page):
    """Spark page dicts → oracle shape: drop None chars arrays, drop the
    font-less char normalization mismatch (both sides drop char font)."""
    if page is None:
        return None
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                if sp.get("chars") is None:
                    sp.pop("chars", None)
    return page


def _normalize_oracle_page(page):
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                for c in sp.get("chars", []):
                    c.pop("font", None)
    return page


def test_row_count_preserved(spark, transcripts, extracted_rows):
    assert len(extracted_rows) == transcripts.count()


def test_spark_struct_parity(fixture_rows, extracted_rows):
    got = _spark_pages(extracted_rows)
    checked = 0
    for cid in fixture_rows["convs"]:
        exp = _oracle_for_conv(fixture_rows, cid, keep_chars=True)
        for tid, page in exp.items():
            g = got[(cid, tid)]
            assert g["error"] is None
            r = deep_eq(_normalize_spark_page(g["page"]), _normalize_oracle_page(page))
            assert r is None, f"{cid}/{tid}: {r}"
            checked += 1
    assert checked > 50


def test_spark_plain_parity(fixture_rows, extracted_rows):
    got = _spark_pages(extracted_rows)
    for cid, turns in fixture_rows["convs"].items():
        doc = [t for t in turns if t["role"] != "tool"]
        if not doc:
            continue
        exp = oracle_plain([t["text"] for t in doc],
                           page_ids=[t["turn_idx"] for t in doc])
        for t, e in zip(doc, exp):
            assert got[(cid, t["turn_idx"])]["text"] == e


def test_spark_html_turns(fixture_rows, extracted_rows):
    got = _spark_pages(extracted_rows)
    exp = {(h["conv_id"], h["turn_idx"]): h["main_text"] for h in fixture_rows["html"]}
    for key, main in exp.items():
        assert got[key]["is_html"] is True
        assert got[key]["text"] == main
        assert got[key]["page"] is None


def test_arrow_path_struct_parity(spark, transcripts, fixture_rows):
    """The mapInArrow fast path (keep_chars=False) must match the oracle
    exactly, including link urls, refs, sort-mode block order, and the
    chars column being null."""
    for sort in (False, True):
        df = extract(transcripts, ExtractConfig(sort=sort))
        got = _spark_pages(r.asDict(recursive=True) for r in df.collect())
        checked = 0
        for cid in fixture_rows["convs"]:
            exp = _oracle_for_conv(fixture_rows, cid, keep_chars=False, sort=sort)
            for tid, page in exp.items():
                g = got[(cid, tid)]
                assert g["error"] is None
                gp = g["page"]
                for blk in gp["blocks"]:
                    for ln in blk["lines"]:
                        for sp in ln["spans"]:
                            assert sp.pop("chars") is None
                r = deep_eq(gp, page)
                assert r is None, f"sort={sort} {cid}/{tid}: {r}"
                checked += 1
        assert checked > 50


def test_turn_range_filter(spark, transcripts):
    """P1 — turn_idx predicate must reach the parquet scan (pushdown) and
    subset exactly (analog tests/test_extraction.py:14-17)."""
    wanted = [0, 1, 3]
    df = transcripts.filter(F.col("turn_idx").isin(wanted))
    out = plain_text(df)
    got = out.select("turn_idx").distinct().collect()
    assert {r["turn_idx"] for r in got} <= set(wanted)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "turn_idx" in plan


def test_determinism(spark, transcripts):
    a = plain_text(transcripts).orderBy("conv_id", "turn_idx").collect()
    b = plain_text(transcripts).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_error_isolation(spark):
    """A turn with an illegal payload must produce an error row, not kill
    the job."""
    rows = [("c", 0, "user", '{"kind":"chars","page_bbox":[0,0,10,10],'
             '"rotation":45,"text":"a","bbox":[1,1,2,2]}', None, None),
            ("c", 1, "user", "plain prose", None, None)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string,"
                               " text string, tool string, ts timestamp")
    out = extract(df, resolve_links=False).orderBy("turn_idx").collect()
    assert out[0]["error"] is not None and "Rotation" in out[0]["error"]
    assert out[1]["error"] is None and out[1]["text"] == "plain prose"


def _plan_nodes(plan):
    """Every distinct physical node under `plan`, looking through AQE
    wrappers and query stages (but not into cached plans)."""
    seen, stack = {}, [plan]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(p.plan())
        elif p.id() not in seen:
            seen[p.id()] = p
            kids = p.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return list(seen.values())


def _output_names(p):
    out = p.output()
    return {out.apply(i).name() for i in range(out.size())}


def test_no_heavy_shuffle_after_kernel(spark, transcripts):
    """Plan shape: the payload and the nested page column shuffle exactly
    once (the salted repartition, inside the cached kernel output); refs
    resolution adds ONE broadcast join against that cache, and its own
    shuffles (at most two) carry registration data only."""
    df = extract(transcripts, ExtractConfig())
    refs_plan = _plan_nodes(df._jdf.queryExecution().executedPlan())

    scans = [p for p in refs_plan if p.nodeName() == "InMemoryTableScan"]
    kernel_shuffles = [p for s in scans
                       for p in _plan_nodes(s.relation().cachedPlan())
                       if p.nodeName() == "Exchange"]
    assert kernel_shuffles
    for p in kernel_shuffles:
        assert "hashpartitioning(conv_id" in p.simpleString(100)
        assert "REPARTITION_BY_NUM" in p.simpleString(100)

    joins = [p for p in refs_plan if "Join" in p.nodeName()]
    assert [j.nodeName() for j in joins] == ["BroadcastHashJoin"]
    assert joins[0].left().nodeName() == "InMemoryTableScan"
    assert joins[0].buildSide().toString() == "BuildRight"

    refs_shuffles = [p for p in refs_plan if p.nodeName() == "Exchange"]
    build_side = {p.id() for p in _plan_nodes(joins[0].right())}
    assert 1 <= len(refs_shuffles) <= 2
    for p in refs_shuffles:
        assert p.id() in build_side
        assert not {"text", "page", "tables"} & _output_names(p.child())


def test_refs_broadcast_fallback_parity(spark, transcripts):
    """broadcast_threshold=0 forces the no-hint (AQE / sort-merge) path on
    link-dense corpora; output must be byte-identical to the broadcast
    path, and the hint must actually be present/absent in the plan."""
    from pdftext_spark.operators.refs import resolve_refs
    ext = extract(transcripts, ExtractConfig(), resolve_links=False).persist()
    try:
        df_b = resolve_refs(ext, persist=False)
        df_f = resolve_refs(ext, persist=False, broadcast_threshold=0)
        assert "strategy=broadcast" in df_b._jdf.queryExecution().analyzed().toString()
        assert "strategy=broadcast" not in df_f._jdf.queryExecution().analyzed().toString()
        a = df_b.orderBy("conv_id", "turn_idx").collect()
        b = df_f.orderBy("conv_id", "turn_idx").collect()
        assert len(a) == len(b) > 0
        for ra, rb in zip(a, b):
            assert ra.asDict(recursive=True) == rb.asDict(recursive=True)
    finally:
        ext.unpersist()


def test_unknown_links_via_fails_loudly(spark, transcripts):
    """Any links_via other than "persist"/"prepass" used to run as
    "persist"; it must raise before a job runs."""
    with pytest.raises(ValueError, match="'persist' or 'prepass'"):
        extract(transcripts, ExtractConfig(), links_via="prepas")


def test_links_via_prepass_matches_persist(spark, transcripts):
    """The opt-in storage-constrained refs path (second filtered kernel
    pass) must produce byte-identical output to the default cached
    single-pass path."""
    cfg = ExtractConfig()
    a = extract(transcripts, cfg, links_via="persist") \
        .orderBy("conv_id", "turn_idx").collect()
    b = extract(transcripts, cfg, links_via="prepass") \
        .orderBy("conv_id", "turn_idx").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra.asDict(recursive=True) == rb.asDict(recursive=True)
