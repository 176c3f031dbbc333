"""Tests of the benchmark itself; no Spark session is started.

    python -m pytest perfbench/tests -q
"""

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import corpus as corpora
from perfbench import kernel, run, sparklog, workloads
from perfbench.tracing import covered, self_time_by_name, self_times
from tests.oracle_naive import oracle_dictionary, oracle_plain

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_plain_and_match_the_spec():
    spec = _spec()
    for group in ("end_to_end", "per_layer", "workloads"):
        for m in spec[group]:
            assert NAME.fullmatch(m["name"]), m["name"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert all(NAME.fullmatch(k) for k in run.PER_LAYER)


def _span(sid, start, end, parent=None, name="s"):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "run": "r"}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0, name="pass"),
        _span(1, 1.0, 4.0, 0, name="a"),
        _span(2, 3.0, 5.0, 0, name="b"),      # overlaps a: union 1..5
        _span(3, 8.0, 12.0, 0, name="c"),     # clipped to the parent: 8..10
        _span(4, 1.5, 2.0, 1, name="a1"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)
    by = self_time_by_name(spans)
    assert by["pass"] == pytest.approx(4.0)
    assert covered([(0, 1), (2, 3), (2.5, 4)]) == pytest.approx(3.0)


def _small_corpus(tmp_path, monkeypatch, seed, sub):
    monkeypatch.setattr(corpora, "MIXED_TURNS", 60)
    monkeypatch.setattr(workloads, "SAMPLE_TURNS", 20)
    return corpora.load(str(tmp_path / sub), "mixed", seed)


def test_same_seed_gives_byte_identical_corpora(tmp_path, monkeypatch):
    a = _small_corpus(tmp_path, monkeypatch, 5, "a")
    b = _small_corpus(tmp_path, monkeypatch, 5, "b")
    c = _small_corpus(tmp_path, monkeypatch, 6, "c")
    for name in ("transcripts.parquet", "facts.json", "layout.json"):
        with open(os.path.join(os.path.dirname(a.path), name), "rb") as fa, \
                open(os.path.join(os.path.dirname(b.path), name), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(a.path, "rb") as fa, open(c.path, "rb") as fc:
        assert fa.read() != fc.read()
    assert a.n_turns == 60 and sum(a.layout["mix"].values()) == 60


def _true_plain_output(corpus):
    """What a correct plain_text() returns, built from the oracle."""
    rows = pq.read_table(corpus.path).to_pylist()
    keys, texts = [], []
    by_conv: dict = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    for conv, rs in by_conv.items():
        doc = [r for r in rs if r["role"] != "tool"]
        want = dict(zip([r["turn_idx"] for r in doc],
                        oracle_plain([r["text"] for r in doc],
                                     page_ids=[r["turn_idx"] for r in doc])))
        for r in rs:
            keys.append((conv, r["turn_idx"]))
            texts.append(corpus.html_facts[corpora.fact_key(conv, r["turn_idx"])]
                         if r["role"] == "tool" else want[r["turn_idx"]])
    return keys, texts


def _table(keys, texts):
    return pa.table({"conv_id": [k[0] for k in keys],
                     "turn_idx": [k[1] for k in keys], "text": texts})


def test_perturbed_plain_output_fails_the_check(tmp_path, monkeypatch):
    c = _small_corpus(tmp_path, monkeypatch, 5, "a")
    keys, texts = _true_plain_output(c)
    ok = workloads.check_plain(c, _table(keys, texts))
    assert ok.failed == 0 and ok.match_rate == 1.0 and ok.sampled > 0

    sampled = set(workloads.sample_rows(c))
    i = next(i for i, k in enumerate(keys) if k[0] in sampled)
    bad = list(texts)
    bad[i] = bad[i] + "x"
    res = workloads.check_plain(c, _table(keys, bad))
    assert res.failed == 1 and res.match_rate < 1.0 and res.diffs

    j = next(i for i, k in enumerate(keys) if k[0] not in sampled)
    res = workloads.check_plain(c, _table(keys[:j] + keys[j + 1:],
                                          texts[:j] + texts[j + 1:]))
    assert res.missing == 1 and res.failed == 1


def test_perturbed_struct_url_fails_the_check(tmp_path, monkeypatch):
    c = _small_corpus(tmp_path, monkeypatch, 5, "a")
    sample = workloads.sample_rows(c)
    got = {}
    for conv, rows in sample.items():
        doc = [r for r in rows if r["role"] != "tool"]
        pages = oracle_dictionary([r["text"] for r in doc],
                                  page_ids=[r["turn_idx"] for r in doc])
        for r, p in zip(doc, pages):
            got[(conv, r["turn_idx"])] = {"text": "", "is_html": False, "page": p}
        for r in rows:
            if r["role"] == "tool":
                got[(conv, r["turn_idx"])] = {
                    "text": c.html_facts[corpora.fact_key(conv, r["turn_idx"])],
                    "is_html": True, "page": None}
    keys = list(zip(*[pq.read_table(c.path).column(n).to_pylist()
                      for n in ("conv_id", "turn_idx")]))
    flat = pa.table({"conv_id": [k[0] for k in keys],
                     "turn_idx": [k[1] for k in keys],
                     "error": pa.nulls(len(keys), pa.string())})
    assert workloads.check_struct(c, flat, got, sample).failed == 0

    key = next(k for k, g in got.items()
               if g["page"] and workloads.span_texts_urls(g["page"]))
    span = got[key]["page"]["blocks"][0]["lines"][0]["spans"][0]
    span["url"] = "#page-999-0"
    res = workloads.check_struct(c, flat, got, sample)
    assert res.failed == 1 and res.match_rate < 1.0

    flat = flat.set_column(2, "error", pa.array(["boom"] + [None] * (len(keys) - 1)))
    assert workloads.check_struct(c, flat, got, sample).errors == 1


def test_event_log_metrics_attribute_by_plan_node_and_time():
    plan = {"nodeName": "MapInArrow", "simpleString": "MapInArrow run", "metrics": [
        {"name": "number of output rows", "accumulatorId": 1, "metricType": "sum"},
        {"name": "time to start Python workers", "accumulatorId": 2, "metricType": "timing"},
        {"name": "time to initialize Python workers", "accumulatorId": 3, "metricType": "timing"},
        {"name": "time to run Python workers", "accumulatorId": 4, "metricType": "timing"}],
        "children": [{"nodeName": "Exchange",
                      "simpleString": "Exchange hashpartitioning(conv_id#1, turn_idx#2, 8), REPARTITION_BY_NUM",
                      "metrics": [{"name": "shuffle records written", "accumulatorId": 5,
                                   "metricType": "sum"}],
                      "children": []}]}

    def task(launch, finish, rows, init):
        acc = [{"ID": 1, "Update": str(rows)}, {"ID": 3, "Update": str(init)},
               {"ID": 4, "Update": "100"}, {"ID": 5, "Update": str(rows)}]
        return {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Accumulables": acc}}

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "time": 1000, "sparkPlanInfo": plan},
        task(1100, 1300, 30, 50), task(1100, 1500, 10, 700),
        task(9000, 9100, 99, 0),  # outside the window
    ]
    p = sparklog.EventLog(events).window(0.9, 2.0)
    m = sparklog.pass_metrics(p, slots=2, max_records=20)
    assert m["tasks.count"] == 2 and m["salt.applied"] == 1
    assert m["arrow.batches"] == 3 and m["arrow.rows_per_batch"] == pytest.approx(40 / 3)
    assert m["tasks.max_s"] == pytest.approx(0.4)
    assert m["tasks.skew"] == pytest.approx(0.4 / 0.3)
    assert m["arrow.init_s"] == pytest.approx(0.75)
    # second task: 700 + 100 ms of Python time in a 400 ms task
    assert m["arrow.init_outside_task_s"] == pytest.approx(0.4)


def test_stage_order_compares_only_stages_that_ran():
    got = kernel.stage_order({"payload.decode_s": 2.0, "segment.s": 3.0,
                              "html_main.s": 1.0, "links.s": 0.0})
    assert got["observed"] == ["segment.s", "payload.decode_s", "html_main.s"]
    assert got["r6"] == ["payload.decode_s", "segment.s", "html_main.s"]
    assert got["agrees"] is False
