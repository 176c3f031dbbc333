"""The benchmark's workloads: one timed pass each, plus its output check.

Each pass calls a public extraction entry point on the corpus parquet and
drives the result into Spark's `noop` sink (or, for the incremental probe,
into its own output directory). Correctness is checked outside the timed
passes, on a deterministic conversation sample, against the independent
naive oracle (`tests/oracle_naive.py`) for document turns and against the
generator's known main text for tool (HTML) turns.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.extract import extract, plain_text
from pdftext_spark.operators.schema import EXTRACTED
from pdftext_spark.streaming.incremental import run_incremental
from perfbench.corpus import Corpus, fact_key, sample_conversations
from tests.oracle_naive import oracle_dictionary, oracle_plain

SAMPLE_TURNS = 250   # turns of whole conversations checked per run
_DIFFS_KEPT = 5


@dataclass
class Check:
    sampled: int = 0
    matched: int = 0
    missing: int = 0      # input turns absent from (or duplicated in) output
    errors: int = 0       # turns routed to the error channel
    diffs: list = field(default_factory=list)

    @property
    def failed(self) -> int:
        return (self.sampled - self.matched) + self.missing + self.errors

    @property
    def match_rate(self) -> float:
        return self.matched / self.sampled if self.sampled else 0.0

    def compare(self, key, got, want) -> None:
        self.sampled += 1
        if got == want:
            self.matched += 1
        elif len(self.diffs) < _DIFFS_KEPT:
            self.diffs.append({"turn": key, "got": repr(got)[:200],
                               "want": repr(want)[:200]})


def noop_save(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sample_rows(corpus: Corpus) -> dict:
    """conv_id -> input rows (turn order) of the sampled conversations."""
    table = pq.read_table(corpus.path,
                          columns=["conv_id", "turn_idx", "role", "text"])
    convs: dict = {}
    for r in table.to_pylist():
        convs.setdefault(r["conv_id"], []).append(r)
    picked = sample_conversations({c: len(v) for c, v in convs.items()},
                                  corpus.seed, SAMPLE_TURNS)
    return {c: sorted(convs[c], key=lambda r: r["turn_idx"]) for c in picked}


def _input_keys(corpus: Corpus) -> list:
    t = pq.read_table(corpus.path, columns=["conv_id", "turn_idx"])
    return list(zip(t.column("conv_id").to_pylist(),
                    t.column("turn_idx").to_pylist()))


def _count_missing(check: Check, want_keys: list, got_keys: list) -> None:
    check.missing += len(set(want_keys) - set(got_keys))
    check.missing += len(got_keys) - len(set(got_keys))


def _doc_and_tool(rows: list):
    doc = [r for r in rows if r["role"] != "tool"]
    tool = [r for r in rows if r["role"] == "tool"]
    return doc, tool


def span_texts_urls(page: dict | None) -> list:
    if page is None:
        return []
    return [(s["text"], s["url"]) for b in page["blocks"]
            for ln in b["lines"] for s in ln["spans"]]


class PlainMixed:
    """plain_text() on the mixed corpus (why: see README.md)."""

    name = "plain_mixed"
    corpus = "mixed"

    def reset(self, spark) -> None:
        """Called before every pass, outside its timing."""

    def run_pass(self, spark, corpus: Corpus) -> dict:
        noop_save(plain_text(spark.read.parquet(corpus.path)))
        return {}

    def check(self, spark, corpus: Corpus, last: dict) -> Check:
        return check_plain(corpus,
                           plain_text(spark.read.parquet(corpus.path)).toArrow())


class StructLinks:
    """extract() with its defaults on the mixed corpus (why: README.md)."""

    name = "struct_links"
    corpus = "mixed"

    def reset(self, spark) -> None:
        # each extract() call persists its own kernel output; the next pass
        # must recompute it, not hit the previous pass's cache
        spark.catalog.clearCache()

    def run_pass(self, spark, corpus: Corpus) -> dict:
        t0 = time.perf_counter()
        # extract() runs the refs broadcast gate eagerly; in persist mode
        # that job also materializes the kernel cache
        df = extract(spark.read.parquet(corpus.path))
        gate_s = time.perf_counter() - t0
        noop_save(df)
        cached = sum(r.memSize() + r.diskSize() for r in
                     spark.sparkContext._jsc.sc().getRDDStorageInfo())
        return {"refs.gate_s": gate_s, "refs.cache_bytes": cached, "df": df}

    def check(self, spark, corpus: Corpus, last: dict) -> Check:
        """Checks the last timed pass's output (its kernel cache is still
        in place, so only the refs resolution runs again)."""
        sample = sample_rows(corpus)
        out = last["df"].select(
            "conv_id", "turn_idx", "error", "text", "is_html",
            F.when(F.col("conv_id").isin(list(sample)), F.col("page"))
            .alias("page")).toArrow()
        self.reset(spark)
        got = {(r["conv_id"], r["turn_idx"]): r for r in out.to_pylist()
               if r["conv_id"] in sample}
        return check_struct(corpus, out, got, sample)


def check_plain(corpus: Corpus, got) -> Check:
    """plain_text() output (conv_id, turn_idx, text) against the oracle."""
    c = Check()
    keys = list(zip(got.column("conv_id").to_pylist(),
                    got.column("turn_idx").to_pylist()))
    _count_missing(c, _input_keys(corpus), keys)
    text = dict(zip(keys, got.column("text").to_pylist()))
    for conv, rows in sample_rows(corpus).items():
        doc, tool = _doc_and_tool(rows)
        want = oracle_plain([r["text"] for r in doc],
                            page_ids=[r["turn_idx"] for r in doc])
        for r, w in zip(doc, want):
            key = (conv, r["turn_idx"])
            c.compare(key, text.get(key), w)
        for r in tool:
            key = (conv, r["turn_idx"])
            c.compare(key, text.get(key),
                      corpus.html_facts[fact_key(conv, r["turn_idx"])])
    return c


def check_struct(corpus: Corpus, flat, got: dict, sample: dict) -> Check:
    """extract() output against the oracle: every row present, none in the
    error channel; on the sample, span text and url per doc turn and the
    main text of tool turns. `flat` holds (conv_id, turn_idx, error) of all
    rows, `got` the sampled rows as dicts by (conv_id, turn_idx)."""
    c = Check()
    keys = list(zip(flat.column("conv_id").to_pylist(),
                    flat.column("turn_idx").to_pylist()))
    _count_missing(c, _input_keys(corpus), keys)
    c.errors += sum(e is not None for e in flat.column("error").to_pylist())
    for conv, rows in sample.items():
        doc, tool = _doc_and_tool(rows)
        pages = oracle_dictionary([r["text"] for r in doc],
                                  page_ids=[r["turn_idx"] for r in doc])
        for r, page in zip(doc, pages):
            g = got.get((conv, r["turn_idx"]))
            c.compare((conv, r["turn_idx"]),
                      span_texts_urls(g["page"]) if g else None,
                      span_texts_urls(page))
        for r in tool:
            g = got.get((conv, r["turn_idx"]))
            c.compare((conv, r["turn_idx"]),
                      (g["text"], g["is_html"], g["page"]) if g else None,
                      (corpus.html_facts[fact_key(conv, r["turn_idx"])],
                       True, None))
    return c


def incremental_resume(spark, corpus: Corpus, out_dir: str) -> dict:
    """run_incremental into a fresh directory: half the buckets (a killed
    job), then the resume; returns timings and what was stored."""
    shutil.rmtree(out_dir, ignore_errors=True)
    half = ExtractConfig().resume_buckets // 2
    t0 = time.perf_counter()
    run_incremental(spark, corpus.path, out_dir, max_buckets_per_run=half)
    t1 = time.perf_counter()
    manifest = run_incremental(spark, corpus.path, out_dir)
    t2 = time.perf_counter()
    data = os.path.join(out_dir, "data")
    files = [os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs
             if f.endswith(".parquet")]
    stored = sum(os.path.getsize(f) for f in files)
    return {"incremental.first_s": t1 - t0, "incremental.resume_s": t2 - t1,
            "incremental.files": len(files),
            "incremental.bytes_written": stored,
            "incremental.stored_bytes_ratio": stored / os.path.getsize(corpus.path),
            "incremental.complete": len(manifest["completed_buckets"]) ==
            ExtractConfig().resume_buckets}


def resume_matches_one_shot(one_shot, out_dir: str) -> Check:
    """The resumed data/ must equal a one-shot extract() of the same input
    (`one_shot`), row for row: every output column, compared through its
    JSON form."""
    def digests(df) -> list:
        return [((r[0], r[1]), r[2]) for r in df.select(
            "conv_id", "turn_idx",
            F.xxhash64(F.to_json(F.struct(*EXTRACTED.names))).alias("h"))
            .collect()]

    c = Check()
    want = dict(digests(one_shot))
    got = digests(one_shot.sparkSession.read.parquet(
        os.path.join(out_dir, "data")))
    _count_missing(c, list(want), [k for k, _ in got])
    got_by_key = dict(got)
    for k, h in sorted(want.items()):
        c.compare(k, got_by_key.get(k), h)
    return c


WORKLOADS = {w.name: w for w in (PlainMixed(), StructLinks())}
