"""Round-6 pins.

1. The corpus-level exact-substring query (registry/pipeline.py,
   windowed-hash + re-verify) and the per-partition suffix-array kernel
   (operators/substring.py) both claim Lee-et-al semantics; VERDICT r5
   item 7 asked for a direct cross-implementation equation on identical
   input (single corpus => identical repeated intervals).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.operators.substring import repeated_intervals
from pdftext_spark.registry.pipeline import _PASSAGE_N, q_dedup_substr_exact


def _write_docs(tmp_path, token_docs):
    texts = [" ".join(toks) for toks in token_docs]
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "source": pa.array(["t"] * len(texts)),
        "text": pa.array(texts),
    })
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_substr_exact_equals_sa_kernel(spark, tmp_path):
    """Randomized token corpora: the Spark corpus path and the SA kernel
    must produce the SAME maximal repeated intervals (doc, start, end),
    and the corpus path's n_windows must equal the island's covered
    window-position count, which the kernel derives independently."""
    rng = random.Random(20260821)
    w = _PASSAGE_N
    for case in range(5):
        n_docs = rng.randint(2, 6)
        # small vocabulary + planted duplicate runs force real repeats
        vocab = [f"tok{i}" for i in range(rng.randint(3, 10))]
        token_docs = []
        for _ in range(n_docs):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
            token_docs.append(toks)
        if n_docs >= 2 and token_docs[0]:
            # plant one exact cross-doc duplicate run of >= w tokens
            run = [rng.choice(vocab) for _ in range(w + rng.randint(0, 4))]
            token_docs[0] = token_docs[0][:5] + run + token_docs[0][5:]
            token_docs[-1] = run + token_docs[-1]
        d = tmp_path / f"case{case}"
        d.mkdir()
        sf_dir = _write_docs(d, token_docs)
        got = {(int(r["doc_id"]), int(r["start_tok"]), int(r["end_tok"]))
               for r in q_dedup_substr_exact(spark, sf_dir).collect()}
        exp = {(di, s, e)
               for di, s, e in repeated_intervals(token_docs, w)}
        assert got == exp, (case, sorted(got), sorted(exp))


def test_route_batch_arrow_equals_list():
    """The zero-copy Arrow text path of route_batch must be output-
    identical to the list[str] path on every routing outcome: nulls,
    empties, invalid JSON, valid-JSON-non-payload, malformed payloads
    (the per-turn error channel), prose, HTML, and real payloads —
    across string/large_string/sliced/chunked array layouts."""
    import numpy as np
    import pyarrow as pa

    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.core.api import route_batch

    texts = [None, "", "not json", '{"bad"', '{"kind":"other"}',
             # charrot length mismatch -> per-turn ValueError channel
             '{"kind":"chars","page_bbox":[0,0,10,10],"text":"ab",'
             '"bbox":[1,2,3,4,5,6,7,8],"charrot":[0.0]}',
             '{"kind":"chars","page_bbox":[0,0,100,100],"text":"hi",'
             '"bbox":[1,2,3,4,5,6,7,8]}',
             # illegal rotation: both paths must emit rotate_boxes'
             # message from THIS turn's error channel (the deferred-
             # geometry fast path validates at decode time)
             '{"kind":"chars","page_bbox":[0,0,10,10],"rotation":45,'
             '"text":"a","bbox":[1,2,3,4]}',
             # rotated page + tight-box override: exercises the deferred
             # per-slice rotate after the flat normalize
             '{"kind":"chars","page_bbox":[0,0,100,50],"rotation":90,'
             '"text":"ab","bbox":[9,7,3,12,20,20,24,30],'
             '"charrot":[90.0,0.0],"tbox":{"0":[4,5,6,7]}}',
             "plain prose\nwith a wrapped line " * 8,
             "<html><body><p>x</p></body></html>", None]
    roles = ["user", "user", "user", "user", "user", "user", "user",
             "user", "user", "user", "tool", "tool"]
    tix = list(range(len(texts)))
    cfg = ExtractConfig()
    ref = route_batch(texts, roles, tix, cfg)
    layouts = [
        pa.array(texts, type=pa.string()),
        pa.array(texts, type=pa.large_string()),
        pa.array([None] + texts, type=pa.string()).slice(1),
        pa.chunked_array([pa.array(texts[:4]), pa.array(texts[4:])]),
        pa.chunked_array([pa.array(texts[:9]), pa.array(texts[9:])]),
    ]
    for arr in layouts:
        got = route_batch(arr, roles, tix, cfg)
        assert got.n == ref.n and got.doc_pos == ref.doc_pos
        for oa, ob in zip(ref.outputs, got.outputs):
            assert (oa is None) == (ob is None)
            if oa is not None:
                assert (oa.text, oa.error, oa.is_html) == \
                       (ob.text, ob.error, ob.is_html)
        assert got.plains == ref.plains
        if ref.seg is not None:
            assert got.seg.chars.gtext == ref.seg.chars.gtext
            assert np.array_equal(got.seg.chars.boxes, ref.seg.chars.boxes)


def test_route_batch_rejects_other_arrow_string_types():
    """_arrow_text_view reads the offsets+data layout of string and
    large_string arrays only; a string_view or dictionary array must fail
    loudly instead of being parsed as garbage."""
    import pyarrow as pa
    import pytest

    from pdftext_spark.core.api import route_batch

    texts = ['{"kind":"chars","page_bbox":[0,0,100,100],"text":"hi",'
             '"bbox":[1,2,3,4,5,6,7,8]}', "plain prose"]
    for arr in (pa.array(texts, type=pa.string_view()),
                pa.array(texts).dictionary_encode(),
                pa.chunked_array([pa.array(texts).dictionary_encode()])):
        with pytest.raises(TypeError, match="string"):
            route_batch(arr, ["user", "user"], [0, 1])


def test_kernel_runs_from_foreign_cwd(tmp_path):
    """The Python workers must resolve pdftext_spark regardless of the
    driver's cwd (build_session ships the checkout root on the workers'
    PYTHONPATH). Before the fix, launching any kernel entry point from
    outside the repo killed every task with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pdftext_spark.sources.session import build_session\n"
        "from pdftext_spark.operators.extract import plain_text\n"
        "from pdftext_spark.sources.fixture_io import ensure_fixture_dir\n"
        "import os\n"
        "spark = build_session(app='cwd-test', master='local[2]',\n"
        "                      shuffle_partitions=4)\n"
        "p = os.path.join(ensure_fixture_dir('sf0.001'), 'transcripts.parquet')\n"
        "n = plain_text(spark.read.parquet(p)).count()\n"
        "spark.stop()\n"
        "assert n > 0, n\n"
        "print('CWD-OK', n)\n" % repo)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver may not set one either
    r = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                       capture_output=True, text=True, env=env, timeout=300)
    assert r.returncode == 0 and "CWD-OK" in r.stdout, (
        r.stdout[-500:], r.stderr[-2000:])
