"""Contracts around the single kernel path that no parity test guards:
the oracle stays independent of the code it checks, and the benchmark's
kernel replay still finds every stage function it wraps."""

import ast

import pyarrow as pa

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.payload import payload_json
from tests import oracle_naive


def test_oracle_imports_nothing_from_core():
    """tests/oracle_naive.py is the independent reference: importing
    pdftext_spark.core would let a kernel bug pass on both sides."""
    with open(oracle_naive.__file__) as f:
        tree = ast.parse(f.read())
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            imported += [f"{node.module}.{a.name}" for a in node.names]
    assert [m for m in imported if m.startswith("pdftext_spark.core")] == []


def test_perfbench_stages_resolve_in_core_api():
    """perfbench/kernel.py times route_batch's stages by swapping the
    functions at their module-level names in core.api (and
    assemble_record_batch in core.arrow_out): every name must exist, and a
    one-batch replay must record decode, segment, plain-render and
    assembly spans."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdftext_spark.core import api
    from pdftext_spark.operators.schema import EXTRACTED
    from perfbench import kernel
    from perfbench.tracing import Tracer

    for name in kernel.API_STAGES:
        assert callable(getattr(api, name, None)), name

    payload = payload_json({
        "kind": "chars", "page_bbox": [0.0, 0.0, 200.0, 300.0],
        "rotation": 0, "text": "hello world", "bbox": [
            v for i in range(11) for v in (10.0 + 6 * i, 10.0, 16.0 + 6 * i, 21.0)],
        "charrot": 0.0, "font_id": 0,
        "fonts": [{"name": "A", "flags": 0, "size": 11.0, "weight": 400}]})
    texts = [payload, "plain prose turn", "<html><body><p>x</p></body></html>"]
    target = to_arrow_schema(EXTRACTED)
    batch = pa.RecordBatch.from_arrays([
        pa.array(["c0"] * 3), pa.array([0, 1, 2], pa.int32()),
        pa.array(["user", "user", "tool"]),
        pa.nulls(3, target.field("ts").type), pa.array(texts),
    ], names=["conv_id", "turn_idx", "role", "ts", "text"])
    tracer = Tracer()
    metrics = kernel.replay([batch], ExtractConfig(), target, tracer, reps=1)
    names = {s["name"] for s in tracer.spans}
    assert {"maybe_parse_payload_raw", "decode_turn", "prose_to_decoded",
            "extract_main_text", "segment_batch", "plain_text_batch",
            "assemble_record_batch"} <= names
    for layer in ("payload.decode_s", "segment.s", "assemble.plain_s",
                  "html_main.s", "arrow_out.s"):
        assert metrics[layer] > 0, layer
    assert metrics["payload.turns"] == 2 and metrics["payload.prose_turns"] == 1
