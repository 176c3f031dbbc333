"""Seeded benchmark corpora, cached by (corpus, seed) under perfbench/.cache.

Every corpus comes from `pdftext_spark.sources.fixtures.generate_transcripts`
with the run's seed; the program under test only ever sees the parquet
file. Generation happens before any session is built, so it is never part
of `setup_s`.

- `mixed`: the generator's default turn mix, its first MIXED_TURNS turns
  (the last conversation may be cut short), snappy parquet in 1000-row row
  groups (the layout of the repo's own fixture tier). An exact turn count
  keeps the fixed per-pass costs the same share of every seed's pass.
- `clustered_tool`: every tool turn and one in six of the others, sorted
  by (conv_id, turn_idx) and written as ONE uncompressed row group, grown
  until the file spans at least `min_bytes` (the caller asks for more
  than 2 x cores byte splits). Uncompressed, because a single-row-group
  file that Spark cuts into that many splits would otherwise need a
  corpus several times larger than one run can generate.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.sources.fixtures import generate_transcripts

MIXED_TURNS = 2000
MAX_TURNS = 400          # conversation length cap passed to the generator
KEEP_OTHER_EVERY = 6     # clustered_tool keeps one in this many non-tool turns
CACHE_KEEP = 6           # cached corpora kept per cache root (oldest evicted)
_FORMAT = "v2"           # bump when a corpus recipe changes


def _stamp() -> str:
    return f"{_FORMAT}:{MIXED_TURNS}:{MAX_TURNS}:{KEEP_OTHER_EVERY}"

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class Corpus:
    name: str
    seed: int
    path: str            # transcripts parquet file
    layout: dict         # turn mix, row groups, bytes
    html_facts: dict     # "conv_id/turn_idx" -> generator-known main text

    @property
    def n_turns(self) -> int:
        return self.layout["turns"]


def turn_kind(role: str, text: str | None) -> str:
    if role == "tool":
        return "tool"
    return "payload" if (text or "").startswith("{") else "prose"


def fact_key(conv_id: str, turn_idx: int) -> str:
    return f"{conv_id}/{turn_idx}"


def _whole_conversations(seed: int, keep=None):
    """(rows, facts) per conversation, in generator order, forever."""
    conv, facts, cur = [], {}, None
    for row, f in generate_transcripts(10 ** 9, MAX_TURNS, seed):
        if row["conv_id"] != cur and conv:
            yield conv, facts
            conv, facts = [], {}
        cur = row["conv_id"]
        if keep is None or keep(row):
            conv.append(row)
            if "html_main" in f:
                facts[fact_key(row["conv_id"], row["turn_idx"])] = f["html_main"]


def _mixed_rows(seed: int):
    rows, facts = [], {}
    for conv, f in _whole_conversations(seed):
        rows.extend(conv)
        facts.update(f)
        if len(rows) >= MIXED_TURNS:
            rows = rows[:MIXED_TURNS]
            kept = {fact_key(r["conv_id"], r["turn_idx"]) for r in rows}
            return rows, {k: v for k, v in facts.items() if k in kept}


def _clustered_rows(seed: int, min_bytes: int):
    seen = [0]

    def keep(row):
        if row["role"] == "tool":
            return True
        seen[0] += 1
        return seen[0] % KEEP_OTHER_EVERY == 0

    rows, facts, raw = [], {}, 0
    for conv, f in _whole_conversations(seed, keep):
        rows.extend(conv)
        facts.update(f)
        raw += sum(len(r["text"].encode()) for r in conv)
        # raw text bytes undercount the uncompressed file slightly, so the
        # check below is conservative
        if raw >= min_bytes:
            return rows, facts


def _layout(path: str, rows: list, compression: str) -> dict:
    md = pq.ParquetFile(path).metadata
    mix: dict = {}
    for r in rows:
        k = turn_kind(r["role"], r["text"])
        mix[k] = mix.get(k, 0) + 1
    return {
        "turns": len(rows),
        "conversations": len({r["conv_id"] for r in rows}),
        "mix": dict(sorted(mix.items())),
        "row_groups": md.num_row_groups,
        "rows_per_row_group": [md.row_group(i).num_rows
                               for i in range(md.num_row_groups)],
        "bytes": os.path.getsize(path),
        "compression": compression,
    }


def _write(path: str, rows: list, row_group_size: int, compression: str):
    table = pa.Table.from_pylist(rows, schema=SCHEMA)
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression=compression)


def _evict(root: str, keep_dir: str) -> None:
    dirs = [os.path.join(root, d) for d in os.listdir(root)]
    dirs = sorted((d for d in dirs if os.path.isdir(d) and d != keep_dir),
                  key=os.path.getmtime)
    for d in dirs[:max(0, len(dirs) - (CACHE_KEEP - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def load(root: str, name: str, seed: int, min_bytes: int = 0) -> Corpus:
    """Return the cached corpus, generating it first if needed."""
    tag = f"{name}-s{seed}" + (f"-b{min_bytes}" if name == "clustered_tool" else "")
    out = os.path.join(root, tag)
    marker = os.path.join(out, "_COMPLETE")
    path = os.path.join(out, "transcripts.parquet")
    if not (os.path.exists(marker) and open(marker).read() == _stamp()):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        if name == "mixed":
            rows, facts = _mixed_rows(seed)
            compression = "snappy"
            _write(path, rows, 1000, compression)
        elif name == "clustered_tool":
            rows, facts = _clustered_rows(seed, min_bytes)
            rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
            compression = "none"
            _write(path, rows, len(rows), compression)
        else:
            raise ValueError(f"unknown corpus {name!r}")
        with open(os.path.join(out, "layout.json"), "w") as f:
            json.dump(_layout(path, rows, compression), f, sort_keys=True)
        with open(os.path.join(out, "facts.json"), "w") as f:
            json.dump(facts, f, sort_keys=True)
        with open(marker, "w") as f:
            f.write(_stamp())
        _evict(root, out)
    os.utime(out)
    with open(os.path.join(out, "layout.json")) as f:
        layout = json.load(f)
    with open(os.path.join(out, "facts.json")) as f:
        facts = json.load(f)
    return Corpus(name, seed, path, layout, facts)


def sample_conversations(turns_per_conv: dict, seed: int,
                         min_turns: int) -> list:
    """Deterministic conversation sample: order conversations by a seeded
    hash and take them until they hold at least `min_turns` turns."""
    order = sorted(turns_per_conv, key=lambda c: hashlib.md5(
        f"{seed}:{c}".encode()).hexdigest())
    out, n = [], 0
    for c in order:
        if n >= min_turns:
            break
        out.append(c)
        n += turns_per_conv[c]
    return sorted(out)
