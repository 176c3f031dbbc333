"""Iceberg integration seam.

This sandbox has no Iceberg runtime jar (and no network to fetch one), so
all tests/bench run on the parquet stand-ins in sources/session.py. This
module holds the production table design: when
``org.apache.iceberg:iceberg-spark-runtime`` is on the classpath, the DDL
below and `load_transcripts` replace the parquet seam's input side.

Table design for the 10^12-turn corpus (north_rule):

- input ``transcripts``: partitioned by ``bucket(4096, conv_id)`` plus
  ``days(ts)``. Bucketing keeps a conversation's turns co-located for the
  ref-resolution reduce while day partitions bound incremental scans;
  the engine's turn-level salt still spreads mega-conversations across
  tasks (operators/extract.py).
- output ``extracted``: same bucket spec, so the incremental writer's
  ``overwritePartitions`` replaces exactly the buckets it recomputed —
  the Iceberg form of streaming/incremental.py's idempotent parquet
  overwrite. ``write.target-file-size-bytes=128m`` keeps scan splits
  byte-balanced (the row-group lesson from BENCH.md at cluster scale).
- ``metrics``: plain append table keyed (run_id, partition_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPTS_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.transcripts (
    conv_id string,
    turn_idx int,
    role string,
    text string,
    tool string,
    ts timestamp
)
USING iceberg
PARTITIONED BY (bucket(4096, conv_id), days(ts))
TBLPROPERTIES (
    'write.target-file-size-bytes' = '134217728',
    'write.distribution-mode' = 'hash',
    'format-version' = '2'
)
"""

EXTRACTED_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.extracted (
    conv_id string,
    turn_idx int,
    role string,
    ts timestamp,
    text string,
    is_html boolean,
    page struct<page:int, bbox:array<double>, width:int, height:int,
                rotation:int,
                blocks:array<struct<bbox:array<double>,
                    lines:array<struct<bbox:array<double>,
                        spans:array<struct<bbox:array<double>, text:string,
                            font:struct<name:string, flags:int, size:double,
                                        weight:int>,
                            char_start_idx:int, char_end_idx:int,
                            rotation:double, url:string, superscript:boolean,
                            subscript:boolean,
                            chars:array<struct<bbox:array<double>, char:string,
                                               rotation:double,
                                               char_idx:int>>>>>>>>,
                refs:array<struct<idx:int, page:int, coord:array<double>,
                                  ref:string, url:string>>>,
    tables array<array<struct<text:string, bbox:array<double>>>>,
    link_dests array<struct<ord:int, gid:int, dest_page:int,
                            x:double, y:double>>,
    error string,
    n_chars int, n_spans int, n_blocks int
)
USING iceberg
PARTITIONED BY (bucket(4096, conv_id))
TBLPROPERTIES (
    'write.target-file-size-bytes' = '134217728',
    'format-version' = '2'
)
"""


def load_transcripts(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.format("iceberg").load(table)
