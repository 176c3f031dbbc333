"""Job configuration.

Mirrors the reference's keyword-threshold extension surface
(SURVEY.md §2.11; reference: pdftext/pdf/pages.py:260-266,
pdftext/tables.py:59, pdftext/postprocessing.py:76) as one frozen config
object that ships with the job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    # --- parity thresholds (reference defaults) ---
    # NOTE: get_pages passes 0.7, overriding the 0.8 signature default
    # (reference pages.py:265 vs pages.py:77) — 0.7 is the effective value.
    superscript_height_threshold: float = 0.7
    line_distance_threshold: float = 0.1
    block_tolerance_factor: float = 1.5       # pages.py:186
    block_default_median_gap: float = 0.1     # pages.py:179-184
    sort_tolerance: float = 1.25              # postprocessing.py:76
    table_thresh: float = 0.8                 # tables.py:59
    space_thresh: float = 0.01                # tables.py:59
    table_min_chars: int = 100                # tables.py:8
    quote_loosebox: bool = True               # chars.py:10

    # --- output flags (extraction.py:70-131) ---
    sort: bool = False
    hyphens: bool = False
    keep_chars: bool = False
    disable_links: bool = False
    # Kernel-side output pruning: when a caller only needs the plain-text
    # column, skip nested page/table assembly entirely (the Python-side
    # analog of Catalyst column pruning, which cannot see into the UDF).
    emit_struct: bool = True
    emit_tables: bool = True
    emit_plain: bool = True

    # --- scale knobs ---
    # Number of partitions for the salted repartition of the heavy scan.
    # The salt itself has no switch: operators/extract._apply_salt probes
    # the source partition count (one JVM-side physical plan build, no
    # job) and repartitions on (conv_id, turn_idx) only coarse inputs.
    # At 100 TB this would be sized to ~128 MB of payload per task; in the
    # sandbox we default to 2x local cores.
    partitions: int = field(
        default_factory=lambda: int(os.environ.get("PDFTEXT_SPARK_PARTITIONS", "0"))
    )
    # Hash-bucket count for checkpoint/resume manifests.
    resume_buckets: int = 64


DEFAULT_CONFIG = ExtractConfig()
