"""SparkSession builder with the engine's tuned defaults.

Sandbox runs local[N]; on a real cluster the same confs apply (AQE,
Arrow). Iceberg: this container has no Iceberg runtime jar, so tables
round-trip through partitioned parquet; `load_transcripts`/`write_output`
are the single seam where `format("iceberg")` would be swapped in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def worker_pythonpath(master: str) -> str | None:
    """The Python workers' PYTHONPATH for `master`, or None to leave it
    unset.

    The kernel closures import pdftext_spark inside the Python workers;
    when a local driver is launched from another cwd the workers would
    otherwise have no way to resolve the package (ModuleNotFoundError in
    every task). For `local[...]` and `local-cluster[...]` masters the
    driver's own PYTHONPATH is shipped with the checkout root in front —
    the local-mode equivalent of --py-files for a checkout. Any other
    master gets None: its executors run on other hosts, where the
    driver's paths mean nothing."""
    if not master.startswith("local"):
        return None
    repo_root = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    worker_pp = os.environ.get("PYTHONPATH", "")
    if repo_root in worker_pp.split(os.pathsep):
        return worker_pp
    return (repo_root + os.pathsep + worker_pp) if worker_pp else repo_root


def build_session(app: str = "pdftext_spark", master: str | None = None,
                  shuffle_partitions: int | None = None,
                  max_partition_bytes: str | None = None) -> SparkSession:
    """A SparkSession with the engine's tuned confs. `master` defaults to
    local[SPARK_GRAFT_CPUS]. Local masters get the checkout root on the
    workers' PYTHONPATH (worker_pythonpath); on a cluster, ship the
    package with `--py-files` / `spark.submit.pyFiles` instead (see
    scripts/run_job.py)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus * 2, 8)
    # sandbox inputs are tens of MB, so the 128 MB default collapses the
    # scan into one task; on a real cluster with TB inputs leave the default
    mpb = max_partition_bytes or os.environ.get(
        "PDFTEXT_SPARK_MAX_PARTITION_BYTES", "4m")
    builder = (
        SparkSession.builder
        .appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", mpb)
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the Python worker round-trip; the
        # kernel is batch-vectorized so larger is strictly better until
        # memory pressure
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.python.worker.reuse", "true")
        # glibc returns >32MB allocations to the OS on every free
        # (mmap/munmap), so each kernel batch re-faults its large numpy
        # arrays (~hundreds of MB of fresh pages per batch) — measured
        # 6-13% of kernel wall and most of its run-to-run variance.
        # Raising the mmap/trim thresholds keeps those buffers on the
        # reusable heap. Per-worker-process tuning, scale-independent
        # (the same envVars route reaches executors on a real cluster);
        # cost is each worker's RSS staying at its peak working set.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "536870912")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PDFTEXT_SPARK_DRIVER_MEM", "8g"))
    )
    worker_pp = worker_pythonpath(master)
    if worker_pp is not None:
        builder = builder.config("spark.executorEnv.PYTHONPATH", worker_pp)
    return builder.getOrCreate()


TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")


def load_transcripts(spark: SparkSession, path: str,
                     fmt: str | None = None) -> DataFrame:
    """Iceberg-seam: read the transcript table and normalize it to the
    contract schema (conv_id, turn_idx, role, text, tool, ts).

    fmt defaults by extension: .json/.jsonl → json lines, .csv → csv
    with header, else parquet. Non-parquet readers get the EXPLICIT
    contract schema — at 100 TB, schema inference is a full extra pass
    over the data and silently widens int32 turn_idx to long; pinning
    the schema keeps ingestion one-pass and type-stable across formats.
    Parquet/Iceberg carry their own schema; a select() projects it to
    the contract (and fails loudly on a missing column rather than
    propagating an unexpectedly-shaped frame into the kernel)."""
    if fmt is None:
        low = path.lower()
        if low.endswith((".json", ".jsonl", ".ndjson")):
            fmt = "json"
        elif low.endswith(".csv"):
            fmt = "csv"
        else:
            fmt = "parquet"
    if fmt == "json":
        df = spark.read.schema(TRANSCRIPT_SCHEMA).json(path)
    elif fmt == "csv":
        df = (spark.read.schema(TRANSCRIPT_SCHEMA)
              .option("header", "true")
              # transcript payloads contain embedded quotes/newlines;
              # standard RFC-4180 quoting handles both
              .option("multiLine", "true").option("escape", '"')
              .csv(path))
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        raise ValueError(f"unknown transcript format {fmt!r}")
    return df.select("conv_id", F.col("turn_idx").cast("int"), "role",
                     "text", "tool", F.col("ts").cast("timestamp"))


def write_output(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Iceberg-seam: write an output table."""
    df.write.mode(mode).parquet(path)
