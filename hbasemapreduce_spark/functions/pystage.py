"""Task width of Python-worker stages, sized from input bytes.

Every Python stage (``mapInPandas``, grouped ``applyInPandas`` /
``applyInArrow``, cogrouped ``applyInPandas``) gets its width here:
width = clamp(input bytes // ``TARGET_BYTES``, 1, session shuffle
parallelism), and a source that is not a local path keeps full
parallelism.

Why small inputs get ONE task: a Python-worker task costs about
0.2-0.27 CPU-s before the UDF runs (pyspark 4.1, 4-core x86 VM).  The
worker calls ``importlib.invalidate_caches()`` on every task
(``worker_util.setup_spark_files``), which makes its zip importers
re-read the directories of ``pyspark.zip`` (1,328 entries) and the
spark-core jar (5,359 entries).  An identity ``mapInPandas`` measured
0.23 worker CPU-s with 1 task and 1.1 CPU-s with 4 tasks, so widening a
stage over a few MB buys no speed and costs CPU.  At 100 TB the same
formula gives the cap, i.e. full parallelism.

Shape per width:

- width 1: ``coalesce(1)`` -- one task and no exchange.
  ``SinglePartition`` already satisfies a grouped map's clustering
  (and the co-partitioning of both cogroup sides), so Spark adds none.
- width > 1: exactly one exchange -- round-robin ``repartition(width)``
  for map stages, a hash exchange on the grouping keys for grouped
  stages, which the grouped node then consumes as-is.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TARGET_BYTES = 16 << 20  # input bytes per Python task


def dataset_bytes(path: str) -> int:
    """Data bytes of a parquet dataset path, whether a single file or a
    directory of part files.  ``os.path.getsize`` on a directory returns
    the inode size (~4 KB) WITHOUT raising, which would silently size a
    large dataset as width 1.  Metadata files (leading '_' or '.') are
    excluded, matching what a scan actually reads.  Raises OSError for a
    missing path (callers treat that as 'non-local source: keep full
    parallelism')."""
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
    return os.path.getsize(path)


def python_stage_width(spark: SparkSession, sf_dir: str, *tables: str) -> int:
    """Task width for a Python stage that reads ``tables`` of ``sf_dir``,
    sized from the sum of their bytes."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        nbytes = sum(
            dataset_bytes(os.path.join(sf_dir, f"{t}.parquet")) for t in tables
        )
    except OSError:  # non-local sf_dir: keep full parallelism
        return n_part
    return max(1, min(n_part, nbytes // TARGET_BYTES))


def to_width(df: DataFrame, width: int, *keys: str) -> DataFrame:
    """``df`` laid out as ``width`` tasks for the Python stage above it;
    ``keys`` are the grouping keys of a grouped stage (none for a map)."""
    if width == 1:
        return df.coalesce(1)
    return df.repartition(width, *keys)
