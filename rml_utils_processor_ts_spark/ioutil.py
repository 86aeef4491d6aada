"""Input-scan helpers (guide: shuffles/partitioning + I/O layout).

``spread_small_scan`` rescues map-side parallelism for tiny inputs: a
single-file, single-row-group parquet table scans as ONE task no matter
how many cores the session has (parquet splits cannot cross row-group
boundaries), so every expression over it — regex chains, md5 shingling,
template projection — runs on one core of local[32]. When the input is
small enough that one round-robin pass is essentially free, repartition
to the session's default parallelism; when the input is large (real
scale), the gate never fires and the scan keeps its native splits.

The gate is derived from the actual input layout (file count + bytes),
not from a constant tuned to the sandbox: at 100 TB every table has
thousands of splits and this is a no-op.

``local_frame`` is how driver-held rows enter Spark: an inline document,
an empty state table, stream metadata, ANN query tuples. It builds a
``pyarrow.Table`` in the given Spark schema and hands it to
``createDataFrame``, which plans a ``LocalTableScan``: one partition per
row up to the session's parallelism (so a one-row document or metadata
frame is one partition), and Catalyst may fold filters and projections
over it at planning time. A Python list would instead be pickled into
an RDD spread over ``defaultParallelism`` partitions
(``Scan ExistingRDD``), and every scan of it would hand its rows through
Python workers.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# inputs larger than this are "real" scans — never add a spreading
# shuffle for them (256 MB keeps the worst-case round-robin pass well
# under a second on any modern node)
_SPREAD_MAX_BYTES = 256 * 1024 * 1024


def _local_path(uri: str) -> str:
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if uri.startswith("file:"):
        return uri[len("file:"):]
    return uri


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin a small, under-split scan across the session's cores.

    Fires only when BOTH hold:
      * the scan has fewer input files than the session's default
        parallelism (a proxy for "fewer splits than cores": row-group
        granularity caps effective splits at ~1/file for small files);
      * the total input is under ``_SPREAD_MAX_BYTES`` (256 MB), so the
        repartition pass costs milliseconds.

    The explicit partition count is preserved by AQE (only
    ENSURE_REQUIREMENTS shuffles are coalesced), so the downstream
    map-side work genuinely runs wide.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if par <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-based plans
        return df
    # "severely under-split" only: an input already ≥25% as parallel as
    # the session gains little from a balancing pass — the win cases are
    # the 1-to-few-file tables whose map side would otherwise serialize
    if not files or len(files) >= max(2, par // 4):
        return df
    total = 0
    for f in files:
        try:
            total += os.path.getsize(_local_path(f))
        except OSError:
            return df  # remote/unstattable storage: leave the scan alone
    if total > _SPREAD_MAX_BYTES:
        return df
    return df.repartition(par)


def read_parquet_spread(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` + :func:`spread_small_scan`."""
    return spread_small_scan(spark.read.parquet(path))


def local_frame(spark: SparkSession, rows: Sequence[Sequence], schema: str | T.StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as an Arrow local
    relation: the plan is a ``LocalTableScan`` and no Python worker
    touches the rows, with or without
    ``spark.sql.execution.arrow.pyspark.enabled``. ``schema`` is a
    ``StructType`` or a DDL string such as ``"doc string"``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
