"""Driver-local row lists as 1-partition Arrow frames.

``spark.createDataFrame(rows, ddl)`` on a plain Python row list
parallelizes the rows across ``defaultParallelism`` Python slices.
That is right for data; it is pathological for the engine's many tiny
CONTROL frames (pointer flips, metric ledgers, model constants,
ingest registries): their writes cap output files with
``coalesce(1..4)`` (write_atomic's small-table discipline), and a
coalesced task executes ALL parent slices sequentially, paying one
Python-worker round trip per slice — measured 4.4 s per 1-ROW pointer
write at local[32] (vs 0.2 s warm through this path), i.e. the
per-trigger floor of every streaming fold was 32 sequential Python
round trips for one row.  Source batches pay the same tax
(``pipeline.schema.rows_to_df``): every downstream stage that reads a
pickled slice is a PythonRDD round trip.

:func:`local_rows_df` routes the rows through pandas so Arrow builds
ONE LocalTableScan partition.  The explicit schema is applied
unchanged; on any conversion surprise (exotic nested values the
pandas bridge rejects) it falls back to the plain path — correctness
first, the speedup is best-effort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_rows_df(
    sess: SparkSession, rows, ddl: str | StructType
) -> DataFrame:
    """A DataFrame over driver-local ``rows`` (tuples in schema field
    order) with schema ``ddl`` (a DDL string or a ``StructType``),
    built as a single Arrow partition (see module docstring)."""
    try:
        import pandas as pd

        schema = (
            ddl
            if isinstance(ddl, StructType)
            else sess.createDataFrame([], ddl).schema
        )
        pdf = pd.DataFrame(
            [tuple(r) for r in rows],
            columns=schema.fieldNames(),
            dtype=object,
        )
        return sess.createDataFrame(pdf, schema=ddl)
    except Exception:  # noqa: BLE001 — perf path only, never correctness
        return sess.createDataFrame(rows, ddl)
