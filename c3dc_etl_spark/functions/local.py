"""Driver-held rows as a Spark frame without a Python-worker job.

``spark.createDataFrame(<python list>, ddl)`` plans a ``LogicalRDD``:
every action over it ships the rows through a Python worker, one job
of a few hundred ms even for a one-row seed. The same rows handed over
as a ``pyarrow.Table`` plan a ``LocalRelation`` — the rows travel with
the plan, and a scan of them is a ~10 ms task. Every small literal map,
seed or pair list the engine builds on the driver goes through
:func:`local_frame`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples, in ``schema`` field order) as an Arrow-backed
    ``LocalRelation`` whose schema equals what
    ``spark.createDataFrame(rows, schema)`` gives: every field takes
    its declared type and is nullable. A value that does not fit its
    field's type raises, as ``createDataFrame``'s verification does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = (
        schema if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    bad = [r for r in rows if len(r) != len(arrow)]
    if bad:
        raise ValueError(
            f"local_frame: row {bad[0]!r} does not have the "
            f"{len(arrow)} fields of {struct.simpleString()}"
        )
    cols = list(zip(*rows)) if rows else [() for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
