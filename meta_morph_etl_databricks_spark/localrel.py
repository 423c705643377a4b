"""Local relations from bounded driver rows.

Arrow input plans a ``LocalTableScan``, while list input to
``createDataFrame`` plans an RDD scan.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def literal_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[Any]],
    schema: StructType | str,
) -> DataFrame:
    """A local DataFrame of ``rows`` (positional sequences) with exactly
    ``schema`` (a StructType or DDL string), nullability included."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), struct)
