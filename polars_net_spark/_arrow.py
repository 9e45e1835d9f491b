"""The one Python-worker boundary for kernels that build their own output.

:func:`map_batches` runs ``mapInArrow`` with every output type written once,
in the Spark schema.  The Arrow schema each output batch is built against
comes from that schema, on the driver, so no kernel infers a type: a 64-bit
hash next to a null stays an exact ``bigint`` (pandas made such a column
float64 and rounded it), and a NaN stays NaN unless the kernel yields
``None`` — or passes its floats through :func:`nan_as_null`.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

__all__ = ["map_batches", "nan_as_null"]


def map_batches(
    sdf: SparkDF,
    fn: Callable[[Iterator[pa.RecordBatch]], Iterable[Mapping[str, object]]],
    schema: "str | StructType",
) -> SparkDF:
    """``sdf.mapInArrow`` over ``fn``: ``fn`` gets the input
    ``pa.RecordBatch``es and yields ``{column name: sequence}`` mappings,
    each built into one output batch of ``schema`` (a DDL string or a
    ``StructType``).  Sequences may be lists, numpy arrays or Arrow arrays;
    a type Arrow cannot convert to (``to_arrow_schema``) raises here, on the
    driver."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)

    def run(batches):
        for cols in fn(batches):
            yield pa.RecordBatch.from_pydict(cols, schema=arrow_schema)

    return sdf.mapInArrow(run, struct)


def nan_as_null(values) -> pa.Array:
    """``values`` (a sequence, nested lists included, or a float ndarray) as
    an Arrow array with every NaN made null — what the pandas boundary did
    to float output, for kernels whose callers rely on those nulls."""
    return pa.array(values, from_pandas=True)
