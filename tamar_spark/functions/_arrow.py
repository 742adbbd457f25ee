"""The two Arrow adapters every per-row Python kernel runs through.

- :func:`per_value` turns ``fn(value) -> value`` into a scalar pandas UDF.
- :func:`per_row` runs ``fn(*row) -> iterable of output tuples`` as one
  ``mapInPandas`` stage.

Both take the output type as one DDL string, name the UDF after ``fn`` so
plan text shows the kernel, and build one pandas object per batch.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, StructType


def per_value(fn: Callable, ddl: str):
    """Scalar pandas UDF of type ``ddl`` applying ``fn`` to each non-NULL
    value.  A NULL input gives NULL, or an all-NULL struct when ``ddl``
    declares fields; for a struct type ``fn`` returns a tuple in field
    order.  Sibling calls in one projection share one ``ArrowEvalPython``
    node."""
    rtype = DataType.fromDDL(ddl)
    if isinstance(rtype, StructType):
        names = rtype.names
        null = (None,) * len(names)

        def kernel(s):
            rows = [null if v is None else fn(v) for v in s]
            return pd.DataFrame.from_records(rows, columns=names)

    else:

        def kernel(s):
            return pd.Series([None if v is None else fn(v) for v in s], dtype=object)

    kernel.__name__ = fn.__name__
    return pandas_udf(kernel, rtype)


def per_row(
    df: DataFrame, cols: Sequence[str], fn: Callable[..., Iterable[tuple]], ddl: str
) -> DataFrame:
    """One ``mapInPandas`` stage over ``df.select(*cols)``: ``fn(*row)``
    yields zero or more output tuples in the field order of the struct
    ``ddl``, which is the output schema."""
    schema = StructType.fromDDL(ddl)
    names = schema.names

    def kernel(batches):
        for pdf in batches:
            rows = [out for row in zip(*(pdf[c] for c in cols)) for out in fn(*row)]
            yield pd.DataFrame.from_records(rows, columns=names)

    kernel.__name__ = fn.__name__
    return df.select(*cols).mapInPandas(kernel, schema)
