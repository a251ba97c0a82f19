"""The one Python boundary of the per-document operators.

Every per-document operator has the same shape: a Python kernel reads one
input row and emits zero or more output rows. `map_rows` is that shape's
only exchange: one mapInArrow, the Spark output schema converted to Arrow
once on the driver, input columns read with `to_pylist()`, output built as
per-column Python lists, one RecordBatch out per RecordBatch in.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

RowFn = Callable[..., Iterable[tuple]]


def map_rows(df: DataFrame, schema: StructType | str,
             make_row_fn: Callable[[], RowFn]) -> DataFrame:
    """Run a per-row kernel over every row of `df` inside Arrow batches.

    `make_row_fn()` is called once per task, on the executor: resolve
    broadcast values and the TaskContext there. It returns `row_fn`, which
    receives one input row's values positionally, in `df`'s column order,
    as plain Python objects, and returns that row's output rows as tuples
    in `schema`'s field order. Rows are processed independently, so the
    output does not depend on where batch boundaries fall."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        row_fn = make_row_fn()
        for rb in batches:
            cols = [[] for _ in arrow_schema]
            appends = [c.append for c in cols]
            for args in zip(*(c.to_pylist() for c in rb.columns)):
                for out in row_fn(*args):
                    for append, v in zip(appends, out):
                        append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema)

    return df.mapInArrow(run, schema)
