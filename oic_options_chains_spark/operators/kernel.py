"""The per-row Python kernel adapter: one batch loop for every kernel
that maps a row to zero or more output rows (the volatility-page walk,
the legacy chain walk, the media codecs).

``fn(*row)`` sees one input row's values in ``df.columns`` order and
yields output tuples in ``schema`` order. The adapter owns the rest:
the Arrow/pandas batch format, the loop, and the output frame. It runs
under ``mapInPandas``, so the kernel runs where the scan ran (no
shuffle) and ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
per-batch memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def row_kernel(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: T.StructType
) -> DataFrame:
    """``df`` -> ``schema`` rows, ``fn`` applied row by row."""
    names = schema.fieldNames()

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            if rows:  # an empty frame would carry no dtypes
                yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)
