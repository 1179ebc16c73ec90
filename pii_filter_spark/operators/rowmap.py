"""The Arrow-batch -> Python-row boundary of every per-row stage.

A per-row stage builds each output row from one input row alone: decode
an image and report facts about it, fan a clip out into frames, explode
an archive into records. `map_rows` owns everything around that row
function: the column projection, the mapInPandas pass over Arrow record
batches, the output row list and the pandas frame, whose column names
come from the DDL schema, so a stage writes them once. Batch-wise
operators (per-partition partials, matrix scoring) keep their own
mapInPandas bodies.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType


def map_rows(
    df: DataFrame,
    cols: list,
    schema: str,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """df.select(*cols), then fn(*values) for each row's values in cols
    order; fn yields the row's output tuples (none, one or many), each
    in the field order of the DDL `schema`. The plan's MapInPandas node
    carries fn's name."""
    names = DataType.fromDDL(schema).names

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for values in pdf.itertuples(index=False, name=None):
                rows.extend(fn(*values))
            # object columns: Arrow converts each Python value to the
            # schema type, where pandas would widen an int column that
            # holds a NULL to float64 and round 64-bit hashes to 53 bits
            yield pd.DataFrame(rows, columns=names, dtype=object)

    _rows.__name__ = fn.__name__
    return df.select(*cols).mapInPandas(_rows, schema=schema)
