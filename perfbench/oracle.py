"""Correctness gate for the query workloads.

Each collected answer is checked with the repository's own oracle test
helper, ``tests.oracle.assert_matches_oracle``: it runs the query's
``__spark_entry__.oracle_sql()`` text in DuckDB over the same lake files the
timed pass read and compares columns, row count, int/float kind per column
and the order-insensitive values (exact for floats, NaN equal to NaN).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from tests.oracle import assert_matches_oracle


def rows_to_pandas(rows: list, schema) -> pd.DataFrame:
    """Collected ``Row`` objects as the DataFrame ``toPandas()`` would give."""
    arrow_schema = to_arrow_schema(schema)
    names = arrow_schema.names
    cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    table = pa.Table.from_pydict(cols, schema=arrow_schema)
    return table.to_pandas()


class _Collected:
    """An already collected answer, in the shape the oracle helper reads."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def mismatch(got: pd.DataFrame, sql: str, lake: str) -> str | None:
    """None when ``got`` matches ``sql`` run in DuckDB over ``lake``, else
    the first difference the oracle helper reports."""
    try:
        assert_matches_oracle(_Collected(got), sql, lake)
    except AssertionError as err:
        return (str(err).splitlines() or [type(err).__name__])[0]
    return None
