"""Correctness checks: the DuckDB oracle at set-up and a digest after
every timed sample.

The oracle comparison is ``tools/check_parity.compare_query``, the
same row-count / column-name / order-insensitive-value protocol as the
repo's parity gate. Like that gate it is blind to column types
(ROADMAP direction 2); that gap is not closed here.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd

from neo4j_dynagraph_spark.queries import REGISTRY
from tools.check_parity import compare_query


def digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a collected result: the
    per-row hashes summed modulo 2**64, so row order does not matter
    but every value and every duplicate row does."""
    cells = pdf.copy()
    for c in cells.columns:
        if cells[c].dtype == object:
            cells[c] = cells[c].map(_hashable)
    rows = pd.util.hash_pandas_object(cells, index=False).to_numpy(np.uint64)
    return len(pdf), int(rows.sum(dtype=np.uint64))


def _hashable(v):  # noqa: ANN001, ANN202
    return repr(v.tolist()) if isinstance(v, np.ndarray) else v


class _Collected:
    """A collected result in the shape ``compare_query`` reads from a
    Spark frame (``columns`` and ``collect()``), so the oracle checks the
    very rows the op produced instead of a second execution."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.columns = list(pdf.columns)
        self._rows = [
            tuple(_python(v) for v in row)
            for row in pdf.astype(object).itertuples(index=False, name=None)
        ]

    def collect(self) -> list[tuple]:
        return self._rows


def _python(v):  # noqa: ANN001, ANN202
    if isinstance(v, np.ndarray):
        return v.tolist()
    if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
        return None
    return v


def oracle_problems(spark, con, data_dir: str, name: str, pdf: pd.DataFrame):  # noqa: ANN001, ANN201
    """Problems found comparing ``pdf``, the collected result of registry
    query ``name``, with its DuckDB oracle (empty list == pass)."""
    spec = dataclasses.replace(REGISTRY[name], fn=lambda _spark, _dir: _Collected(pdf))
    problems, _ = compare_query(spark, con, spec, data_dir)
    return problems
