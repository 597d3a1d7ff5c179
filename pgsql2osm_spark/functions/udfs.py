"""Vectorized pandas/Arrow UDFs wrapping the numpy kernels.

Per BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout". Each UDF here receives whole Arrow batches as pandas
Series and dispatches into the numpy kernels in cells.py.
Where possible the engine prefers pure-JVM expressions
(cells.with_cell_columns, geometry.tile_expr) — whole-stage codegen beats
Arrow round-trips — and the UDF here covers what built-ins cannot express: the
S2 face-projected encode. The exact PIP refine is a Column expression over
per-cell edge slots (operators/spatial_join.py), not a UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells as C


def make_s2_udf(res: int = 16):
    @F.pandas_udf(T.LongType())
    def s2_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.s2_encode(lon.to_numpy(), lat.to_numpy(), res))

    return s2_udf
