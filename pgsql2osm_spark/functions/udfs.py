"""Vectorized pandas/Arrow UDFs wrapping the numpy kernels.

Per BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout". Each UDF here receives whole Arrow batches as pandas
Series and dispatches into the numpy kernels in cells.py / geometry.py.
Where possible the engine prefers the pure-JVM Column emitters
(cells.cell_expr, geometry.tile_expr) — whole-stage codegen beats Arrow
round-trips — and these UDFs cover what built-ins cannot express: the S2
face-projected encode and the exact PIP against broadcast rings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells as C
from . import geometry as G


def make_s2_udf(res: int = 16):
    @F.pandas_udf(T.LongType())
    def s2_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.s2_encode(lon.to_numpy(), lat.to_numpy(), res))

    return s2_udf


def make_pip_udf(rings_bc):
    """Exact point-in-polygon refine against broadcast region rings.

    rings_bc: SparkContext.broadcast of {region_id: [np.ndarray rings]}.
    Called only on boundary-cell candidates (the expensive stage of the
    two-stage predicate, SURVEY.md X2) — interior-cell rows skip it.
    Vectorized per region group within each Arrow batch.
    """

    @F.pandas_udf(T.BooleanType())
    def pip_udf(region_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(region_id), dtype=bool)
        rid = region_id.to_numpy()
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        rings_by_region = rings_bc.value
        for r in np.unique(rid):
            sel = rid == r
            rings = rings_by_region.get(int(r))
            if rings:
                out[sel] = G.points_in_rings(lo[sel], la[sel], rings)
        return pd.Series(out)

    return pip_udf
