"""Batch model inference as a DataFrame operator (SURVEY.md §3.3 engine
equivalent: "batch inference = mapInPandas").

Training stays out-of-engine (as in the reference — Keras on the
driver); inference over 100 TB of feature windows is the distributed
part, and it runs as an Arrow-batched ``mapInPandas`` kernel: columnar
transfer in, vectorized math, columnar out.  A linear autoregressive
model is provided both as the stub for tests/oracles and as the shape
real weight matrices plug into.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame


def linear_model_inference(
    weights: Sequence[float],
    bias: float,
    feature_col: str = "features",
    id_cols: Sequence[str] = ("event_id",),
    out: str = "yhat",
) -> Callable[[DataFrame], DataFrame]:
    """Score fixed-length feature windows with a linear model via
    ``mapInPandas``.

    The accumulation is written sequentially (x0*w0 + x1*w1 + ...), NOT
    ``np.dot`` — pairwise/SIMD summation differs from SQL's left-to-right
    fold in the last ulp, and the differential oracle compares exact
    floats.  For a real (non-oracle) model, swap in the BLAS path.
    """
    w = [float(x) for x in weights]
    b = float(bias)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[feature_col]
            acc = None
            for i, wi in enumerate(w):
                term = feats.map(lambda v, i=i: v[i]) * wi
                acc = term if acc is None else acc + term
            out_pdf = pdf[list(id_cols)].copy()
            out_pdf[out] = acc + b
            yield out_pdf

    def _t(df: DataFrame) -> DataFrame:
        schema = ", ".join(
            f"{c} {dict(df.dtypes)[c]}" for c in id_cols
        ) + f", {out} double"
        return df.select(*id_cols, feature_col).mapInPandas(kernel, schema)

    return _t

