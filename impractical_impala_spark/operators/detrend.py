"""Grouped detrending as Arrow-batched ``applyInPandas``.

The one place this engine crosses the JVM->Python boundary in the WDI
pipelines. Design for scale: one shuffle hash-partitions rows by the
group key; each task receives whole groups as Arrow batches and runs the
numpy kernel per group. Group sizes are bounded (time series per entity),
so memory per group is trivial; parallelism scales with the number of
groups, not series length. No collect(), no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.detrend import hp_cycle, quad_detrend


def _extended_schema(df: DataFrame, new_cols: Sequence[str]) -> T.StructType:
    schema = T.StructType(list(df.schema.fields))
    for c in new_cols:
        schema = schema.add(T.StructField(c, T.DoubleType()))
    return schema


def grouped_pandas(df: DataFrame, keys: Sequence[str], fn: Callable,
                   schema: T.StructType | str) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(fn, schema)``, one task per core.

    The repartition is explicit because AQE's 1 MB coalescing floor would
    pack these small, CPU-bound inputs onto one Python worker (sf0.1 at
    local[4], 4-vCPU VM: o22_hp_detrend_centi 2.5 s with it, 5.4 s
    without); a user repartition is exempt from coalescing and satisfies
    applyInPandas. No more tasks than cores: each Python task pays a
    fixed 0.1-0.25 s (see session.py)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).groupBy(*keys).applyInPandas(fn, schema)


def add_grouped_cycles(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    series: dict[str, str],
    kernel: Callable[[np.ndarray], np.ndarray],
) -> DataFrame:
    """For each group (ordered by ``order_col``), append
    ``series[in_col] = out_col`` columns computed by ``kernel`` over the
    group's in_col vector. One applyInPandas pass computes every series —
    a single Python crossing per group."""
    out_cols = list(series.values())
    schema = _extended_schema(df, out_cols)

    def fn(pdf):
        pdf = pdf.sort_values(order_col)
        for in_col, out_col in series.items():
            pdf[out_col] = kernel(pdf[in_col].to_numpy(dtype=np.float64))
        return pdf

    return grouped_pandas(df, group_cols, fn, schema)


def add_hp_cycles(df: DataFrame, group_cols: Sequence[str], order_col: str,
                  series: dict[str, str], lam: float,
                  min_t: int = 30) -> DataFrame:
    """O22: HP-filter cycles per group (dtrendandstat_HP100.R:150-164)."""
    return add_grouped_cycles(
        df, group_cols, order_col, series,
        lambda x: hp_cycle(x, lam, min_t=min_t),
    )


def add_quad_cycles(df: DataFrame, group_cols: Sequence[str], order_col: str,
                    series: dict[str, str], t_col: str,
                    min_t: int = 30) -> DataFrame:
    """O23: quadratic-OLS residual cycles per group
    (detrendandstat_quad.R:146-168). ``t_col`` is the per-group time
    index (O21), already present on the frame."""
    out_cols = list(series.values())
    schema = _extended_schema(df, out_cols)

    def fn(pdf):
        pdf = pdf.sort_values(order_col)
        t = pdf[t_col].to_numpy(dtype=np.float64)
        for in_col, out_col in series.items():
            pdf[out_col] = quad_detrend(
                pdf[in_col].to_numpy(dtype=np.float64), t, min_t=min_t
            )
        return pdf

    return grouped_pandas(df, group_cols, fn, schema)
