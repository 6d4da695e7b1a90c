"""Span-bucketed applyInPandas kernels over an already-dense tier (eigen,
complex eigen, closure correction, chunk compression, nonlinear fit): with the
zero-filled twin (operators/spanfill.py) behind one entry, `span_kernel`.

One definition of the physical grouping so a bucketing change (the round-3
verdict's pmod->consecutive fix had to touch four copies) can never drift
between kernels: ``spans_per_bucket`` CONSECUTIVE eigen-spans share a
bucket, bounding each Arrow group at spans_per_bucket x span/tier rows
independent of retention horizon while the bucket count grows with data.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import EIGEN_SPAN
from .spanfill import dense_span_kernel


def with_span_bucket(
    rollup: DataFrame, tier: str, spans_per_bucket: int, *value_cols: Column
) -> DataFrame:
    """(source, _bkt, span_s, epoch_s, *value_cols) with span_s = the tier's
    eigen-span start and _bkt grouping ``spans_per_bucket`` consecutive
    spans. Kernels groupBy("source", "_bkt") and re-group per span inside
    the Arrow frame.

    The explicit repartition pins the kernel exchange at the configured
    shuffle-partition count: the downstream ``groupBy(source, _bkt)
    .applyInPandas`` reuses this hash partitioning (ClusteredDistribution
    satisfied — no second exchange), and a REPARTITION_BY_NUM exchange is
    exempt from AQE partition coalescing. Without it AQE sized the kernel
    stage by shuffle BYTES — a few MB of rolled-up keys — and collapsed it
    to ONE partition, serializing the entire Python kernel into a single
    task (measured: eigen_complex_1m ran its ~3k span eigendecompositions
    in one 1.0-1.3 s task, 31 cores idle). AQE cannot see per-row Python
    CPU; for an opaque grouped kernel the configured width is the right
    prior at every scale."""
    span = EIGEN_SPAN[tier]
    n_part = int(rollup.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        rollup.withColumn("span_s", (F.floor(F.col("epoch_s") / span) * span).cast("long"))
        .withColumn("_bkt", F.floor(F.floor(F.col("span_s") / span) / spans_per_bucket))
        .select("source", "_bkt", "span_s", "epoch_s", *value_cols)
        .repartition(n_part, "source", "_bkt")
    )


def span_kernel(
    rollup: DataFrame,
    tier: str,
    value_col: str,
    batch_fn: Callable[[list, list[np.ndarray], list[np.ndarray]], pd.DataFrame],
    schema,
    fill: str | None = None,
    spans_per_bucket: int = 64,
) -> DataFrame:
    """``batch_fn(keys, grids, series)`` over every (source, eigen-span) of
    a tier, as in `spanfill.dense_span_kernel`.

    ``fill="zero"``: the rollup is sparse and each span is zero-filled
    inside the kernel (`spanfill.dense_span_kernel`). ``fill=None``: the
    rollup is read as it is (typically already gap-filled) through one
    shuffle on (source, span-bucket); ``batch_fn`` is called once per
    bucket group with its spans in (source, span_s) order, each span's rows
    sorted by epoch."""
    if fill is not None:
        if fill != "zero":
            raise ValueError(f"only fill='zero' is kernel-fillable, got {fill!r}")
        return dense_span_kernel(rollup, tier, value_col, batch_fn, schema)

    with_span = with_span_bucket(
        rollup, tier, spans_per_bucket, F.col(value_col).cast("double").alias("val")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # one Arrow group holds many spans: re-group per span locally
        keys, grids, series = [], [], []
        for (src, sp), g in pdf.groupby(["source", "span_s"], sort=True):
            g = g.sort_values("epoch_s", kind="mergesort")
            keys.append((src, sp))
            grids.append(g["epoch_s"].to_numpy(np.int64))
            series.append(g["val"].to_numpy(np.float64))
        return batch_fn(keys, grids, series)

    return with_span.groupBy("source", "_bkt").applyInPandas(kernel, schema)
