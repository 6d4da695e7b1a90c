"""The span-kernel skeleton: the one place a span's dense zero-filled grid is
built from sparse rollup rows.

Every span kernel (the tier kernel's eigen + codec body, closure
correction, eigen, nonlinear fit, chunk compression) reads a span's DENSE
grid: the source's [lo, hi] tier lattice clipped to the span, observed
rollup values in place and each payload column's gap value everywhere
else. Only the observed rows and one sentinel per (source, span) shuffle;
the dense form is manufactured where it is consumed (guide §8):

    sentinels (one row per (source, span) in the source's range, carrying
    the source's [lo, hi] grid bounds)
      UNION observed rows (source, span_s, epoch_s, payload columns)
      -> repartition(source, span_s) -> sortWithinPartitions
      -> mapInPandas: whole span groups -> fill_spans -> batch_fn

The sentinel sorts first in its group, so a fully empty interior span (a
gap wider than a span) still emits its all-gap grid. The grid, the
observed values and the epoch order equal the relational
`gapfill(rollup, tier, "zero")` exactly (tests/test_spanfill.py,
tests/test_tier_kernel.py).

Only the ``zero`` policy fills here: ffill/linear/cross need continuity
across spans, which a span-partitioned kernel cannot see. Those densify
relationally (operators/gapfill.py); a dense tier through this skeleton
fills nothing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import EIGEN_SPAN, TIERS

# (name, payload, gap value). The payload is an expression over the rollup,
# or the name of a rollup column shipped as it is. The gap value also fixes
# the filled column's dtype (0 -> int64, 0.0/NaN -> float64). An entry
# without a payload ships nothing and marks lineage instead: the gap value
# at filled points, its negation at observed ones.
Fill = tuple[str, Column | str | None, object]


def sentinel_union_prep(
    rollup: DataFrame, tier: str, fills: list[Fill], span: int | None = None
) -> tuple[DataFrame, int, int]:
    """(prep frame, tier_s, span): sentinels ∪ observed rows, repartitioned
    on (source, span_s) and sorted (source, span_s, is_sentinel DESC,
    epoch_s), so each span group arrives contiguous with its sentinel
    first. Sentinel payloads are NULL."""
    tier_s = TIERS[tier]
    span = span or EIGEN_SPAN[tier]
    n_part = int(rollup.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))

    data = rollup.select(
        "source",
        (F.floor(F.col("epoch_s") / span) * span).cast("long").alias("span_s"),
        F.lit(False).alias("is_sentinel"),
        "epoch_s",
        F.lit(None).cast("long").alias("lo"),
        F.lit(None).cast("long").alias("hi"),
        *[
            col.alias(name) if isinstance(col, Column) else col
            for name, col, _ in fills
            if col is not None
        ],
    )
    bounds = rollup.groupBy("source").agg(
        F.min("epoch_s").alias("lo"), F.max("epoch_s").alias("hi")
    )
    sentinels = bounds.select(
        "source",
        F.explode(
            F.sequence((F.floor(F.col("lo") / span) * span).cast("long"), "hi", F.lit(span))
        ).alias("span_s"),
        "lo",
        "hi",
    ).select(
        "source",
        "span_s",
        F.lit(True).alias("is_sentinel"),
        F.col("span_s").alias("epoch_s"),
        "lo",
        "hi",
        *[
            F.lit(None).cast(data.schema[name].dataType).alias(name)
            for name, col, _ in fills
            if col is not None
        ],
    )
    prep = (
        sentinels.unionByName(data)
        .repartition(n_part, "source", "span_s")
        .sortWithinPartitions("source", "span_s", F.col("is_sentinel").desc(), "epoch_s")
    )
    return prep, tier_s, span


def fill_spans(
    g0: np.ndarray,
    n: np.ndarray,
    tier_s: int,
    group: np.ndarray,
    epochs: np.ndarray,
    payload: list[tuple[np.ndarray | None, object]],
) -> tuple[list[np.ndarray], list[list[np.ndarray]]]:
    """Dense grids and payload columns for a batch of spans.

    Span i's grid is ``n[i]`` points from ``g0[i]`` in steps of ``tier_s``.
    Observed row j (int64 ``epochs[j]`` in span ``group[j]``) lands on its
    grid point; every other point carries the column's gap value.
    ``payload`` pairs each column's observed values with its gap value
    (values None: a lineage column, see `Fill`). Returns (grids, columns),
    one array per span in each list; all spans fill in one scatter."""
    offs = np.zeros(len(n) + 1, dtype=np.int64)
    np.cumsum(n, out=offs[1:])
    total = int(offs[-1])
    pos = offs[:-1][group] + (epochs - g0[group]) // tier_s
    grid = np.repeat(g0 - offs[:-1] * tier_s, n) + np.arange(total, dtype=np.int64) * tier_s
    cuts = offs[1:-1]
    cols = []
    for values, gap in payload:
        col = np.full(total, gap)
        col[pos] = (not gap) if values is None else values
        cols.append(np.split(col, cuts))
    return np.split(grid, cuts), cols


def _fill_frame(
    pdf: pd.DataFrame, tier_s: int, span: int, shipped: list[tuple[str | None, object]]
):
    """(keys, grids, columns) of a prep frame holding whole span groups;
    ``shipped`` names each payload column (None: lineage) with its gap."""
    src = pdf["source"].to_numpy()
    spn = pdf["span_s"].to_numpy(np.int64)
    change = np.flatnonzero((spn[1:] != spn[:-1]) | (src[1:] != src[:-1])) + 1
    starts = np.concatenate([[0], change])
    group = np.repeat(np.arange(len(starts)), np.diff(np.append(starts, len(spn))))
    sp = spn[starts]
    # each group opens with its sentinel, which carries the source's bounds
    g0 = np.maximum(sp, pdf["lo"].to_numpy()[starts].astype(np.int64))
    g1 = np.minimum(sp + span, pdf["hi"].to_numpy()[starts].astype(np.int64) + tier_s)
    obs = ~pdf["is_sentinel"].to_numpy(bool)
    grids, cols = fill_spans(
        g0,
        -((g0 - g1) // tier_s),
        tier_s,
        group[obs],
        pdf["epoch_s"].to_numpy(np.int64)[obs],
        [(None if name is None else pdf[name].to_numpy()[obs], gap) for name, gap in shipped],
    )
    return list(zip(src[starts], sp.tolist())), grids, cols


def _whole_spans(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Re-cut an Arrow batch stream so no (source, span_s) group straddles
    two frames: each batch's trailing group is carried into the next."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        src = pdf["source"].to_numpy()
        spn = pdf["span_s"].to_numpy()
        diff = (spn != spn[-1]) | (src != src[-1])
        last_start = int(np.flatnonzero(diff)[-1] + 1) if diff.any() else 0
        carry = pdf.iloc[last_start:]
        if last_start:
            yield pdf.iloc[:last_start]
    if carry is not None and len(carry):
        yield carry


def dense_span_kernel(
    rollup: DataFrame,
    tier: str,
    payload: str | list[Fill],
    batch_fn: Callable[..., pd.DataFrame],
    schema,
    span: int | None = None,
) -> DataFrame:
    """One-shuffle zero-filled span kernel over a sparse rollup.

    ``payload`` is a value column (read as double, gaps 0.0) or a list of
    `Fill` entries. ``batch_fn(keys, grids, *columns)`` receives every
    whole span group of a batch: keys as (source, span_s) tuples, grids as
    the dense per-span epoch arrays, then one list of per-span arrays per
    payload column (for a value column: ``batch_fn(keys, grids, series)``).
    It returns the output rows as a pandas frame matching ``schema``."""
    fills = [("val", F.col(payload).cast("double"), 0.0)] if isinstance(payload, str) else payload
    prep, tier_s, span = sentinel_union_prep(rollup, tier, fills, span)
    # the Python side needs only names and gap values (Columns do not pickle)
    shipped = [(None if col is None else name, gap) for name, col, gap in fills]

    def kernel(batches):
        for pdf in _whole_spans(batches):
            keys, grids, cols = _fill_frame(pdf, tier_s, span, shipped)
            yield batch_fn(keys, grids, *cols)

    return prep.mapInPandas(kernel, schema)
