"""The tier kernel: gap-fill + eigen + codec of one tier in ONE exchange.

`tier_rows` is the eigen + codec body run on `spanfill.dense_span_kernel`:
for each zero-filled span it runs the batched lag-cov eigh over the token
counts and the segmented Gorilla/DoD encode of (epochs, rate), and emits
one span row. With ``emit_points`` the row also carries the filled points
as parallel array columns, so `split_outputs` recovers the dense tier
table JVM-side with one `explode` and no further shuffle. The streamed twin
(streaming/span_stream.py) runs the same body on spans it closes.

The kernel fills with the ``zero`` policy only. Given an already dense tier
(ffill/linear/cross, operators/gapfill.py) it fills nothing and just runs
the body.

Exactness: output rows equal the relational gapfill + eigen_rollup +
compress_rollup results bit for bit (tests/test_tier_kernel.py,
tests/test_pipeline_oracle.py): eigh sees the same canonical zero-filled,
epoch-sorted series.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import EIGEN_P
from .codecs import encode_dod_many, encode_xor_many
from .eigen import lagcov_eig_batch
from .spanfill import dense_span_kernel

# filled points ride as parallel array columns (one numpy array per span row)
# — zero per-point Python; the dense tier table is arrays_zip+explode'd back
# JVM-side. max/min ride as double (NaN = gap) and cast to int after explode.
TIER_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("span_s", T.LongType(), False),
        T.StructField("n_epochs", T.IntegerType(), False),
        T.StructField("lam", T.DoubleType(), False),
        T.StructField("tc", T.DoubleType(), False),
        T.StructField("eig", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
        T.StructField("p_epoch", T.ArrayType(T.LongType(), False), False),
        T.StructField("p_tok", T.ArrayType(T.LongType(), False), False),
        T.StructField("p_docs", T.ArrayType(T.LongType(), False), False),
        T.StructField("p_max", T.ArrayType(T.DoubleType(), True), False),
        T.StructField("p_min", T.ArrayType(T.DoubleType(), True), False),
        T.StructField("p_rate", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("p_filled", T.ArrayType(T.BooleanType(), False), False),
    ]
)


_META_COLS = [
    "source", "span_s", "n_epochs", "lam", "tc", "eig", "n_points", "ts_blob", "val_blob"
]
TIER_SCHEMA_META = T.StructType([f for f in TIER_SCHEMA.fields if f.name in _META_COLS])

# the rollup columns the body reads and the value each carries at a gap, in
# `tier_rows` order; the kernel appends the `filled` lineage flag
TIER_GAPS = (
    ("token_count", 0),
    ("n_docs", 0),
    ("max_tok", np.nan),
    ("min_tok", np.nan),
    # observed epochs carry the INPUT rollup's rate verbatim (not a
    # tok/tier_s recompute, which would diverge for a pre-rounded rate)
    ("rate", 0.0),
)


def tier_rows(keys, grids, tok, docs, mx, mn, rate, filled, p=EIGEN_P, emit_points=True):
    """Span rows of a batch of filled spans: eigen over the token counts,
    DoD/XOR blobs over (grid, rate), and with ``emit_points`` the filled
    points themselves."""
    res = lagcov_eig_batch([t.astype(np.float64) for t in tok], p)
    n = np.fromiter(map(len, grids), np.int32, len(grids))
    out = {
        "source": [k[0] for k in keys],
        "span_s": [k[1] for k in keys],
        "n_epochs": n,
        "lam": [r[0] for r in res],
        "tc": [r[1] for r in res],
        "eig": [r[2] for r in res],
        "n_points": n,
        "ts_blob": encode_dod_many(grids),
        "val_blob": encode_xor_many(rate),
    }
    if emit_points:
        out.update(
            p_epoch=grids, p_tok=tok, p_docs=docs, p_max=mx, p_min=mn, p_rate=rate,
            p_filled=filled,
        )
    return pd.DataFrame(out)


def tier_kernel(
    rollup: DataFrame, tier: str, p: int = EIGEN_P, emit_points: bool = True
) -> DataFrame:
    """rollup -> span rows with (eigen, blobs[, dense filled points arrays]).

    ``emit_points=False`` drops the point-array columns from the Arrow
    return path when no consumer materializes the dense tier (the retention
    store is the compressed chunks; dense rows decode on demand)."""
    fills = [(name, name, gap) for name, gap in TIER_GAPS] + [("filled", None, True)]
    return dense_span_kernel(
        rollup,
        tier,
        fills,
        functools.partial(tier_rows, p=p, emit_points=emit_points),
        TIER_SCHEMA if emit_points else TIER_SCHEMA_META,
    )


def split_outputs(k: DataFrame) -> tuple[DataFrame | None, DataFrame, DataFrame]:
    """kernel output -> (filled tier table, eigen table, chunk table); the
    filled table is None when the kernel emitted no points."""
    eig = k.select("source", "span_s", "n_epochs", "lam", "tc", "eig")
    chunks = k.select("source", "span_s", "n_points", "ts_blob", "val_blob")
    if "p_epoch" not in k.columns:
        return None, eig, chunks
    zipped = F.arrays_zip("p_epoch", "p_tok", "p_docs", "p_max", "p_min", "p_rate", "p_filled")
    int_or_null = lambda c: F.when(~F.isnan(c), c.cast("int"))  # noqa: E731 — NaN marks a gap
    filled = k.select("source", F.explode(zipped).alias("pt")).select(
        "source",
        F.col("pt.p_epoch").alias("epoch_s"),
        F.col("pt.p_tok").alias("token_count"),
        F.col("pt.p_docs").alias("n_docs"),
        int_or_null(F.col("pt.p_max")).alias("max_tok"),
        int_or_null(F.col("pt.p_min")).alias("min_tok"),
        F.col("pt.p_rate").alias("rate"),
        F.col("pt.p_filled").alias("filled"),
    )
    return filled, eig, chunks
