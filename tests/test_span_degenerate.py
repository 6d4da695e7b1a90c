"""Degenerate rollups through the span-kernel skeleton.

Each case goes through the tier kernel and through `dense_span_kernel`, and
must equal the relational `gapfill(..., "zero")` tier fed to the bucketed
path (`span_kernel(..., fill=None)`, `eigen_rollup`, `compress_rollup`):

- an empty rollup (no rows out);
- a source observed at a single epoch (one one-point span);
- a source with a fully empty interior span (the sentinel emits it);
- observed rows whose ``max_tok``/``min_tok`` are NULL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from covsar_spark.operators.compress import compress_rollup
from covsar_spark.operators.eigen import eigen_rollup
from covsar_spark.operators.gapfill import gapfill
from covsar_spark.operators.spanbucket import span_kernel
from covsar_spark.operators.spanfill import dense_span_kernel
from covsar_spark.operators.tier_kernel import split_outputs, tier_kernel

from .conftest import assert_frames_equal

ROLLUP_DDL = (
    "source string, epoch_s long, token_count long, n_docs long, "
    "max_tok int, min_tok int, rate double, filled boolean"
)
T0 = 1_700_000_000 // 3600 * 3600  # a 1m-tier eigen-span boundary


def _row(src, minute, tok, null_max_min=False):
    m = None if null_max_min else tok
    return (src, T0 + 60 * minute, tok, 1, m, m, tok / 60.0, False)


CASES = {
    "empty": [],
    "single_epoch": [_row("one", 17, 5)],
    "empty_interior_span": [_row("gap", 50, 3), _row("gap", 55, 4), _row("gap", 130, 9)],
    "null_max_min": [_row("nul", 1, 2, True), _row("nul", 3, 6), _row("nul", 4, 1, True)],
}
EXPECTED_SPANS = {"empty": 0, "single_epoch": 1, "empty_interior_span": 3, "null_max_min": 1}

SPAN_DDL = "source string, span_s long, epochs array<long>, vals array<double>"


def _spans(keys, grids, series):
    """batch_fn echoing each span's grid and series."""
    return pd.DataFrame(
        {
            "source": [k[0] for k in keys],
            "span_s": [k[1] for k in keys],
            "epochs": grids,
            "vals": series,
        },
        columns=["source", "span_s", "epochs", "vals"],
    )


def _pdf(df, keys):
    return df.toPandas().sort_values(keys, kind="mergesort").reset_index(drop=True)


@pytest.fixture(params=sorted(CASES))
def case(request, spark):
    return request.param, spark.createDataFrame(CASES[request.param], ROLLUP_DDL)


def test_tier_kernel_degenerate(case):
    name, roll = case
    filled_k, eig_k, chunks_k = split_outputs(tier_kernel(roll, "1m"))
    dense = gapfill(roll, "1m", "zero")
    cols = ["source", "epoch_s", "token_count", "n_docs", "max_tok", "min_tok", "rate", "filled"]
    assert_frames_equal(
        _pdf(filled_k, ["source", "epoch_s"]), _pdf(dense.select(*cols), ["source", "epoch_s"]),
        keys=["source", "epoch_s"], exact_cols=cols,
    )

    ek = _pdf(eig_k, ["source", "span_s"])
    er = _pdf(eigen_rollup(dense, "1m"), ["source", "span_s"])
    assert len(ek) == len(er) == EXPECTED_SPANS[name]
    for c in ("source", "span_s", "n_epochs", "lam", "tc"):
        assert ek[c].tolist() == er[c].tolist(), c
    for a, b in zip(ek["eig"], er["eig"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))

    ck = _pdf(chunks_k, ["source", "span_s"])
    cr = _pdf(compress_rollup(dense, "1m"), ["source", "span_s"])
    assert ck["n_points"].tolist() == cr["n_points"].tolist()
    assert [bytes(b) for b in ck["ts_blob"]] == [bytes(b) for b in cr["ts_blob"]]
    assert [bytes(b) for b in ck["val_blob"]] == [bytes(b) for b in cr["val_blob"]]
    if name == "single_epoch":
        assert ck["n_points"].tolist() == [1]
    if name == "empty_interior_span":
        assert ck["n_points"].tolist() == [10, 60, 11]


def test_dense_span_kernel_degenerate(case):
    name, roll = case
    got = _pdf(dense_span_kernel(roll, "1m", "token_count", _spans, SPAN_DDL), ["source", "span_s"])
    exp = _pdf(
        span_kernel(gapfill(roll, "1m", "zero"), "1m", "token_count", _spans, SPAN_DDL),
        ["source", "span_s"],
    )
    assert len(got) == len(exp) == EXPECTED_SPANS[name]
    assert got["source"].tolist() == exp["source"].tolist()
    assert got["span_s"].tolist() == exp["span_s"].tolist()
    for c in ("epochs", "vals"):
        for a, b in zip(got[c], exp[c]):
            assert np.array_equal(np.asarray(a), np.asarray(b)), c
