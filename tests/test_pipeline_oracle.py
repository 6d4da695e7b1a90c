"""run_tiers end to end against the single-threaded oracle.

For every tier of the pipeline, the gap-filled table and the eigen rows
must equal `oracle.full_pipeline` bit for bit, and the chunk table must
decode to the filled ``rate``. ``zero`` runs the single-shuffle tier kernel
(zero-fill inside the span kernel); ``ffill`` runs the relational gap-fill
and hands the dense tier to the same span kernel. Either way the eigen and
chunk outputs of one kernel pass equal the separate eigen and compress
operators, which are pinned to the oracle here.
"""

from __future__ import annotations

import numpy as np
import pytest

from covsar_spark import oracle
from covsar_spark.operators.compress import decompress_chunks
from covsar_spark.plans.pipeline import run_tiers
from covsar_spark.schemas import TIERS

from .conftest import assert_frames_equal, cols_to_spark

FILLED_COLS = ["source", "epoch_s", "token_count", "n_docs", "max_tok", "min_tok", "rate", "filled"]


def _sorted(pdf, keys):
    return pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("policy", ["zero", "ffill"])
def test_run_tiers_matches_oracle(spark, tiny_gappy_cols, policy):
    tiers = run_tiers(
        cols_to_spark(spark, tiny_gappy_cols), policy=policy, with_eigen=True, with_chunks=True
    )
    exp = oracle.full_pipeline(tiny_gappy_cols, policy)
    try:
        for tier in TIERS:
            d = tiers[tier]
            filled = _sorted(d["filled"].select(*FILLED_COLS).toPandas(), ["source", "epoch_s"])
            assert_frames_equal(
                filled, _sorted(exp[tier]["filled"], ["source", "epoch_s"]),
                keys=["source", "epoch_s"], exact_cols=FILLED_COLS,
            )

            got = _sorted(d["eigen"].toPandas(), ["source", "span_s"])
            want = _sorted(exp[tier]["eigen"], ["source", "span_s"])
            assert len(got) == len(want), tier
            assert (got["source"] == want["source"]).all()
            for c in ("span_s", "n_epochs", "lam", "tc"):
                assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), (tier, c)
            for a, b in zip(got["eig"], want["eig"]):
                assert np.array_equal(np.asarray(a), np.asarray(b)), tier

            pts = _sorted(decompress_chunks(d["chunks"]).toPandas(), ["source", "epoch_s"])
            assert (pts["source"] == filled["source"]).all(), tier
            assert np.array_equal(pts["epoch_s"].to_numpy(), filled["epoch_s"].to_numpy()), tier
            assert np.array_equal(pts["val"].to_numpy(), filled["rate"].to_numpy()), tier
    finally:
        for d in tiers.values():
            for df in d.values():
                df.unpersist()
