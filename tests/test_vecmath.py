"""Blocked pair kernel: the optional band mask keeps exactly the unmasked
kernel's pairs that share a full hyperplane band (pure pandas, no Spark)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tempeh_spark.vecmath import band_buckets_udf, role_pair_kernel


def _corpus(seed: int, dtype) -> tuple[np.ndarray, np.ndarray]:
    """Clustered vectors, so the threshold keeps many pairs: 40 centres with
    8 noisy members each, ids shuffled against cluster order."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(40, 16))
    X = np.repeat(centres, 8, axis=0) + 0.4 * rng.normal(size=(320, 16))
    ids = rng.permutation(320).astype(np.int64) * 3 + 1
    return ids, X.astype(dtype)


def _group(ids: np.ndarray, X: np.ndarray) -> pd.DataFrame:
    """One applyInPandas group: the whole corpus as the a-block (role 0)
    and again as the replicated corpus (role 1)."""
    half = {"id": ids, "vec": list(X)}
    return pd.concat(
        [pd.DataFrame({"role": 0, **half}), pd.DataFrame({"role": 1, **half})],
        ignore_index=True,
    )


@pytest.mark.parametrize(
    "seed,dtype,n_bands,planes_per_band,centred",
    [(1, np.float64, 3, 4, False), (2, np.float32, 4, 3, True)],
)
def test_band_mask_keeps_exactly_the_colliding_pairs(
    seed, dtype, n_bands, planes_per_band, centred
):
    ids, X = _corpus(seed, dtype)
    dim = X.shape[1]
    mu = X.astype(np.float64).mean(axis=0).tolist() if centred else None
    pdf = _group(ids, X)

    plain = role_pair_kernel(0.5)(pdf)
    masked = role_pair_kernel(0.5, bands=(dim, n_bands, planes_per_band, mu))(pdf)

    buckets = band_buckets_udf(dim, n_bands, planes_per_band, center=mu).func(
        pd.Series(list(X))
    )
    bucket_of = {int(i): np.asarray(b) for i, b in zip(ids, buckets)}

    def share_band(a, b) -> bool:
        return bool((bucket_of[a] == bucket_of[b]).any())

    want = {
        (int(a), int(b)): c
        for a, b, c in plain.itertuples(index=False)
        if share_band(int(a), int(b))
    }
    got = {(int(a), int(b)): c for a, b, c in masked.itertuples(index=False)}
    assert got == want
    # the mask must actually cut something, and leave something
    assert 0 < len(got) < len(plain)
    assert all(a < b for a, b in got)


def test_band_mask_rejects_unpackable_signatures():
    with pytest.raises(ValueError):
        role_pair_kernel(0.5, bands=(16, 8, 8, None))


def test_empty_role_yields_typed_empty_frame():
    ids, X = _corpus(3, np.float64)
    only_a = _group(ids, X).query("role == 0")
    out = role_pair_kernel(0.5)(only_a)
    assert len(out) == 0
    assert list(out.dtypes.astype(str)) == ["int64", "int64", "float64"]
