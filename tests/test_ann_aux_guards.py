"""ANN aux ulp-margin guards (ADVICE r06 #2/#3): the oracle must
degrade to rows-only ONLY when a sub-margin dot could actually change
the answer — not corpus-wide on the first marginal value — and exact
ties between bitwise-identical IVF centers are not ulp risk.

These exercise the pure-numpy aux generator directly (no Spark)."""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E  # noqa: E402
from eaststorm_searchengine_spark.operators.similarity import (  # noqa: E402
    _hyperplanes,
)

N_TABLES, N_PLANES, SEED = 12, 6, 42  # aux constants (lsh_cosine_topk defaults)


def _write_corpus(tmp_path, vecs):
    # float64 list schema: these tests target the aux guard arithmetic,
    # which reads whatever the parquet holds as float64
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                type=pa.list_(pa.float64()),
            ),
        }),
        f"{tmp_path}/embeddings.parquet",
    )


def _paths(tmp_path):
    return {
        k: str(tmp_path / f"{k}.parquet")
        for k in ("ann_lsh_sigs", "ann_lsh_probes", "ann_ivf_assign", "ann_ivf_probes")
    }


def _probed_buckets(qvecs):
    """Reproduce the aux's query probe sets per table (float32 hop +
    per-plane sequential dot)."""
    probed = [set() for _ in range(N_TABLES)]
    for q in qvecs:
        arr = np.asarray([float(np.float32(x)) for x in q], dtype=np.float64)
        for t in range(N_TABLES):
            planes = _hyperplanes(len(q), N_PLANES, seed=SEED + t)
            sig = 0
            for i, p in enumerate(planes):
                if float(arr @ p) > 0:
                    sig |= 1 << i
            probed[t] |= {sig} | {sig ^ (1 << i) for i in range(N_PLANES)}
    return probed


def _sig(v, t):
    planes = _hyperplanes(len(v), N_PLANES, seed=SEED + t)
    sig = 0
    for i, p in enumerate(planes):
        if float(np.asarray(v) @ p) > 0:
            sig |= 1 << i
    return sig


def test_ivf_identical_center_ties_do_not_degrade(tmp_path):
    """Three identical vectors: k-means returns duplicate centers, every
    runner-up margin is exactly 0 — but the tie is between bitwise-equal
    affinities, so argmax is reproducible and the oracle must stay on."""
    v = [0.3, -0.7, 0.2, 0.9, -0.1, 0.4, 0.6, -0.5]
    _write_corpus(tmp_path, [v, v, v])
    n, s, info = E._ann_aux_tables(_paths(tmp_path), str(tmp_path))
    assert (n, s) == (3, 3)
    assert info["lsh_submargin_dots"] == 0
    assign = pq.read_table(str(tmp_path / "ann_ivf_assign.parquet"))
    assert assign.num_rows == 3


def test_lsh_submargin_outside_probed_buckets_does_not_degrade(tmp_path):
    """A corpus vector exactly orthogonal to one hyperplane is a
    sub-margin dot — but when neither candidate signature touches a
    probed bucket, the answer cannot change and the oracle stays on,
    with the sub-margin count surfaced in the info dict."""
    rng = np.random.RandomState(7)
    dim = 8
    base = [rng.randn(dim) for _ in range(9)]
    planes0 = _hyperplanes(dim, N_PLANES, seed=SEED + 0)
    p = planes0[0]
    probed = _probed_buckets(base[:3])
    marginal = None
    for trial in range(500):
        w = rng.randn(dim)
        v = w - (w @ p) / (p @ p) * p  # exact-ish orthogonal to plane (t=0, i=0)
        assert abs(v @ p) / np.abs(v).sum() < 1e-9
        cand = {_sig(v, 0), _sig(v, 0) ^ 1}
        # other planes must be safely non-marginal; other tables too
        ok = all(
            abs(float(v @ q)) / np.abs(v).sum() > 1e-6
            for t in range(N_TABLES)
            for j, q in enumerate(_hyperplanes(dim, N_PLANES, seed=SEED + t))
            if not (t == 0 and j == 0)
        )
        if ok and not (cand & probed[0]):
            marginal = v
            break
    assert marginal is not None, "no non-probed marginal vector found"
    _write_corpus(tmp_path, base + [marginal])
    n, s, info = E._ann_aux_tables(_paths(tmp_path), str(tmp_path))
    assert n == 10
    assert info["lsh_submargin_dots"] >= 1


def test_lsh_submargin_touching_probed_bucket_degrades(tmp_path):
    """Same construction, but the marginal vector shares its other sign
    bits with query 0 in table 0 — its candidate signatures sit inside
    query 0's probe set, so the guard must degrade loudly."""
    rng = np.random.RandomState(11)
    dim = 8
    base = [rng.randn(dim) for _ in range(9)]
    planes0 = _hyperplanes(dim, N_PLANES, seed=SEED + 0)
    p = planes0[0]
    probed = _probed_buckets(base[:3])
    v = None
    for trial in range(500):
        w = rng.randn(dim)
        c = w - (w @ p) / (p @ p) * p  # orthogonal to plane (t=0, i=0)
        assert abs(c @ p) / np.abs(c).sum() < 1e-9
        if {_sig(c, 0), _sig(c, 0) ^ 1} & probed[0]:
            v = c
            break
    assert v is not None, "no probed-bucket marginal vector found"
    _write_corpus(tmp_path, base + [v])
    with pytest.raises(E._AnnAuxUnsupported, match="probed bucket"):
        E._ann_aux_tables(_paths(tmp_path), str(tmp_path))
