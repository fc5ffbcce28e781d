"""Pure-numpy full-batch replica of the distributed GloVe trainer.

The strongest semantic tooth for H5 (SURVEY.md §5.3): the distributed
pipeline (Arrow-batched gradient kernel with in-batch partial
aggregation → cogrouped fused merge+AdaGrad step) must compute the
SAME full-batch AdaGrad dynamics as a ~40-line sequential numpy
implementation driven from the same co-occurrence matrix and the same
seeded init. Any error in the merge (double-counted partials, wrong
mean normalization, stale-parameter reads, accumulator-update order)
diverges within an iteration or two; summation-order float noise stays
around 1e-12 over 8 iterations — asserted at 1e-9.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

from spark_glove_spark.glove import Glove
from spark_glove_spark.glove.trainer import (
    GloveConfig,
    _grad_kernel,
    _make_broadcast_grad_kernel,
    build_cooccurrence,
    build_vocabulary,
)

CFG = dict(dim=6, window=4, min_count=2, iterations=8, seed=11, blocks=2)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "red green blue red green red"),
        (1, "blue blue green red yellow green"),
        (2, "yellow red red green blue yellow"),
        (3, "green yellow blue blue red green"),
        (4, "red blue yellow green green blue"),
        (5, "blue green red yellow red blue"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _numpy_reference(X: np.ndarray, ids: list[int], cfg: GloveConfig):
    """Sequential full-batch AdaGrad with per-word MEAN gradients —
    the semantics trainer.py implements distributively."""
    dim, eta = cfg.dim, cfg.eta
    n = len(ids)
    pos = {wid: k for k, wid in enumerate(ids)}
    W = np.zeros((n, dim))
    WC = np.zeros((n, dim))
    for wid in ids:
        rng = np.random.default_rng([cfg.seed, int(wid)])
        vecs = (rng.random((2, dim)) - 0.5) / dim
        W[pos[wid]], WC[pos[wid]] = vecs[0], vecs[1]
    b = np.zeros(n)
    bc = np.zeros(n)
    GW = np.ones((n, dim))
    GWC = np.ones((n, dim))
    gb = np.ones(n)
    gbc = np.ones(n)

    ii = np.array([pos[int(i)] for i in X[:, 0]], dtype=int)
    jj = np.array([pos[int(j)] for j in X[:, 1]], dtype=int)
    logx, fx = X[:, 3], X[:, 4]

    losses = []
    for _ in range(cfg.iterations):
        diff = (W[ii] * WC[jj]).sum(axis=1) + b[ii] + bc[jj] - logx
        fd = fx * diff
        losses.append(0.5 * float((fd * diff).sum()))

        def mean_grads(idx, gvec, gbias):
            dv = np.zeros((n, gvec.shape[1]))
            db = np.zeros(n)
            dn = np.zeros(n)
            np.add.at(dv, idx, gvec)
            np.add.at(db, idx, gbias)
            np.add.at(dn, idx, 1)
            m = dn > 0
            dv[m] /= dn[m, None]
            db[m] /= dn[m]
            return dv, db, m

        dW, dB, mi = mean_grads(ii, fd[:, None] * WC[jj], fd)
        dWC, dBC, mj = mean_grads(jj, fd[:, None] * W[ii], fd)
        # synchronous step: all gradients from pre-step parameters
        W[mi] -= eta * dW[mi] / np.sqrt(GW[mi])
        GW[mi] += dW[mi] ** 2
        b[mi] -= eta * dB[mi] / np.sqrt(gb[mi])
        gb[mi] += dB[mi] ** 2
        WC[mj] -= eta * dWC[mj] / np.sqrt(GWC[mj])
        GWC[mj] += dWC[mj] ** 2
        bc[mj] -= eta * dBC[mj] / np.sqrt(gbc[mj])
        gbc[mj] += dBC[mj] ** 2

    vectors = {wid: W[pos[wid]] + WC[pos[wid]] for wid in ids}
    return losses, vectors


def test_distributed_fit_matches_numpy_reference(spark, corpus):
    cfg = GloveConfig(**CFG)
    vocab = build_vocabulary(corpus, cfg)
    x = build_cooccurrence(corpus, vocab, cfg).toPandas()
    assert len(x) > 10, "fixture corpus produced a degenerate X"
    ids = [r.id for r in vocab.select("id").collect()]

    ref_losses, ref_vectors = _numpy_reference(
        x[["i", "j", "x", "logx", "fx"]].to_numpy(), ids, cfg
    )

    model = Glove(**CFG).fit(corpus)
    assert len(model.losses) == cfg.iterations
    np.testing.assert_allclose(model.losses, ref_losses, rtol=1e-9)

    got = {r.id: np.array(r.vector) for r in model.vectors.collect()}
    assert set(got) == set(ref_vectors)
    for wid in ids:
        np.testing.assert_allclose(
            got[wid], ref_vectors[wid], atol=1e-9,
            err_msg=f"vector mismatch for word id {wid}",
        )


def test_cooccurrence_matches_python_bruteforce(spark, corpus):
    """X from ``build_cooccurrence`` against a pure-Python build over
    the same corpus (vocabulary, windowed 1/d counts, mirroring, ln x
    and f(x) all recomputed here, none of it read back from Spark):
    both directions off the diagonal, 2x on it."""
    cfg = GloveConfig(**CFG)
    texts = [r.text for r in corpus.orderBy("doc_id").collect()]
    freq = Counter(t for text in texts for t in text.split())
    kept = sorted(
        (w for w, c in freq.items() if c >= cfg.min_count),
        key=lambda w: (-freq[w], w),
    )
    ids = {w: k for k, w in enumerate(kept)}
    canon: dict = defaultdict(float)
    for text in texts:
        toks = text.split()
        for p in range(len(toks)):
            for q in range(p + 1, min(p + cfg.window, len(toks) - 1) + 1):
                if toks[p] in ids and toks[q] in ids:
                    canon[tuple(sorted((ids[toks[p]], ids[toks[q]])))] += 1.0 / (q - p)
    expected = {}
    for (i, j), x in canon.items():
        if i == j:
            expected[(i, i)] = 2 * x
        else:
            expected[(i, j)] = expected[(j, i)] = x

    got = build_cooccurrence(corpus, build_vocabulary(corpus, cfg), cfg).collect()
    assert len(got) == len({(r.i, r.j) for r in got}), "duplicate X cells"
    assert {(r.i, r.j) for r in got} == set(expected)
    assert any(i == j for i, j in expected), "fixture has no diagonal cell"
    for r in got:
        x = expected[(r.i, r.j)]
        fx = min(x / cfg.x_max, 1.0) ** cfg.alpha
        assert abs(r.x - x) < 1e-12, (r.i, r.j, r.x, x)
        assert abs(r.logx - math.log(x)) < 1e-12, (r.i, r.j, r.logx)
        assert abs(r.fx - fx) < 1e-12, (r.i, r.j, r.fx, fx)


def test_broadcast_kernel_matches_join_layout_kernel():
    """The two gradient kernels on the same X cells, without Spark: the
    join layout reads (i, j, logx, fx, w, b, wc, bc) rows, the
    broadcast one reads (i, j, logx, fx) and indexes dense param
    arrays by id. Their output batches must be equal bit for bit
    (repeated ids make the in-batch np.add.at order matter)."""
    rng = np.random.default_rng(5)
    n_words, dim, n = 13, 5, 400
    W, WC = rng.normal(size=(n_words, dim)), rng.normal(size=(n_words, dim))
    b, bc = rng.normal(size=n_words), rng.normal(size=n_words)
    i, j = rng.integers(0, n_words, n), rng.integers(0, n_words, n)
    logx, fx = rng.random(n), rng.random(n)

    def vecs(m):
        return pa.array(list(m), type=pa.list_(pa.float64()))

    joined = pa.RecordBatch.from_arrays(
        [i, j, logx, fx, vecs(W[i]), b[i], vecs(WC[j]), bc[j]],
        names=["i", "j", "logx", "fx", "w", "b", "wc", "bc"],
    )
    own = pa.RecordBatch.from_arrays([i, j, logx, fx], names=["i", "j", "logx", "fx"])
    params = SimpleNamespace(value=(W, WC, b, bc))  # a Broadcast's read side

    (want,) = _grad_kernel(iter([joined]))
    (got,) = _make_broadcast_grad_kernel(params)(iter([own]))
    assert got.num_rows > 2 * n_words  # partials per side plus the loss row
    assert got.serialize().to_pybytes() == want.serialize().to_pybytes()
