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
    _make_symmetric_grad_kernel,
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


def _symmetric_cells(rng, n_words: int, n_canon: int):
    """A random symmetric X over ``n_words`` ids: distinct canonical
    cells (a ≤ c) mirrored into (a, c) and (c, a), a diagonal cell kept
    once, each mirror with the same logx and fx. Rows come shuffled."""
    a, c = rng.integers(0, n_words, (2, n_canon))
    canon = np.unique(np.stack([np.minimum(a, c), np.maximum(a, c)], axis=1), axis=0)
    logx, fx = rng.normal(size=len(canon)), rng.random(len(canon))
    off = canon[:, 0] != canon[:, 1]
    i = np.concatenate([canon[:, 0], canon[off, 1]])
    j = np.concatenate([canon[:, 1], canon[off, 0]])
    logx, fx = np.concatenate([logx, logx[off]]), np.concatenate([fx, fx[off]])
    order = rng.permutation(len(i))
    assert (~off).any() and off.any(), "want diagonal and off-diagonal cells"
    return i[order], j[order], logx[order], fx[order]


def _params(rng, n_words: int, dim: int):
    W, WC = rng.normal(size=(n_words, dim)), rng.normal(size=(n_words, dim))
    return W, WC, rng.normal(size=n_words), rng.normal(size=n_words)


def _run_symmetric(params, i, j, logx, fx, batch: int) -> dict:
    """The symmetric kernel over the cells in ``batch``-row Arrow
    batches, read back as {id: (dw, dwc, db, dbc, n)} plus the loss."""
    batches = [
        pa.RecordBatch.from_arrays(
            [i[s:s + batch], j[s:s + batch], logx[s:s + batch], fx[s:s + batch]],
            names=["i", "j", "logx", "fx"],
        )
        for s in range(0, len(i), batch)
    ]
    (out,) = _make_symmetric_grad_kernel(SimpleNamespace(value=params))(iter(batches))
    rows = out.to_pylist()
    assert rows[-1]["id"] == -1 and rows[-1]["dw"] is None
    got = {
        r["id"]: (np.array(r["dw"]), np.array(r["dwc"]), r["db"], r["dbc"], r["dn"])
        for r in rows[:-1]
    }
    return got, rows[-1]["db"]


def _assert_close(got: dict, want: dict, loss: float, want_loss: float) -> None:
    assert set(got) == set(want)
    for wid, (dw, dwc, db, dbc, n) in want.items():
        g = got[wid]
        np.testing.assert_allclose(g[0], dw, rtol=1e-12, atol=1e-12)
        np.testing.assert_allclose(g[1], dwc, rtol=1e-12, atol=1e-12)
        np.testing.assert_allclose([g[2], g[3]], [db, dbc], rtol=1e-12, atol=1e-12)
        assert g[4] == n
    assert loss == pytest.approx(want_loss, rel=1e-12)


def test_symmetric_kernel_matches_bruteforce():
    """The broadcast-regime kernel, without Spark, on the cells of one
    i-partition of a symmetric X: every held id's centre and context
    gradient sums and pair count equal a cell-by-cell sum over ALL
    mirrored cells (diagonal ones included), and the loss is the
    partition's own cells' ½·f·diff². Batches of 7 rows split ids
    across several Arrow batches."""
    rng = np.random.default_rng(5)
    n_words, dim = 13, 5
    W, WC, b, bc = params = _params(rng, n_words, dim)
    i, j, logx, fx = _symmetric_cells(rng, n_words, 60)
    held = np.isin(i, np.arange(0, n_words, 2))  # this task's ids
    want: dict = {}
    loss = 0.0
    for a, c, lx, f in zip(i, j, logx, fx):  # every cell, both sides
        diff = W[a] @ WC[c] + b[a] + bc[c] - lx
        for wid, side, vec in ((a, 0, WC[c]), (c, 1, W[a])):
            if wid % 2:
                continue
            acc = want.setdefault(int(wid), [np.zeros(dim), np.zeros(dim), 0.0, 0.0, 0])
            acc[side] = acc[side] + f * diff * vec
            acc[2 + side] += f * diff
            acc[4] += side == 0
        if a % 2 == 0:
            loss += 0.5 * f * diff * diff
    ids = i[held]
    assert max(np.bincount(ids)) > 7, "no id spans several batches"
    got, got_loss = _run_symmetric(params, ids, j[held], logx[held], fx[held], 7)
    _assert_close(got, {k: tuple(v) for k, v in want.items()}, got_loss, loss)


def test_symmetric_kernel_matches_summed_join_layout_partials():
    """The join-layout kernel (used above the broadcast cap) reads each
    cell's own params and emits per-batch (id, side) partials; summed
    per id and side, over the same symmetric X, they are the symmetric
    kernel's totals, and the loss rows agree."""
    rng = np.random.default_rng(9)
    n_words, dim = 11, 4
    W, WC, b, bc = params = _params(rng, n_words, dim)
    i, j, logx, fx = _symmetric_cells(rng, n_words, 50)

    def vecs(m):
        return pa.array(list(m), type=pa.list_(pa.float64()))

    joined = [
        pa.RecordBatch.from_arrays(
            [i[s], j[s], logx[s], fx[s], vecs(W[i[s]]), b[i[s]], vecs(WC[j[s]]), bc[j[s]]],
            names=["i", "j", "logx", "fx", "w", "b", "wc", "bc"],
        )
        for s in (slice(0, 40), slice(40, None))
    ]
    want: dict = {}
    loss = 0.0
    for out in _grad_kernel(iter(joined)):
        for r in out.to_pylist():
            if r["side"] == -1:
                loss += r["dbias"]
                continue
            acc = want.setdefault(r["id"], [np.zeros(dim), np.zeros(dim), 0.0, 0.0, 0])
            acc[r["side"]] = acc[r["side"]] + np.array(r["dvec"])
            acc[2 + r["side"]] += r["dbias"]
            acc[4] += r["dn"] if r["side"] == 0 else 0
    got, got_loss = _run_symmetric(params, i, j, logx, fx, 16)
    _assert_close(got, {k: tuple(v) for k, v in want.items()}, got_loss, loss)
