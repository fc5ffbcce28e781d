"""Distributed GloVe training (SURVEY.md §2 H5/H6, §3 EP2, §4.3.2-4).

Implements the GloVe objective (Pennington, Socher & Manning, EMNLP
2014, eq. 8):

    J = Σ_ij f(X_ij) (w_i·w̃_j + b_i + b̃_j − ln X_ij)²

with the paper's weighting f (eq. 9, x_max=100, α=0.75) and AdaGrad
per-coordinate learning rates (paper §4.2; accumulators initialized
to 1 as in the reference C implementation; see GloveConfig.eta for
the batch-mode learning-rate note).
The distributed adaptation: gradients are summed per word over a full
pass of X, then one AdaGrad step is applied per iteration (synchronous
batch AdaGrad) — the standard data-parallel form of the reference's
per-sample loop; same fixed point, deterministic given a seed.

Once per fit, X is built with ONE pair explode, partial aggregate and
(wi, wj) shuffle: each canonical cell is mirrored by a single explode
into (i,j,x) + (j,i,x), or (i,i,2x) on the diagonal, then hash-
partitioned by i and persisted. The vocabulary is one collect of the
frequency-ranked words (ids = rank); the parameter init runs on the
driver from per-id seeded RNGs.

Execution shape per iteration when the parameter table fits the
broadcast cap (V·d ≤ broadcast_max_weights, every bench and test
config):

  mapInArrow symmetric gradient kernel over     X is symmetric and
  X's own (i, j, logx, fx) rows                 partitioned by i, so for
                                                each local cell (i, j, x)
                                                the mirror (j, i, x) is
                                                the same row read the
                                                other way round: a task
                                                sums the COMPLETE centre
                                                (diff_ij) and context
                                                (diff_ji) gradients and
                                                the pair count of every
                                                id it owns, reading dense
                                                (W, W̃, b, b̃) from ONE
                                                Spark broadcast; it emits
                                                one row per owned id plus
                                                one loss row
  → ONE toArrow() collect                       the only Spark job of the
                                                iteration
  → mean-gradient AdaGrad step on the driver    params and accumulators
                                                live there as dense numpy
                                                arrays (2·V·d doubles,
                                                bounded by the cap) and
                                                feed the next broadcast

The returned model's vectors and state are Arrow tables built on the
driver, so a broadcast-regime fit leaves nothing persisted.

Above the cap the params are a DataFrame and never collected: the
kernel reads them from X ⋈ params(center i) ⋈ params(context j), joins
whose X side never re-shuffles; the partial gradients cogroup with the
params by id % blocks into one fused merge+AdaGrad applyInArrow
kernel (few LARGE groups, never per-word — SURVEY §4.3.4), whose
result is localCheckpointed and persisted (lineage truncation,
SURVEY §4.3.2); the loss is a Σb over its id = −1 row.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spark_glove_spark.functions.text import tokens_expr
from spark_glove_spark.functions.vector import dot
from spark_glove_spark.operators.cooccurrence import cooccurrence_matrix

_GRADS_SCHEMA = (
    "id long, side int, dvec array<double>, dbias double, dn long"
)
_SYM_GRADS_SCHEMA = (
    "id long, dw array<double>, dwc array<double>, db double, dbc double, dn long"
)
_STATE_COLS = ("w", "wc", "b", "bc", "gw", "gwc", "gb", "gbc")
_PARAMS_SCHEMA = (
    "id long, w array<double>, wc array<double>, b double, bc double, "
    "gw array<double>, gwc array<double>, gb double, gbc double"
)
_VEC = pa.list_(pa.float64())
_PARAMS_ARROW = pa.schema(
    [
        ("id", pa.int64()), ("w", _VEC), ("wc", _VEC),
        ("b", pa.float64()), ("bc", pa.float64()),
        ("gw", _VEC), ("gwc", _VEC), ("gb", pa.float64()), ("gbc", pa.float64()),
    ]
)


@dataclass
class GloveConfig:
    dim: int = 50
    window: int = 10
    min_count: int = 5
    max_vocab: int = 400_000
    x_max: float = 100.0
    alpha: float = 0.75
    # The GloVe paper's 0.05 is a PER-SAMPLE AdaGrad rate; this trainer
    # applies one synchronous step per pass over X with per-word MEAN
    # gradients, which supports a larger step. Measured (round 1, both
    # the planted-topic corpus and the fixture corpus): eta=0.2 reaches
    # near-zero loss in ~20 iterations, monotone; 0.05 is ~25× slower
    # to converge; 1.0 diverges. Pass eta=0.05 to mimic paper pacing.
    eta: float = 0.2
    iterations: int = 15
    seed: int = 42
    # "uniform": reference C init, per-id seeded PCG64 RNG (default).
    # "grid": closed-form integer-mod init — exactly expressible in
    # plain SQL, so a micro fit can be hash-checked end-to-end against
    # a DuckDB oracle that unrolls the same iterations (the
    # h5_glove_fit_micro driver gate). Same training math either way.
    init: str = "uniform"
    blocks: int = 32  # merge-block count; ≈ cluster cores at scale
    # Max parameter-table size (words × dim) that the fit keeps on the
    # driver as dense arrays: each iteration broadcasts them to the
    # symmetric gradient kernel, collects one row per word and steps
    # them there. Above it the params stay a DataFrame, read through
    # X ⋈ params joins on X's pre-partitioned side (SURVEY §4.3.3) and
    # stepped by a cogrouped kernel. Results are the same either way
    # up to summation order (tested); only the physical plan changes.
    broadcast_max_weights: int = 2_000_000


@dataclass
class GloveModel:
    """H6: trained model — word → vector (W + W̃, paper §4.2).

    ``state`` (r13) is the FULL optimizer state keyed by word —
    (word, w, wc, b, bc, gw, gwc, gb, gbc), i.e. both embedding
    matrices, biases, and the AdaGrad accumulators — the thing a
    training CONTINUATION needs that the summed export vectors cannot
    reconstruct. It is an ordinary DataFrame: persist it as parquet to
    continue in another session, or pass it straight to
    ``Glove.fit(docs, initial_state=...)``. Warm-started training on
    the same corpus is bit-for-bit the uninterrupted run (pinned in
    tests/test_glove.py) because the fit is deterministic in (X,
    state)."""

    vectors: DataFrame  # (word: string, id: long, vector: array<double>)
    losses: list[float] = field(default_factory=list)
    state: DataFrame | None = None

    def find_synonyms(self, word: str, k: int = 10) -> DataFrame:
        """H7: top-k nearest words by cosine (join-free: broadcast the
        query vector, scan the model once, TakeOrderedAndProject)."""
        q = self.vectors.where(F.col("word") == word).select(
            F.col("vector").alias("q")
        )
        norm = lambda c: F.sqrt(dot(c, c))  # noqa: E731
        return (
            self.vectors.where(F.col("word") != word)
            .crossJoin(F.broadcast(q))
            .select(
                "word",
                (
                    dot(F.col("vector"), F.col("q"))
                    / (norm(F.col("vector")) * norm(F.col("q")))
                ).alias("cos"),
            )
            .orderBy(F.col("cos").desc(), "word")
            .limit(k)
        )

    def transform(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        broadcast_vectors: bool = True,
    ) -> DataFrame:
        """H9: mean-pooled document embeddings — (id, vector) with the
        document's vector = mean of its in-vocabulary word vectors
        (Word2VecModel.transform shape).

        ``broadcast_vectors`` (default) is right whenever the model fits
        an executor (≤ ~1M words × 50-d); set False for giant models and
        the word join becomes a shuffle join AQE can still optimize."""
        v = self.vectors.select("word", "vector")
        if broadcast_vectors:
            v = F.broadcast(v)
        words = docs.select(
            F.col(id_col), F.explode(tokens_expr(docs, text_col)).alias("word")
        )
        dims = words.join(v, "word").select(
            id_col, F.posexplode("vector").alias("dim", "val")
        )
        pooled = dims.groupBy(id_col, "dim").agg(F.avg("val").alias("v"))
        # Re-pack the per-dim means into an ordered array (one shuffle,
        # array length = dim — bounded regardless of corpus size).
        packed = pooled.groupBy(id_col).agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "v"))),
                lambda s: s["v"],
            ).alias("vector")
        )
        # Word2VecModel.transform parity: a document with zero
        # in-vocabulary tokens still gets a row — the zero vector —
        # instead of silently dropping out of the inner join. The model
        # dimension comes from a 1-row broadcast aggregate (stays lazy).
        dim_df = self.vectors.agg(F.max(F.size("vector")).alias("_dim"))
        return (
            docs.select(id_col).distinct()
            .join(packed, id_col, "left")
            .crossJoin(F.broadcast(dim_df))
            .select(
                id_col,
                F.coalesce(
                    "vector", F.array_repeat(F.lit(0.0), F.col("_dim"))
                ).alias("vector"),
            )
        )

    def save(self, path: str) -> None:
        """A3: persist the model as parquet (word, id, vector)."""
        self.vectors.write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GloveModel":
        """Reload a saved model; losses are training-time-only state."""
        return cls(vectors=spark.read.parquet(path))

    def analogy(self, a: str, b: str, c: str, k: int = 5) -> DataFrame:
        """H8: vec(a) − vec(b) + vec(c) → k nearest (excluding inputs)."""
        va = self.vectors.where(F.col("word") == a).select(F.col("vector").alias("va"))
        vb = self.vectors.where(F.col("word") == b).select(F.col("vector").alias("vb"))
        vc = self.vectors.where(F.col("word") == c).select(F.col("vector").alias("vc"))
        q = (
            va.crossJoin(vb)
            .crossJoin(vc)
            .select(
                F.zip_with(
                    F.zip_with("va", "vb", lambda x, y: x - y),
                    "vc",
                    lambda x, y: x + y,
                ).alias("q")
            )
        )
        norm = lambda col: F.sqrt(dot(col, col))  # noqa: E731
        return (
            self.vectors.where(~F.col("word").isin(a, b, c))
            .crossJoin(F.broadcast(q))
            .select(
                "word",
                (
                    dot(F.col("vector"), F.col("q"))
                    / (norm(F.col("vector")) * norm(F.col("q")))
                ).alias("cos"),
            )
            .orderBy(F.col("cos").desc(), "word")
            .limit(k)
        )


def _vocabulary_table(
    docs: DataFrame, cfg: GloveConfig, text_col: str = "text"
) -> pa.Table:
    """The vocabulary as one driver Arrow table (word, freq, id): the
    top max_vocab words by (freq desc, word) collected in that order,
    id = row position — the ids of a row_number over the same order."""
    counts = (
        docs.select(F.explode(tokens_expr(docs, text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= cfg.min_count)
    )
    ranked = (
        counts.orderBy(F.col("freq").desc(), F.col("word"))
        .limit(cfg.max_vocab)
        .toArrow()
    )
    return ranked.append_column(
        "id", pa.array(np.arange(ranked.num_rows), pa.int64())
    )


def build_vocabulary(
    docs: DataFrame, cfg: GloveConfig, text_col: str = "text"
) -> DataFrame:
    """D8: word → (freq, 0-based id), frequency-ranked (paper §4.2),
    truncated to max_vocab. Collected once (≤ max_vocab rows) and
    handed back as an Arrow-backed frame, so reading it never re-runs
    the corpus scan."""
    return docs.sparkSession.createDataFrame(_vocabulary_table(docs, cfg, text_col))


def build_cooccurrence(
    docs: DataFrame, vocab: DataFrame, cfg: GloveConfig, text_col: str = "text"
) -> DataFrame:
    """H3+D9 on vocab ids, symmetrized to the ordered-pair matrix the
    reference trains on: for i≠j both (i,j,x) and (j,i,x); the diagonal
    carries 2x (each unordered self-co-occurrence event updates the
    same cell twice in the reference's scan). Precomputes ln(x) and
    f(x) once — they are loop invariants."""
    x_words = cooccurrence_matrix(docs, window=cfg.window, text_col=text_col)
    vi = vocab.select(F.col("word").alias("wi"), F.col("id").alias("i"))
    vj = vocab.select(F.col("word").alias("wj"), F.col("id").alias("j"))
    x_ids = (
        x_words.join(F.broadcast(vi), "wi")
        .join(F.broadcast(vj), "wj")
        .select("i", "j", "x")
    )
    # One explode mirrors each canonical cell into (i,j,x) and (j,i,x),
    # or (i,i,2x) on the diagonal, so the pair explode, partial
    # aggregate and pair shuffle above run once per fit (a union of
    # mirrored branches re-runs them once per branch).
    i, j, x = F.col("i"), F.col("j"), F.col("x")
    sym = x_ids.select(
        F.inline(
            F.when(i == j, F.array(F.struct(i, j, (x * 2).alias("x")))).otherwise(
                F.array(F.struct(i, j, x), F.struct(j.alias("i"), i.alias("j"), x))
            )
        )
    )
    fx = F.pow(F.least(F.col("x") / cfg.x_max, F.lit(1.0)), F.lit(cfg.alpha))
    return sym.select("i", "j", "x", F.log("x").alias("logx"), fx.alias("fx"))


def _matrix(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """A non-empty list<double> column with no nulls and every row of
    one length, as a (rows, dim) float64 array over its flat values."""
    return pc.list_flatten(col).to_numpy().reshape(len(col), -1)


def _lists(m: np.ndarray, loss_row: bool = False) -> pa.Array:
    """The rows of an (n, dim) array as a list<double> column, followed
    by one null row when ``loss_row`` is set."""
    n, dim = m.shape
    offsets = np.arange(n + 1, dtype=np.int32) * dim
    if not loss_row:
        return pa.ListArray.from_arrays(offsets, m.ravel())
    return pa.ListArray.from_arrays(
        np.append(offsets, offsets[-1]), m.ravel(), mask=pa.array(np.arange(n + 1) == n)
    )


def _init_vectors(ids: np.ndarray, cfg: GloveConfig) -> tuple[np.ndarray, np.ndarray]:
    """Initial (W, W̃) rows of word ``ids``: uniform in ±0.5/dim
    (reference C init) from a per-id seeded RNG, so the values do not
    depend on how ids are batched. ``cfg.init == "grid"`` swaps the RNG
    for a closed-form integer-mod formula (values in ±0.10, exactly
    representable) that a SQL oracle can reproduce term-for-term."""
    dim = cfg.dim
    if cfg.init == "grid":
        k = np.arange(dim, dtype=np.int64) + ids[:, None] * dim
        return (k * 37 % 21 - 10) / 100.0, (k * 53 % 21 - 10) / 100.0
    rngs = (np.random.default_rng([cfg.seed, int(i)]) for i in ids)
    vecs = (np.stack([r.random((2, dim)) for r in rngs]) - 0.5) / dim
    return vecs[:, 0], vecs[:, 1]


def _init_params(vocab: DataFrame, cfg: GloveConfig) -> DataFrame:
    """Distributed parameter init (:func:`_init_vectors`, biases 0,
    AdaGrad accumulators 1.0) for the params table above the
    broadcast cap."""
    dim = cfg.dim

    def init(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            w, wc = _init_vectors(rb.column("id").to_numpy(), cfg)
            zeros, ones, acc = np.zeros(n), np.ones(n), _lists(np.ones((n, dim)))
            yield pa.RecordBatch.from_arrays(
                [rb.column("id"), _lists(w), _lists(wc), zeros, zeros, acc, acc, ones, ones],
                schema=_PARAMS_ARROW,
            )

    return vocab.select("id").mapInArrow(init, schema=_PARAMS_SCHEMA)


def _grad_batch(
    i: np.ndarray, j: np.ndarray, w: np.ndarray, wc: np.ndarray,
    b: np.ndarray, bc: np.ndarray, logx: np.ndarray, fx: np.ndarray,
) -> pa.RecordBatch:
    """Per-pair gradients of one batch of X cells, whose row k pairs
    center i[k] (vector w[k], bias b[k]) with context j[k] (wc[k],
    bc[k]), partially aggregated per id within the batch. Emits (id,
    side 0=center/1=context, Σdvec, Σdbias) plus one loss row (id=-1)
    carrying Σ ½·f(x)·diff²."""
    diff = (w * wc).sum(axis=1) + b + bc - logx
    fd = fx * diff
    loss = 0.5 * float((fd * diff).sum())
    ids, sides, dvecs, dbias, dn = [], [], [], [], []
    for side, key, grads in ((0, i, fd[:, None] * wc), (1, j, fd[:, None] * w)):
        uniq, inv = np.unique(key, return_inverse=True)
        acc = np.zeros((len(uniq), grads.shape[1]))
        np.add.at(acc, inv, grads)
        bacc = np.zeros(len(uniq))
        np.add.at(bacc, inv, fd)
        nacc = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(nacc, inv, 1)
        ids.append(uniq)
        sides.append(np.full(len(uniq), side, dtype=np.int32))
        dvecs.append(acc)
        dbias.append(bacc)
        dn.append(nacc)
    return pa.RecordBatch.from_arrays(
        [
            np.concatenate([*ids, [-1]]),
            np.concatenate([*sides, np.array([-1], dtype=np.int32)]),
            _lists(np.concatenate(dvecs), loss_row=True),
            np.concatenate([*dbias, [loss]]),
            np.concatenate([*dn, [0]]),
        ],
        names=["id", "side", "dvec", "dbias", "dn"],
    )


def _grad_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Gradient kernel over X ⋈ params rows (i, j, logx, fx, w, b, wc,
    bc): the shuffle-join layout, used above the broadcast cap."""
    for rb in batches:
        if rb.num_rows == 0:
            continue
        col = lambda c: rb.column(c).to_numpy()  # noqa: E731
        yield _grad_batch(
            col("i"), col("j"), _matrix(rb.column("w")), _matrix(rb.column("wc")),
            col("b"), col("bc"), col("logx"), col("fx"),
        )


def _bincount_rows(inv: np.ndarray, m: np.ndarray, n: int) -> np.ndarray:
    """Row sums of ``m`` grouped by ``inv`` into an (n, dim) array: one
    ``np.bincount`` over flattened (group, column) bins, which adds each
    bin's terms in row order, as ``np.add.at`` does."""
    dim = m.shape[1]
    bins = (inv[:, None] * dim + np.arange(dim)).ravel()
    return np.bincount(bins, m.ravel(), n * dim).reshape(n, dim)


def _make_symmetric_grad_kernel(params: Broadcast):
    """Gradient kernel over X's own (i, j, logx, fx) rows for the
    broadcast regime; ``params`` is a broadcast of dense (W, WC, b, bc)
    arrays indexed by word id.

    X is symmetric and partitioned by i, so each id's context cells
    (k, i) are the mirrors of its own centre cells (i, k), with the
    same logx and fx. One task therefore sums the COMPLETE gradients of
    every id i it holds: the centre side over diff_ik (W_i·W̃_k + b_i +
    b̃_k − ln x), the context side over diff_ki (W_k·W̃_i + b_k + b̃_i −
    ln x), and the pair count, which is the same for both sides. It
    emits (id, Σdw, Σdwc, Σdb, Σdbc, n) once per held id plus one loss
    row (id = −1, Σ ½·f(x)·diff_ik² in ``db``). Sums accumulate in
    dense (V, dim) arrays; each batch adds its per-id bincount."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        W, WC, b, bc = params.value
        DW, DWC = np.zeros(W.shape), np.zeros(W.shape)
        DB, DBC = np.zeros(len(b)), np.zeros(len(b))
        DN = np.zeros(len(b), dtype=np.int64)
        loss = 0.0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            i = rb.column("i").to_numpy()
            j = rb.column("j").to_numpy()
            logx, fx = rb.column("logx").to_numpy(), rb.column("fx").to_numpy()
            diff = (W[i] * WC[j]).sum(axis=1) + b[i] + bc[j] - logx
            fd = fx * diff
            fdm = fx * ((W[j] * WC[i]).sum(axis=1) + b[j] + bc[i] - logx)
            loss += 0.5 * float((fd * diff).sum())
            uniq, inv = np.unique(i, return_inverse=True)
            n = len(uniq)
            DW[uniq] += _bincount_rows(inv, fd[:, None] * WC[j], n)
            DWC[uniq] += _bincount_rows(inv, fdm[:, None] * W[j], n)
            DB[uniq] += np.bincount(inv, fd, n)
            DBC[uniq] += np.bincount(inv, fdm, n)
            DN[uniq] += np.bincount(inv, minlength=n)
        ids = np.flatnonzero(DN)
        yield pa.RecordBatch.from_arrays(
            [
                np.append(ids, -1),
                _lists(DW[ids], loss_row=True),
                _lists(DWC[ids], loss_row=True),
                np.append(DB[ids], loss),
                np.append(DBC[ids], 0.0),
                np.append(DN[ids], 0),
            ],
            names=["id", "dw", "dwc", "db", "dbc", "dn"],
        )

    return kernel


def _adagrad(
    V: np.ndarray, GV: np.ndarray, bias: np.ndarray, gbias: np.ndarray,
    rows, dv: np.ndarray, db: np.ndarray, eta: float,
) -> None:
    """One AdaGrad step, in place, on ``rows`` of one side's vectors
    ``V`` and biases ``bias`` with MEAN gradients (dv, db); the step
    reads the pre-update accumulators (GV, gbias), which then grow by
    the squared gradient."""
    V[rows] = V[rows] - eta * dv / np.sqrt(GV[rows])
    GV[rows] = GV[rows] + dv * dv
    bias[rows] = bias[rows] - eta * db / np.sqrt(gbias[rows])
    gbias[rows] = gbias[rows] + db * db


def _make_step_kernel(eta: float):
    """Fused merge + AdaGrad step for one id-block (cogrouped
    applyInArrow: partial gradients on the left, current params on the
    right, both grouped by pmod(id, blocks)).

    One Python pass replaces the former three-stage tail (merge kernel →
    pivot hash-agg → join + update kernel): the per-iteration plan loses
    a shuffle, a vocab-sized join, and one Arrow round-trip. Few LARGE
    groups by construction (never per-word groups — SURVEY §4.3.4).

    Mean (not summed) gradients per word: batch AdaGrad with per-word
    sums scales steps by pair-degree, which diverges on high-degree
    words; the mean keeps step magnitudes degree-independent, matching
    per-sample dynamics in expectation.

    The block's loss partials (id = −1 rows from the gradient kernel)
    are re-emitted as an id = −1 params row carrying the partial loss in
    ``b`` — the driver reads Σb over id = −1 from the checkpointed
    result instead of running a second aggregation job over gradients.
    """

    def step(grads: pa.Table, params: pa.Table) -> pa.Table:
        side = grads.column("side").to_numpy()
        dbias = grads.column("dbias").to_numpy()
        out = []
        if (side == -1).any():
            out.append(
                pa.table(
                    {
                        "id": [-1], "w": [None], "wc": [None],
                        "b": [float(dbias[side == -1].sum())], "bc": [0.0],
                        "gw": [None], "gwc": [None], "gb": [0.0], "gbc": [0.0],
                    },
                    schema=_PARAMS_ARROW,
                )
            )
        if params.num_rows:
            pid = params.column("id").to_numpy()
            W = _matrix(params.column("w")).copy()
            WC = _matrix(params.column("wc")).copy()
            GW = _matrix(params.column("gw")).copy()
            GWC = _matrix(params.column("gwc")).copy()
            b = params.column("b").to_numpy().copy()
            bc = params.column("bc").to_numpy().copy()
            gb = params.column("gb").to_numpy().copy()
            gbc = params.column("gbc").to_numpy().copy()

            real = side >= 0
            if real.any():
                n, dim = W.shape
                # position of each partial-gradient row in the params
                # block (every grad id is in this block by construction
                # — same pmod key on both cogroup sides)
                order = np.argsort(pid)
                gid = grads.column("id").to_numpy()[real]
                pos = order[np.searchsorted(pid, gid, sorter=order)]
                side = side[real]
                dvec = _matrix(grads.column("dvec").filter(pa.array(real)))
                dbias = dbias[real]
                dn = grads.column("dn").to_numpy()[real].astype(np.float64)
                for s, V, GV, bias, gbias in (
                    (0, W, GW, b, gb),
                    (1, WC, GWC, bc, gbc),
                ):
                    DV = np.zeros((n, dim))
                    DB = np.zeros(n)
                    DN = np.zeros(n)
                    sel = side == s
                    np.add.at(DV, pos[sel], dvec[sel])
                    np.add.at(DB, pos[sel], dbias[sel])
                    np.add.at(DN, pos[sel], dn[sel])
                    m = DN > 0
                    if m.any():
                        dnm = DN[m]
                        _adagrad(
                            V, GV, bias, gbias, m,
                            DV[m] / dnm[:, None], DB[m] / dnm, eta,
                        )
            out.append(
                pa.Table.from_arrays(
                    [
                        pid, _lists(W), _lists(WC), b, bc,
                        _lists(GW), _lists(GWC), gb, gbc,
                    ],
                    schema=_PARAMS_ARROW,
                )
            )
        return pa.concat_tables(out) if out else _PARAMS_ARROW.empty_table()

    return step


def _release_checkpoint(df: DataFrame) -> None:
    """Drop a ``localCheckpoint`` frame's cache AND its checkpointed
    RDD; ``DataFrame.unpersist`` alone leaves the RDD's blocks
    persisted for the life of the session."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class Glove:
    """Estimator with the reference's API shape: Glove(**cfg).fit(docs)."""

    def __init__(self, **kwargs):
        self.config = GloveConfig(**kwargs)

    def fit(
        self,
        docs: DataFrame,
        text_col: str = "text",
        initial_state: DataFrame | None = None,
    ) -> GloveModel:
        """text_col: raw string column (tokenized internally) or a
        pre-tokenized array<string> column — both corpus shapes work.

        ``initial_state`` (r13): a prior model's full optimizer state
        (``GloveModel.state``) to WARM-START from — the growing-corpus
        workflow. Words present in the state inherit their embeddings,
        biases, AND AdaGrad accumulators (matched BY WORD, so the new
        corpus's id assignment is free to differ); new vocabulary gets
        the fresh init. On an unchanged corpus, continuation is
        exactly the uninterrupted run."""
        cfg = self.config
        vocab_t = _vocabulary_table(docs, cfg, text_col)
        vocab_n = vocab_t.num_rows
        if vocab_n == 0:
            raise ValueError(
                f"empty vocabulary: no word reaches min_count={cfg.min_count}"
            )
        vocab = docs.sparkSession.createDataFrame(vocab_t)
        # Where the params live. When the whole parameter table fits
        # comfortably in an executor (≤ ~16 MB of vector doubles per
        # side), the driver holds it as dense arrays and broadcasts it
        # to a kernel over X's cached (i, j, logx, fx) partitions, with
        # no join and no shuffle. A 400k-word × 300-d vocab exceeds the
        # cap; then X ⋈ params is a join whose X side is pre-partitioned
        # by i (SURVEY.md §4.3.3).
        broadcast_params = vocab_n * cfg.dim <= cfg.broadcast_max_weights
        # Effective parallelism scales with the co-occurrence matrix:
        # |X| ≤ vocab², and each block is a Python-worker round-trip per
        # iteration, so tiny corpora collapse to few partitions (fixed
        # overhead, not data, dominates them) while large vocabs keep
        # the full cfg.blocks fan-out.
        blocks = max(1, min(cfg.blocks, vocab_n * vocab_n // 100_000 + 1))

        x = (
            build_cooccurrence(docs, vocab, cfg, text_col)
            .repartition(blocks, "i")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            if x.count() == 0:  # materializes X once; reused every iteration
                raise ValueError(
                    "empty co-occurrence matrix: no two vocabulary words "
                    f"co-occur within window={cfg.window}"
                )
            if broadcast_params:
                return _fit_dense(x, vocab, vocab_t, cfg, initial_state)
            return _fit_joined(x, vocab, cfg, blocks, initial_state)
        finally:
            x.unpersist()


def _fit_dense(
    x: DataFrame, vocab: DataFrame, vocab_t: pa.Table, cfg: GloveConfig,
    initial_state: DataFrame | None,
) -> GloveModel:
    """The fit under the broadcast cap: params and AdaGrad accumulators
    are dense driver arrays indexed by word id, and an iteration is one
    Spark job, the symmetric kernel's collect."""
    spark = x.sparkSession
    n = vocab_t.num_rows
    W, WC = (np.ascontiguousarray(m) for m in _init_vectors(np.arange(n), cfg))
    b, bc, gb, gbc = np.zeros(n), np.zeros(n), np.ones(n), np.ones(n)
    GW, GWC = np.ones(W.shape), np.ones(W.shape)
    params = dict(w=W, wc=WC, b=b, bc=bc, gw=GW, gwc=GWC, gb=gb, gbc=gbc)
    if initial_state is not None:
        # carried words keep their embeddings AND accumulators verbatim;
        # the rest keep the fresh init (per-id seeded, so the same bits)
        carried = vocab.join(initial_state, "word").select("id", *params).toArrow()
        if carried.num_rows:
            rows = carried.column("id").to_numpy()
            for name, arr in params.items():
                col = carried.column(name)
                arr[rows] = _matrix(col) if arr.ndim == 2 else col.to_numpy()

    own = x.select("i", "j", "logx", "fx")
    sc = spark.sparkContext
    losses: list[float] = []
    for _ in range(cfg.iterations):
        bcast = sc.broadcast((W, WC, b, bc))
        try:
            grads = own.mapInArrow(
                _make_symmetric_grad_kernel(bcast), schema=_SYM_GRADS_SCHEMA
            ).toArrow()
        finally:
            bcast.destroy()
        ids = grads.column("id").to_numpy()
        real = ids >= 0
        losses.append(float(grads.column("db").to_numpy()[~real].sum()))
        # X is partitioned by i, so each id arrives in exactly one row
        grads = grads.filter(pa.array(real))
        ids = ids[real]
        dn = grads.column("dn").to_numpy().astype(np.float64)
        for V, GV, bias, gbias, dv, db in (
            (W, GW, b, gb, "dw", "db"),
            (WC, GWC, bc, gbc, "dwc", "dbc"),
        ):
            _adagrad(
                V, GV, bias, gbias, ids,
                _matrix(grads.column(dv)) / dn[:, None],
                grads.column(db).to_numpy() / dn, cfg.eta,
            )

    words = vocab_t.column("word")
    vectors = pa.table(
        {"word": words, "id": vocab_t.column("id"), "vector": _lists(W + WC)}
    )
    state = pa.table(
        {
            "word": words,
            **{k: _lists(v) if v.ndim == 2 else v for k, v in params.items()},
        }
    )
    return GloveModel(
        vectors=spark.createDataFrame(vectors),
        losses=losses,
        state=spark.createDataFrame(state),
    )


def _fit_joined(
    x: DataFrame, vocab: DataFrame, cfg: GloveConfig, blocks: int,
    initial_state: DataFrame | None,
) -> GloveModel:
    """The fit above the broadcast cap: params are a checkpointed
    DataFrame joined onto X and stepped by the cogrouped kernel."""
    if initial_state is None:
        params = _init_params(vocab, cfg).localCheckpoint(eager=True)
    else:
        carried = vocab.join(initial_state, "word").select("id", *_STATE_COLS)
        missing = vocab.join(initial_state.select("word"), "word", "left_anti")
        # fresh init ONLY for words the state lacks — the carried
        # rows keep their embeddings AND accumulators verbatim
        params = (
            _init_params(missing, cfg)
            .unionByName(carried)
            .localCheckpoint(eager=True)
        )
    losses: list[float] = []
    step_kernel = _make_step_kernel(cfg.eta)
    blk = F.pmod(F.col("id"), F.lit(blocks)).alias("blk")
    held = params  # the checkpointed frame ``params`` reads

    for _ in range(cfg.iterations):
        center = params.select(F.col("id").alias("i"), "w", "b")
        context = params.select(F.col("id").alias("j"), "wc", "bc")
        joined = x.join(center, "i").join(context, "j")
        grads = joined.mapInArrow(_grad_kernel, schema=_GRADS_SCHEMA)
        # Partial gradients cogroup with the current params by
        # id-block, and the fused kernel merges + steps in a single
        # Python pass. Every id = −1 loss row lands in block
        # pmod(−1, blocks), whose kernel call re-emits their sum as
        # stepped's one id = −1 row.
        # localCheckpoint truncates LINEAGE but INHERITS the source
        # plan's Catalyst size estimate — and the default stats
        # visitor multiplies child sizes, so a plan referencing
        # params several times (center, context, cogroup) would
        # multiply the estimate's BigInt *bit length* every
        # iteration until query planning spends whole seconds
        # multiplying million-digit integers (measured: 4× slowdown
        # per iteration from ~it 12). The persist + the loss job
        # below materialize the iteration's result as an
        # InMemoryRelation whose stats are the ACTUAL cached bytes,
        # resetting the estimate chain.
        stepped = (
            grads.groupBy(blk)
            .cogroup(params.groupBy(blk))
            .applyInArrow(step_kernel, schema=_PARAMS_SCHEMA)
            # lazy checkpoint: the loss job below is this iteration's
            # first action and materializes the checkpoint AND the
            # persist (eager=True would run the kernel as a job of its
            # own first). Lineage is still cut and the stats chain
            # still resets at the same point.
            .localCheckpoint(eager=False)  # cut lineage — O(3^T) plan growth otherwise
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        loss = (
            stepped.where(F.col("id") == -1)
            .agg(F.sum("b").alias("loss"))
            .collect()[0]["loss"]
        )
        losses.append(float(loss))
        params = stepped.where(F.col("id") >= 0)
        # stepped is materialized and cut from its lineage, so the
        # previous iteration's checkpoint is no longer read
        _release_checkpoint(held)
        held = stepped

    vectors = params.join(vocab, "id").select(
        "word",
        "id",
        F.zip_with("w", "wc", lambda a, b: a + b).alias("vector"),
    )
    state = params.join(vocab, "id").select("word", *_STATE_COLS)
    return GloveModel(vectors=vectors, losses=losses, state=state)
