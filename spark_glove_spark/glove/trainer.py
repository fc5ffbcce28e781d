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
into (i,j,x) + (j,i,x), or (i,i,2x) on the diagonal. Execution shape per
iteration (designed for |X| ≈ 10⁹ rows at 100 TB corpus scale), when
the parameter table fits the broadcast cap (V·d ≤ broadcast_max_weights):

  mapInArrow gradient kernel over X's           X is pre-partitioned by i
  own (i, j, logx, fx) rows                     and persisted; the kernel
                                                reads dense (W, W̃, b, b̃)
                                                numpy arrays from ONE
                                                Spark broadcast, indexed
                                                by id; partial per-id
                                                aggregation INSIDE each
                                                batch so the emitted
                                                stream is ~unique ids per
                                                batch, not |X|
  → cogroup(grads, params) by id % blocks       ONE fused kernel merges
    .applyInArrow fused merge+AdaGrad step      partials and steps params
                                                (few LARGE groups, never
                                                per-word — SURVEY §4.3.4);
                                                the loss partials all land
                                                in block pmod(−1, blocks),
                                                re-emitted as one id = −1
                                                row carrying the loss
  → params.localCheckpoint + persist            lineage truncation —
                                                MANDATORY for iterative
                                                plans (SURVEY §4.3.2)
  → ONE toArrow() collect of                    materializes the checkpoint
    (id, w, wc, b, bc)                          and gives the loss (the
                                                id = −1 row) plus the next
                                                iteration's broadcast; the
                                                superseded broadcast and
                                                checkpoint are released

Three Spark jobs per iteration: the two map stages feeding the cogroup
and the collect. Above the cap the params are never collected: the
kernel reads them from X ⋈ params(center i) ⋈ params(context j), joins
whose X side never re-shuffles, and the loss is a Σb over the id = −1
row of the checkpoint.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spark_glove_spark.functions.text import tokens_expr
from spark_glove_spark.functions.vector import dot
from spark_glove_spark.operators.cooccurrence import cooccurrence_matrix

_GRADS_SCHEMA = (
    "id long, side int, dvec array<double>, dbias double, dn long"
)
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
    # Max parameter-table size (words × dim) that the fit collects
    # each iteration and broadcasts to the gradient kernel as dense
    # arrays (no join); above it the kernel reads params through
    # X ⋈ params joins on X's pre-partitioned side (SURVEY §4.3.3).
    # Results are identical either way (tested); only the physical
    # plan changes.
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


def build_vocabulary(
    docs: DataFrame, cfg: GloveConfig, text_col: str = "text"
) -> DataFrame:
    """D8: word → (freq, 0-based id), frequency-ranked (paper §4.2),
    truncated to max_vocab. Global row_number over a vocab-sized table
    — single partition by design; the table is ≤ max_vocab rows."""
    counts = (
        docs.select(F.explode(tokens_expr(docs, text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= cfg.min_count)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("word"))
    return counts.select(
        "word",
        "freq",
        (F.row_number().over(w) - 1).cast("long").alias("id"),
    ).where(F.col("id") < cfg.max_vocab)


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


def _init_params(vocab: DataFrame, cfg: GloveConfig) -> DataFrame:
    """Distributed parameter init: uniform in ±0.5/dim (reference C
    init), per-id seeded RNG so results are independent of
    partitioning; AdaGrad accumulators start at 1.0. ``cfg.init ==
    "grid"`` swaps the RNG for a closed-form integer-mod formula
    (values in ±0.10, exactly representable) that a SQL oracle can
    reproduce term-for-term."""
    dim, seed, mode = cfg.dim, cfg.seed, cfg.init

    def init(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column("id").to_numpy()
            n = len(ids)
            if n == 0:
                continue
            if mode == "grid":
                k = np.arange(dim, dtype=np.int64) + ids[:, None] * dim
                w = (k * 37 % 21 - 10) / 100.0
                wc = (k * 53 % 21 - 10) / 100.0
            else:
                rngs = (np.random.default_rng([seed, int(i)]) for i in ids)
                vecs = (np.stack([r.random((2, dim)) for r in rngs]) - 0.5) / dim
                w, wc = vecs[:, 0], vecs[:, 1]
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


def _make_broadcast_grad_kernel(params: Broadcast):
    """Gradient kernel over X's own (i, j, logx, fx) rows: the vectors
    and biases come from ``params``, a broadcast of dense (W, WC, b,
    bc) arrays indexed by word id."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        W, WC, b, bc = params.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            i = rb.column("i").to_numpy()
            j = rb.column("j").to_numpy()
            yield _grad_batch(
                i, j, W[i], WC[j], b[i], bc[j],
                rb.column("logx").to_numpy(), rb.column("fx").to_numpy(),
            )

    return kernel


def _broadcast_params(sc: SparkContext, rows: pa.Table) -> Broadcast:
    """One broadcast of the dense (W, WC, b, bc) arrays held by the
    collected params rows (id, w, wc, b, bc); the id = −1 loss row is
    skipped. Vocabulary ids are dense 0..V−1 (also after ``max_vocab``
    truncation and for a warm start, whose params are keyed by the new
    vocabulary), so row k of the id-sorted rows is word k."""
    rows = rows.filter(pc.greater_equal(rows.column("id"), 0)).sort_by("id")
    return sc.broadcast(
        (
            _matrix(rows.column("w")), _matrix(rows.column("wc")),
            rows.column("b").to_numpy(), rows.column("bc").to_numpy(),
        )
    )


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
                        dv = DV[m] / dnm[:, None]
                        db = DB[m] / dnm
                        V[m] = V[m] - eta * dv / np.sqrt(GV[m])
                        GV[m] = GV[m] + dv * dv
                        bias[m] = bias[m] - eta * db / np.sqrt(gbias[m])
                        gbias[m] = gbias[m] + db * db
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
        vocab = build_vocabulary(docs, cfg, text_col)
        vocab.persist(StorageLevel.MEMORY_AND_DISK)
        vocab_n = vocab.count()
        if vocab_n == 0:
            vocab.unpersist()
            raise ValueError(
                f"empty vocabulary: no word reaches min_count={cfg.min_count}"
            )
        # Where the gradient kernel reads params from. When the whole
        # parameter table fits comfortably in an executor (≤ ~16 MB of
        # vector doubles per side), the fit collects it once per
        # iteration anyway (that collect also reads the loss) and
        # broadcasts it as dense arrays, so the kernel runs over X's
        # cached (i, j, logx, fx) partitions with no join at all. A
        # 400k-word × 300-d vocab exceeds the cap; then X ⋈ params is a
        # join whose X side is pre-partitioned by i (SURVEY.md §4.3.3).
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
        if x.count() == 0:  # materializes X once; reused every iteration
            x.unpersist()
            vocab.unpersist()
            raise ValueError(
                "empty co-occurrence matrix: no two vocabulary words "
                f"co-occur within window={cfg.window}"
            )

        if initial_state is None:
            params = _init_params(vocab, cfg).localCheckpoint(eager=True)
        else:
            cols = ["w", "wc", "b", "bc", "gw", "gwc", "gb", "gbc"]
            carried = vocab.join(initial_state, "word").select("id", *cols)
            missing = vocab.join(
                initial_state.select("word"), "word", "left_anti"
            )
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
        sc = docs.sparkSession.sparkContext
        collected = ("id", "w", "wc", "b", "bc")
        bcast = (
            _broadcast_params(sc, params.select(*collected).toArrow())
            if broadcast_params and cfg.iterations
            else None
        )

        try:
            for it in range(cfg.iterations):
                if broadcast_params:
                    grads = x.select("i", "j", "logx", "fx").mapInArrow(
                        _make_broadcast_grad_kernel(bcast), schema=_GRADS_SCHEMA
                    )
                else:
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
                # per iteration from ~it 12). The persist + the collect
                # below materialize the iteration's result as an
                # InMemoryRelation whose stats are the ACTUAL cached bytes,
                # resetting the estimate chain.
                stepped = (
                    grads.groupBy(blk)
                    .cogroup(params.groupBy(blk))
                    .applyInArrow(step_kernel, schema=_PARAMS_SCHEMA)
                    # lazy checkpoint: the collect below is this
                    # iteration's first action and materializes the
                    # checkpoint AND the persist in ONE job (eager=True
                    # would run the kernel as a job of its own before
                    # the collect). Lineage is still cut and the stats
                    # chain still resets at the same point.
                    .localCheckpoint(eager=False)  # cut lineage — O(3^T) plan growth otherwise
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                if broadcast_params:
                    # one collect gives the loss and the next broadcast; the
                    # kernel that read the old one has run for the last time
                    rows = stepped.select(*collected).toArrow()
                    ids = rows.column("id").to_numpy()
                    (loss,) = rows.column("b").to_numpy()[ids == -1]
                    more = it + 1 < cfg.iterations
                    old, bcast = bcast, _broadcast_params(sc, rows) if more else None
                    old.destroy()
                else:
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
        finally:
            if bcast is not None:  # a fit that raised mid-loop
                bcast.destroy()

        vectors = params.join(vocab, "id").select(
            "word",
            "id",
            F.zip_with("w", "wc", lambda a, b: a + b).alias("vector"),
        )
        state = params.join(vocab, "id").select(
            "word", "w", "wc", "b", "bc", "gw", "gwc", "gb", "gbc"
        )
        x.unpersist()
        vocab.unpersist()
        return GloveModel(vectors=vectors, losses=losses, state=state)
