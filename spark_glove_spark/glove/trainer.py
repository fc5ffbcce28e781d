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
iteration (designed for |X| ≈ 10⁹ rows at 100 TB corpus scale):

  X ⋈ params(center i) ⋈ params(context j)      two key shuffles; X is
                                                pre-partitioned by i and
                                                persisted so one side
                                                never re-shuffles
  → mapInArrow gradient kernel                  vectors read as flat Arrow
                                                value buffers reshaped to
                                                (rows, dim); numpy; partial
                                                per-id aggregation INSIDE
                                                each batch so the emitted
                                                stream is ~unique ids per
                                                batch, not |X|
  → cogroup(grads, params) by id % blocks       ONE fused kernel merges
    .applyInArrow fused merge+AdaGrad step      partials and steps params
                                                (few LARGE groups, never
                                                per-word — SURVEY §4.3.4);
                                                replaces the former merge →
                                                pivot → join → update tail:
                                                one shuffle and one Arrow
                                                round-trip less per iter
  → params.localCheckpoint + persist            lineage truncation —
                                                MANDATORY for iterative
                                                plans (SURVEY §4.3.2); the
                                                previous iteration's
                                                checkpoint is released

Everything driver-side is orchestration only; no .collect() of
parameter data (only the scalar loss).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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
    # Max parameter-table size (words × dim) that still broadcasts in
    # the per-iteration X ⋈ params join; above it the join falls back
    # to the pre-partitioned shuffle path (SURVEY §4.3.3). Results are
    # identical either way (tested); only the physical plan changes.
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


def _grad_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per-pair gradients, partially aggregated per id within each
    Arrow batch. Emits (id, side 0=center/1=context, Σdvec, Σdbias)
    plus one loss row (id=-1) per batch carrying Σ ½·f(x)·diff²."""
    for rb in batches:
        if rb.num_rows == 0:
            continue
        w = _matrix(rb.column("w"))
        wc = _matrix(rb.column("wc"))
        diff = (
            (w * wc).sum(axis=1)
            + rb.column("b").to_numpy()
            + rb.column("bc").to_numpy()
            - rb.column("logx").to_numpy()
        )
        fd = rb.column("fx").to_numpy() * diff
        loss = 0.5 * float((fd * diff).sum())
        ids, sides, dvecs, dbias, dn = [], [], [], [], []
        for side, col, grads in ((0, "i", fd[:, None] * wc), (1, "j", fd[:, None] * w)):
            uniq, inv = np.unique(rb.column(col).to_numpy(), return_inverse=True)
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
        yield pa.RecordBatch.from_arrays(
            [
                np.concatenate([*ids, [-1]]),
                np.concatenate([*sides, np.array([-1], dtype=np.int32)]),
                _lists(np.concatenate(dvecs), loss_row=True),
                np.concatenate([*dbias, [loss]]),
                np.concatenate([*dn, [0]]),
            ],
            names=["id", "side", "dvec", "dbias", "dn"],
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
        # Params side of the per-iteration join: broadcast when the
        # whole parameter table fits comfortably in an executor
        # (≤ ~16 MB of vector doubles per side) — then the X ⋈ params
        # join is shuffle-FREE and the gradient pass runs in place over
        # X's cached partitions. A 400k-word × 300-d vocab exceeds the
        # cap and falls back to the pre-partitioned shuffle join
        # (SURVEY.md §4.3.3).
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
        x.count()  # materialize once; reused every iteration

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

        for _ in range(cfg.iterations):
            center = params.select(
                F.col("id").alias("i"), "w", "b"
            )
            if broadcast_params:
                center = F.broadcast(center)
            context = params.select(
                F.col("id").alias("j"), "wc", "bc"
            )
            if broadcast_params:
                context = F.broadcast(context)
            joined = x.join(center, "i").join(context, "j")
            grads = joined.mapInArrow(_grad_kernel, schema=_GRADS_SCHEMA)
            # One job per iteration: partial gradients cogroup with the
            # current params by id-block, and the fused kernel merges +
            # steps in a single Python pass. The id = −1 rows carry the
            # per-block loss partials; reading them is a trivial scan of
            # the checkpointed result, not a second gradient pass.
            # localCheckpoint truncates LINEAGE but INHERITS the source
            # plan's Catalyst size estimate — and the default stats
            # visitor multiplies child sizes, so a plan referencing
            # params three times (center, context, cogroup) would triple
            # the estimate's BigInt *bit length* every iteration until
            # the driver spends whole seconds multiplying million-digit
            # integers (measured: 4× slowdown per iteration from ~it 12).
            # The persist + the loss collect below materialize the
            # iteration's result as an InMemoryRelation whose stats are
            # the ACTUAL cached bytes, resetting the estimate chain.
            stepped = (
                grads.groupBy(blk)
                .cogroup(params.groupBy(blk))
                .applyInArrow(step_kernel, schema=_PARAMS_SCHEMA)
                # lazy checkpoint: the loss collect below is this
                # iteration's first action and materializes the
                # checkpoint AND the persist in ONE job — the former
                # eager=True ran the kernel as its own job and then
                # paid a second scheduling round for the collect
                # (r14 optimization round, guide §1.2). Lineage is
                # still cut and the stats chain still resets at the
                # same point.
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
        state = params.join(vocab, "id").select(
            "word", "w", "wc", "b", "bc", "gw", "gwc", "gb", "gbc"
        )
        x.unpersist()
        vocab.unpersist()
        return GloveModel(vectors=vectors, losses=losses, state=state)
