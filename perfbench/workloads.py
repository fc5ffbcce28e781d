"""The benchmark's workloads.

A workload makes its inputs from the seed and works out the expected
results before the clock starts (``prepare``), sets the engine up
(``setup``, repeated once per set-up round), runs one op at a time
(``op``) and checks each op's output (``check``, which raises
``CheckFailed``). The engine sees only the generated files.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np

import generate


class CheckFailed(Exception):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


def _oracle_rows(name: str, in_dir: str) -> list[tuple]:
    """The registry's DuckDB oracle for query ``name`` over the generated
    ``documents.parquet``, as sorted rows."""
    import duckdb

    from spark_glove_spark.registry import oracle_sql

    con = duckdb.connect()
    try:
        path = os.path.join(in_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return sorted(tuple(r) for r in con.execute(oracle_sql()[name]).fetchall())
    finally:
        con.close()


class GloveTrain:
    """``Glove(dim=50, window=10, min_count=5, seed=42, iterations=2)
    .fit(docs)`` plus ``vectors.count()`` on a Zipf corpus."""

    name = "glove_train"
    WARMUP_OPS = 1  # the most a run can afford: the first op takes ~14 s
    N_DOCS = 400
    VOCAB = 400
    ITERATIONS = 2
    CFG = dict(dim=50, window=10, min_count=5, seed=42)

    def prepare(self, seed: int, in_dir: str) -> dict:
        generate.write_corpus(in_dir, seed, self.N_DOCS, self.VOCAB)
        texts = generate.corpus_texts(seed, self.N_DOCS, self.VOCAB)
        freq = Counter(t for text in texts for t in text.split(" "))
        self.in_dir = in_dir
        self.vocab_n = sum(1 for c in freq.values() if c >= self.CFG["min_count"])
        self.n_tokens = sum(freq.values())
        self.loss_final = None
        return {"docs": self.N_DOCS, "vocab": self.VOCAB, "tokens": self.n_tokens,
                "vocab_min_count": self.vocab_n, "iterations": self.ITERATIONS}

    def setup(self, spark, tracer) -> None:
        from pyspark import StorageLevel

        from spark_glove_spark.sources import table

        with tracer.span("sources.read"):
            self.docs = (
                table(spark, self.in_dir, "documents")
                .select("doc_id", "text")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            self.docs.count()

    def work(self) -> float:
        return self.n_tokens * self.ITERATIONS

    def _fit(self, iterations: int):
        from spark_glove_spark.glove import Glove

        model = Glove(**self.CFG, iterations=iterations).fit(self.docs)
        return model.losses, model.vectors.count()

    def op(self, spark, tracer):
        with tracer.span("glove.fit"):
            return self._fit(self.ITERATIONS)

    def check(self, result) -> None:
        losses, n_vectors = result
        _require(len(losses) == self.ITERATIONS, f"{len(losses)} losses")
        _require(all(math.isfinite(x) for x in losses), f"non-finite loss {losses}")
        _require(
            all(b <= a for a, b in zip(losses, losses[1:])), f"loss rose: {losses}"
        )
        _require(n_vectors == self.vocab_n, f"{n_vectors} vectors != vocab {self.vocab_n}")
        if self.loss_final is None:
            self.loss_final = losses[-1]
        _require(
            losses[-1] == self.loss_final,
            f"loss_final {losses[-1]!r} differs from first op's {self.loss_final!r}",
        )

    def quality(self) -> dict:
        return {"loss_final": self.loss_final}

    def layer_probes(self, spark, tracer, op_ms: float) -> dict:
        """Calls into single layers, after the timed ops: vocabulary and
        co-occurrence builds, a fit with zero iterations (so
        ``glove.iter_ms = (fit(k) - fit(0)) / k``), the curate funnel's
        prefix-filter join on this corpus, and one streaming curate run
        for the txlog and streaming layers."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_glove_spark.functions.text import shingles, tokenize
        from spark_glove_spark.glove.trainer import (
            GloveConfig,
            build_cooccurrence,
            build_vocabulary,
        )
        from spark_glove_spark.operators.dedup import prefix_filter_pairs
        from spark_glove_spark.operators.text_analysis import STOPWORDS

        cfg = GloveConfig(**self.CFG)
        with tracer.span("glove.vocab") as sv:
            vocab = build_vocabulary(self.docs, cfg).persist()
            n_vocab = vocab.count()
        with tracer.span("glove.cooc") as sc:
            x_cells = build_cooccurrence(self.docs, vocab, cfg).count()
        vocab.unpersist()
        _require(n_vocab == self.vocab_n, f"vocabulary {n_vocab} != {self.vocab_n}")
        out = {"glove.vocab_ms": sv.ms, "glove.cooc_ms": sc.ms, "glove.x_cells": x_cells}
        with tracer.span("glove.fit0") as s0:
            self._fit(0)
        out["glove.iter_ms"] = (op_ms - s0.ms) / self.ITERATIONS

        toks = tokenize(F.col("text"))
        n = F.size(toks)
        stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("double") / n
        first = Window.partitionBy("text").orderBy("doc_id")
        sets = (
            self.docs.select("doc_id", "text", toks.alias("toks"))
            .where(n.between(20, 80) & (stop < 0.3))
            .withColumn("rn", F.row_number().over(first))
            .where("rn = 1")
            .select("doc_id", F.array_distinct(shingles(F.col("toks"), 3)).alias("shingles"))
            .where(F.size("shingles") > 0)
            .persist()
        )
        sets.count()
        with tracer.span("dedup.prefix_filter") as sp:
            out["dedup.pairs_kept"] = prefix_filter_pairs(sets, 0.4).count()
        out["dedup.prefix_filter_ms"] = sp.ms
        sets.unpersist()
        out.update(self._stream_probe(spark, tracer))
        return out

    def _stream_probe(self, spark, tracer) -> dict:
        import spark_glove_spark.streaming.queries as sq
        from spark_glove_spark.registry import queries
        from spark_glove_spark.sources import txlog
        from tracing import patched

        tables: set[str] = set()
        commits = [0]

        def on_append(span, args, result):
            tables.add(args[1])
            commits[0] += bool(result[1])

        def on_merge(span, args, result):
            tables.add(args[1])
            commits[0] += bool(result["applied"])

        run_orig = sq.run_stream_foreach_batch

        def run_traced(sdf, fn, *a, **k):
            return run_orig(sdf, tracer.wrap("streaming.epoch", fn), *a, **k)

        tmp = os.environ["TMPDIR"]
        leak0 = _tree_bytes(tmp)
        with patched(txlog, "append_idempotent",
                     tracer.wrap("txlog.append", txlog.append_idempotent, on_append)), \
             patched(txlog, "merge", tracer.wrap("txlog.merge", txlog.merge, on_merge)), \
             patched(sq, "run_stream_foreach_batch", run_traced):
            with tracer.span("stream.curate") as s:
                rows = queries()["pipeline_streaming_curate"](spark, self.in_dir).collect()
        expected = _oracle_rows("pipeline_streaming_curate", self.in_dir)
        _require(
            sorted(tuple(r) for r in rows) == expected,
            "pipeline_streaming_curate differs from its DuckDB oracle",
        )
        inner = [x for x in tracer.spans if x.start >= s.start and x.end <= s.end]

        def stat(name):
            ms = [x.ms for x in inner if x.name == name]
            return len(ms), (float(np.median(ms)) if ms else 0.0)

        n_app, app_ms = stat("txlog.append")
        n_mrg, mrg_ms = stat("txlog.merge")
        n_ep, ep_ms = stat("streaming.epoch")
        return {
            "txlog.append_calls": n_app, "txlog.append_ms": app_ms,
            "txlog.merge_calls": n_mrg, "txlog.merge_ms": mrg_ms,
            "txlog.commits": commits[0],
            "txlog.bytes_written": sum(_tree_bytes(t) for t in tables),
            "txlog.tmp_leak_mb": (_tree_bytes(tmp) - leak0) / 2**20,
            "streaming.epochs": n_ep, "streaming.epoch_ms": ep_ms,
        }


class AnnSearch:
    """``ivf_build_index`` in set-up, then each op is
    ``ivf_probe_index(k=10)`` over a probe batch of corpus rows."""

    name = "ann_search"
    WARMUP_OPS = 2
    N = 2_000
    DIM = 64
    CLUSTERS = 32
    SPREAD = 1.5
    PROBE_EVERY = 10  # probes are the rows with vec_id % 10 == 0
    K = 10
    # Probing the two nearest of eight lists finds 0.90-0.95 of the true
    # neighbours of these loose clusters (measured over 20 seeds); a
    # change that loses recall falls below this floor.
    RECALL_FLOOR = 0.85

    def prepare(self, seed: int, in_dir: str) -> dict:
        generate.write_vectors(in_dir, seed, self.N, self.DIM, self.CLUSTERS, self.SPREAD)
        v, _ = generate.vectors(seed, self.N, self.DIM, self.CLUSTERS, self.SPREAD)
        self.in_dir = in_dir
        self.probe_ids = np.arange(0, self.N, self.PROBE_EVERY)
        # the probe's own rule: raw dot product in double, rounded to 6
        # places, ties by vec_id, the probe's own row excluded
        scores = np.round(v.astype(np.float64)[self.probe_ids] @ v.astype(np.float64).T, 6)
        scores[np.arange(len(self.probe_ids)), self.probe_ids] = -np.inf
        order = np.lexsort((np.broadcast_to(np.arange(self.N), scores.shape), -scores), axis=1)
        self.exact = {int(p): set(order[i, : self.K].tolist()) for i, p in enumerate(self.probe_ids)}
        self.recall = None
        return {"vectors": self.N, "dim": self.DIM, "clusters": self.CLUSTERS,
                "spread": self.SPREAD, "probes": len(self.probe_ids), "k": self.K}

    def setup(self, spark, tracer) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from spark_glove_spark.operators.ann import ivf_build_index
        from spark_glove_spark.sources import table

        with tracer.span("sources.read"):
            e = table(spark, self.in_dir, "embeddings").persist(StorageLevel.MEMORY_AND_DISK)
            e.count()
        self.index = os.path.join(os.environ["TMPDIR"], "ivf_index")
        with tracer.span("ann.build"):
            ivf_build_index(e, self.index)
        self.probes = (
            e.where(F.col("vec_id") % self.PROBE_EVERY == 0)
            .select(F.col("vec_id").alias("probe_id"), "embedding")
            .persist()
        )
        self.probes.count()

    def work(self) -> float:
        return float(len(self.probe_ids))

    def op(self, spark, tracer):
        from spark_glove_spark.operators.ann import ivf_probe_index

        with tracer.span("ann.probe"):
            return ivf_probe_index(spark, self.index, self.probes, k=self.K).collect()

    def check(self, rows) -> None:
        got: dict[int, list[tuple[float, int]]] = {}
        for r in rows:
            _require(r["vec_id"] != r["probe_id"], f"probe {r['probe_id']} found itself")
            got.setdefault(r["probe_id"], []).append((r["cos"], r["vec_id"]))
        _require(set(got) == set(self.exact), f"{len(got)} of {len(self.exact)} probes answered")
        hits = 0
        for p, lst in got.items():
            _require(len(lst) == self.K, f"probe {p}: {len(lst)} rows")
            hits += len({v for _, v in lst} & self.exact[p])
        recall = hits / (self.K * len(self.exact))
        _require(recall >= self.RECALL_FLOOR, f"recall@10 {recall:.4f} < {self.RECALL_FLOOR}")
        if self.recall is None:
            self.recall = recall
        _require(recall == self.recall, f"recall@10 {recall} differs from first op's {self.recall}")

    def quality(self) -> dict:
        return {"recall_at_10": self.recall}


WORKLOADS = {w.name: w for w in (GloveTrain, AnnSearch)}
